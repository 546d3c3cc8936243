#!/usr/bin/env python3
"""Re-make the committed evidence in perfbench/evidence/ (slow: minutes).

    python3 perfbench/evidence.py warmup   # pass-by-pass times after the warm-up
    python3 perfbench/evidence.py sets     # two interleaved sets of ten seeds per workload
    python3 perfbench/evidence.py repeat   # two traced runs at one seed, per-layer diff

Run from the root of a checkout, on an otherwise idle host.
"""
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
OUT = os.path.join(HERE, "evidence")
WORKLOADS = ["queries", "etl"]
SEEDS = range(1, 11)
WARMUP_SECONDS = 120  # about six timed passes of the queries workload
COUNTERS = ["jobs", "stages", "tasks"]


def run(workload, seed, trace=0, seconds=10):
    cmd = ["python3", os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.time()
    p = subprocess.run(cmd, capture_output=True, text=True, check=True)
    res = json.loads(p.stdout.strip().splitlines()[-1])
    res["wall_s"] = time.time() - t0
    res["failed_ops"] = [l.split("FAILED ", 1)[1] for l in p.stderr.splitlines()
                         if "FAILED " in l]
    record = json.load(open(os.path.join(HERE, ".work", "run.json")))
    print(workload, seed, trace, round(res["wall_s"], 1),
          {k: round(v["value"], 4) for k, v in res["metrics"].items()
           if trace == 0}, flush=True)
    return res, record


def spread(xs):
    q = statistics.quantiles(xs, n=4)
    return (q[2] - q[0]) / statistics.median(xs)


def warmup():
    _, rec = run("queries", 1, seconds=WARMUP_SECONDS)
    passes = [p["wall_s"] for p in rec["passes"]]
    return {"note": f"one queries run with --seconds {WARMUP_SECONDS}: the timed "
                    "passes after the warm-up/check pass; etl has no warm-up "
                    "and is timed cold (see README)",
            "setup_s": rec["setup_s"], "check_pass_s": rec["warmup_s"][0],
            "passes_s": passes,
            "first_vs_median_of_rest": passes[0] / statistics.median(passes[1:]) - 1}


def sets():
    """Two sets of ten runs (seeds 1-10) of the same code, interleaved
    run by run so host drift reaches both alike: each set's quartile
    spread, and the second set's median against the first's, next to
    the bound in BENCHMARK.json."""
    bounds = {m["name"]: m["bound"] for m in
              json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))
              ["end_to_end"]}
    ev = {}
    for w in WORKLOADS:
        runs = {"a": [], "b": []}
        for seed in SEEDS:
            for s in ("a", "b"):
                runs[s].append(run(w, seed)[0])
        names = list(runs["a"][0]["metrics"])
        vals = {s: {k: [r["metrics"][k]["value"] for r in rs] for k in names}
                for s, rs in runs.items()}
        med = {s: {k: statistics.median(v[k]) for k in names} for s, v in vals.items()}
        ev[w] = {
            "bound": {k: bounds[k] for k in names},
            "spread": {s: {k: spread(v[k]) for k in names} for s, v in vals.items()},
            "median": med,
            "b_vs_a": {k: med["b"][k] / med["a"][k] - 1 for k in names},
            "failed": {s: [r["failed"] for r in rs] for s, rs in runs.items()},
            "runs": vals,
        }
    return ev


def span_diff(a, b):
    """Spans of two traced runs whose job, stage or task counts differ.
    The runs make the same calls, so their spans pair up by id."""
    assert [(s["name"], s["parent"]) for s in a] == [(s["name"], s["parent"]) for s in b]
    names = {s["id"]: s["name"] for s in a}

    def path(s):
        p, parent = [s["name"]], s["parent"]
        while parent >= 0:
            p.append(names[parent])
            parent = a[parent]["parent"]
        return " < ".join(p)

    return [{"span": path(x), **{c: [x[c], y[c]] for c in COUNTERS}}
            for x, y in zip(a, b) if any(x[c] != y[c] for c in COUNTERS)]


def repeat():
    ev = {}
    for w in WORKLOADS:
        a, ra = run(w, 1, trace=1)
        spans_a = json.load(open(ra["spans"]))
        b, rb = run(w, 1, trace=1)
        spans_b = json.load(open(rb["spans"]))
        ev[w] = {k: [a["metrics"][k]["value"], b["metrics"][k]["value"]]
                 for k in a["metrics"]}
        ev[w + ".differ"] = sorted(k for k, (x, y) in ev[w].items() if x != y)
        ev[w + ".span_diff"] = span_diff(spans_a, spans_b)
        ev[w + ".failed_ops"] = a["failed_ops"]
    return ev


if __name__ == "__main__":
    what = sys.argv[1]
    ev = {"warmup": warmup, "sets": sets, "repeat": repeat}[what]()
    os.makedirs(OUT, exist_ok=True)
    name = {"warmup": "warmup", "sets": "sets", "repeat": "trace_repeat"}[what]
    with open(os.path.join(OUT, f"{name}.json"), "w") as f:
        json.dump(ev, f, indent=1)
        f.write("\n")
