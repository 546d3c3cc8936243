#!/usr/bin/env python3
"""graft benchmark: one command per run.

    python3 perfbench/run.py --workload queries|etl \\
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the program and
the harness from source (sbt, into the checkout's target dirs); later
runs reuse that build while the sources are unchanged. The queries read
the program's sf0.01 fixture (a copy in perfbench/fixture); for etl the
seed makes the drops (gen.py, cached under perfbench/.inputs). One JVM
then sets up, warms and times the workload at local[4] from one client thread
(perfbench/src, Main.scala), and this script checks the outputs and
prints the result as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics; with --trace 1
they are the per-layer metrics, and the run's spans are kept in
perfbench/.work/run.spans.json. Failed operations are listed by name on
stderr. See perfbench/README.md.
"""
import argparse
import hashlib
import importlib.util
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
INPUTS = os.path.join(HERE, ".inputs")
WORK = os.path.join(HERE, ".work")
CPUS = 4
FIXTURE = os.path.join(HERE, "fixture")  # the program's sf0.01 test fixture
ETL_HISTORY_DAYS = 8
ETL_BATCHES = 1
JVM_SLACK_S = 160    # a run's JVM may take --seconds plus this
BUILD_TIMEOUT_S = 840

sys.path.insert(0, HERE)
import gen  # noqa: E402


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ── build ────────────────────────────────────────────────────────────────

def _sources():
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
                 os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        for d, dirs, files in os.walk(base):
            dirs[:] = [x for x in dirs if x != "target"]
            for f in files:
                yield os.path.join(d, f)
    yield os.path.join(ROOT, "build.sbt")
    yield os.path.join(HERE, "build.sbt")


def build():
    """Compile program + harness; return the runtime classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise SystemExit(f"perfbench: no {need} at {ROOT}: run from a checkout of the repo")
    h = hashlib.sha256()
    for p in sorted(_sources()):
        st = os.stat(p)
        h.update(f"{p}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    stamp = h.hexdigest()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and \
            open(stamp_file).read() == stamp:
        return open(cp_file).read()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    env.setdefault("SBT_OPTS", " ".join(
        ["-Dsbt.offline=true", "-Xmx2g"] +
        ([f"-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
         if os.path.exists(repos) else [])))
    log("building program and harness (sbt)")
    out = _call(["sbt", "--batch", "-Dsbt.log.noformat=true",
                 "export Runtime/fullClasspath"], HERE, env, BUILD_TIMEOUT_S,
                os.path.join(BUILD, "sbt.log"))
    cps = [l for l in out.splitlines() if l.startswith("/") and ".jar" in l]
    if not cps:
        raise SystemExit("perfbench: build failed, see perfbench/.build/sbt.log")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1]


def _call(cmd, cwd, env, timeout, logfile):
    """Run cmd in its own process group; kill the group on timeout or
    interrupt, and wait for it. Returns stdout; stderr goes to logfile."""
    with open(logfile, "w") as err:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                             stderr=err, text=True, start_new_session=True)
        try:
            out, _ = p.communicate(timeout=timeout)
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise
    if p.returncode != 0:
        raise SystemExit(f"perfbench: {cmd[0]} exited {p.returncode}, see {logfile}")
    return out


# ── inputs ───────────────────────────────────────────────────────────────

def inputs(seed, workload):
    """Generate (or reuse) the drops; returns the drops dir.

    The fixture is the same for every seed: for the queries workload the
    seed only permutes the query order, and for etl it picks the drops'
    window, updates and rejects. Data-dependent iteration counts in the
    graph and dedup operators would otherwise make seeds differ in work."""
    if not os.path.exists(os.path.join(FIXTURE, "orders.parquet")):
        raise SystemExit(f"perfbench: no fixture at {FIXTURE}")
    code = open(gen.__file__, "rb").read()
    dkey = hashlib.sha256(code + f"{ETL_HISTORY_DAYS}:{ETL_BATCHES}".encode())
    drops = os.path.join(INPUTS, f"drops-{dkey.hexdigest()[:12]}-{seed}")
    if workload == "etl":
        if not os.path.exists(os.path.join(drops, "done")):
            shutil.rmtree(drops, ignore_errors=True)
            gen.drops(FIXTURE, drops, seed, ETL_HISTORY_DAYS, ETL_BATCHES)
            open(os.path.join(drops, "done"), "w").close()
        exp = json.load(open(os.path.join(drops, "expected.json")))
        log(f"seed {seed}: etl window {exp['history']['dates'][0]} + "
            f"{len(exp['batches'])} drops; expected history "
            f"{ {k: exp['history'][k] for k in ('products', 'orders', 'order_items')} }")
    else:
        log(f"seed {seed}: permuted query order over the sf0.01 fixture")
    return drops


# ── one run ──────────────────────────────────────────────────────────────

def jvm(cp, args, drops):
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    out = os.path.join(WORK, "run.json")
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
    cmd = (["java", "-Xms3g", "-Xmx3g", f"-XX:ActiveProcessorCount={CPUS}",
            "-XX:-UsePerfData"] +
           [x for p in opens for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
           [f"-Djava.io.tmpdir={WORK}/tmp", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--fixture", FIXTURE, "--drops", drops, "--work", WORK, "--out", out])
    _call(cmd, ROOT, dict(os.environ), args.seconds + JVM_SLACK_S,
          os.path.join(WORK, "jvm.log"))
    return json.load(open(out))


# ── checks ───────────────────────────────────────────────────────────────

def check_queries(rec):
    """Oracle compare of the check pass, with tools/local_verify.py's
    canonical compare. Returns the names of wrong results."""
    spec = importlib.util.spec_from_file_location(
        "local_verify", os.path.join(ROOT, "tools", "local_verify.py"))
    lv = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(lv)
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    for t in lv.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{FIXTURE}/{t}.parquet'")
    oracle = json.load(open(os.path.join(rec["check_dir"], "oracle_sql.json")))
    threw = {f["op"][len("check:"):] for f in rec["failures"]
             if f["op"].startswith("check:")}
    wrong = []
    for name in rec["check_queries"]:
        if name in threw:
            continue
        try:
            got = pd.read_parquet(os.path.join(rec["check_dir"], name))
            if name in oracle:
                verdict = lv.compare(name, got, con.execute(oracle[name]).df())
            else:  # no oracle: a rows check, as local_verify makes
                verdict = "OK" if len(got) > 0 else "FAIL no rows"
        except Exception as e:  # unreadable output or oracle error
            verdict = f"FAIL {type(e).__name__}: {e}"
        if verdict != "OK":
            wrong.append((f"check:{name}", verdict[:300]))
    return wrong


def check_etl(rec, drops):
    """Silver counts of every pipeline call against the generator's."""
    exp = json.load(open(os.path.join(drops, "expected.json")))
    want = {"history": exp["history"]}
    want.update({b["name"]: b for b in exp["batches"]})
    wrong, n = [], 0
    for r in rec["results"]:
        w = want[r["name"]]
        for k in ("products", "orders", "order_items", "recovered"):
            n += 1
            if r[k] is not None and r[k] != w[k]:
                wrong.append((f"check:{r['name']} {k} counts",
                              f"got {r[k]}, generator expects {w[k]}"))
    return wrong, n


# ── metrics ──────────────────────────────────────────────────────────────

def client_latencies(rec, workload):
    """Latency (ms) of every untraced client operation of the timed
    phase: each query (build + noop write), or each serving read."""
    if workload == "etl":
        return [s[2] for s in rec["serve"] if not s[3]]
    return [q[1] * 1e3 for p in rec["passes"] if not p["traced"] for q in p["queries"]]


def end_to_end(rec, workload):
    if workload == "etl":
        work = rec["load_s"] + sum(b["wall_s"] for b in rec["batches"])
    else:
        work = statistics.median(p["wall_s"] for p in rec["passes"] if not p["traced"])
    return {
        "setup_s": (rec["setup_s"], "s"),
        "pass_s": (work, "s"),
        # geometric mean: operation latencies span two orders of
        # magnitude in a few clusters, where a median of 15-74 samples
        # jumps between clusters from run to run
        "latency_ms": (statistics.geometric_mean(client_latencies(rec, workload)), "ms"),
    }


def main():
    # a terminated run still kills and waits for its JVM (see _call)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["queries", "etl"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    cp = build()
    drops = inputs(args.seed, args.workload)
    rec = jvm(cp, args, drops)

    failures = [(f["op"], f["error"]) for f in rec["failures"]]
    wrong = [f for f in failures if f[1] == "wrong result"]
    attempted = rec["attempted"]
    if args.workload == "etl":
        bad, n = check_etl(rec, drops)
        attempted += n
    else:
        bad = check_queries(rec)
    failures += bad
    wrong += bad
    for op, err in failures:
        log(f"FAILED {op}: {err}")

    if args.trace:
        import layers
        metrics = layers.per_layer(rec, args.workload,
                                   client_latencies(rec, args.workload))
        selfs = layers.self_times(rec)
        with open(os.path.join(WORK, "run.self_s.json"), "w") as f:
            json.dump(selfs, f, indent=1)
        log("self time by span (s): " + ", ".join(
            f"{k}={v:.2f}" for k, v in list(selfs.items())[:12]))
    else:
        metrics = end_to_end(rec, args.workload)
    # `correct`: every output that was checked is right; operations that
    # threw are failures too, but produced no output to be wrong
    print(json.dumps({
        "correct": not wrong,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
