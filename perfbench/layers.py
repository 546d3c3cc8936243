"""Per-layer metrics of a traced run, from its spans and run record.

Every metric is reported for every workload; a layer the workload never
calls reads 0 (the "predicted flat" cases). Counters are attributed to
the span that was open when Spark ran the work; a layer's figure sums
its spans including their children. Per-unit figures are per timed
traced pass (queries) or per traced daily drop (etl).
"""
import json
import statistics
from collections import defaultdict

COUNTERS = ["jobs", "stages", "tasks", "task_ns", "gc_ns", "shuffle_bytes"]
NS = 1e9


class Tree:
    def __init__(self, spans):
        self.spans = {s["id"]: s for s in spans}
        self.kids = defaultdict(list)
        for s in spans:
            self.kids[s["parent"]].append(s["id"])
        self.incl = {}
        for s in sorted(spans, key=lambda s: -s["id"]):  # children first
            c = {k: s[k] for k in COUNTERS}
            c["straggler_max"] = s["straggler_max"]
            for k in self.kids[s["id"]]:
                for n in COUNTERS:
                    c[n] += self.incl[k][n]
                c["straggler_max"] = max(c["straggler_max"], self.incl[k]["straggler_max"])
            self.incl[s["id"]] = c

    def named(self, name):
        return [s for s in self.spans.values() if s["name"] == name]

    @staticmethod
    def dur(s):
        return (s["end_ns"] - s["start_ns"]) / NS


def overhead(rec, queries):
    """Traced ÷ untraced time, minus 1: the traced pass against the
    untraced passes around it, or (etl) the geometric mean over each
    serving read of its traced ÷ untraced round."""
    if queries:
        traced = [p["wall_s"] for p in rec["passes"] if p["traced"]]
        untraced = [p["wall_s"] for p in rec["passes"] if not p["traced"]]
        return statistics.mean(traced) / statistics.mean(untraced) - 1
    pairs = defaultdict(dict)
    for after, kind, ms, traced in rec["serve"]:
        pairs[(after, kind)][traced] = ms
    ratios = [p[True] / p[False] for p in pairs.values() if len(p) == 2]
    return statistics.geometric_mean(ratios) - 1


def self_times(rec):
    """Seconds of self time (span minus its children) per span name."""
    out = defaultdict(float)
    for s in json.load(open(rec["spans"])):
        out[s["name"]] += s["self_ns"] / NS
    return dict(sorted(out.items(), key=lambda kv: -kv[1]))


def per_layer(rec, workload, latencies):
    tree = Tree(json.load(open(rec["spans"])))
    m = {"client.latency_p50_ms": (statistics.median(latencies), "ms"),
         "client.latency_p90_ms": (
             statistics.quantiles(latencies, n=10, method="inclusive")[8], "ms")}
    q = workload != "etl"

    if q:
        units = tree.named("pass")
    else:
        units = tree.named("etl.batch")
    n = max(len(units), 1)

    def per_unit(name):
        return sum(tree.incl[u["id"]][name] for u in units) / n

    def layer_s(name):
        return sum(Tree.dur(s) for s in tree.named(name)) / (n if q else 1)

    m["query.build_s"] = (layer_s("query.build") if q else 0.0, "s")
    m["query.exec_s"] = (layer_s("query.exec") if q else 0.0, "s")
    m["Tables.load_ms"] = (sum(rec.get("load_warm_ms", {}).values()), "ms")
    m["Tables.load_cold_ms"] = (sum(rec.get("load_cold_ms", {}).values()), "ms")

    wall = sum(Tree.dur(u) for u in units) / n
    m["spark.jobs"] = (per_unit("jobs"), "count")
    m["spark.stages"] = (per_unit("stages"), "count")
    m["spark.tasks"] = (per_unit("tasks"), "count")
    m["spark.task_s"] = (per_unit("task_ns") / NS, "s")
    m["spark.busy_frac"] = (per_unit("task_ns") / NS / (wall * 4) if wall else 0.0, "fraction")
    m["spark.shuffle_mb"] = (per_unit("shuffle_bytes") / 2**20, "MB")
    m["spark.gc_s"] = (per_unit("gc_ns") / NS, "s")
    m["spark.straggler_max"] = (max([tree.incl[u["id"]]["straggler_max"] for u in units],
                                    default=0.0), "ratio")

    plans = rec.get("plans", {})
    m["plan.exchanges"] = (sum(p["exchanges"] for p in plans.values()), "count")
    m["plan.broadcasts"] = (sum(p["broadcasts"] for p in plans.values()), "count")

    def family(name, counter=None):
        qs = [s for nm in rec.get("families", {}).get(name, [])
              for s in tree.named(f"query:{nm}")]
        if counter:
            return sum(tree.incl[s["id"]][counter] for s in qs) / n
        return sum(Tree.dur(s) for s in qs) / n

    m["operators.propagate_s"] = (family("operators.propagate"), "s")
    m["operators.propagate_jobs"] = (family("operators.propagate", "jobs"), "count")
    m["text.prefix_join_s"] = (family("text.prefix_join"), "s")
    m["text.bpe_s"] = (family("text.bpe"), "s")
    m["text.bpe_jobs"] = (family("text.bpe", "jobs"), "count")
    m["text.minhash_s"] = (family("text.minhash"), "s")
    m["similarity.ann_s"] = (family("similarity.ann"), "s")
    m["similarity.dimreduce_s"] = (family("similarity.dimreduce"), "s")
    m["Checks.check_jobs"] = (family("Checks.check", "jobs"), "count")

    if q:
        probes = [plans[nm]["mv_served"] for nm in rec["families"]["plans.mv"]
                  if nm in plans]
    else:
        probes = [p[2] for p in rec["mv_probes"]]
    m["plans.mv_hit_frac"] = (sum(probes) / len(probes) if probes else 0.0, "fraction")

    for metric, span in [("etl.ingest_s", "etl.ingest"), ("etl.replay_s", "etl.replay"),
                         ("gold.build_s", "gold.build"), ("plans.mv_build_s", "plans.mv_build"),
                         ("plans.mv_refresh_s", "plans.mv_refresh"),
                         ("tables.maintain_s", "tables.maintain"),
                         ("tables.layout_s", "tables.layout")]:
        m[metric] = (0.0 if q else sum(Tree.dur(s) for s in tree.named(span)), "s")

    etl = not q
    m["etl.load_s"] = (rec["load_s"] if etl else 0.0, "s")
    m["etl.batch_s"] = (statistics.median(b["wall_s"] for b in rec["batches"])
                        if etl else 0.0, "s")
    m["tables.fs_ops"] = (rec.get("fs_ops", 0), "count")
    m["tables.files_written"] = (rec.get("files_written", 0), "count")
    m["tables.bytes_written_mb"] = (rec.get("bytes_written", 0) / 2**20, "MB")
    m["tables.files_live"] = (rec.get("live_files", 0), "count")
    m["tables.write_amp"] = (rec["bytes_written"] / rec["input_bytes"] if etl else 0.0, "B/B")
    m["tables.space_amp"] = (rec["disk_bytes"] / rec["live_bytes"] if etl else 0.0, "B/B")
    skips = rec.get("skip", [])
    m["tables.skip_frac"] = (statistics.mean([s[2] for s in skips]) if skips else 0.0,
                             "fraction")
    serve = rec.get("serve", [])
    for metric, kind in [("tables.read_pruned_ms", "tables.read_pruned"),
                         ("tables.read_bloom_ms", "tables.read_bloom")]:
        xs = [s[2] for s in serve if s[1] == kind]
        m[metric] = (statistics.median(xs) if xs else 0.0, "ms")
    for metric, i in [("etl.rows_upserted", None), ("etl.rows_rejected", 1)]:
        tot = 0
        for r in rec.get("results", []):
            for t in ("products", "orders", "order_items"):
                if r[t]:
                    tot += r[t][0] if i is None else r[t][1]
        m[metric] = (tot, "count")
    m["etl.rows_recovered"] = (sum(r["recovered"] or 0 for r in rec.get("results", [])),
                               "count")
    m["trace.overhead_frac"] = (overhead(rec, q), "fraction")
    return m
