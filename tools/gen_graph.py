#!/usr/bin/env python3
"""Deterministic large-V graph fixtures for the PageRank/LabelPropagation
regime crossover rehearsal (VERDICT r11 ask 2).

Every driver fixture graph has V <= 500k, so the large-V regime — the one
a 100 TB link graph actually runs (rank vector too big to broadcast;
edges pre-partitioned by the join key, O(V) rank side reshuffles per
iteration) — was only ever exercised by the forced-equivalence spec,
never perf-measured on data that genuinely needs it. These fixtures put
real data on both sides of the 500k-node broadcast crossover that
graft.operators.Propagate gates on:

  fixtures/graph/edges_500k.parquet   V = 500_000,  E ~ 5M  (at the edge)
  fixtures/graph/edges_2m.parquet     V = 2_000_000, E ~ 20M (past it)

Construction (pure hash arithmetic -> bit-deterministic across runs, no
RNG state): node i emits 10 directed edges; endpoint j of edge (i,j) is
  dst = floor(V * u^2),  u = hash64(i*10+j) scaled to [0,1)
The u^2 warp gives a mildly skewed in-degree (low ids collect ~sqrt-law
more in-edges — a few hub pages, a long tail), self-loops dropped,
duplicates kept (PageRank dedups internally; LPA treats them as vote
weights). All V nodes appear as src by construction, so |V| is exact and
the operator's broadcast-vs-large-V decision sees the intended count.

Usage: python3 tools/gen_graph.py [outdir]   (default fixtures/graph)
"""
import duckdb, os, sys

OUT = sys.argv[1] if len(sys.argv) > 1 else "/root/repo/fixtures/graph"
DEG = 10
os.makedirs(OUT, exist_ok=True)
con = duckdb.connect()
con.execute("PRAGMA threads=16")

for name, v in (("edges_500k", 500_000), ("edges_2m", 2_000_000)):
    sql = f"""
      WITH e AS (
        SELECT CAST(range // {DEG} AS BIGINT) AS src,
               CAST(floor({v} * pow((hash(range) % 1000000007) / 1000000007.0, 2.0)) AS BIGINT) AS dst
        FROM range({v * DEG})
      )
      SELECT src, dst FROM e WHERE src != dst
    """
    con.execute(f"COPY ({sql}) TO '{OUT}/{name}.parquet' "
                f"(FORMAT PARQUET, COMPRESSION SNAPPY)")
    n, nv, nd = con.sql(
        f"SELECT count(*), count(DISTINCT src), count(DISTINCT dst) "
        f"FROM '{OUT}/{name}.parquet'").fetchone()
    mx = con.sql(f"SELECT max(greatest(src,dst)) FROM '{OUT}/{name}.parquet'").fetchone()[0]
    assert nv == v and mx < v, (name, nv, mx)
    print(f"{name}: E={n} src-nodes={nv} distinct-dst={nd} max-id={mx}")
print("graph fixtures OK")
