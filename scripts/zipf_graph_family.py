#!/usr/bin/env python3
"""Honest-Zipf graph-FAMILY probe: the shared co-order edge build
measured through the FULL graded family (round-14 verdict item 6).

`shared_coorder_pairs` (graph.py:272) was proven two ways separately:
the family halved on the exact-clone REPLICA sf1 board (100.2 -> 62 s),
and the degree-oriented enumeration carries honest-Zipf x1/x10/x100
walls for ktruss/kcore alone (scripts/zipf_graph.py).  What was never
measured is the dashboard-grain claim itself — "one fact scan per
DASHBOARD instead of per QUERY" — on an HONESTLY grown graph: replica
clones flatten the degree distribution, so the replica family number
under-weights exactly the hub-heavy shapes where the shared build
matters most.

This probe runs the complete co-order family (every
`shared_coorder_pairs` consumer: pagerank, triangles, shortest_path,
harmonic, neighbor_jaccard, label_prop, kcore, assortativity,
clustering_coeff, link_prediction, katz, degree_distribution,
rich_club, degree_tail, ktruss, ppr, modularity, plus round 15's
neighborhood_func — graph_hits rides the purchase bipartite and
graph_reciprocity the events table, so neither consumes this build)
on the zipf_graph.py corpus (Zipf(1.05) part popularity, linear
part-catalog growth) at x10, twice:

Its FIRST run (round 15) was itself a finding: the uncapped
neighbor_jaccard wedge join hit 2.06e10 rows on this graph (one
100k-degree hub = 1e10 wedges alone) and did not terminate — fixed by
defaulting the witness cap (NJ_WITNESS_DEG_CAP = 64, oracle-mirrored,
graded values unchanged at every graded SF).  The probe now completes;
keep it in the loop for any future wedge-shaped entry.

  - SHARED: the graded configuration — ONE materialized edge build,
    timed separately (the r14 bench-advice discipline), then every
    entry warm against the cached frame.
  - PER-ENTRY: the pre-r14 configuration — the pairs cache is dropped
    before every entry, so each pays its own fact scan + pair explode,
    exactly what each graded entry did before graph.py:272 landed.

An untimed whole-family warmup pass runs FIRST (shared mode) so JIT /
codegen bleed lands on neither timed pass; the timed SHARED pass still
runs before PER-ENTRY so any residual warmup bias is AGAINST the
shared claim, not for it.

modularity needs a brand dimension: the probe writes a part.parquet
(p_partkey 1..parts, p_brand cycling the 25 TPC-H brands) next to the
probe lineitem — linear catalog growth keeps the brand partition
honest at every scale.

Usage: python3 scripts/zipf_graph_family.py [scale=10]
Writes nothing to the repo; results to stdout (paste into SCALE.md).
"""
from __future__ import annotations

import os
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from zipf_graph import BASE_PARTS, OUT, build  # noqa: E402

FAMILY = [
    "graph_pagerank", "graph_triangles", "graph_shortest_path",
    "graph_harmonic_centrality", "graph_neighbor_jaccard",
    "graph_label_prop", "graph_kcore", "graph_assortativity",
    "graph_clustering_coeff", "graph_link_prediction",
    "graph_katz_centrality", "graph_degree_distribution",
    "graph_rich_club", "graph_degree_tail", "graph_ktruss",
    "graph_ppr", "graph_modularity", "graph_neighborhood_func",
]


def ensure_part(scale: int) -> None:
    out = OUT.format(n=scale)
    path = os.path.join(out, "part.parquet")
    if os.path.exists(path):
        return
    parts = BASE_PARTS * scale
    pk = np.arange(1, parts + 1, dtype=np.int64)
    brand = np.array(
        [f"Brand#{1 + i % 25}" for i in range(parts)], dtype=object
    )
    pq.write_table(
        pa.table({"p_partkey": pk, "p_brand": brand}), path
    )
    print(f"# built {path}: {parts} parts, 25 brands")


def main() -> None:
    scale = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    build(scale)
    ensure_part(scale)
    sf_dir = OUT.format(n=scale)

    import __spark_entry__ as e
    from dblab_ece_trino_spark.operators.graph import shared_coorder_pairs
    from dblab_ece_trino_spark.session import EngineSession, drop_shared_builds

    spark = EngineSession.get(app_name="zipf_graph_family").spark
    qs = e.queries()

    def drop_cache() -> None:
        # unpersists the stale build's checkpoint, not just forgets it,
        # so the per-entry arm carries no dead blocks (r15 ADVICE)
        drop_shared_builds(spark, "coorder_pairs")

    def run_entry(name: str) -> float:
        t0 = time.monotonic()
        qs[name](spark, sf_dir).count()
        return time.monotonic() - t0

    # untimed warmup: whole family once, shared build in place
    drop_cache()
    shared_coorder_pairs(spark, sf_dir)
    for name in FAMILY:
        qs[name](spark, sf_dir).count()

    # timed SHARED pass: one build (timed separately) + warm entries
    drop_cache()
    t0 = time.monotonic()
    n_edges = shared_coorder_pairs(spark, sf_dir).count()
    t_build = time.monotonic() - t0
    shared_walls = {name: run_entry(name) for name in FAMILY}
    shared_total = t_build + sum(shared_walls.values())

    # timed PER-ENTRY pass: every entry pays its own edge build
    per_walls = {}
    for name in FAMILY:
        drop_cache()
        per_walls[name] = run_entry(name)
    per_total = sum(per_walls.values())

    print(f"\nhonest-Zipf x{scale}: {n_edges} co-order edges, "
          f"shared edge build {t_build:.1f}s")
    print(f"{'entry':30s} {'shared':>8s} {'per-entry':>10s}")
    for name in FAMILY:
        print(f"{name:30s} {shared_walls[name]:8.1f} "
              f"{per_walls[name]:10.1f}")
    print(f"{'FAMILY TOTAL':30s} {shared_total:8.1f} {per_total:10.1f}  "
          f"(shared incl. the one {t_build:.1f}s build; "
          f"ratio {per_total / shared_total:.2f}x)")


if __name__ == "__main__":
    main()
