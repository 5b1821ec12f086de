#!/usr/bin/env python3
"""Sim-family shared-build probe: shared vs per-entry index builds,
measured back-to-back in ONE session (round-14 verdict item 5's "done"
condition — "sf1 sim-family total measurably down, records re-taken").

`shared_ivf_build` amortizes the IVF index (centroids + corpus cell
assignment + probe frame + brute-force truth) across ``sim_search_ivf``,
``sim_recall_at_k`` and ``sim_ivf_probe_sweep``; `shared_quant_build`
amortizes the scalar-quantization corpus codes across
``sim_quantized_mips``, ``sim_knn_classify`` and ``sim_epsilon_ball``.
Both landed this round (similarity.py) — this probe measures what they
buy with the zipf_graph_family.py discipline: an untimed whole-family
warmup first, then the timed SHARED pass (builds timed separately, the
r14 bench-advice rule), then the timed PER-ENTRY pass with every cache
dropped before every entry, so each entry pays its own corpus scan and
index build exactly as the pre-round-15 graded entries did.  The timed
shared pass runs BEFORE per-entry, so residual warmup bias is AGAINST
the shared claim.  A/B in one session is host-noise-immune — both arms
see the same box.

Usage: python3 scripts/sim_share_probe.py [sf_dir ...]
Defaults to sf0.1 then the x10 replica (built via scale_check.multiply
if absent).  Writes nothing to the repo; paste results into SCALE.md.
"""
from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

X10 = "/tmp/scale_check_x10"

IVF_FAMILY = ["sim_search_ivf", "sim_recall_at_k", "sim_ivf_probe_sweep"]
QUANT_FAMILY = ["sim_quantized_mips", "sim_knn_classify", "sim_epsilon_ball"]
FAMILY = IVF_FAMILY + QUANT_FAMILY


def ensure_x10(eng) -> None:
    # scale_check parses sys.argv at IMPORT time (MULT = argv[1]); an
    # sf_dir argument to THIS script would crash the import (ValueError
    # on a path) or silently change MULT/DST on a numeric one — swap a
    # clean argv in around the import (r15 ADVICE item).
    saved_argv = sys.argv
    sys.argv = [saved_argv[0]]
    try:
        import scale_check
    finally:
        sys.argv = saved_argv
    # A bare existing directory is NOT a complete x10 replica: a partial
    # prior build (or one made at a different multiplier) would be
    # silently reused (r15 ADVICE item) — require every multiplied
    # table's parquet to exist before trusting it.
    expected = [
        t for t in scale_check.KEY_COLS
        if os.path.exists(os.path.join(scale_check.SRC, f"{t}.parquet"))
    ]
    if os.path.isdir(X10) and all(
        os.path.exists(os.path.join(X10, f"{t}.parquet")) for t in expected
    ):
        return
    os.makedirs(X10, exist_ok=True)
    t0 = time.monotonic()
    for t in expected:
        scale_check.multiply(eng, t, os.path.join(X10, f"{t}.parquet"))
    print(f"# x10 replica synthesized in {time.monotonic() - t0:.1f}s")


def main() -> None:
    sf_dirs = sys.argv[1:] or ["/root/testdata/sf0.1", X10]

    import __spark_entry__ as e
    from dblab_ece_trino_spark.operators.similarity import (
        shared_ivf_build,
        shared_quant_build,
    )
    from dblab_ece_trino_spark.session import EngineSession, drop_shared_builds

    eng = EngineSession.get(app_name="sim_share_probe")
    spark = eng.spark
    if X10 in sf_dirs:
        ensure_x10(eng)
    qs = e.queries()

    def drop_caches() -> None:
        # unpersists the stale builds' checkpoints, not just forgets
        # them, so the per-entry arm carries no dead blocks (r15 ADVICE)
        drop_shared_builds(spark, "ivf_build", "quant_codes")

    def run_entry(name: str) -> float:
        t0 = time.monotonic()
        qs[name](spark, sf_dir).count()
        return time.monotonic() - t0

    for sf_dir in sf_dirs:
        # untimed warmup: whole family once, shared builds in place
        drop_caches()
        for name in FAMILY:
            qs[name](spark, sf_dir).count()

        # timed SHARED pass: builds timed separately + warm entries
        drop_caches()
        t0 = time.monotonic()
        shared_ivf_build(spark, sf_dir)
        t_ivf = time.monotonic() - t0
        t0 = time.monotonic()
        shared_quant_build(spark, sf_dir)
        t_quant = time.monotonic() - t0
        shared_walls = {name: run_entry(name) for name in FAMILY}
        shared_total = t_ivf + t_quant + sum(shared_walls.values())

        # timed PER-ENTRY pass: every entry pays its own build
        per_walls = {}
        for name in FAMILY:
            drop_caches()
            per_walls[name] = run_entry(name)
        per_total = sum(per_walls.values())

        print(f"\n## {sf_dir}: ivf build {t_ivf:.1f}s, "
              f"quant build {t_quant:.1f}s")
        print(f"{'entry':24s} {'shared':>8s} {'per-entry':>10s}")
        for name in FAMILY:
            print(f"{name:24s} {shared_walls[name]:8.1f} "
                  f"{per_walls[name]:10.1f}")
        print(f"{'FAMILY TOTAL':24s} {shared_total:8.1f} {per_total:10.1f}"
              f"  (shared incl. the {t_ivf + t_quant:.1f}s builds; "
              f"ratio {per_total / shared_total:.2f}x)")


if __name__ == "__main__":
    main()
