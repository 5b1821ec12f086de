#!/usr/bin/env python3
"""Round-16 optimization probe: time individual bench entries in
isolation with bench.py's exact methodology (count() action, one cold
touch, min of 3 warm reps) and optionally dump the formatted plan.

Usage:
    python3 scripts/opt_probe.py [--sf DIR] [--plan-dir plans/r16] \
        [--suffix before] entry [entry ...]

Per entry prints:  name  cold  warm_min  reps  rows
With --plan-dir, writes <plan-dir>/<entry>_<suffix>.txt containing
explain("formatted") for the entry's DataFrame (the judge-checkable
plan artifact).

Every registered shared build (session.SHARED_BUILDS) is triggered
first, exactly like bench.py, so a shared-build consumer's numbers stay
comparable to the suite record.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("entries", nargs="+")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--plan-dir", default=None)
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--plan-only", action="store_true",
                    help="dump plans without timing (no count actions)")
    ap.add_argument("--no-shared", action="store_true",
                    help="skip the shared builds (entries that don't ride them)")
    args = ap.parse_args()

    from dblab_ece_trino_spark.session import EngineSession, explain_str
    import __spark_entry__ as entrymod

    eng = EngineSession.get(app_name="opt_probe")
    spark = eng.spark
    qs = entrymod.queries()

    spark.range(1000).selectExpr("sum(id)").collect()
    qs["q001"](spark, args.sf).count()

    if not args.no_shared:
        from dblab_ece_trino_spark.session import SHARED_BUILDS

        t0 = time.monotonic()
        for build in SHARED_BUILDS.values():
            build(spark, args.sf)
        print(f"# shared builds: {time.monotonic() - t0:.2f}s", file=sys.stderr)

    for name in args.entries:
        fn = qs[name]
        spark.sparkContext.setJobDescription(f"opt_probe:{name}")
        if not args.plan_only:
            t0 = time.monotonic()
            n = fn(spark, args.sf).count()
            cold = time.monotonic() - t0
            reps = []
            for _ in range(args.reps):
                t0 = time.monotonic()
                fn(spark, args.sf).count()
                reps.append(round(time.monotonic() - t0, 3))
            print(f"{name}: cold {cold:.3f}s warm_min {min(reps):.3f}s "
                  f"reps {reps} ({n} rows)")
        if args.plan_dir:
            os.makedirs(args.plan_dir, exist_ok=True)
            path = os.path.join(args.plan_dir, f"{name}_{args.suffix}.txt")
            with open(path, "w") as fh:
                fh.write(explain_str(fn(spark, args.sf)))
            print(f"# plan -> {path}", file=sys.stderr)
        spark.sparkContext.setJobDescription(None)
    spark.stop()


if __name__ == "__main__":
    main()
