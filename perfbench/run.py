#!/usr/bin/env python3
"""Closed-loop benchmark of the engine, one workload per run.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

One process, one client: each pass makes every call of the workload
once, in an order drawn from ``--seed``; the next call starts when the
previous one has returned.  A run sets up (session start, catalog
registration, one warmup pass), measures the passes that take
``--seconds`` at a reference host speed (flagging passes run under
outside load), then checks every call's output outside the timed
region.  Between calls, outside their timing, it times a fixed JVM
probe, and reports pass and call timings at the reference host speed
(see ``host_probe``).  The last stdout line is one JSON object:
``correct``, ``attempted``, ``failed`` and ``metrics`` — the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``.  Every run also writes a full record under
``perfbench/.work/results/`` (never overwritten).
See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import datetime
import importlib
import json
import os
import random
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
NCPU = len(os.sched_getaffinity(0))
#: scale of the generated TPC-H-style tables the entries read
DATA_SF = 0.001
#: rows of the generated documents and embeddings tables: the sf0.1
#: embeddings size, at which the shingle-index consumers spend about
#: half of an llm_dedup pass on data (perfbench/README.md, Sizing)
LLM_ROWS = 2000
#: a pass is flagged as contended when its wall/CPU ratio exceeds the
#: run's median ratio by this factor, when the hypervisor stole more
#: than this share of the machine's CPU time during it, or when the
#: 1-min load average exceeds what the run itself can keep runnable:
#: nproc task threads plus nproc Python workers
CONTENTION_RATIO = 1.5
CONTENTION_STEAL = 0.03
CONTENTION_LOAD = 2 * NCPU
#: host-speed probe, after every call of every measured pass:
#: PROBE_REPS parallel hash-distincts of PROBE_INTS boxed ints
PROBE_REPS = 3
PROBE_INTS = 300_000
#: untimed probe calls before the first measured pass: the first few
#: run before the JIT has compiled the probe and read 2-5x slow
PROBE_WARMUP = 20
#: a round value near the probe's median on a calm 4-vCPU host of the
#: kind the benchmark was sized on; timings are reported as seconds at
#: this host speed
PROBE_REF_S = 0.050

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "live_heap_mb": "MB",
}
#: modules whose calls the BENCHMARK.json workloads make
_CALL_LAYERS = [
    "operators.dedup", "operators.llmprep", "operators.similarity",
    "sources.generator", "loader", "sources.formats", "bench.reference_parity",
]
PER_LAYER = {
    "session.start_s": "s",
    "catalog.register_s": "s",
    "sql.analyze_s": "s",
    "session.plan_s": "s",
    "session.exec_s": "s",
    "session.jobs": "count",
    "session.stages": "count",
    "session.tasks": "count",
    "session.task_cpu_s": "s",
    "session.task_run_s": "s",
    "session.task_wait_s": "s",
    "session.gc_s": "s",
    "session.core_busy_frac": "fraction",
    "session.shuffle_read_mb": "MB",
    "session.shuffle_write_mb": "MB",
    "session.spill_mb": "MB",
    "session.rows_scanned": "count",
    "session.scan_rows_per_out_row": "ratio",
    "python.boot_s": "s",
    "python.init_s": "s",
    "python.run_s": "s",
    "python.sent_mb": "MB",
    "python.received_mb": "MB",
    **{f"{layer}.call_s": "s" for layer in _CALL_LAYERS},
    "operators.dedup.minhash_clusters_build_s": "s",
    "operators.dedup.shingle_index_build_s": "s",
    "operators.llmprep.dupspan_islands_build_s": "s",
    "operators.similarity.ivf_build_s": "s",
    "operators.similarity.quant_build_s": "s",
    "loader.ctas_s": "s",
    "loader.rows_written": "count",
    "loader.export_s": "s",
    "loader.export_files": "count",
    "loader.written_mb": "MB",
    "sources.generator.gen_s": "s",
    "sources.generator.rows": "count",
    "trace.overhead_frac": "ratio",
}
_JOB_KEYS = [
    "exec_s", "jobs", "stages", "tasks", "task_cpu_s", "task_run_s",
    "task_wait_s", "gc_s", "shuffle_read_mb", "shuffle_write_mb",
    "spill_mb", "rows_scanned",
]


def _set_env() -> None:
    """Pin the engine's deployment settings for a benchmark run: cores =
    nproc, scratch dirs inside the checkout, the package on the Python
    workers' path."""
    for d in ("spark-local", "warehouse", "tmp", "eventlog", "results"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(NCPU)
    # the engine's default driver heap: the memory metrics read what the
    # program asks for, not a cap
    os.environ.pop("SPARK_GRAFT_DRIVER_MEM", None)
    # fewer glibc malloc arenas: the JVM's RSS otherwise varies by
    # hundreds of MB run to run with which threads touched which arena
    os.environ["MALLOC_ARENA_MAX"] = "2"
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(WORK, "warehouse")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    sys.path.insert(0, ROOT)


def _spark_conf(event_log: str | None) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
        # temp files in the checkout; no hsperfdata file under /tmp
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:-UsePerfData"
        ),
    }
    if event_log:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def _proc_field(pid: int, key: str) -> int:
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    return 0


def _proc_cpu_s(pid: int) -> float:
    with open(f"/proc/{pid}/stat", encoding="ascii") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


class Ctx:
    """What the workloads see: the live session and the input dirs."""

    def __init__(self, spark, data_dir: str):
        self.spark = spark
        self.data_dir = data_dir
        self.work = WORK
        self.jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
        #: CPU seconds the host probe has used, kept out of pass CPU
        self.probe_cpu_s = 0.0
        from oracle import Oracle

        self.oracle = Oracle(data_dir)

    def cpu_s(self) -> float:
        return _proc_cpu_s(os.getpid()) + _proc_cpu_s(self.jvm_pid)


def run_pass(ctx: Ctx, wl, rng: random.Random, tag: str, traced: bool, probes: list | None = None):
    """One pass; with ``probes``, the host probe runs after every call
    (outside the pass's wall time) and its times are appended there."""
    from eventlog import python_metrics
    from workloads import Outcome

    calls = wl.calls(ctx, rng)
    outcomes = []
    sc = ctx.spark.sparkContext
    t_pass = time.perf_counter()
    probing_s = 0.0
    for c in calls:
        group = f"{wl.name}:{c.name}:{tag}"
        extra = {"layer": c.layer}
        df = None
        if traced:
            sc.setJobGroup(group, group)
            extra["group"] = group
            w0 = time.time() * 1e3
        t0 = time.perf_counter()
        try:
            if c.entry is not None:
                df = c.entry(ctx.spark, ctx.data_dir)
                t1 = time.perf_counter()
                if traced:
                    df._jdf.queryExecution().executedPlan()
                t2 = time.perf_counter()
                out = (df.columns, [tuple(r) for r in df.collect()])
                extra.update(analyze_s=t1 - t0, plan_s=t2 - t1)
            else:
                out = c.run()
            err = None
        except Exception as exc:  # a failing call is counted, not fatal
            out, err = None, f"{type(exc).__name__}: {str(exc)[:300]}"
        lat = time.perf_counter() - t0
        if traced:
            extra["window"] = (w0, time.time() * 1e3)
            if df is not None and err is None:
                extra["python"] = python_metrics(df)
        outcomes.append(Outcome(c.name, tag, lat, out, err, extra))
        if probes is not None:
            p0, c0 = time.perf_counter(), ctx.cpu_s()
            probes += host_probe(ctx)
            probing_s += time.perf_counter() - p0
            ctx.probe_cpu_s += ctx.cpu_s() - c0
    wall = time.perf_counter() - t_pass - probing_s
    if traced:
        sc.setJobGroup("", "")
    wl.after_pass(ctx, outcomes)
    return wall, outcomes


def _steal_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the machine, from /proc/stat."""
    with open("/proc/stat", encoding="ascii") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


def host_probe(ctx: Ctx) -> list[float]:
    """Seconds of each of PROBE_REPS parallel ``distinct().count()`` calls
    over the same PROBE_INTS boxed random ints, in the engine's JVM on
    all cores: allocation, hashing and scattered memory access, like
    Spark's own work, but touching neither Spark nor the engine.  It
    reads how fast the host runs such work at the moment: on a shared
    host that drifts by up to 2x over tens of minutes, with little
    stolen time, and pass times drift with it."""
    jvm = ctx.spark._jvm
    times = []
    for _ in range(PROBE_REPS):
        t0 = time.perf_counter()
        jvm.java.util.Random(42).ints(PROBE_INTS).parallel().boxed().distinct().count()
        times.append(time.perf_counter() - t0)
    return times


def _contended(p: dict, ratio_med: float) -> bool:
    return (
        p["load1"] > CONTENTION_LOAD
        or p["steal_frac"] > CONTENTION_STEAL
        or p["wall_s"] / max(p["cpu_s"], 1e-9) > CONTENTION_RATIO * ratio_med
    )


def measure(ctx: Ctx, wl, rng, seconds: float, traced: bool, prefix: str) -> list[dict]:
    """The passes that take ``seconds`` at the reference host speed (at
    least one): a fixed count per workload.  The JIT keeps speeding a
    pass up for many passes (ingest_load's falls from 5.1 s to 3.2 s
    over its first nine), more than a run can wait for, so every run
    measures the same passes rather than a slow host fewer, earlier on
    the JIT curve, than a fast one.  Before them the host probe runs
    PROBE_WARMUP times untimed.  Each pass keeps its host probe times
    (``probe_s``) and is flagged ``contended`` when it ran under outside
    load.  Flagged passes count like the others (the probe scales them
    to the reference host speed) and are listed in the record and on
    stdout."""
    passes = []
    for _ in range(PROBE_WARMUP):
        host_probe(ctx)
    for _ in range(max(1, round(seconds / wl.ref_pass_s))):
        cpu0, (steal0, total0) = ctx.cpu_s() - ctx.probe_cpu_s, _steal_ticks()
        probes: list[float] = []
        wall, outs = run_pass(ctx, wl, rng, f"{prefix}{len(passes)}", traced, probes)
        steal1, total1 = _steal_ticks()
        passes.append(
            {
                "wall_s": wall,
                "cpu_s": ctx.cpu_s() - ctx.probe_cpu_s - cpu0,
                "load1": os.getloadavg()[0],
                "steal_frac": (steal1 - steal0) / max(1, total1 - total0),
                "outcomes": outs,
                "probe_s": probes,
            }
        )
    med = statistics.median(p["wall_s"] / max(p["cpu_s"], 1e-9) for p in passes)
    for p in passes:
        p["contended"] = _contended(p, med)
    return passes


def _p90(values: list[float]) -> float:
    if len(values) < 2:
        return values[0]
    return statistics.quantiles(values, n=10, method="inclusive")[8]


def _median_over(passes: list[dict], fn) -> float:
    return statistics.median(fn(p) for p in passes)


def _live_heap_mb(spark) -> float:
    """JVM heap the session keeps live (cached and checkpointed blocks,
    broadcasts, catalog, plans): full collections every 0.5 s while
    Spark's ContextCleaner drops the blocks of collected DataFrames,
    until three readings in a row agree within 1 % (about 1.5-3 s)."""
    import gc

    gc.collect()  # drop Python handles, so py4j releases their JVM objects
    jvm = spark._jvm
    bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    seen: list[int] = []
    end = time.perf_counter() + 15
    while True:
        jvm.java.lang.System.gc()
        seen.append(bean.getHeapMemoryUsage().getUsed())
        last = seen[-3:]
        if (len(last) == 3 and max(last) <= 1.01 * min(last)) or time.perf_counter() > end:
            return seen[-1] / 2**20
        time.sleep(0.5)


def to_ref_speed(probes: list[float]) -> float:
    """Factor that turns seconds measured while the host probe read
    ``probes`` into seconds at the reference host speed."""
    return PROBE_REF_S / statistics.median(probes)


def end_to_end(
    setup_s: float, passes: list[dict], scale: float, rss_mb: float, live_mb: float
) -> dict[str, float]:
    """Timings of ``passes`` times ``scale``; ``setup_s`` is wall time."""
    lat = [scale * o.latency_s for p in passes for o in p["outcomes"]]
    return {
        "setup_s": setup_s,
        "pass_s": scale * _median_over(passes, lambda p: p["wall_s"]),
        "call_geomean_s": statistics.geometric_mean(lat),
        "call_p50_s": statistics.median(lat),
        "call_p90_s": _p90(lat),
        "peak_rss_mb": rss_mb,
        "live_heap_mb": live_mb,
    }


def _rows_written(p: dict) -> int:
    n = 0
    for o in p["outcomes"]:
        if o.error:
            continue
        if o.name == "ctas_load":
            n += sum(r.rows for r in o.output)
        elif o.name == "export_bucketed_ndjson":
            n += o.extra.get("ndjson_lines", 0)
    return n


def per_layer(setup: dict, passes: list[dict], jobs: dict, base_pass_s: float) -> dict[str, float]:
    """Per-pass sums (median over the traced passes), per-call means by
    layer, and the set-up/build timings."""
    m = {k: 0.0 for k in PER_LAYER}
    m.update(setup)

    def pass_sum(p: dict, fn) -> float:
        return sum(fn(o) for o in p["outcomes"])

    def job(o, key):
        return jobs.get(o.extra.get("group"), {}).get(key, 0.0)

    for key in _JOB_KEYS:
        m[f"session.{key}"] = _median_over(passes, lambda p: pass_sum(p, lambda o: job(o, key)))
    m["sql.analyze_s"] = _median_over(passes, lambda p: pass_sum(p, lambda o: o.extra.get("analyze_s", 0.0)))
    m["session.plan_s"] = _median_over(passes, lambda p: pass_sum(p, lambda o: o.extra.get("plan_s", 0.0)))
    m["session.core_busy_frac"] = _median_over(
        passes, lambda p: pass_sum(p, lambda o: job(o, "task_run_s")) / (p["wall_s"] * NCPU)
    )

    def out_rows(o) -> int:
        if o.error or not isinstance(o.output, tuple):
            return 0
        return len(o.output[1])

    m["session.scan_rows_per_out_row"] = _median_over(
        passes,
        lambda p: pass_sum(p, lambda o: job(o, "rows_scanned")) / max(1, pass_sum(p, out_rows)),
    )
    from eventlog import PYTHON_METRICS

    for name, _ in PYTHON_METRICS.values():
        m[name] = _median_over(passes, lambda p: pass_sum(p, lambda o: o.extra.get("python", {}).get(name, 0.0)))
    by_layer: dict[str, list[float]] = {}
    for p in passes:
        for o in p["outcomes"]:
            by_layer.setdefault(o.extra["layer"], []).append(o.latency_s)
    for layer, lat in by_layer.items():
        if f"{layer}.call_s" in m:
            m[f"{layer}.call_s"] = statistics.fmean(lat)

    def call_median(name: str, fn) -> float:
        vals = [fn(o) for p in passes for o in p["outcomes"] if o.name == name and not o.error]
        return statistics.median(vals) if vals else 0.0

    m["loader.ctas_s"] = call_median("ctas_load", lambda o: o.latency_s)
    m["loader.export_s"] = call_median("export_bucketed_ndjson", lambda o: o.latency_s)
    m["loader.export_files"] = call_median("export_bucketed_ndjson", lambda o: o.output)
    m["sources.generator.gen_s"] = call_median("gen_table", lambda o: o.latency_s)
    m["sources.generator.rows"] = call_median("gen_table", lambda o: o.output)
    m["loader.rows_written"] = _median_over(passes, _rows_written)
    m["loader.written_mb"] = _median_over(
        passes, lambda p: p["outcomes"][0].extra.get("written_bytes", 0) / 1e6
    )
    m["trace.overhead_frac"] = _median_over(passes, lambda p: p["wall_s"]) / base_pass_s
    return m


def _result_path(workload: str, seed: int, trace: int) -> str:
    stamp = datetime.datetime.now(datetime.timezone.utc).strftime("%Y%m%dT%H%M%S.%fZ")
    name = f"{workload}-seed{seed}-trace{trace}-{stamp}-{os.getpid()}.json"
    return os.path.join(WORK, "results", name)


def _shutdown(spark) -> None:
    """Stop the session and the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    _set_env()
    try:
        import __spark_entry__  # noqa: F401  (the entry-point contract)
        from dblab_ece_trino_spark.session import EngineSession, engine_builder
    except ImportError as exc:
        print(f"perfbench: engine package not found next to perfbench/: {exc}", file=sys.stderr)
        return 2
    import datagen
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; have {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    traced = bool(args.trace)
    data_dir = datagen.ensure_tables(os.path.join(WORK, "data"), DATA_SF, LLM_ROWS)
    rng = random.Random(args.seed)
    wl = WORKLOADS[args.workload]()

    # ---- set-up: session start + catalog registration + warmup pass
    t0 = time.perf_counter()
    eng = EngineSession.get(app_name=f"perfbench-{args.workload}", extra_conf=_spark_conf(None))
    start_s = time.perf_counter() - t0
    ctx = Ctx(eng.spark, data_dir)
    wl.prepare()
    t1 = time.perf_counter()
    wl.register(ctx)
    register_s = time.perf_counter() - t1
    warm_s, warm = run_pass(ctx, wl, rng, "w0", False)
    setup_s = time.perf_counter() - t0

    # ---- measured passes (tracing off)
    budget = args.seconds / 2 if traced else args.seconds
    passes = measure(ctx, wl, rng, budget, False, "m")
    live_mb = _live_heap_mb(ctx.spark)
    # host speed over the measured passes (the set-up stays wall time:
    # the probe needs the JVM, so it cannot run during the set-up)
    measured_probes = [t for p in passes for t in p["probe_s"]]
    scale = to_ref_speed(measured_probes)
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "ncpu": NCPU, "data_sf": DATA_SF, "llm_rows": LLM_ROWS,
        "warm_pass_s": warm_s, "probe_ref_s": PROBE_REF_S,
    }
    outcomes = warm + [o for p in passes for o in p["outcomes"]]
    all_passes = list(passes)

    if traced:
        # ---- second session in the same JVM with the event log on
        log_dir = os.path.join(WORK, "eventlog", f"{os.getpid()}-{int(time.time())}")
        os.makedirs(log_dir)
        ctx.spark.stop()
        spark = engine_builder(app_name=f"perfbench-{args.workload}-traced", extra_conf=_spark_conf(log_dir)).getOrCreate()
        ctx.spark = spark
        wl.register(ctx)
        builds = {}
        for module, attr, label in wl.builds:
            fn = getattr(importlib.import_module(f"dblab_ece_trino_spark.{module}"), attr)
            b0 = time.perf_counter()
            fn(spark, data_dir)
            builds[f"{module}.{label}_build_s"] = time.perf_counter() - b0
        _, warm_t = run_pass(ctx, wl, rng, "w2", True)
        tpasses = measure(ctx, wl, rng, budget, True, "t")
        outcomes += warm_t + [o for p in tpasses for o in p["outcomes"]]
        all_passes += tpasses
        app_id = spark.sparkContext.applicationId

    rss_mb = (_proc_field(os.getpid(), "VmHWM") + _proc_field(ctx.jvm_pid, "VmHWM")) / 1024
    failures = wl.check(ctx, outcomes)
    _shutdown(ctx.spark)

    if traced:
        from eventlog import job_totals

        log = os.path.join(log_dir, app_id)
        windows = {o.extra["group"]: o.extra["window"] for p in tpasses for o in p["outcomes"]}
        jobs = job_totals(log, windows)
        shutil.rmtree(log_dir)  # the record keeps the parsed totals
        setup = {"session.start_s": start_s, "catalog.register_s": register_s, **builds}
        base = statistics.median(p["wall_s"] for p in passes)
        metrics = per_layer(setup, tpasses, jobs, base)
        units = PER_LAYER
    else:
        metrics = end_to_end(setup_s, passes, scale, rss_mb, live_mb)
        units = END_TO_END

    failed = len({f.split(":", 1)[0] for f in failures})
    flagged = [i for i, p in enumerate(all_passes) if p["contended"]]
    load_rows = [_rows_written(p) / (scale * p["wall_s"]) for p in passes if _rows_written(p)]
    human = {
        **end_to_end(setup_s, passes, scale, rss_mb, live_mb),
        "failed_frac": failed / len(outcomes),
        "pass_wall_s": _median_over(passes, lambda p: p["wall_s"]),
        "host_probe_s": statistics.median(measured_probes),
    }
    human_units = {
        **END_TO_END, "call_geomean_s": "s", "call_p50_s": "s", "call_p90_s": "s",
        "peak_rss_mb": "MB",
        "failed_frac": "fraction",
        "pass_wall_s": "s", "host_probe_s": "s",
    }
    if load_rows:
        human["load_rows_per_s"] = statistics.median(load_rows)
        human_units["load_rows_per_s"] = "1/s"
    record.update(
        metrics=metrics,
        end_to_end=human,
        attempted=len(outcomes),
        failed=failed,
        failures=failures,
        passes=[
            {
                "wall_s": p["wall_s"], "cpu_s": p["cpu_s"], "load1": p["load1"],
                "steal_frac": p["steal_frac"], "contended": p["contended"],
                "probe_s": p["probe_s"],
                "calls": {o.name: o.latency_s for o in p["outcomes"]},
            }
            for p in all_passes
        ],
        contended_passes=flagged,
    )
    path = _result_path(args.workload, args.seed, args.trace)
    with open(path, "x", encoding="utf-8") as fh:
        json.dump(record, fh, indent=1, sort_keys=True, default=str)

    for f in failures:
        print(f"FAILED {f}", file=sys.stderr)
    n_calls = sum(len(p["outcomes"]) for p in passes)
    print(
        f"# {args.workload} seed={args.seed}: {len(passes)} passes, "
        f"{n_calls} timed calls, record {os.path.relpath(path, ROOT)}"
    )
    for k, v in human.items():
        print(f"#   {k:<16} {v:12.4f} {human_units[k]}")
    if flagged:
        print(
            f"#   contended passes {flagged} (load > {CONTENTION_LOAD}, steal > "
            f"{CONTENTION_STEAL} or wall/CPU jump), counted at the probed host speed"
        )
    result = {
        "correct": not failures,
        "attempted": len(outcomes),
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
