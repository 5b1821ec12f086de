"""The four workloads: which public calls each pass makes, and how each
call's output is checked.

Every workload is a list of calls made once per pass by one client in a
closed loop.  Entry calls go through the entry-point contract
(``__spark_entry__.queries()``) by registry name and are checked against
``__spark_entry__.oracle_sql()`` in DuckDB over the same parquet.  The
ingest workload calls the loader's public functions and checks row
counts and query results against the generator source.
"""

from __future__ import annotations

import inspect
import os
import shutil
import sys
from dataclasses import dataclass, field
from typing import Any, Callable

#: federated SQL: the reference's five queries plus every TPC-H shape,
#: all through EngineSession.sql with 3-part catalog names (planning +
#: short JVM jobs, no Python boundary)
FEDERATED_SQL = ["q001", "q002", "q003", "q004", "q005"]
#: consumers of the shared MinHash, shingle, dup-span, IVF and
#: quantization builds (shuffle-heavy joins, checkpoints, Arrow kernels);
#: the shingle-index consumers (prefix filter, containment) grow with
#: the documents table, the rest read cached builds
LLM_DEDUP = [
    "dedup_minhash_lsh", "dedup_cluster_keep", "pipeline_dedup_corpus",
    "dedup_prefix_filter", "dedup_containment", "llm_dup_span_coverage",
    "llm_dup_span_removal", "sim_quantized_mips", "sim_ivf_probe_sweep",
]
#: shared builds the llm_dedup entries consume, timed one by one in the
#: traced run: (module, public builder, metric label)
SHARED_BUILDS = [
    ("operators.dedup", "shared_minhash_clusters", "minhash_clusters"),
    ("operators.dedup", "shared_shingle_index", "shingle_index"),
    ("operators.llmprep", "shared_dupspan_islands", "dupspan_islands"),
    ("operators.similarity", "shared_ivf_build", "ivf"),
    ("operators.similarity", "shared_quant_build", "quant"),
]

PKG = "dblab_ece_trino_spark"
#: generator scale of the ingest workload: 10k rows per fact table
INGEST_SF = 1.0
#: the reference loader's placement of the tables its five queries read:
#: dims + store facts in the "psql" store, catalog_sales in "mongodb";
#: web_sales goes out as NDJSON and comes back as the "elastic" table
INGEST_PLACEMENT = {
    "psql.tpcds": [
        "store_sales", "store_returns", "reason", "customer",
        "customer_address", "date_dim",
    ],
    "mongodb.tpcds": ["catalog_sales"],
}
WEB_SALES_SCHEMA = (
    "ws_sold_date_sk bigint, ws_bill_customer_sk bigint, ws_item_sk bigint, "
    "ws_order_number bigint, ws_quantity int, ws_sales_price decimal(7,2)"
)


@dataclass
class Call:
    """One timed call of a pass.  ``run`` returns the call's output;
    ``layer`` names the module whose public function it calls."""

    name: str
    layer: str
    run: Callable[[], Any]
    entry: Callable | None = None  # registry entry (df-returning) if any


@dataclass
class Outcome:
    name: str
    pass_tag: str
    latency_s: float
    output: Any = None
    error: str | None = None
    extra: dict = field(default_factory=dict)


def registering_module(name: str, fn: Callable) -> str:
    """Module (relative to the package) that registered entry ``name``.

    SQL-text entries are closures created in the registry; for those the
    module whose source holds the quoted entry name registered it.
    """
    mod = fn.__module__
    if mod.endswith((".entrypoints", ".operators.registry")):
        for cand in sorted(m for m in sys.modules if m.startswith(PKG + ".")):
            if cand.endswith((".entrypoints", ".operators.registry")):
                continue
            try:
                src = inspect.getsource(sys.modules[cand])
            except (OSError, TypeError):
                continue
            if f'"{name}"' in src:
                mod = cand
                break
    return mod[len(PKG) + 1:] if mod.startswith(PKG + ".") else mod


# ----------------------------------------------------------- entry workloads
class EntryWorkload:
    """Registry entries called by name, checked against DuckDB oracles."""

    def __init__(self, name: str, entries: list[str], ref_pass_s: float, builds=()):
        self.name = name
        self.entries = entries
        #: seconds of a measured pass at the reference host speed; sets
        #: how many passes --seconds buys
        self.ref_pass_s = ref_pass_s
        self.builds = builds

    def prepare(self) -> None:
        """Load the registry and the oracles (no session work)."""
        import __spark_entry__

        self.queries = __spark_entry__.queries()
        self.oracles = __spark_entry__.oracle_sql()
        missing = [n for n in self.entries if n not in self.queries]
        if missing:
            raise KeyError(f"entries not in the registry: {missing}")
        self.layers = {
            n: registering_module(n, self.queries[n]) for n in self.entries
        }

    def register(self, ctx) -> None:
        """The catalog registration every entry reuses (cached per
        session): ``CatalogRegistry.register_sf_dir`` via ``engine_for``."""
        from dblab_ece_trino_spark.entrypoints import engine_for

        engine_for(ctx.spark, ctx.data_dir)

    def calls(self, ctx, rng) -> list[Call]:
        order = list(self.entries)
        rng.shuffle(order)
        return [
            Call(n, self.layers[n], None, entry=self.queries[n]) for n in order
        ]

    def after_pass(self, ctx, outcomes: list[Outcome]) -> None:
        pass

    def check(self, ctx, outcomes: list[Outcome]) -> list[str]:
        from oracle import same_rows

        want = {}
        bad = []
        for o in outcomes:
            if o.error:
                bad.append(f"{o.name}[{o.pass_tag}]: {o.error}")
                continue
            if o.name not in self.oracles:
                continue  # rows-only entry: the call returned rows
            if o.name not in want:
                want[o.name] = ctx.oracle.rows(self.oracles[o.name])
            why = same_rows(o.output, want[o.name])
            if why:
                bad.append(f"{o.name}[{o.pass_tag}]: {why}")
        return bad


# ------------------------------------------------------------ ingest workload
class IngestWorkload:
    """The reference's loader loop: generate, CTAS-load, bulk-export,
    read back, then run the reference's five queries over the copies."""

    name = "ingest_load"
    builds = ()
    ref_pass_s = 5.0

    def prepare(self) -> None:
        from dblab_ece_trino_spark.bench.reference_parity import (
            EXPECTED_ROWS,
            REFERENCE_SQL,
        )
        from dblab_ece_trino_spark.sources.generator import table_rows

        self.sql = REFERENCE_SQL
        self.expected_rows = EXPECTED_ROWS
        self.table_rows = table_rows
        self.tables = [t for ts in INGEST_PLACEMENT.values() for t in ts]
        self.n_pass = 0

    def register(self, ctx) -> None:
        from dblab_ece_trino_spark.entrypoints import engine_for

        self.eng = engine_for(ctx.spark, ctx.data_dir)

    def _dirs(self, ctx) -> dict[str, str]:
        base = os.path.join(ctx.work, "ingest", str(os.getpid()), f"pass{self.n_pass}")
        return {k: os.path.join(base, k) for k in ("src", "wh", "export")}

    def calls(self, ctx, rng) -> list[Call]:
        from dblab_ece_trino_spark.catalog import TableSpec
        from dblab_ece_trino_spark.loader import ctas_load, export_bucketed_ndjson
        from dblab_ece_trino_spark.sources.generator import gen_table

        self.n_pass += 1
        d = self._dirs(ctx)
        spark, eng = ctx.spark, self.eng

        def gen() -> int:
            n = 0
            for t in self.tables + ["web_sales"]:
                df = gen_table(spark, t, sf=INGEST_SF)
                df.write.mode("overwrite").parquet(os.path.join(d["src"], f"{t}.parquet"))
                n += self.table_rows(t, INGEST_SF)
            return n

        def ctas():
            return ctas_load(eng, d["src"], d["wh"], placement=INGEST_PLACEMENT)

        def export() -> int:
            ws = spark.read.parquet(os.path.join(d["src"], "web_sales.parquet"))
            return export_bucketed_ndjson(ws, "ws_order_number", d["export"])

        def readback() -> None:
            eng.catalogs.register(
                TableSpec(
                    "elastic", "default", "tpcds_web_sales", "json",
                    path=d["export"],
                    options={"schema": WEB_SALES_SCHEMA, "recursiveFileLookup": "true"},
                )
            )

        def query(name: str):
            return lambda _spark, _data_dir: eng.sql(self.sql[name], name=name)

        loads = [Call("ctas_load", "loader", ctas), Call("export_bucketed_ndjson", "loader", export)]
        rng.shuffle(loads)
        queries = [
            Call(q, "bench.reference_parity", None, entry=query(q)) for q in self.sql
        ]
        rng.shuffle(queries)
        return (
            [Call("gen_table", "sources.generator", gen)]
            + loads
            + [Call("read_json", "sources.formats", readback)]
            + queries
        )

    def after_pass(self, ctx, outcomes: list[Outcome]) -> None:
        """Count what the pass wrote (outside the timed calls), then
        delete it."""
        d = self._dirs(ctx)
        lines = 0
        for root, _, files in os.walk(d["export"]):
            for f in files:
                with open(os.path.join(root, f), "rb") as fh:
                    lines += sum(1 for _ in fh)
        written = 0
        for key in ("wh", "export"):
            for root, _, files in os.walk(d[key]):
                written += sum(os.path.getsize(os.path.join(root, f)) for f in files)
        for o in outcomes:
            if o.name == "export_bucketed_ndjson":
                o.extra["ndjson_lines"] = lines
            o.extra["written_bytes"] = written
        shutil.rmtree(os.path.dirname(d["src"]), ignore_errors=True)

    def check(self, ctx, outcomes: list[Outcome]) -> list[str]:
        from oracle import same_rows

        bad = []
        # expected results: the same SQL over the generator source
        self.eng.catalogs.register_reference_tpcds(sf=INGEST_SF)
        want = {}
        for q, text in self.sql.items():
            df = self.eng.sql(text, name=q)
            want[q] = (df.columns, [tuple(r) for r in df.collect()])
        n_ws = self.table_rows("web_sales", INGEST_SF)
        for o in outcomes:
            tag = f"{o.name}[{o.pass_tag}]"
            if o.error:
                bad.append(f"{tag}: {o.error}")
            elif o.name == "ctas_load":
                for r in o.output:
                    n = self.table_rows(r.table, INGEST_SF)
                    if r.rows != n:
                        bad.append(f"{tag}: {r.target} has {r.rows} rows, want {n}")
            elif o.name == "export_bucketed_ndjson":
                if o.extra.get("ndjson_lines") != n_ws:
                    bad.append(f"{tag}: {o.extra.get('ndjson_lines')} NDJSON lines, want {n_ws}")
            elif o.name in self.sql:
                cols, rows = o.output
                if len(rows) != self.expected_rows[o.name]:
                    bad.append(f"{tag}: {len(rows)} rows, want {self.expected_rows[o.name]}")
                why = same_rows(o.output, want[o.name])
                if why:
                    bad.append(f"{tag}: vs generator source: {why}")
        shutil.rmtree(os.path.join(ctx.work, "ingest", str(os.getpid())), ignore_errors=True)
        return bad


def _prefixed(prefix: str) -> list[str]:
    import __spark_entry__

    return sorted(n for n in __spark_entry__.queries() if n.startswith(prefix))


WORKLOADS = {
    # every TPC-H shape and every codec entry, by registry prefix
    "federated_sql": lambda: EntryWorkload("federated_sql", FEDERATED_SQL + _prefixed("tpch_"), 8.0),
    "llm_dedup": lambda: EntryWorkload("llm_dedup", LLM_DEDUP, 9.5, SHARED_BUILDS),
    "media_decode": lambda: EntryWorkload("media_decode", _prefixed("multimodal_"), 35.0),
    "ingest_load": IngestWorkload,
}
