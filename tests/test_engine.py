"""Unit tests: catalog registry, 3-part-name SQL rewrite, bucketing."""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMALL


def test_rewrite_three_part_names(spark):
    from dblab_ece_trino_spark.entrypoints import engine_for
    from dblab_ece_trino_spark.sql import rewrite_three_part_names

    eng = engine_for(spark, SF_SMALL)
    out = rewrite_three_part_names(
        "SELECT psql.tpch.lineitem.l_orderkey FROM psql.tpch.lineitem "
        "WHERE x = 'psql.tpch.lineitem'",
        eng.catalogs,
    )
    # table ref and fully-qualified column ref rewritten; literal untouched
    assert "FROM __cat_psql_tpch_lineitem" in out
    assert "__cat_psql_tpch_lineitem.l_orderkey" in out
    assert "'psql.tpch.lineitem'" in out


def test_rewrite_case_insensitive_and_unregistered(spark):
    from dblab_ece_trino_spark.entrypoints import engine_for
    from dblab_ece_trino_spark.sql import rewrite_three_part_names

    eng = engine_for(spark, SF_SMALL)
    out = rewrite_three_part_names(
        "SELECT * FROM PSQL.TPCH.LINEITEM JOIN other.cat.table t", eng.catalogs
    )
    assert "__cat_psql_tpch_lineitem" in out
    assert "other.cat.table" in out  # unregistered name falls through


def test_rewrite_masks_comments_and_quoted_identifiers(spark):
    from dblab_ece_trino_spark.entrypoints import engine_for
    from dblab_ece_trino_spark.sql import rewrite_three_part_names

    eng = engine_for(spark, SF_SMALL)
    out = rewrite_three_part_names(
        "SELECT * FROM psql.tpch.lineitem -- psql.tpch.lineitem here\n"
        "/* block psql.tpch.lineitem\n comment */ "
        'WHERE "psql.tpch.lineitem" = `psql.tpch.lineitem`',
        eng.catalogs,
    )
    assert "FROM __cat_psql_tpch_lineitem" in out
    assert "-- psql.tpch.lineitem here" in out
    assert "/* block psql.tpch.lineitem\n comment */" in out
    assert '"psql.tpch.lineitem"' in out
    assert "`psql.tpch.lineitem`" in out


def test_catalog_cross_catalog_join(spark):
    """Federated join across two 'catalogs' in one Catalyst plan."""
    from dblab_ece_trino_spark.entrypoints import engine_for

    eng = engine_for(spark, SF_SMALL)
    df = eng.sql(
        """
        SELECT count(*) AS n
        FROM mongodb.tpch.orders o JOIN psql.tpch.customer c
          ON o.o_custkey = c.c_custkey
        """
    )
    assert df.collect()[0].n > 0


def test_catalog_unknown_table_errors(spark):
    from dblab_ece_trino_spark.entrypoints import engine_for

    eng = engine_for(spark, SF_SMALL)
    try:
        eng.catalogs.table("nope.nope.nope")
        raise AssertionError("expected KeyError")
    except KeyError:
        pass


def test_hash_bucketing_properties(spark):
    """Reference loader.py:213-218 parity: buckets are deterministic,
    complete (sum == total), disjoint, and reasonably uniform."""
    from pyspark.sql import functions as F

    from dblab_ece_trino_spark.entrypoints import engine_for
    from dblab_ece_trino_spark.functions.hashing import (
        bucket_expr,
        bucket_expr_reference_literal,
    )

    eng = engine_for(spark, SF_SMALL)
    orders = eng.catalogs.table("mongodb.tpch.orders")
    n = 8
    b = orders.withColumn("bucket", bucket_expr(F.col("o_orderkey"), n))
    counts = {r.bucket: r.n for r in b.groupBy("bucket").agg(F.count("*").alias("n")).collect()}
    total = orders.count()
    assert sum(counts.values()) == total
    assert set(counts) <= set(range(n))
    assert len(counts) == n  # every bucket non-empty at 1500 rows
    assert max(counts.values()) < 3 * total / n  # rough uniformity
    # determinism: same expression twice → identical assignment
    b2 = orders.withColumn("bucket", bucket_expr(F.col("o_orderkey"), n))
    assert (
        b.select("o_orderkey", "bucket")
        .exceptAll(b2.select("o_orderkey", "bucket"))
        .count()
        == 0
    )
    # the literal mask-then-mod reference chain is also a complete bucketing
    b3 = orders.withColumn(
        "bucket", bucket_expr_reference_literal(F.col("o_orderkey"), n)
    )
    assert b3.filter((F.col("bucket") < 0) | (F.col("bucket") >= n)).count() == 0


def test_char_normalize_pad_insensitive_grouping(spark):
    """SURVEY §7.2: char(N) blank-padding must not split group/set-op keys."""
    from pyspark.sql import functions as F

    from dblab_ece_trino_spark.functions.charn import normalize_char_columns

    df = spark.createDataFrame(
        [(1, "TX"), (2, "TX  "), (3, "CA"), (4, None), (5, "  ")],
        "id int, state string",
    )
    norm = normalize_char_columns(df, ["state"])
    groups = {
        r.state: r.n
        for r in norm.groupBy("state").agg(F.count("*").alias("n")).collect()
    }
    assert groups["TX"] == 2  # 'TX' and 'TX  ' merge
    assert groups["CA"] == 1
    assert groups[None] == 1  # NULL preserved, not turned into ''
    assert groups[""] == 1  # all-blank normalizes to empty string


def test_char_columns_option_in_scan_path(spark, tmp_path, duck):
    """The catalog's opt-in char_columns option applies the rtrim
    discipline at scan time: grouping and EXCEPT over blank-padded
    char(2) keys (the reference's ca_state trap, SURVEY §7.2) match the
    DuckDB oracle's pad-insensitive semantics."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from dblab_ece_trino_spark.entrypoints import engine_for
    from tests.conftest import assert_matches_oracle

    path = str(tmp_path / "addr.parquet")
    pq.write_table(
        pa.table(
            {
                "id": list(range(6)),
                "ca_state": ["TX", "TX  ", "CA", "CA", "NY  ", None],
            }
        ),
        path,
    )
    eng = engine_for(spark, str(tmp_path))
    from dblab_ece_trino_spark.catalog import TableSpec

    eng.catalogs.register(
        TableSpec(
            "psql", "tpcds", "addr", "parquet", path,
            options={"char_columns": "ca_state"},
        )
    )
    grouped = eng.sql(
        "SELECT ca_state, count(*) AS n FROM psql.tpcds.addr GROUP BY ca_state"
    )
    cur = duck.cursor()
    cur.execute(f"CREATE OR REPLACE VIEW addr AS SELECT * FROM read_parquet('{path}')")
    assert_matches_oracle(
        grouped, cur,
        "SELECT rtrim(ca_state) AS ca_state, count(*) AS n FROM addr GROUP BY 1",
    )
    # EXCEPT over padded keys: 'NY  ' must cancel against 'NY'
    ex = eng.sql(
        "SELECT ca_state FROM psql.tpcds.addr WHERE id >= 3 "
        "EXCEPT SELECT 'NY' AS ca_state"
    )
    rows = {r.ca_state for r in ex.collect()}
    assert rows == {"CA", None}


def test_mongo_es_connector_seam(spark):
    """The mongo/es TableSpec seam plumbs options into the real Spark
    connector format and fails with deployment guidance when the package
    is absent (this container), rather than a bare gate."""
    import pytest

    from dblab_ece_trino_spark.catalog import CatalogRegistry, TableSpec

    reg = CatalogRegistry(spark)
    for fmt, pkg_frag in (("mongo", "mongo-spark-connector"),
                          ("es", "elasticsearch-spark")):
        spec = TableSpec(
            "x", "y", "z", fmt,
            options={"uri": "mongodb://example/db.z", "collection": "z"},
        )
        with pytest.raises(NotImplementedError, match=pkg_frag):
            reg.load(spec)


def test_dedup_clusters_raises_on_non_convergence(spark):
    from dblab_ece_trino_spark.operators.dedup import dedup_clusters

    # a path graph of diameter 6 cannot converge in 2 rounds of min-label
    # propagation — the loop must refuse to return partial labels
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], "id_a int, id_b int"
    )
    import pytest

    with pytest.raises(RuntimeError, match="did not converge"):
        dedup_clusters(pairs, max_iter=2)
    # with budget it converges to a single cluster rooted at 0
    labels = dedup_clusters(pairs, max_iter=10)
    assert {r.cluster for r in labels.collect()} == {0}


def test_engine_for_sf_switch_reasserts_views(spark):
    """Temp views are global per session; switching sf_dir and back must
    re-point them — a cached engine must never read another scale factor's
    data (the engine_for _ACTIVE tracker)."""
    from dblab_ece_trino_spark.entrypoints import engine_for
    from tests.conftest import SF_MED, SF_SMALL

    n_small = engine_for(spark, SF_SMALL).catalogs.table("mongodb.tpch.orders").count()
    n_med = engine_for(spark, SF_MED).catalogs.table("mongodb.tpch.orders").count()
    assert n_med > n_small
    again = engine_for(spark, SF_SMALL).catalogs.table("mongodb.tpch.orders").count()
    assert again == n_small
    # leave the shared session pointed back at SF_SMALL for other tests
    engine_for(spark, SF_SMALL)


def test_connector_options_reach_reader(spark):
    """End-to-end proof that TableSpec options flow into
    spark.read.format(fmt): a Python DataSource registered under a fake
    connector name reads its own options back as rows (the same seam a
    real mongo/es/vendor connector jar would use — VERDICT r2 item 4)."""
    from pyspark.sql.datasource import DataSource, DataSourceReader

    class _EchoReader(DataSourceReader):
        def __init__(self, options):
            self._options = options

        def read(self, partition):
            yield (str(self._options.get("uri")), str(self._options.get("collection")))

    class _EchoSource(DataSource):
        @classmethod
        def name(cls):
            return "fakeconn"

        def schema(self):
            return "uri string, collection string"

        def reader(self, schema):
            return _EchoReader(self.options)

    spark.dataSource.register(_EchoSource)

    from dblab_ece_trino_spark.catalog import CatalogRegistry, TableSpec

    reg = CatalogRegistry(spark)
    spec = TableSpec(
        "vendor", "db", "tbl", "fakeconn",
        options={"uri": "mongodb://example/db", "collection": "tbl"},
    )
    rows = reg.load(spec).collect()
    assert rows[0].uri == "mongodb://example/db"
    assert rows[0].collection == "tbl"
    # unknown format with no registered DataSource still fails with guidance
    import pytest

    with pytest.raises(NotImplementedError, match="not a bundled format"):
        reg.load(TableSpec("v", "d", "t", "no_such_format"))


def test_rotation_window_policy():
    """The 50-slot grading window must satisfy the rotation policy
    (scripts/window_check.py): every never-graded oracle-backed entry
    holds a window slot, no duplicates, no unregistered names, and
    GRADED_PRIORITY holds at most the 50 graded slots."""
    import os
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(repo, "scripts"))
    try:
        from window_check import violations
    finally:
        sys.path.pop(0)
    assert violations() == []


def test_materialize_membership_short_circuit(spark):
    """materialize() is idempotent ONLY on frames it checkpointed itself
    (membership in _CHECKPOINTED_RDD_IDS), never on plan shape alone:
    a LogicalRDD backing a never-checkpointed frame (df.rdd round-trip)
    must still be eagerly checkpointed (round-14 advice)."""
    from dblab_ece_trino_spark.session import (
        _CHECKPOINTED_RDD_IDS,
        materialize,
    )

    df = spark.range(50).selectExpr("id", "id * 2 AS y")
    m1 = materialize(df)
    plan = m1._jdf.queryExecution().optimizedPlan()
    assert plan.getClass().getSimpleName() == "LogicalRDD"
    assert plan.rdd().id() in _CHECKPOINTED_RDD_IDS
    assert materialize(m1) is m1  # ours -> short-circuit
    # a LogicalRDD frame materialize() did NOT create must not
    # short-circuit (rdd round-trip yields a fresh LogicalRDD plan)
    alien = spark.createDataFrame(df.rdd, df.schema)
    alien_plan = alien._jdf.queryExecution().optimizedPlan()
    if alien_plan.getClass().getSimpleName() == "LogicalRDD":
        assert materialize(alien) is not alien


def test_shared_build_keys_on_bound_arguments_per_session(spark):
    """One @shared_build cache: a call that spells out a default hits
    the same build; another SparkSession gets its own, equal build."""
    from dblab_ece_trino_spark.operators.similarity import shared_quant_build
    from dblab_ece_trino_spark.session import drop_shared_builds

    built = shared_quant_build(spark, SF_SMALL)
    assert shared_quant_build(spark, SF_SMALL, levels=255) is built
    other = spark.newSession()
    theirs = shared_quant_build(other, SF_SMALL)
    assert theirs is not built
    assert theirs[:2] == built[:2]  # (mn, mx)
    for mine, their in zip(built[2:], theirs[2:]):
        assert sorted(their.collect()) == sorted(mine.collect())
    drop_shared_builds(other, "quant_codes")


def test_drop_shared_builds_forces_rebuild_of_named_only(spark):
    from dblab_ece_trino_spark.operators.analytics import shared_price_cum
    from dblab_ece_trino_spark.operators.similarity import shared_quant_build
    from dblab_ece_trino_spark.session import drop_shared_builds

    def persisted() -> set:
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    quant = shared_quant_build(spark, SF_SMALL)
    price = shared_price_cum(spark, SF_SMALL)
    ckpts = {
        f._jdf.queryExecution().optimizedPlan().rdd().id() for f in quant[2:]
    }
    assert ckpts <= persisted()
    drop_shared_builds(spark, "quant_codes")
    assert not ckpts & persisted()  # unpersisted, not just forgotten
    rebuilt = shared_quant_build(spark, SF_SMALL)
    assert rebuilt is not quant and rebuilt[:2] == quant[:2]
    assert shared_price_cum(spark, SF_SMALL) is price


@pytest.mark.parametrize("name", ["ivf_build", "minhash_clusters"])
def test_shared_build_keeps_only_the_checkpoints_it_returns(spark, name):
    """A build's intermediate checkpoints are released when it finishes:
    storage grows by exactly the checkpoints its returned frames read,
    and dropping the build leaves none of them.  Both builds checkpoint
    frames they never return (IVF's vector frame and Lloyd rounds; the
    LSH pipeline's signatures, candidates and estimates).  The last
    check is a subset, not equality: Spark's context cleaner may
    unpersist an earlier test's unreferenced checkpoint meanwhile."""
    from dblab_ece_trino_spark.operators.registry import spark_queries
    from dblab_ece_trino_spark.session import (
        SHARED_BUILDS,
        _checkpoints_read,
        drop_shared_builds,
    )

    def persisted() -> set:
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    spark_queries()  # imports every operator module
    other = spark.newSession()  # a fresh build; spark's cache is untouched
    before = persisted()
    built = SHARED_BUILDS[name](other, SF_SMALL)
    read = _checkpoints_read([built])
    assert read and persisted() - before == read
    drop_shared_builds(other, name)
    assert persisted() <= before


def test_shared_build_names_are_the_bench_record_labels():
    """bench.py records one time per registered build under its name;
    scripts/bench_diff.py compares those keys across records (see
    BENCH_LOCAL_r17_c8_driver.json), so the names must not drift."""
    from dblab_ece_trino_spark.operators.registry import spark_queries
    from dblab_ece_trino_spark.session import SHARED_BUILDS

    spark_queries()  # imports every operator module
    assert set(SHARED_BUILDS) == {
        "coorder_pairs", "minhash_clusters", "ivf_build", "quant_codes",
        "shingle9_index", "price_cum", "dupspan_islands",
    }
