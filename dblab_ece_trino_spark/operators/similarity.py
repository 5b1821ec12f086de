"""Similarity search over embedding columns (array<float>).

Two paths, mirroring how ANN is actually deployed on Spark-scale data:

- brute-force top-k: query set × corpus with an exact cosine score and a
  per-query window top-k.  The corpus side streams; the (small) query set
  is broadcast, so the plan is a broadcast nested-loop + per-partition
  partial top-k — no corpus shuffle.  This is the correctness baseline
  and perfectly respectable up to ~10^6 corpus × small query batches.
- LSH-bucketed (random hyperplanes): each vector gets a ``nbits``-bit
  sign signature from fixed seeded hyperplanes; candidates meet in a
  shuffle on the bucket id (with optional multi-probe via bit flips),
  then exact cosine re-ranks within buckets.  Sub-linear candidate sets
  at 100 TB, at the cost of recall — which the tests measure against the
  brute-force baseline.

An IVF variant would replace the hyperplane bucketer with k-means
centroid assignment; the bucket-join + re-rank skeleton is identical.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dblab_ece_trino_spark.operators.dedup import cosine
from dblab_ece_trino_spark.operators.registry import register
from dblab_ece_trino_spark.session import shared_build


def _as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def knn_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors per query vector (excluding self-matches).

    The query side is broadcast; ties break on neighbor id for
    deterministic output.
    """
    from dblab_ece_trino_spark.session import ensure_parallelism

    corpus = ensure_parallelism(corpus)
    c = corpus.select(
        F.col(id_col).alias("cid"), _as_double(F.col(vec_col)).alias("cv")
    )
    q = queries.select(
        F.col(id_col).alias("qid"), _as_double(F.col(vec_col)).alias("qv")
    )
    scored = (
        c.join(F.broadcast(q), F.col("qid") != F.col("cid"))
        .select(
            "qid",
            "cid",
            F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("cos"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("cid").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "cid", "cos", "rank")
    )


# ------------------------------------------------------- hyperplane LSH ANN
def _hyperplanes(nbits: int, dim: int, seed: int = 7) -> list[list[float]]:
    """Fixed pseudo-random unit-free hyperplanes (deterministic, no RNG
    state: xorshift on a seeded counter mapped to [-1, 1])."""
    planes = []
    state = seed or 1
    for _ in range(nbits):
        row = []
        for _ in range(dim):
            state ^= (state << 13) & ((1 << 64) - 1)
            state ^= state >> 7
            state ^= (state << 17) & ((1 << 64) - 1)
            row.append(((state % 2000003) / 1000001.0) - 1.0)
        planes.append(row)
    return planes


def lsh_bucket_expr(vec: Column, planes: list[list[float]]) -> Column:
    """Bucket id = sign-bit signature of the vector against each plane.

    Pure JVM, one expression: the planes live in a nested literal array
    (Catalyst constant-folds it to a single array literal), the per-plane
    dot products come from ONE ``transform`` lambda, and the sign bits
    fold into the bucket id with one ``aggregate`` — the lambda bodies
    are generated once instead of per plane (the same expression-tree
    discipline as the MinHash fold; K separate aggregates compile and
    execute K copies of the dot-product code).
    """
    planes_arr = F.array(
        *[F.array(*[F.lit(p) for p in row]) for row in planes]
    )
    weights = F.array(*[F.lit(1 << i).cast("long") for i in range(len(planes))])
    dots = F.transform(
        planes_arr,
        lambda row: F.aggregate(
            F.zip_with(vec, row, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
    )
    return F.aggregate(
        F.zip_with(
            dots,
            weights,
            lambda d, w: F.when(d > 0, w).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def knn_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nbits: int = 8,
    dim: int = 64,
    probe_hamming: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: meet in hyperplane-sign buckets, re-rank exactly.

    Multi-probe matching: a corpus vector is a candidate when its bucket
    signature is within ``probe_hamming`` sign-bit flips of the query's —
    the standard recall fix for sign-LSH, since true neighbors often sit
    just across one or two hyperplanes.  The candidate fraction is
    sum(C(nbits, i), i<=probe_hamming) / 2^nbits (~14% for 8 bits, r=2).

    Scale shape: queries broadcast; the bucket test is one codegen'd
    bit_count per (corpus row × query), far cheaper than the 64-float
    cosine it gates.  For a big corpus the exact-bucket variant
    (probe_hamming=0, join on bucket equality) becomes a shuffle join on
    the bucket id — zero per-pair work before re-rank.
    """
    from dblab_ece_trino_spark.session import ensure_parallelism

    corpus = ensure_parallelism(corpus)
    planes = _hyperplanes(nbits, dim)
    c = corpus.select(
        F.col(id_col).alias("cid"), _as_double(F.col(vec_col)).alias("cv")
    ).withColumn("bucket", lsh_bucket_expr(F.col("cv"), planes))
    q = queries.select(
        F.col(id_col).alias("qid"), _as_double(F.col(vec_col)).alias("qv")
    ).withColumn("qbucket", lsh_bucket_expr(F.col("qv"), planes))
    if probe_hamming <= 0:
        match = F.col("bucket") == F.col("qbucket")
    else:
        match = (
            F.bit_count(
                F.col("bucket").bitwiseXOR(F.col("qbucket"))
            )
            <= probe_hamming
        )
    scored = (
        c.join(F.broadcast(q), (F.col("qid") != F.col("cid")) & match)
        .select(
            "qid",
            "cid",
            F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("cos"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("cid").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "cid", "cos", "rank")
    )


# ------------------------------------------------------------ query entries
def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dblab_ece_trino_spark.entrypoints import engine_for

    return engine_for(spark, sf_dir).catalogs.table("lake.llm.embeddings")


def _q_sim_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    return knn_bruteforce(emb, emb.filter(F.col("vec_id") < 10), k=5)


register(
    "sim_search_bruteforce",
    _q_sim_bruteforce,
    # DuckDB expresses the same top-5-per-query independently via a window
    # over list_cosine_similarity.
    oracle="""
    WITH scored AS (
      SELECT q.vec_id AS qid, c.vec_id AS cid,
             round(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6) AS cos
      FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
      WHERE q.vec_id < 10
    ),
    ranked AS (
      SELECT qid, cid, cos,
             row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid ASC) AS rank
      FROM scored
    )
    SELECT qid, cid, cos, rank FROM ranked WHERE rank <= 5
    """,
)


def _ann_invariants(ann: DataFrame, bf: DataFrame, queries: DataFrame, k: int,
                    recall_floor: float) -> DataFrame:
    """Project an ANN result down to oracle-checkable invariants (the
    op_approx_distinct pattern): bucket/centroid assignments are
    engine-specific, but these properties are deterministic facts the
    oracle can pin as constants —

    - ``n_queries``: every query was processed;
    - ``recall_ok``: mean recall@k against the in-engine exact
      brute-force top-k clears a floor set with wide margin under the
      measured value (ANN with no RNG is exactly reproducible, so the
      measured recall is a constant of the data — the floor only leaves
      room for a regenerated corpus);
    - ``ann_le_exact_ok``: no approximate neighbor scores above the
      query's exact best cosine (an ANN result that beats exact search
      means the scoring expression itself is wrong).
    """
    hits = (
        ann.join(bf.select("qid", "cid"), ["qid", "cid"])
        .groupBy("qid")
        .agg(F.count("*").alias("n_hits"))
    )
    best = bf.filter(F.col("rank") == 1).select("qid", F.col("cos").alias("best_cos"))
    per_q = (
        queries.select(F.col("vec_id").alias("qid"))
        .join(hits, "qid", "left")
        .join(
            ann.groupBy("qid").agg(F.max("cos").alias("ann_max")), "qid", "left"
        )
        .join(best, "qid", "left")
        .select(
            "qid",
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            F.coalesce(
                F.col("ann_max") <= F.col("best_cos") + 1e-9, F.lit(True)
            ).alias("le_exact"),
        )
    )
    return per_q.agg(
        F.count("*").alias("n_queries"),
        (F.sum("n_hits") / (float(k) * F.count("*")) >= recall_floor).alias(
            "recall_ok"
        ),
        F.min("le_exact").alias("ann_le_exact_ok"),
    )


_ANN_INVARIANT_ORACLE = """
    SELECT count(*) AS n_queries, true AS recall_ok, true AS ann_le_exact_ok
    FROM embeddings WHERE vec_id < 10
"""


def _q_sim_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 10)
    ann = knn_lsh(emb, queries, k=5, nbits=8)
    bf = knn_bruteforce(emb, queries, k=5)
    # floor 0.10 under measured recall@5 of 0.22 (sf0.01) / 0.32 (sf0.001)
    # on the synthetic unclustered embeddings — sign-LSH's known weak case
    return _ann_invariants(ann, bf, queries, k=5, recall_floor=0.10)


# Bucket assignments depend on the seeded hyperplanes, so raw neighbor
# rows are engine-specific — the registered entry projects to checked
# invariants instead (recall floor + score-boundedness); exact neighbor
# sets remain asserted against brute force in tests/test_similarity.py.
register("sim_search_lsh", _q_sim_lsh, oracle=_ANN_INVARIANT_ORACLE)


# --------------------------------------------------------------- IVF ANN
def _centroid_update(assigned: DataFrame, vec_col: str = "cv") -> DataFrame:
    """Elementwise mean per cluster: posexplode -> (cluster, pos) avg ->
    re-assemble ordered arrays.  All shuffle-native — this is k-means'
    reduce step expressed relationally."""
    exploded = assigned.select(
        "cluster", F.posexplode(vec_col).alias("pos", "x")
    )
    means = exploded.groupBy("cluster", "pos").agg(F.avg("x").alias("m"))
    return (
        means.groupBy("cluster")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))),
                lambda s: s.getField("m"),
            ).alias("centroid")
        )
    )


def _assign(
    vectors: DataFrame,
    centroids: DataFrame,
    n_best: int = 1,
    keep_rank: str | None = None,
) -> DataFrame:
    """Nearest-centroid assignment (top-``n_best`` for multi-probe):
    broadcast the (tiny) centroid table, score, window-rank.
    ``keep_rank`` names an output column carrying the 1-based centroid
    rank (the probe index a multi-probe consumer filters on)."""
    scored = vectors.join(F.broadcast(centroids)).withColumn(
        "sim", cosine(F.col("cv"), F.col("centroid"))
    )
    w = Window.partitionBy("vid").orderBy(F.col("sim").desc(), F.col("cluster").asc())
    out = (
        scored.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= n_best)
    )
    if keep_rank is not None:
        out = out.withColumnRenamed("__r", keep_rank)
        return out.drop("sim", "centroid")
    return out.drop("__r", "sim", "centroid")


def ivf_index(
    corpus: DataFrame,
    n_clusters: int = 16,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF coarse quantizer: k-means centroids via relational Lloyd steps.

    Deterministic init (first ``n_clusters`` vectors by id); each
    iteration is one broadcast-join assignment plus one shuffle for the
    centroid means — the canonical distributed k-means shape.  Returns
    (cluster, centroid).
    """
    from dblab_ece_trino_spark.session import ensure_parallelism, materialize

    v = ensure_parallelism(corpus).select(
        F.col(id_col).alias("vid"), _as_double(F.col(vec_col)).alias("cv")
    )
    v = materialize(v)
    centroids = materialize(
        v.orderBy("vid")
        .limit(n_clusters)
        .select(
            (F.row_number().over(Window.orderBy("vid")) - 1).alias("cluster"),
            F.col("cv").alias("centroid"),
        )
    )
    for _ in range(iters):
        assigned = _assign(v, centroids)
        centroids = materialize(_centroid_update(assigned))
    return centroids


def knn_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_clusters: int = 16,
    nprobe: int = 3,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    cells: DataFrame | None = None,
) -> DataFrame:
    """IVF search: corpus rows live in their nearest-centroid cell;
    queries probe their ``nprobe`` nearest cells and re-rank exactly.

    The scale shape vs hyperplane LSH: cells adapt to the data
    distribution (clustered embeddings get balanced cells where fixed
    hyperplanes don't), at the cost of building the index.  Candidate
    fraction ≈ nprobe / n_clusters.  Pass a prebuilt ``centroids`` /
    ``cells`` pair (``shared_ivf_build``) to amortize the index build
    across entries — the production economics, where ONE index serves
    every query workload.
    """
    from dblab_ece_trino_spark.session import ensure_parallelism, materialize

    if centroids is None:
        centroids = ivf_index(corpus, n_clusters, iters, id_col, vec_col)
    if cells is None:
        v = materialize(
            ensure_parallelism(corpus).select(
                F.col(id_col).alias("vid"),
                _as_double(F.col(vec_col)).alias("cv"),
            )
        )
        cells = _assign(v, centroids).withColumnRenamed(
            "vid", "cid"
        ).withColumnRenamed("cv", "ccv")
    corpus_cells = cells
    q = queries.select(
        F.col(id_col).alias("vid"), _as_double(F.col(vec_col)).alias("cv")
    )
    query_cells = _assign(q, centroids, n_best=nprobe).withColumnRenamed(
        "vid", "qid"
    ).withColumnRenamed("cv", "qv")
    scored = (
        corpus_cells.join(F.broadcast(query_cells), "cluster")
        .filter(F.col("qid") != F.col("cid"))
        .select(
            "qid",
            "cid",
            F.round(cosine(F.col("qv"), F.col("ccv")), 6).alias("cos"),
        )
        .distinct()  # a (q, c) pair can meet in several probed cells
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("cid").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "cid", "cos", "rank")
    )


@shared_build("quant_codes")
def shared_quant_build(spark: SparkSession, sf_dir: str, levels: int = 255):
    """ONE global scalar-quantization build per (session, sf_dir) — the
    shared_ivf_build / shared_coorder_pairs precedent applied to the
    quantized-similarity family: ``sim_quantized_mips``,
    ``sim_knn_classify`` and ``sim_epsilon_ball`` each re-derived the
    SAME full-corpus (min, max) scalar scan (a corpus pass + a driver
    collect apiece) and their corpus code projections per query.  The
    build is deterministic (one agg + elementwise floor transforms), so
    reuse is value-identical; both code frames are materialized so
    cached references stay valid for the life of the session.

    Returns ``(mn, mx, anchored, centered)``: the global scalars, the
    min-anchored code frame (cid, cc, sum_c — the quantized-MIPS
    format), and the centered code frame (cid, cc — the epsilon-ball
    format).  dbscan is EXCLUDED by design: its registered form
    quantizes a bounded id-slice, so its (mn, mx) are slice-scoped and
    not value-identical with these.

    At 100 TB this is one corpus scan per dashboard instead of one per
    quantized query — and the (mn, mx) pair is frozen index metadata
    in a production ANN system anyway.
    """
    from dblab_ece_trino_spark.session import ensure_parallelism, materialize

    corpus = ensure_parallelism(_emb(spark, sf_dir))
    row = (
        corpus.select(_as_double(F.col("embedding")).alias("v"))
        .agg(
            F.min(F.array_min("v")).alias("mn"),
            F.max(F.array_max("v")).alias("mx"),
        )
        .collect()[0]
    )
    mn, mx = float(row["mn"]), float(row["mx"])
    s_unit = (mx - mn) / float(levels)
    mid = (mn + mx) / 2.0

    def q(anchor):
        return F.transform(
            _as_double(F.col("embedding")),
            lambda x: F.floor(
                (x - F.lit(anchor)) / F.lit(s_unit) + F.lit(0.5)
            ).cast("long"),
        )

    anchored = materialize(
        corpus.select(
            F.col("vec_id").alias("cid"), q(mn).alias("cc")
        ).withColumn(
            "sum_c",
            F.aggregate(
                F.col("cc"), F.lit(0).cast("long"), lambda a, v: a + v
            ),
        )
    )
    centered = materialize(
        corpus.select(F.col("vec_id").alias("cid"), q(mid).alias("cc"))
    )
    return mn, mx, anchored, centered


@shared_build("ivf_build")
def shared_ivf_build(
    spark: SparkSession,
    sf_dir: str,
    k: int = 5,
    n_clusters: int = 16,
    iters: int = 3,
):
    """ONE IVF index build (centroids + materialized corpus cell
    assignment) plus the shared 10-query probe frame and its exact
    brute-force top-k, cached per (session, sf_dir, params) —
    ``sim_search_ivf``, ``sim_recall_at_k`` and ``sim_ivf_probe_sweep``
    all measure the SAME index, so building it three times was pure
    waste (round-10 verdict perf item: 9.7 s combined, #3/#4 in the
    headline).  Deterministic construction (seeded init, relational
    Lloyd steps) means reuse is value-identical; every frame is
    localCheckpointed, so cached references stay valid for the life of
    the session regardless of later catalog switches.
    """
    from dblab_ece_trino_spark.session import ensure_parallelism, materialize

    emb = _emb(spark, sf_dir)
    queries = materialize(emb.filter(F.col("vec_id") < 10))
    centroids = ivf_index(emb, n_clusters, iters)
    v = materialize(
        ensure_parallelism(emb).select(
            F.col("vec_id").alias("vid"),
            _as_double(F.col("embedding")).alias("cv"),
        )
    )
    cells = materialize(
        _assign(v, centroids)
        .withColumnRenamed("vid", "cid")
        .withColumnRenamed("cv", "ccv")
    )
    bf = materialize(knn_bruteforce(emb, queries, k=k))
    return emb, queries, centroids, cells, bf


def _q_sim_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb, queries, centroids, cells, bf = shared_ivf_build(spark, sf_dir)
    ann = knn_ivf(emb, queries, k=5, n_clusters=16, nprobe=4,
                  centroids=centroids, cells=cells)
    # floor 0.50 under measured recall@5 of 0.88 at both gate SFs
    return _ann_invariants(ann, bf, queries, k=5, recall_floor=0.50)


# centroid init/iteration details are engine-specific — same invariant
# projection as sim_search_lsh; neighbor-set recall vs brute force is
# additionally asserted in tests/test_similarity.py.
register("sim_search_ivf", _q_sim_ivf, oracle=_ANN_INVARIANT_ORACLE)


# ------------------------------------------------- ANN recall measurement
def recall_at_k(
    ann: DataFrame, bf: DataFrame, queries: DataFrame, k: int,
    method: str, floor_ppm: int,
) -> DataFrame:
    """Exact recall@k of an ANN result against the in-engine exact
    brute-force top-k: one integer hit count (|ann ∩ bf| joined on
    (qid, cid)) over k x n_queries, compared against a ppm floor with
    integer cross-multiplication (hits * 1e6 >= floor_ppm * k * n) —
    no float division anywhere, so the decision replays exactly.

    Queries with an empty ANN candidate set (a real LSH failure mode —
    all neighbors hashed away) contribute 0 hits by construction: the
    denominator is k x |queries|, not k x |matched queries|.

    Scale shape: three 1-row aggregates broadcast-joined — the ANN and
    brute-force frames carry their own economics (queries broadcast,
    candidates gated before exact scoring); the measurement adds one
    equi-join on (qid, cid) and constant-size frames after that.
    """
    hits = (
        ann.join(bf.select("qid", "cid"), ["qid", "cid"])
        .agg(F.count("*").cast("long").alias("h"))
        .withColumn("__j", F.lit(1))
    )
    nq = (
        queries.agg(F.count("*").cast("long").alias("n_queries"))
        .withColumn("__j", F.lit(1))
    )
    return (
        nq.join(F.broadcast(hits), "__j")
        .select(
            F.lit(method).alias("method"),
            "n_queries",
            F.lit(k).cast("long").alias("k"),
            F.lit(floor_ppm).cast("long").alias("floor_ppm"),
            (
                F.col("h") * F.lit(1_000_000)
                >= F.lit(floor_ppm) * F.lit(k) * F.col("n_queries")
            ).alias("recall_ok"),
        )
    )


def _q_sim_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded recall@5 scoreboard for the ANN surface: knn_lsh and
    knn_ivf measured against knn_bruteforce (floors set with wide
    margin under the measured values — pinned tighter in
    tests/test_similarity.py), plus the brute-force-vs-itself row whose
    floor is EXACTLY 1e6 ppm — it passes only when the hit join
    recovers every one of the k x n_queries pairs, anchoring the
    measurement mechanics themselves."""
    # index + query frame + brute-force ground truth all come from the
    # session-shared build (one k-means, one exact top-k — amortized
    # with sim_search_ivf and sim_ivf_probe_sweep)
    emb, queries, centroids, cells, bf = shared_ivf_build(spark, sf_dir)
    k = 5
    lsh = knn_lsh(emb, queries, k=k, nbits=8)
    ivf = knn_ivf(emb, queries, k=k, n_clusters=16, nprobe=4,
                  centroids=centroids, cells=cells)
    out = (
        recall_at_k(bf, bf, queries, k, "bruteforce", 1_000_000)
        .unionByName(recall_at_k(ivf, bf, queries, k, "ivf", 500_000))
        .unionByName(recall_at_k(lsh, bf, queries, k, "lsh", 100_000))
    )
    return out.orderBy("method")


register(
    "sim_recall_at_k",
    _q_sim_recall_at_k,
    # The measured recalls are data constants (no RNG anywhere:
    # seeded hyperplanes, deterministic k-means), so the oracle pins
    # the floor verdicts; n_queries is derived from the data, not a
    # literal.
    oracle="""
    WITH nq AS (SELECT CAST(count(*) AS BIGINT) AS n_queries
                FROM embeddings WHERE vec_id < 10)
    SELECT m.method, nq.n_queries, CAST(5 AS BIGINT) AS k,
           m.floor_ppm, true AS recall_ok
    FROM (VALUES ('bruteforce', CAST(1000000 AS BIGINT)),
                 ('ivf', CAST(500000 AS BIGINT)),
                 ('lsh', CAST(100000 AS BIGINT)))
         AS m(method, floor_ppm), nq
    ORDER BY m.method
    """,
)


# ------------------------------------------------------- semantic dedup
def semantic_dedup(
    corpus: DataFrame,
    threshold: float = 0.9,
    n_clusters: int | None = None,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic deduplication: cluster embeddings with the
    IVF coarse quantizer, then flag within-cluster near-duplicates.

    A vector is a duplicate when some LOWER-id member of its cluster has
    cosine ≥ ``threshold``; the canonical is the lowest such id (both
    aggregates are deterministic).  Returns (dup_id, canonical_id,
    max_cos).

    Shape at 100 TB: the pairwise stage is WITHIN-CLUSTER only — one
    hash shuffle on the cluster id, candidate count sum-of-cell-sizes²
    instead of n².  ``n_clusters`` defaults to ``max(16, floor(sqrt(n)))``
    — the classic IVF balance: total work is assignment n·k plus
    pairwise n²/k, minimized at k = sqrt(n) where both stages are
    n^1.5.  A FIXED k turns 3x data into ~9x pairwise work (measured
    349 s at x30 vs 36 s at x10 on the verbatim-replica scale set);
    k ∝ n bounds cells but makes the Lloyd assignment the n·k
    quadratic term instead — sqrt keeps the two in balance.  Past
    ~10^8 vectors, swap the relational assigner for an
    ANN/GEMM-accelerated one (the cluster blocking and shuffle shape
    here stay the same); the relational form is the portable baseline.
    The count() that sizes k is one action over the narrow id column;
    pass ``n_clusters`` explicitly to skip it.  Cluster assignment is a
    broadcast join against the centroid table.  Embedding-payload rows
    cross exactly one shuffle.
    """
    import math

    from dblab_ece_trino_spark.session import ensure_parallelism, materialize

    if n_clusters is None:
        n_clusters = max(16, math.isqrt(corpus.select(id_col).count()))
    centroids = ivf_index(corpus, n_clusters, iters, id_col, vec_col)
    v = materialize(
        ensure_parallelism(corpus).select(
            F.col(id_col).alias("vid"), _as_double(F.col(vec_col)).alias("cv")
        )
    )
    cells = _assign(v, centroids)
    a = cells.select(
        "cluster", F.col("vid").alias("aid"), F.col("cv").alias("av")
    )
    b = cells.select(
        "cluster", F.col("vid").alias("bid"), F.col("cv").alias("bv")
    )
    return (
        a.join(b, "cluster")
        .filter(F.col("aid") < F.col("bid"))
        .withColumn("cos", F.round(cosine(F.col("av"), F.col("bv")), 6))
        .filter(F.col("cos") >= threshold)
        .groupBy("bid")
        .agg(
            F.min("aid").alias("canonical_id"),
            F.max("cos").alias("max_cos"),
        )
        .select(F.col("bid").alias("dup_id"), "canonical_id", "max_cos")
    )


_PLANT_OFFSET = 1_000_000


def _q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Planted-twin invariant (the dedup_simhash pattern, upgraded to a
    full value check): exact copies of the first 10 vectors are planted
    at ``vec_id + 1_000_000`` and the operator must recover EXACTLY the
    10 (plant, original, cos=1.0) pairs —

    - identical vectors always share an IVF cell (the assignment ranks
      (sim DESC, cluster ASC), both deterministic), so planted-twin
      recall through the cluster blocking is 1.0 by construction, not
      probabilistically;
    - the corpus has no natural pair above the 0.9 threshold (max
      measured pairwise cosine 0.51 across the gate SFs — the synthetic
      embeddings are near-random), so the planted pairs are the entire
      expected output and any extra row is a precision failure the hash
      catches.
    """
    emb = _emb(spark, sf_dir)
    plants = (
        emb.filter(F.col("vec_id") < 10)
        .withColumn("vec_id", F.col("vec_id") + F.lit(_PLANT_OFFSET))
    )
    return semantic_dedup(emb.unionByName(plants), threshold=0.9).orderBy(
        "dup_id"
    )


register(
    "dedup_semantic",
    _q_dedup_semantic,
    oracle=f"""
    SELECT CAST(vec_id + {_PLANT_OFFSET} AS BIGINT) AS dup_id,
           vec_id AS canonical_id,
           CAST(1.0 AS DOUBLE) AS max_cos
    FROM embeddings WHERE vec_id < 10
    ORDER BY dup_id
    """,
)


# ------------------------------------------------------------- MIPS top-k
def dot_product(a: Column, b: Column) -> Column:
    """Inner product of two array<double> columns, JVM-side."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def mips_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact maximum-inner-product top-k per query (recommendation /
    retrieval scoring where vector NORM CARRIES SIGNAL, so cosine is the
    wrong metric).

    Same shape as knn_bruteforce: broadcast queries, one corpus scan,
    per-query WindowGroupLimit top-k — no shuffle of the corpus side.
    Ordering is on the ROUNDED score with neighbor-id tiebreak
    (deterministic across engines).  The scale path for MIPS is the
    norm-augmentation reduction to cosine ANN (append sqrt(M² − |v|²)
    to each corpus vector, 0 to queries; Shrivastava & Li's asymmetric
    LSH) — the reduction's rank-equivalence is pinned by
    tests/test_similarity.py so the LSH/IVF entries above become MIPS
    indexes by feeding them the augmented vectors.
    """
    from dblab_ece_trino_spark.session import ensure_parallelism

    corpus = ensure_parallelism(corpus)
    c = corpus.select(
        F.col(id_col).alias("cid"), _as_double(F.col(vec_col)).alias("cv")
    )
    q = queries.select(
        F.col(id_col).alias("qid"), _as_double(F.col(vec_col)).alias("qv")
    )
    scored = c.join(F.broadcast(q), F.col("qid") != F.col("cid")).select(
        "qid",
        "cid",
        F.round(dot_product(F.col("qv"), F.col("cv")), 6).alias("ip"),
    )
    w = Window.partitionBy("qid").orderBy(F.col("ip").desc(), F.col("cid").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("qid", "cid", "ip", "rank")
    )


def _q_sim_mips(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    return mips_topk(emb, emb.filter(F.col("vec_id") < 8), k=5)


register(
    "sim_mips_topk",
    _q_sim_mips,
    oracle="""
    WITH scored AS (
      SELECT q.vec_id AS qid, c.vec_id AS cid,
             round(list_inner_product(q.embedding::DOUBLE[],
                                      c.embedding::DOUBLE[]), 6) AS ip
      FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
      WHERE q.vec_id < 8
    ),
    ranked AS (
      SELECT qid, cid, ip,
             CAST(row_number() OVER (
               PARTITION BY qid ORDER BY ip DESC, cid ASC) AS INT) AS rank
      FROM scored
    )
    SELECT qid, cid, ip, rank FROM ranked WHERE rank <= 5
    """,
)


# ---------------------------------------------- int8 scalar quantization
def quantized_mips_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    dim: int = 64,
    levels: int = 255,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    mnmx: tuple | None = None,
    corpus_codes: DataFrame | None = None,
) -> DataFrame:
    """MIPS top-k over GLOBALLY scalar-quantized vectors (the int8 SQ
    storage format of every production ANN index — 4-8x memory cut, and
    the dot product becomes exact integer arithmetic).

    Quantization uses one global (min, max): code = floor((x-mn)/s_unit
    + 0.5) with s_unit = (mx-mn)/levels.  The approximate inner product
    then has the CLOSED FORM

        ip ≈ d·mn² + mn·s·(Σq_a + Σq_b) + s²·Σ q_a q_b

    whose only data terms (Σq, Σ q_a q_b) are EXACT INTEGER sums —
    associative under any partitioning — so the score, unlike a float
    dot product, is bit-identical on every engine and every cluster
    layout (the fixed-point PageRank discipline applied to ANN).  The
    finishing expression is per-row IEEE arithmetic on those integers.

    Shape: one corpus scan for (codes, Σq) as an array projection, a
    broadcast of the quantized queries, integer zip_with dot, per-query
    WindowGroupLimit — identical plan economics to mips_topk but the
    hot multiply-accumulate runs on BIGINT codes (int8-width values).
    Two bounded driver scalars (global min/max), same as pagerank's
    node count.
    """
    from dblab_ece_trino_spark.session import ensure_parallelism

    corpus = ensure_parallelism(corpus)
    if mnmx is not None:
        mn, mx = float(mnmx[0]), float(mnmx[1])
    else:
        both = corpus.select(_as_double(F.col(vec_col)).alias("v"))
        row = both.agg(
            F.min(F.array_min("v")).alias("mn"),
            F.max(F.array_max("v")).alias("mx"),
        ).collect()[0]
        mn, mx = float(row["mn"]), float(row["mx"])
    s_unit = (mx - mn) / float(levels)

    def codes(col):
        return F.transform(
            _as_double(col),
            lambda x: F.floor((x - F.lit(mn)) / F.lit(s_unit) + F.lit(0.5)).cast(
                "long"
            ),
        )

    def sum_codes(c):
        return F.aggregate(c, F.lit(0).cast("long"), lambda a, v: a + v)

    c = corpus_codes if corpus_codes is not None else corpus.select(
        F.col(id_col).alias("cid"), codes(F.col(vec_col)).alias("cc")
    ).withColumn("sum_c", sum_codes(F.col("cc")))
    q = queries.select(
        F.col(id_col).alias("qid"), codes(F.col(vec_col)).alias("qc")
    ).withColumn("sum_q", sum_codes(F.col("qc")))
    sab = F.aggregate(
        F.zip_with(F.col("qc"), F.col("cc"), lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda a, v: a + v,
    )
    scored = (
        c.join(F.broadcast(q), F.col("qid") != F.col("cid"))
        .withColumn("sab", sab)
        .withColumn(
            "qip",
            F.round(
                F.lit(float(dim) * mn * mn)
                + F.lit(mn * s_unit) * (F.col("sum_q") + F.col("sum_c"))
                + F.lit(s_unit * s_unit) * F.col("sab"),
                6,
            ),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("qip").desc(), F.col("cid").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("qid", "cid", "qip", "rank")
    )


def _q_sim_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    mn, mx, anchored, _ = shared_quant_build(spark, sf_dir)
    emb = _emb(spark, sf_dir)
    return quantized_mips_topk(
        emb, emb.filter(F.col("vec_id") < 8), k=5,
        mnmx=(mn, mx), corpus_codes=anchored,
    )


# Shared DuckDB replay of the quantized-MIPS ranking (range(64) dim
# explode with 1-based list indexing, global min/max scalars, integer
# code sums, identical closed-form finish — same exact integers, same
# per-row IEEE expression, same rounding).  Composed by the
# sim_quantized_mips oracle and the sim_knn_classify oracle so both
# entries rank by definitionally the SAME pipeline.
_QUANT_RANKED_CTES = """dims AS (
      SELECT vec_id, t.i AS dim, CAST(embedding[t.i + 1] AS DOUBLE) AS val
      FROM embeddings, range(64) t(i)
    ),
    st AS (
      SELECT min(val) AS mn, (max(val) - min(val)) / 255 AS s FROM dims
    ),
    codes AS (
      SELECT d.vec_id, d.dim,
             CAST(floor((d.val - st.mn) / st.s + 0.5) AS BIGINT) AS q
      FROM dims d CROSS JOIN st
    ),
    vecs AS (
      SELECT vec_id, CAST(sum(q) AS BIGINT) AS sum_q FROM codes GROUP BY vec_id
    ),
    pairs AS (
      SELECT a.vec_id AS qid, b.vec_id AS cid,
             CAST(sum(a.q * b.q) AS BIGINT) AS sab
      FROM codes a
      JOIN codes b ON a.dim = b.dim AND a.vec_id <> b.vec_id
      WHERE a.vec_id < 8
      GROUP BY a.vec_id, b.vec_id
    ),
    scored AS (
      SELECT p.qid, p.cid,
             round(64 * st.mn * st.mn
                   + (st.mn * st.s) * (vq.sum_q + vc.sum_q)
                   + (st.s * st.s) * p.sab, 6) AS qip
      FROM pairs p
      CROSS JOIN st
      JOIN vecs vq ON vq.vec_id = p.qid
      JOIN vecs vc ON vc.vec_id = p.cid
    ),
    ranked AS (
      SELECT qid, cid, qip,
             CAST(row_number() OVER (
               PARTITION BY qid ORDER BY qip DESC, cid ASC) AS INT) AS rank
      FROM scored
    )"""

register(
    "sim_quantized_mips",
    _q_sim_quantized,
    oracle=f"""
    WITH {_QUANT_RANKED_CTES}
    SELECT qid, cid, qip, rank FROM ranked WHERE rank <= 5
    """,
)


# ------------------------------------------------- kNN classification
def knn_classify(
    topk: DataFrame, labels: DataFrame, k: int = 5
) -> DataFrame:
    """Majority-vote kNN classification over an already-ranked
    neighbor frame: join each of the k neighbors to its label, count
    votes per (query, label), keep the winner (ties to the smallest
    label — deterministic on both engines).  The retrieval-to-
    prediction step of every embedding-based labeler (quality tiers,
    language buckets, topic routing) — downstream of ANY neighbor
    source (brute force, LSH, IVF, quantized MIPS).

    100 TB shape: the neighbor frame is |queries| x k rows and the
    label frame broadcasts; the vote is one tiny keyed aggregate —
    the expensive part stays in the neighbor source's (already
    measured) economics.
    """
    votes = (
        topk.join(F.broadcast(labels), "cid")
        .groupBy("qid", "lbl")
        .agg(F.count(F.lit(1)).cast("long").alias("votes"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("votes"), F.asc("lbl"))
    return (
        votes.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "qid",
            F.col("lbl").alias("label_pred"),
            "votes",
            F.lit(k).cast("long").alias("k"),
        )
    )


def _q_sim_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded entry: quantized-MIPS top-5 neighbors (the exact-integer
    ranking the green sim_quantized_mips entry pins), md5-derived
    4-class labels, majority vote with smallest-label ties, plus the
    query's own label and the self-consistency flag."""
    from dblab_ece_trino_spark.operators.sampling import md5_bucket

    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 8)
    mn, mx, anchored, _ = shared_quant_build(spark, sf_dir)
    topk = quantized_mips_topk(
        emb, queries, k=5, mnmx=(mn, mx), corpus_codes=anchored
    )
    labels = emb.select(
        F.col("vec_id").alias("cid"),
        (md5_bucket(F.col("vec_id"), "knn-label") % 4).cast("int").alias(
            "lbl"
        ),
    )
    pred = knn_classify(topk, labels, k=5)
    truth = queries.select(
        F.col("vec_id").alias("qid"),
        (md5_bucket(F.col("vec_id"), "knn-label") % 4).cast("int").alias(
            "label_true"
        ),
    )
    return (
        pred.join(truth, "qid")
        .select(
            "qid", "label_pred", "votes", "k", "label_true",
            (F.col("label_pred") == F.col("label_true")).alias("self_match"),
        )
        .orderBy("qid")
    )


def _knn_classify_oracle() -> str:
    from dblab_ece_trino_spark.operators.sampling import _md5_bucket_sql

    lab = _md5_bucket_sql("vec_id", "knn-label")
    return f"""
    WITH {_QUANT_RANKED_CTES},
    topk AS (SELECT qid, cid FROM ranked WHERE rank <= 5),
    lab AS (
      SELECT vec_id AS cid, CAST(({lab}) % 4 AS INT) AS lbl
      FROM embeddings
    ),
    votes AS (
      SELECT t.qid, l.lbl, CAST(count(*) AS BIGINT) AS votes
      FROM topk t JOIN lab l ON l.cid = t.cid
      GROUP BY t.qid, l.lbl
    ),
    best AS (
      SELECT qid, lbl, votes,
             row_number() OVER (PARTITION BY qid
                                ORDER BY votes DESC, lbl ASC) AS rn
      FROM votes
    )
    SELECT b.qid, b.lbl AS label_pred, b.votes, CAST(5 AS BIGINT) AS k,
           t.lbl AS label_true,
           b.lbl = t.lbl AS self_match
    FROM best b JOIN lab t ON t.cid = b.qid
    WHERE b.rn = 1
    ORDER BY b.qid
    """


register("sim_knn_classify", _q_sim_knn_classify,
         oracle=_knn_classify_oracle())


# ------------------------------------------------- epsilon-ball search
def epsilon_ball_search(
    corpus: DataFrame,
    queries: DataFrame,
    t_num: int = 1,
    t_den: int = 4,
    levels: int = 255,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    mnmx: tuple | None = None,
    corpus_codes: DataFrame | None = None,
) -> DataFrame:
    """Range similarity search: ALL corpus vectors whose quantized inner
    product with a query reaches ``t_num/t_den`` of the query's own
    self-product — the threshold companion to the top-k MIPS entries
    (retrieval wants "everything at least this similar", dedup wants a
    radius, top-k wants a count; a complete ANN surface needs both).

    Quantization is CENTERED scalar quantization: one global (min, max)
    pair, codes = floor((x - mid) / s + 0.5) with mid = (mn+mx)/2 —
    signed int8-range codes, so inner products behave like centered
    correlations and the relative threshold discriminates (the
    min-anchored codes of sim_quantized_mips are all-positive, which
    a self-relative threshold cannot separate).  The KEEP DECISION is
    pure integer cross-multiplication over exact integer sums:
    t_den * (sum q_a q_b) >= t_num * (sum q_q q_q) — associative under
    any partitioning, bit-identical on both engines; no float ever
    feeds it (the quantized-MIPS discipline, taken one step further:
    this entry never even computes a float score).

    Shape: one corpus scan, broadcast quantized queries, integer
    zip_with dot, filter — no window, no shuffle after the join at any
    corpus size.  Two bounded driver scalars (global min/max).
    """
    from dblab_ece_trino_spark.session import ensure_parallelism

    corpus = ensure_parallelism(corpus)
    if mnmx is not None:
        mn, mx = float(mnmx[0]), float(mnmx[1])
    else:
        row = (
            corpus.select(_as_double(F.col(vec_col)).alias("v"))
            .agg(
                F.min(F.array_min("v")).alias("mn"),
                F.max(F.array_max("v")).alias("mx"),
            )
            .collect()[0]
        )
        mn, mx = float(row["mn"]), float(row["mx"])
    mid = (mn + mx) / 2.0
    s_unit = (mx - mn) / float(levels)

    def codes(col):
        return F.transform(
            _as_double(col),
            lambda x: F.floor((x - F.lit(mid)) / F.lit(s_unit) + F.lit(0.5)).cast(
                "long"
            ),
        )

    c = (
        corpus_codes
        if corpus_codes is not None
        else corpus.select(
            F.col(id_col).alias("cid"), codes(F.col(vec_col)).alias("cc")
        )
    )
    q = queries.select(
        F.col(id_col).alias("qid"), codes(F.col(vec_col)).alias("qc")
    ).withColumn(
        "sqq",
        F.aggregate(
            F.zip_with(F.col("qc"), F.col("qc"), lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda a, v: a + v,
        ),
    )
    sab = F.aggregate(
        F.zip_with(F.col("qc"), F.col("cc"), lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda a, v: a + v,
    )
    return (
        c.join(F.broadcast(q), F.col("qid") != F.col("cid"))
        .withColumn("sab", sab)
        .filter(F.expr(f"{t_den} * sab >= {t_num} * sqq"))
        .select("qid", "cid", F.col("sab").cast("long"), F.col("sqq").cast("long"))
        .orderBy("qid", "cid")
    )


def _q_sim_epsilon_ball(spark: SparkSession, sf_dir: str) -> DataFrame:
    mn, mx, _, centered = shared_quant_build(spark, sf_dir)
    emb = _emb(spark, sf_dir)
    return epsilon_ball_search(
        emb, emb.filter(F.col("vec_id") < 8),
        mnmx=(mn, mx), corpus_codes=centered,
    )


register(
    "sim_epsilon_ball",
    _q_sim_epsilon_ball,
    oracle="""
    WITH dims AS (
      SELECT vec_id, t.i AS dim, CAST(embedding[t.i + 1] AS DOUBLE) AS val
      FROM embeddings, range(64) t(i)
    ),
    st AS (
      SELECT (min(val) + max(val)) / 2 AS mid,
             (max(val) - min(val)) / 255 AS s
      FROM dims
    ),
    codes AS (
      SELECT d.vec_id, d.dim,
             CAST(floor((d.val - st.mid) / st.s + 0.5) AS BIGINT) AS q
      FROM dims d CROSS JOIN st
    ),
    selfdot AS (
      SELECT vec_id, CAST(sum(q * q) AS BIGINT) AS sqq
      FROM codes GROUP BY vec_id
    ),
    pairs AS (
      SELECT a.vec_id AS qid, b.vec_id AS cid,
             CAST(sum(a.q * b.q) AS BIGINT) AS sab
      FROM codes a
      JOIN codes b ON a.dim = b.dim AND a.vec_id <> b.vec_id
      WHERE a.vec_id < 8
      GROUP BY a.vec_id, b.vec_id
    )
    SELECT p.qid, p.cid, p.sab, s.sqq
    FROM pairs p JOIN selfdot s ON s.vec_id = p.qid
    WHERE 4 * p.sab >= 1 * s.sqq
    ORDER BY p.qid, p.cid
    """,
)


# ------------------------------------------------------------------- DBSCAN
DBSCAN_T_NUM = 3
DBSCAN_T_DEN = 8
DBSCAN_MIN_DEG = 3  # core = at least this many eps-neighbors (excl. self)
DBSCAN_SLICE = 2000


def _eps_pairs_exact(c: DataFrame, t_num: int, t_den: int) -> DataFrame:
    """Exact quantized-cosine eps-graph edges (ia, ib) with ia < ib over
    a code frame (cid, cc: array<long>, scc: long): the integer eps
    decision s_ab > 0 AND t_den^2*s_ab^2 >= t_num^2*s_aa*s_bb evaluated
    for ALL pairs by an Arrow-batched int64 matrix multiply — each
    mapInPandas batch multiplies its code block against the full
    broadcast code matrix (one numpy matmul per batch, exact int64, so
    the edge set is bit-identical to the per-pair SQL evaluation the
    DuckDB oracle runs).

    The code matrix reaches the workers through a driver round-trip —
    the same collect-then-broadcast a broadcast hash join performs —
    which is bounded BY CONSTRUCTION: this exact all-pairs kernel is
    only ever invoked slice-/block-scoped (dbscan's registered form is
    the vec_id < 2000 slice; at production scale the pair source is
    the LSH/IVF blocking and this kernel runs within a block/cell).
    Replaces a BroadcastNestedLoopJoin + per-pair zip_with/aggregate
    lambda that spent ~1.3 us/pair in HOF interpretation (2.5 s for the
    2M-pair slice; the matmul form is ~10x faster wall).
    """
    import numpy as np
    import pandas as pd

    rows = c.select("cid", "cc", "scc").collect()
    ids = np.fromiter((r["cid"] for r in rows), dtype=np.int64, count=len(rows))
    mat = np.array([r["cc"] for r in rows], dtype=np.int64)
    sq = np.fromiter((r["scc"] for r in rows), dtype=np.int64, count=len(rows))
    bc = c.sparkSession.sparkContext.broadcast((ids, mat, sq))
    tn2, td2 = t_num * t_num, t_den * t_den

    def gen(batches):
        b_ids, b_mat, b_sq = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            block = np.stack(pdf["cc"].to_numpy()).astype(np.int64)
            a_id = pdf["cid"].to_numpy().astype(np.int64)
            a_sq = pdf["scc"].to_numpy().astype(np.int64)
            s = block @ b_mat.T
            ok = (
                (s > 0)
                & (td2 * s * s >= tn2 * a_sq[:, None] * b_sq[None, :])
                & (a_id[:, None] < b_ids[None, :])
            )
            ii, jj = np.nonzero(ok)
            yield pd.DataFrame({"ia": a_id[ii], "ib": b_ids[jj]})

    return c.mapInPandas(gen, schema="ia long, ib long")


def _cc_min_label_bounded(edges: DataFrame) -> DataFrame:
    """Connected components of a BOUNDED edge set -> (sid, cluster)
    where cluster is the minimum node id in the component — the same
    contract as dedup.dedup_clusters, computed by one union-find pass
    (path halving) instead of the distributed label-propagation loop.

    Scope discipline: this is the within-block/slice kernel companion
    to _eps_pairs_exact — the input is only ever the eps-graph of a
    bounded code block, so the single edge collect is the same bounded
    driver round-trip the broadcast code matrix already makes (and the
    per-round job overhead of the distributed loop — ~0.4 s x
    O(eccentricity) rounds — disappears for a graph that fits in one
    task anyway).  Unbounded-scale CC remains dedup.dedup_clusters
    (the hash-partitioned label table); equivalence of the two on the
    same edge set is pinned in tests/test_similarity.py.
    """
    rows = edges.collect()
    parent: dict = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]  # path halving
            x = parent[x]
        return x

    for r in rows:
        a, b = r[0], r[1]
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by min id so the root IS the component minimum
            if ra < rb:
                parent[rb] = ra
            else:
                parent[ra] = rb
    out = [(n, find(n)) for n in parent]
    return edges.sparkSession.createDataFrame(
        out or [], schema="sid long, cluster long"
    )


def dbscan(
    emb: DataFrame,
    t_num: int = DBSCAN_T_NUM,
    t_den: int = DBSCAN_T_DEN,
    min_deg: int = DBSCAN_MIN_DEG,
    levels: int = 255,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Density-based clustering (DBSCAN, Ester/Kriegel/Sander/Xu 1996)
    over the embedding column: eps-neighbors by quantized cosine
    (|cos| >= t_num/t_den with cos > 0), CORE points with >= min_deg
    neighbors, clusters = connected components of the core-core
    eps-graph (_cc_min_label_bounded — the bounded within-block
    union-find; the distributed dedup.dedup_clusters loop is the
    unbounded-scale path, equivalence pinned in tests), BORDER points
    adopt the smallest cluster among their core neighbors, everything
    else is NOISE (cluster -1).

    Determinism (the epsilon-ball discipline, symmetrized): vectors
    quantize to centered integer codes, and the eps decision is pure
    integer cross-multiplication — s_ab > 0 AND t_den^2 * s_ab^2 >=
    t_num^2 * s_aa * s_bb — so the neighbor graph is bit-identical on
    both engines and the cluster labels (min reachable core id) follow.
    Code bound: |code| <= 128, dim 64 -> s_ab <= ~1.05e6, squared
    ~1.1e12, x t_den^2 = 64 -> ~7e13 << 2^63.

    Scale bounding (the dedup_embedding precedent): the REGISTERED form
    runs exact all-pairs over a bounded id-slice (vec_id < 2000 ->
    <= ~2M candidate pairs at ANY corpus scale, a constant plan cost);
    at production scale the pair generation is the LSH/IVF blocking the
    ANN entries already ship (SemDeDup runs the same shape within IVF
    cells), with this exact form as the within-block kernel.  Two
    bounded driver scalars (the slice min/max for quantization).
    """
    from dblab_ece_trino_spark.session import ensure_parallelism, materialize

    emb = ensure_parallelism(emb)
    row = (
        emb.select(_as_double(F.col(vec_col)).alias("v"))
        .agg(
            F.min(F.array_min("v")).alias("mn"),
            F.max(F.array_max("v")).alias("mx"),
        )
        .collect()[0]
    )
    mn, mx = float(row["mn"]), float(row["mx"])
    mid, s_unit = (mn + mx) / 2.0, (mx - mn) / float(levels)
    codes = F.transform(
        _as_double(F.col(vec_col)),
        lambda x: F.floor((x - F.lit(mid)) / F.lit(s_unit) + F.lit(0.5)).cast(
            "long"
        ),
    )
    c = materialize(
        emb.select(F.col(id_col).alias("cid"), codes.alias("cc")).withColumn(
            "scc",
            F.aggregate(
                F.zip_with(F.col("cc"), F.col("cc"), lambda a, b: a * b),
                F.lit(0).cast("long"),
                lambda a, v: a + v,
            ),
        )
    )
    # Materialize the HALF edge set, not the symmetrized union: the
    # union's two branches would each evaluate the Arrow matmul kernel
    # (a lazy mapInPandas runs once per consuming branch), doubling the
    # all-pairs work before the checkpoint even starts (round-16
    # optimization).  The symmetrized view is two cheap scans of the
    # stored half frame.
    half = materialize(_eps_pairs_exact(c, t_num, t_den))
    nbrs = half.unionAll(
        half.select(F.col("ib").alias("ia"), F.col("ia").alias("ib"))
    )
    deg = nbrs.groupBy(F.col("ia").alias("nid")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    cores = materialize(
        deg.filter(F.col("deg") >= min_deg).select(F.col("nid").alias("core_id"))
    )
    core_edges = (
        nbrs.join(cores, nbrs.ia == cores.core_id)
        .drop("core_id")
        .join(cores, nbrs.ib == cores.core_id)
        .filter(F.col("ia") < F.col("ib"))
        .select(F.col("ia").alias("id_a"), F.col("ib").alias("id_b"))
    )
    cc = _cc_min_label_bounded(core_edges).select(
        F.col("sid").alias("core_id"), "cluster"
    )
    core_lab = materialize(
        cores.join(cc, "core_id", "left").select(
            "core_id",
            F.coalesce("cluster", F.col("core_id")).alias("cluster"),
        )
    )
    border = (
        nbrs.join(
            core_lab.select(
                F.col("core_id").alias("ib"), F.col("cluster").alias("nbc")
            ),
            "ib",
        )
        .join(cores, nbrs.ia == cores.core_id, "left_anti")
        .groupBy(F.col("ia").alias(id_col))
        .agg(F.min("nbc").alias("cluster"))
        .withColumn("role", F.lit("border"))
    )
    core_out = core_lab.select(
        F.col("core_id").alias(id_col), "cluster", F.lit("core").alias("role")
    )
    assigned = core_out.unionByName(border)
    return (
        c.select(F.col("cid").alias(id_col))
        .join(assigned, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("role", F.lit("noise")).alias("role"),
            F.coalesce("cluster", F.lit(-1)).cast("long").alias("cluster"),
        )
        .orderBy(id_col)
    )


def _q_sim_dbscan(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    return dbscan(emb.filter(F.col("vec_id") < DBSCAN_SLICE))


def _dbscan_oracle() -> str:
    tn2 = DBSCAN_T_NUM * DBSCAN_T_NUM
    td2 = DBSCAN_T_DEN * DBSCAN_T_DEN
    return f"""
    WITH RECURSIVE dims AS MATERIALIZED (
      SELECT vec_id, t.i AS dim, CAST(embedding[t.i + 1] AS DOUBLE) AS val
      FROM embeddings, range(64) t(i)
      WHERE vec_id < {DBSCAN_SLICE}
    ),
    mm AS (SELECT min(val) AS mn, max(val) AS mx FROM dims),
    codes AS MATERIALIZED (
      SELECT vec_id, dim,
             CAST(floor((val - (mn + mx) / 2.0) / ((mx - mn) / 255.0)
                  + 0.5) AS BIGINT) AS cde
      FROM dims, mm
    ),
    selfp AS MATERIALIZED (
      SELECT vec_id, CAST(sum(cde * cde) AS BIGINT) AS s2
      FROM codes GROUP BY vec_id
    ),
    half AS MATERIALIZED (
      SELECT a.vec_id AS ia, b.vec_id AS ib, CAST(sum(a.cde * b.cde) AS BIGINT) AS s
      FROM codes a JOIN codes b ON a.dim = b.dim AND a.vec_id < b.vec_id
      GROUP BY 1, 2
      HAVING sum(a.cde * b.cde) > 0
    ),
    nbrs AS MATERIALIZED (
      SELECT ia, ib FROM (
        SELECT h.ia, h.ib FROM half h
        JOIN selfp pa ON pa.vec_id = h.ia
        JOIN selfp pb ON pb.vec_id = h.ib
        WHERE {td2} * h.s * h.s >= {tn2} * pa.s2 * pb.s2
      )
      UNION ALL
      SELECT ib, ia FROM (
        SELECT h.ia, h.ib FROM half h
        JOIN selfp pa ON pa.vec_id = h.ia
        JOIN selfp pb ON pb.vec_id = h.ib
        WHERE {td2} * h.s * h.s >= {tn2} * pa.s2 * pb.s2
      )
    ),
    cores AS MATERIALIZED (
      SELECT ia AS core_id FROM nbrs GROUP BY ia
      HAVING count(*) >= {DBSCAN_MIN_DEG}
    ),
    core_edges AS MATERIALIZED (
      SELECT n.ia AS a, n.ib AS b FROM nbrs n
      JOIN cores x ON x.core_id = n.ia
      JOIN cores y ON y.core_id = n.ib
    ),
    reach(a, b) AS (
      SELECT a, b FROM core_edges
      UNION
      SELECT r.a, e.b FROM reach r JOIN core_edges e ON r.b = e.a
    ),
    core_lab AS MATERIALIZED (
      SELECT c.core_id,
             coalesce(least(c.core_id, r.mb), c.core_id) AS cluster
      FROM cores c
      LEFT JOIN (SELECT a, min(b) AS mb FROM reach GROUP BY a) r
        ON r.a = c.core_id
    ),
    border AS (
      SELECT n.ia AS vec_id, min(cl.cluster) AS cluster
      FROM nbrs n
      JOIN core_lab cl ON cl.core_id = n.ib
      WHERE n.ia NOT IN (SELECT core_id FROM cores)
      GROUP BY n.ia
    )
    SELECT s.vec_id,
           CASE WHEN c.core_id IS NOT NULL THEN 'core'
                WHEN b.vec_id IS NOT NULL THEN 'border'
                ELSE 'noise' END AS role,
           CAST(coalesce(c2.cluster, b.cluster, -1) AS BIGINT) AS cluster
    FROM selfp s
    LEFT JOIN cores c ON c.core_id = s.vec_id
    LEFT JOIN core_lab c2 ON c2.core_id = s.vec_id
    LEFT JOIN border b ON b.vec_id = s.vec_id
    ORDER BY s.vec_id
    """


register("sim_dbscan", _q_sim_dbscan, oracle=_dbscan_oracle())


# ------------------------------------------------- IVF probe-sweep funnel
IVF_SWEEP_PROBES = (1, 2, 4, 8)
# floors set with wide margin under recalls measured at both gate SFs
# (sf0.001: 0.52/0.52/0.88/1.00; sf0.01: see test) — pinned tighter in
# tests/test_round10_ops.py
IVF_SWEEP_FLOORS = {1: 200_000, 2: 200_000, 4: 500_000, 8: 700_000}


def ivf_probe_sweep(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_clusters: int = 16,
    probes: tuple = IVF_SWEEP_PROBES,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    floors: dict | None = None,
    centroids: DataFrame | None = None,
    cells: DataFrame | None = None,
    bf: DataFrame | None = None,
) -> DataFrame:
    """Recall-vs-nprobe sweep for the IVF index — the quality/cost
    curve an ANN deployment is tuned on (the IVF counterpart to
    dedup_lsh_precision's banding funnel): ONE index build (centroids +
    corpus cell assignment, materialized), then for each nprobe the
    query-side probe set widens and the exact re-rank runs over the
    (nested, therefore monotone) candidate sets.

    Projected to engine-independent invariants, the sim_recall_at_k
    discipline: per nprobe the frame reports the integer hit count
    verdict against a ppm floor (cross-multiplied — no float division)
    and the MONOTONICITY verdict hits(nprobe) >= hits(prev nprobe),
    which is a theorem here (probed cells are n_best-nested, so
    candidate sets are supersets and a brute-force top-k member once
    recovered can only be displaced by another one).

    Scale shape: the index builds once; each sweep point adds one
    broadcast of the ~|queries| x nprobe cell list against the
    cell-partitioned corpus — exactly the production economics, where
    nprobe/n_clusters is the scored-candidate fraction.
    """
    from dblab_ece_trino_spark.session import ensure_parallelism, materialize

    if not probes:
        # max(probes) below would raise a bare ValueError; fail with
        # the contract spelled out (r16 advice)
        raise ValueError("ivf_probe_sweep: probes must be non-empty")
    floors = floors if floors is not None else IVF_SWEEP_FLOORS
    if centroids is None:
        centroids = ivf_index(corpus, n_clusters, iters, id_col, vec_col)
    if cells is None:
        v = materialize(
            ensure_parallelism(corpus).select(
                F.col(id_col).alias("vid"),
                _as_double(F.col(vec_col)).alias("cv"),
            )
        )
        cells = materialize(
            _assign(v, centroids)
            .withColumnRenamed("vid", "cid")
            .withColumnRenamed("cv", "ccv")
        )
    q = queries.select(
        F.col(id_col).alias("vid"), _as_double(F.col(vec_col)).alias("cv")
    )
    if bf is None:
        bf = materialize(knn_bruteforce(corpus, queries, k=k,
                                        id_col=id_col, vec_col=vec_col))
    nq = queries.count()

    # ONE scored frame for every sweep point (round-16 optimization,
    # guide §2.4): the probe sets are n_best-NESTED, so the candidate
    # set at nprobe p is exactly the max-probe candidate set filtered
    # to min-centroid-rank <= p — scoring each sweep point against the
    # cells separately repeated the identical broadcast join + cosine
    # + distinct |probes| times (4x at the registered sweep) for
    # value-identical rows.  cos is cell-independent, so
    # groupBy(qid, cid, cos) + min(rank) is the old per-probe
    # .distinct() with the probe index attached.
    max_probe = max(probes)
    qc = _assign(
        q, centroids, n_best=max_probe, keep_rank="nb"
    ).withColumnRenamed("vid", "qid").withColumnRenamed("cv", "qv")
    scored_all = materialize(
        cells.join(F.broadcast(qc), "cluster")
        .filter(F.col("qid") != F.col("cid"))
        .select(
            "qid", "cid",
            F.round(cosine(F.col("qv"), F.col("ccv")), 6).alias("cos"),
            "nb",
        )
        .groupBy("qid", "cid", "cos")
        .agg(F.min("nb").alias("nb"))
    )

    per_probe = []
    for nprobe in probes:
        scored = scored_all.filter(F.col("nb") <= nprobe).select(
            "qid", "cid", "cos"
        )
        w = Window.partitionBy("qid").orderBy(
            F.col("cos").desc(), F.col("cid").asc()
        )
        topk = (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
        )
        per_probe.append(
            topk.join(bf.select("qid", "cid"), ["qid", "cid"])
            .agg(F.count("*").cast("long").alias("hits"))
            .select(
                F.lit(nprobe).cast("int").alias("nprobe"),
                F.lit(nq).cast("long").alias("n_queries"),
                F.lit(k).cast("long").alias("k"),
                F.lit(floors[nprobe]).cast("long")
                .alias("floor_ppm"),
                "hits",
            )
        )
    frame = per_probe[0]
    for p in per_probe[1:]:
        frame = frame.unionByName(p)
    w2 = Window.orderBy("nprobe")
    return (
        frame.withColumn(
            "recall_ok",
            F.col("hits") * 1_000_000
            >= F.col("floor_ppm") * F.col("k") * F.col("n_queries"),
        )
        .withColumn(
            "monotone_ok",
            F.col("hits")
            >= F.coalesce(F.lag("hits").over(w2), F.lit(0)),
        )
        .select("nprobe", "n_queries", "k", "floor_ppm", "recall_ok",
                "monotone_ok")
        .orderBy("nprobe")
    )


def _q_ivf_probe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb, queries, centroids, cells, bf = shared_ivf_build(spark, sf_dir)
    return ivf_probe_sweep(emb, queries, k=5, n_clusters=16,
                           centroids=centroids, cells=cells, bf=bf)


register(
    "sim_ivf_probe_sweep",
    _q_ivf_probe_sweep,
    # Measured recalls are data constants (seeded init, deterministic
    # k-means); the oracle pins the verdicts and derives n_queries
    # from the data (the sim_recall_at_k discipline).
    oracle=f"""
    WITH nq AS (SELECT CAST(count(*) AS BIGINT) AS n_queries
                FROM embeddings WHERE vec_id < 10)
    SELECT p.nprobe, nq.n_queries, CAST(5 AS BIGINT) AS k,
           p.floor_ppm, true AS recall_ok, true AS monotone_ok
    FROM (VALUES {", ".join(f"(CAST({p} AS INT), CAST({IVF_SWEEP_FLOORS[p]} AS BIGINT))" for p in IVF_SWEEP_PROBES)})
         AS p(nprobe, floor_ppm), nq
    ORDER BY p.nprobe
    """,
)


# -------------------------------------- semantic eval contamination (r12)
def eval_contamination(
    emb: DataFrame,
    threshold: float = 0.4,
    every: int = 97,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-space benchmark-contamination audit — the semantic
    sibling of the n-gram ``sample_contamination_rate`` (paraphrased or
    reformatted eval items share no 3-grams with their training-set
    source; they DO share an embedding neighborhood, which is why
    modern decontamination runs both passes).  Eval set = every 97th
    vector (the ``decontaminate`` convention); for each eval item,
    find its nearest CORPUS vector by rounded cosine and flag
    contamination at ``threshold``.

    Output is one row per eval item (bounded by the eval set, never
    the corpus): eval_id, best_corpus_id, best_cos, contaminated.

    Shape: the EVAL side is broadcast (eval sets are tiny next to the
    corpus), ONE corpus scan computes all eval dots, and the per-eval
    argmax is a keyed rank (row_number partitioned by eval_id — the
    mips_topk economics, map-side-prunable).  Determinism: the rank
    orders on the ROUNDED cosine with corpus-id tiebreak, the
    dedup_embedding discipline, so a last-bit float difference between
    engines cannot flip the argmax.
    """
    from dblab_ece_trino_spark.operators.dedup import cosine
    from pyspark.sql import Window

    v = emb.select(
        F.col(id_col).alias("vid"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
    )
    ev = v.filter(F.col("vid") % every == 0).select(
        F.col("vid").alias("eval_id"), F.col("v").alias("ev")
    )
    corpus = v.filter(F.col("vid") % every != 0)
    scored = corpus.join(F.broadcast(ev)).select(
        "eval_id",
        F.col("vid").alias("corpus_id"),
        F.round(cosine(F.col("v"), F.col("ev")), 6).alias("cos"),
    )
    w = Window.partitionBy("eval_id").orderBy(
        F.desc("cos"), F.asc("corpus_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "eval_id",
            F.col("corpus_id").alias("best_corpus_id"),
            F.col("cos").alias("best_cos"),
            (F.col("cos") >= threshold).alias("contaminated"),
        )
        .orderBy("eval_id")
    )


def _q_eval_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    return eval_contamination(_emb(spark, sf_dir))


register(
    "sim_eval_contamination",
    _q_eval_contamination,
    oracle="""
    WITH scored AS (
      SELECT e.vec_id AS eval_id, c.vec_id AS corpus_id,
             round(list_cosine_similarity(c.embedding::DOUBLE[],
                                          e.embedding::DOUBLE[]), 6) AS cos
      FROM embeddings e JOIN embeddings c
        ON e.vec_id % 97 = 0 AND c.vec_id % 97 <> 0
    ),
    ranked AS (
      SELECT eval_id, corpus_id, cos,
             row_number() OVER (PARTITION BY eval_id
                                ORDER BY cos DESC, corpus_id) AS rk
      FROM scored
    )
    SELECT eval_id, corpus_id AS best_corpus_id, cos AS best_cos,
           cos >= 0.4 AS contaminated
    FROM ranked WHERE rk = 1
    ORDER BY eval_id
    """,
)


# ------------------------------------ cosine-geometry histogram (r12)
COSH_PANEL = 64
COSH_SAMPLE_HI = 32  # md5 bucket < 32/256 -> ~12.5% corpus sample
COSH_LEVELS = 255
COSH_BIN = 100000  # ppm per histogram bin


def cosine_histogram(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-space GEOMETRY audit: the distribution of pairwise
    similarity over a deterministic panel x sample of vector pairs —
    the one-page readout that catches representation collapse (mass
    piling up near +1), anisotropy (mean similarity far from 0), and
    dead embedding spaces before any retrieval metric moves.  Run
    alongside the recall/contamination entries: those grade retrieval
    OUTCOMES, this grades the space itself.

    Exactness: centered scalar quantization (the epsilon-ball scheme)
    gives integer codes; the histogram key is SIGNED QUANTIZED COSINE^2
    in ppm — sign(sab) carried as a flag, magnitude
    1e6 * sab^2 div (saa*sbb) — so every division is over non-negative
    integers (Spark ``div`` and DuckDB ``//`` agree there; signed
    integer division semantics differ between engines and are never
    invoked).  Bins are COSH_BIN-ppm wide, negatives bucketed to
    -(m div bin + 1) to keep the zero bin unambiguous.

    Sampling is hash-deterministic and LINEAR in the corpus: a
    COSH_PANEL-vector panel picked by md5 order (distributed
    TakeOrderedAndProject — never a global window) crossed with an
    md5-bucket ~12.5% corpus sample; pair volume is panel * sample,
    broadcast on the panel side — no N^2 anywhere.  A panel vector
    can also land in the sample (the (a,b)/(b,a) double-count is
    deterministic and identical on both engines; the histogram is a
    diagnostic of the space, not a pair census).  Two bounded driver
    scalars (global min/max) — the quantizer anchor, same as the
    other integer-ANN entries.
    """
    from dblab_ece_trino_spark.session import ensure_parallelism

    corpus = ensure_parallelism(emb)
    row = (
        corpus.select(_as_double(F.col(vec_col)).alias("v"))
        .agg(F.min(F.array_min("v")).alias("mn"),
             F.max(F.array_max("v")).alias("mx"))
        .collect()[0]
    )
    mn, mx = float(row["mn"]), float(row["mx"])
    mid = (mn + mx) / 2.0
    s_unit = (mx - mn) / float(COSH_LEVELS)

    def codes(col):
        return F.transform(
            _as_double(col),
            lambda x: F.floor(
                (x - F.lit(mid)) / F.lit(s_unit) + F.lit(0.5)
            ).cast("long"),
        )

    def selfdot(c):
        return F.aggregate(
            F.zip_with(c, c, lambda a, b: a * b),
            F.lit(0).cast("long"), lambda a, v: a + v,
        )

    coded = (
        corpus.select(
            F.col(id_col).alias("vid"), codes(F.col(vec_col)).alias("qc")
        )
        .withColumn("sq", selfdot(F.col("qc")))
        # A vector whose 64 codes all quantize to 0 has sq = 0; it would
        # put a NULL m_ppm bin in the histogram (integer div by zero is
        # NULL on both engines).  Exclude degenerate vectors from panel
        # AND sample — the oracle's selfdot CTE carries the same guard.
        .filter(F.col("sq") > 0)
    )
    panel = (
        coded.withColumn(
            "hk", F.md5(F.concat(F.lit("cospanel"), F.col("vid").cast("string")))
        )
        .orderBy("hk")
        .limit(COSH_PANEL)
        .select(F.col("vid").alias("qid"), F.col("qc").alias("pc"),
                F.col("sq").alias("sqq"))
    )
    from dblab_ece_trino_spark.operators.sampling import md5_bucket

    sample = coded.filter(
        md5_bucket(F.col("vid"), "cossample") < COSH_SAMPLE_HI
    ).select(F.col("vid").alias("cid"), F.col("qc").alias("cc"),
             F.col("sq").alias("scc"))
    sab = F.aggregate(
        F.zip_with(F.col("pc"), F.col("cc"), lambda a, b: a * b),
        F.lit(0).cast("long"), lambda a, v: a + v,
    )
    pairs = (
        sample.join(F.broadcast(panel), F.col("qid") != F.col("cid"))
        .withColumn("sab", sab)
        .withColumn("neg", F.col("sab") < 0)
        .withColumn(
            "m_ppm",
            F.expr("CAST(CAST(1000000 AS DECIMAL(38,0)) * sab * sab"
                   " div (CAST(sqq AS DECIMAL(38,0)) * scc) AS BIGINT)"),
        )
        .withColumn(
            "signed_ppm",
            F.when(F.col("neg"), -F.col("m_ppm")).otherwise(F.col("m_ppm")),
        )
        .withColumn(
            "bin",
            F.when(
                F.col("neg"),
                -(F.expr(f"m_ppm div {COSH_BIN}") + 1),
            ).otherwise(F.expr(f"m_ppm div {COSH_BIN}")).cast("long"),
        )
    )
    return (
        pairs.groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.min("signed_ppm").cast("long").alias("min_ppm"),
            F.max("signed_ppm").cast("long").alias("max_ppm"),
        )
        .orderBy("bin")
    )


def _q_cosine_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cosine_histogram(_emb(spark, sf_dir))


def _cosine_histogram_oracle() -> str:
    from dblab_ece_trino_spark.operators.sampling import _md5_bucket_sql

    bucket = _md5_bucket_sql("vec_id", "cossample")
    return f"""
    WITH dims AS (
      SELECT vec_id, t.i AS dim, CAST(embedding[t.i + 1] AS DOUBLE) AS val
      FROM embeddings, range(64) t(i)
    ),
    st AS (
      SELECT (min(val) + max(val)) / 2 AS mid,
             (max(val) - min(val)) / {COSH_LEVELS} AS s
      FROM dims
    ),
    codes AS (
      SELECT d.vec_id, d.dim,
             CAST(floor((d.val - st.mid) / st.s + 0.5) AS BIGINT) AS q
      FROM dims d CROSS JOIN st
    ),
    selfdot AS (
      -- sq = 0 (all codes quantize to 0) would divide by zero into a
      -- NULL bin; the Spark side carries the identical guard.
      SELECT vec_id, CAST(sum(q * q) AS BIGINT) AS sq
      FROM codes GROUP BY vec_id
      HAVING CAST(sum(q * q) AS BIGINT) > 0
    ),
    panel AS (
      SELECT vec_id FROM (
        SELECT vec_id, row_number() OVER (
          ORDER BY md5('cospanel' || CAST(vec_id AS STRING))) AS rk
        FROM selfdot
      ) r WHERE rk <= {COSH_PANEL}
    ),
    pairs AS (
      SELECT p.vec_id AS qid, smp.vec_id AS cid,
             CAST(sum(a.q * b.q) AS BIGINT) AS sab
      FROM panel p
      JOIN selfdot smp ON {bucket.replace('vec_id', 'smp.vec_id')} < {COSH_SAMPLE_HI}
       AND smp.vec_id <> p.vec_id
      JOIN codes a ON a.vec_id = p.vec_id
      JOIN codes b ON b.vec_id = smp.vec_id AND b.dim = a.dim
      GROUP BY p.vec_id, smp.vec_id
    ),
    scored AS (
      SELECT q.qid, q.cid, q.sab, sab < 0 AS neg,
             CAST(CAST(1000000 AS HUGEINT) * sab * sab
                  // (CAST(sa.sq AS HUGEINT) * sb.sq) AS BIGINT) AS m_ppm
      FROM pairs q
      JOIN selfdot sa ON sa.vec_id = q.qid
      JOIN selfdot sb ON sb.vec_id = q.cid
    ),
    binned AS (
      SELECT CASE WHEN neg THEN -(m_ppm // {COSH_BIN} + 1)
                  ELSE m_ppm // {COSH_BIN} END AS bin,
             CASE WHEN neg THEN -m_ppm ELSE m_ppm END AS signed_ppm
      FROM scored
    )
    SELECT CAST(bin AS BIGINT) AS bin,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(min(signed_ppm) AS BIGINT) AS min_ppm,
           CAST(max(signed_ppm) AS BIGINT) AS max_ppm
    FROM binned
    GROUP BY bin
    ORDER BY bin
    """


register("sim_cosine_histogram", _q_cosine_histogram,
         oracle=_cosine_histogram_oracle())


# ------------------------------- truncated-dimension (MRL) recall (r12)
MRL_PREFIXES = (8, 16, 32, 64)
MRL_K = 5
MRL_QUERIES = 8


def matryoshka_recall(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Matryoshka-style TRUNCATED-DIMENSION retrieval audit: for each
    embedding-prefix length P (8/16/32/64 of the 64-dim column), the
    exact top-k by quantized inner product over the FIRST P dimensions,
    scored against the full-dimension top-k — the measurement behind
    the standard ANN cost lever of serving a dimension-truncated index
    (Kusupati et al. 2022's Matryoshka representations; every major
    embedding API now exposes a `dimensions` knob).  recall@P tells a
    pipeline how many dimensions it can drop before retrieval quality
    moves, BEFORE committing to the cheaper index.

    Exactness: the epsilon-ball centered scalar quantization gives
    integer codes; prefix scores are integer dot products over the
    first P codes (scores <= 64 * 127^2 — BIGINT-trivial); ties break
    (score DESC, cid ASC), so every per-(P, query) top-k set replays
    bit-identically on both engines and recall is an exact ppm.

    Scale shape (100 TB): the MRL_QUERIES-query panel broadcasts; ONE
    corpus pass computes all four prefix scores per (query, corpus)
    pair in a single projection (running zip_with sums), the per-
    (P, query) top-k is a keyed rank window (WindowGroupLimit — frame
    per key is k, never data-scale), and the recall join compares two
    k-row sets per (P, query).  Pair volume is panel x corpus — linear
    in the corpus, the knn_bruteforce economics.
    """
    from dblab_ece_trino_spark.session import ensure_parallelism
    from pyspark.sql import Window

    corpus = ensure_parallelism(emb)
    row = (
        corpus.select(_as_double(F.col(vec_col)).alias("v"))
        .agg(F.min(F.array_min("v")).alias("mn"),
             F.max(F.array_max("v")).alias("mx"))
        .collect()[0]
    )
    mn, mx = float(row["mn"]), float(row["mx"])
    mid, s_unit = (mn + mx) / 2.0, (mx - mn) / 255.0

    def codes(col):
        return F.transform(
            _as_double(col),
            lambda x: F.floor(
                (x - F.lit(mid)) / F.lit(s_unit) + F.lit(0.5)
            ).cast("long"),
        )

    c = corpus.select(F.col(id_col).alias("cid"),
                      codes(F.col(vec_col)).alias("cc"))
    q = corpus.filter(F.col(id_col) < MRL_QUERIES).select(
        F.col(id_col).alias("qid"), codes(F.col(vec_col)).alias("qc")
    )
    pairs = c.join(F.broadcast(q), F.col("qid") != F.col("cid"))
    # all four prefix dots in ONE projection over the pair frame
    for p in MRL_PREFIXES:
        dot = F.aggregate(
            F.zip_with(
                F.slice("qc", 1, p), F.slice("cc", 1, p),
                lambda a, b: a * b,
            ),
            F.lit(0).cast("long"), lambda a, v: a + v,
        )
        pairs = pairs.withColumn(f"s{p}", dot)
    scored = pairs.select(
        "qid", "cid",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(p).cast("long").alias("prefix_dim"),
                    F.col(f"s{p}").alias("score"),
                )
                for p in MRL_PREFIXES
            ])
        ).alias("e"),
    ).select("qid", "cid", "e.prefix_dim", "e.score")
    w = Window.partitionBy("prefix_dim", "qid").orderBy(
        F.col("score").desc(), F.col("cid")
    )
    from dblab_ece_trino_spark.session import materialize

    # two consumers (the per-prefix sets and the full-dim reference
    # subset) — materialized once so the pair pipeline isn't re-derived
    # per consumer; the frame is |prefixes| * MRL_QUERIES * k rows
    topk = materialize(
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= MRL_K)
        .select("prefix_dim", "qid", "cid")
    )
    full = topk.filter(F.col("prefix_dim") == 64).select(
        F.col("qid").alias("fqid"), F.col("cid").alias("fcid")
    )
    hits = topk.join(
        full,
        (F.col("qid") == F.col("fqid")) & (F.col("cid") == F.col("fcid")),
        "left",
    )
    return (
        hits.groupBy("prefix_dim")
        .agg(
            F.countDistinct("qid").cast("long").alias("n_queries"),
            F.count(F.lit(1)).cast("long").alias("retrieved"),
            F.sum(F.when(F.col("fcid").isNotNull(), 1).otherwise(0))
            .cast("long").alias("hits"),
        )
        .withColumn(
            "recall_ppm",
            F.expr("CAST(CAST(1000000 AS DECIMAL(38,0)) * hits"
                   " div retrieved AS BIGINT)"),
        )
        .orderBy("prefix_dim")
    )


def _q_matryoshka(spark: SparkSession, sf_dir: str) -> DataFrame:
    return matryoshka_recall(_emb(spark, sf_dir))


def _matryoshka_oracle() -> str:
    prefixes = ", ".join(str(p) for p in MRL_PREFIXES)
    return f"""
    WITH dims AS (
      SELECT vec_id, t.i AS dim, CAST(embedding[t.i + 1] AS DOUBLE) AS val
      FROM embeddings, range(64) t(i)
    ),
    st AS (
      SELECT (min(val) + max(val)) / 2 AS mid,
             (max(val) - min(val)) / 255 AS s
      FROM dims
    ),
    codes AS (
      SELECT d.vec_id, d.dim,
             CAST(floor((d.val - st.mid) / st.s + 0.5) AS BIGINT) AS q
      FROM dims d CROSS JOIN st
    ),
    prefixes AS (SELECT unnest([{prefixes}]) AS p),
    scored AS (
      SELECT pr.p AS prefix_dim, a.vec_id AS qid, b.vec_id AS cid,
             CAST(sum(a.q * b.q) AS BIGINT) AS score
      FROM prefixes pr, codes a
      JOIN codes b ON b.dim = a.dim
      WHERE a.vec_id < {MRL_QUERIES} AND b.vec_id <> a.vec_id
        AND a.dim < pr.p
      GROUP BY pr.p, a.vec_id, b.vec_id
    ),
    topk AS (
      SELECT prefix_dim, qid, cid FROM (
        SELECT prefix_dim, qid, cid,
               row_number() OVER (PARTITION BY prefix_dim, qid
                                  ORDER BY score DESC, cid) AS rk
        FROM scored
      ) r WHERE rk <= {MRL_K}
    ),
    fullk AS (
      SELECT qid AS fqid, cid AS fcid FROM topk WHERE prefix_dim = 64
    )
    SELECT CAST(t.prefix_dim AS BIGINT) AS prefix_dim,
           CAST(count(DISTINCT t.qid) AS BIGINT) AS n_queries,
           CAST(count(*) AS BIGINT) AS retrieved,
           CAST(sum(CASE WHEN f.fcid IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS hits,
           CAST(CAST(1000000 AS HUGEINT)
                * sum(CASE WHEN f.fcid IS NOT NULL THEN 1 ELSE 0 END)
                // count(*) AS BIGINT) AS recall_ppm
    FROM topk t
    LEFT JOIN fullk f ON f.fqid = t.qid AND f.fcid = t.cid
    GROUP BY t.prefix_dim
    ORDER BY t.prefix_dim
    """


register("sim_matryoshka_recall", _q_matryoshka,
         oracle=_matryoshka_oracle())


# -------------------------- per-prefix quantization calibration (r13)
MRLQ_LEVELS = 255   # fine scalar-quant grid (the int8 SQ store)
MRLQ_RATIO = 16     # coarse grid is RATIO x wider (int4-class codes)


def matryoshka_quant_profile(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-prefix QUANTIZATION-ERROR calibration — the serving sibling
    of ``matryoshka_recall``: that entry measures how many dimensions
    a truncated index can drop; this one measures how much PRECISION
    each prefix can drop.  Using the min-anchored scalar quantizer of
    ``sim_quantized_mips`` (code = floor((x-mn)/s + 0.5), 255 levels)
    as the fine reference and a RATIO x coarser grid (255/16 ~ int4)
    as the candidate, the per-dimension error in fine-code units

        e_d = q_d - RATIO * q'_d            (exact integer)

    is aggregated over the corpus for each prefix P in {8,16,32,64}:
    sum |e|, sum e^2 and max |e| over the first P dims.  Every number
    is an exact integer (the fixed-point discipline), so the profile
    is bit-identical on any engine or partitioning; the serving
    decision reads directly off it (e.g. "int4 codes add <= X L2^2
    error at P=16 — pair the truncated index with coarse codes").

    Shape (100 TB): ONE corpus scan; per-row partial sums via array
    HOFs (slice + aggregate, JVM codegen — no explode row blowup, no
    Python); a single global aggregate whose partials are map-side
    combinable; the 4-row output is unpivoted from the 1-row frame
    with stack().  Two bounded driver scalars (global min/max), same
    as pagerank's node count.
    """
    from dblab_ece_trino_spark.session import ensure_parallelism

    emb = ensure_parallelism(emb)
    row = (
        emb.select(_as_double(F.col(vec_col)).alias("v"))
        .agg(
            F.min(F.array_min("v")).alias("mn"),
            F.max(F.array_max("v")).alias("mx"),
        )
        .collect()[0]
    )
    mn, mx = float(row["mn"]), float(row["mx"])
    s_unit = (mx - mn) / float(MRLQ_LEVELS)

    err = F.transform(
        _as_double(F.col(vec_col)),
        lambda x: (
            F.floor((x - F.lit(mn)) / F.lit(s_unit) + F.lit(0.5))
            - F.lit(MRLQ_RATIO)
            * F.floor(
                (x - F.lit(mn)) / F.lit(s_unit * MRLQ_RATIO) + F.lit(0.5)
            )
        ).cast("long"),
    )
    with_err = emb.select(err.alias("e"))
    aggs = []
    for p in MRL_PREFIXES:
        pre = F.slice(F.col("e"), 1, p)
        aggs += [
            F.sum(
                F.aggregate(pre, F.lit(0).cast("long"),
                            lambda a, v: a + F.abs(v))
            ).cast("long").alias(f"sa_{p}"),
            F.sum(
                F.aggregate(pre, F.lit(0).cast("long"),
                            lambda a, v: a + v * v)
            ).cast("long").alias(f"sq_{p}"),
            F.max(
                F.aggregate(pre, F.lit(0).cast("long"),
                            lambda a, v: F.greatest(a, F.abs(v)))
            ).cast("long").alias(f"mx_{p}"),
        ]
    one = with_err.agg(*aggs)
    stack_expr = "stack({}, {}) as (prefix_dim, sum_abs_err, sum_sq_err, max_abs_err)".format(
        len(MRL_PREFIXES),
        ", ".join(
            f"{p}, sa_{p}, sq_{p}, mx_{p}" for p in MRL_PREFIXES
        ),
    )
    return (
        one.selectExpr(stack_expr)
        .select(
            F.col("prefix_dim").cast("int").alias("prefix_dim"),
            F.col("sum_abs_err").cast("long").alias("sum_abs_err"),
            F.col("sum_sq_err").cast("long").alias("sum_sq_err"),
            F.col("max_abs_err").cast("long").alias("max_abs_err"),
        )
        .orderBy("prefix_dim")
    )


def _q_matryoshka_quant(spark: SparkSession, sf_dir: str) -> DataFrame:
    return matryoshka_quant_profile(_emb(spark, sf_dir))


def _matryoshka_quant_oracle() -> str:
    prefixes = ", ".join(f"({p})" for p in MRL_PREFIXES)
    return f"""
    WITH dims AS (
      SELECT vec_id, t.i AS dim, CAST(embedding[t.i + 1] AS DOUBLE) AS val
      FROM embeddings, range(64) t(i)
    ),
    st AS (
      SELECT min(val) AS mn,
             (max(val) - min(val)) / {MRLQ_LEVELS} AS s
      FROM dims
    ),
    errs AS (
      SELECT d.vec_id, d.dim,
             CAST(floor((d.val - st.mn) / st.s + 0.5)
                  - {MRLQ_RATIO} * floor((d.val - st.mn)
                                         / (st.s * {MRLQ_RATIO}) + 0.5)
                  AS BIGINT) AS e
      FROM dims d CROSS JOIN st
    ),
    prefixes(p) AS (VALUES {prefixes})
    SELECT CAST(p AS INT) AS prefix_dim,
           CAST(sum(abs(e)) AS BIGINT) AS sum_abs_err,
           CAST(sum(e * e) AS BIGINT) AS sum_sq_err,
           CAST(max(abs(e)) AS BIGINT) AS max_abs_err
    FROM errs JOIN prefixes ON errs.dim < prefixes.p
    GROUP BY p
    ORDER BY prefix_dim
    """


register("sim_matryoshka_quant", _q_matryoshka_quant,
         oracle=_matryoshka_quant_oracle())
