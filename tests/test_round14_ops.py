"""Round-14 operator tests: pure-Python re-derivations of the new
graded entries plus the chunk-near-dup LSH recall precondition.  The
Spark queries themselves are covered by tests/test_correctness.py's
registry sweep against the DuckDB oracles."""
from __future__ import annotations

import hashlib

import numpy as np
import pytest

SF = "/root/testdata/sf0.001"


def _con(*tables):
    import duckdb

    con = duckdb.connect()
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF}/{t}.parquet')"
        )
    return con


def _oracle(name):
    from dblab_ece_trino_spark.operators.registry import oracle_queries

    return oracle_queries()[name]


# ------------------------------------------------ personalized PageRank
def _coorder_pairs_py(con):
    """Independent co-order pair derivation: per-order part lists ->
    C(k,2) oriented pair instances -> support >= 2."""
    rows = con.execute(
        "SELECT l_orderkey, l_partkey FROM lineitem ORDER BY 1, 2"
    ).fetchall()
    orders: dict = {}
    for ok, pk in rows:
        orders.setdefault(ok, []).append(pk)
    support: dict = {}
    for ps in orders.values():
        ps = sorted(ps)
        for i in range(len(ps)):
            for j in range(i + 1, len(ps)):
                if ps[i] < ps[j]:
                    support[(ps[i], ps[j])] = support.get(
                        (ps[i], ps[j]), 0) + 1
    return [p for p, c in support.items() if c >= 2]


def test_ppr_pure_python():
    """graph_ppr oracle vs an independent dict-based integer PPR."""
    from dblab_ece_trino_spark.operators.graph import (
        PPR_SEEDS,
        PR_ITERS,
        PR_SCALE,
    )

    con = _con("lineitem")
    pairs = _coorder_pairs_py(con)
    adj: dict = {}
    for u, v in pairs:
        adj.setdefault(u, []).append(v)
        adj.setdefault(v, []).append(u)
    deg = {n: len(vs) for n, vs in adj.items()}
    seeds = sorted(deg, key=lambda n: (-deg[n], n))[:PPR_SEEDS]
    k = len(seeds)
    tele = (3 * PR_SCALE) // (20 * k)
    pr = {n: PR_SCALE // k for n in seeds}
    for _ in range(PR_ITERS):
        nxt: dict = {}
        for n, mass in pr.items():
            share = mass // deg[n]
            for v in adj[n]:
                nxt[v] = nxt.get(v, 0) + share
        pr = {n: (17 * s) // 20 for n, s in nxt.items()}
        for s in seeds:
            pr[s] = pr.get(s, 0) + tele
    want = sorted(pr.items(), key=lambda kv: (-kv[1], kv[0]))[:25]
    got = [tuple(r) for r in con.execute(_oracle("graph_ppr")).fetchall()]
    assert got == [(n, p) for n, p in want]
    # restart mass concentrates on/near the seeds: every seed holds rank
    seed_rows = [r for r in got if r[0] in set(seeds)]
    assert len(seed_rows) == k


# --------------------------------------------- passage-grain near-dup
def _chunks_py(con, chunk_tokens=16, stride=None):
    if stride is None:
        from dblab_ece_trino_spark.operators.dedup import (
            CHUNK_ND_KEY_STRIDE as stride,
        )
    docs = con.execute(
        "SELECT doc_id, trim(text) FROM documents ORDER BY doc_id"
    ).fetchall()
    out = []
    for did, text in docs:
        t = text.split()
        for idx, s in enumerate(range(0, len(t), chunk_tokens)):
            w = t[s: s + chunk_tokens]
            if len(w) == chunk_tokens:
                out.append((did, did * stride + idx, w))
    return out


def test_chunk_neardup_pure_python():
    """dedup_chunk_neardup oracle vs an independent set-Jaccard +
    union-find evaluator at sf0.001."""
    con = _con("documents")
    chunks = _chunks_py(con)
    sh = {
        ck: {" ".join(w[i: i + 3]) for i in range(max(len(w) - 2, 1))}
        for _d, ck, w in chunks
    }
    keys = sorted(sh)
    parent = {k: k for k in keys}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    clustered = set()
    for i, a in enumerate(keys):
        for b in keys[i + 1:]:
            inter = len(sh[a] & sh[b])
            j = round(inter / (len(sh[a]) + len(sh[b]) - inter), 6)
            if j >= 0.8:
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
                clustered.update((a, b))
    prof: dict = {}
    for did, ck, _w in chunks:
        n, c, r = prof.get(did, (0, 0, 0))
        is_c = ck in clustered
        is_r = is_c and find(ck) != ck
        prof[did] = (n + 1, c + int(is_c), r + int(is_r))
    want = [
        (did, n, c, r, n - r)
        for did, (n, c, r) in sorted(prof.items())
    ]
    got = [tuple(r) for r in
           con.execute(_oracle("dedup_chunk_neardup")).fetchall()]
    assert got == want
    # the corpus plants near-dups: the audit must see some removals
    assert sum(r[3] for r in got) > 0


def test_chunk_neardup_lsh_recall_exact(spark):
    """Checked precondition of the chunk-near-dup exact oracle: the
    Spark LSH pipeline's chunk pair set EQUALS the exact all-pairs
    Jaccard >= 0.8 set at both gate SFs (deterministic under the fixed
    xxhash64 banding).  If a regenerated corpus ever grows a pair the
    banding misses, this test — not a driver hash mismatch — fails."""
    from dblab_ece_trino_spark.entrypoints import engine_for
    from dblab_ece_trino_spark.operators.dedup import (
        CHUNK_ND_THRESHOLD,
        chunk_units,
        dedup_minhash_lsh,
    )
    from tests.conftest import SF_MED, SF_SMALL

    for sf_dir in (SF_SMALL, SF_MED):
        docs = engine_for(spark, sf_dir).catalogs.table(
            "lake.llm.documents"
        )
        chunks = chunk_units(docs)
        got = {
            (r.id_a, r.id_b)
            for r in dedup_minhash_lsh(
                chunks, id_col="ckey", text_col="chunk_text",
                threshold=CHUNK_ND_THRESHOLD, max_bucket=None,
            ).collect()
        }
        rows = [
            (r.ckey, r.chunk_text.split())
            for r in chunks.select("ckey", "chunk_text").collect()
        ]
        sh = {
            ck: {" ".join(w[i: i + 3]) for i in range(max(len(w) - 2, 1))}
            for ck, w in rows
        }
        keys = sorted(sh)
        want = set()
        for i, a in enumerate(keys):
            for b in keys[i + 1:]:
                inter = len(sh[a] & sh[b])
                j = round(inter / (len(sh[a]) + len(sh[b]) - inter), 6)
                if j >= CHUNK_ND_THRESHOLD:
                    want.add((a, b))
        assert got == want, f"{sf_dir}: LSH chunk pairs != exact pairs"


# --------------------------------------------------- Holt linear trend
def test_holt_trend_pure_python():
    """ts_holt_trend oracle vs an independent sequential smoother."""
    con = _con("events")
    daily = con.execute(
        "SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,"
        " CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(*)"
        " FROM events GROUP BY 1, 2 ORDER BY 1, 2"
    ).fetchall()
    series: dict = {}
    for t, d, y in daily:
        series.setdefault(t, []).append((d, y))
    import math

    def e4(x):
        return math.floor(x * 10000 + 0.5)

    want = []
    for t in sorted(series):
        l = b = None
        for rn, (d, y) in enumerate(series[t], start=1):
            if rn == 1:
                l, b = y, 0.0
            else:
                lnew = 0.25 * y + 0.75 * (l + b)
                b = 0.5 * (lnew - l) + 0.5 * b
                l = lnew
            want.append((t, rn, d, e4(y), e4(l), e4(b), e4(l + b)))
    got = [tuple(r) for r in con.execute(_oracle("ts_holt_trend")).fetchall()]
    assert got == want
    # the trend state must actually move (a flat-zero b would mean the
    # recursion degenerated to plain EWMA)
    assert any(r[5] != 0 for r in got)


# ------------------------------------------- fractional audio resample
def test_audio_resample_pure_python():
    """multimodal_audio_resample oracle vs an independent per-sample
    loop over the sawtooth closed form (scalar phase accumulator vs
    the operator's vectorized index math)."""
    from dblab_ece_trino_spark.operators.multimodal import (
        _N_WAV,
        _RS_DOWN,
        _RS_UP,
        _WAV_RATE,
    )

    want = []
    for i in range(_N_WAV):
        n_samp = 64 + 16 * (i % 4)
        step = 50 + 7 * i
        amp = 1000 + 100 * (i % 7)

        def s(k):
            return (k * step) % (2 * amp) - amp

        m = (_RS_DOWN * (n_samp - 1)) // _RS_UP
        ys = []
        num = 0
        for j in range(m):
            idx, frac = divmod(num, _RS_DOWN)
            v = s(idx) * (_RS_DOWN - frac) + s(idx + 1) * frac
            ys.append((v + 40000) // _RS_DOWN - 8000)
            num += _RS_UP
        want.append(
            (i, _WAV_RATE * _RS_DOWN // _RS_UP, m, sum(ys),
             sum(y * y for y in ys), min(ys), max(ys),
             sum(j * y for j, y in enumerate(ys)))
        )
    con = _con()
    got = [tuple(r) for r in
           con.execute(_oracle("multimodal_audio_resample")).fetchall()]
    assert got == want


def test_audio_resample_linear_ramp_identity(spark):
    """On a pure linear ramp, linear interpolation is EXACT: resampling
    s_k = 5k means the interpolated value at phase 8j/5 equals 8j.
    Driven END-TO-END through the operator (encode_wav payload ->
    the resample row function), so a phase-accumulator or offset-trick
    regression in the shipped code fails here, plus the tiny-clip
    guard (a 2-sample clip yields no output row, like the oracle's
    empty generate_series)."""
    from dblab_ece_trino_spark.operators.multimodal import (
        CODECS,
        decode_stats,
        encode_wav,
    )

    n = 41
    ramp = np.arange(n, dtype=np.int64) * 5
    m = (5 * (n - 1)) // 8
    y = 8 * np.arange(m, dtype=np.int64)  # the exact-ramp identity
    media = spark.createDataFrame(
        [(0, bytearray(encode_wav(ramp, 8000))),
         (1, bytearray(encode_wav(np.array([7, -7]), 8000)))],
        "media_id long, payload binary",
    )
    spec = CODECS["multimodal_audio_resample"]
    rows = {r.media_id: r for r in decode_stats(media, spec).collect()}
    assert set(rows) == {0}  # the 2-sample clip is omitted, not a crash
    r = rows[0]
    assert (r.n_out, r.sum_out, r.sumsq_out, r.min_out, r.max_out,
            r.jsum_out) == (
        m, int(y.sum()), int((y * y).sum()), 0, int(y[-1]),
        int((y * np.arange(m)).sum()),
    )


# ----------------------------------------------- epoch shuffle audit
def test_epoch_shuffle_pure_python():
    """sample_epoch_shuffle oracle vs an independent hashlib + exact
    integer Spearman evaluator at sf0.001."""
    con = _con("documents")
    ids = [r[0] for r in
           con.execute("SELECT doc_id FROM documents ORDER BY 1").fetchall()]
    ranks = {}
    for e in range(3):
        order = sorted(
            ids,
            key=lambda d: (
                hashlib.md5(f"epoch-{e}:{d}".encode()).hexdigest(), d),
        )
        ranks[e] = {d: i + 1 for i, d in enumerate(order)}
    n = len(ids)
    want = []
    for ea in range(3):
        for eb in range(ea + 1, 3):
            ds = [ranks[ea][d] - ranks[eb][d] for d in ids]
            sd2 = sum(d * d for d in ds)
            sad = sum(abs(d) for d in ds)
            rho = 1_000_000 - (6_000_000 * sd2) // (n * (n * n - 1))
            want.append(
                (ea, eb, n, rho, (1_000_000 * sad) // (n * n),
                 max(abs(d) for d in ds))
            )
    got = [tuple(r) for r in
           con.execute(_oracle("sample_epoch_shuffle")).fetchall()]
    assert got == want
    # decorrelation: every pair's |rho| stays far from 1 (random-order
    # rho concentrates near 0 at O(1/sqrt(n)))
    for _ea, _eb, _n, rho, _md, _mx in got:
        assert abs(rho) < 300_000
