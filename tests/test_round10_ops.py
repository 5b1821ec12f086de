"""Round-10 operator tests: independent re-derivations and hand-built
vectors for the new graded entries (the round-6..9 discipline — every
new op gets a pure-Python or hand-vector pin in addition to its DuckDB
oracle)."""

from __future__ import annotations

import pytest


def test_gopher_repetition_matches_pure_python():
    """The Gopher character-coverage oracle must equal an independent
    pure-Python evaluator (dict n-gram counting, explicit coverage
    arithmetic) at sf0.001."""
    import re

    import duckdb

    from dblab_ece_trino_spark.operators.registry import oracle_queries

    sf = "/root/testdata/sf0.001"
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf}/documents.parquet')"
    )
    got = {
        r[0]: tuple(r[1:])
        for r in con.execute(oracle_queries()["llm_gopher_repetition"]).fetchall()
    }

    docs = con.execute("SELECT doc_id, text FROM documents").fetchall()
    assert len(got) == len(docs) > 0
    for doc_id, text in docs:
        words = re.split(r"\s+", text.strip())
        L = len(text)
        vals = {}
        for n in (2, 3, 4, 5, 6):
            counts: dict = {}
            for i in range(max(len(words) - n + 1, 1)):
                gram = " ".join(words[i : i + n])
                counts[gram] = counts.get(gram, 0) + 1
            # top by (count, coverage) lexicographic max
            topcov = max((c, c * len(g)) for g, c in counts.items())[1]
            dupcov = sum(c * len(g) for g, c in counts.items() if c >= 2)
            vals[n] = (topcov * 1_000_000 // L, dupcov * 1_000_000 // L)
        want = (
            L,
            vals[2][0], vals[3][0], vals[4][0],
            vals[5][1], vals[6][1],
            vals[2][0] <= 200000 and vals[3][0] <= 180000
            and vals[4][0] <= 160000 and vals[5][1] <= 150000
            and vals[6][1] <= 140000,
        )
        assert tuple(got[doc_id]) == want, f"doc {doc_id} diverges"


def test_gopher_repetition_flags_degenerate_doc(spark):
    """A doc that is one phrase repeated must be flagged; a diverse doc
    must pass (Gopher Table A1 thresholds)."""
    from dblab_ece_trino_spark.operators.llmprep import gopher_repetition

    rows = [
        (1, "spam ham " * 50),  # top 2-gram covers ~everything
        (2, " ".join(f"w{i}" for i in range(100))),  # all distinct
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in gopher_repetition(df).collect()}
    assert not out[1].gopher_clean and out[1].top2_ppm > 800000
    assert out[2].gopher_clean and out[2].dup5_ppm == 0


# ------------------------------------------------------------- QOI codec
def test_qoi_hand_computed_byte_vector():
    """Hand-derived encoder output for a 2x2 RGB image exercising
    LUMA, RUN, and INDEX (derived on paper from the spec 1.0 chunk
    layouts — the byte-level anti-symmetry vector)."""
    import numpy as np

    from dblab_ece_trino_spark.operators.multimodal import encode_qoi

    img = np.array(
        [[[10, 10, 10], [10, 10, 10]], [[12, 11, 9], [10, 10, 10]]],
        dtype=np.uint8,
    )
    # P0 (10,10,10): vs (0,0,0): vg=10 -> LUMA 0x80|42=0xAA, (0+8)<<4|(0+8)=0x88
    # P1 == P0: run starts
    # P2 (12,11,9): flush RUN(1)=0xC0; vr=2,vg=1,vb=-1 -> LUMA 0x80|33=0xA1,
    #   (1+8)<<4 | (-2+8) = 0x96
    # P3 (10,10,10): hash(10,10,10,255)=2955%64=11, in index -> INDEX 0x0B
    want = (
        b"qoif" + (2).to_bytes(4, "big") * 2 + bytes([3, 0])
        + bytes([0xAA, 0x88, 0xC0, 0xA1, 0x96, 0x0B])
        + b"\x00" * 7 + b"\x01"
    )
    assert encode_qoi(img) == want


def test_qoi_hand_written_stream_decodes():
    """Decode a hand-WRITTEN stream (DIFF, RGB, RGBA, RUN ops composed
    by hand) — pins the decoder independently of the encoder."""
    import numpy as np

    from dblab_ece_trino_spark.operators.multimodal import decode_qoi

    # 3x2 RGBA image: P0 via DIFF from (0,0,0,255): (+0,+0,+1) -> 0x6B
    # P1 via RGB literal (200,5,90) -> FE C8 05 5A
    # P2 via RGBA literal (1,2,3,128) -> FF 01 02 03 80
    # P3..P5 via RUN(3) of P2 -> 0xC2
    stream = (
        b"qoif" + (3).to_bytes(4, "big") + (2).to_bytes(4, "big")
        + bytes([4, 0])
        + bytes([0x6B, 0xFE, 0xC8, 0x05, 0x5A, 0xFF, 0x01, 0x02, 0x03, 0x80,
                 0xC2])
        + b"\x00" * 7 + b"\x01"
    )
    w, h, ch, arr = decode_qoi(stream)
    assert (w, h, ch) == (3, 2, 4)
    want = np.array(
        [[[0, 0, 1, 255], [200, 5, 90, 255], [1, 2, 3, 128]],
         [[1, 2, 3, 128]] * 3],
        dtype=np.uint8,
    )
    assert np.array_equal(arr, want)


def test_qoi_fixtures_match_independent_decoder():
    """Every fixture payload must decode identically through the
    independent spec reimplementation (scripts/gen_qoi_expected.py)."""
    import numpy as np

    from dblab_ece_trino_spark.operators.multimodal import CODECS, decode_qoi
    from scripts.gen_qoi_expected import ref_decode

    spec = CODECS["multimodal_qoi_decode"]
    for i in range(spec.n):
        payload = spec.payload(i)
        w, h, ch, arr = decode_qoi(payload)
        rw, rh, rch, pix = ref_decode(payload)
        assert (w, h, ch) == (rw, rh, rch)
        full = arr if ch == 4 else np.dstack(
            [arr, np.full(arr.shape[:2], 255, dtype="uint8")]
        )
        assert full.reshape(-1, 4).tolist() == [list(p) for p in pix]


def test_qoi_fixture_family_exercises_every_op():
    """The graded family must collectively contain all six chunk
    types (RGB, RGBA, INDEX, DIFF, LUMA, RUN) — otherwise the fixtures
    under-test the decoder."""
    from dblab_ece_trino_spark.operators.multimodal import CODECS

    spec = CODECS["multimodal_qoi_decode"]
    seen = set()
    for k in range(spec.n):
        body = spec.payload(k)[14:-8]
        i = 0
        while i < len(body):
            op = body[i]
            if op == 0xFE:
                seen.add("rgb"); i += 4
            elif op == 0xFF:
                seen.add("rgba"); i += 5
            else:
                tag = op >> 6
                if tag == 0:
                    seen.add("index"); i += 1
                elif tag == 1:
                    seen.add("diff"); i += 1
                elif tag == 2:
                    seen.add("luma"); i += 2
                else:
                    seen.add("run"); i += 1
    assert seen == {"rgb", "rgba", "index", "diff", "luma", "run"}


def test_qoi_error_contracts():
    import numpy as np
    import pytest

    from dblab_ece_trino_spark.operators.multimodal import (
        decode_qoi,
        encode_qoi,
    )

    enc = encode_qoi(
        np.arange(75, dtype=np.uint8).reshape(5, 5, 3) % 256
    )
    with pytest.raises(ValueError, match="magic"):
        decode_qoi(b"nope" + enc[4:])
    with pytest.raises(ValueError, match="end marker"):
        decode_qoi(enc[:-1])
    with pytest.raises(ValueError, match="truncated|exhausted"):
        decode_qoi(enc[:20] + b"\x00" * 7 + b"\x01")
    with pytest.raises(ValueError, match="channels"):
        decode_qoi(enc[:12] + bytes([5]) + enc[13:])
    with pytest.raises(ValueError, match="shorter"):
        decode_qoi(b"qoif")


# -------------------------------------------------------- nearest as-of
def test_asof_nearest_hand_built(spark):
    """Hand-built boundary cases: exact tie (backward wins), left-only,
    right-only, both-missing, and a forward win."""
    from dblab_ece_trino_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [(1, 100, "L1"), (1, 205, "L2"), (2, 50, "L3"), (3, 10, "L4")],
        "k long, t long, lbl string",
    )
    right = spark.createDataFrame(
        # k=1: candidates at 90 and 110 vs t=100 -> tie, backward (90)
        #      wins; t=205 -> nearest is 210 (forward, d=5 < 95)
        # k=2: only a later candidate (80) -> forward
        # k=3: no candidates -> nulls
        [(1, 90, "A"), (1, 110, "B"), (1, 210, "C"), (2, 80, "D")],
        "k long, t long, r string",
    )
    out = {
        (r.k, r.t): (r.r_matched, r.t_matched)
        for r in asof_join(
            left, right, on="t", by="k", right_cols=["r"],
            direction="nearest",
        ).collect()
    }
    assert out[(1, 100)] == ("A", 90)   # tie -> backward
    assert out[(1, 205)] == ("C", 210)  # forward closer
    assert out[(2, 50)] == ("D", 80)    # only forward exists
    assert out[(3, 10)] == (None, None)


# ---------------------------------------------------------- SPC rules
def test_spc_rules_matches_pure_python():
    """Western Electric flags re-derived independently: dict series,
    float-free integer sigma tests, explicit rule windows."""
    import duckdb

    from dblab_ece_trino_spark.operators.registry import oracle_queries

    sf = "/root/testdata/sf0.001"
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf}/events.parquet')"
    )
    got = con.execute(oracle_queries()["ts_spc_rules"]).fetchall()

    rows = con.execute(
        "SELECT event_type,"
        " CAST(CAST(date_trunc('day', ts) AS DATE) - DATE '1992-01-01'"
        "   AS BIGINT),"
        " sum(CAST(round(value * 100, 0) AS BIGINT))"
        " FROM events GROUP BY 1, 2 ORDER BY 1, 2"
    ).fetchall()
    series: dict = {}
    for et, dn, v in rows:
        series.setdefault(et, []).append((int(dn), int(v)))
    want = []
    for et in sorted(series):
        pts = series[et]
        n = len(pts)
        s = sum(v for _, v in pts)
        q = sum(v * v for _, v in pts)
        nvar = n * q - s * s
        z = []
        for dn, v in pts:
            dv = v * n - s
            side = 1 if dv > 0 else (-1 if dv < 0 else 0)
            z.append((dn, v, side, dv * dv > 9 * nvar,
                      dv * dv > 4 * nvar, dv * dv > nvar))
        for i, (dn, v, side, z3, z2, z1) in enumerate(z):
            w3 = z[max(0, i - 2): i + 1]
            w5 = z[max(0, i - 4): i + 1]
            w8 = z[max(0, i - 7): i + 1]
            r1 = z3
            r2 = (sum(1 for p in w3 if p[4] and p[2] == 1) >= 2
                  or sum(1 for p in w3 if p[4] and p[2] == -1) >= 2)
            r3 = (sum(1 for p in w5 if p[5] and p[2] == 1) >= 4
                  or sum(1 for p in w5 if p[5] and p[2] == -1) >= 4)
            r4 = len(w8) == 8 and abs(sum(p[2] for p in w8)) == 8
            if r1 or r2 or r3 or r4:
                want.append((et, dn, v, side, r1, r2, r3, r4))
    assert [tuple(r) for r in got] == want
    assert len(want) > 0


# ------------------------------------------------- harmonic centrality
def test_harmonic_centrality_hand_graph(spark):
    """Closed-form check on a path graph 1-2-3-4-5 with seeds {1,2,3,4}
    and max_hops=4: harmonic_ppm(s) = sum over v != s of
    1e6 // d(s,v) along the line."""
    from dblab_ece_trino_spark.operators.graph import harmonic_centrality

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "u long, v long"
    )
    got = {
        r.seed: (r.n_reached, r.harmonic_ppm)
        for r in harmonic_centrality(pairs, n_seeds=4, max_hops=4).collect()
    }
    M = 1_000_000

    def h(dists):
        return (len(dists), sum(M // d for d in dists))

    assert got == {
        1: h([1, 2, 3, 4]),
        2: h([1, 1, 2, 3]),
        3: h([1, 2, 1, 2]),
        4: h([1, 2, 3, 1]),
    }


# --------------------------------------------------------- LSH funnel
def test_lsh_funnel_theory_ppm_closed_form():
    """The repeated-squaring S-curve must equal the closed form
    floor((1 - (1 - 0.7^4)^16) * 1e6) computed independently."""
    base = 1.0 - 0.7 * 0.7 * 0.7 * 0.7
    x2 = base * base
    x4 = x2 * x2
    x8 = x4 * x4
    miss = x8 * x8
    import math
    want = math.floor((1.0 - miss) * 1_000_000)
    assert want == 987637  # the value both engines pin


def test_lsh_funnel_measured_on_slice(spark, duck):
    from tests.conftest import SF_MED, assert_matches_oracle, duck_for

    import __spark_entry__ as e

    df = e.queries()["dedup_lsh_precision"](spark, SF_MED)
    row = df.collect()[0]
    assert row.funnel_monotone_ok and row.precision_floor_ok
    assert row.n_verified > 0
    assert row.theory_collide_ppm == 987637
    assert_matches_oracle(df, duck_for(duck, SF_MED),
                          e.oracle_sql()["dedup_lsh_precision"])


# ------------------------------------------------- tokenizer fertility
def test_tokenizer_fertility_identities(spark):
    """Bucket sums must reconcile with the per-doc encoder output, and
    the ppm ratios must be exact floor divisions of those sums."""
    from pyspark.sql import functions as F

    from dblab_ece_trino_spark.operators.text import (
        _docs,
        bpe_encode_counts,
        tokenizer_fertility,
    )

    docs = _docs(spark, "/root/testdata/sf0.001")
    per_doc = {
        r.doc_id: r for r in bpe_encode_counts(docs).collect()
    }
    dims = {r.doc_id: (r.lang, r.source)
            for r in docs.select("doc_id", "lang", "source").collect()}
    agg: dict = {}
    for did, r in per_doc.items():
        k = dims[did]
        nd, nw, nc, nt = agg.get(k, (0, 0, 0, 0))
        agg[k] = (nd + 1, nw + r.n_words, nc + r.n_chars,
                  nt + r.n_bpe_tokens)
    got = {(r.lang, r.source): r
           for r in tokenizer_fertility(docs).collect()}
    assert set(got) == set(agg)
    for k, (nd, nw, nc, nt) in agg.items():
        g = got[k]
        assert (g.n_docs, g.n_words, g.n_bpe_tokens) == (nd, nw, nt)
        assert g.fertility_ppm == nt * 1_000_000 // nw
        assert g.chars_per_token_ppm == nc * 1_000_000 // nt
        # BPE merges only ever shrink: fertility within (0, chars/word]
        assert 0 < g.fertility_ppm <= nc * 1_000_000 // nw


def test_ordinal_patterns_matches_pure_python():
    """The ordinal-pattern oracle must equal an independent pure-Python
    evaluator (explicit rank comparisons, dict histogram) at sf0.001,
    and the histogram must support the permutation-entropy bound
    0 <= PE <= ln(6) (the ln left out of the engine by design)."""
    import math

    import duckdb

    from dblab_ece_trino_spark.operators.registry import oracle_queries

    sf = "/root/testdata/sf0.001"
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{sf}/events.parquet')"
    )
    got = [tuple(r) for r in
           con.execute(oracle_queries()["ts_ordinal_patterns"]).fetchall()]
    assert got, "oracle returned no rows"

    daily = con.execute(
        "SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d, "
        "CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS v "
        "FROM events GROUP BY 1, 2 ORDER BY 1, 2"
    ).fetchall()
    series: dict = {}
    for et, _, v in daily:
        series.setdefault(et, []).append(v)

    want = []
    for et in sorted(series):
        vs = series[et]
        hist: dict = {}
        for i in range(2, len(vs)):
            a, b, c = vs[i - 2], vs[i - 1], vs[i]
            ra = (b < a) + (c < a)
            rb = (a <= b) + (c < b)
            rc = (a <= c) + (b <= c)
            assert sorted((ra, rb, rc)) == [0, 1, 2]
            hist[100 * ra + 10 * rb + rc] = hist.get(100 * ra + 10 * rb + rc, 0) + 1
        n = sum(hist.values())
        for pat in sorted(hist):
            want.append((et, pat, hist[pat], hist[pat] * 1_000_000 // n, n))
        pe = -sum((c / n) * math.log(c / n) for c in hist.values())
        assert 0.0 <= pe <= math.log(6) + 1e-12
    assert got == want


def test_modularity_matches_pure_python():
    """The modularity oracle must equal an independent pure-Python
    evaluator (dict graph, explicit e_c/d_c accounting) at sf0.001,
    including the textbook identities sum(d_c) = 2m and
    sum(e_c) <= m, and Q within the published [-1/2, 1) range."""
    import duckdb

    from dblab_ece_trino_spark.operators.registry import oracle_queries

    sf = "/root/testdata/sf0.001"
    con = duckdb.connect()
    for t in ("lineitem", "part"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf}/{t}.parquet')"
        )
    got = [tuple(r) for r in
           con.execute(oracle_queries()["graph_modularity"]).fetchall()]
    assert got, "oracle returned no rows"

    pairs = con.execute(
        "SELECT a.l_partkey, b.l_partkey FROM lineitem a JOIN lineitem b "
        "ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey "
        "GROUP BY 1, 2 HAVING count(*) >= 2"
    ).fetchall()
    brand = dict(con.execute("SELECT p_partkey, p_brand FROM part").fetchall())

    m = len(pairs)
    deg: dict = {}
    e_c: dict = {}
    for u, v in pairs:
        deg[u] = deg.get(u, 0) + 1
        deg[v] = deg.get(v, 0) + 1
        if brand[u] == brand[v]:
            e_c[brand[u]] = e_c.get(brand[u], 0) + 1
    n_c: dict = {}
    d_c: dict = {}
    for node, k in deg.items():
        b = brand[node]
        n_c[b] = n_c.get(b, 0) + 1
        d_c[b] = d_c.get(b, 0) + k
    assert sum(d_c.values()) == 2 * m
    assert sum(e_c.values()) <= m

    den = 4 * m * m
    nums = {b: 10**6 * (4 * m * e_c.get(b, 0) - d_c[b] ** 2) for b in n_c}

    def tdiv(n: int) -> int:
        return n // den if n >= 0 else -((-n) // den)

    tot = tdiv(sum(nums.values()))
    assert -500_000 <= tot < 1_000_000  # Q in [-1/2, 1)
    want = [
        (b, n_c[b], d_c[b], e_c.get(b, 0), tdiv(nums[b]), tot)
        for b in sorted(n_c)
    ]
    assert got == want


def test_survival_hazard_matches_pure_python():
    """The life-table oracle must equal an independent pure-Python
    Kaplan-Meier evaluator (explicit per-customer durations, dict risk
    sets) at sf0.001; the float K-M survival product left out of the
    engine must be monotone non-increasing in [0, 1]."""
    import duckdb

    from dblab_ece_trino_spark.operators.registry import oracle_queries

    sf = "/root/testdata/sf0.001"
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW orders AS SELECT * FROM "
        f"read_parquet('{sf}/orders.parquet')"
    )
    got = [tuple(r) for r in
           con.execute(oracle_queries()["op_survival_hazard"]).fetchall()]
    assert got, "oracle returned no rows"

    rows = con.execute(
        "SELECT o_custkey, CAST(o_orderdate AS DATE), o_orderkey "
        "FROM orders ORDER BY o_custkey, 2, 3"
    ).fetchall()
    dmax = max(r[1] for r in rows)
    per: dict = {}
    for ck, d, _ in rows:
        per.setdefault(ck, []).append(d)
    obs = []
    for ck, ds in per.items():
        if len(ds) >= 2:
            obs.append(((ds[1] - ds[0]).days, 1))
        else:
            obs.append(((dmax - ds[0]).days, 0))

    times = sorted({t for t, _ in obs})
    want = []
    cum = 0
    surv = 1.0
    prev_surv = 1.0
    for t in times:
        n_risk = sum(1 for tt, _ in obs if tt >= t)
        d_ev = sum(1 for tt, ev in obs if tt == t and ev == 1)
        n_cen = sum(1 for tt, ev in obs if tt == t and ev == 0)
        hz = d_ev * 1_000_000 // n_risk
        cum += hz
        want.append((t, n_risk, d_ev, n_cen, hz, cum))
        surv *= 1.0 - d_ev / n_risk
        assert 0.0 <= surv <= prev_surv  # K-M monotonicity
        prev_surv = surv
    assert got == want


def test_rake_matches_pure_python():
    """The RAKE oracle must equal an independent pure-Python extractor
    (explicit phrase splitting, dict degree/frequency accounting) at
    sf0.001."""
    import re

    import duckdb

    from dblab_ece_trino_spark.operators.text import (
        RAKE_MAX_WORDS,
        RAKE_STOPWORDS,
        RAKE_TOP,
    )
    from dblab_ece_trino_spark.operators.registry import oracle_queries

    sf = "/root/testdata/sf0.001"
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf}/documents.parquet')"
    )
    got = [tuple(r) for r in
           con.execute(oracle_queries()["text_rake_keyphrases"]).fetchall()]
    assert len(got) == RAKE_TOP

    docs = con.execute("SELECT text FROM documents").fetchall()
    sw_re = re.compile(r"\b(" + "|".join(RAKE_STOPWORDS) + r")\b")
    occurrences = []
    for (text,) in docs:
        for chunk in sw_re.sub("|", text).split("|"):
            phrase = " ".join(chunk.split())
            if phrase and len(phrase.split()) <= RAKE_MAX_WORDS:
                occurrences.append(phrase)
    freq: dict = {}
    deg: dict = {}
    occ: dict = {}
    for phrase in occurrences:
        ws = phrase.split()
        occ[phrase] = occ.get(phrase, 0) + 1
        for w in ws:
            freq[w] = freq.get(w, 0) + 1
            deg[w] = deg.get(w, 0) + len(ws)
    wscore = {w: deg[w] * 1_000_000 // freq[w] for w in freq}
    scored = [
        (p, len(p.split()), occ[p], sum(wscore[w] for w in p.split()))
        for p in occ
    ]
    scored.sort(key=lambda r: (-r[3], r[0]))
    assert got == scored[:RAKE_TOP]


def test_max_drawdown_matches_pure_python():
    """The drawdown oracle must equal an independent pure-Python
    evaluator (explicit running peak, earliest-tie argmax) at
    sf0.001."""
    import duckdb

    from dblab_ece_trino_spark.operators.registry import oracle_queries

    sf = "/root/testdata/sf0.001"
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{sf}/events.parquet')"
    )
    got = [tuple(r) for r in
           con.execute(oracle_queries()["ts_max_drawdown"]).fetchall()]
    assert got, "oracle returned no rows"

    daily = con.execute(
        "SELECT event_type, "
        "CAST(CAST(date_trunc('day', ts) AS DATE) - DATE '1992-01-01' "
        "  AS BIGINT) AS dn, "
        "CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS v "
        "FROM events GROUP BY 1, 2 ORDER BY 1, 2"
    ).fetchall()
    series: dict = {}
    for et, dn, v in daily:
        series.setdefault(et, []).append((dn, v))

    want = []
    for et in sorted(series):
        peak = peak_dn = None
        best = None  # (drawdown, trough_dn, peak, peak_dn)
        for dn, v in series[et]:
            if peak is None or v > peak:
                peak, peak_dn = v, dn
            dd = peak - v
            if best is None or dd > best[0]:
                best = (dd, dn, peak, peak_dn)
        dd, trough_dn, pk, pk_dn = best
        want.append(
            (et, dd, pk, pk_dn, trough_dn,
             dd * 1_000_000 // pk if pk > 0 else 0)
        )
    assert got == want


def test_systematic_sample_matches_pure_python():
    """The systematic-sampling oracle must equal an independent
    pure-Python evaluator (hashlib order, explicit modulo pass) at
    sf0.001, and the sample size must hit the textbook count
    floor((N - start - 1)/k) + 1 exactly."""
    import hashlib

    import duckdb

    from dblab_ece_trino_spark.operators.registry import oracle_queries
    from dblab_ece_trino_spark.operators.sampling import (
        SYS_K,
        SYS_SEED,
        SYS_START,
    )

    sf = "/root/testdata/sf0.001"
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf}/documents.parquet')"
    )
    got = [tuple(r) for r in
           con.execute(oracle_queries()["sample_systematic"]).fetchall()]
    assert got, "oracle returned no rows"

    rows = con.execute(
        "SELECT doc_id, source, n_chars FROM documents"
    ).fetchall()
    hashed = sorted(
        (hashlib.md5(f"{SYS_SEED}{doc_id}".encode()).hexdigest(),
         doc_id, source, n_chars)
        for doc_id, source, n_chars in rows
    )
    want = [
        (doc_id, source, n_chars, gr)
        for gr, (_, doc_id, source, n_chars) in enumerate(hashed, start=1)
        if (gr - 1) % SYS_K == SYS_START
    ]
    n = len(rows)
    assert len(want) == (n - SYS_START - 1) // SYS_K + 1
    assert got == want


def test_moments_profile_matches_pure_python():
    """The moments oracle must equal an independent pure-Python
    evaluator: exact integer numerators via big-int arithmetic, then
    the identical IEEE finale — and the g1/g2 values must agree with
    a direct float mean-centered computation to 1e-9 relative."""
    import math

    import duckdb

    from dblab_ece_trino_spark.operators.registry import oracle_queries

    sf = "/root/testdata/sf0.001"
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{sf}/events.parquet')"
    )
    got = [tuple(r) for r in
           con.execute(oracle_queries()["op_moments_profile"]).fetchall()]
    assert got, "oracle returned no rows"

    daily = con.execute(
        "SELECT event_type, "
        "CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS v "
        "FROM events GROUP BY event_type, date_trunc('day', ts)"
    ).fetchall()
    series: dict = {}
    for et, v in daily:
        series.setdefault(et, []).append(v)

    want = []
    for et in sorted(series):
        vs = series[et]
        n, s1 = len(vs), sum(vs)
        anchor = s1 // n
        ds = [v - anchor for v in vs]
        sd1, sd2 = sum(ds), sum(d * d for d in ds)
        sd3, sd4 = sum(d**3 for d in ds), sum(d**4 for d in ds)
        a2 = n * sd2 - sd1 * sd1
        a3 = n * n * sd3 - 3 * n * sd1 * sd2 + 2 * sd1**3
        a4 = (n**3 * sd4 - 4 * n * n * sd1 * sd3
              + 6 * n * sd1 * sd1 * sd2 - 3 * sd1**4)
        var = float(a2) / (float(n) * float(n))
        g1 = float(a3) / (float(a2) * math.sqrt(float(a2)))
        g2 = float(a4) / (float(a2) * float(a2)) - 3.0
        want.append((et, n, s1, s1 // n, var, g1, g2))

        # sanity: agree with the direct mean-centered float formula
        mu = s1 / n
        m2 = sum((v - mu) ** 2 for v in vs) / n
        m3 = sum((v - mu) ** 3 for v in vs) / n
        m4 = sum((v - mu) ** 4 for v in vs) / n
        assert math.isclose(g1, m3 / m2**1.5, rel_tol=1e-9)
        assert math.isclose(g2, m4 / m2**2 - 3.0, rel_tol=1e-9)
    assert got == want


# --------------------------------------------------------------- TGA codec
def test_tga_hand_built_stream_decodes():
    """Decode a hand-WRITTEN type-10 stream (RLE + raw packets composed
    by hand, bottom-up rows, BGR order) — pins the decoder independently
    of the encoder."""
    import struct

    import numpy as np

    from dblab_ece_trino_spark.operators.multimodal import (
        _TGA_FOOTER,
        decode_tga,
    )

    # 3x2, 24bpp, type 10, bottom-up (descriptor 0).
    # Bottom row first: RLE(2) of BGR(1,2,3) + raw(1) of BGR(9,8,7);
    # top row: raw(3) of BGR (10,20,30) (40,50,60) (70,80,90).
    hdr = struct.pack("<BBBHHBHHHHBB", 0, 0, 10, 0, 0, 0, 0, 0, 3, 2, 24, 0)
    body = bytes(
        [0x81, 1, 2, 3, 0x00, 9, 8, 7,
         0x02, 10, 20, 30, 40, 50, 60, 70, 80, 90]
    )
    w, h, ch, arr = decode_tga(hdr + body + _TGA_FOOTER)
    assert (w, h, ch) == (3, 2, 24 // 8)
    want = np.array(
        [[[30, 20, 10], [60, 50, 40], [90, 80, 70]],   # top (read last)
         [[3, 2, 1], [3, 2, 1], [7, 8, 9]]],           # bottom (read first)
        dtype=np.uint8,
    )
    assert np.array_equal(arr, want)


def test_tga_roundtrip_both_orientations_and_types():
    """encode -> decode is the identity for every (rle, topdown)
    combination on an image with no accidental symmetry."""
    import numpy as np

    from dblab_ece_trino_spark.operators.multimodal import (
        decode_tga,
        encode_tga,
    )

    rng_img = (
        np.arange(7 * 5 * 4, dtype=np.int64) * 37 % 256
    ).astype(np.uint8).reshape(5, 7, 4)
    for rle in (False, True):
        for topdown in (False, True):
            w, h, ch, arr = decode_tga(
                encode_tga(rng_img, rle=rle, topdown=topdown)
            )
            assert (w, h, ch) == (7, 5, 4)
            assert np.array_equal(arr, rng_img), (rle, topdown)


def test_tga_fixtures_match_independent_decoder():
    """Every fixture payload must decode identically through the
    independent spec reimplementation (scripts/gen_tga_expected.py)."""
    import numpy as np

    from dblab_ece_trino_spark.operators.multimodal import CODECS, decode_tga
    from scripts.gen_tga_expected import ref_decode

    spec = CODECS["multimodal_tga_decode"]
    for i in range(spec.n):
        payload = spec.payload(i)
        w, h, ch, arr = decode_tga(payload)
        rw, rh, rch, pix = ref_decode(payload)
        assert (w, h, ch) == (rw, rh, rch)
        assert arr.reshape(-1, ch).tolist() == [list(p) for p in pix]


def test_tga_fixture_family_covers_the_format():
    """The graded family must collectively contain both image types,
    both bit depths, both row orders, and (in the RLE members) both
    packet kinds — otherwise the fixtures under-test the decoder."""
    import struct

    from dblab_ece_trino_spark.operators.multimodal import CODECS, _TGA_FOOTER

    spec = CODECS["multimodal_tga_decode"]
    seen = set()
    for i in range(spec.n):
        payload = spec.payload(i)
        hdr = struct.unpack("<BBBHHBHHHHBB", payload[:18])
        itype, w, h, bpp, desc = hdr[2], hdr[8], hdr[9], hdr[10], hdr[11]
        seen.add(("type", itype))
        seen.add(("bpp", bpp))
        seen.add(("topdown", bool(desc & 0x20)))
        if itype == 10:
            body = payload[18:-len(_TGA_FOOTER)]
            ch = bpp // 8
            pos = 0
            n = 0
            while n < w * h:
                p = body[pos]
                pos += 1
                count = (p & 0x7F) + 1
                if p & 0x80:
                    seen.add(("packet", "rle"))
                    pos += ch
                else:
                    seen.add(("packet", "raw"))
                    pos += count * ch
                n += count
    assert {("type", 2), ("type", 10), ("bpp", 24), ("bpp", 32),
            ("topdown", True), ("topdown", False),
            ("packet", "rle"), ("packet", "raw")} <= seen


def test_tga_error_contracts():
    import numpy as np
    import pytest

    from dblab_ece_trino_spark.operators.multimodal import (
        _TGA_FOOTER,
        decode_image,
        decode_tga,
        encode_tga,
    )

    img = (np.arange(60, dtype=np.int64) * 11 % 256).astype(
        np.uint8
    ).reshape(4, 5, 3)
    raw = encode_tga(img)
    rle = encode_tga(img, rle=True)
    with pytest.raises(ValueError, match="header"):
        decode_tga(raw[:10])
    with pytest.raises(ValueError, match="color-mapped"):
        decode_tga(raw[:1] + b"\x01" + raw[2:])
    with pytest.raises(ValueError, match="image type"):
        decode_tga(raw[:2] + b"\x03" + raw[3:])
    with pytest.raises(ValueError, match="bit depth"):
        decode_tga(raw[:16] + b"\x10" + raw[17:])
    with pytest.raises(ValueError, match="right-to-left"):
        decode_tga(raw[:17] + b"\x10" + raw[18:])
    with pytest.raises(ValueError, match="truncated TGA pixel data"):
        decode_tga(raw[:30] + _TGA_FOOTER)
    with pytest.raises(ValueError, match="exhausted|truncated"):
        decode_tga(rle[:22] + _TGA_FOOTER)
    with pytest.raises(ValueError, match="trailing"):
        decode_tga(raw[:-len(_TGA_FOOTER)] + b"\x00" + _TGA_FOOTER)
    # the image seam detects TGA by the v2 footer and returns RGB
    w, h, arr = decode_image(raw)
    assert (w, h) == (5, 4) and arr.shape == (4, 5, 3)


# ------------------------------------------------------- image aHash dedup
def test_image_ahash_matches_pure_python(spark):
    """Engine fingerprints (decode_tga -> block hash) must equal an
    independent pure-Python hash of the closed-form pattern, and the
    pair frame must flag exactly the planted clone pairs (0,4) and
    (1,5) at Hamming 1 with every other pair >= 24 bits apart."""
    import numpy as np

    from dblab_ece_trino_spark.operators.multimodal import (
        CODECS,
        _AHASH_COEFFS,
        _ahash_gray,
        codec_frame,
    )
    from dblab_ece_trino_spark.operators.registry import spark_queries

    # independent hash: explicit per-block double loop, no reshape
    def ref_hash(g):
        total = int(g.sum())
        bits = []
        for by in range(8):
            for bx in range(8):
                bs = int(g[by * 2:(by + 1) * 2, bx * 4:(bx + 1) * 4].sum())
                bits.append(1 if bs * 64 > total else 0)
        lo = sum(bit << k for k, bit in enumerate(bits[:32]))
        hi = sum(bit << k for k, bit in enumerate(bits[32:]))
        return hi, lo

    got = {
        r.media_id: (r.hash_hi, r.hash_lo)
        for r in codec_frame(spark, CODECS["dedup_image_ahash"]).collect()
    }
    want = {i: ref_hash(_ahash_gray(i).astype(np.int64))
            for i in range(len(_AHASH_COEFFS))}
    assert got == want

    pairs = {(r.media_a, r.media_b): (r.hamming, r.is_dup)
             for r in spark_queries()["dedup_image_ahash"](spark, "").collect()}
    assert len(pairs) == 28
    for (a, b), (ham, dup) in pairs.items():
        if (a, b) in ((0, 4), (1, 5)):
            assert ham == 1 and dup
        else:
            assert ham >= 24 and not dup


def test_vacuum_planner_matches_pure_python():
    """The vacuum oracle must equal an independent pure-Python
    evaluator (dict per-key version sets, explicit keep-floor rule) at
    sf0.001, and the invariants must hold: every seq-2/3 row retained,
    a seq-1 row reclaimable iff its key was repriced, and retained
    rows exactly reconstruct every AS OF >= horizon."""
    import hashlib

    import duckdb

    from dblab_ece_trino_spark.operators.registry import oracle_queries
    from dblab_ece_trino_spark.operators.warehouse import VACUUM_HORIZON

    sf = "/root/testdata/sf0.001"
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW orders AS SELECT * FROM "
        f"read_parquet('{sf}/orders.parquet')"
    )
    got = [tuple(r) for r in
           con.execute(oracle_queries()["wh_vacuum_planner"]).fetchall()]
    assert got, "oracle returned no rows"

    def bucket(key: int, seed: str) -> int:
        return int(
            hashlib.md5(f"{seed}{key}".encode()).hexdigest()[:2], 16
        )

    orders = con.execute(
        "SELECT o_orderkey, CAST(CAST(o_totalprice AS DECIMAL(18,2)) "
        "AS DECIMAL(22,4)) FROM orders"
    ).fetchall()
    from decimal import Decimal

    stats: dict = {}
    for k, price in orders:
        upd = bucket(k, "cdc-u") < 128
        dele = bucket(k, "cdc-d") < 32
        versions = [(1, "I", price)]
        if upd:
            versions.append(
                (2, "U", (price * Decimal("1.1")).quantize(
                    Decimal("0.0001"))))
        if dele:
            versions.append((3, "D", None))
        floor = max(s for s, _, _ in versions if s <= VACUUM_HORIZON)
        for s, op, p in versions:
            reclaim = s < floor
            n, nr, mass = stats.get((s, op), (0, 0, Decimal(0)))
            stats[(s, op)] = (
                n + 1, nr + reclaim,
                mass + ((p or Decimal(0)) if reclaim else Decimal(0)),
            )
            # invariant: only superseded-within-horizon rows reclaim
            assert reclaim == (s == 1 and upd)
    want = [
        (s, op, n, nr, int(mass * 10000))
        for (s, op), (n, nr, mass) in sorted(stats.items())
    ]
    assert got == want


def test_ivf_probe_sweep_full_probe_closure(spark):
    """Probing ALL clusters makes IVF exact search: the sweep frame at
    nprobe = n_clusters must pass a 1e6-ppm recall floor (every one of
    the k x n_queries brute-force pairs recovered), anchoring the
    measurement mechanics — the sim_recall_at_k bruteforce-row trick
    applied to the sweep."""
    from pyspark.sql import functions as F

    from dblab_ece_trino_spark.operators.similarity import (
        _emb,
        ivf_probe_sweep,
    )
    from dblab_ece_trino_spark.session import materialize

    emb = _emb(spark, "/root/testdata/sf0.001")
    queries = materialize(emb.filter(F.col("vec_id") < 10))
    rows = ivf_probe_sweep(
        emb, queries, k=5, n_clusters=16, probes=(16,),
        floors={16: 1_000_000},
    ).collect()
    assert len(rows) == 1
    assert rows[0].recall_ok and rows[0].monotone_ok


def test_ivf_probe_sweep_verdicts_and_floors(spark):
    """All graded verdicts must hold at sf0.001, and the floor table
    must be strictly covered: nprobe=8 clears the tightest 0.7 floor."""
    from dblab_ece_trino_spark.operators.registry import spark_queries

    rows = spark_queries()["sim_ivf_probe_sweep"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert [r.nprobe for r in rows] == [1, 2, 4, 8]
    assert all(r.recall_ok and r.monotone_ok for r in rows)
    assert rows[-1].floor_ppm == 700_000


def test_hist_equalize_matches_pure_python(spark):
    """Engine histogram equalization (decode_tga -> integer CDF remap)
    must equal an independent pure-Python evaluator over every fixture,
    and a correct equalization must stretch each image to the full
    [0, 255] range."""
    import numpy as np

    from dblab_ece_trino_spark.operators.multimodal import _TGA_PARAMS
    from dblab_ece_trino_spark.operators.registry import spark_queries

    def pixel(i, x, y, w):
        band = (4 * x) // w
        if band == 0:
            return (23 * i) % 256
        if band == 1:
            return ((x % 2) * 90 + 5 * i) % 256
        if band == 2:
            return (2 * x + 3 * y + 8 * i) % 256
        return (7 * x + 13 * i) % 256

    want = []
    for i, (w, h, _ch, _rle, _td) in enumerate(_TGA_PARAMS):
        g = np.array(
            [[pixel(i, x, y, w) for x in range(w)] for y in range(h)],
            dtype=np.int64,
        )
        npx = w * h
        hist = np.bincount(g.flatten(), minlength=256)
        cdf = hist.cumsum()
        cdfmin = int(cdf[np.nonzero(hist)[0][0]])
        eq = (cdf - cdfmin) * 255 // (npx - cdfmin)
        o = eq[g]
        yw = np.arange(h, dtype=np.int64)[:, None]
        want.append(
            (i, w, h, int(g.sum()), int(o.sum()), int(o.min()),
             int(o.max()), int((o * yw).sum()))
        )
        assert int(o.min()) == 0 and int(o.max()) == 255

    entry = spark_queries()["multimodal_hist_equalize"]
    got = [tuple(r) for r in entry(spark, "").collect()]
    assert got == want


def test_bpe_compression_curve_matches_pure_python():
    """The curve oracle must equal an independent pure-Python BPE
    (explicit left-to-right merge loop per prefix) at sf0.001, be
    monotone non-increasing in tokens, anchor at tokens == chars for
    k = 0, and reconcile with the fertility entry's corpus totals at
    the full table."""
    import re

    import duckdb

    from dblab_ece_trino_spark.operators.registry import oracle_queries
    from dblab_ece_trino_spark.operators.text import (
        BPE_CURVE_KS,
        BPE_MERGES,
    )

    sf = "/root/testdata/sf0.001"
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf}/documents.parquet')"
    )
    got = [tuple(r) for r in
           con.execute(oracle_queries()["llm_bpe_compression_curve"])
           .fetchall()]
    assert [r[0] for r in got] == list(BPE_CURVE_KS)

    def encode(word, merges):
        syms = list(word)
        for a, b in merges:
            out = []
            for s in syms:
                if out and out[-1] == a and s == b:
                    out[-1] = a + b
                else:
                    out.append(s)
            syms = out
        return len(syms)

    docs = con.execute("SELECT text FROM documents").fetchall()
    words = []
    for (text,) in docs:
        words.extend(w for w in re.split(r"\s+", text.strip().lower()) if w)
    n_words = len(words)
    n_chars = sum(len(w) for w in words)
    from collections import Counter

    vocab = Counter(words)
    prev_tokens = None
    for k, row in zip(BPE_CURVE_KS, got):
        n_tokens = sum(
            cnt * encode(w, BPE_MERGES[:k]) for w, cnt in vocab.items()
        )
        want = (
            k, n_words, n_chars, n_tokens,
            n_tokens * 1_000_000 // n_words,
            n_chars * 1_000_000 // n_tokens,
            n_tokens * 1_000_000 // n_chars,
        )
        assert row == want, f"k={k} diverges"
        if k == 0:
            assert n_tokens == n_chars
        if prev_tokens is not None:
            assert n_tokens <= prev_tokens  # merges only ever shrink
        prev_tokens = n_tokens

    # reconciliation with the fertility entry's corpus totals
    fert = con.execute(oracle_queries()["llm_tokenizer_fertility"]).fetchall()
    assert sum(r[4] for r in fert) == got[-1][3]  # n_bpe_tokens total


def test_user_stickiness_matches_pure_python():
    """The stickiness oracle must equal an independent pure-Python
    evaluator (explicit trailing-28-day set union per day) at sf0.001,
    with DAU <= MAU everywhere and a first-day ratio of exactly 1e6
    (the head window contains only that day)."""
    import duckdb

    from dblab_ece_trino_spark.operators.registry import oracle_queries

    sf = "/root/testdata/sf0.001"
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{sf}/events.parquet')"
    )
    got = [tuple(r) for r in
           con.execute(oracle_queries()["op_user_stickiness"]).fetchall()]
    assert got, "oracle returned no rows"

    pairs = con.execute(
        "SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE), user_id "
        "FROM events"
    ).fetchall()
    by_day: dict = {}
    for d, u in pairs:
        by_day.setdefault(d, set()).add(u)
    days = sorted(by_day)
    want = []
    for d in days:
        dau = len(by_day[d])
        mau_set: set = set()
        for d2, us in by_day.items():
            if 0 <= (d - d2).days <= 27:
                mau_set |= us
        mau = len(mau_set)
        assert dau <= mau
        want.append((d, dau, mau, dau * 1_000_000 // mau))
    assert want[0][3] == 1_000_000
    assert got == want


def test_audio_decimate_matches_pure_python():
    """The decimation oracle must equal an independent pure-Python
    evaluator (explicit sample loop over the shared sawtooth closed
    form) at every clip, and the offset trick must equal true floor
    division of the raw pair sum."""
    import duckdb

    from dblab_ece_trino_spark.operators.registry import oracle_queries
    from dblab_ece_trino_spark.operators.multimodal import _N_WAV, _WAV_RATE

    got = [tuple(r) for r in duckdb.connect().execute(
        oracle_queries()["multimodal_audio_decimate"]).fetchall()]
    assert len(got) == _N_WAV

    want = []
    for i in range(_N_WAV):
        n_samp = 64 + 16 * (i % 4)
        step = 50 + 7 * i
        amp = 1000 + 100 * (i % 7)
        s = [(k * step) % (2 * amp) - amp for k in range(n_samp)]
        ys = []
        for j in range(n_samp // 2):
            a, b = s[2 * j], s[2 * j + 1]
            y = (a + b + 4096) // 2 - 2048
            assert y == (a + b) // 2  # offset trick == true floor
            ys.append(y)
        want.append(
            (i, _WAV_RATE // 2, len(ys), sum(ys),
             sum(v * v for v in ys), min(ys), max(ys),
             sum(j * v for j, v in enumerate(ys)))
        )
    assert got == want


def test_top_paths_matches_pure_python():
    """The top-paths oracle must equal an independent pure-Python
    evaluator (explicit per-user sort, dict path counting) at
    sf0.001."""
    import duckdb

    from dblab_ece_trino_spark.operators.behavior import PATH_LEN, PATHS_TOP
    from dblab_ece_trino_spark.operators.registry import oracle_queries

    sf = "/root/testdata/sf0.001"
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{sf}/events.parquet')"
    )
    got = [tuple(r) for r in
           con.execute(oracle_queries()["op_top_paths"]).fetchall()]
    assert 0 < len(got) <= PATHS_TOP  # sf0.001 has fewer distinct paths

    rows = con.execute(
        "SELECT user_id, event_type, ts, event_id FROM events "
        "ORDER BY user_id, ts, event_id"
    ).fetchall()
    per: dict = {}
    for uid, et, _ts, _eid in rows:
        seq = per.setdefault(uid, [])
        if len(seq) < PATH_LEN:
            seq.append(et)
    counts: dict = {}
    for seq in per.values():
        key = (" > ".join(seq), len(seq))
        counts[key] = counts.get(key, 0) + 1
    want = sorted(
        ((p, n, c) for (p, n), c in counts.items()),
        key=lambda r: (-r[2], r[0]),
    )[:PATHS_TOP]
    assert got == want


def test_markov_stationary_matches_pure_python():
    """The stationary-distribution oracle must equal an independent
    pure-Python integer power iteration at sf0.001, sum to MARKOV_SCALE
    within |types| floor losses, and agree with a FLOAT power iteration
    (the true fixed point) within 1e-6 relative."""
    import duckdb

    from dblab_ece_trino_spark.operators.behavior import (
        MARKOV_ITERS,
        MARKOV_SCALE,
    )
    from dblab_ece_trino_spark.operators.registry import oracle_queries

    sf = "/root/testdata/sf0.001"
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{sf}/events.parquet')"
    )
    got = dict(
        con.execute(oracle_queries()["op_markov_stationary"]).fetchall()
    )
    assert got, "oracle returned no rows"
    assert 0 <= MARKOV_SCALE - sum(got.values()) <= len(got) * MARKOV_ITERS

    rows = con.execute(
        "SELECT user_id, event_type, ts, event_id FROM events "
        "ORDER BY user_id, ts, event_id"
    ).fetchall()
    per: dict = {}
    for uid, et, _ts, _eid in rows:
        per.setdefault(uid, []).append(et)
    n: dict = {}
    for seq in per.values():
        for a, b in zip(seq, seq[1:]):
            n[(a, b)] = n.get((a, b), 0) + 1
    states = sorted({s for ab in n for s in ab})
    n_i = {i: sum(c for (a, _b), c in n.items() if a == i) for i in states}

    pi = {s: MARKOV_SCALE // 5 for s in states}
    for _ in range(MARKOV_ITERS):
        raw = {
            j: sum(pi[i] * n.get((i, j), 0) // n_i[i] for i in states)
            for j in states
        }
        t = sum(raw.values())
        pi = {j: raw[j] * MARKOV_SCALE // t for j in states}
    assert got == pi

    pf = {s: 1.0 / len(states) for s in states}
    for _ in range(200):
        pf = {
            j: sum(pf[i] * n.get((i, j), 0) / n_i[i] for i in states)
            for j in states
        }
        z = sum(pf.values())
        pf = {j: v / z for j, v in pf.items()}
    for s in states:
        assert abs(got[s] / MARKOV_SCALE - pf[s]) < 1e-6


def test_cluster_sample_matches_pure_python():
    """The cluster-sampling oracle must equal an independent pure-Python
    evaluator (hashlib two-stage draws) at sf0.001, with the design
    invariants: a non-selected cluster samples 0 docs; a selected
    cluster's draw is independent of its docs."""
    import hashlib

    import duckdb

    from dblab_ece_trino_spark.operators.registry import oracle_queries
    from dblab_ece_trino_spark.operators.sampling import (
        CLUSTER_KEEP,
        WITHIN_KEEP,
    )

    sf = "/root/testdata/sf0.001"
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf}/documents.parquet')"
    )
    got = [tuple(r) for r in
           con.execute(oracle_queries()["sample_cluster"]).fetchall()]
    assert got, "oracle returned no rows"

    def bucket(key, seed):
        return int(hashlib.md5(f"{seed}{key}".encode()).hexdigest()[:2], 16)

    docs = con.execute("SELECT source, doc_id FROM documents").fetchall()
    per: dict = {}
    for src, did in docs:
        sel_c = bucket(src, "cluster-v1") < CLUSTER_KEEP
        sel_d = sel_c and bucket(did, "within-v1") < WITHIN_KEEP
        n, ns = per.get(src, (0, 0))
        per[src] = (n + 1, ns + sel_d)
    want = [
        (src, bucket(src, "cluster-v1") < CLUSTER_KEEP, n, ns)
        for src, (n, ns) in sorted(per.items())
    ]
    assert got == want
    for _src, sel, _n, ns in want:
        if not sel:
            assert ns == 0


def test_hapax_ratio_matches_pure_python():
    """The hapax oracle must equal an independent pure-Python evaluator
    (Counter per source) at sf0.001, with hapax <= vocab <= tokens."""
    import re
    from collections import Counter

    import duckdb

    from dblab_ece_trino_spark.operators.registry import oracle_queries

    sf = "/root/testdata/sf0.001"
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf}/documents.parquet')"
    )
    got = [tuple(r) for r in
           con.execute(oracle_queries()["text_hapax_ratio"]).fetchall()]
    assert got, "oracle returned no rows"

    docs = con.execute("SELECT source, text FROM documents").fetchall()
    per: dict = {}
    for src, text in docs:
        c = per.setdefault(src, Counter())
        c.update(w for w in re.split(r"\s+", text.strip().lower()) if w)
    want = []
    for src in sorted(per):
        c = per[src]
        vocab = len(c)
        hapax = sum(1 for n in c.values() if n == 1)
        tokens = sum(c.values())
        assert hapax <= vocab <= tokens
        want.append(
            (src, vocab, hapax, tokens,
             hapax * 1_000_000 // vocab, vocab * 1_000_000 // tokens)
        )
    assert got == want


def test_tga_v2_footer_with_nonzero_offsets_decodes():
    """Round-11 advisory regression: a spec-valid TGA v2 whose footer
    carries NONZERO extension/developer-area offsets must still decode
    — the footer strip keys on the 18-byte XFILE signature (matching
    the format seam's detection), not on zeroed offset fields."""
    import struct

    import numpy as np

    from dblab_ece_trino_spark.operators.multimodal import (
        decode_image,
        decode_tga,
        encode_tga,
    )

    img = (
        np.arange(4 * 3 * 3, dtype=np.int64) * 29 % 256
    ).astype(np.uint8).reshape(3, 4, 3)
    payload = encode_tga(img, rle=False, topdown=True)
    # Replace the zeroed footer with one claiming nonzero offsets.
    body = payload[:-26]
    footer = struct.pack("<II", 18 + 4 * 3 * 3, 0) + b"TRUEVISION-XFILE.\x00"
    assert len(footer) == 26
    w, h, ch, arr = decode_tga(body + footer)
    assert (w, h, ch) == (4, 3, 3)
    assert np.array_equal(arr, img)
    # The seam routes it to the same decoder (w, h, rgb contract).
    sw, sh, rgb = decode_image(body + footer)
    assert (sw, sh) == (4, 3)
    assert np.array_equal(rgb, img)


def test_hist_equalize_constant_image_guard(spark):
    """Round-11 advisory regression: a constant-valued channel makes
    cdf_min == n_px; the Arrow pass must emit the documented identity
    (eq == 0 everywhere) instead of a ZeroDivisionError."""
    import numpy as np

    from dblab_ece_trino_spark.operators.multimodal import (
        CODECS,
        decode_stats,
        encode_tga,
    )

    img = np.full((5, 7, 3), 42, dtype=np.uint8)
    payload = encode_tga(img, rle=False, topdown=True)
    df = spark.createDataFrame(
        [(0, bytearray(payload))], "media_id long, payload binary"
    )
    rows = decode_stats(df, CODECS["multimodal_hist_equalize"]).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.width, r.height) == (7, 5)
    assert r.in_sum == 42 * 35
    assert r.eq_sum == 0 and r.eq_min == 0 and r.eq_max == 0
    assert r.eq_ysum == 0
