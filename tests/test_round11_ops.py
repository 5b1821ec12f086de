"""Round-11 operator tests: independent pure-Python / spec
re-derivations for every new graded entry, hand-built fixtures for the
edge semantics, and the cross-entry reconciliations the round's
verdict asked for."""
from __future__ import annotations

import pytest


def _dup_span_reference(docs: dict, n: int = 8):
    """Independent pure-Python exact-substring dedup (Lee et al. removal
    semantics): anchors = positions whose word n-gram occurs in >= 2
    distinct docs; merge anchor islands (gap > n breaks); cut the
    covered intervals."""
    import re

    toks = {d: re.split(r"\s+", t.strip()) for d, t in docs.items()}
    occ: dict = {}
    for d, ws in toks.items():
        for i in range(len(ws) - n + 1):
            occ.setdefault(" ".join(ws[i : i + n]), set()).add(d)
    dup_grams = {g for g, ds in occ.items() if len(ds) >= 2}
    out = {}
    for d, ws in toks.items():
        anchors = [
            i
            for i in range(max(len(ws) - n + 1, 0))
            if " ".join(ws[i : i + n]) in dup_grams
        ]
        # gaps-and-islands: a new island starts when the anchor gap
        # exceeds n (same rule as the engine/oracle window pass)
        ivs = []
        prev = None
        for p in anchors:
            if prev is not None and p - prev <= n:
                ivs[-1] = (ivs[-1][0], p + n)
            else:
                ivs.append((p, p + n))
            prev = p
        covered = set()
        for s, e in ivs:
            covered.update(range(s, e))
        kept = [w for i, w in enumerate(ws) if i not in covered]
        out[d] = (
            len(ws),
            len(kept),
            len(ws) - len(kept),
            " ".join(kept),
        )
    return out


def test_dup_span_removal_matches_pure_python(spark):
    """Engine removal must equal the independent evaluator over a
    hand corpus with known shared spans (prefix share, mid-document
    share, full-document clone, and a unique doc)."""
    from dblab_ece_trino_spark.operators.llmprep import dup_span_removal

    shared = "a b c d e f g h i j"          # 10 tokens shared verbatim
    mid = "k l m n o p q r"                 # 8 tokens shared mid-doc
    docs = {
        0: shared + " unique0 tail0 x0 y0 z0",
        1: shared + " unique1 tail1 x1 y1 z1",
        2: "lead2a lead2b " + mid + " trail2a trail2b",
        3: "lead3a lead3b lead3c " + mid + " trail3a",
        4: "solo4 words4 only4 here4 never4 shared4 at4 all4 ok4",
        5: "clone c1 c2 c3 c4 c5 c6 c7 c8 c9",
        6: "clone c1 c2 c3 c4 c5 c6 c7 c8 c9",
    }
    df = spark.createDataFrame(
        [(k, v) for k, v in docs.items()], "doc_id long, text string"
    )
    got = {
        r.doc_id: (r.n_tokens, r.kept_tokens, r.removed_tokens, r.dedup_text)
        for r in dup_span_removal(df).collect()
    }
    want = _dup_span_reference(docs)
    assert got == want
    # the hand-known outcomes: clones vanish entirely, solo survives
    assert got[5][3] == "" and got[6][3] == ""
    assert got[4][2] == 0 and got[4][3] == docs[4]
    assert got[0][3] == "unique0 tail0 x0 y0 z0"
    assert got[2][1] == 4 and got[2][3] == "lead2a lead2b trail2a trail2b"


def test_dup_span_removal_reconciles_with_coverage(spark):
    """removed_tokens must equal dup_span_coverage's dup_tokens per
    document (the retained-char reconciliation the round-10 verdict
    asked for), at sf0.001."""
    from dblab_ece_trino_spark.operators.llmprep import (
        dup_span_coverage,
        dup_span_removal,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    cov = {
        r.doc_id: r.dup_tokens for r in dup_span_coverage(docs).collect()
    }
    rem = dup_span_removal(docs).collect()
    assert len(rem) == len(cov) > 0
    for r in rem:
        assert r.removed_tokens == cov[r.doc_id], r.doc_id
        assert r.kept_tokens + r.removed_tokens == r.n_tokens
        # the emitted text really has kept_tokens tokens
        n_words = len(r.dedup_text.split()) if r.dedup_text else 0
        assert n_words == r.kept_tokens


def test_deletion_vectors_matches_pure_python():
    """The wh_deletion_vectors oracle must equal an independent
    pure-Python evaluator (hashlib md5 bucketing, explicit position
    ranks, run-length scan) at sf0.001."""
    import hashlib
    from decimal import Decimal

    import duckdb

    from dblab_ece_trino_spark.operators.registry import oracle_queries

    sf = "/root/testdata/sf0.001"
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW orders AS SELECT * FROM "
        f"read_parquet('{sf}/orders.parquet')"
    )
    got = [
        tuple(r)
        for r in con.execute(oracle_queries()["wh_deletion_vectors"]).fetchall()
    ]

    def bucket(k, seed):
        h = hashlib.md5((seed + str(k)).encode()).hexdigest()
        return int(h[:2], 16)

    rows = con.execute(
        "SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(18,2)) FROM orders"
    ).fetchall()
    files: dict = {}
    for k, price in rows:
        files.setdefault(bucket(k, "dv-file"), []).append((k, price))
    want = []
    for fid in sorted(files):
        members = sorted(files[fid])
        dels = [
            pos for pos, (k, _p) in enumerate(members)
            if bucket(k, "dv-del") < 32
        ]
        live = [
            p for pos, (k, p) in enumerate(members)
            if bucket(k, "dv-del") >= 32
        ]
        runs = []
        for pos in dels:
            if runs and pos == runs[-1][1]:
                runs[-1] = (runs[-1][0], pos + 1)
            else:
                runs.append((pos, pos + 1))
        cents = int(sum(live, Decimal(0)) * 100)
        want.append(
            (fid, len(members), len(dels), len(live), cents,
             len(runs), max((e - s for s, e in runs), default=0))
        )
    assert got == want
    assert sum(r[2] for r in got) > 0  # deletes actually happened


def test_link_prediction_hand_graph(spark):
    """RA link prediction on a hand graph: path a-b-c-d plus hub h
    connected to a, c, d.  Non-edges get Σ floor(1e6/deg(z)) over
    common neighbors; existing edges are excluded."""
    from dblab_ece_trino_spark.operators.graph import link_prediction_ra

    edges = [(1, 2), (2, 3), (3, 4), (5, 1), (5, 3), (5, 4)]
    pairs = spark.createDataFrame(edges, "u long, v long")
    got = {
        (r.a, r.b): (r.n_common, r.ra_e6)
        for r in link_prediction_ra(pairs, top_n=100).collect()
    }
    # adjacency: 1:{2,5} 2:{1,3} 3:{2,4,5} 4:{3,5} 5:{1,3,4}
    deg = {1: 2, 2: 2, 3: 3, 4: 2, 5: 3}
    import itertools

    adj = {n: set() for n in deg}
    for u, v in edges:
        adj[u].add(v)
        adj[v].add(u)
    want = {}
    for a, b in itertools.combinations(sorted(deg), 2):
        if b in adj[a]:
            continue  # existing edge — excluded
        common = adj[a] & adj[b]
        if not common:
            continue  # no wedge generates the pair
        want[(a, b)] = (
            len(common),
            sum(1_000_000 // deg[z] for z in common),
        )
    assert got == want
    # the excluded-edge property, explicitly
    assert (1, 2) not in got and (3, 5) not in got


def test_pcx_hand_built_stream_decodes():
    """Decode a hand-WRITTEN PCX stream (header + RLE packets composed
    by hand, including a run crossing into the pad byte and a literal
    >= 0xC0 written as a length-1 run) — pins the decoder independently
    of the encoder."""
    import struct

    import numpy as np

    from dblab_ece_trino_spark.operators.multimodal import decode_pcx

    # 3x2, 24-bit, bytes_per_line = 4 (3 rounded up to even)
    hdr = struct.pack("<BBBBHHHHHH", 0x0A, 5, 1, 8, 0, 0, 2, 1, 72, 72)
    hdr += bytes(48) + struct.pack("<BBHH", 0, 3, 4, 1)
    hdr += bytes(128 - len(hdr))
    body = bytes([
        # row 0: R plane = 5 5 5 (+pad) as one run of 4
        0xC4, 5,
        # G plane: literals 10 20 30 + pad 0
        10, 20, 30, 0x00,
        # B plane: run of 2 of 0xC8 (literal >= 0xC0 must be a run),
        # then literal 7, pad 0
        0xC2, 0xC8, 7, 0x00,
        # row 1: R plane literals 1 2 3, pad
        1, 2, 3, 0x00,
        # G plane run of 4 of 9 (covers pad)
        0xC4, 9,
        # B plane literals 11 12 13, pad
        11, 12, 13, 0x00,
    ])
    w, h, ch, arr = decode_pcx(hdr + body)
    assert (w, h, ch) == (3, 2, 3)
    want = np.array(
        [[[5, 10, 0xC8], [5, 20, 0xC8], [5, 30, 7]],
         [[1, 9, 11], [2, 9, 12], [3, 9, 13]]],
        dtype=np.uint8,
    )
    assert np.array_equal(arr, want)


def test_pcx_roundtrip_and_error_contracts():
    """encode -> decode identity on odd/even widths and adversarial
    values (bytes >= 0xC0 in pixel data); loud errors on truncation,
    bad magic, unsupported modes."""
    import numpy as np
    import pytest as _pt

    from dblab_ece_trino_spark.operators.multimodal import (
        decode_pcx,
        encode_pcx,
    )

    rng = np.random.default_rng(11)
    for w, h in [(1, 1), (3, 2), (8, 5), (13, 7)]:
        img = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        w2, h2, ch, arr = decode_pcx(encode_pcx(img))
        assert (w2, h2, ch) == (w, h, 3)
        assert np.array_equal(arr, img), (w, h)
    payload = encode_pcx(np.full((4, 4, 3), 0xFF, dtype=np.uint8))
    with _pt.raises(ValueError, match="magic"):
        decode_pcx(b"\x00" + payload[1:])
    with _pt.raises(ValueError, match="truncated PCX RLE"):
        decode_pcx(payload[:-4])
    with _pt.raises(ValueError, match="trailing"):
        decode_pcx(payload + b"\x00")
    with _pt.raises(ValueError, match="encoding"):
        decode_pcx(payload[:2] + b"\x00" + payload[3:])
    with _pt.raises(ValueError, match="header"):
        decode_pcx(payload[:100])


def test_pcx_fixtures_match_independent_decoder(spark):
    """Every fixture payload decodes identically through an
    independent pure-Python RLE walker (no numpy slicing tricks)."""
    import numpy as np

    from dblab_ece_trino_spark.operators.multimodal import CODECS, _PCX_PARAMS

    def pure_decode(p):
        import struct

        xmin, ymin, xmax, ymax = struct.unpack("<HHHH", p[4:12])
        w, h = xmax - xmin + 1, ymax - ymin + 1
        nplanes, (bpl,) = p[65], struct.unpack("<H", p[66:68])
        out, k, pos, need = [], 0, 128, bpl * nplanes * h
        while k < need:
            b = p[pos]; pos += 1
            if b >= 0xC0:
                v = p[pos]; pos += 1
                n = min(b & 0x3F, need - k)
                out.extend([v] * n); k += n
            else:
                out.append(b); k += 1
        img = [[[out[(y * nplanes + c) * bpl + x] for c in range(3)]
                for x in range(w)] for y in range(h)]
        return w, h, img

    spec = CODECS["multimodal_pcx_decode"]
    assert spec.n == len(_PCX_PARAMS)
    from dblab_ece_trino_spark.operators.multimodal import decode_pcx

    for i in range(spec.n):
        payload = spec.payload(i)
        w, h, img = pure_decode(payload)
        w2, h2, _ch, arr = decode_pcx(payload)
        assert (w, h) == (w2, h2)
        assert np.array_equal(arr, np.array(img, dtype=np.uint8))


def test_image_tile_matches_pure_python(spark):
    """Engine patch tiling must equal an independent evaluator over
    every fixture, including truncated edge tiles."""
    import numpy as np

    from dblab_ece_trino_spark.operators.multimodal import _PCX_PARAMS, _pcx_pixel
    from dblab_ece_trino_spark.operators.registry import spark_queries

    entry = spark_queries()["multimodal_image_tile"]
    got = [tuple(r) for r in entry(spark, "").collect()]
    want = []
    for i, (w, h) in enumerate(_PCX_PARAMS):
        yy, xx = np.mgrid[0:h, 0:w]
        s = sum(
            _pcx_pixel(i, xx, yy, c, w, h).astype(np.int64) for c in range(3)
        )
        for ty in range((h + 7) // 8):
            for tx in range((w + 7) // 8):
                blk = s[ty * 8:(ty + 1) * 8, tx * 8:(tx + 1) * 8]
                want.append((i, ty, tx, blk.size, int(blk.sum()),
                             int(blk.min()), int(blk.max())))
    assert got == want
    # edge tiles really are truncated (odd-width fixtures exist)
    assert any(t[3] < 64 for t in got)


def test_audio_normalize_matches_pure_python(spark):
    """Peak normalization must equal the independent evaluator and
    satisfy the gain contract: peak_out <= target always, and
    peak_out == target whenever the gain divides exactly."""
    import numpy as np

    from dblab_ece_trino_spark.operators.multimodal import _N_WAV, _NORM_TARGET
    from dblab_ece_trino_spark.operators.registry import spark_queries

    entry = spark_queries()["multimodal_audio_normalize"]
    got = [tuple(r) for r in entry(spark, "").collect()]
    assert len(got) == _N_WAV
    want = []
    for i in range(_N_WAV):
        n_samp, step, amp = 64 + 16 * (i % 4), 50 + 7 * i, 1000 + 100 * (i % 7)
        s = (np.arange(n_samp, dtype=np.int64) * step) % (2 * amp) - amp
        peak = int(np.abs(s).max())
        gain = _NORM_TARGET * 1_000_000 // peak
        norm = np.sign(s) * (np.abs(s) * gain // 1_000_000)
        want.append((i, n_samp, peak, gain, int(np.abs(norm).max()),
                     int(norm.sum()), int((norm * norm).sum())))
    assert got == want
    for row in got:
        assert row[4] <= _NORM_TARGET
    assert any(row[4] == _NORM_TARGET for row in got)


def test_pairwise_correlation_matches_pure_python():
    """The ts_pairwise_correlation oracle must equal an independent
    pure-Python evaluator (dict day-grid, integer moments, Fraction-
    free exact floor arithmetic) at sf0.001."""
    import duckdb

    from dblab_ece_trino_spark.operators.registry import oracle_queries

    sf = "/root/testdata/sf0.001"
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{sf}/events.parquet')"
    )
    got = [
        tuple(r)
        for r in con.execute(
            oracle_queries()["ts_pairwise_correlation"]
        ).fetchall()
    ]
    daily = con.execute(
        "SELECT event_type, CAST(ts AS DATE), count(*) FROM events"
        " GROUP BY 1, 2"
    ).fetchall()
    counts = {(t, d): c for t, d, c in daily}
    types = sorted({t for t, _d, _c in daily})
    days = sorted({d for _t, d, _c in daily})
    want = []
    for ia, ta in enumerate(types):
        for tb in types[ia + 1:]:
            xs = [counts.get((ta, d), 0) for d in days]
            ys = [counts.get((tb, d), 0) for d in days]
            n = len(days)
            sx, sy = sum(xs), sum(ys)
            sxy = sum(x * y for x, y in zip(xs, ys))
            sxx, syy = sum(x * x for x in xs), sum(y * y for y in ys)
            cov = n * sxy - sx * sy
            vx, vy = n * sxx - sx * sx, n * syy - sy * sy
            sign = 1 if cov > 0 else (-1 if cov < 0 else 0)
            r2 = None if vx == 0 or vy == 0 else cov * cov * 1_000_000 // (
                vx * vy
            )
            want.append((ta, tb, n, sign, r2))
    assert got == want
    assert any(r[4] is not None and r[4] > 0 for r in got)


def test_knn_classify_hand_built(spark):
    """Majority vote + smallest-label tiebreak on a hand-built
    neighbor frame (independent of any neighbor source)."""
    from dblab_ece_trino_spark.operators.similarity import knn_classify

    topk = spark.createDataFrame(
        # q1: labels 0,0,1,2,2 -> tie 0 vs 2 at 2 votes -> 0 wins
        [(1, 10), (1, 11), (1, 12), (1, 13), (1, 14),
         # q2: labels 1,1,1,0,2 -> 1 wins with 3
         (2, 12, ), (2, 15), (2, 16), (2, 10), (2, 13)],
        "qid long, cid long",
    )
    labels = spark.createDataFrame(
        [(10, 0), (11, 0), (12, 1), (13, 2), (14, 2), (15, 1), (16, 1)],
        "cid long, lbl int",
    )
    got = {r.qid: (r.label_pred, r.votes)
           for r in knn_classify(topk, labels, k=5).collect()}
    assert got == {1: (0, 2), 2: (1, 3)}


def test_rank_frequency_matches_pure_python():
    """The text_rank_frequency oracle must equal an independent
    pure-Python evaluator (Counter, explicit rank/tie ordering,
    integer cumulative shares) at sf0.001."""
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
    got = [
        tuple(r)
        for r in con.execute(
            oracle_queries()["text_rank_frequency"]
        ).fetchall()
    ]
    docs = con.execute("SELECT source, text FROM documents").fetchall()
    per: dict = {}
    for src, text in docs:
        per.setdefault(src, Counter()).update(
            w for w in re.split(r"\s+", text.strip().lower()) if w
        )
    want = []
    for src in sorted(per):
        c = per[src]
        toks = sum(c.values())
        ordered = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
        cum = 0
        for r, (w, n) in enumerate(ordered, start=1):
            cum += n
            want.append((src, r, w, n, n * r, cum * 1_000_000 // toks))
    assert got == want
    # cumulative share is monotone within each source
    by_src: dict = {}
    for src, r, _w, _n, _fr, cp in got:
        assert cp >= by_src.get(src, 0)
        by_src[src] = cp


def test_sequential_patterns_matches_pure_python():
    """The op_sequential_patterns oracle must equal an independent
    pure-Python enumerator of bounded-gap (<=2) ordered triples at
    sf0.001 — and contiguous trigrams must be a subset of the counts."""
    from collections import Counter

    import duckdb

    from dblab_ece_trino_spark.operators.registry import oracle_queries

    sf = "/root/testdata/sf0.001"
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{sf}/events.parquet')"
    )
    got = [
        tuple(r)
        for r in con.execute(
            oracle_queries()["op_sequential_patterns"]
        ).fetchall()
    ]
    rows = con.execute(
        "SELECT user_id, event_type FROM events ORDER BY user_id, ts,"
        " event_id"
    ).fetchall()
    seqs: dict = {}
    for u, t in rows:
        seqs.setdefault(u, []).append(t)
    counts: Counter = Counter()
    for seq in seqs.values():
        n = len(seq)
        for i in range(n):
            for dj in (1, 2):
                for dk in (1, 2):
                    j, k = i + dj, i + dj + dk
                    if k < n:
                        counts[(seq[i], seq[j], seq[k])] += 1
    ordered = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:15]
    want = [
        (r, a, b, c, n)
        for r, ((a, b, c), n) in enumerate(ordered, start=1)
    ]
    assert got == want


def test_sample_balanced_matches_pure_python():
    """The sample_balanced oracle must equal an independent pure-Python
    evaluator (hashlib md5 permutation, explicit per-class cut), and
    every class must keep exactly n_min rows."""
    import hashlib

    import duckdb

    from dblab_ece_trino_spark.operators.registry import oracle_queries

    sf = "/root/testdata/sf0.001"
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW orders AS SELECT * FROM "
        f"read_parquet('{sf}/orders.parquet')"
    )
    got = [
        tuple(r)
        for r in con.execute(oracle_queries()["sample_balanced"]).fetchall()
    ]
    rows = con.execute(
        "SELECT o_orderkey, o_orderstatus FROM orders"
    ).fetchall()
    per: dict = {}
    for k, s in rows:
        per.setdefault(s, []).append(k)
    n_min = min(len(v) for v in per.values())
    want = []
    for s in sorted(per):
        keys = sorted(
            per[s],
            key=lambda k: (
                hashlib.md5(f"bal-v1{k}".encode()).hexdigest(), k
            ),
        )[:n_min]
        want.append((s, len(per[s]), n_min, sum(keys)))
    assert got == want
    kepts = {r[2] for r in got}
    assert len(kepts) == 1  # balanced: every class kept the same count


def test_balanced_downsample_spark_matches_oracle_frame(spark):
    """The Spark sharded-rank kept-set equals the oracle's
    single-window kept-set ROW BY ROW at sf0.001 (the summary entry
    hashes aggregates; this pins the per-row rank equivalence of the
    two-level shard form)."""
    import duckdb

    from dblab_ece_trino_spark.operators.sampling import balanced_downsample

    o = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    kept = balanced_downsample(o, "o_orderstatus", "o_orderkey")
    got = sorted(
        (r.cls, r.cls_rank, r.k) for r in kept.collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW orders AS SELECT * FROM "
        "read_parquet('/root/testdata/sf0.001/orders.parquet')"
    )
    want = sorted(
        tuple(r)
        for r in con.execute("""
        WITH ranked AS (
          SELECT o_orderstatus AS cls, o_orderkey AS k,
                 row_number() OVER (
                   PARTITION BY o_orderstatus
                   ORDER BY md5(concat('bal-v1', CAST(o_orderkey AS
                                 STRING))), o_orderkey) AS r
          FROM orders
        ),
        nmin AS (
          SELECT min(c) AS n_min FROM (
            SELECT count(*) AS c FROM orders GROUP BY o_orderstatus)
        )
        SELECT cls, r, k FROM ranked, nmin WHERE r <= n_min
        """).fetchall()
    )
    assert got == want and len(got) > 0


def test_watermark_lateness_matches_pure_python():
    """The op_watermark_lateness oracle must equal an independent
    pure-Python evaluator (explicit arrival-sorted watermark walk,
    integer microsecond lateness) at sf0.001."""
    import hashlib

    import duckdb

    from dblab_ece_trino_spark.operators.registry import oracle_queries

    sf = "/root/testdata/sf0.001"
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{sf}/events.parquet')"
    )
    got = [
        tuple(r)
        for r in con.execute(
            oracle_queries()["op_watermark_lateness"]
        ).fetchall()
    ]
    rows = con.execute(
        "SELECT user_id, event_id, epoch_us(ts) FROM events"
    ).fetchall()

    def delay_us(eid):
        h = hashlib.md5(f"arrival{eid}".encode()).hexdigest()
        return int(h[:2], 16) * 7 * 1_000_000

    per: dict = {}
    for u, eid, ts_us in rows:
        per.setdefault(u, []).append((ts_us + delay_us(eid), eid, ts_us))
    lates = []
    for u, evs in per.items():
        hw = None
        for _arr, _eid, ts_us in sorted(evs):
            hw = ts_us if hw is None else max(hw, ts_us)
            lates.append((hw - ts_us) // 1_000_000)
    buckets: dict = {}
    for s in lates:
        b = (0 if s <= 0 else 1 if s <= 1 else 2 if s <= 60 else
             3 if s <= 300 else 4 if s <= 3600 else 5 if s <= 86400 else 6)
        lo, hi, n, tot = buckets.get(b, (None, None, 0, 0))
        buckets[b] = (
            s if lo is None else min(lo, s),
            s if hi is None else max(hi, s),
            n + 1, tot + s,
        )
    want = [
        (b, n, lo, hi, tot)
        for b, (lo, hi, n, tot) in sorted(buckets.items())
    ]
    assert got == want
    assert len(got) >= 2  # jitter produces real out-of-order arrivals


def test_hll_intersection_matches_pure_python():
    """The op_hll_intersection oracle must equal an independent
    pure-Python HLL (hashlib md5, explicit registers) — and the union
    registers must equal the elementwise max of the two sets'
    registers (the merge theorem the op rides)."""
    import hashlib

    import duckdb

    from dblab_ece_trino_spark.operators.registry import oracle_queries
    from dblab_ece_trino_spark.operators.sketches import (
        HLL_M,
        _HLL_SCALE,
    )

    sf = "/root/testdata/sf0.001"
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW lineitem AS SELECT * FROM "
        f"read_parquet('{sf}/lineitem.parquet')"
    )
    got = con.execute(
        oracle_queries()["op_hll_intersection"]
    ).fetchall()[0]
    keys = [
        r[0]
        for r in con.execute(
            "SELECT DISTINCT l_orderkey FROM lineitem"
        ).fetchall()
    ]

    def spans(k):
        h = hashlib.md5(f"hll:{k}".encode()).hexdigest()
        return int(h[12:14], 16), int(h[14:16], 16)

    def regs_of(members):
        regs = {}
        for k in members:
            h = hashlib.md5(f"hll:{k}".encode()).hexdigest()
            b = int(h[:2], 16)
            rest = h[2:12]
            nz = len(rest) - len(rest.lstrip("0"))
            if nz == 10:
                rho = 41
            else:
                d = int(rest[nz], 16)
                rho = 4 * nz + (0 if d >= 8 else 1 if d >= 4 else
                                2 if d >= 2 else 3) + 1
            regs[b] = max(regs.get(b, 0), rho)
        return regs

    A = [k for k in keys if spans(k)[0] < 160]
    B = [k for k in keys if spans(k)[1] < 160]
    U = sorted(set(A) | set(B))
    ra, rb, ru = regs_of(A), regs_of(B), regs_of(U)
    # the merge theorem, explicitly
    for b in set(ra) | set(rb):
        assert ru[b] == max(ra.get(b, 0), rb.get(b, 0))

    def s_scaled(regs):
        return sum(1 << (48 - r) for r in regs.values()) + (
            HLL_M - len(regs)
        ) * _HLL_SCALE

    assert (got[1], got[2], got[3]) == (
        s_scaled(ra), s_scaled(rb), s_scaled(ru)
    )
    assert (got[8], got[9], got[10]) == (len(A), len(B), len(U))
    assert got[11] == len(A) + len(B) - len(U)
    # estimate sanity: within 25% of exact (m=256 -> ~6.5% typical)
    assert abs(got[4] - len(A)) / len(A) < 0.25


def test_katz_hand_graph(spark):
    """Katz on a hand graph equals an explicit integer recursion
    (per-edge floor division, L1-normalized finish)."""
    from dblab_ece_trino_spark.operators.graph import (
        KATZ_BETA,
        KATZ_ITERS,
        KATZ_OUT_SCALE,
        katz_centrality,
    )

    edges = [(1, 2), (2, 3), (3, 4), (2, 4)]
    pairs = spark.createDataFrame(edges, "u long, v long")
    got = {r.node: r.katz_scaled
           for r in katz_centrality(pairs, top_n=10).collect()}

    adj: dict = {}
    for u, v in edges:
        adj.setdefault(u, []).append(v)
        adj.setdefault(v, []).append(u)
    kz = {n: KATZ_BETA for n in adj}
    for _ in range(KATZ_ITERS):
        kz = {
            n: KATZ_BETA + sum(kz[m] // 8 for m in adj[n]) for n in adj
        }
    tot = sum(kz.values())
    want = {n: kz[n] * KATZ_OUT_SCALE // tot for n in adj}
    assert got == want
    # node 2 (degree 3, central) outranks the leaf nodes 1
    assert got[2] > got[1] and got[3] > got[1]


def test_time_split_matches_pure_python():
    """The sample_time_split oracle must equal an independent
    pure-Python evaluator at sf0.001, and the split invariants must
    hold (counts partition, leakage bounded by min side)."""
    import duckdb

    from dblab_ece_trino_spark.operators.registry import oracle_queries

    sf = "/root/testdata/sf0.001"
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{sf}/events.parquet')"
    )
    got = con.execute(oracle_queries()["sample_time_split"]).fetchall()[0]
    rows = con.execute(
        "SELECT user_id, datediff('day', DATE '1970-01-01',"
        " CAST(ts AS DATE)) FROM events"
    ).fetchall()
    d0, d1 = min(d for _u, d in rows), max(d for _u, d in rows)
    cutoff = d0 + (8 * (d1 - d0)) // 10
    train = [(u, d) for u, d in rows if d <= cutoff]
    test = [(u, d) for u, d in rows if d > cutoff]
    ut = {u for u, _d in train}
    ue = {u for u, _d in test}
    want = (
        cutoff, len(train), len(test), len(ut), len(ue),
        len(ut & ue), len(ut | ue),
        len(ut & ue) * 1_000_000 // len(ut | ue),
    )
    assert got == want
    assert got[1] + got[2] == len(rows)
    assert got[5] <= min(got[3], got[4])


def test_sunras_hand_built_stream_decodes():
    """Decode a hand-WRITTEN RT_BYTE_ENCODED stream (runs, literal
    0x80 escape, row pad) — pins the decoder independently of the
    encoder."""
    import struct

    import numpy as np

    from dblab_ece_trino_spark.operators.multimodal import decode_sunras

    # 3x2, 24-bit, row_len = 10 (9 + 1 pad)
    body = bytes([
        # row 0: BGR triplets (5,4,3) (8,7,6) (0x80,9,1) + pad 0 ->
        # bytes: 5 4 3 8 7 6 80 9 1 0
        5, 4, 3, 8, 7, 6, 0x80, 0x00, 9, 1, 0,
        # row 1: all-2 run of 9 + pad 0 -> 0x80 8 2, then literal 0
        0x80, 8, 2, 0,
    ])
    hdr = struct.pack(">8i", 0x59A66A95, 3, 2, 24, len(body), 2, 0, 0)
    w, h, ch, arr = decode_sunras(hdr + body)
    assert (w, h, ch) == (3, 2, 3)
    want = np.array(
        [[[3, 4, 5], [6, 7, 8], [1, 9, 0x80]],
         [[2, 2, 2], [2, 2, 2], [2, 2, 2]]],
        dtype=np.uint8,
    )
    assert np.array_equal(arr, want)


def test_sunras_error_contracts_and_fixtures(spark):
    """Loud errors on bad magic / depth / truncation / length-field
    mismatch; fixture payloads decode identically through an
    independent pure-Python RLE walker."""
    import struct

    import numpy as np
    import pytest as _pt

    from dblab_ece_trino_spark.operators.multimodal import (
        CODECS,
        _RAS_PARAMS,
        decode_sunras,
        encode_sunras,
    )

    img = np.arange(4 * 6 * 3, dtype=np.int64).astype(np.uint8).reshape(
        4, 6, 3
    )
    payload = encode_sunras(img, rle=True)
    with _pt.raises(ValueError, match="magic"):
        decode_sunras(b"\x00" * 4 + payload[4:])
    with _pt.raises(ValueError, match="depth"):
        bad = bytearray(payload)
        bad[12:16] = struct.pack(">i", 8)
        decode_sunras(bytes(bad))
    with _pt.raises(ValueError, match="length field"):
        decode_sunras(payload[:-2])
    with _pt.raises(ValueError, match="header"):
        decode_sunras(payload[:20])

    def pure_decode(p):
        magic, w, h, depth, length, rtype, mt, ml = struct.unpack(
            ">8i", p[:32]
        )
        data = p[32:]
        row_len = 3 * w + (3 * w) % 2
        if rtype == 1:
            out = list(data)
        else:
            out, i = [], 0
            while i < len(data):
                b = data[i]; i += 1
                if b == 0x80:
                    cnt = data[i]; i += 1
                    if cnt == 0:
                        out.append(0x80)
                    else:
                        v = data[i]; i += 1
                        out.extend([v] * (cnt + 1))
                else:
                    out.append(b)
        img = [[[out[y * row_len + 3 * x + (2 - c)] for c in range(3)]
                for x in range(w)] for y in range(h)]
        return w, h, img

    spec = CODECS["multimodal_sunras_decode"]
    assert spec.n == len(_RAS_PARAMS)
    for i in range(spec.n):
        payload = spec.payload(i)
        w, h, img = pure_decode(payload)
        w2, h2, _ch, arr = decode_sunras(payload)
        assert (w, h) == (w2, h2)
        assert np.array_equal(arr, np.array(img, dtype=np.uint8))


def test_vocab_drift_matches_pure_python():
    """The text_vocab_drift oracle must equal an independent
    pure-Python evaluator (Counter halves, exact Fraction-free
    chi-square, explicit tie ordering) at sf0.001."""
    import re

    import duckdb

    from dblab_ece_trino_spark.operators.registry import oracle_queries

    sf = "/root/testdata/sf0.001"
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf}/documents.parquet')"
    )
    got = [
        tuple(r)
        for r in con.execute(oracle_queries()["text_vocab_drift"]).fetchall()
    ]
    docs = con.execute("SELECT doc_id, text FROM documents").fetchall()
    d0 = min(d for d, _t in docs)
    d1 = max(d for d, _t in docs)
    cut = (d0 + d1) // 2
    from collections import Counter

    c1: Counter = Counter()
    c2: Counter = Counter()
    for d, t in docs:
        (c1 if d <= cut else c2).update(
            w for w in re.split(r"\s+", t.strip().lower()) if w
        )
    n1, n2 = sum(c1.values()), sum(c2.values())
    scored = []
    for w in set(c1) | set(c2):
        o1, o2 = c1.get(w, 0), c2.get(w, 0)
        if o1 + o2 < 5:
            continue
        num = 1000 * (n1 + n2) * (o1 * n2 - o2 * n1) ** 2
        den = (o1 + o2) * (n1 + n2 - o1 - o2) * n1 * n2
        scored.append((w, o1, o2, num // den))
    scored.sort(key=lambda t: (-t[3], t[0]))
    want = [
        (r, w, o1, o2, chi) for r, (w, o1, o2, chi)
        in enumerate(scored[:20], start=1)
    ]
    assert got == want
    assert got[0][4] >= got[-1][4] > 0


def test_degree_distribution_matches_pure_python():
    """The graph_degree_distribution oracle must equal an independent
    pure-Python evaluator, and the shares/totals must reconcile."""
    import duckdb

    from dblab_ece_trino_spark.operators.registry import oracle_queries

    sf = "/root/testdata/sf0.001"
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW lineitem AS SELECT * FROM "
        f"read_parquet('{sf}/lineitem.parquet')"
    )
    got = [
        tuple(r)
        for r in con.execute(
            oracle_queries()["graph_degree_distribution"]
        ).fetchall()
    ]
    pairs = con.execute("""
        SELECT a.l_partkey, b.l_partkey
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING count(*) >= 2
    """).fetchall()
    deg: dict = {}
    for u, v in pairs:
        deg[u] = deg.get(u, 0) + 1
        deg[v] = deg.get(v, 0) + 1
    import math

    def bucket(d):
        return 0 if d == 1 else min(int(math.ceil(math.log2(d))), 11)

    rolls: dict = {}
    for d in deg.values():
        b = bucket(d)
        lo, hi, n, ep = rolls.get(b, (None, None, 0, 0))
        rolls[b] = (
            d if lo is None else min(lo, d),
            d if hi is None else max(hi, d),
            n + 1, ep + d,
        )
    tot_ep = sum(deg.values())
    sum_d2 = sum(d * d for d in deg.values())
    want = [
        (b, n, lo, hi, ep, ep * 1_000_000 // tot_ep, sum_d2)
        for b, (lo, hi, n, ep) in sorted(rolls.items())
    ]
    assert got == want
    assert sum(r[4] for r in got) == tot_ep
