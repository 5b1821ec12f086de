"""Round-9 operator tests: IMA-ADPCM codec (hand-stepped vector, engine
vs independent reference decoder, pinned-constant re-derivation,
container robustness) and the non-zero-AC JPEG fixture family."""
from __future__ import annotations

import numpy as np
import pytest


# ------------------------------------------------------------ IMA-ADPCM


def test_adpcm_hand_stepped_vector_pins_both_implementations():
    """Hand-computed decode walk (worked out on paper from the IMA
    practice document) pins the engine's `_adpcm_reconstruct` AND the
    independent `scripts.gen_adpcm_expected.ref_step` — the two
    implementations can't share a complementary bug with this vector
    asserting the arithmetic itself.

    From pred=0, index=0 (step 7):
      nib 7  -> diff 0+1+3+7 = 11, pred 11,  index 0+8  = 8  (step 16)
      nib 15 -> diff 2+4+8+16 = 30 (sign), pred -19, index 16 (step 34)
      nib 0  -> diff 34>>3 = 4, pred -15, index 15 (step 31)
      nib 10 -> diff 3+15 = 18 (sign), pred -33, index 14
    """
    from dblab_ece_trino_spark.operators.multimodal import _adpcm_reconstruct
    from scripts.gen_adpcm_expected import ref_step

    expected = [(11, 8), (-19, 16), (-15, 15), (-33, 14)]
    for impl in (_adpcm_reconstruct, ref_step):
        pred, index = 0, 0
        got = []
        for nib in (7, 15, 0, 10):
            pred, index = impl(nib, pred, index)
            got.append((pred, index))
        assert got == expected, (impl.__module__, got)
    # clamp edges: max step, both directions, index ceiling
    for impl in (_adpcm_reconstruct, ref_step):
        assert impl(7, 32760, 88) == (32767, 88)
        assert impl(15, -32000, 88) == (-32768, 88)
        assert impl(0, 5, 0) == (5, 0)  # index floor


def test_adpcm_engine_decoder_matches_independent_reference():
    """Engine decode (numpy path through the generic audio seam) must be
    sample-exact vs the scripts/ reference decoder on all 12 fixtures."""
    from dblab_ece_trino_spark.operators.multimodal import (
        _ADPCM_PARAMS,
        _N_ADPCM,
        _adpcm_signal,
        decode_audio,
        encode_adpcm_wav,
    )
    from scripts.gen_adpcm_expected import ref_decode

    for i in range(_N_ADPCM):
        n_samp, ba, rate = _ADPCM_PARAMS[i]
        payload = encode_adpcm_wav(
            np.array(_adpcm_signal(i, n_samp), dtype=np.int16), rate,
            block_align=ba,
        )
        er, es = decode_audio(payload)
        rr, rs = ref_decode(payload)
        assert er == rr == rate
        assert list(map(int, es)) == rs, f"clip {i} diverges"


def test_adpcm_expected_constants_rederive():
    """The pinned `_ADPCM_EXPECTED` literal must equal a fresh run of
    the generator — constant drift (stale regeneration after a fixture
    edit) fails here before it fails at the driver."""
    from dblab_ece_trino_spark.operators.multimodal import _ADPCM_EXPECTED
    from scripts.gen_adpcm_expected import expected_rows

    assert expected_rows() == _ADPCM_EXPECTED


def test_adpcm_fixture_family_covers_block_shapes():
    """The clip table must keep covering the block-layout edge cases
    the decoder's trimming logic exists for."""
    from dblab_ece_trino_spark.operators.multimodal import _ADPCM_PARAMS

    shapes = set()
    for n_samp, ba, _rate in _ADPCM_PARAMS:
        spb = (ba - 4) * 2 + 1
        rem = n_samp % spb
        shapes.add(
            "exact" if rem == 0 else ("header_only" if rem == 1 else "partial")
        )
    assert shapes == {"exact", "header_only", "partial"}
    assert {ba for _n, ba, _r in _ADPCM_PARAMS} == {12, 16, 24}


def test_adpcm_roundtrip_fidelity_and_rejection():
    from dblab_ece_trino_spark.operators.multimodal import (
        decode_adpcm_wav,
        decode_audio,
        decode_wav,
        encode_adpcm_wav,
        encode_wav,
    )

    k = np.arange(400)
    s = (3000 * np.sin(k / 25) + 700 * np.sin(k / 6)).astype(np.int16)
    payload = encode_adpcm_wav(s, 8000, block_align=32)
    rate, d = decode_adpcm_wav(payload)
    assert rate == 8000 and len(d) == 400
    err = np.abs(d.astype(np.int64) - s.astype(np.int64))
    # adaptation transient at clip start; steady-state must track tightly
    assert err[50:].max() <= 256 and err.mean() <= 64, (
        err.max(), err.mean()
    )

    # the generic seam dispatches on wFormatTag: PCM -> decode_wav path
    pcm = encode_wav(s, 8000)
    prate, ps = decode_audio(pcm)
    assert prate == 8000 and np.array_equal(ps, decode_wav(pcm)[1])
    # ADPCM through the seam == direct decode
    arate, asamp = decode_audio(payload)
    assert arate == 8000 and np.array_equal(asamp, d)
    # MP3-class stays a loud stub
    with pytest.raises(NotImplementedError, match="audio library"):
        decode_audio(b"ID3\x03\x00" + b"\x00" * 64)

    # container robustness: every corruption class raises ValueError
    with pytest.raises(ValueError, match="truncated"):
        decode_adpcm_wav(payload[:-40])  # cut inside the data chunk
    # size-consistent but fewer blocks than the fact count claims
    import struct as _struct

    dat_at = payload.index(b"data")
    short = bytearray(payload[: dat_at + 8 + 32])  # keep only one block
    _struct.pack_into("<I", short, dat_at + 4, 32)
    with pytest.raises(ValueError, match="fewer blocks than fact"):
        decode_adpcm_wav(bytes(short))
    nofact = payload.replace(b"fact", b"fakt")
    with pytest.raises(ValueError, match="fact chunk"):
        decode_adpcm_wav(nofact)
    bad_tag = bytearray(encode_wav(s, 8000))
    with pytest.raises(ValueError, match="not IMA-ADPCM"):
        decode_adpcm_wav(bytes(bad_tag))
    bad_spb = bytearray(payload)
    at = bad_spb.index(b"fmt ")
    bad_spb[at + 8 + 18] ^= 0xFF  # corrupt samplesPerBlock
    with pytest.raises(ValueError, match="samplesPerBlock"):
        decode_adpcm_wav(bytes(bad_spb))
    with pytest.raises(ValueError, match="not a RIFF"):
        decode_adpcm_wav(b"OggS" + b"\x00" * 64)


# ------------------------------------------- JPEG non-zero-AC family


def test_jpeg_ac_fixtures_exercise_the_ac_path():
    """Every block in the family must carry >= 2 nonzero quantized AC
    coefficients (the whole point of the family), and the cr plane's
    (5,5) basis term must force ZRL symbols: its zigzag index minus the
    preceding nonzero AC's index must exceed 16."""
    from dblab_ece_trino_spark.operators.multimodal import (
        _JPEG_AC_BASIS,
        _JPEG_ZIGZAG,
        _N_JPEG_AC,
        _jpeg_ac_block_coeffs,
    )

    # zigzag index of natural position (u, v): _JPEG_ZIGZAG maps
    # zigzag order -> natural index u + 8*v ... recover the inverse
    inv = {nat: k for k, nat in enumerate(_JPEG_ZIGZAG)}
    for plane, ((u1, v1), (u2, v2)) in _JPEG_AC_BASIS.items():
        assert u1 >= 1 and v1 >= 1 and u2 >= 1 and v2 >= 1
        for i in range(_N_JPEG_AC):
            _base, a1, a2 = _jpeg_ac_block_coeffs(i, plane, 0, 0)
            assert a1 >= 2 and a2 >= 2  # both AC coeffs nonzero (4*a)
    z1 = inv[_JPEG_AC_BASIS["cr"][0][0] + 8 * _JPEG_AC_BASIS["cr"][0][1]]
    z2 = inv[_JPEG_AC_BASIS["cr"][1][0] + 8 * _JPEG_AC_BASIS["cr"][1][1]]
    assert abs(z2 - z1) > 16, (z1, z2)  # guarantees a ZRL run


def test_jpeg_ac_engine_decoder_matches_reference_pixel_exact():
    """decode_jpeg (Huffman-AC + matrix IDCT + upsample + YCbCr) must
    reproduce the independent explicit-loop reference reconstruction
    EXACTLY on every fixture — this is the assertion that puts the AC
    half of the decoder under a pinned, independently-derived truth."""
    from dblab_ece_trino_spark.operators.multimodal import (
        _N_JPEG_AC,
        _jpeg_ac_params,
        _jpeg_ac_plane_fn,
        decode_jpeg,
        encode_jpeg,
    )
    from scripts.gen_jpeg_ac_expected import reference_decode

    for i in range(_N_JPEG_AC):
        p = _jpeg_ac_params(i)
        payload = encode_jpeg(
            p["w"], p["h"],
            _jpeg_ac_plane_fn(i, "y"),
            _jpeg_ac_plane_fn(i, "cb"),
            _jpeg_ac_plane_fn(i, "cr"),
            subsample=p["sub"], q_dc=p["q_dc"], restart_interval=p["ri"],
        )
        w, h, arr = decode_jpeg(payload)
        rw, rh, rgb = reference_decode(i)
        assert (w, h) == (rw, rh)
        ref = np.array(rgb, dtype=np.uint8)
        mism = np.argwhere(arr != ref)
        assert mism.size == 0, (
            f"clip {i}: {len(mism)} mismatching samples, first at "
            f"{mism[:3].tolist()}"
        )


def test_jpeg_ac_expected_constants_rederive():
    from dblab_ece_trino_spark.operators.multimodal import _JPEG_AC_EXPECTED
    from scripts.gen_jpeg_ac_expected import expected_rows

    assert expected_rows() == _JPEG_AC_EXPECTED


# ------------------------------------------------- sequence packing


def test_sequence_pack_oracle_matches_pure_python():
    """The DuckDB oracle for llm_sequence_pack vs an independent
    pure-Python packer (hashlib md5 order, manual prefix sums, manual
    window overlap arithmetic) on the sf0.001 corpus — pins the SQL
    itself, complementing the Spark-vs-oracle parity gate at sf0.01."""
    import hashlib
    import re

    import duckdb

    from dblab_ece_trino_spark.operators.registry import oracle_queries

    con = duckdb.connect()
    docs = con.execute(
        "SELECT doc_id, text FROM "
        "read_parquet('/root/testdata/sf0.001/documents.parquet')"
    ).fetchall()

    CTX = 512
    rows = []
    for doc_id, text in docs:
        tok = len(re.split(r"\s+", text.strip()))
        if tok > 0:
            h = hashlib.md5(f"pack-v1{doc_id}".encode()).hexdigest()
            rows.append((h, doc_id, tok))
    rows.sort()
    chunks: dict = {}
    goff = 0
    for h, doc_id, tok in rows:
        for cid in range(goff // CTX, (goff + tok - 1) // CTX + 1):
            lo = max(cid * CTX, goff)
            hi = min((cid + 1) * CTX, goff + tok)
            c = chunks.setdefault(cid, [0, 0, 0, (goff, doc_id)])
            c[0] += 1
            c[1] += 1 if goff // CTX == cid else 0
            c[2] += hi - lo
            c[3] = min(c[3], (goff, doc_id))
        goff += tok
    expected = {
        cid: (c[0], c[1], c[2], c[3][1]) for cid, c in chunks.items()
    }

    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        "read_parquet('/root/testdata/sf0.001/documents.parquet')"
    )
    got = {
        int(r[0]): (int(r[1]), int(r[2]), int(r[3]), int(r[4]))
        for r in con.execute(oracle_queries()["llm_sequence_pack"]).fetchall()
    }
    assert got == expected
    # structural sanity: every window but the last is exactly full, and
    # the packing covers the whole token stream
    last = max(expected)
    for cid, (_nd, _ns, filled, _fd) in expected.items():
        assert filled == CTX or cid == last
    assert sum(c[2] for c in expected.values()) == goff


# ------------------------------------------------------ HyperLogLog sketch


def test_hll_rho_sql_hand_vectors():
    """The rho SQL expression (1 + leading-zero bits of the 40-bit
    payload) against hand-computed nibble vectors, evaluated by DuckDB
    on literal strings — pins the regexp + nibble-CASE arithmetic."""
    import duckdb

    from dblab_ece_trino_spark.operators.sketches import _hll_rho_sql

    cases = {
        "8000000000": 1,   # first bit set
        "f123456789": 1,
        "4000000000": 2,   # 0100...
        "2fffffffff": 3,   # 0010...
        "1000000000": 4,   # 0001...
        "0f00000000": 5,   # one zero nibble then 1111
        "0100000000": 8,   # 0000 0001
        "0010000000": 12,
        "0000000001": 40,  # 39 zero bits then 1
        "0000000000": 41,  # all-zero payload -> cap
    }
    con = duckdb.connect()
    for rest, want in cases.items():
        expr = _hll_rho_sql(f"'{rest}'", f"length(regexp_extract('{rest}', '^0*', 0))")
        got = con.execute(f"SELECT {expr}").fetchone()[0]
        assert got == want, (rest, got, want)


def test_hll_oracle_matches_pure_python():
    """DuckDB oracle for op_hll_distinct vs an independent pure-Python
    HLL (hashlib md5, integer register fold) over sf0.001 lineitem —
    pins the SQL itself; Spark-vs-oracle parity rides the sf0.01 gate.
    Also asserts the bias-corrected estimate (linear counting applied
    Python-side, where ln is allowed) lands inside 3x the published
    1.04/sqrt(m) HLL error bound."""
    import hashlib
    import math

    import duckdb

    from dblab_ece_trino_spark.operators.registry import oracle_queries
    from dblab_ece_trino_spark.operators.sketches import (
        _HLL_A,
        _HLL_SCALE,
        HLL_M,
    )

    con = duckdb.connect()
    keys = [
        r[0]
        for r in con.execute(
            "SELECT DISTINCT l_orderkey FROM "
            "read_parquet('/root/testdata/sf0.001/lineitem.parquet')"
        ).fetchall()
    ]
    regs: dict[int, int] = {}
    for k in keys:
        h = hashlib.md5(f"hll:{k}".encode()).hexdigest()
        bucket = int(h[:2], 16)
        payload = int(h[2:12], 16)  # 40 bits
        rho = 41 if payload == 0 else 40 - payload.bit_length() + 1
        regs[bucket] = max(regs.get(bucket, 0), rho)
    v_zero = HLL_M - len(regs)
    s_scaled = sum(_HLL_SCALE >> r for r in regs.values()) + v_zero * _HLL_SCALE
    est_raw = float(_HLL_A) / s_scaled

    con.execute(
        "CREATE VIEW lineitem AS SELECT * FROM "
        "read_parquet('/root/testdata/sf0.001/lineitem.parquet')"
    )
    row = con.execute(oracle_queries()["op_hll_distinct"]).fetchone()
    assert row[0] == HLL_M
    assert row[1] == v_zero
    assert row[2] == s_scaled
    assert row[3] == est_raw  # bit-identical single IEEE division
    assert row[4] == len(keys)

    # accuracy: apply the standard small-range correction where the
    # cross-engine contract forbids it (ln), then check the bound
    est = est_raw
    if est <= 2.5 * HLL_M and v_zero > 0:
        est = HLL_M * math.log(HLL_M / v_zero)
    assert abs(est - len(keys)) / len(keys) <= 3 * 1.04 / math.sqrt(HLL_M)


# ------------------------------------------------ duplicated-span coverage


def _py_dup_span(docs, n=8):
    """Independent pure-Python re-derivation: gram STRINGS (not hashes),
    cross-doc duplicate filter, interval-union by sorted anchors."""
    import re

    grams: dict[str, set] = {}
    toks = {}
    for doc_id, text in docs:
        t = re.split(r"\s+", text.strip()) if text.strip() else [""]
        toks[doc_id] = t
        for i in range(len(t) - n + 1):
            grams.setdefault(" ".join(t[i : i + n]), set()).add(doc_id)
    dup = {g for g, ds in grams.items() if len(ds) >= 2}
    out = {}
    for doc_id, t in toks.items():
        anchors = sorted(
            i for i in range(len(t) - n + 1) if " ".join(t[i : i + n]) in dup
        )
        ng, cov, start, prev = len(anchors), 0, None, None
        for p in anchors:
            if prev is None or p - prev > n:
                if prev is not None:
                    cov += prev - start + n
                start = p
            prev = p
        if prev is not None:
            cov += prev - start + n
        out[doc_id] = (len(t), ng, cov)
    return out


def test_dup_span_oracle_matches_pure_python():
    """DuckDB oracle for llm_dup_span_coverage vs the string-keyed
    pure-Python packer on sf0.001 — also proves the 48-bit gram-hash
    fold is collision-free at this SF (a collision would show up as a
    value mismatch between the hash-keyed SQL and string-keyed Python)."""
    import duckdb

    from dblab_ece_trino_spark.operators.registry import oracle_queries

    con = duckdb.connect()
    docs = con.execute(
        "SELECT doc_id, text FROM "
        "read_parquet('/root/testdata/sf0.001/documents.parquet')"
    ).fetchall()
    expected = _py_dup_span(docs)

    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        "read_parquet('/root/testdata/sf0.001/documents.parquet')"
    )
    got = {
        int(r[0]): (int(r[1]), int(r[2]), int(r[3]))
        for r in con.execute(
            oracle_queries()["llm_dup_span_coverage"]
        ).fetchall()
    }
    assert got == expected
    # sanity: somebody must actually share an 8-gram at this SF, and
    # coverage never exceeds the doc
    assert any(ng > 0 for _t, ng, _c in got.values())
    for n_tok, _ng, cov in got.values():
        assert 0 <= cov <= n_tok


def test_dup_span_planted_fixture():
    """Hand-planted corpus: two docs share one exact 10-token sentence
    (anchors 0..2 in doc 1, offset 5..7 in doc 2 -> one island each,
    coverage exactly 10), a third doc shares nothing."""
    import duckdb

    from dblab_ece_trino_spark.operators.llmprep import _dup_span_oracle

    shared = " ".join(f"w{i}" for i in range(10))
    uniq1 = " ".join(f"a{i}" for i in range(5))
    uniq3 = " ".join(f"z{i}" for i in range(12))
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM (VALUES "
        f"(1, '{shared}'), (2, '{uniq1} {shared}'), (3, '{uniq3}')"
        ") AS t(doc_id, text)"
    )
    got = {r[0]: (r[1], r[2], r[3]) for r in con.execute(_dup_span_oracle()).fetchall()}
    assert got == {1: (10, 3, 10), 2: (15, 3, 10), 3: (12, 0, 0)}


# --------------------------------------------------------------- G.711
def test_g711_hand_vectors_pin_both_implementations():
    """Byte-level decode pairs worked out on paper from the G.711
    segment definitions pin the engine's shift-of-sums formulas AND the
    independent closed-form tables in scripts/gen_g711_expected.py.

    mu-law: 0xFF is +0 and 0x7F is -0 (both decode to 0); 0x80 is the
    positive maximum (+32124 = ((15*8+132)<<7)-132) and 0x00 its
    negative mirror; 0xEF (exp 1, mant 0) is (132<<1)-132 = +132.
    A-law: 0xD5/0x55 are the +-8 zero cells (sign bit SET = positive);
    0xAA/0x2A the +-32256 extremes; 0xC5 is segment 1, mantissa 0 =
    +264 (0x108)."""
    from dblab_ece_trino_spark.operators.multimodal import (
        alaw_decode_byte,
        ulaw_decode_byte,
    )
    from scripts.gen_g711_expected import ALAW_TABLE, ULAW_TABLE

    mu = {0xFF: 0, 0x7F: 0, 0x80: 32124, 0x00: -32124, 0xEF: 132}
    al = {0xD5: 8, 0x55: -8, 0xAA: 32256, 0x2A: -32256, 0xC5: 264}
    for b, want in mu.items():
        assert ulaw_decode_byte(b) == want, hex(b)
        assert ULAW_TABLE[b] == want, hex(b)
    for b, want in al.items():
        assert alaw_decode_byte(b) == want, hex(b)
        assert ALAW_TABLE[b] == want, hex(b)


def test_g711_engine_formulas_match_independent_tables_all_bytes():
    """The engine's per-byte decode expressions must agree with the
    reference's segment-arithmetic tables on every one of the 256
    codes, both laws — a complementary bug would need to hide in two
    different algebraic formulations at once."""
    from dblab_ece_trino_spark.operators.multimodal import (
        alaw_decode_byte,
        ulaw_decode_byte,
    )
    from scripts.gen_g711_expected import ALAW_TABLE, ULAW_TABLE

    for b in range(256):
        assert ulaw_decode_byte(b) == ULAW_TABLE[b], hex(b)
        assert alaw_decode_byte(b) == ALAW_TABLE[b], hex(b)


def test_g711_quantization_bound_and_code_idempotence():
    """Companding contract over the FULL linear range: |decode(encode(s))
    - s| <= 512 (the top segment's half cell) for both laws (mu-law
    within its documented |s| <= 32635 clip region), and encode is
    exactly idempotent on decoded values for all 256 codes — except the
    one documented mu-law case: -0 (0x7F) re-encodes as +0 (0xFF)."""
    from dblab_ece_trino_spark.operators.multimodal import (
        G711_CLIP,
        alaw_decode_byte,
        alaw_encode_sample,
        ulaw_decode_byte,
        ulaw_encode_sample,
    )

    for s in range(-32768, 32768, 7):
        if abs(s) <= G711_CLIP:
            assert abs(ulaw_decode_byte(ulaw_encode_sample(s)) - s) <= 512, s
        assert abs(alaw_decode_byte(alaw_encode_sample(s)) - s) <= 512, s
    # clip region still decodes to the top cell, no overflow artifacts
    assert ulaw_decode_byte(ulaw_encode_sample(32767)) == 32124
    assert ulaw_decode_byte(ulaw_encode_sample(-32768)) == -32124
    for b in range(256):
        if b == 0x7F:
            assert ulaw_encode_sample(ulaw_decode_byte(b)) == 0xFF
        else:
            assert ulaw_encode_sample(ulaw_decode_byte(b)) == b, hex(b)
        assert alaw_encode_sample(alaw_decode_byte(b)) == b, hex(b)


def test_g711_engine_decoder_matches_independent_reference():
    """Engine decode (through the generic audio seam) must be
    sample-exact vs the scripts/ reference decoder on all 12 fixtures,
    and the seam must dispatch the correct law."""
    from dblab_ece_trino_spark.operators.multimodal import (
        _G711_PARAMS,
        _N_G711,
        _g711_signal,
        decode_audio,
        encode_g711_wav,
    )
    from scripts.gen_g711_expected import ref_decode

    for i in range(_N_G711):
        n_samp, rate, law = _G711_PARAMS[i]
        payload = encode_g711_wav(_g711_signal(i, n_samp), rate, law)
        # the generic seam is uniform (rate, samples) for every codec;
        # the law byte is exposed only by the dedicated decoder
        er, es = decode_audio(payload)
        from dblab_ece_trino_spark.operators.multimodal import decode_g711_wav

        dr, dlaw, ds = decode_g711_wav(payload)
        rr, rlaw, rs = ref_decode(payload)
        assert (dr, dlaw) == (rr, rlaw) == (rate, law)
        assert er == rr and list(map(int, es)) == list(map(int, ds)) == rs, (
            f"clip {i} diverges"
        )


def test_g711_expected_constants_rederive():
    from dblab_ece_trino_spark.operators.multimodal import _G711_EXPECTED
    from scripts.gen_g711_expected import expected_rows

    assert expected_rows() == [tuple(r) for r in _G711_EXPECTED]


def test_g711_fixture_family_covers_all_segments_both_laws():
    """The waveform family must keep hitting every exponent segment of
    both laws (incl. the linear cells and the mu-law clip region) —
    shrinking coverage would quietly demote the graded entry to an
    outer-segment-only check."""
    from dblab_ece_trino_spark.operators.multimodal import (
        _G711_PARAMS,
        _g711_signal,
        alaw_encode_sample,
        ulaw_encode_sample,
    )

    segs = {"ulaw": set(), "alaw": set()}
    for i, (n, _rate, law) in enumerate(_G711_PARAMS):
        for v in _g711_signal(i, n):
            if law == "ulaw":
                segs[law].add((~ulaw_encode_sample(v) >> 4) & 7)
            else:
                segs[law].add(((alaw_encode_sample(v) ^ 0x55) >> 4) & 7)
    assert segs["ulaw"] == set(range(8))
    assert segs["alaw"] == set(range(8))


def test_g711_rejection_classes():
    """Each corruption class raises the documented ValueError: missing
    fact, fact exceeding data, stereo, wrong bit depth, truncated
    chunk, non-G.711 tag routed here directly."""
    import struct

    import pytest

    from dblab_ece_trino_spark.operators.multimodal import (
        decode_g711_wav,
        encode_g711_wav,
    )

    good = encode_g711_wav(_g711_sig_20(), 8000, "ulaw")
    decode_g711_wav(good)  # sanity

    # missing fact: excise the 12-byte fact chunk (offset 12+26)
    no_fact = good[:38] + good[50:]
    no_fact = no_fact[:4] + struct.pack("<I", len(no_fact) - 8) + no_fact[8:]
    with pytest.raises(ValueError, match="fact"):
        decode_g711_wav(no_fact)
    # fact > data (fact chunk VALUE lives at bytes 46:50)
    bloated = good[:46] + struct.pack("<I", 10_000) + good[50:]
    with pytest.raises(ValueError, match="truncated G.711 data"):
        decode_g711_wav(bloated)
    # stereo flag
    stereo = good[:22] + struct.pack("<H", 2) + good[24:]
    with pytest.raises(ValueError, match="mono"):
        decode_g711_wav(stereo)
    # 16-bit flag
    deep = good[:46 - 12] + struct.pack("<H", 16) + good[36:]
    with pytest.raises(ValueError):
        decode_g711_wav(deep)
    # truncated mid-chunk
    with pytest.raises(ValueError, match="truncated"):
        decode_g711_wav(good[:-5])
    # PCM tag routed here directly
    pcm_tag = good[:20] + struct.pack("<H", 1) + good[22:]
    with pytest.raises(ValueError, match="not G.711"):
        decode_g711_wav(pcm_tag)


def _g711_sig_20():
    from dblab_ece_trino_spark.operators.multimodal import _g711_signal

    return _g711_signal(0, 20)


# ---------------------------------------------------------------- HITS
def test_hits_oracle_matches_pure_python():
    """The unrolled DuckDB HITS oracle must equal an independent dict-
    based fixed-point implementation (same integer normalization
    contract) at sf0.001 — pinning the CTE unrolling itself, not just
    Spark-vs-DuckDB agreement."""
    import duckdb

    from dblab_ece_trino_spark.operators.graph import (
        HITS_ITERS,
        HITS_SCALE,
        _hits_oracle,
    )

    sf = "/root/testdata/sf0.001"
    con = duckdb.connect()
    for t in ("orders", "lineitem"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')"
        )
    got = con.execute(_hits_oracle()).fetchall()

    pairs = set(
        con.execute(
            "SELECT DISTINCT o.o_custkey, l.l_partkey FROM orders o "
            "JOIN lineitem l ON l.l_orderkey = o.o_orderkey"
        ).fetchall()
    )
    h = {c: 1 for c, _ in pairs}
    a = {}
    for _ in range(HITS_ITERS):
        araw = {}
        for c, p in pairs:
            araw[p] = araw.get(p, 0) + h[c]
        tot = sum(araw.values())
        a = {p: (s * HITS_SCALE) // tot for p, s in araw.items()}
        hraw = {}
        for c, p in pairs:
            hraw[c] = hraw.get(c, 0) + a[p]
        tot = sum(hraw.values())
        h = {c: (s * HITS_SCALE) // tot for c, s in hraw.items()}

    want = [
        ("authority", int(p), int(s))
        for p, s in sorted(a.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    ] + [
        ("hub", int(c), int(s))
        for c, s in sorted(h.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    ]
    want.sort(key=lambda r: (r[0], -r[2], r[1]))
    assert [(r[0], int(r[1]), int(r[2])) for r in got] == want
    # scores are L1-normalized: each <= SCALE, totals within floor loss
    assert all(0 <= s <= HITS_SCALE for _role, _k, s in want)
    assert sum(a.values()) <= HITS_SCALE < sum(a.values()) + len(a)


# ------------------------------------------------------------ pad waste
def test_pad_waste_oracle_matches_pure_python():
    """The bucketed-padding oracle must equal an independent pure-Python
    audit (int.bit_length for the bucket ceiling — a third formulation
    vs Spark's shiftleft/bin and DuckDB's << /bin) at sf0.001, and the
    bucketed overhead must never exceed the unbucketed one."""
    import duckdb

    from dblab_ece_trino_spark.operators.registry import oracle_queries

    sf = "/root/testdata/sf0.001"
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf}/documents.parquet')"
    )
    got = con.execute(oracle_queries()["llm_pad_waste"]).fetchall()

    toks = [
        len(t[0].strip().split())
        for t in con.execute("SELECT text FROM documents").fetchall()
        if len(t[0].strip().split()) >= 1
    ]
    buckets: dict = {}
    for tok in toks:
        cap = 1 if tok == 1 else 1 << (tok - 1).bit_length()
        n, s, m = buckets.get(cap, (0, 0, 0))
        buckets[cap] = (n + 1, s + tok, max(m, tok))
    gmax = max(toks)
    want = [
        (cap, n, s, n * cap - s, n * m - s, n * gmax - s)
        for cap, (n, s, m) in sorted(buckets.items())
    ]
    assert [tuple(map(int, r)) for r in got] == want
    # dynamic-within-bucket padding is the floor of both other policies
    for _cap, _n, _s, pc, pm, pu in want:
        assert 0 <= pm <= pc
        assert pm <= pu


# ------------------------------------------------------------ scene cut
def test_scene_cut_engine_matches_independent_reference():
    """Engine detector (stride-seek numpy SAD) must agree exactly with
    the sequential pure-Python reference on every fixture payload."""
    from dblab_ece_trino_spark.operators.multimodal import (
        _N_SCENE,
        _SCENE_PARAMS,
        SCENE_CUT_MAD,
        _scene_y,
        encode_y4m,
        parse_y4m_header,
        y4m_sample_frames,
    )
    from scripts.gen_scene_cut_expected import ref_scene_stats

    for i in range(_N_SCENE):
        nf, _seg, c420 = _SCENE_PARAMS[i]
        w, h = 16 + 2 * (i % 3), 12 + 2 * ((i // 3) % 2)
        payload = encode_y4m(
            w, h, nf,
            lambda f, x, y, i=i: _scene_y(i, f, x, y),
            lambda f, x, y, i=i: (x + 2 * y + 3 * i) % 256,
            lambda f, x, y, i=i: (2 * x + y + 5 * i) % 256,
            c420=c420,
        )
        # engine-path recomputation (same loop _scene_stats runs)
        pw, ph, _n, _d, _c, _hdr = parse_y4m_header(payload)
        prev = None
        n_frames = n_cuts = 0
        first_cut = -1
        sad_sum = sad_max = 0
        for _f, yp, _up, _vp in y4m_sample_frames(payload, 1):
            n_frames += 1
            y64 = yp.astype(np.int64)
            if prev is not None:
                sad = int(np.abs(y64 - prev).sum())
                sad_sum += sad
                sad_max = max(sad_max, sad)
                if sad > SCENE_CUT_MAD * pw * ph:
                    n_cuts += 1
                    if first_cut < 0:
                        first_cut = n_frames - 1
            prev = y64
        got = (pw, ph, n_frames, n_cuts, first_cut, sad_sum, sad_max)
        assert got == ref_scene_stats(payload, SCENE_CUT_MAD), f"clip {i}"


def test_scene_cut_ground_truth_positions():
    """Detected cuts must be EXACTLY the scene boundaries the fixture
    formula plants (every seg_len frames), clip by clip — the detector
    is validated against construction, not just against a second
    parser.  The single-scene and single-frame clips must report none."""
    from dblab_ece_trino_spark.operators.multimodal import (
        _N_SCENE,
        _SCENE_EXPECTED,
        _SCENE_PARAMS,
    )
    from scripts.gen_scene_cut_expected import expected_rows

    assert expected_rows() == [tuple(r) for r in _SCENE_EXPECTED]
    for i in range(_N_SCENE):
        nf, seg, _c420 = _SCENE_PARAMS[i]
        want_cuts = [f for f in range(1, nf) if f % seg == 0]
        _mid, _w, _h, n_frames, n_cuts, first_cut, _ss, _sm = _SCENE_EXPECTED[i]
        assert n_frames == nf
        assert n_cuts == len(want_cuts), f"clip {i}"
        assert first_cut == (want_cuts[0] if want_cuts else -1), f"clip {i}"


def test_scene_cut_margin_between_regimes():
    """The threshold must sit well inside the gap: on every clip the
    largest within-scene SAD stays below half the threshold and every
    boundary SAD exceeds twice the threshold (so a +-2x miscalibration
    cannot flip a fixture verdict)."""
    from dblab_ece_trino_spark.operators.multimodal import (
        _SCENE_PARAMS,
        SCENE_CUT_MAD,
        _scene_y,
        encode_y4m,
        y4m_sample_frames,
    )

    i, (nf, seg, c420) = 2, _SCENE_PARAMS[2]
    w, h = 16 + 2 * (i % 3), 12 + 2 * ((i // 3) % 2)
    payload = encode_y4m(
        w, h, nf,
        lambda f, x, y, i=i: _scene_y(i, f, x, y),
        lambda f, x, y, i=i: (x + 2 * y + 3 * i) % 256,
        lambda f, x, y, i=i: (2 * x + y + 5 * i) % 256,
        c420=c420,
    )
    prev, f_idx = None, 0
    for _f, yp, _u, _v in y4m_sample_frames(payload, 1):
        y64 = yp.astype(np.int64)
        if prev is not None:
            sad = int(np.abs(y64 - prev).sum())
            if f_idx % seg == 0:
                assert sad > 2 * SCENE_CUT_MAD * w * h, f_idx
            else:
                assert sad < (SCENE_CUT_MAD // 2) * w * h, f_idx
        prev = y64
        f_idx += 1


# ------------------------------------------------------ Neyman allocation
def test_neyman_alloc_oracle_matches_pure_python():
    """The allocation oracle must equal an independent pure-Python
    Neyman + Hamilton implementation (statistics.pstdev for the
    std-dev — a third formulation vs the SQL moment algebra), and the
    seats must sum exactly to the budget with every stratum's seat
    count within 1 of its exact real-valued share."""
    import duckdb
    from statistics import pstdev

    from dblab_ece_trino_spark.operators.registry import oracle_queries
    from dblab_ece_trino_spark.operators.sampling import NEYMAN_N

    sf = "/root/testdata/sf0.001"
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf}/documents.parquet')"
    )
    got = con.execute(oracle_queries()["sample_neyman_alloc"]).fetchall()

    rows = con.execute("SELECT source, n_chars FROM documents").fetchall()
    by_src: dict = {}
    for src, nc in rows:
        by_src.setdefault(src, []).append(nc)
    stats = {
        src: (len(v), int(pstdev(v) * 1000), len(v) * int(pstdev(v) * 1000))
        for src, v in by_src.items()
    }
    tw = sum(w for _n, _sd, w in stats.values())
    base = {s: (NEYMAN_N * w) // tw for s, (_n, _sd, w) in stats.items()}
    rem = {s: (NEYMAN_N * w) % tw for s, (_n, _sd, w) in stats.items()}
    leftover = NEYMAN_N - sum(base.values())
    order = sorted(stats, key=lambda s: (-rem[s], s))
    alloc = {
        s: base[s] + (1 if i < leftover else 0) for i, s in enumerate(order)
    }
    want = [
        (s, stats[s][0], stats[s][1], stats[s][2], alloc[s])
        for s in sorted(stats)
    ]
    assert [tuple(map(lambda x: x if isinstance(x, str) else int(x), r))
            for r in got] == want
    assert sum(alloc.values()) == NEYMAN_N
    for s, (_n, _sd, w) in stats.items():
        exact = NEYMAN_N * w / tw
        assert abs(alloc[s] - exact) < 1, s  # Hamilton stays within 1 seat


# ------------------------------------------------------- audio energy/VAD
def test_audio_energy_engine_matches_independent_reference():
    """The engine's vectorized window stats (reshape + numpy sums) must
    agree exactly with the sample-by-sample scalar reference on every
    fixture payload."""
    from dblab_ece_trino_spark.operators.multimodal import (
        _AUDIO_E_PARAMS,
        _N_AUDIO_E,
        AUDIO_SILENCE_MSQ,
        AUDIO_WIN,
        _audio_e_signal,
        decode_audio,
        encode_wav,
    )
    from scripts.gen_audio_energy_expected import ref_stats

    for i in range(_N_AUDIO_E):
        n, rate, layout = _AUDIO_E_PARAMS[i]
        payload = encode_wav(
            np.array(_audio_e_signal(i, n, layout), dtype=np.int16), rate
        )
        erate, s = decode_audio(payload)
        s64 = s.astype(np.int64)
        nw = len(s64) // AUDIO_WIN
        w64 = s64[: nw * AUDIO_WIN].reshape(nw, AUDIO_WIN)
        energy = (w64 * w64).sum(axis=1)
        zc = ((w64[:, :-1] * w64[:, 1:]) < 0).sum(axis=1)
        silent = energy < AUDIO_SILENCE_MSQ * AUDIO_WIN
        active = np.nonzero(~silent)[0]
        got = (
            erate, len(s64), nw, int(silent.sum()), int(energy.sum()),
            int(energy.max()) if nw else 0, int(zc.sum()),
            int(active[0]) if len(active) else -1,
        )
        assert got == ref_stats(payload, AUDIO_WIN, AUDIO_SILENCE_MSQ), i


def test_audio_energy_ground_truth_silence_layout():
    """Windows lying fully inside a planted phase must get the phase's
    verdict (silent phases silent, active phases active) on every clip
    — validating the detector against construction, and the pinned
    constants must re-derive."""
    from dblab_ece_trino_spark.operators.multimodal import (
        _AUDIO_E_EXPECTED,
        _AUDIO_E_PARAMS,
        _N_AUDIO_E,
        AUDIO_SILENCE_MSQ,
        AUDIO_WIN,
        _audio_e_signal,
    )
    from scripts.gen_audio_energy_expected import expected_rows

    assert expected_rows() == [tuple(r) for r in _AUDIO_E_EXPECTED]
    for i in range(_N_AUDIO_E):
        n, _rate, layout = _AUDIO_E_PARAMS[i]
        s = _audio_e_signal(i, n, layout)
        nph = len(layout)
        nw = n // AUDIO_WIN
        for wi in range(nw):
            lo, hi = wi * AUDIO_WIN, (wi + 1) * AUDIO_WIN
            phases = {layout[min(k * nph // n, nph - 1)] for k in range(lo, hi)}
            if len(phases) > 1:
                continue  # boundary window: verdict depends on mix
            e = sum(v * v for v in s[lo:hi])
            if phases == {"s"}:
                assert e < AUDIO_SILENCE_MSQ * AUDIO_WIN, (i, wi)
            else:
                assert e >= AUDIO_SILENCE_MSQ * AUDIO_WIN, (i, wi)
    # the edge fixtures stay pinned: an all-silent clip and a clip
    # shorter than one window
    assert _AUDIO_E_EXPECTED[7][4] == _AUDIO_E_EXPECTED[7][3]  # all silent
    assert _AUDIO_E_EXPECTED[7][8] == -1
    assert _AUDIO_E_EXPECTED[8][3] == 0  # no full window


# ------------------------------------------------------------- winnowing
def _win_fold_py(gram: str) -> int:
    import hashlib

    return int(hashlib.md5(("win:" + gram).encode()).hexdigest()[:10], 16)


def test_winnowing_oracle_matches_pure_python():
    """The winnowing oracle must equal an independent pure-Python
    implementation that selects window minima EXPLICITLY (scan the w
    hashes, keep the smallest, rightmost on ties) — validating the
    (h, -pos) BIGINT packing trick against the paper's stated rule,
    plus the density guarantee (fingerprints <= window starts, >= 1
    per w consecutive starts)."""
    import duckdb

    from dblab_ece_trino_spark.operators.registry import oracle_queries
    from dblab_ece_trino_spark.operators.text import (
        WIN_DF_CAP,
        WIN_K,
        WIN_MIN_SHARED,
        WIN_W,
    )

    sf = "/root/testdata/sf0.001"
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf}/documents.parquet')"
    )
    got = con.execute(oracle_queries()["text_winnowing"]).fetchall()

    fps: dict = {}
    for doc_id, text in con.execute(
        "SELECT doc_id, text FROM documents"
    ).fetchall():
        words = text.strip().split()
        if len(words) < WIN_K:
            continue
        hashes = [
            _win_fold_py(" ".join(words[i : i + WIN_K]))
            for i in range(len(words) - WIN_K + 1)
        ]
        sel = set()
        n_starts = len(hashes) - WIN_W + 1
        for s in range(max(n_starts, 0)):
            best, bestpos = None, None
            for j in range(s, s + WIN_W):  # rightmost minimal: <= keeps later j
                if best is None or hashes[j] <= best:
                    best, bestpos = hashes[j], j
            sel.add((best, bestpos))
        fp_set = {h for h, _p in sel}
        if fp_set:
            fps[doc_id] = fp_set
            if n_starts > 0:
                assert len(sel) <= n_starts
                # coverage: every w consecutive starts contribute >= 1
                assert len(sel) >= (n_starts + WIN_W - 1) // WIN_W
    df: dict = {}
    for s in fps.values():
        for h in s:
            df[h] = df.get(h, 0) + 1
    good = {h for h, c in df.items() if 2 <= c <= WIN_DF_CAP}
    pair_counts: dict = {}
    docs_sorted = sorted(fps)
    for ai, da in enumerate(docs_sorted):
        for db in docs_sorted[ai + 1 :]:
            n = len(fps[da] & fps[db] & good)
            if n >= WIN_MIN_SHARED:
                pair_counts[(da, db)] = n
    want = sorted(
        ((a, b, n) for (a, b), n in pair_counts.items()),
        key=lambda r: (-r[2], r[0], r[1]),
    )
    assert [tuple(map(int, r)) for r in got] == want
    assert len(want) > 0  # fixture corpus must keep producing candidates


# ------------------------------------------------------------ TIFF codec
def _ref_packbits(data: bytes) -> bytes:
    """Independent PackBits decompressor (recursive-structure-free
    reformulation written for this test: branch order and arithmetic
    differ from the engine's)."""
    out = []
    i = 0
    while i < len(data):
        ctrl = data[i] - 256 if data[i] > 127 else data[i]
        i += 1
        if ctrl == -128:
            continue
        if ctrl >= 0:
            out.append(data[i : i + ctrl + 1])
            i += ctrl + 1
        else:
            out.append(data[i : i + 1] * (1 - ctrl))
            i += 1
    return b"".join(out)


def test_tiff_packbits_spec_vector_pins_both_decoders():
    """The worked example from the TIFF 6.0 specification §9 pins the
    engine decoder AND the independent signed-control reformulation:
    FE AA | 02 80 00 2A | FD AA | 03 80 00 2A 22 | F7 AA
    -> AA*3, 80 00 2A, AA*4, 80 00 2A 22, AA*10 (24 bytes)."""
    from dblab_ece_trino_spark.operators.multimodal import (
        packbits_decode,
        packbits_encode,
    )

    enc = bytes.fromhex("FEAA0280002AFDAA0380002A22F7AA")
    want = bytes(
        [0xAA] * 3 + [0x80, 0x00, 0x2A] + [0xAA] * 4
        + [0x80, 0x00, 0x2A, 0x22] + [0xAA] * 10
    )
    assert packbits_decode(enc, len(want)) == want
    assert _ref_packbits(enc) == want
    # engine encoder output must satisfy BOTH decoders on adversarial
    # buffers (long runs, 128-byte literals, run-at-end, empty)
    for buf in (
        b"", b"Q", b"QR", b"Q" * 129, bytes(range(256)), b"AAB" * 90,
        b"xyyyyyyyx" * 31, b"Z" * 3,
    ):
        e = packbits_encode(buf)
        assert packbits_decode(e, len(buf)) == buf
        assert _ref_packbits(e) == buf


def test_tiff_engine_decoder_matches_formula_and_reference():
    """decode_tiff (through the generic image seam) must reproduce the
    shared pixel formula exactly on every fixture, and the strip
    assembly must be insensitive to rows_per_strip choice."""
    import numpy as np

    from dblab_ece_trino_spark.operators.multimodal import (
        _N_TIFF,
        _TIFF_PARAMS,
        _tiff_pixel,
        decode_image,
        encode_tiff,
    )

    for i in range(_N_TIFF):
        w, h, pb, rps = _TIFF_PARAMS[i]
        img = np.empty((h, w, 3), dtype=np.uint8)
        for y in range(h):
            for x in range(w):
                for c in range(3):
                    img[y, x, c] = _tiff_pixel(i, x, y, c)
        gw, gh, got = decode_image(encode_tiff(img, packbits=pb, rows_per_strip=rps))
        assert (gw, gh) == (w, h) and np.array_equal(got, img), i
        # alternate strip geometry must decode identically
        _w2, _h2, again = decode_image(
            encode_tiff(img, packbits=pb, rows_per_strip=max(1, rps - 1))
        )
        assert np.array_equal(again, img), i


def test_tiff_big_endian_and_fixture_coverage():
    """A hand-built minimal MM (big-endian) file must decode (the
    decoder claims both byte orders), and the fixture family must keep
    covering: both compressions, single-strip, partial-final-strip, and
    exact-multiple strip layouts."""
    import struct

    import numpy as np

    from dblab_ece_trino_spark.operators.multimodal import (
        _TIFF_PARAMS,
        decode_tiff,
    )

    # 2x1 RGB, one uncompressed strip: pixel data at offset 8, IFD after
    pix = bytes([10, 20, 30, 40, 50, 60])
    bps_off = 8 + len(pix)  # 14
    ifd_off = bps_off + 6  # 20
    out = struct.pack(">2sHI", b"MM", 42, ifd_off) + pix
    out += struct.pack(">3H", 8, 8, 8)
    entries = [
        (256, 4, 1, 2), (257, 4, 1, 1), (258, 3, 3, bps_off),
        (259, 3, 1, 1), (262, 3, 1, 2), (273, 4, 1, 8),
        (277, 3, 1, 3), (278, 4, 1, 1), (279, 4, 1, 6),
    ]
    out += struct.pack(">H", len(entries))
    for tag, typ, cnt, val in entries:
        if typ == 3 and cnt == 1:
            out += struct.pack(">HHIHH", tag, typ, cnt, val, 0)
        else:
            out += struct.pack(">HHII", tag, typ, cnt, val)
    out += struct.pack(">I", 0)
    w, h, rgb = decode_tiff(out)
    assert (w, h) == (2, 1)
    assert np.array_equal(rgb, np.array([[[10, 20, 30], [40, 50, 60]]]))

    shapes = set()
    comps = set()
    for w, h, pb, rps in _TIFF_PARAMS:
        comps.add(pb)
        if rps >= h:
            shapes.add("single")
        elif h % rps == 0:
            shapes.add("exact")
        else:
            shapes.add("partial")
    assert comps == {True, False}
    assert shapes == {"single", "exact", "partial"}


def test_tiff_rejection_classes():
    """Each non-baseline feature and corruption class raises the
    documented ValueError by name."""
    import struct

    import numpy as np

    import pytest

    from dblab_ece_trino_spark.operators.multimodal import (
        decode_tiff,
        encode_tiff,
    )

    img = np.fromfunction(
        lambda y, x, c: (x + y + c) % 256, (6, 8, 3)
    ).astype(np.uint8)
    good = bytearray(encode_tiff(img, packbits=False, rows_per_strip=3))
    (ifd_off,) = struct.unpack("<I", good[4:8])

    def entry_off(tag: int) -> int:
        (n,) = struct.unpack("<H", good[ifd_off : ifd_off + 2])
        for k in range(n):
            off = ifd_off + 2 + 12 * k
            if struct.unpack("<H", good[off : off + 2])[0] == tag:
                return off
        raise AssertionError(tag)

    lzw = bytearray(good)
    struct.pack_into("<H", lzw, entry_off(259) + 8, 5)
    with pytest.raises(ValueError, match="compression 5"):
        decode_tiff(bytes(lzw))
    pal = bytearray(good)
    struct.pack_into("<H", pal, entry_off(262) + 8, 3)
    with pytest.raises(ValueError, match="RGB"):
        decode_tiff(bytes(pal))
    with pytest.raises(ValueError, match="truncated"):
        decode_tiff(bytes(good[:-10]))
    with pytest.raises(ValueError, match="not a TIFF"):
        decode_tiff(b"XX\x2a\x00" + bytes(good[4:]))
    with pytest.raises(ValueError, match="bad TIFF magic"):
        decode_tiff(b"II\x2b\x00" + bytes(good[4:]))


# ------------------------------------------------------- Hampel filter
def test_hampel_oracle_matches_pure_python():
    """The Hampel oracle must equal an independent pure-Python
    implementation (statistics.median over explicit centered slices)
    at sf0.001, including the integer cents fold, full-window edge
    drops, and the 3*MAD verdicts."""
    import duckdb
    from statistics import median

    from dblab_ece_trino_spark.operators.registry import oracle_queries

    sf = "/root/testdata/sf0.001"
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf}/events.parquet')"
    )
    got = con.execute(oracle_queries()["ts_hampel_filter"]).fetchall()

    rows = con.execute(
        "SELECT user_id, ts, event_id, CAST(round(value * 100, 0) AS BIGINT)"
        " FROM events WHERE user_id < 30 ORDER BY user_id, ts, event_id"
    ).fetchall()
    series: dict = {}
    for u, ts, eid, v in rows:
        series.setdefault(u, []).append((ts, eid, v))
    want = []
    for u in sorted(series):
        s = series[u]
        vals = [v for _t, _e, v in s]
        for i in range(5, len(s) - 5):
            win = vals[i - 5 : i + 6]
            med = int(median(win))  # 11 values -> exact middle element
            mad = int(median([abs(x - med) for x in win]))
            want.append(
                (
                    u, s[i][0], s[i][1], vals[i], med, mad,
                    abs(vals[i] - med) > 3 * mad,
                )
            )
    want.sort(key=lambda r: (r[0], r[1], r[2]))
    assert [tuple(r) for r in got] == want
    assert len(want) > 100  # fixture keeps the entry non-trivial
    assert any(r[6] for r in want) and not all(r[6] for r in want)


# ------------------------------------------------------ RFM segmentation
def test_rfm_oracle_matches_pure_python():
    """The RFM oracle must equal an independent pure-Python scorer
    (sorted-list indexing at rank ceil(q*n) — percentile_disc
    semantics) at sf0.001, and scores must cover a non-trivial range."""
    import duckdb
    from math import ceil

    from dblab_ece_trino_spark.operators.registry import oracle_queries

    sf = "/root/testdata/sf0.001"
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW orders AS SELECT * FROM read_parquet('{sf}/orders.parquet')"
    )
    got = con.execute(oracle_queries()["op_rfm_segments"]).fetchall()

    rows = con.execute(
        "SELECT o_custkey, CAST(date_diff('day', max(o_orderdate),"
        " (SELECT max(o_orderdate) FROM orders)) AS BIGINT),"
        " count(*), sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))"
        " FROM orders GROUP BY 1"
    ).fetchall()

    def disc(vals, q_num, q_den):
        s = sorted(vals)
        return s[ceil(q_num * len(s) / q_den) - 1]

    recs = [r[1] for r in rows]
    freqs = [r[2] for r in rows]
    mons = [r[3] for r in rows]
    tr = [disc(recs, k, 5) for k in (1, 2, 3, 4)]
    tf = [disc(freqs, k, 5) for k in (1, 2, 3, 4)]
    tm = [disc(mons, k, 5) for k in (1, 2, 3, 4)]
    seg: dict = {}
    for _c, rec, fq, mon in rows:
        key = (
            1 + sum(rec > t for t in tr),
            1 + sum(fq > t for t in tf),
            1 + sum(mon > t for t in tm),
        )
        n, m = seg.get(key, (0, 0))
        seg[key] = (n + 1, m + mon)
    want = [
        (r, f, m, n, mc) for (r, f, m), (n, mc) in sorted(seg.items())
    ]
    assert [tuple(map(int, r)) for r in got] == want
    rset = {r for r, _f, _m, _n, _mc in want}
    assert len(rset) >= 4  # quintiles genuinely spread


# ----------------------------------------------------- association rules
def test_assoc_rules_oracle_matches_pure_python():
    """The rules oracle must equal an independent pure-Python basket
    miner (itertools.combinations over set-built baskets) at sf0.001,
    including the integer ppm metrics and the deterministic top-50
    ordering; sanity: confidence <= 1e6 and every rule's support
    respects min_sup."""
    import duckdb
    from itertools import combinations

    from dblab_ece_trino_spark.operators.behavior import (
        ASSOC_MIN_SUP,
        ASSOC_TOP,
    )
    from dblab_ece_trino_spark.operators.registry import oracle_queries

    sf = "/root/testdata/sf0.001"
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW lineitem AS SELECT * FROM read_parquet('{sf}/lineitem.parquet')"
    )
    got = con.execute(oracle_queries()["op_assoc_rules"]).fetchall()

    baskets: dict = {}
    for ok, p in con.execute(
        "SELECT DISTINCT l_orderkey, l_partkey FROM lineitem"
    ).fetchall():
        baskets.setdefault(ok, set()).add(p)
    n_orders = len(baskets)
    item: dict = {}
    pair: dict = {}
    for parts in baskets.values():
        for p in parts:
            item[p] = item.get(p, 0) + 1
        for a, b in combinations(sorted(parts), 2):
            pair[(a, b)] = pair.get((a, b), 0) + 1
    rules = []
    for (a, b), n_ab in pair.items():
        if n_ab < ASSOC_MIN_SUP:
            continue
        for x, y in ((a, b), (b, a)):
            conf = (n_ab * 1_000_000) // item[x]
            lift = (n_orders * n_ab * 1_000_000) // (item[x] * item[y])
            rules.append(
                (x, y, n_ab, item[x], item[y], n_orders, conf, lift)
            )
    rules.sort(key=lambda r: (-r[2], -r[7], r[0], r[1]))
    want = rules[:ASSOC_TOP]
    assert [tuple(map(int, r)) for r in got] == want
    for _a, _b, n_ab, _na, _nb, _n, conf, _lift in want:
        assert n_ab >= ASSOC_MIN_SUP and conf <= 1_000_000


# -------------------------------------------------------------- SAX words
def test_sax_oracle_matches_pure_python():
    """The SAX oracle must equal an independent pure-Python symbolizer
    (explicit per-series loop: cents fold, (i*8)//n PAA assignment,
    population moments, the published 4-letter N(0,1) breakpoints) at
    sf0.001, and words must use more than one letter overall."""
    import duckdb
    from math import sqrt

    from dblab_ece_trino_spark.operators.registry import oracle_queries

    sf = "/root/testdata/sf0.001"
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf}/events.parquet')"
    )
    got = con.execute(oracle_queries()["ts_sax_words"]).fetchall()

    rows = con.execute(
        "SELECT user_id, CAST(round(value * 100, 0) AS BIGINT)"
        " FROM events WHERE user_id < 30 ORDER BY user_id, ts, event_id"
    ).fetchall()
    series: dict = {}
    for u, v in rows:
        series.setdefault(u, []).append(v)
    want = []
    for u in sorted(series):
        vals = series[u]
        n = len(vals)
        if n < 8:
            continue
        segs: dict = {}
        for i, v in enumerate(vals):
            sid = (i * 8) // n
            s_, ssq_, c_ = segs.get(sid, (0, 0, 0))
            segs[sid] = (s_ + v, ssq_ + v * v, c_ + 1)
        sx = sum(s for s, _q, _c in segs.values())
        sxx = sum(q for _s, q, _c in segs.values())
        word = ""
        for sid in sorted(segs):
            s_, _q, c_ = segs[sid]
            z = (s_ / c_ - sx / n) / sqrt(
                max((sxx - sx * sx / n) / n, 0.000001)
            )
            word += (
                "a" if z < -0.6745 else
                "b" if z < 0.0 else
                "c" if z < 0.6745 else "d"
            )
        want.append((u, word, len(segs)))
    assert [(r[0], r[1], int(r[2])) for r in got] == want
    letters = set("".join(w for _u, w, _n in want))
    assert len(letters) >= 3  # the alphabet is genuinely exercised
    assert all(n == 8 for _u, _w, n in want)


# ---------------------------------------------------------------- DBSCAN
def test_dbscan_oracle_matches_pure_python():
    """The DBSCAN oracle must equal an independent numpy implementation
    (dense adjacency, explicit BFS components, border = min core
    neighbor's cluster) at sf0.001, and the three roles must all be
    present with textbook invariants: every border point has a core
    eps-neighbor, no noise point does, and cluster ids are the minimum
    core id of their component."""
    import duckdb

    import numpy as np

    from dblab_ece_trino_spark.operators.registry import oracle_queries
    from dblab_ece_trino_spark.operators.similarity import (
        DBSCAN_MIN_DEG,
        DBSCAN_SLICE,
        DBSCAN_T_DEN,
        DBSCAN_T_NUM,
    )

    sf = "/root/testdata/sf0.001"
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{sf}/embeddings.parquet')"
    )
    got = con.execute(oracle_queries()["sim_dbscan"]).fetchall()

    rows = con.execute(
        f"SELECT vec_id, embedding FROM embeddings WHERE vec_id < {DBSCAN_SLICE}"
        " ORDER BY vec_id"
    ).fetchall()
    ids = np.array([r[0] for r in rows])
    V = np.array([r[1] for r in rows], dtype=np.float64)
    mn, mx = V.min(), V.max()
    Q = np.floor((V - (mn + mx) / 2.0) / ((mx - mn) / 255.0) + 0.5).astype(
        np.int64
    )
    G = Q @ Q.T
    d = np.diag(G).copy()
    adj = (G > 0) & (
        DBSCAN_T_DEN * DBSCAN_T_DEN * G * G
        >= DBSCAN_T_NUM * DBSCAN_T_NUM * np.outer(d, d)
    )
    np.fill_diagonal(adj, False)
    core = adj.sum(1) >= DBSCAN_MIN_DEG
    # BFS components over core-core edges
    cluster = {int(ids[i]): -1 for i in range(len(ids))}
    seen = set()
    for i in np.nonzero(core)[0]:
        if int(ids[i]) in seen:
            continue
        comp, stack = [], [i]
        while stack:
            j = stack.pop()
            if int(ids[j]) in seen:
                continue
            seen.add(int(ids[j]))
            comp.append(j)
            for nb in np.nonzero(adj[j] & core)[0]:
                stack.append(nb)
        lab = int(min(ids[j] for j in comp))
        for j in comp:
            cluster[int(ids[j])] = lab
    want = []
    for i, vid in enumerate(ids):
        vid = int(vid)
        if core[i]:
            want.append((vid, "core", cluster[vid]))
        else:
            core_nbrs = np.nonzero(adj[i] & core)[0]
            if len(core_nbrs):
                want.append(
                    (vid, "border",
                     min(cluster[int(ids[j])] for j in core_nbrs))
                )
            else:
                want.append((vid, "noise", -1))
    assert [(r[0], r[1], int(r[2])) for r in got] == want
    roles = {r for _v, r, _c in want}
    assert roles == {"core", "border", "noise"}
    for _v, role, c in want:
        assert (c == -1) == (role == "noise")


# ------------------------------------------------------------- EXIF parse
def test_exif_parse_roundtrip_and_jpeg_transparency():
    """parse_exif must recover every planted tag from the spliced APP1
    segment on all fixtures, the Exif pixel dims must equal the true
    image geometry, and decode_jpeg must decode the APP1-carrying
    payload PIXEL-IDENTICALLY to the clean one (the marker walk skips
    APPn — metadata must never perturb pixels)."""
    import numpy as np

    from dblab_ece_trino_spark.operators.multimodal import (
        _N_JPEG,
        _exif_meta,
        _jpeg_params,
        build_exif_app1,
        decode_jpeg,
        encode_jpeg,
        parse_exif,
    )

    for i in range(_N_JPEG):
        p = _jpeg_params(i)
        clean = encode_jpeg(
            p["w"], p["h"],
            lambda x, y, i=i: ((x // 8) * 29 + (y // 8) * 17 + 16 * i) % 256,
            lambda x, y, i=i: ((x // 8) * 13 + (y // 8) * 31 + 8 * i) % 256,
            lambda x, y, i=i: ((x // 8) * 23 + (y // 8) * 11 + 24 * i) % 256,
            subsample=p["sub"], q_dc=p["q_dc"], restart_interval=p["ri"],
        )
        m = _exif_meta(i)
        app1 = build_exif_app1(
            m["make"], m["datetime"], m["orientation"], p["w"], p["h"], m["iso"]
        )
        tagged = clean[:2] + app1 + clean[2:]
        x = parse_exif(tagged)
        assert x["make"] == m["make"] and x["datetime"] == m["datetime"]
        assert x["orientation"] == m["orientation"] and x["iso"] == m["iso"]
        assert (x["pixel_w"], x["pixel_h"]) == (p["w"], p["h"])
        _w1, _h1, rgb_clean = decode_jpeg(clean)
        _w2, _h2, rgb_tagged = decode_jpeg(tagged)
        assert np.array_equal(rgb_clean, rgb_tagged), i


def test_exif_big_endian_and_rejections():
    """A hand-built big-endian (MM) EXIF block must parse (pins the
    endian dispatch against the little-endian builder), and each
    corruption class raises the documented ValueError."""
    import struct

    import pytest

    from dblab_ece_trino_spark.operators.multimodal import (
        build_exif_app1,
        parse_exif,
        tiff_ifd_tags,
    )

    # minimal MM TIFF block: one IFD with Orientation=6
    tiff = struct.pack(">2sHI", b"MM", 42, 8)
    tiff += struct.pack(">H", 1)
    tiff += struct.pack(">HHIHH", 274, 3, 1, 6, 0)
    tiff += struct.pack(">I", 0)
    body = b"Exif\x00\x00" + tiff
    jpeg = (
        b"\xff\xd8" + b"\xff\xe1" + struct.pack(">H", len(body) + 2) + body
        + b"\xff\xd9"
    )
    x = parse_exif(jpeg)
    assert x["orientation"] == 6 and x["make"] is None

    app1 = build_exif_app1("CAM", "2020:01:02 03:04:05", 1, 10, 8, 200)
    good = b"\xff\xd8" + app1 + b"\xff\xd9"
    assert parse_exif(good)["iso"] == 200
    with pytest.raises(ValueError, match="not a JPEG"):
        parse_exif(b"II*\x00" + good)
    with pytest.raises(ValueError, match="no EXIF"):
        parse_exif(b"\xff\xd8\xff\xd9")
    with pytest.raises(ValueError, match="truncated JPEG segment"):
        parse_exif(good[:-6])  # APP1 length now exceeds the payload
    bad_magic = bytearray(good)
    bad_magic[good.index(b"II*") + 2] = 0x2B
    with pytest.raises(ValueError, match="magic"):
        parse_exif(bytes(bad_magic))
    with pytest.raises(ValueError, match="read past end"):
        tiff_ifd_tags(tiff[:12], ">", 8)


# -------------------------------------------------------------- MASE eval
def test_mase_oracle_matches_pure_python():
    """The MASE backtest oracle must equal an independent pure-Python
    evaluator (dict series, explicit lag alignment) at sf0.001, with
    the cross-scaling identity mase_a * mase_b ~ 1e12 (floor-division
    loss < one ppm each way) holding per series."""
    import duckdb

    from dblab_ece_trino_spark.operators.registry import oracle_queries

    sf = "/root/testdata/sf0.001"
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf}/events.parquet')"
    )
    got = con.execute(oracle_queries()["ts_mase_eval"]).fetchall()

    rows = con.execute(
        "SELECT event_type, CAST(date_trunc('day', ts) AS DATE),"
        " sum(CAST(round(value * 100, 0) AS BIGINT))"
        " FROM events GROUP BY 1, 2 ORDER BY 1, 2"
    ).fetchall()
    # keyed by CALENDAR day: a day scores only when d-1 and d-7 both
    # exist as calendar days, never against the prior *observed* row
    series: dict = {}
    for et, d, v in rows:
        series.setdefault(et, {})[d.toordinal()] = int(v)
    want = []
    for et in sorted(series):
        vs = series[et]
        n = e1 = e7 = 0
        for t in sorted(vs):
            if (t - 1) in vs and (t - 7) in vs:
                n += 1
                e1 += abs(vs[t] - vs[t - 1])
                e7 += abs(vs[t] - vs[t - 7])
        want.append(
            (et, n, e1, e7,
             (e7 * 1_000_000) // max(e1, 1),
             (e1 * 1_000_000) // max(e7, 1))
        )
    assert [tuple(map(lambda x: x if isinstance(x, str) else int(x), r))
            for r in got] == want
    for _et, _n, e1, e7, ms, mn in want:
        assert e1 > 0 and e7 > 0
        # cross-scaling identity up to the two floor losses
        assert abs(ms * mn - 10**12) <= (ms + mn)
