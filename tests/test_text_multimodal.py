"""Tests for text analysis + multimodal plumbing beyond the oracle gate."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from dblab_ece_trino_spark.operators.multimodal import CODECS
from tests.conftest import SF_SMALL


def test_rolling_fingerprint_order_sensitive(spark):
    from dblab_ece_trino_spark.operators.text import rolling_fingerprint

    df = spark.createDataFrame(
        [(1, "abc def"), (2, "def abc"), (3, "abc def")], ["doc_id", "text"]
    )
    out = {r.doc_id: r.fp for r in df.select(
        "doc_id", rolling_fingerprint(F.col("text")).alias("fp")
    ).collect()}
    assert out[1] == out[3]  # deterministic
    assert out[1] != out[2]  # order-sensitive (unlike bag-of-words hashes)


def test_language_id_prefers_marker_majority(spark):
    from dblab_ece_trino_spark.operators.text import language_id

    df = spark.createDataFrame(
        [(1, "spark hash key stream spark hash"), (2, "the a row fast table the")],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r.lang for r in df.select(
        "doc_id", language_id(F.col("text")).alias("lang")
    ).collect()}
    assert out[1] == "zh"
    assert out[2] == "en"


def test_multimodal_feature_determinism_and_batching(spark):
    from dblab_ece_trino_spark.entrypoints import engine_for
    from dblab_ece_trino_spark.operators.multimodal import (
        extract_features,
        media_from_documents,
    )

    docs = engine_for(spark, SF_SMALL).catalogs.table("lake.llm.documents")
    media = media_from_documents(docs)
    f1 = {r.media_id: tuple(r.feature) for r in extract_features(media).collect()}
    # different partitioning must not change per-row features
    f2 = {
        r.media_id: tuple(r.feature)
        for r in extract_features(media.repartition(7)).collect()
    }
    assert f1 == f2
    assert all(len(v) == 8 for v in f1.values())


def test_multimodal_decoder_stubs_marked():
    from dblab_ece_trino_spark.operators import multimodal

    with pytest.raises(NotImplementedError):
        multimodal.decode_image(b"\x89PNG")
    with pytest.raises(NotImplementedError):
        multimodal.decode_audio(b"RIFF")


def test_decode_audio_truncated_fmt_raises_value_error():
    """A RIFF payload truncated INSIDE the fmt chunk must raise the
    ValueError contract, not struct.error, during the tag peek."""
    import struct

    from dblab_ece_trino_spark.operators import multimodal

    # declared fmt size 16 but the payload ends 1 byte into the body
    trunc = b"RIFF" + struct.pack("<I", 40) + b"WAVE" + b"fmt " + struct.pack("<I", 16) + b"\x01"
    with pytest.raises(ValueError, match="truncated WAV fmt"):
        multimodal.decode_audio(trunc)
    # declared size larger than the remaining bytes (tag bytes present)
    trunc2 = (
        b"RIFF" + struct.pack("<I", 40) + b"WAVE"
        + b"fmt " + struct.pack("<I", 64) + b"\x01\x00\x01\x00"
    )
    with pytest.raises(ValueError, match="truncated WAV fmt"):
        multimodal.decode_audio(trunc2)


def test_frame_sample_expands_by_duration(spark):
    from dblab_ece_trino_spark.operators.multimodal import frame_sample

    rows = [
        (1, None, ("video", "h264", 640, 480, 3500)),
        (2, None, ("video", "h264", 640, 480, 0)),
    ]
    schema = "media_id long, payload binary, meta struct<modality:string,codec:string,width:int,height:int,duration_ms:long>"
    df = spark.createDataFrame(rows, schema)
    out = frame_sample(df, every_ms=1000).collect()
    frames = {}
    for r in out:
        frames.setdefault(r.media_id, []).append((r.frame_idx, r.ts_ms))
    assert sorted(frames[1]) == [(0, 0), (1, 1000), (2, 2000), (3, 3000)]
    assert sorted(frames[2]) == [(0, 0)]


def test_resize_rewrites_meta_and_payload(spark):
    from dblab_ece_trino_spark.operators.multimodal import (
        media_from_documents,
        resize_media,
    )

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").limit(50)
    media = media_from_documents(docs)
    out = resize_media(media, width=8, height=8).collect()
    assert len(out) == 50
    for r in out:
        assert r.meta.width == 8 and r.meta.height == 8
        assert r.meta.modality == "text"  # untouched fields preserved
        assert r.payload is not None and len(r.payload) <= 64


def test_pack_sequences_conservation_and_bounds(spark):
    """Packing must conserve total length, and a sequence never exceeds
    capacity + one straddling document (contiguous-packing bound)."""
    from dblab_ece_trino_spark.operators.text import pack_sequences

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    cap = 4096
    packed = pack_sequences(docs, capacity=cap, by="lang").collect()
    by_lang_total = {}
    for r in packed:
        by_lang_total[r.lang] = by_lang_total.get(r.lang, 0) + r.total_chars
    import pyspark.sql.functions as F

    want = {
        r.lang: r.s
        for r in docs.groupBy("lang").agg(F.sum("n_chars").alias("s")).collect()
    }
    assert by_lang_total == want  # nothing lost or duplicated
    max_doc = docs.agg(F.max("n_chars")).first()[0]
    assert all(r.total_chars <= cap + max_doc for r in packed)


def test_multimodal_decoder_injection(spark):
    """The codec seam accepts user decoders: a custom callable shipped
    through the mapInPandas closure replaces the stub (how a deployment
    with PIL/ffmpeg plugs in real decode without touching the engine)."""
    from dblab_ece_trino_spark.entrypoints import engine_for
    from dblab_ece_trino_spark.operators.multimodal import (
        extract_features,
        media_from_documents,
        resize_media,
    )
    from tests.conftest import SF_SMALL

    docs = engine_for(spark, SF_SMALL).catalogs.table("lake.llm.documents").limit(20)
    media = media_from_documents(docs)

    def my_decoder(payload):
        return [float(len(payload or b"")), 42.0]

    feats = {r.media_id: r.feature for r in extract_features(media, decoder=my_decoder).collect()}
    lens = {r.media_id: r.n_bytes for r in extract_features(media).select("media_id", "n_bytes").collect()}
    assert all(f == [float(lens[m]), 42.0] for m, f in feats.items())

    def my_resizer(payload, w, h):
        return b"RES" + (payload or b"")[:5]

    out = resize_media(media, 8, 8, resizer=my_resizer).select("payload").first()
    assert bytes(out.payload).startswith(b"RES")


def test_ppm_roundtrip_and_header_parsing():
    import numpy as np

    from dblab_ece_trino_spark.operators.multimodal import (
        decode_ppm,
        encode_ppm,
        resize_nearest,
    )

    w0, h0 = 7, 5
    payload = encode_ppm(w0, h0, lambda x, y: (x * 2, y * 3, (x + y) % 256))
    w, h, arr = decode_ppm(payload)
    assert (w, h) == (w0, h0)
    assert arr.shape == (h0, w0, 3)
    assert arr[2, 3].tolist() == [6, 6, 5]
    # comments in the header must be skipped
    with_comment = payload.replace(b"P6\n", b"P6\n# a comment\n", 1)
    w2, h2, arr2 = decode_ppm(with_comment)
    assert (w2, h2) == (w0, h0) and np.array_equal(arr, arr2)
    # nearest-neighbor downsample picks the exact source pixels
    small = resize_nearest(arr, 3, 2)
    ys, xs = [0, 2], [0, 2, 4]
    assert np.array_equal(small, arr[ys][:, xs])
    import pytest as _pytest

    with _pytest.raises(ValueError):
        decode_ppm(b"P5\n1 1\n255\n\x00")


def test_ppm_decoder_edge_cases():
    import pytest as _pytest

    from dblab_ece_trino_spark.operators.multimodal import decode_ppm, encode_ppm

    payload = encode_ppm(3, 2, lambda x, y: (x, y, 7))
    # CRLF after maxval (spec-violating but common): pixels must not shift
    crlf = payload.replace(b"255\n", b"255\r\n", 1)
    w, h, arr = decode_ppm(crlf)
    assert (w, h) == (3, 2) and arr[0, 1].tolist() == [1, 0, 7]
    # truncated pixel block raises instead of mis-shaping
    with _pytest.raises(ValueError):
        decode_ppm(payload[:-2])


def test_wav_decode_walks_extra_chunks_and_rejects_corruption():
    """The RIFF parser must skip unknown chunks between fmt and data
    (real encoders emit LIST/fact), reject truncated data, and reject
    non-mono/16-bit formats."""
    import struct

    import numpy as np
    import pytest as _pytest

    from dblab_ece_trino_spark.operators.multimodal import (
        decode_wav,
        encode_wav,
    )

    s = np.array([0, 100, -100, 32000, -32000], dtype="int16")
    payload = encode_wav(s, rate=16000)
    rate, back = decode_wav(payload)
    assert rate == 16000 and np.array_equal(back, s)

    # splice a LIST chunk between fmt and data (word-aligned odd body)
    fmt_end = 12 + 8 + 16
    extra = b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"
    spliced = payload[:fmt_end] + extra + payload[fmt_end:]
    rate2, back2 = decode_wav(spliced)
    assert rate2 == 16000 and np.array_equal(back2, s)

    with _pytest.raises(ValueError, match="truncated"):
        decode_wav(payload[:-4])
    with _pytest.raises(ValueError, match="RIFF"):
        decode_wav(b"nope" + payload[4:])
    # stereo header must be rejected
    bad = bytearray(payload)
    bad[22:24] = struct.pack("<H", 2)
    with _pytest.raises(ValueError, match="mono"):
        decode_wav(bytes(bad))


def test_bmp_roundtrip_padding_flip_and_rejection():
    """The BMP parser must honor the header's pixel offset, the 4-byte
    row stride at every padding residue, the bottom-up row order, and
    the BGR byte order; truncation and unsupported formats raise."""
    import struct

    import numpy as np
    import pytest as _pytest

    from dblab_ece_trino_spark.operators.multimodal import decode_bmp, encode_bmp

    for w0 in (17, 18, 19, 20):  # pads 1, 2, 3, 0
        payload = encode_bmp(w0, 3, lambda x, y: (x % 256, (2 * y) % 256, 9))
        w, h, arr = decode_bmp(payload)
        assert (w, h) == (w0, 3)
        assert arr[1, 5].tolist() == [5, 2, 9]  # top-down RGB restored
    payload = encode_bmp(5, 4, lambda x, y: (x, y, x + y))
    w, h, arr = decode_bmp(payload)
    assert arr[0, 0].tolist() == [0, 0, 0] and arr[3, 4].tolist() == [4, 3, 7]
    # grow the declared pixel offset: parser must read it, not assume 54
    (off,) = struct.unpack("<I", payload[10:14])
    moved = bytearray(payload[:off] + b"\xab\xcd" + payload[off:])
    moved[10:14] = struct.pack("<I", off + 2)
    _w2, _h2, arr2 = decode_bmp(bytes(moved))
    assert np.array_equal(arr, arr2)
    # top-down variant (negative height) decodes to the same array
    td = bytearray(payload)
    td[22:26] = struct.pack("<i", -4)
    stride = (3 * 5 + 3) // 4 * 4
    body = payload[off:]
    rows = [body[i * stride:(i + 1) * stride] for i in range(4)]
    td_payload = bytes(td[:off]) + b"".join(reversed(rows))
    _w3, _h3, arr3 = decode_bmp(td_payload)
    assert np.array_equal(arr, arr3)
    with _pytest.raises(ValueError, match="truncated"):
        decode_bmp(payload[:-3])
    with _pytest.raises(ValueError, match="not a BMP"):
        decode_bmp(b"XX" + payload[2:])
    bad = bytearray(payload)
    bad[28:30] = struct.pack("<H", 8)  # 8bpp palette
    with _pytest.raises(ValueError, match="24-bit"):
        decode_bmp(bytes(bad))


def test_png_roundtrip_filters_chunks_and_rejection():
    import numpy as np
    import pytest

    from dblab_ece_trino_spark.operators.multimodal import (
        decode_image,
        decode_png,
        encode_png,
    )

    # every filter type + both color types round-trip (heights >= 5 so
    # all five filters appear; width varies the Sub/Paeth left edges)
    for i in range(8):
        w, h = 13 + i % 5, 7 + i % 4
        alpha = i % 2 == 1

        def fn(x, y, i=i):
            px = (
                (x * 7 + y * 3 + i) % 256,
                (x * 5 + y * 11 + 2 * i) % 256,
                (x * 13 + y * 2 + 3 * i) % 256,
            )
            return px + ((x * 4 + y * 9 + 5 * i) % 256,) if alpha else px

        payload = encode_png(w, h, fn, alpha=alpha)
        W, H, arr = decode_png(payload)
        expect = np.array(
            [[fn(x, y) for x in range(w)] for y in range(h)], dtype=np.uint8
        )
        assert (W, H) == (w, h) and (arr == expect).all()
        # the generic seam dispatches PNG natively now
        _, _, arr2 = decode_image(payload)
        assert (arr2 == expect).all()

    # corrupted chunk body -> CRC error, not garbage pixels
    bad = bytearray(encode_png(8, 8, lambda x, y: (x, y, 7)))
    bad[40] ^= 0xFF
    with pytest.raises(ValueError, match="CRC"):
        decode_png(bytes(bad))
    with pytest.raises(ValueError, match="not a PNG"):
        decode_png(b"\x89PNX" + b"\x00" * 64)


def test_png_unfilter_against_hand_computed_spec_vector():
    """encode_png and decode_png could carry COMPLEMENTARY filter bugs
    that cancel in a round-trip; this vector breaks that symmetry.  The
    filtered scanline bytes below are computed BY HAND from the PNG
    spec's filter definitions (Sub, Up, Paeth; bpp=3) for a 3x3 RGB
    image, wrapped into a minimal chunk stream WITHOUT encode_png —
    decode_png must reproduce the original pixels from spec-derived
    bytes alone."""
    import struct
    import zlib

    import numpy as np

    from dblab_ece_trino_spark.operators.multimodal import decode_png

    pixels = np.array(
        [
            [(10, 20, 30), (60, 20, 190), (5, 7, 9)],
            [(1, 2, 3), (4, 5, 6), (250, 251, 252)],
            [(100, 100, 100), (1, 2, 3), (9, 9, 9)],
        ],
        dtype=np.uint8,
    )
    # row 0, filter 1 (Sub):   cur - left
    # row 1, filter 2 (Up):    cur - above
    # row 2, filter 4 (Paeth): cur - paeth(left, above, upleft)
    scanlines = bytes(
        [1, 10, 20, 30, 50, 0, 160, 201, 243, 75]
        + [2, 247, 238, 229, 200, 241, 72, 245, 244, 243]
        + [4, 99, 98, 97, 157, 158, 159, 15, 14, 13]
    )

    def chunk(tag: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    payload = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 3, 3, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(scanlines))
        + chunk(b"IEND", b"")
    )
    w, h, arr = decode_png(payload)
    assert (w, h) == (3, 3)
    assert (arr == pixels).all(), arr


def test_y4m_roundtrip_seek_and_rejection():
    import numpy as np
    import pytest

    from dblab_ece_trino_spark.operators.multimodal import (
        encode_y4m,
        parse_y4m_header,
        y4m_sample_frames,
    )

    for c420, w, h, nf in ((False, 7, 5, 6), (True, 16, 12, 7)):
        yf = lambda f, x, y: (x * 3 + y * 5 + f * 7) % 256
        uf = lambda f, x, y: (x * 2 + y * 9 + f * 4) % 256
        vf = lambda f, x, y: (x * 11 + y * 6 + f * 3) % 256
        payload = encode_y4m(w, h, nf, yf, uf, vf, c420=c420)
        W, H, num, den, is420, _ = parse_y4m_header(payload)
        assert (W, H, num, den, is420) == (w, h, 25, 1, c420)
        cw, chh = (w // 2, h // 2) if c420 else (w, h)
        # full decode matches the formulas on every frame
        frames = list(y4m_sample_frames(payload, every=1))
        assert [f for f, *_ in frames] == list(range(nf))
        for f, yp, up, vp in frames:
            assert (yp == np.array(
                [[yf(f, x, y) for x in range(w)] for y in range(h)], dtype=np.uint8
            )).all()
            assert (up == np.array(
                [[uf(f, x, y) for x in range(cw)] for y in range(chh)],
                dtype=np.uint8,
            )).all()
            assert (vp == np.array(
                [[vf(f, x, y) for x in range(cw)] for y in range(chh)],
                dtype=np.uint8,
            )).all()
        # stride-seek sampling == slicing the full decode
        sampled = list(y4m_sample_frames(payload, every=3))
        assert [(f, yp.tobytes()) for f, yp, _, _ in sampled] == [
            (f, yp.tobytes()) for f, yp, _, _ in frames if f % 3 == 0
        ]

    base = encode_y4m(4, 4, 3, yf, uf, vf)
    with pytest.raises(ValueError, match="truncated"):
        list(y4m_sample_frames(base[:-5]))
    with pytest.raises(ValueError, match="not a YUV4MPEG2"):
        parse_y4m_header(b"JUNK4MPEG2 W4 H4\n")
    with pytest.raises(ValueError, match="unsupported chroma"):
        parse_y4m_header(b"YUV4MPEG2 W4 H4 F25:1 C422\n" + b"\x00" * 64)
    with pytest.raises(ValueError, match="C420 requires even"):
        encode_y4m(5, 4, 1, yf, uf, vf, c420=True)
    # a parameterized FRAME header is legal y4m but variable-stride:
    # must refuse rather than misread planes
    hdr_len = base.find(b"\n") + 1
    param = base[:hdr_len] + b"FRAME Xtag\n" + base[hdr_len + 6 :]
    with pytest.raises(ValueError, match="FRAME"):
        list(y4m_sample_frames(param))


def test_y4m_decode_hand_built_bytes():
    """Decoder vs a stream assembled BY HAND (no encode_y4m): a 2x2
    C444 stream with two frames whose plane bytes are written out
    literally, plus fps/interlace/aspect/unknown-X tags in the header
    that the parser must skip per spec."""
    import numpy as np

    from dblab_ece_trino_spark.operators.multimodal import (
        parse_y4m_header,
        y4m_sample_frames,
    )

    payload = (
        b"YUV4MPEG2 W2 H2 F30000:1001 It A4:3 XCOLORRANGE=FULL C444\n"
        b"FRAME\n"
        + bytes([1, 2, 3, 4])      # Y frame 0: rows (1,2),(3,4)
        + bytes([10, 20, 30, 40])  # U
        + bytes([5, 6, 7, 8])      # V
        + b"FRAME\n"
        + bytes([9, 9, 9, 9])
        + bytes([0, 255, 0, 255])
        + bytes([100, 101, 102, 103])
    )
    w, h, num, den, c420, _ = parse_y4m_header(payload)
    assert (w, h, num, den, c420) == (2, 2, 30000, 1001, False)
    frames = list(y4m_sample_frames(payload))
    assert len(frames) == 2
    f0, y0, u0, v0 = frames[0]
    assert f0 == 0
    assert (y0 == np.array([[1, 2], [3, 4]], dtype=np.uint8)).all()
    assert (u0 == np.array([[10, 20], [30, 40]], dtype=np.uint8)).all()
    assert (v0 == np.array([[5, 6], [7, 8]], dtype=np.uint8)).all()
    f1, y1, u1, v1 = frames[1]
    assert f1 == 1 and (y1 == 9).all()
    assert (u1 == np.array([[0, 255], [0, 255]], dtype=np.uint8)).all()
    assert (v1 == np.array([[100, 101], [102, 103]], dtype=np.uint8)).all()


def test_gif_roundtrip_interlace_growth_and_rejection():
    import numpy as np
    import pytest

    from dblab_ece_trino_spark.operators.multimodal import (
        decode_gif,
        decode_image,
        encode_gif,
    )

    # palette sizes 4..256 (every LZW min-code-size), both scan orders
    for i in range(8):
        bits = 2 + i % 7
        p = 1 << bits
        w, h = 9 + 3 * (i % 5), 7 + 2 * (i % 4)
        idx = lambda x, y, i=i, p=p: (x * 3 + y * 5 + i) % p
        pal = lambda j, i=i: ((j * 7 + i) % 256, (j * 11 + 2 * i) % 256,
                              (j * 13 + 3 * i) % 256)
        payload = encode_gif(w, h, bits, idx, pal, interlace=i % 2 == 1)
        W, H, arr = decode_gif(payload)
        expect = np.array(
            [[pal(idx(x, y)) for x in range(w)] for y in range(h)],
            dtype=np.uint8,
        )
        assert (W, H) == (w, h) and (arr == expect).all()
        _, _, arr2 = decode_image(payload)  # seam dispatches GIF natively
        assert (arr2 == expect).all()

    # dictionary growth to the 12-bit ceiling + clear-code reset: a big
    # 256-color gradient forces width 9->12 and at least one reset, and
    # LZW must actually compress it
    big = encode_gif(
        200, 120, 8,
        lambda x, y: (x * x + 3 * y) % 256,
        lambda j: (j, (j * 2) % 256, (j * 3) % 256),
    )
    W, H, arr = decode_gif(big)
    exp = np.array(
        [[((x * x + 3 * y) % 256) for x in range(200)] for y in range(120)]
    )
    assert (arr[:, :, 0] == exp).all()
    # and on a repetitive image the dictionary must genuinely compress
    flat = encode_gif(
        200, 120, 8,
        lambda x, y: (y * 4) % 256,
        lambda j: (j, (j * 2) % 256, (j * 3) % 256),
    )
    _, _, arr_flat = decode_gif(flat)
    assert (arr_flat[:, :, 0] == np.array(
        [[(y * 4) % 256] * 200 for y in range(120)])).all()
    assert len(flat) < 200 * 120 // 5  # constant rows compress >5x
    # (the fixed 768-byte global color table is part of the payload)

    with pytest.raises(ValueError, match="not a GIF"):
        decode_gif(b"GIF88a" + b"\x00" * 32)
    trunc = bytearray(encode_gif(8, 8, 2, lambda x, y: 0, lambda j: (j, j, j)))
    with pytest.raises(ValueError, match="truncated"):
        decode_gif(bytes(trunc[:-6]))


def test_gif_decode_hand_packed_lzw_spec_vector():
    """Decoder vs a BYTE-LEVEL hand construction (no encode_gif): the
    LZW codes for index stream [1,1,1,1] at min-code-size 2 are derived
    by hand per the GIF89a spec — CLEAR(4), 1, 6 (the KwKwK case: code
    6 is assigned *by this very emission*), 1, END(5), all 3-bit,
    LSB-first packed into 0x8C 0x53 — wrapped in a hand-written header
    with a graphic-control extension block the parser must skip.  A
    complementary compressor/decompressor bug pair cannot survive
    this."""
    import numpy as np

    from dblab_ece_trino_spark.operators.multimodal import decode_gif

    payload = (
        b"GIF89a"
        + b"\x04\x00\x01\x00"      # 4x1 logical screen
        + b"\x81\x00\x00"          # global table, 4 colors
        + bytes([0, 0, 0, 10, 20, 30, 40, 50, 60, 70, 80, 90])
        + b"\x21\xf9\x04\x00\x00\x00\x00\x00"  # GCE extension: skipped
        + b"\x2c" + b"\x00\x00\x00\x00\x04\x00\x01\x00" + b"\x00"
        + b"\x02"                  # LZW min code size
        + b"\x02\x8c\x53"          # one 2-byte sub-block (hand-packed)
        + b"\x00\x3b"
    )
    w, h, arr = decode_gif(payload)
    assert (w, h) == (4, 1)
    assert (arr == np.array([[[10, 20, 30]] * 4], dtype=np.uint8)).all()


def test_gif_lzw_against_independent_decoder():
    """encode_gif's LZW vs an INDEPENDENT dict-based decompressor
    written here from the spec (different structure from the shipped
    list-based one): random-ish formula index streams across every
    min-code-size, including streams long enough to hit the 4096-entry
    reset."""
    from dblab_ece_trino_spark.operators.multimodal import (
        _lzw_compress,
        _lzw_decompress,
    )

    def independent_decompress(data, mcs, expect):
        clear, end = 1 << mcs, (1 << mcs) + 1
        buf = nb = pos = 0
        width = mcs + 1
        table = {i: bytes([i]) for i in range(clear)}
        nxt = end + 1
        out = b""
        prev = None
        while len(out) < expect:
            while nb < width:
                buf |= data[pos] << nb
                pos += 1
                nb += 8
            c = buf & ((1 << width) - 1)
            buf >>= width
            nb -= width
            if c == clear:
                table = {i: bytes([i]) for i in range(clear)}
                nxt, width, prev = end + 1, mcs + 1, None
                continue
            if c == end:
                break
            if prev is None:
                entry = table[c]
            elif c in table:
                entry = table[c]
                table[nxt] = prev + entry[:1]
                nxt += 1
            else:
                assert c == nxt
                entry = prev + prev[:1]
                table[nxt] = entry
                nxt += 1
            if nxt + 2 - 2 == (1 << width) and width < 12:
                width += 1
            out += entry
            prev = entry
        return out[:expect]

    for mcs in range(2, 9):
        p = 1 << mcs
        stream = bytes((x * x + 7 * x + 3) % p for x in range(20000))
        comp = _lzw_compress(stream, mcs)
        assert independent_decompress(comp, mcs, len(stream)) == stream
        assert _lzw_decompress(comp, mcs, len(stream)) == stream


def test_codec_truncation_raises_valueerror_not_internal_errors():
    """ADVICE r7: a payload truncated mid-structure must surface as the
    documented ValueError, never struct.error (PNG short CRC slice) or
    IndexError (GIF extension-skip loop walking past end)."""
    import pytest

    from dblab_ece_trino_spark.operators.multimodal import (
        decode_gif,
        decode_png,
        encode_gif,
        encode_png,
    )

    png = encode_png(8, 8, lambda x, y: (x, y, 7))
    # cut inside a chunk body (and inside the trailing CRC) at several
    # offsets past the signature + IHDR
    for cut in (34, len(png) - 3, len(png) - 15):
        with pytest.raises(ValueError, match="truncated PNG"):
            decode_png(png[:cut])

    gif = bytearray(encode_gif(8, 8, 2, lambda x, y: 0, lambda j: (j, j, j)))
    # graft an extension introducer + label, then cut mid-sub-block so
    # the skip loop would previously IndexError off the end
    truncated_ext = bytes(gif[:13 + 12]) + b"\x21\xf9\x04\x00\x00"
    with pytest.raises(ValueError, match="truncated GIF extension"):
        decode_gif(truncated_ext)
    with pytest.raises(ValueError, match="truncated GIF"):
        decode_gif(bytes(gif[:13 + 6]))  # cut inside the color table


def test_gif_full_metadata_survives_extension_before_descriptor():
    """ADVICE r7: n_colors/interlaced must come from the decoder's block
    walk, not offset math that assumes the image descriptor immediately
    follows the global color table.  A legal GIF89a with a GCE before
    the descriptor must still report the right interlace flag."""
    from dblab_ece_trino_spark.operators.multimodal import (
        decode_gif_full,
        encode_gif,
    )

    plain = encode_gif(
        9, 7, 3, lambda x, y: (x + y) % 8,
        lambda j: (j, 2 * j % 256, 3 * j % 256), interlace=True,
    )
    # splice a Graphics Control Extension between the global color
    # table (13 + 3*8 bytes) and the image descriptor
    split = 13 + 3 * 8
    gce = b"\x21\xf9\x04\x00\x00\x00\x00\x00"
    spliced = plain[:split] + gce + plain[split:]
    for payload in (plain, spliced):
        w, h, _arr, n_colors, interlaced = decode_gif_full(payload)
        assert (w, h, n_colors, interlaced) == (9, 7, 8, 1)
    import numpy as np

    a_plain = decode_gif_full(plain)[2]
    a_spliced = decode_gif_full(spliced)[2]
    assert (a_plain == a_spliced).all()


def test_jpeg_blockconstant_exactness_and_seam():
    """The graded fixture's exactness contract, asserted directly:
    block-constant YCbCr + divisor-of-8 DC quant steps decode
    BIT-EXACTLY to the closed-form formulas (the oracle never sees a
    byte; this is the numpy-side proof), across 4:4:4/4:2:0, quant
    steps 1/2/4/8, restart markers, and non-multiple-of-8 dims."""
    import numpy as np

    from dblab_ece_trino_spark.operators.multimodal import (
        _jpeg_params,
        decode_image,
        decode_jpeg,
        encode_jpeg,
    )

    for i in range(12):
        p = _jpeg_params(i)
        w, h, sub = p["w"], p["h"], p["sub"]
        payload = encode_jpeg(
            w, h,
            lambda x, y, i=i: ((x // 8) * 29 + (y // 8) * 17 + 16 * i) % 256,
            lambda x, y, i=i: ((x // 8) * 13 + (y // 8) * 31 + 8 * i) % 256,
            lambda x, y, i=i: ((x // 8) * 23 + (y // 8) * 11 + 24 * i) % 256,
            subsample=sub, q_dc=p["q_dc"], restart_interval=p["ri"],
        )
        W, H, arr = decode_jpeg(payload)
        assert (W, H) == (w, h)
        s = 2 if sub else 1
        xs, ys = np.arange(w), np.arange(h)
        yv = ((xs[None, :] // 8) * 29 + (ys[:, None] // 8) * 17 + 16 * i) % 256
        cb = ((xs[None, :] // (8 * s)) * 13 + (ys[:, None] // (8 * s)) * 31 + 8 * i) % 256
        cr = ((xs[None, :] // (8 * s)) * 23 + (ys[:, None] // (8 * s)) * 11 + 24 * i) % 256
        exp = np.stack(
            [
                np.clip(np.floor(yv + 1.402 * (cr - 128.0) + 0.5), 0, 255),
                np.clip(np.floor(yv - 0.344136 * (cb - 128.0)
                                 - 0.714136 * (cr - 128.0) + 0.5), 0, 255),
                np.clip(np.floor(yv + 1.772 * (cb - 128.0) + 0.5), 0, 255),
            ],
            axis=2,
        ).astype(np.uint8)
        assert (arr == exp).all(), i
        _, _, arr2 = decode_image(payload)  # seam dispatches JPEG natively
        assert (arr2 == exp).all()


def test_jpeg_hand_built_mcu_spec_vector():
    """Decoder vs a BYTE-LEVEL hand construction (no encode_jpeg): a
    grayscale 8x8 baseline JPEG with CUSTOM tiny Huffman tables.  The
    entropy bytes 0x2B 0x2F are packed BY HAND: DC symbol 3 (code 00) +
    magnitude '101' (diff=+5), AC symbol 0x04 (code 0) + magnitude
    '1100' (coef +12 at zigzag index 1), EOB (code 10), 1-padded ->
    0b00101011 0b00101111.  Expected
    pixels come from the T.81 IDCT formula evaluated with an explicit
    double loop here — fully independent of the codec's matrices.  A
    complementary encoder/decoder bug pair cannot survive this."""
    import math
    import struct

    import numpy as np

    from dblab_ece_trino_spark.operators.multimodal import decode_jpeg

    payload = (
        b"\xff\xd8"                                    # SOI
        + b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + b"\x01" * 64
        + b"\xff\xc0" + struct.pack(">H", 11) + b"\x08"
        + struct.pack(">HH", 8, 8) + b"\x01" + bytes([1, 0x11, 0])
        # DC table 0: single length-2 code 00 -> symbol 3 (category 3)
        + b"\xff\xc4" + struct.pack(">H", 20)
        + b"\x00" + bytes([0, 1] + [0] * 14) + bytes([3])
        # AC table 0: len-1 code 0 -> 0x04 (run 0, size 4);
        #             len-2 code 10 -> 0x00 (EOB)
        + b"\xff\xc4" + struct.pack(">H", 21)
        + b"\x10" + bytes([1, 1] + [0] * 14) + bytes([0x04, 0x00])
        + b"\xff\xda" + struct.pack(">H", 8) + b"\x01" + bytes([1, 0x00])
        + b"\x00\x3f\x00"
        + bytes([0b00101011, 0b00101111])              # hand-packed MCU
        + b"\xff\xd9"                                  # EOI
    )
    w, h, arr = decode_jpeg(payload)
    assert (w, h) == (8, 8)
    # independent IDCT: F[0,0] = 5 (DC), F[0,1] = 12 (first horizontal AC)
    def c(u):
        return 1.0 / math.sqrt(2.0) if u == 0 else 1.0

    exp = np.zeros((8, 8), dtype=np.int64)
    for yy in range(8):
        for xx in range(8):
            v = 0.0
            for (u, vv, coef) in ((0, 0, 5.0), (0, 1, 12.0)):
                v += (
                    0.25 * c(u) * c(vv) * coef
                    * math.cos((2 * yy + 1) * u * math.pi / 16.0)
                    * math.cos((2 * xx + 1) * vv * math.pi / 16.0)
                )
            exp[yy, xx] = min(max(int(math.floor(v + 128.0 + 0.5)), 0), 255)
    assert (arr[:, :, 0].astype(np.int64) == exp).all()
    assert (arr[:, :, 1] == arr[:, :, 0]).all()  # grayscale replication
    # the AC coefficient must make the block vary HORIZONTALLY only
    assert (exp[0] != exp[0][::-1]).any() and (exp[:, 0] == exp[0, 0]).all()


def test_jpeg_roundtrip_tolerance_and_rejection():
    """Real lossy path on smooth gradients (flat-1 quant tables):
    reconstruction error bounded by DCT quantization roundoff.  Plus
    loud rejection: progressive SOF2 by name, 12-bit precision,
    truncated entropy stream, corrupted restart marker, non-JPEG."""
    import struct

    import numpy as np
    import pytest

    from dblab_ece_trino_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg,
    )

    w, h = 36, 28
    yf = lambda x, y: (3 * x + 5 * y) % 256
    cbf = lambda x, y: (7 * x + 2 * y) % 256
    crf = lambda x, y: (x + 11 * y) % 256
    for sub in (False, True):
        payload = encode_jpeg(w, h, yf, cbf, crf, subsample=sub)
        _W, _H, arr = decode_jpeg(payload)
        s = 2 if sub else 1
        xs, ys = np.arange(w), np.arange(h)
        yv = (3 * xs[None, :] + 5 * ys[:, None]) % 256
        cb = (7 * (xs[None, :] // s) + 2 * (ys[:, None] // s)) % 256
        cr = ((xs[None, :] // s) + 11 * (ys[:, None] // s)) % 256
        exp = np.stack(
            [
                yv + 1.402 * (cr - 128.0),
                yv - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0),
                yv + 1.772 * (cb - 128.0),
            ],
            axis=2,
        )
        exp = np.clip(np.floor(exp + 0.5), 0, 255)
        err = np.abs(arr.astype(np.float64) - exp)
        assert err.max() <= 4 and err.mean() <= 1.0, (sub, err.max(), err.mean())

    payload = encode_jpeg(w, h, yf, cbf, crf, restart_interval=2)
    # patch SOF0 marker to SOF2 -> progressive rejection by name
    sof = bytearray(payload)
    at = sof.index(b"\xff\xc0")
    sof[at + 1] = 0xC2
    with pytest.raises(ValueError, match="progressive"):
        decode_jpeg(bytes(sof))
    # 12-bit precision
    prec = bytearray(payload)
    prec[at + 4] = 12
    with pytest.raises(ValueError, match="12-bit"):
        decode_jpeg(bytes(prec))
    # truncated entropy stream
    with pytest.raises(ValueError, match="truncated JPEG"):
        decode_jpeg(payload[: len(payload) - 40])
    # corrupted restart marker
    bad = bytearray(payload)
    rst_at = bad.index(b"\xff\xd0")
    bad[rst_at + 1] = 0xD5
    with pytest.raises(ValueError, match="RST|marker"):
        decode_jpeg(bytes(bad))
    with pytest.raises(ValueError, match="not a JPEG"):
        decode_jpeg(b"\x89JPG" + b"\x00" * 32)


def test_jpeg_malformed_segments_raise_valueerror_and_fill_bytes_ok():
    """Round-8 advice closure: length-consistent-but-internally-short
    DQT/SOF0/DHT bodies must raise the documented ValueError (never
    IndexError/struct.error), and legal pre-SOS noise — 0xFF fill
    bytes, a standalone TEM marker — must be skipped, not parsed as a
    length-prefixed segment."""
    import struct

    import numpy as np
    import pytest

    from dblab_ece_trino_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg,
    )

    w, h = 24, 16
    yf = lambda x, y: (5 * x + y) % 256
    cbf = lambda x, y: (2 * x + 3 * y) % 256
    crf = lambda x, y: (x + 7 * y) % 256
    payload = encode_jpeg(w, h, yf, cbf, crf)
    ref = decode_jpeg(payload)

    def seg_at(marker: bytes) -> int:
        return payload.index(marker)

    # DQT body shorter than 65*k: shrink the declared length to cut the
    # 65-byte table entry short (keeps pos+2+seglen in bounds).
    at = seg_at(b"\xff\xdb")
    bad = bytearray(payload)
    struct.pack_into(">H", bad, at + 2, 40)
    with pytest.raises(ValueError, match="truncated JPEG segment"):
        decode_jpeg(bytes(bad))
    # SOF0 claiming more components than the segment carries
    at = seg_at(b"\xff\xc0")
    bad = bytearray(payload)
    bad[at + 2 + 2 + 5] = 9  # nc = 9 but body only has 3 component slots
    with pytest.raises(ValueError, match="truncated JPEG segment"):
        decode_jpeg(bytes(bad))
    # DHT whose bits[] sum exceeds the remaining body
    at = seg_at(b"\xff\xc4")
    bad = bytearray(payload)
    bad[at + 5] = 250  # inflate the count of 1-bit codes past the body
    with pytest.raises(ValueError, match="truncated JPEG segment"):
        decode_jpeg(bytes(bad))
    # SOS header shorter than 1 + 2*ns
    at = seg_at(b"\xff\xda")
    bad = bytearray(payload)
    bad[at + 4] = 5  # ns = 5 but only 3 component slots follow
    with pytest.raises(ValueError, match="truncated JPEG segment"):
        decode_jpeg(bytes(bad))

    # Legal pre-SOS noise: fill bytes + TEM + a stray RST before DQT.
    at = seg_at(b"\xff\xdb")
    noisy = payload[:at] + b"\xff\xff\xff\x01\xff\xd3" + payload[at:]
    w2, h2, arr2 = decode_jpeg(noisy)
    assert (w2, h2) == ref[:2]
    assert np.array_equal(arr2, ref[2])


# ------------------------------------------------------- codec spec table
@pytest.mark.parametrize("name", list(CODECS))
def test_codec_entry_runs_one_python_operator_in_one_task(spark, name):
    """Every codec row generates and decodes in ONE Python operator over
    ONE partition, so the sort needs no exchange.  Fingerprint rows are
    checked at their fingerprint frame; the pair stage joins it."""
    from dblab_ece_trino_spark.operators.multimodal import codec_frame
    from dblab_ece_trino_spark.operators.registry import spark_queries

    spec = CODECS[name]
    df = (
        codec_frame(spark, spec) if spec.pairs
        else spark_queries()[name](spark, SF_SMALL)
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"\bMapInPandas\b", plan)) == 1, plan
    assert "Exchange" not in plan, plan
    assert re.search(r"\bRange \(0, \d+, step=1, splits=1\)", plan), plan


def test_codec_table_covers_every_media_entry():
    """Every registered multimodal_* entry and both image-hash entries
    run through the codec table, except the three document-backed
    plumbing entries."""
    from dblab_ece_trino_spark.operators.registry import spark_queries

    media = {n for n in spark_queries() if n.startswith("multimodal_")}
    media |= {"dedup_image_ahash", "dedup_image_phash"}
    doc_backed = {
        "multimodal_features", "multimodal_frame_sample", "multimodal_resize",
    }
    assert media - doc_backed == set(CODECS)
    assert not doc_backed & set(CODECS)

