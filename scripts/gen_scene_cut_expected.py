"""Generate the pinned expected statistics for the multimodal_scene_cut
graded entry — with an INDEPENDENT sequential Y4M walker and a scalar
SAD loop.

This module deliberately re-implements the YUV4MPEG2 read path from the
public spec without importing any decode code from the engine: it scans
the stream marker-by-marker (the engine stride-seeks), slices planes
with plain byte arithmetic, and accumulates |dY| pixel-by-pixel in pure
Python ints (the engine vectorizes in numpy).  The only shared pieces
are the fixture DEFINITIONS (params + plane formulas + encoder),
because the payload bytes are the object under test.  The engine's
detector and this one must agree exactly; tests/test_round9_ops.py
asserts that, plus the scene-structure ground truth (cuts at exactly
the scene boundaries the fixture formula plants).

Run: PYTHONPATH=. python3 scripts/gen_scene_cut_expected.py
Prints the `_SCENE_EXPECTED` literal for operators/multimodal.py.
"""
from __future__ import annotations


def ref_scene_stats(payload: bytes, thr: int) -> tuple:
    """Sequential parse + scalar SAD: returns (width, height, n_frames,
    n_cuts, first_cut, sad_sum, sad_max)."""
    nl = payload.index(b"\n")
    header = payload[:nl].decode("ascii")
    assert header.startswith("YUV4MPEG2 ")
    width = height = None
    c420 = False
    for tok in header.split(" ")[1:]:
        if tok.startswith("W"):
            width = int(tok[1:])
        elif tok.startswith("H"):
            height = int(tok[1:])
        elif tok.startswith("C"):
            c420 = tok[1:] in ("420jpeg", "420")
    assert width and height
    cw, chh = (width // 2, height // 2) if c420 else (width, height)
    ybytes, cbytes = width * height, cw * chh
    pos = nl + 1
    prev = None
    n_frames = n_cuts = 0
    first_cut = -1
    sad_sum = sad_max = 0
    while pos < len(payload):
        assert payload[pos : pos + 6] == b"FRAME\n", pos
        pos += 6
        yplane = payload[pos : pos + ybytes]
        pos += ybytes + 2 * cbytes
        n_frames += 1
        if prev is not None:
            sad = 0
            for a, b in zip(yplane, prev):
                sad += a - b if a >= b else b - a
            sad_sum += sad
            if sad > sad_max:
                sad_max = sad
            if sad > thr * ybytes:
                n_cuts += 1
                if first_cut < 0:
                    first_cut = n_frames - 1
        prev = yplane
    return width, height, n_frames, n_cuts, first_cut, sad_sum, sad_max


def expected_rows() -> list:
    from dblab_ece_trino_spark.operators.multimodal import (
        _N_SCENE,
        _SCENE_PARAMS,
        SCENE_CUT_MAD,
        _scene_y,
        encode_y4m,
    )

    rows = []
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
        rows.append((i,) + ref_scene_stats(payload, SCENE_CUT_MAD))
    return rows


def main() -> None:
    print("_SCENE_EXPECTED = [")
    for r in expected_rows():
        print(f"    {r!r},")
    print("]")


if __name__ == "__main__":
    main()
