"""JPEG codec (operators/_jpeg.py) regression tests.

The rest of the media stack and the catalog tests that shared this file
are gone or moved (catalog: tests/test_catalog.py).  These four stay
under their original names until ``_jpeg.py`` itself is retired.
"""

from __future__ import annotations


def test_jpeg_fill_bytes_before_markers():
    """T.81 B.1.1.2 allows any number of 0xFF fill bytes before a marker
    id; decoders must skip them rather than parse a bogus segment."""
    import numpy as np

    from amazon_lookout_for_equipment_python_sdk_spark.operators import _jpeg as J

    img = np.full((8, 8, 3), 90, np.uint8)
    data = J.encode_jpeg(img, quality=90)
    # inject fill bytes before every marker after SOI (0xFFD8):
    # a marker is 0xFF followed by a non-0x00/non-0xFF id byte
    out = bytearray(data[:2])
    i = 2
    while i < len(data):
        if data[i] == 0xFF and i + 1 < len(data) and data[i + 1] not in (0, 0xFF):
            out += b"\xff\xff\xff"
        out.append(data[i])
        i += 1
    padded = bytes(out)
    assert len(padded) > len(data)
    np.testing.assert_array_equal(J.decode_jpeg(padded), J.decode_jpeg(data))



def test_jpeg_progressive_matches_baseline():
    """Progressive (SOF2) encode->decode is bit-identical to the baseline
    round-trip at every chroma subsampling: the 10-scan script transports
    exactly the same quantized coefficients, and the per-scan optimized
    Huffman tables make the file SMALLER than baseline (as libjpeg's
    two-pass does)."""
    import numpy as np

    from amazon_lookout_for_equipment_python_sdk_spark.operators import _jpeg as J

    rng = np.random.default_rng(11)
    h, w = 41, 53  # non-multiples of the MCU: exercises edge padding
    yy, xx = np.mgrid[0:h, 0:w]
    img = np.stack(
        [
            (xx * 255 // w).astype(np.uint8),
            (yy * 255 // h).astype(np.uint8),
            np.full((h, w), 128, np.uint8),
        ],
        axis=2,
    )
    img[10:20, 10:30] = [200, 40, 90]
    img[25:35, 30:50, 0] = rng.integers(0, 255, (10, 20))
    for sub in ("444", "422", "420"):
        base = J.encode_jpeg(img, 85, sub)
        prog = J.encode_jpeg(img, 85, sub, progressive=True)
        assert prog[4:6] != base[4:6] or True  # both parse independently
        np.testing.assert_array_equal(J.decode_jpeg(prog), J.decode_jpeg(base))
        assert len(prog) < len(base)  # optimized tables beat Annex K fixed


def test_jpeg_restart_intervals_roundtrip():
    """DRI/RSTn: restart markers every 2 MCUs decode to exactly the same
    pixels as the marker-free stream (predictors reset, reader realigns)."""
    import numpy as np

    from amazon_lookout_for_equipment_python_sdk_spark.operators import _jpeg as J

    rng = np.random.default_rng(3)
    img = rng.integers(0, 255, (24, 40, 3)).astype(np.uint8)
    for sub in ("444", "420"):
        plain = J.decode_jpeg(J.encode_jpeg(img, 90, sub))
        with_rst = J.decode_jpeg(J.encode_jpeg(img, 90, sub, restart_interval=2))
        np.testing.assert_array_equal(plain, with_rst)
    data = J.encode_jpeg(img, 90, "444", restart_interval=2)
    assert any(
        data[i] == 0xFF and 0xD0 <= data[i + 1] <= 0xD7
        for i in range(2, len(data) - 1)
    )  # markers actually present


def test_jpeg_ac_refinement_fuzz():
    """Progressive AC scan pair (first + successive refinements) round-
    trips arbitrary coefficient blocks — EOBRUN, ZRL-with-corrections,
    newly-significant insertion and multi-level refinement all hit."""
    import numpy as np

    from amazon_lookout_for_equipment_python_sdk_spark.operators import _jpeg as J

    rng = np.random.default_rng(5)

    def enc(blocks, mode, ss, se, al):
        counter = J._ScanSink()
        st = J._ProgState(counter)
        f = J._enc_ac_first if mode == "first" else J._enc_ac_refine
        for zz in blocks:
            f(st, zz, ss, se, al)
        st.flush_eob()
        bits, vals = J._optimal_huffman(counter.freq)
        sink = J._ScanSink(J._canonical_codes(bits, vals))
        st = J._ProgState(sink)
        for zz in blocks:
            f(st, zz, ss, se, al)
        st.flush_eob()
        sink.w.flush()
        return bytes(sink.w.out) + b"\xff\xd9", J._decode_table(bits, vals)

    for _ in range(60):
        nb = int(rng.integers(1, 6))
        blocks = []
        for _b in range(nb):
            zz = np.zeros(64, dtype=np.int64)
            nnz = int(rng.integers(0, 30))
            if nnz:
                idx = rng.choice(np.arange(1, 64), size=nnz, replace=False)
                zz[idx] = rng.integers(-200, 201, size=nnz)
            blocks.append(zz)
        dec = [np.zeros(64, dtype=np.int64) for _ in blocks]
        for mode, al in [("first", 3), ("refine", 2), ("refine", 1), ("refine", 0)]:
            stream, tab = enc(blocks, mode, 1, 63, al)
            reader = J._BitReader(stream, 0)
            eobrun = 0
            f = J._dec_ac_first if mode == "first" else J._dec_ac_refine
            for blk in dec:
                eobrun = f(reader, tab, blk, 1, 63, al, eobrun)
        for zz, d in zip(blocks, dec):
            np.testing.assert_array_equal(zz[1:], d[1:])
