"""JPEG codec, stdlib+numpy only (no Pillow/libjpeg in-sandbox).

Scope: baseline sequential DCT (SOF0) AND progressive DCT (SOF2 —
spectral selection + successive approximation, both first and refinement
passes), 8-bit, grayscale or YCbCr at 4:4:4 / 4:2:2 / 4:2:0, Huffman
entropy coding, restart intervals.  The decoder reads quantization and
Huffman tables FROM THE FILE (DQT/DHT markers) so it decodes real-world
JPEGs, not just this encoder's output; the progressive encoder builds
per-scan OPTIMIZED Huffman tables (Annex K.2 two-pass — mandatory for
progressive, whose EOBn symbols don't fit the Kraft-saturated Annex K
fixed tables).  Only arithmetic-coded, extended-sequential (12-bit) and
lossless processes raise NotImplementedError — the Pillow swap-in seam.

Lossy by design: round trips are close (mean abs error), not equal.

Nothing in the engine imports this module any more: the media stack that
called it per payload is retired, and this codec follows it.  Nothing
here touches Spark.
"""

from __future__ import annotations

import struct

import numpy as np

# --- constants --------------------------------------------------------------

#: Annex K quantization tables (luminance, chrominance), row-major
QUANT_LUM = np.array(
    [
        16, 11, 10, 16, 24, 40, 51, 61,
        12, 12, 14, 19, 26, 58, 60, 55,
        14, 13, 16, 24, 40, 57, 69, 56,
        14, 17, 22, 29, 51, 87, 80, 62,
        18, 22, 37, 56, 68, 109, 103, 77,
        24, 35, 55, 64, 81, 104, 113, 92,
        49, 64, 78, 87, 103, 121, 120, 101,
        72, 92, 95, 98, 112, 100, 103, 99,
    ],
    dtype=np.int32,
).reshape(8, 8)

QUANT_CHROM = np.array(
    [
        17, 18, 24, 47, 99, 99, 99, 99,
        18, 21, 26, 66, 99, 99, 99, 99,
        24, 26, 56, 99, 99, 99, 99, 99,
        47, 66, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
    ],
    dtype=np.int32,
).reshape(8, 8)

#: standard Huffman specs (T.81 Annex K): (bits[1..16], symbols)
DC_LUM_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
DC_LUM_VALS = list(range(12))
DC_CHROM_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
DC_CHROM_VALS = list(range(12))
AC_LUM_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 125]
AC_LUM_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
    0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
    0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
    0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
    0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
    0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
    0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
    0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
    0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]
AC_CHROM_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 119]
AC_CHROM_VALS = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
    0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
    0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
    0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
    0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
    0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
    0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
    0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
    0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
    0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
    0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
    0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]


def _zigzag_order() -> np.ndarray:
    """The 64-entry zigzag permutation, generated (not hardcoded) by the
    diagonal walk — index i of the output holds the (row, col) rank in
    zigzag order."""
    order = sorted(
        ((r, c) for r in range(8) for c in range(8)),
        key=lambda rc: (
            rc[0] + rc[1],
            rc[1] if (rc[0] + rc[1]) % 2 == 0 else rc[0],
        ),
    )
    flat = np.empty(64, dtype=np.int64)
    for rank, (r, c) in enumerate(order):
        flat[rank] = r * 8 + c
    return flat


ZIGZAG = _zigzag_order()

#: 8x8 DCT-II basis matrix: block_dct = T @ block @ T.T
_T = np.zeros((8, 8))
for _u in range(8):
    _alpha = np.sqrt(0.25) if _u else np.sqrt(0.125)
    for _x in range(8):
        _T[_u, _x] = _alpha * np.cos((2 * _x + 1) * _u * np.pi / 16)


def _scaled_quant(table: np.ndarray, quality: int) -> np.ndarray:
    quality = min(max(int(quality), 1), 100)
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    return np.clip((table * scale + 50) // 100, 1, 255).astype(np.int32)


# --- bit IO -----------------------------------------------------------------


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, length: int) -> None:
        self.acc = (self.acc << length) | (value & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            byte = (self.acc >> (self.nbits - 8)) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:
                self.out.append(0x00)  # byte stuffing
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> None:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)


class _BitReader:
    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0

    def read_bit(self) -> int:
        if self.nbits == 0:
            b = self.data[self.pos]
            self.pos += 1
            if b == 0xFF:
                nxt = self.data[self.pos]
                if nxt == 0x00:
                    self.pos += 1  # stuffed byte
                else:
                    raise EOFError("marker inside entropy data")
            self.acc = b
            self.nbits = 8
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v


# --- Huffman ----------------------------------------------------------------


def _canonical_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length) canonical assignment."""
    codes = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


def _decode_table(bits: list[int], vals: list[int]) -> dict[tuple[int, int], int]:
    """(length, code) -> symbol lookup for the reader."""
    table = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return table


def _read_symbol(reader: _BitReader, table: dict[tuple[int, int], int]) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | reader.read_bit()
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid Huffman code")


def _magnitude(v: int) -> tuple[int, int]:
    """value -> (category, bits) per T.81 F.1.2.1 (negatives one's-comp)."""
    if v == 0:
        return 0, 0
    a = abs(v)
    cat = a.bit_length()
    bits = v if v > 0 else v + (1 << cat) - 1
    return cat, bits


def _extend(bits: int, cat: int) -> int:
    if cat == 0:
        return 0
    if bits < (1 << (cat - 1)):
        return bits - (1 << cat) + 1
    return bits


# --- encoder ----------------------------------------------------------------


def _rgb_to_ycbcr(img: np.ndarray) -> np.ndarray:
    r, g, b = img[:, :, 0], img[:, :, 1], img[:, :, 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    return np.stack([y, cb, cr], axis=2)


def _ycbcr_to_rgb(ycc: np.ndarray) -> np.ndarray:
    y, cb, cr = ycc[:, :, 0], ycc[:, :, 1] - 128.0, ycc[:, :, 2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    # round, don't truncate: a DC quantization residue of -0.1 must not
    # knock every pixel down a full level
    return np.clip(np.round(np.stack([r, g, b], axis=2)), 0, 255).astype(
        np.uint8
    )


def _encode_block(
    writer: _BitWriter,
    block: np.ndarray,
    qtab: np.ndarray,
    dc_codes: dict,
    ac_codes: dict,
    prev_dc: int,
) -> int:
    """DCT + quantize + Huffman-write one 8x8 sample block; returns the
    new DC predictor."""
    coeff = _T @ (block - 128.0) @ _T.T
    quant = np.round(coeff / qtab).astype(np.int64)
    zz = quant.reshape(-1)[ZIGZAG]
    diff = int(zz[0]) - prev_dc
    cat, bits = _magnitude(diff)
    code, length = dc_codes[cat]
    writer.write(code, length)
    if cat:
        writer.write(bits, cat)
    run = 0
    for k in range(1, 64):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            zc, zl = ac_codes[0xF0]  # ZRL
            writer.write(zc, zl)
            run -= 16
        cat, bits = _magnitude(v)
        code, length = ac_codes[(run << 4) | cat]
        writer.write(code, length)
        writer.write(bits, cat)
        run = 0
    if run:
        ec, el = ac_codes[0x00]  # EOB
        writer.write(ec, el)
    return int(zz[0])


def _pad_edge(plane: np.ndarray, ph: int, pw: int) -> np.ndarray:
    h, w = plane.shape
    out = np.empty((ph, pw))
    out[:h, :w] = plane
    out[h:, :w] = plane[h - 1 : h, :]
    out[:, w:] = out[:, w - 1 : w]
    return out


def encode_jpeg(
    img: np.ndarray,
    quality: int = 85,
    subsampling: str = "444",
    progressive: bool = False,
    restart_interval: int = 0,
) -> bytes:
    """(h, w, 3) uint8 RGB -> JFIF bytes.

    ``subsampling``: '444' (no chroma subsampling), '422' (halved
    horizontally), or '420' (halved both ways — what most real-world
    JPEGs use; ~2x smaller chroma payload).  ``progressive`` emits SOF2
    with the 10-scan spectral-selection + successive-approximation script
    and per-scan optimized Huffman tables; ``restart_interval`` (baseline
    only) inserts RSTn markers every N MCUs."""
    factors = {"444": (1, 1), "422": (2, 1), "420": (2, 2)}
    if subsampling not in factors:
        raise ValueError(f"subsampling must be one of {sorted(factors)}")
    hy, vy = factors[subsampling]
    h, w, _ = img.shape
    qlum = _scaled_quant(QUANT_LUM, quality)
    qchrom = _scaled_quant(QUANT_CHROM, quality)
    ycc = _rgb_to_ycbcr(img.astype(np.float64))
    mh, mw = 8 * vy, 8 * hy  # MCU pixel dims
    ph, pw = -(-h // mh) * mh, -(-w // mw) * mw
    ypad = _pad_edge(ycc[:, :, 0], ph, pw)
    planes = [ypad]
    for c in (1, 2):
        chroma = _pad_edge(ycc[:, :, c], ph, pw)
        # box-filter downsample by (vy, hy)
        ds = chroma.reshape(ph // vy, vy, pw // hy, hy).mean(axis=(1, 3))
        planes.append(ds)
    comp_factors = [(hy, vy), (1, 1), (1, 1)]

    enc_dc = [
        _canonical_codes(DC_LUM_BITS, DC_LUM_VALS),
        _canonical_codes(DC_CHROM_BITS, DC_CHROM_VALS),
    ]
    enc_ac = [
        _canonical_codes(AC_LUM_BITS, AC_LUM_VALS),
        _canonical_codes(AC_CHROM_BITS, AC_CHROM_VALS),
    ]

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    def dqt(tid: int, table: np.ndarray) -> bytes:
        return seg(
            0xFFDB, bytes([tid]) + bytes(int(x) for x in table.reshape(-1)[ZIGZAG])
        )

    def dht(cls: int, tid: int, bits: list[int], vals: list[int]) -> bytes:
        return seg(0xFFC4, bytes([(cls << 4) | tid]) + bytes(bits) + bytes(vals))

    samp_y = (hy << 4) | vy
    app0 = seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    comp_hdr = bytes([1, samp_y, 0, 2, 0x11, 1, 3, 0x11, 1])

    if progressive:
        sof2 = seg(0xFFC2, struct.pack(">BHHB", 8, h, w, 3) + comp_hdr)
        coefs = _coef_blocks(planes, [qlum, qchrom, qchrom])
        scans = _encode_progressive_scans(coefs, comp_factors, h, w)
        return (
            b"\xff\xd8" + app0 + dqt(0, qlum) + dqt(1, qchrom) + sof2
            + scans + b"\xff\xd9"
        )

    writer = _BitWriter()
    prev_dc = [0, 0, 0]
    mcu_n = 0
    rst = 0
    for my in range(ph // mh):
        for mx in range(pw // mw):
            if restart_interval and mcu_n and mcu_n % restart_interval == 0:
                writer.flush()  # byte-align, then the marker rides raw
                writer.out += bytes([0xFF, 0xD0 + rst])
                rst = (rst + 1) & 7
                prev_dc = [0, 0, 0]
            mcu_n += 1
            for c in range(3):
                hc, vc = comp_factors[c]
                tsel = 0 if c == 0 else 1
                qtab = qlum if c == 0 else qchrom
                for byy in range(vc):
                    for bxx in range(hc):
                        y0 = (my * vc + byy) * 8
                        x0 = (mx * hc + bxx) * 8
                        prev_dc[c] = _encode_block(
                            writer,
                            planes[c][y0 : y0 + 8, x0 : x0 + 8],
                            qtab,
                            enc_dc[tsel],
                            enc_ac[tsel],
                            prev_dc[c],
                        )
    writer.flush()

    sof = seg(0xFFC0, struct.pack(">BHHB", 8, h, w, 3) + comp_hdr)
    sos = seg(0xFFDA, bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0]))
    dri = (
        seg(0xFFDD, struct.pack(">H", restart_interval))
        if restart_interval
        else b""
    )
    return (
        b"\xff\xd8"
        + app0
        + dqt(0, qlum)
        + dqt(1, qchrom)
        + sof
        + dht(0, 0, DC_LUM_BITS, DC_LUM_VALS)
        + dht(1, 0, AC_LUM_BITS, AC_LUM_VALS)
        + dht(0, 1, DC_CHROM_BITS, DC_CHROM_VALS)
        + dht(1, 1, AC_CHROM_BITS, AC_CHROM_VALS)
        + dri
        + sos
        + bytes(writer.out)
        + b"\xff\xd9"
    )


# --- decoder ----------------------------------------------------------------


def decode_jpeg(payload: bytes) -> np.ndarray:
    """JFIF bytes -> (h, w, 3) uint8 RGB.

    Tables come from the stream's own DQT/DHT markers; 4:4:4, 4:2:2 and
    4:2:0 chroma subsampling, restart intervals, and progressive (SOF2 —
    spectral selection + successive approximation) all decode.  Raises
    NotImplementedError for arithmetic-coded, extended-sequential and
    lossless streams."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    dri = 0
    qtables: dict[int, np.ndarray] = {}
    htables: dict[tuple[int, int], dict] = {}
    frame = None
    scan_comps = None
    while pos < len(payload):
        if payload[pos] != 0xFF:
            raise ValueError(f"marker sync lost at {pos}")
        # T.81 B.1.1.2: any number of 0xFF fill bytes may precede a marker
        # id — skip them so the id (and its length field) are read from
        # the right offset.
        while pos + 1 < len(payload) and payload[pos + 1] == 0xFF:
            pos += 1
        marker = payload[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            break
        if marker == 0xC2:
            return _decode_progressive(payload)
        if marker in (0xC1, 0xC3) or 0xC9 <= marker <= 0xCB:
            raise NotImplementedError(
                "extended/lossless/arithmetic JPEG is not supported"
            )
        (ln,) = struct.unpack(">H", payload[pos : pos + 2])
        body = payload[pos + 2 : pos + ln]
        pos += ln
        if marker == 0xDB:  # DQT (possibly several tables)
            i = 0
            while i < len(body):
                prec, tid = body[i] >> 4, body[i] & 0xF
                if prec:
                    raise NotImplementedError("16-bit quant tables")
                flat = np.frombuffer(body[i + 1 : i + 65], dtype=np.uint8)
                tab = np.empty(64, dtype=np.int32)
                tab[ZIGZAG] = flat
                qtables[tid] = tab.reshape(8, 8)
                i += 65
        elif marker == 0xC4:  # DHT
            i = 0
            while i < len(body):
                cls, tid = body[i] >> 4, body[i] & 0xF
                bits = list(body[i + 1 : i + 17])
                n = sum(bits)
                vals = list(body[i + 17 : i + 17 + n])
                htables[(cls, tid)] = _decode_table(bits, vals)
                i += 17 + n
        elif marker == 0xC0:  # SOF0
            prec, h, w, nc = struct.unpack(">BHHB", body[:6])
            if prec != 8:
                raise NotImplementedError("only 8-bit JPEG")
            comps = []
            for c in range(nc):
                cid, samp, qid = body[6 + 3 * c : 9 + 3 * c]
                comps.append((cid, samp >> 4, samp & 0xF, qid))
            frame = (h, w, comps)
        elif marker == 0xDD:
            (dri,) = struct.unpack(">H", body[:2])
        elif marker == 0xDA:  # SOS
            ns = body[0]
            scan_comps = [(body[1 + 2 * c], body[2 + 2 * c]) for c in range(ns)]
            break
        # APPn/COM/etc: skipped
    if frame is None or scan_comps is None:
        raise ValueError("JPEG missing SOF0/SOS")
    h, w, comps = frame
    nc = len(comps)
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mh, mw = 8 * vmax, 8 * hmax  # MCU pixel dims
    mcuy, mcux = -(-h // mh), -(-w // mw)
    # per-component planes at native (subsampled) resolution
    planes = [
        np.zeros((mcuy * 8 * vc, mcux * 8 * hc))
        for (_cid, hc, vc, _qid) in comps
    ]
    reader = _BitReader(payload, pos)
    prev_dc = [0] * nc

    def read_block(c: int) -> np.ndarray:
        dc_tab = htables[(0, scan_comps[c][1] >> 4)]
        ac_tab = htables[(1, scan_comps[c][1] & 0xF)]
        qtab = qtables[comps[c][3]]
        zz = np.zeros(64, dtype=np.int64)
        cat = _read_symbol(reader, dc_tab)
        diff = _extend(reader.read_bits(cat), cat) if cat else 0
        prev_dc[c] += diff
        zz[0] = prev_dc[c]
        k = 1
        while k < 64:
            sym = _read_symbol(reader, ac_tab)
            if sym == 0x00:  # EOB
                break
            run, cat = sym >> 4, sym & 0xF
            if cat == 0:
                if run != 15:
                    raise ValueError("bad AC symbol")
                k += 16  # ZRL
                continue
            k += run
            if k > 63:
                raise ValueError("AC coefficient overflow")
            zz[k] = _extend(reader.read_bits(cat), cat)
            k += 1
        coeff = np.zeros(64, dtype=np.float64)
        coeff[ZIGZAG] = zz
        return _T.T @ (coeff.reshape(8, 8) * qtab) @ _T + 128.0

    mcu_n = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if dri and mcu_n and mcu_n % dri == 0:
                _consume_rst(reader)
                prev_dc[:] = [0] * nc
            mcu_n += 1
            for c in range(nc):
                _cid, hc, vc, _qid = comps[c]
                for byy in range(vc):
                    for bxx in range(hc):
                        y0 = (my * vc + byy) * 8
                        x0 = (mx * hc + bxx) * 8
                        planes[c][y0 : y0 + 8, x0 : x0 + 8] = read_block(c)
    # upsample subsampled planes to full resolution, crop padding
    full = np.empty((h, w, nc))
    for c in range(nc):
        _cid, hc, vc, _qid = comps[c]
        p = planes[c]
        if hc != hmax or vc != vmax:
            p = np.repeat(np.repeat(p, vmax // vc, axis=0), hmax // hc, axis=1)
        full[:, :, c] = p[:h, :w]
    if nc == 1:
        gray = np.clip(np.round(full[:, :, 0]), 0, 255).astype(np.uint8)
        return np.repeat(gray[:, :, None], 3, axis=2)
    return _ycbcr_to_rgb(full)


# --- progressive (SOF2) -----------------------------------------------------
#
# Spectral selection + successive approximation, both directions.  The
# encoder emits a libjpeg-style 10-scan script (DC first at Al=1, banded
# AC first passes, AC refinements down to Al=0, DC refinement) with
# per-scan OPTIMIZED Huffman tables (T.81 Annex K.2 frequency procedure —
# required: the Annex K fixed tables are Kraft-saturated and have no room
# for the EOBn end-of-band symbols progressive scans need).  Coefficients
# accumulate in per-component (by, bx, 64) int64 arrays in zigzag order
# until every scan lands, then dequantize + IDCT like the baseline path.


def _optimal_huffman(freq256: list[int]) -> tuple[list[int], list[int]]:
    """T.81 K.2-K.3: symbol frequencies -> (bits[1..16], value list).
    Reserves one phantom symbol so no real symbol gets the all-ones code;
    code lengths >16 are folded back per the Annex K.3 adjustment."""
    freq = list(freq256) + [1]  # phantom 256
    codesize = [0] * 257
    others = [-1] * 257

    def least(exclude: int) -> int | None:
        best = None
        for i in range(257):
            if freq[i] > 0 and i != exclude:
                if best is None or freq[i] < freq[best] or (
                    freq[i] == freq[best] and i > best
                ):
                    best = i
        return best

    while True:
        c1 = least(-1)
        c2 = least(c1)
        if c2 is None:
            break
        freq[c1] += freq[c2]
        freq[c2] = 0
        codesize[c1] += 1
        while others[c1] != -1:
            c1 = others[c1]
            codesize[c1] += 1
        others[c1] = c2
        codesize[c2] += 1
        while others[c2] != -1:
            c2 = others[c2]
            codesize[c2] += 1
    counts = [0] * 33
    for s in range(257):
        if codesize[s]:
            counts[min(codesize[s], 32)] += 1
    for i in range(32, 16, -1):  # K.3: fold lengths > 16
        while counts[i] > 0:
            j = i - 2
            while counts[j] == 0:
                j -= 1
            counts[i] -= 2
            counts[i - 1] += 1
            counts[j + 1] += 2
            counts[j] -= 1
    i = 16
    while counts[i] == 0:
        i -= 1
    counts[i] -= 1  # drop the phantom (it holds the longest code)
    pairs = sorted((codesize[s], s) for s in range(256) if codesize[s])
    return counts[1:17], [s for _, s in pairs]


#: EOBn ceiling the encoder uses (EOB14 covers runs to 32767 — any frame)
_MAX_EOBRUN = (1 << 14) + ((1 << 14) - 1)


class _ScanSink:
    """Emission target for one entropy scan: ``count`` mode tallies
    Huffman-symbol frequencies (the Annex K first pass), ``write`` mode
    Huffman-codes into a bit writer.  Raw bits (magnitudes, signs,
    correction bits) only exist in write mode."""

    def __init__(self, codes: dict | None = None):
        self.codes = codes
        self.freq = [0] * 256
        self.w = _BitWriter() if codes is not None else None

    def sym(self, s: int) -> None:
        if self.w is None:
            self.freq[s] += 1
        else:
            code, ln = self.codes[s]
            self.w.write(code, ln)

    def bits(self, v: int, n: int) -> None:
        if self.w is not None and n:
            self.w.write(v, n)


class _ProgState:
    """Per-scan progressive state: EOBRUN accumulation + the refinement
    correction-bit buffer (held until the next symbol, T.81 G.1.2.3)."""

    def __init__(self, sink: _ScanSink):
        self.s = sink
        self.eobrun = 0
        self.bbuf: list[int] = []

    def flush_eob(self) -> None:
        if self.eobrun > 0:
            n = self.eobrun.bit_length() - 1
            self.s.sym(n << 4)
            self.s.bits(self.eobrun - (1 << n), n)
            self.eobrun = 0
        self.drain()

    def drain(self) -> None:
        for b in self.bbuf:
            self.s.bits(b, 1)
        self.bbuf = []

    def count_eob(self) -> None:
        self.eobrun += 1
        if self.eobrun == _MAX_EOBRUN:
            self.flush_eob()


def _enc_ac_first(st: _ProgState, zz, ss: int, se: int, al: int) -> None:
    last = 0
    for k in range(ss, se + 1):
        if (abs(int(zz[k])) >> al) != 0:
            last = k
    if last == 0:
        st.count_eob()
        return
    st.flush_eob()
    run = 0
    for k in range(ss, last + 1):
        t = abs(int(zz[k])) >> al
        if t == 0:
            run += 1
            continue
        while run > 15:
            st.s.sym(0xF0)
            run -= 16
        cat, bits = _magnitude(t if int(zz[k]) > 0 else -t)
        st.s.sym((run << 4) | cat)
        st.s.bits(bits, cat)
        run = 0
    if last < se:
        st.count_eob()


def _enc_ac_refine(st: _ProgState, zz, ss: int, se: int, al: int) -> None:
    absv = [abs(int(zz[k])) >> al for k in range(ss, se + 1)]
    eob = ss - 1  # last newly-significant position this scan
    for k in range(ss, se + 1):
        if absv[k - ss] == 1:
            eob = k
    run = 0
    pend: list[int] = []  # correction bits since the last emitted symbol
    for k in range(ss, se + 1):
        t = absv[k - ss]
        if t == 0:
            run += 1
            continue
        while run > 15 and k <= eob:
            st.flush_eob()
            st.s.sym(0xF0)
            run -= 16
            for b in pend:
                st.s.bits(b, 1)
            pend = []
        if t > 1:
            pend.append(t & 1)  # history coefficient: next magnitude bit
            continue
        st.flush_eob()
        st.s.sym((run << 4) | 1)
        run = 0
        st.s.bits(1 if int(zz[k]) > 0 else 0, 1)
        for b in pend:
            st.s.bits(b, 1)
        pend = []
    if run > 0 or pend:
        st.bbuf.extend(pend)
        st.count_eob()


def _coef_blocks(planes, qtabs):
    """Forward DCT + quantize every 8x8 block of every component plane:
    list of (by, bx, 64) zigzag-ordered int64 arrays."""
    coefs = []
    for c, p in enumerate(planes):
        by, bx = p.shape[0] // 8, p.shape[1] // 8
        arr = np.zeros((by, bx, 64), dtype=np.int64)
        for y in range(by):
            for x in range(bx):
                blk = p[8 * y : 8 * y + 8, 8 * x : 8 * x + 8]
                coeff = _T @ (blk - 128.0) @ _T.T
                arr[y, x] = np.round(coeff / qtabs[c]).reshape(-1)[ZIGZAG]
        coefs.append(arr)
    return coefs


def _nonint_blocks(h: int, w: int, hc: int, vc: int, hmax: int, vmax: int):
    """Non-interleaved block-grid dims of a component (T.81 A.2.2)."""
    cw = -(-(w * hc) // hmax)
    ch = -(-(h * vc) // vmax)
    return -(-ch // 8), -(-cw // 8)


#: the encoder's scan script: (members, ss, se, ah, al); 'Y'/'C' pick the
#: luma/chroma table class.  libjpeg's default shape: approximated DC
#: first, banded luma AC, chroma AC, then refinements down to Al=0.
_PROG_SCRIPT = [
    ("all", 0, 0, 0, 1),
    ([0], 1, 5, 0, 2),
    ([1], 1, 63, 0, 1),
    ([2], 1, 63, 0, 1),
    ([0], 6, 63, 0, 2),
    ([0], 1, 63, 2, 1),
    ("all", 0, 0, 1, 0),
    ([1], 1, 63, 1, 0),
    ([2], 1, 63, 1, 0),
    ([0], 1, 63, 1, 0),
]


def _encode_progressive_scans(
    coefs, comp_factors, h_img: int, w_img: int
) -> bytes:
    """All DHT+SOS segments of the progressive scan script.  Each scan is
    encoded twice (Annex K two-pass): a counting pass builds its optimal
    Huffman table, the write pass codes with it; the table rides a DHT
    immediately before its SOS."""
    ncomp = len(coefs)
    hmax = max(f[0] for f in comp_factors)
    vmax = max(f[1] for f in comp_factors)
    mcuy, mcux = -(-h_img // (8 * vmax)), -(-w_img // (8 * hmax))
    out = bytearray()

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    def run_scan(members, ss, se, ah, al, sink: _ScanSink) -> None:
        if ss == 0 and ah == 0:  # DC first, interleaved
            prev = [0] * ncomp
            for my in range(mcuy):
                for mx in range(mcux):
                    for c in members:
                        hc, vc = comp_factors[c]
                        for byy in range(vc):
                            for bxx in range(hc):
                                dc = int(coefs[c][my * vc + byy, mx * hc + bxx, 0])
                                diff = (dc >> al) - prev[c]
                                prev[c] = dc >> al
                                cat, bits = _magnitude(diff)
                                sink.sym(cat)
                                sink.bits(bits, cat)
        elif ss == 0:  # DC refinement: one raw bit per block, no symbols
            for my in range(mcuy):
                for mx in range(mcux):
                    for c in members:
                        hc, vc = comp_factors[c]
                        for byy in range(vc):
                            for bxx in range(hc):
                                dc = int(coefs[c][my * vc + byy, mx * hc + bxx, 0])
                                sink.bits((dc >> al) & 1, 1)
        else:  # AC band: single component, non-interleaved
            (c,) = members
            st = _ProgState(sink)
            bh, bw = _nonint_blocks(h_img, w_img, *comp_factors[c], hmax, vmax)
            for y in range(bh):
                for x in range(bw):
                    if ah == 0:
                        _enc_ac_first(st, coefs[c][y, x], ss, se, al)
                    else:
                        _enc_ac_refine(st, coefs[c][y, x], ss, se, al)
            st.flush_eob()

    for members, ss, se, ah, al in _PROG_SCRIPT:
        members = list(range(ncomp)) if members == "all" else members
        if members and max(members) >= ncomp:
            continue  # grayscale: skip chroma scans
        cls = 0 if ss == 0 else 1  # DC or AC table class
        needs_table = not (ss == 0 and ah > 0)  # DC refinement is raw bits
        tid = 0
        if needs_table:
            counter = _ScanSink()
            run_scan(members, ss, se, ah, al, counter)
            if ss == 0:
                # interleaved DC: one shared table for all members
                bits_spec, vals_spec = _optimal_huffman(counter.freq)
            else:
                bits_spec, vals_spec = _optimal_huffman(counter.freq)
            out.extend(
                seg(
                    0xFFC4,
                    bytes([(cls << 4) | tid]) + bytes(bits_spec) + bytes(vals_spec),
                )
            )
            writer_sink = _ScanSink(_canonical_codes(bits_spec, vals_spec))
        else:
            writer_sink = _ScanSink({})
        run_scan(members, ss, se, ah, al, writer_sink)
        writer_sink.w.flush()
        comps_hdr = b"".join(
            bytes([c + 1, (tid << 4) | tid]) for c in members
        )
        hdr = bytes([len(members)]) + comps_hdr + bytes([ss, se, (ah << 4) | al])
        out.extend(seg(0xFFDA, hdr) + bytes(writer_sink.w.out))
    return bytes(out)


def _consume_rst(reader: _BitReader) -> None:
    """Byte-align and swallow an expected RSTn marker (T.81 E.1.4)."""
    reader.nbits = 0  # discard pad bits to the byte boundary
    d = reader.data
    if not (
        reader.pos + 1 < len(d)
        and d[reader.pos] == 0xFF
        and 0xD0 <= d[reader.pos + 1] <= 0xD7
    ):
        raise ValueError(f"expected restart marker at {reader.pos}")
    reader.pos += 2


def _dec_ac_first(reader, tab, blk, ss, se, al, eobrun) -> int:
    if eobrun > 0:
        return eobrun - 1
    k = ss
    while k <= se:
        sym = _read_symbol(reader, tab)
        run, cat = sym >> 4, sym & 0xF
        if cat == 0:
            if run == 15:
                k += 16  # ZRL
                continue
            eobrun = (1 << run) - 1
            if run:
                eobrun += reader.read_bits(run)
            return eobrun
        k += run
        if k > se:
            raise ValueError("AC coefficient past band end")
        blk[k] = _extend(reader.read_bits(cat), cat) << al
        k += 1
    return 0


def _dec_ac_refine(reader, tab, blk, ss, se, al, eobrun) -> int:
    """T.81 G.1.2.3 AC successive-approximation refinement: runs count
    only zero-history positions; passing a nonzero-history coefficient
    reads its correction bit; newly-significant coefficients arrive as
    (run, 1) symbols with a sign bit."""
    p1, m1 = 1 << al, -(1 << al)

    def correct(k: int) -> None:
        if reader.read_bit() and not (int(blk[k]) & p1):
            blk[k] += p1 if blk[k] > 0 else m1

    if eobrun > 0:
        # whole block inside an EOB run: correction bits only
        for k in range(ss, se + 1):
            if blk[k]:
                correct(k)
        return eobrun - 1
    k = ss
    while k <= se:
        sym = _read_symbol(reader, tab)
        run, cat = sym >> 4, sym & 0xF
        newval = 0
        if cat == 0:
            if run != 15:
                # EOBn: value counts THIS block plus (value-1) more
                eobrun = (1 << run) - 1
                if run:
                    eobrun += reader.read_bits(run)
                while k <= se:  # finish this block's corrections
                    if blk[k]:
                        correct(k)
                    k += 1
                return eobrun
            # ZRL: pass 16 zero-history positions
        elif cat == 1:
            newval = p1 if reader.read_bit() else m1
        else:
            raise ValueError("bad AC refinement symbol")
        while k <= se:
            if blk[k]:
                correct(k)
            else:
                if run == 0:
                    break
                run -= 1
            k += 1
        if newval and k <= se:
            blk[k] = newval
        k += 1
    return 0


def _decode_progressive(payload: bytes) -> np.ndarray:
    """SOF2 JFIF bytes -> (h, w, 3) uint8 RGB: accumulate coefficients
    across every scan, then dequantize + IDCT once."""
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    htables: dict[tuple[int, int], dict] = {}
    frame = None
    dri = 0
    coefs: list[np.ndarray] | None = None
    while pos < len(payload):
        if payload[pos] != 0xFF:
            raise ValueError(f"marker sync lost at {pos}")
        while pos + 1 < len(payload) and payload[pos + 1] == 0xFF:
            pos += 1
        marker = payload[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            break
        (ln,) = struct.unpack(">H", payload[pos : pos + 2])
        body = payload[pos + 2 : pos + ln]
        pos += ln
        if marker == 0xDB:
            i = 0
            while i < len(body):
                prec, tid = body[i] >> 4, body[i] & 0xF
                if prec:
                    raise NotImplementedError("16-bit quant tables")
                flat = np.frombuffer(body[i + 1 : i + 65], dtype=np.uint8)
                tab = np.empty(64, dtype=np.int32)
                tab[ZIGZAG] = flat
                qtables[tid] = tab.reshape(8, 8)
                i += 65
        elif marker == 0xC4:
            i = 0
            while i < len(body):
                cls, tid = body[i] >> 4, body[i] & 0xF
                bits = list(body[i + 1 : i + 17])
                n = sum(bits)
                vals = list(body[i + 17 : i + 17 + n])
                htables[(cls, tid)] = _decode_table(bits, vals)
                i += 17 + n
        elif marker == 0xC2:
            prec, h, w, nc = struct.unpack(">BHHB", body[:6])
            if prec != 8:
                raise NotImplementedError("only 8-bit JPEG")
            comps = []
            for c in range(nc):
                cid, samp, qid = body[6 + 3 * c : 9 + 3 * c]
                comps.append((cid, samp >> 4, samp & 0xF, qid))
            frame = (h, w, comps)
            hmax = max(c[1] for c in comps)
            vmax = max(c[2] for c in comps)
            mcuy, mcux = -(-h // (8 * vmax)), -(-w // (8 * hmax))
            coefs = [
                np.zeros((mcuy * vc, mcux * hc, 64), dtype=np.int64)
                for (_cid, hc, vc, _qid) in comps
            ]
        elif marker == 0xDD:
            (dri,) = struct.unpack(">H", body[:2])
        elif marker == 0xDA:
            if frame is None:
                raise ValueError("SOS before SOF2")
            ns = body[0]
            sc = [(body[1 + 2 * c], body[2 + 2 * c]) for c in range(ns)]
            ss, se = body[1 + 2 * ns], body[2 + 2 * ns]
            ah, al = body[3 + 2 * ns] >> 4, body[3 + 2 * ns] & 0xF
            pos = _decode_prog_scan(
                payload, pos, frame, coefs, htables, sc, ss, se, ah, al, dri
            )
        # APPn/COM: skipped
    if frame is None or coefs is None:
        raise ValueError("JPEG missing SOF2/scan data")
    h, w, comps = frame
    nc = len(comps)
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    full = np.empty((h, w, nc))
    for c in range(nc):
        _cid, hc, vc, qid = comps[c]
        qtab = qtables[qid]
        by, bx = coefs[c].shape[:2]
        plane = np.empty((by * 8, bx * 8))
        for y in range(by):
            for x in range(bx):
                coeff = np.zeros(64, dtype=np.float64)
                coeff[ZIGZAG] = coefs[c][y, x]
                plane[8 * y : 8 * y + 8, 8 * x : 8 * x + 8] = (
                    _T.T @ (coeff.reshape(8, 8) * qtab) @ _T + 128.0
                )
        if hc != hmax or vc != vmax:
            plane = np.repeat(
                np.repeat(plane, vmax // vc, axis=0), hmax // hc, axis=1
            )
        full[:, :, c] = plane[:h, :w]
    if nc == 1:
        gray = np.clip(np.round(full[:, :, 0]), 0, 255).astype(np.uint8)
        return np.repeat(gray[:, :, None], 3, axis=2)
    return _ycbcr_to_rgb(full)


def _decode_prog_scan(
    payload, pos, frame, coefs, htables, sc, ss, se, ah, al, dri
) -> int:
    """Entropy-decode ONE progressive scan into the coefficient arrays;
    returns the byte offset of the next marker."""
    h, w, comps = frame
    comp_idx = {cid: i for i, (cid, _hc, _vc, _qid) in enumerate(comps)}
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    reader = _BitReader(payload, pos)
    if ss == 0:
        # DC scan (first or refinement), MCU-interleaved over its members
        members = [comp_idx[cid] for cid, _t in sc]
        tsel = {comp_idx[cid]: t for cid, t in sc}
        prev = {c: 0 for c in members}
        mcuy, mcux = -(-h // (8 * vmax)), -(-w // (8 * hmax))
        unit = 0
        for my in range(mcuy):
            for mx in range(mcux):
                if dri and unit and unit % dri == 0:
                    _consume_rst(reader)
                    prev = {c: 0 for c in members}
                unit += 1
                for c in members:
                    _cid, hc, vc, _qid = comps[c]
                    for byy in range(vc):
                        for bxx in range(hc):
                            blk = coefs[c][my * vc + byy, mx * hc + bxx]
                            if ah == 0:
                                cat = _read_symbol(
                                    reader, htables[(0, tsel[c] >> 4)]
                                )
                                diff = (
                                    _extend(reader.read_bits(cat), cat)
                                    if cat
                                    else 0
                                )
                                prev[c] += diff
                                blk[0] = prev[c] << al
                            elif reader.read_bit():
                                blk[0] |= 1 << al
    else:
        # AC band scan: exactly one component, non-interleaved
        if len(sc) != 1:
            raise ValueError("progressive AC scan must be single-component")
        c = comp_idx[sc[0][0]]
        tab = htables[(1, sc[0][1] & 0xF)]
        _cid, hc, vc, _qid = comps[c]
        bh = -(-(-(-(h * vc) // vmax)) // 8)
        bw = -(-(-(-(w * hc) // hmax)) // 8)
        eobrun = 0
        unit = 0
        for y in range(bh):
            for x in range(bw):
                if dri and unit and unit % dri == 0:
                    _consume_rst(reader)
                    eobrun = 0
                unit += 1
                blk = coefs[c][y, x]
                if ah == 0:
                    eobrun = _dec_ac_first(reader, tab, blk, ss, se, al, eobrun)
                else:
                    eobrun = _dec_ac_refine(
                        reader, tab, blk, ss, se, al, eobrun
                    )
    # resume marker parsing: first 0xFF not followed by a stuffed 0x00
    p = reader.pos
    while p + 1 < len(payload) and not (
        payload[p] == 0xFF and payload[p + 1] != 0x00
    ):
        p += 1
    return p
