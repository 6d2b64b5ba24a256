"""Pure-Python/numpy baseline JPEG codec for the multimodal operators.

The container has no codec libraries (no PIL / libjpeg / opencv), but
baseline-sequential JPEG (ITU-T T.81 SOF0/SOF1) needs nothing outside
integer Huffman coding and an 8x8 DCT — both expressible in
stdlib + numpy — so JPEG pixel decode does not have to stay
environment-blocked:

- :func:`decode_jpeg` is a complete decoder for baseline and extended
  sequential Huffman JPEGs: marker walk (DQT/DHT/SOF/DRI/SOS),
  byte-unstuffing, per-block Huffman entropy decode with restart
  markers, vectorized dequantize + IDCT over all blocks of a
  component at once, arbitrary h/v sampling factor upsampling, and
  the JFIF YCbCr→RGB transform. Progressive (SOF2), lossless,
  arithmetic-coded, 12-bit, and CMYK streams raise
  NotImplementedError with the reason — those genuinely need a wider
  codec surface than a training-data pipeline's decode filter.
- :func:`encode_jpeg` is a minimal baseline encoder (Annex K quant +
  Huffman tables, optional 4:2:0 chroma subsampling, optional caller
  quant tables) used to build test payloads and the oracle-exact
  flat-block arm: with an all-ones quantization table, an image made
  of flat 8x8 blocks round-trips EXACTLY (every DCT coefficient of a
  flat block is the integer (g-128)*8 at DC and 0 elsewhere), which
  turns the whole entropy pipeline into a value-verifiable function.

Deterministic by construction: integer Huffman paths end in a single
float IDCT whose inputs are integers and whose outputs are rounded
half-away-from-zero before the uint8 clip.

Parity note: the reference engine (R/dbplyr, fishvice/mfdb-hafro-etl)
has no media path at all — this module belongs to the LLM-pipeline
extension surface (multimodal binary columns), same contract as
imagecodec.py.
"""

from __future__ import annotations

import struct

import numpy as np

# -- tables -----------------------------------------------------------

#: zigzag scan order: ZIGZAG[k] = natural (row-major) index of the
#: k-th coefficient in zigzag order (T.81 Figure A.6)
ZIGZAG = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
    ],
    dtype=np.int64,
)

#: Annex K.1 luminance / K.2 chrominance quantization tables (zigzag)
QUANT_LUM = np.array(
    [
        16, 11, 12, 14, 12, 10, 16, 14, 13, 14, 18, 17, 16, 19, 24, 40,
        26, 24, 22, 22, 24, 49, 35, 37, 29, 40, 58, 51, 61, 60, 57, 51,
        56, 55, 64, 72, 92, 78, 64, 68, 87, 69, 55, 56, 80, 109, 81, 87,
        95, 98, 103, 104, 103, 62, 77, 113, 121, 112, 100, 120, 92, 101,
        103, 99,
    ],
    dtype=np.int64,
)
QUANT_CHROM = np.array(
    [
        17, 18, 18, 24, 21, 24, 47, 26, 26, 47, 99, 66, 56, 66, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
    ],
    dtype=np.int64,
)

# Annex K.3 standard Huffman tables: (bits[1..16], huffval)
_DC_LUM = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
_DC_CHROM = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
_AC_LUM = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 125],
    [
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
    ],
)
_AC_CHROM = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 119],
    [
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
    ],
)

#: DCT-II basis: _DCT_A[u, x] = c(u)/2 * cos((2x+1) u pi / 16).
#: forward: C = A @ (block-128) @ A.T ; inverse: block = A.T @ C @ A + 128
_DCT_A = np.array(
    [
        [
            (np.sqrt(0.5) if u == 0 else 1.0)
            / 2.0
            * np.cos((2 * x + 1) * u * np.pi / 16.0)
            for x in range(8)
        ]
        for u in range(8)
    ]
)


def _build_huffman_decode(bits: list[int], huffval: list[int]) -> dict:
    """Canonical Huffman table → {(length, code): symbol}."""
    table = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = huffval[k]
            code += 1
            k += 1
        code <<= 1
    return table


def _build_huffman_encode(bits: list[int], huffval: list[int]) -> dict:
    """Canonical Huffman table → {symbol: (code, length)}."""
    return {
        sym: (code, length)
        for (length, code), sym in _build_huffman_decode(bits, huffval).items()
    }


#: 16-bit-peek LUT memo, keyed by the table's exact content. Real
#: corpora reuse a handful of tables (most encoders emit the T.81
#: Annex K defaults), so each worker builds each LUT once; the cap
#: bounds a pathological corpus of per-image custom tables.
_HUFF_LUT_MEMO: dict[tuple, list[int]] = {}


def _huff_lut(table: dict) -> list[int]:
    """Decode LUT in the libjpeg style: entry[peek16] = (symbol << 5)
    | code_length, 0 = no code of length <= 16 matches (invalid
    stream). Every canonical code of length L owns the 2^(16-L)
    consecutive peek values it prefixes, so ONE list index replaces
    the 1..16 bit-by-bit tree walk — identical symbol, identical bits
    consumed, which is what keeps the fast reader bit-exact. A plain
    Python list beats a numpy array here: the decode loop indexes it
    with a Python int per symbol, and numpy scalar extraction costs
    more than the lookup itself."""
    key = tuple(sorted(table.items()))
    lut = _HUFF_LUT_MEMO.get(key)
    if lut is None:
        arr = np.zeros(1 << 16, dtype=np.int64)
        for (length, code), sym in table.items():
            lo = code << (16 - length)
            arr[lo : lo + (1 << (16 - length))] = (sym << 5) | length
        lut = arr.tolist()
        if len(_HUFF_LUT_MEMO) >= 64:
            _HUFF_LUT_MEMO.clear()
        _HUFF_LUT_MEMO[key] = lut
    return lut


class _BitReader:
    """MSB-first bit reader over unstuffed entropy-coded bytes."""

    __slots__ = ("data", "pos", "buf", "n")

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.buf = 0
        self.n = 0

    def _fill(self, need: int) -> None:
        while self.n < need:
            if self.pos < len(self.data):
                self.buf = (self.buf << 8) | self.data[self.pos]
                self.pos += 1
            else:
                # past the end: the spec pads the final byte with 1s
                self.buf = (self.buf << 8) | 0xFF
            self.n += 8

    def receive(self, nbits: int) -> int:
        if nbits == 0:
            return 0
        self._fill(nbits)
        self.n -= nbits
        v = (self.buf >> self.n) & ((1 << nbits) - 1)
        self.buf &= (1 << self.n) - 1
        return v

    def decode_huffman(self, table: dict) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.receive(1)
            sym = table.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid JPEG Huffman code")


def _split_entropy(data: bytes, start: int) -> tuple[list[bytes], int]:
    """From ``start``, collect unstuffed entropy-coded segments split
    at restart markers; returns (segments, index of the terminating
    marker's 0xFF).

    Walks only the 0xFF positions (numpy flatnonzero) and copies the
    literal runs between them as whole slices — entropy data is ~99%
    non-FF bytes, so this replaces the per-byte Python loop that
    profiled as the #3 decode term. Byte-identical to that loop:
    stuffed FF00 contributes one 0xFF, RSTn starts a new segment, any
    other marker (or a trailing lone 0xFF) terminates with ``i`` on
    the 0xFF."""
    n = len(data)
    arr = np.frombuffer(data, dtype=np.uint8)
    segments: list[bytes] = []
    chunks: list[bytes] = []
    pos = start
    i = n
    for f in map(int, np.flatnonzero(arr[start:] == 0xFF) + start):
        if f < pos:
            continue  # consumed as part of a previous FFxx pair
        if f + 1 >= n:
            i = f  # trailing lone 0xFF: terminate here (loop parity)
            break
        m = data[f + 1]
        if m == 0x00:  # stuffed 0xFF data byte
            chunks.append(data[pos:f])
            chunks.append(b"\xff")
            pos = f + 2
        elif 0xD0 <= m <= 0xD7:  # RSTn
            chunks.append(data[pos:f])
            segments.append(b"".join(chunks))
            chunks = []
            pos = f + 2
        else:  # real marker: end of scan
            i = f
            break
    # final literal run: up to the terminating 0xFF (exclusive), or to
    # the end of the payload when no terminator was found
    chunks.append(data[pos:i])
    segments.append(b"".join(chunks))
    return segments, i


def decode_jpeg(data: bytes) -> np.ndarray:
    """Decode a baseline/extended-sequential Huffman JPEG → uint8
    array (h, w, channels); 1 component → (h, w, 1) grayscale, 3
    components → (h, w, 3) RGB via the JFIF BT.601 transform. Raises
    NotImplementedError for progressive / lossless / arithmetic /
    hierarchical / 12-bit / 4-component streams and ValueError for
    malformed payloads."""
    if len(data) < 4 or data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload")
    qt: dict[int, np.ndarray] = {}
    huff_dc: dict[int, dict] = {}
    huff_ac: dict[int, dict] = {}
    frame = None
    restart_interval = 0
    planes = None
    i, n = 2, len(data)
    while i + 2 <= n:
        if data[i] != 0xFF:
            raise ValueError("JPEG marker desync")
        while i + 1 < n and data[i + 1] == 0xFF:  # fill bytes
            i += 1
        marker = data[i + 1]
        if marker == 0xD9:  # EOI
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            i += 2
            continue
        if i + 4 > n:
            raise ValueError("truncated JPEG segment")
        seg_len = struct.unpack(">H", data[i + 2 : i + 4])[0]
        body = data[i + 4 : i + 2 + seg_len]
        if marker == 0xDB:  # DQT
            j = 0
            while j < len(body):
                pq, tq = body[j] >> 4, body[j] & 15
                j += 1
                if pq == 0:
                    tbl = np.frombuffer(body[j : j + 64], dtype=np.uint8).astype(
                        np.int64
                    )
                    j += 64
                else:
                    tbl = np.frombuffer(
                        body[j : j + 128], dtype=">u2"
                    ).astype(np.int64)
                    j += 128
                nat = np.empty(64, dtype=np.int64)
                nat[ZIGZAG] = tbl
                qt[tq] = nat
        elif marker == 0xC4:  # DHT
            j = 0
            while j + 17 <= len(body):
                tc, th = body[j] >> 4, body[j] & 15
                bits = list(body[j + 1 : j + 17])
                cnt = sum(bits)
                huffval = list(body[j + 17 : j + 17 + cnt])
                (huff_dc if tc == 0 else huff_ac)[th] = _build_huffman_decode(
                    bits, huffval
                )
                j += 17 + cnt
        elif marker in (0xC0, 0xC1):  # SOF0 baseline / SOF1 extended seq
            precision = body[0]
            if precision != 8:
                raise NotImplementedError(
                    f"{precision}-bit JPEG needs an extended-precision codec"
                )
            h, w = struct.unpack(">HH", body[1:5])
            ncomp = body[5]
            if ncomp not in (1, 3):
                raise NotImplementedError(
                    f"{ncomp}-component JPEG (CMYK/unknown) unsupported"
                )
            comps = []
            for c in range(ncomp):
                cid = body[6 + 3 * c]
                hv = body[7 + 3 * c]
                comps.append(
                    {"id": cid, "h": hv >> 4, "v": hv & 15, "tq": body[8 + 3 * c]}
                )
            frame = {"h": int(h), "w": int(w), "comps": comps}
        elif marker in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                "progressive/lossless/differential JPEG decode unsupported "
                "(baseline sequential only)"
            )
        elif marker in (0xC9, 0xCA, 0xCB):
            raise NotImplementedError("arithmetic-coded JPEG unsupported")
        elif marker == 0xDD:  # DRI
            restart_interval = struct.unpack(">H", body[0:2])[0]
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise ValueError("JPEG SOS before SOF")
            ns = body[0]
            scan = {}
            for c in range(ns):
                cs = body[1 + 2 * c]
                td_ta = body[2 + 2 * c]
                scan[cs] = (td_ta >> 4, td_ta & 15)
            # _decode_scan assumes ONE interleaved scan covering every
            # frame component (the overwhelmingly common baseline
            # layout); a legal multi-scan baseline file (Ns < Nf, one
            # SOS per component) would otherwise hit a raw KeyError
            # and wrong MCU geometry — keep the honest-envelope raise
            if set(scan) != {c["id"] for c in frame["comps"]}:
                raise NotImplementedError(
                    "non-interleaved JPEG scans unsupported (SOS covers "
                    f"components {sorted(scan)} of frame components "
                    f"{sorted(c['id'] for c in frame['comps'])}; baseline "
                    "single interleaved scan only)"
                )
            segments, i = _split_entropy(data, i + 2 + seg_len)
            planes = _decode_scan(frame, scan, qt, huff_dc, huff_ac, segments, restart_interval)
            continue  # i already points at the terminating marker
        i += 2 + seg_len
    if planes is None or frame is None:
        raise ValueError("JPEG payload has no decoded scan")
    h, w = frame["h"], frame["w"]
    max_h = max(c["h"] for c in frame["comps"])
    max_v = max(c["v"] for c in frame["comps"])
    out_planes = []
    for c, plane in zip(frame["comps"], planes):
        rep_y, rep_x = max_v // c["v"], max_h // c["h"]
        if rep_y > 1 or rep_x > 1:
            plane = np.repeat(np.repeat(plane, rep_y, axis=0), rep_x, axis=1)
        out_planes.append(plane[:h, :w])
    if len(out_planes) == 1:
        return out_planes[0][:, :, None]
    y = out_planes[0].astype(np.float64)
    cb = out_planes[1].astype(np.float64) - 128.0
    cr = out_planes[2].astype(np.float64) - 128.0
    rgb = np.stack(
        [
            y + 1.402 * cr,
            y - 0.344136 * cb - 0.714136 * cr,
            y + 1.772 * cb,
        ],
        axis=2,
    )
    return np.clip(np.floor(rgb + 0.5), 0, 255).astype(np.uint8)


def _decode_scan(
    frame: dict,
    scan: dict,
    qt: dict,
    huff_dc: dict,
    huff_ac: dict,
    segments: list[bytes],
    restart_interval: int,
) -> list[np.ndarray]:
    """Entropy-decode the (single, baseline) scan: per-MCU Huffman →
    per-component coefficient stacks → one vectorized dequantize+IDCT
    per component."""
    comps = frame["comps"]
    max_h = max(c["h"] for c in comps)
    max_v = max(c["v"] for c in comps)
    mcus_x = -(-frame["w"] // (8 * max_h))
    mcus_y = -(-frame["h"] // (8 * max_v))
    n_mcus = mcus_x * mcus_y
    # coefficient stacks + block grid positions per component
    coefs: list[list[list[int]]] = [[] for _ in comps]
    # Entropy decode with an INLINE bit buffer + 16-bit-peek Huffman
    # LUTs (_huff_lut): one list index per symbol instead of a
    # per-bit tree walk through _BitReader method calls — profiled at
    # 97% of decode wall before this (585k receive() calls per small
    # image). Bit-exact with the reference reader by construction:
    # the LUT returns the same symbol and consumes the same bit count
    # the bit-by-bit walk would, and end-of-stream pads with 1-bits
    # exactly as _BitReader._fill does. _BitReader itself stays as
    # the readable reference implementation.
    luts = [
        (_huff_lut(huff_dc[scan[c["id"]][0]]), _huff_lut(huff_ac[scan[c["id"]][1]]))
        for c in comps
    ]
    zz = ZIGZAG.tolist() if hasattr(ZIGZAG, "tolist") else list(ZIGZAG)
    data = segments[0]
    dlen = len(data)
    pos = buf = nb = 0
    seg_idx = 0
    dc_pred = [0] * len(comps)
    for mcu in range(n_mcus):
        if restart_interval and mcu and mcu % restart_interval == 0:
            seg_idx += 1
            if seg_idx >= len(segments):
                raise ValueError("JPEG restart marker missing")
            data = segments[seg_idx]
            dlen = len(data)
            pos = buf = nb = 0
            dc_pred = [0] * len(comps)
        for ci, comp in enumerate(comps):
            lut_d, lut_a = luts[ci]
            for _ in range(comp["v"] * comp["h"]):
                buf &= (1 << nb) - 1  # shed consumed high bits
                block = [0] * 64
                while nb < 16:
                    buf = (buf << 8) | (data[pos] if pos < dlen else 0xFF)
                    pos += 1
                    nb += 8
                e = lut_d[(buf >> (nb - 16)) & 0xFFFF]
                if e == 0:
                    raise ValueError("invalid JPEG Huffman code")
                nb -= e & 31
                s = e >> 5
                if s:
                    while nb < s:
                        buf = (buf << 8) | (data[pos] if pos < dlen else 0xFF)
                        pos += 1
                        nb += 8
                    nb -= s
                    v = (buf >> nb) & ((1 << s) - 1)
                    dc_pred[ci] += v if v >= (1 << (s - 1)) else v - (1 << s) + 1
                block[0] = dc_pred[ci]
                k = 1
                while k < 64:
                    while nb < 16:
                        buf = (buf << 8) | (data[pos] if pos < dlen else 0xFF)
                        pos += 1
                        nb += 8
                    e = lut_a[(buf >> (nb - 16)) & 0xFFFF]
                    if e == 0:
                        raise ValueError("invalid JPEG Huffman code")
                    nb -= e & 31
                    rs = e >> 5
                    r, s = rs >> 4, rs & 15
                    if s == 0:
                        if r == 15:
                            k += 16
                            continue
                        break  # EOB
                    k += r
                    if k > 63:
                        raise ValueError("JPEG AC run past end of block")
                    while nb < s:
                        buf = (buf << 8) | (data[pos] if pos < dlen else 0xFF)
                        pos += 1
                        nb += 8
                    nb -= s
                    v = (buf >> nb) & ((1 << s) - 1)
                    block[zz[k]] = v if v >= (1 << (s - 1)) else v - (1 << s) + 1
                    k += 1
                coefs[ci].append(block)
    planes = []
    for ci, comp in enumerate(comps):
        q = qt[comp["tq"]]
        stack = np.asarray(coefs[ci], dtype=np.float64) * q  # (n_blocks, 64)
        blocks = stack.reshape(-1, 8, 8)
        spatial = np.einsum("ux,nuv,vy->nxy", _DCT_A, blocks, _DCT_A) + 128.0
        pix = np.clip(np.floor(spatial + 0.5), 0, 255).astype(np.uint8)
        # blocks arrive MCU-major with (by, bx) row-major inside each
        # MCU: one reshape+transpose lays them back on the component
        # grid (the per-block Python placement loop this replaces was
        # the second-largest decode term after the entropy loop)
        bw, bh = comp["h"], comp["v"]  # blocks per MCU, x / y
        plane = np.ascontiguousarray(
            pix.reshape(mcus_y, mcus_x, bh, bw, 8, 8)
            .transpose(0, 2, 4, 1, 3, 5)
            .reshape(mcus_y * bh * 8, mcus_x * bw * 8)
        )
        planes.append(plane)
    return planes


# -- encoder ----------------------------------------------------------


class _BitWriter:
    """MSB-first bit writer with 0xFF byte stuffing."""

    __slots__ = ("out", "buf", "n")

    def __init__(self):
        self.out = bytearray()
        self.buf = 0
        self.n = 0

    def write(self, value: int, nbits: int) -> None:
        self.buf = (self.buf << nbits) | (value & ((1 << nbits) - 1))
        self.n += nbits
        while self.n >= 8:
            self.n -= 8
            b = (self.buf >> self.n) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)
        self.buf &= (1 << self.n) - 1

    def flush(self) -> None:
        if self.n:  # pad the final partial byte with 1s (spec F.1.2.3)
            self.write((1 << (8 - self.n)) - 1, 8 - self.n)


def quality_tables(quality: int) -> tuple[np.ndarray, np.ndarray]:
    """Annex K tables scaled with the libjpeg quality curve (zigzag
    order, clamped to [1, 255])."""
    quality = max(1, min(100, quality))
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    lum = np.clip((QUANT_LUM * scale + 50) // 100, 1, 255)
    chrom = np.clip((QUANT_CHROM * scale + 50) // 100, 1, 255)
    return lum, chrom


def _encode_block(
    bw: _BitWriter,
    coef_zz: np.ndarray,
    dc_pred: int,
    dc_tbl: dict,
    ac_tbl: dict,
) -> int:
    """Huffman-encode one quantized block (zigzag order); returns the
    block's DC value for the next prediction."""

    def category(v: int) -> int:
        return int(abs(v)).bit_length()

    diff = int(coef_zz[0]) - dc_pred
    s = category(diff)
    code, length = dc_tbl[s]
    bw.write(code, length)
    if s:
        bw.write(diff if diff >= 0 else diff + (1 << s) - 1, s)
    run = 0
    last_nz = 0
    for k in range(63, 0, -1):
        if coef_zz[k]:
            last_nz = k
            break
    for k in range(1, last_nz + 1):
        v = int(coef_zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, length = ac_tbl[0xF0]  # ZRL
            bw.write(code, length)
            run -= 16
        s = category(v)
        code, length = ac_tbl[(run << 4) | s]
        bw.write(code, length)
        bw.write(v if v >= 0 else v + (1 << s) - 1, s)
        run = 0
    if last_nz < 63:
        code, length = ac_tbl[0x00]  # EOB
        bw.write(code, length)
    return int(coef_zz[0])


def encode_jpeg(
    img: np.ndarray,
    quality: int = 90,
    subsampling: tuple[int, int] = (1, 1),
    quant_tables: tuple[np.ndarray, np.ndarray] | None = None,
    restart_interval: int = 0,
) -> bytes:
    """Minimal baseline JPEG encoder for test payloads: grayscale
    (h,w) / (h,w,1) or RGB (h,w,3) uint8 → SOF0 stream with Annex K
    Huffman tables. ``subsampling=(2,2)`` emits 4:2:0 (luma sampling
    factors 2x2, chroma 1x1, chroma planes box-averaged).
    ``quant_tables`` overrides the quality-scaled Annex K tables with
    caller tables in ZIGZAG order — all-ones tables make flat-block
    images round-trip exactly (see module docstring)."""
    if img.ndim == 2:
        img = img[:, :, None]
    h, w, ch = img.shape
    if ch not in (1, 3):
        raise ValueError("encode_jpeg supports 1 or 3 channels")
    if quant_tables is None:
        q_lum_zz, q_chrom_zz = quality_tables(quality)
    else:
        q_lum_zz = np.asarray(quant_tables[0], dtype=np.int64)
        q_chrom_zz = np.asarray(quant_tables[1], dtype=np.int64)
    q_lum = np.empty(64, dtype=np.int64)
    q_lum[ZIGZAG] = q_lum_zz
    q_chrom = np.empty(64, dtype=np.int64)
    q_chrom[ZIGZAG] = q_chrom_zz

    if ch == 3:
        f = img.astype(np.float64)
        r, g, b = f[:, :, 0], f[:, :, 1], f[:, :, 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
        raw_planes = [y, cb, cr]
    else:
        raw_planes = [img[:, :, 0].astype(np.float64)]

    sh, sv = subsampling if ch == 3 else (1, 1)
    comps = []
    for ci, plane in enumerate(raw_planes):
        if ci == 0:
            chs, cvs = sh, sv
        else:
            chs, cvs = 1, 1
            if sh > 1 or sv > 1:  # box-average chroma downsample
                ph = -(-h // sv) * sv
                pw = -(-w // sh) * sh
                pad = np.pad(
                    plane, ((0, ph - h), (0, pw - w)), mode="edge"
                )
                plane = pad.reshape(ph // sv, sv, pw // sh, sh).mean(axis=(1, 3))
        comps.append({"h": chs, "v": cvs, "plane": plane})
    max_h = max(c["h"] for c in comps)
    max_v = max(c["v"] for c in comps)
    mcus_x = -(-w // (8 * max_h))
    mcus_y = -(-h // (8 * max_v))
    # pad every component plane to its MCU-covered grid
    for ci, c in enumerate(comps):
        ph, pw = mcus_y * c["v"] * 8, mcus_x * c["h"] * 8
        p = c["plane"]
        c["plane"] = np.pad(
            p, ((0, ph - p.shape[0]), (0, pw - p.shape[1])), mode="edge"
        )
        c["q_nat"] = q_lum if ci == 0 else q_chrom
        c["q_zz"] = q_lum_zz if ci == 0 else q_chrom_zz

    # header segments
    out = bytearray(b"\xff\xd8")

    def seg(marker: int, body: bytes) -> None:
        out.extend(b"\xff" + bytes([marker]) + struct.pack(">H", len(body) + 2) + body)

    seg(0xDB, b"\x00" + bytes(int(v) for v in q_lum_zz))
    if ch == 3:
        seg(0xDB, b"\x01" + bytes(int(v) for v in q_chrom_zz))
    sof = bytearray(struct.pack(">BHHB", 8, h, w, ch))
    for ci, c in enumerate(comps):
        sof.extend(bytes([ci + 1, (c["h"] << 4) | c["v"], 0 if ci == 0 else 1]))
    seg(0xC0, bytes(sof))

    tables = [(0x00, _DC_LUM), (0x10, _AC_LUM)]
    if ch == 3:
        tables += [(0x01, _DC_CHROM), (0x11, _AC_CHROM)]
    for tclass, (bits, huffval) in tables:
        seg(0xC4, bytes([tclass]) + bytes(bits) + bytes(huffval))
    dc_enc = {0: _build_huffman_encode(*_DC_LUM)}
    ac_enc = {0: _build_huffman_encode(*_AC_LUM)}
    if ch == 3:
        dc_enc[1] = _build_huffman_encode(*_DC_CHROM)
        ac_enc[1] = _build_huffman_encode(*_AC_CHROM)

    if restart_interval:
        seg(0xDD, struct.pack(">H", restart_interval))
    sos = bytearray([ch])
    for ci in range(ch):
        t = 0 if ci == 0 else 1
        sos.extend(bytes([ci + 1, (t << 4) | t]))
    sos.extend(b"\x00\x3f\x00")
    seg(0xDA, bytes(sos))

    # Vectorized DCT + quantization per component: every 8×8 block in
    # one batched matmul (numpy broadcasts (8,8)@(n,8,8) as the same
    # dgemm per slice the old per-block `A @ block @ A.T` ran, so the
    # floats — and hence floor(x+0.5) — are bit-identical; verified
    # byte-for-byte against the per-block encoder in
    # tests/test_jpegcodec.py). floor(x+0.5) rounds -0.5
    # asymmetrically; JPEG permits any rounding, this one is
    # deterministic across platforms. Clamp to ±1023 (8-bit-baseline
    # spec max, category 10): quant values clipped to 1 can push a
    # high-contrast block's AC into category 11, which the Annex K AC
    # tables don't encode — a raw KeyError without this.
    for c in comps:
        plane = c["plane"]
        ph, pw = plane.shape
        gy, gx = ph // 8, pw // 8
        blocks = (
            plane.reshape(gy, 8, gx, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8)
            - 128.0
        )
        coef = _DCT_A @ blocks @ _DCT_A.T
        qz = np.clip(
            np.floor(coef / c["q_nat"].reshape(8, 8) + 0.5), -1023, 1023
        ).astype(np.int64)
        zz = qz.reshape(-1, 64)[:, ZIGZAG]
        nz = zz != 0
        # highest nonzero AC index per block (0 = none): scan reversed
        last = np.where(
            nz[:, 1:].any(axis=1), 63 - np.argmax(nz[:, :0:-1], axis=1), 0
        )
        c["zz"] = zz.tolist()
        c["last_nz"] = last.tolist()
        c["gx"] = gx

    # Inline entropy writer (the per-block _encode_block + _BitWriter
    # method calls profiled as the encoder's top term): same canonical
    # codes, same bit order, same FF stuffing — _BitWriter stays as
    # the readable reference.
    ebuf = bytearray()
    buf = 0
    nb = 0
    dc_pred = [0] * ch
    mcu = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu and mcu % restart_interval == 0:
                if nb:  # pad the final partial byte with 1s (F.1.2.3)
                    pad = 8 - nb
                    buf = (buf << pad) | ((1 << pad) - 1)
                    nb = 8
                    nb -= 8
                    b = buf & 0xFF
                    ebuf.append(b)
                    if b == 0xFF:
                        ebuf.append(0x00)
                    buf = 0
                ebuf.extend(
                    b"\xff"
                    + bytes([0xD0 + ((mcu // restart_interval - 1) % 8)])
                )
                dc_pred = [0] * ch
            mcu += 1
            for ci, c in enumerate(comps):
                t = 0 if ci == 0 else 1
                dct, act = dc_enc[t], ac_enc[t]
                cv, chh, gx = c["v"], c["h"], c["gx"]
                for by in range(cv):
                    row = (my * cv + by) * gx
                    for bx in range(chh):
                        bi = row + mx * chh + bx
                        zz = c["zz"][bi]
                        diff = zz[0] - dc_pred[ci]
                        dc_pred[ci] = zz[0]
                        s = diff.bit_length() if diff >= 0 else (-diff).bit_length()
                        code, length = dct[s]
                        buf = (buf << length) | code
                        nb += length
                        if s:
                            buf = (buf << s) | (
                                (diff if diff >= 0 else diff + (1 << s) - 1)
                                & ((1 << s) - 1)
                            )
                            nb += s
                        last_nz = c["last_nz"][bi]
                        run = 0
                        for k in range(1, last_nz + 1):
                            v = zz[k]
                            if v == 0:
                                run += 1
                                continue
                            while run > 15:
                                code, length = act[0xF0]  # ZRL
                                buf = (buf << length) | code
                                nb += length
                                run -= 16
                            s = v.bit_length() if v >= 0 else (-v).bit_length()
                            code, length = act[(run << 4) | s]
                            buf = (buf << length) | code
                            nb += length
                            buf = (buf << s) | (
                                (v if v >= 0 else v + (1 << s) - 1)
                                & ((1 << s) - 1)
                            )
                            nb += s
                            run = 0
                        if last_nz < 63:
                            code, length = act[0x00]  # EOB
                            buf = (buf << length) | code
                            nb += length
                        while nb >= 8:
                            nb -= 8
                            b = (buf >> nb) & 0xFF
                            ebuf.append(b)
                            if b == 0xFF:
                                ebuf.append(0x00)
                        buf &= (1 << nb) - 1
    if nb:  # final flush: pad partial byte with 1s
        pad = 8 - nb
        b = ((buf << pad) | ((1 << pad) - 1)) & 0xFF
        ebuf.append(b)
        if b == 0xFF:
            ebuf.append(0x00)
    out.extend(ebuf)
    out.extend(b"\xff\xd9")
    return bytes(out)
