"""Baseline JPEG (ITU-T T.81) codec for single-component (grayscale)
images, implemented with numpy only — no codec library: the
multimodal family's compressed-format decoder.

Everything here is from the PUBLIC specification: Annex K quantization
and Huffman tables, canonical-Huffman code construction (C.2), entropy
coding with byte stuffing (B.1.1.5), DC prediction (F.1.1.5.1), the
zigzag ordering (Figure A.6), and the 2-D 8×8 IDCT (A.3.3).

Scope (exactly what op202/op203 exercise and tests interop-prove):
- SOI / DQT / SOF0 (baseline DCT, 8-bit) / DHT / SOS / EOI markers;
- one component, 1×1 sampling, dimensions multiples of 8;
- the ENCODER is a known-coefficient writer: it takes already-
  quantized coefficients in zigzag order (the op generates them from
  closed-form formulas so the DuckDB oracle can recompute features
  without seeing a byte);
- the DECODER is a real baseline parser: marker walk, canonical
  Huffman table build from BITS/HUFFVAL, bit-reader with 0xFF00
  stuffing, DC differential + AC run/size/EOB/ZRL entropy decode,
  dequantize, de-zigzag, IDCT, level shift, clamp.

Interop: tests/test_codecs.py decodes this encoder's output with the
JVM's javax.imageio (an independent public implementation shipped with
JDK 17) and compares pixels — the compressed-format counterpart of the
stdlib-`wave` WAV proof.
"""

from __future__ import annotations

import struct

import numpy as np

# Annex K.1 luminance quantization table (natural / row-major order).
QTABLE = np.array(
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
)

# Figure A.6 zigzag scan: ZIGZAG[k] = natural (row-major) index of the
# k-th coefficient in zigzag order.
ZIGZAG = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10,
        17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34,
        27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36,
        29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46,
        53, 60, 61, 54, 47, 55, 62, 63,
    ],
    dtype=np.int64,
)

# Quantization table in ZIGZAG order (what DQT carries, and what the
# coefficient-domain oracle indexes by zigzag position).
QTABLE_ZZ = QTABLE[ZIGZAG]

# Annex K.3.3.1 — luminance DC Huffman table.
DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
DC_VALS = list(range(12))

# Annex K.3.3.2 — luminance AC Huffman table.
AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
AC_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
    0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
    0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
    0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
    0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
    0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
]


def _build_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """Canonical Huffman (spec C.2): symbol -> (code, length)."""
    out: dict[int, tuple[int, int]] = {}
    code, k = 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


def _build_decode_map(bits: list[int], vals: list[int]) -> dict[tuple[int, int], int]:
    """Canonical Huffman for decoding: (length, code) -> symbol —
    derived from _build_codes so the C.2 walk exists ONCE and the
    encoder and decoder can never silently diverge."""
    return {
        (length, code): sym
        for sym, (code, length) in _build_codes(bits, vals).items()
    }


_DC_ENC = _build_codes(DC_BITS, DC_VALS)
_AC_ENC = _build_codes(AC_BITS, AC_VALS)


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self._acc = 0
        self._n = 0

    def write(self, value: int, length: int) -> None:
        if length == 0:
            return
        self._acc = (self._acc << length) | (value & ((1 << length) - 1))
        self._n += length
        while self._n >= 8:
            byte = (self._acc >> (self._n - 8)) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:  # B.1.1.5 byte stuffing
                self.out.append(0x00)
            self._n -= 8
        self._acc &= (1 << self._n) - 1

    def flush(self) -> None:
        if self._n:
            pad = 8 - self._n
            self.write((1 << pad) - 1, pad)  # pad with 1-bits


def _category(v: int) -> int:
    """DC/AC magnitude category = bit length of |v| (F.1.2.1.1)."""
    return int(abs(v)).bit_length()


def _extend_bits(v: int, s: int) -> int:
    """Value -> s-bit appended-amplitude representation (F.1.2.1.3
    inverse): negatives encode as v + 2^s - 1."""
    return v if v >= 0 else v + (1 << s) - 1


def encode_jpeg_gray(qcoeffs: np.ndarray, width: int, height: int) -> bytes:
    """Baseline single-component JPEG from QUANTIZED zigzag-order
    coefficient blocks (raster block order, shape (n_blocks, 64)) —
    the known-coefficient writer op202/op203's oracles rely on.
    width/height must be multiples of 8; n_blocks must equal
    (width//8)*(height//8)."""
    qcoeffs = np.asarray(qcoeffs, dtype=np.int64)
    bx, by = width // 8, height // 8
    if width % 8 or height % 8:
        raise ValueError("dimensions must be multiples of 8")
    if qcoeffs.shape != (bx * by, 64):
        raise ValueError(f"expected ({bx * by}, 64) blocks, got {qcoeffs.shape}")

    parts = [b"\xff\xd8"]  # SOI
    # DQT: Pq=0 (8-bit), Tq=0, 64 bytes zigzag order
    parts.append(b"\xff\xdb" + struct.pack(">H", 67) + b"\x00"
                 + bytes(int(q) for q in QTABLE_ZZ))
    # SOF0: 8-bit precision, 1 component, 1x1 sampling, quant table 0
    parts.append(b"\xff\xc0" + struct.pack(">HBHHB", 11, 8, height, width, 1)
                 + bytes([1, 0x11, 0]))
    # DHT: DC class 0 id 0, then AC class 1 id 0
    dc_body = bytes([0x00]) + bytes(DC_BITS) + bytes(DC_VALS)
    ac_body = bytes([0x10]) + bytes(AC_BITS) + bytes(AC_VALS)
    parts.append(b"\xff\xc4" + struct.pack(">H", 2 + len(dc_body)) + dc_body)
    parts.append(b"\xff\xc4" + struct.pack(">H", 2 + len(ac_body)) + ac_body)
    # SOS: 1 component, DC table 0 / AC table 0, Ss=0 Se=63 Ah=Al=0
    parts.append(b"\xff\xda" + struct.pack(">HB", 8, 1) + bytes([1, 0x00, 0, 63, 0]))

    w = _BitWriter()
    pred = 0
    for blk in qcoeffs:
        diff = int(blk[0]) - pred
        pred = int(blk[0])
        s = _category(diff)
        if s > 11:
            # |diff| >= 2048 has no baseline DC category — a bare
            # KeyError leaked with no context while the decoder side
            # guards the same bound loudly
            raise ValueError(
                f"jpeg: DC difference {diff} outside baseline range "
                "(category > 11)"
            )
        code, length = _DC_ENC[s]
        w.write(code, length)
        w.write(_extend_bits(diff, s), s)
        run = 0
        nz = np.nonzero(blk[1:])[0]
        last_nz = int(nz[-1]) + 1 if len(nz) else 0
        for k in range(1, 64):
            v = int(blk[k])
            if k > last_nz:
                break
            if v == 0:
                run += 1
                continue
            while run > 15:
                code, length = _AC_ENC[0xF0]  # ZRL: 16 zeros
                w.write(code, length)
                run -= 16
            s = _category(v)
            if s > 10:
                # |v| >= 1024 has no baseline AC category
                raise ValueError(
                    f"jpeg: AC coefficient {v} outside baseline range "
                    "(category > 10)"
                )
            code, length = _AC_ENC[(run << 4) | s]
            w.write(code, length)
            w.write(_extend_bits(v, s), s)
            run = 0
        if last_nz < 63:
            code, length = _AC_ENC[0x00]  # EOB
            w.write(code, length)
    w.flush()
    parts.append(bytes(w.out))
    parts.append(b"\xff\xd9")  # EOI
    return b"".join(parts)


class _BitReader:
    """MSB-first bit reader over entropy-coded data with 0xFF00
    stuffing removal; stops (raises) at any real marker."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self._acc = 0
        self._n = 0

    def read_bit(self) -> int:
        if self._n == 0:
            if self.pos >= len(self.data):
                raise ValueError("entropy data exhausted")
            byte = self.data[self.pos]
            self.pos += 1
            if byte == 0xFF:
                nxt = self.data[self.pos] if self.pos < len(self.data) else None
                if nxt == 0x00:
                    self.pos += 1  # stuffed 0xFF data byte
                elif nxt is None:
                    raise ValueError("entropy data ends on a bare 0xFF")
                else:
                    raise ValueError(f"unexpected marker 0xFF{nxt:02x} in scan")
            self._acc = byte
            self._n = 8
        self._n -= 1
        return (self._acc >> self._n) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v


def _read_huffman(r: _BitReader, table: dict[tuple[int, int], int]) -> int:
    code, length = 0, 0
    while length < 16:
        code = (code << 1) | r.read_bit()
        length += 1
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid Huffman code")


def _receive_extend(r: _BitReader, s: int) -> int:
    if s == 0:
        return 0
    v = r.read_bits(s)
    return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


# 1-D IDCT basis: _A[k, n] = C(k)/2 * cos((2n+1) k pi / 16);
# block pixels = _A.T @ F @ _A (A.3.3).
_A = np.array(
    [
        [
            (np.sqrt(0.5) if k == 0 else 1.0) / 2.0
            * np.cos((2 * n + 1) * k * np.pi / 16.0)
            for n in range(8)
        ]
        for k in range(8)
    ]
)


def idct2d(block: np.ndarray) -> np.ndarray:
    """8x8 inverse DCT (float64 in, float64 out, no level shift)."""
    return _A.T @ np.asarray(block, dtype=np.float64) @ _A


def decode_jpeg_gray(payload: bytes) -> tuple[int, int, np.ndarray, np.ndarray]:
    """Real baseline JPEG parse for single-component 1x1-sampling
    files. Returns (width, height, quantized zigzag coefficients as
    (n_blocks, 64) int64 raster-order, pixels as (h, w) uint8)."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (no SOI)")
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    dc_maps: dict[int, dict[tuple[int, int], int]] = {}
    ac_maps: dict[int, dict[tuple[int, int], int]] = {}
    width = height = None
    comp_q = comp_dc = comp_ac = 0
    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError(f"expected marker at {pos}")
        marker = payload[pos + 1]
        if marker == 0xD9:  # EOI
            break
        seg_len = struct.unpack_from(">H", payload, pos + 2)[0]
        # a truncated file must fail as a loud ValueError here, not
        # leak struct/Index/KeyError from parsing a short body below
        # (truncation fuzz)
        if seg_len < 2 or pos + 2 + seg_len > len(payload):
            raise ValueError("jpeg: truncated segment")
        body = payload[pos + 4 : pos + 2 + seg_len]
        if marker == 0xDB:  # DQT (possibly several tables per segment)
            b = 0
            while b < len(body):
                if b + 65 > len(body):
                    raise ValueError("jpeg: short DQT table")
                pq, tq = body[b] >> 4, body[b] & 0x0F
                if pq != 0:
                    raise ValueError("only 8-bit quant tables supported")
                qtables[tq] = np.frombuffer(
                    body[b + 1 : b + 65], dtype=np.uint8
                ).astype(np.int64)
                b += 65
        elif marker == 0xC0:  # SOF0 baseline
            if len(body) < 9:
                raise ValueError("jpeg: short SOF0 segment")
            precision, height, width, n_comp = struct.unpack_from(">BHHB", body)
            if precision != 8 or n_comp != 1:
                raise ValueError("only 8-bit single-component baseline supported")
            if body[7] != 0x11:  # body: prec,h,h,w,w,ncomp, then id,sampling,tq
                raise ValueError("only 1x1 sampling supported")
            comp_q = body[8]
        elif marker in (0xC1, 0xC2, 0xC3):
            raise ValueError("only baseline SOF0 supported")
        elif marker == 0xC4:  # DHT (possibly several tables per segment)
            b = 0
            while b < len(body):
                if b + 17 > len(body):
                    raise ValueError("jpeg: short DHT table")
                tc, th = body[b] >> 4, body[b] & 0x0F
                bits = list(body[b + 1 : b + 17])
                n_vals = sum(bits)
                if b + 17 + n_vals > len(body):
                    raise ValueError("jpeg: short DHT values")
                vals = list(body[b + 17 : b + 17 + n_vals])
                (dc_maps if tc == 0 else ac_maps)[th] = _build_decode_map(bits, vals)
                b += 17 + n_vals
        elif marker == 0xDA:  # SOS
            if len(body) < 3:
                raise ValueError("jpeg: short SOS segment")
            comp_dc, comp_ac = body[2] >> 4, body[2] & 0x0F
            pos = pos + 2 + seg_len
            break
        pos += 2 + seg_len
    if width is None or comp_q not in qtables:
        raise ValueError("missing SOF0 or DQT before SOS")
    if width % 8 or height % 8:
        raise ValueError("dimensions must be multiples of 8 (no partial MCUs)")

    if comp_dc not in dc_maps or comp_ac not in ac_maps:
        raise ValueError("jpeg: missing Huffman table for scan component")
    q = qtables[comp_q]  # zigzag order
    dc_map, ac_map = dc_maps[comp_dc], ac_maps[comp_ac]
    r = _BitReader(payload, pos)
    bx, by = width // 8, height // 8
    n_blocks = bx * by
    qcoeffs = np.zeros((n_blocks, 64), dtype=np.int64)
    pred = 0
    for b in range(n_blocks):
        s = _read_huffman(r, dc_map)
        if s > 11:
            # T.81 F.1.2.1.1: 8-bit baseline DC categories are 0-11.
            # A corrupt DHT can emit a larger symbol, whose
            # read_bits(s) value would overflow the int64 coeff array
            # (truncation fuzz).
            raise ValueError(f"jpeg: invalid DC category {s}")
        pred += _receive_extend(r, s)
        qcoeffs[b, 0] = pred
        k = 1
        while k < 64:
            sym = _read_huffman(r, ac_map)
            if sym == 0x00:  # EOB
                break
            run, size = sym >> 4, sym & 0x0F
            if size == 0:
                if run != 15:
                    raise ValueError(f"invalid AC symbol {sym:#x}")
                k += 16  # ZRL
                continue
            k += run
            if k > 63:
                raise ValueError("AC run past end of block")
            qcoeffs[b, k] = _receive_extend(r, size)
            k += 1

    # Dequantize, de-zigzag, IDCT, level shift.
    deq = qcoeffs * q  # zigzag order
    pixels = np.empty((height, width), dtype=np.uint8)
    nat = np.zeros(64, dtype=np.float64)
    for b in range(n_blocks):
        nat[ZIGZAG] = deq[b]
        blk = idct2d(nat.reshape(8, 8)) + 128.0
        y0, x0 = (b // bx) * 8, (b % bx) * 8
        pixels[y0:y0 + 8, x0:x0 + 8] = np.clip(np.rint(blk), 0, 255).astype(np.uint8)
    return width, height, qcoeffs, pixels
