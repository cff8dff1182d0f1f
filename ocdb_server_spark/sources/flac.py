"""Pure-Python FLAC encoder/decoder — lossless compressed AUDIO, for real.

Implements the subset of the public FLAC specification (RFC 9639 /
xiph.org format spec) needed for standards-conformant 16-bit streams,
the way sources/jpeg.py did for ITU-T T.81:

  - stream layout: "fLaC" magic, STREAMINFO metadata block (including
    the MD5 of the raw interleaved samples — the spec's own
    losslessness check), frames until EOF;
  - frame headers: 14-bit sync, fixed-blocksize strategy, UTF-8-style
    coded frame numbers, explicit 16-bit blocksize, CRC-8 (poly 0x07);
  - channels: mono, stereo independent, and all three DECORRELATED
    stereo modes (left/side, right/side, mid/side) with the spec's
    +1-bit side-channel depth;
  - subframes: CONSTANT, VERBATIM, all five FIXED predictor orders
    (0-4), and LPC subframes up to order 8 (Levinson-Durbin analysis,
    4-bit precision field, 5-bit signed shift, quantized-coefficient
    integer prediction), each with the wasted-bits-per-sample header;
  - residuals: Rice coding method 0 (4-bit parameters), arbitrary
    partition order, zigzag mapping, unary-quotient bit layout, and
    the 0b1111 escape to raw binary;
  - frame footer CRC-16 (poly 0x8005) over the whole frame.

NOT implemented (honestly out of subset): >2 channels, bit depths
other than 16, variable-blocksize streams, negative LPC shifts. The
decoder REJECTS those loudly instead of mis-decoding.

Losslessness is enforced twice: decode() verifies both CRCs and
recomputes the STREAMINFO MD5 over the decoded samples — so a decoded
stream is bit-certified against the encoder's input by the format's
own integrity machinery, not just by our tests. LPC prediction is
float only at ANALYSIS time (choosing coefficients); the written
stream carries quantized integer coefficients and the residual is
computed and inverted in exact integer arithmetic, so ANY
quantization is still lossless. The project ships no external FLAC
codec (flac/ffmpeg/sox), so cross-implementation interop is covered
by round-trip + property tests (tests/test_codecs.py).

Reference analog: none — the reference serves files it never decodes
(`ocdb/ws/handlers` streams stored bytes [U]); this is the multimodal
kernel a training-data pipeline needs.
"""

from __future__ import annotations

import hashlib
import struct

import numpy as np

_MAGIC = b"fLaC"
_SYNC = 0b11111111111110

# fixed-predictor coefficients: residual = y_t - sum(c_j * y_{t-1-j})
_FIXED_COEFFS = {
    0: [],
    1: [1],
    2: [2, -1],
    3: [3, -3, 1],
    4: [4, -6, 4, -1],
}

_MAX_LPC_ORDER = 8
_LPC_PRECISION = 12  # quantized coefficient bits (field stores precision-1)

# sample-rate code table entries we emit (subset of the spec table)
_RATE_CODES = {88200: 0b0001, 176400: 0b0010, 192000: 0b0011, 8000: 0b0100,
               16000: 0b0101, 22050: 0b0110, 24000: 0b0111, 32000: 0b1000,
               44100: 0b1001, 48000: 0b1010, 96000: 0b1011}
_CODE_RATES = {v: k for k, v in _RATE_CODES.items()}

# frame-header channel-assignment codes (spec table): 0..7 independent
# (channels-1), then the three decorrelated stereo layouts
_CH_LEFT_SIDE = 0b1000   # ch0 = left, ch1 = side (L - R)
_CH_RIGHT_SIDE = 0b1001  # ch0 = side, ch1 = right
_CH_MID_SIDE = 0b1010    # ch0 = mid ((L+R)>>1), ch1 = side


class _BitWriter:
    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, bits: int) -> None:
        if bits == 0:
            return
        self.acc = (self.acc << bits) | (value & ((1 << bits) - 1))
        self.nbits += bits
        while self.nbits >= 8:
            self.nbits -= 8
            self.buf.append((self.acc >> self.nbits) & 0xFF)
        self.acc &= (1 << self.nbits) - 1

    def write_unary(self, q: int) -> None:
        # FLAC unary: q zero bits then a one bit
        while q >= 32:
            self.write(0, 32)
            q -= 32
        self.write(1, q + 1)

    def align(self) -> None:
        if self.nbits:
            self.write(0, 8 - self.nbits)

    def bytes(self) -> bytes:
        assert self.nbits == 0, "unaligned"
        return bytes(self.buf)


class _BitReader:
    def __init__(self, data: bytes, pos: int = 0) -> None:
        self.data = data
        self.byte = pos
        self.bit = 0

    def read(self, bits: int) -> int:
        v = 0
        while bits:
            if self.byte >= len(self.data):
                raise ValueError("flac: truncated stream")
            avail = 8 - self.bit
            take = min(bits, avail)
            cur = self.data[self.byte]
            v = (v << take) | ((cur >> (avail - take)) & ((1 << take) - 1))
            self.bit += take
            if self.bit == 8:
                self.bit = 0
                self.byte += 1
            bits -= take
        return v

    def read_signed(self, bits: int) -> int:
        v = self.read(bits)
        if v >= 1 << (bits - 1):
            v -= 1 << bits
        return v

    def read_unary(self) -> int:
        q = 0
        while self.read(1) == 0:
            q += 1
        return q

    def align(self) -> None:
        if self.bit:
            self.bit = 0
            self.byte += 1


def _crc8(data: bytes) -> int:
    crc = 0
    for b in data:
        crc ^= b
        for _ in range(8):
            crc = ((crc << 1) ^ 0x07) & 0xFF if crc & 0x80 else (crc << 1) & 0xFF
    return crc


def _crc16(data: bytes) -> int:
    crc = 0
    for b in data:
        crc ^= b << 8
        for _ in range(8):
            crc = ((crc << 1) ^ 0x8005) & 0xFFFF if crc & 0x8000 else (crc << 1) & 0xFFFF
    return crc


def _utf8_coded(n: int) -> bytes:
    """The spec's UTF-8-style extensible coded number (frame index).

    An nbytes-long encoding carries (7 - nbytes) leading-byte payload
    bits plus 6 per continuation byte = 11/16/21/26/31/36 bits for
    nbytes 2..7."""
    if n < 0x80:
        return bytes([n])
    for nbytes in range(2, 8):
        if n < (1 << ((7 - nbytes) + 6 * (nbytes - 1))):
            break
    else:
        raise ValueError("flac: coded number out of range")
    cont = []
    for _ in range(nbytes - 1):
        cont.append(0x80 | (n & 0x3F))
        n >>= 6
    lead_prefix = (0xFF << (8 - nbytes)) & 0xFF
    return bytes([lead_prefix | n] + cont[::-1])


def _read_utf8_coded(br: _BitReader) -> int:
    first = br.read(8)
    if first < 0x80:
        return first
    nbytes = 0
    mask = 0x80
    while first & mask:
        nbytes += 1
        mask >>= 1
    if nbytes < 2 or nbytes > 7:
        raise ValueError("flac: bad coded number")
    v = first & (0xFF >> (nbytes + 1))
    for _ in range(nbytes - 1):
        b = br.read(8)
        if b & 0xC0 != 0x80:
            raise ValueError("flac: bad coded-number continuation")
        v = (v << 6) | (b & 0x3F)
    return v


def _zigzag(r: np.ndarray) -> np.ndarray:
    return np.where(r >= 0, 2 * r, -2 * r - 1).astype(np.int64)


def _fixed_residual(y: np.ndarray, order: int) -> np.ndarray:
    r = y.astype(np.int64)
    for _ in range(order):
        r = np.diff(r)
    return r


def _best_rice_param(u: np.ndarray) -> int:
    best_k, best_bits = 0, None
    for k in range(15):
        bits = int(np.sum(u >> k)) + len(u) * (k + 1)
        if best_bits is None or bits < best_bits:
            best_k, best_bits = k, bits
    return best_k


def _write_residual(bw: _BitWriter, res: np.ndarray, blocksize: int,
                    order: int, partition_order: int) -> None:
    bw.write(0b00, 2)  # rice method, 4-bit params
    bw.write(partition_order, 4)
    nparts = 1 << partition_order
    psize = blocksize >> partition_order
    pos = 0
    for p in range(nparts):
        cnt = psize - order if p == 0 else psize
        part = res[pos:pos + cnt]
        pos += cnt
        u = _zigzag(part)
        k = _best_rice_param(u)
        # escape to raw if rice would be pathological (keeps the
        # decoder's escape path honest — exercised when residuals are
        # huge relative to 14-bit params)
        raw_bits = int(np.max(np.abs(part)) if len(part) else 0).bit_length() + 1
        rice_bits = int(np.sum(u >> k)) + len(u) * (k + 1)
        if len(part) and rice_bits > raw_bits * len(part):
            if raw_bits > 31:
                # 5-bit width field; writing would silently truncate
                # to raw_bits&31 and emit an undecodable stream
                raise ValueError("flac: residual too wide for raw escape")
            bw.write(0b1111, 4)
            bw.write(raw_bits, 5)
            for r in part:
                bw.write(int(r), raw_bits)
        else:
            bw.write(k, 4)
            for uu in u:
                bw.write_unary(int(uu) >> k)
                bw.write(int(uu), k)
    if pos != len(res):
        raise ValueError("flac: partition layout mismatch")


def _read_residual(br: _BitReader, blocksize: int, order: int) -> list[int]:
    method = br.read(2)
    if method not in (0b00, 0b01):
        raise ValueError("flac: reserved residual method")
    plen = 4 if method == 0b00 else 5
    partition_order = br.read(4)
    nparts = 1 << partition_order
    psize = blocksize >> partition_order
    out: list[int] = []
    for p in range(nparts):
        cnt = psize - order if p == 0 else psize
        if cnt < 0:
            raise ValueError("flac: bad partition order")
        k = br.read(plen)
        if k == (1 << plen) - 1:  # escape: raw binary
            raw_bits = br.read(5)
            for _ in range(cnt):
                out.append(br.read_signed(raw_bits) if raw_bits else 0)
        else:
            for _ in range(cnt):
                q = br.read_unary()
                u = (q << k) | br.read(k)
                out.append((u >> 1) ^ -(u & 1))
    return out


def _lpc_analyze(block: np.ndarray, order: int):
    """Levinson-Durbin over the rectangular-window autocorrelation.

    Returns (quantized coeffs list, shift) or None when the block is
    degenerate (zero energy / unstable recursion) — analysis is FLOAT,
    but only to CHOOSE coefficients; the written stream is integer."""
    x = block.astype(np.float64)
    n = len(x)
    if n <= order:
        return None
    autoc = np.array(
        [float(np.dot(x[: n - lag], x[lag:])) for lag in range(order + 1)]
    )
    if autoc[0] <= 0.0:
        return None
    err = autoc[0]
    a = np.zeros(order + 1)
    a[0] = 1.0
    for i in range(1, order + 1):
        acc = autoc[i] + float(np.dot(a[1:i], autoc[i - 1:0:-1]))
        if err <= 0.0 or not np.isfinite(err):
            return None
        k = -acc / err
        a[1:i + 1] = a[1:i + 1] + k * a[i - 1::-1][:i]
        err *= 1.0 - k * k
    coefs = -a[1:order + 1]  # prediction: y_t ~= sum(c_j * y_{t-1-j})
    cmax = float(np.max(np.abs(coefs)))
    if cmax == 0.0 or not np.isfinite(cmax):
        return None
    # pick the largest shift keeping every quantized coef in precision
    shift = _LPC_PRECISION - 1 - (int(np.floor(np.log2(cmax))) + 1)
    shift = max(0, min(14, shift))
    lim = 1 << (_LPC_PRECISION - 1)
    qc = [int(np.clip(round(c * (1 << shift)), -lim, lim - 1)) for c in coefs]
    if all(c == 0 for c in qc):
        return None
    return qc, shift


def _lpc_residual(block: np.ndarray, qc: list[int], shift: int) -> np.ndarray:
    """Exact-integer LPC residual: r_t = y_t - (sum(qc_j*y_{t-1-j})>>shift).

    numpy's >> on int64 is arithmetic (floor), matching the decoder's
    python-int >> — products stay far inside int64 (|y|<2^17, |qc|<2^11,
    order<=8 -> |pred|<2^31)."""
    order = len(qc)
    y = block.astype(np.int64)
    pred = np.zeros(len(y) - order, dtype=np.int64)
    for j, c in enumerate(qc):
        pred += c * y[order - 1 - j:len(y) - 1 - j]
    return y[order:] - (pred >> shift)


def _best_fixed(block: np.ndarray):
    """Cheapest fixed-order plan for a block: (cost, order, res) or
    None when the block is too short for order 0 (empty). Cost metric
    = sum(|residual|), the classic order-selection estimator."""
    bs = len(block)
    best = None
    for order in range(5):
        if bs <= order:
            continue
        res = _fixed_residual(block, order)
        cost = int(np.sum(np.abs(res)))
        if best is None or cost < best[0]:
            best = (cost, order, res)
    return best


def _subframe_plan(block: np.ndarray, predictor: str):
    """Choose the cheapest encoding for one channel's block.

    Returns ('constant', v) | ('verbatim',) | ('fixed', order, res)
    | ('lpc', qc, shift, res). predictor='lpc' skips the fixed
    candidates entirely, pinning the LPC path (coverage knob for
    op251/tests); 'auto' lets the cost estimator decide."""
    bs = len(block)
    if bs and np.all(block == block[0]):
        return ("constant", int(block[0]))
    best = None  # (cost, plan)
    if predictor in ("auto", "fixed"):
        fx = _best_fixed(block)
        if fx is not None:
            best = (fx[0], ("fixed", fx[1], fx[2]))
    if predictor in ("auto", "lpc"):
        order = min(_MAX_LPC_ORDER, bs - 1)
        if order >= 1:
            lpc = _lpc_analyze(block, order)
            if lpc is not None:
                qc, shift = lpc
                res = _lpc_residual(block, qc, shift)
                # the raw-escape width field is 5 bits (<=31); a
                # pathological quantization (|qc| near the 2^11 clamp
                # at shift 0) could need more — reject that candidate
                # rather than emit an unrepresentable residual
                if (len(res) == 0
                        or int(np.max(np.abs(res))).bit_length() + 1 <= 31):
                    cost = int(np.sum(np.abs(res)))
                    if best is None or cost < best[0]:
                        best = (cost, ("lpc", qc, shift, res))
    if best is None:
        return ("verbatim",)
    return best[1]


def _write_subframe(fw: _BitWriter, block: np.ndarray, bps: int,
                    frame_no: int, predictor: str) -> None:
    """One subframe: wasted-bits header, type, warmup, residual."""
    bs = len(block)
    block = block.astype(np.int64)
    # wasted bits: largest w with every sample divisible by 2^w
    # (zeros are divisible by anything, so only nonzero samples bound w)
    wasted = 0
    nz = block[block != 0]
    if len(nz):
        while (wasted < bps - 1
               and not np.any(nz & ((1 << (wasted + 1)) - 1))):
            wasted += 1
    if wasted:
        block = block >> wasted
        bps -= wasted

    plan = _subframe_plan(block, predictor)
    fw.write(0, 1)  # pad bit
    if plan[0] == "constant":
        fw.write(0b000000, 6)
    elif plan[0] == "verbatim":
        fw.write(0b000001, 6)
    elif plan[0] == "fixed":
        fw.write(0b001000 | plan[1], 6)
    else:  # lpc
        fw.write(0b100000 | (len(plan[1]) - 1), 6)
    if wasted:
        fw.write(1, 1)
        fw.write_unary(wasted - 1)
    else:
        fw.write(0, 1)

    if plan[0] == "constant":
        fw.write(plan[1], bps)
        return
    if plan[0] == "verbatim":
        for v in block:
            fw.write(int(v), bps)
        return
    if plan[0] == "fixed":
        order, res = plan[1], plan[2]
    else:
        qc, shift, res = plan[1], plan[2], plan[3]
        order = len(qc)
    for wsamp in block[:order]:
        fw.write(int(wsamp), bps)
    if plan[0] == "lpc":
        fw.write(_LPC_PRECISION - 1, 4)
        fw.write(shift, 5)
        for c in qc:
            fw.write(c, _LPC_PRECISION)
    partition_order = 1 if (frame_no % 2 == 1 and bs % 2 == 0
                            and bs // 2 > order) else 0
    _write_residual(fw, res, bs, order, partition_order)


def _read_subframe(br: _BitReader, bs: int, bps: int) -> list[int]:
    if br.read(1) != 0:
        raise ValueError("flac: bad subframe pad bit")
    stype = br.read(6)
    wasted = 0
    if br.read(1):
        wasted = br.read_unary() + 1
        if wasted >= bps:
            raise ValueError("flac: wasted bits exceed sample depth")
        bps -= wasted
    if stype == 0b000000:  # constant
        v = br.read_signed(bps)
        block = [v] * bs
    elif stype == 0b000001:  # verbatim
        block = [br.read_signed(bps) for _ in range(bs)]
    elif 0b001000 <= stype <= 0b001100:  # fixed
        order = stype & 0x07
        warm = [br.read_signed(bps) for _ in range(order)]
        res = _read_residual(br, bs, order)
        block = list(warm)
        coeffs = _FIXED_COEFFS[order]
        for r in res:
            v = r + sum(c * block[-1 - j] for j, c in enumerate(coeffs))
            block.append(v)
    elif stype >= 0b100000:  # LPC, order = low 5 bits + 1
        order = (stype & 0x1F) + 1
        warm = [br.read_signed(bps) for _ in range(order)]
        precision = br.read(4) + 1
        if precision == 16:
            raise ValueError("flac: invalid LPC precision code")
        shift = br.read_signed(5)
        if shift < 0:
            raise ValueError("flac: negative LPC shift unsupported")
        qc = [br.read_signed(precision) for _ in range(order)]
        res = _read_residual(br, bs, order)
        block = list(warm)
        for r in res:
            pred = sum(c * block[-1 - j] for j, c in enumerate(qc))
            block.append(r + (pred >> shift))
    else:
        raise ValueError("flac: reserved subframe type")
    if wasted:
        block = [v << wasted for v in block]
    return block


def _est_cost(block: np.ndarray) -> int:
    """Stereo-mode chooser cost: best fixed-order sum(|res|)."""
    fx = _best_fixed(block)
    return fx[0] if fx is not None else 0


def encode_flac(samples: np.ndarray, sample_rate: int, blocksize: int = 256,
                predictor: str = "auto", stereo_mode: str = "auto") -> bytes:
    """Encode an int16 signal as a conformant FLAC stream.

    samples: shape (n,) mono or (n, 2) stereo (column 0 = left).
    predictor: 'auto' (cheapest of fixed/LPC), 'fixed' (orders 0-4
    only), or 'lpc' (pin the LPC path).
    stereo_mode: 'auto' (cheapest by residual estimate) or one of
    'independent', 'left_side', 'right_side', 'mid_side' to pin a
    decorrelation layout (coverage knob). Partition order alternates
    0/1 across frames so both residual layouts appear in every
    multi-frame stream."""
    if samples.dtype != np.int16:
        raise ValueError("flac: int16 samples only")
    if not 16 <= blocksize <= 65535:
        # the frame header and STREAMINFO carry blocksize in 16-bit
        # fields; _BitWriter masks silently, so an oversized value
        # used to emit a CORRUPT stream (wrong frame boundaries) that
        # failed only later with a confusing CRC error — the one
        # unguarded knob while rate/predictor/stereo_mode/dtype all
        # reject loudly (spec max 65535, streaming min 16)
        raise ValueError(
            f"flac: blocksize must be in [16, 65535], got {blocksize}"
        )
    if samples.ndim == 1:
        channels = 1
    elif samples.ndim == 2 and samples.shape[1] == 2:
        channels = 2
    else:
        raise ValueError("flac: mono (n,) or stereo (n,2) only")
    if sample_rate not in _RATE_CODES:
        raise ValueError(f"flac: unsupported rate {sample_rate}")
    if predictor not in ("auto", "fixed", "lpc"):
        raise ValueError(f"flac: unknown predictor {predictor}")
    if stereo_mode not in ("auto", "independent", "left_side",
                           "right_side", "mid_side"):
        raise ValueError(f"flac: unknown stereo_mode {stereo_mode}")
    n = len(samples)
    md5 = hashlib.md5(samples.astype("<i2").tobytes()).digest()

    out = bytearray()
    out += _MAGIC
    # STREAMINFO, last-metadata-block flag set
    si = _BitWriter()
    si.write(blocksize, 16)          # min blocksize
    si.write(blocksize, 16)          # max blocksize
    si.write(0, 24)                  # min framesize unknown
    si.write(0, 24)                  # max framesize unknown
    si.write(sample_rate, 20)
    si.write(channels - 1, 3)
    si.write(15, 5)                  # bps - 1 (16-bit)
    si.write(n, 36)                  # interchannel sample count
    body = si.bytes() + md5
    out.append(0x80)                 # last=1, type=0 (STREAMINFO)
    out += len(body).to_bytes(3, "big")
    out += body

    frame_no = 0
    for start in range(0, n, blocksize):
        block = samples[start:start + blocksize].astype(np.int64)
        bs = len(block)

        if channels == 1:
            chan_code = 0b0000
            subblocks = [(block, 16)]
        else:
            left, right = block[:, 0], block[:, 1]
            side = left - right
            mid = (left + right) >> 1
            mode = stereo_mode
            if mode == "auto":
                cl, cr = _est_cost(left), _est_cost(right)
                cs, cm = _est_cost(side), _est_cost(mid)
                mode, best = "independent", cl + cr
                for cand, cost in (("left_side", cl + cs),
                                   ("right_side", cr + cs),
                                   ("mid_side", cm + cs)):
                    if cost < best:
                        mode, best = cand, cost
            if mode == "independent":
                chan_code = 0b0001
                subblocks = [(left, 16), (right, 16)]
            elif mode == "left_side":
                chan_code = _CH_LEFT_SIDE
                subblocks = [(left, 16), (side, 17)]
            elif mode == "right_side":
                chan_code = _CH_RIGHT_SIDE
                subblocks = [(side, 17), (right, 16)]
            else:
                chan_code = _CH_MID_SIDE
                subblocks = [(mid, 16), (side, 17)]

        hdr = _BitWriter()
        hdr.write(_SYNC, 14)
        hdr.write(0, 1)              # reserved
        hdr.write(0, 1)              # fixed-blocksize stream
        hdr.write(0b0111, 4)         # blocksize: explicit 16-bit follows
        hdr.write(_RATE_CODES[sample_rate], 4)
        hdr.write(chan_code, 4)
        hdr.write(0b100, 3)          # 16 bps
        hdr.write(0, 1)              # reserved
        for b in _utf8_coded(frame_no):
            hdr.write(b, 8)
        hdr.write(bs - 1, 16)
        hbytes = hdr.bytes()
        fw = _BitWriter()
        for b in hbytes:
            fw.write(b, 8)
        fw.write(_crc8(hbytes), 8)

        for sub, bps in subblocks:
            _write_subframe(fw, sub, bps, frame_no, predictor)
        fw.align()
        fbytes = fw.bytes()
        out += fbytes
        out += struct.pack(">H", _crc16(fbytes))
        frame_no += 1
    return bytes(out)


def decode_flac(payload: bytes) -> tuple[int, np.ndarray]:
    """Decode a 16-bit FLAC stream -> (sample_rate, int16 samples).

    Returns samples shaped (n,) for mono, (n, 2) for stereo (column 0
    = left). Verifies every frame's CRC-8 + CRC-16 and the stream MD5
    from STREAMINFO against the decoded interleaved samples (the
    spec's losslessness contract); raises ValueError on any mismatch
    or unsupported feature rather than guessing."""
    if payload[:4] != _MAGIC:
        raise ValueError("flac: bad magic")
    pos = 4
    streaminfo = None
    while True:
        if pos + 4 > len(payload):
            raise ValueError("flac: truncated stream (metadata header)")
        hdr = payload[pos]
        last, btype = hdr >> 7, hdr & 0x7F
        blen = int.from_bytes(payload[pos + 1:pos + 4], "big")
        body = payload[pos + 4:pos + 4 + blen]
        if btype == 0:
            si = _BitReader(body)
            si.read(16)
            si.read(16)
            si.read(24)
            si.read(24)
            rate = si.read(20)
            channels = si.read(3) + 1
            bps = si.read(5) + 1
            total = si.read(36)
            md5 = body[18:34]
            streaminfo = (rate, channels, bps, total, md5)
        pos += 4 + blen
        if last:
            break
    if streaminfo is None:
        raise ValueError("flac: missing STREAMINFO")
    rate, channels, bps, total, md5 = streaminfo
    if channels not in (1, 2) or bps != 16:
        raise ValueError("flac: only mono/stereo 16-bit supported")

    frames: list[np.ndarray] = []
    while pos < len(payload):
        frame_start = pos
        br = _BitReader(payload, pos)
        if br.read(14) != _SYNC:
            raise ValueError("flac: lost frame sync")
        br.read(1)
        blocking = br.read(1)
        bs_code = br.read(4)
        rate_code = br.read(4)
        chan = br.read(4)
        size_code = br.read(3)
        br.read(1)
        if blocking != 0:
            raise ValueError("flac: variable blocksize unsupported")
        if size_code != 0b100:
            raise ValueError("flac: only 16 bps supported")
        if chan <= 0b0111:
            nch, mode = chan + 1, "independent"
        elif chan == _CH_LEFT_SIDE:
            nch, mode = 2, "left_side"
        elif chan == _CH_RIGHT_SIDE:
            nch, mode = 2, "right_side"
        elif chan == _CH_MID_SIDE:
            nch, mode = 2, "mid_side"
        else:
            raise ValueError("flac: reserved channel assignment")
        if nch != channels:
            # channels was validated to 1/2 from STREAMINFO, so this
            # also rejects >2-channel frames
            raise ValueError("flac: frame/stream channel-count mismatch")
        _frame_no = _read_utf8_coded(br)
        if bs_code == 0b0110:
            bs = br.read(8) + 1
        elif bs_code == 0b0111:
            bs = br.read(16) + 1
        elif bs_code == 0b0001:
            bs = 192
        elif 0b0010 <= bs_code <= 0b0101:
            bs = 576 << (bs_code - 2)
        elif bs_code >= 0b1000:
            bs = 256 << (bs_code - 8)
        else:
            raise ValueError("flac: reserved blocksize code")
        if rate_code in _CODE_RATES:
            frate = _CODE_RATES[rate_code]
        elif rate_code == 0b0000:
            frate = rate
        else:
            raise ValueError("flac: unsupported rate code")
        if frate != rate:
            raise ValueError("flac: frame/stream rate mismatch")
        br.align()
        if br.byte >= len(payload):
            raise ValueError("flac: truncated stream (header CRC missing)")
        if _crc8(payload[frame_start:br.byte]) != payload[br.byte]:
            raise ValueError("flac: frame header CRC-8 mismatch")
        br.byte += 1

        if channels == 1:
            block = _read_subframe(br, bs, 16)
            frame = np.asarray(block, dtype=np.int64).reshape(-1, 1)
        else:
            # side channel carries the difference: +1 bit of depth
            bps0 = 17 if mode == "right_side" else 16
            bps1 = 17 if mode in ("left_side", "mid_side") else 16
            ch0 = np.asarray(_read_subframe(br, bs, bps0), dtype=np.int64)
            ch1 = np.asarray(_read_subframe(br, bs, bps1), dtype=np.int64)
            if mode == "independent":
                left, right = ch0, ch1
            elif mode == "left_side":
                left = ch0
                right = ch0 - ch1
            elif mode == "right_side":
                right = ch1
                left = ch1 + ch0
            else:  # mid_side: m2 = (mid<<1)|(side&1); L=(m2+s)>>1; R=(m2-s)>>1
                m2 = (ch0 << 1) | (ch1 & 1)
                left = (m2 + ch1) >> 1
                right = (m2 - ch1) >> 1
            frame = np.stack([left, right], axis=1)
        br.align()
        if br.byte + 2 > len(payload):
            raise ValueError("flac: truncated stream (frame CRC missing)")
        if _crc16(payload[frame_start:br.byte]) != struct.unpack(
            ">H", payload[br.byte:br.byte + 2]
        )[0]:
            raise ValueError("flac: frame CRC-16 mismatch")
        pos = br.byte + 2
        frames.append(frame)

    s = (np.concatenate(frames, axis=0) if frames
         else np.zeros((0, channels), dtype=np.int64))
    if total and len(s) != total:
        raise ValueError("flac: sample count mismatch vs STREAMINFO")
    if np.any(s > 32767) or np.any(s < -32768):
        raise ValueError("flac: decoded sample out of int16 range")
    s16 = s.astype(np.int16)
    if hashlib.md5(s16.astype("<i2").tobytes()).digest() != md5:
        raise ValueError("flac: stream MD5 mismatch (lossy decode?)")
    return rate, (s16[:, 0] if channels == 1 else s16)
