"""Real binary codecs for the multimodal family: PCM WAV and 24-bit
uncompressed BMP, implemented with struct+numpy only (both formats are
public specifications simple enough to need no codec library; the
compressed formats live in jpeg.py, png.py, gif.py and flac.py).

op195–op200 synthesize standards-conformant files, decode them back
in the codec family's mapInArrow decode stage, and reduce them to
integer features that a closed-form DuckDB oracle recomputes from the
generation formulas — so the decode path itself is hash-certified.
`tests/test_codecs.py` additionally proves WAV interop BOTH ways
against the stdlib `wave` module (our bytes parse there; its bytes
parse here).
"""

from __future__ import annotations

import struct

import numpy as np


# ------------------------------------------------------------------ WAV

def encode_wav(samples: np.ndarray, sample_rate: int) -> bytes:
    """Canonical 44-byte-header mono PCM16 WAV (RIFF/WAVE/fmt/data)."""
    pcm = np.asarray(samples, dtype="<i2").tobytes()
    n_channels, bits = 1, 16
    block_align = n_channels * bits // 8
    byte_rate = sample_rate * block_align
    hdr = b"RIFF" + struct.pack("<I", 36 + len(pcm)) + b"WAVE"
    fmt = b"fmt " + struct.pack(
        "<IHHIIHH", 16, 1, n_channels, sample_rate, byte_rate, block_align, bits
    )
    data = b"data" + struct.pack("<I", len(pcm)) + pcm
    return hdr + fmt + data


def decode_wav(payload: bytes) -> tuple[int, int, int, np.ndarray]:
    """Parse any PCM16 RIFF/WAVE file (chunk-walking, so extra chunks
    like LIST/INFO that other encoders emit are skipped correctly).
    Returns (sample_rate, n_channels, n_samples_per_channel, samples
    as int16 array, channel-interleaved)."""
    if len(payload) < 12:
        raise ValueError("wav: truncated RIFF header")
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    pos, end = 12, 8 + struct.unpack_from("<I", payload, 4)[0]
    sample_rate = n_channels = bits = None
    pcm = None
    while pos + 8 <= min(end, len(payload)):
        cid = payload[pos : pos + 4]
        size = struct.unpack_from("<I", payload, pos + 4)[0]
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            if len(body) < 16:
                raise ValueError("wav: truncated fmt chunk")
            fmt_tag, n_channels, sample_rate, _, _, bits = struct.unpack_from(
                "<HHIIHH", body
            )
            if fmt_tag != 1 or bits != 16:
                raise ValueError(f"only PCM16 supported, got tag={fmt_tag} bits={bits}")
            if n_channels < 1:
                raise ValueError("wav: zero channels")
        elif cid == b"data":
            if len(body) != size:
                # a truncated file would otherwise return FEWER
                # samples with no error (review finding: the chunk
                # walk's min(end, len) bound exits quietly)
                raise ValueError("wav: truncated data chunk")
            pcm = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if sample_rate is None or pcm is None:
        raise ValueError("missing fmt or data chunk")
    samples = np.frombuffer(pcm, dtype="<i2")
    if len(samples) % n_channels:
        raise ValueError("wav: data chunk not a whole number of frames")
    return sample_rate, n_channels, len(samples) // n_channels, samples


# ------------------------------------------------------------------ BMP

def encode_bmp(pixels: np.ndarray) -> bytes:
    """24-bit uncompressed bottom-up BMP (BITMAPINFOHEADER). pixels is
    (height, width, 3) uint8 in RGB order, row 0 = TOP row (the
    encoder flips to the format's bottom-up layout)."""
    h, w, _ = pixels.shape
    row_len = (w * 3 + 3) & ~3  # rows pad to 4 bytes
    img_size = row_len * h
    bgr = pixels[::-1, :, ::-1]  # bottom-up, RGB->BGR
    rows = []
    pad = b"\x00" * (row_len - w * 3)
    for r in range(h):
        rows.append(bgr[r].tobytes() + pad)
    body = b"".join(rows)
    file_header = b"BM" + struct.pack("<IHHI", 54 + img_size, 0, 0, 54)
    info_header = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, img_size, 2835, 2835, 0, 0
    )
    return file_header + info_header + body


def decode_bmp(payload: bytes) -> tuple[int, int, np.ndarray]:
    """Parse a 24-bit uncompressed BMP. Returns (width, height, pixels
    as (height, width, 3) uint8 RGB, row 0 = TOP row). Handles the
    standard bottom-up layout and negative-height top-down files."""
    if payload[:2] != b"BM":
        raise ValueError("not a BMP file")
    if len(payload) < 34:
        # full file header (14) + the BITMAPINFOHEADER fields we
        # unpack below — a shorter buffer would leak struct.error
        # out of the catalog step (truncation fuzz)
        raise ValueError("bmp: truncated header")
    data_offset = struct.unpack_from("<I", payload, 10)[0]
    hdr_size, w, h = struct.unpack_from("<Iii", payload, 14)
    planes, bpp, compression = struct.unpack_from("<HHI", payload, 26)
    if hdr_size < 40 or bpp != 24 or compression != 0:
        raise ValueError(f"only 24bpp uncompressed supported (bpp={bpp})")
    top_down = h < 0
    h = abs(h)
    if w <= 0 or h == 0:
        # w=-1 would otherwise make row_len 0 and numpy infer the -1
        # in reshape, returning garbage metadata + an empty array
        # with no error (review finding)
        raise ValueError(f"bmp: bad dimensions {w}x{h}")
    row_len = (w * 3 + 3) & ~3
    # data_offset locates the pixel data and was trusted blindly: a
    # corrupt offset pointing INTO the header silently decoded header
    # bytes as pixels, and one past the buffer leaked numpy's generic
    # error instead of this module's taxonomy
    if data_offset < 54 or data_offset + row_len * h > len(payload):
        raise ValueError(
            f"bmp: data offset {data_offset} out of bounds for "
            f"{row_len * h} pixel bytes in a {len(payload)}-byte file"
        )
    rows = np.frombuffer(
        payload, dtype=np.uint8, count=row_len * h, offset=data_offset
    ).reshape(h, row_len)[:, : w * 3].reshape(h, w, 3)
    bgr = rows if top_down else rows[::-1]
    return w, h, bgr[:, :, ::-1].copy()
