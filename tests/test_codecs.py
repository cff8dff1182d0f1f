"""Codec round-trips + third-party interop for sources/codecs.py.

The WAV interop tests are the load-bearing ones: they prove the
decoder parses REAL files (stdlib `wave` encoder output, which adds
nothing beyond the canonical layout but is an independent
implementation) and that our encoder's bytes are accepted by an
independent parser — i.e. these are genuinely the public formats, not
a private container format."""

from __future__ import annotations

import io
import struct
import wave

import numpy as np

from ocdb_server_spark.sources.codecs import (
    decode_bmp,
    decode_wav,
    encode_bmp,
    encode_wav,
)


def _samples(n=777, seed=5):
    rng = np.random.default_rng(seed)
    return rng.integers(-32768, 32767, size=n, dtype=np.int16)


def test_wav_roundtrip():
    s = _samples()
    rate, ch, n, back = decode_wav(encode_wav(s, 8000))
    assert (rate, ch, n) == (8000, 1, len(s))
    assert np.array_equal(back, s)


def test_wav_decodes_stdlib_wave_output():
    s = _samples(1234, seed=9)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(16000)
        w.writeframes(s.tobytes())
    rate, ch, n, back = decode_wav(buf.getvalue())
    assert (rate, ch, n) == (16000, 1, len(s))
    assert np.array_equal(back, s)


def test_stdlib_wave_decodes_our_encoder():
    s = _samples(500, seed=3)
    with wave.open(io.BytesIO(encode_wav(s, 22050)), "rb") as w:
        assert w.getframerate() == 22050
        assert w.getnchannels() == 1
        assert w.getsampwidth() == 2
        assert w.getnframes() == len(s)
        assert np.array_equal(
            np.frombuffer(w.readframes(len(s)), dtype="<i2"), s
        )


def test_wav_chunk_walker_skips_extra_chunks():
    """Real encoders often append LIST/INFO chunks; the walker must
    step over them (word-aligned) and still find fmt/data."""
    s = _samples(100, seed=1)
    base = encode_wav(s, 8000)
    # splice a LIST chunk with odd size (forces the alignment path)
    extra = b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"
    spliced = base[:12] + extra + base[12:]
    spliced = b"RIFF" + struct.pack("<I", len(spliced) - 8) + spliced[8:]
    rate, ch, n, back = decode_wav(spliced)
    assert (rate, n) == (8000, 100)
    assert np.array_equal(back, s)


def test_bmp_roundtrip_odd_width():
    """Width 3 → 9-byte rows pad to 12: exercises the padding math."""
    rng = np.random.default_rng(11)
    px = rng.integers(0, 256, size=(5, 3, 3), dtype=np.uint8)
    w, h, back = decode_bmp(encode_bmp(px))
    assert (w, h) == (3, 5)
    assert np.array_equal(back, px)


def test_bmp_header_fields_are_spec_conformant():
    px = np.zeros((2, 2, 3), dtype=np.uint8)
    b = encode_bmp(px)
    assert b[:2] == b"BM"
    assert struct.unpack_from("<I", b, 10)[0] == 54  # pixel data offset
    assert struct.unpack_from("<I", b, 14)[0] == 40  # BITMAPINFOHEADER
    assert struct.unpack_from("<H", b, 28)[0] == 24  # bpp
    assert struct.unpack_from("<I", b, 30)[0] == 0   # BI_RGB


def test_bmp_top_down_variant():
    """Negative height = top-down rows; decoder must normalize."""
    rng = np.random.default_rng(12)
    px = rng.integers(0, 256, size=(4, 6, 3), dtype=np.uint8)
    # encode px[::-1]: the file's physical row order becomes px's
    # top-to-bottom order; marking the height negative then declares
    # that physical order IS top-down, so the decode yields px itself
    b = bytearray(encode_bmp(px[::-1]))
    struct.pack_into("<i", b, 22, -4)
    w, h, back = decode_bmp(bytes(b))
    assert (w, h) == (6, 4)
    assert np.array_equal(back, px)


# ------------------------------------------------------------------ JPEG

from ocdb_server_spark.sources.jpeg import (  # noqa: E402
    _A,
    QTABLE,
    QTABLE_ZZ,
    ZIGZAG,
    decode_jpeg_gray,
    encode_jpeg_gray,
    idct2d,
)


def fdct_quantize(pixels: np.ndarray) -> np.ndarray:
    """Forward path for lossy round-trips: (h, w) uint8 -> quantized
    zigzag coefficients (n_blocks, 64), raster block order."""
    p = np.asarray(pixels, dtype=np.float64) - 128.0
    h, w = p.shape
    out = []
    for by in range(h // 8):
        for bx in range(w // 8):
            blk = p[by * 8:(by + 1) * 8, bx * 8:(bx + 1) * 8]
            coef = _A @ blk @ _A.T  # forward DCT (orthonormal transpose)
            q = np.rint(coef / QTABLE.reshape(8, 8)).astype(np.int64).ravel()
            out.append(q[ZIGZAG])  # natural -> zigzag: zz[k] = nat[ZIGZAG[k]]
    return np.stack(out)


def _rand_coeffs(n_blocks, seed, dc_range=80, n_ac=6, ac_range=9):
    rng = np.random.RandomState(seed)
    qc = np.zeros((n_blocks, 64), dtype=np.int64)
    qc[:, 0] = rng.randint(-dc_range, dc_range + 1, n_blocks)
    for b in range(n_blocks):
        for p in rng.choice(np.arange(1, 64), n_ac, replace=False):
            qc[b, p] = rng.randint(-ac_range, ac_range + 1)
    return qc


def test_jpeg_coefficient_roundtrip_exact():
    """Entropy coding is lossless: encode known quantized coefficients,
    decode, get the identical int array back (exercises DC prediction
    with negative diffs, AC run lengths, EOB)."""
    qc = _rand_coeffs(12, seed=11)
    payload = encode_jpeg_gray(qc, 32, 24)
    w, h, got, _px = decode_jpeg_gray(payload)
    assert (w, h) == (32, 24)
    assert np.array_equal(got, qc)


def test_jpeg_zrl_and_final_coefficient():
    """>16-zero gaps force ZRL symbols; a nonzero coefficient at
    zigzag position 63 forces the no-EOB path."""
    qc = np.zeros((2, 64), dtype=np.int64)
    qc[0, 0], qc[0, 1], qc[0, 40] = 50, 3, -4   # run of 38 -> 2x ZRL
    qc[1, 0], qc[1, 63] = -17, 5                 # run 62 -> 3x ZRL, no EOB
    _w, _h, got, _px = decode_jpeg_gray(encode_jpeg_gray(qc, 16, 8))
    assert np.array_equal(got, qc)


def test_jpeg_byte_stuffing():
    """Find coefficients whose entropy stream contains 0xFF bytes (the
    stuffed case) and prove the decode still round-trips. With enough
    random blocks a 0xFF byte is statistically certain."""
    qc = _rand_coeffs(64, seed=3)
    payload = encode_jpeg_gray(qc, 64, 64)
    scan = payload[payload.index(b"\xff\xda") + 10 : -2]
    assert b"\xff\x00" in scan, "fixture must exercise byte stuffing"
    _w, _h, got, _px = decode_jpeg_gray(payload)
    assert np.array_equal(got, qc)


def test_jpeg_dc_only_pixels_exact():
    """DC-only blocks decode to flat pixels 2*qdc + 128 EXACTLY (the
    closed form op203's oracle relies on)."""
    qc = np.zeros((4, 64), dtype=np.int64)
    qc[:, 0] = [-63, -1, 0, 63]
    _w, _h, _qc, px = decode_jpeg_gray(encode_jpeg_gray(qc, 16, 16))
    for b, dc in enumerate([-63, -1, 0, 63]):
        blk = px[(b // 2) * 8 : (b // 2) * 8 + 8, (b % 2) * 8 : (b % 2) * 8 + 8]
        assert np.all(blk == dc * 2 + 128)


def test_jpeg_dezigzag_orientation():
    """A single AC coefficient at zigzag position 1 (natural position
    (0,1) = horizontal frequency) must produce a block that varies
    along x and is CONSTANT along y — catches a transposed de-zigzag
    or IDCT that a flat/roundtrip test cannot see."""
    qc = np.zeros((1, 64), dtype=np.int64)
    qc[0, 1] = 20  # zigzag 1 -> natural index 1 -> (row 0, col 1)
    _w, _h, _qc, px = decode_jpeg_gray(encode_jpeg_gray(qc, 8, 8))
    assert np.all(px == px[0:1, :]), "rows must be identical (no y variation)"
    assert px[0, 0] != px[0, 7], "must vary along x"
    # and the exact values match a direct IDCT of the natural-order block
    nat = np.zeros(64)
    nat[1] = 20 * QTABLE_ZZ[1]
    ref = np.clip(np.rint(idct2d(nat.reshape(8, 8)) + 128.0), 0, 255)
    assert np.array_equal(px.astype(np.float64), ref)


def test_jpeg_lossy_roundtrip_bounded_error():
    """pixels -> fdct_quantize -> encode -> decode stays within the
    quantization error envelope for a smooth image."""
    img = np.clip(
        np.add.outer(np.arange(24) * 3, np.arange(32) * 2) + 40, 0, 255
    ).astype(np.uint8)
    qc = fdct_quantize(img)
    _w, _h, _qc, back = decode_jpeg_gray(encode_jpeg_gray(qc, 32, 24))
    assert np.abs(back.astype(int) - img.astype(int)).max() <= 8


def test_jpeg_zigzag_table_is_involution_consistent():
    """ZIGZAG maps zigzag index -> natural index and must be a
    permutation whose first entries follow the spec's scan."""
    assert sorted(ZIGZAG.tolist()) == list(range(64))
    assert ZIGZAG[:8].tolist() == [0, 1, 8, 16, 9, 2, 3, 10]
    assert np.array_equal(QTABLE_ZZ, QTABLE[ZIGZAG])


def _imageio_decode(spark, payload: bytes):
    jvm = spark._jvm
    bais = jvm.java.io.ByteArrayInputStream(bytearray(payload))
    img = jvm.javax.imageio.ImageIO.read(bais)
    assert img is not None, "javax.imageio could not parse our JPEG"
    w, h = img.getWidth(), img.getHeight()
    raster = img.getRaster()
    out = np.empty((h, w), dtype=np.int64)
    for y in range(h):
        for x in range(w):
            out[y, x] = raster.getSample(x, y, 0)
    return out


def test_jpeg_imageio_interop_dc_exact(spark):
    """INTEROP (the compressed-format analog of the stdlib-wave WAV
    proof): the JVM's javax.imageio — an independent public baseline-
    JPEG implementation shipped with JDK 17 — must parse our encoder's
    bytes, and on DC-only images (exact flat blocks, no IDCT rounding
    freedom) agree pixel-for-pixel."""
    qc = np.zeros((6, 64), dtype=np.int64)
    for b in range(6):
        qc[b, 0] = (b * 17) % 127 - 63
    payload = encode_jpeg_gray(qc, 24, 16)
    _w, _h, _qc, mine = decode_jpeg_gray(payload)
    theirs = _imageio_decode(spark, payload)
    assert np.array_equal(mine.astype(np.int64), theirs)


def test_jpeg_imageio_interop_ac_within_one(spark):
    """On AC-rich images the two independent IDCTs may differ by ±1
    per pixel (T.81 leaves IDCT accuracy implementation-defined within
    tolerance); anything larger means a real decode bug."""
    qc = _rand_coeffs(4, seed=3, dc_range=60, n_ac=5, ac_range=6)
    payload = encode_jpeg_gray(qc, 16, 16)
    _w, _h, _qc, mine = decode_jpeg_gray(payload)
    theirs = _imageio_decode(spark, payload)
    assert np.abs(mine.astype(int) - theirs.astype(int)).max() <= 1


# ------------------------------------------------------------------- PNG

import pytest  # noqa: E402

from ocdb_server_spark.sources.png import (  # noqa: E402
    decode_png_gray,
    encode_png_gray,
)


def _png_img(h=23, w=31, seed=0):
    rng = np.random.RandomState(seed)
    return rng.randint(0, 256, (h, w), dtype=np.uint8)


def test_png_roundtrip_all_filters_cycled():
    img = _png_img()
    w, h, back = decode_png_gray(encode_png_gray(img))
    assert (w, h) == (31, 23)
    assert np.array_equal(back, img)


@pytest.mark.parametrize("ft", [0, 1, 2, 3, 4])
def test_png_roundtrip_each_filter(ft):
    """Every PNG filter type (None/Sub/Up/Average/Paeth) must
    reconstruct exactly on adversarial random data and odd widths."""
    img = _png_img(seed=ft + 1)
    _w, _h, back = decode_png_gray(encode_png_gray(img, filters=[ft] * 23))
    assert np.array_equal(back, img)


def test_png_crc_corruption_detected():
    payload = bytearray(encode_png_gray(_png_img()))
    idat = payload.index(b"IDAT")
    payload[idat + 10] ^= 0xFF  # flip a data byte, keep stored CRC
    with pytest.raises(ValueError, match="CRC"):
        decode_png_gray(bytes(payload))


def test_png_imageio_interop_two_way(spark):
    """LOSSLESS two-way interop with javax.imageio: our bytes decode
    there pixel-exact AND its bytes decode here pixel-exact — the
    strongest cross-implementation check a format allows (JPEG only
    supports the ±1 tolerance variant)."""
    img = _png_img(seed=9)
    jvm = spark._jvm
    # ours -> theirs
    bais = jvm.java.io.ByteArrayInputStream(bytearray(encode_png_gray(img)))
    jimg = jvm.javax.imageio.ImageIO.read(bais)
    assert jimg is not None
    ras = jimg.getRaster()
    theirs = np.array(
        [[ras.getSample(x, y, 0) for x in range(31)] for y in range(23)]
    )
    assert np.array_equal(theirs, img)
    # theirs -> ours
    bimg = jvm.java.awt.image.BufferedImage(
        31, 23, jvm.java.awt.image.BufferedImage.TYPE_BYTE_GRAY
    )
    wr = bimg.getRaster()
    for y in range(23):
        for x in range(31):
            wr.setSample(x, y, 0, int(img[y, x]))
    baos = jvm.java.io.ByteArrayOutputStream()
    jvm.javax.imageio.ImageIO.write(bimg, "png", baos)
    _w, _h, ours = decode_png_gray(bytes(baos.toByteArray()))
    assert np.array_equal(ours, img)


# ---------------------------------------------------------------- GIF / LZW

from ocdb_server_spark.sources.gif import decode_gif_gray, encode_gif_gray


def _gif_img(seed: int, h: int = 57, w: int = 83):
    rng = np.random.default_rng(seed)
    return rng.integers(0, 256, (h, w)).astype(np.uint8)


def test_gif_roundtrip_noise_runs_and_overflow():
    """Self-roundtrip across the LZW regimes: incompressible noise
    (literal-heavy), striped runs (deep prefixes + KwKwK), and an
    image large enough to hit 12-bit codes and a CLEAR reset."""
    rng = np.random.default_rng(7)
    cases = [
        rng.integers(0, 256, (23, 31)).astype(np.uint8),
        np.tile(np.array([[7, 7, 7, 9]], np.uint8), (50, 50)),
        ((np.arange(40)[:, None] * 3 + np.arange(33)[None, :] * 5) % 256).astype(
            np.uint8
        ),
        rng.integers(0, 256, (200, 300)).astype(np.uint8),  # 12-bit + CLEAR
        np.zeros((1, 1), np.uint8),
        np.full((3, 500), 255, np.uint8),
    ]
    for px in cases:
        w, h, out = decode_gif_gray(encode_gif_gray(px))
        assert (w, h) == (px.shape[1], px.shape[0])
        assert np.array_equal(out, px)


def test_gif_imageio_interop_two_way(spark):
    """Two-way interop with JDK-17 javax.imageio: its GIF writer emits
    INTERLACED streams (so this also certifies our 4-pass
    de-interlace), and its reader must get our compressing-LZW bytes
    back pixel-exact. Pins the width-transition semantics (decoder
    bumps at table==2^width; encoder's strict > check) against an
    independent implementation."""
    img = _gif_img(seed=3)
    h, w = img.shape
    jvm = spark._jvm
    # theirs -> ours
    bimg = jvm.java.awt.image.BufferedImage(
        w, h, jvm.java.awt.image.BufferedImage.TYPE_BYTE_GRAY
    )
    wr = bimg.getRaster()
    for y in range(h):
        for x in range(w):
            wr.setSample(x, y, 0, int(img[y, x]))
    baos = jvm.java.io.ByteArrayOutputStream()
    assert jvm.javax.imageio.ImageIO.write(bimg, "gif", baos)
    w2, h2, ours = decode_gif_gray(bytes(baos.toByteArray()))
    assert (w2, h2) == (w, h)
    assert np.array_equal(ours, img)
    # ours -> theirs
    bais = jvm.java.io.ByteArrayInputStream(bytearray(encode_gif_gray(img)))
    jimg = jvm.javax.imageio.ImageIO.read(bais)
    assert jimg is not None, "javax.imageio could not parse our GIF"
    ras = jimg.getRaster()
    theirs = np.array(
        [[ras.getSample(x, y, 0) for x in range(w)] for y in range(h)]
    )
    assert np.array_equal(theirs, img)


def test_gif_anim_roundtrip_and_sampling_shapes():
    """Multi-frame GIF89a: NETSCAPE loop block + per-frame GCE +
    full LZW per frame must round-trip every frame pixel-exact, for
    1..9 frames including low-entropy frames (deep LZW prefixes)."""
    from ocdb_server_spark.sources.gif import decode_gif_frames, encode_gif_anim

    rng = np.random.default_rng(11)
    for nf in (1, 2, 5, 9):
        frames = [
            rng.integers(0, 256, (14, 19)).astype(np.uint8) if k % 2
            else np.tile(np.array([[k * 31 % 256, 5]], np.uint8), (14, 10))[:, :19]
            for k in range(nf)
        ]
        frames = [np.ascontiguousarray(f[:, :19]) for f in frames]
        dec = decode_gif_frames(encode_gif_anim(frames))
        assert len(dec) == nf
        for k, (w, h, px) in enumerate(dec):
            assert (w, h) == (19, 14)
            assert np.array_equal(px, frames[k]), f"frame {k} drifted"
    # max_frames stops early (the single-image API path)
    dec1 = decode_gif_frames(encode_gif_anim(frames), max_frames=1)
    assert len(dec1) == 1 and np.array_equal(dec1[0][2], frames[0])


def test_gif_anim_imageio_interop(spark):
    """Our animated bytes through JDK-17 javax.imageio's GIF
    ImageReader: it must report the same frame count and return every
    frame pixel-exact — independent confirmation that the multi-frame
    container (GCE blocks between image descriptors) is conformant."""
    from ocdb_server_spark.sources.gif import encode_gif_anim

    rng = np.random.default_rng(13)
    frames = [rng.integers(0, 256, (12, 17)).astype(np.uint8) for _ in range(4)]
    jvm = spark._jvm
    bais = jvm.java.io.ByteArrayInputStream(bytearray(encode_gif_anim(frames)))
    iis = jvm.javax.imageio.ImageIO.createImageInputStream(bais)
    reader = jvm.javax.imageio.ImageIO.getImageReadersByFormatName("gif").next()
    reader.setInput(iis)
    assert reader.getNumImages(True) == len(frames)
    for k, frame in enumerate(frames):
        jimg = reader.read(k)
        ras = jimg.getRaster()
        theirs = np.array(
            [[ras.getSample(x, y, 0) for x in range(17)] for y in range(12)]
        )
        assert np.array_equal(theirs, frame), f"frame {k} mismatch"


# ------------------------------------------------------------------ FLAC

from hypothesis import given, settings, strategies as st

from ocdb_server_spark.sources.flac import decode_flac, encode_flac


def test_flac_roundtrip_exact_all_shapes():
    """Bit-exact round-trips across the shapes the encoder can emit:
    constant blocks, smooth (high fixed order wins), noise (order 0 /
    raw escape), extremes, single sample, multi-frame."""
    cases = [
        np.full(300, -5, np.int16),
        np.zeros(256, np.int16),
        (1000 * np.sin(np.arange(1000) / 20)).astype(np.int16),
        np.array([32767, -32768] * 150, np.int16),
        np.array([3], np.int16),
        np.arange(-500, 500, dtype=np.int16),
        _samples(777, seed=5),
        (2000 * np.sin(np.arange(5000) / 30)).astype(np.int16),  # 20 frames
    ]
    for s in cases:
        rate, back = decode_flac(encode_flac(s, 8000))
        assert rate == 8000
        assert np.array_equal(back, s)


def test_flac_compresses_smooth_signals():
    """The point of the codec: a predictable signal must come out
    SMALLER than raw PCM (ratio bounds, not exact sizes — those may
    drift with encoder heuristics)."""
    ramp = np.arange(-500, 500, dtype=np.int16)
    enc = encode_flac(ramp, 8000)
    assert len(enc) < 0.3 * 2 * len(ramp)
    noise = _samples(1000, seed=7)
    enc_n = encode_flac(noise, 8000)
    assert len(enc_n) < 1.3 * 2 * len(noise)  # raw escape bounds blow-up


def test_flac_corruption_detected():
    """Any flipped payload bit must fail a CRC / MD5 / sync check —
    never silently mis-decode (the decoder's whole value at scale)."""
    import pytest

    s = (2000 * np.sin(np.arange(1000) / 30)).astype(np.int16)
    enc = bytearray(encode_flac(s, 8000))
    for pos in (60, len(enc) // 2, len(enc) - 3):
        bad = bytearray(enc)
        bad[pos] ^= 0x10
        with pytest.raises(ValueError):
            decode_flac(bytes(bad))


@settings(max_examples=25, deadline=None)
@given(
    st.lists(st.integers(-32768, 32767), min_size=1, max_size=600),
    st.sampled_from([256, 192, 512]),
)
def test_flac_roundtrip_property(vals, blocksize):
    s = np.asarray(vals, dtype=np.int16)
    rate, back = decode_flac(encode_flac(s, 16000, blocksize=blocksize))
    assert rate == 16000
    assert np.array_equal(back, s)


def test_flac_streaminfo_md5_is_spec_md5():
    """STREAMINFO bytes 18..34 must be the MD5 of the raw
    little-endian samples (the spec's own losslessness check — an
    independent decoder will verify exactly this)."""
    import hashlib

    s = np.arange(100, dtype=np.int16)
    enc = encode_flac(s, 8000)
    # fLaC(4) + block header(4) + STREAMINFO: md5 at offset 8+18
    assert enc[26:42] == hashlib.md5(s.astype("<i2").tobytes()).digest()


def test_flac_lpc_roundtrip_and_wins_on_resonant_signal():
    """LPC subframes (order<=8, quantized coefficients, integer
    prediction): bit-exact regardless of quantization, and on a
    resonant signal (2-pole sinusoid — exactly what a degree-8 LPC
    models and fixed degree-4 polynomials cannot) the LPC stream must
    be smaller than the fixed-predictor stream. The frequency matters:
    a SLOW sinusoid is locally cubic and fixed-3 wins honestly; at
    w=1 rad/sample differencing stops shrinking the signal (diff gain
    2|sin(w/2)| ~= 1) while the 2-pole model still nails it."""
    k = np.arange(4000)
    s = (8000 * np.sin(k * 1.0)).astype(np.int16)
    enc_lpc = encode_flac(s, 8000, predictor="lpc")
    enc_fix = encode_flac(s, 8000, predictor="fixed")
    for enc in (enc_lpc, enc_fix, encode_flac(s, 8000, predictor="auto")):
        rate, back = decode_flac(enc)
        assert rate == 8000 and np.array_equal(back, s)
    assert len(enc_lpc) < len(enc_fix)
    # noise through the LPC path still round-trips (quantization can
    # never break losslessness, only compression)
    noise = _samples(700, seed=11)
    assert np.array_equal(decode_flac(encode_flac(noise, 8000, predictor="lpc"))[1], noise)


def test_flac_stereo_all_modes_bit_exact():
    """All four stereo layouts (independent, left/side, right/side,
    mid/side) round-trip bit-exact, including int16 extremes where the
    side channel genuinely needs its 17th bit (L=32767, R=-32768 ->
    side=65535)."""
    rng = np.random.default_rng(3)
    L = (2000 * np.sin(np.arange(900) / 7)).astype(np.int16)
    R = (L * 0.9 + rng.integers(-30, 30, 900)).astype(np.int16)
    st2 = np.stack([L, R], axis=1)
    edge = np.stack(
        [np.array([32767, -32768, 0, -1] * 80, np.int16),
         np.array([-32768, 32767, -1, 0] * 80, np.int16)], axis=1)
    for sig in (st2, edge):
        for mode in ("auto", "independent", "left_side", "right_side",
                     "mid_side"):
            rate, back = decode_flac(encode_flac(sig, 8000, stereo_mode=mode))
            assert back.shape == sig.shape
            assert np.array_equal(back, sig), mode


def test_flac_stereo_decorrelation_compresses_correlated_channels():
    """The point of decorrelation: when R ~= L the side channel is
    near-silent, so any side mode (and therefore 'auto') must beat
    coding both channels independently."""
    rng = np.random.default_rng(5)
    L = (6000 * np.sin(np.arange(2000) / 15)
         + rng.integers(-200, 200, 2000)).astype(np.int16)
    R = (L + rng.integers(-8, 8, 2000)).astype(np.int16)
    sig = np.stack([L, R], axis=1)
    enc_auto = encode_flac(sig, 8000, stereo_mode="auto")
    enc_ind = encode_flac(sig, 8000, stereo_mode="independent")
    assert len(enc_auto) < len(enc_ind)
    assert np.array_equal(decode_flac(enc_auto)[1], sig)


def test_flac_stereo_streaminfo_md5_is_interleaved():
    """For stereo the spec's MD5 covers the INTERLEAVED little-endian
    samples (L0 R0 L1 R1 ...) — pin the layout an independent decoder
    would verify."""
    import hashlib

    sig = np.stack([np.arange(50, dtype=np.int16),
                    np.arange(100, 150, dtype=np.int16)], axis=1)
    enc = encode_flac(sig, 8000)
    assert enc[26:42] == hashlib.md5(sig.astype("<i2").tobytes()).digest()


def test_flac_wasted_bits_roundtrip():
    """Wasted-bits-per-sample: a signal whose samples share a 2^k
    factor round-trips exactly and costs no more than the unshifted
    signal (the shifted-out bits are free, not re-coded)."""
    rng = np.random.default_rng(9)
    base = rng.integers(-4000, 4000, 600).astype(np.int64)
    s8 = (base * 8).astype(np.int16)
    s1 = base.astype(np.int16)
    enc8 = encode_flac(s8, 8000)
    assert np.array_equal(decode_flac(enc8)[1], s8)
    assert len(enc8) <= len(encode_flac(s1, 8000)) + 64
    # stereo + wasted bits compose (per-subframe header)
    st2 = np.stack([s8, (base * 4).astype(np.int16)], axis=1)
    assert np.array_equal(decode_flac(encode_flac(st2, 8000))[1], st2)


def test_flac_rejects_unsupported_shapes():
    import pytest

    with pytest.raises(ValueError):
        encode_flac(np.zeros((10, 3), np.int16), 8000)  # >2 channels
    with pytest.raises(ValueError):
        encode_flac(np.zeros(10, np.int32), 8000)       # not int16
    with pytest.raises(ValueError):
        encode_flac(np.zeros(10, np.int16), 8000, predictor="cubic")
    with pytest.raises(ValueError):
        encode_flac(np.zeros((10, 2), np.int16), 8000, stereo_mode="dual")


@settings(max_examples=15, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(-32768, 32767), st.integers(-32768, 32767)),
        min_size=1, max_size=400,
    ),
    st.sampled_from(["auto", "independent", "left_side", "right_side",
                     "mid_side"]),
    st.sampled_from(["auto", "fixed", "lpc"]),
)
def test_flac_stereo_roundtrip_property(pairs, mode, predictor):
    sig = np.asarray(pairs, dtype=np.int16)
    rate, back = decode_flac(
        encode_flac(sig, 16000, stereo_mode=mode, predictor=predictor))
    assert rate == 16000
    assert np.array_equal(back, sig)


# ------------------------------------------------------------------ Avro

from ocdb_server_spark.sources.avro_ocf import read_ocf, write_ocf

_AVRO_SCHEMA = {
    "type": "record",
    "name": "T",
    "fields": [
        {"name": "id", "type": "long"},
        {"name": "name", "type": "string"},
        {"name": "score", "type": "double"},
        {"name": "note", "type": ["null", "string"]},
        {"name": "ok", "type": "boolean"},
        {"name": "blob", "type": "bytes"},
    ],
}


def _avro_rows(n=50):
    return [
        {
            "id": i - 25,
            "name": f"n{i}" * (i % 7),
            "score": i * 0.25 - 3.0,
            "note": None if i % 3 else f"note{i}",
            "ok": i % 2 == 0,
            "blob": bytes([i % 256, 255 - i % 256]),
        }
        for i in range(n)
    ]


def test_avro_roundtrip_both_codecs():
    rows = _avro_rows()
    for codec in ("null", "deflate"):
        assert read_ocf(write_ocf(_AVRO_SCHEMA, rows, codec=codec,
                                  rows_per_block=7)) == rows


def test_avro_schema_resolution_rules():
    """All three spec rules in one read: reorder (match by name),
    writer-only field skipped, reader-only field defaulted."""
    reader = {
        "type": "record",
        "name": "T",
        "fields": [
            {"name": "score", "type": "double"},
            {"name": "added", "type": "long", "default": 42},
            {"name": "id", "type": "long"},
        ],
    }
    rows = _avro_rows(5)
    back = read_ocf(write_ocf(_AVRO_SCHEMA, rows), reader_schema=reader)
    assert back == [
        {"score": r["score"], "added": 42, "id": r["id"]} for r in rows
    ]


def test_avro_reader_field_without_default_rejected():
    import pytest

    reader = {
        "type": "record",
        "name": "T",
        "fields": [{"name": "missing", "type": "long"}],
    }
    with pytest.raises(ValueError, match="no default"):
        read_ocf(write_ocf(_AVRO_SCHEMA, _avro_rows(2)), reader_schema=reader)


def test_avro_zigzag_varint_edges():
    """Boundary longs survive the zigzag varint (sign bit, 2^63-1)."""
    schema = {
        "type": "record",
        "name": "E",
        "fields": [{"name": "v", "type": "long"}],
    }
    vals = [0, -1, 1, 63, -64, 64, 2**31, -(2**31) - 1, 2**63 - 1, -(2**63)]
    rows = [{"v": v} for v in vals]
    assert read_ocf(write_ocf(schema, rows)) == rows


def test_avro_int32_range_check_and_union_widening():
    """The reject-loudly contract at the int32 edge: in-range boundary
    values round-trip, one-past-the-edge raises a ValueError from
    _encode (never a decodable-but-nonconformant
    varint), and a union ["int","long"] WIDENS an int64-range value
    to the long branch instead of binding int and then rejecting."""
    import pytest

    int_schema = {
        "type": "record",
        "name": "I",
        "fields": [{"name": "v", "type": "int"}],
    }
    edge_rows = [{"v": 2**31 - 1}, {"v": -(2**31)}, {"v": 0}]
    assert read_ocf(write_ocf(int_schema, edge_rows)) == edge_rows
    for bad in (2**31, -(2**31) - 1, 2**40):
        with pytest.raises(ValueError, match="out of range|no union"):
            write_ocf(int_schema, [{"v": bad}])
    union_schema = {
        "type": "record",
        "name": "U",
        "fields": [{"name": "v", "type": ["int", "long"]}],
    }
    mixed = [{"v": 7}, {"v": 2**40}, {"v": -(2**33)}, {"v": 2**63 - 1}]
    assert read_ocf(write_ocf(union_schema, mixed)) == mixed
    with pytest.raises(ValueError, match="no union branch"):
        write_ocf(union_schema, [{"v": 2**63}])  # past int64 too


def test_avro_jvm_int32_boundary_interop(spark):
    """JVM DataFileReader reads our int32 boundary values exactly —
    the spec-strict partner the range check protects."""
    import json as _json
    import tempfile as _tf

    jvm = spark._jvm
    schema = {
        "type": "record",
        "name": "B",
        "fields": [{"name": "v", "type": "int"}],
    }
    rows = [{"v": 2**31 - 1}, {"v": -(2**31)}, {"v": -1}, {"v": 0}]
    with _tf.NamedTemporaryFile(suffix=".avro", delete=False) as f:
        f.write(write_ocf(schema, rows))
        path = f.name
    rd = jvm.org.apache.avro.file.DataFileReader(
        jvm.java.io.File(path),
        jvm.org.apache.avro.generic.GenericDatumReader(),
    )
    got = []
    while rd.hasNext():
        got.append(_json.loads(str(rd.next())))
    rd.close()
    assert got == rows


def test_avro_jvm_interop_two_way(spark):
    """avro-1.12 on Spark's own classpath is the independent
    implementation (the javax.imageio pattern): DataFileReader must
    parse our OCF bytes value-exact, and our reader must parse
    DataFileWriter's output — both codecs."""
    jvm = spark._jvm
    schema = {
        "type": "record",
        "name": "P",
        "fields": [
            {"name": "a", "type": "long"},
            {"name": "b", "type": "string"},
            {"name": "c", "type": ["null", "double"]},
        ],
    }
    rows = [
        {"a": i, "b": f"s{i}", "c": None if i % 2 else i * 1.5}
        for i in range(20)
    ]
    import json as _json
    import tempfile as _tf

    for codec in ("null", "deflate"):
        # ours -> theirs
        with _tf.NamedTemporaryFile(suffix=".avro", delete=False) as f:
            f.write(write_ocf(schema, rows, codec=codec))
            path = f.name
        rd = jvm.org.apache.avro.file.DataFileReader(
            jvm.java.io.File(path),
            jvm.org.apache.avro.generic.GenericDatumReader(),
        )
        got = []
        while rd.hasNext():
            got.append(_json.loads(str(rd.next()).replace("}, {", "},{")))
        rd.close()
        assert got == [
            {"a": r["a"], "b": r["b"], "c": r["c"]} for r in rows
        ], codec
    # theirs -> ours (deflate)
    jschema = jvm.org.apache.avro.Schema.Parser().parse(_json.dumps(schema))
    wtr = jvm.org.apache.avro.file.DataFileWriter(
        jvm.org.apache.avro.generic.GenericDatumWriter(jschema)
    )
    wtr.setCodec(jvm.org.apache.avro.file.CodecFactory.deflateCodec(6))
    with _tf.NamedTemporaryFile(suffix=".avro", delete=False) as f:
        path = f.name
    wtr.create(jschema, jvm.java.io.File(path))
    for r in rows:
        rec = jvm.org.apache.avro.generic.GenericData.Record(jschema)
        rec.put("a", r["a"])
        rec.put("b", r["b"])
        if r["c"] is not None:
            rec.put("c", r["c"])
        wtr.append(rec)
    wtr.close()
    with open(path, "rb") as f:
        back = read_ocf(f.read())
    assert back == rows


def test_flac_all_fixed_orders_and_escape_reachable():
    """Every decoder path the encoder can emit is exercised somewhere:
    orders 0-3 + both partition orders by the op251 corpus shapes
    (asserted in aggregate here), order 4 by an exact cubic (4th
    difference zero, 3rd difference constant-6 — the one signal class
    where order 4 strictly wins), and the raw-escape by the
    max-amplitude alternation whose order-2 residuals overflow any
    4-bit Rice parameter's economy."""
    import ocdb_server_spark.sources.flac as flac

    orders: set[int] = set()
    pos: set[int] = set()
    escapes = [0]
    orig_wr = flac._write_residual
    orig_w = flac._BitWriter.write

    def spy_wr(bw, res, bs, order, po):
        orders.add(order)
        pos.add(po)
        return orig_wr(bw, res, bs, order, po)

    def spy_w(self, value, bits):
        if bits == 4 and value == 0b1111:
            escapes[0] += 1
        return orig_w(self, value, bits)

    flac._write_residual = spy_wr
    flac._BitWriter.write = spy_w
    try:
        k64 = np.arange(64, dtype=np.int64)
        sigs = [
            np.arange(32, dtype=np.int64).astype(np.int16) ** 3,  # order 4
            (k64**3 // 8).astype(np.int16),  # floor-div noise: order 3 wins
            np.array([32767, -32768] * 150, np.int16),  # escape
        ]
        for i in (0, 1, 2, 3):  # op251 corpus shapes: orders 0-3, po 0/1
            n = 300 + i * 150
            k = np.arange(n, dtype=np.int64)
            sigs.append(((i * 17 + k * 13) % 1601 - 800).astype(np.int16))
        for s in sigs:
            # predictor='fixed' pins the fixed-order paths this test
            # certifies; LPC coverage has its own tests below
            enc = flac.encode_flac(s, 8000, blocksize=256, predictor="fixed")
            flac._write_residual, flac._BitWriter.write = orig_wr, orig_w
            try:
                rate, back = flac.decode_flac(enc)
            finally:
                flac._write_residual, flac._BitWriter.write = spy_wr, spy_w
            assert np.array_equal(back, s)
    finally:
        flac._write_residual = orig_wr
        flac._BitWriter.write = orig_w
    assert orders == {0, 1, 2, 3, 4}, orders
    assert pos == {0, 1}, pos
    assert escapes[0] > 0


@settings(max_examples=30, deadline=None)
@given(
    st.lists(
        st.fixed_dictionaries(
            {
                "id": st.integers(-(2**63), 2**63 - 1),
                "name": st.text(max_size=40),
                "score": st.floats(allow_nan=False, width=64),
                "note": st.one_of(st.none(), st.text(max_size=20)),
                "ok": st.booleans(),
                "blob": st.binary(max_size=32),
            }
        ),
        min_size=0,
        max_size=30,
    ),
    st.sampled_from(["null", "deflate"]),
    st.integers(1, 7),
)
def test_avro_roundtrip_property(rows, codec, block):
    """Hypothesis: any record batch (unicode text, boundary longs,
    arbitrary doubles incl. ±inf/−0.0, nulls, raw bytes) survives the
    OCF round-trip exactly, for both codecs and any block size."""
    back = read_ocf(
        write_ocf(_AVRO_SCHEMA, rows, codec=codec, rows_per_block=block)
    )
    assert back == rows


@settings(max_examples=30, deadline=None)
@given(
    st.lists(
        st.fixed_dictionaries(
            {
                "x": st.none(),                                # 0 bytes
                "xs": st.lists(st.none(), max_size=50),        # 0 b/item
                "m": st.dictionaries(
                    st.text(min_size=1, max_size=5), st.none(), max_size=8
                ),
            }
        ),
        min_size=0,
        max_size=40,
    ),
    st.sampled_from(["null", "deflate"]),
    st.integers(1, 7),
)
def test_avro_zero_size_roundtrip_property(rows, codec, block):
    """Hypothesis over the zero-ENCODED-size shapes (null fields,
    arrays/maps of null): every batch must survive the round-trip for
    both codecs and any block size — a bytes×8 plausibility guard
    would falsely reject this class, and the cumulative allowance must
    never fire on legal volumes."""
    schema = {
        "type": "record", "name": "Z", "fields": [
            {"name": "x", "type": "null"},
            {"name": "xs", "type": {"type": "array", "items": "null"}},
            {"name": "m", "type": {"type": "map", "values": "null"}},
        ],
    }
    back = read_ocf(
        write_ocf(schema, rows, codec=codec, rows_per_block=block)
    )
    assert back == rows


def test_avro_resolution_type_mismatch_rejected_and_promotions_applied():
    """Name-match alone is not resolution -- an
    incompatible reader type must raise, and the spec's promotions
    (int/long->double, string<->bytes) must CONVERT the decoded value."""
    import pytest

    schema = {
        "type": "record",
        "name": "P",
        "fields": [
            {"name": "v", "type": "long"},
            {"name": "s", "type": "string"},
        ],
    }
    rows = [{"v": 7, "s": "h\u00e9"}]
    payload = write_ocf(schema, rows)
    # incompatible: long -> string
    bad = {"type": "record", "name": "P",
           "fields": [{"name": "v", "type": "string"}]}
    with pytest.raises(ValueError, match="does not resolve"):
        read_ocf(payload, reader_schema=bad)
    # promotions: long -> double, string -> bytes
    good = {"type": "record", "name": "P",
            "fields": [{"name": "v", "type": "double"},
                       {"name": "s", "type": "bytes"}]}
    back = read_ocf(payload, reader_schema=good)
    assert back == [{"v": 7.0, "s": "h\u00e9".encode("utf-8")}]
    assert isinstance(back[0]["v"], float)
    # bytes default arrives as latin-1 bytes, not str
    defaulted = {"type": "record", "name": "P",
                 "fields": [{"name": "v", "type": "long"},
                            {"name": "extra", "type": "bytes",
                             "default": "\u00ff\u0000"}]}
    back = read_ocf(payload, reader_schema=defaulted)
    assert back[0]["extra"] == b"\xff\x00"


# ------------------------------------------------- Avro complex types

_AVRO_COMPLEX_SCHEMA = {
    "type": "record", "name": "Doc",
    "fields": [
        {"name": "id", "type": "long"},
        {"name": "meta", "type": {
            "type": "record", "name": "Meta",
            "fields": [{"name": "lang", "type": "string"},
                       {"name": "depth", "type": {
                           "type": "record", "name": "Depth",
                           "fields": [{"name": "x", "type": "int"}]}}]}},
        {"name": "tokens", "type": {"type": "array", "items": "int"}},
        {"name": "attrs", "type": {"type": "map", "values": "long"}},
        {"name": "kind", "type": {
            "type": "enum", "name": "Kind", "symbols": ["A", "B", "C"]}},
        {"name": "sig", "type": {"type": "fixed", "name": "Sig", "size": 4}},
        {"name": "maybe", "type": ["null", "long", "string"]},
        {"name": "ratio", "type": "float"},
    ],
}


def _avro_complex_rows(n=20):
    return [
        {"id": i,
         "meta": {"lang": "en" if i % 2 else "de", "depth": {"x": i * 3}},
         "tokens": list(range(i % 5)),
         "attrs": {} if i % 4 == 0 else {"n": i * 10, "d": -i},
         "kind": "ABC"[i % 3],
         "sig": bytes([i % 256, 0, 255, (i * 7) % 256]),
         "maybe": None if i % 3 == 0 else (i if i % 3 == 1 else f"s{i}"),
         "ratio": i * 0.5}
        for i in range(n)
    ]


def test_avro_complex_types_roundtrip_both_codecs():
    """Nested records (2 deep), arrays (incl. empty), maps (incl.
    empty), enums, fixed, a genuine 3-branch union, and float — all
    value-exact through OCF for both codecs."""
    rows = _avro_complex_rows()
    for codec in ("null", "deflate"):
        back = read_ocf(write_ocf(_AVRO_COMPLEX_SCHEMA, rows, codec=codec,
                                  rows_per_block=6))
        assert back == rows, codec


def test_avro_resolution_recurses_into_complex_types():
    """The spec's resolution rules apply at every nesting level:
    nested writer-only field dropped, nested reader-only field
    defaulted, array items promoted int->long, union re-read, map
    passed through, record-valued default materialized."""
    reader = {
        "type": "record", "name": "Doc",
        "fields": [
            {"name": "tokens", "type": {"type": "array", "items": "long"}},
            {"name": "meta", "type": {
                "type": "record", "name": "Meta",
                "fields": [{"name": "quality", "type": "long",
                            "default": -1},
                           {"name": "lang", "type": "string"}]}},
            {"name": "id", "type": "long"},
            {"name": "maybe", "type": ["null", "long", "string"]},
            {"name": "attrs", "type": {"type": "map", "values": "long"}},
            {"name": "added_rec", "type": {
                "type": "record", "name": "Extra",
                "fields": [{"name": "a", "type": "long"},
                           {"name": "b", "type": "string",
                            "default": "dflt"}]},
             "default": {"a": 9}},
        ],
    }
    rows = _avro_complex_rows(7)
    back = read_ocf(write_ocf(_AVRO_COMPLEX_SCHEMA, rows),
                    reader_schema=reader)
    for r, orig in zip(back, rows):
        assert set(r) == {"tokens", "meta", "id", "maybe", "attrs",
                          "added_rec"}
        assert r["tokens"] == orig["tokens"]
        assert r["meta"] == {"quality": -1, "lang": orig["meta"]["lang"]}
        assert r["maybe"] == orig["maybe"]
        assert r["attrs"] == orig["attrs"]
        assert r["added_rec"] == {"a": 9, "b": "dflt"}


def test_avro_enum_resolution_default_and_loud_error():
    """Unknown writer symbols fall back to the reader enum's default;
    with no default the symbol is a loud READ-time error (not a
    silent wrong value)."""
    import pytest

    schema = {"type": "record", "name": "R",
              "fields": [{"name": "k", "type": {
                  "type": "enum", "name": "K",
                  "symbols": ["OLD", "KEEP"]}}]}
    payload = write_ocf(schema, [{"k": "OLD"}, {"k": "KEEP"}])
    with_default = {"type": "record", "name": "R",
                    "fields": [{"name": "k", "type": {
                        "type": "enum", "name": "K",
                        "symbols": ["KEEP", "NEW"], "default": "NEW"}}]}
    assert read_ocf(payload, reader_schema=with_default) == [
        {"k": "NEW"}, {"k": "KEEP"}]
    without_default = {"type": "record", "name": "R",
                       "fields": [{"name": "k", "type": {
                           "type": "enum", "name": "K",
                           "symbols": ["KEEP"]}}]}
    with pytest.raises(ValueError, match="absent from reader enum"):
        read_ocf(payload, reader_schema=without_default)


def test_avro_complex_resolution_mismatches_rejected():
    import pytest

    rows = _avro_complex_rows(2)
    payload = write_ocf(_AVRO_COMPLEX_SCHEMA, rows)

    def reader_with(field, ftype, **kw):
        f = {"name": field, "type": ftype}
        f.update(kw)
        return {"type": "record", "name": "Doc", "fields": [f]}

    # array of unpromotable items
    with pytest.raises(ValueError, match="does not resolve"):
        read_ocf(payload, reader_schema=reader_with(
            "tokens", {"type": "array", "items": "string"}))
    # fixed size mismatch
    with pytest.raises(ValueError, match="does not resolve"):
        read_ocf(payload, reader_schema=reader_with(
            "sig", {"type": "fixed", "name": "Sig", "size": 5}))
    # record name mismatch
    with pytest.raises(ValueError, match="does not resolve"):
        read_ocf(payload, reader_schema=reader_with(
            "meta", {"type": "record", "name": "Renamed",
                     "fields": [{"name": "lang", "type": "string"}]}))


def test_avro_validator_rejects_out_of_subset():
    import pytest

    with pytest.raises(ValueError, match="named-type references"):
        write_ocf({"type": "record", "name": "R",
                   "fields": [{"name": "x", "type": "SomeRecord"}]}, [])
    with pytest.raises(ValueError, match="unions may not contain"):
        write_ocf({"type": "record", "name": "R",
                   "fields": [{"name": "x",
                               "type": ["null", ["long", "string"]]}]}, [])
    with pytest.raises(ValueError, match="top-level schema"):
        write_ocf({"type": "array", "items": "long"}, [])


def test_avro_zero_byte_rows_legal_and_corrupt_count_rejected():
    """Items that encode to ZERO bytes are spec-legal (empty-record
    rows, all-null records, arrays/maps of "null") — a bytes×8
    plausibility guard would reject write_ocf's OWN output for those
    schemas, breaking the module's round-trip contract. Legal
    zero-size shapes must round-trip; a corrupt astronomical count must
    still raise before allocating anything."""
    import pytest

    from ocdb_server_spark.sources.avro_ocf import (
        _MAGIC, _SYNC, _ZERO_SIZE_ITEM_BUDGET, _zigzag_encode,
    )

    assert _MAGIC  # imported for documentation: header layout below
    empty = {"type": "record", "name": "E", "fields": []}
    rows = [{} for _ in range(100)]
    for codec in ("null", "deflate"):
        assert read_ocf(write_ocf(empty, rows, codec=codec)) == rows

    nulls = {"type": "record", "name": "N",
             "fields": [{"name": "x", "type": "null"}]}
    nrows = [{"x": None} for _ in range(64)]
    assert read_ocf(write_ocf(nulls, nrows)) == nrows

    arr = {"type": "record", "name": "A", "fields": [
        {"name": "xs", "type": {"type": "array", "items": "null"}},
        {"name": "m", "type": {"type": "map", "values": "null"}},
    ]}
    arows = [{"xs": [None] * 500, "m": {f"k{i}": None for i in range(20)}}]
    assert read_ocf(write_ocf(arr, arows)) == arows

    # a MULTI-block zero-size file under the cumulative cap is legal
    multi = [{} for _ in range(3000)]           # 3 blocks of 1000
    assert read_ocf(write_ocf(empty, multi)) == multi

    # corrupt: one block whose count is past the whole budget (the
    # loop detects the non-advancing decodes and stops at the cap)
    payload = bytearray(write_ocf(empty, []))   # header only, no blocks
    payload += _zigzag_encode(_ZERO_SIZE_ITEM_BUDGET * 1024)  # row count
    payload += _zigzag_encode(0)                # block byte size: zero
    payload += _SYNC
    with pytest.raises(ValueError, match="budget"):
        read_ocf(bytes(payload))

    # corrupt: the budget is CUMULATIVE — K repeated at-budget blocks
    # must not multiply it K-fold (a crafted OOM: each ~12-byte block
    # claims 2^20 rows, and a per-block cap would pass all of them)
    payload = bytearray(write_ocf(empty, []))
    for _ in range(8):
        payload += _zigzag_encode(_ZERO_SIZE_ITEM_BUDGET // 2)
        payload += _zigzag_encode(0)
        payload += _SYNC
    with pytest.raises(ValueError, match="budget"):
        read_ocf(bytes(payload))

    # corrupt: a bytes×8 BYPASS — pad the block
    # with junk the zero-size rows never consume, so any count-vs-bytes
    # plausibility gate passes; only advance accounting catches it
    junk = b"\x5a" * 262_144                    # 256 KiB of padding
    payload = bytearray(write_ocf(empty, []))
    payload += _zigzag_encode(_ZERO_SIZE_ITEM_BUDGET + 4096)  # ≤ 8×bytes
    payload += _zigzag_encode(len(junk))
    payload += junk
    payload += _SYNC
    with pytest.raises(ValueError, match="budget"):
        read_ocf(bytes(payload))

    # ...and the allowance does NOT leak across files: the same legal
    # corpus re-reads clean after the rejected streams above
    assert read_ocf(write_ocf(empty, multi)) == multi


def test_avro_deflate_bomb_and_array_zero_advance_rejected():
    """(a) An unbounded zlib inflate lets a small crafted deflate block
    allocate ~1032× its size before any row decodes — blocks must stop
    at the decompressed-size budget; (b) a corrupt array-of-null count
    must stop at the zero-advance budget even in a STANDALONE decode
    (no read_ocf frame), and read_ocf's frame must leave later
    standalone decodes a fresh allowance."""
    import io as _io
    import zlib as _zlib

    import pytest

    from ocdb_server_spark.sources.avro_ocf import (
        _MAX_BLOCK_BYTES,
        _SYNC,
        _ZERO_SIZE_ITEM_BUDGET,
        _decode,
        _zigzag_encode,
    )

    # (a) deflate bomb: one block claiming 1 row whose payload inflates
    # past the budget
    bomb_plain_len = _MAX_BLOCK_BYTES + 1024
    co = _zlib.compressobj(9, _zlib.DEFLATED, -15)
    bomb = co.compress(b"\x00" * bomb_plain_len) + co.flush()
    empty = {"type": "record", "name": "E", "fields": []}
    payload = bytearray(write_ocf(empty, [], codec="deflate"))
    payload += _zigzag_encode(1)
    payload += _zigzag_encode(len(bomb))
    payload += bomb
    payload += _SYNC
    with pytest.raises(ValueError, match="inflates past"):
        read_ocf(bytes(payload))

    # (b) standalone array decode with a corrupt huge count of nulls
    buf = _io.BytesIO(_zigzag_encode(1 << 40) + _zigzag_encode(0))
    with pytest.raises(ValueError, match="budget"):
        _decode({"type": "array", "items": "null"}, buf)
    # a read_ocf frame must reset the thread's allowance afterwards:
    # a legal file with zero-size rows still reads clean
    legal = [{} for _ in range(min(1000, _ZERO_SIZE_ITEM_BUDGET))]
    assert read_ocf(write_ocf(empty, legal)) == legal


def test_avro_standalone_decode_allowance_resets_after_rejection():
    """A drained zero-advance allowance from a STANDALONE _decode
    chain (no read_ocf frame to close it) must not persist on the
    thread with left=0, or ONE rejected decode spuriously rejects
    every later LEGAL standalone decode until the next read_ocf. The
    raise path must hand back a fresh allowance."""
    import io as _io

    import pytest

    from ocdb_server_spark.sources.avro_ocf import (
        _decode,
        _zigzag_encode,
    )

    from ocdb_server_spark.sources.avro_ocf import _ZERO_SIZE_ITEM_BUDGET

    arr_of_null = {"type": "array", "items": "null"}
    # drain: corrupt huge count of zero-advance items → budget raise
    bad = _io.BytesIO(_zigzag_encode(1 << 40) + _zigzag_encode(0))
    with pytest.raises(ValueError, match="budget"):
        _decode(arr_of_null, bad)
    # a small LEGAL standalone decode on the same thread must succeed
    # (a left stuck at 0 would reject its first zero-advance item)
    ok = _io.BytesIO(_zigzag_encode(3) + _zigzag_encode(0))
    assert _decode(arr_of_null, ok) == [None, None, None]

    # The allowance must also survive a
    # NON-budget failure after an exact drain. A block declaring
    # exactly the budget of nulls ticks left to 0 LEGALLY, then the
    # stream truncates before the terminator varint — the raise path
    # is 'truncated varint', which the in-tick reset never sees; only
    # the _decode frame's finally hands back a fresh allowance.
    drained = _io.BytesIO(_zigzag_encode(_ZERO_SIZE_ITEM_BUDGET))  # no 0-end
    with pytest.raises(ValueError, match="truncated varint"):
        _decode(arr_of_null, drained)
    ok2 = _io.BytesIO(_zigzag_encode(2) + _zigzag_encode(0))
    assert _decode(arr_of_null, ok2) == [None, None]


def test_avro_standalone_resolver_chain_framed():
    """A standalone resolver read-fn chain (invoked without a read_ocf
    or _decode frame) that completes SUCCESSFULLY must not leak its
    lazily-opened, partially-drained zero-advance allowance to the
    thread — _zs_tick's in-raise reset and the
    _decode frame only cover raise paths and _decode entry points.
    _make_resolver's returned top-level fn now carries the same
    conditional open/close frame as _decode."""
    import io as _io

    import pytest

    from ocdb_server_spark.sources.avro_ocf import (
        _ZERO_SIZE_ITEM_BUDGET,
        _ZS_STATE,
        _decode,
        _make_resolver,
        _zigzag_encode,
    )

    arr_of_null = {"type": "array", "items": "null"}
    fn = _make_resolver(arr_of_null, arr_of_null)

    # (a) a standalone resolver chain that SUCCEEDS after draining the
    # whole allowance. A leaked left=0 would persist on the thread and
    # reject the next legal standalone decode at its first zero-advance
    # item.
    drain_all = _io.BytesIO(
        _zigzag_encode(_ZERO_SIZE_ITEM_BUDGET) + _zigzag_encode(0))
    out = fn(drain_all)
    assert len(out) == _ZERO_SIZE_ITEM_BUDGET
    assert getattr(_ZS_STATE, "left", None) is None  # frame closed it
    ok = _io.BytesIO(_zigzag_encode(3) + _zigzag_encode(0))
    assert _decode(arr_of_null, ok) == [None, None, None]

    # (b) raise paths through the frame: a budget rejection and a
    # truncated varint after an exact drain must each hand back a
    # fresh allowance (the finally, not just _zs_tick's in-raise
    # reset, covers the second)
    bad = _io.BytesIO(_zigzag_encode(1 << 40) + _zigzag_encode(0))
    with pytest.raises(ValueError, match="budget"):
        fn(bad)
    assert getattr(_ZS_STATE, "left", None) is None
    cut = _io.BytesIO(_zigzag_encode(_ZERO_SIZE_ITEM_BUDGET))  # no 0-end
    with pytest.raises(ValueError, match="truncated varint"):
        fn(cut)
    assert getattr(_ZS_STATE, "left", None) is None
    ok2 = _io.BytesIO(_zigzag_encode(2) + _zigzag_encode(0))
    assert fn(ok2) == [None, None]

    # (c) pass-through under an open frame: cumulative accounting
    # within one chain is preserved — a single standalone chain whose
    # NESTED arrays jointly exceed the budget still rejects (the
    # inner resolver must NOT open/close its own frame per item)
    nested = {"type": "array", "items": arr_of_null}
    nfn = _make_resolver(nested, nested)
    # each inner array's FIRST null lands right after its count varint
    # (advance-from-prev), so an inner of K nulls ticks K-1 times; two
    # inners of BUDGET//2+2 jointly tick BUDGET+2 — past the budget
    half = _ZERO_SIZE_ITEM_BUDGET // 2 + 2
    inner = _zigzag_encode(half) + _zigzag_encode(0)
    blob = _io.BytesIO(_zigzag_encode(2) + inner + inner + _zigzag_encode(0))
    with pytest.raises(ValueError, match="budget"):
        nfn(blob)
    assert getattr(_ZS_STATE, "left", None) is None


def test_avro_truncated_deflate_block_rejected():
    """The bounded-inflate path (decompressobj) must check dec.eof — a
    deflate stream cut mid-block leaves unconsumed_tail empty and
    flush() succeeds with PARTIAL output, where a one-shot
    zlib.decompress would raise. With a
    zero-byte-row schema the partial (empty) output then 'decodes' the
    declared count without any error — silent fabricated rows."""
    import zlib as _zlib

    import pytest

    from ocdb_server_spark.sources.avro_ocf import (
        _SYNC,
        _zigzag_encode,
    )

    empty = {"type": "record", "name": "E", "fields": []}
    # (a) truncated stream producing ZERO output bytes: deflate of b""
    # is b"\x03\x00"; its 1-byte prefix inflates to b"" with eof unset.
    # Without the eof check this read "succeeds" with 5 rows minted
    # from a corrupt block; it must be loud.
    co = _zlib.compressobj(9, _zlib.DEFLATED, -15)
    full = co.compress(b"") + co.flush()
    assert full == b"\x03\x00"
    cut = full[:1]
    payload = bytearray(write_ocf(empty, [], codec="deflate"))
    payload += _zigzag_encode(5)        # block claims 5 zero-byte rows
    payload += _zigzag_encode(len(cut))
    payload += cut
    payload += _SYNC
    with pytest.raises(ValueError, match="truncated stream"):
        read_ocf(bytes(payload))

    # (b) junk bytes AFTER a complete deflate stream inside the block's
    # declared size: the decoded rows can never account for them, so
    # the compressed side rejects tails LONGER than the 4-byte
    # checksum allowance (see (d) — short tails are valid in the wild)
    co = _zlib.compressobj(9, _zlib.DEFLATED, -15)
    good = co.compress(b"") + co.flush()
    blob = good + b"\xde\xad\xbe\xef\x00"  # 5 > the 4-byte allowance
    payload = bytearray(write_ocf(empty, [], codec="deflate"))
    payload += _zigzag_encode(1)
    payload += _zigzag_encode(len(blob))
    payload += blob
    payload += _SYNC
    with pytest.raises(ValueError, match="trailing bytes after deflate"):
        read_ocf(bytes(payload))

    # (c) a legal deflate file still round-trips after the guards
    rows = [{} for _ in range(7)]
    assert read_ocf(write_ocf(empty, rows, codec="deflate")) == rows

    # (d) INTEROP: the Apache Avro Python library and
    # fastavro write deflate blocks as zlib.compress(data)[2:-1] —
    # raw stream plus 3 of the 4 Adler-32 trailer bytes. Such a block
    # leaves eof SET and 3 bytes of unused_data; it must read clean.
    from ocdb_server_spark.sources.avro_ocf import _encode

    schema = {"type": "record", "name": "R",
              "fields": [{"name": "x", "type": "long"}]}
    drows = [{"x": i * 7} for i in range(5)]
    body = b"".join(_encode(schema, r) for r in drows)
    shaped = _zlib.compress(body)[2:-1]  # the avro-python/fastavro shape
    dec = _zlib.decompressobj(-15)
    dec.decompress(shaped)
    dec.flush()
    assert dec.eof and len(dec.unused_data) == 3  # the shape under test
    payload = bytearray(write_ocf(schema, [], codec="deflate"))
    payload += _zigzag_encode(5)
    payload += _zigzag_encode(len(shaped))
    payload += shaped
    payload += _SYNC
    assert read_ocf(bytes(payload)) == drows


def test_avro_exhaustive_truncation_taxonomy():
    """Every possible cut position in a 2-block deflate OCF, checked
    exhaustively: a cut INSIDE a block (or inside the header) must
    raise loudly — the truncated-deflate-stream guard plus the
    existing _read_exact/sync checks — while a cut EXACTLY at a block
    boundary is indistinguishable from a shorter file BY THE FORMAT
    (OCF carries no row-count trailer; every avro reader shares this)
    and yields exactly that block prefix, never a torn row. Seeded
    random corruption (4000 mutations, session fuzz) found no other
    silent shape: flips surviving the guards land in header-JSON or
    deflate-literal bytes, which a checksum-less container cannot
    detect."""
    import pytest

    schema = {"type": "record", "name": "R", "fields": [
        {"name": "x", "type": "long"},
        {"name": "s", "type": "string"},
    ]}
    rows = [{"x": i, "s": f"doc-{i}"} for i in range(20)]
    base = write_ocf(schema, rows, codec="deflate", rows_per_block=10)
    header_end = len(write_ocf(schema, [], codec="deflate"))
    # locate the end of block 1 by decoding prefixes: the only
    # non-raising proper prefixes must be the header (0 rows) and the
    # header+block1 (first 10 rows)
    legal_prefixes = {}
    for cut in range(1, len(base)):
        try:
            got = read_ocf(bytes(base[:cut]))
        except ValueError:
            continue
        legal_prefixes[cut] = len(got)
        # any readable prefix must be a whole-block prefix of the data
        assert got == rows[: len(got)], f"torn rows at cut {cut}"
    assert set(legal_prefixes.values()) <= {0, 10}, legal_prefixes
    # the header-only cut and the one-block cut each exist at exactly
    # one position (the boundary); every OTHER cut raised
    assert list(legal_prefixes.values()).count(0) == 1
    assert list(legal_prefixes.values()).count(10) == 1
    assert header_end in legal_prefixes and legal_prefixes[header_end] == 0
    # and the untruncated file still reads in full
    assert read_ocf(base) == rows
    # a cut strictly inside the FIRST block's compressed payload is the
    # truncated-stream guard's specific case: eof unset -> 'truncated
    # stream' (when the cut leaves the size varint intact it fails
    # _read_exact first; both are loud — assert the aggregate property
    # instead of one path)
    with pytest.raises(ValueError):
        read_ocf(bytes(base[: header_end + 3]))


def test_avro_jvm_interop_complex_types(spark):
    """Complex types against the independent avro-1.12 implementation
    on Spark's classpath: our OCF bytes parse in DataFileReader
    value-exact (nested record, array, map, enum), and
    DataFileWriter's output parses in our reader."""
    import json as _json
    import tempfile as _tf

    jvm = spark._jvm
    schema = {
        "type": "record", "name": "C",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "meta", "type": {
                "type": "record", "name": "M",
                "fields": [{"name": "lang", "type": "string"}]}},
            {"name": "toks", "type": {"type": "array", "items": "long"}},
            {"name": "attrs", "type": {"type": "map", "values": "long"}},
            {"name": "kind", "type": {
                "type": "enum", "name": "KK", "symbols": ["X", "Y"]}},
        ],
    }
    rows = [
        {"id": i, "meta": {"lang": f"l{i}"}, "toks": [i, i + 1],
         "attrs": {"a": i * 2}, "kind": "XY"[i % 2]}
        for i in range(10)
    ]
    # ours -> theirs
    with _tf.NamedTemporaryFile(suffix=".avro", delete=False) as f:
        f.write(write_ocf(schema, rows, codec="deflate"))
        path = f.name
    rd = jvm.org.apache.avro.file.DataFileReader(
        jvm.java.io.File(path),
        jvm.org.apache.avro.generic.GenericDatumReader(),
    )
    got = []
    while rd.hasNext():
        got.append(_json.loads(str(rd.next())))
    rd.close()
    assert got == rows
    # theirs -> ours
    jschema = jvm.org.apache.avro.Schema.Parser().parse(_json.dumps(schema))
    wtr = jvm.org.apache.avro.file.DataFileWriter(
        jvm.org.apache.avro.generic.GenericDatumWriter(jschema)
    )
    with _tf.NamedTemporaryFile(suffix=".avro", delete=False) as f:
        path = f.name
    wtr.create(jschema, jvm.java.io.File(path))
    mschema = jschema.getField("meta").schema()
    kschema = jschema.getField("kind").schema()
    for r in rows:
        rec = jvm.org.apache.avro.generic.GenericData.Record(jschema)
        rec.put("id", r["id"])
        m = jvm.org.apache.avro.generic.GenericData.Record(mschema)
        m.put("lang", r["meta"]["lang"])
        rec.put("meta", m)
        arr = jvm.java.util.ArrayList()
        for t in r["toks"]:
            arr.add(t)
        rec.put("toks", arr)
        mp = jvm.java.util.HashMap()
        for k, v in r["attrs"].items():
            mp.put(k, v)
        rec.put("attrs", mp)
        rec.put("kind", jvm.org.apache.avro.generic.GenericData.EnumSymbol(
            kschema, r["kind"]))
        wtr.append(rec)
    wtr.close()
    with open(path, "rb") as f:
        back = read_ocf(f.read())
    assert back == rows


@settings(max_examples=20, deadline=None)
@given(
    st.lists(
        st.fixed_dictionaries({
            "id": st.integers(-(2**63), 2**63 - 1),
            "meta": st.fixed_dictionaries({
                "lang": st.text(max_size=10),
                "depth": st.fixed_dictionaries(
                    {"x": st.integers(-(2**31), 2**31 - 1)}),
            }),
            "tokens": st.lists(st.integers(-(2**31), 2**31 - 1),
                               max_size=8),
            "attrs": st.dictionaries(st.text(max_size=6),
                                     st.integers(-(2**63), 2**63 - 1),
                                     max_size=4),
            "kind": st.sampled_from(["A", "B", "C"]),
            "sig": st.binary(min_size=4, max_size=4),
            "maybe": st.one_of(st.none(),
                               st.integers(-(2**63), 2**63 - 1),
                               st.text(max_size=12)),
            "ratio": st.floats(allow_nan=False, width=32),
        }),
        min_size=0, max_size=12,
    ),
    st.sampled_from(["null", "deflate"]),
)
def test_avro_complex_roundtrip_property(rows, codec):
    """Hypothesis over the full complex surface: any nesting of the
    supported types survives OCF exactly (3-branch union included —
    an int in 'maybe' must come back as the long branch, never the
    string one)."""
    back = read_ocf(write_ocf(_AVRO_COMPLEX_SCHEMA, rows, codec=codec,
                              rows_per_block=5))
    assert back == rows


def test_avro_union_int_prefers_exact_branch_over_float():
    """An int value must bind to an int/long union
    branch even when a float/double branch is listed FIRST — binding
    to float32 would silently destroy precision (2^40+1 is not
    float32-representable). Widening still happens when no exact
    branch exists."""
    w = {"type": "record", "name": "R",
         "fields": [{"name": "x", "type": ["float", "long"]}]}
    big = 2**40 + 1
    back = read_ocf(write_ocf(w, [{"x": big}, {"x": 0.5}]))
    assert back[0]["x"] == big and isinstance(back[0]["x"], int)
    assert back[1]["x"] == 0.5 and isinstance(back[1]["x"], float)
    # no exact branch: int may widen into double
    w2 = {"type": "record", "name": "R",
          "fields": [{"name": "x", "type": ["null", "double"]}]}
    assert read_ocf(write_ocf(w2, [{"x": 3}])) == [{"x": 3.0}]


def test_avro_missing_writer_field_raises():
    """Defaults are reader-side; a row missing a
    writer-schema field is a caller bug (typo) and must raise, not
    encode str(None)/false/empty silently."""
    import pytest

    schema = {"type": "record", "name": "R",
              "fields": [{"name": "s", "type": "string"}]}
    with pytest.raises(ValueError, match="missing field 's'"):
        write_ocf(schema, [{"z": "typo"}])


def test_avro_enum_default_must_be_a_symbol():
    """The spec requires an enum's default to be one
    of its symbols; a typo'd default would otherwise let resolution
    emit a symbol outside the reader's own enum."""
    import pytest

    bad = {"type": "record", "name": "R",
           "fields": [{"name": "k", "type": {
               "type": "enum", "name": "K",
               "symbols": ["KEEP"], "default": "KEP"}}]}
    with pytest.raises(ValueError, match="not one of its symbols"):
        write_ocf(bad, [{"k": "KEEP"}])
    with pytest.raises(ValueError, match="not one of its symbols"):
        read_ocf(write_ocf(
            {"type": "record", "name": "R",
             "fields": [{"name": "k", "type": {
                 "type": "enum", "name": "K", "symbols": ["KEEP"]}}]},
            [{"k": "KEEP"}]), reader_schema=bad)


def test_flac_lpc_overwide_residual_guard():
    """A pathological LPC quantization (|qc| near the 2^11 clamp at
    shift 0) could need a residual wider than the 5-bit raw-escape
    width field can declare (31 bits); the planner must reject such a
    candidate (falling back to fixed/verbatim) and _write_residual
    must raise rather than silently truncate the width."""
    import pytest

    import ocdb_server_spark.sources.flac as flac

    # force the planner into the pathological quantization
    orig = flac._lpc_analyze
    flac._lpc_analyze = lambda block, order: ([2047] * 8, 0)
    try:
        s = (np.array([32767, -32768] * 200, np.int16))
        enc = flac.encode_flac(s, 8000, predictor="lpc")
        # plan rejected the unrepresentable LPC -> verbatim; still lossless
        assert np.array_equal(flac.decode_flac(enc)[1], s)
    finally:
        flac._lpc_analyze = orig
    # and the writer itself refuses an over-wide residual outright
    bw = flac._BitWriter()
    with pytest.raises(ValueError, match="too wide"):
        flac._write_residual(bw, np.array([2**33]), 1, 0, 0)


def _flac_reheader(enc: bytes, n: int, bs_code: int, bs_field: bytes,
                   rate_nibble: int | None = None) -> bytes:
    """Rewrite the single frame header of a one-frame mono stream to
    use a different blocksize/rate CODE (the spec's common-value codes
    our encoder never emits, always writing explicit-16-bit), then
    re-fix both CRCs. Subframe bits start byte-aligned right after the
    header CRC-8, so the splice is exact."""
    import struct

    from ocdb_server_spark.sources.flac import _crc8, _crc16

    # stream layout: fLaC(4) + block hdr(4) + STREAMINFO(34) = 42
    frame_off = 42
    frame = bytearray(enc[frame_off:])
    # header: [0:2]=sync+flags, [2]=bs_code|rate, [3]=chan|size,
    # [4]=coded frame no (0 for one frame), [5:7]=blocksize-1, [7]=crc8
    assert frame[4] == 0
    hdr = bytearray(frame[:5])
    hdr[2] = (bs_code << 4) | (frame[2] & 0x0F)
    if rate_nibble is not None:
        hdr[2] = (hdr[2] & 0xF0) | rate_nibble
    hdr += bs_field
    body = bytes(hdr) + bytes([_crc8(bytes(hdr))]) + bytes(frame[8:-2])
    return (enc[:frame_off] + body
            + struct.pack(">H", _crc16(body)))


def test_flac_decodes_common_blocksize_and_rate_codes():
    """The decoder accepts the spec's common-value blocksize codes
    (192, 576<<n, 256<<n, 8-bit explicit) and the rate-from-
    STREAMINFO code, which our encoder never emits (it always writes
    explicit 16-bit + a rate table code) — exercise those read paths
    with spliced conformant headers."""
    for n, bs_code, field in (
        (192, 0b0001, b""),                       # common value 192
        (576, 0b0010, b""),                       # 576 << 0
        (256, 0b1000, b""),                       # 256 << 0
        (200, 0b0110, bytes([199])),              # explicit 8-bit
    ):
        s = ((np.arange(n) * 37) % 1000 - 500).astype(np.int16)
        enc = encode_flac(s, 8000, blocksize=1024)  # single frame
        mod = _flac_reheader(enc, n, bs_code, field)
        rate, back = decode_flac(mod)
        assert rate == 8000
        assert np.array_equal(back, s), bs_code
    # rate code 0b0000: frame inherits the STREAMINFO rate
    s = ((np.arange(300) * 11) % 800 - 400).astype(np.int16)
    enc = encode_flac(s, 8000, blocksize=1024)
    mod = _flac_reheader(enc, 300, 0b0111, bytes([(300 - 1) >> 8, (300 - 1) & 0xFF]),
                         rate_nibble=0b0000)
    rate, back = decode_flac(mod)
    assert rate == 8000 and np.array_equal(back, s)


def test_flac_decodes_5bit_rice_method():
    """Residual method 0b01 (5-bit Rice parameters) is decodable but
    never emitted by our encoder (4-bit params suffice for 16-bit
    audio) — hand-assemble a conformant frame that uses it."""
    import struct

    import ocdb_server_spark.sources.flac as flac

    samples = ((np.arange(96) * 7) % 200 - 100).astype(np.int16)
    n = len(samples)
    # stream head: magic + STREAMINFO for mono/16-bit/8kHz
    enc = bytearray(encode_flac(samples, 8000, blocksize=1024)[:42])
    # frame header (explicit 16-bit blocksize, rate 8kHz=0b0100, mono)
    hdr = flac._BitWriter()
    hdr.write(flac._SYNC, 14)
    hdr.write(0, 2)
    hdr.write(0b0111, 4)
    hdr.write(0b0100, 4)
    hdr.write(0b0000, 4)
    hdr.write(0b100, 3)
    hdr.write(0, 1)
    hdr.write(0, 8)              # frame number 0
    hdr.write(n - 1, 16)
    hbytes = hdr.bytes()
    fw = flac._BitWriter()
    for b in hbytes:
        fw.write(b, 8)
    fw.write(flac._crc8(hbytes), 8)
    # subframe: fixed order 0, residual method 0b01, partition order 0
    fw.write(0, 1)
    fw.write(0b001000, 6)
    fw.write(0, 1)
    fw.write(0b01, 2)            # 5-bit param method
    fw.write(0, 4)               # partition order 0
    k = 4
    fw.write(k, 5)               # the 5-bit parameter itself
    for v in samples.astype(np.int64):
        u = int(2 * v if v >= 0 else -2 * v - 1)
        fw.write_unary(u >> k)
        fw.write(u, k)
    fw.align()
    fbytes = fw.bytes()
    enc += fbytes + struct.pack(">H", flac._crc16(fbytes))
    rate, back = decode_flac(bytes(enc))
    assert rate == 8000
    assert np.array_equal(back, samples)


def test_flac_multibyte_coded_frame_numbers():
    """A 130-frame stream pushes the frame index past 0x7F, exercising
    the 2-byte UTF-8-style coded-number path on both sides."""
    n = 130 * 192
    s = ((np.arange(n) * 13) % 1601 - 800).astype(np.int16)
    rate, back = decode_flac(encode_flac(s, 8000, blocksize=192))
    assert np.array_equal(back, s)


def test_flac_skips_extra_metadata_blocks():
    """Real encoders emit PADDING/VORBIS_COMMENT blocks after
    STREAMINFO; the decoder's metadata walker must skip unknown block
    types and still find the frames."""
    s = ((np.arange(400) * 3) % 500 - 250).astype(np.int16)
    enc = bytearray(encode_flac(s, 8000))
    # clear STREAMINFO's last-metadata flag, splice a PADDING block
    assert enc[4] == 0x80
    enc[4] = 0x00
    pad = bytes([0x81]) + (8).to_bytes(3, "big") + b"\x00" * 8  # last|type=1
    spliced = bytes(enc[:42]) + pad + bytes(enc[42:])
    rate, back = decode_flac(spliced)
    assert rate == 8000
    assert np.array_equal(back, s)


def test_avro_reads_negative_and_multi_block_arrays():
    """The spec lets writers split an array/map into MULTIPLE blocks
    and use NEGATIVE counts (abs count + byte size, for skipability).
    Our writer emits a single positive block, so craft the variant
    encodings by hand and require both the plain decode and the
    resolving decode (int->long promotion) to read them."""
    import json

    from ocdb_server_spark.sources.avro_ocf import (
        _MAGIC, _SYNC, _zigzag_encode)

    schema = {"type": "record", "name": "R",
              "fields": [{"name": "xs",
                          "type": {"type": "array", "items": "int"}}]}
    # row payload: array in three blocks: [-2 size(2) 5 6] [1 7] [0]
    items1 = _zigzag_encode(5) + _zigzag_encode(6)
    row = (_zigzag_encode(-2) + _zigzag_encode(len(items1)) + items1
           + _zigzag_encode(1) + _zigzag_encode(7)
           + _zigzag_encode(0))
    meta = {"avro.schema": json.dumps(schema).encode(),
            "avro.codec": b"null"}
    payload = bytearray(_MAGIC)
    payload += _zigzag_encode(len(meta))
    for k, v in sorted(meta.items()):
        payload += _zigzag_encode(len(k)) + k.encode()
        payload += _zigzag_encode(len(v)) + v
    payload += _zigzag_encode(0)
    payload += _SYNC
    payload += _zigzag_encode(1)          # one row in the file block
    payload += _zigzag_encode(len(row))
    payload += row
    payload += _SYNC
    assert read_ocf(bytes(payload)) == [{"xs": [5, 6, 7]}]
    reader = {"type": "record", "name": "R",
              "fields": [{"name": "xs",
                          "type": {"type": "array", "items": "long"}}]}
    assert read_ocf(bytes(payload), reader_schema=reader) == [
        {"xs": [5, 6, 7]}]


def test_avro_truncation_and_corruption_fuzz():
    """Reader-robustness fuzz (the discipline that caught a real
    struct.error leak): for hundreds of truncation points and random
    byte flips over both codecs, read_ocf must either return rows or
    raise the module's loud ValueError — never struct.error /
    KeyError / a silent wrong value. Every decode-path read goes
    through _read_exact and _validate is structural, so a corrupt
    stream cannot leak a foreign exception out of the catalog step."""
    import random

    float_schema = {
        "type": "record",
        "name": "Z",
        "fields": _AVRO_SCHEMA["fields"] + [
            {"name": "f32", "type": "float"},
            {"name": "fx", "type": {"type": "fixed", "name": "FX", "size": 3}},
            {"name": "tags", "type": {"type": "array", "items": "string"}},
            {"name": "m", "type": {"type": "map", "values": "int"}},
        ],
    }
    rows = [
        {**r, "f32": float(i), "fx": bytes([i % 256] * 3),
         "tags": [f"t{i % 3}"], "m": {f"k{i % 5}": i}}
        for i, r in enumerate(_avro_rows(80))
    ]
    rng = random.Random(5521)
    for codec in ("null", "deflate"):
        blob = write_ocf(float_schema, rows, codec=codec, rows_per_block=16)
        for cut in sorted({rng.randrange(1, len(blob)) for _ in range(150)}):
            try:
                read_ocf(blob[:cut])
            except ValueError:
                pass  # the one allowed taxonomy
        for _ in range(200):
            i = rng.randrange(len(blob))
            mut = bytearray(blob)
            mut[i] ^= rng.randrange(1, 256)
            try:
                read_ocf(bytes(mut))
            except ValueError:
                pass
    # intact stream still round-trips exactly after the hardening
    assert read_ocf(write_ocf(float_schema, rows, codec="deflate")) == rows


def test_decoder_truncation_corruption_fuzz():
    """Reader-robustness fuzz across EVERY hand-rolled binary decoder
    (the discipline that found real leaks: struct.error out of PNG
    chunk/BMP header/JPEG segment parses, IndexError out of the GIF
    sub-block walk, OverflowError from a corrupt JPEG DC category):
    for sampled truncation points and random byte flips, each decoder
    must either succeed or raise ValueError — the one loud taxonomy —
    never a foreign exception type."""
    import random

    from ocdb_server_spark.sources.codecs import (
        decode_bmp, decode_wav, encode_bmp, encode_wav,
    )
    from ocdb_server_spark.sources.flac import decode_flac, encode_flac
    from ocdb_server_spark.sources.gif import (
        decode_gif_frames, encode_gif_anim,
    )
    from ocdb_server_spark.sources.jpeg import (
        decode_jpeg_gray, encode_jpeg_gray,
    )
    from ocdb_server_spark.sources.png import decode_png_gray, encode_png_gray

    rng = random.Random(5522)
    px = (np.arange(32 * 24).reshape(24, 32) % 251).astype(np.uint8)
    frames = [px, (px + 7).astype(np.uint8)]
    stereo = np.stack(
        [np.arange(800) % 97 - 48, np.arange(800) % 89 - 44], axis=1
    ).astype(np.int16)
    cases = [
        ("png", encode_png_gray(px), decode_png_gray),
        ("gif", encode_gif_anim(frames), decode_gif_frames),
        ("bmp", encode_bmp(np.dstack([px, px, px])), decode_bmp),
        ("jpeg", encode_jpeg_gray(_rand_coeffs(12, seed=11), 32, 24),
         decode_jpeg_gray),
        ("wav", encode_wav(stereo[:, 0], 16000), decode_wav),
        ("flac", encode_flac(stereo, 16000), decode_flac),
    ]
    for name, blob, dec in cases:
        for cut in sorted({rng.randrange(1, len(blob)) for _ in range(60)}):
            try:
                dec(blob[:cut])
            except ValueError:
                pass  # the one allowed taxonomy
        for _ in range(90):
            i = rng.randrange(len(blob))
            mut = bytearray(blob)
            mut[i] ^= rng.randrange(1, 256)
            try:
                dec(bytes(mut))
            except ValueError:
                pass


def test_silent_wrong_value_guards():
    """Four silent-wrong-value holes the exception-type fuzz cannot
    see (it only sees raises, never silent successes):
    (1) an Avro block whose count varint is corrupted to 0/negative
    must raise, not return zero rows past an intact sync check, and
    a count smaller than the serialized rows must not drop the tail;
    (2) a truncated WAV must raise, not return fewer samples;
    (3) a BMP with corrupt non-positive width must raise, not return
    (w=-1, empty array); (4) a GIF whose LZW output indexes past a
    small local color table must raise ValueError, not numpy
    IndexError."""
    import struct as _struct

    from ocdb_server_spark.sources.codecs import decode_bmp, encode_bmp
    from ocdb_server_spark.sources.gif import (
        _MIN_CODE_SIZE, _lzw_encode, _sub_blocks, decode_gif_gray,
    )

    # (1) avro: flip the block-count varint every way — no mutation
    # may yield a silent row-count change
    schema = {"type": "record", "name": "R",
              "fields": [{"name": "id", "type": "long"}]}
    rows = [{"id": i} for i in range(16)]
    blob = write_ocf(schema, rows, codec="null", rows_per_block=16)
    for i in range(len(blob)):
        for v in (0x00, 0x01, 0x20):
            mut = bytearray(blob)
            mut[i] = v
            if bytes(mut) == blob:
                continue
            try:
                out = read_ocf(bytes(mut))
            except ValueError:
                continue
            assert len(out) == 16, f"silent row loss at byte {i}"

    # (2) wav: cut inside the data chunk
    from ocdb_server_spark.sources.codecs import decode_wav, encode_wav
    wav = encode_wav((np.arange(800) % 97 - 48).astype(np.int16), 16000)
    with pytest.raises(ValueError, match="truncated data chunk"):
        decode_wav(wav[:-100])

    # (3) bmp: corrupt signed width
    px = (np.arange(32 * 24).reshape(24, 32) % 251).astype(np.uint8)
    bmp = bytearray(encode_bmp(np.dstack([px, px, px])))
    _struct.pack_into("<i", bmp, 18, -1)
    with pytest.raises(ValueError, match="bad dimensions"):
        decode_bmp(bytes(bmp))

    # (4) gif: 2-entry local color table, pixel index 2
    w, h = 4, 1
    idx = np.array([0, 1, 2, 1], dtype=np.uint8)
    payload = (
        b"GIF89a" + _struct.pack("<HHBBB", w, h, 0x00, 0, 0)
        + b"\x2C" + _struct.pack("<HHHHB", 0, 0, w, h, 0x80)
        + bytes([0, 0, 0, 255, 255, 255])
        + bytes([_MIN_CODE_SIZE]) + _sub_blocks(_lzw_encode(idx)) + b"\x3B"
    )
    with pytest.raises(ValueError, match="outside color table"):
        decode_gif_gray(payload)


def test_bmp_corrupt_data_offset_rejected():
    """A corrupt data_offset pointing into the header or past the
    buffer must raise, not decode header bytes as pixels."""
    import struct

    import numpy as np
    import pytest as _pytest

    from ocdb_server_spark.sources.codecs import decode_bmp, encode_bmp

    img = np.zeros((2, 2, 3), dtype=np.uint8)
    payload = bytearray(encode_bmp(img))
    struct.pack_into("<I", payload, 10, 0)  # offset into the header
    with _pytest.raises(ValueError, match="offset"):
        decode_bmp(bytes(payload))
    struct.pack_into("<I", payload, 10, 10_000)  # offset past the buffer
    with _pytest.raises(ValueError, match="offset"):
        decode_bmp(bytes(payload))


def test_flac_blocksize_out_of_range_rejected():
    """A blocksize outside the 16-bit header field (> 65535, or too
    small) would emit a corrupt stream; it must reject at entry like
    every other knob."""
    import numpy as np
    import pytest as _pytest

    from ocdb_server_spark.sources.flac import encode_flac

    pcm = np.zeros(64, dtype=np.int16)
    with _pytest.raises(ValueError, match="blocksize"):
        encode_flac(pcm, 44100, blocksize=70_000)
    with _pytest.raises(ValueError, match="blocksize"):
        encode_flac(pcm, 44100, blocksize=8)


def test_avro_field_type_mismatches_reject_loudly():
    """Non-union fields must not coerce silently (bytes(5) → five
    NULs, int(2.7) → 2, str(anything)); they reject with the union
    path's type discipline."""
    import pytest as _pytest

    from ocdb_server_spark.sources.avro_ocf import read_ocf, write_ocf

    sch_b = {"type": "record", "name": "r", "fields": [{"name": "b", "type": "bytes"}]}
    with _pytest.raises(ValueError, match="bytes field"):
        write_ocf(sch_b, [{"b": 5}])
    sch_l = {"type": "record", "name": "r", "fields": [{"name": "x", "type": "long"}]}
    with _pytest.raises(ValueError, match="long field"):
        write_ocf(sch_l, [{"x": 2.7}])
    sch_s = {"type": "record", "name": "r", "fields": [{"name": "t", "type": "string"}]}
    with _pytest.raises(ValueError, match="string field"):
        write_ocf(sch_s, [{"t": 42}])
    # valid values still round-trip
    ok = write_ocf(sch_l, [{"x": 7}])
    assert [r["x"] for r in read_ocf(ok)] == [7]
