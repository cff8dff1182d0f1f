"""Multimodal decode + DSP, hash-certified: op195–op205, op222, op251,
and the multimodal payload ops op104/op130.

Every op synthesizes its assets from closed-form integer formulas,
encodes them with a from-scratch codec — PCM WAV and 24-bit BMP
(sources/codecs.py), JPEG (sources/jpeg.py), PNG (sources/png.py),
GIF (sources/gif.py), FLAC (sources/flac.py) — decodes the bytes back
with the REAL parser of the same module, and reduces them to exact
features. The DuckDB oracle recomputes the SAME features from the
generation formulas without ever seeing a byte — so a hash match
certifies the whole encode→bytes→decode→feature path, not just the
plumbing. tests/test_codecs.py proves interop with the stdlib `wave`
module and javax.imageio. MP3 and H.264 are out of scope: they need
codec libraries the project does not ship.

Scale shape (`_codec_frame`): the asset ids repartition 8 ways, then a
generate stage and a decode stage run as chained mapInArrow stages in
the same task — payload bytes live and die inside one task (never
shuffled); only fixed-width feature rows continue. Each op supplies
only its per-asset kernels.

Each op's fingerprint (evidence.src_fp) reaches the codec functions
its kernels call, so a parser rewrite re-fronts the op in the driver
sweep exactly as an oracle edit does.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, SparkSession
from ocdb_server_spark.functions.arrow_rows import map_rows
from ocdb_server_spark.registry import register
from ocdb_server_spark.sources.codecs import (
    decode_bmp,
    decode_wav,
    encode_bmp,
    encode_wav,
)
from ocdb_server_spark.sources.flac import decode_flac, encode_flac
from ocdb_server_spark.sources.gif import (
    decode_gif_frames,
    decode_gif_gray,
    encode_gif_anim,
    encode_gif_gray,
)
from ocdb_server_spark.sources.jpeg import (
    QTABLE_ZZ,
    decode_jpeg_gray,
    encode_jpeg_gray,
)
from ocdb_server_spark.sources.png import decode_png_gray, encode_png_gray

_PAYLOAD_DDL = "asset_id long, payload binary"


def _codec_frame(spark: SparkSession, n: int, encode, decode, ddl: str,
                 gen_ddl: str = _PAYLOAD_DDL) -> DataFrame:
    """Assets 0..n-1 through a generate stage and a decode stage.

    The ids repartition 8 ways; then, in the same task, one mapInArrow
    stage writes each asset's row ``(i, *encode(i))`` (``encode``
    returns the bare payload under the default ``gen_ddl``) and a
    second one turns each generated row into the rows
    ``decode(*row)``. Payload bytes never cross an exchange; only the
    fixed-width ``ddl`` rows continue. Both are ``arrow_rows.map_rows``
    stages, typed from their DDLs when the plan is built."""

    def gen_row(i):
        cols = encode(i)
        return [(i, *cols) if isinstance(cols, tuple) else (i, cols)]

    ids = spark.range(n).repartition(8)
    gen = map_rows(ids, gen_row, gen_ddl, encode.__name__)
    return map_rows(gen, decode, ddl, decode.__name__)


def _gray_stats(aid: int, w: int, h: int, px: np.ndarray) -> list[tuple]:
    """(asset_id, width, height, pixel_sum, min_px, max_px) of a
    decoded grayscale image."""
    p64 = px.astype(np.int64)
    return [(aid, w, h, int(p64.sum()), int(p64.min()), int(p64.max()))]


# ------------------------------------------------------------------ WAV

_WAV_N = 200
_WAV_RATE = 8000


_OP195_SQL = f"""
WITH a AS (SELECT range AS i FROM range(0, {_WAV_N})),
s AS (
  SELECT a.i, ((a.i * 31 + u.k * 7) % 2001) - 1000 AS v
  FROM a, UNNEST(range(0, 400 + (a.i % 5) * 100)) AS u(k)
)
SELECT CAST(i AS BIGINT) AS asset_id,
       CAST({_WAV_RATE} AS BIGINT) AS sample_rate,
       CAST(COUNT(*) AS BIGINT) AS n_samples,
       CAST(COUNT(*) * 1000 // {_WAV_RATE} AS BIGINT) AS duration_ms,
       CAST(SUM(v * v) AS BIGINT) AS sum_sq,
       CAST(MAX(ABS(v)) AS BIGINT) AS peak
FROM s GROUP BY i
"""

_WAV_FEATURES_DDL = (
    "asset_id long, sample_rate long, n_samples long,"
    " duration_ms long, sum_sq long, peak long"
)


def _wav_asset(i: int) -> bytes:
    n = 400 + (i % 5) * 100
    k = np.arange(n, dtype=np.int64)
    s = ((i * 31 + k * 7) % 2001 - 1000).astype(np.int16)
    return encode_wav(s, _WAV_RATE)


def _wav_features(aid: int, payload: bytes) -> list[tuple]:
    rate, _ch, n, s = decode_wav(payload)
    s64 = s.astype(np.int64)
    return [(aid, rate, n, n * 1000 // rate,
             int(np.sum(s64 * s64)), int(np.max(np.abs(s64))))]


@register("op195_wav_decode_features", oracle=_OP195_SQL)
def op195_wav_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio decode, for real: 200 standards-conformant mono PCM16 WAV
    files (samples from a closed-form integer formula) are encoded and
    then DECODED by the chunk-walking RIFF parser, yielding per-asset
    sample_rate / n_samples / duration / energy (exact int64 sum of
    squares) / peak. The oracle recomputes every feature from the
    formula alone — a hash match certifies the decoder end to end.
    sf_dir is unused: the corpus is self-generated (same stance as
    op152's Python data source)."""
    return _codec_frame(spark, _WAV_N, _wav_asset, _wav_features,
                        _WAV_FEATURES_DDL)


# ------------------------------------------------------------------ BMP

_BMP_N = 60


_OP196_SQL = f"""
WITH a AS (
  SELECT range AS i,
         16 + (range % 4) * 8 AS w,
         8 + (range % 3) * 8 AS h
  FROM range(0, {_BMP_N})
),
px AS (
  SELECT a.i, a.w, a.h,
         (a.i + 3 * r.rr + 7 * c.cc) % 256 AS red,
         (2 * a.i + 5 * r.rr + c.cc) % 256 AS grn,
         (3 * a.i + r.rr + 2 * c.cc) % 256 AS blu
  FROM a, UNNEST(range(0, a.h)) AS r(rr), UNNEST(range(0, a.w)) AS c(cc)
)
SELECT CAST(i AS BIGINT) AS asset_id,
       CAST(w AS BIGINT) AS width,
       CAST(h AS BIGINT) AS height,
       CAST(SUM(red) AS BIGINT) AS sum_r,
       CAST(SUM(grn) AS BIGINT) AS sum_g,
       CAST(SUM(blu) AS BIGINT) AS sum_b
FROM px GROUP BY i, w, h
"""

_BMP_STATS_DDL = (
    "asset_id long, width long, height long,"
    " sum_r long, sum_g long, sum_b long"
)


def _bmp_asset(i: int) -> bytes:
    w, h = 16 + (i % 4) * 8, 8 + (i % 3) * 8
    rr = np.arange(h, dtype=np.int64)[:, None]
    cc = np.arange(w, dtype=np.int64)[None, :]
    px = np.stack(
        [
            (i + 3 * rr + 7 * cc) % 256,
            (2 * i + 5 * rr + cc) % 256,
            (3 * i + rr + 2 * cc) % 256,
        ],
        axis=-1,
    ).astype(np.uint8)
    return encode_bmp(px)


def _bmp_stats(aid: int, payload: bytes) -> list[tuple]:
    w, h, px = decode_bmp(payload)
    sums = px.astype(np.int64).sum(axis=(0, 1))
    return [(aid, w, h, int(sums[0]), int(sums[1]), int(sums[2]))]


@register("op196_bmp_decode_stats", oracle=_OP196_SQL)
def op196_bmp_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image decode, for real: 60 conformant 24-bit BMPs (pixel values
    from a closed-form integer formula; widths chosen to exercise the
    4-byte row padding) are encoded, then DECODED by the real parser
    (padding strip, bottom-up flip, BGR→RGB), yielding per-asset
    dimensions + exact per-channel int64 sums. The oracle recomputes
    the features from the formula alone — a hash match certifies the
    decoder end to end. sf_dir unused (self-generated corpus)."""
    return _codec_frame(spark, _BMP_N, _bmp_asset, _bmp_stats,
                        _BMP_STATS_DDL)


# ------------------------------------------------------- WAV + FFT

_FFT_N = 128          # assets
_FFT_SAMPLES = 1024   # per asset (power of two)
_FFT_AMP = 8000


_OP197_SQL = f"""
WITH a AS (SELECT range AS i FROM range(0, {_FFT_N}))
SELECT CAST(i AS BIGINT) AS asset_id,
       CAST({_FFT_SAMPLES} AS BIGINT) AS n_samples,
       CAST(3 + (i % 40) * 2 AS BIGINT) AS dominant_bin,
       CAST(3 + (i % 40) * 2 AS DOUBLE) * {_WAV_RATE} / {_FFT_SAMPLES}
         AS dominant_freq_hz
FROM a
"""


def _sine_asset(i: int) -> bytes:
    m = 3 + (i % 40) * 2  # exact FFT bin
    k = np.arange(_FFT_SAMPLES)
    s = np.rint(
        _FFT_AMP * np.sin(2.0 * np.pi * m * k / _FFT_SAMPLES)
    ).astype(np.int16)
    return encode_wav(s, _WAV_RATE)


def _dominant_freq(aid: int, payload: bytes) -> list[tuple]:
    rate, _ch, n, s = decode_wav(payload)
    spec = np.abs(np.fft.rfft(s.astype(np.float64)))
    bin_ = int(np.argmax(spec[1:])) + 1  # skip DC
    return [(aid, n, bin_, bin_ * rate / n)]


@register("op197_audio_dominant_freq", oracle=_OP197_SQL)
def op197_audio_dominant_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSP feature extraction, certified: pure sine tones planted
    EXACTLY on FFT bins (bin 3..81 of a 1024-sample frame) are
    WAV-encoded, decoded by the real RIFF parser, and their dominant
    frequency recovered via numpy rfft + argmax — the first step of
    every audio-embedding / spectrogram pipeline. Because each tone
    sits on an exact bin, the int16 quantization of the sine cannot
    move the argmax, so the extracted bin is deterministic and the
    oracle states it in closed form: a hash match certifies
    decode + FFT + peak-pick end to end. sf_dir unused
    (self-generated corpus); payloads never shuffle."""
    return _codec_frame(
        spark, _FFT_N, _sine_asset, _dominant_freq,
        "asset_id long, n_samples long, dominant_bin long,"
        " dominant_freq_hz double",
    )


# ------------------------------------------------------- BMP resize

_RS_FACTOR = 2  # 2x2 box-average downscale


_OP198_SQL = f"""
WITH a AS (
  SELECT range AS i,
         16 + (range % 4) * 8 AS w,
         8 + (range % 3) * 8 AS h
  FROM range(0, {_BMP_N})
),
px AS (
  SELECT a.i, a.w, a.h, r.rr, c.cc,
         (a.i + 3 * r.rr + 7 * c.cc) % 256 AS red,
         (2 * a.i + 5 * r.rr + c.cc) % 256 AS grn,
         (3 * a.i + r.rr + 2 * c.cc) % 256 AS blu
  FROM a, UNNEST(range(0, a.h)) AS r(rr), UNNEST(range(0, a.w)) AS c(cc)
),
small AS (
  SELECT i, w, h, rr // {_RS_FACTOR} AS sr, cc // {_RS_FACTOR} AS sc,
         SUM(red) // {_RS_FACTOR * _RS_FACTOR} AS red,
         SUM(grn) // {_RS_FACTOR * _RS_FACTOR} AS grn,
         SUM(blu) // {_RS_FACTOR * _RS_FACTOR} AS blu
  FROM px GROUP BY i, w, h, sr, sc
)
SELECT CAST(i AS BIGINT) AS asset_id,
       CAST(w // {_RS_FACTOR} AS BIGINT) AS out_width,
       CAST(h // {_RS_FACTOR} AS BIGINT) AS out_height,
       CAST(SUM(red) AS BIGINT) AS sum_r,
       CAST(SUM(grn) AS BIGINT) AS sum_g,
       CAST(SUM(blu) AS BIGINT) AS sum_b
FROM small GROUP BY i, w, h
"""


def _bmp_resize_stats(aid: int, payload: bytes) -> list[tuple]:
    f = _RS_FACTOR
    w, h, px = decode_bmp(payload)
    ow, oh = w // f, h // f
    # 2x2 box average with floor division — integer-exact
    small = (
        px.astype(np.int64)[: oh * f, : ow * f]
        .reshape(oh, f, ow, f, 3)
        .sum(axis=(1, 3))
        // (f * f)
    )
    sums = small.sum(axis=(0, 1))
    return [(aid, ow, oh, int(sums[0]), int(sums[1]), int(sums[2]))]


@register("op198_bmp_resize", oracle=_OP198_SQL)
def op198_bmp_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image RESIZE, for real: the decoded BMPs downscale 2× by
    integer-exact box averaging (sum of each 2×2 block, floor-div 4 —
    the standard antialiased downscale, kept in int64 so the
    closed-form oracle can restate it exactly). Completes the
    decode / feature-extract / RESIZE / frame-sample verb set the
    north-star multimodal family promises, with a working kernel.
    Payloads and pixel arrays never leave their task; only the
    resized-image summary rows continue."""
    return _codec_frame(
        spark, _BMP_N, _bmp_asset, _bmp_resize_stats,
        "asset_id long, out_width long, out_height long,"
        " sum_r long, sum_g long, sum_b long",
    )


# ------------------------------------------------------- audio frames

_FR_LEN = 32   # samples per frame
_FR_TOPK = 3   # loudest frames reported per asset


_OP199_SQL = f"""
WITH a AS (SELECT range AS i FROM range(0, {_WAV_N})),
s AS (
  SELECT a.i, u.k // {_FR_LEN} AS frame_idx,
         ((a.i * 31 + u.k * 7) % 2001) - 1000 AS v
  FROM a, UNNEST(range(0, 400 + (a.i % 5) * 100)) AS u(k)
),
fr AS (
  SELECT i, frame_idx,
         CAST(SUM(v * v) AS BIGINT) AS energy,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM s GROUP BY i, frame_idx
),
r AS (
  SELECT i, frame_idx, energy,
         ROW_NUMBER() OVER (PARTITION BY i
                            ORDER BY energy DESC, frame_idx) AS rnk
  FROM fr WHERE n = {_FR_LEN}
)
SELECT CAST(i AS BIGINT) AS asset_id,
       CAST(frame_idx AS BIGINT) AS frame_idx,
       energy,
       CAST(rnk AS BIGINT) AS rnk
FROM r WHERE rnk <= {_FR_TOPK}
"""


def _loudest_frames(aid: int, payload: bytes) -> list[tuple]:
    _rate, _ch, n, s = decode_wav(payload)
    nf = n // _FR_LEN  # complete frames only (matches oracle)
    e = s[: nf * _FR_LEN].astype(np.int64).reshape(nf, _FR_LEN)
    energy = (e * e).sum(axis=1)
    order = sorted(range(nf), key=lambda j: (-energy[j], j))
    return [(aid, j, int(energy[j]), rnk)
            for rnk, j in enumerate(order[:_FR_TOPK], start=1)]


@register("op199_audio_loudest_frames", oracle=_OP199_SQL)
def op199_audio_loudest_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio FRAME-SAMPLING, for real: decoded PCM splits into
    32-sample frames and the 3 loudest frames per asset are reported
    (frame energy = exact int64 sum of squares; deterministic
    tiebreak) — the clip-selection step audio training pipelines run
    before feature extraction (keep the energetic windows, drop
    silence). The oracle restates frame bucketing and top-k from the
    generation formula. Payloads never shuffle; the per-asset top-k
    runs inside the decode task."""
    return _codec_frame(
        spark, _WAV_N, _wav_asset, _loudest_frames,
        "asset_id long, frame_idx long, energy long, rnk long",
    )


# ------------------------------------------------------- cross-modal join

_OP200_SQL = f"""
WITH wav AS (
  SELECT CAST(i AS BIGINT) AS asset_id,
         CAST(SUM(v * v) AS BIGINT) AS sum_sq
  FROM (
    SELECT a.i, ((a.i * 31 + u.k * 7) % 2001) - 1000 AS v
    FROM (SELECT range AS i FROM range(0, {_WAV_N})) a,
         UNNEST(range(0, 400 + (a.i % 5) * 100)) AS u(k)
  ) GROUP BY i
),
bmp AS (
  SELECT CAST(i AS BIGINT) AS asset_id,
         CAST(SUM((i + 3 * r.rr + 7 * c.cc) % 256) AS BIGINT) AS sum_r
  FROM (SELECT range AS i, 16 + (range % 4) * 8 AS w, 8 + (range % 3) * 8 AS h
        FROM range(0, {_BMP_N})) a,
       UNNEST(range(0, a.h)) AS r(rr), UNNEST(range(0, a.w)) AS c(cc)
  GROUP BY i
)
SELECT w.asset_id, w.sum_sq, b.sum_r
FROM wav w JOIN bmp b ON w.asset_id = b.asset_id
"""


@register("op200_multimodal_fuse", oracle=_OP200_SQL)
def op200_multimodal_fuse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal fusion: decoded AUDIO features join decoded IMAGE
    features on asset_id — the end-to-end multimodal pipeline (two
    independent decode stages, each confined to its own tasks, meeting
    in one equi-join of fixed-width feature rows). op82 covers
    text⋈vector; this is its decoded-media sibling, and the join input
    on each side is the certified output of op195/op196 — bytes are
    decoded for real upstream, but only integer features ever reach
    the shuffle. The oracle recomputes both sides from the generation
    formulas and joins them itself."""
    wav = _codec_frame(spark, _WAV_N, _wav_asset, _wav_features,
                       _WAV_FEATURES_DDL).select("asset_id", "sum_sq")
    bmp = _codec_frame(spark, _BMP_N, _bmp_asset, _bmp_stats,
                       _BMP_STATS_DDL).select("asset_id", "sum_r")
    return wav.join(bmp, "asset_id")


# ------------------------------------------------------------------ JPEG

_JPEG_N = 80       # op202 AC-rich corpus
_JPEG_DC_N = 60    # op203 DC-only corpus


def _qzz_literal() -> str:
    """Annex K luminance quant table in ZIGZAG order, inlined for the
    oracle from sources.jpeg (one source of truth): the dequantizer
    multiplies coefficient k by this, so the coefficient-domain
    features are exact-integer recomputable in SQL."""
    return "[" + ", ".join(str(int(q)) for q in QTABLE_ZZ) + "]"


def _jpeg_ac_asset(i: int) -> bytes:
    w = 16 + (i % 3) * 8
    h = 8 + (i % 2) * 8
    nb = (w // 8) * (h // 8)
    qc = np.zeros((nb, 64), dtype=np.int64)
    for b in range(nb):
        qc[b, 0] = (i * 7 + b * 13) % 127 - 63
        for k in range(4):
            p = 1 + ((i * 5 + b * 11 + k * 17) % 63)
            qc[b, p] = (i * 3 + b * 5 + k * 7) % 19 - 9
    return encode_jpeg_gray(qc, w, h)


def _jpeg_coef_stats(aid: int, payload: bytes) -> list[tuple]:
    w, h, qc, _px = decode_jpeg_gray(payload)
    return [(aid, w, h, qc.shape[0],
             int(qc[:, 0].sum()) * int(QTABLE_ZZ[0]),
             int(np.count_nonzero(qc[:, 1:])),
             int((np.abs(qc[:, 1:]) * QTABLE_ZZ[1:]).sum()))]


def _op202_sql() -> str:
    return f"""
WITH a AS (SELECT range AS i,
                  16 + (range % 3) * 8 AS w,
                  8 + (range % 2) * 8 AS h
           FROM range(0, {_JPEG_N})),
blk AS (SELECT a.i, a.w, a.h, (a.w // 8) * (a.h // 8) AS nb, u.b
        FROM a, UNNEST(range(0, (a.w // 8) * (a.h // 8))) AS u(b)),
ac AS (SELECT blk.i,
              1 + ((blk.i * 5 + blk.b * 11 + k.k * 17) % 63) AS p,
              (blk.i * 3 + blk.b * 5 + k.k * 7) % 19 - 9 AS v
       FROM blk, UNNEST(range(0, 4)) AS k(k)),
dcs AS (SELECT i, SUM((i * 7 + b * 13) % 127 - 63) * 16 AS dc_sum_deq,
               ANY_VALUE(w) AS w, ANY_VALUE(h) AS h, ANY_VALUE(nb) AS nb
        FROM blk GROUP BY i),
acs AS (SELECT i,
               COUNT(*) FILTER (WHERE v <> 0) AS ac_nonzero,
               COALESCE(SUM(ABS(v) * {_qzz_literal()}[p + 1])
                        FILTER (WHERE v <> 0), 0) AS ac_abs_deq
        FROM ac GROUP BY i)
SELECT CAST(d.i AS BIGINT) AS asset_id,
       CAST(d.w AS BIGINT) AS width,
       CAST(d.h AS BIGINT) AS height,
       CAST(d.nb AS BIGINT) AS n_blocks,
       CAST(d.dc_sum_deq AS BIGINT) AS dc_sum_deq,
       CAST(a.ac_nonzero AS BIGINT) AS ac_nonzero,
       CAST(a.ac_abs_deq AS BIGINT) AS ac_abs_deq
FROM dcs d JOIN acs a ON d.i = a.i
"""


@register(
    "op202_jpeg_decode_stats",
    oracle=_op202_sql(),
)
def op202_jpeg_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPRESSED-format decode, for real: 80 baseline JPEGs are built
    by the known-coefficient writer (quantized zigzag coefficients from
    closed-form formulas — 4 scattered AC positions per block exercise
    run-lengths, ZRL, EOB, negative amplitudes; per-block DC exercises
    the differential predictor) and
    DECODED by the real parser in sources/jpeg.py: marker walk, DQT,
    canonical Huffman build from DHT, bit-reader with 0xFF00 stuffing,
    entropy decode, dequantize. Features are coefficient-domain exact
    integers — dequantized DC sum, nonzero-AC count, |dequantized AC|
    sum (quant table indexed by ZIGZAG position) — so the DuckDB oracle
    recomputes them from the formulas without seeing a byte: a hash
    match certifies the entire entropy-decode + dequantization path.
    The IDCT/pixel path is certified by op203's hash and by the
    javax.imageio interop tests in tests/test_codecs.py. Payload bytes
    never shuffle (`_codec_frame`, the family's shared plan)."""
    return _codec_frame(
        spark, _JPEG_N, _jpeg_ac_asset, _jpeg_coef_stats,
        "asset_id long, width long, height long, n_blocks long,"
        " dc_sum_deq long, ac_nonzero long, ac_abs_deq long",
    )


def _jpeg_dc_asset(i: int) -> bytes:
    w = 16 + (i % 4) * 8
    h = 8 + (i % 3) * 8
    nb = (w // 8) * (h // 8)
    qc = np.zeros((nb, 64), dtype=np.int64)
    for b in range(nb):
        qc[b, 0] = (i * 11 + b * 7) % 127 - 63
    return encode_jpeg_gray(qc, w, h)


def _jpeg_pixel_stats(aid: int, payload: bytes) -> list[tuple]:
    w, h, _qc, px = decode_jpeg_gray(payload)
    return _gray_stats(aid, w, h, px)


_OP203_SQL = f"""
WITH a AS (SELECT range AS i,
                  16 + (range % 4) * 8 AS w,
                  8 + (range % 3) * 8 AS h
           FROM range(0, {_JPEG_DC_N})),
blk AS (SELECT a.i, a.w, a.h,
               ((a.i * 11 + u.b * 7) % 127 - 63) * 2 + 128 AS pv
        FROM a, UNNEST(range(0, (a.w // 8) * (a.h // 8))) AS u(b))
SELECT CAST(i AS BIGINT) AS asset_id,
       CAST(ANY_VALUE(w) AS BIGINT) AS width,
       CAST(ANY_VALUE(h) AS BIGINT) AS height,
       CAST(SUM(pv) * 64 AS BIGINT) AS pixel_sum,
       CAST(MIN(pv) AS BIGINT) AS min_px,
       CAST(MAX(pv) AS BIGINT) AS max_px
FROM blk GROUP BY i
"""

_GRAY_STATS_DDL = (
    "asset_id long, width long, height long, pixel_sum long,"
    " min_px long, max_px long"
)


@register("op203_jpeg_pixel_decode", oracle=_OP203_SQL)
def op203_jpeg_pixel_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JPEG PIXEL path, hash-certified: DC-only baseline JPEGs decode
    to exactly-known flat blocks — a dequantized DC of 16·qdc yields
    IDCT output DC/8 = 2·qdc on every pixel, so pixel = 2·qdc + 128
    exactly (|qdc| ≤ 63 keeps it in [2, 254]: no clamping, and the
    float IDCT's ~1e-13 error cannot move an integer target across a
    rounding boundary). The oracle restates that closed form, which
    means THE HASH CERTIFIES THE DECODER'S IDCT + level-shift + round
    + clamp pipeline — the one stage op202's coefficient-domain
    features cannot see. AC-rich pixel output (where IDCT rounding is
    implementation-defined ±1, per T.81's accuracy clause) is covered
    by the javax.imageio cross-implementation tests instead."""
    return _codec_frame(spark, _JPEG_DC_N, _jpeg_dc_asset,
                        _jpeg_pixel_stats, _GRAY_STATS_DDL)


# ------------------------------------------------------------------- PNG

_PNG_N = 60


def _png_asset(i: int) -> bytes:
    w = 20 + (i % 5) * 7
    h = 10 + (i % 4) * 5
    r = np.arange(h, dtype=np.int64)[:, None]
    c = np.arange(w, dtype=np.int64)[None, :]
    px = ((i * 13 + r * 7 + c * 3) % 256).astype(np.uint8)
    # default filter schedule cycles 0..4: every PNG filter's
    # RECONSTRUCTION is load-bearing in the certified hash
    return encode_png_gray(px)


def _png_stats(aid: int, payload: bytes) -> list[tuple]:
    return _gray_stats(aid, *decode_png_gray(payload))


_OP205_SQL = f"""
WITH a AS (SELECT range AS i,
                  20 + (range % 5) * 7 AS w,
                  10 + (range % 4) * 5 AS h
           FROM range(0, {_PNG_N})),
px AS (SELECT a.i, a.w, a.h, (a.i * 13 + r.r * 7 + c.c * 3) % 256 AS v
       FROM a, UNNEST(range(0, a.h)) AS r(r), UNNEST(range(0, a.w)) AS c(c))
SELECT CAST(i AS BIGINT) AS asset_id,
       CAST(ANY_VALUE(w) AS BIGINT) AS width,
       CAST(ANY_VALUE(h) AS BIGINT) AS height,
       CAST(SUM(v) AS BIGINT) AS pixel_sum,
       CAST(MIN(v) AS BIGINT) AS min_px,
       CAST(MAX(v) AS BIGINT) AS max_px
FROM px GROUP BY i
"""


@register("op205_png_decode_stats", oracle=_OP205_SQL)
def op205_png_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PNG decode, for real and LOSSLESS: 60 grayscale PNGs (pixels
    from a closed-form formula, per-row filter types cycling through
    all five — None/Sub/Up/Average/Paeth) are encoded with
    sources/png.py and decoded back: chunk walk with CRC32 verify,
    zlib inflate, filter reconstruction. Because PNG is lossless the
    features are the EXACT pixels' sum/min/max and the oracle
    recomputes them from the generation formula — the hash certifies
    the whole codec with no coefficient-domain indirection (contrast
    op202/op203's split JPEG certification). Two-way javax.imageio
    interop (our bytes there, its bytes here, both pixel-exact) is in
    tests/test_codecs.py. Same no-payload-shuffle contract as the
    whole codec family."""
    return _codec_frame(spark, _PNG_N, _png_asset, _png_stats,
                        _GRAY_STATS_DDL)


# ------------------------------------------------------------------- GIF

_GIF_N = 60


def _gif_asset(i: int) -> bytes:
    w = 18 + (i % 6) * 9
    h = 12 + (i % 5) * 6
    r = np.arange(h, dtype=np.int64)[:, None]
    c = np.arange(w, dtype=np.int64)[None, :]
    if i % 3 == 2:
        # low-entropy stripes: long runs exercise deep LZW
        # prefixes and the KwKwK reconstruction path
        px = np.broadcast_to(
            (((r // 3) * 17 + i * 5) % 256).astype(np.uint8), (h, w)
        )
    else:
        px = ((i * 13 + r * 7 + c * 3) % 256).astype(np.uint8)
    return encode_gif_gray(px)


def _gif_stats(aid: int, payload: bytes) -> list[tuple]:
    return _gray_stats(aid, *decode_gif_gray(payload))


_OP222_SQL = f"""
WITH a AS (SELECT range AS i,
                  18 + (range % 6) * 9 AS w,
                  12 + (range % 5) * 6 AS h
           FROM range(0, {_GIF_N})),
px AS (SELECT a.i, a.w, a.h,
              CASE WHEN a.i % 3 = 2
                   THEN ((r.r // 3) * 17 + a.i * 5) % 256
                   ELSE (a.i * 13 + r.r * 7 + c.c * 3) % 256 END AS v
       FROM a, UNNEST(range(0, a.h)) AS r(r), UNNEST(range(0, a.w)) AS c(c))
SELECT CAST(i AS BIGINT) AS asset_id,
       CAST(ANY_VALUE(w) AS BIGINT) AS width,
       CAST(ANY_VALUE(h) AS BIGINT) AS height,
       CAST(SUM(v) AS BIGINT) AS pixel_sum,
       CAST(MIN(v) AS BIGINT) AS min_px,
       CAST(MAX(v) AS BIGINT) AS max_px
FROM px GROUP BY i
"""


@register("op222_gif_decode_stats", oracle=_OP222_SQL)
def op222_gif_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GIF decode for real — the THIRD compressed image format and the
    remaining classic compression family: LZW with variable-width
    codes (JPEG covers lossy DCT+Huffman, PNG covers DEFLATE). 60
    grayscale-palette GIFs from a closed-form formula (one corpus
    slice is low-entropy stripes so deep LZW prefixes and the KwKwK
    self-referential code path are load-bearing) are encoded by
    sources/gif.py's REAL compressing LZW encoder and decoded back:
    container walk, palette handling, variable-width code unpack,
    dictionary reconstruction, CLEAR resets, 4-pass interlace
    support. Lossless ⇒ the oracle restates exact pixel sums from
    the generation formula — the hash certifies the entire codec.
    Two-way javax.imageio interop (incl. its INTERLACED output) in
    tests/test_codecs.py. No payload ever shuffles (`_codec_frame`,
    the family's shared plan)."""
    return _codec_frame(spark, _GIF_N, _gif_asset, _gif_stats,
                        _GRAY_STATS_DDL)


# --------------------------------------------------------------------------
# op251: FLAC decode features — lossless compressed audio, closed-form oracle
# --------------------------------------------------------------------------

_FLAC_N = 120
_FLAC_RATE = 8000
# signal: v(i, k, c) = ((i*17 + k*13 + c*29) % 1601) - 800 for channel
# c, n = 300 + (i%4)*150 per channel (int16-safe; sawtooth-ish so
# predictors genuinely compress). Assets with i%4==3 are STEREO
# (channels 0/1), the rest mono; the encoder path varies per asset —
# predictor lpc/fixed by i%3 (i%3==0 spans both parities, so STEREO
# assets get LPC too: each of the four stereo layouts pairs with LPC
# somewhere in the corpus — i=3,51,99 independent, 39,87 left/side,
# 27,75 right/side, 15,63,111 mid/side), stereo decorrelation mode
# cycling through all four layouts by i//4 — so the oracle hash
# certifies every subframe and channel-reconstruction path the
# decoder has, including LPC on the 17-bit side channel.

_OP251_SQL = f"""
WITH a AS (SELECT range AS i FROM range(0, {_FLAC_N})),
ch AS (
  SELECT a.i, c.c
  FROM a, UNNEST(range(0, 1 + CASE WHEN a.i % 4 = 3 THEN 1 ELSE 0 END)) c(c)
),
s AS (
  SELECT ch.i, ch.c, u.k,
         ((ch.i * 17 + u.k * 13 + ch.c * 29) % 1601) - 800 AS v
  FROM ch, UNNEST(range(0, 300 + (ch.i % 4) * 150)) AS u(k)
)
SELECT CAST(i AS BIGINT) AS asset_id,
       CAST({_FLAC_RATE} AS BIGINT) AS sample_rate,
       CAST(MAX(c) + 1 AS BIGINT) AS channels,
       CAST(COUNT(*) AS BIGINT) AS n_samples,
       CAST((300 + (i % 4) * 150) * 1000 // {_FLAC_RATE} AS BIGINT)
         AS duration_ms,
       CAST(SUM(v * v) AS BIGINT) AS sum_sq,
       CAST(MAX(ABS(v)) AS BIGINT) AS peak,
       CAST(MIN(CASE WHEN c = 0 AND k = 0 THEN v END) AS BIGINT) AS first_s,
       CAST(MIN(CASE WHEN c = CASE WHEN i % 4 = 3 THEN 1 ELSE 0 END
                     AND k = 300 + (i % 4) * 150 - 1 THEN v END) AS BIGINT)
         AS last_s
FROM s GROUP BY i
"""

_FLAC_MODES = ("independent", "left_side", "right_side", "mid_side")


def _flac_asset(i: int) -> bytes:
    n = 300 + (i % 4) * 150
    k = np.arange(n, dtype=np.int64)
    chans = [((i * 17 + k * 13 + c * 29) % 1601 - 800)
             for c in range(1 + (i % 4 == 3))]
    if len(chans) == 2:
        s = np.stack(chans, axis=1).astype(np.int16)
    else:
        s = chans[0].astype(np.int16)
    return encode_flac(
        s, _FLAC_RATE, blocksize=256,
        predictor="lpc" if i % 3 == 0 else "fixed",
        stereo_mode=_FLAC_MODES[(i // 4) % 4],
    )


def _flac_features(aid: int, payload: bytes) -> list[tuple]:
    rate, s = decode_flac(payload)
    # interleaved flatten: mono is identity; stereo gives
    # L0 R0 L1 R1 ... so first = left[0], last = right[-1]
    s64 = np.asarray(s, dtype=np.int64).reshape(-1)
    n_per_ch = s.shape[0]
    return [(aid, rate, 1 if s.ndim == 1 else s.shape[1], s64.size,
             n_per_ch * 1000 // rate, int(np.sum(s64 * s64)),
             int(np.max(np.abs(s64))), int(s64[0]), int(s64[-1]))]


@register("op251_flac_decode_features", oracle=_OP251_SQL)
def op251_flac_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLAC audio decode, for real — compressed lossless audio:
    120 conformant 16-bit FLAC streams (90 mono + 30 STEREO,
    multi-frame) are encoded from a closed-form integer formula and
    then DECODED by sources/flac.py's spec parser — CRC-8/CRC-16
    verified per frame and the STREAMINFO MD5 recomputed over the
    decoded (interleaved) samples, so every asset that reaches the
    feature row is bit-certified lossless by the format's own
    integrity machinery.

    The corpus deliberately spans the decoder's whole surface: the
    encoder alternates LPC (Levinson-Durbin, quantized-coefficient
    integer prediction) and FIXED predictors per asset, Rice partition
    orders 0/1 per frame, keeps the raw-escape path reachable, and
    cycles the stereo assets through all four channel layouts
    (independent, left/side, right/side, mid/side — the side channel's
    17th bit included), so the oracle hash certifies every subframe
    type and channel-reconstruction rule, not just one happy path.

    The oracle recomputes channels / n_samples / duration / energy /
    peak / first / last from the generation formula alone (op205's
    closed-form pattern: for a LOSSLESS codec the decode output is
    exactly the generation formula, so a hash match certifies the
    whole encode→Rice-bits→decode path, not the plumbing).

    Scale shape: generation and decode are chained mapInArrow stages
    in one task — payload bytes never shuffle; only fixed-width
    integer feature rows continue (op195's contract).
    sf_dir unused: self-generated corpus (op152's stance)."""
    return _codec_frame(
        spark, _FLAC_N, _flac_asset, _flac_features,
        "asset_id long, sample_rate long, channels long, n_samples long,"
        " duration_ms long, sum_sq long, peak long, first_s long, last_s long",
    )


# op104 corpus: 40 PNG images + 40 FLAC clips, all from closed-form
# integer formulas, restated by the oracle without seeing a byte.
_OP104_N = 40

_OP104_SQL = f"""
WITH img AS (SELECT range AS i,
                    16 + (range % 5) * 8 AS w,
                    12 + (range % 4) * 6 AS h
             FROM range(0, {_OP104_N})),
imgpx AS (SELECT img.i, img.w, img.h,
                 (img.i * 13 + r.r * 7 + c.c * 3) % 256 AS v
          FROM img, UNNEST(range(0, img.h)) r(r), UNNEST(range(0, img.w)) c(c)),
imgrow AS (SELECT CAST(i AS BIGINT) AS asset_id,
                  'image' AS modality,
                  CAST(ANY_VALUE(w) AS BIGINT) AS dim_a,
                  CAST(ANY_VALUE(h) AS BIGINT) AS dim_b,
                  CAST(SUM(v) AS BIGINT) AS checksum
           FROM imgpx GROUP BY i),
aud AS (SELECT {_OP104_N} + range AS i,
               200 + (({_OP104_N} + range) % 4) * 100 AS n
        FROM range(0, {_OP104_N})),
auds AS (SELECT aud.i, aud.n,
                ((aud.i * 17 + k.k * 13) % 1601) - 800 AS v
         FROM aud, UNNEST(range(0, aud.n)) k(k)),
audrow AS (SELECT CAST(i AS BIGINT) AS asset_id,
                  'audio' AS modality,
                  CAST(ANY_VALUE(n) AS BIGINT) AS dim_a,
                  CAST(8000 AS BIGINT) AS dim_b,
                  CAST(SUM(v) AS BIGINT) AS checksum
           FROM auds GROUP BY i)
SELECT * FROM imgrow UNION ALL SELECT * FROM audrow
"""


def _op104_asset(i: int) -> tuple:
    """(modality, mime, payload): ids below _OP104_N are PNG images,
    the rest FLAC mono clips."""
    if i < _OP104_N:
        w, h = 16 + (i % 5) * 8, 12 + (i % 4) * 6
        r = np.arange(h, dtype=np.int64)[:, None]
        c = np.arange(w, dtype=np.int64)[None, :]
        px = ((i * 13 + r * 7 + c * 3) % 256).astype(np.uint8)
        return "image", "image/png", encode_png_gray(px)
    n = 200 + (i % 4) * 100
    k = np.arange(n, dtype=np.int64)
    s = ((i * 17 + k * 13) % 1601 - 800).astype(np.int16)
    return "audio", "audio/flac", encode_flac(s, 8000, blocksize=256)


def _op104_decode(aid: int, modality: str, mime: str,
                  payload: bytes) -> list[tuple]:
    if mime == "image/png":
        w, h, px = decode_png_gray(payload)
        return [(aid, modality, w, h, int(px.astype(np.int64).sum()))]
    if mime == "audio/flac":
        rate, s = decode_flac(payload)
        s64 = np.asarray(s, dtype=np.int64).reshape(-1)
        return [(aid, modality, s64.size, rate, int(s64.sum()))]
    raise ValueError(f"undecodable mime {mime!r}")


@register("op104_multimodal_decode", oracle=_OP104_SQL)
def op104_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal binary-column pipeline end-to-end, on REAL codecs:
    ONE asset table carries mixed modalities in a single opaque
    `binary` column beside typed metadata (modality, mime), and one
    mapInArrow decode stage DISPATCHES per payload — image/png through
    sources/png.py's chunk
    walk + CRC32 + inflate + filter reconstruction, audio/flac through
    sources/flac.py's frame parser + LPC/fixed predictors + CRC/MD5
    verify — emitting one unified fixed-width feature row per asset
    (dim_a/dim_b/checksum = width/height/pixel-sum for images,
    n_samples/rate/sample-sum for audio). Both formats are lossless,
    so the DuckDB oracle recomputes every feature from the generation
    formulas without ever seeing a byte: the hash certifies the
    dispatch AND both codecs end to end.

    Scale shape: encode and decode are chained mapInArrow stages in
    one task — payload bytes never shuffle, never leave the executors; only
    80 fixed-width rows continue. At 100 TB the same plan reads a
    (modality, date)-partitioned media lake where metadata-only
    queries never touch the binary column."""
    return _codec_frame(
        spark, 2 * _OP104_N, _op104_asset, _op104_decode,
        "asset_id long, modality string, dim_a long, dim_b long,"
        " checksum long",
        gen_ddl="asset_id long, modality string, mime string, payload binary",
    )


# op130 corpus: 24 animated GIFs, 2-8 full-size frames each, pixels
# from a closed-form formula; the sampler keeps every 4th frame.
_OP130_N = 24
_OP130_EVERY = 4

_OP130_SQL = f"""
WITH a AS (SELECT range AS i,
                  2 + (range % 7) AS nf,
                  10 + (range % 5) * 4 AS w,
                  8 + (range % 4) * 4 AS h
           FROM range(0, {_OP130_N})),
f AS (SELECT a.i, a.nf, a.w, a.h, k.k
      FROM a, UNNEST(range(0, a.nf)) k(k)
      WHERE k.k % {_OP130_EVERY} = 0),
px AS (SELECT f.i, f.nf, f.k,
              (f.i * 13 + f.k * 29 + r.r * 7 + c.c * 3) % 256 AS v
       FROM f, UNNEST(range(0, f.h)) r(r), UNNEST(range(0, f.w)) c(c))
SELECT CAST(i AS BIGINT) AS asset_id,
       CAST(ANY_VALUE(nf) AS BIGINT) AS n_frames,
       CAST(COUNT(DISTINCT k) AS BIGINT) AS n_sampled,
       CAST(SUM(v) AS BIGINT) AS px_sum
FROM px GROUP BY i
"""


def _anim_gif_asset(i: int) -> bytes:
    nf = 2 + i % 7
    w, h = 10 + (i % 5) * 4, 8 + (i % 4) * 4
    r = np.arange(h, dtype=np.int64)[:, None]
    c = np.arange(w, dtype=np.int64)[None, :]
    return encode_gif_anim([
        ((i * 13 + k * 29 + r * 7 + c * 3) % 256).astype(np.uint8)
        for k in range(nf)
    ])


def _sampled_frames(aid: int, payload: bytes) -> list[tuple]:
    frames = decode_gif_frames(payload)
    kept = frames[::_OP130_EVERY]
    return [(aid, len(frames), len(kept),
             int(sum(px.astype(np.int64).sum() for _w, _h, px in kept)))]


@register("op130_multimodal_frame_sample", oracle=_OP130_SQL)
def op130_multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-style frame sampling on a REAL container: 24 multi-frame
    animated GIF89a streams (sources/gif.py
    encode_gif_anim — NETSCAPE loop block, per-frame Graphic Control
    Extensions, full LZW per frame) are decoded frame-by-frame and
    SAMPLED — every 4th frame's exact pixel sum survives, the rest are
    dropped inside the task. Output per asset: total frame count,
    sampled count, summed sampled pixels. GIF is lossless, so the
    DuckDB oracle regenerates the kept frames' pixels from the
    closed-form formula — the hash certifies the multi-frame container
    walk (extension skipping between frames included), the per-frame
    LZW decode, AND the sampling arithmetic.

    Scale shape: identical to op104 — payload bytes live and die
    inside one task, only (asset_id, 3 counters) rows continue; a
    production frame-sampler over H.264 swaps the codec kernel, not
    the plan."""
    return _codec_frame(
        spark, _OP130_N, _anim_gif_asset, _sampled_frames,
        "asset_id long, n_frames long, n_sampled long, px_sum long",
    )
