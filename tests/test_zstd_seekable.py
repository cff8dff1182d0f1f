"""Seekable-zstd source (sources/zstd_seekable.py + op261).

Mirrors test_bgzf.py's three-claim discipline:
- COMPATIBLE: the file is a valid multi-frame zstd stream — a stock
  one-shot libzstd decoder (pyarrow's Codec) reads it end-to-end,
  silently skipping the seek-table skippable frame.
- SPLITTABLE: the manifest comes from ONE footer+table read, frames
  decompress independently and reassemble the corpus exactly, and a
  plain (table-less) zstd stream fails catalog-time with a loud error.
- LOUD ON CORRUPTION: a flipped byte in any frame, a table that does
  not tile the data region, or any truncation point raises the
  module's ValueError taxonomy — never silent partial data.
"""

from __future__ import annotations

import os
import struct

import pytest

from ocdb_server_spark.sources.zstd_seekable import (
    read_frame,
    read_seek_table,
    seek_table_frame,
    write_seekable_zstd,
)


def _corpus(n=4000):
    # ~200 KB uncompressed -> several 48 KiB-batched frames
    return [f"line-{i}-" + "x" * (i % 37) for i in range(n)]


def _stock_decompress(blob: bytes, usize: int) -> bytes:
    import pyarrow as pa

    return bytes(pa.Codec("zstd").decompress(blob, decompressed_size=usize))


def test_roundtrip_multiframe_and_stock_zstd_compat(tmp_path):
    lines = _corpus()
    blob = write_seekable_zstd(lines)
    path = str(tmp_path / "c.jsonl.zst")
    with open(path, "wb") as f:
        f.write(blob)

    raw = "".join(x + "\n" for x in lines).encode()
    # stock compatibility: a one-shot multi-frame decoder reads the
    # whole file, skippable seek table included
    assert _stock_decompress(blob, len(raw)) == raw

    # split path: one footer read -> manifest; independent frames
    blocks = read_seek_table(path)
    assert len(blocks) > 2, "corpus must span multiple frames"
    assert blocks[0][0] == 0
    for (o1, c1, _), (o2, _, _) in zip(blocks, blocks[1:]):
        assert o1 + c1 == o2
    out = []
    for off, csize, usize in blocks:
        text = read_frame(path, off, csize, usize).decode()
        assert text.endswith("\n"), "frame must end at a record boundary"
        out.extend(text.splitlines())
    assert out == lines


def test_plain_zstd_rejected_at_catalog_time(tmp_path):
    import pyarrow as pa

    path = str(tmp_path / "plain.zst")
    with open(path, "wb") as f:
        f.write(bytes(pa.Codec("zstd").compress(b"hello\nworld\n")))
    with pytest.raises(ValueError, match="seek-table magic"):
        read_seek_table(path)


def test_corrupt_frame_fails_loudly(tmp_path):
    blob = bytearray(write_seekable_zstd(_corpus(1000)))
    path = str(tmp_path / "bad.zst")
    with open(path, "wb") as f:
        f.write(bytes(blob))
    off, csize, usize = read_seek_table(path)[0]
    blob[off + 8] ^= 0xFF  # flip a payload byte past the frame header
    with open(path, "wb") as f:
        f.write(bytes(blob))
    with pytest.raises(ValueError):
        read_frame(path, off, csize, usize)


def test_table_must_tile_data_region(tmp_path):
    """A seek table whose cumulative compressed sizes do not land
    exactly at the table's own start is corrupt — overlapping or
    missing entries must fail catalog-time, not mis-seek."""
    lines = _corpus(500)
    frames = []
    import pyarrow as pa

    codec = pa.Codec("zstd")
    payload = "".join(x + "\n" for x in lines).encode()
    frames.append((bytes(codec.compress(payload)), len(payload)))
    sizes = [(len(f) + 1, u) for f, u in frames]  # +1: off-by-one lie
    blob = b"".join(f for f, _ in frames) + seek_table_frame(sizes)
    path = str(tmp_path / "tile.zst")
    with open(path, "wb") as f:
        f.write(blob)
    with pytest.raises(ValueError, match="tiles"):
        read_seek_table(path)


def test_reserved_descriptor_bits_rejected(tmp_path):
    blob = bytearray(write_seekable_zstd(_corpus(100)))
    # descriptor byte sits 5 bytes before EOF (u8 before the u32 magic)
    blob[-5] = 0x04  # a reserved bit
    path = str(tmp_path / "desc.zst")
    with open(path, "wb") as f:
        f.write(bytes(blob))
    with pytest.raises(ValueError, match="reserved"):
        read_seek_table(path)


def test_any_truncation_point_raises_valueerror(tmp_path):
    """Truncation-sweep fuzz (test_bgzf's pattern): for cut positions
    across the blob — mid-frame, mid-table, mid-footer — the catalog
    step must raise ValueError, never struct.error or a silent
    shorter manifest."""
    blob = write_seekable_zstd(_corpus())
    path = str(tmp_path / "sweep.zst")
    cuts = sorted({1, 4, 8, len(blob) // 2, len(blob) - 10,
                   len(blob) - 9, len(blob) - 1}
                  | {i * len(blob) // 23 for i in range(1, 23)})
    for cut in cuts:
        if cut <= 0 or cut >= len(blob):
            continue
        with open(path, "wb") as f:
            f.write(blob[:cut])
        with pytest.raises(ValueError):
            read_seek_table(path)


def test_op261_splits_across_tasks_and_matches_table(spark, sf_dir):
    """The round-9 verdict's done-criterion, now pinned on the
    single-file DEMO shape (round-10 item 3 moved the registered op261
    to the parallel writer): a >1-partition read of ONE file (multiple
    manifest frames fanning out), and the per-lang aggregate equals
    the same aggregate straight off parquet."""
    from pyspark.sql import functions as F

    from ocdb_server_spark.io import load_table
    from ocdb_server_spark.operators.scans import (
        zstd_single_file_demo,
    )
    from ocdb_server_spark.scratch import scratch_path

    out = zstd_single_file_demo(spark, sf_dir)
    got = {r.lang: (r.n_docs, r.sum_doc_id, r.sum_text_chars, r.sum_n_chars)
           for r in out.collect()}
    exp = {
        r.lang: (r.n_docs, r.sum_doc_id, r.sum_text_chars, r.sum_n_chars)
        for r in load_table(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("doc_id").alias("sum_doc_id"),
            F.sum(F.length("text")).alias("sum_text_chars"),
            F.sum("n_chars").alias("sum_n_chars"),
        )
        .collect()
    }
    assert got == exp and got

    # the single file really is split: >1 frame in the manifest, and
    # the stock end-to-end decode agrees with the frame-wise corpus
    path = os.path.join(
        scratch_path("zstd_jsonl", sf_dir), "documents.jsonl.zst"
    )
    assert os.path.exists(path), "scratch seekable-zstd file missing"
    blocks = read_seek_table(path)
    assert len(blocks) > 1, "single-file read must fan out to >1 frame"
    frame_wise = b"".join(
        read_frame(path, o, c, u) for o, c, u in blocks
    )
    with open(path, "rb") as f:
        whole = f.read()
    assert _stock_decompress(whole, len(frame_wise)) == frame_wise


def test_parallel_writer_multi_file_roundtrip(spark, sf_dir, tmp_path):
    """The PARALLEL writer shape (op260's production story on the
    zstd kernel): N tasks write N seekable-zstd files through the
    same _write_docs_zstd_file kernel, every file is independently a
    valid stock multi-frame zstd stream + seekable file, and the SAME
    seek-table-manifest split-read consumes the multi-file corpus to
    the identical per-lang aggregate as the single-file demo."""
    from ocdb_server_spark.operators.scans import (
        zstd_export_docs_parallel,
        zstd_read_lang_agg,
        zstd_single_file_demo,
    )

    parts = 4
    paths = zstd_export_docs_parallel(spark, sf_dir, str(tmp_path), parts)
    assert len(paths) == parts and len(set(paths)) == parts
    total_frames = 0
    for p in paths:
        blocks = read_seek_table(p)
        total_frames += len(blocks)
        raw = b"".join(read_frame(p, o, c, u) for o, c, u in blocks)
        with open(p, "rb") as f:
            whole = f.read()
        assert _stock_decompress(whole, len(raw)) == raw
    assert total_frames >= parts  # real data spread across files

    multi = {
        r.lang: (r.n_docs, r.sum_doc_id, r.sum_text_chars, r.sum_n_chars)
        for r in zstd_read_lang_agg(spark, paths).collect()
    }
    single = {
        r.lang: (r.n_docs, r.sum_doc_id, r.sum_text_chars, r.sum_n_chars)
        for r in zstd_single_file_demo(spark, sf_dir).collect()
    }
    assert multi == single and multi


def test_op261_registered_plan_writes_parallel(spark, sf_dir):
    """Round-10 verdict item 3's done-criterion: the REGISTERED op261
    writes via the parallel exporter — ≥4 concurrent write tasks, one
    seekable-zstd file each — and its per-lang aggregate still equals
    the single-file demo's (same corpus, file-count-agnostic read)."""
    from ocdb_server_spark.operators.scans import (
        op261_zstd_seekable_ingest,
        zstd_single_file_demo,
    )
    from ocdb_server_spark.scratch import scratch_path

    reg = {
        r.lang: (r.n_docs, r.sum_doc_id, r.sum_text_chars, r.sum_n_chars)
        for r in op261_zstd_seekable_ingest(spark, sf_dir).collect()
    }
    out_dir = scratch_path("zstd_jsonl_par", sf_dir)
    files = sorted(
        f for f in os.listdir(out_dir) if f.endswith(".jsonl.zst")
    )
    assert len(files) >= 4, f"expected >=4 parallel write tasks: {files}"
    demo = {
        r.lang: (r.n_docs, r.sum_doc_id, r.sum_text_chars, r.sum_n_chars)
        for r in zstd_single_file_demo(spark, sf_dir).collect()
    }
    assert reg == demo and reg


def test_parallel_writer_empty_partitions_write_valid_tables(
    spark, tmp_path
):
    """zstd_export_docs_parallel's `len(manifest) == partitions`
    contract: every task yields a manifest row, empty partitions write
    a valid 0-frame file (bare seek table — read_seek_table returns an
    empty manifest, a stock decoder reads it as 0 bytes), and the
    split-read over the mixed file set reassembles the corpus."""
    from ocdb_server_spark.operators.scans import (
        zstd_export_docs_parallel,
        zstd_read_lang_agg,
    )

    sf = str(tmp_path / "sf")
    spark.createDataFrame(
        [(1, "alpha beta", "en", 10), (2, "gamma", "fr", 5),
         (3, "delta words", "en", 11)],
        "doc_id long, text string, lang string, n_chars long",
    ).write.parquet(f"{sf}/documents.parquet")
    out = tmp_path / "out"
    paths = zstd_export_docs_parallel(spark, sf, str(out), 8)
    assert len(paths) == 8
    n_empty = 0
    for p in paths:
        blocks = read_seek_table(p)
        if not blocks:
            n_empty += 1
            with open(p, "rb") as f:
                whole = f.read()
            assert _stock_decompress(whole, 0) == b""
    assert n_empty >= 5  # 3 rows cannot fill 8 partitions
    got = {
        r.lang: (r.n_docs, r.sum_doc_id)
        for r in zstd_read_lang_agg(spark, paths).collect()
    }
    assert got == {"en": (2, 4), "fr": (1, 2)}


# ------------------------------------------------- property tests
# (test_properties.py's rule: hypothesis on the pure-Python surface —
# thousands of examples are free; no Spark in the loop)

from hypothesis import given, settings, strategies as st  # noqa: E402

_lines = st.lists(
    st.text(
        alphabet=st.characters(exclude_characters="\n", exclude_categories=("Cs",)),
        max_size=200,
    ),
    min_size=0,
    max_size=60,
)


@settings(max_examples=150, deadline=None)
@given(_lines)
def test_property_roundtrip_any_unicode_corpus(lines):
    """write → seek table → frame-wise decode reassembles ANY corpus
    of newline-free unicode lines exactly, and the stock one-shot
    decoder agrees on the same bytes (frames flushed at line
    boundaries, so per-frame payloads always end in a newline)."""
    import struct as _struct
    import tempfile

    from ocdb_server_spark.sources.zstd_seekable import (
        read_frame as rf,
        read_seek_table as rst,
        write_seekable_zstd as wsz,
    )

    blob = wsz(lines)
    raw = "".join(x + "\n" for x in lines).encode()
    with tempfile.NamedTemporaryFile(suffix=".zst") as f:
        f.write(blob)
        f.flush()
        blocks = rst(f.name)
        out = b"".join(rf(f.name, o, c, u) for o, c, u in blocks)
    assert out == raw
    assert _stock_decompress(blob, len(raw)) == raw
    # the table tiles the data region and the footer magic is last
    assert sum(c for _, c, _ in blocks) + 8 + 8 * len(blocks) + 9 == len(blob)
    assert _struct.unpack("<I", blob[-4:])[0] == 0x8F92EAB1


@settings(max_examples=120, deadline=None)
@given(_lines, st.integers(min_value=1, max_value=10**9))
def test_property_any_truncation_raises(lines, seed):
    """For ANY corpus and ANY cut position strictly inside the blob,
    the catalog step raises ValueError — never a silent shorter
    manifest and never a foreign exception type."""
    import tempfile

    from ocdb_server_spark.sources.zstd_seekable import (
        read_seek_table as rst,
        write_seekable_zstd as wsz,
    )

    blob = wsz(lines)
    cut = seed % (len(blob) - 1) + 1  # 1 .. len-1
    with tempfile.NamedTemporaryFile(suffix=".zst") as f:
        f.write(blob[:cut])
        f.flush()
        with pytest.raises(ValueError):
            rst(f.name)
