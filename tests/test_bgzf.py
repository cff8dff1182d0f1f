"""BGZF blocked-gzip source (sources/bgzf.py + op260).

What must hold (module docstring's three claims, each pinned here):
- COMPATIBLE: the file is a valid multi-member gzip stream — stdlib
  gzip reads it end-to-end byte-identically.
- SPLITTABLE: the manifest comes from the in-band BSIZE fields alone,
  blocks inflate independently and reassemble the corpus exactly, and
  a non-BGZF gzip file fails catalog-time with a loud error.
- LOUD ON CORRUPTION: a flipped byte in any member fails that
  member's CRC — never silent partial data.
"""

from __future__ import annotations

import gzip
import os
import struct

import pytest

from ocdb_server_spark.sources.bgzf import (
    BGZF_EOF,
    iter_bgzf_members,
    read_block,
    walk_blocks,
)


def write_bgzf(lines) -> bytes:
    """A whole BGZF file in memory, as op260's writer task streams it."""
    return b"".join(iter_bgzf_members(lines))


def _corpus(n=4000):
    # ~200 KB uncompressed -> several 48 KiB-batched members
    return [f"line-{i}-" + "x" * (i % 37) for i in range(n)]


def test_roundtrip_multiblock_and_stdlib_gzip_compat(tmp_path):
    lines = _corpus()
    blob = write_bgzf(lines)
    path = str(tmp_path / "c.jsonl.gz")
    with open(path, "wb") as f:
        f.write(blob)

    # gzip compatibility: a stock consumer sees the exact byte stream
    assert gzip.decompress(blob).decode() == "".join(x + "\n" for x in lines)
    # canonical EOF marker terminates the file
    assert blob.endswith(BGZF_EOF)

    # split path: header-walk manifest, independent member inflation
    blocks = walk_blocks(path)
    assert len(blocks) > 2, "corpus must span multiple members"
    # members are contiguous and the EOF marker is excluded
    assert blocks[0][0] == 0
    for (o1, l1), (o2, _) in zip(blocks, blocks[1:]):
        assert o1 + l1 == o2
    out = []
    for off, ln in blocks:
        payload = read_block(path, off, ln)
        text = payload.decode()
        assert text.endswith("\n"), "member must end at a record boundary"
        out.extend(text.splitlines())
    assert out == lines


def test_plain_gzip_rejected_at_catalog_time(tmp_path):
    path = str(tmp_path / "plain.gz")
    with open(path, "wb") as f:
        f.write(gzip.compress(b"hello\nworld\n"))
    with pytest.raises(ValueError, match="BC subfield"):
        walk_blocks(path)


def test_corrupt_member_fails_crc(tmp_path):
    blob = bytearray(write_bgzf(_corpus(1000)))
    path = str(tmp_path / "bad.gz")
    with open(path, "wb") as f:
        f.write(bytes(blob))
    blocks = walk_blocks(path)
    off, ln = blocks[0]
    # flip one payload byte mid-member (past the 18-byte header)
    blob[off + 20] ^= 0xFF
    with open(path, "wb") as f:
        f.write(bytes(blob))
    with pytest.raises(ValueError):
        read_block(path, off, ln)


def test_oversized_single_record_rejected():
    # incompressible single line whose member cannot fit 64 KiB
    line = os.urandom(70_000).hex()  # ~140 KB, low redundancy
    with pytest.raises(ValueError, match="cap"):
        write_bgzf([line])


def test_op260_splits_across_tasks_and_matches_table(spark, sf_dir):
    """The op's own fan-out claims at the test scale: the block scan
    runs in >1 partition with >1 block, and the per-lang aggregate
    equals the same aggregate computed straight off parquet."""
    from pyspark.sql import functions as F

    from ocdb_server_spark.io import load_table
    from ocdb_server_spark.operators.scans import op260_bgzf_splittable_gzip

    out = op260_bgzf_splittable_gzip(spark, sf_dir)
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

    # the BGZF file really was written blocked: walk the scratch file
    # this process just produced and confirm >1 data member
    import glob
    import tempfile

    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    mine = os.path.join(
        tempfile.gettempdir(), f"ocdb_spark_bgzf_jsonl_{tag}_{os.getpid()}"
    )
    files = glob.glob(f"{mine}/part-00000.jsonl.gz")
    assert files, "scratch BGZF file missing"
    assert len(walk_blocks(files[0])) > 1


def test_parallel_writer_multi_file_roundtrip(spark, sf_dir, tmp_path):
    """The PARALLEL writer shape: N tasks write N member-blocked BGZF
    files through the same iter_bgzf_members kernel, every file is
    independently a valid stock gzip + BGZF stream, and the SAME
    walk_blocks-manifest split-read consumes the multi-file corpus to
    the identical per-lang aggregate as op260's single file (and as
    the parquet truth it is certified against)."""
    from ocdb_server_spark.operators.scans import (
        BgzfArchive,
        export_docs_archive,
        op260_bgzf_splittable_gzip,
        read_archive_lang_agg,
    )

    parts = 4
    paths = [p for p, _ in export_docs_archive(
        spark, sf_dir, str(tmp_path), BgzfArchive, parts)]
    assert len(paths) == parts and len(set(paths)) == parts
    total_members = 0
    for p in paths:
        # valid stock gzip end-to-end
        with gzip.open(p, "rb") as f:
            f.read()
        total_members += len(walk_blocks(p))  # valid BGZF, EOF-checked
    assert total_members >= parts  # real data spread across files

    multi = {
        r.lang: (r.n_docs, r.sum_doc_id, r.sum_text_chars, r.sum_n_chars)
        for r in read_archive_lang_agg(spark, paths, BgzfArchive).collect()
    }
    single = {
        r.lang: (r.n_docs, r.sum_doc_id, r.sum_text_chars, r.sum_n_chars)
        for r in op260_bgzf_splittable_gzip(spark, sf_dir).collect()
    }
    assert multi == single and multi


def test_parallel_writer_empty_partitions_write_valid_eof_files(
    spark, tmp_path
):
    """export_docs_archive's `len(manifest) == partitions` contract
    rests on mapInArrow invoking the writer for EMPTY partitions
    too — pin it with a 3-row corpus fanned to 8 tasks:
    every task yields a manifest row, empty partitions write a valid
    EOF-marker-only file (stdlib-gzip readable, walk_blocks → no
    blocks), and the split-read over the mixed file set still
    reassembles the corpus exactly."""
    from ocdb_server_spark.operators.scans import (
        BgzfArchive,
        export_docs_archive,
        read_archive_lang_agg,
    )

    sf = str(tmp_path / "sf")
    spark.createDataFrame(
        [(1, "alpha beta", "en", 10), (2, "gamma", "fr", 5),
         (3, "delta words", "en", 11)],
        "doc_id long, text string, lang string, n_chars long",
    ).write.parquet(f"{sf}/documents.parquet")
    out = tmp_path / "out"
    paths = [p for p, _ in export_docs_archive(
        spark, sf, str(out), BgzfArchive, 8)]
    assert len(paths) == 8
    n_empty = 0
    for p in paths:
        with gzip.open(p, "rb") as f:
            f.read()  # every file is a valid gzip stream
        if not walk_blocks(p):
            n_empty += 1
    assert n_empty >= 5  # 3 rows cannot fill 8 partitions
    got = {
        r.lang: (r.n_docs, r.sum_doc_id)
        for r in read_archive_lang_agg(spark, paths, BgzfArchive).collect()
    }
    assert got == {"en": (2, 4), "fr": (1, 2)}


def test_truncated_member_body_raises_valueerror(tmp_path):
    """A file cut off INSIDE a member (18-byte header intact, body
    missing) must raise the module's documented ValueError taxonomy —
    not let struct.error leak out of the catalog step (callers
    catching ValueError for the catalog-time error path would miss
    the truncation)."""
    blob = write_bgzf(_corpus(50))
    path = str(tmp_path / "cut.gz")
    with open(path, "wb") as f:
        f.write(blob[:24])  # header (18B) + a few body bytes
    with pytest.raises(ValueError, match="truncated member body"):
        walk_blocks(path)


def test_corrupt_bsize_below_minimum_raises_valueerror(tmp_path):
    """A zeroed/corrupt BSIZE field (e.g. bsize=1 from a zeroed u16)
    would make the footer seek land BEFORE the header — the module
    must fail in its loud ValueError taxonomy, not raise OSError from
    f.seek or misread footer bytes out of the header."""
    blob = bytearray(write_bgzf(_corpus(10)))
    blob[16:18] = b"\x00\x00"  # first member's BSIZE u16 → bsize=1
    path = str(tmp_path / "zeroed_bsize.gz")
    with open(path, "wb") as f:
        f.write(bytes(blob))
    with pytest.raises(ValueError, match="corrupt BSIZE"):
        walk_blocks(path)


def test_boundary_truncation_detected_via_eof_marker(tmp_path):
    """A cut exactly at a MEMBER boundary leaves every remaining
    member valid — detectable only by the SAM spec's fixed 28-byte
    EOF marker (htslib's truncation detector). walk_blocks must
    reject such a file, never return a silently shorter corpus."""
    from ocdb_server_spark.sources.bgzf import BGZF_EOF

    blob = write_bgzf(_corpus())
    path = str(tmp_path / "cut.gz")
    # full file parses
    with open(path, "wb") as f:
        f.write(blob)
    n_full = len(walk_blocks(path))
    assert n_full > 1
    # drop the EOF marker plus the last member: every remaining
    # member is intact, only the marker check can catch it
    hdr_at = []
    off = 0
    while off < len(blob):
        bsize = struct.unpack("<H", blob[off + 16:off + 18])[0] + 1
        hdr_at.append(off)
        off += bsize
    cut = hdr_at[-2]  # start of the last real member (EOF is hdr_at[-1])
    with open(path, "wb") as f:
        f.write(blob[:cut])
    with pytest.raises(ValueError, match="EOF marker"):
        walk_blocks(path)


def test_any_truncation_point_raises_valueerror(tmp_path):
    """Truncation-sweep fuzz: for a sample of cut positions across
    the whole blob (mid-header, mid-body, mid-footer, boundaries),
    walk_blocks must raise ValueError — the module's single loud
    taxonomy — and never struct.error or a silent partial manifest."""
    blob = write_bgzf(_corpus())
    path = str(tmp_path / "sweep.gz")
    cuts = sorted({1, 17, 18, 19, len(blob) // 2, len(blob) - 29,
                   len(blob) - 28, len(blob) - 1}
                  | {i * len(blob) // 37 for i in range(1, 37)})
    for cut in cuts:
        if cut <= 0 or cut >= len(blob):
            continue
        with open(path, "wb") as f:
            f.write(blob[:cut])
        with pytest.raises(ValueError):
            walk_blocks(path)
