"""Seekable zstd — standard zstd frames + the spec's seek-table
skippable frame (pure python over pyarrow's libzstd binding).

WHY (round-9 §7.9 candidate / round-9 verdict item 4): op260 closed
the splittable-compression story for GZIP via BGZF; zstd is what
large corpora actually ship today, and upstream zstd already defines
the public seekable format for exactly this purpose
(github.com/facebook/zstd, contrib/seekable_format/
zstd_seekable_compression_format.md). A seekable-zstd file is:

    frame_0 frame_1 ... frame_{N-1} [skippable seek-table frame]

where every frame_i is an ordinary, independently-decompressable
zstd frame and the final skippable frame (magic 0x184D2A5E) carries
the seek table:

    N × { compressed_size u32le, decompressed_size u32le
          [, checksum u32le if descriptor bit 7] }
    footer: Number_Of_Frames u32le | Seek_Table_Descriptor u8
            | Seekable_Magic_Number u32le = 0x8F92EAB1

Two consequences, mirroring bgzf.py's contract:

- SPLITTABLE with ONE metadata read per file: the reader grabs the
  9-byte footer at EOF, sizes the table, reads it, and has every
  frame's (offset, compressed, decompressed) — better economics than
  even BGZF's per-member header hops (this is the parquet-footer
  shape exactly). Frames then fan out to tasks; each range-reads and
  decompresses independently.
- COMPATIBLE: skippable frames are part of core zstd — any stock
  multi-frame zstd decoder reads the file end-to-end, silently
  skipping the table (pinned in tests/test_zstd_seekable.py against
  pyarrow's libzstd one-shot decoder).

Like bgzf.py, the writer guarantees RECORD ALIGNMENT: frames end at
line boundaries, so every frame is a self-contained batch of whole
records and a split can never tear a record.

Format facts used (all public: RFC 8878 §3.1.2 skippable frames +
the seekable-format spec above): seek-table descriptor bit 7 =
per-frame checksums present (this writer sets 0 — frame integrity
is already covered by decompressed-size verification on read);
bits 0-6 reserved-zero.
"""

from __future__ import annotations

import struct

_SKIPPABLE_MAGIC = 0x184D2A5E
_SEEKABLE_MAGIC = 0x8F92EAB1
_ZSTD_MAGIC = b"\x28\xb5\x2f\xfd"
_FOOTER_LEN = 9  # nframes u32 | descriptor u8 | seekable magic u32
from ocdb_server_spark.sources.linebatch import TARGET_UNCOMP as _TARGET_UNCOMP


def _codec():
    import pyarrow as pa

    return pa.Codec("zstd")


def iter_seekable_zstd(lines):
    """Yield (frame_bytes, decompressed_size) for an iterable of str
    records, streaming — one ≤48 KiB batch in memory, flushed at LINE
    boundaries (the shared sources/linebatch.py kernel: ONE copy of
    the record-alignment guarantee for both transports). The
    seek-table frame is NOT yielded; the writer task appends it once
    all frames are out."""
    from ocdb_server_spark.sources.linebatch import batch_lines

    codec = _codec()
    for payload in batch_lines(lines, _TARGET_UNCOMP):
        yield bytes(codec.compress(payload)), len(payload)


def seek_table_frame(sizes: list[tuple[int, int]]) -> bytes:
    """The skippable seek-table frame for [(csize, usize), ...]."""
    body = b"".join(struct.pack("<II", c, u) for c, u in sizes)
    body += struct.pack("<IBI", len(sizes), 0, _SEEKABLE_MAGIC)
    return struct.pack("<II", _SKIPPABLE_MAGIC, len(body)) + body


def read_seek_table(path: str) -> list[tuple[int, int, int]]:
    """Frame manifest [(offset, compressed, decompressed), ...] from
    the seek-table frame alone: one 9-byte footer read + one table
    read — never a data scan. Malformed files raise loudly (the
    catalog-time-failure promise bgzf.walk_blocks documents): a plain
    .zst without the table, a truncated table, or a table whose
    cumulative sizes don't tile the data region exactly are all
    refused, never silently partial."""
    with open(path, "rb") as f:
        f.seek(0, 2)
        size = f.tell()
        if size < _FOOTER_LEN + 8:
            raise ValueError("seekable-zstd: file shorter than the footer")
        f.seek(size - _FOOTER_LEN)
        nframes, desc, magic = struct.unpack("<IBI", f.read(_FOOTER_LEN))
        if magic != _SEEKABLE_MAGIC:
            raise ValueError(
                "seekable-zstd: missing seek-table magic — plain zstd "
                "stream (unsplittable) or truncated file"
            )
        if desc & 0x7C:
            raise ValueError(
                f"seekable-zstd: reserved descriptor bits set ({desc:#x})"
            )
        entry = 12 if desc & 0x80 else 8
        table_len = nframes * entry + _FOOTER_LEN
        tab_start = size - 8 - table_len
        if tab_start < 0:
            raise ValueError(
                f"seekable-zstd: table for {nframes} frames longer than "
                "the file — corrupt footer"
            )
        f.seek(tab_start)
        skip_magic, skip_len = struct.unpack("<II", f.read(8))
        if skip_magic != _SKIPPABLE_MAGIC or skip_len != table_len:
            raise ValueError(
                "seekable-zstd: seek table is not a well-formed "
                "skippable frame — corrupt or foreign layout"
            )
        blocks: list[tuple[int, int, int]] = []
        off = 0
        for _ in range(nframes):
            rec = f.read(entry)
            csize, usize = struct.unpack("<II", rec[:8])
            blocks.append((off, csize, usize))
            off += csize
        if off != tab_start:
            raise ValueError(
                f"seekable-zstd: table tiles {off} bytes but the data "
                f"region is {tab_start} — truncated at a frame boundary "
                "or overlapping entries"
            )
    return blocks


def read_frame(path: str, offset: int, csize: int, usize: int) -> bytes:
    """Decompress ONE frame from the manifest: range-read, verify the
    frame magic, one-shot decompress to exactly `usize` bytes (libzstd
    verifies the stream's own integrity; a wrong output size raises)."""
    with open(path, "rb") as f:
        f.seek(offset)
        blob = f.read(csize)
    if len(blob) != csize:
        raise ValueError(f"seekable-zstd: short read at {offset}+{csize}")
    if blob[:4] != _ZSTD_MAGIC:
        raise ValueError(
            f"seekable-zstd: no zstd frame magic at offset {offset} — "
            "seek table out of sync with the data"
        )
    try:
        payload = bytes(_codec().decompress(blob, decompressed_size=usize))
    except Exception as exc:  # corrupt stream: one loud taxonomy,
        # never a raw Arrow error type leaking out of the read path
        # (bgzf.read_block's zlib.error handling, same rule)
        raise ValueError(
            f"seekable-zstd: bad frame data at {offset}: {exc}"
        ) from exc
    if len(payload) != usize:
        raise ValueError(
            f"seekable-zstd: frame at {offset} inflated to {len(payload)} "
            f"bytes, table says {usize}"
        )
    return payload
