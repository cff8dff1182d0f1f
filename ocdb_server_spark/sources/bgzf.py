"""BGZF — blocked gzip with an in-band block-size field (pure python).

WHY (SURVEY §7.8 round-9 candidate 3): op207 documents the gzip
trade honestly — a plain .gz is one stream, so Spark reads a 100 GB
file with ONE task — and op256 closes it for bzip2, the one codec
Spark ships splittable. BGZF closes it for GZIP ITSELF: the blocked
variant of gzip defined publicly in the SAM specification §4.1 (the
htslib/tabix/BAM container format). A BGZF file is a sequence of
independent gzip members, each ≤64 KiB, each carrying its own
compressed length in a gzip FEXTRA subfield ('BC', BSIZE = total
member length − 1). Two consequences the ops certify:

- SPLITTABLE: a reader can walk the file touching ONLY the 18-byte
  member headers (seek by BSIZE, ~16 bytes read per 64 KiB stride —
  parquet-footer economics), emit a block manifest, and fan the
  blocks out to tasks; each task range-reads its bytes and inflates
  independently. One .gz file → maxPartitionBytes-scale parallelism,
  which stock gzip structurally cannot give.
- COMPATIBLE: every BGZF file is also a valid multi-member gzip
  stream, so any ordinary gzip consumer (stdlib ``gzip``, zcat, a
  legacy ingest job) reads it end-to-end unchanged. The blocking
  costs compatibility nothing (pinned in tests/test_bgzf.py).

This writer additionally guarantees RECORD ALIGNMENT: members end at
line boundaries (the role tabix's index plays for BAM), so a block is
a self-contained batch of whole records and a split can never tear a
record. A single line whose compressed form cannot fit one member is
rejected loudly (cannot happen for this corpus; the guard is the
discipline).

Format facts used (all public, SAM spec v1.6 §4.1 + RFC 1952):
header = 1f 8b 08 04 | MTIME=0 ×4 | XFL=0 OS=ff | XLEN=6 |
'B' 'C' SLEN=2 | BSIZE u16le ; then raw-deflate CDATA, CRC32 u32le,
ISIZE u32le. EOF marker = the fixed 28-byte empty member.
"""

from __future__ import annotations

import struct
import zlib

_MAX_BLOCK = 65536          # BSIZE is u16: total member length ≤ 65536
_HDR_LEN = 18               # fixed header with the single BC subfield
_FTR_LEN = 8                # CRC32 + ISIZE
from ocdb_server_spark.sources.linebatch import TARGET_UNCOMP as _TARGET_UNCOMP

# The canonical 28-byte BGZF EOF marker: an empty member (SAM spec
# §4.1.2 — "end-of-file marker"), byte-for-byte.
BGZF_EOF = bytes.fromhex(
    "1f8b08040000000000ff0600424302001b0003000000000000000000"
)


def _member(payload: bytes) -> bytes:
    """One BGZF member holding `payload` (raw-deflated, BSIZE set)."""
    co = zlib.compressobj(6, zlib.DEFLATED, -15)  # raw deflate
    cdata = co.compress(payload) + co.flush()
    total = _HDR_LEN + len(cdata) + _FTR_LEN
    if total > _MAX_BLOCK:
        raise ValueError(
            f"bgzf: {len(payload)}-byte record batch compresses to a "
            f"{total}-byte member > {_MAX_BLOCK} cap; flush earlier"
        )
    hdr = (
        b"\x1f\x8b\x08\x04"          # magic, CM=deflate, FLG=FEXTRA
        + b"\x00\x00\x00\x00"        # MTIME = 0 (deterministic bytes)
        + b"\x00\xff"                # XFL, OS=unknown
        + struct.pack("<H", 6)       # XLEN
        + b"BC" + struct.pack("<H", 2)
        + struct.pack("<H", total - 1)  # BSIZE
    )
    ftr = struct.pack("<II", zlib.crc32(payload), len(payload) & 0xFFFFFFFF)
    return hdr + cdata + ftr


def iter_bgzf_members(lines):
    """Yield BGZF members for an iterable of str records, streaming —
    the writer holds one ≤48 KiB batch in memory, never the corpus
    (the shape that still works when one task writes gigabytes).
    Members are flushed at LINE boundaries once the pending batch
    reaches ~48 KiB uncompressed, so every member inflates to whole
    lines (the record-alignment guarantee the split path relies on —
    ONE kernel, sources/linebatch.py, shared with the seekable-zstd
    writer per the round-12 review). Ends with the canonical EOF
    marker member."""
    from ocdb_server_spark.sources.linebatch import batch_lines

    for payload in batch_lines(lines, _TARGET_UNCOMP):
        yield _member(payload)
    yield BGZF_EOF


def walk_blocks(path: str) -> list[tuple[int, int]]:
    """Block manifest [(offset, length), ...] for a BGZF file, built
    from the in-band BSIZE fields ALONE: seek to each member, read
    its 18-byte header, hop BSIZE+1 bytes. Touches ~18 bytes per
    64 KiB member — metadata economics (a parquet footer read), not a
    data scan; the EOF marker (empty member) is recognized and not
    emitted. Malformed headers raise — a truncated or non-BGZF gzip
    file must fail catalog-time, never produce silent partial data.
    That promise includes truncation at a MEMBER BOUNDARY (every
    member intact, tail members missing): per the SAM spec the file
    must END with the fixed 28-byte EOF marker (htslib's own
    truncation detector), so a boundary cut — undetectable from the
    member chain alone — still fails here, not as a silently shorter
    corpus."""
    blocks: list[tuple[int, int]] = []
    with open(path, "rb") as f:
        f.seek(0, 2)
        size = f.tell()
        off = 0
        while off < size:
            f.seek(off)
            hdr = f.read(_HDR_LEN)
            if len(hdr) < _HDR_LEN:
                raise ValueError(f"bgzf: truncated header at {off}")
            if hdr[:4] != b"\x1f\x8b\x08\x04" or hdr[12:16] != b"BC\x02\x00":
                raise ValueError(
                    f"bgzf: not a BGZF member at offset {off} "
                    "(plain gzip lacks the BC subfield — unsplittable)"
                )
            bsize = struct.unpack("<H", hdr[16:18])[0] + 1
            if bsize < _HDR_LEN + _FTR_LEN:
                # a zeroed/corrupt BSIZE (e.g. bsize=1) would put the
                # footer seek BEFORE this header or inside it — fail in
                # the module's loud taxonomy, not as a stray OSError
                # from f.seek or footer bytes read out of the header
                raise ValueError(
                    f"bgzf: member at offset {off} declares BSIZE "
                    f"{bsize} < minimum {_HDR_LEN + _FTR_LEN} "
                    "(header+footer) — corrupt BSIZE field"
                )
            isize_at = off + bsize - 4
            f.seek(isize_at)
            ftr = f.read(4)
            if len(ftr) < 4:
                # header intact but the member body is cut off —
                # same loud taxonomy as a truncated header, not a
                # struct.error leaking out of the catalog step
                raise ValueError(
                    f"bgzf: truncated member body at {off} "
                    f"(BSIZE says {bsize} bytes, file ends early)"
                )
            isize = struct.unpack("<I", ftr)[0]
            if isize > 0:  # skip the EOF marker / empty members
                blocks.append((off, bsize))
            off += bsize
        # after the walk (so plain gzip still fails with the BC
        # message at offset 0): the file must END with the spec's
        # fixed EOF marker — a cut at a member boundary leaves every
        # remaining member valid and is detectable ONLY this way
        if size < len(BGZF_EOF):
            raise ValueError("bgzf: file shorter than the EOF marker")
        f.seek(size - len(BGZF_EOF))
        if f.read(len(BGZF_EOF)) != BGZF_EOF:
            raise ValueError(
                "bgzf: missing EOF marker — file truncated at a "
                "member boundary, or not finalized by a BGZF writer"
            )
    return blocks


def read_block(path: str, offset: int, length: int) -> bytes:
    """Inflate ONE member identified by the manifest: range-read its
    bytes, raw-inflate CDATA, verify CRC32 + ISIZE (corruption must
    be loud — a wrong byte anywhere in the member fails here, never
    flows into records)."""
    with open(path, "rb") as f:
        f.seek(offset)
        blob = f.read(length)
    if len(blob) != length:
        raise ValueError(f"bgzf: short read at {offset}+{length}")
    xlen = struct.unpack("<H", blob[10:12])[0]
    cdata = blob[12 + xlen:-_FTR_LEN]
    try:
        payload = zlib.decompress(cdata, -15)
    except zlib.error as exc:  # corrupted deflate stream: same loud path
        raise ValueError(f"bgzf: bad deflate data at {offset}: {exc}") from exc
    crc, isize = struct.unpack("<II", blob[-_FTR_LEN:])
    if zlib.crc32(payload) != crc or (len(payload) & 0xFFFFFFFF) != isize:
        raise ValueError(f"bgzf: CRC/ISIZE mismatch in member at {offset}")
    return payload
