"""Scans / sources / sinks — SURVEY.md §2.1 (op01–op05), and the file
formats built on them: CSV, JSON lines, ORC, XML, Avro OCF, compressed
and splittable ingest (gzip, bzip2, BGZF, seekable zstd) and Python
data sources with filter pushdown.

Reference analog: the MongoDB full-collection fetch with optional
projection (`ocdb/db/mongo_db_driver.py::MongoDbDriver.find_datasets`
[U]) and the SeaBASS file reader (`ocdb/core/seabass/sb_file_reader.py`
[U]). Here the scan IS the optimizer's job: Parquet vectorized reader
with Catalyst predicate pushdown + column pruning (verify with
``df.explain`` → `PushedFilters`, `ReadSchema`).
"""

from __future__ import annotations

import json
import os
import tempfile
from collections.abc import Iterator

from pyspark import TaskContext
from pyspark.sql import DataFrame, SparkSession, functions as F

from ocdb_server_spark.functions.arrow_rows import batch_rows, map_partitions, map_rows
from ocdb_server_spark.io import load_table
from ocdb_server_spark.registry import register
from ocdb_server_spark.scratch import publish, scratch_dir

from ocdb_server_spark.sources import avro_ocf as _avro_kernel
from ocdb_server_spark.sources import bgzf as _bgzf_kernel
from ocdb_server_spark.sources import zstd_seekable as _zstd_kernel


@register(
    "op01_scan_parquet",
    oracle="SELECT COUNT(*) AS n_rows FROM lineitem",
)
def op01_scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full parquet scan + count (ref: empty-filter find_datasets)."""
    return load_table(spark, sf_dir, "lineitem").agg(F.count("*").alias("n_rows"))


@register(
    "op02_scan_projection_pushdown",
    oracle="""
    SELECT l_orderkey, l_extendedprice
    FROM lineitem
    WHERE l_quantity < 5
    """,
)
def op02_scan_projection_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pruned scan: 2 of 11 columns, filter pushed to the parquet reader.

    The plan must show `ReadSchema: struct<l_orderkey,l_quantity,
    l_extendedprice>` and `PushedFilters: [LessThan(l_quantity,5.0)]` —
    at 100 TB this is the difference between reading 2 columns' pages
    and reading the table.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_quantity") < 5).select("l_orderkey", "l_extendedprice")


# Oracle (op204's pattern): the fixture's
# records hand-transcribed from the FIXTURE text — independent of the
# Spark parser, so a parse bug (delimiter, missing-token, field order)
# breaks the hash. Same decimal literals cast to DOUBLE on both sides
# → identical IEEE doubles.
_OP03_SQL = """
SELECT CAST(depth AS DOUBLE) AS depth, CAST(chl AS DOUBLE) AS chl,
       CAST(wt AS DOUBLE) AS wt, CAST(sal AS DOUBLE) AS sal
FROM (VALUES
  (1.0, 0.52, 12.3, 35.1),
  (2.5, NULL, 12.1, 35.0),
  (5.0, 0.31, NULL, 34.9),
  (7.5, 0.22, 11.8, NULL),
  (10.0, NULL, 11.5, 34.7)
) AS t(depth, chl, wt, sal)
"""


@register("op03_source_csv_ingest", oracle=_OP03_SQL)
def op03_source_csv_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SeaBASS-style delimited ingest: header-driven delimiter, missing
    token → NULL, typed records (ref: SbFileReader.read [U]).

    Writes a deterministic fixture file, parses it with the
    reader in ``ocdb_server_spark.sources.seabass`` (pure DataFrame ops:
    split + element_at + casts; the header is tiny and bounded so its
    parse is driver-side). The oracle restates the fixture rows as a
    hand-transcribed VALUES table (op204's discipline), upgrading this
    op from the rows-only check to the full hash gate.
    """
    from ocdb_server_spark.sources.seabass import FIXTURE, read_seabass

    d = os.path.join(tempfile.gettempdir(), "ocdb_spark_seabass_fixture")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, "fixture.sb")
    # concurrent sweeps write identical bytes, but a reader must never
    # see a torn file mid-write
    publish(path, lambda f: f.write(FIXTURE.encode()))
    return read_seabass(spark, path)


@register(
    "op04_source_json_lines",
    oracle="""
    SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events
    GROUP BY 1
    """,
)
def op04_source_json_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parse the `events.props` JSON string column into typed values
    (ref-adjacent: config/JSON handling in the ws layer [U])."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select(F.get_json_object("props", "$.k").cast("bigint").alias("k"))
        .groupBy("k")
        .agg(F.count("*").alias("n"))
    )


@register(
    "op05_sink_parquet_roundtrip",
    # The re-read aggregate must hash-match the same aggregate computed
    # on the ORIGINAL parquet (op207/op209's discipline) — certifying
    # the write→partition-discovery→read path end to end, not just
    # that rows came back.
    oracle="""
    SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem
    WHERE l_quantity > 45
    GROUP BY l_returnflag
    """,
)
def op05_sink_parquet_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned parquet sink + re-read (ref: zip export of query hits,
    store.py::download_store_files [U]).

    Writes lineitem filtered to quantity>45 partitioned by
    l_returnflag (the 100 TB layout choice: partition by a
    low-cardinality pruning column), reads it back and counts per
    partition — verifying partition discovery round-trips. The oracle
    computes the same per-flag counts on the original table, so a
    dropped/duplicated partition breaks the hash.
    """
    # Per-process scratch with dead-PID reaping: an sf-tagged dir
    # would let two concurrent sessions at the SAME sf overwrite each
    # other's files between write and lazy re-read — the race
    # scratch_dir exists for, and this op's result is hash-gated.
    from ocdb_server_spark.scratch import scratch_dir

    out = os.path.join(scratch_dir("sink_roundtrip", sf_dir), "data")
    li = load_table(spark, sf_dir, "lineitem")
    (
        li.filter(F.col("l_quantity") > 45)
        .write.mode("overwrite")
        .partitionBy("l_returnflag")
        .parquet(out)
    )
    back = spark.read.parquet(out)
    return (
        back.groupBy("l_returnflag")
        .agg(F.count("*").alias("n"))
        .orderBy("l_returnflag")
    )


@register(
    "op106_sink_formats_roundtrip",
    # Each format's re-read (count, key checksum, quantized price
    # checksum) must equal the same aggregate on the ORIGINAL orders
    # table — one oracle row per format; a lossy roundtrip in any of
    # the three breaks the hash. price_cents covers the DOUBLE column
    # (the key checksum alone certifies nothing about
    # o_totalprice — the one column that actually exercises text float
    # formatting in CSV/JSON; op209's cents-quantization discipline).
    oracle="""
    WITH src AS (
      SELECT o_orderkey, o_custkey, o_totalprice
      FROM orders WHERE o_totalprice > 300000.0
    ), s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(o_orderkey + o_custkey) AS BIGINT) AS key_checksum,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS price_cents
      FROM src
    )
    SELECT f.format, s.n_rows, s.key_checksum, s.price_cents
    FROM (VALUES ('csv'), ('json'), ('orc')) AS f(format) CROSS JOIN s
    """,
)
def op106_sink_formats_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Format breadth: the same filtered frame written and re-read as
    CSV (with header+schema), JSON-lines, and ORC; one output row per
    format with row count and a value checksum that must agree across
    all three (and with the in-memory source).

    CSV and JSON are the interchange formats the reference serves
    (SeaBASS tables, JSON API payloads — SURVEY.md §3); ORC covers the
    other columnar family a migrating user may hold. Scale note: all
    three writers shard per-partition (one file per task) — the sink
    parallelizes like the parquet path; CSV/JSON lose types (restored
    via explicit schema on read) and columnar pruning, which is why
    parquet stays the serving layout (§7.2).
    """
    # per-process scratch + dead-PID reaping: the result is
    # hash-gated, so a same-sf concurrent session must not clobber the
    # files between write and lazy re-read
    from ocdb_server_spark.scratch import scratch_dir

    base = scratch_dir("fmt_roundtrip", sf_dir)
    src = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 300000.0)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )
    frames = []
    for fmt in ("csv", "json", "orc"):
        out = f"{base}/{fmt}"
        w = src.write.mode("overwrite")
        if fmt == "csv":
            w.option("header", "true").csv(out)
            back = (
                spark.read.option("header", "true").schema(src.schema).csv(out)
            )
        elif fmt == "json":
            w.json(out)
            back = spark.read.schema(src.schema).json(out)
        else:
            w.orc(out)
            back = spark.read.orc(out)
        frames.append(
            back.agg(
                F.lit(fmt).alias("format"),
                F.count("*").cast("bigint").alias("n_rows"),
                F.sum(F.col("o_orderkey") + F.col("o_custkey"))
                .cast("bigint")
                .alias("key_checksum"),
                # the double column, cents-quantized (op209's
                # discipline) — CSV/JSON text float formatting is the
                # lossiest step in the op and was uncertified
                F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
                .cast("bigint")
                .alias("price_cents"),
            )
        )
    out_df = frames[0]
    for f in frames[1:]:
        out_df = out_df.unionByName(f)
    return out_df


@register(
    "op147_partition_pruned_scan",
    oracle="""
    SELECT doc_id, n_chars, lang FROM documents WHERE lang IN ('en', 'de')
    """,
)
def op147_partition_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned layout round-trip with partition PRUNING:
    documents written `partitionBy("lang")` to a scratch dir, read back
    with a lang predicate — the predicate prunes whole directories
    (PartitionFilters in the scan, asserted in tests/test_plans.py),
    so non-matching partitions are never opened. This is the layout
    decision that turns a 100 TB corpus scan into a 2-language scan;
    at cluster scale the same plan applies to a date-partitioned lake.

    The write is part of the operator's semantics (like op05/op106
    sink round-trips); per-process scratch, not a shared sf-tagged
    dir, where one session's overwrite could delete files another
    session's lazy read had already planned."""
    from ocdb_server_spark.scratch import scratch_dir

    out = os.path.join(scratch_dir("part_scan", sf_dir), "t")
    (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "n_chars", "lang")
        .write.mode("overwrite")
        .partitionBy("lang")
        .parquet(out)
    )
    return (
        spark.read.parquet(out)
        .filter(F.col("lang").isin("en", "de"))
        .select("doc_id", "n_chars", "lang")
    )


# ----------------------------------------------- op204: long-format records

# Field -> product-group dim (search.SearchColumns.pgroup_map's table
# form; reference analog: ocdb/res/product-groups.json [U] maps group
# name -> member field list).
_PGROUPS = [
    ("depth", "hydrography"), ("wt", "hydrography"), ("sal", "hydrography"),
    ("chl", "chlorophyll"), ("kd490", "chlorophyll"),
    ("lu412", "radiometry"), ("lu443", "radiometry"), ("es412", "radiometry"),
]

# Oracle: the three fixtures' observations transcribed BY HAND from the
# fixture text (independent of both the Spark parser and any Python
# helper — a parse bug on either side breaks the hash), aggregated the
# same way. Values quantized ROUND(v*1000) -> BIGINT per the
# cross-engine float rule (same double literal, same product, same
# round in both engines).
def seabass_fixture_corpus(spark: SparkSession) -> DataFrame:
    """The three deterministic heterogeneous SeaBASS fixtures written
    atomically to the shared fixture dir (identical bytes across
    sessions — op03's rule) and ingested through read_seabass_corpus:
    one scan per header SIGNATURE (here every file has its own
    delimiter/fields, so 3 scans; the same call handles 100k files
    with a dozen layouts as a dozen scans), dataset_id = file stem.
    Proven row-identical to the per-file read_seabass_long union in
    tests/test_seabass.py. Shared by op204 (group resolution) and
    op258 (Avro OCF sink pairing), so both hash gates exercise the
    corpus path."""
    from ocdb_server_spark.sources.seabass import (
        FIXTURE,
        FIXTURE2,
        FIXTURE3,
        read_seabass_corpus,
    )

    d = os.path.join(tempfile.gettempdir(), "ocdb_spark_seabass_fixture")
    os.makedirs(d, exist_ok=True)
    paths = []
    for ds_id, content in (("ds1", FIXTURE), ("ds2", FIXTURE2), ("ds3", FIXTURE3)):
        path = os.path.join(d, f"{ds_id}.sb")
        publish(path, lambda f: f.write(content.encode()))
        paths.append(path)
    return read_seabass_corpus(spark, paths)


_OP204_SQL = """
WITH obs(dataset_id, field, value) AS (VALUES
  ('ds1','depth',1.0),('ds1','chl',0.52),('ds1','wt',12.3),('ds1','sal',35.1),
  ('ds1','depth',2.5),('ds1','wt',12.1),('ds1','sal',35.0),
  ('ds1','depth',5.0),('ds1','chl',0.31),('ds1','sal',34.9),
  ('ds1','depth',7.5),('ds1','chl',0.22),('ds1','wt',11.8),
  ('ds1','depth',10.0),('ds1','wt',11.5),('ds1','sal',34.7),
  ('ds2','depth',1.0),('ds2','lu412',1.11),('ds2','lu443',2.22),('ds2','es412',3.33),
  ('ds2','depth',5.0),('ds2','lu443',2.10),('ds2','es412',3.20),
  ('ds2','depth',10.0),('ds2','lu412',0.95),('ds2','lu443',1.98),
  ('ds2','depth',20.0),('ds2','lu412',0.80),('ds2','es412',3.05),
  ('ds3','depth',2.0),('ds3','chl',0.50),('ds3','kd490',0.061),('ds3','sal',35.2),
  ('ds3','depth',4.0),('ds3','kd490',0.055),('ds3','sal',35.1),
  ('ds3','depth',8.0),('ds3','chl',0.42),('ds3','sal',35.0)
),
pg(field, pgroup) AS (VALUES
  ('depth','hydrography'),('wt','hydrography'),('sal','hydrography'),
  ('chl','chlorophyll'),('kd490','chlorophyll'),
  ('lu412','radiometry'),('lu443','radiometry'),('es412','radiometry')
)
SELECT o.dataset_id,
       COALESCE(p.pgroup, 'other') AS pgroup,
       o.field,
       CAST(COUNT(*) AS BIGINT) AS n_obs,
       CAST(SUM(CAST(ROUND(o.value * 1000) AS BIGINT)) AS BIGINT) AS sum_q
FROM obs o LEFT JOIN pg p ON o.field = p.field
GROUP BY o.dataset_id, p.pgroup, o.field
"""


@register("op204_records_long_format", oracle=_OP204_SQL)
def op204_records_long_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's ACTUAL storage model, end to end (SURVEY
    §1.3/§7.2): three heterogeneous
    SeaBASS-style files — different `/fields=` sets AND different
    delimiters (comma/space/tab) — ingest through
    sources/seabass.read_seabass_long into ONE long open-schema record
    table `(dataset_id, field, value)`, then product-group resolution
    runs against it as a broadcast field->group dim join (the table
    form of search.SearchColumns.pgroup_map; tests/test_seabass.py
    additionally drives search.find_datasets with a pgroup query over
    this exact frame). Output: per (dataset_id, pgroup, field)
    observation count and quantized sum.

    Scale shape: wide->long is a generator expression (no shuffle);
    the group dim broadcasts (it is product metadata, KBs forever);
    the only exchange is the final partial-agged groupBy on
    (dataset_id, field) — at 10^9 records per day this is one
    well-keyed aggregation, and heterogeneous schema drift adds
    files, not migrations. The oracle restates the fixtures'
    observations as a hand-transcribed VALUES table — a parse bug on
    either engine's side breaks the hash."""
    long_tbl = seabass_fixture_corpus(spark)
    dim = spark.createDataFrame(_PGROUPS, "field string, pgroup string")
    return (
        long_tbl.join(F.broadcast(dim), "field", "left")
        .groupBy(
            "dataset_id",
            F.coalesce(F.col("pgroup"), F.lit("other")).alias("pgroup"),
            "field",
        )
        .agg(
            F.count("*").cast("bigint").alias("n_obs"),
            F.sum(F.round(F.col("value") * 1000).cast("bigint"))
            .cast("bigint")
            .alias("sum_q"),
        )
    )


# ----------------- op207/op256/op260: compressed text (JSONL) ingest
# The three compressed-interchange round-trips (gzip, bzip2, BGZF)
# share one certification contract: export documents as JSONL under
# the codec, re-read, and require the per-lang aggregate to
# hash-match the oracle computed on the ORIGINAL parquet. The shared
# schema / aggregate / oracle below are that contract, written once
# for all of them.

_DOCS_LANG_AGG_SQL = """
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id,
       CAST(SUM(LENGTH(text)) AS BIGINT) AS sum_text_chars,
       CAST(SUM(n_chars) AS BIGINT) AS sum_n_chars
FROM documents
GROUP BY lang
"""

# Explicit re-read schema — never infer on a 100 TB corpus (inference
# is a full extra pass over the compressed bytes).
_DOCS_JSONL_SCHEMA = (
    "doc_id bigint, text string, lang string, n_chars bigint"
)


def _docs_lang_agg(back: DataFrame) -> DataFrame:
    """The certification aggregate over a re-read documents frame:
    per-lang counts plus content-covering sums (text lengths included,
    so the hash certifies the payload survived the codec)."""
    return back.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("doc_id").cast("bigint").alias("sum_doc_id"),
        F.sum(F.length("text")).cast("bigint").alias("sum_text_chars"),
        F.sum("n_chars").cast("bigint").alias("sum_n_chars"),
    )


@register("op207_gzip_jsonl_ingest", oracle=_DOCS_LANG_AGG_SQL)
def op207_gzip_jsonl_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compressed text ingest, end to end: documents are exported as
    GZIP-COMPRESSED JSON-LINES (the de-facto interchange format of
    every large text-corpus release) and read back through Spark's
    codec-transparent text path with an EXPLICIT schema (never infer
    on a 100 TB corpus: inference is a full extra pass). The per-lang
    aggregate over the re-read frame must hash-match the oracle
    computed on the ORIGINAL parquet — certifying the whole JSON
    escape → gzip → gunzip → JSON parse round-trip, text content
    included (sum of re-read text lengths).

    Scale notes, documented trade: gzip is NOT splittable — one .gz
    file = one read task, so exports write MANY moderate files
    (maxRecordsPerFile caps them here; a real 100 TB release shards to
    ~256 MB) or choose a splittable codec (bzip2, or zstd+seekable
    frames). The read task count assertion lives in
    tests/test_sinks.py."""
    # per-process scratch + dead-PID reaping: every hash-gated sink
    # round-trip uses scratch_dir, not a shared sf-tagged dir a
    # concurrent same-sf session could clobber
    from ocdb_server_spark.scratch import scratch_dir

    out = os.path.join(scratch_dir("gzip_jsonl", sf_dir), "export")
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "n_chars"
    )
    (
        d.write.mode("overwrite")
        .option("compression", "gzip")
        .option("maxRecordsPerFile", 2000)
        .json(out)
    )
    back = spark.read.schema(_DOCS_JSONL_SCHEMA).json(out)
    return _docs_lang_agg(back)


# --------------------------- op256: SPLITTABLE compressed text ingest


@register("op256_bzip2_splittable_ingest", oracle=_DOCS_LANG_AGG_SQL)
def op256_bzip2_splittable_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPLITTABLE compressed text interchange — op207's documented
    gzip trade closed: the same
    JSONL export written as ONE bzip2 file. Hadoop's BZip2Codec is a
    SplittableCompressionCodec — the format is a sequence of
    independently decodable blocks with a 48-bit magic delimiter, so
    the reader can seek to a block boundary mid-file and start
    decompressing there; a single 100 GB .bz2 therefore fans out to
    maxPartitionBytes-sized tasks where the gzip sibling is condemned
    to one. (zstd+seekable-frames is the modern equivalent; bzip2 is
    the one Spark ships splittable out of the box.)

    Written deliberately as ONE file (coalesce(1)) so splitting is
    the ONLY possible source of read parallelism — the split really
    happening (>1 input partitions once maxPartitionBytes < file
    size, record boundaries never torn) is asserted in
    tests/test_sinks.py; the per-lang aggregate over the re-read
    frame hash-matching the original-parquet oracle certifies the
    JSON→bzip2→split-read→JSON path loses nothing."""
    # per-process dir + dead-PID reaping (scratch.scratch_dir): a
    # fixed sf-keyed dir would let a concurrent session overwrite the
    # single .bz2 file between this op's write and the driver's lazy
    # evaluation of the returned read plan
    from ocdb_server_spark.scratch import scratch_dir

    out = os.path.join(scratch_dir("bz2_jsonl", sf_dir), "export")
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "n_chars"
    )
    (
        d.coalesce(1)
        .write.mode("overwrite")
        .option("compression", "bzip2")
        .json(out)
    )
    back = spark.read.schema(_DOCS_JSONL_SCHEMA).json(out)
    return _docs_lang_agg(back)


# ------------------------------- op209/op210: ORC and XML source breadth

_OP209_SQL = """
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS sum_price_cents,
       CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
       CAST(MAX(o_orderkey) AS BIGINT) AS max_key
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
GROUP BY o_orderpriority
"""


@register("op209_orc_source_sink", oracle=_OP209_SQL)
def op209_orc_source_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC source/sink round-trip — the second COLUMNAR format Spark
    ships natively (reference analog: none; its store keeps originals
    on disk and rows in MongoDB. This is lake-format breadth for the
    Spark re-design: a deployment whose upstream emits ORC ingests it
    with the same pushdown economics as parquet).

    orders is exported to ORC (zstd) and re-read; the re-read scan
    carries BOTH pruning kinds — ReadSchema keeps 4 of 5 columns and
    the o_orderdate predicate reaches the ORC reader's PushedFilters
    (search-argument row-group skipping; asserted in tests/
    test_sinks.py). The per-priority aggregate over the re-read frame
    must hash-match the oracle computed on the ORIGINAL parquet —
    certifying value fidelity (timestamps included: ORC stores UTC
    instants, session tz is UTC both engines) across the round-trip.

    Scale: ORC is splittable and stripe-indexed like parquet — at
    100 TB the export is one write job (maxRecordsPerFile shards) and
    the re-read scan skips stripes on the pushed min/max, so the
    round-trip costs two scans of the projected columns, not the
    table."""
    # per-process scratch + dead-PID reaping: a concurrent same-sf
    # session must not clobber the export before the lazy re-read
    from ocdb_server_spark.scratch import scratch_dir

    out = os.path.join(scratch_dir("orc_orders", sf_dir), "export")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate", "o_orderpriority"
    )
    (
        o.write.mode("overwrite")
        .option("compression", "zstd")
        .option("maxRecordsPerFile", 100_000)
        .orc(out)
    )
    back = spark.read.orc(out)
    return (
        back.filter(F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("sum_price_cents"),
            F.min("o_orderkey").cast("bigint").alias("min_key"),
            F.max("o_orderkey").cast("bigint").alias("max_key"),
        )
    )


_OP210_SQL = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(ROUND(value * 1000000) AS BIGINT)) AS BIGINT) AS sum_value_q,
       CAST(SUM(user_id) AS BIGINT) AS sum_user_id,
       CAST(MAX(event_id) AS BIGINT) AS max_event_id
FROM events
GROUP BY event_type
"""


@register("op210_xml_ingest", oracle=_OP210_SQL)
def op210_xml_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML ingest via Spark 4's NATIVE XML data source (spark-xml was
    merged upstream in 4.0) — the interchange format of instrument/
    observation metadata feeds adjacent to the reference's domain
    (SeaBASS headers are `/key=value`; sibling archives ship XML).

    events is exported as XML (rowTag=event) and re-read with an
    EXPLICIT schema (no inference pass — same rule as op207: schema
    inference over a 100 TB drop is a full extra read). Doubles are
    quantized to int64 micros BEFORE the export so the text round-trip
    is exact by construction rather than trusting double formatting;
    the per-type aggregate over the re-read frame hash-matches the
    oracle on the ORIGINAL parquet, certifying escape → serialize →
    parse end to end.

    Scale: XML rows are self-describing and verbose (~4× parquet),
    and Spark 4's native XML reader does NOT split within a file
    (measured here: a 1.7 MB single file stays 1 task under a 16 KB
    maxPartitionBytes — the rowTag parser needs whole-file context
    for nesting). Parallel ingest therefore comes from MANY files
    (maxRecordsPerFile shards the export; the one-task-per-file
    property is asserted in tests/test_sinks.py) — same playbook as
    op207's gzip, and the reason downstream tables are parquet with
    XML only at the edge."""
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    # per-process scratch + dead-PID reaping: a concurrent same-sf
    # session must not clobber the export before the lazy re-read
    from ocdb_server_spark.scratch import scratch_dir

    out = os.path.join(scratch_dir("xml_events", sf_dir), "export")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.round(F.col("value") * 1_000_000).cast("bigint").alias("value_q"),
    )
    (
        ev.write.mode("overwrite")
        .format("xml")
        .option("rootTag", "events")
        .option("rowTag", "event")
        .option("maxRecordsPerFile", 5000)
        .save(out)
    )
    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value_q", LongType()),
        ]
    )
    back = (
        spark.read.format("xml").option("rowTag", "event").schema(schema).load(out)
    )
    return back.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.sum("value_q").cast("bigint").alias("sum_value_q"),
        F.sum("user_id").cast("bigint").alias("sum_user_id"),
        F.max("event_id").cast("bigint").alias("max_event_id"),
    )


# ---------------- op260/op261: splittable archives (BGZF, seekable zstd)
# One path serves both codecs. The exporter writes the documents table
# as JSONL blocks, one archive per partition; the split-read manifests
# every archive's blocks, fans the manifest rows (never the payload) out
# over 8 tasks and decodes each block inside its own task, ending in the
# certification aggregate. An archive record (`BgzfArchive`,
# `ZstdArchive`) holds all that differs: how blocks are written, how a
# file's block manifest is read, how one block is read, and the
# manifest's block columns.


class BgzfArchive:
    """BGZF (sources/bgzf.py): ≤64 KiB gzip members, each carrying its
    compressed length in-band; the manifest walks the member headers.
    An empty partition writes an EOF-marker-only file, which walks to
    an empty manifest."""

    suffix = ".jsonl.gz"
    block_ddl = "offset long, length long"
    blocks = staticmethod(_bgzf_kernel.walk_blocks)
    read = staticmethod(_bgzf_kernel.read_block)

    @staticmethod
    def write(lines: Iterator[str], f) -> int:
        n = 0
        for member in _bgzf_kernel.iter_bgzf_members(lines):
            f.write(member)
            n += 1
        return n


class ZstdArchive:
    """Seekable zstd (sources/zstd_seekable.py): zstd frames followed by
    the seek-table skippable frame; the manifest is one footer read and
    one table read per file. An empty partition writes a bare seek
    table, which reads as an empty manifest."""

    suffix = ".jsonl.zst"
    block_ddl = "offset long, csize long, usize long"
    blocks = staticmethod(_zstd_kernel.read_seek_table)
    read = staticmethod(_zstd_kernel.read_frame)

    @staticmethod
    def write(lines: Iterator[str], f) -> int:
        sizes = []
        for frame, usize in _zstd_kernel.iter_seekable_zstd(lines):
            f.write(frame)
            sizes.append((len(frame), usize))
        f.write(_zstd_kernel.seek_table_frame(sizes))
        return len(sizes)


def _docs_jsonl(rows: Iterator[tuple]) -> Iterator[str]:
    """The archives' record serialization: one sorted-key JSON object
    per (doc_id, text, lang, n_chars) row."""
    for doc_id, text, lang, n_chars in rows:
        yield json.dumps(
            {"doc_id": doc_id, "text": text, "lang": lang, "n_chars": n_chars},
            sort_keys=True,
        )


def export_docs_archive(
    spark: SparkSession, sf_dir: str, out_dir: str, archive, partitions: int
) -> list[tuple[str, int]]:
    """Write the documents table as ``partitions`` archives, one per
    task, and return their sorted (path, n_blocks); the write is forced.
    One partition is a coalesce(1), the single-file shape with no
    shuffle; more are a repartition. Every task writes its file,
    ``part-<partition id><suffix>``, even from an empty partition, so
    the manifest has one row per task."""
    os.makedirs(out_dir, exist_ok=True)  # tasks die opaquely otherwise
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "n_chars"
    )
    docs = docs.coalesce(1) if partitions == 1 else docs.repartition(partitions)

    def write(batches):
        pid = TaskContext.get().partitionId()
        path = os.path.join(out_dir, f"part-{pid:05d}{archive.suffix}")
        return [(path, publish(
            path, lambda f: archive.write(_docs_jsonl(batch_rows(batches)), f)
        ))]

    manifest = map_partitions(
        docs, write, "path string, n_blocks long", f"{archive.__name__}_write"
    ).collect()
    assert len(manifest) == partitions
    return sorted((r.path, r.n_blocks) for r in manifest)


def read_archive_lang_agg(spark: SparkSession, paths: list[str], archive) -> DataFrame:
    """The split-read of ``export_docs_archive``'s files: the manifest
    stage turns each path into one row per block, the manifest rows
    (never payload bytes) repartition 8 ways, and each task reads and
    decodes its own blocks; the certification aggregate follows. The
    plan does not depend on the file count: it reads 1 or N archives."""

    def manifest(path):
        return [(path, *block) for block in archive.blocks(path)]

    def decode(path, *block):
        text = archive.read(path, *block).decode("utf-8")
        return [
            (r["doc_id"], r["text"], r["lang"], r["n_chars"])
            for r in map(json.loads, text.splitlines())
        ]

    files = spark.createDataFrame([(p,) for p in paths], "path string")
    blocks = map_rows(
        files, manifest, "path string, " + archive.block_ddl,
        f"{archive.__name__}_manifest",
    )
    back = map_rows(
        blocks.repartition(8), decode, _DOCS_JSONL_SCHEMA,
        f"{archive.__name__}_decode",
    )
    return _docs_lang_agg(back)


@register("op260_bgzf_splittable_gzip", oracle=_DOCS_LANG_AGG_SQL)
def op260_bgzf_splittable_gzip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPLITTABLE GZIP, completing the op207/op256 story for gzip
    itself: the documents table exported as ONE BGZF file
    (sources/bgzf.py, the SAM-spec §4.1 blocked-gzip framing: ≤64 KiB
    independent gzip members, each member's compressed length carried
    in-band in a gzip FEXTRA 'BC' subfield). A plain .gz condemns Spark
    to one task per file (op207); bzip2's block magic makes splitting
    free (op256); BGZF splits gzip WITHOUT losing gzip compatibility —
    the file remains a valid multi-member gzip stream any stock
    consumer reads end-to-end (pinned vs stdlib gzip in
    tests/test_bgzf.py).

    The split path is index-free and three-stage, all executor-side:
    (1) one coalesce(1) task streams the corpus through
    iter_bgzf_members (one ≤48 KiB batch in memory, members flushed at
    record boundaries — a split can never tear a record); (2)
    walk_blocks builds the block manifest from the in-band BSIZE
    fields alone, reading ~18 bytes per 64 KiB member —
    parquet-footer economics; (3) the manifest rows (NOT the bytes)
    shuffle to a repartition(8) fan-out where each task range-reads
    and inflates its own members, CRC-verified. Payload bytes never
    shuffle; at 100 TB the manifest is ~1/4000th of the data and the
    block reads fan out to maxPartitionBytes-sized task groups — the
    exact economics Spark's native bzip2 split gives op256. The
    per-lang aggregate over the re-read frame hash-matching the
    original-parquet oracle certifies the JSON→BGZF→manifest-split→
    inflate path loses nothing; the 1-row manifest collect() forces
    the write before the read plan is returned (op252's rule).

    One file is the single-downloadable-artifact shape. The same
    exporter writes one archive per partition for op261, and the same
    split-read consumes either (certified equal in tests/test_bgzf.py,
    writer scaling measured in BASELINE.md)."""
    out_dir = scratch_dir("bgzf_jsonl", sf_dir)
    [(path, n_members)] = export_docs_archive(
        spark, sf_dir, out_dir, BgzfArchive, partitions=1
    )
    assert n_members > 1
    return read_archive_lang_agg(spark, [path], BgzfArchive)


@register("op261_zstd_seekable_ingest", oracle=_DOCS_LANG_AGG_SQL)
def op261_zstd_seekable_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPLITTABLE ZSTD — op260's path for the codec large corpora
    actually ship: the documents table exported as seekable zstd
    (sources/zstd_seekable.py — standard zstd frames + the public
    seekable format's seek-table skippable frame), then split-read.

    WRITE: the exporter fans the corpus over 8 concurrent tasks, each
    streaming ITS partition through iter_seekable_zstd (one ≤48 KiB
    batch in memory, frames flushed at record boundaries — a split
    can never tear a record) into its own archive + seek table.
    BASELINE.md measured −79% writer wall at 100× corpus against the
    single-task shape op260 keeps; both shapes read back equal
    (tests/test_zstd_seekable.py).

    READ — op260's three-stage, all-executor split path, with BETTER
    metadata economics: (1) the manifest costs ONE 9-byte footer read
    + one table read per file (read_seek_table) — op260's BGZF walk
    pays a header hop per 64 KiB member, the seek table is a single
    parquet-footer-style read regardless of frame count; (2) manifest
    ROWS (never payload bytes) shuffle to a repartition(8) fan-out;
    (3) each task range-reads and one-shot decompresses its frames
    with libzstd, output size verified against the table. At 100 TB
    the table is ~8 bytes/frame and the frame reads fan out to
    maxPartitionBytes-sized task groups.

    COMPATIBLE: skippable frames are core zstd (RFC 8878 §3.1.2) —
    every file is a valid multi-frame zstd stream any stock decoder
    reads end-to-end, table silently skipped (pinned against
    pyarrow's libzstd one-shot decoder in tests/test_zstd_seekable.py,
    the same interop discipline as test_bgzf's stdlib-gzip pin).

    The per-lang aggregate over the re-read frames hash-matching the
    original-parquet oracle certifies JSON→zstd→seek-table-split→
    decompress loses nothing; the exporter's manifest collect() forces
    the write before the read plan is returned (op252's rule)."""
    out_dir = scratch_dir("zstd_jsonl_par", sf_dir)
    archives = export_docs_archive(
        spark, sf_dir, out_dir, ZstdArchive, partitions=8
    )
    return read_archive_lang_agg(spark, [p for p, _ in archives], ZstdArchive)


# --------------------------------------------------------------------------
# op152: custom Python DataSource (Spark 4 connector extension point)
# --------------------------------------------------------------------------

# 2048 rows / 2 partitions: the sweep cost of this op is ~all Python
# worker spin-up per partition (11.2 s at 8 parts in the correctness
# sweep, op_costs.json); the oracle is a closed-form formula, so ANY N proves
# the connector. 2 partitions still exercises multi-partition planning.
_SYNTH_ROWS = 2048
_SYNTH_PARTS = 2

_OP152_SQL = f"""
SELECT CAST((i * 2654435761) % 10000 // 1000 AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM((i * 2654435761) % 10000) AS BIGINT) AS checksum
FROM range(0, {_SYNTH_ROWS}) t(i)
GROUP BY bucket
"""


@register("op152_python_datasource", oracle=_OP152_SQL)
def op152_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom connector via the Spark 4 Python DataSource API: a
    deterministic synthetic-events source (`partitions()` → one task
    per partition, `read()` → generator rows), registered and consumed
    like any built-in format. This is the engine's extension point for
    the reference's pluggable file readers — a new wire format becomes
    a DataSource class, not a driver-side loop.

    The stream is a Knuth multiplicative hash of the row id, so the
    DuckDB oracle reproduces it from range() exactly. The aggregate
    proves the rows flow through normal Catalyst plans (hash agg with
    partials over the Python scan)."""
    from ocdb_server_spark.sources import pyds

    pyds.register(spark)
    src = (
        spark.read.format("synth_events")
        .option("rows", _SYNTH_ROWS)
        .option("partitions", _SYNTH_PARTS)
        .load()
    )
    return src.groupBy(
        (F.col("hval") / 1000).cast("bigint").alias("bucket")
    ).agg(
        F.count("*").alias("n"),
        F.sum("hval").alias("checksum"),
    )


# --------------------------------------------------------------------------
# op236: python-datasource FILTER PUSHDOWN — predicate → partition pruning
# --------------------------------------------------------------------------

_PDS_ROWS = 2048
_PDS_PARTS = 8
_PDS_LO, _PDS_HI = 600, 1500  # pushed range: prunes 8 chunks down to 4

_OP236_SQL = f"""
SELECT CAST((i * 2654435761) % 10000 // 1000 AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM((i * 2654435761) % 10000) AS BIGINT) AS checksum,
       CAST(MIN(i) AS BIGINT) AS min_id,
       CAST(MAX(i) AS BIGINT) AS max_id
FROM range(0, {_PDS_ROWS}) t(i)
WHERE i >= {_PDS_LO} AND i < {_PDS_HI}
GROUP BY bucket
"""


@register("op236_pyds_filter_pushdown", oracle=_OP236_SQL)
def op236_pyds_filter_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTER PUSHDOWN through the Python DataSource API (Spark 4.1's
    `pushFilters` — op152's connector upgraded from "rows flow" to
    "predicates flow"): range predicates on `id` are absorbed by the
    reader and become PARTITION PRUNING — `partitions()` emits only
    chunks overlapping [lo, hi), so the filtered scan schedules 4 of
    8 tasks and never generates the pruned rows (asserted by task
    count in tests/test_scans.py). Unsupported filters are
    yielded back per the API's remainder contract, so absorbing can
    narrow but never change results — the oracle applies the SAME
    predicate to the closed-form stream and must hash-match.

    Conf hygiene (op182's rule): the gate
    `spark.sql.python.filterPushdown.enabled` is flipped on only for
    this plan's construction and restored after."""
    from ocdb_server_spark.sources import pyds

    prev = spark.conf.get("spark.sql.python.filterPushdown.enabled", None)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    try:
        pyds.register_pushdown(spark)
        src = (
            spark.read.format("synth_events_pushdown")
            .option("rows", _PDS_ROWS)
            .option("partitions", _PDS_PARTS)
            .load()
            .filter((F.col("id") >= _PDS_LO) & (F.col("id") < _PDS_HI))
        )
        out = src.groupBy(
            (F.col("hval") / 1000).cast("bigint").alias("bucket")
        ).agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("hval").cast("bigint").alias("checksum"),
            F.min("id").cast("bigint").alias("min_id"),
            F.max("id").cast("bigint").alias("max_id"),
        )
        # materialize the plan while the gate is on (construction is
        # what consults the conf; the driver may execute later)
        out = out.localCheckpoint(eager=True)
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.python.filterPushdown.enabled")
        else:
            spark.conf.set("spark.sql.python.filterPushdown.enabled", prev)
    return out


# --------------------------------------------------------------------------
# op252: Avro OCF source/sink round-trip with schema evolution
# --------------------------------------------------------------------------

_AVRO_WRITER_SCHEMA = {
    "type": "record",
    "name": "Document",
    "fields": [
        {"name": "doc_id", "type": "long"},
        {"name": "text", "type": "string"},
        {"name": "meta", "type": {
            "type": "record", "name": "DocMeta",
            "fields": [
                {"name": "lang", "type": "string"},
                {"name": "source", "type": "string"},
            ]}},
        {"name": "n_chars", "type": "long"},
        # derived columns exercising every complex encoding:
        # tokens = [n_chars, n_chars%97, doc_id%31] as Avro INTs
        {"name": "tokens", "type": {"type": "array", "items": "int"}},
        # attrs = {"n2": 2*n_chars+1}
        {"name": "attrs", "type": {"type": "map", "values": "long"}},
        # null when doc_id%5==0 else 2*n_chars (a real 3-branch union)
        {"name": "maybe_score", "type": ["null", "long", "string"]},
    ],
}
# evolved reader — every spec resolution rule, including RECURSIVELY
# inside the nested record: top-level fields reordered; nested
# writer-only 'source' dropped; nested reader-only 'quality'
# defaulted; array items promoted int→long; the union re-read as the
# same 3-branch union
_AVRO_READER_SCHEMA = {
    "type": "record",
    "name": "Document",
    "fields": [
        {"name": "tokens", "type": {"type": "array", "items": "long"}},
        {"name": "meta", "type": {
            "type": "record", "name": "DocMeta",
            "fields": [
                {"name": "quality", "type": "long", "default": -1},
                {"name": "lang", "type": "string"},
            ]}},
        {"name": "doc_id", "type": "long"},
        {"name": "attrs", "type": {"type": "map", "values": "long"}},
        {"name": "maybe_score", "type": ["null", "long", "string"]},
        {"name": "n_chars", "type": "long"},
        {"name": "text", "type": "string"},
    ],
}

_OP252_SQL = """
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id,
       CAST(SUM(n_chars) AS BIGINT) AS sum_n_chars,
       CAST(SUM(LENGTH(text)) AS BIGINT) AS sum_text_chars,
       CAST(SUM(n_chars + n_chars % 97 + doc_id % 31) AS BIGINT)
         AS sum_tokens,
       CAST(SUM(2 * n_chars + 1) AS BIGINT) AS sum_attr_n2,
       CAST(SUM(CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_null_scores,
       CAST(SUM(CASE WHEN doc_id % 5 <> 0 THEN 2 * n_chars ELSE 0 END)
         AS BIGINT) AS sum_scores,
       CAST(SUM(-1) AS BIGINT) AS sum_quality
FROM documents
GROUP BY lang
"""


def _avro_write_parts(out_dir: str):
    """op252's writer: each task's documents as one OCF file, empty or
    not, with the codec alternating per partition so every run
    exercises both the null and the deflate block path."""

    def write(batches):
        pid = TaskContext.get().partitionId()
        docs = [
            {
                "doc_id": did,
                "text": text,
                "meta": {"lang": lang, "source": source},
                "n_chars": nch,
                "tokens": [nch, nch % 97, did % 31],
                "attrs": {"n2": 2 * nch + 1},
                "maybe_score": None if did % 5 == 0 else 2 * nch,
            }
            for did, text, lang, source, nch in batch_rows(batches)
        ]
        codec = "deflate" if pid % 2 else "null"
        path = os.path.join(out_dir, f"part-{pid:05d}.avro")
        publish(path, lambda f: f.write(_avro_kernel.write_ocf(
            _AVRO_WRITER_SCHEMA, docs, codec=codec, rows_per_block=500)))
        return [(path, len(docs))]

    return write


def _avro_read_parts(content: bytes) -> list[tuple]:
    """One OCF file read with the evolved reader schema, flattened into
    feature columns: nested record access (incl. the nested default),
    array sum over promoted longs, map lookup, union branch check."""
    return [
        (
            r["meta"]["lang"],
            r["doc_id"],
            r["meta"]["quality"],
            r["n_chars"],
            len(r["text"]),
            sum(r["tokens"]),
            r["attrs"]["n2"],
            r["maybe_score"] is None,
            r["maybe_score"] or 0,
        )
        for r in _avro_kernel.read_ocf(content, reader_schema=_AVRO_READER_SCHEMA)
    ]


@register("op252_avro_roundtrip", oracle=_OP252_SQL)
def op252_avro_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AVRO Object Container File round-trip with SCHEMA EVOLUTION, in
    pure Python: documents is exported executor-side as one OCF file
    per partition (codec alternating null/deflate so both block paths
    run), with the full COMPLEX-TYPE surface in the writer schema — a
    NESTED record (meta{lang,source}), an array<int> of derived token
    counts, a map<string,long>, and a genuine 3-branch union
    [null,long,string] — then re-read through the binaryFile source +
    the spec's schema-resolution rules with an EVOLVED reader schema:
    top-level fields reordered, the nested writer-only 'meta.source'
    skipped, the nested reader-only 'meta.quality' defaulted to -1
    (resolution applied RECURSIVELY inside the record), and the array
    items promoted int→long. The per-lang aggregate over the re-read
    frame (sum_quality = -n_docs proves the nested default fired on
    every row; sum_tokens/sum_attr_n2/n_null_scores/sum_scores prove
    array, map, and union values survived byte-exact) must hash-match
    the oracle computed on the ORIGINAL parquet — value fidelity
    through encode→OCF bytes→resolve→decode.

    Two-way interop with the JVM avro-1.12 library on Spark's own
    classpath (DataFileReader reads our bytes; our reader parses
    DataFileWriter's) is pinned in tests/test_codecs.py.

    Scale shape: encode and decode are mapInArrow stages — payload
    bytes live and die inside one task; the shuffle after decode
    carries (lang, counters) only. One file per partition is exactly
    gzip-JSONL's parallelism story (op207): per-file work
    parallelizes across files; a production writer streams blocks
    instead of buffering the partition. The tiny ≤8-row manifest
    collect() forces the write before the read plan is returned —
    bounded."""
    # Per-process dir (concurrent sessions must not unlink files
    # another session's lazy binaryFile plan is about to read) with
    # dead-PID reaping so repeated runs don't accumulate table copies
    # in /tmp — both halves of the policy live in scratch.scratch_dir.
    out_dir = scratch_dir("avro_docs", sf_dir)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    manifest = map_partitions(
        docs.repartition(8), _avro_write_parts(out_dir),
        "path string, n_rows long", "_avro_write_parts",
    ).collect()
    assert sum(r.n_rows for r in manifest) > 0
    back = map_rows(
        spark.read.format("binaryFile").load(out_dir).select("content"),
        _avro_read_parts,
        "lang string, doc_id long, quality long, n_chars long,"
        " text_chars long, tok_sum long, attr_n2 long,"
        " score_is_null boolean, score long",
        "_avro_read_parts",
    )
    return back.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("doc_id").cast("bigint").alias("sum_doc_id"),
        F.sum("n_chars").cast("bigint").alias("sum_n_chars"),
        F.sum("text_chars").cast("bigint").alias("sum_text_chars"),
        F.sum("tok_sum").cast("bigint").alias("sum_tokens"),
        F.sum("attr_n2").cast("bigint").alias("sum_attr_n2"),
        F.sum(F.col("score_is_null").cast("bigint")).cast("bigint")
         .alias("n_null_scores"),
        F.sum("score").cast("bigint").alias("sum_scores"),
        F.sum("quality").cast("bigint").alias("sum_quality"),
    )


# --------------------------------------------------------------------------
# op258: Avro OCF sink pairing for the open-schema records table
# --------------------------------------------------------------------------

# The obs VALUES are the same hand transcription of the three SeaBASS
# fixtures that certifies op204 (operators/scans.py::_OP204_SQL) —
# re-aggregated without the group dim: the sink pairing certifies the
# TRANSPORT (long records → OCF bytes → back), not the resolution.
_OP258_SQL = """
WITH obs(dataset_id, field, value) AS (VALUES
  ('ds1','depth',1.0),('ds1','chl',0.52),('ds1','wt',12.3),('ds1','sal',35.1),
  ('ds1','depth',2.5),('ds1','wt',12.1),('ds1','sal',35.0),
  ('ds1','depth',5.0),('ds1','chl',0.31),('ds1','sal',34.9),
  ('ds1','depth',7.5),('ds1','chl',0.22),('ds1','wt',11.8),
  ('ds1','depth',10.0),('ds1','wt',11.5),('ds1','sal',34.7),
  ('ds2','depth',1.0),('ds2','lu412',1.11),('ds2','lu443',2.22),('ds2','es412',3.33),
  ('ds2','depth',5.0),('ds2','lu443',2.10),('ds2','es412',3.20),
  ('ds2','depth',10.0),('ds2','lu412',0.95),('ds2','lu443',1.98),
  ('ds2','depth',20.0),('ds2','lu412',0.80),('ds2','es412',3.05),
  ('ds3','depth',2.0),('ds3','chl',0.50),('ds3','kd490',0.061),('ds3','sal',35.2),
  ('ds3','depth',4.0),('ds3','kd490',0.055),('ds3','sal',35.1),
  ('ds3','depth',8.0),('ds3','chl',0.42),('ds3','sal',35.0)
)
SELECT dataset_id, field,
       CAST(COUNT(*) AS BIGINT) AS n_obs,
       CAST(SUM(CAST(ROUND(value * 1000) AS BIGINT)) AS BIGINT) AS sum_q
FROM obs
GROUP BY dataset_id, field
"""

_OBS_AVRO_SCHEMA = {
    "type": "record",
    "name": "Obs",
    "fields": [
        {"name": "dataset_id", "type": "string"},
        {"name": "field", "type": "string"},
        {"name": "value", "type": "double"},
    ],
}


def _obs_avro_write(out_dir: str):
    """op258's writer: each task's observations as one OCF file with
    8-row blocks, the codec alternating per partition; an empty
    partition writes no file, not an empty OCF."""

    def write(batches):
        obs = [
            {"dataset_id": ds, "field": field, "value": float(value)}
            for ds, field, value in batch_rows(batches)
        ]
        if not obs:
            return []
        pid = TaskContext.get().partitionId()
        codec = "deflate" if pid % 2 else "null"
        path = os.path.join(out_dir, f"obs-{pid:05d}.avro")
        publish(path, lambda f: f.write(_avro_kernel.write_ocf(
            _OBS_AVRO_SCHEMA, obs, codec=codec, rows_per_block=8)))
        return [(path, len(obs))]

    return write


def _obs_avro_read(content: bytes) -> list[tuple]:
    return [
        (r["dataset_id"], r["field"], r["value"])
        for r in _avro_kernel.read_ocf(content)
    ]


@register("op258_avro_records_sink", oracle=_OP258_SQL)
def op258_avro_records_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OCF Avro SINK pairing for the open-schema records table — the
    op204 ↔ op252 gap named in SURVEY §7.8 (the writer existed, only
    the pairing was missing): the long `(dataset_id, field, value)`
    frame from the SeaBASS fixture corpus (scans.seabass_fixture_corpus
    — one text scan per header signature) is exported executor-side as
    Avro Object Container Files — the record-oriented interchange
    format an archive consumer actually takes for open-schema records
    (a fixed parquet schema can't hold per-file field sets; the long
    triple CAN, and Avro carries it with the schema in the container
    header) — then re-read through binaryFile + read_ocf and
    re-aggregated. The per-(dataset_id, field) count + quantized sum
    must hash-match the fixtures' hand transcription: a value corrupted
    anywhere in parse → long → OCF double bits → decode breaks the
    hash. Codec alternates null/deflate per partition; 8-row blocks
    force multi-block files (every fixture dataset exceeds one block) so block framing is exercised, not just
    one-block containers.

    Scale shape: op252's exactly — encode and decode are mapInArrow
    stages, payload bytes live and die inside one task, the shuffle
    after decode carries the (dataset_id, field) aggregate only; the
    partitionBy-style repartition on dataset_id bounds each OCF file's
    writer state. The ≤4-row manifest collect() forces the write
    before the read plan is returned (bounded, op252's rule)."""
    from ocdb_server_spark.operators.scans import seabass_fixture_corpus

    out_dir = scratch_dir("avro_records", sf_dir)
    long_tbl = seabass_fixture_corpus(spark)
    manifest = map_partitions(
        long_tbl.repartition(3, F.col("dataset_id")), _obs_avro_write(out_dir),
        "path string, n_rows long", "_obs_avro_write",
    ).collect()
    assert sum(r.n_rows for r in manifest) > 0
    back = map_rows(
        spark.read.format("binaryFile").load(out_dir).select("content"),
        _obs_avro_read, "dataset_id string, field string, value double",
        "_obs_avro_read",
    )
    return back.groupBy("dataset_id", "field").agg(
        F.count("*").cast("bigint").alias("n_obs"),
        F.sum(F.round(F.col("value") * 1000).cast("bigint"))
        .cast("bigint")
        .alias("sum_q"),
    )
