"""Behavioral tests for the scan and sink operators
(operators/scans.py): the Python datasource's filter pushdown (op236)
and the Avro OCF round-trip and records sink (op252, op258)."""

from __future__ import annotations


def test_pyds_pushdown_prunes_tasks(spark):
    """op236's structural claim: with the pushed range the python
    datasource schedules only the overlapping chunks; without a
    filter it schedules all of them. Also: a filter the reader can't
    absorb (on hval) still returns correct rows via Spark's
    remainder re-application."""
    from ocdb_server_spark.sources import pyds

    prev = spark.conf.get("spark.sql.python.filterPushdown.enabled", None)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    try:
        pyds.register_pushdown(spark)
        base = (
            spark.read.format("synth_events_pushdown")
            .option("rows", 2048)
            .option("partitions", 8)
            .load()
        )
        assert base.rdd.getNumPartitions() == 8
        pruned = base.filter("id >= 1500 and id < 1800")
        assert pruned.rdd.getNumPartitions() == 3  # chunks 5,6,7 only
        assert pruned.count() == 300
        # unabsorbable filter: remainder contract keeps results exact
        resid = base.filter("hval % 2 = 0")
        expect = sum(1 for i in range(2048) if ((i % 10000) * (2654435761 % 10000)) % 10000 % 2 == 0)
        assert resid.count() == expect
        assert resid.rdd.getNumPartitions() == 8  # nothing pruned
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.python.filterPushdown.enabled")
        else:
            spark.conf.set("spark.sql.python.filterPushdown.enabled", prev)


# ------------------------------------------------------------------ op252


def test_avro_roundtrip_quality_default_fires_everywhere(spark, sf_dir):
    """sum_quality must be exactly -n_docs per lang: the reader-only
    defaulted field proves schema resolution ran on every row."""
    from ocdb_server_spark.operators.scans import op252_avro_roundtrip

    rows = op252_avro_roundtrip(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.sum_quality == -r.n_docs, r


def test_avro_files_use_both_codecs(spark, sf_dir):
    """The export must actually exercise both block paths: at least
    one null-codec file and one deflate file on disk."""
    import json
    import os
    import tempfile

    from ocdb_server_spark.operators.scans import op252_avro_roundtrip

    from ocdb_server_spark.scratch import scratch_path

    op252_avro_roundtrip(spark, sf_dir).collect()
    # READ-ONLY scratch accessor (calling scratch_dir() here would
    # reap and EMPTY the dir under inspection). The un-suffixed
    # pre-migration path would pass only while stale /tmp litter
    # from older runs survived.
    out = scratch_path("avro_docs", sf_dir)
    codecs = set()
    for fname in os.listdir(out):
        with open(os.path.join(out, fname), "rb") as f:
            head = f.read(4096)
        codecs.add(b"deflate" in head)
    assert codecs == {True, False}, codecs


def test_avro_roundtrip_matches_source_counts(spark, sf_dir):
    """Row counts per lang through the OCF round-trip must equal the
    parquet source's (value fidelity is the oracle's job; this is the
    cheap no-row-lost/no-row-duplicated sanity in the suite)."""
    from ocdb_server_spark.io import load_table
    from ocdb_server_spark.operators.scans import op252_avro_roundtrip

    got = {r.lang: r.n_docs for r in op252_avro_roundtrip(spark, sf_dir).collect()}
    want = {
        r.lang: r.n
        for r in load_table(spark, sf_dir, "documents")
        .groupBy("lang")
        .count()
        .withColumnRenamed("count", "n")
        .collect()
    }
    assert got == want


def test_op258_ocf_files_are_multiblock_and_jvm_readable(spark, sf_dir):
    """op258's transport claims, pinned: the exported OCF files are
    MULTI-block (8-row blocks — block framing is exercised, not just
    one-block containers), both codec paths appear across the file
    set, and the JVM avro library on Spark's own classpath reads our
    bytes back to the exact same (dataset_id, field, value) triples —
    the interop gate op252 established, applied to the records sink."""
    import glob

    from ocdb_server_spark.operators.scans import (
        op258_avro_records_sink,
    )
    from ocdb_server_spark.sources.avro_ocf import read_ocf

    out = op258_avro_records_sink(spark, sf_dir)
    rows = {(r.dataset_id, r.field): (r.n_obs, r.sum_q) for r in out.collect()}
    assert rows[("ds1", "depth")] == (5, 26000)  # 1+2.5+5+7.5+10 → *1000

    # READ-ONLY scratch accessor (calling scratch_dir() again would
    # reap and EMPTY it) — a glob over all pids would pick up stale
    # dirs from other sessions/tags
    from ocdb_server_spark.scratch import scratch_path

    mine = scratch_path("avro_records", sf_dir)
    files = sorted(glob.glob(f"{mine}/obs-*.avro"))
    assert files, "no OCF files left on disk"
    total = []
    for p in files:
        with open(p, "rb") as f:
            blob = f.read()
        recs = read_ocf(blob)
        total.extend((r["dataset_id"], r["field"], r["value"]) for r in recs)
        if len(recs) > 8:
            # count sync markers: blocks = occurrences of the 16-byte
            # marker after the header; >2 means ≥2 data blocks
            marker = blob[-16:]
            assert blob.count(marker) >= 3, p  # header + ≥2 blocks
    assert len(total) == 39  # every fixture observation survived (16+13+10)

    # JVM interop: DataFileReader parses our bytes
    jvm = spark._jvm
    sf = jvm.java.io.File(files[0])
    dgr = jvm.org.apache.avro.generic.GenericDatumReader()
    dfr = jvm.org.apache.avro.file.DataFileReader(sf, dgr)
    jvm_rows = []
    while dfr.hasNext():
        rec = dfr.next()
        jvm_rows.append(
            (
                str(rec.get("dataset_id")),
                str(rec.get("field")),
                float(rec.get("value")),
            )
        )
    dfr.close()
    ours = [
        (r["dataset_id"], r["field"], r["value"])
        for r in read_ocf(open(files[0], "rb").read())
    ]
    assert jvm_rows == ours and len(jvm_rows) > 0
