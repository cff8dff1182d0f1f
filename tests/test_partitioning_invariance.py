"""Partitioning-invariance proofs: the cluster-size-independence claim
made testable.

Every deterministic operator must return IDENTICAL rows regardless of
(a) how the input parquet is split into files (1 file vs many — the
local stand-in for "how many executors scanned it") and (b) the
shuffle-partition count (3 vs 8 — the stand-in for cluster width).
An op that flunks this is silently order-dependent — correct-looking
at sf0.001 and wrong on a 1000-executor cluster, the exact bug class
the float discipline (exact int64 sums, unique window tiebreaks)
exists to prevent.

Representative sample across shapes: hash-dedup (op154), windowed
budget pack (op157), PSI drift grid (op162), entropy two-level agg
(op165), broadcast-model scoring (op169), weighted reservoir (op174),
PMI collocations (op175), hash split (op176).
"""

from __future__ import annotations

import os
import tempfile

import pytest

from pyspark.sql import functions as F

from ocdb_server_spark.registry import load_all

OPS = load_all()

INVARIANT_OPS = [
    "op154_prefix_dedup",
    "op157_token_budget_pack",
    "op162_drift_psi",
    "op165_token_entropy",
    "op169_unigram_logprob",
    "op174_weighted_sample",
    "op175_pmi_collocations",
    "op176_train_val_split",
    # the argmax/recurrence determinism claims:
    "op215_cms_pointquery",   # portable-hash sketch counters
    "op216_bpe_train",        # total-order argmax per merge round
    "op224_feature_hashing",  # signed-hash pooling
    # exact-Jaccard edges + iterative min-label CC must not depend on
    # how the documents table is laid out (the window df-cap, the pair
    # join, and the label fixpoint are all keyed aggregations):
    "op96_dedup_components",
    "op221_neardup_canonicalize",
]


def _canon_rows(df) -> list[tuple]:
    cols = sorted(df.columns)
    return sorted(
        tuple(repr(row[c]) for c in cols) for row in df.select(*cols).collect()
    )


@pytest.fixture(scope="module")
def doc_layouts(spark, sf_dir):
    """The same documents table written as 1 file and as 7 files."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    tmp = tempfile.mkdtemp(prefix="ocdb_inv_")
    one = os.path.join(tmp, "one")
    many = os.path.join(tmp, "many")
    docs.repartition(1).write.parquet(os.path.join(one, "documents.parquet"))
    docs.repartition(7, F.col("doc_id")).write.parquet(
        os.path.join(many, "documents.parquet")
    )
    yield one, many
    import shutil

    shutil.rmtree(tmp, ignore_errors=True)


@pytest.mark.parametrize("name", INVARIANT_OPS)
def test_result_invariant_to_file_layout(name, spark, doc_layouts):
    one, many = doc_layouts
    assert _canon_rows(OPS[name].fn(spark, one)) == _canon_rows(
        OPS[name].fn(spark, many)
    ), f"{name} result depends on input file split"


@pytest.mark.parametrize("name", INVARIANT_OPS)
def test_result_invariant_to_shuffle_width(name, spark, doc_layouts):
    _, many = doc_layouts
    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        narrow = _canon_rows(OPS[name].fn(spark, many))
        spark.conf.set("spark.sql.shuffle.partitions", "11")
        wide = _canon_rows(OPS[name].fn(spark, many))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
    assert narrow == wide, f"{name} result depends on shuffle-partition count"


# ---------------------------------------------------------------------------
# Same proof for the headline/decimal ops over the full star schema —
# op17/op39's exact-DECIMAL accumulators exist precisely so these hold.
# ---------------------------------------------------------------------------

FULL_TABLE_OPS = [
    "op17_agg_groupby",
    "op39_join_multiway_star",
    "op75_dedup_exact",
    "op112_salted_topk",
    "op121_session_funnel",
    "op163_equidepth_histogram",
    "op164_time_weighted_avg",
    "op171_rollup_merge",
    # integer recurrences and mergeable partials must not
    # care how the scan was split or how wide the shuffle is
    "op211_gram_matrix",
    "op212_kmeans_lloyd",
    "op223_skyline",
    "op231_holt_forecast",
    # the other daily-spine ops: the grouped stage sorts each series by
    # day and the slope window orders by day, so neither may care how
    # the events scan was split or how wide the shuffle runs
    "op235_holt_winters_seasonal",
    "op247_rolling_slope",
    # the damped recurrence and the OCF round-trip must be
    # independent of scan splits and shuffle width (op252 re-shards
    # its export by partition count — the aggregate must not care)
    "op252_avro_roundtrip",
    "op253_holt_damped",
    "op254_holt_winters_multiplicative",
    # the damped multiplicative composition inherits both
    # parents' invariance obligations
    "op257_holt_winters_damped_multiplicative",
    # the Croston state loop must not care how the
    # orders scan was split, and the BGZF export re-blocks by writer
    # batch — the re-read aggregate must not care about scan layout
    # or shuffle width either
    "op259_croston_sba",
    "op260_bgzf_splittable_gzip",
    # the seekable-zstd export re-frames by writer batch —
    # the re-read aggregate must not care about scan layout or
    # shuffle width; the ADI/CV² classifier is two keyed aggregations
    # whose integer-exact thresholds must never flip with either
    "op261_zstd_seekable_ingest",
    "op262_demand_classification",
    # RRF fuses integer ranks from two totally-ordered legs
    # (quantized BM25 scores, dense-leg sims — both tie-broken by id),
    # and the CDC merge is a keyed window + keyed join: neither may
    # care how any input was split or how wide the shuffle runs
    "op263_rrf_hybrid_topk",
    "op264_cdc_apply_changes",
]

_ALL_TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


@pytest.fixture(scope="module")
def star_layouts(spark, sf_dir):
    """All ten tables written twice: single-file and 7-way-split."""
    from ocdb_server_spark.io import load_table

    tmp = tempfile.mkdtemp(prefix="ocdb_inv_star_")
    one = os.path.join(tmp, "one")
    many = os.path.join(tmp, "many")
    for t in _ALL_TABLES:
        df = load_table(spark, sf_dir, t)
        df.repartition(1).write.parquet(os.path.join(one, f"{t}.parquet"))
        df.repartition(7).write.parquet(os.path.join(many, f"{t}.parquet"))
    yield one, many
    import shutil

    shutil.rmtree(tmp, ignore_errors=True)


@pytest.mark.parametrize("name", FULL_TABLE_OPS)
def test_star_ops_invariant_to_layout_and_width(name, spark, star_layouts):
    one, many = star_layouts
    a = _canon_rows(OPS[name].fn(spark, one))
    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "5")
        b = _canon_rows(OPS[name].fn(spark, many))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
    assert a == b, f"{name} result depends on file layout / shuffle width"
