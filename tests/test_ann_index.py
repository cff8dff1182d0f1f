"""functions/ann_index.py — the persisted ANN index path. Pins the
three contract points:

1. RESULT PARITY: op95/op180's persisted-codebook query returns
   bit-identical top-k to the inline (train-in-plan) build — the
   artifact is the same seeder's output round-tripped through parquet,
   so switching the registered ops to the index path could not move
   their golden ROWS snapshots.
2. BUILD ONCE: the second get_or_build for the same (dataset, params)
   reuses the artifact (no rewrite); different params build a
   different artifact.
3. PURE QUERY PLAN: with a persisted codebook the query plan's only
   sources are the corpus scan and the artifact scan — the training
   aggregation (orderBy(xxhash64) + limit + collect_list pack) is
   gone from the query side. That's the SCALE_AUDIT claim: at 100 TB,
   build ≫ query, paid once per ingest instead of per query.
"""

from __future__ import annotations

import os

from ocdb_server_spark.functions.ann_index import (
    get_or_build_ivf,
    get_or_build_pq,
    index_path,
)
from ocdb_server_spark.io import load_table
from ocdb_server_spark.operators.similarity import _PQ_K, ivf_topk, pq_topk


def _rows(df):
    return [tuple(r) for r in df.collect()]


def test_ivf_persisted_index_identical_topk(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    inline = _rows(ivf_topk(e, n_centroids=23))
    cb = get_or_build_ivf(spark, e, sf_dir, n_centroids=23)
    persisted = _rows(ivf_topk(e, n_centroids=23, codebook=cb))
    assert persisted == inline and len(persisted) == 10


def test_pq_persisted_index_identical_topk(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    inline = _rows(pq_topk(e))
    cb = get_or_build_pq(spark, e, sf_dir, _PQ_K)
    persisted = _rows(pq_topk(e, codebook=cb))
    assert persisted == inline and len(persisted) == 10


def test_index_built_once_and_keyed_by_params(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    path = index_path(sf_dir, "ivf", {"n_centroids": 23})
    get_or_build_ivf(spark, e, sf_dir, n_centroids=23)
    assert os.path.isdir(path)
    stamp = max(
        os.stat(os.path.join(path, f)).st_mtime_ns for f in os.listdir(path)
    )
    # same key → artifact reused, not rewritten
    get_or_build_ivf(spark, e, sf_dir, n_centroids=23)
    stamp2 = max(
        os.stat(os.path.join(path, f)).st_mtime_ns for f in os.listdir(path)
    )
    assert stamp2 == stamp
    # different params → different artifact
    other = index_path(sf_dir, "ivf", {"n_centroids": 24})
    assert other != path
    get_or_build_ivf(spark, e, sf_dir, n_centroids=24)
    assert os.path.isdir(other)


def test_persisted_query_plan_has_no_training_aggregation(spark, sf_dir):
    """The whole point of the artifact: the query-side plan must not
    pay the training pass. Inline mode's plan packs the codebook with
    collect_list over a sorted/limited corpus scan; the persisted
    plan replaces that subtree with a scan of the artifact parquet."""
    e = load_table(spark, sf_dir, "embeddings")
    inline_plan = ivf_topk(e, n_centroids=23)._jdf.queryExecution().toString()
    assert "collect_list" in inline_plan  # the training pack, present inline

    cb = get_or_build_ivf(spark, e, sf_dir, n_centroids=23)
    path = index_path(sf_dir, "ivf", {"n_centroids": 23})
    q = ivf_topk(e, n_centroids=23, codebook=cb)
    plan = q._jdf.queryExecution().toString()
    assert "collect_list" not in plan, "training aggregation leaked into query"
    assert os.path.basename(path) in plan, "query must scan the artifact"

    pq_cb = get_or_build_pq(spark, e, sf_dir, _PQ_K)
    pq_plan = pq_topk(e, codebook=pq_cb)._jdf.queryExecution().toString()
    assert "collect_list" not in pq_plan


def test_dataset_key_sees_inplace_directory_rewrites(tmp_path):
    """Directory datasets: overwriting a part file IN PLACE (same
    name, same byte count) must change the dataset key — the dir's
    own stat doesn't move, only the entry's mtime does. A key that
    missed this would serve a stale codebook for a refreshed corpus."""
    import os
    import time

    from ocdb_server_spark.functions.ann_index import _dataset_key

    ds = tmp_path / "embeddings.parquet"
    ds.mkdir()
    part = ds / "part-00000.parquet"
    part.write_bytes(b"v1-bytes")
    k1 = _dataset_key(str(tmp_path))
    assert k1 == _dataset_key(str(tmp_path))  # stable while untouched
    time.sleep(0.01)
    part.write_bytes(b"v2-bytes")  # same name, same size
    os.utime(part)  # ensure the mtime tick is visible on coarse clocks
    k2 = _dataset_key(str(tmp_path))
    assert k1 != k2


def test_dataset_key_sees_partitioned_leaf_rewrites(tmp_path):
    """Partitioned layouts (key=value/part-*.parquet): an in-place leaf
    rewrite bumps neither the root's entries nor the partition dir's
    own stat — the key must walk to the leaves."""
    import os
    import time

    from ocdb_server_spark.functions.ann_index import _dataset_key

    ds = tmp_path / "embeddings.parquet"
    (ds / "label=1").mkdir(parents=True)
    leaf = ds / "label=1" / "part-00000.parquet"
    leaf.write_bytes(b"v1-bytes")
    k1 = _dataset_key(str(tmp_path))
    time.sleep(0.01)
    leaf.write_bytes(b"v2-bytes")  # same name, same size, same depth
    os.utime(leaf)
    assert _dataset_key(str(tmp_path)) != k1
