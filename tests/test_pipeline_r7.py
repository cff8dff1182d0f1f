"""Behavioral gates for the round-7 ops (op251–op254) beyond the
DuckDB oracle mirror in test_oracle.py: independent-recurrence checks,
damping algebra, schema-evolution effects, and plan-shape assertions
(payload bytes must never shuffle)."""

from __future__ import annotations

import numpy as np


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


# ------------------------------------------------------------------ op251


def test_flac_features_match_direct_decode(spark):
    """The op's feature rows must equal features computed by decoding
    each payload directly in-process (no Spark in the check path)."""
    from ocdb_server_spark.operators.multimodal_codecs import (
        _FLAC_RATE,
        op251_flac_decode_features,
    )
    from ocdb_server_spark.sources.flac import decode_flac, encode_flac

    rows = {r.asset_id: r for r in
            op251_flac_decode_features(spark, "unused").collect()}
    assert len(rows) == 120
    # i%4==3 assets (e.g. 119) are STEREO in the round-7 corpus
    for i in (0, 1, 5, 42, 119):
        n = 300 + (i % 4) * 150
        k = np.arange(n, dtype=np.int64)
        nch = 2 if i % 4 == 3 else 1
        chans = [((i * 17 + k * 13 + c * 29) % 1601 - 800)
                 for c in range(nch)]
        s = (np.stack(chans, axis=1) if nch == 2
             else chans[0]).astype(np.int16)
        rate, back = decode_flac(encode_flac(s, _FLAC_RATE, blocksize=256))
        assert np.array_equal(back, s)
        flat = s.astype(np.int64).reshape(-1)
        r = rows[i]
        assert r.channels == nch
        assert r.n_samples == n * nch
        assert r.duration_ms == n * 1000 // _FLAC_RATE
        assert r.sum_sq == int(np.sum(flat ** 2))
        assert r.peak == int(np.max(np.abs(flat)))
        assert (r.first_s, r.last_s) == (int(flat[0]), int(flat[-1]))


def test_flac_op_payloads_never_shuffle(spark):
    """Plan gate: two MapInPandas stages (generate, decode) with NO
    exchange between them — payload bytes live and die inside one
    task (the op195/op202 contract)."""
    from ocdb_server_spark.operators.multimodal_codecs import (
        op251_flac_decode_features,
    )

    plan = _plan(op251_flac_decode_features(spark, "unused"))
    import re

    assert len(re.findall(r"\(\d+\) MapInPandas", plan)) == 2, plan
    # the only exchange is range -> repartition(8), BEFORE generation;
    # nothing between or after the two MapInPandas stages shuffles
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 1, plan
    assert "RoundRobin" in plan  # and it is the repartition, not a hash


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
    # reap and EMPTY the dir under inspection). The pre-r9 version
    # read the un-suffixed pre-migration path, which passed only
    # while stale /tmp litter from older runs survived.
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


# ------------------------------------------------------------------ op253


def test_holt_damped_matches_python_recurrence(spark, sf_dir):
    """op253: the applyInPandas damped recurrence must equal an
    independent python implementation over the zero-filled spine, and
    the forecast path must be the repeated-halving partial sums."""
    from collections import Counter

    from ocdb_server_spark.io import load_table
    from ocdb_server_spark.operators.stats import _HD_H, _HW_OFF, op253_holt_damped

    ev = load_table(spark, sf_dir, "events").selectExpr(
        "event_type", "cast(ts as date) as d"
    ).collect()
    d0 = min(r.d for r in ev)
    d1 = max(r.d for r in ev)
    ndays = (d1 - d0).days + 1
    counts = Counter((r.event_type, (r.d - d0).days) for r in ev)
    f2 = lambda x: (x + _HW_OFF) // 2 - _HW_OFF // 2  # noqa: E731
    expect = {}
    for et in {r.event_type for r in ev}:
        ys = [counts.get((et, t), 0) for t in range(ndays)]
        l, b = ys[0], ys[1] - ys[0]
        for y in ys[1:]:
            pb = f2(b)
            ln = f2(y + l + pb)
            b = f2(ln - l + pb)
            l = ln
        fcs = []
        acc, p = l, b
        for _ in range(_HD_H):
            p = f2(p)
            acc += p
            fcs.append(acc)
        expect[et] = (l, b, fcs)
    got = {r.event_type: r for r in op253_holt_damped(spark, sf_dir).collect()}
    assert set(got) == set(expect)
    for et, (l, b, fcs) in expect.items():
        r = got[et]
        assert (r.level, r.trend) == (l, b), et
        for h in range(1, _HD_H + 1):
            assert getattr(r, f"fc_{h}") == fcs[h - 1], (et, h)


def test_holt_damped_flattens_vs_linear(spark, sf_dir):
    """The damping property itself: op253's forecast increments must
    shrink with the horizon (|fc_{h+1} - fc_h| <= |fc_h - fc_{h-1}|),
    whereas op231's are constant — the reason damped trend exists."""
    from ocdb_server_spark.operators.stats import (
        _HD_H,
        op253_holt_damped,
    )

    for r in op253_holt_damped(spark, sf_dir).collect():
        prev = None
        for h in range(1, _HD_H + 1):
            base = r.level if h == 1 else getattr(r, f"fc_{h-1}")
            step = abs(getattr(r, f"fc_{h}") - base)
            if prev is not None:
                assert step <= prev, r
            prev = step


# ------------------------------------------------------------------ op254


def test_holt_winters_multiplicative_matches_python(spark, sf_dir):
    """op254: the scaled-integer multiplicative recurrence must equal
    an independent python implementation over the zero-filled spine
    (init, all three update equations, and the h=1..7 forecast path
    with its floor-division semantics)."""
    from collections import Counter

    from ocdb_server_spark.io import load_table
    from ocdb_server_spark.operators.stats import (
        _HWM_H,
        _HWM_M,
        _HWM_S,
        _HW_OFF,
        op254_holt_winters_multiplicative,
    )

    ev = load_table(spark, sf_dir, "events").selectExpr(
        "event_type", "cast(ts as date) as d"
    ).collect()
    d0 = min(r.d for r in ev)
    d1 = max(r.d for r in ev)
    ndays = (d1 - d0).days + 1
    counts = Counter((r.event_type, (r.d - d0).days) for r in ev)
    f2 = lambda x: (x + _HW_OFF) // 2 - _HW_OFF // 2  # noqa: E731
    S = _HWM_S
    expect = {}
    for et in {r.event_type for r in ev}:
        ys = [counts.get((et, t), 0) for t in range(ndays)]
        l = sum(ys[:_HWM_M]) // _HWM_M
        b = 0
        s = [(ys[i] * S) // max(l, 1) for i in range(_HWM_M)]
        for t in range(_HWM_M, ndays):
            y = ys[t]
            slot = t % _HWM_M
            sp = s[slot]
            x = (y * S) // max(sp, 1)
            ln = f2(x + l + b)
            b = f2(b + ln - l)
            s[slot] = f2((y * S) // max(ln, 1) + sp)
            l = ln
        fcs = [
            ((l + h * b) * s[(ndays - 1 + h) % _HWM_M]) // S
            for h in range(1, _HWM_H + 1)
        ]
        expect[et] = (l, b, fcs)
    got = {
        r.event_type: r
        for r in op254_holt_winters_multiplicative(spark, sf_dir).collect()
    }
    assert set(got) == set(expect)
    for et, (l, b, fcs) in expect.items():
        r = got[et]
        assert (r.level, r.trend) == (l, b), et
        for h in range(1, _HWM_H + 1):
            assert getattr(r, f"fc_{h}") == fcs[h - 1], (et, h)


def test_holt_winters_multiplicative_seasonality_is_ratio(spark, sf_dir):
    """The model property that distinguishes multiplicative from
    additive: forecasts scale with level·seasonal-ratio, so every
    forecast of a non-negative-history series with positive level
    stays within [0, level·max_ratio + slack] — and the forecast for
    the same weekday one season apart differs only by the trend term
    (fc_{h+7} - fc_h uses the SAME seasonal slot: difference is
    exactly 7·b·s_slot // S up to flooring, bounded here)."""
    from ocdb_server_spark.operators.stats import (
        _HWM_S,
        op254_holt_winters_multiplicative,
    )

    rows = op254_holt_winters_multiplicative(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.level >= 0
        # all forecasts finite-ish and in a plausible ratio band
        for h in range(1, 8):
            fc = getattr(r, f"fc_{h}")
            assert abs(fc) < 100 * max(r.level, 1) + _HWM_S
