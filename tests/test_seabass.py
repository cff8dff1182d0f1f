"""SeaBASS-style ingest tests (SURVEY.md §5.2.2) — inline golden
documents, mirroring the reference's reader tests
(`tests/core/seabass/test_sb_file_reader.py` [U]): delimiter handling,
/missing and /below_detection_limit → NULL, typed records."""

from __future__ import annotations

import math

import pytest

from ocdb_server_spark.sources.seabass import FIXTURE, parse_header, read_seabass


def test_parse_header_keys():
    header = parse_header(FIXTURE.splitlines()[:10])
    assert header["investigators"] == "Jane_Doe"
    assert header["delimiter"] == "comma"
    assert header["missing"] == "-999"
    assert header["below_detection_limit"] == "-888"
    assert header["fields"] == "depth,chl,wt,sal"


@pytest.fixture(scope="module")
def fixture_path(tmp_path_factory):
    p = tmp_path_factory.mktemp("seabass") / "exp2024.sb"
    p.write_text(FIXTURE)
    return str(p)


def test_read_seabass_schema_and_types(spark, fixture_path):
    df = read_seabass(spark, fixture_path)
    assert df.columns == ["depth", "chl", "wt", "sal"]
    assert all(f.dataType.typeName() == "double" for f in df.schema.fields)


def test_read_seabass_null_tokens(spark, fixture_path):
    rows = {r["depth"]: r for r in read_seabass(spark, fixture_path).collect()}
    assert set(rows) == {1.0, 2.5, 5.0, 7.5, 10.0}
    assert math.isclose(rows[1.0]["chl"], 0.52)
    assert rows[2.5]["chl"] is None          # /missing=-999
    assert rows[5.0]["wt"] is None           # /missing in another column
    assert rows[7.5]["sal"] is None          # /below_detection_limit=-888
    assert rows[10.0]["chl"] is None
    assert math.isclose(rows[10.0]["sal"], 34.7)


def test_read_seabass_space_delimiter(spark, tmp_path):
    text = (
        "/begin_header\n/delimiter=space\n/missing=-9\n"
        "/fields=a,b\n/end_header\n1 2\n3 -9\n"
    )
    p = tmp_path / "sp.sb"
    p.write_text(text)
    rows = sorted(read_seabass(spark, str(p)).collect(), key=lambda r: r["a"])
    assert [(r["a"], r["b"]) for r in rows] == [(1.0, 2.0), (3.0, None)]


def test_read_seabass_missing_fields_header(spark, tmp_path):
    p = tmp_path / "bad.sb"
    p.write_text("/begin_header\n/end_header\n1,2\n")
    with pytest.raises(ValueError, match="fields"):
        read_seabass(spark, str(p))


def test_read_seabass_no_end_header(spark, tmp_path):
    p = tmp_path / "noend.sb"
    p.write_text("/begin_header\n/fields=a\n1\n")
    with pytest.raises(ValueError, match="end_header"):
        read_seabass(spark, str(p))


# ------------------------------------------ long-format open-schema records

from ocdb_server_spark.sources.seabass import (  # noqa: E402
    FIXTURE2,
    FIXTURE3,
    read_seabass_long,
)


@pytest.fixture(scope="module")
def long_frame(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("seabass_long")
    frames = []
    for ds_id, content in (("ds1", FIXTURE), ("ds2", FIXTURE2), ("ds3", FIXTURE3)):
        p = d / f"{ds_id}.sb"
        p.write_text(content)
        frames.append(read_seabass_long(spark, str(p), ds_id))
    return frames[0].unionByName(frames[1]).unionByName(frames[2])


def test_long_format_row_counts(long_frame):
    """Nulls (missing / below-detection tokens) become ABSENT records:
    ds1 = 5 rows x 4 fields - 4 nulls = 16; ds2 = 4x4 - 3 = 13;
    ds3 = 3x4 - 2 = 10."""
    counts = {
        r["dataset_id"]: r["n"]
        for r in long_frame.groupBy("dataset_id").count()
        .withColumnRenamed("count", "n").collect()
    }
    assert counts == {"ds1": 16, "ds2": 13, "ds3": 10}


def test_long_format_heterogeneous_fields_union(long_frame):
    """Files with disjoint /fields= sets union losslessly in long form
    — the open-schema property wide frames cannot give."""
    fields = {
        (r["dataset_id"], r["field"])
        for r in long_frame.select("dataset_id", "field").distinct().collect()
    }
    assert ("ds2", "lu412") in fields and ("ds1", "lu412") not in fields
    assert ("ds1", "wt") in fields and ("ds3", "wt") not in fields


def test_find_datasets_pgroup_over_long_records(long_frame):
    """End to end: search.find_datasets'
    product-group resolution (pgroup_map expansion -> IN-list
    predicate) runs against the LONG record table — group binding is
    simply the `field` column, exactly the reference's
    product-groups.json -> $in lookup over its per-field storage."""
    from ocdb_server_spark.search import DatasetQuery, SearchColumns

    from ocdb_server_spark.search import find_datasets

    cols = SearchColumns(
        group="field",
        order_key="dataset_id",
        pgroup_map={
            "radiometry": ("lu412", "lu443", "es412"),
            "chlorophyll": ("chl", "kd490"),
            "hydrography": ("depth", "wt", "sal"),
        },
    )
    res = find_datasets(long_frame, DatasetQuery(pgroup=["radiometry"]), cols)
    assert res.total_count == 9  # ds2's 9 non-null radiometry observations
    assert {r["dataset_id"] for r in res.datasets.collect()} == {"ds2"}

    res2 = find_datasets(long_frame, DatasetQuery(pgroup=["chlorophyll"]), cols)
    assert res2.total_count == 7  # ds1 chl x3 + ds3 (chl x2 + kd490 x2)
    assert {r["dataset_id"] for r in res2.datasets.collect()} == {"ds1", "ds3"}

    # unknown group resolves empty -> matches NOTHING (anti-leak rule)
    res3 = find_datasets(long_frame, DatasetQuery(pgroup=["nope"]), cols)
    assert res3.total_count == 0


# ------------------------------------------- randomized file roundtrip


def test_randomized_file_roundtrip(spark, tmp_path):
    """10 seeded-random SeaBASS files generated from a value MODEL
    (random field lists, all three delimiters, random missing /
    below_detection_limit tokens, junk non-numeric cells, blank lines,
    ragged whitespace) written to disk and read back through
    read_seabass — the parsed frame must equal the model exactly:
    missing/BDL tokens → NULL, junk → NULL (double cast), numerics →
    their float values, column order = /fields= order. The golden
    fixtures above pin known files; this sweeps the format dialect
    space the reference's ingest actually sees."""
    import math
    import random

    rng = random.Random(7209)

    for trial in range(10):
        n_fields = rng.randrange(2, 7)
        fields = [f"f{j}_{rng.randrange(10)}" for j in range(n_fields)]
        delim_name, delim = rng.choice(
            [("comma", ","), ("space", " "), ("tab", "\t")]
        )
        missing = rng.choice(["-999", "-9999.0", "NA"])
        bdl = rng.choice([None, "-888", "BDL"])
        n_rows = rng.randrange(1, 30)

        expected: list[list[float | None]] = []
        lines = ["/begin_header", f"/fields={','.join(fields)}",
                 f"/delimiter={delim_name}", f"/missing={missing}"]
        if bdl:
            lines.append(f"/below_detection_limit={bdl}")
        lines.append("/end_header")
        for _ in range(n_rows):
            row_tokens, row_exp = [], []
            for _f in fields:
                roll = rng.random()
                if roll < 0.12:
                    row_tokens.append(missing)
                    row_exp.append(None)
                elif bdl and roll < 0.2:
                    row_tokens.append(bdl)
                    row_exp.append(None)
                elif roll < 0.26:
                    row_tokens.append("junk" + str(rng.randrange(5)))
                    row_exp.append(None)  # non-numeric → NULL double
                else:
                    v = round(rng.uniform(-100, 100), 4)
                    row_tokens.append(repr(v))
                    row_exp.append(v)
            pad = "  " if delim_name == "space" and rng.random() < 0.4 else ""
            lines.append(pad + delim.join(row_tokens))
            expected.append(row_exp)
            if rng.random() < 0.1:
                lines.append("")  # blank line, must be skipped
            if rng.random() < 0.12:
                # indented header-ish line / '!' comment mid-body: must
                # be skipped, never ingested as a phantom all-NULL row
                lines.append(
                    rng.choice(["  /stray_note=x", "! a comment", "  ! note"])
                )

        p = tmp_path / f"fuzz{trial}.sb"
        p.write_text("\n".join(lines) + "\n")

        got = read_seabass(spark, str(p))
        assert got.columns == fields, trial
        rows = [[r[c] for c in fields] for r in got.collect()]
        assert len(rows) == len(expected), trial
        # text files keep line order within one small split
        for ri, (g, e) in enumerate(zip(rows, expected)):
            for gv, ev in zip(g, e):
                if ev is None:
                    assert gv is None, (trial, ri, g, e)
                else:
                    assert gv is not None and math.isclose(gv, ev), (
                        trial, ri, g, e,
                    )


def test_structural_misalignment_stays_loud(spark, tmp_path):
    """A misdeclared delimiter (or misaligned /fields=) must raise at
    plan time, not parse to an all-NULL frame (try_cast would
    otherwise swallow it — and the long path's isNotNull filter would
    silently drop every record of the file)."""
    p = tmp_path / "misdecl.sb"
    p.write_text(
        "/begin_header\n/fields=depth,chl\n/delimiter=comma\n"
        "/end_header\n1.0\t0.5\n2.0\t0.6\n"
    )
    with pytest.raises(ValueError, match="misdeclared delimiter"):
        read_seabass(spark, str(p))


def test_raw_and_geotime_compose_reference_record_model(spark, tmp_path):
    """read_seabass_raw keeps the reference's float/str record model
    (Dataset.records [U]) — text fields survive as strings instead of
    try_cast-ing to NULL — and seabass_record_geotime composes the
    per-record longitudes/latitudes/times the reference extracts,
    which then bind straight into find_datasets' bbox+time search."""
    from ocdb_server_spark.search import (
        DatasetQuery,
        SearchColumns,
        find_datasets,
    )
    from ocdb_server_spark.sources.seabass import (
        read_seabass_raw,
        seabass_record_geotime,
    )

    p = tmp_path / "geo.sb"
    p.write_text(
        "/begin_header\n"
        "/fields=date,time,lat,lon,station,chl\n"
        "/delimiter=comma\n/missing=-999\n/end_header\n"
        "19970115,10:30:00,43.5,-68.2,stnA,0.52\n"
        "19970115,11:00:00,43.6,-68.1,stnB,0.61\n"
        "19970116,09:15:00,44.0,-67.9,stnC,-999\n"
        "19970116,badtime,44.1,-67.8,stnD,0.40\n"
    )
    raw = read_seabass_raw(spark, str(p))
    rows = raw.collect()
    # text fields survive (the all-double path would NULL these)
    assert [r["station"] for r in rows] == ["stnA", "stnB", "stnC", "stnD"]
    assert rows[2]["chl"] is None  # missing token → NULL even raw

    geo = seabass_record_geotime(raw)
    g = geo.collect()
    assert g[0]["longitude"] == -68.2 and g[0]["latitude"] == 43.5
    assert str(g[0]["ts"]).startswith("1997-01-15 10:30:00")
    assert g[3]["ts"] is None  # malformed time → NULL ts, not a crash

    # the composed columns bind directly into the search façade
    cols = SearchColumns(
        x="longitude", y="latitude", t_start="ts", order_key="station"
    )
    res = find_datasets(
        geo,
        DatasetQuery(
            region=(-68.5, 43.0, -68.0, 44.5),
            time=("1997-01-15 00:00:00", "1997-01-15 23:59:59"),
            count=100,
        ),
        cols,
    )
    assert res.total_count == 2
    assert [r["station"] for r in res.datasets.collect()] == ["stnA", "stnB"]

    with pytest.raises(ValueError, match="not in frame"):
        seabass_record_geotime(raw.drop("lat"))


def test_corpus_reader_matches_per_file_union_with_fewer_scans(
    spark, tmp_path
):
    """read_seabass_corpus over 5 files spanning 3 header signatures
    must equal the per-file read_seabass_long union exactly, while
    planning ONE text scan per SIGNATURE (3), not per file (5) — the
    many-files scale shape the module docstring promises. A broken
    file anywhere in the corpus is named loudly at catalog time."""
    from ocdb_server_spark.sources.seabass import read_seabass_corpus

    # ds1/ds4/ds5 share FIXTURE's signature; ds2/ds3 bring two more
    contents = {
        "ds1": FIXTURE,
        "ds2": FIXTURE2,
        "ds3": FIXTURE3,
        "ds4": FIXTURE.replace("1.0,0.52,12.3,35.1", "9.0,0.9,10.0,30.0"),
        "ds5": FIXTURE,
    }
    paths = []
    for name, body in contents.items():
        p = tmp_path / f"{name}.sb"
        p.write_text(body)
        paths.append(str(p))

    corpus = read_seabass_corpus(spark, paths)
    manual = None
    for name in contents:
        f = read_seabass_long(spark, str(tmp_path / f"{name}.sb"), name)
        manual = f if manual is None else manual.unionByName(f)

    key = lambda r: (r["dataset_id"], r["field"], r["value"])  # noqa: E731
    got = sorted(corpus.collect(), key=key)
    exp = sorted(manual.collect(), key=key)
    assert [tuple(r) for r in got] == [tuple(r) for r in exp]

    plan = corpus._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan text") == 3, plan

    # catalog-time loudness: one broken file fails the whole build by name
    bad = tmp_path / "bad.sb"
    bad.write_text(
        "/begin_header\n/fields=a,b\n/delimiter=comma\n/end_header\n1\t2\n"
    )
    with pytest.raises(ValueError, match="bad.sb"):
        read_seabass_corpus(spark, paths + [str(bad)])


def test_duplicate_fields_rejected_catalog_time(spark, tmp_path):
    """A repeated /fields= name must fail loudly at catalog time with
    the file and offender named — by-name selection downstream would
    otherwise die mid-job with Spark's AMBIGUOUS_REFERENCE (duplicate
    names are a structural misconfiguration, same class as a
    misaligned fields list)."""
    p = tmp_path / "dup.sb"
    p.write_text(
        "/begin_header\n/fields=depth,chl,depth\n/delimiter=comma\n"
        "/end_header\n1.0,0.5,2.0\n"
    )
    with pytest.raises(ValueError, match=r"dup\.sb.*depth"):
        read_seabass(spark, str(p))


def test_corpus_duplicate_stem_rejected(spark, tmp_path):
    """Two corpus files with the same stem in DIFFERENT directories
    must not silently pool into one dataset_id — loud catalog-time
    error naming both paths."""
    from ocdb_server_spark.sources.seabass import read_seabass_corpus

    (tmp_path / "a").mkdir()
    (tmp_path / "b").mkdir()
    pa = tmp_path / "a" / "site1.sb"
    pb = tmp_path / "b" / "site1.sb"
    pa.write_text(FIXTURE)
    pb.write_text(FIXTURE)
    with pytest.raises(ValueError, match="duplicate dataset stem"):
        read_seabass_corpus(spark, [str(pa), str(pb)])


def test_corpus_dataset_id_decodes_special_filenames(spark, tmp_path):
    """input_file_name() percent-encodes the URI ('my station.sb' →
    'my%20station.sb'); dataset_id must come back DECODED, and a
    literal '+' in the stem must survive (url_decode alone would
    form-decode it to a space)."""
    from ocdb_server_spark.sources.seabass import read_seabass_corpus

    p1 = tmp_path / "my station.sb"
    p2 = tmp_path / "a+b.sb"
    p1.write_text(FIXTURE)
    p2.write_text(FIXTURE2)
    ids = {
        r.dataset_id
        for r in read_seabass_corpus(spark, [str(p1), str(p2)])
        .select("dataset_id")
        .distinct()
        .collect()
    }
    assert ids == {"my station", "a+b"}


def test_ragged_body_row_maps_to_null(spark, tmp_path):
    """Under Spark 4's default ANSI mode a plain
    element_at THROWS on a short row, killing the whole ingest — the
    module's taxonomy says one bad cell maps to NULL."""
    from ocdb_server_spark.sources.seabass import read_seabass_raw

    p = tmp_path / "ragged.sb"
    p.write_text(
        "/begin_header\n/delimiter=comma\n/fields=a,b,c\n/end_header\n"
        "1,2,3\n4,5\n"  # second row is short one cell
    )
    rows = read_seabass_raw(spark, str(p)).orderBy("a").collect()
    assert [tuple(r) for r in rows] == [("1", "2", "3"), ("4", "5", None)]


def test_unknown_delimiter_raises(spark, tmp_path):
    """An unsupported /delimiter= token must raise, not fall back to
    comma silently and mask the real misconfiguration."""
    import pytest as _pytest

    from ocdb_server_spark.sources.seabass import read_seabass_raw

    p = tmp_path / "baddelim.sb"
    p.write_text(
        "/begin_header\n/delimiter=semicolon\n/fields=a,b\n/end_header\n1;2\n"
    )
    with _pytest.raises(ValueError, match="semicolon"):
        read_seabass_raw(spark, str(p))


def test_corpus_duplicate_path_reads_once(spark, tmp_path):
    """The same path listed twice (glob + explicit overlap) passes the
    stem guard; it must be read once, not double every record."""
    from ocdb_server_spark.sources.seabass import read_seabass_corpus

    p = tmp_path / "dup.sb"
    p.write_text(
        "/begin_header\n/delimiter=comma\n/fields=a,b\n/end_header\n"
        "1.0,2.0\n3.0,4.0\n"
    )
    once = read_seabass_corpus(spark, [str(p)]).count()
    twice = read_seabass_corpus(spark, [str(p), str(p)]).count()
    assert once == twice
