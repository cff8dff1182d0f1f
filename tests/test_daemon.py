"""Python workers start from `ocdb_server_spark.daemon`: pyspark comes
from its directory install, not from Spark's zip archives, which every
task would otherwise re-read; and workers import the package whatever
the driver's working directory."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import zipfile

import pytest

from ocdb_server_spark._vendor import PACKAGE_ROOT
from ocdb_server_spark.daemon import _is_spark_archive, spark_free_path


def test_workers_import_pyspark_outside_spark_archives(spark):
    """In a mapInArrow task (after the per-task invalidate_caches), the
    worker's pyspark is a plain file and no zipimporter on a Spark
    .zip/.jar is cached, so no task re-reads an archive directory."""

    def worker_view(it):  # nested: pickled by value, not by module name
        import sys
        import zipimport

        import pyarrow as pa
        import pyspark

        zips = sorted(
            v.archive
            for v in sys.path_importer_cache.values()
            if isinstance(v, zipimport.zipimporter)
        )
        for _ in it:
            yield pa.RecordBatch.from_pylist([{"pyspark": pyspark.__file__, "zips": zips}])

    rows = (
        spark.range(4, numPartitions=2)
        .mapInArrow(worker_view, "pyspark string, zips array<string>")
        .collect()
    )
    assert len(rows) == 2
    for r in rows:
        assert os.path.isfile(r.pyspark), r.pyspark
        assert [z for z in r.zips if _is_spark_archive(z)] == [], r.zips


def test_package_import_does_not_import_pyspark():
    """`python -m ocdb_server_spark.daemon` imports the package first;
    if that imported pyspark, it would come from the archives."""
    out = subprocess.run(
        [
            sys.executable,
            "-c",
            "import sys, ocdb_server_spark.daemon; print('pyspark' in sys.modules)",
        ],
        cwd=PACKAGE_ROOT,
        capture_output=True,
        text=True,
        check=True,
    )
    assert out.stdout.strip() == "False"


def _layout(tmp_path, *, local_pyspark=True, local_version="4.1.2", py4j=True):
    """A Spark home whose archives hold pyspark 4.1.2, plus a
    site-packages directory shaped by the flags; returns the path list
    Spark gives its workers."""
    lib = tmp_path / "spark" / "python" / "lib"
    jars = tmp_path / "spark" / "jars"
    lib.mkdir(parents=True)
    jars.mkdir()
    with zipfile.ZipFile(lib / "pyspark.zip", "w") as z:
        z.writestr("pyspark/__init__.py", "")
        z.writestr("pyspark/version.py", "__version__: str = '4.1.2'\n")
    with zipfile.ZipFile(lib / "py4j-0.10.9.9-src.zip", "w") as z:
        z.writestr("py4j/__init__.py", "")
    with zipfile.ZipFile(jars / "spark-core_2.13-4.1.2.jar", "w") as z:
        z.writestr("META-INF/MANIFEST.MF", "")
    site = tmp_path / "site-packages"
    site.mkdir()
    if local_pyspark:
        (site / "pyspark").mkdir()
        (site / "pyspark" / "__init__.py").write_text("")
        (site / "pyspark" / "version.py").write_text(
            f'__version__: str = "{local_version}"\n'
        )
    if py4j:
        (site / "py4j").mkdir()
        (site / "py4j" / "__init__.py").write_text("")
    cwd = tmp_path / "cwd"
    cwd.mkdir()
    return [
        str(cwd),
        str(lib / "pyspark.zip"),
        str(lib / "py4j-0.10.9.9-src.zip"),
        str(jars / "spark-core_2.13-4.1.2.jar"),
        str(site),
    ]


def test_spark_free_path_drops_archives_when_directory_install_matches(tmp_path):
    path = _layout(tmp_path)
    assert spark_free_path(path) == [path[0], path[4]]


@pytest.mark.parametrize(
    "flags",
    [
        {"local_pyspark": False},
        {"local_version": "4.1.1"},
        {"py4j": False},
    ],
    ids=["pyspark-only-in-archive", "version-mismatch", "py4j-missing"],
)
def test_spark_free_path_fallbacks_keep_path(tmp_path, flags):
    path = _layout(tmp_path, **flags)
    assert spark_free_path(path) == path


def test_spark_free_path_without_archives_is_unchanged(tmp_path):
    path = _layout(tmp_path)
    plain = [path[0], path[4]]
    assert spark_free_path(plain) == plain


def test_workers_find_package_outside_its_directory(tmp_path, sf_dir, duck):
    """A driver whose working directory cannot import the package still
    runs op195, whose kernels workers import by module name."""
    from ocdb_server_spark.registry import REGISTRY, load_all

    load_all()
    script = f"""
import json, sys
sys.path.insert(0, {PACKAGE_ROOT!r})
from ocdb_server_spark.registry import REGISTRY, load_all
from ocdb_server_spark.session import get_spark
spark = get_spark(master="local[2]")
spark.sparkContext.setLogLevel("ERROR")
load_all()
df = REGISTRY["op195_wav_decode_features"].fn(spark, {sf_dir!r})
print(json.dumps(len(df.collect())))
spark.stop()
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    want = len(duck.execute(REGISTRY["op195_wav_decode_features"].oracle).fetchall())
    assert json.loads(out.stdout.strip().splitlines()[-1]) == want > 0
