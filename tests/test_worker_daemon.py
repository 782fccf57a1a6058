"""The Python worker daemon: its path rule (``worker_daemon.worker_path``)
over fake Spark archives, and one probe of what a worker under
``get_spark`` imports."""

from __future__ import annotations

import zipfile

import pyarrow as pa
import pyspark
import pytest

from etl_gardener_spark.worker_daemon import worker_path

PYSPARK_V, PY4J_V = "4.1.2", "0.10.9.9"


def _zip(path, files: dict[str, str]) -> str:
    with zipfile.ZipFile(path, "w") as zf:
        for name, text in files.items():
            zf.writestr(name, text)
    return str(path)


def _unpacked(root, versions: dict[str, str]) -> str:
    """A site directory holding each package with its version.py."""
    for pkg, version in versions.items():
        d = root / pkg
        d.mkdir(parents=True)
        (d / "__init__.py").write_text("")
        (d / "version.py").write_text(f'__version__: str = "{version}"\n')
    return str(root)


@pytest.fixture
def archives(tmp_path):
    """Spark's three archives, a user zip and an empty working directory,
    in the order Spark puts them on a worker's path."""
    lib = tmp_path / "lib"
    lib.mkdir()
    work = tmp_path / "work"
    work.mkdir()
    spark = [
        _zip(lib / "pyspark.zip", {
            "pyspark/__init__.py": "",
            "pyspark/version.py": f'__version__: str = "{PYSPARK_V}"\n',
        }),
        _zip(lib / "py4j-0.10.9.9-src.zip", {
            "py4j/__init__.py": "",
            "py4j/version.py": f"__version__ = '{PY4J_V}'\n",
        }),
        _zip(tmp_path / "spark-core_2.13-4.1.2.jar", {
            "META-INF/MANIFEST.MF": "",
            "org/apache/spark/SparkContext.class": "",
        }),
    ]
    user = _zip(tmp_path / "deps.zip", {"mymod.py": "X = 1\n"})
    return tmp_path, [str(work), *spark, user]


def test_matching_versions_drop_spark_archives(archives):
    tmp_path, head = archives
    site = _unpacked(tmp_path / "site", {"pyspark": PYSPARK_V, "py4j": PY4J_V})
    path = [*head, site, str(tmp_path / "stdlib")]
    assert worker_path(path) == [head[0], head[-1], site, path[-1]]


@pytest.mark.parametrize(
    "versions",
    [
        {"pyspark": "4.1.1", "py4j": PY4J_V},
        {"pyspark": PYSPARK_V, "py4j": "0.10.9.7"},
        {"pyspark": PYSPARK_V},
        {"py4j": PY4J_V},
    ],
    ids=["pyspark_mismatch", "py4j_mismatch", "no_py4j", "no_pyspark"],
)
def test_path_unchanged_without_matching_unpacked_copies(archives, versions):
    tmp_path, head = archives
    path = [*head, _unpacked(tmp_path / "site", versions)]
    assert worker_path(path) == path


def test_worker_imports_unpacked_pyspark(spark):
    """One task under get_spark: pyspark comes from outside every archive,
    at the driver's version, and no zipimporter is cached."""

    def probe(batches):
        import sys
        import zipimport

        import pyspark as wp

        for _b in batches:
            pass
        zipped = any(
            isinstance(f, zipimport.zipimporter)
            for f in sys.path_importer_cache.values()
        )
        yield pa.RecordBatch.from_pydict(
            {"file": [wp.__file__], "version": [wp.__version__],
             "zipped": [zipped]}
        )

    (row,) = spark.range(1).coalesce(1).mapInArrow(
        probe, "file string, version string, zipped boolean"
    ).collect()
    assert ".zip" not in row.file and ".jar" not in row.file, row.file
    assert row.version == pyspark.__version__
    assert not row.zipped
