"""The Python worker daemon (hydra_spark/pydaemon.py): workers of a
get_spark session run without Spark's redundant archives on their import
path, and the trimming rule drops an archive only when nothing
importable is lost."""

import json
import os
import re
import subprocess
import sys
import zipfile

import pyarrow as pa
import pyspark

from hydra_spark.pydaemon import redundant
from tests.conftest import REPO

SPARK_ARCHIVE = re.compile(r"spark-core_[^/]*\.jar|pyspark\.zip|py4j-[^/]*-src\.zip")


def test_workers_import_without_spark_archives(spark):
    # nested, so cloudpickle ships it by value: pytest imports this file
    # under a module name the workers cannot import
    def report(batches):
        r = {
            "zipimporters": [k for k, v in sys.path_importer_cache.items() if type(v).__name__ == "zipimporter"],
            "file": pyspark.__file__,
            "version": pyspark.__version__,
        }
        for _ in batches:
            yield pa.RecordBatch.from_pylist([{"r": json.dumps(r)}])

    rows = spark.range(2, numPartitions=2).mapInArrow(report, "r string").collect()
    assert len(rows) == 2
    for row in rows:
        r = json.loads(row.r)
        assert not [k for k in r["zipimporters"] if SPARK_ARCHIVE.search(k)], r["zipimporters"]
        assert r["file"] == pyspark.__file__
        assert r["version"] == pyspark.__version__


def _zip(path, members):
    with zipfile.ZipFile(path, "w") as z:
        for name, data in members.items():
            z.writestr(name, data)
    return str(path)


def _site(root, py4j="0.10.9.9"):
    """An installed pyspark and py4j, as site-packages lays them out."""
    for pkg, version in (("pyspark", b"__version__: str = '4.1.2'\n"), ("py4j", f"__version__ = '{py4j}'\n".encode())):
        os.makedirs(root / pkg)
        (root / pkg / "__init__.py").write_text("")
        (root / pkg / "version.py").write_bytes(version)
    return str(root)


def _spark_lib(root, pyspark_version=b"__version__: str = '4.1.2'\n"):
    """Spark's pyspark.zip and py4j source zip."""
    os.makedirs(root)
    return [
        _zip(root / "pyspark.zip", {"pyspark/__init__.py": "", "pyspark/version.py": pyspark_version}),
        _zip(root / "py4j-0.10.9.9-src.zip", {"py4j/__init__.py": "", "py4j/version.py": "__version__ = '0.10.9.9'\n"}),
    ]


def test_jar_without_python_is_dropped(tmp_path):
    jar = _zip(tmp_path / "spark-core_2.13-4.1.2.jar", {"org/apache/spark/SparkContext.class": b"\xca\xfe"})
    with_py = _zip(tmp_path / "deps.zip", {"dep/__init__.py": ""})
    assert redundant([jar, with_py, str(tmp_path)]) == {jar}


def test_matching_pyspark_zip_drops_with_its_py4j(tmp_path):
    archives = _spark_lib(tmp_path / "lib")
    site = _site(tmp_path / "site")
    assert redundant(archives + [site]) == set(archives)
    # a different installed py4j keeps its zip
    other = _site(tmp_path / "site2", py4j="0.10.9.7")
    assert redundant(archives + [other]) == {archives[0]}


def test_pyspark_zip_differing_from_installed_is_kept(tmp_path):
    archives = _spark_lib(tmp_path / "lib", pyspark_version=b"__version__: str = '4.0.0'\n")
    site = _site(tmp_path / "site")
    assert redundant(archives + [site]) == set()


def test_nothing_dropped_without_installed_pyspark(tmp_path):
    archives = _spark_lib(tmp_path / "lib")
    os.makedirs(tmp_path / "empty")
    assert redundant(archives + [str(tmp_path / "empty")]) == set()


def test_package_import_leaves_pyspark_unloaded():
    # `python -m hydra_spark.pydaemon` imports the package first
    code = "import sys, hydra_spark; assert 'pyspark' not in sys.modules, sorted(sys.modules)"
    subprocess.run([sys.executable, "-c", code], cwd=REPO, check=True)
