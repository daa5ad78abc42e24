"""The Python-worker daemon takes exactly Spark's own archives off the
worker path, and only when the installed packages can replace them."""

from __future__ import annotations

import os
import zipfile

import pytest

from pyproj_spark import worker_daemon as wd

LIB = "/spark/python/lib"
SPARK = [f"{LIB}/pyspark.zip", f"{LIB}/py4j-0.10.9.9-src.zip",
         "/spark/jars/spark-core_2.13-4.1.2.jar"]
PATH = ["/work", SPARK[0], SPARK[1], SPARK[2], "/work/deps.zip",
        "/site-packages"]
BUNDLED = {"pyspark": "4.1.2", "py4j": "0.10.9.9"}


@pytest.mark.parametrize("installed, gone", [
    ({"pyspark": "4.1.2", "py4j": "0.10.9.9"}, SPARK),
    ({"pyspark": None, "py4j": "0.10.9.9"}, []),
    ({"pyspark": "4.0.1", "py4j": "0.10.9.9"}, []),
    ({"pyspark": "4.1.2", "py4j": None}, []),
])
def test_spark_archives_on_fake_path(installed, gone):
    assert wd.spark_archives(list(PATH), installed, BUNDLED) == gone


def _tree(root, installed_pyspark):
    """A Spark lib dir with its three archives, a user zip, and a
    site dir holding pyspark ``installed_pyspark`` and py4j."""
    lib, site = root / "lib", root / "site"
    lib.mkdir()
    for pkg, version in (("pyspark", installed_pyspark),
                         ("py4j", "0.10.9.9")):
        (site / pkg).mkdir(parents=True)
        (site / pkg / "__init__.py").write_text("")
        (site / pkg / "version.py").write_text(f"__version__ = '{version}'\n")
    archives = {"pyspark.zip": "pyspark/version.py",
                "py4j-0.10.9.9-src.zip": "py4j/version.py",
                "spark-core_2.13-4.1.2.jar": "org/x.class",
                "deps.zip": "deps/__init__.py"}
    for name, member in archives.items():
        with zipfile.ZipFile(lib / name, "w") as z:
            z.writestr(member, "__version__: str = '4.1.2'\n")
    return [str(root)] + [str(lib / n) for n in archives] + [str(site)]


@pytest.mark.parametrize("installed_pyspark, stripped", [
    ("4.1.2", True), ("4.0.1", False)])
def test_strip_edits_path_and_importer_cache(tmp_path, installed_pyspark,
                                             stripped):
    path = _tree(tmp_path, installed_pyspark)
    spark_zips = path[1:4]
    cache = {e: object() for e in path}
    cache[os.path.join(spark_zips[0], "pyspark", "sql", "")] = object()
    before_path, before_cache = list(path), dict(cache)
    removed = wd.strip_spark_archives(path, cache)
    if not stripped:
        assert removed == [] and path == before_path
        assert cache.keys() >= before_cache.keys()
        return
    assert removed == spark_zips
    assert path == [e for e in before_path if e not in spark_zips]
    assert not [k for k in cache
                if any(k.startswith(z) for z in spark_zips)]
    assert str(tmp_path / "lib" / "deps.zip") in cache


def test_udf_worker_holds_no_zipimporter(spark):
    from pyspark.sql import functions as F
    from pyspark.sql.functions import arrow_udf

    @arrow_udf("string")
    def report(x):
        import sys
        import zipimport

        import pyarrow as pa
        import pyspark
        n = sum(isinstance(v, zipimport.zipimporter)
                for v in sys.path_importer_cache.values())
        return pa.array([f"{n}|{pyspark.__file__}"] * len(x))

    import pyspark
    n, where = spark.range(1).select(report(F.col("id"))).first()[0].split(
        "|", 1)
    # the worker runs the same installed pyspark as this driver
    assert (n, where) == ("0", pyspark.__file__)
