"""The Python worker daemon (pageindex_daemon.py): the Spark-free path
filter, and Spark's workers running on the installed pyspark."""

import os
import zipfile

import pageindex_daemon as D


def _version_py(v: str) -> str:
    return f"__version__: str = '{v}'\n"


def _layout(tmp_path, zipped: str, installed: str | None):
    """A fake $SPARK_HOME (reached through a symlink, as an installed Spark often is)
    plus a site dir holding pyspark ``installed`` and py4j; returns
    (spark_home, worker sys.path, user --py-files zip)."""
    real = tmp_path / "spark-4.x-bin"
    (real / "python" / "lib").mkdir(parents=True)
    (real / "jars").mkdir()
    with zipfile.ZipFile(real / "python" / "lib" / "pyspark.zip", "w") as z:
        z.writestr("pyspark/__init__.py", "")
        z.writestr("pyspark/version.py", _version_py(zipped))
    with zipfile.ZipFile(real / "python" / "lib" / "py4j-0.10.9.9-src.zip", "w") as z:
        z.writestr("py4j/__init__.py", "")
    with zipfile.ZipFile(real / "jars" / "spark-core_2.13-4.x.jar", "w") as z:
        z.writestr("org/apache/spark/Dummy.class", "")
    home = tmp_path / "spark"
    home.symlink_to(real)
    site = tmp_path / "site"
    (site / "py4j").mkdir(parents=True)
    (site / "py4j" / "__init__.py").write_text("")
    if installed is not None:
        (site / "pyspark").mkdir()
        (site / "pyspark" / "__init__.py").write_text("")
        (site / "pyspark" / "version.py").write_text(_version_py(installed))
    user_zip = tmp_path / "userFiles" / "pageindex_spark.zip"
    user_zip.parent.mkdir()
    with zipfile.ZipFile(user_zip, "w") as z:
        z.writestr("pageindex_spark/__init__.py", "")
    path = [
        str(tmp_path),
        str(user_zip),
        str(home / "python" / "lib" / "pyspark.zip"),
        str(home / "python" / "lib" / "py4j-0.10.9.9-src.zip"),
        str(real / "jars" / "spark-core_2.13-4.x.jar"),
        str(site),
    ]
    return str(home), path, str(user_zip)


def test_worker_path_drops_only_sparks_archives(tmp_path):
    home, path, user_zip = _layout(tmp_path, "4.1.2", "4.1.2")
    assert D.worker_path(path, home) == [str(tmp_path), user_zip, str(tmp_path / "site")]


def test_worker_path_unchanged_unless_same_pyspark_installed(tmp_path):
    home, path, _ = _layout(tmp_path / "a", "4.1.2", "4.0.0")
    assert D.worker_path(path, home) is path  # versions differ
    home, path, _ = _layout(tmp_path / "b", "4.1.2", None)
    assert D.worker_path(path, home) is path  # no installed pyspark
    assert D.worker_path(path, None) is path  # no SPARK_HOME


def test_workers_import_installed_pyspark(spark):
    """A mapInArrow task runs on the installed pyspark, and its importer
    cache holds no zipimporter for Spark's zips or jar: the per-task
    importlib.invalidate_caches() has no archive to re-read."""
    import json

    import pyarrow as pa

    def report(batches):
        import sys
        import zipimport

        import pyspark

        for _ in batches:
            zips = [
                k for k, v in sys.path_importer_cache.items()
                if isinstance(v, zipimport.zipimporter)
            ]
            yield pa.RecordBatch.from_pylist(
                [{"r": json.dumps({"pyspark": pyspark.__file__, "zips": zips})}]
            )

    from pyspark.find_spark_home import _find_spark_home

    rows = spark.range(0, 2, 1, 2).mapInArrow(report, "r string").collect()
    assert len(rows) == 2
    home = os.path.realpath(_find_spark_home())
    for row in rows:
        got = json.loads(row.r)
        assert os.path.isfile(got["pyspark"]), got["pyspark"]
        spark_zips = [
            z for z in got["zips"]
            if os.path.realpath(z.split(".zip")[0].split(".jar")[0]).startswith(home)
        ]
        assert not spark_zips, spark_zips
