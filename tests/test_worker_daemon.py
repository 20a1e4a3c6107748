"""chatbot_spark.worker_daemon: Python workers import pyspark from its
directory install, not from Spark's zip archives."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
import zipfile

from chatbot_spark.worker_daemon import without_spark_archives

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _files(base, files: dict[str, str]) -> str:
    for name, text in files.items():
        path = os.path.join(base, name)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            f.write(text)
    return str(base)


def _archive(path, files: dict[str, str]) -> str:
    with zipfile.ZipFile(path, "w") as z:
        for name, text in files.items():
            z.writestr(name, text)
    return str(path)


def _version(v: str) -> dict[str, str]:
    return {"pyspark/__init__.py": "", "pyspark/version.py": f"__version__: str = '{v}'\n"}


def test_path_filter_drops_spark_archives_only_at_matching_version(tmp_path):
    spark_zip = _archive(tmp_path / "pyspark.zip", _version("9.9.1"))
    py4j_zip = _archive(tmp_path / "py4j-src.zip", {"py4j/__init__.py": ""})
    jar = _archive(tmp_path / "spark-core.jar", {"org/apache/Spark.class": ""})
    user_zip = _archive(tmp_path / "user.zip", {"mylib/__init__.py": ""})
    missing_zip = str(tmp_path / "python3x.zip")
    cwd = _files(tmp_path / "cwd", {"job.py": ""})
    py4j = {"py4j/__init__.py": ""}
    site = _files(tmp_path / "site", {**_version("9.9.1"), **py4j})
    path = [cwd, spark_zip, py4j_zip, jar, user_zip, missing_zip, site]

    assert without_spark_archives(path) == [cwd, user_zip, missing_zip, site]

    stale = _files(tmp_path / "stale", {**_version("9.9.0"), **py4j})
    no_py4j = _files(tmp_path / "no_py4j", _version("9.9.1"))
    for failing in (
        [cwd, spark_zip, py4j_zip, jar, stale],  # directory pyspark at another version
        [cwd, spark_zip, py4j_zip, jar, no_py4j],  # no directory py4j
        [cwd, py4j_zip, jar, site],  # no archived pyspark to compare against
        [cwd, spark_zip, py4j_zip, jar],  # no directories at all
    ):
        assert without_spark_archives(failing) == failing


def test_workers_import_the_drivers_pyspark(spark):
    import pyspark

    def probe(_):
        import os
        import sys
        import zipimport

        import pyspark

        archives = [
            p for p in sys.path if p.endswith((".zip", ".jar")) and os.path.isfile(p)
        ]
        zipimporters = [
            k for k, v in sys.path_importer_cache.items() if isinstance(v, zipimport.zipimporter)
        ]
        yield pyspark.__file__, archives, zipimporters

    [(worker_pyspark, archives, zipimporters)] = (
        spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect()
    )
    assert archives == []
    assert zipimporters == []
    assert worker_pyspark == pyspark.__file__


def test_session_outside_repo_without_pythonpath_runs_python_udf(tmp_path):
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {ROOT!r})
        from pyspark.sql import functions as F
        from chatbot_spark.session import get_spark

        spark = get_spark("daemon-cwd", master="local[1]", shuffle_partitions=1)
        plus_one = F.udf(lambda x: x + 1, "long")
        print("SUM", spark.range(10).select(plus_one("id").alias("v")).agg(F.sum("v")).first()[0])
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert "SUM 55" in out.stdout, out.stderr[-3000:]
