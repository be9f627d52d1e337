"""Session factory: Python workers find the engine and the installed PySpark."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
import zipfile

import pytest

from msstreamingstack_spark.worker_daemon import pyspark_version, worker_path

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ARCHIVES = ["/spark/python/lib/pyspark.zip", "/spark/jars/spark-core.jar"]
PATH = ["/work", *ARCHIVES, "/py/site-packages"]


@pytest.mark.parametrize(
    "archive_version, installed_version, expected",
    [
        ("4.1.2", "4.1.2", ["/work", "/py/site-packages"]),
        ("4.1.2", None, PATH),  # no installed PySpark resolves
        ("4.1.2", "4.0.1", PATH),  # installed PySpark of another version
    ],
)
def test_worker_path_drops_archives_only_for_matching_install(
    archive_version, installed_version, expected
):
    assert worker_path(PATH, ARCHIVES, archive_version, installed_version) == expected


def test_pyspark_version_reads_archive_and_directory(tmp_path):
    src = "__version__: str = '9.8.7'\n"
    (tmp_path / "site" / "pyspark").mkdir(parents=True)
    (tmp_path / "site" / "pyspark" / "__init__.py").write_text("")
    (tmp_path / "site" / "pyspark" / "version.py").write_text(src)
    with zipfile.ZipFile(tmp_path / "pyspark.zip", "w") as z:
        z.writestr("pyspark/__init__.py", "")
        z.writestr("pyspark/version.py", src)
    assert pyspark_version([str(tmp_path / "site")]) == "9.8.7"
    assert pyspark_version([str(tmp_path / "pyspark.zip")]) == "9.8.7"
    assert pyspark_version([str(tmp_path / "empty")]) is None


def test_python_tasks_import_installed_pyspark(spark):
    """A task's PySpark comes from a directory, and no archive of Spark's
    sits in the importer cache for ``invalidate_caches()`` to re-read."""

    def probe(batches):
        import os
        import sys
        import zipimport

        import pandas as pd
        import pyspark

        zips = [
            v.archive for v in sys.path_importer_cache.values()
            if isinstance(v, zipimport.zipimporter)
        ]
        for _ in batches:
            yield pd.DataFrame({
                "pyspark": [pyspark.__file__],
                "spark_home": [os.path.realpath(os.environ.get("SPARK_HOME", ""))],
                "zips": [os.pathsep.join(os.path.realpath(z) for z in zips)],
            })

    row = (
        spark.range(1, numPartitions=1)
        .mapInPandas(probe, "pyspark string, spark_home string, zips string")
        .collect()[0]
    )
    assert os.path.isfile(row.pyspark), row.pyspark
    zips = [z for z in row.zips.split(os.pathsep) if z]
    home = row.spark_home + os.sep
    assert not [z for z in zips if z.startswith(home) or z.endswith(".jar")], zips


def _run_driver(src: str, tmp_path) -> subprocess.CompletedProcess:
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEM"] = "1g"
    return subprocess.run(
        [sys.executable, "-c", src, REPO],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )


DRIVER = textwrap.dedent("""
    import sys
    sys.path.insert(0, sys.argv[1])
    import numpy as np
    from msstreamingstack_spark.session import get_spark
    from msstreamingstack_spark.streaming import stateful

    def ffill(batches):
        for pdf in batches:
            mark = (pdf["id"] % 4 == 0).to_numpy()
            yield pdf.assign(v=stateful._ffill(mark, pdf["id"].to_numpy()))

    spark = get_spark(app_name="cwd-probe", cpus=1)
    rows = spark.range(10, numPartitions=1).mapInPandas(ffill, "id long, v long").collect()
    assert [r.v for r in rows] == [0, 0, 0, 0, 4, 4, 4, 4, 8, 8], rows
    print("rows", len(rows))
""")


def test_workers_import_engine_from_any_working_directory(tmp_path):
    out = _run_driver(DRIVER, tmp_path)
    assert out.returncode == 0, out.stderr[-3000:]
    assert "rows 10" in out.stdout


PRELOAD_DRIVER = textwrap.dedent("""
    import sys
    sys.path.insert(0, sys.argv[1])
    from msstreamingstack_spark.session import get_spark

    def probe(batches):
        import sys
        warm = "msstreamingstack_spark.streaming.stateful" in sys.modules
        pa = sys.modules["pyarrow"]  # loaded by the worker for Arrow I/O
        for _ in batches:
            yield pa.RecordBatch.from_pydict({"warm": [warm]})

    spark = get_spark(app_name="preload-probe", cpus=1)
    (row,) = spark.range(1, numPartitions=1).mapInArrow(probe, "warm boolean").collect()
    print("kernel preloaded", row.warm)
""")


def test_python_workers_start_with_the_state_kernel_loaded(tmp_path):
    """A task of a fresh ``get_spark`` session runs in a worker that
    already holds ``streaming.stateful`` (imported by the daemon it was
    forked from), before the task's own code imports anything."""
    out = _run_driver(PRELOAD_DRIVER, tmp_path)
    assert out.returncode == 0, out.stderr[-3000:]
    assert "kernel preloaded True" in out.stdout, out.stdout


STOP_DRIVER = textwrap.dedent("""
    import sys
    sys.path.insert(0, sys.argv[1])
    from pyspark.sql import functions as F
    from msstreamingstack_spark.session import get_spark

    spark = get_spark(app_name="stop-probe", cpus=1)
    spark.stop()  # while the worker warm-up is still in flight
    spark = get_spark(app_name="stop-probe-2", cpus=1)
    double = F.udf(lambda x: 2 * x, "long")
    rows = spark.range(4, numPartitions=1).select(double("id").alias("v")).collect()
    print("doubled", [r.v for r in rows])
    spark.stop()
""")


def test_stop_during_worker_warm_up_is_quiet_and_restartable(tmp_path):
    """Stopping a session at once cancels its background warm-up job
    without an error from that thread, and the next session's Python
    UDFs still run."""
    out = _run_driver(STOP_DRIVER, tmp_path)
    assert out.returncode == 0, out.stderr[-3000:]
    assert "doubled [0, 2, 4, 6]" in out.stdout, out.stdout
    # an uncaught error would print "Exception in thread <name>"
    assert "warm-python-workers" not in out.stderr, out.stderr[-3000:]
