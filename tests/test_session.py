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


def _checkpoint_manager(session, tmp_path) -> str:
    """Class of the manager Spark builds for a checkpoint of ``session``."""
    jvm = session._jvm
    checkpointing = jvm.org.apache.spark.sql.execution.streaming.checkpointing
    manager = checkpointing.CheckpointFileManager.create(
        jvm.org.apache.hadoop.fs.Path(str(tmp_path)),
        session._jsparkSession.sessionState().newHadoopConf(),
    )
    return manager.getClass().getSimpleName()


def test_checkpoints_use_the_file_system_manager(spark, tmp_path):
    """``get_spark`` sessions, and harness sessions after
    ``apply_runtime_confs``, write checkpoints through the FileSystem
    manager; a Spark that renames the class fails here, not at every
    query start."""
    from msstreamingstack_spark.session import apply_runtime_confs

    assert _checkpoint_manager(spark, tmp_path) == "FileSystemBasedCheckpointFileManager"
    vanilla = spark.newSession()
    vanilla.conf.unset("spark.sql.streaming.checkpointFileManagerClass")
    assert _checkpoint_manager(vanilla, tmp_path) == "FileContextBasedCheckpointFileManager"
    apply_runtime_confs(vanilla)
    assert _checkpoint_manager(vanilla, tmp_path) == "FileSystemBasedCheckpointFileManager"


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


def _environment_keys(tree) -> tuple[set, list]:
    """Literal keys read through ``os.environ`` / ``os.getenv`` in one
    parsed module, and the line numbers of reads whose key is not a
    string literal (those would hide a knob from the pin below)."""
    import ast

    def is_environ(node) -> bool:
        return (isinstance(node, ast.Attribute) and node.attr == "environ") or (
            isinstance(node, ast.Name) and node.id == "environ"
        )

    keys, dynamic = set(), []
    for node in ast.walk(tree):
        key = None
        if isinstance(node, ast.Subscript) and is_environ(node.value):
            key = node.slice
        elif isinstance(node, ast.Call) and node.args and (
            (isinstance(node.func, ast.Attribute) and is_environ(node.func.value))
            or getattr(node.func, "attr", getattr(node.func, "id", None)) == "getenv"
        ):
            key = node.args[0]
        elif isinstance(node, ast.Compare) and any(is_environ(c) for c in node.comparators):
            key = node.left
        if key is None:
            continue
        if isinstance(key, ast.Constant) and isinstance(key.value, str):
            keys.add(key.value)
        else:
            dynamic.append(node.lineno)
    return keys, dynamic


def test_environment_knobs_are_pinned():
    """The package reads exactly these environment variables. Two are
    the engine's own knobs (``SPARK_GRAFT_CPUS``, ``SPARK_GRAFT_SF_DIR``);
    ``SPARK_DRIVER_MEM`` is the deployment's driver heap and
    ``SPARK_HOME`` locates the distribution's archives for
    ``worker_daemon``. A change that adds or drops one updates this set
    and says so. No Spark session: the modules are only parsed."""
    import ast
    import pathlib

    keys, dynamic = set(), {}
    for path in sorted(pathlib.Path(REPO, "msstreamingstack_spark").rglob("*.py")):
        k, d = _environment_keys(ast.parse(path.read_text()))
        keys |= k
        if d:
            dynamic[str(path)] = d
    assert not dynamic, f"environment reads with a non-literal key: {dynamic}"
    assert keys == {
        "SPARK_GRAFT_CPUS", "SPARK_GRAFT_SF_DIR", "SPARK_DRIVER_MEM", "SPARK_HOME",
    }


IMPORT_PROBE = textwrap.dedent("""
    import os, sys, sysconfig
    repo = sys.argv[1] + os.sep
    paths = sysconfig.get_paths()
    stdlib, site = paths["stdlib"], (paths["purelib"], paths["platlib"])
    seen = []

    def opener(frame):
        # the first caller outside the standard library and the import system
        while frame is not None:
            f = frame.f_code.co_filename
            if not (f.startswith("<frozen") or (f.startswith(stdlib) and not f.startswith(site))):
                return f
            frame = frame.f_back
        return ""

    def audit(event, args):
        if event == "open" and isinstance(args[0], str):
            path = os.path.abspath(args[0])
            if path.startswith(repo) or opener(sys._getframe(1)).startswith(repo):
                seen.append(path)

    sys.path.insert(0, sys.argv[1])
    sys.addaudithook(audit)
    import msstreamingstack_spark.queries
    print("\\n".join(seen))
""")


def test_registry_import_reads_only_code(tmp_path):
    """Importing the registry builds every query and oracle from code
    alone: each file the import opens in the repository, or that the
    repository's code opens anywhere, is Python source, bytecode or an
    extension module, never a model or fixture file. A new interpreter,
    so modules other tests imported cannot hide an open; third-party
    packages reading their own data (pyspark's error classes) do not
    count. No Spark session."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    r = subprocess.run(
        [sys.executable, "-c", IMPORT_PROBE, REPO],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=120,
    )
    assert r.returncode == 0, r.stderr
    opened = r.stdout.splitlines()
    # the probe sees the package's own modules being read
    assert any(os.path.basename(p).startswith("queries.") for p in opened), opened
    data = [p for p in opened if not p.endswith((".py", ".pyc", ".so"))]
    assert not data, f"the registry import opened data files: {data}"



def test_every_package_import_resolves():
    """Each `from msstreamingstack_spark.X import a`, at any depth,
    in the package, the tests, perfbench or the entry point names a
    module that imports and defines `a` (or has `a` as a submodule).
    An import inside a function otherwise fails only when that code
    path runs. No Spark session."""
    import ast
    import importlib
    import pathlib

    def resolves(mod, name):
        if hasattr(importlib.import_module(mod), name):
            return True
        try:
            importlib.import_module(f"{mod}.{name}")
        except ModuleNotFoundError:
            return False
        return True

    root = pathlib.Path(REPO)
    files = [root / "__spark_entry__.py"]
    for d in ("msstreamingstack_spark", "tests", "perfbench"):
        files += sorted((root / d).rglob("*.py"))
    checked, broken = 0, []
    for path in files:
        for n in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(n, ast.ImportFrom) and not n.level and n.module:
                imports = [(n.module, [a.name for a in n.names])]
            elif isinstance(n, ast.Import):
                imports = [(a.name, []) for a in n.names]
            else:
                continue
            for mod, names in imports:
                if mod.split(".")[0] != "msstreamingstack_spark":
                    continue
                checked += 1
                where = f"{path.relative_to(root)}:{n.lineno}: {mod}"
                try:
                    missing = [a for a in names if not resolves(mod, a)]
                except ImportError as e:
                    broken.append(f"{where}: {e}")
                    continue
                if missing:
                    broken.append(f"{where} does not define {missing}")
    assert checked > 100, checked  # the walk found the package's imports
    assert not broken, "\n".join(broken)


def test_no_unused_module_imports():
    """Every module-level `import`/`from ... import` binding in the
    package and the entry point is used as a name somewhere in its
    module. A cut that deletes a name's last user leaves no import of
    it behind. `from __future__` imports and statements marked
    `# noqa` (the subpackages' re-exports, the registry's side-effect
    imports) are exempt. No Spark session."""
    import ast
    import pathlib

    root = pathlib.Path(REPO)
    files = [root / "__spark_entry__.py", *sorted((root / "msstreamingstack_spark").rglob("*.py"))]
    unused = []
    for path in files:
        src = path.read_text()
        lines = src.splitlines()
        tree = ast.parse(src, str(path))
        used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
        for n in tree.body:
            if not isinstance(n, (ast.Import, ast.ImportFrom)):
                continue
            if isinstance(n, ast.ImportFrom) and n.module == "__future__":
                continue
            for a in n.names:
                bound = a.asname or a.name.split(".")[0]
                noqa = "# noqa" in lines[n.lineno - 1] or "# noqa" in lines[a.lineno - 1]
                if bound not in used and not noqa:
                    unused.append(f"{path.relative_to(root)}:{a.lineno}: {bound}")
    assert len(files) > 20, files  # the walk found the package
    assert not unused, "imported but never used:\n" + "\n".join(unused)


# What only tests reach (``tests/caller_scan.py``'s second list), each
# with why it stays: a reference-contract adapter, a fixture or oracle of
# a test of kept code, a definition that goes with its family's stage, or
# package metadata. Delete a name here when its code goes.
TEST_ONLY = {
    "__version__": "metadata",
    "caching.live_slots": "fixture",
    "operators.quality_checks.check_in_set": "family",
    "operators.quality_checks.check_not_null": "family",
    "operators.zorder.write_zordered": "family",
    "operators.zorder.zvalue": "family",
    "plans.inspect.assert_scan_pruned": "fixture",
    "schemas.CLICKSTREAM_SCHEMA": "adapter",
    "sinks.layout.events_partitioned_by_day": "fixture",
    "sinks.layout.read_pruned_day": "family",
    "sinks.layout.write_partitioned": "fixture",
    "sinks.writers.CASSANDRA_PROCESSED_COLS": "adapter",
    "sinks.writers._cassandra_write_partition": "adapter",
    "sinks.writers._kafka_write_partition": "adapter",
    "sinks.writers.cassandra_insert_statements": "adapter",
    "sinks.writers.cassandra_row_writer": "adapter",
    "sinks.writers.kafka_records": "adapter",
    "sinks.writers.kafka_writer": "adapter",
    "streaming.pipeline.decode_kafka_events": "adapter",
    "streaming.pipeline.kafka_reader": "adapter",
    "streaming.pipeline.read_kafka_stream": "adapter",
}


def test_only_tests_reach_the_pinned_definitions():
    """No package definition is reached only by tests unless
    ``TEST_ONLY`` names it: a helper that loses its last non-test
    caller, or is added with none, fails here. No Spark session."""
    from tests.caller_scan import scan

    got = {f"{m}.{n}".removeprefix("msstreamingstack_spark.") for m, n in scan(REPO)["test_only"]}
    assert got == set(TEST_ONLY)
    assert set(TEST_ONLY.values()) <= {"adapter", "fixture", "family", "metadata"}
