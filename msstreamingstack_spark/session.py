"""SparkSession factory and session-level configuration.

The reference configures its session at
``StructuredStreaming.scala:30-51`` (local master, shuffle.partitions=2,
connector hosts). Here the session is tuned for correctness-reproducible
local runs that still scale: AQE on, UTC timezone pinned (oracle
comparison), Arrow enabled for the pandas-UDF slow path, shuffle
partitions sized to cores rather than Spark's default 200.

Sessions built by ``get_spark`` also start their Python workers through
``worker_daemon`` (``spark.python.daemon.module``). Spark puts
``$SPARK_HOME``'s ``pyspark.zip``, py4j zip and ``spark-core`` jar ahead
of site-packages on the workers' path; every task then re-reads each
cached archive (``importlib.invalidate_caches()``) and every new daemon
compiles PySpark from source, a fixed cost paid by each state partition,
pandas/Arrow UDF task and first task of a session. The daemon drops the
archives when an installed PySpark of the same version is there. Both
confs are static: a session created elsewhere keeps Spark's daemon.

Spark starts that daemon lazily, at the first Python task, which for a
streaming query is the first micro-batch's state stage: its tasks wait
for the daemon and then for workers that import pandas, pyarrow and the
state kernel. So when ``get_spark`` creates a new SparkContext it also
runs a one-row ``mapInArrow`` job on a background thread, overlapping
the daemon's start (which preloads the kernel, see ``worker_daemon``)
with the caller's query construction, planning and first source read.
The warm-up is a SQL Arrow job on purpose: a background RDD job
(``sc.parallelize(...).map(...)``) starts a daemon of its own, and the
state stage's workers still start cold from a second one. Its failure
is ignored (a session stopped mid-warm-up): the first real Python task
then starts the daemon, as without the warm-up.

Streaming checkpoints (offsets, commits, state store files) are written
through Spark's ``FileSystemBasedCheckpointFileManager`` (a runtime conf,
so harness sessions get it too). Spark's default manager goes through
Hadoop's ``FileContext``, whose rename, on a host without the native
``libhadoop``, resolves links by forking ``/bin/readlink``: 64 of the 92
processes a ``backfill`` drain forked, run one after another on the
stream execution thread and in the state commit. ``FileSystem.rename``
resolves no links and is atomic on a local POSIX file system, and the
fallback manager writes the same files, so a checkpoint written by
either manager restarts under the other. Caveat: on HDFS,
``FileSystem.rename`` does not overwrite an existing target, which is
why Spark prefers ``FileContext`` there; every checkpoint location this
package builds is a local path.

The driver JVM's threads get an 8 MB stack (``-Xss8m``, put ahead of
the caller's ``spark.driver.extraJavaOptions``). ``StreamingQuery.stop()``
interrupts a stream execution thread that may be waiting on a
``foreachBatch`` call, and Spark's check of whether the resulting error
is an interruption (``StreamExecution.isInterruptionException``) runs a
recursive ``java.util.regex`` match over its message. On the JVM's
default 1 MB stack that match overflowed: the thread died with
``java.lang.StackOverflowError`` instead of stopping. In a repro that
stops a ``run_pipeline`` query while its sink sleeps or runs its
``toArrow`` job (``tests/test_clean_stop.py``), 3 MB still overflowed
and 4 MB did not; 8 MB is twice that. The option only takes effect
when it starts the JVM: a session created elsewhere (an external
``__spark_entry__`` driver, a SparkContext that existed before
``get_spark``) needs the same ``-Xss`` in its own driver Java options.
"""

from __future__ import annotations

import logging
import os
import threading

from pyspark import SparkContext
from pyspark.sql import SparkSession

# Confs that must hold on ANY session running this engine, including
# sessions created by an external harness and handed to us. All of these
# are runtime-settable SQL confs.
RUNTIME_CONFS: dict[str, str] = {
    # deterministic wall-clock-free comparisons against the DuckDB oracle
    "spark.sql.session.timeZone": "UTC",
    # Arrow for pandas_udf / applyInPandas / mapInPandas
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # runtime re-planning: partition coalescing, skew-join splitting
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # checkpoint files (offsets, commits, sources, metadata, state store)
    # through Spark's FileSystem fallback manager: without libhadoop the
    # default FileContext manager forks ``readlink`` 8 times per atomic
    # file, on the trigger's critical path. Same files (``.crc`` sidecars
    # included), atomic rename on a local POSIX file system; not for
    # HDFS, where ``FileSystem.rename`` does not overwrite (module
    # docstring).
    "spark.sql.streaming.checkpointFileManagerClass": (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager"
    ),
}


# driver thread stack size, for a clean ``StreamingQuery.stop()``
# (module docstring)
DRIVER_THREAD_STACK = "-Xss8m"


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply engine-required runtime confs to an externally-created session.

    Fails loud: a conf this engine depends on that cannot be set (or
    reads back different from what we set) raises, instead of leaving a
    silently-wrong session. Never rely on a conf changing *read
    behavior* (e.g. the dead ``nanosAsLong`` legacy conf on Spark 4) —
    code that cares about a read-back dtype must dispatch on the actual
    schema, as ``sources.tables.events_with_time`` does.
    """
    problems: list[str] = []
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
            got = spark.conf.get(k, None)
        except Exception as exc:  # non-settable on this build
            problems.append(f"{k}={v!r}: {exc}")
            continue
        if got != v:
            problems.append(f"{k}: set {v!r} but session reports {got!r}")
    if problems:
        raise RuntimeError(
            "engine-required Spark confs could not be applied: "
            + "; ".join(problems)
        )
    return spark


# the directory holding this package, so Python workers started from any
# working directory can import the engine (and ``worker_daemon``)
PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def _pass_through(batches):
    yield from batches


def _warm_python_workers(spark: SparkSession) -> None:
    """Start the Python worker daemon with a one-row Arrow job; any
    failure (the session stopped meanwhile) leaves it to the first task."""
    try:
        spark.range(1, numPartitions=1).mapInArrow(_pass_through, "id long").collect()
    except Exception:
        logging.getLogger(__name__).debug("Python worker warm-up failed", exc_info=True)


def get_spark(
    app_name: str = "msstreamingstack_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a local SparkSession tuned for this engine.

    On a real cluster the same confs apply; only ``master`` changes —
    pass ``extra_conf`` or pre-create the session and call
    ``apply_runtime_confs``. A call that creates the SparkContext starts
    the Python workers in the background (module docstring).
    ``DRIVER_THREAD_STACK`` goes ahead of any
    ``spark.driver.extraJavaOptions`` in ``extra_conf``, so the caller's
    options are kept and a caller's own ``-Xss`` wins.
    """
    cpus = cpus or default_parallelism()
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.ui.enabled", "false")
        # one JVM hosts all ``cpus`` executor threads in local mode — size
        # the heap so shuffle/broadcast buffers don't turn into GC churn
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
        .config("spark.executorEnv.PYTHONPATH", PACKAGE_PARENT)
        .config("spark.python.daemon.module", "msstreamingstack_spark.worker_daemon")
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    conf = dict(extra_conf or {})
    java_opts = conf.pop("spark.driver.extraJavaOptions", "")
    builder = builder.config(
        "spark.driver.extraJavaOptions", f"{DRIVER_THREAD_STACK} {java_opts}".rstrip()
    )
    for k, v in conf.items():
        builder = builder.config(k, v)
    new_context = SparkContext._active_spark_context is None
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    apply_runtime_confs(spark)
    if new_context:
        threading.Thread(
            target=_warm_python_workers, args=(spark,), name="warm-python-workers", daemon=True
        ).start()
    return spark
