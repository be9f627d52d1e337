"""msstreamingstack_spark — a PySpark-native analytics engine.

A from-scratch rebuild of the capabilities of the reference engine
``krohit-scala/MSStreamingStack`` (a Scala/Spark-2.3 stateful streaming
clickstream-sessionization stack; see SURVEY.md), re-expressed as an
idiomatic PySpark 3.5+/4.x DataFrame engine:

- declared schemas (never inferred in the engine path)
- batch + streaming share one expression/operator library
- state lives in Spark's state store (``applyInPandasWithState``),
  not an external cache round-trip
- one streaming query with ``foreachBatch`` fan-out instead of five
  concurrent queries re-reading the source
- extension operators for large-scale training-data pipelines
  (dedup, similarity search, text analysis, multimodal plumbing)

Layout:
    session.py    — SparkSession factory tuned for the harness
    worker_daemon.py — Python worker daemon on the installed PySpark
    schemas.py    — declared StructTypes (clickstream/state/output + testdata)
    sources/      — table loaders, event generator, Python data sources
    sinks/        — console/parquet/memory foreachBatch sinks; external stubs
    functions/    — expression library (scalar derivations, text, vectors)
    operators/    — batch operators (sessionize, state, dedup, similarity…)
    plans/        — plan-inspection helpers (pushdown/broadcast assertions)
    streaming/    — stateful streaming pipeline (T1-T4 of SURVEY.md §2.6)
    queries.py    — named query registry driving __spark_entry__.py
"""

__version__ = "0.1.0"
