from msstreamingstack_spark.sinks.writers import (  # noqa: F401
    CollectingSink,
    cassandra_writer,
    console_sink,
    redis_writer,
)
