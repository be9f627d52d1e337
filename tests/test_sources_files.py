"""Source and publish edges: event drops that gain columns, the
manifest-committed JSONL sink, and the ``export`` CLI that publishes a
registry query through either writer."""

from __future__ import annotations

import os

from pyspark.sql import functions as F


def test_event_drops_schema_evolution(spark, tmp_path):
    """Later drops may gain columns (crawlers add fields). The declared
    -schema streaming source must keep working (subset read ignores the
    new column); a batch read with mergeSchema surfaces it for
    consumers that want it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from msstreamingstack_spark.sinks.writers import CollectingSink

    d = tmp_path / "evo_drops"
    d.mkdir()

    def drop(name, ids, extra, mtime):
        cols = {
            "event_id": pa.array(ids, pa.int64()),
            "ts": pa.array([1_700_000_000_000_000_000 + i for i in ids], pa.int64()),
            "user_id": pa.array([i % 5 for i in ids], pa.int64()),
            "event_type": pa.array(["view"] * len(ids), pa.string()),
            "value": pa.array([float(i) for i in ids], pa.float64()),
            "props": pa.array(['{"k": 1}'] * len(ids), pa.string()),
        }
        if extra:
            cols["crawler_tag"] = pa.array(["v2"] * len(ids), pa.string())
        path = d / name
        pq.write_table(pa.table(cols), path)
        os.utime(path, (mtime, mtime))

    drop("a.parquet", [1, 2, 3], extra=False, mtime=1_700_000_000)
    drop("b.parquet", [4, 5], extra=True, mtime=1_700_000_010)

    from msstreamingstack_spark.streaming.pipeline import read_event_stream

    sink = CollectingSink()
    q = (
        read_event_stream(spark, str(d))
        .select("event_id", "ts_sec")
        .writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "cp_evo"))
        .foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert {r["event_id"] for r in sink.rows} == {1, 2, 3, 4, 5}

    merged = spark.read.option("mergeSchema", "true").parquet(str(d))
    assert "crawler_tag" in merged.columns
    assert merged.filter(F.col("crawler_tag").isNull()).count() == 3


def test_manifest_jsonl_sink_commit_protocol(spark, sf_smoke, tmp_path):
    """The Python DataSource writer publishes exactly the committed
    part files through _manifest.json: (a) round-trip equals the
    source rows; (b) an orphan file dropped into the directory (a
    failed/zombie attempt) is invisible to the manifest reader;
    (c) the manifest row count matches."""
    import json as _json
    import os as _os

    from msstreamingstack_spark.sources.pysink import (
        MANIFEST,
        ManifestJsonlDataSource,
        read_manifest_jsonl,
    )
    from msstreamingstack_spark.sources.tables import load_table

    spark.dataSource.register(ManifestJsonlDataSource)
    docs = load_table(spark, sf_smoke, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    path = str(tmp_path / "sink")
    docs.write.format("manifest_jsonl").mode("append").save(path)

    man = _json.load(open(_os.path.join(path, MANIFEST)))
    assert man["n_rows"] == docs.count()
    assert all(f.startswith("part-") for f in man["files"])

    # orphan from a hypothetical failed attempt: unlisted => invisible
    with open(_os.path.join(path, "part-deadbeef.jsonl"), "w") as fh:
        fh.write('{"doc_id": 999999, "text": "zombie", "lang": "xx", '
                 '"source": "zzz", "n_chars": 6}\n')

    back = read_manifest_jsonl(spark, path, docs.schema)
    got = sorted(map(tuple, back.select(*docs.columns).collect()))
    want = sorted(map(tuple, docs.collect()))
    assert got == want
    assert not any(r[0] == 999999 for r in got)


def test_manifest_jsonl_sink_append_merges_and_overwrite_replaces(
    spark, sf_smoke, tmp_path
):
    """Append to an already-committed directory MERGES the prior
    manifest (the second job must not orphan the first job's rows);
    overwrite REPLACES the manifest and removes the prior part files."""
    import json as _json
    import os as _os

    from msstreamingstack_spark.sources.pysink import (
        MANIFEST,
        ManifestJsonlDataSource,
        read_manifest_jsonl,
    )
    from msstreamingstack_spark.sources.tables import load_table

    spark.dataSource.register(ManifestJsonlDataSource)
    docs = load_table(spark, sf_smoke, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    first = docs.filter("doc_id % 2 = 0")
    second = docs.filter("doc_id % 2 = 1")
    path = str(tmp_path / "sink")

    first.write.format("manifest_jsonl").mode("append").save(path)
    second.write.format("manifest_jsonl").mode("append").save(path)
    man = _json.load(open(_os.path.join(path, MANIFEST)))
    assert man["n_rows"] == docs.count()
    back = read_manifest_jsonl(spark, path, docs.schema)
    assert sorted(map(tuple, back.select(*docs.columns).collect())) == sorted(
        map(tuple, docs.collect())
    )

    first.write.format("manifest_jsonl").mode("overwrite").save(path)
    man = _json.load(open(_os.path.join(path, MANIFEST)))
    assert man["n_rows"] == first.count()
    back = read_manifest_jsonl(spark, path, docs.schema)
    assert sorted(map(tuple, back.select(*docs.columns).collect())) == sorted(
        map(tuple, first.collect())
    )
    # prior part files are gone — the directory holds exactly the table
    on_disk = {
        f for f in _os.listdir(path) if f.startswith("part-")
    }
    assert on_disk == set(man["files"])


def test_export_cli_manifest_roundtrip(spark, tmp_path):
    """`export <query> --format manifest_jsonl` publishes the query
    result through the Python DataSource sink with a complete
    manifest; the parquet format publishes exactly the registry
    builder's rows."""
    import json as _json
    import os as _os

    from msstreamingstack_spark.__main__ import main as cli_main
    from msstreamingstack_spark.queries import REGISTRY
    from msstreamingstack_spark.sources.pysink import MANIFEST

    out = str(tmp_path / "exp")
    rc = cli_main([
        "export", "tpch_q1", "--sf-dir", "/root/testdata/sf0.001",
        "--out", out, "--format", "manifest_jsonl",
    ])
    assert rc == 0
    man = _json.load(open(_os.path.join(out, MANIFEST)))
    assert man["n_rows"] > 0 and man["files"]

    out = str(tmp_path / "exp_parquet")
    rc = cli_main([
        "export", "session_summary",
        "--sf-dir", "/root/testdata/sf0.001", "--out", out,
    ])
    assert rc == 0
    got = sorted(map(tuple, spark.read.parquet(out).collect()))
    want = REGISTRY["session_summary"].builder(
        spark, "/root/testdata/sf0.001"
    )
    assert got == sorted(map(tuple, want.collect())) and len(got) > 0
