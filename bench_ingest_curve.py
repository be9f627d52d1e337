#!/usr/bin/env python
"""Near-dup-gated ingest amortization curve: docs/sec vs micro-batch
size.

The near-dup-gated ingest's per-micro-batch cost is dominated by
FIXED machinery — the stream's shingle/minhash fold warm-up, the
persisted-store anti-join setup, the foreachBatch commit — so its
throughput should AMORTIZE with batch size until state-store growth
bites. Round-7 recorded a 97-361 docs/s band without controlling the
batch size; this bench measures the curve explicitly so the default
trigger sizing is a measured choice, not a guess.

Method: the sf0.1 documents table is replicated (disjoint ids,
replica-salted text) to N rows, written as
ceil(N / B) parquet files of ~B docs each, and drained with
maxFilesPerTrigger=1 — so every micro-batch processes ~B documents
through the FULL near-dup-gated path (quality gates, watermarked
exact dedup, decontamination, persisted MinHash signature store).

Prints ONE JSON line:
  {"metric": "neardup_ingest_amortization", "unit": "rows/sec",
   "curve": {"1000": r, "2500": r, "10000": r, "25000": r},
   "rows": N, "default_batch": B*, "sf": 0.1}
where default_batch is the smallest measured size within 10% of the
peak throughput (prefer smaller batches at equal speed: lower
latency, smaller state-store increments).
"""

from __future__ import annotations

import json
import math
import os
import re
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from msstreamingstack_spark.session import get_spark  # noqa: E402
from msstreamingstack_spark.sources.tables import load_table, spread  # noqa: E402

BATCH_SIZES = (1_000, 2_500, 10_000, 25_000)
REPLICATE = 10  # sf0.1: 5k docs -> 50k rows


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    spark = get_spark(app_name="msstreamingstack-ingest-curve")
    spark.sparkContext.setLogLevel("ERROR")

    from msstreamingstack_spark.streaming.corpus import run_corpus_ingest

    base = spread(load_table(spark, sf_dir, "documents"))
    n_base = base.count()
    reps = []
    for i in range(REPLICATE):
        reps.append(
            base.select(
                (F.col("doc_id") + i * n_base * 10).alias("doc_id"),
                F.concat_ws(" ", F.lit(f"rep{i}"), F.col("text")).alias(
                    "text"
                ),
                "lang",
                "source",
                "n_chars",
            )
        )
    docs = reps[0]
    for r in reps[1:]:
        docs = docs.unionByName(r)
    n_rows = n_base * REPLICATE
    eval_docs = base.filter(F.col("doc_id") % 50 == 0)

    curve: dict[str, float] = {}
    for batch in BATCH_SIZES:
        n_files = max(1, math.ceil(n_rows / batch))
        work = tempfile.mkdtemp(prefix=f"ingest_curve_{batch}_")
        try:
            src = os.path.join(work, "docs")
            docs.repartition(n_files).write.mode("overwrite").parquet(src)
            t0 = time.perf_counter()
            q = run_corpus_ingest(
                spark,
                src,
                eval_docs,
                accept_dir=os.path.join(work, "accept"),
                reject_dir=os.path.join(work, "reject"),
                checkpoint_dir=os.path.join(work, "cp"),
                available_now=True,
                max_files_per_trigger=1,
                neardup_store_dir=os.path.join(work, "sigs"),
            )
            q.awaitTermination()
            wall = time.perf_counter() - t0
            curve[str(batch)] = round(n_rows / wall, 1)
            print(
                f"# batch={batch} files={n_files} "
                f"{curve[str(batch)]} docs/s ({wall:.1f}s)",
                file=sys.stderr,
            )
        finally:
            shutil.rmtree(work, ignore_errors=True)

    peak = max(curve.values())
    default_batch = min(
        int(b) for b, r in curve.items() if r >= 0.9 * peak
    )
    print(
        json.dumps(
            {
                "metric": "neardup_ingest_amortization",
                "unit": "rows/sec",
                "curve": curve,
                "rows": n_rows,
                "default_batch": default_batch,
                "sf": sf,
            }
        )
    )


if __name__ == "__main__":
    main()
