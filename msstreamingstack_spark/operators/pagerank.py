"""Weighted PageRank over a co-purchase graph (iterative propagation).

PageRank is the registry's canonical iterative-graph shape:
WEIGHTED mass propagation for a FIXED number of rounds, the
kernel behind link-quality document scoring (the original use),
domain authority in crawl pipelines, and influence scoring on
interaction graphs.

Graph here: the bipartite customer↔supplier co-purchase relation
(lineitem ⋈ orders), made symmetric so every node has out-degree and
no dangling-mass correction is needed; edge weight = number of line
items between the pair. ``rank_{t+1}(v) = (1-d)/N + d · Σ_{u→v}
rank_t(u) · w_uv / outdeg_u`` with d = 0.85, T = 4 rounds.

Spark-first plan: the edge list is built ONCE and persisted
(rotating slot — it feeds every round; the directed pair table gets
its own slot because the symmetric union + degree pass would
otherwise rebuild the lineitem⋈orders join four times), ranks start
at the uniform 1/N, and each round is one join against the previous
ranks frame followed by one fold on dst — T rounds, T+joins
shuffles, no driver-side iteration state beyond the loop counter.
Join strategy is left to the planner by default (a measured A/B
favored sort-merge over forced broadcasts here — see ``pagerank``'s
docstring); on a web-scale graph you bucket BOTH sides by src and
the join becomes a co-located shuffle join.

Cross-engine determinism — FIXED-POINT, not rounded doubles: a first
cut kept ranks as round-to-12 doubles and hit a genuine engine split
— a 12-decimal rank times a dyadic edge probability (1/2, 1/4 …
every ``1/2^k`` ends in …5) lands EXACTLY on a half-boundary, where
Spark's round (HALF_UP over the double's shortest decimal repr)
rounds up while DuckDB (exact binary value, epsilon below the half)
rounds down. Ties like this cannot be fixed by choosing a different
scale, so the kernel carries ranks as INTEGERS at scale 1e12 and
uses only exact integer ops: contribution = ``(R·cnt) div outdeg``
(floor), damping = ``(85·S) div 100``, teleport =
``(0.15·1e12) div N`` — bit-equal on any engine with 64-bit integer
division, no rounding mode involved anywhere. The one documented
bound: ``R·cnt`` must fit a BIGINT, i.e. per-edge weight below ~9e6
at full rank mass — lower ``PR_SCALE`` for heavier multigraphs. The
final ``pagerank`` column is the single exact cast
``R / 1e12`` (R < 2^53, so the cast and the power-of-ten divide are
the same IEEE doubles both sides).

The DuckDB twin unrolls the T rounds as chained CTEs (aggregation
over the recursive reference is restricted in WITH RECURSIVE; the
fixed-T unroll is the portable form).

The reference engine has no graph surface (SURVEY.md §2.5 ABSENT) —
north-star extension.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

PR_ROUNDS = 4
PR_SCALE = 10**12
# damping 0.85 as the exact integer pair (85, 100); teleport mass
# 0.15 · PR_SCALE as an exact integer
PR_DAMP_NUM, PR_DAMP_DEN = 85, 100
PR_TELEPORT_SCALED = 150_000_000_000  # 0.15 * 1e12


def copurchase_node_id(custkey=None, suppkey=None):
    """BIGINT node id for the co-purchase graph: customers map to
    ``2*custkey``, suppliers to ``2*suppkey + 1`` — injective, the two
    key spaces cannot collide, and every per-round shuffle/sort/join
    of the kernel moves an 8-byte long instead of a 'c…'/'s…' string
    (guide §2.3: narrower types halve the column, halve its shuffle
    bytes — and long hash/compare beats string hash/compare in every
    exchange and sort the 4-round plan contains)."""
    if custkey is not None:
        return (F.col(custkey).cast("long") * 2).alias("node")
    return (F.col(suppkey).cast("long") * 2 + 1).alias("node")


def copurchase_node_str(node: str = "node"):
    """Decode the BIGINT node id back to the public 'c…'/'s…' string —
    applied ONLY in the final projection, so the query output (and the
    DuckDB oracle, which speaks strings throughout) is unchanged."""
    return F.expr(
        f"CASE WHEN {node} % 2 = 0 "
        f"THEN concat('c', CAST({node} div 2 AS STRING)) "
        f"ELSE concat('s', CAST({node} div 2 AS STRING)) END"
    )


def copurchase_edges(lineitem: DataFrame, orders: DataFrame) -> DataFrame:
    """(src, dst, cnt) — symmetric customer↔supplier edges weighted by
    line-item count. Node ids are BIGINT (``copurchase_node_id``):
    even = customer, odd = supplier — decode with
    ``copurchase_node_str`` in the final projection only.

    The directed pair table is persisted (rotating slot) BEFORE the
    symmetric union: downstream the edge frame is consumed twice more
    (degree pass + normalized join), so without this slot the
    lineitem⋈orders build runs four times inside one plan."""
    from msstreamingstack_spark.caching import rotating_persist

    e0 = rotating_persist(
        lineitem.join(
            orders,
            lineitem["l_orderkey"] == orders["o_orderkey"],
        )
        .groupBy(
            (F.col("o_custkey").cast("long") * 2).alias("src"),
            (F.col("l_suppkey").cast("long") * 2 + 1).alias("dst"),
        )
        .agg(F.count("*").alias("cnt")),
        "pagerank.e0",
    )
    return e0.unionByName(
        e0.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "cnt"
        )
    )


def pagerank(
    edges: DataFrame,
    rounds: int = PR_ROUNDS,
    broadcast_ranks: bool = False,
    seeds: DataFrame | None = None,
) -> DataFrame:
    """(node, pagerank) after ``rounds`` weighted propagation rounds.

    ``edges`` must be symmetric (or at least dangling-free: every node
    that appears anywhere has out-edges).

    ``broadcast_ranks``: force map-side joins for the per-round ranks
    and degree frames (both node-count sized). Default OFF — a
    same-session best-of-3 A/B at sf0.1 measured no-hint 4.41 s vs
    ranks-broadcast 5.04 s vs ranks+deg-broadcast 8.63 s: the
    per-round broadcast exchange plus keeping the edge scan's wide
    partitioning costs more here than the sort-merge path, which
    consolidates each round onto the shuffle-partition layout. The
    hint exists for graphs where the edge side is so large that
    re-shuffling it per round dominates; at web scale the real answer
    is pre-bucketing both sides by src.

    ``seeds`` (optional, one ``node`` column): PERSONALIZED PageRank —
    the teleport mass lands only on the seed set (split evenly,
    integer-exact), and the walk starts there too, so scores measure
    proximity to the seeds (the similar-items / trust-propagation
    form). Seeds appearing nowhere in the edge set are ignored (they
    can neither receive nor forward mass on this graph)."""
    from msstreamingstack_spark.caching import rotating_persist

    deg = edges.groupBy("src").agg(F.sum("cnt").alias("outdeg"))
    # r11 (guide §2.4): pin the cache's layout to the per-round join
    # key with an explicit REPARTITION_BY_NUM before the persist. The
    # earlier negative result (sortWithinPartitions / localCheckpoint
    # layouts invisible through the cache) does NOT apply to an
    # explicit hash repartition: REPARTITION_BY_NUM is AQE-coalesce-
    # exempt, so InMemoryTableScan reports hashpartitioning(src, n)
    # and every round's shuffled-hash join consumes it — the edge
    # table (the big frame) is exchanged ONCE at build instead of
    # once per round. n = defaultParallelism: cores-derived, not a
    # local[32] constant.
    nparts = edges.sparkSession.sparkContext.defaultParallelism
    e = rotating_persist(
        edges.join(deg, "src")
        .select("src", "dst", "cnt", "outdeg")
        .repartition(nparts, "src"),
        "pagerank.e",
    )
    nodes = e.select(F.col("src").alias("node")).distinct()
    if seeds is None:
        nn = nodes.agg(F.count("*").alias("n"))
        init = nodes.crossJoin(F.broadcast(nn)).select(
            "node",
            F.expr(f"CAST({PR_SCALE} AS BIGINT) div n").alias("r"),
        )

        def teleported(contrib: DataFrame) -> DataFrame:
            return contrib.crossJoin(F.broadcast(nn)).select(
                "node",
                F.expr(
                    f"CAST({PR_TELEPORT_SCALED} AS BIGINT) div n"
                    f" + ({PR_DAMP_NUM} * s) div {PR_DAMP_DEN}"
                ).alias("r"),
            )
    else:
        sd = nodes.join(seeds.select("node").distinct(), "node", "left_semi")
        ns = sd.agg(F.count("*").alias("n"))
        # ONE persisted node-sized table carrying each node's constant
        # teleport share (0 for non-seeds). Because contrib ⊆ nodes,
        # driving every round from this table with a LEFT join both
        # guarantees a seed with no in-contribution still receives its
        # teleport AND avoids a per-round full-outer (measurably
        # slower — full outer cannot broadcast and builds both sides)
        # same layout pin as `e`: the per-round teleport left join is
        # keyed on node, so cache tp_all hash-partitioned by node and
        # each round only exchanges the contrib side
        tp_all = rotating_persist(
            nodes.join(
                sd.crossJoin(F.broadcast(ns)).select(
                    "node",
                    F.expr(
                        f"CAST({PR_TELEPORT_SCALED} AS BIGINT) div n"
                    ).alias("tp0"),
                    F.expr(f"CAST({PR_SCALE} AS BIGINT) div n").alias("m0"),
                ),
                "node",
                "left",
            )
            .select(
                "node",
                F.coalesce(F.col("tp0"), F.lit(0)).alias("tp"),
                F.coalesce(F.col("m0"), F.lit(0)).alias("m"),
            )
            .repartition(nparts, "node"),
            "pagerank.tp_all",
        )
        init = tp_all.select("node", F.col("m").alias("r"))

        def teleported(contrib: DataFrame) -> DataFrame:
            # shuffle_hash on the build (right) side: both frames are
            # node-sized, the hash build skips the two per-round sorts
            # a sort-merge left join would pay (same A/B family as the
            # round join above)
            return tp_all.join(
                contrib.hint("shuffle_hash"), "node", "left"
            ).select(
                "node",
                (
                    F.col("tp")
                    + F.expr(
                        f"({PR_DAMP_NUM} * coalesce(s, 0)) div {PR_DAMP_DEN}"
                    )
                ).alias("r"),
            )

    ranks = init
    for _ in range(rounds):
        rsrc = ranks.withColumnRenamed("node", "src")
        if broadcast_ranks:
            rsrc = F.broadcast(rsrc)
        else:
            # r11 (guide §3.1): shuffled-hash beats sort-merge for the
            # per-round join — the ranks side is node-sized (orders of
            # magnitude under the edge side), so each partition builds
            # a small hash table and STREAMS the cached edge partition
            # with no per-round sort of the edge table. Interleaved
            # best-of-3 A/B at sf0.1 (BIGINT ids): SMJ 7.83 s vs SHJ
            # 6.08 s vs per-round broadcast 6.67 s (broadcast also
            # serializes rounds through a driver collect each round).
            rsrc = rsrc.hint("shuffle_hash")
        contrib = (
            e.join(rsrc, "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.expr("(r * cnt) div outdeg")).alias("s"))
        )
        ranks = teleported(contrib)
    return ranks.select(
        "node",
        (F.col("r").cast("double") / F.lit(float(PR_SCALE))).alias(
            "pagerank"
        ),
    )


def pagerank_sql(
    rounds: int = PR_ROUNDS, seed_subquery: str | None = None
) -> str:
    """DuckDB twin — the T rounds unrolled as chained CTEs, same
    integer fixed-point arithmetic (`//` is exact BIGINT floor
    division in DuckDB, `div` in Spark). ``seed_subquery`` (a SELECT
    yielding one ``node`` column) switches to the personalized form:
    teleport and initial mass land only on in-graph seeds."""
    if seed_subquery is None:
        r0 = f"r0 AS (SELECT node, {PR_SCALE} // n AS r FROM nodes CROSS JOIN nn)"
        seed_ctes = ""
        tp = f"{PR_TELEPORT_SCALED} // ANY_VALUE(nn.n)"
        tp_join = "CROSS JOIN nn"
    else:
        seed_ctes = f""",
seeds AS (
  SELECT node FROM nodes WHERE node IN ({seed_subquery})
),
ns AS (SELECT COUNT(*) AS n FROM seeds),
tp_all AS (
  SELECT nodes.node, COALESCE(st.tp, 0) AS tp, COALESCE(st.m, 0) AS m
  FROM nodes LEFT JOIN (
    SELECT node, {PR_TELEPORT_SCALED} // n AS tp, {PR_SCALE} // n AS m
    FROM seeds CROSS JOIN ns
  ) st ON nodes.node = st.node
)"""
        r0 = "r0 AS (SELECT node, m AS r FROM tp_all)"
        tp = None
        tp_join = None
    iters = []
    for i in range(1, rounds + 1):
        prev = f"r{i - 1}"
        if seed_subquery is None:
            iters.append(
                f"""r{i} AS (
  SELECT e.dst AS node,
         {tp}
           + ({PR_DAMP_NUM} * SUM(({prev}.r * e.cnt) // e.outdeg))
             // {PR_DAMP_DEN} AS r
  FROM {prev} JOIN e ON {prev}.node = e.src {tp_join}
  GROUP BY 1
)"""
            )
        else:
            # drive every round from the all-nodes teleport table:
            # contrib ⊆ nodes, so a LEFT join both keeps a
            # zero-contribution seed's teleport AND keeps every node
            # in the frame (rank 0 rows included — same as Spark)
            iters.append(
                f"""r{i} AS (
  SELECT t.node,
         t.tp + ({PR_DAMP_NUM} * COALESCE(c.s, 0)) // {PR_DAMP_DEN} AS r
  FROM tp_all t LEFT JOIN (
    SELECT e.dst AS node, SUM(({prev}.r * e.cnt) // e.outdeg) AS s
    FROM {prev} JOIN e ON {prev}.node = e.src GROUP BY 1
  ) c ON t.node = c.node
)"""
            )
    chain = ",\n".join(iters)
    return f"""
WITH e0 AS (
  SELECT 'c' || o.o_custkey AS src, 's' || l.l_suppkey AS dst,
         COUNT(*) AS cnt
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  GROUP BY 1, 2
),
edges AS (
  SELECT src, dst, cnt FROM e0
  UNION ALL
  SELECT dst AS src, src AS dst, cnt FROM e0
),
deg AS (SELECT src, SUM(cnt) AS outdeg FROM edges GROUP BY src),
e AS (
  SELECT ed.src, ed.dst, ed.cnt, d.outdeg
  FROM edges ed JOIN deg d USING (src)
),
nodes AS (SELECT DISTINCT src AS node FROM e),
nn AS (SELECT COUNT(*) AS n FROM nodes){seed_ctes},
{r0},
{chain}
SELECT node, CAST(r AS DOUBLE) / {float(PR_SCALE)!r} AS pagerank
FROM r{rounds}
"""
