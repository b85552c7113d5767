"""§2 extensions, tenth wave (3/3) — iterative graph analytics.

PageRank over the event-type transition graph. Two things make this
a first-class engine demo rather than a toy:

1. **Exact cross-engine determinism for an iterative float-free
   algorithm.** Ranks are kept as BIGINT micro-units (total mass
   scaled to 1e9) and every update is integer arithmetic with floor
   division — `(850 * w_uv * rank_u) div (1000 * W_u)` — so the
   result after K iterations is bit-identical regardless of engine,
   partition order, or summation order (BIGINT sums are exact and
   commutative). The DuckDB oracle unrolls the same K updates as
   chained CTEs (aggregates are not allowed in a recursive CTE term,
   so unrolling IS the portable form for a fixed K).

2. **The Spark loop shape is the distributed one.** Each iteration is
   edges ⋈ ranks (broadcast — ranks is #nodes rows) → groupBy(dst)
   sum → rebase, i.e. one keyed shuffle per iteration over the EDGE
   table only; node state stays tiny. That is the classic Pregel-as-
   dataframe shape that scales to billions of edges: nothing is ever
   collected to the driver, and K is a fixed constant, not a
   convergence probe.

Dangling mass (nodes with no out-edges) is dropped, matching the
simplified PageRank both sides state identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_deliver_spark.registry import register
from hadoop_deliver_spark.tables import tbl

_SCALE = 1_000_000_000

# ---------------------------------------------------------------------------
# shared co-purchase projection (r12 optimization)
# ---------------------------------------------------------------------------
#
# Eight graph_* queries project the same customer->part co-purchase
# graph (parts adjacent when one customer bought both): modularity /
# common_neighbors / adamic_adar on the full projection, and the five
# Brand#23-scoped ops (clustering_global/local, rich_club, kcore_peel,
# jaccard_linkpred, bfs_layers). Pre-r12 each rebuilt the edge list
# AND re-paid the O(sum deg(c)^2) pair fan-out from scratch. Both
# stages go through api.memo_stage (caching contract there):
#   edges — deduped (c, p) bipartite memberships
#   pairs — (u, v, n_common, w_sum) via api.pair_cooccurrence_stats:
#           one pair fan-out serves the distinct-pair consumers
#           (select u, v), the common-neighbor counters (n_common)
#           and Adamic-Adar (w_sum of round(1e12/ln deg(c))) alike.


def co_purchase_graph(
    spark: SparkSession, sf_dir: str, brand: str | None = None
) -> tuple[DataFrame, DataFrame]:
    """Memoized (edges, pairs) of the co-purchase projection — see the
    module comment above. ``edges`` = distinct (c, p); ``pairs`` =
    (u, v, n_common, w_sum) for u < v part pairs sharing >= 1
    customer, where w_sum sums the Adamic-Adar customer weight
    round(1e12 / ln deg(c)) over the shared customers (deg(c) >= 2
    holds for every pair-witnessing customer by construction)."""
    from hadoop_deliver_spark import api

    o = tbl(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = tbl(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    sources = [o, li]
    if brand is not None:
        pt = (
            tbl(spark, sf_dir, "part")
            .filter(F.col("p_brand") == brand)
            .select("p_partkey")
        )
        sources.append(pt)
        li = li.join(
            F.broadcast(pt), li["l_partkey"] == pt["p_partkey"]
        ).select("l_orderkey", "l_partkey")
    edges = api.memo_stage(
        "co_purchase_edges",
        sources,
        (),
        lambda: o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .distinct(),
    )
    return edges, api.memo_stage(
        "co_purchase_pairs", sources, (), lambda: _co_purchase_pairs(edges, brand)
    )


def _co_purchase_pairs(edges: DataFrame, brand: str | None) -> DataFrame:
    from hadoop_deliver_spark import api

    if brand is not None:
        # the Brand#23 consumers use the distinct pair list only —
        # no Adamic-Adar weight needed
        return api.pair_cooccurrence_stats(
            edges, "c", "p", dedup=False, materialize=False
        )
    cdeg = (
        edges.groupBy("c")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
        .filter(F.col("d") >= 2)
        .select(
            "c",
            F.round(F.lit(1e12) / F.log(F.col("d").cast("double")))
            .cast("long")
            .alias("w"),
        )
    )
    du = edges.join(F.broadcast(cdeg), "c")
    return api.pair_cooccurrence_stats(
        du, "c", "p", "w", dedup=False, materialize=False
    )

_ITERS = 6

_EDGES_SQL = """
    SELECT prev AS src, event_type AS dst, count(*) AS w
    FROM (
        SELECT event_type,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev
        FROM events
    ) WHERE prev IS NOT NULL
    GROUP BY prev, event_type
"""


def _oracle() -> str:
    """Unrolled K-iteration PageRank as chained CTEs (DuckDB)."""
    parts = [
        f"WITH edges AS ({_EDGES_SQL}),",
        "outdeg AS (SELECT src, sum(w) AS wtot FROM edges GROUP BY src),",
        "nodes AS (SELECT DISTINCT event_type AS node FROM events),",
        "nn AS (SELECT count(*) AS n FROM nodes),",
        f"pr0 AS (SELECT node, {_SCALE} // (SELECT n FROM nn) AS rank"
        " FROM nodes),",
    ]
    for i in range(1, _ITERS + 1):
        parts.append(
            f"pr{i} AS (SELECT n.node, "
            f"(150 * ({_SCALE} // (SELECT n FROM nn))) // 1000 "
            "+ COALESCE(c.contrib, 0) AS rank FROM nodes n LEFT JOIN ("
            "SELECT e.dst AS node, "
            "CAST(sum((850 * e.w * p.rank) // (1000 * o.wtot)) AS BIGINT)"
            " AS contrib "
            f"FROM edges e JOIN pr{i - 1} p ON e.src = p.node "
            "JOIN outdeg o ON e.src = o.src GROUP BY e.dst"
            ") c ON n.node = c.node),"
        )
    parts[-1] = parts[-1].rstrip(",")
    parts.append(
        f"SELECT node, CAST(rank AS BIGINT) AS rank_units "
        f"FROM pr{_ITERS} ORDER BY node"
    )
    return "\n".join(parts)


@register("graph_pagerank", _oracle(), tags=("graph", "iterative"))
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact PageRank (damping 0.85, 6 iterations) over the
    event-type transition graph: edges = consecutive event pairs per
    user on the (ts, event_id) total order, weighted by count. See
    module docstring for the determinism and scale argument; the
    returned ranks are BIGINT micro-units summing to ≤ 1e9."""
    e = tbl(spark, sf_dir, "events")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    edges = (
        e.select(
            F.col("event_type").alias("dst"),
            F.lag("event_type").over(w).alias("src"),
        )
        .where(F.col("src").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count("*").alias("w"))
    ).cache()
    outdeg = edges.groupBy("src").agg(F.sum("w").alias("wtot"))
    nodes = e.select(F.col("event_type").alias("node")).distinct().cache()
    n = nodes.count()
    base = (150 * (_SCALE // n)) // 1000
    ranks = nodes.select("node", F.lit(_SCALE // n).alias("rank"))
    ew = edges.join(outdeg, "src")
    for _ in range(_ITERS):
        contrib = (
            ew.join(F.broadcast(ranks), ew.src == ranks.node)
            .select(
                F.col("dst").alias("node"),
                # BIGINT floor division (`div`), NOT `/`: double
                # division would round through a 53-bit mantissa and
                # break exactness once 850*w*rank exceeds 2^53.
                F.expr("(850 * w * rank) div (1000 * wtot)").alias("part"),
            )
            .groupBy("node")
            .agg(F.sum("part").alias("contrib"))
        )
        ranks = (
            nodes.join(contrib, "node", "left")
            .select(
                "node",
                (F.lit(base) + F.coalesce("contrib", F.lit(0))).alias(
                    "rank"
                ),
            )
        )
    return ranks.select(
        "node", F.col("rank").alias("rank_units")
    ).orderBy("node")


_U_SCALE = 1_000_000_000
_U_ITERS = 4

_U_EDGES_SQL = """
    e0 AS (
        SELECT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst,
               count(*) AS w
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY 1, 2
    ),
    edges AS (SELECT src, dst, w FROM e0
              UNION ALL SELECT dst, src, w FROM e0)
"""


def _users_oracle() -> str:
    """Unrolled K-iteration PageRank over the customer↔supplier
    bipartite graph (DuckDB twin of the partitioned Spark loop)."""
    parts = [
        f"WITH {_U_EDGES_SQL},",
        "outdeg AS (SELECT src, sum(w) AS wtot FROM edges GROUP BY src),",
        "nodes AS (SELECT DISTINCT src AS node FROM edges),",
        "nn AS (SELECT count(*) AS n FROM nodes),",
        f"pr0 AS (SELECT node, {_U_SCALE} // (SELECT n FROM nn) AS rank"
        " FROM nodes),",
    ]
    for i in range(1, _U_ITERS + 1):
        parts.append(
            f"pr{i} AS (SELECT n.node, "
            f"(150 * ({_U_SCALE} // (SELECT n FROM nn))) // 1000 "
            "+ COALESCE(c.contrib, 0) AS rank FROM nodes n LEFT JOIN ("
            "SELECT e.dst AS node, "
            "CAST(sum((850 * e.w * p.rank) // (1000 * o.wtot)) AS BIGINT)"
            " AS contrib "
            f"FROM edges e JOIN pr{i - 1} p ON e.src = p.node "
            "JOIN outdeg o ON e.src = o.src GROUP BY e.dst"
            ") c ON n.node = c.node),"
        )
    parts[-1] = parts[-1].rstrip(",")
    parts.append(
        f"SELECT node, CAST(rank AS BIGINT) AS rank_units "
        f"FROM pr{_U_ITERS} ORDER BY node"
    )
    return "\n".join(parts)


@register("graph_pagerank_users", _users_oracle(), tags=("graph", "iterative"))
def graph_pagerank_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank on an UNBOUNDED node space — the shape graph_pagerank
    (≤5 event types, ranks broadcast each iteration) deliberately
    avoids. Nodes are customers (2·custkey) and suppliers
    (2·suppkey+1) linked by purchase volume, bidirectional so no mass
    dangles; the node set GROWS with the data, so ranks canNOT ride a
    broadcast. Each iteration is a PARTITIONED join — edges ⋈ ranks
    hash-shuffled on the node key (a shuffle_hash hint pins the
    non-broadcast strategy even where fixture-scale stats would tempt
    AQE into one) → groupBy(dst) partial/final sum → left join onto
    the node set. Per iteration: two keyed shuffles over edges/ranks,
    nothing driver-side, K fixed — the Pregel-as-DataFrame loop that
    scales to billions of edges. Same integer-exact arithmetic as
    graph_pagerank (BIGINT micro-units, floor division), so the
    result is bit-identical across engines and partitionings; the
    oracle unrolls the same K updates as chained CTEs."""
    o = tbl(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = tbl(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    e0 = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .agg(F.count("*").alias("w"))
    )
    edges = e0.unionAll(
        e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
    ).cache()
    outdeg = edges.groupBy("src").agg(F.sum("w").alias("wtot"))
    nodes = edges.select(F.col("src").alias("node")).distinct().cache()
    n = nodes.count()
    base = (150 * (_U_SCALE // n)) // 1000
    ranks = nodes.select("node", F.lit(_U_SCALE // n).alias("rank"))
    ew = edges.join(outdeg, "src").cache()
    for _ in range(_U_ITERS):
        contrib = (
            ew.join(
                ranks.hint("shuffle_hash"), ew.src == ranks.node
            )
            .select(
                F.col("dst").alias("node"),
                F.expr("(850 * w * rank) div (1000 * wtot)").alias("part"),
            )
            .groupBy("node")
            .agg(F.sum("part").alias("contrib"))
        )
        # no per-iteration checkpoint: ranks appears ONCE per iteration
        # (inside contrib), so the plan grows linearly in K — for a
        # fixed K=4 one fused job beats 4 materializations; a
        # convergence-probed loop would checkpoint like the
        # connected-components core does
        ranks = nodes.join(contrib.hint("shuffle_hash"), "node", "left").select(
            "node",
            (F.lit(base) + F.coalesce("contrib", F.lit(0))).alias("rank"),
        )
    edges.unpersist()
    ew.unpersist()
    nodes.unpersist()
    return ranks.select(
        "node", F.col("rank").alias("rank_units")
    ).orderBy("node")
