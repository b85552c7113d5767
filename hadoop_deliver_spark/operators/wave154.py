"""§2 extensions, hundred-fifty-fourth wave — neighbor-relative
centrality and two more inequality/concentration classics.

- graph_leverage_centrality: Joyce et al.'s (2010) leverage
  centrality on the error-incident co-activity graph — is a node
  better- or worse-connected than ITS OWN neighbors? A local,
  normalization-free influence reading the degree/katz/harmonic
  family doesn't give.
- agg_amato_index: Amato's (1948) inequality index = the LENGTH of
  the Lorenz curve — remarkable because the segment sum is
  order-independent, so the whole index is ONE map-side reduce with
  no ranking at all (every other Lorenz-family query needs ranks).
- agg_rosenbluth_index: the Rosenbluth/Hall–Tideman concentration
  index HT = 1/(2·Σᵢ i·sᵢ − 1) over descending brand revenue
  shares — rank-weighted where agg_hhi is share-squared, so it
  responds to the TAIL of small brands that HHI ignores.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from hadoop_deliver_spark.registry import register
from hadoop_deliver_spark.tables import dec2, tbl


@register(
    "graph_leverage_centrality",
    """
    WITH du AS (
        SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
        WHERE event_type = 'error'
    ),
    edges AS (
        SELECT DISTINCT a.user_id AS u, b.user_id AS v
        FROM du a JOIN du b ON a.day = b.day AND a.user_id < b.user_id
    ),
    sym AS (
        SELECT u, v FROM edges UNION ALL SELECT v AS u, u AS v FROM edges
    ),
    deg AS (
        SELECT u AS node, CAST(count(*) AS BIGINT) AS k
        FROM sym GROUP BY 1
    )
    SELECT s.u AS user_id, max(di.k) AS degree,
           round(avg((CAST(di.k AS DOUBLE) - dj.k) / (di.k + dj.k)), 6)
               AS leverage
    FROM sym s
    JOIN deg di ON di.node = s.u
    JOIN deg dj ON dj.node = s.v
    GROUP BY s.u ORDER BY s.u
    """,
    tags=("graph", "stats"),
)
def graph_leverage_centrality(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Leverage centrality (Joyce, Laurienti, Burdette & Hayasaka
    2010) of every node in the error-incident co-activity graph (the
    graph_degree_gini edge definition — two users erroring the same
    calendar day, u<v, symmetrized): lᵢ = (1/kᵢ)·Σ_{j∈N(i)}
    (kᵢ−kⱼ)/(kᵢ+kⱼ) ∈ (−1, 1) — positive when a node out-degrees its
    own neighborhood (local authority), negative when it hangs off
    better-connected hubs. A neighbor-RELATIVE reading none of
    graph_degree_stats (absolute), graph_katz_centrality (global
    walk) or graph_harmonic_centrality (distance) provides. Degrees
    are exact integer counts; each edge term divides two identical
    integers, and the per-node mean rounds at 6 (per-node neighbor
    sums are order-sensitive doubles only in the last ulp).

    Scale shape: one api.co_membership_graph call (neighbor bitmaps
    inside its dense gate, the block-equi-join past it), the edge
    list symmetrized by UNION ALL, two degree equi-joins onto it, one
    node-keyed mean."""
    from hadoop_deliver_spark.api import co_membership_graph

    e = tbl(spark, sf_dir, "events")
    du = e.filter(F.col("event_type") == "error").select(
        F.to_date("ts").alias("day"), "user_id"
    )
    edges, deg, _ = co_membership_graph(du, "day", "user_id")
    sym = edges.unionAll(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    di = deg.select(F.col("user_id").alias("u"), F.col("degree").alias("ki"))
    dj = deg.select(F.col("user_id").alias("v"), F.col("degree").alias("kj"))
    return (
        sym.join(di, "u")
        .join(dj, "v")
        .groupBy("u")
        .agg(
            F.max("ki").alias("degree"),
            F.round(
                F.avg(
                    (F.col("ki").cast("double") - F.col("kj"))
                    / (F.col("ki") + F.col("kj"))
                ),
                6,
            ).alias("leverage"),
        )
        .select(F.col("u").alias("user_id"), "degree", "leverage")
        .orderBy("user_id")
    )


@register(
    "agg_amato_index",
    """
    WITH spend AS (
        SELECT o_custkey,
               CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                        AS BIGINT)) AS BIGINT) AS cents
        FROM orders GROUP BY 1
    ),
    s AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(cents) AS BIGINT) AS t
        FROM spend
    ),
    a AS (
        SELECT s.n, s.t,
               sum(sqrt(1.0 / (CAST(s.n AS DOUBLE) * s.n)
                        + (CAST(sp.cents AS DOUBLE) / s.t)
                          * (CAST(sp.cents AS DOUBLE) / s.t))) AS al
        FROM spend sp CROSS JOIN s
        GROUP BY 1, 2
    )
    SELECT n AS n_customers,
           round(al, 4) AS amato_length,
           round((al - sqrt(2.0)) / (2 - sqrt(2.0)), 4)
               AS amato_normalized
    FROM a
    """,
    tags=("agg", "stats"),
)
def agg_amato_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Amato's (1948) inequality index — the arc LENGTH of the Lorenz
    curve of per-customer spend: A = Σᵢ √(1/n² + (xᵢ/T)²), ranging
    from √2 (perfect equality, the diagonal) to 2 (one customer holds
    everything, the two axes). The analytically remarkable property
    — and why this query is cheap where agg_lorenz_curve /
    agg_lorenz_asymmetry need global ranks — is that the Lorenz
    curve's segment lengths do not depend on the segment ORDER: the
    sum is over unsorted customers, so the whole index is one
    map-side-combined reduce after the 1-row (n, T) broadcast. The
    normalized form (A−√2)/(2−√2) rescales to [0,1] with the shared
    √2 literal expression. Per-customer cents and (n, T) are exact
    integers; the per-term √ is one fixed textual expression and the
    cross-customer sum's last-ulp order sensitivity dies at round-4.

    Scale shape: one customer-keyed reduce, one 1-row reduce, a
    broadcast second pass — no ranks, no windows, no sort."""
    o = tbl(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(
        F.sum((dec2("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("cents")
    )
    s = spend.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("t"),
    )
    a = (
        spend.crossJoin(F.broadcast(s))
        .groupBy("n", "t")
        .agg(
            F.sum(
                F.sqrt(
                    1.0 / (F.col("n").cast("double") * F.col("n"))
                    + (F.col("cents").cast("double") / F.col("t"))
                    * (F.col("cents").cast("double") / F.col("t"))
                )
            ).alias("al")
        )
    )
    return a.select(
        F.col("n").alias("n_customers"),
        F.round(F.col("al"), 4).alias("amato_length"),
        F.round(
            (F.col("al") - F.sqrt(F.lit(2.0))) / (2 - F.sqrt(F.lit(2.0))), 4
        ).alias("amato_normalized"),
    )


@register(
    "agg_rosenbluth_index",
    """
    WITH rev AS (
        SELECT p.p_brand AS brand,
               CAST(sum(CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100
                        AS BIGINT)) AS BIGINT) AS cents
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        GROUP BY 1
    ),
    rk AS (
        SELECT brand, cents,
               row_number() OVER (ORDER BY cents DESC, brand) AS i
        FROM rev
    ),
    s AS (
        SELECT CAST(count(*) AS BIGINT) AS k,
               CAST(sum(cents) AS BIGINT) AS t,
               CAST(sum(i * cents) AS HUGEINT) AS ws
        FROM rk
    )
    SELECT k AS n_brands,
           round(1.0 / (2.0 * CAST(ws AS DOUBLE) / t - 1), 6)
               AS rosenbluth_ht,
           round(1.0 / CAST(k AS DOUBLE), 6) AS equal_share_floor,
           round((1.0 / (2.0 * CAST(ws AS DOUBLE) / t - 1))
                 * k, 4) AS ht_times_k
    FROM s
    """,
    tags=("agg", "stats"),
)
def agg_rosenbluth_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rosenbluth (1955) / Hall–Tideman (1967) concentration index
    over descending brand revenue shares: HT = 1/(2·Σᵢ i·sᵢ − 1)
    with i the 1-based DESCENDING revenue rank (brand tiebreak
    pinned). Equals 1/k under perfect equality and 1 under monopoly
    — but unlike agg_hhi (share-squared, tail-blind) the rank
    weighting makes HT move when the SMALL-brand tail reshapes, and
    unlike orders_cr_ratios it uses every rank, not the top-k. The
    rank-weighted sum Σi·cᵢ is an exact HUGEINT/decimal38 integer
    over the ≤25-brand frame (brand cardinality is fixed by the data
    model at any corpus scale — the tiny global window is the right
    plan), so HT divides quantities built from bit-identical
    integers; ht_times_k rescales against the equal-share floor.

    Scale shape: one fact equi-join + brand-keyed reduce to ≤25
    rows, a ≤25-row ranked scan, one 1-row reduce."""
    li = tbl(spark, sf_dir, "lineitem")
    p = tbl(spark, sf_dir, "part")
    rev = (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.sum((dec2("l_extendedprice") * 100).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    w = Window.orderBy(F.col("cents").desc(), F.col("brand"))
    rk = rev.withColumn("i", F.row_number().over(w))
    s = rk.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("cents").cast("long").alias("t"),
        F.sum(F.col("i").cast("decimal(38,0)") * F.col("cents")).alias("ws"),
    )
    ht = 1.0 / (2.0 * F.col("ws").cast("double") / F.col("t") - 1)
    return s.select(
        F.col("k").alias("n_brands"),
        F.round(ht, 6).alias("rosenbluth_ht"),
        F.round(1.0 / F.col("k").cast("double"), 6).alias(
            "equal_share_floor"
        ),
        F.round(ht * F.col("k"), 4).alias("ht_times_k"),
    )
