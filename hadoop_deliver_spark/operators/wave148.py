"""§2 extensions, hundred-forty-eighth wave — degree inequality and
index-number decomposition.

- graph_degree_gini: Gini coefficient of the co-activity degree
  distribution (+ top-decile degree share) — the inequality-of-
  attention reading of the graph the moment-style graph_degree_stats
  / graph_assortativity / graph_rich_club family circles around,
  ranked by the block-ranked exact_global_rank core (no global
  window).
- orders_bortkiewicz_gap: von Bortkiewicz's (1923) covariance
  identity explaining WHY orders_fisher_price_index's Laspeyres and
  Paasche disagree: P_P/P_L − 1 = cov_w(price rel, qty rel)/(P_L·Q_L)
  under base-value weights — the gap is negative exactly when
  consumers substitute away from price risers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_deliver_spark.api import exact_global_rank
from hadoop_deliver_spark.registry import register
from hadoop_deliver_spark.tables import tbl


@register(
    "graph_degree_gini",
    """
    WITH du AS (
        SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
        WHERE event_type = 'error'
    ),
    edges AS (
        SELECT DISTINCT a.user_id AS u, b.user_id AS v
        FROM du a JOIN du b ON a.day = b.day AND a.user_id < b.user_id
    ),
    ends AS (
        SELECT u AS node FROM edges UNION ALL SELECT v FROM edges
    ),
    deg AS (
        SELECT node, CAST(count(*) AS BIGINT) AS degree
        FROM ends GROUP BY node
    ),
    r AS (
        SELECT degree,
               row_number() OVER (ORDER BY degree, node) AS rk
        FROM deg
    ),
    s AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(degree) AS BIGINT) AS total,
               CAST(sum(rk * degree) AS BIGINT) AS s1,
               CAST(max(degree) AS BIGINT) AS dmax
        FROM r
    ),
    t AS (
        SELECT s.n, s.total, s.dmax,
               round(2.0 * CAST(s.s1 AS DOUBLE)
                     / (CAST(s.n AS DOUBLE) * s.total)
                     - (CAST(s.n AS DOUBLE) + 1) / s.n, 6) AS gini,
               CAST((SELECT sum(degree) FROM r
                     WHERE rk > s.n - s.n // 10) AS BIGINT) AS top_sum
        FROM s
    )
    SELECT n AS n_nodes, total AS sum_degree, dmax AS max_degree,
           gini AS degree_gini,
           round(CAST(top_sum AS DOUBLE) / total, 6) AS top_decile_share,
           gini > 0.4 AS concentrated
    FROM t
    """,
    tags=("graph", "stats"),
)
def graph_degree_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of the ERROR-incident co-activity degree
    distribution (the graph_degree_stats edge definition restricted
    to event_type='error' — two users erroring the same calendar day,
    oriented u<v; the full co-activity graph is complete at every
    fixture scale, all degrees equal, which would pin G at exactly 0
    and blind the oracle to rank-weight bugs — the error subgraph has
    real degree spread) plus the top-decile degree share: who holds
    the incident graph's attention?
    graph_degree_stats lists the degrees; this folds them into the
    inequality headline (G = 2·Σrk·d/(n·Σd) − (n+1)/n over degrees
    ranked ASC with node-id tiebreak — all-integer rank·degree sums,
    so G divides bit-identical integers) and the floor(n/10) richest
    nodes' share of total degree. The 0.4 'concentrated' literal is
    the conventional inequality flag, stated as a screening
    convention. Ranking runs on the block-ranked exact_global_rank
    core (per-block row_number + broadcast offsets — no
    single-partition window); the decile cutoff attaches the 1-row
    (n, total) frame by broadcast, the agg_lorenz_curve pattern.

    Scale shape: the per-day co-activity fan-out (bounded as in the
    triangle operator), one node-keyed count, a 32-block ranked scan,
    one 1-row reduce, one broadcast-filtered re-reduce."""
    e = tbl(spark, sf_dir, "events")
    du = e.filter(F.col("event_type") == "error").select(
        F.to_date("ts").alias("day"), "user_id"
    )
    # degrees via api.co_membership_graph, renamed to the
    # edge-endpoint shape and localCheckpoint'd ONCE —
    # exact_global_rank's split/offset probe actions plus the two
    # downstream reduces would otherwise recompute the degree pipeline
    # four times.
    from hadoop_deliver_spark.api import co_membership_graph

    deg = (
        co_membership_graph(du, "day", "user_id")[1]
        .withColumnRenamed("user_id", "node")
        .localCheckpoint(eager=True)
    )
    r = exact_global_rank(deg, "degree", "node", "rk")
    s = r.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("degree").cast("long").alias("total"),
        F.sum(F.col("rk") * F.col("degree")).cast("long").alias("s1"),
        F.max("degree").cast("long").alias("dmax"),
    )
    top = (
        r.crossJoin(F.broadcast(s))
        .filter(F.col("rk") > F.col("n") - F.floor(F.col("n") / 10))
        .groupBy("n", "total", "s1", "dmax")
        .agg(F.sum("degree").cast("long").alias("top_sum"))
    )
    n, total = F.col("n"), F.col("total")
    gini = F.round(
        2.0 * F.col("s1").cast("double") / (n.cast("double") * total)
        - (n.cast("double") + 1) / n,
        6,
    )
    return top.select(
        n.alias("n_nodes"),
        total.alias("sum_degree"),
        F.col("dmax").alias("max_degree"),
        gini.alias("degree_gini"),
        F.round(F.col("top_sum").cast("double") / total, 6).alias(
            "top_decile_share"
        ),
        (gini > 0.4).alias("concentrated"),
    )


@register(
    "orders_bortkiewicz_gap",
    """
    WITH li AS (
        SELECT l.l_partkey AS pk,
               CASE WHEN CAST(o.o_orderdate AS DATE) >= DATE '1997-01-01'
                    THEN 1 ELSE 0 END AS yr,
               CAST(l.l_quantity AS BIGINT) AS q,
               CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS v
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        WHERE CAST(o.o_orderdate AS DATE) >= DATE '1996-01-01'
          AND CAST(o.o_orderdate AS DATE) < DATE '1998-01-01'
    ),
    per AS (
        SELECT pk, yr, CAST(sum(q) AS BIGINT) AS qty,
               CAST(sum(v) AS BIGINT) AS rev
        FROM li GROUP BY pk, yr
    ),
    basket AS (
        SELECT b.pk, b.rev AS v0,
               (CAST(c.rev AS DOUBLE) / c.qty)
                   / (CAST(b.rev AS DOUBLE) / b.qty) AS pr,
               CAST(c.qty AS DOUBLE) / b.qty AS qr
        FROM (SELECT * FROM per WHERE yr = 0) b
        JOIN (SELECT * FROM per WHERE yr = 1) c USING (pk)
    ),
    s AS (
        SELECT CAST(count(*) AS BIGINT) AS n_parts,
               CAST(sum(v0) AS BIGINT) AS w,
               sum(v0 * pr) AS swp, sum(v0 * qr) AS swq,
               sum(v0 * pr * qr) AS swpq
        FROM basket
    ),
    t AS (
        SELECT n_parts,
               swp / w AS pl, swq / w AS ql,
               swpq / w - (swp / w) * (swq / w) AS wcov
        FROM s
    )
    SELECT n_parts,
           round(pl, 6) AS p_laspeyres,
           round(ql, 6) AS q_laspeyres,
           round(wcov, 6) AS w_cov,
           round(1 + wcov / (pl * ql), 6) AS paasche_over_laspeyres,
           round(wcov, 6) < 0 AS substitution_effect
    FROM t
    """,
    tags=("orders", "stats"),
)
def orders_bortkiewicz_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Von Bortkiewicz's (1923) covariance identity on the 1996→1997
    per-part basket of orders_fisher_price_index: with base-value
    weights w_i = p₀q₀, the Paasche/Laspeyres price-index ratio is
    EXACTLY 1 + cov_w(p₁/p₀, q₁/q₀)/(P_L·Q_L) — the two indices
    disagree precisely insofar as price relatives and quantity
    relatives co-move, and the gap is negative (Paasche < Laspeyres)
    when buyers substitute away from price risers. The fisher query
    reports the indices; this reports the WHY. Per-part unit-value
    relatives divide exact integer (cents, quantity) pairs, so each
    pr/qr is one fixed textual expression over bit-identical inputs;
    the weighted moment sums over parts are order-sensitive doubles
    whose last-ulp wobble the round-6 display absorbs, and the
    substitution verdict reads the ROUNDED covariance.

    Scale shape: one fact-table equi-join (orders⋈lineitem), one
    part-keyed reduce, one base/compare self-equi-join on part key,
    one 1-row weighted-moment reduce — no windows, no broadcasts."""
    o = tbl(spark, sf_dir, "orders")
    li = tbl(spark, sf_dir, "lineitem")
    od = F.to_date("o_orderdate")
    j = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter((od >= F.lit("1996-01-01")) & (od < F.lit("1998-01-01")))
        .select(
            F.col("l_partkey").alias("pk"),
            F.when(od >= F.lit("1997-01-01"), 1).otherwise(0).alias("yr"),
            F.col("l_quantity").cast("long").alias("q"),
            (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
            .cast("long")
            .alias("v"),
        )
    )
    per = j.groupBy("pk", "yr").agg(
        F.sum("q").cast("long").alias("qty"),
        F.sum("v").cast("long").alias("rev"),
    )
    base = per.filter(F.col("yr") == 0).select(
        "pk", F.col("qty").alias("q0"), F.col("rev").alias("v0")
    )
    comp = per.filter(F.col("yr") == 1).select(
        "pk", F.col("qty").alias("q1"), F.col("rev").alias("v1")
    )
    basket = base.join(comp, "pk").select(
        "pk",
        "v0",
        (
            (F.col("v1").cast("double") / F.col("q1"))
            / (F.col("v0").cast("double") / F.col("q0"))
        ).alias("pr"),
        (F.col("q1").cast("double") / F.col("q0")).alias("qr"),
    )
    s = basket.agg(
        F.count(F.lit(1)).cast("long").alias("n_parts"),
        F.sum("v0").cast("long").alias("w"),
        F.sum(F.col("v0") * F.col("pr")).alias("swp"),
        F.sum(F.col("v0") * F.col("qr")).alias("swq"),
        F.sum(F.col("v0") * F.col("pr") * F.col("qr")).alias("swpq"),
    )
    pl = F.col("swp") / F.col("w")
    ql = F.col("swq") / F.col("w")
    wcov = F.col("swpq") / F.col("w") - pl * ql
    t = s.select(
        "n_parts", pl.alias("pl"), ql.alias("ql"), wcov.alias("wcov")
    )
    return t.select(
        "n_parts",
        F.round("pl", 6).alias("p_laspeyres"),
        F.round("ql", 6).alias("q_laspeyres"),
        F.round("wcov", 6).alias("w_cov"),
        F.round(1 + F.col("wcov") / (F.col("pl") * F.col("ql")), 6).alias(
            "paasche_over_laspeyres"
        ),
        (F.round("wcov", 6) < 0).alias("substitution_effect"),
    )
