"""§2 extensions, hundred-forty-first wave — branching structure and
price-point forensics.

- graph_randic: the Randić connectivity index Σ 1/√(d_u·d_v) over
  co-activity edges — the branching descriptor (chemistry's most
  used topological index) whose n/2 ceiling is attained exactly by
  regular graphs; a one-number structure summary beside
  graph_assortativity's correlation form.
- orders_price_points: last-two-digit (cents) heaping census of
  order prices — .00/.99 shares, the modal ending, and the χ²
  uniformity test over the 100 endings; the round-number forensic
  that complements orders_benford's first-digit test.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_deliver_spark.registry import register
from hadoop_deliver_spark.tables import dec2, tbl

#: chi-square 95 % critical value, df = 99 (pinned literal).
_CHI2_99_95 = 123.225


@register(
    "graph_randic",
    """
    WITH du AS (
        SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
    ),
    edges AS (
        SELECT DISTINCT a.user_id AS u, b.user_id AS v
        FROM du a JOIN du b
          ON a.day = b.day AND a.user_id < b.user_id
    ),
    ends AS (
        SELECT u AS node FROM edges
        UNION ALL SELECT v AS node FROM edges
    ),
    deg AS (
        SELECT node, CAST(count(*) AS BIGINT) AS k FROM ends GROUP BY 1
    ),
    re AS (
        SELECT sum(1.0 / sqrt(CAST(da.k AS DOUBLE) * db.k)) AS randic,
               CAST(count(*) AS BIGINT) AS n_edges
        FROM edges e
        JOIN deg da ON e.u = da.node
        JOIN deg db ON e.v = db.node
    ),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM deg)
    SELECT nn.n_nodes, re.n_edges,
           round(re.randic, 4) AS randic_index,
           round(2 * re.randic / nn.n_nodes, 6) AS randic_over_half_n,
           round(2 * re.randic / nn.n_nodes, 6) > 0.95 AS near_regular
    FROM re, nn
    """,
    tags=("graph", "analytics"),
)
def graph_randic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Randić connectivity index (Randić 1975) of the user
    co-activity graph: R = Σ_{(u,v)∈E} 1/√(d_u·d_v) with the same
    day-co-activity edge rule as graph_triangle_count. R ≤ n/2
    always, with equality exactly for graphs whose every component
    is regular — so 2R/n is a normalized regularity score (the
    near_regular verdict flags > 0.95 on the ROUNDED value), and
    low values mean hub-and-spoke branching (the chemistry reading:
    more branched molecule, lower R). Degrees are exact integer
    counts; one float per edge, summed — drift n·ulp, far inside
    round-4.

    Scale shape: one api.co_membership_graph call (neighbor bitmaps
    inside its dense gate, the block-equi-join past it), the degree
    table joined back onto the edges twice (equi-joins on node), two
    1-row reduces."""
    from hadoop_deliver_spark.api import co_membership_graph

    e = tbl(spark, sf_dir, "events")
    du = e.select(F.to_date("ts").alias("day"), "user_id")
    edges, deg, _ = co_membership_graph(du, "day", "user_id")
    da = deg.select(F.col("user_id").alias("u"), F.col("degree").alias("ku"))
    db = deg.select(F.col("user_id").alias("v"), F.col("degree").alias("kv"))
    re = (
        edges.join(da, "u")
        .join(db, "v")
        .agg(
            F.sum(
                1.0 / F.sqrt(F.col("ku").cast("double") * F.col("kv"))
            ).alias("randic"),
            F.count(F.lit(1)).cast("long").alias("n_edges"),
        )
    )
    nn = deg.agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
    norm = F.round(2 * F.col("randic") / F.col("n_nodes"), 6)
    return re.crossJoin(F.broadcast(nn)).select(
        "n_nodes",
        "n_edges",
        F.round(F.col("randic"), 4).alias("randic_index"),
        norm.alias("randic_over_half_n"),
        (norm > 0.95).alias("near_regular"),
    )


@register(
    "orders_price_points",
    f"""
    WITH v AS (
        SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               % 100 AS ending
        FROM orders
    ),
    g AS (
        SELECT ending, CAST(count(*) AS BIGINT) AS c FROM v GROUP BY 1
    ),
    n AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM g),
    chi AS (
        SELECT sum(pow(g.c - CAST(n.n AS DOUBLE) / 100, 2)
                   / (CAST(n.n AS DOUBLE) / 100)) AS chi2,
               CAST(count(*) AS BIGINT) AS endings_seen
        FROM g, n
    ),
    top AS (
        SELECT min(ending) AS modal_ending FROM g, (
            SELECT max(c) AS cmax FROM g
        ) WHERE g.c = cmax
    )
    SELECT n.n AS n_orders, chi.endings_seen,
           round(CAST((SELECT coalesce(max(c), 0) FROM g
                       WHERE ending = 0) AS DOUBLE) / n.n, 6)
               AS share_00,
           round(CAST((SELECT coalesce(max(c), 0) FROM g
                       WHERE ending = 99) AS DOUBLE) / n.n, 6)
               AS share_99,
           top.modal_ending,
           round(chi.chi2, 2) AS chi2_uniform,
           round(chi.chi2, 2) > {_CHI2_99_95!r} AS heaped
    FROM n, chi, top
    """,
    tags=("orders", "stats"),
)
def orders_price_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price-point heaping census on the cents endings of order
    totals: the share ending in .00 (round-number heaping) and .99
    (charm pricing), the modal ending (max count, min-ending
    tiebreak — deterministic), and the χ² uniformity test over the
    100 possible endings against the pinned df = 99 critical value
    123.225 — the round-number forensic that catches hand-entered
    or psychologically-priced data, complementing orders_benford's
    first-digit law (which round-number heaping does NOT violate).
    Counts are PURE INTEGER; χ² terms use the exact n/100 expected
    value; the verdict compares the ROUNDED statistic.

    Scale shape: one map-side mod-100 grid reduce (≤100 rows), two
    1-row probes, one χ² reduce."""
    o = tbl(spark, sf_dir, "orders")
    v = o.select(
        ((dec2("o_totalprice") * 100).cast("long") % 100).alias("ending")
    )
    g = v.groupBy("ending").agg(F.count(F.lit(1)).cast("long").alias("c"))
    n = g.agg(F.sum("c").cast("long").alias("n"))
    chi = g.crossJoin(F.broadcast(n)).agg(
        F.sum(
            F.pow(F.col("c") - F.col("n").cast("double") / 100, F.lit(2))
            / (F.col("n").cast("double") / 100)
        ).alias("chi2"),
        F.count(F.lit(1)).cast("long").alias("endings_seen"),
    )
    cmax = g.agg(F.max("c").alias("cmax"))
    top = (
        g.crossJoin(F.broadcast(cmax))
        .filter(F.col("c") == F.col("cmax"))
        .agg(F.min("ending").alias("modal_ending"))
    )
    s00 = g.filter(F.col("ending") == 0).agg(
        F.coalesce(F.max("c"), F.lit(0)).alias("c00")
    )
    s99 = g.filter(F.col("ending") == 99).agg(
        F.coalesce(F.max("c"), F.lit(0)).alias("c99")
    )
    return (
        n.crossJoin(F.broadcast(chi))
        .crossJoin(F.broadcast(top))
        .crossJoin(F.broadcast(s00))
        .crossJoin(F.broadcast(s99))
        .select(
            F.col("n").alias("n_orders"),
            "endings_seen",
            F.round(F.col("c00").cast("double") / F.col("n"), 6).alias(
                "share_00"
            ),
            F.round(F.col("c99").cast("double") / F.col("n"), 6).alias(
                "share_99"
            ),
            "modal_ending",
            F.round(F.col("chi2"), 2).alias("chi2_uniform"),
            (F.round(F.col("chi2"), 2) > _CHI2_99_95).alias("heaped"),
        )
    )
