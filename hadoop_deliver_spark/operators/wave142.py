"""§2 extensions, hundred-forty-second wave — distribution overlap
and circular-sensitive two-sample testing.

- agg_ovl_coefficient: the overlap coefficient OVL = Σ min(p, q)
  between closed and open order-value histograms — 'what fraction
  of the two distributions is literally the same mass', the
  plain-language companion of agg_hellinger_distance and
  agg_wasserstein_1d.
- agg_kuiper_2sample: the two-sample Kuiper statistic V = D⁺ + D⁻
  on exact integer CDFs — equally sensitive across the whole
  support (KS concentrates power at the median); the two-sample
  sibling of orders_watson_u2 / agg_kuiper_weekday.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_deliver_spark.registry import register
from hadoop_deliver_spark.tables import dec2, tbl

_BIN = 2_500_000  # cents: $25k histogram bins


@register(
    "agg_ovl_coefficient",
    f"""
    WITH v AS (
        SELECT CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 2 END AS g,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                   // {_BIN} AS b
        FROM orders
    ),
    grid AS (
        SELECT b,
               CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS c1,
               CAST(sum(CASE WHEN g = 2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS c2
        FROM v GROUP BY 1
    ),
    n AS (
        SELECT CAST(sum(c1) AS BIGINT) AS n1,
               CAST(sum(c2) AS BIGINT) AS n2
        FROM grid
    ),
    ovl AS (
        SELECT sum(least(CAST(g.c1 AS DOUBLE) / n.n1,
                         CAST(g.c2 AS DOUBLE) / n.n2)) AS ovl,
               CAST(count(*) AS BIGINT) AS n_bins,
               CAST(sum(CASE WHEN g.c1 > 0 AND g.c2 > 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS shared_bins
        FROM grid g, n
    )
    SELECT n.n1 AS n_closed, n.n2 AS n_open,
           o.n_bins, o.shared_bins,
           round(o.ovl, 6) AS ovl_coefficient,
           round(1 - o.ovl, 6) AS tv_distance,
           round(o.ovl, 6) > 0.9 AS near_identical
    FROM n, ovl o
    """,
    tags=("aggregate", "stats"),
)
def agg_ovl_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlap coefficient between the closed ('F') and open order
    value distributions on pinned $25k histogram bins:
    OVL = Σ_b min(p_b, q_b) — the shared probability mass, whose
    complement 1 − OVL is exactly the (binned) total-variation
    distance. The plain-language member of the distance family:
    agg_hellinger_distance bounds it, agg_wasserstein_1d prices the
    transport, OVL says 'X % of these two businesses look
    identical'. Bin counts are PURE INTEGER (integer division by
    the pinned width); one min of two exact-ratio divisions per bin,
    one bounded sum.

    Scale shape: one map-side binned 2-count reduce (bins bounded
    by the price domain), one 1-row totals frame, one bounded
    reduce."""
    o = tbl(spark, sf_dir, "orders")
    v = o.select(
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(2).alias("g"),
        F.expr(
            f"div(cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint),"
            f" {_BIN})"
        ).alias("b"),
    )
    grid = v.groupBy("b").agg(
        F.sum(F.when(F.col("g") == 1, 1).otherwise(0))
        .cast("long")
        .alias("c1"),
        F.sum(F.when(F.col("g") == 2, 1).otherwise(0))
        .cast("long")
        .alias("c2"),
    )
    n = grid.agg(
        F.sum("c1").cast("long").alias("n1"),
        F.sum("c2").cast("long").alias("n2"),
    )
    ovl = grid.crossJoin(F.broadcast(n)).agg(
        F.sum(
            F.least(
                F.col("c1").cast("double") / F.col("n1"),
                F.col("c2").cast("double") / F.col("n2"),
            )
        ).alias("ovl"),
        F.count(F.lit(1)).cast("long").alias("n_bins"),
        F.sum(
            F.when((F.col("c1") > 0) & (F.col("c2") > 0), 1).otherwise(0)
        )
        .cast("long")
        .alias("shared_bins"),
    )
    return n.crossJoin(F.broadcast(ovl)).select(
        F.col("n1").alias("n_closed"),
        F.col("n2").alias("n_open"),
        "n_bins",
        "shared_bins",
        F.round(F.col("ovl"), 6).alias("ovl_coefficient"),
        F.round(1 - F.col("ovl"), 6).alias("tv_distance"),
        (F.round(F.col("ovl"), 6) > 0.9).alias("near_identical"),
    )


@register(
    "agg_kuiper_2sample",
    """
    WITH v AS (
        SELECT CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 2 END AS g,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                   AS cents
        FROM orders
    ),
    grid AS (
        SELECT cents,
               CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS c1,
               CAST(sum(CASE WHEN g = 2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS c2
        FROM v GROUP BY 1
    ),
    n AS (
        SELECT CAST(sum(c1) AS BIGINT) AS n1,
               CAST(sum(c2) AS BIGINT) AS n2
        FROM grid
    ),
    cdf AS (
        SELECT cents,
               CAST(sum(c1) OVER w AS BIGINT) AS cum1,
               CAST(sum(c2) OVER w AS BIGINT) AS cum2
        FROM grid
        WINDOW w AS (ORDER BY cents ROWS UNBOUNDED PRECEDING)
    ),
    dev AS (
        SELECT max(cum1 * n.n2 - cum2 * n.n1) AS dplus_num,
               max(cum2 * n.n1 - cum1 * n.n2) AS dminus_num
        FROM cdf, n
    )
    SELECT n.n1 AS n_closed, n.n2 AS n_open,
           round(CAST(greatest(d.dplus_num, 0) AS DOUBLE)
                 / (CAST(n.n1 AS DOUBLE) * n.n2), 6) AS d_plus,
           round(CAST(greatest(d.dminus_num, 0) AS DOUBLE)
                 / (CAST(n.n1 AS DOUBLE) * n.n2), 6) AS d_minus,
           round((CAST(greatest(d.dplus_num, 0) AS DOUBLE)
                  + greatest(d.dminus_num, 0))
                 / (CAST(n.n1 AS DOUBLE) * n.n2), 6) AS kuiper_v,
           round((CAST(greatest(d.dplus_num, 0) AS DOUBLE)
                  + greatest(d.dminus_num, 0))
                 / (CAST(n.n1 AS DOUBLE) * n.n2)
                 * sqrt(CAST(n.n1 AS DOUBLE) * n.n2 / (n.n1 + n.n2)), 4)
               AS v_scaled,
           round((CAST(greatest(d.dplus_num, 0) AS DOUBLE)
                  + greatest(d.dminus_num, 0))
                 / (CAST(n.n1 AS DOUBLE) * n.n2)
                 * sqrt(CAST(n.n1 AS DOUBLE) * n.n2 / (n.n1 + n.n2)), 4)
               > 1.747 AS reject_5pct
    FROM n, dev d
    """,
    tags=("aggregate", "stats"),
)
def agg_kuiper_2sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kuiper test between closed and open order values:
    V = D⁺ + D⁻ where D⁺ = max(F₁ − F₂) and D⁻ = max(F₂ − F₁) are
    computed as PURE INTEGER maxima of cum₁·n₂ − cum₂·n₁ on the
    merged-grid CDFs (the agg_wasserstein_1d device, maxima instead
    of the Δx-weighted sum) — V weighs the tails as heavily as the
    middle, the known blind spot of the plain KS supremum
    (agg_ks_test). The scaled statistic √(n₁n₂/(n₁+n₂))·V is
    compared to the asymptotic 5 % critical value 1.747 on the
    ROUNDED value. Only two float divisions exist in the whole
    query.

    Scale shape: one 2-count grid reduce, two block-ranked cumsums,
    one integer max reduce, closed-form scalars."""
    from hadoop_deliver_spark.api import exact_global_keyed_cumsum

    o = tbl(spark, sf_dir, "orders")
    v = o.select(
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(2).alias("g"),
        (dec2("o_totalprice") * 100).cast("long").alias("cents"),
    )
    grid = v.groupBy("cents").agg(
        F.sum(F.when(F.col("g") == 1, 1).otherwise(0))
        .cast("long")
        .alias("c1"),
        F.sum(F.when(F.col("g") == 2, 1).otherwise(0))
        .cast("long")
        .alias("c2"),
    )
    n = grid.agg(
        F.sum("c1").cast("long").alias("n1"),
        F.sum("c2").cast("long").alias("n2"),
    )
    # r12: one multi-measure block-ranked pass for both CDFs
    cdf = exact_global_keyed_cumsum(
        grid, "cents", ["c1", "c2"], "cents", ["cum1", "cum2"]
    )
    dev = cdf.crossJoin(F.broadcast(n)).agg(
        F.max(F.col("cum1") * F.col("n2") - F.col("cum2") * F.col("n1"))
        .alias("dplus_num"),
        F.max(F.col("cum2") * F.col("n1") - F.col("cum1") * F.col("n2"))
        .alias("dminus_num"),
    )
    nn = F.col("n1").cast("double") * F.col("n2")
    dp = F.greatest(F.col("dplus_num"), F.lit(0)).cast("double") / nn
    dm = F.greatest(F.col("dminus_num"), F.lit(0)).cast("double") / nn
    vstat = dp + dm
    scaled = F.round(
        vstat * F.sqrt(nn / (F.col("n1") + F.col("n2"))), 4
    )
    return n.crossJoin(F.broadcast(dev)).select(
        F.col("n1").alias("n_closed"),
        F.col("n2").alias("n_open"),
        F.round(dp, 6).alias("d_plus"),
        F.round(dm, 6).alias("d_minus"),
        F.round(vstat, 6).alias("kuiper_v"),
        scaled.alias("v_scaled"),
        (scaled > 1.747).alias("reject_5pct"),
    )
