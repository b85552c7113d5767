"""§2 extensions, hundred-sixteenth wave — distribution distances
from exact CDF algebra: 1-D Wasserstein and the energy distance.

- agg_wasserstein_1d: the exact earth-mover (Wasserstein-1)
  distance between closed vs open order-value distributions —
  ∫|F₁−F₂|dx on the merged value grid, PURE INTEGER until one final
  division; the transport-metric complement of agg_ks_test's sup
  norm and agg_hellinger_distance's binned density form.
- agg_energy_distance: Székely's energy distance
  E = 2·E|X−Y| − E|X−X'| − E|Y−Y'| with every pairwise-|difference|
  sum computed in O(m) from grid cumsums (NO pairwise join), plus
  the (n₁n₂/(n₁+n₂))·E test statistic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_deliver_spark.registry import register
from hadoop_deliver_spark.tables import dec2, tbl

_GRID_SQL = """
    v AS (
        SELECT CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 2 END AS g,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                   AS cents
        FROM orders
    ),
    grid AS (
        SELECT cents,
               CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
               CAST(sum(CASE WHEN g = 2 THEN 1 ELSE 0 END) AS BIGINT) AS c2
        FROM v GROUP BY 1
    ),
    n AS (
        SELECT CAST(sum(c1) AS BIGINT) AS n1,
               CAST(sum(c2) AS BIGINT) AS n2,
               CAST(sum(c1 * cents) AS BIGINT) AS s1,
               CAST(sum(c2 * cents) AS BIGINT) AS s2
        FROM grid
    ),
    cdf AS (
        SELECT cents, c1, c2,
               CAST(sum(c1) OVER w AS BIGINT) AS cum1,
               CAST(sum(c2) OVER w AS BIGINT) AS cum2,
               CAST(sum(c1 * cents) OVER w AS BIGINT) AS scum1,
               CAST(sum(c2 * cents) OVER w AS BIGINT) AS scum2
        FROM grid
        WINDOW w AS (ORDER BY cents ROWS UNBOUNDED PRECEDING)
    )
"""


@register(
    "agg_wasserstein_1d",
    f"""
    WITH {_GRID_SQL},
    ranked AS (
        SELECT cents, cum1, cum2,
               row_number() OVER (ORDER BY cents) AS r
        FROM cdf
    ),
    steps AS (
        SELECT a.cents, b.cents AS next_cents, a.cum1, a.cum2
        FROM ranked a JOIN ranked b ON b.r = a.r + 1
    ),
    acc AS (
        SELECT CAST(sum(CAST(abs(cum1 * n.n2 - cum2 * n.n1) AS HUGEINT)
                        * (next_cents - cents)) AS DOUBLE) AS w1num
        FROM steps, n
    )
    SELECT n.n1 AS n_closed, n.n2 AS n_open,
           round(acc.w1num / n.n1 / n.n2 / 100, 4) AS wasserstein_1,
           round(abs(CAST(n.s1 AS DOUBLE) / n.n1
                     - CAST(n.s2 AS DOUBLE) / n.n2) / 100, 4)
               AS mean_gap,
           round(acc.w1num / n.n1 / n.n2
                 / abs(CAST(n.s1 AS DOUBLE) / n.n1
                       - CAST(n.s2 AS DOUBLE) / n.n2), 4)
               AS w1_over_mean_gap
    FROM acc, n
    """,
    tags=("aggregate", "stats"),
)
def agg_wasserstein_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 1-D Wasserstein-1 (earth-mover) distance between the
    closed ('F') and open/partial order-value distributions:
    W₁ = ∫|F₁ − F₂|dx evaluated on the merged distinct-cents grid as
    Σᵢ |cum1ᵢ·n₂ − cum2ᵢ·n₁|·Δxᵢ / (n₁n₂) — the numerator is PURE
    INTEGER (HUGEINT/DECIMAL(38,0) accumulation; per-term ≤ n₁n₂·Δx
    ≈ 10¹⁷ at sf0.1, the sum is what needs 128 bits), one float
    division at the end. Δx comes from an equi-join on EXACT integer
    rank r ↔ r+1 (block-ranked, no single-partition window; the last
    grid row drops out exactly where D_m = 0). W₁ ≥ |μ₁ − μ₂| always
    — the mean_gap row is the built-in lower-bound sanity check.
    Complements agg_ks_test (sup-norm) with the transport metric the
    ML-drift literature prefers.

    Scale shape: one 2-count grid reduce, two block-ranked cumsums +
    one block-ranked rank, a shuffle equi-join on rank, one reduce."""
    from hadoop_deliver_spark.api import (
        exact_global_keyed_cumsum,
        exact_global_rank,
    )

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
        F.sum(F.col("c1") * F.col("cents")).cast("long").alias("s1"),
        F.sum(F.col("c2") * F.col("cents")).cast("long").alias("s2"),
    )
    # r12: both running sums share the (cents, cents) axis — one
    # multi-measure block-ranked pass (see agg_energy_distance).
    cdf = exact_global_keyed_cumsum(
        grid, "cents", ["c1", "c2"], "cents", ["cum1", "cum2"]
    )
    ranked = exact_global_rank(cdf, "cents", "cents", "r")
    nxt = ranked.select(
        (F.col("r") - 1).alias("r"), F.col("cents").alias("next_cents")
    )
    steps = ranked.join(nxt, "r").crossJoin(F.broadcast(n))
    acc = steps.agg(
        F.sum(
            F.abs(
                F.col("cum1") * F.col("n2") - F.col("cum2") * F.col("n1")
            ).cast("decimal(38,0)")
            * (F.col("next_cents") - F.col("cents"))
        )
        .cast("double")
        .alias("w1num")
    )
    mg = F.abs(
        F.col("s1").cast("double") / F.col("n1")
        - F.col("s2").cast("double") / F.col("n2")
    )
    return acc.crossJoin(F.broadcast(n)).select(
        F.col("n1").alias("n_closed"),
        F.col("n2").alias("n_open"),
        F.round(F.col("w1num") / F.col("n1") / F.col("n2") / 100, 4).alias(
            "wasserstein_1"
        ),
        F.round(mg / 100, 4).alias("mean_gap"),
        F.round(F.col("w1num") / F.col("n1") / F.col("n2") / mg, 4).alias(
            "w1_over_mean_gap"
        ),
    )


@register(
    "agg_energy_distance",
    f"""
    WITH {_GRID_SQL},
    terms AS (
        SELECT
            CAST(sum(CAST(c1 AS HUGEINT)
                 * (cents * cum2 - scum2
                    + (n.s2 - scum2) - cents * (n.n2 - cum2)))
                 AS DOUBLE) AS bxy,
            CAST(sum(CAST(c1 AS HUGEINT)
                 * (cents * cum1 - scum1
                    + (n.s1 - scum1) - cents * (n.n1 - cum1)))
                 AS DOUBLE) AS wxx,
            CAST(sum(CAST(c2 AS HUGEINT)
                 * (cents * cum2 - scum2
                    + (n.s2 - scum2) - cents * (n.n2 - cum2)))
                 AS DOUBLE) AS wyy
        FROM cdf, n
    )
    SELECT n.n1 AS n_closed, n.n2 AS n_open,
           round(t.bxy / n.n1 / n.n2 / 100, 4) AS mean_cross_dist,
           round(t.wxx / n.n1 / n.n1 / 100, 4) AS mean_within_closed,
           round(t.wyy / n.n2 / n.n2 / 100, 4) AS mean_within_open,
           round((2 * t.bxy / n.n1 / n.n2 - t.wxx / n.n1 / n.n1
                  - t.wyy / n.n2 / n.n2) / 100, 4) AS energy_dist,
           round(CAST(n.n1 AS DOUBLE) * n.n2 / (n.n1 + n.n2)
                 * (2 * t.bxy / n.n1 / n.n2 - t.wxx / n.n1 / n.n1
                    - t.wyy / n.n2 / n.n2) / 100, 4) AS energy_stat
    FROM terms t, n
    """,
    tags=("aggregate", "stats"),
)
def agg_energy_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Székely's energy distance between closed and open order-value
    distributions: E = 2·E|X−Y| − E|X−X'| − E|Y−Y'| (V-statistic
    convention, diagonal zeros included) and the two-sample energy
    statistic (n₁n₂/(n₁+n₂))·E that the energy test permutes. The
    trick: every pairwise-|difference| double sum collapses to ONE
    pass over the merged grid via Σ_a Σ_b |a−b| =
    Σ_a c_a·[a·N≤(a) − S≤(a) + (S − S≤(a)) − a·(N − N≤(a))] with
    inclusive-tie cumulative count N≤ and value-sum S≤ — ties
    contribute 0 either way, so the inclusive convention is safe.
    PURE INTEGER per-row brackets (≤ ~10¹³ at sf0.1) accumulated in
    HUGEINT/DECIMAL(38,0); three float divisions at the end. E ≥ 0
    always, = 0 iff the distributions coincide — and E(metric) ≤
    2·W₁ links it to agg_wasserstein_1d.

    Scale shape: one 2-count grid reduce, four block-ranked cumsums
    on the same grid, one reduce. No pairwise join anywhere."""
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
    grid = grid.withColumn("v1", F.col("c1") * F.col("cents")).withColumn(
        "v2", F.col("c2") * F.col("cents")
    )
    n = grid.agg(
        F.sum("c1").cast("long").alias("n1"),
        F.sum("c2").cast("long").alias("n2"),
        F.sum("v1").cast("long").alias("s1"),
        F.sum("v2").cast("long").alias("s2"),
    )
    # r12: all four running sums share the (cents, cents) axis — one
    # multi-measure block-ranked pass replaces the four chained cores
    # (one materialize + one split probe + one window instead of four
    # of each); results bit-identical (exact sums at any blocking).
    cdf = exact_global_keyed_cumsum(
        grid,
        "cents",
        ["c1", "c2", "v1", "v2"],
        "cents",
        ["cum1", "cum2", "scum1", "scum2"],
    )
    j = cdf.crossJoin(F.broadcast(n))

    def _sum_absdiff(c_col: str, cum: str, scum: str, ntot: str, stot: str):
        bracket = (
            F.col("cents") * F.col(cum)
            - F.col(scum)
            + (F.col(stot) - F.col(scum))
            - F.col("cents") * (F.col(ntot) - F.col(cum))
        )
        return (
            F.sum(F.col(c_col).cast("decimal(38,0)") * bracket)
            .cast("double")
        )

    terms = j.agg(
        _sum_absdiff("c1", "cum2", "scum2", "n2", "s2").alias("bxy"),
        _sum_absdiff("c1", "cum1", "scum1", "n1", "s1").alias("wxx"),
        _sum_absdiff("c2", "cum2", "scum2", "n2", "s2").alias("wyy"),
    )
    e = (
        2 * F.col("bxy") / F.col("n1") / F.col("n2")
        - F.col("wxx") / F.col("n1") / F.col("n1")
        - F.col("wyy") / F.col("n2") / F.col("n2")
    )
    return terms.crossJoin(F.broadcast(n)).select(
        F.col("n1").alias("n_closed"),
        F.col("n2").alias("n_open"),
        F.round(F.col("bxy") / F.col("n1") / F.col("n2") / 100, 4).alias(
            "mean_cross_dist"
        ),
        F.round(F.col("wxx") / F.col("n1") / F.col("n1") / 100, 4).alias(
            "mean_within_closed"
        ),
        F.round(F.col("wyy") / F.col("n2") / F.col("n2") / 100, 4).alias(
            "mean_within_open"
        ),
        F.round(e / 100, 4).alias("energy_dist"),
        F.round(
            F.col("n1").cast("double")
            * F.col("n2")
            / (F.col("n1") + F.col("n2"))
            * e
            / 100,
            4,
        ).alias("energy_stat"),
    )
