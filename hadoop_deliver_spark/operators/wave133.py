"""§2 extensions, hundred-thirty-third wave — network robustness and
fluctuation scaling.

- graph_percolation: Molloy–Reed percolation criterion on the user
  co-activity graph — κ = ⟨k²⟩/⟨k⟩, the giant-component condition
  κ > 2, and the critical random-failure fraction f_c = 1 − 1/(κ−1);
  the robustness number the degree distribution implies, completing
  graph_degree_stats → graph_assortativity → here.
- agg_taylor_power_law: Taylor's power law (variance ≈ a·meanᵇ
  across groups) fitted log-log over the 25 nation order-value
  groups — b ≈ 1 Poisson-like, b ≈ 2 clustered; the
  fluctuation-scaling exponent ecology and ops monitoring share.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_deliver_spark.registry import register
from hadoop_deliver_spark.tables import dec2, tbl


@register(
    "graph_percolation",
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
    mom AS (
        SELECT CAST(count(*) AS BIGINT) AS n_nodes,
               CAST(sum(k) AS BIGINT) AS sk,
               CAST(sum(CAST(k AS HUGEINT) * k) AS DOUBLE) AS sk2,
               CAST(max(k) AS BIGINT) AS k_max
        FROM deg
    )
    SELECT n_nodes, sk // 2 AS n_edges, k_max,
           round(CAST(sk AS DOUBLE) / n_nodes, 4) AS mean_degree,
           round(sk2 / sk, 4) AS kappa,
           sk2 / sk > 2.0 AS has_giant_component,
           round(CASE WHEN sk2 / sk > 1.0
                 THEN 1.0 - 1.0 / (sk2 / sk - 1.0) END, 6)
               AS critical_failure_frac
    FROM mom
    """,
    tags=("graph", "analytics"),
)
def graph_percolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Molloy–Reed percolation criterion (1995) on the user
    co-activity graph (same edge rule as graph_triangle_count: two
    users active the same calendar day, oriented u < v): with
    κ = ⟨k²⟩/⟨k⟩ computed from exact integer degree moments, a giant
    component exists iff κ > 2, and the graph survives random
    removal of up to f_c = 1 − 1/(κ − 1) of its nodes — the
    robustness bound scale-free networks famously push toward 1.
    Degree moments are HUGEINT/DECIMAL-exact; κ and f_c are two
    float divisions, and the giant-component verdict compares the
    unrounded ratio (a κ parked exactly on 2.0 is measure-zero on
    integer moments — both engines compute the identical division).

    Scale shape: the per-day edge fan-out (bounded like the
    triangle operator), one UNION-ALL endpoint unpivot, one degree
    reduce, one 4-sum moment reduce. Degrees come from
    api.co_membership_graph: neighbor-bitmap popcounts inside its
    dense gate (no quadratic pair fan-out), endpoint counts over the
    block-equi-join edges past it."""
    from hadoop_deliver_spark.api import co_membership_graph

    e = tbl(spark, sf_dir, "events")
    du = e.select(F.to_date("ts").alias("day"), "user_id")
    deg = co_membership_graph(du, "day", "user_id")[1].withColumnRenamed(
        "degree", "k"
    )
    mom = deg.agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.sum("k").cast("long").alias("sk"),
        F.sum(F.col("k").cast("decimal(38,0)") * F.col("k"))
        .cast("double")
        .alias("sk2"),
        F.max("k").cast("long").alias("k_max"),
    )
    kappa = F.col("sk2") / F.col("sk")
    return mom.select(
        "n_nodes",
        F.expr("div(sk, 2)").cast("long").alias("n_edges"),
        "k_max",
        F.round(F.col("sk").cast("double") / F.col("n_nodes"), 4).alias(
            "mean_degree"
        ),
        F.round(kappa, 4).alias("kappa"),
        (kappa > 2.0).alias("has_giant_component"),
        F.round(
            F.when(kappa > 1.0, 1.0 - 1.0 / (kappa - 1.0)), 6
        ).alias("critical_failure_frac"),
    )


@register(
    "agg_taylor_power_law",
    """
    WITH j AS (
        SELECT c.c_nationkey AS nation,
               CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                   AS cents
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    g AS (
        SELECT nation, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(cents) AS BIGINT) AS s,
               CAST(sum(CAST(cents AS HUGEINT) * cents) AS DOUBLE) AS q
        FROM j GROUP BY 1
    ),
    mv AS (
        SELECT nation,
               ln(CAST(s AS DOUBLE) / n / 100) AS lm,
               ln((q - CAST(s AS DOUBLE) * s / n) / (n - 1) / 10000) AS lv
        FROM g WHERE n >= 2
    ),
    fit AS (
        SELECT CAST(count(*) AS BIGINT) AS k,
               avg(lm) AS mx, avg(lv) AS my,
               sum(lm * lv) AS sxy, sum(lm * lm) AS sxx,
               sum(lv * lv) AS syy
        FROM mv
    )
    SELECT k AS n_groups,
           round((sxy - k * mx * my) / (sxx - k * mx * mx), 4)
               AS taylor_b,
           round(my - (sxy - k * mx * my) / (sxx - k * mx * mx) * mx, 4)
               AS taylor_ln_a,
           round(pow(sxy - k * mx * my, 2)
                 / ((sxx - k * mx * mx) * (syy - k * my * my)), 4)
               AS r2,
           round((sxy - k * mx * my) / (sxx - k * mx * mx), 4) > 1.5
               AS clustered
    FROM fit
    """,
    tags=("aggregate", "stats"),
)
def agg_taylor_power_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Taylor's power law (Taylor 1961): across the 25 nation groups,
    does order-value variance scale as a power of the mean? Fit
    ln(var) = ln(a) + b·ln(mean) by OLS over the group points —
    the intercept is reported as ln(a) (its exponential is ~10¹⁰ on
    this fixture, where absolute round-4 has no meaning) — (means
    and sample variances from exact integer moments, reported in
    dollar units — the /100 and /10000 rescales only shift ln a, not
    b). b ≈ 1 is Poisson-like independence, b ≈ 2 is fully clustered
    (variance ∝ mean²: a common-multiplier environment); monitoring
    systems use b to calibrate anomaly thresholds that scale with
    traffic. The verdict compares the ROUNDED slope to the pinned
    1.5 midpoint.

    Scale shape: one broadcast join + keyed reduce to 25 group
    rows, one 5-sum log reduce, closed-form scalars."""
    o = tbl(spark, sf_dir, "orders")
    c = tbl(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    g = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_nationkey").alias("nation"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum((dec2("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("s"),
            F.sum(
                (dec2("o_totalprice") * 100)
                .cast("long")
                .cast("decimal(38,0)")
                * (dec2("o_totalprice") * 100).cast("long")
            )
            .cast("double")
            .alias("q"),
        )
    )
    mv = g.filter(F.col("n") >= 2).select(
        F.log(F.col("s").cast("double") / F.col("n") / 100).alias("lm"),
        F.log(
            (F.col("q") - F.col("s").cast("double") * F.col("s") / F.col("n"))
            / (F.col("n") - 1)
            / 10000
        ).alias("lv"),
    )
    fit = mv.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.avg("lm").alias("mx"),
        F.avg("lv").alias("my"),
        F.sum(F.col("lm") * F.col("lv")).alias("sxy"),
        F.sum(F.col("lm") * F.col("lm")).alias("sxx"),
        F.sum(F.col("lv") * F.col("lv")).alias("syy"),
    )
    b = (F.col("sxy") - F.col("k") * F.col("mx") * F.col("my")) / (
        F.col("sxx") - F.col("k") * F.col("mx") * F.col("mx")
    )
    return fit.select(
        F.col("k").alias("n_groups"),
        F.round(b, 4).alias("taylor_b"),
        F.round(F.col("my") - b * F.col("mx"), 4).alias("taylor_ln_a"),
        F.round(
            F.pow(F.col("sxy") - F.col("k") * F.col("mx") * F.col("my"), F.lit(2))
            / (
                (F.col("sxx") - F.col("k") * F.col("mx") * F.col("mx"))
                * (F.col("syy") - F.col("k") * F.col("my") * F.col("my"))
            ),
            4,
        ).alias("r2"),
        (F.round(b, 4) > 1.5).alias("clustered"),
    )
