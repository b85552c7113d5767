"""§2 extensions, hundred-fifty-ninth wave — survival family
completion: early-difference weighting and the restricted mean.

- events_survival_gehan: the Gehan–Breslow–Wilcoxon test — the
  log-rank with at-risk-count weights, so EARLY survival
  differences dominate (the standard companion the referee asks for
  when events_survival_logrank is reported, because the two tests
  disagree exactly when hazards cross).
- events_survival_rmst: restricted mean survival time — the area
  under the KM curve to τ, the modern replacement for median
  survival when curves plateau; reported for the same conversion
  cohort as events_survival_km, per parity group and pooled.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from hadoop_deliver_spark import api
from hadoop_deliver_spark.operators.wave46 import (
    parity_lives,
    parity_risk_pivot,
)
from hadoop_deliver_spark.registry import register

_CHI2_1_95 = "3.841459"
_TAU = 5  # the KM cutoff construction bounds t_obs to [0, 5] days

_LIVES_SQL = """
    b AS (SELECT CAST(min(ts) AS DATE) + 5 AS cutoff FROM events),
    u AS (
        SELECT user_id, min(CAST(ts AS DATE)) AS first_d,
               min(CASE WHEN event_type = 'purchase'
                        THEN CAST(ts AS DATE) END) AS purch_d
        FROM events GROUP BY user_id
    ),
    lives AS (
        SELECT CASE WHEN user_id % 2 = 0 THEN 'even' ELSE 'odd' END AS grp,
               CASE WHEN purch_d IS NOT NULL AND purch_d <= cutoff
                    THEN datediff('day', first_d, purch_d)
                    ELSE datediff('day', first_d, cutoff) END AS t_obs,
               (purch_d IS NOT NULL AND purch_d <= cutoff) AS died
        FROM u, b WHERE first_d <= cutoff
    )
"""


@register(
    "events_survival_gehan",
    f"""
    WITH {_LIVES_SQL},
    lt AS (
        SELECT grp, t_obs, CAST(count(*) AS BIGINT) AS n_tot,
               CAST(count(*) FILTER (died) AS BIGINT) AS d
        FROM lives GROUP BY grp, t_obs
    ),
    grid AS (
        SELECT g.grp, t.t_obs
        FROM (SELECT DISTINCT t_obs FROM lt) t
        CROSS JOIN (VALUES ('even'), ('odd')) g(grp)
    ),
    risk AS (
        SELECT grid.grp, grid.t_obs,
               CAST(coalesce(lt.d, 0) AS BIGINT) AS d,
               CAST(sum(coalesce(lt.n_tot, 0)) OVER (
                   PARTITION BY grid.grp ORDER BY grid.t_obs DESC
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_risk
        FROM grid LEFT JOIN lt
          ON lt.grp = grid.grp AND lt.t_obs = grid.t_obs
    ),
    piv AS (
        SELECT t_obs,
               CAST(sum(CASE WHEN grp = 'even' THEN d END) AS BIGINT) AS d1,
               CAST(sum(CASE WHEN grp = 'even' THEN n_risk END)
                    AS BIGINT) AS n1,
               CAST(sum(d) AS BIGINT) AS d,
               CAST(sum(n_risk) AS BIGINT) AS n
        FROM risk GROUP BY t_obs
    ),
    terms AS (
        SELECT CAST(n AS DOUBLE) * (d1 - CAST(d AS DOUBLE) * n1 / n) AS wt,
               CASE WHEN n > 1 THEN
                   CAST(n AS DOUBLE) * n
                   * (CAST(d AS DOUBLE) * (CAST(n1 AS DOUBLE) / n)
                      * (1.0 - CAST(n1 AS DOUBLE) / n) * (n - d) / (n - 1))
               ELSE 0.0 END AS wv
        FROM piv WHERE d > 0
    ),
    s AS (SELECT sum(wt) AS u, sum(wv) AS v FROM terms),
    tot AS (
        SELECT CAST(count(*) FILTER (grp = 'even') AS BIGINT) AS n_even,
               CAST(count(*) FILTER (grp = 'odd') AS BIGINT) AS n_odd
        FROM lives
    )
    SELECT n_even, n_odd,
           round(u, 6) AS gehan_u,
           round(u * u / v, 6) AS chi2,
           u * u > {_CHI2_1_95} * v AS significant
    FROM s, tot
    """,
    tags=("events", "stats", "survival"),
)
def events_survival_gehan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gehan–Breslow–Wilcoxon test (Gehan 1965, Breslow 1970) on the
    :func:`parity_lives` conversion cohort: the log-rank's per-time
    terms (O₁ₜ − E₁ₜ, Vₜ) reweighted by the TOTAL at-risk count nₜ —
    U = Σ nₜ(d₁ₜ − dₜn₁ₜ/nₜ), Var = Σ nₜ²·Vₜ, χ² = U²/Var vs χ²₁.
    Early event times carry the full cohort's weight, late ones only
    the survivors', so Gehan beats the unweighted
    events_survival_logrank when the hazard gap is front-loaded and
    loses when it is proportional — reporting both is the standard
    referee request precisely because their disagreement localizes
    WHERE the curves part. The per-time table is log-rank's own
    (:func:`parity_risk_pivot`); the weights multiply exact integer
    at-risk counts, and the significance flag cross-multiplies
    U² > χ²crit·Var. With Var = 0, χ² is NULL, as in SQL."""
    piv, tot = parity_risk_pivot(spark, sf_dir)
    n, n1, d = F.col("n"), F.col("n1"), F.col("d")
    wt = n.cast("double") * (
        F.col("d1") - d.cast("double") * n1 / n
    )
    vv = F.when(
        n > 1,
        n.cast("double")
        * n
        * (
            d.cast("double")
            * (n1.cast("double") / n)
            * (1.0 - n1.cast("double") / n)
            * (n - d)
            / (n - 1)
        ),
    ).otherwise(F.lit(0.0))
    terms = piv.select(wt.alias("wt"), vv.alias("wv"))
    s = terms.agg(F.sum("wt").alias("u"), F.sum("wv").alias("v"))
    return (
        s.crossJoin(F.broadcast(tot))
        .select(
            "n_even",
            "n_odd",
            F.round("u", 6).alias("gehan_u"),
            F.round(
                F.try_divide(F.col("u") * F.col("u"), F.col("v")), 6
            ).alias("chi2"),
            (
                F.col("u") * F.col("u")
                > float(_CHI2_1_95) * F.col("v")
            ).alias("significant"),
        )
    )


@register(
    "events_survival_rmst",
    f"""
    WITH {_LIVES_SQL},
    lt AS (
        SELECT grp, t_obs,
               CAST(count(*) AS BIGINT) AS n_total,
               CAST(count(*) FILTER (died) AS BIGINT) AS deaths
        FROM lives GROUP BY grp, t_obs
    ),
    risk AS (
        SELECT grp, t_obs, deaths,
               CAST(sum(n_total) OVER (PARTITION BY grp
                    ORDER BY t_obs DESC ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) AS at_risk
        FROM lt
    ),
    km AS (
        SELECT grp, t_obs,
               exp(sum(CASE WHEN at_risk > deaths
                            THEN ln(1.0 - CAST(deaths AS DOUBLE) / at_risk)
                            ELSE 0.0 END)
                   OVER (PARTITION BY grp ORDER BY t_obs
                         ROWS UNBOUNDED PRECEDING))
                 * (1 - max(CASE WHEN deaths = at_risk THEN 1 ELSE 0 END)
                        OVER (PARTITION BY grp ORDER BY t_obs
                              ROWS UNBOUNDED PRECEDING)) AS surv
        FROM risk WHERE deaths > 0
    ),
    seg AS (
        SELECT grp, t_obs, surv,
               coalesce(lead(t_obs) OVER (PARTITION BY grp ORDER BY t_obs),
                        {_TAU}) AS t_next,
               row_number() OVER (PARTITION BY grp ORDER BY t_obs) AS k
        FROM km WHERE t_obs < {_TAU}
    ),
    area AS (
        SELECT grp,
               sum(surv * (t_next - t_obs)) AS tail,
               max(CASE WHEN k = 1 THEN t_obs END) AS t_first
        FROM seg GROUP BY grp
    )
    SELECT grp AS cohort_group,
           round(t_first + tail, 6) AS rmst_days,
           round({_TAU} - (t_first + tail), 6) AS time_lost_days,
           CAST({_TAU} AS BIGINT) AS tau_days
    FROM area ORDER BY grp
    """,
    tags=("events", "stats", "survival"),
)
def events_survival_rmst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Restricted mean survival time (Irwin 1949; Royston & Parmar
    2013) per parity group on the :func:`parity_lives` cohort:
    RMST(τ) = ∫₀^τ S(t)dt — the area under the step KM curve to
    τ = 5 days (the cutoff construction's horizon), assembled as
    1·t₁ (the all-alive first interval) + Σ S(tₖ)·(tₖ₊₁−tₖ) with
    t_{{m+1}} = τ. 'Time lost' τ − RMST is the restricted mean dual.
    RMST is the modern between-group effect size when KM curves
    plateau (median survival undefined) and, unlike the hazard
    ratio, needs no proportional-hazards assumption — the natural
    summary beside events_survival_logrank / _gehan, which only
    test. S(t) is events_survival_km's product over
    ``api._risk_sets``, partitioned by group; interval widths are
    exact integer day differences.

    Scale shape: per-group ``api._risk_sets`` over the
    calendar-bounded day axis, lead/row_number on the ≤6-row event
    grid, one group-keyed reduce."""
    lives = parity_lives(spark, sf_dir)
    risk = api._risk_sets(lives, "t_obs", "died", by="grp")
    km = risk.filter(F.col("deaths") > 0).select(
        "grp", "t_obs", api._km_product("t_obs", by="grp").alias("surv")
    )
    wg = Window.partitionBy("grp").orderBy("t_obs")
    seg = km.filter(F.col("t_obs") < _TAU).select(
        "grp",
        "t_obs",
        "surv",
        F.coalesce(F.lead("t_obs").over(wg), F.lit(_TAU)).alias("t_next"),
        F.row_number().over(wg).alias("k"),
    )
    area = seg.groupBy("grp").agg(
        F.sum(F.col("surv") * (F.col("t_next") - F.col("t_obs"))).alias(
            "tail"
        ),
        F.max(F.when(F.col("k") == 1, F.col("t_obs"))).alias("t_first"),
    )
    return area.select(
        F.col("grp").alias("cohort_group"),
        F.round(F.col("t_first") + F.col("tail"), 6).alias("rmst_days"),
        F.round(_TAU - (F.col("t_first") + F.col("tail")), 6).alias(
            "time_lost_days"
        ),
        F.lit(_TAU).cast("long").alias("tau_days"),
    ).orderBy("cohort_group")
