"""§2 extensions, hundred-sixty-fourth wave — uncertainty for the
survival curve and for event rates.

- events_survival_greenwood: Greenwood's (1926) variance for the KM
  estimator with Wald bands and the median-crossing time —
  events_survival_km draws the curve; this says how well each step
  of it is known.
- events_rate_byar_ci: Byar's approximation to the exact Poisson
  confidence interval for each event type's hourly rate — the
  epidemiologist's standard when the χ² quantile tables are out of
  reach, accurate to ~1% even at a handful of events; the
  uncertainty statement under events_rate_ratio.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from hadoop_deliver_spark import api
from hadoop_deliver_spark.operators.wave6 import conversion_lives
from hadoop_deliver_spark.registry import register
from hadoop_deliver_spark.tables import tbl

_Z = "1.959964"


@register(
    "events_survival_greenwood",
    f"""
    WITH b AS (SELECT CAST(min(ts) AS DATE) + 5 AS cutoff FROM events),
    u AS (
        SELECT user_id, min(CAST(ts AS DATE)) AS first_d,
               min(CASE WHEN event_type = 'purchase'
                        THEN CAST(ts AS DATE) END) AS purch_d
        FROM events GROUP BY user_id
    ),
    lives AS (
        SELECT CASE WHEN purch_d IS NOT NULL AND purch_d <= cutoff
                    THEN datediff('day', first_d, purch_d)
                    ELSE datediff('day', first_d, cutoff) END AS t_obs,
               (purch_d IS NOT NULL AND purch_d <= cutoff) AS died
        FROM u, b WHERE first_d <= cutoff
    ),
    lt AS (
        SELECT t_obs, CAST(count(*) AS BIGINT) AS n_total,
               CAST(count(*) FILTER (died) AS BIGINT) AS deaths
        FROM lives GROUP BY t_obs
    ),
    risk AS (
        SELECT t_obs, deaths,
               CAST(sum(n_total) OVER (ORDER BY t_obs DESC
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS at_risk
        FROM lt
    ),
    km AS (
        SELECT t_obs, at_risk, deaths,
               exp(sum(CASE WHEN at_risk > deaths
                            THEN ln(1.0 - CAST(deaths AS DOUBLE) / at_risk)
                            ELSE 0.0 END)
                   OVER (ORDER BY t_obs ROWS UNBOUNDED PRECEDING))
                 * (1 - max(CASE WHEN deaths = at_risk THEN 1 ELSE 0 END)
                        OVER (ORDER BY t_obs ROWS UNBOUNDED PRECEDING))
                   AS surv,
               sum(CASE WHEN at_risk > deaths
                        THEN CAST(deaths AS DOUBLE)
                             / (CAST(at_risk AS DOUBLE)
                                * (at_risk - deaths))
                        ELSE 0.0 END)
                   OVER (ORDER BY t_obs ROWS UNBOUNDED PRECEDING)
                   AS gsum
        FROM risk WHERE deaths > 0
    )
    SELECT t_obs, at_risk, deaths,
           round(surv, 6) AS survival,
           round(surv * sqrt(gsum), 6) AS greenwood_se,
           round(greatest(surv - {_Z} * surv * sqrt(gsum), 0.0), 6)
               AS ci_lo,
           round(least(surv + {_Z} * surv * sqrt(gsum), 1.0), 6) AS ci_hi,
           surv <= 0.5 AS past_median
    FROM km ORDER BY t_obs
    """,
    tags=("events", "stats", "survival"),
)
def events_survival_greenwood(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Greenwood's variance (1926) on the events_survival_km curve:
    Var(Ŝ(t)) = Ŝ(t)²·Σ_{{tᵢ≤t}} dᵢ/(nᵢ(nᵢ−dᵢ)), reported as the SE
    and plain Wald bands Ŝ ± 1.96·SE clamped to [0,1] (the pinned
    convention — log-log bands are the refinement, stated, not
    implied), plus the `past_median` flag whose FIRST true row is
    the KM median survival time. The cohort is
    ``conversion_lives`` and Ŝ is events_survival_km's product over
    ``api._risk_sets``; the Greenwood sum adds one more running
    accumulation over the same bounded event-day grid, with the
    dᵢ=nᵢ guard contributing zero exactly as the survival product
    hits zero. Every count is an exact integer; SE/bands are one
    fixed textual float chain rounded at 6."""
    risk = api._risk_sets(conversion_lives(spark, sf_dir), "t_obs", "died")
    wasc = Window.orderBy("t_obs").rowsBetween(
        Window.unboundedPreceding, 0
    )
    gsum = F.sum(
        F.when(
            F.col("at_risk") > F.col("deaths"),
            F.col("deaths").cast("double")
            / (
                F.col("at_risk").cast("double")
                * (F.col("at_risk") - F.col("deaths"))
            ),
        ).otherwise(F.lit(0.0))
    ).over(wasc)
    km = risk.filter(F.col("deaths") > 0).select(
        "t_obs",
        "at_risk",
        "deaths",
        api._km_product("t_obs").alias("surv"),
        gsum.alias("gsum"),
    )
    z = float(_Z)
    se = F.col("surv") * F.sqrt(F.col("gsum"))
    return km.select(
        "t_obs",
        "at_risk",
        "deaths",
        F.round("surv", 6).alias("survival"),
        F.round(se, 6).alias("greenwood_se"),
        F.round(F.greatest(F.col("surv") - z * se, F.lit(0.0)), 6).alias(
            "ci_lo"
        ),
        F.round(F.least(F.col("surv") + z * se, F.lit(1.0)), 6).alias(
            "ci_hi"
        ),
        (F.col("surv") <= 0.5).alias("past_median"),
    ).orderBy("t_obs")


@register(
    "events_rate_byar_ci",
    f"""
    WITH b AS (
        SELECT CAST(max(epoch_us(ts) // 1000000 // 3600)
                    - min(epoch_us(ts) // 1000000 // 3600) + 1 AS BIGINT)
                   AS hours
        FROM events
    ),
    c AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS d
        FROM events GROUP BY 1
    ),
    f AS (
        SELECT c.event_type, c.d, b.hours,
               CAST(c.d AS DOUBLE) AS dd
        FROM c CROSS JOIN b
    )
    SELECT event_type, d AS n_events, hours AS exposure_hours,
           round(dd / hours, 6) AS rate_per_hour,
           round(dd * pow(1 - 1.0 / (9 * dd)
                          - {_Z} / (3 * sqrt(dd)), 3) / hours, 6)
               AS rate_ci_lo,
           round((dd + 1) * pow(1 - 1.0 / (9 * (dd + 1))
                                + {_Z} / (3 * sqrt(dd + 1)), 3) / hours, 6)
               AS rate_ci_hi
    FROM f ORDER BY event_type
    """,
    tags=("events", "stats"),
)
def events_rate_byar_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byar's approximation (Breslow & Day 1987, §II.2) to the exact
    Poisson confidence interval for each event type's hourly rate:
    with d observed events over T exposure hours,
    lo = d·(1 − 1/9d − z/3√d)³/T and
    hi = (d+1)·(1 − 1/9(d+1) + z/3√(d+1))³/T — the cube of the
    Wilson–Hilferty χ²→normal transform, which tracks the exact
    Garwood limits to ~1% even for single-digit counts where the
    naive d ± z√d Wald interval is badly off (and is why
    epidemiology tables ship Byar, not Wald). The uncertainty
    statement under events_rate_ratio's point estimates; exposure is
    the integer hour span of the stream (the events_zip_score
    window). Counts and hours are exact integers; the cube chain is
    one fixed textual expression rounded at 6.

    Scale shape: one 1-row exposure reduce + one type-keyed count,
    joined by broadcast — map-side combine throughout."""
    e = tbl(spark, sf_dir, "events")
    hour = (F.unix_timestamp("ts") / F.lit(3600)).cast("long")
    b = e.agg((F.max(hour) - F.min(hour) + 1).cast("long").alias("hours"))
    c = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("d")
    )
    f = c.crossJoin(F.broadcast(b)).select(
        "event_type", "d", "hours", F.col("d").cast("double").alias("dd")
    )
    z = float(_Z)
    dd, hours = F.col("dd"), F.col("hours")
    lo = dd * F.pow(1 - 1.0 / (9 * dd) - z / (3 * F.sqrt(dd)), 3) / hours
    hi = (
        (dd + 1)
        * F.pow(1 - 1.0 / (9 * (dd + 1)) + z / (3 * F.sqrt(dd + 1)), 3)
        / hours
    )
    return f.select(
        "event_type",
        F.col("d").alias("n_events"),
        hours.alias("exposure_hours"),
        F.round(dd / hours, 6).alias("rate_per_hour"),
        F.round(lo, 6).alias("rate_ci_lo"),
        F.round(hi, 6).alias("rate_ci_hi"),
    ).orderBy("event_type")
