"""§2 extensions, seventieth wave — the survival-family completion and
two more classical nonparametrics (round-7 verdict cadence list).

- events_survival_logrank: the two-sample log-rank test (Mantel 1966;
  Peto & Peto 1972) on the Kaplan-Meier conversion cohort — are the
  two groups' time-to-purchase curves the same?
- events_survival_na: the Nelson-Aalen cumulative-hazard estimator
  (Nelson 1972; Aalen 1978) with its variance — the hazard-scale
  companion of events_survival_km's survival curve.
- agg_jonckheere_terpstra: the Jonckheere-Terpstra ordered-alternative
  test (Jonckheere 1954; Terpstra 1952) — does line-item quantity
  trend across the FIVE ORDERED priority classes?
- ts_siegel_slope: Siegel's repeated-medians slope (Siegel 1982) —
  the 50%-breakdown robust trend, the sturdier sibling of
  ts_theil_sen's 29%-breakdown median-of-slopes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hadoop_deliver_spark import api
from hadoop_deliver_spark.operators.wave6 import conversion_lives
from hadoop_deliver_spark.registry import register
from hadoop_deliver_spark.tables import tbl

# χ²₁ upper 5% critical value, shipped as a shared literal (the
# engine/oracle transcendental-parity convention)
_CHI2_1_95 = "3.841459"


def parity_lives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The :func:`conversion_lives` cohort with the deterministic
    user_id-parity A/B split as ``grp`` ('even' / 'odd')."""
    return conversion_lives(spark, sf_dir).withColumn(
        "grp", F.when(F.col("user_id") % 2 == 0, "even").otherwise("odd")
    )


def parity_risk_pivot(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """``(piv, tot)`` for the two-sample survival tests on
    :func:`parity_lives`: ``piv`` is one row per event time
    (t_obs, d1, n1, d, n) — the 'even' group's deaths and at-risk
    count beside the pooled ones, from one per-day aggregate of
    conditional counts and its ``api._at_risk`` running sums over the
    pooled day axis — and ``tot`` the 1-row cohort sizes
    (n_even, n_odd)."""
    lives = parity_lives(spark, sf_dir)
    even = F.col("grp") == "even"
    lt = lives.groupBy("t_obs").agg(
        F.count(F.lit(1)).alias("n_t"),
        F.count_if(even).alias("n1_t"),
        F.count_if(F.col("died")).cast("long").alias("d"),
        F.count_if(even & F.col("died")).cast("long").alias("d1"),
    )
    piv = lt.select(
        "t_obs",
        "d1",
        api._at_risk("n1_t", "t_obs").alias("n1"),
        "d",
        api._at_risk("n_t", "t_obs").alias("n"),
    )
    tot = lives.agg(
        F.count_if(even).cast("long").alias("n_even"),
        F.count_if(~even).cast("long").alias("n_odd"),
    )
    return piv.filter(F.col("d") > 0), tot


@register(
    "events_survival_logrank",
    f"""
    WITH b AS (SELECT CAST(min(ts) AS DATE) + 5 AS cutoff FROM events),
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
    ),
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
        SELECT d1,
               CAST(d AS DOUBLE) * n1 / n AS e1,
               CASE WHEN n > 1 THEN
                   CAST(d AS DOUBLE) * (CAST(n1 AS DOUBLE) / n)
                   * (1.0 - CAST(n1 AS DOUBLE) / n) * (n - d) / (n - 1)
               ELSE 0.0 END AS v
        FROM piv WHERE d > 0
    ),
    s AS (
        SELECT CAST(sum(d1) AS BIGINT) AS o1, sum(e1) AS e1, sum(v) AS v
        FROM terms
    ),
    tot AS (
        SELECT CAST(count(*) FILTER (grp = 'even') AS BIGINT) AS n_even,
               CAST(count(*) FILTER (grp = 'odd') AS BIGINT) AS n_odd
        FROM lives
    )
    SELECT n_even, n_odd, o1 AS observed_even,
           round(e1, 6) AS expected_even,
           round((o1 - e1) * (o1 - e1) / v, 6) AS chi2,
           (o1 - e1) * (o1 - e1) > {_CHI2_1_95} * v AS significant
    FROM s, tot
    """,
    tags=("events", "stats", "survival"),
)
def events_survival_logrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample log-rank test (Mantel 1966; Peto & Peto 1972) on the
    :func:`parity_lives` conversion cohort: at every event time t the
    deaths split between the groups as a hypergeometric draw from the
    at-risk sets, so O₁ = Σ d₁ₜ is compared against E₁ = Σ dₜ·n₁ₜ/nₜ
    with variance Σ dₜ(n₁ₜ/nₜ)(1−n₁ₜ/nₜ)(nₜ−dₜ)/(nₜ−1); χ² =
    (O₁−E₁)²/V vs χ²₁. The grouping covariate is the deterministic
    user_id parity (a synthetic A/B split — the MACHINERY is the
    operator; any time-independent covariate slots in).

    Exactness: O₁, every dₜ/nₜ count, and the cohort sizes are exact
    integers; E₁/V are short sums (≤ 6 event days by the cutoff
    construction) of doubles of exact-int ratios, round-6 display;
    the significance flag compares cross-multiplied (O₁−E₁)² > χ²crit·V
    with the critical value shipped as a shared literal. With V = 0
    (say, every event time empties its risk set) χ² is NULL, as in SQL.

    Scale shape: :func:`parity_risk_pivot` — one per-day aggregate
    and its at-risk running sums, calendar-bounded at any corpus size
    — then the allowlisted 1-row SinglePartition reduce."""
    piv, tot = parity_risk_pivot(spark, sf_dir)
    p1 = F.col("n1").cast("double") / F.col("n")
    terms = piv.select(
        "d1",
        (F.col("d").cast("double") * F.col("n1") / F.col("n")).alias("e1"),
        F.when(
            F.col("n") > 1,
            F.col("d").cast("double")
            * p1
            * (F.lit(1.0) - p1)
            * (F.col("n") - F.col("d"))
            / (F.col("n") - 1),
        )
        .otherwise(F.lit(0.0))
        .alias("v"),
    )
    s = terms.agg(
        F.sum("d1").cast("long").alias("o1"),
        F.sum("e1").alias("e1"),
        F.sum("v").alias("v"),
    )
    dev = F.col("o1") - F.col("e1")
    return s.crossJoin(F.broadcast(tot)).select(
        "n_even",
        "n_odd",
        F.col("o1").alias("observed_even"),
        F.round("e1", 6).alias("expected_even"),
        F.round(F.try_divide(dev * dev, F.col("v")), 6).alias("chi2"),
        (dev * dev > F.expr(_CHI2_1_95) * F.col("v")).alias("significant"),
    )


@register(
    "events_survival_na",
    """
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
        SELECT t_obs, CAST(count(*) AS BIGINT) AS n_tot,
               CAST(count(*) FILTER (died) AS BIGINT) AS deaths
        FROM lives GROUP BY t_obs
    ),
    risk AS (
        SELECT t_obs, deaths,
               CAST(sum(n_tot) OVER (ORDER BY t_obs DESC
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS at_risk
        FROM lt
    )
    SELECT t_obs, at_risk, deaths,
           round(sum(CAST(deaths AS DOUBLE) / at_risk)
                 OVER (ORDER BY t_obs ROWS UNBOUNDED PRECEDING), 6)
               AS na_cumhaz,
           round(sum(CAST(deaths AS DOUBLE) / at_risk / at_risk)
                 OVER (ORDER BY t_obs ROWS UNBOUNDED PRECEDING), 6)
               AS na_var
    FROM risk WHERE deaths > 0 ORDER BY t_obs
    """,
    tags=("events", "stats", "survival"),
)
def events_survival_na(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson-Aalen cumulative-hazard estimator (Nelson 1972; Aalen
    1978) on the :func:`conversion_lives` cohort: Ĥ(t) = Σ_{t'≤t} d/n
    with Aalen's variance Σ d/n² — the hazard-scale companion of the
    KM survival curve (exp(−Ĥ) is the Breslow/Fleming-Harrington
    survival alternative; comparing it against KM's product form is
    the standard small-sample diagnostic).

    Exactness: d and n are exact integers per day; the cumulative
    sums are ≤ 6 double terms (cutoff construction), round-6.

    Scale shape: ``api._risk_sets`` on the calendar-bounded per-day
    aggregate, then the cumulative windows over that bounded axis
    (the allowlisted SinglePartition shape)."""
    risk = api._risk_sets(conversion_lives(spark, sf_dir), "t_obs", "died")
    w_cum = Window.orderBy("t_obs").rowsBetween(
        Window.unboundedPreceding, 0
    )
    hz = F.col("deaths").cast("double") / F.col("at_risk")
    return (
        risk.select(
            "t_obs",
            "at_risk",
            "deaths",
            F.round(F.sum(hz).over(w_cum), 6).alias("na_cumhaz"),
            F.round(
                F.sum(hz / F.col("at_risk")).over(w_cum), 6
            ).alias("na_var"),
        )
        .filter(F.col("deaths") > 0)
        .orderBy("t_obs")
    )


@register(
    "agg_jonckheere_terpstra",
    """
    WITH x AS (
        SELECT CAST(substr(o.o_orderpriority, 1, 1) AS INT) AS g,
               CAST(l.l_quantity AS INT) AS v
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    c AS (SELECT g, v, CAST(count(*) AS BIGINT) AS c
          FROM x GROUP BY g, v),
    grid AS (
        SELECT g.g, v.v FROM range(1, 6) g(g) CROSS JOIN range(1, 51) v(v)
    ),
    cum AS (
        SELECT grid.g, grid.v,
               CAST(coalesce(c.c, 0) AS BIGINT) AS c,
               CAST(sum(coalesce(c.c, 0)) OVER (
                   PARTITION BY grid.g ORDER BY grid.v
                   ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   - CAST(coalesce(c.c, 0) AS BIGINT) AS below
        FROM grid LEFT JOIN c ON c.g = grid.g AND c.v = grid.v
    ),
    j2t AS (
        SELECT CAST(sum(hi.c * (2 * lo.below + lo.c)) AS BIGINT) AS j2
        FROM cum hi JOIN cum lo ON hi.v = lo.v AND lo.g < hi.g
    ),
    sizes AS (SELECT g, CAST(sum(c) AS BIGINT) AS ni FROM c GROUP BY g),
    m AS (
        SELECT CAST(sum(ni) AS BIGINT) AS n,
               CAST(sum(ni * ni) AS BIGINT) AS sq,
               CAST(sum(ni * ni * (2 * ni + 3)) AS BIGINT) AS sq3
        FROM sizes
    )
    SELECT n, j2, (n * n - sq) // 2 AS e2,
           round((j2 - (n * n - sq) // 2)
                 / (2 * sqrt((CAST(n AS DOUBLE) * n * (2 * n + 3) - sq3)
                             / 72)), 4) AS z,
           j2 > (n * n - sq) // 2 AS increasing
    FROM j2t, m
    """,
    tags=("agg", "stats"),
)
def agg_jonckheere_terpstra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jonckheere-Terpstra ordered-alternative test (Terpstra 1952;
    Jonckheere 1954): does line-item quantity trend MONOTONICALLY
    across the five ordered priority classes (1-URGENT … 5-LOW)?
    J = Σ_{i<j} U_ij sums the pairwise Mann-Whitney counts in the
    hypothesized group order — strictly more powerful than
    Kruskal-Wallis when the alternative is ordered. Computed without
    any pairwise row join: per-(group, value) counts on the BOUNDED
    quantity grid (1..50), per-group strictly-below prefix sums on
    the dense grid, and 2J = Σ c_hi·(2·below_lo + ties_lo) over the
    value-EQUI-joined group pairs — every term an exact int64
    (doubled-J device, ½-tie-free). E[2J] = (n²−Σnᵢ²)/2 is exact
    (the numerator is always even); z uses the classical no-ties
    null variance (n²(2n+3)−Σnᵢ²(2nᵢ+3))/72 in one fixed textual
    order, round-4 display; the trend VERDICT (2J > 2E) is a pure
    integer compare.

    Scale shape: one equi-join fact reduce to the ≤ 250-cell
    (group × quantity) contingency table; everything downstream is
    grid-sized. The prefix window partitions by group over the dense
    GRID (a 250-row literal frame), never the fact table."""
    li = tbl(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("ok"),
        F.col("l_quantity").cast("int").alias("v"),
    )
    o = tbl(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("ok"),
        F.substring("o_orderpriority", 1, 1).cast("int").alias("g"),
    )
    c = (
        li.join(o, "ok")
        .groupBy("g", "v")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    grid = spark.range(1, 6).select(
        F.col("id").cast("int").alias("g"),
        F.explode(F.sequence(F.lit(1), F.lit(50))).alias("v"),
    )
    w = (
        Window.partitionBy("g")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = grid.join(c, ["g", "v"], "left").select(
        "g",
        "v",
        F.coalesce("c", F.lit(0)).cast("long").alias("c"),
        (
            F.sum(F.coalesce("c", F.lit(0))).over(w)
            - F.coalesce("c", F.lit(0))
        )
        .cast("long")
        .alias("below"),
    )
    hi = cum.select(
        F.col("g").alias("gh"), "v", F.col("c").alias("ch")
    )
    lo = cum.select(
        F.col("g").alias("gl"),
        "v",
        F.col("c").alias("cl"),
        F.col("below").alias("bl"),
    )
    j2t = (
        hi.join(lo, "v")
        .filter(F.col("gl") < F.col("gh"))
        .agg(
            F.sum(F.col("ch") * (2 * F.col("bl") + F.col("cl")))
            .cast("long")
            .alias("j2")
        )
    )
    sizes = c.groupBy("g").agg(F.sum("c").cast("long").alias("ni"))
    m = sizes.agg(
        F.sum("ni").cast("long").alias("n"),
        F.sum(F.col("ni") * F.col("ni")).cast("long").alias("sq"),
        F.sum(F.col("ni") * F.col("ni") * (2 * F.col("ni") + 3))
        .cast("long")
        .alias("sq3"),
    )
    e2 = (F.col("n") * F.col("n") - F.col("sq")) / F.lit(2)
    var = (
        F.col("n").cast("double") * F.col("n") * (2 * F.col("n") + 3)
        - F.col("sq3")
    ) / F.lit(72.0)
    return j2t.crossJoin(F.broadcast(m)).select(
        "n",
        "j2",
        e2.cast("long").alias("e2"),
        F.round((F.col("j2") - e2) / (2 * F.sqrt(var)), 4).alias("z"),
        (F.col("j2") > e2).alias("increasing"),
    )


@register(
    "ts_siegel_slope",
    """
    WITH d AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS c,
               CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
                    AS BIGINT) AS x
        FROM events GROUP BY event_type, CAST(ts AS DATE)
    ),
    slopes AS (
        SELECT a.event_type, a.x AS xi,
               CAST(b.c - a.c AS DOUBLE) / (b.x - a.x) AS s,
               row_number() OVER (
                   PARTITION BY a.event_type, a.x
                   ORDER BY CAST(b.c - a.c AS DOUBLE) / (b.x - a.x),
                            b.x) AS rn,
               count(*) OVER (PARTITION BY a.event_type, a.x) AS m
        FROM d a JOIN d b
          ON a.event_type = b.event_type AND a.x <> b.x
    ),
    med_i AS (
        SELECT event_type, xi, avg(s) AS med
        FROM slopes
        WHERE rn = (m + 1) // 2 OR rn = (m + 2) // 2
        GROUP BY event_type, xi
    ),
    outer_r AS (
        SELECT event_type, med,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY med, xi) AS rn,
               count(*) OVER (PARTITION BY event_type) AS m
        FROM med_i
    )
    SELECT event_type, CAST(max(m) AS BIGINT) AS n_days,
           round(avg(med), 4) AS siegel_slope
    FROM outer_r
    WHERE rn = (m + 1) // 2 OR rn = (m + 2) // 2
    GROUP BY event_type ORDER BY event_type
    """,
    tags=("timeseries", "stats"),
)
def ts_siegel_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Siegel repeated-medians slope (Siegel 1982): per point i take
    the MEDIAN over j≠i of the pairwise slopes, then the median over
    i of those per-point medians — breakdown point 50%, the sturdier
    sibling of ts_theil_sen's single median (29%); same per-type
    daily event series, so the two trend estimates are directly
    comparable. Every slope is one correctly-rounded division of
    exact int64 deltas — identical doubles on both engines — and both
    median selections order by (slope, partner-day) / (median, own-day)
    with deterministic integer tiebreaks; even-count medians average
    the two middle elements (two identical doubles → identical avg).
    Round-4 display.

    Scale shape: the pairwise join runs on the calendar-bounded
    per-type daily aggregate (≤ days² rows per type at any corpus
    scale); the inner rank windows partition by (type, day) — one
    per repeated-median — and the outer by type over the per-day
    median aggregate. The fact table is touched once, by the daily
    groupBy."""
    e = tbl(spark, sf_dir, "events")
    d = (
        e.groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .select(
            "event_type",
            "c",
            F.datediff("day", F.lit("2024-01-01").cast("date"))
            .cast("long")
            .alias("x"),
        )
    )
    a = d.select(
        "event_type", F.col("c").alias("ca"), F.col("x").alias("xi")
    )
    bb = d.select(
        F.col("event_type").alias("et_b"),
        F.col("c").alias("cb"),
        F.col("x").alias("xb"),
    )
    slope = (F.col("cb") - F.col("ca")).cast("double") / (
        F.col("xb") - F.col("xi")
    )
    w_in = Window.partitionBy("event_type", "xi").orderBy("s", "xb")
    w_in_m = Window.partitionBy("event_type", "xi")
    slopes = (
        a.join(
            bb,
            (F.col("event_type") == F.col("et_b"))
            & (F.col("xi") != F.col("xb")),
        )
        .withColumn("s", slope)
        .withColumn("rn", F.row_number().over(w_in))
        .withColumn("m", F.count(F.lit(1)).over(w_in_m))
    )
    mid = (F.col("rn") == F.floor((F.col("m") + 1) / 2)) | (
        F.col("rn") == F.floor((F.col("m") + 2) / 2)
    )
    med_i = (
        slopes.filter(mid)
        .groupBy("event_type", "xi")
        .agg(F.avg("s").alias("med"))
    )
    w_out = Window.partitionBy("event_type").orderBy("med", "xi")
    w_out_m = Window.partitionBy("event_type")
    outer_r = med_i.withColumn(
        "rn", F.row_number().over(w_out)
    ).withColumn("m", F.count(F.lit(1)).over(w_out_m))
    return (
        outer_r.filter(mid)
        .groupBy("event_type")
        .agg(
            F.max("m").cast("long").alias("n_days"),
            F.round(F.avg("med"), 4).alias("siegel_slope"),
        )
        .orderBy("event_type")
    )
