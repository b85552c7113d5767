"""§2 extensions, eighty-ninth wave — estimation, circular EDF,
count-dispersion, heteroskedastic ANOVA, and reliability classics
(published-method cadence).

- agg_hl_shift_2sample: the Hodges-Lehmann TWO-SAMPLE shift estimator
  (1963) — the median of all pairwise differences, the robust
  companion ESTIMATE to the Mann-Whitney/Lepage/Cucconi TESTS.
- agg_kuiper_weekday: Kuiper's circular EDF test (1960) of weekday
  uniformity — the rotation-invariant Kolmogorov-Smirnov.
- events_poisson_dispersion: Fisher's Poisson dispersion test
  (1950) — the variance-to-mean overdispersion index on daily event
  counts.
- agg_welch_anova: Welch's heteroskedastic one-way ANOVA (1951) —
  the unequal-variance member of the ANOVA battery.
- agg_cronbach_alpha: Cronbach's alpha (1951) — internal
  consistency of the five priorities' weekly revenue "items", with
  a fully exact-integer ≥0.7 verdict.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_deliver_spark import api
from hadoop_deliver_spark.registry import register
from hadoop_deliver_spark.tables import dec2, tbl

# χ²₄ 5% (Welch verdict, shared with the ANOVA/Bartlett family);
# Kuiper's asymptotic 5% point 1.747 enters squared ×10⁶
# (1.747² = 3.052009); the one-sided z 5% point enters squared as
# χ²₁(0.90) = 2.705543 = 1.6448536² in the dispersion verdict
_CHI2_4_95 = "9.487729"
_KUIPER_SQ_1E6 = 3052009
_Z95_SQ = "2.705543"
#: bounded-collect gate of agg_hl_shift_2sample: most daily rows (both
#: samples together) collected for the NumPy pair ranking
_HL_DRIVER_MAX_DAYS = 8192

_DAILY_2SAMPLE_SQL = """
    daily AS (
        SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 2 END
                   AS smp,
               CAST(o_orderdate AS DATE) AS day,
               CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                        AS BIGINT)) AS BIGINT) AS cents
        FROM orders
        WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
        GROUP BY 1, 2
    )
"""


def _daily_2sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = tbl(spark, sf_dir, "orders")
    return (
        o.filter(F.col("o_orderpriority").isin("1-URGENT", "5-LOW"))
        .groupBy(
            F.when(F.col("o_orderpriority") == "1-URGENT", 1)
            .otherwise(2)
            .alias("smp"),
            F.to_date("o_orderdate").alias("day"),
        )
        .agg(
            F.sum((dec2("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )


@register(
    "agg_hl_shift_2sample",
    f"""
    WITH {_DAILY_2SAMPLE_SQL},
    diffs AS (
        SELECT a.cents - b.cents AS d
        FROM (SELECT cents FROM daily WHERE smp = 1) a,
             (SELECT cents FROM daily WHERE smp = 2) b
    ),
    byval AS (
        SELECT d, CAST(count(*) AS BIGINT) AS cnt
        FROM diffs GROUP BY d
    ),
    cum AS (
        SELECT d, cnt,
               CAST(sum(cnt) OVER (ORDER BY d) AS BIGINT) AS cs,
               CAST(sum(cnt) OVER () AS BIGINT) AS t
        FROM byval
    ),
    med AS (
        SELECT CAST(max(t) AS BIGINT) AS t,
               CAST(sum(CASE WHEN cs - cnt < (t + 1) // 2
                              AND cs >= (t + 1) // 2
                             THEN d ELSE 0 END)
                    + sum(CASE WHEN cs - cnt < (t + 2) // 2
                                AND cs >= (t + 2) // 2
                               THEN d ELSE 0 END) AS BIGINT) AS hl2
        FROM cum
    )
    SELECT t AS n_pairs,
           hl2,
           CAST(hl2 AS DOUBLE) / 2 AS hl_shift_cents,
           hl2 > 0 AS urgent_shifted_up
    FROM med
    """,
    tags=("agg", "stats"),
)
def agg_hl_shift_2sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hodges-Lehmann two-sample shift estimator (1963): the median
    of all n1·n2 pairwise differences URGENT−LOW daily revenue — the
    robust, rank-based ESTIMATE of the location shift whose
    existence the Mann-Whitney/Lepage/Cucconi tests only decide
    (30%-efficiency-loss-free under normality, 0.29 breakdown). The
    doubled median hl2 = sum of the two middle order statistics (or
    2× the single middle one) is an EXACT integer — the
    agg_brown_forsythe even-n device — at positions ⌈T/2⌉ and
    ⌈(T+1)/2⌉, the two floor-div literals (T+1)÷2 and (T+2)÷2 (the
    oracle selects them by exact cumulative counts over the
    distinct-difference grid; the Spark side indexes the sorted
    differences).
    Both samples are CALENDAR-BOUNDED daily series (≤2.4k rows each at
    ANY corpus scale), so the ≤6M-pair fan-out is a bounded DRIVER
    computation: one api.bounded_collect of the two series, the
    differences sorted in NumPy, and the same exact-integer order
    statistics on a 1-row frame whose final projection keeps the
    Spark division and verdict. An empty sample gives the oracle's
    all-NULL row (no pairs: max and sum over nothing).

    Scale shape: one keyed reduce to ≤2·days rows, one bounded
    collect (ValueError past _HL_DRIVER_MAX_DAYS), a 1-row
    projection."""
    rows = api.bounded_collect(
        _daily_2sample(spark, sf_dir).select("smp", "cents"),
        _HL_DRIVER_MAX_DAYS,
    )
    ca = np.asarray([r["cents"] for r in rows if r["smp"] == 1], np.int64)
    cb = np.asarray([r["cents"] for r in rows if r["smp"] == 2], np.int64)
    d = np.sort((ca[:, None] - cb[None, :]).ravel())
    t = int(d.size)
    hl2 = int(d[(t + 1) // 2 - 1]) + int(d[(t + 2) // 2 - 1]) if t else None
    med = spark.createDataFrame([(t or None, hl2)], "n_pairs long, hl2 long")
    return med.select(
        "n_pairs",
        "hl2",
        (F.col("hl2").cast("double") / 2).alias("hl_shift_cents"),
        (F.col("hl2") > 0).alias("urgent_shifted_up"),
    )


@register(
    "agg_kuiper_weekday",
    f"""
    WITH base AS (
        SELECT CAST(CAST(o_orderdate AS DATE)
                    - DATE '1992-01-01' AS BIGINT) % 7 AS wd
        FROM orders
    ),
    piv AS (
        SELECT
            {", ".join(
                f"CAST(count(CASE WHEN wd = {j} THEN 1 END) AS BIGINT)"
                f" AS c{j}"
                for j in range(7)
            )},
            CAST(count(*) AS BIGINT) AS n
        FROM base
    ),
    cum AS (
        SELECT n,
            {", ".join(
                f"CAST({' + '.join(f'c{i}' for i in range(j + 1))}"
                f" AS BIGINT) AS f{j}"
                for j in range(7)
            )}
        FROM piv
    ),
    v AS (
        SELECT n,
               greatest({", ".join(
                   f"7 * f{j} - {j + 1} * n" for j in range(7)
               )}) AS dp,
               greatest(1 * n, {", ".join(
                   f"{j + 1} * n - 7 * f{j - 1}" for j in range(1, 7)
               )}) AS dm
        FROM cum
    )
    SELECT n AS n_orders,
           round(CAST(dp + dm AS DOUBLE) / (7 * n), 6) AS v_stat,
           1000000 * CAST(dp + dm AS HUGEINT) * (dp + dm)
               > {_KUIPER_SQ_1E6} * 49 * CAST(n AS HUGEINT)
               AS nonuniform
    FROM v
    """,
    tags=("agg", "stats"),
)
def agg_kuiper_weekday(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kuiper's test (1960) of weekday uniformity for order volume:
    V = D⁺ + D⁻ — the CIRCULAR Kolmogorov-Smirnov, invariant to
    where the week "starts" (plain KS on weekdays would depend on
    that arbitrary cut; V is rotation-invariant, its whole point).
    The weekday is the engine-shared exact formula (date −
    1992-01-01) mod 7 (stated knob: no locale DOW semantics — the
    two engines disagree on dayofweek numbering, an epoch-day mod
    never does). With seven cells the discrete EDF convention is
    D⁺ = max_j(F_j − E_j), D⁻ = max_j(E_j − F_(j−1)), F(−1) = 0;
    both maxima are EXACT integers scaled by 7n (D⁺num =
    max(7C_j − (j+1)n), D⁻num = max((j+1)n − 7C_(j−1)), the j = 0
    term being 1·n), so the asymptotic verdict V·√n > 1.747
    (Kuiper's 5% point) is the exact integer predicate
    10⁶·(D⁺num+D⁻num)² > 1.747²·10⁶·49·n. Seven cumulative counts
    assemble from a 7-cell pivot in fixed literal order — no
    window, no sort.

    Scale shape: ONE map-side-combinable reduce over the fact table
    to a 1-row 7-cell pivot."""
    o = tbl(spark, sf_dir, "orders")
    base = o.select(
        (
            F.datediff(F.to_date("o_orderdate"), F.lit("1992-01-01"))
            .cast("long")
            % 7
        ).alias("wd")
    )
    piv = base.agg(
        *[
            F.count(F.when(F.col("wd") == j, F.lit(1)))
            .cast("long")
            .alias(f"c{j}")
            for j in range(7)
        ],
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    cum_cols = [F.col("n")]
    for j in range(7):
        s = F.col("c0")
        for i in range(1, j + 1):
            s = s + F.col(f"c{i}")
        cum_cols.append(s.cast("long").alias(f"f{j}"))
    cum = piv.select(*cum_cols)
    n = F.col("n")
    dp = F.greatest(
        *[7 * F.col(f"f{j}") - (j + 1) * n for j in range(7)]
    )
    dm = F.greatest(
        1 * n,
        *[(j + 1) * n - 7 * F.col(f"f{j - 1}") for j in range(1, 7)],
    )
    v = cum.select("n", dp.alias("dp"), dm.alias("dm"))
    vn = F.col("dp") + F.col("dm")
    n38 = F.col("n").cast("decimal(38,0)")
    return v.select(
        F.col("n").alias("n_orders"),
        F.round(vn.cast("double") / (7 * F.col("n")), 6).alias("v_stat"),
        (
            1000000 * vn.cast("decimal(38,0)") * vn
            > _KUIPER_SQ_1E6 * 49 * n38
        ).alias("nonuniform"),
    )


@register(
    "events_poisson_dispersion",
    f"""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1
    ),
    m AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(c) AS BIGINT) AS s,
               CAST(sum(CAST(c AS HUGEINT) * c) AS HUGEINT) AS q
        FROM daily
    ),
    d AS (
        SELECT n, s,
               CAST(n AS HUGEINT) * q - CAST(s AS HUGEINT) * s AS p
        FROM m
    ),
    ex AS (
        SELECT n, s, p,
               CAST(p - (n - 1) * CAST(s AS HUGEINT) AS DOUBLE) AS exd
        FROM d
    )
    SELECT n AS n_days,
           round(CAST(p AS DOUBLE) / (CAST(s AS DOUBLE) * (n - 1)), 6)
               AS vmr,
           round(CAST(p AS DOUBLE) / CAST(s AS DOUBLE), 4) AS d_stat,
           p > (n - 1) * CAST(s AS HUGEINT)
               AND exd * exd
                   > {_Z95_SQ} * 2 * (n - 1)
                     * CAST(CAST(s AS HUGEINT) * s AS DOUBLE)
               AS overdispersed
    FROM ex
    """,
    tags=("events", "stats"),
)
def events_poisson_dispersion(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Fisher's Poisson dispersion (index-of-dispersion) test (1950)
    on daily event counts: D = Σ(c − c̄)²/c̄ = (nΣc² − S²)/S ~
    χ²_(n−1) under Poisson arrivals; the variance-to-mean ratio
    VMR = D/(n−1) is THE standard burstiness diagnostic for event
    streams (VMR ≈ 1 Poisson, > 1 overdispersed/bursty). D is an
    exact integer RATIO P/S (P = nΣc² − S² in DECIMAL(38)/HUGEINT),
    and the one-sided 5% normal-approximation verdict z = (D −
    (n−1))/√(2(n−1)) > 1.6448536 squares into the predicate
    (P − (n−1)S)² > χ²₁(0.90)·2(n−1)·S² guarded by the sign term —
    the shared literal 2.705543 = 1.6448536² is non-integer, so the
    comparison is inherently double; both sides therefore take ONE
    double cast each, in the same fixed textual order on both
    engines (exd = CAST(P − (n−1)S AS DOUBLE) squared vs
    2.705543·2(n−1)·CAST(S² AS DOUBLE)). This keeps the excess
    SQUARE out of DECIMAL(38)/HUGEINT entirely — P grows like
    n·Σc², so the pre-round-11 exact excess·excess product would
    have overflowed DECIMAL(38) around sf30 (Spark null / DuckDB
    HUGEINT error); the double form is scale-unbounded and the
    1-row scalar squaring is order-deterministic. Displays are
    single divisions of exact integers.

    Scale shape: one keyed reduce of the event stream to the
    calendar-bounded daily-count series, a 1-row moment reduce —
    map-side-combinable."""
    e = tbl(spark, sf_dir, "events")
    daily = e.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    m = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("c").cast("long").alias("s"),
        F.sum(F.col("c").cast("decimal(38,0)") * F.col("c")).alias("q"),
    )
    n = F.col("n")
    s38 = F.col("s").cast("decimal(38,0)")
    d = m.select(
        "n",
        "s",
        (n.cast("decimal(38,0)") * F.col("q") - s38 * F.col("s")).alias(
            "p"
        ),
    )
    p, s = F.col("p"), F.col("s")
    exd = (p - (n - 1) * s.cast("decimal(38,0)")).cast("double")
    return d.select(
        n.alias("n_days"),
        F.round(
            p.cast("double") / (s.cast("double") * (n - 1)), 6
        ).alias("vmr"),
        F.round(p.cast("double") / s.cast("double"), 4).alias("d_stat"),
        (
            (p > (n - 1) * s.cast("decimal(38,0)"))
            & (
                exd * exd
                > float(_Z95_SQ)
                * 2
                * (n - 1)
                * (s.cast("decimal(38,0)") * s).cast("double")
            )
        ).alias("overdispersed"),
    )


@register(
    "agg_welch_anova",
    f"""
    WITH base AS (
        SELECT CAST(substr(o_orderpriority, 1, 1) AS INT) AS s,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                   AS cents
        FROM orders
    ),
    g AS (
        SELECT s, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(cents) AS BIGINT) AS sm,
               CAST(sum(CAST(cents AS HUGEINT) * cents) AS HUGEINT) AS q
        FROM base GROUP BY s
    ),
    piv AS (
        SELECT
            {", ".join(
                f"max(CASE WHEN s = {i} THEN {m} END) AS {m}{i}"
                for i in range(1, 6)
                for m in ("n", "sm", "q")
            )}
        FROM g
    ),
    w AS (
        SELECT CAST(n1 + n2 + n3 + n4 + n5 AS BIGINT) AS nn,
            {", ".join(
                f"CAST(n{i} AS DOUBLE) * (CAST(n{i} AS DOUBLE)"
                f" * (n{i} - 1))"
                f" / CAST(CAST(n{i} AS HUGEINT) * q{i}"
                f" - CAST(sm{i} AS HUGEINT) * sm{i} AS DOUBLE) AS w{i},"
                f" CAST(sm{i} AS DOUBLE) / n{i} AS xb{i}, n{i}"
                for i in range(1, 6)
            )}
        FROM piv
    ),
    ww AS (
        SELECT nn, {", ".join(f"w{i}, xb{i}, n{i}" for i in range(1, 6))},
               {" + ".join(f"w{i}" for i in range(1, 6))} AS wt,
               ({" + ".join(f"w{i} * xb{i}" for i in range(1, 6))})
                   / ({" + ".join(f"w{i}" for i in range(1, 6))}) AS xt
        FROM w
    ),
    f AS (
        SELECT nn,
               {" + ".join(
                   f"w{i} * (xb{i} - xt) * (xb{i} - xt)"
                   for i in range(1, 6)
               )} AS num,
               {" + ".join(
                   f"(1 - w{i} / wt) * (1 - w{i} / wt) / (n{i} - 1)"
                   for i in range(1, 6)
               )} AS vterm
        FROM ww
    )
    SELECT nn AS n_orders,
           round(num / 4 / (1 + 0.25 * vterm), 4) AS f_stat,
           round(8 / vterm, 2) AS df2,
           num > {_CHI2_4_95} * (1 + 0.25 * vterm) AS means_differ
    FROM f
    """,
    tags=("agg", "stats"),
)
def agg_welch_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's heteroskedastic one-way ANOVA (1951) across the five
    priorities — the unequal-variance member of the battery
    (classic ANOVA assumes equal variances; Bartlett/Levene test
    that assumption, Welch's F is what you run when it fails — the
    k-sample generalization of the existing agg_welch_ttest):
    F* = [Σw_i(x̄_i − x̃)²/(k−1)] / [1 + (2(k−2)/(k²−1))·Σ(1 −
    w_i/W)²/(n_i−1)] with w_i = n_i/s_i², x̃ = Σw_ix̄_i/W; k = 5
    makes the correction coefficient exactly 0.25 and the
    Satterthwaite df₂ = 8/Σ(...). Every s_i², x̄_i comes from the
    exact (n, S, Q) DECIMAL(38)/HUGEINT triples divided ONCE; the
    weight/mean/quadratic chain assembles in ONE fixed textual
    order of doubles (the agg_oneway_anova device). Verdict
    (k−1)F* → χ²₄ as df₂ → ∞ (df₂ ≈ 10⁵ here; stated
    approximation): num > χ²₄(0.95)·denom with the shared literal.

    Scale shape: ONE keyed reduce over the fact table to five
    (n, S, Q) triples, a 1-row pivot — map-side-combinable, no
    window, no second scan."""
    o = tbl(spark, sf_dir, "orders")
    base = o.select(
        F.substring("o_orderpriority", 1, 1).cast("int").alias("s"),
        (dec2("o_totalprice") * 100).cast("long").alias("cents"),
    )
    g = base.groupBy("s").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("sm"),
        F.sum(F.col("cents").cast("decimal(38,0)") * F.col("cents")).alias(
            "q"
        ),
    )
    piv = g.agg(
        *[
            F.max(F.when(F.col("s") == i, F.col(m))).alias(f"{m}{i}")
            for i in range(1, 6)
            for m in ("n", "sm", "q")
        ]
    )
    nn = (
        sum(F.col(f"n{i}") for i in range(2, 6)) + F.col("n1")
    ).cast("long")
    w_cols = [nn.alias("nn")]
    for i in range(1, 6):
        n_i = F.col(f"n{i}")
        s2num = (
            n_i.cast("decimal(38,0)") * F.col(f"q{i}")
            - F.col(f"sm{i}").cast("decimal(38,0)") * F.col(f"sm{i}")
        ).cast("double")
        w_i = (
            n_i.cast("double") * (n_i.cast("double") * (n_i - 1)) / s2num
        )
        w_cols.append(w_i.alias(f"w{i}"))
        w_cols.append(
            (F.col(f"sm{i}").cast("double") / n_i).alias(f"xb{i}")
        )
        w_cols.append(n_i.alias(f"n{i}"))
    w = piv.select(*w_cols)
    wt = None
    for i in range(1, 6):
        wt = F.col(f"w{i}") if wt is None else wt + F.col(f"w{i}")
    wx = None
    for i in range(1, 6):
        t = F.col(f"w{i}") * F.col(f"xb{i}")
        wx = t if wx is None else wx + t
    ww = w.select(
        "nn",
        *[F.col(c) for i in range(1, 6) for c in (f"w{i}", f"xb{i}", f"n{i}")],
        wt.alias("wt"),
        (wx / wt).alias("xt"),
    )
    num = vterm = None
    for i in range(1, 6):
        t = (
            F.col(f"w{i}")
            * (F.col(f"xb{i}") - F.col("xt"))
            * (F.col(f"xb{i}") - F.col("xt"))
        )
        v = (
            (1 - F.col(f"w{i}") / F.col("wt"))
            * (1 - F.col(f"w{i}") / F.col("wt"))
            / (F.col(f"n{i}") - 1)
        )
        num = t if num is None else num + t
        vterm = v if vterm is None else vterm + v
    f = ww.select("nn", num.alias("num"), vterm.alias("vterm"))
    num, vterm = F.col("num"), F.col("vterm")
    return f.select(
        F.col("nn").alias("n_orders"),
        F.round(num / 4 / (1 + 0.25 * vterm), 4).alias("f_stat"),
        F.round(8 / vterm, 2).alias("df2"),
        (num > float(_CHI2_4_95) * (1 + 0.25 * vterm)).alias(
            "means_differ"
        ),
    )


@register(
    "agg_cronbach_alpha",
    f"""
    WITH base AS (
        SELECT CAST(substr(o_orderpriority, 1, 1) AS INT) AS s,
               CAST(CAST(o_orderdate AS DATE) - DATE '1992-01-01'
                    AS BIGINT) // 7 AS wk,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                   AS cents
        FROM orders
    ),
    cells AS (
        SELECT s, wk, CAST(sum(cents) AS BIGINT) AS x
        FROM base GROUP BY s, wk
    ),
    grid AS (
        SELECT w.wk, p.s,
               coalesce(c.x, 0) AS x
        FROM (SELECT DISTINCT wk FROM base) w
        CROSS JOIN (SELECT unnest(range(1, 6)) AS s) p
        LEFT JOIN cells c ON c.wk = w.wk AND c.s = p.s
    ),
    items AS (
        SELECT
            CAST(count(DISTINCT wk) AS BIGINT) AS n,
            {", ".join(
                f"CAST(sum(CASE WHEN s = {i} THEN x ELSE 0 END)"
                f" AS BIGINT) AS s{i},"
                f" CAST(sum(CASE WHEN s = {i}"
                f" THEN CAST(x AS HUGEINT) * x ELSE 0 END)"
                f" AS HUGEINT) AS q{i}"
                for i in range(1, 6)
            )}
        FROM grid
    ),
    totals AS (
        SELECT CAST(sum(t) AS BIGINT) AS st,
               CAST(sum(CAST(t AS HUGEINT) * t) AS HUGEINT) AS qt
        FROM (SELECT wk, CAST(sum(x) AS BIGINT) AS t
              FROM grid GROUP BY wk)
    ),
    ab AS (
        SELECT n,
               {" + ".join(
                   f"(CAST(n AS HUGEINT) * q{i}"
                   f" - CAST(s{i} AS HUGEINT) * s{i})"
                   for i in range(1, 6)
               )} AS a,
               CAST(n AS HUGEINT) * qt - CAST(st AS HUGEINT) * st AS b
        FROM items, totals
    )
    SELECT n AS n_weeks,
           round(1.25 * (1 - CAST(a AS DOUBLE) / CAST(b AS DOUBLE)), 6)
               AS alpha,
           25 * (b - a) > 14 * b AS internally_consistent
    FROM ab
    """,
    tags=("agg", "stats"),
)
def agg_cronbach_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cronbach's alpha (1951): internal consistency of the five
    priorities' weekly revenue treated as a 5-item instrument over
    week "subjects" — α = k/(k−1)·(1 − Σᵢσᵢ²/σ_T²), THE classical
    reliability coefficient (here it asks: do the five priority
    streams co-move week to week?). Weeks are the engine-shared
    exact epoch-week (date − 1992-01-01) div 7 (no ISO-week
    semantics drift), and every (week, priority) cell is
    ZERO-FILLED via the explicit week × 5 grid so sparse fixtures
    keep a complete item matrix (missing cell = no revenue = 0,
    stated knob). Both variance sums are EXACT: A = Σᵢ(n·Qᵢ − Sᵢ²),
    B = n·Q_T − S_T² in DECIMAL(38)/HUGEINT, so α = (5/4)(1 − A/B)
    displays as one double division and the Nunnally α ≥ 0.7
    acceptability verdict is the fully EXACT integer predicate
    25·(B − A) > 14·B. n·Σ over a calendar-bounded week axis —
    every moment map-side-combinable.

    Scale shape: one keyed reduce of the fact table to the ≤(weeks
    × 5) cell grid (bounded at ANY corpus scale), an explode-built
    zero-fill grid join, two bounded reduces, a 1-row assembly."""
    o = tbl(spark, sf_dir, "orders")
    base = o.select(
        F.substring("o_orderpriority", 1, 1).cast("int").alias("s"),
        F.expr(
            "CAST(datediff(to_date(o_orderdate), date'1992-01-01')"
            " AS BIGINT) div 7"
        ).alias("wk"),
        (dec2("o_totalprice") * 100).cast("long").alias("cents"),
    )
    cells = base.groupBy("s", "wk").agg(
        F.sum("cents").cast("long").alias("x")
    )
    grid = (
        base.select("wk")
        .distinct()
        .select(
            "wk",
            F.explode(F.array(*[F.lit(i) for i in range(1, 6)])).alias(
                "s"
            ),
        )
        .join(cells, ["wk", "s"], "left")
        .select("wk", "s", F.coalesce(F.col("x"), F.lit(0)).alias("x"))
    )
    x38 = F.col("x").cast("decimal(38,0)")
    items = grid.agg(
        F.count_distinct(F.col("wk")).cast("long").alias("n"),
        *[
            agg
            for i in range(1, 6)
            for agg in (
                F.sum(F.when(F.col("s") == i, F.col("x")).otherwise(0))
                .cast("long")
                .alias(f"s{i}"),
                F.sum(
                    F.when(F.col("s") == i, x38 * F.col("x")).otherwise(
                        F.lit(0).cast("decimal(38,0)")
                    )
                ).alias(f"q{i}"),
            )
        ],
    )
    weekly = grid.groupBy("wk").agg(
        F.sum("x").cast("long").alias("t")
    )
    totals = weekly.agg(
        F.sum("t").cast("long").alias("st"),
        F.sum(F.col("t").cast("decimal(38,0)") * F.col("t")).alias("qt"),
    )
    joined = items.crossJoin(F.broadcast(totals))
    n38 = F.col("n").cast("decimal(38,0)")
    a = None
    for i in range(1, 6):
        t = n38 * F.col(f"q{i}") - F.col(f"s{i}").cast(
            "decimal(38,0)"
        ) * F.col(f"s{i}")
        a = t if a is None else a + t
    ab = joined.select(
        "n",
        a.alias("a"),
        (n38 * F.col("qt") - F.col("st").cast("decimal(38,0)") * F.col("st")).alias(
            "b"
        ),
    )
    return ab.select(
        F.col("n").alias("n_weeks"),
        F.round(
            1.25
            * (1 - F.col("a").cast("double") / F.col("b").cast("double")),
            6,
        ).alias("alpha"),
        (25 * (F.col("b") - F.col("a")) > 14 * F.col("b")).alias(
            "internally_consistent"
        ),
    )
