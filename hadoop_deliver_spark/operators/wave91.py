"""§2 extensions, ninety-first wave — high-breakdown scale and the
concordance correlation.

- ts_qn_scale: the Rousseeuw-Croux Qn estimator (JASA 1993) — the
  50%-breakdown, 82%-efficient scale estimator that needs no location
  (unlike MAD) and no symmetry, as an order statistic of pairwise
  absolute differences on the calendar-bounded daily axis.
- agg_lin_ccc: Lin's concordance correlation coefficient (1989) —
  the method-agreement number that penalizes BOTH scatter and
  location/scale shift (Pearson r rewards a biased rater; CCC does
  not), FULLY exact on the half-history frame.
"""

from __future__ import annotations

from decimal import Decimal

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_deliver_spark import api
from hadoop_deliver_spark.registry import register
from hadoop_deliver_spark.tables import dec2, tbl

#: bounded-collect gate of ts_qn_scale: most daily rows collected for
#: the NumPy pair-difference selection
_QN_DRIVER_MAX_DAYS = 4096


@register(
    "ts_qn_scale",
    """
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(sum(CAST(floor(o_totalprice) AS BIGINT)) AS BIGINT)
                   AS y
        FROM orders GROUP BY 1
    ),
    idx AS (
        SELECT y, row_number() OVER (ORDER BY day) AS i,
               count(*) OVER () AS n
        FROM daily
    ),
    pairs AS (
        SELECT abs(a.y - b.y) AS d, a.i AS ia, b.i AS ib, a.n
        FROM idx a JOIN idx b ON a.i < b.i
    ),
    rk AS (
        SELECT d, n,
               row_number() OVER (ORDER BY d, ia, ib) AS r
        FROM pairs
    ),
    kk AS (
        SELECT CAST(max(n) AS BIGINT) AS n,
               ((CAST(max(n) AS BIGINT) // 2 + 1)
                * (CAST(max(n) AS BIGINT) // 2)) // 2 AS k
        FROM rk
    ),
    sel AS (
        SELECT kk.n, kk.k, CAST(max(rk.d) AS BIGINT) AS q
        FROM rk JOIN kk ON rk.r = kk.k
        GROUP BY kk.n, kk.k
    ),
    mom AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(y) AS BIGINT) AS s,
               CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS qq
        FROM daily
    )
    SELECT sel.n AS n_days, sel.q AS qn_raw_dollars,
           round(2.2219 * sel.q, 4) AS qn_scale,
           round(sqrt(CAST(CAST(mom.n AS HUGEINT) * mom.qq
                           - CAST(mom.s AS HUGEINT) * mom.s AS DOUBLE)
                      / (CAST(mom.n AS DOUBLE) * (mom.n - 1))), 4)
               AS sample_sd,
           2.2219 * 2.2219 * CAST(sel.q AS DOUBLE) * sel.q
               * mom.n * (mom.n - 1)
               < CAST(CAST(mom.n AS HUGEINT) * mom.qq
                      - CAST(mom.s AS HUGEINT) * mom.s AS DOUBLE)
               AS tails_inflate_sd
    FROM sel CROSS JOIN mom
    """,
    tags=("timeseries", "stats"),
)
def ts_qn_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rousseeuw-Croux Qn (1993) of daily revenue: the k-th smallest
    of all pairwise |y_i − y_j| with k = C(h,2), h = ⌊n/2⌋+1, scaled
    by the Gaussian-consistency constant 2.2219 (their d_n
    finite-sample factor omitted at n ≈ 2400 — stated knob) — the
    scale estimator with 50% breakdown AND 82% Gaussian efficiency
    (MAD stops at 37%), needing no location and no symmetry. The
    pairwise-difference table lives on the calendar-bounded daily
    axis (≤ days²/2 rows at ANY corpus scale — the ts_theil_sen
    frame argument) and every difference is an exact integer, so the
    order-statistic selection is exact: the oracle ranks by (d, i,
    j) and picks rank k; the Spark side collects the daily series
    once (api.bounded_collect) and takes element k of the NumPy
    partition of the |y_i − y_j| — the same value, since ties at
    rank k share it. No float-fraction percentile anywhere (the r11
    form interpolated at (k−1)/(m−1), whose index can land an ulp
    off k). The companion column is the exact-moment sample SD: n,
    Σy and Σy² come from the collected series as exact Python ints
    (Σy² as DECIMAL(38,0)), and the verdict — Qn sits BELOW the SD,
    i.e. the tails inflate the classical estimate — squares the
    2.2219 literal textually on both engines against the exact
    integer n-scaled SS (one double cast per side, fixed order);
    both stay Spark expressions on the 1-row frame. Fewer than two
    days give no pair and no row, as in the oracle.

    Scale shape: one keyed reduce to the bounded daily axis, one
    bounded collect (ValueError past _QN_DRIVER_MAX_DAYS), a 1-row
    projection."""
    o = tbl(spark, sf_dir, "orders")
    daily = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(F.floor("o_totalprice").cast("long"))
        .cast("long")
        .alias("y")
    )
    ys = [r["y"] for r in api.bounded_collect(daily, _QN_DRIVER_MAX_DAYS)]
    n = len(ys)
    rows = []
    if n >= 2:
        h = n // 2 + 1
        k = h * (h - 1) // 2
        y = np.asarray(ys, dtype=np.int64)
        d = np.abs(y[:, None] - y[None, :])[np.triu_indices(n, 1)]
        q = int(np.partition(d, k - 1)[k - 1])
        rows = [(n, q, sum(ys), Decimal(sum(v * v for v in ys)))]
    j = spark.createDataFrame(
        rows, "mn long, q long, s long, qq decimal(38,0)"
    )
    mn, s, qq, q = F.col("mn"), F.col("s"), F.col("qq"), F.col("q")
    css = (
        mn.cast("decimal(38,0)") * qq - s.cast("decimal(38,0)") * s
    ).cast("double")
    return j.select(
        mn.alias("n_days"),
        q.alias("qn_raw_dollars"),
        F.round(2.2219 * q, 4).alias("qn_scale"),
        F.round(
            F.sqrt(css / (mn.cast("double") * (mn - 1))), 4
        ).alias("sample_sd"),
        (
            2.2219 * 2.2219 * q.cast("double") * q * mn * (mn - 1) < css
        ).alias("tails_inflate_sd"),
    )


@register(
    "agg_lin_ccc",
    """
    WITH spend AS (
        SELECT o_custkey,
               CASE WHEN o_orderdate < DATE '1998-01-01' THEN 1 ELSE 2 END
                   AS half,
               CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                        AS BIGINT)) AS BIGINT) AS cents
        FROM orders GROUP BY 1, 2
    ),
    both_halves AS (
        SELECT o_custkey FROM spend GROUP BY o_custkey
        HAVING count(*) = 2
    ),
    w AS (
        SELECT a.cents AS x, b.cents AS y
        FROM spend a
        JOIN spend b ON a.o_custkey = b.o_custkey
                    AND a.half = 1 AND b.half = 2
        JOIN both_halves bh ON bh.o_custkey = a.o_custkey
    ),
    m AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx,
               CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
               CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy,
               CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy
        FROM w
    ),
    c AS (
        SELECT n,
               CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS cxy,
               CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS cxx,
               CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS cyy,
               CAST(sx - sy AS HUGEINT) * (sx - sy) AS dd
        FROM m
    )
    SELECT n AS n_customers,
           round(2 * CAST(cxy AS DOUBLE)
                 / (CAST(cxx AS DOUBLE) + CAST(cyy AS DOUBLE)
                    + CAST(dd AS DOUBLE)), 6) AS lin_ccc,
           cxy > 0 AS positive_concordance,
           10 * cxy > 3 * (cxx + cyy + dd) AS substantial_agreement
    FROM c
    """,
    tags=("agg", "stats"),
)
def agg_lin_ccc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lin's concordance correlation coefficient (1989) between the
    two half-history customer values (the agg_spearman_brown frame):
    CCC = 2·s_xy / (s_x² + s_y² + (x̄−ȳ)²) — the method-agreement
    measure that penalizes scatter AND systematic shift, unlike
    Pearson r (a rater that doubles every value keeps r = 1 but
    craters CCC; the bias-correction factor C_b = CCC/r is the
    published decomposition). In n-scaled form the n² cancels, so
    CCC = 2·C_xy / (C_xx + C_yy + (S_x − S_y)²) with every term an
    EXACT DECIMAL(38)/HUGEINT integer (cents² sums, safe past
    sf1000) — the display is ONE fixed-order division, and BOTH
    verdicts are pure-integer: positive concordance ⇔ C_xy > 0, and
    substantial agreement (CCC > 0.6) clears to 10·C_xy > 3·(C_xx +
    C_yy + (S_x−S_y)²). No double anywhere in either decision —
    sharper than the Spearman-Brown sibling, whose r > 2/3 needs a
    squared double comparison.

    Scale shape: one keyed reduce per (customer, half), one
    equi-join, a 1-row moment reduce — map-side-combinable."""
    o = tbl(spark, sf_dir, "orders")
    spend = o.groupBy(
        "o_custkey",
        F.when(
            F.col("o_orderdate") < F.lit("1998-01-01").cast("date"), 1
        )
        .otherwise(2)
        .alias("half"),
    ).agg(
        F.sum((dec2("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("cents")
    )
    both = (
        spend.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("k"))
        .filter(F.col("k") == 2)
        .select("o_custkey")
    )
    a = spend.filter(F.col("half") == 1).select(
        "o_custkey", F.col("cents").alias("x")
    )
    b = spend.filter(F.col("half") == 2).select(
        "o_custkey", F.col("cents").alias("y")
    )
    w = a.join(b, "o_custkey").join(both, "o_custkey")
    d38 = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    m = w.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(d38("x") * F.col("x")).alias("sxx"),
        F.sum(d38("y") * F.col("y")).alias("syy"),
        F.sum(d38("x") * F.col("y")).alias("sxy"),
    )
    n = F.col("n")
    n38 = n.cast("decimal(38,0)")
    c = m.select(
        "n",
        (n38 * F.col("sxy") - d38("sx") * F.col("sy")).alias("cxy"),
        (n38 * F.col("sxx") - d38("sx") * F.col("sx")).alias("cxx"),
        (n38 * F.col("syy") - d38("sy") * F.col("sy")).alias("cyy"),
        (
            (F.col("sx") - F.col("sy")).cast("decimal(38,0)")
            * (F.col("sx") - F.col("sy"))
        ).alias("dd"),
    )
    cxy, cxx, cyy, dd = (
        F.col("cxy"),
        F.col("cxx"),
        F.col("cyy"),
        F.col("dd"),
    )
    return c.select(
        n.alias("n_customers"),
        F.round(
            2 * cxy.cast("double")
            / (cxx.cast("double") + cyy.cast("double") + dd.cast("double")),
            6,
        ).alias("lin_ccc"),
        (cxy > 0).alias("positive_concordance"),
        (10 * cxy > 3 * (cxx + cyy + dd)).alias("substantial_agreement"),
    )
