"""§2 extensions, hundred-sixty-second wave — method-comparison
regression and community quality.

- ts_passing_bablok: Passing–Bablok (1983) robust method-comparison
  regression between the order-header daily revenue and the
  line-recomputed daily revenue — the clinical-chemistry standard
  that assumes error in BOTH variables and resists outliers, the
  nonparametric sibling of agg_deming_regression and the
  regression-flavored complement of agg_bland_altman.
- graph_conductance: per-community conductance φ = cut/min(vol,
  2m−vol) of the SAME communities graph_label_propagation reports
  (shared lpa_sym_and_labels core) — the quality number that says
  whether a detected community is actually separated from the rest
  of the graph (graph_modularity scores the partition globally;
  conductance localizes it).
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_deliver_spark import api
from hadoop_deliver_spark.operators.wave69 import (
    _LPA_KEY,
    _LPA_PREFIX,
    _LPA_ROUNDS,
    _LPA_STAGE,
    lpa_sym_and_labels,
)
from hadoop_deliver_spark.registry import register
from hadoop_deliver_spark.tables import tbl

#: bounded-collect gate of ts_passing_bablok: most joined daily rows
#: collected for the NumPy pairwise-slope selection
_PB_DRIVER_MAX_DAYS = 4096


@register(
    "ts_passing_bablok",
    """
    WITH ox AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                        AS BIGINT)) AS BIGINT) AS x
        FROM orders GROUP BY 1
    ),
    oy AS (
        SELECT CAST(o.o_orderdate AS DATE) AS day,
               CAST(sum(CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100
                        AS BIGINT)) AS BIGINT) AS y
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY 1
    ),
    d AS (
        SELECT datediff('day', DATE '1990-01-01', ox.day) AS dn,
               ox.x, oy.y
        FROM ox JOIN oy ON oy.day = ox.day
    ),
    sl AS (
        SELECT (CAST(b.y - a.y AS DOUBLE)) / (b.x - a.x) AS s,
               a.dn * 100000 + b.dn AS key
        FROM d a JOIN d b ON a.dn < b.dn
        WHERE a.x <> b.x
          AND (CAST(b.y - a.y AS DOUBLE)) / (b.x - a.x) <> -1.0
    ),
    cnt AS (
        SELECT CAST(count(*) AS BIGINT) AS nsl,
               CAST(count(*) FILTER (s < -1.0) AS BIGINT) AS k
        FROM sl
    ),
    rk AS (
        SELECT s, row_number() OVER (ORDER BY s, key) AS r FROM sl
    ),
    b AS (
        SELECT cnt.nsl, cnt.k,
               CASE WHEN cnt.nsl % 2 = 1
                    THEN max(CASE WHEN rk.r = (cnt.nsl + 1) // 2 + cnt.k
                                  THEN rk.s END)
                    ELSE
                      CASE WHEN max(CASE WHEN rk.r = cnt.nsl // 2 + cnt.k
                                         THEN rk.s END)
                             * max(CASE WHEN rk.r = cnt.nsl // 2 + 1 + cnt.k
                                        THEN rk.s END) > 0
                           THEN sign(max(CASE WHEN rk.r = cnt.nsl // 2
                                              + cnt.k THEN rk.s END))
                                * sqrt(max(CASE WHEN rk.r = cnt.nsl // 2
                                                + cnt.k THEN rk.s END)
                                       * max(CASE WHEN rk.r = cnt.nsl // 2
                                             + 1 + cnt.k THEN rk.s END))
                           ELSE (max(CASE WHEN rk.r = cnt.nsl // 2 + cnt.k
                                          THEN rk.s END)
                                 + max(CASE WHEN rk.r = cnt.nsl // 2 + 1
                                            + cnt.k THEN rk.s END)) / 2
                      END
               END AS slope
        FROM rk CROSS JOIN cnt
        GROUP BY cnt.nsl, cnt.k
    ),
    ik AS (
        SELECT d.dn, d.y - b.slope * d.x AS resid, b.slope, b.nsl, b.k
        FROM d CROSS JOIN b
    ),
    irk AS (
        SELECT resid, slope, nsl, k,
               row_number() OVER (ORDER BY resid, dn) AS r,
               count(*) OVER () AS n
        FROM ik
    )
    SELECT max(n) AS n_days, max(nsl) AS n_slopes, max(k) AS k_shift,
           round(max(slope), 6) AS pb_slope,
           round(max(CASE WHEN r = CAST(ceil(0.5 * n) AS BIGINT)
                          THEN resid END) / 100.0, 4)
               AS pb_intercept_dollars,
           abs(round(max(slope), 6) - 1) > 0.05 AS proportional_bias
    FROM irk
    """,
    tags=("timeseries", "stats"),
)
def ts_passing_bablok(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passing–Bablok regression (1983) comparing two 'measurements'
    of daily revenue: X = the order-header totals, Y = the same days'
    line-recomputed extended-price sums. The PB slope is the
    K-shifted median of all pairwise slopes Sᵢⱼ = Δy/Δx (vertical
    pairs dropped, slopes exactly −1 dropped, K = #{{S < −1}} — the
    sign-correction that makes the estimator consistent when both
    variables carry error, which plain OLS and even Theil–Sen are
    not in the method-comparison setting); even-N middle pairs take
    the geometric mean when their product is positive, else the
    arithmetic mean (pinned — the original geometric mean is
    undefined across signs). Intercept = type-1 median of
    y − b·x (dn tiebreak). Unlike agg_deming_regression (needs an
    error-variance ratio) PB is assumption-free; agg_bland_altman is
    its agreement-plot companion. The ±5% proportional-bias flag on
    the ROUNDED slope is a screening convention (full PB rank CIs
    are the natural extension), stated as such. Slopes divide exact
    integer cent differences, so both engines rank bit-identical
    doubles. The joined daily series is CALENDAR-BOUNDED (one row per
    day at any corpus scale), so the O(days²) slope fan-out is a
    bounded DRIVER computation: one api.bounded_collect of the
    series, then the same IEEE arithmetic in NumPy — (yb−ya)/(xb−xa)
    in float64, s = −1 dropped, k = #{s < −1}, rank picks on the
    ascending sort, the signed geometric mean in the even case — and
    the intercept residuals y − b·x in float64, row ⌈n/2⌉ of their
    (resid, dn) order. No slope (fewer than two distinct x) gives
    the oracle's all-NULL row; a shift k that pushes a rank past the
    slopes gives (n, nsl, k, NULL…). Rounding and the bias verdict
    stay Spark expressions on the 1-row frame.

    Scale shape: two daily reduces and one day equi-join, one bounded
    collect (ValueError past _PB_DRIVER_MAX_DAYS), a 1-row
    projection."""
    o = tbl(spark, sf_dir, "orders")
    li = tbl(spark, sf_dir, "lineitem")
    cx = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
    cy = (F.col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long")
    ox = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(cx).cast("long").alias("x")
    )
    oy = (
        o.join(li, li.l_orderkey == o.o_orderkey)
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(F.sum(cy).cast("long").alias("y"))
    )
    d = ox.join(oy, "day").select(
        F.datediff("day", F.lit("1990-01-01")).alias("dn"), "x", "y"
    )
    rows = api.bounded_collect(d, _PB_DRIVER_MAX_DAYS)
    n = len(rows)
    dn, x, y = (
        np.asarray([r[c] for r in rows], np.int64) for c in ("dn", "x", "y")
    )
    i, j = np.triu_indices(n, 1)
    m = x[i] != x[j]
    i, j = i[m], j[m]
    s = (y[j] - y[i]).astype(np.float64) / (x[j] - x[i]).astype(np.float64)
    s = np.sort(s[s != -1.0])
    nsl, k = int(s.size), int((s < -1.0).sum())
    # 1-based ranks of the middle slope(s), shifted by k
    h = nsl // 2 + k
    ranks = [h + 1] if nsl % 2 else [h, h + 1]
    slope = None
    if all(1 <= r <= nsl for r in ranks):
        lo, hi = float(s[ranks[0] - 1]), float(s[ranks[-1] - 1])
        if len(ranks) == 1:
            slope = lo
        elif lo * hi > 0:
            slope = math.copysign(1.0, lo) * math.sqrt(lo * hi)
        else:
            slope = (lo + hi) / 2
    if slope is None:
        row = (n, nsl, k, None, None) if nsl else (None,) * 5
    else:
        resid = y.astype(np.float64) - slope * x.astype(np.float64)
        med = np.lexsort((dn, resid))[(n + 1) // 2 - 1]
        row = (n, nsl, k, slope, float(resid[med]))
    b = spark.createDataFrame(
        [row],
        "n_days long, n_slopes long, k_shift long, slope double, "
        "resid double",
    )
    pb_slope = F.round("slope", 6)
    return b.select(
        "n_days",
        "n_slopes",
        "k_shift",
        pb_slope.alias("pb_slope"),
        F.round(F.col("resid") / 100.0, 4).alias("pb_intercept_dollars"),
        (F.abs(pb_slope - 1) > 0.05).alias("proportional_bias"),
    )


@register(
    "graph_conductance",
    _LPA_PREFIX
    + "".join(
        _LPA_STAGE.format(i=i, prev=i - 1, key=_LPA_KEY)
        for i in range(1, _LPA_ROUNDS + 1)
    )
    + f""",
    lab AS (SELECT node, lbl FROM l{_LPA_ROUNDS}),
    ej AS (
        SELECT lu.lbl AS cu, lv.lbl AS cv
        FROM sym s
        JOIN lab lu ON lu.node = s.u
        JOIN lab lv ON lv.node = s.v
    ),
    m2 AS (SELECT CAST(count(*) AS BIGINT) AS m2 FROM ej),
    per AS (
        SELECT cu AS community,
               CAST(count(*) AS BIGINT) AS vol,
               CAST(count(*) FILTER (cu <> cv) AS BIGINT) AS cut
        FROM ej GROUP BY 1
    ),
    sz AS (
        SELECT lbl AS community, CAST(count(*) AS BIGINT) AS n_nodes
        FROM lab GROUP BY 1
    )
    SELECT p.community, sz.n_nodes, p.vol, p.cut,
           round(CASE WHEN least(p.vol, m2.m2 - p.vol) > 0
                      THEN CAST(p.cut AS DOUBLE)
                           / least(p.vol, m2.m2 - p.vol)
                 END, 6) AS conductance
    FROM per p JOIN sz ON sz.community = p.community
    CROSS JOIN m2
    ORDER BY sz.n_nodes DESC, p.community
    """,
    tags=("graph", "stats"),
)
def graph_conductance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-community conductance φ(C) = cut(C)/min(vol(C), 2m−vol(C))
    of the EXACT communities graph_label_propagation detects (the
    shared lpa_sym_and_labels core — detector and metric cannot
    drift apart): vol counts each community's directed edge
    endpoints, cut the edges leaving it, and φ ∈ [0,1] is the
    bottleneck ratio — low φ means a genuinely separated community,
    φ near 1 a label-propagation artifact. graph_modularity grades
    the partition as a whole; conductance is the per-community
    audit (and the objective the theory says spectral methods
    approximate — Cheeger's inequality). All counts are exact
    integers; the single division rounds at 6 with the min-volume
    guard NULL for empty sides pinned on both engines.

    Scale shape: the LPA core's joins, then one edge-label double
    equi-join, a community-keyed reduce, and a ≤communities-row
    join."""
    sym, lbl = lpa_sym_and_labels(spark, sf_dir)
    lu = lbl.select(F.col("node").alias("u"), F.col("lbl").alias("cu"))
    lv = lbl.select(F.col("node").alias("v"), F.col("lbl").alias("cv"))
    ej = sym.join(lu, "u").join(lv, "v").select("cu", "cv")
    m2 = ej.agg(F.count(F.lit(1)).cast("long").alias("m2"))
    per = ej.groupBy(F.col("cu").alias("community")).agg(
        F.count(F.lit(1)).cast("long").alias("vol"),
        F.sum(F.when(F.col("cu") != F.col("cv"), 1).otherwise(0))
        .cast("long")
        .alias("cut"),
    )
    sz = lbl.groupBy(F.col("lbl").alias("community")).agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes")
    )
    side = F.least(F.col("vol"), F.col("m2") - F.col("vol"))
    return (
        per.join(sz, "community")
        .crossJoin(F.broadcast(m2))
        .select(
            "community",
            "n_nodes",
            "vol",
            "cut",
            F.round(
                F.when(
                    side > 0, F.col("cut").cast("double") / side
                ),
                6,
            ).alias("conductance"),
        )
        .orderBy(F.desc("n_nodes"), "community")
    )
