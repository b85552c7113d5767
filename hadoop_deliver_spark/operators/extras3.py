"""§2 extensions, twenty-first wave — SCD2 consumption, SLA
percentiles, exact rounding modes, timezone algebra, graph triangles,
and checksum validation.

- join_scd2_point_in_time: the consumption side of scd2_dim_build —
  each purchase looks up the dimension version valid AT its event
  time. No range join: version rows and probe rows ride one
  user-keyed window on the (ts, kind, event_id) total order.
- delivery_sla_report: per-priority fulfillment latency (order date →
  last ship date) with EXACT interpolated percentiles (`percentile`,
  not approx) — the delivery-deadline audit.
- fn_rounding_modes: round (HALF_UP) / bround (HALF_EVEN) / ceil /
  floor at scale, computed on DECIMAL(18,2) so ties are decided on
  the exact cents value, never on double noise; oracle re-derives
  every mode from integer cents arithmetic.
- fn_timezone: from_utc_timestamp / to_utc_timestamp / named-zone
  convert_timezone as epoch-µs integers (fixed-offset zones only —
  DST-less, so the oracle is pure interval arithmetic).
- graph_triangle_count: triangles in the user co-activity graph
  (edges = user pairs active the same day, oriented u<v) — the
  clustering-coefficient numerator, counted once per triangle by
  ordered edge-edge-edge equi-joins.
- fn_luhn_check: Luhn checksum validation of synthetic 12-digit
  account numbers (`luhn_check`); oracle unrolls the mod-10
  double-every-second-digit formula on the BIGINT.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hadoop_deliver_spark.registry import register
from hadoop_deliver_spark.tables import tbl


@register(
    "join_scd2_point_in_time",
    """
    WITH v AS (
        SELECT user_id, ts, event_id,
               CAST(floor(value * 100) AS BIGINT) AS val,
               lead(ts) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS next_ts
        FROM events WHERE event_type = 'signup'
    ),
    p AS (
        SELECT user_id, ts, event_id FROM events
        WHERE event_type = 'purchase'
    )
    SELECT p.event_id, p.user_id, epoch_us(p.ts) AS ts_us,
           v.val AS dim_val_cents
    FROM p LEFT JOIN v
      ON p.user_id = v.user_id AND v.ts <= p.ts
         AND (v.next_ts IS NULL OR v.next_ts > p.ts)
    ORDER BY p.event_id
    """,
    tags=("join", "scd"),
)
def join_scd2_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time lookup against the type-2 dimension that
    scd2_dim_build constructs: each purchase reads the profile value
    whose [valid_from, valid_to) interval covers the purchase
    timestamp (NULL if the user has no version yet). The oracle
    states it as the interval join; the engine never builds one —
    version rows (kind 0) and probe rows (kind 1) are unioned into a
    single stream and ONE user-keyed window takes last(value IGNORE
    NULLS) on the (ts, kind, event_id) total order, so an
    at-the-same-instant version is visible to its probe and
    same-instant duplicate versions resolve to the highest event_id —
    exactly the surviving zero-lead interval. One shuffle, keyed on
    user_id; this is join_asof's machinery applied to the SCD2
    consumption pattern."""
    e = tbl(spark, sf_dir, "events")
    sign = e.filter(F.col("event_type") == "signup").select(
        "user_id",
        "ts",
        "event_id",
        F.lit(0).alias("kind"),
        F.floor(F.col("value") * 100).cast("long").alias("val"),
    )
    prob = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        "event_id",
        F.lit(1).alias("kind"),
        F.lit(None).cast("long").alias("val"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "kind", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        sign.unionByName(prob)
        .withColumn("cur", F.last("val", ignorenulls=True).over(w))
        .filter(F.col("kind") == 1)
        .select(
            "event_id",
            "user_id",
            F.unix_micros("ts").alias("ts_us"),
            F.col("cur").alias("dim_val_cents"),
        )
        .orderBy("event_id")
    )


@register(
    "delivery_sla_report",
    """
    WITH iv AS (
        SELECT o.o_orderkey, o.o_orderpriority,
               CAST(max(CAST(l.l_shipdate AS DATE))
                    - CAST(o.o_orderdate AS DATE) AS BIGINT) AS days
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY 1, 2, o.o_orderdate
    )
    SELECT o_orderpriority, count(*) AS n_orders,
           round(avg(days), 4) AS avg_days,
           round(quantile_cont(days, 0.5), 4) AS p50_days,
           round(quantile_cont(days, 0.95), 4) AS p95_days,
           max(days) AS max_days
    FROM iv GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    tags=("delivery", "agg"),
)
def delivery_sla_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fulfillment-SLA audit: days from order date to the LAST
    lineitem ship date, summarized per priority class with EXACT
    interpolated percentiles — `percentile` (sort-based, exact), not
    percentile_approx, because an SLA report's p95 is a contractual
    number. Integer day inputs make the interpolation arithmetic
    (lo + (hi-lo)·frac) IEEE-identical on both engines; round(4)
    guards the last ulp. Shuffles: one keyed rollup to order grain,
    one 5-group aggregate — the exact percentile sorts WITHIN each
    tiny priority group, not globally."""
    o = tbl(spark, sf_dir, "orders")
    li = tbl(spark, sf_dir, "lineitem")
    iv = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_orderpriority", F.to_date("o_orderdate").alias("od"))
        .agg(F.max(F.to_date("l_shipdate")).alias("ed"))
        .select(
            "o_orderpriority",
            F.datediff("ed", "od").cast("long").alias("days"),
        )
    )
    return (
        iv.groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.avg("days"), 4).alias("avg_days"),
            F.round(F.percentile("days", F.lit(0.5)), 4).alias("p50_days"),
            F.round(F.percentile("days", F.lit(0.95)), 4).alias("p95_days"),
            F.max("days").alias("max_days"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "fn_rounding_modes",
    """
    WITH c AS (
        SELECT l_orderkey, l_linenumber,
               CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                   AS cents
        FROM lineitem
    )
    SELECT l_orderkey, l_linenumber,
           (cents + 5) // 10 / 10.0 AS r1,
           (cents // 10
            + CASE WHEN cents % 10 > 5 THEN 1
                   WHEN cents % 10 = 5 AND (cents // 10) % 2 = 1 THEN 1
                   ELSE 0 END) / 10.0 AS br1,
           (cents + 9) // 10 / 10.0 AS c1,
           cents // 10 / 10.0 AS f1,
           CAST((cents + 50) // 100 AS DOUBLE) AS r0,
           CAST(cents // 100
                + CASE WHEN cents % 100 > 50 THEN 1
                       WHEN cents % 100 = 50 AND (cents // 100) % 2 = 1
                            THEN 1
                       ELSE 0 END AS DOUBLE) AS br0
    FROM c ORDER BY l_orderkey, l_linenumber
    """,
    tags=("fn", "math"),
)
def fn_rounding_modes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rounding-mode family at scale 1 and 0: round (HALF_UP), bround
    (HALF_EVEN / banker's), ceil, floor. The money column is cast to
    DECIMAL(18,2) FIRST so every tie (x.x5 at scale 1, x.50 at scale
    0) is decided on the exact cents value — rounding the raw double
    would decide ties on invisible binary noise (and Spark's
    ceil(double, scale) path via decimal(30,15) would even bump
    values UP on +2⁻⁵² representation error). The oracle re-derives
    all six surfaces from integer cents arithmetic, so a
    rounding-mode regression on either engine cannot hide. Map-only;
    the final double division of exact small integers is correctly
    rounded and engine-identical."""
    li = tbl(spark, sf_dir, "lineitem")
    d2 = F.col("l_extendedprice").cast("decimal(18,2)")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(d2, 1).cast("double").alias("r1"),
        F.bround(d2, 1).cast("double").alias("br1"),
        F.ceil(d2, F.lit(1)).cast("double").alias("c1"),
        F.floor(d2, F.lit(1)).cast("double").alias("f1"),
        F.round(d2, 0).cast("double").alias("r0"),
        F.bround(d2, 0).cast("double").alias("br0"),
    ).orderBy("l_orderkey", "l_linenumber")


@register(
    "fn_timezone",
    """
    SELECT event_id,
           epoch_us(ts + INTERVAL '5 hours 30 minutes') AS ist_us,
           epoch_us(ts + INTERVAL '8 hours') AS pst_wall_us,
           epoch_us(ts + INTERVAL '5 hours 30 minutes') AS kolkata_us,
           strftime(ts + INTERVAL '5 hours 30 minutes', '%Y-%m-%d')
               AS ist_day
    FROM events ORDER BY event_id
    """,
    tags=("fn", "datetime"),
)
def fn_timezone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timezone algebra on the event stream: from_utc_timestamp shifts
    the UTC instant into a zone's wall clock (+05:30 → +5h30m on the
    epoch-µs reading), to_utc_timestamp interprets the wall clock as
    zone-local (−08:00 wall → instant + 8h), and Spark 4's
    convert_timezone resolves NAMED zones (Asia/Kolkata — chosen
    DST-less, so the offset is a constant and the oracle stays pure
    interval arithmetic; DST zones would need a zone database in the
    oracle). Surfaced as epoch-µs BIGINTs plus one formatted local
    day — integer-exact, no format dialect beyond yyyy-MM-dd.
    Map-only column algebra."""
    e = tbl(spark, sf_dir, "events")
    ist = F.from_utc_timestamp("ts", "+05:30")
    return e.select(
        "event_id",
        F.unix_micros(ist).alias("ist_us"),
        F.unix_micros(F.to_utc_timestamp("ts", "-08:00")).alias("pst_wall_us"),
        F.unix_micros(
            F.convert_timezone(
                F.lit("UTC"), F.lit("Asia/Kolkata"), F.col("ts").cast("timestamp_ntz")
            ).cast("timestamp")
        ).alias("kolkata_us"),
        F.date_format(ist, "yyyy-MM-dd").alias("ist_day"),
    ).orderBy("event_id")


@register(
    "graph_triangle_count",
    """
    WITH du AS (
        SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
    ),
    edges AS (
        SELECT DISTINCT a.user_id AS u, b.user_id AS v
        FROM du a JOIN du b ON a.day = b.day AND a.user_id < b.user_id
    )
    SELECT (SELECT count(DISTINCT user_id) FROM events) AS n_nodes,
           (SELECT count(*) FROM edges) AS n_edges,
           (SELECT count(*)
            FROM edges e1
            JOIN edges e2 ON e2.u = e1.v
            JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v) AS n_triangles
    """,
    tags=("graph",),
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count over the user co-activity graph (edge = two
    users active on the same calendar day), edges oriented u < v.
    Each triangle {a<b<c} is counted exactly once as
    Σ over oriented edges (u,v) of |N⁺(u) ∩ N⁺(v)| — the common
    successor c of the edge (a,b). The intersection runs on
    dictionary-encoded adjacency BITMAPS (bit_count(and)), not an
    edge-edge-edge join: the co-activity graph is DENSE (measured at
    sf0.1: 1,500 nodes, ALL 1.12M possible edges present, 561M
    triangles), and any join-based enumeration is Ω(#triangles) —
    the relational triangle query spent 103 s materializing 1.1 G
    wedge rows where the bitmap intersection does ~29M 64-bit ANDs.
    Node-id assignment avoids a global single-partition sort with
    the same 64-bucket hash-interleave used by llm_dedup_ngram's
    refine. Scale honesty: bitmaps are the dense-small-graph
    specialization (width O(n_nodes); fine to ~100k nodes). For a
    sparse billion-node graph flip to the degree-ordered-orientation
    edge join (fan-out O(E^1.5)); the oracle keeps the plain
    relational triangle query so the two formulations check each
    other.

    Core: api.triangle_count (column-parameterized; also fuzzed
    against a brute-force count on random graphs in
    tests/test_hypothesis.py). Edges and neighbor bitmaps come from
    api.co_membership_graph: inside its dense gate the per-day
    O(n_d²) pair fan-out + distinct (26.8M rows → 1.12M at sf0.1)
    never runs, and n_edges + 3·triangles come out of ONE aggregate
    action (api.triangle_stats_from_neighbors), which broadcasts the
    whole |V|·n_chunks neighbor table and so declines past the
    broadcast budget; there, and past the core's gate, the edge list
    is counted and handed to api.triangle_count."""
    from hadoop_deliver_spark import api

    e = tbl(spark, sf_dir, "events")
    du = e.select(F.to_date("ts").alias("day"), "user_id")
    n_nodes = e.select("user_id").dropna().distinct().count()
    edges, _, nb = api.co_membership_graph(du, "day", "user_id")
    stats = None if nb is None else api.triangle_stats_from_neighbors(
        nb, "user_id"
    )
    if stats is None:
        stats = edges.count(), api.triangle_count(edges, "u", "v")
    n_edges, tri = stats
    return spark.createDataFrame(
        [(n_nodes, n_edges, tri)],
        "n_nodes long, n_edges long, n_triangles long",
    )


@register(
    "fn_luhn_check",
    """
    WITH nums AS (
        SELECT o_orderkey,
               (o_orderkey * 7919) % 1000000000000 AS n
        FROM orders
    ),
    d AS (
        SELECT o_orderkey, lpad(CAST(n AS VARCHAR), 12, '0') AS acct,
               n % 10 AS d0, (n // 10) % 10 AS d1,
               (n // 100) % 10 AS d2, (n // 1000) % 10 AS d3,
               (n // 10000) % 10 AS d4, (n // 100000) % 10 AS d5,
               (n // 1000000) % 10 AS d6, (n // 10000000) % 10 AS d7,
               (n // 100000000) % 10 AS d8, (n // 1000000000) % 10 AS d9,
               (n // 10000000000) % 10 AS d10,
               (n // 100000000000) % 10 AS d11
        FROM nums
    )
    SELECT o_orderkey, acct,
           ((d0 + d2 + d4 + d6 + d8 + d10
             + (2*d1 - CASE WHEN 2*d1 > 9 THEN 9 ELSE 0 END)
             + (2*d3 - CASE WHEN 2*d3 > 9 THEN 9 ELSE 0 END)
             + (2*d5 - CASE WHEN 2*d5 > 9 THEN 9 ELSE 0 END)
             + (2*d7 - CASE WHEN 2*d7 > 9 THEN 9 ELSE 0 END)
             + (2*d9 - CASE WHEN 2*d9 > 9 THEN 9 ELSE 0 END)
             + (2*d11 - CASE WHEN 2*d11 > 9 THEN 9 ELSE 0 END)) % 10 = 0)
               AS is_valid
    FROM d ORDER BY o_orderkey
    """,
    tags=("fn", "dq"),
)
def fn_luhn_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Luhn mod-10 checksum validation (`luhn_check`) of synthetic
    12-digit account numbers derived deterministically from the order
    key — the payment/account-number hygiene gate that pairs with
    llm_pii_scrub's SSN/email patterns. The oracle does not trust any
    DuckDB Luhn builtin (there is none): it unrolls the
    double-every-second-digit-from-the-right formula on the BIGINT's
    twelve digits, so the engine's builtin is checked against first
    principles. Map-only."""
    o = tbl(spark, sf_dir, "orders")
    acct = F.lpad(
        ((F.col("o_orderkey") * 7919) % F.lit(1_000_000_000_000)).cast("string"),
        12,
        "0",
    )
    return (
        o.select(
            "o_orderkey",
            acct.alias("acct"),
            F.expr("luhn_check(lpad(CAST((o_orderkey * 7919) % 1000000000000 AS STRING), 12, '0'))").alias(
                "is_valid"
            ),
        )
        .orderBy("o_orderkey")
    )
