"""§2 extensions, twentieth wave — slowly-changing dims, attribution,
interval accounting, and reconciliation.

- scd2_dim_build: type-2 slowly-changing-dimension construction from a
  change stream (per-key version rows with [valid_from, valid_to)
  intervals) — the warehouse-side twin of stream_upsert_merge's
  last-write-wins. One keyed window pass.
- events_attribution_last_touch: marketing last-touch attribution —
  each purchase credits the user's latest preceding click/view within
  a 7-day lookback, else 'direct'. Same union+IGNORE-NULLS-window
  machinery as join_asof (no range join, one user-keyed shuffle).
- orders_open_backlog: daily open-order backlog via interval stabbing
  as delta events (+1 at open, -1 after close) + running sum over the
  calendar axis — the scale-safe alternative to a day×interval range
  join. The single-partition window runs over the *calendar-bounded*
  day axis (~2.5k rows at any data scale), never the fact table.
- delivery_snapshot_diff: full-row reconciliation of two table
  snapshots (added / deleted / changed / unchanged + money delta) —
  the audit step after any delivery sync. One full-outer equi-join.
- llm_corpus_shuffle: deterministic content-hash training-order
  shuffle: md5 nibble → shard, rank within shard by (md5, doc_id).
  Reproducible across engines/re-runs; no RNG, no global sort.
- events_cohort_ltv: cohort lifetime value — first-touch day cohorts ×
  week offset, exact-cents weekly and cumulative revenue per cohort.
- orders_pareto_abc: ABC/Pareto classification of parts by revenue
  share with an EXACT global cumulative sum built block-ranked (split
  points → per-block window cumsum + broadcast block offsets), the
  cumulative-sum twin of ranking.exact_global_ntile — no
  whole-table single-partition window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hadoop_deliver_spark.registry import register
from hadoop_deliver_spark.tables import dec2, tbl


@register(
    "scd2_dim_build",
    """
    SELECT user_id,
           row_number() OVER w AS version_n,
           epoch_us(ts) AS valid_from_us,
           epoch_us(lead(ts) OVER w) AS valid_to_us,
           CAST(floor(value * 100) AS BIGINT) AS val_cents,
           (lead(ts) OVER w) IS NULL AS is_current
    FROM events WHERE event_type = 'signup'
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ORDER BY user_id, version_n
    """,
    tags=("analytics", "scd"),
)
def scd2_dim_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build a type-2 SCD from a change stream: each profile-update
    event opens a version valid until the next update of the same key
    ([valid_from, valid_to) half-open; NULL valid_to = current row).
    One window pass partitioned by the dimension key — the shuffle is
    keyed on user_id and each partition holds one key's history, so
    the plan is identical at 100× (version count per key is bounded
    by that key's change rate, not by table size). Timestamps surface
    as epoch µs BIGINTs: integer-exact on both engines, no format
    dialect. value goes through floor(×100) cents like every
    events-money query."""
    e = tbl(spark, sf_dir, "events").filter(F.col("event_type") == "signup")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w)
    return (
        e.select(
            "user_id",
            F.row_number().over(w).alias("version_n"),
            F.unix_micros("ts").alias("valid_from_us"),
            F.unix_micros(nxt).alias("valid_to_us"),
            F.floor(F.col("value") * 100).cast("long").alias("val_cents"),
            nxt.isNull().alias("is_current"),
        )
        .orderBy("user_id", "version_n")
    )


@register(
    "events_attribution_last_touch",
    """
    WITH b AS (
        SELECT user_id, ts, event_id, event_type, value,
               last_value(CASE WHEN event_type IN ('click', 'view')
                               THEN epoch_us(ts) END IGNORE NULLS)
                   OVER w AS last_t,
               last_value(CASE WHEN event_type IN ('click', 'view')
                               THEN event_type END IGNORE NULLS)
                   OVER w AS last_c
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    )
    SELECT CASE WHEN last_t >= epoch_us(ts) - CAST(604800000000 AS BIGINT)
                THEN last_c ELSE 'direct' END AS channel,
           count(*) AS purchases,
           CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
               AS rev_cents
    FROM b WHERE event_type = 'purchase'
    GROUP BY 1 ORDER BY channel
    """,
    tags=("analytics", "events"),
)
def events_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase credits the user's latest
    strictly-preceding click/view (the marketing touch) if it falls in
    a 7-day lookback, else 'direct'. No purchase⋈touch range join —
    the touch columns ride the SAME user-keyed window pass as the
    purchases (last IGNORE NULLS over rows up to 1 PRECEDING on the
    (ts, event_id) total order), so the only shuffle is one hash
    partition on user_id. A NULL last_t (no prior touch ever)
    null-propagates the comparison and falls to 'direct' identically
    on both engines."""
    e = tbl(spark, sf_dir, "events")
    is_touch = F.col("event_type").isin("click", "view")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    last_t = F.last(F.when(is_touch, F.unix_micros("ts")), ignorenulls=True).over(w)
    last_c = F.last(F.when(is_touch, F.col("event_type")), ignorenulls=True).over(w)
    lookback_us = 7 * 86400 * 1_000_000
    return (
        e.select("user_id", "ts", "event_id", "event_type", "value")
        .withColumn("last_t", last_t)
        .withColumn("last_c", last_c)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.when(
                F.col("last_t") >= F.unix_micros("ts") - F.lit(lookback_us),
                F.col("last_c"),
            )
            .otherwise("direct")
            .alias("channel"),
            "value",
        )
        .groupBy("channel")
        .agg(
            F.count("*").alias("purchases"),
            F.sum(F.floor(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("rev_cents"),
        )
        .orderBy("channel")
    )


@register(
    "orders_open_backlog",
    """
    WITH iv AS (
        SELECT o.o_orderkey, CAST(o.o_orderdate AS DATE) AS sd,
               max(CAST(l.l_shipdate AS DATE)) AS ed
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY 1, 2
    ),
    deltas AS (
        SELECT sd AS day, 1 AS d FROM iv
        UNION ALL
        SELECT ed + 1 AS day, -1 AS d FROM iv
    ),
    byday AS (
        SELECT day, CAST(sum(d) AS BIGINT) AS net FROM deltas GROUP BY day
    )
    SELECT strftime(day, '%Y-%m-%d') AS day, net,
           CAST(sum(net) OVER (ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS open_orders
    FROM byday ORDER BY day
    """,
    tags=("analytics", "orders"),
)
def orders_open_backlog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order backlog per day: an order is open from o_orderdate
    until its last lineitem ships. The naive plan is a day×order
    interval-stabbing range join (quadratic-ish); this is the
    scale-safe rewrite — each interval becomes TWO delta events (+1
    at open day, -1 the day after close), a day-keyed aggregate nets
    them, and a running sum over the day axis reconstructs the count.
    The fact tables are touched only by keyed shuffles; the running
    sum is the BLOCK-RANKED keyed cumsum core
    (api.exact_global_keyed_cumsum over the epoch-day axis — windows
    partition by block, integer measures make the block carry exact),
    so NO single-partition window exists in the plan at all (round-12
    conversion; the day axis was calendar-bounded anyway, but the
    block-ranked spelling removes even that reliance)."""
    from hadoop_deliver_spark.api import exact_global_keyed_cumsum

    o = tbl(spark, sf_dir, "orders")
    li = tbl(spark, sf_dir, "lineitem")
    iv = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", F.to_date("o_orderdate").alias("sd"))
        .agg(F.max(F.to_date("l_shipdate")).alias("ed"))
    )
    deltas = iv.select(F.col("sd").alias("day"), F.lit(1).alias("d")).unionAll(
        iv.select(F.date_add("ed", 1).alias("day"), F.lit(-1).alias("d"))
    )
    byday = (
        deltas.groupBy("day")
        .agg(F.sum("d").cast("long").alias("net"))
        .withColumn(
            "di", F.datediff("day", F.lit("1970-01-01").cast("date"))
        )
    )
    cum = exact_global_keyed_cumsum(byday, "di", "net", "di", "open_orders")
    return cum.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "net",
        F.col("open_orders").cast("long").alias("open_orders"),
    ).orderBy("day")


@register(
    "delivery_snapshot_diff",
    """
    WITH a AS (
        SELECT o_orderkey,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                   AS a_cents
        FROM orders WHERE o_orderkey % 10 != 3
    ),
    b AS (
        SELECT o_orderkey,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               + CASE WHEN o_orderkey % 5 = 0 THEN 100 ELSE 0 END AS b_cents
        FROM orders WHERE o_orderkey % 10 != 7
    )
    SELECT CASE WHEN a.o_orderkey IS NULL THEN 'added'
                WHEN b.o_orderkey IS NULL THEN 'deleted'
                WHEN a.a_cents = b.b_cents THEN 'unchanged'
                ELSE 'changed' END AS status,
           count(*) AS n,
           CAST(sum(coalesce(b.b_cents, 0) - coalesce(a.a_cents, 0))
                AS BIGINT) AS delta_cents
    FROM a FULL OUTER JOIN b ON a.o_orderkey = b.o_orderkey
    GROUP BY 1 ORDER BY status
    """,
    tags=("delivery", "dq"),
)
def delivery_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation — the audit report after a sync: two
    deterministic snapshots of orders (A drops keys ≡3 mod 10; B
    drops keys ≡7 mod 10 and bumps every ≡0-mod-5 price by 1.00) are
    FULL OUTER equi-joined on the key and every row classified
    added / deleted / changed / unchanged, with the exact-cents money
    delta per class. One hash-partitioned join + one 4-group
    aggregate; at 100 TB this is the row-level complement of
    delivery_distcp_sync's per-partition manifest diff (which decides
    WHAT to copy without moving data — this one proves what actually
    changed)."""
    o = tbl(spark, sf_dir, "orders")
    cents = (dec2("o_totalprice") * 100).cast("long")
    a = o.filter(F.col("o_orderkey") % 10 != 3).select(
        F.col("o_orderkey").alias("a_key"), cents.alias("a_cents")
    )
    b = o.filter(F.col("o_orderkey") % 10 != 7).select(
        F.col("o_orderkey").alias("b_key"),
        (
            cents
            + F.when(F.col("o_orderkey") % 5 == 0, 100).otherwise(0)
        ).alias("b_cents"),
    )
    j = a.join(b, a.a_key == b.b_key, "full")
    status = (
        F.when(F.col("a_key").isNull(), "added")
        .when(F.col("b_key").isNull(), "deleted")
        .when(F.col("a_cents") == F.col("b_cents"), "unchanged")
        .otherwise("changed")
    )
    return (
        j.select(
            status.alias("status"),
            (
                F.coalesce("b_cents", F.lit(0)) - F.coalesce("a_cents", F.lit(0))
            ).alias("delta"),
        )
        .groupBy("status")
        .agg(
            F.count("*").alias("n"),
            F.sum("delta").cast("long").alias("delta_cents"),
        )
        .orderBy("status")
    )


@register(
    "llm_corpus_shuffle",
    """
    WITH h AS (
        SELECT doc_id, md5(text) AS hk,
               (strpos('0123456789abcdef', substr(md5(text), 1, 1)) - 1) % 8
                   AS shard
        FROM documents
    )
    SELECT doc_id, shard,
           row_number() OVER (PARTITION BY shard ORDER BY hk, doc_id)
               AS pos
    FROM h ORDER BY shard, pos
    """,
    tags=("llm", "shuffle"),
)
def llm_corpus_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-order shuffle: md5(text) gives every doc
    a pseudo-random but content-reproducible sort key; the first
    nibble mod 8 assigns the shard, rank within shard orders the
    examples. No RNG (bit-identical across engines/re-runs/backfills,
    like llm_dataset_split) and no GLOBAL sort — the window
    partitions on shard, so the plan is 8-way parallel and each
    shard's order is still globally deterministic. Exact dup texts
    land adjacently in one shard, which is also what dedup wants to
    see."""
    d = tbl(spark, sf_dir, "documents")
    hk = F.md5("text")
    shard = (
        F.expr("instr('0123456789abcdef', substring(md5(text), 1, 1))") - 1
    ) % 8
    w = Window.partitionBy("shard").orderBy("hk", "doc_id")
    return (
        d.select("doc_id", hk.alias("hk"), shard.alias("shard"))
        .withColumn("pos", F.row_number().over(w))
        .select("doc_id", "shard", "pos")
        .orderBy("shard", "pos")
    )


@register(
    "events_cohort_ltv",
    """
    WITH first_touch AS (
        SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day FROM events
        GROUP BY user_id
    ),
    purchases AS (
        SELECT e.user_id,
               CAST(floor((CAST(e.ts AS DATE) - f.cohort_day) / 7) AS BIGINT)
                   AS week_offset,
               CAST(floor(e.value * 100) AS BIGINT) AS cents
        FROM events e JOIN first_touch f ON e.user_id = f.user_id
        WHERE e.event_type = 'purchase'
    ),
    weekly AS (
        SELECT p.week_offset,
               strftime(f.cohort_day, '%Y-%m-%d') AS cohort,
               count(DISTINCT p.user_id) AS buyers,
               CAST(sum(p.cents) AS BIGINT) AS rev_cents
        FROM purchases p JOIN first_touch f ON p.user_id = f.user_id
        GROUP BY 1, 2
    )
    SELECT cohort, week_offset, buyers, rev_cents,
           CAST(sum(rev_cents) OVER (PARTITION BY cohort ORDER BY week_offset
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum_rev_cents
    FROM weekly ORDER BY cohort, week_offset
    """,
    tags=("analytics", "events"),
)
def events_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime value: users cohorted by first-touch day, then
    per (cohort, week offset) the buyer count, exact-cents weekly
    revenue and running cumulative LTV. events_retention's money twin.
    Two user-keyed shuffles (first-touch agg, purchase join rides the
    same key) + one small grid aggregate; the cumsum window partitions
    by cohort over ≤ a few dozen week offsets — never the fact
    table. The first-touch side broadcasts (|users| ≪ |events|)."""
    e = tbl(spark, sf_dir, "events")
    first = e.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("cohort_day"))
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(F.broadcast(first), "user_id")
        .select(
            "user_id",
            F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort"),
            F.floor(F.datediff(F.to_date("ts"), F.col("cohort_day")) / 7)
            .cast("long")
            .alias("week_offset"),
            F.floor(F.col("value") * 100).cast("long").alias("cents"),
        )
    )
    weekly = p.groupBy("cohort", "week_offset").agg(
        F.countDistinct("user_id").alias("buyers"),
        F.sum("cents").cast("long").alias("rev_cents"),
    )
    w = (
        Window.partitionBy("cohort")
        .orderBy("week_offset")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return weekly.select(
        "cohort",
        "week_offset",
        "buyers",
        "rev_cents",
        F.sum("rev_cents").over(w).cast("long").alias("cum_rev_cents"),
    ).orderBy("cohort", "week_offset")


@register(
    "orders_pareto_abc",
    """
    WITH rev AS (
        SELECT l_partkey,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) * 100
                    AS BIGINT) AS rev_cents
        FROM lineitem GROUP BY l_partkey
    ),
    ranked AS (
        SELECT l_partkey, rev_cents,
               CAST(sum(rev_cents) OVER (ORDER BY rev_cents DESC, l_partkey
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum_cents,
               CAST(sum(rev_cents) OVER () AS BIGINT) AS total_cents
        FROM rev
    )
    SELECT l_partkey, rev_cents, cum_cents,
           CASE WHEN cum_cents * 100 <= total_cents * 80 THEN 'A'
                WHEN cum_cents * 100 <= total_cents * 95 THEN 'B'
                ELSE 'C' END AS abc_class
    FROM ranked ORDER BY l_partkey
    """,
    tags=("analytics", "orders"),
)
def orders_pareto_abc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC/Pareto inventory classification: parts ranked by exact-cents
    revenue; class A covers the first 80% of cumulative revenue, B to
    95%, C the tail. The oracle states it as a global window cumsum —
    the engine computes the SAME exact prefix sums block-ranked, the
    cumulative-sum twin of ranking.exact_global_ntile: approx split
    points block the parts by revenue (balance-only), the cumsum
    window partitions BY BLOCK (descending within), and each block
    adds the broadcast total of all strictly-higher blocks. Exact
    integers ⇒ associative ⇒ identical to the single-task plan, at
    32-way parallelism. Two tiny collects (splits, 32 block sums)
    are scalars, not data."""
    from hadoop_deliver_spark.api import exact_global_cumsum_desc

    li = tbl(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey").agg(
        (F.sum(dec2("l_extendedprice")) * 100).cast("long").alias("rev_cents")
    )
    total = rev.agg(F.sum("rev_cents")).collect()[0][0]
    return (
        exact_global_cumsum_desc(rev, "rev_cents", "l_partkey", "cum_cents")
        .select(
            "l_partkey",
            "rev_cents",
            "cum_cents",
            F.when(F.col("cum_cents") * 100 <= F.lit(int(total)) * 80, "A")
            .when(F.col("cum_cents") * 100 <= F.lit(int(total)) * 95, "B")
            .otherwise("C")
            .alias("abc_class"),
        )
        .orderBy("l_partkey")
    )
