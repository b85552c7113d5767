"""§2 extensions, twenty-fifth wave — corpus card, growth accounting,
degree distribution, datetime constructors, width_bucket.

- llm_corpus_card: the dataset-card summary block (docs / chars /
  tokens / sources / exact median length) per language + grand total
  in one rollup pass — what goes in the corpus README.
- events_growth_accounting: weekly new / retained / resurrected /
  churning user accounting — THE growth-team ledger, derived from one
  user-keyed window over the (user, week) activity grid.
- graph_degree_stats: per-node degree of the user co-activity graph —
  the companion to graph_triangle_count (clustering numerator needs
  the degree denominator).
- fn_make_datetime: component-wise timestamp construction
  (make_timestamp) + calendar-aware interval addition with month-end
  clamping, surfaced as epoch-µs integers.
- fn_width_bucket: equi-width histogram bucketing with the ANSI
  below-range 0 / above-range n+1 edge semantics; the oracle mirrors
  Spark's exact (v−lo)·n/(hi−lo) evaluation order so IEEE results are
  bit-identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hadoop_deliver_spark.registry import register
from hadoop_deliver_spark.tables import tbl


@register(
    "llm_corpus_card",
    """
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
           count(DISTINCT source) AS n_sources,
           round(quantile_cont(n_chars, 0.5), 4) AS median_chars,
           grouping(lang) AS gid
    FROM documents
    GROUP BY ROLLUP (lang)
    ORDER BY gid, lang
    """,
    tags=("llm", "profile"),
)
def llm_corpus_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-card statistics: per-language and grand-total document
    counts, char/whitespace-token volumes, source cardinality and the
    EXACT median length — the summary block a corpus README publishes
    (delivery_profile's twin for the documents table). One rollup
    aggregate; the exact median sorts within each lang group, and
    count(DISTINCT source) expands per grouping set before the
    distinct — both engine-native, no second scan."""
    d = tbl(spark, sf_dir, "documents")
    return (
        d.select(
            "lang",
            "n_chars",
            "source",
            F.size(F.split("text", " ")).alias("toks"),
        )
        .rollup("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.sum("toks").cast("long").alias("total_tokens"),
            F.count_distinct("source").alias("n_sources"),
            F.round(F.percentile("n_chars", F.lit(0.5)), 4).alias("median_chars"),
            F.grouping_id().alias("gid"),
        )
        .orderBy("gid", "lang")
    )


@register(
    "events_growth_accounting",
    """
    WITH wu AS (
        SELECT DISTINCT user_id,
               CAST(date_trunc('week', ts) AS DATE) AS week
        FROM events
    ),
    flagged AS (
        SELECT user_id, week,
               lag(week) OVER (PARTITION BY user_id ORDER BY week)
                   AS prev_week,
               lead(week) OVER (PARTITION BY user_id ORDER BY week)
                   AS next_week
        FROM wu
    )
    SELECT strftime(week, '%Y-%m-%d') AS week,
           CAST(sum(CASE WHEN prev_week IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_new,
           CAST(sum(CASE WHEN prev_week = week - 7 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_retained,
           CAST(sum(CASE WHEN prev_week IS NOT NULL
                          AND prev_week < week - 7 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_resurrected,
           CAST(sum(CASE WHEN next_week IS NULL OR next_week > week + 7
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_churning
    FROM flagged GROUP BY week ORDER BY week
    """,
    tags=("analytics", "events"),
)
def events_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth accounting, week grain: every active user-week is
    classified NEW (first appearance), RETAINED (also active the
    immediately previous week) or RESURRECTED (returning after a
    gap), plus CHURNING (not active the following week — the
    last-seen ledger column). All four flags fall out of ONE
    user-keyed window (lag + lead over the distinct activity grid);
    the grid itself is the only fact-sized shuffle, and new+retained+
    resurrected = WAU by construction — the identity growth teams
    reconcile dashboards with. Integer date arithmetic only."""
    e = tbl(spark, sf_dir, "events")
    wu = e.select(
        "user_id", F.date_trunc("week", "ts").cast("date").alias("week")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("week")
    flagged = wu.withColumn("prev_week", F.lag("week").over(w)).withColumn(
        "next_week", F.lead("week").over(w)
    )
    return (
        flagged.groupBy(F.date_format("week", "yyyy-MM-dd").alias("week"))
        .agg(
            F.sum(F.when(F.col("prev_week").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_new"),
            F.sum(
                F.when(F.col("prev_week") == F.date_sub("week", 7), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_retained"),
            F.sum(
                F.when(
                    F.col("prev_week").isNotNull()
                    & (F.col("prev_week") < F.date_sub("week", 7)),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_resurrected"),
            F.sum(
                F.when(
                    F.col("next_week").isNull()
                    | (F.col("next_week") > F.date_add("week", 7)),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_churning"),
        )
        .orderBy("week")
    )


@register(
    "graph_degree_stats",
    """
    WITH du AS (
        SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
    ),
    edges AS (
        SELECT DISTINCT a.user_id AS u, b.user_id AS v
        FROM du a JOIN du b ON a.day = b.day AND a.user_id < b.user_id
    ),
    ends AS (
        SELECT u AS node FROM edges UNION ALL SELECT v FROM edges
    )
    SELECT node AS user_id, count(*) AS degree
    FROM ends GROUP BY node ORDER BY user_id
    """,
    tags=("graph",),
)
def graph_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree of every node in the user co-activity graph (same edge
    definition as graph_triangle_count — two users active the same
    day, oriented u<v, then both endpoints counted). Degree is the
    denominator of the local clustering coefficient whose numerator
    the triangle query computes. Edge endpoints unpivot via UNION ALL
    (no shuffle) into one node-keyed count; the quadratic risk lives
    only in the per-day edge fan-out, same bound as the triangle
    operator. Degrees come from api.co_membership_graph: neighbor-
    bitmap popcounts inside its dense gate (the per-day pair fan-out
    + distinct never runs), endpoint counts over the block-equi-join
    edges past it."""
    from hadoop_deliver_spark.api import co_membership_graph

    e = tbl(spark, sf_dir, "events")
    du = e.select(F.to_date("ts").alias("day"), "user_id")
    return co_membership_graph(du, "day", "user_id")[1].orderBy("user_id")


@register(
    "fn_make_datetime",
    """
    SELECT o_orderkey,
           epoch_us(make_timestamp(
               CAST(year(o_orderdate) AS BIGINT),
               CAST(month(o_orderdate) AS BIGINT),
               CAST(day(o_orderdate) AS BIGINT), 12, 30, 45.0)) AS noonish_us,
           epoch_us(o_orderdate + INTERVAL 2 MONTH + INTERVAL 3 DAY)
               AS shifted_us
    FROM orders ORDER BY o_orderkey
    """,
    tags=("fn", "datetime"),
)
def fn_make_datetime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Component-wise timestamp construction (make_timestamp from the
    date's own y/m/d plus a fixed time-of-day) and calendar-aware
    interval addition (+2 months +3 days — month arithmetic clamps to
    month-end identically on both engines, e.g. Dec 31 + 2 months →
    Feb 28/29 + 3 days). Epoch-µs integer surface, session pinned
    UTC so construction is zone-unambiguous. Map-only."""
    o = tbl(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.unix_micros(
            F.make_timestamp(
                F.year("o_orderdate"),
                F.month("o_orderdate"),
                F.dayofmonth("o_orderdate"),
                F.lit(12),
                F.lit(30),
                F.lit(45),
            )
        ).alias("noonish_us"),
        F.unix_micros(
            (
                F.col("o_orderdate")
                + F.expr("INTERVAL 2 MONTHS")
                + F.expr("INTERVAL 3 DAYS")
            ).cast("timestamp")  # NTZ→LTZ lossless under the UTC session
        ).alias("shifted_us"),
    ).orderBy("o_orderkey")


@register(
    "fn_width_bucket",
    """
    SELECT o_orderkey,
           CASE WHEN o_totalprice < 0 THEN 0
                WHEN o_totalprice >= 500000 THEN 21
                ELSE CAST(floor(o_totalprice * 20 / 500000) AS BIGINT) + 1
           END AS price_bucket
    FROM orders ORDER BY o_orderkey
    """,
    tags=("fn", "math"),
)
def fn_width_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram bucketing (`width_bucket(v, 0, 500000,
    20)`) with the ANSI edge semantics: below-range → 0, at-or-above
    the high bound → n+1. The oracle mirrors Spark's internal
    evaluation order — (v−lo)·n/(hi−lo), multiply THEN divide — so
    boundary values land identically under IEEE arithmetic (the
    naive /binwidth form rounds differently). Map-only; the
    sibling of agg_histogram (which buckets by floor-division on
    integers)."""
    o = tbl(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.width_bucket(
            "o_totalprice", F.lit(0.0), F.lit(500000.0), F.lit(20)
        )
        .cast("long")
        .alias("price_bucket"),
    ).orderBy("o_orderkey")
