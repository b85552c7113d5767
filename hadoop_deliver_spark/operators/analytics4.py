"""§2 extensions, twenty-fourth wave — preference pairs, entropy,
TVFs, higher moments, curriculum, the curation capstone, YoY growth.

- llm_preference_pairs: DPO/RLHF data prep — per language, the
  (chosen, rejected) document pair by a deterministic quality key.
- events_type_entropy: per-user Shannon entropy of the event-type
  distribution — the behavioural-diversity feature.
- sql_table_functions: SQL table-valued functions — range() generator
  + LATERAL VIEW explode in one statement.
- agg_skew_kurtosis: third/fourth standardized moments per group;
  the oracle recomputes from raw power sums, so Spark's one-pass
  central-moment updates are checked against first principles (and
  against DuckDB's DIFFERENT sample-corrected builtins, which are
  deliberately not used).
- llm_curriculum_stages: curriculum ordering — exact length quartiles
  via the shared block-ranked ntile core (no global window).
- llm_pipeline_e2e: the capstone composition — dedup → quality gate →
  token count → pack estimate in ONE declarative pipeline, per-lang
  funnel counts proving each stage's effect.
- orders_yoy_growth: year-over-year revenue growth per region (exact
  cents, keyed lag on the region×year grid).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hadoop_deliver_spark.registry import register
from hadoop_deliver_spark.tables import dec2, tbl


@register(
    "llm_preference_pairs",
    """
    WITH scored AS (
        SELECT lang, doc_id,
               CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
                   AS score
        FROM documents
    ),
    ranked AS (
        SELECT *,
            row_number() OVER (PARTITION BY lang
                               ORDER BY score DESC, doc_id) AS r_best,
            row_number() OVER (PARTITION BY lang
                               ORDER BY score ASC, doc_id) AS r_worst
        FROM scored
    )
    SELECT b.lang, b.doc_id AS chosen_doc, b.score AS chosen_score,
           w.doc_id AS rejected_doc, w.score AS rejected_score
    FROM ranked b JOIN ranked w
      ON b.lang = w.lang AND b.r_best = 1 AND w.r_worst = 1
    ORDER BY b.lang
    """,
    tags=("llm", "sft"),
)
def llm_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preference-pair construction (DPO/RLHF data prep): per
    language, the highest- and lowest-quality documents under a
    deterministic integer quality key (distinct-word count, doc_id
    tiebreak) become the (chosen, rejected) pair. An argmax/argmin
    per key needs NO sort at all: both extremes are max_by/min_by
    aggregates over unique ordering structs (score, ∓doc_id), so the
    whole query is one map-side-combined groupBy — the round-8
    low-cardinality-window guard retired the previous spelling (two
    row_numbers PARTITION BY the 5-value lang over the raw corpus,
    a parallelism ceiling at scale). At 100 TB the same shape yields
    per-bucket extremes with zero shuffled sort state."""
    d = tbl(spark, sf_dir, "documents")
    scored = d.select(
        "lang",
        "doc_id",
        F.size(F.array_distinct(F.split("text", " "))).cast("long").alias("score"),
    )
    return (
        scored.groupBy("lang")
        .agg(
            # best = max score, tie → min doc_id: max of (score, −doc_id)
            F.max_by(
                F.struct("doc_id", "score"),
                F.struct(F.col("score"), (-F.col("doc_id")).alias("nd")),
            ).alias("b"),
            # worst = min score, tie → min doc_id: min of (score, doc_id)
            F.min_by(
                F.struct("doc_id", "score"),
                F.struct(F.col("score"), F.col("doc_id")),
            ).alias("w"),
        )
        .select(
            "lang",
            F.col("b.doc_id").alias("chosen_doc"),
            F.col("b.score").alias("chosen_score"),
            F.col("w.doc_id").alias("rejected_doc"),
            F.col("w.score").alias("rejected_score"),
        )
        .orderBy("lang")
    )


@register(
    "events_type_entropy",
    """
    WITH c AS (
        SELECT user_id, event_type, count(*) AS n
        FROM events GROUP BY 1, 2
    ),
    t AS (SELECT user_id, CAST(sum(n) AS BIGINT) AS total FROM c
          GROUP BY user_id)
    SELECT c.user_id, t.total AS n_events,
           count(*) AS n_types,
           CAST(-sum((CAST(c.n AS DOUBLE) / t.total)
                     * ln(CAST(c.n AS DOUBLE) / t.total)) AS REAL)
               AS entropy
    FROM c JOIN t ON c.user_id = t.user_id
    GROUP BY c.user_id, t.total ORDER BY c.user_id
    """,
    tags=("analytics", "events"),
)
def events_type_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioural diversity: Shannon entropy of each user's
    event-type distribution (−Σ p·ln p), the feature that separates
    single-action bots from organic mixed usage (complements
    events_bot_detection's volume heuristics). Plan (audited): one
    fact-sized (user, type) hash-agg — map-side combined to ≤
    |users|·|types| rows — then the per-user totals (an aggregate of
    that aggregate) come BACK via a broadcast join, so the entropy
    term never reshuffles the counts; only the final (user, total)
    agg re-keys. (If |users| outgrows the broadcast threshold the
    planner degrades this to a user-keyed shuffle join — still never
    fact-sized.) float32 surface absorbs ln/summation ulps."""
    e = tbl(spark, sf_dir, "events")
    c = e.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    t = c.groupBy("user_id").agg(F.sum("n").cast("long").alias("total"))
    p = F.col("n").cast("double") / F.col("total")
    return (
        c.join(t, "user_id")
        .groupBy("user_id", "total")
        .agg(
            F.count(F.lit(1)).alias("n_types"),
            (-F.sum(p * F.log(p))).cast("float").alias("entropy"),
        )
        .select(
            "user_id",
            F.col("total").alias("n_events"),
            "n_types",
            "entropy",
        )
        .orderBy("user_id")
    )


@register(
    "sql_table_functions",
    """
    SELECT id, unnest([id, id * id]) AS x
    FROM (SELECT CAST(range AS BIGINT) AS id FROM range(0, 60, 3))
    ORDER BY id, x
    """,
    tags=("sql",),
)
def sql_table_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL table-valued functions: the range() generator source (rows
    from metadata, no input table — the backbone of calendar/grid
    scaffolds like ts_resample_gapfill's day axis) laterally exploded
    into per-row arrays, all inside one SQL statement. range() plans
    a self-partitioned Range scan — N parallel splits computed from
    (start, end, step), zero I/O; the explode is a generator, not a
    join."""
    return spark.sql(
        """
        SELECT id, x
        FROM range(0, 60, 3) AS r(id)
        LATERAL VIEW explode(array(id, id * id)) t AS x
        ORDER BY id, x
        """
    )


@register(
    "agg_skew_kurtosis",
    """
    WITH m AS (
        SELECT event_type,
               avg(value) AS m1, avg(value * value) AS p2,
               avg(value * value * value) AS p3,
               avg(value * value * value * value) AS p4
        FROM events GROUP BY event_type
    )
    SELECT event_type,
           CAST((p3 - 3 * m1 * p2 + 2 * m1 * m1 * m1)
                / pow(p2 - m1 * m1, 1.5) AS REAL) AS skew,
           CAST((p4 - 4 * m1 * p3 + 6 * m1 * m1 * p2
                 - 3 * m1 * m1 * m1 * m1)
                / pow(p2 - m1 * m1, 2.0) - 3.0 AS REAL) AS kurt
    FROM m ORDER BY event_type
    """,
    tags=("agg", "stats"),
)
def agg_skew_kurtosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-moment aggregates: population skewness (m₃/m₂^1.5) and
    excess kurtosis (m₄/m₂²−3) per event type. The oracle recomputes
    both from raw power sums E[x],E[x²],E[x³],E[x⁴] — deliberately
    NOT DuckDB's skewness()/kurtosis() builtins, which apply sample
    bias correction and would disagree by design. Spark's one-pass
    numerically-stable central-moment updates are thus checked
    against the textbook definition; value ∈ [0,100] keeps the
    power-sum cancellation ~1e-9 relative, far inside the float32
    surface. One hash aggregate, map-side combined."""
    e = tbl(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(
            F.skewness("value").cast("float").alias("skew"),
            F.kurtosis("value").cast("float").alias("kurt"),
        )
        .orderBy("event_type")
    )


@register(
    "llm_curriculum_stages",
    """
    WITH ranked AS (
        SELECT doc_id, n_chars,
               ntile(4) OVER (ORDER BY n_chars, doc_id) AS stage
        FROM documents
    )
    SELECT stage, count(*) AS n_docs,
           min(n_chars) AS min_chars, max(n_chars) AS max_chars,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM ranked GROUP BY stage ORDER BY stage
    """,
    tags=("llm", "curriculum"),
)
def llm_curriculum_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum construction: corpus split into 4 exact length
    quartiles (short→long, the classic easy→hard schedule) using the
    shared block-ranked exact-ntile core — percentile_approx split
    points for balance, per-block ranks + broadcast offsets for
    exactness, NO whole-corpus single-partition window (the oracle
    states the same result as a global ntile). Per-stage bounds and
    char totals feed the scheduler."""
    from hadoop_deliver_spark.api import exact_global_ntile

    d = tbl(spark, sf_dir, "documents").select("doc_id", "n_chars")
    staged = exact_global_ntile(d, "n_chars", "doc_id", 4, "stage")
    return (
        staged.groupBy("stage")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
        .orderBy("stage")
    )


@register(
    "llm_pipeline_e2e",
    """
    WITH deduped AS (
        SELECT lang, text,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM (
            SELECT *, row_number() OVER (PARTITION BY md5(text)
                                         ORDER BY doc_id) AS rn
            FROM documents
        ) WHERE rn = 1
    ),
    gated AS (
        SELECT lang, n_tokens,
               (n_tokens BETWEEN 10 AND 200
                AND length(text) >= 50) AS keep
        FROM deduped
    )
    SELECT lang,
           count(*) AS n_after_dedup,
           CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN keep THEN n_tokens ELSE 0 END) AS BIGINT)
               AS tokens_kept,
           CAST(ceil(sum(CASE WHEN keep THEN n_tokens ELSE 0 END)
                     / 2048.0) AS BIGINT) AS n_packs
    FROM gated GROUP BY lang ORDER BY lang
    """,
    tags=("llm", "pipeline"),
)
def llm_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation capstone: exact dedup (content-hash keyed, min
    doc_id survivor) → quality gate (token-count band + length
    floor) → token accounting → 2048-token pack estimate, composed
    as ONE declarative pipeline and summarized as a per-language
    funnel (after-dedup / kept / tokens / packs). This is the
    composition story: every stage is an operator the registry ships
    standalone (llm_dedup_exact, llm_quality_score, llm_token_count,
    llm_pack_sequences), and chaining them stays one plan — the
    dedup shuffle on md5(text) is the only fact-sized exchange;
    Catalyst pipelines the gates into the same stage."""
    d = tbl(spark, sf_dir, "documents")
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    deduped = (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "lang",
            "text",
            F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
        )
    )
    keep = (
        F.col("n_tokens").between(10, 200) & (F.length("text") >= 50)
    )
    return (
        deduped.select("lang", "n_tokens", keep.alias("keep"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_after_dedup"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0))
            .cast("long")
            .alias("n_kept"),
            F.sum(F.when(F.col("keep"), F.col("n_tokens")).otherwise(0))
            .cast("long")
            .alias("tokens_kept"),
            F.ceil(
                F.sum(F.when(F.col("keep"), F.col("n_tokens")).otherwise(0))
                / 2048.0
            )
            .cast("long")
            .alias("n_packs"),
        )
        .orderBy("lang")
    )


@register(
    "orders_yoy_growth",
    """
    WITH yearly AS (
        SELECT r.r_name,
               CAST(year(o.o_orderdate) AS BIGINT) AS yr,
               CAST(sum(CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS rev_cents
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        JOIN region r ON r.r_regionkey = n.n_regionkey
        GROUP BY 1, 2
    )
    SELECT r_name, yr, rev_cents,
           floor(CASE WHEN prev > 0 THEN
                   (CAST(rev_cents AS DOUBLE) - prev) / prev * 10000
                 END) / 10000 AS yoy_growth
    FROM (SELECT *, lag(rev_cents) OVER (PARTITION BY r_name
                                         ORDER BY yr) AS prev
          FROM yearly)
    ORDER BY r_name, yr
    """,
    tags=("analytics", "orders"),
)
def orders_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year revenue growth per region: exact-cents yearly
    sums on the snowflake path (customer → nation → region, dims
    broadcast), then a region-keyed lag over the ≤ |regions|×|years|
    grid. The growth ratio divides two exact BIGINTs
    (IEEE-identical) and floor-quantizes the display surface —
    ts_pct_change_daily's pattern lifted to the year grain with the
    dimensional join in front."""
    o = tbl(spark, sf_dir, "orders")
    c = tbl(spark, sf_dir, "customer")
    n = tbl(spark, sf_dir, "nation")
    r = tbl(spark, sf_dir, "region")
    yearly = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", F.year("o_orderdate").cast("long").alias("yr"))
        .agg(
            F.sum((dec2("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("rev_cents")
        )
    )
    w = Window.partitionBy("r_name").orderBy("yr")
    prev = F.lag("rev_cents").over(w)
    return (
        yearly.withColumn("prev", prev)
        .select(
            "r_name",
            "yr",
            "rev_cents",
            (
                F.floor(
                    F.when(
                        F.col("prev") > 0,
                        (F.col("rev_cents").cast("double") - F.col("prev"))
                        / F.col("prev")
                        * 10000,
                    )
                )
                / 10000
            ).alias("yoy_growth"),
        )
        .orderBy("r_name", "yr")
    )
