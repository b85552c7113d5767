"""§2 extensions, round-5 second wave — published-filter quality rules
and corpus/lifetime statistics.

- llm_gopher_quality: the published Gopher quality-filter rule set
  (Rae et al. 2021, "Scaling Language Models: ... Gopher", §A1.1)
  applied per document as pure integer column algebra — word-count
  bounds, mean-word-length bounds, alphabetic-word ratio, stopword
  presence — the de-facto standard pre-training hygiene filter.
- llm_zipf_fit: least-squares fit of the Zipf exponent on the
  log-log rank/frequency curve of the corpus vocabulary — the
  one-number corpus-health diagnostic (natural text ≈ −1; templated
  or deduplicated-to-death corpora drift far from it).
- llm_perplexity_buckets: CCNet-style (Wenzek et al. 2020) head /
  middle / tail tertile bucketing of documents by unigram surprisal
  WITHIN each language — the standard quality-stratification step
  before mixing pre-training data.
- events_survival_km: Kaplan-Meier survival estimator over user
  lifetimes with right-censoring — THE retention curve, computed on
  a calendar-bounded aggregate (never the fact table).
- ts_ewma: exponentially-weighted moving average over the daily
  event-count series, α=1/2 over a trailing 30-day window — all
  weights are exact powers of two, so the smoother is bit-exact
  across engines before the display rounding.
- sql_group_by_all: GROUP BY ALL / ORDER BY ALL resolution (every
  non-aggregate select item becomes a grouping key) — the modern
  SQL-surface spelling Spark 4 and DuckDB share.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hadoop_deliver_spark import api
from hadoop_deliver_spark.registry import register
from hadoop_deliver_spark.tables import tbl

# Gopher §A1.1 stopword-presence list (published verbatim).
_GOPHER_STOPS = ["the", "be", "to", "of", "and", "that", "have", "with"]

_GOPHER_STOPS_SQL = "[" + ", ".join(f"'{w}'" for w in _GOPHER_STOPS) + "]"


@register(
    "llm_gopher_quality",
    f"""
    WITH feats AS (
        SELECT doc_id,
               list_filter(str_split(text, ' '), w -> w <> '') AS ws
        FROM documents
    ),
    m AS (
        SELECT doc_id,
               CAST(len(ws) AS BIGINT) AS n_words,
               CAST(coalesce(list_sum(
                   list_transform(ws, w -> length(w))), 0) AS BIGINT)
                   AS total_chars,
               CAST(len(list_filter(
                   ws, w -> regexp_matches(w, '[a-zA-Z]'))) AS BIGINT)
                   AS alpha_words,
               CAST(len(list_intersect(ws, {_GOPHER_STOPS_SQL})) AS BIGINT)
                   AS stop_hits
        FROM feats
    )
    SELECT doc_id, n_words, total_chars, alpha_words, stop_hits,
           (n_words BETWEEN 50 AND 100000)            AS r_word_count,
           (3 * n_words <= total_chars
            AND total_chars <= 10 * n_words)          AS r_mean_word_len,
           (5 * alpha_words >= 4 * n_words)           AS r_alpha_ratio,
           (stop_hits >= 2)                           AS r_stopwords,
           ((n_words BETWEEN 50 AND 100000)
            AND 3 * n_words <= total_chars
            AND total_chars <= 10 * n_words
            AND 5 * alpha_words >= 4 * n_words
            AND stop_hits >= 2)                       AS keep
    FROM m ORDER BY doc_id
    """,
    tags=("llm", "quality"),
)
def llm_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The published Gopher quality-filter rule set (Rae et al. 2021
    §A1.1) per document, as INTEGER column algebra so every rule is
    bit-exact cross-engine: word count in [50, 100k]; mean word
    length in [3, 10] (stated as 3·n ≤ Σlen ≤ 10·n — no float
    division); ≥80% of words contain an alphabetic character (5·a ≥
    4·n); ≥2 of the 8 published stopwords present. Map-only: one
    projection over the corpus, no shuffle at all — the 100 TB shape
    is embarrassingly parallel. The fixture corpus is lowercase
    unpunctuated prose, so the symbol/ellipsis/bullet line rules of
    the paper are vacuously true here and are NOT emitted as columns;
    the four rules that do vary carry the filter. Each rule is its
    own boolean column (audit-friendly — the paper's ablation needs
    per-rule attrition) plus the final `keep` conjunction."""
    d = tbl(spark, sf_dir, "documents")
    return api.gopher_quality(d, "doc_id", "text").orderBy("doc_id")


@register(
    "llm_zipf_fit",
    """
    WITH words AS (
        SELECT unnest(list_filter(str_split(text, ' '), w -> w <> '')) AS w
        FROM documents WHERE length(text) > 0
    ),
    freq AS (SELECT w, count(*) AS cnt FROM words GROUP BY w),
    ranked AS (
        SELECT cnt,
               row_number() OVER (ORDER BY cnt DESC, w) AS rank
        FROM freq
    )
    SELECT CAST(count(*) AS BIGINT) AS n_terms,
           round(regr_slope(ln(cnt), ln(rank)), 4) AS zipf_slope,
           round(regr_intercept(ln(cnt), ln(rank)), 4) AS zipf_intercept,
           round(regr_r2(ln(cnt), ln(rank)), 4) AS zipf_r2
    FROM ranked
    """,
    tags=("llm", "stats"),
)
def llm_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law fit over the corpus vocabulary: regress ln(frequency)
    on ln(rank) — natural text lands near slope −1 with r² ≈ 0.9+, so
    the single fitted row is the cheapest whole-corpus health
    diagnostic (template spam flattens the head, over-dedup guts the
    tail). Ranks are EXACT and distributed: the vocabulary aggregate
    feeds api.exact_global_rank (block-ranked row_number — no
    single-partition window even at web-corpus vocabulary sizes; the
    integer-valued block key is the negated count, ties broken by the
    term itself). The regression aggregates are one pass over the
    vocabulary (regr_slope/regr_intercept/regr_r2, partial-merged on
    the wire); round-4 on both sides absorbs double-sum order drift
    (registry convention)."""
    d = tbl(spark, sf_dir, "documents").where(F.length("text") > 0)
    words = d.select(
        F.explode(F.filter(F.split("text", " "), lambda w: w != "")).alias(
            "w"
        )
    )
    freq = words.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
    ranked = api.exact_global_rank(
        freq.withColumn("neg_cnt", -F.col("cnt")),
        value_col="neg_cnt",
        key_col="w",
        out_col="rank",
    )
    y, x = F.log(F.col("cnt")), F.log(F.col("rank"))
    return ranked.agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.round(F.regr_slope(y, x), 4).alias("zipf_slope"),
        F.round(F.regr_intercept(y, x), 4).alias("zipf_intercept"),
        F.round(F.regr_r2(y, x), 4).alias("zipf_r2"),
    )


@register(
    "llm_perplexity_buckets",
    """
    WITH words AS (
        SELECT doc_id, unnest(str_split(text, ' ')) AS w
        FROM documents WHERE length(text) > 0
    ),
    model AS (
        SELECT w, CAST(count(*) AS DOUBLE)
                  / (SELECT count(*) FROM words) AS p
        FROM words GROUP BY w
    ),
    scored AS (
        SELECT d.doc_id, round(avg(-log2(m.p)), 4) AS bits_per_word
        FROM words d JOIN model m ON d.w = m.w
        GROUP BY d.doc_id
    ),
    docs AS (
        SELECT s.doc_id, dd.lang, s.bits_per_word
        FROM scored s JOIN documents dd ON s.doc_id = dd.doc_id
    ),
    dist AS (
        SELECT lang, bits_per_word, count(*) AS c
        FROM docs GROUP BY lang, bits_per_word
    ),
    cum AS (
        SELECT lang, bits_per_word,
               sum(c) OVER (PARTITION BY lang ORDER BY bits_per_word
                            ROWS UNBOUNDED PRECEDING) AS cum_n,
               sum(c) OVER (PARTITION BY lang) AS n
        FROM dist
    ),
    buckets AS (
        SELECT lang, bits_per_word,
               CASE WHEN cum_n * 3 <= n THEN 'head'
                    WHEN cum_n * 3 <= 2 * n THEN 'middle'
                    ELSE 'tail' END AS bucket
        FROM cum
    )
    SELECT d.doc_id, d.lang, d.bits_per_word, b.bucket
    FROM docs d JOIN buckets b
      ON d.lang = b.lang AND d.bits_per_word = b.bits_per_word
    ORDER BY d.doc_id
    """,
    tags=("llm", "quality"),
)
def llm_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style head/middle/tail stratification (Wenzek et al.
    2020): documents bucketed by unigram surprisal TERTILE within
    their language — the standard step that lets a data mix keep the
    fluent third of each language and downsample the noisy tail. The
    per-doc score is the same round-4 bits-per-word that
    llm_quality_perplexity hash-matches, so its cross-engine equality
    is already proven. The tertile assignment never windows the
    per-doc table: the cumulative count runs over the (lang, score)
    DISTRIBUTION aggregate — cardinality bounded by the score
    resolution (round-4), orders of magnitude below doc count at any
    scale — partitioned BY LANGUAGE, then the bucket-per-score map
    joins back to documents on the (lang, score) key. Tie groups are
    never split (every doc with the same score lands in the same
    bucket — the spec that makes the bucketing deterministic in both
    engines with zero float comparisons beyond the shared round-4
    score)."""
    d = tbl(spark, sf_dir, "documents").where(F.length("text") > 0)
    words = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    ).cache()
    total = words.count()
    model = words.groupBy("w").agg(
        (F.count(F.lit(1)).cast("double") / F.lit(total)).alias("p")
    )
    scored = (
        words.join(F.broadcast(model), "w")
        .groupBy("doc_id")
        .agg(F.round(F.avg(-F.log2("p")), 4).alias("bits_per_word"))
    )
    docs = scored.join(d.select("doc_id", "lang"), "doc_id")
    dist = docs.groupBy("lang", "bits_per_word").agg(
        F.count(F.lit(1)).alias("c")
    )
    w_cum = (
        Window.partitionBy("lang")
        .orderBy("bits_per_word")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_tot = Window.partitionBy("lang")
    cum = dist.select(
        "lang",
        "bits_per_word",
        F.sum("c").over(w_cum).alias("cum_n"),
        F.sum("c").over(w_tot).alias("n"),
    )
    buckets = cum.select(
        "lang",
        "bits_per_word",
        F.when(F.col("cum_n") * 3 <= F.col("n"), "head")
        .when(F.col("cum_n") * 3 <= 2 * F.col("n"), "middle")
        .otherwise("tail")
        .alias("bucket"),
    )
    return (
        docs.join(buckets, ["lang", "bits_per_word"])
        .select("doc_id", "lang", "bits_per_word", "bucket")
        .orderBy("doc_id")
    )


def conversion_lives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The conversion cohort every survival operator analyzes:
    ``(user_id, t_obs, died)``, one row per user whose first event
    falls on or before the cutoff (corpus start + 5 days). ``t_obs``
    is the days from the first event to the first 'purchase' when
    that purchase is on or before the cutoff (``died``), else to the
    cutoff (right-censored). The fact table is reduced to a per-user
    min/min-conditional by ONE keyed shuffle; the 1-row cutoff
    aggregate rides a broadcast cross join (the ts_resample_gapfill
    bounds pattern)."""
    e = tbl(spark, sf_dir, "events").select(
        "user_id", "event_type", F.to_date("ts").alias("d")
    )
    b = e.agg(F.date_add(F.min("d"), 5).alias("cutoff"))
    u = e.groupBy("user_id").agg(
        F.min("d").alias("first_d"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("d"))).alias(
            "purch_d"
        ),
    )
    died = F.col("purch_d").isNotNull() & (
        F.col("purch_d") <= F.col("cutoff")
    )
    return (
        u.crossJoin(F.broadcast(b))
        .where(F.col("first_d") <= F.col("cutoff"))
        .select(
            "user_id",
            F.when(died, F.datediff("purch_d", "first_d"))
            .otherwise(F.datediff("cutoff", "first_d"))
            .alias("t_obs"),
            died.alias("died"),
        )
    )


@register(
    "events_survival_km",
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
        SELECT t_obs,
               CAST(count(*) AS BIGINT) AS n_total,
               CAST(count(*) FILTER (WHERE died) AS BIGINT) AS deaths
        FROM lives GROUP BY t_obs
    ),
    risk AS (
        SELECT t_obs, deaths,
               sum(n_total) OVER (ORDER BY t_obs DESC
                                  ROWS UNBOUNDED PRECEDING) AS at_risk
        FROM lt
    ),
    km AS (
        SELECT t_obs, CAST(at_risk AS BIGINT) AS at_risk, deaths,
               sum(CASE WHEN at_risk > deaths
                        THEN ln(1.0 - CAST(deaths AS DOUBLE) / at_risk)
                        ELSE 0.0 END)
                   OVER (ORDER BY t_obs ROWS UNBOUNDED PRECEDING)
                   AS logsum,
               max(CASE WHEN deaths = at_risk THEN 1 ELSE 0 END)
                   OVER (ORDER BY t_obs ROWS UNBOUNDED PRECEDING)
                   AS hit_zero
        FROM risk WHERE deaths > 0
    )
    SELECT t_obs, at_risk, deaths,
           CASE WHEN hit_zero = 1 THEN 0.0
                ELSE round(exp(logsum), 4) END AS survival
    FROM km ORDER BY t_obs
    """,
    tags=("events", "stats"),
)
def events_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival estimator for TIME TO FIRST CONVERSION on
    the :func:`conversion_lives` cohort: per user, days from first
    event to first 'purchase', analyzed as of an explicit cutoff
    (corpus start + 5 days) — users whose conversion falls after the
    cutoff are RIGHT-CENSORED at it, the textbook
    S(t) = Π_{t'≤t} (1 − d_t'/n_t') with real censoring (the naive
    lifetime spelling censors everyone in a uniformly active fixture
    and returns an empty curve — this spec keeps both deaths and
    censored mass non-trivial). Every KM quantity lives on the
    per-day aggregate of ``api._risk_sets``, whose cardinality is
    bounded by the CALENDAR, not the corpus — the global cumulative
    windows run there, the same bounded-axis argument as
    orders_open_backlog's allowlist entry. Survival is exp of the
    cumulative sum of ln(1 − d/n) — both factors integer-exact, the
    ln/exp round-trip drifts ≤ ~1e-13 over a calendar of terms,
    absorbed by round-4; the d = n extinction day is CASE-guarded on
    both sides (DuckDB raises on ln(0) rather than returning −inf)."""
    lives = conversion_lives(spark, sf_dir)
    return api.survival_km(lives, "t_obs", "died").orderBy("t_obs")


@register(
    "ts_ewma",
    """
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS cnt
        FROM events GROUP BY event_type, CAST(ts AS DATE)
    )
    SELECT a.event_type, strftime(a.day, '%Y-%m-%d') AS day, a.cnt,
           round(sum(b.cnt * power(0.5, datediff('day', b.day, a.day)))
                 / sum(power(0.5, datediff('day', b.day, a.day))), 4)
               AS ewma
    FROM daily a JOIN daily b
      ON a.event_type = b.event_type
     AND b.day BETWEEN a.day - 29 AND a.day
    GROUP BY a.event_type, a.day, a.cnt
    ORDER BY a.event_type, a.day
    """,
    tags=("timeseries",),
)
def ts_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of the daily event-count
    series per type, α = 1/2 over a trailing 30-day window,
    normalized by the in-window weight mass (so series heads are
    unbiased). Weights 2^-k are EXACT binary doubles and counts are
    integers, so every product is exact and the ≤30-term sum fits
    double precision with room to spare — the smoother is bit-exact
    across engines before the round-4 display step. Shape: the fact
    table reduces to the (type, day) aggregate first (one keyed
    shuffle, calendar-bounded output), then the trailing window is an
    EQUI-join on type with a day-range residual — a hash join on the
    tiny aggregate, not a window and not a nested loop, so it
    partitions freely at any scale."""
    e = tbl(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    sm = api.ewma_smooth(daily, ["event_type"], "day", "cnt")
    return sm.select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "cnt",
        "ewma",
    ).orderBy("event_type", "day")


@register(
    "sql_group_by_all",
    """
    SELECT o_orderpriority,
           CAST(year(o_orderdate) AS INT) AS yr,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT)) AS BIGINT) AS cents
    FROM orders
    GROUP BY ALL
    ORDER BY ALL
    """,
    tags=("sql",),
)
def sql_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL / ORDER BY ALL resolution: every non-aggregate
    select item becomes a grouping key and the full select list the
    sort key — the modern surface both Spark 4 and DuckDB resolve
    identically (and the spelling that makes generated SQL robust to
    projection edits). The aggregate itself is an ordinary two-key
    hash aggregate with exact-cents revenue (the DECIMAL(18,2)·100
    idiom, immune to double truncation drift); ORDER BY ALL sorts by
    the complete output row so the result order is total without
    naming columns."""
    o = tbl(spark, sf_dir, "orders")
    o.createOrReplaceTempView("w6_orders")
    return spark.sql(
        """
        SELECT o_orderpriority,
               CAST(year(o_orderdate) AS INT) AS yr,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                        AS BIGINT)) AS BIGINT) AS cents
        FROM w6_orders
        GROUP BY ALL
        ORDER BY ALL
        """
    )
