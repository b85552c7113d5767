"""§2 extensions, thirty-third wave — distribution tests, forecast
backtesting, and tokenizer/classifier inference.

- agg_ks_test: the two-sample Kolmogorov-Smirnov statistic with an
  EXACT integer argmax — CDFs from the block-ranked keyed-cumsum
  core, the sup-distance compared in cross-multiplied integers so no
  float ever decides the answer.
- ts_mase_backtest: MASE forecast backtesting (Hyndman & Koehler
  2006) of the seasonal-naive-7 forecaster against the naive-1
  scale, per event type — the metric a forecast pipeline gates
  deploys on.
- llm_tokenizer_fertility: tokens-per-word fertility of the BPE
  merge table per language — the standard tokenizer-evaluation
  statistic (a fertility spike on a language means the vocabulary
  underserves it).
- llm_quality_classifier: fastText-style linear quality classifier
  inference — hashed-bag features × a fixed integer weight table,
  sign decided in EXACT integer arithmetic, sigmoid only for the
  reported probability.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_deliver_spark import api
from hadoop_deliver_spark.operators.llm_bpe import _bpe_oracle_expr
from hadoop_deliver_spark.registry import register
from hadoop_deliver_spark.tables import dec2, tbl


@register(
    "agg_ks_test",
    """
    WITH o AS (
        SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                   AS cents,
               o_orderpriority = '1-URGENT' AS urg
        FROM orders
    ),
    byval AS (
        SELECT cents,
               CAST(count(*) FILTER (urg) AS BIGINT) AS ca,
               CAST(count(*) FILTER (NOT urg) AS BIGINT) AS cb
        FROM o GROUP BY cents
    ),
    cum AS (
        SELECT cents,
               CAST(sum(ca) OVER (ORDER BY cents
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS cum_a,
               CAST(sum(cb) OVER (ORDER BY cents
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS cum_b
        FROM byval
    ),
    tot AS (
        SELECT CAST(sum(ca) AS BIGINT) AS n1, CAST(sum(cb) AS BIGINT) AS n2
        FROM byval
    ),
    diff AS (
        SELECT cents, abs(cum_a * n2 - cum_b * n1) AS dnum, n1, n2
        FROM cum CROSS JOIN tot
    ),
    mx AS (SELECT max(dnum) AS dmax FROM diff)
    SELECT n1, n2,
           CAST(min(cents) AS BIGINT) AS d_at_cents,
           round(CAST(dmax AS DOUBLE) / (CAST(n1 AS DOUBLE) * n2), 6) AS d,
           round(sqrt(CAST(n1 AS DOUBLE) * n2 / (n1 + n2))
                 * (CAST(dmax AS DOUBLE) / (CAST(n1 AS DOUBLE) * n2)),
                 4) AS ks_stat
    FROM diff CROSS JOIN mx
    WHERE dnum = dmax
    GROUP BY n1, n2, dmax
    """,
    tags=("aggregate", "stats"),
)
def agg_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov: the sup-distance between the
    empirical CDFs of URGENT vs non-URGENT order prices. The whole
    decision runs in EXACT integers: per-cents counts, block-ranked
    running sums (api.exact_global_keyed_cumsum — no single-partition
    window over the price grid), and the sup compared as
    |cumA·n2 − cumB·n1| (cross-multiplied, so no float division can
    blur the argmax; bounded by n1·n2 < 2^63 up to billions of rows
    per arm). d_at_cents is the lowest price attaining the sup. Only
    the reported d and the scaled KS statistic touch doubles, from
    exact integers, in identical expression order.

    Scale shape: one keyed shuffle to the per-cents aggregate
    (bounded by the price grid, not the row count), two block-ranked
    cumsum passes over it, two 1-row broadcasts (totals, max)."""
    o = tbl(spark, sf_dir, "orders")
    cents = (dec2("o_totalprice") * 100).cast("long")
    byval = (
        o.select(
            cents.alias("cents"),
            (F.col("o_orderpriority") == "1-URGENT").alias("urg"),
        )
        .groupBy("cents")
        .agg(
            F.count_if(F.col("urg")).alias("ca"),
            F.count_if(~F.col("urg")).alias("cb"),
        )
    )
    # r12: one multi-measure block-ranked pass for both CDFs
    cum = api.exact_global_keyed_cumsum(
        byval, "cents", ["ca", "cb"], "cents", ["cum_a", "cum_b"]
    )
    tot = byval.agg(
        F.sum("ca").cast("long").alias("n1"),
        F.sum("cb").cast("long").alias("n2"),
    )
    diff = cum.crossJoin(F.broadcast(tot)).select(
        "cents",
        "n1",
        "n2",
        F.abs(
            F.col("cum_a") * F.col("n2") - F.col("cum_b") * F.col("n1")
        ).alias("dnum"),
    )
    mx = diff.agg(F.max("dnum").alias("dmax"))
    n1d = F.col("n1").cast("double")
    d = F.col("dmax").cast("double") / (n1d * F.col("n2"))
    return (
        diff.crossJoin(F.broadcast(mx))
        .where(F.col("dnum") == F.col("dmax"))
        .groupBy("n1", "n2", "dmax")
        .agg(F.min("cents").cast("long").alias("d_at_cents"))
        .select(
            "n1",
            "n2",
            "d_at_cents",
            F.round(d, 6).alias("d"),
            F.round(
                F.sqrt(n1d * F.col("n2") / (F.col("n1") + F.col("n2"))) * d,
                4,
            ).alias("ks_stat"),
        )
    )


@register(
    "ts_mase_backtest",
    """
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS cnt
        FROM events GROUP BY 1, 2
    ),
    n1 AS (
        SELECT a.event_type,
               count(*) AS n,
               CAST(sum(abs(a.cnt - b.cnt)) AS BIGINT) AS ae
        FROM daily a JOIN daily b
          ON b.event_type = a.event_type AND b.day = a.day - 1
        GROUP BY 1
    ),
    n7 AS (
        SELECT a.event_type,
               count(*) AS n,
               CAST(sum(abs(a.cnt - b.cnt)) AS BIGINT) AS ae
        FROM daily a JOIN daily b
          ON b.event_type = a.event_type AND b.day = a.day - 7
        GROUP BY 1
    )
    SELECT n1.event_type,
           n1.n AS n_naive1, n7.n AS n_snaive7,
           round(CAST(n1.ae AS DOUBLE) / n1.n, 4) AS mae_naive1,
           round(CAST(n7.ae AS DOUBLE) / n7.n, 4) AS mae_snaive7,
           round((CAST(n7.ae AS DOUBLE) / n7.n)
                 / (CAST(n1.ae AS DOUBLE) / n1.n), 4) AS mase
    FROM n1 JOIN n7 USING (event_type)
    ORDER BY event_type
    """,
    tags=("timeseries", "stats"),
)
def ts_mase_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MASE forecast backtest (Hyndman & Koehler 2006): the
    seasonal-naive-7 forecaster (ŷ_t = y_{t−7}) scored against the
    naive-1 scale on each event type's daily series — MASE < 1 means
    weekly seasonality beats persistence, the go/no-go gate a
    forecast deploy pipeline reads. Absolute errors are exact
    integers summed exactly; the two MAEs and their ratio are the
    only float ops, identically ordered.

    Scale shape: the fact table reduces once to the (type, day)
    aggregate; each forecaster is an equi-join of that aggregate on
    the shifted day (hash join, no window, no sequential state);
    support counts ride along so truncated heads are auditable."""
    e = tbl(spark, sf_dir, "events")
    daily = e.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("cnt")
    )

    def naive(lag: int, n_name: str, ae_name: str) -> DataFrame:
        a = daily.alias("a")
        b = daily.alias("b")
        return (
            a.join(
                b,
                (F.col("a.event_type") == F.col("b.event_type"))
                & (F.col("b.day") == F.date_sub(F.col("a.day"), lag)),
            )
            .groupBy(F.col("a.event_type").alias("event_type"))
            .agg(
                F.count(F.lit(1)).alias(n_name),
                F.sum(F.abs(F.col("a.cnt") - F.col("b.cnt")))
                .cast("long")
                .alias(ae_name),
            )
        )

    m1 = naive(1, "n_naive1", "ae1")
    m7 = naive(7, "n_snaive7", "ae7")
    mae1 = F.col("ae1").cast("double") / F.col("n_naive1")
    mae7 = F.col("ae7").cast("double") / F.col("n_snaive7")
    return (
        m1.join(m7, "event_type")
        .select(
            "event_type",
            "n_naive1",
            "n_snaive7",
            F.round(mae1, 4).alias("mae_naive1"),
            F.round(mae7, 4).alias("mae_snaive7"),
            F.round(mae7 / mae1, 4).alias("mase"),
        )
        .orderBy("event_type")
    )


@register(
    "llm_tokenizer_fertility",
    f"""
    WITH words AS (
        SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    sub AS (
        SELECT lang,
               len(string_split({_bpe_oracle_expr()}, ' ')) AS n_sub
        FROM words
    )
    SELECT lang,
           count(*) AS n_words,
           CAST(sum(n_sub) AS BIGINT) AS n_subwords,
           round(CAST(sum(n_sub) AS DOUBLE) / count(*), 4) AS fertility
    FROM sub GROUP BY lang ORDER BY lang
    """,
    tags=("llm", "tokenizer"),
)
def llm_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language: subwords-per-word under the
    trained BPE merge table (llm_bpe_apply's inference chain applied
    corpus-wide instead of per-sample). Fertility is THE standard
    tokenizer-evaluation statistic — a language whose fertility spikes
    is underserved by the vocabulary and pays more sequence length
    per word (Rust et al. 2021). Counts exact; one division per lang.

    Scale shape: the merge chain is a fixed cascade of map-only
    string rewrites inside whole-stage codegen (no UDF, no shuffle);
    the per-lang rollup is one small keyed aggregate with map-side
    combine. The merge table is part of the operator (broadcast-free:
    it compiles into the plan)."""
    d = tbl(spark, sf_dir, "documents")
    words = d.select(
        "lang", F.explode(F.split("text", " ")).alias("w")
    )
    spark_expr = "trim(regexp_replace(w, '(.)', '$1 '))"
    from hadoop_deliver_spark.operators.llm_bpe import _MERGES

    for pat, rep in _MERGES:
        spark_expr = f"replace({spark_expr}, '{pat}', '{rep}')"
    sub = words.select(
        "lang",
        F.size(F.split(F.expr(spark_expr), " ")).cast("long").alias("n_sub"),
    )
    return (
        sub.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_sub").cast("long").alias("n_subwords"),
        )
        .select(
            "lang",
            "n_words",
            "n_subwords",
            F.round(
                F.col("n_subwords").cast("double") / F.col("n_words"), 4
            ).alias("fertility"),
        )
        .orderBy("lang")
    )


@register(
    "llm_quality_classifier",
    """
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term
        FROM documents
    ),
    scored AS (
        SELECT doc_id,
               count(*) AS n_toks,
               CAST(sum((from_hex(substr(md5(term), 1, 2))::BIT::INT % 128)
                        * 37 % 101 - 50) AS BIGINT) AS score_num
        FROM toks GROUP BY doc_id
    )
    SELECT doc_id, n_toks, score_num,
           round(1.0 / (1.0 + exp(-(CAST(score_num AS DOUBLE)
                                    / (101.0 * n_toks)))), 4) AS prob,
           score_num > 0 AS keep
    FROM scored ORDER BY doc_id
    """,
    tags=("llm", "quality"),
)
def llm_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style linear quality classifier INFERENCE (the
    CCNet/LLaMA corpus-filter pattern): hashed-bag features (md5
    byte → 128 buckets, the llm_feature_hashing device) dotted with
    a fixed weight table and squashed through a sigmoid. The weights
    here are a deterministic integer surrogate for shipped trained
    weights — w(b) = (b·37 mod 101) − 50 ∈ [−50, 50] — which keeps
    the document score an EXACT int64, so the keep decision
    (score > 0) can never flip on float summation order, on either
    engine, at any partitioning. Only the reported sigmoid
    probability touches doubles (one division of exact integers).

    Scale shape: map-side explode + one keyed aggregate with partial
    combine — classifier inference is embarrassingly parallel; a real
    weight vector would broadcast identically (128 × int)."""
    d = tbl(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    bkt = (
        F.expr("cast(conv(substring(md5(term), 1, 2), 16, 10) as int)") % 128
    )
    w = (bkt * 37) % 101 - 50
    scored = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_toks"),
        F.sum(w).cast("long").alias("score_num"),
    )
    return scored.select(
        "doc_id",
        "n_toks",
        "score_num",
        F.round(
            1.0
            / (
                1.0
                + F.exp(
                    -(
                        F.col("score_num").cast("double")
                        / (101.0 * F.col("n_toks"))
                    )
                )
            ),
            4,
        ).alias("prob"),
        (F.col("score_num") > 0).alias("keep"),
    ).orderBy("doc_id")
