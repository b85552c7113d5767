"""§2 extensions, forty-fourth wave — collocation mining, corpus
divergence, robust series filtering, and vocabulary-growth law.

- llm_pmi_collocations: pointwise-mutual-information collocations
  (Church & Hanks 1990) over adjacent token pairs, ranked on an
  EXACT cross-engine key (one correctly-rounded division of exact
  int64 products), not on a transcendental.
- llm_source_kl: KL divergence of each source's unigram
  distribution from the corpus distribution — the domain-mixing
  diagnostic behind mixture reweighting.
- ts_hampel_filter: the Hampel identifier (rolling median ± 4.4478
  MAD) per event-type daily series, outlier decisions in exact
  doubled integers.
- llm_heaps_law: Heaps'-law fit V(n) = K·n^β of vocabulary growth
  over the doc stream, cumulatives from the block-ranked keyed
  cumsum core (no single-partition window over the doc axis).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hadoop_deliver_spark import api
from hadoop_deliver_spark.registry import register
from hadoop_deliver_spark.tables import tbl


@register(
    "llm_pmi_collocations",
    """
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    bg AS (
        SELECT unnest(CASE WHEN len(t) >= 2
                           THEN list_transform(range(1, len(t)),
                                i -> [t[i], t[i + 1]])
                           ELSE [] END) AS p
        FROM toks
    ),
    pairs AS (
        SELECT p[1] AS w1, p[2] AS w2, CAST(count(*) AS BIGINT) AS c12
        FROM bg GROUP BY 1, 2
    ),
    tot AS (SELECT CAST(sum(c12) AS BIGINT) AS nb FROM pairs),
    lm AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS f1 FROM pairs GROUP BY w1),
    rm AS (SELECT w2, CAST(sum(c12) AS BIGINT) AS f2 FROM pairs GROUP BY w2),
    scored AS (
        SELECT p.w1, p.w2, p.c12,
               CAST(p.c12 * t.nb AS DOUBLE) / (lm.f1 * rm.f2) AS ratio
        FROM pairs p
        JOIN lm USING (w1) JOIN rm USING (w2) CROSS JOIN tot t
        WHERE p.c12 >= 5
    )
    SELECT w1, w2, c12, round(ln(ratio), 4) AS pmi
    FROM (SELECT *, row_number() OVER (
              ORDER BY ratio DESC, w1, w2) AS rn
          FROM scored)
    WHERE rn <= 30 ORDER BY pmi DESC, w1, w2
    """,
    tags=("llm", "text"),
)
def llm_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI collocations (Church & Hanks 1990): adjacent token pairs
    scored by ln(c₁₂·N / (f₁·f₂)) against the bigram contingency
    marginals (f₁ = pair count with that first token, f₂ = with that
    second), minimum count 5, top 30. The RANKING key is the exact
    ratio c₁₂·N/(f₁·f₂) — both int64 products stay under 2⁵³ so the
    single IEEE division is correctly rounded and bit-identical
    across engines; ln() only ever touches the DISPLAY column, so an
    engine-ulp in the transcendental can never flip top-k membership
    (the same discipline as the float32 cosine ranking surfaces).

    Scale shape: bigram explode map-side; one (w1,w2) shuffle with
    partial aggregation; marginals re-aggregate FROM the pair counts
    (never a second corpus pass) and join back keyed; 1-row total
    broadcast; top-30 via TakeOrderedAndProject."""
    d = tbl(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    bg = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - 2),
            lambda i: F.struct(
                F.element_at(toks, i + 1).alias("w1"),
                F.element_at(toks, i + 2).alias("w2"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    pairs = (
        d.select(F.explode(bg).alias("p"))
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("c12"))
    )
    tot = pairs.agg(F.sum("c12").cast("long").alias("nb"))
    lm = pairs.groupBy("w1").agg(F.sum("c12").cast("long").alias("f1"))
    rm = pairs.groupBy("w2").agg(F.sum("c12").cast("long").alias("f2"))
    ratio = (F.col("c12") * F.col("nb")).cast("double") / (
        F.col("f1") * F.col("f2")
    )
    return (
        pairs.filter(F.col("c12") >= 5)
        .join(lm, "w1")
        .join(rm, "w2")
        .crossJoin(F.broadcast(tot))
        .withColumn("ratio", ratio)
        .orderBy(F.desc("ratio"), "w1", "w2")
        .limit(30)
        .select(
            "w1", "w2", "c12", F.round(F.log("ratio"), 4).alias("pmi")
        )
        .orderBy(F.desc("pmi"), "w1", "w2")
    )


@register(
    "llm_source_kl",
    """
    WITH toks AS (
        SELECT source, unnest(string_split(text, ' ')) AS w
        FROM documents WHERE length(text) > 0
    ),
    sw AS (
        SELECT source, w, CAST(count(*) AS BIGINT) AS c_sw
        FROM toks GROUP BY 1, 2
    ),
    corpus AS (
        SELECT w, CAST(sum(c_sw) AS BIGINT) AS c_w FROM sw GROUP BY w
    ),
    totals AS (
        SELECT source, CAST(sum(c_sw) AS BIGINT) AS n_s FROM sw GROUP BY 1
    ),
    grand AS (SELECT CAST(sum(c_w) AS BIGINT) AS n FROM corpus)
    SELECT s.source, t.n_s AS n_tokens,
           CAST(count(*) AS BIGINT) AS vocab,
           round(sum((CAST(s.c_sw AS DOUBLE) / t.n_s)
                     * ln(CAST(s.c_sw AS DOUBLE) * g.n
                          / (CAST(t.n_s AS DOUBLE) * c.c_w))), 6)
               AS kl_nats
    FROM sw s
    JOIN corpus c USING (w)
    JOIN totals t USING (source)
    CROSS JOIN grand g
    GROUP BY s.source, t.n_s
    ORDER BY s.source
    """,
    tags=("llm", "stats"),
)
def llm_source_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source KL divergence from the corpus unigram distribution
    (Kullback & Leibler 1951): KL(P_s‖Q) = Σ_w p·ln(p/q) with
    p = c_sw/N_s and q = c_w/N — the domain-shift diagnostic that
    decides mixture reweighting (a source with high KL is
    distributionally far from the blend; DSIR-style importance
    weights are its per-document refinement). Every count is an
    exact int64 and each ln argument is a ratio of exact integer
    products (c_sw·N ≪ 2⁵³, exact in double); only the per-term
    share·ln work is float (error ~1e-12 relative before the 1e-6
    display rounding, the agg_theil_index convention). KL ≥ 0 always;
    P ≪ Q holds by construction since every source term is in the
    corpus.

    Scale shape: one (source, w) shuffle with partial aggregation;
    corpus counts re-aggregate FROM the per-source counts (no second
    corpus pass); keyed joins back; 1-row grand-total broadcast."""
    d = tbl(spark, sf_dir, "documents").where(F.length("text") > 0)
    toks = d.select(
        "source", F.explode(F.split("text", " ")).alias("w")
    )
    sw = toks.groupBy("source", "w").agg(
        F.count(F.lit(1)).cast("long").alias("c_sw")
    )
    corpus = sw.groupBy("w").agg(F.sum("c_sw").cast("long").alias("c_w"))
    totals = sw.groupBy("source").agg(
        F.sum("c_sw").cast("long").alias("n_s")
    )
    grand = corpus.agg(F.sum("c_w").cast("long").alias("n"))
    term = (F.col("c_sw").cast("double") / F.col("n_s")) * F.log(
        F.col("c_sw").cast("double")
        * F.col("n")
        / (F.col("n_s").cast("double") * F.col("c_w"))
    )
    return (
        sw.join(corpus, "w")
        .join(F.broadcast(totals), "source")
        .crossJoin(F.broadcast(grand))
        .groupBy("source", F.col("n_s").alias("n_tokens"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("vocab"),
            F.round(F.sum(term), 6).alias("kl_nats"),
        )
        .orderBy("source")
    )


@register(
    "ts_hampel_filter",
    """
    WITH d AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ),
    dr AS (
        SELECT event_type, day, c,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY day) AS rn
        FROM d
    ),
    w AS (
        SELECT event_type, day, c, rn,
               list_sort(list(c) OVER win) AS arr,
               count(*) OVER win AS wn
        FROM dr
        WINDOW win AS (PARTITION BY event_type ORDER BY rn
                       ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ),
    m AS (
        SELECT event_type, day, c, rn,
               CAST(2 * arr[4] AS BIGINT) AS med2
        FROM w WHERE wn = 7
    ),
    dev AS (
        SELECT m.event_type, m.day, m.c, m.med2,
               list_sort(list(abs(2 * d2.c - m.med2))) AS darr
        FROM m JOIN dr d2
          ON d2.event_type = m.event_type
         AND d2.rn BETWEEN m.rn - 3 AND m.rn + 3
        GROUP BY 1, 2, 3, 4
    )
    SELECT event_type, CAST(day AS TIMESTAMP) AS day, c, med2,
           CAST(darr[4] AS BIGINT) AS mad2,
           abs(2 * c - med2) * 10000 > 44478 * darr[4] AS is_outlier
    FROM dev ORDER BY event_type, day
    """,
    tags=("timeseries", "stats"),
)
def ts_hampel_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Hampel identifier (Hampel 1974; the standard robust
    despiker): a point is an outlier when it sits more than
    k·1.4826·MAD from the rolling 7-point median (k = 3, so the
    factor is 4.4478). Everything that DECIDES is exact integers in
    doubled units: med2 = 2·median of the 7 ints (the 4th of the
    sorted window), mad2 = 2·MAD = median of |2c − med2|, and the
    flag compares |2c − med2|·10⁴ > 44478·mad2 — cross-multiplied,
    no float ever touches the verdict. Edge rows (window < 7) are
    excluded as the textbook filter does. The oracle rebuilds the
    deviation window by a self-join on the day interval because
    DuckDB's window frame can't nest the med2-dependent transform;
    same rows, same integers.

    Scale shape: the fact table reduces to the per-type DAILY series
    in one keyed shuffle; the rolling window is partitioned by type
    over the calendar-bounded axis."""
    e = tbl(spark, sf_dir, "events")
    d = e.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    win = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-3, 3)
    )
    w = d.select(
        "event_type",
        "day",
        "c",
        F.array_sort(F.collect_list("c").over(win)).alias("arr"),
        F.count(F.lit(1)).over(win).alias("wn"),
    ).filter(F.col("wn") == 7)
    m = w.withColumn(
        "med2", (2 * F.element_at("arr", 4)).cast("long")
    ).withColumn(
        "darr",
        F.array_sort(
            F.transform(
                "arr", lambda x: F.abs(2 * x - F.col("med2"))
            )
        ),
    )
    return m.select(
        "event_type",
        F.col("day").cast("timestamp").alias("day"),
        "c",
        "med2",
        F.element_at("darr", 4).cast("long").alias("mad2"),
        (
            F.abs(2 * F.col("c") - F.col("med2")) * 10000
            > 44478 * F.element_at("darr", 4)
        ).alias("is_outlier"),
    ).orderBy("event_type", "day")


@register(
    "llm_heaps_law",
    """
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w
        FROM documents WHERE length(text) > 0
    ),
    perdoc AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_toks FROM toks
        GROUP BY doc_id
    ),
    joined AS (
        SELECT p.doc_id, p.n_toks, coalesce(f.n_new, 0) AS n_new
        FROM perdoc p LEFT JOIN (
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_new
            FROM (SELECT w, min(doc_id) AS doc_id FROM toks GROUP BY w)
            GROUP BY doc_id) f USING (doc_id)
    ),
    cum AS (
        SELECT doc_id,
               CAST(sum(n_toks) OVER (ORDER BY doc_id) AS BIGINT) AS n_cum,
               CAST(sum(n_new) OVER (ORDER BY doc_id) AS BIGINT) AS v_cum
        FROM joined
    )
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           round(regr_slope(ln(v_cum), ln(n_cum)), 4) AS beta,
           round(exp(regr_intercept(ln(v_cum), ln(n_cum))), 4) AS k,
           round(regr_r2(ln(v_cum), ln(n_cum)), 4) AS r2
    FROM cum
    """,
    tags=("llm", "stats"),
)
def llm_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law fit (Heaps 1978): vocabulary size grows as
    V(n) = K·nᵝ in corpus token count n; natural text lands at
    β ≈ 0.4-0.6, and drift in β is the cheapest detector of
    template spam (β→0: vocabulary saturates) or OCR noise (β→1:
    every page mints new "words"). Per-doc token counts and
    first-occurrence counts (each term attributed to the min doc_id
    containing it) are exact int64; BOTH cumulatives come from the
    block-ranked api.exact_global_keyed_cumsum core — no
    single-partition window over the doc axis even at corpus scale —
    and the log-log regression is one regr_slope/intercept/r2 pass
    (round-4 absorbs double-sum order drift, registry convention).

    Scale shape: one explode + two keyed shuffles (per-doc, per-term
    first-occurrence), block-ranked cumsums, 1-row regression
    reduce."""
    d = tbl(spark, sf_dir, "documents").where(F.length("text") > 0)
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    perdoc = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_toks")
    )
    firsts = (
        toks.groupBy("w")
        .agg(F.min("doc_id").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_new"))
    )
    joined = perdoc.join(firsts, "doc_id", "left").select(
        "doc_id",
        "n_toks",
        F.coalesce("n_new", F.lit(0)).cast("long").alias("n_new"),
    )
    # r12: one multi-measure block-ranked pass for both running sums
    cum = api.exact_global_keyed_cumsum(
        joined, "doc_id", ["n_toks", "n_new"], "doc_id", ["n_cum", "v_cum"]
    )
    y, x = F.log(F.col("v_cum")), F.log(F.col("n_cum"))
    return cum.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.round(F.regr_slope(y, x), 4).alias("beta"),
        F.round(F.exp(F.regr_intercept(y, x)), 4).alias("k"),
        F.round(F.regr_r2(y, x), 4).alias("r2"),
    )
