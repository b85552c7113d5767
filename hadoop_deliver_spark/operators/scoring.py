"""§2 extensions, fifteenth wave — quantile scoring & kNN labeling.

events_rfm_scores runs the shared exact-ntile core (api.
exact_global_ntile — the scale-safe global quantile construction) three
times over integer metrics; llm_knn_classify extends the broadcast-
probe brute-force shape (llm_sim_bruteforce) from neighbor listing to
majority-vote label assignment.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hadoop_deliver_spark.operators.llm import _norm, _with_cosine, _COS_SQL
from hadoop_deliver_spark.api import exact_global_ntile
from hadoop_deliver_spark.registry import register
from hadoop_deliver_spark.tables import tbl


@register(
    "events_rfm_scores",
    """
    WITH anchor AS (SELECT max(CAST(ts AS DATE)) AS a FROM events),
    m AS (
        SELECT user_id,
               CAST((SELECT a FROM anchor) - max(CAST(ts AS DATE)) AS BIGINT)
                   AS rec_days,
               count(*) AS freq,
               CAST(COALESCE(sum(CASE WHEN event_type = 'purchase'
                     THEN CAST(floor(value * 100) AS BIGINT) END), 0)
                    AS BIGINT) AS mon_cents
        FROM events GROUP BY user_id
    )
    SELECT user_id, rec_days, freq, mon_cents,
           CAST(ntile(5) OVER (ORDER BY rec_days, user_id) AS BIGINT) AS r_score,
           CAST(ntile(5) OVER (ORDER BY freq, user_id) AS BIGINT) AS f_score,
           CAST(ntile(5) OVER (ORDER BY mon_cents, user_id) AS BIGINT) AS m_score
    FROM m ORDER BY user_id
    """,
    tags=("analytics", "scoring"),
)
def events_rfm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM scoring: per-user Recency (days since last event, vs the
    corpus max day), Frequency (event count) and Monetary (exact
    centi-unit purchase total — floor-then-BIGINT, order-free), each
    assigned an exact global quintile. The quintiles use the shared
    block-ranked ntile core (api.exact_global_ntile) — three passes,
    none of which funnels the table through a single-partition
    window, reproducing `ntile(5) OVER (ORDER BY metric, user_id)`
    hash-exactly. Metrics are all integers, so there is no float
    surface anywhere."""
    e = tbl(spark, sf_dir, "events")
    anchor = e.agg(F.max(F.to_date("ts"))).collect()[0][0]
    m = e.groupBy("user_id").agg(
        F.datediff(F.lit(anchor), F.max(F.to_date("ts")))
        .cast("long")
        .alias("rec_days"),
        F.count("*").alias("freq"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    F.floor(F.col("value") * 100).cast("bigint"),
                )
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("mon_cents"),
    ).cache()  # three ntile passes × two driver actions each reuse this
    m = exact_global_ntile(m, "rec_days", "user_id", 5, "r_score")
    m = exact_global_ntile(m, "freq", "user_id", 5, "f_score")
    m = exact_global_ntile(m, "mon_cents", "user_id", 5, "m_score")
    return m.select(
        "user_id", "rec_days", "freq", "mon_cents",
        "r_score", "f_score", "m_score",
    ).orderBy("user_id")


@register(
    "llm_knn_classify",
    f"""
    WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS e
               FROM embeddings),
    scored AS (
        SELECT a.vec_id AS probe_id, b.label AS nb_label,
               b.vec_id AS neighbor_id,
               CAST({_COS_SQL} AS REAL) AS cos
        FROM v a JOIN v b
          ON a.vec_id % 10 = 0 AND b.vec_id % 10 <> 0
    ),
    top5 AS (
        SELECT probe_id, nb_label, cos
        FROM (SELECT *, row_number() OVER (
                  PARTITION BY probe_id
                  ORDER BY cos DESC, neighbor_id) AS rn
              FROM scored) t
        WHERE rn <= 5
    ),
    votes AS (
        SELECT probe_id, nb_label, count(*) AS cnt
        FROM top5 GROUP BY probe_id, nb_label
    )
    SELECT probe_id,
           CAST(arg_max(nb_label, cnt * 100 - nb_label) AS INT)
               AS pred_label,
           CAST(max(cnt) AS BIGINT) AS top_votes
    FROM votes GROUP BY probe_id ORDER BY probe_id
    """,
    tags=("llm", "similarity"),
)
def llm_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN classification: every held-out probe (vec_id % 10 = 0) gets
    the majority label of its 5 nearest labeled neighbors by cosine.
    Probes stay a DATAFRAME and ride through an explicit
    F.broadcast() nested-loop join against the labeled base — one
    map-side pass per base partition, nothing collected to the
    driver. (The round-4 version collected the probe rows and inlined
    them as plan literals; the probe set here is a fixed FRACTION of
    the corpus, so at 100× that meant a driver OOM and a multi-GB
    expression tree. The broadcast join keeps the identical pairing
    work but ships probes through the torrent broadcast path, which
    is built for exactly this. Its BroadcastNestedLoopJoin node is
    allowlisted in the plan sweep with this argument; exact top-k
    must consider arbitrarily-low cosines, so no grid/LSH equi-join
    can replace the full pass.) Then per-probe float32-ranked top-5
    (id tiebreak: last-ulp drift cannot change membership) and an
    integer majority vote (score = cnt·100 − label breaks vote ties
    toward the smaller label, engine-identically). The vote
    aggregate's key space is probes × labels — trivially small at
    any corpus scale. Scale contract: the PROBE side must fit in a
    broadcast (spark.sql.broadcastTimeout / 8GB hard cap governs);
    for corpus-scale probe sets shard the probes and union the
    per-shard classifications."""
    emb = (
        tbl(spark, sf_dir, "embeddings")
        .select(
            "vec_id",
            "label",
            F.transform("embedding", lambda x: x.cast("double")).alias("e"),
        )
        .withColumn("nrm", _norm("e"))
    )
    probes = emb.filter(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("probe_id"),
        F.col("e").alias("pe"),
        F.col("nrm").alias("pnrm"),
    )
    base = emb.filter(F.col("vec_id") % 10 != 0)
    joined = base.join(F.broadcast(probes))
    scored = _with_cosine(joined, "pe", "e", "pnrm", "nrm").select(
        "probe_id",
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("nb_label"),
        F.col("cos").cast("float").alias("cos"),
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("cos").desc(), "neighbor_id"
    )
    votes = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .groupBy("probe_id", "nb_label")
        .agg(F.count("*").alias("cnt"))
    )
    return (
        votes.groupBy("probe_id")
        .agg(
            F.max_by(
                "nb_label", F.col("cnt") * 100 - F.col("nb_label")
            )
            .cast("int")
            .alias("pred_label"),
            F.max("cnt").alias("top_votes"),
        )
        .orderBy("probe_id")
    )
