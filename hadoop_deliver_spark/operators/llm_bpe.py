"""§2 extensions, thirtieth wave — BPE merge application, late-arriving
dimensions, distributed global sequence.

- llm_bpe_apply: APPLY a trained BPE merge list (the tokenizer's
  inference half; llm_vocab_pairs is the training half's statistic) —
  each merge is one map-only string rewrite over char-spaced words,
  in merge-priority order.
- delivery_late_dim_resolution: the late-arriving-dimension pattern —
  facts that miss the dim snapshot park in a pending set and resolve
  against the refreshed dim; conservation proved (matched_v1 +
  resolved + still_pending = all facts).
- orders_global_seq: contiguous global sequence numbers on the
  (orderdate, orderkey) total order via the block-ranked
  exact_global_rank core — zipWithIndex semantics with NO
  single-partition stage and NO partition-dependent ids
  (monotonically_increasing_id is neither contiguous nor stable).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_deliver_spark.registry import register
from hadoop_deliver_spark.tables import tbl

# (pair, replacement) in priority order — the "trained" merge table.
_MERGES = [
    ("t h", "th"),
    ("th e", "the"),
    ("e r", "er"),
    ("o r", "or"),
    ("a n", "an"),
    ("s c", "sc"),
    ("sc an", "scan"),
    ("k e", "ke"),
]


def _bpe_oracle_expr() -> str:
    """Nested replace() chain for the oracle: char-space the word,
    then apply each merge in order."""
    expr = "trim(regexp_replace(w, '(.)', '\\1 ', 'g'))"
    for pat, rep in _MERGES:
        expr = f"replace({expr}, '{pat}', '{rep}')"
    return expr


@register(
    "llm_bpe_apply",
    f"""
    WITH words AS (
        SELECT doc_id, unnest(string_split(text, ' ')[1:8]) AS w
        FROM documents
    )
    SELECT doc_id, w AS word, {_bpe_oracle_expr()} AS bpe_tokens
    FROM words ORDER BY doc_id, word
    """,
    tags=("llm", "tokenizer"),
)
def llm_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE inference: apply a fixed trained merge list to words. Each
    word is exploded to a char-spaced sequence ('s c a n'), then
    every merge rewrites its pair in PRIORITY ORDER ('s c'→'sc',
    'sc an'→'scan') — the greedy iterative merge that defines BPE,
    unrolled into |merges| map-only replaces (a fixed-size merge
    table compiles to a fixed expression chain; a 32k-merge
    production table would ship as a broadcast dict inside a pandas
    UDF instead — same per-row semantics, documented trade). The
    remaining spaces delimit the final tokens. First 8 words per doc
    keep the surface reviewable; zero shuffles before the display
    sort."""
    d = tbl(spark, sf_dir, "documents")
    words = d.select(
        "doc_id", F.explode(F.slice(F.split("text", " "), 1, 8)).alias("w")
    )
    spaced = F.trim(F.regexp_replace("w", "(.)", "$1 "))
    out = spaced
    for pat, rep in _MERGES:
        out = F.replace(out, F.lit(pat), F.lit(rep))
    return words.select(
        "doc_id", F.col("w").alias("word"), out.alias("bpe_tokens")
    ).orderBy("doc_id", "word")


@register(
    "delivery_late_dim_resolution",
    """
    WITH dim_v1 AS (
        SELECT n_nationkey FROM nation WHERE n_nationkey < 13
    ),
    facts AS (SELECT c_custkey, c_nationkey FROM customer),
    matched_v1 AS (
        SELECT f.c_custkey FROM facts f
        JOIN dim_v1 d ON d.n_nationkey = f.c_nationkey
    ),
    pending AS (
        SELECT f.c_custkey, f.c_nationkey FROM facts f
        WHERE NOT EXISTS (SELECT 1 FROM dim_v1 d
                          WHERE d.n_nationkey = f.c_nationkey)
    ),
    resolved AS (
        SELECT p.c_custkey FROM pending p
        JOIN nation n ON n.n_nationkey = p.c_nationkey
    )
    SELECT (SELECT count(*) FROM facts) AS n_facts,
           (SELECT count(*) FROM matched_v1) AS n_matched_v1,
           (SELECT count(*) FROM pending) AS n_pending,
           (SELECT count(*) FROM resolved) AS n_resolved,
           (SELECT count(*) FROM pending) -
               (SELECT count(*) FROM resolved) AS n_still_pending
    """,
    tags=("delivery", "join"),
)
def delivery_late_dim_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-arriving dimension handling: facts are joined against a
    PARTIAL dim snapshot (nations < 13 — the rows that had arrived
    by load time); misses park in a pending set (anti-join, nothing
    invented, no dropped facts) and a second pass resolves them
    against the refreshed full dim. The output is the conservation
    ledger — matched_v1 + pending = facts, and resolved ≤ pending —
    which is the invariant a warehouse loader must publish. Both
    joins broadcast the dim; the anti join is the only fact shuffle;
    the pending set would persist as its own parquet between loads
    (the two phases here run in one job for the oracle's benefit)."""
    c = tbl(spark, sf_dir, "customer")
    n = tbl(spark, sf_dir, "nation")
    dim_v1 = n.filter(F.col("n_nationkey") < 13).select("n_nationkey")
    facts = c.select("c_custkey", "c_nationkey")
    matched_v1 = facts.join(
        F.broadcast(dim_v1), facts.c_nationkey == dim_v1.n_nationkey
    )
    pending = facts.join(
        F.broadcast(dim_v1),
        facts.c_nationkey == dim_v1.n_nationkey,
        "left_anti",
    )
    resolved = pending.join(
        F.broadcast(n.select("n_nationkey")),
        pending.c_nationkey == F.col("n_nationkey"),
    )
    n_facts = facts.count()
    n_m1 = matched_v1.count()
    n_p = pending.count()
    n_r = resolved.count()
    return spark.createDataFrame(
        [(n_facts, n_m1, n_p, n_r, n_p - n_r)],
        "n_facts long, n_matched_v1 long, n_pending long, "
        "n_resolved long, n_still_pending long",
    )


@register(
    "orders_global_seq",
    """
    SELECT o_orderkey,
           row_number() OVER (ORDER BY o_orderdate, o_orderkey) AS seq
    FROM orders ORDER BY o_orderkey
    """,
    tags=("analytics",),
)
def orders_global_seq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous global sequence numbers on the (orderdate, orderkey)
    total order — zipWithIndex semantics, done right: the oracle
    states a global row_number window, the engine computes the SAME
    ranks block-ranked (exact_global_rank: split-point blocks +
    per-block row_number + broadcast offsets), so no stage ever
    funnels the table through one task. This is what replaces
    monotonically_increasing_id when ids must be contiguous and
    partition-layout-independent (mi_id is neither — fn_misc keeps
    it rows-only for exactly that reason)."""
    from hadoop_deliver_spark.api import exact_global_rank

    o = tbl(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("od_us"),
    )
    # value = epoch-µs day (integer); key = unique orderkey tiebreak
    ranked = exact_global_rank(o, "od_us", "o_orderkey", "seq")
    return ranked.select("o_orderkey", "seq").orderBy("o_orderkey")
