"""§2 extensions, tenth wave (1/3) — incremental-sync delivery ops.

The genre's operational core beyond getmerge is `distcp -update`:
compare a source and a destination snapshot partition-by-partition
and ship only what differs. The unit of comparison is a per-partition
MANIFEST (row count + order-insensitive checksum) — tiny relative to
the data, so the sync *plan* is a join of two manifest tables, never
a data-to-data compare. delivery_manifest already publishes such a
record; delivery_distcp_sync closes the loop by diffing two of them,
and scan_file_metadata exposes the provenance (_metadata) columns
the manifests of real multi-file layouts key on.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_deliver_spark.registry import register
from hadoop_deliver_spark.tables import tbl


def _manifest(df: DataFrame) -> DataFrame:
    """Per-day manifest: rows + exact BIGINT arithmetic checksum.

    The checksum is a sum of per-row integer terms, so it is
    order-insensitive and partition-order-independent — each executor
    sums its slice map-side and one small shuffle merges; 100 TB of
    rows still produce one manifest row per partition.
    """
    return (
        df.withColumn("day", F.to_date("ts"))
        .groupBy("day")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(
                F.col("event_id") * 131
                + F.col("user_id") * 7
                + F.length("props")
            ).alias("chk"),
        )
    )


_MANIFEST_SQL = """
    SELECT CAST(ts AS DATE) AS day, count(*) AS n_rows,
           CAST(sum(event_id * 131 + user_id * 7 + length(props))
                AS BIGINT) AS chk
    FROM {src} GROUP BY CAST(ts AS DATE)
"""


@register(
    "delivery_distcp_sync",
    f"""
    WITH src AS ({_MANIFEST_SQL.format(src="events")}),
    dst AS (
        SELECT CAST(ts AS DATE) AS day, count(*) AS n_rows,
               CAST(sum(event_id * 131 + user_id * 7 + length(props))
                    AS BIGINT) AS chk
        FROM events
        WHERE CAST(ts AS DATE) <= DATE '2024-01-25'
          AND NOT (CAST(ts AS DATE) = DATE '2024-01-03'
                   AND event_type = 'error')
        GROUP BY CAST(ts AS DATE)
    )
    SELECT strftime(COALESCE(s.day, d.day), '%Y-%m-%d') AS day,
           CASE WHEN d.day IS NULL THEN 'copy'
                WHEN s.day IS NULL THEN 'delete'
                WHEN s.n_rows <> d.n_rows OR s.chk <> d.chk THEN 'copy'
                ELSE 'skip' END AS action,
           s.n_rows AS src_rows, d.n_rows AS dst_rows,
           s.chk AS src_chk, d.chk AS dst_chk
    FROM src s FULL OUTER JOIN dst d ON s.day = d.day
    ORDER BY day
    """,
    tags=("delivery", "sync"),
)
def delivery_distcp_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """distcp -update sync plan: manifest-diff the live events table
    against a stale destination snapshot (missing the last days of
    the month, and day 3 corrupted — its error events lost). Each
    side reduces to one (day, n_rows, checksum) row; a FULL OUTER
    join on day classifies every partition as copy (new or
    checksum-mismatch), delete (gone from source) or skip
    (identical). At 100 TB the data never moves to decide the plan —
    only manifests join, and the checksum is an order-insensitive
    exact BIGINT sum computed map-side."""
    e = tbl(spark, sf_dir, "events")
    src = _manifest(e)
    stale = e.where(
        (F.to_date("ts") <= F.lit("2024-01-25").cast("date"))
        & ~(
            (F.to_date("ts") == F.lit("2024-01-03").cast("date"))
            & (F.col("event_type") == "error")
        )
    )
    dst = _manifest(stale)
    s, d = src.alias("s"), dst.alias("d")
    return (
        s.join(d, F.col("s.day") == F.col("d.day"), "full_outer")
        .select(
            # string surface: pandas date-vs-datetime canon differs
            # between the two engines for DATE columns
            F.date_format(
                F.coalesce(F.col("s.day"), F.col("d.day")), "yyyy-MM-dd"
            ).alias("day"),
            F.when(F.col("d.day").isNull(), "copy")
            .when(F.col("s.day").isNull(), "delete")
            .when(
                (F.col("s.n_rows") != F.col("d.n_rows"))
                | (F.col("s.chk") != F.col("d.chk")),
                "copy",
            )
            .otherwise("skip")
            .alias("action"),
            F.col("s.n_rows").alias("src_rows"),
            F.col("d.n_rows").alias("dst_rows"),
            F.col("s.chk").alias("src_chk"),
            F.col("d.chk").alias("dst_chk"),
        )
        .orderBy("day")
    )


@register(
    "scan_file_metadata",
    """
    SELECT 'lineitem.parquet' AS file_name,
           count(*) AS n_rows,
           count(DISTINCT l_orderkey) AS n_orders
    FROM lineitem
    """,
    tags=("scan", "provenance"),
)
def scan_file_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Provenance columns: the hidden `_metadata.file_path` of a
    parquet scan, aggregated to a per-file row count — the lineage
    record a delivery manifest keys on when a dataset spans many
    files. Pure scan + hash aggregate; `_metadata` is populated by
    the reader, costs nothing, and partitions normally. The fixture
    table is a single file with a fixed name at every sf, so the
    oracle can state the expected (file_name, counts) row exactly
    without filesystem access."""
    li = tbl(spark, sf_dir, "lineitem")
    return (
        li.select(
            F.regexp_extract(
                F.col("_metadata.file_path"), r"([^/]+)$", 1
            ).alias("file_name"),
            "l_orderkey",
        )
        .groupBy("file_name")
        .agg(
            F.count("*").alias("n_rows"),
            F.countDistinct("l_orderkey").alias("n_orders"),
        )
        .orderBy("file_name")
    )
