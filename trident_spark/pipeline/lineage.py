"""Per-partition lineage + resume (C17).

Work is bucketed by a deterministic hash of the url (stable across runs and
cluster sizes, unlike Spark partition ids).  After a stage finishes a bucket,
one lineage row (stage, bucket, row_count, checksum, completed_at) is
appended; resuming a crashed run anti-joins the input against completed
buckets, so finished pages are not extracted again.

Resume is not idempotent today: ``run_pipeline.py --resume`` *appends* the
remaining buckets' ``terms``, ``triples`` and ``lineage`` rows, so a term or
edge that two runs both produce is stored twice (identical rows appended
twice are two rows), and lineage is written last, so a crash between
writes leaves the finished buckets unrecorded.  ROADMAP item G holds the
fix.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# Fixed, not a parameter: a resume run anti-joins on the bucket ids an
# earlier run wrote, so a different count would skip the wrong pages.
N_BUCKETS = 256


def with_bucket(df: DataFrame) -> DataFrame:
    return df.withColumn(
        "bucket", F.pmod(F.xxhash64(F.col("url")), F.lit(N_BUCKETS)).cast("int"))


def compute_lineage(df: DataFrame, stage: str) -> DataFrame:
    """One lineage row per bucket: count + order-insensitive checksum
    (bit_xor of row hashes is associative + commutative + overflow-free)."""
    row_hash = F.xxhash64(*[F.col(c) for c in df.columns if c != "bucket"])
    return (
        with_bucket(df)
        .groupBy("bucket")
        .agg(
            F.count("*").alias("row_count"),
            F.bit_xor(row_hash).alias("checksum"),
        )
        .select(
            F.lit(stage).alias("stage"),
            "bucket",
            "row_count",
            "checksum",
            F.current_timestamp().alias("completed_at"),
        )
    )


def resume_filter(pages: DataFrame, lineage: DataFrame, stage: str) -> DataFrame:
    """Drop pages whose bucket already completed `stage` (left-anti join)."""
    done = lineage.where(F.col("stage") == stage).select("bucket").distinct()
    return (
        with_bucket(pages)
        .join(F.broadcast(done), "bucket", "left_anti")
        .drop("bucket")
    )
