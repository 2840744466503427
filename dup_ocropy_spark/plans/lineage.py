"""Per-partition lineage rows (north_rule: 'per-partition lineage rows
(source snapshot, partition id, row counts, checksums) written alongside
metrics').

Checksums are order-insensitive (bit_xor of per-row xxhash64), so a
resumed/reshuffled run that produces the same rows produces the same
checksum regardless of task scheduling — the determinism upgrade over the
reference's ``imap_unordered`` (``ocrolib/common.py:489-501``).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

# columns that define row identity for checksumming
_ID_COLS = ("conv_id", "turn_idx", "extracted_text")


def row_checksum_col(cols: tuple[str, ...] = _ID_COLS):
    return F.xxhash64(*[F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in cols])


def count_and_checksum(df: DataFrame, cols: tuple[str, ...] = _ID_COLS) -> tuple[int, int]:
    """Row count and order-insensitive checksum of a DataFrame in one scan.

    Both aggregates ride the scan as observed metrics into the noop sink:
    one Spark job with a single result stage, where a global ``agg`` runs
    a partial-aggregate map job plus a result job under AQE. Result-stage
    accumulators merge once per partition, so retried or speculative
    tasks do not count twice.
    """
    obs = Observation()
    (df.observe(obs, F.count("*").alias("n"), F.bit_xor(row_checksum_col(cols)).alias("c"))
     .write.mode("overwrite").format("noop").save())
    m = obs.get
    return m["n"], m["c"] if m["c"] is not None else 0


def dataset_checksum(df: DataFrame, cols: tuple[str, ...] = _ID_COLS) -> int:
    """Single order-insensitive checksum over a DataFrame."""
    return count_and_checksum(df, cols)[1]


def lineage_for_output(spark: SparkSession, out_path: str,
                       source_snapshot: str, wall_ms: int) -> DataFrame:
    """Lineage over the *committed* files (read back post-write so the
    checksum covers what durably landed, not what the job computed)."""
    df = spark.read.parquet(out_path)
    return (df
            .groupBy(F.input_file_name().alias("partition_file"))
            .agg(F.count("*").alias("row_count"),
                 F.bit_xor(row_checksum_col()).alias("checksum"))
            .withColumn("source_snapshot", F.lit(source_snapshot))
            .withColumn("wall_ms", F.lit(wall_ms).cast("bigint")))


def write_output_with_lineage(extracted: DataFrame, out_path: str,
                              source_snapshot: str = "dev") -> DataFrame:
    """Write extraction output + sidecar lineage table; returns the lineage
    rows as written (reading them costs no further scan of the output)."""
    spark = extracted.sparkSession
    t0 = time.time()
    extracted.write.mode("overwrite").parquet(out_path)
    wall_ms = int((time.time() - t0) * 1000)
    lin_path = out_path.rstrip("/") + "_lineage"
    lineage_for_output(spark, out_path, source_snapshot, wall_ms).write.mode("overwrite").parquet(lin_path)
    return spark.read.parquet(lin_path)
