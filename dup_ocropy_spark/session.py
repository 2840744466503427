"""SparkSession builder with the engine's standard configuration.

AQE + Arrow on, UTC session timezone (DuckDB-oracle comparability),
shuffle partitions sized to cores (not the 200 default), Arrow batch
rows capped so multi-KB payload rows don't blow executor memory
(SURVEY.md section 4 'Spill/memory').
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from dup_ocropy_spark.config import DEFAULT_CONFIG


def get_spark(master: str | None = None, app_name: str = "dup_ocropy_spark",
              shuffle_partitions: int | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    master = master or os.environ.get("SPARK_MASTER", "local[*]")
    # size shuffle width to parallelism: local[N] -> N, local[*]/cluster -> 32
    if shuffle_partitions is None:
        inner = master[master.find("[") + 1:master.find("]")] if "[" in master else ""
        shuffle_partitions = int(inner) if inner.isdigit() else 32
    b = (
        SparkSession.builder.master(master).appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch",
                str(DEFAULT_CONFIG.arrow_batch_rows))
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # scan-parallelism floor (r6, guide §6.1): aim for >=4 task waves
        # per scan instead of exactly one — split planning targets
        # defaultParallelism splits by default, so a one-wave stage's
        # wall is its slowest task (guide §2.6). A 4x floor amortizes
        # task-length variance; at real scale every table yields far
        # more splits than the floor, so it is inert there. Row-group
        # granularity still caps effective parallelism per FILE (a
        # single-row-group file never splits) — the bench generator
        # writes 4x-core file counts for the same reason.
        .config("spark.sql.files.minPartitionNum", str(4 * shuffle_partitions))
        # join strategy (r6, guide §3.1): let the planner pick shuffled-
        # hash over sort-merge when its size conditions hold, and let AQE
        # convert SMJ->SHJ at runtime when every post-shuffle partition's
        # map output is under the threshold — skips both sort passes of
        # the band/bucket self-joins (measured at sf1.0: ngram_jaccard
        # 2.08->1.32, minhash_lsh 0.79->0.58 min-of-3; results are
        # strategy-independent). Scale note: SHJ's risk is a build-side
        # partition that outgrows memory — the AQE threshold bounds the
        # runtime conversion, and SPARK_GRAFT_PREFER_SMJ=1 restores the
        # sort-merge default for clusters where that margin is tight.
        .config("spark.sql.join.preferSortMergeJoin",
                "true" if os.environ.get("SPARK_GRAFT_PREFER_SMJ", "")
                .lower() not in ("", "0", "false", "no") else "false")
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
                os.environ.get("SPARK_GRAFT_SHJ_LOCAL_MAP_THRESHOLD", "256m"))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
