"""SparkSession builder with the engine's standard configuration.

Spark's AQE defaults, Arrow on, UTC session timezone (DuckDB-oracle
comparability), shuffle partitions sized to cores (not the 200 default),
a file-split floor of 4 splits per core, Arrow batch rows capped so
multi-KB payload rows don't blow executor memory (SURVEY.md section 4
'Spill/memory'), and a generated-class cache that holds the whole query
registry, so each query's code is compiled once per session rather than
on every run. Every entry point (jobs, bench,
tests) builds its session here; ``extra_conf`` overrides any setting.
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
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch",
                str(DEFAULT_CONFIG.arrow_batch_rows))
        # split floor: Spark packs small files into splits of
        # min(maxPartitionBytes, max(openCostInBytes, totalBytes /
        # minPartitionNum)), minPartitionNum defaulting to the cores, so a
        # many-small-file table scans in about one straggler-bound wave.
        # 4x cores stops the packing: 64 one-row-group files, 333 MB
        # (bench.py's fat-tier shape), scan as 16 splits instead of 5 at
        # local[4], 128 instead of 32 at local[32]. It cannot split a row
        # group: one-file tables are registry.spread_small_input's case.
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
        # generated-class cache sized to the registry's working set: the
        # nine perfbench registry_mix queries generate ~170 distinct
        # classes and the full 50-query registry ~510 (sf0.001), against
        # Spark's 100-entry LRU default — which evicts every class before
        # its next use, so each re-run re-compiled 163-165 classes in
        # Janino (~7 ms median each) and re-warmed them in the JIT. 2048
        # (~4x the registry) compiles each class once per session:
        # registry_mix steady-state passes compile 0 classes. Static SQL
        # conf: only the builder can set it.
        .config("spark.sql.codegen.cache.maxEntries", "2048")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
