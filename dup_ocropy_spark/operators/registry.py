"""Query registry: one (name, spark builder, DuckDB oracle SQL) triple per
operator exposed through ``__spark_entry__.py``.

Contract (driver): the Spark callable takes (spark, sf_dir) and returns a
DataFrame; the SQL runs in DuckDB against pre-registered views named
``region nation customer supplier part orders lineitem events documents
embeddings``. Column names must match exactly (the driver sorts columns
by name and value-hashes), so every computed column is aliased on both
sides. ``sql=None`` marks genuinely non-SQL-expressible ops (driver falls
back to a rows-only check).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass


@dataclass(frozen=True)
class QuerySpec:
    name: str
    spark: Callable  # (SparkSession, sf_dir) -> DataFrame
    sql: str | None  # DuckDB oracle, or None for rows-only ops
    doc: str = ""


REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, sql: str | None, doc: str = ""):
    def deco(fn: Callable) -> Callable:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = QuerySpec(name=name, spark=fn, sql=sql, doc=doc)
        return fn

    return deco


def spread_small_input(df):
    """Give a compute-heavy stage enough input splits to use every core,
    deciding at plan time without starting a Spark job.

    Parquet files split at ROW-GROUP granularity: a single-row-group file
    (documents.parquet at sf1.0: 5.9 MB, one row group) scans as 1-2
    tasks however small ``maxPartitionBytes`` goes, so every kernel fused
    into the scan stage ran on 1-2 of 32 cores (r6: the BPE word-count
    split alone was 3.4 s single-task). One round-robin exchange of the
    tiny table buys full-width compute.

    A frame whose plan already holds an exchange comes back unchanged:
    its width is the shuffle's, sized to the cores by ``get_spark``.
    Under AQE (Spark's default) exactly the plans with an exchange or a
    subquery are an ``AdaptiveSparkPlanExec``, and asking such a frame
    for its RDD would run its shuffle stages as jobs of their own, which
    the query built on top runs again. Any other plan is narrow over its
    scans, and building its RDD only plans the splits; fewer than
    ``defaultParallelism`` get the exchange. So a second call is a no-op,
    and the spread is the identity on any table with enough splits, every
    100 TB one (SCALE.md section 8)."""
    qe = df._jdf.queryExecution()
    if qe.executedPlan().getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        return df
    par = df.sparkSession.sparkContext.defaultParallelism
    if qe.toRdd().getNumPartitions() < par:
        return df.repartition(par)
    return df


# corpora whose per-row compute (text kernels, n-gram hashing, Arrow
# batches) dwarfs their byte size — the relational tables keep their
# native splits (their queries shuffle immediately anyway, and float
# aggregation there must not see a partitioning change)
_SPREAD_TABLES = frozenset({"documents", "embeddings"})


def table(spark, sf_dir: str, name: str):
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name in _SPREAD_TABLES:
        df = spread_small_input(df)
    return df
