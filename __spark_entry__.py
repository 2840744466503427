"""Driver contract for the spark-graft builder (PySpark target).

``entry`` runs the flagship extraction pipeline on sf0.001;
``queries``/``oracle_sql`` expose every SQL-expressible operator from
SURVEY.md section 2 (plus the training-data-pipeline operators) through
the registry in ``dup_ocropy_spark/operators/``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

import dup_ocropy_spark.operators as _ops
from dup_ocropy_spark.operators.registry import REGISTRY

_ops.load_all()

SF0001 = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full extraction pipeline (segment -> classify -> reassemble
    in one fused mapInArrow) over the sf0.001 documents corpus."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return REGISTRY["extract_documents"].spark(spark, SF0001)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: spec.spark for name, spec in sorted(REGISTRY.items())}


def oracle_sql() -> dict[str, str]:
    return {name: spec.sql for name, spec in sorted(REGISTRY.items())
            if spec.sql is not None}
