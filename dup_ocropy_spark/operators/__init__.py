"""Relational recasts of the reference operators + training-data-pipeline
operators (dedup, similarity, text stats, quality, redaction, sampling,
decontamination, packing, codec training).

Every SQL-expressible operator registers a (spark_builder, duckdb_sql)
pair in ``registry.REGISTRY``; ``__spark_entry__.py`` exposes them to the
driver's correctness gate.
"""

from dup_ocropy_spark.operators import registry  # noqa: F401


def load_all() -> None:
    """Import every operator module so registrations run."""
    from dup_ocropy_spark.operators import (  # noqa: F401
        dedup, relational, relational2, relational3, similarity, textstats,
        transcripts_queries,
    )
