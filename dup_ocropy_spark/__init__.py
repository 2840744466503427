"""dup_ocropy_spark — a PySpark-native main-content extraction engine.

A from-scratch rebuild of the *capabilities* of ocropus-archive/DUP-ocropy
(adaptive normalization -> layout segmentation -> per-block sequence
labeling -> document reassembly -> evaluation), re-expressed over tables
of multi-turn conversation transcripts

    transcripts(conv_id string, turn_idx int, role string,
                text string, tool string, ts timestamp)

with all heavy per-turn work in vectorized Arrow-batch UDFs (the
extraction stage is one ``mapInArrow``) and all relational work in
native Spark SQL operators.

Layout
------
kernels/    pure numpy/pandas kernels, no Spark imports (oracle + pipeline
            share them; see SURVEY.md section 7.1)
functions/  Spark Column-expression helpers (text normalization, interval
            algebra, run labeling)
operators/  relational recasts of the reference operators (filters, top-k,
            interval joins, windows, metrics, dedup, similarity, text stats)
sources/    readers/writers (parquet now, Iceberg-ready), transcript datagen
plans/      end-to-end pipelines: extract, lineage, resume/checkpoint
streaming/  Structured Streaming variant of the extract pipeline
zipcache    per-task zip re-read fix, active only in Spark Python workers
"""

from dup_ocropy_spark import zipcache
from dup_ocropy_spark.config import ExtractConfig

zipcache.install()

__version__ = "0.1.0"

__all__ = ["ExtractConfig", "__version__"]
