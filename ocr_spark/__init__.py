"""ocr_spark — a PySpark-native main-content extraction engine.

Brand-new engine with the query/data-processing capabilities of the
reference (VishalSingh1806/OCR), re-expressed Spark-first per SURVEY.md:

- ``ocr_spark.core``      pure-Python extraction nucleus (sniff → route →
                          extract → normalize, with char-span lineage).
                          This module IS the reference oracle: the exact
                          same code runs single-process in tests and
                          inside the Arrow-batch stages on the cluster.
- ``ocr_spark.udfs``      the one Python stage shape: ``map_batches``
                          runs a per-batch pandas function through
                          ``mapInPandas`` (Arrow batches, zero per-row
                          Python at the Spark row boundary).
- ``ocr_spark.job``       distributed orchestration: hash(conv_id)
                          partitioning with skew salting, per-partition
                          lineage + metrics, checkpoint-resume.
- ``ocr_spark.fixtures``  deterministic synthetic transcript generator
                          (FIXTURES.md schema).
- ``ocr_spark.operators`` relational operator library (dedup, similarity
                          search, text analysis, multimodal plumbing).
"""

__version__ = "0.1.0"
