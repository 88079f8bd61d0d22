"""Fixed StructTypes for every stage (SURVEY.md §1.2).

The reference is stringly/dynamically typed (per-category dicts); the
rebuild pins one schema per stage so Catalyst can prune/pushdown and the
Arrow boundary is stable.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ocr_spark.core.fields import FIELD_NAMES

SPAN_TYPE = StructType(
    [StructField("start", IntegerType()), StructField("end", IntegerType())]
)

# What the extraction UDF returns per turn (FIXTURES.md §2 minus keys)
EXTRACT_STRUCT = StructType(
    [
        StructField("kind", StringType()),
        StructField("extracted_text", StringType()),
        StructField("spans", ArrayType(SPAN_TYPE)),
        StructField("blocks_kept", IntegerType()),
        StructField("blocks_dropped", IntegerType()),
        StructField("bytes_in", LongType()),
        StructField("bytes_out", LongType()),
    ]
)

OUTPUT_SCHEMA = StructType(
    [StructField("conv_id", StringType()), StructField("turn_idx", IntegerType())]
    + list(EXTRACT_STRUCT.fields)
)

# What udfs.fields_batch returns per pdf_like turn (core/fields.py)
FIELDS_SCHEMA = StructType(
    OUTPUT_SCHEMA.fields[:2] + [StructField(n, StringType()) for n in FIELD_NAMES]
)

# Per-partition lineage/metrics manifest (SURVEY.md §1.2)
MANIFEST_SCHEMA = StructType(
    [
        StructField("shard", IntegerType()),
        StructField("partition_id", IntegerType()),
        StructField("attempt", IntegerType()),
        StructField("n_turns", LongType()),
        StructField("n_convs", LongType()),
        StructField("blocks_kept", LongType()),
        StructField("blocks_dropped", LongType()),
        StructField("bytes_in", LongType()),
        StructField("bytes_out", LongType()),
        StructField("wall_ms", LongType()),
        StructField("status", StringType()),
    ]
)
