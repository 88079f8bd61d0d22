"""End-to-end walkthrough of the engine on synthetic transcripts.

    python examples/run_pipeline.py [sf]

Generates a deterministic transcript table, runs the full extraction
job (salted repartition → Arrow-batch extract → output + lineage
manifest), extracts document fields from the pdf_like turns, pivots
them per conversation, runs the dedup family over the extracted text,
and prints a small report. Everything here is the same code the tests
and the driver contract exercise.
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from ocr_spark.fixtures import transcripts_fixture_path  # noqa: E402
from ocr_spark.job import extract_transcripts, run_extraction  # noqa: E402
from ocr_spark.operators.conversation import conv_rollup, transaction_pivot  # noqa: E402
from ocr_spark.operators.dedup import dedup_exact, minhash_lsh_dedup  # noqa: E402
from ocr_spark.plans.session import build_session  # noqa: E402
from ocr_spark.schema import FIELDS_SCHEMA  # noqa: E402
from ocr_spark.udfs import fields_batch, map_batches  # noqa: E402


def main() -> None:
    sf = float(sys.argv[1]) if len(sys.argv) > 1 else 0.001
    spark = build_session("ocr_spark-example")
    src = transcripts_fixture_path(sf)
    work = tempfile.mkdtemp(prefix="ocr_spark_example_")

    print(f"== extraction job over {src}")
    summary = run_extraction(
        spark, src, os.path.join(work, "out"),
        checkpoint_dir=os.path.join(work, "ckpt"), n_shards=2,
    )
    print("job summary:", summary)
    out = spark.read.parquet(os.path.join(work, "out"))
    out.groupBy("kind").agg(
        F.count("*").alias("turns"),
        F.sum("bytes_in").alias("bytes_in"),
        F.sum("bytes_out").alias("bytes_out"),
    ).orderBy("kind").show()

    print("== document fields (pdf_like turns) + transaction pivot")
    ext = extract_transcripts(spark.read.parquet(src)).filter(F.col("kind") == "pdf_like")
    fields = map_batches(
        ext.select("conv_id", "turn_idx", "extracted_text"), fields_batch, FIELDS_SCHEMA
    )
    fields.select("conv_id", "category", "vehicle_no", "doc_date", "quantity").show(
        5, truncate=40
    )
    transaction_pivot(fields).select(
        "conv_id", "n_docs", "category", "vehicle_no", "total_qty"
    ).show(5, truncate=40)

    print("== conversation rollup")
    conv_rollup(spark.read.parquet(src)).orderBy(F.col("n_turns").desc()).show(5)

    print("== dedup over extracted text")
    docs = out.select(
        F.concat_ws("#", "conv_id", F.col("turn_idx").cast("string")).alias("doc_id"),
        F.col("extracted_text").alias("text"),
    ).filter(F.length("text") > 0)
    print("exact-dup groups with >1 member:",
          dedup_exact(docs).filter(F.col("n_dups") > 1).count())
    print("minhash-lsh near-dup pairs (j>=0.5):",
          minhash_lsh_dedup(docs).count())
    spark.stop()


if __name__ == "__main__":
    main()
