"""Source/sink abstraction (SURVEY.md §2.1)."""

from ocr_spark.sources.io import (
    load_table,
    read_input,
    write_output,
)

__all__ = ["read_input", "write_output", "load_table"]
