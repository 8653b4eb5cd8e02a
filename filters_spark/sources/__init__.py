"""Table sources/sinks for the validation engine (parquet + Iceberg)."""

from filters_spark.sources.iceberg import (
    iceberg_available,
    iceberg_bucket_fn,
    read_transcripts,
    transcripts_ddl,
)

__all__ = [
    "iceberg_available",
    "iceberg_bucket_fn",
    "read_transcripts",
    "transcripts_ddl",
]
