"""Iceberg integration (BASELINE.json north rule: "over Iceberg tables
... with explicit partition pruning on conv_id buckets").

The Iceberg runtime jar is not present in this sandbox, so everything
here is written against the public Iceberg-Spark SQL surface
(``system.bucket``, ``PARTITIONED BY (bucket(N, col))``) and degrades
explicitly: :func:`iceberg_available` probes the session, callers get a
clear error rather than a silent parquet fallback.

IMPORTANT transform note: Iceberg's ``bucket(N, col)`` partition
transform is a Murmur3-32 hash (Iceberg spec §Appendix B), which is NOT
the engine's default ``pmod(xxhash64(conv_id), N)`` bucket.  For verdict
buckets to line up with physical Iceberg partitions — which is what
turns the checkpoint's bucket-group filter into real partition pruning — build
the :class:`~filters_spark.engine.suite.ValidationSuite` with
``bucket_fn=iceberg_bucket_fn(spark)`` so both sides use Iceberg's own
transform.  On plain parquet the default xxhash64 bucket is fine (the
group filter is then a scan-level predicate, not partition pruning).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def iceberg_available(spark: SparkSession) -> bool:
    """True when an Iceberg catalog + SQL extensions are on the session
    (the ``system.bucket`` function resolves)."""
    try:
        spark.sql("SELECT system.bucket(4, 'probe')").collect()
        return True
    except Exception:
        return False


def iceberg_bucket_fn(spark: SparkSession):
    """Bucket function aligned with Iceberg's ``bucket(N, col)``
    partition transform, for ``ValidationSuite(bucket_fn=...)``.

    Raises ``RuntimeError`` when the Iceberg runtime is absent — callers
    must not silently fall back to a different transform, or verdict
    buckets would no longer match physical partitions.
    """
    if not iceberg_available(spark):
        raise RuntimeError(
            "Iceberg runtime not on this session: add the "
            "iceberg-spark-runtime jar and the IcebergSparkSessionExtensions "
            "SQL extension, or use the default xxhash64 bucket_fn on parquet"
        )

    def fn(conv_col: Column, n_buckets: int) -> Column:
        # call_function keeps this Connect-compatible (no _jc) and works
        # for arbitrary Column expressions, not just bare references
        return F.call_function(
            "system.bucket", F.lit(n_buckets), conv_col
        )

    return fn


def transcripts_ddl(
    table: str, n_buckets: int = 64, location: str | None = None
) -> str:
    """DDL for the transcripts table with bucket partitioning on conv_id
    (BASELINE.json input_hint schema)."""
    loc = f"\nLOCATION '{location}'" if location else ""
    return (
        f"CREATE TABLE IF NOT EXISTS {table} (\n"
        "  conv_id  STRING,\n"
        "  turn_idx INT,\n"
        "  role     STRING,\n"
        "  text     STRING,\n"
        "  tool     STRING,\n"
        "  ts       TIMESTAMP\n"
        ") USING iceberg\n"
        f"PARTITIONED BY (bucket({n_buckets}, conv_id)){loc}\n"
        "TBLPROPERTIES ('write.distribution-mode'='hash')"
    )


def read_transcripts(
    spark: SparkSession, ref: str, fmt: str = "parquet"
) -> DataFrame:
    """Load the transcripts input: ``fmt='iceberg'`` reads the catalog
    table (column pruning + predicate/partition pushdown via DSv2),
    ``'parquet'`` reads a path."""
    if fmt == "iceberg":
        return spark.read.table(ref)
    if fmt == "parquet":
        return spark.read.parquet(ref)
    raise ValueError(f"unknown format {fmt!r}")

