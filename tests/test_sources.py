"""Source-layer tests: parquet path, Iceberg gating."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from filters_spark.sources import (
    iceberg_available,
    iceberg_bucket_fn,
    read_transcripts,
    transcripts_ddl,
)


def test_transcripts_ddl_shape():
    ddl = transcripts_ddl("cat.db.transcripts", n_buckets=32, location="/x")
    assert "USING iceberg" in ddl
    assert "PARTITIONED BY (bucket(32, conv_id))" in ddl
    assert "LOCATION '/x'" in ddl
    assert "conv_id  STRING" in ddl


def test_iceberg_gating(spark):
    # this sandbox ships no Iceberg runtime: the probe must say so and
    # the bucket_fn must refuse loudly instead of silently diverging
    assert iceberg_available(spark) is False
    with pytest.raises(RuntimeError, match="Iceberg runtime"):
        iceberg_bucket_fn(spark)


def test_read_transcripts_parquet(spark, tmp_path):
    df = spark.range(10).select(
        F.format_string("c%d", F.col("id")).alias("conv_id"),
        F.lit(0).alias("turn_idx"),
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "t"))
    got = read_transcripts(spark, str(tmp_path / "t"), "parquet")
    assert got.count() == 10
    with pytest.raises(ValueError):
        read_transcripts(spark, "x", "csvish")

