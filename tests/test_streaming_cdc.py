"""Streaming CDC apply ≡ batch CDC merge, and idempotent under
checkpoint-recovery replay.

The change-log is the SAME deterministic three-wave log the
oracle-checked ``unit_cdc_merge`` builds (update %7 / delete %21 /
re-insert %42 on customer), split into sequential files so
``maxFilesPerTrigger=1`` applies the waves in separate micro-batches.
The final streamed snapshot must equal the batch operator's output
row-for-row; a second run from the same checkpoint (no new files)
must change nothing."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from validation_database_spark.sources import load_table
from validation_database_spark.streaming.validation import (
    latest_cdc_snapshot,
    streaming_cdc_apply,
)
from validation_database_spark.suite.pipeline import q_cdc_merge


def _change_waves(cust):
    upd = cust.filter(F.col("c_custkey") % 7 == 0).select(
        "c_custkey",
        "c_name",
        F.round(F.col("c_acctbal") + 10.0, 2).alias("c_acctbal"),
        F.lit("CDC1").alias("c_mktsegment"),
        F.lit(1).alias("seq"),
        F.lit("U").alias("op"),
    )
    dele = cust.filter(F.col("c_custkey") % 21 == 0).select(
        "c_custkey",
        F.lit(None).cast("string").alias("c_name"),
        F.lit(None).cast("double").alias("c_acctbal"),
        F.lit(None).cast("string").alias("c_mktsegment"),
        F.lit(2).alias("seq"),
        F.lit("D").alias("op"),
    )
    reins = cust.filter(F.col("c_custkey") % 42 == 0).select(
        "c_custkey",
        "c_name",
        F.lit(0.0).alias("c_acctbal"),
        F.lit("CDC3").alias("c_mktsegment"),
        F.lit(3).alias("seq"),
        F.lit("U").alias("op"),
    )
    return upd, dele.unionByName(reins)


def _sorted_rows(df):
    return sorted(map(tuple, df.collect()), key=repr)


def test_streaming_cdc_equals_batch_merge_and_replays_idempotently(
    spark, sf_dir, tmp_path
):
    cust = load_table(spark, "customer", sf_dir).select(
        "c_custkey", "c_name", "c_acctbal", "c_mktsegment"
    )
    snap0 = str(tmp_path / "snap0")
    src = str(tmp_path / "changes")
    out = str(tmp_path / "snapshots")
    ckpt = str(tmp_path / "ckpt")
    cust.write.parquet(snap0)

    wave1, wave23 = _change_waves(cust)
    wave1.coalesce(1).write.mode("append").parquet(src)
    time.sleep(0.05)  # distinct mtimes → file-source processes in order
    wave23.coalesce(1).write.mode("append").parquet(src)
    schema = spark.read.parquet(src).schema

    changes = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = streaming_cdc_apply(spark, changes, snap0, out, "c_custkey", ckpt)
    q.awaitTermination(120)
    assert not q.isActive

    got = latest_cdc_snapshot(spark, out)
    expected = q_cdc_merge(spark, sf_dir)
    assert _sorted_rows(got) == _sorted_rows(expected)

    # restart from the same checkpoint with no new input: nothing to
    # apply, no new versions, snapshot unchanged (idempotent replay).
    import os

    versions_before = sorted(os.listdir(out))
    changes2 = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q2 = streaming_cdc_apply(spark, changes2, snap0, out, "c_custkey", ckpt)
    q2.awaitTermination(120)
    assert sorted(os.listdir(out)) == versions_before
    assert _sorted_rows(latest_cdc_snapshot(spark, out)) == _sorted_rows(expected)


def test_latest_cdc_snapshot_without_a_commit_names_dir_and_marker(spark, tmp_path):
    """A directory whose only version was never sealed (the job died
    mid-batch) has no committed snapshot: the reader must say so by
    name, not fail on an empty version list."""
    out = tmp_path / "out"
    (out / "v0").mkdir(parents=True)
    with pytest.raises(ValueError, match="_CDC_COMMITTED") as err:
        latest_cdc_snapshot(spark, str(out))
    assert str(out) in str(err.value)
