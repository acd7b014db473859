"""Streaming materialized-view maintenance ≡ the batch incremental
aggregate, batch-split-invariant, and idempotent under replay.

The delta stream is the SAME deterministic delta the oracle-checked
``unit_incr_agg`` derives (inserts = orders on/after the cut date,
deletes = %97 base orders with before-image), split into two files so
``maxFilesPerTrigger=1`` applies them in separate micro-batches. The
final streamed view must equal the batch operator's output (modulo its
fixture-only ``touched`` audit column) row-for-row; a restart from the
same checkpoint with no new input must change nothing."""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from validation_database_spark.sources import load_table
from validation_database_spark.streaming.validation import (
    latest_mv_snapshot,
    streaming_mv_maintain,
)
from validation_database_spark.suite.pipeline import (
    INCR_CUT,
    INCR_DEL_MOD,
    q_incr_agg,
)


def _sorted_rows(df):
    return sorted(map(tuple, df.collect()), key=repr)


def test_streaming_mv_equals_batch_incremental_and_replays_idempotently(
    spark, sf_dir, tmp_path
):
    orders = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"
    )
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    base = orders.filter(F.col("o_orderdate") < INCR_CUT)

    view0 = str(tmp_path / "view0")
    base.groupBy("o_custkey").agg(
        F.count("*").alias("n_orders"), F.sum(cents).alias("sum_cents")
    ).write.parquet(view0)

    deletes = base.filter(F.col("o_orderkey") % INCR_DEL_MOD == 0).select(
        "o_custkey", F.lit(-1).cast("bigint").alias("dn"), (-cents).alias("dc")
    )
    inserts = orders.filter(F.col("o_orderdate") >= INCR_CUT).select(
        "o_custkey", F.lit(1).cast("bigint").alias("dn"), cents.alias("dc")
    )
    src = str(tmp_path / "deltas")
    deletes.coalesce(1).write.mode("append").parquet(src)
    time.sleep(0.05)  # distinct mtimes → file source preserves order
    inserts.coalesce(1).write.mode("append").parquet(src)
    schema = spark.read.parquet(src).schema

    out = str(tmp_path / "views")
    ckpt = str(tmp_path / "ckpt")
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    q = streaming_mv_maintain(spark, stream, view0, out, "o_custkey", ckpt)
    q.awaitTermination(120)
    assert not q.isActive

    got = latest_mv_snapshot(spark, out)
    expected = q_incr_agg(spark, sf_dir).select(
        F.col("custkey").alias("o_custkey"), "n_orders", "sum_cents"
    )
    assert _sorted_rows(got) == _sorted_rows(expected)

    # two micro-batches really happened (delete wave, insert wave)
    versions = sorted(d for d in os.listdir(out) if d.startswith("v"))
    assert len(versions) >= 2

    # restart from the same checkpoint, no new files: no new versions,
    # view unchanged (idempotent replay).
    stream2 = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    q2 = streaming_mv_maintain(spark, stream2, view0, out, "o_custkey", ckpt)
    q2.awaitTermination(120)
    assert sorted(os.listdir(out)) == sorted(versions)
    assert _sorted_rows(latest_mv_snapshot(spark, out)) == _sorted_rows(expected)


def test_latest_mv_snapshot_without_a_commit_names_dir_and_marker(spark, tmp_path):
    """A directory whose only version was never sealed (the job died
    mid-batch) has no committed snapshot: the reader must say so by
    name, not fail on an empty version list."""
    out = tmp_path / "out"
    (out / "v0").mkdir(parents=True)
    with pytest.raises(ValueError, match="_MV_COMMITTED") as err:
        latest_mv_snapshot(spark, str(out))
    assert str(out) in str(err.value)
