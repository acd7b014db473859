"""The CSV report sink (``operators/report.write_reports``): both files
read back against the reconcile result on edge-shaped inputs, the
fuzzy UDF's single run per write, and the per-thread pin scope the
sink stages its rows in."""

from __future__ import annotations

import difflib
import os
import threading

import pandas as pd
import pytest
from pyspark.sql import functions as F

from validation_database_spark import util
from validation_database_spark.operators import compare
from validation_database_spark.operators.reconcile import reconcile
from validation_database_spark.operators.report import write_reports


def _sorted(rows):
    return sorted(rows, key=lambda r: tuple((x is None, x or "") for x in r))


def _stringly(df, cols):
    return [tuple(r) for r in df.select(*[F.col(c).cast("string") for c in cols]).collect()]


# (first rows, first type, second rows, second type, mode, threshold)
CASES = {
    "fanout": (
        [("1", "a"), ("1", "b"), ("2", "x"), ("4", "d")], "string",
        [("1", "a"), ("1", "c"), ("2", "x"), ("3", "y")], "string",
        "string", 1.0,
    ),
    "null_one_side": (
        [("1", None), ("2", "p"), ("3", "q")], "string",
        [("1", "a"), ("2", None), ("3", "q")], "string",
        "string", 1.0,
    ),
    "null_both_sides": (
        [("1", None), ("2", None), ("3", "1")], "string",
        [("1", None), ("2", "7"), ("3", None)], "string",
        "integer", 1.0,
    ),
    "empty_side": (
        [], "string",
        [("1", "a"), ("2", "b")], "string",
        "string", 1.0,
    ),
    "integer": (
        [("1", "13"), ("2", "junk"), ("3", "5"), ("4", "7")], "string",
        [("1", "13.0"), ("2", "5"), ("3", "6"), ("5", "1")], "string",
        "integer", 1.0,
    ),
    "date": (
        [("1", "2020-01-01"), ("2", "2020-01-02"), ("3", "junk")], "string",
        [("1", "2020-01-01 00:00:00"), ("2", "2020-01-03"), ("3", "2020-01-04")], "string",
        "date", 1.0,
    ),
    "fuzzy": (
        [("1", "CTS-VS"), ("2", "Escalade ESV"), ("3", "model"), ("4", None)], "string",
        [("1", "CTS-V"), ("2", "Escalade ESVX"), ("3", "other"), ("4", "x")], "string",
        "string", 0.9,
    ),
    "bigint_vs_string": (
        [("1", 13), ("2", 5), ("3", None), ("4", 9)], "bigint",
        [("1", "13.0"), ("2", "6"), ("3", "junk"), ("5", "2")], "string",
        "integer", 1.0,
    ),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_reports_read_back_as_the_result(spark, tmp_path, case):
    """Each summary column holds its list's values (as a multiset: the
    row alignment is presentation only) and the detail holds exactly
    the differing pairs — or is absent when there are none."""
    rows1, t1, rows2, t2, mode, threshold = CASES[case]
    first = spark.createDataFrame(rows1, f"id string, c {t1}")
    second = spark.createDataFrame(rows2, f"id string, c {t2}")
    res = reconcile(first, second, check_column="c", mode=mode, threshold=threshold)
    prefix = str(tmp_path / "report.csv")
    counts = write_reports(res, prefix, single_file=True)

    summary = spark.read.option("header", True).csv(prefix)
    assert summary.columns == ["missing_in_db1", "missing_in_db2", "differing_values"]
    got = {c: _sorted([(r[0],) for r in summary.select(c).collect() if r[0] is not None])
           for c in summary.columns}

    def repr_(v):
        return "nan" if v is None else f"'{v}'"

    differing = _stringly(res.differing, ["id", "c_db1", "c_db2"])
    want = {
        "missing_in_db1": _sorted(_stringly(res.missing_in_first, ["id"])),
        "missing_in_db2": _sorted(_stringly(res.missing_in_second, ["id"])),
        "differing_values": _sorted(
            [(f"{{'id': '{i}', 'c_db1': {repr_(a)}, 'c_db2': {repr_(b)}}}",) for i, a, b in differing]
        ),
    }
    assert got == want
    lengths = [len(want[c]) for c in summary.columns]
    assert summary.count() == max(lengths)
    assert counts == dict(zip(("m1", "m2", "dv"), lengths))

    detail_path = prefix + "_differing_values.csv"
    if not differing:
        assert not os.path.exists(detail_path)
        return
    detail = spark.read.option("header", True).csv(detail_path)
    assert detail.columns == ["id", "c_db1", "c_db2"]
    assert _sorted([tuple(r) for r in detail.collect()]) == _sorted(differing)


def test_fuzzy_udf_runs_once_per_write(spark, tmp_path, monkeypatch):
    """The sink stages the reconcile result once: the fuzzy UDF sees
    each null-safe-unequal pair exactly once across the summary's
    range sampling, its exchange and the detail write."""
    seen = spark.sparkContext.accumulator(0)

    @F.pandas_udf("double")
    def counting_ratio(a: pd.Series, b: pd.Series) -> pd.Series:
        seen.add(len(a))

        def one(x, y):
            if pd.isna(x) and pd.isna(y):
                return 1.0
            if pd.isna(x) or pd.isna(y):
                return 0.0
            return difflib.SequenceMatcher(None, x, y).ratio()

        return pd.Series([one(x, y) for x, y in zip(a, b)], dtype="float64")

    monkeypatch.setattr(compare, "fuzzy_ratio_udf", lambda: counting_ratio)
    left = [(str(i), f"value-{i:04d}") for i in range(40)] + [("x1", "a"), ("x2", None)]
    right = (
        [(str(i), f"value-{i:04d}") for i in range(20)]
        + [(str(i), f"value-{i:04d}!") for i in range(20, 30)]  # near: ratio > 0.9
        + [(str(i), "something else") for i in range(30, 40)]
        + [("x2", "b"), ("y1", "c")]
    )
    res = reconcile(
        spark.createDataFrame(left, "id string, c string"),
        spark.createDataFrame(right, "id string, c string"),
        check_column="c", mode="string", threshold=0.9,
    )
    counts = write_reports(res, str(tmp_path / "report.csv"), single_file=True)
    unequal = 10 + 10 + 1  # near misses, different values, one-null pair
    assert seen.value == unequal
    assert counts == {"m1": 1, "m2": 1, "dv": 11}


def test_pin_scope_is_per_thread(spark):
    """A scope owns only the pins its own thread made inside it: one
    thread's scope exit leaves the other thread's pins, and a pin made
    outside any scope, cached."""

    def cached(df):
        level = df.storageLevel
        return level.useMemory or level.useDisk

    outside = util.pin(spark.range(7).withColumn("who", F.lit("outside")))
    frames = {}
    a_pinned, b_done = threading.Event(), threading.Event()
    observed = {}

    def thread_a():
        with util.pin_scope():
            frames["a"] = util.pin(spark.range(5).withColumn("who", F.lit("a")))
            a_pinned.set()
            b_done.wait(60)
            observed["a_after_b_exit"] = cached(frames["a"])
        observed["a_after_own_exit"] = cached(frames["a"])

    def thread_b():
        a_pinned.wait(60)
        with util.pin_scope():
            frames["b"] = util.pin(spark.range(6).withColumn("who", F.lit("b")))
            observed["b_inside"] = cached(frames["b"])
        observed["b_after_own_exit"] = cached(frames["b"])
        b_done.set()

    threads = [threading.Thread(target=thread_a), threading.Thread(target=thread_b)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(120)
        assert not t.is_alive()
    assert observed == {
        "b_inside": True,
        "b_after_own_exit": False,
        "a_after_b_exit": True,
        "a_after_own_exit": False,
    }
    assert cached(outside) and util._PINNED[-1] is outside
    util._PINNED.remove(outside)
    outside.unpersist(False)
