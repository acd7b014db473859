"""Config loader / validation-run surface (reference config.yaml
shape, incl. the exactly-two-sources invariant and manual-query
mode)."""

from __future__ import annotations

import glob
import os

import pytest

from validation_database_spark.config import load_config, run_validation
from validation_database_spark.sources import register_views


def _base_config(sf_dir, tmp_path):
    return {
        "databases": ["dbA", "dbB"],
        "data_type": "string",
        "check_column": "o_orderpriority",
        "unique_key": ["o_orderkey"],
        "threshold": 1,
        "dbA_table_name": "orders",
        "dbB_table_name": "orders",
        "dbA_source": {"format": "parquet", "path": sf_dir},
        "dbB_source": {"format": "parquet", "path": sf_dir},
        "output": str(tmp_path / "report.csv"),
    }


def test_identical_sources_reconcile_clean(spark, sf_dir, tmp_path):
    run = run_validation(spark, _base_config(sf_dir, tmp_path))
    assert run.result.missing_in_first.count() == 0
    assert run.result.missing_in_second.count() == 0
    assert run.result.differing.count() == 0
    # summary written (empty but with header), detail suppressed when empty
    assert glob.glob(os.path.join(str(tmp_path / "report.csv"), "*.csv"))
    assert not os.path.exists(str(tmp_path / "report.csv") + "_differing_values.csv")


def test_clean_run_removes_stale_detail(spark, tmp_path):
    """A detail CSV left under the prefix by an earlier run with
    differences must not survive a clean run next to its fresh
    summary: both files always describe the same run."""
    from validation_database_spark.operators.reconcile import reconcile
    from validation_database_spark.operators.report import write_reports

    def frame(rows):
        return spark.createDataFrame(rows, "id string, c string")

    prefix = str(tmp_path / "report.csv")
    detail = prefix + "_differing_values.csv"
    dirty = reconcile(
        frame([("1", "x"), ("2", "y")]), frame([("1", "x"), ("2", "z")]),
        check_column="c", mode="string",
    )
    write_reports(dirty, prefix, single_file=True)
    assert glob.glob(os.path.join(detail, "*.csv"))
    assert spark.read.option("header", True).csv(prefix).count() == 1

    clean = reconcile(frame([("1", "x")]), frame([("1", "x")]), check_column="c", mode="string")
    write_reports(clean, prefix, single_file=True)
    assert not os.path.exists(detail)
    summary = spark.read.option("header", True).csv(prefix)
    assert summary.columns == ["missing_in_db1", "missing_in_db2", "differing_values"]
    assert summary.count() == 0


def _summary_and_detail(spark, prefix):
    """(summary rows, detail rows or None) read back from the CSVs."""
    summary = spark.read.option("header", True).csv(prefix)
    detail_path = prefix + "_differing_values.csv"
    detail = None
    if os.path.exists(detail_path):
        detail = sorted(tuple(r) for r in spark.read.option("header", True).csv(detail_path).collect())
    return sorted(tuple(r) for r in summary.collect()), detail


def test_rewritten_source_gets_a_fresh_report(spark, tmp_path):
    """Runs in one process over the same source paths report what the
    files hold at each run: no cached rows of an earlier run reach a
    later report, and the runs leave nothing cached behind."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from validation_database_spark import util

    # start from an empty CacheManager so the final check sees only
    # what these runs leave behind
    util.release_pins()
    spark.catalog.clearCache()

    def write(db, rows):
        os.makedirs(tmp_path / db, exist_ok=True)
        table = pa.table({"k": [k for k, _ in rows], "c": [c for _, c in rows]})
        pq.write_table(table, str(tmp_path / db / "t.parquet"))

    prefix = str(tmp_path / "report.csv")
    cfg = {
        "databases": ["a", "b"],
        "data_type": "string",
        "check_column": "c",
        "unique_key": ["k"],
        "a_table_name": "t",
        "b_table_name": "t",
        "a_source": {"format": "parquet", "path": str(tmp_path / "a")},
        "b_source": {"format": "parquet", "path": str(tmp_path / "b")},
        "output": prefix,
    }
    write("a", [(1, "x"), (2, "y")])
    dirty = [(1, "x"), (2, "z")]
    dirty_report = (
        [(None, None, "{'id': '2', 'c_a': 'y', 'c_b': 'z'}")],
        [("2", "y", "z")],
    )
    clean = [(1, "x"), (2, "y"), (3, "w")]
    clean_report = ([("3", None, None)], None)
    for b_rows, report in [(dirty, dirty_report), (clean, clean_report)] * 2 + [(dirty, dirty_report)]:
        write("b", b_rows)
        run_validation(spark, cfg)
        assert _summary_and_detail(spark, prefix) == report
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    assert not util._PINNED


def test_log_counts_come_from_the_report_write(spark, tmp_path, monkeypatch):
    """With an output, the logged counts cost no count() job: they are
    the report write's own per-list counts, and a NULL id (whose summary
    cell is empty) still counts as a missing row."""
    first = spark.createDataFrame(
        [("1", "x"), ("2", "y"), ("3", "y"), ("4", "q")], "id string, check_col string"
    )
    second = spark.createDataFrame(
        [("1", "x"), ("2", "z"), ("3", "w"), (None, "n"), ("5", "v")],
        "id string, check_col string",
    )
    first.createOrReplaceTempView("log_counts_left")
    second.createOrReplaceTempView("log_counts_right")
    cfg = {
        "databases": ["left", "right"],
        "data_type": "string",
        "check_column": "check_col",
        "is_using_manual_queries": True,
        "queries": {
            "first_query": "SELECT * FROM log_counts_left",
            "second_query": "SELECT * FROM log_counts_right",
        },
        "output": str(tmp_path / "report.csv"),
        "log_directory": str(tmp_path / "logs"),
        "log_counts": True,
    }

    def no_count(self):
        raise AssertionError("count() job with an output set")

    monkeypatch.setattr(type(first), "count", no_count)
    run = run_validation(spark, cfg)
    assert run.counts == {"m1": 2, "m2": 1, "dv": 2}
    text = open(run.log_path).read()
    for line in ("IDs Missing in left: 2", "IDs Missing in right: 1", "Differing values: 2"):
        assert line in text
    assert text.index("result saved under") < text.index("IDs Missing in left")


def test_exactly_two_sources_enforced(spark, sf_dir, tmp_path):
    cfg = _base_config(sf_dir, tmp_path)
    cfg["databases"] = ["a", "b", "c"]
    with pytest.raises(ValueError, match="exactly two"):
        run_validation(spark, cfg)


@pytest.mark.parametrize(
    "key, value",
    [
        ("data_type", "decimal"),
        ("data_type", 3),
        ("threshold", -0.1),
        ("threshold", 1.5),
        ("threshold", "high"),
        ("threshold", float("nan")),
    ],
)
def test_bad_config_value_names_the_key(spark, sf_dir, tmp_path, key, value):
    cfg = _base_config(sf_dir, tmp_path)
    cfg[key] = value
    with pytest.raises(ValueError, match=f"'{key}'"):
        run_validation(spark, cfg)


def test_date_range_filter_applied(spark, sf_dir, tmp_path):
    cfg = _base_config(sf_dir, tmp_path)
    cfg.update(
        {
            "dbA_database_date_column": "o_orderdate",
            # dbB unfiltered → rows outside the range are "missing in A"
            "start_date": "1995-01-01",
            "end_date": "1996-01-01",
            "output": None,
        }
    )
    run = run_validation(spark, cfg)
    assert run.result.missing_in_first.count() > 0
    assert run.result.missing_in_second.count() == 0


def test_manual_query_mode(spark, sf_dir, tmp_path):
    register_views(spark, sf_dir)
    cfg = {
        "databases": ["left", "right"],
        "data_type": "integer",
        "check_column": "check_col",
        "is_using_manual_queries": True,
        "queries": {
            "first_query": (
                "SELECT CAST(o_orderkey AS STRING) AS id, "
                "CAST(o_totalprice AS STRING) AS check_col FROM orders"
            ),
            "second_query": (
                "SELECT CAST(o_orderkey AS STRING) AS id, "
                "CAST(o_totalprice + CASE WHEN o_orderkey % 100 = 0 THEN 1 ELSE 0 END "
                "AS STRING) AS check_col FROM orders WHERE o_orderkey % 97 <> 0"
            ),
        },
    }
    run = run_validation(spark, cfg)
    assert run.result.missing_in_first.count() == 0
    assert run.result.missing_in_second.count() > 0  # %97 rows dropped on the right
    assert run.result.differing.count() > 0          # %100 rows perturbed


def test_manual_query_mode_validates_config(spark):
    base = {
        "databases": ["left", "right"],
        "is_using_manual_queries": True,
        "check_column": "check_col",
        "queries": {"first_query": "SELECT 1", "second_query": "SELECT 1"},
    }
    for missing, patch in [
        ("queries.second_query", {"queries": {"first_query": "SELECT 1"}}),
        ("queries.first_query", {"queries": {"second_query": "SELECT 1"}}),
        ("check_column", {"check_column": None}),
        ("queries.first_query", {"queries": None}),
    ]:
        cfg = {**base, **patch}
        with pytest.raises(ValueError, match="manual-queries mode requires"):
            run_validation(spark, cfg)


def test_fuzzy_threshold_end_to_end(spark, sf_dir, tmp_path):
    register_views(spark, sf_dir)
    cfg = {
        "databases": ["x", "y"],
        "data_type": "string",
        "check_column": "check_col",
        "threshold": 0.9,
        "is_using_manual_queries": True,
        "queries": {
            "first_query": (
                "SELECT CAST(o_orderkey AS STRING) AS id, o_orderpriority AS check_col "
                "FROM orders"
            ),
            "second_query": (
                # %101 rows get one appended char → ratio just under 1,
                # above 0.9 → NOT reported at threshold 0.9
                "SELECT CAST(o_orderkey AS STRING) AS id, "
                "CASE WHEN o_orderkey % 101 = 0 THEN concat(o_orderpriority, 'X') "
                "WHEN o_orderkey % 103 = 0 THEN 'utterly-different' "
                "ELSE o_orderpriority END AS check_col FROM orders"
            ),
        },
    }
    run = run_validation(spark, cfg)
    reported = {r.id for r in run.result.differing.collect()}
    # the near-misses (one char appended to 6+-char strings) survive 0.9
    assert all(int(i) % 103 == 0 for i in reported)
    assert reported, "the utterly-different rows must be reported"


def test_credentials_dir_merges_into_sources(tmp_path):
    import json

    from validation_database_spark.config import (
        load_all_credentials,
        merge_credentials,
    )

    creds_dir = tmp_path / "creds"
    creds_dir.mkdir()
    (creds_dir / "pg.json").write_text(
        json.dumps({"format": "jdbc", "url": "jdbc:postgresql://h/db", "user": "u", "password": "p"})
    )
    (creds_dir / "ora.json").write_text(
        json.dumps({"format": "jdbc", "url": "jdbc:oracle:thin:@h", "user": "o"})
    )
    creds = load_all_credentials(str(creds_dir))
    assert set(creds) == {"pg", "ora"}

    cfg = {
        "databases": ["pg", "ora"],
        # config-level override wins over the cred file
        "pg_source": {"user": "override"},
    }
    merged = merge_credentials(cfg, creds)
    assert merged["pg_source"]["user"] == "override"
    assert merged["pg_source"]["url"] == "jdbc:postgresql://h/db"
    assert merged["ora_source"]["user"] == "o"


def test_missing_creds_dir_is_fine(tmp_path):
    from validation_database_spark.config import load_all_credentials

    assert load_all_credentials(str(tmp_path / "nope")) == {}


def test_reference_config_yaml_parses(tmp_path):
    """UX parity: the reference's own shipped config.yaml loads and
    validates with this engine's loader (its key names, including
    composite_id_columns, are first-class)."""
    import os

    import pytest as _pytest

    from validation_database_spark.config import _validate, load_config

    ref = "/root/reference/config.yaml"
    if not os.path.exists(ref):
        _pytest.skip("reference snapshot not present")
    cfg = load_config(ref)
    assert cfg["databases"] == ["oracle", "postgres"]
    assert cfg["check_column"] == "MODEL"
    assert cfg["composite_id_columns"] == ["ID"]
    assert cfg["data_type"] == "string"
    assert cfg["threshold"] == 1
    _validate(cfg)  # must not raise


def test_composite_id_columns_alias(spark, sf_dir):
    from validation_database_spark.config import run_validation

    cfg = {
        "databases": ["a", "b"],
        "data_type": "string",
        "check_column": "o_orderpriority",
        "composite_id_columns": ["o_orderkey", "o_custkey"],
        "a_table_name": "orders",
        "b_table_name": "orders",
        "a_source": {"format": "parquet", "path": sf_dir},
        "b_source": {"format": "parquet", "path": sf_dir},
    }
    run = run_validation(spark, cfg)
    assert run.result.differing.count() == 0
    # composite id actually used: ids contain the '_' separator
    sample = run.result.missing_in_first.unionByName(
        run.result.missing_in_second
    ).count()
    assert sample == 0


def test_run_log_narrates_stages_and_redacts_secrets(spark, sf_dir, tmp_path):
    cfg = {
        "databases": ["a", "b"],
        "data_type": "string",
        "check_column": "o_orderpriority",
        "composite_id_columns": ["o_orderkey"],
        "a_table_name": "orders",
        "b_table_name": "orders",
        "a_source": {"format": "parquet", "path": sf_dir, "password": "hunter2"},
        "b_source": {"format": "parquet", "path": sf_dir},
        "log_directory": str(tmp_path / "logs"),
        "log_counts": True,
    }
    run = run_validation(spark, cfg)
    assert run.log_path and os.path.exists(run.log_path)
    assert os.path.basename(run.log_path).startswith("data_validation_")
    text = open(run.log_path).read()
    # reference stage narration (running_validation.py INFO lines)
    for line in (
        "Starting Validate Data",
        "Processing Validate Missing Ids Done.",
        "Processing Validate Data Done",
        "IDs Missing in a: 0",
        "Differing values: 0",
    ):
        assert line in text
    # format: "<asctime> - INFO - <msg>"
    assert " - INFO - Starting Validate Data" in text
    # deliberate divergence: secrets never reach the log
    assert "hunter2" not in text
    assert "password: ***" in text


def test_athena_and_odps_source_specs(spark):
    from validation_database_spark.config import athena_odps_source

    cfg = {
        "databases": ["ali", "aws"],
        "batch_size": 5000,
        "aws_table_name": "orders",
        "ali_table_name": "orders",
        "aws_source": {
            "format": "athena",
            "region_name": "ap-southeast-1",
            "database": "lake",
            "output_location": "s3://bucket/athena-results/",
            "aws_access_key_id": "AKIA123",
            "aws_secret_access_key": "s3cr3t",
        },
        "ali_source": {
            "format": "odps",
            "endpoint": "http://service.odps.aliyun.com/api",
            "project_name": "proj",
            "access_id": "id1",
            "access_key": "k1",
        },
    }
    athena = athena_odps_source(cfg, "aws").reader_options()
    assert athena["url"] == "jdbc:awsathena://athena.ap-southeast-1.amazonaws.com:443"
    assert athena["driver"] == "com.simba.athena.jdbc.Driver"
    assert athena["S3OutputLocation"] == "s3://bucket/athena-results/"
    assert athena["Schema"] == "lake"
    assert athena["dbtable"] == "orders"
    assert athena["fetchsize"] == "5000"

    odps = athena_odps_source(cfg, "ali").reader_options()
    assert odps["url"] == "jdbc:odps:http://service.odps.aliyun.com/api?project=proj"
    assert odps["driver"] == "com.aliyun.odps.jdbc.OdpsDriver"
    assert odps["user"] == "id1"
