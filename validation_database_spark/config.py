"""Config surface: the reference's ``config.yaml`` shape, loaded and
executed against Spark.

The reference's CLI (``python config.py config.yaml``, reference
config.py:13-71) reads a YAML config + per-database JSON credentials
and runs one validation. This module keeps that UX:

- the same keys: ``databases`` (exactly two, reference
  running_validation.py:614-615), ``data_type``, ``check_column``,
  ``unique_key``, ``threshold``, ``start_date``/``end_date``,
  ``{db}_table_name``, ``{db}_database_date_column``, ``output``;
- ``is_using_manual_queries`` + ``queries.first_query/second_query``
  — dead keys in the reference (an older build had the branch, see
  its logs) — are resurrected here as a ``spark.sql`` passthrough;
- per-db source config generalizes the four hard-wired connectors: a
  ``{db}_source`` block selects ``parquet`` (path) or ``jdbc``
  (url/credentials), replacing reference running_validation.py:568-611.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Any

import yaml
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.compare import MODES
from .operators.keys import composite_id
from .operators.reconcile import ReconcileResult, reconcile
from .operators.report import write_reports
from .sources.registry import JdbcSource, load_table


def load_config(path: str) -> dict[str, Any]:
    with open(path) as f:
        config = yaml.safe_load(f)
    if not isinstance(config, dict):
        raise ValueError(f"config {path} did not parse to a mapping")
    return config


def load_all_credentials(creds_dir: str) -> dict[str, Any]:
    """Load every ``<name>.json`` under ``creds_dir`` keyed by file
    stem — the reference's credential convention (reference
    config.py:29-54: one JSON per database, merged into the config).
    Missing directory → empty dict (credentials are optional for
    parquet sources)."""
    import json

    creds: dict[str, Any] = {}
    if not os.path.isdir(creds_dir):
        return creds
    for fname in sorted(os.listdir(creds_dir)):
        if fname.endswith(".json"):
            with open(os.path.join(creds_dir, fname)) as f:
                creds[fname[: -len(".json")]] = json.load(f)
    return creds


def merge_credentials(config: dict[str, Any], creds: dict[str, Any]) -> dict[str, Any]:
    """Fold per-db credentials into the matching ``{db}_source``
    blocks (jdbc user/password/url come from the cred file unless the
    config overrides them)."""
    merged = dict(config)
    for db in merged.get("databases", []):
        if db in creds:
            src = dict(creds[db])
            src.update(merged.get(f"{db}_source", {}) or {})
            merged[f"{db}_source"] = src
    return merged


def _validate(config: dict[str, Any]) -> None:
    databases = config.get("databases")
    if not isinstance(databases, list) or len(databases) != 2:
        # reference running_validation.py:614-615
        raise ValueError("exactly two entries required in 'databases'")
    if config.get("is_using_manual_queries"):
        queries = config.get("queries") or {}
        for key in ("first_query", "second_query"):
            if not queries.get(key):
                raise ValueError(
                    f"manual-queries mode requires 'queries.{key}'"
                )
        if not config.get("check_column"):
            raise ValueError("manual-queries mode requires 'check_column'")
    else:
        for key in ("check_column", "data_type"):
            if not config.get(key):
                raise ValueError(f"missing required config key {key!r}")
        if not _key_columns(config):
            raise ValueError(
                "missing required config key 'composite_id_columns' (or 'unique_key')"
            )
    data_type = config.get("data_type", "string")
    if str(data_type).lower() not in MODES:
        raise ValueError(
            f"config key 'data_type' must be one of {MODES}, got {data_type!r}"
        )
    threshold = config.get("threshold", 1.0)
    try:
        in_range = 0.0 <= float(threshold) <= 1.0
    except (TypeError, ValueError):
        in_range = False
    if not in_range:
        raise ValueError(
            f"config key 'threshold' must be a number in [0, 1], got {threshold!r}"
        )


def _key_columns(config: dict[str, Any]) -> list[str] | None:
    """The reference's key name is ``composite_id_columns``
    (reference config.yaml:19); ``unique_key`` is accepted as an
    alias. A scalar names one column (``unique_key: o_orderkey``)."""
    keys = config.get("composite_id_columns") or config.get("unique_key")
    return [keys] if isinstance(keys, str) else keys


def _source_df(spark: SparkSession, config: dict[str, Any], db: str) -> DataFrame:
    src = config.get(f"{db}_source", {}) or {}
    fmt = src.get("format", "parquet")
    table = config.get(f"{db}_table_name")
    if fmt == "parquet":
        sf_dir = src.get("path") or config.get("sf_dir")
        if table is None or sf_dir is None:
            raise ValueError(f"{db}: parquet source needs {db}_table_name and a path")
        return load_table(spark, table, sf_dir)
    if fmt == "jdbc":
        return JdbcSource(
            url=src["url"],
            dbtable=table,
            user=src.get("user"),
            password=src.get("password"),
            fetchsize=int(config.get("batch_size", 10_000)),
            driver=src.get("driver"),
        ).load(spark)
    if fmt in ("athena", "odps"):
        return athena_odps_source(config, db).load(spark)
    raise ValueError(f"{db}: unknown source format {fmt!r}")


def athena_odps_source(config: dict[str, Any], db: str) -> JdbcSource:
    """Map the reference's Athena / MaxCompute credential shapes onto
    JDBC reader specs.

    The reference drives Athena through boto3 (query, database,
    output_location, region_name, aws keys — running_validation.py:123-180)
    and MaxCompute through the ODPS SDK (access_id, access_key,
    project_name, endpoint — :182-212). Spark's native equivalents are
    the engines' public JDBC drivers, whose URL shapes are documented
    by AWS ("jdbc:awsathena://athena.<region>.amazonaws.com:443" with
    an S3OutputLocation property) and Alibaba
    ("jdbc:odps:<endpoint>?project=<name>"). This builds the complete
    spec from the same credential keys the reference's creds/*.json
    carry; executing it additionally needs the vendor jar on the
    classpath (not shipped in this image — the Derby-backed
    tests/test_jdbc_live.py proves the execution path itself).

    For Athena, note the usually-better alternative: the data behind
    an Athena table is parquet/ORC on S3, which ``spark.read`` scans
    directly without an Athena query in the middle — that is the
    ``parquet`` source path with an ``s3a://`` location.
    """
    src = config.get(f"{db}_source", {}) or {}
    fmt = src.get("format")
    fetch = int(config.get("batch_size", 10_000))
    if fmt == "athena":
        region = src["region_name"]
        return JdbcSource(
            url=f"jdbc:awsathena://athena.{region}.amazonaws.com:443",
            dbtable=config.get(f"{db}_table_name"),
            user=src.get("aws_access_key_id"),
            password=src.get("aws_secret_access_key"),
            fetchsize=fetch,
            driver="com.simba.athena.jdbc.Driver",
            extra={
                "S3OutputLocation": src["output_location"],
                **({"Schema": src["database"]} if src.get("database") else {}),
            },
        )
    return JdbcSource(
        url=f"jdbc:odps:{src['endpoint']}?project={src['project_name']}",
        dbtable=config.get(f"{db}_table_name"),
        user=src.get("access_id"),
        password=src.get("access_key"),
        fetchsize=fetch,
        driver="com.aliyun.odps.jdbc.OdpsDriver",
    )


def _require_columns(df: DataFrame, columns: list[str], source: str) -> None:
    """Raise a ``ValueError`` naming ``source``, the column and the
    available columns when a configured column is absent from ``df``,
    instead of the raw ``AnalysisException`` a select would raise.
    Reads the schema only (zero Spark jobs); a dotted name is checked
    by its top-level field, and names match the way the session
    resolves them (case-insensitively unless spark.sql.caseSensitive)."""
    have = df.columns
    exact = df.sparkSession.conf.get("spark.sql.caseSensitive", "false") == "true"
    fold = (lambda c: c) if exact else str.lower
    known = {fold(c) for c in have}
    for col in columns:
        if fold(str(col).split(".")[0]) not in known:
            raise ValueError(
                f"{source}: column {col!r} not found; available columns: {have}"
            )


def _project(
    df: DataFrame, config: dict[str, Any], db: str
) -> DataFrame:
    """The generated-SQL projection (reference ops 9-11): composite id
    + check column, with the optional strictly-exclusive date range."""
    key_cols = _key_columns(config)
    check = config["check_column"]
    date_col = config.get(f"{db}_database_date_column")
    start, end = config.get("start_date"), config.get("end_date")
    dated = bool(date_col and start and end)
    _require_columns(df, [*key_cols, check, *([date_col] if dated else [])], db)
    out = df.select(
        composite_id(key_cols).alias("id"), F.col(check).alias(check)
    )
    if dated:
        lo = F.lit(f"{start} 00:00:00").cast("timestamp")
        hi = F.lit(f"{end} 00:00:00").cast("timestamp")
        out = df.filter((F.col(date_col) > lo) & (F.col(date_col) < hi)).select(
            composite_id(key_cols).alias("id"), F.col(check).alias(check)
        )
    return out


@dataclass
class ValidationRun:
    result: ReconcileResult
    output: str | None
    log_path: str | None = None
    # list lengths {"m1", "m2", "dv"}: from the report write when
    # ``output`` is set, else only when ``log_counts`` asked for them
    counts: dict[str, int] | None = None


def _count_results(result: ReconcileResult) -> dict[str, int]:
    """The three list lengths by one ``count()`` job each — for runs
    without a report write, whose ``Observation`` counts them free."""
    return {
        "m1": result.missing_in_first.count(),
        "m2": result.missing_in_second.count(),
        "dv": result.differing.count(),
    }


def run_validation(spark: SparkSession, config: dict[str, Any]) -> ValidationRun:
    """Execute one configured validation (the reference's ``main``,
    running_validation.py:456-654) and optionally write the two CSV
    reports.

    When ``log_directory`` is set, a timestamped run log narrates the
    stages the reference's log files do (running_validation.py:14-28
    and the INFO lines throughout) — source parameters with secrets
    redacted, validation phases, report writes. Stage lines do NOT
    force extra Spark jobs (the DAG stays lazy); set
    ``log_counts: true`` to also log the three result counts the
    reference's eager pandas run printed. With ``output`` set they come
    from the report write at no extra job and are logged after it;
    without, each costs one ``count()`` job.
    """
    from .observability import NullLogger, make_run_logger, redact

    _validate(config)
    log_dir = config.get("log_directory")
    log = make_run_logger(log_dir) if log_dir else NullLogger()
    log.info("Successfully loaded configuration")
    db1, db2 = config["databases"]

    if config.get("is_using_manual_queries"):
        queries = config.get("queries", {})
        log.info("manual-queries mode: executing configured SQL")
        log.info(f"first_query:\n{queries['first_query']}")
        log.info(f"second_query:\n{queries['second_query']}")
        first = spark.sql(queries["first_query"])
        second = spark.sql(queries["second_query"])
        check = config["check_column"]
        _require_columns(first, ["id", check], f"{db1} (queries.first_query)")
        _require_columns(second, ["id", check], f"{db2} (queries.second_query)")
    else:
        for db in (db1, db2):
            src = redact(dict(config.get(f"{db}_source", {}) or {}))
            log.info(f"Try to connect database {db}....")
            for k, v in src.items():
                log.info(f"{k}: {v}")
            log.info(f"table: {config.get(f'{db}_table_name')}")
        first = _project(_source_df(spark, config, db1), config, db1)
        second = _project(_source_df(spark, config, db2), config, db2)
        check = config["check_column"]

    log.info("Starting Validate Data")
    result = reconcile(
        first,
        second,
        check_column=check,
        mode=config.get("data_type", "string"),
        db1=db1,
        db2=db2,
        threshold=float(config.get("threshold", 1.0)),
    )
    log.info("Processing Validate Missing Ids Done.")
    log.info("Processing Validate Data Done")
    output = config.get("output")
    counts = None
    if output:
        log.info("saving result to csv file ........")
        counts = write_reports(
            result, output, single_file=bool(config.get("single_file", True))
        )
        log.info(f"result saved under {output}")
    if config.get("log_counts"):
        counts = counts or _count_results(result)
        log.info(f"IDs Missing in {db1}: {counts['m1']}")
        log.info(f"IDs Missing in {db2}: {counts['m2']}")
        log.info(f"Differing values: {counts['dv']}")
    return ValidationRun(result, output, getattr(log, "log_path", None), counts)


def main(argv: list[str] | None = None) -> int:
    import sys

    argv = argv if argv is not None else sys.argv[1:]
    if len(argv) != 1:
        print("usage: python -m validation_database_spark.config <config.yaml>")
        return 1
    from .session import get_spark

    config = load_config(argv[0])
    creds_dir = config.get("creds_dir") or os.path.join(
        os.path.dirname(os.path.abspath(argv[0])), "creds"
    )
    config = merge_credentials(config, load_all_credentials(creds_dir))
    spark = get_spark(app_name="validation_database_spark")
    run = run_validation(spark, config)
    r = run.result
    counts = run.counts or _count_results(r)
    print(
        f"missing in {r.db1}: {counts['m1']}; missing in {r.db2}: {counts['m2']}; "
        f"differing: {counts['dv']}"
        + (f"; reports under {run.output}" if run.output else "")
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
