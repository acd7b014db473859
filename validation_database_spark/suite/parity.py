"""Reference-parity queries (SURVEY.md §2 ops 9-21).

Each query re-expresses one reference operator as an idiomatic Spark
DataFrame plan over the deterministic derived pair in
``fixtures.py``, with a matching DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..fixtures import pair_cte, validation_pair
from ..operators.compare import coerce_check
from ..operators.keys import composite_id
from ..operators.reconcile import join_pairs, missing_ids, reconcile
from ..operators.report import report_summary
from ..sources import load_table
from . import QuerySpec


# --- op-9: composite-key canonicalization ------------------------------

def q_composite_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-column composite key with a NULL part → '0' substitution
    (reference running_validation.py:471-476). The NULL part is
    derived deterministically (custkey % 11 == 0 → NULL)."""
    orders = load_table(spark, "orders", sf_dir)
    nullable_cust = F.when(F.col("o_custkey") % 11 == 0, F.lit(None)).otherwise(
        F.col("o_custkey")
    )
    return orders.select(
        F.col("o_orderkey"),
        composite_id([F.col("o_orderkey"), nullable_cust]).alias("id"),
    )


ORACLE_COMPOSITE_ID = """
SELECT o_orderkey,
       concat(
         CAST(coalesce(CAST(o_orderkey AS STRING), '0') AS STRING), '_',
         CAST(coalesce(CAST(CASE WHEN o_custkey % 11 = 0 THEN NULL ELSE o_custkey END
                            AS STRING), '0') AS STRING)
       ) AS id
FROM orders
"""


# --- op-10: projection of id + check (+ formatted date) ----------------

def q_project_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SELECT <id_expr> AS id, <check> , TO_CHAR(date) AS formatted_date
    (reference running_validation.py:489-524)."""
    orders = load_table(spark, "orders", sf_dir)
    return orders.select(
        composite_id(["o_orderkey"]).alias("id"),
        F.col("o_orderpriority").alias("check_col"),
        F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss").alias("formatted_date"),
    )


ORACLE_PROJECT_CHECK = """
SELECT CAST(coalesce(CAST(o_orderkey AS STRING), '0') AS STRING) AS id,
       o_orderpriority AS check_col,
       strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS formatted_date
FROM orders
"""


def q_keys_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ops 9+10+14 in one driver-checked query over orders: the
    composite key with the NULL→'0' substitution, the reference's
    id/check/formatted_date select list, and the op-14 global sort
    materialized as ``sort_rank`` — computed with the scalable
    two-pass group-less grouped_row_number (range partition + local
    rank + offsets), never a single-partition window."""
    from ..operators.report import grouped_row_number

    orders = load_table(spark, "orders", sf_dir)
    nullable_cust = F.when(F.col("o_custkey") % 11 == 0, F.lit(None)).otherwise(
        F.col("o_custkey")
    )
    projected = orders.select(
        F.col("o_orderkey"),
        composite_id([F.col("o_orderkey"), nullable_cust]).alias("composite_key"),
        composite_id(["o_orderkey"]).alias("id"),
        F.col("o_orderpriority").alias("check_col"),
        F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss").alias("formatted_date"),
    )
    return grouped_row_number(projected, [], "id", rn_col="sort_rank")


ORACLE_KEYS_PROJECTION = """
SELECT o_orderkey,
       concat(
         CAST(coalesce(CAST(o_orderkey AS STRING), '0') AS STRING), '_',
         CAST(coalesce(CAST(CASE WHEN o_custkey % 11 = 0 THEN NULL ELSE o_custkey END
                            AS STRING), '0') AS STRING)
       ) AS composite_key,
       CAST(coalesce(CAST(o_orderkey AS STRING), '0') AS STRING) AS id,
       o_orderpriority AS check_col,
       strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS formatted_date,
       row_number() OVER (ORDER BY CAST(o_orderkey AS STRING)) AS sort_rank
FROM orders
"""


# --- op-11: strictly-exclusive date-range filter -----------------------

DATE_START = "1995-01-01"
DATE_END = "1996-01-01"


def q_filter_date_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHERE date > '<start> 00:00:00' AND date < '<end> 00:00:00' —
    strictly exclusive on both ends, midnight-anchored (reference
    running_validation.py:495-496). Pushed to the parquet scan by
    Catalyst (PushedFilters in the physical plan)."""
    orders = load_table(spark, "orders", sf_dir)
    lo = F.lit(f"{DATE_START} 00:00:00").cast("timestamp")
    hi = F.lit(f"{DATE_END} 00:00:00").cast("timestamp")
    return orders.filter(
        (F.col("o_orderdate") > lo) & (F.col("o_orderdate") < hi)
    ).select(
        composite_id(["o_orderkey"]).alias("id"),
        F.col("o_orderdate").alias("month_id"),
    )


ORACLE_FILTER_DATE_RANGE = f"""
SELECT CAST(o_orderkey AS STRING) AS id, o_orderdate AS month_id
FROM orders
WHERE o_orderdate > TIMESTAMP '{DATE_START} 00:00:00'
  AND o_orderdate < TIMESTAMP '{DATE_END} 00:00:00'
"""


# --- op-12: bidirectional missing-id anti-joins ------------------------

def q_missing_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both directions in one result: (id, missing_in) where
    missing_in ∈ {'a','b'} — the reference's two ``~isin`` scans
    (running_validation.py:225-226) as two left_anti joins."""
    src_a, src_b = validation_pair(spark, sf_dir, "string")
    m_in_a, m_in_b = missing_ids(src_a, src_b)
    return m_in_a.select("id", F.lit("a").alias("missing_in")).unionAll(
        m_in_b.select("id", F.lit("b").alias("missing_in"))
    )


def _oracle_missing_ids(mode: str = "string") -> str:
    return f"""
{pair_cte(mode)}
SELECT id, 'a' AS missing_in FROM src_b b
WHERE NOT EXISTS (SELECT 1 FROM src_a a WHERE a.id = b.id)
UNION ALL
SELECT id, 'b' AS missing_in FROM src_a a
WHERE NOT EXISTS (SELECT 1 FROM src_b b WHERE b.id = a.id)
"""


# --- op-13: inner equi-join with suffixing -----------------------------

def q_join_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    src_a, src_b = validation_pair(spark, sf_dir, "string")
    return join_pairs(src_a, src_b, "check_col", "db1", "db2")


ORACLE_JOIN_PAIRS = f"""
{pair_cte("string")}
SELECT a.id, a.check_col AS check_col_db1, b.check_col AS check_col_db2
FROM src_a a JOIN src_b b ON a.id = b.id
"""


def q_join_pairs_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """m:n fan-out on duplicated keys — pandas merge and Spark inner
    join must agree (SURVEY.md §7 "what's hard" #4)."""
    src_a, src_b = validation_pair(spark, sf_dir, "string", dup_keys=True)
    return join_pairs(src_a, src_b, "check_col", "db1", "db2")


ORACLE_JOIN_PAIRS_DUP = f"""
{pair_cte("string", dup_keys=True)}
SELECT a.id, a.check_col AS check_col_db1, b.check_col AS check_col_db2
FROM src_a a JOIN src_b b ON a.id = b.id
"""


# --- ops 15-17: the three comparison modes -----------------------------

def _diff_query(mode: str):
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        src_a, src_b = validation_pair(spark, sf_dir, mode)
        res = reconcile(
            src_a, src_b, check_column="check_col", mode=mode, db1="db1", db2="db2"
        )
        out = res.differing
        if mode in ("integer", "date"):
            # Emit the *coerced* values so the oracle compares the same
            # domain (junk → NULL on both engines).
            out = out.select(
                "id",
                coerce_check("check_col_db1", mode).alias("check_a"),
                coerce_check("check_col_db2", mode).alias("check_b"),
            )
        else:
            out = out.select(
                "id",
                F.col("check_col_db1").alias("check_a"),
                F.col("check_col_db2").alias("check_b"),
            )
        return out

    return fn


def _oracle_diff(mode: str) -> str:
    if mode == "integer":
        ca, cb = "TRY_CAST(a.check_col AS DOUBLE)", "TRY_CAST(b.check_col AS DOUBLE)"
    elif mode == "date":
        ca, cb = (
            "TRY_CAST(a.check_col AS TIMESTAMP)",
            "TRY_CAST(b.check_col AS TIMESTAMP)",
        )
    else:
        ca, cb = "a.check_col", "b.check_col"
    return f"""
{pair_cte(mode)}
SELECT a.id, {ca} AS check_a, {cb} AS check_b
FROM src_a a JOIN src_b b ON a.id = b.id
WHERE {ca} IS DISTINCT FROM {cb}
"""


def q_diff_typed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ops 15+17 in one driver-checked query: the numeric-coerced and
    datetime-coerced null-safe comparison modes, tagged and unioned
    with typed value columns (num_* for integer mode, ts_* for date
    mode — no cross-type string rendering, which the two engines
    format differently)."""

    def side(mode: str) -> DataFrame:
        src_a, src_b = validation_pair(spark, sf_dir, mode)
        res = reconcile(
            src_a, src_b, check_column="check_col", mode=mode, db1="db1", db2="db2"
        )
        ca = coerce_check("check_col_db1", mode)
        cb = coerce_check("check_col_db2", mode)
        if mode == "integer":
            return res.differing.select(
                F.lit("integer").alias("mode"),
                "id",
                ca.alias("num_a"),
                cb.alias("num_b"),
                F.lit(None).cast("timestamp").alias("ts_a"),
                F.lit(None).cast("timestamp").alias("ts_b"),
            )
        return res.differing.select(
            F.lit("date").alias("mode"),
            "id",
            F.lit(None).cast("double").alias("num_a"),
            F.lit(None).cast("double").alias("num_b"),
            ca.alias("ts_a"),
            cb.alias("ts_b"),
        )

    return side("integer").unionByName(side("date"))


def _oracle_diff_typed() -> str:
    int_part = f"""
{pair_cte("integer")}
SELECT 'integer' AS mode, a.id,
       TRY_CAST(a.check_col AS DOUBLE) AS num_a,
       TRY_CAST(b.check_col AS DOUBLE) AS num_b,
       CAST(NULL AS TIMESTAMP) AS ts_a, CAST(NULL AS TIMESTAMP) AS ts_b
FROM src_a a JOIN src_b b ON a.id = b.id
WHERE TRY_CAST(a.check_col AS DOUBLE) IS DISTINCT FROM TRY_CAST(b.check_col AS DOUBLE)
"""
    date_part = f"""
{pair_cte("date")}
SELECT 'date' AS mode, a.id,
       CAST(NULL AS DOUBLE) AS num_a, CAST(NULL AS DOUBLE) AS num_b,
       TRY_CAST(a.check_col AS TIMESTAMP) AS ts_a,
       TRY_CAST(b.check_col AS TIMESTAMP) AS ts_b
FROM src_a a JOIN src_b b ON a.id = b.id
WHERE TRY_CAST(a.check_col AS TIMESTAMP) IS DISTINCT FROM TRY_CAST(b.check_col AS TIMESTAMP)
"""
    return f"SELECT * FROM ({int_part}) UNION ALL SELECT * FROM ({date_part})"


def q_join_pairs_tagged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op-13 both ways in one query: the unique-key inner equi-join
    and the duplicate-key m:n fan-out variant, tagged and unioned."""
    uniq = q_join_pairs(spark, sf_dir).select(
        F.lit("unique").alias("variant"), "id", "check_col_db1", "check_col_db2"
    )
    dup = q_join_pairs_dup(spark, sf_dir).select(
        F.lit("dup").alias("variant"), "id", "check_col_db1", "check_col_db2"
    )
    return uniq.unionByName(dup)


ORACLE_JOIN_PAIRS_TAGGED = f"""
SELECT 'unique' AS variant, * FROM ({ORACLE_JOIN_PAIRS})
UNION ALL
SELECT 'dup' AS variant, * FROM ({ORACLE_JOIN_PAIRS_DUP})
"""


def q_diff_string_fuzzy_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op-16 general path: threshold < 1 engages the Arrow-batched
    ``difflib.SequenceMatcher`` pandas UDF over the joined pairs (the
    reference's fuzzy_match, running_validation.py:306-316). Not
    SQL-expressible → rows-only driver check; the UDF itself is
    pinned against stdlib difflib in tests/test_compare_semantics.py.

    At threshold 0.9 the derived pair's one-char-appended mutations
    (ratio ≈ 0.91) stop being reported; only one-sided NULLs remain.
    """
    src_a, src_b = validation_pair(spark, sf_dir, "string")
    res = reconcile(
        src_a, src_b, check_column="check_col", mode="string",
        db1="db1", db2="db2", threshold=0.9,
    )
    return res.differing.select(
        "id",
        F.col("check_col_db1").alias("check_a"),
        F.col("check_col_db2").alias("check_b"),
    )



def q_diff_multi_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generalization of the reference's single-check-column design:
    reconcile THREE check columns in one pass. The inner join happens
    once; per-column null-safe comparisons unpivot (stack) into a
    long-form report (id, column, val_a, val_b) of every cell-level
    difference. At 100 TB this is one shuffle regardless of how many
    columns are validated — the reference re-ran its whole pipeline
    per column."""
    orders = load_table(spark, "orders", sf_dir)
    cols = ["o_orderstatus", "o_orderpriority", "o_totalprice"]

    def side(filt: str, mutate: bool):
        out = orders.filter(filt).select(
            composite_id(["o_orderkey"]).alias("id"),
            F.col("o_orderstatus").cast("string").alias("o_orderstatus"),
            F.col("o_orderpriority").cast("string").alias("o_orderpriority"),
            F.col("o_totalprice").cast("string").alias("o_totalprice"),
        )
        if mutate:
            out = out.withColumn(
                "o_orderstatus",
                F.when(F.col("id").cast("bigint") % 101 == 0, F.lit("X")).otherwise(
                    F.col("o_orderstatus")
                ),
            ).withColumn(
                "o_totalprice",
                F.when(F.col("id").cast("bigint") % 103 == 0, F.lit(None)).otherwise(
                    F.col("o_totalprice")
                ),
            )
        return out

    a = side("o_orderkey % 97 <> 0", mutate=False)
    b = side("o_orderkey % 89 <> 0", mutate=True)
    joined = a.alias("a").join(b.alias("b"), "id")
    stack_args = ", ".join(f"'{c}', a.{c}, b.{c}" for c in cols)
    long = joined.selectExpr(
        "id", f"stack({len(cols)}, {stack_args}) AS (column, val_a, val_b)"
    )
    return long.filter(~F.col("val_a").eqNullSafe(F.col("val_b")))


ORACLE_DIFF_MULTI_COLUMN = """
WITH a AS (
  SELECT CAST(o_orderkey AS STRING) AS id,
         CAST(o_orderstatus AS STRING) AS o_orderstatus,
         CAST(o_orderpriority AS STRING) AS o_orderpriority,
         CAST(o_totalprice AS STRING) AS o_totalprice
  FROM orders WHERE o_orderkey % 97 <> 0
),
b AS (
  SELECT id,
         CASE WHEN CAST(id AS BIGINT) % 101 = 0 THEN 'X' ELSE o_orderstatus END AS o_orderstatus,
         o_orderpriority,
         CASE WHEN CAST(id AS BIGINT) % 103 = 0 THEN NULL ELSE o_totalprice END AS o_totalprice
  FROM (
    SELECT CAST(o_orderkey AS STRING) AS id,
           CAST(o_orderstatus AS STRING) AS o_orderstatus,
           CAST(o_orderpriority AS STRING) AS o_orderpriority,
           CAST(o_totalprice AS STRING) AS o_totalprice
    FROM orders WHERE o_orderkey % 89 <> 0
  )
),
long AS (
  SELECT a.id, u."column", u.val_a, u.val_b
  FROM a JOIN b ON a.id = b.id,
  LATERAL (
    SELECT 'o_orderstatus' AS "column", a.o_orderstatus AS val_a, b.o_orderstatus AS val_b
    UNION ALL SELECT 'o_orderpriority', a.o_orderpriority, b.o_orderpriority
    UNION ALL SELECT 'o_totalprice', a.o_totalprice, b.o_totalprice
  ) u
)
SELECT id, "column", val_a, val_b FROM long
WHERE val_a IS DISTINCT FROM val_b
"""



def q_multi_source_consensus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three derived sources reconciled at once (reference caps at
    two): per id — which sources have it, value agreement, and the
    deterministic majority value. One shuffle for any source count."""
    from ..operators.reconcile import reconcile_many

    orders = load_table(spark, "orders", sf_dir)

    def src(drop_mod: int, mutate_mod: int | None):
        check = (
            "o_orderpriority"
            if mutate_mod is None
            else f"CASE WHEN o_orderkey % {mutate_mod} = 0 "
                 "THEN concat(o_orderpriority, '!') ELSE o_orderpriority END"
        )
        return orders.filter(f"o_orderkey % {drop_mod} <> 0").selectExpr(
            "CAST(o_orderkey AS STRING) AS id", f"{check} AS check_col"
        )

    sources = {"s1": src(97, None), "s2": src(89, 101), "s3": src(83, 103)}
    return reconcile_many(sources, "check_col")


ORACLE_MULTI_SOURCE_CONSENSUS = """
WITH tagged AS (
  SELECT CAST(o_orderkey AS STRING) AS id, o_orderpriority AS val, 's1' AS src
  FROM orders WHERE o_orderkey % 97 <> 0
  UNION ALL
  SELECT CAST(o_orderkey AS STRING),
         CASE WHEN o_orderkey % 101 = 0 THEN concat(o_orderpriority, '!')
              ELSE o_orderpriority END, 's2'
  FROM orders WHERE o_orderkey % 89 <> 0
  UNION ALL
  SELECT CAST(o_orderkey AS STRING),
         CASE WHEN o_orderkey % 103 = 0 THEN concat(o_orderpriority, '!')
              ELSE o_orderpriority END, 's3'
  FROM orders WHERE o_orderkey % 83 <> 0
),
per_val AS (SELECT id, val, count(*) AS n FROM tagged GROUP BY id, val),
majority AS (
  SELECT id, val AS consensus_value FROM (
    SELECT id, val, row_number() OVER (
      PARTITION BY id ORDER BY n DESC, val ASC NULLS LAST) AS rk
    FROM per_val
  ) WHERE rk = 1
),
agg AS (
  SELECT id,
         count(DISTINCT src) AS n_sources,
         array_to_string(list_sort(list(DISTINCT src)), ',') AS present_in,
         count(DISTINCT val) AS n_distinct_values,
         max(CASE WHEN val IS NULL THEN 1 ELSE 0 END) AS has_null
  FROM tagged GROUP BY id
)
SELECT a.id, a.n_sources, a.present_in, a.n_distinct_values,
       m.consensus_value,
       (a.n_distinct_values = 1 AND a.has_null = 0) AS is_consistent
FROM agg a JOIN majority m ON a.id = m.id
"""


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC changelog between two snapshots: inserted (% 89 keys absent
    from 'old'), deleted (% 97 keys absent from 'new'), updated
    (% 101 values mutated)."""
    from ..operators.reconcile import snapshot_diff

    src_a, src_b = validation_pair(spark, sf_dir, "string")
    return snapshot_diff(src_a, src_b, "check_col")


ORACLE_SNAPSHOT_DIFF = f"""
{pair_cte("string")}
SELECT coalesce(a.id, b.id) AS id,
       CASE WHEN a.id IS NULL THEN 'inserted'
            WHEN b.id IS NULL THEN 'deleted'
            ELSE 'updated' END AS change,
       a.check_col AS old_val, b.check_col AS new_val
FROM src_a a FULL OUTER JOIN src_b b ON a.id = b.id
WHERE a.id IS NULL OR b.id IS NULL
   OR a.check_col IS DISTINCT FROM b.check_col
"""


# --- ops 19-20: ragged side-by-side report -----------------------------

def q_report_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    src_a, src_b = validation_pair(spark, sf_dir, "string")
    res = reconcile(
        src_a, src_b, check_column="check_col", mode="string", db1="db1", db2="db2"
    )
    return report_summary(res, render="compact")


ORACLE_REPORT_SUMMARY = f"""
{pair_cte("string")},
m_a AS (SELECT id FROM src_b b WHERE NOT EXISTS (SELECT 1 FROM src_a a WHERE a.id = b.id)),
m_b AS (SELECT id FROM src_a a WHERE NOT EXISTS (SELECT 1 FROM src_b b WHERE b.id = a.id)),
diff AS (
  SELECT a.id, a.check_col AS ca, b.check_col AS cb
  FROM src_a a JOIN src_b b ON a.id = b.id
  WHERE a.check_col IS DISTINCT FROM b.check_col
),
na AS (SELECT id AS missing_in_db1, row_number() OVER (ORDER BY id) AS rn FROM m_a),
nb AS (SELECT id AS missing_in_db2, row_number() OVER (ORDER BY id) AS rn FROM m_b),
nd AS (
  SELECT concat(id, ':', coalesce(ca, 'NULL'), '|', coalesce(cb, 'NULL')) AS differing_values,
         row_number() OVER (ORDER BY id) AS rn
  FROM diff
)
SELECT na.missing_in_db1, nb.missing_in_db2, nd.differing_values
FROM na
FULL OUTER JOIN nb ON na.rn = nb.rn
FULL OUTER JOIN nd ON coalesce(na.rn, nb.rn) = nd.rn
"""


# --- flagship: end-to-end validation counts ----------------------------

def q_validation_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole reference pipeline in one DAG: derive pair →
    anti-joins → inner join → null-safe compare → counts."""
    src_a, src_b = validation_pair(spark, sf_dir, "string")
    res = reconcile(
        src_a, src_b, check_column="check_col", mode="string", db1="db1", db2="db2"
    )
    return (
        res.missing_in_first.agg(F.count("*").alias("n_missing_in_a"))
        .crossJoin(res.missing_in_second.agg(F.count("*").alias("n_missing_in_b")))
        .crossJoin(res.differing.agg(F.count("*").alias("n_differing")))
    )


ORACLE_VALIDATION_COUNTS = f"""
{pair_cte("string")}
SELECT
  (SELECT count(*) FROM src_b b
    WHERE NOT EXISTS (SELECT 1 FROM src_a a WHERE a.id = b.id)) AS n_missing_in_a,
  (SELECT count(*) FROM src_a a
    WHERE NOT EXISTS (SELECT 1 FROM src_b b WHERE b.id = a.id)) AS n_missing_in_b,
  (SELECT count(*) FROM src_a a JOIN src_b b ON a.id = b.id
    WHERE a.check_col IS DISTINCT FROM b.check_col) AS n_differing
"""


SPECS = [
    QuerySpec("keys_projection", q_keys_projection, ORACLE_KEYS_PROJECTION,
              "ops 9+10: composite key (NULL→'0') + id/check/formatted_date"),
    QuerySpec("filter_date_range", q_filter_date_range, ORACLE_FILTER_DATE_RANGE,
              "op-11 strictly-exclusive date range, pushed down"),
    QuerySpec("missing_ids", q_missing_ids, _oracle_missing_ids(),
              "op-12 bidirectional anti-join"),
    QuerySpec("join_pairs", q_join_pairs_tagged, ORACLE_JOIN_PAIRS_TAGGED,
              "op-13 inner equi-join: unique-key + duplicate-key m:n variants"),
    QuerySpec("diff_typed", q_diff_typed, _oracle_diff_typed(),
              "ops 15+17: numeric- and datetime-coerced null-safe inequality"),
    QuerySpec("diff_string_fuzzy", _diff_query("string"), _oracle_diff("string"),
              "op-16 threshold=1 exact-equality fast path"),
    QuerySpec("diff_string_fuzzy_approx", q_diff_string_fuzzy_approx, None,
              "op-16 threshold<1 SequenceMatcher pandas UDF (rows-only)"),
    QuerySpec("report_summary", q_report_summary, ORACLE_REPORT_SUMMARY,
              "ops 19-20 ragged side-by-side report"),
    QuerySpec("validation_counts", q_validation_counts, ORACLE_VALIDATION_COUNTS,
              "flagship end-to-end reconciliation counts"),
]


# Unit operator surface (ops 9/10 merged into keys_projection for the
# driver window); parity-tested locally.
UNIT_SPECS = [
    # rotated out of the driver window in round 5 (driver-green in r4;
    # pytest oracles keep them true):
    QuerySpec("diff_multi_column", q_diff_multi_column, ORACLE_DIFF_MULTI_COLUMN,
              "N-column reconciliation in one pass (long-form diff report)"),
    QuerySpec("multi_source_consensus", q_multi_source_consensus,
              ORACLE_MULTI_SOURCE_CONSENSUS,
              "N-source reconciliation with majority consensus"),
    QuerySpec("snapshot_diff", q_snapshot_diff, ORACLE_SNAPSHOT_DIFF,
              "CDC changelog between two snapshots"),
    QuerySpec("unit_composite_id", q_composite_id, ORACLE_COMPOSITE_ID,
              "op-9 composite key canonicalization"),
    QuerySpec("unit_project_check", q_project_check, ORACLE_PROJECT_CHECK,
              "op-10 id+check+formatted_date projection"),
]
