"""Report assembly: the ragged side-by-side summary + CSV sinks.

The reference pads three independent lists (missing-in-db1 ids,
missing-in-db2 ids, differing-value dicts) with ``None`` to equal
length and writes them as three columns (running_validation.py:262-275
and the string/date twins). Positional alignment is meaningless — it
is pure presentation — but the shape is part of the tool's contract,
so we reproduce it *distributed*: rank each list by id, then pivot
the ranks into one row per position.

Scale note: the naive encoding (``row_number() OVER (ORDER BY id)``)
serializes into a single-partition sort. ``grouped_row_number`` below
avoids that: range-partition by (group, key), rank locally, add
per-partition offsets — two distributed passes, no single-task sort,
so even a pathological discrepancy report (everything differs) stays
parallel. The summary ranks its three lists in ONE such pass, grouped
by a list tag; with no group columns the helper is the global rank
the suite's sort-rank queries use. The three result DataFrames remain
the primary (unbounded) API; ``report_summary`` is the
presentation-compat sink on top.

Both sinks start from one table: ``_discrepancies`` unions the three
lists into tagged rows ``(__tag, id, val, c1, c2)``. ``report_summary``
ranks and pivots its ``(__tag, id, val)`` columns; ``write_reports``
stages (pins) that table once per call, writes the summary and the
detail from the staged rows, and releases the pins before it returns
(``util.pin_scope``), so a write re-runs no part of the reconcile
lineage and leaves nothing cached.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from ..util import pin, pin_scope
from .reconcile import ReconcileResult

_TAGS = ("m1", "m2", "dv")
_PRESENCE = tuple(f"__{tag}" for tag in _TAGS)


def grouped_row_number(
    df: DataFrame,
    group_cols: str | list[str] | tuple[str, ...],
    order_cols: str | list[str] | tuple[str, ...],
    rn_col: str = "rn",
) -> DataFrame:
    """Per-group 1-based ``bigint`` rank: the distributed form of
    ``row_number() OVER (PARTITION BY group ORDER BY key)``; an empty
    ``group_cols`` gives the global ``row_number() OVER (ORDER BY
    key)``. Built for when a SINGLE group's rows outgrow one partition
    (no groups at all, or a bounded-cardinality key — language, event
    type, the summary's list tag — over a data-grain frame, where the
    plain window sends a whole group to one reducer).

    Range-partition on the composite (group, key) — a group spans a
    RUN of partitions — rank locally per (partition, group), then add
    per-(partition, group) prefix offsets from one triangular
    self-join over the ≤ n_partitions × |groups| count rows.
    """
    groups = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    orders = [order_cols] if isinstance(order_cols, str) else list(order_cols)
    n = df.sparkSession.sparkContext.defaultParallelism
    ranged = df.repartitionByRange(
        n, *[F.col(c) for c in groups + orders]
    ).withColumn("__pid", F.spark_partition_id())
    local_w = Window.partitionBy("__pid", *groups).orderBy(*orders)
    # pin: the ranked subtree feeds BOTH the offsets aggregation and
    # the final join. RangePartitioner samples boundaries per
    # evaluation, so without pinning, the two branches can see
    # *different* partition assignments and the offsets stop matching
    # the local ranks (observed as nondeterministic ranks under
    # round-robin-spread inputs). The pin must survive until the
    # CALLER materializes the returned frame, so it is registered for
    # util.release_pins() rather than unpersisted here.
    local = pin(ranged.withColumn("__lrn", F.row_number().over(local_w)))
    # one row per (partition, group) — prefix offsets via a tiny
    # triangular self-join, not an unpartitioned window: keeps every
    # plan in the job free of single-partition WindowExec.
    counts = local.groupBy("__pid", *groups).agg(F.count("*").alias("__cnt"))
    # null-safe on the group key: a plain equi-join would silently
    # drop NULL-group rows that the window form ranks as their own
    # partition.
    earlier = F.col("b.__pid") < F.col("a.__pid")
    back = F.col("l.__pid") == F.col("o.__pid")
    for c in groups:
        earlier = earlier & F.col(f"a.{c}").eqNullSafe(F.col(f"b.{c}"))
        back = back & F.col(f"l.{c}").eqNullSafe(F.col(f"o.{c}"))
    offsets = (
        counts.alias("a")
        .join(counts.alias("b"), earlier, "left")
        .groupBy(
            F.col("a.__pid").alias("__pid"),
            *[F.col(f"a.{c}").alias(c) for c in groups],
        )
        .agg(F.coalesce(F.sum("b.__cnt"), F.lit(0)).alias("__offset"))
    )
    return (
        local.alias("l")
        .join(F.broadcast(offsets).alias("o"), back)
        .select("l.*", F.col("o.__offset"))
        .withColumn(rn_col, (F.col("__lrn") + F.col("__offset")).cast("bigint"))
        .drop("__pid", "__lrn", "__offset")
    )


def _discrepancies(result: ReconcileResult, render: str) -> DataFrame:
    """The run's tagged discrepancy rows ``(__tag, id, val, c1, c2)``:
    ``m1``/``m2`` rows carry the missing id as ``val`` and typed NULL
    check values, ``dv`` rows the rendered cell (see ``report_summary``)
    and the two check values. Both CSV reports derive from this one
    table."""
    c1 = f"{result.check_column}_{result.db1}"
    c2 = f"{result.check_column}_{result.db2}"
    if render == "dict":
        cell = F.concat(
            F.lit("{'id': '"), F.col("id"),
            F.lit(f"', '{c1}': "), _py_repr(F.col(c1)),
            F.lit(f", '{c2}': "), _py_repr(F.col(c2)),
            F.lit("}"),
        )
    else:
        cell = F.concat_ws(
            "|",
            F.concat_ws(":", F.col("id"), F.coalesce(F.col(c1).cast("string"), F.lit("NULL"))),
            F.coalesce(F.col(c2).cast("string"), F.lit("NULL")),
        )
    types = result.differing.schema
    no_values = [F.lit(None).cast(types[c].dataType).alias(c) for c in (c1, c2)]
    return reduce(
        DataFrame.unionByName,
        [
            result.missing_in_first.select(
                F.lit("m1").alias("__tag"), "id", F.col("id").alias("val"), *no_values
            ),
            result.missing_in_second.select(
                F.lit("m2").alias("__tag"), "id", F.col("id").alias("val"), *no_values
            ),
            result.differing.select(
                F.lit("dv").alias("__tag"), "id", cell.alias("val"), c1, c2
            ),
        ],
    )


def _ranked_pivot(tagged: DataFrame, result: ReconcileResult) -> DataFrame:
    """Rank ``(__tag, id, val)`` rows per tag and pivot the ranks to the
    summary's three columns, plus a 0/1 ``__<tag>`` presence column per
    tag: a list's length is the sum of its presence column, which a
    count of its cells misses when an id (and so the cell) is NULL."""
    names = (f"missing_in_{result.db1}", f"missing_in_{result.db2}", "differing_values")
    # Pivot the (tag, val, rn) ranks to one column per list in ONE
    # aggregation: ``(tag, rn)`` is unique, so groupBy(rn) with one
    # conditional max per tag gives the rows and NULL padding of
    # full-outer joins of the per-list frames on rn, in one exchange.
    return (
        grouped_row_number(tagged, "__tag", "id")
        .groupBy("rn")
        .agg(
            *[
                F.max(F.when(F.col("__tag") == tag, F.col("val"))).alias(name)
                for tag, name in zip(_TAGS, names)
            ],
            *[
                F.max((F.col("__tag") == tag).cast("int")).alias(presence)
                for tag, presence in zip(_TAGS, _PRESENCE)
            ],
        )
        .orderBy("rn")
        .drop("rn")
    )


def report_summary(result: ReconcileResult, render: str = "compact") -> DataFrame:
    """Side-by-side ragged summary.

    Columns: ``missing_in_{db1}``, ``missing_in_{db2}``,
    ``differing_values``; row i holds the i-th element of each list (or
    NULL past that list's end) — the distributed equivalent of the
    reference's pad-with-None assembly (running_validation.py:262-275).

    ``render`` controls the differing cell:
    - ``"compact"``: ``id:left|right`` — deterministic across engines
      (used by the DuckDB oracle cross-check).
    - ``"dict"``: the reference's ``{'id': …, 'a': …, 'b': …}`` python
      dict repr (running_validation.py:256-259) for byte-parity with
      the golden CSV.
    """
    tagged = _discrepancies(result, render).select("__tag", "id", "val")
    return _ranked_pivot(tagged, result).drop(*_PRESENCE)


def _py_repr(col):
    """Render a string column the way the reference's pandas
    ``to_dict('records')`` repr does for the dict cell: quoted if
    non-null, unquoted ``nan`` if null (a one-sided missing value is
    NaN in the reference's merged frame, and ``repr(nan)`` is
    ``nan`` — reference running_validation.py:256-259)."""
    return F.when(col.isNull(), F.lit("nan")).otherwise(
        F.concat(F.lit("'"), col.cast("string"), F.lit("'"))
    )


def write_reports(
    result: ReconcileResult,
    output_prefix: str,
    *,
    single_file: bool = False,
    render: str = "dict",
) -> dict[str, int]:
    """CSV sinks mirroring the reference's two files
    (running_validation.py:283,:288-293): ``<prefix>`` (padded summary)
    and ``<prefix>_differing_values.csv`` (id-level detail, written
    only if non-empty — matching :288's emptiness guard). Returns the
    three list lengths, ``{"m1": …, "m2": …, "dv": …}``, counted by the
    summary write itself.

    Both files derive from ONE staged table, the run's tagged
    discrepancy rows, pinned for the duration of the call: the
    summary's range sampling, its exchange and the detail write read
    the cache, so the reconcile lineage (source scans, joins, the fuzzy
    UDF) runs once per call instead of once per job. The call runs in
    a ``pin_scope``, so the staged table and the rank pin are
    unpersisted before it returns and no later run over the same
    source paths can be served these rows.

    Both files always describe the same run: when this run has no
    differing values, a detail left under the same prefix by an
    earlier run is deleted (through the path's Hadoop ``FileSystem``)
    instead of surviving next to the fresh summary.

    ``single_file`` coalesces to one part for small parity outputs;
    at scale leave it False and get a directory of parts.
    """
    with pin_scope():
        staged = pin(_discrepancies(result, render))
        summary = _ranked_pivot(staged.select("__tag", "id", "val"), result)
        if single_file:
            summary = summary.coalesce(1)
        # The summary write counts each list on the way out, so the
        # detail decision and the caller's counts cost no extra job.
        # Observed as the last transformation, above the orderBy:
        # placed lower, the range-partition sampling jobs would also
        # run the observed subtree. Only the presence columns' drop
        # follows it.
        seen = Observation()
        observed = summary.observe(
            seen, *[F.sum(c).alias(tag) for tag, c in zip(_TAGS, _PRESENCE)]
        )
        observed.drop(*_PRESENCE).write.mode("overwrite").option(
            "header", True
        ).csv(output_prefix)
        counts = {tag: int(n or 0) for tag, n in seen.get.items()}

        detail_path = f"{output_prefix}_differing_values.csv"
        if counts["dv"] == 0:
            spark = result.differing.sparkSession
            path = spark._jvm.org.apache.hadoop.fs.Path(detail_path)
            path.getFileSystem(spark._jsc.hadoopConfiguration()).delete(path, True)
            return counts
        c1 = f"{result.check_column}_{result.db1}"
        c2 = f"{result.check_column}_{result.db2}"
        detail = staged.filter(F.col("__tag") == "dv").select("id", c1, c2)
        if single_file:
            detail = detail.coalesce(1)
        detail.write.mode("overwrite").option("header", True).csv(detail_path)
        return counts
