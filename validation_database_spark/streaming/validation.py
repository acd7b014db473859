"""Structured Streaming operators (north-star extension; the
reference has no streaming surface at all, SURVEY.md §2.7).

The reconciliation semantics of the batch engine re-expressed over
unbounded streams:

- windowed aggregation with watermarks (late data handled by event
  time, state bounded by the watermark),
- session windows (the streaming twin of suite/events.py
  sessionization),
- **streaming missing-id detection**: the reference's anti-join
  (running_validation.py:225-226) becomes a watermarked stream-stream
  LEFT OUTER join with an event-time range constraint — Spark emits
  the unmatched-left rows once the watermark passes, i.e. "ids
  missing from the other source" continuously. (Stream-stream
  left_anti is not supported; left-outer + IS NULL filter is the
  canonical encoding.)

Tests drive these with the file source over the events fixture and a
memory sink via ``processAllAvailable`` (deterministic completion);
production swaps the source for Kafka and the sink for a real table —
the plans are identical.

State/scale posture: every stateful op carries a watermark, so state
eviction is bounded; join state is keyed by (id, window bucket) and
scales horizontally with shuffle partitions.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from validation_database_spark.sources.registry import (
    EVENTS_RAW_SCHEMA,
    events_ts_unit,
)


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events fixture as a (bounded) file-source stream.

    Probes the parquet footer for the ts unit like the batch twin
    (sources/registry.py::load_table) — no session conf mutation.
    Unlike the batch side (TIMESTAMP_NTZ), event time here must stay
    TIMESTAMP_LTZ: watermarks reject NTZ columns
    (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE), so wall-clock rendering of
    streaming output follows the session timezone (the engine pins
    UTC in session.py).
    """
    # The file source requires a directory. The fixture ships events
    # as a single FILE (sf_dir/events.parquet) — select it via the
    # glob filter; the scale replicas ship it as a multi-file
    # DIRECTORY of the same name — stream that directory itself (the
    # glob form would match nothing there: pathGlobFilter filters
    # file names, and the parts live one level down).
    events_path = os.path.join(sf_dir, "events.parquet")

    def _source(schema):
        r = spark.readStream.schema(schema)
        if os.path.isdir(events_path):
            return r.parquet(events_path)
        return r.option("pathGlobFilter", "events.parquet").parquet(sf_dir)

    if events_ts_unit(events_path) == "ns":
        raw = _source(EVENTS_RAW_SCHEMA)
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    us_schema = T.StructType(
        [
            T.StructField(f.name, T.TimestampNTZType() if f.name == "ts" else f.dataType)
            for f in EVENTS_RAW_SCHEMA.fields
        ]
    )
    raw = _source(us_schema)
    # NTZ→LTZ cast uses the session TZ (pinned UTC): same wall-clock.
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def streaming_window_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling-window counts per event type with a watermark —
    append-mode safe (windows finalize when the watermark passes)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def streaming_sessionize(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Session windows per user (gap-based), the streaming equivalent
    of suite/events.py::q_events_sessionize."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("sw"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )


def streaming_missing_ids(
    left: DataFrame,
    right: DataFrame,
    watermark: str = "1 hour",
    join_tolerance: str = "1 hour",
) -> DataFrame:
    """Rows of ``left`` whose event_id never appears in ``right``
    within the event-time tolerance — the streaming anti-join.

    Encoded as a watermarked stream-stream left-outer join on
    event_id with a time-range predicate; unmatched left rows are
    emitted with NULL right columns once the watermark closes the
    window, and the IS NULL filter keeps exactly those.
    """
    l = left.select(
        F.col("event_id").alias("l_id"), F.col("ts").alias("l_ts")
    ).withWatermark("l_ts", watermark)
    r = right.select(
        F.col("event_id").alias("r_id"), F.col("ts").alias("r_ts")
    ).withWatermark("r_ts", watermark)
    cond = (
        (F.col("l_id") == F.col("r_id"))
        & (F.col("r_ts") >= F.col("l_ts") - F.expr(f"INTERVAL {join_tolerance}"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr(f"INTERVAL {join_tolerance}"))
    )
    joined = l.join(r, cond, "left_outer")
    return joined.filter(F.col("r_id").isNull()).select(
        F.col("l_id").alias("event_id"), F.col("l_ts").alias("ts")
    )


def run_to_completion(
    df: DataFrame, query_name: str, output_mode: str = "append"
) -> DataFrame:
    """Drive a (bounded) streaming DataFrame through a memory sink to
    completion and return the materialized result as a batch
    DataFrame. Test/smoke helper — production uses a real sink.

    Note on ``append`` vs ``complete``: append only emits state the
    watermark has closed, so with a bounded source the final windows
    (within the watermark of max event time) are never flushed; tests
    that want the full result of an aggregation use ``complete``.
    """
    spark = df.sparkSession
    q = (
        df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(query_name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(query_name)


def streaming_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``:
    per-user running (n_events, total_value) maintained in explicit
    group state and re-emitted on every batch (update semantics).

    This is the escape hatch for stateful logic the built-in windowed
    aggregations cannot express (reference has no analog; the batch
    twin is a plain groupBy). State is one small tuple per user —
    bounded, shuffle-partitioned by the group key.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    # Self-contained kernel (no module-global references) so
    # cloudpickle ships it by value to executor workers.
    def update(key, pdf_iter, state):
        import pandas as _pd

        # GroupState.get is a PROPERTY in PySpark 4 (raises if absent),
        # not a method — state.get() crashed on any ≥2-batch stream,
        # where a group's second invocation hits the exists branch for
        # the first time (the single-file fixture always yields one
        # batch, which is why only the multi-batch invariant test,
        # tests/test_streaming.py, ever reached this line).
        n, cents = state.get if state.exists else (0, 0)
        for pdf in pdf_iter:
            n += len(pdf)
            # Accumulate EXACT integer cents: the monetary values are
            # 2-decimal, so per-event round(value*100) is unambiguous
            # and the integer sum is identical under ANY micro-batch
            # splitting or addition order — which is what makes the
            # final state SQL-expressible (a DuckDB oracle computes
            # the same cents sum) instead of a float that drifts with
            # batch boundaries.
            cents += int((pdf["value"] * 100).round().sum())  # NaN skipped
        state.update((n, cents))
        yield _pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_value": [cents / 100.0],
            }
        )

    return (
        events.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType="user_id long, n_events long, total_value double",
            stateStructType="n long, cents long",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def streaming_ewma(events: DataFrame, alpha: float = 0.25) -> DataFrame:
    """Per-user EWMA carried as streaming state — the streaming twin
    of ``operators/timeseries.py::ewma``. State is one double per
    user (the current smoothed value); each micro-batch sorts its
    slice by (ts, event_id) and continues the recurrence from the
    carried state, so because the recurrence is Markov the final
    state is BITWISE the batch EWMA's last value whenever batches
    arrive in per-user time order (the file source's in-order
    delivery; pinned by the batch-equality test).

    The carry trick: pandas ewm can't seed initial state, so the
    state value is prepended to the batch's series and the first
    output dropped — step one then computes α·x₁ + (1−α)·s exactly.
    Like the batch twin, the pandas C kernel is used only for dyadic
    α (where its per-step normalization divides by exactly 1.0 and is
    bit-identical to the recurrence); otherwise the explicit loop.
    """
    ewm_bitsafe = (1.0 - alpha) + alpha == 1.0

    def update(key, pdf_iter, state):
        import numpy as _np
        import pandas as _pd

        # property, not method — see streaming_user_totals' update
        s = state.get[0] if state.exists else None
        for pdf in pdf_iter:
            if not len(pdf):
                continue
            pdf = pdf.sort_values(["ts", "event_id"], kind="mergesort")
            x = pdf["value"].to_numpy(dtype="float64")
            seeded = x if s is None else _np.concatenate([[s], x])
            if ewm_bitsafe:
                s = float(
                    _pd.Series(seeded).ewm(alpha=alpha, adjust=False).mean().iloc[-1]
                )
            else:
                acc = seeded[0]
                a, b = alpha, 1.0 - alpha
                for v in seeded[1:]:
                    acc = a * v + b * acc
                s = float(acc)
        if s is not None:
            state.update((s,))
        yield _pd.DataFrame({"user_id": [key[0]], "ewma": [s]})

    from pyspark.sql.streaming.state import GroupStateTimeout

    return (
        events.select("user_id", "event_id", "ts", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType="user_id long, ewma double",
            stateStructType="s double",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# --- stream-static incremental dedup ------------------------------------

DOCS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def stream_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents fixture as a (bounded) file-source stream — the
    incoming-crawl-batch side of incremental dedup."""
    return (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )


def streaming_incremental_dedup(
    new_docs: DataFrame, corpus_bands: DataFrame
) -> DataFrame:
    """Near-dup candidates of an UNBOUNDED stream of incoming
    documents against a static corpus's LSH band index — the
    streaming twin of ``suite.dedup.q_dedup_incremental``.

    Entirely stateless: signatures are row-local expressions
    (``operators.dedup.with_rowlocal_signatures`` — no streaming
    groupBy, hence no watermark or state store), and the band lookup
    is a stream-static equi-join (each micro-batch hash-joins against
    the static side; with the index bucketed by (band, band_hash) the
    join is co-located). Emits (new_doc_id, candidate_doc_id) pairs
    in append mode; exact-Jaccard verification happens downstream in
    batch, where both documents' shingle sets are addressable.
    """
    from validation_database_spark.operators.dedup import (
        NUM_HASHES,
        lsh_bands,
        with_rowlocal_signatures,
    )

    new_bands = lsh_bands(with_rowlocal_signatures(new_docs).select(
        "doc_id", *[f"s{i}" for i in range(NUM_HASHES)]
    ))
    static = corpus_bands.select(
        F.col("doc_id").alias("candidate_doc_id"), "band", "band_hash"
    )
    return (
        new_bands.join(static, ["band", "band_hash"])
        .filter(F.col("doc_id") != F.col("candidate_doc_id"))
        .select(F.col("doc_id").alias("new_doc_id"), "candidate_doc_id")
    )


def _committed_versions(out_dir: str, marker: str) -> list[int]:
    """Sorted batch ids of the ``v<batchId>`` directories under
    ``out_dir`` that ``marker`` seals."""
    if not os.path.isdir(out_dir):
        return []
    return sorted(
        int(d[1:])
        for d in os.listdir(out_dir)
        if d.startswith("v") and os.path.exists(os.path.join(out_dir, d, marker))
    )


def _versioned_commit(
    spark: SparkSession,
    stream: DataFrame,
    initial_path: str,
    out_dir: str,
    marker: str,
    checkpoint: str,
    step,
):
    """Start ``stream`` as a ``foreachBatch`` query that keeps a
    versioned parquet state: batch ``b`` reads the latest version
    committed before it (``initial_path`` when there is none), writes
    ``step(state, batch_df)`` to ``out_dir/v<b>`` and seals the
    directory with ``marker``.

    Exactly-once without sink transactions: ``foreachBatch`` may
    REPLAY a batch after checkpoint recovery, so a replayed batchId
    finds its marker and returns without touching anything (the
    idempotent-write recipe from the public Structured Streaming
    docs). On a real deployment the table format's ACID commit
    (sources/lakehouse.py) replaces the versioned directories; the
    ``step`` plan is unchanged."""

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        dest = os.path.join(out_dir, f"v{batch_id}")
        if os.path.exists(os.path.join(dest, marker)):
            return  # replayed after recovery — already applied
        prior = [v for v in _committed_versions(out_dir, marker) if v < batch_id]
        src = os.path.join(out_dir, f"v{max(prior)}") if prior else initial_path
        step(spark.read.parquet(src), batch_df).write.mode("overwrite").parquet(dest)
        with open(os.path.join(dest, marker), "w"):
            pass

    return (
        stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def _latest_committed(spark: SparkSession, out_dir: str, marker: str) -> DataFrame:
    """The highest version under ``out_dir`` that ``marker`` seals."""
    versions = _committed_versions(out_dir, marker)
    if not versions:
        raise ValueError(
            f"no committed version under {out_dir!r}: no v<batchId> "
            f"directory there holds a {marker} marker"
        )
    return spark.read.parquet(os.path.join(out_dir, f"v{versions[-1]}"))


def streaming_cdc_apply(
    spark: SparkSession,
    changes: DataFrame,
    initial_snapshot_path: str,
    out_dir: str,
    key: str,
    checkpoint: str,
):
    """Continuously apply an ordered CDC change stream to a snapshot —
    the streaming twin of ``suite.pipeline.apply_cdc`` (and of a
    lakehouse ``MERGE INTO`` fed by Debezium): each micro-batch is
    merged against the latest committed snapshot version with the
    same LWW/delete semantics, and the new snapshot lands in a
    batchId-versioned directory sealed by a ``_CDC_COMMITTED``
    marker (:func:`_versioned_commit`, so replays are no-ops).
    Sequential batch application equals one global LWW pass when
    sequence numbers are monotone across batches, which is pinned
    against the oracle-checked batch operator in
    ``tests/test_streaming_cdc.py``."""
    from ..suite.pipeline import apply_cdc

    return _versioned_commit(
        spark,
        changes,
        initial_snapshot_path,
        out_dir,
        "_CDC_COMMITTED",
        checkpoint,
        lambda snap, batch_df: apply_cdc(snap, batch_df, key),
    )


def latest_cdc_snapshot(spark: SparkSession, out_dir: str) -> DataFrame:
    """Read the highest committed snapshot version written by
    :func:`streaming_cdc_apply`; ``ValueError`` when none is
    committed."""
    return _latest_committed(spark, out_dir, "_CDC_COMMITTED")


def streaming_mv_maintain(
    spark: SparkSession,
    deltas: DataFrame,
    initial_view_path: str,
    out_dir: str,
    key: str,
    checkpoint: str,
):
    """Continuously maintain a (key, n_orders, sum_cents) aggregate
    view under a CDC delta stream — the streaming twin of
    ``suite.pipeline.q_incr_agg`` and the foreachBatch form of a
    streaming materialized view: each micro-batch reduces to per-group
    (Δn, Δcents) partials (map-side combining, O(batch) work), which
    FULL-OUTER-merge into the latest committed view version; groups
    whose count reaches zero drop out. Valid because COUNT/SUM are
    abelian-group aggregates — the same algebra that makes the batch
    operator's oracle a from-scratch recompute.

    Exactly-once exactly as ``streaming_cdc_apply``: versioned output
    directories sealed by a ``_MV_COMMITTED`` marker make replayed
    batchIds no-ops after checkpoint recovery. Batch-split invariance
    (any partitioning of the delta stream into micro-batches yields
    the same final view) holds because group-wise addition is
    associative and commutative; ``tests/test_streaming_mv.py`` pins
    the 1-batch vs many-batch equivalence and the recovery replay.

    Delta rows carry (key, dn, dc): dn=+1/dc=+cents for an insert,
    dn=-1/dc=-cents for a delete of a row whose before-image the CDC
    stream provides (the Debezium shape)."""

    def _merge(view: DataFrame, batch_df: DataFrame) -> DataFrame:
        partial = batch_df.groupBy(key).agg(
            F.sum("dn").cast("bigint").alias("dn"),
            F.sum("dc").cast("bigint").alias("dc"),
        )
        return (
            view.join(partial, key, "full_outer")
            .select(
                F.col(key),
                (F.coalesce("n_orders", F.lit(0)) + F.coalesce("dn", F.lit(0)))
                .cast("bigint")
                .alias("n_orders"),
                (F.coalesce("sum_cents", F.lit(0)) + F.coalesce("dc", F.lit(0)))
                .cast("bigint")
                .alias("sum_cents"),
            )
            .filter(F.col("n_orders") > 0)
        )

    return _versioned_commit(
        spark, deltas, initial_view_path, out_dir, "_MV_COMMITTED", checkpoint, _merge
    )


def latest_mv_snapshot(spark: SparkSession, out_dir: str) -> DataFrame:
    """Read the highest committed view version written by
    :func:`streaming_mv_maintain`; ``ValueError`` when none is
    committed."""
    return _latest_committed(spark, out_dir, "_MV_COMMITTED")


def streaming_session_totals(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """Native stateful sessionization on the stream: Spark's
    ``session_window`` with a watermark — the streaming twin of the
    batch session ops (the lag+cumsum driver query and the built-in
    session_window form it is cross-validated against in
    tests/test_session_window.py). Append mode emits a session only
    once the watermark passes its close — the completeness contract
    tests/test_streaming_session.py pins: the emitted set equals the
    batch session_window result restricted to sessions closed before
    max(event time) − watermark, exactly.

    Exact-cents session totals so the streamed rows hash-compare
    against the batch twin."""
    cents = F.round(F.col("value") * 100).cast("bigint")
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("sw"), F.col("user_id"))
        .agg(F.count("*").alias("n_events"), F.sum(cents).alias("sum_cents"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
            "sum_cents",
        )
    )
