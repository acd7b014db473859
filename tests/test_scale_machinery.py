"""Scale machinery: salted joins preserve semantics; bucketed tables
co-locate joins (no shuffle exchange in the plan); AQE's
OptimizeSkewedJoin actually splits a hot partition at the MB-scale
replica (plan-pinned below, skipped when /tmp/spark_graft_sf1 is
absent — at base fixture scale the shuffle partitions are KB-sized
and AQE coalesces instead of splitting, so the skew mitigation
observable there is operators/skew.py's explicit salting)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from validation_database_spark.operators.skew import salted_join
from validation_database_spark.plans import physical_plan
from validation_database_spark.sources import load_table


def _skewed(spark, sf_dir):
    """lineitem keyed so ~1/3 of rows share one hot supplier key."""
    li = load_table(spark, "lineitem", sf_dir)
    return li.withColumn(
        "skew_key",
        F.when(F.col("l_orderkey") % 3 == 0, F.lit(1)).otherwise(F.col("l_suppkey")),
    ).select("skew_key", "l_orderkey", "l_quantity")


def test_salted_inner_join_matches_plain(spark, sf_dir):
    large = _skewed(spark, sf_dir)
    small = load_table(spark, "supplier", sf_dir).select(
        F.col("s_suppkey").alias("skew_key"), "s_name"
    )
    plain = large.join(small, "skew_key").groupBy("skew_key").agg(
        F.count("*").alias("n"), F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("q")
    )
    salted = salted_join(large, small, "skew_key", num_salts=8).groupBy(
        "skew_key"
    ).agg(
        F.count("*").alias("n"), F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("q")
    )
    p = {r.skew_key: (r.n, r.q) for r in plain.collect()}
    s = {r.skew_key: (r.n, r.q) for r in salted.collect()}
    assert p == s


def test_salted_left_join_matches_plain(spark, sf_dir):
    large = _skewed(spark, sf_dir).limit(2000)
    # dim missing some keys → unmatched left rows must survive with NULLs
    small = load_table(spark, "supplier", sf_dir).filter(
        F.col("s_suppkey") % 2 == 0
    ).select(F.col("s_suppkey").alias("skew_key"), "s_name")
    plain = large.join(small, "skew_key", "left")
    salted = salted_join(large, small, "skew_key", num_salts=4, how="left")
    assert plain.count() == salted.count()
    assert (
        plain.filter(F.col("s_name").isNull()).count()
        == salted.filter(F.col("s_name").isNull()).count()
    )


def test_salted_join_rejects_unsupported_how(spark, sf_dir):
    large = _skewed(spark, sf_dir)
    with pytest.raises(ValueError):
        salted_join(large, large, "skew_key", how="full_outer")


@pytest.fixture(scope="module")
def bucketed_tables(spark, sf_dir):
    """Write lineitem + orders bucketed by the join key into the
    warehouse — the on-disk co-location that removes the join shuffle
    (at 100 TB: bucket the fact tables once, join free forever)."""
    li = load_table(spark, "lineitem", sf_dir).select(
        "l_orderkey", "l_quantity", "l_extendedprice"
    )
    orders = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    spark.sql("DROP TABLE IF EXISTS li_bucketed")
    spark.sql("DROP TABLE IF EXISTS orders_bucketed")
    (
        li.write.bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey")
        .mode("overwrite")
        .saveAsTable("li_bucketed")
    )
    (
        orders.write.bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey")
        .mode("overwrite")
        .saveAsTable("orders_bucketed")
    )
    yield spark.table("li_bucketed"), spark.table("orders_bucketed")
    spark.sql("DROP TABLE IF EXISTS li_bucketed")
    spark.sql("DROP TABLE IF EXISTS orders_bucketed")


def test_bucketed_join_has_no_shuffle(spark, bucketed_tables):
    li, orders = bucketed_tables
    # Fixture tables are broadcast-sized, which bypasses bucketing —
    # disable auto-broadcast to expose the shuffle-join path that
    # bucketing exists to optimize (at 100 TB neither side broadcasts).
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = li.join(orders, li.l_orderkey == orders.o_orderkey)
        plan = physical_plan(joined)
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        # both sides pre-bucketed on the key → no Exchange needed
        assert "Exchange hashpartitioning" not in plan, plan[:2000]
        assert "Bucketed: true" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_bucketed_join_matches_unbucketed(spark, sf_dir, bucketed_tables):
    li_b, orders_b = bucketed_tables
    got = li_b.join(orders_b, li_b.l_orderkey == orders_b.o_orderkey).count()
    li = load_table(spark, "lineitem", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    want = li.join(orders, li.l_orderkey == orders.o_orderkey).count()
    assert got == want


SF1 = "/tmp/spark_graft_sf1"


@pytest.mark.skipif(
    not os.path.isdir(SF1), reason="scale replica absent (scripts/make_scale_data.py)"
)
def test_aqe_splits_skewed_join_at_scale(spark):
    """AQE skew-join split, demonstrated for real: a deliberately
    hot join key (30% of 6M lineitem rows folded onto one key) makes
    one shuffle partition ~15x the median; with MB-scale partitions
    AQE re-plans the sort-merge join as SortMergeJoin(skew=true),
    splitting the hot partition across tasks. This is the runtime
    half of the engine's skew story (the static half is salting)."""
    confs = {
        # 32 reduce partitions: with the test session's default 4,
        # the hot partition's hash siblings dilute the skew below the
        # detection factor (hot/median ≈ 1.5x); at 32 it is ~15x.
        "spark.sql.shuffle.partitions": "32",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "2MB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = spark.read.parquet(f"{SF1}/lineitem.parquet")
        orders = spark.read.parquet(f"{SF1}/orders.parquet")
        skewed = li.withColumn(
            "join_key",
            F.when(F.col("l_orderkey") % 10 < 3, F.lit(42)).otherwise(
                F.col("l_orderkey")
            ),
        )
        right = orders.withColumn("join_key", F.col("o_orderkey"))
        j = skewed.join(right, "join_key").select(
            "join_key", "l_quantity", "o_totalprice"
        )
        # consume one output partition: forces the map stages, so AQE
        # plans the final stage with real shuffle stats.
        next(j.toLocalIterator())
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:2000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_ivf_geometry_env_overrides_bake_into_both_engines():
    """The IVF/RAG geometry knobs (SPARK_GRAFT_IVF_NLIST / RAG_NLIST /
    RAG_NPROBE / RAG_ASSIGN) must flow into the module constants AND
    the import-time-baked DuckDB oracle SQL together — a knob that
    moved only one engine would silently break the value check."""
    import json
    import subprocess
    import sys

    code = (
        "import json\n"
        "from validation_database_spark.suite import similarity as s\n"
        "from validation_database_spark.suite.similarity import _oracle_rag_ivf\n"
        "print(json.dumps({'cap': s.RAG_CENT_CAP, 'nprobe': s.RAG_N_PROBE,"
        " 'assign': s.RAG_ASSIGN, 'nlist': s.CENTROID_CAP,"
        " 'oracle_has_cap': ('doc_id < ' + str(s.RAG_CENT_MOD * s.RAG_CENT_CAP))"
        " in _oracle_rag_ivf()}))\n"
    )
    import os

    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_RAG_NLIST="256",
        SPARK_GRAFT_RAG_NPROBE="5",
        SPARK_GRAFT_RAG_ASSIGN="3",
        SPARK_GRAFT_IVF_NLIST="128",
    )
    out = subprocess.run(
        [sys.executable, "-c", code], env=env, capture_output=True, text=True
    )
    assert out.returncode == 0, out.stderr[-2000:]
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert got == {
        "cap": 256,
        "nprobe": 5,
        "assign": 3,
        "nlist": 128,
        "oracle_has_cap": True,
    }, got


@pytest.mark.parametrize("shape", ["global", "lang", "tag_union"])
def test_grouped_row_number_matches_window_form(spark, sf_dir, shape):
    """grouped_row_number ≡ row_number() OVER (PARTITION BY group
    ORDER BY key) — on a round-robin-spread input so the
    range-partition boundaries genuinely split groups across
    partitions (the regime the helper exists for), NULL group rows
    kept. Three shapes: no groups (the global rank the sort-rank
    queries use), a language key including a value absent from
    MIX_TARGETS-style configs, and report_summary's tag-union of
    several lists (one of them NULL-tagged)."""
    from functools import reduce

    from pyspark.sql import DataFrame, Window

    from validation_database_spark.operators.report import grouped_row_number

    docs = (
        load_table(spark, "documents", sf_dir)
        .select("doc_id", "lang")
        .withColumn(
            "lang",
            F.when(F.col("doc_id") % 97 == 0, F.lit(None)).otherwise(
                F.col("lang")
            ),
        )
        .withColumn("key", F.md5(F.col("doc_id").cast("string")))
    )
    groups = {"global": [], "lang": ["lang"], "tag_union": ["__tag"]}[shape]
    if shape == "tag_union":
        tags = ["m1", "m2", "dv", None]
        docs = reduce(
            DataFrame.unionByName,
            [
                docs.filter(F.col("doc_id") % len(tags) == i).select(
                    F.lit(tag).cast("string").alias("__tag"), "doc_id", "key"
                )
                for i, tag in enumerate(tags)
            ],
        )
    docs = docs.repartition(16)  # destroy any helpful pre-ordering
    got = grouped_row_number(docs, groups, ["key", "doc_id"], rn_col="rn")
    w = Window.partitionBy(*groups).orderBy("key", "doc_id")
    want = docs.withColumn("rn", F.row_number().over(w).cast("bigint"))
    cols = groups + ["doc_id", "rn"]

    def rows(df):
        return sorted(
            tuple("" if v is None else v for v in r)
            for r in df.select(cols).collect()
        )

    assert dict(got.dtypes)["rn"] == "bigint"
    assert rows(got) == rows(want)


def test_release_rank_pins_unpersists(spark, sf_dir):
    """The rank helper pins its ranked subtree for partition-
    assignment determinism; util.release_pins() must actually empty
    the CacheManager afterwards (ADVICE r6 — CacheManager never GCs,
    so without the release a long session accumulates corpus-sized
    cached frames per invocation)."""
    from validation_database_spark import util
    from validation_database_spark.operators.report import grouped_row_number
    from validation_database_spark.sources import load_table

    spark.catalog.clearCache()
    util._PINNED.clear()
    orders = load_table(spark, "orders", sf_dir).select("o_orderkey")
    ranked = grouped_row_number(orders, [], "o_orderkey")
    assert ranked.count() == orders.count()
    assert util._PINNED, "helper must register its pin"
    cm = spark._jsparkSession.sharedState().cacheManager()
    assert not cm.isEmpty(), "the ranked subtree must be cached"
    util.release_pins()
    assert not util._PINNED
    assert cm.isEmpty(), "release must unpersist every pinned frame"
    # rank values survive the release (recompute path stays correct)
    top = ranked.orderBy("rn").limit(3).collect()
    assert [r.rn for r in top] == [1, 2, 3]


def test_bench_ghost_rule_catches_r7_ann_topk_ghost():
    """The outlier rule must flag the BENCH_r07 ann_topk ghost (warm
    5.82 vs prior 1.53 at near-identical calibration) while leaving
    normal readings — including compile-heavy cold/warm ratios like
    doc_profile's — untouched."""
    import bench

    # the actual r7 ghost: r6 warm 1.53 @ cal 0.794, r7 warm 5.82 @ cal 0.651
    assert bench.ghost_suspicious(5.82, 10.49, 1.53, 0.794, 0.651)
    # the same-box re-run reading is NOT suspicious
    assert not bench.ghost_suspicious(1.28, 1.60, 1.53, 0.794, 0.658)
    # compile-heavy but normal: doc_profile cold 5.6 / warm 2.0 vs prior 1.8
    assert not bench.ghost_suspicious(2.0, 5.6, 1.8, 0.7, 0.7)
    # no prior record: only a slow cold >>3x a >1s warm triggers
    assert bench.ghost_suspicious(1.5, 6.0, None, None, 0.7)
    assert not bench.ghost_suspicious(0.3, 1.6, None, None, 0.7)  # fast spec
    # box 2x slower across rounds: normalization absorbs the doubling
    assert not bench.ghost_suspicious(3.2, 6.0, 1.5, 0.65, 1.30)


def test_prior_round_record_unwraps_driver_wrapper(tmp_path):
    """VERDICT r8: the repo's permanent BENCH files are driver
    wrappers {n, rc, sf, tail, parsed} — reading queries_warm off the
    top level made the prior-round ghost branch dead code
    (prior_warm was ALWAYS null). The loader must unwrap the wrapper,
    skip truncated records (parsed: null, as BENCH_r08), and
    reconstruct queries_warm from the round-9 compact warm_vals form.
    This exercises the FILE path, not just the pure predicate."""
    import json as _json

    import bench

    # r7-style wrapper: payload nested under "parsed"
    payload7 = {
        "metric": "validation_e2e_seconds",
        "value": 2.0,
        "sf": 0.1,
        "queries": {"ann_topk": 1.60, "doc_profile": 5.0},
        "queries_warm": {"ann_topk": 1.28, "doc_profile": 2.0},
        "calibration_sec": 0.658,
    }
    (tmp_path / "BENCH_r07.json").write_text(
        _json.dumps({"n": 7, "rc": 0, "sf": 0.1, "tail": "x", "parsed": payload7})
    )
    # r8-style truncated record: parsed is null -> must be skipped
    (tmp_path / "BENCH_r08.json").write_text(
        _json.dumps({"n": 8, "rc": 0, "sf": 0.1, "tail": "trunc", "parsed": None})
    )
    rec = bench.prior_round_record("0.1", root=str(tmp_path))
    assert rec is not None
    assert rec["queries_warm"]["ann_topk"] == 1.28
    assert rec["calibration_sec"] == 0.658
    # the ghost branch that was dead now fires end-to-end off the file
    assert bench.ghost_suspicious(
        5.82, 10.49, rec["queries_warm"]["ann_topk"], rec["calibration_sec"], 0.651
    )
    # cross-SF records must not match
    assert bench.prior_round_record("0.01", root=str(tmp_path)) is None

    # round-9 compact form: warm_vals array ordered like queries
    payload9 = {
        "sf": 0.1,
        "queries": {"a": 1.5, "b": 2.5},
        "warm_vals": [1.1, 2.1],
        "calibration_sec": 0.7,
    }
    (tmp_path / "BENCH_r09.json").write_text(
        _json.dumps({"n": 9, "rc": 0, "sf": 0.1, "tail": "y", "parsed": payload9})
    )
    rec9 = bench.prior_round_record("0.1", root=str(tmp_path))
    assert rec9["queries_warm"] == {"a": 1.1, "b": 2.1}


def test_repo_bench_history_resolves_a_usable_prior():
    """Against the repo's REAL BENCH_r*.json history the loader must
    find a usable sf0.1 prior (r8 is parsed:null and must be skipped
    in favor of r7) with non-null warm timings."""
    import bench

    rec = bench.prior_round_record("0.1")
    assert rec is not None
    assert rec.get("calibration_sec")
    assert rec["queries_warm"].get("ann_topk") is not None


def test_bench_stdout_line_fits_driver_tail_capture():
    """BENCH_r08 was recorded with parsed:null because the stdout
    JSON line outgrew the driver's 2000-char tail capture. Pin the
    worst-case compact line under 1800 chars for the CURRENT spec
    surface (every timed entry at a 4-digit-seconds reading), and
    pin the warm_vals reconstruction roundtrip."""
    import json as _json

    import bench
    from validation_database_spark.suite import all_specs, unit_specs

    specs = all_specs()
    specs.update({n: s for n, s in unit_specs().items() if s.headline})
    # mirror bench.main's timed-set selection exactly
    extra = [n for n in specs if n not in bench.HEADLINE and specs[n].headline]
    names = bench.HEADLINE + extra + ["__suite_total"]
    q = {n: 999.9999 for n in names}
    payload = {
        "metric": "validation_e2e_seconds",
        "value": 999.9999,
        "unit": "sec",
        "queries": q,
        "queries_warm": dict(q),
        "sf": 0.1,
        "calibration_sec": 0.7777,
        "calibration_1t_sec": 0.7777,
        "value_cold": 999.9999,
        "baseline_match": {
            "rows": 1_500_000,
            "e2e_sec": 999.9999,
            "e2e_cold_sec": 999.9999,
            "baseline_rows": 1_940_000,
            "baseline_sec": 8.94,
        },
        "outlier_reruns": {
            n: {"cold": 9.9, "warm_first": 9.9, "extra": [9.9, 9.9]}
            for n in names[:3]
        },
    }
    line = _json.dumps(bench.compact_payload(payload))
    assert len(line) < 1800, f"stdout line {len(line)} chars >= 1800"
    # roundtrip: unwrap_record recovers the warm dict from the wrapper
    rec = bench.unwrap_record(
        {"n": 9, "rc": 0, "sf": 0.1, "tail": "", "parsed": _json.loads(line)}
    )
    assert rec["queries_warm"] == {n: 1000.0 for n in names}


def test_compact_payload_preserves_metadata_precision():
    """ADVICE r9: compact_payload must round only timings — ``sf``
    must survive exactly (prior_round_record matches records by same
    SF, and round(0.001, 2) == 0.0 would orphan sub-0.005 scale
    factors) and the calibration numbers feed the ghost ratio at full
    precision."""
    import bench

    payload = {
        "metric": "validation_e2e_seconds",
        "value": 1.23456,
        "unit": "sec",
        "queries": {"a": 1.23456},
        "queries_warm": {"a": 1.11111},
        "sf": 0.001,
        "calibration_sec": 0.7777,
        "calibration_1t_sec": 0.3333,
        "calibration_ratio": 2.3334,
    }
    out = bench.compact_payload(payload)
    assert out["sf"] == 0.001
    assert out["calibration_sec"] == 0.7777
    assert out["calibration_1t_sec"] == 0.3333
    assert out["calibration_ratio"] == 2.3334
    assert out["value"] == 1.23
    assert out["queries"] == {"a": 1.23}
    assert out["warm_vals"] == [1.11]


def test_prior_record_feeds_composite_priors():
    """The composite ghost rule is only live if the prior-round
    loader actually surfaces `value`, `calibration_sec`, and
    `baseline_match.e2e_sec` from the repo's real BENCH wrappers —
    the round-8 lesson was exactly a prior branch that was silently
    dead (queries_warm read off the wrong nesting level made
    prior_warm always null)."""
    import bench

    prior = bench.prior_round_record("0.1")
    assert prior is not None
    assert isinstance(prior.get("value"), (int, float))
    assert isinstance(prior.get("calibration_sec"), (int, float))
    assert isinstance(
        (prior.get("baseline_match") or {}).get("e2e_sec"), (int, float)
    )


def test_median_protected_warm_guards_composites():
    """VERDICT r10 ask #2: the composites (``value``/
    ``baseline_match``) get the same ghost-rule median protection as
    the per-query entries — a warm reading far above the prior
    round's box-normalized composite triggers two extra steady runs
    and reports their median; a flat reading passes through with NO
    extra engine runs."""
    import bench

    reruns: dict = {}
    calls: list = []

    def run():
        calls.append(1)
        return 2.6

    # 6.48 vs a 2.54 prior at matched calibration: over the 2x+slack
    # threshold -> two re-runs, median of [6.48, 2.6, 2.6] = 2.6
    out = bench.median_protected_warm(
        "e2e", run, 6.5, 6.48, 2.54, 0.9, 0.9, reruns
    )
    assert out == 2.6
    assert len(calls) == 2
    assert reruns["e2e"]["warm_first"] == 6.48
    assert reruns["e2e"]["extra"] == [2.6, 2.6]

    # flat reading: untouched, no extra runs, no flag
    calls.clear()
    reruns.clear()
    out = bench.median_protected_warm(
        "baseline_match", run, 2.7, 2.5, 2.54, 0.9, 0.9, reruns
    )
    assert out == 2.5 and not calls and not reruns


def test_contention_rule_catches_r10_and_passes_quiet_rounds():
    """VERDICT r11 ask #3: the calibration-ratio gate must flag the
    r10 contended session (ratio 3.32 vs r9's 1.92) under BOTH arms,
    pass the quiet rounds (r11's 1.92 even against r10's contended
    3.32 prior — below both arms), and stay closed on missing
    data."""
    import bench

    # r10 vs r9: trips both arms (3.32 > 2.5, and > 1.5 * 1.92)
    assert bench.contention_suspicious(3.32, 1.92)
    # absolute arm alone: prior round was itself contended
    assert bench.contention_suspicious(3.4, 3.32)
    # r11 vs r10's contended prior: 1.92 passes (below abs, below rel)
    assert not bench.contention_suspicious(1.92, 3.32)
    # r9-style quiet round vs quiet prior
    assert not bench.contention_suspicious(1.92, 1.92)
    # moderate theft the absolute arm misses, relative arm catches
    assert bench.contention_suspicious(2.4, 1.5)
    # missing data: closed
    assert not bench.contention_suspicious(None, 1.9)
    assert not bench.contention_suspicious(2.4, None)


def test_contention_ratio_is_core_normalized():
    """The raw parallel/1t ratio scales ~1/cores (the parallel
    control is a fixed 33× the 1t workload), so a local[8] iteration
    run ideally reads ~4.2 — the gate's first live firing mis-flagged
    exactly that (a QUIET 8-core verify run read 4.37 and was
    stamped contended). Normalized to the 32-core reference, 8-core
    quiet sessions pass and the 32-core history reads unchanged."""
    import bench

    # identity at the reference width — all historical records
    assert bench.normalized_ratio(3.32, 32) == 3.32
    assert bench.normalized_ratio(1.92, None) == 1.92
    assert bench.normalized_ratio(None, 8) is None
    # the mis-flagged quiet local[8] verify run: 4.37 → 1.09, passes
    assert not bench.contention_suspicious(
        bench.normalized_ratio(4.37, 8), 1.92
    )
    # genuinely contended 8-core session (raw ~12 = 3x ideal): trips
    assert bench.contention_suspicious(bench.normalized_ratio(12.0, 8), 1.92)


def test_prior_calibration_ratio_reads_field_or_derives():
    """The contention gate's prior comes from the recorded
    calibration_ratio (r11+) or is derived from the two controls for
    pre-r11 records; absent both, None (gate falls back to the
    absolute arm only)."""
    import bench

    assert bench.prior_calibration_ratio({"calibration_ratio": 1.92}) == 1.92
    assert bench.prior_calibration_ratio(
        {"calibration_sec": 1.51, "calibration_1t_sec": 0.455}
    ) == round(1.51 / 0.455, 4)
    assert bench.prior_calibration_ratio({"calibration_sec": 1.51}) is None
    assert bench.prior_calibration_ratio(None) is None
    # the repo's real prior record must yield a usable ratio
    prior = bench.prior_round_record("0.1")
    assert bench.prior_calibration_ratio(prior) is not None


def test_bench_detail_filename_isolated_in_only_mode():
    """ADVICE r9: --only isolation runs must not clobber the round's
    permanent BENCH_DETAIL.json with a partial payload. The filename
    choice is a function tested by RETURN VALUE (ADVICE r10: the old
    source-string pin broke on cosmetic rewording and would have
    survived a behavioral regression that kept the string)."""
    import bench

    assert bench.detail_filename([]) == "BENCH_DETAIL.json"
    assert bench.detail_filename(None) == "BENCH_DETAIL.json"
    assert bench.detail_filename(["e2e"]) == "BENCH_DETAIL_only.json"
    assert (
        bench.detail_filename(["a", "b"]) == "BENCH_DETAIL_only.json"
    )


def test_lsh_chunked_verify_equals_census(spark, sf_dir, tmp_path):
    """VERDICT r10 ask #7: the chunked full-verify must be EXACTLY the
    census — verify(pairs) == UNION over k of verify(chunk k) because
    jaccard_verify is row-local in pairs and each chunk's doc_id
    semi-join keeps full shingle sets. Pin totals (row count, jaccard
    checksum, >=0.5 count) against the one-shot pipeline."""
    import importlib.util
    import os

    from pyspark.sql import functions as F

    from validation_database_spark.suite.dedup import q_dedup_minhash_lsh

    spec = importlib.util.spec_from_file_location(
        "lsh_chunked_verify",
        os.path.join(os.path.dirname(os.path.dirname(__file__)),
                     "scripts", "lsh_chunked_verify.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    mod.phase_a(spark, sf_dir, str(tmp_path), chunks=3)
    tot = {"verified": 0, "jsum": 0.0, "ge_05": 0, "ge_07": 0}
    for k in range(3):
        row = mod.verify_chunk(spark, sf_dir, str(tmp_path), k)
        tot["verified"] += row["verified"]
        tot["jsum"] = round(tot["jsum"] + row["jsum"], 6)
        tot["ge_05"] += row["ge_05"]
        tot["ge_07"] += row["ge_07"]

    census = q_dedup_minhash_lsh(spark, sf_dir).agg(
        F.count("*").alias("verified"),
        F.sum("jaccard").alias("jsum"),
        F.sum((F.col("jaccard") >= 0.5).cast("long")).alias("ge_05"),
        F.sum((F.col("jaccard") >= 0.7).cast("long")).alias("ge_07"),
    ).collect()[0]
    from validation_database_spark.util import release_pins

    release_pins()
    assert tot["verified"] == census["verified"] > 0
    assert tot["ge_05"] == census["ge_05"]
    assert tot["ge_07"] == census["ge_07"]
    assert abs(tot["jsum"] - float(census["jsum"])) < 1e-3


def test_lsh_chunked_verify_phase_b_guards(tmp_path):
    """ADVICE r11, both items: (1) a manual ``--phase b`` without
    ``--chunk`` must ERROR, not silently verify an empty set; (2) the
    driver-mode subprocess parse must select rows by parsed JSON
    phase, surviving formatting changes and polluted stdout."""
    import json
    import importlib.util
    import os
    import subprocess
    import sys

    script = os.path.join(os.path.dirname(os.path.dirname(__file__)),
                          "scripts", "lsh_chunked_verify.py")
    out = subprocess.run(
        [sys.executable, script, "/root/testdata/sf0.001",
         "--workdir", str(tmp_path), "--phase", "b"],
        capture_output=True, text=True, timeout=60,
    )
    assert out.returncode != 0
    assert "--chunk" in out.stderr

    spec = importlib.util.spec_from_file_location("lsh_chunked_verify", script)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    good = {"phase": "b", "chunk": 1, "verified": 3}
    stdout = "\n".join([
        "WARN some spark noise",
        json.dumps({"phase": "a", "candidates": 9}),
        json.dumps(good, indent=None, separators=(", ", ": ")),
        "not json at all",
    ])
    assert mod.phase_b_rows(stdout) == [good]
    assert mod.phase_b_rows("WARN only noise\n") == []


def test_verify_harness_releases_pins_per_spec():
    """Round 10: the sf0.1 contract sweep OOM'd the 8 GB driver after
    ~37 window specs because verify_contract.py never released the
    determinism pins specs accumulate (bench.py has done so since
    ADVICE r6). Pin the discipline into the harness source so a
    refactor cannot silently drop it."""
    import os

    src = open(
        os.path.join(os.path.dirname(os.path.dirname(__file__)),
                     "scripts", "verify_contract.py")
    ).read()
    assert "release_pins" in src
    assert "finally:" in src and "release_pins()" in src.split("finally:")[1]
