"""The Arrow nearest-seed kernel (suite/similarity.py::
_nearest_seed_arrow) must reproduce the SQL engines' argmin contract
bit-for-bit: squared-L2 over e6 int64 coordinates, ties broken to the
SMALLEST seed id — the min(struct(d, id)) / row_number(ORDER BY d, id)
rule both the JVM form and the DuckDB oracle share. These pins cover
the two spots a vectorized rewrite can silently diverge: the
first-occurrence tie-break (only correct because the seed matrix is
sorted by id) and int64 exactness near the operator's documented
coordinate bounds (|coord| ≈ 1.4e6, where a float64 detour would
round the expanded x·x + c·c − 2x·c form)."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType, StructField, StructType


def _seed_df(spark, rows):
    schema = StructType(
        [
            StructField("sid", LongType()),
            StructField("sx", ArrayType(LongType())),
        ]
    )
    return spark.createDataFrame(rows, schema)


def _jvm_argmin(spark, seeds, points):
    """The reference JVM form: min(struct(sqdist, id)) over a
    broadcast cross join — the shape the kernel replaced."""
    pts = spark.createDataFrame(
        points,
        StructType(
            [
                StructField("pid", LongType()),
                StructField("x", ArrayType(LongType())),
            ]
        ),
    )
    d = F.aggregate(
        F.zip_with("x", "sx", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    out = (
        pts.crossJoin(F.broadcast(seeds))
        .groupBy("pid")
        .agg(F.min(F.struct(d.alias("d"), F.col("sid").alias("id"))).alias("b"))
        .select("pid", F.col("b.id").alias("sid"))
    )
    return {r.pid: r.sid for r in out.collect()}


def _kernel_argmin(spark, seeds, points):
    from validation_database_spark.suite.similarity import _nearest_seed_arrow

    pts = spark.createDataFrame(
        points,
        StructType(
            [
                StructField("pid", LongType()),
                StructField("x", ArrayType(LongType())),
            ]
        ),
    )
    nearest = _nearest_seed_arrow(seeds, "sid", "sx")
    out = pts.select("pid", nearest(F.col("x")).alias("sid"))
    return {r.pid: r.sid for r in out.collect()}


def test_tie_breaks_to_smallest_seed_id(spark):
    # seeds 30 and 10 sit symmetrically around the probe on axis 0:
    # identical sqdist, so the contract picks id 10. Seed 20 is the
    # unambiguous winner for the second probe. Ids arrive UNSORTED to
    # prove the kernel's internal id-sort (not input order) settles
    # the tie.
    seeds = _seed_df(
        spark,
        [
            (30, [2, 0, 0]),
            (10, [-2, 0, 0]),
            (20, [100, 100, 100]),
        ],
    )
    points = [(1, [0, 0, 0]), (2, [99, 99, 99])]
    got = _kernel_argmin(spark, seeds, points)
    assert got == {1: 10, 2: 20}
    assert got == _jvm_argmin(spark, seeds, points)


def test_exact_at_e6_coordinate_bounds(spark):
    # coordinates at the e6 unit-vector extreme (±1.4e6): the
    # expanded int64 form must stay exact where float64 (53-bit
    # mantissa) would lose the low bits of x·x + c·c − 2x·c. Two
    # seeds 1 apart in one dimension force a decision at the last
    # integer ulp.
    big = 1_400_000
    seeds = _seed_df(
        spark,
        [
            (1, [big, -big, big, -big]),
            (2, [big, -big, big, -big + 1]),
        ],
    )
    # probe sits exactly on seed 2's corner: d(seed2)=0, d(seed1)=1
    points = [(7, [big, -big, big, -big + 1])]
    got = _kernel_argmin(spark, seeds, points)
    assert got == {7: 2}
    assert got == _jvm_argmin(spark, seeds, points)


def test_matches_jvm_form_on_hashed_fanout(spark):
    # 40 deterministic pseudo-random points vs 7 seeds, full
    # cross-check against the JVM reference form — the general-case
    # equivalence sweep (includes negative coords and coincident
    # points).
    import hashlib

    def vec(tag: str, d: int = 6) -> list[int]:
        return [
            int(hashlib.md5(f"{tag}|{i}".encode()).hexdigest()[:8], 16) % 2_800_001
            - 1_400_000
            for i in range(d)
        ]

    seeds = _seed_df(spark, [(s, vec(f"s{s}")) for s in range(7)])
    points = [(p, vec(f"p{p % 37}")) for p in range(40)]  # 3 repeats
    assert _kernel_argmin(spark, seeds, points) == _jvm_argmin(
        spark, seeds, points
    )


def test_chunked_path_identical_to_unchunked(spark):
    # The memory-bounding row-chunk loop must not change any
    # assignment: force chunk=3 (boundary-straddling the 40-point
    # batch 14 times) and compare against the unchunked kernel.
    import hashlib

    from pyspark.sql import functions as F
    from pyspark.sql.types import ArrayType, LongType, StructField, StructType

    from validation_database_spark.suite.similarity import _nearest_seed_arrow

    def vec(tag: str, d: int = 5) -> list[int]:
        return [
            int(hashlib.md5(f"{tag}|{i}".encode()).hexdigest()[:8], 16) % 2_000_001
            - 1_000_000
            for i in range(d)
        ]

    seeds = _seed_df(spark, [(s, vec(f"cs{s}")) for s in range(9)])
    pts = spark.createDataFrame(
        [(p, vec(f"cp{p}")) for p in range(40)],
        StructType(
            [
                StructField("pid", LongType()),
                StructField("x", ArrayType(LongType())),
            ]
        ),
    )
    whole = _nearest_seed_arrow(seeds, "sid", "sx")
    chunked = _nearest_seed_arrow(seeds, "sid", "sx", _chunk=3)
    out = pts.select(
        "pid", whole(F.col("x")).alias("a"), chunked(F.col("x")).alias("b")
    )
    assert out.filter("a <> b").count() == 0


def test_empty_seed_table_routes_all_to_null(spark):
    """ADVICE r8: an empty seed table (the md5 1-in-50 sample can
    select nothing on a small corpus) must not crash the kernel build
    with a 0-row numpy AxisError — every vector routes to NULL, so
    the downstream equi-join drops it and semantic_dedup_hier_frame
    degrades to an empty result like the pre-Arrow SQL form did."""
    seeds = _seed_df(spark, [])
    from pyspark.sql.types import ArrayType, LongType, StructField, StructType

    from validation_database_spark.suite.similarity import _nearest_seed_arrow

    pts = spark.createDataFrame(
        [(1, [0, 0, 0]), (2, [5, 5, 5])],
        StructType(
            [
                StructField("pid", LongType()),
                StructField("x", ArrayType(LongType())),
            ]
        ),
    )
    nearest = _nearest_seed_arrow(seeds, "sid", "sx")
    rows = pts.select("pid", nearest(F.col("x")).alias("sid")).collect()
    assert [r.sid for r in rows] == [None, None]


def test_null_vectors_route_to_null_not_crash(spark):
    """ADVICE r8: a null quantized vector or a null ELEMENT (a
    zero-norm embedding normalizes to null) must null-route through
    the kernel — the pre-Arrow SQL argmin propagated NULL — instead
    of throwing from np.array inside the pandas UDF. Valid rows in
    the same Arrow batch keep their exact assignments."""
    seeds = _seed_df(spark, [(10, [0, 0, 0]), (20, [100, 100, 100])])
    from pyspark.sql.types import ArrayType, LongType, StructField, StructType

    from validation_database_spark.suite.similarity import _nearest_seed_arrow

    pts = spark.createDataFrame(
        [
            (1, [1, 1, 1]),
            (2, None),
            (3, [99, None, 99]),
            (4, [99, 99, 99]),
        ],
        StructType(
            [
                StructField("pid", LongType()),
                StructField("x", ArrayType(LongType())),
            ]
        ),
    )
    nearest = _nearest_seed_arrow(seeds, "sid", "sx")
    got = {
        r.pid: r.sid
        for r in pts.select("pid", nearest(F.col("x")).alias("sid")).collect()
    }
    assert got == {1: 10, 2: None, 3: None, 4: 20}


def test_hier_frame_short_circuits_on_seedless_corpus(spark):
    """End-to-end: a corpus whose md5 sample yields zero seeds must
    produce an EMPTY assignment frame from semantic_dedup_hier_frame
    (schema intact), not an AxisError from the kernel build."""
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    from validation_database_spark.suite import similarity as S

    # vec_ids chosen so md5(id) first-4-hex >= the seed threshold:
    # probe a few ids and keep non-seeds only
    import hashlib

    ids = [
        i
        for i in range(1, 400)
        if hashlib.md5(str(i).encode()).hexdigest()[:4] >= S.SEMDEDUP_SEED_HEX
    ][:20]
    assert ids, "fixture needs at least one non-seed id"
    vecs = spark.createDataFrame(
        [(i, [float(i), 1.0, 2.0]) for i in ids],
        StructType(
            [
                StructField("vec_id", LongType()),
                StructField("embedding", ArrayType(DoubleType())),
            ]
        ),
    )
    out = S.semantic_dedup_hier_frame(vecs)
    assert out.count() == 0
    assert set(out.columns) == {"vec_id", "cluster", "n_dups", "keep"}


def test_kernel_memoized_on_seed_fingerprint(spark):
    """VERDICT r8 ask #5: two builds over IDENTICAL seed tables must
    return the SAME function object (a pandas UDF embeds the Python
    function's identity in the plan, so distinct-but-equal kernels
    produced plans CacheManager could not unify — the scale100 warm
    pass re-executed the routing). Different seeds or a different
    chunk setting must still build distinct kernels."""
    from validation_database_spark.suite.similarity import (
        _NEAREST_KERNEL_MEMO,
        _nearest_seed_arrow,
    )

    _NEAREST_KERNEL_MEMO.clear()
    seeds = _seed_df(spark, [(10, [0, 0, 0]), (20, [9, 9, 9])])
    k1 = _nearest_seed_arrow(seeds, "sid", "sx")
    k2 = _nearest_seed_arrow(_seed_df(spark, [(20, [9, 9, 9]), (10, [0, 0, 0])]), "sid", "sx")
    assert k1 is k2, "identical seed fingerprint must reuse the kernel"
    k3 = _nearest_seed_arrow(_seed_df(spark, [(10, [0, 0, 1]), (20, [9, 9, 9])]), "sid", "sx")
    assert k3 is not k1
    k4 = _nearest_seed_arrow(seeds, "sid", "sx", _chunk=3)
    assert k4 is not k1


def test_memo_evicts_lru_not_wholesale(spark):
    """ADVICE r9: at capacity the memo must evict only the LEAST
    RECENTLY USED geometry — a wholesale clear() made any workload
    alternating more than 8 geometries thrash and silently lose the
    plan-cache unification the memo exists for. A hit refreshes
    recency."""
    from validation_database_spark.suite.similarity import (
        _NEAREST_KERNEL_MEMO,
        _nearest_seed_arrow,
    )

    _NEAREST_KERNEL_MEMO.clear()
    seed_tables = [
        _seed_df(spark, [(10, [i, 0, 0]), (20, [9, 9, 9])]) for i in range(9)
    ]
    kernels = [_nearest_seed_arrow(s, "sid", "sx") for s in seed_tables[:8]]
    assert len(_NEAREST_KERNEL_MEMO) == 8
    # touch geometry 0 so it becomes most-recent; inserting a 9th must
    # then evict geometry 1 (the oldest untouched), NOT everything
    assert _nearest_seed_arrow(seed_tables[0], "sid", "sx") is kernels[0]
    _nearest_seed_arrow(seed_tables[8], "sid", "sx")
    assert len(_NEAREST_KERNEL_MEMO) == 8
    assert _nearest_seed_arrow(seed_tables[0], "sid", "sx") is kernels[0]
    assert _nearest_seed_arrow(seed_tables[7], "sid", "sx") is kernels[7]
    assert _nearest_seed_arrow(seed_tables[1], "sid", "sx") is not kernels[1]
    _NEAREST_KERNEL_MEMO.clear()


def test_hier_frame_runs_the_kernel_once_per_vector(spark, sf_dir, monkeypatch):
    """One materialization of semantic_dedup_hier_frame feeds the
    nearest-seed kernel each vector exactly once: the fine seeds'
    routing is read from the vectors' pass, and neither a second
    consumer nor the null filter the optimizer infers from the ccid
    join evaluates it again."""
    from validation_database_spark import util
    from validation_database_spark.sources import load_table
    from validation_database_spark.suite import similarity as S

    seen = spark.sparkContext.accumulator(0)
    real = S._nearest_seed_arrow

    def counting(seeds, id_col, vec_col, _chunk=None):
        inner = real(seeds, id_col, vec_col, _chunk).func

        @F.pandas_udf("bigint")
        def nearest(xs: pd.Series) -> pd.Series:
            seen.add(len(xs))
            return inner(xs)

        return nearest

    monkeypatch.setattr(S, "_nearest_seed_arrow", counting)
    vecs = load_table(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    n = vecs.count()
    with util.pin_scope():
        S.semantic_dedup_hier_frame(vecs).write.format("noop").mode("overwrite").save()
    assert seen.value == n
