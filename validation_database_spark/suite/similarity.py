"""Similarity search over ``embeddings`` (north-star extension):
brute-force cosine top-k as the exactness baseline, and an IVF
(inverted-file) variant as the scale path — assign vectors to coarse
centroid cells, probe only the nearest cells at query time.

Query/centroid sets are deterministic modular selections of the
vector ids so both engines derive identical inputs. Cosines are
rounded to 6 decimals *before* ranking/thresholding, with vec_id as
the final tiebreak — identical row selection on both engines.

Scale posture: the centroid set is tiny and broadcast; the per-vector
assignment is a row-local selection over |centroids| (a narrow map
at any scale), and query probing touches only nprobe cells — the
brute-force O(n·q) path exists solely as the verification baseline.
The five IVF builders (float and e6 ANN, float and e6 RAG, IVF-PQ)
compose the build / probe / score steps of ``operators/ivf.py``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import ivf
from ..operators.fanout import cogroup_parts, fanout_layout, parquet_rows
from ..operators.ivf import stack_int64
from ..operators.vectors import (
    dot,
    dot_expr,
    dot_sql,
    l2_norm,
    l2_norm_expr,
    unit_sql,
)
from ..sources import load_table
from ..util import SPREAD, pin, select_steps, spread
from . import QuerySpec

def _geo(name: str, default: int) -> int:
    """IVF/RAG geometry knob (verdict r5 ask #5): the DEFAULT is the
    fixture-determinism value every oracle replays; a deployment sizes
    it to the corpus (nlist ∝ √n, the Faiss guideline) via
    ``SPARK_GRAFT_<NAME>``. Read once at import so the Spark builders
    and the f-string DuckDB oracles bake the SAME geometry — the
    cross-engine value check stays exact at any setting (SCALE.md's
    "IVF geometry sweep" has the measured nlist 64-vs-256 slope)."""
    import os

    return int(os.environ.get(f"SPARK_GRAFT_{name}", default))


TOP_K = 10
N_PROBE = _geo("IVF_NPROBE", 2)
QUERY_MOD = 100   # vec_id % 100 == 0 → query set
CENTROID_MOD = 50
CENTROID_OFF = 7  # vec_id % 50 == 7 → centroid set
# IVF nlist is a FIXED index parameter, not a function of corpus size:
# without a cap the modular selection yields n/50 centroids, making
# the assignment pass O(n²/50) — measured 86.8 s warm at the 100×
# replica (100k vectors × 2000 centroids). The cap keeps the fixture
# SFs unchanged (sf0.1 has 40 modular centroids < 64) and bounds the
# index at scale, where you would train nlist centroids, not sample
# n/50. Overridable: SPARK_GRAFT_IVF_NLIST (see _geo).
CENTROID_CAP = _geo("IVF_NLIST", 64)  # vec_id DIV 50 < cap
# K for the k-means OP (and SemDeDup's spherical variant) gets the
# same treatment (round 7 — the r5 100× note flagged exactly this:
# "the modular centroid selection grows K with the corpus, so
# assignment cost is n·K; a production run pins K"). 256 keeps every
# fixture SF bit-identical (sf0.01 seeds 20, sf0.1 seeds 200 — both
# below the cap) and bounds the 100× replica at K=256 instead of
# n/50=2000, where Lloyd assignment alone measured 317 s cold. K=256
# also balances SemDeDup's two cost terms at that scale (assign n·K
# vs within-cluster pairs Σc² ≈ n²/K — see SCALE.md round 7).
# Overridable: SPARK_GRAFT_KMEANS_K.
KMEANS_K_CAP = _geo("KMEANS_K", 256)


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread: the scoring joins' probe side must not sit on one scan
    # partition (single-file fixture); see util.spread.
    return spread(load_table(spark, "embeddings", sf_dir).select("vec_id", "embedding"))


_UNIT_EMB_STEPS = (
    ("vec_id", "embedding", f"{l2_norm_expr('embedding')} AS __nrm"),
    SPREAD,
    ("vec_id", "transform(embedding, x -> cast(x as double) / __nrm) AS u"),
)


def _unit_emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, u): unit-normalized vectors. cosine(a, b) ==
    dot(unit(a), unit(b)), so normalizing once per ROW makes every
    candidate-pair cosine ONE sequential dot instead of three
    (dot + both norms) — at n·q pairs that is the dominant cost.

    The norm is computed in a projection BEFORE the spread()
    repartition: the exchange is a projection-collapse barrier, so
    the O(d) norm fold runs once per row instead of being inlined
    into the element-wise division lambda (d times per row).

    Built from Spark-SQL strings: the Column-API lambda chain costs
    one py4j round trip per node on EVERY build; the strings are the
    literal rendering of the same tree (sameSemantics-pinned in
    tests/test_plans.py)."""
    return select_steps(load_table(spark, "embeddings", sf_dir), _UNIT_EMB_STEPS)


def _ann_cent_pred() -> str:
    return (
        f"vec_id % {CENTROID_MOD} = {CENTROID_OFF}"
        f" AND vec_id < {CENTROID_MOD * CENTROID_CAP}"
    )


def _ann_queries(emb: DataFrame, vec: str = "u", out: str = "q_u") -> DataFrame:
    return emb.filter(f"vec_id % {QUERY_MOD} = 0").selectExpr(
        "vec_id AS query_id", f"{vec} AS {out}"
    )


_UNITS_CTE = (
    f"units AS (SELECT vec_id, {unit_sql('embedding')} AS u FROM embeddings)"
)


# --- brute-force top-k -------------------------------------------------

def q_ann_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-10 cosine neighbors for each query vector. The query
    side is tiny → broadcast; ranking is a per-query window (fully
    parallel across queries). Vectors are unit-normalized once, so
    each of the n·q scored pairs is a single sequential dot."""
    emb = _unit_emb(spark, sf_dir)
    scored = (
        emb.crossJoin(F.broadcast(_ann_queries(emb)))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(dot(F.col("q_u"), F.col("u")), 6).alias("cos_sim"),
        )
    )
    return ivf.top_k(scored, "query_id", "cos_sim", ["vec_id"], TOP_K)


_COS_QV = dot_sql("q.u", "v.u")

ORACLE_ANN_TOPK = f"""
WITH {_UNITS_CTE}
SELECT query_id, vec_id, cos_sim, rk FROM (
  SELECT q.vec_id AS query_id, v.vec_id AS vec_id,
         ROUND({_COS_QV}, 6) AS cos_sim,
         row_number() OVER (PARTITION BY q.vec_id
                            ORDER BY ROUND({_COS_QV}, 6) DESC, v.vec_id) AS rk
  FROM units q JOIN units v ON v.vec_id <> q.vec_id
  WHERE q.vec_id % {QUERY_MOD} = 0
) WHERE rk <= {TOP_K}
"""


# --- IVF (cell-probed) -------------------------------------------------

# Target fan-out pairs per task for the derived float layout (~5 s of
# the measured 0.58 µs/pair float scoring per slab).
ANN_FLOAT_SLAB = _geo("ANN_FLOAT_SLAB", 8_000_000)
# Probes visit POPULOUS cells preferentially (a cell's probe mass
# correlates with its member mass), so the uniform estimate
# queries·nprobe·(n/nlist) undercounts: the round-11 2M census
# measured 3.21B actual vs 1.25B uniform — ratio 2.6. 2.5 is the
# skew allowance baked into the estimate (an OVER-estimate only
# costs smaller slabs; an under-estimate costs stragglers).
ANN_FANOUT_SKEW = 2.5


def ann_float_layout(n_vectors: int | None) -> tuple[int, int]:
    """Derive the float arm's (salt, parts) from the corpus size.
    Estimated fan-out = (n/QUERY_MOD)·nprobe·(n/nlist)·skew, then
    operators.fanout.fanout_layout targets ANN_FLOAT_SLAB pairs per
    task with the fixture floors (4, 32) — small corpora keep the
    proven fixture layout exactly; the 2M-vector replica derives
    (8, 391), the decade the hand-sized salt 8 / parts 256 run
    measured at 1,993 s cold (SCALE.md round 11). Pinned at both
    anchors by tests/test_fanout.py. None (footer stats unreadable)
    falls back to the floors."""
    if n_vectors is None:
        return fanout_layout(1, CENTROID_CAP, ANN_FLOAT_SLAB)
    nlist = min(CENTROID_CAP, max(n_vectors // CENTROID_MOD, 1))
    est = (
        (n_vectors / QUERY_MOD)
        * N_PROBE
        * (n_vectors / max(nlist, 1))
        * ANN_FANOUT_SKEW
    )
    return fanout_layout(est, nlist, ANN_FLOAT_SLAB)


def _ann_float_index(emb: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(centroid array row, vectors with their nearest ``cent_id``):
    the float build shared by ``q_ann_ivf_cosine`` and ``q_ann_ivfpq``."""
    cents = emb.filter(_ann_cent_pred()).selectExpr("vec_id AS cent_id", "u")
    carr = ivf.centroid_array(cents, "u")
    return carr, ivf.assign_cells(emb, carr, "u", 1)


def q_ann_ivf_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF search: every vector is assigned to its nearest centroid
    cell; each query probes its nprobe=2 nearest cells and ranks only
    the vectors inside them. Results can differ from exact top-k —
    that is the approximation; the oracle runs the identical IVF.

    Build, probe and score are the float steps of operators.ivf. The
    scored fan-out is |probing queries| x |cell| pairs, and it runs in
    the salted, explicitly partitioned layout: its inputs are small,
    so AQE would coalesce the stage to a few partitions (22 at the
    2M-vector replica, where the 3.21B-pair fan-out sorted as
    single-threaded ~146M-row spilling slabs and never finished).
    The layout is derived at plan time from the corpus row count by
    ann_float_layout — fixture corpora keep the (4, 32) floors, the
    2M replica derives (8, 391) — and is value-neutral: same pairs,
    same scores, same tie-breaks (pinned by
    tests/test_ann_recall.py::test_ann_float_salt_is_value_neutral).
    SCALE.md round 11 has the measured 2M point."""
    emb = _unit_emb(spark, sf_dir)
    carr, assigned = _ann_float_index(emb)
    probes = ivf.probe_cells(_ann_queries(emb), carr, "q_u", N_PROBE)
    layout = ann_float_layout(parquet_rows(sf_dir, "embeddings"))
    return ivf.score_float(
        assigned, probes, ["vec_id"], "query_id", "u", "q_u", TOP_K, layout
    )


_COS_VC = dot_sql("v.u", "c.c_u")
_COS_QC = dot_sql("q.u", "c.c_u")

ORACLE_ANN_IVF = f"""
WITH {_UNITS_CTE},
cents AS (
  SELECT vec_id AS cent_id, u AS c_u FROM units
  WHERE vec_id % {CENTROID_MOD} = {CENTROID_OFF}
    AND vec_id < {CENTROID_MOD * CENTROID_CAP}
),
assigned AS (
  SELECT vec_id, u, cent_id FROM (
    SELECT v.vec_id, v.u, c.cent_id,
           row_number() OVER (PARTITION BY v.vec_id
                              ORDER BY ROUND({_COS_VC}, 6) DESC, c.cent_id) AS arn
    FROM units v CROSS JOIN cents c
  ) WHERE arn = 1
),
probes AS (
  SELECT query_id, q_u, cent_id FROM (
    SELECT q.vec_id AS query_id, q.u AS q_u, c.cent_id,
           row_number() OVER (PARTITION BY q.vec_id
                              ORDER BY ROUND({_COS_QC}, 6) DESC, c.cent_id) AS prn
    FROM units q CROSS JOIN cents c
    WHERE q.vec_id % {QUERY_MOD} = 0
  ) WHERE prn <= {N_PROBE}
)
SELECT query_id, vec_id, cos_sim, rk FROM (
  SELECT p.query_id, a.vec_id,
         ROUND({dot_sql('p.q_u', 'a.u')}, 6) AS cos_sim,
         row_number() OVER (PARTITION BY p.query_id
                            ORDER BY ROUND({dot_sql('p.q_u', 'a.u')}, 6) DESC, a.vec_id) AS rk
  FROM probes p JOIN assigned a ON p.cent_id = a.cent_id
  WHERE a.vec_id <> p.query_id
) WHERE rk <= {TOP_K}
"""


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both float ANN paths in one driver-checked result, tagged by
    method: ``brute`` (the exactness baseline) and ``ivf`` (the
    float-cosine IVF arm, fan-out salted + explicitly partitioned so
    its sort slabs stay bounded at scale — see q_ann_ivf_cosine).
    The SERVING-scale arm is `unit_ann_ivf_quant`, the e6-integer
    cogroup twin: SCALE.md round 10 measured the pre-fix float shape
    terminated unfinished at 7,063 s on the 2M-vector / 3.21B-pair
    replica where the quant twin finished in 371 s, and round 11
    re-measures the fixed float arm on the same decade — it now
    finishes, but the quant kernel stays materially faster, so
    "scale path" names the QUANT form. Each method's full
    (query_id, vec_id, cos_sim, rk) ranking is value-verified;
    tests/test_ann_recall.py additionally pins the IVF recall floor
    against the brute-force truth."""
    brute = q_ann_topk_cosine(spark, sf_dir).select(
        F.lit("brute").alias("method"), "query_id", "vec_id", "cos_sim", "rk"
    )
    cells = q_ann_ivf_cosine(spark, sf_dir).select(
        F.lit("ivf").alias("method"), "query_id", "vec_id", "cos_sim", "rk"
    )
    return brute.unionByName(cells)


ORACLE_ANN_TOPK_TAGGED = f"""
SELECT 'brute' AS method, * FROM ({ORACLE_ANN_TOPK})
UNION ALL
SELECT 'ivf' AS method, * FROM ({ORACLE_ANN_IVF})
"""


# --- exact fixed-point k-means ------------------------------------------

KMEANS_ITERS = 2


def _to_e6(col):
    """Elementwise round-half-away e6 integerization of a double/float
    array — the fixed-point domain where both engines' k-means
    arithmetic is bit-identical."""
    return F.transform(
        col,
        lambda v: (
            F.signum(v.cast("double"))
            * F.floor(F.abs(v.cast("double")) * 1_000_000 + F.lit(0.5))
        ).cast("bigint"),
    )


def _to_e6_expr(col: str) -> str:
    """Spark-SQL string rendering of :func:`_to_e6` — same tree, one
    py4j call (sameSemantics-pinned in tests/test_plans.py)."""
    return (
        f"transform({col}, v -> cast(signum(cast(v as double)) * "
        f"floor(abs(cast(v as double)) * 1000000 + 0.5D) as bigint))"
    )


def _kmeans_assignments(
    spark: SparkSession,
    sf_dir: str,
    vecs: DataFrame | None = None,
    k_cap: int | None = None,
) -> DataFrame:
    """Final (vec_id, cid, dist) assignment of the exact fixed-point
    Lloyd run — shared by the k-means query and the SemDeDup pruner.

    ``vecs`` (vec_id, x: array<bigint>) overrides the default
    e6-integerized raw embeddings — SemDeDup passes e6-integerized
    UNIT vectors so that clustering is spherical (magnitude-blind,
    like its cosine dedup criterion).

    Bit-exact across engines: vectors are scaled to e6 integers
    (round half-away — ±0.53 × 64 dims keeps every squared distance
    far inside bigint), distances and centroid means stay in integer
    arithmetic (means rounded half-away via the 2S+n trick), so after
    a FIXED number of iterations both engines hold identical
    centroids and identical assignments — the same exactness pattern
    as the PageRank op.

    Scale shape per iteration: assignment is a broadcast of K
    centroids against the vector table (narrow, no shuffle of the big
    side) + a map-side-combining ``min(struct(dist, cid))`` argmin —
    the same no-rank-window shape as the IVF assignment (the r4 100×
    OOM fix): partial aggregation collapses the K-expanded rows per
    vector BEFORE the exchange, where the previous per-vector
    row_number window shuffled all |vecs|·K rows. The update is one
    posexplode groupBy (map-side combining, K·dims result rows).
    Initial centroids are the deterministic modular selection."""
    if vecs is None:
        emb = _emb(spark, sf_dir)
        vecs = emb.select("vec_id", _to_e6(F.col("embedding")).alias("x"))
    seed = F.col("vec_id") % CENTROID_MOD == CENTROID_OFF
    if k_cap is not None:
        # pinned-K mode (the k-means OP): K is a model hyperparameter,
        # not a function of corpus size — without the cap the modular
        # selection yields n/50 seeds and the assignment pass is
        # O(n²/50): measured 317 s cold at the 100× replica, 9.0 s
        # with K=256 (SCALE.md round 7). SemDeDup's exact baseline
        # passes k_cap=None (its Σ cluster² accounting is defined on
        # the corpus-growing K) — its scale twin is the two-level
        # q_semantic_dedup_hier below.
        seed = seed & (F.col("vec_id") < CENTROID_MOD * k_cap)
    cents = vecs.filter(seed).select(
        F.col("vec_id").alias("cid"), F.col("x").alias("c")
    )

    def assign(cs: DataFrame) -> DataFrame:
        # The row-local argmax move that won on the IVF float arms
        # (nlist ≤ 64) was MEASURED A NET LOSS here and reverted
        # (round 12): at this op's K (200 at sf0.1, cap 256) the
        # argmin runs as one giant interpreted higher-order-function
        # chain per vector, while this crossJoin form keeps the
        # K-expanded rows inside whole-stage codegen — quiet-box A/B:
        # agg form 3.0–3.5 s cold / 1.17–1.24 s warm vs row-local
        # 4.3–5.0 / 1.19–1.34 on unit_semantic_dedup.
        #
        # Rendered as Spark-SQL strings since round 13 (the r12 py4j
        # pattern extended per VERDICT ask #7): the Lloyd builders
        # cost ~1.3 s of py4j round trips per timed BUILD in the
        # Column-API form; the strings are the literal rendering of
        # the same trees (sameSemantics-pinned in tests/test_plans.py).
        d = vecs.crossJoin(F.broadcast(cs)).selectExpr(
            "*",
            "aggregate(zip_with(x, c, (a, b) -> (a - b) * (a - b)), "
            "cast(0 as bigint), (acc, v) -> acc + v) AS dist",
        )
        # lexicographic min(struct) ≡ (min dist, tie → min cid), the
        # window's ORDER BY dist, cid — but with map-side combine; x
        # is constant per vec_id, so first(x) is deterministic.
        return (
            d.groupBy("vec_id")
            .agg(
                F.expr("min(struct(dist, cid)) AS b"),
                F.expr("first(x) AS x"),
            )
            .selectExpr("vec_id", "b.cid AS cid", "b.dist AS dist", "x")
        )

    a = assign(cents)
    for _ in range(KMEANS_ITERS - 1):
        ex = a.selectExpr("cid", "posexplode(x) AS (pos, val)")
        comp = (
            ex.groupBy("cid", "pos")
            .agg(F.expr("sum(val) AS s"), F.expr("count(*) AS n"))
            .withColumn(
                "m",
                F.expr(
                    "(CASE WHEN s < 0 THEN -1 ELSE 1 END)"
                    " * ((2 * abs(s) + n) DIV (2 * n))"
                ),
            )
        )
        cents = comp.groupBy("cid").agg(
            F.expr(
                "transform(array_sort(collect_list(struct(pos, m))), "
                "st -> st.m) AS c"
            )
        )
        a = assign(cents)
    return a.select("vec_id", "cid", "dist")


def q_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact fixed-point Lloyd k-means assignment after
    ``KMEANS_ITERS`` iterations (see ``_kmeans_assignments``)."""
    return _kmeans_assignments(spark, sf_dir, k_cap=KMEANS_K_CAP).select(
        "vec_id", F.col("cid").alias("cluster"), "dist"
    )


#: e6 integerization of an arbitrary double-list SQL expression —
#: DuckDB twin of ``_to_e6``.
def _to_e6_sql(expr: str) -> str:
    return (
        f"list_transform({expr}, e -> "
        "CAST(sign(CAST(e AS DOUBLE)) "
        "* floor(abs(CAST(e AS DOUBLE)) * 1000000 + 0.5) AS BIGINT))"
    )


def _lloyd_ctes(k_cap: int | None = None) -> str:
    """The Lloyd iteration CTE chain; expects a prior CTE
    ``v(vec_id, x: BIGINT[])`` supplying the fixed-point vectors.
    ``k_cap`` mirrors _kmeans_assignments' pinned-K mode."""
    cap_pred = (
        f"\n         AND vec_id < {CENTROID_MOD * k_cap}" if k_cap else ""
    )
    return f"""c0 AS (SELECT vec_id AS cid, x AS c
       FROM v WHERE vec_id % {CENTROID_MOD} = {CENTROID_OFF}{cap_pred}),
d1 AS (
  SELECT v.vec_id, c0.cid, v.x,
         CAST(list_sum(list_transform(generate_series(1, len(v.x)),
              i -> (v.x[i] - c0.c[i]) * (v.x[i] - c0.c[i]))) AS BIGINT) AS dist
  FROM v CROSS JOIN c0
),
a1 AS (SELECT * FROM (
  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rk FROM d1
) WHERE rk = 1),
ex AS (SELECT cid, unnest(x) AS val, unnest(generate_series(1, len(x))) AS pos FROM a1),
comp AS (SELECT cid, pos, sum(val) AS s, count(*) AS n FROM ex GROUP BY cid, pos),
c1 AS (
  SELECT cid,
         list(CAST((CASE WHEN s < 0 THEN -1 ELSE 1 END)
              * ((2 * abs(s) + n) // (2 * n)) AS BIGINT) ORDER BY pos) AS c
  FROM comp GROUP BY cid
),
d2 AS (
  SELECT v.vec_id, c1.cid,
         CAST(list_sum(list_transform(generate_series(1, len(v.x)),
              i -> (v.x[i] - c1.c[i]) * (v.x[i] - c1.c[i]))) AS BIGINT) AS dist
  FROM v CROSS JOIN c1
),
a2 AS (SELECT * FROM (
  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rk FROM d2
) WHERE rk = 1)"""

ORACLE_KMEANS = f"""
WITH v AS (
  SELECT vec_id, {_to_e6_sql('embedding')} AS x FROM embeddings
),
{_lloyd_ctes(KMEANS_K_CAP)}
SELECT vec_id, cid AS cluster, dist FROM a2
"""


# --- int8 scalar quantization ------------------------------------------

def q_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 scalar quantization of the embedding column —
    the 4× storage/bandwidth reduction step before writing a vector
    corpus out for serving. Per vector: scale = max|x| / 127,
    q_i = sign(x_i) · floor(|x_i| / scale + 0.5) (explicit
    half-away-from-zero — spelled out so neither engine's ``round``
    dialect is in play). Narrow map, no shuffle.

    Driver surface: the int8 vector serialized with ``,`` plus the
    reconstruction scale and a max-abs-error check column; the
    array-typed form is what a sink would write."""
    emb = _emb(spark, sf_dir)
    x = F.col("embedding")
    # floor on the all-zero vector's 0/0 would be NaN (engine-divergent
    # under ANSI casts) — the epsilon floor maps it to qi = 0 instead.
    scale = F.greatest(
        F.aggregate(
            x, F.lit(0.0), lambda acc, v: F.greatest(acc, F.abs(v.cast("double")))
        )
        / F.lit(127.0),
        F.lit(1e-30),
    )
    q = F.transform(
        x,
        lambda v: (
            F.signum(v.cast("double"))
            * F.floor(F.abs(v.cast("double")) / F.col("q_scale") + F.lit(0.5))
        ).cast("bigint"),
    )
    max_err = F.array_max(
        F.zip_with(
            x,
            F.col("q_int8"),
            lambda v, qi: F.abs(v.cast("double") - qi * F.col("q_scale")),
        )
    )
    # max_err must see the UNROUNDED scale: a same-select-list
    # `round(...).alias("q_scale")` would shadow the input column via
    # lateral column alias resolution, skewing the error by ~1e-8.
    return (
        emb.withColumn("q_scale", scale)
        .withColumn("q_int8", q)
        .withColumn("max_abs_err", F.round(max_err, 9))
        .select(
            "vec_id",
            F.round("q_scale", 9).alias("q_scale"),
            F.concat_ws(",", F.col("q_int8").cast("array<string>")).alias("q_str"),
            "max_abs_err",
        )
    )


ORACLE_EMBED_QUANTIZE = """
WITH e AS (
  SELECT vec_id,
         list_transform(embedding, v -> CAST(v AS DOUBLE)) AS x,
         greatest(list_max(list_transform(embedding, v -> abs(CAST(v AS DOUBLE)))) / 127.0,
                  1e-30) AS q_scale
  FROM embeddings
),
q AS (
  SELECT vec_id, x, q_scale,
         list_transform(x, v -> CAST(sign(v) * floor(abs(v) / q_scale + 0.5) AS BIGINT)) AS qi
  FROM e
)
SELECT vec_id,
       ROUND(q_scale, 9) AS q_scale,
       array_to_string(qi, ',') AS q_str,
       ROUND(list_max(list_transform(list_zip(x, qi),
                                     p -> abs(p[1] - p[2] * q_scale))), 9) AS max_abs_err
FROM q
"""


# --- random-hyperplane (SRP) LSH ANN ------------------------------------

# 256 buckets; with radius-1 multi-probe the scan fraction is
# (LSH_BITS+1)/2^LSH_BITS ≈ 3.5% of the corpus. Chosen from a measured
# (bits × probe-radius) sweep on the sf0.01 fixture + planted near-dups:
#
#   bits=4 r=1: strong 1.00  bg-recall@10 0.50  fan-out 31%
#   bits=6 r=1: strong 1.00  bg-recall@10 0.34  fan-out 12%
#   bits=8 r=1: strong 1.00  bg-recall@10 0.20  fan-out  4%   <- knee
#   bits=8 r=2: strong 1.00  bg-recall@10 0.42  fan-out 15%
#
# "strong" = recall over neighbors with cos ≥ 0.9 (the planted twins —
# the near-dup regime an LSH index serves); "bg" = recall@10 over the
# near-uniform background, which for EVERY config ≈ its scan fraction:
# sublinear probing cannot beat random coverage when the "neighbors"
# are barely above background similarity (SRP bit-agreement p =
# 1 - θ/π ≈ 0.63 at cos 0.4). That regime belongs to the brute/IVF
# paths; this index exists to catch high-cos duplicates cheaply.
# At corpus scale, grow bits ≈ log2(n / target_bucket_size).
LSH_BITS = 8
LSH_STRONG_COS = 0.9  # twins above this must be retrieved (pinned test)


def _srp_hyperplanes(bits: int = LSH_BITS, dims: int = 64) -> list[list[int]]:
    """Deterministic integer hyperplanes for signed-random-projection
    LSH (Charikar 2002): component (i, j) is the first 4 hex chars of
    md5("rp|i|j") minus 32768 — a fixed pseudo-random integer in
    [-32768, 32767]. Computed ONCE in Python and embedded as literals
    in both engines (the runtime does integer dot products only, no
    per-row hashing); with e6-integerized unit vectors every sign is
    an exact integer comparison, so bucket codes are engine-exact."""
    import hashlib

    return [
        [
            int(hashlib.md5(f"rp|{i}|{j}".encode()).hexdigest()[:4], 16) - 32768
            for j in range(dims)
        ]
        for i in range(bits)
    ]


def q_ann_lsh_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe SRP-LSH search over the planted near-dup corpus:
    every vector gets a ``LSH_BITS``-bit bucket code (sign of its dot
    with each fixed hyperplane); each query ranks the vectors in its
    own bucket AND the ``LSH_BITS`` Hamming-1 neighbors (one
    hyperplane voting the other way — the standard multi-probe trade:
    ×(bits+1) probes instead of ×(bits+1) hash tables). cos(q, v)
    high ⇒ few separating hyperplanes ⇒ candidate with high
    probability — the hash-join alternative to IVF's centroid probing
    (no training pass, pure narrow map + one equi-join on the code).

    The corpus is the embeddings fixture plus the deterministic
    planted duplicates shared with ``suite.dedup`` (×2-scaled copies
    at +1M — cos exactly 1, IDENTICAL bucket code since scaling
    preserves every sign — and one-dim perturbations at +2M, cos ≈
    0.998, ≤ 1 expected bit flip → covered by the Hamming-1 probes).
    Every query's strong neighbors (cos ≥ ``LSH_STRONG_COS``) are
    retrieved at a ~3.5% scan fraction — the measured sweep behind the
    (bits, radius) choice is tabled above ``LSH_BITS``;
    tests/test_ann_recall.py pins the strong-recall floor.

    Results are approximate by design; the oracle runs the identical
    LSH, so the check is still hash-exact."""
    from .dedup import _vecs_with_planted_dups

    planes = _srp_hyperplanes()
    vecs = _vecs_with_planted_dups(spark, sf_dir).select(
        "vec_id", "embedding", l2_norm(F.col("embedding")).alias("__nrm")
    )
    u = spread(vecs).select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double") / F.col("__nrm")).alias("u"),
    )
    xu = u.select("vec_id", "u", _to_e6(F.col("u")).alias("x"))

    def bucket(xcol) -> F.Column:
        code = F.lit(0)
        for i, plane in enumerate(planes):
            dot_i = F.aggregate(
                F.zip_with(xcol, F.array(*[F.lit(c) for c in plane]), lambda a, b: a * b),
                F.lit(0).cast("bigint"),
                lambda acc, v: acc + v,
            )
            code = code + F.when(dot_i >= 0, F.lit(1 << i)).otherwise(F.lit(0))
        return code

    coded = xu.select("vec_id", "u", bucket(F.col("x")).alias("bucket"))
    probes = F.array(
        F.col("bucket"),
        *[F.col("bucket").bitwiseXOR(F.lit(1 << i)) for i in range(LSH_BITS)],
    )
    queries = (
        coded.filter(
            (F.col("vec_id") % QUERY_MOD == 0) & (F.col("vec_id") < 1_000_000)
        )
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("u").alias("q_u"),
            F.explode(probes).alias("bucket"),
        )
    )
    scored = (
        queries.join(coded, "bucket")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(dot(F.col("q_u"), F.col("u")), 6).alias("cos_sim"),
        )
    )
    return ivf.top_k(scored, "query_id", "cos_sim", ["vec_id"], TOP_K)


def _oracle_ann_lsh() -> str:
    from .dedup import ALL_VECS_CTE

    planes = _srp_hyperplanes()
    bucket_terms = " + ".join(
        "(CASE WHEN CAST(list_sum(list_transform(generate_series(1, len(x)), "
        f"j -> x[j] * ([{', '.join(str(c) for c in plane)}])[j])) AS BIGINT) >= 0 "
        f"THEN {1 << i} ELSE 0 END)"
        for i, plane in enumerate(planes)
    )
    cos_qv = dot_sql("q.q_u", "v.u")
    probe_list = ", ".join(
        ["bucket"] + [f"xor(bucket, {1 << i})" for i in range(LSH_BITS)]
    )
    return f"""
WITH {ALL_VECS_CTE},
units AS (SELECT vec_id, {unit_sql('embedding')} AS u FROM all_vecs),
xu AS (SELECT vec_id, u, {_to_e6_sql('u')} AS x FROM units),
coded AS (SELECT vec_id, u, {bucket_terms} AS bucket FROM xu),
probes AS (
  SELECT vec_id AS query_id, u AS q_u,
         unnest([{probe_list}]) AS bucket
  FROM coded WHERE vec_id % {QUERY_MOD} = 0 AND vec_id < 1000000
)
SELECT query_id, vec_id, cos_sim, rk FROM (
  SELECT q.query_id, v.vec_id,
         ROUND({cos_qv}, 6) AS cos_sim,
         row_number() OVER (PARTITION BY q.query_id
                            ORDER BY ROUND({cos_qv}, 6) DESC, v.vec_id) AS rk
  FROM probes q JOIN coded v ON q.bucket = v.bucket AND v.vec_id <> q.query_id
) WHERE rk <= {TOP_K}
"""


# --- contrastive pair mining (positives + hard negatives) ---------------

def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive training-pair mining over the labeled embeddings:
    for each anchor (the deterministic query subset), the most similar
    SAME-label vector (positive) and the most similar OTHER-label
    vector (hard negative) — the standard triplet construction for
    embedding-model training; hard negatives are exactly the
    highest-cosine wrong-label neighbors.

    Plan: one broadcast of the tiny anchor set against the corpus
    (same shape as the ANN baseline), then ONE map-side-combining
    aggregation per anchor: the best same-label and best other-label
    neighbors are two conditional ``max(struct(cos, −id, id))``
    aggregates (lexicographic max ≡ highest cosine, tie → smallest
    id), so the scored rows collapse BEFORE the exchange and no rank
    window or pos⋈neg self-join exists — the r4 no-rank-window
    argmax shape. At corpus scale the anchor side stays broadcast and
    the scored side is the candidate set of any ANN index (IVF cell
    or LSH bucket) instead of the full corpus — the mining step
    itself is unchanged."""
    emb = load_table(spark, "embeddings", sf_dir).select(
        "vec_id", "embedding", "label", l2_norm(F.col("embedding")).alias("__nrm")
    )
    u = spread(emb).select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double") / F.col("__nrm")).alias("u"),
    )
    anchors = u.filter(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("a_label"),
        F.col("u").alias("a_u"),
    )
    scored = (
        u.crossJoin(F.broadcast(anchors))
        .filter(F.col("vec_id") != F.col("anchor_id"))
        .select(
            "anchor_id",
            "a_label",
            "vec_id",
            (F.col("label") == F.col("a_label")).alias("same"),
            F.round(dot(F.col("a_u"), F.col("u")), 6).alias("cos_sim"),
        )
    )
    pick = F.struct(
        F.col("cos_sim").alias("c"),
        (-F.col("vec_id")).alias("m"),
        F.col("vec_id").alias("i"),
    )
    best = scored.groupBy("anchor_id").agg(
        F.max(F.when(F.col("same"), pick)).alias("p"),
        F.max(F.when(~F.col("same"), pick)).alias("n"),
    )
    # the window+join form inner-joined pos and neg, dropping anchors
    # missing either slot — mirror that with the two not-null filters
    return best.filter(
        F.col("p").isNotNull() & F.col("n").isNotNull()
    ).select(
        "anchor_id",
        F.col("p.i").alias("positive_id"),
        F.col("p.c").alias("positive_cos"),
        F.col("n.i").alias("hard_negative_id"),
        F.col("n.c").alias("hard_negative_cos"),
    )


def _oracle_hard_negatives() -> str:
    cos_av = dot_sql("a.u", "v.u")
    return f"""
WITH units AS (
  SELECT vec_id, label, {unit_sql('embedding')} AS u FROM embeddings
),
scored AS (
  SELECT a.vec_id AS anchor_id, v.vec_id,
         (v.label = a.label) AS same,
         ROUND({cos_av}, 6) AS cos_sim
  FROM units a JOIN units v ON v.vec_id <> a.vec_id
  WHERE a.vec_id % {QUERY_MOD} = 0
),
best AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY anchor_id, same
                                 ORDER BY cos_sim DESC, vec_id) AS rk
    FROM scored
  ) WHERE rk = 1
)
SELECT p.anchor_id,
       p.vec_id AS positive_id, p.cos_sim AS positive_cos,
       n.vec_id AS hard_negative_id, n.cos_sim AS hard_negative_cos
FROM best p JOIN best n ON p.anchor_id = n.anchor_id
WHERE p.same AND NOT n.same
"""


# --- SemDeDup: semantic dedup via cluster-then-prune --------------------

SEMDEDUP_TAU = 0.98  # rounded-cosine dup threshold, as dedup_embedding


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster the
    embedding space, then search for near-duplicate pairs ONLY within
    each cluster and keep one representative per duplicate group —
    the scale path for semantic dedup, because the pair space is
    Σ cluster² instead of corpus². Pipeline: unit-normalize →
    e6-integerize → exact fixed-point Lloyd (spherical k-means:
    clustering unit vectors makes cluster membership magnitude-blind,
    matching the cosine dup criterion — a scaled copy lands in
    exactly its source's cluster) → within-cluster cosine ≥ τ →
    keep = the smallest vec_id of each dup neighborhood (the paper
    keeps one arbitrary exemplar; smallest-id is the deterministic
    choice both engines agree on).

    Corpus: the planted-dup set from dedup.py (scaled copies cos=1,
    one-dim perturbations cos≈1) — raw fixture embeddings have no
    natural near-dups (max within-cluster cos ≈ 0.49).

    Scale: the Lloyd phase is the k-means plan (broadcast centroids,
    narrow assignment); the prune join is per-cluster with fan-out
    bounded by cluster sizes — no global pair space, no LSH needed
    when a clustering already exists (it usually does in a curation
    pipeline, for mixing/balancing)."""
    from .dedup import _vecs_with_planted_dups

    vecs = _vecs_with_planted_dups(spark, sf_dir)
    # Same IEEE normalization pipeline as _unit_emb (norm behind the
    # spread exchange so the fold isn't inlined per element). SQL
    # strings since round 13 (same py4j-cut + sameSemantics-pin
    # pattern as _unit_emb).
    withn = vecs.selectExpr(
        "vec_id", "embedding", f"{l2_norm_expr('embedding')} AS __nrm"
    )
    u = spread(withn).selectExpr(
        "vec_id", "transform(embedding, x -> cast(x as double) / __nrm) AS u"
    )
    xu = u.selectExpr("vec_id", f"{_to_e6_expr('u')} AS x")
    a = _kmeans_assignments(spark, sf_dir, vecs=xu)
    # pin: `au` (and through it the whole Lloyd DAG) feeds BOTH sides
    # of the within-cluster self-join AND the final result join —
    # unpinned, the 2-iteration fixed point replicated three times in
    # one 1,600-line plan (round-7 plan audit). One assignment pass,
    # read three times.
    au = pin(a.join(u, "vec_id").select("vec_id", "cid", "u"))
    return _semdedup_from_assignments(au)


def _semdedup_from_assignments(au: DataFrame) -> DataFrame:
    """The SemDeDup pair/keep tail, shared by the exact Lloyd form and
    the two-level hierarchical scale path: within-cluster cosine ≥ τ
    pairs → per-id neighbor stats → keep = no smaller-id neighbor.
    ``au`` = (vec_id, cid, u) with u unit-normalized."""
    left = au.selectExpr("vec_id AS id_a", "cid", "u AS ua")
    right = au.selectExpr("vec_id AS id_b", "cid", "u AS ub")
    # Each UNORDERED pair's dot is computed once (id_a < id_b halves
    # the join output and the 64-dim folds vs the old id_a != id_b
    # form), then exploded into both directions for the per-id
    # neighbor stats — value-identical because cos is exactly
    # symmetric here: zip_with preserves element order and per-element
    # multiplication commutes, so the fold is bitwise the same.
    # (SQL strings since round 13 — same py4j-cut pattern as the
    # Lloyd builders; sameSemantics-pinned in tests/test_plans.py.)
    upairs = (
        left.join(right, "cid")
        .filter(F.col("id_a") < F.col("id_b"))
        .selectExpr(
            "id_a", "id_b", f"round({dot_expr('ua', 'ub')}, 6) AS cos"
        )
        .filter(F.col("cos") >= SEMDEDUP_TAU)
    )
    pairs = upairs.selectExpr(
        "explode(array(struct(id_a AS p, id_b AS q), "
        "struct(id_b AS p, id_a AS q))) AS e"
    ).selectExpr("e.p AS id_a", "e.q AS id_b")
    agg = pairs.groupBy("id_a").agg(
        F.expr("count(*) AS n_dups"),
        F.expr("max(cast(id_b < id_a as int)) AS has_smaller"),
    )
    return (
        au.join(agg, au.vec_id == agg.id_a, "left")
        .selectExpr(
            "vec_id",
            "cid AS cluster",
            "cast(coalesce(n_dups, 0) as bigint) AS n_dups",
            "(coalesce(has_smaller, 0) = 0) AS keep",
        )
    )


def _semdedup_tail_sql() -> str:
    """SQL twin of _semdedup_from_assignments — expects a prior CTE
    ``au(vec_id, cid, u)``; shared by the exact and hierarchical
    oracles so the keep-rule text cannot diverge."""
    cos_ab = dot_sql("a.u", "b.u")
    return f"""pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b, ROUND({cos_ab}, 6) AS cos
  FROM au a JOIN au b ON a.cid = b.cid AND a.vec_id <> b.vec_id
  WHERE ROUND({cos_ab}, 6) >= {SEMDEDUP_TAU}
),
agg AS (
  SELECT id_a, count(*) AS n_dups,
         max(CASE WHEN id_b < id_a THEN 1 ELSE 0 END) AS has_smaller
  FROM pairs GROUP BY id_a
)
SELECT au.vec_id, au.cid AS cluster,
       COALESCE(agg.n_dups, 0) AS n_dups,
       COALESCE(agg.has_smaller, 0) = 0 AS keep
FROM au LEFT JOIN agg ON au.vec_id = agg.id_a"""


def _oracle_semantic_dedup() -> str:
    from .dedup import ALL_VECS_CTE

    return f"""
WITH {ALL_VECS_CTE},
units AS (SELECT vec_id, {unit_sql('embedding')} AS u FROM all_vecs),
v AS (SELECT vec_id, {_to_e6_sql('u')} AS x FROM units),
{_lloyd_ctes()},
au AS (SELECT a2.vec_id, a2.cid, units.u FROM a2 JOIN units USING (vec_id)),
{_semdedup_tail_sql()}
"""


# Coarse-cell count for the hierarchical SemDeDup router. 256 coarse
# cells bound the vector-routing pass at n x 256 regardless of corpus
# size; the fine seed set keeps GROWING with the corpus (~n/50 — the
# SemDeDup regime: cluster sizes stay ~50, so the within-cluster pair
# space stays LINEAR in n), and each vector does its exact fine argmin
# only against the ~K/256 fine seeds routed to its coarse cell.
SEMDEDUP_COARSE_CAP = _geo("SEMDEDUP_COARSE", 256)

# Fine seeds are a 1-in-50 md5-HASH row sample (substr(md5(id),1,4) <
# '051f' == 1311/65536 ≈ 1/50.0), NOT the id-mod rule the capped IVF
# index uses (CENTROID_MOD above). The difference matters only for
# the UNCAPPED seed set: the round-8 slope study caught the id-mod
# rule going quadratic on the replica fixture because its key offset
# (10,000,000) is divisible by 50, so every replica of an original
# aliases into the SAME residue class — the "1-in-50" sample yielded
# 50 near-identical copies of 1-in-2500 distinct directions, one copy
# won the argmin for its whole neighborhood, and the within-cell pair
# space blew up to Σc² = 126M at the 100× replica (41.7 s warm, vs
# 1.2 s at 10×). Hashing the id breaks ANY id structure correlated
# with the data, and row-sampling is self-normalizing under
# duplication: a dup-dense region holds proportionally more rows, so
# it gets proportionally more seeds and its cells stay ~50. Same
# hex-prefix idiom as the MinHash estimator sample (dedup.py) —
# md5-of-string is bit-identical in Spark and DuckDB, so the oracle
# stays full-strength. The capped IVF rules keep id-mod: with a FIXED
# nlist, seed skew moves recall (gated by tests/test_ann_recall.py),
# not the cost class.
SEMDEDUP_SEED_HEX = "051f"


def q_semantic_dedup_hier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical SemDeDup — the SCALE PATH twin of
    unit_semantic_dedup (which stays the exact-Lloyd certification
    baseline). The exact form's two cost terms cannot both stay
    sub-quadratic with a FLAT assignment: corpus-growing K makes
    Lloyd assignment n·K = O(n²/50) (measured 317 s cold at the 100×
    replica), while pinning K makes the within-cluster pair space
    Σc² = O(n²/K) (measured 137M pairs / 112 s of pair-dots at K→40
    effective). The two-level router bounds both, the same
    coarse-quantizer idea as IVF (Jégou et al. 2011) applied to
    centroid search (Sivic & Zisserman's vocabulary-tree lineage):

    1. fine seeds  = 1-in-50 md5-hash row sample (UNCAPPED — K ∝ n,
       clusters ~50; hash-not-mod so no id structure can collapse the
       seed directions, see SEMDEDUP_SEED_HEX)
    2. coarse seeds = the 256 md5-smallest fine seeds (the IVF cap
       rule; a 256-row TakeOrdered over the seed table, not a sort)
    3. each fine seed routes to its nearest coarse seed (K×256, tiny)
    4. each vector routes to its nearest coarse seed (n×256 broadcast,
       map-side min(struct) argmin), then takes its exact argmin over
       ONLY the ~K/256 fine seeds in that coarse cell
    5. pair/keep tail identical to the exact form (shared helper)

    COST MODEL (stated honestly after the round-8 slope study): with
    C coarse cells and K ≈ n/50 fine seeds, routing work is
    n·C (step 4a) + n·K/C (step 4b) + K·C (step 3) and the pair tail
    is Σc² ≈ 50n. At FIXED C the 4b term is n²/(50C) — formally
    quadratic, but its constant keeps it below the linear n·C term
    until K = C² (n = 50·C², ≈3.3M vectors at the default C=256), so
    the operator is linear-class throughout the geometry it is sized
    for, and the balance rule for a bigger corpus is the standard IVF
    sizing C ≈ √K (set SPARK_GRAFT_SEMDEDUP_COARSE; per-vector
    routing work then grows as 2√(n/50) — sub-linear per vector,
    O(n^1.5) total, the same asymptotic every flat-centroid-scan IVF
    accepts). The measured 3-point slope (sf0.1/sf1/sf10) is in
    SCALE.md §Round-8.

    One-shot Voronoi on the seed vectors (no Lloyd iterations): every
    step is a pure function of the data, so DuckDB replays the whole
    routing bit-exactly — the oracle is full-strength, not rows-only.
    The price vs exact is boundary misses: a dup pair can straddle
    two fine cells (inherent to SemDeDup itself) or, additionally, two
    coarse cells; planted scaled copies are IMMUNE (identical unit
    vectors route identically — pinned by test_ann_recall), and the
    measured recall vs the exact baseline is the acceptance gate."""
    from .dedup import _vecs_with_planted_dups

    return semantic_dedup_hier_frame(_vecs_with_planted_dups(spark, sf_dir))


#: kernel memo for _nearest_seed_arrow (VERDICT r8 ask #5) — keyed by
#: seed fingerprint, capped to the last 8 geometries
_NEAREST_KERNEL_MEMO: dict = {}


def _nearest_seed_arrow(
    seeds: DataFrame, id_col: str, vec_col: str, _chunk: int | None = None
):
    """Exact nearest-seed assignment as a vectorized Arrow kernel:
    returns a pandas_udf mapping an e6-int64 vector column to the id
    of its nearest seed (squared L2, ties to the smallest id — the
    bit-exact contract min(struct(d, id)) / the oracle's
    row_number(ORDER BY d, id) both share).

    ``seeds`` must be a CAPPED seed table (index metadata, ≤ a few
    thousand rows — the coarse quantizer, never a corpus-sized
    frame); it is collected to the driver exactly like MLlib collects
    k-means centroids, and shipped to executors inside the UDF
    closure. All arithmetic is int64: |coord| ≤ ~1.4e6, per-dim
    product ≤ ~2e12, 64-dim dot ≤ ~1.3e14, and the expanded form
    x·x + c·c − 2x·c ≤ ~5e14 — far inside int64, so numpy reproduces
    the SQL engines' integer sqdist bit-for-bit. argmin's
    first-occurrence rule lands on the smallest id because the seed
    matrix is sorted by id."""
    rows = sorted(seeds.collect(), key=lambda r: r[id_col])
    if not rows:
        # Empty seed table (possible on small corpora: the md5 1-in-50
        # sample can select nothing). Mirror the SQL argmin-over-empty
        # semantics the pre-Arrow form had: every vector routes to
        # NULL, so the downstream equi-join drops it and the operator
        # degrades to an empty result instead of crashing on a 0-row
        # numpy reduction (ADVICE r8).
        @F.pandas_udf("bigint")
        def no_seed(xs: pd.Series) -> pd.Series:
            return pd.Series([None] * len(xs), dtype="object")

        return no_seed
    ids = np.array([r[id_col] for r in rows], dtype=np.int64)
    C = np.array([list(r[vec_col]) for r in rows], dtype=np.int64)
    # Memoize the built kernel on the SEED-TABLE FINGERPRINT (VERDICT
    # r8 ask #5): a pandas UDF embeds the Python function's identity
    # in the plan, so two builds over identical seeds used to produce
    # plans CacheManager could not unify — scale100's warm pass
    # re-executed the whole routing instead of hitting the pinned
    # `au`. Returning the SAME function object for the same
    # (ids, vectors, chunk) makes the rebuilt plan canonicalize equal
    # to the cached one. Bounded: the memo holds the last few
    # geometries only (seed tables are capped index metadata).
    memo_key = (ids.tobytes(), C.tobytes(), _chunk)
    hit = _NEAREST_KERNEL_MEMO.pop(memo_key, None)
    if hit is not None:
        # re-insert so a HIT refreshes recency (dict order = LRU order
        # for the eviction below)
        _NEAREST_KERNEL_MEMO[memo_key] = hit
        return hit
    c2 = (C * C).sum(axis=1)

    # Per-chunk rows so the b×|seeds| distance matrix stays ~32 MB
    # regardless of the SEMDEDUP_COARSE override (a 65536-cell
    # geometry would otherwise build a multi-GB intermediate per
    # Arrow batch). Chunking changes memory only — every row's argmin
    # is computed over the full seed matrix either way (``_chunk``
    # exists so tests can force the chunked path with few seeds).
    chunk = _chunk or max(1, (1 << 22) // max(len(ids), 1))

    def _argmin_ids(X: np.ndarray) -> np.ndarray:
        out = np.empty(len(X), dtype=np.int64)
        for i in range(0, len(X), chunk):
            Xi = X[i : i + chunk]
            d2 = (Xi * Xi).sum(axis=1)[:, None] + c2[None, :] - 2 * (Xi @ C.T)
            out[i : i + chunk] = ids[d2.argmin(axis=1)]
        return out

    @F.pandas_udf("bigint")
    def nearest(xs: pd.Series) -> pd.Series:
        if len(xs) == 0:
            return pd.Series([], dtype="int64")
        vecs = xs.tolist()
        # Null-routing (ADVICE r8): the pre-Arrow SQL argmin
        # propagated NULL to the join, which dropped the row —
        # reproduce that via the shared vectorized guard.
        idx, M = stack_int64(vecs)
        if len(idx) == len(vecs):
            return pd.Series(_argmin_ids(M))
        out = pd.array([None] * len(vecs), dtype="Int64")
        if len(idx):
            out[idx] = _argmin_ids(M)
        return pd.Series(out, dtype="Int64")

    # LRU eviction (ADVICE r9): drop only the OLDEST geometry — a
    # wholesale clear() made a workload alternating >8 geometries
    # thrash and silently lose the plan-cache unification the memo
    # exists for. Python dicts iterate in insertion order, so the
    # first key is the least recently built.
    while len(_NEAREST_KERNEL_MEMO) >= 8:
        _NEAREST_KERNEL_MEMO.pop(next(iter(_NEAREST_KERNEL_MEMO)))
    _NEAREST_KERNEL_MEMO[memo_key] = nearest
    return nearest


def semantic_dedup_hier_frame(vecs: DataFrame) -> DataFrame:
    """The hierarchical SemDeDup routing over ANY (vec_id, embedding)
    frame — the reusable corpus-scale operator behind the
    q_semantic_dedup_hier spec (which runs it on the planted-dup
    fixture corpus). The curation pipeline's ``semantic_dedup`` stage
    calls this on the raw embeddings table. Returns one row per
    vector: (vec_id, cluster, n_dups, keep); ``vec_id`` must be
    unique in ``vecs``."""
    withn = vecs.select(
        "vec_id", "embedding", l2_norm(F.col("embedding")).alias("__nrm")
    )
    # Normalize-once is the documented 100 TB shape (the RAG chunk
    # index materializes its unit vectors the same way); here the unit
    # vectors ride inside the pinned routing pass `v2c` below.
    u = spread(withn).select(
        "vec_id",
        F.transform(
            "embedding", lambda x: x.cast("double") / F.col("__nrm")
        ).alias("u"),
    )
    x = _to_e6(F.col("u"))
    mk = F.md5(F.col("vec_id").cast("string"))
    # Fine seeds ARE vectors (a row sample keyed on vec_id alone), so
    # their fine-cell routing is the vectors' own and comes from the
    # one routing pass; `is_fine` reads only vec_id, so the build-time
    # coarse collect below pushes it down to the scan and normalizes
    # the ~n/50 fine rows only.
    is_fine = F.substring(mk, 1, 4) < F.lit(SEMDEDUP_SEED_HEX)
    coarse = (
        u.filter(is_fine)
        .orderBy(mk, "vec_id")
        .limit(SEMDEDUP_COARSE_CAP)
        .select(F.col("vec_id").alias("ccid"), x.alias("cx"))
    )

    def _sqdist(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("bigint"),
            lambda acc, v: acc + v,
        )

    def _argmin(cells, x, id_field, vec_field):
        """id of the cell nearest to x: array_min over struct(d, id)
        ≡ min(struct(d, id)) — smallest distance, ties to smallest
        id. Evaluated INSIDE one projection per row, so the n-vector
        routing passes below are plain narrow maps: no per-candidate
        row fan-out, no hash-agg, no shuffle (round-8 rewrite — the
        fan-out form spent 37.5 s of sf10's cold on 26M intermediate
        rows; this form re-reads as a single codegen'd projection)."""
        return F.array_min(
            F.transform(
                cells,
                lambda c: F.struct(
                    _sqdist(c[vec_field], x).alias("d"), c[id_field].alias("id")
                ),
            )
        )["id"]

    # Coarse scoring (the n×C pass) runs as an exact-int64 Arrow
    # kernel, not a SQL higher-order function: transform/aggregate
    # lambdas execute INTERPRETED (outside whole-stage codegen) at a
    # measured ~2M element-ops/core/s — 9.7 s for sf10's 1.7B ops —
    # while one numpy int64 matmul per Arrow batch does the same
    # exact arithmetic in ~1/10th the time. The coarse table is
    # CAPPED index metadata (≤SEMDEDUP_COARSE_CAP rows): collecting
    # it to the driver is the MLlib-k-means-centroid pattern, the
    # documented exception to the no-collect rule — the n-row corpus
    # side never leaves executors. Everything stays exact: e6 int64
    # coords, int64 products (≤~5e14, no overflow), and argmin's
    # first-min tie-break over id-sorted seeds ≡ min(struct(d, id)),
    # so the DuckDB oracle is untouched.
    nearest_coarse = _nearest_seed_arrow(coarse, "ccid", "cx")
    # vector -> coarse cell (n×C dots, one Arrow-batched projection).
    # pin: this is the ONLY kernel pass. Both consumers below read it
    # (the fine seeds' cell lists and the per-vector fine argmin), and
    # the ccid equi-join makes the optimizer infer
    # isnotnull(nearest(x)) and push it below the projection, where
    # ExtractPythonUDFs evaluates the kernel a second time for the
    # filter; above a cached relation that filter reads the stored
    # ccid. Each Arrow task costs ~0.2 s of Python-worker CPU whatever
    # its rows, so every extra evaluation is paid in full.
    v2c = pin(u.select("vec_id", nearest_coarse(x).alias("ccid"), "u"))
    # exact fine argmin WITHIN the coarse cell: per-cell seed lists
    # (the IVF posting list of centroids — ~K/256 entries each, ~√K
    # under the documented C≈√K sizing) broadcast-joined on ccid, so
    # the n-row pass again stays narrow: n × ~K/256 dots, zero fan-out
    cell_seeds = (
        v2c.filter(is_fine)
        .groupBy("ccid")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(F.col("vec_id").alias("fcid"), x.alias("fx"))
                )
            ).alias("seeds")
        )
    )
    # pin: `au` feeds both sides of the within-cluster self-join and
    # the final keep join. It is built from `v2c` directly, with no
    # join back to the unit vectors on vec_id. That makes a unique
    # `vec_id` a precondition: a join-back fanned an id present d
    # times out to d² rows; without it the d rows pass through as d.
    au = pin(
        v2c.join(F.broadcast(cell_seeds), "ccid").select(
            "vec_id", _argmin(F.col("seeds"), x, "fcid", "fx").alias("cid"), "u"
        )
    )
    return _semdedup_from_assignments(au)


def _oracle_semantic_dedup_hier() -> str:
    from .dedup import ALL_VECS_CTE

    sqd = (
        "CAST(list_sum(list_transform(generate_series(1, len({a})), "
        "i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i]))) AS BIGINT)"
    )
    return f"""
WITH {ALL_VECS_CTE},
units AS (SELECT vec_id, {unit_sql('embedding')} AS u FROM all_vecs),
v AS (SELECT vec_id, {_to_e6_sql('u')} AS x FROM units),
fine AS (SELECT vec_id AS fcid, x AS fx, md5(CAST(vec_id AS VARCHAR)) AS mk
         FROM v
         WHERE substr(md5(CAST(vec_id AS VARCHAR)), 1, 4) < '{SEMDEDUP_SEED_HEX}'),
coarse AS (SELECT fcid AS ccid, fx AS cx FROM fine
           ORDER BY mk, fcid LIMIT {SEMDEDUP_COARSE_CAP}),
f2c AS (SELECT fcid, ccid, fx FROM (
  SELECT fine.fcid, coarse.ccid, fine.fx,
         row_number() OVER (PARTITION BY fine.fcid
            ORDER BY {sqd.format(a='fine.fx', b='coarse.cx')}, coarse.ccid) AS rk
  FROM fine CROSS JOIN coarse) WHERE rk = 1),
v2c AS (SELECT vec_id, ccid, x FROM (
  SELECT v.vec_id, coarse.ccid, v.x,
         row_number() OVER (PARTITION BY v.vec_id
            ORDER BY {sqd.format(a='v.x', b='coarse.cx')}, coarse.ccid) AS rk
  FROM v CROSS JOIN coarse) WHERE rk = 1),
a2 AS (SELECT vec_id, cid FROM (
  SELECT v2c.vec_id, f2c.fcid AS cid,
         row_number() OVER (PARTITION BY v2c.vec_id
            ORDER BY {sqd.format(a='v2c.x', b='f2c.fx')}, f2c.fcid) AS rk
  FROM v2c JOIN f2c USING (ccid)) WHERE rk = 1),
au AS (SELECT a2.vec_id, a2.cid, units.u FROM a2 JOIN units USING (vec_id)),
{_semdedup_tail_sql()}
"""


# --- RAG-shaped chunk retrieval --------------------------------------------

RAG_QUERY_MOD = 50
RAG_TOP_K = 3
# IVF serving layer over the chunk index: centroid cells are the
# whole-document vectors of every 20th document (capped — nlist is a
# fixed index parameter, not a function of corpus size; cf.
# CENTROID_CAP above), each chunk is assigned to its nearest cell
# once at index-build time, and a query probes only its nprobe
# nearest cells. 25 cells at sf0.01, 64 from sf0.1 up.
RAG_CENT_MOD = 20
RAG_CENT_OFF = 3
RAG_CENT_CAP = _geo("RAG_NLIST", 64)
# nprobe sweep at sf0.001 (25 cells, recall vs the brute truth):
#   nprobe  scan%  mean recall@3  strong recall (cos>=0.9)
#     2       8%      0.533            0.857
#     3      12%      0.633            0.929   <- chosen
#     4      16%      0.733            0.929
# Background recall tracks scan fraction on the near-uniform fixture
# vectors (same regime as SRP-LSH — see LSH_BITS note); the served
# high-cos regime is what the floor pins (tests/test_ann_recall.py).
RAG_N_PROBE = _geo("RAG_NPROBE", 3)
# Redundant assignment: each chunk is indexed in its top-RAG_ASSIGN
# cells (the standard IVF boundary-straddle fix — a 0.9-cos neighbor
# sitting just across a Voronoi edge from the query's probed cells is
# otherwise unreachable at ANY nprobe; measured at sf0.01, one of the
# four strong pairs was exactly this case). Index size ×RAG_ASSIGN,
# recall contract restored; the serving scan is unchanged.
RAG_ASSIGN = _geo("RAG_ASSIGN", 2)
# Cogroup salt for the quantized serving twin: bounds the per-group
# Arrow batch (chunk rows of a cell split ~evenly into SALT buckets;
# probes replicate into all buckets). Value-neutral — any setting
# scores every pair exactly once — so the oracle ignores it.
RAG_COGROUP_SALT = _geo("RAG_COGROUP_SALT", 8)
# Probe-broadcast bound for the float fold: above this many estimated
# probe rows (|queries|·nprobe, each carrying a d=64-double qvec —
# ~200k rows ≈ 100 MB of broadcast payload, the sensible
# driver/executor-memory ceiling well past the 10 MB auto threshold a
# HINT ignores), the broadcast hint is DROPPED and the scored join
# runs in the salted REPARTITION_BY_NUM layout instead.
# Env: SPARK_GRAFT_RAG_BCAST_ROWS.
RAG_BCAST_PROBE_ROWS = _geo("RAG_BCAST_ROWS", 200_000)
# Chunk-count estimate for the dropped-hint layout sizing: sliding
# 64-token windows at stride 32 over the fixture corpus measure
# ~2-3 chunks/doc; 4 is the deliberate over-estimate (an over-sized
# estimate only shrinks slabs, an under-sized one costs stragglers).
RAG_CHUNKS_PER_DOC_EST = 4


_RAG_DOC_STEPS = (
    SPREAD,
    ("doc_id", "filter(split(lower(text), ' '), x -> x != '') AS toks"),
)


def _docvec_steps(id_alias: str, out: str) -> tuple:
    """Whole-document hashed-BoW unit vectors (``id_alias``, ``out``)
    from the tokenized ``_RAG_DOC_STEPS`` rows."""
    from .text import hash_bucket_counts_expr

    return (
        (f"doc_id AS {id_alias}", f"{hash_bucket_counts_expr('toks')} AS v"),
        ("*", f"greatest({l2_norm_expr('v')}, 1E-12D) AS __n"),
        SPREAD,
        (id_alias, f"transform(v, x -> x / __n) AS {out}"),
    )


def _rag_cent_pred() -> str:
    return (
        f"doc_id % {RAG_CENT_MOD} = {RAG_CENT_OFF}"
        f" AND doc_id < {RAG_CENT_MOD * RAG_CENT_CAP}"
    )


def _rag_frames(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(chunks, queries, cents) — the shared corpus for the RAG
    paths: sliding 64-token chunks with hashed-BoW vectors, every
    50th document embedded whole as a query, every 20th (capped) as
    an IVF centroid cell.

    All three frames carry UNIT-NORMALIZED vectors (the `_unit_emb`
    move applied to the chunk index): cosine(a, b) == dot(unit(a),
    unit(b)), so normalizing once at index-build time makes every
    scored PAIR one sequential dot instead of three folds
    (dot + both norms) — at sf10's 375M scored pairs that is the
    dominant serving cost. The norms are materialized behind a
    repartition barrier so the O(d) norm fold runs once per row, not
    once per element of the division lambda. Norms are floored at
    1e-12 on BOTH engines: an all-OOV (empty-vector) chunk otherwise
    yields NaN cosines, which both engines sort above every real
    score in the descending top-k.

    Built from Spark-SQL strings: the Column-API lambda chains cost
    ~0.6 s of py4j round trips per BUILD; the strings are the literal
    rendering of the same trees (sameSemantics-pinned in
    tests/test_plans.py)."""
    from .text import CHUNK_SIZE, _STRIDE, hash_bucket_counts_expr

    docs = select_steps(load_table(spark, "documents", sf_dir), _RAG_DOC_STEPS)
    starts = f"sequence(1, greatest(size(toks), 1), {_STRIDE})"
    chunks = select_steps(
        docs,
        (
            ("doc_id", f"posexplode({starts}) AS (chunk_idx, st)", "toks"),
            (
                "doc_id",
                "cast(chunk_idx as bigint) AS chunk_idx",
                f"slice(toks, st, {CHUNK_SIZE}) AS ctoks",
            ),
            ("doc_id", "chunk_idx", f"{hash_bucket_counts_expr('ctoks')} AS cv"),
            ("*", f"greatest({l2_norm_expr('cv')}, 1E-12D) AS __n"),
            SPREAD,
            ("doc_id", "chunk_idx", "transform(cv, x -> x / __n) AS cvec"),
        ),
    )
    queries = select_steps(
        docs.filter(f"doc_id % {RAG_QUERY_MOD} = 0"),
        _docvec_steps("query_doc_id", "qvec"),
    )
    cents = select_steps(
        docs.filter(_rag_cent_pred()), _docvec_steps("cent_id", "c_v")
    )
    return chunks, queries, cents


def _rag_float_layout(sf_dir: str) -> tuple[int, int] | None:
    """The float RAG fold's scored-join layout: None (broadcast the
    probes, the chunk index joins in place without shuffling) up to
    RAG_BCAST_PROBE_ROWS estimated probe rows; past it the probe side
    is too big to ship whole, the chunk index moves once through the
    salted cent_id exchange, and fanout_layout sizes it from the
    estimated pair count. Value-neutral (pinned by
    tests/test_ann_recall.py::test_rag_float_dropped_hint_regime_is_value_neutral;
    plan pinned in tests/test_plans.py)."""
    n_docs = parquet_rows(sf_dir, "documents")
    est_probes = (n_docs // RAG_QUERY_MOD) * RAG_N_PROBE if n_docs else 0
    if est_probes <= RAG_BCAST_PROBE_ROWS:
        return None
    est_pairs = (
        est_probes
        * (n_docs * RAG_CHUNKS_PER_DOC_EST * RAG_ASSIGN)
        / max(min(RAG_CENT_CAP, n_docs // RAG_CENT_MOD or 1), 1)
    )
    return fanout_layout(est_pairs, RAG_CENT_CAP, ANN_FLOAT_SLAB)


def q_rag_retrieval_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-served RAG retrieval, float fold — the labeled
    exactness/serving-compat BASELINE (registered as
    `rag_retrieval_float_baseline`); the SERVING-scale path is the
    quantized cogroup form `q_rag_retrieval_ivf_quant`, the
    `rag_retrieval` headline (8.4x at the sf10 replica; SCALE.md
    rounds 9-10). Each chunk is indexed in its RAG_ASSIGN nearest
    centroid cells and each query scores only the chunks inside its
    nprobe nearest cells, a pair reachable through several cells
    counting once (operators.ivf). Generalizes the reference's
    similarity compare (running_validation.py:306-316) from row-pair
    checking to serving corpus retrieval.

    Scale: the centroid table is O(nlist) and broadcast; assignment
    and probing are narrow maps; query scoring touches |probed cells|
    / nlist of the chunk index instead of all of it — cost tracks
    cells probed, not corpus size (SCALE.md has the measured 10×
    row). Recall vs the brute truth is pinned in
    tests/test_ann_recall.py.

    Determinism: identical hashed-BoW vectors, sequential-fold
    cosine rounded 6, (cent_id) and (doc_id, chunk_idx) tie-breaks —
    the oracle runs the identical IVF in SQL, so the approximation
    itself is value-checked, exactly as for `ann_topk`'s ivf arm."""
    chunks, queries, cents = _rag_frames(spark, sf_dir)
    carr = ivf.centroid_array(cents, "c_v")
    return ivf.score_float(
        ivf.assign_cells(chunks, carr, "cvec", RAG_ASSIGN),
        ivf.probe_cells(queries, carr, "qvec", RAG_N_PROBE),
        ["doc_id", "chunk_idx"],
        "query_doc_id",
        "cvec",
        "qvec",
        RAG_TOP_K,
        _rag_float_layout(sf_dir),
    )


def q_rag_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end RAG retrieval over the corpus, composed from the
    suite's own primitives: documents → sliding 64-token chunks
    (`text_chunks`' windowing) → hashed-BoW chunk embeddings
    (`unit_text_hash_embeddings`' feature space) → cosine top-3 chunks
    per query document (the brute scoring baseline; the IVF/LSH twins
    are this op's serving path at scale, exactly as for `ann_topk`).
    Queries are every 50th document embedded whole; own-document
    chunks are excluded, so the result is "the best passages
    elsewhere in the corpus" — the retrieval-index shape behind
    RAG and dedup-by-retrieval alike.

    Determinism: integer bucket counts, the established sequential-
    fold dot/norm (identical IEEE order both engines), cosine rounded
    6 with (doc, chunk) tie-breaks. This brute pair scoring is the
    EXACTNESS BASELINE: `q_rag_retrieval_ivf` is the served scale
    path, and tests/test_ann_recall.py pins its recall against this
    truth."""
    chunks, queries, _ = _rag_frames(spark, sf_dir)

    scored = (
        chunks.crossJoin(F.broadcast(queries))
        .filter(F.col("doc_id") != F.col("query_doc_id"))
        .select(
            "query_doc_id",
            "doc_id",
            "chunk_idx",
            F.round(dot(F.col("qvec"), F.col("cvec")), 6).alias("cos_sim"),
        )
    )
    return ivf.top_k(
        scored, "query_doc_id", "cos_sim", ["doc_id", "chunk_idx"], RAG_TOP_K
    )


def _rag_oracle_ctes() -> str:
    """Shared DuckDB CTE prefix for both RAG oracles: tokenized docs,
    sliding chunks, hashed-BoW chunk/query/centroid vectors —
    mirroring `_rag_frames` expression for expression."""
    from .text import CHUNK_SIZE, _STRIDE, _tokens_sql

    bucket = (
        "((strpos('0123456789abcdef', substr(md5(tok), 1, 1)) - 1) * 16"
        " + (strpos('0123456789abcdef', substr(md5(tok), 2, 1)) - 1)) % 64"
    )
    counts = (
        f"list_transform(generate_series(0, 63), b -> "
        f"CAST(len(list_filter({{src}}, tok -> {bucket} = b)) AS DOUBLE))"
    )
    from ..operators.vectors import dot_sql as _ds

    # unit normalization mirroring _rag_frames (pair scoring is then
    # one sequential dot on both engines)
    unit = (
        "list_transform({src}, x -> x / greatest(sqrt("
        + _ds("{src}", "{src}")
        + "), 1e-12))"
    )
    return f"""t AS (SELECT doc_id, {_tokens_sql('text')} AS toks FROM documents),
chunks AS (
  SELECT doc_id, CAST(pos - 1 AS BIGINT) AS chunk_idx,
         toks[s:s + {CHUNK_SIZE - 1}] AS ctoks
  FROM (
    SELECT doc_id, toks, u.s, u.pos
    FROM t, LATERAL (
      SELECT unnest(range(1, greatest(len(toks), 1) + 1, {_STRIDE})) AS s,
             generate_subscripts(range(1, greatest(len(toks), 1) + 1, {_STRIDE}), 1) AS pos
    ) u
  )
),
cv0 AS (
  SELECT doc_id, chunk_idx, {counts.format(src='ctoks')} AS v FROM chunks
),
cvecs AS (
  SELECT doc_id, chunk_idx, {unit.format(src='v')} AS v FROM cv0
),
qv0 AS (
  SELECT doc_id AS query_doc_id, {counts.format(src='toks')} AS v
  FROM t WHERE doc_id % {RAG_QUERY_MOD} = 0
),
qvecs AS (
  SELECT query_doc_id, {unit.format(src='v')} AS v FROM qv0
),
cent0 AS (
  SELECT doc_id AS cent_id, {counts.format(src='toks')} AS c_v
  FROM t WHERE doc_id % {RAG_CENT_MOD} = {RAG_CENT_OFF}
    AND doc_id < {RAG_CENT_MOD * RAG_CENT_CAP}
),
cents AS (
  SELECT cent_id, {unit.format(src='c_v')} AS c_v FROM cent0
)"""


def _oracle_rag_retrieval() -> str:
    from ..operators.vectors import dot_sql

    return f"""
WITH {_rag_oracle_ctes()},
scored AS (
  SELECT q.query_doc_id, c.doc_id, c.chunk_idx,
         ROUND({dot_sql('q.v', 'c.v')}, 6) AS cos_sim
  FROM cvecs c JOIN qvecs q ON c.doc_id <> q.query_doc_id
)
SELECT query_doc_id, doc_id, chunk_idx, cos_sim, rk FROM (
  SELECT *, row_number() OVER (PARTITION BY query_doc_id
                               ORDER BY cos_sim DESC, doc_id, chunk_idx) AS rk
  FROM scored
) WHERE rk <= {RAG_TOP_K}
"""


def _oracle_rag_ivf() -> str:
    from ..operators.vectors import dot_sql

    return f"""
WITH {_rag_oracle_ctes()},
assigned AS (
  SELECT doc_id, chunk_idx, v, cent_id, arn FROM (
    SELECT c.doc_id, c.chunk_idx, c.v, ct.cent_id,
           row_number() OVER (PARTITION BY c.doc_id, c.chunk_idx
                              ORDER BY ROUND({dot_sql('c.v', 'ct.c_v')}, 6) DESC,
                                       ct.cent_id) AS arn
    FROM cvecs c CROSS JOIN cents ct
  ) WHERE arn <= {RAG_ASSIGN}
),
probes AS (
  SELECT query_doc_id, v, cent_id FROM (
    SELECT q.query_doc_id, q.v, ct.cent_id,
           row_number() OVER (PARTITION BY q.query_doc_id
                              ORDER BY ROUND({dot_sql('q.v', 'ct.c_v')}, 6) DESC,
                                       ct.cent_id) AS prn
    FROM qvecs q CROSS JOIN cents ct
  ) WHERE prn <= {RAG_N_PROBE}
),
scored AS (
  SELECT p.query_doc_id, a.doc_id, a.chunk_idx,
         ROUND({dot_sql('p.v', 'a.v')}, 6) AS cos_sim
  FROM probes p
  JOIN assigned a ON p.cent_id = a.cent_id
  WHERE a.doc_id <> p.query_doc_id
    AND NOT EXISTS (
      SELECT 1 FROM assigned a2 JOIN probes p2
        ON p2.cent_id = a2.cent_id
       AND p2.query_doc_id = p.query_doc_id
      WHERE a2.doc_id = a.doc_id AND a2.chunk_idx = a.chunk_idx
        AND a2.arn < a.arn)
)
SELECT query_doc_id, doc_id, chunk_idx, cos_sim, rk FROM (
  SELECT *, row_number() OVER (PARTITION BY query_doc_id
                               ORDER BY cos_sim DESC, doc_id, chunk_idx) AS rk
  FROM scored
) WHERE rk <= {RAG_TOP_K}
"""


# --- e6-integer-dot serving twins -------------------------------------------


def _onestage_cents(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """(cent_id, cx): the e6 centroid table of the ``embeddings`` (ANN)
    or ``documents`` (RAG) index as a SINGLE-STAGE plan — scan, filter,
    then the composed pipeline's own projection steps (`_unit_emb`,
    `_rag_frames`) run without their spread barriers. The barriers keep
    corpus-sized folds off one core and un-inlined; a ≤nlist-row
    metadata frame needs neither, and skipping them turns the
    per-build collect from a 3-stage AQE job (~0.66 s) into one task
    (~0.15 s). Same expressions in the same order, so the rows are
    bit-equal (tests/test_plans.py::test_onestage_cent_rows_identical).
    A zero-norm embedding at a centroid id normalizes to a null vector
    (or one with null elements); ``ivf.topk_cells_explode`` drops such
    a centroid, as the oracle's null-filtered CTE drops it."""
    if table == "embeddings":
        pred, steps, cid, vec = _ann_cent_pred(), _UNIT_EMB_STEPS, "vec_id", "u"
    else:
        pred, cid, vec = _rag_cent_pred(), "cent_id", "c_v"
        steps = _RAG_DOC_STEPS + _docvec_steps(cid, vec)
    source = load_table(spark, table, sf_dir).filter(pred)
    return select_steps(source, steps, barriers=False).selectExpr(
        f"{cid} AS cent_id", f"{_to_e6_expr(vec)} AS cx"
    )


def q_rag_retrieval_ivf_quant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-served RAG retrieval scored in the e6-integer-dot domain —
    the Arrow-kernel serving twin of `q_rag_retrieval_ivf`: same
    corpus, same IVF geometry, same redundant-assignment dedup rule.
    The float fold keeps its cosine in JVM higher-order functions
    because numpy's pairwise summation and the engines' sequential
    fold differ in the last ulp, which ROUND(cos, 6) can surface; in
    the e6 domain every dot is exact integer arithmetic, so numpy
    reproduces SQL bit-for-bit and all three pairwise stages (assign,
    probe, score) move into Arrow kernels (operators.ivf). Measured
    8.4× the float serving wall at the sf10 replica (SCALE.md round
    9). The score column is the raw e12-scale integer dot (`sim_e12`
    — cosine ×1e12 up to quantization), whose ranking the recall
    gate checks against the float truth. Generalizes the reference's
    similarity compare (running_validation.py:306-316) the same way
    the float twin does."""
    chunks, queries, _ = _rag_frames(spark, sf_dir)
    # one collect of the capped centroid table serves both kernels
    cents = _onestage_cents(spark, sf_dir, "documents").collect()
    cq = chunks.selectExpr("doc_id", "chunk_idx", f"{_to_e6_expr('cvec')} AS x")
    qq = queries.selectExpr("query_doc_id", f"{_to_e6_expr('qvec')} AS qx")
    return ivf.score_e6(
        ivf.topk_cells_explode(cq, "x", cents, RAG_ASSIGN, keep_cells=True),
        ivf.topk_cells_explode(
            qq, "qx", cents, RAG_N_PROBE, keep_cells=True
        ).selectExpr("query_doc_id", "qx", "cells AS probed", "cent_id"),
        ["doc_id", "chunk_idx"],
        "query_doc_id",
        "sim_e12",
        RAG_TOP_K,
        RAG_COGROUP_SALT,
        cogroup_parts(spark),
    )


def _idot_sql(a: str, b: str) -> str:
    """Exact integer dot of two BIGINT[] expressions — DuckDB twin of
    the row-wise Arrow kernel (order-independent, so any evaluation
    order matches)."""
    return (
        f"CAST(list_sum(list_transform(generate_series(1, len({a})), "
        f"i -> {a}[i] * {b}[i])) AS BIGINT)"
    )


def _oracle_rag_ivf_quant() -> str:
    idot = _idot_sql
    return f"""
WITH {_rag_oracle_ctes()},
cq AS (SELECT doc_id, chunk_idx, {_to_e6_sql('v')} AS x FROM cvecs
       WHERE v IS NOT NULL AND len(list_filter(v, e -> e IS NULL)) = 0),
qq AS (SELECT query_doc_id, {_to_e6_sql('v')} AS x FROM qvecs
       WHERE v IS NOT NULL AND len(list_filter(v, e -> e IS NULL)) = 0),
ctq AS (SELECT cent_id, {_to_e6_sql('c_v')} AS x FROM cents),
assigned AS (
  SELECT doc_id, chunk_idx, x, cent_id, arn FROM (
    SELECT c.doc_id, c.chunk_idx, c.x, ct.cent_id,
           row_number() OVER (PARTITION BY c.doc_id, c.chunk_idx
                              ORDER BY {idot('c.x', 'ct.x')} DESC,
                                       ct.cent_id) AS arn
    FROM cq c CROSS JOIN ctq ct
  ) WHERE arn <= {RAG_ASSIGN}
),
probes AS (
  SELECT query_doc_id, x, cent_id FROM (
    SELECT q.query_doc_id, q.x, ct.cent_id,
           row_number() OVER (PARTITION BY q.query_doc_id
                              ORDER BY {idot('q.x', 'ct.x')} DESC,
                                       ct.cent_id) AS prn
    FROM qq q CROSS JOIN ctq ct
  ) WHERE prn <= {RAG_N_PROBE}
),
scored AS (
  SELECT p.query_doc_id, a.doc_id, a.chunk_idx,
         {idot('p.x', 'a.x')} AS sim_e12
  FROM probes p
  JOIN assigned a ON p.cent_id = a.cent_id
  WHERE a.doc_id <> p.query_doc_id
    AND NOT EXISTS (
      SELECT 1 FROM assigned a2 JOIN probes p2
        ON p2.cent_id = a2.cent_id
       AND p2.query_doc_id = p.query_doc_id
      WHERE a2.doc_id = a.doc_id AND a2.chunk_idx = a.chunk_idx
        AND a2.arn < a.arn)
)
SELECT query_doc_id, doc_id, chunk_idx, sim_e12, rk FROM (
  SELECT *, row_number() OVER (PARTITION BY query_doc_id
                               ORDER BY sim_e12 DESC, doc_id, chunk_idx) AS rk
  FROM scored
) WHERE rk <= {RAG_TOP_K}
"""


ANN_COGROUP_SALT = _geo("ANN_COGROUP_SALT", 4)


def q_ann_ivf_quant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN search scored in the e6-integer-dot domain — the
    Arrow-kernel serving twin of `q_ann_ivf_cosine` (the float arm
    stays the cosine-scale form inside `ann_topk`'s tagged union).
    Same geometry (nlist=CENTROID_CAP, nprobe=N_PROBE, modular
    centroid selection), same tie-breaks; the score column is the
    raw e12-scale integer dot (`s_e12` — cosine x1e12 up to
    quantization), and the DuckDB oracle replays the whole pipeline
    bit-exactly. tests/test_ann_recall.py pins top-k agreement with
    the float arm.

    Shipped because the measured crossover is real (SCALE.md round
    10): at the 100x replica (100k vectors, 1000 queries, 4.97M
    scored pairs) the float arm read 8.93 s warm and this twin 2.84 s
    with top-10 set agreement 1.0; at the 2k-vector fixture the two
    are at parity. Plan: two narrow MapInPandas passes (assignment
    k=1, probing k=nprobe) against the collected <=nlist centroid
    table, then one salted FlatMapCoGroupsInPandas matmul; the only
    corpus exchange is the cogroup's cent_id shuffle. Each vector
    lives in exactly one cell, so no dedup rule applies.

    Generalizes the reference's similarity compare
    (running_validation.py:306-316) to indexed corpus search, like
    the float twin it shadows."""
    emb = _unit_emb(spark, sf_dir).selectExpr("vec_id", f"{_to_e6_expr('u')} AS x")
    # one collect of the capped centroid table serves both kernels
    cents = _onestage_cents(spark, sf_dir, "embeddings").collect()
    return ivf.score_e6(
        ivf.topk_cells_explode(emb, "x", cents, 1),
        ivf.topk_cells_explode(_ann_queries(emb, "x", "qx"), "qx", cents, N_PROBE),
        ["vec_id"],
        "query_id",
        "s_e12",
        TOP_K,
        ANN_COGROUP_SALT,
        cogroup_parts(spark),
    )


def _oracle_ann_ivf_quant() -> str:
    idot = _idot_sql
    return f"""
WITH {_UNITS_CTE},
uq AS (SELECT vec_id, {_to_e6_sql('u')} AS x FROM units
       WHERE u IS NOT NULL AND len(list_filter(u, e -> e IS NULL)) = 0),
cents AS (
  SELECT vec_id AS cent_id, x AS cx FROM uq
  WHERE vec_id % {CENTROID_MOD} = {CENTROID_OFF}
    AND vec_id < {CENTROID_MOD * CENTROID_CAP}
),
assigned AS (
  SELECT vec_id, x, cent_id FROM (
    SELECT v.vec_id, v.x, c.cent_id,
           row_number() OVER (PARTITION BY v.vec_id
                              ORDER BY {idot('v.x', 'c.cx')} DESC,
                                       c.cent_id) AS arn
    FROM uq v CROSS JOIN cents c
  ) WHERE arn = 1
),
probes AS (
  SELECT query_id, x, cent_id FROM (
    SELECT q.vec_id AS query_id, q.x, c.cent_id,
           row_number() OVER (PARTITION BY q.vec_id
                              ORDER BY {idot('q.x', 'c.cx')} DESC,
                                       c.cent_id) AS prn
    FROM uq q CROSS JOIN cents c
    WHERE q.vec_id % {QUERY_MOD} = 0
  ) WHERE prn <= {N_PROBE}
),
scored AS (
  SELECT p.query_id, a.vec_id, {idot('p.x', 'a.x')} AS s_e12
  FROM probes p JOIN assigned a ON p.cent_id = a.cent_id
  WHERE a.vec_id <> p.query_id
)
SELECT query_id, vec_id, s_e12, rk FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY s_e12 DESC, vec_id) AS rk
  FROM scored
) WHERE rk <= {TOP_K}
"""


# --- product quantization (PQ) codebook assignment --------------------------

PQ_M = 8       # subspaces
PQ_DSUB = 8    # dims per subspace (8 × 8 = the 64-dim fixture vectors)
PQ_K = 16      # codes per subspace codebook
PQ_CENT_MOD = 31
PQ_CENT_OFF = 5  # vec_id % 31 == 5, first PQ_K by id → codebook vectors


def q_pq_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encoding (Jégou, Douze & Schmid 2011,
    "Product Quantization for Nearest Neighbor Search"): split each
    64-dim vector into M=8 subvectors of 8 dims, assign every
    subvector to its nearest codeword in that subspace's K=16-entry
    codebook, and emit the 8-byte PQ code plus the exact
    reconstruction error — the memory-bound serving format that stores
    a vector in M·log2(K) = 64 bits instead of 64 floats (the
    compression stage IVF-PQ indexes pair with the suite's IVF cells).
    Codebooks here are a deterministic modular selection of corpus
    vectors (code k = vec_id DIV 31 over vec_id % 31 == 5), standing
    in for the k-means-trained codebooks of a production index — the
    assignment/encoding plan is identical either way.

    Spark plan: ONE posexplode to (vec_id, m, subvector) rows, the
    codebook (M·K = 128 rows) broadcast into the per-subspace distance
    join, and the per-(vec_id, m) argmin as a min(struct) aggregation
    with map-side combine — no rank window, the same no-shuffle-argmax
    shape as the IVF assignment. Reassembly is one (vec_id) groupBy.
    Everything is input-linear; the codebook is O(M·K) at any corpus
    size.

    Determinism: subspace L2² is the sequential zip_with fold rounded
    6, integerized ×1e6 so the cross-subspace sum is exact bigint
    arithmetic in both engines; argmin ties break on lower code."""
    emb = _emb(spark, sf_dir)
    subs = emb.selectExpr(
        "vec_id",
        f"posexplode(transform(sequence(0, {PQ_M - 1}), "
        f"m -> slice(embedding, m * {PQ_DSUB} + 1, {PQ_DSUB}))) AS (m, sub)",
    )
    cents = subs.filter(
        (F.col("vec_id") % PQ_CENT_MOD == PQ_CENT_OFF)
        & (F.col("vec_id") < PQ_CENT_MOD * PQ_K)
    ).selectExpr(f"vec_id DIV {PQ_CENT_MOD} AS code", "m", "sub AS csub")
    scored = subs.join(F.broadcast(cents), "m").selectExpr(
        "vec_id",
        "m",
        "code",
        "round(aggregate(zip_with(sub, csub, (a, b) -> "
        "(cast(a as double) - cast(b as double)) * "
        "(cast(a as double) - cast(b as double))), 0.0D, (acc, x) -> acc + x), 6)"
        " AS d2",
    )
    best = (
        scored.groupBy("vec_id", "m")
        .agg(F.min(F.struct(F.col("d2"), F.col("code"))).alias("best"))
        .selectExpr(
            "vec_id",
            "m",
            "best.code AS code",
            "cast(round(best.d2 * 1000000) as bigint) AS d2_e6",
        )
    )
    return (
        best.groupBy("vec_id")
        .agg(
            F.sort_array(F.collect_list(F.struct("m", "code", "d2_e6"))).alias("arr")
        )
        .selectExpr(
            "vec_id",
            "concat_ws(',', transform(arr, s -> cast(s.code as string))) AS pq_code",
            "round(sqrt(cast(aggregate(arr, 0L, (acc, s) -> acc + s.d2_e6) "
            "as double) / 1000000), 6) AS recon_err",
        )
    )


ORACLE_PQ_QUANTIZE = f"""
WITH subs AS (
  SELECT vec_id, u.m, embedding[u.m * {PQ_DSUB} + 1 : u.m * {PQ_DSUB} + {PQ_DSUB}] AS sub
  FROM embeddings, LATERAL (SELECT unnest(range(0, {PQ_M})) AS m) u
),
cents AS (
  SELECT vec_id // {PQ_CENT_MOD} AS code, m, sub AS csub FROM subs
  WHERE vec_id % {PQ_CENT_MOD} = {PQ_CENT_OFF} AND vec_id < {PQ_CENT_MOD * PQ_K}
),
d AS (
  SELECT s.vec_id, s.m, c.code,
         ROUND(list_aggregate(list_transform(generate_series(1, {PQ_DSUB}),
           k -> (s.sub[k]::DOUBLE - c.csub[k]::DOUBLE)
              * (s.sub[k]::DOUBLE - c.csub[k]::DOUBLE)), 'sum'), 6) AS d2
  FROM subs s JOIN cents c ON s.m = c.m
),
best AS (
  SELECT vec_id, m, code, CAST(round(d2 * 1000000) AS BIGINT) AS d2_e6 FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, code) AS rn
    FROM d
  ) WHERE rn = 1
)
SELECT vec_id,
       string_agg(code::VARCHAR, ',' ORDER BY m) AS pq_code,
       ROUND(sqrt(CAST(CAST(sum(d2_e6) AS BIGINT) AS DOUBLE) / 1000000), 6)
         AS recon_err
FROM best GROUP BY vec_id
"""


# --- IVF-PQ: cell-probed ANN with asymmetric-distance scoring ---------------

def q_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ search (Jégou et al. 2011 §IV): the full production ANN
    serving structure — IVF cells bound WHICH vectors are scored,
    PQ codes bound HOW MUCH it costs to score each one. Unit-normalize
    → assign vectors to IVF cells → PQ-encode each unit vector as
    M=8 4-bit-ish codes → per query, build the 8×16 asymmetric
    look-up table (query-subvector · codeword, the ADC trick: exact
    query side, quantized corpus side) → candidate score is 8 LUT
    adds instead of a 64-dim dot. Top-10 per query by approximate
    cosine, (vec_id) tie-break. Approximation quality = PQ
    reconstruction error; the oracle replays the IDENTICAL structure
    so the approximation itself is value-checked (the ann_topk brute
    arm remains the corpus-wide exactness baseline).

    Scale: the LUT is queries × M·K = tiny and broadcast; candidate
    scoring touches nprobe/nlist of the corpus and costs M integer
    adds per candidate — the shape that serves billion-vector corpora
    from RAM. LUT entries are e6-integerized so the per-candidate
    M-term sum is exact bigint arithmetic in both engines.

    Composes `q_ann_ivf_cosine`'s cell assignment with
    `q_pq_quantize`'s codebooks (both re-derived over UNIT vectors
    here — ADC approximates cosine only if the encoded vectors are
    unit-normalized)."""
    emb = _unit_emb(spark, sf_dir)
    carr, assigned = _ann_float_index(emb)

    # PQ codebook over unit subvectors (same selection as q_pq_quantize)
    subs = assigned.selectExpr(
        "vec_id", "cent_id",
        f"posexplode(transform(sequence(0, {PQ_M - 1}), "
        f"m -> slice(u, m * {PQ_DSUB} + 1, {PQ_DSUB}))) AS (m, sub)",
    )
    book = subs.filter(
        (F.col("vec_id") % PQ_CENT_MOD == PQ_CENT_OFF)
        & (F.col("vec_id") < PQ_CENT_MOD * PQ_K)
    ).selectExpr(f"vec_id DIV {PQ_CENT_MOD} AS code", "m", "sub AS csub")
    codes = (
        subs.join(F.broadcast(book), "m")
        .selectExpr(
            "vec_id", "cent_id", "m", "code",
            "round(aggregate(zip_with(sub, csub, (a, b) -> "
            "(a - b) * (a - b)), 0.0D, (acc, x) -> acc + x), 6) AS d2",
        )
        .groupBy("vec_id", "cent_id", "m")
        .agg(F.min(F.struct(F.col("d2"), F.col("code"))).alias("b"))
        .select("vec_id", "cent_id", "m", F.col("b.code").alias("code"))
    )

    # queries: probe cells + ADC look-up table (query-sub · codeword)
    queries = _ann_queries(emb)
    probes = ivf.probe_cells(queries, carr, "q_u", N_PROBE)
    qsubs = queries.selectExpr(
        "query_id",
        f"posexplode(transform(sequence(0, {PQ_M - 1}), "
        f"m -> slice(q_u, m * {PQ_DSUB} + 1, {PQ_DSUB}))) AS (m, qsub)",
    )
    lut = qsubs.join(F.broadcast(book), "m").selectExpr(
        "query_id", "m", "code",
        "cast(round(round(aggregate(zip_with(qsub, csub, (a, b) -> a * b), "
        "0.0D, (acc, x) -> acc + x), 6) * 1000000) as bigint) AS w_e6",
    )

    cands = (
        F.broadcast(probes.select("query_id", "cent_id"))
        .join(assigned.select("vec_id", "cent_id"), "cent_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", "cent_id")
    )
    scored = (
        cands.join(codes, ["vec_id", "cent_id"])
        .join(F.broadcast(lut), ["query_id", "m", "code"])
        .groupBy("query_id", "vec_id")
        .agg(F.sum("w_e6").alias("s_e6"))
        .select(
            "query_id", "vec_id",
            (F.col("s_e6").cast("double") / F.lit(1e6)).alias("approx_cos"),
        )
    )
    return ivf.top_k(scored, "query_id", "approx_cos", ["vec_id"], TOP_K).select(
        "query_id", "vec_id", F.round("approx_cos", 6).alias("approx_cos"), "rk"
    )


def _oracle_ann_ivfpq() -> str:
    return f"""
WITH {_UNITS_CTE},
cents AS (
  SELECT vec_id AS cent_id, u AS c_u FROM units
  WHERE vec_id % {CENTROID_MOD} = {CENTROID_OFF}
    AND vec_id < {CENTROID_MOD * CENTROID_CAP}
),
assigned AS (
  SELECT vec_id, u, cent_id FROM (
    SELECT v.vec_id, v.u, c.cent_id,
           row_number() OVER (PARTITION BY v.vec_id
                              ORDER BY ROUND({dot_sql('v.u', 'c.c_u')}, 6) DESC,
                                       c.cent_id) AS arn
    FROM units v CROSS JOIN cents c
  ) WHERE arn = 1
),
subs AS (
  SELECT vec_id, cent_id, g.m,
         u[g.m * {PQ_DSUB} + 1 : g.m * {PQ_DSUB} + {PQ_DSUB}] AS sub
  FROM assigned, LATERAL (SELECT unnest(range(0, {PQ_M})) AS m) g
),
book AS (
  SELECT vec_id // {PQ_CENT_MOD} AS code, m, sub AS csub FROM subs
  WHERE vec_id % {PQ_CENT_MOD} = {PQ_CENT_OFF} AND vec_id < {PQ_CENT_MOD * PQ_K}
),
codes AS (
  SELECT vec_id, cent_id, m, code FROM (
    SELECT s.vec_id, s.cent_id, s.m, b.code,
           row_number() OVER (PARTITION BY s.vec_id, s.m
             ORDER BY ROUND(list_aggregate(list_transform(generate_series(1, {PQ_DSUB}),
               k -> (s.sub[k] - b.csub[k]) * (s.sub[k] - b.csub[k])), 'sum'), 6),
               b.code) AS rn
    FROM subs s JOIN book b ON s.m = b.m
  ) WHERE rn = 1
),
queries AS (
  SELECT vec_id AS query_id, u AS q_u FROM units WHERE vec_id % {QUERY_MOD} = 0
),
probes AS (
  SELECT query_id, cent_id FROM (
    SELECT q.query_id, c.cent_id,
           row_number() OVER (PARTITION BY q.query_id
                              ORDER BY ROUND({dot_sql('q.q_u', 'c.c_u')}, 6) DESC,
                                       c.cent_id) AS prn
    FROM queries q CROSS JOIN cents c
  ) WHERE prn <= {N_PROBE}
),
qsubs AS (
  SELECT query_id, g.m, q_u[g.m * {PQ_DSUB} + 1 : g.m * {PQ_DSUB} + {PQ_DSUB}] AS qsub
  FROM queries, LATERAL (SELECT unnest(range(0, {PQ_M})) AS m) g
),
lut AS (
  SELECT q.query_id, q.m, b.code,
         CAST(round(ROUND(list_aggregate(list_transform(generate_series(1, {PQ_DSUB}),
           k -> q.qsub[k] * b.csub[k]), 'sum'), 6) * 1000000) AS BIGINT) AS w_e6
  FROM qsubs q JOIN book b ON q.m = b.m
),
cands AS (
  SELECT p.query_id, a.vec_id, a.cent_id
  FROM probes p JOIN assigned a ON p.cent_id = a.cent_id
  WHERE a.vec_id <> p.query_id
),
scored AS (
  SELECT c.query_id, c.vec_id,
         CAST(CAST(sum(l.w_e6) AS BIGINT) AS DOUBLE) / 1000000 AS approx_cos
  FROM cands c
  JOIN codes k ON c.vec_id = k.vec_id AND c.cent_id = k.cent_id
  JOIN lut l ON l.query_id = c.query_id AND l.m = k.m AND l.code = k.code
  GROUP BY c.query_id, c.vec_id
)
SELECT query_id, vec_id, ROUND(approx_cos, 6) AS approx_cos, rk FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY approx_cos DESC, vec_id) AS rk
  FROM scored
) WHERE rk <= {TOP_K}
"""


# --- Johnson–Lindenstrauss sign projection ----------------------------------

JL_OUT_DIM = 16
JL_IN_DIM = 64


def _jl_signs() -> list[list[float]]:
    """Deterministic ±1 projection matrix: sign(j,k) from the parity
    of the first hex digit of md5("j|k") — the Achlioptas (2003)
    database-friendly JL construction with a hash in place of the coin
    flips, so both engines derive the identical matrix."""
    import hashlib

    return [
        [
            1.0 if int(hashlib.md5(f"{j}|{k}".encode()).hexdigest()[0], 16) % 2 == 0
            else -1.0
            for k in range(JL_IN_DIM)
        ]
        for j in range(JL_OUT_DIM)
    ]


def q_jl_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson–Lindenstrauss dimensionality reduction as an operator:
    project every 64-dim embedding to 16 dims with a deterministic
    ±1/√16 sign matrix (Achlioptas 2003 — database-friendly JL:
    random signs suffice, no Gaussians), emitting the projected vector
    and the norm-preservation ratio ‖y‖/‖x‖ the JL lemma bounds. This
    is the cheap front-end of every large-scale similarity pipeline —
    4× fewer dimensions before LSH/IVF/PQ indexing cuts every
    downstream dot product 4× (composes with `unit_pq_quantize` and
    the IVF cells).

    Plan: the 16×64 matrix is a LITERAL in the expression tree
    (module-derived, identical in the SQL oracle) — no join, no
    broadcast, a pure narrow map over the corpus; each output dim is
    one sequential zip_with fold. Determinism: per-dim projection
    rounded 6; the norm ratio divides two sequential-fold norms and
    rounds 6 (ratio guarded for the zero vector)."""
    signs = _jl_signs()
    mat = (
        "array("
        + ", ".join(
            "array(" + ", ".join(f"{s:.1f}D" for s in row) + ")" for row in signs
        )
        + ")"
    )
    scale = f"sqrt(cast({JL_OUT_DIM} as double))"
    emb = _emb(spark, sf_dir)
    return emb.selectExpr(
        "vec_id",
        "embedding",
        # NB: Spark's arr[j] is 0-based (the oracle's DuckDB [j] is
        # 1-based — its sequence runs 1..16)
        f"transform(sequence(0, {JL_OUT_DIM - 1}), j -> "
        f"round(aggregate(zip_with(embedding, {mat}[j], "
        "(a, b) -> cast(a as double) * b), 0.0D, (acc, x) -> acc + x) "
        f"/ {scale}, 6)) AS y",
    ).selectExpr(
        "vec_id",
        "concat_ws(',', transform(y, v -> format_string('%.6f', v))) AS y_csv",
        "round(sqrt(aggregate(y, 0.0D, (acc, v) -> acc + v * v)) / "
        "greatest(sqrt(aggregate(embedding, 0.0D, "
        "(acc, v) -> acc + cast(v as double) * cast(v as double))), 1E-12D), 6)"
        " AS norm_ratio",
    )


def _oracle_jl_projection() -> str:
    signs = _jl_signs()
    mat = (
        "["
        + ", ".join(
            "[" + ", ".join(f"{s:.1f}" for s in row) + "]" for row in signs
        )
        + "]"
    )
    # The matrix is bound ONCE in a one-row subquery: inlined into the
    # lambdas, DuckDB rebuilds the 16×64 literal for every element.
    return f"""
WITH proj AS (
  SELECT vec_id, embedding,
         list_transform(generate_series(1, {JL_OUT_DIM}), j ->
           ROUND(list_aggregate(list_transform(generate_series(1, {JL_IN_DIM}),
             k -> embedding[k]::DOUBLE * jl.m[j][k]), 'sum')
           / sqrt(CAST({JL_OUT_DIM} AS DOUBLE)), 6)) AS y
  FROM embeddings, (SELECT {mat} AS m) AS jl
)
SELECT vec_id,
       list_aggregate(list_transform(y, v -> format('{{:.6f}}', v)), 'string_agg', ',')
         AS y_csv,
       ROUND(sqrt(list_aggregate(list_transform(y, v -> v * v), 'sum'))
         / greatest(sqrt(list_aggregate(list_transform(embedding, v -> v::DOUBLE * v::DOUBLE), 'sum')), 1E-12), 6)
         AS norm_ratio
FROM proj
"""


# --- per-label centroid similarity matrix ----------------------------------

def q_label_centroid_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space class analytics: the per-label centroid table
    and the pairwise centroid cosine matrix — the first diagnostic of
    label quality in an embedding space (two labels whose centroids
    cosine ≈ 1 are indistinguishable to a linear probe; a label whose
    centroid hugs the origin has no signal). Complements the search
    ops (ANN) and the clustering ops (k-means/SemDeDup) with the
    LABEL-conditioned view.

    Exactness: components e6-integerized per row (the k-means fixed
    point), per-label sums exact bigints, centroid components ONE
    shared-shape division each; the pairwise dot/norm reductions run
    over the 64-dim LONG form with per-term rounding + DECIMAL sums
    (no order-dependent float accumulation), and the final cosine is
    the shared dot/(‖a‖‖b‖) chain rounded 6.

    Scale: one posexplode (narrow), one (label, dim) groupBy with
    map-side combine → 10×64 rows; the pair join is over the tiny
    centroid table — input size touches only the first aggregation."""
    emb = load_table(spark, "embeddings", sf_dir)
    long = emb.select(
        "label", F.posexplode(_to_e6(F.col("embedding"))).alias("dim", "x")
    )
    cent = long.groupBy("label", "dim").agg(
        F.sum("x").alias("s"), F.count("*").alias("n")
    ).select(
        "label",
        "dim",
        "n",
        (F.col("s").cast("double") / F.col("n")).alias("c"),
    )
    a = cent.select(
        F.col("label").alias("label_a"), "dim",
        F.col("c").alias("ca"), F.col("n").alias("n_a"),
    )
    b = cent.select(
        F.col("label").alias("label_b"), "dim",
        F.col("c").alias("cb"), F.col("n").alias("n_b"),
    )
    pairs = (
        a.join(b, "dim")
        .filter(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(
            F.max("n_a").cast("bigint").alias("n_a"),
            F.max("n_b").cast("bigint").alias("n_b"),
            F.sum(F.round(F.col("ca") * F.col("cb"), 6).cast("decimal(28,6)"))
            .cast("double")
            .alias("dot"),
            F.sum(F.round(F.col("ca") * F.col("ca"), 6).cast("decimal(28,6)"))
            .cast("double")
            .alias("naa"),
            F.sum(F.round(F.col("cb") * F.col("cb"), 6).cast("decimal(28,6)"))
            .cast("double")
            .alias("nbb"),
        )
    )
    return pairs.select(
        "label_a",
        "label_b",
        "n_a",
        "n_b",
        F.round(
            F.col("dot") / (F.sqrt(F.col("naa")) * F.sqrt(F.col("nbb"))), 6
        ).alias("centroid_cos"),
    )


ORACLE_LABEL_CENTROID_SIM = """
WITH long AS (
  SELECT label, u.dim - 1 AS dim,
         CAST(sign(CAST(u.x AS DOUBLE))
              * floor(abs(CAST(u.x AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS x
  FROM embeddings,
       LATERAL (SELECT unnest(embedding) AS x,
                       generate_subscripts(embedding, 1) AS dim) u
),
cent AS (
  SELECT label, dim, count(*) AS n,
         CAST(CAST(sum(x) AS BIGINT) AS DOUBLE) / count(*) AS c
  FROM long GROUP BY label, dim
),
pairs AS (
  SELECT a.label AS label_a, b.label AS label_b,
         CAST(max(a.n) AS BIGINT) AS n_a, CAST(max(b.n) AS BIGINT) AS n_b,
         CAST(sum(CAST(ROUND(a.c * b.c, 6) AS DECIMAL(28,6))) AS DOUBLE) AS dot,
         CAST(sum(CAST(ROUND(a.c * a.c, 6) AS DECIMAL(28,6))) AS DOUBLE) AS naa,
         CAST(sum(CAST(ROUND(b.c * b.c, 6) AS DECIMAL(28,6))) AS DOUBLE) AS nbb
  FROM cent a JOIN cent b ON a.dim = b.dim AND a.label < b.label
  GROUP BY a.label, b.label
)
SELECT label_a, label_b, n_a, n_b,
       ROUND(dot / (sqrt(naa) * sqrt(nbb)), 6) AS centroid_cos
FROM pairs
"""


SPECS = [
    # round 10 (VERDICT r9 ask #1): the headline key now serves the
    # e6-integer-dot QUANTIZED form — the measured 100 TB serving
    # shape (8.4x the float fold's wall at the sf10 replica, 36x at
    # the nlist~sqrt(n) production geometry; SCALE.md round 9, which
    # deferred this promotion until the twin's first driver row
    # seated green — recorded in CORRECTNESS_r09). Result schema is
    # the integer `sim_e12` score (a rotation-rule-2 rewrite of this
    # key); the float fold stays registered below as
    # rag_retrieval_float_baseline, mirroring the other `_baseline`
    # exactness labels.
    QuerySpec("rag_retrieval", q_rag_retrieval_ivf_quant,
              _oracle_rag_ivf_quant(),
              "IVF-served RAG chunk retrieval, e6-integer-dot serving form:"
              " Arrow assignment/probing + salted cogroup matmul, local top-k",
              headline=True),
    # round 6 rotations: the never-driver-checked quantization /
    # projection trio takes the slots of ann_topk + semantic_dedup
    # (driver-green r2–r5 / r4–r5; bench still times the headliners).
    QuerySpec("unit_pq_quantize", q_pq_quantize, ORACLE_PQ_QUANTIZE,
              "product-quantization 8x8 codebook encode + exact recon error"),
    QuerySpec("unit_jl_projection", q_jl_projection, _oracle_jl_projection(),
              "Johnson-Lindenstrauss 64->16 sign projection + norm audit"),
    QuerySpec("unit_ann_ivfpq", q_ann_ivfpq, _oracle_ann_ivfpq(),
              "IVF-PQ: cell-probed ANN with e6-exact ADC LUT scoring"),
    # second round-6 rotation (never driver-checked before):
    QuerySpec("unit_kmeans_clusters", q_kmeans_clusters, ORACLE_KMEANS,
              "exact fixed-point Lloyd k-means (2 iterations, e6 integers)"),
    QuerySpec("unit_hard_negatives", q_hard_negatives, _oracle_hard_negatives(),
              "contrastive pair mining: nearest positive + hard negative"),
]

UNIT_SPECS = [
    QuerySpec("unit_ann_lsh", q_ann_lsh_cosine, _oracle_ann_lsh(),
              "SRP-LSH bucketed cosine top-K (train-free hash-join ANN)"),
    QuerySpec("unit_rag_retrieval", q_rag_retrieval, _oracle_rag_retrieval(),
              "RAG brute chunk retrieval — exactness/recall baseline for rag_retrieval"),
    # round 10: the float fold — the rag_retrieval headline key until
    # its quantized twin's promotion (see SPECS above) — re-registered
    # under a `_baseline` label with its oracle and recall gates
    # intact. Stays headline-flagged so every bench round keeps the
    # float-vs-quant serving walls side by side (the quant form's
    # sf0.1 overhead regime is pre-adjudicated in SCALE.md round 9).
    QuerySpec("rag_retrieval_float_baseline", q_rag_retrieval_ivf,
              _oracle_rag_ivf(),
              "float-fold IVF RAG serving — cosine-scale exactness and"
              " serving-compat baseline for the quantized headline",
              headline=True),
    QuerySpec("unit_label_centroid_sim", q_label_centroid_sim,
              ORACLE_LABEL_CENTROID_SIM,
              "per-label centroid cosine matrix, e6-exact reductions"),
    QuerySpec("unit_embed_quantize", q_embed_quantize, ORACLE_EMBED_QUANTIZE,
              "symmetric int8 vector quantization with error audit"),
    # rotated out in round 6 (driver-green r2–r5 / r4–r5):
    QuerySpec("ann_topk", q_ann_topk, ORACLE_ANN_TOPK_TAGGED,
              "brute-force baseline + IVF scale-path cosine top-10",
              headline=True),
    # round 10 (VERDICT r9 ask #2): the measured crossover was real
    # (3.1x at the 100x replica, agreement 1.0), so the cogroup
    # lesson ships for the embeddings IVF arm too.
    QuerySpec("unit_ann_ivf_quant", q_ann_ivf_quant, _oracle_ann_ivf_quant(),
              "e6-integer-dot IVF ANN serving twin: Arrow assignment/probing"
              " + salted cogroup matmul (round-10 crossover study)",
              headline=True),
    QuerySpec("unit_semantic_dedup", q_semantic_dedup, _oracle_semantic_dedup(),
              "SemDeDup: spherical-kmeans cluster-then-prune near-dup removal",
              headline=True),
    # round 7: the linear-at-scale twin — two-level coarse→fine
    # routing so neither the assignment nor the pair space goes
    # quadratic (SCALE.md round 7); the exact-Lloyd form above stays
    # the certification baseline, same pattern as capped containment.
    QuerySpec("unit_semantic_dedup_hier", q_semantic_dedup_hier,
              _oracle_semantic_dedup_hier(),
              "hierarchical SemDeDup: coarse-routed fine Voronoi + prune"),
]
