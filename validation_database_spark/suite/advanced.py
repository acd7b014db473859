"""Advanced relational operators Spark has no single primitive for,
re-expressed as compositions (SURVEY.md §2.7 gap list + pyspark guide
"common OLAP patterns"): as-of join, range join via bucketing, exact
grouped linear regression, interpolated percentiles, global sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources import load_table
from . import QuerySpec


# --- as-of join --------------------------------------------------------

def q_asof_view_before_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of (backward) join without a cross product: for every
    purchase event, the same user's most recent view at-or-before it.
    Encoded as last_value(IGNORE NULLS) over the per-user event-time
    order — one shuffle on user_id, no range explosion; the idiomatic
    Spark rewrite of merge_asof."""
    ev = load_table(spark, "events", sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    view_ts = F.when(F.col("event_type") == "view", F.col("ts"))
    with_last = ev.withColumn("last_view_ts", F.last(view_ts, ignorenulls=True).over(w))
    return with_last.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "last_view_ts"
    )


ORACLE_ASOF = """
WITH ev AS (SELECT event_id, make_timestamp(epoch_ns(ts) // 1000) AS ts,
                   user_id, event_type FROM events),
lasted AS (
  SELECT event_id, user_id, ts, event_type,
         last_value(CASE WHEN event_type = 'view' THEN ts END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_view_ts
  FROM ev
)
SELECT event_id, user_id, ts, last_view_ts
FROM lasted WHERE event_type = 'purchase'
"""


# --- range join via bucketing -----------------------------------------

N_BANDS = 50
BAND_WIDTH = 100


def q_range_join_price_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join (part price ∈ [lo, hi) band) rewritten as an
    equi-join on the computed bucket key — the O(n) scale path; the
    oracle runs the naive BETWEEN theta-join to prove the rewrite is
    semantics-preserving."""
    part = load_table(spark, "part", sf_dir)
    bands = spark.range(N_BANDS).select(
        F.col("id").alias("band_id"),
        (F.col("id") * BAND_WIDTH).cast("double").alias("band_lo"),
        ((F.col("id") + 1) * BAND_WIDTH).cast("double").alias("band_hi"),
    )
    keyed = part.withColumn(
        "band_id", F.floor(F.col("p_retailprice") / BAND_WIDTH)
    )
    return keyed.join(F.broadcast(bands), "band_id").select(
        "p_partkey", "band_id", "band_lo", "band_hi", "p_retailprice"
    )


ORACLE_RANGE_JOIN = f"""
SELECT p.p_partkey, b.band_id, b.band_lo, b.band_hi, p.p_retailprice
FROM part p
JOIN (SELECT i AS band_id, CAST(i * {BAND_WIDTH} AS DOUBLE) AS band_lo,
             CAST((i + 1) * {BAND_WIDTH} AS DOUBLE) AS band_hi
      FROM range({N_BANDS}) t(i)) b
  ON p.p_retailprice >= b.band_lo AND p.p_retailprice < b.band_hi
"""


# --- interval × interval overlap join ----------------------------------

def q_session_week_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """General interval-overlap join (both sides are intervals, unlike
    the point-in-band case above): user sessions × calendar weeks,
    with the exact microsecond overlap of each pair. Runs through
    ``operators.intervals.interval_overlap_join`` — daily-bin
    explosion + equi-join on the bin id, never a nested loop; the
    oracle is the naive BETWEEN theta join, proving the rewrite
    emits each overlapping pair exactly once."""
    from ..operators.intervals import interval_overlap_join
    from .events import q_events_sessionize

    sess = q_events_sessionize(spark, sf_dir).select(
        "user_id", "session_idx", "session_start", "session_end"
    )
    ev = load_table(spark, "events", sf_dir)
    bounds = ev.agg(
        F.date_trunc("week", F.min("ts")).alias("w0"), F.max("ts").alias("w1")
    )
    weeks = bounds.select(
        F.explode(F.sequence("w0", "w1", F.expr("INTERVAL 7 DAYS"))).alias("week_start")
    ).withColumn(
        "week_end",
        F.col("week_start") + F.expr("INTERVAL 7 DAYS") - F.expr("INTERVAL 1 MICROSECOND"),
    )
    pairs = interval_overlap_join(
        sess,
        weeks,
        left_span=("session_start", "session_end"),
        right_span=("week_start", "week_end"),
        bin_seconds=86400,
    )
    # ts is TIMESTAMP_NTZ (nanosecond-sourced) — timestamp_diff works
    # on NTZ pairs where unix_micros would not.
    overlap = F.timestamp_diff(
        "MICROSECOND",
        F.greatest("session_start", "week_start"),
        F.least("session_end", "week_end"),
    )
    return pairs.select("user_id", "session_idx", "week_start", overlap.alias("overlap_us"))


def _oracle_session_week_overlap() -> str:
    from .events import ORACLE_EVENTS_SESSIONIZE

    return f"""
WITH sessions AS ({ORACLE_EVENTS_SESSIONIZE}),
weeks AS (
  SELECT ws AS week_start,
         ws + INTERVAL 7 DAY - INTERVAL 1 MICROSECOND AS week_end
  FROM (SELECT unnest(generate_series(date_trunc('week', min(ts)), max(ts),
                                      INTERVAL 7 DAY)) AS ws
        FROM (SELECT make_timestamp(epoch_ns(ts) // 1000) AS ts FROM events))
)
SELECT s.user_id, s.session_idx, w.week_start,
       epoch_us(least(s.session_end, w.week_end))
         - epoch_us(greatest(s.session_start, w.week_start)) AS overlap_us
FROM sessions s JOIN weeks w
  ON s.session_start <= w.week_end AND w.week_start <= s.session_end
"""


# --- exact grouped linear regression ----------------------------------

def q_regression_spend_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer OLS slope of order totalprice over order date.
    All moments are accumulated as exact integers (days, cents) so the
    slope is bit-deterministic across engines — the closed form
    (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²) evaluated from bigint sums."""
    orders = load_table(spark, "orders", sf_dir)
    x = F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")).cast(
        "bigint"
    )
    y = F.round(F.col("o_totalprice") * 100).cast("bigint")  # cents
    agg = orders.select(F.col("o_custkey"), x.alias("x"), y.alias("y")).groupBy(
        "o_custkey"
    ).agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    denom = agg.n * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = (agg.n * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double") / F.nullif(
        denom, F.lit(0)
    ).cast("double")
    return agg.select(
        "o_custkey",
        F.col("n").alias("n_orders"),
        F.round(slope / 100, 6).alias("slope_per_day"),  # back to currency units
    )


ORACLE_REGRESSION = """
WITH m AS (
  SELECT o_custkey,
         count(*) AS n,
         sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy, sum(x * x) AS sxx
  FROM (
    SELECT o_custkey,
           date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS x,
           CAST(round(o_totalprice * 100) AS BIGINT) AS y
    FROM orders
  ) GROUP BY o_custkey
)
SELECT o_custkey, n AS n_orders,
       ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
             / NULLIF(CAST(n * sxx - sx * sx AS DOUBLE), 0) / 100, 6) AS slope_per_day
FROM m
"""


# --- interpolated percentiles -----------------------------------------

def q_price_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per order status (Spark
    ``percentile`` ≡ DuckDB ``quantile_cont``: both use the
    (n−1)·q linear-interpolation definition)."""
    orders = load_table(spark, "orders", sf_dir)
    return orders.groupBy("o_orderstatus").agg(
        F.round(F.expr("percentile(o_totalprice, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(o_totalprice, 0.9)"), 6).alias("p90"),
        F.round(F.expr("percentile(o_totalprice, 0.99)"), 6).alias("p99"),
    )


ORACLE_PERCENTILES = """
SELECT o_orderstatus,
       ROUND(quantile_cont(o_totalprice, 0.5), 6) AS p50,
       ROUND(quantile_cont(o_totalprice, 0.9), 6) AS p90,
       ROUND(quantile_cont(o_totalprice, 0.99), 6) AS p99
FROM orders GROUP BY o_orderstatus
"""


# --- blocked fuzzy key join ---------------------------------------------

FUZZY_MAX_DIST = 1


def q_fuzzy_key_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy key JOIN: reconcile dirty keys against a clean dimension
    when the keys don't align exactly — the UNALIGNED generalization
    of the reference's row-aligned fuzzy compare
    (running_validation.py:306-316). Dirty side = part names with a
    deterministic single-character deletion planted at position ≥ 3;
    clean side = the distinct name dictionary.

    Scale shape: candidate pairs come from BLOCKING on a corruption-
    insensitive key (here the 2-char prefix; real systems use phonetic
    or n-gram keys), so the edit-distance UDF-free `levenshtein`
    (JVM built-in, identical in DuckDB) runs only on names sharing a
    block — never the |dirty|×|dict| cross product. Best match per
    dirty key by (distance, name) with the match-or-nothing ≤ 1
    threshold."""
    part = load_table(spark, "part", sf_dir)
    k = (F.col("p_partkey") % 4 + 3).cast("int")  # deletion pos ≥ 3
    dirty = part.filter(F.col("p_partkey") % 3 == 0).select(
        F.col("p_partkey").alias("dirty_id"),
        F.concat(
            F.expr("substring(p_name, 1, CAST(p_partkey % 4 + 2 AS INT))"),
            F.expr("substring(p_name, CAST(p_partkey % 4 + 4 AS INT), 1000)"),
        ).alias("dirty_name"),
    )
    clean = (
        part.groupBy("p_name")
        .agg(F.min("p_partkey").alias("canonical_id"))
        .select(F.col("p_name").alias("clean_name"), "canonical_id")
    )
    blocked = dirty.withColumn("blk", F.substring("dirty_name", 1, 2)).join(
        clean.withColumn("blk", F.substring("clean_name", 1, 2)), "blk"
    )
    scored = blocked.select(
        "dirty_id",
        "dirty_name",
        "clean_name",
        "canonical_id",
        F.levenshtein("dirty_name", "clean_name").alias("dist"),
    ).filter(F.col("dist") <= FUZZY_MAX_DIST)
    # best match per dirty key as a map-side-combining min(struct):
    # lexicographic min ≡ ORDER BY dist, clean_name (clean_name is
    # unique per block, so the key is total); no rank window — the
    # blocked-pair rows collapse before the exchange. dirty_name is
    # constant per dirty_id and rides via first().
    best = F.min(F.struct("dist", "clean_name", "canonical_id"))
    return (
        scored.groupBy("dirty_id")
        .agg(best.alias("b"), F.first("dirty_name").alias("dirty_name"))
        .select(
            "dirty_id",
            "dirty_name",
            F.col("b.clean_name").alias("clean_name"),
            F.col("b.canonical_id").alias("canonical_id"),
            F.col("b.dist").cast("bigint").alias("dist"),
        )
    )


ORACLE_FUZZY_KEY_JOIN = f"""
WITH dirty AS (
  SELECT p_partkey AS dirty_id,
         substr(p_name, 1, CAST(p_partkey % 4 + 2 AS INT))
           || substr(p_name, CAST(p_partkey % 4 + 4 AS INT), 1000) AS dirty_name
  FROM part WHERE p_partkey % 3 = 0
),
clean AS (
  SELECT p_name AS clean_name, min(p_partkey) AS canonical_id
  FROM part GROUP BY p_name
),
scored AS (
  SELECT dirty_id, dirty_name, clean_name, canonical_id,
         levenshtein(dirty_name, clean_name) AS dist
  FROM dirty JOIN clean
    ON substr(dirty_name, 1, 2) = substr(clean_name, 1, 2)
  WHERE levenshtein(dirty_name, clean_name) <= {FUZZY_MAX_DIST}
)
SELECT dirty_id, dirty_name, clean_name, canonical_id, CAST(dist AS BIGINT) AS dist
FROM (
  SELECT *, row_number() OVER (PARTITION BY dirty_id
                               ORDER BY dist, clean_name) AS rk
  FROM scored
) WHERE rk = 1
"""


# --- probabilistic record linkage ---------------------------------------

# Fellegi–Sunter agreement weights in integer deci-units (log-odds
# scaled ×10 and rounded — fixed constants so the score sum is exact
# integer arithmetic on both engines).
RL_W_NAME_AGREE, RL_W_NAME_DISAGREE = 40, -15
RL_W_BAL_AGREE, RL_W_BAL_DISAGREE = 20, -10
RL_BAL_TOL = 1.0
RL_MATCH_MIN = 40  # score threshold for a declared match


def q_record_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probabilistic record linkage (Fellegi & Sunter 1969): match
    records ACROSS datasets without a shared key — the generalization
    of this engine's key-equality reconciliation to the dirty-key
    world. A deterministic perturbed snapshot of ``customer`` (new
    ids; every %10 name lower-cased, every %7 balance nudged +0.5,
    every %13 balance shifted +100) is linked back: candidate pairs
    come from BLOCKING on (nation, segment) — never the cross
    product — each pair scores field agreements with fixed integer
    log-odds weights, and the best candidate per left record is an
    argmax ``max(struct)`` aggregation (map-side combining, the same
    no-rank-window shape as the IVF assignment).

    Scale: pair space is Σ block², controlled by blocking-key
    cardinality exactly like the shingle/LSH buckets in the dedup
    family (production uses finer keys — phonetic codes,
    sorted-neighborhood windows); scoring is pure JVM integer/string
    comparison; no window over the pair table."""
    cust = load_table(spark, "customer", sf_dir).select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"
    )
    right = cust.select(
        (F.col("c_custkey") + 5_000_000).alias("r_id"),
        F.when(F.col("c_custkey") % 10 == 0, F.lower("c_name"))
        .otherwise(F.col("c_name"))
        .alias("r_name"),
        F.col("c_nationkey").alias("r_nationkey"),
        F.when(F.col("c_custkey") % 13 == 0, F.round(F.col("c_acctbal") + 100.0, 2))
        .when(F.col("c_custkey") % 7 == 0, F.round(F.col("c_acctbal") + 0.5, 2))
        .otherwise(F.col("c_acctbal"))
        .alias("r_acctbal"),
        F.col("c_mktsegment").alias("r_mktsegment"),
    )
    pairs = cust.join(
        right,
        (F.col("c_nationkey") == F.col("r_nationkey"))
        & (F.col("c_mktsegment") == F.col("r_mktsegment")),
    )
    score = (
        F.when(F.col("c_name") == F.col("r_name"), RL_W_NAME_AGREE)
        .otherwise(RL_W_NAME_DISAGREE)
        + F.when(
            F.abs(F.col("c_acctbal") - F.col("r_acctbal")) <= RL_BAL_TOL,
            RL_W_BAL_AGREE,
        ).otherwise(RL_W_BAL_DISAGREE)
    ).cast("bigint")
    scored = pairs.select("c_custkey", "r_id", score.alias("score"))
    # Argmax via lexicographic struct max — (max score, then min r_id) —
    # exact at any id range; no scale-conditional encoding (both engines
    # order structs field-by-field).
    best = F.max(
        F.struct(
            F.col("score").alias("s"),
            (-F.col("r_id")).alias("n"),
            F.col("r_id").alias("i"),
        )
    )
    return (
        scored.groupBy("c_custkey")
        .agg(
            best.getField("i").alias("matched_id"),
            F.max("score").alias("score"),
            F.count("*").alias("n_candidates"),
        )
        .select(
            "c_custkey",
            "matched_id",
            "score",
            "n_candidates",
            (F.col("score") >= RL_MATCH_MIN).alias("is_match"),
        )
    )


ORACLE_RECORD_LINKAGE = f"""
WITH r AS (
  SELECT c_custkey + 5000000 AS r_id,
         CASE WHEN c_custkey % 10 = 0 THEN lower(c_name) ELSE c_name END AS r_name,
         c_nationkey AS r_nationkey,
         CASE WHEN c_custkey % 13 = 0 THEN ROUND(c_acctbal + 100.0, 2)
              WHEN c_custkey % 7 = 0 THEN ROUND(c_acctbal + 0.5, 2)
              ELSE c_acctbal END AS r_acctbal,
         c_mktsegment AS r_mktsegment
  FROM customer
),
scored AS (
  SELECT l.c_custkey, r.r_id,
         CAST((CASE WHEN l.c_name = r.r_name
                    THEN {RL_W_NAME_AGREE} ELSE {RL_W_NAME_DISAGREE} END)
              + (CASE WHEN abs(l.c_acctbal - r.r_acctbal) <= {RL_BAL_TOL}
                      THEN {RL_W_BAL_AGREE} ELSE {RL_W_BAL_DISAGREE} END)
              AS BIGINT) AS score
  FROM customer l JOIN r
    ON l.c_nationkey = r.r_nationkey AND l.c_mktsegment = r.r_mktsegment
),
best AS (
  SELECT c_custkey,
         (max(struct_pack(s := score, n := -r_id, i := r_id))).i AS matched_id,
         max(score) AS score,
         count(*) AS n_candidates
  FROM scored GROUP BY c_custkey
)
SELECT c_custkey, matched_id, score, n_candidates,
       score >= {RL_MATCH_MIN} AS is_match
FROM best
"""


# --- triangle counting over the co-purchase graph ------------------------

def q_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vertex triangle counting + local clustering coefficient on
    the part co-purchase graph (parts are adjacent when some order
    contains both) — with PageRank (`operators/graph.py`) and connected
    components (`dedup_clusters`), the third classic graph kernel.

    Spark plan is the DEGREE-ORIENTED algorithm (Suri &
    Vassilvitskii 2011, "Counting Triangles and the Curse of the Last
    Reducer"): orient every edge toward the (degree, id)-larger
    endpoint, enumerate wedges only at each triangle's SMALLEST vertex,
    and close them against the oriented edge list. Wedge count drops
    from Σ deg² to Σ d_out² with d_out ≤ O(√|E|) — the hub that ruins
    the naive plan fans out by its degree, not degree². The oracle is
    the naive a<b<c triple self-join: same triangles, independently
    derived.

    Scale: edges are distinct (min,max) part pairs per order — the
    per-order pair fan-out is bounded by order size². Two equi-joins on
    vertex keys (AQE-planned), one broadcast of the O(V) degree table —
    ~16 B/vertex, so the hint holds to hundreds of millions of
    vertices; past that, drop it and the two rank joins become
    key-partitioned shuffles (the orientation logic is join-strategy
    agnostic). The final per-vertex rollup unions each triangle's
    three vertices. All-integer except the rounded coefficient."""
    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_partkey")
    e1 = li.alias("x").join(li.alias("y"), "l_orderkey").select(
        F.least("x.l_partkey", "y.l_partkey").alias("a"),
        F.greatest("x.l_partkey", "y.l_partkey").alias("b"),
    ).filter(F.col("a") < F.col("b")).distinct()
    deg = (
        e1.select(F.col("a").alias("v"))
        .unionAll(e1.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("deg"))
    )
    # total order on vertices: lexicographic (deg, v) as a struct — a
    # collision-free composite (folding into one bigint would alias
    # ranks once vertex ids exceed the multiplier, mis-orienting edges)
    rk = deg.select("v", F.struct(F.col("deg"), F.col("v")).alias("r"))
    ranked = (
        e1.join(F.broadcast(rk).withColumnRenamed("v", "a").withColumnRenamed("r", "ra"), "a")
        .join(F.broadcast(rk).withColumnRenamed("v", "b").withColumnRenamed("r", "rb"), "b")
    )
    oriented = ranked.select(
        F.when(F.col("ra") < F.col("rb"), F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(F.col("ra") < F.col("rb"), F.col("b")).otherwise(F.col("a")).alias("w"),
        F.least("ra", "rb").alias("ru"),
        F.greatest("ra", "rb").alias("rw"),
    )
    wedges = (
        oriented.alias("p")
        .join(oriented.alias("q"), F.col("p.u") == F.col("q.u"))
        .filter(F.col("p.rw") < F.col("q.rw"))
        .select(
            F.col("p.u").alias("t1"),
            F.col("p.w").alias("t2"),
            F.col("q.w").alias("t3"),
        )
    )
    tri = wedges.join(
        oriented.select(F.col("u").alias("t2"), F.col("w").alias("t3")),
        ["t2", "t3"],
    )
    per_vertex = (
        tri.select(F.col("t1").alias("v"))
        .unionAll(tri.select(F.col("t2").alias("v")))
        .unionAll(tri.select(F.col("t3").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("n_triangles"))
    )
    return (
        deg.join(per_vertex, "v", "left")
        .filter(F.col("deg") >= 2)
        .select(
            F.col("v").alias("partkey"),
            F.col("deg").cast("bigint").alias("degree"),
            F.coalesce("n_triangles", F.lit(0)).cast("bigint").alias("n_triangles"),
            F.round(
                (F.coalesce("n_triangles", F.lit(0)) * 2).cast("double")
                / (F.col("deg") * (F.col("deg") - 1)),
                6,
            ).alias("clustering"),
        )
    )


ORACLE_TRIANGLE_COUNTS = """
WITH e AS (
  SELECT DISTINCT least(x.l_partkey, y.l_partkey) AS a,
                  greatest(x.l_partkey, y.l_partkey) AS b
  FROM lineitem x JOIN lineitem y ON x.l_orderkey = y.l_orderkey
  WHERE x.l_partkey < y.l_partkey OR y.l_partkey < x.l_partkey
),
deg AS (
  SELECT v, count(*) AS deg FROM (
    SELECT a AS v FROM e UNION ALL SELECT b FROM e
  ) GROUP BY v
),
tri AS (
  SELECT e1.a AS t1, e1.b AS t2, e2.b AS t3
  FROM e e1
  JOIN e e2 ON e2.a = e1.b
  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
),
pv AS (
  SELECT v, count(*) AS n_triangles FROM (
    SELECT t1 AS v FROM tri UNION ALL SELECT t2 FROM tri UNION ALL SELECT t3 FROM tri
  ) GROUP BY v
)
SELECT deg.v AS partkey,
       CAST(deg AS BIGINT) AS degree,
       CAST(COALESCE(n_triangles, 0) AS BIGINT) AS n_triangles,
       ROUND(CAST(COALESCE(n_triangles, 0) * 2 AS DOUBLE) / (deg * (deg - 1)), 6)
         AS clustering
FROM deg LEFT JOIN pv ON deg.v = pv.v
WHERE deg >= 2
"""


# --- k-core decomposition (fixed peeling rounds) ---------------------------

KCORE_K = 60
KCORE_ROUNDS = 3


def q_kcore(spark: SparkSession, sf_dir: str, rounds: int = KCORE_ROUNDS) -> DataFrame:
    """k-core membership on the part co-purchase graph via THREE
    unrolled peeling rounds (Matula & Beck 1983: repeatedly delete
    vertices of degree < k; survivors are the k-core): each round is
    one degree aggregation + two semi-joins filtering the adjacency —
    the fixed-iteration join-per-round pattern PageRank established,
    here with k=60 (a handful of fixture vertices sit below it, so
    peeling fires without cascading the whole graph away — k=100
    empties the core: degree distributions concentrate, the
    Erdos-Renyi sharp-threshold effect). Output per vertex: initial degree, surviving
    core degree, and the in-core flag; `tests/test_plans.py` asserts
    round 3 changed nothing (the fixture converges in ≤2, so 3 rounds
    ARE the fixed point, not an approximation of it).

    Scale: per round O(|E|) with map-side-combining degree counts —
    the distributed k-core of the graph-processing literature; rounds
    needed grow with the peeling depth, not the graph size."""
    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_partkey")
    e = (
        li.alias("x")
        .join(li.alias("y"), "l_orderkey")
        .select(
            F.least("x.l_partkey", "y.l_partkey").alias("a"),
            F.greatest("x.l_partkey", "y.l_partkey").alias("b"),
        )
        .filter(F.col("a") < F.col("b"))
        .distinct()
    )
    sym = e.unionByName(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    deg0 = sym.groupBy(F.col("a").alias("v")).agg(F.count("*").alias("deg0"))
    cur = sym
    for _ in range(rounds):
        keep = (
            cur.groupBy(F.col("a").alias("v"))
            .agg(F.count("*").alias("n"))
            .filter(F.col("n") >= KCORE_K)
            .select("v")
        )
        cur = cur.join(
            keep.withColumnRenamed("v", "a"), "a", "left_semi"
        ).join(keep.withColumnRenamed("v", "b"), "b", "left_semi")
    deg_f = cur.groupBy(F.col("a").alias("v")).agg(F.count("*").alias("core_deg"))
    return deg0.join(deg_f, "v", "left").select(
        F.col("v").alias("partkey"),
        F.col("deg0").cast("bigint").alias("degree"),
        F.coalesce("core_deg", F.lit(0)).cast("bigint").alias("core_degree"),
        (F.col("core_deg").isNotNull() & (F.col("core_deg") >= KCORE_K)).alias(
            "in_kcore"
        ),
    )


def _oracle_kcore() -> str:
    rounds = []
    prev = "sym"
    for r in range(KCORE_ROUNDS):
        rounds.append(
            f"k{r} AS (SELECT a AS v FROM {prev} GROUP BY a "
            f"HAVING count(*) >= {KCORE_K}),\n"
            f"s{r} AS (SELECT {prev}.a, {prev}.b FROM {prev} "
            f"JOIN k{r} x ON {prev}.a = x.v JOIN k{r} y ON {prev}.b = y.v)"
        )
        prev = f"s{r}"
    return f"""
WITH e AS (
  SELECT DISTINCT least(x.l_partkey, y.l_partkey) AS a,
                  greatest(x.l_partkey, y.l_partkey) AS b
  FROM lineitem x JOIN lineitem y ON x.l_orderkey = y.l_orderkey
  WHERE x.l_partkey <> y.l_partkey
),
sym AS (SELECT a, b FROM e UNION ALL SELECT b, a FROM e),
deg0 AS (SELECT a AS v, count(*) AS deg0 FROM sym GROUP BY a),
{', '.join(rounds)},
degf AS (SELECT a AS v, count(*) AS core_deg FROM {prev} GROUP BY a)
SELECT deg0.v AS partkey,
       CAST(deg0 AS BIGINT) AS degree,
       CAST(COALESCE(core_deg, 0) AS BIGINT) AS core_degree,
       core_deg IS NOT NULL AND core_deg >= {KCORE_K} AS in_kcore
FROM deg0 LEFT JOIN degf ON deg0.v = degf.v
"""


# --- k-hop BFS reachability ------------------------------------------------

KHOP_SEED_MOD = 500  # graph vertices with partkey % 500 == 0 are seeds
KHOP_ROUNDS = 2


def q_khop_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-hop BFS reachability with hop labels on the part co-purchase
    graph — the TRAVERSAL kernel completing the graph set (PageRank,
    connected components, triangles, k-core, HITS, LPA): from a
    deterministic seed set (partkey % 500 == 0), two unrolled
    frontier-expansion rounds label every vertex with its minimum hop
    distance ≤ 2. Each round is ONE edge⋈frontier equi-join +
    distinct, and the next frontier subtracts already-visited
    vertices (left-anti) so re-expansion work is proportional to the
    NEW frontier, not the cumulative reach — the textbook distributed
    BFS (Pregel's per-superstep shape as joins). The oracle replays
    the same two rounds as EXCEPT-chained CTEs.

    Scale: per round O(frontier-adjacent edges) with an equi-join on
    the vertex key; rounds grow with the radius asked for, never the
    graph size. The co-purchase fixture graph is dense, so 2 hops
    reach most of the giant component — the hop-0/1/2 row counts make
    that measurable."""
    li = load_table(spark, "lineitem", sf_dir).select(
        "l_orderkey", "l_partkey"
    )
    e = (
        li.alias("x")
        .join(li.alias("y"), "l_orderkey")
        .select(
            F.least("x.l_partkey", "y.l_partkey").alias("a"),
            F.greatest("x.l_partkey", "y.l_partkey").alias("b"),
        )
        .filter(F.col("a") < F.col("b"))
        .distinct()
    )
    sym = e.unionByName(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    verts = sym.select(F.col("a").alias("v")).distinct()
    seeds = verts.filter(F.col("v") % KHOP_SEED_MOD == 0)
    reach = seeds.select("v", F.lit(0).alias("hop"))
    frontier = seeds
    for hop in range(1, KHOP_ROUNDS + 1):
        nxt = (
            frontier.join(sym, frontier["v"] == sym["a"])
            .select(F.col("b").alias("v"))
            .distinct()
            .join(reach.select("v"), "v", "left_anti")
        )
        reach = reach.unionByName(nxt.select("v", F.lit(hop).alias("hop")))
        frontier = nxt
    return reach.select(
        F.col("v").cast("bigint").alias("partkey"),
        F.col("hop").cast("int").alias("hop"),
    )


def _oracle_khop_reach() -> str:
    rounds = []
    prev_frontier = "seeds"
    visited = "seeds"
    for r in range(1, KHOP_ROUNDS + 1):
        rounds.append(
            f"f{r} AS (SELECT DISTINCT b AS v FROM sym "
            f"JOIN {prev_frontier} fr ON sym.a = fr.v "
            f"WHERE b NOT IN (SELECT v FROM {visited}))"
        )
        rounds.append(
            f"vis{r} AS (SELECT v FROM {visited} UNION SELECT v FROM f{r})"
        )
        prev_frontier = f"f{r}"
        visited = f"vis{r}"
    hops = " UNION ALL ".join(
        ["SELECT v, 0 AS hop FROM seeds"]
        + [f"SELECT v, {r} AS hop FROM f{r}" for r in range(1, KHOP_ROUNDS + 1)]
    )
    return f"""
WITH e AS (
  SELECT DISTINCT least(x.l_partkey, y.l_partkey) AS a,
                  greatest(x.l_partkey, y.l_partkey) AS b
  FROM lineitem x JOIN lineitem y ON x.l_orderkey = y.l_orderkey
  WHERE x.l_partkey <> y.l_partkey
),
sym AS (SELECT a, b FROM e UNION ALL SELECT b, a FROM e),
seeds AS (SELECT DISTINCT a AS v FROM sym WHERE a % {KHOP_SEED_MOD} = 0),
{', '.join(rounds)}
SELECT CAST(v AS BIGINT) AS partkey, CAST(hop AS INTEGER) AS hop
FROM ({hops})
"""


# --- association rules over co-purchases ----------------------------------

AR_MIN_PAIR = 5  # minimum pair support (orders containing both)


def q_assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule mining at the first (pairwise) Apriori level:
    for every part pair co-occurring in ≥5 orders, both directed
    rules a→b and b→a with support, confidence = P(b|a) and lift =
    P(a,b)/(P(a)P(b)) — the market-basket analytics the co-purchase
    graph kernels (triangles, PageRank) abstract away from.

    The pair table is the `unit_triangle_counts` edge construction
    WITH multiplicity (count of co-occurring orders, not distinct
    edges); item supports join back onto the pairs UNHINTED (a
    part-dimension frame: AQE broadcasts it while it fits and
    shuffle-joins on the item key at catalog scale). Apriori
    antimonotonicity is applied TWICE: items with individual support
    below the floor are semi-joined OUT of the baskets BEFORE the
    pair self-join (n_pair ≤ min(n_a, n_b), so no dropped item can
    appear in a qualifying pair — semantics-preserving, and on a
    long-tail catalog it removes most of the pair space), then the
    pair floor itself is one HAVING. Exact integer counts;
    confidence/lift are shared-shape rounded divisions."""
    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_partkey")
    baskets = li.distinct()
    n_orders = baskets.agg(
        F.count_distinct("l_orderkey").alias("n_orders")
    )
    item = baskets.groupBy(F.col("l_partkey").alias("item")).agg(
        F.count("*").alias("n_item")
    )
    frequent = item.filter(F.col("n_item") >= AR_MIN_PAIR).select(
        F.col("item").alias("l_partkey")
    )
    # no broadcast hint: `frequent` is catalog-sized (AQE broadcasts
    # it when it fits, shuffles otherwise — the lm_perplexity rule)
    baskets_f = baskets.join(frequent, "l_partkey", "left_semi")
    pairs = (
        baskets_f.alias("x")
        .join(baskets_f.alias("y"), "l_orderkey")
        .filter(F.col("x.l_partkey") < F.col("y.l_partkey"))
        .groupBy(
            F.col("x.l_partkey").alias("a"), F.col("y.l_partkey").alias("b")
        )
        .agg(F.count("*").alias("n_pair"))
        .filter(F.col("n_pair") >= AR_MIN_PAIR)
    )
    directed = pairs.select("a", "b", "n_pair").unionByName(
        pairs.select(
            F.col("b").alias("a"), F.col("a").alias("b"), "n_pair"
        )
    )
    ia = item.withColumnRenamed("item", "a").withColumnRenamed("n_item", "n_a")
    ib = item.withColumnRenamed("item", "b").withColumnRenamed("n_item", "n_b")
    return (
        directed.join(ia, "a")
        .join(ib, "b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            F.col("a").alias("antecedent"),
            F.col("b").alias("consequent"),
            "n_pair",
            "n_a",
            "n_b",
            F.round(F.col("n_pair").cast("double") / F.col("n_orders"), 6).alias("support"),
            F.round(F.col("n_pair").cast("double") / F.col("n_a"), 6).alias("confidence"),
            F.round(
                (F.col("n_pair").cast("double") * F.col("n_orders"))
                / (F.col("n_a") * F.col("n_b")).cast("double"),
                6,
            ).alias("lift"),
        )
    )


ORACLE_ASSOC_RULES = f"""
WITH baskets AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
no AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM baskets),
item AS (SELECT l_partkey AS item, count(*) AS n_item FROM baskets GROUP BY 1),
pairs AS (
  SELECT x.l_partkey AS a, y.l_partkey AS b, count(*) AS n_pair
  FROM baskets x JOIN baskets y ON x.l_orderkey = y.l_orderkey
  WHERE x.l_partkey < y.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= {AR_MIN_PAIR}
),
directed AS (
  SELECT a, b, n_pair FROM pairs
  UNION ALL
  SELECT b, a, n_pair FROM pairs
)
SELECT d.a AS antecedent, d.b AS consequent, n_pair,
       ia.n_item AS n_a, ib.n_item AS n_b,
       ROUND(CAST(n_pair AS DOUBLE) / n_orders, 6) AS support,
       ROUND(CAST(n_pair AS DOUBLE) / ia.n_item, 6) AS confidence,
       ROUND((CAST(n_pair AS DOUBLE) * n_orders)
             / CAST(ia.n_item * ib.n_item AS DOUBLE), 6) AS lift
FROM directed d
JOIN item ia ON d.a = ia.item
JOIN item ib ON d.b = ib.item
CROSS JOIN no
"""


def q_hits_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999) on the customer→part
    purchase bipartite graph, two full mutual-reinforcement
    iterations, INTEGER-EXACT: with hub⁰ ≡ 1 every subsequent score
    is a pure bigint sum over graph edges (hub¹(c) = deg(c),
    auth¹(p) = Σ_{c→p} deg(c), hub²(c) = Σ auth¹, auth²(p) = Σ hub²),
    so no float normalization enters the fixed-point arithmetic and
    both engines agree bit-for-bit — the classic kernel joins the
    suite's PageRank / CC / triangles / k-core set with the BIPARTITE
    ranking view (which parts do heavy buyers concentrate on).

    Plan: the edge list is one distinct over the orders⋈lineitem
    projection; each half-iteration is a groupBy on one side's key
    joined back along the edges — linear in |E| with map-side combine,
    keys are the high-cardinality customer/part ids (no single-task
    window), hot parts are AQE-splittable. The final rank over the
    part dimension is the two-pass distributed group-less
    ``grouped_row_number`` (range-partition on (-auth2, p), local
    rank, tiny prefix offsets) — no single-partition WindowExec even
    when the part dimension is hundreds of millions of rows."""
    from ..operators.report import grouped_row_number

    orders = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_custkey")
    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_partkey")
    e = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    hub1 = e.groupBy("c").agg(F.count("*").alias("h1"))
    auth1 = (
        e.join(hub1, "c").groupBy("p").agg(F.sum("h1").alias("a1"))
    )
    hub2 = e.join(auth1, "p").groupBy("c").agg(F.sum("a1").alias("h2"))
    auth2 = e.join(hub2, "c").groupBy("p").agg(F.sum("h2").alias("a2"))
    joined = auth1.join(auth2, "p").withColumn("__neg_a2", -F.col("a2"))
    ranked = grouped_row_number(joined, [], ["__neg_a2", "p"], rn_col="auth_rank")
    return ranked.select(
        F.col("p").alias("partkey"),
        F.col("a1").cast("bigint").alias("auth1"),
        F.col("a2").cast("bigint").alias("auth2"),
        "auth_rank",
    )


ORACLE_HITS_SCORES = """
WITH e AS (
  SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
hub1 AS (SELECT c, count(*) AS h1 FROM e GROUP BY c),
auth1 AS (
  SELECT p, CAST(sum(h1) AS BIGINT) AS a1
  FROM e JOIN hub1 USING (c) GROUP BY p
),
hub2 AS (
  SELECT c, CAST(sum(a1) AS BIGINT) AS h2
  FROM e JOIN auth1 USING (p) GROUP BY c
),
auth2 AS (
  SELECT p, CAST(sum(h2) AS BIGINT) AS a2
  FROM e JOIN hub2 USING (c) GROUP BY p
)
SELECT a1.p AS partkey, a1.a1 AS auth1, a2.a2 AS auth2,
       CAST(row_number() OVER (ORDER BY a2.a2 DESC, a1.p) AS BIGINT) AS auth_rank
FROM auth1 a1 JOIN auth2 a2 ON a1.p = a2.p
"""


LPA_ORDER_MOD = 4  # co-purchase graph sampled to orders with key % 4 == 0


def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan
    et al. 2007), two unrolled rounds over the sampled part
    co-purchase graph: every vertex starts as its own label and
    repeatedly adopts the most frequent label among its neighbors
    (ties to the LOWER label — the determinism LPA's random tie-break
    forfeits). Completes the graph suite with the community view next
    to PageRank (influence), CC (reachability), triangles (local
    density), k-core (global density) and HITS (bipartite rank).

    Plan: each round is one edge⋈label join + a (v, lbl) count with
    map-side combine + the per-vertex argmax as max(struct) — the
    suite's no-window argmax shape; all keys are high-cardinality
    vertex ids. The unrolled-rounds form is the PageRank/k-core
    fixed-iteration pattern: at 100 TB each round materializes to a
    table and the loop is driver-side orchestration over the same
    per-round plan."""
    li = load_table(spark, "lineitem", sf_dir).filter(
        F.col("l_orderkey") % LPA_ORDER_MOD == 0
    ).select("l_orderkey", "l_partkey")
    und = (
        li.alias("x").join(li.alias("y"), "l_orderkey")
        .filter(F.col("x.l_partkey") != F.col("y.l_partkey"))
        .select(F.col("x.l_partkey").alias("v"), F.col("y.l_partkey").alias("u"))
        .distinct()
    )
    labels = und.select("v").distinct().withColumn("lbl", F.col("v"))
    for _ in range(2):
        nbr = und.join(
            labels.select(F.col("v").alias("u"), "lbl"), "u"
        ).select("v", "lbl")
        cnt = nbr.groupBy("v", "lbl").agg(F.count("*").alias("c"))
        labels = (
            cnt.groupBy("v")
            .agg(F.max(F.struct(F.col("c"), (-F.col("lbl")).alias("neg"))).alias("b"))
            .select("v", (-F.col("b.neg")).alias("lbl"))
        )
    sizes = labels.groupBy("lbl").agg(F.count("*").alias("community_size"))
    return labels.join(sizes, "lbl").select(
        F.col("v").alias("partkey"),
        F.col("lbl").cast("bigint").alias("community"),
        F.col("community_size").cast("bigint").alias("community_size"),
    )


ORACLE_LABEL_PROPAGATION = f"""
WITH li AS (
  SELECT l_orderkey, l_partkey FROM lineitem WHERE l_orderkey % {LPA_ORDER_MOD} = 0
),
e AS (
  SELECT DISTINCT x.l_partkey AS v, y.l_partkey AS u
  FROM li x JOIN li y ON x.l_orderkey = y.l_orderkey
  WHERE x.l_partkey <> y.l_partkey
),
l0 AS (SELECT DISTINCT v, v AS lbl FROM e),
c1 AS (
  SELECT e.v, l0.lbl, count(*) AS c
  FROM e JOIN l0 ON e.u = l0.v GROUP BY e.v, l0.lbl
),
l1 AS (
  SELECT v, lbl FROM (
    SELECT v, lbl, row_number() OVER (PARTITION BY v ORDER BY c DESC, lbl) AS rn
    FROM c1
  ) WHERE rn = 1
),
c2 AS (
  SELECT e.v, l1.lbl, count(*) AS c
  FROM e JOIN l1 ON e.u = l1.v GROUP BY e.v, l1.lbl
),
l2 AS (
  SELECT v, lbl FROM (
    SELECT v, lbl, row_number() OVER (PARTITION BY v ORDER BY c DESC, lbl) AS rn
    FROM c2
  ) WHERE rn = 1
),
sz AS (SELECT lbl, count(*) AS community_size FROM l2 GROUP BY lbl)
SELECT l2.v AS partkey, CAST(l2.lbl AS BIGINT) AS community,
       CAST(sz.community_size AS BIGINT) AS community_size
FROM l2 JOIN sz ON l2.lbl = sz.lbl
"""


UNIT_SPECS = [
    # rotated out in the second round-6 rotation (driver-green r5):
    QuerySpec("unit_kcore", q_kcore, _oracle_kcore(),
              "k-core peeling (3 unrolled rounds), the PageRank pattern"),
    QuerySpec("unit_hits_scores", q_hits_scores, ORACLE_HITS_SCORES,
              "HITS hubs/authorities, 2 integer-exact iterations (bipartite)"),
    QuerySpec("unit_label_propagation", q_label_propagation,
              ORACLE_LABEL_PROPAGATION,
              "2-round synchronous LPA communities, min-label tie-break"),
    # rotated out of the driver window in round 4 (driver-green since r2):
    QuerySpec("asof_view_before_purchase", q_asof_view_before_purchase, ORACLE_ASOF,
              "as-of backward join via last_value IGNORE NULLS", headline=True),
    QuerySpec("range_join_price_bands", q_range_join_price_bands, ORACLE_RANGE_JOIN,
              "range join rewritten as bucketed equi-join"),
    QuerySpec("regression_spend_trend", q_regression_spend_trend, ORACLE_REGRESSION,
              "exact integer-moment OLS slope per customer", headline=True),
    # rotated out of the driver window in round 6 (driver-green r4–r5;
    # the per-round isolated SCALE.md number keeps it perf-visible):
    QuerySpec("unit_triangle_counts", q_triangle_counts, ORACLE_TRIANGLE_COUNTS,
              "degree-oriented triangle counting + clustering coefficient"),
]


SPECS = [
    # round 6 rotations: the never-driver-checked k-hop BFS and the
    # freshly struct-max-fixed record linkage take the window slot of
    # unit_triangle_counts (driver-green r4–r5).
    QuerySpec("unit_khop_reach", q_khop_reach, _oracle_khop_reach(),
              "k-hop BFS reachability with hop labels (frontier joins)"),
    QuerySpec("unit_record_linkage", q_record_linkage, ORACLE_RECORD_LINKAGE,
              "Fellegi-Sunter blocked linkage, integer log-odds scoring"),
    # second round-6 rotation: kcore/HITS/LPA (driver-green r5) move to
    # the unit surface; three more never-checked join/mining ops get
    # driver rows.
    QuerySpec("unit_assoc_rules", q_assoc_rules, ORACLE_ASSOC_RULES,
              "pairwise Apriori: support/confidence/lift co-purchase rules"),
    QuerySpec("unit_session_week_overlap", q_session_week_overlap,
              _oracle_session_week_overlap(),
              "interval × interval overlap join via daily-bin explosion"),
    QuerySpec("unit_fuzzy_key_join", q_fuzzy_key_join, ORACLE_FUZZY_KEY_JOIN,
              "blocked fuzzy key join: prefix blocking + levenshtein best-match"),
    # price_percentiles is driver-checked via order_status_profile
    # (suite/analytics.py); q_price_percentiles stays as the
    # unit-tested operator surface.
    # asof/range-join/regression rotated out of the driver window in
    # round 4 (driver-green since r2) — see UNIT_SPECS below.
]
