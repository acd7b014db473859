"""Deduplication queries over ``documents`` / ``embeddings``
(north-star extension): exact, n-gram Jaccard, MinHash+LSH, SimHash,
and embedding-cosine near-dup.

The fixture corpora contain no literal duplicates, so the exact and
embedding queries *plant* deterministic duplicates (modular-keyed
copies, derived identically in Spark and DuckDB) and then find them —
a self-checking dedup scenario.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dedup as D
from ..operators.vectors import cosine_sql, cosine_rounded, scale_vector
from ..sources import load_table
from ..util import pin, spread
from . import QuerySpec

# Shared DuckDB shingle CTE (mirrors D.exploded_shingles).
_SH_CTE = """
t AS (SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
      FROM documents),
sh0 AS (SELECT doc_id,
               unnest(list_transform(generate_series(1, greatest(len(toks) - 4, 1)),
                      i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2], toks[i+3], toks[i+4]))) AS sh
        FROM t),
sh AS (SELECT DISTINCT doc_id, sh FROM sh0)
"""


# --- exact dedup -------------------------------------------------------

def _docs_with_planted_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    copies = (
        docs.filter(F.col("doc_id") % 10 == 0)
        .select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    )
    return docs.unionAll(copies)


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-groupBy exact dedup on normalized content: one shuffle on
    the 128-bit content key; map-side partial aggregation makes the
    shuffle O(distinct docs). Canonical id = min(doc_id)."""
    docs = _docs_with_planted_dups(spark, sf_dir)
    return (
        docs.select("doc_id", F.md5(D.normalized_text("text")).alias("content_key"))
        .groupBy("content_key")
        .agg(
            F.count("*").alias("n_copies"),
            F.min("doc_id").alias("canonical_doc_id"),
        )
    )


ORACLE_DEDUP_EXACT = """
WITH all_docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
)
SELECT md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS content_key,
       count(*) AS n_copies,
       min(doc_id) AS canonical_doc_id
FROM all_docs GROUP BY 1
"""


# --- n-gram Jaccard near-dup (inverted index, no banding) --------------

JACCARD_THRESHOLD = 0.2


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All pairs sharing ≥1 word-5-gram, exact Jaccard ≥ 0.2. The
    inverted-index self-join only materializes pairs that share a
    shingle — never the O(n²) pair space."""
    docs = load_table(spark, "documents", sf_dir)
    # The inverted index feeds three consumers (sizes + both join
    # sides); Spark has no automatic cross-branch subtree reuse, so
    # persist it once instead of recomputing the shingle explode 3x.
    # (At corpus scale this index would be persisted/written anyway.)
    shingles = pin(D.exploded_shingles(docs))
    sizes = shingles.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a = shingles.select(F.col("doc_id").alias("id_a"), "sh")
    b = shingles.select(F.col("doc_id").alias("id_b"), "sh")
    common = (
        a.join(b, "sh")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_common"))
    )
    na = sizes.select(F.col("doc_id").alias("id_a"), F.col("n_sh").alias("n_a"))
    nb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n_sh").alias("n_b"))
    jac = F.round(
        F.col("n_common").cast("double")
        / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        6,
    )
    return (
        common.join(na, "id_a")
        .join(nb, "id_b")
        .select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


ORACLE_DEDUP_NGRAM_JACCARD = f"""
WITH {_SH_CTE},
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       ROUND(CAST(n_common AS DOUBLE) / (na.n + nb.n - n_common), 6) AS jaccard
FROM common
JOIN sizes na ON common.id_a = na.doc_id
JOIN sizes nb ON common.id_b = nb.doc_id
WHERE ROUND(CAST(n_common AS DOUBLE) / (na.n + nb.n - n_common), 6) >= {JACCARD_THRESHOLD}
"""


# --- n-gram containment (asymmetric near-dup) ---------------------------

CONTAINMENT_THRESHOLD = 0.6


def q_dedup_containment_exact_baseline(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Asymmetric near-dup: shingle CONTAINMENT |A∩B| / |A| — catches a
    short document embedded inside a longer one (quotes, aggregator
    pages, doc+appendix reposts), which symmetric Jaccard dilutes
    below threshold. Directional: emitted row (id_a, id_b) means
    "id_a is ≥ 60% contained in id_b" (both directions tested, so a
    strict subset produces one row and true near-equals produce two).

    Same inverted-index plan as the Jaccard op — the only pairs
    materialized share a shingle; containment is just a different
    normalization of the identical n_common/sizes frames.

    This is the UNCAPPED EXACTNESS BASELINE (deliberately all-pairs on
    hot shingles — measured 163× wall at 10× data in SCALE.md):
    callers land on :func:`q_dedup_containment` below, which is the
    df-capped scale path; use this form only to certify the capped
    results on a sample."""
    docs = load_table(spark, "documents", sf_dir)
    shingles = pin(D.exploded_shingles(docs))
    sizes = shingles.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a = shingles.select(F.col("doc_id").alias("id_a"), "sh")
    b = shingles.select(F.col("doc_id").alias("id_b"), "sh")
    common = (
        a.join(b, "sh")
        .filter(F.col("id_a") != F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_common"))
    )
    na = sizes.select(F.col("doc_id").alias("id_a"), F.col("n_sh").alias("n_a"))
    cont = F.round(F.col("n_common").cast("double") / F.col("n_a"), 6)
    return (
        common.join(na, "id_a")
        .select("id_a", "id_b", "n_common", cont.alias("containment"))
        .filter(F.col("containment") >= CONTAINMENT_THRESHOLD)
    )


ORACLE_DEDUP_CONTAINMENT = f"""
WITH {_SH_CTE},
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id <> b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, n_common,
       ROUND(CAST(n_common AS DOUBLE) / na.n, 6) AS containment
FROM common JOIN sizes na ON common.id_a = na.doc_id
WHERE ROUND(CAST(n_common AS DOUBLE) / na.n, 6) >= {CONTAINMENT_THRESHOLD}
"""


# --- n-gram Jaccard with a document-frequency cap ----------------------

DF_CAP = 10
BOILERPLATE = "all rights reserved terms of service apply to this content"


def _docs_with_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adversarial corpus: every 5th doc gets the same appended
    boilerplate sentence — the hot-shingle scenario (cookie banners,
    license footers) that makes an uncapped inverted index emit
    quadratic pair fan-out at corpus scale."""
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    return docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 0, F.concat("text", F.lit(" " + BOILERPLATE))
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )


def q_dedup_ngram_df_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale-guarded n-gram Jaccard: shingles appearing in more
    than ``DF_CAP`` documents are dropped from the inverted index
    BEFORE the self-join — run against an adversarial corpus where
    20% of docs share a planted boilerplate sentence.

    This is the 100 TB guard the uncapped query lacks: a boilerplate
    5-gram shared by 10⁶ docs would make one bucket emit 10¹² pairs;
    with the cap, per-shingle fan-out is bounded by DF_CAP² regardless
    of corpus size (here: the planted shingles have df ≈ n_docs/5 and
    are all dropped, so the boilerplate contributes zero candidate
    pairs instead of ~(n/5)²/2). Jaccard is (re)defined over the
    capped shingle sets — an explicit approximate mode (boilerplate
    shingles carry no near-dup signal), with its own oracle applying
    the identical cap. The hot-shingle set is tiny by construction →
    broadcast anti-join, no extra shuffle of the index."""
    docs = _docs_with_boilerplate(spark, sf_dir)
    all_sh = pin(D.exploded_shingles(docs))
    hot = (
        all_sh.groupBy("sh")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > DF_CAP)
        .select("sh")
    )
    shingles = pin(all_sh.join(F.broadcast(hot), "sh", "left_anti"))
    sizes = shingles.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a = shingles.select(F.col("doc_id").alias("id_a"), "sh")
    b = shingles.select(F.col("doc_id").alias("id_b"), "sh")
    common = (
        a.join(b, "sh")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_common"))
    )
    na = sizes.select(F.col("doc_id").alias("id_a"), F.col("n_sh").alias("n_a"))
    nb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n_sh").alias("n_b"))
    jac = F.round(
        F.col("n_common").cast("double")
        / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        6,
    )
    return (
        common.join(na, "id_a")
        .join(nb, "id_b")
        .select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


ORACLE_DEDUP_NGRAM_DF_CAPPED = f"""
WITH bdocs AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 0 THEN text || ' {BOILERPLATE}' ELSE text END AS text
  FROM documents
),
{_SH_CTE.replace("FROM documents", "FROM bdocs")},
cold AS (SELECT sh FROM sh GROUP BY sh HAVING count(*) <= {DF_CAP}),
kept AS (SELECT s.doc_id, s.sh FROM sh s JOIN cold USING (sh)),
sizes AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
  FROM kept a JOIN kept b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       ROUND(CAST(n_common AS DOUBLE) / (na.n + nb.n - n_common), 6) AS jaccard
FROM common
JOIN sizes na ON common.id_a = na.doc_id
JOIN sizes nb ON common.id_b = nb.doc_id
WHERE ROUND(CAST(n_common AS DOUBLE) / (na.n + nb.n - n_common), 6) >= {JACCARD_THRESHOLD}
"""


# --- df-capped containment (the scale path for doc-inside-doc) ---------

def q_dedup_containment_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment on the df-capped inverted index — the scale-guarded
    form of :func:`q_dedup_containment_exact_baseline` and the suite's
    DEFAULT containment path, run against the adversarial
    boilerplate corpus (20% of docs share a planted sentence, so its
    shingles are hot and must not drive the join fan-out).

    Containment-aware cap policy: the cap changes the NUMERATOR only.
    ``n_a`` stays the doc's FULL distinct-shingle count (one extra
    aggregate over the same index scan), hot shingles (df > DF_CAP)
    are dropped from the self-join, so the reported
    ``containment = |A∩B ∩ cold| / |A|`` is a certified LOWER BOUND of
    true containment — every emitted pair is genuinely ≥ threshold on
    cold-shingle evidence alone. The bias is surfaced, not hidden:
    ``n_dropped_a`` counts A's hot shingles and ``containment_ub``
    ( = (n_common + n_dropped_a) / n_a ) is the matching upper bound,
    so a consumer can route uncertain pairs (ub ≥ t > lb) to a direct
    verify instead of the quadratic join. Pairs whose entire overlap
    is boilerplate are dropped by design — hot shingles carry no
    near-dup signal (same argument as the capped-Jaccard op).

    Scale: identical plan shape to ``q_dedup_ngram_df_capped`` —
    per-shingle join fan-out bounded by DF_CAP² regardless of corpus
    size; the hot set is tiny → broadcast anti-join."""
    docs = _docs_with_boilerplate(spark, sf_dir)
    all_sh = pin(D.exploded_shingles(docs))
    hot = (
        all_sh.groupBy("sh")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > DF_CAP)
        .select("sh")
    )
    cold = pin(all_sh.join(F.broadcast(hot), "sh", "left_anti"))
    sizes_full = all_sh.groupBy("doc_id").agg(F.count("*").alias("n_a"))
    sizes_cold = cold.groupBy("doc_id").agg(F.count("*").alias("n_cold"))
    a = cold.select(F.col("doc_id").alias("id_a"), "sh")
    b = cold.select(F.col("doc_id").alias("id_b"), "sh")
    common = (
        a.join(b, "sh")
        .filter(F.col("id_a") != F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_common"))
    )
    na = (
        sizes_full.join(sizes_cold, "doc_id", "left")
        .select(
            F.col("doc_id").alias("id_a"),
            "n_a",
            (F.col("n_a") - F.coalesce(F.col("n_cold"), F.lit(0))).alias(
                "n_dropped_a"
            ),
        )
    )
    lb = F.round(F.col("n_common").cast("double") / F.col("n_a"), 6)
    ub = F.round(
        (F.col("n_common") + F.col("n_dropped_a")).cast("double") / F.col("n_a"), 6
    )
    return (
        common.join(na, "id_a")
        .select(
            "id_a",
            "id_b",
            "n_common",
            "n_dropped_a",
            lb.alias("containment"),
            ub.alias("containment_ub"),
        )
        .filter(F.col("containment") >= CONTAINMENT_THRESHOLD)
    )


ORACLE_DEDUP_CONTAINMENT_CAPPED = f"""
WITH bdocs AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 0 THEN text || ' {BOILERPLATE}' ELSE text END AS text
  FROM documents
),
{_SH_CTE.replace("FROM documents", "FROM bdocs")},
hot AS (SELECT sh FROM sh GROUP BY sh HAVING count(*) > {DF_CAP}),
cold AS (SELECT s.doc_id, s.sh FROM sh s ANTI JOIN hot USING (sh)),
sizes_full AS (SELECT doc_id, count(*) AS n_a FROM sh GROUP BY doc_id),
sizes_cold AS (SELECT doc_id, count(*) AS n_cold FROM cold GROUP BY doc_id),
na AS (
  SELECT f.doc_id, f.n_a, f.n_a - COALESCE(c.n_cold, 0) AS n_dropped_a
  FROM sizes_full f LEFT JOIN sizes_cold c USING (doc_id)
),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
  FROM cold a JOIN cold b ON a.sh = b.sh AND a.doc_id <> b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, n_common, n_dropped_a,
       ROUND(CAST(n_common AS DOUBLE) / n_a, 6) AS containment,
       ROUND(CAST(n_common + n_dropped_a AS DOUBLE) / n_a, 6) AS containment_ub
FROM common JOIN na ON common.id_a = na.doc_id
WHERE ROUND(CAST(n_common AS DOUBLE) / n_a, 6) >= {CONTAINMENT_THRESHOLD}
"""

# API default: "containment dedup" means the df-capped scale path.
# The uncapped all-pairs form stays available under its explicit
# *_exact_baseline name for certifying capped results on a sample.
q_dedup_containment = q_dedup_containment_capped


# --- MinHash + LSH near-dup -------------------------------------------

def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`minhash_lsh_pairs` over the fixture documents."""
    return minhash_lsh_pairs(load_table(spark, "documents", sf_dir))


def minhash_lsh_pairs(docs: DataFrame) -> DataFrame:
    """Full MinHash-LSH pipeline over ``docs`` (doc_id, text):
    shingle → 16 seeded min-hashes → 4 bands × 4 rows → bucket-join
    candidates → exact-Jaccard verify. Candidate generation is
    O(bucket sizes), not O(n²) — the scale path for corpus-level
    near-dup at 100 TB."""
    # persist: consumed by the signature pass and (twice) by the
    # exact-Jaccard verify join.
    shingles = pin(D.exploded_shingles(docs))
    # pin the BAND table, not the signature table (round 13): the band
    # SELF-join is the only two-sided consumer, and pinning one level
    # higher means the k-min aggregation AND the per-band md5s both
    # run once (r12 pinned sigs, so each join side re-derived the band
    # hashes from the cached 1+k-wide signature rows); the cached
    # frame is also the narrower one — (id, band, band_hash) versus
    # the k-wide signature row. At corpus scale the banded index is
    # the table a dedup service materializes anyway.
    sigs = D.minhash_signatures(shingles)
    bands = pin(D.lsh_bands(sigs))
    pairs = D.lsh_candidate_pairs(bands)
    return D.jaccard_verify(pairs, shingles)


# The corpus-size-aware geometry at the scale-replica decade
# (VERDICT r11 ask #1): lsh_geometry(5M) = 8 bands × 6 rows, k=48 —
# same 0.707 S-curve midpoint as the 4×4 default, sharper curve, so
# sub-threshold bucket collisions (the super-linear term the sf100
# census measured: candidates 7.1× for 3.3× docs) shrink by (s/t)^2
# per pair. Pinned as CONSTANTS here (not env-derived) so the spec
# is deterministic at every SF and its oracle bakes the identical
# geometry.
LSH_TUNED_HASHES, LSH_TUNED_BANDS, LSH_TUNED_ROWS = D.lsh_geometry(5_000_000)


def q_dedup_minhash_lsh_tuned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MinHash-LSH pipeline under the corpus-size-aware band
    geometry (`operators.dedup.lsh_geometry` — one row per band per
    decade of corpus growth at a fixed S-curve midpoint), pinned at
    the 5M-doc operating point the round-12 sf100 census measures:
    8 bands × 6 rows, 48 signatures. Same shingles, same hash
    family, same exact-Jaccard verify as `dedup_minhash_lsh`; only
    the banding differs, trading 3× signature width for a
    super-linear cut in sub-threshold candidates (SCALE.md round 12
    has the measured 5M-doc containment). The DuckDB oracle replays
    the identical tuned geometry, so the approximation itself is
    value-checked, exactly as for the default spec."""
    docs = load_table(spark, "documents", sf_dir)
    shingles = pin(D.exploded_shingles(docs))
    # pin the band table, not the k=48-wide signature table — same
    # one-level-higher pin as the default spec above (round 13): the
    # double k-min aggregation the r12 sigs-pin prevented stays
    # prevented, the band md5s now also run once, and the cached rows
    # drop from 1+48 BIGINT columns to (id, band, band_hash).
    sigs = D.minhash_signatures(shingles, num_hashes=LSH_TUNED_HASHES)
    bands = pin(
        D.lsh_bands(
            sigs, num_bands=LSH_TUNED_BANDS, rows_per_band=LSH_TUNED_ROWS
        )
    )
    pairs = D.lsh_candidate_pairs(bands)
    return D.jaccard_verify(pairs, shingles)


def _oracle_minhash(
    num_hashes: int | None = None,
    num_bands: int | None = None,
    rows_per_band: int | None = None,
) -> str:
    """DuckDB replay of the full MinHash-LSH pipeline, parameterized
    over band GEOMETRY (round 12) so the corpus-size-tuned spec gets
    the same exact cross-engine value check as the default."""
    num_hashes = D.NUM_HASHES if num_hashes is None else num_hashes
    num_bands = D.NUM_BANDS if num_bands is None else num_bands
    rows_per_band = D.ROWS_PER_BAND if rows_per_band is None else rows_per_band
    sig_cols = ", ".join(
        "min(substr(md5('{seed}|' || sh), {start}, 8)) AS s{i}".format(
            seed=i // D.SLICES_PER_MD5, start=1 + 8 * (i % D.SLICES_PER_MD5), i=i
        )
        for i in range(num_hashes)
    )
    band_selects = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band, md5(concat_ws('|', {cols})) AS band_hash FROM sigs".format(
            b=b,
            cols=", ".join(
                f"s{b * rows_per_band + r}" for r in range(rows_per_band)
            ),
        )
        for b in range(num_bands)
    )
    return f"""
WITH {_SH_CTE},
sigs AS (SELECT doc_id, {sig_cols} FROM sh GROUP BY doc_id),
bands AS ({band_selects}),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
common AS (
  SELECT c.id_a, c.id_b, count(*) AS n_common
  FROM cand c
  JOIN sh a ON a.doc_id = c.id_a
  JOIN sh b ON b.doc_id = c.id_b AND b.sh = a.sh
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       ROUND(CAST(n_common AS DOUBLE) / (na.n + nb.n - n_common), 6) AS jaccard
FROM common
JOIN sizes na ON common.id_a = na.doc_id
JOIN sizes nb ON common.id_b = nb.doc_id
"""


# The estimator-drift audit samples candidate pairs 1-in-8 by md5
# prefix of the pair key — the same pure-function discipline as
# q_sample_hash (pipeline.py), so the DuckDB oracle replays the
# selection exactly and a pair's membership never changes as the
# corpus grows. Rationale (VERDICT r6 ask #4): the exact form scores
# EVERY LSH candidate pair and is audit-bound at the 100× replica
# (118.8 s, 3.17M exactly-scored pairs); a production drift audit
# needs an unbiased sample, not the census.
MINHASH_AUDIT_HEX = "2000"  # keep ≈ 1/8 of candidate pairs


def _minhash_estimate(
    spark: SparkSession, sf_dir: str, sampled: bool
) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    shingles = pin(D.exploded_shingles(docs))
    # pin: unlike the lsh pipeline (one consumer), this plan reads the
    # signature table THREE times — bands→candidate pairs, the a-side
    # estimate join, the b-side estimate join. Unpinned, Spark
    # recomputes the 16-slice min-aggregation over the full shingle
    # frame (~50M rows at the 100× replica) once per consumer: the
    # round-8 honest-cold protocol (release_pins between specs) read
    # 244 s isolated cold where r7's cache-confounded A/B read 79.9.
    # At corpus scale the signature table is written out anyway.
    sigs = pin(D.minhash_signatures(shingles))
    bands = D.lsh_bands(sigs)
    pairs = D.lsh_candidate_pairs(bands)
    if sampled:
        pairs = pairs.filter(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "|",
                        F.col("id_a").cast("string"),
                        F.col("id_b").cast("string"),
                    )
                ),
                1,
                4,
            )
            < F.lit(MINHASH_AUDIT_HEX)
        )
    # pin: the (sampled) candidate-pair frame feeds the estimate join
    # AND the exact verify — unpinned, the band self-join + distinct
    # runs twice.
    pairs = pin(pairs)
    sa = sigs.select(
        F.col("doc_id").alias("id_a"),
        *[F.col(f"s{i}").alias(f"a{i}") for i in range(D.NUM_HASHES)],
    )
    sb = sigs.select(
        F.col("doc_id").alias("id_b"),
        *[F.col(f"s{i}").alias(f"b{i}") for i in range(D.NUM_HASHES)],
    )
    n_match = sum(
        (F.col(f"a{i}") == F.col(f"b{i}")).cast("int") for i in range(D.NUM_HASHES)
    )
    est = pairs.join(sa, "id_a").join(sb, "id_b").select(
        "id_a",
        "id_b",
        F.round(n_match.cast("double") / D.NUM_HASHES, 6).alias("est_jaccard"),
    )
    exact = D.jaccard_verify(pairs, shingles)
    return est.join(exact, ["id_a", "id_b"]).select(
        "id_a",
        "id_b",
        "est_jaccard",
        "jaccard",
        F.round(F.abs(F.col("est_jaccard") - F.col("jaccard")), 6).alias("abs_err"),
    )


def q_minhash_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator audit (SAMPLED default, VERDICT r6 ask #4):
    for a deterministic 1-in-8 md5-hash sample of LSH candidate pairs,
    the signature-agreement estimate (matching slots / 16 — the
    unbiased MinHash estimator of Jaccard) next to the EXACT Jaccard
    and the absolute error. The production use: at 100 TB the estimate
    is often accurate enough to SKIP the exact-verify join entirely —
    this op quantifies that trade on a replayable sample of real
    candidates (generalizes the reference's threshold-parity concern,
    running_validation.py:306-316, to corpus scale).

    Scale: the sample filter sits directly on the candidate-pair
    frame, BEFORE both the signature join and the shingle-level exact
    verify, so the expensive legs see 1/8 of the pairs (the exact form
    was audit-bound: 118.8 s / 3.17M scored pairs at the 100×
    replica); the census form survives below as the explicitly-named
    exactness baseline."""
    return _minhash_estimate(spark, sf_dir, sampled=True)


def q_minhash_estimate_exact_baseline(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Census form of the estimator audit: every LSH candidate pair
    exactly scored. Deliberately audit-bound at corpus scale (it IS
    the full verify join plus the estimate join) — kept as the
    exactness baseline that certifies the sampled audit on small SF,
    same pattern as the uncapped/capped containment pair."""
    return _minhash_estimate(spark, sf_dir, sampled=False)


def _oracle_minhash_estimate(sampled: bool = True) -> str:
    sig_cols = ", ".join(
        "min(substr(md5('{seed}|' || sh), {start}, 8)) AS s{i}".format(
            seed=i // D.SLICES_PER_MD5, start=1 + 8 * (i % D.SLICES_PER_MD5), i=i
        )
        for i in range(D.NUM_HASHES)
    )
    band_selects = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band, md5(concat_ws('|', {cols})) AS band_hash FROM sigs".format(
            b=b,
            cols=", ".join(
                f"s{b * D.ROWS_PER_BAND + r}" for r in range(D.ROWS_PER_BAND)
            ),
        )
        for b in range(D.NUM_BANDS)
    )
    match_sum = " + ".join(
        f"(CASE WHEN sa.s{i} = sb.s{i} THEN 1 ELSE 0 END)"
        for i in range(D.NUM_HASHES)
    )
    sample_pred = (
        "WHERE substr(md5(CAST(a.doc_id AS VARCHAR) || '|' || "
        f"CAST(b.doc_id AS VARCHAR)), 1, 4) < '{MINHASH_AUDIT_HEX}'"
        if sampled
        else ""
    )
    return f"""
WITH {_SH_CTE},
sigs AS (SELECT doc_id, {sig_cols} FROM sh GROUP BY doc_id),
bands AS ({band_selects}),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
  {sample_pred}
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
common AS (
  SELECT c.id_a, c.id_b, count(*) AS n_common
  FROM cand c
  JOIN sh a ON a.doc_id = c.id_a
  JOIN sh b ON b.doc_id = c.id_b AND b.sh = a.sh
  GROUP BY 1, 2
),
est AS (
  SELECT c.id_a, c.id_b,
         ROUND(CAST({match_sum} AS DOUBLE) / {D.NUM_HASHES}, 6) AS est_jaccard
  FROM cand c JOIN sigs sa ON sa.doc_id = c.id_a JOIN sigs sb ON sb.doc_id = c.id_b
),
exact AS (
  SELECT id_a, id_b,
         ROUND(CAST(n_common AS DOUBLE) / (na.n + nb.n - n_common), 6) AS jaccard
  FROM common
  JOIN sizes na ON common.id_a = na.doc_id
  JOIN sizes nb ON common.id_b = nb.doc_id
)
SELECT est.id_a AS id_a, est.id_b AS id_b, est_jaccard, jaccard,
       ROUND(abs(est_jaccard - jaccard), 6) AS abs_err
FROM est JOIN exact ON est.id_a = exact.id_a AND est.id_b = exact.id_b
"""


# --- SimHash -----------------------------------------------------------

def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc 16-bit SimHash signature (near-dup docs land on nearby
    signatures; grouping by signature buckets exact-ish dups)."""
    docs = load_table(spark, "documents", sf_dir)
    return spread(docs.select("doc_id", "text")).select(
        "doc_id", D.simhash16(D.tokens("text")).alias("simhash")
    )


def simhash_bits_sql(dt_col: str = "dt") -> str:
    """DuckDB expression for the 16-bit SimHash of a distinct-token
    list column — shared by the dedup oracle and the doc_profile
    oracle (suite/text.py)."""

    def votes(j: int) -> str:
        hex_pos = 1 + j // 4
        shift = 2 ** (3 - (j % 4))
        return (
            f"coalesce(list_aggregate(list_transform({dt_col}, "
            f"x -> (((strpos('0123456789abcdef', substr(md5(x), {hex_pos}, 1)) - 1) "
            f"// {shift}) % 2) * 2 - 1), 'sum'), 0)"
        )

    bit_terms = " + ".join(
        f"(CASE WHEN {votes(j)} > 0 THEN {2**j} ELSE 0 END)" for j in range(16)
    )
    return f"CAST({bit_terms} AS BIGINT)"


def _oracle_simhash() -> str:
    return f"""
WITH t AS (
  SELECT doc_id,
         list_distinct(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS dt
  FROM documents
)
SELECT doc_id, {simhash_bits_sql()} AS simhash FROM t
"""


# --- SimHash Hamming-band pair detection -------------------------------

SIMHASH_BANDS = 4      # bands over the 16-bit signature → 4 bits each
SIMHASH_BAND_BITS = 4
SIMHASH_HAM_T = 2      # pairs kept iff Hamming(sig_a, sig_b) <= 2


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup PAIR detection from SimHash signatures alone
    (Charikar 2002; Manku, Jain & Das Sarma 2007's web-crawl dedup):
    split each signature into ``SIMHASH_BANDS`` bit-bands; any pair
    within Hamming distance d < bands must agree on >= 1 whole band
    (pigeonhole), so an equi-join on (band, band_value) finds every
    such pair without comparing all n² signatures. Candidates are
    then verified exactly with ``bit_count(xor)`` <= ``SIMHASH_HAM_T``.

    Scale: the signature is a narrow per-row map (no shuffle); the
    band join is bucketed by (band, band_value) — fan-out is bounded
    by bucket sizes, never all-pairs; the xor+bit_count verify is
    integer-only JVM codegen. At 100 TB you run the same plan with a
    64-bit signature and 16-bit bands (4 × 65536 buckets); the 16-bit
    signature here reuses the portable :func:`simhash16` expression
    shared with the DuckDB oracle, and its 4-bit bands give real
    multi-doc buckets at fixture scale. Complements
    ``unit_dedup_simhash`` (signatures only) and the MinHash-LSH path
    (set-similarity rather than bit-distance semantics); reference
    motivation: the fuzzy compare at running_validation.py:306-316.
    """
    docs = spread(load_table(spark, "documents", sf_dir).select("doc_id", "text"))
    sigs = docs.select("doc_id", D.simhash16(D.tokens("text")).alias("sig"))
    mask = (1 << SIMHASH_BAND_BITS) - 1
    bands = sigs.select(
        "doc_id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright("sig", b * SIMHASH_BAND_BITS)
                        .bitwiseAND(F.lit(mask))
                        .alias("bv"),
                    )
                    for b in range(SIMHASH_BANDS)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "sig", F.col("bb.band").alias("band"), F.col("bb.bv").alias("bv"))
    a = bands.select(
        F.col("doc_id").alias("id_a"), F.col("sig").alias("sig_a"), "band", "bv"
    )
    b = bands.select(
        F.col("doc_id").alias("id_b"), F.col("sig").alias("sig_b"), "band", "bv"
    )
    return (
        a.join(b, ["band", "bv"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sig_a", "sig_b")
        .distinct()
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
            .cast("bigint")
            .alias("hamming"),
        )
        .filter(F.col("hamming") <= SIMHASH_HAM_T)
    )


def _oracle_simhash_pairs() -> str:
    mask = (1 << SIMHASH_BAND_BITS) - 1
    return f"""
WITH t AS (
  SELECT doc_id,
         list_distinct(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS dt
  FROM documents
),
sigs AS (SELECT doc_id, {simhash_bits_sql()} AS sig FROM t),
bands AS (
  SELECT doc_id, sig, band,
         (sig >> (band * {SIMHASH_BAND_BITS})) & {mask} AS bv
  FROM sigs, (VALUES (0), (1), (2), (3)) AS bs(band)
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                  a.sig AS sig_a, b.sig AS sig_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.bv = b.bv
  WHERE a.doc_id < b.doc_id
)
SELECT id_a, id_b, CAST(bit_count(xor(sig_a, sig_b)) AS BIGINT) AS hamming
FROM cand WHERE bit_count(xor(sig_a, sig_b)) <= {SIMHASH_HAM_T}
"""


# --- 60-bit SimHash pair detection (production config) ------------------

SIMHASH60_BANDS = 4
SIMHASH60_BAND_BITS = 15
SIMHASH60_HAM_T = 3  # Manku et al. 2007's web-dedup threshold
# Band-bucket membership cap: a bucket larger than this is dropped from
# candidate generation (both sides). SimHash signatures have LOW entropy
# on template-heavy corpora — shared boilerplate dominates the votes, so
# thousands of distinct docs can share a 15-bit band chunk and one hot
# bucket goes quadratic (measured: the 100× synthetic corpus ran past
# 580 s purely on hot-bucket candidates; see SCALE.md). Manku et al.
# §4's bucket-size bound is the production answer — the same move as
# the shingle df-cap. Fixture bucket sizes max out at 4 (measured at
# sf0.001/sf0.01), so the cap is inert at fixture scale and the
# planted-pair recall pins are unaffected.
SIMHASH60_BUCKET_CAP = 128


def _docs_with_planted_neardups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ a perturbed copy of every %10 doc (ids +2M, one
    appended token) — near- (not exact-) duplicates with a known
    ground-truth pairing, derived identically in both engines."""
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    near = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" nearduptoken")).alias("text"),
    )
    return docs.unionAll(near)


def q_simhash60_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION-width SimHash dedup (Manku, Jain & Das Sarma
    2007, Google's web-crawl config): 60-bit signatures (four exact
    15-bit chunks — a single double accumulator loses mantissa bits
    past 2^53), 4 × 15-bit bands (32768 buckets per band, so
    unrelated docs almost never collide), Hamming ≤ 3 verify. Planted
    one-token-perturbed near-dups give the query a known ground truth
    (recall pinned in tests/test_simhash_recall.py); docs that share
    an identical distinct-token SET collide at Hamming 0 by
    definition of the signature.

    Features are distinct word 5-gram SHINGLES, not tokens — the
    textbook choice, and the one that makes the signature STABLE:
    appending one token changes exactly one shingle window, so a
    near-dup's votes move by ±1 per bit against a typical |vote| of
    √|features| — measured Hamming ≤ 1 for the planted pairs, where
    token-set features over this 31-word vocab flipped enough
    near-zero votes to drop recall to 0.3.

    Scale twin of ``unit_simhash_pairs`` (the 16-bit/4-bit-band
    fixture-scale form): 15-bit bands give 32768 buckets per band, so
    unrelated docs almost never collide where the 4-bit bands would
    have quadratic buckets — same capped-vs-baseline pattern as the
    Jaccard/containment pair. Band buckets larger than
    ``SIMHASH60_BUCKET_CAP`` are dropped from candidate generation
    (Manku et al. §4's bucket bound): low-entropy signatures on
    template-heavy corpora pile distinct docs into a few hot buckets
    and the self-join goes quadratic there — the cap bounds candidate
    pairs by cap²/2 per bucket and is inert at fixture scale (max
    measured bucket = 4)."""
    return _simhash60_banded_pairs(
        spark, sf_dir, SIMHASH60_BANDS, SIMHASH60_BAND_BITS, SIMHASH60_HAM_T
    )


def _simhash60_bands(
    spark: SparkSession, sf_dir: str, n_bands: int, band_bits: int
) -> DataFrame:
    """(doc_id, sig, band, bv) band table of the 60-bit signatures —
    the one banding pipeline both geometry configs share."""
    docs = spread(_docs_with_planted_neardups(spark, sf_dir))
    # codegen-shape signature build (explode + 60 vote sums) — value-
    # identical to the D.simhash60 fold, 2.4× faster at sf0.1 and the
    # dominant sf10 term (see operators.dedup.simhash60_signatures)
    sigs = D.simhash60_signatures(
        docs, "doc_id", D.word_shingles(D.tokens("text"))
    )
    mask = (1 << band_bits) - 1
    return sigs.select(
        "doc_id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright("sig", b * band_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("bv"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bb"),
    ).select(
        "doc_id", "sig", F.col("bb.band").alias("band"), F.col("bb.bv").alias("bv")
    )


def simhash60_max_bucket(
    spark: SparkSession, sf_dir: str, n_bands: int, band_bits: int
) -> int:
    """Largest band-bucket membership for a geometry — the test-side
    precondition probe: the wide-⊆-narrow pair-set property (and the
    'cap is inert' claims) hold exactly while this stays ≤
    ``SIMHASH60_BUCKET_CAP``."""
    row = (
        _simhash60_bands(spark, sf_dir, n_bands, band_bits)
        .groupBy("band", "bv")
        .count()
        .agg(F.max("count").alias("m"))
        .collect()[0]
    )
    return int(row["m"] or 0)


def _simhash60_banded_pairs(
    spark: SparkSession,
    sf_dir: str,
    n_bands: int,
    band_bits: int,
    ham_t: int,
) -> DataFrame:
    """Shared banding→cap→self-join→Hamming-verify pipeline for the
    two 60-bit SimHash geometries (4×15/ham3 and 3×20/ham2) — one
    implementation so a fix lands on both configs at once."""
    bands = _simhash60_bands(spark, sf_dir, n_bands, band_bits)
    hot = (
        bands.groupBy("band", "bv")
        .agg(F.count("*").alias("bn"))
        .filter(F.col("bn") > SIMHASH60_BUCKET_CAP)
        .select("band", "bv")
    )
    bands = bands.join(F.broadcast(hot), ["band", "bv"], "left_anti")
    a = bands.select(
        F.col("doc_id").alias("id_a"), F.col("sig").alias("sig_a"), "band", "bv"
    )
    b = bands.select(
        F.col("doc_id").alias("id_b"), F.col("sig").alias("sig_b"), "band", "bv"
    )
    return (
        a.join(b, ["band", "bv"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sig_a", "sig_b")
        .distinct()
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
            .cast("bigint")
            .alias("hamming"),
        )
        .filter(F.col("hamming") <= ham_t)
    )


def simhash60_bits_sql(dt_col: str = "dt") -> str:
    """DuckDB expression for the 60-bit chunked SimHash — mirrors
    ``operators.dedup.simhash60``."""

    def votes(j: int) -> str:
        hex_pos = 1 + j // 4
        shift = 2 ** (3 - (j % 4))
        return (
            f"coalesce(list_aggregate(list_transform({dt_col}, "
            f"x -> (((strpos('0123456789abcdef', substr(md5(x), {hex_pos}, 1)) - 1) "
            f"// {shift}) % 2) * 2 - 1), 'sum'), 0)"
        )

    def chunk(c: int) -> str:
        terms = " + ".join(
            f"(CASE WHEN {votes(15 * c + i)} > 0 THEN {2**i} ELSE 0 END)"
            for i in range(15)
        )
        return f"({terms})"

    return (
        f"(CAST({chunk(0)} AS BIGINT)"
        f" + CAST({chunk(1)} AS BIGINT) * {1 << 15}"
        f" + CAST({chunk(2)} AS BIGINT) * {1 << 30}"
        f" + CAST({chunk(3)} AS BIGINT) * CAST({1 << 45} AS BIGINT))"
    )


def _oracle_simhash60_banded(n_bands: int, band_bits: int, ham_t: int) -> str:
    """Shared DuckDB replay of ``_simhash60_banded_pairs`` for any
    band geometry — one SQL text so a fix lands on both configs."""
    mask = (1 << band_bits) - 1
    bs = ", ".join(f"({b})" for b in range(n_bands))
    return f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 2000000, text || ' nearduptoken' FROM documents
  WHERE doc_id % 10 = 0
),
tk AS (
  SELECT doc_id,
         list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
  FROM corpus
),
t AS (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(1, greatest(len(toks) - 4, 1)),
           i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2], toks[i+3], toks[i+4])
         )) AS dt
  FROM tk
),
sigs AS (SELECT doc_id, {simhash60_bits_sql()} AS sig FROM t),
bands0 AS (
  SELECT doc_id, sig, band,
         (sig >> (band * {band_bits})) & {mask} AS bv
  FROM sigs, (VALUES {bs}) AS bs(band)
),
hot AS (
  SELECT band, bv FROM bands0 GROUP BY band, bv
  HAVING count(*) > {SIMHASH60_BUCKET_CAP}
),
bands AS (
  SELECT b.* FROM bands0 b
  WHERE NOT EXISTS (SELECT 1 FROM hot h
                    WHERE h.band = b.band AND h.bv = b.bv)
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                  a.sig AS sig_a, b.sig AS sig_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.bv = b.bv
  WHERE a.doc_id < b.doc_id
)
SELECT id_a, id_b, CAST(bit_count(xor(sig_a, sig_b)) AS BIGINT) AS hamming
FROM cand WHERE bit_count(xor(sig_a, sig_b)) <= {ham_t}
"""


def _oracle_simhash60_pairs() -> str:
    return _oracle_simhash60_banded(
        SIMHASH60_BANDS, SIMHASH60_BAND_BITS, SIMHASH60_HAM_T
    )


# --- 60-bit SimHash, wide-band corpus-scale config ----------------------

SIMHASH60W_BANDS = 3
SIMHASH60W_BAND_BITS = 20
SIMHASH60W_HAM_T = 2  # 3 bands × 20 bits pigeonholes Hamming ≤ 2


def q_simhash60_wide_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CORPUS-SCALE SimHash config — the twin that answers
    ``unit_simhash60_pairs``' measured 100× ceiling (SCALE.md): at
    fixed 15-bit bands, chance collisions grow as 4·n²/2¹⁶ and the
    candidate join drowns past ~100k docs. Band width must grow with
    log₂(n) exactly like IVF's nlist grows with corpus size, so this
    variant trades recall radius for bucket entropy: 3 bands × 20
    bits pigeonholes Hamming ≤ 2 (any sig pair within 2 flips shares
    one exact band) with 2²⁰ buckets per band — 16× fewer chance
    collisions per band, 48× fewer overall. Same 60-bit signature,
    same planted near-dups (measured Hamming ≤ 1, so the tighter
    radius keeps them), same bucket cap for template skew. The
    narrow-band form remains the higher-recall choice for sub-100k
    shards; pick by corpus size, as Manku et al.'s table layouts do."""
    return _simhash60_banded_pairs(
        spark, sf_dir, SIMHASH60W_BANDS, SIMHASH60W_BAND_BITS, SIMHASH60W_HAM_T
    )


def _oracle_simhash60_wide_pairs() -> str:
    return _oracle_simhash60_banded(
        SIMHASH60W_BANDS, SIMHASH60W_BAND_BITS, SIMHASH60W_HAM_T
    )


# --- embedding-cosine near-dup ----------------------------------------

COSINE_THRESHOLD = 0.98


def _vecs_with_planted_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    # SQL strings since round 13 (py4j plan-build cut, VERDICT r12
    # ask #7) — literal renderings of the prior Column trees,
    # sameSemantics-pinned in tests/test_plans.py.
    emb = spread(
        load_table(spark, "embeddings", sf_dir).select("vec_id", "embedding", "label")
    )
    scaled = emb.filter(F.col("vec_id") % 50 == 0).selectExpr(
        "vec_id + 1000000 AS vec_id",
        "transform(embedding, x -> cast(cast(x as double) * 2.0D as float))"
        " AS embedding",
        "label",
    )
    perturbed = emb.filter(F.col("vec_id") % 70 == 0).selectExpr(
        "vec_id + 2000000 AS vec_id",
        "concat(array(cast(cast(element_at(embedding, 1) as double) + 0.5D"
        " as float)), slice(embedding, 2, size(embedding) - 1)) AS embedding",
        "label",
    )
    return emb.unionAll(scaled).unionAll(perturbed)


def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup within label blocks (blocked
    candidate generation — the cross join never leaves a block).
    Planted scaled copies (cos = 1) and one-dim perturbations
    (cos ≈ 1) are the dups to find."""
    vecs = _vecs_with_planted_dups(spark, sf_dir)
    a = vecs.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("emb_a"),
        "label",
    )
    b = vecs.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("emb_b"),
        "label",
    )
    cos = cosine_rounded(F.col("emb_a"), F.col("emb_b"))
    return (
        a.join(b, "label")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("label", "vec_a", "vec_b", cos.alias("cos_sim"))
        .filter(F.col("cos_sim") >= COSINE_THRESHOLD)
    )


_COS_AB = cosine_sql("a.embedding", "b.embedding")

#: DuckDB twin of ``_vecs_with_planted_dups`` — shared with the
#: SemDeDup oracle (suite/similarity.py).
ALL_VECS_CTE = """all_vecs AS (
  SELECT vec_id, embedding, label FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000,
         list_transform(embedding, x -> CAST(x::DOUBLE * 2.0 AS FLOAT)),
         label
  FROM embeddings WHERE vec_id % 50 = 0
  UNION ALL
  SELECT vec_id + 2000000,
         list_concat([CAST(embedding[1]::DOUBLE + 0.5 AS FLOAT)], embedding[2:]),
         label
  FROM embeddings WHERE vec_id % 70 = 0
)"""

ORACLE_DEDUP_EMBEDDING = f"""
WITH {ALL_VECS_CTE}
SELECT a.label, a.vec_id AS vec_a, b.vec_id AS vec_b,
       ROUND({_COS_AB}, 6) AS cos_sim
FROM all_vecs a JOIN all_vecs b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE ROUND({_COS_AB}, 6) >= {COSINE_THRESHOLD}
"""



# --- duplicate clustering (connected components) ----------------------

def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs → duplicate clusters: connected components over
    the ngram-Jaccard pair graph (join-based label propagation, see
    operators/graph.py). Output: every clustered doc with its
    component id (= min doc_id of the cluster) and cluster size."""
    from ..operators.graph import connected_components

    pairs = q_dedup_ngram_jaccard(spark, sf_dir).select("id_a", "id_b")
    comp = connected_components(pairs)
    sizes = comp.groupBy("comp").agg(F.count("*").alias("cluster_size"))
    return comp.join(sizes, "comp").select(
        F.col("node").alias("doc_id"),
        F.col("comp").alias("cluster_id"),
        "cluster_size",
    )


#: CTE chain ending in ``comp(node, comp)`` — the connected-components
#: replay, shared with the keep-best representative oracle.
_CLUSTERS_CTES = f"""{_SH_CTE},
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT id_a, id_b FROM common
  JOIN sizes na ON common.id_a = na.doc_id
  JOIN sizes nb ON common.id_b = nb.doc_id
  WHERE ROUND(CAST(n_common AS DOUBLE) / (na.n + nb.n - n_common), 6) >= {JACCARD_THRESHOLD}
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION SELECT id_b, id_a FROM pairs
),
reach AS (
  WITH RECURSIVE r(src, dst) AS (
    SELECT src, dst FROM edges
    UNION
    SELECT r.src, e.dst FROM r JOIN edges e ON r.dst = e.src
  ) SELECT * FROM r
),
comp AS (
  SELECT src AS node, least(src, min(dst)) AS comp
  FROM reach GROUP BY src
)"""

ORACLE_DEDUP_CLUSTERS = f"""
WITH {_CLUSTERS_CTES}
SELECT c.node AS doc_id, c.comp AS cluster_id, s.cluster_size
FROM comp c
JOIN (SELECT comp, count(*) AS cluster_size FROM comp GROUP BY comp) s
  ON c.comp = s.comp
"""


# --- duplicate-cluster representative selection --------------------------

def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation's final dedup step: ONE representative per duplicate
    cluster. Representative = the longest member (token count), doc_id
    tiebreak — the common "keep the most complete copy" heuristic
    (min-id keeps whichever crawl happened first; longest keeps the
    un-truncated one). One window over the clustered docs — cluster
    count is tiny relative to the corpus, so the extra shuffle is on
    the already-reduced cluster table."""
    from pyspark.sql import Window

    clusters = q_dedup_clusters(spark, sf_dir)
    ntok = load_table(spark, "documents", sf_dir).select(
        "doc_id", F.size(D.tokens(F.col("text"))).cast("bigint").alias("n_tokens")
    )
    j = clusters.join(ntok, "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(F.desc("n_tokens"), "doc_id")
    return j.select(
        "doc_id",
        "cluster_id",
        "cluster_size",
        "n_tokens",
        (F.row_number().over(w) == 1).alias("keep"),
    )


ORACLE_DEDUP_KEEP_BEST = f"""
WITH {_CLUSTERS_CTES},
clustered AS (
  SELECT c.node AS doc_id, c.comp AS cluster_id, s.cluster_size
  FROM comp c
  JOIN (SELECT comp, count(*) AS cluster_size FROM comp GROUP BY comp) s
    ON c.comp = s.comp
),
ntok AS (
  SELECT doc_id,
         CAST(len(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS BIGINT)
           AS n_tokens
  FROM documents
)
SELECT doc_id, cluster_id, cluster_size, n_tokens,
       row_number() OVER (PARTITION BY cluster_id
                          ORDER BY n_tokens DESC, doc_id) = 1 AS keep
FROM clustered JOIN ntok USING (doc_id)
"""




# --- incremental dedup (new batch vs existing corpus) -------------------

INCOMING_HEX = "c"  # first md5 hex char ≥ 'c' → the incoming crawl batch (~25%)


def _is_incoming(id_col: str = "doc_id"):
    return F.substring(F.md5(F.col(id_col).cast("string")), 1, 1) >= INCOMING_HEX


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup: which documents of an incoming crawl
    batch duplicate the EXISTING corpus? The production shape of
    dedup at 100 TB — the corpus's LSH bands are a materialized
    index (recomputed here for self-containment; in a pipeline
    they're a bucketed table), the incoming batch's bands join
    against it, and only new×old candidate pairs are verified. Cost
    ∝ batch size × bucket collisions, never corpus².

    Output: per incoming doc, its best existing match (highest
    Jaccard ≥ 0.2, ties to the smallest doc_id). Split is the stable
    md5-prefix rule, so membership never changes as the corpus grows.
    """
    from pyspark.sql import Window

    docs = load_table(spark, "documents", sf_dir)
    shingles = pin(D.exploded_shingles(docs))
    # pin: bands feeds BOTH split branches (incoming and corpus), so
    # the signature aggregation would otherwise run twice.
    bands = pin(D.lsh_bands(D.minhash_signatures(shingles)))
    new_b = bands.filter(_is_incoming()).select(
        F.col("doc_id").alias("id_a"), "band", "band_hash"
    )
    old_b = bands.filter(~_is_incoming()).select(
        F.col("doc_id").alias("id_b"), "band", "band_hash"
    )
    cand = (
        new_b.join(old_b, ["band", "band_hash"])
        .select("id_a", "id_b")
        .distinct()
    )
    verified = D.jaccard_verify(cand, shingles).filter(
        F.col("jaccard") >= JACCARD_THRESHOLD
    )
    # best corpus match per incoming doc as a map-side-combining
    # max(struct(jaccard, −id_b, id_b)) — lexicographic max ≡ ORDER BY
    # jaccard DESC, id_b ASC, no rank window over the candidate pairs
    best = F.max(
        F.struct(
            F.col("jaccard").alias("j"),
            (-F.col("id_b")).alias("m"),
            F.col("id_b").alias("i"),
        )
    )
    return (
        verified.groupBy("id_a")
        .agg(best.alias("b"))
        .select(
            F.col("id_a").alias("new_doc_id"),
            F.col("b.i").alias("dup_of"),
            F.col("b.j").alias("jaccard"),
        )
    )


def _oracle_incremental() -> str:
    # Same LSH replay as _oracle_minhash, restricted to new×old pairs.
    sig_cols = ", ".join(
        "min(substr(md5('{seed}|' || sh), {start}, 8)) AS s{i}".format(
            seed=i // D.SLICES_PER_MD5, start=1 + 8 * (i % D.SLICES_PER_MD5), i=i
        )
        for i in range(D.NUM_HASHES)
    )
    band_selects = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band, md5(concat_ws('|', {cols})) AS band_hash FROM sigs".format(
            b=b,
            cols=", ".join(
                f"s{b * D.ROWS_PER_BAND + r}" for r in range(D.ROWS_PER_BAND)
            ),
        )
        for b in range(D.NUM_BANDS)
    )
    return f"""
WITH {_SH_CTE},
sigs AS (SELECT doc_id, {sig_cols} FROM sh GROUP BY doc_id),
bands AS ({band_selects}),
flagged AS (
  SELECT *, substr(md5(CAST(doc_id AS STRING)), 1, 1) >= '{INCOMING_HEX}' AS incoming
  FROM bands
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM flagged a JOIN flagged b
    ON a.band = b.band AND a.band_hash = b.band_hash
   AND a.incoming AND NOT b.incoming
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
common AS (
  SELECT c.id_a, c.id_b, count(*) AS n_common
  FROM cand c
  JOIN sh a ON a.doc_id = c.id_a
  JOIN sh b ON b.doc_id = c.id_b AND b.sh = a.sh
  GROUP BY 1, 2
),
scored AS (
  SELECT id_a, id_b,
         ROUND(CAST(n_common AS DOUBLE) / (na.n + nb.n - n_common), 6) AS jaccard
  FROM common
  JOIN sizes na ON common.id_a = na.doc_id
  JOIN sizes nb ON common.id_b = nb.doc_id
)
SELECT id_a AS new_doc_id, id_b AS dup_of, jaccard FROM (
  SELECT *, row_number() OVER (PARTITION BY id_a ORDER BY jaccard DESC, id_b) AS rk
  FROM scored WHERE jaccard >= {JACCARD_THRESHOLD}
) WHERE rk = 1
"""


# Unit operator surface (merged into doc_profile's simhash column for
# the driver window); parity-tested locally.
# --- dedup-recall evaluation against exact ground truth --------------------

def q_dedup_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup EVALUATION as an operator: the MinHash-LSH pipeline's
    verified pairs scored against the exact inverted-index Jaccard
    ground truth — precision, recall, F1 in one row. Precision is 1 by
    construction (the LSH path exact-verifies candidates with the same
    threshold); recall measures exactly the BAND-MISS rate, i.e. the
    pairs whose signatures never collided in any band — the quantity
    the (bands × rows) S-curve trades against candidate volume, here
    measured on the shipped config rather than read off the formula.
    The corpus-eval sibling of `unit_langid_confusion` and the
    recall harnesses in tests/test_ann_recall.py, but driver-checkable
    since both sides are deterministic DataFrames.

    Cost: re-runs both pair pipelines (each bench-timed ~1 s at
    sf0.1) plus two pair-key joins — the audit you run when retuning
    bands, not per ingest."""
    truth = q_dedup_ngram_jaccard(spark, sf_dir).select("id_a", "id_b")
    pred = q_dedup_minhash_lsh(spark, sf_dir).select("id_a", "id_b")
    hit = truth.join(pred, ["id_a", "id_b"], "left_semi")
    nt = truth.agg(F.count("*").alias("n_true"))
    np_ = pred.agg(F.count("*").alias("n_pred"))
    nh = hit.agg(F.count("*").alias("n_hit"))
    prec = F.round(F.col("n_hit").cast("double") / F.greatest("n_pred", F.lit(1)), 6)
    rec = F.round(F.col("n_hit").cast("double") / F.greatest("n_true", F.lit(1)), 6)
    return (
        nt.crossJoin(F.broadcast(np_))
        .crossJoin(F.broadcast(nh))
        .select(
            "n_true",
            "n_pred",
            "n_hit",
            prec.alias("precision"),
            rec.alias("recall"),
            F.round(
                2
                * (F.col("n_hit").cast("double") / F.greatest("n_pred", F.lit(1)))
                * (F.col("n_hit").cast("double") / F.greatest("n_true", F.lit(1)))
                / F.greatest(
                    F.col("n_hit").cast("double") / F.greatest("n_pred", F.lit(1))
                    + F.col("n_hit").cast("double") / F.greatest("n_true", F.lit(1)),
                    F.lit(1e-12),
                ),
                6,
            ).alias("f1"),
        )
    )


def _oracle_dedup_eval() -> str:
    return f"""
WITH truth AS ({ORACLE_DEDUP_NGRAM_JACCARD}),
pred AS ({_oracle_minhash()}),
nt AS (SELECT count(*) AS n_true FROM truth),
np AS (SELECT count(*) AS n_pred FROM pred),
nh AS (SELECT count(*) AS n_hit FROM truth t
       WHERE EXISTS (SELECT 1 FROM pred p
                     WHERE p.id_a = t.id_a AND p.id_b = t.id_b))
SELECT n_true, n_pred, n_hit,
       ROUND(CAST(n_hit AS DOUBLE) / greatest(n_pred, 1), 6) AS precision,
       ROUND(CAST(n_hit AS DOUBLE) / greatest(n_true, 1), 6) AS recall,
       ROUND(2 * (CAST(n_hit AS DOUBLE) / greatest(n_pred, 1))
               * (CAST(n_hit AS DOUBLE) / greatest(n_true, 1))
             / greatest(CAST(n_hit AS DOUBLE) / greatest(n_pred, 1)
                        + CAST(n_hit AS DOUBLE) / greatest(n_true, 1), 1e-12), 6)
         AS f1
FROM nt CROSS JOIN np CROSS JOIN nh
"""


SPECS = [
    # round 6: the WIDE-band SimHash config is the family's driver row
    # (verdict r5 ask #4 — the narrow 15-bit geometry DNFs at the 100×
    # replica, so the config that survives corpus scale is the one the
    # driver value-checks); the narrow form is relabeled
    # unit_simhash60_narrow_baseline below (driver-green r5).
    QuerySpec("unit_simhash60_wide", q_simhash60_wide_pairs,
              _oracle_simhash60_wide_pairs(),
              "corpus-scale SimHash: 3x20-bit bands, Hamming<=2"),
    # round 6: Jaccard/df-capped/minhash/clusters rotate out
    # (driver-green r1–r5; bench still times the headline entries).
    # Third round-6 rotation: dedup_containment_capped (green r4–r5)
    # yields its seat too — the family keeps two window reps below.
    # second round-6 rotation (never driver-checked before):
    QuerySpec("unit_minhash_estimate", q_minhash_estimate,
              _oracle_minhash_estimate(),
              "MinHash estimator audit: md5-sampled pairs, estimate vs exact"),
]


UNIT_SPECS = [
    # rotated out in the third round-6 rotation (driver-green r4–r5;
    # headline=True keeps it in bench.py's timed suite):
    QuerySpec("dedup_containment_capped", q_dedup_containment_capped,
              ORACLE_DEDUP_CONTAINMENT_CAPPED,
              "df-capped containment: certified lower bound + n_dropped audit",
              headline=True),
    # rotated out of the driver window in round 5 (driver-green in r4;
    # pytest oracles keep them true):
    QuerySpec("unit_dedup_incremental", q_dedup_incremental, _oracle_incremental(),
              "incoming batch near-dup vs existing corpus (LSH index join)"),
    QuerySpec("unit_dedup_eval", q_dedup_eval, _oracle_dedup_eval(),
              "LSH dedup precision/recall vs exact-Jaccard ground truth"),
    QuerySpec("unit_dedup_simhash", q_dedup_simhash, _oracle_simhash(),
              "16-bit SimHash near-dup buckets"),
    QuerySpec("unit_simhash_pairs", q_simhash_pairs, _oracle_simhash_pairs(),
              "SimHash band-blocked pair detection, exact Hamming verify"),
    # rotated out in the second round-5 rotation (driver-green r1-r4):
    QuerySpec("dedup_exact", q_dedup_exact, ORACLE_DEDUP_EXACT,
              "exact dedup by normalized-content hash", headline=True),
    QuerySpec("dedup_embedding", q_dedup_embedding, ORACLE_DEDUP_EMBEDDING,
              "blocked embedding-cosine near-dup with planted dups"),
    QuerySpec("unit_dedup_keep_best", q_dedup_keep_best, ORACLE_DEDUP_KEEP_BEST,
              "one representative per duplicate cluster (longest member)"),
    # rotated out in round 6 (driver-green r1–r5):
    QuerySpec("dedup_ngram_jaccard", q_dedup_ngram_jaccard, ORACLE_DEDUP_NGRAM_JACCARD,
              "word-5-gram Jaccard via inverted-index join", headline=True),
    QuerySpec("dedup_ngram_df_capped", q_dedup_ngram_df_capped,
              ORACLE_DEDUP_NGRAM_DF_CAPPED,
              "df-capped inverted index: bounded hot-shingle fan-out",
              headline=True),
    QuerySpec("dedup_minhash_lsh", q_dedup_minhash_lsh, _oracle_minhash(),
              "MinHash(16)+LSH(4×4) candidates + exact verify", headline=True),
    QuerySpec("dedup_minhash_lsh_tuned", q_dedup_minhash_lsh_tuned,
              _oracle_minhash(LSH_TUNED_HASHES, LSH_TUNED_BANDS,
                              LSH_TUNED_ROWS),
              "corpus-size-aware LSH geometry (8×6, k=48) — the"
              " 5M-doc operating point of lsh_geometry", headline=True),
    QuerySpec("dedup_clusters", q_dedup_clusters, ORACLE_DEDUP_CLUSTERS,
              "duplicate clustering: connected components on the pair graph"),
    # the narrow 15-bit geometry — driver-green r5 as
    # unit_simhash60_pairs, relabeled to what it is: the higher-recall
    # sub-100k-shard baseline whose fixed band width DNFs at the 100×
    # replica (SCALE.md); the wide config above is the scale default.
    QuerySpec("unit_simhash60_narrow_baseline", q_simhash60_pairs,
              _oracle_simhash60_pairs(),
              "narrow-band SimHash baseline: 4x15-bit bands, Hamming<=3"),
    # uncapped containment stays as the exactness BASELINE next to the
    # driver-checked dedup_containment_capped (same pattern as the
    # uncapped/capped Jaccard pair) — deliberately `weak` at 100×.
    QuerySpec("unit_dedup_containment_exact_baseline",
              q_dedup_containment_exact_baseline,
              ORACLE_DEDUP_CONTAINMENT,
              "asymmetric shingle containment (uncapped exactness baseline)"),
    # round 7 (VERDICT r6 ask #4): the census estimator audit —
    # every LSH candidate pair exactly scored — relabeled to what it
    # is; the md5-sampled form above is the scale default.
    QuerySpec("unit_minhash_estimate_exact_baseline",
              q_minhash_estimate_exact_baseline,
              _oracle_minhash_estimate(sampled=False),
              "census estimator audit (all candidate pairs, exactness baseline)"),
]
