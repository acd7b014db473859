"""Approximate-index quality: IVF recall@10 against the exact
brute-force baseline. The approximation is allowed to miss neighbors
(that is the trade), but a broken cell assignment would crater recall
— this pins a floor."""

from __future__ import annotations

from validation_database_spark.suite.similarity import (
    TOP_K,
    q_ann_ivf_cosine,
    q_ann_topk_cosine,
)


def test_ivf_recall_floor(spark, sf_dir):
    exact = {}
    for r in q_ann_topk_cosine(spark, sf_dir).collect():
        exact.setdefault(r.query_id, set()).add(r.vec_id)
    approx = {}
    for r in q_ann_ivf_cosine(spark, sf_dir).collect():
        approx.setdefault(r.query_id, set()).add(r.vec_id)

    assert set(approx) == set(exact), "every query must return results"
    recalls = []
    for q, truth in exact.items():
        got = approx.get(q, set())
        recalls.append(len(got & truth) / len(truth))
    mean_recall = sum(recalls) / len(recalls)
    # nprobe=2 of ~10 cells on near-uniform synthetic vectors: recall
    # well above random cell coverage (~20%); floor set loosely so the
    # test pins breakage, not the exact number
    assert mean_recall >= 0.2, f"mean recall@{TOP_K} = {mean_recall:.3f}"
    assert max(recalls) > 0.3, recalls


def test_lsh_strong_recall_floor(spark, sf_dir):
    """Multi-probe SRP-LSH over the planted near-dup corpus: every
    query's STRONG neighbors (cos ≥ LSH_STRONG_COS = 0.9 — its planted
    twins, constructible by id arithmetic: the ×2-scaled copy at
    +1M always, the one-dim perturbation at +2M when qid % 70 == 0)
    must be retrieved, at a bounded scan fraction.

    Background recall@10 over near-uniform vectors is NOT pinned high:
    the measured sweep (see the LSH_BITS table in suite/similarity.py)
    shows it ≈ scan fraction for every (bits, radius) — an inherent
    property of indexing uniform data, not of this implementation. The
    high-cos regime is what the index serves; pin that ≥ 0.8."""
    from validation_database_spark.suite.similarity import (
        LSH_BITS,
        q_ann_lsh_cosine,
    )

    approx = {}
    cos_of = {}
    for r in q_ann_lsh_cosine(spark, sf_dir).collect():
        approx.setdefault(r.query_id, set()).add(r.vec_id)
        cos_of[(r.query_id, r.vec_id)] = r.cos_sim

    assert approx, "queries must return results"
    hits = total = 0
    for q, got in approx.items():
        assert len(got) == TOP_K, f"query {q} returned {len(got)} rows"
        strong = [q + 1_000_000] + ([q + 2_000_000] if q % 70 == 0 else [])
        for twin in strong:
            total += 1
            hits += twin in got
        # the scaled twin is an exact duplicate: cosine must be 1.0
        assert cos_of.get((q, q + 1_000_000)) == 1.0, (q, cos_of)
    strong_recall = hits / total
    assert strong_recall >= 0.8, f"strong recall = {strong_recall:.3f}"
    # bounded candidate fan-out: radius-1 multi-probe touches
    # (bits+1) of 2^bits buckets — ≤ 5% of the corpus in expectation.
    assert (LSH_BITS + 1) / (1 << LSH_BITS) <= 0.05


def test_rag_ivf_recall_floor(spark, sf_dir):
    """IVF-served RAG retrieval vs the brute chunk-scoring truth.

    Background recall@3 tracks the scan fraction (nprobe/nlist) on the
    near-uniform hashed-BoW fixture vectors — the same inherent-to-
    indexing-uniform-data regime as SRP-LSH — so the hard floor is on
    the STRONG-neighbor regime the index actually serves: brute hits
    with cos_sim >= 0.9 (near-dup passages) must be retrieved at
    >= 0.85; mean recall is pinned loosely to catch breakage."""
    from validation_database_spark.suite.similarity import (
        RAG_N_PROBE,
        _rag_frames,
        q_rag_retrieval,
        q_rag_retrieval_ivf,
    )

    exact: dict[int, list] = {}
    for r in q_rag_retrieval(spark, sf_dir).collect():
        exact.setdefault(r.query_doc_id, []).append(
            (r.doc_id, r.chunk_idx, r.cos_sim)
        )
    approx: dict[int, set] = {}
    for r in q_rag_retrieval_ivf(spark, sf_dir).collect():
        approx.setdefault(r.query_doc_id, set()).add((r.doc_id, r.chunk_idx))

    assert set(approx) == set(exact), "every query must return results"
    recalls = []
    strong_hits = strong_total = 0
    for q, rows in exact.items():
        got = approx.get(q, set())
        recalls.append(sum((d, c) in got for d, c, _ in rows) / len(rows))
        for d, c, cos in rows:
            if cos >= 0.9:
                strong_total += 1
                strong_hits += (d, c) in got
    mean_recall = sum(recalls) / len(recalls)
    assert mean_recall >= 0.5, f"mean recall@3 = {mean_recall:.3f}"
    assert strong_total > 0, "fixture must contain strong (cos>=0.9) pairs"
    strong_recall = strong_hits / strong_total
    assert strong_recall >= 0.85, f"strong recall = {strong_recall:.3f}"
    # bounded scan: derive nlist from the ACTUAL centroid frame so a
    # geometry change (RAG_CENT_MOD/OFF/CAP, fixture doc count) moves
    # this assertion with it instead of leaving constant arithmetic
    nlist = _rag_frames(spark, sf_dir)[2].count()
    assert nlist > 0, "centroid selection produced no cells"
    assert RAG_N_PROBE / nlist <= 0.15, (RAG_N_PROBE, nlist)


def test_ivfpq_structure_and_recall(spark, sf_dir):
    """IVF-PQ returns a full top-K per query from the same cells as
    plain IVF, and its ADC ranking overlaps the exact-scored IVF
    ranking well above chance. Absolute recall-vs-brute is NOT pinned
    high: the fixture's codebooks are modular corpus selections (not
    k-means-trained) over near-uniform vectors, so quantization noise
    dominates — the oracle value-checks the exact IVF-PQ structure
    itself; this test pins that the structure behaves like an index."""
    from validation_database_spark.suite.similarity import (
        TOP_K,
        q_ann_ivf_cosine,
        q_ann_ivfpq,
    )

    ivf = {}
    for r in q_ann_ivf_cosine(spark, sf_dir).collect():
        ivf.setdefault(r.query_id, set()).add(r.vec_id)
    pq = {}
    for r in q_ann_ivfpq(spark, sf_dir).collect():
        pq.setdefault(r.query_id, set()).add(r.vec_id)

    assert set(pq) == set(ivf), "every query must return results"
    for q, got in pq.items():
        assert len(got) == TOP_K, f"query {q} returned {len(got)} rows"
    overlaps = [len(pq[q] & ivf[q]) / len(ivf[q]) for q in ivf]
    mean_overlap = sum(overlaps) / len(overlaps)
    # chance overlap ~ TOP_K / cell-candidate count (~0.25 at sf0.001)
    assert mean_overlap >= 0.3, f"mean ADC/exact overlap = {mean_overlap:.3f}"


def test_semantic_dedup_hier_recall_vs_exact(spark, sf_dir):
    """Acceptance gate for the hierarchical SemDeDup scale path: the
    two-level router may miss boundary-straddling dup pairs (inherent
    to cluster-then-prune), but (a) planted SCALED copies are immune —
    identical unit vectors route identically, so every vec the exact
    form drops for a scaled twin is dropped by hier too — and (b)
    overall drop-set recall vs the exact baseline must clear 0.8."""
    from pyspark.sql import functions as F

    from validation_database_spark.suite.similarity import (
        q_semantic_dedup,
        q_semantic_dedup_hier,
    )

    exact = {r.vec_id: r.keep for r in q_semantic_dedup(spark, sf_dir).collect()}
    hier = {r.vec_id: r.keep for r in q_semantic_dedup_hier(spark, sf_dir).collect()}
    assert set(exact) == set(hier), "same corpus, same row set"
    dropped_exact = {v for v, k in exact.items() if not k}
    dropped_hier = {v for v, k in hier.items() if not k}
    assert dropped_exact, "fixture must plant dups"
    # (a) scaled copies: vec_id >= 1_000_000 and < 2_000_000 are the
    # cos=1 planted twins (suite/dedup.py::_vecs_with_planted_dups) —
    # each pairs with its base at cosine exactly 1 in BOTH forms, so
    # every scaled id the exact form drops must be dropped by hier.
    scaled_dropped = {v for v in dropped_exact if 1_000_000 <= v < 2_000_000}
    assert scaled_dropped, "exact form must drop planted scaled copies"
    missed_scaled = scaled_dropped - dropped_hier
    assert not missed_scaled, f"hier missed scaled twins: {sorted(missed_scaled)[:5]}"
    # (b) overall drop-set recall
    recall = len(dropped_exact & dropped_hier) / len(dropped_exact)
    assert recall >= 0.8, f"hier drop recall {recall:.2f} vs exact"


def test_rag_quant_twin_matches_float_serving(spark, sf_dir):
    """Round-9 quantized scoring study (VERDICT r8 ask #4): the
    e6-integer-dot serving twin must retrieve what the float IVF twin
    retrieves. Same corpus, same geometry, same dedup rule — scoring
    differs only by e6 quantization (~1e-6 per coordinate), so the
    retrieved (query, doc, chunk) pair sets may diverge only at exact
    ranking boundaries. Pins: per-query top-3 sets agree on >= 95% of
    pairs overall, every query answered, and the strong-neighbor
    floor vs the brute truth holds at the float twin's own bar."""
    from validation_database_spark.suite.similarity import (
        q_rag_retrieval,
        q_rag_retrieval_ivf,
        q_rag_retrieval_ivf_quant,
    )

    fl: dict[int, set] = {}
    for r in q_rag_retrieval_ivf(spark, sf_dir).collect():
        fl.setdefault(r.query_doc_id, set()).add((r.doc_id, r.chunk_idx))
    qt: dict[int, set] = {}
    for r in q_rag_retrieval_ivf_quant(spark, sf_dir).collect():
        qt.setdefault(r.query_doc_id, set()).add((r.doc_id, r.chunk_idx))

    assert set(qt) == set(fl), "every query must return results"
    agree = total = 0
    for q, pairs in fl.items():
        agree += len(pairs & qt[q])
        total += len(pairs)
    assert total > 0
    assert agree / total >= 0.95, f"float/quant agreement {agree/total:.3f}"

    # strong-neighbor floor vs the brute truth, same bar as the float
    # twin's gate above
    strong_hits = strong_total = 0
    for r in q_rag_retrieval(spark, sf_dir).collect():
        if r.cos_sim >= 0.9:
            strong_total += 1
            strong_hits += (r.doc_id, r.chunk_idx) in qt.get(
                r.query_doc_id, set()
            )
    assert strong_total > 0
    assert strong_hits / strong_total >= 0.85, (strong_hits, strong_total)


def test_rag_quant_salt_is_value_neutral(spark, sf_dir, monkeypatch):
    """RAG_COGROUP_SALT exists purely to bound the cogrouped Arrow
    batch against Zipfian cell skew (SCALE.md round 9) — every chunk
    lands in exactly one salt bucket and probes replicate to all
    buckets, so ANY setting scores every pair exactly once. Pin the
    result set identical across salt 1 (no salting) and the
    default."""
    from validation_database_spark.suite import similarity as S

    base = sorted(
        map(tuple, S.q_rag_retrieval_ivf_quant(spark, sf_dir).collect())
    )
    monkeypatch.setattr(S, "RAG_COGROUP_SALT", 1)
    one = sorted(
        map(tuple, S.q_rag_retrieval_ivf_quant(spark, sf_dir).collect())
    )
    monkeypatch.setattr(S, "RAG_COGROUP_SALT", 3)
    three = sorted(
        map(tuple, S.q_rag_retrieval_ivf_quant(spark, sf_dir).collect())
    )
    assert base == one == three


def test_ann_quant_twin_matches_float_ivf(spark, sf_dir):
    """Round-10 crossover study (VERDICT r9 ask #2): the e6-integer
    IVF ANN twin must retrieve what the float IVF arm retrieves —
    same corpus, same geometry, same tie-breaks; scoring differs only
    by e6 quantization, so the top-10 sets may diverge only at exact
    ranking boundaries (measured agreement 1.0 at the 100x replica,
    0.999 at 10k vectors). Pins: per-query top-k sets agree on >= 95%
    of pairs overall and every query is answered."""
    from validation_database_spark.suite.similarity import (
        q_ann_ivf_cosine,
        q_ann_ivf_quant,
    )

    fl: dict[int, set] = {}
    for r in q_ann_ivf_cosine(spark, sf_dir).collect():
        fl.setdefault(r.query_id, set()).add(r.vec_id)
    qt: dict[int, set] = {}
    for r in q_ann_ivf_quant(spark, sf_dir).collect():
        qt.setdefault(r.query_id, set()).add(r.vec_id)

    assert set(qt) == set(fl), "every query must return results"
    agree = total = 0
    for q, vecs in fl.items():
        agree += len(vecs & qt[q])
        total += len(vecs)
    assert total > 0
    assert agree / total >= 0.95, f"float/quant agreement {agree/total:.3f}"


def test_ann_quant_salt_is_value_neutral(spark, sf_dir, monkeypatch):
    """ANN_COGROUP_SALT bounds the cogrouped Arrow batch against
    skewed cells — every vector lands in exactly one salt bucket and
    probes replicate to all buckets, so ANY setting scores every pair
    exactly once. Pin the result set identical across salt 1, the
    default, and 3."""
    from validation_database_spark.suite import similarity as S

    base = sorted(map(tuple, S.q_ann_ivf_quant(spark, sf_dir).collect()))
    monkeypatch.setattr(S, "ANN_COGROUP_SALT", 1)
    one = sorted(map(tuple, S.q_ann_ivf_quant(spark, sf_dir).collect()))
    monkeypatch.setattr(S, "ANN_COGROUP_SALT", 3)
    three = sorted(map(tuple, S.q_ann_ivf_quant(spark, sf_dir).collect()))
    assert base == one == three


def test_ann_float_salt_is_value_neutral(spark, sf_dir, monkeypatch):
    """VERDICT r10 ask #1: the float IVF arm's fan-out salt +
    explicit-count repartition are LAYOUT-only — every candidate pair
    matches on exactly one salt value and the scored set, scores, and
    tie-breaks are unchanged. Pin the result set identical across
    salt 1 (the unsalted shape), the default, and 3, under a
    different partition count (layouts forced through
    ``ann_float_layout``)."""
    from validation_database_spark.suite import similarity as S

    base = sorted(map(tuple, S.q_ann_ivf_cosine(spark, sf_dir).collect()))
    monkeypatch.setattr(S, "ann_float_layout", lambda n: (1, 5))
    one = sorted(map(tuple, S.q_ann_ivf_cosine(spark, sf_dir).collect()))
    monkeypatch.setattr(S, "ann_float_layout", lambda n: (3, 5))
    three = sorted(map(tuple, S.q_ann_ivf_cosine(spark, sf_dir).collect()))
    assert base == one == three


def test_rag_float_dropped_hint_regime_is_value_neutral(
    spark, sf_dir, monkeypatch
):
    """VERDICT r11 ask #5: the float RAG fold past the probe
    broadcast bound must switch to the salted REPARTITION_BY_NUM
    layout (the q_ann_ivf_cosine shape) and produce the IDENTICAL
    result set — the regime is layout-only. Forced here by zeroing
    the row bound at fixture scale."""
    from validation_database_spark.suite import similarity as S

    bcast = sorted(map(tuple, S.q_rag_retrieval_ivf(spark, sf_dir).collect()))
    assert bcast, "fixture must retrieve pairs"
    monkeypatch.setattr(S, "RAG_BCAST_PROBE_ROWS", -1)
    dropped = sorted(
        map(tuple, S.q_rag_retrieval_ivf(spark, sf_dir).collect())
    )
    assert bcast == dropped


def test_rag_quant_strong_recall_at_sqrt_n_geometry(spark, sf_dir, monkeypatch):
    """VERDICT r9 ask #4: the nlist ~ sqrt(n) production geometry must
    still retrieve strong neighbors. The statistically meaningful
    measurement is the sf1-replica row in SCALE.md round 10 (50k docs,
    1000 queries, 3000 strong pairs: strong recall 0.982 at the
    default nlist=64 vs 0.935 at nlist=224 ~ sqrt(n) — both above the
    0.85 floor); this pytest gate pins the MECHANISM at fixture scale
    (a non-default cell count must not break assignment/probing or
    crater strong recall), not the statistic."""
    from validation_database_spark.suite import similarity as S

    strong = [
        (r.query_doc_id, r.doc_id, r.chunk_idx)
        for r in S.q_rag_retrieval(spark, sf_dir).collect()
        if r.cos_sim >= 0.9
    ]
    assert strong, "fixture must contain strong pairs"
    n_docs = 500  # sf0.001/sf0.01 document count
    monkeypatch.setattr(S, "RAG_CENT_CAP", max(int(n_docs ** 0.5), 1))
    qt: dict[int, set] = {}
    for r in S.q_rag_retrieval_ivf_quant(spark, sf_dir).collect():
        qt.setdefault(r.query_doc_id, set()).add((r.doc_id, r.chunk_idx))
    hits = sum((d, c) in qt.get(q, set()) for q, d, c in strong)
    assert hits / len(strong) >= 0.85, (hits, len(strong))
