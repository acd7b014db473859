#!/usr/bin/env python
"""Regenerate PLANS.md: formatted physical plans of flagship queries
with the plan-quality facts the engine is designed around. Run after
changing any suite query: ``python scripts/dump_plans.py``."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from validation_database_spark.plans import physical_plan
from validation_database_spark.session import get_spark
from validation_database_spark.suite import all_specs

SF = "/root/testdata/sf0.001"

SHOWCASE = {
    "validation_counts": "the flagship reconciliation DAG: two derived scans "
    "→ two anti-joins + inner join (all broadcast-eligible) → null-safe "
    "compare → three 1-row counts",
    "agg_pricing_summary": "scan-heavy group-by: PushedFilters on l_shipdate, "
    "6-column ReadSchema, partial_sum before the exchange",
    "revenue_by_nation": "fact-to-fact shuffle joins + explicit broadcast of "
    "the 25-row nation dim",
    "dedup_minhash_lsh": "shingle index → 16 min-hash aggregates in one pass "
    "→ band self-join (bucket-bounded) → exact-Jaccard verify",
    "ann_topk": "tagged union: brute-force exact baseline + IVF, built "
    "from the float steps of operators/ivf.py — the per-vector argmax is "
    "ROW-LOCAL (the ≤nlist centroid table folds to one broadcast array "
    "row and each vector computes array_max(transform(...)) in a "
    "projection; no crossJoin row materialization, no aggregation, no "
    "rank window), and the scored fan-out runs in a salted, "
    "REPARTITION_BY_NUM-pinned layout sized from the corpus row count "
    "(ann_float_layout; AQE cannot coalesce it) so the "
    "partial-WindowGroupLimit sort slabs stay bounded — the r10 "
    "2M-vector DNF was this stage inheriting its small join inputs' 22 "
    "AQE-coalesced partitions. Serving scale is still the quant twin "
    "(unit_ann_ivf_quant)",
    "doc_profile": "one-scan text profiling: tokens/quality/lang-id/"
    "fingerprint/repetition/simhash as narrow projections + one unigram-LM "
    "groupBy joined back broadcast",
    "rag_retrieval": "IVF-served RAG retrieval, e6-integer-dot serving form "
    "(headline since round 10), built from the e6 steps of operators/ivf.py: "
    "assignment + probing are single MapInPandas passes "
    "(topk_cells_explode) against the closure-held centroid table (no "
    "crossJoin fan-out, no hash-agg), pair scoring (score_e6) a salted "
    "cogrouped-by-cell "
    "FlatMapCoGroupsInPandas int64 matmul — vectors cross Arrow once per "
    "assignment, never per pair; the salt bounds each cell's "
    "single-record-batch group against Zipfian cell skew, and each slice "
    "emits only its per-query local top-k so the 1.2B-pair sf10 scored "
    "frame never feeds the rank window. Measured 0.119x the float fold's "
    "warm wall at the sf10 replica (87.1 s vs 733.4 = 8.4x)",
    "events_sessionize": "per-user lag + running-sum windows "
    "(hashpartitioning by user_id, no global sort)",
    "unit_session_week_overlap": "interval × interval overlap join: bin "
    "explosion + equi-join on the bin id (never a BroadcastNestedLoopJoin); "
    "pair emitted once in the later-start bin, so no dedup shuffle",
    "unit_kmeans_clusters": "exact fixed-point Lloyd k-means: broadcast "
    "centroid assignment (no shuffle of the vector table), posexplode "
    "groupBy update with map-side combining, integer arithmetic throughout",
    "unit_semantic_dedup": "SemDeDup: spherical k-means over e6 unit "
    "vectors, then the near-dup pair join confined WITHIN clusters "
    "(fan-out bounded by cluster sizes, never corpus²)",
    "unit_bm25_topk": "BM25: tf/dl map-side aggs over the exploded token "
    "stream, broadcast df/avgdl model joined back, TakeOrderedAndProject "
    "top-K (partial top-N per partition) then a K-row rank window",
    "unit_peak_concurrency": "distributed sweep-line: boundary points "
    "shuffled once on day, running open-session sum per day partition, "
    "carry-in prefix over the calendar-bounded day frame — no "
    "session-grain single-partition window",
    "unit_gini_concentration": "Lorenz rank over per-customer totals via "
    "two-pass group-less grouped_row_number (range partition + local rank + "
    "triangular prefix offsets) — no single-partition WindowExec on the "
    "customer dimension",
    "unit_hits_scores": "HITS: four edge-grain groupBy+join half-"
    "iterations with map-side combine; auth_rank over the part dimension "
    "via the same two-pass group-less grouped_row_number",
    "unit_ann_lsh": "multi-probe SRP-LSH: narrow integer bucket-code map, "
    "probe explosion, candidate equi-join on the code (no cross product)",
    "unit_ewma_user_value": "per-user EWMA recurrence: single hash "
    "shuffle into FlatMapGroupsInPandas (Arrow), no other exchange",
    "unit_simhash_pairs": "SimHash pair detection: narrow signature map, "
    "band explosion, candidate equi-join on (band, value), integer "
    "bit_count(xor) verify — no window, no cross product",
    "unit_bpe_merges": "declarative BPE trainer: word-frequency table once, "
    "then per-round pair-count aggregates + 1-row TakeOrdered best pair "
    "broadcast into the next round's fold — no driver collect",
    "unit_rfm_segments": "RFM banding: per-customer partial aggs, score "
    "joins against bounded distinct-value band tables — no global ntile",
    "unit_bloom_prune": "Bloom join pruning: ≤66-row (word, bits) filter "
    "built dim-side, broadcast to the fact probe (k bit-tests per row) — "
    "the fact table never shuffles",
    "unit_triangle_counts": "degree-oriented triangle counting: wedge "
    "equi-joins only, broadcast degree table, fan-out bounded by d_out "
    "not the hub's degree²",
    "unit_exact_substr_spans": "ExactSubstr spans: chunked two-level "
    "explode (codegen md5, carry bounded at 1024 tokens — not the "
    "quadratic position-first carry), hot-hash groupBy with map-side "
    "combine, per-doc islands window over duplicate positions only",
    "unit_line_dedup_rewrite": "C4 line dedup + rewrite: hash-only hot-line "
    "shuffle, anti-join drop, per-doc array_sort reassembly — no global "
    "sort",
    "unit_incr_agg": "incremental MV refresh: delta partial-agg + one "
    "full-outer merge against the view — O(delta), no history rescan",
    "unit_quantile_monitor": "exact per-group quantiles WITHOUT a per-group "
    "rank sort: (type, value) histogram with map-side combine, cumulative "
    "counts over distinct values, min-value rank picks — the "
    "low-cardinality-ceiling fix measured in SCALE.md",
    "unit_rag_retrieval": "RAG retrieval: chunk windows → hashed-BoW vectors "
    "→ broadcast query set → cosine top-3 per query (brute baseline; "
    "IVF/LSH are the serving twins)",
    "unit_scd2_temporal_join": "per-row temporal join: BroadcastHashJoin on "
    "the dimension key with the validity range as the join filter — the "
    "fact side is a pure narrow probe, the only exchange is the dim-side "
    "window build",
    "unit_mannwhitney_u": "Mann-Whitney U: value-histogram agg with map-side "
    "combine, two-level cumulative count (global window over ~600 fixed "
    "value bands + per-band partitioned window) — no unpartitioned window "
    "over the near-unique value grain",
    "unit_hll_sliding_wau": "sliding distinct via sketch merge: dedup-free "
    "daily register build (map-side combine to 64 rows/day), trailing "
    "register-max join over days×7×64 rows — constant in event volume",
    "unit_lm_perplexity_filter": "CCNet LM filter: bigram/context/vocab aggs "
    "over the reference half, model joined back on bg and w1 "
    "(vocabulary-dimension joins), exact-integer keep decision",
    "unit_record_linkage": "Fellegi-Sunter linkage: (nation, segment) "
    "block equi-join bounds the pair space (never a cross product), JVM "
    "integer scoring, per-left argmax as a map-side-combining "
    "lexicographic max(struct) — no rank window, no scale-conditional "
    "key encoding",
    "unit_khop_reach": "k-hop BFS: per-hop frontier equi-joins with a "
    "left-anti subtraction of the visited set, so each hop's work tracks "
    "the NEW frontier, not the closed set",
    "unit_target_encode": "out-of-fold target encoding: |cat|xK-row "
    "encoder built from exact integer moments, subtract-own-fold "
    "arithmetic, broadcast back onto the fact — the fact never shuffles",
    "unit_cdc_merge": "ordered CDC apply: last-writer-wins via one "
    "max(struct(seq, payload)) per key with map-side combine — no "
    "per-key rank window over the log",
    "unit_churn_auc": "exact AUC via the Mann-Whitney identity: score "
    "histogram agg (map-side combine), cumulative negatives over the "
    "bounded score grain, one integer cross-multiplication — windows "
    "bounded by feature dimension, never user count",
    "unit_ann_ivfpq": "IVF-PQ serving: broadcast codebooks, per-query ADC "
    "LUT (K·M rows) joined to cell-probed codes — the scored pair space "
    "is the probed cells' codes, the vectors themselves never move",
    "unit_media_dedup": "binary-payload dedup: md5 computed in the scan "
    "projection, groupBy ships only (hash, length) — payload bytes never "
    "shuffle",
    "unit_simhash60_wide": "corpus-scale SimHash: 60-bit signatures as "
    "four exact 15-bit chunk aggregates, 3x20-bit band explode, "
    "bucket-capped self-join, exact Hamming verify — band width grows "
    "with log2(n) so chance collisions stay subcritical",
    "unit_minhash_estimate": "estimator drift audit (round-7 sampled "
    "default): md5-prefix pair sample applied to the candidate frame "
    "BEFORE the signature join and the shingle-level exact verify, so "
    "both expensive legs see 1/8 of the pairs; the census form is the "
    "labeled exactness baseline",
    "unit_assoc_rules": "pairwise Apriori: antimonotone item semi-join "
    "(LeftSemi, plan-pinned) below the basket self-join — inert on the "
    "dense fixture, 4-8x pair-space cut on a long-tail catalog "
    "(scripts/apriori_longtail.py)",
    "unit_semantic_dedup_hier": "hierarchical SemDeDup (scale path): "
    "md5-hash-sampled fine seeds (immune to id structure); the ≤256 "
    "coarse seeds ride in an exact-int64 Arrow kernel (ArrowEvalPython) "
    "that runs ONCE per vector, in the pinned vector → coarse-cell pass "
    "the fine seeds' cells are also read from (one nearest(...) result "
    "id in the plan); the fine argmin is a narrow projection (array_min "
    "over struct(sqdist, id)) against broadcast per-cell seed lists — no "
    "per-candidate fan-out, no join back to the unit vectors, no corpus "
    "shuffle in routing; pair space bounded by ~50-vector fine clusters "
    "— measured slope ≤0.32 on the top decade where the exact twin is "
    "quadratic either way",
    "unit_ann_ivf_quant": "e6-integer-dot IVF ANN serving twin (round 10): "
    "assignment (k=1) + probing as narrow MapInPandas passes against the "
    "closure-held centroid table — replacing the float arm's n x nlist "
    "crossJoin + max(struct) hash-agg, which carries the 64-dim vector "
    "through an exchange — pair scoring one salted cogrouped "
    "FlatMapCoGroupsInPandas int64 matmul with per-slice local top-k. "
    "Measured 3.1x the float IVF arm's warm wall at the 100x replica "
    "(2.84 s vs 8.93, agreement 1.0); 2.3x at 10k vectors",
    "rag_retrieval_float_baseline": "float-fold IVF RAG serving (the "
    "headline form until round 10): chunk→cell assignment as a broadcast "
    "nested-loop + map-side max(struct) argmax (no rank window), probe side "
    "broadcast into the cell join so the chunk index never shuffles; top-3 "
    "per query as a per-query window — the cosine-scale exactness baseline "
    "the quantized headline's float-agreement gate checks against",
}


def main() -> None:
    from validation_database_spark.suite import unit_specs

    spark = get_spark(app_name="dump_plans", shuffle_partitions=4)
    specs = {**all_specs(), **unit_specs()}
    out = [
        "# PLANS — physical plans of flagship queries",
        "",
        "Generated by `scripts/dump_plans.py` at sf0.001 (plan shape is",
        "scale-independent; AQE may further coalesce at runtime). The facts",
        "asserted in `tests/test_plans.py` are visible here: pushdown at the",
        "scan, pruned ReadSchema, broadcast dims, map-side partial",
        "aggregation, partitioned windows.",
        "",
    ]
    for name, blurb in SHOWCASE.items():
        plan = physical_plan(specs[name].spark_fn(spark, SF))
        out += [f"## {name}", "", blurb, "", "```", plan.strip(), "```", ""]
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
