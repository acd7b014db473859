"""Degenerate-input behavior: empty sides, all-null checks, empty
corpus — operators must degrade gracefully, not throw."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from validation_database_spark.operators import dedup as D
from validation_database_spark.operators.reconcile import reconcile
from validation_database_spark.operators.report import report_summary


def _df(spark, rows):
    return spark.createDataFrame(rows, "id string, check_col string")


def test_reconcile_empty_right_side(spark):
    a = _df(spark, [("1", "x"), ("2", "y")])
    b = _df(spark, [])
    res = reconcile(a, b, check_column="check_col", mode="string")
    assert res.missing_in_first.count() == 0   # nothing in b at all
    assert res.missing_in_second.count() == 2  # everything missing from b
    assert res.differing.count() == 0


def test_reconcile_both_empty(spark):
    res = reconcile(
        _df(spark, []), _df(spark, []), check_column="check_col", mode="integer"
    )
    assert res.missing_in_first.count() == 0
    assert res.missing_in_second.count() == 0
    assert res.differing.count() == 0
    # the padded report of a clean run is empty but well-formed
    summary = report_summary(res)
    assert summary.columns == ["missing_in_db1", "missing_in_db2", "differing_values"]
    assert summary.count() == 0


def test_reconcile_all_null_checks(spark):
    a = _df(spark, [("1", None), ("2", None)])
    b = _df(spark, [("1", None), ("2", "x")])
    res = reconcile(a, b, check_column="check_col", mode="string")
    # both-null drops, one-sided null reports
    assert {r.id for r in res.differing.collect()} == {"2"}


def test_shingles_of_empty_and_tiny_docs(spark):
    docs = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "one"), (4, "a b c d e f")],
        "doc_id long, text string",
    )
    sh = D.exploded_shingles(docs)
    rows = {(r.doc_id, r.sh) for r in sh.collect()}
    # empty/whitespace docs produce one empty shingle; short docs one
    # truncated shingle; 6 tokens → two 5-gram shingles
    assert (1, "") in rows
    assert (2, "") in rows
    assert (3, "one") in rows
    assert {s for d, s in rows if d == 4} == {"a b c d e", "b c d e f"}


def test_simhash_of_empty_doc_is_zero(spark):
    docs = spark.createDataFrame([(1, "")], "doc_id long, text string")
    row = docs.select(D.simhash16(D.tokens("text")).alias("sh")).collect()[0]
    assert row.sh == 0


def test_null_text_doc_survives_fingerprint(spark, tmp_path):
    """A NULL-text doc yields zero explode rows from min_shingle_md5,
    so the fingerprint join must be LEFT to keep the row (shingle_fp
    NULL), matching the DuckDB oracle's row-preserving list_min
    projection (ADVICE r7 — latent, fixtures have no NULL text)."""
    from validation_database_spark.suite.text import q_doc_fingerprint

    sf = str(tmp_path / "sf")
    spark.createDataFrame(
        [(1, "hello world this is a document", "en", "web", 30),
         (2, None, "en", "web", 0)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(f"{sf}/documents.parquet")
    out = {r.doc_id: r for r in q_doc_fingerprint(spark, sf).collect()}
    assert set(out) == {1, 2}
    assert out[2].shingle_fp is None and out[2].exact_fp is None
    assert out[1].shingle_fp is not None


def test_ann_quant_degenerate_centroid_dropped_like_oracle(spark, tmp_path):
    """ADVICE r10: a centroid whose embedding degenerates under unit
    normalization (a null element nulls the norm, so every unit
    element goes null) must be dropped by BOTH engines the same way.
    Pre-fix the oracle's null-filtered uq CTE silently dropped it
    while the Spark side's collected centroid table crashed
    the e6 cell selector's int64 np.array build with a TypeError.
    Fixtures never produce the case, so pin it on a synthetic table
    with vec_id=7 (a centroid id) carrying a null element."""
    from validation_database_spark.suite import _collect_all

    from .oracle_utils import assert_matches_oracle

    rows = []
    for vid in range(200):
        emb = [float(((vid * 31 + i * 7) % 13) - 6) for i in range(4)]
        if vid == 7:
            emb[1] = None
        rows.append((vid, emb))
    sf = str(tmp_path / "sf")
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).write.parquet(f"{sf}/embeddings.parquet")
    assert_matches_oracle(spark, _collect_all()["unit_ann_ivf_quant"], sf)


_KERNEL_SHAPES = {
    # ANN: one cell per vector, keyed by vec_id
    "vec_id": dict(
        ids=("vec_id",), query="query_id", score="s_e12",
        rows={"vec_id": [1, 2], "x": [[1, 0], [0, 1]]},
        probes={"query_id": [9], "qx": [[1, 1]]},
        self_probe={"query_id": [1], "qx": [[5, 5]]},
    ),
    # RAG: chunks indexed in several cells, keyed by (doc_id, chunk_idx),
    # with the best-reachable-cell mask (cells / arn / probed)
    "doc_chunk": dict(
        ids=("doc_id", "chunk_idx"), query="query_doc_id", score="sim_e12",
        rows={"doc_id": [1, 2], "chunk_idx": [0, 0], "x": [[1, 0], [0, 1]],
              "cells": [[7, 8], [7, 8]], "arn": [0, 0]},
        probes={"query_doc_id": [9], "qx": [[1, 1]], "probed": [[7]]},
        self_probe={"query_doc_id": [1], "qx": [[5, 5]], "probed": [[7]]},
    ),
}


@pytest.mark.parametrize("shape", sorted(_KERNEL_SHAPES))
def test_ann_quant_score_cogroup_empty_sides(shape):
    """The cogroup scorer must return a typed empty frame when either
    cogroup side is empty (Spark invokes the function for keys present
    on only one side) — for both key shapes the one kernel serves."""
    import numpy as np
    import pandas as pd

    from validation_database_spark.operators.ivf import cell_kernel

    spec = _KERNEL_SHAPES[shape]
    cols = [spec["query"], *spec["ids"], spec["score"]]
    kernel = cell_kernel(spec["ids"], spec["query"], spec["score"], 10)
    key = {"cent_id": 7, "__salt": 0}
    vecs = pd.DataFrame(spec["rows"]).assign(**key)
    probes = pd.DataFrame(spec["probes"]).assign(**key)
    empty_v = vecs.iloc[0:0]
    empty_p = probes.iloc[0:0]
    for a, b in ((empty_v, probes), (vecs, empty_p), (empty_v, empty_p)):
        out = kernel(a, b)
        assert list(out.columns) == cols
        assert len(out) == 0
        assert out[spec["score"]].dtype == np.int64
    # non-empty sanity: own-row exclusion + exact integer dots
    pad = (0,) * (len(spec["ids"]) - 1)
    full = kernel(vecs, probes)
    assert sorted(map(tuple, full.to_numpy())) == [(9, 1, *pad, 1), (9, 2, *pad, 1)]
    out = kernel(vecs, pd.DataFrame(spec["self_probe"]).assign(**key))
    # row 1 == query 1 masked; only row 2 scored
    assert sorted(map(tuple, out.to_numpy())) == [(1, 2, *pad, 5)]


def test_cell_kernel_scores_a_twice_reachable_chunk_once():
    """A chunk indexed in cells 7 (its best) and 8, probed through both
    by one query, meets that query in both cells' cogroup groups; the
    best-reachable-cell mask keeps the pair in cell 7 only."""
    import pandas as pd

    from validation_database_spark.operators.ivf import cell_kernel

    kernel = cell_kernel(("doc_id", "chunk_idx"), "query_doc_id", "sim_e12", 3)
    probes = {"query_doc_id": [9], "qx": [[1, 1]], "probed": [[8, 7]], "__salt": [0]}
    out = []
    for arn, cell in enumerate((7, 8)):
        chunk = pd.DataFrame(
            {"doc_id": [1], "chunk_idx": [4], "x": [[2, 3]], "cells": [[7, 8]],
             "arn": [arn], "cent_id": [cell], "__salt": [0]}
        )
        got = kernel(chunk, pd.DataFrame({**probes, "cent_id": [cell]}))
        out += [(cell, *row) for row in got.itertuples(index=False)]
    assert out == [(7, 9, 1, 4, 5)]


def test_topk_cells_explode_empty_centroids(spark):
    """k=0 effective centroid table (empty corpus sample) must yield
    an empty result, not a numpy reduction crash — mirrors the
    empty-seed routing rule of the hier kernel (ADVICE r8)."""
    from validation_database_spark.operators.ivf import topk_cells_explode

    df = spark.createDataFrame(
        [(1, [1, 2]), (2, [3, 4])], "vec_id long, x array<bigint>"
    )
    out = topk_cells_explode(df, "x", [], 2)
    assert out.count() == 0
    assert out.columns == ["vec_id", "x", "cent_id"]
