"""Config-driven corpus curation: the reference's YAML-CLI UX
(config.py:13-71 — load a YAML, run one job, print a summary) applied
to the engine's LLM-data surface.

A curation config declares the pipeline stages; each stage maps onto
an oracle-verified suite operator, and the whole job stays one lazy
DAG per stage boundary (counts are the only actions, and only when
``report_counts`` is on):

.. code-block:: yaml

    input:
      sf_dir: /root/testdata/sf0.001     # fixture layout (documents.parquet)
    stages:
      filter:
        min_chars: 100
        langs: [en, es, de, fr]
        classifier: true                 # linear quality model keep-flag
      line_dedup: true                   # C4 line dedup, drop emptied docs
      near_dedup: true                   # MinHash-LSH, drop pair losers
      semantic_dedup: true              # hierarchical SemDeDup, drop pruned
      span_corruption: true             # emit (input, target) pairs
    output:
      dir: /tmp/curated
      shards: 2
    report_counts: true

CLI: ``python -m validation_database_spark.curation <config.yaml>``.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import Any

import yaml
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .sources import load_table
from .sources.export import export_jsonl_shards
from .util import pin_scope


@dataclass
class CurationRun:
    """Stage-by-stage survivor accounting + the final frame/paths."""

    counts: dict[str, int] = field(default_factory=dict)
    result: DataFrame | None = None
    shards: list[str] = field(default_factory=list)


def load_curation_config(path: str) -> dict[str, Any]:
    with open(path) as f:
        config = yaml.safe_load(f)
    if not isinstance(config, dict):
        raise ValueError("curation config must be a mapping")
    if not isinstance(config.get("input"), dict) or "sf_dir" not in config["input"]:
        raise ValueError("curation config needs input.sf_dir")
    if "stages" not in config or not config["stages"]:
        raise ValueError("curation config needs at least one stage")
    known = {"filter", "line_dedup", "near_dedup", "semantic_dedup", "span_corruption"}
    unknown = set(config["stages"]) - known
    if unknown:
        raise ValueError(f"unknown curation stages: {sorted(unknown)}")
    return config


def run_curation(spark: SparkSession, config: dict[str, Any]) -> CurationRun:
    """Execute the configured stage chain over the input corpus.

    Every stage reuses the suite operator (same expression trees the
    DuckDB oracles check), built over the one ``documents`` frame the
    run reads; the surviving doc-id set threads through as left-semi
    joins, so each stage prunes without rewriting the upstream frames.

    With ``output.dir`` set, the build and the export run inside one
    :func:`util.pin_scope`: the stages' cached shingles, bands and
    SemDeDup routing belong to this run and are released when the
    export returns, so a later run in the same process over a
    rewritten corpus under the same path reads the new files. Without
    an output the returned ``result`` is lazy, and the pins stay until
    the host calls :func:`util.release_pins`.

    Scale note: at 100 TB each stage boundary would be materialized
    (checkpoint / intermediate table) rather than fused — partly for
    restartability, partly because the dedup stages' inverted indexes
    are worth persisting; the semi-join chaining here IS the logical
    plan either way, and swapping ``survivors`` for a written table
    between stages changes no stage's code."""
    out = config.get("output") or {}
    if not out.get("dir"):
        return _curate(spark, config)
    with pin_scope():
        run = _curate(spark, config)
        run.shards = export_jsonl_shards(
            run.result,
            os.path.join(out["dir"], "examples"),
            shards_hint=out.get("shards"),
        )
    return run


def _curate(spark: SparkSession, config: dict[str, Any]) -> CurationRun:
    """The stage chain of :func:`run_curation`, up to the lazy result."""
    from .suite.dedup import minhash_lsh_pairs
    from .suite.text import (
        line_dedup_frame,
        q_span_corruption,
        quality_classifier_frame,
    )

    sf_dir = config["input"]["sf_dir"]
    stages = config["stages"]
    report = bool(config.get("report_counts", True))
    run = CurationRun()

    docs = load_table(spark, "documents", sf_dir)
    survivors = docs.select("doc_id")
    if report:
        run.counts["input"] = survivors.count()

    if stages.get("filter"):
        fc = stages["filter"] if isinstance(stages["filter"], dict) else {}
        flt = docs
        if "min_chars" in fc:
            flt = flt.filter(F.col("n_chars") >= int(fc["min_chars"]))
        if fc.get("langs"):
            flt = flt.filter(F.col("lang").isin(*fc["langs"]))
        keep = flt.select("doc_id")
        if fc.get("classifier"):
            clf = quality_classifier_frame(docs).filter("keep").select("doc_id")
            keep = keep.join(clf, "doc_id", "left_semi")
        survivors = survivors.join(keep, "doc_id", "left_semi")
        if report:
            run.counts["filter"] = survivors.count()

    if stages.get("line_dedup"):
        cleaned = line_dedup_frame(docs).filter("clean_chars > 0").select("doc_id")
        survivors = survivors.join(cleaned, "doc_id", "left_semi")
        if report:
            run.counts["line_dedup"] = survivors.count()

    if stages.get("near_dedup"):
        losers = (
            minhash_lsh_pairs(docs)
            .select(F.col("id_b").alias("doc_id"))
            .distinct()
        )
        survivors = survivors.join(losers, "doc_id", "left_anti")
        if report:
            run.counts["near_dedup"] = survivors.count()

    if stages.get("semantic_dedup"):
        # Corpus-scale semantic dedup routes through the HIERARCHICAL
        # SemDeDup twin (measured linear-class over two decades,
        # SCALE.md round-8 slope study; the exact-Lloyd form
        # unit_semantic_dedup stays the certification baseline,
        # never the pipeline path). Embeddings
        # carry one vector per document (vec_id == doc_id in the
        # fixture layout); drop the docs the keep-rule prunes.
        # Geometry knobs: SPARK_GRAFT_SEMDEDUP_COARSE (coarse cells,
        # default 256) and SPARK_GRAFT_KMEANS_K (exact-form K cap) —
        # see README "Scale knobs".
        from .suite.similarity import semantic_dedup_hier_frame

        emb = load_table(spark, "embeddings", sf_dir).select("vec_id", "embedding")
        kept = (
            semantic_dedup_hier_frame(emb)
            .filter("keep")
            .select(F.col("vec_id").alias("doc_id"))
        )
        survivors = survivors.join(kept, "doc_id", "left_semi")
        if report:
            run.counts["semantic_dedup"] = survivors.count()

    if stages.get("span_corruption"):
        result = q_span_corruption(spark, sf_dir).join(
            survivors, "doc_id", "left_semi"
        )
    else:
        result = docs.join(survivors, "doc_id", "left_semi")
    run.result = result
    if report:
        run.counts["output"] = result.count()

    return run


def main(argv: list[str] | None = None) -> int:
    import sys

    argv = argv if argv is not None else sys.argv[1:]
    if len(argv) != 1:
        print("usage: python -m validation_database_spark.curation <config.yaml>")
        return 1
    from .session import get_spark

    config = load_curation_config(argv[0])
    spark = get_spark(app_name="curation")
    run = run_curation(spark, config)
    for stage, n in run.counts.items():
        print(f"{stage}: {n}")
    if run.shards:
        print(f"exported {len(run.shards)} shard(s)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
