"""Config-driven curation job: the YAML CLI UX applied to the corpus
pipeline — stage chain executes, counts are monotone non-increasing,
shards land on disk, and bad configs fail loudly."""

from __future__ import annotations

import glob

import pytest
import yaml

from validation_database_spark.curation import (
    load_curation_config,
    run_curation,
)


def _write(tmp_path, cfg):
    p = tmp_path / "curation.yaml"
    p.write_text(yaml.safe_dump(cfg))
    return str(p)


def test_full_chain_runs_and_prunes_monotonically(spark, sf_dir, tmp_path):
    cfg = load_curation_config(
        _write(
            tmp_path,
            {
                "input": {"sf_dir": sf_dir},
                "stages": {
                    "filter": {
                        "min_chars": 100,
                        "langs": ["en", "es", "de", "fr"],
                        "classifier": True,
                    },
                    "line_dedup": True,
                    "near_dedup": True,
                    "semantic_dedup": True,
                    "span_corruption": True,
                },
                "output": {"dir": str(tmp_path / "out"), "shards": 2},
            },
        )
    )
    run = run_curation(spark, cfg)
    c = run.counts
    assert (
        c["input"]
        >= c["filter"]
        >= c["line_dedup"]
        >= c["near_dedup"]
        >= c["semantic_dedup"]
    )
    assert c["output"] == c["semantic_dedup"]
    assert c["output"] > 0
    # span-corruption output schema, exported as gzip JSONL
    assert {"doc_id", "input_md5", "target_md5"} <= set(run.result.columns)
    assert run.shards
    assert glob.glob(str(tmp_path / "out" / "examples" / "*.json.gz"))


def test_stage_subset_and_count_skip(spark, sf_dir, tmp_path):
    cfg = load_curation_config(
        _write(
            tmp_path,
            {
                "input": {"sf_dir": sf_dir},
                "stages": {"near_dedup": True},
                "report_counts": False,
            },
        )
    )
    run = run_curation(spark, cfg)
    assert run.counts == {}  # no count actions when reporting is off
    assert run.result.count() > 0
    assert run.shards == []  # no output dir -> no export


def test_unknown_stage_rejected(tmp_path):
    with pytest.raises(ValueError, match="unknown curation stages"):
        load_curation_config(
            _write(
                tmp_path,
                {"input": {"sf_dir": "x"}, "stages": {"frobnicate": True}},
            )
        )


def test_empty_or_non_mapping_config_raises_valueerror(tmp_path):
    """Regression (round-4 advisory): an empty YAML file parses to
    None and a top-level list to a list — both must raise the
    DOCUMENTED ValueError, not a TypeError from the key checks."""
    empty = tmp_path / "empty.yaml"
    empty.write_text("")
    with pytest.raises(ValueError, match="must be a mapping"):
        load_curation_config(str(empty))
    listy = tmp_path / "list.yaml"
    listy.write_text("- not\n- a\n- mapping\n")
    with pytest.raises(ValueError, match="must be a mapping"):
        load_curation_config(str(listy))


def test_semantic_dedup_stage_routes_through_hier_scale_path(
    spark, sf_dir, tmp_path
):
    """The curation ``semantic_dedup`` stage must prune exactly the
    docs the HIERARCHICAL SemDeDup operator (the linear-at-scale
    twin, SCALE.md round 7) marks keep=false on the raw embeddings —
    proving the pipeline path is the scale form, not the exact-Lloyd
    certification baseline."""
    from validation_database_spark.sources import load_table
    from validation_database_spark.suite.similarity import (
        semantic_dedup_hier_frame,
    )

    cfg = load_curation_config(
        _write(
            tmp_path,
            {
                "input": {"sf_dir": sf_dir},
                "stages": {"semantic_dedup": True},
            },
        )
    )
    run = run_curation(spark, cfg)
    emb = load_table(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    kept = {
        r.vec_id
        for r in semantic_dedup_hier_frame(emb).filter("keep").collect()
    }
    doc_ids = {
        r.doc_id
        for r in load_table(spark, "documents", sf_dir)
        .select("doc_id")
        .collect()
    }
    out_ids = {r.doc_id for r in run.result.select("doc_id").collect()}
    assert out_ids == doc_ids & kept
    assert run.counts["semantic_dedup"] == len(out_ids)


def test_rewritten_corpus_gets_a_fresh_curation(spark, sf_dir, tmp_path):
    """Two exporting runs in one process over the same corpus path
    curate what the files hold at each run: the second run, over a
    corpus rewritten so every text is identical, keeps one document,
    as a fresh process does, instead of reusing the first run's cached
    shingles and bands; and the runs leave nothing cached behind."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from validation_database_spark import util

    util.release_pins()
    spark.catalog.clearCache()
    corpus = tmp_path / "corpus"
    corpus.mkdir()
    docs = pq.read_table(f"{sf_dir}/documents.parquet")
    pq.write_table(docs, str(corpus / "documents.parquet"))
    cfg = {
        "input": {"sf_dir": str(corpus)},
        "stages": {"near_dedup": True},
        "output": {"dir": str(tmp_path / "out")},
        "report_counts": False,
    }

    def exported():
        return spark.read.json(str(tmp_path / "out" / "examples")).select("doc_id")

    run_curation(spark, cfg)
    assert exported().count() > 1
    same = pa.array([docs.column("text")[0].as_py()] * docs.num_rows)
    pq.write_table(
        docs.set_column(docs.schema.get_field_index("text"), "text", same),
        str(corpus / "documents.parquet"),
    )
    run_curation(spark, cfg)
    assert [r.doc_id for r in exported().collect()] == [min(docs.column("doc_id").to_pylist())]
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    assert not util._PINNED
