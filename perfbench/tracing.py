"""Per-layer tracing: time each layer's public call, materialise its output
on its own, and attribute Spark's task metrics to it by job group.

A layer's ``plan_s`` is the lazy public call itself; ``wall_s`` is the
time to noop-materialise its output (which recomputes everything
upstream), and ``self_s`` is ``wall_s`` minus the largest ``wall_s`` of
the layers it consumes. ``jobs``, ``stages``, ``cpu_s``, ``gc_s``,
``shuffle_mb``, ``spill_mb``, ``out_mb`` and ``scan_reruns`` come from
the event log (``eventlog.py``); ``py_cpu_s`` is Python-worker CPU read
from ``/proc`` around the materialisation.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

import eventlog
import procstat
import spec
import workloads as W
from gen import Inputs


@dataclass
class Layer:
    plan_s: float | None = None
    wall_s: float | None = None
    py_cpu_s: float | None = None
    upstream: tuple[str, ...] = ()


def self_time(layers: dict[str, Layer], name: str) -> float:
    """``wall_s`` of ``name`` minus the largest ``wall_s`` upstream of it."""
    layer = layers[name]
    up = [layers[u].wall_s for u in layer.upstream if layers[u].wall_s is not None]
    return layer.wall_s - max(up, default=0.0)


@dataclass
class Tracer:
    spark: object
    sampler: procstat.TreeSampler
    layers: dict[str, Layer] = field(default_factory=dict)
    values: dict[str, float] = field(default_factory=dict)

    def group(self, name: str) -> None:
        self.spark.sparkContext.setJobGroup(name, name)

    def plan(self, name: str, fn):
        """Time the lazy public call ``fn()``; its own jobs (schema
        inference, file listing) go to ``<name>#plan``."""
        self.group(name + "#plan")
        t0 = time.perf_counter()
        out = fn()
        self.layers.setdefault(name, Layer()).plan_s = time.perf_counter() - t0
        return out

    def call(self, name: str, fn, upstream: tuple[str, ...] = ()):
        """Time ``fn()``, which executes the layer (a sink or materialisation)."""
        self.group(name)
        py0 = self.sampler.py_cpu_seconds()
        t0 = time.perf_counter()
        out = fn()
        layer = self.layers.setdefault(name, Layer())
        layer.wall_s = time.perf_counter() - t0
        layer.py_cpu_s = self.sampler.py_cpu_seconds() - py0
        layer.upstream = upstream
        self.group("aux")
        return out

    def materialise(self, name: str, frames, upstream: tuple[str, ...] = ()) -> None:
        def noop():
            for df in frames:
                df.write.format("noop").mode("overwrite").save()

        self.call(name, noop, upstream)

    def finish(self, log_path: str) -> dict[str, float]:
        """Merge the event-log totals and return every ``layer.metric``."""
        stats = eventlog.parse(log_path)
        out = dict(self.values)
        for name, layer in self.layers.items():
            if layer.plan_s is not None:
                out[f"{name}.plan_s"] = layer.plan_s
            if layer.wall_s is None:
                continue
            g = stats.get(name, eventlog.GroupStats())
            out.update(
                {
                    f"{name}.wall_s": layer.wall_s,
                    f"{name}.self_s": self_time(self.layers, name),
                    f"{name}.py_cpu_s": layer.py_cpu_s,
                    f"{name}.cpu_s": g.cpu_s,
                    f"{name}.gc_s": g.gc_s,
                    f"{name}.jobs": g.jobs,
                    f"{name}.stages": g.stages,
                    f"{name}.tasks": g.tasks,
                    f"{name}.failed_tasks": g.failed_tasks,
                    f"{name}.shuffle_mb": g.shuffle_write_mb,
                    f"{name}.shuffle_read_mb": g.shuffle_read_mb,
                    f"{name}.in_mb": g.input_mb,
                    f"{name}.spill_mb": g.spill_mb,
                    f"{name}.out_mb": g.output_mb,
                    f"{name}.out_rows": g.input_rows,
                    f"{name}.scan_reruns": g.scan_stages,
                    f"{name}.broadcast": g.broadcast_joins,
                }
            )
        return out


# --- layer tours ---------------------------------------------------------


def recon_tour(tr: Tracer, inputs: Inputs, out_dir: str) -> None:
    """The layers ``config.run_validation`` chains, called one by one."""
    from pyspark.sql import functions as F

    from validation_database_spark.config import run_validation
    from validation_database_spark.operators.compare import differing_values
    from validation_database_spark.operators.keys import composite_id
    from validation_database_spark.operators.reconcile import (
        ReconcileResult,
        join_pairs,
        missing_ids,
    )
    from validation_database_spark.operators.report import report_summary, write_reports
    from validation_database_spark.sources.registry import load_table

    spark = tr.spark
    cfg = W.recon_config(inputs, out_dir)
    db1, db2 = cfg["databases"]
    check, keys, table = cfg["check_column"], cfg["unique_key"], cfg[f"{db1}_table_name"]
    c1, c2 = f"{check}_{db1}", f"{check}_{db2}"

    tr.plan("config.run_validation", lambda: run_validation(spark, {**cfg, "output": None}))

    raw = tr.plan(
        "sources.load_table",
        lambda: [load_table(spark, table, cfg[f"{db}_source"]["path"]) for db in (db1, db2)],
    )
    # materialise only the columns the validation reads, as its scans do
    tr.materialise("sources.load_table", [df.select(*keys, check) for df in raw])
    first, second = tr.plan(
        "keys.composite_id",
        lambda: [df.select(composite_id(keys).alias("id"), F.col(check)) for df in raw],
    )
    tr.materialise("keys.composite_id", [first, second], ("sources.load_table",))

    m1, m2 = tr.plan("reconcile.missing_ids", lambda: missing_ids(first, second))
    tr.materialise("reconcile.missing_ids", [m1, m2], ("keys.composite_id",))
    pairs = tr.plan("reconcile.join_pairs", lambda: join_pairs(first, second, check, db1, db2))
    tr.materialise("reconcile.join_pairs", [pairs], ("keys.composite_id",))
    diff = tr.plan(
        "compare.differing_values",
        lambda: differing_values(pairs, c1, c2, cfg["data_type"], threshold=float(cfg["threshold"])),
    )
    tr.materialise("compare.differing_values", [diff], ("reconcile.join_pairs",))

    result = ReconcileResult(m1, m2, diff, db1, db2, check)
    summary = tr.plan("report.report_summary", lambda: report_summary(result, render="dict"))
    tr.materialise(
        "report.report_summary", [summary], ("reconcile.missing_ids", "compare.differing_values")
    )
    prefix = os.path.join(out_dir, "report.csv")
    tr.call(
        "report.write_reports",
        lambda: write_reports(result, prefix, single_file=True),
        ("report.report_summary",),
    )
    W.check_recon(inputs, out_dir)

    # rows handed to the fuzzy UDF: the null-safe-unequal candidates
    # (the prefilter differing_values applies before the UDF)
    udf_rows = pairs.filter(~F.col(c1).cast("string").eqNullSafe(F.col(c2).cast("string"))).count()
    reported = diff.count()
    tr.values["compare.differing_values.udf_rows"] = udf_rows
    tr.values["compare.differing_values.hit_ratio"] = reported / udf_rows if udf_rows else 0.0


def curate_tour(tr: Tracer, inputs: Inputs, out_dir: str) -> None:
    """The suite builders ``curation.run_curation`` composes, one by one,
    then the export sink over the composed result."""
    from validation_database_spark.curation import run_curation
    from validation_database_spark.sources.export import export_jsonl_shards
    from validation_database_spark.sources.registry import load_table
    from validation_database_spark.suite.dedup import q_dedup_minhash_lsh
    from validation_database_spark.suite.similarity import semantic_dedup_hier_frame
    from validation_database_spark.suite.text import q_line_dedup_rewrite, q_quality_classifier
    from validation_database_spark.util import release_pins

    spark = tr.spark
    sf_dir = os.path.join(inputs.root, "corpus")
    cfg = W.curation_config(inputs, None)

    run = tr.plan("curation.run_curation", lambda: run_curation(spark, cfg))
    docs = load_table(spark, "documents", sf_dir)
    tr.materialise("corpus.documents", [docs])
    emb = load_table(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    tr.materialise("corpus.embeddings", [emb])

    builders = [
        ("text.q_quality_classifier", lambda: q_quality_classifier(spark, sf_dir), "corpus.documents"),
        ("text.q_line_dedup_rewrite", lambda: q_line_dedup_rewrite(spark, sf_dir), "corpus.documents"),
        ("dedup.q_dedup_minhash_lsh", lambda: q_dedup_minhash_lsh(spark, sf_dir), "corpus.documents"),
        ("similarity.semantic_dedup_hier_frame", lambda: semantic_dedup_hier_frame(emb), "corpus.embeddings"),
    ]
    for name, build, up in builders:
        df = tr.plan(name, build)
        tr.materialise(name, [df], (up,))
        release_pins()

    tr.call(
        "export.export_jsonl_shards",
        lambda: export_jsonl_shards(run.result, os.path.join(out_dir, "examples"), shards_hint=2),
        tuple(name for name, _, _ in builders),
    )
    release_pins()
    W.check_curate(inputs, out_dir)

    tr.group("aux")
    counts = run_curation(spark, {**cfg, "report_counts": True}).counts
    release_pins()
    prev = counts["input"]
    for stage in spec.CURATION_STAGES:
        tr.values[f"curation.{stage}.kept_ratio"] = counts[stage] / prev if prev else 0.0
        prev = counts[stage]


def rag_tour(tr: Tracer, inputs: Inputs) -> None:
    """The IVF serving builders over the corpus, and served recall
    against the brute-force truth."""
    from validation_database_spark.suite import similarity as S
    from validation_database_spark.util import release_pins

    spark = tr.spark
    sf_dir = os.path.join(inputs.root, "corpus")
    served = {}
    for layer in spec.RAG_LAYERS:
        name = layer.split(".", 1)[1]
        df = tr.plan(layer, lambda: getattr(S, name)(spark, sf_dir))
        served[name] = tr.call(layer, df.collect)
        release_pins()
    tr.group("aux")
    exact = W.rag_truth(spark, inputs)
    mean, strong = W.rag_recall(served["q_rag_retrieval_ivf_quant"], exact)
    tr.values["similarity.recall_at_k"] = mean
    tr.values["similarity.strong_recall"] = strong
    tr.values["similarity.ann_recall_at_k"] = W.ann_recall(served["q_ann_topk"])
    W.check_rag(inputs, {"rag": served["q_rag_retrieval_ivf_quant"], "ann": served["q_ann_topk"]}, exact)
