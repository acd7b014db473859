"""What the benchmark measures: workloads, end-to-end metrics and the
per-layer metrics of the traced run, each with the end-to-end metric and
workload it is predicted to move.

``BENCHMARK.json`` at the repository root is rendered from this module;
regenerate it with ``python3 perfbench/spec.py --write`` after editing.
"""

from __future__ import annotations

import json
import os
import sys

COMMAND = ["python3", "perfbench/run.py"]
PATHS = ["perfbench"]
#: Seconds of warm iterations per run (``--seconds``).
RUN_SECONDS = 10

WORKLOADS = {
    "recon_migrate": (
        "two large lineitem copies reconciled at fuzzy threshold 0.9: "
        "joins, the pandas-UDF compare and the report sink all carry load"
    ),
    "curate_corpus": (
        "config-driven corpus curation: classifier, line/near/semantic dedup and JSONL "
        "export; bypasses every reconciliation layer"
    ),
}

#: name → (unit, bound). All lower-is-better. The bounds are this
#: host's run-to-run noise, not a target: see README "Steadiness".
END_TO_END = {
    "warm_s": ("s", 0.25),
    "cold_s": ("s", 0.25),
    "warm_cpu_s": ("s", 0.25),
    "setup_s": ("s", 0.25),
}

# Per-layer metrics: (name, unit, better, moves, workload). ``moves`` is
# the end-to-end metric a change in this layer should move, on
# ``workload``; the other workload's prediction is "no change". Metrics
# that read a constant 0 at these input sizes (spill everywhere, shuffle
# of the broadcast joins, Python-worker CPU of JVM-only builders) stay in
# the traced run's detail report but are not listed: no optimisation can
# lower them.
_RECON, _CURATE = "recon_migrate", "curate_corpus"
_SEC, _MB, _COUNT, _RATIO = "s", "MB", "count", "ratio"
PER_LAYER: list[tuple[str, str, str, str, str]] = [
    ("session.get_spark.wall_s", _SEC, "lower", "setup_s", "all"),
    ("session.warmup_s", _SEC, "lower", "setup_s", "all"),
    ("trace.e2e_warm_s", _SEC, "lower", "warm_s", "all"),
    ("trace.e2e_peak_rss_mb", _MB, "lower", "warm_s", "all"),
    ("sources.load_table.wall_s", _SEC, "lower", "warm_s", _RECON),
    ("sources.load_table.out_rows", _COUNT, "higher", "warm_s", _RECON),
    ("keys.composite_id.self_s", _SEC, "lower", "warm_s", _RECON),
    ("config.run_validation.plan_s", _SEC, "lower", "cold_s", _RECON),
    ("curation.run_curation.plan_s", _SEC, "lower", "cold_s", _CURATE),
]


def _layer(name: str, metrics: str, moves: str, workload: str) -> None:
    units = {"shuffle_mb": _MB, "out_mb": _MB, "jobs": _COUNT, "stages": _COUNT, "scan_reruns": _COUNT,
             "broadcast": _COUNT, "udf_rows": _COUNT, "hit_ratio": _RATIO}
    for m in metrics.split():
        better = "higher" if m == "hit_ratio" else "lower"
        PER_LAYER.append((f"{name}.{m}", units.get(m, _SEC), better, moves, workload))


_layer("reconcile.missing_ids", "wall_s self_s cpu_s jobs", "warm_s", _RECON)
_layer("reconcile.join_pairs", "wall_s self_s cpu_s broadcast", "warm_cpu_s", _RECON)
_layer("compare.differing_values", "wall_s self_s py_cpu_s udf_rows hit_ratio", "warm_cpu_s", _RECON)
_layer("report.report_summary", "plan_s wall_s self_s cpu_s jobs stages scan_reruns", "warm_cpu_s", _RECON)
_layer("report.write_reports", "wall_s self_s jobs stages cpu_s out_mb", "warm_s", _RECON)
_layer("text.q_quality_classifier", "wall_s self_s cpu_s shuffle_mb", "warm_s", _CURATE)
_layer("text.q_line_dedup_rewrite", "wall_s self_s cpu_s shuffle_mb", "warm_s", _CURATE)
_layer("dedup.q_dedup_minhash_lsh", "wall_s self_s cpu_s shuffle_mb", "warm_s", _CURATE)
_layer("similarity.semantic_dedup_hier_frame", "wall_s self_s cpu_s py_cpu_s shuffle_mb", "warm_s", _CURATE)
_layer("export.export_jsonl_shards", "wall_s self_s cpu_s py_cpu_s shuffle_mb", "warm_s", _CURATE)
CURATION_STAGES = ["filter", "line_dedup", "near_dedup", "semantic_dedup"]
for _stage in CURATION_STAGES:
    PER_LAYER.append((f"curation.{_stage}.kept_ratio", _RATIO, "higher", "warm_s", _CURATE))
#: IVF serving builders, traced over the curation corpus (ROADMAP item 3
#: holds them flat while merging the IVF paths). No end-to-end workload
#: serves them, so they predict no end-to-end movement.
RAG_LAYERS = [
    "similarity.q_rag_retrieval_ivf_quant",
    "similarity.q_ann_topk",
    "similarity.q_rag_retrieval_ivf",
    "similarity.q_ann_ivf_quant",
]
for _name in RAG_LAYERS:
    quant = _name.endswith("_quant")
    _layer(_name, "plan_s wall_s cpu_s shuffle_mb jobs" + (" py_cpu_s" if quant else ""), "none", "none")
for _name in ("recall_at_k", "strong_recall", "ann_recall_at_k"):
    PER_LAYER.append((f"similarity.{_name}", _RATIO, "higher", "none", "none"))

PER_LAYER_UNITS = {name: unit for name, unit, *_ in PER_LAYER}


def benchmark_json() -> dict:
    return {
        "command": COMMAND,
        "paths": PATHS,
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": n, "why": w} for n, w in WORKLOADS.items()],
        "end_to_end": [
            {"name": n, "unit": u, "better": "lower", "bound": b} for n, (u, b) in END_TO_END.items()
        ],
        "per_layer": [{"name": n, "unit": u, "better": b} for n, u, b, *_ in PER_LAYER],
    }


def main(argv: list[str]) -> int:
    text = json.dumps(benchmark_json(), indent=2) + "\n"
    if argv == ["--write"]:
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        with open(os.path.join(root, "BENCHMARK.json"), "w") as f:
            f.write(text)
    else:
        sys.stdout.write(text)
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
