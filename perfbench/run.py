"""Benchmark entry point.

    python3 perfbench/run.py --workload recon_migrate --seed 1 --seconds 10 --trace 0

Run from the repository root. The run generates the workload's inputs
from ``--seed`` (cached under ``.perfbench_work/``), starts one Spark
driver at ``local[$(nproc)]``, runs the workload cold once and then warm
for ``--seconds`` (at least three timed iterations), checks every
iteration's output against the generator's ground truth, and prints one
JSON object as the last line of stdout: ``{"correct", "attempted",
"failed", "metrics"}``. With ``--trace 0`` the metrics are the
end-to-end metrics of ``spec.py``; with ``--trace 1`` they are the
per-layer metrics of the traced run. A readable table of every metric,
and the full per-layer detail, go to stderr and
``.perfbench_work/reports/``. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
#: Extra fresh-process set-ups per run; with the run's own that makes
#: the samples ``setup_s`` takes the median of.
SETUP_PROBES = 1
#: Iterations after the cold one that run (and are checked) but are not
#: timed: the JVM's JIT compiler is still busiest right after the first.
WARMUP_ITERATIONS = 1
#: Fewest timed warm iterations of a run. The window alone would time
#: two iterations on a slow host and three on a fast one, and warm
#: iterations still get cheaper as the JIT compiler catches up, so a
#: median over a varying count would follow the host's speed.
MIN_WARM_ITERATIONS = 3
#: Warm iterations of the traced run's end-to-end measurement.
TRACE_WARM_ITERATIONS = 2


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def process_age_s() -> float:
    """Seconds since this process was started (``/proc`` clock ticks)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def prepare_env() -> dict[str, str]:
    """Point every scratch location of Spark, the JVM and Python at
    private directories under the work dir, and make the engine
    importable by the driver and by the Python workers the JVM forks."""
    pid = str(os.getpid())
    dirs = {
        "local": os.path.join(WORK, "spark-local", pid),
        "tmp": os.path.join(WORK, "tmp", pid),
    }
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    pp = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + pp if pp else "")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(WORK, "warehouse")
    os.environ["TMPDIR"] = dirs["tmp"]
    # spark-submit's own launcher JVM, which starts before the driver's
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_options(dirs["tmp"])
    sys.path.insert(0, ROOT)
    return dirs


def jvm_options(tmp: str) -> str:
    """Keep a JVM's scratch files (native-library extraction, perf data)
    inside the checkout."""
    return f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def cleanup_env(dirs: dict[str, str]) -> None:
    for d in dirs.values():
        shutil.rmtree(d, ignore_errors=True)


# --- session -------------------------------------------------------------


def session_conf(tmp: str, event_log_dir: str | None) -> dict[str, str]:
    conf = {
        "spark.driver.extraJavaOptions": jvm_options(tmp),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log_dir:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def warmup(spark, tmp: str) -> None:
    """First parquet footer read, and the first Python workers: one per
    core, each importing pandas and PyArrow as the engine's Arrow UDFs do."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    path = os.path.join(tmp, "warmup.parquet")
    pq.write_table(pa.table({"x": list(range(64))}), path)

    def inc(s):
        return s + 1

    # real classes, not the strings postponed annotations would leave:
    # pandas_udf reads the hints to pick the UDF kind
    inc.__annotations__ = {"s": pd.Series, "return": pd.Series}
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    (
        spark.read.parquet(path)
        .repartition(cores)
        .select(F.pandas_udf(inc, "long")("x").alias("y"))
        .agg(F.sum("y"))
        .collect()
    )


def setup_session(dirs: dict[str, str], event_log_dir: str | None = None):
    """Process start → warmed session. Returns (spark, timings)."""
    from validation_database_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", extra_conf=session_conf(dirs["tmp"], event_log_dir))
    t1 = time.perf_counter()
    warmup(spark, dirs["tmp"])
    t2 = time.perf_counter()
    return spark, {"setup_s": process_age_s(), "get_spark_s": t1 - t0, "warmup_s": t2 - t1}


def shutdown(spark) -> None:
    """Stop Spark, end the gateway JVM and wait for every child to exit."""
    import procstat
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    for pid in procstat.tree()[1:]:
        try:
            os.kill(pid, 9)
            os.waitpid(pid, 0)
        except (ProcessLookupError, ChildProcessError):
            pass


def setup_probe() -> int:
    """``--setup-probe``: one fresh-process set-up, reported as JSON."""
    dirs = prepare_env()
    try:
        spark, timings = setup_session(dirs)
        shutdown(spark)
    finally:
        cleanup_env(dirs)
    print(json.dumps(timings))
    return 0


def probe_setup_once() -> dict:
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--setup-probe"],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=150,
        check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


# --- workloads -----------------------------------------------------------


def iterate(spark, inputs, sampler, out_dir: str) -> tuple[float, float, bool]:
    """One timed iteration, then its check: (wall s, tree CPU s, ok)."""
    import workloads as W
    from validation_database_spark.util import release_pins

    run, check = W.BY_NAME[inputs.workload]
    shutil.rmtree(out_dir, ignore_errors=True)
    c0 = sampler.cpu_seconds()
    t0 = time.perf_counter()
    ok = True
    try:
        run(spark, inputs, out_dir)
    except Exception:  # a failed iteration is counted, not fatal
        log("iteration failed:\n" + traceback.format_exc())
        ok = False
    wall = time.perf_counter() - t0
    cpu = sampler.cpu_seconds() - c0
    release_pins()
    if ok:
        try:
            check(inputs, out_dir)
        except W.CheckFailed as e:
            log(f"output check failed: {e}")
            ok = False
    shutil.rmtree(out_dir, ignore_errors=True)
    log(f"iteration {wall:.3f}s wall, {cpu:.2f}s CPU, {'ok' if ok else 'FAILED'}")
    return wall, cpu, ok


def measure(spark, inputs, sampler, seconds: float, min_warm: int = 1) -> dict:
    """A cold iteration, ``WARMUP_ITERATIONS`` untimed ones, then warm
    iterations for ``seconds`` (at least ``min_warm``)."""
    out_dir = os.path.join(WORK, "out", str(os.getpid()))
    cold = iterate(spark, inputs, sampler, out_dir)
    warmup = [iterate(spark, inputs, sampler, out_dir) for _ in range(WARMUP_ITERATIONS)]
    warm = []
    t0 = time.perf_counter()
    while len(warm) < min_warm or time.perf_counter() - t0 < seconds:
        warm.append(iterate(spark, inputs, sampler, out_dir))
    runs = [cold, *warmup, *warm]
    return {
        "cold_s": cold[0],
        "warm": [w[0] for w in warm],
        "warm_cpu": [w[1] for w in warm],
        "attempted": len(runs),
        "failed": sum(not ok for _, _, ok in runs),
    }


def quartiles(xs: list[float]) -> list[float]:
    return statistics.quantiles(xs, n=4) if len(xs) > 1 else [xs[0]] * 3


# --- modes ---------------------------------------------------------------


def run_e2e(args, dirs) -> dict:
    import gen
    import procstat

    spark, timings = setup_session(dirs)
    samples = [timings["setup_s"]]
    for _ in range(SETUP_PROBES):
        samples.append(probe_setup_once()["setup_s"])
    inputs = gen.generate(args.workload, args.seed, WORK)
    log(f"inputs {args.workload} seed {args.seed}: {inputs.gen_s:.2f}s ({inputs.root})")
    # started after the set-up probes, whose JVMs are not the workload's
    with procstat.TreeSampler() as sampler:
        m = measure(spark, inputs, sampler, args.seconds, min_warm=MIN_WARM_ITERATIONS)
        sampler.sample()
    shutdown(spark)
    q = quartiles(m["warm"])
    log(
        f"setup samples {[round(s, 3) for s in samples]}; warm n={len(m['warm'])} "
        f"q1/median/q3 {q[0]:.3f}/{q[1]:.3f}/{q[2]:.3f}s; peak RSS {sampler.peak_rss_mb:.0f} MB"
    )
    metrics = {
        "warm_s": statistics.median(m["warm"]),
        "cold_s": m["cold_s"],
        "warm_cpu_s": statistics.median(m["warm_cpu"]),
        "setup_s": statistics.median(samples),
    }
    record = {"workload": args.workload, "seed": args.seed, **metrics, "warm_all": m["warm"]}
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results", f"{args.workload}.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")
    return {"attempted": m["attempted"], "failed": m["failed"], "metrics": metrics}


def untraced_warm_s(workload: str) -> float | None:
    """Median ``warm_s`` of the untraced runs recorded in this checkout."""
    path = os.path.join(WORK, "results", f"{workload}.jsonl")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        values = [json.loads(line)["warm_s"] for line in f if line.strip()]
    return statistics.median(values) if values else None


def run_traced(args, dirs) -> dict:
    import gen
    import procstat
    import spec
    import tracing as T
    import workloads as W

    log_dir = os.path.join(WORK, "eventlog", str(os.getpid()))
    os.makedirs(log_dir, exist_ok=True)
    spark, timings = setup_session(dirs, event_log_dir=log_dir)
    app_id = spark.sparkContext.applicationId
    inputs = {w: gen.generate(w, args.seed, WORK) for w in spec.WORKLOADS}
    out_dir = os.path.join(WORK, "out", str(os.getpid()))
    with procstat.TreeSampler() as sampler:
        tr = T.Tracer(spark, sampler)
        tr.values["session.get_spark.wall_s"] = timings["get_spark_s"]
        tr.values["session.warmup_s"] = timings["warmup_s"]
        tr.group("e2e")
        m = measure(spark, inputs[args.workload], sampler, 0, min_warm=TRACE_WARM_ITERATIONS)
        tr.values["trace.e2e_warm_s"] = statistics.median(m["warm"])
        sampler.sample()
        tr.values["trace.e2e_peak_rss_mb"] = sampler.peak_rss_mb
        attempted, failed = m["attempted"], m["failed"]
        tours = [
            ("recon", lambda: T.recon_tour(tr, inputs["recon_migrate"], out_dir)),
            ("curate", lambda: T.curate_tour(tr, inputs["curate_corpus"], out_dir)),
            ("rag", lambda: T.rag_tour(tr, inputs["curate_corpus"])),
        ]
        for name, tour in tours:
            shutil.rmtree(out_dir, ignore_errors=True)
            attempted += 1
            t0 = time.perf_counter()
            try:
                tour()
            except W.CheckFailed as e:
                log(f"{name} tour output check failed: {e}")
                failed += 1
            log(f"{name} tour {time.perf_counter() - t0:.1f}s")
            shutil.rmtree(out_dir, ignore_errors=True)
    shutdown(spark)
    values = tr.finish(os.path.join(log_dir, app_id))
    shutil.rmtree(log_dir, ignore_errors=True)

    base = untraced_warm_s(args.workload)
    detail = {
        **values,
        "trace.untraced_warm_s": base,
        "trace.overhead_ratio": values["trace.e2e_warm_s"] / base if base else None,
    }
    os.makedirs(os.path.join(WORK, "reports"), exist_ok=True)
    report = os.path.join(WORK, "reports", f"trace-{args.workload}-s{args.seed}.json")
    with open(report, "w") as f:
        json.dump(detail, f, indent=1, sort_keys=True)
    log(f"full per-layer detail: {report}")
    metrics = {name: values[name] for name in spec.PER_LAYER_UNITS}
    return {"attempted": attempted, "failed": failed, "metrics": metrics}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--setup-probe", action="store_true", help=argparse.SUPPRESS)
    args = p.parse_args(argv)
    if args.setup_probe:
        return setup_probe()

    import spec

    if args.workload not in spec.WORKLOADS:
        p.error(f"--workload must be one of {sorted(spec.WORKLOADS)}")
    dirs = prepare_env()
    try:
        out = (run_traced if args.trace else run_e2e)(args, dirs)
    finally:
        cleanup_env(dirs)
    result = result_json(out, trace=bool(args.trace))
    for name, m in result["metrics"].items():
        log(f"{name:<52} {m['value']:>14.6f} {m['unit']}")
    print(json.dumps(result))
    return 0


def result_json(out: dict, trace: bool) -> dict:
    """The benchmark's result object: every end-to-end metric (or, traced,
    every per-layer metric) of ``spec.py`` with its unit."""
    import spec

    units = spec.PER_LAYER_UNITS if trace else {n: u for n, (u, _) in spec.END_TO_END.items()}
    if set(out["metrics"]) != set(units):
        raise ValueError(f"metrics differ from spec: {sorted(set(out['metrics']) ^ set(units))}")
    return {
        "correct": out["failed"] == 0,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": {n: {"value": out["metrics"][n], "unit": u} for n, u in units.items()},
    }


if __name__ == "__main__":
    raise SystemExit(main())
