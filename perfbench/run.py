"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --smoke            # every workload, tiny sizes

Run from the repository root. Each invocation runs one workload in a
fresh worker process (``worker.py``) with its own input, output,
checkpoint, store, model and temp directories under
``.perfbench_runs/``, removed afterwards. This process watches the
worker's whole process tree (the JVM and the Python workers included)
for its resident-memory high-water mark up to the end of the timed
window (the output checks that follow are not counted), prints every metric by name
with its unit and sample count, and prints as its last line one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``, the
end-to-end metrics with ``--trace 0`` and the per-layer metrics with
``--trace 1``.

Exit status: 0 when the outputs checked out, 1 when a check failed or
the worker broke, 2 when the program under test is not found.
"""

from __future__ import annotations

import sys

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout

import argparse
import json
import os
import shutil
import signal
import subprocess
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from tracing import group_pids, tree_rss_mb  # noqa: E402

PKG = "real_time_news_sentiment_classification_and_dashboard_using_pyspark_spark"
WORKLOADS = ("backfill", "live_feed", "dedup_index", "catalog")
TIMEOUT_S = 170  # one workload; the smoke run gets SMOKE_TIMEOUT_S
SMOKE_TIMEOUT_S = 400
# JVM heap cap: the inputs are small, and a capped heap keeps the
# memory high-water mark repeatable and the host's memory free.
DRIVER_MEMORY = "2g"
UNITS = {"setup_s": "s", "peak_rss_mb": "MB"}
LAYER_UNITS = {
    "setup.wall_s": "s",
    "setup.warmup_s": "s",
    "cpu.ms_per_item": "ms",
    "wall.items_per_s": "1/s",
    "wall.latency_s_p50": "s",
    "wall.latency_s_p90": "s",
    "sources.articles.offset_ms_p50": "ms",
    "sources.articles.rows_per_batch": "count",
    "pipeline.kernel_cpu_s_per_10k": "s",
    "pipeline.rows_kept_ratio": "1",
    "streaming.pipeline.add_batch_ms_p50": "ms",
    "streaming.pipeline.commit_ms_p50": "ms",
    "streaming.pipeline.jobs_per_batch": "count",
    "streaming.pipeline.files_written_per_batch": "count",
    "streaming.pipeline.busy_share": "1",
    "serving.jobs_per_refresh": "count",
    "serving.files_listed_per_refresh": "count",
    "serving.refresh_s_p50": "s",
    "streaming.dedup_index.fold_s_p50": "s",
    "streaming.dedup_index.finalize_s": "s",
    "streaming.dedup_index.jobs_per_fold": "count",
    "streaming.dedup_index.bytes_written_per_doc": "B",
    "plans.dedup_queries.shingle_cpu_s": "s",
    "operators.stream_dedup.probe_s_p50": "s",
    "operators.stream_dedup.candidates_per_doc": "count",
    "operators.stream_dedup.verified_ratio": "1",
    "plans.build_s": "s",
    "plans.exec_s": "s",
    "plans.build_jobs": "count",
    "plans.exec_jobs": "count",
    "plans.shuffle_bytes": "B",
    "sources.tables.read_calls": "count",
    "sources.tables.read_s": "s",
    "jvm.gc_s": "s",
    "jvm.heap_peak_mb": "MB",
}


def unit_of(metric: str) -> str:
    """Unit of an end-to-end or per-layer metric; per-query catalog
    metrics ``plans.<query>.<m>`` share the unit of ``plans.<m>``."""
    if metric in UNITS:
        return UNITS[metric]
    if metric in LAYER_UNITS:
        return LAYER_UNITS[metric]
    return LAYER_UNITS["plans." + metric.rsplit(".", 1)[1]]


def load_spec() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def _kill_group(pgid: int) -> None:
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        pass


def run_worker(args, root: str, run_dir: str) -> tuple[dict | None, float, str]:
    env = dict(os.environ)
    env.update(
        {
            "PYTHONPATH": os.pathsep.join(filter(None, [root, env.get("PYTHONPATH")])),
            "PYTHONDONTWRITEBYTECODE": "1",
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
            "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
            "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
            "SPARK_GRAFT_SHINGLE_DIR": os.path.join(run_dir, "shingles"),
            "SPARK_GRAFT_DERIVED_DIR": os.path.join(run_dir, "derived"),
            "SPARK_GRAFT_MODEL_DIR": os.path.join(run_dir, "models"),
            "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
            "TMPDIR": os.path.join(run_dir, "tmp"),
        }
    )
    for d in ("tmp", "local", "models"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    out = os.path.join(run_dir, "result.json")
    mark = os.path.join(run_dir, "window_end")
    cmd = [
        sys.executable,
        os.path.join(HERE, "worker.py"),
        "--workload", "all" if args.smoke else args.workload,
        "--seed", str(args.seed),
        "--seconds", str(args.seconds),
        "--trace", str(args.trace),
        "--workdir", os.path.join(run_dir, "work"),
        "--out", out,
        "--mark", mark,
    ] + (["--smoke"] if args.smoke else []) + (["--files-per-s", str(args.files_per_s)] if args.files_per_s else [])
    log_path = os.path.join(run_dir, "worker.log")
    peak, peak_by = 0.0, {}
    with open(log_path, "wb") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log, stderr=subprocess.STDOUT, start_new_session=True)
        deadline = time.time() + (SMOKE_TIMEOUT_S if args.smoke else TIMEOUT_S)
        try:
            while proc.poll() is None:
                if not os.path.exists(mark):
                    rss, by = tree_rss_mb(proc.pid)
                    if rss > peak:
                        peak, peak_by = rss, by
                if time.time() > deadline:
                    break
                time.sleep(0.1)
        finally:
            _kill_group(proc.pid)  # the worker's session: JVM and Python workers
            proc.wait()
            for _ in range(100):
                if not group_pids(proc.pid):
                    break
                time.sleep(0.05)
    with open(log_path, "rb") as fh:
        tail = fh.read()[-4000:].decode("utf-8", "replace")
    if proc.returncode != 0 or not os.path.exists(out):
        return None, peak, tail
    with open(out, encoding="utf-8") as fh:
        result = json.load(fh)
    for r in result.values():
        r["notes"].append("peak memory by process: " + ", ".join(f"{k} {v:.0f} MB" for k, v in sorted(peak_by.items())))
    return result, peak, tail


def report(result: dict, peak: float, trace: int, smoke: bool) -> dict:
    """Print the human-readable lines; return the final JSON object."""
    attempted = failed = 0
    metrics: dict = {}
    problems: list[str] = []
    for name, r in result.items():
        r["e2e"]["peak_rss_mb"] = peak
        r["samples"]["peak_rss_mb"] = 1
        attempted += r["attempted"]
        failed += r["failed"]
        problems += r["problems"]
        print(f"== {name}")
        for k, v in sorted(r["e2e"].items()):
            print(f"  {k:<18} {v:14.4f} {UNITS[k]:<4} n={r['samples'][k]}")
        print(f"  {'error_ratio':<18} {r['failed'] / max(1, r['attempted']):14.4f} 1    n={r['attempted']}")
        for note in r["notes"]:
            print(f"  {note}")
        if trace:
            for k, v in sorted(r["layer"].items()):
                print(f"  {k:<55} {v:16.4f} {unit_of(k)}")
        chosen = r["layer"] if trace else r["e2e"]
        prefix = f"{name}." if smoke else ""
        for k, v in chosen.items():
            metrics[prefix + k] = v
    for p in problems:
        print(f"CHECK FAILED: {p}")
    # late operations count as failed; only a wrong output makes the run incorrect
    return {"correct": not problems, "attempted": max(1, attempted), "failed": failed, "metrics": metrics}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=None)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="run every workload at a tiny size")
    ap.add_argument("--files-per-s", type=float, default=None, help="live_feed offered load (capacity sweeps)")
    args = ap.parse_args()
    if not args.smoke and not args.workload:
        ap.error("--workload is required unless --smoke is given")
    root = os.path.dirname(HERE)
    if not os.path.isfile(os.path.join(root, PKG, "__init__.py")):
        print(f"error: the package {PKG} is not in {root}", file=sys.stderr)
        return 2
    spec = load_spec()
    if args.seconds is None:
        args.seconds = 2 if args.smoke else spec["run_seconds"]
    runs = os.path.join(root, ".perfbench_runs")
    run_dir = os.path.join(runs, f"{args.workload or 'smoke'}-{args.seed}-{os.getpid()}")
    os.makedirs(run_dir)
    try:
        result, peak, tail = run_worker(args, root, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        if not os.listdir(runs):
            os.rmdir(runs)
    if result is None:
        print(tail, file=sys.stderr)
        print("error: the benchmark worker failed", file=sys.stderr)
        return 1
    final = report(result, peak, args.trace, args.smoke)
    if args.workload in {w["name"] for w in spec["workloads"]}:
        # exactly the declared metrics; a layer the workload does not use reads 0
        wanted = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]
        final["metrics"] = {k: final["metrics"].get(k, 0.0) for k in wanted}
    final["metrics"] = {
        k: {"value": v, "unit": unit_of(k.split(".", 1)[1] if args.smoke else k)} for k, v in final["metrics"].items()
    }
    print(json.dumps(final))
    return 0 if final["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
