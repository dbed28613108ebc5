"""One benchmark process: set up a Spark session, run one workload (or,
in smoke mode, all of them at a tiny size), check its outputs and write
the result as JSON. Started by ``run.py``, which owns the process tree,
its memory high-water mark and the final report line.

Phases of a workload, in order:

1. ``prepare``: write the seeded inputs (not billed to the program).
2. Set-up cycles: ``SETUP_CYCLES`` times, launch a fresh JVM, start a
   SparkSession and run the workload's small cold unit (``cold``). Every
   cycle is a cold start; ``setup_s`` is the median cycle.
3. ``settle``: in the last cycle's JVM, the full-size warm-up units, so
   the timed window starts warm. Timed as ``setup.warmup_s``.
4. ``measure``: repeat the workload's unit until ``--seconds`` elapse.
5. ``check``: verify every output produced in the window.
6. ``summarize``: end-to-end metrics, and with tracing the per-layer
   metrics (after the session stops and the event log is complete).
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import random
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import inputs  # noqa: E402
from tracing import (  # noqa: E402
    EventLog,
    Spans,
    cpu_ticks,
    group_pids,
    host_steal_share,
    jvm_gc_s,
    jvm_heap_peak_mb,
    median,
    pct,
    reset_heap_peaks,
    tree_cpu_s,
    wrap_function,
)

SETUP_CYCLES = 2
DRAIN_TIMEOUT_S = 120

# Catalog sample: the sentiment family, light queries from each plans
# module other than dedup and streaming, and multi-job registry entries.
CATALOG_SAMPLE = [
    "sentiment_docs",
    "sentiment_summary",
    "sentiment_by_lang",
    "sentiment_confidence_summary",
    "top_polar_docs",
    "sentiment_docs_join_scorer",
    "pricing_summary",
    "nation_revenue",
    "events_hourly",
    "token_stats_by_source",
    "cosine_knn_topk",
    "label_centroids",
    "nation_trade_pagerank",
]

SIZES = {
    False: {
        "backfill": {"files": 64, "per_file": 500, "cold_per_file": 50},
        "live_feed": {"files_per_s": 8, "per_file": 50, "trigger_s": 1, "lead_in_s": 1, "warm_files": 8},
        "dedup_index": {"files": 2, "docs_per_file": 250, "cold_docs": 50, "probe_docs": 200, "probes": 4},
        "catalog": {"queries": CATALOG_SAMPLE, "cold_queries": 3},
    },
    True: {
        "backfill": {"files": 4, "per_file": 100, "cold_per_file": 50},
        "live_feed": {"files_per_s": 4, "per_file": 20, "trigger_s": 1, "lead_in_s": 1, "warm_files": 2},
        "dedup_index": {"files": 1, "docs_per_file": 40, "cold_docs": 20, "probe_docs": 30, "probes": 1},
        "catalog": {"queries": CATALOG_SAMPLE[:3], "cold_queries": 1},
    },
}

# live_feed: a file not committed within this many seconds of its due
# time, or landed more than GEN_LATE_S after it, counts as failed.
FRESHNESS_LIMIT_S = 20.0
GEN_LATE_S = 0.5
TWIN_SHARE = 0.1
DASHBOARD_GROUP = "perfbench-dashboard"
PROBE_DUP_SHARE = 0.2


class Ctx:
    def __init__(self, name: str, args, workdir: str):
        self.name = name
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.sizes = dict(SIZES[args.smoke][name])
        if name == "live_feed" and args.files_per_s:
            self.sizes["files_per_s"] = args.files_per_s
        self.work = os.path.join(workdir, name)
        os.makedirs(self.work, exist_ok=True)
        self.spans = Spans()
        self.spark = None
        self.problems: list[str] = []
        self.attempted = 0
        self.failed = 0
        self.e2e: dict = {}
        self.layer: dict = {}
        self.samples: dict = {}
        self.notes: list[str] = []
        # window CPU of the process tree, and the items it processed
        self.cpu0 = self.cpu1 = None
        self.items = 0

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def stop_jvm(self) -> None:
        """Stop the session and the JVM, and wait until every process the
        JVM started has exited, so the next session starts cold and no
        two JVMs overlap in the memory high-water mark."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is None:
            return
        gw.shutdown()
        gw.proc.stdin.close()  # the JVM exits when its stdin closes
        gw.proc.wait(30)
        SparkContext._gateway = SparkContext._jvm = None
        deadline = time.time() + 30
        while set(group_pids(os.getpgid(0))) - {os.getpid()} and time.time() < deadline:
            time.sleep(0.05)

    def new_session(self):
        from real_time_news_sentiment_classification_and_dashboard_using_pyspark_spark import get_spark

        extra = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": self.path("warehouse"),
            "spark.sql.streaming.numRecentProgressUpdates": "10000",
            # a fixed, pre-touched heap: the memory high-water mark then
            # moves with off-heap and Python memory, not with GC timing
            "spark.driver.extraJavaOptions": (
                f"-Xms{os.environ['SPARK_DRIVER_MEMORY']} -XX:+AlwaysPreTouch -XX:-UsePerfData "
                f"-Djava.io.tmpdir={os.environ['TMPDIR']}"
            ),
        }
        if self.trace:
            os.makedirs(self.path("eventlog"), exist_ok=True)
            extra.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + self.path("eventlog"),
                    "spark.eventLog.compress": "false",
                }
            )
        self.spark = get_spark(f"perfbench-{self.name}", extra=extra)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def fail(self, msg: str) -> None:
        self.problems.append(msg)


# ---------------------------------------------------------------- streams


def _stream_progress(q) -> list[dict]:
    return [json.loads(p.json) for p in q.recentProgress]


def _await(q, what: str) -> None:
    if not q.awaitTermination(DRAIN_TIMEOUT_S):
        q.stop()
        raise RuntimeError(f"{what} did not finish within {DRAIN_TIMEOUT_S}s")
    if q.exception() is not None:
        raise RuntimeError(f"{what} failed: {q.exception()}")


def _checkpoint_files(ckpt: str) -> dict[str, int]:
    """file name -> batch id, from the file source's own metadata log."""
    out: dict[str, int] = {}
    for path in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        if os.path.basename(path).startswith("."):
            continue
        with open(path, encoding="utf-8") as fh:
            for line in fh.read().splitlines()[1:]:
                e = json.loads(line)
                out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


def _batch_layer(progress: list[dict]) -> dict:
    d = [p["durationMs"] for p in progress if p.get("numInputRows", 0) > 0]
    return {
        "offset_ms": [x.get("latestOffset", 0) + x.get("getBatch", 0) for x in d],
        "add_batch_ms": [x.get("addBatch", 0) for x in d],
        "commit_ms": [x.get("walCommit", 0) + x.get("commitOffsets", 0) for x in d],
        "rows": [p["numInputRows"] for p in progress if p.get("numInputRows", 0) > 0],
    }


def _jobs_per_batch(log: EventLog, progress: list[dict]) -> float:
    """Median number of jobs started inside a batch's execution interval,
    not counting the dashboard's."""
    counts = []
    for p in progress:
        t0 = _progress_ms(p)
        counts.append(len(log.jobs_between(t0, t0 + p["batchDuration"], exclude_group=DASHBOARD_GROUP)))
    return median(counts)


def _files_per_batch(out_dir: str) -> float:
    counts: dict[str, int] = {}
    for sink in ("scored", "metrics"):
        for d in glob.glob(os.path.join(out_dir, sink, "batch_id=*")):
            n = len([f for f in os.listdir(d) if not f.startswith((".", "_"))])
            counts[os.path.basename(d)] = counts.get(os.path.basename(d), 0) + n
    return sum(counts.values()) / max(1, len(counts))


def _expected_articles(spark, input_dir: str) -> dict:
    """Reference result for a set of article files, computed without the
    stream: the batch reader and the batch pipeline's transform."""
    from real_time_news_sentiment_classification_and_dashboard_using_pyspark_spark.pipeline import transform_articles
    from real_time_news_sentiment_classification_and_dashboard_using_pyspark_spark.sources.articles import (
        read_articles,
    )

    return _article_digest(transform_articles(read_articles(spark, input_dir)))


def _article_digest(scored) -> dict:
    from pyspark.sql import functions as F

    row = scored.agg(
        F.count(F.lit(1)).alias("rows"),
        F.countDistinct("id").alias("ids"),
        F.sum(F.pmod(F.xxhash64("id"), F.lit(2**31 - 1))).alias("id_hash"),
        *[F.sum((F.col("sentiment") == c).cast("long")).alias(c) for c in ("Positive", "Neutral", "Negative")],
    ).head()
    return {k: (row[k] or 0) for k in ("rows", "ids", "id_hash", "Positive", "Neutral", "Negative")}


def _check_article_sinks(ctx: Ctx, out_dir: str, expected: dict, label: str) -> None:
    """Each kept article committed exactly once; metric-sink class counts
    sum to the scored rows and equal the independent expectation."""
    from pyspark.sql import functions as F

    spark = ctx.spark
    ctx.attempted += 1
    got = _article_digest(spark.read.parquet(os.path.join(out_dir, "scored")))
    metrics = {
        r["sentiment"]: r["cnt"]
        for r in spark.read.parquet(os.path.join(out_dir, "metrics"))
        .groupBy("sentiment")
        .agg(F.sum("cnt").alias("cnt"))
        .collect()
    }
    bad = []
    if got["ids"] != got["rows"]:
        bad.append(f"{got['rows'] - got['ids']} articles committed more than once")
    if got != expected:
        bad.append(f"scored sink {got} != expected {expected}")
    if sum(metrics.values()) != got["rows"]:
        bad.append(f"metric sink total {sum(metrics.values())} != scored rows {got['rows']}")
    if any(metrics.get(c, 0) != expected[c] for c in ("Positive", "Neutral", "Negative")):
        bad.append(f"metric sink class counts {metrics} != expected")
    if bad:
        ctx.failed += 1
        ctx.fail(f"{label}: " + "; ".join(bad))


class Backfill:
    """availableNow drains of one pre-landed backlog of large files."""

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.drains: list[dict] = []

    def prepare(self) -> None:
        s, c = self.ctx.sizes, self.ctx
        self.lines = inputs.write_backlog(c.path("backlog"), c.seed, "bf", s["files"], s["per_file"])
        inputs.write_backlog(c.path("cold"), c.seed, "bfc", 1, s["cold_per_file"])

    def drain(self, src: str, tag: str) -> dict:
        from real_time_news_sentiment_classification_and_dashboard_using_pyspark_spark.streaming import start_pipeline

        c = self.ctx
        out, ckpt = c.path(f"out_{tag}"), c.path(f"ckpt_{tag}")
        with c.spans.span("drain", tag=tag):
            q = start_pipeline(c.spark, src, out, ckpt, available_now=True, memory_table=f"news_{tag}")
            _await(q, f"drain {tag}")
        a, b, _ = c.spans.of("drain")[-1]
        return {"s": (b - a) / 1000.0, "t0": a, "t1": b, "progress": _stream_progress(q), "out": out}

    def cold(self, i: int) -> None:
        self.drain(self.ctx.path("cold"), f"c{i}")

    def settle(self) -> None:
        self.drain(self.ctx.path("backlog"), "s")

    def measure(self) -> None:
        c = self.ctx
        py0 = tree_cpu_s(c.jvm_pid, only_python=True) if c.trace else 0.0
        end = time.time() + c.seconds
        while len(self.drains) < 2 or time.time() < end:
            self.drains.append(self.drain(c.path("backlog"), f"t{len(self.drains)}"))
        self.py_cpu = (tree_cpu_s(c.jvm_pid, only_python=True) - py0) if c.trace else 0.0

    def check(self) -> None:
        c = self.ctx
        expected = _expected_articles(c.spark, c.path("backlog"))
        for d in self.drains:
            rows = sum(p.get("numInputRows", 0) for p in d["progress"])
            c.attempted += 1
            if rows != self.lines:
                c.failed += 1
                c.fail(f"drain read {rows} input rows, {self.lines} landed")
            _check_article_sinks(c, d["out"], expected, f"drain {os.path.basename(d['out'])}")
        self.kept = expected["rows"]

    def summarize(self, log: EventLog | None) -> None:
        c = self.ctx
        secs = [d["s"] for d in self.drains]
        c.items = self.lines * len(secs)
        c.layer["wall.items_per_s"] = median(self.lines / s for s in secs)
        c.layer["wall.latency_s_p50"] = median(secs)
        c.layer["wall.latency_s_p90"] = pct(secs, 90)
        c.notes.append(f"backfill_articles_per_s = {c.layer['wall.items_per_s']:.1f} 1/s over {len(secs)} drains of {self.lines} articles")
        c.notes.append(f"drain_p50_s = {median(secs):.3f} s; drains: " + ", ".join(f"{x:.2f}" for x in secs))
        if log is None:
            return
        prog = [p for d in self.drains for p in d["progress"]]
        bl = _batch_layer(prog)
        c.layer.update(
            {
                "sources.articles.offset_ms_p50": median(bl["offset_ms"]),
                "sources.articles.rows_per_batch": median(bl["rows"]),
                "pipeline.kernel_cpu_s_per_10k": self.py_cpu / (self.lines * len(secs)) * 1e4,
                "pipeline.rows_kept_ratio": self.kept / self.lines,
                "streaming.pipeline.add_batch_ms_p50": median(bl["add_batch_ms"]),
                "streaming.pipeline.commit_ms_p50": median(bl["commit_ms"]),
                "streaming.pipeline.jobs_per_batch": _jobs_per_batch(log, [p for p in prog if p.get("numInputRows", 0) > 0]),
                "streaming.pipeline.files_written_per_batch": _files_per_batch(self.drains[-1]["out"]),
            }
        )


class LiveFeed:
    """Open loop: one generator thread lands GNews-sized files on a fixed
    schedule into a processingTime stream; one dashboard thread refreshes
    ``serving.dashboard_metrics`` over the growing scored sink."""

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.landed: list[tuple[str, float, float]] = []  # name, due, landed
        self.refreshes: list[dict] = []
        self.errors: list[str] = []

    def prepare(self) -> None:
        c = self.ctx
        inputs.write_backlog(c.path("warm_in"), c.seed, "lfw", c.sizes["warm_files"], c.sizes["per_file"])
        os.makedirs(c.path("feed"), exist_ok=True)
        self.factory = inputs.ArticleFactory(c.seed, "lf")

    def _warm_drain(self, tag: str) -> None:
        from real_time_news_sentiment_classification_and_dashboard_using_pyspark_spark.streaming import start_pipeline

        c = self.ctx
        q = start_pipeline(c.spark, c.path("warm_in"), c.path(f"out_{tag}"), c.path(f"ckpt_{tag}"), available_now=True)
        _await(q, "warm drain")

    def cold(self, i: int) -> None:
        self._warm_drain(f"c{i}")

    def settle(self) -> None:
        self._warm_drain("s")

    def _generate(self, t0: float) -> None:
        s = self.ctx.sizes
        try:
            k = 0
            while True:
                due = t0 + k / s["files_per_s"]
                if self.gen_end is not None and due >= self.gen_end:
                    return
                lines = self.factory.lines(s["per_file"])
                delay = due - time.time()
                if delay > 0:
                    time.sleep(delay)
                name = f"batch_{k:05d}.json"
                inputs.write_article_file(self.ctx.path("feed", name), lines)
                self.landed.append((name, due, time.time()))
                k += 1
        except Exception:  # noqa: BLE001 - reported as a failed run
            self.errors.append("generator: " + traceback.format_exc())

    def _dashboard(self, start: float, end: float) -> None:
        from real_time_news_sentiment_classification_and_dashboard_using_pyspark_spark import serving

        c = self.ctx
        sc = c.spark.sparkContext
        sc.setJobGroup(DASHBOARD_GROUP, "dashboard refresh")
        scored = c.path("out", "scored")
        k = 0
        while True:
            due = start + k * serving.REFRESH_MIN_S
            if due >= end:
                return
            time.sleep(max(0.0, due - time.time()))
            n_files = sum(len([f for f in fs if f.endswith(".parquet")]) for _, _, fs in os.walk(scored))
            t0 = time.time()
            try:
                m = serving.dashboard_metrics(c.spark.read.parquet(scored))
                ok = sum(m["class_counts"].values()) == m["total_articles"]
            except Exception:  # noqa: BLE001 - a failed refresh is a failed operation
                self.errors.append("dashboard: " + traceback.format_exc(limit=2))
                ok = False
            t1 = time.time()
            self.refreshes.append({"t0": t0 * 1000, "t1": t1 * 1000, "s": t1 - t0, "ok": ok, "files": n_files})
            k += 1

    def measure(self) -> None:
        from real_time_news_sentiment_classification_and_dashboard_using_pyspark_spark.streaming import start_pipeline

        c, s = self.ctx, self.ctx.sizes
        self.q = q = start_pipeline(
            c.spark, c.path("feed"), c.path("out"), c.path("ckpt"), trigger_seconds=s["trigger_s"]
        )
        self.gen_end = None
        t0 = time.time() + 0.5
        gen = threading.Thread(target=self._generate, args=(t0,), name="generator")
        gen.start()
        # the window opens after the lead-in and once a first batch has
        # committed, so the dashboard never reads an empty sink
        deadline = time.time() + 60
        while not any(p.get("numInputRows", 0) for p in _stream_progress(q)) or time.time() < t0 + s["lead_in_s"]:
            if time.time() > deadline or q.exception() is not None:
                self.gen_end = 0
                gen.join()
                raise RuntimeError(f"stream did not start: {q.exception()}")
            time.sleep(0.05)
        self.win0 = time.time()
        self.win1 = self.win0 + c.seconds
        self.gen_end = self.win1
        c.cpu0 = tree_cpu_s(os.getpid())
        py0 = tree_cpu_s(c.jvm_pid, only_python=True) if c.trace else 0.0
        dash = threading.Thread(target=self._dashboard, args=(self.win0, self.win1), name="dashboard")
        dash.start()
        gen.join(c.seconds + 30)
        c.cpu1 = tree_cpu_s(os.getpid())
        self.py_cpu = (tree_cpu_s(c.jvm_pid, only_python=True) - py0) if c.trace else 0.0
        dash.join(60)
        if gen.is_alive() or dash.is_alive():
            raise RuntimeError("load threads did not finish")
        want = len(self.landed) * s["per_file"]
        deadline = time.time() + 60
        while sum(p.get("numInputRows", 0) for p in _stream_progress(q)) < want:
            if time.time() > deadline or q.exception() is not None:
                raise RuntimeError(f"stream did not catch up: {q.exception()}")
            time.sleep(0.1)
        # the batch that read the last file has reported progress, so its
        # commit is in the checkpoint
        q.stop()
        self.progress = _stream_progress(q)

    def check(self) -> None:
        c = self.ctx
        for e in self.errors:
            c.fail(e)
        batch_of = _checkpoint_files(c.path("ckpt"))
        commit_ms = {}
        for f in glob.glob(c.path("ckpt", "commits", "[0-9]*")):
            commit_ms[int(os.path.basename(f))] = os.stat(f).st_mtime
        self.fresh, self.late = [], []
        for name, due, landed in self.landed:
            if not (self.win0 <= due < self.win1):
                continue
            c.attempted += 1
            b = batch_of.get(name)
            if b is None or b not in commit_ms:
                c.failed += 1
                c.fail(f"{name} was never committed")
                continue
            fr = commit_ms[b] - due
            self.fresh.append(fr)
            self.late.append(landed - due)
            if fr > FRESHNESS_LIMIT_S or landed - due > GEN_LATE_S:
                c.failed += 1
        for r in self.refreshes:
            c.attempted += 1
            if not r["ok"]:
                c.failed += 1
                c.fail("a dashboard refresh failed")
        _check_article_sinks(c, c.path("out"), _expected_articles(c.spark, c.path("feed")), "live feed")
        self.kept = _article_digest(c.spark.read.parquet(c.path("out", "scored")))["rows"]

    def summarize(self, log: EventLog | None) -> None:
        c, s = self.ctx, self.ctx.sizes
        n = len(self.fresh)
        w0, w1 = self.win0 * 1000, self.win1 * 1000
        # batches that ran during the window
        window = [
            p
            for p in self.progress
            if p.get("numInputRows", 0) > 0 and _progress_ms(p) < w1 and _progress_ms(p) + p["batchDuration"] > w0
        ]
        busy_s = sum(p["batchDuration"] for p in window) / 1000.0
        c.items = n * s["per_file"]
        # Spark's processing rate: rows per second of batch execution
        c.layer["wall.items_per_s"] = sum(p["numInputRows"] for p in window) / busy_s
        # share of the window during which a batch was executing; 1 means
        # batches ran back to back
        overlap = sum(
            max(0.0, min(w1, _progress_ms(p) + p["batchDuration"]) - max(w0, _progress_ms(p))) for p in window
        )
        c.layer["streaming.pipeline.busy_share"] = overlap / (w1 - w0)
        c.layer["wall.latency_s_p50"] = median(self.fresh)
        c.layer["wall.latency_s_p90"] = pct(self.fresh, 90)
        c.layer["serving.refresh_s_p50"] = median(r["s"] for r in self.refreshes)
        c.notes += [
            f"processed rows per second of batch execution = {c.layer['wall.items_per_s']:.1f} over {len(window)} batches",
            f"freshness_p50_s = {median(self.fresh):.3f} s, freshness_p90_s = {pct(self.fresh, 90):.3f} s over {n} files",
            # a backlog that grows over the window shows as later files staying fresh longer
            f"freshness p50 of the first / second half of the window = "
            f"{median(self.fresh[: n // 2]):.3f} / {median(self.fresh[n // 2 :]):.3f} s",
            f"dashboard_refresh_p50_s = {median(r['s'] for r in self.refreshes):.3f} s over {len(self.refreshes)} refreshes",
            f"generator lateness p50 = {median(self.late) * 1000:.1f} ms, max = {max(self.late, default=0) * 1000:.1f} ms",
            f"offered load = {s['files_per_s']} files/s x {s['per_file']} articles, open loop; "
            f"batches busy {100 * c.layer['streaming.pipeline.busy_share']:.0f}% of the window",
        ]
        if log is None:
            return
        prog = window
        bl = _batch_layer(prog)
        dash_jobs = log.jobs_between(w0, w1 + 60000, group=DASHBOARD_GROUP)
        c.layer.update(
            {
                "sources.articles.offset_ms_p50": median(bl["offset_ms"]),
                "sources.articles.rows_per_batch": median(bl["rows"]),
                "pipeline.kernel_cpu_s_per_10k": self.py_cpu / max(1, sum(bl["rows"])) * 1e4,
                "pipeline.rows_kept_ratio": self.kept / max(1, len(self.landed) * s["per_file"]),
                "streaming.pipeline.add_batch_ms_p50": median(bl["add_batch_ms"]),
                "streaming.pipeline.commit_ms_p50": median(bl["commit_ms"]),
                "streaming.pipeline.jobs_per_batch": _jobs_per_batch(log, prog),
                "streaming.pipeline.files_written_per_batch": _files_per_batch(c.path("out")),
                "serving.jobs_per_refresh": len(dash_jobs) / max(1, len(self.refreshes)),
                "serving.files_listed_per_refresh": median(r["files"] for r in self.refreshes),
            }
        )


def _progress_ms(p: dict) -> float:
    from datetime import datetime

    return datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp() * 1000


# ------------------------------------------------------------ dedup index


class DedupIndex:
    """Write side: fold (doc_id, text) files one per trigger into the
    shingle store with the registry entry's settings, then finalize.
    Read side: fixed-size probe batches against the final store."""

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.builds: list[dict] = []
        self.probes: list[dict] = []
        self.candidates: list = []  # candidate-pair frames seen by verification (traced runs)

    def prepare(self) -> None:
        c, s = self.ctx, self.ctx.sizes
        fac = inputs.DocFactory(c.seed, "dx")
        os.makedirs(c.path("docs"))
        for i in range(s["files"]):
            inputs.write_docs_file(c.path("docs", f"part-{i:05d}.parquet"), fac.batch(s["docs_per_file"], TWIN_SHARE))
        self.n_docs = s["files"] * s["docs_per_file"]
        os.makedirs(c.path("cold_docs"))
        inputs.write_docs_file(c.path("cold_docs", "part-00000.parquet"), fac.batch(s["cold_docs"], TWIN_SHARE))
        os.makedirs(c.path("probes"))
        self.probe_paths = []
        rng = random.Random(f"probes:{c.seed}")
        base = fac.history[: self.n_docs]  # texts of the indexed docs
        for i in range(s["probes"]):
            rows = []
            for _ in range(s["probe_docs"]):
                text = fac.twin_of(base[rng.randrange(len(base))]) if rng.random() < PROBE_DUP_SHARE else fac.fresh()
                rows.append((10**9 + len(rows) + i * 10**6, text))
            p = c.path("probes", f"probe-{i:03d}.parquet")
            inputs.write_docs_file(p, rows)
            self.probe_paths.append(p)
        if c.trace:
            import real_time_news_sentiment_classification_and_dashboard_using_pyspark_spark.operators.stream_dedup as sd
            import real_time_news_sentiment_classification_and_dashboard_using_pyspark_spark.plans.dedup_queries as dq

            wrap_function(dq, "append_to_shingle_artifact", c.spans, "fold")
            # keep the candidate pairs the operator hands to verification
            verify = sd.verify_jaccard_pairs

            def recording_verify(cand, *a, **kw):
                self.candidates.append(cand)
                return verify(cand, *a, **kw)

            sd.verify_jaccard_pairs = recording_verify

    def build(self, src: str, tag: str) -> dict:
        from real_time_news_sentiment_classification_and_dashboard_using_pyspark_spark.streaming import (
            current_store_path,
            finalize_dedup_index,
            start_dedup_index_stream,
        )

        c = self.ctx
        store = c.path(f"store_{tag}")
        with c.spans.span("build", tag=tag):
            q = start_dedup_index_stream(
                c.spark, src, store, c.path(f"ckpt_{tag}"), available_now=True, max_files_per_trigger=1, merge_every=8
            )
            _await(q, f"index build {tag}")
            with c.spans.span("finalize"):
                finalize_dedup_index(c.spark, store)
        a, b, _ = c.spans.of("build")[-1]
        return {"s": (b - a) / 1000.0, "t0": a, "t1": b, "store": current_store_path(store), "progress": _stream_progress(q)}

    def _store(self, path: str) -> dict:
        return {k: self.ctx.spark.read.parquet(os.path.join(path, k)) for k in ("bands", "arrays")}

    def probe(self, store: dict, path: str) -> dict:
        from real_time_news_sentiment_classification_and_dashboard_using_pyspark_spark.operators.stream_dedup import (
            drop_near_dups,
        )

        c = self.ctx
        with c.spans.span("probe"):
            kept = drop_near_dups(c.spark.read.parquet(path), store).count()
        a, b, _ = c.spans.of("probe")[-1]
        return {"s": (b - a) / 1000.0, "kept": kept, "path": path}

    def cold(self, i: int) -> None:
        b = self.build(self.ctx.path("cold_docs"), f"c{i}")
        self.probe(self._store(b["store"]), self.probe_paths[0])

    def settle(self) -> None:
        b = self.build(self.ctx.path("docs"), "s")
        self.probe(self._store(b["store"]), self.probe_paths[0])

    def measure(self) -> None:
        c = self.ctx
        start = time.time()
        while not self.builds or time.time() < start + 0.6 * c.seconds:
            self.builds.append(self.build(c.path("docs"), f"t{len(self.builds)}"))
        store = self._store(self.builds[-1]["store"])
        k = 0
        while k < len(self.probe_paths) or time.time() < start + c.seconds:
            self.probes.append(self.probe(store, self.probe_paths[k % len(self.probe_paths)]))
            k += 1

    def check(self) -> None:
        from real_time_news_sentiment_classification_and_dashboard_using_pyspark_spark.operators.stream_dedup import (
            near_dup_matches,
        )

        c = self.ctx
        for b in self.builds:
            c.attempted += 1
            n = c.spark.read.parquet(os.path.join(b["store"], "meta")).head()["n_docs"]
            if n != self.n_docs:
                c.failed += 1
                c.fail(f"store {b['store']} holds {n} docs, {self.n_docs} landed")
        store = self._store(self.builds[-1]["store"])
        self.matches = {}
        # per probe batch: (rows, matched docs, verified pairs, candidate pairs)
        for p in self.probe_paths:
            df = c.spark.read.parquet(p)
            self.candidates.clear()
            m = near_dup_matches(df, store)
            cands = self.candidates[-1].count() if c.trace else 0
            self.matches[p] = (df.count(), m.select("doc_id").distinct().count(), m.count(), cands)
        for pr in self.probes:
            c.attempted += 1
            total, m = self.matches[pr["path"]][:2]
            if total - pr["kept"] != m:
                c.failed += 1
                c.fail(f"probe dropped {total - pr['kept']}, near_dup_matches finds {m}")

    def summarize(self, log: EventLog | None) -> None:
        c = self.ctx
        bs = [b["s"] for b in self.builds]
        ps = [p["s"] for p in self.probes]
        c.items = self.n_docs * len(bs) + len(ps) * c.sizes["probe_docs"]
        c.layer["wall.items_per_s"] = median(self.n_docs / s for s in bs)
        c.layer["wall.latency_s_p50"] = median(ps)
        c.layer["wall.latency_s_p90"] = pct(ps, 90)
        c.layer["operators.stream_dedup.probe_s_p50"] = median(ps)
        c.notes += [
            f"dedup_docs_per_s = {c.layer['wall.items_per_s']:.1f} 1/s over {len(bs)} builds of {self.n_docs} docs",
            f"probe_p50_s = {median(ps):.3f} s over {len(ps)} probe batches of {c.sizes['probe_docs']} docs",
        ]
        if log is None:
            return
        b0, b1 = self.builds[0]["t0"], self.builds[-1]["t1"]
        folds = [(a, b) for a, b, _ in c.spans.of("fold") if b0 <= a <= b1]
        fold_jobs = [j for a, b in folds for j in log.jobs_between(a, b)]
        fin = [(a, b) for a, b, _ in c.spans.of("finalize") if b0 <= a <= b1]
        probes = [(a, b) for a, b, _ in c.spans.of("probe")][-len(self.probes) :]
        work_jobs = [j for a, b in folds + fin + probes for j in log.jobs_between(a, b)]
        probe_docs = len(self.probe_paths) * c.sizes["probe_docs"]
        verified = sum(m[2] for m in self.matches.values())
        cands = sum(m[3] for m in self.matches.values())
        c.layer.update(
            {
                "streaming.dedup_index.fold_s_p50": median((b - a) / 1000 for a, b in folds),
                "streaming.dedup_index.finalize_s": median((b - a) / 1000 for a, b in fin),
                "streaming.dedup_index.jobs_per_fold": len(fold_jobs) / max(1, len(folds)),
                "streaming.dedup_index.bytes_written_per_doc": _tree_bytes(os.path.dirname(self.builds[-1]["store"])) / self.n_docs,
                "plans.dedup_queries.shingle_cpu_s": log.totals(work_jobs)["cpu_s"],
                "operators.stream_dedup.candidates_per_doc": cands / probe_docs,
                "operators.stream_dedup.verified_ratio": verified / max(1, cands),
                "streaming.pipeline.add_batch_ms_p50": median(_batch_layer([p for b in self.builds for p in b["progress"]])["add_batch_ms"]),
                "streaming.pipeline.commit_ms_p50": median(_batch_layer([p for b in self.builds for p in b["progress"]])["commit_ms"]),
            }
        )


def _tree_bytes(root: str) -> int:
    """Bytes of distinct inodes under root (generations hard-link files)."""
    seen, total = set(), 0
    for d, _, fs in os.walk(root):
        for f in fs:
            st = os.stat(os.path.join(d, f))
            if st.st_ino not in seen:
                seen.add(st.st_ino)
                total += st.st_size
    return total


# ---------------------------------------------------------------- catalog


def _fingerprint(cols, rows) -> str:
    import hashlib
    import math

    def cell(v):
        if v is None:
            return "null"
        if isinstance(v, bool):
            return f"b{v}"
        if isinstance(v, float):
            return "fnan" if math.isnan(v) else f"f{round(v, 9)!r}"
        if isinstance(v, int):
            return f"i{v}"
        return "s" + str(v)

    order = sorted(range(len(cols)), key=lambda i: cols[i])
    norm = sorted("\x1f".join(cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\x1e".join([",".join(sorted(cols))] + norm).encode())
    return f"{len(rows)}:{h.hexdigest()[:24]}"


PINS_PATH = os.path.join(HERE, "catalog_pins.json")


class Catalog:
    """bench.py's timing of registry queries: cold caches, construction
    ``fn(spark, sf_dir)``, then a noop write; one pass runs the sample
    once, in a seeded order."""

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.passes: list[list[dict]] = []

    def prepare(self) -> None:
        c = self.ctx
        self.sf_dir = inputs.DATA_DIR
        self.names = list(c.sizes["queries"])
        random.Random(f"catalog:{c.seed}").shuffle(self.names)
        if c.trace:
            import real_time_news_sentiment_classification_and_dashboard_using_pyspark_spark.sources.tables as tables

            wrap_function(tables, "table", c.spans, "table")

    def one_pass(self, names: list[str] | None = None) -> list[dict]:
        from real_time_news_sentiment_classification_and_dashboard_using_pyspark_spark import clear_caches
        from real_time_news_sentiment_classification_and_dashboard_using_pyspark_spark.plans import REGISTRY

        c = self.ctx
        out = []
        for n in names or self.names:
            clear_caches(c.spark)
            t0 = time.time()
            df = REGISTRY[n].fn(c.spark, self.sf_dir)
            t1 = time.time()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.time()
            out.append({"q": n, "t0": t0 * 1000, "t1": t1 * 1000, "t2": t2 * 1000, "build_s": t1 - t0, "exec_s": t2 - t1})
        return out

    def cold(self, i: int) -> None:
        self.one_pass(self.names[: self.ctx.sizes["cold_queries"]])

    def settle(self) -> None:
        self.one_pass()

    def measure(self) -> None:
        end = time.time() + self.ctx.seconds
        while len(self.passes) < 2 or time.time() < end:
            self.passes.append(self.one_pass())

    def check(self) -> None:
        from real_time_news_sentiment_classification_and_dashboard_using_pyspark_spark.plans import REGISTRY

        c = self.ctx
        with open(PINS_PATH, encoding="utf-8") as fh:
            pins = json.load(fh)["queries"]
        for n in self.names:
            c.attempted += 1
            df = REGISTRY[n].fn(c.spark, self.sf_dir)
            got = _fingerprint(df.columns, [tuple(r) for r in df.collect()])
            if got != pins.get(n):
                c.failed += 1
                c.fail(f"{n}: result {got} != pinned oracle fingerprint {pins.get(n)}")

    def summarize(self, log: EventLog | None) -> None:
        c = self.ctx
        pass_s = [sum(r["build_s"] + r["exec_s"] for r in p) for p in self.passes]
        per_q = [r["build_s"] + r["exec_s"] for p in self.passes for r in p]
        c.items = len(per_q)
        c.layer["wall.items_per_s"] = median(len(self.names) / s for s in pass_s)
        c.layer["wall.latency_s_p50"] = median(per_q)
        c.layer["wall.latency_s_p90"] = pct(per_q, 90)
        c.notes += [
            f"catalog_pass_s = {median(pass_s):.3f} s over {len(pass_s)} passes of {len(self.names)} queries",
            f"catalog_query_p50_s = {median(per_q):.3f} s over {len(per_q)} query runs",
        ]
        if log is None:
            return
        tables_spans = c.spans.of("table")
        p0, p1 = self.passes[0][0]["t0"], self.passes[-1][-1]["t2"]
        reads = [(a, b) for a, b, _ in tables_spans if p0 <= a <= p1]
        c.layer["sources.tables.read_calls"] = len(reads) / len(self.passes)
        c.layer["sources.tables.read_s"] = sum((b - a) / 1000 for a, b in reads) / len(self.passes)
        sums = {"build_s": 0.0, "exec_s": 0.0, "build_jobs": 0, "exec_jobs": 0, "shuffle_bytes": 0}
        for n in self.names:
            runs = [r for p in self.passes for r in p if r["q"] == n]
            last = runs[-1]
            bj = log.jobs_between(last["t0"], last["t1"])
            ej = log.jobs_between(last["t1"], last["t2"])
            vals = {
                "build_s": median(r["build_s"] for r in runs),
                "exec_s": median(r["exec_s"] for r in runs),
                "build_jobs": len(bj),
                "exec_jobs": len(ej),
                "shuffle_bytes": log.totals(bj + ej)["shuffle_bytes"],
            }
            for k, v in vals.items():
                c.layer[f"plans.{n}.{k}"] = v
                sums[k] += v
        for k, v in sums.items():
            c.layer[f"plans.{k}"] = v


WORKLOADS = {"backfill": Backfill, "live_feed": LiveFeed, "dedup_index": DedupIndex, "catalog": Catalog}


# ------------------------------------------------------------- entry point


def run_workload(name: str, args, workdir: str, mark: str | None) -> dict:
    """Run one workload; ``mark`` is created when its timed window ends."""
    ctx = Ctx(name, args, workdir)
    wl = WORKLOADS[name](ctx)
    phases = [time.time()]
    wl.prepare()
    phases.append(time.time())
    setup_wall, setup_cpu, session_s, steal = [], [], [], []
    for i in range(1 if args.smoke else SETUP_CYCLES):
        ctx.stop_jvm()
        t0, c0, k0 = time.time(), tree_cpu_s(os.getpid()), cpu_ticks()
        ctx.new_session()
        session_s.append(time.time() - t0)
        wl.cold(i)
        setup_wall.append(time.time() - t0)
        setup_cpu.append(tree_cpu_s(os.getpid()) - c0)
        steal.append(host_steal_share(k0, cpu_ticks()))
    t0 = time.time()
    wl.settle()
    warmup_s = time.time() - t0
    from pyspark import SparkContext

    ctx.jvm_pid = SparkContext._gateway.proc.pid
    reset_heap_peaks(ctx.spark)
    gc0, cpu0, tree0 = jvm_gc_s(ctx.spark), cpu_ticks(), tree_cpu_s(os.getpid())
    phases.append(time.time())
    wl.measure()
    gc1, cpu1, tree1 = jvm_gc_s(ctx.spark), cpu_ticks(), tree_cpu_s(os.getpid())
    heap_peak = jvm_heap_peak_mb(ctx.spark)
    if mark:
        open(mark, "w").close()
    if ctx.cpu0 is None:  # the workload's window is the whole measure phase
        ctx.cpu0, ctx.cpu1 = tree0, tree1
    phases.append(time.time())
    wl.check()
    phases.append(time.time())
    ctx.stop_jvm()
    log = None
    if ctx.trace:
        logs = sorted(glob.glob(ctx.path("eventlog", "*")), key=os.path.getmtime)
        log = EventLog(logs[-1])
    wl.summarize(log)
    ctx.e2e["setup_s"] = median(setup_cpu)
    ctx.samples["setup_s"] = len(setup_cpu)
    ctx.layer["setup.wall_s"] = median(setup_wall)
    ctx.layer["setup.warmup_s"] = warmup_s
    ctx.layer["jvm.heap_peak_mb"] = heap_peak
    ctx.layer["cpu.ms_per_item"] = 1000 * (ctx.cpu1 - ctx.cpu0) / ctx.items
    ctx.notes.append(f"cpu_ms_per_item = {ctx.layer['cpu.ms_per_item']:.4f} ms over {ctx.items} items")
    if ctx.trace:
        ctx.layer["jvm.gc_s"] = gc1 - gc0
    ctx.notes.append(f"host steal during the window: {100 * host_steal_share(cpu0, cpu1):.1f}%")
    ctx.notes.append(
        "setup cycles (wall s / of it session start s / CPU s / steal): "
        + ", ".join(
            f"{w:.2f}/{j:.2f}/{u:.2f}/{100 * k:.0f}%" for w, j, u, k in zip(setup_wall, session_s, setup_cpu, steal)
        )
        + f"; warm-up after the last {warmup_s:.2f} s"
    )
    ctx.notes.append(
        "phases: "
        + ", ".join(
            f"{k} {b - a:.1f} s" for k, a, b in zip(("inputs", "setup", "window", "check"), phases, phases[1:])
        )
    )
    return {
        "e2e": ctx.e2e,
        "samples": ctx.samples,
        "layer": ctx.layer,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "problems": ctx.problems,
        "notes": ctx.notes,
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--mark", default=None, help="file to create when the (last) timed window ends")
    ap.add_argument("--files-per-s", type=float, default=None)
    args = ap.parse_args()
    names = list(WORKLOADS) if args.workload == "all" else [args.workload]
    result = {}
    for n in names:
        result[n] = run_workload(n, args, args.workdir, args.mark if n == names[-1] else None)
    with open(args.out, "w", encoding="utf-8") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
