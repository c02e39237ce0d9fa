#!/usr/bin/env python3
"""Load-and-query benchmark of logparser_spark on the host it runs on.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 14 --trace 0

Runs one seeded workload against the library's public entry points at
``local[<usable cpus>]`` from this single process, checks every output
against independent answers, and prints as its last line one JSON object
with the keys ``correct``, ``attempted``, ``failed`` and ``metrics``
(end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``). The line before it is a JSON ``info`` object: host,
versions, sample counts, path shares and gate failures.
See perfbench/README.md for the workloads and every metric.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import nullcontext
from dataclasses import dataclass

import pyarrow.parquet as pq

import gate as gatemod
import inputs
import layers
import procstat
import stats
import tracing

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
# Set-up cycles per run; setup_s takes their median. Two, because each
# further cycle costs ~6 s and 4 + 22 x 2 runs must fit the 3420 s budget.
SETUPS = 2
# The driver's maximum heap (the library's 8g default is sized for far
# larger inputs). Set for every run, whatever the environment says, and
# not committed up front, so peak RSS follows what the driver really uses.
DRIVER_HEAP = "2g"
WORKLOADS = ("incremental_load", "query_mix")
CATEGORIES = ("quarantine", "denied", "error", "success", "other")
ENDPOINTS = ("statistics", "top_urls", "top_users", "statuses", "actions", "logs", "logs_after")
SUMMARIES = ("agg_sink_totals", "agg_status_hist", "agg_hourly_hist", "agg_daily_rollup",
             "top_urls", "top_users", "dim_statuses", "dim_actions")

END_TO_END = {
    "setup_s": "s",
    "pipeline_rows_per_s": "rows/s",
    "load_rows_per_s": "rows/s",
    "aggregate_s": "s",
    "chunk_ready_p50_s": "s",
    "sink_bytes_per_row": "bytes/row",
    "cpu_s_per_mrow": "s/Mrow",
    "peak_rss_mb": "MB",
    "query_p50_ms": "ms",
    "queries_per_s": "1/s",
    "live_query_p50_ms": "ms",
    "summary_query_p50_ms": "ms",
    "page_query_p50_ms": "ms",
}

PER_LAYER = {
    "session.build_s": "s", "session.warmup_s": "s",
    "scan.s": "s", "scan.bytes_read": "bytes", "scan.tasks": "count",
    "parse.s": "s", "parse.python_run_ms": "ms", "parse.python_init_ms": "ms",
    "parse.bytes_to_python": "bytes", "parse.bytes_from_python": "bytes",
    "parse.rejected_rows": "count", "parse.reject_ratio": "ratio",
    "enrich.s": "s", "enrich.broadcast_bytes": "bytes",
    "route.s": "s", **{f"route.rows.{c}": "count" for c in CATEGORIES},
    "sinks.write_chunk_s": "s", "sinks.counts_s": "s",
    "sinks.files_written": "count", "sinks.bytes_written": "bytes", "sinks.files_total": "count",
    "manifest.completed_chunks_s": "s", "manifest.commit_s": "s", "manifest.bytes": "bytes",
    "aggregate.run_s": "s", **{f"aggregate.{s}_s": "s" for s in SUMMARIES},
    "aggregate.shuffle_bytes": "bytes",
    **{f"api.{e}.{part}": "ms" for e in ENDPOINTS for part in ("plan_ms", "exec_ms")},
    "api.fast_path_ratio": "ratio", "api.rows_returned": "count",
    "cache.hits": "count", "cache.misses": "count", "cache.hit_ratio": "ratio",
    "cache.invalidated": "count",
    "trace.overhead_ratio": "ratio",
}


@dataclass
class LoadSample:
    """One measured chunk: an incremental drop, or a query_mix set-up load."""

    rows: int = 0
    load_s: float = 0.0
    agg_s: float = 0.0
    cpu_s: float = 0.0


@dataclass
class CallRecord:
    call: inputs.Call
    hit: bool
    seconds: float
    rows: int
    span: int | None  # id of the call's span in a traced run


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, cpus: int):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.cpus = cpus
        self.pid = os.getpid()
        self.run_dir = os.path.join(WORK, "runs", f"{workload}-{seed}-{self.pid}")
        self.tracer = tracing.Tracer() if trace else None
        self.gate = gatemod.Gate()
        self.spark = None
        self.setups: list[dict] = []
        self.loads: list[LoadSample] = []
        self.ready: list[float] = []
        self.calls: list[CallRecord] = []
        self.query_wall = 0.0
        self.pages: dict = {}  # OFFSET page call -> its rows (keyset cursors)
        self.answers: dict = {}  # distinct call -> (call, cursor, rows) for the gate
        self.attempted = 0
        self.failed = 0
        self.cache_hits = 0
        self.cache_misses = 0
        self.chunk_traces: list[str] = []
        self.summaries: dict = {}
        self.final_root = ""
        self.ladder_files: list[str] = []
        self.written_files: list[int] = []
        self.fast_reads: set[int] = set()  # summary-read spans that found the table
        self.invalidated = 0
        self.one_time_setup_s = 0.0  # query_mix: initial load, aggregate, API warm-up

    # ---- plumbing ---------------------------------------------------------

    def span(self, name: str, trace_id: str | None = None):
        return self.tracer.span(name, trace_id) if self.tracer else nullcontext()

    def _build_session(self):
        from logparser_spark.session import build_session

        tmp = os.path.join(WORK, "tmp")
        spark = build_session(
            app_name="perfbench",
            master=f"local[{self.cpus}]",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": tmp,
                "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
                # no perf-data file, which the JVM would otherwise write under /tmp
                "spark.driver.extraJavaOptions":
                    f"-Duser.timezone=UTC -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def setup_cycle(self, warm) -> None:
        """One set-up: build the session, then ``warm()``. Only the first
        cycle launches the JVM and creates the session; later cycles get
        the running one back from build_session and repeat the warm-up
        (a fresh SparkContext per cycle would restart every Python
        worker, which costs more than the run budget allows)."""
        t0 = time.perf_counter()
        with self.span("session.build"):
            self.spark = self._build_session()
        t1 = time.perf_counter()
        with self.span("session.warmup"):
            warm()
        t2 = time.perf_counter()
        self.setups.append({"total": t2 - t0, "build": t1 - t0, "warmup": t2 - t1})

    def close(self) -> None:
        """Stop Spark, wait for the JVM (and with it the Python workers)
        to exit, and drop this run's scratch output."""
        if self.tracer is not None:
            self.tracer.restore()
        if self.spark is not None:
            from pyspark import SparkContext

            self.spark.stop()
            gateway = SparkContext._gateway
            if gateway is not None:
                proc = getattr(gateway, "proc", None)
                gateway.shutdown()
                if proc is not None:
                    proc.stdin.close()  # the JVM exits on EOF of its stdin
                    proc.wait(timeout=120)
                SparkContext._gateway = None
                SparkContext._jvm = None
            self.spark = None
        shutil.rmtree(self.run_dir, ignore_errors=True)

    # ---- library calls ------------------------------------------------------

    def load(self, input_dir: str, out_root: str, n_chunks: int, trace_id: str):
        """run_pipeline then run_aggregates; returns (rows, load_s, agg_s, cpu_s)."""
        from logparser_spark.plans.pipeline import run_aggregates, run_pipeline

        cpu0 = procstat.cpu_seconds(self.pid)
        t0 = time.perf_counter()
        with self.span("plans.pipeline", trace_id):
            out = run_pipeline(self.spark, input_dir, out_root, n_chunks=n_chunks)
        t1 = time.perf_counter()
        with self.span("plans.aggregates", trace_id):
            self.summaries = run_aggregates(self.spark, out_root)
        t2 = time.perf_counter()
        return out["rows_this_run"], t1 - t0, t2 - t1, procstat.cpu_seconds(self.pid) - cpu0

    def call(self, api, call: inputs.Call, trace_id: str) -> None:
        """One timed API request; a request that raises counts as failed."""
        from logparser_spark.api import LogFilter

        flt = LogFilter(*call.flt) if call.flt else None
        params = dict(call.params)
        self.attempted += 1
        hits = api.cache.hits
        cursor = None
        t0 = time.perf_counter()
        try:
            with self.span(f"api.{call.endpoint}", trace_id) as sp:
                if call.endpoint == "logs_after":
                    last = self.pages[call.cursor_source()][-1]
                    cursor = (last.time, last.doc_id)
                    rows = api.get_logs_after(last.time, last.doc_id, flt, params["size"]).collect()
                else:
                    rows = api.collect_cached(call.endpoint, flt, **params)
        except Exception as exc:  # the run goes on; the failure is counted
            self.failed += 1
            print(f"perfbench: {call} failed: {exc!r}", file=sys.stderr)
            return
        seconds = time.perf_counter() - t0
        if call.endpoint == "logs":
            self.pages[call] = rows
        self.calls.append(CallRecord(call, api.cache.hits > hits, seconds, len(rows),
                                     sp.sid if sp is not None else None))
        if call not in self.answers:
            cur = gatemod.normalize([cursor])[0] if cursor else None
            self.answers[call] = (call, cur, rows)

    def warm_calls(self, api) -> None:
        """Touch the live and the page path once outside the measured
        window (direct builder calls, so no cache entry is left behind)."""
        from logparser_spark.api import LogFilter

        api.get_statistics(LogFilter(status_code=200)).collect()
        api.get_logs(None, page=1, size=inputs.PAGE_SIZE).collect()

    def warm_every_endpoint(self, api) -> None:
        """Build and collect every endpoint once on the loaded sink, on
        each path the query window takes (direct builder calls again)."""
        from logparser_spark.api import LogFilter

        flt = LogFilter(status_code=200)
        for df in (api.get_statistics(None), api.get_top_urls(None, k=10),
                   api.get_top_users(None, k=5), api.get_statuses(), api.get_actions(),
                   api.get_statistics(flt), api.get_top_urls(flt, k=10),
                   api.get_top_users(flt, k=5)):
            df.collect()
        rows = api.get_logs(None, page=1, size=inputs.PAGE_SIZE).collect()
        api.get_logs_after(rows[-1].time, rows[-1].doc_id, None, inputs.PAGE_SIZE).collect()

    # ---- workloads ---------------------------------------------------------------

    def warm_up(self, raw: str, i: int) -> None:
        """Load and aggregate the small warm-up fixture, then touch the
        API's live and page paths on it."""
        from logparser_spark.api import LogPipelineAPI

        out_root = os.path.join(self.run_dir, f"warmup-{i}")
        self.load(raw, out_root, 1, f"warmup{i}")
        self.warm_calls(LogPipelineAPI(self.spark, out_root))
        shutil.rmtree(out_root, ignore_errors=True)

    def run(self, fixture) -> None:
        """Set-up cycles, the workload's measured window, then the gate.
        ``fixture`` is a future of ``inputs.ensure_fixture``: it is being
        generated while the set-up cycles run, which never read it."""
        sampler = procstat.PeakRss(self.pid).start()
        t0 = time.perf_counter()
        try:
            warm_raw, _, _ = inputs.ensure_fixture(WORK, 0, inputs.WARMUP_ROWS, 1)
            for i in range(SETUPS):
                self.setup_cycle(lambda i=i: self.warm_up(warm_raw, i))
            raw, truth, _ = fixture.result()
            if self.workload == "incremental_load":
                self.incremental_load(raw, truth)
            else:
                self.query_mix(raw, truth)
        finally:
            self.peak_rss = sampler.stop()
        self.wall = time.perf_counter() - t0
        con = gatemod.connect(self.final_root)
        gatemod.check_load(self.gate, con, self.final_root, raw, truth)
        gatemod.check_summaries(self.gate, con, self.final_root)
        gatemod.check_calls(self.gate, con, list(self.answers.values()))
        con.close()
        self.gate_s = time.perf_counter() - t0 - self.wall

    def incremental_load(self, raw: str, truth: dict) -> None:
        """Rounds of one-file drops (one per fixture file); each drop is
        followed by run_pipeline (resuming past committed chunks),
        run_aggregates and a dashboard refresh. Rounds repeat until
        --seconds is used up."""
        from logparser_spark.api import LogPipelineAPI

        drops = inputs.drop_order(self.seed, glob.glob(os.path.join(raw, "*.parquet")))
        self.ladder_files = drops[:1]
        ticks = procstat.host_cpu_ticks()
        start = time.perf_counter()
        r = 0
        while True:
            round_dir = os.path.join(self.run_dir, f"round-{r}")
            inbox, out_root = os.path.join(round_dir, "inbox"), os.path.join(round_dir, "sink")
            os.makedirs(inbox)
            api = LogPipelineAPI(self.spark, out_root)
            for i, src in enumerate(drops):
                trace_id = f"round{r}-drop{i}"
                tmp = os.path.join(inbox, f".drop-{i:04d}.tmp")
                shutil.copyfile(src, tmp)
                os.replace(tmp, os.path.join(inbox, f"drop-{i:04d}.parquet"))
                landed = time.perf_counter()
                self.attempted += 1
                rows, load_s, agg_s, cpu_s = self.load(inbox, out_root, i + 1, trace_id)
                self.ready.append(time.perf_counter() - landed)
                self.chunk_traces.append(trace_id)
                self.loads.append(LoadSample(rows, load_s, agg_s, cpu_s))
                # answers are checked against the final sink: keep the last drop's
                self.answers = {}
                q0 = time.perf_counter()
                for j, call in enumerate(inputs.drop_calls(self.seed, truth, i)):
                    self.call(api, call, f"{trace_id}-q{j}")
                self.query_wall += time.perf_counter() - q0
            self.cache_hits += api.cache.hits
            self.cache_misses += api.cache.misses
            r += 1
            if time.perf_counter() - start >= self.seconds:
                break
            shutil.rmtree(round_dir)
        self.window_steal = procstat.steal_share(ticks)
        self.final_root = out_root

    def query_mix(self, raw: str, truth: dict) -> None:
        """The last steps of set-up load the fixture as one chunk,
        aggregate it and warm every endpoint on it; then one client runs
        the seeded call stream closed-loop, in whole blocks (so every run
        issues the same mix of paths) until --seconds are used up."""
        from logparser_spark.api import LogPipelineAPI

        t0 = time.perf_counter()
        self.final_root = os.path.join(self.run_dir, "sink")
        self.attempted += 1
        rows, load_s, agg_s, cpu_s = self.load(raw, self.final_root, 1, "initial-load")
        self.loads.append(LoadSample(rows, load_s, agg_s, cpu_s))
        self.ready.append(load_s + agg_s)
        self.chunk_traces.append("initial-load")
        api = LogPipelineAPI(self.spark, self.final_root)
        self.warm_every_endpoint(api)
        self.one_time_setup_s = time.perf_counter() - t0

        self.ladder_files = sorted(glob.glob(os.path.join(raw, "*.parquet")))
        stream = inputs.query_stream(self.seed, truth)
        ticks = procstat.host_cpu_ticks()
        start = time.perf_counter()
        n = 0
        while time.perf_counter() - start < self.seconds:
            for _ in range(inputs.BLOCK_CALLS):
                self.call(api, next(stream), f"q{n}")
                n += 1
        self.query_wall = time.perf_counter() - start
        self.window_steal = procstat.steal_share(ticks)
        self.cache_hits, self.cache_misses = api.cache.hits, api.cache.misses

    # ---- metrics ----------------------------------------------------------------------

    def _sink_files(self) -> list[str]:
        return glob.glob(os.path.join(self.final_root, "data", "**", "*.parquet"), recursive=True)

    def end_to_end(self) -> dict[str, float]:
        med = statistics.median
        latency = [c.seconds * 1000 for c in self.calls]

        def path_p50(path):
            return stats.percentile(
                [c.seconds * 1000 for c in self.calls if not c.hit and c.call.path == path], 50)

        files = self._sink_files()
        rows = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
        return {
            "setup_s": med(s["total"] for s in self.setups) + self.one_time_setup_s,
            "pipeline_rows_per_s": med(x.rows / (x.load_s + x.agg_s) for x in self.loads),
            "load_rows_per_s": med(x.rows / x.load_s for x in self.loads),
            "aggregate_s": med(x.agg_s for x in self.loads),
            "chunk_ready_p50_s": stats.percentile(self.ready, 50),
            "sink_bytes_per_row": sum(os.path.getsize(f) for f in files) / rows,
            "cpu_s_per_mrow": med(x.cpu_s / (x.rows / 1e6) for x in self.loads),
            "peak_rss_mb": self.peak_rss / 2**20,
            "query_p50_ms": stats.percentile(latency, 50),
            "queries_per_s": len(self.calls) / self.query_wall,
            "live_query_p50_ms": path_p50("live"),
            "summary_query_p50_ms": path_p50("summary"),
            "page_query_p50_ms": path_p50("page"),
        }

    def install_probes(self) -> None:
        """Wrap the library's inner call boundaries for the traced run."""
        from logparser_spark.api import LogPipelineAPI
        from logparser_spark.cache import TTLResultCache
        from logparser_spark.plans.checkpoint import Manifest
        from logparser_spark.sources.sinks import MultiSinkWriter

        t = self.tracer

        def fast_path(span, result):
            if result is not None:
                self.fast_reads.add(span.sid)

        def invalidated(span, n):
            self.invalidated += n

        t.wrap(MultiSinkWriter, "write_chunk", "sources.sinks.write_chunk",
               on_return=lambda span, files: self.written_files.append(files))
        t.wrap(MultiSinkWriter, "exact_chunk_counts", "sources.sinks.counts")
        t.wrap(MultiSinkWriter, "partition_metrics", "sources.sinks.counts")
        t.wrap(Manifest, "completed_chunks", "plans.checkpoint.completed_chunks")
        t.wrap(Manifest, "commit_chunk", "plans.checkpoint.commit")
        for builder in ("get_statistics", "get_top_urls", "get_top_users", "get_statuses",
                        "get_actions", "get_logs", "get_logs_after"):
            t.wrap(LogPipelineAPI, builder, "api.plan")
        t.wrap(LogPipelineAPI, "_summary", "api.summary_read", on_return=fast_path)
        t.wrap(LogPipelineAPI, "_summary_for_k", "api.summary_read", on_return=fast_path)
        t.wrap(TTLResultCache, "get", "cache.get")
        t.wrap(TTLResultCache, "put", "cache.put")
        t.wrap(TTLResultCache, "invalidate_all", "cache.invalidate", on_return=invalidated)

    def per_layer(self) -> dict[str, float]:
        spans = self.tracer.spans
        own = tracing.self_times(spans)
        self.tracer.restore()
        med = statistics.median

        def per_chunk(name):
            """Median over chunk loads of the summed self time of ``name``."""
            totals = dict.fromkeys(self.chunk_traces, 0.0)
            for s in spans:
                if s.name == name and s.trace_id in totals:
                    totals[s.trace_id] += own[s.sid]
            return med(totals.values())

        children = tracing.children_of(spans)
        plan_ms: dict[str, list] = {e: [] for e in ENDPOINTS}
        exec_ms: dict[str, list] = {e: [] for e in ENDPOINTS}
        misses = [c for c in self.calls if not c.hit]
        fast = 0
        for c in misses:
            below = tracing.descendants(children, c.span)
            plan_ms[c.call.endpoint].append(
                sum(k.duration for k in children.get(c.span, []) if k.name == "api.plan") * 1000)
            exec_ms[c.call.endpoint].append(own[c.span] * 1000)
            fast += any(k.sid in self.fast_reads for k in below)

        manifest = os.path.join(self.final_root, "manifest.jsonl")
        with open(manifest) as fh:
            records = [json.loads(line) for line in fh if line.strip()]
        routed = {c: sum(r["rows_per_category"].get(c, 0) for r in records) for c in CATEGORIES}
        rows = sum(r["rows"] for r in records)
        sink_files = self._sink_files()
        lookups = self.cache_hits + self.cache_misses
        self.span_count = len(spans)

        return {
            "session.build_s": self.setups[0]["build"],
            "session.warmup_s": med(s["warmup"] for s in self.setups),
            **layers.ladder(self.spark, self.ladder_files, os.path.join(self.run_dir, "ladder")),
            "parse.rejected_rows": routed["quarantine"],
            "parse.reject_ratio": routed["quarantine"] / rows,
            **{f"route.rows.{c}": routed[c] for c in CATEGORIES},
            "sinks.counts_s": per_chunk("sources.sinks.counts"),
            "sinks.files_written": med(self.written_files),
            "sinks.bytes_written": sum(os.path.getsize(f) for f in sink_files) / len(records),
            "sinks.files_total": len(sink_files),
            "manifest.completed_chunks_s": per_chunk("plans.checkpoint.completed_chunks"),
            "manifest.commit_s": per_chunk("plans.checkpoint.commit"),
            "manifest.bytes": os.path.getsize(manifest),
            "aggregate.run_s": med(s.duration for s in spans if s.name == "plans.aggregates"
                                   and s.trace_id in self.chunk_traces),
            **layers.aggregates_alone(self.summaries),
            **{f"api.{e}.plan_ms": med(plan_ms[e]) if plan_ms[e] else 0.0 for e in ENDPOINTS},
            **{f"api.{e}.exec_ms": med(exec_ms[e]) if exec_ms[e] else 0.0 for e in ENDPOINTS},
            "api.fast_path_ratio": fast / len(misses) if misses else 0.0,
            "api.rows_returned": sum(c.rows for c in self.calls),
            "cache.hits": self.cache_hits,
            "cache.misses": self.cache_misses,
            "cache.hit_ratio": self.cache_hits / lookups if lookups else 0.0,
            "cache.invalidated": self.invalidated,
            "trace.overhead_ratio": _wrapped_call_cost() * len(spans) / self.wall,
        }


def _wrapped_call_cost(n: int = 2000) -> float:
    """Seconds a traced call costs beyond an untraced one: the same
    method called through ``Tracer.wrap`` (span, contextvar, wrapper
    frame, on_return) and then bare."""

    class Probe:
        def call(self, x):
            return x

    probe = Probe()
    t0 = time.perf_counter()
    for i in range(n):
        probe.call(i)
    bare = time.perf_counter() - t0
    tracer = tracing.Tracer()
    tracer.wrap(Probe, "call", "probe", on_return=lambda span, result: None)
    t0 = time.perf_counter()
    for i in range(n):
        probe.call(i)
    traced = time.perf_counter() - t0
    tracer.restore()
    return max(traced - bare, 0.0) / n


def _prepare_env() -> None:
    """Keep every file Spark and its workers write inside the checkout,
    and put the library on the Python workers' import path."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp  # gettempdir() may have cached another directory
    # the short-lived JVM that spark-submit runs to build the command line
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_HEAP
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)


def _source_digest() -> str:
    """SHA-256 over the library's and the benchmark's Python sources, so
    figures of two runs are only compared when both ran the same code."""
    h = hashlib.sha256()
    for pattern in ("logparser_spark/**/*.py", "perfbench/*.py"):
        for path in sorted(glob.glob(os.path.join(ROOT, pattern), recursive=True)):
            h.update(os.path.relpath(path, ROOT).encode())
            with open(path, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def _versions() -> dict:
    import duckdb
    import pyarrow
    import pyspark

    return {"spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
            "duckdb": duckdb.__version__, "python": sys.version.split()[0]}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import logparser_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import logparser_spark from {ROOT}: {exc}", file=sys.stderr)
        return 2
    _prepare_env()
    cpus = len(os.sched_getaffinity(0))
    rows, files = inputs.FIXTURES[args.workload]

    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace), cpus)
    with ThreadPoolExecutor(max_workers=1) as pool:
        fixture = pool.submit(inputs.ensure_fixture, WORK, args.seed, rows, files)
        try:
            if bench.tracer is not None:
                bench.install_probes()
            bench.run(fixture)
            e2e = bench.end_to_end()
            metrics = bench.per_layer() if bench.tracer is not None else e2e
        finally:
            bench.close()
    gen_s = fixture.result()[2]

    units = PER_LAYER if args.trace else END_TO_END
    failed = bench.failed + bench.gate.failed
    attempted = bench.attempted + len(bench.gate.checks)
    calls = bench.calls
    misses = [c for c in calls if not c.hit]
    digest = _source_digest()
    untraced_path = os.path.join(
        WORK, "untraced", f"{args.workload}-seed{args.seed}-{digest[:16]}.json")
    latency = [c.seconds * 1000 for c in calls]
    info = {
        "host_cpus": cpus,
        "master": f"local[{cpus}]",
        **_versions(),
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "source_digest": digest,
        "driver_heap": DRIVER_HEAP,
        "fixture": {"rows": rows, "files": files,
                    "generation_s": gen_s, "cached": gen_s == 0.0},
        "setup_cycles_s": [s["total"] for s in bench.setups],
        "one_time_setup_s": bench.one_time_setup_s,
        "measured_s": bench.wall - sum(s["total"] for s in bench.setups) - bench.one_time_setup_s,
        "gate_s": bench.gate_s,
        # share of the host's CPU time taken by other tenants (steal)
        # during the measured window: a high value explains a slow run
        "window_cpu_steal_share": bench.window_steal,
        "chunks": len(bench.ready),
        "queries": len(calls),
        "percentile_rule": "linear between closest ranks, over all timed API calls "
                           "(cache hits included)",
        "query_tail_supported_percentile": stats.supported_percentile(len(calls)),
        # not a metric: no run in the budget makes the 200 calls that
        # would put 10 samples beyond it (stats.supported_percentile)
        "query_p95_ms": stats.percentile(latency, 95),
        "repeat_share_stated": inputs.REPEAT_SHARE if args.workload == "query_mix" else 0.0,
        "repeat_share_measured": sum(c.hit for c in calls) / len(calls),
        "path_share": {p: sum(c.call.path == p for c in misses) / len(calls)
                       for p in ("summary", "live", "page")}
        | {"cache": sum(c.hit for c in calls) / len(calls)},
        "error_rate": failed / attempted,
        "gate_checks": len(bench.gate.checks),
        "gate_failures": bench.gate.failures(),
    }
    if args.trace:
        # the traced run's own end-to-end figures, and their relative
        # difference from an untraced run of the same seed and source
        info["e2e"] = e2e
        info["trace_spans"] = bench.span_count
        if os.path.exists(untraced_path):
            with open(untraced_path) as fh:
                untraced = json.load(fh)
            info["trace_overhead"] = {n: e2e[n] / untraced[n] - 1 for n in END_TO_END}
    else:
        os.makedirs(os.path.dirname(untraced_path), exist_ok=True)
        with open(untraced_path, "w") as fh:
            json.dump(e2e, fh)
    print(json.dumps({"info": info}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": float(metrics[n]), "unit": u} for n, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
