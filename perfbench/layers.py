"""Per-layer figures for the traced run, measured from outside the library.

``scan``, ``parse``, ``enrich`` and ``route`` are lazy: they fuse into
the write job, so no call boundary separates them. The ladder executes
the cumulative plans scan -> +parse -> +enrich -> +route (each fully
executed, no rows returned to Python) and then the real sink write; a
layer's time is its step's increment. Each executed plan is then walked
for Spark's per-operator SQL metrics: AdaptiveSparkPlan -> its final
plan, each *QueryStage -> its plan, then children.
"""

from __future__ import annotations

import shutil
import statistics
import time

LADDER_REPEATS = 3


def _iterate(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def plan_metrics(jplan) -> list[tuple[str, str, float]]:
    """(operator, metric, value) for every node of an executed plan;
    timings in ms, sizes in bytes."""
    out = []
    for kv in _iterate(jplan.metrics()):
        metric = kv._2()
        value = float(metric.value())
        if metric.metricType() == "nsTiming":
            value /= 1e6
        out.append((jplan.nodeName(), kv._1(), value))
    cls = jplan.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        return out + plan_metrics(jplan.executedPlan())
    if cls.endswith("QueryStageExec"):
        return out + plan_metrics(jplan.plan())
    for child in _iterate(jplan.children()):
        out += plan_metrics(child)
    return out


def execute(df) -> tuple[float, int, list[tuple[str, str, float]]]:
    """Run a DataFrame's plan to completion without collecting rows.
    Returns (seconds, result partitions, per-operator metrics)."""
    qe = df._jdf.queryExecution()
    t0 = time.perf_counter()
    rdd = qe.toRdd()
    rdd.count()
    seconds = time.perf_counter() - t0
    return seconds, rdd.getNumPartitions(), plan_metrics(qe.executedPlan())


def metric_sum(metrics, operator: str, name: str) -> float:
    return sum(v for op, m, v in metrics if op.startswith(operator) and m == name)


def ladder(spark, files: list[str], scratch: str) -> dict[str, float]:
    """Layer times and boundary metrics for one load chunk over ``files``."""
    from logparser_spark.functions.parse import with_parsed
    from logparser_spark.operators.enrich import enrich, load_dims
    from logparser_spark.plans.pipeline import build_routed
    from logparser_spark.sources.sequences import read_raw_sequences
    from logparser_spark.sources.sinks import MultiSinkWriter

    def scan():
        return read_raw_sequences(spark, files)

    steps = {
        "scan": scan,
        "parse": lambda: with_parsed(scan()),
        "enrich": lambda: enrich(with_parsed(scan()), load_dims(spark)),
        "route": lambda: build_routed(spark, scan()),
    }
    times: dict[str, float] = {}
    last: dict[str, tuple] = {}
    for name, build in steps.items():
        runs = [execute(build()) for _ in range(LADDER_REPEATS)]
        times[name] = statistics.median(r[0] for r in runs)
        last[name] = runs[-1]

    writes = []
    for i in range(LADDER_REPEATS):
        writer = MultiSinkWriter(scratch)
        routed = build_routed(spark, scan())
        t0 = time.perf_counter()
        writer.write_chunk(routed, f"ladder-{i:02d}")
        writes.append(time.perf_counter() - t0)
        shutil.rmtree(scratch, ignore_errors=True)
    times["write"] = statistics.median(writes)

    scan_metrics = last["scan"][2]
    parse_metrics = last["parse"][2]
    return {
        "scan.s": times["scan"],
        "scan.bytes_read": metric_sum(scan_metrics, "Scan", "filesSize"),
        "scan.tasks": float(last["scan"][1]),
        "parse.s": times["parse"] - times["scan"],
        "parse.python_run_ms": metric_sum(parse_metrics, "ArrowEvalPython", "pythonTotalTime"),
        "parse.python_init_ms": metric_sum(parse_metrics, "ArrowEvalPython", "pythonInitTime"),
        "parse.bytes_to_python": metric_sum(parse_metrics, "ArrowEvalPython", "pythonDataSent"),
        "parse.bytes_from_python": metric_sum(
            parse_metrics, "ArrowEvalPython", "pythonDataReceived"),
        "enrich.s": times["enrich"] - times["parse"],
        "enrich.broadcast_bytes": metric_sum(last["enrich"][2], "BroadcastExchange", "dataSize"),
        "route.s": times["route"] - times["enrich"],
        "sinks.write_chunk_s": times["write"] - times["route"],
    }


def aggregates_alone(summaries: dict) -> dict[str, float]:
    """Each summary DataFrame that run_aggregates returned, executed on
    its own: its time, and the shuffle bytes of all of them."""
    out: dict[str, float] = {}
    shuffle = 0.0
    for name, df in summaries.items():
        seconds, _, metrics = execute(df)
        out[f"aggregate.{name}_s"] = seconds
        shuffle += metric_sum(metrics, "Exchange", "shuffleBytesWritten")
    out["aggregate.shuffle_bytes"] = shuffle
    return out
