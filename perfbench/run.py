#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload backfill_month --seed 1 --seconds 10 --trace 0

Run from the root of the repository.  The seed stages byte-identical
inputs under ``.perfbench/`` and the engine reads only those.  After
three set-ups (session start + staging; the median is ``setup_s``) and
``WARMUP_OPS`` untimed warm-up operations, the workload repeats its
operation for ``--seconds`` and then checks the last operation's outputs against a
closed form.  The last line of stdout is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics of
``BENCHMARK.json``, or with ``--trace 1`` its per-layer metrics).  The
line before it records the run's context.  A failed operation or a
failed gate exits 1.  See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SETUPS = 3
#: untimed operations first: cold runs are 2-3x slower, and JIT warming
#: keeps cutting 10-20% off each of the next two or three operations
WARMUP_OPS = 3
DRIVER_MEMORY = "3g"  # well inside a 15 GB box, where the engine's 8g default is not


def _median_dicts(dicts: list[dict]) -> dict[str, float]:
    return {k: statistics.median(d[k] for d in dicts) for k in dicts[0]}


def _isolate(work: Path) -> None:
    """Size the driver heap and keep Spark's and Python's scratch files
    inside ``work``."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ.setdefault("SPARK_DRIVER_MEMORY", DRIVER_MEMORY)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    # initial heap = max heap: the heap does not grow by GC ergonomics mid-run,
    # which keeps both latency and peak RSS steady from run to run
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"--driver-java-options -Xms{os.environ['SPARK_DRIVER_MEMORY']} pyspark-shell"
    os.environ["TMPDIR"] = str(tmp)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"


def traced_metrics(wl, tracer, spans_from: int, wall_s: float, cpus: int, since) -> dict[str, float]:
    """Per-layer metrics of the traced operation whose spans start at
    index ``spans_from``."""
    from probe import COUNTER_NAMES, dir_stats
    from workloads import Cycle5Min, CurateCorpus

    spans = tracer.spans[spans_from:]
    root = spans[0]
    m = {k: float(root["counters"][k]) for k in COUNTER_NAMES}
    m["spark.cpu_busy_share"] = m["spark.executor_cpu_ms"] / (wall_s * 1000.0 * cpus)
    dirs, rows = wl.outputs()
    ws = dir_stats(dirs)
    m.update(
        {
            "writers.files_written": ws["files"],
            "writers.partition_dirs": ws["dirs"],
            "writers.output_bytes": ws["bytes"],
            "writers.bytes_per_row": ws["bytes"] / rows if rows else 0.0,
        }
    )
    m.update(wl.layers())
    by_name = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s["end_s"] - s["start_s"])
    if isinstance(wl, Cycle5Min):
        ticks = [s for s in spans if s["name"] in ("runner.producer_tick", "runner.executor_tick")]
        m["runner.producer_tick_s"] = by_name["runner.producer_tick"][0]
        m["runner.executor_tick_s"] = by_name["runner.executor_tick"][0]
        m["runner.spark_jobs_per_tick"] = float(sum(s["counters"]["spark.jobs"] for s in ticks))
        m.update(stream_metrics(wl.progress(since)))
    if isinstance(wl, CurateCorpus):
        for metric, span in (
            ("functions.dedup.pairs_s", "functions.dedup.pairs"),
            ("functions.dedup.components_s", "functions.dedup.components"),
            ("functions.curation.curate_s", "functions.curation.curate"),
            ("functions.spans.remove_s", "functions.spans.remove"),
            ("functions.sampling.mixture_s", "functions.sampling.mixture"),
            ("functions.packing.pack_s", "functions.packing.pack"),
            ("functions.packing.shards_s", "functions.packing.shards"),
        ):
            m[metric] = by_name[span][0]
    return m


def stream_metrics(progress: list[dict]) -> dict[str, float]:
    """Mean per-batch figures from ``recentProgress`` reports."""
    n = len(progress)
    dur = lambda k: sum(p["durationMs"].get(k, 0) for p in progress) / n  # noqa: E731
    state = [p["stateOperators"][0] for p in progress]
    return {
        "streaming.batches": float(n),
        "streaming.input_rows_per_batch": sum(p["numInputRows"] for p in progress) / n,
        "streaming.trigger_ms": dur("triggerExecution"),
        "streaming.add_batch_ms": dur("addBatch"),
        "streaming.wal_commit_ms": dur("walCommit"),
        "streaming.commit_offsets_ms": dur("commitOffsets"),
        "streaming.query_planning_ms": dur("queryPlanning"),
        "streaming.get_batch_ms": dur("getBatch"),
        "streaming.state_commit_ms": sum(s["commitTimeMs"] for s in state) / n,
        "streaming.state_rows_dropped_by_watermark": float(sum(s["numRowsDroppedByWatermark"] for s in state)),
        "streaming.state_rows_total": float(sum(s["numRowsTotal"] for s in state)),
        "streaming.state_memory_bytes": float(sum(s["memoryUsedBytes"] for s in state)),
    }


def run(args, work: Path, cpus: int) -> tuple[dict, dict]:
    import inputs
    from probe import Tracer, jvm_pid, peak_rss_mb
    from workloads import WORKLOADS

    from tg_reporting_etl_spark.session import get_spark

    cls = WORKLOADS[args.workload]
    spark = wl = None
    starts, stages, setups = [], [], []
    for k in range(SETUPS):
        if wl is not None:
            wl.close()
            spark.stop()
            shutil.rmtree(work / f"in{k - 1}", ignore_errors=True)
            shutil.rmtree(work / f"w{k - 1}", ignore_errors=True)
        t0 = time.perf_counter()
        spark = get_spark("perfbench", cpus=cpus)
        t1 = time.perf_counter()
        start = inputs.stage(str(work / f"in{k}"), args.seed, args.size)
        tracer = Tracer(spark)
        wl = cls(spark, str(work / f"in{k}"), str(work / f"w{k}"), start, tracer)
        t2 = time.perf_counter()
        starts.append(t1 - t0)
        stages.append(t2 - t1)
        setups.append(t2 - t0)

    attempted = failed = 0
    errors: list[str] = []
    latencies: list[float] = []
    warmup_s: list[float] = []
    traced: list[dict] = []
    traced_lat: list[float] = []
    i = 0

    def timed_loop(seconds: float, per_op=None) -> list[float]:
        nonlocal i, attempted
        lat = []
        deadline = time.perf_counter() + seconds
        while not wl.exhausted(i):
            since = wl.last_batch()
            n_spans = len(tracer.spans)
            attempted += wl.units
            t = time.perf_counter()
            wl.op(i)
            lat.append(time.perf_counter() - t)
            i += 1
            if per_op:
                per_op(n_spans, lat[-1], since)
            if time.perf_counter() >= deadline:
                break
        return lat

    try:
        for _ in range(WARMUP_OPS):
            attempted += wl.units
            t = time.perf_counter()
            wl.op(i)
            warmup_s.append(time.perf_counter() - t)
            i += 1
        share = 0.5 if args.trace else 1.0
        latencies = timed_loop(args.seconds * share)
        if args.trace:
            tracer.enabled = True
            traced_lat = timed_loop(
                args.seconds * share,
                lambda n_spans, wall, since: traced.append(traced_metrics(wl, tracer, n_spans, wall, cpus, since)),
            )
            tracer.enabled = False
        errors = wl.gate()
    except Exception:
        errors.append(traceback.format_exc())
    failed = min(len(errors), attempted) if errors else 0
    rss = peak_rss_mb(jvm_pid(spark))
    wl.close()
    spark.stop()

    context = {
        "workload": args.workload,
        "seed": args.seed,
        "size": args.size,
        "master": f"local[{cpus}]",
        "driver_memory": os.environ["SPARK_DRIVER_MEMORY"],
        "operations": len(latencies) + len(traced_lat),
        "latencies_s": latencies,
        "setups_s": setups,
        "warmup_s": warmup_s,
        "errors": errors,
    }
    if not latencies and not errors:
        errors.append("no operation was timed")
    if errors:
        return context, {"correct": False, "attempted": max(attempted, 1), "failed": max(failed, 1), "metrics": {}}

    if args.trace:
        metrics = {"session.start_s": starts[0], "adapters.stage_s": statistics.median(stages)}
        metrics["trace.overhead_s"] = statistics.median(traced_lat) - statistics.median(latencies)
        metrics.update(_median_dicts(traced))
        trace_dir = ROOT / ".perfbench" / "traces"
        trace_dir.mkdir(parents=True, exist_ok=True)
        trace_file = trace_dir / f"{args.workload}-seed{args.seed}.json"
        tracer.write(str(trace_file), {"context": context, "metrics": metrics})
        context["trace_file"] = str(trace_file.relative_to(ROOT))
    else:
        metrics = {
            "latency_s": statistics.median(latencies),
            "setup_s": statistics.median(setups),
            "peak_rss_mb": rss,
        }
    return context, {"correct": True, "attempted": attempted, "failed": 0, "metrics": metrics}


def with_units(metrics: dict[str, float], trace: int) -> dict[str, dict]:
    """Every metric ``BENCHMARK.json`` lists for this mode, with its unit;
    a layer the workload does not touch reads 0."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {
        m["name"]: {"value": float(metrics.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in spec["per_layer" if trace else "end_to_end"]
    }


def _stop_jvm() -> None:
    """End the driver JVM and wait for it; it would otherwise outlive
    this process by the time it takes to notice its stdin closed."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.terminate()
        gateway.proc.wait(timeout=60)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("cycle_5min", "curate_corpus"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("bench", "smoke"), default="bench", help="input size (smoke: for the tests)")
    args = ap.parse_args(argv)

    if not (ROOT / "tg_reporting_etl_spark" / "__init__.py").is_file() or not (ROOT / "BENCHMARK.json").is_file():
        print(f"perfbench: no engine package and BENCHMARK.json under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [str(HERE), str(ROOT)]
    cpus = len(os.sched_getaffinity(0))
    work = ROOT / ".perfbench" / f"work-{args.workload}-{args.seed}-{os.getpid()}"
    _isolate(work)
    try:
        context, result = run(args, work, cpus)
    finally:
        _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    result["metrics"] = with_units(result["metrics"], args.trace) if result["correct"] else {}
    print(json.dumps({"context": context}))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
