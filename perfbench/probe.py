"""Measurement from outside the engine: Spark status-store counters per
job group, output-directory counts, peak RSS from ``/proc`` and an
in-memory span tracer."""

from __future__ import annotations

import json
import os
import time
import uuid
from contextlib import contextmanager

#: status-store stage fields summed per span, by metric name
STAGE_FIELDS = {
    "spark.executor_run_ms": "executorRunTime",
    "spark.executor_cpu_ms": "executorCpuTime",  # ns in the store, scaled below
    "spark.gc_ms": "jvmGcTime",
    "spark.shuffle_read_bytes": "shuffleReadBytes",
    "spark.shuffle_write_bytes": "shuffleWriteBytes",
    "spark.spill_bytes": "diskBytesSpilled",
    "readers.input_bytes": "inputBytes",
    "readers.input_records": "inputRecords",
    "writers.store_output_bytes": "outputBytes",
}

COUNTER_NAMES = (
    "spark.jobs",
    "spark.stages",
    "spark.tasks",
    *STAGE_FIELDS,
    "spark.peak_execution_memory_bytes",
)


class StatusStore:
    """Reads finished jobs from the driver's ``AppStatusStore``, which is
    populated with the UI disabled too."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._ssc = self.sc._jsc.sc()

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        store holds the metrics of jobs that have already returned."""
        self._ssc.listenerBus().waitUntilEmpty()

    def job_ids(self, group: str) -> set[int]:
        return set(self.sc.statusTracker().getJobIdsForGroup(group))

    def counters(self, job_ids) -> dict[str, float]:
        store = self._ssc.statusStore()
        out = {k: 0 for k in COUNTER_NAMES}
        seen: set[int] = set()
        for job_id in sorted(job_ids):
            job = store.job(int(job_id))
            out["spark.jobs"] += 1
            stage_ids = job.stageIds()
            for i in range(stage_ids.size()):
                sid = int(stage_ids.apply(i))
                if sid in seen:
                    continue
                seen.add(sid)
                stage = store.lastStageAttempt(sid)
                if stage.status().toString() != "COMPLETE":
                    continue  # skipped: its shuffle output was reused
                out["spark.stages"] += 1
                out["spark.tasks"] += stage.numCompleteTasks()
                for name, field in STAGE_FIELDS.items():
                    out[name] += getattr(stage, field)()
                out["spark.peak_execution_memory_bytes"] = max(
                    out["spark.peak_execution_memory_bytes"], stage.peakExecutionMemory()
                )
        out["spark.executor_cpu_ms"] /= 1e6
        return out


@contextmanager
def job_group(spark, group: str):
    """Tag every job the body starts on this thread with ``group``; the
    group active before (an enclosing span's) is restored on exit."""
    sc = spark.sparkContext
    prev = (sc.getLocalProperty("spark.jobGroup.id"), sc.getLocalProperty("spark.job.description"))
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev[0])
        sc.setLocalProperty("spark.job.description", prev[1])


def dir_stats(paths: list[str]) -> dict[str, int]:
    """Parquet files, directories holding them, and their bytes under
    ``paths`` (markers and checksum side files excluded)."""
    files = dirs = size = 0
    for root, _sub, names in (entry for path in paths for entry in os.walk(path)):
        data = [n for n in names if n.endswith(".parquet")]
        dirs += bool(data)
        files += len(data)
        size += sum(os.path.getsize(os.path.join(root, n)) for n in data)
    return {"files": files, "dirs": dirs, "bytes": size}


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


def jvm_pid(spark) -> int:
    """Pid of the driver JVM: the gateway process, or its ``java`` child
    when the launcher script did not ``exec`` it."""
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/comm") as fh:
        if fh.read().strip() == "java":
            return pid
    with open(f"/proc/{pid}/task/{pid}/children") as fh:
        for child in fh.read().split():
            with open(f"/proc/{child}/comm") as c:
                if c.read().strip() == "java":
                    return int(child)
    raise RuntimeError("driver JVM not found")


def peak_rss_mb(jvm: int) -> float:
    """Peak resident set of the JVM plus this Python process, in MiB."""
    return (_vm_hwm_kb(jvm) + _vm_hwm_kb("self")) / 1024.0


class Tracer:
    """Spans kept in memory and written as JSON at the end.

    A span records name, start, end, parent, run id and job group.  Its
    body runs under a job group of its own; the span's counters are the
    status-store totals of the jobs in that group, in its children's
    groups, and the jobs newly added to any ``watch`` group (a streaming
    query runs its batches under a group of its own, its run id).  With
    ``enabled`` off a span is a no-op, so one code path serves timed
    and traced operations."""

    def __init__(self, spark):
        self.enabled = False
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._store = StatusStore(spark)
        self._spark = spark
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, watch: tuple[str, ...] = ()):
        """Time the body as one span; yields the span record (``None``
        when tracing is off)."""
        if not self.enabled:
            yield None
            return
        group = f"pb-{self.run_id}-{len(self.spans)}"
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "run_id": self.run_id,
            "job_group": group,
            "start_s": time.perf_counter() - self._t0,
            "_jobs": set(),
        }
        self.spans.append(rec)
        before = {g: self._store.job_ids(g) for g in watch}
        self._stack.append(rec)
        try:
            with job_group(self._spark, group):
                yield rec
        finally:
            rec["end_s"] = time.perf_counter() - self._t0
            self._stack.pop()
            self._store.drain()
            rec["_jobs"] |= self._store.job_ids(group)
            for g, ids in before.items():
                rec["_jobs"] |= self._store.job_ids(g) - ids
            rec["counters"] = self._store.counters(rec["_jobs"])
            if self._stack:
                self._stack[-1]["_jobs"] |= rec["_jobs"]

    def _self_times(self) -> None:
        """Self time = duration minus the union of the children's spans."""
        for rec in self.spans:
            kids = sorted((c["start_s"], c["end_s"]) for c in self.spans if c["parent"] == rec["id"])
            covered, lo, hi = 0.0, None, None
            for s, e in kids:
                if hi is None or s > hi:
                    covered += 0.0 if hi is None else hi - lo
                    lo, hi = s, e
                else:
                    hi = max(hi, e)
            covered += 0.0 if hi is None else hi - lo
            rec["self_s"] = rec["end_s"] - rec["start_s"] - covered

    def write(self, path: str, extra: dict) -> None:
        self._self_times()
        spans = [{k: v for k, v in rec.items() if k != "_jobs"} for rec in self.spans]
        with open(path, "w") as fh:
            json.dump({"run_id": self.run_id, **extra, "spans": spans}, fh, indent=1)
