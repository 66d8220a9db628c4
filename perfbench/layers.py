"""Layer attribution for a traced run, read from outside the program.

The benchmark records spans around its own calls into each layer
(session, registry, sources, operators, spark, caching) and tags every
job a query triggers with the job group ``workload/pass/query/phase``.
After a pass it reads Spark's status stores: job submission and
completion times and per-stage task metrics from the core store, and
the Python UDF metrics from the SQL store. Nothing in the program is
instrumented.
"""

from __future__ import annotations

import statistics
import time
from dataclasses import dataclass, field

# query phases in order; "storage" is the tracer's own read of the
# storage held just before release, and fires no job
PHASES = ("build", "plan", "exec", "storage", "release")
JOB_PHASES = ("build", "plan", "exec", "release")

# the per-layer metrics a traced run reports, in BENCHMARK.json order
PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "registry.import_s": "s",
    "sources.scan_s": "s",
    "sources.input_rows": "count",
    "operators.build_s": "s",
    "operators.build_jobs": "count",
    "operators.build_gap_s": "s",
    "spark.plan_s": "s",
    "spark.exec_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_run_s": "s",
    "spark.task_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.driver_gap_s": "s",
    "spark.slot_util": "ratio",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "caching.release_s": "s",
    "caching.released": "count",
    "caching.stored_bytes": "bytes",
    "udf.bytes_sent": "bytes",
    "udf.bytes_received": "bytes",
    "udf.rows_received": "count",
    "trace.overhead_s": "s",
}

_STAGE_KEYS = (
    "tasks", "task_run_s", "task_cpu_s", "gc_s", "input_rows",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
)
_SIZE_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_UDF_METRICS = {
    "udf.bytes_sent": "data sent to Python workers",
    "udf.bytes_received": "data returned from Python workers",
    "udf.rows_received": "number of output rows",
}


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def parse_metric(text: str) -> float:
    """Value of a formatted SQL metric: '1,234', '43.5 KiB', or the
    'total (min, med, max ...)' form whose total opens the last line.
    Sizes are formatted to four significant digits, so byte counts read
    this way carry that precision."""
    tokens = text.strip().split("\n")[-1].split()
    value = float(tokens[0].replace(",", ""))
    if len(tokens) > 1 and tokens[1] in _SIZE_UNITS:
        value *= _SIZE_UNITS[tokens[1]]
    return value


def _iterate(seq):
    """Iterate a Scala collection over py4j."""
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


@dataclass
class QueryRecord:
    """One query execution: start and the end of each phase reached,
    in the clock of whoever recorded it."""

    query: str
    start: float
    marks: dict[str, float] = field(default_factory=dict)
    released: int = 0
    stored_bytes: int = 0
    error: str | None = None

    @property
    def end(self) -> float:
        return max(self.marks.values(), default=self.start)

    def phase_bounds(self) -> dict[str, tuple[float, float]]:
        bounds, lo = {}, self.start
        for ph in PHASES:
            if ph in self.marks:
                bounds[ph] = (lo, self.marks[ph])
                lo = self.marks[ph]
        return bounds


class Tracer:
    """Job-group tagging and status-store reads for one workload run.
    ``now()`` is epoch seconds, the clock Spark's job times use."""

    def __init__(self, spark, workload: str, cores: int):
        self.spark = spark
        self.sc = spark.sparkContext
        self.workload = workload
        self.cores = cores
        self.spans: list[dict] = []
        self._epoch = time.time() - time.perf_counter()

    def now(self) -> float:
        return self._epoch + time.perf_counter()

    def group(self, label: str, query: str, phase: str) -> None:
        g = f"{self.workload}/{label}/{query}/{phase}"
        self.sc.setJobGroup(g, g)

    def clear_group(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def stored_bytes(self) -> int:
        """Storage memory plus disk held by cached and checkpointed RDDs."""
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        return int(sum(i.memSize() + i.diskSize() for i in infos))

    def _jobs(self, group: str) -> list[dict]:
        store = self.sc._jsc.sc().statusStore()
        tracker = self.sc.statusTracker()
        jobs = []
        for jid in sorted(tracker.getJobIdsForGroup(group)):
            j = store.job(jid)
            sub, done = j.submissionTime(), j.completionTime()
            if not (sub.isDefined() and done.isDefined()):
                continue
            info = tracker.getJobInfo(jid)
            jobs.append({
                "job": jid,
                "start": sub.get().getTime() / 1e3,
                "end": done.get().getTime() / 1e3,
                "stages": list(info.stageIds) if info else [],
            })
        return jobs

    def _stage(self, sid: int) -> dict | None:
        """Task metrics of a stage's last attempt; {} if it was skipped,
        None if the bounded store has already evicted it."""
        try:
            s = self.sc._jsc.sc().statusStore().lastStageAttempt(sid)
        except Exception:  # noqa: BLE001 - py4j wraps NoSuchElementException
            return None
        if s.status().toString() == "SKIPPED":
            return {}
        return {
            "tasks": s.numCompleteTasks(),
            "task_run_s": s.executorRunTime() / 1e3,
            "task_cpu_s": s.executorCpuTime() / 1e9,
            "gc_s": s.jvmGcTime() / 1e3,
            "input_rows": s.inputRecords(),
            "shuffle_read_bytes": s.shuffleReadBytes(),
            "shuffle_write_bytes": s.shuffleWriteBytes(),
            "spill_bytes": s.memoryBytesSpilled(),
        }

    def _udf(self, groups: set[str]) -> dict[str, float]:
        """Python-boundary SQL metrics of the executions in ``groups``
        (an execution's description is the job group it ran under)."""
        store = self.spark._jsparkSession.sharedState().statusStore()
        out = dict.fromkeys(_UDF_METRICS, 0.0)
        sent = _UDF_METRICS["udf.bytes_sent"]
        for e in _iterate(store.executionsList()):
            if e.description() not in groups:
                continue
            if not any(m.name() == sent for m in _iterate(e.metrics())):
                continue
            values = store.executionMetrics(e.executionId())
            for node in _iterate(store.planGraph(e.executionId()).allNodes()):
                ids = {m.name(): m.accumulatorId() for m in _iterate(node.metrics())}
                if sent not in ids:
                    continue
                for key, name in _UDF_METRICS.items():
                    v = values.get(ids.get(name, -1))
                    if v.isDefined():
                        out[key] += parse_metric(v.get())
        return out

    def attribute(self, label: str, records: list[QueryRecord]) -> tuple[dict, dict]:
        """Per-layer totals of one traced pass and per-query detail;
        adds the phase and job spans to ``self.spans``."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        totals = dict.fromkeys(
            ["operators.build_s", "operators.build_jobs", "operators.build_gap_s",
             "spark.plan_s", "spark.exec_s", "spark.jobs", "spark.stages",
             "spark.driver_gap_s", "caching.release_s", "caching.released",
             "caching.stored_bytes", "sources.input_rows"]
            + [f"spark.{k}" for k in _STAGE_KEYS if k != "input_rows"],
            0.0,
        )
        active_wall, missing, groups, detail = 0.0, 0, set(), {}
        for rec in records:
            q: dict = {"wall_s": rec.end - rec.start}
            intervals, stages = [], {}
            for ph, (lo, hi) in rec.phase_bounds().items():
                g = f"{self.workload}/{label}/{rec.query}/{ph}"
                self.spans.append({"name": f"query.{ph}", "pass": label, "query": rec.query,
                                   "start": lo, "end": hi})
                q[f"{ph}_s"] = hi - lo
                if ph not in JOB_PHASES:
                    continue
                groups.add(g)
                jobs = self._jobs(g)
                q[f"{ph}_jobs"] = len(jobs)
                spans = [(j["start"], j["end"]) for j in jobs]
                intervals += spans
                if ph == "build":
                    q["build_gap_s"] = (hi - lo) - covered(spans, lo, hi)
                for j in jobs:
                    self.spans.append({"name": "spark.job", "job": j["job"], "parent": g,
                                       "start": j["start"], "end": j["end"]})
                    for sid in j["stages"]:
                        if sid not in stages:
                            stages[sid] = self._stage(sid)
            active = covered(intervals, rec.start, rec.end)
            active_wall += active
            q["driver_gap_s"] = q["wall_s"] - active
            q["span_cover"] = (
                sum(hi - lo for lo, hi in rec.phase_bounds().values()) / q["wall_s"]
                if q["wall_s"] > 0 else 1.0
            )
            ran = [s for s in stages.values() if s]
            missing += sum(1 for s in stages.values() if s is None)
            q["jobs"] = sum(q.get(f"{ph}_jobs", 0) for ph in JOB_PHASES)
            q["stages"] = len(ran)
            for k in _STAGE_KEYS:
                q[k] = sum(s[k] for s in ran)
            q["released"], q["stored_bytes"] = rec.released, rec.stored_bytes
            detail[rec.query] = q

            totals["operators.build_s"] += q.get("build_s", 0.0)
            totals["operators.build_jobs"] += q.get("build_jobs", 0)
            totals["operators.build_gap_s"] += q.get("build_gap_s", 0.0)
            totals["spark.plan_s"] += q.get("plan_s", 0.0)
            totals["spark.exec_s"] += q.get("exec_s", 0.0)
            totals["caching.release_s"] += q.get("release_s", 0.0)
            totals["caching.released"] += rec.released
            totals["caching.stored_bytes"] += rec.stored_bytes
            totals["spark.driver_gap_s"] += q["driver_gap_s"]
            totals["spark.jobs"] += q["jobs"]
            totals["spark.stages"] += q["stages"]
            totals["sources.input_rows"] += q["input_rows"]
            for k in _STAGE_KEYS:
                if k != "input_rows":
                    totals[f"spark.{k}"] += q[k]
        totals["spark.slot_util"] = (
            totals["spark.task_run_s"] / (active_wall * self.cores) if active_wall else 0.0
        )
        totals.update(self._udf(groups))
        totals["trace.evicted_stages"] = missing
        return totals, detail


def median_layers(passes: list[dict]) -> dict[str, float]:
    """Per-metric median over traced warm passes."""
    return {k: statistics.median(p[k] for p in passes) for k in passes[0]}
