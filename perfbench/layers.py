"""Per-layer numbers for the traced run, read from Spark's own status
store after the traced work has finished.

Spans are recorded in memory by the benchmark around its calls into the
package (pass, gate, build, action, drain, query) and written out when
the run ends. Spark jobs and stages become child spans with the times
the status store holds for them: ``statusTracker()`` names the jobs of
each gate's job group, ``AppStatusStore`` gives job and stage times and
task metrics, and ``SQLAppStatusStore`` gives the per-operator SQL
metrics. Streaming triggers come from a ``StreamingQueryListener``.
"""

from __future__ import annotations

import json
import re
import time
from dataclasses import asdict, dataclass, field

PYTHON_NODE = re.compile(r"EvalPython|InPandas|InArrow|PythonUDTF|PythonDataSource|ArrowPython")
_UNIT = {
    "ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6,
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
}


@dataclass
class Span:
    name: str
    layer: str
    start: float  # epoch seconds
    end: float
    parent: int | None
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory span list; ``open``/``close`` nest by parent index."""

    def __init__(self) -> None:
        self.spans: list[Span] = []

    def add(self, name: str, layer: str, start: float, end: float, parent: int | None, **attrs) -> int:
        self.spans.append(Span(name, layer, start, end, parent, attrs))
        return len(self.spans) - 1

    def open(self, name: str, layer: str, parent: int | None = None, **attrs) -> int:
        return self.add(name, layer, time.time(), float("nan"), parent, **attrs)

    def close(self, idx: int) -> None:
        self.spans[idx].end = time.time()

    def children(self, idx: int) -> list[int]:
        return [i for i, s in enumerate(self.spans) if s.parent == idx]

    def self_ms(self, layer: str) -> float:
        """Sum over spans of ``layer`` of the time no child span covers."""
        total = 0.0
        for i, s in enumerate(self.spans):
            if s.layer != layer:
                continue
            covered = _union([(c.start, c.end) for c in map(self.spans.__getitem__, self.children(i))], s.start, s.end)
            total += (s.end - s.start) - covered
        return total * 1e3

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def _union(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def parse_metric(text: str) -> float:
    """A formatted SQL metric ("374 ms", "1.2 KiB", "60,000", or the
    "total (min, med, max ...)\\n<total> (...)" form) as a number in ms,
    bytes or count."""
    text = text.split("\n")[-1].split(" (")[0].strip()
    num, _, unit = text.partition(" ")
    return float(num.replace(",", "")) * _UNIT.get(unit, 1.0)


def _seq(scala_seq):
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def _epoch(opt_date) -> float | None:
    return opt_date.get().getTime() / 1e3 if opt_date.isDefined() else None


class StatusReader:
    """Reads job, stage and SQL-operator numbers for finished work."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.tracker = spark.sparkContext.statusTracker()
        self.store = spark.sparkContext._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()

    def job_ids(self, group: str | None = None, lo: float = 0.0, hi: float = float("inf")) -> list[int]:
        if group is not None:
            return sorted(self.tracker.getJobIdsForGroup(group))
        ids = []
        for jd in _seq(self.store.jobsList(None)):
            t = _epoch(jd.submissionTime())
            if t is not None and lo <= t <= hi:
                ids.append(jd.jobId())
        return sorted(ids)

    def add_jobs(self, tracer: Tracer, job_ids: list[int], parents: list[int], default: int) -> dict:
        """Add a span per job, under the span in ``parents`` its submission
        falls in (else under ``default``), and a span per stage attempt;
        return the summed counters."""
        c = dict.fromkeys(
            ("jobs", "stages", "tasks", "task_run_ms", "task_cpu_ms", "gc_ms", "bytes_read",
             "shuffle_write", "shuffle_read", "fetch_wait_ms", "spill"), 0.0)
        for jid in job_ids:
            jd = self.store.job(jid)
            js, je = _epoch(jd.submissionTime()), _epoch(jd.completionTime())
            if js is None or je is None:
                continue
            parent = next((p for p in parents if tracer.spans[p].start <= js <= tracer.spans[p].end), default)
            ji = tracer.add(f"job {jid}", "job", js, je, parent)
            c["jobs"] += 1
            for sid in _seq(jd.stageIds()):
                try:
                    sd = self.store.stageAttempt(sid, 0, False, None, False, None)._1()
                except Exception:  # stage evicted from the store
                    continue
                if str(sd.status().toString()) not in ("COMPLETE", "FAILED"):
                    continue
                ss, se = _epoch(sd.submissionTime()), _epoch(sd.completionTime())
                if ss is None or se is None:
                    continue
                tracer.add(f"stage {sid}", "stage", ss, se, ji, tasks=sd.numTasks())
                c["stages"] += 1
                c["tasks"] += sd.numCompleteTasks()
                c["task_run_ms"] += sd.executorRunTime()
                c["task_cpu_ms"] += sd.executorCpuTime() / 1e6
                c["gc_ms"] += sd.jvmGcTime()
                c["bytes_read"] += sd.inputBytes()
                c["shuffle_write"] += sd.shuffleWriteBytes()
                c["shuffle_read"] += sd.shuffleReadBytes()
                c["fetch_wait_ms"] += sd.shuffleFetchWaitTime()
                c["spill"] += sd.diskBytesSpilled()
        return c

    def sql_operators(self, lo: float, hi: float) -> dict:
        """Sum the per-operator SQL metrics of executions submitted in [lo, hi]."""
        c = dict.fromkeys(("parquet_scans", "scan_ms", "codegen_ms", "agg_build_ms",
                           "py_rows", "py_sent", "python_nodes"), 0.0)
        for e in _seq(self.sql.executionsList()):
            t = e.submissionTime() / 1e3
            if not lo <= t <= hi:
                continue
            values = self.sql.executionMetrics(e.executionId())
            for node in _seq(self.sql.planGraph(e.executionId()).allNodes()):
                name = node.name()
                raw = {}
                for pm in _seq(node.metrics()):
                    v = values.get(pm.accumulatorId())
                    if v.isDefined():
                        raw[pm.name()] = v.get()

                def m(key: str) -> float:
                    return parse_metric(raw[key]) if key in raw else 0.0

                if name.startswith("Scan parquet"):
                    c["parquet_scans"] += 1
                    c["scan_ms"] += m("scan time")
                elif name.startswith("WholeStageCodegen"):
                    c["codegen_ms"] += m("duration")
                elif "Aggregate" in name:
                    c["agg_build_ms"] += m("time in aggregation build")
                elif PYTHON_NODE.search(name):
                    c["python_nodes"] += 1
                    c["py_rows"] += m("number of output rows")
                    c["py_sent"] += m("data sent to Python workers")
        return c


def counters(jobs: dict, ops: dict) -> dict:
    """Name the summed job/stage and SQL-operator numbers as metrics."""
    return {
        "spark.jobs": (jobs.get("jobs", 0.0), "count"),
        "spark.stages": (jobs.get("stages", 0.0), "count"),
        "spark.tasks": (jobs.get("tasks", 0.0), "count"),
        "spark.task_run_ms": (jobs.get("task_run_ms", 0.0), "ms"),
        "spark.task_cpu_ms": (jobs.get("task_cpu_ms", 0.0), "ms"),
        "spark.gc_ms": (jobs.get("gc_ms", 0.0), "ms"),
        "scan.parquet_scans": (ops.get("parquet_scans", 0.0), "count"),
        "scan.bytes_read": (jobs.get("bytes_read", 0.0), "bytes"),
        "scan.time_ms": (ops.get("scan_ms", 0.0), "ms"),
        "shuffle.write_bytes": (jobs.get("shuffle_write", 0.0), "bytes"),
        "shuffle.read_bytes": (jobs.get("shuffle_read", 0.0), "bytes"),
        "shuffle.fetch_wait_ms": (jobs.get("fetch_wait_ms", 0.0), "ms"),
        "spill.bytes": (jobs.get("spill", 0.0), "bytes"),
        "sql.codegen_ms": (ops.get("codegen_ms", 0.0), "ms"),
        "sql.agg_build_ms": (ops.get("agg_build_ms", 0.0), "ms"),
        "python.rows_received": (ops.get("py_rows", 0.0), "count"),
        "python.bytes_sent": (ops.get("py_sent", 0.0), "bytes"),
    }


def driver_gap_ms(tracer: Tracer, windows: list[int]) -> float:
    """Time inside the given spans during which no Spark job runs."""
    jobs = [(s.start, s.end) for s in tracer.spans if s.layer == "job"]
    gap = 0.0
    for w in windows:
        s = tracer.spans[w]
        gap += (s.end - s.start) - _union(jobs, s.start, s.end)
    return gap * 1e3


def progress_listener():
    """A ``StreamingQueryListener`` that keeps every progress report."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressListener(StreamingQueryListener):
        def __init__(self):
            self.progress: list[dict] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            self.progress.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return ProgressListener()
