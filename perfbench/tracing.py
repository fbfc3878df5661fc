"""Spans and Spark-side layer metrics for the traced run.

A ``Tracer`` records one span per call the benchmark makes into the engine
(workload -> op -> task / stream round / public-function call). Only the
traced run enables it: then each op runs under its own Spark job group, a
streaming listener collects micro-batch progress, and after the run the
Spark status store is read once to attach every job as a child span of the
call it ran under and to sum stage and task metrics per op. Untraced runs
get ``Tracer(enabled=False)``, whose spans cost one attribute test.
"""

from __future__ import annotations

import contextlib
import itertools
import time
from collections import defaultdict

from harness import Span, self_times, union_length

_NULL = contextlib.nullcontext()


class Tracer:
    def __init__(self, run_id: str, enabled: bool) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self.spark = None

    def span(self, name: str, **attrs):
        """Context manager recording a span (a no-op when disabled)."""
        if not self.enabled:
            return _NULL
        return self._span(name, attrs)

    @contextlib.contextmanager
    def _span(self, name: str, attrs: dict):
        parent = self._stack[-1].span_id if self._stack else None
        s = Span(next(self._ids), parent, name, time.time(), run_id=self.run_id,
                 attrs=attrs)
        if name.startswith("op:") and self.spark is not None:
            self.spark.sparkContext.setJobGroup(f"{self.run_id}/{s.span_id}", name)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self.spans.append(s)

    def count(self, name: str, value: float = 1.0) -> None:
        if self.enabled:
            self.counts[name] += value


# -- Spark status store -------------------------------------------------------

def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def read_status_store(spark) -> tuple[list[dict], dict[int, dict]]:
    """(jobs, stages by id) from the live status store. Reads every job and
    stage attempt the session has retained; call once, after the run."""
    jvm = spark.sparkContext._jvm
    conv = jvm.scala.jdk.javaapi.CollectionConverters
    store = spark.sparkContext._jsc.sc().statusStore()
    jobs = []
    for j in conv.asJava(store.jobsList(None)):
        sub, done = _opt_ms(j.submissionTime()), _opt_ms(j.completionTime())
        if sub is None or done is None:
            continue
        group = j.jobGroup()
        jobs.append({
            "job_id": j.jobId(),
            "group": group.get() if group.isDefined() else None,
            "start": sub,
            "end": done,
            "stage_ids": list(conv.asJava(j.stageIds())),
        })
    gw = spark.sparkContext._gateway
    stages: dict[int, dict] = {}
    for st in conv.asJava(store.stageList(
            None, False, False, gw.new_array(jvm.double, 0), jvm.java.util.ArrayList())):
        sid, att = st.stageId(), st.attemptId()
        tasks = [
            t.duration().get() / 1000.0
            for t in conv.asJava(store.taskList(sid, att, 100000))
            if t.duration().isDefined()
        ]
        rec = stages.setdefault(sid, defaultdict(float))
        rec["attempts"] += 1
        rec["tasks"] += st.numTasks()
        rec["executor_run_s"] += st.executorRunTime() / 1000.0
        rec["executor_cpu_s"] += st.executorCpuTime() / 1e9
        rec["gc_s"] += st.jvmGcTime() / 1000.0
        rec["input_mb"] += st.inputBytes() / 2**20
        rec["output_mb"] += st.outputBytes() / 2**20
        rec["shuffle_write_mb"] += st.shuffleWriteBytes() / 2**20
        rec["shuffle_read_mb"] += st.shuffleReadBytes() / 2**20
        rec["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 2**20
        rec.setdefault("task_s", []).extend(tasks)
    return jobs, stages


def attach_jobs(tracer: Tracer, jobs: list[dict]) -> dict[int, list[dict]]:
    """Add each Spark job as a span under the innermost traced span that
    contains its submission, inside the op whose job group it carries (jobs
    started on a streaming thread carry the stream's own group and are
    matched by time alone). Returns jobs per op span id."""
    ops = {s.span_id: s for s in tracer.spans if s.name.startswith("op:")}
    by_op: dict[int, list[dict]] = defaultdict(list)
    by_parent: dict[int, list[Span]] = defaultdict(list)
    for s in tracer.spans:
        by_parent[s.parent].append(s)

    def innermost(span: Span, t: float) -> Span:
        for child in by_parent.get(span.span_id, []):
            if child.start <= t <= child.end and not child.name.startswith("spark.job"):
                return innermost(child, t)
        return span

    prefix = f"{tracer.run_id}/"
    by_call: dict[int, list[dict]] = defaultdict(list)
    calls = {}
    for j in jobs:
        op = None
        if j["group"] and j["group"].startswith(prefix):
            op = ops.get(int(j["group"][len(prefix):]))
        if op is None:
            op = next((o for o in ops.values() if o.start <= j["start"] <= o.end), None)
        if op is None:
            continue
        by_op[op.span_id].append(j)
        parent = innermost(op, j["start"])
        calls[parent.span_id] = parent
        by_call[parent.span_id].append(j)
    # Jobs of one call may run concurrently (AQE stages, stream threads):
    # one span per stretch of overlapping jobs keeps the tree free of
    # overlapping siblings, so self times add up to the op's wall time.
    # The status store keeps milliseconds: clip to the parent call.
    for pid, js in by_call.items():
        parent = calls[pid]
        stretch: list[dict] = []
        for j in sorted(js, key=lambda j: j["start"]) + [None]:
            if stretch and (j is None or j["start"] > max(x["end"] for x in stretch)):
                tracer.spans.append(Span(
                    next(tracer._ids), pid, "spark.job",
                    max(stretch[0]["start"], parent.start),
                    min(max(x["end"] for x in stretch), parent.end), tracer.run_id,
                    {"job_ids": [x["job_id"] for x in stretch]}))
                stretch = []
            if j is not None:
                stretch.append(j)
    return by_op


def spark_layer_metrics(tracer: Tracer, jobs: list[dict], stages: dict[int, dict],
                        cores: int) -> dict[str, float]:
    """Per-op means of the Spark-layer metrics over the traced ops."""
    by_op = attach_jobs(tracer, jobs)
    ops = [s for s in tracer.spans if s.name.startswith("op:")]
    tot: dict[str, float] = defaultdict(float)
    task_s: list[float] = []
    for op in ops:
        op_jobs = by_op.get(op.span_id, [])
        spans = [(max(j["start"], op.start), min(j["end"], op.end)) for j in op_jobs]
        busy = union_length([s for s in spans if s[1] > s[0]])
        tot["jobs"] += len(op_jobs)
        tot["driver_s"] += op.duration - busy
        run_s = 0.0
        for j in op_jobs:
            for sid in j["stage_ids"]:
                st = stages.get(sid)
                if st is None:
                    continue
                tot["stages"] += st["attempts"]
                tot["tasks"] += st["tasks"]
                run_s += st["executor_run_s"]
                for k in ("executor_cpu_s", "gc_s", "input_mb", "output_mb",
                          "shuffle_write_mb", "shuffle_read_mb", "spill_mb"):
                    tot[k] += st[k]
                task_s.extend(st.get("task_s", []))
        tot["executor_run_s"] += run_s
        tot["idle_core_s"] += max(0.0, cores * busy - run_s)
    n = max(1, len(ops))
    out = {f"spark.{k}": v / n for k, v in tot.items()}
    task_s.sort()
    out["spark.task_p50_s"] = task_s[len(task_s) // 2] if task_s else 0.0
    out["spark.task_max_s"] = task_s[-1] if task_s else 0.0
    return out


def layer_self_times(tracer: Tracer) -> dict[str, float]:
    """Self time summed per span name, the Spark jobs included."""
    st = self_times(tracer.spans)
    out: dict[str, float] = defaultdict(float)
    for s in tracer.spans:
        out[s.name] += st[s.span_id]
    return dict(out)


# -- streaming progress -------------------------------------------------------

def progress_listener():
    """A StreamingQueryListener that keeps every progress event's phase
    durations and state-store figures in memory."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def __init__(self) -> None:
            self.records: list[dict] = []

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            p = event.progress
            if not p.numInputRows and not p.stateOperators:
                return
            self.records.append({
                "duration_ms": dict(p.durationMs),
                "input_rows": p.numInputRows,
                "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                "state_bytes": sum(s.memoryUsedBytes for s in p.stateOperators),
                "state_commit_ms": sum(s.commitTimeMs for s in p.stateOperators),
            })

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    return Progress()
