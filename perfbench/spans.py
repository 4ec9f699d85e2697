"""Spans around public layer calls, and Spark counters attributed to them.

Only the traced run (``--trace 1``) builds a :class:`Tracer`. It records a
span (name, start, end, parent, operation id) around each wrapped call and
keeps them in memory until the run ends. Each span sets its own Spark job
group on its thread, so jobs started inside it -- also from the engine's
own sink threads and from the concurrent dashboard panels -- carry the
span's id into Spark's status store, where :meth:`Tracer.collect_spark`
reads them back through py4j (``spark.ui.enabled=false`` is fine: the
status store is kept either way).
"""

from __future__ import annotations

import contextlib
import functools
import re
import statistics
import threading
import time

_GROUP_PREFIX = "perfbench-span-"
_JOB_GROUP = "spark.jobGroup.id"


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.jobs: list[dict] = []
        self.op_id: int | None = None
        self._lock = threading.Lock()
        self._main = threading.get_ident()
        self._stacks: dict[int, list[int]] = {}
        self._patches: list[tuple[object, str, object]] = []
        self._seen_jobs: set[int] = set()
        self._seen_spans = 0
        self._seen_execs = 0

    # -- spans -------------------------------------------------------------

    def _stack(self) -> list[int]:
        return self._stacks.setdefault(threading.get_ident(), [])

    @contextlib.contextmanager
    def span(self, name: str, parent: int | None = None):
        stack = self._stack()
        if parent is None:
            # a thread the engine started itself (the ingest sinks) has
            # no stack of its own; its caller is the main thread's top
            main = self._stacks.get(self._main) or [None]
            parent = stack[-1] if stack else main[-1]
        rec = {"name": name, "parent": parent, "op": self.op_id, "thread": threading.get_ident()}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        prev_group = self.sc.getLocalProperty(_JOB_GROUP)
        self.sc.setLocalProperty(_JOB_GROUP, f"{_GROUP_PREFIX}{rec['id']}")
        stack.append(rec["id"])
        rec["start"] = time.time()
        try:
            yield rec["id"]
        finally:
            rec["end"] = time.time()
            stack.pop()
            self.sc.setLocalProperty(_JOB_GROUP, prev_group)

    def current(self) -> int | None:
        stack = self._stack()
        return stack[-1] if stack else None

    def wrap(self, owner, attr: str, name) -> None:
        """Replace ``owner.attr`` by a spanned wrapper. ``name`` is the span
        name, or a function of the call's arguments returning it."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name(*args, **kwargs) if callable(name) else name):
                return orig(*args, **kwargs)

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # -- Spark status store -------------------------------------------------

    def collect_spark(self) -> None:
        """Read jobs, their stages and Python-worker SQL metrics finished
        since the last call. Call it between operations: the status store
        keeps only the most recent jobs and stages."""
        jvm = self.sc._jvm
        store = self.sc._jsc.sc().statusStore()
        tracker = self.sc.statusTracker()
        with self._lock:
            groups = [f"{_GROUP_PREFIX}{i}" for i in range(self._seen_spans, len(self.spans))]
            self._seen_spans = len(self.spans)
        ids = set(tracker.getJobIdsForGroup(None))  # jobs outside any span
        for g in groups:
            ids.update(tracker.getJobIdsForGroup(g))
        new_ids = sorted(ids - self._seen_jobs)
        self._seen_jobs.update(new_ids)
        wanted_stages: dict[int, dict] = {}
        for jid in new_ids:
            jd = store.job(jid)
            group = jd.jobGroup()
            sub, done = jd.submissionTime(), jd.completionTime()
            job = {
                "id": jid,
                "span": int(group.get()[len(_GROUP_PREFIX):])
                if group.isDefined() and group.get().startswith(_GROUP_PREFIX)
                else None,
                "start": sub.get().getTime() / 1000 if sub.isDefined() else None,
                "end": done.get().getTime() / 1000 if done.isDefined() else None,
                "stages": [int(s) for s in str(jd.stageIds().mkString(",")).split(",") if s],
            }
            self.jobs.append(job)
            for s in job["stages"]:
                wanted_stages[s] = job
        if wanted_stages:
            # py4j sees no Scala defaults: all five arguments, explicitly
            empty = self.sc._gateway.new_array(jvm.double, 0)
            for sd in _java(jvm, store.stageList(None, False, False, empty, None)):
                job = wanted_stages.get(sd.stageId())
                if job is None:
                    continue
                job.setdefault("stage_data", []).append(
                    {
                        "tasks": sd.numTasks(),
                        "run_s": sd.executorRunTime() / 1e3,
                        "cpu_s": sd.executorCpuTime() / 1e9,
                        "gc_s": sd.jvmGcTime() / 1e3,
                        "shuffle_read": sd.shuffleReadBytes(),
                        "shuffle_write": sd.shuffleWriteBytes(),
                        "spill": sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
                    }
                )
        self._collect_python_metrics(jvm, store, {j["id"]: j for j in self.jobs[-len(new_ids):]} if new_ids else {})

    def _collect_python_metrics(self, jvm, store, jobs: dict[int, dict]) -> None:
        """Add the Python-worker SQL metrics (time to run the workers, bytes
        sent and returned) of the SQL executions whose jobs were just
        collected to the first of those jobs."""
        sql = jvm.org.apache.spark.sql.execution.ui.SQLAppStatusStore(store.store(), jvm.scala.Option.empty())
        count = sql.executionsCount()
        if count <= self._seen_execs:
            return
        execs = _java(jvm, sql.executionsList(self._seen_execs, count - self._seen_execs))
        self._seen_execs = count
        for e in execs:
            job_ids = [int(j) for j in str(e.jobs().keys().mkString(",")).split(",") if j]
            owner = next((jobs[j] for j in job_ids if j in jobs), None)
            if owner is None:
                continue
            wanted = {m.accumulatorId(): _PYTHON_METRICS[m.name()] for m in _java(jvm, e.metrics()) if m.name() in _PYTHON_METRICS}
            if not wanted:
                continue
            values = sql.executionMetrics(e.executionId())
            for acc, key in wanted.items():
                v = values.get(acc)
                if v.isDefined():
                    owner[key] = owner.get(key, 0.0) + _parse_metric(v.get())


def _java(jvm, seq):
    """A Scala collection as a Java list py4j can iterate."""
    return jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq)


# Spark's display names of the Python-worker SQL metrics
_PYTHON_METRICS = {
    "time to run Python workers": "python_s",
    "data sent to Python workers": "python_sent",
    "data returned from Python workers": "python_received",
}
_METRIC = re.compile(r"([\d.,]+)\s*(ms|s|m|h|B|KiB|MiB|GiB|TiB)\b")
_SCALE = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


def _parse_metric(text: str) -> float:
    """A SQL metric as Spark formats it, in seconds or bytes: either a
    bare ``"1.2 s"`` or a ``"total (min, med, max ...)"`` header line
    followed by the total first."""
    m = _METRIC.search(text.strip().splitlines()[-1])
    return float(m.group(1).replace(",", "")) * _SCALE[m.group(2)] if m else 0.0


# -- reductions ---------------------------------------------------------------


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the part of its interval its children cover
    (children may overlap: the three ingest sinks run concurrently)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        clipped = [
            (max(a, s["start"]), min(b, s["end"]))
            for a, b in children.get(s["id"], [])
            if min(b, s["end"]) > max(a, s["start"])
        ]
        out[s["id"]] = (s["end"] - s["start"]) - _union_len(clipped)
    return out


def spark_per_op(tracer: Tracer, ops: dict[int, tuple[float, float]]) -> dict[str, float]:
    """Spark counters summed per operation and averaged over operations.
    A job belongs to an operation through its span's operation id, or, for
    a job outside any span, through its submission time (the loop is
    closed, so one operation runs at a time)."""
    by_op: dict[int, list[dict]] = {op: [] for op in ops}
    span_op = {s["id"]: s["op"] for s in tracer.spans}
    for j in tracer.jobs:
        op = span_op.get(j["span"]) if j["span"] is not None else None
        if op is None and j["start"] is not None:
            op = next((o for o, (a, b) in ops.items() if a <= j["start"] <= b), None)
        if op in by_op:
            by_op[op].append(j)
    rows = []
    for op, jobs in by_op.items():
        a, b = ops[op]
        stages = [sd for j in jobs for sd in j.get("stage_data", [])]
        run_s = sum(sd["run_s"] for sd in stages)
        busy = _union_len([(max(j["start"], a), min(j["end"], b)) for j in jobs if j["start"] and j["end"] and j["end"] > a])
        rows.append(
            {
                "spark.jobs": len(jobs),
                "spark.stages": len(stages),
                "spark.tasks": sum(sd["tasks"] for sd in stages),
                "spark.executor_run_s": run_s,
                "spark.executor_cpu_s": sum(sd["cpu_s"] for sd in stages),
                "spark.gc_s": sum(sd["gc_s"] for sd in stages),
                "spark.shuffle_read_bytes": sum(sd["shuffle_read"] for sd in stages),
                "spark.shuffle_write_bytes": sum(sd["shuffle_write"] for sd in stages),
                "spark.spill_bytes": sum(sd["spill"] for sd in stages),
                "spark.python_total_s": sum(j.get("python_s", 0.0) for j in jobs),
                "spark.python_sent_bytes": sum(j.get("python_sent", 0.0) for j in jobs),
                "spark.python_received_bytes": sum(j.get("python_received", 0.0) for j in jobs),
                "spark.task_concurrency": run_s / (b - a),
                "spark.no_job_s": (b - a) - busy,
            }
        )
    return {k: statistics.fmean(r[k] for r in rows) for k in rows[0]} if rows else {}


def spark_by_span(tracer: Tracer, ops: dict[int, tuple[float, float]]) -> dict[str, float]:
    """Jobs and executor run time per operation, by the span whose job
    group started them: each dashboard panel and each ingest sink gets its
    own counters although they run concurrently."""
    names = {s["id"]: s["name"] for s in tracer.spans if s["op"] in ops}
    out: dict[str, float] = {}
    for j in tracer.jobs:
        name = names.get(j["span"])
        if name is None:
            continue
        out[f"spark.jobs.{name}"] = out.get(f"spark.jobs.{name}", 0) + 1
        run_s = sum(sd["run_s"] for sd in j.get("stage_data", []))
        out[f"spark.executor_run_s.{name}"] = out.get(f"spark.executor_run_s.{name}", 0.0) + run_s
    return {k: v / len(ops) for k, v in out.items()}


def layer_times(tracer: Tracer, op_ids: set[int]) -> tuple[dict[str, float], dict[str, float]]:
    """Per span name: mean wall and mean self time per operation, over the
    timed operations."""
    selfs = self_times(tracer.spans)
    wall: dict[str, float] = {}
    own: dict[str, float] = {}
    for s in tracer.spans:
        if s["op"] in op_ids:
            wall[s["name"]] = wall.get(s["name"], 0.0) + s["end"] - s["start"]
            own[s["name"]] = own.get(s["name"], 0.0) + selfs[s["id"]]
    n = max(1, len(op_ids))
    return {k: v / n for k, v in wall.items()}, {k: v / n for k, v in own.items()}


def report(tracer: Tracer, ops: dict[int, tuple[float, float]], extra: dict) -> tuple[dict, dict]:
    """The result line's per-layer metrics, and the full named set:
    mean wall and self time per operation for every span name, the Spark
    counters, and the workload's ``extra`` layer readings."""
    wall, own = layer_times(tracer, set(ops))
    counters = spark_per_op(tracer, ops)
    named = {f"{k}_s": v for k, v in wall.items()}
    named.update({f"self.{k}_s": v for k, v in own.items()})
    named.update(counters)
    named.update(spark_by_span(tracer, ops))
    named.update(extra)
    layers = {"layer.write_s": wall.get("op.write", 0.0), "layer.read_s": wall.get("op.read", 0.0), **counters}
    return layers, named


def finish(out: dict, e2e: dict, results_dir, workload: str) -> dict:
    """The traced run's report: spans, jobs, per-layer metrics, and the
    tracing overhead against the untraced runs of this workload found in
    ``results_dir`` (traced minus untraced median, per end-to-end metric)."""
    import json

    untraced = [json.loads(p.read_text()) for p in sorted(results_dir.glob(f"{workload}-s*.json"))]
    overhead = {
        k: v - statistics.median(r[k] for r in untraced)
        for k, v in e2e.items()
        if untraced
    }
    tracer: Tracer = out["tracer"]
    return {
        "workload": workload,
        "layers": out["layers"],
        "named": out["layer_named"],
        "overhead": overhead,
        "untraced_runs": len(untraced),
        "spans": tracer.spans,
        "jobs": tracer.jobs,
    }
