"""Spans, counts and Spark status-store harvesting for the traced run.

Spans are recorded only from the benchmark's own files, around calls into
the program's public functions; nothing is instrumented inside
``bigdatatiler_spark``. Each operation runs under its own Spark job group,
so the jobs, stages and tasks it caused are read back from Spark's
status store (``AppStatusStore``) and each job becomes a child span timed
by its submission and completion times. Spans stay in memory and are
written when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import json
import statistics
import time
from dataclasses import asdict, dataclass, field

# Plan-node SQL metrics read per operation: (display name, counter name).
_SCAN_METRICS = (("number of files read", "scan.files_read"),
                 ("size of files read", "scan.bytes_read"))
_PYTHON_METRICS = (
    ("number of output rows", "python.udf_rows"),
    ("data sent to Python workers", "python.bytes_sent"),
    ("data returned from Python workers", "python.bytes_returned"),
)
_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_PHASES = ("analysis", "optimization", "planning")


@dataclass
class Span:
    span_id: int
    name: str
    op_id: int
    parent: int | None
    start_ms: float
    end_ms: float = 0.0

    @property
    def dur_ms(self) -> float:
        return self.end_ms - self.start_ms


@dataclass
class OpTrace:
    op_id: int
    kind: str
    spans: list[Span] = field(default_factory=list)
    counts: dict[str, float] = field(default_factory=dict)
    stage_skews: list[float] = field(default_factory=list)

    def add(self, key: str, value: float) -> None:
        self.counts[key] = self.counts.get(key, 0.0) + value


def _now_ms() -> float:
    # wall clock, so spans line up with the JVM's job submission times
    return time.time() * 1000.0


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of it its children cover."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cur_end = 0.0, s.start_ms
        for c in sorted(kids.get(s.span_id, []), key=lambda c: c.start_ms):
            lo, hi = max(c.start_ms, cur_end), min(c.end_ms, s.end_ms)
            if hi > lo:
                covered += hi - lo
                cur_end = hi
        out[s.span_id] = s.dur_ms - covered
    return out


class Tracer:
    """Collects spans and counts for traced operations of one run."""

    def __init__(self, spark):
        self.spark = spark
        self.ops: list[OpTrace] = []
        self._op: OpTrace | None = None
        self._stack: list[Span] = []
        self._dfs: list = []
        self._next_id = 0
        self._patched: list[tuple[object, str, object]] = []
        self._jvm = spark.sparkContext._jvm
        self._sc = spark.sparkContext._jsc.sc()
        self._conv = self._jvm.scala.jdk.javaapi.CollectionConverters

    # --- spans ------------------------------------------------------------
    @contextlib.contextmanager
    def op(self, op_id: int, kind: str):
        self._op = OpTrace(op_id, kind)
        self._dfs = []
        try:
            with self.span(f"op.{kind}"):
                yield self._op
        finally:
            self.ops.append(self._op)
            self._op = None

    @contextlib.contextmanager
    def span(self, name: str):
        op = self._op
        if op is None:
            yield None
            return
        s = Span(self._next_id, name, op.op_id,
                 self._stack[-1].span_id if self._stack else None, _now_ms())
        self._next_id += 1
        op.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end_ms = _now_ms()
            self._stack.pop()

    def wrap(self, owner, attr: str, span_name: str, returns_df: bool = True) -> None:
        """Replace ``owner.attr`` by a wrapper that records a span around
        each call (and keeps the DataFrame it returns for its SQL phase
        times)."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(span_name):
                out = fn(*args, **kwargs)
            if returns_df:
                self.record_df(out)
            return out

        self._patched.append((owner, attr, fn))
        setattr(owner, attr, traced)

    def record_df(self, df) -> None:
        if self._op is not None:  # only inside a traced operation
            self._dfs.append(df)

    def unpatch(self) -> None:
        for owner, attr, fn in reversed(self._patched):
            setattr(owner, attr, fn)
        self._patched.clear()

    # --- Spark status stores ----------------------------------------------
    def harvest(self, group: str) -> None:
        """After an operation: its jobs become child spans of the innermost
        span open at their submission; stage and task metrics, SQL phase
        times and plan-node metrics become counts of the operation."""
        op = self.ops[-1]
        self._sc.listenerBus().waitUntilEmpty(30_000)
        store = self._sc.statusStore()
        job_ids = self.spark.sparkContext.statusTracker().getJobIdsForGroup(group)
        ssd3 = getattr(store, "stageData$default$3")()
        ssd5 = getattr(store, "stageData$default$5")()
        q = self.spark.sparkContext._gateway.new_array(self._jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        for jid in sorted(job_ids):
            job = store.job(jid)
            sub, done = job.submissionTime(), job.completionTime()
            if not (sub.isDefined() and done.isDefined()):
                continue
            t0, t1 = float(sub.get().getTime()), float(done.get().getTime())
            parent = _innermost(op.spans, t0)
            op.spans.append(Span(self._next_id, "spark.job", op.op_id, parent, t0, t1))
            self._next_id += 1
            op.add("spark.jobs", 1)
            stage_ids = job.stageIds()
            for k in range(stage_ids.length()):
                sid = stage_ids.apply(k)
                for sd in self._conv.asJava(store.stageData(sid, False, ssd3, False, ssd5)):
                    if sd.numCompleteTasks() == 0:
                        continue  # skipped stage: its shuffle output was reused
                    op.add("spark.stages", 1)
                    op.add("spark.tasks", sd.numCompleteTasks())
                    op.add("spark.executor_run_ms", sd.executorRunTime())
                    op.add("spark.executor_cpu_ms", sd.executorCpuTime() / 1e6)
                    op.add("spark.gc_ms", sd.jvmGcTime())
                    op.add("spark.shuffle_read_bytes", sd.shuffleReadBytes())
                    op.add("spark.shuffle_write_bytes", sd.shuffleWriteBytes())
                    op.add("spark.spill_bytes", sd.diskBytesSpilled() + sd.memoryBytesSpilled())
                    if sd.numCompleteTasks() > 1:
                        dist = store.taskSummary(sid, sd.attemptId(), q)
                        if dist.isDefined():
                            run = dist.get().executorRunTime()
                            med, mx = run.apply(0), run.apply(1)
                            if med > 0:
                                op.stage_skews.append(mx / med)
        for df in self._dfs:
            phases = self._conv.asJava(df._jdf.queryExecution().tracker().phases())
            for ph in _PHASES:
                if phases.containsKey(ph):
                    op.add(f"sql.{ph}_ms", phases.get(ph).durationMs())
        self._dfs = []
        self._sql_counts(op, set(job_ids))

    def group_sql_counts(self, group: str) -> dict[str, float]:
        """Scan and Python-eval node metrics of a job group that ran
        outside any operation."""
        self._sc.listenerBus().waitUntilEmpty(30_000)
        probe = OpTrace(-1, group)
        self._sql_counts(probe, set(self.spark.sparkContext.statusTracker().getJobIdsForGroup(group)))
        return probe.counts

    def _sql_counts(self, op: OpTrace, job_ids: set[int]) -> None:
        """Scan and Python-eval node metrics of every SQL execution that ran
        one of the op's jobs, from the SQL status store."""
        store = self.spark._jsparkSession.sharedState().statusStore()
        for ex in self._conv.asJava(store.executionsList()):
            jobs = {int(j) for j in self._conv.asJava(ex.jobs().keySet())}
            if not jobs & job_ids:
                continue
            # keys copied to Python ints: py4j would pass small ids back as
            # Integer, which never equals the map's Long keys
            values = {int(k): v for k, v in
                      self._conv.asJava(store.executionMetrics(ex.executionId())).items()}
            graph = store.planGraph(ex.executionId())
            for node in self._conv.asJava(graph.allNodes()):
                name = node.name()
                if name.startswith("Scan "):
                    wanted = dict(_SCAN_METRICS)
                elif any(k in name for k in ("Python", "Pandas", "Arrow")):
                    wanted = dict(_PYTHON_METRICS)
                else:
                    continue
                for m in self._conv.asJava(node.metrics()):
                    key, text = wanted.get(m.name()), values.get(m.accumulatorId())
                    if key and text:
                        op.add(key, parse_metric(text))
                        if key == "scan.files_read":
                            op.add("scan.nodes", 1)

    # --- output -----------------------------------------------------------
    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for op in self.ops:
                for s in op.spans:
                    f.write(json.dumps({**asdict(s), "kind": op.kind}) + "\n")

    def self_time_report(self) -> dict[str, float]:
        """Median self time per operation, by span name, in ms."""
        per_name: dict[str, list[float]] = {}
        for op in self.ops:
            st = self_times(op.spans)
            acc: dict[str, float] = {}
            for s in op.spans:
                key = "op" if s.name.startswith("op.") else s.name
                acc[key] = acc.get(key, 0.0) + st[s.span_id]
            for k, v in acc.items():
                per_name.setdefault(k, []).append(v)
        return {k: round(statistics.median(v), 3) for k, v in sorted(per_name.items())}


def parse_metric(text: str) -> float:
    """A SQL metric as the status store prints it: ``1,234``, ``1.2 MiB``,
    or ``total (min, med, max ...)\n1.2 MiB (...)`` for a metric with
    several tasks (the total is taken)."""
    head = text.strip().split("\n")[-1].split(" (")[0].replace(",", "").split()
    return float(head[0]) * (_UNITS.get(head[1], 1) if len(head) > 1 else 1)


def _innermost(spans: list[Span], t: float) -> int | None:
    best = None
    for s in spans:
        if s.name != "spark.job" and s.start_ms <= t <= s.end_ms:
            if best is None or s.start_ms >= best.start_ms:
                best = s
    return best.span_id if best else None


def inclusive_ms(op: OpTrace, name: str) -> float:
    """Total duration of the op's spans called ``name`` (outermost only)."""
    ids = {s.span_id for s in op.spans if s.name == name}
    return sum(s.dur_ms for s in op.spans if s.name == name and s.parent not in ids)


def jobs_within(op: OpTrace, name: str) -> int:
    """Spark jobs whose span sits anywhere below a span called ``name``."""
    by_id = {s.span_id: s for s in op.spans}
    n = 0
    for s in op.spans:
        if s.name != "spark.job":
            continue
        p = s.parent
        while p is not None:
            if by_id[p].name == name:
                n += 1
                break
            p = by_id[p].parent
    return n
