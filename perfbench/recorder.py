"""Op timing, layer spans, Spark status-store counters and process CPU.

Two modes share one ``Recorder``:

- untraced (``--trace 0``): only op latencies and cycle walls are taken,
  with ``time.perf_counter`` around each op — nothing else runs;
- traced (``--trace 1``): the benchmark additionally wraps the public
  functions of the engine modules it drives (``registry``, ``ingest``,
  ``sources``, ``queries``, ``reports``, ``operators.rollup``) so
  every call records a span, tags each op's Spark
  jobs with its own job group, and after the op reads that group's
  jobs and stages from the Spark status store. Spark-side reads happen
  after the op's clock has stopped; their cost is kept as the tracer's
  own time so the overhead can be reported.

Spans are kept in memory and written once at the end in the engine's
run-log row shape (``logutil.RunLogger``: run_uuid, stepcounter,
stepruntime, totalruntime, message).
"""

from __future__ import annotations

import functools
import json
import os
import time
import uuid
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

CLK_TCK = os.sysconf("SC_CLK_TCK")
MB = 1024 * 1024


def proc_cpu_s(pid: int | str = "self") -> float:
    """utime + stime of one process, from /proc/<pid>/stat."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / CLK_TCK


def proc_start_epoch(pid: int | str = "self") -> float:
    """Wall-clock start time of a process (boot time + starttime)."""
    with open(f"/proc/{pid}/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + start_ticks / CLK_TCK


def proc_peak_rss_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def jvm_pid(spark) -> int:
    """Pid of the driver JVM PySpark launched for this session."""
    return spark.sparkContext._gateway.proc.pid


@dataclass
class Op:
    kind: str  # "write" | "read"
    wall: float = 0.0
    spark: dict = field(default_factory=dict)
    catalyst: dict = field(default_factory=dict)


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    children: float = 0.0  # summed duration of direct children
    op: Op | None = None  # the op the span ran in, if any
    root: bool = False  # the op's own span
    measured: bool = False  # ran inside a timed cycle

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.dur - self.children


class Recorder:
    """Collects op latencies (always) and spans plus Spark counters
    (traced mode only) for one benchmark run."""

    def __init__(self, spark, traced: bool):
        self.spark = spark
        self.traced = traced
        self.run_uuid = str(uuid.uuid4())
        self.ops: list[Op] = []
        self.cycles: list[float] = []
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._current_op: Op | None = None
        self.measuring = False
        self.tracer_s = 0.0  # tracer's own Spark reads, inside cycles
        self.cycles_raw_s = 0.0  # cycle walls including tracer time
        self.jvm_cpu_s = 0.0
        self.python_cpu_s = 0.0
        self._patched: list[tuple[object, str, object]] = []
        self._groups = 0

    # -- spans -----------------------------------------------------------
    @contextmanager
    def span(self, name: str, root: bool = False):
        if not self.traced:
            yield
            return
        s = Span(name, time.perf_counter(), op=self._current_op, root=root, measured=self.measuring)
        self._stack.append(s)
        try:
            yield
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self._stack:
                self._stack[-1].children += s.dur
            self.spans.append(s)

    def inside(self, name: str) -> bool:
        """Whether the innermost open span is called ``name``."""
        return bool(self._stack) and self._stack[-1].name == name

    def wrap(self, owner, attr: str, name: str, under: str | None = None) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper for the
        rest of the run (traced mode only). With ``under``, only calls
        made directly inside a span of that name are recorded."""
        if not self.traced:
            return
        fn = getattr(owner, attr)
        rec = self

        @functools.wraps(fn)
        def wrapper(*a, **kw):
            if under is not None and not rec.inside(under):
                return fn(*a, **kw)
            with rec.span(name):
                return fn(*a, **kw)

        self.patch(owner, attr, wrapper)

    def patch(self, owner, attr: str, replacement) -> None:
        """Set ``owner.attr`` for the rest of the run; ``unwrap_all``
        restores every original."""
        self._patched.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, replacement)

    def unwrap_all(self) -> None:
        for owner, attr, fn in reversed(self._patched):
            setattr(owner, attr, fn)
        self._patched.clear()

    # -- ops and cycles --------------------------------------------------
    @contextmanager
    def cycle(self):
        self.measuring = True
        jvm = jvm_pid(self.spark)
        py0, jvm0 = proc_cpu_s(), proc_cpu_s(jvm)
        t0 = time.perf_counter()
        tracer0 = self.tracer_s
        yield
        raw = time.perf_counter() - t0
        self.python_cpu_s += proc_cpu_s() - py0
        self.jvm_cpu_s += proc_cpu_s(jvm) - jvm0
        self.measuring = False
        # The tracer's own Spark reads happen between ops; they are not
        # part of the cycle an operator would see.
        self.cycles_raw_s += raw
        self.cycles.append(raw - (self.tracer_s - tracer0))

    @contextmanager
    def op(self, kind: str, name: str):
        """Time one write or read op (``name`` labels its Spark jobs)."""
        op = Op(kind)
        if self.measuring:
            self.ops.append(op)
        self._current_op = op
        self._groups += 1
        group = f"perfbench-op-{self._groups}"
        if self.traced:
            self.spark.sparkContext.setJobGroup(group, name)
        t0 = time.perf_counter()
        try:
            with self.span(f"op.{kind}", root=True):
                yield
        finally:
            op.wall = time.perf_counter() - t0
            self._current_op = None
            if self.traced:
                t1 = time.perf_counter()
                self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
                if self.measuring:
                    op.spark = self._spark_stats(group, op.wall)
                self.tracer_s += time.perf_counter() - t1

    def op_wrapper(self, owner, attr: str, kind: str, name: str) -> None:
        """Make every call of ``owner.attr`` one op (used where the op
        boundary sits inside an engine loop, e.g. one file of an import
        sweep). Installed in both modes."""
        fn = getattr(owner, attr)
        rec = self

        @functools.wraps(fn)
        def wrapper(*a, **kw):
            with rec.op(kind, name):
                return fn(*a, **kw)

        self.patch(owner, attr, wrapper)

    def note_catalyst(self, jdf) -> None:
        """Record Catalyst phase times of a frame the current op ran."""
        if not self.traced or self._current_op is None:
            return
        t1 = time.perf_counter()
        phases = jdf.queryExecution().tracker().phases()
        for phase in ("analysis", "optimization", "planning"):
            opt = phases.get(phase)
            if opt.isDefined():
                self._current_op.catalyst[phase] = (
                    self._current_op.catalyst.get(phase, 0.0) + float(opt.get().durationMs())
                )
        self.tracer_s += time.perf_counter() - t1

    # -- Spark status store ----------------------------------------------
    def _spark_stats(self, group: str, wall: float) -> dict:
        """Jobs, stages and task metrics of one op's job group, read from
        the status store (kept with the UI off) once the listener bus has
        drained, so the op's last job is recorded."""
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        out = defaultdict(float)
        intervals = []
        seen_stages = set()
        for jid in sc.statusTracker().getJobIdsForGroup(group):
            job = store.job(jid)
            out["jobs"] += 1
            sub, comp = job.submissionTime(), job.completionTime()
            if sub.isDefined() and comp.isDefined():
                intervals.append((sub.get().getTime(), comp.get().getTime()))
            stage_ids = job.stageIds()
            for i in range(stage_ids.size()):
                sid = stage_ids.apply(i)
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 — skipped stage: never ran
                    continue
                if str(st.status()) != "COMPLETE":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks()
                out["executor_run_s"] += st.executorRunTime() / 1e3
                out["executor_cpu_s"] += st.executorCpuTime() / 1e9
                out["gc_s"] += st.jvmGcTime() / 1e3
                out["shuffle_read_mb"] += st.shuffleReadBytes() / MB
                out["shuffle_write_mb"] += st.shuffleWriteBytes() / MB
                out["spill_mb"] += st.diskBytesSpilled() / MB
                out["output_mb"] += st.outputBytes() / MB
        busy_ms = 0
        last_end = None
        for start, end in sorted(intervals):
            if last_end is not None and start < last_end:
                start = last_end
            if end > start:
                busy_ms += end - start
            last_end = end if last_end is None else max(last_end, end)
        out["job_busy_s"] = busy_ms / 1e3
        out["driver_self_s"] = max(wall - out["job_busy_s"], 0.0)
        out["persisted_rdds"] = float(sc._jsc.getPersistentRDDs().size())
        return dict(out)

    # -- results ---------------------------------------------------------
    def latencies(self, kind: str) -> list[float]:
        return [o.wall for o in self.ops if o.kind == kind]

    def layer_self(self, kind: str | None = None) -> dict[str, tuple[float, int]]:
        """{span name: (summed self seconds, calls)} over the spans of
        the timed cycles (only those inside ops of ``kind``, if given)."""
        agg: dict[str, list] = defaultdict(lambda: [0.0, 0])
        for s in self.spans:
            if s.measured and (kind is None or (s.op is not None and s.op.kind == kind)):
                agg[s.name][0] += s.self_s
                agg[s.name][1] += 1
        return {k: (v[0], v[1]) for k, v in agg.items()}

    def span_coverage(self) -> float:
        """Share of measured op wall time that layer spans account for
        (the rest is the benchmark's own glue inside the op)."""
        wall = sum(o.wall for o in self.ops)
        glue = sum(s.self_s for s in self.spans if s.root and s.measured)
        return 1.0 - glue / wall if wall else 0.0

    def write_spans(self, path: str, t_origin: float) -> None:
        """Spans in the run-log row shape, one JSON object per line."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for step, s in enumerate(sorted(self.spans, key=lambda s: s.start), start=1):
                f.write(json.dumps({
                    "run_uuid": self.run_uuid,
                    "processtype": "perfbench",
                    "stepcounter": step,
                    "stepruntime": round(s.self_s, 6),
                    "totalruntime": round(s.end - t_origin, 6),
                    "message": s.name,
                    "op": s.op.kind if s.op else None,
                    "duration": round(s.dur, 6),
                }) + "\n")
