"""Spans and counters recorded from outside the program.

The program itself carries no tracing.  A :class:`Tracer` records spans
around calls into the program's public functions by swapping the module
or class attribute the program resolves at call time for a wrapper, and
puts the original back afterwards.  Nothing is patched unless tracing is
on, so an untraced run executes the program's code untouched.

Each span holds its name, start, end, parent span and op id.  Spans stay
in memory; :meth:`Tracer.dump` writes them out when the run ends.

Some targets (``LAZY``) return a lazy result, a DataFrame or an FTS index:
the call builds a plan and runs no Spark job, so its span alone would time
plan construction only.  The traced run also executes such a result once,
in isolation and under its own job group, inside a ``<name>.exec`` child
span.  That span is the layer's execution time.  Its duration is taken out
of every enclosing span and out of the op's latency.  The program still
executes the result itself as part of the op, where it may fuse with the
rest of the plan; the isolated execution is a measurement of the layer,
not of that fused run.  It also warms the plan the op then runs, so a
traced op reads faster than the same op untraced.

:class:`SparkCounters` reads jobs, stages, tasks and shuffle/input bytes
per op from Spark's status store, and GC time from the JVM's MXBeans.
With one client these counts repeat exactly run to run; compare them as
counts, not as speed.
"""

from __future__ import annotations

import importlib
import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

#: (module, attribute path, span name).  The attribute is looked up on the
#: module (a function, or Class.method); every module that imported the
#: function by name is patched too, so calls through either name record.
TARGETS = (
    ("overturemaps_duckdb_spark.session", "get_spark", "session.get_spark"),
    ("overturemaps_duckdb_spark.engine", "Engine.load_area", "engine.load_area"),
    ("overturemaps_duckdb_spark.plans.runner", "PipelineRunner.run_now", "plans.runner.run_now"),
    ("overturemaps_duckdb_spark.plans.pipeline", "compile_pipeline", "plans.pipeline.compile"),
    ("overturemaps_duckdb_spark.compat", "duck_sql", "compat.duck_sql"),
    ("overturemaps_duckdb_spark.sources.ingest", "load_theme", "sources.ingest.load_theme"),
    ("overturemaps_duckdb_spark.sources.manifest", "build_manifest", "sources.manifest.build"),
    ("overturemaps_duckdb_spark.sources.manifest", "prune_files", "sources.manifest.prune"),
    ("overturemaps_duckdb_spark.sources.layout", "write_grid_partitioned", "sources.layout.write"),
    ("overturemaps_duckdb_spark.state", "SnapviewStore.save", "state.snapview_save"),
    ("overturemaps_duckdb_spark.state", "SnapviewStore.load", "state.snapview_load"),
    ("overturemaps_duckdb_spark.state", "append_load_history", "state.load_history"),
    ("overturemaps_duckdb_spark.operators.fts", "build_fts_index", "operators.fts.build_index"),
    ("overturemaps_duckdb_spark.operators.fts", "bm25_score", "operators.fts.bm25_score"),
    ("overturemaps_duckdb_spark.operators.spatial_join", "bidirectional_match_ids", "operators.spatial_join.match_ids"),
    ("overturemaps_duckdb_spark.operators.spatial_join", "spatial_join_grid", "operators.spatial_join.grid"),
)

#: targets whose result is lazy (see the module docstring)
LAZY = {
    "operators.fts.build_index",
    "operators.fts.bm25_score",
    "operators.spatial_join.match_ids",
    "operators.spatial_join.grid",
}

#: modules that bind target functions by name at import time
IMPORTERS = (
    "overturemaps_duckdb_spark.engine",
    "overturemaps_duckdb_spark.plans.pipeline",
    "overturemaps_duckdb_spark.plans.runner",
    "overturemaps_duckdb_spark.sources.ingest",
    "overturemaps_duckdb_spark.compat",
)


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None
    sid: int
    excluded: float = 0.0  # seconds of nested isolated execution

    @property
    def ms(self) -> float:
        """Duration without the isolated execution of lazy results
        nested in it (an ``.exec`` span reports its own duration)."""
        return (self.end - self.start - self.excluded) * 1e3


@dataclass
class Tracer:
    spans: list[Span] = field(default_factory=list)
    op: int | None = None
    sc: object = None  # SparkContext, to give isolated executions a job group
    excluded_s: float = 0.0  # total isolated execution time so far
    _stack: list[int] = field(default_factory=list)
    _patched: list[tuple[object, str, object]] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = Span(name, time.perf_counter(), 0.0, parent, self.op, sid)
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec.end = time.perf_counter()

    def _execute(self, name: str, out) -> None:
        """Run a lazy result once under `<name>.exec` and take its time out
        of the enclosing spans."""
        frames = [out.postings, out.docstats] if hasattr(out, "postings") else [out]
        if self.sc is not None:
            self.sc.setJobGroup(f"perfbench-exec-{self.op}", name)
        t = time.perf_counter()
        with self.span(name + ".exec"):
            for df in frames:
                df.write.format("noop").mode("overwrite").save()
        d = time.perf_counter() - t
        if self.sc is not None:
            if self.op is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                self.sc.setJobGroup(f"perfbench-op-{self.op}", f"op {self.op}")
        for sid in self._stack:
            self.spans[sid].excluded += d
        self.excluded_s += d

    def _wrap(self, fn, name: str):
        tracer = self
        lazy = name in LAZY

        def traced(*args, **kwargs):
            with tracer.span(name):
                out = fn(*args, **kwargs)
                if lazy:
                    tracer._execute(name, out)
                return out

        traced.__wrapped__ = fn
        traced.__name__ = getattr(fn, "__name__", name)
        return traced

    def install(self) -> None:
        """Swap every target for a span-recording wrapper."""
        if self._patched:
            return
        importers = [importlib.import_module(m) for m in IMPORTERS]
        for mod_name, attr, name in TARGETS:
            mod = importlib.import_module(mod_name)
            owner, _, leaf = attr.rpartition(".")
            holder = getattr(mod, owner) if owner else mod
            original = getattr(holder, leaf)
            wrapped = self._wrap(original, name)
            self._set(holder, leaf, wrapped)
            if not owner:
                for imp in importers:
                    if imp is not mod and getattr(imp, leaf, None) is original:
                        self._set(imp, leaf, wrapped)

    def _set(self, holder, leaf, value) -> None:
        self._patched.append((holder, leaf, getattr(holder, leaf)))
        setattr(holder, leaf, value)

    def uninstall(self) -> None:
        for holder, leaf, original in reversed(self._patched):
            setattr(holder, leaf, original)
        self._patched.clear()

    def span_cost_ms(self, n: int = 20000) -> float:
        """Measured cost of one recorded span around a no-op call (the
        tracing overhead per span on this host)."""
        probe = Tracer()
        fn = probe._wrap(lambda: None, "probe")
        t = time.perf_counter()
        for _ in range(n):
            fn()
        traced = time.perf_counter() - t
        plain = lambda: None  # noqa: E731
        t = time.perf_counter()
        for _ in range(n):
            plain()
        return max(0.0, traced - (time.perf_counter() - t)) * 1e3 / n

    # -- aggregation -------------------------------------------------------

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def self_ms(self, span: Span) -> float:
        """Duration minus the part of it that child spans (isolated
        executions included) cover."""
        kids = sorted(
            (s.start, s.end) for s in self.spans if s.parent == span.sid
        )
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (span.end - span.start - covered) * 1e3

    def timed(self) -> list[Span]:
        """Spans recorded inside timed ops (not set-up or warm-up)."""
        return [s for s in self.spans if s.op is not None]

    def median_ms(self, name: str, *, self_time=False) -> float:
        """Median duration (or self time) of the named spans inside timed
        ops."""
        spans = [s for s in self.timed() if s.name == name]
        if not spans:
            return 0.0
        vals = [self.self_ms(s) if self_time else s.ms for s in spans]
        return statistics.median(vals)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "sid": s.sid, "name": s.name, "start": s.start,
                    "end": s.end, "parent": s.parent, "op": s.op,
                }) + "\n")


class SparkCounters:
    """Per-op Spark work read from the status store, plus JVM GC time."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()

    def gc_ms(self) -> float:
        beans = self.spark._jvm.java.lang.management.ManagementFactory \
            .getGarbageCollectorMXBeans()
        return float(sum(max(0, b.getCollectionTime()) for b in beans))

    def tag(self, op_id: int) -> None:
        self.sc.setJobGroup(f"perfbench-op-{op_id}", f"op {op_id}")

    def untag(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)

    def per_op(self, windows: dict[int, tuple[float, float]]) -> dict[int, dict]:
        """Jobs, completed tasks and shuffle-write/input bytes per op.

        A job belongs to an op when it carries the op's job group, or, for
        jobs started on the program's own threads (which do not inherit
        the group), when it was submitted inside the op's wall-clock
        window (epoch seconds).  Jobs of the tracer's isolated executions
        are left out."""
        out = {op: {"jobs": 0, "tasks": 0, "shuffle_bytes": 0, "input_bytes": 0}
               for op in windows}
        jobs = self.store.jobsList(None)
        for i in range(jobs.size()):
            job = jobs.apply(i)
            group = job.jobGroup()
            op = None
            gid = str(group.get()) if group.isDefined() else ""
            if gid.startswith("perfbench-exec-"):
                continue  # the tracer's isolated execution, not the op's work
            if gid.startswith("perfbench-op-"):
                op = int(gid.rsplit("-", 1)[1])
            elif job.submissionTime().isDefined():
                t = job.submissionTime().get().getTime() / 1e3
                for k, (s, e) in windows.items():
                    if s <= t <= e:
                        op = k
                        break
            if op not in out:
                continue
            rec = out[op]
            rec["jobs"] += 1
            stage_ids = job.stageIds()
            for j in range(stage_ids.size()):
                sid = stage_ids.apply(j)
                try:
                    sd = self.store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 — stage evicted or skipped
                    continue
                rec["tasks"] += int(sd.numCompleteTasks())
                rec["shuffle_bytes"] += int(sd.shuffleWriteBytes())
                rec["input_bytes"] += int(sd.inputBytes())
        return out
