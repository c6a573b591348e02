"""Reactive pipeline executor — EP2's driver loop
(`/root/reference/src/lib/pipelineRunner.js`).

subscribe → debounce 300 ms → compile → execute → publish, plus the
error-driven re-plan: when FTS scoring fails at runtime, clear the FTS
capability cache and recompile with the ILIKE fallback
(pipelineRunner.js:21-40, 91-104; fts.js:93-96).

This is driver-side orchestration — Catalyst never sees the debounce; it
exists so query storms (slider drags, keystrokes) coalesce into one Spark
job, the same reason the browser app debounces (pipelineRunner.js:37-40).
"""

from __future__ import annotations

import re
import threading
import time
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame

from overturemaps_duckdb_spark.plans.pipeline import (
    Catalog,
    Node,
    compile_pipeline,
    geojson_rows,
)

#: recompile debounce (pipelineRunner.js:37-40)
DEBOUNCE_S = 0.3


def looks_like_fts_failure(exc: Exception) -> bool:
    """The reference sniffs 'match_bm25' in the error text
    (pipelineRunner.js:93-96).  Compile-time FTS failures arrive as the
    typed FtsScoringError (pipeline.py wraps the whole scoring branch —
    the common case); the text sniff remains for execution-time failures
    surfacing lazily from inside the scoring plan (e.g. a persisted
    postings store missing at executor read time).

    The sniff matches FTS-specific tokens only: bm25 / postings / an
    'fts' not preceded by a word character.  Bare substring matches were
    a real degrade-by-accident bug: 'drafts' contains 'fts' and any
    error naming a *_score column contains '_score', so an unrelated
    missing-file error could silently clear the FTS capability cache and
    permanently change ranking — exactly what the docstring below
    promises must NOT happen."""
    from overturemaps_duckdb_spark.operators.fts import FtsScoringError

    if isinstance(exc, FtsScoringError):
        return True
    msg = str(exc).lower()
    if "match_bm25" in msg or "bm25" in msg or "postings" in msg:
        return True
    return re.search(r"(?<![a-z0-9])fts", msg) is not None


@dataclass
class RunOutcome:
    rows: list
    count: int
    duration_ms: float
    degraded: bool  # True when the FTS → ILIKE retry path ran


@dataclass
class PipelineRunner:
    catalog: Catalog
    debounce_s: float = DEBOUNCE_S
    on_result: Callable[[RunOutcome], None] | None = None
    is_fts_failure: Callable[[Exception], bool] = looks_like_fts_failure

    nodes: list[Node] = field(default_factory=list)
    search: str = ""
    limit: int = 3000
    bbox: tuple | None = None
    #: user-edited SQL replacing the compiled plan when set
    #: (store.js:27, pipelineRunner.js:73) — executed via the EP3 shim
    sql_override: str | None = None
    spark: object = None  # SparkSession, required only for sql_override

    _timer: threading.Timer | None = field(default=None, repr=False)
    _lock: threading.Lock = field(default_factory=threading.Lock, repr=False)
    run_count: int = 0  # observable for tests (compile+execute invocations)
    #: exception from the last DEBOUNCED run (timer thread) — re-raised by
    #: flush().  A direct run_now() still raises inline; without this, a
    #: failure on the timer thread vanished into threading's excepthook and
    #: the caller could never learn the run failed.
    last_error: Exception | None = field(default=None, repr=False)

    def update(self, **changes) -> None:
        """State change → debounced re-run (pipelineRunner.js:21-40).
        Rapid successive updates cancel the pending run — one job per storm.

        Mutation happens under the lock: run_now snapshots the state under
        the same lock, so an in-flight run can never observe a half-applied
        update (new search + stale bbox) and publish a result corresponding
        to no state the user ever requested."""
        with self._lock:
            for k, v in changes.items():
                if not hasattr(self, k):
                    raise AttributeError(f"unknown pipeline state {k!r}")
                setattr(self, k, v)
            if self._timer is not None:
                self._timer.cancel()
            self._timer = threading.Timer(self.debounce_s, self._run_debounced)
            self._timer.daemon = True
            self._timer.start()

    def _run_debounced(self) -> None:
        """Timer-thread entry: capture failures for flush() to re-raise."""
        try:
            self.run_now()
        except Exception as exc:  # noqa: BLE001 — stored, not swallowed
            with self._lock:
                self.last_error = exc

    def flush(self, timeout: float = 30.0) -> None:
        """Wait for a pending debounced run (test/shutdown hook); re-raise
        the error if that run failed on the timer thread."""
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            with self._lock:
                t = self._timer
            if t is None or not t.is_alive():
                break
            time.sleep(0.01)
        with self._lock:
            err, self.last_error = self.last_error, None
        if err is not None:
            raise err

    def _snapshot(self) -> dict:
        """Copy the user-mutable state under the lock — one consistent view
        per run, however update() races the timer thread."""
        with self._lock:
            return {
                "nodes": list(self.nodes),
                "search": self.search,
                "limit": self.limit,
                "bbox": self.bbox,
                "sql_override": self.sql_override,
            }

    def _compile(self, snap: dict, use_fts: bool) -> DataFrame | None:
        if snap["sql_override"]:
            # the edited SQL replaces the compiled text entirely
            # (pipelineRunner.js:73); loaded theme tables are temp views
            from overturemaps_duckdb_spark.compat import duck_sql

            spark = self.spark
            if spark is None:
                any_df = next(iter(self.catalog.tables.values()), None)
                if any_df is None:
                    return None
                spark = any_df.sparkSession
            for name, df in self.catalog.tables.items():
                df.createOrReplaceTempView(name)
            return duck_sql(spark, snap["sql_override"])
        cat = self.catalog
        if not use_fts and cat.fts:
            cat = Catalog(tables=cat.tables, fields=cat.fields, fts={})
        return compile_pipeline(
            cat,
            snap["nodes"],
            search=snap["search"],
            limit=snap["limit"],
            bbox=snap["bbox"],
        )

    def run_now(self) -> RunOutcome | None:
        """Compile + execute, with the FTS-degrade retry
        (pipelineRunner.js:91-104).

        Unlike DuckDB (string SQL fails only at execution), Spark raises FTS
        problems at DataFrame-construction time too — so compile and execute
        sit inside one try.  A failure only degrades when FTS was actually in
        play (searching + indexes registered) AND the error looks like an FTS
        failure — the reference degrades only when the error text names
        match_bm25 (pipelineRunner.js:93-96); a transient non-FTS failure
        (OOM, missing file) must surface, not silently change ranking.

        A compiled plan returns raw WKB `geometry`; the ≤ `limit` collected
        rows get their `geojson` text here on the driver, which is cheaper
        than any Python stage inside the plan.  A user SQL override's rows
        are returned as its query produced them."""
        t0 = time.monotonic()
        degraded = False
        snap = self._snapshot()
        with self._lock:
            self.run_count += 1
        fts_in_play = bool(snap["search"]) and bool(self.catalog.fts)
        try:
            df = self._compile(snap, use_fts=True)
            if df is None:
                return None
            rows = df.collect()
        except Exception as exc:  # noqa: BLE001 — mirror ref catch-all
            if not (fts_in_play and self.is_fts_failure(exc)):
                raise
            # clear FTS capability + recompile with ILIKE (fts.js:93-96);
            # release the dropped indexes' cached frames (the CacheManager
            # never frees them on Python GC)
            for idx in self.catalog.fts.values():
                unp = getattr(idx, "unpersist", None)
                if unp is not None:
                    unp()
            self.catalog.fts.clear()
            degraded = True
            with self._lock:
                self.run_count += 1
            df = self._compile(snap, use_fts=False)
            if df is None:
                return None
            rows = df.collect()
        if not snap["sql_override"]:
            rows = geojson_rows(rows)
        out = RunOutcome(
            rows, len(rows), (time.monotonic() - t0) * 1e3, degraded
        )
        if self.on_result is not None:
            self.on_result(out)
        return out
