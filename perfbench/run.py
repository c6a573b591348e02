"""Benchmark entry point.

    python3 perfbench/run.py --workload explore|corpus --seed N --seconds S --trace 0|1

Run from the repository root.  One process, one client in a closed loop:
each op starts when the previous one has returned its rows to the driver.
Spark runs as ``local[nproc]`` with a heap sized to the machine.  Inputs
are generated from the seed into a fresh work directory under
``.perfbench_work/``, which is removed when the run ends.

With ``--trace 0`` the last stdout line is the JSON result with every
end-to-end metric; with ``--trace 1`` it carries the per-layer metrics
(spans recorded around the program's public functions, Spark counters per
op) and the tracing overhead.  See perfbench/README.md.
"""

from __future__ import annotations

import time

T0 = time.monotonic()

from common import cpu_ticks  # noqa: E402  (the script's own directory)

CPU_T0 = cpu_ticks()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
from contextlib import nullcontext  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "overturemaps_duckdb_spark"

def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("explore", "corpus"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size relative to the full workload (smoke test: 0.01)")
    return ap.parse_args(argv)


def _heap_gb() -> int:
    with open("/proc/meminfo") as f:
        total_kb = int(next(line for line in f if line.startswith("MemTotal:")).split()[1])
    return max(1, min(4, int(total_kb / 2**20 / 5)))


def _configure_env(work: str, nproc: int, heap: str) -> None:
    """Keep every file Spark, the JVM and the Python workers write inside
    the work directory, and let the workers import the program."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = heap
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    # every JVM the launcher starts keeps its temp files (native libs,
    # artifact dirs) in the work dir and writes no hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = None
    from pyspark.sql import SparkSession

    (
        SparkSession.builder
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.ui.retainedStages", "100000")
        .config("spark.sql.ui.retainedExecutions", "100")
    )


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _shutdown(spark) -> None:
    """Stop Spark, the JVM and every Python worker; wait for each."""
    from common import descendants

    pids = descendants()
    if spark is not None:
        try:
            spark.stop()
        except Exception as exc:  # noqa: BLE001 — still stop the JVM below
            print(f"# spark.stop failed: {exc!r}", file=sys.stderr)
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None) if gateway is not None else None
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:  # noqa: BLE001 — the JVM may already be gone
            pass
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — escalate below
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 60
    while any(_alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in pids:
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass
    while any(_alive(p) for p in pids) and time.monotonic() < deadline + 30:
        time.sleep(0.1)


def _loop(wl, ops, seconds: float, round_len: int, records: list, op_ids,
          tracer=None, counters=None) -> float:
    """Closed loop for `seconds` of op time, in whole rounds of
    `round_len` ops (so every run measures the same op mix); returns the
    timed wall clock (loop time minus the counter walks done between
    ops and the tracer's isolated executions)."""
    from common import OpRecord

    t0 = time.perf_counter()
    paused = 0.0
    n = 0
    while time.perf_counter() - t0 - paused < seconds or n % round_len:
        n += 1
        kind, params = next(ops)
        rec = OpRecord(next(op_ids), kind, params)
        if tracer is not None:
            tracer.op = rec.op_id
            counters.tag(rec.op_id)
        rec.start = time.time()
        x0 = tracer.excluded_s if tracer is not None else 0.0
        t = time.perf_counter()
        try:
            with tracer.span(f"op.{kind}") if tracer is not None else nullcontext():
                wl.execute(rec)
        except Exception as exc:  # noqa: BLE001 — a failed op is counted, not fatal
            rec.ok = False
            rec.error = repr(exc)[:300]
        rec.ms = (time.perf_counter() - t) * 1e3
        rec.end = time.time()
        if tracer is not None:
            excluded = tracer.excluded_s - x0
            rec.ms -= excluded * 1e3
            paused += excluded
            tracer.op = None
            counters.untag()
        paused += wl.after_op(rec)
        records.append(rec)
        print(f"# op {rec.op_id} {kind} {rec.ms:.1f} ms ok={rec.ok}", file=sys.stderr)
    return time.perf_counter() - t0 - paused


def run(args, work: str) -> tuple[dict, list[str], object]:
    import common
    import spans as tracing
    from overturemaps_duckdb_spark import session

    nproc = len(os.sched_getaffinity(0))
    heap = f"{_heap_gb()}g"
    _configure_env(work, nproc, heap)
    tracer = tracing.Tracer() if args.trace else None
    if tracer is not None:
        tracer.install()

    spark = session.get_spark(cpus=nproc)
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.monotonic() - T0
    info = [
        f"# host nproc={nproc} master={spark.sparkContext.master} "
        f"defaultParallelism={spark.sparkContext.defaultParallelism} heap={heap} "
        f"seed={args.seed} workload={args.workload} seconds={args.seconds:g} "
        f"trace={args.trace} scale={args.scale:g}"
    ]
    if args.workload == "explore":
        from explore import Explore as Workload
    else:
        from corpus import Corpus as Workload
    wl = Workload(spark, seed=args.seed, scale=args.scale)
    if tracer is not None:
        tracer.sc = spark.sparkContext

    t = time.monotonic()
    wl.prepare(work)
    data_s = time.monotonic() - t
    t = time.monotonic()
    wl.build()
    build_s = time.monotonic() - t
    traced = tracer is not None
    t = time.monotonic()
    wl.warmup()
    warm_s = time.monotonic() - t
    setup_s = time.monotonic() - T0
    info.append(
        f"# setup_s={setup_s:.3f}: session {session_s:.3f} s, inputs {data_s:.3f} s, "
        f"build {build_s:.3f} s, warm-up {warm_s:.3f} s"
    )

    records: list = []
    op_ids = iter(range(10**9))
    ops = wl.ops()
    round_len = len(wl.sequence())
    counters = tracing.SparkCounters(spark) if traced else None
    cpu0 = cpu_ticks()
    if not traced:
        wall = _loop(wl, ops, args.seconds, round_len, records, op_ids)
    else:
        gc0 = counters.gc_ms()
        wall = _loop(wl, ops, args.seconds, round_len, records, op_ids, tracer, counters)
        gc_ms = counters.gc_ms() - gc0
        tracer.uninstall()

    rss = common.tree_peak_rss_mb()
    cpu1 = cpu_ticks()

    def steal(a, b):
        return 100 * (b[1] - a[1]) / max(1, b[0] - a[0])

    info.append(
        f"# cpu steal (hypervisor neighbours): set-up {steal(CPU_T0, cpu0):.1f} %, "
        f"timed loop {steal(cpu0, cpu1):.1f} %"
    )
    t = time.monotonic()
    bad = wl.check(records)
    info.append(f"# checks {time.monotonic() - t:.3f}s mismatches={len(bad)}")
    for b in bad[:20]:
        info.append(f"# mismatch {b}")
    for r in records:
        if not r.ok and r.error != "output check failed":
            info.append(f"# failed op {r.op_id} {r.kind}: {r.error}")

    ok = [r for r in records if r.ok]
    failed = len(records) - len(ok)
    lat = [r.ms for r in ok]
    e2e = {
        "setup_s": (setup_s, "s"),
        "op_p50_ms": (common.median(lat), "ms"),
        "ops_per_s": (len(ok) / wall if wall > 0 else 0.0, "1/s"),
        "peak_rss_mb": (rss, "MB"),
    }
    info.append(
        f"# error_rate={failed / max(1, len(records)):.4f} ratio "
        f"(failed={failed} attempted={len(records)}); op_tail_ms=n/a "
        f"(n={len(lat)} ops; a tail needs 10 samples beyond it)"
    )
    info.append("# " + " ".join(f"{k}={v:.4f} {u}" for k, (v, u) in e2e.items()))
    extra = workload_figures(wl, records)
    info.append("# " + " ".join(f"{k}={v:.4f} {u}" for k, (v, u) in extra.items()))
    if tracer is None:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    else:
        layers = per_layer(wl, records, tracer, counters, gc_ms)
        layers.update(extra)
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in layers.items()}
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        tracer.dump(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.jsonl"))
    result = {
        "correct": failed == 0,
        "attempted": len(records),
        "failed": failed,
        "metrics": metrics,
    }
    return result, info, spark


def workload_figures(wl, records) -> dict:
    """End-to-end figures of one op kind or one workload, reported with the
    per-layer metrics (zero where a workload has no such op)."""
    from common import median

    loads = [r for r in records if r.ok and r.kind == "load" and not r.extra["cached"]]
    explore = wl.name == "explore"
    return {
        "search_p50_ms": (median([r.ms for r in records if r.ok and r.kind == "search"]), "ms"),
        "console_p50_ms": (median([r.ms for r in records if r.ok and r.kind == "console"]), "ms"),
        "spatial_p50_ms": (median([r.ms for r in records if r.ok and r.kind == "spatial"]), "ms"),
        "load_miss_p50_ms": (median([r.ms for r in loads]), "ms"),
        "stored_bytes_per_row": (wl.stored_bytes_per_row() if explore else 0.0, "B/row"),
        "docs_per_s": (0.0 if explore else wl.docs_per_s(), "docs/s"),
    }


def per_layer(wl, records, tracer, counters, gc_ms: float) -> dict:
    from common import median

    by_kind: dict[str, list] = {}
    for r in records:
        if r.ok:
            by_kind.setdefault(r.kind, []).append(r.ms)
    op_time_ms = sum(r.ms for r in records)
    overhead = 100 * len(tracer.spans) * tracer.span_cost_ms() / op_time_ms if op_time_ms else 0.0

    def ms(name, **kw):
        return tracer.median_ms(name, **kw)

    def op_ms(kind):
        return median(by_kind.get(kind, []))

    timed = tracer.timed()
    miss_spans = [
        s for s in timed if s.name == "sources.ingest.load_theme"
        and any(c.parent == s.sid and c.name == "sources.layout.write" for c in timed)
    ]
    prune = {}
    for s in timed:
        if s.name.startswith("sources.manifest.") and s.parent is not None:
            prune[s.parent] = prune.get(s.parent, 0.0) + s.ms
    misses = [r for r in records if r.ok and r.kind == "load" and not r.extra["cached"]]
    loads = [r for r in records if r.ok and r.kind == "load"]
    files_total = sum(r.extra["files_total"] for r in misses)
    n_theme_misses = sum(
        sum(1 for _rows, cached in r.digest.values() if not cached) for r in misses
    )
    spark_ops = counters.per_op({r.op_id: (r.start, r.end) for r in records})
    n_ops = max(1, len(records))
    recalls = getattr(wl, "recalls", [])
    pairs = getattr(wl, "pairs", [])
    return {
        "session.get_spark_s": (tracer.named("session.get_spark")[0].ms / 1e3, "s"),
        "plans.pipeline.compile_ms": (ms("plans.pipeline.compile"), "ms"),
        "plans.runner.execute_ms": (ms("plans.runner.run_now", self_time=True), "ms"),
        "plans.runner.runs_per_storm": (
            wl.storm_runs / wl.storms if getattr(wl, "storms", 0) else 0.0, "count"),
        "operators.fts.bm25_score_ms": (ms("operators.fts.bm25_score.exec"), "ms"),
        "operators.fts.build_index_ms": (ms("operators.fts.build_index.exec"), "ms"),
        "operators.spatial_join.build_ms": (median([
            s.ms for s in timed
            if s.name.startswith("operators.spatial_join.") and s.name.endswith(".exec")
        ]), "ms"),
        "compat.duck_sql_ms": (ms("compat.duck_sql"), "ms"),
        "sources.manifest.prune_ms": (median(list(prune.values())), "ms"),
        "sources.manifest.files_kept_ratio": (
            sum(r.extra["files_scanned"] for r in misses) / files_total if files_total else 0.0,
            "ratio"),
        "sources.ingest.load_theme_ms": (median([s.ms for s in miss_spans]), "ms"),
        "sources.ingest.batches_per_load": (
            sum(r.extra["batches"] for r in misses) / n_theme_misses if n_theme_misses else 0.0,
            "count"),
        "sources.layout.write_ms": (ms("sources.layout.write"), "ms"),
        "sources.layout.files_per_load": (
            median([m["layout_files"] for m in getattr(wl, "miss_stats", [])]), "count"),
        "state.snapview_save_ms": (ms("state.snapview_save"), "ms"),
        "state.snapview_hit_ratio": (
            sum(1 for r in loads if r.extra["cached"]) / len(loads) if loads else 0.0, "ratio"),
        "state.load_history_ms": (ms("state.load_history"), "ms"),
        "operators.dedup.exact_ms": (op_ms("exact"), "ms"),
        "operators.dedup.minhash_lsh_ms": (op_ms("lsh"), "ms"),
        "operators.dedup.pairs": (median(pairs), "count"),
        "operators.similarity.cosine_topk_ms": (op_ms("cosine"), "ms"),
        "operators.similarity.ivf_probe_ms": (op_ms("ivf"), "ms"),
        "operators.similarity.ivf_recall_at_10": (median(recalls), "ratio"),
        "operators.textprep.quality_ms": (op_ms("quality"), "ms"),
        "spark.jobs_per_op": (sum(v["jobs"] for v in spark_ops.values()) / n_ops, "count"),
        "spark.tasks_per_op": (sum(v["tasks"] for v in spark_ops.values()) / n_ops, "count"),
        "spark.shuffle_bytes_per_op": (
            sum(v["shuffle_bytes"] for v in spark_ops.values()) / n_ops, "B"),
        "spark.input_bytes_per_op": (
            sum(v["input_bytes"] for v in spark_ops.values()) / n_ops, "B"),
        "jvm.gc_ms_per_op": (gc_ms / n_ops, "ms"),
        "trace.overhead_pct": (overhead, "%"),
    }


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"{PACKAGE}/ not found under {ROOT}: run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = None
    try:
        result, info, spark = run(args, work)
    finally:
        try:
            from pyspark.sql import SparkSession

            spark = spark or SparkSession.getActiveSession()
            _shutdown(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)
            parent = os.path.dirname(work)
            if os.path.isdir(parent) and not os.listdir(parent):
                os.rmdir(parent)
    for line in info:
        print(line)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
