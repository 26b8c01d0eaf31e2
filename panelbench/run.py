"""Panel-CV benchmark: one client, closed loop, seeded workloads.

    python3 panelbench/run.py --workload cv_bulk --seed 1 --seconds 15 --trace 0
    python3 panelbench/run.py --workload all --seed 1 --seconds 15 --trace 0

Run from the repository root. Each run sets up three times (a fresh
SparkSession, then the run's inputs generated from ``--seed`` and written
as parquet), warms up on the workload's own requests, then times a fixed
number of requests one after another (a closed loop with one client).
Every output is checked against an independent reference after the timed
region. stderr shows each set-up, warm-up and request time and every
failing request with its traceback.

``setup_s`` is the median of the three set-ups plus the warm-up; the first
set-up alone also pays interpreter imports and JVM start. ``peak_rss_mb``
is the high-water RSS of the driver JVM plus this process at the end of
the timed requests, before the checks. ``fail_frac``
(requests that raised or failed their check, over requests attempted) is
printed per workload; the JSON line carries it as ``failed``/``attempted``.

The last stdout line is one JSON object: end-to-end metrics with
``--trace 0``. With ``--trace 1`` the timed requests run twice instead,
each time on a fresh session after a warm-up: traced (Spark's event log
on, spans and job groups), then untraced with the event log off. The JSON
line then holds per-layer metrics from the event log and the traced minus
untraced wall time, ``tracing_overhead_s``. ``--workload all`` runs every workload in one process: only the
first pays JVM start, and peak RSS is the process's high water so far.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

# Per-layer metrics come from these spans. The end-to-end metric each
# should move, and where:
# - cross_validation.PanelSplit.*, metrics.per_fold_scores.{jobs,driver_ms}:
#   req_p50_s on cv_interactive; negligible on cv_bulk.
# - application.*.{exec_cpu_ms,python_bytes}: wall_s on cv_udf.
# - cross_val_fit.python_free_share, GridSearch.fit.jobs_per_candidate,
#   pipeline.*: wall_s on cv_bulk; no change on cv_udf.
# - dedup.*, prefix_filter_candidates.precision, tables.write_sink.*:
#   wall_s and peak_rss_mb on corpus_dedup; absent from the cv_* workloads.
# - gc_ms: peak_rss_mb where it occurs; failed_tasks: fail_frac.
SPANS = (
    "cross_validation.PanelSplit",
    "application.cross_val_fit",
    "application.cross_val_predict",
    "metrics.per_fold_scores",
    "model_selection.GridSearch.fit",
    "pipeline.SequentialCVPipeline.fit",
    "pipeline.SequentialCVPipeline.predict_df",
    "dedup.doc_shingles",
    "dedup.prefix_filter_candidates",
    "dedup.ngram_jaccard_pairs",
    "dedup.connected_components",
    "tables.write_sink",
)
SETUPS = 3


def _prepare_env() -> None:
    """Point every scratch path at the work directory and let Spark's
    Python workers import the package from the checkout."""
    shutil.rmtree(WORK, ignore_errors=True)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    # every JVM, the launcher included: no /tmp/hsperfdata, temp in WORK
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    )
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in [os.environ.get("PYTHONPATH")] if p]
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    sys.path[:0] = [ROOT, HERE]


def _cores() -> int:
    """Spark's task slots: half the CPUs this process may run on (what
    ``nproc`` prints, not the host count ``os.cpu_count()`` gives). The
    other half runs the driver's Python, the Python workers and the JVM's
    own threads. With every CPU given to tasks, ``cv_bulk``'s wall time
    spread (IQR/median over ten seeds, 4 shared vCPUs) was 0.17-0.27;
    with half, about 0.1, and the median did not rise."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def _session(cores: int, event_log: bool = False):
    from pyspark.sql import SparkSession

    logs = os.path.join(WORK, "eventlog")
    os.makedirs(logs, exist_ok=True)
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("panelbench")
        .config("spark.driver.memory", "2g")
        # SerialGC sizes the heap from the live data left after each
        # collection, so the JVM's RSS follows what the program keeps.
        # G1's pause-time-driven sizing moved cv_bulk's peak RSS by an
        # IQR/median of 0.19 over five seeds; SerialGC's by 0.04.
        .config("spark.driver.extraJavaOptions", "-XX:+UseSerialGC")
        .config("spark.sql.warehouse.dir", os.path.join(WORK, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # set either way: a session started after one with the log on
        # inherits it otherwise
        .config("spark.eventLog.enabled", str(event_log).lower())
        .config("spark.eventLog.rolling.enabled", "true")
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.dir", "file://" + logs)
    )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark) -> None:
    if spark is not None:
        spark.stop()


def _shutdown_jvm() -> None:
    """Stop the Py4J gateway JVM and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _fmt(xs) -> str:
    return "[" + ", ".join(f"{x:.2f}" for x in xs) + "] s"


def _timed(wl, spark, batch, tracer, ctx, log):
    """Run ``batch`` back to back; returns (wall_s, latencies, outputs)
    with None outputs for requests that raised."""
    lat, outs = [], []
    t0 = time.perf_counter()
    for inp in batch:
        t = time.perf_counter()
        try:
            with tracer.span("request"):
                outs.append(wl.request(spark, inp, tracer, ctx))
        except Exception:  # a failed request is counted, not fatal
            log(f"{wl.name}: request {inp.path} raised\n"
                + traceback.format_exc())
            outs.append(None)
        lat.append(time.perf_counter() - t)
    return time.perf_counter() - t0, lat, outs


def _check_all(wl, spark, batch, outs, ctx, log) -> int:
    """Check each completed output; returns the number of failures
    (raised or mismatched)."""
    failed = 0
    for inp, out in zip(batch, outs):
        if out is None:
            failed += 1
            continue
        try:
            wl.check(spark, inp, out, ctx)
        except Exception:
            failed += 1
            log(f"{wl.name}: request {inp.path} failed its check\n"
                + traceback.format_exc())
    return failed


def run_workload(name: str, seed: int, seconds: int, trace: bool,
                 log) -> dict:
    import inputs
    from spans import Tracer
    from workloads import WORKLOADS

    wl = WORKLOADS[name]
    cores = _cores()
    n_timed = max(1, round(seconds / wl.nominal_s))
    ctx = {"grid_n_jobs": cores}
    data_dir = os.path.join(WORK, "inputs", name)

    # set-up: fresh session + this run's inputs, three times; the
    # warm-up pass runs once, on the last session
    setups, spark = [], None
    for _ in range(SETUPS):
        t = time.perf_counter()
        _stop(spark)
        spark = _session(cores)
        shutil.rmtree(data_dir, ignore_errors=True)
        os.makedirs(data_dir)
        batch = []
        for i in range(wl.warmup + n_timed):
            inp = wl.generate(inputs.request_rng(seed, name, i))
            inp.path = os.path.join(data_dir, f"req{i}.parquet")
            inp.data.to_parquet(inp.path, index=False)
            batch.append(inp)
        setups.append(time.perf_counter() - t)
    t = time.perf_counter()
    off = Tracer()
    warm = []
    for inp in batch[: wl.warmup]:
        t1 = time.perf_counter()
        wl.request(spark, inp, off, ctx)
        warm.append(time.perf_counter() - t1)
    warm_s = time.perf_counter() - t
    timed = batch[wl.warmup:]
    fingerprint = {
        "workload": name, "seed": seed, "seconds": seconds,
        "local_cores": cores,
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "grid_n_jobs": ctx["grid_n_jobs"], "requests": len(timed),
        "python": platform.python_version(),
        "pyspark": spark.version,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
    }
    log(f"{name}: set-ups {_fmt(setups)}, warm-up {_fmt(warm)}")
    result = layers = None
    if not trace:
        wall, lat, outs = _timed(wl, spark, timed, off, ctx, log)
        # read before the checks, whose references would raise the marks
        jvm_mb = _hwm_mb(spark._jvm.java.lang.ProcessHandle.current().pid())
        py_mb = _hwm_mb(os.getpid())
        t = time.perf_counter()
        failed = _check_all(wl, spark, timed, outs, ctx, log)
        log(f"{name}: requests {_fmt(lat)}, checks "
            f"{time.perf_counter() - t:.2f} s, peak RSS JVM {jvm_mb:.0f} MB "
            f"+ Python {py_mb:.0f} MB")
        attempted = len(timed)
        result = {
            "setup_s": statistics.median(setups) + warm_s,
            "wall_s": wall,
            "req_p50_s": statistics.median(lat),
            "peak_rss_mb": jvm_mb + py_mb,
            "fail_frac": failed / attempted,
        }
    else:
        # The traced pass (event log, spans and job groups) runs on a fresh
        # session with the event log on, then an untraced pass on a fresh
        # session without it, each after the workload's warm-up. Their
        # difference is the tracing overhead. Latency still drifts down
        # from pass to pass, so it reads high rather than low.
        walls, failed, attempted = [], 0, 0
        for traced in (True, False):
            _stop(spark)
            spark = _session(cores, event_log=traced)
            for inp in batch[: wl.warmup]:
                wl.request(spark, inp, off, ctx)
            tr = off
            if traced:
                tr = tracer = Tracer(spark.sparkContext, enabled=True)
                app_id = spark.sparkContext.applicationId
            w, _, touts = _timed(wl, spark, timed, tr, ctx, log)
            walls.append(w)
            failed += _check_all(wl, spark, timed, touts, ctx, log)
            attempted += len(timed)
        log(f"{name}: traced pass {walls[0]:.2f} s, untraced pass "
            f"{walls[1]:.2f} s")
        layers = _layers(tracer.spans, app_id, ctx)
        layers["tracing_overhead_s"] = walls[0] - walls[1]
    _stop(spark)
    shutil.rmtree(data_dir, ignore_errors=True)
    return {"fingerprint": fingerprint, "end_to_end": result,
            "layers": layers, "attempted": attempted, "failed": failed}


def _layers(spans, app_id, ctx) -> dict:
    """Per-call means of each span's layer metrics, named
    ``<span>.<metric>``; spans a workload never calls read 0."""
    import eventlog

    path = os.path.join(WORK, "eventlog", f"eventlog_v2_{app_id}")
    per = eventlog.span_metrics(spans, eventlog.parse(
        eventlog.read_events(path)
    ))
    by_name = {}
    for s, m in zip(spans, per):
        by_name.setdefault(s.name, []).append(m)
    out = {}
    for name in SPANS:
        ms = by_name.get(name, [])
        for k in eventlog.METRICS:
            out[f"{name}.{k}"] = (
                sum(m[k] for m in ms) / len(ms) if ms else 0.0
            )
    req = by_name.get("request", [])
    out["request.self_ms"] = (
        sum(m["self_ms"] for m in req) / len(req) if req else 0.0
    )
    for call in ("cross_val_fit", "cross_val_predict"):
        ms = by_name.get(f"application.{call}", [])
        out[f"application.{call}.python_bytes"] = (
            sum(m["python_bytes"] for m in ms) / len(ms) if ms else 0.0
        )
    fits = by_name.get("application.cross_val_fit", [])
    out["application.cross_val_fit.python_free_share"] = (
        sum(not m["runs_python"] for m in fits) / len(fits) if fits else 0.0
    )
    grid = by_name.get("model_selection.GridSearch.fit", [])
    out["model_selection.GridSearch.fit.jobs_per_candidate"] = (
        sum(m["jobs"] for m in grid) / len(grid) / ctx["grid_candidates"]
        if grid else 0.0
    )
    out["dedup.prefix_filter_candidates.precision"] = (
        ctx["verified"] / ctx["candidates"] if ctx.get("candidates") else 0.0
    )
    return out


UNITS = {"setup_s": "s", "wall_s": "s", "req_p50_s": "s",
         "fail_frac": "share", "peak_rss_mb": "MB"}


def _unit(metric: str) -> str:
    if metric in UNITS:
        return UNITS[metric]
    if metric.endswith("_ms"):
        return "ms"
    if metric.endswith("_bytes"):
        return "bytes"
    if metric.endswith("_s"):
        return "s"
    if metric.endswith(("_share", ".precision")):
        return "share"
    return "count"


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, default=15)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    def log(msg):
        print(msg, file=sys.stderr, flush=True)

    _prepare_env()
    results = {}
    try:
        try:
            from workloads import WORKLOADS
        except ImportError as e:
            log(f"cannot import the package under test: {e}")
            return 2
        names = list(WORKLOADS) if args.workload == "all" else [args.workload]
        if any(n not in WORKLOADS for n in names):
            log(f"unknown workload {args.workload!r}; one of "
                f"{sorted(WORKLOADS)} or 'all'")
            return 2
        for n in names:
            results[n] = run_workload(n, args.seed, args.seconds,
                                      bool(args.trace), log)
    finally:
        _shutdown_jvm()
        shutil.rmtree(WORK, ignore_errors=True)

    metrics = {}
    for n, r in results.items():
        print("fingerprint " + json.dumps(r["fingerprint"]))
        e2e = r["end_to_end"] or {
            "tracing_overhead_s": r["layers"]["tracing_overhead_s"]
        }
        print(f"{n}: " + "  ".join(
            f"{k}={v:.4g} {_unit(k)}" for k, v in e2e.items()
        ) + f"  ({r['failed']}/{r['attempted']} requests failed)")
        picked = r["layers"] if args.trace else {
            k: v for k, v in e2e.items() if k != "fail_frac"
        }
        prefix = f"{n}." if len(names) > 1 else ""
        for k, v in picked.items():
            metrics[prefix + k] = {"value": v, "unit": _unit(k)}
    attempted = sum(r["attempted"] for r in results.values())
    failed = sum(r["failed"] for r in results.values())
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
