"""Closed-loop benchmark of the reporting engine, one client, one process.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Workloads (membership, reasons and
excluded board rows in ``perfbench/workloads.json``):

- ``elt_incremental``: EP1–EP3 loads from a loopback Airflow fake;
- ``query_board``: board rows of the ``report_sql`` family (star-schema
  and ``events`` tables) and the ``llm_curation`` family
  (``documents``/``embeddings``), plus their table and index writes.

A run sets the session up cold ``SETUPS`` times: ``get_spark()`` until a
first trivial action, each in a newly launched JVM (the JVM of every
set-up but the last is stopped). ``setup_s`` is their median. The run
then makes one warm-up pass that is not counted and on which each query
row is checked against its DuckDB oracle, then runs whole passes until
``--seconds`` have gone by and at least the workload's ``min_passes``
have run. Each op is issued after the previous one completes. Output
checks run outside the timed region; an exception or a wrong output
counts the op as failed.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` splits the
window: one untraced pass, then a session restart with the Spark event
log on and one pass with spans; it prints the per-layer metrics and the
tracing overhead (traced minus untraced value of each end-to-end
metric; for ``setup_s``, the context restart with the event log minus
one without it). The traced half follows the restart without another
warm-up, so the overhead is an upper bound that includes restart
effects. Per-layer counts are per counted pass; per-call times are
medians over calls.

Human-readable lines go to stderr; the last stdout line is the result.
"""

from __future__ import annotations

import argparse
import faulthandler
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 2
#: a run must end well inside the 180 s a run is allowed
WATCHDOG_S = 170


def _log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)


def _environment(run_dir: str) -> None:
    """Workers get the checkout on their path; every scratch file the JVM,
    the workers or the program write lands in ``run_dir``."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    nproc = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    sys.path.insert(0, ROOT)


def _conf(run_dir: str, event_dir: str | None) -> dict[str, str]:
    tmp = os.path.join(run_dir, "tmp")
    conf = {
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(run_dir, "spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_dir is not None:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def _stop_jvm(spark) -> None:
    """Stop the session and its gateway JVM and forget the gateway, so
    that the next ``get_spark()`` launches a new JVM."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _setup(conf: dict[str, str]):
    from cs_tutorial_reporting_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.range(1).count()
    return spark, time.perf_counter() - t0


def _run_pass(wl, ctx, samples: list | None) -> tuple[float, int]:
    """One pass; returns (summed op seconds, failed ops). Appends
    (op, seconds, failed) to ``samples`` when the pass is counted."""
    total, failed = 0.0, 0
    for op in wl.pass_ops():
        err = None
        dt = 0.0
        try:
            if op.pre is not None:
                op.pre()
            t0 = time.perf_counter()
            try:
                with ctx.tracer.span("op", op.name):
                    out = op.run()
            finally:
                dt = time.perf_counter() - t0
            op.check(out)
        except Exception as e:  # noqa: BLE001 (a failed op is counted, the run goes on)
            err = e
            _log(f"op {op.name} failed: {e!r}")
            traceback.print_exc(file=sys.stderr)
        total += dt
        failed += err is not None
        if samples is not None:
            samples.append((op, dt, err is not None))
    return total, failed


def _window(wl, ctx, seconds: float, min_passes: int) -> dict:
    """Whole passes until ``seconds`` have elapsed and at least
    ``min_passes`` have run."""
    samples: list = []
    passes: list[float] = []
    ctx.counting = True
    t0 = time.perf_counter()
    while True:
        t_pass = time.perf_counter()
        total, _ = _run_pass(wl, ctx, samples)
        passes.append(total)
        _log(f"pass {len(passes)}: ops {total:.2f} s, wall {time.perf_counter() - t_pass:.2f} s")
        if len(passes) >= min_passes and time.perf_counter() - t0 >= seconds:
            break
    ctx.counting = False
    return {"samples": samples, "passes": passes}


def _quantile(xs: list[float], q: float) -> float:
    return statistics.quantiles(xs, n=100, method="inclusive")[round(q * 100) - 1]


def _end_to_end(win: dict, setup_s: float) -> dict[str, float]:
    times = [dt for _, dt, _ in win["samples"]]
    return {
        "setup_s": setup_s,
        "op_s_p50": statistics.median(times),
        "op_s_p90": _quantile(times, 0.9),
        "pass_s": statistics.median(win["passes"]),
    }


UNITS = {
    "setup_s": "s", "op_s_p50": "s", "op_s_p90": "s", "pass_s": "s",
    "peak_rss_mb": "MB", "failed_frac": "ratio",
    "elt.rows_loaded_per_s": "rows/s", "elt.rerun_s_p50": "s",
    "elt.stored_bytes_per_row": "B/row",
}


def _report(workload: str, metrics: dict[str, float], samples: list) -> None:
    by: dict[str, list[float]] = {}
    for op, dt, _ in samples:
        by.setdefault(op.name, []).append(dt)
    _log(f"[{workload}] median seconds per op:")
    for name, ts in sorted(by.items(), key=lambda kv: -statistics.median(kv[1])):
        _log(f"  {name:40s} {statistics.median(ts):8.3f}  x{len(ts)}")
    n_ops = len(samples)
    _log(f"[{workload}] end-to-end metrics ({n_ops} counted ops):")
    for k, v in metrics.items():
        _log(f"  {k:28s} {v:14.6f} {UNITS.get(k, '')}")
    _log(f"  op_s_p90 has {n_ops * 0.1:.1f} of {n_ops} samples beyond it")


def _stop_all(spark, sampler) -> None:
    """Stop the session, the JVM and its Python workers, and wait for them.

    The workers are listed before the JVM goes: once it exits they are
    re-parented and no longer show up as this process's descendants."""
    from spans import alive, descendants

    pids = descendants()
    _stop_jvm(spark)
    deadline = time.time() + 20
    while alive(pids) and time.time() < deadline:
        time.sleep(0.1)
    for pid in alive(pids):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while alive(pids) and time.time() < deadline + 10:
        time.sleep(0.1)
    sampler.close()


def bench(args, run_dir: str) -> dict:
    import spans
    import workloads

    stamp0 = spans.host_stamp()
    _log("host:", json.dumps(stamp0))
    sampler = spans.RssSampler()
    tracer = spans.Tracer(enabled=False)
    event_dir = os.path.join(run_dir, "eventlog")
    spark = wl = None
    try:
        conf = _conf(run_dir, None)
        setups = []
        for _ in range(SETUPS):
            _stop_jvm(spark)
            spark, s = _setup(conf)
            setups.append(s)
        _log("cold set-ups (s):", " ".join(f"{s:.3f}" for s in setups))
        ctx = workloads.Ctx(spark=spark, tracer=tracer, run_dir=run_dir, seed=args.seed)
        wl = workloads.WORKLOADS[args.workload](ctx)
        wl.attach()
        t_warm = time.perf_counter()
        _, warm_failed = _run_pass(wl, ctx, None)
        _log(f"warm-up pass: {time.perf_counter() - t_warm:.1f} s")
        # a traced run halves the window: one untraced pass, one traced
        window = args.seconds / 2 if args.trace else args.seconds
        min_passes = 1 if args.trace else wl.min_passes
        win = _window(wl, ctx, window, min_passes)
        rss_untraced = sampler.peak
        e2e = _end_to_end(win, statistics.median(setups))
        result_wins = [win]
        if args.trace:
            # the event log is a context setting, so the context restarts
            # inside the running JVM, which keeps its JIT state; a plain
            # restart first gives the untraced figure for the overhead
            spark.stop()
            spark, restart_s = _setup(conf)
            spark.stop()
            os.makedirs(event_dir)
            spark, traced_restart_s = _setup(_conf(run_dir, event_dir))
            ctx.spark = spark
            wl.attach()
            tracer.enabled = True
            twin = _window(wl, ctx, window, min_passes)
            tracer.enabled = False
            result_wins.append(twin)
            e2e_traced = _end_to_end(twin, traced_restart_s)
            spark.stop()
            spark = None
        samples = [s for w in result_wins for s in w["samples"]]
        attempted = len(samples)
        failed = sum(1 for _, _, f in samples if f)
        extra = {"peak_rss_mb": sampler.peak / 2**20, "failed_frac": failed / attempted}
        extra.update(wl.finish(samples))
        _report(args.workload, {**e2e, **extra}, win["samples"])
        if args.trace:
            trace_file = os.path.join(
                os.path.dirname(run_dir), f"spans-{args.workload}-seed{args.seed}.jsonl"
            )
            tracer.write(trace_file)
            _log("spans written to", trace_file)
            metrics = _per_layer(
                tracer, spans.fold_counters(spans.read_event_log(event_dir), tracer),
                ctx, setups, restart_s, len(twin["passes"]), sum(len(w["passes"]) for w in result_wins),
            )
            for k in ("elt.rows_loaded_per_s", "elt.rerun_s_p50", "elt.stored_bytes_per_row"):
                metrics[k] = extra.get(k, 0.0)
            metrics["process.peak_rss_mb"] = extra["peak_rss_mb"]
            overhead = {k: e2e_traced[k] - e2e[k] for k in e2e}
            overhead["setup_s"] = traced_restart_s - restart_s
            overhead["peak_rss_mb"] = (sampler.peak - rss_untraced) / 2**20
            for k, v in overhead.items():
                metrics[f"tracing_overhead.{k}"] = v
            _log("tracing overhead (traced - untraced):", json.dumps(overhead))
        else:
            metrics = e2e
    finally:
        if hasattr(wl, "close"):
            wl.close()
        t_stop = time.perf_counter()
        _stop_all(spark, sampler)
        _log(f"stopped the session, the JVM and its workers in {time.perf_counter() - t_stop:.1f} s")
    stamp1 = spans.host_stamp()
    stamp1["steal_jiffies"] -= stamp0["steal_jiffies"]
    _log("host at end (steal is the run's delta):", json.dumps(stamp1))
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        declared = json.load(f)
    unit = {m["name"]: m["unit"] for m in declared["end_to_end"] + declared["per_layer"]}
    return {
        "correct": failed == 0 and warm_failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": unit[k]} for k, v in metrics.items()},
    }


#: layers whose Spark counters are reported (the others launch no jobs)
COUNTER_LAYERS = (
    "sources.sinks",
    "plans.pipeline",
    "queries",
    "operators.dedup",
    "operators.similarity",
    "sources.maintenance",
    "sources.versioned",
)
#: per-call times, named ``<layer>.<call>_s``
CALLS = (
    "sources.airflow_rest.plan_probe",
    "sources.sinks.write_json_landing",
    "sources.sinks.write_table_append",
    "sources.readers.read_parquet_table",
    "plans.pipeline.load_report_table",
    "queries.build",
    "queries.action",
    "operators.dedup.write_band_index",
    "operators.dedup.probe_band_index",
    "operators.dedup.append_to_band_index",
    "operators.similarity.build_quantizers",
    "operators.similarity.write_ivfpq_partitioned",
    "operators.similarity.append_to_ivfpq_layout",
    "sources.maintenance.write_zordered",
    "sources.versioned.delete_where",
)
#: counts made outside the tracer, per counted pass
COUNTS = (
    "sources.airflow_rest.pages",
    "sources.airflow_rest.probes",
    "sources.airflow_rest.rows_read",
    "sources.sinks.files_written",
    "sources.sinks.bytes_written",
    "sources.sinks.landing_rows_written",
    "sources.readers.landing_rows_read_back",
)


def _per_layer(tracer, counters, ctx, setups, restart_s, traced_passes, counted_passes) -> dict:
    from spans import COUNTERS

    calls = tracer.call_seconds()
    m = {
        "session.restart_s": restart_s,
        "session.get_spark_s": statistics.median(setups),
        "op.self_s": statistics.median(tracer.self_seconds("op")),
        "queries.planning_ms": statistics.median(ctx.planning_ms) if ctx.planning_ms else 0.0,
        "queries.eager_jobs": counters["calls"].get("queries.build", 0) / traced_passes,
    }
    for c in CALLS:
        m[f"{c}_s"] = calls.get(c, 0.0)
    for c in COUNTS:
        m[c] = ctx.counts.get(c, 0) / counted_passes
    loaded = ctx.counts.get("elt.rows_loaded", 0)
    m["sources.airflow_rest.rows_read_per_row_loaded"] = (
        ctx.counts.get("sources.airflow_rest.rows_read", 0) / loaded if loaded else 0.0
    )
    for layer in COUNTER_LAYERS:
        got = counters["layers"].get(layer, {})
        for c in COUNTERS:
            v = got.get(c, 0.0)
            m[f"{layer}.{c}"] = v if c == "cpu_share" else v / traced_passes
    return m


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    faulthandler.dump_traceback_later(WATCHDOG_S, exit=True)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        p.error(f"unknown workload {args.workload!r}")
    run_dir = os.path.join(ROOT, ".perfbench_run", str(os.getpid()))
    os.makedirs(run_dir)
    try:
        _environment(run_dir)
        result = bench(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
