#!/usr/bin/env python3
"""Oracle-checked benchmark of the crawler, the URL-seen filter and the
training-data operators.

    python3 perfbench/run.py --workload recrawl_oneshot --seed 1 --seconds 10 --trace 0

One run starts a ``local[nproc]`` Spark session, builds the workload's
inputs from ``--seed``, computes an independent reference, warms up, and
then runs timed iterations (a closed loop with one client: one layer call
at a time).  It runs as many iterations as fill ``--seconds`` on a
4-core host, at least one; the count is fixed per workload
rather than taken from the clock, so a slower or busier host measures the
same work instead of fewer iterations.  Every iteration's output is
checked against the reference.

With ``--trace 0`` the last line of standard output is a JSON object with
the end-to-end metrics; with ``--trace 1`` half of the iterations run
untraced and half traced (spans around every layer call, Spark's event
log on), and the run reports the per-layer metrics instead, with the
tracing overhead.  The lines before it are a human-readable table.
``--workload all`` runs every workload, each in its own process.

Run records (host, load, per-iteration walls) and trace files go under
``.perfbench/`` in the checkout.  The exit code is 0 only when every
output check passed.
"""

from __future__ import annotations

import argparse
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
OUT = os.path.join(ROOT, ".perfbench")

# (name, unit, better); BENCHMARK.json mirrors these lists
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("run_s", "s", "lower"),
    ("items_per_s", "1/s", "higher"),
]
PER_LAYER = [
    ("crawl.init_run_s", "s", "lower"),
    ("crawl.wave_s", "s", "lower"),
    ("crawl.wave_p90_s", "s", "lower"),
    ("crawl.waves", "count", "lower"),
    ("crawl.jobs_per_wave", "count", "lower"),
    ("crawl.stages_per_wave", "count", "lower"),
    ("crawl.udf_task_s", "s", "lower"),
    ("crawl.fixed_s", "s", "lower"),
    ("crawl.shuffle_bytes_per_wave", "B", "lower"),
    ("crawl.rows_out_per_wave", "count", "lower"),
    ("crawl.readback_s", "s", "lower"),
    ("crawl.visited", "count", "higher"),
    ("crawl.seen", "count", "higher"),
    ("checkpoints.files_per_wave", "count", "lower"),
    ("checkpoints.bytes_per_wave", "B", "lower"),
    ("frontier_dedup.ingest_mostly_seen_s", "s", "lower"),
    ("frontier_dedup.ingest_mostly_new_s", "s", "lower"),
    ("frontier_dedup.jobs_per_ingest", "count", "lower"),
    ("frontier_dedup.accepted_frac", "ratio", "higher"),
    ("frontier_dedup.filter_bytes", "B", "lower"),
    ("frontier_dedup.seen_files", "count", "lower"),
    ("corpus.enrich_s", "s", "lower"),
    ("corpus.compose_s", "s", "lower"),
    ("corpus.jobs_per_compose", "count", "lower"),
    ("corpus.kept_frac", "ratio", "higher"),
    ("out_bytes_per_item", "B", "lower"),
    ("spark.jobs_per_call", "count", "lower"),
    ("spark.task_s", "s", "lower"),
    ("spark.gc_s", "s", "lower"),
    ("spark.shuffle_write_bytes", "B", "lower"),
    ("spark.spill_bytes", "B", "lower"),
    ("sources.generate_web_s", "s", "lower"),
    ("oracle.reference_s", "s", "lower"),
    ("peak_rss_mb", "MB", "lower"),
    ("trace.glue_s", "s", "lower"),
    ("trace.overhead_s", "s", "lower"),
]


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true", help="tiny inputs, for the self-test")
    p.add_argument(
        "--plant-failure", action="store_true",
        help="corrupt one reference value: the run must report a failure",
    )
    return p.parse_args(argv)


def build_session(work: str, trace: bool):
    from pyspark.sql import SparkSession

    n = os.cpu_count() or 1
    tmp = os.path.join(work, "tmp")
    b = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("marginaliasearch-spark-perfbench")
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", "2g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    )
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", log_dir)
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, end the JVM and wait for every process it started."""
    from pyspark import SparkContext

    from perfbench.hostinfo import alive, descendants

    procs = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    jvm = getattr(gateway, "proc", None) if gateway is not None else None
    if gateway is not None:
        # close the py4j connections first, so that Python objects still
        # holding JVM references do not talk to a dead JVM at exit
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if jvm is not None:
        jvm.stdin.close()  # the JVM exits when its stdin pipe closes
        try:
            jvm.wait(timeout=30)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait(timeout=30)
    deadline = time.monotonic() + 20
    while any(alive(p) for p in procs) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in procs:
        if alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def measure(wl, ctx, n: int, traced: bool, first_run_id: int, record: list) -> tuple:
    """``n`` timed iterations; stops early at the first failed one.
    Returns (iterations, attempted calls, failed calls)."""
    from perfbench.hostinfo import load1

    ctx.tracer.enabled = traced
    iters, attempted, failed = [], 0, 0
    while True:
        ctx.tracer.run_id = first_run_id + len(iters)
        before = load1()
        try:
            with ctx.tracer.span("bench.iteration") as span:
                it = wl.iteration(ctx)
        except Exception:  # a layer call raised: count it and stop measuring
            traceback.print_exc()
            return iters, attempted + 1, failed + 1
        bad = wl.check(ctx, it)
        wl.finish(ctx, it)
        for call, reason in bad.items():
            print(f"perfbench: {wl.name}: output check failed at {call}: {reason}", file=sys.stderr)
        attempted += len(it.calls)
        failed += len(bad)
        it.wall = span["dur"]
        iters.append(it)
        record.append(
            {
                "traced": traced,
                "wall_s": it.wall,
                "item_wall_s": it.item_wall,
                "items": it.items,
                "load1_before": before,
                "load1_after": load1(),
                "failed_calls": sorted(bad),
            }
        )
        if bad or len(iters) >= n:
            return iters, attempted, failed


def end_to_end(setup_s: float, iters) -> dict:
    return {
        "setup_s": setup_s,
        "run_s": _median([it.wall for it in iters]),
        "items_per_s": _median([it.items / max(it.item_wall, 1e-9) for it in iters]),
    }


def per_layer(wl, iters, untraced, spans, spark_by_span, ref_s, peak_mb) -> dict:
    from perfbench.tracing import own_times
    from perfbench.workloads import timed_calls

    m = {name: 0.0 for name, _, _ in PER_LAYER}
    m.update(wl.layer_metrics(iters, spans, spark_by_span))
    calls = [
        s for s in spans
        if s.get("run") is not None and s["name"] not in ("bench.iteration", "bench.copy_template")
    ]
    n = max(len(calls), 1)
    for key, name in (
        ("jobs", "spark.jobs_per_call"), ("task_s", "spark.task_s"), ("gc_s", "spark.gc_s"),
        ("shuffle_write_bytes", "spark.shuffle_write_bytes"), ("spill_bytes", "spark.spill_bytes"),
    ):
        m[name] = sum(spark_by_span.get(s["id"], {}).get(key, 0) for s in calls) / n
    own = own_times(spans)
    m["trace.glue_s"] = _median([own[s["id"]] for s in timed_calls(spans, "bench.iteration")])
    m["trace.overhead_s"] = _median([it.wall for it in iters]) - _median([it.wall for it in untraced])
    m["oracle.reference_s"] = ref_s
    m["peak_rss_mb"] = peak_mb
    unknown = set(m) - {name for name, _, _ in PER_LAYER}
    if unknown:
        raise RuntimeError(f"undeclared per-layer metrics {sorted(unknown)}")
    return m


def print_table(wl, args, host, e2e, iters, attempted, failed, layer_bytes, peak_mb) -> None:
    """The run's numbers with units, under per-workload names
    (``urls_per_s``, ``keys_per_s``, ``docs_per_s``, wave latency)."""
    from perfbench.workloads import wave_walls

    rows = []
    if e2e is not None:
        rows += [
            ("setup_s", e2e["setup_s"], "s"),
            ("run_s", e2e["run_s"], "s"),
            (f"{wl.item.lower()}s_per_s", e2e["items_per_s"], f"{wl.item}/s"),
        ]
        walls = wave_walls(iters)
        if walls:
            import numpy as np

            rows += [
                ("wave_p50_s", float(np.percentile(walls, 50)), f"s (n={len(walls)})"),
                ("wave_p90_s", float(np.percentile(walls, 90)), f"s (n={len(walls)})"),
            ]
        if layer_bytes is not None:
            rows.append(("out_bytes_per_item", layer_bytes, "B"))
        rows.append(("peak_rss_mb", peak_mb, "MB"))
    rows.append(("failed_frac", failed / max(attempted, 1), "ratio"))
    print(
        f"# {wl.name} seed={args.seed} seconds={args.seconds} trace={args.trace} "
        f"nproc={host['nproc']} iterations={len(iters)} attempted={attempted} failed={failed}"
    )
    for name, value, unit in rows:
        print(f"{name:<22} {value:>16.4f}  {unit}")


def report_trace(wl, args, run: dict) -> dict:
    """Per-layer metrics of a traced run; writes the spans and the
    self-time table under .perfbench/trace and prints the table."""
    from perfbench import tracing

    spans = run["spans"]
    jobs, stages = tracing.read_event_log(os.path.join(run["work"], "eventlog"))
    by_span = tracing.attach(spans, jobs, stages)
    metrics = per_layer(wl, run["iters"], run["untraced"], spans, by_span,
                        run["reference_s"], run["peak_mb"])
    timed_rows = tracing.self_times([s for s in spans if s.get("run") is not None])
    setup_rows = tracing.self_times([s for s in spans if s.get("run") is None])
    timed = sum(it.wall for it in run["iters"]) + sum(it.wall for it in run["untraced"])
    traced = sum(it.wall for it in run["iters"])
    accounted = sum(r["self_s"] for r in timed_rows)
    trace_dir = os.path.join(OUT, "trace", f"{wl.name}-seed{args.seed}-{run['stamp']}")
    os.makedirs(trace_dir, exist_ok=True)
    with open(os.path.join(trace_dir, "spans.json"), "w") as f:
        json.dump({"spans": spans, "spark_by_span": by_span}, f, indent=1)
    with open(os.path.join(trace_dir, "layers.json"), "w") as f:
        json.dump({"self_times": timed_rows, "setup_self_times": setup_rows,
                   "traced_wall_s": traced, "accounted_s": accounted, "metrics": metrics}, f, indent=1)
    print(f"# trace: {trace_dir}")
    for title, rows in (("traced iterations", timed_rows), ("set-up, reference, warm-up", setup_rows)):
        print(f"# {title}\n{'span':<40} {'calls':>6} {'total_s':>10} {'self_s':>10}")
        for r in rows:
            print(f"{r['span']:<40} {r['calls']:>6} {r['total_s']:>10.3f} {r['self_s']:>10.3f}")
    print(f"# traced wall {traced:.3f} s, accounted by spans + glue {accounted:.3f} s "
          f"(untraced and traced iterations: {timed:.3f} s)")
    units = {name: unit for name, unit, _ in PER_LAYER}
    for name, value in metrics.items():
        print(f"{name:<40} {value:>16.4f}  {units[name]}")
    return metrics


def run_session(wl, args, work: str) -> dict:
    """Session start, set-up, reference, warm-up and the timed iterations;
    the session is stopped, and every process it started has ended, when
    this returns."""
    from perfbench import hostinfo, tracing
    from perfbench.workloads import Ctx

    run: dict = {"work": work, "stamp": time.strftime("%Y%m%dT%H%M%S"), "records": []}
    spark = None
    try:
        with hostinfo.RssSampler() as rss:
            t0 = time.perf_counter()
            spark = build_session(work, bool(args.trace))
            session_s = time.perf_counter() - t0
            tracer = tracing.Tracer(spark.sparkContext, enabled=bool(args.trace))
            ctx = Ctx(spark, work, args.seed, args.smoke, tracer, args.plant_failure)
            t0 = time.perf_counter()
            wl.setup(ctx)
            inputs_s = time.perf_counter() - t0
            t0 = time.perf_counter()
            with tracer.span("oracle.reference"):
                wl.reference(ctx)
            run["reference_s"] = time.perf_counter() - t0
            t0 = time.perf_counter()
            bad = wl.warm_up(ctx)
            warm_s = time.perf_counter() - t0
            for call, reason in bad.items():
                print(f"perfbench: {wl.name}: warm-up output check failed at {call}: {reason}",
                      file=sys.stderr)
            run["setup_s"] = session_s + inputs_s + warm_s
            run["setup"] = {"session_s": session_s, "inputs_s": inputs_s, "warm_up_s": warm_s,
                            "reference_s": run["reference_s"]}
            n = max(1, round(args.seconds / wl.iteration_s))
            if args.trace:
                half = max(1, round(n / 2))
                run["untraced"], a0, f0 = measure(wl, ctx, half, False, 0, run["records"])
                run["iters"], a1, f1 = measure(wl, ctx, half, True, half, run["records"])
                run["attempted"], run["failed"] = a0 + a1, f0 + f1
            else:
                run["untraced"] = []
                run["iters"], run["attempted"], run["failed"] = measure(
                    wl, ctx, n, False, 0, run["records"]
                )
        run["peak_mb"] = rss.peak_mb
        run["spans"] = tracer.spans
    finally:
        if spark is not None:
            stop_session(spark)
    return run


def run_one(args) -> int:
    sys.path.insert(0, ROOT)
    try:
        import marginaliasearch_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the package is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    from perfbench import hostinfo
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; have {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]()
    work = os.path.join(OUT, "work", f"{wl.name}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # executors import the package and this benchmark's modules from the
    # checkout; temp files of Python, the JVM and Spark stay inside it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    import tempfile

    tempfile.tempdir = os.environ["TMPDIR"]
    host = hostinfo.host_record(ROOT)
    record = {"workload": wl.name, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
              "smoke": args.smoke, "host": host, "quiet_wait": hostinfo.wait_for_quiet_host()}
    try:
        run = run_session(wl, args, work)
    except Exception:
        traceback.print_exc()
        return 1
    iters, attempted, failed = run["iters"], run["attempted"], run["failed"]
    if args.trace:
        metrics = report_trace(wl, args, run)
        units = {name: unit for name, unit, _ in PER_LAYER}
        print_table(wl, args, host, None, iters, attempted, failed, None, run["peak_mb"])
    else:
        metrics = end_to_end(run["setup_s"], iters)
        units = {name: unit for name, unit, _ in END_TO_END}
        out_bytes = [it.layer.get("root_bytes") for it in iters]
        layer_bytes = (
            sum(out_bytes) / max(sum(it.items for it in iters), 1)
            if out_bytes and None not in out_bytes else None
        )
        print_table(wl, args, host, metrics, iters, attempted, failed, layer_bytes, run["peak_mb"])

    results = os.path.join(OUT, "results")
    os.makedirs(results, exist_ok=True)
    record.update(setup=run["setup"], iterations=run["records"], metrics=metrics,
                  attempted=attempted, failed=failed)
    name = f"{wl.name}-seed{args.seed}-trace{args.trace}-{run['stamp']}.json"
    with open(os.path.join(results, name), "w") as f:
        json.dump(record, f, indent=1)
    shutil.rmtree(work, ignore_errors=True)

    correct = failed == 0 and len(iters) > 0
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0 if correct else 1


def run_all(args) -> int:
    """Every workload, each in its own process, one after the other."""
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    results, code = {}, 0
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
        if args.smoke:
            cmd.append("--smoke")
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        print("\n".join(lines[:-1]))
        results[name] = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
        code = code or proc.returncode
    print(json.dumps(results))
    return code


def main(argv=None) -> int:
    args = parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
