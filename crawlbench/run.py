"""Crawl-engine benchmark: one workload, one seed, one fresh process.

    python3 crawlbench/run.py --workload crawl_polite --seed 1 --seconds 5 --trace 0

Prints progress on stderr and, as the last line of stdout, one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics`` (the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``).
Works from any directory: the repository root is found from this file's
location and put on the import path of the driver and its Python workers.
Everything it writes goes under ``<root>/.crawlbench/``; the run's own
checkpoint and scratch directory is removed before it exits.
"""

from __future__ import annotations

import time

T_FIRST = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".crawlbench")


def process_age() -> float:
    """Seconds since this process started (kernel start time)."""
    with open("/proc/self/stat", encoding="ascii") as f:
        stat = f.read()
    start_ticks = int(stat[stat.rindex(")") + 2:].split()[19])
    with open("/proc/uptime", encoding="ascii") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def log(msg: str) -> None:
    print(f"[crawlbench {time.time() - T_FIRST:7.1f}s] {msg}", file=sys.stderr, flush=True)


def prepare_env(run_dir: str) -> None:
    """Pin the program's environment knobs to their defaults and keep every
    temporary file inside the run directory."""
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # both JVMs (spark-submit's launcher and the driver): temp files in the
    # run directory, no perf-data file under the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")


def session_conf(run_dir: str, traced: bool) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(run_dir, "local"),
    }
    if traced:
        events = os.path.join(run_dir, "events")
        os.makedirs(events, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + events,
            "spark.eventLog.compress": "false",
        })
    return conf


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=5.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_start = T_FIRST - process_age()

    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    try:
        import mediacrawler_spark  # noqa: F401
        import tests.reference_sim  # noqa: F401
    except ImportError as e:
        print(f"crawlbench: the program is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    from crawlbench import workloads as W
    if args.workload not in W.WORKLOADS:
        print(f"crawlbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(W.WORKLOADS)}", file=sys.stderr)
        return 2

    run_dir = os.path.join(WORK, f"run-{os.getpid()}-{int(T_FIRST)}")
    try:
        prepare_env(run_dir)
        result = run(args, run_dir, t_start)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


def run(args, run_dir: str, t_start: float) -> dict:
    from crawlbench import corpus
    from crawlbench import trace as T
    from crawlbench import workloads as W

    traced = bool(args.trace)
    tracer = T.Tracer() if traced else None
    rss = T.RssSampler().start()
    spark, restore, ctx = None, [], None
    wl = W.WORKLOADS[args.workload]()
    try:
        from mediacrawler_spark.session import build_session

        n_cores = min(4, len(os.sched_getaffinity(0)))
        t = time.time()
        spark = build_session(app_name="crawlbench", master=f"local[{n_cores}]",
                              shuffle_partitions=n_cores,
                              extra_conf=session_conf(run_dir, traced))
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.time() - t
        log(f"session up in {session_s:.1f}s")
        build_s = corpus.ensure_staged(spark, ROOT)
        if build_s:
            log(f"staged the page corpus in {build_s:.1f}s (once per checkout)")
        ctx = W.Ctx(spark, ROOT, run_dir, args.seed, tracer)
        if traced:
            ctx.py4j = T.Py4jCounter()
            ctx.py4j.install()
            install_spans(tracer, restore)
        wl.setup(ctx)
        log(f"measuring {args.workload} seed={args.seed}")
        wl.measure(ctx, args.seconds)
        peak_mb = rss.stop()
        setup_s = wl.windows[0][0] - t_start - build_s
        wall = sum(b - a for a, b in wl.windows)
        log(f"set-up {setup_s:.1f}s, timed {wall:.1f}s; checking outputs")

        problems, attempted, failed, metrics = wl.check(ctx)
        if traced:
            layer, more = trace_probes(ctx, wl, W)
            problems += more
    finally:
        rss.stop()
        T.unwrap_all(restore)
        if ctx is not None and ctx.py4j:
            ctx.py4j.uninstall()
        if spark is not None:
            T.stop_spark(spark)
    for p in problems:
        log(f"CHECK FAILED: {p}")
    if traced:
        values = finish_trace(args, ctx, wl, session_s, layer)
        values["peak_rss_mb"] = peak_mb
    else:
        values = {"setup_s": setup_s, **metrics}
        record_result(args.workload, {"seed": args.seed, "timed_wall_s": wall, **values})
    return {
        "correct": not problems,
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(v), "unit": UNITS[k]} for k, v in values.items()},
    }


def install_spans(tracer, restore: list) -> None:
    """Spans around the program's layer calls (wrapped from outside)."""
    from crawlbench import trace as T
    from mediacrawler_spark.operators import extract, scheduler, seen
    from mediacrawler_spark.plans import crawl

    T.wrap_attr(scheduler, "select_round", tracer, "operators.scheduler.select_round", restore)
    T.wrap_attr(extract, "parse_round", tracer, "operators.extract.parse_round", restore)
    T.wrap_attr(seen, "unseen_exact", tracer, "operators.seen.unseen_exact", restore)
    T.wrap_attr(seen, "unseen_bloom_prefiltered", tracer,
                "operators.seen.unseen_bloom_prefiltered", restore)
    T.wrap_attr(seen.ShardedBloom, "build", tracer, "operators.seen.bloom_build", restore)
    T.wrap_attr(seen.ShardedBloom, "merge", tracer, "operators.seen.bloom_merge", restore)
    T.wrap_attr(crawl.CrawlEngine, "_write_deltas", tracer, "plans.crawl.write_deltas", restore)


def trace_probes(ctx, wl, W) -> tuple[dict, list[str]]:
    """Per-layer numbers that need the live session: the probes, and for
    a workload without a crawl, a one-round crawl probe."""
    values, problems = W.probes(ctx, with_dedup=not isinstance(wl, W.ExtractBatch))
    if isinstance(wl, W.ExtractBatch):
        ctx.crawl_probe = W.CrawlPolite(rounds=1)
        ctx.crawl_probe.setup(ctx)
        with ctx.span("probe.crawl"):
            ctx.crawl_probe.measure(ctx, 0)
        problems += ctx.crawl_probe.check(ctx)[0]
    return values, problems


def finish_trace(args, ctx, wl, session_s: float, probe_values: dict) -> dict:
    """After the session stopped: read the event log, attribute jobs to
    rounds and phases, write the trace file, report tracing overhead."""
    from crawlbench import trace as T
    from crawlbench import workloads as W

    events = T.read_event_log(os.path.join(ctx.run_dir, "events"))
    wall = sum(b - a for a, b in wl.windows)
    out = {"session.start_s": session_s, "trace.wall_s": wall, **probe_values}
    out.update(T.runtime_metrics(events, wl.windows))
    crawl = wl if isinstance(wl, W.CrawlPolite) else ctx.crawl_probe
    out.update(crawl.layers(ctx, events))
    if isinstance(wl, W.ExtractBatch):
        out.update(wl.layers(ctx))
    base = baseline_wall(args.workload)
    overhead = None if base is None else wall - base
    os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
    path = os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}-{os.getpid()}.json")
    with open(path, "w") as f:
        json.dump({"workload": args.workload, "seed": args.seed, "timed_windows": wl.windows,
                   "tracing_overhead_s": overhead, "untraced_wall_median_s": base,
                   "layers": out, "spans": ctx.tracer.spans, "jobs": events["jobs"]}, f)
    log(f"trace written to {os.path.relpath(path, ROOT)}")
    if overhead is None:
        log("tracing overhead: no untraced run of this workload recorded in this checkout yet")
    else:
        log(f"tracing overhead: traced {wall:.2f}s - untraced median {base:.2f}s "
            f"= {overhead:+.2f}s")
    return out


def record_result(workload: str, row: dict) -> None:
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results", f"{workload}.jsonl"), "a") as f:
        f.write(json.dumps(row) + "\n")


def baseline_wall(workload: str) -> float | None:
    path = os.path.join(WORK, "results", f"{workload}.jsonl")
    if not os.path.isfile(path):
        return None
    with open(path) as f:
        walls = [json.loads(line)["timed_wall_s"] for line in f if line.strip()]
    return statistics.median(walls) if walls else None


UNITS = {
    # end-to-end
    "setup_s": "s", "items_per_s": "items/s", "step_p50_s": "s",
    "rows_out_per_s": "rows/s", "state_mb": "MB", "peak_rss_mb": "MB",
    # per layer
    "session.start_s": "s", "synth.corpus_s": "s", "trace.wall_s": "s",
    "crawl.driver_s_per_round": "s", "crawl.py4j_calls_per_round": "count",
    "crawl.jobs_per_round": "count", "crawl.tasks_per_round": "count",
    "crawl.files_written_per_round": "count", "crawl.write_s_per_round": "s",
    "scheduler.select_job_s": "s", "scheduler.scheduled_per_round": "count",
    "scheduler.denied": "count", "scheduler.hosts_at_budget": "count",
    "extract.parse_pages_per_s": "pages/s", "text.kernel_mb_per_s": "MB/s",
    "seen.bloom_build_s": "s", "seen.exact_dedup_rows_per_s": "rows/s",
    "seen.bloom_dedup_rows_per_s": "rows/s", "seen.bloom_false_positive_share": "share",
    "dedup.exact_s": "s", "dedup.minhash_s": "s",
    "spark.executor_cpu_s": "s", "spark.gc_s": "s", "spark.tasks": "count",
    "spark.shuffle_write_mb": "MB", "spark.spill_mb": "MB", "spark.input_mb": "MB",
    "spark.output_mb": "MB",
}


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:
        traceback.print_exc()
        sys.exit(1)
