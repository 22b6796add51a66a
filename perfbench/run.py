"""Crawl benchmark for brink_spark.

    python3 perfbench/run.py --workload crawl_small --seed 1 --seconds 20 --trace 0

Runs one workload (see ``perfbench/workloads.py``) in one process on
``local[nproc]``: starts a Spark session, sets the workload up from the
seed, makes one untimed run to warm the session, then repeats timed
``CrawlEngine.run`` calls for ``--seconds`` (at least one; a run starts
only if most of it fits), checks every run's outputs outside the timed
window, and prints the run's stamp (host, versions, commit, seed) and then
one JSON object as the last line of stdout:

    {"correct": ..., "attempted": <runs>, "failed": <runs that raised or
     failed a check>, "metrics": {name: {"value": ..., "unit": ...}}}

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` turns the Spark
event log on, repeats runs for ``--seconds`` with every layer wrapped by the
span recorder (``perfbench/tracing.py``) between two untraced reference
runs, replays each layer on the last traced wave's inputs, and reports the
per-layer metrics of the last traced run plus the tracing overhead against
the reference runs. Its spans go to ``.perfbench_work/traces/``.

Everything the run writes stays under ``.perfbench_work/`` at the root of
the checkout and is removed at exit, except the trace files.
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
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
SHUFFLE_PARTITIONS = 32
DRIVER_MEMORY = "1g"
MB = 2**20


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def isolate(work: str) -> None:
    """Point every scratch location of Python, the JVM and Spark inside the
    work dir, and drop settings that would send output elsewhere."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # the JVM spark-submit starts to build the driver command line
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEMORY
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ.pop("SPARK_GRAFT_EVENTLOG", None)


def start_spark(work: str, workload: str, cores: int, trace: bool):
    from brink_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    extra = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if trace:
        extra.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
        os.makedirs(os.path.join(work, "eventlog"))
    spark = get_spark(
        f"local[{cores}]",
        app_name=f"perfbench_{workload}",
        shuffle_partitions=SHUFFLE_PARTITIONS,
        extra=extra,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, end the driver JVM and wait for every process this
    run started to exit."""
    from pyspark import SparkContext

    from perfbench.procs import descendants

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()  # also stops the Python worker daemon
    tree = descendants(os.getpid())
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 20
    for pid in tree:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.1)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:  # exited in between
                pass


def measure(wl, seconds: float, first: int, before_rep=None):
    """Timed runs for ``seconds`` (at least one): a new run starts only if
    most of it fits in the window. Returns (reps, attempted, raised)."""
    reps, attempted, raised = [], 0, 0
    deadline = time.time() + seconds
    while True:
        i = first + attempted
        attempted += 1
        if before_rep is not None:
            before_rep(i)
        try:
            reps.append(wl.rep(i))
            r = reps[-1]
            print(
                f"# run {i}: wall={r.wall_s:.2f}s first_wave={r.first_wave_s:.2f}s "
                f"waves={[round(x, 2) for x in r.wave_intervals_s]} "
                f"urls={r.summary.total_fetched + r.summary.total_cached}",
                file=sys.stderr,
            )
        except Exception:
            traceback.print_exc()
            raised += 1
        left = deadline - time.time()
        last = reps[-1].wall_s if reps else 0.0
        if left <= 0 or left < 0.75 * last or raised >= 3:
            return reps, attempted, raised


def check_all(wl, reps) -> int:
    bad = 0
    for r in reps:
        try:
            failed = wl.check(r)
        except Exception:
            traceback.print_exc()
            failed = ["check raised"]
        if failed:
            print(f"# check failed ({r.store_dir}): {failed}", file=sys.stderr)
            bad += 1
    return bad


def end_to_end(setup_s: float, reps, peak_bytes: int) -> dict:
    from perfbench.procs import dir_bytes

    med = statistics.median
    return {
        "setup_s": setup_s,
        "urls_per_s": med(r.urls_per_s for r in reps),
        "first_wave_s": med(r.first_wave_s for r in reps),
        "wave_p50_s": med(x for r in reps for x in r.wave_intervals_s),
        "peak_rss_mb": peak_bytes / MB,
        "store_mb": med(dir_bytes(r.store_dir) for r in reps) / MB,
    }


def run_spans(rec, rep):
    """The traced run's spans, its crawl.run span and its wave spans."""
    spans = [s for s in rec.spans if s.run == run_id(rep.store_dir)]
    run = next(s for s in spans if s.name == "crawl.run")
    waves = sorted(
        (s for s in spans if s.name == "crawl.wave" and s.parent == run.id),
        key=lambda s: s.start,
    )
    return spans, run, waves


def per_layer(spark, rec, rep, untraced, traced) -> dict:
    """Per-layer metrics of one traced run (``rep``), except Spark's."""
    from perfbench.layers import STORE_TABLES
    from perfbench.procs import dir_bytes
    from perfbench.replay import run_replays, top_host_share
    from perfbench.tracing import self_times

    out: dict[str, float] = {}
    spans, run, waves = run_spans(rec, rep)
    selfs = self_times(spans)
    compacts = [s for s in spans if s.name == "storage.compact" and s.parent == run.id]
    total = lambda name: sum(s.dur for s in spans if s.name == name)  # noqa: E731

    out["crawl.run_setup_s"] = waves[0].start - run.start
    out["crawl.wave_self_s"] = sum(selfs[w.id] for w in waves)
    out["crawl.loop_wait_s"] = (
        run.end - waves[0].start - sum(w.dur for w in waves) - sum(c.dur for c in compacts)
    )
    for t in STORE_TABLES:
        out[f"storage.write_s.{t}"] = total(f"storage.write.{t}")
        out[f"storage.mb.{t}"] = dir_bytes(os.path.join(rep.store_dir, t)) / MB
    out["storage.read_visited_s"] = total("storage.read_visited")
    out["storage.clean_uncommitted_s"] = total("storage.clean_uncommitted")
    out["storage.compact_s"] = total("storage.compact")
    out["storage.commit_s"] = total("storage.commit")

    wm = rep.summary.wave_metrics
    sm = lambda key: sum(m.get(key, 0) for m in wm)  # noqa: E731
    edges = sm("n_frontier") - sm("n_malformed")
    units = sm("n_units")
    replays = run_replays(spark, rec, rep.engine)
    out["seen.edges"] = edges
    out["seen.cached_ratio"] = sm("n_cached") / max(edges, 1)
    out["seen.bloom_probes"] = replays.pop("seen.bloom_probes")
    out["seen.bloom_maybe_ratio"] = replays.pop("seen.bloom_maybe_ratio")
    out["seen.bloom_fp_ratio"] = replays.pop("seen.bloom_fp_ratio")
    out["politeness.units"] = units
    out["politeness.deferred_ratio"] = sm("n_deferred") / max(units, 1)
    out["politeness.robots_denied_ratio"] = sm("n_robots_denied") / max(units, 1)
    out["politeness.top_host_share"] = top_host_share(
        spark, rep.engine.store, [m["wave"] for m in wm]
    )
    out["urls.normalized_rows"] = sm("n_frontier")
    out["urls.malformed"] = sm("n_malformed")
    out["spans.parsed_pages"] = sm("n_ok")
    out["spans.new_links"] = sm("n_new_links")
    out["fetch.attempts"] = sm("n_fetched")
    out["fetch.ok_ratio"] = sm("n_ok") / max(sm("n_fetched"), 1)
    out.update(replays)

    # against the faster reference run: the one before the traced runs can
    # still be paying first-use costs
    out["trace.overhead_ratio"] = 1 - statistics.median(
        r.urls_per_s for r in traced
    ) / max(r.urls_per_s for r in untraced)
    out["trace.bookkeeping_s"] = rec.bookkeeping_s / len(traced)
    return out


def spark_runtime(log_dir: str, run, waves):
    """Spark counters over the traced run, from its event log, plus the
    same counters attributed to the run's set-up, its waves, and the time
    between waves (deferred-write joins and compaction)."""
    from perfbench import eventlog

    log = eventlog.read_log(eventlog.find_log(log_dir))
    ends = [w.start for w in waves[1:]] + [run.end]
    by_kind = {
        kind: eventlog.window_stats(log, windows)
        for kind, windows in (
            ("run_setup", [(run.start, waves[0].start)]),
            ("wave", [(w.start, w.end) for w in waves]),
            ("between", [(w.end, e) for w, e in zip(waves, ends)]),
        )
    }
    whole = eventlog.window_stats(log, [(run.start, run.end)])
    out = {f"spark.{key}": value for key, value in whole.items()}
    for kind, st in by_kind.items():
        for key in ("jobs", "executor_busy_s", "driver_gap_s"):
            out[f"spark.{key}.{kind}"] = st[key]
    return out, by_kind


def run_id(store_dir: str) -> str:
    return os.path.basename(store_dir)


def with_units(values: dict, units: dict) -> dict:
    """{name: (value, unit)} in catalogue order; the names must match it."""
    if set(values) != set(units):
        raise RuntimeError(f"metrics differ from the catalogue: {set(values) ^ set(units)}")
    return {name: (values[name], unit) for name, unit in units.items()}


def report(metrics: dict, stamp: dict, extra_lines=()) -> None:
    print(json.dumps({"stamp": stamp}))
    for line in extra_lines:
        print(line, file=sys.stderr)
    for name, (value, unit) in metrics.items():
        print(f"# {name:<36} {value:>14.6g} {unit}", file=sys.stderr)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import brink_spark  # noqa: F401  (the program under test)
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the crawl engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    from perfbench.layers import END_TO_END, PER_LAYER
    from perfbench.procs import PeakMemory, nproc, stamp
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    PER_LAYER_UNITS = {name: unit for name, unit, *_ in PER_LAYER}
    st = stamp(ROOT, args.workload, args.seed)
    work = os.path.join(WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    isolate(work)
    sampler = PeakMemory().start()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(work, args.workload, nproc(), bool(args.trace))
        print(f"# setup session: {time.perf_counter() - t0:.2f}s", file=sys.stderr)
        wl = WORKLOADS[args.workload](spark, work, args.seed)
        wl.setup()
        wl.warm_up()
        setup_s = time.perf_counter() - t0

        if not args.trace:
            reps, attempted, raised = measure(wl, args.seconds, 0)
            peak = sampler.stop()
            bad = check_all(wl, reps)
            metrics = with_units(end_to_end(setup_s, reps, peak), END_TO_END)
            report(metrics, st)
            stop_spark(spark)
            spark = None
        else:
            from perfbench.tracing import Recorder

            # untraced reference runs before and after the traced ones, so
            # the overhead estimate is not skewed by the session still warming
            ref, attempted, raised = measure(wl, 0, 0)
            rec = Recorder()
            rec.install()
            try:
                reps, n, r = measure(
                    wl,
                    args.seconds,
                    attempted,
                    before_rep=lambda i: setattr(rec, "run_id", run_id(wl.store_dir(i))),
                )
            finally:
                rec.uninstall()
            attempted, raised = attempted + n, raised + r
            after, n, r = measure(wl, 0, attempted)
            attempted, raised = attempted + n, raised + r
            ref += after
            peak = sampler.stop()
            bad = check_all(wl, ref + reps)
            last = reps[-1]
            metrics = per_layer(spark, rec, last, ref, reps)
            stop_spark(spark)  # flushes and closes the event log
            spark = None
            _, run, waves = run_spans(rec, last)
            spark_m, by_kind = spark_runtime(os.path.join(work, "eventlog"), run, waves)
            metrics = with_units({**metrics, **spark_m}, PER_LAYER_UNITS)
            trace_dir = os.path.join(WORK_ROOT, "traces")
            os.makedirs(trace_dir, exist_ok=True)
            span_file = os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.jsonl")
            layers = rec.by_name(run_id(last.store_dir))
            rec.dump(span_file, {"stamp": st, "layers": layers, "spark_by_span": by_kind})
            report(
                metrics,
                st,
                [f"# spans: {span_file}"]
                + [
                    f"# span {name:<32} n={row['n']:<4} total={row['total_s']:.3f}s "
                    f"self={row['self_s']:.3f}s"
                    for name, row in sorted(layers.items())
                ],
            )
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    failed = raised + bad
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
