"""CLI entry point — the cmd/main.go equivalent (SURVEY.md §3.1).

The reference binary takes ``-conf`` (TOML) and ``-out`` (log file), wires
SIGINT/SIGTERM to a graceful stop, registers handlers, and starts the
crawl (cmd/main.go:13-49). Here: the TOML drives CrawlConfig; pages/robots
come from parquet paths (the sandbox fetch target) or a named synthetic
fixture; SIGINT finishes the current wave, commits the snapshot and exits
(resume later with --resume — the reference's Stop() drains, ours
checkpoints, brink.go:144-149 vs storage.py).

Usage:
  python -m brink_spark.cli -conf crawl.toml --fixture tiny --store /tmp/c1
  python -m brink_spark.cli -conf crawl.toml --pages pages.parquet \
      --robots robots.parquet --store /tmp/c1 [--resume] [-out crawl.log]
"""

from __future__ import annotations

import argparse
import json
import signal
import sys


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="brink_spark crawler")
    ap.add_argument("-conf", required=False, help="TOML config (reference schema)")
    ap.add_argument("-out", default=None, help="log file (default stdout)")
    ap.add_argument("--fixture", default=None, help="synthetic site scale (tiny/small/bench)")
    ap.add_argument("--pages", default=None, help="pages parquet path")
    ap.add_argument("--robots", default=None, help="robots parquet path")
    ap.add_argument("--store", required=True, help="crawl store directory")
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--max-waves", type=int, default=None)
    ap.add_argument("--master", default=None)
    args = ap.parse_args(argv)

    log = open(args.out, "a") if args.out else sys.stdout

    from brink_spark.config import from_toml
    from brink_spark.plans.crawl import CrawlEngine
    from brink_spark.session import get_spark
    from brink_spark.sources.sitegen import generate_site

    fixture = generate_site(args.fixture, 42) if args.fixture else None
    if args.conf:
        config = from_toml(args.conf)
    elif fixture is not None:
        config = fixture.config
    else:
        ap.error("need -conf or --fixture")

    spark = get_spark(args.master, app_name="brink_spark_cli")
    pages = spark.read.parquet(args.pages) if args.pages else None
    robots = spark.read.parquet(args.robots) if args.robots else None
    engine = CrawlEngine(spark, config, args.store, pages=pages, robots=robots)

    # graceful stop: finish the in-flight wave, commit, exit (G3)
    def _sig(_s, _f):
        print("signal received: finishing current wave, then stopping", file=log, flush=True)
        engine.request_stop()

    signal.signal(signal.SIGINT, _sig)
    signal.signal(signal.SIGTERM, _sig)

    # pipelined (defer) waves log POST-COMMIT: the engine invokes this
    # only after the wave's deferred writes and manifest commit land, so
    # a crash during the overlap can never leave a logged wave the store
    # doesn't know about on resume
    engine.on_wave_committed = lambda m: print(
        json.dumps(m), file=log, flush=True
    )
    summary = engine.run(
        fixture=fixture, resume=args.resume, max_waves=args.max_waves
    )
    print(summary.summary(), file=log, flush=True)
    if args.out:
        log.close()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
