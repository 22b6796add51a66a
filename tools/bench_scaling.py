"""Scaling-efficiency evidence: the same crawl wave at two parallelism levels.

BASELINE.json's north_rule requires ≥0.8 fetch-throughput scaling efficiency
from N to 4N executors; the sandbox has no cluster, so (per BASELINE.md's
protocol) we run the identical job at local[N] and local[4N] on identical
input and report throughput at both plus
``efficiency = throughput(local[hi]) / ((hi / lo) × throughput(local[lo]))``
(hi/lo = 4 for the N→4N pair).
Results + level-pair rationale (single-box memory wall): BENCH/BASELINE.md.

The measured job is one steady-state crawl wave over the synthetic web
(BRINK_SCALE ∈ {bench: 200k pages/841k-edge frontier, xbench: 800k/3.35M},
hot-host skew, seeded politeness budgets): the frontier against a 25%-prefilled visited set + Bloom shards — normalize →
Bloom probe → anti-join → politeness → fetch-join → parse → visited/bloom/
results/frontier commits. Setup (fixture generation, store template) is
excluded from timing; each level copies the same template and runs the
same wave in a fresh JVM. Levels alternate (lo, hi, lo, hi, ...) so a
noisy-neighbour burst hits both alike; each level reports its best run.

Usage:
  python tools/bench_scaling.py              # prepare + both levels + report
  python tools/bench_scaling.py report-only  # both levels on the existing template
  python tools/bench_scaling.py run 8        # one level (internal)
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SCALE = os.environ.get("BRINK_SCALE", "bench")
WORK = f"/dev/shm/brink_scaling_{SCALE}"
TEMPLATE = f"{WORK}/store_template"
PAGES = f"{WORK}/pages.parquet"
ROBOTS = f"{WORK}/robots.parquet"
CONFIG = f"{WORK}/config.json"
# N and 4N from the host: 4N is every cpu, N a quarter of them (1→4 on a
# 4-core host, 4→16 on 16). BRINK_LEVELS overrides the pair.
NCPU = os.cpu_count() or 1
LEVELS = tuple(
    int(x)
    for x in os.environ.get("BRINK_LEVELS", f"{max(1, NCPU // 4)},{NCPU}").split(",")
)
VISITED_FRACTION = 4  # 1-in-4 pages prefilled as already-visited


def prepare() -> None:
    from dataclasses import asdict

    from pyspark.sql import functions as F

    from brink_spark.operators.seen import BloomSeenSet
    from brink_spark.session import get_spark
    from brink_spark.sources.sitegen import generate_site, robots_to_spark
    from brink_spark.storage import CrawlStore, Manifest

    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    t0 = time.time()
    fx = generate_site(SCALE, 42)
    print(f"# fixture: {len(fx.pages)} pages in {time.time()-t0:.1f}s", file=sys.stderr)

    spark = get_spark(
        f"local[{NCPU}]", app_name="scaling_prepare", shuffle_partitions=64,
        extra={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": f"{WORK}/spark-local-prep",
        },
    )
    from brink_spark.sources.sitegen import pages_to_parquet

    pages_to_parquet(fx, PAGES, rows_per_file=len(fx.pages) // 64 + 1)
    robots_to_spark(spark, fx).write.mode("overwrite").parquet(ROBOTS)
    with open(CONFIG, "w") as fh:
        json.dump(asdict(fx.config), fh)

    store = CrawlStore(TEMPLATE)
    pages_r = spark.read.parquet(PAGES)
    visited = pages_r.filter(F.pmod(F.xxhash64("url_norm"), F.lit(VISITED_FRACTION)) == 0).select(
        "url_norm", F.col("status").cast("int").alias("status"), F.lit(0).alias("wave")
    )
    store.write(visited, "visited", 0)
    bloom = BloomSeenSet(fx.config.bloom_shards, fx.config.bloom_bits_per_shard, fx.config.bloom_num_hashes)
    store.write(bloom.updated(store.read(spark, "visited", 0), bloom.empty(spark)), "bloom", 0)

    # frontier = every link span on the synthetic web, one edge per anchor,
    # in the engine's FRONTIER_SCHEMA columns (all at depth 0)
    frontier = (
        pages_r.select(
            F.col("url").alias("linked_from"),
            F.explode(F.filter("spans", lambda s: s["kind"] == F.lit("link"))).alias("_s"),
        )
        .select(
            "linked_from",
            F.coalesce(F.col("_s.text"), F.lit("")).alias("url"),
            F.lit(0).alias("priority"),
            F.lit(0).alias("depth"),
        )
    )
    store.write(frontier.repartition(64), "frontier", 1)
    store.write_metrics(0, {"wave": 0, "note": "template prefill"})
    n_frontier = store.read(spark, "frontier", 1).count()
    n_visited = store.read(spark, "visited", 0).count()
    # carry the prefill count so adaptive Bloom activation sees the real
    # visited size (the scale path is what this benchmark measures)
    store.commit(Manifest(last_wave=0, total_visited=n_visited))
    print(f"# template: frontier={n_frontier} visited={n_visited}", file=sys.stderr)

    spark.stop()


def run_level(cpus: int) -> dict:
    from brink_spark.config import CrawlConfig
    from brink_spark.plans.crawl import CrawlEngine
    from brink_spark.session import get_spark

    with open(CONFIG) as fh:
        raw = json.load(fh)
    for k in (
        "allowed_domains",
        "ignore_get_parameters",
        "forbidden_paths",
        "headers",
        "cookies",
        "session_cookie_names",
    ):
        raw[k] = tuple(tuple(x) if isinstance(x, list) else x for x in raw[k])
    # lean mode: no synchronous per-wave diagnostics in the timed path
    # (counts are derived post-hoc from the written store)
    config = CrawlConfig(**raw).with_(collect_metrics=False)

    store_dir = f"{WORK}/store_{cpus}"
    shutil.rmtree(store_dir, ignore_errors=True)
    shutil.copytree(TEMPLATE, store_dir)

    extra = {
        "spark.ui.showConsoleProgress": "false",
        # tmpfs for shuffle spill + store: the sandbox's single vda disk
        # serializes concurrent writeback and would masquerade as an
        # Amdahl floor; a real cluster has per-executor local NVMe
        "spark.local.dir": f"{WORK}/spark-local-{cpus}",
    }
    if os.environ.get("BRINK_AQE") == "0":
        extra["spark.sql.adaptive.enabled"] = "false"
    # under spark-submit (BRINK_SUBMIT launcher mode) the master was set
    # by the submit command — "inherit" keeps the session factory from
    # overriding it (session.py)
    master = (
        "inherit" if os.environ.get("BRINK_UNDER_SUBMIT") else f"local[{cpus}]"
    )
    spark = get_spark(
        master, app_name=f"scaling_{cpus}",
        shuffle_partitions=int(os.environ.get("BRINK_SHUFFLE", "64")),
        extra=extra,
    )
    from pyspark.sql import functions as F

    # BRINK_PAGES_BUCKETED=1: the at-scale page-store regime — the wave's
    # fetch join reads a url_norm-bucketed + sorted on-disk table, so the
    # pages side never exchanges or sorts (BENCH/scaling_bucketed_r5.json). The
    # bucket write happens here, OUTSIDE the timed window, exactly as a
    # production store pays its layout once at write time; each level
    # process builds its own catalog entry (per-process session catalog).
    if os.environ.get("BRINK_PAGES_BUCKETED") == "1":
        from brink_spark.functions.udfs import make_normalize_udf
        from brink_spark.operators.redirects import collapse_redirect_chains
        from brink_spark.sources.corpus import write_bucketed

        raw_pages = spark.read.parquet(PAGES)
        slim = [
            c
            for c in (
                "url_norm", "status", "content_length", "body",
                "set_cookie", "redirect_to",
            )
            if c in raw_pages.columns
        ]
        collapsed = collapse_redirect_chains(
            raw_pages.select(*slim),
            make_normalize_udf(
                config.ignore_get_parameters,
                config.fuzzy_get_parameter_checks,
            ),
        )
        write_bucketed(
            collapsed, f"scal_bk_pages_{cpus}", buckets=64,
            key="url_norm", path=f"{WORK}/bk_pages_{cpus}",
        )
        engine_kw = dict(
            pages=spark.table(f"scal_bk_pages_{cpus}"), pages_bucketed=True
        )
    else:
        engine_kw = dict(pages=spark.read.parquet(PAGES))
    engine = CrawlEngine(
        spark,
        config,
        store_dir,
        robots=spark.read.parquet(ROBOTS),
        **engine_kw,
    )

    # warmup outside the timed window: spins up the python worker pool and
    # JIT/codegen for every stage shape (steady-state throughput is the
    # metric; JVM+worker cold start is a per-process constant)
    warm_store = f"{WORK}/store_warm_{cpus}"
    shutil.rmtree(warm_store, ignore_errors=True)
    warm = CrawlEngine(spark, config.with_(collect_metrics=False), warm_store,
                       robots=engine.robots, **engine_kw)
    seeds = spark.createDataFrame(
        [(config.entrypoint, 0)], "url string, priority int"
    )
    warm.run(seeds=seeds, max_waves=2)
    shutil.rmtree(warm_store, ignore_errors=True)

    t0 = time.time()
    engine.run(resume=True, max_waves=2)
    wall = time.time() - t0

    # post-hoc counts from the written store (not in the timed window)
    flog = spark.read.parquet(f"{store_dir}/fetchlog/wave=1")
    counts = {r["outcome"]: r["count"] for r in flog.groupBy("outcome").count().collect()}
    n_fetched = sum(v for k, v in counts.items() if k not in ("robots_denied", "deferred"))
    n_cached = (
        spark.read.parquet(f"{store_dir}/results/wave=1")
        .filter(F.col("row_kind") == "seen")
        .count()
    )
    processed = n_fetched + n_cached
    out = {
        "cpus": cpus,
        "wall_sec": round(wall, 2),
        "processed": processed,
        "urls_per_sec": round(processed / wall, 2),
        "n_fetched": n_fetched,
        "n_ok": counts.get("ok", 0),
        "n_cached": n_cached,
        "n_deferred": counts.get("deferred", 0),
    }
    spark.stop()
    return out


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "run":
        print(json.dumps(run_level(int(sys.argv[2]))))
        return

    if not (len(sys.argv) > 1 and sys.argv[1] == "report-only"):
        if not os.path.exists(TEMPLATE):
            prepare()
        else:
            print("# reusing existing template", file=sys.stderr)
    # the sandbox host shows heavy, bursty CPU steal (~35% of historical
    # user time) — take the best of REPEATS per level so the measurement
    # reflects the engine, not a noisy neighbor
    REPEATS = int(os.environ.get("BRINK_REPEATS", "3"))
    # BRINK_SUBMIT=1: launch each level through spark-submit --py-files
    # (the north rule's deploy shape) instead of a plain python subprocess.
    # Same job, same timing protocol — the level's parallelism comes from
    # spark-submit's --master and the session factory inherits it.
    submit = os.environ.get("BRINK_SUBMIT") == "1"
    if submit:
        sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
        import make_pyfiles

        zip_path = make_pyfiles.build(f"{WORK}/brink_spark.zip")
        submit_cmd = shutil.which("spark-submit")
        if submit_cmd is None:
            raise SystemExit("BRINK_SUBMIT=1 but no spark-submit on PATH")
        print(f"# levels run via spark-submit --py-files {zip_path}", file=sys.stderr)
    script = os.path.abspath(__file__)
    env = dict(os.environ)
    if submit:
        env["BRINK_UNDER_SUBMIT"] = "1"
    results: dict[int, dict] = {}
    for attempt in range(REPEATS):
        for cpus in LEVELS:
            if submit:
                cmd = [
                    submit_cmd,
                    "--master",
                    f"local[{cpus}]",
                    # driver memory set in the session config is ignored once spark-submit
                    # has launched the JVM (1g default) — pass it here so the
                    # submit path runs with the same heap as the in-process one
                    "--driver-memory",
                    os.environ.get("SPARK_DRIVER_MEM", "8g"),
                    "--py-files",
                    zip_path,
                    script, "run", str(cpus),
                ]
            else:
                cmd = [sys.executable, script, "run", str(cpus)]
            proc = subprocess.run(
                cmd,
                capture_output=True, text=True, env=env,
                cwd=os.path.dirname(os.path.dirname(script)),
            )
            line = [l for l in proc.stdout.splitlines() if l.startswith("{")]
            if not line:
                print(proc.stdout, proc.stderr[-3000:], file=sys.stderr)
                raise SystemExit(f"level {cpus} failed")
            r = json.loads(line[-1])
            print(f"# local[{cpus}] attempt {attempt}: wall={r['wall_sec']}", file=sys.stderr)
            if cpus not in results or r["wall_sec"] < results[cpus]["wall_sec"]:
                results[cpus] = r
    for cpus in LEVELS:
        print(f"# local[{cpus}] best: {results[cpus]}", file=sys.stderr)

    lo, hi = LEVELS
    eff = results[hi]["urls_per_sec"] / ((hi / lo) * results[lo]["urls_per_sec"])
    report = {
        "workload": f"one steady-state crawl wave, {SCALE} fixture, hot-host skew",
        "levels": results,
        "scaling_efficiency": round(eff, 3),
        "target": 0.8,
        "pass": eff >= 0.8,
    }
    print(json.dumps(report))
    os.makedirs("BENCH", exist_ok=True)
    # BRINK_OUT overrides the record path — exploratory/noisy-window runs
    # should not clobber the committed quiet-window evidence
    out_path = os.environ.get("BRINK_OUT", f"BENCH/scaling_{SCALE}.json")
    with open(out_path, "w") as fh:
        json.dump(report, fh, indent=2)


if __name__ == "__main__":
    main()
