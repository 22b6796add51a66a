"""Seen-set (frontier dedup) scaling microbench — the north-rule core.

The reference's whole dedup state is one in-memory hash map
(store/store.go:9-12); the 10^10-frontier design here is the sharded
Bloom prefilter + one exact left join (operators/seen.py mark_seen).
This bench times exactly that per-wave path — probe 8M frontier URLs
against a 32M-entry visited set (64 Bloom shards, 50% hit rate) and count
the marked table's fresh and cached rows — at two parallelism levels in
fresh JVMs, alternated best-of-N, and reports URLs-checked/sec plus the
N→4N scaling efficiency.

Usage:
    python tools/bench_seen_scaling.py prepare
    python tools/bench_seen_scaling.py run <cpus>
    [BRINK_LEVELS=1,4] [BRINK_REPEATS=3] \
        python tools/bench_seen_scaling.py drive BENCH/seen_scaling_rN.json

The level pair defaults to N→4N from the host: 4N is every cpu, N a
quarter of them (1→4 on a 4-core host). BRINK_LEVELS overrides it.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
WORK = "/dev/shm/seen_scale"
# sized so real work dominates the fixed multi-stage floor (~8s of stage
# barriers / AQE replans / Arrow cogroup setup, parallelism-independent):
# at 2M frontier rows that floor IS the wall and no level pair can show
# scaling; at 8M vs 32M the compute:floor ratio is ~5:1 — still tiny next
# to a real wave (10^8-10^9 frontier rows at 100 TB), where it vanishes
N_VISITED = 32_000_000
N_FRONTIER = 8_000_000
SHARDS = 64
BITS_PER_SHARD = 1 << 23  # 1 MiB/shard, ~16 bits/key at 32M/64 -> low FP
HASHES = 7
NCPU = os.cpu_count() or 1
LEVELS = tuple(
    int(x)
    for x in os.environ.get("BRINK_LEVELS", f"{max(1, NCPU // 4)},{NCPU}").split(",")
)


def _url(col):
    # realistic-length normalized URLs; host cardinality 100k so the
    # frontier has host-level repetition like a real crawl wave
    from pyspark.sql import functions as F

    return F.concat(
        F.lit("https://host"),
        (col % 100_000).cast("string"),
        F.lit(".example/path/"),
        col.cast("string"),
    )


def prepare() -> None:
    from pyspark.sql import functions as F

    from brink_spark.operators.seen import BloomSeenSet
    from brink_spark.session import get_spark

    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    spark = get_spark(
        f"local[{NCPU}]", app_name="seen_prepare", shuffle_partitions=64,
        extra={"spark.ui.showConsoleProgress": "false"},
    )
    visited = (
        spark.range(N_VISITED)
        .select(_url(F.col("id")).alias("url_norm"))
        .withColumn("status", F.lit(200))
    )
    visited.write.mode("overwrite").parquet(f"{WORK}/visited")
    visited = spark.read.parquet(f"{WORK}/visited")
    # frontier: even slots re-visit a seen URL, odd slots are new ids
    # past the visited range -> exact 50% hit rate, deterministic
    frontier = spark.range(N_FRONTIER).select(
        F.when(
            F.col("id") % 2 == 0, _url(F.col("id") * 2)
        ).otherwise(_url(F.col("id") + N_VISITED)).alias("url_norm")
    )
    frontier.write.mode("overwrite").parquet(f"{WORK}/frontier")
    bloom = BloomSeenSet(SHARDS, BITS_PER_SHARD, HASHES)
    shards = bloom.updated(visited, bloom.empty(spark))
    shards.write.mode("overwrite").parquet(f"{WORK}/bloom")
    print(
        f"prepared: visited={N_VISITED:,} frontier={N_FRONTIER:,} "
        f"shards={SHARDS}x{BITS_PER_SHARD >> 13}KiB"
    )
    spark.stop()


def run_level(cpus: int) -> dict:
    from brink_spark.operators.seen import BloomSeenSet, mark_seen
    from brink_spark.session import get_spark

    spark = get_spark(
        f"local[{cpus}]", app_name=f"seen_scaling_{cpus}",
        # partitions ∝ cores (8×, the standard 2-4 task-waves-per-core
        # sizing a real cluster uses) — fixed 64 leaves a 32-core run
        # only 2 task waves and measurably slower (5.8s → 3.9s join)
        shuffle_partitions=max(32, 8 * cpus),
        extra={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": f"{WORK}/spark-local-{cpus}",
        },
    )
    visited = spark.read.parquet(f"{WORK}/visited")
    frontier = spark.read.parquet(f"{WORK}/frontier")
    shards = spark.read.parquet(f"{WORK}/bloom")
    bloom = BloomSeenSet(SHARDS, BITS_PER_SHARD, HASHES)
    from pyspark.sql import functions as F

    def both_counts(marked):
        # the engine marks every edge in one table and splits it on the
        # status column, so the bench counts both halves in ONE job the
        # same way — the probe and the visited left join run once
        rows = {
            r["fresh"]: r["n"]
            for r in marked.groupBy(F.col("status").isNull().alias("fresh"))
            .agg(F.count("*").alias("n"))
            .collect()
        }
        return rows.get(True, 0), rows.get(False, 0)

    # warmup on a slice: codegen + Arrow worker pool, not the data path
    both_counts(mark_seen(frontier.limit(10_000), visited, bloom, shards))
    t0 = time.time()
    n_fresh, n_cached = both_counts(mark_seen(frontier, visited, bloom, shards))
    wall = time.time() - t0
    assert n_cached == N_FRONTIER // 2, n_cached  # exact-join correctness
    assert n_fresh == N_FRONTIER - n_cached, n_fresh
    out = {
        "cpus": cpus,
        "wall_sec": round(wall, 2),
        "checked": N_FRONTIER,
        "fresh": n_fresh,
        "cached": n_cached,
        "urls_per_sec": round(N_FRONTIER / wall, 2),
    }
    spark.stop()
    return out


def drive(out_path: str) -> None:
    # past ~8 threads a single-JVM local-mode box saturates memory/
    # allocation bandwidth on string-shuffle joins (one memory bus shared
    # by all "executors"), which a real cluster does not (see
    # BENCH/BASELINE.md); set BRINK_LEVELS on a large host accordingly
    repeats = int(os.environ.get("BRINK_REPEATS", "3"))
    all_runs: list[dict] = []
    best: dict[int, dict] = {}
    for rep in range(repeats):
        for cpus in LEVELS:
            proc = subprocess.run(
                [sys.executable, __file__, "run", str(cpus)],
                capture_output=True, text=True, cwd=REPO,
            )
            lines = [l for l in proc.stdout.splitlines() if l.startswith("{")]
            if not lines:
                print(proc.stdout, proc.stderr[-3000:], file=sys.stderr)
                raise SystemExit(f"seen level {cpus} failed")
            r = json.loads(lines[-1])
            all_runs.append(r)
            print(
                f"# rep {rep} local[{cpus}]: wall={r['wall_sec']}s "
                f"({r['urls_per_sec']:,}/s)", file=sys.stderr,
            )
            if cpus not in best or r["wall_sec"] < best[cpus]["wall_sec"]:
                best[cpus] = r
    lo, hi = LEVELS
    eff = best[hi]["urls_per_sec"] / ((hi / lo) * best[lo]["urls_per_sec"])
    report = {
        "workload": (
            f"mark_seen (Bloom probe + exact left join): "
            f"{N_FRONTIER:,} frontier URLs vs {N_VISITED:,} visited, "
            f"{SHARDS} shards, 50% hit rate"
        ),
        "protocol": (
            f"alternated best-of-{repeats} per level, fresh JVM per run, "
            f"stores on /dev/shm"
        ),
        "levels": {str(c): best[c] for c in LEVELS},
        "all_runs": all_runs,
        "scaling_efficiency": round(eff, 3),
        "target": 0.8,
        "pass": eff >= 0.8,
    }
    print(json.dumps(report))
    with open(os.path.join(REPO, out_path), "w") as fh:
        json.dump(report, fh, indent=2)


if __name__ == "__main__":
    cmd = sys.argv[1] if len(sys.argv) > 1 else "drive"
    if cmd == "prepare":
        prepare()
    elif cmd == "run":
        print(json.dumps(run_level(int(sys.argv[2]))))
    else:
        out = sys.argv[2] if len(sys.argv) > 2 else "BENCH/seen_scaling_new.json"
        if not os.path.isdir(WORK):
            prepare()
        drive(out)
