"""Sketch aggregates: DataSketches HLL / Theta / KLL / count-min over the
driver tables — the mergeable-aggregate layer a 100 TB pipeline uses where
exact distinct/quantile state would not fit.

Why these are the scale path: a sketch aggregate is a commutative monoid,
so Spark's partial aggregation applies — each map task reduces its rows to
ONE ~4 KiB sketch per group and the shuffle moves sketches, not values
(the same reason the crawl engine's seen-set uses sharded Bloom
blocks, operators/seen.py). `hll_union_agg` then merges the partials
anywhere: across partitions, across days, across bucketed stores.

Determinism note (what makes the driver hash-gate applicable): HLL register
state is a per-bucket MAX and a Theta sketch keeps the k smallest hashes —
both update-order independent, so their estimates are bit-stable across
partitionings and merge orders. KLL compaction flips coins, so the KLL
surface is pytest-gated with rank-error tolerances (tests/test_sketches.py)
and kept OUT of the hash-compared registry.

The oracle contract for `sketch_distinct_users`: DuckDB pins the EXACT
per-group distinct counts and literal TRUE accuracy flags; the Spark side
emits the same exact counts plus `abs(est - exact)/exact <= 0.05` computed
from the sketches. A sketch drifting past 5% flips a flag to false and the
driver hash catches it — the estimate is verified without requiring DuckDB
to reproduce DataSketches internals.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def _t(spark, sf_dir, name):
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def q_sketch_distinct_users(spark, sf):
    """Per-event-type distinct users three ways: exact (countDistinct),
    HLL (lgK=12, ~0.8% rse), Theta (default k=4096, exact below k).
    Output = exact count + boolean accuracy flags, hash-checkable (see
    module docstring). One aggregation; the sketch columns ride the same
    partial-agg shuffle as the exact count."""
    e = _t(spark, sf, "events")
    agg = e.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("n_exact_users"),
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id", F.lit(12))).alias(
            "hll_est"
        ),
        F.theta_sketch_estimate(F.theta_sketch_agg("user_id")).alias(
            "theta_est"
        ),
    )
    tol = 0.05
    return agg.select(
        "event_type",
        "n_exact_users",
        (
            F.abs(F.col("hll_est") - F.col("n_exact_users"))
            <= tol * F.col("n_exact_users")
        ).alias("hll_within_5pct"),
        (
            F.abs(F.col("theta_est") - F.col("n_exact_users"))
            <= tol * F.col("n_exact_users")
        ).alias("theta_within_5pct"),
    )


SQL_SKETCH_DISTINCT = """
SELECT event_type,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact_users,
       TRUE AS hll_within_5pct,
       TRUE AS theta_within_5pct
FROM events GROUP BY event_type
"""


CMS_EPS = 0.001  # width = ceil(2/eps) = 2000 counters per depth row
CMS_CONF = 0.99  # depth = ceil(ln(1/(1-conf))) = 7 rows
CMS_SEED = 42


def q_sketch_heavy_hitters(spark, sf):
    """Count-min heavy-hitter counts, HASH-GATED EXACTLY: with a fixed
    seed the counter matrix is an elementwise LONG sum over rows —
    update-order and partitioning independent, bit-deterministic — and a
    key's estimate (min over depth rows) equals its true count unless the
    key collides with some other key in EVERY depth row (5 keys, width
    2000, depth 7: impossible in practice, and *deterministically* so for
    the fixed seed, so a one-time green row stays green). The oracle pins
    the exact per-type counts; the Spark side emits what the sketch says
    — any drift (seed change, serialization change, width change) flips
    the hash.

    The sketch aggregate runs distributed with partial aggregation (one
    ~110 KiB matrix per map task, merged by sum); only the FINAL single
    sketch plus the distinct key list (bounded by #event_types) is
    collected — the cookie-jar precedent (plans/crawl.py) for
    driver-bounded small state. At 100 TB the same plan holds: the
    shuffle moves O(partitions) sketches, never values."""
    e = _t(spark, sf, "events")
    raw = e.agg(
        F.count_min_sketch(
            "event_type", F.lit(CMS_EPS), F.lit(CMS_CONF), F.lit(CMS_SEED)
        ).alias("cms")
    ).collect()[0]["cms"]
    jvm = spark.sparkContext._jvm
    sk = jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(
        jvm.java.io.ByteArrayInputStream(bytes(raw))
    )
    keys = sorted(
        r["event_type"] for r in e.select("event_type").distinct().collect()
    )
    return spark.createDataFrame(
        [(k, int(sk.estimateCount(k))) for k in keys],
        "event_type string, cms_count long",
    )


SQL_SKETCH_HEAVY_HITTERS = """
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS cms_count
FROM events GROUP BY event_type
"""


def q_sketch_quantile_check(spark, sf):
    """KLL quantile sketch per event_type, gated via RANK FLAGS: KLL
    compaction is randomized (module docstring), so the oracle cannot pin
    the estimate — instead the Spark side broadcasts each group's p50/p90
    estimates back onto the events and emits `true_rank(est) within ±5%
    of q` booleans (published 99%-confidence rank error for k=200 is
    ~1.65%, so the flags are stable TRUE across reruns); the oracle pins
    the flags plus the exact group sizes. Same contract shape as
    `sketch_distinct_users`: the estimate is verified without the oracle
    reproducing sketch internals.

    Scale: pass 1 is a partial-agg sketch reduction (one ~2 KiB KLL per
    group per map task); pass 2 re-scans events once with the K-row
    estimate table broadcast — no shuffle of the fact table at all."""
    e = _t(spark, sf, "events").select(
        "event_type", F.col("value").cast("double").alias("v")
    )
    est = e.groupBy("event_type").agg(
        F.kll_sketch_get_quantile_double(
            F.kll_sketch_agg_double("v"), F.lit(0.5)
        ).alias("p50"),
        F.kll_sketch_get_quantile_double(
            F.kll_sketch_agg_double("v"), F.lit(0.9)
        ).alias("p90"),
    )
    ranked = e.join(F.broadcast(est), "event_type").groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.sum((F.col("v") <= F.col("p50")).cast("long")) / F.count(F.lit(1))).alias(
            "r50"
        ),
        (F.sum((F.col("v") <= F.col("p90")).cast("long")) / F.count(F.lit(1))).alias(
            "r90"
        ),
    )
    tol = 0.05
    return ranked.select(
        "event_type",
        "n_events",
        (F.abs(F.col("r50") - 0.5) <= tol).alias("kll_p50_rank_ok"),
        (F.abs(F.col("r90") - 0.9) <= tol).alias("kll_p90_rank_ok"),
    )


SQL_SKETCH_QUANTILE_CHECK = """
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
       TRUE AS kll_p50_rank_ok, TRUE AS kll_p90_rank_ok
FROM events GROUP BY event_type
"""


SKETCH_QUERIES = {
    "sketch_distinct_users": (q_sketch_distinct_users, SQL_SKETCH_DISTINCT),
    "sketch_heavy_hitters": (q_sketch_heavy_hitters, SQL_SKETCH_HEAVY_HITTERS),
    "sketch_quantile_check": (q_sketch_quantile_check, SQL_SKETCH_QUANTILE_CHECK),
}
