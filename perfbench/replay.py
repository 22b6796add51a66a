"""Layer replays for the traced run.

Each replay takes the inputs the engine passed to one layer during the
last traced wave (captured by ``tracing.Recorder``), materializes them
first so the timing covers only the layer itself, then runs the layer
into Spark's ``noop`` sink and times it. Also computes the post-hoc Bloom
counters (probes, maybe-seen and false-positive ratios) by calling
``BloomSeenSet.probe`` on the wave's edges.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, functions as F


def _noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(rec, name: str, build) -> float:
    """Build the layer's output DataFrame and drain it into the noop sink."""
    with rec.span(name):
        t0 = time.perf_counter()
        _noop(build())
        return time.perf_counter() - t0


def run_replays(spark, rec, engine) -> dict:
    from brink_spark.functions.udfs import parse_spans_udf
    from brink_spark.operators.politeness import apply_politeness
    from brink_spark.operators.redirects import collapse_redirect_chains
    from brink_spark.operators.seen import mark_seen

    out: dict[str, float] = {}
    (_, wave, _, _), _ = rec.captured["_run_wave"]
    store = engine.store

    # functions.urls: the wave's frontier through the normalize UDF
    frontier = store.read(spark, "frontier", wave).select("url").localCheckpoint()
    out["urls.normalize_replay_s"] = _timed(
        rec,
        "replay.urls.normalize",
        lambda: frontier.withColumn("_p", engine.norm_udf("url")),
    )

    # operators.seen: mark_seen on the captured (materialized) edges
    (edges, visited, bloom, shards), _ = rec.captured["mark_seen"]
    edges = edges.localCheckpoint()
    out["seen.replay_s"] = _timed(
        rec, "replay.seen.mark_seen", lambda: mark_seen(edges, visited, bloom, shards)
    )
    out.update(bloom_counts(edges, visited, bloom, shards))

    # operators.politeness (its input already carries the filters' robots flag)
    args, kwargs = rec.captured["apply_politeness"]
    units = args[0].localCheckpoint()
    out["politeness.replay_s"] = _timed(
        rec,
        "replay.politeness.apply",
        lambda: apply_politeness(units, *args[1:], **kwargs),
    )

    # functions.spans: bodies of the wave's ok pages through the parse UDF
    ok = (
        store.read(spark, "wavestage", wave)
        .filter(F.col("outcome") == "ok")
        .select("url_norm")
    )
    bodies = (
        engine.pages.select("url_norm", "body").join(ok, "url_norm").localCheckpoint()
    )
    out["spans.parse_replay_s"] = _timed(
        rec,
        "replay.spans.parse",
        lambda: bodies.select(parse_spans_udf(F.col("body")).alias("spans")),
    )

    # operators.redirects: the run-level chain collapse over the page store
    (pages_slim, norm_udf), _ = rec.captured["collapse_redirect_chains"]
    pages_slim = pages_slim.localCheckpoint()
    out["redirects.collapse_replay_s"] = _timed(
        rec,
        "replay.redirects.collapse",
        lambda: collapse_redirect_chains(pages_slim, norm_udf),
    )
    return out


def bloom_counts(edges, visited, bloom, shards) -> dict:
    """Probe the wave's distinct edge keys against the Bloom shards the wave
    used: probes, share answered maybe-seen, and false positives over the
    keys that were not in visited. All zero when the wave ran exact-only."""
    if bloom is None or shards is None:
        return {
            "seen.bloom_probes": 0,
            "seen.bloom_maybe_ratio": 0.0,
            "seen.bloom_fp_ratio": 0.0,
        }
    verdicts = bloom.probe(edges, shards)
    seen = visited.select("url_norm", F.lit(True).alias("_in")).distinct()
    row = (
        verdicts.join(seen, "url_norm", "left")
        .agg(
            F.count(F.lit(1)).alias("probes"),
            F.count_if("maybe_seen").alias("maybe"),
            F.count_if(F.col("_in").isNull()).alias("neg"),
            F.count_if(F.col("maybe_seen") & F.col("_in").isNull()).alias("fp"),
        )
        .collect()[0]
    )
    return {
        "seen.bloom_probes": row["probes"],
        "seen.bloom_maybe_ratio": row["maybe"] / max(row["probes"], 1),
        "seen.bloom_fp_ratio": row["fp"] / max(row["neg"], 1),
    }


def top_host_share(spark, store, waves: list[int]) -> float:
    """Largest single host's share of the fetch units over the given waves
    (units = each fresh url_norm's first edge)."""
    paths = [store.wave_dir("wavestage", w) for w in waves if store.has("wavestage", w)]
    if not paths:
        return 0.0
    counts = (
        spark.read.parquet(*paths)
        .filter((F.col("edge_kind") == "fresh") & (F.col("_edge_rank") == 1))
        .groupBy("host")
        .count()
        .agg(F.max("count").alias("top"), F.sum("count").alias("all"))
        .collect()[0]
    )
    return (counts["top"] or 0) / max(counts["all"] or 0, 1)
