"""Checkpoint-resume (north_rule): kill after wave k, restart, identical
final state — including recovery from corrupt partial wave dirs."""

import os

from brink_spark.oracle import crawl_oracle
from brink_spark.plans.compare import compare_engine_oracle
from brink_spark.plans.crawl import CrawlEngine

WAVES = 6


def test_resume_after_interrupt_matches_oracle(spark, tiny_fixture, tmp_path):
    store_dir = str(tmp_path / "store")
    oracle = crawl_oracle(tiny_fixture, tiny_fixture.config.with_(max_waves=WAVES))

    eng1 = CrawlEngine(spark, tiny_fixture.config, store_dir)
    s1 = eng1.run(fixture=tiny_fixture, max_waves=3)
    assert len(s1.wave_metrics) == 3

    # simulate a crash that left partial files for an uncommitted wave
    os.makedirs(f"{store_dir}/results/wave=3", exist_ok=True)
    with open(f"{store_dir}/results/wave=3/part-garbage.parquet", "w") as fh:
        fh.write("CORRUPT")

    eng2 = CrawlEngine(spark, tiny_fixture.config, store_dir)
    s2 = eng2.run(fixture=tiny_fixture, resume=True, max_waves=WAVES)
    assert len(s2.wave_metrics) == WAVES - 3

    cmp = compare_engine_oracle(spark, eng2, oracle)
    assert cmp.all_match, cmp.detail

    # resuming a finished store is a no-op
    eng3 = CrawlEngine(spark, tiny_fixture.config, store_dir)
    s3 = eng3.run(fixture=tiny_fixture, resume=True, max_waves=WAVES)
    assert s3.total_fetched == 0
    assert compare_engine_oracle(spark, eng3, oracle).all_match


import pytest


@pytest.fixture(scope="module")
def asof_run(spark, tiny_fixture, tmp_path_factory):
    """Short crawl with compaction OFF so every wave stays time-travelable
    (compaction intentionally expires snapshots below its horizon)."""
    from brink_spark.plans.crawl import CrawlEngine

    cfg = tiny_fixture.config.with_(
        max_content_length=100_000, compact_visited_every=0
    )
    store = str(tmp_path_factory.mktemp("asof") / "store")
    engine = CrawlEngine(spark, cfg, store)
    summary = engine.run(fixture=tiny_fixture, max_waves=3)
    return engine, summary


def test_asof_snapshot_reads(spark, asof_run, tiny_oracle):
    """Time-travel: visited as of wave K equals the oracle's ok-fetched set
    through wave K (Iceberg VERSION AS OF on the append layout)."""
    engine, summary = asof_run
    waves = len(summary.wave_metrics)
    for k in range(waves):
        got = {
            r["url_norm"]
            for r in engine.store.read_asof(spark, "visited", k).collect()
        }
        want = {
            r.url_norm
            for r in tiny_oracle.handler_rows
            if not r.cached and r.wave <= k
        }
        assert got == want, (k, len(got), len(want))
    res = engine.store.read_asof(spark, "results", waves - 1)
    want_rows = sum(1 for r in tiny_oracle.handler_rows if r.wave < waves)
    assert res.count() == want_rows


def test_asof_snapshot_table_returns_single_wave(spark, asof_run):
    """frontier is a SNAPSHOT-per-wave table (each wave's dir supersedes the
    previous) — read_asof must return exactly the wave-K snapshot, never a
    union of superseded frontiers (ADVICE r2)."""
    engine, summary = asof_run
    waves = len(summary.wave_metrics)
    for k in range(waves):
        asof = engine.store.read_asof(spark, "frontier", k)
        direct = engine.store.read(spark, "frontier", k)
        assert asof.count() == direct.count()
    # append tables still union: results as of last wave >= as of wave 0
    r_last = engine.store.read_asof(spark, "results", waves - 1).count()
    r_first = engine.store.read_asof(spark, "results", 0).count()
    assert r_last >= r_first


def test_request_stop_ends_run_and_resume_continues(spark, tiny_fixture, tmp_path):
    """request_stop() from the post-commit hook ends the run before the next
    wave, as an empty frontier would; resume picks up at the next wave and
    reaches the uninterrupted crawl's result."""
    waves = 3
    cfg = tiny_fixture.config.with_(pipeline_waves=False)
    oracle = crawl_oracle(tiny_fixture, cfg.with_(max_waves=waves))
    store_dir = str(tmp_path / "store")
    engine = CrawlEngine(spark, cfg, store_dir)

    def stop_once(m):
        engine.on_wave_committed = None
        engine.request_stop()

    engine.on_wave_committed = stop_once
    s1 = engine.run(fixture=tiny_fixture, max_waves=waves)
    assert s1.waves == 1
    assert engine.store.read_manifest().last_wave == 0

    s2 = engine.run(fixture=tiny_fixture, resume=True, max_waves=waves)
    assert [m["wave"] for m in s2.wave_metrics] == [1, 2]
    assert engine.store.read_manifest().last_wave == waves - 1
    cmp = compare_engine_oracle(spark, engine, oracle)
    assert cmp.all_match, cmp.detail
