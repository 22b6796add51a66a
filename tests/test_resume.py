"""Checkpoint-resume (north_rule): kill after wave k, restart, identical
final state — including recovery from corrupt partial wave dirs."""

import os

from brink_spark.oracle import crawl_oracle
from brink_spark.plans.compare import compare_engine_oracle
from brink_spark.plans.crawl import CrawlEngine
from brink_spark.storage import CrawlStore, Manifest

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


def test_resume_with_new_seed_converges_to_union_crawl(spark, tmp_path):
    """Late seeds: a crawl from one seed drains, then resume with a NEW
    seed continues from the accumulated visited state. The final visited
    set and per-doc spans equal the crawl of the seed UNION (crawl order
    cannot: the late seed starts late by construction)."""
    import pyspark.sql.functions as F

    from brink_spark.config import CrawlConfig
    from brink_spark.functions.spans import Span, render_html
    from brink_spark.functions.urls import normalize_url, scheme_and_host
    from brink_spark.sources.sitegen import Page, SiteFixture

    def _page(url, links=()):
        spans, off = [], 0
        for h in links:
            spans.append(Span("link", h, None, off))
            off += len(h)
        scheme, host = scheme_and_host(url)
        return Page(
            url_norm=normalize_url(url, (), False), url=url, host=host,
            scheme=scheme, status=200, content_length=500,
            body=render_html(spans), spans=spans,
        )

    # two chains; /shared is reachable from both (cross-run dedup)
    pages = [
        _page("https://s.example/a1", links=["/a2"]),
        _page("https://s.example/a2", links=["/shared"]),
        _page("https://s.example/b1", links=["/b2"]),
        _page("https://s.example/b2", links=["/shared"]),
        _page("https://s.example/shared"),
    ]
    cfg = CrawlConfig("https://s.example/a1", max_waves=50)

    def _fixture(name, seed_urls):
        return SiteFixture(
            scale=name, seed=0, pages=pages,
            seeds=[{"url": u, "priority": 0} for u in seed_urls],
            robots=[], config=cfg,
        )

    fx = _fixture("late", ["https://s.example/a1"])
    engine = CrawlEngine(spark, cfg, str(tmp_path / "store"))
    s1 = engine.run(fixture=fx)  # chain A drains
    waves_phase1 = engine.store.read_manifest().last_wave

    late = spark.createDataFrame(
        [("https://s.example/b1", 0)], "url string, priority int"
    )
    s2 = engine.run(fixture=fx, resume=True, seeds=late)
    assert s2.total_fetched > 0  # the late seed actually crawled
    man = engine.store.read_manifest()
    assert man.last_wave > waves_phase1
    assert s1.total_fetched + s2.total_fetched == len(pages)

    union_oracle = crawl_oracle(
        _fixture("late_union", ["https://s.example/a1", "https://s.example/b1"])
    )
    got = {
        r["url_norm"]: r["status"]
        for r in engine.store.read_visited(spark, man).collect()
    }
    assert got == union_oracle.visited
    res = spark.read.parquet(
        *[engine.store.wave_dir("results", w) for w in range(man.last_wave + 1)
          if engine.store.has("results", w)]
    )
    for r in res.filter(~F.col("cached")).collect():
        want = [
            (s.kind, s.text, s.media_ref, s.offset)
            for s in union_oracle.spans_by_doc[r["url_norm"]]
        ]
        have = [
            (s["kind"], s["text"], s["media_ref"], s["offset"])
            for s in (r["spans"] or [])
        ]
        assert have == want, r["url_norm"]


class _FailingResultsStore(CrawlStore):
    """Fails wave 1's results write: a DEFERRED write, so the failure
    surfaces in that wave's commit, after wave 1's gating writes landed."""

    def write(self, df, table, wave):
        if (table, wave) == ("results", 1):
            raise RuntimeError("injected results write failure")
        return super().write(df, table, wave)


@pytest.mark.parametrize("pipeline_waves", [True, False])
def test_deferred_write_failure_leaves_wave_uncommitted(
    spark, tiny_fixture, tmp_path, pipeline_waves
):
    """A failed deferred write fails run() with that error, in both commit
    modes: the manifest still names the last fully committed wave, and
    on_wave_committed fired only for it."""
    store_dir = str(tmp_path / "store")
    cfg = tiny_fixture.config.with_(pipeline_waves=pipeline_waves)
    engine = CrawlEngine(
        spark, cfg, store_dir, store=_FailingResultsStore(store_dir)
    )
    committed = []
    engine.on_wave_committed = lambda m: committed.append(m["wave"])
    with pytest.raises(RuntimeError, match="injected results write failure"):
        engine.run(fixture=tiny_fixture, max_waves=2)
    assert engine.store.read_manifest().last_wave == 0
    assert committed == [0]


def test_fresh_run_without_seeds_keeps_store(spark, tiny_fixture, tmp_path):
    """A fresh run with no seeds is rejected before it resets the store, so
    a mistaken call cannot wipe a committed crawl."""
    store_dir = str(tmp_path / "store")
    engine = CrawlEngine(spark, tiny_fixture.config, store_dir)
    engine.store.commit(Manifest(last_wave=3))
    with pytest.raises(ValueError, match="requires seeds"):
        engine.run()
    assert engine.store.read_manifest().last_wave == 3
