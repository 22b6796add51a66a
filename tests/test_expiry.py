"""Visited-entry expiry + recrawl (the reference's seen map is mutable,
store/store.go:22-42). Expiry is tombstones only. Contract:

- expire_visited(urls) drops those urls from the LIVE seen set; the next
  encounter FETCHES again (cached=False) and the re-fetch wins (a later
  wave beats the tombstone);
- non-expired pages stay cached (control);
- the Bloom prefilter (on from wave 0 here) keeps the expired urls' stale
  bits; a stale positive just falls through to the exact join against the
  tombstoned visited set — still correct;
- compaction materializes the post-expiry state and clears tombstones.
"""

import pytest

from pyspark.sql import functions as F

from brink_spark.config import CrawlConfig
from brink_spark.functions.spans import Span, render_html
from brink_spark.functions.urls import normalize_url, scheme_and_host
from brink_spark.plans.crawl import CrawlEngine
from brink_spark.sources.sitegen import Page, SiteFixture


def _page(url, links=()):
    spans, off = [], 0
    for h in links:
        spans.append(Span("link", h, None, off))
        off += len(h)
    spans.append(Span("text", f"content {url}", None, off))
    scheme, host = scheme_and_host(url)
    return Page(
        url_norm=normalize_url(url, (), False), url=url, host=host,
        scheme=scheme, status=200, content_length=500,
        body=render_html(spans), spans=spans,
    )


@pytest.fixture(scope="module")
def chain_fixture():
    pages = [
        _page("https://x.example/a", links=["/b"]),
        _page("https://x.example/b", links=["/c"]),
        _page("https://x.example/c"),
    ]
    cfg = CrawlConfig(
        "https://x.example/a", max_waves=20,
        bloom_min_visited=0,
    )
    return SiteFixture(
        scale="expiry", seed=0, pages=pages,
        seeds=[{"url": "https://x.example/a", "priority": 0}],
        robots=[], config=cfg,
    )


def _recrawl(spark, fixture, cfg, store_dir, expire_b: bool):
    b_norm = "https://x.example/b"
    engine = CrawlEngine(spark, cfg, store_dir)
    engine.run(fixture=fixture)
    man = engine.store.read_manifest()
    first_waves = man.last_wave + 1

    if expire_b:
        engine.expire_visited(
            spark.createDataFrame([(b_norm,)], "url_norm string")
        )
        vis = {
            r["url_norm"]
            for r in engine.store.read_visited(
                spark, engine.store.read_manifest()
            ).collect()
        }
        assert b_norm not in vis  # live view dropped it
        assert "https://x.example/a" in vis

    eng2 = CrawlEngine(spark, cfg, store_dir)
    seeds = spark.createDataFrame([(b_norm, 0)], "url string, priority int")
    eng2.run(fixture=fixture, resume=True, seeds=seeds)
    recrawl_waves = range(first_waves, eng2.store.read_manifest().last_wave + 1)
    rows = [
        r
        for w in recrawl_waves
        if eng2.store.has("results", w)
        for r in eng2.store.read(spark, "results", w)
        .filter(F.col("url_norm") == b_norm)
        .collect()
    ]
    return rows, eng2, recrawl_waves


def test_expired_url_is_refetched(spark, chain_fixture, tmp_path):
    rows, eng2, recrawl_waves = _recrawl(
        spark, chain_fixture, chain_fixture.config, str(tmp_path / "s1"), True
    )
    # the recrawl ran on the Bloom path (not exact-only): every wave wrote
    # its shards, so b's stale bits were probed and fell through
    assert len(recrawl_waves) > 0
    assert all(eng2.store.has("bloom", w) for w in recrawl_waves)
    assert len(rows) == 1 and rows[0]["cached"] is False  # real re-fetch
    assert rows[0]["spans"] is not None and len(rows[0]["spans"]) > 0


def test_unexpired_url_stays_cached(spark, chain_fixture, tmp_path):
    rows, _, _ = _recrawl(
        spark, chain_fixture, chain_fixture.config, str(tmp_path / "s2"), False
    )
    assert len(rows) == 1 and rows[0]["cached"] is True  # control: cached


def test_refetch_wins_over_tombstone(spark, chain_fixture, tmp_path):
    """After the recrawl, b is back in the live visited set (its new wave
    beats the tombstone), and a SECOND resume treats it as cached again."""
    cfg = chain_fixture.config
    store_dir = str(tmp_path / "s3")
    _recrawl(spark, chain_fixture, cfg, store_dir, True)
    eng = CrawlEngine(spark, cfg, store_dir)
    man = eng.store.read_manifest()
    vis = {r["url_norm"] for r in eng.store.read_visited(spark, man).collect()}
    assert "https://x.example/b" in vis
    waves_before = man.last_wave + 1
    seeds = spark.createDataFrame(
        [("https://x.example/b", 0)], "url string, priority int"
    )
    eng.run(fixture=chain_fixture, resume=True, seeds=seeds)
    man2 = eng.store.read_manifest()
    rows = [
        r
        for w in range(waves_before, man2.last_wave + 1)
        if eng.store.has("results", w)
        for r in eng.store.read(spark, "results", w)
        .filter(F.col("url_norm") == "https://x.example/b")
        .collect()
    ]
    assert len(rows) == 1 and rows[0]["cached"] is True
    # the re-fetched b and its original row must not both be live: the
    # tombstone hides the old one, so url_norm stays unique in visited
    live = eng.store.read_visited(spark, man2)
    assert live.count() == live.select("url_norm").distinct().count()


def test_compaction_materializes_expiry_and_clears_tombstones(
    spark, chain_fixture, tmp_path
):
    import os

    cfg = chain_fixture.config
    engine = CrawlEngine(spark, cfg, str(tmp_path / "s4"))
    engine.run(fixture=chain_fixture)
    engine.expire_visited(
        spark.createDataFrame([("https://x.example/b",)], "url_norm string")
    )
    man = engine.store.read_manifest()
    engine.store.compact_visited(spark, man)
    assert not os.path.isdir(engine.store._tombstone_dir)
    vis = {
        r["url_norm"]
        for r in engine.store.read_visited(
            spark, engine.store.read_manifest()
        ).collect()
    }
    assert vis == {"https://x.example/a", "https://x.example/c"}
