"""Sitemap source (sources/sitemap.py) + robots Sitemap: discovery.

Covers the sitemaps.org 0.9 surface: urlset parse with optional
priority, the five-entity unescape, sitemapindex one-round expansion,
non-sitemap bodies yielding zero rows, duplicate-loc min-priority
resolution, and the robots.txt ``Sitemap:`` host-level directive that
feeds the source its inventory URLs.
"""

import pytest
from pyspark.sql import functions as F

from brink_spark.operators.robots_txt import sitemap_urls
from brink_spark.sources.sitemap import parse_sitemaps, sitemap_seeds

URLSET = """<?xml version="1.0" encoding="UTF-8"?>
<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
  <url>
    <loc> https://a.example/p1?x=1&amp;y=2 </loc>
    <priority>0.8</priority>
  </url>
  <url><loc>https://a.example/p2</loc></url>
  <url>
    <loc>https://a.example/&lt;odd&gt;&apos;&quot;</loc>
    <priority>1.0</priority>
  </url>
</urlset>
"""

INDEX = """<?xml version="1.0"?>
<sitemapindex xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
  <sitemap><loc>https://a.example/child1.xml</loc></sitemap>
  <sitemap><loc>https://a.example/missing.xml</loc></sitemap>
</sitemapindex>
"""

CHILD1 = """<urlset>
  <url><loc>https://a.example/c1</loc><priority>0.2</priority></url>
  <url><loc>https://a.example/p2</loc><priority>0.9</priority></url>
</urlset>
"""


def _bodies(spark, rows):
    return spark.createDataFrame(rows, "host string, body string")


def test_urlset_parse_and_priority_default(spark):
    parsed = parse_sitemaps(_bodies(spark, [("a.example", URLSET)]))
    rows = {r["loc"]: r for r in parsed.collect()}
    assert set(rows) == {
        "https://a.example/p1?x=1&y=2",  # &amp; unescaped, loc trimmed
        "https://a.example/p2",
        "https://a.example/<odd>'\"",  # lt/gt/apos/quot unescaped
    }
    assert all(r["kind"] == "url" for r in rows.values())
    assert rows["https://a.example/p1?x=1&y=2"]["sitemap_priority"] == 0.8
    assert rows["https://a.example/p2"]["sitemap_priority"] == 0.5  # default
    assert rows["https://a.example/<odd>'\""]["sitemap_priority"] == 1.0
    # carried columns survive
    assert rows["https://a.example/p2"]["host"] == "a.example"


def test_index_parse(spark):
    parsed = parse_sitemaps(_bodies(spark, [("a.example", INDEX)]))
    rows = parsed.collect()
    assert {r["loc"] for r in rows} == {
        "https://a.example/child1.xml",
        "https://a.example/missing.xml",
    }
    assert all(r["kind"] == "sitemap" for r in rows)
    assert all(r["sitemap_priority"] is None for r in rows)


def test_non_sitemap_yields_nothing(spark):
    html = "<html><body><a href='https://x.example/'>x</a></body></html>"
    assert parse_sitemaps(_bodies(spark, [("a.example", html)])).count() == 0


def test_seeds_priority_mapping(spark):
    seeds = sitemap_seeds(_bodies(spark, [("a.example", URLSET)]))
    got = {r["url"]: r["priority"] for r in seeds.collect()}
    # engine priority = round((1 - p) * 100): 0.8→20, default 0.5→50, 1.0→0
    assert got == {
        "https://a.example/p1?x=1&y=2": 20,
        "https://a.example/p2": 50,
        "https://a.example/<odd>'\"": 0,
    }


def test_index_expansion_one_round_and_dup_min_priority(spark):
    fetched = spark.createDataFrame(
        [("https://a.example/child1.xml", CHILD1)], "url string, body string"
    )
    seeds = sitemap_seeds(
        _bodies(spark, [("a.example", INDEX), ("a.example", URLSET)]),
        fetched_bodies=fetched,
    )
    got = {r["url"]: r["priority"] for r in seeds.collect()}
    # child1 expanded; missing.xml silently absent; p2 appears in both the
    # direct urlset (0.5→50) and child1 (0.9→10): min (best) wins.
    assert got["https://a.example/c1"] == 80
    assert got["https://a.example/p2"] == 10
    assert "https://a.example/missing.xml" not in got
    assert got["https://a.example/p1?x=1&y=2"] == 20


def test_priority_clamped(spark):
    body = (
        "<urlset><url><loc>https://a.example/x</loc>"
        "<priority>7.5</priority></url></urlset>"
    )
    seeds = sitemap_seeds(_bodies(spark, [("a.example", body)]))
    assert seeds.collect()[0]["priority"] == 0  # clamped to 1.0 → front


ROBOTS = """# robots for a.example
User-agent: *
Disallow: /private
Sitemap: https://a.example/sitemap.xml

User-agent: brink
Sitemap: https://a.example/sitemap2.xml
sitemap: https://a.example/sitemap2.xml
"""


def test_robots_sitemap_discovery(spark):
    got = sitemap_urls(_bodies(spark, [("a.example", ROBOTS)])).collect()
    # host-level: both lines found regardless of surrounding group; the
    # case-variant duplicate collapses via distinct
    assert {(r["host"], r["sitemap_url"]) for r in got} == {
        ("a.example", "https://a.example/sitemap.xml"),
        ("a.example", "https://a.example/sitemap2.xml"),
    }


def test_robots_to_seeds_integration(spark):
    """robots → Sitemap: discovery → (simulated fetch) → frontier seeds."""
    discovered = sitemap_urls(_bodies(spark, [("a.example", ROBOTS)]))
    fetched = discovered.select(
        F.col("sitemap_url").alias("url"),
        F.when(F.col("sitemap_url").endswith("sitemap.xml"), F.lit(URLSET))
        .otherwise(F.lit(INDEX))
        .alias("body"),
    )
    child_fetch = spark.createDataFrame(
        [("https://a.example/child1.xml", CHILD1)], "url string, body string"
    )
    seeds = sitemap_seeds(
        fetched.withColumnRenamed("url", "host").select("host", "body"),
        fetched_bodies=child_fetch,
    )
    got = {r["url"]: r["priority"] for r in seeds.collect()}
    assert got["https://a.example/c1"] == 80
    assert got["https://a.example/p1?x=1&y=2"] == 20
    # plan check: no Python on the data path — pure Catalyst expressions
    plan = seeds._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


# ---------------------------------------------------------------------------
# engine integration: config `sitemap-discovery = true` bootstraps wave-0
# seeds from the entry host's robots.txt Sitemap: line; orphan pages (no
# inbound link anywhere) get crawled, with sitemap <priority> mapped onto
# the engine's ascending priority scale. Flag off → orphans stay unvisited.


def _raw_page(url, body):
    from brink_spark.functions.urls import normalize_url, scheme_and_host
    from brink_spark.sources.sitegen import Page

    scheme, host = scheme_and_host(url)
    return Page(
        url_norm=normalize_url(url, (), False), url=url, host=host,
        scheme=scheme, status=200, content_length=len(body.encode()),
        body=body, spans=[], set_cookie=None, redirect_to=None,
    )


def _linked_page(url, links=()):
    from brink_spark.functions.spans import Span, render_html
    from brink_spark.functions.urls import normalize_url, scheme_and_host

    from brink_spark.sources.sitegen import Page

    spans, off = [], 0
    for h in links:
        spans.append(Span("link", h, None, off))
        off += len(h)
    spans.append(Span("text", f"body of {url}", None, off))
    scheme, host = scheme_and_host(url)
    body = render_html(spans)
    return Page(
        url_norm=normalize_url(url, (), False), url=url, host=host,
        scheme=scheme, status=200, content_length=len(body.encode()),
        body=body, spans=spans, set_cookie=None, redirect_to=None,
    )


DISCOVERY_ROBOTS = """User-agent: *
Disallow: /private
Sitemap: http://smap.test/sitemap.xml
"""

DISCOVERY_SITEMAP = """<?xml version="1.0"?><urlset>
  <url><loc>http://smap.test/orphan1</loc><priority>0.9</priority></url>
  <url><loc>http://smap.test/orphan2</loc></url>
</urlset>
"""


def _discovery_fixture(discovery: bool):
    from brink_spark.config import CrawlConfig
    from brink_spark.sources.sitegen import SiteFixture

    pages = [
        _linked_page("http://smap.test/s", links=["/child"]),
        _linked_page("http://smap.test/child"),
        _linked_page("http://smap.test/orphan1"),
        _linked_page("http://smap.test/orphan2"),
        _raw_page("http://smap.test/robots.txt", DISCOVERY_ROBOTS),
        _raw_page("http://smap.test/sitemap.xml", DISCOVERY_SITEMAP),
    ]
    cfg = CrawlConfig(
        entrypoint="http://smap.test/s", max_waves=6,
        sitemap_discovery=discovery,
    )
    return SiteFixture(
        scale="smap", seed=0, pages=pages,
        seeds=[{"url": "http://smap.test/s", "priority": 0}],
        robots=[], config=cfg,
    )


@pytest.mark.parametrize("discovery", [True, False])
def test_engine_sitemap_discovery(spark, tmp_path, discovery):
    from pyspark.sql import functions as F  # noqa: F811

    from brink_spark.functions.urls import normalize_url
    from brink_spark.plans.crawl import CrawlEngine
    from brink_spark.sources.sitegen import pages_to_spark

    fx = _discovery_fixture(discovery)
    engine = CrawlEngine(
        spark, fx.config, str(tmp_path / "store"),
        pages=pages_to_spark(spark, fx),
    )
    engine.run(fixture=fx)
    visited = {
        r["url_norm"]
        for r in engine.store.read_visited(
            spark, engine.store.read_manifest()
        ).collect()
    }
    orphans = {
        normalize_url("http://smap.test/orphan1", (), False),
        normalize_url("http://smap.test/orphan2", (), False),
    }
    linked = {
        normalize_url("http://smap.test/s", (), False),
        normalize_url("http://smap.test/child", (), False),
    }
    assert linked <= visited
    if discovery:
        assert orphans <= visited
        # priority mapping decides wave-0 fetch order: seed (0) first,
        # then orphan1 (0.9 → 10), then orphan2 (default 0.5 → 50)
        flog0 = spark.read.parquet(engine.store.wave_dir("fetchlog", 0))
        order = [
            r["url_norm"]
            for r in flog0.filter(F.col("outcome") == "ok")
            .orderBy("priority", "url_norm")
            .collect()
        ]
        assert order == [
            normalize_url("http://smap.test/s", (), False),
            normalize_url("http://smap.test/orphan1", (), False),
            normalize_url("http://smap.test/orphan2", (), False),
        ]
    else:
        assert not (orphans & visited)
