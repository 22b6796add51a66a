"""Politeness × redirect interaction (r3 verdict item 7): a fetch whose
3xx chain resolves to a DIFFERENT host is charged to the ORIGINAL
(frontier) host's budget — matching the reference, where the single
client.Do call is accounted to the requested URL (brink.go:194) — and a
redirect-heavy hot target cannot bypass per-host budgets: the target
host's budget still applies, independently, to that host's OWN frontier
units. Pinned both by explicit per-wave metrics and by the 4-contract
engine↔oracle equivalence (the oracle implements the same accounting)."""

import pytest

from brink_spark.config import CrawlConfig
from brink_spark.functions.spans import Span, render_html
from brink_spark.functions.urls import normalize_url, scheme_and_host
from brink_spark.oracle import crawl_oracle
from brink_spark.plans.compare import compare_engine_oracle
from brink_spark.plans.crawl import CrawlEngine
from brink_spark.sources.sitegen import Page, SiteFixture, pages_to_spark


def _page(url, links=(), status=200, redirect_to=None):
    spans, off = [], 0
    for h in links:
        spans.append(Span("link", h, None, off))
        off += len(h)
    spans.append(Span("text", f"body of {url}", None, off))
    scheme, host = scheme_and_host(url)
    body = render_html(spans)
    return Page(
        url_norm=normalize_url(url, (), False), url=url, host=host,
        scheme=scheme, status=status, content_length=len(body.encode()),
        body=body, spans=spans, set_cookie=None, redirect_to=redirect_to,
    )


@pytest.fixture(scope="module")
def redirect_site():
    a, b = "http://a.test", "http://b.test"
    pages = [
        _page(f"{a}/s", links=["/a1", "/a2", "/z1", "/z2"]),
        # the two lexicographically-FIRST wave-1 units are off-host
        # redirects: both land on b.test payloads
        _page(f"{a}/a1", status=301, redirect_to=f"{b}/x1"),
        _page(f"{a}/a2", status=301, redirect_to=f"{b}/x2"),
        _page(f"{a}/z1"),
        _page(f"{a}/z2"),
        # absolute links so resolution is host-unambiguous
        _page(f"{b}/x1", links=[f"{b}/y1", f"{b}/y2", f"{b}/y3"]),
        _page(f"{b}/x2"),
        _page(f"{b}/y1"),
        _page(f"{b}/y2"),
        _page(f"{b}/y3"),
    ]
    cfg = CrawlConfig(
        entrypoint=f"{a}/s",
        allowed_domains=("b.test",),
        politeness_budget=2,
        max_waves=6,
    )
    fx = SiteFixture(
        scale="polite_redir", seed=0, pages=pages,
        seeds=[{"url": f"{a}/s", "priority": 0}], robots=[], config=cfg,
    )
    return fx


def test_redirect_fetch_charged_to_original_host(spark, redirect_site, tmp_path):
    fx = redirect_site
    engine = CrawlEngine(
        spark, fx.config, str(tmp_path / "store"),
        pages=pages_to_spark(spark, fx),
    )
    summary = engine.run(fixture=fx)
    waves = summary.wave_metrics

    # wave 0: the seed alone (1 <= budget 2)
    assert waves[0]["n_fetched"] == 1 and waves[0]["n_deferred"] == 0

    # wave 1: four a.test units, budget 2 -> the two url_norm-first units
    # fetch and they are BOTH off-host redirects. Charged to a.test: the
    # two plain a.test pages (z1, z2) defer even though the fetched
    # payloads came from b.test.
    assert waves[1]["n_fetched"] == 2 and waves[1]["n_deferred"] == 2

    # wave 2: deferred z1,z2 (a.test, 2 <= 2) + b.test's OWN frontier
    # y1..y3 discovered from the redirect payload. b.test's budget is
    # fresh — redirect traffic into b consumed none of it — so exactly
    # 2 of 3 y-units fetch, 1 defers.
    assert waves[2]["n_fetched"] == 4 and waves[2]["n_deferred"] == 1
    assert waves[3]["n_fetched"] == 1 and waves[3]["n_deferred"] == 0

    # the redirect units are visited under their ORIGINAL a.test keys,
    # with the chain's final (b.test) payload status
    man = engine.store.read_manifest()
    vis = {
        r["url_norm"]: (r["status"], r["wave"])
        for r in engine.store.read_visited(spark, man).collect()
    }
    assert vis["http://a.test/a1"] == (200, 1)
    assert vis["http://a.test/a2"] == (200, 1)
    assert "http://b.test/x1" not in vis  # chain intermediate: no own visit

    # same accounting in the oracle: full 4-contract equivalence
    oracle = crawl_oracle(fx, fx.config)
    cmp = compare_engine_oracle(spark, engine, oracle)
    assert cmp.visited_match, cmp.detail
    assert cmp.order_match, cmp.detail
    assert cmp.handler_match, cmp.detail
    assert cmp.spans_match, cmp.detail
