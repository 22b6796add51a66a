"""Crawler-trap guards: ``max_depth`` and ``max_pages_per_host``.

Real crawls die in auto-generated infinities (calendar pages that link to
next-month forever, faceted search that mints unbounded URL permutations).
Two lifetime guards bound them, both default-off:

- ``max_depth``: outlinks whose link-hop distance from the seed set would
  exceed the budget are counted (``n_depth_capped``) and dropped before
  the frontier write. A page's depth is the MIN over its discovering
  edges; seeds are depth 0.
- ``max_pages_per_host``: a lifetime cap on fetch ATTEMPTS per host
  (every outcome-bearing unit counts). While allowance remains, the
  per-wave politeness budget is clipped to it; once a host's allowance is
  exhausted its queued units DROP with fetchlog outcome ``host_capped``
  (``n_host_capped``) instead of deferring — so the frontier drains and
  idle-stop fires even against an unbounded site.

Both are pinned by explicit per-wave metrics AND by the 4-contract
engine↔oracle equivalence (the oracle implements the same semantics),
plus a crash-resume test for the host-count rebuild from fetchlog.
"""

import pytest
from pyspark.sql import functions as F

from brink_spark.config import CrawlConfig
from brink_spark.functions.spans import Span, render_html
from brink_spark.functions.urls import normalize_url, scheme_and_host
from brink_spark.oracle import crawl_oracle
from brink_spark.plans.compare import compare_engine_oracle
from brink_spark.plans.crawl import CrawlEngine
from brink_spark.sources.sitegen import Page, SiteFixture, pages_to_spark

H = "http://trap.test"


def _page(url, links=(), status=200):
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
        body=body, spans=spans, set_cookie=None, redirect_to=None,
    )


def _fixture(pages, config, name):
    return SiteFixture(
        scale=name, seed=0, pages=pages,
        seeds=[{"url": f"{H}/d0", "priority": 0}], robots=[], config=config,
    )


def _run(spark, fx, tmp_path, name, resume=False, max_waves=None):
    engine = CrawlEngine(
        spark, fx.config, str(tmp_path / name),
        pages=pages_to_spark(spark, fx),
    )
    summary = engine.run(fixture=fx, resume=resume, max_waves=max_waves)
    return engine, summary


# ---------------------------------------------------------------- max_depth
CHAIN_LEN = 8  # d0 -> d1 -> ... -> d7, one link each


@pytest.fixture(scope="module")
def chain_pages():
    return [
        _page(
            f"{H}/d{i}",
            links=[f"/d{i + 1}"] if i + 1 < CHAIN_LEN else [],
        )
        for i in range(CHAIN_LEN)
    ]


def _chain_config(max_depth):
    return CrawlConfig(
        entrypoint=f"{H}/d0", max_depth=max_depth,
        max_waves=CHAIN_LEN + 2,
    )


def test_depth_cap_truncates_chain(spark, chain_pages, tmp_path):
    fx = _fixture(chain_pages, _chain_config(3), "depth3")
    engine, summary = _run(spark, fx, tmp_path, "depth3")
    # seeds are depth 0, so depth<=3 admits d0..d3 and nothing deeper
    visited = {
        r["url_norm"]
        for r in engine.store.read_visited(
            spark, engine.store.read_manifest()
        ).collect()
    }
    assert visited == {normalize_url(f"{H}/d{i}", (), False) for i in range(4)}
    # exactly one outlink (d3 -> d4) was minted past the budget
    assert sum(m.get("n_depth_capped", 0) for m in summary.wave_metrics) == 1
    # the drop empties the frontier: idle-stop, not max_waves
    assert summary.waves < fx.config.max_waves


def test_depth_cap_off_walks_whole_chain(spark, chain_pages, tmp_path):
    fx = _fixture(chain_pages, _chain_config(0), "depth_off")
    engine, _ = _run(spark, fx, tmp_path, "depth_off")
    n = engine.store.read_visited(spark, engine.store.read_manifest()).count()
    assert n == CHAIN_LEN


def test_depth_cap_engine_matches_oracle(spark, chain_pages, tmp_path):
    fx = _fixture(chain_pages, _chain_config(3), "depth_orc")
    oracle = crawl_oracle(fx)
    engine, summary = _run(spark, fx, tmp_path, "depth_orc")
    comparison = compare_engine_oracle(spark, engine, oracle)
    assert comparison.visited_match, comparison.detail
    assert comparison.order_match, comparison.detail
    assert comparison.handler_match, comparison.detail
    assert len(summary.wave_metrics) == len(oracle.metrics)
    for em, om in zip(summary.wave_metrics, oracle.metrics):
        for key, want in om.items():
            assert em.get(key) == want, (om["wave"], key, em.get(key), want)


# ------------------------------------------------------- max_pages_per_host
N_WIDE = 12
HOST_CAP = 5


@pytest.fixture(scope="module")
def wide_pages():
    # d0 fans out to 12 leaf pages on the same host — the finite stand-in
    # for an auto-generated unbounded site (the guard's decision never
    # looks past the per-host attempt count, so width is what matters)
    return [_page(f"{H}/d0", links=[f"/p{i:02d}" for i in range(N_WIDE)])] + [
        _page(f"{H}/p{i:02d}") for i in range(N_WIDE)
    ]


def _wide_config():
    return CrawlConfig(
        entrypoint=f"{H}/d0", politeness_budget=2,
        max_pages_per_host=HOST_CAP, max_waves=10,
    )


def test_host_cap_bounds_attempts_and_drains(spark, wide_pages, tmp_path):
    fx = _fixture(wide_pages, _wide_config(), "hostcap")
    engine, summary = _run(spark, fx, tmp_path, "hostcap")
    waves = summary.wave_metrics
    # wave 0: seed (1 attempt). waves 1-2: budget 2 then min(2, 5-3)=2.
    # wave 3: allowance 0 -> the 8 queued units drop, frontier drains.
    assert [m["n_fetched"] for m in waves] == [1, 2, 2, 0]
    assert [m.get("n_host_capped", 0) for m in waves] == [0, 0, 0, 8]
    assert sum(m["n_fetched"] for m in waves) == HOST_CAP
    assert summary.waves < fx.config.max_waves  # idle-stop fired

    # fetchlog records the dropped units as host_capped, attempts == cap
    flog = spark.read.parquet(
        *[engine.store.wave_dir("fetchlog", w) for w in range(len(waves))]
    )
    by_outcome = {
        r["outcome"]: r["count"]
        for r in flog.groupBy("outcome").count().collect()
    }
    assert by_outcome.get("host_capped") == 8
    n_attempts = flog.filter(
        F.col("outcome").isin("miss", "not_allowed", "too_large", "ok")
    ).count()
    assert n_attempts == HOST_CAP


def test_host_cap_engine_matches_oracle(spark, wide_pages, tmp_path):
    fx = _fixture(wide_pages, _wide_config(), "hostcap_orc")
    oracle = crawl_oracle(fx)
    engine, summary = _run(spark, fx, tmp_path, "hostcap_orc")
    comparison = compare_engine_oracle(spark, engine, oracle)
    assert comparison.visited_match, comparison.detail
    assert comparison.order_match, comparison.detail
    assert comparison.handler_match, comparison.detail
    assert len(summary.wave_metrics) == len(oracle.metrics)
    for em, om in zip(summary.wave_metrics, oracle.metrics):
        for key, want in om.items():
            assert em.get(key) == want, (om["wave"], key, em.get(key), want)


def test_host_cap_survives_resume(spark, wide_pages, tmp_path):
    """The cumulative attempt table rebuilds from committed fetchlog on
    resume: an interrupted run + resume lands on the same visited set and
    the same lifetime attempt count as the oracle's uninterrupted crawl."""
    fx = _fixture(wide_pages, _wide_config(), "hostcap_res")
    engine, _ = _run(spark, fx, tmp_path, "hostcap_res", max_waves=2)

    # fresh engine object against the same store: in-memory state is gone,
    # _host_taken must come back from fetchlog
    engine2 = CrawlEngine(
        spark, fx.config, str(tmp_path / "hostcap_res"),
        pages=pages_to_spark(spark, fx),
    )
    summary2 = engine2.run(fixture=fx, resume=True)

    oracle = crawl_oracle(fx)
    visited = {
        r["url_norm"]
        for r in engine2.store.read_visited(
            spark, engine2.store.read_manifest()
        ).collect()
    }
    assert visited == set(oracle.visited)
    # waves 0-1 before the cut, 2-3 after; lifetime attempts still == cap
    total_attempts = 2 + 1 + sum(m["n_fetched"] for m in summary2.wave_metrics)
    assert total_attempts == HOST_CAP


def test_fold_counts_sum_merges_across_waves(spark):
    """The lifetime count tables (host, template, per-url miss) fold wave
    by wave: folding batches one at a time equals counting their union, and
    a wave with no attempts carries every count through."""
    from brink_spark.plans.crawl import _fold_counts

    a = spark.createDataFrame([("h1",), ("h1",), ("h2",)], "host string")
    b = spark.createDataFrame([("h2",), ("h3",)], "host string")

    first = _fold_counts(None, a, "host", "_taken")
    assert first.columns == ["host", "_taken"]
    assert dict(first.collect()) == {"h1": 2, "h2": 1}

    both = _fold_counts(first, b, "host", "_taken")
    assert both.columns == ["host", "_taken"]
    assert dict(both.collect()) == {"h1": 2, "h2": 2, "h3": 1}
    assert dict(both.collect()) == dict(
        _fold_counts(None, a.unionByName(b), "host", "_taken").collect()
    )
    assert dict(_fold_counts(both, b.limit(0), "host", "_taken").collect()) == {
        "h1": 2, "h2": 2, "h3": 1,
    }
