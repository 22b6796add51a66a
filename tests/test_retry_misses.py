"""Transport-miss retry (``retry-misses``, default off).

Reference parity default: a missed unit's edges drop and the url is only
re-attempted if rediscovered. With retry-misses = N, a missed unit's
edges re-enqueue until the url has missed N+1 times total — transient
failures (timeout / reset) recover without waiting for rediscovery,
while a permanently-dead url still drains the frontier. The url never
enters visited (only ok fetches do), so retried edges flow as ordinary
fresh edges: politeness re-applies and trap guards keep counting.
"""

import pytest
from pyspark.sql import functions as F

from brink_spark.config import CrawlConfig, from_toml
from brink_spark.functions.spans import Span, render_html
from brink_spark.functions.urls import normalize_url, scheme_and_host
from brink_spark.oracle import crawl_oracle
from brink_spark.plans.compare import compare_engine_oracle
from brink_spark.plans.crawl import CrawlEngine
from brink_spark.sources.sitegen import Page, SiteFixture, pages_to_spark

H = "http://retry.test"
RETRIES = 2


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


@pytest.fixture(scope="module")
def miss_pages():
    # /gone has NO pages row -> transport miss on every attempt
    return [_page(f"{H}/d0", links=["/gone", "/ok1"]), _page(f"{H}/ok1")]


def _config(retries):
    return CrawlConfig(
        entrypoint=f"{H}/d0", retry_misses=retries, max_waves=10,
    )


def _fixture(pages, config, name):
    return SiteFixture(
        scale=name, seed=0, pages=pages,
        seeds=[{"url": f"{H}/d0", "priority": 0}], robots=[], config=config,
    )


def _run(spark, fx, tmp_path, name, **kw):
    engine = CrawlEngine(
        spark, fx.config, str(tmp_path / name), pages=pages_to_spark(spark, fx)
    )
    return engine, engine.run(fixture=fx, **kw)


def test_retry_budget_then_drain(spark, miss_pages, tmp_path):
    fx = _fixture(miss_pages, _config(RETRIES), "retry")
    engine, summary = _run(spark, fx, tmp_path, "retry")
    waves = summary.wave_metrics
    # wave 0: d0. wave 1: gone(miss 1) + ok1. waves 2-3: gone again.
    # after miss #3 the budget (2 retries) is spent -> frontier drains.
    assert [m["n_miss"] for m in waves] == [0, 1, 1, 1]
    assert [m.get("n_miss_retry", 0) for m in waves] == [0, 1, 1, 0]
    assert summary.waves < fx.config.max_waves  # idle-stop fired
    visited = {
        r["url_norm"]
        for r in engine.store.read_visited(
            spark, engine.store.read_manifest()
        ).collect()
    }
    assert visited == {
        normalize_url(f"{H}/d0", (), False),
        normalize_url(f"{H}/ok1", (), False),
    }
    flog = spark.read.parquet(
        *[engine.store.wave_dir("fetchlog", w) for w in range(len(waves))]
    )
    n_miss = flog.filter(F.col("outcome") == "miss").count()
    assert n_miss == RETRIES + 1  # initial attempt + 2 retries


def test_retry_off_is_single_attempt(spark, miss_pages, tmp_path):
    fx = _fixture(miss_pages, _config(0), "retry_off")
    _, summary = _run(spark, fx, tmp_path, "retry_off")
    assert [m["n_miss"] for m in summary.wave_metrics] == [0, 1]


def test_retry_engine_matches_oracle(spark, miss_pages, tmp_path):
    fx = _fixture(miss_pages, _config(RETRIES), "retry_orc")
    oracle = crawl_oracle(fx)
    engine, summary = _run(spark, fx, tmp_path, "retry_orc")
    for rerun in (False, True):
        if rerun:  # the same engine, fresh: no counts carry over from run 1
            summary = engine.run(fixture=fx)
        comparison = compare_engine_oracle(spark, engine, oracle)
        assert comparison.visited_match, comparison.detail
        assert comparison.order_match, comparison.detail
        assert comparison.handler_match, comparison.detail
        assert comparison.spans_match, comparison.detail.get("span_diffs")
        assert len(summary.wave_metrics) == len(oracle.metrics)
        for em, om in zip(summary.wave_metrics, oracle.metrics):
            for key, want in om.items():
                assert em.get(key) == want, (om["wave"], key, em.get(key), want)


def test_retry_counts_survive_resume(spark, miss_pages, tmp_path):
    """_miss_counts rebuilds from committed fetchlog: cutting the run
    mid-retry and resuming lands on the same total attempt count."""
    fx = _fixture(miss_pages, _config(RETRIES), "retry_res")
    _run(spark, fx, tmp_path, "retry_res", max_waves=2)  # through miss #1

    engine2 = CrawlEngine(
        spark, fx.config, str(tmp_path / "retry_res"),
        pages=pages_to_spark(spark, fx),
    )
    engine2.run(fixture=fx, resume=True)
    flog_dirs = []
    w = 0
    while True:
        import os

        d = engine2.store.wave_dir("fetchlog", w)
        if not os.path.exists(d):
            break
        flog_dirs.append(d)
        w += 1
    flog = spark.read.parquet(*flog_dirs)
    assert flog.filter(F.col("outcome") == "miss").count() == RETRIES + 1


def test_retry_toml_round_trip(tmp_path):
    p = tmp_path / "c.toml"
    p.write_text(f'entrypoint = "{H}/d0"\nretry-misses = 3\n')
    assert from_toml(str(p)).retry_misses == 3
