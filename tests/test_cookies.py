"""Dynamic cookie-jar parity (reference brink.go:200-204, addCookies
267-274): response cookies merge into the shared jar by name; once the jar
holds a cookie whose name case-insensitively matches a session cookie name,
the Authorization header is dropped from every later request
(brink.go:177-184). Wave-discretized contract: cookies set by wave K's
fetches apply from wave K+1 on — identical in engine and oracle."""

import pytest

from brink_spark.config import AUTH_BASIC, CrawlConfig
from brink_spark.functions.spans import Span, render_html
from brink_spark.functions.urls import normalize_url, scheme_and_host
from brink_spark.oracle import crawl_oracle
from brink_spark.plans.crawl import CrawlEngine
from brink_spark.sources.sitegen import Page, SiteFixture


def _page(url: str, links=(), set_cookie=None, content_length=1000) -> Page:
    spans, off = [], 0
    for h in links:
        spans.append(Span("link", h, None, off))
        off += len(h)
    scheme, host = scheme_and_host(url)
    return Page(
        url_norm=normalize_url(url, (), False),
        url=url,
        host=host,
        scheme=scheme,
        status=200,
        content_length=content_length,
        body=render_html(spans),
        spans=spans,
        set_cookie=set_cookie,
    )


@pytest.fixture(scope="module")
def cookie_fixture():
    # wave 0 fetches /a (sets the session cookie) -> wave 1 fetches /b
    pages = [
        _page("https://c.example/a", links=["/b"], set_cookie="JSESSIONID=abc"),
        _page("https://c.example/b", links=["/c"], set_cookie="theme=dark"),
        _page("https://c.example/c"),
    ]
    cfg = CrawlConfig(
        "https://c.example/a",
        auth_type=AUTH_BASIC,
        user="u",
        password="p",
        session_cookie_names=("jsessionid",),
        cookies=(("greeting", "hi"),),
        max_waves=5,
    )
    return SiteFixture(
        scale="cookie",
        seed=0,
        pages=pages,
        seeds=[{"url": "https://c.example/a", "priority": 0}],
        robots=[],
        config=cfg,
    )


def test_cookie_jar_engine_oracle_parity(spark, cookie_fixture, tmp_path):
    oracle = crawl_oracle(cookie_fixture)
    assert oracle.cookie_jar == {
        "greeting": "hi",
        "JSESSIONID": "abc",
        "theme": "dark",
    }
    # JSESSIONID arrives from wave 0's fetch -> requests from wave 1 on
    # drop Authorization
    assert oracle.auth_suppressed_since_wave == 1

    engine = CrawlEngine(spark, cookie_fixture.config, str(tmp_path / "store"))
    engine.run(fixture=cookie_fixture)
    assert engine.cookie_jar == oracle.cookie_jar
    assert engine.auth_suppressed_since_wave == oracle.auth_suppressed_since_wave
    assert "Authorization" not in engine.request_headers()


def test_config_session_cookie_suppresses_from_wave_zero(spark, tmp_path):
    """A session cookie already in the CONFIG jar suppresses from wave 0
    (the reference drops the header on the very first request)."""
    pages = [_page("https://c.example/a")]
    cfg = CrawlConfig(
        "https://c.example/a",
        auth_type=AUTH_BASIC,
        user="u",
        password="p",
        session_cookie_names=("sid",),
        cookies=(("SID", "zzz"),),
        max_waves=2,
    )
    fx = SiteFixture(
        scale="cookie0",
        seed=0,
        pages=pages,
        seeds=[{"url": "https://c.example/a", "priority": 0}],
        robots=[],
        config=cfg,
    )
    assert crawl_oracle(fx).auth_suppressed_since_wave == 0
    engine = CrawlEngine(spark, cfg, str(tmp_path / "store0"))
    assert engine.auth_suppressed_since_wave == 0


def test_no_cookie_pages_leave_jar_untouched(spark, cookie_fixture, tmp_path):
    pages = [_page("https://c.example/a")]
    cfg = CrawlConfig("https://c.example/a", cookies=(("k", "v"),), max_waves=2)
    fx = SiteFixture(
        scale="nocookie",
        seed=0,
        pages=pages,
        seeds=[{"url": "https://c.example/a", "priority": 0}],
        robots=[],
        config=cfg,
    )
    engine = CrawlEngine(spark, cfg, str(tmp_path / "storen"))
    engine.run(fixture=fx)
    assert engine.cookie_jar == {"k": "v"}
    assert crawl_oracle(fx).cookie_jar == {"k": "v"}


def test_cookies_merge_before_gates(spark, tmp_path):
    """brink.go:199-204: addCookies runs right after client.Do, BEFORE the
    domain-allowed and content-length gates — a not_allowed response and a
    too_large response still update the jar. Only a transport miss
    (no response at all) leaves it untouched."""
    pages = [
        _page(
            "https://g.example/a",
            links=["https://other.example/x", "/big", "/gone"],
            set_cookie="from_ok=1",
        ),
        # not in allowed domains -> outcome not_allowed, cookie still merges
        _page("https://other.example/x", set_cookie="from_not_allowed=1"),
        # content_length > 512KiB default -> too_large, cookie still merges
        _page("https://g.example/big", set_cookie="from_too_large=1",
              content_length=10**6),
        # /gone has no page row -> miss; nothing to merge
    ]
    cfg = CrawlConfig("https://g.example/a", max_waves=4)
    fx = SiteFixture(
        scale="gates", seed=0, pages=pages,
        seeds=[{"url": "https://g.example/a", "priority": 0}],
        robots=[], config=cfg,
    )
    oracle = crawl_oracle(fx)
    want = {"from_ok": "1", "from_not_allowed": "1", "from_too_large": "1"}
    assert oracle.cookie_jar == want
    engine = CrawlEngine(spark, cfg, str(tmp_path / "store_gates"))
    engine.run(fixture=fx)
    assert engine.cookie_jar == want


def test_last_writer_wins_is_sorted_url_norm(spark, tmp_path):
    """Two same-wave pages set the SAME cookie name: the sorted(url_norm)
    merge order makes the lexicographically later page win — in the engine
    via the Spark-side max_by(value, url_norm) reduction."""
    pages = [
        _page("https://w.example/a", links=["/m", "/z"]),
        _page("https://w.example/m", set_cookie="k=from_m"),
        _page("https://w.example/z", set_cookie="k=from_z"),
    ]
    cfg = CrawlConfig("https://w.example/a", max_waves=4)
    fx = SiteFixture(
        scale="lww", seed=0, pages=pages,
        seeds=[{"url": "https://w.example/a", "priority": 0}],
        robots=[], config=cfg,
    )
    oracle = crawl_oracle(fx)
    assert oracle.cookie_jar == {"k": "from_z"}
    engine = CrawlEngine(spark, cfg, str(tmp_path / "store_lww"))
    engine.run(fixture=fx)
    assert engine.cookie_jar == {"k": "from_z"}


def test_resume_restores_cookie_jar(spark, cookie_fixture, tmp_path):
    """ADVICE r2: the jar and the auth-suppression wave are committed with
    each wave's manifest, so a crash-resume keeps cookies from committed
    waves and Authorization stays suppressed."""
    store = str(tmp_path / "store_resume")
    eng1 = CrawlEngine(spark, cookie_fixture.config, store)
    eng1.run(fixture=cookie_fixture, max_waves=1)  # wave 0 sets JSESSIONID
    assert eng1.cookie_jar["JSESSIONID"] == "abc"

    eng2 = CrawlEngine(spark, cookie_fixture.config, store)
    # pre-resume: constructor state is config-only
    assert "JSESSIONID" not in eng2.cookie_jar
    eng2.run(fixture=cookie_fixture, resume=True)
    full = crawl_oracle(cookie_fixture)
    assert eng2.cookie_jar == full.cookie_jar
    assert eng2.auth_suppressed_since_wave == full.auth_suppressed_since_wave
    assert "Authorization" not in eng2.request_headers()


def test_fresh_run_on_reused_engine_starts_from_config_jar(
    spark, cookie_fixture, tmp_path
):
    """A fresh run() starts from the config's jar even when the engine ran
    before: every wave commits the same jar and Authorization state as the
    engine's first run, so no cookie from an earlier crawl reaches wave 0."""
    engine = CrawlEngine(spark, cookie_fixture.config, str(tmp_path / "store"))
    runs: list[list] = []

    def record(_metrics):
        man = engine.store.read_manifest()
        runs[-1].append(
            (man.last_wave, man.cookie_jar, man.auth_suppressed_since_wave)
        )

    engine.on_wave_committed = record
    for _ in range(2):
        runs.append([])
        engine.run(fixture=cookie_fixture)
    assert runs[0][0] == (0, {"greeting": "hi", "JSESSIONID": "abc"}, 1)
    assert runs[1] == runs[0]
    assert engine.cookie_jar == crawl_oracle(cookie_fixture).cookie_jar
