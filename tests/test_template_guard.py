"""Template trap guard: ``max_pages_per_template``.

The third trap guard (after max_depth and max_pages_per_host), for the
trap shape the first two can't bound without collateral damage: a host
that serves REAL content next to an auto-generated infinite space
(calendar, pagination, session-id permutations). Every trap URL is novel
(defeats the seen set) and can be shallow (defeats max_depth), and a
host-wide cap would kill the real pages too. The template key
(functions/templates.py: scheme://host verbatim + digit runs collapsed
to '#') collapses the whole trap onto one counter while every real page
keeps its own.

Pinned by explicit per-wave metrics, the 4-contract engine↔oracle
equivalence (the oracle implements the same semantics via the pure-Python
template mirror), a crash-resume rebuild from fetchlog, and a golden
Spark==Python equality test for the template function itself.
"""

import pytest
from pyspark.sql import functions as F

from brink_spark.config import CrawlConfig, from_toml
from brink_spark.functions.spans import Span, render_html
from brink_spark.functions.templates import url_template
from brink_spark.functions.urls import (
    normalize_url,
    scheme_and_host,
    url_template_py,
)
from brink_spark.oracle import crawl_oracle
from brink_spark.plans.compare import compare_engine_oracle
from brink_spark.plans.crawl import CrawlEngine
from brink_spark.sources.sitegen import Page, SiteFixture, pages_to_spark

H = "http://trap.test"
TCAP = 3
N_CAL = 40  # finite stand-in for the unbounded next-month chain


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
def trap_pages():
    # d0 links the calendar trap entry AND three real pages on the SAME
    # host; each calendar month links the next month forever
    return (
        [_page(f"{H}/d0", links=["/cal/2024/1", "/about", "/contact", "/team"])]
        + [
            _page(
                f"{H}/cal/2024/{i}",
                links=[f"/cal/2024/{i + 1}"] if i < N_CAL else [],
            )
            for i in range(1, N_CAL + 1)
        ]
        + [_page(f"{H}/about"), _page(f"{H}/contact"), _page(f"{H}/team")]
    )


def _config():
    return CrawlConfig(
        entrypoint=f"{H}/d0", politeness_budget=10,
        max_pages_per_template=TCAP, max_waves=12,
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


def test_template_cap_bounds_trap_keeps_real_content(spark, trap_pages, tmp_path):
    fx = _fixture(trap_pages, _config(), "tplcap")
    engine, summary = _run(spark, fx, tmp_path, "tplcap")
    waves = summary.wave_metrics
    visited = {
        r["url_norm"]
        for r in engine.store.read_visited(
            spark, engine.store.read_manifest()
        ).collect()
    }
    # every real page on the host survives; the calendar stops at the cap
    assert visited == {
        normalize_url(u, (), False)
        for u in [f"{H}/d0", f"{H}/about", f"{H}/contact", f"{H}/team"]
        + [f"{H}/cal/2024/{i}" for i in range(1, TCAP + 1)]
    }
    # wave 0: seed. wave 1: cal/1 + 3 real pages. waves 2-3: cal/2, cal/3.
    # wave 4: cal/4's template is saturated -> dropped, frontier drains.
    assert [m["n_fetched"] for m in waves] == [1, 4, 1, 1, 0]
    assert [m.get("n_template_capped", 0) for m in waves] == [0, 0, 0, 0, 1]
    assert summary.waves < fx.config.max_waves  # idle-stop fired

    flog = spark.read.parquet(
        *[engine.store.wave_dir("fetchlog", w) for w in range(len(waves))]
    )
    by_outcome = {
        r["outcome"]: r["count"]
        for r in flog.groupBy("outcome").count().collect()
    }
    assert by_outcome.get("template_capped") == 1
    # the trap's template saw exactly TCAP attempts
    n_cal_attempts = flog.filter(
        F.col("outcome").isin("miss", "not_allowed", "too_large", "ok")
        & F.col("url_norm").contains("/cal/")
    ).count()
    assert n_cal_attempts == TCAP


def test_template_cap_engine_matches_oracle(spark, trap_pages, tmp_path):
    fx = _fixture(trap_pages, _config(), "tplcap_orc")
    oracle = crawl_oracle(fx)
    engine, summary = _run(spark, fx, tmp_path, "tplcap_orc")
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


def test_template_cap_survives_resume(spark, trap_pages, tmp_path):
    """_template_taken rebuilds from committed fetchlog: an interrupted
    run + resume lands on the oracle's uninterrupted visited set."""
    fx = _fixture(trap_pages, _config(), "tplcap_res")
    _run(spark, fx, tmp_path, "tplcap_res", max_waves=2)

    engine2 = CrawlEngine(
        spark, fx.config, str(tmp_path / "tplcap_res"),
        pages=pages_to_spark(spark, fx),
    )
    engine2.run(fixture=fx, resume=True)
    oracle = crawl_oracle(fx)
    visited = {
        r["url_norm"]
        for r in engine2.store.read_visited(
            spark, engine2.store.read_manifest()
        ).collect()
    }
    assert visited == set(oracle.visited)


def test_url_template_spark_equals_python(spark):
    cases = [
        "http://trap.test/cal/2024/3",
        "http://trap.test/about",
        "https://host7.example:8080/p123?page=9241",
        "https://a.b.c.example/x1/y22/z333#frag4",
        "http://trap.test/",
        "http://trap.test",
        "not-a-url/123",
    ]
    expected = {
        "http://trap.test/cal/2024/3": "http://trap.test/cal/#/#",
        "http://trap.test/about": "http://trap.test/about",
        # host (incl. digits and port) verbatim; path/query collapse
        "https://host7.example:8080/p123?page=9241":
            "https://host7.example:8080/p#?page=#",
        "https://a.b.c.example/x1/y22/z333#frag4":
            "https://a.b.c.example/x#/y#/z##frag#",
        "http://trap.test/": "http://trap.test/",
        "http://trap.test": "http://trap.test",
        # degenerate non-URL: whole-string digit collapse
        "not-a-url/123": "not-a-url/#",
    }
    for c in cases:
        assert url_template_py(c) == expected[c], c
    df = spark.createDataFrame([(c,) for c in cases], ["u"])
    rows = df.select("u", url_template(F.col("u")).alias("t")).collect()
    for r in rows:
        assert r["t"] == url_template_py(r["u"]), r["u"]
    # native end to end: no Python eval in the plan
    plan = df.select(url_template(F.col("u"))).sparkSession is not None
    explain = df.select(url_template(F.col("u")))._jdf.queryExecution().toString()
    assert "BatchEvalPython" not in explain and plan


def test_template_report_surfaces_the_trap(spark, trap_pages, tmp_path):
    """The tuning companion: after a guarded crawl, template_report shows
    the calendar template dominating n_urls with its capped units counted,
    while every real page sits on its own 1-url template."""
    fx = _fixture(trap_pages, _config(), "tplrep")
    engine, _ = _run(spark, fx, tmp_path, "tplrep")
    rep = {r["template"]: r for r in engine.template_report().collect()}
    cal = rep[f"{H}/cal/#/#"]
    assert cal["n_urls"] == TCAP and cal["n_attempts"] == TCAP
    assert cal["n_capped"] == 1
    for t, r in rep.items():
        if t != f"{H}/cal/#/#":
            assert r["n_urls"] == 1 and r["n_capped"] == 0, t
    # ordered by fan-out: the trap leads
    first = engine.template_report(limit=1).collect()[0]
    assert first["template"] == f"{H}/cal/#/#"


def test_url_template_fuzz_spark_equals_python(spark):
    """Seeded fuzz over messy URL-shaped strings (ports, userinfo-ish
    text, digits in every segment, queries, fragments, empty/degenerate
    forms): one batch through the native expression must equal the pure
    mirror on every row."""
    import random

    rng = random.Random(1234)
    schemes = ["http", "https", "ftp", "x+y.z-1"]
    hosts = ["a.example", "h0st9.example:8080", "127.0.0.1", "x", "9.9.9.9:1"]
    segs = ["p", "p1", "2024", "item-33", "%41%31", "a_b", "", "0"]
    cases = []
    for _ in range(300):
        s = rng.choice(schemes)
        h = rng.choice(hosts)
        path = "/".join(rng.choice(segs) for _ in range(rng.randint(0, 4)))
        q = rng.choice(["", "?a=1", "?page=9241&x=y", "?9=9"])
        frag = rng.choice(["", "#f", "#sec2"])
        cases.append(f"{s}://{h}/{path}{q}{frag}")
    cases += ["", "no-scheme/1/2", "http://", "://x/1", "123", "http://h/"]
    df = spark.createDataFrame([(c,) for c in cases], ["u"])
    for r in df.select("u", url_template(F.col("u")).alias("t")).collect():
        assert r["t"] == url_template_py(r["u"]), r["u"]


def test_preblock_merges_with_resumed_counts(spark, trap_pages, tmp_path):
    """Preblock + resume: the rebuilt fetchlog counts and the preblocked
    saturation MAX-merge — a template preblocked at resume time blocks
    immediately even though its fetchlog count is below the cap, and the
    crawl still drains to the oracle of the preblocked config."""
    fx = _fixture(trap_pages, _config(), "tplpre_res")
    _run(spark, fx, tmp_path, "tplpre_res", max_waves=2)  # cal/1 fetched once

    cfg2 = _config().with_(
        preblocked_templates=(f"{H}/cal/#/#",)
    )
    engine2 = CrawlEngine(
        spark, cfg2, str(tmp_path / "tplpre_res"),
        pages=pages_to_spark(spark, fx),
    )
    summary2 = engine2.run(fixture=fx, resume=True)
    visited = {
        r["url_norm"]
        for r in engine2.store.read_visited(
            spark, engine2.store.read_manifest()
        ).collect()
    }
    # waves 0-1 fetched d0 + (cal/1 + 3 real); after resume the preblock
    # stops every further calendar page, real content finishes
    assert visited == {
        normalize_url(u, (), False)
        for u in [f"{H}/d0", f"{H}/about", f"{H}/contact", f"{H}/team",
                  f"{H}/cal/2024/1"]
    }
    assert sum(m.get("n_template_capped", 0) for m in summary2.wave_metrics) == 1


def test_template_cap_toml_round_trip(tmp_path):
    p = tmp_path / "c.toml"
    p.write_text(
        f'entrypoint = "{H}/d0"\nmax-pages-per-template = 7\n'
        'preblocked-templates = ["http://trap.test/cal/#/#"]\n'
    )
    cfg = from_toml(str(p))
    assert cfg.max_pages_per_template == 7
    assert cfg.preblocked_templates == ("http://trap.test/cal/#/#",)


# ------------------------------------------- streaming hot-template monitor


def _fetch_log_rows():
    """Synthetic fetch log: a calendar trap burst (60 distinct URLs in one
    hour) next to a handful of real-page fetches."""
    base = "2024-05-01 10:{m:02d}:00"
    rows = [
        (f"{H}/cal/2024/{i}", base.format(m=i % 60)) for i in range(1, 61)
    ] + [
        (f"{H}/about", "2024-05-01 10:05:00"),
        (f"{H}/about", "2024-05-01 10:40:00"),
        (f"{H}/contact", "2024-05-01 10:06:00"),
    ]
    return rows


def test_hot_template_stream_matches_batch(spark, tmp_path):
    from brink_spark.streaming.template_monitor import (
        blocked_template_list,
        hot_templates,
    )

    rows = _fetch_log_rows()
    batch_df = spark.createDataFrame(rows, "url_norm string, ts string")
    want_df = hot_templates(batch_df, threshold=50, window="1 hour")
    want = {
        (r["window_start"], r["template"]): (
            r["n_urls_approx"], r["n_hits"], r["is_hot"]
        )
        for r in want_df.collect()
    }
    # the trap template is hot, the real pages are not
    assert any(k[1] == f"{H}/cal/#/#" and v[2] for k, v in want.items())
    assert all(v[2] is False for k, v in want.items() if "cal" not in k[1])

    src_dir = tmp_path / "flog_in"
    src_dir.mkdir()
    batch_df.write.parquet(str(src_dir / "p0"), mode="overwrite")
    stream = spark.readStream.schema(batch_df.schema).parquet(
        str(src_dir / "p0")
    )
    q = (
        hot_templates(stream, threshold=50, window="1 hour")
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("hot_tpl")
        .option("checkpointLocation", str(tmp_path / "ckpt_tpl"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        (r["window_start"], r["template"]): (
            r["n_urls_approx"], r["n_hits"], r["is_hot"]
        )
        for r in spark.sql("SELECT * FROM hot_tpl").collect()
    }
    assert got == want
    assert blocked_template_list(want_df) == [f"{H}/cal/#/#"]


def test_monitor_feeds_preblock_closed_loop(spark, trap_pages, tmp_path):
    """The full online loop: monitor flags the trap from a fetch log →
    blocked_template_list → preblocked-templates config → the next crawl
    drops the whole calendar from wave 1 while real pages are untouched —
    and the engine still matches the oracle on all four contracts."""
    from brink_spark.streaming.template_monitor import (
        blocked_template_list,
        hot_templates,
    )

    flog = spark.createDataFrame(
        _fetch_log_rows(), "url_norm string, ts string"
    )
    blocked = blocked_template_list(hot_templates(flog, threshold=50))
    cfg = _config().with_(preblocked_templates=tuple(blocked))
    fx = _fixture(trap_pages, cfg, "tplpre")
    oracle = crawl_oracle(fx)
    engine, summary = _run(spark, fx, tmp_path, "tplpre")
    visited = {
        r["url_norm"]
        for r in engine.store.read_visited(
            spark, engine.store.read_manifest()
        ).collect()
    }
    # no calendar page was ever fetched; every real page survives
    assert visited == {
        normalize_url(u, (), False)
        for u in [f"{H}/d0", f"{H}/about", f"{H}/contact", f"{H}/team"]
    }
    assert [m.get("n_template_capped", 0) for m in summary.wave_metrics] == [0, 1]
    comparison = compare_engine_oracle(spark, engine, oracle)
    assert comparison.visited_match, comparison.detail
    assert comparison.order_match, comparison.detail
    assert comparison.handler_match, comparison.detail
    assert comparison.spans_match, comparison.detail.get("span_diffs")
    for em, om in zip(summary.wave_metrics, oracle.metrics):
        for key, want in om.items():
            assert em.get(key) == want, (om["wave"], key, em.get(key), want)
