"""End-to-end engine ↔ oracle equivalence (SURVEY.md §5.2 item 2).

The four contracts from BASELINE.json's north_rule: URL-seen-set equality,
wave-discretized crawl-order equality, handler-row multiset equality
(including cached flags), and span-sequence equality per document.
"""

import pytest
from pyspark.sql import functions as F

from brink_spark.plans.compare import compare_engine_oracle


@pytest.fixture(scope="module")
def comparison(spark, tiny_run, tiny_oracle):
    engine, _ = tiny_run
    return compare_engine_oracle(spark, engine, tiny_oracle)


def test_visited_set_matches(comparison):
    assert comparison.visited_match, comparison.detail


def test_crawl_order_matches(comparison):
    assert comparison.order_match, comparison.detail


def test_handler_rows_match(comparison):
    assert comparison.handler_match, comparison.detail


def test_span_sequences_match(comparison):
    assert comparison.spans_match, comparison.detail.get("span_diffs")


def test_wave_metrics_match_oracle(tiny_run, tiny_oracle):
    _, summary = tiny_run
    assert len(summary.wave_metrics) == len(tiny_oracle.metrics)
    for em, om in zip(summary.wave_metrics, tiny_oracle.metrics):
        for key, want in om.items():
            assert em.get(key) == want, (om["wave"], key, em.get(key), want)


def test_politeness_budget_never_exceeded(spark, tiny_run, tiny_fixture):
    engine, summary = tiny_run
    budgets = tiny_fixture.host_budgets()
    default = tiny_fixture.config.politeness_budget
    flog = spark.read.parquet(
        *[
            engine.store.wave_dir("fetchlog", w)
            for w in range(len(summary.wave_metrics))
        ]
    ).filter(~F.col("outcome").isin("robots_denied", "deferred"))
    counts = flog.groupBy("wave", "host").count().collect()
    assert counts
    for r in counts:
        assert r["count"] <= budgets.get(r["host"], default), (
            r["host"],
            r["wave"],
            r["count"],
        )


def test_robots_denied_never_fetched(spark, tiny_run, tiny_oracle):
    """Every robots-denied unit stays un-fetched and un-visited."""
    from pyspark.sql import functions as F

    engine, summary = tiny_run
    flog = spark.read.parquet(
        *[
            engine.store.wave_dir("fetchlog", w)
            for w in range(len(summary.wave_metrics))
        ]
    )
    denied = {r["url_norm"] for r in flog.filter(F.col("outcome") == "robots_denied").collect()}
    assert denied  # the fixture produces robots-denied URLs
    fetched = {r["url_norm"] for r in flog.filter(~F.col("outcome").isin("robots_denied", "deferred")).collect()}
    assert not (denied & set(tiny_oracle.visited))
    # a denied URL may be re-discovered and denied again, but never fetched
    assert not (denied & fetched)


def test_live_visited_has_one_row_per_url(spark, tiny_run):
    """The wave's (url_norm, _is_fresh) ranking window assumes live visited
    holds at most one row per url_norm; the shared run compacts after its
    last wave, so this checks the compacted rollup as the next wave reads it."""
    engine, _ = tiny_run
    man = engine.store.read_manifest()
    assert man.compacted_upto == man.last_wave
    live = engine.store.read_visited(spark, man)
    assert live.count() == live.select("url_norm").distinct().count()


def test_every_frontier_has_int_depth(spark, tiny_run):
    """The wave reads ``depth`` as written, with no fallback: under
    max_depth > 0 a null depth would drop its row silently. Every frontier
    the shared run wrote (waves 0..last+1) carries an int ``depth`` with no
    nulls."""
    from pyspark.sql.types import IntegerType

    engine, summary = tiny_run
    for w in range(len(summary.wave_metrics) + 1):
        assert engine.store.has("frontier", w), w
        frontier = engine.store.read(spark, "frontier", w)
        assert frontier.schema["depth"].dataType == IntegerType(), w
        assert frontier.filter(F.col("depth").isNull()).count() == 0, w


def test_fetch_partition_override_matches_oracle(spark, tiny_fixture, tmp_path):
    """fetch_partitions > 0 forces the salted repartition before the parse:
    the four contracts still hold and the fetches land in exactly the
    configured partitions (without the override AQE coalesces this tiny
    wave's join to one partition)."""
    from brink_spark.oracle import crawl_oracle
    from brink_spark.plans.crawl import CrawlEngine

    cfg = tiny_fixture.config.with_(
        max_content_length=100_000, fetch_partitions=3, max_waves=4
    )
    engine = CrawlEngine(spark, cfg, str(tmp_path / "store"))
    summary = engine.run(fixture=tiny_fixture)
    cmp = compare_engine_oracle(spark, engine, crawl_oracle(tiny_fixture, cfg))
    assert cmp.all_match, cmp.detail

    flog = spark.read.parquet(
        *[
            engine.store.wave_dir("fetchlog", w)
            for w in range(len(summary.wave_metrics))
        ]
    )
    pids = {
        r["partition_id"]
        for r in flog.filter(
            F.col("outcome").isin("ok", "miss", "not_allowed", "too_large")
        )
        .select("partition_id")
        .distinct()
        .collect()
    }
    assert pids == {0, 1, 2}, pids
