"""Adaptive Bloom activation: below bloom_min_visited the engine runs the
exact-only seen split (no cogroup pass, no bloom tables); once cumulative
visited crosses the threshold the shards are built once from the full
visited set and maintained incrementally — with IDENTICAL crawl results in
every mode (the prefilter is semantics-transparent: no false negatives,
false positives only fall through to the exact join)."""

import os

import pytest


def _crawl(spark, fixture, cfg, store_dir):
    from brink_spark.plans.crawl import CrawlEngine

    engine = CrawlEngine(spark, cfg, store_dir)
    summary = engine.run(fixture=fixture, max_waves=4)
    return engine, summary


@pytest.fixture(scope="module")
def three_runs(spark, tiny_fixture, tmp_path_factory):
    base = tiny_fixture.config.with_(max_content_length=100_000)
    d = tmp_path_factory.mktemp("bloommode")
    return {
        # activates between waves (tiny crawl visits a handful per wave)
        "adaptive": _crawl(spark, tiny_fixture, base.with_(bloom_min_visited=5), str(d / "a")),
        "always": _crawl(spark, tiny_fixture, base.with_(bloom_min_visited=0), str(d / "b")),
        # never activates: total visited cannot exceed the fixture's pages
        "never": _crawl(
            spark,
            tiny_fixture,
            base.with_(bloom_min_visited=len(tiny_fixture.pages) + 1),
            str(d / "c"),
        ),
    }


def test_results_identical_across_bloom_modes(three_runs):
    metrics = {
        name: [
            {k: v for k, v in m.items() if k != "wave"}
            for m in summary.wave_metrics
        ]
        for name, (_, summary) in three_runs.items()
    }
    assert metrics["adaptive"] == metrics["always"] == metrics["never"]


def test_bloom_tables_appear_only_after_activation(three_runs):
    eng_a, sum_a = three_runs["adaptive"]
    waves = len(sum_a.wave_metrics)
    has = [eng_a.store.has("bloom", w) for w in range(waves)]
    # n_ok accumulates past 5 after some wave: bloom off first, on later
    assert not has[0]
    assert any(has), has
    first_on = has.index(True)
    assert all(has[first_on:]), has  # once active, stays active

    eng_b, _ = three_runs["always"]
    assert eng_b.store.has("bloom", 0)
    eng_c, _ = three_runs["never"]
    assert not os.path.isdir(os.path.join(eng_c.store.root, "bloom"))


def test_activation_threshold_tracked_in_manifest(three_runs):
    eng_a, sum_a = three_runs["adaptive"]
    man = eng_a.store.read_manifest()
    assert man.total_visited == sum(m["n_ok"] for m in sum_a.wave_metrics)
