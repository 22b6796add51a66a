"""Store-backend contract, parametrized over the parquet CrawlStore and the
IcebergCrawlStore (storage_iceberg.py). The SAME tests run against both: on
a cluster with the iceberg-spark-runtime jar the Iceberg path executes for
real; in this sandbox (no jar) it is SKIPPED, not faked — the parquet
parametrization still pins the contract both backends implement:

- per-wave write is an idempotent overwrite (crash-rewrite semantics),
- clean_uncommitted drops exactly the waves past the manifest pointer
  (frontier keeps one extra: wave K's commit includes frontier K+1),
- read_visited / read_asof honor the compaction horizon,
- tombstones filter read_visited but not the time-travel read_asof,
- the full engine runs + resumes against the store unchanged.
"""

import uuid

import pytest

from brink_spark.storage import CrawlStore, Manifest
from brink_spark.storage_iceberg import (
    IcebergCrawlStore,
    iceberg_configs,
    iceberg_jar_present,
)

BACKENDS = [
    "parquet",
    pytest.param(
        "iceberg",
        marks=pytest.mark.skipif(
            not iceberg_jar_present(),
            reason="no iceberg-spark-runtime jar on the classpath (sandbox); "
            "runs for real on a cluster with the jar",
        ),
    ),
]


@pytest.fixture(params=BACKENDS)
def store(request, spark, tmp_path):
    if request.param == "iceberg":
        for k, v in iceberg_configs(str(tmp_path / "warehouse")).items():
            spark.conf.set(k, v)
        s = IcebergCrawlStore(
            spark, str(tmp_path / "root"), namespace=f"ns_{uuid.uuid4().hex[:8]}"
        )
    else:
        s = CrawlStore(str(tmp_path / "root"))
    yield s
    s.destroy()


def _df(spark, rows):
    return spark.createDataFrame(
        [(u, s, w) for (u, s, w) in rows], "url_norm string, status int, wave int"
    )


def test_wave_write_is_idempotent_overwrite(spark, store):
    store.write(_df(spark, [("a", 200, 0), ("b", 404, 0)]), "visited", 0)
    got = {r["url_norm"] for r in store.read(spark, "visited", 0).collect()}
    assert got == {"a", "b"}
    # crash-rewrite: the same wave written again fully replaces the first
    store.write(_df(spark, [("c", 200, 0)]), "visited", 0)
    got = {r["url_norm"] for r in store.read(spark, "visited", 0).collect()}
    assert got == {"c"}
    assert store.has("visited", 0)
    assert not store.has("visited", 1)


def test_clean_uncommitted_respects_frontier_offset(spark, store):
    for w in range(3):
        store.write(_df(spark, [(f"v{w}", 200, w)]), "visited", w)
        store.write(_df(spark, [(f"f{w}", 0, w)]), "frontier", w)
    store.write(_df(spark, [("f3", 0, 3)]), "frontier", 3)
    store.clean_uncommitted(last_wave=1)
    assert store.has("visited", 1) and not store.has("visited", 2)
    # frontier wave 2 is part of wave 1's commit; wave 3 is not
    assert store.has("frontier", 2) and not store.has("frontier", 3)


def test_read_visited_asof_and_compaction_horizon(spark, store):
    man = Manifest()
    for w in range(4):
        store.write(_df(spark, [(f"u{w}", 200, w)]), "visited", w)
        man.last_wave = w
        store.commit(man)
    all_keys = {f"u{w}" for w in range(4)}
    assert {r["url_norm"] for r in store.read_visited(spark, man).collect()} == all_keys
    assert {
        r["url_norm"] for r in store.read_asof(spark, "visited", 2).collect()
    } == {"u0", "u1", "u2"}

    store.compact_visited(spark, man)
    man = store.read_manifest()
    assert man.compacted_upto == 3
    # same cumulative state after compaction
    assert {r["url_norm"] for r in store.read_visited(spark, man).collect()} == all_keys
    # below the compaction horizon: snapshot expired
    assert store.read_asof(spark, "visited", 2) is None
    assert {
        r["url_norm"] for r in store.read_asof(spark, "visited", 3).collect()
    } == all_keys


def test_asof_visited_keeps_pre_expiry_history(spark, store):
    """Tombstones filter the LIVE seen set only: after expiry read_visited
    drops the url, while a time-travel read still returns its row."""
    man = Manifest()
    for w in range(2):
        store.write(_df(spark, [(f"u{w}", 200, w)]), "visited", w)
        man.last_wave = w
        store.commit(man)
    store.write_tombstones(
        spark.createDataFrame([("u0",)], "url_norm string"), man.last_wave
    )
    assert {r["url_norm"] for r in store.read_visited(spark, man).collect()} == {
        "u1"
    }
    assert {
        r["url_norm"] for r in store.read_asof(spark, "visited", 1).collect()
    } == {"u0", "u1"}


def test_snapshot_table_asof_returns_single_wave(spark, store):
    for w in range(3):
        store.write(_df(spark, [(f"f{w}a", 0, w), (f"f{w}b", 0, w)]), "frontier", w)
    asof = store.read_asof(spark, "frontier", 1)
    assert {r["url_norm"] for r in asof.collect()} == {"f1a", "f1b"}


def test_engine_runs_and_resumes_on_store(spark, store, tiny_fixture):
    """The full wave loop + crash-resume against the backend, compared to
    the serial oracle (visited keyset)."""
    from brink_spark.oracle import crawl_oracle
    from brink_spark.plans.crawl import CrawlEngine

    cfg = tiny_fixture.config.with_(max_waves=4, compact_visited_every=2)
    eng1 = CrawlEngine(spark, cfg, store.root, store=store)
    eng1.run(fixture=tiny_fixture, max_waves=2)
    eng2 = CrawlEngine(spark, cfg, store.root, store=store)
    eng2.run(fixture=tiny_fixture, resume=True, max_waves=4)

    oracle = crawl_oracle(tiny_fixture, cfg)
    man = store.read_manifest()
    got = {
        r["url_norm"]: r["status"]
        for r in store.read_visited(spark, man).collect()
    }
    assert got == oracle.visited
