"""Operator-level tests: Bloom seen-set properties, politeness top-k
equivalence, span parser UDF, robots longest-prefix logic."""

from pyspark.sql import Window, functions as F

from brink_spark.operators.politeness import apply_politeness
from brink_spark.operators.seen import BloomSeenSet, mark_seen


def _fresh_cached(edges, visited, bloom=None, shards=None):
    """mark_seen's one table split on its status: (fresh, cached) edges."""
    marked = mark_seen(edges, visited, bloom, shards)
    return (
        marked.filter(F.col("status").isNull()),
        marked.filter(F.col("status").isNotNull()),
    )


def _urls_df(spark, prefix, n):
    return spark.range(n).select(
        F.concat(F.lit(f"https://{prefix}.example/p"), F.col("id")).alias("url_norm")
    )


def test_bloom_no_false_negatives(spark):
    """Property from SURVEY.md §7 M3: Bloom must never cause a false drop —
    every inserted url_norm probes maybe_seen=True."""
    bloom = BloomSeenSet(n_shards=8, n_bits=1 << 16, n_hashes=5)
    inserted = _urls_df(spark, "in", 2000)
    shards = bloom.updated(inserted, bloom.empty(spark))
    shards = shards.cache()
    assert shards.count() <= 8
    probed = bloom.probe(inserted, shards)
    assert probed.filter(~F.col("maybe_seen")).count() == 0


def test_bloom_false_positive_rate_sane(spark):
    bloom = BloomSeenSet(n_shards=8, n_bits=1 << 20, n_hashes=5)
    shards = bloom.updated(_urls_df(spark, "in", 5000), bloom.empty(spark)).cache()
    other = _urls_df(spark, "out", 5000)
    fp = bloom.probe(other, shards).filter(F.col("maybe_seen")).count()
    # 5000 keys in 2^20 bits/8 shards ≈ 0.3 bits/key density → fp ≈ 0
    assert fp < 50


def test_bloom_incremental_build_equals_batch_build(spark):
    """The engine builds the shards once on activation and then ORs each
    wave's visited rows in: inserting a then b must give byte-identical
    shard bitmaps to inserting a ∪ b at once."""
    bloom = BloomSeenSet(n_shards=8, n_bits=1 << 12, n_hashes=5)
    urls = _urls_df(spark, "in", 3000)
    a = urls.filter(F.col("url_norm") < "https://in.example/p2")
    b = urls.filter(F.col("url_norm") >= "https://in.example/p15")  # overlaps a

    def _bitmaps(shards):
        return {r["shard"]: bytes(r["bitmap"]) for r in shards.collect()}

    incremental = _bitmaps(bloom.updated(b, bloom.updated(a, bloom.empty(spark))))
    batch = _bitmaps(bloom.updated(a.unionByName(b), bloom.empty(spark)))
    assert len(batch) == 8
    assert incremental == batch


def test_mark_seen_bloom_equals_exact(spark):
    """The Bloom prefilter must not change the fresh/cached split."""
    edges = spark.range(300).select(
        F.concat(F.lit("https://s.example/p"), F.col("id")).alias("url_norm"),
        F.lit("parent").alias("linked_from"),
        F.concat(F.lit("https://s.example/p"), F.col("id")).alias("url"),
        F.lit(0).alias("priority"),
    )
    visited = spark.range(100, 200).select(
        F.concat(F.lit("https://s.example/p"), F.col("id")).alias("url_norm"),
        F.lit(200).alias("status"),
        F.lit(0).alias("wave"),
    )
    bloom = BloomSeenSet(4, 1 << 16, 5)
    shards = bloom.updated(visited, bloom.empty(spark)).cache()

    fresh_e, cached_e = _fresh_cached(edges, visited)
    fresh_b, cached_b = _fresh_cached(edges, visited, bloom, shards)
    assert sorted(r["url_norm"] for r in fresh_e.collect()) == sorted(
        r["url_norm"] for r in fresh_b.collect()
    )
    assert sorted(r["url_norm"] for r in cached_e.collect()) == sorted(
        r["url_norm"] for r in cached_b.collect()
    )


def test_politeness_two_phase_equals_single_window(spark):
    """The salted two-phase top-k must equal the naive single-window plan,
    including on a pathologically hot host."""
    rows = []
    for i in range(500):
        rows.append(("hot.example", f"https://hot.example/p{i:04d}", i % 7))
    for i in range(50):
        rows.append((f"cold{i}.example", f"https://cold{i}.example/x", 0))
    units = spark.createDataFrame(
        rows, "host string, url_norm string, unit_priority int"
    )
    budgets = spark.createDataFrame(
        [("hot.example", 10)], "host string, _budget int"
    )
    got = apply_politeness(units, budgets, default_budget=3, num_salts=8)
    w = Window.partitionBy("host").orderBy("unit_priority", "url_norm")
    want = (
        units.join(budgets, "host", "left")
        .withColumn("_b", F.coalesce("_budget", F.lit(3)))
        .withColumn("_eligible", F.row_number().over(w) <= F.col("_b"))
    )
    got_set = {(r["url_norm"], r["_eligible"]) for r in got.collect()}
    want_set = {(r["url_norm"], r["_eligible"]) for r in want.collect()}
    assert got_set == want_set
    # hot host admitted exactly its budget
    n_hot = sum(1 for u, e in got_set if e and "hot.example" in u)
    assert n_hot == 10


def test_mark_seen_single_table_equals_split(spark):
    """mark_seen's status column must partition the input exactly into
    (fresh, cached) halves, with and without the Bloom prefilter, the
    same when the null/non-null filters are pushed into the plan, and
    must carry the stored status for every cached row."""
    edges = spark.range(300).select(
        F.concat(F.lit("https://m.example/p"), F.col("id")).alias("url_norm"),
        F.lit("parent").alias("linked_from"),
    )
    visited = spark.range(100, 200).select(
        F.concat(F.lit("https://m.example/p"), F.col("id")).alias("url_norm"),
        (F.lit(200) + (F.col("id") % 2)).cast("int").alias("status"),
        F.lit(0).alias("wave"),
    )
    bloom = BloomSeenSet(4, 1 << 16, 5)
    shards = bloom.updated(visited, bloom.empty(spark)).cache()
    want_status = {
        r["url_norm"]: r["status"] for r in visited.collect()
    }

    for b, s in ((None, None), (bloom, shards)):
        marked = mark_seen(edges, visited, b, s).collect()
        # every input edge appears exactly once
        assert sorted(r["url_norm"] for r in marked) == sorted(
            r["url_norm"] for r in edges.collect()
        )
        fresh = {r["url_norm"] for r in marked if r["status"] is None}
        cached = {r["url_norm"]: r["status"] for r in marked if r["status"] is not None}
        assert cached == want_status
        assert fresh.isdisjoint(cached)
        f_df, c_df = _fresh_cached(edges, visited, b, s)
        assert fresh == {r["url_norm"] for r in f_df.collect()}
        assert cached == {
            r["url_norm"]: r["status"] for r in c_df.collect()
        }

    # no visited set at all: everything fresh, status column present+null
    marked0 = mark_seen(edges, None).collect()
    assert all(r["status"] is None for r in marked0)
    assert len(marked0) == 300


def _bitmaps(shards):
    return {r["shard"]: bytes(r["bitmap"]) for r in shards.collect()}


def test_bloom_build_is_deterministic(spark):
    """Two builds from the same URLs give byte-identical shard bitmaps, so
    a resumed crawl that rebuilds the shards from ``visited`` probes the
    same way the original run did."""
    bloom = BloomSeenSet(n_shards=8, n_bits=1 << 12, n_hashes=5)
    urls = _urls_df(spark, "det", 1000)
    first = _bitmaps(bloom.updated(urls, bloom.empty(spark)))
    second = _bitmaps(bloom.updated(urls, bloom.empty(spark)))
    assert len(first) == 8
    assert first == second


def test_bloom_update_with_no_new_urls_keeps_shards(spark):
    """A wave that adds no visited rows ORs nothing in: every existing
    shard is carried through unchanged, none is dropped."""
    bloom = BloomSeenSet(n_shards=8, n_bits=1 << 12, n_hashes=5)
    shards = bloom.updated(_urls_df(spark, "keep", 500), bloom.empty(spark))
    before = _bitmaps(shards)
    after = _bitmaps(bloom.updated(_urls_df(spark, "none", 0), shards))
    assert len(before) == 8
    assert after == before


def test_bloom_probe_on_empty_filter_is_all_negative(spark):
    """With no shard rows at all every URL is a definite negative, and it
    still gets exactly one verdict row."""
    bloom = BloomSeenSet(n_shards=8, n_bits=1 << 12, n_hashes=5)
    verdicts = bloom.probe(_urls_df(spark, "q", 400), bloom.empty(spark)).collect()
    assert len(verdicts) == 400
    assert not any(r["maybe_seen"] for r in verdicts)


def test_bloom_probe_returns_one_verdict_per_url(spark):
    """mark_seen joins the verdicts back onto the edges by url_norm, so a
    URL that appears on several edges must still get one verdict row."""
    bloom = BloomSeenSet(n_shards=4, n_bits=1 << 12, n_hashes=5)
    urls = _urls_df(spark, "dup", 200)
    shards = bloom.updated(urls, bloom.empty(spark))
    tripled = urls.unionByName(urls).unionByName(urls)
    verdicts = bloom.probe(tripled, shards).collect()
    assert sorted(r["url_norm"] for r in verdicts) == sorted(
        r["url_norm"] for r in urls.collect()
    )
    assert all(r["maybe_seen"] for r in verdicts)


def test_bloom_stale_bits_fall_through_to_exact_join(spark):
    """Expiry writes tombstones and leaves the expired URLs' bits set. Those
    stale positives must reach the exact join, which no longer finds them
    in ``visited``, so they come out fresh, exactly as without the filter."""
    bloom = BloomSeenSet(n_shards=4, n_bits=1 << 16, n_hashes=5)
    kept = _urls_df(spark, "kept", 150)
    expired = _urls_df(spark, "gone", 150)
    shards = bloom.updated(kept.unionByName(expired), bloom.empty(spark)).cache()
    visited = kept.withColumn("status", F.lit(200))
    edges = (
        kept.unionByName(expired)
        .unionByName(_urls_df(spark, "new", 100))
        .withColumn("linked_from", F.lit("parent"))
    )

    assert all(r["maybe_seen"] for r in bloom.probe(expired, shards).collect())
    fresh_b, cached_b = _fresh_cached(edges, visited, bloom, shards)
    fresh_e, cached_e = _fresh_cached(edges, visited)
    fresh = {r["url_norm"] for r in fresh_b.collect()}
    assert fresh == {r["url_norm"] for r in fresh_e.collect()}
    assert {r["url_norm"] for r in expired.collect()} <= fresh
    assert {r["url_norm"] for r in cached_b.collect()} == {
        r["url_norm"] for r in cached_e.collect()
    } == {r["url_norm"] for r in kept.collect()}


def test_saturated_bloom_stays_safe(spark):
    """A filter far too small for its keys degenerates to mostly-positive
    verdicts: slower, never wrong — no false negatives, same split."""
    bloom = BloomSeenSet(n_shards=1, n_bits=64, n_hashes=3)
    visited = _urls_df(spark, "sat", 500).withColumn("status", F.lit(200))
    shards = bloom.updated(visited, bloom.empty(spark)).cache()
    assert bloom.probe(visited, shards).filter(~F.col("maybe_seen")).count() == 0
    edges = _urls_df(spark, "sat", 800).withColumn("linked_from", F.lit("p"))
    fresh_b, cached_b = _fresh_cached(edges, visited, bloom, shards)
    fresh_e, cached_e = _fresh_cached(edges, visited)
    assert {r["url_norm"] for r in fresh_b.collect()} == {
        r["url_norm"] for r in fresh_e.collect()
    }
    assert {r["url_norm"] for r in cached_b.collect()} == {
        r["url_norm"] for r in cached_e.collect()
    }


def test_mark_seen_keeps_duplicate_edges_under_bloom(spark):
    """A URL linked from several parents is one edge per parent. With and
    without the prefilter, mark_seen returns every edge row exactly once,
    each tagged with the URL's stored status."""
    from collections import Counter

    targets = _urls_df(spark, "d", 60)
    edges = targets.crossJoin(
        spark.createDataFrame([("p1",), ("p2",), ("p3",)], "linked_from string")
    )
    visited = _urls_df(spark, "d", 30).withColumn("status", F.lit(301))
    bloom = BloomSeenSet(4, 1 << 16, 5)
    shards = bloom.updated(visited, bloom.empty(spark)).cache()

    def _rows(df):
        return Counter(
            (r["url_norm"], r["linked_from"], r["status"]) for r in df.collect()
        )

    exact = _rows(mark_seen(edges, visited))
    assert sum(exact.values()) == 180
    assert max(exact.values()) == 1
    assert _rows(mark_seen(edges, visited, bloom, shards)) == exact
    assert sum(1 for (_, _, s) in exact if s == 301) == 90
