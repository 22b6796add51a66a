"""Relational query suite: TPC-H-shaped analytics + crawl-stage analogues.

The crawl engine's relational stages (normalize→dedup, anti-join vs seen,
inner-join cached dispatch, per-host aggregation — SURVEY.md §2 E1/H1-H4)
are re-expressed here over the driver's testdata tables so DuckDB can
oracle-check them: `events` rows are turned into deterministic synthetic
URLs with string ops available in both engines.

Plan-quality notes (checked via .explain):
- every filter/projection sits directly on the scan (PushedFilters/ReadSchema);
- small dimension joins broadcast (region/nation/customer at test SF; on a
  cluster Catalyst/AQE makes the same call under the threshold);
- aggregates are partial (map-side) before the exchange — free from groupBy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from brink_spark.queries.iterate import cut as _cut
from brink_spark.queries.iterate import min_label_propagate as _min_label_propagate
from brink_spark.queries.iterate import two_phase_components as _two_phase_components


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# --------------------------------------------------------------------------
# TPC-H-shaped analytics


# Cross-engine FP rule: money/quantity columns are fixed-decimal values, so
# per-term ROUND(x * 10^k) recovers the exact integer (the FP error is
# ~1e-9, far from the .5 boundary) and BIGINT sums are then exact in both
# engines — immune to summation order, unlike ROUND(SUM(double), 2) which
# straddles round boundaries (observed: 461871.08 vs .09).


def _x100(col):
    return F.round(col * 100).cast("bigint")


def q_pricing_summary(spark, sf):
    """TPC-H Q1 shape: one-pass grouped aggregation over the fact table.
    Sums as exact scaled integers (see module FP rule)."""
    l = _t(spark, sf, "lineitem").filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
    disc_x10000 = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000).cast("bigint")
    return (
        l.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_x100(F.col("l_quantity"))).alias("sum_qty_x100"),
            F.sum(_x100(F.col("l_extendedprice"))).alias("sum_base_price_x100"),
            F.sum(disc_x10000).alias("sum_disc_price_x10000"),
            F.floor(
                F.sum(_x100(F.col("l_quantity"))) / F.count(F.lit(1))
            ).alias("avg_qty_x100"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


SQL_PRICING = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS BIGINT)
                                                           AS sum_qty_x100,
       CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
                                                           AS sum_base_price_x100,
       CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT))
            AS BIGINT)                                     AS sum_disc_price_x10000,
       CAST(FLOOR(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) * 1.0 / COUNT(*))
            AS BIGINT)                                     AS avg_qty_x100,
       COUNT(*)                                            AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def q_revenue_by_nation(spark, sf):
    """TPC-H Q5 shape: multi-join star with broadcast dims."""
    l = _t(spark, sf, "lineitem")
    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer")
    s = _t(spark, sf, "supplier")
    n = _t(spark, sf, "nation")
    r = _t(spark, sf, "region")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.sum(
                F.round(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
                ).cast("bigint")
            ).alias("revenue_x10000"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


SQL_REVENUE_NATION = """
SELECT n_name,
       CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT))
            AS BIGINT) AS revenue_x10000,
       COUNT(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY n_name
"""


def q_top_orders(spark, sf):
    """TPC-H Q3 shape, made deterministic: revenue per order above a fixed
    threshold instead of LIMIT (tie-proof across engines)."""
    l = _t(spark, sf, "lineitem")
    o = _t(spark, sf, "orders").filter(F.col("o_orderdate") < F.lit("1997-01-01"))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("o_orderkey", "o_orderpriority")
        .agg(
            F.sum(
                F.round(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
                ).cast("bigint")
            ).alias("revenue_x10000")
        )
        .filter(F.col("revenue_x10000") > 300000 * 10000)
    )


SQL_TOP_ORDERS = """
SELECT o_orderkey, o_orderpriority,
       CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT))
            AS BIGINT) AS revenue_x10000
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY o_orderkey, o_orderpriority
HAVING SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT))
       > 3000000000
"""


def q_order_priority(spark, sf):
    """TPC-H Q4 shape: semi-join (EXISTS) + count per priority."""
    o = _t(spark, sf, "orders")
    l = _t(spark, sf, "lineitem").filter(F.col("l_discount") > 0.05)
    return (
        o.join(l.select("l_orderkey").distinct(), o.o_orderkey == F.col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


SQL_ORDER_PRIORITY = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_discount > 0.05)
GROUP BY o_orderpriority
"""


def q_customer_order_distribution(spark, sf):
    """TPC-H Q13 shape: left outer join + distribution of counts."""
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


SQL_CUST_DIST = """
SELECT c_count, COUNT(*) AS custdist
FROM (SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      GROUP BY c_custkey) t
GROUP BY c_count
"""


def q_part_supplier_stats(spark, sf):
    """Join fact→part with per-group stats (integer outputs, FP-safe)."""
    l = _t(spark, sf, "lineitem")
    p = _t(spark, sf, "part")
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.countDistinct("l_suppkey").alias("n_suppliers"),
            F.sum(F.round(F.col("l_quantity") * 100).cast("bigint")).alias(
                "total_qty_x100"
            ),
        )
    )


SQL_PART_SUPPLIER = """
SELECT p_brand, COUNT(*) AS n_lines,
       COUNT(DISTINCT l_suppkey) AS n_suppliers,
       CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS BIGINT) AS total_qty_x100
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand
"""


# --------------------------------------------------------------------------
# events: streaming-shaped analytics (sessionize / tumble / running)


def q_events_tumbling(spark, sf):
    """Tumbling 1-hour windows per event type (watermark-free batch form)."""
    e = _t(spark, sf, "events")
    return (
        e.groupBy(
            F.unix_timestamp(F.date_trunc("hour", F.col("ts"))).alias("hour_epoch"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("bigint")).alias(
                "total_value_x100"
            ),
        )
    )


SQL_EVENTS_TUMBLING = """
SELECT CAST(FLOOR(epoch(date_trunc('hour', ts))) AS BIGINT) AS hour_epoch, event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS total_value_x100
FROM events
GROUP BY 1, 2
"""


def q_events_hopping(spark, sf):
    """HOPPING (sliding) windows: 1-hour windows every 30 minutes, so
    each event contributes to exactly 2 overlapping windows — Spark's
    native `window(ts, '1 hour', '30 minutes')` (the same operator the
    streaming path uses under a watermark; this is its batch form).
    Spark implements hopping windows as an internal explode — one row
    per covered window BEFORE the partial aggregation, so map-side
    combine still applies and the shuffle carries (window, type) rows.
    The DuckDB oracle makes the expansion explicit with generate_series
    over the two covering window starts."""
    e = _t(spark, sf, "events")
    return (
        e.groupBy(F.window("ts", "1 hour", "30 minutes"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("bigint")).alias(
                "total_value_x100"
            ),
        )
        .select(
            F.unix_timestamp(F.col("window.start")).alias("win_start_epoch"),
            "event_type",
            "n_events",
            "total_value_x100",
        )
    )


SQL_EVENTS_HOPPING = """
WITH expanded AS (
  -- an event at epoch t is covered by exactly the two 30-min-aligned
  -- window starts w0 = floor(t/1800)*1800 (t-w0 in [0,1800)) and
  -- w0-1800 (t-w in [1800,3600)): both always satisfy w <= t < w+3600
  SELECT e.*,
         (CAST(FLOOR(epoch(ts) / 1800) AS BIGINT) - g.i) * 1800 AS win_start
  FROM events e, (SELECT UNNEST(generate_series(0, 1)) AS i) g)
SELECT win_start AS win_start_epoch, event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
         AS total_value_x100
FROM expanded GROUP BY 1, 2
"""


def q_events_sessionize(spark, sf):
    """Session windows via gap > 30 min (lag + cumulative sum), then
    sessions-per-user — the stateful-streaming shape in batch."""
    from pyspark.sql import Window

    e = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    gaps = e.withColumn(
        "new_session",
        (
            F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
            > 1800
        ).cast("int"),
    ).withColumn(
        "session_id",
        F.sum(F.coalesce("new_session", F.lit(1))).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return gaps.groupBy("user_id").agg(
        F.max("session_id").alias("n_sessions"),
        F.count(F.lit(1)).alias("n_events"),
    )


SQL_EVENTS_SESSIONIZE = """
WITH gaps AS (
  SELECT user_id, ts,
         CASE WHEN FLOOR(epoch(ts)) - FLOOR(epoch(LAG(ts) OVER (PARTITION BY user_id ORDER BY ts))) > 1800
              THEN 1
              WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL THEN 1
              ELSE 0 END AS new_session
  FROM events),
sess AS (
  SELECT user_id,
         CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM gaps)
SELECT user_id, CAST(MAX(session_id) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
FROM sess GROUP BY user_id
"""


def q_events_user_stats(spark, sf):
    e = _t(spark, sf, "events")
    return e.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("total_value_x100"),
        F.unix_timestamp(F.max("ts")).alias("last_seen_epoch"),
    )


SQL_EVENTS_USER_STATS = """
SELECT user_id, event_type, COUNT(*) AS n,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS total_value_x100,
       CAST(FLOOR(epoch(MAX(ts))) AS BIGINT) AS last_seen_epoch
FROM events GROUP BY user_id, event_type
"""


# --------------------------------------------------------------------------
# crawl-stage relational analogues over synthesized URLs (E1/H1/H2/B1-lite)

# url := scheme://host{user_id%20}.example/p{event_id%997}?ref={event_type}
# "normalization" here = dropping the ignored ref param (B1's ignore path);
# the full normalize kernel is golden-tested in tests/test_urls_golden.py.
_URL_SPARK = (
    "concat('https://host', cast(pmod(user_id, 20) as string), "
    "'.example/p', cast(pmod(event_id, 997) as string))"
)
_URL_SQL = (
    "'https://host' || CAST(user_id % 20 AS VARCHAR) || "
    "'.example/p' || CAST(event_id % 997 AS VARCHAR)"
)


def q_url_normalize_dedup(spark, sf):
    """E1 within-wave dedup: distinct normalized URLs per host."""
    e = _t(spark, sf, "events")
    urls = e.select(
        F.expr(_URL_SPARK).alias("url_norm"),
        F.concat(
            F.lit("host"), F.pmod("user_id", F.lit(20)).cast("string"), F.lit(".example")
        ).alias("host"),
    )
    return urls.groupBy("host").agg(
        F.countDistinct("url_norm").alias("n_unique"),
        F.count(F.lit(1)).alias("n_edges"),
    )


SQL_URL_DEDUP = f"""
SELECT 'host' || CAST(user_id % 20 AS VARCHAR) || '.example' AS host,
       COUNT(DISTINCT {_URL_SQL}) AS n_unique,
       COUNT(*) AS n_edges
FROM events GROUP BY 1
"""


def q_frontier_anti_join(spark, sf):
    """H1: frontier ⋉ visited anti join — unseen URLs per host.
    visited := URLs of 'purchase' events; frontier := 'click'/'view' events."""
    e = _t(spark, sf, "events")
    urls = e.select(
        "event_type",
        F.expr(_URL_SPARK).alias("url_norm"),
        F.concat(
            F.lit("host"), F.pmod("user_id", F.lit(20)).cast("string"), F.lit(".example")
        ).alias("host"),
    )
    visited = urls.filter(F.col("event_type") == "purchase").select("url_norm").distinct()
    frontier = urls.filter(F.col("event_type").isin("click", "view"))
    unseen = frontier.join(visited, "url_norm", "left_anti")
    return unseen.groupBy("host").agg(
        F.countDistinct("url_norm").alias("n_unseen"),
        F.count(F.lit(1)).alias("n_edges"),
    )


SQL_FRONTIER_ANTI = f"""
WITH urls AS (
  SELECT event_type, {_URL_SQL} AS url_norm,
         'host' || CAST(user_id % 20 AS VARCHAR) || '.example' AS host
  FROM events),
visited AS (SELECT DISTINCT url_norm FROM urls WHERE event_type = 'purchase')
SELECT host, COUNT(DISTINCT url_norm) AS n_unseen, COUNT(*) AS n_edges
FROM urls f
WHERE event_type IN ('click', 'view')
  AND NOT EXISTS (SELECT 1 FROM visited v WHERE v.url_norm = f.url_norm)
GROUP BY host
"""


def q_cached_dispatch(spark, sf):
    """H2: frontier ⋈ visited inner join — cached handler dispatches."""
    e = _t(spark, sf, "events")
    urls = e.select("event_type", F.expr(_URL_SPARK).alias("url_norm"))
    visited = (
        urls.filter(F.col("event_type") == "purchase")
        .groupBy("url_norm")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    frontier = urls.filter(F.col("event_type").isin("click", "view"))
    return (
        frontier.join(visited, "url_norm", "inner")
        .groupBy("url_norm", "hits")
        .agg(F.count(F.lit(1)).alias("n_cached_dispatch"))
    )


SQL_CACHED = f"""
WITH urls AS (SELECT event_type, {_URL_SQL} AS url_norm FROM events),
visited AS (SELECT url_norm, COUNT(*) AS hits FROM urls
            WHERE event_type = 'purchase' GROUP BY url_norm)
SELECT f.url_norm, v.hits, COUNT(*) AS n_cached_dispatch
FROM urls f JOIN visited v ON f.url_norm = v.url_norm
WHERE f.event_type IN ('click', 'view')
GROUP BY f.url_norm, v.hits
"""


def q_politeness_topk(spark, sf):
    """Politeness top-k shape: first k URLs per host by (priority, url) —
    the window the scheduler runs each wave (G1/G2 extension)."""
    from pyspark.sql import Window

    e = _t(spark, sf, "events")
    urls = e.select(
        F.expr(_URL_SPARK).alias("url_norm"),
        F.concat(
            F.lit("host"), F.pmod("user_id", F.lit(20)).cast("string"), F.lit(".example")
        ).alias("host"),
        F.pmod("event_id", F.lit(5)).cast("int").alias("priority"),
    ).distinct()
    w = Window.partitionBy("host").orderBy("priority", "url_norm")
    return (
        urls.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .select("host", "url_norm", "priority", "rn")
    )


SQL_POLITENESS = f"""
WITH urls AS (
  SELECT DISTINCT {_URL_SQL} AS url_norm,
         'host' || CAST(user_id % 20 AS VARCHAR) || '.example' AS host,
         CAST(event_id % 5 AS INT) AS priority
  FROM events),
ranked AS (
  SELECT host, url_norm, priority,
         ROW_NUMBER() OVER (PARTITION BY host ORDER BY priority, url_norm) AS rn
  FROM urls)
SELECT host, url_norm, priority, rn FROM ranked WHERE rn <= 10
"""


def q_sitemap_seeds(spark, sf):
    """Sitemap seed source under the hard driver gate: synthesize
    per-host sitemaps.org XML bodies from `customer` (deterministic —
    host = site{c_nationkey%5}.example, one <url> block per customer,
    <priority> tag present only when c_custkey%3==0, loc carries an
    &amp;-escaped query string), then run them through the REAL parser
    (sources/sitemap.py: regexp block extract → entity unescape →
    priority → engine-priority mapping). The oracle never parses XML —
    generation is deterministic, so DuckDB states what the parse MUST
    produce; any parser drift flips the hash. All-Catalyst: zero Python
    on either the generate or parse side."""
    from brink_spark.sources.sitemap import sitemap_seeds

    c = _t(spark, sf, "customer")
    k = F.pmod("c_custkey", F.lit(11))
    prio_txt = F.when(
        F.pmod("c_custkey", F.lit(3)) == 0,
        F.concat(
            F.lit("<priority>"),
            F.when(k == 10, F.lit("1.0")).otherwise(
                F.concat(F.lit("0."), k.cast("string"))
            ),
            F.lit("</priority>"),
        ),
    ).otherwise(F.lit(""))
    host = F.concat(
        F.lit("site"), F.pmod("c_nationkey", F.lit(5)).cast("string"), F.lit(".example")
    )
    block = F.concat(
        F.lit("<url><loc> https://"),
        host,
        F.lit("/c/"),
        F.col("c_custkey").cast("string"),
        F.lit("?a=1&amp;b=2 </loc>"),
        prio_txt,
        F.lit("</url>"),
    )
    bodies = (
        c.select(host.alias("host"), block.alias("_block"))
        .groupBy("host")
        .agg(
            F.concat(
                F.lit('<?xml version="1.0"?><urlset>'),
                F.concat_ws("", F.collect_list("_block")),
                F.lit("</urlset>"),
            ).alias("body")
        )
    )
    return sitemap_seeds(bodies)


# generation is deterministic → the oracle states the parse result
# directly: unescaped+trimmed loc, engine priority 100-10k for tagged
# blocks (round((1-0.k)*100) is exactly that integer), default 50 else.
SQL_SITEMAP_SEEDS = """
SELECT 'https://site' || CAST(c_nationkey % 5 AS VARCHAR) || '.example/c/'
         || CAST(c_custkey AS VARCHAR) || '?a=1&b=2' AS url,
       CAST(CASE WHEN c_custkey % 3 = 0 THEN 100 - 10 * (c_custkey % 11)
                 ELSE 50 END AS INT) AS priority
FROM customer
"""


def q_graph_pagerank(spark, sf):
    """Iterative graph algorithm under the hard driver gate: 3 unrolled
    PageRank iterations over a deterministic link graph synthesized from
    events (src = event_id%997 -> dst = (event_id*7+13)%997). All-integer
    arithmetic (ranks in millionths, damping 85/100 via integer division)
    so both engines are bit-exact with NO floating point — the crawl's
    link-graph ranking shape (frontier prioritization by link authority).
    At scale each iteration is one shuffle on dst; Spark's `div` and
    DuckDB's `//` are the same floor division on non-negative BIGINTs."""
    e = _t(spark, sf, "events")
    edges = e.select(
        F.pmod("event_id", F.lit(997)).alias("src"),
        F.pmod(F.col("event_id") * 7 + 13, F.lit(997)).alias("dst"),
    ).distinct()
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    # NO lineage cuts here: with a FIXED 3-round unroll the logical tree
    # is bounded (2^3 references), Catalyst reuses the exchange for the
    # repeated events scan, and each eager localCheckpoint would cost a
    # full materialization job — 5 cuts more than tripled this query's
    # wall time in round 4 (0.65 s → 1.8-2.2 s). Cut-per-round remains
    # the right trade ONLY for unbounded/converged loops (iterate.py —
    # used by min_label_propagate and two_phase_components), where plan
    # growth is exponential in an unknown round count.
    ranks = nodes.withColumn("rank", F.lit(1_000_000).cast("bigint"))
    for _ in range(3):
        contrib = (
            edges.join(deg, "src")
            .join(ranks.withColumnRenamed("node", "src"), "src")
            .select("dst", F.expr("rank div d").alias("c"))
        )
        insum = contrib.groupBy("dst").agg(F.sum("c").alias("insum"))
        ranks = nodes.join(
            insum.withColumnRenamed("dst", "node"), "node", "left"
        ).select(
            "node",
            (
                F.lit(150_000)
                + F.expr("(85 * coalesce(insum, 0L)) div 100")
            ).cast("bigint").alias("rank"),
        )
    return ranks.select("node", F.col("rank").alias("rank_x1e6"))


def _sql_pr_iter(prev: str, out: str) -> str:
    return f"""
{out} AS (
  SELECT n.node,
         CAST(150000 + (85 * COALESCE(s.insum, 0)) // 100 AS BIGINT) AS rank
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS node, SUM(r.rank // d.d) AS insum
    FROM edges e JOIN deg d ON d.src = e.src JOIN {prev} r ON r.node = e.src
    GROUP BY e.dst) s ON s.node = n.node)"""


SQL_PAGERANK = f"""
WITH edges AS (
  SELECT DISTINCT event_id % 997 AS src, (event_id * 7 + 13) % 997 AS dst
  FROM events),
nodes AS (SELECT DISTINCT src AS node FROM edges
          UNION SELECT DISTINCT dst FROM edges),
deg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY src),
r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank FROM nodes),
{_sql_pr_iter("r0", "r1")},
{_sql_pr_iter("r1", "r2")},
{_sql_pr_iter("r2", "r3")}
SELECT node, rank AS rank_x1e6 FROM r3
"""


def q_graph_ppr(spark, sf):
    """Personalized PageRank from a trusted seed set — the crawl-priority
    variant of q_graph_pagerank: teleport mass returns ONLY to seeds
    (node % 50 == 0), so rank measures authority *as reachable from the
    seeds* rather than globally — the frontier-prioritization signal a
    focused crawl wants (a spam cluster with no seed-side in-links gets
    zero, where global PageRank still feeds it teleport mass). Same
    integer arithmetic and 3-round unroll as the global query (ranks in
    millionths, damping 85/100, floor div identical in both engines);
    same no-lineage-cut rationale for a fixed small unroll. Top-100 by
    rank (ties by node) keeps the output driver-hash stable while the
    full vector stays distributed."""
    e = _t(spark, sf, "events")
    edges = e.select(
        F.pmod("event_id", F.lit(997)).alias("src"),
        F.pmod(F.col("event_id") * 7 + 13, F.lit(997)).alias("dst"),
    ).distinct()
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    teleport = F.when(F.pmod("node", F.lit(50)) == 0, F.lit(150_000)).otherwise(
        F.lit(0)
    )
    ranks = nodes.withColumn(
        "rank",
        F.when(F.pmod("node", F.lit(50)) == 0, F.lit(1_000_000))
        .otherwise(F.lit(0))
        .cast("bigint"),
    )
    for _ in range(3):
        contrib = (
            edges.join(deg, "src")
            .join(ranks.withColumnRenamed("node", "src"), "src")
            .select("dst", F.expr("rank div d").alias("c"))
        )
        insum = contrib.groupBy("dst").agg(F.sum("c").alias("insum"))
        ranks = nodes.join(
            insum.withColumnRenamed("dst", "node"), "node", "left"
        ).select(
            "node",
            (teleport + F.expr("(85 * coalesce(insum, 0L)) div 100"))
            .cast("bigint")
            .alias("rank"),
        )
    return (
        ranks.select("node", F.col("rank").alias("ppr_x1e6"))
        .orderBy(F.col("ppr_x1e6").desc(), "node")
        .limit(100)
    )


def _sql_ppr_iter(prev: str, out: str) -> str:
    return f"""
{out} AS (
  SELECT n.node,
         CAST(CASE WHEN n.node % 50 = 0 THEN 150000 ELSE 0 END
              + (85 * COALESCE(s.insum, 0)) // 100 AS BIGINT) AS rank
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS node, SUM(r.rank // d.d) AS insum
    FROM edges e JOIN deg d ON d.src = e.src JOIN {prev} r ON r.node = e.src
    GROUP BY e.dst) s ON s.node = n.node)"""


SQL_GRAPH_PPR = f"""
WITH edges AS (
  SELECT DISTINCT event_id % 997 AS src, (event_id * 7 + 13) % 997 AS dst
  FROM events),
nodes AS (SELECT DISTINCT src AS node FROM edges
          UNION SELECT DISTINCT dst FROM edges),
deg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY src),
p0 AS (SELECT node,
              CAST(CASE WHEN node % 50 = 0 THEN 1000000 ELSE 0 END AS BIGINT)
                AS rank
       FROM nodes),
{_sql_ppr_iter("p0", "p1")},
{_sql_ppr_iter("p1", "p2")},
{_sql_ppr_iter("p2", "p3")}
SELECT node, rank AS ppr_x1e6 FROM p3
ORDER BY rank DESC, node LIMIT 100
"""


def q_graph_components(spark, sf):
    """Connected components by iterative min-label propagation (4 unrolled
    rounds over the undirected events link graph) — the other standard
    iterative graph kernel next to PageRank, integer-exact on both engines.
    Output: per current label, member count after round 4 (a fixed
    iteration count keeps the oracle exact whether or not converged).
    At scale each round is one shuffle on dst; label propagation is the
    hash-join form of large-scale CC (e.g. the map-reduce CC family)."""
    e = _t(spark, sf, "events")
    edges = e.select(
        F.pmod("event_id", F.lit(997)).alias("src"),
        F.pmod(F.col("event_id") * 7 + 13, F.lit(997)).alias("dst"),
    ).distinct()
    und = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    labels = _min_label_propagate(und, rounds=4)
    return labels.groupBy(F.col("lbl").alias("component")).agg(
        F.count(F.lit(1)).alias("n_nodes")
    )


def _sql_cc_iter(prev: str, out: str) -> str:
    return f"""
{out} AS (
  SELECT l.node, LEAST(l.lbl, COALESCE(s.nb_min, l.lbl)) AS lbl
  FROM {prev} l LEFT JOIN (
    SELECT u.dst AS node, MIN(r.lbl) AS nb_min
    FROM und u JOIN {prev} r ON r.node = u.src
    GROUP BY u.dst) s ON s.node = l.node)"""


SQL_COMPONENTS = f"""
WITH edges AS (
  SELECT DISTINCT event_id % 997 AS src, (event_id * 7 + 13) % 997 AS dst
  FROM events),
und AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM und),
{_sql_cc_iter("l0", "l1")},
{_sql_cc_iter("l1", "l2")},
{_sql_cc_iter("l2", "l3")},
{_sql_cc_iter("l3", "l4")}
SELECT lbl AS component, COUNT(*) AS n_nodes FROM l4 GROUP BY lbl
"""


def q_graph_components_2phase(spark, sf):
    """Connected components by alternating large-star / small-star
    contraction (Kiveris et al. SoCC'14) — converges in O(log n) rounds
    regardless of graph diameter, vs O(diameter) for the label-propagation
    form (`graph_components`). Same events link graph, same output shape;
    the oracle is DuckDB's recursive-CTE TRUE components (min reachable
    node id), so this query is checked against the exact fixed point, not
    a fixed round count — proving the contraction actually converged.
    At scale: each round is two node-keyed shuffles over an edge set that
    only shrinks; lineage is cut per round (queries/iterate.py)."""
    e = _t(spark, sf, "events")
    edges = e.select(
        F.pmod("event_id", F.lit(997)).alias("src"),
        F.pmod(F.col("event_id") * 7 + 13, F.lit(997)).alias("dst"),
    ).distinct()
    labels = _two_phase_components(edges)
    return labels.groupBy(F.col("lbl").alias("component")).agg(
        F.count(F.lit(1)).alias("n_nodes")
    )


SQL_COMPONENTS_2PHASE = """
WITH RECURSIVE edges AS (
  SELECT DISTINCT event_id % 997 AS src, (event_id * 7 + 13) % 997 AS dst
  FROM events),
und AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
nodes AS (SELECT DISTINCT src AS node FROM und),
reach(node, r) AS (
  SELECT node, node AS r FROM nodes
  UNION
  SELECT u.dst AS node, reach.r FROM reach JOIN und u ON u.src = reach.node),
lbl AS (SELECT node, MIN(r) AS component FROM reach GROUP BY node)
SELECT component, COUNT(*) AS n_nodes FROM lbl GROUP BY component
"""


def q_graph_hits(spark, sf):
    """HITS hubs/authorities (Kleinberg) — the third classic link-analysis
    kernel next to PageRank and connected components, 2 unrolled
    mutual-reinforcement rounds, all-integer (no normalization: fixed
    rounds keep magnitudes bounded and both engines bit-exact). Graph:
    src = event_id%997 -> dst = (event_id*7+13)%499 — the differing
    moduli make in/out degrees data-dependent (a single-modulus graph
    is a permutation: perfectly regular, every score equal — useless as
    a test). At scale each half-round is one shuffle on the join key,
    the same topology as a PageRank round; lineage cuts are unnecessary
    at 2 fixed rounds (plan depth is constant)."""
    e = _t(spark, sf, "events")
    edges = e.select(
        F.pmod("event_id", F.lit(997)).alias("src"),
        F.pmod(F.col("event_id") * 7 + 13, F.lit(499)).alias("dst"),
    ).distinct()
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    # h0 = 1000 everywhere; auth(t) = Σ hub(s) over s->t; hub(s) = Σ auth(t)
    a1 = edges.groupBy("dst").agg(
        (F.count(F.lit(1)) * 1000).cast("bigint").alias("a1")
    )
    h1 = (
        edges.join(a1, "dst")
        .groupBy("src")
        .agg(F.sum("a1").alias("h1"))
    )
    a2 = (
        edges.join(h1, "src")
        .groupBy("dst")
        .agg(F.sum("h1").alias("a2"))
    )
    return (
        nodes.join(h1.withColumnRenamed("src", "node"), "node", "left")
        .join(a2.withColumnRenamed("dst", "node"), "node", "left")
        .select(
            "node",
            F.coalesce("h1", F.lit(0)).cast("bigint").alias("hub_score"),
            F.coalesce("a2", F.lit(0)).cast("bigint").alias("auth_score"),
        )
    )


SQL_GRAPH_HITS = """
WITH edges AS (
  SELECT DISTINCT event_id % 997 AS src, (event_id * 7 + 13) % 499 AS dst
  FROM events),
nodes AS (SELECT DISTINCT src AS node FROM edges
          UNION SELECT DISTINCT dst FROM edges),
a1 AS (SELECT dst, CAST(COUNT(*) * 1000 AS BIGINT) AS a1 FROM edges GROUP BY dst),
h1 AS (SELECT e.src, CAST(SUM(a.a1) AS BIGINT) AS h1
       FROM edges e JOIN a1 a ON a.dst = e.dst GROUP BY e.src),
a2 AS (SELECT e.dst, CAST(SUM(h.h1) AS BIGINT) AS a2
       FROM edges e JOIN h1 h ON h.src = e.src GROUP BY e.dst)
SELECT n.node,
       CAST(COALESCE(h.h1, 0) AS BIGINT) AS hub_score,
       CAST(COALESCE(a.a2, 0) AS BIGINT) AS auth_score
FROM nodes n
LEFT JOIN h1 h ON h.src = n.node
LEFT JOIN a2 a ON a.dst = n.node
"""


def q_events_session_window(spark, sf):
    """NATIVE gap-based session windows (F.session_window, the streaming-
    capable operator) in batch: 30-minute inactivity gap per user, then
    per-user session stats. Boundary rule: session end = last event +
    gap, intervals half-open — an event exactly `gap` after the last one
    STARTS A NEW SESSION (diff >= 1800), which is what the lag-gap
    oracle states with >=. Two boundary facts align Spark with that
    oracle EXACTLY (round-6 fix of an inherited sf0.1-only divergence —
    the round-5 tree fails the same row; the sf0.01 driver gate never
    hit a boundary case):
    1. the oracle's gap arithmetic is over FLOORED epoch seconds, so the
       session operator gets second-TRUNCATED timestamps (an exact diff
       of 1799.34 s can floor to 1800 — observed at sf0.1, user 511);
    2. Spark's session_window MERGES an event exactly `gap` after the
       previous one (splits only on diff > gap — verified empirically),
       while the oracle splits at >= 1800; on integer-second inputs
       `> 1799` ≡ `>= 1800`, so the gap is 1799 seconds.
    One shuffle on user_id; session merge is map-side within the
    aggregation — the same plan shape Structured Streaming runs
    incrementally."""
    e = _t(spark, sf, "events")
    per_session = e.groupBy(
        "user_id",
        F.session_window(
            F.date_trunc("second", F.col("ts")), "1799 seconds"
        ).alias("w"),
    ).agg(F.count(F.lit(1)).alias("n_ev"))
    return per_session.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.max("n_ev").alias("max_session_events"),
        F.sum("n_ev").alias("n_events"),
    )


SQL_SESSION_WINDOW = """
WITH gaps AS (
  SELECT user_id, ts,
         CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                   THEN 1
              WHEN FLOOR(epoch(ts)) - FLOOR(epoch(LAG(ts) OVER
                   (PARTITION BY user_id ORDER BY ts))) >= 1800 THEN 1
              ELSE 0 END AS new_session
  FROM events),
sess AS (
  SELECT user_id,
         CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS session_id
  FROM gaps),
per_session AS (
  SELECT user_id, session_id, COUNT(*) AS n_ev
  FROM sess GROUP BY user_id, session_id)
SELECT user_id, COUNT(*) AS n_sessions,
       CAST(MAX(n_ev) AS BIGINT) AS max_session_events,
       CAST(SUM(n_ev) AS BIGINT) AS n_events
FROM per_session GROUP BY user_id
"""


def q_events_pivot(spark, sf):
    """Relational PIVOT: per-user event counts spread into one column per
    event type (the reshape every analytics export runs). The pivot
    values are LISTED explicitly — with an explicit list Spark skips the
    extra distinct-scan JOB (an eager collect before planning, the real
    scale hazard) and plans a two-level aggregate: partial counts per
    (user_id, event_type) collapse map-side before either exchange, then
    pivotfirst spreads ≤5 rows per user into columns. Output width is
    fixed by the enum, not the data."""
    e = _t(spark, sf, "events")
    kinds = ["click", "error", "purchase", "signup", "view"]
    out = (
        e.groupBy("user_id")
        .pivot("event_type", kinds)
        .agg(F.count(F.lit(1)))
    )
    return out.select(
        "user_id",
        *[
            F.coalesce(F.col(k), F.lit(0)).cast("bigint").alias(f"n_{k}")
            for k in kinds
        ],
    )


SQL_EVENTS_PIVOT = """
SELECT user_id,
       CAST(COUNT(*) FILTER (event_type = 'click')    AS BIGINT) AS n_click,
       CAST(COUNT(*) FILTER (event_type = 'error')    AS BIGINT) AS n_error,
       CAST(COUNT(*) FILTER (event_type = 'purchase') AS BIGINT) AS n_purchase,
       CAST(COUNT(*) FILTER (event_type = 'signup')   AS BIGINT) AS n_signup,
       CAST(COUNT(*) FILTER (event_type = 'view')     AS BIGINT) AS n_view
FROM events GROUP BY user_id
"""


def q_events_cube(spark, sf):
    """CUBE grouping sets (the ROLLUP sibling, all 4 subtotal combos over
    (event_type, day-of-week)): count + exact scaled-integer value sum.
    Spark expands the cube into grouping sets inside ONE aggregate
    (partial agg still applies); null grouping markers are replaced with
    sentinel labels so the hash compare is null-free on key columns."""
    e = _t(spark, sf, "events").select(
        "event_type",
        F.dayofweek("ts").cast("int").alias("dow"),
        F.round(F.col("value") * 100).cast("bigint").alias("v100"),
    )
    return (
        e.cube("event_type", "dow")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("v100").alias("total_value_x100"),
        )
        .select(
            F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
            F.coalesce(F.col("dow").cast("string"), F.lit("ALL")).alias("dow"),
            "n",
            "total_value_x100",
        )
    )


SQL_EVENTS_CUBE = """
SELECT COALESCE(event_type, 'ALL') AS event_type,
       COALESCE(CAST(CAST(dayofweek(ts) + 1 AS INT) AS VARCHAR), 'ALL') AS dow,
       COUNT(*) AS n,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
         AS total_value_x100
FROM events GROUP BY CUBE (event_type, CAST(dayofweek(ts) + 1 AS INT))
"""


def q_graph_triangles(spark, sf):
    """Triangle participation count per node with DEGREE-ORDERED edge
    orientation — the standard skew-proof formulation (node-iterator++ /
    Schank-Wagner; also how Cohen's MapReduce triangle paper and
    GraphFrames' motif counting bound the join fan-out). Orienting every
    undirected edge from its lower-(degree, id) endpoint to the higher
    one caps each node's out-degree at O(sqrt(m)), so the wedge-building
    self-join on the middle vertex cannot explode on a hub node — THE
    failure mode of naive id-ordered triangle joins on power-law webs
    (a 10^7-degree hub would otherwise build 10^14 wedges). Three hash
    joins, each on a single key; at 100 TB all three shuffle-partition
    cleanly and AQE splits any residual skew. Graph: the same
    dual-modulus event digraph as graph_hits, made undirected."""
    e = _t(spark, sf, "events")
    raw = e.select(
        F.pmod("event_id", F.lit(997)).alias("a"),
        F.pmod(F.col("event_id") * 7 + 13, F.lit(499)).alias("b"),
    ).where(F.col("a") != F.col("b"))
    und = raw.select(
        F.least("a", "b").alias("x"), F.greatest("a", "b").alias("y")
    ).distinct()
    return triangle_counts(und)


# q_graph_triangles' dense-universe fast path fires when the max node id
# fits a <=4096-word (32 KiB/row) bitmap; past that the degree-ordered
# generic kernel takes over. 2^18 bits covers the modulus-bounded event
# graph (ids < 997 by construction) with 3 orders of magnitude of slack.
TRIANGLE_BITSET_MAX_ID = 1 << 18


def triangle_counts(und: DataFrame) -> DataFrame:
    """Triangle participation per node over a canonical undirected edge
    set (columns x < y, deduplicated). Returns (node, n_triangles).
    Shared by q_graph_triangles and the brute-force property tests
    (tests/test_graph_kernels.py).

    Adaptive kernel choice, derived from the INPUT (one max() aggregate),
    not from a size constant: when the node-id universe is compact
    (max id < TRIANGLE_BITSET_MAX_ID — true by construction for the
    modulus-synthesized event graph, whose ids are < 997 at ANY events
    size incl. 100 TB), per-node adjacency fits a dense ≤32 KiB bitmap
    and the per-edge common-neighbor count is a handful of AND+popcount
    words — ~50 machine ops per edge versus ~2·avg-degree hash probes,
    and no per-triangle row is ever materialized (82M triangles at sf1
    stay inside a SUM). Otherwise the degree-ordered wedge kernel below
    (O(√m) out-degree cap, join-based) handles arbitrary id spaces."""
    und = _cut(und)
    mx = und.agg(F.max(F.greatest("x", "y")).alias("m")).collect()[0]["m"]
    if mx is not None and mx < TRIANGLE_BITSET_MAX_ID:
        return _triangle_counts_bitset(und, int(mx))
    return _triangle_counts_ordered(und)


def _triangle_counts_bitset(und: DataFrame, max_id: int) -> DataFrame:
    """Dense-bitset edge-iterator: participation(n) = ½ Σ_{m∈N(n)}
    |N(n) ∩ N(m)| — every triangle contributes exactly 2 to each of its
    corners across that sum (once per incident edge), so per-node counts
    need only the per-EDGE intersection size, never the triangle list.
    Adjacency bitmaps are built with two partial-agg groupBys (bit_or per
    64-bit word, then word map → fixed array); the per-edge count is
    zip_with + bit_count + sum — all codegen builtins, no explode of
    per-triangle rows, shuffles bounded by m + n rows."""
    W = max_id // 64 + 1
    both = und.select(F.col("x").alias("node"), F.col("y").alias("nbr")).union(
        und.select(F.col("y").alias("node"), F.col("x").alias("nbr"))
    )
    words = both.groupBy(
        "node", F.expr("nbr div 64").alias("w")
    ).agg(F.expr("bit_or(shiftleft(1L, cast(nbr % 64 as int)))").alias("m"))
    adj = (
        words.groupBy("node")
        .agg(F.map_from_entries(F.collect_list(F.struct("w", "m"))).alias("wm"))
        .select(
            "node",
            F.expr(
                f"transform(sequence(0L, {W - 1}L), i -> coalesce(wm[i], 0L))"
            ).alias("bits"),
        )
    )
    e = (
        und.join(
            adj.select(F.col("node").alias("x"), F.col("bits").alias("bx")), "x"
        )
        .join(
            adj.select(F.col("node").alias("y"), F.col("bits").alias("by")), "y"
        )
        .select(
            "x",
            "y",
            F.expr(
                "aggregate(zip_with(bx, by, (p, q) -> bit_count(p & q)),"
                " 0L, (acc, v) -> acc + v)"
            ).alias("c"),
        )
        .where(F.col("c") > 0)
    )
    contrib = e.select(
        F.explode(
            F.array(
                F.struct(F.col("x").alias("node"), F.col("c").alias("c")),
                F.struct(F.col("y").alias("node"), F.col("c").alias("c")),
            )
        ).alias("t")
    ).select(F.col("t.node").alias("node"), F.col("t.c").alias("c"))
    return contrib.groupBy("node").agg(
        F.expr("sum(c) div 2").cast("bigint").alias("n_triangles")
    )


def _triangle_counts_ordered(und: DataFrame) -> DataFrame:
    """Degree-ordered kernel for arbitrary (sparse, huge-id) graphs."""
    deg = (
        und.select(F.col("x").alias("node"))
        .union(und.select(F.col("y").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    dx = deg.withColumnsRenamed({"node": "x", "deg": "degx"})
    dy = deg.withColumnsRenamed({"node": "y", "deg": "degy"})
    ed = und.join(dx, "x").join(dy, "y")
    lower_first = (F.col("degx") < F.col("degy")) | (
        (F.col("degx") == F.col("degy")) & (F.col("x") < F.col("y"))
    )
    # cut: oriented is consumed three times (e1, e2, closer)
    oriented = _cut(
        ed.select(
            F.when(lower_first, F.col("x")).otherwise(F.col("y")).alias("u"),
            F.when(lower_first, F.col("y")).otherwise(F.col("x")).alias("v"),
        )
    )
    # Edge-iterator closure with adjacency lists (the join-free form of
    # the same degree-ordered kernel): (deg, id) orientation is a TOTAL
    # order, so every triangle u < v < w appears exactly once as the edge
    # (u, v) plus a common out-neighbor w ∈ N⁺(u) ∩ N⁺(v). Materializing
    # the wedge set as a join (e1 ⋈ e2 on the middle vertex, then a
    # closing join) shuffles O(Σ indeg·outdeg) wedge ROWS — ~200M at the
    # bench's dense 1.2k-node graph — where the adjacency form does the
    # identical O(m·√m) membership work INSIDE each edge row via
    # array_intersect (JVM codegen, no wedge materialization): the only
    # shuffles left are the two edge⋈adjacency equi-joins, each bounded
    # by m + n rows. Adjacency rows are bounded by the orientation's
    # O(√m) out-degree cap, so collect_list never builds a hub-sized
    # array (~10⁵ ints/row at 100 TB — a bounded row, not a hot key).
    adj = oriented.groupBy("u").agg(F.collect_list("v").alias("nbrs"))
    closed = (
        oriented.join(adj.withColumnRenamed("nbrs", "nu"), "u")
        .join(
            adj.select(F.col("u").alias("v"), F.col("nbrs").alias("nv")), "v"
        )
        .select("u", "v", F.array_intersect("nu", "nv").alias("ws"))
        .where(F.size("ws") > 0)
    )
    # per-node participation in one pass, no triangle-row materialization:
    # the edge endpoints u, v each gain |ws| triangles; every top vertex
    # w ∈ ws gains one. Both streams partial-aggregate to node grain
    # inside the closure stage before any exchange.
    corners = closed.select(
        F.explode(
            F.concat(
                F.array(
                    F.struct(F.col("u").alias("node"), F.size("ws").alias("c")),
                    F.struct(F.col("v").alias("node"), F.size("ws").alias("c")),
                ),
                F.transform(
                    "ws", lambda w: F.struct(w.alias("node"), F.lit(1).alias("c"))
                ),
            )
        ).alias("t")
    )
    return (
        corners.groupBy(F.col("t.node").alias("node"))
        .agg(F.sum("t.c").cast("bigint").alias("n_triangles"))
    )


SQL_GRAPH_TRIANGLES = """
WITH raw AS (
  SELECT event_id % 997 AS a, (event_id * 7 + 13) % 499 AS b
  FROM events WHERE event_id % 997 <> (event_id * 7 + 13) % 499),
und AS (SELECT DISTINCT LEAST(a, b) AS x, GREATEST(a, b) AS y FROM raw),
deg AS (SELECT node, COUNT(*) AS deg FROM (
          SELECT x AS node FROM und UNION ALL SELECT y FROM und)
        GROUP BY node),
oriented AS (
  SELECT CASE WHEN (dx.deg, u.x) < (dy.deg, u.y) THEN u.x ELSE u.y END AS u,
         CASE WHEN (dx.deg, u.x) < (dy.deg, u.y) THEN u.y ELSE u.x END AS v
  FROM und u JOIN deg dx ON dx.node = u.x JOIN deg dy ON dy.node = u.y),
closer AS (SELECT LEAST(u, v) AS p, GREATEST(u, v) AS q FROM oriented),
tri AS (
  SELECT e1.u, e1.v, e2.v AS w
  FROM oriented e1
  JOIN oriented e2 ON e2.u = e1.v
  JOIN closer c ON c.p = LEAST(e1.u, e2.v) AND c.q = GREATEST(e1.u, e2.v)
  WHERE e1.u <> e2.v)
SELECT node, COUNT(*) AS n_triangles FROM (
  SELECT u AS node FROM tri
  UNION ALL SELECT v FROM tri
  UNION ALL SELECT w FROM tri)
GROUP BY node
"""


def q_basket_pairs(spark, sf):
    """Market-basket pair mining (the frequent-itemset support-count
    kernel): parts co-ordered in the same order, support >= 2. The
    self-join is CO-PARTITIONED on l_orderkey — one shuffle per side,
    pairs materialize inside the partition, and the quadratic fan-out is
    bounded by the basket size (TPC-H caps at 7 lineitems/order; a web
    corpus would cap baskets explicitly the way SHINGLE_DF_CAP does in
    the dedup suite). The a<b predicate halves the pairs and canonicals
    the key so support counts need no post-merge."""
    li = _t(spark, sf, "lineitem").select("l_orderkey", "l_partkey").distinct()
    a = li.withColumnRenamed("l_partkey", "part_a")
    b = li.withColumnRenamed("l_partkey", "part_b")
    pairs = a.join(b, "l_orderkey").where(F.col("part_a") < F.col("part_b"))
    return (
        pairs.groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("support"))
        .where(F.col("support") >= 2)
    )


SQL_BASKET_PAIRS = """
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS support
FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                   AND a.l_partkey < b.l_partkey
GROUP BY a.l_partkey, b.l_partkey
HAVING COUNT(*) >= 2
"""


def q_host_connectivity(spark, sf):
    """Host-level web-graph profiling: per-host out/in degree and the
    cross-host link share in integer millionths — the structural signal
    crawl scheduling reads (a host whose outlinks are overwhelmingly
    internal is a silo; a high cross-host in-share marks a hub worth
    prioritizing, which is what the PageRank→priority loop then
    formalizes). Node → host via modulo (20 hosts over the 997-node
    synthesized graph); one partial-agg groupBy per direction joined on
    the 20-row host key."""
    e = _t(spark, sf, "events")
    edges = e.select(
        F.pmod("event_id", F.lit(997)).alias("src"),
        F.pmod(F.col("event_id") * 7 + 13, F.lit(997)).alias("dst"),
    ).distinct()
    hosted = edges.select(
        F.pmod("src", F.lit(20)).alias("src_host"),
        F.pmod("dst", F.lit(20)).alias("dst_host"),
    )
    out = hosted.groupBy(F.col("src_host").alias("host")).agg(
        F.count(F.lit(1)).alias("out_edges"),
        F.count_if(F.col("src_host") != F.col("dst_host")).alias("out_cross"),
    )
    inn = hosted.groupBy(F.col("dst_host").alias("host")).agg(
        F.count(F.lit(1)).alias("in_edges"),
        F.count_if(F.col("src_host") != F.col("dst_host")).alias("in_cross"),
    )
    return out.join(inn, "host", "full").select(
        "host",
        F.coalesce("out_edges", F.lit(0)).alias("out_edges"),
        F.coalesce("in_edges", F.lit(0)).alias("in_edges"),
        F.expr(
            "(coalesce(out_cross, 0L) * 1000000)"
            " div greatest(coalesce(out_edges, 0L), 1L)"
        ).cast("bigint").alias("out_cross_x1e6"),
        F.expr(
            "(coalesce(in_cross, 0L) * 1000000)"
            " div greatest(coalesce(in_edges, 0L), 1L)"
        ).cast("bigint").alias("in_cross_x1e6"),
    )


SQL_HOST_CONNECTIVITY = """
WITH edges AS (
  SELECT DISTINCT event_id % 997 AS src, (event_id * 7 + 13) % 997 AS dst
  FROM events),
h AS (SELECT src % 20 AS src_host, dst % 20 AS dst_host FROM edges),
o AS (SELECT src_host AS host, COUNT(*) AS out_edges,
             COUNT(*) FILTER (src_host <> dst_host) AS out_cross
      FROM h GROUP BY 1),
i AS (SELECT dst_host AS host, COUNT(*) AS in_edges,
             COUNT(*) FILTER (src_host <> dst_host) AS in_cross
      FROM h GROUP BY 1)
SELECT COALESCE(o.host, i.host) AS host,
       COALESCE(o.out_edges, 0) AS out_edges,
       COALESCE(i.in_edges, 0) AS in_edges,
       CAST((COALESCE(o.out_cross, 0) * 1000000)
            // GREATEST(COALESCE(o.out_edges, 0), 1) AS BIGINT)
         AS out_cross_x1e6,
       CAST((COALESCE(i.in_cross, 0) * 1000000)
            // GREATEST(COALESCE(i.in_edges, 0), 1) AS BIGINT)
         AS in_cross_x1e6
FROM o FULL JOIN i ON o.host = i.host
"""


def q_events_markov(spark, sf):
    """Per-user event-type transition matrix (the first-order Markov
    chain under every funnel/session analysis): lag each user's event
    stream, count (from_type, to_type) transitions, and emit the row-
    normalized transition probability in exact integer millionths
    (count * 10^6 div from_total). Plan: one keyed window (partition by
    user, bounded history), one partial-agg groupBy on the tiny
    (from, to) key space, and the row totals join back on the
    ~|event_types| build side."""
    ev = _t(spark, sf, "events").select("user_id", "event_id", "event_type",
                                        F.unix_timestamp("ts").alias("sec"))
    w = Window.partitionBy("user_id").orderBy("sec", "event_id")
    trans = (
        ev.withColumn("from_type", F.lag("event_type").over(w))
        .filter(F.col("from_type").isNotNull())
        .groupBy("from_type", F.col("event_type").alias("to_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    totals = trans.groupBy("from_type").agg(F.sum("n").alias("n_from"))
    return trans.join(totals, "from_type").select(
        "from_type",
        "to_type",
        "n",
        F.expr("(n * 1000000) div n_from").cast("bigint").alias("prob_x1e6"),
    )


SQL_EVENTS_MARKOV = """
WITH s AS (
  SELECT user_id, event_type,
         LAG(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS from_type
  FROM events),
t AS (
  SELECT from_type, event_type AS to_type, COUNT(*) AS n
  FROM s WHERE from_type IS NOT NULL GROUP BY 1, 2),
tot AS (SELECT from_type, SUM(n) AS n_from FROM t GROUP BY 1)
SELECT t.from_type, t.to_type, t.n,
       CAST((t.n * 1000000) // tot.n_from AS BIGINT) AS prob_x1e6
FROM t JOIN tot USING (from_type)
"""


def q_graph_reachability(spark, sf):
    """Seed-set k-hop reachability with first-discovery hop labels — the
    crawl frontier's BFS semantics as an analytics query (hop = the wave
    a URL would first be discovered in; the depth trap guard's `depth` is
    exactly this number). 3 unrolled hops from the trusted seed set
    (node % 50 == 0) over the synthesized link graph; each hop is one
    semi-join + anti-join against the accumulated reach set, the
    distributed BFS step (at 10^10 nodes the anti-join side is the
    Bloom seen set, operators/seen.py — same shape). Output:
    per-hop node counts plus a sum-of-node-ids checksum so the driver
    hash pins membership, not just cardinality."""
    e = _t(spark, sf, "events")
    edges = e.select(
        F.pmod("event_id", F.lit(997)).alias("src"),
        F.pmod(F.col("event_id") * 7 + 13, F.lit(997)).alias("dst"),
    ).distinct()
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    frontier = nodes.filter(F.pmod("node", F.lit(50)) == 0).withColumn(
        "hop", F.lit(0)
    )
    reach = frontier
    for h in (1, 2, 3):
        nxt = (
            edges.join(
                frontier.select(F.col("node").alias("src")), "src", "semi"
            )
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(reach.select("node"), "node", "anti")
            .withColumn("hop", F.lit(h))
        )
        reach = reach.unionByName(nxt)
        frontier = nxt
    return reach.groupBy("hop").agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum("node").alias("node_id_sum"),
    )


SQL_GRAPH_REACHABILITY = """
WITH edges AS (
  SELECT DISTINCT event_id % 997 AS src, (event_id * 7 + 13) % 997 AS dst
  FROM events),
nodes AS (SELECT DISTINCT src AS node FROM edges
          UNION SELECT DISTINCT dst FROM edges),
h0 AS (SELECT node, 0 AS hop FROM nodes WHERE node % 50 = 0),
h1 AS (
  SELECT DISTINCT e.dst AS node, 1 AS hop FROM edges e
  WHERE e.src IN (SELECT node FROM h0)
    AND e.dst NOT IN (SELECT node FROM h0)),
h2 AS (
  SELECT DISTINCT e.dst AS node, 2 AS hop FROM edges e
  WHERE e.src IN (SELECT node FROM h1)
    AND e.dst NOT IN (SELECT node FROM h0 UNION ALL SELECT node FROM h1)),
h3 AS (
  SELECT DISTINCT e.dst AS node, 3 AS hop FROM edges e
  WHERE e.src IN (SELECT node FROM h2)
    AND e.dst NOT IN (SELECT node FROM h0 UNION ALL SELECT node FROM h1
                      UNION ALL SELECT node FROM h2)),
r AS (SELECT * FROM h0 UNION ALL SELECT * FROM h1
      UNION ALL SELECT * FROM h2 UNION ALL SELECT * FROM h3)
SELECT hop, COUNT(*) AS n_nodes, CAST(SUM(node) AS BIGINT) AS node_id_sum
FROM r GROUP BY 1
"""


URL_NEAR_EDIT_MAX = 2


def q_url_near_dedup(spark, sf):
    """Near-duplicate URL mining: same-host URL pairs whose paths are
    within edit distance 2 — the session-id / trailing-counter / typo
    variants that exact normalization can't collapse (B1-B3 handles
    declared ignore-params; this catches the undeclared ones). The pair
    space is blocked by (host, TEMPLATE): only URLs sharing a
    digit-collapsed template pair up — exactly the same-shape variants
    edit distance is meant for — so the quadratic join is bounded per
    template group instead of per host (the cal trap's ~100 urls/host
    pair within one group; the item templates stay tiny). levenshtein is
    native in both engines with identical semantics. Output: per (host,
    template), distinct urls, candidate pairs, near pairs."""
    e = _t(spark, sf, "events")
    urls = e.select(
        F.concat(
            F.lit("host"),
            F.pmod("user_id", F.lit(20)).cast("string"),
            F.lit(".example"),
        ).alias("host"),
        F.when(
            F.col("event_type") == "view",
            F.concat(
                F.lit("/cal/"),
                (F.lit(2000) + F.pmod("event_id", F.lit(26))).cast("string"),
                F.lit("/"),
                (F.lit(1) + F.pmod("event_id", F.lit(12))).cast("string"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("/"),
                F.col("event_type"),
                F.lit("/item-"),
                F.pmod("event_id", F.lit(37)).cast("string"),
            )
        )
        .alias("path"),
    ).distinct()
    tpl = urls.withColumn(
        "template", F.regexp_replace("path", "[0-9]+", "#")
    )
    a, b = tpl.alias("a"), tpl.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.host") == F.col("b.host"))
            & (F.col("a.template") == F.col("b.template"))
            & (F.col("a.path") < F.col("b.path")),
        )
        .select(
            F.col("a.host").alias("host"),
            F.col("a.template").alias("template"),
            F.levenshtein(F.col("a.path"), F.col("b.path")).alias("ed"),
        )
    )
    return pairs.groupBy("host", "template").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.count_if(F.col("ed") <= URL_NEAR_EDIT_MAX).alias("n_near"),
    )


SQL_URL_NEAR_DEDUP = f"""
WITH u AS (
  SELECT DISTINCT
         'host' || CAST(user_id % 20 AS VARCHAR) || '.example' AS host,
         CASE WHEN event_type = 'view'
              THEN '/cal/' || CAST(2000 + event_id % 26 AS VARCHAR)
                   || '/' || CAST(1 + event_id % 12 AS VARCHAR)
              ELSE '/' || event_type || '/item-'
                   || CAST(event_id % 37 AS VARCHAR)
         END AS path
  FROM events),
t AS (SELECT host, path,
             regexp_replace(path, '[0-9]+', '#', 'g') AS template
      FROM u),
p AS (
  SELECT a.host, a.template, levenshtein(a.path, b.path) AS ed
  FROM t a JOIN t b
    ON a.host = b.host AND a.template = b.template AND a.path < b.path)
SELECT host, template, COUNT(*) AS n_pairs,
       CAST(COUNT(*) FILTER (ed <= {URL_NEAR_EDIT_MAX}) AS BIGINT) AS n_near
FROM p GROUP BY 1, 2
"""


def q_events_mad_outliers(spark, sf):
    """Robust per-user anomaly detection: median absolute deviation
    instead of mean/stddev (q_events_zscore_outliers' z-test breaks when
    the outliers themselves inflate the stddev — MAD has a 50 % breakdown
    point where the z-test has 0 %). Engine equality without integer
    tricks: the medians are DISC selections (row_number picks the
    lower-median ELEMENT — an existing double, bit-identical in both
    engines — never an interpolated average), deviations and the 3×MAD
    comparison operate on those identical doubles, and the only emitted
    floats are floored into integer ×10⁴ columns. Windows partition by
    user_id — bounded per-user event counts, not a hot analytic key.
    Output: per user, n_events, n_outliers, med_x1e4, mad_x1e4."""
    ev = _t(spark, sf, "events").select("user_id", "event_id", "value")
    w = Window.partitionBy("user_id").orderBy("value", "event_id")
    wc = Window.partitionBy("user_id")
    med = (
        ev.withColumn("_rn", F.row_number().over(w))
        .withColumn("_n", F.count(F.lit(1)).over(wc))
        .filter(F.col("_rn") == F.expr("(_n + 1) div 2"))
        .select("user_id", F.col("value").alias("med"))
    )
    dev = ev.join(med, "user_id").withColumn(
        "_dev", F.abs(F.col("value") - F.col("med"))
    )
    wd = Window.partitionBy("user_id").orderBy("_dev", "event_id")
    mad = (
        dev.withColumn("_rn", F.row_number().over(wd))
        .withColumn("_n", F.count(F.lit(1)).over(wc))
        .filter(F.col("_rn") == F.expr("(_n + 1) div 2"))
        .select("user_id", F.col("_dev").alias("mad"))
    )
    return (
        dev.join(mad, "user_id")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count_if(F.col("_dev") > 3 * F.col("mad")).alias("n_outliers"),
            F.floor(F.first("med") * 10000).cast("bigint").alias("med_x1e4"),
            F.floor(F.first("mad") * 10000).cast("bigint").alias("mad_x1e4"),
        )
    )


SQL_EVENTS_MAD = """
WITH ev AS (SELECT user_id, event_id, value FROM events),
med AS (
  SELECT user_id, value AS med FROM (
    SELECT user_id, value,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY value, event_id) AS rn,
           COUNT(*) OVER (PARTITION BY user_id) AS n
    FROM ev)
  WHERE rn = (n + 1) // 2),
dev AS (
  SELECT ev.user_id, ev.event_id, ABS(ev.value - med.med) AS d, med.med
  FROM ev JOIN med USING (user_id)),
mad AS (
  SELECT user_id, d AS mad FROM (
    SELECT user_id, d,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY d, event_id) AS rn,
           COUNT(*) OVER (PARTITION BY user_id) AS n
    FROM dev)
  WHERE rn = (n + 1) // 2)
SELECT dev.user_id, COUNT(*) AS n_events,
       CAST(COUNT(*) FILTER (dev.d > 3 * mad.mad) AS BIGINT) AS n_outliers,
       CAST(FLOOR(ANY_VALUE(dev.med) * 10000) AS BIGINT) AS med_x1e4,
       CAST(FLOOR(ANY_VALUE(mad.mad) * 10000) AS BIGINT) AS mad_x1e4
FROM dev JOIN mad USING (user_id)
GROUP BY 1
"""


def q_basket_lift(spark, sf):
    """Association-rule metrics over the basket pairs: lift and directed
    confidence, both in EXACT integer millionths — lift_x1e6 =
    (s_ab * n_orders * 10^6) div (s_a * s_b) and conf_a_to_b_x1e6 =
    (s_ab * 10^6) div s_a, so no float ratio ever crosses the driver
    hash. Lift > 1e6 means the pair co-occurs more than independence
    predicts — the signal support counts alone can't give (a pair of two
    universally-popular parts has huge support and lift ≈ 1). Plan: the
    co-partitioned pair join from q_basket_pairs, one partial-agg per-item
    support rollup joined back (item-support side is item-cardinality —
    AQE broadcasts it at dim size), and a 1-row order-count scalar."""
    li = _t(spark, sf, "lineitem").select("l_orderkey", "l_partkey").distinct()
    n_orders = li.select("l_orderkey").distinct().agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    item = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("s_item"))
    a = li.withColumnRenamed("l_partkey", "part_a")
    b = li.withColumnRenamed("l_partkey", "part_b")
    pairs = (
        a.join(b, "l_orderkey")
        .where(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("s_ab"))
        .where(F.col("s_ab") >= 2)
    )
    return (
        pairs.join(
            item.select(
                F.col("l_partkey").alias("part_a"), F.col("s_item").alias("s_a")
            ),
            "part_a",
        )
        .join(
            item.select(
                F.col("l_partkey").alias("part_b"), F.col("s_item").alias("s_b")
            ),
            "part_b",
        )
        .join(F.broadcast(n_orders))
        .select(
            "part_a",
            "part_b",
            "s_ab",
            "s_a",
            "s_b",
            F.expr("(s_ab * n_orders * 1000000) div (s_a * s_b)")
            .cast("bigint")
            .alias("lift_x1e6"),
            F.expr("(s_ab * 1000000) div s_a").cast("bigint").alias(
                "conf_a_to_b_x1e6"
            ),
        )
    )


SQL_BASKET_LIFT = """
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM li),
item AS (SELECT l_partkey, COUNT(*) AS s_item FROM li GROUP BY 1),
pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS s_ab
  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= 2)
SELECT p.part_a, p.part_b, p.s_ab,
       ia.s_item AS s_a, ib.s_item AS s_b,
       CAST((p.s_ab * n.n_orders * 1000000) // (ia.s_item * ib.s_item)
            AS BIGINT) AS lift_x1e6,
       CAST((p.s_ab * 1000000) // ia.s_item AS BIGINT) AS conf_a_to_b_x1e6
FROM pairs p
JOIN item ia ON ia.l_partkey = p.part_a
JOIN item ib ON ib.l_partkey = p.part_b
CROSS JOIN n
"""


def q_events_zscore_outliers(spark, sf):
    """Per-user anomaly detection: count events whose value is more than
    2 population-stddevs from the user's mean — with the z-test done in
    EXACT INTEGER arithmetic so both engines agree bit-for-bit (float
    mean/stddev would hash-differ on summation order). The identity:
    z^2 > 4  <=>  (n*v - s)^2 > 4*(n*q - s^2), where s=sum(v), q=sum(v^2)
    over the user's scaled-integer values — no division, no floats.
    Plan: ONE shuffle total — window aggregates over user_id (no orderBy
    → single pass, no sort), then the per-user rollup reuses the same
    hash partitioning (zero extra exchanges)."""
    e = _t(spark, sf, "events").select(
        "user_id", _x100(F.col("value")).alias("v")
    )
    w = Window.partitionBy("user_id")
    st = e.select(
        "user_id",
        "v",
        F.sum("v").over(w).alias("s"),
        F.sum(F.col("v") * F.col("v")).over(w).alias("q"),
        F.count(F.lit(1)).over(w).alias("n"),
    )
    lhs = (F.col("n") * F.col("v") - F.col("s")) * (
        F.col("n") * F.col("v") - F.col("s")
    )
    rhs = 4 * (F.col("n") * F.col("q") - F.col("s") * F.col("s"))
    return st.groupBy("user_id").agg(
        F.max("n").alias("n_events"),
        F.sum((lhs > rhs).cast("bigint")).alias("n_outliers"),
    )


SQL_ZSCORE_OUTLIERS = """
WITH sc AS (
  SELECT user_id, CAST(ROUND(value * 100) AS BIGINT) AS v FROM events),
st AS (
  SELECT user_id, v,
         SUM(v)     OVER (PARTITION BY user_id) AS s,
         SUM(v * v) OVER (PARTITION BY user_id) AS q,
         COUNT(*)   OVER (PARTITION BY user_id) AS n
  FROM sc)
SELECT user_id, CAST(MAX(n) AS BIGINT) AS n_events,
       CAST(SUM(CASE WHEN (n*v - s)*(n*v - s) > 4*(n*q - s*s)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM st GROUP BY user_id
"""


def q_volume_shipping(spark, sf):
    """TPC-H Q7 shape: bilateral nation-pair trade volume by year. Two
    nation dims joined under different roles (supplier vs customer) —
    both broadcast; one wide fact shuffle on the grouped keys."""
    l = _t(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
    )
    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer")
    s = _t(spark, sf, "supplier")
    n1 = _t(spark, sf, "nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    n2 = _t(spark, sf, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("sn_key"))
        .filter(F.col("supp_nation") < F.col("cust_nation"))
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(
            F.sum(
                F.round(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
                ).cast("bigint")
            ).alias("volume_x10000"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


SQL_VOLUME_SHIPPING = """
SELECT supp_nation, cust_nation, l_year,
       CAST(SUM(v) AS BIGINT) AS volume_x10000, COUNT(*) AS n_items
FROM (
  SELECT n2.n_name AS supp_nation, n1.n_name AS cust_nation,
         CAST(EXTRACT(year FROM l_shipdate) AS INT) AS l_year,
         CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT) AS v
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    AND n2.n_name < n1.n_name) t
GROUP BY supp_nation, cust_nation, l_year
"""


def q_promo_effect(spark, sf):
    """TPC-H Q14 shape, all-integer: monthly share of promo-part revenue
    as permille ((promo * 1000) div total — no float division, bit-exact
    both engines). Fact-side join broadcasts the part dim."""
    l = _t(spark, sf, "lineitem")
    p = _t(spark, sf, "part").select("p_partkey", "p_type")
    rev = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
    ).cast("bigint")
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .groupBy(
            F.year("l_shipdate").alias("l_year"),
            F.month("l_shipdate").alias("l_month"),
        )
        .agg(
            F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0)).alias(
                "promo_rev_x10000"
            ),
            F.sum(rev).alias("total_rev_x10000"),
        )
        .withColumn(
            "promo_permille",
            F.expr("(promo_rev_x10000 * 1000) div total_rev_x10000"),
        )
    )


SQL_PROMO_EFFECT = """
SELECT l_year, l_month,
       CAST(SUM(CASE WHEN p_type = 'PROMO' THEN v ELSE 0 END) AS BIGINT)
         AS promo_rev_x10000,
       CAST(SUM(v) AS BIGINT) AS total_rev_x10000,
       CAST(CAST(SUM(CASE WHEN p_type = 'PROMO' THEN v ELSE 0 END) AS BIGINT)
            * 1000 AS BIGINT)
         // CAST(SUM(v) AS BIGINT) AS promo_permille
FROM (
  SELECT p_type,
         CAST(EXTRACT(year FROM l_shipdate) AS INT) AS l_year,
         CAST(EXTRACT(month FROM l_shipdate) AS INT) AS l_month,
         CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT) AS v
  FROM lineitem JOIN part ON l_partkey = p_partkey) t
GROUP BY l_year, l_month
"""


def q_top_supplier(spark, sf):
    """TPC-H Q15 shape: suppliers achieving the maximum period revenue —
    the max is a one-row broadcast join (no window over the whole agg, no
    collect), so ties survive and the plan scales."""
    l = _t(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1996-04-01"))
    )
    s = _t(spark, sf, "supplier")
    rev = (
        l.groupBy("l_suppkey")
        .agg(
            F.sum(
                F.round(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
                ).cast("bigint")
            ).alias("total_rev_x10000")
        )
    )
    mx = rev.agg(F.max("total_rev_x10000").alias("mx"))
    return (
        rev.join(F.broadcast(mx), rev.total_rev_x10000 == mx.mx)
        .join(F.broadcast(s), rev.l_suppkey == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_rev_x10000")
    )


SQL_TOP_SUPPLIER = """
WITH rev AS (
  SELECT l_suppkey,
         CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT))
              AS BIGINT) AS total_rev_x10000
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY l_suppkey)
SELECT s_suppkey, s_name, total_rev_x10000
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE total_rev_x10000 = (SELECT MAX(total_rev_x10000) FROM rev)
"""


def q_profit_by_nation(spark, sf):
    """TPC-H Q9 shape: product-line profit by supplier nation and year.
    The testdata has no partsupp table, so supply cost is proxied as
    p_retailprice * l_quantity / 10 — same join/agg topology as Q9
    (LIKE-filtered part dim, fact joined to part+supplier+nation,
    revenue minus cost grouped by nation/year). Each money term is
    rounded to a scaled integer separately so BIGINT sums are exact in
    both engines. Part/supplier/nation all broadcast; one fact shuffle
    on the grouped keys."""
    l = _t(spark, sf, "lineitem")
    p = _t(spark, sf, "part").filter(F.col("p_name").contains("red")).select(
        "p_partkey", "p_retailprice"
    )
    s = _t(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf, "nation").select("n_nationkey", "n_name")
    rev = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
    ).cast("bigint")
    cost = F.round(F.col("p_retailprice") * F.col("l_quantity") * 1000).cast(
        "bigint"
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"), F.year("l_shipdate").alias("o_year"))
        .agg(
            F.sum(rev - cost).alias("profit_x10000"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


SQL_PROFIT_BY_NATION = """
SELECT nation, o_year,
       CAST(SUM(rev - cost) AS BIGINT) AS profit_x10000,
       COUNT(*) AS n_items
FROM (
  SELECT n_name AS nation,
         CAST(EXTRACT(year FROM l_shipdate) AS INT) AS o_year,
         CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT) AS rev,
         CAST(ROUND(p_retailprice * l_quantity * 1000) AS BIGINT) AS cost
  FROM lineitem
  JOIN part     ON l_partkey = p_partkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation   ON s_nationkey = n_nationkey
  WHERE p_name LIKE '%red%') t
GROUP BY nation, o_year
"""


def q_big_orders(spark, sf):
    """TPC-H Q18 shape: large-volume orders — aggregate the fact table to
    order grain, HAVING-filter on the summed quantity, then join the
    survivors back to orders and the broadcast customer dim. The having
    filter runs on the post-agg (tiny) side, so the second join's left
    input is already reduced ~100x before it shuffles."""
    l = _t(spark, sf, "lineitem")
    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer").select("c_custkey", "c_name")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum(_x100(F.col("l_quantity"))).alias("sum_qty_x100"))
        .filter(F.col("sum_qty_x100") > 25000)
    )
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select(
            "o_orderkey",
            "c_name",
            _x100(F.col("o_totalprice")).alias("o_totalprice_x100"),
            "sum_qty_x100",
        )
    )


SQL_BIG_ORDERS = """
WITH big AS (
  SELECT l_orderkey,
         CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS BIGINT)
           AS sum_qty_x100
  FROM lineitem GROUP BY l_orderkey
  HAVING SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) > 25000)
SELECT o_orderkey, c_name,
       CAST(ROUND(o_totalprice * 100) AS BIGINT) AS o_totalprice_x100,
       sum_qty_x100
FROM big
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
"""


def q_discount_revenue(spark, sf):
    """TPC-H Q19 shape: disjunction-of-conjunctions over fact x dim.
    The part predicates can't prune the fact scan, but the quantity
    bounds push down to parquet (l_quantity <= 40 covers both arms) and
    part broadcasts; the OR evaluates post-join inside codegen. One-row
    global aggregate (exact scaled-integer revenue)."""
    l = _t(spark, sf, "lineitem")
    p = _t(spark, sf, "part").select("p_partkey", "p_brand", "p_size")
    arm1 = (
        (F.col("p_brand") == "Brand#2")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(1, 20)
    )
    arm2 = (
        (F.col("p_brand") == "Brand#17")
        & F.col("p_size").between(10, 30)
        & F.col("l_quantity").between(10, 40)
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .filter(arm1 | arm2)
        .agg(
            F.sum(
                F.round(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
                ).cast("bigint")
            ).alias("revenue_x10000"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


SQL_DISCOUNT_REVENUE = """
SELECT CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT))
            AS BIGINT) AS revenue_x10000,
       COUNT(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#2'  AND p_size BETWEEN 1  AND 15
       AND l_quantity BETWEEN 1  AND 20)
   OR (p_brand = 'Brand#17' AND p_size BETWEEN 10 AND 30
       AND l_quantity BETWEEN 10 AND 40)
"""


def q_events_asof_join(spark, sf):
    """As-of join — each purchase matched to the SAME USER's most recent
    click at-or-before it (the operator Spark lacks natively; the
    reference domain analogue is attaching request context to the latest
    preceding state change). Implemented as the canonical distributed
    as-of: union both sides tagged, ONE window per user ordered by
    (ts, tag) carrying the last non-null click forward — a single
    shuffle on user_id, no range-explosion join, no driver work. At
    100 TB the same plan holds: the partition key is the equality key
    (user), per-key data is a user's own history (bounded), so the
    window never concentrates the corpus. Clicks sort before purchases
    on equal timestamps (tag 0 < 1), matching DuckDB ASOF's inclusive
    `>=`; event_id is the final sort key so two same-user clicks with
    EQUAL timestamps carry a deterministic click_id (the highest
    event_id) across runs — DuckDB ASOF's tie choice is arbitrary, but
    the testdata has no equal-ts ties (verified at sf0.001-0.1), so
    both engines pick identical rows. Outputs epoch-second BIGINTs
    (the same unix_timestamp <-> FLOOR(epoch()) pairing the other event
    queries hash-match on) — no timestamp-type hashing differences."""
    from pyspark.sql import Window

    ev = _t(spark, sf, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    tagged = ev.select(
        "user_id",
        "ts",
        F.when(F.col("event_type") == "click", 0).otherwise(1).alias("tag"),
        F.when(F.col("event_type") == "click", F.col("event_id")).alias(
            "_click_id"
        ),
        F.when(F.col("event_type") == "click", F.unix_timestamp("ts")).alias(
            "_click_s"
        ),
        "event_id",
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "tag", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = tagged.withColumn(
        "click_id", F.last("_click_id", ignorenulls=True).over(w)
    ).withColumn("click_s", F.last("_click_s", ignorenulls=True).over(w))
    return (
        carried.filter((F.col("tag") == 1) & F.col("click_id").isNotNull())
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.unix_timestamp("ts").alias("purchase_epoch"),
            "click_id",
            (F.unix_timestamp("ts") - F.col("click_s")).alias("gap_s"),
        )
    )


SQL_EVENTS_ASOF = """
SELECT p.event_id AS purchase_id, p.user_id,
       CAST(FLOOR(epoch(p.ts)) AS BIGINT) AS purchase_epoch,
       c.event_id AS click_id,
       CAST(FLOOR(epoch(p.ts)) AS BIGINT) - CAST(FLOOR(epoch(c.ts)) AS BIGINT)
         AS gap_s
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id AND p.ts >= c.ts
"""


RANGE_W = 3600  # range-join window: [purchase - 1h, purchase)


def q_events_range_join(spark, sf):
    """Range join — per purchase, the count/value of the SAME USER's
    clicks in the hour before it. Spark has no native range join, and
    the naive theta-join (t BETWEEN x AND y) degenerates to
    per-user-cartesian + filter. The scale form used here is the
    canonical BUCKETED range join: clicks land in (user, hour-bucket)
    cells once; each purchase probes exactly its own bucket and the
    previous one (window width == bucket width, so 2 probes cover the
    range), then the exact [pts-3600, pts) filter prunes. The join is a
    plain equi-join on (user_id, bucket) — shuffle-partitionable, AQE-
    skew-splittable, no inequality condition in the join itself —
    touching ~2/W of each user's history instead of all of it. Oracle:
    DuckDB evaluates the same semantics as a direct inequality join."""
    ev = _t(spark, sf, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.unix_timestamp("ts").alias("cts"),
        F.round(F.col("value") * 100).cast("bigint").alias("v"),
    )
    clicks = clicks.withColumn("bucket", F.expr(f"cts div {RANGE_W}"))
    purch = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.unix_timestamp("ts").alias("pts"),
    )
    probes = purch.withColumn(
        "bucket",
        F.explode(
            F.array(
                F.expr(f"pts div {RANGE_W}"), F.expr(f"pts div {RANGE_W} - 1")
            )
        ),
    )
    matched = probes.join(clicks, ["user_id", "bucket"]).filter(
        (F.col("cts") >= F.col("pts") - RANGE_W) & (F.col("cts") < F.col("pts"))
    )
    counts = matched.groupBy("purchase_id").agg(
        F.count(F.lit(1)).alias("n_recent_clicks"),
        F.sum("v").alias("click_value_x100"),
    )
    return purch.join(counts, "purchase_id", "left").select(
        "purchase_id",
        "user_id",
        F.col("pts").alias("purchase_epoch"),
        F.coalesce("n_recent_clicks", F.lit(0)).cast("bigint").alias(
            "n_recent_clicks"
        ),
        F.coalesce("click_value_x100", F.lit(0)).cast("bigint").alias(
            "click_value_x100"
        ),
    )


SQL_EVENTS_RANGE = f"""
WITH p AS (
  SELECT event_id AS purchase_id, user_id,
         CAST(FLOOR(epoch(ts)) AS BIGINT) AS pts
  FROM events WHERE event_type = 'purchase'),
c AS (
  SELECT user_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS cts,
         CAST(ROUND(value * 100) AS BIGINT) AS v
  FROM events WHERE event_type = 'click')
SELECT p.purchase_id, p.user_id, p.pts AS purchase_epoch,
       COUNT(c.cts) AS n_recent_clicks,
       COALESCE(CAST(SUM(c.v) AS BIGINT), 0) AS click_value_x100
FROM p LEFT JOIN c
  ON c.user_id = p.user_id
 AND c.cts >= p.pts - {RANGE_W} AND c.cts < p.pts
GROUP BY p.purchase_id, p.user_id, p.pts
"""


SALES_OPP_MAX_ORDERS = 7  # "low-engagement": fewer than this many orders


def q_sales_opportunity(spark, sf):
    """TPC-H Q22 shape, generalized so it is non-vacuous on this
    testdata (every synthetic customer has >= 1 order, so Q22's literal
    NOT EXISTS is empty): customers richer than the average
    positive-balance customer with FEWER THAN 7 orders, rolled up by
    nation — the anti-join is exactly the k=1 special case. Catalyst
    shapes: a scalar aggregate broadcast against the customer table (no
    shuffle for the threshold) and a left join against the pre-
    aggregated per-customer order count (partial-agg groupBy on
    custkey — the count table is one row per customer, far smaller
    than orders). Threshold arithmetic is avg-of-integer-cents, so both
    engines divide the same two exact integers — the boundary can't
    move between engines."""
    c = _t(spark, sf, "customer").withColumn(
        "bal_x100", F.round(F.col("c_acctbal") * 100).cast("bigint")
    )
    o = _t(spark, sf, "orders")
    n = _t(spark, sf, "nation")
    thr = c.filter(F.col("bal_x100") > 0).agg(
        F.avg("bal_x100").alias("thr")  # exact-int sum / count: same double
    )
    cnt = o.groupBy(F.col("o_custkey").alias("c_custkey")).agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    rich = c.join(F.broadcast(thr)).filter(F.col("bal_x100") > F.col("thr"))
    low = rich.join(cnt, "c_custkey", "left").filter(
        F.coalesce("n_orders", F.lit(0)) < SALES_OPP_MAX_ORDERS
    )
    return (
        low.join(F.broadcast(n), low.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("bal_x100").alias("acctbal_x100"),
        )
    )


SQL_SALES_OPPORTUNITY = f"""
WITH c AS (SELECT *, CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal_x100
           FROM customer)
SELECT n_name, COUNT(*) AS n_customers,
       CAST(SUM(bal_x100) AS BIGINT) AS acctbal_x100
FROM c JOIN nation ON c_nationkey = n_nationkey
WHERE bal_x100 > (SELECT AVG(bal_x100) FROM c WHERE bal_x100 > 0)
  AND (SELECT COUNT(*) FROM orders WHERE o_custkey = c_custkey)
      < {SALES_OPP_MAX_ORDERS}
GROUP BY n_name
"""


def q_supplier_parts_distinct(spark, sf):
    """TPC-H Q16 shape (adapted — the testdata has no partsupp table, so
    supply relationships come from lineitem): per (brand, size), how
    many DISTINCT suppliers shipped a non-STANDARD part. COUNT DISTINCT
    over a join: Spark plans it as a two-phase partial-distinct agg
    (map-side dedup before the shuffle), the part dim broadcasts."""
    l = _t(spark, sf, "lineitem")
    p = _t(spark, sf, "part").filter(~F.col("p_type").startswith("STANDARD"))
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


SQL_SUPPLIER_PARTS_DISTINCT = """
SELECT p_brand, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_type NOT LIKE 'STANDARD%'
GROUP BY p_brand, p_size
"""


def q_top_parts_per_supplier(spark, sf):
    """Top-N per group via window dense_rank: each supplier's 3 highest-
    revenue parts. Revenue is per-row-rounded integer ten-thousandths
    (the repo's exact-sum pattern) and the rank orders by
    (revenue DESC, partkey ASC), so ranking is bit-deterministic in
    both engines. Scale shape: ONE shuffle on s_suppkey; the window
    partition is a single supplier's parts (bounded), never the corpus."""
    l = _t(spark, sf, "lineitem")
    rev = l.groupBy("l_suppkey", "l_partkey").agg(
        F.sum(
            F.round(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
            ).cast("bigint")
        ).alias("revenue_x10000")
    )
    w = Window.partitionBy("l_suppkey").orderBy(
        F.col("revenue_x10000").desc(), F.col("l_partkey").asc()
    )
    return (
        rev.withColumn("rnk", F.dense_rank().over(w))
        .filter(F.col("rnk") <= 3)
        .select(
            F.col("l_suppkey").alias("s_suppkey"),
            F.col("l_partkey").alias("p_partkey"),
            "revenue_x10000",
            F.col("rnk").cast("int").alias("rnk"),
        )
    )


SQL_TOP_PARTS_PER_SUPPLIER = """
WITH rev AS (
  SELECT l_suppkey, l_partkey,
         CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000)
                       AS BIGINT)) AS BIGINT) AS revenue_x10000
  FROM lineitem GROUP BY l_suppkey, l_partkey)
SELECT l_suppkey AS s_suppkey, l_partkey AS p_partkey, revenue_x10000,
       CAST(rnk AS INT) AS rnk
FROM (SELECT *, DENSE_RANK() OVER (PARTITION BY l_suppkey
        ORDER BY revenue_x10000 DESC, l_partkey ASC) AS rnk FROM rev)
WHERE rnk <= 3
"""


def q_revenue_rollup(spark, sf):
    """Multi-dimensional aggregate via ROLLUP (nation, order-year):
    detail rows + per-nation subtotals + grand total in ONE pass —
    Spark expands the grouping sets before the exchange, so partial
    aggregation still happens map-side and the shuffle carries one
    row per (set, key), not one pass per set. gid = grouping(n)*2 +
    grouping(y), computed identically in both engines; rolled-up keys
    surface as 'ALL' / -1 (never NULL) so value hashing is exact."""
    l = _t(spark, sf, "lineitem")
    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer")
    n = _t(spark, sf, "nation")
    base = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select(
            "n_name",
            F.year("o_orderdate").alias("o_year"),
            F.round(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
            )
            .cast("bigint")
            .alias("rev"),
        )
    )
    return (
        base.rollup("n_name", "o_year")
        .agg(
            F.sum("rev").alias("revenue_x10000"),
            F.count(F.lit(1)).alias("n_items"),
            (F.grouping("n_name") * 2 + F.grouping("o_year"))
            .cast("int")
            .alias("gid"),
        )
        .select(
            F.coalesce("n_name", F.lit("ALL")).alias("nation"),
            F.coalesce("o_year", F.lit(-1)).cast("int").alias("o_year"),
            "revenue_x10000",
            "n_items",
            "gid",
        )
    )


SQL_REVENUE_ROLLUP = """
SELECT COALESCE(n_name, 'ALL') AS nation,
       CAST(COALESCE(EXTRACT(YEAR FROM o_orderdate), -1) AS INT) AS o_year,
       CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000)
                     AS BIGINT)) AS BIGINT) AS revenue_x10000,
       COUNT(*) AS n_items,
       CAST(GROUPING(n_name) * 2 + GROUPING(EXTRACT(YEAR FROM o_orderdate))
            AS INT) AS gid
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
GROUP BY ROLLUP (n_name, EXTRACT(YEAR FROM o_orderdate))
"""


def q_events_funnel(spark, sf):
    """Ordered funnel over the event stream: per user, did a view
    precede a click precede a purchase (strict ts order, ties broken by
    event_id so both engines see the same order)? One shuffle on
    user_id; per-user state is three (ts, event_id) minima computed as
    packed integer aggregates — no window, no sort, pure partial-agg.
    Output: one row per funnel stage with the user count — the classic
    conversion readout."""
    ev = _t(spark, sf, "events").filter(
        F.col("event_type").isin("view", "click", "purchase")
    )
    # pack (epoch_s, event_id) into one orderable BIGINT: ts_s * 2^20 +
    # event_id mod 2^20 — min() then recovers the earliest (ts, id) pair
    packed = F.unix_timestamp("ts") * F.lit(1 << 20) + F.pmod(
        "event_id", F.lit(1 << 20)
    )
    per_user = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", packed)).alias("v"),
        F.min(F.when(F.col("event_type") == "click", packed)).alias("c"),
        F.min(F.when(F.col("event_type") == "purchase", packed)).alias("p"),
    )
    staged = per_user.select(
        F.col("v").isNotNull().alias("s1"),
        (
            F.col("v").isNotNull()
            & F.col("c").isNotNull()
            & (F.col("c") > F.col("v"))
        ).alias("s2"),
        (
            F.col("v").isNotNull()
            & F.col("c").isNotNull()
            & (F.col("c") > F.col("v"))
            & F.col("p").isNotNull()
            & (F.col("p") > F.col("c"))
        ).alias("s3"),
    )
    return staged.agg(
        F.count_if("s1").alias("viewed"),
        F.count_if("s2").alias("view_then_click"),
        F.count_if("s3").alias("full_funnel"),
    )


SQL_EVENTS_FUNNEL = """
WITH per_user AS (
  SELECT user_id,
    MIN(CASE WHEN event_type = 'view' THEN
      CAST(FLOOR(epoch(ts)) AS BIGINT) * 1048576 + event_id % 1048576 END) AS v,
    MIN(CASE WHEN event_type = 'click' THEN
      CAST(FLOOR(epoch(ts)) AS BIGINT) * 1048576 + event_id % 1048576 END) AS c,
    MIN(CASE WHEN event_type = 'purchase' THEN
      CAST(FLOOR(epoch(ts)) AS BIGINT) * 1048576 + event_id % 1048576 END) AS p
  FROM events WHERE event_type IN ('view', 'click', 'purchase')
  GROUP BY user_id)
SELECT CAST(SUM(CASE WHEN v IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS viewed,
       CAST(SUM(CASE WHEN v IS NOT NULL AND c IS NOT NULL AND c > v
                     THEN 1 ELSE 0 END) AS BIGINT) AS view_then_click,
       CAST(SUM(CASE WHEN v IS NOT NULL AND c IS NOT NULL AND c > v
                     AND p IS NOT NULL AND p > c
                     THEN 1 ELSE 0 END) AS BIGINT) AS full_funnel
FROM per_user
"""


def q_brand_year_trend(spark, sf):
    """LAG window shape: yearly revenue per part brand with the
    year-over-year delta. The lag partition is one brand's ~7 yearly
    rows — after the (brand, year) pre-aggregation (partial, map-side)
    the window input is dim-sized, so the sort inside each partition is
    trivial at any corpus scale. Delta for a brand's first year is 0
    (COALESCE-d identically in both engines)."""
    l = _t(spark, sf, "lineitem")
    p = _t(spark, sf, "part")
    rev = (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .groupBy("p_brand", F.year("l_shipdate").alias("ship_year"))
        .agg(
            F.sum(
                F.round(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
                ).cast("bigint")
            ).alias("revenue_x100")
        )
    )
    w = Window.partitionBy("p_brand").orderBy("ship_year")
    return rev.select(
        "p_brand",
        F.col("ship_year").cast("int").alias("ship_year"),
        "revenue_x100",
        (
            F.col("revenue_x100")
            - F.coalesce(F.lag("revenue_x100").over(w), F.col("revenue_x100"))
        ).alias("yoy_delta_x100"),
    )


SQL_BRAND_YEAR_TREND = """
WITH rev AS (
  SELECT p_brand, CAST(EXTRACT(YEAR FROM l_shipdate) AS INT) AS ship_year,
         CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100)
                       AS BIGINT)) AS BIGINT) AS revenue_x100
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY p_brand, EXTRACT(YEAR FROM l_shipdate))
SELECT p_brand, ship_year, revenue_x100,
       CAST(revenue_x100 - COALESCE(LAG(revenue_x100) OVER
         (PARTITION BY p_brand ORDER BY ship_year), revenue_x100)
         AS BIGINT) AS yoy_delta_x100
FROM rev
"""


def q_customer_running_total(spark, sf):
    """Running-aggregate window shape: each customer's cumulative spend
    over their order history, ordered by (date, orderkey) — the
    tie-break makes the prefix sums bit-deterministic. One shuffle on
    custkey; a partition is one customer's own orders (bounded), the
    canonical safe window at 100 TB. Values are per-row-rounded cents,
    so prefix sums are exact integers in both engines."""
    o = _t(spark, sf, "orders").withColumn(
        "price_x100", F.round(F.col("o_totalprice") * 100).cast("bigint")
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.unix_timestamp("o_orderdate").alias("order_epoch"),
        F.sum("price_x100").over(w).alias("running_spend_x100"),
    )


SQL_CUSTOMER_RUNNING_TOTAL = """
SELECT o_custkey, o_orderkey,
       CAST(FLOOR(epoch(o_orderdate)) AS BIGINT) AS order_epoch,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) OVER
         (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         AS BIGINT) AS running_spend_x100
FROM orders
"""


def q_value_percentiles(spark, sf):
    """Exact interpolated percentiles (p50/p90/p99) of event value per
    event type. Spark's `percentile` and DuckDB's `quantile_cont` share
    the (n-1)*p linear-interpolation definition; inputs are integer
    cents so both engines interpolate the same two exact integers —
    outputs are scaled back to integer hundredths-of-a-cent. Spark's
    exact percentile collects each group's values to its one reducer,
    which is fine for a bounded group count (5 event types); the
    unbounded-cardinality variant would use approx_percentile."""
    ev = _t(spark, sf, "events").withColumn(
        "v", F.round(F.col("value") * 100).cast("bigint")
    )
    pct = ev.groupBy("event_type").agg(
        F.expr("percentile(v, array(0.5D, 0.9D, 0.99D))").alias("p")
    )
    return pct.select(
        "event_type",
        F.round(F.col("p")[0] * 100).cast("bigint").alias("p50_x10000"),
        F.round(F.col("p")[1] * 100).cast("bigint").alias("p90_x10000"),
        F.round(F.col("p")[2] * 100).cast("bigint").alias("p99_x10000"),
    )


SQL_VALUE_PERCENTILES = """
WITH ev AS (SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS v
            FROM events)
SELECT event_type,
       CAST(ROUND(quantile_cont(v, 0.5)  * 100) AS BIGINT) AS p50_x10000,
       CAST(ROUND(quantile_cont(v, 0.9)  * 100) AS BIGINT) AS p90_x10000,
       CAST(ROUND(quantile_cont(v, 0.99) * 100) AS BIGINT) AS p99_x10000
FROM ev GROUP BY event_type
"""


def q_events_retention(spark, sf):
    """Daily cohort retention: per signup day (a user's first event
    day), how many users were active on day+1 and day+2. Two partial
    aggregations — (user → first week) then (user, week) distinct
    activity — joined on user: both shuffles key on user_id, the second
    input is already deduplicated map-side. All-integer epoch-week
    arithmetic, identical in both engines."""
    ev = _t(spark, sf, "events").select(
        "user_id", F.expr("unix_timestamp(ts) div 86400").alias("wk")
    )
    first = ev.groupBy("user_id").agg(F.min("wk").alias("wk0"))
    active = ev.distinct()
    joined = first.join(active, "user_id").select(
        "user_id", "wk0", (F.col("wk") - F.col("wk0")).alias("dw")
    )
    return joined.groupBy("wk0").agg(
        F.count_distinct("user_id").alias("cohort_users"),
        F.count_distinct(F.when(F.col("dw") == 1, F.col("user_id"))).alias(
            "retained_w1"
        ),
        F.count_distinct(F.when(F.col("dw") == 2, F.col("user_id"))).alias(
            "retained_w2"
        ),
    )


SQL_EVENTS_RETENTION = """
WITH ev AS (SELECT user_id,
                   CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 AS wk
            FROM events),
first AS (SELECT user_id, MIN(wk) AS wk0 FROM ev GROUP BY user_id),
joined AS (
  SELECT DISTINCT f.user_id, f.wk0, e.wk - f.wk0 AS dw
  FROM first f JOIN ev e ON e.user_id = f.user_id)
SELECT wk0, COUNT(DISTINCT user_id) AS cohort_users,
       COUNT(DISTINCT CASE WHEN dw = 1 THEN user_id END) AS retained_w1,
       COUNT(DISTINCT CASE WHEN dw = 2 THEN user_id END) AS retained_w2
FROM joined GROUP BY wk0
"""


def q_supplier_market_share(spark, sf):
    """Windowed share-of-total: each supplier's revenue as integer
    permille of its NATION's total — sum-over-partition window on the
    pre-aggregated per-supplier rows (supplier-count-sized input, one
    shuffle on the nation key). The permille division is integer-exact
    on identical bigint numerators/denominators in both engines."""
    l = _t(spark, sf, "lineitem")
    s = _t(spark, sf, "supplier")
    n = _t(spark, sf, "nation")
    rev = (
        l.join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("n_name", "s_suppkey")
        .agg(
            F.sum(
                F.round(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
                ).cast("bigint")
            ).alias("rev_x100")
        )
    )
    w = Window.partitionBy("n_name")
    return rev.select(
        "n_name",
        "s_suppkey",
        "rev_x100",
        F.expr("rev_x100 * 1000 div sum(rev_x100) over (partition by n_name)")
        .cast("bigint")
        .alias("share_permille"),
    )


SQL_SUPPLIER_MARKET_SHARE = """
WITH rev AS (
  SELECT n_name, s_suppkey,
         CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100)
                       AS BIGINT)) AS BIGINT) AS rev_x100
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation   ON s_nationkey = n_nationkey
  GROUP BY n_name, s_suppkey)
SELECT n_name, s_suppkey, rev_x100,
       CAST(rev_x100 * 1000 // SUM(rev_x100) OVER (PARTITION BY n_name)
            AS BIGINT) AS share_permille
FROM rev
"""


def q_discount_forecast(spark, sf):
    """TPC-H Q6 shape: pure predicate scan + ungrouped aggregate — the
    "what-if we dropped these discounts" forecast. No join at all: the
    three filters sit directly on the parquet scan (PushedFilters) and
    the sum is a map-side partial into a single-row final agg, so the
    only exchange is the 1-row gather. The discount band compares
    ROUND(l_discount*100) as an integer so the FP literal 0.02 can
    never straddle engines."""
    l = _t(spark, sf, "lineitem")
    disc_pct = F.round(F.col("l_discount") * 100).cast("int")
    return (
        l.filter(
            (F.year("l_shipdate") == 1996)
            & disc_pct.between(2, 6)
            & (F.col("l_quantity") < 24)
        ).agg(
            F.sum(
                F.round(
                    F.col("l_extendedprice") * F.col("l_discount") * 10000
                ).cast("bigint")
            ).alias("forecast_x10000"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


SQL_DISCOUNT_FORECAST = """
SELECT CAST(SUM(CAST(ROUND(l_extendedprice * l_discount * 10000) AS BIGINT))
            AS BIGINT) AS forecast_x10000,
       COUNT(*) AS n_items
FROM lineitem
WHERE year(l_shipdate) = 1996
  AND CAST(ROUND(l_discount * 100) AS INT) BETWEEN 2 AND 6
  AND l_quantity < 24
"""


RETURNED_REV_FLOOR_X100 = 500_000 * 100  # keep customers above $500k returned


def q_returned_revenue(spark, sf):
    """TPC-H Q10 shape: returned-item revenue per customer. Aggregate
    BEFORE the dimension joins: lineitem(returnflag='R') ⋈ orders
    shuffles on orderkey, reduces to one row per customer, and only
    then joins customer+nation (broadcast — dims are tiny vs the fact).
    Q10's ORDER BY..LIMIT 20 is replaced by a fixed revenue floor so
    the result is a deterministic SET (top-k ties would hash-flip)."""
    l = _t(spark, sf, "lineitem").filter(F.col("l_returnflag") == "R")
    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer")
    n = _t(spark, sf, "nation")
    per_cust = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("o_custkey")
        .agg(
            F.sum(
                F.round(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
                ).cast("bigint")
            ).alias("returned_x100")
        )
        .filter(F.col("returned_x100") > RETURNED_REV_FLOOR_X100)
    )
    return per_cust.join(
        F.broadcast(c), per_cust.o_custkey == c.c_custkey
    ).join(F.broadcast(n), c.c_nationkey == n.n_nationkey).select(
        "c_custkey", "c_name", "n_name", "returned_x100"
    )


SQL_RETURNED_REVENUE = f"""
SELECT c_custkey, c_name, n_name,
       CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100)
                     AS BIGINT)) AS BIGINT) AS returned_x100
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name
HAVING CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100)
                     AS BIGINT)) AS BIGINT) > {RETURNED_REV_FLOOR_X100}
"""


def q_late_priority_lines(spark, sf):
    """TPC-H Q12 shape (adapted: the testdata has no l_shipmode or
    l_commitdate, so the grouping dimension is l_linestatus and "late"
    means shipped >90 days after the order date). One shuffle join on
    orderkey, then count_if splits high- vs low-priority late lines —
    the same conditional-aggregation topology as Q12."""
    l = _t(spark, sf, "lineitem")
    o = _t(spark, sf, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr(
        "INTERVAL 90 DAYS"
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .filter(late)
        .groupBy("l_linestatus")
        .agg(
            F.count_if(high).alias("high_priority_late"),
            F.count_if(~high).alias("low_priority_late"),
        )
    )


SQL_LATE_PRIORITY_LINES = """
SELECT l_linestatus,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_priority_late,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                THEN 0 ELSE 1 END) AS BIGINT) AS low_priority_late
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY
GROUP BY l_linestatus
"""


def q_small_qty_revenue(spark, sf):
    """TPC-H Q17 shape: the correlated AVG subquery ("lineitems whose
    quantity is under 20% of the part's average") decorrelated into a
    per-part aggregate + self-join on l_partkey — both sides shuffle on
    the same key once, then the threshold is the exact integer
    cross-multiply 5*qty*cnt < sum_qty (no FP average; quantities are
    integral). part joins broadcast for the brand rollup."""
    l = _t(spark, sf, "lineitem")
    p = _t(spark, sf, "part")
    qty = F.col("l_quantity").cast("bigint")
    per_part = l.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.sum(qty).alias("sum_qty"), F.count(F.lit(1)).alias("cnt")
    )
    return (
        l.join(per_part, l.l_partkey == per_part.pk)
        .filter(qty * F.col("cnt") * 5 < F.col("sum_qty"))
        .join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_small_lines"),
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint")).alias(
                "small_rev_x100"
            ),
        )
    )


SQL_SMALL_QTY_REVENUE = """
WITH pq AS (
  SELECT l_partkey AS pk,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
         COUNT(*) AS cnt
  FROM lineitem GROUP BY l_partkey)
SELECT p_brand, COUNT(*) AS n_small_lines,
       CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
         AS small_rev_x100
FROM lineitem
JOIN pq ON l_partkey = pk
JOIN part ON p_partkey = l_partkey
WHERE 5 * CAST(l_quantity AS BIGINT) * cnt < sum_qty
GROUP BY p_brand
"""


def q_waiting_suppliers(spark, sf):
    """TPC-H Q21 shape: suppliers who were the SOLE late shipper on a
    finished multi-supplier order. The reference SQL is a quadruple
    EXISTS/NOT-EXISTS self-join; the scale form is ONE grouped pass per
    orderkey computing (distinct suppliers, distinct late suppliers,
    the late supplier when unique) — the two correlated existentials
    collapse into count-distinct aggregates, so the whole query is two
    shuffles (orderkey, then suppkey) instead of four self-joins.
    "Late" = shipped >60 days after order date (no l_receiptdate in
    this testdata); order status 'F' filters to finished orders."""
    l = _t(spark, sf, "lineitem")
    o = _t(spark, sf, "orders").filter(F.col("o_orderstatus") == "F")
    s = _t(spark, sf, "supplier")
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr(
        "INTERVAL 60 DAYS"
    )
    per_order = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey")
        .agg(
            F.countDistinct("l_suppkey").alias("n_supp"),
            F.countDistinct(F.when(late, F.col("l_suppkey"))).alias("n_late"),
            F.max(F.when(late, F.col("l_suppkey"))).alias("late_supp"),
        )
        .filter((F.col("n_supp") > 1) & (F.col("n_late") == 1))
    )
    return (
        per_order.groupBy("late_supp")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .join(F.broadcast(s), F.col("late_supp") == s.s_suppkey)
        .select(F.col("s_suppkey"), F.col("s_name"), F.col("numwait"))
    )


SQL_WAITING_SUPPLIERS = """
WITH per_order AS (
  SELECT l_orderkey,
         COUNT(DISTINCT l_suppkey) AS n_supp,
         COUNT(DISTINCT CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
                        THEN l_suppkey END) AS n_late,
         MAX(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
             THEN l_suppkey END) AS late_supp
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F'
  GROUP BY l_orderkey)
SELECT s_suppkey, s_name, COUNT(*) AS numwait
FROM per_order JOIN supplier ON late_supp = s_suppkey
WHERE n_supp > 1 AND n_late = 1
GROUP BY s_suppkey, s_name
"""


def q_min_cost_supplier(spark, sf):
    """TPC-H Q2 shape: the correlated MIN subquery ("the supplier
    offering this part at the region's minimum cost"). No partsupp
    table in this testdata, so supply cost := the supplier's minimum
    observed unit price (round(extendedprice/quantity*100)) from
    lineitem. EUROPE suppliers come from a broadcast semi-join
    (supplier⋈nation⋈region is ~100 rows); the correlated MIN
    decorrelates into a per-part aggregate joined back — at this
    cardinality (≤ parts×suppliers rows) AQE turns it into a broadcast
    join. Ties (two suppliers at the same min cost) keep both rows,
    exactly as Q2's original does."""
    l = _t(spark, sf, "lineitem")
    p = _t(spark, sf, "part").filter(
        (F.col("p_type") == "STANDARD") & (F.col("p_size") <= 10)
    )
    s = _t(spark, sf, "supplier")
    n = _t(spark, sf, "nation")
    r = _t(spark, sf, "region").filter(F.col("r_name") == "EUROPE")
    eu_supp = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("s_suppkey")
    )
    cost = (
        l.join(F.broadcast(eu_supp), l.l_suppkey == eu_supp.s_suppkey)
        .join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .groupBy(
            F.col("l_partkey").alias("p_partkey"),
            F.col("l_suppkey").alias("s_suppkey"),
        )
        .agg(
            F.min(
                F.round(
                    F.col("l_extendedprice") / F.col("l_quantity") * 100
                ).cast("bigint")
            ).alias("cost_x100")
        )
    )
    # per-part min as a window, not groupBy+join-back: the (part,supplier)
    # rows are already clustered by part after the agg exchange, so the
    # window re-shuffles once on p_partkey and the correlated-min filter
    # needs no second join (2 exchanges total, no SMJ). Per-partition
    # width is one part's supplier count — bounded, never the corpus.
    w = Window.partitionBy("p_partkey")
    return (
        cost.withColumn("min_cost", F.min("cost_x100").over(w))
        .filter(F.col("cost_x100") == F.col("min_cost"))
        .select("p_partkey", "s_suppkey", "cost_x100")
    )


SQL_MIN_COST_SUPPLIER = """
WITH eu AS (
  SELECT s_suppkey FROM supplier
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'),
cost AS (
  SELECT l_partkey AS p_partkey, l_suppkey AS s_suppkey,
         CAST(MIN(CAST(ROUND(l_extendedprice / l_quantity * 100) AS BIGINT))
              AS BIGINT) AS cost_x100
  FROM lineitem
  JOIN eu ON l_suppkey = eu.s_suppkey
  JOIN part ON l_partkey = p_partkey
  WHERE p_type = 'STANDARD' AND p_size <= 10
  GROUP BY l_partkey, l_suppkey),
mc AS (SELECT p_partkey, MIN(cost_x100) AS min_cost FROM cost
       GROUP BY p_partkey)
SELECT cost.p_partkey, cost.s_suppkey, cost.cost_x100
FROM cost JOIN mc ON cost.p_partkey = mc.p_partkey
               AND cost.cost_x100 = mc.min_cost
"""


IMPORTANT_PART_PPM = 65  # parts holding > 65/100000 of total revenue


def q_important_parts(spark, sf):
    """TPC-H Q11 shape: groups whose value exceeds a FRACTION OF THE
    GLOBAL TOTAL — the scalar-subquery threshold. Per-part revenue
    aggregates once (map-side partial into a partkey shuffle); the
    1-row global total crossJoin-broadcasts back; the comparison is the
    exact integer cross-multiply val*100000 > PPM*total (no FP share).
    This is the share-of-GLOBAL-total twin of supplier_market_share's
    share-of-partition window."""
    l = _t(spark, sf, "lineitem")
    val = l.groupBy(F.col("l_partkey")).agg(
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint")).alias(
            "value_x100"
        )
    )
    total = val.agg(F.sum("value_x100").alias("total_x100"))
    return (
        val.crossJoin(F.broadcast(total))
        .filter(
            F.col("value_x100") * 100000
            > F.lit(IMPORTANT_PART_PPM) * F.col("total_x100")
        )
        .select("l_partkey", "value_x100")
    )


SQL_IMPORTANT_PARTS = f"""
WITH v AS (
  SELECT l_partkey,
         CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
           AS value_x100
  FROM lineitem GROUP BY l_partkey),
t AS (SELECT CAST(SUM(value_x100) AS BIGINT) AS total_x100 FROM v)
SELECT l_partkey, value_x100 FROM v, t
WHERE value_x100 * 100000 > {IMPORTANT_PART_PPM} * total_x100
"""


def q_dominant_suppliers(spark, sf):
    """TPC-H Q20 shape: the nested "more than X% of that part's total"
    existential — suppliers shipping >1/8 of a 'small …' part's global
    quantity. The part-name filter broadcasts into the fact scan; the
    per-(part,supplier) and per-part aggregates share the partkey
    shuffle; the threshold is the integer cross-multiply 8*q > total.
    Output is per-supplier: how many parts they dominate (the EXISTS
    collapses into a count ≥ 1)."""
    l = _t(spark, sf, "lineitem")
    p = _t(spark, sf, "part").filter(F.col("p_name").startswith("small"))
    qty = F.col("l_quantity").cast("bigint")
    sq = (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .groupBy(F.col("l_partkey").alias("pk"), F.col("l_suppkey").alias("sk"))
        .agg(F.sum(qty).alias("q"))
    )
    # per-part total as a window instead of groupBy+join-back (which costs
    # a second aggregate exchange plus an SMJ): one re-shuffle on pk, the
    # partition is one part's supplier list — bounded per key.
    w = Window.partitionBy("pk")
    return (
        sq.withColumn("t", F.sum("q").over(w))
        .filter(F.col("q") * 8 > F.col("t"))
        .groupBy(F.col("sk").alias("s_suppkey"))
        .agg(F.count(F.lit(1)).alias("n_dominated_parts"))
    )


SQL_DOMINANT_SUPPLIERS = """
WITH sq AS (
  SELECT l_partkey AS pk, l_suppkey AS sk,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_name LIKE 'small%'
  GROUP BY l_partkey, l_suppkey),
tq AS (SELECT pk, CAST(SUM(q) AS BIGINT) AS t FROM sq GROUP BY pk)
SELECT sk AS s_suppkey, COUNT(*) AS n_dominated_parts
FROM sq JOIN tq USING (pk)
WHERE q * 8 > t
GROUP BY sk
"""


def q_nation_market_share(spark, sf):
    """TPC-H Q8 shape: one nation's share of a region's market for one
    part type, by order year. The fact table joins the three tiny dims
    (part filtered to ECONOMY, supplier→nation for the numerator flag,
    customer→nation→region for the EUROPE market filter) ALL by
    broadcast — the only exchange is the per-year aggregate — and the
    share is an exact integer permille of bigint sums (CASE-sum
    numerator / total denominator), so no FP division order matters."""
    l = _t(spark, sf, "lineitem")
    o = _t(spark, sf, "orders")
    p = _t(spark, sf, "part").filter(F.col("p_type") == "ECONOMY")
    s = _t(spark, sf, "supplier")
    c = _t(spark, sf, "customer")
    n_s = _t(spark, sf, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    n_c = _t(spark, sf, "nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_region")
    )
    r = _t(spark, sf, "region").filter(F.col("r_name") == "EUROPE")
    rev = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("bigint")
    joined = (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n_c), c.c_nationkey == F.col("cn_key"))
        .join(F.broadcast(r), F.col("cn_region") == r.r_regionkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n_s), s.s_nationkey == F.col("sn_key"))
    )
    agg = joined.groupBy(F.year("o_orderdate").alias("o_year")).agg(
        F.sum(F.when(F.col("supp_nation") == "NATION_3", rev).otherwise(F.lit(0))).alias(
            "nation_rev_x100"
        ),
        F.sum(rev).alias("market_rev_x100"),
    )
    return agg.select(
        "o_year",
        "nation_rev_x100",
        "market_rev_x100",
        F.expr("nation_rev_x100 * 1000 div market_rev_x100")
        .cast("bigint")
        .alias("share_permille"),
    )


SQL_NATION_MARKET_SHARE = """
SELECT year(o_orderdate) AS o_year,
       CAST(SUM(CASE WHEN sn.n_name = 'NATION_3'
                THEN CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
                ELSE 0 END) AS BIGINT) AS nation_rev_x100,
       CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
            AS BIGINT) AS market_rev_x100,
       CAST(SUM(CASE WHEN sn.n_name = 'NATION_3'
                THEN CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
                ELSE 0 END) * 1000
            // SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
            AS BIGINT) AS share_permille
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
JOIN region   ON cn.n_regionkey = r_regionkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
WHERE p_type = 'ECONOMY' AND r_name = 'EUROPE'
GROUP BY year(o_orderdate)
"""


def q_url_registrable_domain(spark, sf):
    """PSL-lite registrable-domain grouping — the politeness "site" key at
    web scale (a.shop.co.uk and www.shop.co.uk are ONE site; a.github.io
    and b.github.io are DIFFERENT sites because github.io is a public
    suffix). Hosts are synthesized deterministically from customer keys to
    exercise every rule family: plain 2-label, known multi-label suffix
    (3-label result), deep www. subdomains collapsing onto their site,
    IPv4 literals kept whole. The extractor is a native column expression
    (functions/domains.py — split + element_at + constant-folded IN list,
    whole-stage codegen, zero Python); the aggregate is one exchange on
    the site key."""
    from brink_spark.functions.domains import registrable_domain

    c = _t(spark, sf, "customer").select("c_custkey")
    m8 = F.pmod("c_custkey", F.lit(8))
    shopid = F.pmod("c_custkey", F.lit(97)).cast("string")
    suffix = (
        F.when(m8 == 0, "example.com")
        .when(m8 == 1, "co.uk")
        .when(m8 == 2, "github.io")
        .when(m8 == 3, "org")
        .when(m8 == 4, "blogspot.com")
        .when(m8 == 5, "com.au")
        .otherwise("net")
    )
    base = F.concat(F.lit("shop"), shopid, F.lit("."), suffix)
    host = (
        F.when(
            m8 == 7,
            F.concat(
                F.lit("10.0."),
                F.pmod("c_custkey", F.lit(256)).cast("string"),
                F.lit(".7"),
            ),
        )
        .when(F.pmod("c_custkey", F.lit(2)) == 0, F.concat(F.lit("www."), base))
        .otherwise(base)
    )
    return (
        c.select(host.alias("host"))
        .groupBy(registrable_domain(F.col("host")).alias("site"))
        .agg(
            F.count(F.lit(1)).alias("n_urls"),
            F.countDistinct("host").alias("n_hosts"),
        )
    )


def _sql_registrable() -> str:
    from brink_spark.functions.domains import MULTI_LABEL_SUFFIXES

    in_list = ", ".join(f"'{s}'" for s in MULTI_LABEL_SUFFIXES)
    return f"""
WITH hosts AS (
  SELECT CASE
           WHEN c_custkey % 8 = 7 THEN
             '10.0.' || CAST(c_custkey % 256 AS VARCHAR) || '.7'
           WHEN c_custkey % 2 = 0 THEN
             'www.shop' || CAST(c_custkey % 97 AS VARCHAR) || '.' ||
             CASE c_custkey % 8 WHEN 0 THEN 'example.com' WHEN 1 THEN 'co.uk'
                  WHEN 2 THEN 'github.io' WHEN 3 THEN 'org'
                  WHEN 4 THEN 'blogspot.com' WHEN 5 THEN 'com.au'
                  ELSE 'net' END
           ELSE
             'shop' || CAST(c_custkey % 97 AS VARCHAR) || '.' ||
             CASE c_custkey % 8 WHEN 0 THEN 'example.com' WHEN 1 THEN 'co.uk'
                  WHEN 2 THEN 'github.io' WHEN 3 THEN 'org'
                  WHEN 4 THEN 'blogspot.com' WHEN 5 THEN 'com.au'
                  ELSE 'net' END
         END AS host
  FROM customer),
sites AS (
  SELECT host,
         string_split(host, '.') AS l,
         len(string_split(host, '.')) AS n
  FROM hosts)
SELECT CASE
         WHEN regexp_matches(host, '^\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}$')
              OR n <= 2 THEN host
         WHEN l[n-1] || '.' || l[n] IN ({in_list})
           THEN l[n-2] || '.' || l[n-1] || '.' || l[n]
         ELSE l[n-1] || '.' || l[n]
       END AS site,
       COUNT(*) AS n_urls,
       COUNT(DISTINCT host) AS n_hosts
FROM sites GROUP BY 1
"""


SQL_URL_REGISTRABLE_DOMAIN = _sql_registrable()


def q_recrawl_priority(spark, sf):
    """Freshness-driven recrawl scheduling (Cho & Garcia-Molina change-rate
    estimation): each user_id stands in for a URL, its event stream for the
    URL's fetch history, and a `props` payload change between consecutive
    observations for a content change. Rank URLs by an exact-integer
    staleness score `n_changes * age_sec * 1e6 div span_sec` — the discrete
    analogue of lambda * age, where lambda = n_changes / span is the
    observed Poisson change rate. Bigger score = changes often AND hasn't
    been fetched recently = refetch first.

    Engine mapping: CrawlEngine's refetch path orders expired URLs the same
    way from the committed visited history (see plans/crawl.py
    recrawl_order) — this query is the oracle-checkable twin of that hook.

    Plan: one keyed window (lag over user_id — partition-local, bounded by
    per-URL history length, no global sort), one partial-agg groupBy on the
    same key so AQE reuses the exchange, a 1-row broadcast scalar for the
    corpus max timestamp, and a top-k sort of the per-URL (not per-event)
    rollup. All arithmetic is int64 (max ~3e16 < 2^63), identical in both
    engines; ties broken by user_id."""
    ev = _t(spark, sf, "events").select(
        "user_id",
        "event_id",
        "props",
        F.unix_timestamp("ts").alias("sec"),
    )
    w = Window.partitionBy("user_id").orderBy("sec", "event_id")
    obs = ev.withColumn("prev_props", F.lag("props").over(w))
    per = obs.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.sum(
            F.when(
                F.col("prev_props").isNotNull()
                & (F.col("prev_props") != F.col("props")),
                1,
            ).otherwise(0)
        ).alias("n_changes"),
        F.min("sec").alias("first_sec"),
        F.max("sec").alias("last_sec"),
    )
    gmax = ev.agg(F.max("sec").alias("gmax"))
    return (
        per.join(F.broadcast(gmax))
        .where((F.col("n_obs") >= 2) & (F.col("last_sec") > F.col("first_sec")))
        .select(
            "user_id",
            "n_obs",
            "n_changes",
            (F.col("gmax") - F.col("last_sec")).alias("age_sec"),
            (F.col("last_sec") - F.col("first_sec")).alias("span_sec"),
        )
        .withColumn(
            "staleness",
            F.expr("(n_changes * age_sec * 1000000) div span_sec"),
        )
        .orderBy(F.col("staleness").desc(), "user_id")
        .limit(100)
    )


SQL_RECRAWL_PRIORITY = """
WITH ev AS (SELECT user_id, event_id, props,
                   CAST(FLOOR(epoch(ts)) AS BIGINT) AS sec FROM events),
obs AS (SELECT user_id, props, sec,
               LAG(props) OVER (PARTITION BY user_id ORDER BY sec, event_id)
                 AS prev_props
        FROM ev),
per AS (SELECT user_id,
               COUNT(*) AS n_obs,
               CAST(SUM(CASE WHEN prev_props IS NOT NULL
                              AND prev_props <> props
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_changes,
               MIN(sec) AS first_sec, MAX(sec) AS last_sec
        FROM obs GROUP BY user_id),
g AS (SELECT MAX(sec) AS gmax FROM ev)
SELECT user_id, n_obs, n_changes,
       (gmax - last_sec) AS age_sec,
       (last_sec - first_sec) AS span_sec,
       (n_changes * (gmax - last_sec) * 1000000) // (last_sec - first_sec)
         AS staleness
FROM per, g
WHERE n_obs >= 2 AND last_sec > first_sec
ORDER BY staleness DESC, user_id LIMIT 100
"""


# --------------------------------------------------------------------------
# URL-template trap mining


TRAP_FANOUT = 50


def q_url_template_traps(spark, sf):
    """Crawler-trap detection by URL-template mining: collapse every digit
    run in a URL's path to ``#`` and count distinct URLs per (host,
    template). Auto-generated infinite spaces — calendars, pagination,
    session-id permutations — collapse onto ONE template with huge
    fan-out, while real content templates stay small; ``is_trap`` flags
    templates whose fan-out reaches TRAP_FANOUT. This query is the
    oracle-checkable analysis twin of the engine's template trap guard
    (plans/crawl.py, ``max-pages-per-template``), the third trap guard
    after max-depth and max-pages-per-host.

    Synthesis: events stand in for the fetch log; ``view`` events browse a
    calendar tree (/cal/YYYY/M/D — unbounded template), other types hit a
    bounded item space (/<type>/item-N, ≤ 37 pages). Both engines build
    the same strings; templating is a native regexp_replace (digit runs →
    '#'), zero Python.

    Scale: one partial-agg groupBy on (host, template) — countDistinct
    carries url as the dedup key through the shuffle; cardinality is
    bounded by hosts × templates, thousands at web scale (the template
    key is exactly what makes 10^10 trap URLs aggregable)."""
    e = _t(spark, sf, "events")
    urls = e.select(
        F.concat(
            F.lit("host"),
            F.pmod("user_id", F.lit(20)).cast("string"),
            F.lit(".example"),
        ).alias("host"),
        F.when(
            F.col("event_type") == "view",
            F.concat(
                F.lit("/cal/"),
                (F.lit(2000) + F.pmod("event_id", F.lit(26))).cast("string"),
                F.lit("/"),
                (F.lit(1) + F.pmod("event_id", F.lit(12))).cast("string"),
                F.lit("/"),
                (F.lit(1) + F.pmod("event_id", F.lit(28))).cast("string"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("/"),
                F.col("event_type"),
                F.lit("/item-"),
                F.pmod("event_id", F.lit(37)).cast("string"),
            )
        )
        .alias("path"),
    )
    tpl = urls.withColumn(
        "template", F.regexp_replace("path", "[0-9]+", "#")
    )
    return tpl.groupBy("host", "template").agg(
        F.countDistinct("path").alias("n_urls"),
        F.count(F.lit(1)).alias("n_hits"),
        (F.countDistinct("path") >= TRAP_FANOUT).alias("is_trap"),
    )


SQL_URL_TEMPLATE_TRAPS = f"""
WITH u AS (
  SELECT 'host' || CAST(user_id % 20 AS VARCHAR) || '.example' AS host,
         CASE WHEN event_type = 'view'
              THEN '/cal/' || CAST(2000 + event_id % 26 AS VARCHAR)
                   || '/' || CAST(1 + event_id % 12 AS VARCHAR)
                   || '/' || CAST(1 + event_id % 28 AS VARCHAR)
              ELSE '/' || event_type || '/item-'
                   || CAST(event_id % 37 AS VARCHAR)
         END AS path
  FROM events)
SELECT host, regexp_replace(path, '[0-9]+', '#', 'g') AS template,
       COUNT(DISTINCT path) AS n_urls,
       COUNT(*) AS n_hits,
       COUNT(DISTINCT path) >= {TRAP_FANOUT} AS is_trap
FROM u GROUP BY 1, 2
"""


RELATIONAL_QUERIES = {
    "url_template_traps": (q_url_template_traps, SQL_URL_TEMPLATE_TRAPS),
    "recrawl_priority": (q_recrawl_priority, SQL_RECRAWL_PRIORITY),
    "url_registrable_domain": (
        q_url_registrable_domain,
        SQL_URL_REGISTRABLE_DOMAIN,
    ),
    "pricing_summary": (q_pricing_summary, SQL_PRICING),
    "revenue_by_nation": (q_revenue_by_nation, SQL_REVENUE_NATION),
    "top_orders": (q_top_orders, SQL_TOP_ORDERS),
    "order_priority": (q_order_priority, SQL_ORDER_PRIORITY),
    "customer_order_distribution": (q_customer_order_distribution, SQL_CUST_DIST),
    "part_supplier_stats": (q_part_supplier_stats, SQL_PART_SUPPLIER),
    "events_tumbling": (q_events_tumbling, SQL_EVENTS_TUMBLING),
    "events_sessionize": (q_events_sessionize, SQL_EVENTS_SESSIONIZE),
    "events_user_stats": (q_events_user_stats, SQL_EVENTS_USER_STATS),
    "url_normalize_dedup": (q_url_normalize_dedup, SQL_URL_DEDUP),
    "frontier_anti_join": (q_frontier_anti_join, SQL_FRONTIER_ANTI),
    "cached_dispatch": (q_cached_dispatch, SQL_CACHED),
    "politeness_topk": (q_politeness_topk, SQL_POLITENESS),
    "sitemap_seeds": (q_sitemap_seeds, SQL_SITEMAP_SEEDS),
    "graph_pagerank": (q_graph_pagerank, SQL_PAGERANK),
    "graph_ppr": (q_graph_ppr, SQL_GRAPH_PPR),
    "graph_components": (q_graph_components, SQL_COMPONENTS),
    "graph_components_2phase": (q_graph_components_2phase, SQL_COMPONENTS_2PHASE),
    "graph_hits": (q_graph_hits, SQL_GRAPH_HITS),
    "events_session_window": (q_events_session_window, SQL_SESSION_WINDOW),
    "events_pivot": (q_events_pivot, SQL_EVENTS_PIVOT),
    "events_cube": (q_events_cube, SQL_EVENTS_CUBE),
    "graph_triangles": (q_graph_triangles, SQL_GRAPH_TRIANGLES),
    "basket_pairs": (q_basket_pairs, SQL_BASKET_PAIRS),
    "basket_lift": (q_basket_lift, SQL_BASKET_LIFT),
    "events_mad_outliers": (q_events_mad_outliers, SQL_EVENTS_MAD),
    "url_near_dedup": (q_url_near_dedup, SQL_URL_NEAR_DEDUP),
    "graph_reachability": (q_graph_reachability, SQL_GRAPH_REACHABILITY),
    "events_markov": (q_events_markov, SQL_EVENTS_MARKOV),
    "host_connectivity": (q_host_connectivity, SQL_HOST_CONNECTIVITY),
    "events_zscore_outliers": (q_events_zscore_outliers, SQL_ZSCORE_OUTLIERS),
    "volume_shipping": (q_volume_shipping, SQL_VOLUME_SHIPPING),
    "promo_effect": (q_promo_effect, SQL_PROMO_EFFECT),
    "top_supplier": (q_top_supplier, SQL_TOP_SUPPLIER),
    "profit_by_nation": (q_profit_by_nation, SQL_PROFIT_BY_NATION),
    "big_orders": (q_big_orders, SQL_BIG_ORDERS),
    "discount_revenue": (q_discount_revenue, SQL_DISCOUNT_REVENUE),
    "events_asof_join": (q_events_asof_join, SQL_EVENTS_ASOF),
    "events_range_join": (q_events_range_join, SQL_EVENTS_RANGE),
    "sales_opportunity": (q_sales_opportunity, SQL_SALES_OPPORTUNITY),
    "supplier_parts_distinct": (
        q_supplier_parts_distinct,
        SQL_SUPPLIER_PARTS_DISTINCT,
    ),
    "top_parts_per_supplier": (
        q_top_parts_per_supplier,
        SQL_TOP_PARTS_PER_SUPPLIER,
    ),
    "revenue_rollup": (q_revenue_rollup, SQL_REVENUE_ROLLUP),
    "events_funnel": (q_events_funnel, SQL_EVENTS_FUNNEL),
    "brand_year_trend": (q_brand_year_trend, SQL_BRAND_YEAR_TREND),
    "customer_running_total": (
        q_customer_running_total,
        SQL_CUSTOMER_RUNNING_TOTAL,
    ),
    "value_percentiles": (q_value_percentiles, SQL_VALUE_PERCENTILES),
    "events_hopping": (q_events_hopping, SQL_EVENTS_HOPPING),
    "events_retention": (q_events_retention, SQL_EVENTS_RETENTION),
    "supplier_market_share": (
        q_supplier_market_share,
        SQL_SUPPLIER_MARKET_SHARE,
    ),
    "discount_forecast": (q_discount_forecast, SQL_DISCOUNT_FORECAST),
    "returned_revenue": (q_returned_revenue, SQL_RETURNED_REVENUE),
    "late_priority_lines": (q_late_priority_lines, SQL_LATE_PRIORITY_LINES),
    "small_qty_revenue": (q_small_qty_revenue, SQL_SMALL_QTY_REVENUE),
    "waiting_suppliers": (q_waiting_suppliers, SQL_WAITING_SUPPLIERS),
    "min_cost_supplier": (q_min_cost_supplier, SQL_MIN_COST_SUPPLIER),
    "important_parts": (q_important_parts, SQL_IMPORTANT_PARTS),
    "dominant_suppliers": (q_dominant_suppliers, SQL_DOMINANT_SUPPLIERS),
    "nation_market_share": (q_nation_market_share, SQL_NATION_MARKET_SHARE),
}
