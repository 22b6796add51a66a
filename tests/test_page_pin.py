"""Page-store fetch-join regimes. CrawlEngine._prepare_pages() prepares
the pages table once per run and every wave joins it; the regime decides
what the pages side pays:

- default: localCheckpoint once, AQE picks per-wave strategy (broadcast at
  small sizes).
- bucketed store (pages_bucketed=True): the at-scale answer — the on-disk
  layout (write_bucketed by url_norm) already co-locates the join, paid
  once at write time.

Plan-asserted mechanism + engine-level output parity across both regimes."""

import pyspark.sql.functions as F
import pytest

from brink_spark.plans.crawl import CrawlEngine
from brink_spark.sources.sitegen import generate_site, pages_to_spark


def _final_plan(df) -> str:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0]


def _join_exchanges(df) -> int:
    """ENSURE_REQUIREMENTS exchanges in the final adaptive plan — the ones
    the join itself forces. Excludes the '== Initial Plan ==' echo AQE
    appends to toString()."""
    return sum(
        1
        for ln in _final_plan(df).splitlines()
        if "ENSURE_REQUIREMENTS" in ln and "ReusedExchange" not in ln
    )


def test_bucketed_pages_join_exchanges_only_the_probe(spark, tmp_path):
    from brink_spark.sources.corpus import write_bucketed

    pages = spark.range(0, 5_000).select(
        F.concat(F.lit("https://x/"), F.col("id")).alias("url_norm"),
        F.repeat(F.lit("y"), 100).alias("body"),
    )
    write_bucketed(
        pages, "bk_pages_t", buckets=4, key="url_norm",
        path=str(tmp_path / "pages"),
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        # the engine's exact shape: rename the bucket key to the join key,
        # then the per-wave left join
        bp = spark.table("bk_pages_t").withColumnRenamed("url_norm", "_fk")
        probe = spark.range(0, 300).select(
            F.concat(F.lit("https://x/"), F.col("id") * 7).alias("_fk")
        )
        joined = probe.join(bp, "_fk", "left")
        joined.collect()
        # the bucketed side's exchange AND sort are paid at write time;
        # only the probe exchanges (+ sorts, under SMJ)
        assert _join_exchanges(joined) == 1
        assert joined.filter(F.col("body").isNotNull()).count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS bk_pages_t")


def test_all_page_regimes_agree(spark, tmp_path):
    from brink_spark.functions.udfs import make_normalize_udf
    from brink_spark.operators.redirects import collapse_redirect_chains
    from brink_spark.sources.corpus import write_bucketed

    fx = generate_site("tiny", 7)
    # the bucketed store contract: redirect chains collapsed at WRITE time
    # (the fixture has live 3xx rows, so this is exercised for real)
    raw = pages_to_spark(spark, fx).select(
        "url_norm", "status", "content_length", "body", "redirect_to"
    )
    collapsed = collapse_redirect_chains(
        raw,
        make_normalize_udf(
            fx.config.ignore_get_parameters, fx.config.fuzzy_get_parameter_checks
        ),
    )
    write_bucketed(
        collapsed, "bk_pages_e", buckets=4, key="url_norm",
        path=str(tmp_path / "bpages"),
    )
    visited = {}
    try:
        for mode, kw in (
            ("ckpt", {}),
            ("bucketed", dict(pages=spark.table("bk_pages_e"), pages_bucketed=True)),
        ):
            eng = CrawlEngine(spark, fx.config, str(tmp_path / mode), **kw)
            eng.run(fixture=fx, max_waves=4)
            man = eng.store.read_manifest()
            rows = (
                eng.store.read_asof(spark, "visited", man.last_wave)
                .select("url_norm", "wave")
                .collect()
            )
            visited[mode] = sorted((r["url_norm"], r["wave"]) for r in rows)
    finally:
        spark.sql("DROP TABLE IF EXISTS bk_pages_e")
    assert visited["ckpt"] == visited["bucketed"]
    assert len(visited["ckpt"]) > 0


def test_bucketed_mode_rejects_uncollapsed_redirects(spark, tmp_path):
    pages = spark.createDataFrame(
        [("https://x/a", "b", None)], "url_norm string, body string, redirect_to string"
    )
    with pytest.raises(ValueError, match="redirect"):
        CrawlEngine(
            spark,
            generate_site("tiny", 7).config,
            str(tmp_path / "s"),
            pages=pages,
            pages_bucketed=True,
        )
