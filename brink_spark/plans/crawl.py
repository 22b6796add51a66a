"""The wave-iterative crawl plan: brink's worker pipeline as DataFrame jobs.

One wave = one pass of the per-URL worker pipeline (brink.go:72-138) over
the whole frontier, expressed relationally (SURVEY.md §3.4):

    normalize (B1, pandas UDF) → malformed drop (C7)
    → seen-set split: Bloom prefilter + exact anti/inner join (E1/H1/H2)
    → fetch units (first edge wins the fetch; min-struct over edges)
    → robots gate (extension) → per-host politeness top-k (extension)
    → fetch = equi-join vs pages (A1/H4) + domain/content gates (C1/C2)
    → visited append + Bloom insert
    → handler rows (A4): first edge cached=false with parsed spans (D1),
      other edges + previously-seen edges cached=true, empty body
    → traversal gate (C4 ∧ ¬C3) → link spans → C5/C6 + trim → resolve (D2)
    → next frontier = deferred ∪ new edges

State lives in the CrawlStore (parquet snapshots; Iceberg-shaped): every
wave's outputs are written then re-read, which both cuts the iterative
lineage (the classic loop trap, SURVEY.md §4.2) and makes the loop
checkpoint-resumable: crash mid-wave → the manifest still names the last
committed wave and the wave is recomputed idempotently.

Scale notes (the 10^10 design point):
- all heavy joins key on ``url_norm`` — uniform hash distribution, so the
  hot-host skew never concentrates a join partition;
- the only host-keyed operation is the politeness window, which is
  salted two-phase top-k (operators/politeness.py);
- the fetch+parse stage (``CrawlEngine._fetch_parse``): in synthetic mode
  the parse runs in the pages equi-join's own reduce stage, already spread
  by ``url_norm``; the raw ``xxhash64(host, url_norm)`` salt repartitions
  it only in http mode (before the ``mapInPandas`` socket fetch, so one
  mega-host cannot serialize a wave while batches stay mostly same-host
  for connection reuse) or when ``fetch_partition_count() > 0``;
- visited is append-only with periodic compaction; the Bloom prefilter
  keeps the anti-join's build side tiny regardless of |visited|.
"""

from __future__ import annotations

import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession, Window, functions as F
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from brink_spark.config import CrawlConfig
from brink_spark.functions.spans import SPANS_TYPE
from brink_spark.functions.udfs import make_normalize_udf, parse_spans_udf
from brink_spark.operators.filters import (
    allowed_domain_keys,
    domain_allowed,
    path_forbidden_expr,
    robots_rules_per_host,
    with_robots_denied,
)
from brink_spark.operators.politeness import apply_politeness, budget_per_host
from brink_spark.operators.redirects import collapse_redirect_chains
from brink_spark.operators.seen import BloomSeenSet, mark_seen
from brink_spark.queries.iterate import cut as _cut
from brink_spark.storage import CrawlStore, Manifest

FRONTIER_SCHEMA = StructType(
    [
        StructField("linked_from", StringType()),
        StructField("url", StringType()),
        StructField("priority", IntegerType()),
        # link-hop distance from the seed set (seeds 0; a page's depth is
        # the min depth over its discovering edges). Powers the max_depth
        # trap guard; carried even when the guard is off.
        StructField("depth", IntegerType()),
    ]
)


# the fetchlog outcomes that were real requests; its other rows
# (robots_denied, deferred, host_capped, template_capped) never fetched
ATTEMPT_OUTCOMES = ("miss", "not_allowed", "too_large", "ok", "not_modified")


def _fold_counts(
    prev: DataFrame | None, rows: DataFrame, key: str, name: str
) -> DataFrame:
    """Cumulative ``(key, name)`` count table: ``rows`` counted per ``key``
    and sum-merged into ``prev``. One tiny agg job; the eager
    localCheckpoint keeps the table from re-deriving earlier waves and lets
    the next wave broadcast a concrete relation."""
    counts = rows.groupBy(key).agg(F.count(F.lit(1)).alias(name))
    if prev is not None:
        counts = prev.unionByName(counts).groupBy(key).agg(F.sum(name).alias(name))
    return counts.localCheckpoint(eager=True)


@dataclass
class CrawlSummary:
    waves: int = 0
    total_fetched: int = 0
    total_ok: int = 0
    total_cached: int = 0
    total_deferred: int = 0
    total_new_links: int = 0
    wall_seconds: float = 0.0
    wave_metrics: list[dict] = field(default_factory=list)

    def add(self, m: dict) -> None:
        """Add one wave's metrics to the run totals."""
        self.wave_metrics.append(m)
        self.total_fetched += m.get("n_fetched", 0)
        self.total_ok += m.get("n_ok", 0)
        self.total_cached += m.get("n_cached", 0)
        self.total_deferred += m.get("n_deferred", 0)
        self.total_new_links += m.get("n_new_links", 0)

    def summary(self) -> str:
        return (
            f"waves={self.waves} fetched={self.total_fetched} ok={self.total_ok} "
            f"cached={self.total_cached} deferred={self.total_deferred} "
            f"links={self.total_new_links} wall={self.wall_seconds:.1f}s"
        )


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        config: CrawlConfig,
        store_dir: str,
        pages: DataFrame | None = None,
        robots: DataFrame | None = None,
        store: CrawlStore | None = None,
        pages_bucketed: bool = False,
    ):
        self.spark = spark
        self.config = config
        # pluggable table store: parquet-backed by default; pass an
        # IcebergCrawlStore (storage_iceberg.py) to commit every wave
        # through real Iceberg snapshots
        self.store = store if store is not None else CrawlStore(store_dir)
        self.pages = pages
        # pages_bucketed declares that ``pages`` scans a catalog table
        # hash-bucketed (+ sorted) BY url_norm (sources/corpus.py
        # write_bucketed): run() then leaves the scan untouched so every
        # wave's fetch join co-locates against the on-disk layout — no
        # pages-side exchange or sort, ever. Redirect chains must be
        # collapsed at write time (a union would destroy the layout).
        self.pages_bucketed = pages_bucketed
        if pages_bucketed and pages is not None and "redirect_to" in pages.columns:
            raise ValueError(
                "pages_bucketed=True requires redirect chains collapsed at "
                "write time (drop redirect_to from the bucketed store)"
            )
        self.robots = robots
        self.allowed_keys = allowed_domain_keys(config)
        # asNondeterministic: the wave plan filters on url_norm (a field of
        # this UDF's output struct); Catalyst pushes that filter below the
        # projection and re-evaluates the UDF on both sides (guide §4.4's
        # duplicated-BatchEvalPython shape — observed as two stacked
        # ArrowEvalPython nodes per frontier scan). The marker forbids the
        # copy, so each frontier row is normalized once. Results are
        # unchanged: the function is pure; the marker only constrains the
        # optimizer. The marker is engine-wide, not wave-local: redirect
        # collapse, sitemap discovery and rank reprioritization share this
        # UDF, so filter pushdown below it is off in all of them, and none
        # may use it directly in a join condition (analysis rejects
        # nondeterministic expressions there).
        self.norm_udf = make_normalize_udf(
            config.ignore_get_parameters, config.fuzzy_get_parameter_checks
        ).asNondeterministic()
        # the approximate seen-prefilter (sharded Bloom); a wave probes it
        # only once total visited reaches bloom_min_visited (_mark), below
        # that mark_seen is exact-join only
        self.bloom = BloomSeenSet(
            config.bloom_shards,
            config.bloom_bits_per_shard,
            config.bloom_num_hashes,
        )
        # the per-run robots rule and budget tables (_load_run_state)
        self._rules: DataFrame | None = None
        self._budgets: DataFrame | None = None
        # cumulative (host, _taken) fetch-attempt counts — the
        # max_pages_per_host trap-guard state. None until the first wave
        # fetches; every run() rebuilds it from committed fetchlog
        # (_rebuild_attempts); stays None forever when the guard is off.
        self._host_taken: DataFrame | None = None
        # cumulative (template, _ttaken) fetch-attempt counts — the
        # max_pages_per_template trap-guard state (functions/templates.py
        # key). Same lifecycle as _host_taken; the per-wave gate joins
        # only the SATURATED templates (taken >= cap), so the broadcast
        # side holds just the actual traps, never every template.
        self._template_taken: DataFrame | None = None
        # cumulative (url_norm, _mn) transport-miss counts — retry_misses
        # state (same lifecycle as _host_taken; stays None while the
        # feature is off)
        self._miss_counts: DataFrame | None = None
        # refetch_skip_unchanged comparison set: (url_norm, prior_hash) of
        # expired entries, computed once per run() (expiry only happens
        # between runs). None when the flag is off or nothing is expired.
        self._prior_hashes: DataFrame | None = None
        # shared cookie jar (reference brink.go:267-274): response cookies
        # merge in by name, overwriting. Wave-discretized semantics: cookies
        # set by pages fetched in wave K apply to requests from wave K+1 on.
        self.cookie_jar: dict[str, str] = {}
        self.auth_suppressed_since_wave: int | None = None
        self._reset_request_state()
        # post-durability hook: called with the wave's metrics dict AFTER
        # the wave's deferred writes AND manifest commit land on disk —
        # the point where a logged wave can no longer disagree with the
        # store on resume (the CLI's per-wave JSONL line hangs off this)
        self.on_wave_committed = None
        self._stop_requested = False  # set by request_stop()

    def _reset_request_state(self) -> None:
        """The request state a fresh crawl starts from: the config's jar,
        Authorization suppressed from wave 0 only if a config cookie is a
        session cookie."""
        self.cookie_jar = dict(self.config.cookies)
        self.auth_suppressed_since_wave = None
        self._check_auth_suppression(wave=0)

    def _check_auth_suppression(self, wave: int) -> None:
        """brink.go:177-184: once the jar holds a cookie whose name matches a
        session cookie name (case-insensitive), the Authorization header is
        dropped from every later request."""
        if self.auth_suppressed_since_wave is not None:
            return
        session_lower = {s.lower() for s in self.config.session_cookie_names}
        if session_lower and any(n.lower() in session_lower for n in self.cookie_jar):
            self.auth_suppressed_since_wave = wave

    def request_headers(self) -> dict[str, str]:
        """Headers the next wave's requests would carry: config headers/auth
        evaluated against the RUNTIME cookie jar."""
        return self.config.with_(
            cookies=tuple(sorted(self.cookie_jar.items()))
        ).request_headers()

    def fetch_partition_count(self) -> int:
        """Fetch-stage partition count. 0 = AQE-managed (the default): the
        salt key is the raw 64-bit hash (unbounded cardinality — the r1
        lit(64) modulus capped a 4N-executor cluster at 64-way parallelism),
        and leaving the count to AQE lets it coalesce/split the exchange to
        the wave's actual volume (an explicit count disables that and
        measured ~15% slower at bench scale). Explicit override: the
        fetch-partitions config key, else the reference worker-count hint
        (crawler.go:57) when it EXCEEDS the cluster's natural parallelism
        (a hint may raise the floor, never cap below the cluster)."""
        if self.config.fetch_partitions > 0:
            return self.config.fetch_partitions
        natural = max(
            int(self.spark.conf.get("spark.sql.shuffle.partitions", "200")),
            self.spark.sparkContext.defaultParallelism,
        )
        if self.config.worker_count > natural:
            return self.config.worker_count
        return 0  # AQE-managed

    # Frontier row count of the NEXT wave, observed for free on the frontier
    # write (Observation piggybacks on the write job — no extra action).
    # None = unknown (resume mid-crawl) → one cheap parquet count() fallback.
    _pending_frontier_count: int | None = None

    # ------------------------------------------------------------------
    @staticmethod
    def _seed_rows(seeds: DataFrame) -> DataFrame:
        """A3: seeds as frontier rows with the literal linked_from='start'
        sentinel (brink.go:33) at depth 0."""
        return seeds.select(
            F.lit("start").alias("linked_from"),
            F.col("url"),
            F.col("priority").cast("int").alias("priority"),
            F.lit(0).alias("depth"),
        )

    def seed_frontier(self, seeds: DataFrame) -> None:
        """Write ``seeds`` as the wave-0 frontier."""
        obs = Observation("seed_frontier")
        frontier0 = self._seed_rows(seeds).observe(obs, F.count(F.lit(1)).alias("n"))
        self.store.write(frontier0, "frontier", 0)
        self._pending_frontier_count = obs.get["n"]

    def expire_visited(self, urls: DataFrame) -> None:
        """Recrawl support: remove the given ``url_norm``s from the LIVE
        seen set. A tombstone (url_norm, expired_asof_wave=last committed
        wave) drops every visited row at or below it, so the next encounter
        FETCHES again and the re-fetch (higher wave) wins over the
        tombstone. The Bloom shards keep the expired URLs' bits: a stale
        positive only falls through to the exact join against visited,
        which the tombstone already filters (never incorrect). Time-travel
        reads keep showing pre-expiry history; compaction materializes the
        post-expiry state and clears covered tombstones."""
        manifest = self.store.read_manifest() or Manifest()
        self.store.write_tombstones(urls, manifest.last_wave)

    def recrawl_order(self, limit: int | None = None) -> DataFrame:
        """Freshness-driven recrawl schedule (Cho & Garcia-Molina change-rate
        estimation) over the committed visited history: rank every url by an
        exact-integer staleness score ``n_changes * age * 1e6 div span``
        where waves are the crawl's clock — ``n_changes`` counts fingerprint
        transitions between consecutive observations of the same url (the
        content hash when the store carries one, else the HTTP status),
        ``age`` is waves since the url was last fetched, ``span`` the waves
        its history covers. Bigger score = changes often AND hasn't been
        re-checked recently = refetch first.

        Reads the RAW visited append-log (tombstones NOT applied — expired
        rows ARE the observation history). Only urls with >=2 observations
        (i.e. at least one prior expire->refetch cycle) are rankable; a
        first recrawl of everything is just ``expire_visited`` + reseed.

        Returns a seeds-shaped DataFrame ``(url, priority)`` with priority =
        the staleness rank (0 = stalest), so feeding it straight into
        ``expire_visited`` + ``run(resume=True, seeds=...)`` makes the
        politeness top-k serve the stalest urls first. Plan: one keyed
        window (partition-local lag per url), one partial-agg groupBy
        reusing the same key, a 1-row broadcast scalar for the clock; the
        final sort is top-k when ``limit`` is set. The oracle-checkable
        twin of this ranking is queries/relational.py q_recrawl_priority.
        """
        manifest = self.store.read_manifest() or Manifest()
        paths = self.store.visited_paths(manifest)
        if not paths:
            return self.spark.createDataFrame([], "url string, priority int")
        hist = self.spark.read.parquet(*paths)
        fp = (
            F.coalesce(F.col("content_hash"), F.col("status").cast("string"))
            if "content_hash" in hist.columns
            else F.col("status").cast("string")
        )
        hist = hist.select("url_norm", "wave", fp.alias("_fp"))
        w = Window.partitionBy("url_norm").orderBy("wave")
        per = (
            hist.withColumn("_prev", F.lag("_fp").over(w))
            .groupBy("url_norm")
            .agg(
                F.count(F.lit(1)).alias("n_obs"),
                F.sum(
                    F.when(
                        F.col("_prev").isNotNull()
                        & (F.col("_prev") != F.col("_fp")),
                        1,
                    ).otherwise(0)
                ).alias("n_changes"),
                F.min("wave").alias("first_wave"),
                F.max("wave").alias("last_wave"),
            )
        )
        now = hist.agg(F.max("wave").alias("_now"))
        ranked = (
            per.join(F.broadcast(now))
            .where(
                (F.col("n_obs") >= 2) & (F.col("last_wave") > F.col("first_wave"))
            )
            .withColumn(
                "_staleness",
                F.expr(
                    "(n_changes * (_now - last_wave) * 1000000)"
                    " div (last_wave - first_wave)"
                ),
            )
        )
        # rank -> priority: a global row_number window. Single-partition by
        # construction, but the input here is the per-URL rollup of urls
        # with >=2 observations — bounded by the recrawl set, never by
        # |visited| — and a total order is exactly what a schedule is.
        rw = Window.orderBy(F.col("_staleness").desc(), "url_norm")
        out = ranked.select(
            F.col("url_norm").alias("url"),
            (F.row_number().over(rw) - 1).cast("int").alias("priority"),
        )
        return out.limit(limit) if limit is not None else out

    def template_report(self, limit: int | None = None) -> DataFrame:
        """Per-template fan-out report over the committed fetchlog — the
        tuning companion to ``max-pages-per-template``: run a capless (or
        generously-capped) crawl, read the report, and the templates whose
        ``n_urls`` dwarf everything else ARE the traps (feed them to
        ``preblocked-templates``, or pick a cap above the legitimate
        templates' fan-out). One partial-agg groupBy on the template key
        (functions/templates.py) — output cardinality is hosts × templates
        at any crawl size; ``n_capped`` counts units a guard already
        dropped so a re-run's report shows the guard working. The
        oracle-checkable analysis twin over the synthetic tables is
        queries/relational.py q_url_template_traps."""
        from brink_spark.functions.templates import url_template

        manifest = self.store.read_manifest() or Manifest()
        if manifest.last_wave < 0:
            return self.spark.createDataFrame(
                [],
                "template string, n_urls long, n_attempts long, n_capped long",
            )
        flog = self.store.read_asof(
            self.spark, "fetchlog", manifest.last_wave
        ).withColumn("template", url_template(F.col("url_norm")))
        out = (
            flog.filter(F.col("outcome").isin(*ATTEMPT_OUTCOMES, "template_capped"))
            .groupBy("template")
            .agg(
                F.countDistinct(
                    F.when(F.col("outcome") != "template_capped", F.col("url_norm"))
                ).alias("n_urls"),
                F.count_if(F.col("outcome") != "template_capped").alias(
                    "n_attempts"
                ),
                F.count_if(F.col("outcome") == "template_capped").alias(
                    "n_capped"
                ),
            )
            .orderBy(F.col("n_urls").desc(), "template")
        )
        return out.limit(limit) if limit is not None else out

    def request_stop(self) -> None:
        """Ask the current run() to stop before its next wave. Waves already
        started finish and commit, then run() returns as it does on an empty
        frontier; resume continues from the next wave. Safe to call from a
        signal handler or the ``on_wave_committed`` hook."""
        self._stop_requested = True

    def _prepare_pages(self) -> DataFrame | None:
        """The fetch-join-ready pages side every wave joins against: the
        payload columns keyed by ``_fk``, 3xx chains collapsed, prepared once
        per run. ``None`` in http mode, where the wave fetches over real
        sockets."""
        if self.config.fetch_mode == "http":
            return None
        if self.pages is None:
            raise ValueError("synthetic fetch_mode requires a pages table")
        cols = self.pages.columns
        pages_slim = self.pages.select(
            "url_norm",
            F.col("status").alias("page_status"),
            "content_length",
            "body",
            *[c for c in ("set_cookie", "redirect_to") if c in cols],
        )
        # 3xx chains collapse ONCE per run (Go's http.Client follows
        # redirects inside Fetch, brink.go:194; operators/redirects.py has
        # the full semantics) — every wave's fetch join then sees final
        # payloads under the original url_norm keys
        pages_slim = collapse_redirect_chains(pages_slim, self.norm_udf)
        pages_slim = pages_slim.withColumnRenamed("url_norm", "_fk")
        if self.pages_bucketed:
            # the table is already hash-bucketed + sorted by url_norm on disk
            # (sources/corpus.py write_bucketed): the scan reports the
            # co-located layout, so every wave's join exchanges and sorts
            # ONLY the frontier side. Materializing would destroy the layout.
            return pages_slim
        # default: materialize once (kills the per-wave recompute — in
        # fixture mode each wave would re-serialize the table from the
        # driver) and let AQE pick the per-wave strategy (broadcast at
        # small sizes).
        return pages_slim.localCheckpoint(eager=True)

    def _fold_attempts(self, attempts: DataFrame) -> None:
        """Fold fetch attempts (one row per request, carrying ``host``,
        ``url_norm`` and ``outcome``) into the lifetime counts each enabled
        feature reads: per host (max_pages_per_host), per URL template
        (max_pages_per_template, keyed by the native template expression —
        the table grows with DISTINCT templates, not URLs) and per-url
        transport misses (retry_misses)."""
        cfg = self.config
        if cfg.max_pages_per_host > 0:
            self._host_taken = _fold_counts(
                self._host_taken, attempts, "host", "_taken"
            )
        if cfg.max_pages_per_template > 0:
            from brink_spark.functions.templates import url_template

            self._template_taken = _fold_counts(
                self._template_taken,
                attempts.select(url_template(F.col("url_norm")).alias("template")),
                "template",
                "_ttaken",
            )
        if cfg.retry_misses > 0:
            self._miss_counts = _fold_counts(
                self._miss_counts,
                attempts.filter(F.col("outcome") == "miss"),
                "url_norm",
                "_mn",
            )

    def _rebuild_attempts(self, last_wave: int) -> None:
        """Set the lifetime counts to the fold of every COMMITTED fetchlog
        attempt through ``last_wave``. Overwrites in-memory state from a
        crashed in-process run or an earlier run of this engine; with no
        committed wave (a fresh run) every count is None.

        Preblocked templates (the streaming monitor's feedback path,
        streaming/template_monitor.py) enter the run already saturated —
        merged as MAX with the folded counts, so a template is saturated
        whether the evidence came from this store's fetchlog or from the
        online monitor."""
        self._host_taken = self._template_taken = self._miss_counts = None
        cfg = self.config
        counted = max(
            cfg.max_pages_per_host, cfg.max_pages_per_template, cfg.retry_misses
        )
        if last_wave >= 0 and counted > 0:
            self._fold_attempts(
                self.store.read_asof(self.spark, "fetchlog", last_wave).filter(
                    F.col("outcome").isin(*ATTEMPT_OUTCOMES)
                )
            )
        if cfg.max_pages_per_template > 0 and cfg.preblocked_templates:
            pre = self.spark.createDataFrame(
                [(t, cfg.max_pages_per_template) for t in cfg.preblocked_templates],
                "template string, _ttaken long",
            )
            if self._template_taken is not None:
                pre = (
                    self._template_taken.unionByName(pre)
                    .groupBy("template")
                    .agg(F.max("_ttaken").alias("_ttaken"))
                )
            self._template_taken = pre.localCheckpoint(eager=True)

    def _sitemap_seeds(self, seeds: DataFrame) -> DataFrame:
        """Sitemap bootstrap: each entry host's robots.txt ``Sitemap:`` lines
        resolve to sitemap XML in the pages table; parsed URLs join wave 0
        as ordinary seeds (their mapped priority decides fetch order). The
        entry list collect is bounded: seed lists are human-provided
        config, never corpus-sized."""
        if not self.config.sitemap_discovery:
            return seeds
        if self.pages is None:
            # http mode has no pages table to resolve robots/sitemap
            # bodies against — warn instead of silently no-opping the
            # accepted TOML key (a live-crawl sitemap fetch stage is a
            # deliberate non-goal: wave-0 bootstrap would need its own
            # fetch round-trip before the frontier exists)
            import warnings

            warnings.warn(
                "sitemap_discovery=True but the engine has no pages "
                "table (fetch_mode='http'): no sitemap seeds will be "
                "discovered",
                stacklevel=4,  # run()'s caller
            )
            return seeds
        from brink_spark.sources.sitemap import discover_sitemap_seeds

        entry = [r["url"] for r in seeds.select("url").collect()]
        disc = discover_sitemap_seeds(
            self.pages,
            entry,
            self.norm_udf,
            self.config.ignore_get_parameters,
            self.config.fuzzy_get_parameter_checks,
        )
        return seeds.select("url", F.col("priority").cast("int")).unionByName(
            disc.select("url", F.col("priority").cast("int"))
        )

    def _open(
        self, fixture, seeds: DataFrame | None, resume: bool
    ) -> tuple[Manifest, int]:
        """Bind the fixture's tables, then open the store at the first wave
        to run. A fresh run resets the store, writes the wave-0 frontier
        and resets the request state. A resume drops uncommitted partials,
        restores the request state committed with the last wave and unions
        any new seeds into the next wave's frontier."""
        if fixture is not None:
            from brink_spark.sources.sitegen import (
                pages_to_spark,
                robots_to_spark,
                seeds_to_spark,
            )

            if self.pages is None:
                self.pages = pages_to_spark(self.spark, fixture)
            if self.robots is None:
                self.robots = robots_to_spark(self.spark, fixture)
            if seeds is None and not resume:
                seeds = seeds_to_spark(self.spark, fixture)

        manifest = self.store.read_manifest() if resume else None
        if manifest is None:
            if seeds is None:  # checked before the reset wipes the store
                raise ValueError("fresh run requires seeds")
            self.store.reset()
            self.seed_frontier(self._sitemap_seeds(seeds))
            # an earlier run of this engine may have grown the jar
            self._reset_request_state()
            return Manifest(), 0

        wave = manifest.last_wave + 1
        self.store.clean_uncommitted(manifest.last_wave)
        # any carried frontier count may describe a wave the crash threw
        # away — recount once from parquet instead
        self._pending_frontier_count = None
        # cookies from committed waves survive a crash; the suppressed
        # Authorization header stays suppressed. Pre-jar manifests (None)
        # keep the constructor's config-derived jar.
        if manifest.cookie_jar is not None:
            self.cookie_jar = dict(manifest.cookie_jar)
            self.auth_suppressed_since_wave = manifest.auth_suppressed_since_wave
            self._check_auth_suppression(wave)
        # new seeds on resume (the recrawl companion to expire_visited)
        if seeds is not None:
            extra = self._seed_rows(seeds)
            if self.store.has("frontier", wave):
                existing = self.store.read(self.spark, "frontier", wave).select(
                    "linked_from", "url", "priority", "depth"
                )
                extra = existing.unionByName(extra)
            self.store.rewrite(extra, "frontier", wave)
        return manifest, wave

    def _load_run_state(self, manifest: Manifest) -> DataFrame | None:
        """Bind the per-run state every wave reads and return the prepared
        pages side (``_prepare_pages``). The trap-guard and retry counts
        come from the store, never from an earlier run of this engine.

        The robots rule table and the per-host budget table are CONSTANT
        within a run, yet both are groupBy aggregations whose subtree would
        be re-planned and re-executed inside every wave's plan (twice where
        the politeness union references them from both branches). One eager
        localCheckpoint each turns every wave's occurrence into a broadcast
        of a concrete host-sized relation, O(#hosts) at any scale.

        HTTP-304-style fast path: the expired-entry hash set is bounded by
        the tombstone count and checkpointed, so the per-wave left join
        broadcasts a tiny relation instead of re-scanning visited."""
        cfg = self.config
        self._rebuild_attempts(manifest.last_wave)
        self._rules = self._budgets = None
        if self.robots is not None:
            self._rules = robots_rules_per_host(self.robots).localCheckpoint(
                eager=True
            )
            self._budgets = budget_per_host(
                self.robots, cfg.politeness_budget
            ).localCheckpoint(eager=True)
        pages_slim = self._prepare_pages()
        self._prior_hashes = None
        if cfg.refetch_skip_unchanged:
            ph = self.store.read_expired_visited(self.spark, manifest)
            if ph is not None:
                self._prior_hashes = ph.localCheckpoint(eager=True)
        return pages_slim

    def _commit_wave(self, finish, manifest: Manifest, m: dict) -> None:
        """Make one wave durable: drain its deferred writes (``finish``),
        swap the manifest, then tell ``on_wave_committed``."""
        finish()
        self.store.commit(manifest)
        if self.on_wave_committed is not None:
            self.on_wave_committed(m)

    def run(
        self,
        fixture=None,
        seeds: DataFrame | None = None,
        resume: bool = False,
        max_waves: int | None = None,
    ) -> CrawlSummary:
        """Crawl waves until the frontier empties, ``max_waves`` is reached
        or ``request_stop()`` is called: ``_open`` the store, ``_load_run_state``,
        then per wave ``_run_wave``, advance the in-memory manifest and
        submit ``_commit_wave`` to a one-worker commit pool.

        Cross-wave pipelining: wave N's deferred writes (fetchlog, results,
        lineage, metrics) and manifest commit drain on the commit worker
        WHILE wave N+1's stage job runs (``pipeline_waves=False`` joins each
        commit right after submitting it). The commit Future is joined
        after each ``_run_wave`` (one commit in flight; its error surfaces
        before the manifest moves on), before a rank boundary (its
        ``_compute_ranks`` reads the previous wave's deferred results) and
        before compaction (it rewrites manifest-tracked state). The
        in-memory manifest advances before the commit is submitted, so wave
        N+1 sees last_wave=N; the DISK commit still happens strictly after
        every wave-N write, so crash-resume semantics are unchanged. A loop
        failure chains a failed in-flight commit as its ``__cause__``."""
        cfg = self.config
        max_waves = cfg.max_waves if max_waves is None else max_waves
        summary, t0 = CrawlSummary(), time.time()
        manifest, wave = self._open(fixture, seeds, resume)
        pages_slim = self._load_run_state(manifest)
        K = cfg.rank_priority_every
        with ThreadPoolExecutor(max_workers=1) as committer:
            commit = committer.submit(lambda: None)  # the in-flight wave commit
            try:
                while wave < max_waves and not self._stop_requested:
                    if K > 0 and wave > 0 and wave % K == 0:
                        commit.result()  # a rank boundary reads deferred results
                    out = self._run_wave(wave, manifest, pages_slim)
                    commit.result()
                    if out is None:  # empty frontier → graceful stop (F2)
                        break
                    m, finish = out
                    manifest.last_wave = wave
                    manifest.total_visited += m.get("n_ok", 0) + m.get(
                        "n_not_modified", 0
                    )
                    manifest.cookie_jar = dict(self.cookie_jar)
                    manifest.auth_suppressed_since_wave = (
                        self.auth_suppressed_since_wave
                    )
                    commit = committer.submit(self._commit_wave, finish, manifest, m)
                    if not cfg.pipeline_waves:
                        commit.result()
                    summary.add(m)
                    if cfg.compact_visited_every > 0 and (
                        (wave + 1) % cfg.compact_visited_every == 0
                    ):
                        commit.result()
                        self.store.compact_visited(self.spark, manifest)
                    wave += 1
                commit.result()
            except BaseException as err:  # .exception() joins the commit
                if commit.exception() not in (None, err):
                    raise err from commit.exception()
                raise
            finally:
                # a stop request ends this run only, however the run ends
                self._stop_requested = False
        manifest.done = True
        self.store.commit(manifest)
        summary.waves, summary.wall_seconds = wave, time.time() - t0
        return summary

    # ------------------------------------------------------------------
    # link-authority ranking (the PageRank -> frontier-priority closed loop)
    RANK_ITERS = 3
    RANK_BUCKET_DIV = 10_000
    RANK_BUCKET_CAP = 2_000_000_000  # |priority| stays inside int32

    def _compute_ranks(self, upto_wave: int) -> DataFrame:
        """Integer PageRank over the crawl's OWN link graph so far: edges =
        every handler row's normalize(linked_from) -> url_norm from waves
        [0, upto_wave) (sources/corpus.py linkgraph_from_store shape). Same
        all-integer arithmetic as queries/relational.py q_graph_pagerank
        (ranks in millionths, damping 85/100 via integer div) so the oracle
        is bit-exact. At scale each iteration is one shuffle keyed on dst;
        RANK_ITERS is fixed so resume recomputes identical ranks."""
        spark, store = self.spark, self.store
        # backend-agnostic cumulative read (parquet dir union / Iceberg
        # _wave <= K filter)
        res = store.read_asof(spark, "results", upto_wave - 1)
        edges = (
            res.filter(F.col("linked_from") != "start")
            .withColumn("_p", self.norm_udf("linked_from"))
            .select(
                F.col("_p.url_norm").alias("src"), F.col("url_norm").alias("dst")
            )
            .filter(F.col("src").isNotNull())
            .distinct()
        )
        nodes = (
            edges.select(F.col("src").alias("node"))
            .union(edges.select(F.col("dst").alias("node")))
            .distinct()
        )
        deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
        # lineage cuts (queries/iterate.py): edges is re-joined and ranks
        # re-referenced every iteration; without the cuts the plan — and
        # the results-table read + normalize UDF under it — doubles per
        # round, driver planning cost growing 2^RANK_ITERS
        edges = _cut(edges)
        nodes = _cut(nodes)
        ranks = nodes.withColumn("rank", F.lit(1_000_000).cast("bigint"))
        for _ in range(self.RANK_ITERS):
            contrib = (
                edges.join(deg, "src")
                .join(ranks.withColumnRenamed("node", "src"), "src")
                .select("dst", F.expr("rank div d").alias("c"))
            )
            insum = contrib.groupBy("dst").agg(F.sum("c").alias("insum"))
            ranks = _cut(
                nodes.join(
                    insum.withColumnRenamed("dst", "node"), "node", "left"
                ).select(
                    "node",
                    (
                        F.lit(150_000)
                        + F.expr("(85 * coalesce(insum, 0L)) div 100")
                    )
                    .cast("bigint")
                    .alias("rank"),
                )
            )
        return ranks.select(F.col("node").alias("url_norm"), "rank")

    def _reprioritize_frontier(self, wave: int, frontier: DataFrame) -> DataFrame:
        """The PageRank -> priority closed loop, applied at every K-wave
        boundary: recompute ranks over the committed waves [0, wave) and
        re-stamp the CURRENT frontier — each edge's priority becomes its
        PARENT page's bucketed authority (negated: lower value = fetched
        earlier). The parents of wave-B frontier edges were fetched in
        waves < B, so they are in the rank graph by construction; unranked
        parents (and 'start' seeds) keep their existing priority. Edges
        discovered after the boundary inherit their unit's (re-stamped)
        priority until the next boundary — the OPIC-style propagation.
        The ranks snapshot persists as the ``ranks`` store table, so
        crash-resume re-reads (or deterministically recomputes) it."""
        K = self.config.rank_priority_every
        if K <= 0 or wave == 0 or wave % K != 0:
            return frontier
        if not self.store.has("ranks", wave):
            self.store.write(self._compute_ranks(wave), "ranks", wave)
        ranks = self.store.read(self.spark, "ranks", wave)
        rank_prio = ranks.select(
            F.col("url_norm").alias("_pn"),
            (
                -F.least(
                    F.expr(f"rank div {self.RANK_BUCKET_DIV}"),
                    F.lit(self.RANK_BUCKET_CAP).cast("bigint"),
                )
            )
            .cast("int")
            .alias("_rank_prio"),
        )
        return (
            frontier.withColumn("_pn", self.norm_udf("linked_from").getField("url_norm"))
            .join(rank_prio, "_pn", "left")
            .select(
                "linked_from",
                "url",
                F.coalesce("_rank_prio", F.col("priority")).cast("int").alias("priority"),
                "depth",
            )
        )

    # ------------------------------------------------------------------
    # Per-wave constant expressions, built ONCE per engine. Column objects
    # are immutable expression trees, but constructing one is a py4j
    # round-trip per operator (~0.2-0.5 ms each on this host); _run_wave
    # used to rebuild the same ~200 operators every wave — several hundred
    # driver-blocking milliseconds per wave of pure expression plumbing.
    # Everything here is independent of the wave number and of any
    # DataFrame instance (unbound F.col references only); the few
    # wave-varying literals (F.lit(wave)) stay inline at the call sites.
    _wx = None

    def _wave_exprs(self):
        if self._wx is not None:
            return self._wx
        from types import SimpleNamespace

        cfg = self.config
        norm_cols = [
            "linked_from",
            "url",
            "priority",
            "depth",
            F.col("_p.url_norm").alias("url_norm"),
            F.col("_p.scheme").alias("scheme"),
            F.col("_p.host").alias("host"),
            F.col("_p.path").alias("path"),
            F.col("_p.base_scheme").alias("base_scheme"),
            F.col("_p.base_host").alias("base_host"),
        ]
        we = Window.partitionBy("url_norm", "_is_fresh").orderBy(
            "priority", "linked_from", "url"
        )
        wu = Window.partitionBy("url_norm", "_is_fresh")
        fresh1 = (F.col("edge_kind") == "fresh") & (F.col("_edge_rank") == 1)
        fetchable = fresh1 & F.col("eligible")
        flag_cols = [
            "linked_from",
            "url",
            "priority",
            "depth",
            "url_norm",
            "scheme",
            "host",
            "path",
            "base_scheme",
            "base_host",
        ]
        fresh_flagged_cols = flag_cols + [
            "_edge_rank",
            "unit_priority",
            "unit_depth",
            F.coalesce("_robots_denied", F.lit(False)).alias("robots_denied"),
            F.coalesce("_eligible", F.lit(False)).alias("eligible"),
            F.coalesce("_host_capped", F.lit(False)).alias("host_capped"),
            F.coalesce("_template_capped", F.lit(False)).alias("template_capped"),
            F.lit("fresh").alias("edge_kind"),
            F.lit(None).cast("int").alias("seen_status"),
        ]
        cached_flagged_cols = flag_cols + [
            F.lit(0).alias("_edge_rank"),
            F.col("priority").alias("unit_priority"),
            F.col("depth").alias("unit_depth"),
            F.lit(False).alias("robots_denied"),
            F.lit(False).alias("eligible"),
            F.lit(False).alias("host_capped"),
            F.lit(False).alias("template_capped"),
            F.lit("seen").alias("edge_kind"),
            F.col("status").cast("int").alias("seen_status"),
        ]
        outcome_expr = F.when(
            fetchable,
            F.when(F.col("page_status").isNull(), "miss")
            .when(
                ~domain_allowed(F.col("scheme"), F.col("host"), self.allowed_keys),
                "not_allowed",
            )
            .when(
                F.col("content_length") > cfg.effective_max_content_length,
                "too_large",
            )
            .otherwise("ok"),
        )
        stage_cols = flag_cols + [
            "_edge_rank",
            "unit_priority",
            "unit_depth",
            "robots_denied",
            "eligible",
            "host_capped",
            "template_capped",
            "edge_kind",
            "seen_status",
            "outcome",
            F.col("page_status").cast("int").alias("page_status"),
            "spans",
            "partition_id",
        ]
        # one counter per attempt outcome; only the refetch-skip path
        # produces not_modified
        attempts = [
            o
            for o in ATTEMPT_OUTCOMES
            if o != "not_modified" or cfg.refetch_skip_unchanged
        ]
        stage_aggs = [
            F.count(F.lit(1)).alias("n_edges"),
            F.count_if(F.col("edge_kind") == "seen").alias("n_cached"),
            F.count_if(fresh1).alias("n_units"),
            F.count_if(fresh1 & F.col("robots_denied")).alias("n_robots_denied"),
            F.count_if(fresh1 & F.col("eligible")).alias("n_eligible"),
            F.count_if(fresh1 & F.col("host_capped")).alias("n_host_capped"),
            F.count_if(fresh1 & F.col("template_capped")).alias(
                "n_template_capped"
            ),
        ] + [F.count_if(F.col("outcome") == o).alias(f"n_{o}") for o in attempts]
        edge_log_filter = fresh1 & (F.col("robots_denied") | ~F.col("eligible"))
        edge_log_outcome = (
            F.when(F.col("robots_denied"), "robots_denied")
            .when(F.col("template_capped"), "template_capped")
            .when(F.col("host_capped"), "host_capped")
            .otherwise("deferred")
        )
        trav_filter = (
            (F.col("page_status") == 200)
            & ~path_forbidden_expr(F.col("path"), cfg.forbidden_paths)
            & F.col("base_scheme").isNotNull()
        )
        link_explode_cols = [
            F.col("url").alias("_parent_url"),
            F.col("url_norm").alias("_parent_norm"),
            "unit_priority",
            "unit_depth",
            "base_scheme",
            "base_host",
            F.explode(
                F.filter(F.col("spans"), lambda s: s["kind"] == F.lit("link"))
            ).alias("_s"),
        ]
        link_raw_cols = [
            "_parent_url",
            "_parent_norm",
            "unit_priority",
            "unit_depth",
            "base_scheme",
            "base_host",
            F.coalesce(F.col("_s.text"), F.lit("")).alias("_raw"),
        ]
        c5_filter = (F.col("_raw") != "javascript:;") & ~F.col("_raw").startswith(
            "#"
        )
        href_expr = F.expr("trim(BOTH ' ' FROM _raw)")
        resolved_expr = (
            F.when(
                F.col("_href").startswith("//"),
                F.concat(F.col("base_scheme"), F.lit("://"), F.col("_href")),
            )
            .when(
                F.col("_href").startswith("/"),
                F.concat(
                    F.col("base_scheme"),
                    F.lit("://"),
                    F.col("base_host"),
                    F.col("_href"),
                ),
            )
            .otherwise(F.col("_href"))
        )
        new_edge_cols = [
            F.col("_parent_url").alias("linked_from"),
            F.col("_resolved").alias("url"),
            F.col("unit_priority").alias("priority"),
            (F.col("unit_depth") + F.lit(1)).alias("depth"),
        ]
        deferred_filter = (
            (F.col("edge_kind") == "fresh")
            & ~F.col("eligible")
            & ~F.col("robots_denied")
            & ~F.col("host_capped")
            & ~F.col("template_capped")
        )
        depth_capped_expr = (
            (F.lit(cfg.max_depth) > 0) & (F.col("depth") > cfg.max_depth)
            if cfg.max_depth > 0
            else F.lit(False)
        )
        next_aggs = [
            F.count_if(~F.col("_depth_capped")).alias("n_next"),
            F.count_if(~F.col("deferred") & ~F.col("_depth_capped")).alias(
                "n_new_links"
            ),
            F.count_if(F.col("_depth_capped")).alias("n_depth_capped"),
        ]
        res_first_tail = [
            "linked_from",
            "url_norm",
            F.col("page_status").alias("status"),
            F.lit(False).alias("cached"),
            F.lit("fetched").alias("row_kind"),
            "spans",
        ]
        res_others_tail = [
            "linked_from",
            "url_norm",
            F.col("page_status").alias("status"),
            F.lit(True).alias("cached"),
            F.lit("dup_edge").alias("row_kind"),
            F.lit(None).cast(SPANS_TYPE).alias("spans"),
        ]
        res_seen_tail = [
            "linked_from",
            "url_norm",
            F.col("seen_status").alias("status"),
            F.lit(True).alias("cached"),
            F.lit("seen").alias("row_kind"),
            F.lit(None).cast(SPANS_TYPE).alias("spans"),
        ]
        res_notmod_tail = [
            "linked_from",
            "url_norm",
            F.col("page_status").alias("status"),
            F.lit(False).alias("cached"),
            F.lit("not_modified").alias("row_kind"),
            F.lit(None).cast(SPANS_TYPE).alias("spans"),
        ]
        self._wx = SimpleNamespace(
            norm_cols=norm_cols,
            outcome_ok=F.col("outcome") == "ok",
            okish_filter=F.col("outcome").isin("ok", "not_modified"),
            fresh_gt1_filter=(F.col("edge_kind") == "fresh")
            & (F.col("_edge_rank") > 1),
            seen_filter=F.col("edge_kind") == "seen",
            res_first_tail=res_first_tail,
            res_others_tail=res_others_tail,
            res_seen_tail=res_seen_tail,
            res_notmod_tail=res_notmod_tail,
            urlnorm_notnull=F.col("url_norm").isNotNull(),
            status_isnull=F.col("status").isNull(),
            is_fresh=F.col("_is_fresh"),
            edge_rank_col=F.row_number().over(we),
            unit_priority_col=F.min("priority").over(wu),
            unit_depth_col=F.min("depth").over(wu),
            rank1=F.col("_edge_rank") == 1,
            fresh1=fresh1,
            fetchable=fetchable,
            fk_expr=F.when(fetchable, F.col("url_norm")).otherwise(
                F.concat(F.lit("\x00skip:"), F.col("url_norm"))
            ),
            fresh_flagged_cols=fresh_flagged_cols,
            cached_flagged_cols=cached_flagged_cols,
            outcome_expr=outcome_expr,
            spans_expr=parse_spans_udf(
                F.when(F.col("outcome") == "ok", F.col("body"))
            ),
            pid_expr=F.spark_partition_id(),
            stage_cols=stage_cols,
            stage_aggs=stage_aggs,
            attempt_keys=[f"n_{o}" for o in attempts],
            hash_cols=["content_hash"] if cfg.refetch_skip_unchanged else [],
            unit_prio_as_prio=F.col("unit_priority").alias("priority"),
            edge_log_filter=edge_log_filter,
            edge_log_outcome=edge_log_outcome,
            outcome_notnull=F.col("outcome").isNotNull(),
            trav_filter=trav_filter,
            link_explode_cols=link_explode_cols,
            link_raw_cols=link_raw_cols,
            c5_filter=c5_filter,
            href_expr=href_expr,
            resolved_expr=resolved_expr,
            c6_filter=F.col("_resolved") != "",
            new_edge_cols=new_edge_cols,
            deferred_filter=deferred_filter,
            depth_capped_expr=depth_capped_expr,
            next_aggs=next_aggs,
        )
        return self._wx

    # ------------------------------------------------------------------
    def _run_wave(
        self,
        wave: int,
        manifest: Manifest,
        pages_slim: DataFrame,
    ):
        """One wave as ONE materialized stage + shallow projections, run as
        named stages in pipeline order: ``_mark`` (normalize, seen mark,
        unit windows, checkpoint) -> ``_flag`` (robots, template cap,
        politeness) -> ``_fetch_parse`` -> ``_materialize`` (the wavestage
        write and the wave's metrics) -> ``_merge_cookies`` -> ``_outputs``
        (the table projections) -> ``_start_writes``.

        Returns ``None`` on an empty frontier, else ``(metrics, finish)``
        after only the GATING writes — frontier(wave+1) and visited+bloom,
        the tables the next wave's stage reads — have committed;
        ``finish()`` blocks on the remaining writes (fetchlog, results,
        lineage) and writes the metrics row. run() starts wave N+1's stage
        while finish(N) drains, overlapping the next wave's big
        materialization with this wave's auxiliary flushes (the spans
        payload in results is the widest write of the wave). Crash
        semantics are unchanged: the manifest commits only after
        finish(), so an interrupted overlap leaves wave N (and any N+1
        partials) uncommitted and clean_uncommitted recomputes them.

        The ``wavestage`` scratch table holds the flagged edges (edge
        grain) with the fetch columns riding the same write, populated only
        on each unit's rank-1 eligible row. Every output table
        (fetchlog/visited/bloom/results/frontier) is a flat
        filter/projection of this one scratch parquet table.

        Materializing the deep DAG exactly once keeps the driver out of
        the picture: without this, each action re-analyzes the full
        lineage (Catalyst planning is serial driver time) and the wave's
        wall clock is dominated by plan depth rather than data. Fusing
        the fetch into the same materialization saves a second full
        plan+submit+write+read cycle per wave — the fixed cost that
        dominated the wave wall at bench scale. This is also the
        Iceberg-native shape: the scratch stage is an ordinary table.

        Metrics ride the writes: every per-wave counter is an Observation
        attached to the FINAL pre-write node of an existing write job (a
        node that appears once in the plan — observing an interior fan-out
        node would double-count), so no separate groupBy().count().collect()
        jobs run. n_frontier is observed on the PREVIOUS wave's frontier
        write and carried forward; only the per-partition lineage diagnostic
        (collect_metrics=True) costs an extra action.
        """
        frontier = self._reprioritize_frontier(
            wave, self.store.read(self.spark, "frontier", wave)
        )
        n_frontier = self._pending_frontier_count
        if n_frontier is None:  # resume: one columnless parquet count
            n_frontier = frontier.count()
        if n_frontier == 0:
            return None
        marked, bloom_shards = self._mark(frontier, manifest)
        joined = self._fetch_parse(self._flag(marked), pages_slim)
        edges, m = self._materialize(wave, joined, n_frontier)
        fetched = edges.filter(self._wave_exprs().outcome_notnull)
        # lifetime attempt counts: every outcome-bearing row was a fetch
        # ATTEMPT. The folds read the already-materialized scratch parquet
        # and are only paid while a guard is on.
        self._fold_attempts(fetched)
        self._merge_cookies(wave, fetched)
        tables, obs_next = self._outputs(wave, edges, fetched, m)
        return self._start_writes(wave, m, tables, obs_next, fetched, bloom_shards)

    def _mark(
        self, frontier: DataFrame, manifest: Manifest
    ) -> tuple[DataFrame, DataFrame | None]:
        """Normalize (B1) -> malformed drop (C7) -> seen mark (E1/H1/H2) ->
        unit windows, checkpointed once. Returns the marked edges and the
        Bloom shards the wave probed (None while the prefilter is off)."""
        spark, store, cfg = self.spark, self.store, self.config
        wx = self._wave_exprs()
        norm = frontier.withColumn("_p", self.norm_udf("url")).select(
            *wx.norm_cols
        )
        edges_all = norm.filter(wx.urlnorm_notnull)

        visited = store.read_visited(spark, manifest)
        # adaptive Bloom: the prefilter costs one Arrow cogroup pass and only
        # wins when the exact anti-join's build side is big — stay exact-only
        # below the threshold; on the activation wave build the shards once
        # from the full visited set (lazy DF — materialized by this wave's
        # probe + bloom write)
        bloom_shards = None
        if manifest.total_visited >= cfg.bloom_min_visited:
            if manifest.last_wave >= 0 and store.has("bloom", manifest.last_wave):
                bloom_shards = store.read(spark, "bloom", manifest.last_wave)
            elif visited is not None:
                bloom_shards = self.bloom.updated(visited, self.bloom.empty(spark))
            else:
                bloom_shards = self.bloom.empty(spark)
        marked = mark_seen(
            edges_all,
            visited,
            self.bloom if bloom_shards is not None else None,
            bloom_shards,
        ).withColumn("_is_fresh", wx.status_isnull)
        # rank edges within their unit; first edge wins the fetch. The
        # windows run on the MARKED table (before the split): a url_norm is
        # never both fresh and cached within a wave (its seen verdict is a
        # property of the key), and _is_fresh in the partition key makes
        # that independence structural — so fresh rows get exactly the
        # ranks the old fresh-only window produced, and the cached rows'
        # window values are simply never read (cached_flagged projects
        # literals). Computing them pre-checkpoint means ONE url_norm
        # shuffle per wave instead of one per branch (the plan referenced
        # the windowed fresh edges from four subtrees, two of which could
        # not share an exchange because WindowGroupLimit specialized them).
        # Condition: live visited holds at most one row per url_norm, else
        # mark_seen's visited join would duplicate a key's cached edges.
        # Asserted by tests/test_e2e_crawl.py::
        # test_live_visited_has_one_row_per_url (compaction) and
        # tests/test_expiry.py::test_refetch_wins_over_tombstone (expiry).
        marked = (
            marked.withColumn("_edge_rank", wx.edge_rank_col)
            .withColumn("unit_priority", wx.unit_priority_col)
            # a page's depth is the MIN over its discovering edges (same
            # window — no extra shuffle)
            .withColumn("unit_depth", wx.unit_depth_col)
        )
        # One wave-sized materialization of the normalized, seen-tagged,
        # unit-ranked edges. The wave plan fans out from this point into
        # FIVE subtrees (units→politeness candidates / politeness rejected
        # / the flags-join left side / cached / traversal), and Spark
        # physical plans are trees: without the cut every branch re-ran the
        # frontier scan, the normalize UDF, the visited join and the unit
        # windows (measured: 5 copies of the scan+ArrowEvalPython subtree
        # in one wave's plan, 15 AQE jobs / 26 stages per wave on a
        # ~400-row frontier — the driver-side fixed cost that dominated the
        # crawl bench). After the cut each branch reads a tiny in-memory
        # RDD leaf. The checkpoint is wave-scoped scratch (the same bytes
        # the wavestage write pushes to parquet), so memory stays bounded
        # by one wave at any scale.
        return marked.localCheckpoint(eager=True), bloom_shards

    def _flag(self, marked: DataFrame) -> DataFrame:
        """Split the marked edges into fresh and cached, gate the fresh
        units (robots, template cap, politeness) and join the unit flags
        back onto every fresh edge; returns both halves as one edge-grain
        DataFrame in the wavestage column layout (minus the fetch)."""
        cfg, wx = self.config, self._wave_exprs()
        fresh = marked.filter(wx.is_fresh).drop("status", "_is_fresh")
        cached = marked.filter(~wx.is_fresh).drop(
            "_edge_rank", "unit_priority", "unit_depth", "_is_fresh"
        )
        units = with_robots_denied(fresh.filter(wx.rank1), self._rules)
        # template trap guard (max_pages_per_template > 0): units whose
        # URL template is already saturated drop before politeness — they
        # never consume a budget rank, so a lower-priority real page on
        # the same host admits in their place (the oracle's `continue`
        # before the rank increment). The broadcast side carries ONLY
        # saturated templates: unsaturated ones cannot block anything, so
        # the join input stays trap-sized, not corpus-sized. Robots denial
        # wins when both apply (the oracle checks robots in step 4).
        if (
            cfg.max_pages_per_template > 0
            and self._template_taken is not None
        ):
            from brink_spark.functions.templates import url_template

            blocked = (
                self._template_taken.filter(
                    F.col("_ttaken") >= cfg.max_pages_per_template
                )
                .select("template")
                .withColumn("_tpl_blocked", F.lit(True))
            )
            units = (
                units.withColumn("template", url_template(F.col("url_norm")))
                .join(F.broadcast(blocked), "template", "left")
                .withColumn(
                    "_template_capped",
                    F.coalesce("_tpl_blocked", F.lit(False))
                    & ~F.col("_robots_denied"),
                )
                .drop("_tpl_blocked", "template")
            )
        else:
            units = units.withColumn("_template_capped", F.lit(False))
        polite_in = units.filter(
            ~F.col("_robots_denied") & ~F.col("_template_capped")
        )
        if cfg.politeness_key == "site":
            # site mode: every subdomain of one registrable site shares a
            # single per-wave budget (functions/domains.py); budget
            # resolution and the trap-guard cap stay host-keyed facts
            from brink_spark.functions.domains import registrable_domain

            polite_in = polite_in.withColumn(
                "site", registrable_domain(F.col("host"))
            )
        polite = apply_politeness(
            polite_in,
            self._budgets,
            cfg.politeness_budget,
            host_counts=self._host_taken,
            max_pages_per_host=cfg.max_pages_per_host,
            key=cfg.politeness_key,  # validated in CrawlConfig.__post_init__
        )
        unit_flags = units.select(
            "url_norm", "_robots_denied", "_template_capped"
        ).join(
            polite.select("url_norm", "_eligible", "_host_capped"),
            "url_norm",
            "left",
        )
        fresh_flagged = fresh.join(unit_flags, "url_norm", "left").select(
            *wx.fresh_flagged_cols
        )
        cached_flagged = cached.select(*wx.cached_flagged_cols)
        return fresh_flagged.unionByName(cached_flagged)

    def _fetch_parse(self, combined: DataFrame, pages_slim: DataFrame) -> DataFrame:
        """The wave's fetch+parse stage, edge grain: fetch (A1/H4: pages
        equi-join, or the socket fetch in http mode) + gates (C1/C2) +
        span parse (D1) over the wave's flagged edges. Returns ``combined``
        plus the fetch columns, ``outcome``, ``spans`` and ``partition_id``,
        populated only on each unit's rank-1 eligible row (null elsewhere).
        """
        cfg, wx = self.config, self._wave_exprs()
        if cfg.fetch_mode == "http":
            from brink_spark.operators.http_fetch import http_fetch_columns

            # salt BEFORE the socket fetch so connections see mostly-
            # same-host batches (operators/http_fetch.py)
            combined = combined.withColumn("_do_fetch", wx.fetchable)
            n_parts = self.fetch_partition_count()
            salt = F.xxhash64("host", "url_norm")
            combined = (
                combined.repartition(n_parts, salt)
                if n_parts > 0
                else combined.repartition(salt)
            )
            joined = http_fetch_columns(
                combined,
                self.request_headers(),
                cfg.http_timeout,
                guard_col="_do_fetch",
                pool_size=cfg.http_pool_size,
            ).drop("_do_fetch")
        else:
            # conditional equi-join key: non-fetch rows get a key no
            # normalized URL can collide with (\x00 prefix) instead of
            # NULL — nulls would pile every cached/deferred edge of the
            # wave into one join partition (skew); the prefixed key keeps
            # the shuffle uniform while never matching a page.
            # pages_slim arrives fetch-join-ready (_prepare_pages)
            joined = (
                combined.withColumn("_fk", wx.fk_expr)
                .join(pages_slim, "_fk", "left")
                .drop("_fk")
            )
            # NO re-salt here: the equi-join already hash-distributes the
            # wave by _fk (≈url_norm), so a mega-host's pages spread
            # uniformly and the parse runs in the join's own reduce stage
            # at AQE-chosen width — a second repartition would shuffle the
            # full body column again purely to reach an equivalent
            # distribution (in http mode the salt is load-bearing: it
            # groups same-host rows for connection reuse BEFORE the
            # socket fetch; here the "fetch" IS the join). An explicit
            # partition override still forces it (a cluster-sizing hint
            # must beat AQE).
            n_parts = self.fetch_partition_count()
            if n_parts > 0:
                joined = joined.repartition(
                    n_parts, F.xxhash64("host", "url_norm")
                )
        joined = joined.withColumn("outcome", wx.outcome_expr)
        if cfg.refetch_skip_unchanged:
            # HTTP-304-style fast path: an EXPIRED url refetched with an
            # unchanged body hash becomes outcome 'not_modified' BEFORE
            # the spans column, so the parse UDF (the expensive stage)
            # never sees it. Its links were already traversed when first
            # seen, so skipping traversal loses nothing; the seen set is
            # re-armed by the wave's visited write.
            joined = joined.withColumn(
                "content_hash",
                F.when(F.col("outcome") == "ok", F.xxhash64("body")),
            )
            if self._prior_hashes is not None:
                joined = (
                    joined.join(
                        F.broadcast(self._prior_hashes), "url_norm", "left"
                    )
                    .withColumn(
                        "outcome",
                        F.when(
                            (F.col("outcome") == "ok")
                            & (F.col("prior_hash") == F.col("content_hash")),
                            "not_modified",
                        ).otherwise(F.col("outcome")),
                    )
                    .drop("prior_hash")
                )
        # null the UDF's INPUT, not its output: Spark does not short-circuit
        # Python UDFs inside when() — `when(cond, udf(body))` still ships
        # every body to Python and discards the result for false rows
        # (too_large, not_allowed, and the not_modified fast path would all
        # pay the full parse). With the when() on the body column the
        # filter runs natively and Python sees null for skipped rows.
        return joined.withColumn("spans", wx.spans_expr).withColumn(
            "partition_id", wx.pid_expr
        )

    def _materialize(
        self, wave: int, joined: DataFrame, n_frontier: int
    ) -> tuple[DataFrame, dict]:
        """The wave's one materialization: write the fetched and parsed
        edges as the ``wavestage`` scratch table and read it back. Returns
        the re-read edges and the wave's metrics, built from the
        Observation that rode the write."""
        store, wx = self.store, self._wave_exprs()
        cookie_cols = ["set_cookie"] if "set_cookie" in joined.columns else []
        obs_stage = Observation(f"w{wave}_stage")
        stage_out = joined.select(
            *wx.stage_cols, *cookie_cols, *wx.hash_cols
        ).observe(obs_stage, *wx.stage_aggs)
        store.write(stage_out, "wavestage", wave)
        edges = store.read(self.spark, "wavestage", wave)
        ec = dict(obs_stage.get)
        n_edges, n_eligible = ec.pop("n_edges"), ec.pop("n_eligible")
        m = dict(wave=wave, n_frontier=n_frontier, **ec)
        m["n_deferred"] = (
            ec["n_units"]
            - ec["n_robots_denied"]
            - n_eligible
            - ec["n_host_capped"]
            - ec["n_template_capped"]
        )
        # malformed = frontier rows minus all surviving edges
        m["n_malformed"] = n_frontier - n_edges
        # a not_modified row was a real fetch attempt too (HTTP-304 shape)
        m["n_fetched"] = sum(ec[k] for k in wx.attempt_keys)
        return edges, m

    def _merge_cookies(self, wave: int, fetched: DataFrame) -> None:
        """Response-cookie accumulation (brink.go:199-204): the reference
        merges resp.Cookies() BEFORE the domain-allowed and content-length
        gates, so every fetched response except a transport miss updates
        the jar (not_allowed and too_large included). Merge order is
        sorted(url_norm) — the wave model's deterministic stand-in for
        goroutine arrival — so last-writer-wins per cookie name is
        max_by(value, url_norm). The reduction runs in Spark (partial agg,
        one row per distinct cookie name); the collect is bounded by the
        number of distinct names, never by the number of pages."""
        if "set_cookie" not in fetched.columns:
            return
        got = (
            fetched.filter(
                (F.col("outcome") != "miss") & F.col("set_cookie").isNotNull()
            )
            .select(
                F.substring_index("set_cookie", "=", 1).alias("_name"),
                # value = everything after the FIRST '=' ('' when absent),
                # matching str.partition('=')
                F.coalesce(
                    F.element_at(F.split("set_cookie", "=", 2), 2), F.lit("")
                ).alias("_value"),
                "url_norm",
            )
            .groupBy("_name")
            .agg(F.max_by("_value", "url_norm").alias("_value"))
            .collect()
        )
        for r in got:
            self.cookie_jar[r["_name"]] = r["_value"]
        if got:
            self._check_auth_suppression(wave + 1)

    def _outputs(
        self, wave: int, edges: DataFrame, fetched: DataFrame, m: dict
    ) -> tuple[dict[str, DataFrame], Observation]:
        """The wave's output tables as flat projections of the wavestage
        edges: fetchlog, visited, results (the A4 handler rows) and the
        next frontier (traversal D1/D2/C3/C4/C5/C6 plus deferred and retried
        edges). Returns them keyed by table name, with the Observation
        riding the frontier write; sets ``n_miss_retry`` in ``m``."""
        cfg, wx = self.config, self._wave_exprs()
        wave_lit = F.lit(wave).alias("wave")
        log_cols = lambda df, outcome_col, pid_col: df.select(  # noqa: E731
            wave_lit,
            "url_norm",
            wx.unit_prio_as_prio,
            "host",
            outcome_col.alias("outcome"),
            pid_col.alias("partition_id"),
        )
        # one projection of edges covers both non-fetch outcomes (the r1
        # triple-union paid an extra scan + union for the same rows)
        edge_log = log_cols(
            edges.filter(wx.edge_log_filter),
            wx.edge_log_outcome,
            F.lit(-1),
        )
        fetchlog_out = log_cols(
            fetched, F.col("outcome"), F.col("partition_id")
        ).unionByName(edge_log)
        ok = fetched.filter(wx.outcome_ok)
        # dup-edge handler rows take their status from the unit's fetched
        # row; in refetch-skip mode a not_modified fetch also anchors them
        okish = (
            fetched.filter(wx.okish_filter)
            if cfg.refetch_skip_unchanged
            else ok
        )
        # not_modified rows re-arm the seen set too, and the content hash
        # rides along for the NEXT expiry cycle
        visited_out = okish.select(
            "url_norm", F.col("page_status").alias("status"), wave_lit, *wx.hash_cols
        )

        # --- handler rows (A4) ----------------------------------------------
        results_first = ok.select(wave_lit, *wx.res_first_tail)
        results_others = (
            edges.filter(wx.fresh_gt1_filter)
            # rank>1 rows carry null fetch columns; take page_status from
            # the unit's rank-1 (fetched) row via the join
            .select("linked_from", "url_norm")
            .join(okish.select("url_norm", "page_status"), "url_norm", "inner")
            .select(wave_lit, *wx.res_others_tail)
        )
        results_seen = edges.filter(wx.seen_filter).select(
            wave_lit, *wx.res_seen_tail
        )
        results_out = results_first.unionByName(results_others).unionByName(results_seen)
        if cfg.refetch_skip_unchanged:
            # HTTP-304 handler shape: the callback is told the url was
            # re-checked (real fetch, current status) but gets no body —
            # exactly the cached-row contract, distinct row_kind
            results_out = results_out.unionByName(
                fetched.filter(F.col("outcome") == "not_modified").select(
                    wave_lit, *wx.res_notmod_tail
                )
            )

        # --- traversal -> next frontier (D1/D2/C3/C4/C5/C6) ------------------
        trav = ok.filter(wx.trav_filter)
        links = (
            trav.select(*wx.link_explode_cols)
            .select(*wx.link_raw_cols)
            # C5 on the RAW href, then trim ASCII spaces (urls.go:96-101)
            .filter(wx.c5_filter)
            .withColumn("_href", wx.href_expr)
            .withColumn("_resolved", wx.resolved_expr)
            .filter(wx.c6_filter)  # C6
        )
        new_edges = links.select(*wx.new_edge_cols)
        # host_capped / template_capped units DROP (fetchlog records them);
        # deferring them would pin an infinite auto-generated site forever
        deferred_edges = edges.filter(wx.deferred_filter).select(
            "linked_from", "url", "priority", "depth"
        )
        m["n_miss_retry"] = 0
        if cfg.retry_misses > 0:
            # transport-miss retry: re-enqueue EVERY discovering edge of
            # each unit missed this wave whose lifetime miss count (folded
            # above) is still within the retry budget. The url is not in
            # visited (only ok fetches are), so the re-enqueued edges flow
            # as ordinary fresh edges next wave. The retry set is
            # wave-miss-sized — it rides a broadcast.
            wave_miss = fetched.filter(F.col("outcome") == "miss").select(
                "url_norm"
            )
            retry_set = (
                self._miss_counts.join(wave_miss, "url_norm")
                .filter(F.col("_mn") <= cfg.retry_misses)
                .select("url_norm")
            )
            m["n_miss_retry"] = retry_set.count()  # tiny; feature-gated
            retry_edges = (
                edges.filter(F.col("edge_kind") == "fresh")
                .join(F.broadcast(retry_set), "url_norm")
                .select("linked_from", "url", "priority", "depth")
            )
            deferred_edges = deferred_edges.unionByName(retry_edges)
        obs_next = Observation(f"w{wave}_frontier_next")
        # depth trap guard (max_depth > 0): outlinks beyond the link-hop
        # budget are counted then dropped BEFORE the frontier write. The
        # filter sits above the CollectMetrics node (Catalyst does not push
        # predicates through it), so n_depth_capped counts the dropped rows.
        frontier_next = (
            deferred_edges.withColumn("deferred", F.lit(True))
            .unionByName(new_edges.withColumn("deferred", F.lit(False)))
            .withColumn("_depth_capped", wx.depth_capped_expr)
            .observe(obs_next, *wx.next_aggs)
            .filter(~F.col("_depth_capped"))
            .drop("_depth_capped")
        )
        tables = dict(
            frontier=frontier_next,
            visited=visited_out,
            fetchlog=fetchlog_out,
            results=results_out,
        )
        return tables, obs_next

    def _start_writes(
        self,
        wave: int,
        m: dict,
        tables: dict[str, DataFrame],
        obs_next: Observation,
        fetched: DataFrame,
        bloom_shards: DataFrame | None,
    ):
        """Commit the wave's output tables concurrently and return
        ``(m, finish)`` once the gating pair has landed (see _run_wave)."""
        spark, store, cfg = self.spark, self.store, self.config

        # fetchlog / visited->bloom / results / frontier (+ the lineage
        # readback) are independent projections of the two materialized
        # scratch tables; submitting them from driver threads overlaps their
        # scheduling barriers — on a cluster these run as parallel jobs
        # sharing the executors (same total work, 1/4 the barrier wall).
        # All futures complete before the caller commits the manifest, so
        # crash-resume semantics are unchanged.
        def _w_visited_bloom():
            store.write(tables["visited"], "visited", wave)
            if bloom_shards is not None:
                store.write(
                    self.bloom.updated(
                        store.read(spark, "visited", wave), bloom_shards
                    ),
                    "bloom",
                    wave,
                )

        lineage: dict[int, int] = {}

        def _r_lineage():
            if cfg.collect_metrics:  # per-partition lineage diagnostic (A5)
                for r in fetched.groupBy("partition_id").count().collect():
                    lineage[r["partition_id"]] = r["count"]

        # all five writes run concurrently on one pool; the gating pair
        # (frontier, visited+bloom) is what the NEXT wave's stage reads,
        # so the wave returns as soon as those land
        pool = ThreadPoolExecutor(max_workers=5)
        try:
            gating = [
                pool.submit(store.write, tables["frontier"], "frontier", wave + 1),
                pool.submit(_w_visited_bloom),
            ]
            deferred = [
                pool.submit(store.write, tables["fetchlog"], "fetchlog", wave),
                pool.submit(store.write, tables["results"], "results", wave),
                pool.submit(_r_lineage),
            ]
            for fut in gating:
                fut.result()  # re-raise the first failure
        except BaseException:
            # cancel queued deferred writes too — without cancel_futures
            # the fetchlog/results/lineage jobs keep running (and writing
            # partial tables) after the wave has already failed, on
            # non-daemon pool threads that delay process exit
            pool.shutdown(wait=False, cancel_futures=True)
            raise

        nx = obs_next.get
        self._pending_frontier_count = nx["n_next"]
        m["n_new_links"] = nx["n_new_links"]
        m["n_depth_capped"] = nx["n_depth_capped"]

        def finish():
            # remaining writes + metrics/lineage (A5); the caller commits
            # the manifest only after this returns
            try:
                for fut in deferred:
                    fut.result()
                store.write_metrics(
                    wave,
                    {**m, "lineage": {str(k): int(v) for k, v in lineage.items()}},
                )
            finally:
                pool.shutdown(wait=False)

        return m, finish
