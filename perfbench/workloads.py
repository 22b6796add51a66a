"""The crawl workloads.

Every workload runs one ``CrawlEngine`` at a time, closed loop, in this
process's warm Spark session: ``setup`` builds the inputs from the seed
and warms the session, each ``rep`` is one timed ``CrawlEngine.run`` on a
fresh store, and ``check`` verifies one rep's outputs outside the timed
window.

- ``crawl_small``: the 5k-page ``small`` site, 5 waves from as many seed
  pages as make the crawl handle 3,000 URLs (100 to 250), fresh store,
  engine defaults (pipelined) except that visited compacts every 4 waves,
  so one ``compact_visited`` falls inside the crawl. Waves are a few
  hundred edges, so the per-wave fixed cost (planning, job submission,
  small writes) dominates; the Bloom prefilter stays off (visited stays
  below ``bloom_min_visited``).
- ``wave_bench``: one wave resumed from a store template on a bench-shaped
  site (parse-heavy 4-6 KB bodies, 30% of pages on one hot host) scaled to
  10k pages. The template holds 60% of pages as visited, spread over six
  committed wave dirs and above the scaled ``bloom_min_visited``, so the
  engine's own rule turns Bloom on, and a frontier of the site's first
  36,000 link edges. The resume runs the store's read side (manifest,
  ``clean_uncommitted``, frontier recount, ``read_visited`` over many
  dirs) before a data-heavier wave.
"""

from __future__ import annotations

import dataclasses
import random
import shutil
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass

WARMUP_WAVES = 2
SMALL_URLS = 3_000  # fetched + cached over the crawl_small run
SMALL_WAVES = 5
SMALL_COMPACT_EVERY = 4  # one compact_visited inside the crawl, after wave 3
WAVE_PAGES = 10_000
WAVE_VISITED_SHARE = 0.6
# frontier edges; the site has 37k-39k, and a fixed count keeps the input
# size the same on every seed
WAVE_EDGES = 36_000
WAVE_TEMPLATE_WAVES = 6  # committed waves in the template store


@dataclass
class Rep:
    """One timed ``CrawlEngine.run``."""

    wall_s: float
    first_wave_s: float
    wave_intervals_s: list[float]
    summary: object
    engine: object
    store_dir: str

    @property
    def urls_per_s(self) -> float:
        s = self.summary
        return (s.total_fetched + s.total_cached) / self.wall_s


def timed_run(engine, store_dir: str, **run_kw) -> Rep:
    """Run the engine once; wave times come from its post-commit hook."""
    commits: list[float] = []
    engine.on_wave_committed = lambda m: commits.append(time.time())
    t0 = time.time()
    summary = engine.run(**run_kw)
    wall = time.time() - t0
    intervals = [b - a for a, b in zip(commits, commits[1:])]
    if not intervals:  # one-wave run: its only interval is run() to commit
        intervals = [commits[0] - t0]
    return Rep(wall, commits[0] - t0, intervals, summary, engine, store_dir)


def seeds_for_volume(fixture, config, target: int):
    """The fewest leading 200-status pages that, as seeds, make the crawl
    handle at least ``target`` URLs (fetched + cached) by the oracle, and
    that crawl's oracle result. Generated sites differ in link fan-out by
    seed, so a fixed seed count would make the input size (and urls/s)
    vary with the seed; a fixed volume keeps runs on different seeds
    comparable."""
    pages = [dict(url=p.url, priority=0) for p in fixture.pages if p.status == 200]
    results = {}

    def volume(n: int) -> int:
        if n not in results:
            results[n] = oracle_for(fixture, pages[:n], config)
        return sum(m["n_fetched"] + m["n_cached"] for m in results[n].metrics)

    lo, hi = 1, 64  # small probes first: an oracle crawl grows with its seeds
    while hi < len(pages) and volume(hi) < target:
        lo, hi = hi + 1, min(2 * hi, len(pages))
    while lo < hi:
        mid = (lo + hi) // 2
        if volume(mid) >= target:
            hi = mid
        else:
            lo = mid + 1
    volume(lo)
    return pages[:lo], results[lo]


def seeds_df(spark, seeds: list[dict]):
    return spark.createDataFrame(
        [(s["url"], s["priority"]) for s in seeds], "url string, priority int"
    )


def oracle_for(fixture, seeds: list[dict], config):
    from brink_spark.oracle import crawl_oracle

    return crawl_oracle(dataclasses.replace(fixture, seeds=seeds), config)


def oracle_contracts(spark, rep: Rep, oracle) -> list[str]:
    """Failed contracts of plans.compare (seen keyset, crawl order, handler
    multiset, span sequences) for one rep's store."""
    from brink_spark.plans.compare import compare_engine_oracle

    cmp = compare_engine_oracle(spark, rep.engine, oracle)
    return [
        name
        for name in ("visited_match", "order_match", "handler_match", "spans_match")
        if not getattr(cmp, name)
    ]


@dataclass
class Workload:
    spark: object
    work: str
    seed: int

    @contextmanager
    def phase(self, name: str):
        """Time one set-up phase; the wall goes to stderr."""
        t0 = time.perf_counter()
        yield
        print(f"# setup {name}: {time.perf_counter() - t0:.2f}s", file=sys.stderr)

    def setup(self) -> None:
        raise NotImplementedError

    def warm_up(self) -> None:
        """One untimed rep, which loads the engine's code paths (codegen,
        JIT, Python UDF workers) before anything is timed."""
        with self.phase("warm-up"):
            self.rep("warmup")
            shutil.rmtree(self.store_dir("warmup"))

    def rep(self, i: int) -> Rep:
        raise NotImplementedError

    def check(self, rep: Rep) -> list[str]:
        """Names of the failed output checks for one rep (empty = correct)."""
        raise NotImplementedError

    def store_dir(self, i) -> str:
        return f"{self.work}/store-{i}"


class CrawlSmall(Workload):
    def setup(self) -> None:
        from brink_spark.sources.sitegen import generate_site

        with self.phase("fixture"):
            self.fixture = generate_site("small", self.seed)
            self.config = self.fixture.config.with_(
                compact_visited_every=SMALL_COMPACT_EVERY
            )
            self.seeds, self.oracle = seeds_for_volume(
                self.fixture, self.config.with_(max_waves=SMALL_WAVES), SMALL_URLS
            )

    def warm_up(self) -> None:
        """The untimed crawl stops after two waves (the cached-edge branch
        appears from the second wave on). Running all five costs every run
        ten more seconds; the timed crawl then ran about a tenth faster,
        with no smaller run-to-run spread."""
        with self.phase("warm-up"):
            self.rep("warmup", waves=WARMUP_WAVES)
            shutil.rmtree(self.store_dir("warmup"))

    def rep(self, i, waves: int = SMALL_WAVES) -> Rep:
        from brink_spark.plans.crawl import CrawlEngine

        store = self.store_dir(i)
        engine = CrawlEngine(self.spark, self.config, store)
        return timed_run(
            engine,
            store,
            fixture=self.fixture,
            seeds=seeds_df(self.spark, self.seeds),
            max_waves=waves,
        )

    def check(self, rep: Rep) -> list[str]:
        return oracle_contracts(self.spark, rep, self.oracle)


# the bench site's shape (parse-heavy bodies, 30% hot host, 50 hosts) at
# a twentieth of its page count and politeness budgets
WAVE_SCALE = dict(
    n_pages=WAVE_PAGES,
    n_hosts=50,
    hot_budget=1_000,
    cold_budget=1_000,
    text_spans=(3, 8),
    text_words=(60, 160),
)


def link_edges(fixture) -> list[tuple[str, str]]:
    """(linked_from, url) for every link span of every page, trimmed and
    resolved against the page URL exactly as the wave's traversal does."""
    from brink_spark.functions.urls import parse_request_uri

    edges = []
    for p in fixture.pages:
        base = parse_request_uri(p.url)
        for s in p.spans:
            if s.kind != "link":
                continue
            raw = s.text or ""
            if raw == "javascript:;" or raw.startswith("#"):
                continue
            href = raw.strip(" ")
            if href.startswith("//"):
                url = f"{base.scheme}://{href}" if base else None
            elif href.startswith("/"):
                url = f"{base.scheme}://{base.host}{href}" if base else None
            else:
                url = href
            if url:
                edges.append((p.url, url))
    return edges


class WaveBench(Workload):
    """Warms up with a full untimed wave: after a two-wave crawl of the tiny
    site, the timed wave still took about 16 s against 10-11 s warm."""

    def setup(self) -> None:
        from brink_spark.sources import sitegen

        # a named preset for generate_site, registered at run time
        sitegen._SCALES.setdefault("wave_bench", WAVE_SCALE)
        with self.phase("fixture"):
            self.fixture = sitegen.generate_site("wave_bench", self.seed)
        with self.phase("template"):
            self._build_template()


    def _build_template(self) -> None:
        import pandas as pd

        from brink_spark.operators.seen import BloomSeenSet
        from brink_spark.plans.crawl import FRONTIER_SCHEMA
        from brink_spark.sources.sitegen import pages_to_parquet, robots_to_spark
        from brink_spark.storage import CrawlStore, Manifest

        spark, fx = self.spark, self.fixture
        pages_dir = f"{self.work}/pages"
        pages_to_parquet(fx, pages_dir, rows_per_file=WAVE_PAGES // 4)
        self.pages = spark.read.parquet(pages_dir)
        self.robots = robots_to_spark(spark, fx)

        rng = random.Random(self.seed)
        self.visited = {
            p.url_norm: p.status
            for p in fx.pages
            if rng.random() < WAVE_VISITED_SHARE
        }
        self.edges = link_edges(fx)[:WAVE_EDGES]
        # the engine's own rule turns Bloom on: visited >= bloom_min_visited
        self.config = fx.config.with_(bloom_min_visited=len(self.visited) // 2)

        self.template = f"{self.work}/template"
        store = CrawlStore(self.template)
        last = WAVE_TEMPLATE_WAVES - 1
        visited = pd.DataFrame(
            {
                "url_norm": list(self.visited),
                "status": list(self.visited.values()),
                "wave": [rng.randrange(WAVE_TEMPLATE_WAVES) for _ in self.visited],
            }
        )
        for w, rows in visited.groupby("wave"):
            store.write(
                spark.createDataFrame(rows, "url_norm string, status int, wave int"),
                "visited",
                w,
            )
        store.write(
            spark.createDataFrame(
                [(lf, u, 0, WAVE_TEMPLATE_WAVES) for lf, u in self.edges],
                FRONTIER_SCHEMA,
            ),
            "frontier",
            last + 1,
        )
        cfg = self.config
        bloom = BloomSeenSet(cfg.bloom_shards, cfg.bloom_bits_per_shard, cfg.bloom_num_hashes)
        store.write(
            bloom.updated(
                store.read_visited(spark, Manifest(last_wave=last)), bloom.empty(spark)
            ),
            "bloom",
            last,
        )
        store.commit(Manifest(last_wave=last, total_visited=len(self.visited)))

    def rep(self, i) -> Rep:
        from brink_spark.plans.crawl import CrawlEngine

        store = self.store_dir(i)
        shutil.copytree(self.template, store)
        engine = CrawlEngine(
            self.spark, self.config, store, pages=self.pages, robots=self.robots
        )
        return timed_run(engine, store, resume=True, max_waves=WAVE_TEMPLATE_WAVES + 1)

    def expected_cached(self) -> int:
        """Edges whose normalized URL is in the visited template: an exact
        join done in plain Python, independent of the Bloom path."""
        from brink_spark.functions.urls import normalize_url

        if not hasattr(self, "_expected"):
            cfg = self.config
            self._expected = sum(
                normalize_url(u, cfg.ignore_get_parameters, cfg.fuzzy_get_parameter_checks)
                in self.visited
                for _, u in self.edges
            )
        return self._expected

    def check(self, rep: Rep) -> list[str]:
        failed = []
        if rep.summary.total_cached != self.expected_cached():
            failed.append("cached_equals_exact_join")
        if not rep.engine.store.has("bloom", WAVE_TEMPLATE_WAVES):
            failed.append("bloom_path_ran")
        return failed


WORKLOADS = {
    "crawl_small": CrawlSmall,
    "wave_bench": WaveBench,
}
