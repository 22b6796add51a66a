"""Crawl configuration — the CrawlOptions equivalent.

Mirrors the reference's ``CrawlOptions`` (crawler.go:48-101) and its TOML
surface (cmd/example-conf.toml; toml tags like ``ignore-get-parameters``),
plus the mandated scheduler extensions from BASELINE.json's north_rule
(politeness budget, priority queue, robots, Bloom seen-set) which have no
reference counterpart.

Defaults follow factory.go:13-19 and getMaxContentLength (factory.go:164-173):
max_content_length 0 → 512 KiB, -1 → unlimited.
"""

from __future__ import annotations

import tomllib
from dataclasses import dataclass, field, replace

DEFAULT_MAX_CONTENT_LENGTH = 512 * 1024  # factory.go:14
UNLIMITED_MAX_CONTENT_LENGTH = 2**63 - 1  # factory.go:19
DEFAULT_POLITENESS_BUDGET = 64  # north_rule extension; no reference analogue
DEFAULT_MAX_WAVES = 1000


def effective_max_content_length(raw: int) -> int:
    """getMaxContentLength semantics (factory.go:164-173)."""
    if raw == 0:
        return DEFAULT_MAX_CONTENT_LENGTH
    if raw == -1:
        return UNLIMITED_MAX_CONTENT_LENGTH
    return raw


AUTH_NONE = 0  # crawler.go:12-15
AUTH_BASIC = 1


@dataclass(frozen=True)
class CrawlConfig:
    entrypoint: str
    allowed_domains: tuple[str, ...] = ()
    ignore_get_parameters: tuple[str, ...] = ()
    fuzzy_get_parameter_checks: bool = False
    forbidden_paths: tuple[str, ...] = ()
    max_content_length: int = 0  # raw; resolved via effective_max_content_length
    # --- fetch-stage request state (config-time constants; I1-I3). In the
    # reference these feed every HTTP request (brink.go:166-193); the
    # synthetic sandbox fetch ignores them, but the config surface and the
    # header/suppression logic are implemented + tested for parity.
    auth_type: int = AUTH_NONE
    user: str = ""
    password: str = ""
    headers: tuple[tuple[str, str], ...] = ()
    cookies: tuple[tuple[str, str], ...] = ()  # name → value
    session_cookie_names: tuple[str, ...] = ()
    # --- north_rule scheduler extensions ---
    politeness_budget: int = DEFAULT_POLITENESS_BUDGET  # fetches/host/wave default
    max_waves: int = DEFAULT_MAX_WAVES
    # --- crawler-trap guards (extensions; 0 = off for both) ---
    # max_depth: drop outlinks whose link-hop distance from a seed would
    # exceed this (seeds are depth 0; a page's depth is the min depth of
    # the edges that discovered it). Bounds calendar-trap style infinite
    # link chains.
    max_depth: int = 0
    # sitemap_discovery: bootstrap extra wave-0 seeds from each entry
    # host's robots.txt `Sitemap:` directives (sources/sitemap.py) —
    # discovered URLs enter the frontier as ordinary seeds with the
    # sitemap's priority mapped onto the engine's ascending scale.
    sitemap_discovery: bool = False
    # max_pages_per_host: lifetime cap on fetch ATTEMPTS issued to one
    # host (every eligible unit counts — miss/not_allowed/too_large/ok
    # alike: the request was made). While a host retains allowance,
    # over-budget units defer as usual; once the allowance hits zero the
    # host's queued units are DROPPED (outcome 'host_capped') so the
    # frontier drains and idle-stop still fires. Bounds infinite
    # auto-generated sites.
    max_pages_per_host: int = 0
    # max_pages_per_template: lifetime cap on fetch attempts per URL
    # TEMPLATE (scheme://host verbatim + digit runs collapsed to '#',
    # functions/templates.py). The third trap guard: calendars,
    # pagination, and session-id spaces collapse onto one template key,
    # so they are bounded even when each URL is novel (defeating the
    # seen set), every path is shallow (defeating max-depth), and the
    # host also serves real content (making a host-wide cap collateral
    # damage). Saturated templates drop their queued units (outcome
    # 'template_capped', never deferred); per-wave overshoot is bounded
    # by the politeness budget since a template lives on one host.
    max_pages_per_template: int = 0
    # preblocked_templates: templates that enter the run ALREADY saturated
    # (the streaming hot-template monitor's feedback path,
    # streaming/template_monitor.py): with the guard on, their queued
    # units drop from wave 0 without re-spending the cap. Ignored when
    # max_pages_per_template == 0.
    preblocked_templates: tuple = ()
    # retry_misses: max RETRIES for transport-miss fetches (0 = off, the
    # reference-parity default: a missed unit's edges drop and the url is
    # only re-attempted if a later page links it again). With N > 0 a
    # missed unit's edges re-enqueue into the next frontier until the url
    # has missed N+1 times total — the transient-failure (timeout / reset
    # / DNS blip) recovery every production crawler needs. The url is NOT
    # in visited (only ok fetches are), so the re-enqueued edges flow as
    # ordinary fresh edges: politeness re-applies, trap guards keep
    # counting each attempt, and idle-stop still fires once the budget is
    # spent.
    retry_misses: int = 0
    # --- reference worker-model knobs (crawler.go:53-62), mapped onto the
    # wave model. worker_count (goroutine count) is a parallelism hint: it
    # RAISES the fetch-stage partition count floor (never caps it below the
    # cluster's natural parallelism). url_buffer_size (bounded work queue)
    # and idle_work_check_interval (poll period for the graceful idle stop)
    # are accepted-but-no-op: the frontier is an unbounded table, and the
    # idle check happens exactly once per wave boundary (F2).
    worker_count: int = 0
    url_buffer_size: int = 0  # no-op (frontier table is unbounded)
    idle_work_check_interval: int = 0  # no-op (checked at each wave boundary)
    # explicit fetch-stage partition count; 0 = derive from
    # max(shuffle partitions, defaultParallelism, worker_count)
    fetch_partitions: int = 0
    # fetch backend: 'synthetic' (equi-join vs a pages table — the sandbox
    # rule, SURVEY.md A1) or 'http' (real sockets via the mapInPandas stage,
    # operators/http_fetch.py — no pages table needed)
    fetch_mode: str = "synthetic"
    http_timeout: float = 10.0
    # concurrent HOSTS per fetch task (operators/http_fetch.py): same-host
    # URLs stay serial on one keep-alive connection; different hosts
    # overlap on a bounded per-task pool. Cluster-wide fan-out is
    # http_pool_size x running tasks.
    http_pool_size: int = 16
    # --- engine knobs (physical, not semantic) ---
    # overlap wave N+1's stage job with wave N's deferred writes +
    # manifest commit (plans/crawl.py run loop). False = synchronous
    # waves — same results and same per-wave durability order, used by
    # bench.py's pipelined-vs-sync A/B and as a debugging fallback.
    pipeline_waves: bool = True
    bloom_shards: int = 16
    bloom_bits_per_shard: int = 1 << 20
    bloom_num_hashes: int = 5
    # adaptive activation: the Bloom prefilter pays one Arrow cogroup pass
    # per wave and only wins when the exact anti-join's build side is big —
    # activate once total visited crosses this (0 = always on). On
    # activation the shards are built once from the full visited set.
    bloom_min_visited: int = 100_000
    # HTTP-304-style recrawl fast path: when an EXPIRED url is refetched
    # and its body hash equals the stored hash, classify the fetch
    # "not_modified" — the parse stage is skipped (its links were already
    # traversed when first seen), the handler gets a spans-free row, and
    # the seen set is re-armed. Off by default (adds a content_hash
    # column to visited and a per-run expired-hash join).
    refetch_skip_unchanged: bool = False
    # politeness grouping key: "host" (oracle-parity default) or "site"
    # (registrable domain, functions/domains.py — subdomains of one site
    # share a single per-wave budget; public-suffix fan-out hosts like
    # *.github.io stay independent)
    politeness_key: str = "host"
    compact_visited_every: int = 8  # waves between visited-table compactions
    # --- link-authority frontier prioritization (north_rule "priority
    # frontier queue" closed loop): every K waves recompute integer
    # PageRank over the crawl's own link graph and stamp each NEW edge's
    # priority from its parent page's rank (higher authority → fetched
    # earlier). 0 = off (new edges inherit the unit's priority).
    rank_priority_every: int = 0
    # Per-wave counters always ride the writes for free (Observations), so
    # this now gates only the per-partition lineage diagnostic (A5), the one
    # counter that needs a grouped collect. False = throughput profile.
    collect_metrics: bool = True

    def __post_init__(self):
        # validate in the dataclass (from_toml builds through it too) so a
        # programmatically-built config with e.g. politeness_key='domain'
        # fails loudly instead of silently degrading to host mode
        # (plans/crawl.py keys politeness on 'site' only when the value is
        # exactly 'site'). replace()/with_() re-run this too.
        if self.politeness_key not in ("host", "site"):
            raise ValueError(
                f"politeness_key must be 'host' or 'site', got {self.politeness_key!r}"
            )
        if self.fetch_mode not in ("synthetic", "http"):
            raise ValueError(
                f"fetch_mode must be 'synthetic' or 'http', got {self.fetch_mode!r}"
            )

    @property
    def effective_max_content_length(self) -> int:
        return effective_max_content_length(self.max_content_length)

    def with_(self, **kw) -> "CrawlConfig":
        return replace(self, **kw)

    def request_headers(self) -> dict[str, str]:
        """Headers sent with every fetch: user headers + basic auth
        (configureBasicAuth, factory.go:186-193), minus the Authorization
        header when any configured cookie name case-insensitively matches
        a session cookie name (the one-session-per-request guard,
        brink.go:177-184)."""
        import base64

        hdrs = dict(self.headers)
        if self.auth_type == AUTH_BASIC:
            token = base64.b64encode(
                f"{self.user}:{self.password}".encode()
            ).decode()
            hdrs["Authorization"] = f"Basic {token}"
        session_lower = {s.lower() for s in self.session_cookie_names}
        if session_lower and any(
            name.lower() in session_lower for name, _ in self.cookies
        ):
            hdrs.pop("Authorization", None)
        return hdrs


# TOML keys follow the reference tags (crawler.go:48-101); extension keys are
# kebab-cased the same way.
_TOML_KEYS = {
    "entrypoint": "entrypoint",
    "allowed-domains": "allowed_domains",
    "ignore-get-parameters": "ignore_get_parameters",
    "fuzzy-get-parameter-checks": "fuzzy_get_parameter_checks",
    "ignore-path-visits": "forbidden_paths",
    # cmd/example-conf.toml spells this key 'forbidden-paths', which the
    # reference's own parser (tag 'ignore-path-visits') silently drops; we
    # accept both spellings rather than reproduce the silent drop.
    "forbidden-paths": "forbidden_paths",
    "max-content-length": "max_content_length",
    "auth-type": "auth_type",
    "user": "user",
    "pass": "password",
    "session-cookie-names": "session_cookie_names",
    "url-buffer-size": "url_buffer_size",
    "worker-count": "worker_count",
    "idle-work-check-interval": "idle_work_check_interval",
    "politeness-budget": "politeness_budget",
    "politeness-key": "politeness_key",
    "refetch-skip-unchanged": "refetch_skip_unchanged",
    "rank-priority-every": "rank_priority_every",
    "max-waves": "max_waves",
    "max-depth": "max_depth",
    "max-pages-per-host": "max_pages_per_host",
    "max-pages-per-template": "max_pages_per_template",
    "preblocked-templates": "preblocked_templates",
    "retry-misses": "retry_misses",
    "sitemap-discovery": "sitemap_discovery",
    "fetch-partitions": "fetch_partitions",
}


def from_toml(path: str) -> CrawlConfig:
    """NewCrawlerFromToml equivalent (factory.go:134-147), driver-side.
    Unknown top-level keys warn instead of being dropped silently."""
    import warnings

    with open(path, "rb") as fh:
        raw = tomllib.load(fh)
    kwargs: dict = {}
    for toml_key, attr in _TOML_KEYS.items():
        if toml_key in raw:
            val = raw[toml_key]
            if isinstance(val, list):
                val = tuple(val)
            kwargs[attr] = val
    # [headers] table (crawler.go:80) and [cookies.<name>] sections
    # (crawler.go:76-78; cmd/example-conf.toml uses [[cookies.<name>]]
    # array-of-tables) — value-only cookie model
    if isinstance(raw.get("headers"), dict):
        kwargs["headers"] = tuple(raw["headers"].items())
    if isinstance(raw.get("cookies"), dict):
        cookies = []
        for name, c in raw["cookies"].items():
            if isinstance(c, list):  # [[cookies.Name]] array-of-tables form
                c = c[0] if c else {}
            if isinstance(c, dict):
                lc = {k.lower(): v for k, v in c.items()}
                cookies.append((str(lc.get("name", name)), str(lc.get("value", ""))))
            else:
                cookies.append((name, str(c)))
        kwargs["cookies"] = tuple(cookies)
    elif isinstance(raw.get("cookies"), list):
        # top-level [[cookies]] array-of-tables — the form the reference's
        # own TestNewCrawlerFromToml uses (factory_test.go:143-160); each
        # entry is an http.Cookie table whose Name/Value we keep
        cookies = []
        for c in raw["cookies"]:
            if isinstance(c, dict):
                lc = {k.lower(): v for k, v in c.items()}
                if "name" in lc:
                    cookies.append((str(lc["name"]), str(lc.get("value", ""))))
        kwargs["cookies"] = tuple(cookies)
    unknown = set(raw) - set(_TOML_KEYS) - {"headers", "cookies"}
    if unknown:
        warnings.warn(f"unknown TOML config keys ignored: {sorted(unknown)}")
    if "entrypoint" not in kwargs:
        raise ValueError("config missing 'entrypoint'")
    return CrawlConfig(**kwargs)
