"""Span recorder for the traced run.

The engine is not instrumented: ``Recorder.install`` wraps the public
entry points of each layer (``CrawlEngine.run``/``_run_wave``, the
``CrawlStore`` IO methods, and the operator/function names the crawl
module binds) from outside, at run time, and ``uninstall`` restores the
originals. No DataFrame method is patched: every Spark write the engine
makes goes through ``CrawlStore``. A span is (name, start, end, parent
span, run id); times are epoch seconds so they line up with the Spark
event log.

Parents: a span opened while another is open on the same thread nests
under it. Spans opened on the engine's writer threads (which have no
stack of their own) nest under the open wave span, else the open run
span.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run: str | None

    @property
    def dur(self) -> float:
        return self.end - self.start


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part of it its child spans cover."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    return {
        s.id: s.dur
        - union_length(
            (max(c.start, s.start), min(c.end, s.end)) for c in kids.get(s.id, ())
        )
        for s in spans
    }


def _store_write_name(args, kwargs) -> str:
    table = args[2] if len(args) > 2 else kwargs["table"]
    return f"storage.write.{table}"


class Recorder:
    def __init__(self):
        self.spans: list[Span] = []
        self.run_id: str | None = None
        # last call's (args, kwargs) per captured entry point, for replays
        self.captured: dict[str, tuple] = {}
        self.bookkeeping_s = 0.0
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._open_run: int | None = None
        self._open_wave: int | None = None
        self._patches: list[tuple] = []

    # -- recording ----------------------------------------------------------
    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        t_in = time.perf_counter()
        stack = self._stack()
        parent = stack[-1] if stack else (self._open_wave or self._open_run)
        sid = next(self._ids)
        stack.append(sid)
        if name == "crawl.run":
            self._open_run = sid
        elif name == "crawl.wave":
            self._open_wave = sid
        start = time.time()
        self.bookkeeping_s += time.perf_counter() - t_in
        try:
            yield
        finally:
            end = time.time()
            t_out = time.perf_counter()
            stack.pop()
            if name == "crawl.wave":
                self._open_wave = None
            elif name == "crawl.run":
                self._open_run = None
            with self._lock:
                self.spans.append(Span(sid, name, start, end, parent, self.run_id))
            self.bookkeeping_s += time.perf_counter() - t_out

    # -- patching -----------------------------------------------------------
    def _patch(self, owner, attr: str, name, capture: bool = False) -> None:
        orig = getattr(owner, attr)
        rec = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if capture:
                rec.captured[attr] = (args, kwargs)
            label = name(args, kwargs) if callable(name) else name
            with rec.span(label):
                return orig(*args, **kwargs)

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def install(self) -> None:
        import brink_spark.plans.crawl as crawl
        from brink_spark.operators.seen import BloomSeenSet
        from brink_spark.storage import CrawlStore

        p = self._patch
        # plans.crawl
        p(crawl.CrawlEngine, "run", "crawl.run")
        p(crawl.CrawlEngine, "_run_wave", "crawl.wave", capture=True)
        # storage
        p(CrawlStore, "write", _store_write_name)
        p(CrawlStore, "rewrite", "storage.rewrite")
        p(CrawlStore, "commit", "storage.commit")
        p(CrawlStore, "compact_visited", "storage.compact")
        p(CrawlStore, "read_visited", "storage.read_visited")
        p(CrawlStore, "clean_uncommitted", "storage.clean_uncommitted")
        # operators and functions, through the names the crawl module binds
        p(crawl, "mark_seen", "seen.mark_seen", capture=True)
        p(BloomSeenSet, "probe", "seen.bloom_probe")
        p(crawl, "apply_politeness", "politeness.apply", capture=True)
        p(crawl, "with_robots_denied", "filters.robots_denied")
        p(crawl, "collapse_redirect_chains", "redirects.collapse", capture=True)
        p(crawl, "make_normalize_udf", "urls.make_normalize_udf")
        p(crawl, "parse_spans_udf", "spans.parse_spans_udf")

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # -- reporting ----------------------------------------------------------
    def by_name(self, run: str | None = None) -> dict[str, dict]:
        """name -> {n, total_s, self_s} over the spans of one run (or all)."""
        spans = [s for s in self.spans if run is None or s.run == run]
        st = self_times(spans)
        out: dict[str, dict] = {}
        for s in spans:
            row = out.setdefault(s.name, {"n": 0, "total_s": 0.0, "self_s": 0.0})
            row["n"] += 1
            row["total_s"] += s.dur
            row["self_s"] += st[s.id]
        return out

    def dump(self, path: str, extra: dict) -> None:
        """Write every span (one JSON object per line) after a header line."""
        with open(path, "w") as fh:
            fh.write(json.dumps(extra) + "\n")
            for s in sorted(self.spans, key=lambda s: s.start):
                fh.write(json.dumps(asdict(s)) + "\n")
