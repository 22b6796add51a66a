"""Real HTTP fetch stage: the production replacement for the sandbox's
pages equi-join, as a mapInPandas operator.

SURVEY.md A1's sandbox rule makes fetch a join against a synthetic pages
table (no network in tests); this module is the production shape behind
``CrawlConfig.fetch_mode='http'``: each host-salted partition opens real
connections, fetches its batch, and emits EXACTLY the columns the
equi-join provides (page_status, content_length, body, set_cookie), so
every downstream gate (miss / not_allowed / too_large, brink.go:166-229),
the span parse, and the cookie-jar reduction run unchanged.

Execution shape (CONCURRENT kernel):
- the fetch stage is already repartitioned by a salted host hash
  (plans/crawl.py _fetch_parse), so a partition holds mostly-same-host
  URLs. Within a batch, URLs are grouped by netloc; each netloc group is
  fetched SERIALLY in url order on one worker (per-host ordering +
  connection reuse — one keep-alive connection per (scheme, netloc) per
  worker), while DIFFERENT netlocs fetch concurrently on a bounded
  thread pool. Network latency is thus overlapped across hosts instead
  of serialized across the whole partition: a partition holding K hosts
  approaches K× the serial kernel's throughput (up to ``pool_size``),
  the difference between 100 s and a few seconds for a 1,000-URL
  partition at 100 ms RTT. The reference gets the same overlap from one
  goroutine per URL (brink.go:87-100); a bounded pool per task is the
  executor-friendly equivalent (cluster-wide fan-out is then
  pool_size × tasks, still capped per box).
- results are keyed by row index, so output is DETERMINISTIC regardless
  of interleaving: each row's page columns depend only on its own URL.
- serial per-host order also means a host never sees more than one
  in-flight request from a given task — the politeness stage's per-host
  budget composes with, rather than fights, the fetch pool.
- a transport error yields NULL page_status → downstream outcome 'miss',
  exactly like the synthetic join's unmatched row (the reference treats
  any client.Do error the same way, brink.go:195-197);
- Set-Cookie is surfaced as the raw first header value, the same
  name=value shape the synthetic pages table carries.

Driven end-to-end against loopback HTTP servers in
tests/test_http_fetch.py — the engine runs real waves over real sockets,
and a multi-server latency test pins the concurrency win.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

# from-imports (not `import http.client`): cloudpickle rebinds module
# globals by re-importing the TOP-LEVEL module on the worker, and
# `import http` alone does not bring in the `client` submodule — class
# references pickle by their full module path and always resolve
from http.client import HTTPConnection, HTTPSConnection
from typing import Iterator
from urllib.parse import urlsplit

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

PAGE_FIELDS = [
    StructField("page_status", IntegerType()),
    StructField("content_length", LongType()),
    StructField("body", StringType()),
    StructField("set_cookie", StringType()),
]

# per-task fan-out cap: hosts fetched concurrently within one Spark task.
# Cluster-wide concurrency is pool_size × running tasks, so this stays
# deliberately modest; raise via http_fetch_columns(pool_size=...) when
# the executor count is small relative to host count.
DEFAULT_POOL_SIZE = 16


def _fetch_one(url: str, headers: dict, timeout: float, conns: dict):
    """Fetch one URL following 3xx Location chains like Go's zero-value
    http.Client (brink.go:194): defaultCheckRedirect allows 9 hops, the
    10th redirect is an error — which lands on the miss path. Returns
    (status, content_length, body, set_cookie) or None on transport
    error (== the reference's client.Do error == the synthetic join's
    unmatched row)."""
    parsed = urlsplit(url)
    try:
        resp = raw = None
        for hop in range(10):
            parsed = urlsplit(url)
            target = parsed.path or "/"
            if parsed.query:
                target += "?" + parsed.query
            key = (parsed.scheme, parsed.netloc)
            c = conns.get(key)
            if c is None:
                cls = HTTPSConnection if parsed.scheme == "https" else HTTPConnection
                c = cls(parsed.netloc, timeout=timeout)
                conns[key] = c
            c.request("GET", target, headers=headers)
            resp = c.getresponse()
            raw = resp.read()
            loc = resp.headers.get("Location")
            if resp.status in (301, 302, 303, 307, 308) and loc:
                if hop == 9:
                    raise OSError("stopped after 10 redirects")
                url = (
                    loc
                    if "://" in loc
                    else f"{parsed.scheme}://{parsed.netloc}{loc}"
                )
                continue
            break
        cl = resp.headers.get("Content-Length")
        return (
            int(resp.status),
            int(cl) if cl is not None else len(raw),
            raw.decode("utf-8", "replace"),
            resp.headers.get("Set-Cookie"),
        )
    except Exception:
        # drop the (possibly wedged) connection so the next URL on this
        # host starts clean
        conns.pop((parsed.scheme, parsed.netloc), None)
        return None


def http_fetch_columns(
    units: DataFrame,
    headers: dict[str, str],
    timeout: float = 10.0,
    guard_col: str | None = None,
    pool_size: int = DEFAULT_POOL_SIZE,
) -> DataFrame:
    """Fetch each unit's ``url`` over HTTP, appending the page columns —
    the drop-in replacement for ``units.join(pages_slim, 'url_norm',
    'left')`` in the fused wave stage. All unit columns pass THROUGH the
    mapInPandas (no join-back shuffle), so the caller's host-salted
    partitioning is what the connections see. With ``guard_col`` (the
    fused edge-grain input carries cached/deferred rows too) only rows
    where that boolean column is true are fetched; the rest keep null
    page columns. ``pool_size`` bounds concurrent HOSTS per task (rows
    on one host stay serial, in url order — see module docstring)."""
    out_schema = StructType(list(units.schema.fields) + PAGE_FIELDS)

    def _kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            stat = pd.Series([None] * len(pdf), index=pdf.index, dtype=object)
            clen = stat.copy()
            body_s = stat.copy()
            cookie = stat.copy()

            # group fetchable rows by netloc; url-sorted order within a
            # group is the serial kernel's deterministic per-host order
            groups: dict[str, list[tuple[object, str]]] = {}
            for idx in pdf.sort_values("url").index:
                if guard_col is not None and not bool(pdf[guard_col].loc[idx]):
                    continue  # non-fetch row: null page columns
                url = pdf["url"].loc[idx]
                groups.setdefault(urlsplit(url).netloc, []).append((idx, url))

            def _run_group(items):
                conns: dict[tuple[str, str], HTTPConnection] = {}
                out = []
                try:
                    for idx, url in items:
                        out.append((idx, _fetch_one(url, headers, timeout, conns)))
                finally:
                    for c in conns.values():
                        try:
                            c.close()
                        except Exception:
                            pass
                return out

            if groups:
                with ThreadPoolExecutor(
                    max_workers=min(pool_size, len(groups))
                ) as pool:
                    for fut in [
                        pool.submit(_run_group, g) for g in groups.values()
                    ]:
                        for idx, res in fut.result():
                            if res is not None:
                                stat.loc[idx] = res[0]
                                clen.loc[idx] = res[1]
                                body_s.loc[idx] = res[2]
                                cookie.loc[idx] = res[3]

            yield pdf.assign(
                page_status=stat,
                content_length=clen,
                body=body_s,
                set_cookie=cookie,
            )

    return units.mapInPandas(_kernel, schema=out_schema)
