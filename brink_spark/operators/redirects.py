"""Redirect-chain collapse: the wave model's stand-in for HTTP redirect
following.

The reference fetches with the zero-value ``&http.Client{}``
(factory.go:42, used at brink.go:194), so Go's transport follows 3xx
``Location`` chains transparently: ``defaultCheckRedirect`` permits 9
hops and errors on the 10th ("stopped after 10 redirects"), a client.Do
error is the caller's miss path (brink.go:195-197), and everything the
caller sees — status, body, ContentLength, resp.Cookies() — comes from
the chain's FINAL response. The requested (original, normalized) URL is
what lands in visitedURLs and what links resolve against (brink.go:103,
117); the domain-allowed gate also runs on the original URL
(brink.go:205-215).

In the sandbox's pages-table model a redirect row carries
``redirect_to`` (the raw Location value). This operator collapses chains
ONCE per run, before any wave: the per-wave fetch equi-join then sees a
pages view where every redirect row already holds its final payload (or
a null payload → outcome 'miss' for dangling targets, malformed
Locations, and >9-hop chains/loops — all of which are client.Do errors
in Go).

Scale shape: the chain walk touches ONLY the redirect subset (a few
percent of any real corpus) — ``max_hops`` bounded self-joins over that
subset, each a shuffle of the still-unresolved remainder, with an
``isEmpty`` early-exit (real chains are 1-2 hops). The resolved override
rows are ``localCheckpoint``-ed (run-scoped; recomputed from the pages
table on a resume, so nothing new needs to survive a crash) and unioned
with the untouched non-redirect rows, keeping the big side of the union
a plain pruned parquet scan every wave.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Go net/http defaultCheckRedirect: error when len(via) >= 10 — the 10th
# redirect of a request is refused, so at most 9 hops ever resolve.
MAX_REDIRECT_HOPS = 9

# override rows per partition of the collapsed redirect subset: each row
# carries a final page payload (body included), so ~4k rows of ~16 KB
# bodies land near Spark's 64 MB advisory partition size
OVERRIDE_ROWS_PER_PARTITION = 4096


def collapse_redirect_chains(
    pages_slim: DataFrame, norm_udf, max_hops: int = MAX_REDIRECT_HOPS
) -> DataFrame:
    """Return ``pages_slim`` with 3xx chains collapsed to final payloads.

    ``pages_slim`` must carry ``url_norm`` plus payload columns
    (page_status / content_length / body / set_cookie...); rows with a
    non-null ``redirect_to`` are rewritten in place (same ``url_norm``
    key, final payload). A chain that dead-ends, loops, or exceeds
    ``max_hops`` yields an all-null payload row — the fetch stage's
    'miss' outcome, exactly like an unmatched equi-join row.

    ``norm_udf`` is the engine's vectorized URL-normalize UDF (the
    Location value is a raw URL; the pages table is keyed by url_norm).
    """
    if "redirect_to" not in pages_slim.columns:
        return pages_slim

    payload_cols = [
        c for c in pages_slim.columns if c not in ("url_norm", "redirect_to")
    ]
    base = pages_slim.filter(F.col("redirect_to").isNull()).drop("redirect_to")

    # hop map over the redirect subset only: src url_norm -> normalized
    # target. The emptiness checks ride each eager checkpoint's own job as
    # an Observation (the cut_with_stats pattern, queries/iterate.py) —
    # the old per-hop isEmpty() was a separate tiny job per iteration.
    from pyspark.sql import Observation

    obs0 = Observation()
    hop_map = (
        pages_slim.filter(F.col("redirect_to").isNotNull())
        .select(
            F.col("url_norm").alias("hk"),
            norm_udf("redirect_to")["url_norm"].alias("tgt"),
        )
        .observe(obs0, F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)  # reused max_hops times below
    )
    n_redirects = obs0.get["n"]
    if n_redirects == 0:
        return base

    # walk: cur starts one hop in; each iteration follows one more redirect.
    # terminal = cur is not itself a redirect row (payload join decides
    # whether it's a real page or a dangling miss).
    pending = hop_map.select(F.col("hk").alias("src"), F.col("tgt").alias("cur"))
    done_parts: list[DataFrame] = []
    for _ in range(max_hops - 1):
        j = pending.join(
            hop_map, pending["cur"] == hop_map["hk"], "left"
        )
        done_parts.append(j.filter(F.col("hk").isNull()).select("src", "cur"))
        obs = Observation()
        pending = (
            j.filter(F.col("hk").isNotNull())
            .select("src", F.col("tgt").alias("cur"))
            .observe(obs, F.count(F.lit(1)).alias("n"))
            .localCheckpoint(eager=True)  # cut the growing self-join lineage
        )
        if obs.get["n"] == 0:
            break
    else:
        # rows that would need hop max_hops+1 — Go refuses the 10th redirect
        j = pending.join(hop_map, pending["cur"] == hop_map["hk"], "left")
        done_parts.append(j.filter(F.col("hk").isNull()).select("src", "cur"))
        pending = j.filter(F.col("hk").isNotNull()).select(
            "src", F.lit(None).cast("string").alias("cur")
        )
        done_parts.append(pending)

    mapping = done_parts[0]
    for part in done_parts[1:]:
        mapping = mapping.unionByName(part)

    # coalesce before pinning: ``mapping`` is a union of up to max_hops
    # join outputs, each carrying a full set of shuffle partitions, so the
    # raw override relation arrives massively over-partitioned for its row
    # count (measured: 320 near-empty partitions for a 147-row override
    # set — and every wave's fetch join re-scanned all of them). It holds
    # exactly one row per redirect row, a count obs0 already observed, so
    # the width follows from the data; coalesce merges without a shuffle.
    n_parts = -(-n_redirects // OVERRIDE_ROWS_PER_PARTITION)
    overrides = (
        mapping.join(
            base.select(F.col("url_norm").alias("fk"), *payload_cols),
            mapping["cur"] == F.col("fk"),
            "left",
        )
        .select(F.col("src").alias("url_norm"), *payload_cols)
        .coalesce(n_parts)
        .localCheckpoint(eager=True)  # tiny; reused by every wave's fetch join
    )
    return base.unionByName(overrides)
