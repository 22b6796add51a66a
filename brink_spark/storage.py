"""Snapshot-committed table store for the wave loop.

Iceberg-shaped semantics on a parquet backend (the sandbox has no Iceberg
runtime jar; on a cluster, swap ``_write_parquet``/``read_*`` for
``df.writeTo(table).append()`` + snapshot reads — the commit protocol below
is exactly Iceberg's: write data files first, then one atomic metadata swap).

Layout::

    root/
      manifest.json                  # atomic commit pointer (os.replace)
      frontier/wave=K/part-*.parquet # next wave's input, written at wave K-1
      visited/wave=K/...             # per-wave appends to the seen set
      visited/compacted_upto=K/...   # periodic compaction (read-path rollup)
      results/wave=K/...             # handler-output rows (A4)
      metrics/wave=K/...             # per-wave counters + per-partition lineage (A5)
      bloom/wave=K/...               # Bloom shard bitmaps as of end of wave K

A wave K commit = all ``wave=K`` dirs fully written, frontier for K+1
written, then ``manifest.json`` atomically replaced with ``last_wave=K``.
Crash mid-wave → manifest still names K-1; resume recomputes wave K from
the K-1 state and overwrites the partial dirs (exactly-once per wave).
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass
from typing import Optional


@dataclass
class Manifest:
    last_wave: int = -1
    compacted_upto: int = -1  # visited waves ≤ this live in the compacted dir
    done: bool = False
    config_fingerprint: str = ""
    updated_at: float = 0.0
    # cumulative ok-fetch count — drives adaptive Bloom activation without a
    # store scan (old manifests default 0 and re-accumulate)
    total_visited: int = 0
    # runtime request state, committed with each wave so crash-resume keeps
    # the jar and the Authorization-suppression decision (brink.go:267-274 /
    # 177-184). None = written by a pre-jar manifest → the resume branch
    # keeps the constructor's config-derived jar.
    cookie_jar: Optional[dict] = None
    auth_suppressed_since_wave: Optional[int] = None


class CrawlStore:
    # wavestage is the per-wave materialized stage table (scratch): the
    # deep DAG is evaluated exactly once into it and every output table
    # is a flat projection — keeps Catalyst planning out of the wave's
    # critical path and doubles as wave-level debuggability
    TABLES = (
        "frontier",
        "visited",
        "results",
        "metrics",
        "bloom",
        "fetchlog",
        "wavestage",  # the fused per-wave scratch (edge grain + fetch cols)
        "ranks",
    )

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- manifest ----------------------------------------------------------
    @property
    def _manifest_path(self) -> str:
        return os.path.join(self.root, "manifest.json")

    def read_manifest(self) -> Optional[Manifest]:
        try:
            with open(self._manifest_path) as fh:
                return Manifest(**json.load(fh))
        except FileNotFoundError:
            return None

    def commit(self, manifest: Manifest) -> None:
        manifest.updated_at = time.time()
        tmp = self._manifest_path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(manifest.__dict__, fh)
        os.replace(tmp, self._manifest_path)  # atomic snapshot swap

    # -- paths -------------------------------------------------------------
    def wave_dir(self, table: str, wave: int) -> str:
        return os.path.join(self.root, table, f"wave={wave}")

    def compacted_dir(self, upto: int) -> str:
        return os.path.join(self.root, "visited", f"compacted_upto={upto}")

    # -- IO ------------------------------------------------------------------
    def write(self, df, table: str, wave: int) -> str:
        path = self.wave_dir(table, wave)
        df.write.mode("overwrite").parquet(path)
        return path

    def rewrite(self, df, table: str, wave: int) -> str:
        """Overwrite a wave dir that the df's OWN lineage reads (plain
        overwrite mode deletes the input files before the job runs):
        write to a temp dir, then swap."""
        final = self.wave_dir(table, wave)
        tmp = final + ".rewrite.tmp"
        df.write.mode("overwrite").parquet(tmp)
        shutil.rmtree(final, ignore_errors=True)
        os.rename(tmp, final)
        return final

    def read(self, spark, table: str, wave: int):
        return spark.read.parquet(self.wave_dir(table, wave))

    def has(self, table: str, wave: int) -> bool:
        return os.path.exists(os.path.join(self.wave_dir(table, wave), "_SUCCESS"))

    def visited_paths(self, manifest: Manifest) -> list[str]:
        """Read-path for the full seen set as of ``manifest.last_wave``."""
        paths = []
        start = 0
        if manifest.compacted_upto >= 0:
            paths.append(self.compacted_dir(manifest.compacted_upto))
            start = manifest.compacted_upto + 1
        for w in range(start, manifest.last_wave + 1):
            if self.has("visited", w):
                paths.append(self.wave_dir("visited", w))
        return paths

    # -- visited-entry expiry (recrawl support) -----------------------------
    # Tombstones are engine-level metadata beside the manifest: one parquet
    # dir of (url_norm, expired_asof_wave) rows, appended by
    # CrawlEngine.expire_visited. The LIVE seen set (read_visited) drops a
    # visited row iff its wave <= the url's latest tombstone — so a later
    # RE-fetch (higher wave) wins again. Time-travel reads (read_asof) show
    # pre-expiry history unchanged; compaction materializes the filtered
    # view and clears covered tombstones.
    @property
    def _tombstone_dir(self) -> str:
        return os.path.join(self.root, "tombstones")

    def write_tombstones(self, urls_df, asof_wave: int) -> None:
        from pyspark.sql import functions as F

        out = urls_df.select("url_norm").distinct().withColumn(
            "expired_asof_wave", F.lit(asof_wave).cast("int")
        )
        os.makedirs(self._tombstone_dir, exist_ok=True)
        out.write.mode("append").parquet(self._tombstone_dir)

    def _tombstones(self, spark):
        """``(url_norm, _exp)``: each tombstoned url's latest expiry wave,
        or None while no tombstone has been written."""
        from pyspark.sql import functions as F

        if not os.path.isdir(self._tombstone_dir):
            return None
        try:
            tomb = spark.read.parquet(self._tombstone_dir)
        except Exception:  # dir exists but holds no parquet yet
            return None
        return tomb.groupBy("url_norm").agg(F.max("expired_asof_wave").alias("_exp"))

    def _apply_tombstones(self, spark, df):
        from pyspark.sql import functions as F

        mx = self._tombstones(spark) if df is not None else None
        if mx is None:
            return df
        return (
            df.join(mx, "url_norm", "left")
            .filter(F.col("wave") > F.coalesce(F.col("_exp"), F.lit(-1)))
            .drop("_exp")
        )

    def clear_tombstones(self) -> None:
        shutil.rmtree(self._tombstone_dir, ignore_errors=True)

    def read_expired_visited(self, spark, manifest: Manifest):
        """``(url_norm, prior_hash)`` of the most recent EXPIRED visited
        entry per url — the comparison set for the engine's
        ``refetch_skip_unchanged`` (HTTP-304-style) fast path. Bounded by
        the tombstone set: only tombstoned urls can have expired rows, so
        the inner join keeps the scan's output tiny regardless of |visited|.
        Returns None when there are no tombstones or the store predates
        content hashes (flag turned on mid-crawl). Hash knowledge lives
        until the next compaction (which materializes the post-expiry
        state and clears tombstones) — after that a refetch is simply a
        full fetch again, which is correct, just not optimized."""
        from pyspark.sql import functions as F

        paths = self.visited_paths(manifest)
        mx = self._tombstones(spark) if paths else None
        if mx is None:
            return None
        df = spark.read.parquet(*paths)
        if "content_hash" not in df.columns:
            return None
        return (
            df.join(mx, "url_norm")
            .filter(F.col("wave") <= F.col("_exp"))
            .groupBy("url_norm")
            .agg(F.max_by("content_hash", "wave").alias("prior_hash"))
        )

    def read_visited(self, spark, manifest: Manifest):
        paths = self.visited_paths(manifest)
        if not paths:
            return None
        return self._apply_tombstones(spark, spark.read.parquet(*paths))

    # tables whose per-wave dirs form an append log, so 'state as of wave K'
    # = union of dirs 0..K. frontier / wavestage / bloom are
    # SNAPSHOT-per-wave tables (each wave's dir supersedes the previous) —
    # unioning those would mix superseded states.
    APPEND_TABLES = ("visited", "results", "fetchlog", "metrics")

    def read_asof(self, spark, table: str, wave: int):
        """Snapshot (time-travel) read: the table's cumulative state as of
        the END of ``wave`` — Iceberg's VERSION AS OF on the per-wave
        append layout. Only append-layout tables have a cumulative 'as of'
        (APPEND_TABLES); for snapshot-style tables (``frontier`` etc.) the
        state as of wave K IS the wave-K dir, so this returns that single
        snapshot instead. For ``visited`` the compacted rollup is used when
        it covers the requested wave; waves BELOW the compaction horizon are
        no longer travelable (compaction is snapshot expiry, exactly like
        Iceberg's expire_snapshots) — returns None there. Tombstones are
        not applied: a time-travel read shows the pre-expiry history."""
        if table not in self.APPEND_TABLES:
            # snapshot layout: one dir per wave, later waves supersede
            if not self.has(table, wave):
                return None
            return self.read(spark, table, wave)
        if table == "visited":
            m = self.read_manifest() or Manifest()
            if m.compacted_upto > wave:
                return None  # below the compaction horizon: snapshot expired
            shadow = Manifest(last_wave=wave, compacted_upto=m.compacted_upto)
            paths = self.visited_paths(shadow)
        else:
            paths = [
                self.wave_dir(table, w)
                for w in range(wave + 1)
                if self.has(table, w)
            ]
        if not paths:
            return None
        return spark.read.parquet(*paths)

    def compact_visited(self, spark, manifest: Manifest) -> None:
        """Roll per-wave visited appends into one dir (read-amplification
        control for long crawls; Iceberg rewrite-data-files equivalent)."""
        paths = self.visited_paths(manifest)
        if not paths:
            return
        # tombstone-filtered LIVE view: compaction materializes the
        # post-expiry state, after which the covered tombstones are cleared
        df = self._apply_tombstones(spark, spark.read.parquet(*paths))
        # target partition count from input SIZE (DataFrame-pure — no RDD
        # API): one output partition per ~128 MB of input files, min 1
        n_bytes = sum(
            os.path.getsize(os.path.join(d, f))
            for d in paths
            for f in os.listdir(d)
            if f.endswith(".parquet")
        )
        n_parts = max(1, n_bytes // (128 << 20))
        target = self.compacted_dir(manifest.last_wave)
        df.repartition(n_parts, "url_norm").write.mode("overwrite").parquet(target)
        old_compacted = manifest.compacted_upto
        manifest.compacted_upto = manifest.last_wave
        self.commit(manifest)
        # only AFTER the commit references the filtered rollup (a crash
        # in between must not resurrect expired entries)
        self.clear_tombstones()  # rollup covers every wave <= last_wave
        # old per-wave dirs are now shadowed; drop them to bound file count
        for w in range(0, manifest.compacted_upto + 1):
            shutil.rmtree(self.wave_dir("visited", w), ignore_errors=True)
        if old_compacted >= 0:
            shutil.rmtree(self.compacted_dir(old_compacted), ignore_errors=True)

    # -- metrics (driver-side JSON: one tiny dict per wave; a Spark write
    # would cost a whole job for a handful of counters) --------------------
    def write_metrics(self, wave: int, metrics: dict) -> None:
        path = os.path.join(self.root, "metrics")
        os.makedirs(path, exist_ok=True)
        tmp = os.path.join(path, f"wave={wave}.json.tmp")
        with open(tmp, "w") as fh:
            json.dump(metrics, fh)
        os.replace(tmp, os.path.join(path, f"wave={wave}.json"))

    def read_metrics(self, upto_wave: int) -> list[dict]:
        out = []
        for w in range(upto_wave + 1):
            p = os.path.join(self.root, "metrics", f"wave={w}.json")
            if os.path.exists(p):
                with open(p) as fh:
                    out.append(json.load(fh))
        return out

    def clean_uncommitted(self, last_wave: int) -> None:
        """Delete partial outputs of any wave > last_wave (crash recovery)."""
        for table in self.TABLES:
            tdir = os.path.join(self.root, table)
            if not os.path.isdir(tdir):
                continue
            for entry in os.listdir(tdir):
                if not entry.startswith("wave="):
                    continue
                w = int(entry.split("=", 1)[1].split(".", 1)[0])
                # frontier/wave=K+1 is written by wave K and is part of its commit
                keep_upto = last_wave + 1 if table == "frontier" else last_wave
                if w > keep_upto:
                    full = os.path.join(tdir, entry)
                    if os.path.isdir(full):
                        shutil.rmtree(full, ignore_errors=True)
                    else:
                        os.remove(full)

    def destroy(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)

    def reset(self) -> None:
        """Destroy all state and leave the store ready for a fresh run
        (type-preserving — subclasses reset their own backend)."""
        self.destroy()
        os.makedirs(self.root, exist_ok=True)
