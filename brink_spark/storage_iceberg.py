"""Iceberg-backed CrawlStore: the executable swap-in for storage.py.

The parquet store implements Iceberg's COMMIT PROTOCOL by hand (write data
files, then one atomic metadata swap). This backend commits through real
Iceberg snapshots instead: every logical per-wave table becomes ONE Iceberg
table partitioned by a ``_wave`` column, and a wave write is
``overwritePartitions()`` — an atomic replace of exactly the ``_wave=K``
partition, which is the same idempotent crash-rewrite semantics the parquet
layout gets from directory overwrite + manifest pointer.

Mapping (north_rule: "over Iceberg tables"):

    parquet layout                      Iceberg backend
    ------------------------------      --------------------------------
    {table}/wave=K/part-*.parquet       {catalog}.{ns}.{table} partition _wave=K
    write = dir overwrite               write = overwritePartitions() snapshot
    visited/compacted_upto=K/           {ns}.visited_compacted partition _upto=K
    compaction + dir removal            compaction + partition-predicate DELETE
    read_asof = union of wave dirs      read_asof = WHERE _wave <= K
    clean_uncommitted = rmtree          DELETE WHERE _wave > last_wave
    manifest.json                       manifest.json (unchanged: the engine's
                                        commit pointer spans MULTIPLE tables
                                        per wave — a cross-table transaction
                                        marker Iceberg itself doesn't provide)

Requirements (a real cluster; NOT present in this sandbox — tests skip):
- the iceberg-spark-runtime jar on the classpath,
- a catalog registered via ``iceberg_configs()`` below. Catalog options are
  read from SQLConf at first use, so ``spark.conf.set`` at runtime works —
  no session rebuild needed. All deletes here are partition-predicate
  (metadata-only) deletes, so the Iceberg SQL extensions are not required.

Verified by tests/test_iceberg_store.py: the SAME resume / compaction /
time-travel contract tests as the parquet backend, parametrized over both
stores, skipped (not faked) when the jar is absent.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import SparkSession, functions as F

from brink_spark.storage import CrawlStore, Manifest


def iceberg_jar_present() -> bool:
    """True when an iceberg-spark-runtime jar is on pyspark's classpath."""
    try:
        import pyspark

        jars = os.path.join(os.path.dirname(pyspark.__file__), "jars")
        return bool(glob.glob(os.path.join(jars, "iceberg-spark-runtime*.jar")))
    except Exception:
        return False


def iceberg_configs(warehouse: str, catalog: str = "crawl") -> dict[str, str]:
    """Catalog configs for session.get_spark(extra=...) or runtime
    spark.conf.set (catalogs are lazily instantiated from SQLConf)."""
    return {
        f"spark.sql.catalog.{catalog}": "org.apache.iceberg.spark.SparkCatalog",
        f"spark.sql.catalog.{catalog}.type": "hadoop",
        f"spark.sql.catalog.{catalog}.warehouse": warehouse,
    }


class IcebergCrawlStore(CrawlStore):
    """CrawlStore over an Iceberg catalog. ``root`` still holds the
    manifest.json commit pointer and the per-wave metrics JSON (driver-side
    metadata spanning multiple Iceberg tables); all DATA goes through
    Iceberg snapshot commits."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        catalog: str = "crawl",
        namespace: str = "crawlstore",
    ):
        self.spark = spark
        self.catalog = catalog
        self.namespace = namespace
        super().__init__(root)
        spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {catalog}.{namespace}")

    def _t(self, table: str) -> str:
        return f"{self.catalog}.{self.namespace}.{table}"

    def _exists(self, table: str) -> bool:
        return self.spark.catalog.tableExists(self._t(table))

    # -- IO -----------------------------------------------------------------
    def write(self, df, table: str, wave: int) -> str:
        t = self._t(table)
        out = df.withColumn("_wave", F.lit(wave))
        if not self._exists(table):
            out.writeTo(t).partitionedBy(F.col("_wave")).create()
        else:
            # atomic replace of exactly the _wave=K partition: one Iceberg
            # snapshot; a crashed wave's partial write never becomes visible
            out.writeTo(t).overwritePartitions()
        return t

    def rewrite(self, df, table: str, wave: int) -> str:
        # Iceberg snapshot isolation: the write reads the CURRENT snapshot
        # while staging new files, so self-referencing overwrites are safe
        return self.write(df, table, wave)

    def read(self, spark, table: str, wave: int):
        return (
            spark.read.table(self._t(table))
            .where(F.col("_wave") == wave)
            .drop("_wave")
        )

    def has(self, table: str, wave: int) -> bool:
        # NOTE: an EMPTY wave write is indistinguishable from an absent one
        # (no rows at _wave=K). Every consumer of has() tolerates that: a
        # missing empty visited/bloom/ranks wave only re-derives an empty
        # (or deterministic) state.
        if not self._exists(table):
            return False
        return (
            self.spark.read.table(self._t(table))
            .where(F.col("_wave") == wave)
            .limit(1)
            .count()
            > 0
        )

    # -- visited read path ----------------------------------------------------
    def _read_visited_raw(self, spark, manifest: Manifest):
        """The visited rows as of ``manifest``, tombstones not applied."""
        parts = []
        start = 0
        if manifest.compacted_upto >= 0 and self._exists("visited_compacted"):
            parts.append(
                spark.read.table(self._t("visited_compacted"))
                .where(F.col("_upto") == manifest.compacted_upto)
                .drop("_upto")
            )
            start = manifest.compacted_upto + 1
        if manifest.last_wave >= start and self._exists("visited"):
            parts.append(
                spark.read.table(self._t("visited"))
                .where(
                    (F.col("_wave") >= start)
                    & (F.col("_wave") <= manifest.last_wave)
                )
                .drop("_wave")
            )
        if not parts:
            return None
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        return df

    def read_visited(self, spark, manifest: Manifest):
        # tombstones (visited-entry expiry) are driver-side parquet beside
        # the manifest — shared mechanics with the parquet backend
        return self._apply_tombstones(spark, self._read_visited_raw(spark, manifest))

    def read_asof(self, spark, table: str, wave: int):
        if table not in self.APPEND_TABLES:
            return self.read(spark, table, wave) if self.has(table, wave) else None
        if table == "visited":
            m = self.read_manifest() or Manifest()
            if m.compacted_upto > wave:
                return None  # below the compaction horizon: snapshot expired
            shadow = Manifest(last_wave=wave, compacted_upto=m.compacted_upto)
            return self._read_visited_raw(spark, shadow)  # pre-expiry history
        if not self._exists(table):
            return None
        return (
            spark.read.table(self._t(table))
            .where(F.col("_wave") <= wave)
            .drop("_wave")
        )

    def compact_visited(self, spark, manifest: Manifest) -> None:
        df = self.read_visited(spark, manifest)
        if df is None:
            return
        out = df.withColumn("_upto", F.lit(manifest.last_wave))
        if not self._exists("visited_compacted"):
            out.writeTo(self._t("visited_compacted")).partitionedBy(
                F.col("_upto")
            ).create()
        else:
            out.writeTo(self._t("visited_compacted")).overwritePartitions()
        old = manifest.compacted_upto
        manifest.compacted_upto = manifest.last_wave
        self.commit(manifest)
        # partition-predicate deletes: metadata-only snapshot commits
        self.spark.sql(
            f"DELETE FROM {self._t('visited')} WHERE _wave <= {manifest.compacted_upto}"
        )
        if old >= 0:
            self.spark.sql(
                f"DELETE FROM {self._t('visited_compacted')} WHERE _upto = {old}"
            )
        # rollup materialized the post-expiry view (committed above)
        self.clear_tombstones()

    # -- lifecycle ------------------------------------------------------------
    def clean_uncommitted(self, last_wave: int) -> None:
        for table in self.TABLES:
            if not self._exists(table):
                continue
            keep_upto = last_wave + 1 if table == "frontier" else last_wave
            self.spark.sql(
                f"DELETE FROM {self._t(table)} WHERE _wave > {keep_upto}"
            )

    def destroy(self) -> None:
        if getattr(self, "spark", None) is not None:
            for row in self.spark.sql(
                f"SHOW TABLES IN {self.catalog}.{self.namespace}"
            ).collect():
                self.spark.sql(
                    f"DROP TABLE IF EXISTS {self.catalog}.{self.namespace}.{row['tableName']}"
                )
        super().destroy()

    def reset(self) -> None:
        self.destroy()
        os.makedirs(self.root, exist_ok=True)
        self.spark.sql(
            f"CREATE NAMESPACE IF NOT EXISTS {self.catalog}.{self.namespace}"
        )
