"""Structured-Streaming frontier: the crawl loop as a self-feeding stream.

The reference's channel (crawler.go:32-34) is, in Spark terms, an unbounded
stream of frontier edges. This module runs the same wave pipeline as
plans/crawl.py but driven by ``readStream`` over an edge-file directory:
every micro-batch is one wave; newly discovered links are appended back
into the watched directory, so the stream feeds itself until the frontier
drains (``processAllAvailable`` returns when a batch emits nothing new —
the exact streaming analogue of the idle-checker, brink.go:36-51).

Semantics are identical to the batch engine because each trigger consumes
exactly the files one wave produced: all of wave K+1's part-files are
committed before trigger K+1 fires (single writer, sequential triggers).
The batch loop remains the production recommendation (deterministic wave
ids, simpler resume); this exists for continuous/incremental crawling
where new seed batches arrive while the crawl runs.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession, functions as F
from pyspark.sql.types import BooleanType, StructField, StructType

from brink_spark.plans.crawl import FRONTIER_SCHEMA, CrawlEngine


class StreamingCrawl:
    """Drives a CrawlEngine from a streaming frontier directory."""

    def __init__(self, engine: CrawlEngine, max_waves: int | None = None):
        self.engine = engine
        self.in_dir = os.path.join(engine.store.root, "frontier_in")
        os.makedirs(self.in_dir, exist_ok=True)
        self.max_waves = max_waves
        self._wave = 0
        self._pages_slim = None

    def seed(self, seeds_df) -> None:
        seeds_df.select(
            F.lit("start").alias("linked_from"),
            "url",
            F.col("priority").cast("int").alias("priority"),
            F.lit(0).alias("depth"),
        ).write.mode("append").parquet(self.in_dir)

    def _process_batch(self, batch_df, batch_id: int) -> None:
        from brink_spark.storage import Manifest

        engine, store = self.engine, self.engine.store
        wave = self._wave
        manifest = store.read_manifest() or Manifest()
        # the batch IS this wave's frontier; stage it so the standard wave
        # runs unchanged (writes are the checkpoint, as in the batch loop)
        store.write(
            batch_df.select(
                "linked_from",
                "url",
                "priority",
                # files staged before the depth column existed read as null
                F.coalesce("depth", F.lit(0)).cast("int").alias("depth"),
            ),
            "frontier",
            wave,
        )
        # the staged batch is NOT the frontier the engine last observed: a
        # late seed batch arriving after the stream drained would otherwise
        # inherit the stale carried count (0) and be skipped as empty —
        # force one recount from the staged table
        engine._pending_frontier_count = None
        m = engine._run_wave(wave, manifest, self._pages_slim)
        if m is None:
            return
        manifest.last_wave = wave
        store.commit(manifest)
        self._wave += 1
        if self.max_waves is not None and self._wave >= self.max_waves:
            return  # cap reached: stop feeding; the stream drains
        # feed the next frontier (new links + politeness-deferred edges)
        nxt = store.read(batch_df.sparkSession, "frontier", wave + 1)
        if nxt.limit(1).count() > 0:
            nxt.select("linked_from", "url", "priority", "depth").write.mode(
                "append"
            ).parquet(self.in_dir)

    def start(self, spark: SparkSession, seeds_df=None):
        """Start the self-feeding stream (optionally seeding first) and
        return the StreamingQuery. The stream stays live after the frontier
        drains — the module's stated use case: NEW seed batches may arrive
        (``seed(...)``) at any time, including after idle, and the crawl
        resumes from the accumulated visited state."""
        # the same fetch-join-ready pages side the batch run() prepares
        self._pages_slim = self.engine._prepare_pages()
        if seeds_df is not None:
            self.seed(seeds_df)
        # fresh StructType: StructType.add MUTATES the receiver, so adding
        # onto the shared FRONTIER_SCHEMA would poison every later stream
        # in the same process with a duplicate column
        schema = StructType(
            list(FRONTIER_SCHEMA.fields) + [StructField("deferred", BooleanType())]
        )
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 100000)
            .parquet(self.in_dir)
        )
        return (
            stream.writeStream.foreachBatch(self._process_batch)
            .option(
                "checkpointLocation",
                os.path.join(self.engine.store.root, "_stream_checkpoint"),
            )
            .start()
        )

    def run_until_drained(self, spark: SparkSession, seeds_df) -> int:
        """Process the stream until the frontier drains; returns wave count."""
        query = self.start(spark, seeds_df)
        try:
            query.processAllAvailable()
        finally:
            query.stop()
        return self._wave
