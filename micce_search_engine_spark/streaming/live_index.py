"""Streaming incremental indexing: feed micro-batches -> index upserts.

This closes the loop the reference runs in production: the indexer
consumes the 'index' Event Hub and idempotently upserts each document
into Vespa, committing the checkpoint only after success
(/root/reference/indexer/internal/service/index_service.go:130-172).

Spark-first equivalent: Structured Streaming over the updates landing
directory; each micro-batch is applied through
``operators.upsert.apply_upsert`` — the set-oriented MERGE +
affected-term delta rebuild — so after every epoch the on-disk index
(docs/terms/term_stats/segments) answers queries that include the new
documents. ``checkpointLocation`` makes replay after a crash
at-least-once, and ``apply_upsert`` is idempotent (re-applying the same
updates is a no-op), which together give effectively-once index state —
the same contract the reference builds from Event Hub checkpoints +
idempotent Vespa PUTs.

Scale note (round-3, O(delta) end to end): the canonical pages store
is partitioned by ``pbucket = crc32(url) % n`` — each micro-batch
reads ONLY the pbuckets its updates touch, merges, and swaps back only
those partition dirs (round 2 rewrote the whole pages parquet per
epoch). ``apply_upsert`` likewise patches only the index partitions
the delta touches. Throughput tuning is the trigger size
(``maxFilesPerTrigger``) — bigger batches amortize the per-epoch
aggregate passes, exactly like the reference's receive-batch of 20.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from micce_search_engine_spark.corpus import pages_spark_schema
from micce_search_engine_spark.operators.index_build import _crc_bucket
from micce_search_engine_spark.operators.upsert import apply_upsert
from micce_search_engine_spark.plans.manifest import COMPLETED, Manifest

PAGES_BUCKETS = 64


def init_pages_store(
    spark: SparkSession, pages: DataFrame, pages_path: str, n_buckets: int = PAGES_BUCKETS
) -> None:
    """Write the canonical pages store partitioned by url-hash bucket
    so incremental epochs can patch it O(delta). The bucket count is
    recorded next to the data — readers must never guess it."""
    import json
    import os

    n_shuf = int(spark.conf.get("spark.sql.shuffle.partitions"))
    (
        pages.withColumn("pbucket", _crc_bucket("url", n_buckets))
        .repartition(n_shuf, "pbucket")
        .write.mode("overwrite")
        .partitionBy("pbucket")
        .parquet(pages_path)
    )
    with open(os.path.join(pages_path, "_store_meta.json"), "w") as f:
        json.dump({"pages_buckets": n_buckets}, f)


def _store_buckets(pages_path: str) -> int:
    import json
    import os

    with open(os.path.join(pages_path, "_store_meta.json")) as f:
        return int(json.load(f)["pages_buckets"])


def run_live_index_once(
    spark: SparkSession,
    updates_dir: str,
    index_dir: str,
    pages_path: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 20,
) -> int:
    """Drain pending update files through the incremental indexer.

    ``pages_path``: canonical pages store written by
    ``init_pages_store`` (pbucket-partitioned; only touched buckets
    are rewritten per epoch; bucket count read from the store's own
    _store_meta.json). Returns epochs processed this run.
    """
    m = Manifest(index_dir)
    epochs = {"n": 0}
    pages_buckets = _store_buckets(pages_path)

    def handle_batch(batch_df: DataFrame, epoch_id: int) -> None:
        updates = batch_df.select("url", "text", "lang")
        if updates.isEmpty():
            return
        from micce_search_engine_spark.operators.upsert import _patch_partitions

        pbuckets = sorted(
            r["b"]
            for r in updates.select(_crc_bucket("url", pages_buckets).alias("b"))
            .distinct()
            .collect()
        )
        old_sub = (
            spark.read.parquet(pages_path)
            .filter(F.col("pbucket").isin(pbuckets))
            .drop("pbucket")
        )
        merged_sub = apply_upsert(spark, index_dir, old_sub, updates).persist()
        merged_sub.count()  # materialize before swapping source buckets
        _patch_partitions(
            merged_sub.withColumn("pbucket", _crc_bucket("url", pages_buckets)),
            pages_path,
            "pbucket",
            pbuckets,
        )
        merged_sub.unpersist()
        spark.catalog.refreshByPath(pages_path)
        m.mark(
            f"live_index_epoch_{epoch_id}",
            COMPLETED,
            rows_in=updates.count(),
        )
        epochs["n"] += 1

    stream = (
        spark.readStream.schema(pages_spark_schema())
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(updates_dir)
    )
    q = (
        stream.writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return epochs["n"]
