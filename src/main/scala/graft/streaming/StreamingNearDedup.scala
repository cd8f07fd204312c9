package graft.streaming

import graft.functions.Dedup
import graft.sources.StoreSwap
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Streaming NEAR-dedup — the streaming face of MinHash+LSH: suppress
 * an incoming document when any of its LSH band keys was already
 * emitted within the horizon. Sits behind [[StreamingDedup]] (exact
 * digests) in an ingest pipeline: exact kills the copy firehose,
 * this kills the near-copy firehose, and the batch pipeline
 * (`Dedup.dedupPipeline`) still does the precise pass downstream.
 *
 * Semantics (deterministic, documented over-suppression):
 *  - cross-batch: a doc is suppressed iff any of its band keys was
 *    recorded by a KEPT doc in an earlier micro-batch, with a
 *    last-seen timestamp within `horizonSec` of the batch's max
 *    event time (the store is event-time expired, so state is
 *    bounded by the horizon — the same property
 *    dropDuplicatesWithinWatermark gives the exact path).
 *  - within-batch: docs are ordered by (event time, doc id); a doc is
 *    suppressed iff an EARLIER batch doc shares any band key —
 *    whether or not that earlier doc itself survived. This is the
 *    standard conservative approximation: it never emits two
 *    colliding docs from one batch, at the cost of occasionally
 *    suppressing a doc whose only collision was itself suppressed.
 *  - docs too short to shingle have no bands and are always kept.
 *
 * Scale: band keys shuffle by (band, key) — content-derived,
 * corpus-size-independent key space; the store is an append-only
 * (band, key, ts) parquet log, read with an event-time cutoff filter
 * and compacted by [[compactStore]]. No driver-side membership
 * structure, no per-doc pairwise work.
 */
object StreamingNearDedup {

  /** One micro-batch: returns the KEPT rows of `batch` and appends
   * their band keys to the store, stamped with `batchId`. Wire via
   * foreachBatch ([[attach]]) or call directly in tests/backfills
   * (pass a fresh, monotonically increasing id per call).
   *
   * Replay idempotency: foreachBatch is at-least-once — a crash
   * between this store append and the caller's sink write replays the
   * micro-batch with the SAME batchId. The cross-batch `seen` read
   * excludes rows stamped with the current batchId, so a replayed
   * batch never suppresses its own documents on the strength of its
   * earlier (half-committed) append: replay duplicates rows in the
   * sink instead of silently deleting them, and the recomputed kept
   * set is identical whether or not the store re-lists the files the
   * first attempt wrote. */
  def processBatch(spark: SparkSession, batch: DataFrame, keyCol: String,
      textCol: String, tsCol: String, storePath: String, horizonSec: Long,
      batchId: Long, n: Int = 5, k: Int = 16, bands: Int = 4): DataFrame = {
    if (batch.isEmpty) return batch
    val persisted = batch.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // own the shingle-set stage explicitly so its cache is released in
    // the finally below (a long-running stream must not accumulate
    // cached blocks across micro-batches)
    val sets = Dedup.shingleSetsPersisted(persisted, keyCol, textCol, n)
    val banded = Dedup.bandKeys(Dedup.minhashSignaturesFromSets(sets, k), k, bands)
      .join(persisted.select(col(keyCol).as("doc_id"), col(tsCol).as("_ts")), "doc_id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val maxTs = persisted.agg(max(col(tsCol))).head().getTimestamp(0)
      val cutoff = new java.sql.Timestamp(maxTs.getTime - horizonSec * 1000)

      // cross-batch: any band key seen (by a kept doc) within horizon,
      // excluding this batch's own (possibly replayed) rows
      val seen = readStore(spark, storePath)
        .filter(col("ts") >= cutoff &&
          coalesce(col("batch_id"), lit(PreHistoryBatchId)) =!= batchId)
        .select(col("band"), col("key")).distinct()
      val crossHit = banded.join(seen, Seq("band", "key"))
        .select(col("doc_id")).distinct()

      // within-batch: suppressed iff an earlier (ts, id) doc shares a band
      val wB = Window.partitionBy(col("band"), col("key"))
        .orderBy(col("_ts"), col("doc_id"))
      val batchHit = banded
        .withColumn("_rn", row_number().over(wB))
        .filter(col("_rn") > 1)
        .select(col("doc_id")).distinct()

      val suppressed = crossHit.union(batchHit).distinct()
      val kept = persisted.join(
        suppressed.withColumnRenamed("doc_id", keyCol), Seq(keyCol), "left_anti")

      // record kept docs' band keys (event-time stamped, batch stamped)
      banded.join(kept.select(col(keyCol).as("doc_id")), Seq("doc_id"))
        .select(col("band"), col("key"), col("_ts").as("ts"),
          lit(batchId).as("batch_id"))
        .write.mode(SaveMode.Append).parquet(storePath)
      kept
    } finally { banded.unpersist(); sets.unpersist(); persisted.unpersist(); () }
  }

  /** batch_id stamped on compacted / legacy store rows — streaming
   * batch ids are non-negative, so it never matches a live batch. */
  val PreHistoryBatchId: Long = -1L

  /** The store, after finishing a [[compactStore]] that crashed
   * mid-swap; empty only when no data file was written yet. Any read
   * failure of a store that has data propagates: serving it as empty
   * would re-admit every standing near-duplicate and commit — a
   * silent, permanent dedup break. */
  private def readStore(spark: SparkSession, path: String): DataFrame = {
    if (StoreSwap.ready(spark, path)) {
      // mergeSchema: tolerate stores written before the batch_id stamp
      val df = spark.read.option("mergeSchema", "true").parquet(path)
      if (df.columns.contains("batch_id")) df
      else df.withColumn("batch_id", lit(PreHistoryBatchId))
    } else {
      import spark.implicits._
      Seq.empty[(Int, String, java.sql.Timestamp, Long)]
        .toDF("band", "key", "ts", "batch_id")
    }
  }

  /** Rewrite the store keeping only keys seen since `cutoff` (run
   * periodically; read-time filtering keeps correctness in between —
   * same TTL-as-predicate + compaction shape as RealTimeStore),
   * swapped in by [[StoreSwap]]. SINGLE-WRITER, as
   * [[StreamingFuzzyLink.compactStore]]. */
  def compactStore(spark: SparkSession, path: String,
      cutoff: java.sql.Timestamp): Unit = {
    val survivors = readStore(spark, path)
      .groupBy(col("band"), col("key")).agg(max(col("ts")).as("ts"))
      .filter(col("ts") >= cutoff)
      .withColumn("batch_id", lit(PreHistoryBatchId))
    StoreSwap.swap(spark, path)(survivors.write.mode(SaveMode.Overwrite).parquet(_))
  }

  /** Attach to a streaming DataFrame: kept rows land in `outPath`. */
  def attach(stream: DataFrame, keyCol: String, textCol: String, tsCol: String,
      storePath: String, outPath: String, checkpoint: String,
      horizonSec: Long): org.apache.spark.sql.streaming.StreamingQuery = {
    // orphan sweep ONCE at stream start, not per batch read — the
    // per-read sweep raced a concurrently running compactStore
    StoreSwap.clearOrphan(stream.sparkSession, storePath)
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch.sparkSession, batch, keyCol, textCol, tsCol,
          storePath, horizonSec, batchId)
          .write.mode(SaveMode.Append).parquet(outPath)
      }
      .start()
  }
}
