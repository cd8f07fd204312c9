package graft.streaming

import graft.functions.FuzzyJoin
import graft.sources.StoreSwap
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Streaming fuzzy linkage — the incremental face of
 * [[graft.functions.FuzzyJoin.editDistance1Pairs]]: as records
 * arrive, emit every (standing ∪ batch) string pair within edit
 * distance 1 that involves a batch string, and add the batch strings'
 * deletion keys to the standing store. The union of emitted pairs
 * over any prefix of the stream equals the batch operator over the
 * distinct strings seen so far (the parity property
 * `StreamingFuzzyLinkSpec` pins), so an entity-resolution pipeline
 * can maintain its linkage graph incrementally and re-run only the
 * closure ([[graft.functions.Dedup.connectedComponents]], a driver
 * union-find at linkage-graph sizes up to
 * [[graft.functions.Dedup.LocalCcMaxEdges]] edges, or incremental
 * cluster maintenance) downstream.
 *
 * Semantics:
 *  - cross-batch: batch strings probe the standing (key, s) store by
 *    deletion key — an equi-join against state, never batch ×
 *    standing-corpus;
 *  - within-batch: the batch's own key self-join (a.s < b.s), so two
 *    strings arriving together still link;
 *  - all candidates are verified with exact `levenshtein` ≤ 1 before
 *    emission; output rows are (left_str < right_str) distinct per
 *    batch. A string re-arriving in a later batch re-emits its pairs
 *    (at-least-once pair log); downstream consumers take the distinct
 *    set, which replay cannot perturb.
 *
 * Replay idempotency (foreachBatch is at-least-once): store rows are
 * stamped with batchId and the standing read EXCLUDES rows stamped
 * with the CURRENT batchId, so a replayed batch recomputes the exact
 * same pair set whether or not its first attempt's append survived —
 * the [[StreamingNearDedup]] discipline.
 *
 * Scale: state is the deletion-key log — Σ(len+1) short rows per
 * string, shuffled by key (content-derived key space); no driver-side
 * structure, no pairwise work outside verified candidates.
 * [[compactStore]] rewrites the log distinct-(k, s) periodically;
 * read-time distinct keeps correctness in between.
 */
object StreamingFuzzyLink {

  /** batch_id stamped on compacted / backfilled store rows — live
   * streaming batch ids are non-negative, so it never collides. */
  val PreHistoryBatchId: Long = -1L

  /** One micro-batch: returns the verified (left_str, right_str)
   * pairs involving this batch's strings and appends the batch
   * strings' deletion keys to the store. Call directly in
   * tests/backfills with a fresh, monotonically increasing id. */
  def processBatch(spark: SparkSession, batch: DataFrame, strCol: String,
      storePath: String, batchId: Long, minLen: Int = 4): DataFrame = {
    // same bound the batch operator enforces — the parity contract
    // (stream prefix == editDistance1Pairs) must hold argument for
    // argument, not just on the defaults
    require(minLen >= 1, s"minLen must be >= 1, got $minLen")
    import org.apache.spark.storage.StorageLevel
    // `names` is consumed exactly once (to derive batchKeys, which IS
    // persisted and carries the reuse across cross/within/append), so
    // it is deliberately NOT cached
    val names = batch.select(col(strCol).cast("string").as("s"))
      .filter(col("s").isNotNull && length(col("s")) >= minLen)
      .distinct()
    val batchKeys = names
      .select(col("s"), explode(FuzzyJoin.deletionKeys(col("s"))).as("k"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val standing = readStore(spark, storePath)
        .filter(col("batch_id") =!= batchId)
        .select(col("k"), col("s")).distinct()

      // cross-batch candidates: batch keys probe the standing store;
      // normalize orientation so the pair set is orderless
      val cross = batchKeys.as("b")
        .join(standing.as("st"), col("b.k") === col("st.k") &&
          col("b.s") =!= col("st.s"))
        .select(least(col("b.s"), col("st.s")).as("left_str"),
          greatest(col("b.s"), col("st.s")).as("right_str"))

      // within-batch candidates: the batch's own key self-join
      val within = batchKeys.as("a")
        .join(batchKeys.as("c"), col("a.k") === col("c.k") &&
          col("a.s") < col("c.s"))
        .select(col("a.s").as("left_str"), col("c.s").as("right_str"))

      // thresholded levenshtein (−1 past the bound): banded O(len)
      // verify, the FuzzyJoin.ed1 convention
      val pairs = cross.unionByName(within).distinct()
        .filter(levenshtein(col("left_str"), col("right_str"), 1) >= 0)
        .persist(StorageLevel.MEMORY_AND_DISK)
      try {
        pairs.count()
        // record the batch's keys AFTER computing pairs (stamped, so a
        // replay's standing read excludes whatever this append left)
        batchKeys.select(col("k"), col("s"), lit(batchId).as("batch_id"))
          .write.mode(SaveMode.Append).parquet(storePath)
      } catch {
        // a failed materialize/append propagates (the caller replays
        // the batch), but must not leak the cached pair blocks
        case t: Throwable => pairs.unpersist(false); throw t
      }
      pairs
    } finally { batchKeys.unpersist(); () }
  }

  /** The standing store, after finishing a [[compactStore]] that
   * crashed mid-swap; empty only when no data file was written yet.
   * Any read failure of a store that has data propagates: serving it
   * as empty would emit no cross-batch pairs, commit, and break the
   * stream-vs-batch parity contract with no error anywhere. */
  private def readStore(spark: SparkSession, path: String): DataFrame = {
    if (StoreSwap.ready(spark, path)) spark.read.parquet(path)
    else {
      import spark.implicits._
      Seq.empty[(String, String, Long)].toDF("k", "s", "batch_id")
    }
  }

  /** Rewrite the store distinct on (k, s), swapped in by
   * [[StoreSwap]]. SINGLE-WRITER maintenance op: run it with the
   * stream stopped, or from the stream's own foreachBatch slot between
   * batches — an append landing between this method's read and its
   * swap would be lost (and with it the linkage of those keys).
   *
   * Re-stamping to [[PreHistoryBatchId]] also makes compaction the
   * REQUIRED step before re-attaching an existing store under a NEW
   * checkpoint: fresh checkpoints restart batch ids at 0, and the
   * replay-exclusion filter (`batch_id =!= currentBatchId`) would hide
   * standing keys stamped with a reused live id. */
  def compactStore(spark: SparkSession, path: String): Unit = {
    val compacted = readStore(spark, path)
      .select(col("k"), col("s")).distinct()
      .withColumn("batch_id", lit(PreHistoryBatchId))
    StoreSwap.swap(spark, path)(compacted.write.mode(SaveMode.Overwrite).parquet(_))
  }

  /** Attach to a streaming DataFrame: verified pairs land in
   * `outPath` (an at-least-once pair log; consumers take distinct).
   *
   * A store is bound to ONE checkpoint lineage: the replay-exclusion
   * filter keys on batchId uniqueness, and a fresh checkpoint restarts
   * ids at 0. To reuse an existing store under a new checkpoint, run
   * [[compactStore]] first — it re-stamps every row to
   * [[PreHistoryBatchId]], which no live batch id ever collides with. */
  def attach(stream: DataFrame, strCol: String, storePath: String,
      outPath: String, checkpoint: String, minLen: Int = 4)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    // orphan sweep ONCE, before the query runs — no compaction can be
    // in flight here by construction, unlike the per-batch read where
    // the sweep raced a concurrent compactStore's just-written stage
    StoreSwap.clearOrphan(stream.sparkSession, storePath)
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val out = processBatch(batch.sparkSession, batch, strCol,
          storePath, batchId, minLen)
        // a failed write replays the batch — must not leak the cached
        // pair blocks across retries (processBatch guards its own
        // append path the same way)
        try out.write.mode(SaveMode.Append).parquet(outPath)
        finally { out.unpersist(); () }
        ()
      }
      .start()
  }
}
