package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GraphRank
import graft.sources.StoreSwap

/**
 * Streaming face of the exact-integer PageRank curation signal
 * ([[graft.functions.GraphRank]], query e11) — the incremental story
 * the sketch family already has: edges append as stamped facts,
 * ranks are refreshed by a periodic re-rank job and served from a
 * crash-safe swapped store.
 *
 *  - **Edge store**: each micro-batch appends its DISTINCT
 *    `(src, dst)` edges stamped with the batch id. The live graph is
 *    a SET — the same edge observed in two batches is one edge — so
 *    the store reuses [[SketchCompaction]] verbatim (key = the edge,
 *    the additive count is dropped at read time): replays above the
 *    high-water mark collapse by fact identity, replays below it are
 *    excluded, and compaction folds history into a bounded base
 *    exactly like the histogram/Count-Min stores.
 *  - **Re-rank**: ranks are a whole-graph fixed-point, not a
 *    mergeable sketch — no per-batch fold can maintain them exactly.
 *    The scale-correct incremental shape is therefore append-cheap /
 *    refresh-periodic: [[rerank]] recomputes
 *    [[GraphRank.pageRankMicro]] over the current distinct edge set
 *    (integer arithmetic, bit-identical to the batch path by
 *    construction) and swaps the result in with
 *    [[graft.sources.StoreSwap]], stamped
 *    with the edge-batch high-water mark it covers, so a reader
 *    always sees a complete rank vector and KNOWS its freshness.
 *    `attach(rerankEvery = n)` runs the refresh in-line every n
 *    batches — same cadence control as the sketch stores' compaction.
 */
object StreamingGraphRank {

  private def edgesPath(dir: String) = s"$dir/edges"
  private def ranksPath(dir: String) = s"$dir/ranks"

  /** One batch → its stamped distinct-edge facts. Pure; spec-drivable.
   * Schema matches the [[SketchCompaction]] counters contract
   * (`n` rides along and is dropped at read time — edge identity is
   * what matters). */
  def batchEdges(batch: DataFrame, srcCol: String, dstCol: String,
      batchId: Long): DataFrame =
    batch.select(col(srcCol).as("src"), col(dstCol).as("dst")).distinct()
      .withColumn("n", lit(1L))
      .withColumn("batch_id", lit(batchId))

  /** The current DISTINCT edge set (base + facts since compaction,
   * replay-collapsed) — what [[rerank]] and batch parity run on. */
  def edges(dir: String)(implicit spark: SparkSession): DataFrame =
    SketchCompaction.counters(edgesPath(dir), Nil, Seq("src", "dst"))
      .select(col("src"), col("dst"))

  /** Fold the stamped edge appends into the compacted base; the
   * distinct edge set read by [[edges]] is invariant. */
  def compactEdges(dir: String)(implicit spark: SparkSession): Unit =
    SketchCompaction.compact(edgesPath(dir), Nil, Seq("src", "dst"))

  /** Highest edge batch id currently in the store (base high-water
   * mark or a later loose fact), -1 when empty. */
  private def edgeHighWater(dir: String)(implicit spark: SparkSession): Long = {
    val fromBase = SketchCompaction.readBase(edgesPath(dir)).map(_._2).getOrElse(-1L)
    val p = new org.apache.hadoop.fs.Path(edgesPath(dir))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hasFacts = fs.exists(p) &&
      fs.listStatus(p).exists(s => s.isFile && s.getPath.getName.startsWith("part-"))
    if (!hasFacts) fromBase
    else spark.read.parquet(edgesPath(dir)).agg(max(col("batch_id"))).head() match {
      case r if r.isNullAt(0) => fromBase
      case r => math.max(fromBase, r.getLong(0))
    }
  }

  /** Recompute ranks over the current edge set and swap them in:
   * output rows (node, rank_micro, as_of_batch) — bit-identical to
   * [[GraphRank.pageRankMicro]] over the same edges, stamped with the
   * edge-batch high-water mark the rank vector covers. */
  def rerank(dir: String, iterations: Int = 5)(implicit spark: SparkSession): Unit = {
    val asOf = edgeHighWater(dir)
    val ranks = GraphRank.pageRankMicro(edges(dir), "src", "dst", iterations)
      .withColumn("as_of_batch", lit(asOf))
      .localCheckpoint(true) // cut lineage off the store being replaced
    StoreSwap.swap(spark, ranksPath(dir))(ranks.write.mode(SaveMode.Overwrite).parquet(_))
  }

  /** The served rank vector (mid-swap crashes recovered), None before
   * the first re-rank. */
  def ranks(dir: String)(implicit spark: SparkSession): Option[DataFrame] =
    StreamingHll.readStore(ranksPath(dir))

  /** Attach to an edge stream; stamped edge facts append, ranks
   * refresh every `rerankEvery` batches (0 = only on demand), the
   * edge store compacts with each refresh so neither store grows with
   * stream age. */
  def attach(stream: DataFrame, srcCol: String, dstCol: String, dir: String,
      checkpoint: String, rerankEvery: Int = 0, iterations: Int = 5)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    implicit val spark: SparkSession = stream.sparkSession
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batchEdges(batch, srcCol, dstCol, batchId)
          .write.mode(SaveMode.Append).parquet(edgesPath(dir))
        if (rerankEvery > 0 && batchId > 0 && batchId % rerankEvery == 0) {
          compactEdges(dir)
          rerank(dir, iterations)
        }
        ()
      }
      .start()
  }
}
