package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Hll
import graft.sources.StoreSwap

/**
 * Streaming face of the mergeable HLL sketch store
 * ([[graft.functions.Hll]], queries o10-o12): maintain one 1 KiB
 * distinct-count sketch per group INCREMENTALLY — each micro-batch is
 * sketched on its own (one aggregation over batch rows only) and
 * register-max-merged into the persisted store.
 *
 * Why this shape is the scale-correct one:
 *  - per-batch cost is one map-side-combined aggregation over the
 *    BATCH, never a rescan of history — the store read/written per
 *    batch is group-cardinality-sized (1 KiB per group);
 *  - at-least-once safety comes from the ALGEBRA, not bookkeeping:
 *    register-max merge is idempotent AND commutative, so replaying a
 *    batch (or merging batches out of order) cannot move any register
 *    — no batch-id stamps, no dedup pass, unlike the append-fact
 *    stores ([[StreamingCorpusCard]]) that must collapse replays;
 *  - the streamed store is BIT-IDENTICAL to the batch sketch of the
 *    same prefix (max is associative), so every read-side consumer
 *    (`Hll.stats`, the o10 rollup) is oblivious to which path built
 *    the store.
 *
 * Each batch replaces the store through [[graft.sources.StoreSwap]],
 * and every read recovers a swap that crashed midway.
 */
object StreamingHll {

  /** One batch folded into the store: sketch the batch per group,
   * union with the existing store, register-max per group. Pure —
   * the spec drives it directly. */
  def mergeBatch(store: Option[DataFrame], batch: DataFrame,
      groupCols: Seq[String], valueCol: String): DataFrame = {
    val bsk = batch
      .groupBy(groupCols.map(col): _*)
      .agg(Hll.sketch(col(valueCol).cast("string")).as("sk"))
    store match {
      case None => bsk
      case Some(st) =>
        st.select(groupCols.map(col) :+ col("sk"): _*).unionByName(bsk)
          .groupBy(groupCols.map(col): _*)
          .agg(Hll.merge(col("sk")).as("sk"))
    }
  }

  /** The current store (a crashed swap recovered first), None before
   * the first batch; shared by the HLL, KMV and rank stores. */
  private[streaming] def readStore(path: String)(
      implicit spark: SparkSession): Option[DataFrame] = {
    if (StoreSwap.ready(spark, path)) Some(spark.read.parquet(path).localCheckpoint(true))
    else None
  }

  /** Attach to a stream: per micro-batch, fold into the parquet store
   * at `path` and swap it in. */
  def attach(stream: DataFrame, groupCols: Seq[String], valueCol: String,
      path: String, checkpoint: String)(implicit spark: SparkSession)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val next = mergeBatch(readStore(path), batch, groupCols, valueCol)
          .localCheckpoint(true) // cut lineage off the files we replace
        StoreSwap.swap(spark, path)(next.write.mode(SaveMode.Overwrite).parquet(_))
        ()
      }
      .start()

  /** Read-side estimates off the store — same consumer as the batch
   * o10 rollup. */
  def estimates(store: DataFrame, groupCols: Seq[String]): DataFrame =
    store.select(groupCols.map(col) :+ Hll.stats(col("sk")).as("st"): _*)
      .select(groupCols.map(col) :+ col("st.v").as("v") :+ col("st.s").as("s")
        :+ col("st.estimate").as("estimate"): _*)
}
