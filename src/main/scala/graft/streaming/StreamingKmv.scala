package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Kmv
import graft.sources.StoreSwap

/**
 * Streaming face of the KMV/theta distinct sketch
 * ([[graft.functions.Kmv]], o13/o14): per micro-batch, bottom-k the
 * batch's hashes per group and merge into the persisted store by
 * union→re-rank. Same replay contract as [[StreamingHll]] — the merge
 * is idempotent and commutative, so at-least-once delivery and
 * out-of-order batches are safe by ALGEBRA, no batch stamps. The
 * store stays ≤ k rows per group forever, and because KMV sketches
 * COMPOSE, the stored per-group sketches answer set-algebra questions
 * (union/intersection across groups) at read time — the capability
 * the HLL store cannot provide.
 */
object StreamingKmv {

  /** One batch folded into the store. Pure; spec-drivable. */
  def mergeBatch(store: Option[DataFrame], batch: DataFrame,
      groupCols: Seq[String], valueCol: String, k: Int): DataFrame = {
    val bsk = Kmv.sketch(batch, groupCols, col(valueCol).cast("string"), k)
    store match {
      case None => bsk
      case Some(st) =>
        Kmv.merge(st.select(groupCols.map(col) :+ col("h"): _*).unionByName(bsk),
          groupCols, k)
    }
  }

  /** Attach to a stream: per micro-batch, fold into the parquet store
   * at `path` and swap it in, as [[StreamingHll.attach]] does. */
  def attach(stream: DataFrame, groupCols: Seq[String], valueCol: String,
      k: Int, path: String, checkpoint: String)(implicit spark: SparkSession)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val next = mergeBatch(StreamingHll.readStore(path), batch,
          groupCols, valueCol, k).localCheckpoint(true)
        StoreSwap.swap(spark, path)(next.write.mode(SaveMode.Overwrite).parquet(_))
        ()
      }
      .start()
}
