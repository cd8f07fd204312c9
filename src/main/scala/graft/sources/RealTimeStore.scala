package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col

/**
 * Physical layout for the real-time fact table, keyed like the
 * reference's RealTimeDataTable on (id, messageTimestamp): the
 * interactive query is `id IN (…) AND messageTimestamp BETWEEN a AND b`.
 *
 * Micro-batch files plus compaction, as in a streaming file sink:
 *  - `write` and `append` sort each write task's rows by
 *    (id, messageTimestamp), so an append adds at most one sorted
 *    parquet file per write task, with no exchange;
 *  - `compact` range-partitions the live rows on `id` and sorts them
 *    the same way, folding the micro-batch files into a few base files
 *    with disjoint `id` ranges.
 *
 * A detail read's `id IN` and timestamp range reach the parquet scan as
 * pushed filters, and parquet min/max statistics skip the row groups
 * and pages outside the key range: most of a compacted base file, but
 * little of an append file, which spans every id of its batch. No
 * session setting is needed.
 */
object RealTimeStore {

  private def sorted(rt: DataFrame): DataFrame =
    rt.sortWithinPartitions("id", "messageTimestamp")

  /** Create/overwrite the real-time table. */
  def write(rt: DataFrame, table: String): Unit =
    sorted(rt).write.mode(SaveMode.Overwrite).saveAsTable(table)

  /** Append a micro-batch: one sorted file per write task. */
  def append(rt: DataFrame, table: String): Unit =
    sorted(rt).write.mode(SaveMode.Append).insertInto(table)

  def read(spark: SparkSession, table: String): DataFrame = spark.table(table)

  /**
   * Drop expired rows (read-time filtering uses the same predicate via
   * IngestPipeline.compactExpired) and fold the micro-batch files into
   * `id`-range base files, in one rewrite. Run periodically.
   *
   * Stage-then-swap, no caching: live rows stream from the current
   * table into a `_compacting` table (different location — no
   * read/write overlap, nothing pinned in memory), then the swap
   * renames current aside, promotes the staged table, and only then
   * drops the old data. A crash at ANY step leaves a complete copy of
   * the data under `table`, `table_precompact`, or `table_compacting`
   * — never a window with no table (the failure mode of the previous
   * DROP-then-RENAME).
   */
  def compact(spark: SparkSession, table: String, nowEpochS: Long): Unit = {
    stageCompacted(spark, table, nowEpochS)
    swapCompacted(spark, table)
  }

  /** Step 1: write live rows, range-partitioned on `id`, to
   * `<table>_compacting` (original untouched; a stale staging table
   * from a prior crash is replaced). */
  private[sources] def stageCompacted(spark: SparkSession, table: String, nowEpochS: Long): Unit = {
    val tmp = table + "_compacting"
    spark.sql(s"DROP TABLE IF EXISTS $tmp")
    write(graft.streaming.IngestPipeline.compactExpired(spark.table(table), nowEpochS)
      .repartitionByRange(col("id")), tmp)
  }

  /** Step 2: old → `<table>_precompact`, staged → `table`, drop old. */
  private[sources] def swapCompacted(spark: SparkSession, table: String): Unit = {
    val tmp = table + "_compacting"
    val old = table + "_precompact"
    spark.sql(s"DROP TABLE IF EXISTS $old")
    spark.sql(s"ALTER TABLE $table RENAME TO $old")
    spark.sql(s"ALTER TABLE $tmp RENAME TO $table")
    spark.sql(s"DROP TABLE $old")
  }
}
