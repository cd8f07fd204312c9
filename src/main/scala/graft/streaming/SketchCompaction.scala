package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.StoreSwap

/**
 * Compaction for the ADDITIVE stamped-append sketch stores
 * ([[StreamingLogHistogram]], [[StreamingCountMin]]) — the store-side
 * analogue of the reference's job-bookmark discipline
 * (machine-downtime-monitor convert_parquet.py:167,206: fold what you
 * have, remember how far you folded, never refold).
 *
 * The append-facts contract is replay-safe but unbounded: every
 * micro-batch appends its (group, key..., n, batch_id) counter rows
 * forever, and every read rescans ALL of them. Correct, but over
 * months of micro-batches the store grows as batches × sketch-size
 * per group and loses exactly the "reads never rescan" property the
 * sketch family exists for. Compaction restores it:
 *
 *  - fold a SNAPSHOT of the stamped fact files into a merged base of
 *    `(group..., key..., n)` rows (collapse replay copies first, then
 *    additive union with any prior base), remembering the highest
 *    batch id folded (the high-water mark);
 *  - swap the base in ([[graft.sources.StoreSwap]]; every read
 *    recovers a swap that crashed midway);
 *  - only then delete exactly the snapshotted fact files. Appends that
 *    landed after the snapshot are untouched.
 *
 * After compaction, replay safety is layered: a batch at or below the
 * high-water mark that a restarted query re-appends is EXCLUDED by
 * the read-side `batch_id > hwm` filter (its counts already live in
 * the base); replays above the mark still collapse by the
 * (group, key, batch_id) fact identity as before. Every crash point
 * is safe: before the swap nothing changed; mid-swap the next read
 * recovers the staged base; after the swap but before
 * file deletion the leftover facts are ≤ hwm and filtered out, and
 * the next compaction deletes them.
 *
 * Scale shape: compaction reads only sketch-bounded counter rows
 * (never raw values), the base is groups × sketch-size, and the
 * read path scans base + only-the-facts-since-last-compaction.
 */
object SketchCompaction {

  private def fs(p: Path)(implicit spark: SparkSession): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def basePath(path: String) = path + ".base"

  /** Data part files currently in the fact dir (the appendable store).
   * Spark writes parts atomically (temp + rename), so every listed
   * file is complete. */
  private def factFiles(path: String)(implicit spark: SparkSession): Seq[Path] = {
    val p = new Path(path)
    val f = fs(p)
    if (!f.exists(p)) Nil
    else f.listStatus(p).toSeq
      .filter(s => s.isFile && s.getPath.getName.startsWith("part-"))
      .map(_.getPath)
  }

  /** The compacted base, if any: (folded counter rows, high-water
   * batch id). A swap that crashed midway is recovered first: treating
   * its stage as "no base" would resurrect the already-deleted fact
   * rows as losses. */
  private[streaming] def readBase(path: String)(
      implicit spark: SparkSession): Option[(DataFrame, Long)] = {
    val live = basePath(path)
    if (!StoreSwap.ready(spark, live)) None
    else {
      val hwm = spark.read.parquet(s"$live/meta").head().getLong(0)
      Some((spark.read.parquet(s"$live/bins"), hwm))
    }
  }

  /** Swap in a base of `bins` folded up to batch `hwm`. */
  private[streaming] def writeBase(bins: DataFrame, hwm: Long, path: String)(
      implicit spark: SparkSession): Unit = {
    import spark.implicits._
    StoreSwap.swap(spark, basePath(path)) { stage =>
      bins.write.mode(SaveMode.Overwrite).parquet(s"$stage/bins")
      Seq(hwm).toDF("hwm").coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$stage/meta")
    }
  }

  /**
   * Fold the stamped fact files currently under `path` (plus any prior
   * base) into a fresh base, then delete exactly those files. Safe to
   * run concurrently with an appender: files that land after the
   * snapshot listing are left alone, and a replayed old batch
   * re-appended after the fold is excluded by the read-side hwm
   * filter. `keyCols` is the sketch's counter identity within a group
   * (`bin` for the histogram, `d, bucket` for Count-Min).
   */
  def compact(path: String, groupCols: Seq[String], keyCols: Seq[String])(
      implicit spark: SparkSession): Unit = {
    val snap = factFiles(path)
    val prior = readBase(path)
    if (snap.isEmpty) return // nothing new to fold
    // cut lineage off the files we are about to delete
    val facts = spark.read.parquet(snap.map(_.toString): _*).localCheckpoint(true)
    val priorHwm = prior.map(_._2).getOrElse(-1L)
    val newHwm = facts.agg(max(col("batch_id"))).head() match {
      case r if r.isNullAt(0) => priorHwm
      case r => math.max(priorHwm, r.getLong(0))
    }
    // rows ≤ priorHwm in the snapshot are post-compaction replays of
    // already-folded batches — their counts live in the base already
    val fresh = facts.filter(col("batch_id") > priorHwm)
      .dropDuplicates(groupCols ++ keyCols :+ "batch_id")
      .select((groupCols ++ keyCols).map(col) :+ col("n"): _*)
    val folded = prior.map(_._1).fold(fresh)(_.unionByName(fresh))
      .groupBy((groupCols ++ keyCols).map(col): _*)
      .agg(sum(col("n")).as("n"))
      .localCheckpoint(true) // materialize before the old base is deleted
    writeBase(folded, newHwm, path)
    val f = fs(new Path(path))
    snap.foreach(p => f.delete(p, false))
  }

  /**
   * The collapsed counters as of now — `(groupCols..., keyCols..., n)`
   * — base plus the facts appended since the last compaction (replay
   * copies above the mark collapsed by fact identity, those at or
   * below it excluded entirely). Identical output with or without a
   * base, so every read-side consumer is oblivious to compaction.
   *
   * READ QUIESCE REQUIREMENT: the returned plan is LAZY and pinned to
   * the fact-file listing and base taken at construction. A [[compact]]
   * that runs between this call and the caller's action deletes the
   * listed fact files — the action then fails with
   * FileNotFoundException — or, if the caller captured the base just
   * before the swap, silently unions the OLD base with post-deletion
   * facts and misses the just-folded batches. Either act on the result
   * before any concurrent fold (the appender itself is safe — only
   * [[compact]] deletes), or take [[countersSnapshot]], which is
   * materialized and immune to a subsequent fold.
   */
  def counters(path: String, groupCols: Seq[String], keyCols: Seq[String])(
      implicit spark: SparkSession): DataFrame = {
    val prior = readBase(path)
    val hwm = prior.map(_._2).getOrElse(-1L)
    val files = factFiles(path)
    val freshOpt =
      if (files.isEmpty) None
      else Some(spark.read.parquet(files.map(_.toString): _*)
        .filter(col("batch_id") > hwm)
        .dropDuplicates(groupCols ++ keyCols :+ "batch_id")
        .select((groupCols ++ keyCols).map(col) :+ col("n"): _*))
    val unioned = (prior.map(_._1), freshOpt) match {
      case (Some(b), Some(fr)) => b.unionByName(fr)
      case (Some(b), None) => b
      case (None, Some(fr)) => fr
      case (None, None) =>
        throw new IllegalStateException(s"no sketch store at $path (no base, no facts)")
    }
    unioned.groupBy((groupCols ++ keyCols).map(col): _*).agg(sum(col("n")).as("n"))
  }

  /** [[counters]] eagerly materialized (localCheckpoint) so the result
   * is decoupled from the fact files a concurrent [[compact]] may
   * delete — the fold-while-serving read path. Costs one extra
   * materialization of the collapsed counters (O(sketch size), small
   * by construction); long-lived servers should prefer this over the
   * lazy plan whenever a background fold can run. */
  def countersSnapshot(path: String, groupCols: Seq[String], keyCols: Seq[String])(
      implicit spark: SparkSession): DataFrame =
    counters(path, groupCols, keyCols).localCheckpoint(eager = true)
}
