package graft.streaming

import graft.SparkTestBase
import graft.functions.{CountMin, LogHistogram}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/**
 * Compaction contract for the additive stamped-append sketch stores:
 * folding the appends into a base + high-water mark must be invisible
 * to every read (bit-equal counters), bound the store, survive
 * replays of already-folded batches, and recover a mid-swap crash.
 */
class SketchCompactionSpec extends SparkTestBase {
  import spark.implicits._
  private implicit val sp: org.apache.spark.sql.SparkSession = spark

  private val rows: Seq[(String, Long)] =
    (0 until 4000).map(i => (s"g${i % 3}", ((i * 48271L) % 90000L)))

  private def flatSketch = LogHistogram.sketch(
      rows.toDF("g", "v"), Seq(col("g")), col("v"))
    .as[(String, Long, Long)].collect().toSet

  private def appendBatch(dir: String, batch: Seq[(String, Long)], id: Long): Unit =
    StreamingLogHistogram.batchBins(batch.toDF("g", "v"), Seq("g"), "v", id)
      .write.mode(SaveMode.Append).parquet(dir)

  private def readAt(dir: String) =
    StreamingLogHistogram.sketchAt(dir, Seq("g"))
      .as[(String, Long, Long)].collect().toSet

  private def partFiles(dir: String): Seq[String] = {
    val d = new java.io.File(dir)
    if (!d.exists) Nil
    else d.listFiles.toSeq.map(_.getName).filter(_.startsWith("part-"))
  }

  test("compaction is read-invisible, bounds the store, and folds incrementally") {
    val dir = java.nio.file.Files.createTempDirectory("graft-compact").toString + "/store"
    val batches = rows.grouped(800).toSeq // 5 batches
    batches.take(3).zipWithIndex.foreach { case (b, i) => appendBatch(dir, b, i.toLong) }
    val before = readAt(dir)
    // sketchAt without any base equals the legacy rollup
    assert(before === StreamingLogHistogram.sketch(
      spark.read.parquet(dir), Seq("g")).as[(String, Long, Long)].collect().toSet)

    StreamingLogHistogram.compact(dir, Seq("g"))
    assert(readAt(dir) === before, "compaction must not change any counter")
    assert(partFiles(dir).isEmpty, "folded fact files must be deleted")
    // base is bin-bounded: at most groups x bins rows
    val baseRows = spark.read.parquet(s"$dir.base/bins").count()
    assert(baseRows === before.size.toLong)

    // post-compaction appends flow through reads...
    batches.drop(3).zipWithIndex.foreach { case (b, i) => appendBatch(dir, b, 3L + i) }
    assert(readAt(dir) === flatSketch)
    // ...and a second compaction folds them too, read-invisibly
    StreamingLogHistogram.compact(dir, Seq("g"))
    assert(readAt(dir) === flatSketch)
    assert(partFiles(dir).isEmpty)
  }

  test("a replayed already-compacted batch is excluded by the high-water mark") {
    val dir = java.nio.file.Files.createTempDirectory("graft-compact-rp").toString + "/store"
    val batches = rows.grouped(1000).toSeq // 4 batches
    batches.zipWithIndex.foreach { case (b, i) => appendBatch(dir, b, i.toLong) }
    StreamingLogHistogram.compact(dir, Seq("g"))
    assert(readAt(dir) === flatSketch)
    // a crash-restarted query re-appends batch 2 AFTER its rows were
    // folded and its files deleted — without the hwm filter this
    // bit-identical copy would double-count (the original identity
    // rows are gone, dropDuplicates can no longer collapse it)
    appendBatch(dir, batches(2), 2L)
    assert(readAt(dir) === flatSketch, "replay of a folded batch must not double-count")
    // replays of NOT-yet-compacted batches still collapse by identity
    appendBatch(dir, batches(3), 4L)
    appendBatch(dir, batches(3), 4L)
    val withNew = LogHistogram.sketch(
        (rows ++ batches(3)).toDF("g", "v"), Seq(col("g")), col("v"))
      .as[(String, Long, Long)].collect().toSet
    assert(readAt(dir) === withNew, "uncompacted replay must collapse by fact identity")
    // the next compaction clears the stale replay files as well
    StreamingLogHistogram.compact(dir, Seq("g"))
    assert(readAt(dir) === withNew)
    assert(partFiles(dir).isEmpty)
  }

  test("a mid-swap crash recovers counter-exact from the _SUCCESS-gated temp") {
    val dir = java.nio.file.Files.createTempDirectory("graft-compact-cr").toString + "/store"
    rows.grouped(1000).zipWithIndex.foreach { case (b, i) => appendBatch(dir, b.toSeq, i.toLong) }
    StreamingLogHistogram.compact(dir, Seq("g"))
    val before = readAt(dir)
    // simulate the crash window: base deleted, completed tmp not yet
    // renamed — the ONLY copy of the store lives in the temp sibling
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stage = graft.sources.StoreSwap.stage(s"$dir.base")
    assert(fs.rename(new Path(s"$dir.base"), new Path(stage)))
    assert(fs.exists(new Path(s"$stage/_SUCCESS")))
    assert(readAt(dir) === before, "read must recover the mid-swap store")
    assert(fs.exists(new Path(s"$dir.base")) && !fs.exists(new Path(stage)))
    // an INCOMPLETE tmp (no _SUCCESS) must NOT be resurrected: with a
    // live base present it is simply dead weight from a failed write
    StreamingLogHistogram.compact(dir, Seq("g")) // no-op fold (no facts) is fine
    assert(readAt(dir) === before)
  }

  test("countersSnapshot survives a fold that deletes the files the lazy plan pinned") {
    val dir = java.nio.file.Files.createTempDirectory("graft-compact-snap").toString + "/store"
    rows.grouped(1000).zipWithIndex.foreach { case (b, i) => appendBatch(dir, b.toSeq, i.toLong) }
    val truth = readAt(dir)
    // lazy plan: pinned to the CURRENT fact-file listing (no base yet)
    val lazyPlan = SketchCompaction.counters(dir, Seq("g"), Seq("bin"))
    // eager snapshot: materialized, decoupled from the files
    val snap = SketchCompaction.countersSnapshot(dir, Seq("g"), Seq("bin"))
    // a concurrent fold deletes every fact file the lazy plan listed
    StreamingLogHistogram.compact(dir, Seq("g"))
    assert(partFiles(dir).isEmpty, "fold must have deleted the pinned files")
    assert(snap.as[(String, Long, Long)].collect().toSet === truth,
      "the snapshot must serve bit-equal counters after the fold")
    // the lazy plan is now a read of deleted files — the documented
    // read-quiesce hazard the snapshot exists to avoid
    intercept[Exception] { lazyPlan.collect() }
  }

  test("CountMin face: compaction-aware sketch still estimates one-sided per group") {
    val items = (1 to 40).flatMap(k => Seq.fill(400 / k)((s"g${k % 2}", s"item$k")))
    val dir = java.nio.file.Files.createTempDirectory("graft-compact-cm").toString + "/store"
    items.grouped(500).zipWithIndex.foreach { case (b, i) =>
      StreamingCountMin.batchCounters(b.toSeq.toDF("g", "v"), Seq("g"), "v", 3, 64, i.toLong)
        .write.mode(SaveMode.Append).parquet(dir)
    }
    val flat = CountMin.sketch(items.toDF("g", "v"), Seq(col("g")), col("v"),
        depth = 3, width = 64)
      .as[(String, Int, Long, Long)].collect().toSet
    StreamingCountMin.compact(dir, Seq("g"))
    val at = StreamingCountMin.sketchAt(dir, Seq("g"))
      .as[(String, Int, Long, Long)].collect().toSet
    assert(at === flat, "compacted CountMin store must equal the flat sketch")
    val truth = items.toDF("g", "v").groupBy(col("g"), col("v"))
      .agg(count(lit(1)).as("n_true"))
    CountMin.estimate(StreamingCountMin.sketchAt(dir, Seq("g")), truth, col("v"),
        depth = 3, width = 64, groupCols = Seq("g"))
      .as[(String, String, Long, Long)].collect()
      .foreach { case (g, v, t, e) => assert(e >= t, s"($g,$v) est=$e true=$t") }
  }

  test("e2e: attach(compactEvery) keeps the store bounded while reads stay exact") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-compact-e2e").toString
    val input = MemoryStream[(String, Long)]
    val query = StreamingLogHistogram.attach(
      input.toDF().toDF("g", "v"), Seq("g"), "v", s"$dir/store", s"$dir/ckpt",
      compactEvery = 2)
    rows.grouped(500).foreach { b => input.addData(b: _*); query.processAllAvailable() }
    query.stop()
    assert(readAt(s"$dir/store") === flatSketch)
    // 8 batches with compactEvery=2 → at most the last fold's residue
    // remains as loose files; the store is bins + residue, not 8 full appends
    assert(partFiles(s"$dir/store").size < 8,
      "periodic compaction must fold appended files away")
    val streamedQ = LogHistogram.quantiles(
        StreamingLogHistogram.sketchAt(s"$dir/store", Seq("g")),
        Seq("g"), Seq(0.5, 0.99))
      .as[(String, Double, Long)].collect().toSet
    val batchQ = LogHistogram.quantiles(
        LogHistogram.sketch(rows.toDF("g", "v"), Seq(col("g")), col("v")),
        Seq("g"), Seq(0.5, 0.99))
      .as[(String, Double, Long)].collect().toSet
    assert(streamedQ === batchQ)
  }
}
