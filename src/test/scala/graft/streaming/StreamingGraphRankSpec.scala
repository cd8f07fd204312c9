package graft.streaming

import graft.SparkTestBase
import graft.functions.GraphRank
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/**
 * Streaming PageRank contract: stamped edge appends + periodic
 * re-rank must equal the batch pageRankMicro over the same edge set —
 * across arbitrary batch splits, under replays, and through edge
 * compaction and mid-swap crashes.
 */
class StreamingGraphRankSpec extends SparkTestBase {
  import spark.implicits._
  private implicit val sp: org.apache.spark.sql.SparkSession = spark

  // a directed graph with hubs, leaves, and a cycle; some edges repeat
  // across batches (the same logical edge observed twice)
  private val allEdges: Seq[(Long, Long)] =
    (0L until 60L).map(i => (i, (i * 7 + 1) % 20)) ++
      (0L until 20L).map(i => (i, (i + 1) % 20)) ++
      Seq((3L, 4L), (4L, 3L), (7L, 3L))

  private def batchRanks(edges: Seq[(Long, Long)]) =
    GraphRank.pageRankMicro(edges.distinct.toDF("src", "dst"), "src", "dst", 5)
      .as[(Long, Long)].collect().toMap

  private def appendBatch(dir: String, batch: Seq[(Long, Long)], id: Long): Unit =
    StreamingGraphRank.batchEdges(batch.toDF("src", "dst"), "src", "dst", id)
      .write.mode(SaveMode.Append).parquet(s"$dir/edges")

  private def servedRanks(dir: String): Map[Long, Long] =
    StreamingGraphRank.ranks(dir).get
      .select("node", "rank_micro").as[(Long, Long)].collect().toMap

  test("re-rank equals batch PageRank on any edge-batch split; replays are set-idempotent") {
    val expected = batchRanks(allEdges)
    for (nSplits <- Seq(1, 3, 7)) {
      val dir = java.nio.file.Files.createTempDirectory(s"graft-gr-$nSplits").toString
      val batches = allEdges.grouped(math.max(1, allEdges.size / nSplits)).toSeq
      batches.zipWithIndex.foreach { case (b, i) => appendBatch(dir, b, i.toLong) }
      // replay the first batch (at-least-once) — edge set is unchanged
      appendBatch(dir, batches.head, 0L)
      StreamingGraphRank.rerank(dir)
      assert(servedRanks(dir) === expected, s"splits=$nSplits")
      val asOf = StreamingGraphRank.ranks(dir).get.select(max("as_of_batch")).head().getLong(0)
      assert(asOf === (batches.size - 1).toLong, s"splits=$nSplits as_of")
    }
  }

  test("edge compaction is invisible to the rank read and bounds the edge store") {
    val dir = java.nio.file.Files.createTempDirectory("graft-gr-compact").toString
    val batches = allEdges.grouped(25).toSeq
    batches.zipWithIndex.foreach { case (b, i) => appendBatch(dir, b, i.toLong) }
    StreamingGraphRank.rerank(dir)
    val before = servedRanks(dir)
    StreamingGraphRank.compactEdges(dir)
    // loose fact files folded away; the distinct edge set is intact
    val loose = new java.io.File(s"$dir/edges").listFiles
      .count(_.getName.startsWith("part-"))
    assert(loose === 0)
    assert(StreamingGraphRank.edges(dir).as[(Long, Long)].collect().toSet
      === allEdges.distinct.toSet)
    StreamingGraphRank.rerank(dir)
    assert(servedRanks(dir) === before, "compaction must not move any rank")
    // a post-compaction replay of an already-folded batch is excluded
    appendBatch(dir, batches.head, 0L)
    StreamingGraphRank.rerank(dir)
    assert(servedRanks(dir) === before)
  }

  test("a mid-swap crash of the rank store recovers the complete vector") {
    val dir = java.nio.file.Files.createTempDirectory("graft-gr-crash").toString
    appendBatch(dir, allEdges, 0L)
    StreamingGraphRank.rerank(dir)
    val before = servedRanks(dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$dir/ranks"),
      new org.apache.hadoop.fs.Path(graft.sources.StoreSwap.stage(s"$dir/ranks"))))
    assert(servedRanks(dir) === before, "read must recover the mid-swap rank store")
  }

  test("e2e: attach(rerankEvery) keeps served ranks tracking the stream") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-gr-e2e").toString
    val input = MemoryStream[(Long, Long)]
    val query = StreamingGraphRank.attach(
      input.toDF().toDF("src", "dst"), "src", "dst", s"$dir/store", s"$dir/ckpt",
      rerankEvery = 2)
    allEdges.grouped(20).foreach { b => input.addData(b: _*); query.processAllAvailable() }
    query.stop()
    // final refresh on demand (the last batches may post-date the last
    // periodic refresh)
    StreamingGraphRank.rerank(s"$dir/store")
    assert(servedRanks(s"$dir/store") === batchRanks(allEdges))
  }
}
