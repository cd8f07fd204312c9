package graft.streaming

import graft.SparkTestBase
import graft.functions.Dedup
import graft.sources.StoreSwap
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.trees.TreeNode
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

class StreamingDedupClustersSpec extends SparkTestBase {
  import spark.implicits._

  // word pool; doc texts are word ranges so shingle overlap — and
  // therefore jaccard + band collisions — is constructed, not sampled
  private val words = Seq(
    "alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf",
    "hotel", "india", "juliet", "kilo", "lima", "mike", "november",
    "oscar", "papa", "quebec", "romeo", "sierra", "tango", "uniform",
    "victor", "whiskey", "xray", "yankee", "zulu", "one", "two",
    "three", "four", "five", "six", "seven", "eight", "nine", "ten")
  private def text(from: Int, until: Int) = words.slice(from, until).mkString(" ")

  private def batchReference(docs: Seq[(String, String)],
      bands: Int = 4): Map[String, String] = {
    // the batch pipeline this operator must match exactly: LSH
    // candidates + exact-jaccard verify, then connected components,
    // singletons labeled by their own id
    val df = docs.toDF("doc_id", "text")
    val sets = Dedup.shingleSets(df, "doc_id", "text", 5)
    try {
      val pairs = Dedup.minhashDedupPairsFromSets(sets, 16, bands, 0.5)
      val cc = Dedup.connectedComponents(pairs, "doc_a", "doc_b")
        .select(col("id").as("doc_id"), col("component"))
      df.select(col("doc_id")).join(cc, Seq("doc_id"), "left_outer")
        .select(col("doc_id"), coalesce(col("component"), col("doc_id")).as("comp"))
        .as[(String, String)].collect().toMap
    } finally { sets.unpersist(); () }
  }

  private def labelsOf(path: String): Map[String, String] =
    StreamingDedupClusters.currentLabels(spark, path)
      .as[(String, String)].collect().toMap

  private def run(path: String, batchId: Long, docs: Seq[(String, String)],
      bands: Int = 4): Map[String, String] =
    StreamingDedupClusters.processBatch(spark, docs.toDF("doc_id", "text"),
      "doc_id", "text", path, batchId, bands = bands)
      .as[(String, String)].collect().toMap

  test("streamed labels equal the batch clustering, for any batch split") {
    // clusters by construction: {a1,a2,a3} word-identical modulo
    // whitespace-irrelevant copies, {b1,b2} identical, singletons s1/s2
    val corpus = Seq(
      "a1" -> text(0, 20), "a2" -> text(0, 20), "a3" -> (text(0, 20) + " extra"),
      "b1" -> text(16, 36), "b2" -> text(16, 36),
      "s1" -> text(8, 14), "s2" -> "tiny")
    val expected = batchReference(corpus)

    for ((split, i) <- Seq(
        Seq(corpus.take(3), corpus.slice(3, 5), corpus.drop(5)),
        Seq(corpus.take(1), corpus.slice(1, 6), corpus.drop(6)),
        Seq(corpus)).zipWithIndex) {
      val path = java.nio.file.Files.createTempDirectory(s"clusters-eq$i").toString + "/c"
      split.zipWithIndex.foreach { case (docs, b) => run(path, b.toLong, docs) }
      assert(labelsOf(path) == expected, s"split $i diverged from batch clustering")
    }
  }

  test("a new doc joins an existing cluster; a bridge doc merges two clusters") {
    val path = java.nio.file.Files.createTempDirectory("clusters-merge").toString + "/c"
    // 16 single-row bands: the bridge's jaccard to each side is exactly
    // 0.5, so 4-row bands would make collision a coin flip; with 1-row
    // bands P(all 16 miss) = 0.5^16 — deterministic for this fixed text
    // batch 0: two separate clusters (identical texts => all bands match)
    run(path, 0L, Seq("a1" -> text(0, 20), "a2" -> text(0, 20),
      "b1" -> text(16, 36), "b2" -> text(16, 36)), bands = 16)
    val l0 = labelsOf(path)
    assert(l0("a2") == "a1" && l0("b2") == "b1" && l0("b1") == "b1")

    // batch 1: c1 is a copy of b's text => joins b's cluster, not a new one
    val l1 = run(path, 1L, Seq("c1" -> text(16, 36)), bands = 16)
    assert(l1("c1") == "b1")

    // batch 2: the bridge spans both texts (jaccard >= 0.5 to each side,
    // ZERO shared shingles between the sides) => one merged cluster
    // labeled by the global min id; EVERY existing member is relabeled
    run(path, 2L, Seq("zz_bridge" -> text(0, 36)), bands = 16)
    val l2 = labelsOf(path)
    val all = Seq("a1", "a2", "b1", "b2", "c1", "zz_bridge")
    assert(all.forall(l2(_) == "a1"), s"expected one cluster under a1, got $l2")
    // and the union-of-edges invariant still matches the batch pipeline
    assert(l2 == batchReference(Seq(
      "a1" -> text(0, 20), "a2" -> text(0, 20), "b1" -> text(16, 36),
      "b2" -> text(16, 36), "c1" -> text(16, 36), "zz_bridge" -> text(0, 36)),
      bands = 16))
  }

  test("at-least-once replay converges to the same labels; re-appearing doc keeps its label") {
    val path = java.nio.file.Files.createTempDirectory("clusters-replay").toString + "/c"
    run(path, 0L, Seq("a1" -> text(0, 20), "a2" -> text(0, 20)))
    val before = labelsOf(path)
    // crash between the store appends and the sink write: the SAME
    // batch id re-fires — reads exclude the half-committed appends,
    // so the recomputed labels are identical
    val replayed = run(path, 0L, Seq("a1" -> text(0, 20), "a2" -> text(0, 20)))
    assert(labelsOf(path) == before && replayed == before)

    // a2 re-appears alone in a later batch: no new edges, but its
    // cluster label must survive (not reset to a singleton)
    val again = run(path, 1L, Seq("a2" -> text(0, 20)))
    assert(again("a2") == "a1" && labelsOf(path) == before)
  }

  test("compaction folds the logs, survives a mid-swap crash, and changes nothing observable") {
    val path = java.nio.file.Files.createTempDirectory("clusters-compact").toString + "/c"
    run(path, 0L, Seq("a1" -> text(0, 20), "a2" -> text(0, 20), "s1" -> text(8, 14)))
    run(path, 1L, Seq("a3" -> text(0, 20)))
    run(path, 1L, Seq("a3" -> text(0, 20))) // replay doubles the appended rows
    val before = labelsOf(path)

    StreamingDedupClusters.compact(spark, path)
    assert(labelsOf(path) == before, "compaction changed the labels")
    val labelRows = spark.read.parquet(s"$path/labels")
    assert(labelRows.count() == before.size, "labels log not folded to one row per doc")
    assert(spark.read.parquet(s"$path/sets").groupBy("doc_id").count()
      .filter(col("count") > 1).isEmpty, "sets log kept duplicate docs")

    // crash state: live labels dir renamed away mid-swap, complete
    // stage holds the data — recovery must restore losslessly
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = new org.apache.hadoop.fs.Path(s"$path/labels")
    val stage = new org.apache.hadoop.fs.Path(StoreSwap.stage(s"$path/labels"))
    assert(fs.rename(live, stage))
    val marker = new org.apache.hadoop.fs.Path(stage, "_SUCCESS")
    if (!fs.exists(marker)) fs.create(marker, true).close()
    // a batch runs before the recovering compact: it must read the
    // staged labels, not an empty log beside a fresh `labels/` dir
    run(path, 2L, Seq("a4" -> text(0, 20)))
    val withA4 = before + ("a4" -> "a1")
    assert(labelsOf(path) == withA4, "a batch after a mid-swap crash lost standing labels")
    StreamingDedupClusters.compact(spark, path)
    assert(labelsOf(path) == withA4, "mid-swap crash recovery lost labels")
    assert(!fs.exists(stage))

    // a further batch over the compacted store still merges correctly
    run(path, 3L, Seq("a5" -> text(0, 20)))
    assert(labelsOf(path) == withA4 + ("a5" -> "a1"))
  }

  test("end-to-end over a real stream via foreachBatch") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("clusters-e2e").toString
    val input = MemoryStream[(String, String)]
    val q = StreamingDedupClusters.attach(input.toDF().toDF("doc_id", "text"),
      "doc_id", "text", s"$dir/store", s"$dir/out", s"$dir/ckpt")
    input.addData("a1" -> text(0, 20), "s1" -> text(8, 14))
    q.processAllAvailable()
    input.addData("a2" -> text(0, 20))
    q.processAllAvailable()
    q.stop()
    val out = spark.read.parquet(s"$dir/out")
      .as[(String, String)].collect().groupBy(_._1).map { case (k, v) => k -> v.last._2 }
    assert(out("a2") == "a1", "cross-batch cluster join missed")
    assert(labelsOf(s"$dir/store") ==
      Map("a1" -> "a1", "s1" -> "s1", "a2" -> "a1"))
  }

  /** Nodes of a plan tree, inner plans included: a cached relation
   * counts its cached plan (an adaptive plan by its input plan), and
   * each use counts it again. */
  private def planNodes(t: TreeNode[_]): Int = {
    val inner = t match {
      case a: AdaptiveSparkPlanExec => Seq(a.inputPlan)
      case _ => t.innerChildren
    }
    1 + (t.children ++ inner).map(c => planNodes(c.asInstanceOf[TreeNode[_]])).sum
  }

  test("a batch that chains components keeps every action's plan bounded") {
    // c0..c3 slide over the word pool 3 words at a time: neighbours
    // share 9 of 15 distinct shingles (jaccard 0.6), docs two apart
    // 6 of 18 (0.33), so the batch's component merge graph is the
    // chain c0-c1-c2-c3. An iterative CC whose frontier feeds each
    // round twice without cutting the plan doubles it per round.
    val path = java.nio.file.Files.createTempDirectory("clusters-plansize").toString + "/c"
    val docs = (0 until 4).map(i => s"c$i" -> text(3 * i, 3 * i + 16))
    val sizes = new java.util.concurrent.ConcurrentLinkedQueue[Integer]()
    val marker = s"plan-size-barrier-${System.nanoTime()}"
    val markerSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (qe.analyzed.toString.contains(marker)) markerSeen.countDown()
        else { sizes.add(planNodes(qe.optimizedPlan)); () }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val got = run(path, 0L, docs, bands = 16)
      assert(got == docs.map(_._1 -> "c0").toMap, s"expected one cluster under c0, got $got")
      // listener events arrive in order: once the marker query is
      // seen, every action of the batch has been recorded
      spark.range(1).select(lit(marker)).collect()
      assert(markerSeen.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    // this batch's plans peak at 54 nodes with the union-find merge;
    // a min-label merge over persisted frontiers reached 4,059
    val largest = sizes.asScala.map(_.intValue).max
    assert(largest <= 200, s"largest optimized plan has $largest nodes")
  }

  test("processBatch leaves no cached blocks behind") {
    val path = java.nio.file.Files.createTempDirectory("clusters-leak").toString + "/c"
    val before = spark.sparkContext.getPersistentRDDs.keySet
    run(path, 0L, Seq("a1" -> text(0, 20), "a2" -> text(0, 20)))
    def leaked = spark.sparkContext.getPersistentRDDs -- before
    var tries = 0
    while (leaked.nonEmpty && tries < 20) { Thread.sleep(250); tries += 1 }
    assert(leaked.isEmpty, s"leaked cached RDDs: ${leaked.values.map(_.name)}")
  }
}
