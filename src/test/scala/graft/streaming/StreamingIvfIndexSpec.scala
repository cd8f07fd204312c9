package graft.streaming

import graft.SparkTestBase
import graft.functions.Similarity
import graft.sources.StoreSwap
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class StreamingIvfIndexSpec extends SparkTestBase {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private def emb = graft.sources.Tables.embeddings(spark, sf)

  test("streamed inserts are served identically to a batch-built index") {
    val path = java.nio.file.Files.createTempDirectory("ivf-live").toString + "/ix"
    val seed = emb.filter(col("vec_id") % 3 === 0)
    StreamingIvfIndex.bootstrap(seed, path)
    val centroids = Similarity.loadIvfCentroids(spark, path)

    // two micro-batches of late-arriving vectors
    StreamingIvfIndex.processBatch(
      emb.filter(col("vec_id") % 3 === 1), centroids, path, batchId = 0L)
    StreamingIvfIndex.processBatch(
      emb.filter(col("vec_id") % 3 === 2), centroids, path, batchId = 1L)

    val queries = emb.filter(col("vec_id") < 10)
    val live = StreamingIvfIndex.topKIndexed(spark, path, queries, k = 5, nProbe = 4)
      .as[(Long, Long, Double, Int)].collect().toSet
    // reference: the SAME centroids over the full corpus in one batch
    val ref = Similarity.ivfTopKWith(emb, queries, k = 5, centroids, nProbe = 4)
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(live == ref)
    assert(live.nonEmpty)
  }

  test("at-least-once replay collapses to one copy; compaction preserves serving results") {
    val path = java.nio.file.Files.createTempDirectory("ivf-replay").toString + "/ix"
    StreamingIvfIndex.bootstrap(emb.filter(col("vec_id") < 400), path)
    val centroids = Similarity.loadIvfCentroids(spark, path)
    val late = emb.filter(col("vec_id") >= 400)
    StreamingIvfIndex.processBatch(late, centroids, path, batchId = 5L)
    // crash between append and checkpoint commit: same batch, same id
    StreamingIvfIndex.processBatch(late, centroids, path, batchId = 5L)

    val n = emb.count()
    assert(StreamingIvfIndex.servingCorpus(spark, path).count() == n,
      "replayed rows must collapse to one copy per vector")
    val queries = emb.filter(col("vec_id") < 10)
    val before = StreamingIvfIndex.topKIndexed(spark, path, queries, k = 5, nProbe = 4)
      .as[(Long, Long, Double, Int)].collect().toSet

    StreamingIvfIndex.compact(spark, path)
    assert(spark.read.parquet(s"$path/corpus").count() == n,
      "compaction must physically drop the duplicates")
    val after = StreamingIvfIndex.topKIndexed(spark, path, queries, k = 5, nProbe = 4)
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(after == before)
  }

  test("compaction survives a mid-swap crash; partial stages are never promoted") {
    val path = java.nio.file.Files.createTempDirectory("ivf-crash").toString + "/ix"
    StreamingIvfIndex.bootstrap(emb.filter(col("vec_id") < 400), path)
    val centroids = Similarity.loadIvfCentroids(spark, path)
    StreamingIvfIndex.processBatch(
      emb.filter(col("vec_id") >= 400), centroids, path, batchId = 0L)
    val queries = emb.filter(col("vec_id") < 10)
    val expected = StreamingIvfIndex.topKIndexed(spark, path, queries, k = 5, nProbe = 4)
      .as[(Long, Long, Double, Int)].collect().toSet

    StreamingIvfIndex.compact(spark, path)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = new org.apache.hadoop.fs.Path(path)
    val tmp = new org.apache.hadoop.fs.Path(StoreSwap.stage(path))
    assert(!fs.exists(tmp), "temp stage must be cleaned up on success")

    // crash between delete(live) and rename: the index survives ONLY
    // in the complete hidden stage. A re-run must finish the swap.
    assert(fs.rename(live, tmp))
    assert(!fs.exists(live))
    StreamingIvfIndex.compact(spark, path)
    assert(fs.exists(live) && !fs.exists(tmp))
    assert(StreamingIvfIndex.topKIndexed(spark, path, queries, k = 5, nProbe = 4)
      .as[(Long, Long, Double, Int)].collect().toSet == expected)

    // a marker-less (mid-write) stage is garbage: discarded, and the
    // intact live corpus recompacted from itself
    fs.mkdirs(tmp)
    val junk = fs.create(new org.apache.hadoop.fs.Path(tmp, "corpus/cell=0/part-junk.parquet"), true)
    junk.write("not parquet".getBytes("UTF-8")); junk.close()
    StreamingIvfIndex.compact(spark, path)
    assert(!fs.exists(tmp))
    assert(StreamingIvfIndex.topKIndexed(spark, path, queries, k = 5, nProbe = 4)
      .as[(Long, Long, Double, Int)].collect().toSet == expected)
  }

  test("serving scan prunes to probed cell partitions; e2e attach via MemoryStream") {
    val path = java.nio.file.Files.createTempDirectory("ivf-stream").toString + "/ix"
    val checkpoint = java.nio.file.Files.createTempDirectory("ivf-chk").toString
    StreamingIvfIndex.bootstrap(emb.filter(col("vec_id") < 450), path)

    val input = MemoryStream[(Long, Seq[Float])](spark)
    val q = StreamingIvfIndex.attach(
      input.toDF().toDF("vec_id", "embedding"), path, checkpoint)
    try {
      val tail = emb.filter(col("vec_id") >= 450)
        .select(col("vec_id"), col("embedding"))
        .as[(Long, Seq[Float])].collect().toSeq
      input.addData(tail)
      q.processAllAvailable()
    } finally q.stop()

    val queries = emb.filter(col("vec_id") < 5)
    val served = StreamingIvfIndex.topKIndexed(spark, path, queries, k = 5, nProbe = 2)
    // streamed rows are searchable...
    assert(served.count() > 0)
    // ...and the plan reads only the probed cells (partition pruning)
    val plan = served.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cell"), plan.take(1200))
    val centroids = Similarity.loadIvfCentroids(spark, path)
    val ref = Similarity.ivfTopKWith(emb, queries, k = 5, centroids, nProbe = 2)
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(served.as[(Long, Long, Double, Int)].collect().toSet == ref)
  }

  // ---- drift maintenance -------------------------------------------------

  /** Deterministic unit-ish vector: `axis` basis direction plus small
   * id-keyed noise on the two seed axes. dim 8. */
  private def modeVec(axis: Int, i: Long, spread: Double): Array[Float] = {
    val v = new Array[Float](8)
    v(axis) = 1f
    v(0) = (v(0) + spread * ((i * 31 % 7) - 3) / 3.0).toFloat
    v(1) = (v(1) + spread * ((i * 17 % 5) - 2) / 2.0).toFloat
    v
  }

  private def modeDf(axis: Int, ids: Seq[Long], spread: Double) =
    ids.map(i => (i, modeVec(axis, i, spread).toSeq)).toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))

  /** recall@k of the probe-pruned index vs brute force over the same
   * serving corpus. */
  private def recallAt(path: String, queries: org.apache.spark.sql.DataFrame,
      k: Int, nProbe: Int): Double = {
    val corpus = StreamingIvfIndex.servingCorpus(spark, path)
    val truth = Similarity.bruteForceTopK(corpus, queries, k)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val got = StreamingIvfIndex.topKIndexed(spark, path, queries, k, nProbe)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    (truth & got).size.toDouble / truth.size
  }

  test("drift census trigger: recall degrades under drift and recovers after reindex") {
    val path = java.nio.file.Files.createTempDirectory("ivf-drift").toString + "/ix"
    // seed regime: two well-separated modes on axes 0 and 1
    val seed = modeDf(0, 0L until 60L, 0.05)
      .unionByName(modeDf(1, 60L until 120L, 0.05))
    StreamingIvfIndex.bootstrap(seed, path, nClusters = 4)

    // drift: a NEW mode between the seed axes (axis 2 + both seed
    // axes' noise) — inserts scatter across the old cell boundary
    val drift = modeDf(2, 1000L until 1120L, 0.4)
    drift.collect() // materialize deterministically
    StreamingIvfIndex.processBatch(drift.filter(col("vec_id") < 1060),
      Similarity.loadIvfCentroids(spark, path), path, batchId = 0L)
    StreamingIvfIndex.processBatch(drift.filter(col("vec_id") >= 1060),
      Similarity.loadIvfCentroids(spark, path), path, batchId = 1L)

    val queries = modeDf(2, 1000L until 1010L, 0.4)
    val skewBefore = StreamingIvfIndex.skewRatio(spark, path)
    val recallBefore = recallAt(path, queries, k = 5, nProbe = 1)

    // the census sees the pile-up; the trigger re-clusters
    assert(skewBefore > 1.5, s"drift must skew the census, got $skewBefore")
    assert(StreamingIvfIndex.maybeReindex(spark, path, skewThreshold = 1.5, nClusters = 4))

    val skewAfter = StreamingIvfIndex.skewRatio(spark, path)
    val recallAfter = recallAt(path, queries, k = 5, nProbe = 1)
    assert(skewAfter < skewBefore, s"reindex must rebalance: $skewBefore -> $skewAfter")
    assert(recallAfter > recallBefore,
      s"reindex must recover probe recall: $recallBefore -> $recallAfter")
    assert(recallAfter >= 0.9, s"post-reindex recall@5 nProbe=1 weak: $recallAfter")
    // below threshold now: the trigger is quiescent
    assert(!StreamingIvfIndex.maybeReindex(spark, path, skewThreshold = skewAfter + 0.1))
  }

  test("sampled refit (fitSampleFrac) rebalances and recovers recall like the full fit") {
    val path = java.nio.file.Files.createTempDirectory("ivf-sfit").toString + "/ix"
    val seed = modeDf(0, 0L until 60L, 0.05)
      .unionByName(modeDf(1, 60L until 120L, 0.05))
    StreamingIvfIndex.bootstrap(seed, path, nClusters = 4)
    val drift = modeDf(2, 1000L until 1120L, 0.4)
    drift.collect()
    StreamingIvfIndex.processBatch(drift,
      Similarity.loadIvfCentroids(spark, path), path, batchId = 0L)

    val queries = modeDf(2, 1000L until 1010L, 0.4)
    val skewBefore = StreamingIvfIndex.skewRatio(spark, path)
    // fit on ~half the corpus; assignment must still cover ALL of it
    assert(StreamingIvfIndex.maybeReindex(spark, path, skewThreshold = 1.5,
      nClusters = 4, fitSampleFrac = 0.5))
    val served = StreamingIvfIndex.servingCorpus(spark, path)
    assert(served.count() === 240L, "sampled fit must not drop vectors from the index")
    assert(StreamingIvfIndex.skewRatio(spark, path) < skewBefore)
    val recall = recallAt(path, queries, k = 5, nProbe = 1)
    assert(recall >= 0.9, s"sampled-refit recall@5 nProbe=1 weak: $recall")
  }

  test("a sample smaller than k falls back to the full corpus (fit never degenerates)") {
    val path = java.nio.file.Files.createTempDirectory("ivf-tiny").toString + "/ix"
    val seed = modeDf(0, 0L until 8L, 0.05).unionByName(modeDf(1, 8L until 16L, 0.05))
    StreamingIvfIndex.bootstrap(seed, path, nClusters = 4)
    // frac so small the deterministic sample holds < k (often 0) rows;
    // the refit must fall back to the full corpus instead of failing
    StreamingIvfIndex.reindex(spark, path, nClusters = 4, fitSampleFrac = 0.01)
    assert(Similarity.loadIvfCentroids(spark, path).size === 4)
    assert(StreamingIvfIndex.servingCorpus(spark, path).count() === 16L)
  }

  test("a mid-swap reindex crash recovers the complete staged index") {
    import org.apache.hadoop.fs.Path
    val path = java.nio.file.Files.createTempDirectory("ivf-rcrash").toString + "/ix"
    StreamingIvfIndex.bootstrap(modeDf(0, 0L until 40L, 0.05), path, nClusters = 2)
    StreamingIvfIndex.reindex(spark, path, nClusters = 2)
    // compare (vec_id, embedding) only: recovery falls through to a
    // refit, and a refit may relabel cells (label order is sensitive
    // to the recovered corpus' file layout) without losing any vector
    val served = StreamingIvfIndex.servingCorpus(spark, path)
      .select("vec_id", "embedding").as[(Long, Seq[Float])].collect().toSet
    // simulate the crash window: staged index complete, live index gone
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stage = new Path(StoreSwap.stage(path))
    assert(fs.rename(new Path(path), stage))
    fs.create(new Path(stage, "_SUCCESS"), true).close()
    StreamingIvfIndex.reindex(spark, path, nClusters = 2) // entry recovery path
    assert(StreamingIvfIndex.servingCorpus(spark, path)
      .select("vec_id", "embedding").as[(Long, Seq[Float])].collect().toSet === served)
    assert(!fs.exists(stage))
  }

  test("recovery falls through to the requested re-cluster (skew is addressed)") {
    import org.apache.hadoop.fs.Path
    val path = java.nio.file.Files.createTempDirectory("ivf-rfall").toString + "/ix"
    // skewed regime: two modes bootstrapped with k=4 leaves empty/lop-
    // sided cells; a refit with k=4 on the SAME corpus rebalances
    val seed = modeDf(0, 0L until 60L, 0.05)
      .unionByName(modeDf(1, 60L until 120L, 0.05))
    StreamingIvfIndex.bootstrap(seed, path, nClusters = 4)
    val drift = modeDf(2, 1000L until 1120L, 0.4)
    StreamingIvfIndex.processBatch(drift,
      Similarity.loadIvfCentroids(spark, path), path, batchId = 0L)
    val skewBefore = StreamingIvfIndex.skewRatio(spark, path)
    assert(skewBefore > 1.5, s"setup must be skewed, got $skewBefore")
    // plant a completed-but-unswapped stage (mid-swap crash state)
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stage = new Path(StoreSwap.stage(path))
    assert(fs.rename(new Path(path), stage))
    fs.create(new Path(stage, "_SUCCESS"), true).close()
    // ONE call must both finish the crashed swap AND perform the
    // requested re-cluster (reindex directly, not through the skew
    // probe, so the recovery is reindex's own)
    StreamingIvfIndex.reindex(spark, path, nClusters = 4)
    val skewAfter = StreamingIvfIndex.skewRatio(spark, path)
    assert(skewAfter < skewBefore,
      s"recovery alone must not count as the reindex: $skewBefore -> $skewAfter")
  }
}
