package graft.streaming

import graft.SparkTestBase
import graft.sources.StoreSwap
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class StreamingNearDedupSpec extends SparkTestBase {
  import spark.implicits._

  private def ts(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")

  // ~40 tokens so 5-gram shingles exist; edits of a few words keep
  // most shingles shared => same minhash bands with high probability
  private val base = ("alpha bravo charlie delta echo foxtrot golf hotel india juliet " +
    "kilo lima mike november oscar papa quebec romeo sierra tango " +
    "uniform victor whiskey xray yankee zulu one two three four " +
    "five six seven eight nine ten eleven twelve thirteen fourteen")
  // whitespace-only variant: different raw text (md5-exact dedup would
  // MISS it) but an identical token stream, so shingle sets — and
  // therefore minhash bands — match deterministically
  private val nearCopy = base.replace(" kilo ", "   kilo  ")
  private val distinct =
    "the quick brown fox jumps over the lazy dog and then runs far away into the woods " +
      "while birds sing morning songs above the quiet river bend near the old stone bridge " +
      "under a pale winter sky full of slow clouds drifting east"

  test("near-duplicates suppressed across batches; horizon expires state; within-batch ordered") {
    val store = java.nio.file.Files.createTempDirectory("neardedup-store").toString + "/s"
    def run(batchId: Long, docs: Seq[(Long, String, java.sql.Timestamp)]) =
      StreamingNearDedup.processBatch(spark,
        docs.toDF("doc_id", "text", "ts"), "doc_id", "text", "ts",
        store, horizonSec = 600, batchId = batchId)
        .select("doc_id").as[Long].collect().toSet

    // batch 1: base kept; in-batch near-copy suppressed (later ts);
    // unrelated doc kept
    assert(run(0L, Seq((1L, base, ts(0)), (2L, nearCopy, ts(1)), (3L, distinct, ts(2))))
      == Set(1L, 3L))
    // batch 2 (within horizon): another near-copy suppressed, new doc kept
    assert(run(1L, Seq((4L, nearCopy, ts(5)), (5L, distinct.toUpperCase, ts(6)))) == Set(5L))
    // batch 3 (beyond horizon): the same near-copy is NEW again
    assert(run(2L, Seq((6L, nearCopy, ts(30)))) == Set(6L))
  }

  test("at-least-once replay keeps its own docs (store write is batch-stamped)") {
    val store = java.nio.file.Files.createTempDirectory("neardedup-replay").toString + "/s"
    def run(batchId: Long, docs: Seq[(Long, String, java.sql.Timestamp)]) =
      StreamingNearDedup.processBatch(spark,
        docs.toDF("doc_id", "text", "ts"), "doc_id", "text", "ts",
        store, horizonSec = 600, batchId = batchId)
        .select("doc_id").as[Long].collect().toSet

    val docs = Seq((1L, base, ts(0)), (2L, distinct, ts(1)))
    assert(run(7L, docs) == Set(1L, 2L))
    // crash-after-store-append, before sink write: the SAME batch
    // replays with the SAME id — its own band keys must not suppress it
    assert(run(7L, docs) == Set(1L, 2L),
      "replayed batch suppressed by its own half-committed store append")
    // a LATER batch with the same content is still a cross-batch hit
    assert(run(8L, Seq((3L, nearCopy, ts(4)))) == Set.empty[Long])
  }

  test("processBatch leaves no cached blocks behind") {
    val store = java.nio.file.Files.createTempDirectory("neardedup-leak").toString + "/s"
    // the test session is shared across concurrently-running suites, so
    // assert on the DIFF of cached RDD ids, not global emptiness — and
    // retry briefly: a concurrent suite may cache inside our window
    val before = spark.sparkContext.getPersistentRDDs.keySet
    StreamingNearDedup.processBatch(spark,
      Seq((1L, base, ts(0)), (2L, distinct, ts(1))).toDF("doc_id", "text", "ts"),
      "doc_id", "text", "ts", store, horizonSec = 600, batchId = 0L)
      .collect()
    def leaked = spark.sparkContext.getPersistentRDDs -- before
    var tries = 0
    while (leaked.nonEmpty && tries < 20) { Thread.sleep(250); tries += 1 }
    assert(leaked.isEmpty, s"leaked cached RDDs: ${leaked.values.map(_.name)}")
  }

  test("short docs with no shingles always pass; store compaction keeps live keys only") {
    val store = java.nio.file.Files.createTempDirectory("neardedup-store2").toString + "/s"
    val kept = StreamingNearDedup.processBatch(spark,
      Seq((1L, "too short", ts(0)), (2L, "too short", ts(1)), (3L, base, ts(2)))
        .toDF("doc_id", "text", "ts"),
      "doc_id", "text", "ts", store, horizonSec = 600, batchId = 0L)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 2L, 3L)) // no bands => exact-dup stage's job, not ours

    // compaction with a future cutoff empties the store => key re-admitted
    StreamingNearDedup.compactStore(spark, store, ts(20))
    val again = StreamingNearDedup.processBatch(spark,
      Seq((9L, base, ts(3))).toDF("doc_id", "text", "ts"),
      "doc_id", "text", "ts", store, horizonSec = 600, batchId = 1L)
      .select("doc_id").as[Long].collect().toSet
    assert(again == Set(9L))
  }

  test("crashed compaction swap recovers from staged; transient read errors propagate") {
    val store = java.nio.file.Files.createTempDirectory("neardedup-store3").toString + "/s"
    StreamingNearDedup.processBatch(spark,
      Seq((1L, base, ts(0))).toDF("doc_id", "text", "ts"),
      "doc_id", "text", "ts", store, horizonSec = 600, batchId = 0L)
    // simulate the crash window: the staged snapshot exists, `store`
    // is gone (compactStore died between its Overwrite-delete of the
    // live path and the rewrite)
    spark.read.parquet(store)
      .groupBy(col("band"), col("key")).agg(max(col("ts")).as("ts"))
      .withColumn("batch_id", lit(StreamingNearDedup.PreHistoryBatchId))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(StoreSwap.stage(store))
    val p = new org.apache.hadoop.fs.Path(store)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    // the near-copy must STILL be suppressed — a missing store with a
    // surviving stage is a crashed swap, not a fresh store
    val kept = StreamingNearDedup.processBatch(spark,
      Seq((2L, nearCopy, ts(1))).toDF("doc_id", "text", "ts"),
      "doc_id", "text", "ts", store, horizonSec = 600, batchId = 1L)
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set.empty[Long], "standing state lost across the crash window")
    // and the recovery consumed the stage (a stale snapshot must not
    // resurrect a store deleted on purpose later)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(StoreSwap.stage(store))))
  }

  test("a non-missing-path read failure propagates instead of serving an empty store") {
    val dir = java.nio.file.Files.createTempDirectory("neardedup-store4").toString
    val bad = s"$dir/s"
    java.nio.file.Files.createDirectory(java.nio.file.Paths.get(bad))
    java.nio.file.Files.write(java.nio.file.Paths.get(bad, "part-x.parquet"),
      "corrupt".getBytes)
    intercept[Exception] {
      StreamingNearDedup.processBatch(spark,
        Seq((2L, nearCopy, ts(1))).toDF("doc_id", "text", "ts"),
        "doc_id", "text", "ts", bad, horizonSec = 600, batchId = 1L)
        .count()
    }
  }

  test("end-to-end over a real stream via foreachBatch") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("neardedup-e2e").toString
    val input = MemoryStream[(Long, String, java.sql.Timestamp)]
    val q = StreamingNearDedup.attach(input.toDF().toDF("doc_id", "text", "ts"),
      "doc_id", "text", "ts", s"$dir/store", s"$dir/out", s"$dir/ckpt",
      horizonSec = 600)
    input.addData((1L, base, ts(0)), (2L, distinct, ts(1)))
    q.processAllAvailable()
    input.addData((3L, nearCopy, ts(4)), (4L, base + " tail extension", ts(5)))
    q.processAllAvailable()
    q.stop()
    val kept = spark.read.parquet(s"$dir/out").select("doc_id").as[Long].collect().toSet
    assert(kept.contains(1L) && kept.contains(2L))
    assert(!kept.contains(3L), "cross-batch near-copy must be suppressed")
  }
}
