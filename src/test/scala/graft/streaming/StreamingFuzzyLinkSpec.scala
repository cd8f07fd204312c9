package graft.streaming

import graft.SparkTestBase
import graft.functions.FuzzyJoin
import graft.sources.StoreSwap
import org.apache.spark.sql.functions._

class StreamingFuzzyLinkSpec extends SparkTestBase {
  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("fuzzylink").toString

  private val batch1 = Seq("abcd", "wxyz", "Cust#0001")
  private val batch2 = Seq("abce", "Cust#0002") // links to abcd, Cust#0001
  private val batch3 = Seq("abcd", "qqqq")      // re-arrival + singleton

  private def run(store: String, batches: Seq[(Seq[String], Long)]) =
    batches.map { case (b, id) =>
      val out = StreamingFuzzyLink.processBatch(
        spark, b.toDF("s"), "s", store, id)
      val set = out.as[(String, String)].collect().toSet
      out.unpersist()
      set
    }

  test("union of emitted pairs over the stream equals the batch operator (parity)") {
    val store = tmp()
    val emitted = run(store,
      Seq(batch1 -> 0L, batch2 -> 1L, batch3 -> 2L)).reduce(_ ++ _)
    val all = (batch1 ++ batch2 ++ batch3).toDF("s")
    val expect = FuzzyJoin.editDistance1Pairs(all, "s")
      .as[(String, String)].collect().toSet
    assert(emitted === expect)
    assert(expect.contains(("abcd", "abce")))
    assert(expect.contains(("Cust#0001", "Cust#0002")))
  }

  test("cross-batch pair is emitted by the batch that completes it") {
    val store = tmp()
    val Seq(e1, e2, _) = run(store,
      Seq(batch1 -> 0L, batch2 -> 1L, batch3 -> 2L))
    assert(e1 === Set.empty)
    assert(e2 === Set(("abcd", "abce"), ("Cust#0001", "Cust#0002")))
  }

  test("within-batch pairs link without standing state") {
    val store = tmp()
    val Seq(e) = run(store, Seq(Seq("abcd", "abce", "zzzz") -> 0L))
    assert(e === Set(("abcd", "abce")))
  }

  test("replayed batch recomputes the identical pair set (at-least-once safety)") {
    val store = tmp()
    val Seq(_, first) = run(store, Seq(batch1 -> 0L, batch2 -> 1L))
    // crash-replay of batch 1: same data, same id, store already has
    // the first attempt's stamped append
    val Seq(replay) = run(store, Seq(batch2 -> 1L))
    assert(replay === first)
  }

  test("compaction preserves linkage behavior") {
    val store = tmp()
    run(store, Seq(batch1 -> 0L, batch2 -> 1L))
    StreamingFuzzyLink.compactStore(spark, store)
    // a third batch must still see the standing keys post-compaction
    val Seq(e3) = run(store, Seq(Seq("abcf") -> 2L))
    assert(e3 === Set(("abcd", "abcf"), ("abce", "abcf")))
  }

  test("streamed linkage + agreement gate + closure == batch d20 (composition parity)") {
    // the streaming ER pipeline end to end: names stream through the
    // fuzzy linker in three arrivals; the accumulated pair log, gated
    // and closed exactly as d20 does it batch-side, must reproduce
    // the batch query's entity labels bit for bit
    val dir = "/root/testdata/sf0.001"
    val store = tmp()
    val cust = graft.sources.Tables.customer(spark, dir)
      .select(col("c_name"), col("c_nationkey"), col("c_mktsegment"))
    val names = cust.select(col("c_name")).as[String].collect().toSeq.sorted
    val chunks = names.grouped(names.size / 3 + 1).toSeq
    val pairLog = chunks.zipWithIndex.map { case (c, i) =>
      val out = StreamingFuzzyLink.processBatch(
        spark, c.toDF("s"), "s", store, i.toLong)
      val set = out.as[(String, String)].collect().toSet
      out.unpersist()
      set
    }.reduce(_ ++ _)

    val a = cust.select(col("c_name").as("left_str"),
      col("c_nationkey").as("_na"), col("c_mktsegment").as("_ma"))
    val b = cust.select(col("c_name").as("right_str"),
      col("c_nationkey").as("_nb"), col("c_mktsegment").as("_mb"))
    val edges = pairLog.toSeq.toDF("left_str", "right_str")
      .join(a, Seq("left_str")).join(b, Seq("right_str"))
      .filter(col("_na") === col("_nb") && col("_ma") === col("_mb"))
      .select(col("left_str"), col("right_str"))
    val lab = graft.functions.Dedup
      .connectedComponentsStar(edges, "left_str", "right_str")
      .select(col("id").as("c_name"), col("component").as("entity_id"))
    val m = cust.select(col("c_name")).join(lab, Seq("c_name"), "left_outer")
      .select(col("c_name"),
        coalesce(col("entity_id"), col("c_name")).as("entity_id"))
    val sizes = m.groupBy(col("entity_id")).agg(count(lit(1)).as("n_members"))
    val got = m.join(sizes, Seq("entity_id"))
      .select(col("c_name"), col("entity_id"), col("n_members"))
      .as[(String, String, Long)].collect().toSet

    val expect = graft.SparkEntry.queries("d20_entity_clusters")(spark, dir)
      .as[(String, String, Long)].collect().toSet
    assert(got === expect)
    assert(expect.exists(_._3 > 1)) // real multi-member entities exist
  }

  test("compaction deletes its staged snapshot after a successful swap") {
    val store = tmp()
    run(store, Seq(batch1 -> 0L, batch2 -> 1L))
    StreamingFuzzyLink.compactStore(spark, store)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(StoreSwap.stage(store))),
      "staged snapshot must not outlive a completed compaction")
  }

  test("crash between compaction's delete and rewrite recovers from staged (no silent empty store)") {
    val store = tmp()
    run(store, Seq(batch1 -> 0L, batch2 -> 1L))
    // simulate the crash window: the staged snapshot exists, `store`
    // itself is gone (compactStore died between its Overwrite-delete
    // of `store` and the rewrite). Build staged exactly as
    // compactStore does, then drop the store dir.
    spark.read.parquet(store)
      .select(col("k"), col("s")).distinct()
      .withColumn("batch_id", lit(StreamingFuzzyLink.PreHistoryBatchId))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(StoreSwap.stage(store))
    val p = new org.apache.hadoop.fs.Path(store)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    // next batch must still see the standing keys — a missing store
    // with a surviving stage is a crashed swap, NOT a fresh store
    val Seq(e) = run(store, Seq(Seq("abcf") -> 2L))
    assert(e === Set(("abcd", "abcf"), ("abce", "abcf")))
    // and the store path itself is restored for subsequent readers,
    // with the stage consumed (a stale snapshot left behind would
    // resurrect old state if the store were later deleted on purpose)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(store)))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(StoreSwap.stage(store))))
  }

  test("a stage orphaned BEFORE the swap is cleared by the start-time sweep, not by batch reads") {
    val store = tmp()
    run(store, Seq(batch1 -> 0L, batch2 -> 1L))
    // simulate the OTHER crash window: compaction wrote its staged
    // snapshot, then died before the swap ever touched the live
    // path — store intact, stage orphaned
    spark.read.parquet(store)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(StoreSwap.stage(store))
    // a batch read must NOT consume the stage: the per-read sweep is
    // what raced a concurrently running compaction (it deleted the
    // stage compactStore had just written, and the swap then failed
    // reading the deleted path)
    run(store, Seq(batch3 -> 2L))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(StoreSwap.stage(store))),
      "batch reads must leave the stage alone — a compaction may own it")
    // the START-TIME sweep (what attach() runs before the query) is
    // where no compaction can be in flight; it consumes the orphan
    StoreSwap.clearOrphan(spark, store)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(StoreSwap.stage(store))),
      "an orphaned stage must not survive the stream-start sweep")
    // and an intentional reset (delete the live store to start fresh)
    // now yields a genuinely FRESH store — not a resurrected snapshot
    val p = new org.apache.hadoop.fs.Path(store)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    val Seq(e) = run(store, Seq(Seq("abcf") -> 3L))
    assert(e === Set.empty, "reset store must not remember pre-reset keys")
  }

  test("start-time sweep keeps the stage when the live path is missing (recover's window)") {
    val store = tmp()
    run(store, Seq(batch1 -> 0L, batch2 -> 1L))
    spark.read.parquet(store)
      .select(col("k"), col("s")).distinct()
      .withColumn("batch_id", lit(StreamingFuzzyLink.PreHistoryBatchId))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(StoreSwap.stage(store))
    val p = new org.apache.hadoop.fs.Path(store)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    // live path missing + stage present = crashed swap, the stage is
    // the ONLY complete image — the sweep must not touch it
    StoreSwap.clearOrphan(spark, store)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(StoreSwap.stage(store))),
      "sweep must keep the stage when the live path cannot be read")
    // ...so the next batch still recovers the standing keys through it
    val Seq(e) = run(store, Seq(Seq("abcf") -> 2L))
    assert(e === Set(("abcd", "abcf"), ("abce", "abcf")))
  }

  test("failed append does not leak cached pair blocks (retry hygiene)") {
    val store = tmp()
    // make the store path unwritable-as-directory: a plain FILE at
    // the path makes the parquet Append throw after pairs are cached
    java.nio.file.Files.write(java.nio.file.Paths.get(store, "x"),
      "not-a-parquet-store".getBytes)
    val blocked = java.nio.file.Paths.get(store, "x").toString
    val before = spark.sparkContext.getPersistentRDDs.size
    intercept[Exception] {
      StreamingFuzzyLink.processBatch(
        spark, Seq("abcd", "abce").toDF("s"), "s", blocked, 0L)
    }
    assert(spark.sparkContext.getPersistentRDDs.size === before,
      "processBatch must unpersist its caches when the append fails")
  }

  test("re-arrival re-emits standing pairs; distinct set is stable") {
    val store = tmp()
    val Seq(_, _, e3) = run(store,
      Seq(batch1 -> 0L, batch2 -> 1L, batch3 -> 2L))
    // batch3 re-delivers abcd → its standing link re-emits
    assert(e3 === Set(("abcd", "abce")))
  }
}
