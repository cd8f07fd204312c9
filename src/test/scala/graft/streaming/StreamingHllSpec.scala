package graft.streaming

import graft.SparkTestBase
import graft.functions.Hll
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class StreamingHllSpec extends SparkTestBase {
  import spark.implicits._

  private val rows: Seq[(String, Long)] =
    (0 until 3000).map(i => (s"g${i % 3}", (i % 700).toLong))

  private def flatRegisters(data: Seq[(String, Long)]): Map[String, Seq[Byte]] =
    data.toDF("g", "v")
      .groupBy(col("g")).agg(Hll.sketch(col("v").cast("string")).as("sk"))
      .as[(String, Array[Byte])].collect().map { case (g, sk) => g -> sk.toSeq }.toMap

  test("mergeBatch: streamed store registers equal the flat batch sketch on any split") {
    for (nSplits <- Seq(1, 3, 7)) {
      val batches = rows.grouped(math.max(1, rows.size / nSplits)).toSeq
      var store: Option[org.apache.spark.sql.DataFrame] = None
      batches.foreach { b =>
        store = Some(StreamingHll.mergeBatch(store, b.toDF("g", "v"),
          Seq("g"), "v").localCheckpoint(true))
      }
      val streamed = store.get.as[(String, Array[Byte])].collect()
        .map { case (g, sk) => g -> sk.toSeq }.toMap
      assert(streamed === flatRegisters(rows), s"splits=$nSplits")
    }
  }

  test("replay idempotence comes from the algebra: re-merging any batch changes nothing") {
    val (b1, b2) = rows.splitAt(1700)
    val once = StreamingHll.mergeBatch(
      Some(StreamingHll.mergeBatch(None, b1.toDF("g", "v"), Seq("g"), "v")),
      b2.toDF("g", "v"), Seq("g"), "v")
    // replay batch 2 (at-least-once delivery) and batch 1 (out-of-order)
    val replayed = StreamingHll.mergeBatch(
      Some(StreamingHll.mergeBatch(Some(once), b2.toDF("g", "v"), Seq("g"), "v")),
      b1.toDF("g", "v"), Seq("g"), "v")
    def regs(df: org.apache.spark.sql.DataFrame) =
      df.as[(String, Array[Byte])].collect().map { case (g, sk) => g -> sk.toSeq }.toMap
    assert(regs(replayed) === regs(once))
  }

  test("mid-swap crash recovery: a store stranded in the temp sibling is not reset") {
    implicit val s = spark
    val dir = java.nio.file.Files.createTempDirectory("graft-hll-crash").toString
    val path = s"$dir/store"
    val first = StreamingHll.mergeBatch(None, rows.toDF("g", "v"), Seq("g"), "v")
    graft.sources.StoreSwap.swap(spark, path)(first.write.parquet(_))
    val before = StreamingHll.readStore(path).get
      .as[(String, Array[Byte])].collect().map { case (g, sk) => g -> sk.toSeq }.toMap
    // simulate dying between delete(path) and rename(tmp, path): the
    // ONLY copy of the store lives in the hidden temp sibling
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stage = new org.apache.hadoop.fs.Path(graft.sources.StoreSwap.stage(path))
    assert(fs.rename(new org.apache.hadoop.fs.Path(path), stage))
    // before the recovery path this read returned None and the next
    // batch silently RESET every sketch
    val recovered = StreamingHll.readStore(path)
    assert(recovered.isDefined, "stranded store must be recovered, not treated as empty")
    val after = recovered.get.as[(String, Array[Byte])].collect()
      .map { case (g, sk) => g -> sk.toSeq }.toMap
    assert(after === before)
    assert(!fs.exists(stage), "swap completed")
  }

  test("attach: e2e store over micro-batches; estimates read like the batch path") {
    implicit val sqlCtx = spark.sqlContext
    implicit val s = spark
    val dir = java.nio.file.Files.createTempDirectory("graft-hll-stream").toString
    val input = MemoryStream[(String, Long)]
    val query = StreamingHll.attach(
      input.toDF().toDF("g", "v"), Seq("g"), "v",
      s"$dir/store", s"$dir/ckpt")
    rows.grouped(1000).foreach { b => input.addData(b: _*); query.processAllAvailable() }
    query.stop()
    val store = spark.read.parquet(s"$dir/store")
    val streamed = store.as[(String, Array[Byte])].collect()
      .map { case (g, sk) => g -> sk.toSeq }.toMap
    assert(streamed === flatRegisters(rows))
    val est = StreamingHll.estimates(store, Seq("g"))
      .select("g", "estimate").as[(String, Double)].collect().toMap
    // each group saw 700 distinct values
    est.values.foreach(e => assert(math.abs(e - 700.0) / 700.0 < 0.13, est))
    assert(est.size === 3)
  }
}
