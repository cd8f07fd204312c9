package graft.streaming

import graft.SparkTestBase
import graft.functions.TextAnalysis
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class StreamingCorpusIngestSpec extends SparkTestBase {
  import spark.implicits._

  // build docs from tokens with KNOWN classifier weights, so gate
  // verdicts are constructed, not hoped for
  private def weightOf(tok: String): Int = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(tok.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val bucket = (java.lang.Long.parseLong(hex.substring(0, 8), 16) % 64).toInt
    TextAnalysis.linearWeights(64)(bucket)
  }
  private val pool = (0 until 400).map(i => s"tok$i")
  private val good = pool.filter(weightOf(_) > 0).take(45)
  private val junkTok = pool.find(weightOf(_) < 0).get

  private val base = good.take(40).mkString(" ")
  // one-token near-variant: shingle sets overlap heavily → same bands
  private val nearCopy = (good.take(39) :+ good(40)).mkString(" ")
  private val distinct = good.take(40).reverse.mkString(" ")
  private val junk = Seq.fill(40)(junkTok).mkString(" ")

  private def ts(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")

  test("gate -> exact dedup -> near dedup compose; junk never reaches dedup state") {
    assert(good.size >= 41, "token pool must cover the doc construction")
    val dir = java.nio.file.Files.createTempDirectory("corpus-ingest").toString
    val input = MemoryStream[(Long, String, java.sql.Timestamp)](spark)
    val q = StreamingCorpusIngest.attach(
      input.toDF().toDF("doc_id", "text", "ts"), "doc_id", "text", "ts",
      s"$dir/store", s"$dir/out", s"$dir/chk")
    def out(): Set[Long] =
      if (!new java.io.File(s"$dir/out").exists()) Set.empty
      else spark.read.parquet(s"$dir/out").select("doc_id").as[Long].collect().toSet
    try {
      // batch 1: junk gated out; base and distinct both land
      input.addData(Seq((1L, junk, ts(0)), (2L, base, ts(1)), (3L, distinct, ts(2))))
      q.processAllAvailable()
      assert(out() == Set(2L, 3L))
      // batch 2: exact copy suppressed by digest state, near copy by
      // the band store, junk by the gate; only the genuinely new doc
      // (distinct token mix) survives
      input.addData(Seq(
        (4L, base, ts(3)), // exact copy of 2
        (5L, nearCopy, ts(4)), // near copy of 2
        (6L, junk, ts(5)),
        (7L, (good.take(20).reverse ++ good.drop(20).take(20)).mkString(" "), ts(6))))
      q.processAllAvailable()
      assert(out() == Set(2L, 3L, 7L))
    } finally q.stop()
  }

  test("full chain with the decontamination guard: contaminated survivors dropped last") {
    val dir = java.nio.file.Files.createTempDirectory("corpus-ingest-dc").toString
    // the eval set contains `distinct` verbatim → doc 3 is contaminated;
    // base passes every stage
    val guard = StreamingDecontaminate.fitGuard(
      Seq((900L, distinct)).toDF("doc_id", "text"), "doc_id", "text",
      n = 5, minContainment = 0.5)
    val input = MemoryStream[(Long, String, java.sql.Timestamp)](spark)
    val q = StreamingCorpusIngest.attach(
      input.toDF().toDF("doc_id", "text", "ts"), "doc_id", "text", "ts",
      s"$dir/store", s"$dir/out", s"$dir/chk", guard = Some(guard))
    def out(): Set[Long] =
      if (!new java.io.File(s"$dir/out").exists()) Set.empty
      else spark.read.parquet(s"$dir/out").select("doc_id").as[Long].collect().toSet
    try {
      input.addData(Seq((1L, junk, ts(0)), (2L, base, ts(1)), (3L, distinct, ts(2))))
      q.processAllAvailable()
      assert(out() == Set(2L), "junk gated, doc 3 decontaminated, base kept")
      // a second batch: copies still dedup BEFORE the guard pays for them
      input.addData(Seq((4L, base, ts(3)), (5L, distinct, ts(4))))
      q.processAllAvailable()
      assert(out() == Set(2L), "exact copies die in dedup; contaminated text stays out")
    } finally q.stop()
  }
}
