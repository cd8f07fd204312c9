package graft.sources

import graft.SparkTestBase
import graft.model.MessageFormatConfig
import graft.streaming.IngestPipeline
import graft.streaming.IngestPipeline.StatusUpdate
import org.apache.spark.sql.functions._
import java.nio.file.Files

class UiReferenceStoreSpec extends SparkTestBase {
  import spark.implicits._

  test("merge is idempotent and keep-latest (exactly-once under replay)") {
    val path = Files.createTempDirectory("graft-uiref").toString + "/state"
    val batch1 = Seq(StatusUpdate("m1", "UP", 100), StatusUpdate("m2", "DOWN", 110)).toDS()
    UiReferenceStore.merge(spark, path, batch1)
    UiReferenceStore.merge(spark, path, batch1) // replayed batch: no-op
    val older = Seq(StatusUpdate("m1", "IDLE", 50)).toDS() // late arrival: loses
    UiReferenceStore.merge(spark, path, older)
    val newer = Seq(StatusUpdate("m1", "DOWN", 200)).toDS()
    UiReferenceStore.merge(spark, path, newer)

    val state = UiReferenceStore.read(spark, path)
      .select("machineId", "machineStatus", "machineStatusUpdatedTimestamp")
      .as[(String, String, Long)].collect().toSet
    assert(state == Set(("m1", "DOWN", 200L), ("m2", "DOWN", 110L)))
  }

  test("ensureMachines registers first-sight MACHINE rows idempotently; names survive merges") {
    val path = Files.createTempDirectory("graft-uiref-fs").toString + "/state"
    val ids = Seq("mA", "mB").toDF("machineId")
    assert(UiReferenceStore.ensureMachines(spark, path, ids, nowEpochS = 500) == Seq("mA", "mB"))
    // placeholder rows: type MACHINE, null name/status, creation ts
    val rows = UiReferenceStore.read(spark, path)
      .as[(String, String, Option[String], Option[String], Long)].collect().toSet
    assert(rows == Set(("mA", "MACHINE", None, None, 500L), ("mB", "MACHINE", None, None, 500L)))
    // re-registering (plus one genuinely new) creates only the new one
    assert(UiReferenceStore.ensureMachines(spark, path,
      Seq("mA", "mC").toDF("machineId"), nowEpochS = 600) == Seq("mC"))
    assert(UiReferenceStore.read(spark, path).count() == 3)
    // placeholders are excluded from hydration state
    assert(UiReferenceStore.asInitialState(spark, path).collect().isEmpty)
    // a real status (even with an older ts) beats the placeholder
    UiReferenceStore.merge(spark, path, Seq(StatusUpdate("mA", "UP", 100)).toDS())
    assert(UiReferenceStore.asInitialState(spark, path).collect().toSet == Set(("mA", "UP")))
    // name upsert sticks through later status merges
    UiReferenceStore.upsertName(spark, path, "mA", "Press 1")
    UiReferenceStore.merge(spark, path, Seq(StatusUpdate("mA", "DOWN", 300)).toDS())
    val mA = UiReferenceStore.read(spark, path).filter(col("machineId") === "mA")
      .as[(String, String, Option[String], Option[String], Long)].head()
    assert(mA == ("mA", "MACHINE", Some("Press 1"), Some("DOWN"), 300L))
    // attribute_exists condition: renaming an unknown machine throws
    intercept[IllegalArgumentException] {
      UiReferenceStore.upsertName(spark, path, "ghost", "x")
    }
  }

  test("file-source streaming ingest end-to-end: files → parse → facts + merged state") {
    val dir = Files.createTempDirectory("graft-stream").toString
    val inDir = s"$dir/in"; new java.io.File(inDir).mkdirs()
    val statePath = s"$dir/state"
    val factDir = s"$dir/facts"

    val goodTs = "2021-03-05 18:16:10.517000+00:00"
    def payload(tag: String, value: String): String = {
      val json = s"""{"messages":[{"name":"site/area/line/m9/$tag","quality":"GOOD","timestamp":"$goodTs","value":"$value"}]}"""
      java.util.Base64.getEncoder.encodeToString(json.getBytes("UTF-8"))
    }
    // one payload per line — the file-stream analogue of Kinesis records
    Files.writeString(java.nio.file.Paths.get(s"$inDir/batch1.txt"),
      payload("status", "d") + "\n" + payload("pc", "7"))

    val machineConfigs = Seq(("site/area/line/m9", "status", "pc", "u", "d", "i"))
      .toDF("machineId", "statusTag", "productionCountTag",
        "statusUpValues", "statusDownValues", "statusIdleValues")

    implicit val s = spark
    val stream = spark.readStream.schema("payload STRING").format("text")
      .option("path", inDir).load().withColumnRenamed("value", "payload")
    val query = IngestPipeline.runIngest(
      stream, "payload",
      loadConfigs = () => (Seq(MessageFormatConfig(id = "DEFAULT")), machineConfigs),
      appendFacts = df => df.write.mode("append").parquet(factDir),
      mergeStatuses = ds => UiReferenceStore.merge(spark, statePath, ds))
    query.processAllAvailable()
    query.stop()

    val facts = spark.read.parquet(factDir)
    assert(facts.count() == 2) // status + pc rows
    val state = UiReferenceStore.asInitialState(spark, statePath).collect().toSet
    assert(state == Set(("site/area/line/m9", "DOWN")))
  }

  test("change suppression across batches: unchanged status emits no merge") {
    val dir = Files.createTempDirectory("graft-suppress").toString
    val inDir = s"$dir/in"; new java.io.File(inDir).mkdirs()
    val statePath = s"$dir/state"

    val goodTs = "2021-03-05 18:16:10.517000+00:00"
    def payload(value: String): String = {
      val json = s"""{"messages":[{"name":"a/b/m/status","quality":"GOOD","timestamp":"$goodTs","value":"$value"}]}"""
      java.util.Base64.getEncoder.encodeToString(json.getBytes("UTF-8"))
    }
    val machineConfigs = Seq(("a/b/m", "status", "pc", "u", "d", "i"))
      .toDF("machineId", "statusTag", "productionCountTag",
        "statusUpValues", "statusDownValues", "statusIdleValues")

    implicit val s = spark
    val merged = scala.collection.mutable.ArrayBuffer[IngestPipeline.StatusUpdate]()
    val stream = spark.readStream.schema("payload STRING").format("text")
      .option("path", inDir).load().withColumnRenamed("value", "payload")
    val query = IngestPipeline.runIngest(
      stream, "payload",
      loadConfigs = () => (Seq(MessageFormatConfig(id = "DEFAULT")), machineConfigs),
      appendFacts = _ => (),
      mergeStatuses = ds => {
        val ups = ds.collect()
        merged.synchronized { merged ++= ups }
        UiReferenceStore.merge(spark, statePath, ups.toSeq.toDS())
      },
      loadState = () => UiReferenceStore.read(spark, statePath))

    Files.writeString(java.nio.file.Paths.get(s"$inDir/b1.txt"), payload("d"))
    query.processAllAvailable()
    Files.writeString(java.nio.file.Paths.get(s"$inDir/b2.txt"), payload("d")) // unchanged
    query.processAllAvailable()
    Files.writeString(java.nio.file.Paths.get(s"$inDir/b3.txt"), payload("u")) // transition
    query.processAllAvailable()
    query.stop()

    // one DOWN mutation, one UP mutation — the unchanged batch is suppressed
    assert(merged.map(_.machineStatus).toSeq == Seq("DOWN", "UP"))
  }

  test("ensureMachines writes exactly the ids it returns") {
    val path = Files.createTempDirectory("graft-uiref-once").toString + "/state"
    // a different id on every evaluation of the input plan: re-running
    // it after the collect would write other ids than it returns
    val nextId = udf(() => s"m${FreshIdCounter.n.incrementAndGet()}").asNondeterministic()
    val ids = spark.range(1).select(nextId().as("machineId"))
    val created = UiReferenceStore.ensureMachines(spark, path, ids, nowEpochS = 700)
    assert(created.size == 1)
    assert(UiReferenceStore.read(spark, path).select("machineId").as[String].collect().toSeq == created)
  }
}

object FreshIdCounter {
  val n = new java.util.concurrent.atomic.AtomicInteger()
}
