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

  /** Data files of a store directory, name → (length, modification time). */
  private def dataFiles(path: String): Map[String, (Long, Long)] =
    Option(new java.io.File(path).listFiles()).toSeq.flatten
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .map(f => f.getName -> (f.length(), f.lastModified())).toMap

  test("a state path with no data file yet reads as the empty state, and later batches proceed") {
    // what a first registration append leaves when it crashes after the
    // committer created its scratch directory
    val path = Files.createTempDirectory("graft-uiref-crashed").toString + "/state"
    new java.io.File(s"$path/_temporary/0").mkdirs()
    val empty = UiReferenceStore.read(spark, path)
    assert(empty.columns.toSeq ==
      Seq("machineId", "type", "name", "machineStatus", "machineStatusUpdatedTimestamp"))
    assert(empty.count() == 0)
    assert(UiReferenceStore.asInitialState(spark, path).collect().isEmpty)
    assert(UiReferenceStore.ensureMachines(spark, path, Seq("m1").toDF("machineId"), 10) == Seq("m1"))
    UiReferenceStore.merge(spark, path, Seq(StatusUpdate("m1", "UP", 20), StatusUpdate("m2", "DOWN", 30)).toDS())
    assert(UiReferenceStore.asInitialState(spark, path).collect().toSet == Set(("m1", "UP"), ("m2", "DOWN")))
  }

  test("a rewrite that crashed between its delete and its rename loses no machine") {
    val path = Files.createTempDirectory("graft-uiref-midswap").toString + "/state"
    val fleet = Seq("m1", "m2", "m3")
    UiReferenceStore.ensureMachines(spark, path, fleet.toDF("machineId"), nowEpochS = 10)
    UiReferenceStore.merge(spark, path,
      Seq(StatusUpdate("m1", "UP", 20), StatusUpdate("m2", "DOWN", 30)).toDS())
    UiReferenceStore.upsertName(spark, path, "m1", "Press 1")
    def state() = UiReferenceStore.read(spark, path)
      .as[(String, String, Option[String], Option[String], Long)].collect().toSet
    val before = state()
    assert(before.map(_._1) == fleet.toSet)
    // the crash state: live state deleted, the complete new image still
    // in the stage the next rename would have promoted
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stage = new org.apache.hadoop.fs.Path(StoreSwap.stage(path))
    assert(fs.rename(new org.apache.hadoop.fs.Path(path), stage))
    val marker = new org.apache.hadoop.fs.Path(stage, "_SUCCESS")
    if (!fs.exists(marker)) fs.create(marker, true).close()
    // read serves the whole fleet, names and statuses included
    assert(state() == before, "a crashed swap read as a smaller fleet")
    assert(!fs.exists(stage))
    // so the next batch registers nobody and its merge keeps everyone
    assert(UiReferenceStore.ensureMachines(spark, path, fleet.toDF("machineId"), 40).isEmpty)
    UiReferenceStore.merge(spark, path, Seq(StatusUpdate("m3", "UP", 50)).toDS())
    assert(state() == before.filter(_._1 != "m3") +
      (("m3", "MACHINE", None, Some("UP"), 50L)))
  }

  test("read starts no Spark job (fixed schema, no inference)") {
    val path = Files.createTempDirectory("graft-uiref-nojob").toString + "/state"
    UiReferenceStore.merge(spark, path, Seq(StatusUpdate("m1", "UP", 1)).toDS())
    UiReferenceStore.ensureMachines(spark, path, Seq("m2").toDF("machineId"), 2)
    val sc = spark.sparkContext
    val group = s"uiref-read-${System.nanoTime()}"
    val marker = s"$group-marker"
    val probeJobs = new java.util.concurrent.atomic.AtomicInteger()
    val markerSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        if (props.exists(_.getProperty("spark.jobGroup.id") == group)) probeJobs.incrementAndGet()
        if (props.exists(_.getProperty("spark.jobGroup.id") == marker)) markerSeen.countDown()
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "UiReferenceStore.read probe")
      UiReferenceStore.read(spark, path)
      // listener events arrive in order, so once this job's start is
      // seen every job the read might have started has been counted
      sc.setJobGroup(marker, "listener barrier")
      sc.parallelize(Seq(1), 1).count()
      assert(markerSeen.await(60, java.util.concurrent.TimeUnit.SECONDS))
      assert(probeJobs.get() == 0, s"read started ${probeJobs.get()} Spark job(s)")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("a store written without type/name columns reads back as MACHINE with a null name") {
    val path = Files.createTempDirectory("graft-uiref-old").toString + "/state"
    Seq(("m1", "UP", 5L)).toDF("machineId", "machineStatus", "machineStatusUpdatedTimestamp")
      .write.parquet(path)
    val rows = UiReferenceStore.read(spark, path)
      .as[(String, String, Option[String], Option[String], Long)].collect().toSeq
    assert(rows == Seq(("m1", "MACHINE", None, Some("UP"), 5L)))
    // and the store keeps working: m1 is known, a merge folds in the new shape
    assert(UiReferenceStore.ensureMachines(spark, path, Seq("m1", "m2").toDF("machineId"), 6) == Seq("m2"))
    UiReferenceStore.merge(spark, path, Seq(StatusUpdate("m1", "DOWN", 7)).toDS())
    assert(UiReferenceStore.read(spark, path)
      .as[(String, String, Option[String], Option[String], Long)].collect().toSet == Set(
      ("m1", "MACHINE", None, Some("DOWN"), 7L), ("m2", "MACHINE", None, None, 6L)))
  }

  test("registration appends one file and leaves existing files in place; merge folds it") {
    val path = Files.createTempDirectory("graft-uiref-append").toString + "/state"
    UiReferenceStore.merge(spark, path, Seq(StatusUpdate("m1", "UP", 1), StatusUpdate("m2", "UP", 1)).toDS())
    val base = dataFiles(path)
    assert(base.nonEmpty)
    // fresh ids: exactly one new data file, every existing file untouched
    assert(UiReferenceStore.ensureMachines(spark, path,
      Seq("m1", "m3", "m4", "m5").toDF("machineId"), 2) == Seq("m3", "m4", "m5"))
    val afterFresh = dataFiles(path)
    assert(afterFresh.size == base.size + 1)
    assert(base.forall { case (n, meta) => afterFresh.get(n).contains(meta) })
    // no fresh ids, and a replay of the same ids: nothing registered, no file
    assert(UiReferenceStore.ensureMachines(spark, path, Seq("m1", "m2").toDF("machineId"), 3).isEmpty)
    assert(UiReferenceStore.ensureMachines(spark, path,
      Seq("m3", "m4", "m5").toDF("machineId"), 3).isEmpty)
    assert(dataFiles(path) == afterFresh)
    def idCounts = UiReferenceStore.read(spark, path).groupBy("machineId").count()
      .as[(String, Long)].collect().toMap
    assert(idCounts == Seq("m1", "m2", "m3", "m4", "m5").map(_ -> 1L).toMap)
    // the next merge is the rewrite: placeholder file folded, one row per id
    UiReferenceStore.merge(spark, path, Seq(StatusUpdate("m3", "DOWN", 4)).toDS())
    assert(idCounts == Seq("m1", "m2", "m3", "m4", "m5").map(_ -> 1L).toMap)
    assert(UiReferenceStore.asInitialState(spark, path).collect().toSet ==
      Set(("m1", "UP"), ("m2", "UP"), ("m3", "DOWN")))
  }
}

object FreshIdCounter {
  val n = new java.util.concurrent.atomic.AtomicInteger()
}
