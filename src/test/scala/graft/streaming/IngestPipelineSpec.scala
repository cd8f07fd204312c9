package graft.streaming

import graft.SparkTestBase
import graft.model.MessageFormatConfig
import graft.streaming.IngestPipeline.{StatusMsg, StatusUpdate}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/**
 * Streaming-state parity tests (SURVEY §2.8): change-suppressed status
 * updates with cold-start hydration, and the full foreachBatch ingest
 * over a memory stream.
 */
class IngestPipelineSpec extends SparkTestBase {
  import spark.implicits._

  test("changedStatuses emits on change only, with batch-local last-wins fold") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StatusMsg]
    val query = IngestPipeline.changedStatuses(input.toDS())
      .writeStream.format("memory").queryName("updates").outputMode("append").start()

    // batch 1: m1 flaps UP→DOWN within the batch (last wins: DOWN); m2 UP
    input.addData(
      StatusMsg("m1", "UP", 100), StatusMsg("m1", "DOWN", 200), StatusMsg("m2", "UP", 150))
    query.processAllAvailable()
    // batch 2: m1 stays DOWN (suppressed), m2 changes to IDLE
    input.addData(StatusMsg("m1", "DOWN", 300), StatusMsg("m2", "IDLE", 310))
    query.processAllAvailable()
    query.stop()

    val rows = spark.table("updates").as[StatusUpdate].collect().toSet
    assert(rows == Set(
      StatusUpdate("m1", "DOWN", 200),
      StatusUpdate("m2", "UP", 150),
      StatusUpdate("m2", "IDLE", 310)))
  }

  test("cold-start hydration: initial state suppresses unchanged statuses") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StatusMsg]
    val init = Seq(("m1", "DOWN"), ("m2", "UP")).toDS()
    val query = IngestPipeline.changedStatuses(input.toDS(), Some(init))
      .writeStream.format("memory").queryName("hydrated").outputMode("append").start()

    input.addData(StatusMsg("m1", "DOWN", 100), StatusMsg("m2", "DOWN", 110))
    query.processAllAvailable()
    query.stop()

    val rows = spark.table("hydrated").as[StatusUpdate].collect().toSet
    assert(rows == Set(StatusUpdate("m2", "DOWN", 110))) // m1 unchanged vs hydrated state
  }

  test("end-to-end foreachBatch ingest: parse, classify, facts + status merge") {
    implicit val sqlCtx = spark.sqlContext
    implicit val s = spark
    val goodTs = "2021-03-05 18:16:10.517000+00:00"
    def payload(tag: String, value: String): String = {
      val json = s"""{"messages":[{"name":"site/area/line/m1/$tag","quality":"GOOD","timestamp":"$goodTs","value":"$value"}]}"""
      java.util.Base64.getEncoder.encodeToString(json.getBytes("UTF-8"))
    }
    val machineConfigs = Seq(("site/area/line/m1", "status", "pc", "u", "d", "i"))
      .toDF("machineId", "statusTag", "productionCountTag",
        "statusUpValues", "statusDownValues", "statusIdleValues")

    val input = MemoryStream[String]
    val facts = scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Row]()
    val merges = scala.collection.mutable.ArrayBuffer[StatusUpdate]()
    val query = IngestPipeline.runIngest(
      input.toDF().withColumnRenamed("value", "payload"),
      "payload",
      loadConfigs = () => (Seq(MessageFormatConfig(id = "DEFAULT")), machineConfigs),
      appendFacts = df => facts.synchronized { facts ++= df.collect() },
      mergeStatuses = ds => merges.synchronized { merges ++= ds.collect() })

    input.addData(payload("status", "d"), payload("pc", "42"), payload("temperature", "99"))
    query.processAllAvailable()
    query.stop()

    // temperature message dropped (P5); status + pc become facts
    assert(facts.map(_.getString(0)).toSet ==
      Set("STATUS_site/area/line/m1", "PRODUCTION_COUNT_site/area/line/m1"))
    assert(merges.toSeq == Seq(StatusUpdate("site/area/line/m1", "DOWN", 1614968170L)))
  }

  test("first-sight machines: config + uiRef rows created once, never duplicated") {
    implicit val sqlCtx = spark.sqlContext
    implicit val s = spark
    val dir = java.nio.file.Files.createTempDirectory("graft-firstsight").toString
    val statePath = s"$dir/state"
    val goodTs = "2021-03-05 18:16:10.517000+00:00"
    def payload(machine: String, tag: String, value: String): String = {
      val json = s"""{"messages":[{"name":"$machine/$tag","quality":"GOOD","timestamp":"$goodTs","value":"$value"}]}"""
      java.util.Base64.getEncoder.encodeToString(json.getBytes("UTF-8"))
    }
    // config table starts with NO machine configs — machines are discovered
    var config = Seq(("DEFAULT", "UI_REFERENCE_MAPPING"))
      .toDF("id", "type")
      .withColumn("machineStatusTagName", lit(null).cast("string"))
    val machineConfigs = Seq(("s/a/l/m1", "status", "pc", "u", "d", "i"))
      .toDF("machineId", "statusTag", "productionCountTag",
        "statusUpValues", "statusDownValues", "statusIdleValues")

    val input = MemoryStream[String]
    val query = IngestPipeline.runIngest(
      input.toDF().withColumnRenamed("value", "payload"),
      "payload",
      loadConfigs = () => (Seq(MessageFormatConfig(id = "DEFAULT")), machineConfigs),
      appendFacts = _ => (),
      mergeStatuses = ds => graft.sources.UiReferenceStore.merge(spark, statePath, ds),
      loadState = () => graft.sources.UiReferenceStore.read(spark, statePath),
      registerMachines = ids => {
        // localize the ids (a real caller persists the config table;
        // the lazy lineage would otherwise pin state files the next
        // batch's atomic swap deletes)
        val idList = ids.collect().map(_.getString(0)).toSeq
        val updated = graft.api.Facade.autocreateMachineConfigs(config, idList.toDF("machineId"))
        config = spark.createDataFrame(
          java.util.Arrays.asList(updated.collect(): _*), updated.schema)
        graft.sources.UiReferenceStore.ensureMachines(spark, statePath,
          idList.toDF("machineId"), nowEpochS = 999)
        ()
      })

    // batch 1: m1 appears for the first time (status msg)
    input.addData(payload("s/a/l/m1", "status", "d"))
    query.processAllAvailable()
    // batch 2: m1 again (no dup) and m2 appears via a NON-status message
    input.addData(payload("s/a/l/m1", "status", "d"), payload("s/a/l/m2", "temp", "9"))
    query.processAllAvailable()
    query.stop()

    // config table: exactly one MACHINE_CONFIG row per discovered machine
    val cfgRows = config.filter(col("type") === "MACHINE_CONFIG")
      .select("id").as[String].collect().toSeq.sorted
    assert(cfgRows == Seq("s/a/l/m1", "s/a/l/m2"))
    // uiRef store: one MACHINE row each; m1 carries the merged status,
    // m2 (never classified) stays a placeholder
    val state = graft.sources.UiReferenceStore.read(spark, statePath)
      .as[(String, String, Option[String], Option[String], Long)].collect().toSet
    assert(state == Set(
      ("s/a/l/m1", "MACHINE", None, Some("DOWN"), 1614968170L),
      ("s/a/l/m2", "MACHINE", None, None, 999L)))
  }

  test("state reads per batch are bounded: loadState is dimension-sized and read at most twice") {
    implicit val sqlCtx = spark.sqlContext
    implicit val s = spark
    val goodTs = "2021-03-05 18:16:10.517000+00:00"
    def payload(tag: String, value: String): String = {
      val json = s"""{"messages":[{"name":"s/a/l/m1/$tag","quality":"GOOD","timestamp":"$goodTs","value":"$value"}]}"""
      java.util.Base64.getEncoder.encodeToString(json.getBytes("UTF-8"))
    }
    val machineConfigs = Seq(("s/a/l/m1", "status", "pc", "u", "d", "i"))
      .toDF("machineId", "statusTag", "productionCountTag",
        "statusUpValues", "statusDownValues", "statusIdleValues")
    val stateReads = new java.util.concurrent.atomic.AtomicInteger(0)
    var batches = 0
    val input = MemoryStream[String]
    val query = IngestPipeline.runIngest(
      input.toDF().withColumnRenamed("value", "payload"),
      "payload",
      loadConfigs = () => (Seq(MessageFormatConfig(id = "DEFAULT")), machineConfigs),
      appendFacts = _ => { batches += 1 },
      mergeStatuses = ds => { ds.collect(); () },
      // the CONTRACT (IngestPipeline.runIngest doc): loadState serves a
      // fleet-sized dimension. The pipeline may re-read it for hot
      // reload, but only a BOUNDED number of times per micro-batch —
      // one read per consumer (registration anti-join + change
      // suppression), never per row
      loadState = () => {
        stateReads.incrementAndGet()
        Seq(("s/a/l/m1", "UP")).toDF("machineId", "machineStatus")
      },
      registerMachines = ids => { ids.collect(); () })
    input.addData(payload("status", "d"))
    query.processAllAvailable()
    input.addData(payload("status", "u"), payload("status", "d"))
    query.processAllAvailable()
    query.stop()
    assert(batches >= 2)
    assert(stateReads.get() <= 2 * batches,
      s"loadState read ${stateReads.get()} times over $batches batches — " +
        "the per-batch full-table read count must stay bounded (≤ 2/batch)")
  }

  test("one loadState snapshot per batch serves registration and change suppression") {
    implicit val sqlCtx = spark.sqlContext
    implicit val s = spark
    val statePath = java.nio.file.Files.createTempDirectory("graft-one-read").toString + "/state"
    val goodTs = "2021-03-05 18:16:10.517000+00:00"
    def payload(machine: String, value: String): String = {
      val json = s"""{"messages":[{"name":"$machine/status","quality":"GOOD","timestamp":"$goodTs","value":"$value"}]}"""
      java.util.Base64.getEncoder.encodeToString(json.getBytes("UTF-8"))
    }
    val machineConfigs = Seq("s/a/l/m1", "s/a/l/m2").map(m => (m, "status", "pc", "u", "d", "i"))
      .toDF("machineId", "statusTag", "productionCountTag",
        "statusUpValues", "statusDownValues", "statusIdleValues")
    val stateReads = new java.util.concurrent.atomic.AtomicInteger(0)
    var batches = 0
    val merged = scala.collection.mutable.ArrayBuffer[IngestPipeline.StatusUpdate]()
    val input = MemoryStream[String]
    val query = IngestPipeline.runIngest(
      input.toDF().withColumnRenamed("value", "payload"),
      "payload",
      loadConfigs = () => (Seq(MessageFormatConfig(id = "DEFAULT")), machineConfigs),
      appendFacts = _ => { batches += 1 },
      mergeStatuses = ds => {
        val ups = ds.collect()
        merged ++= ups
        graft.sources.UiReferenceStore.merge(spark, statePath, ups.toSeq.toDS())
      },
      loadState = () => {
        stateReads.incrementAndGet()
        graft.sources.UiReferenceStore.read(spark, statePath)
      },
      registerMachines = ids => {
        graft.sources.UiReferenceStore.ensureMachines(spark, statePath, ids, nowEpochS = 1); ()
      })
    input.addData(payload("s/a/l/m1", "d"))
    query.processAllAvailable()
    // m1 unchanged (suppressed against the snapshot), m2 first seen
    input.addData(payload("s/a/l/m1", "d"), payload("s/a/l/m2", "u"))
    query.processAllAvailable()
    input.addData(payload("s/a/l/m2", "u"))
    query.processAllAvailable()
    query.stop()
    assert(batches == 3)
    assert(stateReads.get() == batches, s"loadState called ${stateReads.get()} times over $batches batches")
    assert(merged.map(u => u.machineId -> u.machineStatus).toSeq ==
      Seq("s/a/l/m1" -> "DOWN", "s/a/l/m2" -> "UP"))
    val ids = graft.sources.UiReferenceStore.read(spark, statePath).select("machineId").as[String].collect()
    assert(ids.sorted.toSeq == Seq("s/a/l/m1", "s/a/l/m2"))
  }

  test("TTL compaction retains only unexpired rows") {
    val rt = Seq(("STATUS_m", 100L, "UP", 1000L), ("STATUS_m", 200L, "DOWN", 2000L))
      .toDF("id", "messageTimestamp", "value", "expirationTimestamp")
    assert(IngestPipeline.compactExpired(rt, nowEpochS = 1500).count() == 1)
  }
}
