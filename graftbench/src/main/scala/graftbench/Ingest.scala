package graftbench

import graft.model.MessageFormatConfig
import graft.sources.{KinesisShapedSource, KinesisSource, RealTimeStore, UiReferenceStore}
import graft.streaming.IngestPipeline
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared ingest fixtures: machine configs and the real-time table. */
object Fleet {
  val Formats: Seq[MessageFormatConfig] = Seq(MessageFormatConfig(id = "DEFAULT"))

  def machineConfigs(spark: SparkSession, machines: Int): DataFrame = {
    import spark.implicits._
    (0 until machines).map(m => (Gen.machineId(m), "status", "count", "u", "d", "i"))
      .toDF("machineId", "statusTag", "productionCountTag",
        "statusUpValues", "statusDownValues", "statusIdleValues")
  }

  /** Create the empty bucketed real-time table the appends go into. */
  def createRealTimeTable(spark: SparkSession, table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val empty = spark.range(0).select(lit("").as("id"), lit(0L).as("messageTimestamp"),
      lit("").as("value"), lit(0L).as("expirationTimestamp"))
    RealTimeStore.write(empty, table)
  }

  def tableDir(spark: SparkSession, table: String): String =
    new java.net.URI(spark.sessionState.catalog.defaultTablePath(
      org.apache.spark.sql.catalyst.TableIdentifier(table)).toString).getPath

  /** Expected final UI-reference status per machine: the last status
   * by (epoch second, status), computed without Spark. */
  def lastStatus(evs: Iterator[(Gen.Event, Long)]): Map[String, String] = {
    val best = scala.collection.mutable.Map.empty[String, (Long, String)]
    evs.foreach { case (e, shiftUs) =>
      val key = (Math.floorDiv(e.tsUs + shiftUs, 1000000L), Gen.decodedStatus(e.eventType))
      val mid = Gen.machineId(e.machine)
      best.get(mid) match {
        case Some(cur) if Ordering[(Long, String)].gteq(cur, key) =>
        case _ => best(mid) = key
      }
    }
    best.map { case (m, (_, s)) => m -> s }.toMap
  }
}

/**
 * `ingest`: envelopes of 10 events (each a status and a production-count
 * tag message) go into a Kinesis-shaped stream and through
 * IngestPipeline.runIngest, 100 envelopes per micro-batch, in a closed
 * loop: put one batch, wait until it is processed, put the next. When
 * the generated events run out they are replayed shifted by 30 days.
 */
object Ingest {
  val EnvelopeEvents = 10

  def run(spark: SparkSession, a: Args, rec: Recorder, sizes: Sizes): Unit = {
    val tr = rec.tracer
    val batchEnvelopes = sizes.ingestBatchEnvelopes
    var evs: Array[Gen.Event] = null
    val prep = (1 to sizes.setupReps).map { _ =>
      rec.seconds { evs = Gen.events(a.seed, sizes.events, sizes.machines) }
    }
    val perPass = evs.length / (EnvelopeEvents * batchEnvelopes)
    require(perPass >= 1, "fewer events than one batch")
    def batchEvents(b: Int): (Seq[Gen.Event], Long) = {
      val from = (b % perPass) * EnvelopeEvents * batchEnvelopes
      (evs.slice(from, from + EnvelopeEvents * batchEnvelopes).toSeq, (b / perPass) * Gen.PassShiftUs)
    }

    val table = "rt_ingest"
    val statePath = s"${a.work}/ui_state"
    val stream = s"graftbench-ingest-${a.seed}"
    val machineConfigs = Fleet.machineConfigs(spark, sizes.machines).cache()
    var q: org.apache.spark.sql.streaming.StreamingQuery = null
    val startQuery = rec.seconds {
      Fleet.createRealTimeTable(spark, table)
      machineConfigs.count()
      KinesisShapedSource.createStream(stream, 4)
      val envelopes = KinesisSource.toEnvelope(
        spark.readStream.format("kinesis-shaped").option("streamName", stream).load())
      val nowS = Gen.StartUs / 1000000L
      q = IngestPipeline.runIngest(envelopes, "payload",
        loadConfigs = () => (Fleet.Formats, machineConfigs),
        appendFacts = df => tr.span("sources.append")(RealTimeStore.append(df, table)),
        mergeStatuses = ds => tr.span("sources.merge")(UiReferenceStore.merge(spark, statePath, ds)),
        loadState = () => tr.span("sources.load_state")(UiReferenceStore.read(spark, statePath)),
        registerMachines = ids =>
          tr.span("sources.register") { UiReferenceStore.ensureMachines(spark, statePath, ids, nowS); () }
      )(spark)
    }
    val tableDir = Fleet.tableDir(spark, table)

    var batches = 0
    def records(b: Int): Seq[(String, Array[Byte])] = {
      val (es, shift) = batchEvents(b)
      es.grouped(EnvelopeEvents).zipWithIndex.map { case (g, i) =>
        (s"pk-${(b * batchEnvelopes + i) % 64}", Gen.envelope(g, shift))
      }.toSeq
    }
    def putAndWait(b: Int, recs: Seq[(String, Array[Byte])]): Unit = {
      KinesisShapedSource.putRecords(stream, recs, Gen.StartUs + b)
      q.processAllAvailable()
    }

    val warm = rec.seconds {
      (0 until sizes.ingestWarmupBatches).foreach { _ => putAndWait(batches, records(batches)); batches += 1 }
    }
    rec.info("setup") = Map("prep_s" -> prep, "start_query_s" -> startQuery, "warmup_s" -> warm)

    val t0 = rec.startTimed()
    val deadline = t0 + (a.seconds * 1e9).toLong
    var timedBatches = 0
    while (System.nanoTime() < deadline) {
      val b = batches
      val recs = records(b)
      val before = if (tr.enabled) Fs.usage(tableDir) -> Fs.usage(statePath) else null
      rec.op("batch")(putAndWait(b, recs))(_ => None)
      batches += 1
      timedBatches += 1
      if (tr.enabled) traceBatch(spark, rec, recs, machineConfigs, before, tableDir, statePath)
    }
    val wall = (System.nanoTime() - t0) / 1e9
    rec.endTimed()
    q.stop()
    KinesisShapedSource.deleteStream(stream)

    val eventsPerBatch = EnvelopeEvents * batchEnvelopes
    val ingested = batches.toLong * eventsPerBatch
    val (rtFiles, rtBytes) = Fs.usage(tableDir)
    val (stFiles, stBytes) = Fs.usage(statePath)
    rec.info("ingest") = Map("timed_wall_s" -> wall, "timed_batches" -> timedBatches,
      "events_per_batch" -> eventsPerBatch, "events_timed" -> timedBatches.toLong * eventsPerBatch,
      "events_ingested" -> ingested, "store_files" -> (rtFiles + stFiles),
      "store_bytes" -> (rtBytes + stBytes))

    val rows = spark.table(table).count()
    rec.check("store rows = 2 x events ingested", rows == 2 * ingested,
      s"rows=$rows events=$ingested")
    val expected = Fleet.lastStatus((0 until batches).iterator.flatMap { b =>
      val (es, shift) = batchEvents(b)
      es.iterator.map(_ -> shift)
    })
    val state = UiReferenceStore.read(spark, statePath)
      .filter(col("machineStatus").isNotNull)
      .select(col("machineId"), col("machineStatus")).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val diff = (expected.keySet ++ state.keySet).count(k => expected.get(k) != state.get(k))
    rec.check("UI-reference state = last status per machine", diff == 0,
      s"machines=${expected.size} differing=$diff")
  }

  /** Traced-run extras for one batch: the parse layer re-run on the
   * same envelopes (time, messages out, rejects) and the files and
   * bytes the batch added to the store. */
  private def traceBatch(spark: SparkSession, rec: Recorder, recs: Seq[(String, Array[Byte])],
      machineConfigs: DataFrame, before: ((Long, Long), (Long, Long)),
      tableDir: String, statePath: String): Unit = {
    import spark.implicits._
    val tr = rec.tracer
    val (rt1, st1) = (Fs.usage(tableDir), Fs.usage(statePath))
    tr.count("sources.files_written", (rt1._1 - before._1._1) + (st1._1 - before._2._1))
    tr.count("sources.bytes_written", (rt1._2 - before._1._2) + (st1._2 - before._2._2))
    val payloads = recs.map { case (_, d) => java.util.Base64.getEncoder.encodeToString(d) }
      .toDF("payload").repartition(4).cache()
    payloads.count()
    val t0 = System.nanoTime()
    val out = IngestPipeline.parseBatch(payloads, "payload", Fleet.Formats, machineConfigs).count()
    tr.count("parse.batch_ms", (System.nanoTime() - t0) / 1e6)
    tr.count("parse.msgs_out", out.toDouble)
    val rejects = graft.parse.MessageParser.rejects(
      payloads.select(graft.parse.MessageParser.decodeBase64(col("payload")).as("json")),
      col("json"), Fleet.Formats).count()
    tr.count("parse.rejects", rejects.toDouble)
    payloads.unpersist()
  }
}
