package graftbench

import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import graft.api.Facade
import graft.functions.GlobalRank
import graft.query.{Dimensions, Downtime, Kpi, Rollups}
import graft.sources.{RealTimeStore, Tables, UiReferenceStore}
import graft.streaming.IngestPipeline
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/**
 * `dashboard`: one closed-loop client over a store that set-up builds
 * through the ingest write path (parse → RealTimeStore.append, one
 * append per chunk of events). The client repeats a fixed cycle:
 * twice mount a machine's 12-hour detail view and refresh it 60 s
 * later (detail ops), then one overview op, rotating `availability` (line
 * availability + machines by line over the UI-reference state),
 * `pareto` (downtime Pareto) and `oee` (both over telemetry). Machines
 * and window ends are drawn from the seed.
 */
object Dashboard {
  private val LookbackS = 12 * 3600L
  private val Chunks = 720
  private val WarmupDetails = 4
  private val DetailsPerCycle = 2

  def run(spark: SparkSession, a: Args, rec: Recorder, sizes: Sizes): Unit = {
    import spark.implicits._
    val dataDir = s"${a.work}/data"
    val table = "rt_dashboard"
    val statePath = s"${a.work}/ui_state"
    val machineConfigs = Fleet.machineConfigs(spark, sizes.machines).cache()
    machineConfigs.count()

    val evs = Gen.events(a.seed, sizes.events, sizes.machines)
    val prep = Seq(rec.seconds {
      evs.toSeq.map(e => (e.id, Gen.localTs(e.tsUs), e.machine.toLong, e.eventType, e.value,
          s"""{"k": ${e.id % 100}}"""))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .repartition(1).write.parquet(s"$dataDir/events.parquet")
      Fleet.createRealTimeTable(spark, table)
      val chunk = math.ceil(evs.length.toDouble / sizes.dashboardAppends).toInt
      evs.grouped(chunk).foreach { part =>
        val payloads = part.grouped(Ingest.EnvelopeEvents)
          .map(g => java.util.Base64.getEncoder.encodeToString(Gen.envelope(g.toSeq, 0L)))
          .toSeq.toDF("payload").repartition(4)
        RealTimeStore.append(graft.parse.MessageParser.toRealTime(
          IngestPipeline.parseBatch(payloads, "payload", Fleet.Formats, machineConfigs)), table)
      }
      val last = Fleet.lastStatus(evs.iterator.map(_ -> 0L))
      val lastTs = evs.groupBy(e => Gen.machineId(e.machine)).map { case (m, es) =>
        m -> es.map(_.tsUs / 1000000L).max
      }
      UiReferenceStore.merge(spark, statePath, last.toSeq.map { case (m, s) =>
        IngestPipeline.StatusUpdate(m, s, lastTs(m))
      }.toDS())
    })

    val rt = RealTimeStore.read(spark, table)
    val telemetry = Tables.telemetry(spark, dataDir)
    val status = telemetry.select(col("machineId").as("id"), lit("status").as("tag"),
      col("status").as("value"), col("quality"), col("timestamp"), col("event_id"))
    val fleet = sizes.machines.toLong

    def availability(): (Array[Row], Array[Row]) = {
      val ui = UiReferenceStore.read(spark, statePath)
      val machines = ui.select(col("machineId").as("id"), col("machineStatus"),
        Dimensions.tokensAt(col("machineId"), "/", "0/1").as("locationId"),
        Dimensions.tokensAt(col("machineId"), "/", "2").as("lineId"))
      (Rollups.lineAvailability(machines).collect(),
        Rollups.machinesByLine(machines.select(col("locationId"), col("lineId"), col("id"))).collect())
    }
    def pareto(): Array[Row] =
      try Kpi.downtimePareto(Downtime.durations(status)).collect()
      finally GlobalRank.releaseStaged()
    def oee(): Array[Row] = Kpi.oee(telemetry).collect()

    def checkAvailability(r: (Array[Row], Array[Row])): Option[String] = {
      val total = r._1.map(_.getAs[Long]("total_machines")).sum
      val byLine = r._2.map(_.getAs[Long]("machine_count")).sum
      if (total == fleet && byLine == fleet) None
      else Some(s"machine counts $total / $byLine, fleet $fleet")
    }
    // the pareto and OEE answers cannot change while the store is
    // static: every timed result must equal the warm-up result
    lazy val paretoRef = Rows.digest(pareto())
    lazy val oeeRef = Rows.digest(oee())
    def sameAs(ref: String, what: String)(rows: Array[Row]): Option[String] =
      if (rows.nonEmpty && Rows.digest(rows) == ref) None else Some(s"$what differs from warm-up result")

    val r = new SplittableRandom(a.seed ^ 0x5eedL)
    val firstEnd = (Gen.StartUs / 1000000L) + LookbackS
    val lastEnd = (Gen.StartUs + Gen.SpanUs) / 1000000L
    def detail(): Unit = {
      val mid = Gen.machineId(r.nextInt(sizes.machines))
      val end = (firstEnd + (r.nextDouble() * (lastEnd - firstEnd)).toLong) / 60 * 60
      rec.op("detail") {
        Facade.getRealTimeMachineData(rt, mid, end - LookbackS, end, incrementalRefresh = false).collect()
      }(rows => if (rows.length == Chunks) None else Some(s"mount returned ${rows.length} chunks"))
        .foreach { prior =>
          // the client-held chunks of the mount, as the refresh receives them
          val priorDf = spark.createDataFrame(prior.toSeq.asJava, prior.head.schema)
          rec.op("refresh") {
            Facade.refreshRealTimeMachineData(rt, mid, priorDf, lastChunkTimestamp = end,
              endTimestamp = end + 60, lookbackHours = 12).collect()
          }(rows => if (rows.length == Chunks) None else Some(s"refresh returned ${rows.length} chunks"))
        }
    }
    val overviews: Seq[() => Unit] = Seq(
      () => rec.op("availability")(availability())(checkAvailability),
      () => rec.op("pareto")(pareto())(sameAs(paretoRef, "pareto")),
      () => rec.op("oee")(oee())(sameAs(oeeRef, "oee")))

    val warm = rec.seconds {
      availability(); paretoRef; oeeRef
      (1 to WarmupDetails).foreach { _ =>
        val mid = Gen.machineId(r.nextInt(sizes.machines))
        val prior = Facade.getRealTimeMachineData(rt, mid, firstEnd - LookbackS, firstEnd, false).collect()
        Facade.refreshRealTimeMachineData(rt, mid, spark.createDataFrame(prior.toSeq.asJava,
          prior.head.schema), firstEnd, firstEnd + 60, 12).collect()
      }
    }
    val (files, bytes) = Fs.usage(Fleet.tableDir(spark, table))
    rec.info("setup") = Map("prep_s" -> prep, "warmup_s" -> warm)
    rec.info("store") = Map("appends" -> sizes.dashboardAppends, "files" -> files, "bytes" -> bytes,
      "events" -> evs.length)
    rec.tracer.count("sources.files_written", files.toDouble / sizes.dashboardAppends)
    rec.tracer.count("sources.bytes_written", bytes.toDouble / sizes.dashboardAppends)

    // the cycle: two mount + refresh pairs, then the next overview op
    // in rotation; at least one full rotation, so every op kind runs
    val t0 = rec.startTimed()
    val deadline = t0 + (a.seconds * 1e9).toLong
    var cycle = 0
    def more = cycle < overviews.size || System.nanoTime() < deadline
    while (more) {
      (1 to DetailsPerCycle).foreach(_ => if (more) detail())
      if (more) overviews(cycle % overviews.size)()
      cycle += 1
    }
    rec.endTimed()
    rec.info("dashboard") = Map("timed_wall_s" -> (System.nanoTime() - t0) / 1e9,
      "details_per_cycle" -> DetailsPerCycle)
  }
}
