package graftbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.SparkSession

final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
    work: String, out: String, smoke: Boolean, fault: String)

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m.getOrElse("seed", "1").toLong, m.getOrElse("seconds", "10").toDouble,
      m.getOrElse("trace", "0") == "1", m("work"), m("out"),
      m.getOrElse("smoke", "0") == "1", m.getOrElse("fault", "none"))
  }
}

/** The pinned session every workload runs in, one per JVM. */
object Session {
  val ExcludedRulesKey = "spark.sql.optimizer.excludedRules"

  def build(work: String): SparkSession = {
    val s = SparkSession.builder()
      .appName("graftbench")
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.maxPlanStringLength", "8388608")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")
      // Spark's status store keeps the last N jobs/stages/tasks/queries
      // in the heap; small fixed caps keep that out of heap_peak_mb
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "20")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def excludedRules(spark: SparkSession): String =
    spark.conf.getOption(ExcludedRulesKey).getOrElse("")
}

/** Old-generation occupancy after GC: the peak over every GC of the
 * timed phase (from GC notifications) and a sample after a full GC. */
object Heap {
  private val oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala.find { p =>
    p.getType == MemoryType.HEAP && Seq("Old", "Tenured").exists(p.getName.contains)
  }
  private def mb(bytes: Long): Double = bytes / 1048576.0

  @volatile private var watchFromMs = Long.MaxValue
  @volatile private var watchToMs = Long.MaxValue
  private val watched = ArrayBuffer.empty[Double] // old-generation MB after each watched GC

  // every collector (young, mixed, full) reports the pools after it ran
  private val onGc = new NotificationListener {
    override def handleNotification(n: Notification, handback: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val gc = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData]).getGcInfo
        if (gc.getStartTime >= watchFromMs && gc.getStartTime <= watchToMs)
          oldGen.flatMap(p => Option(gc.getMemoryUsageAfterGc.get(p.getName)))
            .foreach(u => watched.synchronized { watched += mb(u.getUsed) })
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(onGc, null, null)
    case _ =>
  }

  private def uptimeMs = ManagementFactory.getRuntimeMXBean.getUptime

  /** Watch every GC that starts from now until [[stopWatching]]. */
  def watchFromNow(): Unit = {
    watchToMs = Long.MaxValue
    watchFromMs = uptimeMs
  }

  def stopWatching(): Unit = watchToMs = uptimeMs

  /** Old-generation MB after each watched GC, in order. */
  def afterWatchedGcs(): Seq[Double] = watched.synchronized(watched.toSeq)

  /** Collect twice, the second time after Spark's cleaner has released
   * the broadcasts, shuffles and blocks the first found unreachable;
   * returns the old generation's occupancy in MB. */
  def fullGcMb(): Double = {
    System.gc()
    Thread.sleep(1000)
    System.gc()
    oldGen.flatMap(p => Option(p.getCollectionUsage)).map(u => mb(u.getUsed)).getOrElse(0.0)
  }

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
}

object Rows {
  /** SHA-256 of the rows' string forms, order-insensitive. */
  def digest(rows: Array[org.apache.spark.sql.Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach(s => md.update((s + "\n").getBytes("UTF-8")))
    md.digest().map(b => f"$b%02x").mkString
  }
}

object Fs {
  /** (regular files, bytes) under `dir`; (0, 0) when absent. */
  def usage(dir: String): (Long, Long) = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try {
        s.iterator().asScala.filter(Files.isRegularFile(_)).foldLeft((0L, 0L)) {
          case ((n, b), f) => (n + 1, b + Files.size(f))
        }
      } finally s.close()
    }
  }

  def deleteRecursively(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach((f: Path) => Files.delete(f))
      finally s.close()
    }
  }
}

/**
 * Everything one run records: timed operations (each with its outcome),
 * set-up timings, output checks and named values. Written once, as JSON,
 * when the run ends.
 */
final class Recorder(args: Args, val tracer: Tracer) {
  private val origin = System.nanoTime()
  private val ops = ArrayBuffer.empty[Map[String, Any]]
  private val checks = ArrayBuffer.empty[Map[String, Any]]
  val info: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty
  private var nextId = 0

  /**
   * One timed operation: `body` is timed, `check` inspects its result
   * afterwards (untimed) and returns a mismatch description. An
   * operation that throws or mismatches counts as failed. `--fault`
   * makes the first timed operation throw or mismatch, so the failure
   * accounting can be exercised end to end.
   */
  def op[T](kind: String)(body: => T)(check: T => Option[String]): Option[T] = {
    val id = s"$kind#$nextId"
    val first = nextId == 0
    nextId += 1
    tracer.beginOp(id)
    val t0 = System.nanoTime()
    val res =
      try {
        if (first && args.fault == "throw") throw new IllegalStateException("injected fault")
        Right(body)
      } catch { case NonFatal(e) => Left(e) }
    val t1 = System.nanoTime()
    tracer.endOp(id, t0, t1)
    val error = res match {
      case Left(e) => Some(s"threw ${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}")
      case Right(v) =>
        if (first && args.fault == "mismatch") Some("injected mismatch")
        else try check(v) catch { case NonFatal(e) => Some(s"check threw ${e.getMessage}") }
    }
    ops += Map("kind" -> kind, "id" -> id, "start_ms" -> (t0 - origin) / 1e6,
      "ms" -> (t1 - t0) / 1e6, "ok" -> error.isEmpty, "error" -> error.orNull,
      "rows" -> res.map(rowsOut).getOrElse(0L))
    res.toOption.filter(_ => error.isEmpty)
  }

  /** Rows an operation handed back: collected arrays, summed over
   * tuples of them. */
  private def rowsOut(v: Any): Long = v match {
    case a: Array[_] => a.length.toLong
    case p: Product => p.productIterator.map(rowsOut).sum
    case _ => 0L
  }

  /** Ends set-up: records the JVM uptime (set-up time runs from JVM
   * start to here), collects set-up's garbage so the timed phase starts
   * from a clean heap, starts watching the heap peak and returns the
   * start of the timed phase. */
  def startTimed(): Long = {
    info("timed_start_s") =
      java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    Heap.fullGcMb()
    Heap.watchFromNow()
    System.nanoTime()
  }

  /** Ends the timed phase (end-of-run checks follow it). */
  def endTimed(): Unit = {
    Heap.stopWatching()
    info("timed_end_s") =
      java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
  }

  /** Seconds taken by `body` (set-up steps; not an operation). */
  def seconds(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  def check(name: String, ok: Boolean, detail: String): Unit =
    checks += Map("name" -> name, "ok" -> ok, "detail" -> detail)

  def write(path: String): Unit = {
    val out = mutable.LinkedHashMap[String, Any]("ops" -> ops.toSeq, "checks" -> checks.toSeq)
    out ++= info
    if (tracer.enabled) out("trace") = tracer.dump()
    Files.writeString(Paths.get(path),
      new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(out))
  }
}
