package graftbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.graftbench.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.execution.{QueryExecution, SparkPlanInfo}
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates, SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/**
 * The traced run's recorder. Spans are timed around calls into the
 * engine's modules from the benchmark's own code; Spark's public
 * listeners (SparkListener, QueryExecutionListener,
 * StreamingQueryListener) add per-job, per-task, per-query and
 * per-micro-batch counters. Every record carries the id of the
 * operation that was current when it happened; the listener bus is
 * drained before the operation changes. Everything stays in memory
 * until [[dump]]. A disabled tracer records nothing and registers no
 * listener.
 */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  @volatile private var currentOp = "setup"
  @volatile private var opSpan = -1
  private var nextSpan = 0
  private val spans = ArrayBuffer.empty[Map[String, Any]]
  private val counts = ArrayBuffer.empty[Map[String, Any]]
  private val parents = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }

  // listener counters, keyed by operation id
  private val stageOp = mutable.Map.empty[Int, String]
  private val jobs = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private val tasks = mutable.Map.empty[String, Array[Double]]
  private val queries = ArrayBuffer.empty[Map[String, Any]]
  private val progress = ArrayBuffer.empty[Map[String, Any]]
  // file scans: accumulator ids of every file-scan node's "number of
  // files read" and "number of output rows" metric, from each plan
  // Spark announces for a SQL execution (the initial one and every
  // adaptive re-plan), and the files and rows they counted per op.
  // Independent of the final plan's shape: adaptive execution may drop
  // a scan whose stage came out empty from the final plan.
  private val fileCountIds = mutable.Set.empty[Long]
  private val scanRowIds = mutable.Set.empty[Long]
  private val scans = mutable.Map.empty[String, Array[Double]]

  private def newSpanId(): Int = synchronized { nextSpan += 1; nextSpan }

  private def record(id: Int, name: String, t0: Long, t1: Long, parent: Int): Unit =
    synchronized {
      spans += Map("id" -> id, "name" -> name, "start_ns" -> t0, "end_ns" -> t1,
        "parent" -> parent, "op" -> currentOp)
    }

  def beginOp(id: String): Unit = if (enabled) {
    drain()
    currentOp = id
    opSpan = newSpanId()
  }

  def endOp(id: String, t0: Long, t1: Long): Unit = if (enabled) {
    drain()
    record(opSpan, "op." + id.takeWhile(_ != '#'), t0, t1, -1)
    currentOp = "idle"
    opSpan = -1
  }

  /** A span around `body`; its parent is the enclosing span on this
   * thread, or the current operation's span. */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = newSpanId()
      val stack = parents.get()
      val parent = stack.headOption.getOrElse(opSpan)
      parents.set(id :: stack)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        parents.set(stack)
        record(id, name, t0, t1, parent)
      }
    }

  /** Record a named count against the current operation. */
  def count(name: String, value: Double): Unit = if (enabled) synchronized {
    counts += Map("name" -> name, "value" -> value, "op" -> currentOp)
  }

  private def drain(): Unit = ListenerBusAccess.drain(spark.sparkContext)

  private def noteScans(plan: SparkPlanInfo): Unit = synchronized {
    def walk(p: SparkPlanInfo): Unit = {
      val byName = p.metrics.map(m => m.name -> m.accumulatorId).toMap
      byName.get("number of files read").foreach { files =>
        fileCountIds += files
        byName.get("number of output rows").foreach(scanRowIds += _)
      }
      p.children.foreach(walk)
    }
    walk(plan)
  }

  private def addScan(op: String, i: Int, v: Long): Unit =
    scans.getOrElseUpdate(op, new Array[Double](2))(i) += v

  private def exprNodes(plan: QueryPlan[_]): Long = {
    var n = 0L
    plan.foreach(node => node.asInstanceOf[QueryPlan[_]].expressions.foreach(_.foreach(_ => n += 1)))
    n
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
        val op = currentOp
        jobs(op) += 1
        e.stageIds.foreach(s => stageOp(s) = op)
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
        val op = stageOp.getOrElse(e.stageId, currentOp)
        e.taskInfo.accumulables.foreach { acc =>
          if (scanRowIds(acc.id)) acc.update.foreach(v => addScan(op, 1, v.asInstanceOf[Long]))
        }
        // tasks, max task ms, sum task ms, shuffle write bytes, spill bytes, task GC ms
        val a = tasks.getOrElseUpdate(op, new Array[Double](6))
        val ms = e.taskInfo.duration.toDouble
        a(0) += 1
        a(1) = math.max(a(1), ms)
        a(2) += ms
        Option(e.taskMetrics).foreach { m =>
          a(3) += m.shuffleWriteMetrics.bytesWritten
          a(4) += m.memoryBytesSpilled + m.diskBytesSpilled
          a(5) += m.jvmGCTime
        }
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => noteScans(s.sparkPlanInfo)
        case u: SparkListenerSQLAdaptiveExecutionUpdate => noteScans(u.sparkPlanInfo)
        // a file scan posts its file count from the driver
        case d: SparkListenerDriverAccumUpdates => Tracer.this.synchronized {
          d.accumUpdates.foreach { case (id, v) => if (fileCountIds(id)) addScan(currentOp, 0, v) }
        }
        case _ =>
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        val planMs = qe.tracker.phases.values.map(_.durationMs).sum
        val row = Map[String, Any]("op" -> currentOp, "func" -> funcName,
          "plan_ms" -> planMs, "exec_ms" -> durationNs / 1e6,
          "analyzed_expr" -> exprNodes(qe.analyzed), "optimized_expr" -> exprNodes(qe.optimizedPlan))
        Tracer.this.synchronized { queries += row }
      }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    })
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val d = e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue() }.toMap
        val row = Map[String, Any]("op" -> currentOp, "batch" -> e.progress.batchId,
          "rows" -> e.progress.numInputRows, "duration_ms" -> d)
        Tracer.this.synchronized { progress += row }
      }
    })
  }

  def dump(): Map[String, Any] = {
    drain()
    synchronized {
      Map("spans" -> spans.toSeq, "counts" -> counts.toSeq, "jobs" -> jobs.toMap,
        "queries" -> queries.toSeq, "progress" -> progress.toSeq,
        "scans" -> scans.map { case (op, a) => op -> Map("files" -> a(0), "rows" -> a(1)) }.toMap,
        "tasks" -> tasks.map { case (op, a) =>
          op -> Map("tasks" -> a(0), "max_task_ms" -> a(1), "sum_task_ms" -> a(2),
            "shuffle_bytes" -> a(3), "spill_bytes" -> a(4), "task_gc_ms" -> a(5))
        }.toMap)
    }
  }
}
