package graftbench

import org.apache.spark.sql.SparkSession

/** Input sizes of one scale: `full` is the benchmark, `smoke` a tiny
 * run of every workload with all output checks. */
final case class Sizes(events: Int, machines: Int, documents: Int,
    warmupDocuments: Int, ingestBatchEnvelopes: Int, ingestWarmupBatches: Int,
    dashboardAppends: Int, setupReps: Int)

object Sizes {
  val Full: Sizes = Sizes(events = 100000, machines = 1500,
    documents = 600, warmupDocuments = 60, ingestBatchEnvelopes = 100,
    ingestWarmupBatches = 4, dashboardAppends = 5, setupReps = 3)
  val Smoke: Sizes = Sizes(events = 2000, machines = 60,
    documents = 200, warmupDocuments = 50, ingestBatchEnvelopes = 10,
    ingestWarmupBatches = 2, dashboardAppends = 4, setupReps = 1)
}

/**
 * One workload in this JVM: `--workload ingest|dashboard|corpus|train
 * --seed N --seconds S --trace 0|1 --work DIR --out FILE [--smoke 1]
 * [--fault throw|mismatch]`. Writes the run record (operations with
 * outcomes, checks, set-up timings, environment, and with `--trace 1`
 * spans and listener counters) to `--out`; the metrics are derived
 * from it by `run.py`.
 */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val sizes = if (a.smoke) Sizes.Smoke else Sizes.Full
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = Session.build(a.work)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val tracer = new Tracer(spark, a.trace)
    val rec = new Recorder(a, tracer)
    val rulesAtStart = Session.excludedRules(spark)
    val gc0 = Heap.gcMs()
    def uptimeS = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    try {
      a.workload match {
        case "ingest" => Ingest.run(spark, a, rec, sizes)
        case "dashboard" => Dashboard.run(spark, a, rec, sizes)
        case "corpus" => Corpus.run(spark, a, rec, sizes)
        // every workload once, small: the class-loading training run
        // whose archived classes later JVMs share (see run.py)
        case "train" =>
          Ingest.run(spark, a, rec, sizes)
          Dashboard.run(spark, a, rec, sizes)
          Corpus.run(spark, a, rec, sizes)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
    } finally {
      val workloadEndS = uptimeS
      rec.info("env") = env(spark, a, sizes, rulesAtStart)
      // the heap peak: the largest old-generation occupancy after any
      // GC of the timed phase, or after the final full GC if that is
      // larger (a short timed phase may see no GC at all)
      val retainedMb = Heap.fullGcMb()
      val timedGcs = Heap.afterWatchedGcs()
      rec.info("jvm") = Map("session_s" -> sessionS, "gc_ms" -> (Heap.gcMs() - gc0),
        "heap_peak_mb" -> (timedGcs :+ retainedMb).max, "heap_retained_mb" -> retainedMb,
        "old_gen_after_timed_gcs_mb" -> timedGcs, "workload_end_s" -> workloadEndS,
        "record_s" -> uptimeS)
      rec.write(a.out)
      spark.stop()
    }
  }

  private def vmOption(name: String): String =
    try java.lang.management.ManagementFactory
      .getPlatformMXBean(classOf[com.sun.management.HotSpotDiagnosticMXBean]).getVMOption(name).getValue
    catch { case _: IllegalArgumentException => "" }

  private def env(spark: SparkSession, a: Args, sizes: Sizes, rulesAtStart: String): Map[String, Any] =
    Map(
      "spark_version" -> org.apache.spark.SPARK_VERSION,
      "spark_revision" -> org.apache.spark.SPARK_REVISION,
      "spark_build_date" -> org.apache.spark.SPARK_BUILD_DATE,
      "java_version" -> System.getProperty("java.version"),
      "master" -> spark.sparkContext.master,
      "cores" -> Runtime.getRuntime.availableProcessors(),
      "heap_max_mb" -> Runtime.getRuntime.maxMemory() / 1048576,
      "class_archive" -> vmOption("SharedArchiveFile"),
      "class_sharing" -> vmOption("UseSharedSpaces"),
      "seed" -> a.seed, "seconds" -> a.seconds, "trace" -> a.trace, "smoke" -> a.smoke,
      "sizes" -> sizes.productElementNames.zip(sizes.productIterator).toMap,
      "excluded_rules_start" -> rulesAtStart,
      "excluded_rules_end" -> Session.excludedRules(spark),
      "session_conf" -> Seq("spark.sql.shuffle.partitions", "spark.sql.session.timeZone",
        "spark.sql.ansi.enabled", "spark.sql.legacy.parquet.nanosAsLong")
        .map(k => k -> spark.conf.get(k)).toMap)
}
