package graft.sources

import graft.streaming.IngestPipeline.StatusUpdate
import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Reference-state table (UIReferenceTable analogue,
 * appsync-api-construct.ts:41-49) with an IDEMPOTENT merge — SURVEY
 * §7.4 hard part 4: exactly-once upsert of change-suppressed status
 * updates across retried micro-batches.
 *
 * Row shape mirrors the reference's UI-reference item:
 * (machineId, type, name, machineStatus, machineStatusUpdatedTimestamp).
 * First-sight machines get a MACHINE row with null name/status
 * (filter-kinesis-stream/index.ts:154-163 — the item is created with
 * id+type only); `name` is set later via [[upsertName]] (the
 * updateMachineName mutation path).
 *
 * Merge key is (machineId); the winning status per key is the one with
 * the greatest (machineStatusUpdatedTimestamp, machineStatus) among
 * status-bearing rows — so replaying a batch (foreachBatch retry) or
 * merging the same update twice is a no-op, out-of-order merges
 * converge, and a real status always beats a first-sight placeholder.
 * Implemented as read→union→keep-latest→overwrite on parquet; on a
 * transactional table format the same keep-latest rule becomes the
 * MERGE condition.
 */
object UiReferenceStore {

  private val MachineType = "MACHINE"

  private def emptyState(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(String, String, String, String, Long)]
      .toDF("machineId", "type", "name", "machineStatus", "machineStatusUpdatedTimestamp")
  }

  /** Filesystem handle through the Hadoop API so paths work on any
   * supported scheme (file://, hdfs://, s3a://), not just local disk. */
  private def fs(spark: SparkSession, path: String) = {
    val p = new org.apache.hadoop.fs.Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  def read(spark: SparkSession, path: String): DataFrame = {
    val (f, p) = fs(spark, path)
    if (f.exists(p)) {
      // align older stores that predate the type/name columns
      val df = spark.read.parquet(path)
      Seq("type" -> lit(MachineType), "name" -> lit(null).cast("string"))
        .foldLeft(df) { case (d, (c, v)) =>
          if (d.columns.contains(c)) d else d.withColumn(c, v) }
        .select(col("machineId"), col("type"), col("name"),
          col("machineStatus"), col("machineStatusUpdatedTimestamp"))
    } else emptyState(spark)
  }

  /** Keep-latest-per-machine of the full row set. Status-bearing rows
   * always beat null-status placeholders; names survive merges (only
   * [[upsertName]] writes them, so max() picks the one non-null). */
  private def keepLatest(rows: DataFrame): DataFrame =
    rows.groupBy(col("machineId"))
      .agg(
        max_by(
          struct(col("machineStatus"), col("machineStatusUpdatedTimestamp")),
          struct(
            when(col("machineStatus").isNotNull, col("machineStatusUpdatedTimestamp"))
              .otherwise(lit(Long.MinValue)),
            coalesce(col("machineStatus"), lit("")))).as("_s"),
        max(col("name")).as("name"))
      .select(col("machineId"), lit(MachineType).as("type"), col("name"),
        col("_s.machineStatus"), col("_s.machineStatusUpdatedTimestamp"))

  /** Idempotent keep-latest merge of status updates into the store. */
  def merge(spark: SparkSession, path: String, updates: Dataset[StatusUpdate]): Unit = {
    val incoming = updates.toDF()
      .select(col("machineId"), lit(MachineType).as("type"),
        lit(null).cast("string").as("name"),
        col("machineStatus"), col("machineStatusUpdatedTimestamp"))
    writeState(spark, path, keepLatest(read(spark, path).unionByName(incoming)))
  }

  /**
   * First-sight machine registration (index.ts:154-163): append a
   * MACHINE row with null name/status for every machineId not yet in
   * the store. Returns the ids actually created (for pairing with the
   * config-table autocreate). Idempotent — re-registering is a no-op.
   */
  def ensureMachines(spark: SparkSession, path: String, machineIds: DataFrame,
      nowEpochS: Long): Seq[String] = {
    val state = read(spark, path)
    val fresh = machineIds.select(col("machineId")).distinct()
      .join(state.select(col("machineId")), Seq("machineId"), "left_anti")
    // Driver-side collect is bounded by NEW machines in this batch —
    // near-zero in steady state. The one unbounded case is the very
    // first batch of a huge fleet (every machine is new); ids are a
    // few dozen bytes each, so even 10⁶ first-sight machines is tens
    // of MB on the driver — acceptable for a one-time cold start, and
    // the caller needs the ids (config autocreate pairing).
    val freshIds = fresh.collect().map(_.getString(0)).toSeq.sorted
    if (freshIds.nonEmpty) {
      import spark.implicits._
      // rows come from the collected ids, not from `fresh`: re-running
      // the read and the anti-join could write other ids than it returns
      val rows = freshIds.toDF("machineId")
        .withColumn("type", lit(MachineType))
        .withColumn("name", lit(null).cast("string"))
        .withColumn("machineStatus", lit(null).cast("string"))
        .withColumn("machineStatusUpdatedTimestamp", lit(nowEpochS))
      writeState(spark, path, keepLatest(state.unionByName(rows)))
    }
    freshIds
  }

  /** updateMachineName analogue against the persisted store
   * (update-machine-name-req.vtl:16-18 — row must exist). */
  def upsertName(spark: SparkSession, path: String, machineId: String, name: String): Unit = {
    val state = read(spark, path)
    require(!state.filter(col("machineId") === machineId).isEmpty,
      s"conditional check failed: no $MachineType row for $machineId (attribute_exists)")
    writeState(spark, path,
      state.withColumn("name",
        when(col("machineId") === machineId, name).otherwise(col("name"))))
  }

  // stage-then-swap so a failed write never truncates current state:
  // write to .staging, swap current out of the way, rename staging in,
  // and only then drop the old state. Every rename result is checked —
  // a false return aborts with the previous state still recoverable.
  private def writeState(spark: SparkSession, path: String, state: DataFrame): Unit = {
    val staged = path + ".staging"
    val backup = path + ".old"
    state.write.mode(SaveMode.Overwrite).parquet(staged)
    val (f, target) = fs(spark, path)
    val stagedP = new org.apache.hadoop.fs.Path(staged)
    val backupP = new org.apache.hadoop.fs.Path(backup)
    if (f.exists(backupP)) f.delete(backupP, true)
    if (f.exists(target)) {
      require(f.rename(target, backupP), s"could not move current state aside: $path")
    }
    require(f.rename(stagedP, target), s"could not promote staged state: $staged -> $path")
    f.delete(backupP, true)
    ()
  }

  /** Hydration view for cold-start initial state (machineId → status).
   * First-sight placeholders (null status) are excluded so the first
   * real status of a registered-but-silent machine still emits. */
  def asInitialState(spark: SparkSession, path: String): Dataset[(String, String)] = {
    import spark.implicits._
    read(spark, path).filter(col("machineStatus").isNotNull)
      .select(col("machineId"), col("machineStatus"))
      .as[(String, String)]
  }
}
