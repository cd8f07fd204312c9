package graft.sources

import graft.streaming.IngestPipeline.StatusUpdate
import org.apache.spark.sql.{DataFrame, Dataset, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

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
 * First-sight registration is an append of one small file of
 * placeholder rows; [[merge]] is the one rewrite (read→union→
 * keep-latest→[[StoreSwap]] rewrite on parquet) and folds those files back
 * into the base. On a transactional table format the same keep-latest
 * rule becomes the MERGE condition.
 */
object UiReferenceStore {

  private val MachineType = "MACHINE"

  /** Fixed row shape: a read passes it instead of inferring one (no
   * Spark job), and a column an older store lacks reads as null. */
  private val Schema = StructType.fromDDL("machineId STRING, type STRING, name STRING, " +
    "machineStatus STRING, machineStatusUpdatedTimestamp BIGINT")

  /** Current state, after finishing a rewrite that crashed mid-swap
   * ([[StoreSwap.ready]]); a path with no data file yet (missing, or
   * only the `_temporary` of a crashed first append) reads as empty. */
  def read(spark: SparkSession, path: String): DataFrame = {
    val df =
      if (StoreSwap.ready(spark, path)) spark.read.schema(Schema).parquet(path)
      else spark.createDataFrame(java.util.Collections.emptyList[Row](), Schema)
    df.withColumn("type", coalesce(col("type"), lit(MachineType)))
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
   * First-sight machine registration (index.ts:154-163): append one
   * file of MACHINE rows with null name/status for the machineIds not
   * yet in the store. Returns the ids actually created (for pairing with the
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
      // the read and the anti-join could write other ids than it returns.
      // They are absent from the state, so the append keeps one row per id.
      freshIds.toDF("machineId")
        .withColumn("type", lit(MachineType))
        .withColumn("name", lit(null).cast("string"))
        .withColumn("machineStatus", lit(null).cast("string"))
        .withColumn("machineStatusUpdatedTimestamp", lit(nowEpochS))
        .coalesce(1).write.mode(SaveMode.Append).parquet(path)
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

  // a failed write leaves the current state in place (StoreSwap)
  private def writeState(spark: SparkSession, path: String, state: DataFrame): Unit =
    StoreSwap.swap(spark, path)(state.write.mode(SaveMode.Overwrite).parquet(_))

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
