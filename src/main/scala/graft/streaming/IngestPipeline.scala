package graft.streaming

import graft.model.{MachineStatus, MessageFormatConfig}
import graft.parse.MessageParser
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/**
 * The hot path as Structured Streaming — the Spark re-expression of
 * the reference's Kinesis→Lambda filter pipeline
 * (filter-kinesis-stream/index.ts, SURVEY §3.1):
 *
 *   readStream (base64 envelopes)
 *     → parse (MessageParser — stateless, same code as batch)
 *     → [stateful] last-status-per-machine with change suppression
 *       (A1+A2, flatMapGroupsWithState) → reference-state sink
 *     → [stateless] real-time fact rows (P5/P6) → fact sink
 *
 * Semantics matched:
 *  - per-batch ts-ascending fold to the LAST status (index.ts:165-175);
 *  - a mutation is emitted only when the folded status differs from the
 *    held state, stamping the transition time (index.ts:177-191);
 *  - cold-start hydration: initial state loaded from the reference
 *    table (index.ts:282-304) via the initial-state overload;
 *  - config is re-read per micro-batch in [[runIngest]] (the analogue
 *    of the env-var-bump hot reload, update-filter-function/index.ts).
 *
 * Scale notes: state is partitioned by machineId (Spark state store —
 * one key per machine, trivially sharded over executors); per batch
 * each machine group folds its own messages only. The fact append is
 * shuffle-free.
 */
object IngestPipeline {

  final case class StatusUpdate(machineId: String, machineStatus: String,
      machineStatusUpdatedTimestamp: Long)

  final case class StatusMsg(machineId: String, machineStatus: String, epochSeconds: Long)

  /** Fold one machine's batch messages into at most one changed-status
   * update. Pure function — unit-testable without a stream. */
  def foldStatus(machineId: String, msgs: Iterator[StatusMsg],
      state: GroupState[String]): Iterator[StatusUpdate] = {
    // ts-ascending, last wins (index.ts:165-175; comparator :347-351).
    // Iterator order after a shuffle is not arrival order, so equal
    // timestamps tie-break on status for a deterministic winner
    // (same rule as the batch fold and UiReferenceStore.merge).
    val sorted = msgs.toSeq.sortBy(m => (m.epochSeconds, m.machineStatus))
    sorted.lastOption match {
      case Some(last) =>
        val prev = state.getOption
        if (!prev.contains(last.machineStatus)) {
          state.update(last.machineStatus)
          Iterator.single(StatusUpdate(machineId, last.machineStatus, last.epochSeconds))
        } else Iterator.empty
      case None => Iterator.empty
    }
  }

  /**
   * Changed-status stream: statusMsgs (machineId, machineStatus,
   * epochSeconds) → at most one StatusUpdate per machine per batch,
   * suppressed when unchanged. `initialState` hydrates machine→status
   * (cold start from the reference table).
   */
  def changedStatuses(statusMsgs: Dataset[StatusMsg],
      initialState: Option[Dataset[(String, String)]] = None): Dataset[StatusUpdate] = {
    val spark = statusMsgs.sparkSession
    import spark.implicits._
    val grouped = statusMsgs.groupByKey(_.machineId)
    initialState match {
      case Some(init) =>
        grouped.flatMapGroupsWithState(
          OutputMode.Append, GroupStateTimeout.NoTimeout,
          init.groupByKey(_._1).mapValues(_._2))(foldStatus)
      case None =>
        grouped.flatMapGroupsWithState(
          OutputMode.Append, GroupStateTimeout.NoTimeout)(foldStatus)
    }
  }

  /** Stateless micro-batch transform: raw base64 payload column →
   * classified messages (shared with the batch path). */
  def parseBatch(batch: DataFrame, payloadCol: String,
      formats: Seq[MessageFormatConfig], machineConfigs: DataFrame): DataFrame =
    MessageParser.classify(
      MessageParser.parseBase64(batch, col(payloadCol), formats), machineConfigs)

  /**
   * End-to-end micro-batch runner via foreachBatch: per batch, re-read
   * configs (hot reload), append eligible facts to `factSink`, and
   * MERGE changed statuses into the reference state (callbacks keep
   * the sinks pluggable: parquet, Delta, memory).
   *
   * Change suppression (A2): each batch's per-machine last status is
   * anti-joined against `loadState()` (machineId, machineStatus), so a
   * mutation is emitted ONLY on transition — the merged
   * machineStatusUpdatedTimestamp is the transition time, not the
   * latest observation time (index.ts:177-191).
   *
   * First-sight machines (index.ts:50-57, 154-163, 358-378): when
   * `registerMachines` is given, every machineId seen in the batch that
   * is absent from `loadState()` is handed to it BEFORE facts/statuses
   * are written — the callback creates the empty MACHINE_CONFIG row
   * (Facade.autocreateMachineConfigs) and the UI-reference MACHINE row
   * (UiReferenceStore.ensureMachines), mirroring createMachineConfigs
   * + the UI_REFERENCE_DATA insert. Newness is judged against the
   * UI-reference state, exactly as the reference does.
   */
  def runIngest(
      stream: DataFrame,
      payloadCol: String,
      loadConfigs: () => (Seq[MessageFormatConfig], DataFrame),
      appendFacts: DataFrame => Unit,
      mergeStatuses: Dataset[StatusUpdate] => Unit,
      loadState: () => DataFrame = null,
      expirationHours: Int = 24,
      registerMachines: DataFrame => Unit = null)(implicit spark: SparkSession): org.apache.spark.sql.streaming.StreamingQuery = {
    // CONTRACT: loadState() returns the machine-reference table — a
    // FLEET-sized dimension (one row per machine; thousands at plant
    // scale), called once per micro-batch for hot reload. That snapshot
    // serves both anti-joins below (registration; change suppression,
    // which placeholders registered since never match: null status).
    // Cheap ONLY under that bound — do not point loadState at a
    // corpus/events-sized table; an events-scale state source belongs
    // in mapGroupsWithState, not a per-batch full read.
    import spark.implicits._
    stream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val (formats, machineConfigs) = loadConfigs() // per-batch hot reload
        // persist: the parse chain feeds three sinks per batch
        // (registration, facts, status fold) — parse once, not per action
        val classified = parseBatch(batch, payloadCol, formats, machineConfigs)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
        val state = Option(loadState).map(_.apply())
        if (registerMachines != null) {
          // any parsed message from an unseen machine triggers creation
          // (index.ts:53-57 filters on UI_REFERENCE_DATA membership)
          val batchIds = classified.filter(col("machineId").isNotNull)
            .select(col("machineId")).distinct()
          registerMachines(state.fold(batchIds)(st =>
            batchIds.join(st.select(col("machineId")), Seq("machineId"), "left_anti")))
        }
        appendFacts(MessageParser.toRealTime(classified, expirationHours))
        val statusMsgs = classified
          .filter(col("isStatusMsg") && col("machineStatus").isNotNull)
          .select(col("machineId"), col("machineStatus"), col("epoch_s").as("epochSeconds"))
          .as[StatusMsg]
        val folded = statusMsgs.groupByKey(_.machineId)
          .mapGroups { (mid, it) =>
            // deterministic last-wins: same (ts, status) tie-break as foldStatus
            val last = it.toSeq.maxBy(m => (m.epochSeconds, m.machineStatus))
            StatusUpdate(mid, last.machineStatus, last.epochSeconds)
          }
        // change suppression against current reference state
        mergeStatuses(state.fold(folded)(st => folded.join(
          st.select(col("machineId"), col("machineStatus")),
          Seq("machineId", "machineStatus"), "left_anti").as[StatusUpdate]))
        } finally { classified.unpersist(); () }
        ()
      }
      .start()
  }

  /** TTL compaction — the DynamoDB-TTL analogue (SURVEY §2.8): retain
   * rows whose expiration is in the future; run periodically over the
   * fact table. Read-time filtering uses the same predicate. */
  def compactExpired(realTime: DataFrame, nowEpochS: Long): DataFrame =
    realTime.filter(col("expirationTimestamp") > nowEpochS)
}
