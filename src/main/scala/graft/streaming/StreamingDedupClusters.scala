package graft.streaming

import graft.functions.Dedup
import graft.sources.StoreSwap
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Incremental duplicate-cluster maintenance — the streaming face of
 * the batch `minhashDedupPairs → connectedComponents` clustering
 * (d7/d14): cluster labels that SURVIVE APPENDS. Each micro-batch
 * discovers the new near-dup edges their documents introduce,
 * merges the affected components, and upserts labels — without ever
 * re-clustering the corpus.
 *
 * EXACT batch equivalence (pinned by spec): after streaming a corpus
 * through in any micro-batch split, [[currentLabels]] equals the
 * batch labels of `Dedup.connectedComponents(Dedup
 * .minhashDedupPairsFromSets(Dedup.shingleSets(corpus, keyCol,
 * textCol, n), k, bands, threshold))` — with singletons labeled by
 * their own id. This holds
 * because the union over batches of discovered edges is precisely
 * the batch LSH+verify edge set (a pair sharing a band key is found
 * in the batch where its LATER doc arrives, and verification uses
 * the same exact shingle Jaccard), and component merging is
 * order-independent (union-find over any edge arrival order yields
 * the same partition). The label invariant — component = min doc id
 * reachable — is preserved by taking the min over merged component
 * ids, so labels only ever decrease (monotonicity; relied on by the
 * affected-member lookup below).
 *
 * Store layout under `path` (all append-only parquet logs, stamped
 * with the writing micro-batch id, compacted by [[compact]]):
 *  - `bands/`  (band, key, doc_id, batch_id) — LSH band postings
 *  - `sets/`   (doc_id, sh_set, batch_id)    — shingle sets for
 *    exact verification of future candidates
 *  - `labels/` (doc_id, comp, batch_id)      — label upsert log;
 *    current label = row with max batch_id per doc (J7 keep-latest
 *    discipline)
 *
 * Scale: every per-batch read of the three stores is driven by a
 * BROADCAST of batch-derived keys (band keys, candidate doc ids,
 * merged component ids), so the store side is a map-side filtered
 * scan — no corpus-wide shuffle per micro-batch; the only
 * corpus-sized shuffle lives in [[compact]], which a pipeline runs
 * on a maintenance cadence. Relabel volume is bounded by the member
 * count of the components the batch actually merges. The per-batch
 * component merge runs [[Dedup.connectedComponents]] on the COMPONENT
 * graph (nodes = affected component ids), which is bounded by the
 * batch's candidate count, not the corpus — so it is one probe and a
 * driver union-find whose labels come back as a local relation: the
 * batch's plans stay the same size however many components it
 * chains, and there is nothing extra to cache or release. At
 * warehouse scale the stores would be bucketed by their join keys to
 * prune the scans too; the read path is already shaped for that.
 *
 * Replay idempotency (foreachBatch is at-least-once): all reads
 * exclude rows stamped with the CURRENT batch id, so a replayed
 * batch recomputes from exactly the pre-batch state; re-appended
 * rows are byte-identical duplicates, which every reader collapses
 * (distinct postings / keep-latest labels). A crash between the
 * three appends replays to the same final state.
 */
object StreamingDedupClusters {

  /** batch_id on compacted rows — below any live micro-batch id. */
  val PreHistoryBatchId: Long = -1L

  /** A log as written, after finishing a [[compact]] that crashed
   * mid-swap; the empty log when no data file was written yet (none,
   * or a failed first append). Checking first also keeps Spark from
   * logging a stack-traced WARN for a missing path. */
  private def readLog(spark: SparkSession, dir: String, schema: String): DataFrame = {
    if (StoreSwap.ready(spark, dir)) spark.read.parquet(dir)
    else spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType.fromDDL(schema))
  }

  private def bandsLog(spark: SparkSession, path: String): DataFrame =
    readLog(spark, s"$path/bands",
      "band INT, key STRING, doc_id STRING, batch_id BIGINT")
  private def setsLog(spark: SparkSession, path: String): DataFrame =
    readLog(spark, s"$path/sets",
      "doc_id STRING, sh_set ARRAY<STRING>, batch_id BIGINT")
  private def labelsLog(spark: SparkSession, path: String): DataFrame =
    readLog(spark, s"$path/labels",
      "doc_id STRING, comp STRING, batch_id BIGINT")

  /** Latest label per doc (full-log window — an O(corpus) batch read
   * for external consumers and tests; the incremental path never
   * calls this). */
  def currentLabels(spark: SparkSession, path: String): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("batch_id").desc)
    labelsLog(spark, path)
      .withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1)
      .select(col("doc_id"), col("comp"))
  }

  /**
   * One micro-batch: label `batch`'s documents, merging any existing
   * clusters they bridge. Returns (doc_id, comp) for the batch's
   * docs. Wire via [[attach]] or call directly with a monotonically
   * increasing id per call (tests / backfills).
   */
  def processBatch(spark: SparkSession, batch: DataFrame, keyCol: String,
      textCol: String, path: String, batchId: Long, n: Int = 5, k: Int = 16,
      bands: Int = 4, threshold: Double = 0.5): DataFrame = {
    import spark.implicits._
    if (batch.isEmpty) return Seq.empty[(String, String)].toDF("doc_id", "comp")
    // every cache this batch takes is registered here and released in
    // the finally — a long-running stream must not accumulate blocks
    // across micro-batches (the same discipline as StreamingNearDedup)
    val owned = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def own(df: DataFrame): DataFrame = {
      owned += df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      df
    }
    val sets = Dedup.shingleSetsPersisted(
      batch.select(col(keyCol), col(textCol)), keyCol, textCol, n)
    owned += sets
    val banded = own(
      Dedup.bandKeys(Dedup.minhashSignaturesFromSets(sets, k), k, bands))
    try {
      val notThisBatch = coalesce(col("batch_id"), lit(PreHistoryBatchId)) =!= batchId

      // Candidates. Cross-batch: batch band keys against the stored
      // postings (batch side broadcast → map-side store scan). Within-
      // batch: self-join on the band key. Canonical (lo, hi) order.
      val storeBands = bandsLog(spark, path).filter(notThisBatch)
        .select(col("band"), col("key"), col("doc_id").as("_old"))
      val cross = storeBands
        .join(broadcast(banded.select(col("band"), col("key"), col("doc_id").as("_new"))),
          Seq("band", "key"))
        .filter(col("_old") =!= col("_new"))
        .select(least(col("_old"), col("_new")).as("doc_a"),
          greatest(col("_old"), col("_new")).as("doc_b"))
      val within = banded.select(col("band"), col("key"), col("doc_id").as("_a"))
        .join(banded.select(col("band"), col("key"), col("doc_id").as("_b")),
          Seq("band", "key"))
        .filter(col("_a") < col("_b"))
        .select(col("_a").as("doc_a"), col("_b").as("doc_b"))
      val cands = own(cross.unionByName(within).distinct())

      // Exact-Jaccard verification of candidates only, shingle sets
      // fetched by broadcast candidate ids (batch docs from this
      // batch's sets, older docs from the store).
      val candIds = cands.select(col("doc_a").as("doc_id"))
        .unionByName(cands.select(col("doc_b").as("doc_id"))).distinct()
      // label lookup must also cover collision-free batch docs: a
      // RE-APPEARING doc keeps its current label rather than being
      // reset to a singleton
      val lookupIds = candIds.unionByName(sets.select(col("doc_id"))).distinct()
      val candSets = setsLog(spark, path).filter(notThisBatch)
        .select(col("doc_id"), col("sh_set"))
        .join(broadcast(candIds), Seq("doc_id"), "left_semi")
        .unionByName(sets.select(col("doc_id"), col("sh_set")))
        .dropDuplicates("doc_id") // replay duplicates are identical rows
      val edges = cands
        .join(candSets.select(col("doc_id").as("doc_a"), col("sh_set").as("_sa")), "doc_a")
        .join(candSets.select(col("doc_id").as("doc_b"), col("sh_set").as("_sb")), "doc_b")
        .withColumn("_inter", size(array_intersect(col("_sa"), col("_sb"))))
        .withColumn("_j", col("_inter").cast("double") /
          (size(col("_sa")) + size(col("_sb")) - col("_inter")))
        .filter(round(col("_j"), 6) >= threshold)
        .select(col("doc_a"), col("doc_b"))

      // Current labels for edge endpoints (broadcast ids → map-side
      // store scan; keep-latest window over the FILTERED slice only).
      val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("batch_id").desc)
      val endpointLabels = labelsLog(spark, path).filter(notThisBatch)
        .join(broadcast(lookupIds), Seq("doc_id"), "left_semi")
        .withColumn("_rn", row_number().over(wDoc)).filter(col("_rn") === 1)
        .select(col("doc_id"), col("comp"))

      // Component-level merge graph: endpoints mapped to their current
      // component (own id when unlabeled), then CC over component ids.
      // Bounded by the batch's candidate count — never corpus-sized.
      val compEdges = edges
        .join(endpointLabels.select(col("doc_id").as("doc_a"), col("comp").as("_ca")),
          Seq("doc_a"), "left_outer")
        .join(endpointLabels.select(col("doc_id").as("doc_b"), col("comp").as("_cb")),
          Seq("doc_b"), "left_outer")
        .select(coalesce(col("_ca"), col("doc_a")).as("ca"),
          coalesce(col("_cb"), col("doc_b")).as("cb"))
        .filter(col("ca") =!= col("cb")).distinct()
      val merges = Dedup.connectedComponents(compEdges, "ca", "cb")
        .select(col("id").as("_node"), col("component").as("_mcomp"))

      // Relabel members of components whose id changed. Label
      // monotonicity guarantees a row whose comp matches a CURRENT
      // component id belongs to a doc currently in that component
      // (superseded component ids never recur), so a broadcast
      // comp-filter + per-doc dedupe finds exactly the members.
      val changed = merges.filter(col("_mcomp") =!= col("_node"))
      val relabeled = labelsLog(spark, path).filter(notThisBatch)
        .join(broadcast(changed), col("comp") === col("_node"))
        .select(col("doc_id"), col("_mcomp").as("comp")).distinct()

      // Batch docs: current comp (own id when new), then the merge map.
      val batchLabels = sets.select(col("doc_id"))
        .join(endpointLabels.withColumnRenamed("comp", "_c0"), Seq("doc_id"), "left_outer")
        .withColumn("_comp0", coalesce(col("_c0"), col("doc_id")))
        .join(broadcast(merges), col("_comp0") === col("_node"), "left_outer")
        .select(col("doc_id"), coalesce(col("_mcomp"), col("_comp0")).as("comp"))

      relabeled.unionByName(batchLabels).distinct()
        .withColumn("batch_id", lit(batchId))
        .write.mode(SaveMode.Append).parquet(s"$path/labels")
      banded.select(col("band"), col("key"), col("doc_id"),
          lit(batchId).as("batch_id"))
        .write.mode(SaveMode.Append).parquet(s"$path/bands")
      sets.select(col("doc_id"), col("sh_set"), lit(batchId).as("batch_id"))
        .write.mode(SaveMode.Append).parquet(s"$path/sets")

      // return the batch docs' labels from the rows just written —
      // fully disk-backed lineage, so the caller can consume it after
      // every cache below is released (replay duplicates collapse)
      spark.read.parquet(s"$path/labels")
        .filter(col("batch_id") === batchId)
        .join(spark.read.parquet(s"$path/sets")
          .filter(col("batch_id") === batchId).select(col("doc_id")),
          Seq("doc_id"), "left_semi")
        .select(col("doc_id"), col("comp")).distinct()
    } finally { owned.foreach(_.unpersist()); () }
  }

  /** Attach to a streaming document source: per-batch labels land in
   * `outPath`; the cluster store at `path` stays current. */
  def attach(stream: DataFrame, keyCol: String, textCol: String, path: String,
      outPath: String, checkpoint: String, n: Int = 5, k: Int = 16,
      bands: Int = 4, threshold: Double = 0.5): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch.sparkSession, batch, keyCol, textCol, path,
          batchId, n, k, bands, threshold)
          .write.mode(SaveMode.Append).parquet(outPath)
      }
      .start()

  /** Fold each log into its minimal current form — latest label per
   * doc, distinct band postings, one shingle set per doc — each
   * swapped in by [[StoreSwap]]. QUIESCE: drain the stream for the
   * duration — appends after the staging read would be dropped by the
   * swap; checkpoint replay makes the stopped window lossless. */
  def compact(spark: SparkSession, path: String): Unit = {
    def swap(log: String, folded: DataFrame): Unit =
      StoreSwap.swap(spark, s"$path/$log")(folded.write.mode(SaveMode.Overwrite).parquet(_))
    val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("batch_id").desc)
    swap("labels", labelsLog(spark, path)
      .withColumn("_rn", row_number().over(wDoc)).filter(col("_rn") === 1)
      .select(col("doc_id"), col("comp"), lit(PreHistoryBatchId).as("batch_id")))
    swap("bands", bandsLog(spark, path).select(col("band"), col("key"), col("doc_id")).distinct()
      .withColumn("batch_id", lit(PreHistoryBatchId)))
    swap("sets", setsLog(spark, path).dropDuplicates("doc_id")
      .select(col("doc_id"), col("sh_set"), lit(PreHistoryBatchId).as("batch_id")))
  }
}
