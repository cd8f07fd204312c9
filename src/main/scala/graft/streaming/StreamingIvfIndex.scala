package graft.streaming

import graft.functions.Similarity
import graft.sources.StoreSwap
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Streaming maintenance of the persisted IVF ANN index
 * ([[Similarity.buildIvfIndex]]'s layout) — the missing link between
 * the batch-built serving index and a live embedding firehose: new
 * vectors arriving on a stream are assigned to the FIXED fitted
 * centroids and appended to the cell-partitioned corpus table, so
 * probe-pruned serving sees them at the next micro-batch with no
 * refit and no rebuild. Between rebuilds inserts land in their
 * nearest existing cell; when drift makes that map stale the
 * [[cellCensus]]-driven [[maybeReindex]] trigger re-clusters and
 * swaps the whole index atomically (the standard inverted-file
 * discipline, automated).
 *
 * Contract: the stream carries NEW vec_ids (an upstream exact-dedup
 * stage guarantees uniqueness — [[StreamingDedup]]). Re-ingesting an
 * id with a changed embedding requires a rebuild/compaction: a moved
 * vector would leave its stale copy in the old cell partition, which
 * probe pruning could still serve.
 *
 * Replay idempotency: appends are stamped with the micro-batch id and
 * cell assignment is deterministic, so an at-least-once replay
 * appends bit-identical rows; the serving read collapses them with a
 * keep-one window per (cell, vec_id) — within the same partition the
 * replay wrote, so collapsing survives partition pruning. State per
 * micro-batch is zero (no store read on the write path — unlike
 * [[StreamingNearDedup]] the append needs no membership check).
 *
 * Scale: each micro-batch writes only its own rows, partitioned by
 * cell (≤ nClusters files per batch); serving scans nProbe/nClusters
 * of the corpus via partition pruning exactly as the batch index
 * does. [[compact]] folds accumulated per-batch files back into one
 * clean copy per cell.
 *
 * The index directory `path` (centroids + corpus) is the one
 * [[graft.sources.StoreSwap]] unit of both [[compact]] and [[reindex]],
 * so a reader never mixes old centroids with a new corpus, and every
 * read recovers a swap that crashed midway.
 */
object StreamingIvfIndex {

  /** Batch-id stamped on bootstrap/compacted rows — live micro-batch
   * ids are non-negative, so it never collides. */
  val PreHistoryBatchId: Long = -1L

  /** Bootstrap the index from a seed corpus: fit centroids (derived
   * cell count, [[Similarity.fitIvfCentroids]]) and write the layout
   * [[processBatch]] appends to and [[topKIndexed]] serves from. */
  def bootstrap(corpus: DataFrame, path: String, nClusters: Int = 0): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val centroids = Similarity.fitIvfCentroids(corpus, nClusters)
    centroids.toDF("cell", "center")
      .write.mode(SaveMode.Overwrite).parquet(s"$path/centroids")
    Similarity.assignCells(corpus.select(col("vec_id"), col("embedding")), centroids)
      .withColumn("batch_id", lit(PreHistoryBatchId))
      .write.mode(SaveMode.Overwrite).partitionBy("cell").parquet(s"$path/corpus")
  }

  /** One micro-batch: assign `batch` (vec_id, embedding) to the fixed
   * `centroids` and append, stamped with `batchId`. Pass the centroids
   * loaded ONCE at stream start ([[attach]] does) — they are immutable
   * between rebuilds, so per-batch reloads would be waste. */
  def processBatch(batch: DataFrame, centroids: Seq[(Int, Seq[Float])],
      path: String, batchId: Long): Unit = {
    // the batch lineage can be expensive (e.g. decode + model forward
    // pass from StreamingMediaIngest) — cache it so the emptiness
    // check and the append run it ONCE, not twice per micro-batch
    val cached = batch.persist()
    try {
      if (!cached.isEmpty) {
        Similarity.assignCells(cached.select(col("vec_id"), col("embedding")), centroids)
          .withColumn("batch_id", lit(batchId))
          .write.mode(SaveMode.Append).partitionBy("cell").parquet(s"$path/corpus")
      }
    } finally cached.unpersist()
  }

  /** Attach to a streaming DataFrame of (vec_id, embedding). The
   * index must be [[bootstrap]]ped first. */
  def attach(stream: DataFrame, path: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery = {
    val centroids = loadCentroids(stream.sparkSession, path)
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, centroids, path, batchId)
      }
      .start()
  }

  /** The index corpus as serving sees it: replayed duplicates
   * collapsed to one row per (cell, vec_id), keeping the highest
   * batch stamp (replay copies are bit-identical, so the pick is
   * value-deterministic). `cells` prunes partitions BEFORE the
   * collapse window — safe because duplicates share their cell. */
  def servingCorpus(spark: SparkSession, path: String,
      cells: Option[Seq[Int]] = None): DataFrame = {
    require(StoreSwap.ready(spark, path), s"no IVF index at $path")
    val raw = spark.read.parquet(s"$path/corpus")
    val pruned = cells.map(cs => raw.filter(col("cell").isin(cs: _*))).getOrElse(raw)
    val w = Window.partitionBy(col("cell"), col("vec_id"))
      .orderBy(col("batch_id").desc)
    pruned
      .withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1)
      .select(col("vec_id"), col("embedding"), col("cell"))
  }

  /** The fitted centroids, a crashed swap recovered first. */
  private def loadCentroids(spark: SparkSession, path: String): Seq[(Int, Seq[Float])] = {
    require(StoreSwap.ready(spark, path), s"no IVF index at $path")
    Similarity.loadIvfCentroids(spark, path)
  }

  /** Probe-pruned top-k over the live index — identical semantics to
   * [[Similarity.ivfTopKIndexed]], over bootstrap AND streamed rows. */
  def topKIndexed(spark: SparkSession, path: String, queries: DataFrame,
      k: Int, nProbe: Int): DataFrame = {
    val centroids = loadCentroids(spark, path)
    val qcells = Similarity.probeCells(queries, centroids, nProbe)
    val probedCells = qcells.select(col("cell")).distinct()
      .collect().map(_.getInt(0)).toSeq
    Similarity.rankProbed(
      servingCorpus(spark, path, Some(probedCells)), qcells, k)
  }

  /** Per-cell row counts of the serving corpus — the e9 census turned
   * into an index-maintenance signal. O(nClusters) rows. */
  def cellCensus(spark: SparkSession, path: String): DataFrame =
    servingCorpus(spark, path).groupBy(col("cell")).agg(count(lit(1)).as("n"))

  /** Max/mean cell-size ratio (1.0 = perfectly balanced). Under
   * distribution drift, inserts pile into the nearest EXISTING cells,
   * so the ratio climbs — the signal that probe pruning is degrading
   * (a probe that hits one overgrown cell scans a growing corpus
   * fraction, while true neighbors sit behind unprobed boundaries).
   * Driver-side collect is O(nClusters) — bounded, like every
   * centroid read. */
  def skewRatio(spark: SparkSession, path: String): Double = {
    val counts = cellCensus(spark, path).select(col("n"))
      .collect().map(_.getLong(0))
    if (counts.isEmpty) 1.0
    else counts.max.toDouble / (counts.sum.toDouble / counts.length)
  }

  /**
   * Full re-cluster with an atomic index swap: refit centroids on the
   * CURRENT serving corpus ([[Similarity.fitIvfCentroids]] — same
   * fixed-seed fit as bootstrap; `fitSampleFrac < 1` fits on a
   * deterministic md5-keyed sample instead, cutting the
   * iterations × corpus-scan refit bill by 1/frac while assignment
   * and cell count still cover the full corpus), reassign every
   * vector, and swap the new index in.
   *
   * QUIESCE REQUIREMENT: same as [[compact]] — detach or drain the
   * stream for the duration; the checkpoint replays the stopped
   * window losslessly on re-attach.
   */
  def reindex(spark: SparkSession, path: String, nClusters: Int = 0,
      fitSampleFrac: Double = 1.0): Unit = {
    require(fitSampleFrac > 0 && fitSampleFrac <= 1.0,
      s"fitSampleFrac must be in (0, 1], got $fitSampleFrac")
    import spark.implicits._
    // materialize the corpus off the files the swap will delete
    val corpus = servingCorpus(spark, path).localCheckpoint(true)
    // The refit is iterations × one pass over the FIT corpus — the
    // whole reindex bill at scale. A coarse quantizer needs stable
    // cell boundaries, not convergence on every vector, so fitting on
    // a deterministic md5-keyed sample (membership a pure function of
    // vec_id — reproducible across reruns) cuts that bill by 1/frac
    // while the ASSIGNMENT below still covers the full corpus. k still
    // derives from the FULL corpus size: cell granularity must track
    // the data the index serves, not the sample that seeded it.
    val sampled =
      if (fitSampleFrac >= 1.0) corpus
      else graft.functions.TextAnalysis.deterministicSample(
        corpus, col("vec_id").cast("string"), fitSampleFrac)
    val k = if (nClusters > 0) nClusters
      else Similarity.adaptiveCellCount(corpus.count())
    // k derives from the FULL corpus; a small fitSampleFrac can leave
    // the sample with < k vectors (KMeans then fails or degenerates).
    // Fall back to the full corpus in that case — the sample exists
    // only to cut the fit bill, never to change what k fits.
    val fitCorpus =
      if ((fitSampleFrac < 1.0) && sampled.count() < k) corpus else sampled
    val centroids = Similarity.fitIvfCentroids(fitCorpus, k)
    StoreSwap.swap(spark, path) { stage =>
      centroids.toDF("cell", "center")
        .write.mode(SaveMode.Overwrite).parquet(s"$stage/centroids")
      Similarity.assignCells(corpus.select(col("vec_id"), col("embedding")), centroids)
        .withColumn("batch_id", lit(PreHistoryBatchId))
        .write.mode(SaveMode.Overwrite).partitionBy("cell").parquet(s"$stage/corpus")
    }
  }

  /** The drift trigger: re-cluster iff [[skewRatio]] exceeds
   * `skewThreshold`. Returns whether a reindex ran. */
  def maybeReindex(spark: SparkSession, path: String, skewThreshold: Double,
      nClusters: Int = 0, fitSampleFrac: Double = 1.0): Boolean = {
    val skew = skewRatio(spark, path)
    if (skew > skewThreshold) { reindex(spark, path, nClusters, fitSampleFrac); true }
    else false
  }

  /** Fold accumulated per-batch appends (and replay duplicates) into
   * one clean copy per cell, swapped in with the centroids as one
   * index.
   *
   * QUIESCE REQUIREMENT: detach or drain the stream (no concurrent
   * [[processBatch]]) for the duration of the call — rows appended to
   * the live dir after the staging read would be dropped by the swap.
   * The checkpoint makes the stopped window lossless: on re-attach
   * the source replays from the last committed offset. */
  def compact(spark: SparkSession, path: String): Unit = {
    val corpus = servingCorpus(spark, path)
    StoreSwap.swap(spark, path) { stage =>
      spark.read.parquet(s"$path/centroids")
        .write.mode(SaveMode.Overwrite).parquet(s"$stage/centroids")
      corpus.withColumn("batch_id", lit(PreHistoryBatchId))
        .write.mode(SaveMode.Overwrite).partitionBy("cell").parquet(s"$stage/corpus")
    }
  }
}
