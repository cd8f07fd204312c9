package graft.streaming

import graft.functions.Retrieval
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Streaming face of the BM25 retrieval index
 * ([[graft.functions.Retrieval]], queries r1/r2) — incremental
 * posting-list maintenance with batch-identical reads:
 *
 *  - **Posting store**: each micro-batch appends its per-doc
 *    `(doc_id, term, tf)` rows stamped with the batch id; document
 *    lengths `(doc_id, dl)` append beside them (blank docs included,
 *    dl = 0 — corpus size N counts them exactly like the batch
 *    operator). Both stores reuse [[SketchCompaction]]: replays of a
 *    batch collapse by fact identity + batch id, replays below the
 *    compaction high-water mark are excluded, and [[compact]] folds
 *    history into a swapped base so the store's file count
 *    is bounded by fold cadence, not stream age. The postings
 *    themselves grow with the corpus — that is the index's job — but
 *    never with replay count or batch count.
 *  - **Reads**: [[topK]] feeds the collapsed index straight into
 *    [[Retrieval.bm25TopKFromIndex]], so a streamed store serves
 *    BIT-IDENTICAL rankings to [[Retrieval.bm25TopK]] over the same
 *    documents — idf, length normalization and the exact-BIGINT
 *    micro-scores all recompute from the live index at read time
 *    (corpus-level stats are read-time aggregates; nothing stale is
 *    cached in the store).
 *
 * Append-only corpus semantics: a doc_id re-shipped in a LATER batch
 * (not a replay) would double its postings — upstream dedup owns that
 * concern, exactly where [[StreamingCorpusIngest]] puts it (quality
 * gate → exact dedup → near-dedup → decontaminate → THEN index).
 */
object StreamingRetrieval {

  private def postingsPath(dir: String) = s"$dir/postings"
  private def doclenPath(dir: String) = s"$dir/doclen"

  /** One batch → its stamped posting + doclen facts. Pure;
   * spec-drivable. Schemas match the [[SketchCompaction]] counters
   * contract (value rides in `n`). */
  def batchFacts(batch: DataFrame, keyCol: String, textCol: String,
      batchId: Long): (DataFrame, DataFrame) = {
    val (tf, dl) = Retrieval.postingsOf(batch, keyCol, textCol)
    (tf.select(col("doc_id"), col("term"), col("tf").as("n"))
       .withColumn("batch_id", lit(batchId)),
     dl.select(col("doc_id"), col("dl").as("n"))
       .withColumn("batch_id", lit(batchId)))
  }

  /** Append one micro-batch's facts to the store. */
  def processBatch(spark: SparkSession, batch: DataFrame, keyCol: String,
      textCol: String, dir: String, batchId: Long): Unit = {
    val (tfFacts, dlFacts) = batchFacts(batch, keyCol, textCol, batchId)
    tfFacts.write.mode(org.apache.spark.sql.SaveMode.Append)
      .parquet(postingsPath(dir))
    dlFacts.write.mode(org.apache.spark.sql.SaveMode.Append)
      .parquet(doclenPath(dir))
  }

  /** The live collapsed index: (doc_id, term, tf) and (doc_id, dl) —
   * replay-collapsed, base + facts-since-fold. `snapshot = true`
   * materializes both sides ([[SketchCompaction.countersSnapshot]])
   * so the result survives a concurrent [[compact]] — the
   * fold-while-serving read path; the default lazy plan is cheaper
   * but carries the counters read-quiesce requirement (a fold between
   * plan construction and action deletes the listed fact files). */
  def index(dir: String, snapshot: Boolean = false)(
      implicit spark: SparkSession): (DataFrame, DataFrame) = {
    val read: (String, Seq[String]) => DataFrame =
      if (snapshot) SketchCompaction.countersSnapshot(_, Nil, _)
      else SketchCompaction.counters(_, Nil, _)
    (read(postingsPath(dir), Seq("doc_id", "term"))
       .select(col("doc_id"), col("term"), col("n").as("tf")),
     read(doclenPath(dir), Seq("doc_id"))
       .select(col("doc_id"), col("n").as("dl")))
  }

  /** BM25 top-k off the streamed store — bit-identical to
   * [[Retrieval.bm25TopK]] over the same appended documents. Reads a
   * SNAPSHOT of the store ([[index]] with `snapshot = true`): an
   * [[attach]]-driven fold running mid-query can neither fail the
   * ranking with a FileNotFoundException nor silently drop
   * just-folded batches from it. */
  def topK(spark: SparkSession, dir: String, queries: DataFrame,
      qKeyCol: String, qTermsCol: String, k: Int,
      maxDfFrac: Double = 0.5): DataFrame = {
    implicit val s: SparkSession = spark
    val (tf, dl) = index(dir, snapshot = true)
    Retrieval.bm25TopKFromIndex(tf, dl, queries, qKeyCol, qTermsCol, k, maxDfFrac)
  }

  /** Publish a SNAPSHOT of the streamed store into the bucketed serve
   * tables ([[Retrieval.writeIndexTablesFrom]]: postings + doclen +
   * the materialized (term, df) and 1-row (n, s) stats) — the
   * fit/serve duality closed for STREAMED corpora: tokenize is paid
   * per micro-batch at ingest, the clustered layout + stats once per
   * publish, and every query after is served fit-free by
   * [[Retrieval.bm25TopKFromStats]] / [[Retrieval.bm25PrfTopKFromStats]]
   * — no read-time stats recompute, no counters read-quiesce concern
   * (tables are immutable between publishes). [[topK]] stays the
   * always-current read; published tables are the epoch snapshot a
   * standing query fleet serves from, re-published on whatever cadence
   * staleness tolerates. Snapshot isolation: safe to run while the
   * stream appends or [[compact]] folds. */
  def publishTables(spark: SparkSession, dir: String, name: String,
      buckets: Int = 32): Unit = {
    implicit val s: SparkSession = spark
    val (tf, dl) = index(dir, snapshot = true)
    Retrieval.writeIndexTablesFrom(spark, tf, dl, name, buckets)
  }

  /** Fold both fact stores into their compacted bases; [[index]] (and
   * therefore [[topK]]) is invariant across the fold. Same reader
   * quiesce requirement as [[SketchCompaction.compact]]. */
  def compact(dir: String)(implicit spark: SparkSession): Unit = {
    SketchCompaction.compact(postingsPath(dir), Nil, Seq("doc_id", "term"))
    SketchCompaction.compact(doclenPath(dir), Nil, Seq("doc_id"))
  }

  /** One-attach streaming index maintenance: append each micro-batch's
   * facts, folding the store every `compactEvery` batches (0 = never). */
  def attach(stream: DataFrame, keyCol: String, textCol: String,
      dir: String, checkpoint: String, compactEvery: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        implicit val s: SparkSession = batch.sparkSession
        processBatch(s, batch, keyCol, textCol, dir, batchId)
        if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0)
          compact(dir)
      }
      .start()
}
