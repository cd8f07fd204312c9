package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

import graft.functions.TextAnalysis

/**
 * Sharded training-corpus export — the OUTPUT side of the pipeline:
 * deterministic token-budgeted shards written as JSONL plus a
 * manifest the training loader consumes (file ↔ doc/token counts ↔
 * content checksum), with a completeness marker like every other sink
 * here.
 *
 * Shard assignment reuses the [[TextAnalysis.packSequences]] prefix
 * sums (the t15 operator): docs ordered by id within source, shard =
 * cumulative-token-position div budget — so the layout is a pure
 * function of the corpus, and a re-export after a crash produces
 * bit-identical shards (safe to resume by overwrite). The write
 * itself is one `partitionBy(source, shard)` append of pre-assigned
 * rows: no shuffle beyond the packing windows, and each shard lands
 * as its own directory for budget-sized loader reads.
 *
 * The manifest is computed from the SAME assignment lineage (one
 * aggregation), not from a post-write re-scan: counts are exact, and
 * `id_checksum` (md5 of the sorted doc-id list, engine-portable
 * integer-string concat) lets a loader verify shard content without
 * trusting file sizes.
 */
object CorpusExport {

  /** Deterministic shard assignment: input + (shard, n_tokens). */
  def assignShards(docs: DataFrame, idCol: String, sourceCol: String,
      textCol: String, tokensPerShard: Long, batchCol: String): DataFrame = {
    require(tokensPerShard > 0, s"tokensPerShard must be positive, got $tokensPerShard")
    val withTokens = docs.withColumn("n_tokens",
      TextAnalysis.bpeishTokenCount(col(textCol)).cast("long"))
    TextAnalysis.packSequences(withTokens, idCol, sourceCol, "n_tokens",
        batchCol = col(batchCol))
      .withColumn("shard", expr(s"seq_pos div $tokensPerShard"))
      .drop("seq_pos")
  }

  /** Per-shard manifest rows from an assignment. */
  def manifest(assigned: DataFrame, idCol: String, sourceCol: String): DataFrame =
    assigned.groupBy(col(sourceCol), col("shard"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        md5(concat_ws(",", sort_array(collect_list(col(idCol).cast("string")))))
          .as("id_checksum"))

  /**
   * Export: JSONL shards under `outDir/data/source=…/shard=…/` plus
   * `outDir/manifest` (parquet) and the Hadoop job-commit marker in
   * `outDir` ([[StoreSwap.mark]]). Overwrite-safe
   * and deterministic — rerunning after a partial failure converges to
   * the same layout. Returns the manifest for the caller.
   */
  def exportJsonl(docs: DataFrame, idCol: String, sourceCol: String,
      textCol: String, outDir: String, tokensPerShard: Long,
      batchCol: String): DataFrame = {
    val spark = docs.sparkSession
    val assigned = assignShards(docs, idCol, sourceCol, textCol, tokensPerShard, batchCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      assigned
        .select(col(sourceCol), col("shard"), col(idCol), col("n_tokens"), col(textCol))
        .write.mode(SaveMode.Overwrite)
        .partitionBy(sourceCol, "shard")
        .json(s"$outDir/data")
      val m = manifest(assigned, idCol, sourceCol)
      m.write.mode(SaveMode.Overwrite).parquet(s"$outDir/manifest")
      // the marker only after BOTH data and manifest are committed
      StoreSwap.mark(spark, outDir)
      spark.read.parquet(s"$outDir/manifest")
    } finally assigned.unpersist()
  }
}
