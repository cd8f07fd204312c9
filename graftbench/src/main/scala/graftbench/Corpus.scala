package graftbench

import graft.SparkEntry
import graft.functions.{GlobalRank, Retrieval}
import graft.sources.Tables
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/**
 * `corpus`: passes over a generated `documents` table, each pass the
 * four registry operators d9 (Dedup.contaminationPairs, eval slice
 * doc_id % 97 == 0), d6 (Dedup.dedupPipeline), d7 (Dedup.jaccardPairs +
 * connectedComponents) and r1 (Retrieval.bm25TopK over selfQueries),
 * called through the registry so their parameters are the registry's.
 * Set-up warms up on a small corpus of the same shape. The first timed
 * pass's results are written out for the DuckDB oracle comparison and
 * every later pass must reproduce them.
 */
object Corpus {
  val Ops: Seq[(String, String)] = Seq(
    "contamination" -> "d9_decontaminate",
    "dedup_pipeline" -> "d6_dedup_pipeline",
    "dup_clusters" -> "d7_dup_clusters",
    "bm25" -> "r1_bm25_topk")

  def run(spark: SparkSession, a: Args, rec: Recorder, sizes: Sizes): Unit = {
    import spark.implicits._
    val dataDir = s"${a.work}/data"
    val warmDir = s"${a.work}/warm"
    def writeDocs(dir: String, seed: Long, n: Int): Unit = {
      Fs.deleteRecursively(dir)
      Gen.documents(seed, n).toSeq
        .map(d => (d.id, d.text, d.lang, d.source, d.text.length.toLong))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .repartition(1).write.parquet(s"$dir/documents.parquet")
    }
    val prep = (1 to sizes.setupReps).map { _ =>
      rec.seconds {
        writeDocs(dataDir, a.seed, sizes.documents)
        writeDocs(warmDir, a.seed + 1, sizes.warmupDocuments)
      }
    }

    def runOp(query: String, dir: String): (Array[Row], StructType) =
      try {
        val df = SparkEntry.queries(query)(spark, dir)
        (df.collect(), df.schema)
      } finally {
        // composed operators hand back caller-owned persisted stages
        spark.catalog.clearCache()
        GlobalRank.releaseStaged()
      }

    // warm-up: one pass over a small corpus of the same shape
    val warm = rec.seconds(Ops.foreach { case (_, query) => runOp(query, warmDir) })
    rec.info("setup") = Map("prep_s" -> prep, "warmup_s" -> warm)

    // the first timed pass sets the reference (written out for the
    // DuckDB oracle); every later pass must reproduce it exactly
    val reference = scala.collection.mutable.Map.empty[String, (Long, String)]
    val t0 = rec.startTimed()
    val deadline = t0 + (a.seconds * 1e9).toLong
    var passes = 0
    while (passes == 0 || System.nanoTime() < deadline) {
      Ops.foreach { case (name, query) =>
        rec.op(name)(rec.tracer.span(s"functions.$name")(runOp(query, dataDir))) { case (rows, _) =>
          reference.get(name) match {
            case Some((n, h)) if rows.length != n || Rows.digest(rows) != h =>
              Some(s"$name: ${rows.length} rows vs $n, or content differs from the first pass")
            case _ => None
          }
        }.foreach { case (rows, schema) =>
          if (!reference.contains(name)) {
            reference(name) = (rows.length.toLong, Rows.digest(rows))
            spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq, 1), schema)
              .write.mode("overwrite").parquet(s"${a.work}/results/$query")
          }
        }
      }
      passes += 1
    }
    rec.endTimed()
    rec.info("corpus") = Map("timed_wall_s" -> (System.nanoTime() - t0) / 1e9, "passes" -> passes,
      "documents" -> sizes.documents,
      "results" -> reference.map { case (k, (n, h)) => k -> Map("rows" -> n, "sha256" -> h) })

    // oracle inputs: the registry's static DuckDB SQL for d9/d6/d7 and
    // the engine's quantized idf table that r1's generated oracle inlines
    val (tf, dl) = Retrieval.postingsOf(Tables.documents(spark, dataDir), "doc_id", "text")
    val idf = Retrieval.idfOf(tf, dl.count(), maxDfFrac = 1.0).orderBy(col("term")).collect()
      .map(r => Seq(r.getString(0), r.getLong(1)))
    rec.info("oracle") = Map(
      "documents" -> s"$dataDir/documents.parquet",
      "results_dir" -> s"${a.work}/results",
      "sql" -> Ops.map(_._2).flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap,
      "bm25_idf" -> idf.toSeq)
  }
}
