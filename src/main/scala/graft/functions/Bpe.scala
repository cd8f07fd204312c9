package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Distributed BPE (byte-pair-encoding) tokenizer fitting — the
 * "train the tokenizer on the corpus" step of a pretraining-data
 * pipeline (Sennrich et al. 2016), done the way it scales:
 *
 *  1. ONE corpus pass builds the word-frequency VOCAB
 *     (`word → count`) — after that, every merge iteration runs over
 *     the vocab only (distinct words ≪ corpus tokens; at 100 TB the
 *     vocab is millions of rows where the corpus is trillions).
 *  2. Each iteration: count adjacent symbol pairs weighted by word
 *     count (one small shuffle over the vocab), pick the argmax pair
 *     (count DESC, then lexicographic — fully deterministic), and
 *     merge it greedily left-to-right inside every word's symbol
 *     array. The merge is a pure `aggregate` lambda (codegen'd fold,
 *     no UDF); the vocab is `localCheckpoint`ed each round so the
 *     iterative plan can't grow superlinearly (same pattern as
 *     [[Dedup.connectedComponentsStar]]).
 *  3. The fitted vocab rows then HOLD each word's final segmentation,
 *     so applying the tokenizer is a broadcast join from words to
 *     their segment arrays — no per-token merge replay at apply time.
 *     Out-of-vocab words fall back to character symbols.
 *
 * The driver-side `.collect()` per iteration is ONE row (the argmax
 * pair) — bounded by construction.
 *
 * End-of-word handling: a `</w>` marker symbol is appended so merges
 * can distinguish word-final units, the standard construction.
 */
object Bpe {

  val EndOfWord = "</w>"

  /** One fitted merge: rank = iteration order. */
  final case class Merge(rank: Int, left: String, right: String, merged: String, n: Long)

  /** Word symbols: characters + the end-of-word marker. */
  private def charSymbols(word: Column): Column =
    concat(split(word, ""), array(lit(EndOfWord)))

  /** Word-frequency vocab with initial character segmentation.
   * fanOut: the corpus tokenize+explode map stage is single-split
   * serial at local scale; no-op at warehouse split counts. */
  def wordVocab(df: DataFrame, textCol: String): DataFrame =
    Stage.fanOut(df).select(explode(TextAnalysis.tokens(col(textCol))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("wc"))
      .withColumn("syms", charSymbols(col("word")))

  /** Adjacent symbol pairs of `syms`, exploded: (left, right). */
  private def adjacentPairs(syms: Column): Column =
    when(size(syms) < 2, array().cast("array<struct<l:string,r:string>>"))
      .otherwise(zip_with(
        slice(syms, lit(1), size(syms) - 1),
        slice(syms, lit(2), size(syms) - 1),
        (a, b) => struct(a.as("l"), b.as("r"))))

  /** Greedy left-to-right non-overlapping merge of the pair (l, r)
   * inside a symbol array — the BPE inner step as a fold: append each
   * symbol; when the accumulator tail is `l` and the incoming symbol
   * is `r`, replace the tail with the merged symbol. Replacing the
   * tail makes the merge non-overlapping by construction ("aaa" under
   * merge (a,a) → [aa, a], never [aa, aa]). */
  private def mergeInWord(syms: Column, l: String, r: String): Column = {
    val merged = l + r
    aggregate(syms, array().cast("array<string>"), (acc, x) =>
      when(size(acc) > 0 && element_at(acc, -1) === l && x === r,
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(merged))))
        .otherwise(concat(acc, array(x))))
  }

  /**
   * Fit `nMerges` BPE merges on the corpus. Returns the merge table
   * (rank-ordered) and the fitted vocab (word, wc, syms) whose `syms`
   * are the post-merge segmentations.
   *
   * Scale-adaptive dispatch (same pattern as
   * [[Dedup.connectedComponents]]): the corpus pass always runs
   * distributed, but when the resulting VOCAB is small
   * (≤ `inMemoryVocabThreshold` distinct words) the iterative merge
   * learning folds in memory on the driver — 12 sequential
   * vocab-sized Spark jobs are pure scheduler overhead at that size —
   * and the fitted vocab is parallelized back. Both paths implement
   * the identical deterministic rule (count DESC, then (l, r)
   * lexicographic; greedy left-to-right merge), so the dispatch is
   * invisible in results (BpeSpec pins small==distributed).
   */
  def fit(df: DataFrame, textCol: String, nMerges: Int,
      inMemoryVocabThreshold: Long = 200000L): (Seq[Merge], DataFrame) = {
    require(nMerges >= 0, s"nMerges must be >= 0, got $nMerges")
    // Size the vocab's partitioning to the VOCAB, not the corpus: the
    // iterations run tens of sequential small jobs, and per-task
    // overhead dominates when a few-thousand-row vocab is spread over
    // the corpus-sized shuffle width. ~100k words per partition keeps
    // executors busy at real scale and collapses to 1 task at test SF.
    val raw = wordVocab(df, textCol)
    // ONE corpus pass decides the regime AND feeds the in-memory fit:
    // collect up to threshold+1 (word, wc) rows — if everything came
    // back the collected rows ARE the full vocab (limit past the total
    // row count returns every row), so the small regime no longer pays
    // a separate count pass over the corpus (it paid 2 tokenize passes
    // before: count, then collect)
    val upTo = raw.select(col("word"), col("wc"))
      .limit((inMemoryVocabThreshold + 1).min(Int.MaxValue.toLong).toInt)
      .collect()
    if (upTo.length <= inMemoryVocabThreshold)
      return fitInMemory(df.sparkSession,
        upTo.map(r => (r.getString(0), r.getLong(1))), nMerges)
    val nWords = raw.count()
    val parts = math.max(1, math.min(
      df.sparkSession.sparkContext.defaultParallelism, (nWords / 100000L).toInt + 1))
    var vocab = raw.repartition(parts).localCheckpoint(true)
    val merges = Seq.newBuilder[Merge]
    var rank = 0
    var exhausted = false
    while (rank < nMerges && !exhausted) {
      val top = vocab
        .select(col("wc"), explode(adjacentPairs(col("syms"))).as("p"))
        .groupBy(col("p.l"), col("p.r")).agg(sum(col("wc")).as("n"))
        .orderBy(col("n").desc, col("l"), col("r"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (l, r, n) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += Merge(rank, l, r, l + r, n)
        vocab = vocab
          .withColumn("syms", mergeInWord(col("syms"), l, r))
          .localCheckpoint(true)
        rank += 1
      }
    }
    (merges.result(), vocab)
  }

  /** Driver-side merge learning for vocab-bounded corpora — the
   * identical algorithm as the distributed fold, on the collected
   * (word, wc) vocab. The collect is vocab-sized (≤ the dispatch
   * threshold by construction), never corpus-sized. */
  private def fitInMemory(spark: org.apache.spark.sql.SparkSession,
      wc: Array[(String, Long)], nMerges: Int): (Seq[Merge], DataFrame) = {
    import spark.implicits._
    var vocab: Array[(String, Long, Vector[String])] =
      wc.map { case (w, c) => (w, c, w.map(_.toString).toVector :+ EndOfWord) }
    val merges = Seq.newBuilder[Merge]
    var rank = 0
    var exhausted = false
    while (rank < nMerges && !exhausted) {
      val pairCounts = scala.collection.mutable.Map[(String, String), Long]()
      vocab.foreach { case (_, c, syms) =>
        var i = 0
        while (i < syms.length - 1) {
          val p = (syms(i), syms(i + 1))
          pairCounts(p) = pairCounts.getOrElse(p, 0L) + c
          i += 1
        }
      }
      if (pairCounts.isEmpty) exhausted = true
      else {
        val ((l, r), n) = pairCounts.minBy { case ((a, b), m) => (-m, a, b) }
        merges += Merge(rank, l, r, l + r, n)
        vocab = vocab.map { case (w, c, syms) =>
          val out = scala.collection.mutable.ArrayBuffer[String]()
          syms.foreach { x =>
            if (out.nonEmpty && out.last == l && x == r) out(out.length - 1) = l + r
            else out += x
          }
          (w, c, out.toVector)
        }
        rank += 1
      }
    }
    (merges.result(), vocab.toSeq.toDF("word", "wc", "syms"))
  }

  /**
   * Tokenize a corpus with a fitted vocab: per-doc token ids come from
   * the words' stored segmentations via a broadcast-able join; OOV
   * words fall back to character symbols (exactly what rank-replay
   * would produce for unseen words only when no merge applies — the
   * documented contract: the vocab must be fitted on, or a superset
   * of, the corpus being tokenized for exact BPE semantics).
   * Output: (idCol, token, pos) — one row per emitted subword.
   */
  def tokenize(df: DataFrame, idCol: String, textCol: String,
      fittedVocab: DataFrame): DataFrame = {
    // fanOut: corpus tokenize+posexplode map stage — single-split
    // serial at local scale, no-op at warehouse split counts
    val words = Stage.fanOut(df).select(col(idCol),
      posexplode(TextAnalysis.tokens(col(textCol))).as(Seq("wpos", "word")))
    words
      .join(broadcast(fittedVocab.select(col("word"), col("syms"))), Seq("word"), "left")
      .withColumn("syms", coalesce(col("syms"), charSymbols(col("word"))))
      .select(col(idCol), col("wpos"),
        posexplode(col("syms")).as(Seq("spos", "token")))
      .select(col(idCol), col("token"),
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(col(idCol)).orderBy(col("wpos"), col("spos"))).as("pos"))
  }
}
