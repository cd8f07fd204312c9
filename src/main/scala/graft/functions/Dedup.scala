package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.GraftColumns

/**
 * Deduplication operators for training-data pipelines: exact,
 * n-gram-Jaccard, MinHash+LSH, SimHash, embedding-cosine.
 *
 * Scale design notes (the 100 TB story):
 *  - exact dedup is a hash aggregation on md5(text) — one shuffle keyed
 *    by digest, map-side partial agg;
 *  - near-dup candidate generation NEVER goes pairwise over the corpus:
 *    the inverted-index / LSH-band join shuffles on (shingle|band) keys
 *    so only documents sharing a key meet, and verification runs on
 *    candidates only;
 *  - all hashes are md5 expressions — deterministic, engine-portable,
 *    no RNG to synchronize across executors.
 */
object Dedup {

  /** Distinct word n-gram shingles of a token-array column, first
   * occurrences in document order. Native [[expressions.WordNgrams]]. */
  def shinglesFromTokens(toks: Column, n: Int): Column = wordNgrams(toks, n, distinct = true)

  /** Non-distinct word n-grams in document order — the multiset form
   * repetition metrics need (a shingle SET can't tell "once" from
   * "fifty times"). */
  def ngramsFromTokens(toks: Column, n: Int): Column = wordNgrams(toks, n, distinct = false)

  private def wordNgrams(toks: Column, n: Int, distinct: Boolean): Column =
    GraftColumns.column(expressions.WordNgrams(GraftColumns.expression(toks), n, distinct))

  /** Distinct word n-gram shingles of a text column. */
  def shingles(text: Column, n: Int): Column =
    shinglesFromTokens(TextAnalysis.tokens(text), n)

  /** Distinct character n-gram shingles of a whitespace-normalized
   * text column — the right unit for scripts without whitespace word
   * boundaries (CJK) or for whitespace-insensitive matching. Same
   * distinct-set semantics as word shingles, so the sets drop into the
   * same jaccard/minhash machinery. */
  def charShinglesFromNormalized(t: Column, n: Int): Column =
    GraftColumns.column(expressions.CharNgrams(GraftColumns.expression(t), n, distinct = true))

  /** (doc_id, char-shingle set), staged + materialized like
   * [[shingleSets]] (same EAGER row-block materialization — see that
   * method's AQE note and [[Stage.eager]]). */
  def charShingleSets(df: DataFrame, keyCol: String, textCol: String, n: Int): DataFrame =
    Stage.eager(Stage.fanOut(df).select(col(keyCol).as("doc_id"),
      charShinglesFromNormalized(regexp_replace(col(textCol), "\\s+", " "), n).as("sh_set")))

  /**
   * Cache-ownership discipline for the composed operators (the batch
   * analogue of StreamingNearDedup.processBatch's finally block): an
   * operator that PERSISTS a staging DataFrame internally must not
   * leak it for the session. `ownStages` materializes the (small,
   * post-threshold) result eagerly while the stages are cached, then
   * releases every stage. The returned DataFrame is itself persisted
   * and becomes the CALLER's to release — the operator retains
   * nothing. On failure both the stages and the partial result are
   * released before the error propagates.
   */
  /** Materialize a stage that several downstream subtrees reference
   * under DIFFERENT projections (identical subtrees need no cache —
   * AQE's stage cache shares their exchange): [[Stage.eager]] row
   * blocks — one pass (the AQE-recompute guard), none of the columnar
   * encode/decode or serialized-count cost the round-16
   * `persist(); count()` form paid (r17 profiling). */
  private def eagerStage(df: DataFrame): DataFrame = Stage.eager(df)

  private def ownStages(stages: DataFrame*)(result: DataFrame): DataFrame = {
    val out = result.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try out.count()
    catch {
      case t: Throwable =>
        out.unpersist(false)
        stages.foreach(Stage.release)
        throw t
    }
    stages.foreach(Stage.release)
    out
  }

  /**
   * Exact dedup by content digest: one row per distinct text with the
   * (minimal) representative key and the duplicate count.
   * Input columns: keyCol (numeric id), textCol.
   */
  def exact(df: DataFrame, keyCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("digest"))
      .agg(min(col(keyCol)).as("keep_id"), count(lit(1)).as("dup_count"))

  /** The (doc_id, sh_set) projection WITHOUT materialization — for
   * single-use consumers (an index that is streamed through one join).
   * fanOut: the scan→tokenize→shingle chain is map-only, so on a
   * single-split local scan it ran in ONE task (profiled 430-700 ms
   * serial jobs); no-op at warehouse split counts. */
  private def shingleSetsPlan(df: DataFrame, keyCol: String, textCol: String, n: Int): DataFrame =
    Stage.fanOut(df).select(col(keyCol).as("doc_id"), shingles(col(textCol), n).as("sh_set"))

  /** (doc_id, shingle set) — MATERIALIZED once as row blocks
   * ([[Stage.eager]]) so shingling runs a single time per corpus. At
   * warehouse scale this is the stage you'd checkpoint to storage
   * instead.
   *
   * The materialization is EAGER: AQE materializes independent
   * exchange subtrees concurrently, and every subtree that references
   * a lazily-persisted-but-not-yet-computed block recomputes the
   * whole scan→tokenize→shingle lineage itself (no cross-task compute
   * lock) — profiled at 8 full corpus passes inside one d7 action
   * (r16). Row blocks instead of a columnar persist: the array-typed
   * sh_set pays the 10-30× InMemoryRelation encode/decode penalty the
   * r16 e4 experiment measured on array rows. */
  def shingleSets(df: DataFrame, keyCol: String, textCol: String, n: Int): DataFrame =
    Stage.eager(shingleSetsPlan(df, keyCol, textCol, n))

  /** [[shingleSets]] as a plain persisted+materialized cache — for
   * streaming micro-batch callers whose RESULT is consumed lazily
   * AFTER the stage is released in their finally: `unpersist` leaves
   * the lineage recomputable, which [[shingleSets]]' truncated
   * checkpoint cannot. Batch operators prefer the row-block form
   * (no columnar array encode/decode). */
  def shingleSetsPersisted(df: DataFrame, keyCol: String, textCol: String, n: Int): DataFrame = {
    val s = shingleSetsPlan(df, keyCol, textCol, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    s.count()
    s
  }

  /** Exploded inverted index: one row per (key, shingle). Uncached —
   * an index is consumed by exactly one join, so caching it would only
   * add a second materialization of the corpus. */
  def shingleIndex(df: DataFrame, keyCol: String, textCol: String, n: Int): DataFrame =
    shingleSetsPlan(df, keyCol, textCol, n)
      .select(col("doc_id"), explode(col("sh_set")).as("shingle"))

  /**
   * n-gram Jaccard near-dup pairs via inverted-index join:
   * docs sharing ≥1 shingle → common-shingle counts → Jaccard =
   * common / (|A| + |B| − common), thresholded. Output:
   * (doc_a, doc_b, jaccard) with doc_a < doc_b.
   */
  def jaccardPairs(df: DataFrame, keyCol: String, textCol: String,
      n: Int = 5, threshold: Double = 0.5,
      maxShingleFreq: Option[Int] = None): DataFrame = {
    val sets = shingleSets(df, keyCol, textCol, n)
    ownStages(sets)(jaccardPairsFromSets(sets, threshold, maxShingleFreq))
  }

  /** Generic Jaccard near-dup over ANY (doc_id, sh_set) table — word
   * shingles ([[shingleSets]]), char shingles ([[charShingleSets]]),
   * or caller-provided feature sets share the same machinery. */
  def jaccardPairsFromSets(sets: DataFrame, threshold: Double,
      maxShingleFreq: Option[Int] = None): DataFrame = {
    val fullIdx = sets.select(col("doc_id"), explode(col("sh_set")).as("shingle"))
    maxShingleFreq match {
      case None =>
        // Exact path: inverted-index join + common counts.
        val sizes = sets.select(col("doc_id"), size(col("sh_set")).as("n_shingles"))
          .filter(col("n_shingles") > 0)
        val a = fullIdx.select(col("doc_id").as("doc_a"), col("shingle"))
        val b = fullIdx.select(col("doc_id").as("doc_b"), col("shingle"))
        val common = a.join(b, Seq("shingle"))
          .filter(col("doc_a") < col("doc_b"))
          .groupBy(col("doc_a"), col("doc_b"))
          .agg(count(lit(1)).as("common"))
        common
          .join(sizes.select(col("doc_id").as("doc_a"), col("n_shingles").as("na")), "doc_a")
          .join(sizes.select(col("doc_id").as("doc_b"), col("n_shingles").as("nb")), "doc_b")
          .withColumn("jaccard",
            round(col("common").cast("double") / (col("na") + col("nb") - col("common")), 6))
          .filter(col("jaccard") >= threshold)
          .select(col("doc_a"), col("doc_b"), col("jaccard"))
      case Some(cap) =>
        // Skew-guarded path (the "stop-shingle" cap): a shingle appearing
        // in f docs contributes f² candidate pairs, so one boilerplate
        // shingle can dominate the join at corpus scale. The CAPPED index
        // generates candidates only; each surviving pair's Jaccard is
        // recomputed EXACTLY from the two full shingle sets (set
        // intersection per candidate) — the cap affects candidate recall,
        // never a reported score.
        val freq = fullIdx.groupBy(col("shingle")).agg(count(lit(1)).as("_f"))
        val rare = fullIdx.join(freq.filter(col("_f") > cap).select(col("shingle")),
          Seq("shingle"), "left_anti")
        // Candidates by per-shingle pair EXPLOSION, not an index
        // self-join: the anti-join output is already partitioned by
        // shingle, so the collect_list agg needs NO new exchange, and
        // the (a < b) pairs spill straight out of each posting list —
        // the old l⋈r self-join sorted the full index twice and paid
        // the SMJ machinery for the identical pair set (guide §2.4:
        // two operations keyed the same way share one exchange).
        // Transient bound: a shingle at the cap holds cap ids, so the
        // per-row pair array is ≤ cap²/2 structs — the same volume the
        // self-join would EMIT for that key, just materialized in one
        // row; cap=1000 keeps it ~8 MB worst-case, average is 1-2 ids.
        val cands = rare.groupBy(col("shingle"))
          .agg(collect_list(col("doc_id")).as("_ds"))
          .select(explode(flatten(transform(col("_ds"), x =>
            transform(filter(col("_ds"), y => y > x),
              y => struct(x.as("doc_a"), y.as("doc_b")))))).as("_p"))
          .select(col("_p.doc_a").as("doc_a"), col("_p.doc_b").as("doc_b"))
          .distinct()
        cands
          .join(sets.select(col("doc_id").as("doc_a"), col("sh_set").as("_sa")), "doc_a")
          .join(sets.select(col("doc_id").as("doc_b"), col("sh_set").as("_sb")), "doc_b")
          .withColumn("_inter", size(array_intersect(col("_sa"), col("_sb"))))
          .withColumn("jaccard", round(col("_inter").cast("double") /
            (size(col("_sa")) + size(col("_sb")) - col("_inter")), 6))
          .filter(col("jaccard") >= threshold)
          .select(col("doc_a"), col("doc_b"), col("jaccard"))
    }
  }

  /**
   * Cross-corpus contamination (benchmark decontamination): for every
   * (train, eval) doc pair sharing word n-gram shingles, containment
   * = |train ∩ eval| / |eval shingles| — the fraction of the EVAL doc
   * reproduced inside the train doc (the directional metric
   * decontamination needs; Jaccard under-fires when a short benchmark
   * item is embedded in a long train doc). Candidates come from an
   * inverted-index equi-join on the shingle key — never all-pairs —
   * and the eval side is benchmark-sized, so Catalyst broadcasts its
   * index under the threshold; at corpus scale the train side streams
   * map-side against it. Output: (train_id, eval_id, common,
   * containment ≥ minContainment).
   */
  def contaminationPairs(train: DataFrame, eval: DataFrame, keyCol: String,
      textCol: String, n: Int = 5, minContainment: Double = 0.5): DataFrame = {
    // train side: UNCACHED index — the corpus-scale side streams
    // through the one join exactly once; only the benchmark-sized eval
    // sets are staged (and released by ownStages)
    val trainIdx = shingleIndex(train, keyCol, textCol, n)
      .select(col("doc_id").as("train_id"), col("shingle"))
    val evalSets = shingleSets(eval, keyCol, textCol, n)
    val evalIdx = evalSets
      .select(col("doc_id").as("eval_id"), explode(col("sh_set")).as("shingle"))
    val evalSizes = evalSets
      .select(col("doc_id").as("eval_id"), size(col("sh_set")).as("_ne"))
      .filter(col("_ne") > 0)
    ownStages(evalSets)(
      trainIdx.join(evalIdx, Seq("shingle"))
        .groupBy(col("train_id"), col("eval_id"))
        .agg(count(lit(1)).as("common"))
        .join(evalSizes, "eval_id")
        .withColumn("containment", round(col("common").cast("double") / col("_ne"), 6))
        .filter(col("containment") >= minContainment)
        .select(col("train_id"), col("eval_id"), col("common"), col("containment")))
  }

  /** Serialized Bloom filter over a column's xxhash64 values — Spark's
   * own BloomFilterAggregate sketch (the runtime row-level-filter
   * machinery), collected to the driver as one compact binary. Merge
   * is a bitwise OR, so the result is partitioning-independent. */
  def bloomOf(df: DataFrame, c: Column, expectedItems: Long,
      fpp: Double = 0.01): Array[Byte] = {
    import org.apache.spark.sql.catalyst.expressions.XxHash64
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val numBits = org.apache.spark.util.sketch.BloomFilter
      .optimalNumOfBits(expectedItems, fpp)
    val agg = new BloomFilterAggregate(
      XxHash64(Seq(GraftColumns.toExpression(c)), 42L),
      org.apache.spark.sql.catalyst.expressions.Literal(expectedItems),
      org.apache.spark.sql.catalyst.expressions.Literal(numBits))
    df.agg(GraftColumns.column(agg.toAggregateExpression()).as("bf"))
      .head.getAs[Array[Byte]](0)
  }

  /** Codegen'd membership probe against a [[bloomOf]] sketch (false
   * positives possible, false negatives not). The sketch rides to
   * executors as a literal inside the task binary. */
  def bloomMightContain(bloom: Array[Byte], c: Column): Column = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, XxHash64}
    GraftColumns.column(BloomFilterMightContain(
      Literal(bloom, org.apache.spark.sql.types.BinaryType),
      XxHash64(Seq(GraftColumns.toExpression(c)), 42L)))
  }

  /**
   * Bloom-prefiltered decontamination — [[contaminationPairs]]' exact
   * contract at the 100 TB shape. The eval (benchmark) side's shingles
   * fold into a Bloom filter (a few MB even for millions of benchmark
   * shingles); the TRAIN side — the corpus-scale side — drops every
   * shingle the sketch rejects BEFORE the inverted-index join's
   * exchange. A false positive only re-admits a shingle into the join,
   * where the exact equality condition eliminates it, so the output is
   * bit-identical to the unfiltered plan while the train→shuffle
   * volume falls to ~(true hit rate + fpp) of the corpus. The two
   * extra jobs on the EVAL side (count + sketch build) are
   * benchmark-sized by construction.
   */
  def contaminationPairsBloom(train: DataFrame, eval: DataFrame, keyCol: String,
      textCol: String, n: Int = 5, minContainment: Double = 0.5,
      fpp: Double = 0.01): DataFrame = {
    val trainIdx = shingleIndex(train, keyCol, textCol, n)
      .select(col("doc_id").as("train_id"), col("shingle"))
    val evalSets = shingleSets(eval, keyCol, textCol, n)
    val evalIdx = evalSets
      .select(col("doc_id").as("eval_id"), explode(col("sh_set")).as("shingle"))
    val evalSizes = evalSets
      .select(col("doc_id").as("eval_id"), size(col("sh_set")).as("_ne"))
      .filter(col("_ne") > 0)
    val expected = evalIdx.select(col("shingle")).distinct().count().max(1L)
    val bloom = bloomOf(evalIdx, col("shingle"), expected)
    ownStages(evalSets)(
      trainIdx.filter(bloomMightContain(bloom, col("shingle")))
        .join(evalIdx, Seq("shingle"))
        .groupBy(col("train_id"), col("eval_id"))
        .agg(count(lit(1)).as("common"))
        .join(evalSizes, "eval_id")
        .withColumn("containment", round(col("common").cast("double") / col("_ne"), 6))
        .filter(col("containment") >= minContainment)
        .select(col("train_id"), col("eval_id"), col("common"), col("containment")))
  }

  /**
   * Embedding-level (semantic) decontamination — the leakage the
   * exact/n-gram decontaminate family ([[contaminationPairs]],
   * [[contaminationPairsBloom]]) cannot see: an eval item that was
   * PARAPHRASED into the training corpus shares no shingles but still
   * sits next to its source in embedding space. Flags every corpus
   * vector whose cosine to a benchmark vector reaches `threshold`,
   * candidate-blocked by the SemDedup coarse quantizer: both sides
   * assign to their nearest centroid cell ([[Similarity.assignCells]]
   * — map-only literal argmin, deterministic ties) and only same-cell
   * pairs are scored, so the pair space is Σ|cell_corpus|·|cell_bench|
   * — never corpus × bench. The benchmark side is eval-set sized, so
   * at scale the per-cell bench slices broadcast and the corpus is
   * read once, map-side.
   *
   * Output: (corpusKey, bench_id, cosine) — one row per flagged
   * (corpus, benchmark) pair, cosine rounded to 6 (the e3/d5 contract;
   * deterministic cross-engine over the same doubles).
   */
  def semanticDecontaminate(corpus: DataFrame, corpusKey: String,
      bench: DataFrame, benchKey: String, embCol: String,
      centroids: Seq[(Int, Seq[Float])], threshold: Double,
      margin: Double = 0.0): DataFrame =
    semanticDecontaminateAgainst(corpus, corpusKey, embCol,
      assignBenchCells(bench, benchKey, embCol, centroids),
      centroids, threshold, margin)

  /** The bench side of [[semanticDecontaminate]]: eval vectors
   * assigned to their quantizer cells — exposed so a STANDING guard
   * (streaming ingest) assigns the eval set once and serves every
   * batch from it. Output: (cell, bench_id, _vb). */
  def assignBenchCells(bench: DataFrame, benchKey: String, embCol: String,
      centroids: Seq[(Int, Seq[Float])]): DataFrame =
    Similarity.assignCells(
        bench.select(col(benchKey).as("vec_id"), col(embCol).as("embedding")),
        centroids)
      .select(col("cell"), col("vec_id").as("bench_id"), col("embedding").as("_vb"))

  /** [[semanticDecontaminate]] against a pre-assigned bench table
   * ([[assignBenchCells]] output) — the per-batch body of the
   * streaming face, and the batch operator's own implementation. */
  def semanticDecontaminateAgainst(corpus: DataFrame, corpusKey: String,
      embCol: String, benchAssigned: DataFrame,
      centroids: Seq[(Int, Seq[Float])], threshold: Double,
      margin: Double = 0.0): DataFrame = {
    val corpusVecs =
      corpus.select(col(corpusKey).as("vec_id"), col(embCol).as("embedding"))
    // margin > 0 is the cross-cell recall lever (the e5 xcell
    // contract): near-boundary corpus vectors ALSO probe their
    // second-nearest cell, so a bench vector just across the boundary
    // is still met — pair space grows by the boundary fraction only.
    // The bench side assigns once, so each flagged pair joins in
    // exactly one cell and needs no dedup.
    val c = (if (margin > 0 && centroids.size >= 2)
        Similarity.assignCellsWithMargin(corpusVecs, centroids, margin)
      else Similarity.assignCells(corpusVecs, centroids))
      .select(col("cell"), col("vec_id"), col("embedding").as("_vc"),
        Similarity.norm(col("embedding")).as("_nc"))
    // norms staged per ROW before the cell join (Similarity
    // .cosineWithNorms): a corpus row was paying 2·|bench cell| extra
    // FloatVecDots otherwise
    c.join(benchAssigned.withColumn("_nb", Similarity.norm(col("_vb"))), Seq("cell"))
      .withColumn("cosine", round(Similarity.cosineWithNorms(
        col("_vc"), col("_vb"), col("_nc"), col("_nb")), 6))
      .filter(col("cosine") >= threshold)
      .select(col("vec_id").as(corpusKey), col("bench_id"), col("cosine"))
  }

  /** Affine-permutation constants for MinHash (deterministic, shared
   * with the SQL oracle). Products stay < 2^63: base hash < 2^32,
   * multiplier < 2^17. */
  def minhashA(i: Int): Long = 40503L * i + 12289L
  def minhashB(i: Int): Long = 9973L * i + 7919L
  val MinhashMod: Long = 2147483647L

  /** 32-bit base hash of a string: first 8 hex chars of md5, as a
   * BIGINT — portable to any engine with md5. */
  def md5Hash32(c: Column): Column = conv(substring(md5(c), 1, 8), 16, 10).cast("long")

  /**
   * MinHash signatures: ONE md5 per shingle, then k cheap affine
   * permutations `(a_i*h + b_i) mod p` minimized per document — no
   * explode, no shuffle, one narrow projection per doc (the classic
   * one-hash MinHash construction).
   * Output: (doc_id, sig_0 … sig_{k-1}).
   */
  def minhashSignatures(df: DataFrame, keyCol: String, textCol: String,
      n: Int = 5, k: Int = 16): DataFrame =
    minhashSignaturesFromSets(shingleSetsPlan(df, keyCol, textCol, n), k)

  /** Signatures over a caller-provided (doc_id, sh_set) table — lets
   * callers that also need the sets stage own (and unpersist) the
   * one persisted copy instead of relying on cache-plan unification. */
  def minhashSignaturesFromSets(sets: DataFrame, k: Int = 16): DataFrame = {
    val hashed = sets
      .filter(size(col("sh_set")) > 0)
      .select(col("doc_id"), transform(col("sh_set"), s => md5Hash32(s)).as("_h"))
    val sigs = (0 until k).map { i =>
      array_min(transform(col("_h"),
        h => (h * minhashA(i) + minhashB(i)) % MinhashMod)).as(s"sig_$i")
    }
    hashed.select(col("doc_id") +: sigs: _*)
  }

  /**
   * LSH banding: group the k signatures into `bands` bands of k/bands
   * rows each; band key = md5 of the concatenated band slice. Documents
   * sharing any band key become candidate pairs (shuffle on band key —
   * never pairwise over the corpus).
   */
  /** Per-document LSH band keys: (doc_id, band, key) — the banding
   * stage of [[lshCandidates]], exposed on its own for callers that
   * need the keys themselves (e.g. streaming near-dedup state). */
  def bandKeys(sigs: DataFrame, k: Int = 16, bands: Int = 4): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    val rowsPerBand = k / bands
    val bandCols = (0 until bands).map { bnd =>
      val slice = (0 until rowsPerBand).map(r => col(s"sig_${bnd * rowsPerBand + r}"))
      struct(lit(bnd).as("band"), md5(concat_ws("|", slice: _*)).as("key"))
    }
    sigs.select(col("doc_id"), explode(array(bandCols: _*)).as("b"))
      .select(col("doc_id"), col("b.band").as("band"), col("b.key").as("key"))
  }

  def lshCandidates(sigs: DataFrame, k: Int = 16, bands: Int = 4): DataFrame = {
    val banded = bandKeys(sigs, k, bands)
    val l = banded.select(col("band"), col("key"), col("doc_id").as("doc_a"))
    val r = banded.select(col("band"), col("key"), col("doc_id").as("doc_b"))
    l.join(r, Seq("band", "key"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b")).distinct()
  }

  /**
   * MinHash+LSH near-dup pairs: LSH candidates verified with exact
   * shingle Jaccard. Output: (doc_a, doc_b, jaccard).
   */
  def minhashDedupPairs(df: DataFrame, keyCol: String, textCol: String,
      n: Int = 5, k: Int = 16, bands: Int = 4, threshold: Double = 0.5): DataFrame = {
    val sets = shingleSets(df, keyCol, textCol, n)
    ownStages(sets)(minhashDedupPairsFromSets(sets, k, bands, threshold))
  }

  /** LSH+verify over a caller-provided (and caller-owned) (doc_id,
   * sh_set) table. */
  def minhashDedupPairsFromSets(sets: DataFrame, k: Int = 16, bands: Int = 4,
      threshold: Double = 0.5): DataFrame = {
    val cands = lshCandidates(minhashSignaturesFromSets(sets, k), k, bands)
    // Verify CANDIDATES ONLY, from the (persisted) shingle sets — the
    // whole point of LSH: the full inverted-index join never runs; per
    // candidate pair the exact Jaccard is one set intersection.
    cands
      .join(sets.select(col("doc_id").as("doc_a"), col("sh_set").as("_sa")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("sh_set").as("_sb")), "doc_b")
      .withColumn("_inter", size(array_intersect(col("_sa"), col("_sb"))))
      .withColumn("jaccard", round(col("_inter").cast("double") /
        (size(col("_sa")) + size(col("_sb")) - col("_inter")), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /**
   * The composed dedup pipeline for real corpora: exact-dedup FIRST
   * (collapse md5-identical texts to one representative), then
   * MinHash+LSH near-dup over representatives only, then expand pairs
   * back through the exact groups. Identical documents are the common
   * case at corpus scale and are quadratic poison for LSH banding
   * (every clone pair shares every band); collapsing them first keeps
   * the candidate join proportional to DISTINCT near-dup structure.
   * Output: (doc_a, doc_b, jaccard) over ORIGINAL keys, exact dups
   * reported with jaccard = 1.0.
   */
  def dedupPipeline(df: DataFrame, keyCol: String, textCol: String,
      n: Int = 5, k: Int = 16, bands: Int = 4, threshold: Double = 0.5): DataFrame = {
    // fanOut: the corpus md5 map stages below are single-split serial
    // at local scale; no-op at warehouse split counts
    val base = Stage.fanOut(df)
    val groups = base.select(md5(col(textCol)).as("_digest"), col(keyCol).as("_k"))
    val reps = base.groupBy(md5(col(textCol)).as("_digest"))
      .agg(min(col(keyCol)).as(keyCol), first(col(textCol)).as(textCol))
    // near-dup pairs among representatives (distinct texts only) —
    // eager + cached (minhashDedupPairs materialized it); released by
    // ownStages below once the expanded result is materialized
    val repPairs = minhashDedupPairs(reps.drop("_digest"), keyCol, textCol, n, k, bands, threshold)
    // expand: rep pair → all member pairs across the two groups.
    // members is eager ([[eagerStage]]): three consumers under three
    // different projections (both expand joins + the exact-pair self
    // join) would otherwise each re-run the corpus digest shuffle
    val members = eagerStage(groups.join(
      reps.select(col("_digest"), col(keyCol).as("_rep")), "_digest")
      .select(col("_rep"), col("_k")))
    val expanded = repPairs
      .join(members.select(col("_rep").as("doc_a"), col("_k").as("_ka")), "doc_a")
      .join(members.select(col("_rep").as("doc_b"), col("_k").as("_kb")), "doc_b")
      .select(least(col("_ka"), col("_kb")).as("doc_a"),
        greatest(col("_ka"), col("_kb")).as("doc_b"), col("jaccard"))
    // exact-dup pairs within each group (vs the group's keeper)
    val exactPairs = members.join(
      members.select(col("_rep"), col("_k").as("_k2")), "_rep")
      .filter(col("_k") < col("_k2"))
      .select(col("_k").as("doc_a"), col("_k2").as("doc_b"), lit(1.0).as("jaccard"))
    ownStages(repPairs, members)(expanded.unionByName(exactPairs).distinct())
  }

  /** Clone mass of a corpus in [0,1]: 1 − distinct-digest/total, from
   * ONE map-side-partial pass (count + HLL over md5(text) — no
   * shuffle of texts, ~2 % relative error via an explicit rsd, plenty
   * for a dispatch threshold). The probe [[nearDupAuto]] dispatches
   * on. */
  def cloneRatio(df: DataFrame, textCol: String): Double = {
    val r = df.agg(count(lit(1)).as("n"),
      approx_count_distinct(md5(col(textCol)), 0.02).as("d")).head()
    val total = r.getLong(0)
    if (total == 0L) 0.0 else 1.0 - r.getLong(1).toDouble / total
  }

  /**
   * Density-dispatched near-dup pairs — the library closing its own
   * footgun: [[dedupPipeline]] (exact-collapse → LSH over
   * representatives → expand) wins when clones are plentiful (clone
   * pairs are quadratic poison for LSH banding — every clone pair
   * shares every band), but on a mostly-distinct corpus its
   * collapse/expand joins are pure overhead and direct
   * [[minhashDedupPairs]] is cheaper. One [[cloneRatio]] probe (a
   * map-side aggregate, no shuffle) picks the regime; past
   * `cloneRatioFrom` clone mass the pipeline runs, below it the
   * direct path runs with the cheap exact-group supplement so BOTH
   * regimes return the identical pair set (dedupPipeline semantics:
   * near-dup pairs over original keys, exact dups at jaccard 1.0 —
   * including short-text clones whose shingle sets are empty, which
   * pure LSH cannot see). The dispatch is therefore unobservable in
   * the output, exactly like [[connectedComponents]]' regimes.
   */
  def nearDupAuto(df: DataFrame, keyCol: String, textCol: String,
      n: Int = 5, k: Int = 16, bands: Int = 4, threshold: Double = 0.5,
      cloneRatioFrom: Double = 0.10): DataFrame = {
    if (cloneRatio(df, textCol) >= cloneRatioFrom)
      dedupPipeline(df, keyCol, textCol, n, k, bands, threshold)
    else {
      val near = minhashDedupPairs(df, keyCol, textCol, n, k, bands, threshold)
      val groups = df.select(md5(col(textCol)).as("_digest"), col(keyCol).as("_k"))
      val exactPairs = groups
        .join(groups.select(col("_digest"), col("_k").as("_k2")), "_digest")
        .filter(col("_k") < col("_k2"))
        .select(col("_k").as("doc_a"), col("_k2").as("doc_b"), lit(1.0).as("jaccard"))
      // near is a caller-owned persist from minhashDedupPairs; fold it
      // into this operator's staged set so only the final result
      // remains cached (same ownership contract as dedupPipeline)
      ownStages(near)(near.unionByName(exactPairs).distinct())
    }
  }

  /**
   * Variable-length duplicated-span merge — the d10 follow-up that
   * turns fixed n-token duplicated spans into the unit span-removal
   * actually needs: MAXIMAL duplicated substrings. A token position is
   * "duplicated" when the n-gram starting there appears in ≥ minDocs
   * documents (d10's corpus-level test); consecutive duplicated start
   * positions overlap by construction, so merging them (classic
   * gaps-and-islands: island = pos − row_number per doc — ONE window
   * per doc) yields each document's maximal duplicated regions, with
   * the region text recovered by slicing the token array.
   *
   * Plan shape at scale: occurrence stream joins the (distinct,
   * thresholded) duplicated-span set on the span digest — one shuffle
   * keyed by digest, map-side distinct; the island window is one
   * shuffle on doc_id; region slicing joins back to the cached token
   * projection on doc_id. No pairwise doc joins anywhere.
   * Output: (doc_id, start_pos [1-based], n_tokens, n_grams,
   * region_md5).
   */
  def duplicatedSpanRegions(df: DataFrame, keyCol: String, textCol: String,
      n: Int = 8, minDocs: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // eager row blocks: occ + the region-slicing join both reference
    // it — tokenize once, not per subtree (AQE note at
    // [[shingleSets]]); fanOut parallelizes the single-split tokenize
    val toks = Stage.eager(Stage.fanOut(df).select(col(keyCol).as("doc_id"),
      TextAnalysis.tokens(col(textCol)).as("_t")))
    val occ = toks.select(col("doc_id"),
        posexplode(ngramsFromTokens(col("_t"), n)).as(Seq("_p", "_span")))
      .select(col("doc_id"), (col("_p") + 1).as("pos"), md5(col("_span")).as("span_md5"))
    val dup = occ.select(col("doc_id"), col("span_md5")).distinct()
      .groupBy(col("span_md5")).agg(count(lit(1)).as("_nd"))
      .filter(col("_nd") >= minDocs)
      .select(col("span_md5"))
    val wd = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val regions = occ.join(dup, Seq("span_md5"))
      .withColumn("_island", col("pos") - row_number().over(wd))
      .groupBy(col("doc_id"), col("_island"))
      .agg(min(col("pos")).as("start_pos"), count(lit(1)).as("n_grams"))
      .withColumn("n_tokens", col("n_grams") + (n - 1))
    val out = regions.join(toks, Seq("doc_id"))
      .select(col("doc_id"),
        col("start_pos").cast("long").as("start_pos"),
        col("n_tokens").cast("long").as("n_tokens"),
        col("n_grams"),
        md5(concat_ws(" ",
          slice(col("_t"), col("start_pos"), col("n_tokens")))).as("region_md5"))
    ownStages(toks)(out)
  }

  /**
   * Cross-document boilerplate segment removal — the fixed-window form
   * of paragraph-level dedup (RefinedWeb/CCNet remove paragraphs
   * repeated across many pages; untagged text has no paragraph marks,
   * so the unit here is a NON-overlapping `w`-token segment, last one
   * short). A segment whose exact content occurs in ≥ `minDocs`
   * DISTINCT documents is boilerplate: it is removed from every
   * carrier, and the surviving segments rejoin in order (all-dropped
   * documents come back as the empty string, never vanish).
   *
   * Plan shape at scale: segments shuffle once keyed by their md5
   * digest (never the text) for the distinct-doc count; the
   * thresholded digest set — tiny after the ≥ minDocs filter — joins
   * back to the segment stream (AQE broadcasts it when it fits);
   * reassembly is one hash aggregation on doc id whose collect_list
   * holds only KEPT segments (`collect_list` skips the NULLs the
   * drop-branch produces), so state per doc never exceeds the
   * surviving text. No pairwise doc joins anywhere.
   * Output: (doc_id, clean_text, n_segments, n_dropped).
   */
  def boilerplateSegmentRemoval(df: DataFrame, keyCol: String, textCol: String,
      w: Int = 8, minDocs: Int = 3): DataFrame = {
    val segs = df.select(col(keyCol).as("doc_id"),
        TextAnalysis.tokens(col(textCol)).as("_t"))
      .withColumn("_n", greatest(lit(1L),
        ceil(size(col("_t")) / lit(w.toDouble)).cast("long")))
      .select(col("doc_id"), explode(transform(
        sequence(lit(0L), col("_n") - 1),
        i => struct(i.as("pos"),
          concat_ws(" ", slice(col("_t"), (i * w + 1).cast("int"), lit(w))).as("seg")))).as("u"))
      .select(col("doc_id"), col("u.pos").as("pos"), col("u.seg").as("seg"))
    val boiler = segs.select(col("doc_id"), md5(col("seg")).as("_h")).distinct()
      .groupBy(col("_h")).agg(count(lit(1)).as("_nd"))
      .filter(col("_nd") >= minDocs)
      .select(col("_h"))
    segs.join(boiler, md5(col("seg")) === col("_h"), "left")
      .groupBy(col("doc_id"))
      .agg(
        array_join(transform(
          array_sort(collect_list(when(col("_h").isNull,
            struct(col("pos").as("p"), col("seg").as("s"))))),
          x => x.getField("s")), " ").as("clean_text"),
        count(lit(1)).cast("integer").as("n_segments"),
        count(col("_h")).cast("integer").as("n_dropped"))
  }

  /**
   * Canonical-representative selection — the step that turns detected
   * duplicate CLUSTERS into a kept/dropped decision (the real dedup
   * pipelines keep the best page of a near-dup cluster, not an
   * arbitrary one): label clusters over the near-dup `pairs` via
   * [[connectedComponents]], attach a per-doc score, and mark the
   * best-scored doc of each cluster canonical (score DESC, id ASC
   * tie-break). Docs in no pair are their own singleton cluster and
   * always canonical — no document is silently lost.
   *
   * `scores`: (keyCol, score double) — typically
   * `TextAnalysis.linearQualityScore`'s logit, but any ranking works.
   * One window per cluster + two equi-joins beyond the component
   * labeling; nothing pairwise.
   * Output: (doc_id, cluster_id, score, canonical).
   */
  def canonicalRepresentatives(docs: DataFrame, keyCol: String,
      pairs: DataFrame, aCol: String, bCol: String,
      scores: DataFrame, scoreCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val clusters = connectedComponents(pairs, aCol, bCol)
      .select(col("id").as("doc_id"), col("component").as("cluster_id"))
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col("score").desc, col("doc_id"))
    docs.select(col(keyCol).as("doc_id"))
      .join(clusters, Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
      .join(scores.select(col(keyCol).as("doc_id"), col(scoreCol).as("score")),
        Seq("doc_id"))
      .withColumn("canonical", row_number().over(w) === 1)
  }

  /**
   * Leakage-safe train/heldout split — split by near-dup CLUSTER,
   * not by document. A naive per-doc hash split leaks: a training
   * document's near-duplicate lands in the heldout set with
   * probability (1 − trainPct/100) per pair, and every such pair
   * inflates held-out metrics exactly the way train/test
   * contamination does (the eval-integrity half of the Lee et al.
   * 2022 deduplication lesson). Splitting on the CLUSTER LABEL makes
   * crossing impossible by construction: every member of a connected
   * near-dup component inherits the component's split, singletons
   * split on their own id.
   *
   * The decision is ONE md5 per cluster label —
   * `pct = md5Hash32("split:<seed>:" ++ cluster) mod 100`,
   * `train` iff pct < trainPct — deterministic, engine-portable
   * (the [[md5Hash32]] idiom every oracle constant uses), and
   * proportional in expectation over clusters.
   *
   * Scale shape: clustering is the [[connectedComponents]] path
   * (same plan as the d7 cluster query — at pipeline scale the label
   * table is the memoized artifact it already produces); the split
   * adds one codegen'd md5 on the label and the existing
   * member-label join — no new shuffle. Output:
   * (doc_id, cluster_id, split).
   *
   * The 2-way and the train/validation/test forms are the SAME
   * assignment ([[clusterCoherentSplit]] — one hash input, one CC
   * entry point) under different bucket boundaries: round 15 shipped
   * two near-identical implementations with subtly different salts
   * and CC variants, exactly the drift trap the consolidation closes.
   */
  def leakageSafeSplit(docs: DataFrame, keyCol: String,
      pairs: DataFrame, aCol: String, bCol: String,
      trainPct: Int = 90, seed: Long = 7L): DataFrame = {
    require(trainPct >= 1 && trainPct <= 99,
      s"trainPct must be in [1, 99], got $trainPct")
    clusterCoherentSplit(docs, keyCol, "doc_id", pairs, aCol, bCol,
      Seq("train" -> trainPct, "heldout" -> 100), seed)
  }

  /** The one split assignment both public faces share: CC labels from
   * [[connectedComponents]], singletons restored as their own
   * cluster, bucket = md5Hash32("split:&lt;seed&gt;:" ++ label) mod
   * 100, buckets read as cumulative upper bounds ((name, bound)…,
   * last bound = 100). */
  private def clusterCoherentSplit(docs: DataFrame, keyCol: String,
      outIdCol: String, pairs: DataFrame, aCol: String, bCol: String,
      buckets: Seq[(String, Int)], seed: Long): DataFrame = {
    require(buckets.nonEmpty && buckets.last._2 == 100 &&
      buckets.map(_._2) == buckets.map(_._2).sorted,
      s"buckets must be cumulative bounds ending at 100, got $buckets")
    val clusters = connectedComponents(pairs, aCol, bCol)
      .select(col("id").as(outIdCol), col("component").as("cluster_id"))
    val bucket = md5Hash32(concat(lit(s"split:$seed:"),
      col("cluster_id").cast("string"))) % 100
    val split = buckets.init.foldRight(lit(buckets.last._1)) {
      case ((name, bound), rest) => when(bucket < bound, lit(name)).otherwise(rest)
    }
    docs.select(col(keyCol).as(outIdCol))
      .join(clusters, Seq(outIdCol), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col(outIdCol)))
      .withColumn("split", split)
  }

  /**
   * Per-document n-gram novelty — the scalar complement of the span
   * detectors (d10/d12 find WHERE duplicated text is; this scores HOW
   * MUCH of each document is corpus-novel): the fraction of a doc's
   * DISTINCT n-grams that occur in no other document. Low novelty =
   * boilerplate-heavy / near-copy / template page — a standard
   * curation sort key and a memorization-risk proxy.
   *
   * One digest-keyed shuffle for the corpus gram counts, one doc-keyed
   * count-up; the fraction is an UNROUNDED int/int double division
   * (IEEE-identical in any engine — see the t17 half-case note).
   * Output: (doc_id, n_grams, n_novel, novelty).
   */
  def ngramNovelty(df: DataFrame, keyCol: String, textCol: String,
      n: Int = 3): DataFrame = {
    val grams = df.select(col(keyCol).as("doc_id"),
        explode(shingles(col(textCol), n)).as("_g")) // shingles are per-doc DISTINCT
      .select(col("doc_id"), md5(col("_g")).as("_h"))
    val freq = grams.groupBy(col("_h")).agg(count(lit(1)).as("_nd"))
    val perDoc = grams.join(freq, Seq("_h"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("integer").as("n_grams"),
        sum(when(col("_nd") === 1, 1L).otherwise(0L)).cast("integer").as("n_novel"))
    df.select(col(keyCol).as("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0)).as("n_grams"),
        coalesce(col("n_novel"), lit(0)).as("n_novel"))
      .withColumn("novelty",
        when(col("n_grams") === 0, lit(0.0))
          .otherwise(col("n_novel") / col("n_grams").cast("double")))
  }

  /** Hex nibble value of char at (1-based) `pos` of md5 hex digest. */
  private def nibble(digest: Column, pos: Int): Column =
    instr(lit("0123456789abcdef"), substring(digest, pos, 1)) - 1

  /**
   * 16-bit SimHash over whitespace tokens: per bit b, sum token bit
   * (from the md5 hex nibbles), set the bit when count*2 >= n_tokens.
   * Computed via explode + 16 conditional-sum aggregates (single
   * shuffle on doc id). Output: (doc_id, simhash [0, 65536)).
   */
  def simhash16(df: DataFrame, keyCol: String, textCol: String): DataFrame = {
    val tok = df.select(col(keyCol).as("doc_id"),
      explode(TextAnalysis.tokens(col(textCol))).as("tok"))
      .withColumn("_d", md5(col("tok")))
    val bitAggs = (0 until 16).map { b =>
      val nib = nibble(col("_d"), b / 4 + 1)
      val bit = nib.cast("int").bitwiseAND(lit(1) * (1 << (3 - b % 4))) > 0
      sum(when(bit, 1).otherwise(0)).as(s"c_$b")
    }
    val counts = tok.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tok"), bitAggs: _*)
    val fp = (0 until 16).map { b =>
      when(col(s"c_$b") * 2 >= col("n_tok"), lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
    counts.select(col("doc_id"), fp.as("simhash"))
  }

  /**
   * Embedding-cosine near-dup pairs. Candidate generation via
   * deterministic hyperplane LSH (16 md5-derived hyperplanes → bucket
   * signature; only same-bucket pairs compared), then exact cosine
   * verification on candidates. `vecCol` is Array[Float]-typed;
   * arithmetic runs in double.
   */
  def embeddingNearDupPairs(df: DataFrame, keyCol: String, vecCol: String,
      dim: Int, threshold: Double = 0.9, planes: Int = 16,
      blocks: Int = 16): DataFrame = {
    require(blocks > 0, s"blocks must be positive, got $blocks")
    val sig = hyperplaneSignature(col(vecCol), dim, planes)
    // Precompute each vector's norm ON THE ROW, not per candidate
    // pair: the bucket join fans each row out to O(|bucket|) pairs,
    // and evaluating cosine's two norms pairwise tripled the per-pair
    // dot-product work (measured on m3's 7.8 M candidates).
    // sqrt(dot(v,v)) per side then na·nb per pair is the IDENTICAL
    // IEEE-double computation the inlined cosine performs — results
    // are bit-equal, so oracle hashes are unchanged.
    val withSig = df.select(col(keyCol).as("doc_id"), col(vecCol).as("_v"), sig.as("_sig"),
      Similarity.norm(col(vecCol)).as("_n"))
    // Block-split the self-join to parallelize skewed buckets: a
    // bucket of n rows generates O(n²) pairs in ONE task under a
    // plain _sig equi-join (AQE's skew-join never fires — the skew is
    // output amplification, invisible to its input-byte heuristics;
    // m3's top bucket at sf0.1 holds 2.7 k rows → 3.6 M pairs
    // evaluated serially). Each right row gets a stable block in
    // [0, blocks); each left row replicates across all blocks; the
    // equi-join on (_sig, _blk) then matches every ordered pair
    // EXACTLY once (the right row's block is unique), so the output
    // pair set — and the oracle hash — is unchanged while the pair
    // evaluation spreads over blocks× more shuffle keys. Cost: the
    // left side shuffles blocks× more rows — negligible against the
    // O(n²) pair work it parallelizes; callers with known-balanced
    // buckets can pass blocks = 1 for the plain join.
    val l = withSig
      .withColumn("_blk", explode(array((0 until blocks).map(lit): _*)))
      .select(col("_sig"), col("_blk"), col("doc_id").as("doc_a"), col("_v").as("_va"),
        col("_n").as("_na"))
    val r = withSig
      .withColumn("_blk", pmod(hash(col("doc_id")), lit(blocks)))
      .select(col("_sig"), col("_blk"), col("doc_id").as("doc_b"), col("_v").as("_vb"),
        col("_n").as("_nb"))
    val nn = col("_na") * col("_nb")
    val pairCosine = when(nn === 0, lit(0.0))
      .otherwise(Similarity.dot(col("_va"), col("_vb")) / nn)
    l.join(r, Seq("_sig", "_blk"))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("cosine", round(pairCosine, 6))
      .filter(col("cosine") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("cosine"))
  }

  /**
   * TF-IDF weighted cosine similarity pairs — the "soft" near-dup /
   * related-document signal that complements set-based Jaccard
   * (weighs rare terms up, boilerplate down). Candidates come from the
   * same inverted-index equi-join as Jaccard — never pairwise over the
   * corpus — with the standard stop-term guard: terms present in more
   * than half the documents are dropped from the weighting (they carry
   * ~no idf mass and would quadratically blow up the term join).
   *
   * Engine-portability trick: weights are EXACT INTEGERS —
   * w = tf · ⌊10⁴·ln(N/df)⌋ — and dot products / norms are exact
   * decimal sums, so accumulation ORDER cannot perturb them (float
   * sums differ across engines/partitionings in the last ulp). The
   * only floating step is the final single-expression cosine over
   * exact inputs, which is deterministic; cross-engine agreement then
   * rests only on libm's ln being within ~1e-9 of the ⌊·⌋ boundary,
   * i.e. astronomically safe at 1e4 scaling.
   *
   * Output: (doc_a, doc_b, cosine) for pairs with cosine ≥ threshold.
   */
  def tfidfPairs(df: DataFrame, keyCol: String, textCol: String,
      threshold: Double): DataFrame = {
    val n = df.count() // corpus size for idf — one count job, fit-time metadata
    // fanOut: the scan→tokenize→explode map stage is single-split
    // serial at local scale; no-op at warehouse split counts
    val tf = Stage.fanOut(df).select(col(keyCol).as("doc_id"),
        explode(graft.functions.TextAnalysis.tokens(col(textCol))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val idf = floor(lit(10000.0) * log(lit(n.toDouble) / col("df")))
      .cast("decimal(19,0)")
    // eager row blocks: norms + both dot-join sides reference it —
    // tokenize/tf/idf once, not 3× (AQE note at [[shingleSets]])
    val weighted = Stage.eager(tf.join(dfreq, Seq("term"))
      .filter(col("df") * 2 <= n) // stop-term guard (exact integer compare)
      .select(col("doc_id"), col("term"),
        (col("tf").cast("decimal(19,0)") * idf).cast("decimal(19,0)").as("w")))
    val norms = weighted.groupBy(col("doc_id"))
      .agg(sum(col("w") * col("w")).as("norm2"))
    val dots = weighted.select(col("term"), col("doc_id").as("doc_a"), col("w").as("wa"))
      .join(weighted.select(col("term"), col("doc_id").as("doc_b"), col("w").as("wb")),
        Seq("term"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(sum(col("wa") * col("wb")).as("dot"))
    val cosine = round(col("dot").cast("double") /
      (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))), 6)
    ownStages(weighted)(
      dots
        .join(norms.select(col("doc_id").as("doc_a"), col("norm2").as("na")), Seq("doc_a"))
        .join(norms.select(col("doc_id").as("doc_b"), col("norm2").as("nb")), Seq("doc_b"))
        .select(col("doc_a"), col("doc_b"), cosine.as("cosine"))
        .filter(col("cosine") >= threshold))
  }

  /**
   * Engine-resolved `(term, idf_i)` table for [[tfidfPairs]] — the
   * exact tokenization, stop-term guard (`df·2 ≤ N`) and quantized
   * idf expression (`⌊10⁴·ln(N/df)⌋`, Spark's StrictMath-backed
   * `log`) the pair query evaluates. Public for the SAME reason as
   * `Retrieval.idfOf`: the DuckDB oracle collects this DataFrame and
   * inlines the integers as literals, so the replayed SQL contains no
   * `ln` and no cross-engine libm ulp can flip a weight at a floor
   * boundary (the failure mode that took down the r11 BM25 family in
   * the driver's environment despite passing locally).
   */
  def tfidfIdfOf(df: DataFrame, keyCol: String, textCol: String): DataFrame = {
    val n = df.count()
    val tf = df.select(col(keyCol).as("doc_id"),
        explode(graft.functions.TextAnalysis.tokens(col(textCol))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .filter(col("df") * 2 <= n)
      .select(col("term"),
        floor(lit(10000.0) * log(lit(n.toDouble) / col("df"))).cast("long").as("idf_i"),
        // distance of 10⁴·ln(N/df) to its nearest ⌊·⌋ boundary, in
        // quantization-step units — the attribution diagnostic if an
        // engine-side flip ever happens (same contract as
        // Retrieval.idfBoundaryMargins)
        least(
          lit(10000.0) * log(lit(n.toDouble) / col("df")) -
            floor(lit(10000.0) * log(lit(n.toDouble) / col("df"))),
          floor(lit(10000.0) * log(lit(n.toDouble) / col("df"))) + lit(1.0) -
            lit(10000.0) * log(lit(n.toDouble) / col("df"))).as("margin"))
  }

  /**
   * Connected components over a pair list — the clustering step a
   * dedup pipeline runs after pair generation (keep one representative
   * per component), and the engine's one CC entry point.
   * Output: (id, component) — component = min id reachable under
   * Spark's value ordering; every input id is labeled (self-pairs
   * included), and a null endpoint comes back as (null, null).
   *
   * The graphs the engine builds are small (near-dup pairs of a
   * corpus, one micro-batch's component merges), and at that size a
   * distributed CC pays for scheduling, not compute: every round is
   * several jobs, and the number of rounds grows with the diameter.
   * So ONE probe (`limit(N + 1).collect()`, N = [[LocalCcMaxEdges]])
   * brings a graph of at most N edges with a supported id type to the
   * driver, where [[unionFind]] labels it in one pass whatever its
   * diameter, and the labels come back as a local relation: nothing
   * cached or checkpointed to own or release, and exact size
   * statistics for the joins downstream. Larger graphs, and id types
   * without a supported ordering, run [[connectedComponentsStar]].
   * Labels are identical either way.
   */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    import org.apache.spark.sql.types.{StructField, StructType}
    val local = for {
      less <- sparkLess(pairs, aCol, bCol)
      rows = pairs.select(col(aCol), col(bCol)).limit(LocalCcMaxEdges + 1).collect()
      if rows.length <= LocalCcMaxEdges
    } yield {
      val out = new java.util.ArrayList[Row]()
      unionFind(rows.iterator, less).forEach((x, m) => out.add(Row(x, m)))
      if (rows.exists(r => r.isNullAt(0) || r.isNullAt(1)))
        out.add(Row(null, null))
      val dt = pairs.schema(aCol).dataType
      pairs.sparkSession.createDataFrame(out,
        StructType(Seq(StructField("id", dt), StructField("component", dt))))
    }
    local.getOrElse(connectedComponentsStar(pairs, aCol, bCol))
  }

  /** Largest edge count [[connectedComponents]] labels on the driver. */
  val LocalCcMaxEdges: Int = 1000000

  /**
   * Strict less-than under SPARK's value ordering for the CC id types
   * union-find supports (every Dedup/FuzzyJoin caller keys on strings
   * or integers): UTF8String binary order for strings — NOT Java's
   * UTF-16 `compareTo`, which disagrees on supplementary planes — so
   * labels compose bit-identically with `min`/`least`. None when the
   * endpoint columns differ in type or the type has no entry here.
   */
  private def sparkLess(pairs: DataFrame, aCol: String,
      bCol: String): Option[(Any, Any) => Boolean] = {
    import org.apache.spark.sql.types._
    import org.apache.spark.unsafe.types.UTF8String
    val dt = pairs.schema(aCol).dataType
    if (pairs.schema(bCol).dataType != dt) None
    else dt match {
      case StringType => Some((a, b) =>
        UTF8String.fromString(a.asInstanceOf[String])
          .compareTo(UTF8String.fromString(b.asInstanceOf[String])) < 0)
      case LongType    => Some((a, b) => a.asInstanceOf[Long] < b.asInstanceOf[Long])
      case IntegerType => Some((a, b) => a.asInstanceOf[Int] < b.asInstanceOf[Int])
      case ShortType   => Some((a, b) => a.asInstanceOf[Short] < b.asInstanceOf[Short])
      case ByteType    => Some((a, b) => a.asInstanceOf[Byte] < b.asInstanceOf[Byte])
      case _           => None
    }
  }

  /**
   * Union-find over (a, b) rows: maps every non-null endpoint to the
   * minimum, under `less`, of its component. A row with a null
   * endpoint adds its other endpoint as a node and joins nothing.
   * State is one hash map over the distinct endpoints.
   */
  private def unionFind(pairs: Iterator[Row],
      less: (Any, Any) => Boolean): java.util.HashMap[Any, Any] = {
    val parent = new java.util.HashMap[Any, Any]()
    def find(x: Any): Any = {
      var r = x
      while (parent.get(r) != r) r = parent.get(r)
      var c = x
      while (c != r) { val n = parent.get(c); parent.put(c, r); c = n }
      r
    }
    pairs.foreach { row =>
      val a = row.get(0); val b = row.get(1)
      if (a != null) parent.putIfAbsent(a, a)
      if (b != null) parent.putIfAbsent(b, b)
      if (a != null && b != null) {
        val ra = find(a); val rb = find(b)
        if (ra != rb) parent.put(ra, rb)
      }
    }
    // roots are arbitrary (union order); once every entry points at
    // its root, one ordered comparison per node finds each tree's min
    parent.keySet().forEach(x => find(x))
    val minOf = new java.util.HashMap[Any, Any]()
    parent.forEach { (x, r) =>
      val m = minOf.get(r)
      if (m == null || less(x, m)) minOf.put(r, x)
    }
    parent.replaceAll((_, r) => minOf.get(r))
    parent
  }

  /**
   * Partition-local union-find contraction — the standard two-level
   * CC pre-pass: each edge partition is collapsed in memory by
   * [[unionFind]], and the partition emits one (member → tree-min)
   * mapping edge per non-min member. The output is
   * CONNECTIVITY-EQUIVALENT to the input (a node split across
   * partitions appears in several trees and its mapping edges bridge
   * them), but long paths that happen to sit inside one partition
   * contract to diameter ≤ 2 — exactly the chain topology that costs
   * the distributed rounds the most (a length-d in-partition chain is
   * d star rounds saved). Per-partition state is a hash map over the
   * partition's distinct endpoints: bounded by partition size, the
   * same budget any in-partition sort already needs.
   *
   * Returns None for id types [[sparkLess]] does not support — caller
   * falls back to the uncontracted edge set (pure optimization, never
   * a semantics change).
   */
  private def localContraction(pairs: DataFrame, aCol: String,
      bCol: String): Option[DataFrame] = {
    import org.apache.spark.sql.types._
    val dt = pairs.schema(aCol).dataType
    sparkLess(pairs, aCol, bCol).map { less =>
      // deliberate drop to the RDD API: per-partition union-find has
      // no Catalyst form, and `.rdd` here pays one row
      // deserialization over the edge set. A typed
      // `Dataset[(K, K)].mapPartitions` would keep the exchange
      // unsafe-row-backed, but needs an Encoder per supported key
      // type where this one generic path handles them all via the
      // `sparkLess` dispatch — revisit only if the deserialization
      // ever shows up next to the union-find itself in profiles
      // (measured: the pass still wins its round-dominated regime
      // by 21-46%, SCALE.md round 15).
      val rdd = pairs.select(col(aCol), col(bCol)).rdd.mapPartitions { it =>
        val out = scala.collection.mutable.ArrayBuffer.empty[Row]
        unionFind(it, less).forEach((x, m) => if (x != m) out += Row(x, m))
        out.iterator
      }
      val schema = StructType(Seq(
        StructField("hi", dt, nullable = true),
        StructField("lo", dt, nullable = true)))
      pairs.sparkSession.createDataFrame(rdd, schema)
    }
  }

  /**
   * Alternating large-star/small-star connected components (Kiveris
   * et al., "Connected Components in MapReduce and Beyond", 2014) —
   * the distributed regime of [[connectedComponents]], for graphs too
   * large for the driver or keyed by an id type [[sparkLess]] does
   * not support. Same output contract: (id, component = min id
   * reachable), bit-identical labels. O(log² n) rounds whatever the
   * diameter.
   *
   * Per round, over the canonical undirected edge set (hi > lo):
   *  - LARGE-STAR: for every node u, every strictly larger neighbor
   *    v > u is re-attached to m(u) = min(N(u) ∪ {u}). One groupBy +
   *    one join, both keyed on the node.
   *  - SMALL-STAR: orienting each edge toward its larger endpoint,
   *    every node u re-attaches its smaller neighbors AND itself to
   *    m(u) = min of its smaller neighborhood. Same shuffle shape.
   * Both steps preserve connectivity and the node set; the fixpoint
   * is a disjoint union of stars centered at each component's min,
   * read off as labels directly. Convergence is set equality between
   * rounds (|E ∪ E'| = |E| = |E'|) — one distinct-union count, no
   * second join.
   *
   * Each round the frontier is CHECKPOINTED — iterative DataFrame
   * algorithms otherwise grow the logical plan every round, and plan
   * analysis/explain costs turn superlinear long before the data
   * does. When the session has a RELIABLE checkpoint dir configured
   * (`spark.sparkContext.setCheckpointDir` → durable storage), the
   * frontier uses `.checkpoint()`: losing an executor mid-iteration
   * recovers from storage instead of killing the job. Without one
   * (local/test mode) it falls back to `localCheckpoint` —
   * materialize + truncate on executor-local blocks.
   *
   * Before the distributed rounds, [[localContraction]] union-finds
   * each edge partition in memory and rewrites the edge set as
   * (member → local-tree-min) mapping edges — connectivity-identical,
   * but any chain segment that landed inside one partition starts the
   * rounds at diameter ≤ 2 instead of its length (measured ≥30%
   * wall-clock off the d20/ErScale closure, which is round-dominated).
   * Unsupported id types skip the pre-pass; labels are bit-identical
   * either way.
   */
  private[graft] def connectedComponentsStar(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 50): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val reliable = pairs.sparkSession.sparkContext.getCheckpointDir.isDefined
    def materialize(df: DataFrame): DataFrame =
      if (reliable) df.checkpoint(true) else df.localCheckpoint(true)
    // node set up front: star rounds rewire edges, but labels must
    // cover every id that appeared in the input (centers included)
    val nodes = materialize(
      pairs.select(col(aCol).as("id")).unionByName(pairs.select(col(bCol).as("id")))
        .distinct())
    // two-level CC: contract within partitions first when the id type
    // supports it (mapping edges already run hi > lo, but the
    // canonicalization below is idempotent and kept uniform)
    val preContracted = localContraction(pairs, aCol, bCol)
      .getOrElse(pairs.select(col(aCol).as("hi"), col(bCol).as("lo")))
    var edges = materialize(
      preContracted.select(greatest(col("hi"), col("lo")).as("hi"),
          least(col("hi"), col("lo")).as("lo"))
        .filter(col("hi") =!= col("lo")).distinct())
    var edgeCount = edges.count()
    var stable = edgeCount == 0L
    var iter = 0
    while (!stable && iter < maxIter) {
      // LARGE-STAR over both orientations
      val dir = edges.select(col("hi").as("u"), col("lo").as("v"))
        .unionByName(edges.select(col("lo").as("u"), col("hi").as("v")))
      val mTab = dir.groupBy(col("u"))
        .agg(min(col("v")).as("_nm"))
        .select(col("u"), least(col("_nm"), col("u")).as("_m"))
      val ls = dir.join(mTab, "u").filter(col("v") > col("u"))
        .select(col("v").as("hi"), col("_m").as("lo"))
        .filter(col("hi") =!= col("lo")).distinct()
      // SMALL-STAR on the large-star output (edges already oriented
      // hi > lo = "toward the larger endpoint"). Both re-attachment
      // families — (smaller neighbor → m) and (u → m) — come out of
      // ONE ls ⋈ m2 join via a 2-way explode instead of two joins
      // unioned (r17: the join ran twice per round; the final
      // distinct already dedups, so the pair set is identical).
      val m2 = ls.groupBy(col("hi")).agg(min(col("lo")).as("_m"))
      val ss = ls.join(m2, "hi")
        .select(explode(array(
          struct(col("lo").as("a"), col("_m").as("b")),
          struct(col("hi").as("a"), col("_m").as("b")))).as("_e"))
        .select(col("_e.a").as("hi"), col("_e.b").as("lo"))
        .filter(col("hi") =!= col("lo")).distinct()
      val next = materialize(ss)
      val nextCount = next.count()
      // set equality: |E ∪ E'| == |E| == |E'|
      stable = nextCount == edgeCount &&
        next.unionByName(edges).distinct().count() == edgeCount
      edges.unpersist()
      edges = next
      edgeCount = nextCount
      iter += 1
    }
    // fixpoint = stars: every remaining edge is (member, center).
    // groupBy(min) instead of a bare projection so a maxIter bailout
    // still yields each node's best-known label, and centers /
    // self-paired input ids come back via the left join.
    // materialize BEFORE releasing the checkpointed inputs — local
    // checkpoints have truncated lineage, so a lazy plan over released
    // blocks could never recompute
    val lbl = materialize(nodes
      .join(edges.groupBy(col("hi").as("id")).agg(min(col("lo")).as("_c")),
        Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("_c"), col("id")).as("component")))
    edges.unpersist(); nodes.unpersist()
    lbl
  }

  /** Deterministic hyperplane weights: w(plane p, dim d) =
   * nibble1(md5(p|d)) − 7.5 sign pattern, reduced to the sign bit so
   * the signature is sign(v · w[p]). md5-derived ⇒ identical in any
   * engine.
   *
   * Each plane dot is ONE codegen'd FloatVecDot against a constant
   * float-array literal, not a dim-term expanded sum — the expanded
   * form compiled to ~1.7 MB task binaries at planes=6, dim=64 (bench
   * r01). Bit-identical to the expanded form: the weights are exact
   * half-integers (float-exact), and FloatVecDot accumulates
   * left-to-right in double exactly like the `reduce(_ + _)` chain,
   * so the DuckDB sigSql oracle is unaffected. */
  def hyperplaneSignature(vec: Column, dim: Int, planes: Int): Column = {
    val bits = (0 until planes).map { p =>
      val w: Seq[Float] = (0 until dim).map(d => Similarity.planeWeight(p, d).toFloat)
      when(Similarity.dot(vec, typedLit(w)) >= 0, lit(1L << p)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /**
   * Leakage-safe train/validation/test split assignment: every member
   * of a near-duplicate cluster lands in the SAME split, so no eval
   * example has a near-copy in train — the contamination mode random
   * per-document splits cannot prevent. Clusters come from
   * [[connectedComponents]] over the given near-dup `pairs`; documents
   * in no pair are their own singleton cluster. The split is a
   * deterministic md5 bucket of the CLUSTER id (seed-salted so it is
   * independent of the per-document sampling hashes used elsewhere):
   * bucket < trainPct → train, < trainPct+valPct → validation, else
   * test.
   *
   * This is [[leakageSafeSplit]]'s train/validation/test
   * parameterization — ONE hash input (`split:&lt;seed&gt;:`), one CC
   * entry point ([[connectedComponents]]), via the shared
   * [[clusterCoherentSplit]] core.
   *
   * Scale shape: the only non-map stages are the near-dup pair space
   * (inverted-index bounded, inherited from the caller) and the CC
   * probe (one pass over the edges; star rounds past
   * [[LocalCcMaxEdges]]); the split
   * itself is one broadcast-able left join (cluster labels ≪ docs)
   * plus map-side hashing. No per-split shuffles — downstream writers
   * partition by the `split` column.
   *
   * Output: (docId, cluster_id, split).
   */
  def leakageSafeSplits(docs: DataFrame, idCol: String, pairs: DataFrame,
      aCol: String, bCol: String, trainPct: Int = 80, valPct: Int = 10,
      seed: Long = 7L): DataFrame = {
    require(trainPct > 0 && valPct >= 0 && trainPct + valPct <= 100,
      s"invalid split percentages: train=$trainPct val=$valPct")
    clusterCoherentSplit(docs, idCol, idCol, pairs, aCol, bCol,
      Seq("train" -> trainPct, "validation" -> (trainPct + valPct),
        "test" -> 100), seed)
  }
}
