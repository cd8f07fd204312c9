package graft.functions

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class TextAnalysisSpec extends SparkTestBase {
  import spark.implicits._

  private def one(c: org.apache.spark.sql.Column) =
    Seq(1).toDF("x").select(c).head()

  test("token and char counts") {
    assert(one(TextAnalysis.tokenCount(lit("a  b   c"))).getInt(0) == 3)
    assert(one(TextAnalysis.tokenCount(lit(""))).getInt(0) == 0)
    assert(one(TextAnalysis.charCount(lit("abc d"))).getInt(0) == 5)
    assert(one(TextAnalysis.bpeishTokenCount(lit("hello world 42!"))).getInt(0) == 4)
  }

  test("tokens kernel splits on Java \\s runs only, codegen and interpreted") {
    val toks = Seq(1).toDF("x")
      .select(TextAnalysis.tokens(lit(" a\tb\u000Bc\fd\re\nf\u00A0g  ")).as("t")).as[Seq[String]].head()
    assert(toks == Seq("a", "b", "c", "d", "e", "f\u00A0g"))
    TextKernelReference.assertKernelsMatch(spark, TextKernelReference.edgeCases, Seq(2))
  }

  test("quality score bounded in [0,1]; empty doc scores low") {
    val q = one(TextAnalysis.qualityScore(lit("the quick brown fox and a dog " * 10))).getDouble(0)
    assert(q >= 0.9 && q <= 1.0)
    val empty = one(TextAnalysis.qualityScore(lit(""))).getDouble(0)
    assert(empty <= 0.34)
  }

  test("repetition ratio: 0 for all-distinct, rises with repeats") {
    assert(one(TextAnalysis.repetitionRatio(lit("a b c d"))).getDouble(0) == 0.0)
    assert(one(TextAnalysis.repetitionRatio(lit("a a a a"))).getDouble(0) == 0.75)
    assert(one(TextAnalysis.repetitionRatio(lit(""))).getDouble(0) == 0.0)
  }

  test("punctuation ratio counts punctuation chars only") {
    assert(one(TextAnalysis.punctRatio(lit("ab, cd."))).getDouble(0) == 2.0 / 7.0)
    assert(one(TextAnalysis.punctRatio(lit(""))).getDouble(0) == 0.0)
    assert(one(TextAnalysis.punctRatio(lit("no punct here"))).getDouble(0) == 0.0)
  }

  test("language id picks the dominant stopword profile") {
    assert(one(TextAnalysis.languageId(lit("the cat of the house and a dog is here"))).getString(0) == "en")
    assert(one(TextAnalysis.languageId(lit("le chat de la maison et les chiens"))).getString(0) == "fr")
    assert(one(TextAnalysis.languageId(lit("der hund und die katze ist von hier"))).getString(0) == "de")
    assert(one(TextAnalysis.languageId(lit("zzz qqq xxx"))).getString(0) == "und")
  }

  test("fingerprint is whitespace-normalized; min-shingle fp stable under small edits") {
    val a = one(TextAnalysis.fingerprint(lit("a b  c"))).getString(0)
    val b = one(TextAnalysis.fingerprint(lit("a b c"))).getString(0)
    assert(a == b)
    val long = ("w" + (1 to 30).mkString(" w")) // w w1 w2 ...
    val fp1 = one(TextAnalysis.minShingleFingerprint(Dedup.shingles(lit(long), 5))).getString(0)
    val fp2 = one(TextAnalysis.minShingleFingerprint(Dedup.shingles(lit(long + " extra"), 5))).getString(0)
    // min over shingles usually unchanged by a suffix edit
    assert(fp1 == fp2)
  }

  test("deterministic sampling: rerun-stable, rate-faithful, stratum-gated") {
    val df = (0 until 2000).map(i => (i.toLong, if (i % 2 == 0) "a" else "b"))
      .toDF("id", "stratum")
    def run() = TextAnalysis.stratifiedSample(df, col("id").cast("string"), col("stratum"),
      Map("a" -> 0.1, "b" -> 0.9), defaultRate = 0.5)
      .as[(Long, String)].collect().toSet
    val s1 = run()
    assert(s1 == run()) // pure function of the key — identical on rerun
    val aKept = s1.count(_._2 == "a") / 1000.0
    val bKept = s1.count(_._2 == "b") / 1000.0
    assert(aKept > 0.06 && aKept < 0.14, s"a rate $aKept")
    assert(bKept > 0.85 && bKept < 0.95, s"b rate $bKept")
    // unknown stratum falls back to the default rate
    val other = (0 until 1000).map(i => (i.toLong, "zz")).toDF("id", "stratum")
    val n = TextAnalysis.stratifiedSample(other, col("id").cast("string"), col("stratum"),
      Map("a" -> 0.1), defaultRate = 0.5).count()
    assert(n > 420 && n < 580, s"default-rate kept $n")
  }

  test("PII redaction: emails/phones/IPs counted and scrubbed, clean text untouched") {
    val dirty = "reach me at jane.doe+spam@mail.example.org or 555-867-5309, " +
      "server 192.168.1.200 is down"
    val red = one(TextAnalysis.redactPii(lit(dirty))).getString(0)
    assert(red == "reach me at <EMAIL> or <PHONE>, server <IP> is down")
    val counts = Seq(dirty).toDF("text").select(
      TextAnalysis.piiCount(col("text"), TextAnalysis.piiPatterns(0)._2).as("e"),
      TextAnalysis.piiCount(col("text"), TextAnalysis.piiPatterns(1)._2).as("p"),
      TextAnalysis.piiCount(col("text"), TextAnalysis.piiPatterns(2)._2).as("i"))
      .as[(Int, Int, Int)].head()
    assert(counts == ((1, 1, 1)))
    // clean text passes through byte-identical; version strings with
    // fewer than 4 dotted groups are not IPs
    val clean = "release v1.2 shipped to 12 users, cost 3.50"
    assert(one(TextAnalysis.redactPii(lit(clean))).getString(0) == clean)
    // email is redacted BEFORE numeric patterns so digits in the local
    // part never get clipped mid-address
    assert(one(TextAnalysis.redactPii(lit("a 10.0.0.1@h.co b"))).getString(0) == "a <EMAIL> b")
  }

  test("unicode normalize: NFC composes, NFKC also folds compatibility forms, codegen'd") {
    val decomposed = "cafe\u0301 nin\u0303o"     // e+U+0301, n+U+0303
    val composed = "caf\u00e9 ni\u00f1o"         // é, ñ precomposed
    assert(one(TextAnalysis.nfc(lit(decomposed))).getString(0) == composed)
    // NFC leaves the ligature; NFKC folds it
    val lig = "\ufb01le"                          // "ﬁle" with U+FB01
    assert(one(TextAnalysis.nfc(lit(lig))).getString(0) == lig)
    assert(one(TextAnalysis.nfkc(lit(lig))).getString(0) == "file")
    // idempotent; null-safe
    assert(one(TextAnalysis.nfc(TextAnalysis.nfc(lit(decomposed)))).getString(0) == composed)
    assert(one(TextAnalysis.nfc(lit(null).cast("string"))).isNullAt(0))
    // digests agree after normalization — the reason the pass exists
    val r = Seq((decomposed, composed)).toDF("a", "b").select(
      (md5(TextAnalysis.nfc(col("a"))) === md5(TextAnalysis.nfc(col("b")))).as("eq"),
      (md5(col("a")) === md5(col("b"))).as("raw_eq")).head()
    assert(r.getBoolean(0) && !r.getBoolean(1))
    // the custom Expression is IN the generated plan (not a UDF)
    val plan = Seq("x").toDF("t").select(TextAnalysis.nfc(col("t")))
      .queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("unicodenormalize"), plan.take(400))
  }

  test("line dedup keeps first occurrences in order; count matches") {
    val page = "nav\nintro text\nnav\nbody line\nintro text\nfooter"
    assert(one(TextAnalysis.dedupLines(lit(page))).getString(0)
      == "nav\nintro text\nbody line\nfooter")
    assert(one(TextAnalysis.dupLineCount(lit(page))).getInt(0) == 2)
    // no dups => identity; custom separator; empty doc
    assert(one(TextAnalysis.dedupLines(lit("a|b|c"), "|")).getString(0) == "a|b|c")
    assert(one(TextAnalysis.dedupLines(lit(""))).getString(0) == "")
    assert(one(TextAnalysis.dupLineCount(lit(""))).getInt(0) == 0)
  }

  test("cleanCorpus: normalize + line-dedup + scrub + gate + exact-dedup composed") {
    val good = "the quick brown fox jumps over the lazy dog and it is in the house " * 4
    val page = s"NAV\n$good mail x@y.co\nNAV"
    val df = Seq(
      (3L, page), (1L, page),            // clones (min id kept)
      (5L, "zz qq xx")                   // fails the quality gate
    ).toDF("doc_id", "text")
    val out = TextAnalysis.cleanCorpus(df, "doc_id", "text", minQuality = 0.5)
      .as[(String, Long, Long)].collect()
    assert(out.length == 1)
    assert(out.head._2 == 1L && out.head._3 == 2L) // min-id representative, clone count
    // the digest is over the CLEANED text: scrubbed + line-deduped
    val cleanedMd5 = Seq(s"NAV\n$good mail <EMAIL>").toDF("t")
      .select(md5(col("t"))).as[String].head()
    assert(out.head._1 == cleanedMd5)
  }

  test("repetition signals: degenerate, clean, and short docs") {
    val df = Seq(
      (1L, "a a a a a a"), // 6 tokens, 1 distinct; 5 bigrams all "a a"; 2 5-grams, 1 distinct
      (2L, "one two three four five six"), // no repetition at all
      (3L, "solo"), // 1 token: no bigrams/5-grams
      (4L, "") // empty
    ).toDF("doc_id", "text")
    val out = TextAnalysis.repetitionSignals(df, "doc_id", "text")
      .as[(Long, Int, Double, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(out(1L) == ((6, 0.833333, 0.5, 1.0)))
    assert(out(2L) == ((6, 0.0, 0.0, 0.2))) // every bigram unique: top share = 1/5
    assert(out(3L) == ((1, 0.0, 0.0, 0.0)))
    assert(out(4L) == ((0, 0.0, 0.0, 0.0)))
  }

  test("linear quality classifier: integer-exact logits, scale invariance, empty docs kept out") {
    val w = TextAnalysis.linearWeights(64)
    assert(w.size == 64 && w.forall(x => x >= -8 && x <= 7))
    assert(w.distinct.size > 4, "seeded weights should spread over the range")

    val df = Seq(
      (0L, "alpha beta gamma"),
      (1L, "alpha beta gamma alpha beta gamma"), // doubled doc: same mean logit
      (2L, ""), // empty: logit 0, never kept
      (3L, "alpha")).toDF("doc_id", "text")
    val out = TextAnalysis.linearQualityScore(df, "doc_id", "text")
      .as[(Long, Int, Double, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(2L) == ((0, 0.0, false)))
    // mean pooling: repeating the whole doc leaves the logit unchanged
    assert(out(0L)._2 == out(1L)._2)
    assert(out(0L)._1 == 3 && out(1L)._1 == 6)
    // keep verdict is the integer sign, consistent with the logit sign
    out.values.foreach { case (n, logit, keep) =>
      if (n > 0) assert(keep == (logit > 0.0) || logit == 0.0) }
    // hand-check doc 3: one token, logit = w[bucket]/16 (unrounded —
    // exact-integer division reproduces bit-identically everywhere)
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest("alpha".getBytes("UTF-8")).map("%02x".format(_)).mkString
    val bucket = (java.lang.Long.parseLong(hex.substring(0, 8), 16) % 64).toInt
    assert(out(3L)._2 == w(bucket) / 16.0)
  }

  test("cross-corpus contamination: containment finds embedded eval docs, jaccard-blind") {
    val evalDoc = "alpha beta gamma delta epsilon zeta"
    val train = Seq(
      // eval doc verbatim inside a much longer train doc (low jaccard!)
      (1L, "one two three four five six seven " + evalDoc + " eight nine ten eleven twelve"),
      (2L, "totally unrelated text about completely different things entirely here")
    ).toDF("doc_id", "text")
    val eval = Seq((100L, evalDoc)).toDF("doc_id", "text")
    val hits = Dedup.contaminationPairs(train, eval, "doc_id", "text",
      n = 3, minContainment = 0.9)
      .as[(Long, Long, Long, Double)].collect()
    assert(hits.map(h => (h._1, h._2)).toSeq == Seq((1L, 100L)))
    assert(hits.head._4 == 1.0) // every eval shingle present in train doc 1
  }

  test("bigramLmScore matches an independent in-memory LM; partition-invariant") {
    val corpus = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the cat sat on the hat"),
      (3L, "zq xv jj qq zx"), // atypical text — should score high NLL
      (4L, "the the the the the"),
      (5L, "a"), // < 2 chars: no bigrams, NULL score
      (6L, ""))
    // reference model computed outside Spark
    val texts = corpus.map(_._2)
    val bigrams = texts.flatMap(t => t.sliding(2).filter(_.length == 2))
    val cab = bigrams.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val ca = bigrams.groupBy(_.substring(0, 1)).map { case (k, v) => k -> v.size.toLong }
    val v = ca.size.toLong
    def nllNanos(t: String): Long = t.sliding(2).filter(_.length == 2).map { bg =>
      val term = -math.log((cab(bg) + 1).toDouble / (ca(bg.substring(0, 1)) + v))
      math.floor(term * 1e9 + 0.5).toLong
    }.sum

    def run(parts: Int) = {
      val s = spark
      import s.implicits._
      TextAnalysis.bigramLmScore(corpus.toDF("doc_id", "text").repartition(parts),
          "doc_id", "text")
        .collect().map(r => r.getLong(0) ->
          (r.getLong(1), r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Double]))).toMap
    }
    val got = run(3)
    assert(got === run(7), "score must not depend on partitioning")
    corpus.foreach { case (id, t) =>
      val n = t.sliding(2).count(_.length == 2).toLong
      assert(got(id)._1 === n, s"doc $id bigram count")
      assert(got(id)._2 === nllNanos(t), s"doc $id nll_nanos vs reference model")
    }
    assert(got(5L) === ((0L, 0L, None)), "bigram-less doc keeps NULL score")
    // corpus-typical text scores lower NLL than gibberish
    assert(got(1L)._3.get < got(3L)._3.get)
  }

  test("gopherRules: each heuristic fires on its crafted violation; clean doc keeps") {
    val s = spark
    import s.implicits._
    val longClean = ("the quick brown fox jumps over it and all of " * 6).trim // 60 words, stopwords, letters
    val docs = Seq(
      (1L, longClean),                                      // passes everything
      (2L, "the of short doc"),                             // r_word_count fails (4 words)
      (3L, ("xx " * 60 + "the a it").trim),                 // mean len ok, alpha ok... stopwords ok
      (4L, ("the a " + "#### " * 30 + "word " * 60).trim),  // r_symbol_ratio fails (120 '#'/92 words)
      (5L, (("- bullet\n" * 19) + "the a plain line with " + "words " * 50).trim), // bullets on 19/20 lines
      (6L, ("the a " + "word " * 60).trim + "...\n" + "more..." + "\nthe end..."), // 3/4... wait lines
      (7L, ("zz " * 29 + "qq " * 30 + "the a it is").trim)) // alpha high... all letters though
      .toDF("doc_id", "text")
    val out = TextAnalysis.gopherRules(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Boolean]("keep"), "clean long doc must keep")
    assert(!out(2L).getAs[Boolean]("r_word_count") && !out(2L).getAs[Boolean]("keep"))
    assert(!out(4L).getAs[Boolean]("r_symbol_ratio") && !out(4L).getAs[Boolean]("keep"))
    assert(!out(5L).getAs[Boolean]("r_bullet_lines") && !out(5L).getAs[Boolean]("keep"))
    assert(!out(6L).getAs[Boolean]("r_ellipsis_lines") && !out(6L).getAs[Boolean]("keep"))
    // every rule column is a real boolean (no nulls anywhere)
    out.values.foreach { r =>
      Seq("r_word_count", "r_mean_word_len", "r_alpha_frac", "r_stopwords",
        "r_symbol_ratio", "r_bullet_lines", "r_ellipsis_lines", "keep")
        .foreach(c => assert(!r.isNullAt(r.fieldIndex(c)), s"$c null for doc ${r.getLong(0)}"))
    }
  }

  test("leakageSafeSplits: cluster-consistent assignment covering every doc") {
    val s = spark
    import s.implicits._
    // 3 near-dup pairs forming 2 clusters + 2 singletons
    val docs = (1L to 7L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("doc_a", "doc_b")
    val out = Dedup.leakageSafeSplits(docs, "doc_id", pairs, "doc_a", "doc_b")
      .as[(Long, Long, String)].collect()
    assert(out.length === 7, "every doc assigned exactly once")
    val byDoc = out.map(r => r._1 -> (r._2, r._3)).toMap
    // cluster labels: min member id; singletons label themselves
    assert(byDoc(1L)._1 === 1L && byDoc(2L)._1 === 1L && byDoc(3L)._1 === 1L)
    assert(byDoc(5L)._1 === 5L && byDoc(6L)._1 === 5L)
    assert(byDoc(4L)._1 === 4L && byDoc(7L)._1 === 7L)
    // THE guarantee: same cluster ⇒ same split (no train/eval leakage)
    out.groupBy(_._2).foreach { case (c, rows) =>
      assert(rows.map(_._3).distinct.length === 1, s"cluster $c split across sets")
    }
    assert(out.map(_._3).toSet.subsetOf(Set("train", "validation", "test")))
    intercept[IllegalArgumentException](
      Dedup.leakageSafeSplits(docs, "doc_id", pairs, "doc_a", "doc_b", trainPct = 95, valPct = 10))
  }

  test("leakageSafeSplits: seeded, and one assignment with the 2-way face") {
    val s = spark
    import s.implicits._
    val docs = (1L to 200L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val pairs = (1L to 60L by 2).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    def threeWay(seed: Long) =
      Dedup.leakageSafeSplits(docs, "doc_id", pairs, "doc_a", "doc_b",
          trainPct = 80, valPct = 10, seed = seed)
        .as[(Long, Long, String)].collect()
        .map(r => r._1 -> (r._2, r._3)).toMap
    // seed sensitivity: different seeds move clusters between splits
    // (the whole point of the salt — split draws independent of any
    // other hash in the pipeline), same seed is deterministic
    val s7a = threeWay(7L); val s7b = threeWay(7L); val s13 = threeWay(13L)
    assert(s7a === s7b)
    assert(s7a !== s13, "a different seed must yield a different assignment")
    // every cluster still coherent under both seeds
    // CONSOLIDATION PROOF: the 2-way face with the same (trainPct,
    // seed) draws the SAME train set — one hash input, one CC entry
    // point, different bucket boundaries only
    val twoWay = Dedup.leakageSafeSplit(docs, "doc_id", pairs, "doc_a", "doc_b",
        trainPct = 80, seed = 7L)
      .as[(Long, Long, String)].collect()
    val trainTwo = twoWay.filter(_._3 == "train").map(_._1).toSet
    val trainThree = s7a.filter(_._2._2 == "train").keySet
    assert(trainTwo === trainThree,
      "2-way and 3-way faces must share the train assignment for equal trainPct/seed")
  }
}
