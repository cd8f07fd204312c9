package graft.functions

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class DedupSpec extends SparkTestBase {
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog again and again today"
  private val nearDup = "the quick brown fox jumps over the lazy dog again and again tomorrow"
  private val other = "completely different content with no overlap whatsoever in any shingle set"

  private def docs = Seq(
    (0L, base), (1L, base), // exact dup pair
    (2L, nearDup), // near dup of 0/1
    (3L, other))
    .toDF("doc_id", "text")

  test("exact dedup groups identical texts") {
    val out = Dedup.exact(docs, "doc_id", "text")
      .select("keep_id", "dup_count").as[(Long, Long)].collect().toSet
    assert(out == Set((0L, 2L), (2L, 1L), (3L, 1L)))
  }

  test("shingles: distinct word n-grams; short docs empty") {
    val sh = docs.select(Dedup.shingles(lit("a b c d e f"), 5)).as[Seq[String]].head()
    assert(sh == Seq("a b c d e", "b c d e f"))
    assert(docs.select(Dedup.shingles(lit("a b c"), 5)).as[Seq[String]].head().isEmpty)
  }

  test("n-gram and shingle kernels equal the lambda chain, codegen and interpreted") {
    val repeated = Seq(1, 2).toDF("k").select(
      Dedup.ngramsFromTokens(TextAnalysis.tokens(lit("a b a b c a b")), 2).as("ng"),
      Dedup.shingles(lit("a b a b c a b"), 2).as("sh")).as[(Seq[String], Seq[String])].head()
    assert(repeated == (Seq("a b", "b a", "a b", "b c", "c a", "a b"), Seq("a b", "b a", "b c", "c a")))
    TextKernelReference.assertKernelsMatch(spark, TextKernelReference.edgeCases, Seq(1, 2, 3, 5))
  }

  test("jaccard pairs find exact and near dups, not unrelated docs") {
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", n = 5, threshold = 0.3)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L))) // identical → jaccard 1.0
    assert(pairs.contains((0L, 2L)) && pairs.contains((1L, 2L))) // near dup
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("minhash+LSH recovers the same pairs as exact jaccard here") {
    val exact = Dedup.jaccardPairs(docs, "doc_id", "text", n = 5, threshold = 0.3)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val lsh = Dedup.minhashDedupPairs(docs, "doc_id", "text", n = 5, k = 16, bands = 4, threshold = 0.3)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(exact))
    assert(lsh.contains((0L, 1L))) // identical docs always share all bands
  }

  test("simhash: identical docs equal; near dups within small hamming distance") {
    val fps = Dedup.simhash16(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(fps(0L) == fps(1L))
    val hamming = java.lang.Long.bitCount(fps(0L) ^ fps(2L))
    assert(hamming <= 6, s"near-dup hamming $hamming")
  }

  test("skew guard drops hot shingles from candidates but keeps exact scores") {
    // one shingle shared by ALL docs (hot), plus a genuine near-dup pair
    val hotDocs = (0L until 6L).map(i => (i, s"common one two three four tail$i x$i y$i z$i w$i")) :+
      ((6L, "common one two three four tail0 x0 y0 z0 w0")) // dup of doc 0
    val df = hotDocs.toDF("doc_id", "text")
    val unguarded = Dedup.jaccardPairs(df, "doc_id", "text", n = 5, threshold = 0.9)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val guarded = Dedup.jaccardPairs(df, "doc_id", "text", n = 5, threshold = 0.9,
      maxShingleFreq = Some(3))
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(unguarded.contains((0L, 6L)))
    assert(guarded.contains((0L, 6L))) // pair survives: joined via rare shingles
    assert(guarded.subsetOf(unguarded))
  }

  test("char shingles: whitespace-normalized n-grams; works for unsegmented text") {
    val sets = Dedup.charShingleSets(
      Seq((0L, "机器停机监控"), (1L, "机器停机监视"), (2L, "abc  def")).toDF("doc_id", "text"),
      "doc_id", "text", 3)
    val m = sets.as[(Long, Seq[String])].collect().toMap
    assert(m(0L).contains("机器停") && m(0L).size == 4)
    assert(m(0L).intersect(m(1L)).size == 3) // near-dup CJK strings share 3-grams
    assert(m(2L).contains("c d")) // runs of whitespace collapse to one space
    // the generic jaccard machinery accepts char-shingle sets directly
    val pairs = Dedup.jaccardPairsFromSets(sets, threshold = 0.4)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((0L, 1L))) // 3/5 shared 3-grams = 0.428...
  }

  test("dedupPipeline: exact clones collapsed before LSH, pairs expanded back") {
    val out = Dedup.dedupPipeline(docs, "doc_id", "text", n = 5, threshold = 0.3)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    // exact pair (0,1); near-dup 2 pairs with BOTH members of the clone group
    assert(out.contains((0L, 1L)))
    assert(out.contains((0L, 2L)) && out.contains((1L, 2L)))
    assert(!out.exists(p => p._1 == 3L || p._2 == 3L))
    val exact = Dedup.dedupPipeline(docs, "doc_id", "text", n = 5, threshold = 0.3)
      .filter(col("doc_a") === 0L && col("doc_b") === 1L)
      .select("jaccard").as[Double].head()
    assert(exact == 1.0)
  }

  test("nearDupAuto: both density regimes return the identical pair set") {
    // distinct-ish words so near-dup structure survives across variants
    def doc(i: Int, tail: String) =
      s"alpha bravo charlie delta echo foxtrot golf hotel doc$i $tail"
    // clone-heavy corpus: 4 texts, 16 docs (75% clone mass) + a
    // SHORT-TEXT clone pair LSH alone cannot see (empty shingle sets)
    val cloneHeavy = ((0 until 16).map(i => (i.toLong, doc(i / 4, "india juliet"))) ++
      Seq((100L, "tiny clone"), (101L, "tiny clone"))).toDF("doc_id", "text")
    // mostly-distinct corpus: one clone pair + one near pair in 20 docs
    val distinctish = ((0 until 20).map(i => (i.toLong, doc(i, s"kilo$i lima$i"))) ++
      Seq((100L, doc(0, "kilo0 lima0")), (101L, doc(1, "kilo1 limaX")),
        (102L, "tiny clone"), (103L, "tiny clone"))).toDF("doc_id", "text")

    assert(Dedup.cloneRatio(cloneHeavy, "text") >= 0.10, "setup: clone-heavy")
    assert(Dedup.cloneRatio(distinctish, "text") < 0.10, "setup: mostly distinct")

    for (corpus <- Seq(cloneHeavy, distinctish)) {
      val autoDf = Dedup.nearDupAuto(corpus, "doc_id", "text")
      val pipeDf = Dedup.dedupPipeline(corpus, "doc_id", "text")
      val auto = autoDf.as[(Long, Long, Double)].collect().toSet
      val pipeline = pipeDf.as[(Long, Long, Double)].collect().toSet
      assert(auto == pipeline,
        "dispatch must be unobservable: nearDupAuto == dedupPipeline")
      // the short-text clone pair is reported in BOTH regimes even
      // though its shingle sets are empty (exact supplement at work)
      val shortPair = auto.filter(p => Set(p._1, p._2).subsetOf(Set(100L, 101L, 102L, 103L)))
      assert(shortPair.exists(_._3 == 1.0), s"short-text clones must surface: $auto")
      autoDf.unpersist(false); pipeDf.unpersist(false)
    }
  }

  test("tfidf pairs: clones hit cosine 1, shared-boilerplate docs score below rare-term overlap") {
    val docs = Seq(
      (0L, "alpha beta gamma delta epsilon"),
      (1L, "alpha beta gamma delta epsilon"), // exact clone of 0
      (2L, "alpha beta gamma delta zeta"),    // 4/5 overlap with 0
      (3L, "completely different words here entirely"),
      (4L, "more unrelated content nothing shared"),
      (5L, "filler one two three four"),
      (6L, "filler five six seven eight"))
      .toDF("doc_id", "text")
    val pairs = Dedup.tfidfPairs(docs, "doc_id", "text", threshold = 0.1)
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2) -> p._3).toMap
    assert(pairs((0L, 1L)) == 1.0) // identical weight vectors
    assert(pairs.contains((0L, 2L)) && pairs((0L, 2L)) < 1.0 && pairs((0L, 2L)) > 0.5)
    assert(!pairs.contains((3L, 4L))) // no shared terms at all
  }

  test("tfidfIdfOf mirrors tfidfPairs' guard and quantized idf, with positive margins") {
    val docs = Seq(
      (0L, "alpha beta gamma delta epsilon"),
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta zeta"),
      (3L, "completely different words here entirely"),
      (4L, "more unrelated content nothing shared"),
      (5L, "filler one two three four"),
      (6L, "filler five six seven eight"))
      .toDF("doc_id", "text")
    val n = docs.count()
    val idf = Dedup.tfidfIdfOf(docs, "doc_id", "text")
      .as[(String, Long, Double)].collect()
    // expected: df per term from the same tokenization, guard df·2 ≤ N
    val dfm = docs.select(col("doc_id"),
        explode(graft.functions.TextAnalysis.tokens(col("text"))).as("term"))
      .distinct().groupBy("term").count()
      .as[(String, Long)].collect().toMap
      .filter { case (_, df) => df * 2 <= n }
    assert(idf.map(_._1).toSet == dfm.keySet)
    idf.foreach { case (t, idfI, margin) =>
      val f = 1e4 * math.log(n.toDouble / dfm(t))
      assert(idfI == math.floor(f).toLong, s"term $t")
      val exp = math.min(f - math.floor(f), 1.0 - (f - math.floor(f)))
      assert(math.abs(margin - exp) < 1e-9 && margin > 0 && margin <= 0.5, s"term $t")
    }
  }

  test("connected components: chains, triangles and singleton pairs get min-id labels") {
    // 1-2-3 is a chain (diameter 2), 10-11 a pair, 20/21/22 a triangle
    val pairs = Seq((2L, 1L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 22L), (20L, 22L))
      .toDF("doc_a", "doc_b")
    val cc = Dedup.connectedComponents(pairs, "doc_a", "doc_b")
      .as[(Long, Long)].collect().toSet
    assert(cc == Set((1L, 1L), (2L, 1L), (3L, 1L),
      (10L, 10L), (11L, 10L),
      (20L, 20L), (21L, 20L), (22L, 20L)))
  }

  test("duplicatedSpanRegions merges overlapping spans into maximal regions") {
    // docs 0/1 share tokens 3..12 of doc 0 ("d e f g h i j k l m"):
    // three overlapping duplicated 8-gram starts (pos 3, 4, 5 in doc
    // 0) must merge into ONE region of 10 tokens; doc 2 contributes
    // nothing (no shared 8-gram)
    val shared = "d e f g h i j k l m"
    val df = Seq(
      (0L, s"a b c $shared x0 y0"),
      (1L, s"zz $shared qq rr"),
      (2L, "totally different words with no overlap at all whatsoever here"))
      .toDF("doc_id", "text")
    val out = Dedup.duplicatedSpanRegions(df, "doc_id", "text", n = 8, minDocs = 2)
      .select("doc_id", "start_pos", "n_tokens", "n_grams")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(out == Set(
      (0L, 4L, 10L, 3L), // tokens 4..13 (1-based) = the shared run
      (1L, 2L, 10L, 3L)))
    // region text is identical across the pair (same md5)
    val md5s = Dedup.duplicatedSpanRegions(df, "doc_id", "text", n = 8, minDocs = 2)
      .select("region_md5").as[String].collect().toSet
    assert(md5s.size == 1)
  }

  test("boilerplateSegmentRemoval cuts corpus-repeated segments, keeps order, never drops docs") {
    // w=4 segments; "p q r s" is segment 0 of docs 0 and 1 → boilerplate
    // at minDocs=2; every other segment is unique. Doc 2 is ALL
    // boilerplate (identical to doc 3) → returns as empty string.
    val df = Seq(
      (0L, "p q r s a b c d e"), // segs: [p q r s][a b c d][e]
      (1L, "p q r s f g h i"), // segs: [p q r s][f g h i]
      (2L, "w x y z"),
      (3L, "w x y z"),
      (4L, "unique words only here nothing shared"))
      .toDF("doc_id", "text")
    val m = Dedup.boilerplateSegmentRemoval(df, "doc_id", "text", w = 4, minDocs = 2)
      .select("doc_id", "clean_text", "n_segments", "n_dropped")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2), r.getInt(3)))).toMap
    assert(m(0L) == (("a b c d e", 3, 1))) // order preserved across the cut
    assert(m(1L) == (("f g h i", 2, 1)))
    assert(m(2L) == (("", 1, 1))) // all-boilerplate doc survives as ''
    assert(m(3L) == (("", 1, 1)))
    assert(m(4L) == (("unique words only here nothing shared", 2, 0)))
    assert(m.size == 5)
  }

  test("boilerplate removal reassembly invariant: kept + dropped segments partition the doc") {
    // real corpus slice: for EVERY doc, the clean text must be exactly
    // the original token stream minus whole dropped segments, in order
    // — no token invented, none lost except via a counted drop
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val out = Dedup.boilerplateSegmentRemoval(docs, "doc_id", "text", w = 8, minDocs = 2)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2), r.getInt(3)))).toMap
    val orig = docs.select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(out.keySet == orig.keySet)
    // independent Scala re-implementation of the contract
    def segsOf(text: String): Seq[String] = {
      val toks = text.trim.split("\\s+").filter(_.nonEmpty).toSeq
      if (toks.isEmpty) Seq("") else toks.grouped(8).map(_.mkString(" ")).toSeq
    }
    val allSegs = orig.map { case (id, t) => id -> segsOf(t) }
    val boiler = allSegs.toSeq
      .flatMap { case (id, segs) => segs.distinct.map(_ -> id) }
      .groupBy(_._1).collect { case (s, ids) if ids.map(_._2).distinct.size >= 2 => s }
      .toSet
    var dropped = 0
    allSegs.foreach { case (id, segs) =>
      val (clean, nSegs, nDrop) = out(id)
      assert(nSegs == segs.size, s"doc $id segment count")
      assert(clean == segs.filterNot(boiler).mkString(" "), s"doc $id reassembly")
      assert(nDrop == segs.count(boiler), s"doc $id drop count")
      dropped += nDrop
    }
    assert(dropped > 0, "corpus should contain SOME boilerplate at minDocs=2")
  }

  test("ngramNovelty: clones score 0, unique docs 1, short docs kept at 0") {
    val df = Seq(
      (0L, "a b c d e"), // clone pair: every trigram shared
      (1L, "a b c d e"),
      (2L, "p q r s t u"), // fully unique trigrams
      (3L, "a b c x y"), // shares "a b c" with the clones, rest unique
      (4L, "hi")) // too short for any trigram
      .toDF("doc_id", "text")
    val m = Dedup.ngramNovelty(df, "doc_id", "text", n = 3)
      .select("doc_id", "n_grams", "n_novel", "novelty")
      .as[(Long, Int, Int, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(m.size == 5)
    assert(m(0L) == ((3, 0, 0.0)) && m(1L) == ((3, 0, 0.0)))
    assert(m(2L) == ((4, 4, 1.0)))
    assert(m(3L) == ((3, 2, 2.0 / 3.0))) // "a b c" seen elsewhere
    assert(m(4L) == ((0, 0, 0.0)))
  }

  test("canonicalRepresentatives: best score wins per cluster, singletons kept, no doc lost") {
    val pairs = Seq((0L, 1L), (1L, 2L)).toDF("doc_a", "doc_b") // cluster {0,1,2}
    val docs = Seq(0L, 1L, 2L, 9L).toDF("doc_id") // 9 is a singleton
    val scores = Seq((0L, 0.1), (1L, 0.9), (2L, 0.9), (9L, -5.0))
      .toDF("doc_id", "s")
    val out = Dedup.canonicalRepresentatives(docs, "doc_id",
        pairs, "doc_a", "doc_b", scores, "s")
      .select("doc_id", "cluster_id", "canonical")
      .as[(Long, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out.size == 4)
    assert(out(0L) == ((0L, false))) // lowest score in its cluster
    assert(out(1L) == ((0L, true))) // 0.9 tie broken by lower id
    assert(out(2L) == ((0L, false)))
    assert(out(9L) == ((9L, true))) // singleton is canonical even at a bad score
  }

  test("composed dedup operators release their staged caches (ownership contract)") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    // every composed operator that stages an internal cache: after the
    // call returns and the CALLER releases the returned result, the
    // session retains nothing the operator created
    val outs = Seq(
      Dedup.jaccardPairs(docs, "doc_id", "text", n = 5, threshold = 0.3),
      Dedup.jaccardPairs(docs, "doc_id", "text", n = 5, threshold = 0.3,
        maxShingleFreq = Some(3)),
      Dedup.minhashDedupPairs(docs, "doc_id", "text", n = 5, k = 16, bands = 4, threshold = 0.3),
      Dedup.dedupPipeline(docs, "doc_id", "text", n = 5, threshold = 0.3),
      Dedup.tfidfPairs(docs, "doc_id", "text", threshold = 0.1),
      Dedup.contaminationPairs(docs, docs.limit(2), "doc_id", "text", n = 5),
      Dedup.contaminationPairsBloom(docs, docs.limit(2), "doc_id", "text", n = 5))
    outs.foreach(_.count()) // results are usable after the operator returned
    outs.foreach(_.unpersist(true))
    val leaked = sc.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"operator-staged caches leaked: $leaked")
  }

  test("star CC checkpoints reliably when a checkpoint dir is configured") {
    // NOTE: setCheckpointDir is sticky on the shared test session —
    // later suites just gain reliable checkpointing too (correct, a
    // touch slower). A fresh dir under target/ (`clean` removes it),
    // so only the files this call writes are counted.
    val dir = java.nio.file.Files.createTempDirectory(
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get("target")),
      "graft-test-ckpt").toFile
    spark.sparkContext.setCheckpointDir(dir.getAbsolutePath)
    def countFiles(f: java.io.File): Int =
      if (f.isDirectory) Option(f.listFiles).map(_.map(countFiles).sum).getOrElse(0) else 1
    val before = countFiles(dir)
    val pairs = Seq((2L, 1L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val cc = Dedup.connectedComponentsStar(pairs, "doc_a", "doc_b")
      .as[(Long, Long)].collect().toSet
    assert(cc == Set((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L)))
    // frontier files actually landed in the RELIABLE dir (not executor-local)
    assert(countFiles(dir) > before, "no reliable checkpoint files written")
  }

  test("min-label CC past maxIter falls through to star — never returns unconverged labels") {
    // path 0-1-...-60: diameter 60 > the 20 rounds an O(diameter)-round
    // CC was once capped at (that cap silently split the 139-member d20
    // serial-key chain at 10x, 94/45). connectedComponents no longer
    // iterates at all, so a long chain must come back as one component.
    val path = (0L until 60L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val got = Dedup.connectedComponents(path, "doc_a", "doc_b")
      .as[(Long, Long)].collect().toSet
    assert(got == (0L to 60L).map(i => (i, 0L)).toSet)
  }

  test("star CC: same labels as connectedComponents, diameter >> rounds") {
    // long path 0-1-2-...-255: the star rounds collapse it in
    // O(log^2 n). maxIter = 12 makes the round bound an ASSERTION — an
    // O(diameter)-round CC at 12 rounds would still be far from
    // converged on this graph.
    val path = (0L until 255L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val star = Dedup.connectedComponentsStar(path, "doc_a", "doc_b", maxIter = 12)
      .as[(Long, Long)].collect().toSet
    assert(star == (0L to 255L).map(i => (i, 0L)).toSet)

    // mixed shapes: star/union-find labels agree exactly (two
    // cliques, a bridge chain, a singleton edge, reversed orders)
    val pairs = Seq((2L, 1L), (2L, 3L), (3L, 7L), (7L, 9L), (9L, 8L),
      (20L, 21L), (21L, 22L), (22L, 20L), (40L, 41L)).toDF("doc_a", "doc_b")
    val a = Dedup.connectedComponents(pairs, "doc_a", "doc_b")
      .as[(Long, Long)].collect().toSet
    val b = Dedup.connectedComponentsStar(pairs, "doc_a", "doc_b")
      .as[(Long, Long)].collect().toSet
    assert(a == b)

    // d7's REAL pair set (sf0.001 near-dup pairs): label-for-label
    // equality means the d7 oracle hash is algorithm-independent
    val d = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val real = Dedup.jaccardPairs(d, "doc_id", "text", n = 5, threshold = 0.3)
    real.persist()
    val ml = Dedup.connectedComponents(real, "doc_a", "doc_b")
      .as[(Long, Long)].collect().toSet
    val st = Dedup.connectedComponentsStar(real, "doc_a", "doc_b")
      .as[(Long, Long)].collect().toSet
    real.unpersist()
    assert(ml.nonEmpty && ml == st)

    // a null endpoint: both paths return the same rows — the other
    // endpoint labeled as usual, the null as (null, null)
    val withNull = Seq((Some(1L), Some(2L)), (Some(3L), None), (None, Some(1L)))
      .toDF("doc_a", "doc_b")
    val un = Dedup.connectedComponents(withNull, "doc_a", "doc_b")
      .as[(Option[Long], Option[Long])].collect().toSet
    val sn = Dedup.connectedComponentsStar(withNull, "doc_a", "doc_b")
      .as[(Option[Long], Option[Long])].collect().toSet
    assert(un == Set((Some(1L), Some(1L)), (Some(2L), Some(1L)), (Some(3L), Some(3L)),
      (None, None)))
    assert(un == sn)

    // string ids that UTF-8 (Spark) and UTF-16 (String.compareTo)
    // order differently: U+FFFD sorts below U+1F600 in UTF-8 bytes
    // and above its surrogate pair in UTF-16, so the label must be
    // "\uFFFD"
    val utf = Seq(("\uD83D\uDE00", "\uFFFD"), ("\uD83D\uDE00x", "\uD83D\uDE00"))
      .toDF("doc_a", "doc_b")
    val uu = Dedup.connectedComponents(utf, "doc_a", "doc_b")
      .as[(String, String)].collect().toSet
    val us = Dedup.connectedComponentsStar(utf, "doc_a", "doc_b")
      .as[(String, String)].collect().toSet
    assert(uu == Set("\uD83D\uDE00", "\uFFFD", "\uD83D\uDE00x").map(_ -> "\uFFFD"))
    assert(uu == us)
  }

  test("star CC local-contraction pre-pass: cross-partition chains, string ordering, type fallback") {
    // a 500-node string-keyed path scattered over 7 partitions: each
    // partition's segment contracts to a star in memory, the
    // distributed rounds only stitch the ≤7 segment minima — labels
    // must still be the one global min
    val chain = (0 until 500).map(i => (f"v$i%04d", f"v${i + 1}%04d"))
      .toDF("doc_a", "doc_b").repartition(7)
    val got = Dedup.connectedComponentsStar(chain, "doc_a", "doc_b", maxIter = 12)
      .as[(String, String)].collect().toSet
    assert(got == (0 to 500).map(i => (f"v$i%04d", "v0000")).toSet)

    // duplicate node across partitions + disjoint components: the
    // mapping edges must bridge trees that share a node, not merge
    // trees that don't
    val two = (Seq((10L, 11L), (11L, 12L), (30L, 31L)) ++
        Seq((12L, 13L), (31L, 32L))).toDF("doc_a", "doc_b").repartition(5)
    val lab2 = Dedup.connectedComponentsStar(two, "doc_a", "doc_b")
      .as[(Long, Long)].collect().toSet
    assert(lab2 == Set((10L, 10L), (11L, 10L), (12L, 10L), (13L, 10L),
      (30L, 30L), (31L, 30L), (32L, 30L)))

    // unsupported id type (double) skips the pre-pass — same labels
    // through the uncontracted path
    val dbl = Seq((1.5, 2.5), (2.5, 3.5), (9.0, 8.0)).toDF("doc_a", "doc_b")
    val lab3 = Dedup.connectedComponentsStar(dbl, "doc_a", "doc_b")
      .as[(Double, Double)].collect().toSet
    assert(lab3 == Set((1.5, 1.5), (2.5, 1.5), (3.5, 1.5), (8.0, 8.0), (9.0, 8.0)))
  }

  test("leakage-safe split: cluster-coherent, zero crossing pairs; naive per-doc split leaks") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", n = 5, threshold = 0.3)
    pairs.persist()
    assert(pairs.count() > 0, "need real near-dup pairs for the leakage measurement")
    val split = Dedup.leakageSafeSplit(docs, "doc_id", pairs, "doc_a", "doc_b",
      trainPct = 90, seed = 7)
    split.persist()
    // every doc appears exactly once
    assert(split.count() === docs.count())
    // cluster-coherent: one split value per cluster
    assert(split.groupBy(col("cluster_id"))
      .agg(countDistinct(col("split")).as("n")).filter(col("n") > 1).count() === 0)
    // both sides populated at 90/10 on this corpus
    val bySplit = split.groupBy(col("split")).count()
      .as[(String, Long)].collect().toMap
    assert(bySplit.keySet === Set("train", "heldout") && bySplit.forall(_._2 > 0))
    // THE measurement: near-dup pairs crossing the boundary — zero by
    // construction for the safe split, strictly positive for a naive
    // per-doc hash split with the same proportions on the same corpus
    def crossings(assign: org.apache.spark.sql.DataFrame): Long =
      pairs.join(assign.select(col("doc_id").as("doc_a"), col("split").as("_sa")), Seq("doc_a"))
        .join(assign.select(col("doc_id").as("doc_b"), col("split").as("_sb")), Seq("doc_b"))
        .filter(col("_sa") =!= col("_sb")).count()
    assert(crossings(split) === 0L, "safe split must never separate near-duplicates")
    val naive = docs.select(col("doc_id"),
      when(Dedup.md5Hash32(concat(lit("split:7:"), col("doc_id").cast("string"))) % 100 < 90,
        lit("train")).otherwise(lit("heldout")).as("split"))
    assert(crossings(naive) > 0L,
      "per-doc hashing must leak on this corpus, or the measurement is vacuous")
    // deterministic across partitionings
    val again = Dedup.leakageSafeSplit(docs.repartition(7), "doc_id",
        pairs, "doc_a", "doc_b", trainPct = 90, seed = 7)
      .as[(Long, Long, String)].collect().toSet
    assert(again === split.as[(Long, Long, String)].collect().toSet)
    pairs.unpersist(); split.unpersist()
  }

  test("embedding near-dup finds planted duplicate vectors") {
    val v1 = Array.tabulate(8)(i => (i + 1).toFloat)
    val v2 = v1.map(x => x * 1.001f) // near-identical direction
    val v3 = Array.tabulate(8)(i => if (i % 2 == 0) -1f else 1f)
    val emb = Seq((0L, v1.toSeq), (1L, v2.toSeq), (2L, v3.toSeq)).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDupPairs(emb, "vec_id", "embedding",
      dim = 8, threshold = 0.99, planes = 4)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((0L, 1L)))
  }

  test("semantic decontamination flags same-cell leakage, honors the cell block") {
    val cents = Seq(0 -> Seq(1f, 0f), 1 -> Seq(-1f, 0f))
    val corpus = Seq(
      (10L, Seq(0.9f, 0.1f)),   // cell 0, near bench 100 → flagged
      (11L, Seq(0.05f, 1.0f)),  // cell 0, orthogonal to bench 100 → clean
      (12L, Seq(-0.95f, 0.0f)), // cell 1, near bench 101 → flagged
      (14L, Seq(0.01f, 1.0f)))  // cell 0 — near bench 102 but CROSS-cell
      .toDF("vec_id", "embedding")
    val bench = Seq(
      (100L, Seq(1.0f, 0.05f)),  // cell 0
      (101L, Seq(-1.0f, -0.02f)), // cell 1
      (102L, Seq(-0.01f, 1.0f))) // cell 1 — high cosine to 14, other cell
      .toDF("vec_id", "embedding")
    val out = Dedup.semanticDecontaminate(corpus, "vec_id", bench, "vec_id",
      "embedding", cents, threshold = 0.8)
      .select("vec_id", "bench_id").as[(Long, Long)].collect().toSet
    // the cell block is the documented approximation: (14, 102) has
    // cosine ≈ 0.9998 but lives across the cell boundary, so it is
    // not flagged — the recall lever at scale is more cells + margin
    // probes, not a corpus × bench scan
    assert(out == Set((10L, 100L), (12L, 101L)))
    // the margin probe closes exactly that miss: vec 14's assignment
    // gap is |0.98 − 1.02| = 0.04, so margin 0.05 ghosts it into cell
    // 1 where bench 102 lives
    val withMargin = Dedup.semanticDecontaminate(corpus, "vec_id", bench,
      "vec_id", "embedding", cents, threshold = 0.8, margin = 0.05)
      .select("vec_id", "bench_id").as[(Long, Long)].collect().toSet
    assert(withMargin == Set((10L, 100L), (12L, 101L), (14L, 102L)))
  }
}
