package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.debug.codegenString
import org.apache.spark.sql.functions._
import org.scalacheck.Gen

/**
 * The higher-order-function chains the native text kernels replaced,
 * kept here only as the reference the kernels are checked against,
 * plus the harness that compares both under each codegen factory mode.
 */
object TextKernelReference {

  def tokens(text: Column): Column = filter(split(text, "\\s+"), t => t =!= "")

  def ngrams(toks: Column, n: Int): Column =
    when(size(toks) < n, array().cast("array<string>"))
      .otherwise(transform(
        sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", (0 until n).map(j => element_at(toks, i + lit(j))): _*)))

  def shingles(text: Column, n: Int): Column = array_distinct(ngrams(tokens(text), n))

  def charNgrams(t: Column, n: Int): Column =
    when(length(t) < n, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), length(t) - (n - 1)), i => t.substr(i, lit(n))))

  /** The six characters Java's `\s` matches, and mixed runs of them. */
  private val whitespace: Seq[String] =
    Seq(" ", "\t", "\n", "\u000B", "\f", "\r", "  ", " \t\n", "\r\n", "\u000B\f ")

  /** Random text over a small vocabulary (so grams repeat), joined by
   * mixed whitespace, with optional leading/trailing whitespace. The
   * vocabulary includes NBSP (U+00A0, not `\s`) inside a token and
   * multi-byte characters. */
  val textGen: Gen[String] = for {
    k <- Gen.choose(0, 14)
    words <- Gen.listOfN(k, Gen.oneOf("a", "b", "cd", "é", "x\u00A0y", "\u00A0", "中文", "😀"))
    seps <- Gen.listOfN(k + 1, Gen.oneOf(whitespace))
    lead <- Gen.oneOf(true, false)
    trail <- Gen.oneOf(true, false)
  } yield {
    // w1 s1 w2 s2 … wk, the separator after the last word dropped
    val body = words.zip(seps.tail).flatMap { case (w, s) => Seq(w, s) }.dropRight(1)
    ((if (lead) seps.head else "") +: body :+ (if (trail) seps.last else "")).mkString
  }

  /** Hand-picked edge cases: null, empty, all blank, NBSP-only, fewer
   * tokens than any n, repeated grams (first-occurrence order). */
  val edgeCases: Seq[String] = Seq(null, "", " ", " \t\n\u000B\f\r ", "\u00A0",
    "a\u00A0b c", "one", "one two", "\tlead and trail\n", "a a a a a a",
    "a b a b a b c a b", "x  y\t\tz\r\n\r\nx y z", "\u000Bé\f中文😀 é 中文")

  /** Run `body` once with generated code only (whole-stage codegen on,
   * no interpreted fallback) and once interpreted only. */
  def underFactoryModes(spark: SparkSession)(body: String => Unit): Unit =
    for (mode <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
      val codegen = mode == "CODEGEN_ONLY"
      val confs = Map(
        "spark.sql.codegen.factoryMode" -> mode,
        "spark.sql.codegen.wholeStage" -> codegen.toString,
        "spark.sql.codegen.fallback" -> (!codegen).toString)
      val saved = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
      try {
        confs.foreach { case (k, v) => spark.conf.set(k, v) }
        body(mode)
      } finally saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }

  /** Every kernel against its reference chain over `texts`, under both
   * factory modes. The repartition keeps the projections out of the
   * optimizer's local-relation folding, so they run in the mode under
   * test. The kernels get their own projection: a lambda
   * (`CodegenFallback`) keeps the whole projection out of whole-stage
   * codegen, and in codegen mode the kernels' stage must be generated
   * code that calls them. */
  def assertKernelsMatch(spark: SparkSession, texts: Seq[String], ns: Seq[Int]): Unit = {
    import spark.implicits._
    val df = texts.zipWithIndex.map { case (t, i) => (i, t) }.toDF("id", "text").repartition(2)
    val t = col("text")
    val pairs: Seq[(String, Column, Column)] =
      Seq(("tokens", TextAnalysis.tokens(t), tokens(t))) ++ ns.flatMap(n => Seq(
        (s"ngrams($n)", Dedup.ngramsFromTokens(TextAnalysis.tokens(t), n), ngrams(tokens(t), n)),
        (s"shingles($n)", Dedup.shingles(t, n), shingles(t, n)),
        (s"charNgrams($n)", TextAnalysis.charNgrams(t, n), charNgrams(t, n)),
        (s"charShingles($n)", Dedup.charShinglesFromNormalized(t, n),
          array_distinct(charNgrams(t, n)))))
    def byId(cols: Seq[Column]): (DataFrame, Map[Int, Row]) = {
      val out = df.select(col("id") +: cols: _*)
      (out, out.collect().map(r => r.getInt(0) -> r).toMap)
    }
    underFactoryModes(spark) { mode =>
      val (native, got) = byId(pairs.map(_._2))
      val (_, want) = byId(pairs.map(_._3))
      if (mode == "CODEGEN_ONLY") {
        // after the action: the adaptive plan is final
        val code = codegenString(native.queryExecution.executedPlan)
        Seq("tokens", "wordNgrams", "charNgrams").foreach(k =>
          assert(code.contains(s"TextKernels.$k("), s"generated code does not call $k"))
      }
      texts.indices.foreach { id =>
        pairs.zipWithIndex.foreach { case ((name, _, _), i) =>
          val (g, w) = (got(id).get(1 + i), want(id).get(1 + i))
          assert(g == w, s"$name [$mode] of ${Option(texts(id)).map(escape)}: $g != $w")
        }
      }
    }
  }

  private def escape(s: String): String =
    s.flatMap(c => if (c < ' ' || c == '\u00A0') f"\\u${c.toInt}%04x" else c.toString)
}
