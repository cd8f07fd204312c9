package graft

import graft.functions.{Dedup, Similarity, TextAnalysis}
import graft.functions.expressions.FloatVecDot
import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.graftshim.GraftColumns
import org.apache.spark.sql.types.IntegerType

/**
 * Session extensions: registers graft's custom Catalyst expression and
 * the whole text/dedup/similarity scalar surface as native SQL
 * functions, so a pure-SQL caller (`spark.sql`, thrift, notebooks) can
 * use the library without touching the Scala API. Install via
 * `SparkSession.builder().withExtensions(new GraftExtensions)` or
 * `spark.sql.extensions=graft.GraftExtensions`; for an already-running
 * session use [[GraftExtensions.registerTemp]].
 *
 * Every function here lowers to the same Column expressions the
 * DataFrame API uses — codegen'd, no UDFs — so `graft_quality_score(
 * text)` in SQL plans identically to `TextAnalysis.qualityScore(col)`.
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(e.injectFunction)
}

object GraftExtensions {

  private def info(name: String) =
    new ExpressionInfo(classOf[TextAnalysis.type].getName, name)

  private def fn1(name: String)(f: Column => Column)
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    new FunctionIdentifier(name), info(name),
    (exprs: Seq[Expression]) => {
      require(exprs.length == 1, s"$name takes one argument")
      GraftColumns.toExpression(f(GraftColumns.column(exprs.head)))
    })

  private def fn2(name: String)(f: (Column, Column) => Column)
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    new FunctionIdentifier(name), info(name),
    (exprs: Seq[Expression]) => {
      require(exprs.length == 2, s"$name takes two arguments")
      GraftColumns.toExpression(
        f(GraftColumns.column(exprs.head), GraftColumns.column(exprs(1))))
    })

  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (
      new FunctionIdentifier("float_vec_dot"),
      new ExpressionInfo(classOf[FloatVecDot].getName, "float_vec_dot"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2, "float_vec_dot(a, b) takes two array<float> arguments")
        FloatVecDot(exprs.head, exprs(1))
      }),
    fn1("graft_token_count")(TextAnalysis.tokenCount),
    fn1("graft_bpeish_token_count")(TextAnalysis.bpeishTokenCount),
    fn1("graft_mean_token_length")(TextAnalysis.meanTokenLength),
    fn1("graft_punct_ratio")(TextAnalysis.punctRatio),
    fn1("graft_repetition_ratio")(TextAnalysis.repetitionRatio),
    fn1("graft_stopword_ratio")(TextAnalysis.stopwordRatio(_)),
    fn1("graft_quality_score")(TextAnalysis.qualityScore),
    fn1("graft_lang_id")(TextAnalysis.languageId),
    fn1("graft_fingerprint")(TextAnalysis.fingerprint),
    fn1("graft_redact_pii")(TextAnalysis.redactPii),
    fn1("graft_nfc")(TextAnalysis.nfc),
    fn1("graft_nfkc")(TextAnalysis.nfkc),
    fn1("graft_dedup_lines")(TextAnalysis.dedupLines(_)),
    fn1("graft_hash32")(Dedup.md5Hash32),
    fn1("graft_quality_logit")(TextAnalysis.qualityLogit(_)),
    // graft_rand_proj(vec): the seeded 64→16 ±1 JL projection n9 uses
    fn1("graft_rand_proj")(Similarity.randomProject(_, 64, 16)),
    fn2("graft_cosine")(Similarity.cosine),
    // graft_shingles(text, n): n must be a literal — it is a
    // plan-time constant of the native shingle kernel
    (
      new FunctionIdentifier("graft_shingles"), info("graft_shingles"),
      (exprs: Seq[Expression]) => {
        val n = exprs match {
          case Seq(_, Literal(v: Int, IntegerType)) => v
          case _ => throw new IllegalArgumentException(
            "graft_shingles(text, n) takes a text column and a literal int n")
        }
        GraftColumns.toExpression(Dedup.shingles(GraftColumns.column(exprs.head), n))
      }),
    // graft_hll_sketch / graft_hll_merge / graft_hll_stats: the
    // mergeable distinct-count sketch as SQL aggregates + reader —
    // the analyzer wraps a bare AggregateFunction from a registry
    // builder in its AggregateExpression, so these work directly in
    // GROUP BY queries
    (
      new FunctionIdentifier("graft_hll_sketch"),
      new ExpressionInfo(classOf[graft.functions.expressions.HllSketchAgg].getName,
        "graft_hll_sketch"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 1, "graft_hll_sketch(stringCol)")
        graft.functions.expressions.HllSketchAgg(exprs.head)
      }),
    (
      new FunctionIdentifier("graft_hll_merge"),
      new ExpressionInfo(classOf[graft.functions.expressions.HllMergeAgg].getName,
        "graft_hll_merge"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 1, "graft_hll_merge(sketchCol)")
        graft.functions.expressions.HllMergeAgg(exprs.head)
      }),
    (
      new FunctionIdentifier("graft_hll_stats"),
      new ExpressionInfo(classOf[graft.functions.expressions.HllStats].getName,
        "graft_hll_stats"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 1, "graft_hll_stats(sketchCol)")
        graft.functions.expressions.HllStats(exprs.head)
      }),
    // graft_zorder(bits, c1, c2, ...): Morton clustering key over
    // pre-bucketed BIGINT dims; bits must be a literal (it fixes the
    // generated bit-loop shape at plan time)
    (
      new FunctionIdentifier("graft_zorder"),
      new ExpressionInfo(classOf[graft.functions.expressions.ZOrderInterleave].getName,
        "graft_zorder"),
      (exprs: Seq[Expression]) => {
        val bits = exprs.headOption match {
          case Some(Literal(v: Int, IntegerType)) => v
          case _ => throw new IllegalArgumentException(
            "graft_zorder(bits, cols...) needs a literal int bits first")
        }
        require(exprs.length >= 3, "graft_zorder takes bits plus at least two columns")
        graft.functions.expressions.ZOrderInterleave(exprs.tail, bits)
      }))

  /** Register into a live session (getOrCreate ignores withExtensions
   * when a session already exists). */
  def registerTemp(spark: SparkSession): Unit =
    functions.foreach { case (id, _, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(id.funcName, builder, "built-in")
    }
}
