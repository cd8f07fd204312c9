package graft.functions.expressions

import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * The text-kernel family every tokenizing / shingling operator shares:
 * whitespace tokens, word n-grams and character n-grams as codegen'd
 * Catalyst expressions.
 *
 * They replace higher-order-function chains (`split → filter →
 * transform(sequence) → element_at → concat_ws → array_distinct`).
 * A lambda body re-evaluates every captured expression per element, so
 * an inline chain re-tokenized the document once per shingle position,
 * and any optimizer rule that copies the expression (filter inference
 * under an `explode`, alias substitution on pushdown) copied that
 * O(tokens²) cost with it. Each kernel here is one linear pass over its
 * input, so a copied expression costs 2×, not O(tokens²), and a stage
 * stays inside whole-stage codegen.
 *
 * The generated code calls the static kernels of [[TextKernels]]
 * directly, the same code the interpreted path runs. Null in → null
 * out; n-gram kernels return an empty array when the input has fewer
 * than `n` units.
 */
object TextKernels {

  private val Space = UTF8String.fromString(" ")

  /** Java regex `\s` without UNICODE_CHARACTER_CLASS is exactly
   * `[ \t\n\x0B\f\r]`. All six are ASCII, and no byte of a multi-byte
   * UTF-8 sequence is below 0x80, so a byte scan is exact (NBSP,
   * U+00A0, is not whitespace here, as in `split(text, "\\s+")`). */
  @inline private def isSpace(b: Byte): Boolean = b == ' ' || (b >= '\t' && b <= '\r')

  /** Runs of non-whitespace, in order — `split(s, "\\s+")` with the
   * empty strings dropped. Tokens are views into one copy of the
   * input's bytes. */
  def tokens(s: UTF8String): ArrayData = {
    val bytes = s.getBytes
    val nb = bytes.length
    var count = 0
    var i = 0
    while (i < nb) {
      while (i < nb && isSpace(bytes(i))) i += 1
      if (i < nb) {
        count += 1
        while (i < nb && !isSpace(bytes(i))) i += 1
      }
    }
    val out = new Array[AnyRef](count)
    var k = 0
    i = 0
    while (k < count) {
      while (isSpace(bytes(i))) i += 1
      val start = i
      while (i < nb && !isSpace(bytes(i))) i += 1
      out(k) = UTF8String.fromBytes(bytes, start, i - start)
      k += 1
    }
    new GenericArrayData(out)
  }

  /** Word n-grams of a token array: tokens i..i+n-1 joined by " "
   * (null elements skipped, as `concat_ws` does), in document order;
   * with `distinct`, first occurrences only (`array_distinct`). */
  def wordNgrams(toks: ArrayData, n: Int, distinct: Boolean): ArrayData = {
    val parts = new Array[UTF8String](n)
    grams(toks.numElements() - n + 1, distinct) { i =>
      var j = 0
      while (j < n) {
        parts(j) = if (toks.isNullAt(i + j)) null else toks.getUTF8String(i + j)
        j += 1
      }
      UTF8String.concatWs(Space, parts: _*)
    }
  }

  /** Character n-grams: `substring(s, i, n)` for i in 1..length-n+1,
   * with characters counted the way `length`/`substring` count them
   * (by the UTF-8 lead byte). */
  def charNgrams(s: UTF8String, n: Int, distinct: Boolean): ArrayData = {
    val bytes = s.getBytes
    val nb = bytes.length
    // start offset of every character, plus the end offset
    val starts = new Array[Int](s.numChars() + 1)
    var c = 0
    var i = 0
    while (i < nb) {
      starts(c) = i
      c += 1
      i = math.min(nb, i + UTF8String.numBytesForFirstByte(bytes(i)))
    }
    starts(c) = nb
    grams(c - n + 1, distinct) { g =>
      UTF8String.fromBytes(bytes, starts(g), starts(g + n) - starts(g))
    }
  }

  /** `m` grams built by `gram(0 until m)`, optionally first-occurrence
   * distinct; `m <= 0` gives the empty array. */
  private def grams(m: Int, distinct: Boolean)(gram: Int => UTF8String): ArrayData = {
    if (m <= 0) return new GenericArrayData(Array.empty[AnyRef])
    val out = new Array[AnyRef](m)
    val seen = if (distinct) new java.util.HashSet[UTF8String](m * 2) else null
    var k = 0
    var i = 0
    while (i < m) {
      val g = gram(i)
      if (seen == null || seen.add(g)) {
        out(k) = g
        k += 1
      }
      i += 1
    }
    new GenericArrayData(if (k == m) out else java.util.Arrays.copyOf(out, k))
  }

  private[expressions] val Kernels = "graft.functions.expressions.TextKernels"
  private[expressions] val StringArray = ArrayType(StringType, containsNull = false)
}

/** Whitespace tokens of a string: [[TextKernels.tokens]]. */
case class Tokens(child: Expression) extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = TextKernels.StringArray

  override protected def nullSafeEval(s: Any): Any =
    TextKernels.tokens(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"${TextKernels.Kernels}.tokens($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Word n-grams of a token array: [[TextKernels.wordNgrams]]. `n` and
 * `distinct` are plan-time constants baked into the generated code. */
case class WordNgrams(child: Expression, n: Int, distinct: Boolean)
    extends UnaryExpression with ImplicitCastInputTypes {
  require(n >= 1, s"n-gram size must be positive, got $n")

  override def inputTypes = Seq(ArrayType(StringType))
  override def dataType: DataType = TextKernels.StringArray

  override protected def nullSafeEval(toks: Any): Any =
    TextKernels.wordNgrams(toks.asInstanceOf[ArrayData], n, distinct)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"${TextKernels.Kernels}.wordNgrams($c, $n, $distinct)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Character n-grams of a string: [[TextKernels.charNgrams]]. */
case class CharNgrams(child: Expression, n: Int, distinct: Boolean)
    extends UnaryExpression with ImplicitCastInputTypes {
  require(n >= 1, s"n-gram size must be positive, got $n")

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = TextKernels.StringArray

  override protected def nullSafeEval(s: Any): Any =
    TextKernels.charNgrams(s.asInstanceOf[UTF8String], n, distinct)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"${TextKernels.Kernels}.charNgrams($c, $n, $distinct)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
