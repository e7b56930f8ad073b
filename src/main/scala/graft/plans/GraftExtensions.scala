package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{LongArrayDot, Md5Long60, WordShingles}

/** SparkSessionExtensions entry point: registers the engine's native
  * kernels and literal-model builders as SQL functions so `spark.sql`
  * users (and the view layer) can call them without touching the Scala
  * API.
  *
  * Usage:
  * {{{
  * SparkSession.builder().withExtensions(new GraftExtensions)...
  * // or: spark.sql.extensions=graft.plans.GraftExtensions
  * spark.sql("SELECT long_array_dot(a, b), word_shingles(text, 2) ...")
  * }}}
  *
  * No custom optimizer Rule or SparkStrategy is registered: per SURVEY.md §4
  * every reference operator maps onto existing Spark physical operators, and
  * the one candidate rule (empty-tags left-join elision) is already covered
  * by Spark's built-in PropagateEmptyRelation plus the view builder's
  * build-time probe (J2).
  */
object GraftExtensions {

  /** Arity check surfacing a usable message instead of a raw
    * IndexOutOfBounds from `children(i)` during analysis. */
  private[plans] def checkArity(name: String, usage: String,
      children: Seq[Expression], n: Int): Unit =
    if (children.length != n)
      throw new IllegalArgumentException(
        s"$name expects $n arguments ($usage), got ${children.length}")

  /** The literal-int second argument of word_shingles, with a usable
    * error for NULL / non-integral literals. */
  private[plans] def literalWidth(children: Seq[Expression]): Int =
    children(1) match {
      case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
      case org.apache.spark.sql.catalyst.expressions.Literal(v, _)
          if v != null && v.toString.matches("-?\\d+") => v.toString.toInt
      case other => throw new IllegalArgumentException(
        s"word_shingles width must be an integer literal, got $other")
    }
  /** The literal-string argument at `i`, with a usable error for
    * anything else (the SQL door for literalized model state). */
  private[plans] def literalString(name: String, children: Seq[Expression],
      i: Int): String =
    children(i) match {
      case org.apache.spark.sql.catalyst.expressions.Literal(v, _)
          if v != null =>
        v.toString
      case other => throw new IllegalArgumentException(
        s"$name argument ${i + 1} must be a string literal, got $other")
    }

  /** `bpe_token_count(text, merges)` — whole-document token count
    * through a LITERALIZED trained merge chain ([[graft.ops.Bpe
    * .tokenCountExpr]]): the merges argument is the model, spelled
    * `"lhs rhs,lhs rhs,..."` in training order ('' = untrained
    * char-level count). The same literalize-the-model door the
    * streaming twins use — the expression stays pure string arithmetic
    * under codegen, no UDF, no state. */
  private[plans] def bpeTokenCount(children: Seq[Expression]): Expression = {
    checkArity("bpe_token_count", "text, 'lhs rhs,lhs rhs,...'", children, 2)
    val spec = literalString("bpe_token_count", children, 1).trim
    val merges = if (spec.isEmpty) Nil
      else spec.split(",").toSeq.zipWithIndex.map { case (m, i) =>
        m.trim.split(" ") match {
          case Array(l, r) => graft.ops.Bpe.Merge(i, l, r, 0L)
          case _ => throw new IllegalArgumentException(
            s"bpe_token_count merge ${i + 1}: expected 'lhs rhs', got '$m'")
        }
      }
    graft.ops.Bpe.tokenCountCatalyst(children.head, merges)
  }

  /** `z_value_n(c1, ..., ck, bits)` — N-dimensional Z-order interleave
    * ([[graft.ops.Layout.zValueN]]) of 2..8 already-quantized integer
    * columns at a literal bit width, the clustering key the layout
    * writers sort by. */
  private[plans] def zValueN(children: Seq[Expression]): Expression = {
    if (children.length < 3)
      throw new IllegalArgumentException(
        "z_value_n expects at least 3 arguments (c1, c2, ..., bits), " +
          s"got ${children.length}")
    val bits = children.last match {
      case org.apache.spark.sql.catalyst.expressions.Literal(v, _)
          if v != null && v.toString.matches("-?\\d+") =>
        v.toString.toInt
      case other => throw new IllegalArgumentException(
        s"z_value_n bits must be an integer literal, got $other")
    }
    graft.ops.Layout.zValueNCatalyst(children.init, bits)
  }

  /** Every SQL function the engine adds, one entry each: (name, usage,
    * builder). Both [[register]] and the session extension read it. */
  private[plans] val functions
      : Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("long_array_dot",
      "long_array_dot(a, b) - exact integer dot product of two array<bigint>",
      children => {
        checkArity("long_array_dot", "array<bigint>, array<bigint>", children, 2)
        LongArrayDot(children(0), children(1))
      }),
    ("word_shingles",
      "word_shingles(text, n) - word n-gram shingles of a space-tokenized string",
      children => {
        checkArity("word_shingles", "text, n", children, 2)
        WordShingles(children(0), literalWidth(children))
      }),
    ("md5_long60",
      "md5_long60(s) - first 15 hex digits of md5(s) as a non-negative BIGINT",
      children => {
        checkArity("md5_long60", "string", children, 1)
        Md5Long60(children(0))
      }),
    ("bpe_token_count",
      "bpe_token_count(text, 'lhs rhs,lhs rhs,...') - BPE token count " +
        "of text under a literalized trained merge chain ('' = char-level)",
      bpeTokenCount),
    ("z_value_n",
      "z_value_n(c1, ..., ck, bits) - N-dimensional Z-order interleave " +
        "of 2..8 quantized integer columns at a literal bit width",
      zValueN))

  /** Late registration on an existing session — withExtensions only takes
    * effect for sessions created after it, so long-lived apps (and shared
    * test sessions) attach the functions this way. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    functions.foreach { case (name, _, builder) =>
      org.apache.spark.sql.graftbridge.GraftBridge
        .registerTempFunction(spark, name, builder)
    }
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach { case (name, usage, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, null, name,
          usage, "", "", "", "", "", "", "scala_udf"),
        builder))
    }
}
