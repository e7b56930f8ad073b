package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.GraftBridge
import org.apache.spark.sql.types.{ArrayType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Word n-gram shingles of a whitespace-tokenized string as a native
  * [[Kernel]] (`word_shingles`): one pass over the UTF8 bytes, no
  * per-element lambda dispatch.
  *
  * Replaces the `transform(sequence(1, size-1), i -> concat_ws(...))`
  * higher-order chain, which evaluates interpreted lambdas per shingle —
  * measured ~8 s for 5k docs at sf0.1 versus milliseconds here. The
  * shingling row stays inside the surrounding whole-stage span, with the
  * explode + hash that follow. Produces the same shingle strings the
  * DuckDB oracle builds with `toks[i] || ' ' || toks[i+1]`.
  */
object WordShingles {

  private val space = UTF8String.fromString(" ")

  /** All n-token shingles of a space-split string (empty array when there
    * are fewer than n tokens). split(' ') semantics must match Spark's
    * split(text, " ") / DuckDB's string_split: empty tokens from
    * consecutive spaces kept. */
  def shingle(input: UTF8String, n: Int): GenericArrayData = {
    val toks = input.split(space, -1)
    if (toks.length < n) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](toks.length - n + 1)
    var i = 0
    while (i < out.length) {
      var s = toks(i)
      var j = 1
      while (j < n) {
        s = UTF8String.concat(s, space, toks(i + j))
        j += 1
      }
      out(i) = s
      i += 1
    }
    new GenericArrayData(out)
  }

  def apply(text: Expression, n: Int): Expression = {
    require(n >= 1, s"shingle width must be >= 1, got $n")
    Kernel("word_shingles", this, "shingle",
      ArrayType(StringType, containsNull = false), Seq(text), n)
  }

  def apply(text: Column, n: Int): Column =
    GraftBridge.column(apply(GraftBridge.expression(text), n))
}
