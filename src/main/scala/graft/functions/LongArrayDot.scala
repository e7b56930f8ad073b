package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.GraftBridge
import org.apache.spark.sql.types.LongType

/** Exact integer dot product of two `array<bigint>` columns as a native
  * [[Kernel]] (`long_array_dot`).
  *
  * Why not `aggregate(zip_with(...))`: higher-order functions evaluate a
  * lambda per element through interpreted dispatch — fine once per row,
  * ruinous inside an O(n^2) similarity join (128 lambda evals per candidate
  * pair). This kernel is a tight primitive loop, keeping the whole
  * pair-scoring stage inside whole-stage codegen. Semantics match the SQL
  * the DuckDB oracle runs: sum over i of a[i]*b[i], null if either array
  * is null. Arrays of different lengths fail loudly.
  */
object LongArrayDot {

  def dot(x: ArrayData, y: ArrayData): Long = {
    val n = x.numElements()
    require(n == y.numElements(),
      s"long_array_dot: array lengths differ ($n vs ${y.numElements()})")
    var s = 0L
    var i = 0
    while (i < n) { s += x.getLong(i) * y.getLong(i); i += 1 }
    s
  }

  def apply(a: Expression, b: Expression): Expression =
    Kernel("long_array_dot", this, "dot", LongType, Seq(a, b))

  def apply(a: Column, b: Column): Column =
    GraftBridge.column(apply(GraftBridge.expression(a), GraftBridge.expression(b)))
}
