package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, LongType}

/** Product-quantization per-row kernels as native [[Kernel]]s.
  *
  * The codebook is bounded driver-side training state (m x codesPerSub x
  * subDim longs — KBs), so the per-row argmin/distance-table work is pure
  * row-local arithmetic. The expression-tree form of these kernels (one
  * `struct(dist, code)` + `least(...)` / one `sqDistLit` per codebook
  * entry — 128 LongArrayDot+Slice subtrees in a single projection)
  * whole-stage-compiles into a HUGE generated method: janino pays the
  * compile per plan shape, every entry re-slices the subvector into a
  * fresh ArrayData, and the common `|sqv|^2` term evaluates per entry
  * unless CSE catches all 16 copies. Here each kernel is ONE tight loop
  * over primitive arrays, so the surrounding projection stays a small
  * whole-stage span.
  *
  * INTEGER MATH AND TIE-BREAKS ARE BIT-IDENTICAL to the expression form
  * (dist = |sqv|^2 + |v|^2 - 2·(sqv·v), all exact longs; argmin ties
  * break toward the smaller code id — `least` over (dist, code) structs
  * with codes ascending), which OpsSpec pins and the DuckDB oracle
  * re-verifies end to end.
  */
object PqOps {

  /** Frozen per-plan codebook state, passed to the kernels as one
    * `ObjectType` literal (one reference object in generated code): per
    * subspace the ascending code ids, their
    * codebook vectors (flattened), and the plan-time-folded |v|^2 norms.
    * `slots` maps sub*codesPerSub+code -> flat entry index (-1 = absent:
    * an under-filled sample on a tiny corpus). */
  final class State(
      val m: Int, val subDim: Int, val codesPerSub: Int,
      val subStart: Array[Int],   // m+1 prefix offsets into the entry arrays
      val codes: Array[Long],     // entry code ids, ascending within a sub
      val vecs: Array[Long],      // entry vectors, flattened subDim each
      val norms: Array[Long],     // entry |v|^2
      val slots: Array[Int])      // m*codesPerSub -> entry index or -1
    extends Serializable

  def buildState(cb: Seq[(Int, Long, Seq[Long])], m: Int, subDim: Int,
      codesPerSub: Int): State = {
    require(cb.nonEmpty, "PqOps.buildState: empty codebook")
    val bySub = cb.groupBy(_._1)
    require((0 until m).forall(bySub.contains),
      s"PqOps.buildState: every subspace 0..${m - 1} needs codes")
    val subStart = new Array[Int](m + 1)
    val entries = (0 until m).flatMap { s =>
      val e = bySub(s).sortBy(_._2)
      subStart(s + 1) = subStart(s) + e.size
      e
    }
    val codes = entries.map(_._2).toArray
    val vecs = new Array[Long](entries.size * subDim)
    val norms = new Array[Long](entries.size)
    entries.zipWithIndex.foreach { case ((_, _, v), i) =>
      require(v.size == subDim,
        s"PqOps.buildState: entry length ${v.size} != subDim $subDim")
      var n = 0L
      var d = 0
      while (d < subDim) {
        val x = v(d); vecs(i * subDim + d) = x; n += x * x; d += 1
      }
      norms(i) = n
    }
    val slots = Array.fill(m * codesPerSub)(-1)
    entries.zipWithIndex.foreach { case ((s, c, _), i) =>
      val slot = s * codesPerSub + c.toInt
      if (slot >= 0 && slot < slots.length) slots(slot) = i
    }
    new State(m, subDim, codesPerSub, subStart, codes, vecs, norms, slots)
  }

  /** A vector must hold exactly m*subDim elements: a short one would
    * read past its last element. */
  private def checkLength(kernel: String, vec: ArrayData, st: State): Unit =
    require(vec.numElements() == st.m * st.subDim,
      s"PqOps.$kernel: vector has ${vec.numElements()} elements, expected " +
        s"m*subDim = ${st.m * st.subDim}")

  /** argmin code per subspace of `vec` (length m*subDim): the PQ encode.
    * Ties break toward the smaller code id (codes iterate ascending and
    * only a strictly smaller distance replaces the best). */
  def encode(vec: ArrayData, st: State): GenericArrayData = {
    checkLength("encode", vec, st)
    val out = new Array[Any](st.m)
    var s = 0
    while (s < st.m) {
      val base = s * st.subDim
      // |sqv|^2 once per subspace (the CSE the tree form hoped for)
      var sn = 0L
      var d = 0
      while (d < st.subDim) {
        val x = vec.getLong(base + d); sn += x * x; d += 1
      }
      var bestDist = Long.MaxValue
      var bestCode = Long.MaxValue
      var first = true
      var i = st.subStart(s)
      while (i < st.subStart(s + 1)) {
        var dot = 0L
        d = 0
        while (d < st.subDim) {
          dot += vec.getLong(base + d) * st.vecs(i * st.subDim + d); d += 1
        }
        val dist = sn + st.norms(i) - 2L * dot
        if (first || dist < bestDist) {
          bestDist = dist; bestCode = st.codes(i); first = false
        }
        i += 1
      }
      out(s) = bestCode
      s += 1
    }
    new GenericArrayData(out)
  }

  /** Exact integer distance from `vec` to EVERY codebook entry, packed
    * as one lookup array indexed sub*codesPerSub+code; absent slots are
    * NULL (the expression form's map-lookup miss). */
  def adcTable(vec: ArrayData, st: State): GenericArrayData = {
    checkLength("adcTable", vec, st)
    val out = new Array[Any](st.m * st.codesPerSub)
    var s = 0
    while (s < st.m) {
      val base = s * st.subDim
      var sn = 0L
      var d = 0
      while (d < st.subDim) {
        val x = vec.getLong(base + d); sn += x * x; d += 1
      }
      var slot = s * st.codesPerSub
      val end = (s + 1) * st.codesPerSub
      while (slot < end) {
        val i = st.slots(slot)
        if (i >= 0) {
          var dot = 0L
          d = 0
          while (d < st.subDim) {
            dot += vec.getLong(base + d) * st.vecs(i * st.subDim + d); d += 1
          }
          out(slot) = sn + st.norms(i) - 2L * dot
        } // else stays null
        slot += 1
      }
      s += 1
    }
    new GenericArrayData(out)
  }

  /** `codes` array (one argmin code id per subspace) of a quantized
    * vector against the frozen codebook. */
  def encodeColumn(vec: Column, st: State): Column =
    Kernel.column("pq_encode_codes", this, "encode",
      ArrayType(LongType, containsNull = false), Seq(vec), st)

  /** Per-row ADC lookup table (m x codesPerSub exact integer distances,
    * absent slots null) of a quantized vector against the frozen
    * codebook. */
  def adcTableColumn(vec: Column, st: State): Column =
    Kernel.column("pq_adc_table", this, "adcTable",
      ArrayType(LongType, containsNull = true), Seq(vec), st)
}
