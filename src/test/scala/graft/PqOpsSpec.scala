package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.functions.PqOps
import graft.ops.TextKit.dotPre

/** The native PQ kernels (PqOps.encode / PqOps.adcTable) must be
  * bit-identical to the expression-tree forms they replaced: one
  * struct(dist, code) + least(...) per subspace for encode, one
  * sn + |v|^2 - 2·dot literal-distance entry per slot for the ADC
  * table (absent slots NULL). The fixture covers negative components,
  * ties (duplicate codebook entries -> smaller code wins), and an
  * under-filled codebook (missing slots). */
class PqOpsSpec extends SparkSpec {
  import spark.implicits._

  private val m = 4
  private val subDim = 3
  private val codesPerSub = 4

  // codebook: sub 0..3, codes 0..2 (UNDER-FILLED: code 3 absent), with a
  // deliberate duplicate entry in sub 1 (codes 1 and 2 identical) so the
  // argmin tie-break is exercised
  private val cb: Seq[(Int, Long, Seq[Long])] = (0 until m).flatMap { s =>
    Seq(
      (s, 0L, Seq(1L + s, -2L, 3L)),
      (s, 1L, Seq(-7L, 5L + s, 0L)),
      (s, 2L, if (s == 1) Seq(-7L, 6L, 0L) else Seq(4L, 4L, -4L + s)))
  }

  private val vecs = Seq(
    (1L, Seq(1L, -2L, 3L, -7L, 5L, 0L, 4L, 4L, -4L, 0L, 0L, 0L)),
    (2L, Seq(-7L, 6L, 0L, -7L, 6L, 0L, -7L, 6L, 0L, -7L, 6L, 0L)),
    (3L, Seq(100L, -100L, 50L, 0L, 1L, 2L, 3L, 4L, 5L, -6L, -7L, -8L)))

  private def df = vecs.toDF("vec_id", "qv")

  // the expression forms this round replaced, verbatim
  private def sqDistLit(sqv: Column, sn: Column, v: Seq[Long]): Column =
    sn + lit(v.map(x => x * x).sum) - lit(2L) * dotPre(sqv, typedLit(v))

  private def oldEncode: Column = {
    val bySub = cb.groupBy(_._1)
    array((0 until m).map { s =>
      val sqv = slice(col("qv"), s * subDim + 1, subDim)
      val sn = dotPre(sqv, sqv)
      least(bySub(s).sortBy(_._2).map { case (_, code, v) =>
        struct(sqDistLit(sqv, sn, v).as("dist"), lit(code).as("c"))
      }: _*).getField("c")
    }: _*)
  }

  private def oldAdcTab: Column = {
    val bySlot = cb.map { case (s, c, v) =>
      (s * codesPerSub + c.toInt, v)
    }.toMap
    array((0 until m * codesPerSub).map { i =>
      val s = i / codesPerSub
      val sqv = slice(col("qv"), s * subDim + 1, subDim)
      bySlot.get(i).fold(lit(null).cast("bigint"))(v =>
        sqDistLit(sqv, dotPre(sqv, sqv), v))
    }: _*)
  }

  test("native encode equals the struct/least expression form") {
    val st = PqOps.buildState(cb, m, subDim, codesPerSub)
    val rows = df.select(col("vec_id"),
        PqOps.encodeColumn(col("qv"), st).as("n"), oldEncode.as("o"))
      .collect()
    assert(rows.length == vecs.length)
    rows.foreach { r =>
      assert(r.getSeq[Long](1) == r.getSeq[Long](2),
        s"vec ${r.getLong(0)}: native ${r.getSeq[Long](1)} != " +
          s"expression ${r.getSeq[Long](2)}")
    }
  }

  test("native adc table equals the literal-distance expression form") {
    val st = PqOps.buildState(cb, m, subDim, codesPerSub)
    val rows = df.select(col("vec_id"),
        PqOps.adcTableColumn(col("qv"), st).as("n"), oldAdcTab.as("o"))
      .collect()
    rows.foreach { r =>
      val n = r.getSeq[java.lang.Long](1)
      val o = r.getSeq[java.lang.Long](2)
      assert(n == o, s"vec ${r.getLong(0)}: native $n != expression $o")
      // the under-filled slots really are null
      assert(n(3) == null && n(7) == null && n(11) == null && n(15) == null)
    }
  }

  test("tie in sub 1 breaks toward the smaller code") {
    val st = PqOps.buildState(cb, m, subDim, codesPerSub)
    // vec 2's sub-1 slice (-7, 6, 0) is EXACTLY cb entries (1,1) shifted:
    // entries (1,1)=(-7,6,0)... wait (1,1)=(-7,6,0)? (1,1)=(-7,5+1,0)=(-7,6,0)
    // and (1,2)=(-7,6,0) — identical distance 0; code 1 must win
    val codes = df.filter(col("vec_id") === 2)
      .select(PqOps.encodeColumn(col("qv"), st)).head.getSeq[Long](0)
    assert(codes(1) == 1L, s"expected tie-break to code 1, got ${codes(1)}")
  }

  test("a zero-length or one-short vector fails loudly, never reads past its end") {
    val st = PqOps.buildState(cb, m, subDim, codesPerSub)
    Seq(Seq.empty[Long], Seq.fill(m * subDim - 1)(1L)).foreach { v =>
      val in = Seq((9L, v)).toDF("vec_id", "qv")
      Seq(PqOps.encodeColumn(col("qv"), st), PqOps.adcTableColumn(col("qv"), st))
        .foreach { k =>
          val e = intercept[Exception](in.select(k).collect())
          val msgs = Iterator.iterate[Throwable](e)(_.getCause)
            .takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).toSeq
          assert(msgs.exists(_.contains(
            s"vector has ${v.size} elements, expected m*subDim = ${m * subDim}")),
            msgs)
        }
    }
  }
}
