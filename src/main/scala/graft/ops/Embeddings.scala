package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Embedding post-processing: "All-But-The-Top" isotropy correction
  * (Mu & Viswanath 2018, arXiv:1702.01417) — subtract the corpus mean,
  * estimate the dominant principal direction by power iteration, and
  * remove each vector's projection onto it. Embedding batches that share
  * a dominant "common direction" score spuriously-high cosines; ABTT is
  * the standard one-pass fix before cosine dedup / retrieval
  * (complements SemDeDup and the ANN family here).
  *
  * Distribution shape at 100 TB: each power-iteration step is ONE
  * map-side-combined aggregation (posexplode to `dim` keys — every
  * partition emits at most `dim` partial sums), and the driver holds
  * only O(dim) state (the mean, the iterate) — exactly the
  * kmeansCentroids contract. No per-pair work, no global sort; the
  * final projection-removal is a stateless per-row expression under
  * whole-stage codegen.
  *
  * Determinism (DuckDB oracle on every residual): all arithmetic is
  * exact-integer on 1e7-quantized vectors. Dimension sums accumulate as
  * DECIMAL(38,0) — exact at any corpus size, the twin of DuckDB's
  * HUGEINT sum — and the O(dim) driver math runs in BigInt. Divisions
  * TRUNCATE TOWARD ZERO on both engines (Spark `div` / Scala BigInt ==
  * Java; DuckDB `//` floors, so the oracle wraps it sign-adjusted). The
  * iterate renormalizes by its INFINITY norm to scale 1e4 (max |v_j| =
  * 1e4) — same fixed point as L2, no sqrt; per-row dots are
  * down-shifted by 2^20 before the rank-1 accumulation so each row term
  * stays ~2.4e14 (exact under the decimal sum at any row count). Power
  * iteration's sign is seed-dependent; the all-ones seed pins it. */
object Embeddings {

  private val VScale = 10000L     // infinity-norm scale of the iterate
  private val DotShift = 1L << 20 // down-shift of per-row dots

  /** (vec_id, top_coord, resid): the centered vector's coordinate along
    * the dominant direction and the centered vector with that component
    * removed (all 1e7-scale integers).
    *
    * The per-row array math (center, dot, rank-1 update, projection
    * removal) runs as PRIMITIVE LOOPS inside typed `map`/`mapPartitions`,
    * not as `transform`/`aggregate` lambda chains: nested higher-order
    * expressions evaluate on Catalyst's interpreted path (~100× a JVM
    * loop per element — measured on the q109 phash rewrite), and this
    * operator touches every element 5+ times (mean pass, `iters` power
    * steps, final projection). Per-partition power-step partials
    * accumulate in BigInt (the exact twin of the previous DECIMAL(38,0)
    * aggregation) and only `dim` sums per partition cross to the driver
    * — same O(dim) driver state, same bit-exact results, no shuffle in
    * the iteration at all (the aggregation tree is collapsed into
    * mapPartitions + driver reduce over numPartitions×dim numbers). */
  def abtt(emb: DataFrame, dim: Int = 64, iters: Int = 3): DataFrame = {
    require(iters >= 1 && iters <= 8, s"iters out of range: $iters")
    val spark = emb.sparkSession
    import spark.implicits._
    val xq = TextKit.tracked(emb.select(col("vec_id"),
      TextKit.quantVec(col("embedding")).as("xq")))
    // corpus mean, truncated toward zero per dimension
    val n = xq.count()
    require(n > 0, "abtt needs a non-empty embedding table")
    val mu = dimSums(xq.select(col("xq").as("v"))).map(s => (s / n).toLong)
    val muB = mu.clone()
    val cxDs = xq.as[(Long, Array[Long])].map { case (id, x) =>
      val c = new Array[Long](x.length)
      var j = 0
      while (j < c.length) { c(j) = x(j) - muB(j); j += 1 }
      (id, c)
    }
    cxDs.persist()
    TextKit.register(cxDs.toDF()) // same logical plan -> its scope frees it
    // power iteration: v <- normInf(sum_rows (cx.v >> 20) * cx); Long
    // `/` truncates toward zero exactly as Spark `div` / BigInt `/` did
    var v = Array.fill(dim)(VScale)
    for (_ <- 1 to iters) {
      val vB = v.clone()
      val y = cxDs.mapPartitions { it =>
        val acc = Array.fill(dim)(BigInt(0))
        it.foreach { case (_, c) =>
          var dot = 0L
          var j = 0
          while (j < dim) { dot += c(j) * vB(j); j += 1 }
          val d = dot / DotShift
          j = 0
          while (j < dim) { acc(j) += BigInt(d) * c(j); j += 1 }
        }
        Iterator.single(acc.map(_.toString))
      }.collect()
        .foldLeft(Array.fill(dim)(BigInt(0))) { (a, p) =>
          Array.tabulate(dim)(j => a(j) + BigInt(p(j)))
        }
      val m = y.map(_.abs).max max BigInt(1)
      v = y.map(yj => (yj * VScale / m).toLong)
    }
    // degenerate rank-0 corpus -> v all zero; clamp so the (then zero)
    // projection divides by 1, not 0, in both engines
    val vnorm = v.map(x => x * x).sum max 1L
    val vF = v.clone()
    cxDs.map { case (id, c) =>
      var dot = 0L
      var j = 0
      while (j < dim) { dot += c(j) * vF(j); j += 1 }
      val r = new Array[Long](c.length)
      j = 0
      while (j < dim) { r(j) = c(j) - (dot * vF(j)) / vnorm; j += 1 }
      (id, dot, r)
    }.toDF("vec_id", "top_coord", "resid")
  }

  /** One aggregation: exact element-wise sum of an array<bigint> column
    * `v` (posexplode -> dim-keyed decimal partial sums -> O(dim) rows
    * collected as BigInt). */
  private def dimSums(df: DataFrame): Array[BigInt] =
    df.select(posexplode(col("v")).as(Seq("j", "x")))
      .groupBy("j").agg(sum(col("x").cast(DecimalType(38, 0))).as("s"))
      .collect().map(r => r.getInt(0) -> BigInt(r.getDecimal(1).toBigInteger))
      .sortBy(_._1).map(_._2).toArray

  /** DuckDB mirror of [[abtt]] over the `embeddings` table, with the
    * residual array exploded to one `(vec_id, top_coord, j, resid_j)`
    * row per dimension (0-based `j`, matching `posexplode`) so the
    * oracle harness compares scalar cells only. */
  def ducksql(dim: Int = 64, iters: Int = 3): String = {
    // DuckDB // floors; Spark div / BigInt divide truncate toward zero.
    def tdiv(a: String, b: String) =
      s"(CASE WHEN ($a) < 0 THEN -((-($a)) // ($b)) ELSE ($a) // ($b) END)"
    def dot(cxExpr: String, vList: String) =
      s"list_sum(list_transform(generate_series(1, $dim), i -> $cxExpr[i] * $vList[i]))"
    val q = TextKit.ducksql.quant(s"embedding[i]")
    val iterCtes = (1 to iters).map { k =>
      s"""y$k AS (SELECT g.j,
           sum(${tdiv(s"d$k.dot", DotShift.toString)} * d$k.cx[g.j]) AS yj
         FROM (SELECT cx.cx AS cx, ${dot("cx.cx", s"vv.v")} AS dot
           FROM cx, v${k - 1} AS vv) d$k, generate_series(1, $dim) AS g(j)
         GROUP BY g.j),
       m$k AS (SELECT greatest(max(abs(yj)), 1) AS m FROM y$k),
       v$k AS (SELECT list(CAST(${tdiv(s"yj * $VScale", "m")} AS BIGINT)
           ORDER BY j) AS v
         FROM y$k, m$k)"""
    }.mkString(",\n       ")
    s"""WITH e AS (SELECT vec_id,
         list_transform(generate_series(1, $dim), i -> $q) AS xq
         FROM embeddings),
       nn AS (SELECT count(*) AS n FROM e),
       mu0 AS (SELECT g.j, CAST(${tdiv("sum(e.xq[g.j])", "nn.n")} AS BIGINT) AS v
         FROM e, nn, generate_series(1, $dim) AS g(j) GROUP BY g.j, nn.n),
       mu AS (SELECT list(v ORDER BY j) AS mu FROM mu0),
       cx AS (SELECT vec_id,
         list_transform(generate_series(1, $dim), i -> e.xq[i] - mu.mu[i]) AS cx
         FROM e, mu),
       v0 AS (SELECT list_transform(generate_series(1, $dim),
         i -> CAST($VScale AS BIGINT)) AS v),
       $iterCtes,
       vn AS (SELECT CAST(greatest(
             list_sum(list_transform(v, x -> x * x)), 1) AS BIGINT)
           AS vnorm, v FROM v$iters),
       fin AS (SELECT cx.vec_id,
         CAST(${dot("cx.cx", "vn.v")} AS BIGINT) AS top_coord, cx.cx, vn.v,
         vn.vnorm FROM cx, vn)
       SELECT vec_id, top_coord, g.j - 1 AS j,
         CAST(cx[g.j] - ${tdiv("top_coord * v[g.j]", "vnorm")} AS BIGINT)
           AS resid_j
       FROM fin, generate_series(1, $dim) AS g(j) ORDER BY vec_id, j"""
  }
}
