package graft

import org.apache.spark.sql.functions.col
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.functions.Functions._

/** Property-based checks (SURVEY.md §5.4) — ScalaCheck generators driven
  * through the real column expressions. The scalatest-scalacheck bridge
  * isn't on the offline classpath, so generators are sampled directly with
  * a fixed seed (deterministic, still property-shaped). */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i =>
      g.apply(Gen.Parameters.default, Seed(42L + i)))

  private def runBatch(in: Seq[String], c: org.apache.spark.sql.Column): Seq[Any] =
    in.toDF("v").select(c.as("r")).collect().toSeq.map(_.get(0))

  test("parseMoney parses any generated $d+.dd string exactly") {
    val money = for {
      d <- Gen.choose(0L, 999999999L)
      c <- Gen.choose(0, 99)
    } yield (d, c)
    val cases = samples(money, 50)
    val out = runBatch(cases.map { case (d, c) => f"$$$d%d.$c%02d" },
      parseMoney(col("v")))
    cases.zip(out).foreach { case ((d, c), r) =>
      assert(r != null && r.toString == f"$d%d.$c%02d")
    }
  }

  test("maskAccountId masks every 12-digit run, idempotent") {
    val acct = Gen.listOfN(12, Gen.numChar).map(_.mkString)
    val cases = samples(acct, 50)
    val masked = runBatch(cases.map(a => s"pre $a post"), maskAccountId(col("v")))
    cases.zip(masked).foreach { case (a, m) =>
      assert(m == s"pre ${a(1)}XXXXXXX${a.substring(8)} post")
    }
    val again = runBatch(masked.map(_.toString), maskAccountId(col("v")))
    masked.zip(again).foreach { case (m, m2) => assert(m == m2) }
  }

  test("arnResourceId returns suffix after last / (or last : fallback)") {
    val id = Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.take(19).mkString)
    val cases = samples(id, 30)
    val slash = runBatch(cases.map(r => s"arn:aws:ec2:us-east-1:1:instance/$r"),
      arnResourceId(col("v")))
    cases.zip(slash).foreach { case (r, got) => assert(got == r) }
    val colonOnly = cases.filter(!_.contains("/"))
    val colon = runBatch(colonOnly.map(r => s"arn:aws:redshift:$r"),
      arnResourceId(col("v")))
    colonOnly.zip(colon).foreach { case (r, got) => assert(got == r) }
  }

  test("last-wins tag dedup keeps one row per ARN with max-seq value") {
    val obsGen = Gen.listOfN(30, for {
      arn <- Gen.oneOf("arn:a/x", "arn:b/y", "arn:c/z")
      v <- Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString)
      seq <- Gen.choose(1L, 1000L)
    } yield (arn, "K", v, seq))
    samples(obsGen, 5).foreach { rows =>
      val df = rows.toDF("ResourceArn", "Key", "Value", "obs_seq")
        .withColumn("RegionName", org.apache.spark.sql.functions.lit("r"))
        .withColumn("ResourceType", org.apache.spark.sql.functions.lit("t"))
        .withColumn("Date", org.apache.spark.sql.functions.lit("01-01-2024"))
        .withColumn("DateTime", org.apache.spark.sql.functions.lit("x"))
        .withColumn("AccountId", org.apache.spark.sql.functions.lit("1"))
        .withColumn("AccountName", org.apache.spark.sql.functions.lit("n"))
        .withColumn("AccountEmail", org.apache.spark.sql.functions.lit("e"))
      val out = graft.ingest.TaIngest.tags(df, Seq("K")).collect()
      assert(out.length == rows.map(_._1).distinct.length)
      rows.groupBy(_._1).foreach { case (arn, rs) =>
        val maxSeq = rs.map(_._4).max
        val winners = rs.filter(_._4 == maxSeq)
        if (winners.length == 1) {
          val got = out.find(_.getAs[String]("resourcearn") == arn).get
          assert(got.getAs[String]("k") == winners.head._3)
        }
      }
    }
  }

  test("both CC variants agree with a reference union-find on random graphs") {
    import graft.ops.Components.{connectedComponents, connectedComponentsStars}
    // the same pairs in one partition, in three, and one pair per
    // partition: the last leaves the local union-find nothing to merge,
    // so every connection must survive into the global rounds
    def layouts[A: org.apache.spark.sql.Encoder: scala.reflect.ClassTag](
        pairs: Seq[A])
        : Seq[(String, org.apache.spark.sql.DataFrame)] = {
      val df = pairs.toDF("doc_a", "doc_b")
      Seq("1 partition" -> df.repartition(1),
        "3 partitions" -> df.repartition(3),
        "1 pair per partition" -> spark.sparkContext
          .parallelize(pairs, pairs.size).toDF("doc_a", "doc_b"))
    }
    def run(df: org.apache.spark.sql.DataFrame, stars: Boolean) =
      (if (stars) connectedComponentsStars(df) else connectedComponents(df))
        .collect().map(r => Option(r.get(0)) -> Option(r.get(1))).toMap
    // a NULL endpoint connects nothing; both variants still label the
    // NULL id, each its own way (pinned: what the global rounds alone
    // output, which the local phase must keep)
    val withNulls = Seq[(Option[Long], Option[Long])](
      (Some(4L), None), (None, Some(2L)), (Some(2L), Some(3L)),
      (Some(5L), Some(4L)), (None, None), (Some(9L), Some(9L)))
    val nullCc = Map[Option[Any], Option[Any]](None -> Some(2L),
      Some(2L) -> Some(2L), Some(3L) -> Some(2L), Some(4L) -> Some(4L),
      Some(5L) -> Some(4L), Some(9L) -> Some(9L))
    val nullStars = nullCc + (None -> None)
    for ((layout, df) <- layouts(withNulls)) {
      assert(run(df, stars = false) == nullCc, s"min-label, $layout")
      assert(run(df, stars = true) == nullStars, s"stars, $layout")
    }
    val graphGen = for {
      n <- Gen.choose(2, 28)
      m <- Gen.choose(1, 60)
      edges <- Gen.listOfN(m, for {
        a <- Gen.choose(0L, n.toLong - 1)
        b <- Gen.choose(0L, n.toLong - 1)
      } yield (a, b)) // self-pairs included
      // duplicated pairs, some reversed, shuffled in
      again <- Gen.someOf(edges)
      flips <- Gen.listOfN(again.size, Gen.oneOf(false, true))
      seed <- Gen.long
    } yield new scala.util.Random(seed).shuffle(edges ++
      again.zip(flips).map { case ((a, b), f) => if (f) (b, a) else (a, b) })
    samples(graphGen, 6).foreach { edges =>
      // driver-side union-find reference (tiny graphs)
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      // canonical label = component MIN, which is what both variants emit
      val expect: Map[Option[Any], Option[Any]] = nodes.map { v =>
        val members = nodes.filter(u => find(u) == find(v))
        Option[Any](v) -> Option[Any](members.min)
      }.toMap
      for ((layout, df) <- layouts(edges)) {
        assert(run(df, stars = false) == expect,
          s"min-label CC diverged ($layout) on $edges")
        assert(run(df, stars = true) == expect,
          s"star-contraction CC diverged ($layout) on $edges")
      }
      graft.ops.TextKit.releaseCaches()
    }
  }

  test("TopKAgg equals a reference sort on random scored sets") {
    val scoredGen = Gen.listOfN(120, for {
      q <- Gen.choose(0L, 3L)
      n <- Gen.choose(0L, 50L)
      s <- Gen.choose(0, 20).map(_.toDouble / 20.0) // coarse -> many ties
    } yield (q, n, s))
    samples(scoredGen, 5).foreach { rows =>
      // the aggregator consumes one row per (query, id): dedup like the
      // ANN scorers do (a pair is scored exactly once)
      val distinctRows = rows.groupBy(r => (r._1, r._2))
        .map(_._2.head).toSeq
      val df = distinctRows.toDF("query_id", "neighbor_id", "cosine")
      val got = graft.ops.TopKAgg
        .topKPerQuery(df, "query_id", "neighbor_id", "cosine", 5)
        .collect()
        .map(r => (r.getLong(0), r.getInt(3)) -> (r.getLong(1), r.getDouble(2)))
        .toMap
      distinctRows.groupBy(_._1).foreach { case (q, rs) =>
        val expect = rs.map(r => (r._3, r._2))
          .sortBy { case (s, n) => (-s, n) }.take(5)
        expect.zipWithIndex.foreach { case ((s, n), i) =>
          assert(got((q, i + 1)) == ((n, s)),
            s"query $q rank ${i + 1}: got ${got((q, i + 1))} want ($n,$s)")
        }
      }
    }
  }

  test("zValue round-trips: deinterleaving recovers (x, y) for any 16-bit pair") {
    import graft.ops.Layout
    val pair = for {
      x <- Gen.choose(0L, 65535L)
      y <- Gen.choose(0L, 65535L)
    } yield (x, y)
    val cases = samples(pair, 100)
    val zs = cases.toDF("x", "y")
      .select(Layout.zValue(col("x"), col("y"), 16).as("z"))
      .collect().map(_.getLong(0))
    def debit(z: Long, offset: Int): Long =
      (0 until 16).map(i => ((z >> (2 * i + offset)) & 1L) << i).sum
    cases.zip(zs).foreach { case ((x, y), z) =>
      assert(debit(z, 1) == x && debit(z, 0) == y,
        s"z=$z decodes to (${debit(z, 1)}, ${debit(z, 0)}), want ($x, $y)")
    }
  }

  test("quantize is monotone, in-bounds, and exhausts the bucket range") {
    import graft.ops.Layout
    val lo = 1000L; val hi = 9999L
    val vals = samples(Gen.choose(lo - 500, hi + 500), 200).sorted
    val q = vals.toDF("v")
      .select(Layout.quantize(col("v"), lo, hi, 6).as("q"))
      .collect().map(_.getLong(0))
    assert(q.forall(b => b >= 0 && b < 64))
    // the input was sorted, so buckets must be non-decreasing
    assert(q.zip(q.tail).forall { case (a, b) => a <= b })
    // explicit bounds map to the first and last bucket
    val edges = Seq(lo, hi).toDF("v")
      .select(Layout.quantize(col("v"), lo, hi, 6).as("q"))
      .collect().map(_.getLong(0))
    assert(edges.toSeq == Seq(0L, 63L))
  }
}
