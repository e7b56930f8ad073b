package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Skew

/** SparkSessionExtensions registration + skew utilities. Own session (needs
  * withExtensions at build time). */
class ExtensionsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    // withExtensions covers fresh sessions (spark-sql CLI path, verified
    // separately); under the full suite an existing session is reused, so
    // attach the functions via late registration too
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("ExtensionsSpec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    graft.plans.GraftExtensions.register(s)
    s
  }

  test("long_array_dot callable from SQL") {
    val r = spark.sql(
      "SELECT long_array_dot(array(1L,2L,3L), array(4L,5L,6L)) AS d")
      .collect().head.getLong(0)
    assert(r == 32L)
    // unaliased, the column is named after the SQL function
    assert(spark.sql("SELECT long_array_dot(array(1L,2L,3L), array(4L,5L,6L))")
      .columns.toSeq == Seq("long_array_dot(array(1, 2, 3), array(4, 5, 6))"))
  }

  test("long_array_dot refuses arrays of different lengths") {
    val e = intercept[Exception] {
      spark.sql("SELECT long_array_dot(array(1L,2L), array(1L))").collect()
    }
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).toSeq
    assert(msgs.exists(_.contains("array lengths differ (2 vs 1)")), msgs)
  }

  test("word_shingles callable from SQL") {
    val r = spark.sql("SELECT word_shingles('a b c d', 2) AS s")
      .collect().head.getSeq[String](0)
    assert(r == Seq("a b", "b c", "c d"))
    // the width is a constant: it stays out of the column name
    assert(spark.sql("SELECT word_shingles('a b c d', 2)").columns.toSeq ==
      Seq("word_shingles(a b c d)"))
  }

  test("md5_long60 callable from SQL, equals the conv chain") {
    val r = spark.sql(
      """SELECT md5_long60('abc') AS native,
         CAST(conv(substring(md5('abc'), 1, 15), 16, 10) AS BIGINT) AS chain""")
      .collect().head
    assert(r.getLong(0) == r.getLong(1))
    assert(r.getLong(0) >= 0L)
    assert(spark.sql("SELECT md5_long60('abc')").columns.toSeq ==
      Seq("md5_long60(abc)"))
  }

  test("bpe_token_count callable from SQL, matches the DataFrame surface") {
    import graft.ops.Bpe
    // untrained ('' merges): per-character count — "ab cd" = 4 symbols
    val untrained = spark.sql(
      "SELECT bpe_token_count('ab cd', '') AS n").collect().head.getLong(0)
    assert(untrained == 4L)
    // one merge (a b): "abab" -> ab|ab (2), "cd" stays c|d (2)
    val trained = spark.sql(
      "SELECT bpe_token_count('abab cd', 'a b') AS n")
      .collect().head.getLong(0)
    import org.apache.spark.sql.functions.lit
    val df = spark.range(1).select(
      Bpe.tokenCountExpr(lit("abab cd"), Seq(Bpe.Merge(0, "a", "b", 0L))))
    assert(trained == df.collect().head.getLong(0))
    assert(trained == 4L) // ab|ab + c|d
    // model must be a literal — a column reference fails with a usable error
    val e = intercept[Exception] {
      spark.sql("SELECT bpe_token_count('x', CAST(id AS STRING)) " +
        "FROM range(1)").collect()
    }
    assert(e.getMessage.contains("literal"))
  }

  test("z_value_n callable from SQL, equals the DataFrame surface") {
    import graft.ops.Layout
    import org.apache.spark.sql.functions.col
    val sql = spark.sql(
      "SELECT z_value_n(x, y, z, 4) AS zv FROM VALUES (1L, 2L, 3L), " +
        "(7L, 0L, 15L) AS t(x, y, z) ORDER BY zv")
      .collect().map(_.getLong(0)).toSeq
    import spark.implicits._
    val df = Seq((1L, 2L, 3L), (7L, 0L, 15L)).toDF("x", "y", "z")
      .select(Layout.zValueN(Seq(col("x"), col("y"), col("z")), 4).as("zv"))
      .orderBy("zv").collect().map(_.getLong(0)).toSeq
    assert(sql == df)
  }

  test("saltedJoin equals plain join and spreads the hot key") {
    import spark.implicits._
    // heavily skewed big side: 90% of rows share key 1
    val big = (1 to 2000).map(i => (if (i <= 1800) 1L else (i % 50).toLong, i))
      .toDF("k", "payload")
    val small = (0L to 49L).map(k => (k, s"dim$k")).toDF("k", "attr")
    val plain = big.join(small, Seq("k"), "inner")
    val salted = Skew.saltedJoin(big, small, Seq("k"), factor = 8)
    assert(salted.count() == plain.count())
    assert(salted.orderBy("payload").collect().map(_.toSeq.toSet).toSeq ==
      plain.orderBy("payload").collect().map(_.toSeq.toSet).toSeq)
    // left join parity incl. unmatched keys
    val bigWithMiss = big.union(Seq((999L, -1)).toDF("k", "payload"))
    val saltedLeft = Skew.saltedJoin(bigWithMiss, small, Seq("k"), 4, "left")
    assert(saltedLeft.count() == bigWithMiss.count())
    assert(saltedLeft.filter($"k" === 999L).collect().head.isNullAt(2))
    // diagnostic finds the hot key
    val hot = Skew.hotKeys(big, Seq("k"), minCount = 1000).collect()
    assert(hot.length == 1 && hot.head.getLong(0) == 1L)
  }
}
