package graft

import org.apache.spark.sql.functions.col
import graft.functions.Functions._

/** Unit tests for the scalar kit, table-driven from strings observed in the
  * reference's headers/views (template:450-471,
  * create-athena-views-lambda.py:84-160). */
class FunctionsSpec extends SparkSpec {
  import spark.implicits._

  private def one(in: String, c: org.apache.spark.sql.Column): Any =
    Seq(in).toDF("v").select(c.as("r")).collect().head.get(0)

  test("parseMoney strips leading $, stray $, trailing spaces") {
    assert(one("$55.30", parseMoney(col("v"))).toString == "55.30")
    assert(one("$1234.56 ", parseMoney(col("v"))).toString == "1234.56")
    // substr(.,2) drops the first char even if it isn't '$' — fidelity
    assert(one("$$12.00", parseMoney(col("v"))).toString == "12.00")
  }

  test("parseMoneyRds deletes $ and double-quotes, no substr") {
    assert(one("\"$42.50\"", parseMoneyRds(col("v"))).toString == "42.50")
  }

  test("parseDateTime drops sub-second suffix") {
    assert(one("2024-01-15 09:30:01.123456", parseDateTime(col("v")))
      .toString == "2024-01-15 09:30:01.0")
  }

  test("parseDateTimeIso handles 'T' separator (expiration date)") {
    assert(one("2024-06-30T23:59:59Z", parseDateTimeIso(col("v")))
      .toString == "2024-06-30 23:59:59.0")
  }

  test("maskAccountId keeps 2nd digit + last 4, embedded match") {
    assert(one("123456789012", maskAccountId(col("v"))) == "2XXXXXXX9012")
    assert(one("acct 999988887777 end", maskAccountId(col("v")))
      == "acct 9XXXXXXX7777 end")
    // 11 digits: no match, unchanged
    assert(one("12345678901", maskAccountId(col("v"))) == "12345678901")
  }

  test("maskNameEmail keeps 3-char prefix/suffix") {
    assert(one("Alice Corp", maskNameEmail(col("v"))) == "Ali-MASKED-orp")
    assert(one("ops@example.com", maskNameEmail(col("v"))) == "ops-MASKED-com")
  }

  test("arnResourceId: slash form, colon fallback, no-match empty") {
    assert(one("arn:aws:ec2:us-east-1:123:instance/i-0abc",
      arnResourceId(col("v"))) == "i-0abc")
    assert(one("arn:aws:redshift:us-east-1:123:cluster-x",
      arnResourceId(col("v"))) == "cluster-x")
    assert(one("no-separators", arnResourceId(col("v"))) == "")
  }

  test("stripCommas preserves null") {
    assert(one("1,234,567", stripCommas(col("v"))) == "1234567")
    val r = Seq[String](null).toDF("v")
      .select(stripCommas(col("v"))).collect().head
    assert(r.isNullAt(0))
  }

  test("Md5Long60 equals the conv(substring(md5)) chain on random strings") {
    import org.apache.spark.sql.functions.{conv, md5, substring}
    import org.apache.spark.sql.types.LongType
    val rnd = new scala.util.Random(42)
    val inputs = (0 until 200).map(_ =>
      rnd.alphanumeric.take(rnd.nextInt(30) + 1).mkString) ++
      Seq("", " ", "the quick", "0", "ünïcödé £§")
    val df = inputs.toDF("v").select(col("v"),
      graft.functions.Md5Long60(col("v")).as("native"),
      conv(substring(md5(col("v")), 1, 15), 16, 10).cast(LongType)
        .as("chain"))
    df.collect().foreach { r =>
      assert(r.getLong(1) == r.getLong(2), s"mismatch for '${r.getString(0)}'")
      assert(r.getLong(1) >= 0L)
    }
  }

  test("all six native kernels: whole-stage codegen equals the interpreted path") {
    // CODEGEN_ONLY with fallback off: a janino compile error in any
    // kernel's generated call must FAIL here, not quietly split the
    // codegen span. NO_CODEGEN: the path a kernel inside a higher-order
    // lambda takes (the method called by reflection).
    import graft.functions._
    import org.apache.spark.sql.functions.{array, concat, lit, struct, when}
    import org.apache.spark.sql.types._
    val st = PqOps.buildState((0 until 2).flatMap { s =>
      Seq((s, 0L, Seq(1L + s, -2L)), (s, 1L, Seq(-7L, 5L + s)),
        (s, 3L, Seq(4L, 4L)))
    }, m = 2, subDim = 2, codesPerSub = 4)
    val id = col("id")
    val text = concat(lit("x"), id.cast("string"))
    val maybe = when(id % 7 =!= 0, text)
    val vec = array(id, -id, id % 5, lit(3L))
    val piece = (p: Int, l: Int, f: org.apache.spark.sql.Column) =>
      struct(lit(p).as("pos"), lit(l).as("len"), f.cast("bigint").as("freq"))
    def kernels = spark.range(100).select(id,
      Md5Long60(text).as("md5"),
      Md5Long60(maybe).as("md5_null"),
      LongArrayDot(array(id, lit(2L)), array(lit(3L), id)).as("dot"),
      WordShingles(concat(lit("a b c d"), id.cast("string")), 2).as("sh"),
      WordShingles(maybe, 1).as("sh_null"),
      PqOps.encodeColumn(vec, st).as("codes"),
      PqOps.adcTableColumn(when(id % 9 =!= 0, vec), st).as("tab"),
      SubwordDp((id % 4 + 1).cast("int"),
        array(piece(0, 1, id), piece(1, 1, lit(5L)), piece(0, 2, lit(7L)),
          piece(2, 2, id % 3)), 100L, 50L, 4).as("seg"))
    // dataType and nullable as the hand-written expressions had them
    val longs = ArrayType(LongType, containsNull = false)
    val strings = ArrayType(StringType, containsNull = false)
    val seg = StructType(Seq("v_np", "v_fs", "g_np", "g_fs")
      .map(StructField(_, LongType, nullable = true)))
    assert(kernels.schema.fields.map(f => (f.name, f.dataType, f.nullable)).toSeq == Seq(
      ("id", LongType, false), ("md5", LongType, false),
      ("md5_null", LongType, true), ("dot", LongType, false),
      ("sh", strings, false), ("sh_null", strings, true),
      ("codes", longs, false),
      ("tab", ArrayType(LongType, containsNull = true), true),
      ("seg", seg, true)))
    def run(mode: String) = {
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      spark.conf.set("spark.sql.codegen.fallback", "false")
      try kernels.collect().map(_.toString).sorted.toSeq
      finally {
        spark.conf.unset("spark.sql.codegen.factoryMode")
        spark.conf.set("spark.sql.codegen.fallback", "true")
      }
    }
    val compiled = run("CODEGEN_ONLY")
    assert(compiled == run("NO_CODEGEN"))
    val rows = kernels.collect().sortBy(_.getLong(0))
    assert(rows.map(_.getLong(3)).sum == (0 until 100).map(i => i * 3L + 2L * i).sum)
    assert(rows.map(_.getSeq[String](4).size).sum == 300)
    assert(rows.forall(r => r.isNullAt(2) == (r.getLong(0) % 7 == 0)))
    assert(rows.forall(r => r.isNullAt(7) == (r.getLong(0) % 9 == 0)))
    // all eight kernel calls sit inside the whole-stage Project, and the
    // analyzed plan still names them
    import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
    import org.apache.spark.sql.execution.WholeStageCodegenExec
    val staged = kernels.queryExecution.executedPlan.collect {
      case w: WholeStageCodegenExec => w.child.expressions }.flatten
    assert(staged.flatMap(_.collect { case k: StaticInvoke => k }).size == 8)
    assert(kernels.queryExecution.analyzed.toString.contains("md5_long60("))
  }

  test("zeroGuardFidelity replaces every '0' digit (the reference bug)") {
    assert(one("0", zeroGuardFidelity(col("v"))) == "1")
    assert(one("105", zeroGuardFidelity(col("v"))) == "115")
    assert(one("100", zeroGuardFidelity(col("v"))) == "111")
  }
}
