package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.ingest.TaIngest
import graft.lake.Lake
import graft.model.CheckRegistry

/** Specs for the source/sink surface: the DSv2 TA source (S1 live-API
  * shape), accounts CSV scan with header detection (S5), CSV fidelity lake
  * mode (K1-K5), and the error-log sink (K7). */
class SourcesSpec extends SparkSpec {
  import spark.implicits._

  private val twoAccounts =
    "123456789012:Acme:ops@acme.example,999988887777:Beta:eng@beta.example"

  test("DSv2 source: one partition per account, one row per (account, check)") {
    val df = spark.read.format("graft.sources.TaCheckResultSource")
      .option("accounts", twoAccounts)
      .option("checks", "Qch7DwouX1,hjLMh88uM8")
      .option("date", "01-15-2024")
      .option("datetime", "2024-01-15 09:00:00")
      .load()
    assert(df.rdd.getNumPartitions == 2) // 2 accounts, 2 checks each
    assert(df.count() == 4)
    // each partition walks its account's checks in option order
    val perPartition = df.select("AccountId", "CheckName").rdd.glom()
      .collect().map(_.map(r => (r.getString(0), r.getString(1))).toSeq)
    assert(perPartition.toSeq == Seq("123456789012", "999988887777").map(a =>
      Seq(a -> "Low Utilization Amazon EC2 Instances",
        a -> "Idle Load Balancers")))
    assert(df.columns.toSeq == Seq("json", "Date", "DateTime", "CheckName",
      "AccountId", "AccountName", "AccountEmail"))
    // and it feeds straight into the normalizer
    val details = TaIngest.details(df, CheckRegistry.lowUtilEc2)
    assert(details.count() > 0)
    val r = details.collect().head
    assert(r.getAs[String]("checkname") == "Low Utilization Amazon EC2 Instances")
  }

  test("an empty checks, resourceTypes or accounts option plans zero partitions") {
    def ta(accounts: String, checks: String) =
      spark.read.format("graft.sources.TaCheckResultSource")
        .option("accounts", accounts).option("checks", checks).load()
    def tags(accounts: String, types: String) =
      spark.read.format("graft.sources.TagObservationSource")
        .option("accounts", accounts).option("resourceTypes", types).load()
    for (df <- Seq(ta(twoAccounts, ""), ta("", "Qch7DwouX1"),
        tags(twoAccounts, ""), tags("", "ec2:instance"))) {
      assert(df.rdd.getNumPartitions == 0)
      assert(df.count() == 0)
    }
  }

  test("tags DSv2 source: obs_seq strictly increases across a partition's sweeps") {
    val obs = spark.read.format("graft.sources.TagObservationSource")
      .option("accounts", twoAccounts)
      .option("resourceTypes", "ec2:instance,ec2:volume")
      .option("regions", "us-east-1,eu-west-1")
      .load()
    val parts = obs.select("obs_seq", "ResourceType", "RegionName").rdd
      .glom().collect()
    assert(parts.length == 2)
    parts.foreach { rows =>
      val seqs = rows.map(_.getLong(0)).toSeq
      assert(seqs.nonEmpty && seqs.zip(seqs.tail).forall { case (a, b) => a < b })
      // the sweeps run in (type, region) order, each one contiguous
      val sweeps = rows.map(r => (r.getString(1), r.getString(2))).toSeq
      assert(sweeps.distinct == Seq("ec2:instance", "ec2:volume").flatMap(t =>
        Seq(t -> "us-east-1", t -> "eu-west-1")))
      assert(sweeps.zip(sweeps.tail).count { case (a, b) => a != b } == 3)
    }
  }

  test("tags DSv2 source: type x region fan-out, paginated last-wins, e2e tag join") {
    val account = "123456789012:Acme:ops@acme.example"
    def obs = spark.read.format("graft.sources.TagObservationSource")
      .option("accounts", account)
      .option("resourceTypes", "ec2:instance,ec2:volume")
      .option("regions", "us-east-1,eu-west-1")
      .option("date", "01-15-2024")
      .option("datetime", "2024-01-15 09:00:00")
      .load()
    // 1 account, whose partition sweeps 2 types x 2 regions
    // (get-tags-lambda.py:66-87)
    assert(obs.rdd.getNumPartitions == 1)
    assert(obs.select("ResourceType").distinct().count() == 2)
    assert(obs.select("RegionName").distinct().count() == 2)
    // pagination: the trailing page re-observes resource 0's CostCenter;
    // obs_seq (page order) must rank it above the first observation
    val firstArn = obs.filter($"ResourceArn".contains("instance/res-") &&
        $"RegionName" === "us-east-1")
      .orderBy("obs_seq").select("ResourceArn").head.getString(0)
    val cc = obs.filter($"ResourceArn" === firstArn && $"Key" === "CostCenter")
    assert(cc.count() >= 1)
    val pivoted = TaIngest.tags(obs, Seq("CostCenter", "Env"))
    assert(pivoted.groupBy("resourcearn").count()
      .filter($"count" > 1).count() == 0) // A3: one row per ARN
    val ccRow = pivoted.filter($"resourcearn" === firstArn).head
    assert(ccRow.getAs[String]("costcenter").startsWith("CostCenter-updated-"),
      "last page's re-observation must win")
    // e2e: TA source + tags source -> lake -> EC2 view joins on
    // (instance id = tags.resourceid AND datetime) and hits, because the
    // stub tag ARNs in us-east-1 carry TaFetchStub's res-<account>-<i> ids
    val root = Files.createTempDirectory("graft-taglake").toString
    val raw = spark.read.format("graft.sources.TaCheckResultSource")
      .option("accounts", account).option("checks", "Qch7DwouX1")
      .option("date", "01-15-2024")
      .option("datetime", "2024-01-15 09:00:00").load()
    graft.jobs.Pipeline.run(spark, raw, Some(obs),
      graft.jobs.Pipeline.Config(root, Seq(CheckRegistry.lowUtilEc2),
        tagKeys = Seq("CostCenter", "Env")))
    val v = spark.table("LowUtilizationAmazonEC2Instances_view")
    assert(v.count() > 0)
    assert(v.filter($"costcenter".isNotNull || $"env".isNotNull).count() > 0,
      "tag join must attach at least one tag value")
  }

  test("accounts CSV: header-position detection, extras ignored, ACTIVE filter") {
    val dir = Files.createTempDirectory("graft-accts")
    val csv = dir.resolve("accounts.csv")
    Files.writeString(csv,
      """Extra, AccountEmail ,Status,accountid,AccountName
        |x,ops@acme.example,ACTIVE,123456789012,Acme
        |y,eng@beta.example,SUSPENDED,999988887777,Beta
        |z,dev@c.example,active,111122223333,Gamma
        |""".stripMargin)
    val df = graft.sources.AccountsSource.fromCsv(spark, csv.toString,
      "01-15-2024", "2024-01-15 09:00:00")
    val rows = df.orderBy("AccountId").collect()
    assert(rows.length == 2) // SUSPENDED filtered; 'active' case-insensitive
    assert(rows(0).getAs[String]("AccountName") == "Gamma")
    assert(rows(1).getAs[String]("AccountEmail") == "ops@acme.example")
  }

  test("CSV fidelity lake mode: string-typed roundtrip with partition dirs") {
    val root = Files.createTempDirectory("graft-csvlake").toString
    val raw = spark.read.format("graft.sources.TaCheckResultSource")
      .option("accounts", "123456789012:Acme:ops@acme.example")
      .option("checks", "Qch7DwouX1")
      .option("date", "01-15-2024")
      .option("datetime", "2024-01-15 09:00:00").load()
    val details = TaIngest.details(raw, CheckRegistry.lowUtilEc2)
    Lake.writeDetails(details, root, CheckRegistry.lowUtilEc2, csvFidelity = true)
    val back = spark.read.option("header", "true")
      .csv(s"$root/TA-Reports/cost_optimizing/check_qch7dwoux1")
    assert(back.count() == details.count())
    // crawler semantics: everything is a string
    assert(back.schema.fields.filter(f =>
      !Seq("year", "month", "day").contains(f.name))
      .forall(_.dataType.typeName == "string"))
    assert(back.columns.contains("estimated monthly savings"))
  }

  test("CSV fidelity: golden byte-level comparison against the reference layout") {
    // The reference writes each detail file with Python's csv.writer
    // (extract-ta-data-lambda.py:56-67,159-183): header row from the
    // Header_<CheckId> env var + one row per warning/error resource,
    // fields comma-stripped, no quoting triggered on benign values. This
    // golden test hand-builds those EXACT bytes for one EC2 document and
    // compares our fidelity CSV line by line. Documented deviations
    // (COVERAGE.md "Known fidelity deviations"): the reference terminates
    // lines with \r\n (csv.writer default) where Spark's univocity
    // writer emits \n (its lineSep option is limited to one character);
    // header case is lowercased at ingest (the reference's crawler
    // lowercases at CATALOG level instead); and files are named
    // part-*.csv under Hive-style year=/month=/day= dirs rather than
    // checkId_accountId_date_HH-MM-SS.csv under y/m/d
    // (extract-ta-data-lambda.py:100-114) — content bytes, not names,
    // are the fidelity contract here.
    val doc =
      s"""{"result":{"checkId":"Qch7DwouX1","status":"warning",
         "resourcesSummary":{"resourcesProcessed":120,"resourcesFlagged":14,
           "resourcesIgnored":1,"resourcesSuppressed":2},
         "categorySpecificSummary":{"costOptimizing":{
           "estimatedMonthlySavings":1234.56,"estimatedPercentMonthlySavings":0.17}},
         "flaggedResources":[
           {"status":"warning","region":"us-east-1","resourceId":"r1",
            "isSuppressed":false,"metadata":["us-east-1a","i-0aaa","web-1",
            "t3.large","$$55.30",${(1 to 14).map(d => s""""$d.0%"""").mkString(",")},
            "2.8%","0.55%","14 days"]},
           {"status":"error","region":"us-east-1","resourceId":"r3",
            "isSuppressed":false,"metadata":["us-east-1b","i-comma","db-1",
            "m5.xlarge","$$1,234.50",${(1 to 14).map(d => s""""$d.0%"""").mkString(",")},
            "9.9%","0.75%","7 days"]}]}}"""
    val raw = Seq((doc, "01-15-2024", "2024-01-15 09:00:00",
      "Low Utilization Amazon EC2 Instances",
      "123456789012", "Acme Corp", "ops@acme.example"))
      .toDF("json", "Date", "DateTime", "CheckName",
        "AccountId", "AccountName", "AccountEmail")
    val root = Files.createTempDirectory("graft-csvgolden").toString
    Lake.writeDetails(TaIngest.details(raw, CheckRegistry.lowUtilEc2),
      root, CheckRegistry.lowUtilEc2, csvFidelity = true)
    // the reference bytes, hand-built (header verbatim from
    // template:450-471; the $1,234.50 money cell comma-stripped by
    // :175's replace)
    val expectedHeader = "Date,DateTime,CheckName,Status,Region,AZ," +
      "Instance Id,Instance Name,Instance Type,Estimated Monthly Savings," +
      (1 to 13).map(d => s"Day$d").mkString(",") + ",Day14 Latest Day," +
      "14-Day Average CPU Utilization,14-Day Average Network I/O," +
      "Number of Days Low Utilization,AccountId,AccountName,AccountEmail"
    val days = (1 to 14).map(d => s"$d.0%").mkString(",")
    val row1 = "01-15-2024,2024-01-15 09:00:00," +
      "Low Utilization Amazon EC2 Instances,warning,us-east-1,us-east-1a," +
      s"i-0aaa,web-1,t3.large,$$55.30,$days,2.8%,0.55%,14 days," +
      "123456789012,Acme Corp,ops@acme.example"
    val row2 = "01-15-2024,2024-01-15 09:00:00," +
      "Low Utilization Amazon EC2 Instances,error,us-east-1,us-east-1b," +
      s"i-comma,db-1,m5.xlarge,$$1234.50,$days,9.9%,0.75%,7 days," +
      "123456789012,Acme Corp,ops@acme.example"
    val partDir = new java.io.File(
      s"$root/TA-Reports/cost_optimizing/check_qch7dwoux1/year=2024/month=1/day=15")
    val parts = partDir.listFiles()
      .filter(f => f.getName.endsWith(".csv") && f.length() > 0)
    assert(parts.nonEmpty, s"no CSV part files under $partDir")
    val content = parts.map(f => new String(
      java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")).mkString
    assert(!content.contains('\r'),
      "line-ending deviation is \\n, not a stray \\r mix")
    // byte-level: the full content must be exactly header + the two rows
    // (either order — the rebalance write does not pin row order)
    val lc = expectedHeader.toLowerCase
    val perm1 = s"$lc\n$row1\n$row2\n"
    val perm2 = s"$lc\n$row2\n$row1\n"
    assert(content == perm1 || content == perm2,
      s"fidelity CSV bytes diverged from the reference layout:\n$content")
  }

  test("retry policy: exponential backoff, bounded attempts, selective") {
    import graft.sources.Retry
    val delays = scala.collection.mutable.ArrayBuffer.empty[Long]
    var calls = 0
    // transient failure twice, then success — template retry semantics
    val out = Retry.withBackoff(Retry.tooManyRequests, sleep = delays += _) {
      calls += 1
      if (calls < 3) throw new RuntimeException("TooManyRequests") else "ok"
    }
    assert(out == "ok" && calls == 3)
    assert(delays.toSeq == Seq(2000L, 4000L)) // 2 s interval, backoff x2
    // exhausted attempts: the last failure propagates. MaxAttempts counts
    // retries AFTER the first failure (Step Functions semantics), so
    // States.ALL's budget of 2 means 3 total executions.
    calls = 0
    val ex = intercept[RuntimeException] {
      Retry.withBackoff(Retry.statesAll, sleep = _ => ()) {
        calls += 1; throw new RuntimeException("down")
      }
    }
    assert(ex.getMessage == "down" && calls == 3)
    // non-retryable errors fail immediately
    calls = 0
    intercept[java.io.IOException] {
      Retry.withBackoff(Retry.tooManyRequests,
        isRetryable = _.isInstanceOf[RuntimeException], sleep = _ => ()) {
        calls += 1; throw new java.io.IOException("denied")
      }
    }
    assert(calls == 1)
    // interrupts (task kill) are never swallowed into the retry budget,
    // even under the permissive default predicate
    calls = 0
    intercept[InterruptedException] {
      Retry.withBackoff(Retry.tooManyRequests, sleep = _ => ()) {
        calls += 1; throw new InterruptedException("task killed")
      }
    }
    assert(calls == 1)
    Thread.interrupted() // clear the flag for the suite
  }

  test("template retry: throttle and catch-all draw from separate budgets") {
    import graft.sources.Retry
    // throttle-shaped failures get the 6-attempt budget
    var calls = 0
    val out = Retry.withTemplateRetry(sleep = _ => ()) {
      calls += 1
      if (calls < 5) throw new RuntimeException("TooManyRequestsException") else "ok"
    }
    assert(out == "ok" && calls == 5)
    // non-throttle failures exhaust the States.ALL budget: MaxAttempts 2
    // = 2 retries after the first failure = 3 executions
    calls = 0
    intercept[IllegalStateException] {
      Retry.withTemplateRetry(sleep = _ => ()) {
        calls += 1; throw new IllegalStateException("auth failure")
      }
    }
    assert(calls == 3)
    // classification: standalone 429 is throttle; digits merely containing
    // 429 are not
    assert(Retry.isThrottle(new RuntimeException("HTTP 429 from api")))
    assert(!Retry.isThrottle(new RuntimeException("parse error at offset 4290")))
    assert(!Retry.isThrottle(new RuntimeException("row 14293 malformed")))
  }

  test("error-log sink: failure rows land under Logs/<kind>/y/m/d") {
    val root = Files.createTempDirectory("graft-errlog").toString
    val errs = Seq(("01-15-2024", "123456789012", "AccessDenied on AssumeRole"))
      .toDF("date", "accountid", "message")
    Lake.writeErrorLog(errs, root)
    val back = spark.read.parquet(s"$root/Logs/AssumeRoleFailure")
    assert(back.count() == 1)
    assert(back.select("year").head.getInt(0) == 2024)
  }
}
