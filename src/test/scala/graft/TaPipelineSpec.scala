package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ingest.TaIngest
import graft.jobs.Pipeline
import graft.model.CheckRegistry

/** End-to-end golden test: synthetic TA JSON (FIXTURES.md §1) -> ingest ->
  * partitioned lake -> catalog -> views -> golden assertions on the richest
  * view (LowUtilizationAmazonEC2Instances_view) and summary_view, covering
  * S1/P1-P5/P12/J1/J2/J4/A1-A4/K3-K6 and the money/timestamp/zero-guard
  * scalar semantics. */
class TaPipelineSpec extends SparkSpec {
  import spark.implicits._

  private val date = "01-15-2024"
  private val dt = "2024-01-15 09:00:00"

  private def ec2Doc(savings: String, instanceId: String,
      extraResource: String = ""): String = {
    val meta = Seq("us-east-1a", instanceId, "web-1", "t3.large", savings) ++
      (1 to 14).map(d => s"$d.0%") ++
      Seq("2.8%", "0.55%", "14 days")
    val metaJson = meta.map(m => s""""$m"""").mkString("[", ",", "]")
    s"""{"result":{"checkId":"Qch7DwouX1","status":"warning",
       "resourcesSummary":{"resourcesProcessed":120,"resourcesFlagged":14,
         "resourcesIgnored":1,"resourcesSuppressed":2},
       "categorySpecificSummary":{"costOptimizing":{
         "estimatedMonthlySavings":1234.56,"estimatedPercentMonthlySavings":0.17}},
       "flaggedResources":[
         {"status":"warning","region":"us-east-1","resourceId":"r1",
          "isSuppressed":false,"metadata":$metaJson},
         {"status":"ok","region":"us-east-1","resourceId":"r2",
          "isSuppressed":false,"metadata":$metaJson}$extraResource]}}"""
  }

  // one flagged resource with a comma in the money cell (tests P4 strip)
  private val commaResource =
    s""",{"status":"error","region":"us-east-1","resourceId":"r3",
       "isSuppressed":false,"metadata":["us-east-1b","i-comma","db-1",
       "m5.xlarge","$$1,234.50",${(1 to 14).map(d => s""""$d.0%"""").mkString(",")},
       "9.9%","0.75%","7 days"]}"""

  // no costOptimizing block -> summary savings default to 0 (:146-147)
  private val eipDoc =
    """{"result":{"checkId":"Z4AUBRNSmz","status":"warning",
       "resourcesSummary":{"resourcesProcessed":10,"resourcesFlagged":2,
         "resourcesIgnored":0,"resourcesSuppressed":0},
       "categorySpecificSummary":{},
       "flaggedResources":[
         {"status":"warning","region":"eu-west-1","resourceId":"ip1",
          "isSuppressed":false,"metadata":["eu-west-1","52.1.2.3"]}]}}"""

  private def rawDf: DataFrame = Seq(
    (ec2Doc("$55.30", "i-0aaa", commaResource), date, dt,
      "Low Utilization Amazon EC2 Instances",
      "123456789012", "Acme Corp", "ops@acme.example"),
    (eipDoc, date, dt, "Unassociated Elastic IP Addresses",
      "123456789012", "Acme Corp", "ops@acme.example"),
    (ec2Doc("$77.10", "i-0bbb"), date, dt,
      "Low Utilization Amazon EC2 Instances",
      "999988887777", "Beta LLC", "eng@beta.example"))
    .toDF("json", "Date", "DateTime", "CheckName",
      "AccountId", "AccountName", "AccountEmail")

  private def tagObs: DataFrame = Seq(
    // two observations for the same ARN: last (obs_seq 2) wins
    ("arn:aws:ec2:us-east-1:123456789012:instance/i-0aaa", "CostCenter",
      "cc-OLD", 1L),
    ("arn:aws:ec2:us-east-1:123456789012:instance/i-0aaa", "CostCenter",
      "cc-123", 2L),
    ("arn:aws:ec2:us-east-1:123456789012:instance/i-0aaa", "Env", "prod", 1L),
    // unrelated tag key: filtered out by the customer-key allowlist
    ("arn:aws:ec2:us-east-1:123456789012:instance/i-0aaa", "Noise", "x", 1L))
    .toDF("ResourceArn", "Key", "Value", "obs_seq")
    .withColumn("RegionName", lit("us-east-1"))
    .withColumn("ResourceType", lit("ec2:instance"))
    .withColumn("Date", lit(date)).withColumn("DateTime", lit(dt))
    .withColumn("AccountId", lit("123456789012"))
    .withColumn("AccountName", lit("Acme Corp"))
    .withColumn("AccountEmail", lit("ops@acme.example"))

  private lazy val lakeRoot = {
    val dir = Files.createTempDirectory("graft-lake").toString
    val cfg = Pipeline.Config(dir, CheckRegistry.supported,
      tagKeys = Seq("CostCenter", "Env"))
    val created = Pipeline.run(spark, rawDf, Some(tagObs), cfg)
    assert(created.contains("LowUtilizationAmazonEC2Instances_view"))
    assert(created.contains("summary_view"))
    dir
  }

  test("lake layout: partitioned y/m/d parquet under reference prefixes") {
    val p = new java.io.File(
      s"$lakeRoot/TA-Reports/cost_optimizing/check_qch7dwoux1/year=2024/month=1/day=15")
    assert(p.isDirectory, s"missing partition dir $p")
  }

  test("details: status filter keeps warning/error only, comma stripped") {
    lakeRoot
    val ec2 = spark.table("check_qch7dwoux1")
    // 2 docs x 1 warning + 1 error row with comma; 'ok' rows dropped (P2)
    assert(ec2.count() == 3)
    val commaRow = ec2.filter($"`instance id`" === "i-comma").collect().head
    assert(commaRow.getAs[String]("estimated monthly savings") == "$1234.50")
  }

  test("EC2 view: money parse, cpu substr cast, timestamp, tag join") {
    lakeRoot
    val v = spark.table("LowUtilizationAmazonEC2Instances_view")
    val row = v.filter($"`instance id`" === "i-0aaa").collect().head
    assert(row.getAs[java.math.BigDecimal]("estimated_monthly_savings")
      .toString == "55.30")
    assert(row.getAs[java.math.BigDecimal]("average_cpu_utilization_14_days")
      .toString == "2.8000")
    assert(row.getAs[java.sql.Timestamp]("date_time")
      .toString == "2024-01-15 09:00:00.0")
    // J1: tag joined on (instance id, datetime); A3 last-wins value
    assert(row.getAs[String]("costcenter") == "cc-123")
    assert(row.getAs[String]("env") == "prod")
    // row without tags: left join keeps it, tag cols null
    val untagged = v.filter($"`instance id`" === "i-0bbb").collect().head
    assert(untagged.getAs[String]("costcenter") == null)
  }

  test("summary_view: ratio with verbatim string zero guard ('120'->'121')") {
    lakeRoot
    val s = spark.table("summary_view")
      .filter($"checkid" === "Qch7DwouX1" && $"accountid" === "123456789012")
      .collect().head
    val opt = s.getAs[java.math.BigDecimal]("optimizationPercent").doubleValue()
    // (1 - 14/121) * 100 — denominator mutated by the fidelity guard
    assert(math.abs(opt - (1.0 - 14.0 / 121.0) * 100.0) < 1e-6)
    val trueOpt = s.getAs[java.math.BigDecimal]("trueoptimizationPercent").doubleValue()
    assert(math.abs(trueOpt - (1.0 - (14.0 - 3.0) / 121.0) * 100.0) < 1e-6)
    // EIP summary: no costOptimizing block -> 0 defaults
    val eip = spark.table("summary_view").filter($"checkid" === "Z4AUBRNSmz")
      .collect().head
    assert(eip.getAs[String]("estimatedmonthlysavings").toDouble == 0.0)
  }

  test("tags table: pivot columns, arn-derived resourceid") {
    lakeRoot
    val t = spark.table("tags").collect().head
    assert(t.getAs[String]("resourceid") == "i-0aaa")
    assert(t.getAs[String]("costcenter") == "cc-123")
    assert(t.getAs[String]("regionname") == "us-east-1")
  }

  test("PII masking at ingest when enabled") {
    val masked = TaIngest.details(rawDf, CheckRegistry.lowUtilEc2,
      maskPii = true)
    val r = masked.filter($"`instance id`" === "i-0bbb").collect().head
    assert(r.getAs[String]("accountid") == "9XXXXXXX7777")
    assert(r.getAs[String]("accountname") == "Bet-MASKED-LLC")
  }

  test("dynamic tag schema: later runs with new keys merge into one table") {
    lakeRoot // base lake written with keys CostCenter, Env
    val laterObs = Seq(
      ("arn:aws:ec2:us-east-1:123456789012:volume/vol-9", "Team", "data", 1L))
      .toDF("ResourceArn", "Key", "Value", "obs_seq")
      .withColumn("RegionName", lit("us-east-1"))
      .withColumn("ResourceType", lit("ec2:volume"))
      .withColumn("Date", lit("01-16-2024"))
      .withColumn("DateTime", lit("2024-01-16 09:00:00"))
      .withColumn("AccountId", lit("123456789012"))
      .withColumn("AccountName", lit("Acme Corp"))
      .withColumn("AccountEmail", lit("ops@acme.example"))
    // config changed: only key "Team" now — different column set
    graft.lake.Lake.writeTags(
      graft.ingest.TaIngest.tags(laterObs, Seq("Team")), lakeRoot)
    graft.lake.Lake.registerTables(spark, lakeRoot,
      graft.model.CheckRegistry.supported, tagsPresent = true)
    val tags = spark.table("tags")
    assert(Set("costcenter", "env", "team").subsetOf(tags.columns.toSet))
    val volRow = tags.filter($"resourceid" === "vol-9").collect().head
    assert(volRow.getAs[String]("team") == "data")
    assert(volRow.getAs[String]("costcenter") == null)
    val oldRow = tags.filter($"resourceid" === "i-0aaa").collect().head
    assert(oldRow.getAs[String]("costcenter") == "cc-123")
    assert(oldRow.getAs[String]("team") == null)
  }

  test("Athena-fidelity cast: malformed decimal input errors (ANSI mode)") {
    // Athena errors on CAST('garbage' AS decimal); Spark 4 ANSI mode (our
    // default) reproduces that instead of silently yielding null
    val ex = intercept[Exception] {
      Seq("not-money").toDF("v")
        .selectExpr("CAST(v AS decimal(18,2))").collect()
    }
    assert(ex.getMessage.contains("CAST_INVALID_INPUT") ||
      ex.getMessage.toLowerCase.contains("cannot be cast"))
  }

  test("J2 join elision: no tag keys -> view has no tag columns") {
    lakeRoot // ensure tables registered
    val defs = graft.views.Views.definitions(Nil, tagged = false)
    spark.sql(defs("LowUtilizationAmazonEC2Instances_view"))
    val cols = spark.table("LowUtilizationAmazonEC2Instances_view").columns
    assert(!cols.contains("costcenter"))
    // restore the tagged view for other tests
    spark.sql(graft.views.Views
      .definitions(Seq("CostCenter", "Env"), tagged = true)(
        "LowUtilizationAmazonEC2Instances_view"))
  }

  test("partition pruning: a day-filtered query scans only that day's files") {
    val dir = Files.createTempDirectory("graft-prunelake").toString
    val cfg = Pipeline.Config(dir, Seq(CheckRegistry.lowUtilEc2))
    // two ingest runs on different days -> two y/m/d partitions
    Pipeline.ingest(rawDf, None, cfg)
    val day2 = rawDf
      .withColumn("Date", lit("01-16-2024"))
      .withColumn("DateTime", lit("2024-01-16 09:00:00"))
    Pipeline.ingest(day2, None, cfg)
    val table = spark.read.parquet(
      s"$dir/TA-Reports/cost_optimizing/check_qch7dwoux1")
    assert(table.select("day").distinct().count() == 2)
    val pruned = table.filter($"year" === 2024 && $"month" === 1 && $"day" === 16)
    // the day filter must prune at the source, not post-scan: the plan's
    // scan node carries it as a partition filter over one partition dir
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("day"),
      s"day filter did not reach the scan:\n$plan")
    assert(pruned.count() == table.count() / 2)
    val files = pruned.select(input_file_name()).distinct().collect()
      .map(_.getString(0))
    assert(files.nonEmpty && files.forall(_.contains("day=16")),
      "pruned scan read files outside the requested partition")
  }

  test("compaction: fragmented partitions rewritten in place, data identical") {
    import graft.lake.Compaction
    val dir = Files.createTempDirectory("graft-compactlake").toString
    val cfg = Pipeline.Config(dir, Seq(CheckRegistry.lowUtilEc2))
    // three same-day ingest runs fragment day=15; one run on day=16 stays
    // at its natural file count and must be left untouched
    Pipeline.ingest(rawDf, None, cfg)
    Pipeline.ingest(rawDf, None, cfg)
    Pipeline.ingest(rawDf, None, cfg)
    val day2 = rawDf
      .withColumn("Date", lit("01-16-2024"))
      .withColumn("DateTime", lit("2024-01-16 09:00:00"))
    Pipeline.ingest(day2, None, cfg)
    val tablePath = s"$dir/TA-Reports/cost_optimizing/check_qch7dwoux1"
    val before = spark.read.parquet(tablePath)
      .orderBy("accountid", "`instance id`", "day")
      .collect().map(_.toString).toSeq
    def nFiles(day: Int) =
      new java.io.File(s"$tablePath/year=2024/month=1/day=$day")
        .listFiles().count(f => !f.getName.startsWith("_") &&
          !f.getName.startsWith("."))
    assert(nFiles(15) == 3, "precondition: 3 appends -> 3 files")
    val day16Before = nFiles(16)
    // DEFAULT path = the manifest protocol (gc immediately so the plain
    // listing read below converges to the committed set)
    val reports = Compaction.compactLake(spark, dir, maxFiles = 1,
      gcGraceMs = 0L)
    assert(reports.map(_.partition).forall(_.contains("day=15")),
      "only the fragmented partition is rewritten")
    assert(nFiles(15) == 1 && day16Before == nFiles(16))
    // the default committed a MANIFEST version, not a rename swap
    val fs = new org.apache.hadoop.fs.Path(tablePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = new org.apache.hadoop.fs.Path(
      s"$tablePath/year=2024/month=1/day=15")
    assert(fs.exists(new org.apache.hadoop.fs.Path(live,
      graft.lake.ManifestCommit.LogDirName)),
      "default compaction must commit through the manifest log")
    val after = spark.read.parquet(tablePath)
      .orderBy("accountid", "`instance id`", "day")
      .collect().map(_.toString).toSeq
    assert(after == before, "compaction must not change table contents")
    // manifest-resolved readers agree with the listing after GC
    val viaManifest = graft.lake.GraftFileIndex.table(spark, tablePath)
      .orderBy("accountid", "`instance id`", "day")
      .collect().map(_.toString).toSeq
    assert(viaManifest == before)
    // a post-compaction APPEND is adopted into the next manifest commit
    // and survives the next rewrite — the concurrent-appender story on
    // the default path
    Pipeline.ingest(rawDf, None, cfg)
    Compaction.compactLake(spark, dir, maxFiles = 1, gcGraceMs = 0L)
    val expected = before.size + 3 // one more rawDf ingest = 3 detail rows
    assert(spark.read.parquet(tablePath).count() == expected)
    assert(graft.lake.GraftFileIndex.table(spark, tablePath).count()
      == expected)
  }

  test("rename-swap compaction (HDFS path): crash between swap renames recovers") {
    import graft.lake.Compaction
    val dir = Files.createTempDirectory("graft-renameswap").toString
    val cfg = Pipeline.Config(dir, Seq(CheckRegistry.lowUtilEc2))
    Pipeline.ingest(rawDf, None, cfg)
    Pipeline.ingest(rawDf, None, cfg)
    val tablePath = s"$dir/TA-Reports/cost_optimizing/check_qch7dwoux1"
    val before = spark.read.parquet(tablePath)
      .orderBy("accountid", "`instance id`", "day")
      .collect().map(_.toString).toSeq
    val reports = Compaction.compactLakeRenameSwap(spark, dir, maxFiles = 1)
    assert(reports.nonEmpty)
    assert(spark.read.parquet(tablePath)
      .orderBy("accountid", "`instance id`", "day")
      .collect().map(_.toString).toSeq == before)
    // crash recovery: simulate a run that died between the two swap
    // renames — the partition exists only as the hidden .retired dir; the
    // next compaction pass must restore it, not lose it
    val fs = new org.apache.hadoop.fs.Path(tablePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = new org.apache.hadoop.fs.Path(
      s"$tablePath/year=2024/month=1/day=15")
    val retired = new org.apache.hadoop.fs.Path(
      s"$tablePath/year=2024/month=1/.day=15.retired")
    assert(fs.rename(live, retired))
    Compaction.compactLakeRenameSwap(spark, dir, maxFiles = 1)
    assert(fs.exists(live) && !fs.exists(retired),
      "interrupted swap must be restored")
    val restored = spark.read.parquet(tablePath)
      .orderBy("accountid", "`instance id`", "day")
      .collect().map(_.toString).toSeq
    assert(restored == before, "recovered partition must hold its data")
  }

  test("tags lake layout: one y/m/d table covers all resource types (pinned deviation)") {
    // the reference writes Tags/<resourceType>/y/m/d
    // (extract-tag-data-lambda.py:141); this lake deliberately keeps ONE
    // y/m/d-partitioned tags table with resourcetype as a COLUMN, so a
    // single `tags` relation serves every check view's join and new
    // resource types never require a crawler/table change. This test PINS
    // that layout (COVERAGE.md documents the deviation) — if it ever
    // changes, the views' tag join and this assertion move together.
    import graft.lake.Lake
    val root = Files.createTempDirectory("graft-tagslayout").toString
    val twoTypes = tagObs.union(
      tagObs
        .withColumn("ResourceArn",
          regexp_replace($"ResourceArn", "instance/i-0aaa", "volume/vol-9"))
        .withColumn("ResourceType", lit("ec2:volume")))
    Lake.writeTags(TaIngest.tags(twoTypes, Seq("CostCenter", "Env")), root)
    val tagsDir = new java.io.File(s"$root/Tags")
    val subdirs = tagsDir.listFiles().filter(_.isDirectory).map(_.getName)
    assert(subdirs.nonEmpty && subdirs.forall(_.startsWith("year=")),
      s"Tags partitions directly by y/m/d, got: ${subdirs.mkString(",")}")
    val back = spark.read.parquet(s"$root/Tags")
    assert(back.select("resourcetype").distinct().count() == 2,
      "both resource types must live in the one tags table")
  }

  test("compaction: a concurrent append swept into the retired dir is restored, not deleted") {
    import graft.lake.Compaction
    import org.apache.hadoop.fs.Path
    val dir = Files.createTempDirectory("graft-straylake").toString
    val cfg = Pipeline.Config(dir, Seq(CheckRegistry.lowUtilEc2))
    Pipeline.ingest(rawDf, None, cfg)
    Pipeline.ingest(rawDf, None, cfg)
    val tablePath = s"$dir/TA-Reports/cost_optimizing/check_qch7dwoux1"
    Compaction.compactTableRenameSwap(spark, tablePath, maxFiles = 1)
    val before = spark.read.parquet(tablePath).count()
    val fs = new Path(tablePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = new Path(s"$tablePath/year=2024/month=1/day=15")
    val retired = new Path(s"$tablePath/year=2024/month=1/.day=15.retired")
    // reconstruct the exact crash state after rename(staged, dir): the
    // retired dir holds the consumed original PLUS a file a concurrent
    // writer appended after the read; the live dir carries the manifest
    // naming only the consumed file
    val dataFile = fs.listStatus(live).map(_.getPath)
      .filter(p => !p.getName.startsWith("_") && !p.getName.startsWith("."))
      .head
    fs.mkdirs(retired)
    fs.createNewFile(new Path(retired, "consumed-original.parquet"))
    // the stray is a REAL parquet file (recover only moves it, but the
    // table must still read afterwards)
    org.apache.hadoop.fs.FileUtil.copy(fs, dataFile, fs,
      new Path(retired, "part-concurrent-append.parquet"), false,
      spark.sparkContext.hadoopConfiguration)
    val manifest = new Path(live, "_graft_compaction_manifest")
    val out = fs.create(manifest, true)
    out.write("consumed-original.parquet".getBytes("UTF-8")); out.close()
    // recover (piggybacks on the next compaction pass over the table)
    Compaction.compactTableRenameSwap(spark, tablePath, maxFiles = 100)
    assert(!fs.exists(retired), "retired dir must be cleaned up")
    assert(!fs.exists(manifest), "manifest must be cleaned up")
    assert(fs.exists(new Path(live, "part-concurrent-append.parquet")),
      "the concurrent append must be moved back into the live partition")
    assert(spark.read.parquet(tablePath).count() == 2 * before,
      "restored rows must be readable (stray duplicates the data file)")
  }

  test("compaction: appender races (nested staged dir, swept _temporary) recover") {
    import graft.lake.Compaction
    import org.apache.hadoop.fs.Path
    val dir = Files.createTempDirectory("graft-racelake").toString
    val cfg = Pipeline.Config(dir, Seq(CheckRegistry.lowUtilEc2))
    Pipeline.ingest(rawDf, None, cfg)
    Pipeline.ingest(rawDf, None, cfg)
    val tablePath = s"$dir/TA-Reports/cost_optimizing/check_qch7dwoux1"
    val fs = new Path(tablePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = new Path(s"$tablePath/year=2024/month=1/day=15")
    val retired = new Path(s"$tablePath/year=2024/month=1/.day=15.retired")
    val baseline = spark.read.parquet(tablePath).count()

    // STATE A — crash after HDFS dst-exists rename NESTED the staged dir
    // inside a live dir an appender recreated: live holds only the
    // appender's file + the hidden nested staged dir; retired holds the
    // consumed originals
    val originals = fs.listStatus(live).map(_.getPath)
      .filter(p => !p.getName.startsWith("_") && !p.getName.startsWith("."))
    val nested = new Path(live, ".day=15.compacting")
    fs.mkdirs(nested)
    fs.mkdirs(retired)
    // "compact" = copy all originals into nested (stands in for the real
    // rewrite), manifest inside nested names them as consumed
    originals.foreach { p =>
      org.apache.hadoop.fs.FileUtil.copy(fs, p, fs,
        new Path(nested, "compacted-" + p.getName), false,
        spark.sparkContext.hadoopConfiguration)
      require(fs.rename(p, new Path(retired, p.getName)))
    }
    val mf = fs.create(new Path(nested, "_graft_compaction_manifest"), true)
    mf.write(originals.map(_.getName).mkString("\n").getBytes("UTF-8"))
    mf.close()
    // appender's committed file (copy of a compacted one) + its in-flight
    // _temporary staging dir swept into retired
    val appended = new Path(live, "part-racing-append.parquet")
    org.apache.hadoop.fs.FileUtil.copy(fs,
      new Path(nested, "compacted-" + originals.head.getName), fs, appended,
      false, spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new Path(retired, "_temporary/0/task-attempt"))
    fs.createNewFile(new Path(retired, "_temporary/0/task-attempt/part-inflight"))

    Compaction.compactTableRenameSwap(spark, tablePath, maxFiles = 100)
    assert(!fs.exists(nested), "nested staged dir must be folded into live")
    assert(!fs.exists(retired), "retired dir must be cleaned up")
    assert(fs.exists(appended), "the racing append must survive")
    assert(fs.exists(new Path(live, "_temporary/0/task-attempt/part-inflight")),
      "the in-flight staging dir must be restored for the writer's retry")
    // compacted rows + the appended copy are all readable (Spark ignores
    // the restored _-prefixed staging dir)
    val oneFileRows = spark.read.parquet(
      new Path(live, "compacted-" + originals.head.getName).toString).count()
    assert(spark.read.parquet(tablePath).count() == baseline + oneFileRows)
  }

  test("K9 notification: each refresh publishes the crawler-event fields") {
    val events = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val recorder = new graft.jobs.Notify.Notifier {
      override def publish(s: String, b: String): Unit = events += ((s, b))
    }
    val dir = Files.createTempDirectory("graft-notify").toString
    val cfg = Pipeline.Config(dir, Seq(CheckRegistry.lowUtilEc2),
      tagKeys = Seq("CostCenter", "Env"), notifier = recorder)
    // deterministic created/updated split in the shared session: clear
    // any same-named leftovers from other suites first
    Seq(CheckRegistry.lowUtilEc2.tableName, "summary", "tags").foreach { n =>
      spark.catalog.dropTempView(n)
      spark.sql(s"DROP TABLE IF EXISTS `$n`")
    }
    Pipeline.run(spark, rawDf, Some(tagObs), cfg)
    assert(events.size == 1)
    val (subj1, body1) = events.head
    assert(subj1.contains("successfully refreshed new Trusted Advisor Data"))
    assert(body1.contains(s"tablesCreated: ${CheckRegistry.lowUtilEc2.tableName},summary,tags"))
    assert(body1.contains("tablesDeleted: \n") || body1.endsWith("tablesDeleted: ") ||
      body1.linesIterator.exists(_ == "tablesDeleted: "))
    assert(body1.linesIterator.exists(l => l.startsWith("viewsCreated: ") &&
      l.contains("LowUtilizationAmazonEC2Instances_view")))
    // second refresh: same tables -> updated; tags data deleted -> deleted
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/Tags"), true)
    Pipeline.refreshCatalog(spark, cfg)
    val (_, body2) = events(1)
    assert(body2.linesIterator.exists(_ ==
      s"tablesUpdated: ${CheckRegistry.lowUtilEc2.tableName},summary"))
    assert(body2.linesIterator.exists(_ == "tablesDeleted: tags"))
  }

  test("persistent catalog: tables AND views survive a full JVM restart (Hive metastore)") {
    // the Athena-durability contract (create-athena-views-lambda.py:84-86)
    // driven honestly: process 1 writes lake + persistent catalog into a
    // Hive/derby metastore and EXITS; process 2 is a brand-new JVM that
    // must see the tables and the temporary=false views cold. (In-JVM
    // session clones share SharedState, and a second derby boot in one
    // JVM deadlocks — only a real process boundary proves durability.)
    val base = Files.createTempDirectory("graft-restart")
    val (wh, lake, meta) = (s"$base/wh", s"$base/lake", s"$base/meta")
    val javaBin = new java.io.File(
      new java.io.File(sys.props("java.home"), "bin"), "java").getAbsolutePath
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar")
      .flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
    def run(mode: String): (Int, String) = {
      val cmd = Seq(javaBin) ++ addOpens ++ Seq("-Xmx2g",
        "-Dderby.stream.error.file=" + s"$base/derby-$mode.log",
        "-cp", sys.props("java.class.path"),
        "graft.CatalogRestartMain", mode, wh, lake, meta)
      val out = new StringBuilder
      val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
      val src = scala.io.Source.fromInputStream(p.getInputStream, "UTF-8")
      try src.getLines().foreach(l => out.append(l).append('\n'))
      finally src.close()
      (p.waitFor(), out.toString)
    }
    val (wc, wout) = run("write")
    assert(wc == 0 && wout.contains("WRITE_OK"),
      s"write process failed:\n${wout.takeRight(4000)}")
    val (rc, rout) = run("read")
    assert(rc == 0 && rout.contains("RESTART_OK"),
      s"restarted JVM lost catalog state:\n${rout.takeRight(4000)}")
  }

  // deliberately LAST: persistent registration drops same-named temp views
  test("persistent catalog: a second session sees tables and views") {
    val dir = Files.createTempDirectory("graft-perslake").toString
    val cfg = Pipeline.Config(dir, Seq(CheckRegistry.lowUtilEc2),
      tagKeys = Seq("CostCenter", "Env"), persistentCatalog = true)
    val created = Pipeline.run(spark, rawDf, Some(tagObs), cfg)
    assert(created.contains("LowUtilizationAmazonEC2Instances_view"))
    // a fresh session shares the metastore but has NO temp state — the
    // reference's durable Glue/Athena contract: tables and views survive
    val s2 = spark.newSession()
    assert(s2.catalog.tableExists("check_qch7dwoux1"))
    assert(s2.catalog.tableExists("tags"))
    assert(s2.catalog.getTable("check_qch7dwoux1").tableType != "TEMPORARY")
    val v = s2.table("LowUtilizationAmazonEC2Instances_view")
    val row = v.filter(col("`instance id`") === "i-0aaa").collect().head
    assert(row.getAs[java.math.BigDecimal]("estimated_monthly_savings")
      .toString == "55.30")
    assert(row.getAs[String]("costcenter") == "cc-123")
    // partition recovery found the y/m/d dirs
    assert(s2.sql("SHOW PARTITIONS check_qch7dwoux1").count() >= 1)
    // re-running the catalog refresh (a later "crawler" pass) is idempotent
    Pipeline.refreshCatalog(s2, cfg)
    assert(s2.table("LowUtilizationAmazonEC2Instances_view").count() == v.count())
  }
}
