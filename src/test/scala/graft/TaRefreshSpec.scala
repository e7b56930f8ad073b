package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.functions.{col, lit, raise_error, when}

import graft.jobs.Pipeline
import graft.lake.Lake
import graft.model.CheckRegistry
import graft.sources.{TaCheckResultSource, TaFetchStub}

/** The daily refresh's ingest and registration contracts: one ingest is
  * a handful of Spark jobs that sweep the tag source once and append
  * every table or none, its commit markers and leaves are the ones
  * readers rely on, and catalog registration takes each detail/summary
  * schema from the ingest projection (no footer job) while keeping the
  * crawler's schema. */
class TaRefreshSpec extends TaSourceSpec {
  import spark.implicits._

  /** Runs `body` with `listener` attached, letting the async bus drain. */
  private def listening[T](listener: SparkListener)(body: => T): T = {
    spark.sparkContext.addSparkListener(listener)
    try { val out = body; Thread.sleep(1000); out }
    finally spark.sparkContext.removeSparkListener(listener)
  }

  /** (table, lake path) of every supported check table and `summary`. */
  private def lakeTables(root: String): Seq[(String, String)] =
    CheckRegistry.supported.map(s => s.tableName -> Lake.detailsPath(root, s)) :+
      ("summary" -> Lake.summaryPath(root))

  test("Pipeline.ingest sweeps the tag source once") {
    // the TA documents come from a local frame, so every DataSourceRDD
    // stage in the ingest reads the tag source
    val raw = Seq("123456789012", "999988887777").map(a =>
      (TaFetchStub.fetch(a, "Qch7DwouX1"), "01-15-2024",
        "2024-01-15 09:00:00", "Low Utilization Amazon EC2 Instances",
        a, a, a))
      .toDF(TaCheckResultSource.schema.fieldNames.toIndexedSeq: _*)
    val obs = tagSource()
    val tagReads = new AtomicInteger
    val root = Files.createTempDirectory("graft-tagonce").toString
    listening(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        if (sc.stageInfo.rddInfos.exists(_.name == "DataSourceRDD"))
          tagReads.addAndGet(sc.stageInfo.numTasks)
        ()
      }
    }) {
      Pipeline.ingest(raw, Some(obs), Pipeline.Config(root,
        Seq(CheckRegistry.lowUtilEc2), tagKeys = Seq("CostCenter", "Env")))
    }
    assert(new java.io.File(Lake.tagsPath(root)).isDirectory)
    assert(tagReads.get == obs.rdd.getNumPartitions,
      s"${tagReads.get} tag-source partition reads for " +
        s"${obs.rdd.getNumPartitions} partitions")
  }

  /** Every file under `root` with its bytes. */
  private def snapshot(root: String): Map[String, Seq[Byte]] =
    filesUnder(root).filter(p => new java.io.File(p).isFile)
      .map(p => p -> Files.readAllBytes(java.nio.file.Paths.get(p)).toSeq)
      .toMap

  private def stagingLeft(root: String): Set[String] =
    filesUnder(root).filter(_.contains("_temporary"))

  test("a refused csvFidelity tag column set appends nothing to any " +
      "table, and no lake file appears afterwards") {
    val root = Files.createTempDirectory("graft-tagfail").toString
    val specs = Seq(CheckRegistry.lowUtilEc2, CheckRegistry.idleLb)
    val cfg = Pipeline.Config(root, specs, tagKeys = Seq("CostCenter"),
      csvFidelity = true)
    Pipeline.ingest(taSource(specs.map(_.id)), Some(tagSource()), cfg)
    // a later run with another CustomerKeys set: the csvFidelity tag
    // append changes the column set, which Lake.requireTagColumns refuses
    val e = intercept[IllegalArgumentException] {
      Pipeline.ingest(taSource(specs.map(_.id), "01-16-2024"),
        Some(tagSource("01-16-2024")),
        cfg.copy(tagKeys = Seq("CostCenter", "Env")))
    }
    assert(e.getMessage.contains("tags append changes the column set"),
      e.getMessage)
    // the refusal came before the write job: the failed run's day has no
    // file in any table
    val failedDay = filesUnder(root).filter(_.contains("day=16"))
    assert(failedDay.isEmpty, s"the failed run wrote $failedDay")
    assert(stagingLeft(root).isEmpty, s"staging left: ${stagingLeft(root)}")
    val after = filesUnder(root)
    Thread.sleep(1500)
    assert(filesUnder(root) == after, "a lake write outlived ingest")
  }

  test("csvFidelity: daily ingests with an unchanged config append every " +
      "table, tags included") {
    val root = Files.createTempDirectory("graft-csvdaily").toString
    val specs = Seq(CheckRegistry.lowUtilEc2, CheckRegistry.idleLb)
    val cfg = Pipeline.Config(root, specs, tagKeys = Seq("CostCenter"),
      csvFidelity = true)
    Pipeline.ingest(taSource(specs.map(_.id)), Some(tagSource()), cfg)
    Pipeline.ingest(taSource(specs.map(_.id), "01-16-2024"),
      Some(tagSource("01-16-2024")), cfg)
    // the one-table tag writer takes the same check
    Lake.writeTags(graft.ingest.TaIngest.tags(tagSource("01-17-2024"),
      cfg.tagKeys), root, csvFidelity = true)
    val tables = lakeTables(root).filter { case (t, _) =>
      t == "summary" || specs.exists(_.tableName == t) } :+
      ("tags" -> Lake.tagsPath(root))
    assert(tables.size == 4)
    tables.foreach { case (t, p) =>
      val days = if (t == "tags") Seq(15, 16, 17) else Seq(15, 16)
      val read = spark.read.option("header", "true").csv(p)
      days.foreach { d =>
        assert(read.filter(col("day") === d).count() > 0, s"$t: day $d")
      }
    }
  }

  test("csvFidelity: a tag append into an empty tags directory is the " +
      "table's first write") {
    val root = Files.createTempDirectory("graft-emptytags").toString
    Files.createDirectories(java.nio.file.Paths.get(Lake.tagsPath(root)))
    val tags = graft.ingest.TaIngest.tags(tagSource(), Seq("CostCenter"))
    Lake.writeTags(tags, root, csvFidelity = true)
    val csv = filesUnder(Lake.tagsPath(root)).filter(_.endsWith(".csv"))
    assert(csv.size == 1, s"tag files: $csv")
    val header = Files.readAllLines(java.nio.file.Paths.get(csv.head)).get(0)
    assert(header.split(",").toSeq ==
      tags.columns.toSeq.filterNot(Seq("year", "month", "day").contains))
  }

  test("a failing write task appends nothing to any table") {
    val specs = Seq(CheckRegistry.lowUtilEc2, CheckRegistry.idleLb)
    def day1(root: String, withTags: Boolean): Unit =
      Pipeline.ingest(taSource(specs.map(_.id)),
        if (withTags) Some(tagSource()) else None,
        Pipeline.Config(root, specs, tagKeys = Seq("CostCenter")))
    def failsCleanly(root: String, before: Map[String, Seq[Byte]])(
        run: => Unit): Unit = {
      intercept[Exception](run)
      assert(stagingLeft(root).isEmpty, s"staging left: ${stagingLeft(root)}")
      val now = snapshot(root)
      assert(now.keySet == before.keySet,
        s"files added: ${now.keySet -- before.keySet}")
      assert(now == before, "a previous day's file changed")
    }
    // one tag observation raises inside its task; every check row is fine
    val root = Files.createTempDirectory("graft-taskfail").toString
    day1(root, withTags = true)
    val before = snapshot(root)
    val arn = tagSource().select("ResourceArn").head().getString(0)
    val poisoned = tagSource("01-16-2024").withColumn("Value",
      when(col("ResourceArn") === arn, raise_error(lit("poisoned tag")))
        .otherwise(col("Value")))
    failsCleanly(root, before) {
      Pipeline.ingest(taSource(specs.map(_.id), "01-16-2024"),
        Some(poisoned), Pipeline.Config(root, specs,
          tagKeys = Seq("CostCenter")))
    }
    // a writer that cannot open fails the write task itself, after the
    // other tables' rows may already be staged: here the tag table's path
    // is a plain file
    val blocked = Files.createTempDirectory("graft-writefail").toString
    day1(blocked, withTags = false)
    Files.write(java.nio.file.Paths.get(Lake.tagsPath(blocked)),
      "not a directory".getBytes)
    failsCleanly(blocked, snapshot(blocked)) {
      Pipeline.ingest(taSource(specs.map(_.id), "01-16-2024"),
        Some(tagSource("01-16-2024")), Pipeline.Config(blocked, specs,
          tagKeys = Seq("CostCenter")))
    }
    // the same failure on a lake's first ingest leaves no table directory
    val first = Files.createTempDirectory("graft-firstfail").toString
    Files.write(java.nio.file.Paths.get(Lake.tagsPath(first)),
      "not a directory".getBytes)
    failsCleanly(first, snapshot(first)) {
      Pipeline.ingest(taSource(specs.map(_.id)), Some(tagSource()),
        Pipeline.Config(first, specs, tagKeys = Seq("CostCenter")))
    }
    assert(lakeTables(first).forall { case (_, p) => !new java.io.File(p).exists },
      s"left behind: ${filesUnder(first)}")
  }

  test("Pipeline.ingest writes every table of a refresh in at most 4 " +
      "Spark jobs") {
    val root = Files.createTempDirectory("graft-ingestjobs").toString
    val jobs = new AtomicInteger
    listening(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }) {
      Pipeline.ingest(taSource(CheckRegistry.supported.map(_.id)),
        Some(tagSource()), Pipeline.Config(root,
          tagKeys = Seq("CostCenter", "Env")))
    }
    assert(jobs.get <= 4, s"ingest ran ${jobs.get} Spark jobs")
    (lakeTables(root).map(_._2) :+ Lake.tagsPath(root)).foreach { p =>
      assert(new java.io.File(p, "year=2024/month=1/day=15").isDirectory, p)
    }
  }

  /** The command lines of the `chmod` processes this JVM started while
    * `body` ran, from an in-process JFR recording of `jdk.ProcessStart`.
    * Other commands are not counted: another thread may start one. */
  private def chmodsDuring(body: => Unit): Seq[String] = {
    val recording = new jdk.jfr.Recording()
    val dump = Files.createTempFile("graft-procs", ".jfr")
    try {
      recording.enable("jdk.ProcessStart")
      recording.start()
      try body finally recording.stop()
      recording.dump(dump)
      jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala.toSeq
        .map(_.getString("command"))
        .filter(_.split(' ').head.split('/').last == "chmod")
    } finally { recording.close(); Files.delete(dump) }
  }

  test("an ingest starts no chmod process, on parquet and in csvFidelity " +
      "mode") {
    Seq(false, true).foreach { csv =>
      val root = Files.createTempDirectory("graft-nofork").toString
      val chmods = chmodsDuring {
        Pipeline.ingest(taSource(CheckRegistry.supported.map(_.id)),
          Some(tagSource()), Pipeline.Config(root,
            tagKeys = Seq("CostCenter", "Env"), csvFidelity = csv))
      }
      assert(new java.io.File(Lake.tagsPath(root), "_SUCCESS").isFile)
      assert(chmods.isEmpty, s"csvFidelity=$csv: ${chmods.size} chmod " +
        s"processes, e.g. ${chmods.take(3).mkString("; ")}")
    }
  }

  test("commit markers and leaf layout: root _SUCCESS after the leaves, " +
      "a table feed adopts the new leaf, a null date lands where " +
      "partitionBy puts it") {
    val root = Files.createTempDirectory("graft-markers").toString
    val spec = CheckRegistry.lowUtilEc2
    val cfg = Pipeline.Config(root, Seq(spec), tagKeys = Seq("CostCenter"))
    Pipeline.ingest(taSource(Seq(spec.id)), Some(tagSource()), cfg)
    val detail = Lake.detailsPath(root, spec)
    val cursors = graft.lake.ChangeFeed.tableCursors(spark, detail)
    Pipeline.ingest(taSource(Seq(spec.id), "01-16-2024"),
      Some(tagSource("01-16-2024")), cfg)
    Seq(detail, Lake.summaryPath(root), Lake.tagsPath(root)).foreach { t =>
      val leaf = new java.io.File(t, "year=2024/month=1/day=16")
      val marker = new java.io.File(t, "_SUCCESS")
      assert(leaf.isDirectory && marker.isFile, t)
      assert(marker.lastModified >= leaf.lastModified,
        s"$t: _SUCCESS older than its new leaf")
    }
    // the day-2 leaf carries no commit log: the feed adopts it by the
    // table-root marker
    val fed = graft.streaming.StreamingOps.streamFeedTable(spark, detail,
      cursors).filter(col("day") === 16).count()
    assert(fed > 0 && fed ==
      spark.read.parquet(detail + "/year=2024/month=1/day=16").count())
    // a document without a date: its summary row goes to the default
    // partition, spelled as DataFrameWriter.partitionBy spells it
    val undated = Files.createTempDirectory("graft-undated").toString
    val raw = Seq((TaFetchStub.fetch("123456789012", spec.id), null: String,
      "2024-01-15 09:00:00", "Low Utilization Amazon EC2 Instances",
      "123456789012", "Acme", "ops@acme.example"))
      .toDF(TaCheckResultSource.schema.fieldNames.toIndexedSeq: _*)
    Pipeline.ingest(raw, None, Pipeline.Config(undated, Seq(spec)))
    val reference =
      Files.createTempDirectory("graft-undatedref").toString + "/summary"
    graft.ingest.TaIngest.summary(raw)
      .select(col("*"), lit(null).cast("int").as("year"),
        lit(null).cast("int").as("month"), lit(null).cast("int").as("day"))
      .write.partitionBy("year", "month", "day").parquet(reference)
    def leaves(t: String): Set[String] = filesUnder(t)
      .filter(_.contains("/part-"))
      .map(p => java.nio.file.Paths.get(t).relativize(
        java.nio.file.Paths.get(p).getParent).toString)
    assert(leaves(Lake.summaryPath(undated)) == leaves(reference))
    assert(leaves(reference) == Set(
      "year=__HIVE_DEFAULT_PARTITION__/month=__HIVE_DEFAULT_PARTITION__/" +
        "day=__HIVE_DEFAULT_PARTITION__"))
  }

  test("registration: each check table and summary keeps the footer " +
      "schema, and a parquet refresh without tags runs zero Spark jobs") {
    val root = Files.createTempDirectory("graft-regschema").toString
    val cfg = Pipeline.Config(root)
    Pipeline.ingest(taSource(CheckRegistry.supported.map(_.id)), None, cfg)
    val jobs = new AtomicInteger
    val views = listening(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    })(Pipeline.refreshCatalog(spark, cfg))
    assert(jobs.get == 0, s"catalog refresh ran ${jobs.get} Spark job(s)")
    assert(views.size == CheckRegistry.supported.size + 1)
    lakeTables(root).foreach { case (t, path) =>
      assert(spark.table(t).schema == spark.read.parquet(path).schema,
        s"$t: registered schema differs from the parquet footers")
    }
    assert(spark.table("summary").count() ==
      2 * CheckRegistry.supported.size)
  }

  test("registration: a csvFidelity lake registers from its CSV headers") {
    val root = Files.createTempDirectory("graft-regcsv").toString
    val cfg = Pipeline.Config(root, csvFidelity = true)
    Pipeline.run(spark, taSource(CheckRegistry.supported.map(_.id)), None,
      cfg)
    lakeTables(root).foreach { case (t, path) =>
      assert(spark.table(t).schema ==
        spark.read.option("header", "true").csv(path).schema, t)
    }
    assert(spark.table("summary").count() ==
      2 * CheckRegistry.supported.size)
  }
}
