package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

import graft.jobs.Pipeline
import graft.lake.Lake
import graft.model.CheckRegistry
import graft.sources.{TaCheckResultSource, TaFetchStub}

/** The daily refresh's ingest and registration contracts: the tag source
  * is swept once per ingest, the tag write shares the check writes'
  * await-all failure semantics, and catalog registration takes each
  * detail/summary schema from the ingest projection (no footer job) while
  * keeping the crawler's schema. */
class TaRefreshSpec extends SparkSpec {
  import spark.implicits._

  private val accounts =
    "123456789012:Acme:ops@acme.example,999988887777:Beta:eng@beta.example"

  private def taSource(checks: Seq[String], date: String = "01-15-2024") =
    spark.read.format("graft.sources.TaCheckResultSource")
      .option("accounts", accounts).option("checks", checks.mkString(","))
      .option("date", date).load()

  private def tagSource(date: String = "01-15-2024") =
    spark.read.format("graft.sources.TagObservationSource")
      .option("accounts", accounts)
      .option("resourceTypes", "ec2:instance,ec2:volume")
      .option("regions", "us-east-1,eu-west-1")
      .option("date", date).load()

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

  private def filesUnder(root: String): Set[String] = {
    val it = Files.walk(java.nio.file.Paths.get(root))
    try {
      val b = Set.newBuilder[String]
      it.forEach(p => b += p.toString)
      b.result()
    } finally it.close()
  }

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

  test("a failing tag write fails ingest only after every check write " +
      "finished, and no lake file appears afterwards") {
    val root = Files.createTempDirectory("graft-tagfail").toString
    val specs = Seq(CheckRegistry.lowUtilEc2, CheckRegistry.idleLb)
    val cfg = Pipeline.Config(root, specs, tagKeys = Seq("CostCenter"),
      csvFidelity = true)
    Pipeline.ingest(taSource(specs.map(_.id)), Some(tagSource()), cfg)
    // a later run with another CustomerKeys set: the csvFidelity tag
    // append changes the column set, which Lake.writeTags refuses
    val e = intercept[IllegalArgumentException] {
      Pipeline.ingest(taSource(specs.map(_.id), "01-16-2024"),
        Some(tagSource("01-16-2024")),
        cfg.copy(tagKeys = Seq("CostCenter", "Env")))
    }
    assert(e.getMessage.contains("column set"))
    // every check write of the failed run committed before ingest threw
    specs.foreach { s =>
      val day = new java.io.File(
        Lake.detailsPath(root, s) + "/year=2024/month=1/day=16")
      assert(Option(day.listFiles()).exists(_.exists(f =>
        f.getName.startsWith("part-") && f.length() > 0)),
        s"${s.tableName}: no committed file for the failed run's day")
      assert(!new java.io.File(Lake.detailsPath(root, s), "_temporary")
        .exists(), s"${s.tableName}: write still in flight")
    }
    val after = filesUnder(root)
    Thread.sleep(1500)
    assert(filesUnder(root) == after, "a lake write outlived ingest")
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
