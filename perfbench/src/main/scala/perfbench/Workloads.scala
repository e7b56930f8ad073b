package perfbench

import java.util.Properties

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.jobs.Pipeline
import graft.model.CheckRegistry

/** `ta_refresh`: one operation is one scheduled daily refresh into an empty
  * lake, then a full read of every submitted view. The accounts, tag
  * fan-out and views come from the spec `perfbench/inputs.py` wrote. Every
  * operation starts from the same (empty) lake state, so the lake does not
  * grow across them. */
final class TaRefresh(spark: SparkSession, spec: Properties)
    extends Main.Workload {
  private def get(k: String) = spec.getProperty(k)
  private val tagKeys = get("ta.tag_keys").split(",").toSeq
  private val views = get("ta.views").split(",").toSeq
  private val firstDay = java.time.LocalDate.parse(get("ta.first_day"))
  private val lakes = get("work") + "/lakes"
  private val warmup = get("warmup_ops").toInt

  /** Day `i`'s TA date and datetime strings. */
  private def day(i: Int): (String, String) = {
    val d = firstDay.plusDays(i.toLong)
    (d.format(java.time.format.DateTimeFormatter.ofPattern("MM-dd-yyyy")),
      s"$d 06:00:00")
  }

  /** Ingest day `i` (all accounts x the supported checks, plus tags) into
    * the lake at `root`, refresh the catalog, and read every view. */
  private def refresh(root: String, i: Int): Map[String, String] = {
    val (date, dateTime) = day(i)
    def source(format: String) = spark.read.format(format)
      .option("accounts", get("ta.accounts")).option("date", date)
      .option("datetime", dateTime)
    val raw = source("graft.sources.TaCheckResultSource")
      .option("checks", CheckRegistry.supported.map(_.id).mkString(","))
      .load()
    val tags = source("graft.sources.TagObservationSource")
      .option("resourceTypes", get("ta.tag_types"))
      .option("regions", get("ta.tag_regions")).load()
    val cfg = Pipeline.Config(root, tagKeys = tagKeys)
    Trace.span("jobs.ingest")(Pipeline.ingest(raw, Some(tags), cfg))
    val created = Trace.span("jobs.refresh_catalog") {
      Pipeline.refreshCatalog(spark, cfg)
    }
    checkViews(created) + ("lake" -> root) + ("date" -> date)
  }

  /** Reads every submitted view in full (every row, every column) and
    * returns `<view>.digest`. */
  private def checkViews(created: Seq[String]): Map[String, String] =
    Trace.span("views.check") {
      val missing = views.filterNot(created.contains)
      require(missing.isEmpty, s"views not created: ${missing.mkString(",")}")
      views.map(v => s"$v.digest" -> Digest.materialize(spark.table(v))._1)
        .toMap
    }

  def setup(): Unit = (0 until warmup).foreach(i =>
    Main.stage(s"warmup$i")(refresh(s"$lakes/warm$i", i)))
  def name(i: Int): String = "refresh"
  def op(i: Int): Map[String, String] = refresh(s"$lakes/op$i", i)
  override def planChecks: Seq[(String, DataFrame)] =
    views.map(v => v -> spark.table(v))
}

/** `ops_heavy`: one operation is one registry query, built through
  * `SparkEntry.queries` and fully materialized. The ops file lists the
  * queries pass by pass, each pass in a seeded order. */
final class OpsHeavy(spark: SparkSession, spec: Properties)
    extends Main.Workload {
  private val data = spec.getProperty("ops.data")
  private val queries = spec.getProperty("ops.queries").split(",").toSeq
  private val order = {
    val src = scala.io.Source.fromFile(spec.getProperty("ops_file"), "UTF-8")
    try src.getLines().toVector finally src.close()
  }

  private val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
  /** The index-state directories q212 creates under the temp directory. */
  private def stateDirs(): Set[String] = Option(tmp.list()).toSet.flatten
    .filter(_.startsWith("graft-feedix"))

  private def run(q: String): Map[String, String] = {
    val before = stateDirs()
    val df = Trace.span("queries.build") {
      graft.SparkEntry.queries(q)(spark, data)
    }
    val (digest, rows) = Trace.span("queries.materialize") {
      Digest.materialize(df)
    }
    // the state this operation committed, for lake_bytes_per_row
    val state = (stateDirs() -- before).map(new java.io.File(tmp, _).getPath)
    Map("query" -> q, "digest" -> digest, "rows" -> rows.toString) ++
      state.headOption.map("state" -> _)
  }

  def setup(): Unit = {
    // the runner reads the oracle SQL from here to build the references
    val oracles = graft.SparkEntry.oracleSql
    Json.write(spec.getProperty("ops.oracle_file"),
      queries.map(q => q -> oracles(q)).toMap)
    for (p <- 0 until spec.getProperty("warmup_passes").toInt; q <- queries)
      Main.stage(s"warmup$p.$q")(run(q))
  }
  def name(i: Int): String = "ops." + order(i % order.size)
  def op(i: Int): Map[String, String] = run(order(i % order.size))
}
