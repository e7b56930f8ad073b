package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ingest.TaIngest
import graft.lake.Lake
import graft.model.{CheckRegistry, CheckSpec}
import graft.views.Views

/** End-to-end pipeline: entry points A (scheduled ingest) + B (catalog +
  * view refresh) fused into one Spark job (SURVEY.md §3).
  *
  * Input is a DataFrame of raw TA JSON documents (one row per
  * (account, check) response — from fixtures in tests, from a live-API
  * DataSourceV2 in production) and optionally a DataFrame of tag
  * observations. The reference's four Step Functions state machines
  * collapse into this one declarative plan: the per-account `Map` fan-out
  * is partition parallelism (the live-API sources read one partition per
  * account and walk its checks inside it), the 50-account batching and
  * poll/wait loops are obsolete under Spark's scheduler.
  */
object Pipeline {

  final case class Config(
      lakeRoot: String,
      specs: Seq[CheckSpec] = CheckRegistry.supported,
      tagKeys: Seq[String] = Nil,
      maskPii: Boolean = false,
      csvFidelity: Boolean = false,
      /** true = durable catalog tables + persistent views (the reference's
        * Glue/Athena catalog); false = session-scoped temp views. */
      persistentCatalog: Boolean = false,
      /** K9: receives one event per successful catalog refresh
        * (template:3284-3339); swap for an SNS publisher in deployment. */
      notifier: Notify.Notifier = Notify.Log)

  /** Ingest one batch of raw docs (+ tag observations) into the lake as
    * ONE [[Lake.writeTables]] job chain: one generator pass over the parse
    * routes every detail and summary row to its table
    * ([[TaIngest.routed]]), the tag pivot ([[TaIngest.tags]]) joins as
    * one more routed table, and one REBALANCE and one fan-out write job
    * append every table — 3 Spark jobs with tags (the tag aggregation's
    * map stage, the REBALANCE map stage, the write). The source and the
    * Tagging API are each read once, with no cache or checkpoint, since
    * one plan reads them.
    *
    * Failure semantics: the driver commits after the job succeeds, so a
    * failed ingest — a failing task, or a refused csvFidelity tag column
    * set ([[Lake.requireTagColumns]], checked before the job) — appends
    * nothing to any table. The commit itself is file moves, not one atomic swap: a
    * driver dying mid-commit can leave some files moved. Tables with no
    * rows get no file (K6).
    *
    * [[ingestStream]] runs this once per micro-batch. */
  def ingest(raw: DataFrame, tagObs: Option[DataFrame], cfg: Config): Unit = {
    val (routed, targets) = ingestTables(raw, tagObs, cfg)
    Lake.writeTables(routed, targets, cfg.csvFidelity)
  }

  /** What [[ingest]] hands [[Lake.writeTables]]: the routed frame of
    * every table and each table's lake path. */
  private[graft] def ingestTables(raw: DataFrame, tagObs: Option[DataFrame],
      cfg: Config): (DataFrame, Map[String, String]) = {
    val checks = TaIngest.routed(TaIngest.parsed(raw), cfg.specs, cfg.maskPii)
    val tags = tagObs.map { obs =>
      val t = TaIngest.tags(obs, cfg.tagKeys)
      Lake.requireTagColumns(t, cfg.lakeRoot, cfg.csvFidelity)
      Lake.routed(t, "tags")
    }
    val targets =
      cfg.specs.map(s => s.tableName -> Lake.detailsPath(cfg.lakeRoot, s)) ++
        Seq(TaIngest.SummaryTable -> Lake.summaryPath(cfg.lakeRoot)) ++
        tags.map(_ => "tags" -> Lake.tagsPath(cfg.lakeRoot))
    (tags.fold(checks)(checks.unionByName(_, allowMissingColumns = true)),
      targets.toMap)
  }

  /** Register lake tables + build views (entry point B). Returns the
    * created view names. On success, publishes one K9 notification with
    * the crawler-event fields (template:3313-3323): the
    * created/updated/deleted split comes from diffing catalog visibility
    * across the refresh, exactly what the crawler reports. */
  def refreshCatalog(spark: SparkSession, cfg: Config): Seq[String] = {
    val candidates = cfg.specs.map(_.tableName) ++ Seq("summary", "tags")
    val before = candidates.filter(spark.catalog.tableExists).toSet
    val registered = Lake.registerTables(spark, cfg.lakeRoot, cfg.specs,
      tagsPresent = cfg.tagKeys.nonEmpty, cfg.csvFidelity,
      persistent = cfg.persistentCatalog).toSet
    val views = Views.createAll(spark, cfg.tagKeys,
      temporary = !cfg.persistentCatalog)
    val partitions =
      if (cfg.persistentCatalog)
        registered.toSeq.map(t =>
          scala.util.Try(spark.sql(s"SHOW PARTITIONS `$t`").count())
            .getOrElse(0L)).sum
      else 0L
    val (subject, body) = Notify.render(Notify.CatalogRefreshEvent(
      completionDate = java.time.Instant.now().toString,
      tablesCreated = (registered -- before).toSeq.sorted,
      tablesUpdated = registered.intersect(before).toSeq.sorted,
      tablesDeleted = (before -- registered).toSeq.sorted,
      partitionsSynced = partitions,
      viewsCreated = views))
    cfg.notifier.publish(subject, body)
    views
  }

  def run(spark: SparkSession, raw: DataFrame, tagObs: Option[DataFrame],
      cfg: Config): Seq[String] = {
    ingest(raw, tagObs, cfg)
    refreshCatalog(spark, cfg)
  }

  /** Incremental ingest: a Structured Streaming file source watches a
    * landing directory of JSON-lines TA response envelopes (same schema the
    * DSv2 source emits) and appends each micro-batch into the partitioned
    * lake via foreachBatch, one [[ingest]] (one write job) per
    * micro-batch — the continuous replacement for the reference's
    * monthly cron (template:17-21): drop files, partitions appear. The
    * checkpoint reads each landing FILE exactly once (source-side); the
    * SINK side is at-least-once — a failed batch appends nothing, but a
    * crash after a batch's lake commit and before the checkpoint commit
    * replays the batch on restart, duplicating its appends. Make the consumer idempotent
    * (exact dedup downstream — q21/q74 are the operators) or swap the
    * foreachBatch body for a transactional table format when end-to-end
    * exactly-once matters. Runs to completion with AvailableNow
    * (batch-like); pass a processing-time trigger for a long-lived
    * daemon. */
  def ingestStream(spark: SparkSession, landingDir: String, cfg: Config,
      checkpoint: String, maxFilesPerTrigger: Option[Int] = None): Unit = {
    val reader = spark.readStream
      .schema(graft.sources.TaCheckResultSource.schema)
    val raw = maxFilesPerTrigger
      .fold(reader)(n => reader.option("maxFilesPerTrigger", n.toString))
      .json(landingDir)
    val q = raw.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        ingest(batch, None, cfg)
      }
      .start()
    q.awaitTermination()
  }
}
