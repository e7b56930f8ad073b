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

  /** Ingest one batch of raw docs (+ tag observations) into the lake.
    *
    * The source is scanned ONCE: the parsed batch is persisted, so the
    * per-check detail writes and the summary write all read the cached
    * parse instead of re-scanning (with a live Support-API source every
    * extra scan is a full re-fetch of all (account, check) responses — 9
    * re-fetches per run in the naive form). One small aggregation over the
    * cache replaces the per-write `isEmpty` pre-jobs: it yields, per check,
    * the row count and the number of flaggedResources passing the
    * warning/error status filter, which decides exactly which writes the
    * K6 empty-relation elision skips.
    *
    * The tag pivot is materialized once too, by a local checkpoint:
    * `Lake.writeTags` runs its emptiness guard and then the write, and
    * each execution of the pivot would otherwise be one more Tagging-API
    * sweep ([[TaIngest.tags]]). A checkpoint, not `persist`, because it
    * keeps the adaptive plan's coalesced partitions (a cached plan keeps
    * all `spark.sql.shuffle.partitions` of the aggregation, 200 tasks per
    * stage at Spark's default). Trade-off: Spark cannot recompute a local
    * checkpoint, so an executor lost between the guard and the write
    * fails the tag write like any other write failure.
    *
    * Every table write — each check, the summary and the tags — is one
    * future in one bounded pool, so the tag sweep overlaps the check
    * writes instead of running after them. Failure semantics: every
    * write runs to completion before the first failure is rethrown, so no
    * lake file appears after ingest returns or throws; when one table's
    * write fails, the others, the tag table included, may still have
    * appended: the lake is not atomic across tables. */
  def ingest(raw: DataFrame, tagObs: Option[DataFrame], cfg: Config): Unit = {
    import org.apache.spark.sql.functions._
    val p = TaIngest.parsed(raw).persist()
    try {
      val stats = p.groupBy(col("ta.result.checkId").as("cid"))
        .agg(count(lit(1)).as("n"),
          sum(size(filter(col("ta.result.flaggedResources"),
            r => r.getField("status").isin("warning", "error")))).as("flagged"))
        .collect()
      val flaggedByCheck = stats.iterator
        .filterNot(_.isNullAt(0))
        .map(r => r.getString(0) -> (if (r.isNullAt(2)) 0L else r.getLong(2)))
        .toMap
      // The per-table writes go to disjoint paths and read materialized
      // inputs, so they are submitted CONCURRENTLY: Spark's scheduler
      // interleaves their jobs instead of paying one driver round-trip per
      // table in sequence (9 sequential write jobs dominated q35's wall
      // time in round 1). Bounded pool. Every future is awaited to
      // COMPLETION (not fail-fast) before the first failure is rethrown —
      // otherwise a sibling write would outlive ingest, re-deriving the
      // unpersisted parse (a full live-API refetch) and appending lake
      // files after the caller has already seen the error.
      val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(pool)
      try {
        val writes =
          cfg.specs.filter(s => flaggedByCheck.getOrElse(s.id, 0L) > 0L)
            .map { spec =>
              scala.concurrent.Future {
                Lake.writeDetails(TaIngest.detailsParsed(p, spec, cfg.maskPii),
                  cfg.lakeRoot, spec, cfg.csvFidelity, assumeNonEmpty = true)
              }
            } ++
          (if (stats.map(_.getLong(1)).sum > 0L)
            Seq(scala.concurrent.Future {
              Lake.writeSummary(TaIngest.summaryParsed(p, cfg.maskPii),
                cfg.lakeRoot, cfg.csvFidelity, assumeNonEmpty = true)
            })
          else Nil) ++
          tagObs.map(obs => scala.concurrent.Future {
            Lake.writeTags(
              TaIngest.tags(obs, cfg.tagKeys).localCheckpoint(eager = false),
              cfg.lakeRoot, cfg.csvFidelity)
          })
        val settled = scala.concurrent.Await.result(
          scala.concurrent.Future.sequence(
            writes.map(_.transform(scala.util.Success(_)))),
          scala.concurrent.duration.Duration.Inf)
        settled.foreach(_.get) // rethrow the first failure, if any
      } finally { pool.shutdownNow(); () }
    } finally { p.unpersist(blocking = false); () }
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
    * lake via foreachBatch — the continuous replacement for the reference's
    * monthly cron (template:17-21): drop files, partitions appear. The
    * checkpoint reads each landing FILE exactly once (source-side); the
    * SINK side is at-least-once — a crash after some of a batch's lake
    * appends but before the checkpoint commit replays the batch on
    * restart, duplicating those appends. Make the consumer idempotent
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
