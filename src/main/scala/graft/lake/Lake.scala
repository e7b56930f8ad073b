package graft.lake

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.ingest.TaIngest
import graft.model.CheckSpec
import graft.sources.TaCheckResultSource

/** Partitioned-lake writers and catalog registration — the Spark
  * re-expression of the reference's S3 layout + Glue crawler
  * (`extract-ta-data-lambda.py:100-114`, template:3155-3233).
  *
  * Layout mirrors the reference prefixes but with Hive-style partition keys
  * so partition pruning is automatic:
  *   <root>/TA-Reports/<category>/check_<id>/year=YYYY/month=M/day=D/
  *   <root>/TA-Reports/<category>/Summary/year=.../
  *   <root>/Tags/year=.../   (resourceType is a column, not a path segment,
  *                            so one `tags` table covers all types)
  *
  * Parquet by default (columnar, vectorized scan); `csvFidelity = true`
  * reproduces the reference's CSV bytes for fidelity tests. Writes are
  * append-mode: each run adds a new y/m/d partition, exactly like the
  * reference's per-run S3 prefixes (SURVEY.md §2.8).
  */
object Lake {

  /** Derive partition columns from the ingest `date` column (MM-dd-yyyy,
    * get-accounts-info-lambda.py:110). Non-padded month/day values match
    * the reference's `str(date.today().month)` path segments. */
  private def withYmd(df: DataFrame): DataFrame = df
    .withColumn("year", split(col("date"), "-").getItem(2).cast("int"))
    .withColumn("month", split(col("date"), "-").getItem(0).cast("int"))
    .withColumn("day", split(col("date"), "-").getItem(1).cast("int"))

  def detailsPath(root: String, spec: CheckSpec): String =
    s"$root/TA-Reports/${spec.category}/${spec.tableName}"

  def summaryPath(root: String, category: String = "cost_optimizing"): String =
    s"$root/TA-Reports/$category/Summary"

  def tagsPath(root: String): String = s"$root/Tags"

  private def write(df: DataFrame, path: String, csvFidelity: Boolean,
      assumeNonEmpty: Boolean = false): Unit = {
    // K6 empty-relation elision (extract-ta-data-lambda.py:153,187): an
    // empty write would leave a file-less directory that later breaks
    // schema inference at registration. The isEmpty guard is a limit-1 job;
    // pipelines that already established non-emptiness in one upstream
    // aggregation (Pipeline.ingest) pass assumeNonEmpty to skip it.
    if (!assumeNonEmpty && df.isEmpty) return
    // REBALANCE on the partition keys (AQE) collapses the one-tiny-file-
    // per-source-partition write pattern into few right-sized files per
    // y/m/d dir, and — unlike a plain repartition(ymd) — still SPLITS a
    // hot day across tasks when a single partition's data is large, so
    // the same write path holds at 100 TB/day.
    val ymd = withYmd(df)
    val w = ymd.hint("rebalance", col("year"), col("month"), col("day"))
      .write.mode(SaveMode.Append)
      .partitionBy("year", "month", "day")
    if (csvFidelity) w.option("header", "true").csv(path) else w.parquet(path)
  }

  def writeDetails(df: DataFrame, root: String, spec: CheckSpec,
      csvFidelity: Boolean = false, assumeNonEmpty: Boolean = false): Unit =
    write(df, detailsPath(root, spec), csvFidelity, assumeNonEmpty)

  def writeSummary(df: DataFrame, root: String,
      csvFidelity: Boolean = false, assumeNonEmpty: Boolean = false): Unit =
    write(df, summaryPath(root), csvFidelity, assumeNonEmpty)

  def writeTags(df: DataFrame, root: String,
      csvFidelity: Boolean = false): Unit = {
    // CSV is read back POSITIONALLY with one header for the whole tree:
    // appending runs whose column set changed (reordered/shrunken
    // CustomerKeys) would silently misalign every later column across the
    // table. Parquet tolerates drift (mergeSchema resolves by NAME);
    // fidelity mode must refuse it at write time, loudly.
    if (csvFidelity) {
      val path = tagsPath(root)
      val spark = df.sparkSession
      if (exists(spark, path)) {
        val existing = spark.read.option("header", "true").csv(path).columns
        require(existing.sameElements(df.columns),
          s"csvFidelity tags append changes the column set: table has " +
            s"[${existing.mkString(",")}], append has " +
            s"[${df.columns.mkString(",")}] — rewrite the table (or drop " +
            "fidelity mode, whose parquet path merges schemas by name)")
      }
    }
    write(df, tagsPath(root), csvFidelity)
  }

  /** K7 error-log sink (refresh-ta-check-lambda.py:54-63): failure records
    * land under Logs/<kind>/y/m/d as their own small table instead of the
    * reference's one-file-per-account text logs. Expects columns
    * (date, accountid, message). */
  def writeErrorLog(df: DataFrame, root: String,
      kind: String = "AssumeRoleFailure"): Unit =
    write(df, s"$root/Logs/$kind", csvFidelity = false)

  /** Data columns of a lake table written by an ingest projection: the
    * projection itself, analyzed over an empty source frame. The ingest
    * code is the one definition of the lake's columns, and registration
    * reads no parquet footer (one Spark job per table otherwise). Parquet
    * reads every column back nullable. */
  private def ingestSchema(spark: SparkSession,
      projection: DataFrame => DataFrame): StructType = {
    val empty = spark.createDataFrame(
      java.util.Collections.emptyList[Row](), TaCheckResultSource.schema)
    StructType(projection(TaIngest.parsed(empty)).schema
      .map(_.copy(nullable = true)))
  }

  /** Register lake tables in the session catalog — the Glue-crawler step
    * (S7). A detail table or `summary` gets the schema of the ingest
    * projection that writes it ([[ingestSchema]]); `tags`, whose column set
    * varies with the configured CustomerKeys, merges its parquet footers;
    * fidelity mode reads CSV headers with string types, matching the
    * crawler's all-strings inference. Partition discovery picks up
    * year/month/day from the directory names either way. Returns the
    * registered table names.
    *
    * `persistent = false` (default) registers session-scoped temp views —
    * the ephemeral mode the query harness uses. `persistent = true` is the
    * durable-catalog mode matching the reference's Glue tables
    * (template:3155-3233): each table becomes an EXTERNAL partitioned
    * catalog table over the lake path (drop+recreate refreshes the schema,
    * exactly the crawler's UPDATE_IN_DATABASE evolution policy; the data is
    * never touched), followed by partition recovery (the crawler's
    * partition sync). Any second SparkSession sharing the metastore — and,
    * with Hive support enabled, any later restart — sees the tables. */
  def registerTables(spark: SparkSession, root: String,
      specs: Seq[CheckSpec], tagsPresent: Boolean,
      csvFidelity: Boolean = false, persistent: Boolean = false): Seq[String] = {
    def register(name: String, path: String,
        schema: Option[StructType]): Unit = {
      val df =
        if (csvFidelity) spark.read.option("header", "true").csv(path)
        else schema.fold(
          // dynamic tag schema (SURVEY §1.3): runs written under different
          // CustomerKeys configs have different column sets; mergeSchema
          // unions them (missing keys read as null) — the Glue-crawler
          // UPDATE_IN_DATABASE evolution policy, natively.
          spark.read.option("mergeSchema", "true").parquet(path))(
          spark.read.schema(_).parquet(path))
      if (persistent) registerExternal(spark, name, path, df, csvFidelity)
      else df.createOrReplaceTempView(name)
    }
    // DELETE_FROM_DATABASE (template:3186-3188): a table whose lake data
    // vanished is removed from the catalog on refresh, exactly as the
    // crawler's DeleteBehavior drops Glue tables for deleted S3 prefixes.
    // Without this, a stale persistent entry keeps serving scan-time
    // errors (and a stale temp view serves the old cached relation)
    // forever. Views over a dropped table dangle until the next
    // Views.createAll pass — the crawler+Athena pairing behaves the same.
    (specs.map(s => s.tableName -> detailsPath(root, s)) ++
      Seq("summary" -> summaryPath(root), "tags" -> tagsPath(root)))
      .filterNot { case (_, p) => exists(spark, p) }
      .foreach { case (n, _) =>
        spark.catalog.dropTempView(n)
        if (persistent && spark.catalog.tableExists(n))
          spark.sql(s"DROP TABLE IF EXISTS `$n`")
      }
    val checkTables = specs.flatMap { spec =>
      val p = detailsPath(root, spec)
      if (exists(spark, p)) {
        register(spec.tableName, p,
          Some(ingestSchema(spark, TaIngest.detailsParsed(_, spec))))
        Some(spec.tableName)
      } else None
    }
    val summaryTable =
      if (exists(spark, summaryPath(root))) {
        register("summary", summaryPath(root),
          Some(ingestSchema(spark, TaIngest.summaryParsed(_))))
        Seq("summary")
      } else Nil
    val tagTable =
      if (tagsPresent && exists(spark, tagsPath(root))) {
        register("tags", tagsPath(root), None)
        Seq("tags")
      } else Nil
    checkTables ++ summaryTable ++ tagTable
  }

  private val partitionCols = Seq("year", "month", "day")

  /** Durable external table over a partitioned lake path: explicit schema
    * (from `df`, the already-inferred read), Hive-style partition columns,
    * then partition recovery. Clears any temp view shadowing the name
    * first (a persistent view may not reference temp relations).
    *
    * Refresh is non-windowing for concurrent sessions sharing the
    * metastore (the documented persistent-mode use case): an existing
    * table is kept in place — unchanged schemas just re-sync partitions,
    * and the common evolution (new tag columns appearing in later runs)
    * is applied via ALTER TABLE ADD COLUMNS. Only an incompatible change
    * (type change / column removal — which the lake's append-only writers
    * never produce) falls back to drop+recreate, the crawler's
    * UPDATE_IN_DATABASE "recreate" edge. */
  private def registerExternal(spark: SparkSession, name: String,
      path: String, df: DataFrame, csvFidelity: Boolean): Unit = {
    spark.catalog.dropTempView(name)
    val dataCols = df.schema.fields
      .filterNot(f => partitionCols.contains(f.name))
    val fmt = if (csvFidelity) "CSV OPTIONS (header 'true')" else "PARQUET"
    def create(): Unit = {
      val cols = dataCols.map(f => s"`${f.name}` ${f.dataType.sql}") ++
        partitionCols.map(p => s"`$p` INT")
      spark.sql(s"""CREATE TABLE IF NOT EXISTS `$name` (${cols.mkString(", ")})
        USING $fmt
        PARTITIONED BY (${partitionCols.map(p => s"`$p`").mkString(", ")})
        LOCATION '$path'""")
    }
    if (!spark.catalog.tableExists(name)) create()
    else {
      val current = spark.table(name).schema.fields
        .filterNot(f => partitionCols.contains(f.name))
        .map(f => (f.name.toLowerCase, f.dataType)).toMap
      val added = dataCols.filterNot(f => current.contains(f.name.toLowerCase))
      // an existing table must also still point at THIS lake path — a
      // schema-compatible table over a different (old/moved) location
      // would silently serve stale data if only MSCK'd
      val sameLocation = {
        val loc = org.apache.spark.sql.graftbridge.GraftBridge
          .tableLocation(spark, name)
        val want = new org.apache.hadoop.fs.Path(path)
        new org.apache.hadoop.fs.Path(loc) ==
          want.getFileSystem(spark.sparkContext.hadoopConfiguration)
            .makeQualified(want)
      }
      // CSV files are read POSITIONALLY: ALTER ADD COLUMNS appends the
      // new column to the end of the table schema, which silently
      // misaligns every column after the new one in files whose physical
      // layout differs — so schema evolution on a csvFidelity table
      // always drops+recreates (re-inferring from the current headers),
      // and the additive ALTER path is parquet-only (parquet reads
      // resolve columns BY NAME, order-independent).
      val compatible = sameLocation &&
        current.size + added.length == dataCols.length &&
        dataCols.forall(f => current.get(f.name.toLowerCase)
          .forall(_ == f.dataType)) &&
        (added.isEmpty || !csvFidelity)
      if (compatible) {
        if (added.nonEmpty)
          try
            spark.sql(s"ALTER TABLE `$name` ADD COLUMNS (" +
              added.map(f => s"`${f.name}` ${f.dataType.sql}").mkString(", ") + ")")
          catch {
            // concurrent sessions race the same additive refresh; the
            // loser's duplicate-column failure is success ONLY if the
            // winner added the same column with the same TYPE — a
            // same-named column of a different type is a real schema
            // conflict that must surface, not be swallowed
            case scala.util.control.NonFatal(e) =>
              val now = spark.table(name).schema
                .map(f => f.name.toLowerCase -> f.dataType).toMap
              if (!added.forall(f =>
                  now.get(f.name.toLowerCase).contains(f.dataType)))
                throw e
          }
      } else {
        spark.sql(s"DROP TABLE IF EXISTS `$name`")
        create()
      }
    }
    spark.sql(s"MSCK REPAIR TABLE `$name`")
  }

  private def exists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }
}
