package graft.lake

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptContext, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.lib.output.FileOutputFormat
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.csv.CSVFileFormat
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

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
  * reference's per-run S3 prefixes (SURVEY.md §2.8). [[writeTables]] is
  * the one write path: a whole ingest — every check table, the summary
  * and the tags — is one REBALANCE and one fan-out write job, the
  * reference's Step Functions `Map` fan-out over (account, check) as one
  * Spark stage; the single-table writers are its one-table calls.
  */
object Lake {

  private[lake] val partitionCols = Seq("year", "month", "day")

  /** The partition values of a `date` column (MM-dd-yyyy,
    * get-accounts-info-lambda.py:110) as `year`, `month`, `day` ints.
    * Non-padded month/day values match the reference's
    * `str(date.today().month)` path segments. */
  private def ymd(date: Column): Seq[Column] = {
    val parts = split(date, "-")
    Seq(parts.getItem(2).cast("int").as("year"),
      parts.getItem(0).cast("int").as("month"),
      parts.getItem(1).cast("int").as("day"))
  }

  /** `df` as a one-table routed frame for [[writeTables]]: every row goes
    * to `table`, partitioned by its `date` column. */
  def routed(df: DataFrame, table: String): DataFrame = {
    val data = df.columns.toSeq
      .filterNot(c => partitionCols.exists(_.equalsIgnoreCase(c)))
    df.select(lit(table).as(TaIngest.TableCol), col("date"),
      struct(data.map(c => col(s"`$c`")): _*).as(table))
  }

  def detailsPath(root: String, spec: CheckSpec): String =
    s"$root/TA-Reports/${spec.category}/${spec.tableName}"

  def summaryPath(root: String, category: String = "cost_optimizing"): String =
    s"$root/TA-Reports/$category/Summary"

  def tagsPath(root: String): String = s"$root/Tags"

  /** Appends a routed frame to its lake tables in ONE Spark job chain —
    * the lake's only writer. `routed` has the [[TaIngest.TableCol]] key,
    * the `date` column the partition values come from, and one struct
    * column per table, named by its key and holding that table's data
    * columns (see [[routed]] and [[graft.ingest.TaIngest.routed]]); other
    * columns and the column order do not matter. `targets` maps each key
    * to its table path.
    *
    * REBALANCE on (table, year, month, day) (AQE) collapses the
    * one-tiny-file-per-source-partition pattern into few right-sized
    * files per leaf, and — unlike a plain repartition — still SPLITS a hot
    * leaf across tasks when it is large, so the same write holds at
    * 100 TB/day. Each write task then fans its rows out to one Spark
    * `OutputWriter` per touched (table, leaf) — Spark's own parquet or
    * header-CSV writer, so footers, codec and CSV bytes are the ones
    * `DataFrameWriter` writes — with leaves rendered as `partitionBy`
    * renders them (`__HIVE_DEFAULT_PARTITION__` for a null date). Files
    * stage under the table's hidden `_temporary/<job>/<attempt>/`; after
    * the job succeeds the driver moves the files of the winning attempts
    * into their leaves and writes each touched table's root `_SUCCESS`
    * (the marker [[graft.sources.TableFeedSource]] adopts a log-less leaf
    * by). A failed job moves nothing: no table gains a file or, if it
    * had none, a directory. K6
    * empty-relation elision (extract-ta-data-lambda.py:153,187): a table
    * with no rows gets no file and no directory. */
  def writeTables(routed: DataFrame, targets: Map[String, String],
      csvFidelity: Boolean): Unit = {
    val spark = routed.sparkSession
    val sinks = targets.toSeq.sortBy(_._1).map { case (table, path) =>
      FanoutSink.prepare(spark, table, path,
        routed.schema(table).dataType.asInstanceOf[StructType], csvFidelity)
    }.toArray
    // the row layout the write tasks read (FanoutSink.writeTask)
    val rows = routed.select(Seq(col(TaIngest.TableCol)) ++
      ymd(col("date")) ++ sinks.map(s => col(s"`${s.table}`")): _*)
    val job = java.util.UUID.randomUUID.toString
    val qe = rows.hint("rebalance", col(TaIngest.TableCol), col("year"),
      col("month"), col("day")).queryExecution
    val conf = spark.sparkContext.hadoopConfiguration
    try {
      val staged = SQLExecution.withNewExecutionId(qe, Some("lake write")) {
        qe.toRdd.mapPartitionsWithIndex(FanoutSink.writeTask(job, sinks))
          .collect()
      }
      staged.foreach { f =>
        val leaf = new Path(sinks(f.sink).path, f.leaf)
        val fs = leaf.getFileSystem(conf)
        fs.mkdirs(leaf)
        val to = new Path(leaf, f.name)
        if (!fs.rename(new Path(f.staged), to))
          throw new java.io.IOException(s"lake write: cannot move ${f.staged} to $to")
      }
      staged.map(_.sink).distinct.foreach { i =>
        val marker = new Path(sinks(i).path, "_SUCCESS")
        marker.getFileSystem(conf).create(marker, true).close()
      }
    } finally sinks.foreach { s =>
      val table = new Path(s.path)
      val fs = table.getFileSystem(conf)
      fs.delete(new Path(table, s"_temporary/$job"), true)
      // the shared `_temporary`, then a table dir that only this job's
      // staging created (a failed first write), go once they are empty
      Seq(new Path(table, "_temporary"), table).foreach { d =>
        if (fs.exists(d) && fs.listStatus(d).isEmpty) fs.delete(d, false)
      }
    }
  }

  /** One-table [[writeTables]] into `path`. */
  private def write(df: DataFrame, path: String, csvFidelity: Boolean): Unit =
    writeTables(routed(df, "t"), Map("t" -> path), csvFidelity)

  def writeDetails(df: DataFrame, root: String, spec: CheckSpec,
      csvFidelity: Boolean = false): Unit =
    write(df, detailsPath(root, spec), csvFidelity)

  def writeSummary(df: DataFrame, root: String,
      csvFidelity: Boolean = false): Unit =
    write(df, summaryPath(root), csvFidelity)

  def writeTags(df: DataFrame, root: String,
      csvFidelity: Boolean = false): Unit = {
    requireTagColumns(df, root, csvFidelity)
    write(df, tagsPath(root), csvFidelity)
  }

  /** csvFidelity: CSV is read back POSITIONALLY with one header for the
    * whole tree, so appending tag rows whose column set differs from the
    * existing table's header (a reordered or shrunken CustomerKeys set)
    * would silently misalign every later column; that append is refused
    * on the driver, before any write, loudly. `tags` is the one table
    * whose column set varies (with the configured CustomerKeys); the
    * other tables' columns are fixed by the ingest code. Parquet
    * tolerates drift (mergeSchema resolves by name), so parquet mode
    * checks nothing. One header-read Spark job when the table has a data
    * file; a table directory with none (created empty, or left by a
    * writer that failed) is a first write and checks nothing either. */
  def requireTagColumns(tags: DataFrame, root: String,
      csvFidelity: Boolean): Unit = {
    val path = tagsPath(root)
    val spark = tags.sparkSession
    if (csvFidelity && hasDataFile(spark, path)) {
      // partition discovery adds year/month/day to the header read
      def data(cols: Array[String]) = cols.filterNot(partitionCols.contains)
      val existing = data(spark.read.option("header", "true").csv(path).columns)
      val appended = data(tags.columns)
      require(existing.sameElements(appended),
        s"csvFidelity tags append changes the column set: table has " +
          s"[${existing.mkString(",")}], append has " +
          s"[${appended.mkString(",")}] — rewrite the table (or drop " +
          "fidelity mode, whose parquet path merges schemas by name)")
    }
  }

  /** K7 error-log sink (refresh-ta-check-lambda.py:54-63): failure records
    * land under Logs/<kind>/y/m/d as their own small table instead of the
    * reference's one-file-per-account text logs. Expects columns
    * (date, accountid, message). */
  def writeErrorLog(df: DataFrame, root: String,
      kind: String = "AssumeRoleFailure"): Unit =
    write(df, s"$root/Logs/$kind", csvFidelity = false)

  private val ingestSchemas =
    new java.util.concurrent.ConcurrentHashMap[Option[CheckSpec], StructType]()

  /** Data columns of a lake table written by an ingest projection — the
    * detail projection of `spec`, or the summary's for None: the
    * projection itself, analyzed over an empty source frame. The ingest
    * code is the one definition of the lake's columns, and registration
    * reads no parquet footer (one Spark job per table otherwise). Parquet
    * reads every column back nullable. The schema depends on the spec
    * alone, so each is analyzed once per JVM. */
  private def ingestSchema(spark: SparkSession,
      spec: Option[CheckSpec]): StructType =
    ingestSchemas.computeIfAbsent(spec, { _ =>
      val parsed = TaIngest.parsed(spark.createDataFrame(
        java.util.Collections.emptyList[Row](), TaCheckResultSource.schema))
      val projected = spec.fold(TaIngest.summaryParsed(parsed))(
        TaIngest.detailsParsed(parsed, _))
      StructType(projected.schema.map(_.copy(nullable = true)))
    })

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
        register(spec.tableName, p, Some(ingestSchema(spark, Some(spec))))
        Some(spec.tableName)
      } else None
    }
    val summaryTable =
      if (exists(spark, summaryPath(root))) {
        register("summary", summaryPath(root), Some(ingestSchema(spark, None)))
        Seq("summary")
      } else Nil
    val tagTable =
      if (tagsPresent && exists(spark, tagsPath(root))) {
        register("tags", tagsPath(root), None)
        Seq("tags")
      } else Nil
    checkTables ++ summaryTable ++ tagTable
  }

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

  /** Whether the table at `path` holds a file a read would see: one whose
    * path below the table has no part that Spark's file listing hides
    * (a name starting with `.`, or with `_` and no `=`, like the staging
    * `_temporary` or the `_SUCCESS` marker). */
  private def hasDataFile(spark: SparkSession, path: String): Boolean =
    exists(spark, path) && {
      val root = new Path(path)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val prefix = fs.makeQualified(root).toUri.getPath.length
      val files = fs.listFiles(root, true)
      def hidden(part: String) = part.startsWith(".") ||
        (part.startsWith("_") && !part.contains("="))
      var found = false
      while (!found && files.hasNext) {
        found = !files.next().getPath.toUri.getPath.substring(prefix)
          .split('/').exists(hidden)
      }
      found
    }
}

/** One table of a [[Lake.writeTables]] job, as its write tasks see it:
  * its data schema, and the output-writer factory and job conf Spark's
  * file format prepared for it. */
private[lake] final case class FanoutSink(table: String, path: String,
    schema: StructType, factory: OutputWriterFactory,
    conf: SerializableConfiguration)

/** A file one write task staged: its sink's index, the leaf it belongs
  * in, its staged path and its file name. */
private[lake] final case class StagedFile(sink: Int, leaf: String,
    staged: String, name: String)

private[lake] object FanoutSink {

  /** The sink of `table`, prepared as `DataFrameWriter` prepares a
    * partitioned append to `path`: the header-CSV or parquet format's
    * `prepareWrite` over a job conf of its own. */
  def prepare(spark: SparkSession, table: String, path: String,
      schema: StructType, csv: Boolean): FanoutSink = {
    val options =
      if (csv) Map("header" -> "true") else Map.empty[String, String]
    val job = Job.getInstance(
      spark.sessionState.newHadoopConfWithOptions(options))
    job.setOutputKeyClass(classOf[Void])
    job.setOutputValueClass(classOf[InternalRow])
    FileOutputFormat.setOutputPath(job, new Path(path))
    val format = if (csv) new CSVFileFormat else new ParquetFileFormat
    FanoutSink(table, path, schema,
      format.prepareWrite(spark, job, options, schema),
      new SerializableConfiguration(job.getConfiguration))
  }

  /** One write task: each row goes to the writer of its (table, leaf),
    * opened at the leaf's first row, under the attempt's staging dir.
    * Returns the staged files once every writer closed. Rows are
    * (table key, year, month, day, then sink i's struct at ordinal 4 + i),
    * the layout [[Lake.writeTables]] selects. */
  def writeTask(job: String, sinks: Array[FanoutSink])(part: Int,
      rows: Iterator[InternalRow]): Iterator[StagedFile] = {
    val task = TaskContext.get()
    val attempt = new TaskAttemptID(new TaskID(new JobID(job, task.stageId()),
      TaskType.MAP, part), task.attemptNumber())
    val staging = s"_temporary/$job/$part-${task.taskAttemptId()}"
    val keys = new java.util.HashMap[UTF8String, Integer]
    sinks.indices.foreach(i => keys.put(UTF8String.fromString(sinks(i).table), i))
    val contexts = new Array[TaskAttemptContext](sinks.length)
    val open = scala.collection.mutable.LinkedHashMap
      .empty[(Int, Seq[Any]), (OutputWriter, StagedFile)]
    def openWriter(i: Int, values: Seq[Any]): (OutputWriter, StagedFile) = {
      val s = sinks(i)
      if (contexts(i) == null)
        contexts(i) = new TaskAttemptContextImpl(s.conf.value, attempt)
      val leaf = Lake.partitionCols.zip(values).map { case (c, v) =>
        ExternalCatalogUtils.getPartitionPathString(c,
          if (v == null) null else v.toString)
      }.mkString("/")
      val name = f"part-$part%05d-$job.c000" +
        s.factory.getFileExtension(contexts(i))
      val staged = new Path(s.path, s"$staging/$leaf/$name").toString
      (s.factory.newInstance(staged, s.schema, contexts(i)),
        StagedFile(i, leaf, staged, name))
    }
    try {
      rows.foreach { row =>
        val key = keys.get(row.getUTF8String(0))
        require(key != null, s"lake write: row for table '${row.getUTF8String(0)}' " +
          s"outside the targets [${sinks.map(_.table).mkString(",")}]")
        val i = key.intValue
        val values = Lake.partitionCols.indices.map(j =>
          if (row.isNullAt(j + 1)) null else row.getInt(j + 1))
        open.getOrElseUpdate((i, values), openWriter(i, values))
          ._1.write(row.getStruct(4 + i, sinks(i).schema.length))
      }
      open.values.foreach(_._1.close())
      open.values.map(_._2).toList.iterator
    } catch {
      case e: Throwable =>
        // staged files of a failed attempt are swept with the job's staging
        open.values.foreach(w =>
          try w._1.close() catch { case scala.util.control.NonFatal(_) => () })
        throw e
    }
  }
}
