package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types._

/** Structured Streaming operators over the events table.
  *
  * The reference has no streaming surface (scheduled batch only, SURVEY.md
  * §2.8); these are the north-star extensions expressed the Spark way:
  * readStream -> event-time window aggregation with a watermark ->
  * AvailableNow trigger, and arbitrary stateful sessionization via
  * flatMapGroupsWithState. The same code incrementalizes on a real stream;
  * here the parquet file drives it to completion synchronously.
  */
object StreamingOps {

  /** Streaming file sources need an explicit schema (no inference), but
    * the test lake has shipped events.ts in two physical encodings (see
    * [[graft.Tables]]) — so the schema is picked per-source from a
    * one-time batch footer probe: annotated timestamp -> TimestampType
    * with `unix_micros(ts)` event time; plain INT64 nanoseconds ->
    * LongType with `ts DIV 1000`. Both yield the same integer-micros
    * currency the batch loader exposes. The probe reads footers only
    * (no data scan) and happens once at stream-definition time on the
    * driver. */
  private def eventsStream(spark: SparkSession, sfDir: String,
      glob: String = "events.parquet"): (StructType, org.apache.spark.sql.Column) = {
    val isTimestamp = scala.util.Try(
        spark.read.option("pathGlobFilter", glob).parquet(sfDir)
          .schema("ts").dataType)
      .toOption.exists(t => t == TimestampType || t == TimestampNTZType)
    val (tsField, micros) =
      if (isTimestamp)
        (StructField("ts", TimestampType), unix_micros(col("ts")))
      else (StructField("ts", LongType), expr("ts DIV 1000"))
    (StructType(Seq(
      StructField("event_id", LongType), tsField,
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType))),
      micros)
  }

  /** Hourly tumbling-window counts + exact value sums per event type.
    * Event time = ts (ns) truncated to microseconds; the output carries the
    * window start as epoch seconds (exact integer — cross-engine safe).
    *
    * `watermarked = true` runs the production shape — append mode with a
    * 1-hour watermark, so state stays bounded and late data is handled.
    * On a finite source it emits the FINALIZED prefix: after the data
    * batch advances the watermark to (max event time − 1 h), the runner's
    * watermark-change batch evicts every window ending at or before it —
    * the trailing hour's windows stay open forever by design. That prefix
    * is deterministic and q81 oracle-checks it (the q33 aggregation
    * restricted to closed windows). `false` (default) uses complete mode
    * so the result equals the whole batch aggregation (q33's oracle). */
  def hourlyCounts(spark: SparkSession, sfDir: String,
      watermarked: Boolean = false, sinkDir: Option[String] = None): DataFrame = {
    require(sinkDir.isEmpty || watermarked,
      "file sink runs in append mode and therefore requires the watermark")
    val name = "hourly_counts_" + java.util.UUID.randomUUID.toString.replace("-", "")
    // A streaming aggregation allocates one state-store per shuffle
    // partition; at this state size (a few thousand windows) 32 stores are
    // pure fixed overhead, so the stream runs with a handful. The override
    // lives in a CLONED session (same SparkContext/executors, isolated
    // SQL conf), so concurrent queries on the caller's session never see
    // it — mutating the shared conf raced them. On a real cluster this
    // knob scales with state volume, not with cores.
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "4")
    locally {
      // The streaming file source requires a directory: point it at the SF
      // dir and glob-filter to the events file.
      val (schema, tsMicros) = eventsStream(ss, sfDir)
      val stream = ss.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sfDir)
      val agg = hourlyAgg(stream, tsMicros, watermarked)
      val q = sinkDir match {
        // production shape: watermarked append straight to a parquet sink —
        // results never pass through the driver
        case Some(dir) =>
          agg.writeStream.outputMode(OutputMode.Append)
            .format("parquet").option("path", dir)
            .option("checkpointLocation", s"$dir-checkpoint")
            .trigger(Trigger.AvailableNow()).start()
        // oracle twin: complete mode to an in-memory table so the finite
        // source's full aggregation is comparable against DuckDB
        case None =>
          agg.writeStream
            .outputMode(if (watermarked) OutputMode.Append else OutputMode.Complete)
            .format("memory").queryName(name)
            .trigger(Trigger.AvailableNow()).start()
      }
      q.awaitTermination()
      sinkDir match {
        // read back through the CALLER's session (plain batch reads), so
        // the returned frame carries the caller's conf, not the clone's
        case Some(dir) =>
          spark.read.parquet(dir).orderBy("hour_start", "event_type")
        // the memory sink registers its table in the session that started
        // the stream — the clone
        case None => ss.table(name).orderBy("hour_start", "event_type")
      }
    }
  }

  /** The one hourly aggregation both twins run: tumbling 1-hour windows
    * per event type, decimal-exact sums surfaced as double. */
  private def hourlyAgg(stream: DataFrame,
      tsMicros: org.apache.spark.sql.Column,
      watermarked: Boolean): DataFrame = {
    val timed = stream
      .withColumn("event_time", timestamp_micros(tsMicros))
    (if (watermarked) timed.withWatermark("event_time", "1 hour") else timed)
      .groupBy(window(col("event_time"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(25, 6))).cast(DoubleType)
          .as("sum_value"))
      .select(col("window.start").cast(LongType).as("hour_start"),
        col("event_type"), col("n_events"), col("sum_value"))
  }

  private val docsSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Streaming exact dedup: the incremental form of
    * [[graft.ops.Dedup.exact]]. The dedup registry — one (content hash ->
    * canonical min doc id, copy count) entry per distinct document — IS
    * the streaming aggregation state, maintained incrementally across
    * micro-batches by min/count merges; an ingest stream consults/extends
    * it batch by batch instead of re-scanning the corpus. State size is
    * one row per DISTINCT document (the hash, not the body), partitioned
    * across the state stores by the shuffle — no single store holds the
    * registry. On a finite source the result equals the batch operator
    * exactly (min and count are order-insensitive), which is what the
    * DuckDB oracle checks; `dropDuplicates` gives the row-level streaming
    * variant but keeps an ARRIVAL-ORDER-dependent survivor, so the
    * deterministic registry is the oracle-able shape.
    *
    * DEPLOYMENT NOTE: Complete mode + the memory sink below are the
    * finite-source TEST/ORACLE harness only — Complete re-emits the whole
    * registry per trigger and the memory sink materializes it on the driver.
    * A production deployment keeps the same aggregation but switches to
    * OutputMode.Update into a keyed sink (or foreachBatch MERGE into the
    * lake), so each trigger ships only changed registry rows and the
    * driver never holds the state; the state itself already lives
    * partitioned across the executors' state stores in both shapes. */
  /** Streaming histogram-quantile sketch: the equi-width register table
    * ([[graft.ops.Sketches.histRegisters]] — the SAME operator, applied
    * to a streaming relation) IS the streaming aggregation state: at most
    * maxBins rows per group, maintained incrementally by count merges
    * across micro-batches, so an ingest stream keeps live per-language
    * length percentiles without ever re-scanning the corpus. The quantile
    * fold runs as a batch query over the finished register table. On a
    * finite source the result equals the batch q142 sketch exactly
    * (counts are order-insensitive) — the DuckDB oracle checks that.
    * Same Complete-mode/memory-sink caveat as [[streamingDedup]]: the
    * production shape is Update mode into a keyed sink. */
  def streamingHistSketch(spark: SparkSession, sfDir: String): DataFrame = {
    val name = "stream_hist_" + java.util.UUID.randomUUID.toString.replace("-", "")
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "4")
    val stream = ss.readStream.schema(docsSchema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(sfDir)
    graft.ops.Sketches.histRegisters(stream, col("lang"), col("n_chars"),
        binWidth = 16L)
      .writeStream.outputMode(OutputMode.Complete)
      .format("memory").queryName(name)
      .trigger(Trigger.AvailableNow()).start()
      .awaitTermination()
    graft.ops.Sketches.histQuantiles(ss.table(name), binWidth = 16L)
      .withColumnRenamed("grp", "lang").orderBy("lang")
  }

  /** Streaming Count-Min sketch: the depth × width register table
    * ([[graft.ops.Sketches.cmsRegisters]] on the stream — including its
    * row-local explode fan-out) as streaming aggregation state, giving
    * live frequency estimates over an ingest stream with bounded state.
    * Probes run as a batch query over the finished registers; equals the
    * batch q144 estimates on a finite source. */
  def streamingCmsSketch(spark: SparkSession, sfDir: String): DataFrame = {
    val name = "stream_cms_" + java.util.UUID.randomUUID.toString.replace("-", "")
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "4")
    // encoding-adaptive events schema (ts has shipped as both raw int64
    // and timestamp[us]); only user_id is read here, but the declared
    // schema must match the files
    val (schema, _) = eventsStream(ss, sfDir)
    val stream = ss.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(sfDir)
    graft.ops.Sketches.cmsRegisters(stream, col("user_id"))
      .writeStream.outputMode(OutputMode.Complete)
      .format("memory").queryName(name)
      .trigger(Trigger.AvailableNow()).start()
      .awaitTermination()
    val probes = ss.read.parquet(s"$sfDir/events.parquet")
      .select(col("user_id").as("probe")).filter(col("probe") < 20).distinct()
    graft.ops.Sketches.cmsEstimate(ss.table(name), probes)
      .withColumnRenamed("probe", "user_id").orderBy("user_id")
  }

  def streamingDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val name = "stream_dedup_" + java.util.UUID.randomUUID.toString.replace("-", "")
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "4")
    val stream = ss.readStream.schema(docsSchema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(sfDir)
    stream.groupBy(md5(col("text")).as("text_hash"))
      .agg(min(col("doc_id")).as("canonical_id"),
        count(lit(1)).as("n_copies"))
      .writeStream.outputMode(OutputMode.Complete)
      .format("memory").queryName(name)
      .trigger(Trigger.AvailableNow()).start()
      .awaitTermination()
    ss.table(name).orderBy("canonical_id")
  }

  /** Streaming near-dup ADMISSION: each micro-batch of incoming documents
    * probes the corpus's stored LSH index ([[graft.ops.Dedup.corpusBandIndex]])
    * through a STREAM-STATIC join and emits (corpus doc, incoming doc)
    * candidate pairs — the q48 incremental-dedup chain running at ingest
    * time. The streaming side computes its signatures ROW-LOCALLY
    * ([[graft.ops.Dedup.bandRowsLocal]] — array_min over the row's own
    * shingle hashes), because a streaming groupBy could not precede the
    * join; the static side is the precomputed capped bucket index. A
    * stateful dropDuplicates collapses pairs that share several bands.
    * On a finite source the emitted set equals the batch candidate set
    * (oracle-checked); on a real stream the same plan admits each batch
    * incrementally against a corpus it never re-scans. */
  def streamAdmission(spark: SparkSession, sfDir: String): DataFrame = {
    val name = "stream_admission_" + java.util.UUID.randomUUID.toString.replace("-", "")
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "4")
    val corpus = ss.read.schema(docsSchema)
      .parquet(s"$sfDir/documents.parquet")
      .filter(col("doc_id") % 10 =!= 0)
      .select(col("doc_id"), col("text"))
    val index = graft.ops.Dedup.corpusBandIndex(corpus)
    val fresh = ss.readStream.schema(docsSchema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(sfDir)
      .filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"), col("text"))
    graft.ops.Dedup.bandRowsLocal(fresh)
      .withColumnRenamed("doc_id", "doc_b")
      .join(index, Seq("band", "key"))
      .select(explode(col("ids")).as("doc_a"), col("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName(name)
      .trigger(Trigger.AvailableNow()).start()
      .awaitTermination()
    ss.table(name).orderBy("doc_a", "doc_b")
  }

  /** Streaming CDC materialization: a change stream (here: the event log
    * read as per-user upserts, with 'error' events playing delete
    * tombstones) folds into the LATEST-value-per-key table — the
    * streaming half of [[graft.ops.Cdc.applyChanges]], i.e. a
    * continuously-maintained MERGE target. The state is ONE struct per
    * key (the running lexicographic max of (ts, tiebreak, payload)), so
    * a streaming aggregation — not arbitrary stateful ops — carries it:
    * bounded by key cardinality, mergeable across micro-batches, and
    * order-insensitive, which is what makes the finite-source result
    * equal the batch latest-per-key query (the oracle). Tombstoned keys
    * are filtered AFTER the aggregation: a key deleted in batch 3 must
    * still occupy state in case batch 4 re-inserts it. */
  def streamLatestValue(spark: SparkSession, sfDir: String,
      glob: String = "events.parquet",
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val name = "stream_latest_" + java.util.UUID.randomUUID.toString.replace("-", "")
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "4")
    val (schema, tsMicros) = eventsStream(ss, sfDir, glob)
    val reader = ss.readStream.schema(schema)
      .option("pathGlobFilter", glob)
    maxFilesPerTrigger.foreach(n =>
      reader.option("maxFilesPerTrigger", n.toString))
    val stream = reader.parquet(sfDir)
    stream
      .select(col("user_id"), tsMicros.as("ts_us"), col("event_id"),
        col("event_type"), col("value"))
      .groupBy(col("user_id"))
      .agg(max(struct(col("ts_us"), col("event_id"), col("event_type"),
        col("value"))).as("m"))
      .writeStream.outputMode(OutputMode.Complete)
      .format("memory").queryName(name)
      .trigger(Trigger.AvailableNow()).start()
      .awaitTermination()
    ss.table(name)
      .filter(col("m.event_type") =!= "error")
      .select(col("user_id"), col("m.ts_us").as("ts_us"),
        col("m.event_type").as("last_type"), col("m.value").as("last_value"))
      .orderBy("user_id")
  }

  /** Streaming ingest INTO the manifest lake: the stream lands parquet
    * through the file sink, then the batch-side commit protocol ADOPTS
    * the new files and records their column stats — so a streaming
    * pipeline feeds the same stats-pruned, time-travelable table the
    * batch writers use. (The file sink's own `_spark_metadata` log stays
    * authoritative for exactly-once within the stream; adoption folds
    * its output into the manifest world without rewriting a byte.)
    * Returns the manifest-resolved table. */
  def streamIngestManifest(spark: SparkSession, sfDir: String,
      tableDir: String): DataFrame = {
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "4")
    val (schema, tsMicros) = eventsStream(ss, sfDir)
    ss.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(sfDir)
      .select(col("event_id"), tsMicros.as("ts_us"), col("user_id"),
        col("event_type"), col("value"))
      .writeStream.outputMode(OutputMode.Append)
      .format("parquet").option("path", tableDir)
      .option("checkpointLocation", s"$tableDir-checkpoint")
      .trigger(Trigger.AvailableNow()).start()
      .awaitTermination()
    val dir = new org.apache.hadoop.fs.Path(tableDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.lake.ManifestCommit.adoptNewFiles(fs, dir)
    graft.lake.ManifestCommit.recordStats(spark, dir,
      Seq("event_id", "user_id"))
    graft.lake.GraftFileIndex.table(spark, tableDir)
  }

  /** EXACTLY-ONCE streaming sink into the manifest lake WITHOUT the
    * file sink's `_spark_metadata` log — the public Delta `txn`-action
    * idea re-derived over [[graft.lake.ManifestCommit]]: each
    * micro-batch lands uniquely-named `compact-txn-*` parquet files and
    * commits them together with a `T <appId> <batchId>` writer
    * watermark in ONE atomic manifest, so the data and the "this batch
    * is done" marker can never disagree. A re-delivered batch (restart,
    * retry, or a full checkpoint loss) finds its version at or below
    * the committed watermark and `appendFiles` NO-OPs — rows cannot
    * double-land. A crash between the file landing and the commit
    * leaves only unreferenced `compact-*` orphans for [[ManifestCommit
    * .gc]]; the retry lands fresh names and commits once.
    *
    * The op PROVES the contract in-line: after the first AvailableNow
    * pass it runs the ENTIRE stream a second time against a FRESH
    * checkpoint (the total-loss scenario — every batch re-delivers from
    * 0) and returns the manifest table, which the oracle requires to
    * equal the source exactly — any duplicate would hash-mismatch. */
  /** Exactly-once LAKE-TO-LAKE CDC replication: tail the source table's
    * commit log through the DSv2 feed source (one source commit per
    * micro-batch via `maxCommitsPerBatch=1`), and apply each batch's
    * insert/delete change rows to the target through ONE atomic
    * merge-on-read commit
    * ([[graft.lake.ManifestCommit.applyChangesDV]]) keyed by the
    * micro-batch id as the transaction watermark. The production CDC
    * consumer shape end-to-end: work per batch ∝ change volume on BOTH
    * sides (the feed plans only delta files; the apply writes
    * O(changed rows) — positions sidecar + insert files), the target
    * never rescans, and exactly-once needs NO sink-side log — the
    * target manifest is the only ledger, which this op PROVES by
    * replaying the entire stream against a fresh checkpoint (total
    * checkpoint loss) and requiring the table unchanged. Initial sync =
    * the source snapshot at `fromV`, range-clustered on the key.
    * Returns the replicated target relation. */
  def streamReplicate(spark: SparkSession, srcPath: String,
      dstPath: String, fromV: Long, keyCol: String,
      appId: String): DataFrame = {
    import graft.lake.ManifestCommit
    val dst = new org.apache.hadoop.fs.Path(dstPath)
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // initial sync once per target (the fixture may be re-entered)
    if (!fs.exists(dst)) {
      graft.ops.Layout.writeLinear(
        ManifestCommit.readTableAt(spark, srcPath, fromV), col(keyCol),
        dstPath, 8)
      ManifestCommit.bootstrap(fs, dst)
      ManifestCommit.recordStats(spark, dst, Seq(keyCol))
      // recorded schema: every per-batch applyChangesDV guard on the
      // replica is one manifest GET, zero footer reads
      ManifestCommit.recordSchema(spark, dst)
    }
    def applyBatch(b: DataFrame, batchId: Long): Unit = {
      val dataCols = b.columns
        .filter(c => c != "_change_type" && c != "_commit_version").toSeq
      ManifestCommit.applyChangesDV(spark, dst, keyCol,
        inserts = b.filter(col("_change_type") === "insert")
          .select(dataCols.map(col): _*),
        deleteKeys = b.filter(col("_change_type") === "delete")
          .select(col(keyCol)),
        statsCols = Seq(keyCol), txn = Some((appId, batchId)))
      ()
    }
    def runOnce(checkpoint: String): Unit = {
      val ss = spark.newSession()
      ss.conf.set("spark.sql.shuffle.partitions", "4")
      ss.readStream.format("graft.sources.FeedSource")
        .option("path", srcPath)
        .option("fromVersion", fromV.toString)
        .option("maxCommitsPerBatch", "1")
        .load()
        .writeStream.outputMode(OutputMode.Append)
        .foreachBatch(applyBatch _)
        .option("checkpointLocation", checkpoint)
        .trigger(Trigger.AvailableNow()).start()
        .awaitTermination()
    }
    runOnce(s"$dstPath-checkpoint")
    // total checkpoint loss: every batch re-delivers from fromV against
    // the LIVE target; the manifest txn watermark alone must suppress
    // every one of them (a double-apply would duplicate rows or lose
    // resurrected deletes — either hash-mismatches the oracle)
    runOnce(s"$dstPath-checkpoint-replay")
    graft.lake.GraftFileIndex.table(spark, dstPath)
  }

  def streamIngestTxn(spark: SparkSession, sfDir: String,
      tableDir: String, appId: String): DataFrame = {
    import graft.lake.ManifestCommit
    val dir = new org.apache.hadoop.fs.Path(tableDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def commitBatch(b: org.apache.spark.sql.DataFrame,
        batchId: Long): Unit = {
      if (ManifestCommit.lastTxnVersion(fs, dir, appId).exists(_ >= batchId))
        return // replayed batch: already durable, nothing to do
      val runId = java.util.UUID.randomUUID().toString.take(8)
      val staged = new org.apache.hadoop.fs.Path(dir, s"._txn-$runId")
      b.write.parquet(staged.toString)
      val names = fs.listStatus(staged).toIndexedSeq
        .filter(st => !st.isDirectory &&
          st.getPath.getName.endsWith(".parquet"))
        .zipWithIndex.map { case (st, i) =>
          val n = s"compact-txn-$appId-$batchId-$runId-part$i.parquet"
          require(fs.rename(st.getPath,
            new org.apache.hadoop.fs.Path(dir, n)), s"cannot land $n")
          n
        }
      fs.delete(staged, true)
      ManifestCommit.appendFiles(fs, dir, names,
        txn = Some((appId, batchId)))
    }
    def runOnce(checkpoint: String): Unit = {
      val ss = spark.newSession()
      ss.conf.set("spark.sql.shuffle.partitions", "4")
      val (schema, tsMicros) = eventsStream(ss, sfDir)
      ss.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .option("maxFilesPerTrigger", "1")
        .parquet(sfDir)
        .select(col("event_id"), tsMicros.as("ts_us"), col("user_id"),
          col("event_type"), col("value"))
        .writeStream.outputMode(OutputMode.Append)
        .foreachBatch(commitBatch _)
        .option("checkpointLocation", checkpoint)
        .trigger(Trigger.AvailableNow()).start()
        .awaitTermination()
    }
    runOnce(s"$tableDir-checkpoint")
    // total checkpoint loss: every batch re-delivers from 0 against the
    // LIVE table; the manifest watermark alone must suppress them all
    runOnce(s"$tableDir-checkpoint-replay")
    graft.lake.GraftFileIndex.table(spark, tableDir)
  }

  /** Streaming BPE token counting: the tokenizer trains ONCE on the
    * static corpus (batch side — [[graft.ops.Bpe.train]]), its merge
    * table LITERALIZES into a row-local expression chain
    * ([[graft.ops.Bpe.tokenCountExpr]] — nested replaces, no join, no
    * state), and the stream of documents is counted at ingest time in
    * pure Append mode: no aggregation anywhere, so the plan is
    * stream-legal by construction. The q106 pattern (literal index
    * state makes a batch-trained model streamable) applied to the
    * tokenizer; counts equal the batch q125 values row-for-row. On a
    * real stream this is the ingest-time token metering every budgeted
    * pipeline wants — arriving documents carry their token cost before
    * any admission decision. */
  def streamBpeCounts(spark: SparkSession, sfDir: String): DataFrame = {
    val name = "stream_bpe_" + java.util.UUID.randomUUID.toString.replace("-", "")
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "4")
    val corpus = ss.read.schema(docsSchema)
      .parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val merges = graft.ops.TextKit.withCacheScope(graft.ops.Bpe.train(corpus)._1)
    val words = filter(split(col("text"), " "), w => w =!= lit(""))
    ss.readStream.schema(docsSchema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(sfDir)
      .select(col("doc_id"),
        aggregate(transform(words, w => length(w).cast("long")),
          lit(0L), (a, x) => a + x).as("n_chars"),
        size(words).cast("long").as("n_words"),
        graft.ops.Bpe.tokenCountExpr(col("text"), merges).as("bpe_tokens"))
      .select(col("doc_id"), col("n_words"), col("bpe_tokens"),
        col("n_chars"),
        expr("bpe_tokens * 1000 div n_chars").as("ratio_permille"))
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName(name)
      .trigger(Trigger.AvailableNow()).start()
      .awaitTermination()
    ss.table(name).orderBy("doc_id")
  }

  /** Stream-stream interval join — the attribution shape: every click
    * paired with the same user's views from the preceding 24 hours,
    * both sides live streams. This is the one streaming join class that
    * needs BOTH sides' state stores: each side buffers rows keyed by
    * user until the other side's watermark passes the interval bound,
    * so state is bounded by (watermark span x arrival rate), not by the
    * stream length — the 100 TB/day shape. The equi-key (user_id) is
    * the shuffle key; the time-range predicate is evaluated within the
    * matched key group and, with the watermarks below, lets Spark evict
    * click state after 1 h + 24 h and view state after 25 h of event
    * time.
    *
    * On the finite test source the file arrives as one AvailableNow
    * batch, every match is emitted before any eviction, and the result
    * equals the batch interval join — which is what the DuckDB oracle
    * (q131) checks. */
  def streamClickAttribution(spark: SparkSession, sfDir: String,
      glob: String = "events.parquet",
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val name = "stream_join_" + java.util.UUID.randomUUID.toString.replace("-", "")
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "4")
    val (schema, tsMicros) = eventsStream(ss, sfDir, glob)
    def src() = {
      val r = ss.readStream.schema(schema).option("pathGlobFilter", glob)
      maxFilesPerTrigger.foreach(n => r.option("maxFilesPerTrigger", n))
      r.parquet(sfDir)
    }
    val clicks = src().filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        timestamp_micros(tsMicros).as("click_time"))
      .withWatermark("click_time", "1 hour")
    val views = src().filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id").as("v_user"),
        timestamp_micros(tsMicros).as("view_time"))
      // a view can still match clicks arriving up to 24 h later, so its
      // state must outlive the click watermark by the interval width
      .withWatermark("view_time", "25 hours")
    clicks.join(views,
        col("user_id") === col("v_user") &&
        col("view_time") >= col("click_time") - expr("INTERVAL 24 HOURS") &&
        col("view_time") <= col("click_time"))
      .select(col("click_id"), col("view_id"),
        (unix_micros(col("click_time")) - unix_micros(col("view_time")))
          .as("gap_us"))
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName(name)
      .trigger(Trigger.AvailableNow()).start()
      .awaitTermination()
    ss.table(name).orderBy("click_id", "view_id")
  }

  private val embSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  /** Streaming semantic admission: the embedding-space sibling of
    * [[streamAdmission]]. The static side is the ingested corpus's
    * sign-bucket LSH index (pre-quantized vectors keyed by
    * [[graft.ops.Similarity.signBucket]]); the stream side computes its
    * bucket and quantization ROW-LOCALLY (pure per-row expressions —
    * legal on a stream, no pre-join groupBy needed), and admission is a
    * stream-static equi-join on bucket plus the exact integer cosine
    * test. Emits one (corpus vec_a, fresh vec_b, cosine) row per
    * near-dup hit; a batch's work is proportional to the batch, and the
    * corpus index is never re-derived. On a finite source the emitted
    * set equals the batch LSH near-dup set (oracle-checked). */
  def streamSemanticAdmission(spark: SparkSession, sfDir: String,
      tau: Double = 0.4, bits: Int = 6): DataFrame = {
    import graft.ops.{Similarity, TextKit}
    val name = "stream_sem_" + java.util.UUID.randomUUID.toString.replace("-", "")
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "4")
    def quantNorm(df: DataFrame): DataFrame =
      df.select(col("vec_id"),
        TextKit.quantVec(col("embedding")).as("qv"),
        Similarity.signBucket(col("embedding"), bits).as("bucket"))
        .withColumn("nsq", TextKit.dotPre(col("qv"), col("qv")))
    val corpus = quantNorm(ss.read.schema(embSchema)
        .parquet(s"$sfDir/embeddings.parquet")
        .filter(col("vec_id") % 10 =!= 0))
      .select(col("bucket"), col("vec_id").as("vec_a"),
        col("qv").as("qa"), col("nsq").as("na"))
    val fresh = quantNorm(ss.readStream.schema(embSchema)
        .option("pathGlobFilter", "embeddings.parquet")
        .parquet(sfDir)
        .filter(col("vec_id") % 10 === 0))
      .select(col("bucket"), col("vec_id").as("vec_b"),
        col("qv").as("qb"), col("nsq").as("nb"))
    fresh.join(corpus, Seq("bucket"))
      .select(col("vec_a"), col("vec_b"),
        TextKit.cosineQ(TextKit.dotPre(col("qa"), col("qb")),
          col("na"), col("nb")).as("cosine"))
      .filter(col("cosine") >= tau)
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName(name)
      .trigger(Trigger.AvailableNow()).start()
      .awaitTermination()
    ss.table(name).orderBy("vec_a", "vec_b")
  }

  /** Streaming ANN admission against a PREBUILT IVF-PQ index — the
    * continuous form of [[graft.ops.Similarity.searchIvfPqWith]]: the
    * 90% corpus is indexed ONCE in batch (coarse centroids, residual
    * codebook, 8-byte codes); the fresh 10% then arrives as a STREAM
    * and each vector is scored against the compressed index with work
    * proportional to the batch. Emits every (query, corpus candidate)
    * pair from the query's `nprobe` nearest cells whose integer ADC
    * distance is <= `maxAdc` — the admission gate a continuous ingest
    * pipeline runs ("is this new document near anything we already
    * hold?") without ever re-scanning or re-encoding the corpus.
    *
    * Stream legality is the design constraint and the point: a
    * streaming DataFrame cannot aggregate before a join, so the probe
    * and ADC stages — groupBys in the batch path — are re-expressed as
    * PURE ROW-LOCAL expressions over the index's tiny driver-side
    * state, embedded as literals (exactly the state a production
    * executor would hold broadcast):
    *  - cell probes: an array_sort over an 8-entry literal
    *    (dist, cid) struct array, sliced to nprobe and exploded;
    *  - the query residual: zip_with against the literal centroid
    *    matrix indexed by the probed cell;
    *  - ADC: per subspace, element_at into the literal codebook (the
    *    candidate's stored code picks the entry) + an exact integer
    *    zip_with/aggregate dot — no per-query distance TABLE needed.
    * The only shuffle is the stream-static equi-join on cell id against
    * the encoded corpus. All arithmetic mirrors the batch path's
    * integers exactly, so on a finite source the emitted set equals the
    * batch scored-candidate set under the same threshold
    * (oracle-checked, q106). */
  def streamIvfPqAdmission(spark: SparkSession, sfDir: String,
      maxAdc: Long, nprobe: Int = 2): DataFrame = {
    import graft.ops.{Similarity, TextKit}
    val name = "stream_ivfpq_" + java.util.UUID.randomUUID.toString.replace("-", "")
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "4")
    val ix = Similarity.buildIvfPq(ss.read.schema(embSchema)
      .parquet(s"$sfDir/embeddings.parquet")
      .filter(col("vec_id") % 10 =!= 0))
    val m = ix.m; val cps = ix.codesPerSub
    // the index's driver-side state (centroids k x dim, residual
    // codebook m*cps x subDim — a few KB, the broadcast a real executor
    // holds) comes from the index's memoized arrays: buildIvfPq seeds
    // them in-hand, so no collect jobs run here. Positional cell
    // indexing is by construction (kmeansCentroids returns the dense
    // 0..k-1 centroid vector).
    val cents = ix.centsArr
    val cb = ix.cbArr
    // Every stage below is a PURE ROW-LOCAL projection over literal
    // training state — stream-legal — and reuses the BATCH search path's
    // expressions (distStructs/residualExpr/adcTables/adcExpr), so the
    // arithmetic is the codegen'd LongArrayDot form instead of
    // interpreted per-candidate zip_with/aggregate lambdas: the
    // per-candidate ADC is m integer table lookups, with the m x cps
    // distance table computed once per (query, probed cell) row.
    // Identical integer math and (dist, cid) tie-breaks (spec-pinned on
    // the batch twin; associative exact long sums).
    val fresh = ss.readStream.schema(embSchema)
      .option("pathGlobFilter", "embeddings.parquet")
      .parquet(sfDir)
      .filter(col("vec_id") % 10 === 0)
      .select(col("vec_id").as("query_id"),
        TextKit.quantVec(col("embedding")).as("qqv"))
      .withColumn("qnsq", TextKit.dotPre(col("qqv"), col("qqv")))
    // nprobe nearest cells, row-locally: literal centroid distances
    val probes = fresh
      .select(col("query_id"), col("qqv"),
        explode(slice(sort_array(array(
          Similarity.distStructs(col("qqv"), col("qnsq"), cents): _*)),
          1, nprobe)).as("dc"))
      .select(col("query_id"), col("dc.cid").as("cell"),
        Similarity.residualExpr(col("qqv"), col("dc.cid"), cents).as("qrv"))
    // per-(query, probed cell) ADC table over the literal codebook, then
    // the stream-static equi-join on cell; ADC per candidate = m lookups
    val qtab = Similarity.adcTables(probes, "qrv", Seq("query_id", "cell"),
      cb, m, ix.subDim, cps)
    qtab.join(ix.encoded, Seq("cell"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        Similarity.adcExpr(m, cps).as("adc"))
      .filter(col("adc") <= maxAdc)
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName(name)
      .trigger(Trigger.AvailableNow()).start()
      .awaitTermination()
    ss.table(name).orderBy("query_id", "neighbor_id")
  }

  final case class Event(event_id: Long, ts: Long, user_id: Long,
      event_type: String, value: Double)
  final case class SessionState(start: Long, last: Long, n: Long)
  final case class Session(user_id: Long, start_us: Long, end_us: Long,
      n_events: Long)

  private def eventsTyped(spark: SparkSession, sfDir: String) = {
    import spark.implicits._
    graft.Tables(spark, sfDir, "events")
      .select(col("event_id"), expr("ts DIV 1000").as("ts"), col("user_id"),
        col("event_type"), col("value"))
      .as[Event]
  }

  /** Gap sessionization, bounded-memory batch shape: shuffle by user, sort
    * WITHIN partitions by (user, ts, id) — one Exchange + local sort, the
    * same cost any per-user computation pays — then a single forward pass
    * per partition emits a session whenever the gap closes or the user
    * changes. Peak memory per task is ONE open session, independent of how
    * hot a user is; a million-event user streams through instead of being
    * buffered (the flatMapGroupsWithState form below materializes each
    * user's history per call, which is the 100 TB hot-key risk). */
  def sessionizeSorted(spark: SparkSession, sfDir: String,
      gapUs: Long = 3600L * 1000000): DataFrame = {
    import spark.implicits._
    eventsTyped(spark, sfDir)
      .repartition(col("user_id"))
      .sortWithinPartitions(col("user_id"), col("ts"), col("event_id"))
      .mapPartitions { rows =>
        new Iterator[Session] {
          private var open = false
          private var user = 0L
          private var st: SessionState = null
          private var pending: Session = null
          private def advance(): Unit = {
            while (pending == null && rows.hasNext) {
              val e = rows.next()
              if (!open) {
                open = true; user = e.user_id
                st = SessionState(e.ts, e.ts, 1)
              } else if (e.user_id == user && e.ts - st.last <= gapUs) {
                st = SessionState(st.start, e.ts, st.n + 1)
              } else {
                pending = Session(user, st.start, st.last, st.n)
                user = e.user_id
                st = SessionState(e.ts, e.ts, 1)
              }
            }
            if (pending == null && open && !rows.hasNext) {
              pending = Session(user, st.start, st.last, st.n)
              open = false
            }
          }
          override def hasNext: Boolean = { advance(); pending != null }
          override def next(): Session = {
            advance(); val r = pending; pending = null; r
          }
        }
      }
      .toDF("user_id", "start_us", "end_us", "n_events")
  }

  /** Sessionization with a gap timeout via flatMapGroupsWithState — the
    * custom-state extension point. In batch mode Spark runs the function
    * once per key over all rows (no timeouts fire), which is exactly the
    * deterministic gap-split below; on a stream the same code emits sessions
    * incrementally as the processing-time timeout expires. NOTE the
    * `rows.toSeq` buffers one user's full history per call — fine for
    * streaming micro-batches, a hot-key risk in batch mode at scale; the
    * batch scale path is [[sessionizeSorted]]. */
  def sessionize(spark: SparkSession, sfDir: String,
      gapUs: Long = 3600L * 1000000): DataFrame = {
    import spark.implicits._
    val ev = graft.Tables(spark, sfDir, "events")
      .select(col("event_id"), expr("ts DIV 1000").as("ts"), col("user_id"),
        col("event_type"), col("value"))
      .as[Event]
    val sessions = ev.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          val sorted = rows.toSeq.sortBy(e => (e.ts, e.event_id))
          val out = scala.collection.mutable.ArrayBuffer.empty[Session]
          var cur: Option[SessionState] = state.getOption
          sorted.foreach { e =>
            cur match {
              case Some(s) if e.ts - s.last <= gapUs =>
                cur = Some(SessionState(s.start, e.ts, s.n + 1))
              case Some(s) =>
                out += Session(user, s.start, s.last, s.n)
                cur = Some(SessionState(e.ts, e.ts, 1))
              case None =>
                cur = Some(SessionState(e.ts, e.ts, 1))
            }
          }
          cur.foreach(s => out += Session(user, s.start, s.last, s.n))
          state.remove()
          out.iterator
      }
    sessions.toDF()
  }

  /** Streaming funnel: the SAME per-user aggregation the batch funnel
    * runs — conditional min for step 1, per-step sorted timestamp lists
    * after — IS the streaming aggregation state (order-insensitive,
    * mergeable across micro-batches); the chained strictly-after
    * resolution and stage counter are row-local and run on the
    * materialized state. Equals the batch funnel on a finite source;
    * on a live stream the memory/complete sink here swaps for a
    * foreachBatch upsert of the same relation. */
  def streamFunnel(spark: SparkSession, sfDir: String,
      steps: Seq[String]): DataFrame = {
    val name = "stream_funnel_" + java.util.UUID.randomUUID.toString.replace("-", "")
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "4")
    val (schema, tsMicros) = eventsStream(ss, sfDir)
    val stream = ss.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(sfDir)
      .withColumn("ts_us_src", tsMicros)
      // typedEvents derives ts_us as `ts div 1000`; feed it nanos so the
      // batch and stream derivations agree for BOTH physical encodings
      .withColumn("ts", col("ts_us_src") * 1000L)
    graft.ops.Funnel.aggregated(
        graft.ops.Funnel.typedEvents(stream, steps), steps)
      .writeStream.outputMode(OutputMode.Complete)
      .format("memory").queryName(name)
      .trigger(Trigger.AvailableNow()).start()
      .awaitTermination()
    graft.ops.Funnel.finish(ss.table(name), steps).orderBy("user_id")
  }

  /** Sessionization through Spark's NATIVE `session_window` operator —
    * the built-in that exists for exactly this job (gap-merged
    * event-time windows with watermark-driven state eviction), used
    * instead of custom state where it fits: prefer the engine's
    * operator, drop to flatMapGroupsWithState only when semantics
    * demand it (the q34 family needs last-EVENT session ends mid-struct;
    * here the native window.end - gap recovers them exactly). Append
    * mode + 1 h watermark on a finite source emits the FINALIZED
    * sessions: every session whose last event + gap precedes the final
    * watermark (max event time - 1 h) — the q81 finalized-prefix
    * contract applied to sessions. */
  def nativeSessionWindows(spark: SparkSession, sfDir: String,
      gapUs: Long = 3600000000L): DataFrame = {
    val name = "native_session_" + java.util.UUID.randomUUID.toString.replace("-", "")
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "4")
    val gap = s"$gapUs microseconds"
    val (schema, tsMicros) = eventsStream(ss, sfDir)
    ss.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(sfDir)
      .select(col("user_id"),
        timestamp_micros(tsMicros).as("event_time"))
      .withWatermark("event_time", gap)
      .groupBy(col("user_id"), session_window(col("event_time"), gap))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("start_us"),
        // native session end = last event + gap; recover the last event
        (unix_micros(col("session_window.end")) - gapUs).as("end_us"),
        col("n_events"))
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName(name)
      .trigger(Trigger.AvailableNow()).start()
      .awaitTermination()
    ss.table(name).orderBy("user_id", "start_us")
  }

  /** Point-in-time enrichment at ingest: the purchase stream joins the
    * BATCH-built SCD-2 dimension history on (key, event-time within
    * validity interval) — a stream-static non-equi join, row-local per
    * event, so arriving facts carry the dimension attribute AS OF their
    * OWN timestamp (the feature-store correctness rule: no leakage from
    * future dimension versions). The dimension is static per run; a
    * production deployment swaps it per micro-batch via foreachBatch
    * without touching the join. */
  def streamPointInTime(spark: SparkSession, sfDir: String): DataFrame = {
    val name = "stream_pit_" + java.util.UUID.randomUUID.toString.replace("-", "")
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "4")
    // batch side: the SCD-2 history of per-user event_type state
    val dim = graft.ops.Cdc.scd2(
      graft.Tables(ss, sfDir, "events").select(col("user_id"),
        expr("ts div 1000").as("ts_us"), col("event_id"),
        col("event_type")),
      "user_id", "ts_us", "event_id", Seq("event_type"))
      .select(col("user_id").as("d_user"), col("event_type").as("state"),
        col("valid_from"), col("valid_to"))
    val (schema, tsMicros) = eventsStream(ss, sfDir)
    ss.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(sfDir)
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), tsMicros.as("ts_us"), col("user_id"))
      .join(dim,
        col("user_id") === col("d_user") &&
          col("ts_us") >= col("valid_from") &&
          (col("valid_to").isNull || col("ts_us") < col("valid_to")))
      .select(col("event_id"), col("user_id"), col("ts_us"), col("state"))
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName(name)
      .trigger(Trigger.AvailableNow()).start()
      .awaitTermination()
    ss.table(name).orderBy("event_id")
  }

  /** Streaming OHLC resample: min_by/max_by on the zero-padded
    * total-order key ARE streaming-legal aggregates (order-insensitive,
    * mergeable), so the per-(user, hour) bar state maintains itself
    * across micro-batches with no window and no custom state. Equals
    * the batch q185 on a finite source. */
  def streamOhlc(spark: SparkSession, sfDir: String): DataFrame = {
    val name = "stream_ohlc_" + java.util.UUID.randomUUID.toString.replace("-", "")
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "4")
    val (schema, tsMicros) = eventsStream(ss, sfDir)
    val key = format_string("%020d%020d", col("ts_us"), col("event_id"))
    ss.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(sfDir)
      .select(col("user_id"), tsMicros.as("ts_us"), col("event_id"),
        col("value"))
      .groupBy(col("user_id"), expr("ts_us div 3600000000").as("hour"))
      .agg(min_by(col("value"), key).as("open"),
        max(col("value")).as("high"), min(col("value")).as("low"),
        max_by(col("value"), key).as("close"),
        count(lit(1)).as("n"))
      .writeStream.outputMode(OutputMode.Complete)
      .format("memory").queryName(name)
      .trigger(Trigger.AvailableNow()).start()
      .awaitTermination()
    ss.table(name).orderBy("user_id", "hour")
  }

  /** Streaming audience bitmaps: the per-(segment, word) `bit_or`
    * register IS the streaming aggregation state — bounded at
    * segments × users/62 rows, mergeable across micro-batches (OR is
    * idempotent/commutative, so replays are harmless). The pairwise
    * overlap popcount runs on the materialized register table. Equals
    * the batch q162 on a finite source. */
  def streamBitmapSegments(spark: SparkSession, sfDir: String): DataFrame = {
    val name = "stream_bitmap_" + java.util.UUID.randomUUID.toString.replace("-", "")
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "4")
    val (schema, _) = eventsStream(ss, sfDir)
    ss.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(sfDir)
      .select(col("event_type").as("seg"),
        expr("user_id div 62").as("w"),
        expr("shiftleft(1L, cast(user_id % 62 as int))").as("bit"))
      .groupBy("seg", "w")
      .agg(expr("bit_or(bit)").as("bits"))
      .writeStream.outputMode(OutputMode.Complete)
      .format("memory").queryName(name)
      .trigger(Trigger.AvailableNow()).start()
      .awaitTermination()
    // fully re-aliased self-join: the memory-sink view resolves both
    // sides to the SAME attribute ids, so the shared-name join column
    // must be renamed apart explicitly
    val words = ss.table(name)
    val a = words.select(col("seg").as("seg_a"), col("w").as("wa"),
      col("bits").as("ba"))
    val b = words.select(col("seg").as("seg_b"), col("w").as("wb"),
      col("bits").as("bb"))
    a.join(b, col("wa") === col("wb"))
      .filter(col("seg_a") < col("seg_b"))
      .groupBy("seg_a", "seg_b")
      .agg(sum(bit_count(col("ba").bitwiseAND(col("bb"))).cast("long"))
        .as("n_common"))
      .orderBy("seg_a", "seg_b")
  }

  /** One key's SCD-2 cursor: the attribute version currently open and
    * when it opened. */
  final case class ScdState(attr: String, from: Long)
  final case class ScdRow(user_id: Long, event_type: String,
    valid_from: Long, valid_to: Long)

  /** Streaming SCD-2 maintenance: the change log folds into per-key
    * history through flatMapGroupsWithState — each attribute change
    * CLOSES the open interval (emitted downstream, pure Append) and the
    * state carries only the one open version per key. No-op updates
    * collapse exactly as in the batch [[graft.ops.Cdc.scd2]]; the open
    * (is_current) rows live in the state store, not the emitted log —
    * the standard warehouse split between the history table and the
    * current-view. In-batch ordering is restored per key by a sort of
    * that key's batch slice (bounded by per-key batch volume); ACROSS
    * batches the watermark-less contract is monotone arrival per key,
    * which the finite AvailableNow source satisfies exactly (one
    * batch), and an ingest-time stream satisfies by keyed partitioned
    * arrival. */
  def streamScd2(spark: SparkSession, sfDir: String): DataFrame = {
    val name = "stream_scd2_" + java.util.UUID.randomUUID.toString.replace("-", "")
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "4")
    import ss.implicits._
    val (schema, tsMicros) = eventsStream(ss, sfDir)
    ss.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(sfDir)
      .select(col("user_id"), tsMicros.as("ts_us"), col("event_id"),
        col("event_type"))
      .as[(Long, Long, Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[ScdState, ScdRow](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user, rows, state) =>
          val sorted = rows.toSeq.sortBy(e => (e._2, e._3))
          val out = scala.collection.mutable.ArrayBuffer.empty[ScdRow]
          var cur: Option[ScdState] = state.getOption
          sorted.foreach { case (_, ts, _, attr) =>
            cur match {
              case Some(s) if s.attr == attr => () // no-op collapses
              case Some(s) =>
                out += ScdRow(user, s.attr, s.from, ts)
                cur = Some(ScdState(attr, ts))
              case None =>
                cur = Some(ScdState(attr, ts))
            }
          }
          cur.foreach(state.update)
          out.iterator
      }
      .toDF()
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName(name)
      .trigger(Trigger.AvailableNow()).start()
      .awaitTermination()
    ss.table(name).orderBy("user_id", "valid_from")
  }

  /** Drive the [[graft.sources.FeedSource]] DSv2 micro-batch stream over
    * a manifest table's commit log from `fromVersion` to the current
    * head: offsets are commit versions, each batch plans only delta
    * files. On the finite AvailableNow run the collected rows equal the
    * batch [[graft.lake.ChangeFeed.changeFeed]] output (q196's oracle
    * gates it); on a live table the same query tails new commits
    * forever, resuming from its checkpointed version after restart. */
  def streamFeedSource(spark: SparkSession, tablePath: String,
      fromVersion: Long): DataFrame = {
    val name = "stream_feedsrc_" + java.util.UUID.randomUUID.toString.replace("-", "")
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "4")
    ss.readStream.format("graft.sources.FeedSource")
      .option("path", tablePath)
      .option("fromVersion", fromVersion.toString)
      .load()
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName(name)
      .trigger(Trigger.AvailableNow()).start()
      .awaitTermination()
    ss.table(name)
  }

  /** Stand a replica up ENTIRELY through the stream — no batch-side
    * initial sync: bootstrap mode makes the FIRST micro-batch the
    * source's committed snapshot (active deletion-vector sidecars
    * subtracted inside the readers), which lands as the replica's
    * initial load; later batches tail the log and apply as atomic
    * merge-on-read commits — a batch may span MANY commits (per-key
    * last-change netting keeps one apply equal to the per-commit
    * replay; `maxCommitsPerBatch = Some(1)` restores the per-commit
    * cadence). Exactly-once via the replica's txn
    * watermark: a replayed snapshot batch no-ops, a crash BEFORE the
    * initial load's watermark rebuilds the load from scratch (the
    * snapshot batch is a pinned version — idempotent), and the op
    * proves it by replaying the whole stream against a fresh
    * checkpoint and requiring the replica unchanged. The composition
    * a CDC consumer standing up against a 100 TB merge-on-read table
    * actually runs: no applyDvs/compact, no separate batch sync job.
    *
    * Contract: `keyCol` must be UNIQUE in the source — the increment
    * batches apply through [[graft.lake.ManifestCommit.applyChangesDV]]
    * key-replacement, exactly as in
    * [[graft.lake.ChangeFeed.replicateTable]] (whose scaladoc states
    * the same precondition). The snapshot batch itself (pure inserts)
    * does not impose it. */
  def streamReplicateBootstrap(spark: SparkSession, srcPath: String,
      dstPath: String, keyCol: String, appId: String,
      maxCommitsPerBatch: Option[Long] = None): DataFrame = {
    import graft.lake.ManifestCommit
    val dst = new org.apache.hadoop.fs.Path(dstPath)
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def applyBatch(b: DataFrame, batchId: Long): Unit = {
      val dataCols = b.columns
        .filter(c => c != "_change_type" && c != "_commit_version").toSeq
      val mark = if (fs.exists(dst))
        ManifestCommit.lastTxnVersion(fs, dst, appId) else None
      if (mark.exists(_ >= batchId)) return // replayed: already durable
      if (mark.isEmpty) {
        // initial load (or a half-applied one from a crash: rebuild —
        // the bootstrap batch replays the SAME pinned snapshot version)
        if (fs.exists(dst)) fs.delete(dst, true)
        graft.ops.Layout.writeLinear(
          b.filter(col("_change_type") === "insert")
            .select(dataCols.map(col): _*), col(keyCol), dstPath, 8)
        ManifestCommit.bootstrap(fs, dst)
        ManifestCommit.recordStats(spark, dst, Seq(keyCol))
        ManifestCommit.recordSchema(spark, dst)
        ManifestCommit.appendFiles(fs, dst, Nil, txn = Some((appId, batchId)))
      } else {
        // key-replacement netting: the key's LAST change wins (an
        // upsert's same-version insert beats its delete), so a batch
        // spanning MANY commits lands as ONE applyChangesDV with the
        // per-commit replay's exact result — replicateTable's algebra
        val ord = struct(col(graft.sources.FeedSource.VersionCol),
          when(col(graft.sources.FeedSource.ChangeTypeCol) === "insert",
            lit(1)).otherwise(lit(0)).as("ins"))
        val last = b.groupBy(col(keyCol))
          .agg(max_by(struct(b.columns.map(col): _*), ord).as("last"))
          .select(col("last.*"))
        ManifestCommit.applyChangesDV(spark, dst, keyCol,
          inserts = last.filter(col("_change_type") === "insert")
            .select(dataCols.map(col): _*),
          deleteKeys = last.filter(col("_change_type") === "delete")
            .select(col(keyCol)),
          statsCols = Seq(keyCol), txn = Some((appId, batchId)))
        ()
      }
    }
    def runOnce(checkpoint: String): Unit = {
      val ss = spark.newSession()
      ss.conf.set("spark.sql.shuffle.partitions", "4")
      val src = ss.readStream.format("graft.sources.FeedSource")
        .option("path", srcPath)
        .option("bootstrap", "true")
      maxCommitsPerBatch.foreach(n =>
        src.option("maxCommitsPerBatch", n.toString))
      src.load()
        .writeStream.outputMode(OutputMode.Append)
        .foreachBatch(applyBatch _)
        .option("checkpointLocation", checkpoint)
        .trigger(Trigger.AvailableNow()).start()
        .awaitTermination()
    }
    runOnce(s"$dstPath-checkpoint")
    // total checkpoint loss: the snapshot and every increment re-deliver;
    // the watermark alone must suppress them all
    runOnce(s"$dstPath-checkpoint-replay")
    graft.lake.GraftFileIndex.table(spark, dstPath)
  }

  /** Drive the [[graft.sources.FeedSource]] stream in BOOTSTRAP mode:
    * the first batch replays the table's current committed snapshot —
    * active deletion-vector sidecars subtracted inside the batch, so a
    * CDC consumer can stand up against a merge-on-read table without an
    * applyDvs/compact first — and subsequent batches tail the log. On
    * the finite AvailableNow run the collected rows equal the batch
    * [[graft.lake.GraftFileIndex.table]] (q260's oracle gates
    * it). */
  def streamFeedBootstrap(spark: SparkSession,
      tablePath: String): DataFrame = {
    val name = "stream_feedboot_" +
      java.util.UUID.randomUUID.toString.replace("-", "")
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "4")
    ss.readStream.format("graft.sources.FeedSource")
      .option("path", tablePath)
      .option("bootstrap", "true")
      .load()
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName(name)
      .trigger(Trigger.AvailableNow()).start()
      .awaitTermination()
    ss.table(name)
  }

  /** Streaming maintenance of a materialized additive aggregate from the
    * manifest CHANGE FEED ([[graft.lake.ChangeFeed]]): the feed's
    * insert/delete rows arrive as a file stream (each commit's delta =
    * one arriving batch — the production shape where a consumer tails
    * the commit log), the signed per-key partials run AS streaming
    * aggregation state (one row per touched key, bounded by the change
    * volume's key set), and the final answer merges the stored base
    * state with the streamed delta exactly as the batch
    * [[graft.lake.ChangeFeed.maintainAdditive]] does. Equals the batch
    * q197 maintenance on a finite source — long partials keep
    * streaming == batch bit-exact. The base table is never scanned by
    * either side. */
  def streamFeedMaintain(spark: SparkSession, tablePath: String,
      basePath: String, fromV: Long, toV: Long): DataFrame = {
    val name = "stream_feed_" + java.util.UUID.randomUUID.toString.replace("-", "")
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "4")
    // dump the feed once per table into a sibling dir, one file per
    // commit version — the stream consumes files exactly as a log
    // tailer consumes commits (order-free: the aggregate is additive)
    val feedDir = s"$tablePath-feeddump-$fromV-$toV"
    val fp = new org.apache.hadoop.fs.Path(feedDir)
    val fs = fp.getFileSystem(ss.sparkContext.hadoopConfiguration)
    if (!fs.exists(fp))
      graft.lake.ChangeFeed.changeFeed(ss,
          new org.apache.hadoop.fs.Path(tablePath), fromV, toV)
        .repartition(col("_commit_version"))
        .write.parquet(feedDir)
    val schema = ss.read.parquet(feedDir).schema
    val sign = when(col("_change_type") === lit("insert"), lit(1L))
      .otherwise(lit(-1L))
    ss.readStream.schema(schema).parquet(feedDir)
      .groupBy(col("o_custkey"))
      .agg(sum(sign * col("o_orderkey")).as("sum_key"),
        sum(sign).as("n_orders"))
      .writeStream.outputMode(OutputMode.Complete)
      .format("memory").queryName(name)
      .trigger(Trigger.AvailableNow()).start()
      .awaitTermination()
    ss.read.parquet(basePath)
      .select(col("o_custkey"), col("sum_key"), col("n_orders"))
      .unionByName(ss.table(name)
        .select(col("o_custkey"), col("sum_key"), col("n_orders")))
      .groupBy(col("o_custkey"))
      .agg(sum(col("sum_key")).as("sum_key"),
        sum(col("n_orders")).as("n_orders"))
      .filter(col("n_orders") > 0)
      .select(col("o_custkey"), col("n_orders"), col("sum_key"))
      .orderBy("o_custkey")
  }

  /** Net a multi-commit feed window PER KEY — the apply-side algebra
    * [[graft.lake.ChangeFeed.replicateTable]] proves, factored for the
    * streaming index maintainers: across the window, only each key's
    * FIRST delete (it carries the key's pre-window row — the thing the
    * index currently holds) and LAST insert (the key's state at the
    * window head) matter; everything between cancels. Within one
    * version an upsert's delete precedes its insert (ordering key
    * `(version, ins)`). Returns (deletes, inserts): a key that existed
    * before the window and was touched appears in deletes; a key live
    * at the window head appears in inserts; a key born AND dead inside
    * the window appears in neither. One netted apply therefore reaches
    * the same state as a sequential per-commit replay. */
  private[graft] def nettedWindow(b: DataFrame,
      key: String): (DataFrame, DataFrame) = {
    import graft.sources.FeedSource
    val ord = struct(col(FeedSource.VersionCol),
      when(col(FeedSource.ChangeTypeCol) === "insert", lit(1))
        .otherwise(lit(0)).as("ins"))
    val all = struct(b.columns.map(col): _*)
    val net = b.groupBy(col(key)).agg(
      min_by(all, ord).as("first"), max_by(all, ord).as("last"))
    (net.filter(col(s"first.${FeedSource.ChangeTypeCol}") === "delete")
       .select(col("first.*")),
     net.filter(col(s"last.${FeedSource.ChangeTypeCol}") === "insert")
       .select(col("last.*")))
  }

  /** STREAMING secondary-index maintenance — the full CDC-to-index
    * pipeline as one structured-streaming job: the
    * [[graft.sources.FeedSource]] DSv2 stream tails the manifest commit
    * log, and each micro-batch applies its window's NET deletes/inserts
    * ([[nettedWindow]] — last change per key wins, first delete carries
    * the pre-window text) to the stored LSH band index via
    * [[graft.ops.Dedup.applyFeedToBandIndex]]. A batch may span MANY
    * commits: one netted apply replaces k sequential ones with
    * identical results (spec-pinned equivalence), so a consumer
    * catching up on a backlog pays one index pass, not one per commit.
    * `maxCommitsPerBatch = Some(1)` restores the per-commit cadence
    * (commit-rate admission control) when a consumer wants
    * version-by-version state. The index state is PERSISTED per applied
    * version (parquet, cap metadata riding along) — the shape a
    * production consumer needs for restart: the checkpointed stream
    * offset names the index version to resume from.
    *
    * Exactness is inductive: each netted step is bit-identical to a
    * rebuild at its window-head version (see applyFeedToBandIndex —
    * the netted window feeds it exactly the docs removed-since /
    * added-since), so the final state equals one rebuild at the head —
    * q212 shares q211's batch oracle. Work per batch ∝ the window's
    * change volume (+ the rare flagged-sentinel rebuild); the
    * unchanged corpus is never re-shingled.
    *
    * The stream runs in one child session per caller session
    * ([[feedIndexSession]]), not a new one per call: a session that has
    * started a stream stays reachable from the SparkContext's listener
    * bus (its streaming query manager registers a listener there), so a
    * session per call leaked one session's state per call. */
  def streamFeedIndexMaintain(spark: SparkSession, tablePath: String,
      fromV: Long, maxBucket: Int = 64,
      indexStateDir: Option[String] = None,
      keepVersions: Int = 2,
      maxCommitsPerBatch: Option[Long] = None): DataFrame = {
    import graft.ops.Dedup
    import graft.sources.FeedSource
    require(keepVersions >= 1,
      s"keepVersions must be >= 1 (got $keepVersions)")
    val ss = feedIndexSession(spark)
    val stateDir = indexStateDir.getOrElse(java.nio.file.Files
      .createTempDirectory("graft-feedix").toString)
    // restart path: a consumer resuming at its checkpointed cursor finds
    // the index it persisted for that version and NEVER re-shingles the
    // corpus; only a cold start (no stored state) pays the base build
    val statePath = new org.apache.hadoop.fs.Path(s"$stateDir/v$fromV")
    val stateFs = statePath
      .getFileSystem(ss.sparkContext.hadoopConfiguration)
    if (!stateFs.exists(statePath))
      Dedup.bandIndexRaw(
          graft.lake.ManifestCommit.readTableAt(ss, tablePath, fromV),
          maxBucket = maxBucket)
        .write.parquet(s"$stateDir/v$fromV")
    val cur = new java.util.concurrent.atomic.AtomicLong(fromV)
    val src = ss.readStream.format("graft.sources.FeedSource")
      .option("path", tablePath)
      .option("fromVersion", fromV.toString)
    maxCommitsPerBatch.foreach(n =>
      src.option("maxCommitsPerBatch", n.toString))
    src.load()
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // scope: applyFeedToBandIndex trackedLeaf-caches the full stored
        // index (and feed-sized intermediates) per call — without the
        // scope those cached copies accumulate across micro-batches for
        // the life of the stream. The write below materializes the new
        // state before the scope unpersists.
        graft.ops.TextKit.withCacheScope {
          val b = batch.persist()
          // ONE driver action decides both emptiness and the window-head
          // version (meta/compaction commits plan nothing -> null max)
          val vRow = b.agg(max(col(FeedSource.VersionCol))).head
          try if (!vRow.isNullAt(0)) {
            val v = vRow.getLong(0)
            val prev = ss.read.parquet(s"$stateDir/v${cur.get}")
            val (delW, insW) = nettedWindow(b, "doc_id")
            Dedup.applyFeedToBandIndex(prev,
                insW.select("doc_id", "text"),
                delW.select("doc_id", "text"),
                graft.lake.ManifestCommit.readTableAt(ss, tablePath, v),
                maxBucket = maxBucket)
              .write.parquet(s"$stateDir/v$v")
            cur.set(v)
            pruneStateVersions(stateFs, stateDir, keepVersions)
          } finally { b.unpersist(); () }
        }
      }
      .trigger(Trigger.AvailableNow()).start()
      .awaitTermination()
    spark.read.parquet(s"$stateDir/v${cur.get}")
  }

  private val feedIndexSessions = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, SparkSession]())

  /** [[streamFeedIndexMaintain]]'s session for callers on `spark`: one
    * child session (same SparkContext, isolated SQL conf) with 4 shuffle
    * partitions, made on the first call and reused by every later one
    * (also by concurrent calls, which set nothing else on it). Keyed
    * weakly by the caller's session. */
  private def feedIndexSession(spark: SparkSession): SparkSession =
    feedIndexSessions.computeIfAbsent(spark, { parent =>
      val ss = parent.newSession()
      ss.conf.set("spark.sql.shuffle.partitions", "4")
      ss
    })

  /** TABLE-level streaming change feed over a Hive-partitioned lake —
    * [[graft.lake.ChangeFeed.changeFeedTable]]'s streaming twin: ONE
    * [[graft.sources.TableFeedSource]] over the table root, whose
    * checkpointed offset is the PER-LEAF VERSION VECTOR. Planning
    * enumerates leaves every micro-batch (O(leaves) manifest GETs, no
    * Spark job), so a leaf partition BORN mid-stream enters the feed at
    * its birth version — its committed snapshot replayed as `insert`
    * rows, exactly as the batch twin replays born leaves — with NO
    * restart and no incomplete feed. Untouched leaves cost one manifest
    * GET per planning round and contribute nothing — at thousands of
    * day partitions with a handful changed, that is the point of
    * consuming from the log. Partition-column values ride typed,
    * inferred from the leaf paths (int/long/double/date/string, the
    * batch twin's basePath inference ladder). `cursors` is the consumer
    * bookmark ([[graft.lake.ChangeFeed.tableCursors]]); a live leaf
    * absent from it is treated as born. */
  def streamFeedTable(spark: SparkSession, tableRoot: String,
      cursors: Map[String, Long],
      lease: Option[String] = None): DataFrame = {
    val name = "stream_feedtbl_" +
      java.util.UUID.randomUUID.toString.replace("-", "")
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "4")
    tableFeedStream(ss, tableRoot, cursors, lease)
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName(name)
      .trigger(Trigger.AvailableNow()).start()
      .awaitTermination()
    ss.table(name)
  }

  /** The table-level feed as an un-started streaming DataFrame — the
    * composable entry ([[streamFeedTable]] and the file-sink twin
    * [[streamFeedTableToDir]] both drain it). `lease` registers a
    * per-lagging-leaf retention lease each planning round. */
  def tableFeedStream(spark: SparkSession, tableRoot: String,
      cursors: Map[String, Long],
      lease: Option[String] = None): DataFrame = {
    val rd = spark.readStream.format("graft.sources.TableFeedSource")
      .option("path", tableRoot)
      .option("cursors", graft.sources.TableFeedSource.cursorsJson(cursors))
    lease.foreach(id => rd.option("lease", id))
    rd.load()
  }

  /** File-sink twin of [[streamFeedTable]] — the PRODUCTION shape: the
    * table-level feed lands as parquet under `outDir` with a real
    * checkpoint, so a re-run resumes from the checkpointed leaf-vector
    * offset instead of re-reading (exactly-once via the sink's
    * metadata log, as in the q33 hourly twin). Returns the sink
    * contents read back. */
  def streamFeedTableToDir(spark: SparkSession, tableRoot: String,
      cursors: Map[String, Long], outDir: String): DataFrame = {
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "4")
    tableFeedStream(ss, tableRoot, cursors)
      .writeStream.outputMode(OutputMode.Append)
      .format("parquet")
      .option("path", s"$outDir/data")
      .option("checkpointLocation", s"$outDir/checkpoint")
      .trigger(Trigger.AvailableNow()).start()
      .awaitTermination()
    ss.read.parquet(s"$outDir/data")
  }

  /** STREAMING materialized-JOIN-view maintenance — the q234 batch
    * maintenance as a production CDC job: the
    * [[graft.sources.FeedSource]] stream tails the FACT table's commit
    * log (a batch may span MANY commits — the per-key last-change
    * netting makes one apply equal the per-commit replay, so a backlog
    * costs one view commit, not one per source commit;
    * `maxCommitsPerBatch = Some(1)` restores the per-commit cadence),
    * and each batch lands on the view
    * stored AS A MANIFEST LAKE through ONE atomic merge-on-read commit
    * ([[graft.lake.ManifestCommit.applyChangesDV]]): the last change
    * per touched `rowKey` wins within the batch, insert rows re-enter
    * through one join against the (broadcast) dim delta, deleted keys
    * leave by positional sidecar. Write amplification is O(changed
    * rows) per commit — the corpus-sized view is never rewritten
    * (where a parquet-state-per-version design would copy the WHOLE
    * view every batch) — and the batch id rides as the view lake's txn
    * watermark, so a replayed micro-batch no-ops: restart is
    * exactly-once with no side bookkeeping. Only a cold start pays the
    * base join (`baseView`, clustered on `rowKey` with recorded
    * stats+schema). Inductively equal to the full join recompute at
    * the head — q263 shares q234's oracle. Contract: `rowKey` unique
    * per view row (one fact row per key), as in
    * [[graft.lake.ChangeFeed.maintainJoin]]. */
  def streamFeedJoinMaintain(spark: SparkSession, tablePath: String,
      fromV: Long, baseView: DataFrame, dim: DataFrame,
      joinKey: String, rowKey: String, viewPath: String,
      appId: String,
      maxCommitsPerBatch: Option[Long] = None): DataFrame = {
    import graft.lake.ManifestCommit
    val dst = new org.apache.hadoop.fs.Path(viewPath)
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dimPath = s"$viewPath-dim"
    if (!fs.exists(new org.apache.hadoop.fs.Path(dimPath)))
      dim.write.parquet(dimPath)
    if (!fs.exists(dst)) {
      graft.ops.Layout.writeLinear(baseView, col(rowKey), viewPath, 8)
      ManifestCommit.bootstrap(fs, dst)
      ManifestCommit.recordStats(spark, dst, Seq(rowKey))
      ManifestCommit.recordSchema(spark, dst)
    }
    val viewCols = baseView.columns.toSeq
    def applyBatch(b: DataFrame, batchId: Long): Unit = {
      if (b.head(1).isEmpty) return // meta/compaction commits plan nothing
      // last change per touched key wins within the batch (an upsert's
      // same-version insert beats its delete) — maintainJoin's netting
      val last = b.groupBy(col(rowKey))
        .agg(max_by(struct(b.columns.map(col): _*),
          struct(col("_commit_version"),
            when(col("_change_type") === "insert", lit(1)).otherwise(lit(0))
              .as("ins"))).as("s"))
        .select(col("s.*"))
      val ins = last.filter(col("_change_type") === "insert")
        .drop("_change_type", "_commit_version")
      val joined = b.sparkSession.read.parquet(dimPath)
        .join(org.apache.spark.sql.functions.broadcast(ins), joinKey)
        .select(viewCols.map(col): _*)
      ManifestCommit.applyChangesDV(spark, dst, rowKey,
        inserts = joined,
        deleteKeys = last.filter(col("_change_type") === "delete")
          .select(col(rowKey)),
        statsCols = Seq(rowKey), txn = Some((appId, batchId)))
      ()
    }
    def runOnce(checkpoint: String): Unit = {
      val ss = spark.newSession()
      ss.conf.set("spark.sql.shuffle.partitions", "4")
      val src = ss.readStream.format("graft.sources.FeedSource")
        .option("path", tablePath)
        .option("fromVersion", fromV.toString)
      maxCommitsPerBatch.foreach(n =>
        src.option("maxCommitsPerBatch", n.toString))
      src.load()
        .writeStream.outputMode(OutputMode.Append)
        .foreachBatch(applyBatch _)
        .option("checkpointLocation", checkpoint)
        .trigger(Trigger.AvailableNow()).start()
        .awaitTermination()
    }
    runOnce(s"$viewPath-checkpoint")
    // total checkpoint loss: every batch re-delivers against the LIVE
    // view; the txn watermark alone must suppress each one (a
    // double-apply would re-delete and re-insert rows — the oracle
    // would hash-mismatch)
    runOnce(s"$viewPath-checkpoint-replay")
    graft.lake.GraftFileIndex.table(spark, viewPath)
  }

  /** STREAMING ANN-index maintenance — [[streamFeedIndexMaintain]]'s
    * pattern applied to the OTHER stored index family: the
    * [[graft.sources.FeedSource]] stream tails the embeddings lake's
    * commit log, and each batch applies its window's NET
    * deletes/inserts ([[nettedWindow]] — a multi-commit backlog lands
    * as ONE apply with results identical to the per-commit replay;
    * `maxCommitsPerBatch = Some(1)` restores the per-commit cadence)
    * to the persisted IVF-PQ index via
    * [[graft.ops.Similarity.applyFeedToIvfPq]]. The frozen training
    * state (centroids + residual codebook — KBs) is written ONCE at
    * cold start; per applied version only the per-vector rows (`e`,
    * `encoded`) are persisted, so restart resumes from the stored
    * state the checkpointed offset names and only a cold start pays
    * Lloyd. Exactness is inductive: each step is bit-identical to a
    * frozen-training re-encode at that version (applyFeedToIvfPq), so
    * the final state shares q214's batch oracle (q216).
    *
    * Work per batch ∝ that commit's change volume: one broadcast
    * anti-join of the delete ids + a batch-proportional encode of the
    * inserts; the corpus's stored codes are never recomputed. Returns
    * the final maintained index (read back from storage — the restart
    * artifact IS the return value). */
  def streamFeedIvfPqMaintain(spark: SparkSession, tablePath: String,
      fromV: Long, indexStateDir: Option[String] = None,
      m: Int = 8, codesPerSub: Int = 16,
      subDim: Int = 8,
      keepVersions: Int = 2,
      maxCommitsPerBatch: Option[Long] = None): graft.ops.Similarity.IvfPqIndex = {
    import graft.ops.Similarity
    import graft.sources.FeedSource
    require(keepVersions >= 1,
      s"keepVersions must be >= 1 (got $keepVersions)")
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "4")
    val stateDir = indexStateDir.getOrElse(java.nio.file.Files
      .createTempDirectory("graft-feedivf").toString)
    // the two per-version state relations are independent jobs writing
    // disjoint directories — overlap them (guide §2.6) so the version
    // checkpoint costs max(e, enc), not e + enc
    def writeRows(ix: Similarity.IvfPqIndex, v: Long): Unit =
      graft.ops.TextKit.inParallel(
        () => ix.e.write.mode("overwrite").parquet(s"$stateDir/v$v/e"),
        () => ix.encoded.write.mode("overwrite")
          .parquet(s"$stateDir/v$v/enc"))
    // the frozen training state never changes across batches — collect
    // it ONCE (first readState) and inject into every later instance so
    // per-batch appends/searches stay free of state re-collection
    var frozenCents: Seq[Array[Long]] = null
    var frozenCb: Seq[(Int, Long, Seq[Long])] = null
    def readState(s: SparkSession, v: Long): Similarity.IvfPqIndex = {
      val ix = Similarity.IvfPqIndex(
        s.read.parquet(s"$stateDir/v$v/e"),
        s.read.parquet(s"$stateDir/cent"),
        s.read.parquet(s"$stateDir/cb"),
        s.read.parquet(s"$stateDir/v$v/enc"), m, codesPerSub, subDim)
      if (frozenCents == null) {
        // restart path only (cold start seeds the arrays job-free below)
        frozenCents = ix.centsArr
        frozenCb = ix.cbArr
      } else {
        ix.centsCache = frozenCents
        ix.cbCache = frozenCb
      }
      ix
    }
    val coldPath = new org.apache.hadoop.fs.Path(s"$stateDir/v$fromV/enc")
    val stateFs = coldPath
      .getFileSystem(ss.sparkContext.hadoopConfiguration)
    if (!stateFs.exists(coldPath)) {
      val ix0 = Similarity.buildIvfPq(
        graft.lake.ManifestCommit.readTableAt(ss, tablePath, fromV),
        m = m, codesPerSub = codesPerSub, dim = m * subDim)
      // buildIvfPq seeds its memoized arrays in-hand: capture the frozen
      // training state for injection WITHOUT the two collect jobs the
      // restart path pays
      frozenCents = ix0.centsArr
      frozenCb = ix0.cbArr
      // all four cold-start state writes land disjoint dirs — overlap
      graft.ops.TextKit.inParallel(
        () => ix0.cent.write.mode("overwrite").parquet(s"$stateDir/cent"),
        () => ix0.codebook.write.mode("overwrite").parquet(s"$stateDir/cb"),
        () => ix0.e.write.mode("overwrite").parquet(s"$stateDir/v$fromV/e"),
        () => ix0.encoded.write.mode("overwrite")
          .parquet(s"$stateDir/v$fromV/enc"))
    }
    val cur = new java.util.concurrent.atomic.AtomicLong(fromV)
    val src = ss.readStream.format("graft.sources.FeedSource")
      .option("path", tablePath)
      .option("fromVersion", fromV.toString)
    maxCommitsPerBatch.foreach(n =>
      src.option("maxCommitsPerBatch", n.toString))
    src.load()
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.ops.TextKit.withCacheScope {
          val b = batch.persist()
          // ONE driver action decides both emptiness and the window-head
          // version (meta/compaction commits plan nothing -> null max)
          val vRow = b.agg(max(col(FeedSource.VersionCol))).head
          try if (!vRow.isNullAt(0)) {
            val v = vRow.getLong(0)
            val (delW, insW) = nettedWindow(b, "vec_id")
            val nxt = Similarity.applyFeedToIvfPq(readState(ss, cur.get),
              insW.select("vec_id", "embedding"),
              delW.select("vec_id"))
            writeRows(nxt, v)
            cur.set(v)
            pruneStateVersions(stateFs, stateDir, keepVersions)
          } finally { b.unpersist(); () }
        }
      }
      .trigger(Trigger.AvailableNow()).start()
      .awaitTermination()
    readState(spark, cur.get)
  }

  /** Drop all but the newest `keep` per-version state dirs under
    * `stateDir` — the VACUUM of the streaming-maintenance pattern: the
    * newest state is the resume artifact, the previous `keep - 1` are
    * the operational undo window; anything older would otherwise grow
    * one full index copy PER COMMIT. Frozen shared state (`cent`,
    * `cb`) does not match the `v<N>` name shape and is never swept. */
  private def pruneStateVersions(fs: org.apache.hadoop.fs.FileSystem,
      stateDir: String, keep: Int): Unit = {
    val dirs = fs.listStatus(new org.apache.hadoop.fs.Path(stateDir))
      .map(_.getPath).filter(_.getName.startsWith("v"))
      .flatMap(p => scala.util.Try(p.getName.drop(1).toLong).toOption
        .map(v => (v, p)))
      .sortBy(_._1)
    dirs.dropRight(keep).foreach { case (_, p) => fs.delete(p, true); () }
  }
}
