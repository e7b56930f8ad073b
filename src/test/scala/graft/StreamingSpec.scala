package graft

import java.nio.file.Files

import graft.jobs.Pipeline
import graft.model.CheckRegistry
import graft.sources.TaFetchStub

/** Streaming surfaces: incremental lake ingest from a landing directory
  * (exactly-once per file via checkpoint) and the watermarked variant of
  * the hourly aggregation. */
class StreamingSpec extends SparkSpec {

  private def envelope(accountId: String, checkId: String): String = {
    val json = TaFetchStub.fetch(accountId, checkId)
      .replace("\"", "\\\"").replaceAll("\\s*\n\\s*", " ")
    s"""{"json":"$json","Date":"01-15-2024","DateTime":"2024-01-15 09:00:00",
       |"CheckName":"${CheckRegistry.byId(checkId).name}","AccountId":"$accountId",
       |"AccountName":"Acct $accountId","AccountEmail":"a@example.com"}"""
      .stripMargin.replaceAll("\n", "")
  }

  test("ingestStream: landing files append into the lake exactly once") {
    val landing = Files.createTempDirectory("graft-landing")
    val lake = Files.createTempDirectory("graft-streamlake").toString
    val ckpt = Files.createTempDirectory("graft-ckpt").toString
    val cfg = Pipeline.Config(lake, Seq(CheckRegistry.lowUtilEc2))

    Files.writeString(landing.resolve("batch1.jsonl"),
      envelope("100000000001", "Qch7DwouX1") + "\n" +
        envelope("100000000002", "Qch7DwouX1") + "\n")
    Pipeline.ingestStream(spark, landing.toString, cfg, ckpt)
    Pipeline.refreshCatalog(spark, cfg)
    val n1 = spark.table("check_qch7dwoux1").count()
    assert(n1 > 0)

    // second file: only its rows are appended (checkpoint skips batch1)
    Files.writeString(landing.resolve("batch2.jsonl"),
      envelope("100000000003", "Qch7DwouX1") + "\n")
    Pipeline.ingestStream(spark, landing.toString, cfg, ckpt)
    Pipeline.refreshCatalog(spark, cfg)
    val n2 = spark.table("check_qch7dwoux1").count()
    assert(n2 > n1)
    val perAccount = spark.table("check_qch7dwoux1")
      .groupBy("accountid").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perAccount.keySet ==
      Set("100000000001", "100000000002", "100000000003"))
    // rerun with no new files: nothing changes (exactly-once per file)
    Pipeline.ingestStream(spark, landing.toString, cfg, ckpt)
    Pipeline.refreshCatalog(spark, cfg)
    assert(spark.table("check_qch7dwoux1").count() == n2)
  }

  test("watermarked hourly aggregation drops only the unfinalized tail") {
    val complete = graft.streaming.StreamingOps
      .hourlyCounts(spark, "/root/testdata/sf0.001").count()
    val appended = graft.streaming.StreamingOps
      .hourlyCounts(spark, "/root/testdata/sf0.001", watermarked = true).count()
    assert(appended > 0 && appended <= complete)
    // the append-mode deficit is at most one window per event type
    assert(complete - appended <= 5)
  }

  test("watermarked file sink equals the oracle twin up to the watermark") {
    import org.apache.spark.sql.functions.col
    val ops = graft.streaming.StreamingOps
    val sink = Files.createTempDirectory("graft-hourly-sink").toString + "/out"
    val viaFile = ops.hourlyCounts(spark, "/root/testdata/sf0.001",
      watermarked = true, sinkDir = Some(sink)).collect().toSet
    // production path never materializes through the driver: rows land in
    // the parquet sink and must match the memory-append twin exactly...
    val viaMemory = ops.hourlyCounts(spark, "/root/testdata/sf0.001",
      watermarked = true).collect().toSet
    assert(viaFile == viaMemory)
    // ...and every finalized window carries the exact complete-mode value
    val complete = ops.hourlyCounts(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r).toMap
    viaFile.foreach { r =>
      val full = complete((r.getLong(0), r.getString(1)))
      assert(r.getLong(2) == full.getLong(2) &&
        r.getDouble(3) == full.getDouble(3))
    }
    assert(viaFile.nonEmpty)
    // sanity: the sink really is a file sink
    assert(spark.read.parquet(sink).count() == viaFile.size)
  }

  test("sorted-pass sessionizer equals flatMapGroupsWithState sessions") {
    val ops = graft.streaming.StreamingOps
    val sorted = ops.sessionizeSorted(spark, "/root/testdata/sf0.001")
      .orderBy("user_id", "start_us").collect().toSeq
    val stateful = ops.sessionize(spark, "/root/testdata/sf0.001")
      .orderBy("user_id", "start_us").collect().toSeq
    assert(sorted.nonEmpty)
    assert(sorted == stateful)
  }

  test("streaming dedup registry equals the batch operator") {
    val sf = "/root/testdata/sf0.001"
    val streamed = graft.streaming.StreamingOps.streamingDedup(spark, sf)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    val batch = graft.ops.Dedup.exact(
        spark.read.parquet(s"$sf/documents.parquet"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(streamed.nonEmpty)
    assert(streamed == batch)
    // the row-level streaming variant (dropDuplicates) keeps an arrival-
    // dependent survivor but must agree on the set of distinct contents
    import org.apache.spark.sql.functions.md5
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "4")
    val name = "dd_" + java.util.UUID.randomUUID.toString.replace("-", "")
    ss.readStream.schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType))))
      .option("pathGlobFilter", "documents.parquet").parquet(sf)
      .withColumn("text_hash", md5(org.apache.spark.sql.functions.col("text")))
      .dropDuplicates("text_hash")
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName(name)
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    val survivors = ss.table(name).collect().map(_.getAs[String]("text_hash"))
    assert(survivors.length == survivors.distinct.length)
    assert(survivors.toSet == batch.keySet)
  }

  test("stream semantic admission equals the batch sign-bucket pair set") {
    import org.apache.spark.sql.functions._
    import graft.ops.{Similarity, TextKit}
    val sf = "/root/testdata/sf0.001"
    val streamed = graft.streaming.StreamingOps
      .streamSemanticAdmission(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // batch twin: same quantization, bucket, and cosine, computed without
    // any streaming machinery
    val eb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), TextKit.quantVec(col("embedding")).as("qv"),
        Similarity.signBucket(col("embedding"), 6).as("bucket"))
      .withColumn("nsq", TextKit.dotPre(col("qv"), col("qv")))
    val c = eb.filter(col("vec_id") % 10 =!= 0)
      .select(col("bucket"), col("vec_id").as("vec_a"),
        col("qv").as("qa"), col("nsq").as("na"))
    val f = eb.filter(col("vec_id") % 10 === 0)
      .select(col("bucket"), col("vec_id").as("vec_b"),
        col("qv").as("qb"), col("nsq").as("nb"))
    val batch = c.join(f, Seq("bucket"))
      .select(col("vec_a"), col("vec_b"),
        TextKit.cosineQ(TextKit.dotPre(col("qa"), col("qb")),
          col("na"), col("nb")).as("cosine"))
      .filter(col("cosine") >= 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(streamed == batch)
  }

  test("stream-stream join evicts interval state behind the watermark") {
    import org.apache.spark.sql.functions._
    // Three micro-batches (one file each, mtime-ordered). Batch A
    // holds day-10 rows plus an old day-5 view and advances the global
    // watermark to day10 10:00 - 25 h = Jan 9 09:00. Batch B (a
    // neutral day-10 click) runs under that watermark and evicts the
    // day-5 view's state (older than watermark - 24 h interval) at its
    // end — state eviction is end-of-batch, so one batch must pass
    // between the old row and its late probe. Batch C's day-5 click
    // then finds nothing — pair (5, 3) must NOT appear — while its
    // fresh click (id 4) still matches batch A's buffered view (id 1)
    // across two batch boundaries. The q131 oracle (single batch)
    // can't see eviction; this is the bounded-state guarantee.
    val dir = Files.createTempDirectory("graft-ssjoin")
    def write(name: String, mtime: Long, rows: Seq[(Long, String, Long, String)]): Unit = {
      val stage = Files.createTempDirectory("graft-ssjoin-stage")
      import spark.implicits._
      rows.toDF("event_id", "ts_str", "user_id", "event_type")
        .select(col("event_id"), to_timestamp(col("ts_str")).as("ts"),
          col("user_id"), col("event_type"),
          lit(1.0).as("value"), lit("{}").as("props"))
        .coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val part = Files.list(stage).filter(p =>
        p.toString.endsWith(".parquet")).findFirst().get()
      val dst = dir.resolve(name)
      Files.copy(part, dst)
      dst.toFile.setLastModified(mtime)
    }
    write("a.parquet", 1000000L, Seq(
      (1L, "2024-01-10 10:00:00", 1L, "view"),
      (2L, "2024-01-10 10:30:00", 1L, "click"),
      (3L, "2024-01-05 00:00:00", 2L, "view")))
    write("b.parquet", 2000000L, Seq(
      (6L, "2024-01-10 10:40:00", 3L, "click")))
    write("c.parquet", 3000000L, Seq(
      (4L, "2024-01-10 11:00:00", 1L, "click"),
      (5L, "2024-01-05 00:10:00", 2L, "click")))
    val out = graft.streaming.StreamingOps
      .streamClickAttribution(spark, dir.toString, glob = "*.parquet",
        maxFilesPerTrigger = Some(1))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == Set((2L, 1L), (4L, 1L)),
      s"expected fresh matches only, got $out")
  }

  test("streamFeedIndexMaintain: resumes from stored state; final == rebuild") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.lake.ManifestCommit
    import graft.ops.{Dedup, Layout}
    val root = Files.createTempDirectory("graft-fim").toString
    val tbl = new org.apache.hadoop.fs.Path(root + "/tbl")
    val fs = tbl.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def mk(ids: Range, tag: String) = ids
      .map(i => (i.toLong, s"$tag document $i alpha beta gamma"))
      .toDF("doc_id", "text")
    Layout.writeLinear(mk(0 until 30, "base"), col("doc_id"),
      tbl.toString, 2)
    ManifestCommit.bootstrap(fs, tbl)
    val v0 = ManifestCommit.recordStats(spark, tbl, Seq("doc_id")).version
    ManifestCommit.stageAndPublish(spark, tbl, mk(100 until 120, "b1"),
      _ => true, statsCols = Seq("doc_id")).getOrElse(fail("publish 1"))
    val v1 = ManifestCommit.currentSnapshot(fs, tbl).get.version
    val sd = root + "/ixstate"
    // run 1: cold start at v0 — builds the base state, applies the append
    graft.streaming.StreamingOps
      .streamFeedIndexMaintain(spark, tbl.toString, v0,
        indexStateDir = Some(sd)).count()
    val v1State = new java.io.File(s"$sd/v$v1")
    assert(v1State.exists, "run 1 must persist the index at its head")
    val mtime = v1State.lastModified
    // the table advances while the consumer is down
    ManifestCommit.deleteRange(spark, tbl, "doc_id", 5L, 9L, Seq("doc_id"))
    // run 2 resumes at the checkpointed cursor v1: the stored state is
    // picked up (not rewritten — no base rebuild), the delete applies
    val got = graft.streaming.StreamingOps
      .streamFeedIndexMaintain(spark, tbl.toString, v1,
        indexStateDir = Some(sd))
      .orderBy("band", "key").collect().map(_.toSeq).toSeq
    assert(v1State.lastModified == mtime,
      "resume must reuse the stored cursor state, not rebuild it")
    // the delete commit's state landed (deleteRange appends a trailing
    // stats META commit, which plans nothing — so the newest state dir
    // is the delete's version, strictly past the resume cursor)
    val versions = new java.io.File(sd).list().toSeq
      .filter(_.startsWith("v")).map(_.drop(1).toLong)
    assert(versions.exists(_ > v1),
      s"run 2 must persist state past v$v1, saw $versions")
    val want = Dedup.bandIndexRaw(
        graft.lake.GraftFileIndex.table(spark, tbl.toString))
      .orderBy("band", "key").collect().map(_.toSeq).toSeq
    assert(got == want, "maintained-across-restarts != rebuild")
    // retention: run 2's new state pushed the cold v0 state past the
    // keep-2 window — one index copy per commit must not accumulate
    assert(!new java.io.File(s"$sd/v$v0").exists,
      "state older than keepVersions must be swept")
    graft.ops.TextKit.releaseCaches()
  }

  test("netted multi-commit apply == per-commit replay: one batch over " +
      "an append+upsert+delete backlog reaches the identical index") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.lake.ManifestCommit
    import graft.ops.Layout
    val root = Files.createTempDirectory("graft-fimnet").toString
    val tbl = new org.apache.hadoop.fs.Path(root + "/tbl")
    val fs = tbl.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def mk(ids: Range, tag: String) = ids
      .map(i => (i.toLong, s"$tag document $i alpha beta gamma"))
      .toDF("doc_id", "text")
    Layout.writeLinear(mk(0 until 30, "base"), col("doc_id"),
      tbl.toString, 2)
    ManifestCommit.bootstrap(fs, tbl)
    val v0 = ManifestCommit.recordStats(spark, tbl, Seq("doc_id")).version
    // a three-commit backlog whose keys overlap across commits: an
    // append, an upsert REWRITING part of the append (delete+insert in
    // one version — the netting's ordering tie), and a key-range delete
    // killing base keys plus one upserted key
    ManifestCommit.stageAndPublish(spark, tbl, mk(100 until 110, "b1"),
      _ => true, statsCols = Seq("doc_id")).getOrElse(fail("publish 1"))
    ManifestCommit.upsertDV(spark, tbl, "doc_id",
      mk(105 until 115, "up2"), statsCols = Seq("doc_id"))
    ManifestCommit.deleteWhereDV(spark, tbl, "doc_id", 7L, 106L)
    def run(mc: Option[Long], sub: String) = graft.streaming.StreamingOps
      .streamFeedIndexMaintain(spark, tbl.toString, v0,
        indexStateDir = Some(s"$root/$sub"), maxCommitsPerBatch = mc)
      .orderBy("band", "key").collect().map(_.toSeq).toSeq
    val perCommit = run(Some(1L), "ix1")
    val netted = run(None, "ixN")
    assert(netted == perCommit,
      "one netted apply must equal the commit-by-commit replay")
    // and both equal the from-scratch rebuild at the head
    val want = graft.ops.Dedup.bandIndexRaw(
        graft.lake.GraftFileIndex.table(spark, tbl.toString))
      .orderBy("band", "key").collect().map(_.toSeq).toSeq
    assert(netted == want, "netted apply != head rebuild")
    graft.ops.TextKit.releaseCaches()
  }

  test("streamFeedIvfPqMaintain: resumes stored state; final == frozen re-encode") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.lake.ManifestCommit
    import graft.ops.{Layout, Similarity}
    val root = Files.createTempDirectory("graft-fivf").toString
    val tbl = new org.apache.hadoop.fs.Path(root + "/tbl")
    val fs = tbl.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def mkEmb(ids: Range) = ids.map(i => (i.toLong,
      Array.tabulate(64)(d =>
        (((i + 1) * (d + 1)) % 101 - 50).toFloat / 51f)))
      .toDF("vec_id", "embedding")
    Layout.writeLinear(mkEmb(0 until 30), col("vec_id"), tbl.toString, 2)
    ManifestCommit.bootstrap(fs, tbl)
    val v0 = ManifestCommit.recordStats(spark, tbl, Seq("vec_id")).version
    ManifestCommit.stageAndPublish(spark, tbl, mkEmb(100 until 110),
      _ => true, statsCols = Seq("vec_id")).getOrElse(fail("publish 1"))
    val v1 = ManifestCommit.currentSnapshot(fs, tbl).get.version
    val sd = root + "/ixstate"
    // run 1: cold start at v0 — Lloyd runs once, the append applies
    graft.streaming.StreamingOps
      .streamFeedIvfPqMaintain(spark, tbl.toString, v0,
        indexStateDir = Some(sd)).encoded.count()
    val v1State = new java.io.File(s"$sd/v$v1")
    assert(v1State.exists, "run 1 must persist the index at its head")
    val mtime = v1State.lastModified
    // the table advances while the consumer is down
    ManifestCommit.deleteRange(spark, tbl, "vec_id", 5L, 9L, Seq("vec_id"))
    // run 2 resumes at the checkpointed cursor v1: stored rows reused
    // (no Lloyd, no rewrite of v1's state), the delete applies
    val got = graft.streaming.StreamingOps
      .streamFeedIvfPqMaintain(spark, tbl.toString, v1,
        indexStateDir = Some(sd))
    assert(v1State.lastModified == mtime,
      "resume must reuse the stored cursor state, not rebuild it")
    // reference: the SAME frozen training (deterministic build at v0),
    // head row set re-encoded from scratch
    val ix0 = Similarity.buildIvfPq(
      ManifestCommit.readTableAt(spark, tbl.toString, v0))
    val ref = Similarity.appendIvfPq(
      ix0.copy(e = ix0.e.limit(0), encoded = ix0.encoded.limit(0)),
      graft.lake.GraftFileIndex.table(spark, tbl.toString)
        .select("vec_id", "embedding"))
    def encSet(g: Similarity.IvfPqIndex) =
      g.encoded.collect().map(r => (r.getAs[Long]("vec_id"),
        r.getAs[Long]("cell"),
        r.getAs[scala.collection.Seq[Int]]("codes").toSeq)).toSet
    assert(encSet(got) == encSet(ref),
      "maintained-across-restarts != frozen-training re-encode")
    assert(!encSet(got).exists(e => e._1 >= 5L && e._1 <= 9L),
      "deleted vectors must leave the index")
    // retention: the cold v0 state fell out of the keep-2 window; the
    // frozen training state (cent/cb) is never swept
    assert(!new java.io.File(s"$sd/v$v0").exists,
      "state older than keepVersions must be swept")
    assert(new java.io.File(s"$sd/cent").exists &&
      new java.io.File(s"$sd/cb").exists,
      "frozen training state must survive the sweep")
    graft.ops.TextKit.releaseCaches()
  }
}
