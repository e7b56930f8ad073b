package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.lake.{ChangeFeed, GraftFileIndex, ManifestCommit}
import graft.ops.Layout

/** The DSv2 feed stream: offsets are commit versions — a second run
  * cursored at the first run's head consumes ONLY the commits landed
  * in between, which is exactly the restart contract a checkpointed
  * query relies on. */
class FeedSourceSpec extends SparkSpec {
  import spark.implicits._

  private def rows(r: Int) = spark.range(50)
    .select(($"id" + r * 1000).as("k"), ($"id" % 5).as("g"),
      ($"id" * 2).as("v"))

  private def collectFeed(path: String, fromV: Long) = {
    val name = "fs_" + java.util.UUID.randomUUID.toString.replace("-", "")
    spark.readStream.format("graft.sources.FeedSource")
      .option("path", path).option("fromVersion", fromV.toString)
      .load()
      .writeStream.format("memory").queryName(name)
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    spark.table(name).select($"k", $"_change_type", $"_commit_version")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
  }

  test("versioned offsets: incremental consumption across runs, deletes fed by predicate") {
    val dir = new Path(
      Files.createTempDirectory("graft-feedsrc").toString + "/tbl")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Layout.writeLinear(rows(0), col("k"), dir.toString, 4)
    ManifestCommit.bootstrap(fs, dir)
    val v0 = ManifestCommit.recordStats(spark, dir, Seq("k")).version
    ManifestCommit.stageAndPublish(spark, dir, rows(1), _ => true,
      statsCols = Seq("k")).getOrElse(fail("publish 1"))
    val v1 = ManifestCommit.currentSnapshot(fs, dir).get.version
    // run 1 from v0: exactly batch 1 as inserts
    assert(collectFeed(dir.toString, v0) ==
      (1000L to 1049L).map((_, ChangeFeed.Insert)).toSet)
    // more commits: another append + a targeted delete
    ManifestCommit.stageAndPublish(spark, dir, rows(2), _ => true,
      statsCols = Seq("k")).getOrElse(fail("publish 2"))
    ManifestCommit.deleteRange(spark, dir, "k", 10L, 20L, Seq("k"))
    // run 2 cursored at run 1's head: ONLY the new commits
    val run2 = collectFeed(dir.toString, v1)
    assert(run2 == (2000L to 2049L).map((_, ChangeFeed.Insert)).toSet ++
      (10L to 20L).map((_, ChangeFeed.Delete)).toSet, s"run2=$run2")
    // default cursor (no fromVersion) tails: nothing new -> empty
    val name = "fs_tail_" + java.util.UUID.randomUUID.toString.replace("-", "")
    spark.readStream.format("graft.sources.FeedSource")
      .option("path", dir.toString).load()
      .writeStream.format("memory").queryName(name)
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    assert(spark.table(name).isEmpty)
  }

  test("maxCommitsPerBatch=1: one commit per micro-batch, same total feed") {
    val dir = new Path(
      Files.createTempDirectory("graft-feedthrottle").toString + "/tbl")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Layout.writeLinear(rows(0), col("k"), dir.toString, 4)
    ManifestCommit.bootstrap(fs, dir)
    val v0 = ManifestCommit.recordStats(spark, dir, Seq("k")).version
    ManifestCommit.stageAndPublish(spark, dir, rows(1), _ => true,
      statsCols = Seq("k")).getOrElse(fail("publish 1"))
    ManifestCommit.stageAndPublish(spark, dir, rows(2), _ => true,
      statsCols = Seq("k")).getOrElse(fail("publish 2"))
    ManifestCommit.deleteRange(spark, dir, "k", 1010L, 1020L, Seq("k"))
    // throttled run: every non-empty batch must cover EXACTLY one commit
    // version, and the union must equal the unthrottled feed
    val batches = scala.collection.mutable.ArrayBuffer
      .empty[Set[(Long, String, Long)]]
    spark.readStream.format("graft.sources.FeedSource")
      .option("path", dir.toString).option("fromVersion", v0.toString)
      .option("maxCommitsPerBatch", "1")
      .load()
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val got = b.select($"k", $"_change_type", $"_commit_version")
          .collect()
          .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
        if (got.nonEmpty) { batches += got; () }
      }
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    assert(batches.size == 3) // two appends + one delete, separately
    assert(batches.forall(_.map(_._3).size == 1))
    val expect = (1000L to 1049L).map((_, ChangeFeed.Insert)).toSet ++
      (2000L to 2049L).map((_, ChangeFeed.Insert)).toSet ++
      (1010L to 1020L).map((_, ChangeFeed.Delete)).toSet
    assert(batches.flatten.map(t => (t._1, t._2)).toSet == expect)
  }

  test("merge-on-read deletes stream: a dvdelete commit feeds its " +
      "sidecar positions as delete rows") {
    val dir = new Path(
      Files.createTempDirectory("graft-feeddv").toString + "/tbl")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Layout.writeLinear(rows(0), col("k"), dir.toString, 4)
    ManifestCommit.bootstrap(fs, dir)
    val v0 = ManifestCommit.recordStats(spark, dir, Seq("k")).version
    // a DV delete moves no data file — the stream must replay the
    // sidecar (file, pos) pairs, not brick on the commit kind
    val (_, nDel) = ManifestCommit.deleteWhereDV(spark, dir, "k", 10L, 25L)
    assert(nDel == 16L)
    ManifestCommit.stageAndPublish(spark, dir, rows(1), _ => true,
      statsCols = Seq("k")).getOrElse(fail("publish"))
    val got = collectFeed(dir.toString, v0)
    val expect = (10L to 25L).map((_, ChangeFeed.Delete)).toSet ++
      (1000L to 1049L).map((_, ChangeFeed.Insert)).toSet
    assert(got == expect, s"got=$got")
    // the streamed delete rows match the batch twin exactly
    val batch = ChangeFeed.changeFeed(spark, dir, v0,
      ManifestCommit.currentSnapshot(fs, dir).get.version)
      .filter($"_change_type" === ChangeFeed.Delete)
      .select($"k").collect().map(_.getLong(0)).toSet
    assert(batch == (10L to 25L).toSet)
  }

  test("DV replay partitions carry sidecar NAMES, not positions: " +
      "serialized size is flat in the deleted-row count") {
    val dir = new Path(
      Files.createTempDirectory("graft-feeddvsz").toString + "/tbl")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val big = spark.range(40000).select($"id".as("k"),
      ($"id" % 5).as("g"), ($"id" * 2).as("v"))
    Layout.writeLinear(big, col("k"), dir.toString, 4)
    ManifestCommit.bootstrap(fs, dir)
    ManifestCommit.recordStats(spark, dir, Seq("k"))
    // recorded schema: planning resolves it from the manifest, so the
    // zero-job pin below measures DV planning alone
    ManifestCommit.recordSchema(spark, dir)
    val v0 = ManifestCommit.currentSnapshot(fs, dir).get.version
    // a GDPR-scale delete: 20k positions in one commit — the old plan
    // embedded every position in the InputPartitions (driver memory and
    // task-serialization ∝ deleted rows); now each reader loads its own
    // file's positions executor-side from the sidecar parquet
    val (_, nDel) = ManifestCommit.deleteWhereDV(spark, dir, "k",
      0L, 19999L)
    assert(nDel == 20000L)
    val head = ManifestCommit.currentSnapshot(fs, dir).get.version
    // planning must not schedule work: the touched files come from the
    // file-sorted sidecar's FOOTER stats, zero Spark jobs
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val parts =
      try {
        val p = graft.sources.FeedSource.describePlannedPartitions(
          dir.toString, v0, head)
        Thread.sleep(1000) // listener bus is async
        p
      } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get == 0,
      s"DV micro-batch planning ran ${jobs.get} job(s) — touched files " +
        "must come from sidecar footer stats")
    assert(parts.nonEmpty && parts.forall(_._2 == ChangeFeed.Delete))
    assert(parts.forall(_._3 > 0), "delete partitions must name sidecars")
    parts.foreach { case (f, _, _, bytes) =>
      assert(bytes < 4096,
        s"partition for $f serializes to $bytes bytes — positions are " +
          "riding the partition again")
    }
    // and the replayed rows are still exact
    val got = collectFeed(dir.toString, v0)
    assert(got == (0L until 20000L).map((_, ChangeFeed.Delete)).toSet)
  }

  test("legacy stats-free sidecar: planning stays job-free through the " +
      "driver-side sidecar read, replay stays exact") {
    val dir = new Path(
      Files.createTempDirectory("graft-feedlegacy").toString + "/tbl")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Layout.writeLinear(rows(0), col("k"), dir.toString, 4)
    ManifestCommit.bootstrap(fs, dir)
    ManifestCommit.recordStats(spark, dir, Seq("k"))
    ManifestCommit.recordSchema(spark, dir)
    val v0 = ManifestCommit.currentSnapshot(fs, dir).get.version
    val (_, nDel) = ManifestCommit.deleteWhereDV(spark, dir, "k", 10L, 19L)
    assert(nDel == 10L)
    val head = ManifestCommit.currentSnapshot(fs, dir).get.version
    // forge a LEGACY sidecar: rewrite it in place with parquet column
    // statistics disabled, so sidecarNameRanges has no footer bounds
    // and planning must take the stats-free fallback
    val scName = ManifestCommit.currentDvs(fs, dir).head
    val sc = new Path(dir, scName)
    val tmp = new Path(dir.getParent, "scrub")
    spark.read.parquet(sc.toString)
      .coalesce(1).sortWithinPartitions("file", "pos")
      .write.option("parquet.column.statistics.enabled", "false")
      .parquet(tmp.toString)
    val part = fs.listStatus(tmp).map(_.getPath)
      .find(p => p.getName.startsWith("part-") &&
        p.getName.endsWith(".parquet"))
      .getOrElse(fail("no part file in scrub dir"))
    assert(fs.delete(sc, false) && fs.rename(part, sc))
    val conf = spark.sessionState.newHadoopConf()
    assert(graft.sources.FeedSource
        .sidecarNameRanges(conf, Seq(sc.toString)).isEmpty,
      "forged sidecar still carries file stats — the legacy fallback " +
        "is not being exercised")
    // the fallback must not schedule a Spark job: micro-batch planning
    // reads the KB-scale sidecar on the driver instead
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val parts =
      try {
        val p = graft.sources.FeedSource.describePlannedPartitions(
          dir.toString, v0, head)
        Thread.sleep(1000) // listener bus is async
        p
      } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get == 0,
      s"legacy-sidecar micro-batch planning ran ${jobs.get} job(s) — " +
        "the stats-free fallback must read the sidecar driver-side")
    assert(parts.nonEmpty && parts.forall(_._2 == ChangeFeed.Delete))
    assert(collectFeed(dir.toString, v0) ==
      (10L to 19L).map((_, ChangeFeed.Delete)).toSet)
  }

  test("bootstrap composes active deletion vectors: the snapshot batch " +
      "equals the merge-on-read read, deleted rows never resurrect") {
    import graft.streaming.StreamingOps
    val dir = new Path(
      Files.createTempDirectory("graft-feedbootdv").toString + "/tbl")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Layout.writeLinear(rows(0), col("k"), dir.toString, 4)
    ManifestCommit.bootstrap(fs, dir)
    ManifestCommit.recordStats(spark, dir, Seq("k"))
    val (_, n1) = ManifestCommit.deleteWhereDV(spark, dir, "k", 10L, 25L)
    assert(n1 == 16L)
    val (_, n2) = ManifestCommit.deleteWhereDV(spark, dir, "k", 40L, 44L)
    assert(n2 == 5L)
    val got = StreamingOps.streamFeedBootstrap(spark, dir.toString)
      .select($"k", $"_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val want = GraftFileIndex.table(spark, dir.toString)
      .select($"k").collect()
      .map(r => (r.getLong(0), ChangeFeed.Insert)).toSet
    assert(want.size == 50 - 16 - 5)
    assert(got == want,
      s"bootstrap diverged from the table read: got ${got.size}, " +
        s"want ${want.size}")
    // plan shape: every snapshot partition is an Insert; only the
    // sidecar-NAMED files carry sidecars, none carry positions
    val parts = graft.sources.FeedSource.describePlannedPartitions(
      dir.toString, -1L,
      ManifestCommit.currentSnapshot(fs, dir).get.version)
    assert(parts.forall(_._2 == ChangeFeed.Insert))
    assert(parts.exists(_._3 > 0) && parts.forall(_._4 < 4096))
  }

  test("replicate a lake whose history includes an upsert and a DV " +
      "delete — replica equals the source's merge-on-read read") {
    import graft.streaming.StreamingOps
    val root = Files.createTempDirectory("graft-feedrepl").toString
    val dir = new Path(s"$root/src")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Layout.writeLinear(rows(0), col("k"), dir.toString, 4)
    ManifestCommit.bootstrap(fs, dir)
    val v0 = ManifestCommit.recordStats(spark, dir, Seq("k")).version
    // history past the cursor: one MERGE (replace 10-19, insert 5000s),
    // one merge-on-read delete (30-34) — both replayed from the log
    val src0 = rows(0).filter($"k".between(10, 19))
    ManifestCommit.upsertDV(spark, dir, "k",
      src0.withColumn("v", $"v" + 100L)
        .unionByName(src0.select(($"k" + 5000L).as("k"), $"g",
          ($"v" + 200L).as("v"))), Seq("k"))
    ManifestCommit.deleteWhereDV(spark, dir, "k", 30L, 34L)
    val replica = StreamingOps.streamReplicate(spark, dir.toString,
      s"$root/dst", v0, "k", appId = "repl-spec")
    val want = GraftFileIndex.table(spark, dir.toString)
      .select("k", "g", "v").collect().map(_.toString).sorted.toSeq
    val got = replica.select("k", "g", "v")
      .collect().map(_.toString).sorted.toSeq
    assert(got == want, s"replica diverged: got ${got.size}, want ${want.size}")
    assert(replica.count() == 50L - 5L + 10L,
      "50 base - 5 deleted + 10 inserted (10 replaced in place)")
  }

  test("streamReplicateBootstrap: snapshot-through-the-stream initial " +
      "load, then increments apply exactly-once") {
    import graft.streaming.StreamingOps
    val root = Files.createTempDirectory("graft-bootrepl").toString
    val dir = new Path(s"$root/src")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Layout.writeLinear(rows(0), col("k"), dir.toString, 4)
    ManifestCommit.bootstrap(fs, dir)
    ManifestCommit.recordStats(spark, dir, Seq("k"))
    // a DV-carrying snapshot (the case plain streamReplicate's batch
    // sync had to applyDvs around): bootstrap must subtract it
    ManifestCommit.deleteWhereDV(spark, dir, "k", 10L, 19L)
    val replica1 = StreamingOps.streamReplicateBootstrap(spark,
      dir.toString, s"$root/dst", "k", appId = "boot-repl")
    val want1 = GraftFileIndex.table(spark, dir.toString)
      .select("k", "g", "v").collect().map(_.toString).sorted.toSeq
    assert(replica1.select("k", "g", "v").collect()
      .map(_.toString).sorted.toSeq == want1)
    assert(replica1.count() == 40L)
    // increments land AFTER the bootstrap: an append, an upsert, and a
    // second DV delete — re-invoking against the SAME target resumes
    // the checkpointed offset, so the new commits arrive as ordinary
    // micro-batches through the applyChangesDV path (and the op's
    // internal fresh-checkpoint replay re-delivers everything, which
    // the txn watermarks must suppress exactly-once)
    ManifestCommit.stageAndPublish(spark, dir, rows(1), _ => true,
      statsCols = Seq("k")).getOrElse(fail("publish"))
    val up = rows(0).filter($"k".between(30, 34))
      .select($"k", $"g", ($"v" + 900L).as("v"))
    ManifestCommit.upsertDV(spark, dir, "k", up, Seq("k"))
    ManifestCommit.deleteWhereDV(spark, dir, "k", 40L, 44L)
    val replica2 = StreamingOps.streamReplicateBootstrap(spark,
      dir.toString, s"$root/dst", "k", appId = "boot-repl")
    val want2 = GraftFileIndex.table(spark, dir.toString)
      .select("k", "g", "v").collect().map(_.toString).sorted.toSeq
    assert(replica2.select("k", "g", "v").collect()
      .map(_.toString).sorted.toSeq == want2)
    assert(replica2.filter($"k".between(30, 34))
      .select($"v").collect().map(_.getLong(0)).forall(_ >= 900L),
      "upserted values must replace the bootstrapped versions")
  }

  test("streamFeedJoinMaintain: per-batch applies are merge-on-read " +
      "commits (base view never rewritten), exactly-once under replay") {
    import graft.streaming.StreamingOps
    val root = Files.createTempDirectory("graft-joinview").toString
    val fact = new Path(s"$root/fact")
    val fs = fact.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dim = (0L until 5L).map(g => (g, s"name$g")).toDF("g", "g_name")
    Layout.writeLinear(rows(0), col("k"), fact.toString, 4)
    ManifestCommit.bootstrap(fs, fact)
    val v0 = ManifestCommit.recordStats(spark, fact, Seq("k")).version
    val baseView = rows(0).join(dim, "g").select("k", "g", "v", "g_name")
    // deltas: an append, a key-replacing upsert, a DV delete
    ManifestCommit.stageAndPublish(spark, fact, rows(1), _ => true,
      statsCols = Seq("k")).getOrElse(fail("publish"))
    ManifestCommit.upsertDV(spark, fact, "k",
      rows(0).filter($"k".between(5, 9)).select($"k", $"g",
        ($"v" + 700L).as("v")), Seq("k"))
    ManifestCommit.deleteWhereDV(spark, fact, "k", 20L, 24L)
    val got = StreamingOps.streamFeedJoinMaintain(spark, fact.toString,
      v0, baseView, dim, joinKey = "g", rowKey = "k",
      viewPath = s"$root/view", appId = "jv-spec")
    // the maintained view == the full join recompute at the head (the
    // op itself already replayed the stream against a fresh checkpoint
    // — a watermark failure would double-apply and diverge here)
    val want = GraftFileIndex.table(spark, fact.toString)
      .join(dim, "g").select("k", "g", "v", "g_name")
      .collect().map(_.toString).sorted.toSeq
    assert(got.select("k", "g", "v", "g_name")
      .collect().map(_.toString).sorted.toSeq == want)
    assert(got.filter($"k".between(5, 9) && $"v" < 700).isEmpty,
      "upserted rows must replace their base versions")
    // write-amplification shape: every post-load commit on the VIEW
    // lake is a merge-on-read apply — the base view's files are never
    // consumed by a rewrite (n_removed = 0 on every upsert commit)
    val hist = ManifestCommit.history(spark, new Path(s"$root/view"))
      .collect().map(r => (r.getString(1), r.getLong(3)))
    assert(hist.exists(_._1 == "upsert"), s"history: ${hist.toSeq}")
    assert(hist.filter(_._1 == "upsert").forall(_._2 == 0L),
      s"an upsert commit consumed base files: ${hist.toSeq}")
    // netting equivalence: the default (one batch may span the whole
    // 3-commit backlog, one netted apply) equals the per-commit replay
    val perCommit = StreamingOps.streamFeedJoinMaintain(spark,
      fact.toString, v0, baseView, dim, joinKey = "g", rowKey = "k",
      viewPath = s"$root/view1c", appId = "jv-spec-1c",
      maxCommitsPerBatch = Some(1L))
    assert(perCommit.select("k", "g", "v", "g_name")
      .collect().map(_.toString).sorted.toSeq == want,
      "per-commit replay must equal the netted apply")
    // ... and fewer view commits: the netted run applied the backlog
    // in fewer merge-on-read commits than the per-commit run
    val n1c = ManifestCommit.history(spark, new Path(s"$root/view1c"))
      .collect().count(_.getString(1) == "upsert")
    assert(hist.count(_._1 == "upsert") <= n1c,
      s"netted=${hist.count(_._1 == "upsert")} per-commit=$n1c")
  }

  test("streamFeedTable: a leaf born after the bookmark surfaces whole " +
      "as inserts at its birth version — no restart, no incomplete feed") {
    import graft.streaming.StreamingOps
    val root = Files.createTempDirectory("graft-feedtbl").toString + "/t"
    spark.range(20).select($"id".as("k"), ($"id" * 2).as("v"),
        ($"id" % 2 + 1).cast("int").as("day"))
      .write.partitionBy("day").parquet(root)
    val cursors = ChangeFeed.tableCursors(spark, root)
    assert(cursors.keySet == Set("day=1", "day=2"))
    // a partition born AFTER the bookmark plus a delta in a bookmarked
    // leaf: ONE query surfaces the born leaf whole (at its birth
    // version) and the delta, each with its typed partition column
    spark.range(5).select(($"id" + 100).as("k"), ($"id" * 2).as("v"))
      .write.parquet(s"$root/day=3")
    ManifestCommit.stageAndPublish(spark, new Path(s"$root/day=1"),
      Seq((500L, 0L)).toDF("k", "v"), _ => true)
      .getOrElse(fail("publish"))
    val got = StreamingOps.streamFeedTable(spark, root, cursors)
      .select($"k", $"_change_type", $"day").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    val want = (100L to 104L).map((_, ChangeFeed.Insert, 3)).toSet +
      ((500L, ChangeFeed.Insert, 1))
    assert(got == want, s"got=$got")
  }

  test("table feed: a leaf born BETWEEN micro-batches of a RUNNING " +
      "query enters the feed without restart") {
    import graft.streaming.StreamingOps
    val root = Files.createTempDirectory("graft-feedtblrun").toString + "/t"
    spark.range(10).select($"id".as("k"), ($"id" * 2).as("v"),
        lit(1).as("day"))
      .write.partitionBy("day").parquet(root)
    val cursors = ChangeFeed.tableCursors(spark, root)
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "2")
    val name = "fs_born_" +
      java.util.UUID.randomUUID.toString.replace("-", "")
    val q = StreamingOps.tableFeedStream(ss, root, cursors)
      .writeStream.format("memory").queryName(name)
      .trigger(Trigger.ProcessingTime("50 milliseconds"))
      .start()
    try {
      // let the query complete at least one (empty) planning round,
      // then birth a leaf mid-stream: the next round's leaf listing
      // must admit it — the old union-of-fixed-sources shape could not
      q.processAllAvailable()
      spark.range(3).select(($"id" + 700).as("k"), ($"id" * 2).as("v"))
        .write.parquet(s"$root/day=2")
      ManifestCommit.bootstrap(new Path(root).getFileSystem(
        spark.sparkContext.hadoopConfiguration), new Path(s"$root/day=2"))
      q.processAllAvailable()
      val got = ss.table(name).select($"k", $"day").collect()
        .map(r => (r.getLong(0), r.getInt(1))).toSet
      assert(got == Set((700L, 2), (701L, 2), (702L, 2)), s"got=$got")
    } finally q.stop()
  }

  test("table feed leases: every listed leaf's consumed cursor is " +
      "pinned against pruneLog — lagging AND up-to-date (commits can " +
      "land on an up-to-date leaf between planning rounds)") {
    import graft.streaming.StreamingOps
    val root = Files.createTempDirectory("graft-feedtbllease").toString + "/t"
    spark.range(20).select($"id".as("k"), ($"id" * 2).as("v"),
        ($"id" % 2 + 1).cast("int").as("day"))
      .write.partitionBy("day").parquet(root)
    val fs = new Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cursors = ChangeFeed.tableCursors(spark, root)
    // only day=1 advances: the consumer lags there and nowhere else
    ManifestCommit.stageAndPublish(spark, new Path(s"$root/day=1"),
      Seq((500L, 0L)).toDF("k", "v"), _ => true).getOrElse(fail("publish"))
    StreamingOps.streamFeedTable(spark, root, cursors,
      lease = Some("tbl-consumer")).count()
    def leaseFile(leaf: String) = new Path(
      s"$root/$leaf/${ManifestCommit.LogDirName}/.lease-tbl-consumer")
    assert(fs.exists(leaseFile("day=1")),
      "the lagging leaf must carry the consumer's lease")
    assert(fs.exists(leaseFile("day=2")),
      "an up-to-date leaf renews too: commits landing on it between " +
        "planning rounds + an aggressive prune would drop the " +
        "start-cursor manifest the next batch's commitsBetween reads")
    // the pin tracks CONSUMPTION: the batch consumed day=1 to its head,
    // so the retention floor is the consumed head (the next batch's
    // start cursor) — that version must survive an aggressive prune;
    // versions below it are legitimately releasable
    val consumed = ChangeFeed.tableCursors(spark, root)("day=1")
    ManifestCommit.stageAndPublish(spark, new Path(s"$root/day=1"),
      Seq((501L, 0L)).toDF("k", "v"), _ => true).getOrElse(fail("p2"))
    ManifestCommit.pruneLog(fs, new Path(s"$root/day=1"), keepLast = 1)
    assert(ManifestCommit.snapshotAt(fs, new Path(s"$root/day=1"),
      consumed).isDefined,
      "the consumed-head pin must survive an aggressive prune")
  }

  test("table feed: non-integer partition values (string and date " +
      "segments) ride with inferred types, as the batch twin's " +
      "basePath inference does") {
    import graft.streaming.StreamingOps
    val root = Files.createTempDirectory("graft-feedtblstr").toString + "/t"
    Seq(("us", "2024-01-01"), ("eu", "2024-01-02")).foreach {
      case (region, dt) =>
        spark.range(4).select(($"id" + (if (region == "us") 0 else 100))
            .as("k"), ($"id" * 3).as("v"))
          .write.parquet(s"$root/region=$region/dt=$dt")
    }
    // an empty bookmark: every live leaf is "born" — the whole table
    // replays as inserts, each row with its typed partition columns
    val got = StreamingOps.streamFeedTable(spark, root, Map.empty)
    val sch = got.schema.fields.map(f => f.name -> f.dataType).toMap
    assert(sch("region") == org.apache.spark.sql.types.StringType &&
      sch("dt") == org.apache.spark.sql.types.DateType, s"schema=$sch")
    val rows = got.select($"k", $"region", $"dt".cast("string"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .toSet
    assert(rows == ((0L to 3L).map((_, "us", "2024-01-01")) ++
      (100L to 103L).map((_, "eu", "2024-01-02"))).toSet, s"rows=$rows")
  }

  test("streaming across an additive evolution: pre-evolution files " +
      "read NULL for the new column, never brick") {
    val dir = new Path(
      Files.createTempDirectory("graft-feedevo").toString + "/tbl")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Layout.writeLinear(rows(0), col("k"), dir.toString, 2)
    ManifestCommit.bootstrap(fs, dir)
    ManifestCommit.recordStats(spark, dir, Seq("k"))
    ManifestCommit.recordSchema(spark, dir)
    val v0 = ManifestCommit.currentSnapshot(fs, dir).get.version
    // pre-evolution append, then an additive batch carrying w — the
    // recorded schema evolves, so a stream STARTED after the evolution
    // replays the older commits against the WIDER schema
    ManifestCommit.stageAndPublish(spark, dir, rows(1), _ => true,
      statsCols = Seq("k")).getOrElse(fail("publish 1"))
    ManifestCommit.stageAndPublish(spark, dir,
      Seq((9000L, 1L, 2L, 77L)).toDF("k", "g", "v", "w"), _ => true,
      statsCols = Seq("k")).getOrElse(fail("publish 2"))
    val name = "fs_evo_" + java.util.UUID.randomUUID.toString
      .replace("-", "")
    spark.readStream.format("graft.sources.FeedSource")
      .option("path", dir.toString).option("fromVersion", v0.toString)
      .load()
      .writeStream.format("memory").queryName(name)
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    val got = spark.table(name)
      .select($"k", $"w").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
      .toSet
    assert(got == (1000L to 1049L).map((_, -1L)).toSet + ((9000L, 77L)),
      s"evolution replay wrong: ${got.size} rows")
  }

  test("retention lease via option(\"lease\"): the bootstrap pins its " +
      "snapshot version against pruneLog; without a lease the prune " +
      "wins and the resume stays loud") {
    val dir = new Path(
      Files.createTempDirectory("graft-feedlease").toString + "/tbl")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Layout.writeLinear(rows(0), col("k"), dir.toString, 2)
    ManifestCommit.bootstrap(fs, dir)
    ManifestCommit.stageAndPublish(spark, dir, rows(1), _ => true)
      .getOrElse(fail("publish"))
    val pinned = ManifestCommit.currentSnapshot(fs, dir).get.version
    val ckpt = Files.createTempDirectory("graft-feedlease-ck").toString
    spark.readStream.format("graft.sources.FeedSource")
      .option("path", dir.toString).option("bootstrap", "true")
      .option("lease", "slow-consumer")
      .load()
      .writeStream.format("memory")
      .queryName("fs_lease_" +
        java.util.UUID.randomUUID.toString.replace("-", ""))
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    // the consumer's lease landed at initial-offset time and pins the
    // bootstrapped snapshot: new commits + an aggressive prune cannot
    // drop it — a restart from the checkpoint would replan the SAME
    // version and must still find it
    assert(fs.exists(new Path(dir,
      s"${ManifestCommit.LogDirName}/.lease-slow-consumer")))
    ManifestCommit.stageAndPublish(spark, dir, rows(2), _ => true)
      .getOrElse(fail("publish2"))
    ManifestCommit.pruneLog(fs, dir, keepLast = 1)
    assert(ManifestCommit.snapshotAt(fs, dir, pinned).isDefined,
      "an unexpired lease must keep the pinned snapshot replayable")
    // released (the consumer finished cleanly): the pin lifts, the
    // prune wins, and a stale cursor fails loudly — the pre-lease
    // behavior is unchanged
    ManifestCommit.releaseLease(fs, dir, "slow-consumer")
    ManifestCommit.pruneLog(fs, dir, keepLast = 1)
    assert(ManifestCommit.snapshotAt(fs, dir, pinned).isEmpty)
    val e = intercept[Exception](collectFeed(dir.toString, pinned))
    assert(e.getMessage != null)
  }

  test("bootstrap: a table with pre-tag history streams its snapshot, " +
      "then tails incrementally") {
    val dir = new Path(
      Files.createTempDirectory("graft-feedboot").toString + "/tbl")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Layout.writeLinear(rows(0), col("k"), dir.toString, 2)
    ManifestCommit.bootstrap(fs, dir)
    // forge ANCIENT history: a legacy 3-count, no-O-line manifest (the
    // pre-kind-tag format) on top — an ordinary cursored feed across it
    // must refuse, which is exactly what bootstrap exists to bypass
    val snap0 = ManifestCommit.currentSnapshot(fs, dir).get
    val legacy = new Path(dir,
      f"${ManifestCommit.LogDirName}/v${snap0.version + 1}%08d.manifest")
    val out = fs.create(legacy, false)
    out.write((s"#graft 1 ${snap0.files.size} 0 0\n" +
      snap0.files.map(n => s"A $n").mkString("\n"))
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    out.close()
    val e = intercept[Exception](collectFeed(dir.toString, snap0.version))
    assert(e.getMessage != null)
    // bootstrap run: first batch = the whole snapshot as inserts at the
    // head version, ancient commits never walked
    val ckpt = Files.createTempDirectory("graft-feedboot-ck").toString
    val seen = java.util.Collections.synchronizedList(
      new java.util.ArrayList[(Long, String)]())
    def runBootstrap(): Set[(Long, String)] = {
      seen.clear()
      spark.readStream.format("graft.sources.FeedSource")
        .option("path", dir.toString).option("bootstrap", "true")
        .load()
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.select($"k", $"_change_type").collect()
            .foreach(r => seen.add((r.getLong(0), r.getString(1))))
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
      seen.asScala.toSet
    }
    val got1 = runBootstrap()
    assert(got1 == (0L to 49L).map((_, ChangeFeed.Insert)).toSet,
      s"bootstrap batch must be the snapshot: ${got1.size} rows")
    // new commits land; the SAME checkpoint resumes incrementally —
    // only the delta, never a second snapshot
    ManifestCommit.stageAndPublish(spark, dir, rows(1), _ => true,
      statsCols = Seq("k")).getOrElse(fail("publish"))
    ManifestCommit.deleteRange(spark, dir, "k", 5L, 9L, Seq("k"))
    val got2 = runBootstrap()
    assert(got2 == (1000L to 1049L).map((_, ChangeFeed.Insert)).toSet ++
      (5L to 9L).map((_, ChangeFeed.Delete)).toSet, s"delta run: $got2")
    // bootstrap + fromVersion is a contract violation, loudly
    val e2 = intercept[Exception] {
      spark.readStream.format("graft.sources.FeedSource")
        .option("path", dir.toString).option("bootstrap", "true")
        .option("fromVersion", "1").load()
        .writeStream.format("memory").queryName("fsboot3")
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    }
    def msgs(t: Throwable): String =
      if (t == null) "" else t.getMessage + " | " + msgs(t.getCause)
    assert(msgs(e2).contains("exclusive"), msgs(e2))
  }

  test("table feed: a leaf born mid-stream via df.write.partitionBy " +
      "(root-level _SUCCESS only — FileOutputCommitter never writes a " +
      "leaf-local marker for dynamic-partition appends) is adopted") {
    import graft.streaming.StreamingOps
    val root = Files.createTempDirectory("graft-feedtblpby").toString + "/t"
    spark.range(10).select($"id".as("k"), ($"id" * 2).as("v"),
        lit(1).as("day"))
      .write.partitionBy("day").parquet(root)
    val cursors = ChangeFeed.tableCursors(spark, root)
    // birth day=2 through the dynamic-partition APPEND path: the job's
    // _SUCCESS lands at the TABLE ROOT, the leaf itself carries no
    // marker — the round-13 adoption rule (leaf-local _SUCCESS only)
    // silently omitted this leaf from the feed forever
    spark.range(3).select(($"id" + 800).as("k"), ($"id" * 2).as("v"),
        lit(2).as("day"))
      .write.mode("append").partitionBy("day").parquet(root)
    val fs = new Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new Path(s"$root/day=2/_SUCCESS")),
      "precondition: partitionBy append must not write a leaf marker")
    assert(fs.exists(new Path(s"$root/_SUCCESS")),
      "precondition: the job marker lands at the root")
    val got = StreamingOps.streamFeedTable(spark, root, cursors)
      .select($"k", $"day").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(got == Set((800L, 2), (801L, 2), (802L, 2)), s"got=$got")
  }

  test("table feed offsets: leaf-path keys carrying JSON-special " +
      "characters round-trip the checkpointed vector exactly") {
    import graft.sources.TableFeedSource
    val m = Map("""day=a"b""" -> 3L, """day=c\d""" -> 7L, "day=1" -> 0L)
    val json = TableFeedSource.vectorJson(m)
    assert(TableFeedSource.parseVector(json) == m,
      s"round-trip failed: $json -> ${TableFeedSource.parseVector(json)}")
  }

  test("retention leases: a malformed lease file is SKIPPED by " +
      "pruneLog, never deleted (it could be a non-atomic-rename fs " +
      "mid-renewal); an expired one is reaped; renewal is " +
      "write-then-rename so the lease is never visibly empty") {
    val dir = new Path(
      Files.createTempDirectory("graft-leaseatomic").toString + "/t")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    (0 to 2).foreach { i =>
      ManifestCommit.stageAndPublish(spark, dir,
        Seq((i.toLong, 0L)).toDF("k", "v"), _ => true)
        .getOrElse(fail("publish"))
    }
    val logDir = new Path(dir, ManifestCommit.LogDirName)
    // hand-plant a malformed lease (what a torn write on a rename-less
    // filesystem could leave): prune must not trust OR destroy it
    val bad = new Path(logDir, ".lease-torn")
    val out = fs.create(bad, true)
    out.write("garbage-not-a-lease".getBytes("UTF-8")); out.close()
    // and a live lease pinning v1
    ManifestCommit.acquireLease(fs, dir, "live", 1L, 60000L)
    val kept = new String({
      val in = fs.open(new Path(logDir, ".lease-live"))
      try in.readAllBytes() finally in.close()
    }, "UTF-8")
    assert(kept.trim.split("\\s+").length == 2,
      s"lease must be complete on read: '$kept'")
    ManifestCommit.pruneLog(fs, dir, keepLast = 1)
    assert(fs.exists(bad), "malformed lease must be skipped, not deleted")
    assert(ManifestCommit.snapshotAt(fs, dir, 1L).isDefined,
      "the live lease must pin v1")
    // renewal overwrites atomically (FileContext OVERWRITE rename) and
    // an EXPIRED lease is reaped in passing at the next floor scan
    ManifestCommit.acquireLease(fs, dir, "live", 2L, 1L)
    Thread.sleep(5)
    ManifestCommit.pruneLog(fs, dir, keepLast = 1)
    assert(!fs.exists(new Path(logDir, ".lease-live")),
      "an expired lease is residue and must be reaped")
    assert(ManifestCommit.snapshotAt(fs, dir, 1L).isEmpty,
      "with the lease expired the old manifest prunes")
  }
}
