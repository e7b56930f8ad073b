package graft

import java.nio.file.Files

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.functions._

import graft.lake.{Compaction, GraftFileIndex, ManifestCommit}

/** Object-store commit protocol: every guarantee is exercised against the
  * simulated no-atomic-rename filesystem ([[ObjStoreSimFileSystem]]) —
  * readers resolve all-old or all-new through the MANIFEST, never through
  * rename atomicity the store doesn't have. */
class ManifestCommitSpec extends SparkSpec {
  import spark.implicits._

  private lazy val hc = {
    val c = spark.sparkContext.hadoopConfiguration
    c.set("fs.objsim.impl", classOf[ObjStoreSimFileSystem].getName)
    c
  }

  private def objsimFs: FileSystem = new Path("objsim:///").getFileSystem(hc)

  /** A y/m/d-partitioned table with `runs` appended runs (fragments) in
    * day=1 and one run in day=2; returns (tableRoot, fs). */
  private def fragmentedTable(scheme: String): (String, FileSystem) = {
    hc // register the objsim scheme before the first Spark write
    val local = Files.createTempDirectory("graft-manifest").toString
    val root = s"$scheme$local/tbl"
    val df = spark.range(200)
      .select($"id", ($"id" % 7).as("v"), lit(2024).as("year"),
        lit(1).as("month"), lit(1).as("day"))
    (1 to 3).foreach { _ =>
      df.coalesce(1).write.mode("append")
        .partitionBy("year", "month", "day").parquet(root)
    }
    df.withColumn("day", lit(2)).coalesce(1).write.mode("append")
      .partitionBy("year", "month", "day").parquet(root)
    (root, new Path(root).getFileSystem(hc))
  }

  private def rows(tableRoot: String): Seq[String] =
    GraftFileIndex.table(spark, tableRoot)
      .select("id", "v", "year", "month", "day")
      .orderBy("day", "id").collect().map(_.toString).toSeq

  /** Files the executed manifest scans of `df` opened: `numFiles` of
    * every [[GraftFileIndex]]-backed scan, AQE stages unwrapped (a DV
    * read's anti-join makes the plan adaptive). Sidecar scans are plain
    * parquet relations and do not count. */
  private def scannedFiles(df: org.apache.spark.sql.DataFrame): Long = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case f: FileSourceScanExec    => Seq(f)
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec        => scans(q.plan)
      case other                    => other.children.flatMap(scans)
    }
    df.collect()
    val manifestScans = scans(df.queryExecution.executedPlan)
      .filter(_.relation.location.isInstanceOf[GraftFileIndex])
    assert(manifestScans.nonEmpty, "no manifest file scan in plan")
    manifestScans.map(_.metrics("numFiles").value).sum
  }

  test("manifest compaction: identical contents, fewer files, originals GC'd") {
    val (root, fs) = fragmentedTable("objsim://")
    val before = rows(root)
    val day1 = new Path(s"$root/year=2024/month=1/day=1")
    def dataFiles(dir: Path) = fs.listStatus(dir).toSeq
      .map(_.getPath.getName)
      .filter(n => !n.startsWith("_") && !n.startsWith("."))
    assert(dataFiles(day1).size == 3, "precondition: 3 appends -> 3 files")
    val day2 = new Path(s"$root/year=2024/month=1/day=2")
    val day2Before = dataFiles(day2)

    val reports = Compaction.compactTableManifest(spark, root,
      maxFiles = 1, gcGraceMs = 0L)
    assert(reports.map(_.partition).forall(_.contains("day=1")),
      "only the fragmented partition is rewritten")
    assert(reports.head.filesAfter == 1)
    assert(rows(root) == before, "compaction must not change contents")
    val after = dataFiles(day1)
    assert(after.size == 1 &&
      after.head.startsWith(ManifestCommit.CompactedPrefix),
      s"grace-0 GC must leave only the compacted file, got $after")
    assert(dataFiles(day2) == day2Before, "day=2 untouched")
    // idempotent: nothing left to compact
    assert(Compaction.compactTableManifest(spark, root,
      maxFiles = 1, gcGraceMs = 0L).isEmpty)
  }

  test("crash mid-move: listing shows a mix, manifest reader sees all-old; rerun completes to all-new") {
    val (root, fs) = fragmentedTable("objsim://")
    val before = rows(root)
    val day1 = new Path(s"$root/year=2024/month=1/day=1")
    val snap = ManifestCommit.adoptNewFiles(fs, day1)
    assert(snap.files.size == 3)

    // replicate compactTableManifest's stage+move window with a crash
    // fuse armed during the per-file "rename" (copy+delete on this store)
    val staged = new Path(day1, "._compacting-crashtest")
    spark.read.parquet(snap.files.map(new Path(day1, _).toString): _*)
      .repartition(1).write.parquet(staged.toString)
    val parts = fs.listStatus(staged).map(_.getPath)
      .filter(_.getName.endsWith(".parquet"))
    ObjStoreSimFileSystem.fuse = 1 // survive the copy, die before delete
    intercept[ObjStoreSimFileSystem.SimulatedCrash] {
      parts.zipWithIndex.foreach { case (p, i) =>
        fs.rename(p, new Path(day1,
          s"${ManifestCommit.CompactedPrefix}crashtest-part$i.parquet"))
      }
    }
    ObjStoreSimFileSystem.fuse = -1
    // on disk: originals AND a half-moved compacted file coexist — the
    // non-atomic rename left a mix a directory-listing reader would see
    val names = fs.listStatus(day1).map(_.getPath.getName)
      .filter(n => !n.startsWith("_") && !n.startsWith("."))
    assert(names.exists(_.startsWith(ManifestCommit.CompactedPrefix)) &&
      names.count(!_.startsWith(ManifestCommit.CompactedPrefix)) == 3,
      s"expected mixed listing after crash, got ${names.toSeq}")
    // ...but the manifest reader still resolves exactly the old snapshot
    assert(rows(root) == before, "reader must see all-old after crash")

    // rerun: orphaned compact-* file + stale staging dir are collected,
    // compaction completes, reader sees all-new (same rows, one file)
    val reports = Compaction.compactTableManifest(spark, root,
      maxFiles = 1, gcGraceMs = 0L)
    assert(reports.nonEmpty)
    assert(rows(root) == before)
    val after = fs.listStatus(day1).map(_.getPath.getName)
      .filter(n => !n.startsWith("_") && !n.startsWith("."))
    assert(after.length == 1 && after.head.startsWith(ManifestCommit.CompactedPrefix))
    assert(!fs.exists(staged), "stale staging dir must be swept")
  }

  test("concurrent append between snapshot and commit is carried forward; losing compactor aborts") {
    val dir = new Path("objsim://" +
      Files.createTempDirectory("graft-mc-race").toString + "/day=1")
    val fs = objsimFs
    fs.mkdirs(dir)
    def touch(n: String): Unit = fs.create(new Path(dir, n), false).close()
    Seq("a.parquet", "b.parquet").foreach(touch)
    val v1 = ManifestCommit.bootstrap(fs, dir)
    assert(v1.version == 1 && v1.files.toSet == Set("a.parquet", "b.parquet"))

    // compactor-1 snapshots v1 and stages its output c...
    touch("compact-1-part0.parquet")
    // ...an appender lands d and commits first (v2)
    touch("d.parquet")
    val v2 = ManifestCommit.appendFiles(fs, dir, Seq("d.parquet"))
    assert(v2.version == 2)
    // compactor-1's replace re-bases onto v2: d survives, a/b tombstoned
    val v3 = ManifestCommit.replaceFiles(fs, dir, Set("a.parquet", "b.parquet"),
      Seq("compact-1-part0.parquet"), nowMs = 1000L)
    assert(v3.exists(s => s.version == 3 &&
      s.files.toSet == Set("d.parquet", "compact-1-part0.parquet")))

    // compactor-2 read the same v1 read-set; its replace must abort (None)
    touch("compact-2-part0.parquet")
    assert(ManifestCommit.replaceFiles(fs, dir, Set("a.parquet", "b.parquet"),
      Seq("compact-2-part0.parquet"), nowMs = 1000L).isEmpty)

    // GC honors grace: at now=1000+grace-1 the tombstoned a/b survive,
    // at now=1000+grace they go; unreferenced compact-2 orphan goes by
    // mod-time age; d and compact-1 (live) always survive
    val grace = 60000L
    assert(ManifestCommit.gc(fs, dir, grace, nowMs = 1000L + grace - 1)
      .forall(n => !Set("a.parquet", "b.parquet", "d.parquet").contains(n)))
    assert(fs.exists(new Path(dir, "a.parquet")))
    val dead = ManifestCommit.gc(fs, dir, grace,
      nowMs = System.currentTimeMillis() + grace)
    assert(dead.toSet.intersect(Set("a.parquet", "b.parquet")) ==
      Set("a.parquet", "b.parquet"))
    assert(!fs.exists(new Path(dir, "compact-2-part0.parquet")),
      "unreferenced compact-* orphan must be collected")
    assert(fs.exists(new Path(dir, "d.parquet")) &&
      fs.exists(new Path(dir, "compact-1-part0.parquet")))
  }

  test("torn manifest (non-atomic store write) is skipped by readers and reclaimed by committers") {
    val dir = new Path("objsim://" +
      Files.createTempDirectory("graft-mc-torn").toString + "/day=1")
    val fs = objsimFs
    fs.mkdirs(dir)
    fs.create(new Path(dir, "a.parquet"), false).close()
    val v1 = ManifestCommit.bootstrap(fs, dir)
    assert(v1.files == Seq("a.parquet"))
    // a committer died mid-write: v2 exists but its counts don't match
    val torn = new Path(dir, s"${ManifestCommit.LogDirName}/v00000002.manifest")
    val out = fs.create(torn, false)
    out.write("#graft 1 2 0\nA b.parquet".getBytes("UTF-8")); out.close()
    assert(ManifestCommit.currentSnapshot(fs, dir).contains(v1),
      "torn head manifest must fall back to the last valid version")
    // the slot is reclaimable once LOCALLY observed stale (a fresh
    // invalid slot is presumed to be an in-flight writer and waited out
    // — reclaiming it would destroy a concurrent commit): seed the
    // stability ledger as if this process had watched the unchanged
    // slot for a full grace window, then a fresh commit of v2 wins it
    val st = fs.getFileStatus(torn)
    ManifestCommit.noteTornObservation(torn, st.getLen,
      st.getModificationTime,
      System.currentTimeMillis() - ManifestCommit.TornSlotGraceMs - 1000)
    fs.create(new Path(dir, "b.parquet"), false).close()
    val v2 = ManifestCommit.appendFiles(fs, dir, Seq("b.parquet"))
    assert(v2.version == 2 && v2.files.toSet == Set("a.parquet", "b.parquet"))
  }

  test("dual-reclaimer race on one stale torn slot loses no commit") {
    val dir = new Path("objsim://" +
      Files.createTempDirectory("graft-mc-torn2").toString + "/day=1")
    val fs = objsimFs
    fs.mkdirs(dir)
    fs.create(new Path(dir, "a.parquet"), false).close()
    ManifestCommit.bootstrap(fs, dir)
    val torn = new Path(dir, s"${ManifestCommit.LogDirName}/v00000002.manifest")
    val out = fs.create(torn, false)
    out.write("#graft 9 9 9".getBytes("UTF-8")); out.close()
    val st = fs.getFileStatus(torn)
    ManifestCommit.noteTornObservation(torn, st.getLen,
      st.getModificationTime,
      System.currentTimeMillis() - ManifestCommit.TornSlotGraceMs - 1000)
    fs.create(new Path(dir, "b.parquet"), false).close()
    fs.create(new Path(dir, "c.parquet"), false).close()
    // two committers observe the SAME reclaim-eligible slot and race:
    // the rename-aside claim is single-winner, so the slower reclaimer
    // can never delete the faster one's just-recreated valid manifest —
    // both appends must land (the loser retries into v3)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val ts = Seq("b.parquet", "c.parquet").map { n =>
      val t = new Thread(() =>
        try { ManifestCommit.appendFiles(fs, dir, Seq(n)); () }
        catch { case e: Throwable => errors.add(e) })
      t.start(); t
    }
    ts.foreach(_.join(120000))
    assert(errors.isEmpty, s"committer failed: ${errors.peek()}")
    val head = ManifestCommit.currentSnapshot(fs, dir).get
    assert(head.files.toSet == Set("a.parquet", "b.parquet", "c.parquet"),
      s"lost commit: ${head.files}")
  }

  test("interop: listing-mode partitions read through GraftFileIndex.table; adopt picks up plain appends") {
    val (root, fs) = fragmentedTable("file://")
    // no log anywhere yet: the manifest read == plain listing read
    val plain = spark.read.parquet(root)
      .select("id", "v", "year", "month", "day")
      .orderBy("day", "id").collect().map(_.toString).toSeq
    assert(rows(root) == plain)
    // compact day=1 under the manifest, then a plain Lake-style append
    // lands a new file; adoptNewFiles folds it into the live set
    Compaction.compactTableManifest(spark, root, maxFiles = 1, gcGraceMs = 0L)
    val day1 = new Path(s"$root/year=2024/month=1/day=1")
    spark.range(5).select($"id", ($"id" % 7).as("v"))
      .coalesce(1).write.mode("append").parquet(day1.toString)
    val adopted = ManifestCommit.adoptNewFiles(fs, day1)
    assert(adopted.files.exists(n => !n.startsWith(ManifestCommit.CompactedPrefix)),
      "plain append must join the live set")
    assert(GraftFileIndex.table(spark, root).count() == plain.size + 5)
  }

  test("manifest column stats: pruned read touches only intersecting files, stats survive commits") {
    import graft.ops.Layout
    hc
    val local = Files.createTempDirectory("graft-manifest-stats").toString
    val root = s"file://$local/tbl"
    val dir = new Path(root)
    // 16 range-ordered files on x — each file covers a narrow x band
    val df = spark.range(16000).select($"id".as("k"),
      ($"id" % 1600).as("x"), ($"id" % 37).as("v"))
    Layout.writeLinear(df, col("x"), root, 16)
    val fs = dir.getFileSystem(hc)
    val snap = ManifestCommit.bootstrap(fs, dir)
    assert(snap.files.size == 16)
    // commit-time stats from the just-written footers
    ManifestCommit.recordStats(spark, dir, Seq("x", "v"))
    val stats = ManifestCommit.currentFileStats(fs, dir)
    assert(stats.size == 16 && stats.values.forall(_.exists(_.col == "x")))
    // pruned read: a narrow x range must touch few files...
    val t = GraftFileIndex.table(spark, root)
    val pruned = t.filter($"x".between(0L, 99L))
    val prunedFiles = scannedFiles(pruned)
    assert(prunedFiles <= 3, s"expected <= 3 files, scanned $prunedFiles")
    // ...and still return exactly the predicate's rows
    assert(pruned.count() == df.filter($"x" <= 99).count())
    // a range on the UNSORTED column prunes nothing (every file spans v)
    assert(scannedFiles(t.filter($"v".between(0L, 1L))) == 16)
    // stats survive an append commit of a fresh file
    spark.range(5).select($"id".as("k"), lit(9999L).as("x"),
      lit(0L).as("v")).coalesce(1).write.mode("append").parquet(root)
    ManifestCommit.adoptNewFiles(fs, dir)
    val after = ManifestCommit.currentFileStats(fs, dir)
    assert(stats.forall { case (n, s) => after.get(n).contains(s) },
      "pre-existing stats must survive the append commit")
    // the fresh file has no stats -> conservatively read by any range
    assert(scannedFiles(GraftFileIndex.table(spark, root)
      .filter($"x".between(0L, 99L))) <= 4)
  }

  test("targeted delete rewrites only stats-intersecting files; time travel sees pre-delete") {
    import graft.ops.Layout
    hc
    val local = Files.createTempDirectory("graft-manifest-del").toString
    val root = s"file://$local/tbl"
    val dir = new Path(root)
    val df = spark.range(16000).select($"id".as("k"), ($"id" % 37).as("v"))
    Layout.writeLinear(df, col("k"), root, 16)
    val fs = dir.getFileSystem(hc)
    ManifestCommit.bootstrap(fs, dir)
    val pre = ManifestCommit.recordStats(spark, dir, Seq("k"))
    // delete k in [1000, 1999]: k-ordered 16-file layout -> ~2 files
    val (touched, liveAfter) =
      ManifestCommit.deleteRange(spark, dir, "k", 1000L, 1999L, Seq("k"))
    assert(touched >= 1 && touched <= 3,
      s"delete should touch a handful of files, touched $touched")
    val now = ManifestCommit.currentSnapshot(fs, dir).get
    assert(now.files.size == liveAfter)
    // untouched originals keep their exact file names
    val untouchedKept = pre.files.count(now.files.contains)
    assert(untouchedKept == pre.files.size - touched)
    // content: exactly the anti-range remains
    val got = GraftFileIndex.table(spark, root)
    assert(got.filter($"k".between(1000, 1999)).count() == 0L)
    assert(got.count() == 15000L)
    // rewritten files re-entered WITH stats (prunable again)
    assert(scannedFiles(got.filter($"k".between(0L, 10L))) <= 3)
    // time travel: the pre-delete version still serves all 16000 rows
    assert(ManifestCommit.readTableAt(spark, root, pre.version)
      .count() == 16000L)
    // after GC (grace 0), the pre-delete version's files are collected
    ManifestCommit.gc(fs, dir, graceMs = 0L)
    intercept[Exception] {
      ManifestCommit.readTableAt(spark, root, pre.version).count()
    }
    // but the current version is untouched by GC
    assert(GraftFileIndex.table(spark, root).count() == 15000L)
  }

  test("manifest blooms: equality skipping on an unclustered column") {
    import graft.ops.Layout
    hc
    val local = Files.createTempDirectory("graft-manifest-bloom").toString
    val root = s"file://$local/tbl"
    val dir = new Path(root)
    // cluster on x; k is scattered across all files (k = id, x = id%16
    // means each x-file holds every 16th k — min/max on k spans nearly
    // the whole domain in every file)
    val df = spark.range(16000).select($"id".as("k"), ($"id" % 16).as("x"))
    Layout.writeLinear(df, col("x"), root, 16)
    val fs = dir.getFileSystem(hc)
    ManifestCommit.bootstrap(fs, dir)
    ManifestCommit.recordStats(spark, dir, Seq("k"))
    ManifestCommit.recordBlooms(spark, dir, "k")
    // stats CANNOT prune a point probe on k (a range predicate consults
    // stats only)...
    val t = GraftFileIndex.table(spark, root)
    assert(scannedFiles(t.filter($"k".between(777L, 777L))) >= 14)
    // ...the bloom can: k=777 lives in exactly one file; a false
    // positive may add a couple more, never fewer
    val eq = t.filter($"k" === 777L)
    val eqFiles = scannedFiles(eq)
    assert(eqFiles <= 3, s"bloom should prune to ~1 file, got $eqFiles")
    assert(eq.count() == 1L)
    // an absent value answers empty, schema intact, possibly zero files
    val none = t.filter($"k" === 999999L)
    assert(none.count() == 0L)
    assert(none.columns.toSeq == Seq("k", "x"))
    // blooms survive an unrelated recommit, and recording a SECOND
    // column's stats merges per column — k's stats survive x's
    ManifestCommit.recordStats(spark, dir, Seq("x"))
    assert(scannedFiles(GraftFileIndex.table(spark, root)
      .filter($"k" === 777L)) <= 3)
    val merged = ManifestCommit.currentFileStats(fs, dir)
    assert(merged.values.forall(ss =>
      ss.exists(_.col == "k") && ss.exists(_.col == "x")),
      "column-granular stats merge lost a column")
  }

  test("pruneLog checkpoints the metadata; uncollected tombstones block pruning") {
    hc
    val local = Files.createTempDirectory("graft-manifest-prune").toString
    val dir = new Path(s"file://$local/p")
    val fs = dir.getFileSystem(hc)
    fs.mkdirs(dir)
    // v1: two files; v2: replace a with c (a tombstoned); v3: append d
    Seq("a", "b").foreach(n => fs.create(new Path(dir, s"$n.parquet"), false).close())
    ManifestCommit.bootstrap(fs, dir)
    fs.create(new Path(dir, "compact-c.parquet"), false).close()
    ManifestCommit.replaceFiles(fs, dir, Set("a.parquet"),
      Seq("compact-c.parquet"))
    fs.create(new Path(dir, "d.parquet"), false).close()
    ManifestCommit.appendFiles(fs, dir, Seq("d.parquet"))
    // a.parquet still on disk: v2's tombstone record must survive, so
    // only v1 (no tombstones) may prune
    assert(ManifestCommit.pruneLog(fs, dir, keepLast = 1) == Seq(1L))
    // after gc collects a.parquet, v2 prunes too
    ManifestCommit.gc(fs, dir, graceMs = 0L)
    assert(!fs.exists(new Path(dir, "a.parquet")))
    assert(ManifestCommit.pruneLog(fs, dir, keepLast = 1) == Seq(2L))
    // the head still resolves, history below it is gone
    val head = ManifestCommit.currentSnapshot(fs, dir).get
    assert(head.version == 3L &&
      head.files.toSet == Set("b.parquet", "compact-c.parquet", "d.parquet"))
    assert(ManifestCommit.snapshotAt(fs, dir, 1L).isEmpty)
  }

  test("retention lease: an unexpired lease pins its version against " +
      "pruneLog; release or expiry lifts the pin") {
    hc
    val local = Files.createTempDirectory("graft-manifest-lease").toString
    val dir = new Path(s"file://$local/p")
    val fs = dir.getFileSystem(hc)
    fs.mkdirs(dir)
    fs.create(new Path(dir, "a.parquet"), false).close()
    ManifestCommit.bootstrap(fs, dir) // v1
    (2 to 4).foreach { i =>
      fs.create(new Path(dir, s"f$i.parquet"), false).close()
      ManifestCommit.appendFiles(fs, dir, Seq(s"f$i.parquet"))
    }
    // a consumer (mid-bootstrap or slow cursor) pins v2: pruneLog may
    // drop BELOW the lease floor but must refuse v2 and everything
    // after — the pinned snapshot stays replayable
    ManifestCommit.acquireLease(fs, dir, "c1", 2L, ttlMs = 60000L)
    assert(ManifestCommit.pruneLog(fs, dir, keepLast = 1) == Seq(1L))
    assert(ManifestCommit.snapshotAt(fs, dir, 2L).isDefined,
      "the leased version must survive the prune")
    // a second consumer's HIGHER pin does not loosen the first's floor
    ManifestCommit.acquireLease(fs, dir, "c2", 3L, ttlMs = 60000L)
    assert(ManifestCommit.pruneLog(fs, dir, keepLast = 1).isEmpty)
    // release c1: the floor rises to c2's pin, v2 prunes
    ManifestCommit.releaseLease(fs, dir, "c1")
    assert(ManifestCommit.pruneLog(fs, dir, keepLast = 1) == Seq(2L))
    // an EXPIRED lease is residue, not a pin: v3 prunes and the dead
    // lease file is swept in passing; the post-prune read of the
    // pruned cursor stays loud (the pre-lease behavior)
    ManifestCommit.acquireLease(fs, dir, "c2", 3L, ttlMs = 1L)
    Thread.sleep(5L)
    assert(ManifestCommit.pruneLog(fs, dir, keepLast = 1) == Seq(3L))
    assert(!fs.exists(new Path(dir, "_graft_log/.lease-c2")),
      "expired lease residue must be swept")
    assert(ManifestCommit.snapshotAt(fs, dir, 3L).isEmpty)
    val e = intercept[RuntimeException](
      ManifestCommit.commitsBetween(fs, dir, 3L, 4L))
    assert(e.getMessage.contains("full resync required"), e.getMessage)
  }

  test("write-audit-publish: rejected batch leaves no trace, accepted publishes once") {
    hc
    val local = Files.createTempDirectory("graft-manifest-wap").toString
    val dir = new Path(s"file://$local/tbl")
    val fs = dir.getFileSystem(hc)
    val good = spark.range(100).select($"id".as("k"), ($"id" * 2).as("v"))
    val bad = good.withColumn("k",
      org.apache.spark.sql.functions.when($"k" % 2 === 0, $"k"))
    def noNulls(df: org.apache.spark.sql.DataFrame) =
      df.filter($"k".isNull).isEmpty
    // reject: table stays EMPTY, no stray visible data files
    assert(ManifestCommit.stageAndPublish(spark, dir, bad, noNulls).isEmpty)
    assert(ManifestCommit.currentSnapshot(fs, dir).get.files.isEmpty)
    assert(!fs.listStatus(dir).exists(st =>
      !st.isDirectory && !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith(".")))
    // publish: exactly the audited rows, stats recorded for pruning
    val snap = ManifestCommit.stageAndPublish(spark, dir, good, noNulls,
      statsCols = Seq("k"))
    assert(snap.nonEmpty && snap.get.files.nonEmpty)
    assert(GraftFileIndex.table(spark, dir.toString).count() == 100L)
    val stats = ManifestCommit.currentFileStats(fs, dir)
    assert(snap.get.files.forall(n =>
      stats.getOrElse(n, Nil).exists(_.col == "k")))
  }

  test("targeted delete keeps NULL-key rows (ADVICE r8: !between drops NULLs)") {
    hc
    val local = Files.createTempDirectory("graft-manifest-delnull").toString
    val root = s"file://$local/tbl"
    val dir = new Path(root)
    // every 10th key NULL: a GDPR delete of [100, 199] must remove the
    // 90 non-null in-range rows and NONE of the 100 null-key rows
    val df = spark.range(1000).select(
      when($"id" % 10 === 0, lit(null)).otherwise($"id")
        .cast("long").as("k"),
      ($"id" % 7).as("v"))
    df.coalesce(2).write.parquet(root)
    val fs = dir.getFileSystem(hc)
    ManifestCommit.bootstrap(fs, dir)
    ManifestCommit.recordStats(spark, dir, Seq("k"))
    ManifestCommit.deleteRange(spark, dir, "k", 100L, 199L, Seq("k"))
    val got = GraftFileIndex.table(spark, root)
    assert(got.filter($"k".between(100, 199)).count() == 0L,
      "in-range rows must be deleted")
    assert(got.filter($"k".isNull).count() == 100L,
      "NULL-key rows must survive a range delete")
    assert(got.count() == 910L)
  }

  test("adoptNewFiles never adopts an uncommitted compact-* file") {
    hc
    val dir = new Path("file://" +
      Files.createTempDirectory("graft-mc-adopt").toString + "/p")
    val fs = dir.getFileSystem(hc)
    fs.mkdirs(dir)
    def touch(n: String): Unit = fs.create(new Path(dir, n), false).close()
    touch("a.parquet")
    ManifestCommit.bootstrap(fs, dir)
    // an in-flight deleteRange/compaction has renamed its output into the
    // partition but not committed yet — adoption must leave it alone
    touch("compact-del-infl-part0.parquet")
    val snap = ManifestCommit.adoptNewFiles(fs, dir)
    assert(snap.files == Seq("a.parquet"),
      s"in-flight compact-* file adopted: ${snap.files}")
    // the producer's own commit is the only way in; a later adopt sweep
    // then sees it as known (live), no duplicate entry
    val replaced = ManifestCommit.replaceFiles(fs, dir, Set("a.parquet"),
      Seq("compact-del-infl-part0.parquet"))
    assert(replaced.exists(_.files == Seq("compact-del-infl-part0.parquet")))
    val again = ManifestCommit.adoptNewFiles(fs, dir)
    assert(again.files == Seq("compact-del-infl-part0.parquet"))
  }

  test("replaceFiles dedupes produced names already live") {
    hc
    val dir = new Path("file://" +
      Files.createTempDirectory("graft-mc-dedupe").toString + "/p")
    val fs = dir.getFileSystem(hc)
    fs.mkdirs(dir)
    def touch(n: String): Unit = fs.create(new Path(dir, n), false).close()
    Seq("a.parquet", "compact-c.parquet").foreach(touch)
    ManifestCommit.bootstrap(fs, dir)
    // a retry/racer hands replaceFiles a produced name that is already
    // live: the manifest must list it ONCE (a duplicate A entry would
    // double-read its rows)
    val snap = ManifestCommit.replaceFiles(fs, dir, Set("a.parquet"),
      Seq("compact-c.parquet")).get
    assert(snap.files.count(_ == "compact-c.parquet") == 1,
      s"duplicate live entry: ${snap.files}")
    assert(snap.files == Seq("compact-c.parquet"))
  }

  test("torn bloom tail invalidates the manifest (header bloom count)") {
    hc
    val dir = new Path("file://" +
      Files.createTempDirectory("graft-mc-tornbloom").toString + "/p")
    val fs = dir.getFileSystem(hc)
    fs.mkdirs(dir)
    fs.create(new Path(dir, "a.parquet"), false).close()
    val v1 = ManifestCommit.bootstrap(fs, dir)
    // a committer died inside the F section: header promises 2 bloom
    // lines, only 1 landed — the manifest must NOT validate (pre-round-9
    // this passed as a commit with silently-partial blooms)
    val torn = new Path(dir, s"${ManifestCommit.LogDirName}/v00000002.manifest")
    val out = fs.create(torn, false)
    out.write(("#graft 1 1 0 2\nA a.parquet\n" +
      "F a.parquet\tk:8192:4:00").getBytes("UTF-8"))
    out.close()
    assert(ManifestCommit.currentSnapshot(fs, dir).contains(v1),
      "manifest with a torn bloom tail must fall back to the last valid version")
  }

  test("stale WAP staging on an UNPARTITIONED table is swept") {
    hc
    val local = Files.createTempDirectory("graft-mc-wapsweep").toString
    val root = s"file://$local/tbl"
    val dir = new Path(root)
    spark.range(10).select($"id".as("k")).coalesce(1).write.parquet(root)
    val fs = dir.getFileSystem(hc)
    ManifestCommit.bootstrap(fs, dir)
    // a crashed audit's staging dir (no day= partitions anywhere):
    // pre-round-9 the sweep only visited day= leaves and never collected
    // this — the q169 shape
    val stale = new Path(dir, "._compacting-wap-crashed")
    fs.mkdirs(stale)
    fs.create(new Path(stale, "part0.parquet"), false).close()
    Compaction.compactTableManifest(spark, root, gcGraceMs = 0L)
    assert(!fs.exists(stale),
      "crashed WAP staging dir on an unpartitioned table must be swept")
    assert(GraftFileIndex.table(spark, root).count() == 10L)
  }

  test("clustered compaction keeps the layout prunable") {
    import graft.ops.Layout
    hc
    val local = Files.createTempDirectory("graft-manifest-cc").toString
    val root = s"file://$local/tbl"
    val part = s"$root/day=1"
    val df = spark.range(16000).select($"id".as("k"), ($"id" % 37).as("v"))
    // three interleaved fragmented appends: every file spans the whole
    // key domain, so nothing prunes before compaction
    (0 until 3).foreach { r =>
      df.filter($"k" % 3 === r).coalesce(4)
        .write.mode("append").parquet(part)
    }
    val fs = new Path(root).getFileSystem(hc)
    val before = ManifestCommit.adoptNewFiles(fs, new Path(part))
    assert(before.files.size == 12)
    // tiny target bytes forces multiple sorted output files
    Compaction.compactTableManifest(spark, root, maxFiles = 4,
      targetFileBytes = 32 * 1024, gcGraceMs = 0L, sortCol = Some("k"))
    val after = ManifestCommit.currentSnapshot(fs, new Path(part)).get
    assert(after.files.size > 1 && after.files.size < 12,
      s"expected several sorted files, got ${after.files.size}")
    // the range-partitioned rewrite re-earned its stats: a narrow key
    // range touches a strict subset of files
    val t = GraftFileIndex.table(spark, root)
    val pruned = t.filter($"k".between(0L, 999L))
    val prunedFiles = scannedFiles(pruned)
    assert(prunedFiles < after.files.size,
      s"$prunedFiles of ${after.files.size} files")
    assert(pruned.count() == 1000L)
    // content identical to the pre-compaction table
    assert(t
      .select("k", "v").orderBy("k").collect().toSeq ==
      df.orderBy("k").collect().toSeq)
  }

  test("deletion vectors: merge-on-read delete, cumulative union, " +
      "rewrite clears, sidecars GC'd") {
    import graft.ops.Layout
    hc
    val local = Files.createTempDirectory("graft-manifest-dv").toString
    val root = s"file://$local/tbl"
    val dir = new Path(root)
    val df = spark.range(16000).select($"id".as("k"), ($"id" % 37).as("v"))
    Layout.writeLinear(df, col("k"), root, 16)
    val fs = dir.getFileSystem(hc)
    ManifestCommit.bootstrap(fs, dir)
    val pre = ManifestCommit.recordStats(spark, dir, Seq("k"))
    val (touched, nDel) =
      ManifestCommit.deleteWhereDV(spark, dir, "k", 1000L, 1999L)
    assert(nDel == 1000L)
    assert(touched >= 1 && touched <= 3,
      s"stats should bound the position scan, touched $touched")
    // merge-on-read: the live DATA set is byte-identical, only sidecars
    val snap1 = ManifestCommit.currentSnapshot(fs, dir).get
    assert(snap1.files == pre.files, "no data file may move")
    assert(ManifestCommit.currentDvs(fs, dir).nonEmpty)
    // the read subtracts the sidecars: the post-delete table (a bare
    // scan would resurrect the deleted rows — round-11 guard)
    val dvRead = GraftFileIndex.table(spark, root)
    assert(dvRead.count() == 15000L)
    assert(dvRead.filter($"k".between(1000, 1999)).count() == 0L)
    // time travel to the MERGE-ON-READ version is its LOGICAL state:
    // the version's sidecars are subtracted, never resurrected
    val atV = ManifestCommit.currentSnapshot(fs, dir).get.version
    val tt = ManifestCommit.readTableAt(spark, root, atV)
    assert(tt.count() == 15000L &&
      tt.filter($"k".between(1000, 1999)).count() == 0L,
      "time travel must apply the version's deletion vectors")
    // ... while travel to the PRE-delete version still sees all rows
    assert(ManifestCommit.readTableAt(spark, root, pre.version)
      .count() == 16000L)
    // second delete accumulates at the FILE level (no sidecar merge)
    val dvs1 = ManifestCommit.currentDvs(fs, dir)
    val (_, nDel2) =
      ManifestCommit.deleteWhereDV(spark, dir, "k", 3000L, 3499L)
    assert(nDel2 == 500L)
    val dvs2 = ManifestCommit.currentDvs(fs, dir)
    assert(dvs1.toSet.subsetOf(dvs2.toSet) && dvs2.size > dvs1.size)
    val dvRead2 = GraftFileIndex.table(spark, root)
    assert(dvRead2.count() == 14500L)
    assert(dvRead2.filter($"k".between(3000, 3499)).count() == 0L)
    // the change feed replays BOTH dv deletes exactly (sidecar semi-join)
    val feed = graft.lake.ChangeFeed.changeFeed(spark, dir,
      pre.version, ManifestCommit.currentSnapshot(fs, dir).get.version)
    val deleted = feed.filter($"_change_type" === "delete")
    assert(deleted.count() == 1500L)
    assert(deleted.filter($"k".between(1000, 1999)).count() == 1000L)
    assert(deleted.filter($"k".between(3000, 3499)).count() == 500L)
    // copy-on-write conversion: rewrite named files, drop every sidecar
    val (rewritten, dropped) = ManifestCommit.applyDvs(spark, dir, Seq("k"))
    assert(dropped == dvs2.size && rewritten >= 1)
    assert(ManifestCommit.currentDvs(fs, dir).isEmpty)
    val plain = GraftFileIndex.table(spark, root)
    assert(plain.count() == 14500L)
    assert(plain.filter($"k".between(1000, 1999) ||
      $"k".between(3000, 3499)).count() == 0L)
    // rewritten files re-earned stats; untouched files still prune
    assert(scannedFiles(plain.filter($"k".between(0L, 10L))) <= 3)
    // dropped sidecars are tombstoned: gc collects them with grace 0
    ManifestCommit.gc(fs, dir, graceMs = 0L)
    val left = fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .filter(_.startsWith(ManifestCommit.DvPrefix))
    assert(left.isEmpty, s"sidecars must be collected, found $left")
    assert(GraftFileIndex.table(spark, root).count() == 14500L)
  }

  test("txn watermarks: replayed batches no-op, watermark survives " +
      "unrelated commits") {
    hc
    val local = Files.createTempDirectory("graft-manifest-txn").toString
    val dir = new Path(s"file://$local/tbl")
    val fs = dir.getFileSystem(hc)
    def land(name: String, from: Long, n: Long): String = {
      val staged = new Path(dir, s"._land-$name")
      spark.range(from, from + n).toDF("k").coalesce(1)
        .write.parquet(staged.toString)
      val part = fs.listStatus(staged).toSeq
        .find(_.getPath.getName.endsWith(".parquet")).get.getPath
      fs.rename(part, new Path(dir, name)); fs.delete(staged, true)
      name
    }
    ManifestCommit.bootstrap(fs, dir)
    val s1 = ManifestCommit.appendFiles(fs, dir,
      Seq(land("compact-txn-a-0-x-part0.parquet", 0L, 10L)),
      txn = Some(("app", 0L)))
    assert(s1.files.size == 1)
    // replay of batch 0 (a retry landed a SECOND copy of the rows):
    // the commit must no-op and the duplicate file must stay dead
    val dup = land("compact-txn-a-0-y-part0.parquet", 0L, 10L)
    val s2 = ManifestCommit.appendFiles(fs, dir, Seq(dup),
      txn = Some(("app", 0L)))
    assert(s2.files == s1.files, "replayed batch must not commit")
    assert(GraftFileIndex.table(spark, dir.toString).count() == 10L)
    // the next batch commits; an unrelated meta commit keeps the mark
    ManifestCommit.appendFiles(fs, dir,
      Seq(land("compact-txn-a-1-x-part0.parquet", 10L, 5L)),
      txn = Some(("app", 1L)))
    ManifestCommit.recordStats(spark, dir, Seq("k"))
    assert(ManifestCommit.lastTxnVersion(fs, dir, "app").contains(1L))
    val s3 = ManifestCommit.appendFiles(fs, dir,
      Seq(land("compact-txn-a-0-z-part0.parquet", 0L, 10L)),
      txn = Some(("app", 0L)))
    assert(GraftFileIndex.table(spark, dir.toString).count() == 15L)
    assert(s3.files.size == 2)
    // a second app's watermark is independent
    assert(ManifestCommit.lastTxnVersion(fs, dir, "other").isEmpty)
    // the dead replay files are unreferenced compact-* orphans: gc eats
    // them once stale, and the live table is untouched
    val doomed = ManifestCommit.gc(fs, dir, graceMs = 0L)
    assert(doomed.toSet ==
      Set("compact-txn-a-0-y-part0.parquet", "compact-txn-a-0-z-part0.parquet"))
    assert(GraftFileIndex.table(spark, dir.toString).count() == 15L)
  }

  test("FileIndex: ordinary filters prune files via manifest stats, " +
      "blooms, and partition dirs") {
    import graft.ops.Layout
    hc
    // (a) range pruning: k-ordered 16-file layout, stats on k — a plain
    // .filter range must reach listFiles and select ~1/16 of the files
    val local = Files.createTempDirectory("graft-fileindex").toString
    val root = s"file://$local/tbl"
    val dir = new Path(root)
    val df16 = spark.range(16000).select($"id".as("k"), ($"id" % 37).as("v"))
    Layout.writeLinear(df16, col("k"), root, 16)
    val fs = dir.getFileSystem(hc)
    ManifestCommit.bootstrap(fs, dir)
    ManifestCommit.recordStats(spark, dir, Seq("k"))
    val t = GraftFileIndex.table(spark, root)
    assert(t.count() == 16000L)
    val ranged = t.filter($"k".between(1000, 1999))
    assert(ranged.count() == 1000L)
    assert(scannedFiles(ranged) <= 3,
      "range predicate must prune through the manifest stats")
    // (b) bloom point probe on an UNCLUSTERED column (stats useless)
    val local2 = Files.createTempDirectory("graft-fileindex-bloom").toString
    val root2 = s"file://$local2/tbl"
    val dir2 = new Path(root2)
    val dfb = spark.range(16000).select($"id".as("k"), ($"id" % 16).as("x"))
    Layout.writeLinear(dfb, col("x"), root2, 16)
    ManifestCommit.bootstrap(fs, dir2)
    ManifestCommit.recordStats(spark, dir2, Seq("k"))
    ManifestCommit.recordBlooms(spark, dir2, "k")
    val probe = GraftFileIndex.table(spark, root2).filter($"k" === 777L)
    assert(probe.count() == 1L)
    assert(scannedFiles(probe) <= 3,
      "equality probe must prune through the manifest blooms")
    // (c) partition pruning: y/m/d dirs become partition COLUMNS and a
    // day predicate prunes whole directories before any stats
    val (proot, pfs) = fragmentedTable("file://")
    Seq("day=1", "day=2").foreach(d => ManifestCommit.bootstrap(pfs,
      new Path(s"$proot/year=2024/month=1/$d")))
    val pt = GraftFileIndex.table(spark, proot)
    assert(pt.columns.contains("day"))
    assert(pt.count() == 800L)
    val day2 = pt.filter($"day" === 2)
    assert(day2.count() == 200L)
    assert(scannedFiles(day2) == 1L,
      "day=2 holds one file; day=1's three must prune away")
    // (d) a table with ACTIVE deletion vectors is read minus its
    // sidecars, never as a bare scan
    ManifestCommit.deleteWhereDV(spark, dir, "k", 0L, 9L)
    val dvT = GraftFileIndex.table(spark, root)
    assert(dvT.count() == 15990L)
    assert(dvT.filter($"k" < 10).count() == 0L)
  }

  test("SQL scan planning reads each leaf's manifest once: a pushed " +
      "point probe over three leaves with stats and blooms opens three " +
      "manifests") {
    import org.apache.spark.sql.sources.EqualTo
    import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
    hc
    val local = Files.createTempDirectory("graft-manifest-opens").toString
    val root = s"objsim://$local/tbl"
    val fs = objsimFs
    (1 to 3).foreach { d =>
      val leaf = new Path(s"$root/day=$d")
      spark.range(100).select(($"id" + d * 1000L).as("k"),
          ($"id" % 7).as("g"))
        .repartition(2).write.parquet(leaf.toString)
      ManifestCommit.bootstrap(fs, leaf)
      ManifestCommit.recordStats(spark, leaf, Seq("k"))
      ManifestCommit.recordBlooms(spark, leaf, "k")
    }
    val scan = new graft.lake.GraftSqlScan(root, StructType(Seq(
      StructField("k", LongType), StructField("g", LongType),
      StructField("day", IntegerType))), partCols = Seq("day"))
    scan.pushFilters(Array(EqualTo("k", 2015L)))
    ObjStoreSimFileSystem.manifestOpens.set(0)
    val parts = scan.planInputPartitions()
    assert(ObjStoreSimFileSystem.manifestOpens.get == 3,
      s"${ObjStoreSimFileSystem.manifestOpens.get} manifest opens for " +
        "three leaves — the live set, stats, blooms and sidecars must " +
        "come from one read per leaf")
    // day=1 and day=3 prune by stats; day=2 keeps the file holding 2015
    assert(parts.nonEmpty)
  }

  test("deletion vectors: NULL keys survive; adoption never eats a sidecar") {
    hc
    val local = Files.createTempDirectory("graft-manifest-dvnull").toString
    val dir = new Path(s"file://$local/tbl")
    Seq((Some(1L), "a"), (None, "b"), (Some(50L), "c"), (Some(500L), "d"))
      .toDF("k", "v").coalesce(1).write.parquet(dir.toString)
    val fs = dir.getFileSystem(hc)
    ManifestCommit.bootstrap(fs, dir)
    val (_, nDel) = ManifestCommit.deleteWhereDV(spark, dir, "k", 0L, 100L)
    assert(nDel == 2L, "1 and 50 die; the NULL key is outside every range")
    val got = GraftFileIndex.table(spark, dir.toString)
      .select("v").collect().map(_.getString(0)).toSet
    assert(got == Set("b", "d"))
    // a sidecar must never be adopted as data by the listing reconciler
    val snapBefore = ManifestCommit.currentSnapshot(fs, dir).get
    val adopted = ManifestCommit.adoptNewFiles(fs, dir)
    assert(adopted.files.toSet == snapBefore.files.toSet)
    // an idle dv-free partition pays ZERO dv overhead on the DV read
    // path (covered above by snap equality; here just re-read sanity)
    assert(GraftFileIndex.table(spark, dir.toString).count() == 2L)
  }

  test("compaction subtracts deletion vectors — deleted rows never resurrect") {
    import graft.ops.Layout
    hc
    val local = Files.createTempDirectory("graft-manifest-dvcompact").toString
    val root = s"file://$local/tbl"
    val dir = new Path(root)
    val df = spark.range(16000).select($"id".as("k"), ($"id" % 37).as("v"))
    Layout.writeLinear(df, col("k"), root, 16)
    val fs = dir.getFileSystem(hc)
    ManifestCommit.bootstrap(fs, dir)
    ManifestCommit.recordStats(spark, dir, Seq("k"))
    val (_, nDel) = ManifestCommit.deleteWhereDV(spark, dir, "k", 1000L, 1999L)
    assert(nDel == 1000L)
    assert(ManifestCommit.currentDvs(fs, dir).nonEmpty)
    // the compaction IS the applyDvs rewrite for the files it merges:
    // it must subtract the sidecar positions and drop the sidecars
    val reports = Compaction.compactTableManifest(spark, root,
      maxFiles = 4, targetFileBytes = 64 * 1024, gcGraceMs = 0L)
    assert(reports.nonEmpty, "16 files over maxFiles=4 must compact")
    assert(ManifestCommit.currentDvs(fs, dir).isEmpty,
      "absorbed sidecars must be dropped at commit")
    // the sidecar-free read sees the post-delete rows — no resurrection
    val plain = GraftFileIndex.table(spark, root)
    assert(plain.count() == 15000L)
    assert(plain.filter($"k".between(1000, 1999)).count() == 0L)
  }

  test("deleteRange refuses DV-named files; disjoint sidecars stay valid") {
    import graft.ops.Layout
    hc
    val local = Files.createTempDirectory("graft-manifest-dvrange").toString
    val root = s"file://$local/tbl"
    val dir = new Path(root)
    val df = spark.range(16000).select($"id".as("k"), ($"id" % 37).as("v"))
    Layout.writeLinear(df, col("k"), root, 16)
    val fs = dir.getFileSystem(hc)
    ManifestCommit.bootstrap(fs, dir)
    ManifestCommit.recordStats(spark, dir, Seq("k"))
    val (_, nDel) = ManifestCommit.deleteWhereDV(spark, dir, "k", 1000L, 1999L)
    assert(nDel == 1000L)
    // a copy-on-write rewrite of a DV-named file would resurrect the
    // DV-deleted rows under new names/positions — refuse, name the cure
    val e = intercept[IllegalArgumentException] {
      ManifestCommit.deleteRange(spark, dir, "k", 1500L, 1600L, Seq("k"))
    }
    assert(e.getMessage.contains("applyDvs"))
    // sidecars naming only UNtouched files survive a disjoint rewrite
    val (touched, _) =
      ManifestCommit.deleteRange(spark, dir, "k", 15000L, 15099L, Seq("k"))
    assert(touched >= 1)
    val dvRead = GraftFileIndex.table(spark, root)
    assert(dvRead.count() == 16000L - 1000L - 100L)
    assert(dvRead.filter($"k".between(1000, 1999)).count() == 0L)
    assert(dvRead.filter($"k".between(15000, 15099)).count() == 0L)
  }

  test("replaceFiles DV race guards: dvsAdd unions per attempt; " +
      "expectedDvs and requireLive abort") {
    hc
    val local = Files.createTempDirectory("graft-manifest-dvguards").toString
    val dir = new Path(s"file://$local/tbl")
    val fs = dir.getFileSystem(hc)
    fs.mkdirs(dir)
    ManifestCommit.bootstrap(fs, dir)
    ManifestCommit.appendFiles(fs, dir, Seq("a.parquet", "b.parquet"))
    val dvX = s"${ManifestCommit.DvPrefix}x-part0.parquet"
    val dvY = s"${ManifestCommit.DvPrefix}y-part0.parquet"
    // writer 1 commits its sidecar as a DELTA
    assert(ManifestCommit.replaceFiles(fs, dir, Set.empty, Nil,
      kind = ManifestCommit.KindDvDelete, dvsAdd = Seq(dvX),
      requireLive = Set("a.parquet")).isDefined)
    // writer 2 (raced past writer 1's scan) must UNION, never drop X —
    // the absolute-set shape this replaced would have lost X here
    assert(ManifestCommit.replaceFiles(fs, dir, Set.empty, Nil,
      kind = ManifestCommit.KindDvDelete, dvsAdd = Seq(dvY),
      requireLive = Set("b.parquet")).isDefined)
    assert(ManifestCommit.currentDvs(fs, dir).toSet == Set(dvX, dvY))
    // a compactor that subtracted ONLY X must not commit dvs=Some(Nil)
    // over the set that now also holds Y
    assert(ManifestCommit.replaceFiles(fs, dir, Set("a.parquet"),
      Seq("compact-z-part0.parquet"), dvs = Some(Nil),
      expectedDvs = Some(Seq(dvX))).isEmpty)
    assert(ManifestCommit.currentDvs(fs, dir).toSet == Set(dvX, dvY),
      "aborted commit must not change the active set")
    // positions naming a no-longer-live file must not commit
    assert(ManifestCommit.replaceFiles(fs, dir, Set.empty, Nil,
      kind = ManifestCommit.KindDvDelete, dvsAdd = Seq(dvY),
      requireLive = Set("gone.parquet")).isEmpty)
  }

  test("merge-on-read upsert: key replacement + pure inserts in one " +
      "atomic commit, exact feed replay, applyDvs retires it") {
    import graft.ops.Layout
    import graft.lake.ChangeFeed
    hc
    val local = Files.createTempDirectory("graft-manifest-upsert").toString
    val root = s"file://$local/tbl"
    val dir = new Path(root)
    val df = spark.range(1000).select($"id".as("k"), ($"id" % 7).as("v"))
    Layout.writeLinear(df, col("k"), root, 8)
    val fs = dir.getFileSystem(hc)
    ManifestCommit.bootstrap(fs, dir)
    val pre = ManifestCommit.recordStats(spark, dir, Seq("k")).version
    // 20 key replacements + 10 pure inserts, one commit
    val updates = spark.range(100, 120)
      .select($"id".as("k"), lit(100L).as("v"))
      .unionByName(spark.range(2000, 2010)
        .select($"id".as("k"), lit(200L).as("v")))
    val (touched, nDel) =
      ManifestCommit.upsertDV(spark, dir, "k", updates, Seq("k"))
    assert(touched > 0 && nDel == 20L, s"($touched, $nDel)")
    // post-merge table: replaced rows carry the update values, new keys
    // exist, everything else is untouched
    val t = GraftFileIndex.table(spark, root)
    assert(t.count() == 1010L)
    assert(t.filter($"k".between(100, 119) && $"v" === 100L).count() == 20L)
    assert(t.filter($"k" >= 2000 && $"v" === 200L).count() == 10L)
    assert(t.filter($"k" === 50L && $"v" === 50L % 7).count() == 1L)
    // the feed replays the MERGE exactly: old versions out, new rows in
    val head = ManifestCommit.currentSnapshot(fs, dir).get.version
    val feed = ChangeFeed.changeFeed(spark, dir, pre, head)
    val dels = feed.filter($"_change_type" === ChangeFeed.Delete)
    val ins = feed.filter($"_change_type" === ChangeFeed.Insert)
    assert(dels.count() == 20L && ins.count() == 30L)
    assert(dels.filter($"v" === 100L).count() == 0L,
      "deleted rows carry the ORIGINAL values")
    // copy-on-write conversion retires the merge; plain read agrees
    ManifestCommit.applyDvs(spark, dir, Seq("k"))
    assert(ManifestCommit.currentDvs(fs, dir).isEmpty)
    assert(GraftFileIndex.table(spark, root).count() == 1010L)
    // a mismatched update batch is refused before anything lands
    val e = intercept[IllegalArgumentException] {
      ManifestCommit.upsertDV(spark, dir, "k",
        spark.range(5).select($"id".as("k"), lit("oops").as("v")))
    }
    assert(e.getMessage.contains("schema"))
  }

  test("applyChangesDV: txn watermark makes replayed batches no-ops; " +
      "explicit key deletes apply") {
    import graft.ops.Layout
    hc
    val local = Files.createTempDirectory("graft-manifest-apply").toString
    val root = s"file://$local/tbl"
    val dir = new Path(root)
    val df = spark.range(100).select($"id".as("k"), ($"id" % 7).as("v"))
    Layout.writeLinear(df, col("k"), root, 4)
    val fs = dir.getFileSystem(hc)
    ManifestCommit.bootstrap(fs, dir)
    ManifestCommit.recordStats(spark, dir, Seq("k"))
    def emptyKeys = spark.range(0).select($"id".as("k"))
    // batch 0: replace keys 10-14, delete keys 90-94 — one commit
    val b0 = spark.range(10, 15).select($"id".as("k"), lit(99L).as("v"))
    val (_, nDel0) = ManifestCommit.applyChangesDV(spark, dir, "k",
      inserts = b0, deleteKeys = spark.range(90, 95).select($"id".as("k")),
      txn = Some(("app", 0L)))
    assert(nDel0 == 10L, "5 replaced + 5 deleted positions")
    val t1 = GraftFileIndex.table(spark, root)
    assert(t1.count() == 95L)
    assert(t1.filter($"k".between(10, 14) && $"v" === 99L).count() == 5L)
    assert(t1.filter($"k".between(90, 94)).count() == 0L)
    assert(t1.filter($"k" >= 95).count() == 5L, "95-99 were never deleted")
    // REPLAYED batch 0 with different (corrupting) content: the txn
    // watermark must make it a no-op before anything lands
    val (t, n) = ManifestCommit.applyChangesDV(spark, dir, "k",
      inserts = spark.range(0, 50).select($"id".as("k"), lit(-1L).as("v")),
      deleteKeys = emptyKeys, txn = Some(("app", 0L)))
    assert(t == 0 && n == 0L)
    assert(GraftFileIndex.table(spark, root).filter($"v" === -1L)
      .count() == 0L, "replayed batch must not land")
    // the next watermark applies normally
    ManifestCommit.applyChangesDV(spark, dir, "k",
      inserts = spark.range(200, 203).select($"id".as("k"), lit(7L).as("v")),
      deleteKeys = emptyKeys, txn = Some(("app", 1L)))
    assert(GraftFileIndex.table(spark, root).count() == 98L)
  }

  test("applyChangesDV exact key prune: randomized key sets never lose " +
      "a matched row") {
    import graft.ops.Layout
    hc
    val rnd = new scala.util.Random(42)
    val local = Files.createTempDirectory("graft-manifest-prune").toString
    (1 to 3).foreach { trial =>
      val dir = new Path(s"file://$local/tbl$trial")
      Layout.writeLinear(
        spark.range(2000).select($"id".as("k"), ($"id" % 11).as("v")),
        col("k"), dir.toString, 8)
      val fs = dir.getFileSystem(hc)
      ManifestCommit.bootstrap(fs, dir)
      ManifestCommit.recordStats(spark, dir, Seq("k"))
      // scattered keys: random clusters + far-out inserts, the shape
      // that defeats a min/max box — the exact prune must still keep
      // every file holding a matched key
      val replaceKeys = Seq.fill(40)(rnd.nextInt(2000).toLong).distinct
      val insertKeys = Seq.fill(10)(10000L + rnd.nextInt(1000)).distinct
      val batch = (replaceKeys ++ insertKeys).toDF("k")
        .select($"k", lit(777L).as("v"))
      val (_, nDel) = ManifestCommit.upsertDV(spark, dir, "k", batch)
      assert(nDel == replaceKeys.size.toLong,
        s"every matched row must be positioned: $nDel vs ${replaceKeys.size}")
      val t = GraftFileIndex.table(spark, dir.toString)
      assert(t.count() == 2000L + insertKeys.size)
      assert(t.filter($"v" === 777L).count() ==
        (replaceKeys.size + insertKeys.size).toLong)
    }
  }

  test("FileIndex table: manifest-stat pruning and sidecar " +
      "subtraction compose in one plan") {
    import graft.ops.Layout
    hc
    val local = Files.createTempDirectory("graft-fileindex-dv").toString
    val root = s"file://$local/tbl"
    val dir = new Path(root)
    val df16 = spark.range(16000).select($"id".as("k"), ($"id" % 37).as("v"))
    Layout.writeLinear(df16, col("k"), root, 16)
    val fs = dir.getFileSystem(hc)
    ManifestCommit.bootstrap(fs, dir)
    ManifestCommit.recordStats(spark, dir, Seq("k"))
    ManifestCommit.deleteWhereDV(spark, dir, "k", 1000L, 1999L)
    val t = GraftFileIndex.table(spark, root)
    // subtraction: both the full read and a window crossing the deleted
    // range see the post-delete rows
    assert(t.count() == 15000L)
    val ranged = t.filter($"k".between(500, 2499))
    assert(ranged.count() == 1000L, "2000-row window minus deleted 1000")
    // pruning: the DATA-side scan must select ~3 of the 16 files from
    // the manifest stats, with the anti-join riding on top
    val numFiles = scannedFiles(ranged)
    assert(numFiles <= 4,
      s"stats must prune the data scan under the anti-join: $numFiles")
    // a DV-free table returns the PLAIN scan (no join in the plan)
    ManifestCommit.applyDvs(spark, dir, Seq("k"))
    assert(ManifestCommit.currentDvs(fs, dir).isEmpty)
    val clean = GraftFileIndex.table(spark, root)
    assert(clean.count() == 15000L)
    assert(!clean.queryExecution.executedPlan.toString.contains("Join"),
      "sidecar-free table must not pay an anti-join")
  }

  test("FileIndex table: a sidecar in one Hive partition never deletes " +
      "a same-named file's rows in another") {
    hc
    val local = Files.createTempDirectory("graft-fileindex-collide").toString
    val root = s"file://$local/tbl"
    val fs = new Path(root).getFileSystem(hc)
    // one data file per leaf, BOTH named data.parquet: the same (file
    // name, row index) pairs exist in day=1 and day=2, so only the
    // partition column tells a day=1 position from a day=2 one
    Seq(1, 2).foreach { day =>
      val staged = s"file://$local/staged-$day"
      spark.range(100).select(($"id" + day * 1000L).as("k"), $"id".as("v"))
        .coalesce(1).write.parquet(staged)
      val part = fs.listStatus(new Path(staged)).map(_.getPath)
        .find(_.getName.endsWith(".parquet")).get
      val leaf = new Path(s"$root/day=$day")
      fs.mkdirs(leaf)
      assert(fs.rename(part, new Path(leaf, "data.parquet")))
      ManifestCommit.bootstrap(fs, leaf)
    }
    val (_, nDel) = ManifestCommit.deleteWhereDV(spark,
      new Path(s"$root/day=1"), "k", 1000L, 1009L)
    assert(nDel == 10L)
    assert(ManifestCommit.currentDvs(fs, new Path(s"$root/day=2")).isEmpty)
    val t = GraftFileIndex.table(spark, root)
    assert(t.filter($"day" === 1).count() == 90L)
    assert(t.filter($"day" === 1 && $"v" < 10).count() == 0L,
      "day=1's deleted positions must be gone")
    assert(t.filter($"day" === 2).count() == 100L,
      "day=2's same-named file must keep every row")
    assert(t.count() == 190L)
  }

  test("FileIndex: data schema is the MERGED footer schema on an " +
      "evolved table") {
    hc
    val local = Files.createTempDirectory("graft-fileindex-schema").toString
    val dir = new Path(s"file://$local/tbl")
    val fs = dir.getFileSystem(hc)
    Seq((1L, "a")).toDF("k", "v").coalesce(1)
      .write.mode("append").parquet(dir.toString)
    Seq((2L, "b", 9L)).toDF("k", "v", "w").coalesce(1)
      .write.mode("append").parquet(dir.toString)
    ManifestCommit.bootstrap(fs, dir)
    val t = GraftFileIndex.table(spark, dir.toString)
    assert(t.columns.toSet == Set("k", "v", "w"),
      s"one arbitrary footer must not pick the column set: ${t.columns.toSeq}")
    assert(t.count() == 2L)
    assert(t.filter($"w".isNull).count() == 1L)
  }

  test("recorded schema: table open runs ZERO jobs; alterSchema reads " +
      "across the evolution boundary; non-additive evolution refuses") {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val local = Files.createTempDirectory("graft-schema-rec").toString
    val dir = new Path(s"$local/tbl")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq((1L, 10L), (2L, 20L)).toDF("k", "v").coalesce(1)
      .write.parquet(dir.toString)
    ManifestCommit.bootstrap(fs, dir)
    assert(ManifestCommit.currentSchema(fs, dir).isEmpty)
    val rec = ManifestCommit.recordSchema(spark, dir)
    assert(rec.fieldNames.toSeq == Seq("k", "v"))
    // the record rides every later commit (here: a stats meta recommit)
    ManifestCommit.recordStats(spark, dir, Seq("k"))
    assert(ManifestCommit.currentSchema(fs, dir)
      .map(_.fieldNames.toSeq).contains(Seq("k", "v")))
    // the O(1)-open pin: with a recorded schema, constructing the
    // FileIndex-backed table plans from driver-side manifest metadata
    // alone — ZERO Spark jobs (a footer inference would run one)
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      GraftFileIndex.table(spark, dir.toString).schema // resolve the plan
      Thread.sleep(1000) // listener bus is async
    } finally spark.sparkContext.removeSparkListener(l)
    assert(jobs.get == 0,
      s"table open with a recorded schema ran ${jobs.get} job(s) — " +
        "schema must come from the manifest, not a footer sweep")
    // ALTER: add w, land a file carrying it; pre-evolution rows read NULL
    val evolved = StructType(rec.fields :+ StructField("w", LongType))
    ManifestCommit.alterSchema(fs, dir, evolved)
    ManifestCommit.stageAndPublish(spark, dir,
      Seq((3L, 30L, 300L)).toDF("k", "v", "w"), _ => true)
      .getOrElse(fail("publish"))
    val t2 = GraftFileIndex.table(spark, dir.toString)
    assert(t2.columns.toSeq == Seq("k", "v", "w"))
    val got = t2.orderBy("k").collect().map(r => (r.getLong(0),
      r.getLong(1), if (r.isNullAt(2)) -1L else r.getLong(2))).toSeq
    assert(got == Seq((1L, 10L, -1L), (2L, 20L, -1L), (3L, 30L, 300L)),
      got.toString)
    // refusals: dropping or retyping a recorded column is not evolution
    intercept[IllegalArgumentException](
      ManifestCommit.alterSchema(fs, dir, rec)) // drops w
    intercept[IllegalArgumentException](ManifestCommit.alterSchema(fs, dir,
      StructType(evolved.fields.map(f =>
        if (f.name == "v") f.copy(dataType =
          org.apache.spark.sql.types.StringType) else f))))
    // a retyping publish refuses too (the recorded schema must not lie)
    intercept[IllegalArgumentException](ManifestCommit.stageAndPublish(
      spark, dir, Seq((4L, "oops", 4L)).toDF("k", "v", "w"), _ => true))
  }

  test("table-level schema record: a partially-recorded table refuses " +
      "loudly; recordSchemaTable repairs; alterSchemaTable evolves every " +
      "leaf and the multi-leaf open runs ZERO jobs") {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val root = Files.createTempDirectory("graft-schema-table").toString +
      "/tbl"
    Seq((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L)).toDF("k", "v")
      .withColumn("day", ($"k" % 2 + 1).cast("int"))
      .coalesce(1).write.partitionBy("day").parquet(root)
    val rp = new Path(root)
    val fs = rp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val leaves = Seq(new Path(rp, "day=1"), new Path(rp, "day=2"))
    assert(leaves.forall(fs.exists))
    leaves.foreach(ManifestCommit.bootstrap(fs, _))
    // record ONE leaf only: the table is now partially recorded — the
    // FileIndex must refuse (a silent footer fallback would hide the
    // forgotten leaf forever), naming the repair verb
    ManifestCommit.recordSchema(spark, leaves.head)
    val e = intercept[IllegalArgumentException](
      GraftFileIndex.table(spark, root).schema)
    assert(e.getMessage.contains("partially-recorded") &&
      e.getMessage.contains("recordSchemaTable"), e.getMessage)
    // repair: every leaf records (the already-recorded one untouched)
    val rec = ManifestCommit.recordSchemaTable(spark, rp)
    assert(rec.fieldNames.toSeq == Seq("k", "v"))
    assert(leaves.forall(l => ManifestCommit.currentSchema(fs, l).isDefined))
    // the multi-leaf open now plans from manifests alone: ZERO jobs
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      GraftFileIndex.table(spark, root).schema
      Thread.sleep(1000) // listener bus is async
    } finally spark.sparkContext.removeSparkListener(l)
    assert(jobs.get == 0,
      s"multi-leaf open with recorded schemas ran ${jobs.get} job(s)")
    // table-wide evolution: both leaves take the meta commit, verified
    ManifestCommit.alterSchemaTable(spark, rp,
      StructType(rec.fields :+ StructField("w", LongType)))
    assert(leaves.forall(lf => ManifestCommit.currentSchema(fs, lf)
      .map(_.fieldNames.toSeq).contains(Seq("k", "v", "w"))))
    val t = GraftFileIndex.table(spark, root)
    assert(t.columns.toSeq == Seq("k", "v", "w", "day"))
    assert(t.filter($"w".isNotNull).count() == 0) // pre-evolution: NULLs
    assert(t.count() == 4)
  }

  test("overlapping DV deletes record each position ONCE: counts exact, " +
      "feed replays every row's delete exactly once") {
    import graft.ops.Layout
    val local = Files.createTempDirectory("graft-dv-overlap").toString
    val dir = new Path(s"$local/tbl")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Layout.writeLinear(spark.range(1000)
      .select($"id".as("k"), ($"id" * 2).as("v")), col("k"),
      dir.toString, 4)
    ManifestCommit.bootstrap(fs, dir)
    val pre = ManifestCommit.recordStats(spark, dir, Seq("k")).version
    // [100, 299] then the OVERLAPPING [200, 399]: the second sidecar
    // must list only the 100 newly-dead rows, not re-record 200-299
    val (_, n1) = ManifestCommit.deleteWhereDV(spark, dir, "k", 100L, 299L)
    assert(n1 == 200L)
    val (_, n2) = ManifestCommit.deleteWhereDV(spark, dir, "k", 200L, 399L)
    assert(n2 == 100L,
      s"overlapping delete must count only newly-dead rows, got $n2")
    assert(GraftFileIndex.table(spark, dir.toString).count() == 700L)
    // the feed replays each deleted row EXACTLY once across the two
    // commits (a doubled delete would corrupt maintainAdditive et al.)
    val head = ManifestCommit.currentSnapshot(fs, dir).get.version
    val fed = graft.lake.ChangeFeed.changeFeed(spark, dir, pre, head)
      .filter($"_change_type" === "delete").groupBy($"k").count()
    assert(fed.filter($"count" =!= 1L).isEmpty,
      "a row's delete must feed exactly once")
    assert(fed.count() == 300L)
    // re-deleting an already-dead key via the CDC apply adds NO new
    // positions (and commits nothing: a no-op apply)
    val (_, n3) = ManifestCommit.applyChangesDV(spark, dir, "k",
      inserts = Seq.empty[(Long, Long)].toDF("k", "v"),
      deleteKeys = Seq(250L).toDF("k"))
    assert(n3 == 0L, s"re-delete of a dead key must add no positions: $n3")
  }

  test("applyChangesDV: additive batch evolves the recorded schema; " +
      "dropped or retyped columns refuse") {
    val local = Files.createTempDirectory("graft-schema-cdc").toString
    val dir = new Path(s"$local/tbl")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq((1L, 10L), (2L, 20L)).toDF("k", "v")
      .repartitionByRange(2, $"k").sortWithinPartitions("k")
      .write.parquet(dir.toString)
    ManifestCommit.bootstrap(fs, dir)
    ManifestCommit.recordStats(spark, dir, Seq("k"))
    ManifestCommit.recordSchema(spark, dir)
    // additive CDC batch: replaces k=2, inserts k=5, carries NEW col w —
    // permitted, and the commit records the evolved schema
    ManifestCommit.applyChangesDV(spark, dir, "k",
      inserts = Seq((2L, 21L, 201L), (5L, 50L, 500L)).toDF("k", "v", "w"),
      deleteKeys = Seq(1L).toDF("k"), statsCols = Seq("k"))
    assert(ManifestCommit.currentSchema(fs, dir)
      .map(_.fieldNames.toSeq).contains(Seq("k", "v", "w")))
    val got = GraftFileIndex.table(spark, dir.toString)
      .select("k", "v", "w").orderBy("k").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSeq
    assert(got == Seq((2L, 21L, 201L), (5L, 50L, 500L)), got.toString)
    // a batch DROPPING a table column is a drifting writer, not evolution
    val e1 = intercept[IllegalArgumentException](
      ManifestCommit.applyChangesDV(spark, dir, "k",
        inserts = Seq((7L)).toDF("k"),
        deleteKeys = Seq.empty[Long].toDF("k")))
    assert(e1.getMessage.contains("drops or retypes"), e1.getMessage)
    // so is retyping one
    val e2 = intercept[IllegalArgumentException](
      ManifestCommit.applyChangesDV(spark, dir, "k",
        inserts = Seq((7L, "oops", 7L)).toDF("k", "v", "w"),
        deleteKeys = Seq.empty[Long].toDF("k")))
    assert(e2.getMessage.contains("drops or retypes"), e2.getMessage)
  }
}
