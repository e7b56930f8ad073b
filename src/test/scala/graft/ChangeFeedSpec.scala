package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.lake.{ChangeFeed, Compaction, GraftFileIndex, ManifestCommit}

/** Manifest-log change data feed: commit kinds, incremental replay, and
  * the conservative refusals. The feed's contract is "work ∝ change
  * volume, never a wrong or silently incomplete answer" — every test
  * here is one of those two halves. */
class ChangeFeedSpec extends SparkSpec {
  import spark.implicits._

  /** orders-shaped rows: (k key, g group, v value); k 0..99 plus one
    * NULL-key row in batch 0 (the deleteRange NULL hazard). */
  private def batch(r: Int) = spark.range(100)
    .select($"id".as("k"), ($"id" % 5).as("g"), ($"id" * 10).as("v"))
    .filter($"k" % 3 === r)

  private def nullRows = Seq((0L, 7L, 77L)).toDF("k", "g", "v")
    .select(lit(null).cast("long").as("k"), $"g", $"v")

  /** Builds the canonical fixture: batch0 (+2 NULL-key rows) committed
    * with stats → cursor; batch1 appended; clustered compaction;
    * delete k in [20,40]; batch2 appended. Returns (dir, cursor, head). */
  private def buildLake(): (Path, Long, Long) = {
    val local = Files.createTempDirectory("graft-cdf").toString
    val dir = new Path(s"$local/tbl")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    batch(0).unionByName(nullRows).repartitionByRange(4, $"k")
      .sortWithinPartitions("k").write.parquet(dir.toString)
    ManifestCommit.bootstrap(fs, dir)
    val cursor = ManifestCommit.recordStats(spark, dir, Seq("k")).version
    ManifestCommit.stageAndPublish(spark, dir, batch(1), _ => true,
      statsCols = Seq("k")).getOrElse(fail("publish(1)"))
    Compaction.compactTableManifest(spark, dir.toString, maxFiles = 2,
      targetFileBytes = 16L * 1024, gcGraceMs = 6L * 3600 * 1000,
      sortCol = Some("k"))
    ManifestCommit.deleteRange(spark, dir, "k", 20L, 40L, Seq("k"))
    ManifestCommit.stageAndPublish(spark, dir, batch(2), _ => true,
      statsCols = Seq("k")).getOrElse(fail("publish(2)"))
    val head = ManifestCommit.currentSnapshot(fs, dir).get.version
    (dir, cursor, head)
  }

  test("commit kinds: append/meta/replace/delete recorded, diffs correct") {
    val (dir, cursor, head) = buildLake()
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val commits = ManifestCommit.commitsBetween(fs, dir, 1L, head)
    // v2 stats recommit = meta; then append, replace(+meta), delete(+meta), append
    val kinds = commits.map(_.kind)
    assert(kinds.head == ManifestCommit.KindMeta, s"v2 must be meta: $kinds")
    assert(kinds.count(_ == ManifestCommit.KindAppend) == 2,
      s"two data appends: $kinds")
    assert(kinds.contains(ManifestCommit.KindReplace) &&
      kinds.contains(ManifestCommit.KindDelete), s"kinds: $kinds")
    // a meta commit moves no files; the delete carries its predicate
    commits.filter(_.kind == ManifestCommit.KindMeta).foreach { c =>
      assert(c.added.isEmpty && c.removed.isEmpty, s"meta moved files: $c")
    }
    val del = commits.find(_.kind == ManifestCommit.KindDelete).get
    assert(del.deletePredicate.contains(("k", 20L, 40L)))
    assert(del.removed.nonEmpty, "delete must consume files")
    // every commit's diff is consistent: added files are live right after
    val afterDel = ManifestCommit.snapshotAt(fs, dir, del.version).get
    assert(del.added.forall(afterDel.files.contains))
    assert(ManifestCommit.commitsBetween(fs, dir, cursor, cursor).isEmpty)
  }

  test("feed replays inserts + predicate deletes; compaction is invisible; NULL keys never deleted") {
    val (dir, cursor, head) = buildLake()
    val feed = ChangeFeed.changeFeed(spark, dir, cursor, head)
      .select($"_change_type", $"k", $"g", $"v")
      .collect().map(r => (r.getString(0), Option(r.get(1)), r.getLong(3)))
    val inserts = feed.filter(_._1 == ChangeFeed.Insert)
    val deletes = feed.filter(_._1 == ChangeFeed.Delete)
    val expIns = batch(1).unionByName(batch(2))
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(inserts.map(t => (t._2.get.asInstanceOf[Long], t._3)).toSet ==
      expIns, "inserts must be exactly batches 1+2")
    assert(inserts.size == expIns.size, "no insert duplicated (compaction leaked)")
    // deletes: k in [20,40] from batches 0+1 only; NULL keys survive
    val expDel = batch(0).unionByName(batch(1))
      .filter($"k".between(20, 40))
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(deletes.map(t => (t._2.get.asInstanceOf[Long], t._3)).toSet == expDel)
    assert(deletes.forall(_._2.isDefined), "a NULL-key row was fed as deleted")
    // replaying the feed over the cursor snapshot reproduces the head
    val base = ManifestCommit.readTableAt(spark, dir.toString, cursor)
    val replayed = base.unionByName(
        ChangeFeed.changeFeed(spark, dir, cursor, head)
          .filter($"_change_type" === ChangeFeed.Insert)
          .select("k", "g", "v"))
      .exceptAll(ChangeFeed.changeFeed(spark, dir, cursor, head)
        .filter($"_change_type" === ChangeFeed.Delete)
        .select("k", "g", "v"))
    val headTable = GraftFileIndex.table(spark, dir.toString)
      .select("k", "g", "v")
    assert(replayed.exceptAll(headTable).isEmpty &&
      headTable.exceptAll(replayed).isEmpty,
      "cursor + feed must reproduce the head table exactly")
  }

  test("maintainAdditive == full recompute; fully-deleted keys vanish") {
    val (dir, cursor, head) = buildLake()
    val base = ManifestCommit.readTableAt(spark, dir.toString, cursor)
      .groupBy("g").agg(count(lit(1)).as("cnt"), sum("v").as("sv"))
    val feed = ChangeFeed.changeFeed(spark, dir, cursor, head)
    val maintained = ChangeFeed.maintainAdditive(base, feed, Seq("g"),
        "v", "sv", "cnt")
      .collect().map(r => (Option(r.get(0)), (r.getLong(1), r.getLong(2))))
      .toMap
    val recomputed = GraftFileIndex.table(spark, dir.toString)
      .groupBy("g").agg(sum("v").as("sv"), count(lit(1)).as("cnt"))
      .collect().map(r => (Option(r.get(0)), (r.getLong(1), r.getLong(2))))
      .toMap
    assert(maintained == recomputed,
      s"maintained $maintained != recomputed $recomputed")
    // a group whose every row is deleted disappears, as a recompute would
    val killFeed = GraftFileIndex.table(spark, dir.toString)
      .filter($"g" === 2)
      .withColumn("_change_type", lit(ChangeFeed.Delete))
      .withColumn("_commit_version", lit(99L))
    val after = ChangeFeed.maintainAdditive(
      GraftFileIndex.table(spark, dir.toString)
        .groupBy("g").agg(count(lit(1)).as("cnt"), sum("v").as("sv")),
      killFeed, Seq("g"), "v", "sv", "cnt")
    assert(after.filter($"g" === 2).isEmpty, "emptied key must vanish")
  }

  test("maintainJoin == full join recompute; last-wins apply is order-free") {
    val (dir, cursor, head) = buildLake()
    // dim keyed by the fact's group column: one attribute row per g
    // (range 8 covers the NULL-key row's g = 7)
    val dim = spark.range(8).select($"id".as("g"),
      concat(lit("grp"), $"id").as("gname"))
    val stored = ManifestCommit.readTableAt(spark, dir.toString, cursor)
      .join(dim, Seq("g")).select("k", "g", "v", "gname")
    val feed = ChangeFeed.changeFeed(spark, dir, cursor, head)
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (Option(r.get(0)), Option(r.get(1)), Option(r.get(2)),
        r.getString(3))).toSet
    val maintained = canon(
      ChangeFeed.maintainJoin(stored, feed, dim, "g", "k"))
    val recomputed = canon(GraftFileIndex.table(spark, dir.toString)
      .join(dim, Seq("g")).select("k", "g", "v", "gname"))
    assert(maintained == recomputed)
    // NULL-key stored rows are untouched by the apply (feed never
    // names them; the anti-join must not drop them)
    assert(maintained.exists(_._1.isEmpty), "NULL-key rows must survive")
    // order-free: delete-then-reinsert lands the REINSERTED attributes,
    // insert-then-delete lands absence — both from one unordered feed
    val synth = Seq(
      (5L, 1L, 50L, ChangeFeed.Delete, 101L),
      (5L, 1L, 555L, ChangeFeed.Insert, 102L),   // k=5 reinserted, v=555
      (1000L, 2L, 1L, ChangeFeed.Insert, 101L),
      (1000L, 2L, 1L, ChangeFeed.Delete, 102L))  // k=1000 net-absent
      .toDF("k", "g", "v", "_change_type", "_commit_version")
    val after = ChangeFeed.maintainJoin(stored, synth, dim, "g", "k")
      .filter($"k".isNotNull)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(after(5L) == 555L, "reinsert must win over the delete")
    assert(!after.contains(1000L), "insert-then-delete must be absent")
  }

  test("table feed: per-leaf cursors; untouched leaves silent, born partitions replay whole") {
    val root = Files.createTempDirectory("graft-cdf-table").toString + "/tbl"
    (0 to 2).map(r => batch(r).withColumn("day", lit(r)))
      .reduce(_.unionByName(_))
      .write.partitionBy("day").parquet(root)
    val cursors = ChangeFeed.tableCursors(spark, root)
    assert(cursors.keySet == Set("day=0", "day=1", "day=2"), s"$cursors")
    val d1 = new Path(s"$root/day=1")
    val d2 = new Path(s"$root/day=2")
    // day=1: append; day=2: targeted delete; day=3: born after cursor
    val newRows = spark.range(5)
      .select(($"id" + 5000).as("k"), lit(9L).as("g"), lit(1L).as("v"))
    ManifestCommit.stageAndPublish(spark, d1, newRows, _ => true,
      statsCols = Seq("k")).getOrElse(fail("publish day=1"))
    ManifestCommit.recordStats(spark, d2, Seq("k"))
    ManifestCommit.deleteRange(spark, d2, "k", 30L, 60L, Seq("k"))
    val born = spark.range(3)
      .select(($"id" + 9000).as("k"), lit(8L).as("g"), lit(2L).as("v"))
    born.write.parquet(s"$root/day=3")
    val feed = ChangeFeed.changeFeedTable(spark, root, cursors)
      .select($"day", $"_change_type", $"k").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    assert(!feed.exists(_._1 == 0), "untouched day=0 must contribute nothing")
    assert(feed.filter(t => t._1 == 1).map(_._3).sorted.toSeq ==
      (5000L to 5004L) && feed.filter(_._1 == 1).forall(_._2 == "insert"))
    val expDel = batch(2).filter($"k".between(30, 60))
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(feed.filter(_._1 == 2).map(_._3).sorted.toSeq == expDel &&
      feed.filter(_._1 == 2).forall(_._2 == "delete"))
    assert(feed.filter(_._1 == 3).map(_._3).sorted.toSeq ==
      (9000L to 9002L) && feed.filter(_._1 == 3).forall(_._2 == "insert"))
  }

  test("history + fsck: the log as a relation; listing reconciliation by state") {
    val (dir, cursor, head) = buildLake()
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hist = ChangeFeed.history(spark, dir, 1L, head)
      .collect().map(r => (r.getLong(0), r.getString(1),
        Option(r.getString(4))))
    assert(hist.map(_._1).toSeq == hist.map(_._1).sorted.toSeq)
    assert(hist.count(_._2 == ManifestCommit.KindAppend) == 2)
    val delRow = hist.find(_._2 == ManifestCommit.KindDelete).get
    assert(delRow._3.contains("k:20:40"), s"hist=$delRow")
    // fsck: everything consistent = live + tombstoned only
    val states0 = ChangeFeed.fsck(spark, dir)
      .groupBy("state").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(states0.keySet == Set("live", "tombstoned"), s"$states0")
    // drop an orphan in, delete a live file: both must surface
    val orphan = new Path(dir, "stray-file.parquet")
    val out = fs.create(orphan, false); out.write(1); out.close()
    val victim = ManifestCommit.currentSnapshot(fs, dir).get.files.head
    fs.delete(new Path(dir, victim), false)
    val states = ChangeFeed.fsck(spark, dir)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(states("stray-file.parquet") == "orphan")
    assert(states(victim) == "missing", s"$states")
  }

  test("refusals are loud: untagged commit, pruned cursor, collected file") {
    val (dir, cursor, head) = buildLake()
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // (a) legacy untagged commit inside the range → refuse
    val legacyDir = new Path(
      Files.createTempDirectory("graft-cdf-legacy").toString + "/tbl")
    batch(0).coalesce(1).write.parquet(legacyDir.toString)
    ManifestCommit.bootstrap(fs, legacyDir)
    val snap = ManifestCommit.currentSnapshot(fs, legacyDir).get
    val legacyManifest = new Path(legacyDir,
      f"${ManifestCommit.LogDirName}/v${snap.version + 1}%08d.manifest")
    val out = fs.create(legacyManifest, false)
    out.write((s"#graft 1 ${snap.files.size} 0 0\n" +
      snap.files.map(n => s"A $n").mkString("\n"))
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    out.close()
    val e1 = intercept[RuntimeException](ChangeFeed.changeFeed(spark,
      legacyDir, snap.version, snap.version + 1))
    assert(e1.getMessage.contains("pre-tag"), e1.getMessage)
    // (b) cursor pruned out of the log → refuse
    ManifestCommit.pruneLog(fs, dir, keepLast = 1)
    val e2 = intercept[RuntimeException](
      ChangeFeed.changeFeed(spark, dir, cursor, head))
    assert(e2.getMessage.contains("full resync"), e2.getMessage)
    // (c) a referenced delta file collected under the consumer → refuse
    val (dir2, cursor2, head2) = buildLake()
    val fs2 = dir2.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val firstAppend = ManifestCommit
      .commitsBetween(fs2, dir2, cursor2, head2)
      .find(c => c.kind == ManifestCommit.KindAppend && c.added.nonEmpty).get
    fs2.delete(new Path(dir2, firstAppend.added.head), false)
    val e3 = intercept[IllegalArgumentException](
      ChangeFeed.changeFeed(spark, dir2, cursor2, head2))
    assert(e3.getMessage.contains("gc grace"), e3.getMessage)
  }

  test("replicateTable: intra-window per-key sequences land the head state") {
    // the round-10 bug class: a sync window holding MULTIPLE commits
    // that touch the same key must replay to the source's head state,
    // not to "delete pre-window keys then land all window inserts".
    // Covered sequences: append(k)→dvdelete(k) (k must NOT resurrect),
    // append(k)→upsert(k) (exactly ONE live row), dvdelete(k)→append(k)
    // (k must live with the NEW row), plus untouched keys.
    val local = Files.createTempDirectory("graft-repl").toString
    val (srcPath, dstPath) = (s"$local/src", s"$local/dst")
    val src = new Path(srcPath)
    val fs = src.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def rows(ks: Seq[Long], vmul: Long) =
      ks.toDF("k").select($"k", ($"k" % 5).as("g"), ($"k" * vmul).as("v"))
    rows(0L until 50L, 10L).repartitionByRange(4, $"k")
      .sortWithinPartitions("k").write.parquet(srcPath)
    ManifestCommit.bootstrap(fs, src)
    ManifestCommit.recordStats(spark, src, Seq("k"))
    val r1 = ChangeFeed.replicateTable(spark, srcPath, dstPath, "k", "t")
    assert(r1.size == 1 && r1.head._4, s"initial sync: $r1")
    // ---- one window, many commits touching overlapping keys ----
    // append fresh keys 100..104
    ManifestCommit.stageAndPublish(spark, src, rows(100L to 104L, 10L),
      _ => true, statsCols = Seq("k")).getOrElse(fail("publish"))
    // append(100..102) → dvdelete(100..102): dead at head
    ManifestCommit.deleteWhereDV(spark, src, "k", 100L, 102L)
    // append(103) → upsert(103): exactly one live row, v rewritten;
    // also replaces the pre-window key 10
    ManifestCommit.upsertDV(spark, src, "k",
      rows(Seq(103L, 10L), 1000L), statsCols = Seq("k"))
    // dvdelete(5..7) → append(5): 5 lives with the NEW row, 6/7 dead
    ManifestCommit.deleteWhereDV(spark, src, "k", 5L, 7L)
    ManifestCommit.stageAndPublish(spark, src, rows(Seq(5L), 777L),
      _ => true, statsCols = Seq("k")).getOrElse(fail("publish(5)"))
    val r2 = ChangeFeed.replicateTable(spark, srcPath, dstPath, "k", "t")
    assert(r2.head._4, s"delta must apply: $r2")
    val want = GraftFileIndex.table(spark, srcPath)
      .orderBy("k").collect().toSeq
    val got = GraftFileIndex.table(spark, dstPath)
      .select("k", "g", "v").orderBy("k").collect().toSeq
    assert(got == want, s"replica diverged:\n got=$got\nwant=$want")
    // spot the sequences explicitly
    val byK = got.map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(!byK.contains(100L) && !byK.contains(101L) &&
      !byK.contains(102L), "append→delete resurrected a key")
    assert(got.count(_.getLong(0) == 103L) == 1 && byK(103L) == 103000L,
      "append→upsert must leave exactly one live row with the upsert value")
    assert(byK(10L) == 10000L, "pre-window key must take the upsert value")
    assert(byK(5L) == 5L * 777L && !byK.contains(6L) && !byK.contains(7L),
      "delete→append must land the NEW row only")
    // idempotence: a third run is a no-op and changes nothing
    val r3 = ChangeFeed.replicateTable(spark, srcPath, dstPath, "k", "t")
    assert(r3.forall(!_._4), s"third run must no-op: $r3")
  }

  test("replicateTable: an additive schema evolution flows through — " +
      "feed unions across the boundary, replica evolves") {
    val local = Files.createTempDirectory("graft-repl-evo").toString
    val (srcPath, dstPath) = (s"$local/src", s"$local/dst")
    val src = new Path(srcPath)
    val fs = src.getFileSystem(spark.sparkContext.hadoopConfiguration)
    (0L until 40L).toDF("k").select($"k", ($"k" * 10).as("v"))
      .repartitionByRange(2, $"k").sortWithinPartitions("k")
      .write.parquet(srcPath)
    ManifestCommit.bootstrap(fs, src)
    ManifestCommit.recordStats(spark, src, Seq("k"))
    ManifestCommit.recordSchema(spark, src)
    val r1 = ChangeFeed.replicateTable(spark, srcPath, dstPath, "k", "t")
    assert(r1.head._4)
    // the window spans the evolution: a pre-evolution delete, then an
    // ADDITIVE batch carrying the new column w
    ManifestCommit.deleteWhereDV(spark, src, "k", 0L, 4L)
    ManifestCommit.stageAndPublish(spark, src,
      Seq((100L, 1000L, 7L), (101L, 1010L, 7L)).toDF("k", "v", "w"),
      _ => true, statsCols = Seq("k")).getOrElse(fail("publish"))
    assert(ManifestCommit.currentSchema(fs, src)
      .map(_.fieldNames.toSeq).contains(Seq("k", "v", "w")))
    val r2 = ChangeFeed.replicateTable(spark, srcPath, dstPath, "k", "t")
    assert(r2.head._4, s"evolved delta must apply: $r2")
    // replica == source head: old rows NULL the new column, the
    // replica's recorded schema evolved with the apply
    def state(p: String) = GraftFileIndex.table(spark, p)
      .select("k", "v", "w").orderBy("k").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSeq
    assert(state(dstPath) == state(srcPath),
      "replica must equal the evolved source head")
    assert(ManifestCommit.currentSchema(fs, new Path(dstPath))
      .map(_.fieldNames.toSet).exists(_.contains("w")),
      "replica recorded schema must evolve")
    assert(state(dstPath).count(_._3 == 7L) == 2 &&
      state(dstPath).count(_._1 < 5L) == 0)
  }

  test("replicateTable: duplicate insert keys in one commit refuse loudly") {
    val local = Files.createTempDirectory("graft-repl-dup").toString
    val (srcPath, dstPath) = (s"$local/src", s"$local/dst")
    val src = new Path(srcPath)
    val fs = src.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq((1L, 10L), (2L, 20L)).toDF("k", "v").coalesce(1)
      .write.parquet(srcPath)
    ManifestCommit.bootstrap(fs, src)
    ManifestCommit.recordStats(spark, src, Seq("k"))
    ChangeFeed.replicateTable(spark, srcPath, dstPath, "k", "t")
    // one commit, two insert rows for k=9: non-unique keyCol
    ManifestCommit.stageAndPublish(spark, src,
      Seq((9L, 1L), (9L, 2L)).toDF("k", "v"), _ => true,
      statsCols = Seq("k")).getOrElse(fail("publish"))
    val e = intercept[IllegalArgumentException](
      ChangeFeed.replicateTable(spark, srcPath, dstPath, "k", "t"))
    assert(e.getMessage.contains("unique"), e.getMessage)
  }
}
