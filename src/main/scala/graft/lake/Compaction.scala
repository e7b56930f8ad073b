package graft.lake

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Multi-day small-file compaction for the partitioned lake.
  *
  * The lake's writer appends one run per day (Lake.writeTables' REBALANCE
  * keeps each run's file count low), but the reference's monthly cadence over
  * years — or the streaming ingest's per-micro-batch appends
  * (Pipeline.ingestStream) — still accretes many small files per y/m/d
  * partition, and at 100 TB the scan's task count (and the namenode/S3
  * LIST cost) is governed by file count, not byte count. This operator
  * rewrites each over-fragmented partition into target-sized files.
  *
  * Scale design: the driver only LISTs partition directories (metadata,
  * proportional to partition count); each selected partition is rewritten
  * by one Spark write whose task count comes from the partition's actual
  * bytes. Partitions already at/below the file-count target are untouched
  * — steady-state compaction cost tracks the fragmented tail, not the
  * table size. The swap is two directory renames (stage in, old out), so
  * readers never see a mix of old and new files; the brief absent-window
  * between renames matches the reference's own crawler-refresh semantics
  * (run it in the catalog-refresh maintenance slot, template:22-26).
  *
  * Concurrent APPENDERS (e.g. Pipeline.ingestStream): a COMMITTED
  * concurrent append is never lost — the rewrite consumes an explicit
  * file list recorded in a manifest, and before the retired copy is
  * deleted, any entry that arrived after the read (data file or a
  * writer's in-flight `_temporary` staging dir) and was swept into the
  * retired dir by the rename is moved back into the live partition
  * (restoreStraysAndClean). An append that lands in the brief
  * absent-dir window and recreates the live partition is folded
  * together with the compacted files instead of breaking the swap
  * (swapIn's merge fallback, finished by recover() after a crash). A
  * write IN FLIGHT across the retire rename additionally relies on the
  * standard Spark task-retry path (its swept staging dir is restored,
  * and a retried task re-stages under the live dir). Readers during the
  * swap still see either all-old or all-new, never a mix. Overlapping
  * COMPACTION runs are excluded per partition by an exclusive-create
  * lock file (stale locks broken after 1 h).
  *
  * Commit protocol: the DEFAULT ([[compactTable]]/[[compactLake]]) is
  * the [[ManifestCommit]] path — its only atomic primitive is a
  * single-object put-if-absent (an S3 conditional PUT), so ONE commit
  * story holds on every store a 100 TB deployment actually runs on,
  * lock-free, with no reader window; readers resolve file sets through
  * the committed manifest ([[GraftFileIndex.table]]). The older
  * RENAME-SWAP path ([[compactTableRenameSwap]]) remains available
  * behind its explicit name for HDFS/POSIX-only deployments that want
  * plain directory-listing readers: its swap/recovery guarantees assume
  * ATOMIC DIRECTORY RENAME and atomic exclusive create, which raw
  * object stores (S3A per-object copy+delete) do NOT provide — never
  * point it at one.
  */
object Compaction {

  final case class Report(partition: String, filesBefore: Int, filesAfter: Int)

  private def isDataFile(p: Path): Boolean =
    ManifestCommit.isDataFile(p.getName)

  /** Leaf partition directories (year=.../month=.../day=...) under `root`,
    * including partitions that currently exist ONLY as a crashed run's
    * hidden .day=N.retired / .day=N.compacting leftovers — those name the
    * partition they belong to and must surface so recover() can restore
    * it. Hidden dirs themselves are never treated as partitions.
    * Package-private: ManifestCommit walks the same partition tree. */
  private[lake] def leafPartitions(fs: FileSystem, root: Path): Seq[Path] =
    leafDirs(fs, root)

  /** The leaves a table read or commit walks: its day= partitions, or
    * the root itself when it has none (an unpartitioned table is its
    * own leaf). */
  private[lake] def leaves(fs: FileSystem, root: Path): Seq[Path] =
    leafPartitions(fs, root) match {
      case Seq() => Seq(root)
      case ps    => ps
    }

  private def leafDirs(fs: FileSystem, root: Path): Seq[Path] = {
    def walk(dir: Path): Seq[Path] = {
      // a partition dir is a LEAF by definition — never recurse into it:
      // hidden content nested inside (an appender-race staged dir, a
      // restored _temporary) must not be misread as a sibling partition,
      // or recovery would process a bogus path and delete the real one
      if (dir.getName.startsWith("day=")) return Seq(dir)
      val children = fs.listStatus(dir).filter(_.isDirectory).map(_.getPath)
      val visible = children.filter(isDataFile)
      val interrupted = children.filterNot(isDataFile).flatMap { p =>
        val n = p.getName
        if (n.startsWith(".") &&
            (n.endsWith(".compacting") || n.endsWith(".retired")))
          Some(new Path(dir, n.substring(1, n.lastIndexOf('.'))))
        else None
      }
      if (visible.isEmpty && interrupted.isEmpty) Seq(dir)
      else visible.toIndexedSeq.flatMap(walk) ++ interrupted
    }
    if (fs.exists(root))
      walk(root).distinct.filter(_.getName.startsWith("day="))
    else Nil
  }

  /** Name of the read-set manifest a compaction run plants inside the
    * staged (then live) dir: one original data-file name per line. The
    * `_` prefix keeps it invisible to Spark's file index and to
    * [[isDataFile]]. It is the crash-safe record of exactly which files
    * the rewrite consumed, so files a CONCURRENT WRITER appended after
    * the read — which travel into the retired dir with the rename — can
    * be told apart from compacted-away originals and moved back instead
    * of deleted. */
  private val ManifestName = "_graft_compaction_manifest"

  private def readManifest(fs: FileSystem, dir: Path): Option[Set[String]] = {
    val p = new Path(dir, ManifestName)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8")
        .getLines().filter(_.nonEmpty).toSet)
      finally in.close()
    }
  }

  private def writeManifest(fs: FileSystem, dir: Path,
      names: Iterable[String]): Unit = {
    val out = fs.create(new Path(dir, ManifestName), true)
    try out.write(names.mkString("\n").getBytes("UTF-8"))
    finally out.close()
  }

  /** Move every child of `src` into `dst` (recursing into a child dir
    * that already exists at the destination — e.g. a writer's freshly
    * recreated `_temporary`), then drop the empty `src`. Compacted part
    * files carry fresh UUID names, so a genuine name collision on a FILE
    * means corrupted state and fails loudly. */
  /** Fold `src` into `dst` with the MANIFEST MOVED LAST: the manifest's
    * location is the crash-recovery signal for "the complete compacted
    * copy lives here", so it must not arrive at the destination before
    * the part files do — a crash mid-fold must leave the manifest with
    * the remaining source files, never at a destination that only holds
    * some of them. */
  private def mergeInto(fs: FileSystem, src: Path, dst: Path): Unit = {
    if (!fs.exists(dst)) fs.mkdirs(dst)
    val (manifest, rest) = fs.listStatus(src)
      .partition(_.getPath.getName == ManifestName)
    rest.foreach(st => moveEntry(fs, st, dst))
    manifest.foreach(st => moveEntry(fs, st, dst))
    fs.delete(src, true)
  }

  /** Move one directory entry into `dst`. Collisions: two dirs merge
    * recursively (a writer's recreated `_temporary`); a bookkeeping
    * marker (`_SUCCESS` and friends — any non-data FILE) is dropped in
    * favor of the destination's copy; a DATA-file collision means
    * corrupted state (compacted part names are fresh UUIDs) and fails
    * loudly. */
  private def moveEntry(fs: FileSystem,
      st: org.apache.hadoop.fs.FileStatus, dst: Path): Unit = {
    val dest = new Path(dst, st.getPath.getName)
    if (!fs.exists(dest))
      require(fs.rename(st.getPath, dest),
        s"compaction: cannot move ${st.getPath} to $dest")
    else if (st.isDirectory && fs.getFileStatus(dest).isDirectory)
      mergeInto(fs, st.getPath, dest)
    else if (!st.isDirectory && !isDataFile(st.getPath))
      fs.delete(st.getPath, false)
    else require(false,
      s"compaction: cannot merge ${st.getPath} onto existing $dest")
  }

  /** Move every entry in `retired` that is NOT in the read manifest —
    * a concurrent writer's append (data file OR in-flight `_temporary`
    * staging dir) that rode along with the rename — back into the live
    * dir, then drop retired + manifest. Without this, the final
    * delete(retired) silently destroyed those appends. */
  private def restoreStraysAndClean(fs: FileSystem, dir: Path,
      retired: Path): Unit = {
    readManifest(fs, dir).foreach { read =>
      if (fs.exists(retired)) {
        fs.listStatus(retired)
          .filter(st => st.getPath.getName != ManifestName &&
            !read.contains(st.getPath.getName))
          .foreach(st => moveEntry(fs, st, dir))
      }
      fs.delete(retired, true)
      fs.delete(new Path(dir, ManifestName), false)
    }
  }

  /** Per-partition mutual exclusion between COMPACTION runs (appenders
    * never take it): an exclusive-create lock file next to the partition,
    * holding the owner's UUID token. Without it, an overlapping run's
    * recover() deletes the first run's in-flight staged dir mid-rewrite.
    *
    * A lock older than `staleMs` (default 1 h — a partition rewrite is
    * minutes) is presumed crashed and BROKEN BY RENAME, not delete:
    * rename is atomic, so of two runs that both observe the same stale
    * lock, exactly one wins the rename (the loser's rename finds the
    * source gone and aborts) — a plain delete would let the loser destroy
    * the winner's freshly created lock and both proceed. After creating,
    * the owner re-reads the file and proceeds only if its own token is
    * inside; [[releaseLock]] applies the same token check so a run that
    * outlived the stale window (its lock broken, a new owner installed)
    * can no longer delete the new owner's lock on exit.
    *
    * Returns the owner token if acquired. Only FileAlreadyExists-shaped
    * failures read as contention; other IOExceptions propagate — a
    * transient RPC error must surface as an error, not as a partition
    * silently skipped forever. Atomic on filesystems with exclusive
    * create + atomic rename (HDFS, POSIX); object-store deployments use
    * [[compactTableManifest]], which needs no lock at all. */
  private def acquireLock(fs: FileSystem, lock: Path,
      staleMs: Long = 3600000L): Option[String] = {
    val token = java.util.UUID.randomUUID().toString
    def tryCreate(): Boolean =
      try {
        val out = fs.create(lock, false)
        try out.write(token.getBytes("UTF-8")) finally out.close()
        true
      } catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
        case e: java.io.IOException => if (fs.exists(lock)) false else throw e
      }
    val created = tryCreate() || {
      val stale =
        try System.currentTimeMillis() -
          fs.getFileStatus(lock).getModificationTime > staleMs
        catch { case _: java.io.FileNotFoundException => true }
      stale && {
        // atomic break: exactly one contender wins the rename of the
        // stale lock; the tombstone is then discarded
        val tomb = new Path(lock.getParent, lock.getName + ".stale." + token)
        val won = try fs.rename(lock, tomb)
          catch { case _: java.io.IOException => false }
        if (won) fs.delete(tomb, false)
        (won || !fs.exists(lock)) && tryCreate()
      }
    }
    if (created && readLockToken(fs, lock).contains(token)) Some(token) else None
  }

  private def readLockToken(fs: FileSystem, lock: Path): Option[String] =
    try {
      val in = fs.open(lock)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
      finally in.close()
    } catch { case _: java.io.IOException => None }

  /** Delete the lock only while it still holds OUR token — a broken-and-
    * reacquired lock belongs to someone else now. */
  private def releaseLock(fs: FileSystem, lock: Path, token: String): Unit =
    if (readLockToken(fs, lock).contains(token)) fs.delete(lock, false)

  /** Swap the staged dir into the live position. The plain rename wins
    * when the live dir is still absent (the normal case). If a concurrent
    * appender RECREATED the live dir inside the brief absent window, the
    * rename either fails (strict filesystems refuse an existing dst) or
    * "succeeds" by NESTING the staged dir inside the recreated one (HDFS
    * dst-exists semantics) — detected by the manifest not sitting at the
    * live dir's top level. Both cases fold the staged contents into the
    * live dir entry by entry, so the appender's files and the compacted
    * files coexist and the manifest lands where the stray restore reads
    * it. */
  private def swapIn(fs: FileSystem, staged: Path, dir: Path): Unit = {
    val renamed = fs.rename(staged, dir)
    if (!renamed || !fs.exists(new Path(dir, ManifestName))) {
      val nested = new Path(dir, staged.getName)
      val src = if (fs.exists(nested)) nested else staged
      require(fs.exists(new Path(src, ManifestName)),
        s"compaction: staged dir lost in swap of $dir")
      mergeInto(fs, src, dir)
    }
  }

  /** Recover a partition from an interrupted previous compaction run.
    * The swap sequence is: stage(+manifest) -> rename(dir, retired) ->
    * rename(staged, dir) -> restore strays -> delete(retired). Each crash
    * point leaves a distinguishable state: if the live dir is GONE, the
    * retired dir holds the only copy of the data — rename it back before
    * anything else; if the live dir exists AND carries a manifest, the
    * swap completed but cleanup didn't — finish the stray restore; a
    * leftover staged dir is always an incomplete rewrite — delete it. */
  private def recover(fs: FileSystem, dir: Path): Unit = {
    val staged = new Path(dir.getParent, "." + dir.getName + ".compacting")
    val retired = new Path(dir.getParent, "." + dir.getName + ".retired")
    if (!fs.exists(dir) && fs.exists(retired))
      require(fs.rename(retired, dir),
        s"compaction recovery: cannot restore $retired to $dir")
    // a crash between the appender-race nesting and its fold leaves the
    // staged dir (with its manifest) NESTED inside the live dir, hidden
    // from readers — finish the fold before anything else so the
    // compacted rows surface and the manifest is back in place
    val nested = new Path(dir, staged.getName)
    if (fs.exists(nested) && fs.exists(new Path(nested, ManifestName)))
      mergeInto(fs, nested, dir)
    // a TOP-LEVEL staged dir still holding its manifest, WITH the retired
    // dir present, is a COMPLETE rewrite whose merge-fallback swap
    // crashed mid-fold (the retire rename had already happened; the
    // manifest moves last, so its presence proves every part file is
    // still in staged): ROLL FORWARD by finishing the fold — the
    // originals live only in retired and are superseded. Without a
    // retired dir this is the ordinary pre-swap crash (originals intact
    // in the live dir): folding would DUPLICATE rows, so the staged copy
    // is rolled back (deleted) instead. A staged dir without a manifest
    // is an incomplete rewrite — always deleted.
    if (fs.exists(dir) && fs.exists(retired) &&
        fs.exists(new Path(staged, ManifestName)))
      mergeInto(fs, staged, dir)
    fs.delete(staged, true)
    if (fs.exists(dir)) {
      restoreStraysAndClean(fs, dir, retired)
      // no manifest (pre-swap crash already rolled back above, or a
      // legacy run): the retired dir is a fully-superseded copy
      fs.delete(retired, true)
    }
  }

  /** Compact every over-fragmented y/m/d partition of `tablePath` —
    * the DEFAULT entry point, which commits through the
    * [[ManifestCommit]] protocol ([[compactTableManifest]]): safe on
    * any filesystem, lock-free, no reader window. */
  def compactTable(spark: SparkSession, tablePath: String,
      maxFiles: Int = 4, targetFileBytes: Long = 128L * 1024 * 1024,
      gcGraceMs: Long = 15L * 60 * 1000): Seq[Report] =
    compactTableManifest(spark, tablePath, maxFiles, targetFileBytes,
      gcGraceMs)

  /** Manifest-protocol [[compactLake]] — the default. */
  def compactLake(spark: SparkSession, lakeRoot: String,
      maxFiles: Int = 4, targetFileBytes: Long = 128L * 1024 * 1024,
      gcGraceMs: Long = 15L * 60 * 1000): Seq[Report] =
    tableRoots(spark, lakeRoot).flatMap(t =>
      compactTableManifest(spark, t.toString, maxFiles, targetFileBytes,
        gcGraceMs))

  /** RENAME-SWAP compaction (HDFS/POSIX ONLY — see the object scaladoc):
    * rewrites each over-fragmented partition and swaps it in with two
    * directory renames. Parquet only — partitions without .parquet data
    * files (the CSV-fidelity lake reproduces reference bytes and must be
    * left exactly as written) are skipped, not corrupted. Also restores
    * any partition a previously crashed run left mid-swap. */
  def compactTableRenameSwap(spark: SparkSession, tablePath: String,
      maxFiles: Int = 4, targetFileBytes: Long = 128L * 1024 * 1024): Seq[Report] = {
    val root = new Path(tablePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    leafDirs(fs, root).flatMap { dir =>
      val lock = new Path(dir.getParent, "." + dir.getName + ".lock")
      acquireLock(fs, lock) match {
        case None => None // another run owns this partition
        case Some(token) => try {
      recover(fs, dir)
      val files =
        if (fs.exists(dir)) fs.listStatus(dir).filter(s => isDataFile(s.getPath))
        else Array.empty[org.apache.hadoop.fs.FileStatus]
      if (files.length <= maxFiles ||
          !files.forall(_.getPath.getName.endsWith(".parquet"))) None
      else {
        val bytes = files.map(_.getLen).sum
        val nOut = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
        // dot-prefixed: Spark's file index and our own partition walk both
        // ignore hidden dirs, so a crash mid-swap can't surface staged or
        // retired files as a bogus day=... partition
        val staged = new Path(dir.getParent, "." + dir.getName + ".compacting")
        val retired = new Path(dir.getParent, "." + dir.getName + ".retired")
        // rewrite the EXPLICIT file list captured above — not the dir —
        // so the read set, the manifest, and the stray diff below agree
        // exactly even while a concurrent writer keeps appending. No
        // partition columns in a leaf dir, so the files drop back in
        // place. mergeSchema: a partition whose appends evolved the
        // schema (the tags table's changing CustomerKeys) must keep the
        // UNION of columns — a single-footer inference would silently
        // drop the others' columns
        spark.read.option("mergeSchema", "true")
          .parquet(files.map(_.getPath.toString).toIndexedSeq: _*)
          .repartition(nOut)
          .write.parquet(staged.toString)
        // the manifest travels with the staged dir into the live position,
        // so the "which files did the rewrite consume" record survives a
        // crash at every point after the swap
        writeManifest(fs, staged, files.map(_.getPath.getName))
        // atomic-enough swap: two renames, no old/new mixing; a crash at
        // any point is undone by recover() on the next run
        require(fs.rename(dir, retired), s"compaction: cannot retire $dir")
        swapIn(fs, staged, dir)
        // files a concurrent writer appended between the read and the
        // retire rename are in `retired` but not in the manifest: move
        // them back, then drop retired + manifest
        restoreStraysAndClean(fs, dir, retired)
        val after = fs.listStatus(dir).map(_.getPath).count(isDataFile)
        Some(Report(dir.toString, files.length, after))
      }
        } finally releaseLock(fs, lock, token)
      }
    }
  }

  /** Object-store-native compaction: same selection policy as
    * [[compactTable]], but the swap is a [[ManifestCommit]] — write new
    * uniquely-named files NEXT TO the old ones, then atomically commit a
    * manifest that lists the new set and tombstones the old. No directory
    * rename, no lock (optimistic manifest commit arbitrates both
    * concurrent compactors and concurrent appends), no reader window:
    * a manifest-resolved reader ([[GraftFileIndex.table]]) sees the
    * old file set until the single commit point and the new one after,
    * on ANY filesystem — including stores whose rename is per-object
    * copy+delete. Plain directory-listing readers of a manifest-mode
    * table see old+new files mixed between commit and GC, which is why a
    * manifest-mode deployment must read through the manifest; the two
    * modes are otherwise layout-compatible ([[ManifestCommit.bootstrap]]
    * adopts listing-mode partitions in place).
    *
    * Crash at any point loses nothing: pre-commit death leaves orphan
    * `compact-*` files that [[ManifestCommit.gc]] collects after the
    * grace; post-commit death leaves tombstoned originals for the same
    * GC. Appends that land between snapshot and commit survive via the
    * replaceFiles retry loop (the commit is re-based on the appender's
    * version). `gcGraceMs` must exceed the longest reader scan; the
    * default keeps superseded files for 15 minutes. */
  /** `sortCol`: preserve (or establish) a clustering during the rewrite —
    * range-partition + sort the merged rows on that column instead of
    * round-robin `repartition`, then re-record its min/max stats in the
    * manifest, so a compaction never destroys the prunability a z-order
    * or key-sorted layout paid a shuffle to create. Costs the same one
    * wide exchange (range instead of round-robin). */
  def compactTableManifest(spark: SparkSession, tablePath: String,
      maxFiles: Int = 4, targetFileBytes: Long = 128L * 1024 * 1024,
      gcGraceMs: Long = 15L * 60 * 1000,
      sortCol: Option[String] = None): Seq[Report] = {
    val root = new Path(tablePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // an unpartitioned table is its own leaf — the same fallback
    // liveFiles and GraftFileIndex use. Without it the gc + stale-staging
    // sweep below never visits the root, so a crashed WAP/compaction's
    // `._compacting-*` garbage on an unpartitioned table (the q169
    // shape) would never be collected.
    val parts = if (fs.exists(root)) leaves(fs, root) else Nil
    parts.flatMap { dir =>
      ManifestCommit.gc(fs, dir, gcGraceMs)
      // sweep crashed runs' hidden staging dirs (run-unique names; the
      // age gate keeps a live concurrent run's stage safe)
      if (fs.exists(dir))
        fs.listStatus(dir)
          .filter(st => st.isDirectory &&
            st.getPath.getName.startsWith("._compacting-") &&
            System.currentTimeMillis() - st.getModificationTime >= gcGraceMs)
          .foreach(st => fs.delete(st.getPath, true))
      val snap = ManifestCommit.adoptNewFiles(fs, dir)
      val files = snap.files.filter(_.endsWith(".parquet"))
      if (files.length <= maxFiles || files.length != snap.files.length) None
      else {
        val paths = files.map(new Path(dir, _))
        val bytes = paths.map(fs.getFileStatus(_).getLen).sum
        val nOut = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
        // merge-on-read deletes: a raw read of DV-named files would copy
        // the deleted rows into the compact-* output under new
        // names/positions, leaving the carried sidecars inert — the rows
        // would RESURRECT. Subtract the active sidecars during the merge
        // (this compaction IS the applyDvs rewrite for these files) and
        // drop them at commit; expectedDvs below aborts the commit if a
        // deleteWhereDV raced in after this read.
        val dvNames = ManifestCommit.currentDvs(fs, dir)
        // stage the rewrite in a hidden, RUN-UNIQUE dir (no lock → two
        // runs may stage concurrently; unique names keep them disjoint),
        // then move each part file next to the originals under a fresh
        // compact-* name. The per-file moves need no atomicity: the
        // files are invisible to manifest readers until the commit.
        val runId = java.util.UUID.randomUUID().toString.take(8)
        val staged = new Path(dir, s"._compacting-$runId")
        val merged =
          if (dvNames.isEmpty)
            spark.read.option("mergeSchema", "true")
              .parquet(paths.map(_.toString): _*)
          else ManifestCommit.readMinusDvs(spark, dir.toString, paths,
            dvNames.map(new Path(dir, _)))
        val arranged = sortCol match {
          case Some(c) =>
            merged.repartitionByRange(nOut, org.apache.spark.sql.functions.col(c))
              .sortWithinPartitions(c)
          case None => merged.repartition(nOut)
        }
        arranged.write.parquet(staged.toString)
        val produced = fs.listStatus(staged).toIndexedSeq
          .filter(st => isDataFile(st.getPath) && st.getPath.getName.endsWith(".parquet"))
          .zipWithIndex.map { case (st, i) =>
            val name = s"${ManifestCommit.CompactedPrefix}$runId-part$i.parquet"
            require(fs.rename(st.getPath, new Path(dir, name)),
              s"compaction: cannot move ${st.getPath} into $dir")
            name
          }
        fs.delete(staged, true)
        // the rewrite subtracted exactly dvNames, so commit drops them
        // (dvs=Some(Nil)); expectedDvs aborts — output discarded below —
        // if the active set changed since the read (a racing
        // deleteWhereDV's positions name files this commit consumes)
        val committed =
          ManifestCommit.replaceFiles(fs, dir, files.toSet, produced,
            dvs = Some(Nil), expectedDvs = Some(dvNames))
        committed match {
          case Some(next) =>
            // a clustered rewrite re-earns its stats immediately — the
            // whole point of sorting was manifest prunability; the
            // footer sweep is bounded to the files this run produced
            sortCol.foreach(c => ManifestCommit.recordStats(spark, dir,
              Seq(c), only = Some(produced.toSet)))
            ManifestCommit.gc(fs, dir, gcGraceMs)
            Some(Report(dir.toString, files.length,
              next.files.count(_.endsWith(".parquet"))))
          case None =>
            // a concurrent compactor already replaced (some of) our read
            // set: discard our output — it duplicates rows the winner
            // still serves
            produced.foreach(n => fs.delete(new Path(dir, n), false))
            None
        }
      }
    }
  }

  /** Manifest-mode [[compactLake]] under its explicit name (alias of
    * the default — kept so deployment scripts reading the round-5 README
    * keep working). */
  def compactLakeManifest(spark: SparkSession, lakeRoot: String,
      maxFiles: Int = 4, targetFileBytes: Long = 128L * 1024 * 1024,
      gcGraceMs: Long = 15L * 60 * 1000): Seq[Report] =
    compactLake(spark, lakeRoot, maxFiles, targetFileBytes, gcGraceMs)

  /** Rename-swap [[compactLake]] (HDFS/POSIX only). */
  def compactLakeRenameSwap(spark: SparkSession, lakeRoot: String,
      maxFiles: Int = 4, targetFileBytes: Long = 128L * 1024 * 1024): Seq[Report] =
    tableRoots(spark, lakeRoot).flatMap(t =>
      compactTableRenameSwap(spark, t.toString, maxFiles, targetFileBytes))

  /** Table roots of a lake: <root>/TA-Reports/<category>/<table>, <root>/Tags. */
  private def tableRoots(spark: SparkSession, lakeRoot: String): Seq[Path] = {
    val root = new Path(lakeRoot)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val reports = new Path(root, "TA-Reports")
    ((if (fs.exists(reports))
      fs.listStatus(reports).filter(_.isDirectory).flatMap(cat =>
        fs.listStatus(cat.getPath).filter(_.isDirectory).map(_.getPath))
    else Array.empty[Path]) ++
      Some(new Path(root, "Tags")).filter(fs.exists(_))).toIndexedSeq
  }
}
