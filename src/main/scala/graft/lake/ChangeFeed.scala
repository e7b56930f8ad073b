package graft.lake

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, lit, max_by, struct,
  sum, when}

/** Incremental consumption FROM the manifest log — the lake-format
  * change data feed (the public Delta CDF / Iceberg incremental-read
  * idea, re-derived over [[ManifestCommit]]'s commit kinds).
  *
  * Why this exists: [[graft.ops.Cdc.snapshotDiff]] answers "what changed
  * between two table states" by full-outer-joining BOTH complete
  * snapshots — at 100 TB that is a 2×100 TB shuffle to discover a few GB
  * of change. The commit log already knows the answer: an `append`
  * commit's added files ARE the inserted rows, a `delete` commit's
  * consumed files plus its recorded key predicate ARE the deleted rows,
  * and a `replace` (compaction) or `meta` (stats) commit moved no rows
  * at all. So the feed costs exactly one scan of the DELTA files —
  * work ∝ change volume, zero joins, zero shuffles, never ∝ table size.
  *
  * Horizons (both documented on the producer side): the consumed files a
  * delete feed reads survive until [[ManifestCommit.gc]]'s grace
  * expires, and the manifests [[ManifestCommit.commitsBetween]] walks
  * survive until [[ManifestCommit.pruneLog]] — gc grace and log
  * retention ARE the feed horizon, exactly as they are the time-travel
  * horizon. A consumer whose cursor fell behind either gets a LOUD
  * error, never a silently incomplete feed.
  */
object ChangeFeed {

  /** `_change_type` values. */
  val Insert = "insert"
  val Delete = "delete"

  /** The row-level change feed of one partition (or unpartitioned table
    * dir) over `(fromVersion, toVersion]`: every row carries
    * `_change_type` (`insert` | `delete`) and `_commit_version`.
    * Compaction and metadata commits contribute nothing. Refuses
    * (loudly) on a legacy untagged commit or a predicate-less delete —
    * the conservative fallback is a full [[graft.ops.Cdc.snapshotDiff]],
    * never a wrong feed. */
  def changeFeed(spark: SparkSession, partition: Path, fromVersion: Long,
      toVersion: Long, basePath: Option[String] = None): DataFrame = {
    val fs = partition.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val commits =
      ManifestCommit.commitsBetween(fs, partition, fromVersion, toVersion)
    def read(names: Seq[String]): DataFrame = {
      val paths = names.map { n =>
        val p = new Path(partition, n)
        require(fs.exists(p),
          s"change feed for $partition references collected file $n — " +
            "gc grace shorter than the consumer lag, full resync required")
        p.toString
      }
      // basePath keeps Hive-style partition columns alive for
      // table-level consumption; mergeSchema because one commit's
      // consumed/named files can span a schema evolution
      basePath.foldLeft(spark.read.option("mergeSchema", "true"))(
        (r, b) => r.option("basePath", b))
        .parquet(paths: _*)
    }
    // rows a commit's added sidecars deleted: the (file, pos) pairs
    // semi-joined onto the named data files' parquet row index —
    // sidecar-proportional work, shared by dvdelete and upsert replay
    def dvDeleted(c: ManifestCommit.CommitInfo): DataFrame = {
      val dv = read(c.addedDvs).select("file", "pos")
      val named = dv.select("file").distinct()
        .collect().map(_.getString(0)).toSeq // bounded: file names
      val data = read(named)
        .withColumn("__dv_file", col("_metadata.file_name"))
        .withColumn("__dv_pos", col("_metadata.row_index"))
      data.join(broadcast(dv),
          data("__dv_file") === dv("file") &&
            data("__dv_pos") === dv("pos"), "left_semi")
        .drop("__dv_file", "__dv_pos")
    }
    val batches = commits.flatMap { c =>
      c.kind match {
        case ManifestCommit.KindAppend if c.added.nonEmpty =>
          Some(read(c.added)
            .withColumn("_change_type", lit(Insert))
            .withColumn("_commit_version", lit(c.version)))
        case ManifestCommit.KindAppend | ManifestCommit.KindMeta |
            ManifestCommit.KindReplace => None
        case ManifestCommit.KindDelete =>
          val (keyCol, lo, hi) = c.deletePredicate.getOrElse(sys.error(
            s"delete commit v${c.version} of $partition carries no " +
              "predicate — cannot replay it incrementally, " +
              "fall back to a full snapshot diff"))
          // deleted rows = consumed-file rows inside [lo, hi]; NULL keys
          // and out-of-range rows were carried into the produced files,
          // and BETWEEN excludes both — exact by construction
          Some(read(c.removed).filter(col(keyCol).between(lo, hi))
            .withColumn("_change_type", lit(Delete))
            .withColumn("_commit_version", lit(c.version)))
        case ManifestCommit.KindDvDelete if c.addedDvs.nonEmpty =>
          // a merge-on-read delete moved no data file: the rows it
          // deleted are EXACTLY the (file, pos) pairs of the sidecars
          // this commit added — read them back and semi-join the named
          // (still-present, else `read` fails loudly) data files on the
          // parquet row index. Sidecar-proportional work.
          Some(dvDeleted(c)
            .withColumn("_change_type", lit(Delete))
            .withColumn("_commit_version", lit(c.version)))
        case ManifestCommit.KindDvDelete => None // no-op dv commit
        case ManifestCommit.KindUpsert =>
          // a merge-on-read upsert is delete+insert in one commit: the
          // added files' rows are the inserts, the added sidecars'
          // positions are the deletes (same replay as dvdelete)
          val ins =
            if (c.added.isEmpty) None
            else Some(read(c.added)
              .withColumn("_change_type", lit(Insert))
              .withColumn("_commit_version", lit(c.version)))
          val del =
            if (c.addedDvs.isEmpty) None
            else Some(dvDeleted(c)
              .withColumn("_change_type", lit(Delete))
              .withColumn("_commit_version", lit(c.version)))
          (ins.toSeq ++ del.toSeq).reduceOption(
            _.unionByName(_, allowMissingColumns = true))
        case ManifestCommit.KindOverwrite =>
          // whole-table overwrite: every pre-overwrite-ALIVE row of the
          // consumed files (their rows minus the previously active
          // sidecars' positions) deletes, every produced row inserts —
          // exact, because an overwrite consumed EVERYTHING (unlike a
          // predicate-less rewrite, whose consumed files may hold kept
          // rows)
          // c.removed carries the commit's tombstones, which include
          // the DROPPED sidecars — only the DATA files replay as rows
          val removedData =
            c.removed.filterNot(_.startsWith(ManifestCommit.DvPrefix))
          val del =
            if (removedData.isEmpty) None
            else {
              val base = read(removedData)
              val preDvs = ManifestCommit.dvsAt(fs, partition,
                c.version - 1)
              val alive =
                if (preDvs.isEmpty) base
                else {
                  val dv = read(preDvs).select("file", "pos")
                  base.withColumn("__dv_file", col("_metadata.file_name"))
                    .withColumn("__dv_pos", col("_metadata.row_index"))
                    .join(broadcast(dv),
                      col("__dv_file") === dv("file") &&
                        col("__dv_pos") === dv("pos"), "left_anti")
                    .drop("__dv_file", "__dv_pos")
                }
              Some(alive
                .withColumn("_change_type", lit(Delete))
                .withColumn("_commit_version", lit(c.version)))
            }
          val ins =
            if (c.added.isEmpty) None
            else Some(read(c.added)
              .withColumn("_change_type", lit(Insert))
              .withColumn("_commit_version", lit(c.version)))
          (del.toSeq ++ ins.toSeq).reduceOption(
            _.unionByName(_, allowMissingColumns = true))
        case other => sys.error(
          s"commit v${c.version} of $partition has kind '$other' — " +
            "pre-tag history cannot be replayed incrementally, " +
            "fall back to a full snapshot diff")
      }
    }
    // allowMissingColumns: a window may span an ADDITIVE schema
    // evolution — pre-evolution batches surface NULL for the new
    // columns, exactly as a mergeSchema read of the table would
    batches.reduceOption(_.unionByName(_, allowMissingColumns = true))
      .getOrElse {
        ManifestCommit.readTableRaw(spark, partition.toString).limit(0)
          .withColumn("_change_type", lit(Insert))
          .withColumn("_commit_version", lit(0L))
      }
  }

  /** The consumer's bookmark over a (possibly partitioned) table: one
    * committed version per leaf partition, keyed by the leaf's path
    * relative to the table root (an unpartitioned table is its own
    * leaf). Listing-mode leaves are bootstrapped first — taking a
    * cursor PINS the current content as already-consumed. */
  def tableCursors(spark: SparkSession,
      tableRoot: String): Map[String, Long] = {
    val root = new Path(tableRoot)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts = Compaction.leaves(fs, root)
    parts.map { dir =>
      relOf(fs, root, dir) -> ManifestCommit.bootstrap(fs, dir).version
    }.toMap
  }

  /** Leaf path relative to the table root ("." for the root itself).
    * Both sides are fs-qualified first — leafPartitions returns
    * qualified paths while callers may pass a bare local path. */
  private def relOf(fs: org.apache.hadoop.fs.FileSystem, root: Path,
      dir: Path): String =
    fs.makeQualified(dir).toString
      .stripPrefix(fs.makeQualified(root).toString)
      .stripPrefix("/") match {
      case "" => "."
      case p  => p
    }

  /** Table-level change feed: per leaf partition, the row feed from the
    * consumer's cursor to the current head; a partition BORN after the
    * bookmark (no cursor entry) replays its entire current content as
    * inserts. Hive-style partition columns survive (reads carry
    * `basePath`). Work stays ∝ change volume per partition — untouched
    * partitions contribute a manifest GET and nothing else, which at
    * 100 TB (thousands of day partitions, a handful changed) is the
    * whole point of consuming from the log. */
  def changeFeedTable(spark: SparkSession, tableRoot: String,
      cursors: Map[String, Long]): DataFrame = {
    val root = new Path(tableRoot)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts = Compaction.leaves(fs, root)
    val batches = parts.flatMap { dir =>
      val rel = relOf(fs, root, dir)
      val head = ManifestCommit.bootstrap(fs, dir).version
      cursors.get(rel) match {
        case Some(v) if v == head => None // untouched: manifest GET only
        case Some(v) =>
          val f = changeFeed(spark, dir, v, head, basePath = Some(tableRoot))
          Some(f)
        case None =>
          // born after the bookmark: everything here is new — read the
          // leaf's LOGICAL content (active deletion vectors subtracted;
          // a bare file read would replay DV-deleted rows as inserts)
          Some(ManifestCommit.readMinusDvs(spark, tableRoot,
              ManifestCommit.liveFiles(fs, dir),
              ManifestCommit.currentDvs(fs, dir).map(new Path(dir, _)))
            .withColumn("_change_type", lit(Insert))
            .withColumn("_commit_version", lit(head)))
      }
    }
    batches.reduceOption(_.unionByName(_, allowMissingColumns = true))
      .getOrElse {
      ManifestCommit.readTableRaw(spark, tableRoot).limit(0)
        .withColumn("_change_type", lit(Insert))
        .withColumn("_commit_version", lit(0L))
    }
  }

  /** Table-level, exactly-once CDC replication over (possibly
    * Hive-partitioned) manifest lakes — [[changeFeedTable]]'s APPLY
    * half. Per source leaf partition: the REPLICA's own transaction
    * watermark for `appId` IS the consumer cursor — no side
    * bookkeeping, the target manifest is the only ledger. A leaf with
    * no watermark initial-syncs from the source's current snapshot
    * (key-clustered, stats recorded) and stamps the consumed source
    * version; a bookmarked leaf consumes `(watermark, head]` through
    * the per-partition change feed and applies the delta as ONE atomic
    * merge-on-read commit ([[ManifestCommit.applyChangesDV]]) carrying
    * the new head as its watermark. Re-running applies nothing (txn
    * no-ops), a crash between leaves resumes exactly where it died,
    * and untouched leaves cost one manifest GET — work ∝ change volume
    * per leaf on both sides. Returns one
    * (relPath, fromVersion, toVersion, applied) row per leaf.
    *
    * Multi-commit windows net PER KEY before the apply: only each
    * key's state at its LAST touching `_commit_version` survives (an
    * upsert's same-version insert beats its delete), so a window that
    * saw append(k)→delete(k) lands k dead, append(k)→upsert(k) lands
    * exactly one row for k, and the one atomic apply reaches the same
    * head state a sequential per-commit replay would — [[
    * ManifestCommit.applyChangesDV]]'s key-replacement clears every
    * pre-window version of a touched key either way.
    *
    * Contract: `keyCol` must be UNIQUE in the source table (the same
    * precondition applyChangesDV's key-replacement semantics impose —
    * a second source row under an existing key would be replayed as a
    * replacement, silently deleting replica rows the source still
    * holds). Delta windows are verified per apply: duplicate insert
    * keys inside one commit fail loudly. The initial snapshot is NOT
    * re-scanned for duplicates (that would double the one-time sync's
    * read at 100 TB) — it is the caller's contract. */
  def replicateTable(spark: SparkSession, srcRoot: String,
      dstRoot: String, keyCol: String,
      appId: String, parallelism: Int = 8): Seq[(String, Long, Long, Boolean)] = {
    import org.apache.spark.sql.functions.col
    val src = new Path(srcRoot)
    val fs = src.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts = Compaction.leaves(fs, src)
    def replicateLeaf(dir: Path): (String, Long, Long, Boolean) = {
      val rel = relOf(fs, src, dir)
      val dstLeaf =
        if (rel == ".") new Path(dstRoot) else new Path(dstRoot, rel)
      // the replica may live on a DIFFERENT filesystem (cross-region
      // replication is the point) — resolve its own fs
      val dfs = dstLeaf.getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      val head = ManifestCommit.bootstrap(fs, dir).version
      val cursor =
        if (!dfs.exists(dstLeaf)) None
        else ManifestCommit.lastTxnVersion(dfs, dstLeaf, appId)
      cursor match {
        case None =>
          graft.ops.Layout.writeLinear(
            ManifestCommit.readTableAt(spark, dir.toString, head),
            col(keyCol), dstLeaf.toString, 8)
          ManifestCommit.bootstrap(dfs, dstLeaf)
          ManifestCommit.recordStats(spark, dstLeaf, Seq(keyCol))
          // recorded schema: every later applyChangesDV guard and table
          // open on the replica is one manifest GET, zero footers
          ManifestCommit.recordSchema(spark, dstLeaf)
          // the watermark rides a names-free meta commit: the NEXT run
          // consumes from exactly `head`
          ManifestCommit.appendFiles(dfs, dstLeaf, Nil,
            txn = Some((appId, head)))
          (rel, 0L, head, true)
        case Some(v) if v >= head => (rel, v, head, false) // untouched
        case Some(v) =>
          val changes = changeFeed(spark, dir, v, head).cache()
          try {
            val dataCols = changes.columns
              .filter(c => c != "_change_type" && c != "_commit_version")
              .toSeq
            // unique-key contract check, bounded to the delta: two
            // insert rows for one key inside ONE commit can only mean a
            // non-unique keyCol — netting would silently drop one and
            // key-replacement would delete live source rows later
            val dup = changes
              .filter(col("_change_type") === Insert)
              .groupBy(col(keyCol), col("_commit_version")).count()
              .filter(col("count") > 1).limit(1).collect()
            require(dup.isEmpty, s"replicateTable: source $dir commit " +
              s"v${dup.head.get(1)} carries ${dup.head.getLong(2)} insert " +
              s"rows for $keyCol=${dup.head.get(0)} — keyCol must be " +
              "unique for key-replacement replication")
            // net the window per key: only the state at the key's LAST
            // touching commit survives; at equal versions (an upsert's
            // delete+insert pair) the insert wins — so intra-window
            // append→delete / append→upsert sequences replay to the
            // exact head state a per-commit sequential apply would give
            val rank = struct(col("_commit_version"),
              when(col("_change_type") === lit(Insert), lit(1))
                .otherwise(lit(0)).as("ins"))
            val last = changes.groupBy(col(keyCol).as("__nk"))
              .agg(max_by(struct(changes.columns.map(col): _*), rank)
                .as("__s"))
              .select(col("__s.*"))
            ManifestCommit.applyChangesDV(spark, dstLeaf, keyCol,
              inserts = last.filter(col("_change_type") === Insert)
                .select(dataCols.map(col): _*),
              deleteKeys = last.filter(col("_change_type") === Delete)
                .select(col(keyCol)),
              statsCols = Seq(keyCol), txn = Some((appId, head)))
          } finally changes.unpersist(blocking = false)
          // a window of pure meta/replace commits applies nothing and
          // commits nothing — advance the watermark explicitly so the
          // next run never re-reads it (no-op when the apply committed)
          ManifestCommit.appendFiles(dfs, dstLeaf, Nil,
            txn = Some((appId, head)))
          (rel, v, head, true)
      }
    }
    // leaves are independent single-writer domains (distinct source and
    // target partitions), so they replicate CONCURRENTLY through a
    // bounded driver pool: a thousand-leaf table runs min(parallelism,
    // leaves) Spark jobs at a time instead of thousands sequentially —
    // the commit protocol itself is concurrency-safe
    // (LakeConcurrencySpec), and untouched leaves cost one manifest GET
    // each however the pool schedules them. Results keep leaf order.
    if (parallelism <= 1 || parts.sizeIs <= 1) parts.map(replicateLeaf)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(parallelism, parts.size),
        (r: Runnable) => {
          val t = new Thread(r, "graft-replicate"); t.setDaemon(true); t
        })
      try {
        import scala.jdk.CollectionConverters._
        val tasks: Seq[java.util.concurrent.Callable[(String, Long, Long, Boolean)]] =
          parts.map(dir =>
            (() => replicateLeaf(dir)): java.util.concurrent.Callable[(String, Long, Long, Boolean)])
        pool.invokeAll(tasks.asJava).asScala.toSeq.map { f =>
          // rethrow the leaf's ORIGINAL exception, not the pool's
          // ExecutionException wrapper — callers (and the concurrency
          // spec) pattern-match on the leaf's error type for retry,
          // and that contract must not change with leaf count
          try f.get()
          catch {
            case e: java.util.concurrent.ExecutionException
                if e.getCause != null =>
              throw e.getCause
          }
        }
      } finally pool.shutdown()
    }
  }

  /** The commit log as a relation (the DESCRIBE HISTORY surface): one
    * row per valid commit in `(fromVersion, toVersion]` with its kind,
    * file-motion counts, and the delete predicate when recorded. Pure
    * driver-side manifest metadata lifted into a DataFrame — audit
    * dashboards and retention jobs query THIS instead of re-parsing
    * manifests. */
  def history(spark: SparkSession, partition: Path, fromVersion: Long,
      toVersion: Long): DataFrame = {
    val fs = partition.getFileSystem(spark.sparkContext.hadoopConfiguration)
    import spark.implicits._
    ManifestCommit.commitsBetween(fs, partition, fromVersion, toVersion)
      .map(c => (c.version, c.kind, c.added.size.toLong,
        c.removed.size.toLong,
        c.deletePredicate.map { case (col0, lo, hi) => s"$col0:$lo:$hi" }))
      .toDF("version", "kind", "n_added", "n_removed", "delete_predicate")
  }

  /** Manifest fsck: reconcile the commit log against the directory
    * listing. States: `live` (listed + present), `missing` (listed but
    * ABSENT — gc grace violated, readers will fail loudly), `tombstoned`
    * (awaiting gc), `orphan` (present but referenced by no manifest — a
    * crashed writer's leftovers, gc-able if compact-prefixed). The
    * repair verb for orphans is [[ManifestCommit.adoptNewFiles]] or
    * [[ManifestCommit.gc]]; `missing` has no repair — it is the alarm. */
  def fsck(spark: SparkSession, partition: Path): DataFrame = {
    val fs = partition.getFileSystem(spark.sparkContext.hadoopConfiguration)
    import spark.implicits._
    val (live, tombstoned) = ManifestCommit.referencedFiles(fs, partition)
    val present =
      if (fs.exists(partition))
        fs.listStatus(partition).toIndexedSeq
          .filter(st => !st.isDirectory && !st.getPath.getName.startsWith("_")
            && !st.getPath.getName.startsWith("."))
          .map(_.getPath.getName).toSet
      else Set.empty[String]
    val rows =
      live.toSeq.sorted.map(n =>
        (n, if (present.contains(n)) "live" else "missing")) ++
      tombstoned.toSeq.sorted
        .filter(present.contains).map(n => (n, "tombstoned")) ++
      (present -- live -- tombstoned).toSeq.sorted.map(n => (n, "orphan"))
    rows.toDF("file", "state")
  }

  /** Maintain a stored additive aggregate from the change feed instead
    * of recomputing it: `base` is the materialized per-key state
    * (keyCols + the named long-typed partial columns), `feed` is a
    * [[changeFeed]] slice, and the result is the state as a FULL
    * recompute at the feed's head would produce it — inserts add,
    * deletes subtract, keys whose row count reaches zero vanish. Work is
    * one scan of the (small) stored state plus one scan of the delta
    * rows; the 100 TB base table is never touched. Long-typed partials
    * keep the merge exact — floating partials would make
    * "base + delta − delta" differ from a recompute in the last ulp. */
  def maintainAdditive(base: DataFrame, feed: DataFrame,
      keyCols: Seq[String], valueCol: String,
      sumCol: String, cntCol: String): DataFrame = {
    val sign = when(col("_change_type") === lit(Insert), lit(1L))
      .otherwise(lit(-1L))
    val delta = feed
      .select(keyCols.map(col) ++ Seq(
        (sign * col(valueCol).cast("long")).as(sumCol),
        sign.as(cntCol)): _*)
    base.select(keyCols.map(col) ++ Seq(col(sumCol), col(cntCol)): _*)
      .unionByName(delta)
      .groupBy(keyCols.map(col): _*)
      .agg(sum(sumCol).as(sumCol), sum(cntCol).as(cntCol))
      .filter(col(cntCol) > 0)
  }

  /** Maintain a stored equi-JOIN view from the change feed instead of
    * recomputing it — the join sibling of [[maintainAdditive]]:
    * `storedView` is the materialized `fact ⋈ dim` at the consumer's
    * cursor, `feed` is a [[changeFeed]] slice of the FACT side (whose
    * `rowKey` is unique per fact row), and the result equals the view a
    * full recompute at the feed's head would produce.
    *
    * Order-free apply: per touched `rowKey` the LAST change in the
    * window wins (one `max_by` aggregate over the feed — a unique key
    * cannot both insert and delete inside one commit), every touched
    * key's stored row is dropped, and last-change inserts re-enter
    * through one join against `dim`. Delete-only, insert-only,
    * delete-then-reinsert and insert-then-delete all land on the same
    * head state.
    *
    * Shape at 100 TB: the corpus-sized `storedView` is only FILTERED —
    * a broadcast anti-join of the feed's touched keys, no shuffle, no
    * rewrite of untouched rows; `dim` streams once past a broadcast of
    * the feed's insert rows; the fact table is never rescanned and the
    * base join is never recomputed. Work ∝ feed + one narrow pass each
    * over view and dim. */
  def maintainJoin(storedView: DataFrame, feed: DataFrame, dim: DataFrame,
      joinKey: String, rowKey: String): DataFrame = {
    val last = feed
      .groupBy(col(rowKey))
      .agg(max_by(struct(feed.columns.map(col): _*),
        col("_commit_version")).as("s"))
      .select(col("s.*"))
    val ins = last.filter(col("_change_type") === lit(Insert))
      .drop("_change_type", "_commit_version")
    val touched = feed.select(col(rowKey)).distinct()
    storedView
      .join(broadcast(touched), Seq(rowKey), "left_anti")
      .unionByName(dim.join(broadcast(ins), Seq(joinKey))
        .select(storedView.columns.map(col): _*))
  }
}
