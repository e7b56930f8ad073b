package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.lake.{ChangeFeed, ManifestCommit}

/** DataSourceV2 MICRO-BATCH STREAMING source over the manifest commit
  * log — the change feed as a first-class `readStream` source, i.e. the
  * production CDC log-tailer: **stream offsets ARE commit versions.**
  *
  *  - `latestOffset` is one manifest GET (the current committed
  *    version); a micro-batch `(start, end]` plans exactly the delta
  *    files of the commits in that version range — appends replay their
  *    added files as `insert` rows, a delete commit replays its
  *    consumed files through the recorded key predicate as `delete`
  *    rows, compaction/metadata commits plan NOTHING. Work per batch ∝
  *    change volume, never table size, exactly as in
  *    [[graft.lake.ChangeFeed.changeFeed]] (the batch twin).
  *  - Offsets serialize as `{"version":N}`, so a restarted query
  *    resumes from its checkpointed commit version — the consumer
  *    cursor IS the offset, no side bookkeeping.
  *  - One InputPartition per delta FILE: the read fans out across the
  *    cluster like any file scan.
  *  - The conservative refusals are inherited: an untagged (pre-kind)
  *    commit or a predicate-less delete in the offset range fails the
  *    batch loudly rather than emitting a wrong feed.
  *
  * The per-file reader decodes parquet rows via parquet-hadoop's
  * example Group API (long/int/double/string/boolean columns — the
  * scalar lake surface); each row is appended with `_change_type` and
  * `_commit_version`. Schema = the table's data schema + those two.
  *
  * Usage:
  * {{{
  * spark.readStream.format("graft.sources.FeedSource")
  *   .option("path", tableDir)          // one partition dir
  *   .option("fromVersion", cursor)     // default: current head (tail)
  *   .load()
  * }}}
  *
  * Bootstrap (`option("bootstrap", "true")`, exclusive with
  * `fromVersion`): the FIRST micro-batch replays the table's CURRENT
  * committed snapshot — every live file's rows as `insert` at the head
  * version — and subsequent batches tail the log from there. This is
  * the documented catch-up path for a table whose retained history the
  * feed cannot replay (pre-kind-tag commits, predicate-less deletes,
  * or a log pruned past the wanted cursor): the snapshot IS the net of
  * all ancient history, so the consumer starts complete and stays
  * incremental, and the ancient commits are never walked. A
  * merge-on-read snapshot (active deletion-vector sidecars) composes
  * the sidecar subtraction into the batch — each file's reader skips
  * its deleted positions, the same logic `ManifestCommit.readTableAt`
  * applies for time travel — so bootstrapping never resurrects deleted
  * rows and never requires an applyDvs/compact first. The
  * snapshot offset checkpoints like any other — a restart mid-
  * bootstrap replans the SAME pinned version (valid until [[
  * ManifestCommit.pruneLog]] drops it).
  *
  * Retention lease (`option("lease", consumerId)`, ttl via
  * `leaseTtlMs`, default 10 min): the consumer's cursor / pinned
  * bootstrap version is registered against the log
  * ([[ManifestCommit.acquireLease]]) at initial-offset time and
  * renewed every planning round, so `pruneLog` REFUSES to drop the
  * manifests a live consumer still needs — closing the one retention
  * gap (slow consumer vs aggressive prune) with an expiring pin
  * instead of an unbounded one. Without the option, behavior is
  * unchanged: a pruned cursor stays a loud failure + restart. */
class FeedSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    FeedSource.fullSchema(options.get("path"))
  override def getTable(schema: StructType, partitioning: Array[Transform],
      props: util.Map[String, String]): Table =
    new FeedTable(props.asScala.toMap, schema)
}

object FeedSource {
  val ChangeTypeCol = "_change_type"
  val VersionCol = "_commit_version"

  /** Sentinel initial offset for bootstrap mode: the first batch
    * `(-1, head]` plans the snapshot at `head`, not a commit walk. */
  private[sources] val BootstrapOffset = -1L

  /** Test seam: plan one micro-batch `(fromV, toV]` (or the bootstrap
    * batch when `fromV` is [[BootstrapOffset]]) and describe each
    * partition as (file, changeType, sidecarCount, javaSerializedBytes)
    * — the last pins that a partition is O(file names) however many
    * rows the commits deleted (positions are loaded executor-side). */
  private[graft] def describePlannedPartitions(path: String, fromV: Long,
      toV: Long): Seq[(String, String, Int, Int)] = {
    // the PRE-conversion plan: one logical partition per delta file
    // (the stream's planInputPartitions then routes pure inserts to
    // the vectorized split tier — this seam pins the planner's
    // O(file names) partition payload, which only the Group-reader
    // delete/DV partitions carry)
    val spark = SparkSession.active
    val dir = new Path(path)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    FeedPlanner.planLeafRange(fs, dir, fromV, toV).map { p =>
      val bo = new java.io.ByteArrayOutputStream()
      val oo = new java.io.ObjectOutputStream(bo)
      oo.writeObject(p); oo.close()
      (p.file, p.changeType, p.dvSidecars.size, bo.size())
    }
  }

  /** Per-row-group [min, max] ranges of the `file` column across a
    * sidecar set, from the FOOTERS alone — O(row groups) driver-side
    * GETs, no Spark job. A data file whose name falls inside no range
    * provably has no deleted positions in these sidecars (parquet block
    * stats are exact bounds); names inside a range are a SUPERSET of
    * the truly-touched files (a row group can span files), which is
    * safe — a planned reader that loads an empty position set no-ops
    * without opening its data file. None when any block lacks `file`
    * stats (a legacy sidecar): the caller falls back to a distributed
    * distinct. File names are ASCII, so Java string order matches the
    * stats' unsigned-byte order. */
  private[graft] def sidecarNameRanges(
      conf: org.apache.hadoop.conf.Configuration,
      sidecars: Seq[String]): Option[Seq[(String, String)]] = {
    import scala.jdk.CollectionConverters._
    val ranges = Seq.newBuilder[(String, String)]
    sidecars.foreach { sc =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromPath(new Path(sc), conf)
      val rdr = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        rdr.getFooter.getBlocks.asScala.foreach { b =>
          val cc = b.getColumns.asScala
            .find(_.getPath.toDotString == "file")
            .getOrElse(return None)
          val st = cc.getStatistics
          if (st == null || !st.hasNonNullValue || st.isEmpty)
            return None
          def s(x: Any) = x
            .asInstanceOf[org.apache.parquet.io.api.Binary]
            .toStringUsingUTF8
          ranges += ((s(st.genericGetMin), s(st.genericGetMax)))
        }
      } finally rdr.close()
    }
    Some(ranges.result())
  }

  /** Distinct `file` values of a stats-free LEGACY sidecar set, read
    * DRIVER-side through the plain parquet Group API. Sidecars are
    * KB–MB metadata objects (one row per deleted position, two scalar
    * columns), and micro-batch planning must NEVER schedule a Spark
    * job — the distributed `distinct().collect()` this replaces cost
    * one job per micro-batch on legacy tables. Sidecars this code
    * writes carry footer stats and take the zero-IO
    * [[sidecarNameRanges]] path instead. */
  private[graft] def sidecarFileNamesDriverSide(
      conf: org.apache.hadoop.conf.Configuration,
      sidecars: Seq[String]): Set[String] = {
    val out = Set.newBuilder[String]
    sidecars.foreach { sc =>
      val r = ParquetReader.builder(new GroupReadSupport(), new Path(sc))
        .withConf(conf).build()
      try {
        var g = r.read()
        while (g != null) {
          out += g.getString("file", 0)
          g = r.read()
        }
      } finally r.close()
    }
    out.result()
  }

  private[graft] def fullSchema(path: String): StructType = {
    require(path != null, "graft-feed: 'path' option is required")
    val spark = SparkSession.active
    val dir = new Path(path)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the RECORDED manifest schema answers in one driver-side GET;
    // only a legacy table pays the footer inference
    val data = ManifestCommit.currentSchema(fs, dir)
      .getOrElse(ManifestCommit.readTableRaw(spark, path).schema)
    StructType(data.fields.toSeq :+
      StructField(ChangeTypeCol, StringType, nullable = false) :+
      StructField(VersionCol, LongType, nullable = false))
  }
}

private[sources] class FeedTable(props: Map[String, String],
    tableSchema: StructType) extends Table with SupportsRead {
  override def name(): String = s"graft_feed(${props("path")})"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new FeedScan(options.get("path"),
      Option(options.get("fromVersion")).map(_.toLong),
      Option(options.get("maxCommitsPerBatch")).map(_.toLong), tableSchema,
      options.getBoolean("bootstrap", false),
      Option(options.get("lease")),
      options.getLong("leaseTtlMs", 600000L))
}

private[sources] class FeedScan(path: String, fromVersion: Option[Long],
    maxCommitsPerBatch: Option[Long],
    tableSchema: StructType, bootstrap: Boolean,
    lease: Option[String] = None, leaseTtlMs: Long = 600000L)
    extends ScanBuilder with Scan {
  override def build(): Scan = this
  override def readSchema(): StructType = tableSchema
  override def description(): String = s"graft-feed $path"
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new FeedStream(path, fromVersion, maxCommitsPerBatch, tableSchema,
      bootstrap, lease, leaseTtlMs)
}

/** The stream offset: a committed manifest version. */
private[sources] case class FeedOffset(version: Long) extends Offset {
  override def json(): String = s"""{"version":$version}"""
}

private[graft] class FeedStream(path: String, fromVersion: Option[Long],
    maxCommitsPerBatch: Option[Long], tableSchema: StructType,
    bootstrap: Boolean = false, lease: Option[String] = None,
    leaseTtlMs: Long = 600000L)
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {
  require(!(bootstrap && fromVersion.isDefined),
    "graft-feed: 'bootstrap' and 'fromVersion' are exclusive — a " +
      "bootstrap starts from the current snapshot, not a cursor")
  private def dir = new Path(path)
  private def fs = dir.getFileSystem(
    SparkSession.active.sparkContext.hadoopConfiguration)
  private def head: Long = ManifestCommit.bootstrap(fs, dir).version

  /** With `option("lease", consumerId)`: pin `v` (and everything after)
    * against [[ManifestCommit.pruneLog]] for `leaseTtlMs` from now —
    * renewed at every planning round, so a live consumer's cursor or
    * mid-bootstrap snapshot version can never be pruned out from under
    * it, while a crashed consumer's pin expires on its own. NOT
    * released at stop(): a paused query resumes from its checkpoint
    * and must still find its manifests until the ttl lapses. */
  private def renewLease(v: Long): Unit = lease.foreach { id =>
    ManifestCommit.acquireLease(fs, dir, id, math.max(v, 0L), leaseTtlMs)
  }
  /** Pinned head for Trigger.AvailableNow: commits landing after query
    * start are left for the next run, as the trigger contract demands. */
  @volatile private var availableTarget: Option[Long] = None

  override def initialOffset(): Offset = {
    if (lease.isDefined) {
      // a bootstrap pins the snapshot it will replay BEFORE planning:
      // the lease must exist by the time any concurrent pruneLog could
      // race the first micro-batch (the window the lease closes)
      renewLease(if (bootstrap) head else fromVersion.getOrElse(head))
    }
    FeedOffset(
      if (bootstrap) FeedSource.BootstrapOffset else fromVersion.getOrElse(head))
  }

  override def prepareForTriggerAvailableNow(): Unit =
    availableTarget = Some(head)

  /** Commit-rate admission control (the `maxFilesPerTrigger` analogue
    * for a commit-log source): a batch spans at most `maxCommitsPerBatch`
    * commit versions, so a consumer that checkpoints index/aggregate
    * state per batch replays the log commit-by-commit instead of
    * swallowing the whole backlog in one giant batch. Unset = all
    * available (the pre-throttle behavior, bit-identical). */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[FeedOffset].version
    val tgt = availableTarget.getOrElse(head)
    // renew from the CONSUMED cursor: commitsBetween(s, e) still needs
    // manifest s parseable, so s is the retention floor, not e
    renewLease(if (s == FeedSource.BootstrapOffset) tgt else s)
    // the bootstrap snapshot is one atomic version — commit throttling
    // applies from the next batch on
    if (s == FeedSource.BootstrapOffset) FeedOffset(tgt)
    else FeedOffset(maxCommitsPerBatch.fold(tgt)(n =>
      math.min(tgt, s + math.max(1L, n))))
  }

  override def reportLatestOffset(): Offset =
    FeedOffset(availableTarget.getOrElse(head))

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "graft-feed implements SupportsAdmissionControl; " +
        "latestOffset(start, limit) is the planning entry point")

  override def deserializeOffset(json: String): Offset = {
    val v = """"version"\s*:\s*(-?\d+)""".r.findFirstMatchIn(json)
      .getOrElse(sys.error(s"graft-feed: bad offset $json")).group(1)
    FeedOffset(v.toLong)
  }

  override def planInputPartitions(start: Offset,
      end: Offset): Array[InputPartition] = {
    val (s, e) = (start.asInstanceOf[FeedOffset].version,
      end.asInstanceOf[FeedOffset].version)
    // pure-insert replay (appends, the DV-free bootstrap majority)
    // rides the vectorized tier; deletes/DV files keep the Group reader
    VecFeed.convert(SparkSession.active, fs,
      FeedPlanner.planLeafRange(fs, dir, s, e)).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new FeedSplitReaderFactory(tableSchema,
      new org.apache.spark.util.SerializableConfiguration(
        SparkSession.active.sessionState.newHadoopConf()),
      VecFeed.dataFactory(SparkSession.active,
        StructType(tableSchema.fields.dropRight(2))))

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

private[sources] object FeedPlanner {
  /** Plan ONE leaf's micro-batch `(s, e]` — or, when `s` is
    * [[FeedSource.BootstrapOffset]], the bootstrap snapshot at `e`.
    * Shared by the per-leaf [[FeedStream]] and the table-level
    * [[TableFeedStream]]. ZERO Spark jobs on every path: planning
    * resolves DV-touched files from sidecar footer stats, or a
    * driver-side read of a KB-scale legacy sidecar. */
  def planLeafRange(fs: org.apache.hadoop.fs.FileSystem, dir: Path,
      s: Long, e: Long): Seq[FeedFilePartition] = {
    // bootstrap batch: the committed snapshot AT the pinned end version
    // — every live file's rows as inserts, no commit walk (ancient
    // history the feed cannot replay is netted into the snapshot)
    // which data files a sidecar set MAY reference: the sidecars'
    // footer-stat name ranges (zero Spark jobs — per-micro-batch
    // planning must not schedule work) intersected with the given
    // candidate names; a legacy stats-free sidecar falls back to a
    // DRIVER-side read of the sidecar parquet (KB–MB metadata — still
    // no job). The ranges give a SUPERSET (a row group
    // can span files) — safe, because a planned reader that loads an
    // empty position set no-ops without opening its data file. Either
    // way the driver holds only NAMES — O(files in the commit), never
    // O(deleted rows): the positions themselves are loaded
    // EXECUTOR-side by each file's own reader (see FeedReaderFactory),
    // so a GDPR-scale delete commit (billions of positions) rides
    // neither the driver nor the task-serialization path.
    def dvTouchedFiles(sidecars: Seq[String],
        candidates: Seq[String]): Seq[String] = {
      val conf = SparkSession.active.sessionState.newHadoopConf()
      FeedSource.sidecarNameRanges(conf, sidecars) match {
        case Some(rs) =>
          candidates.filter(n => rs.exists(r => n >= r._1 && n <= r._2))
        case None =>
          val names = FeedSource.sidecarFileNamesDriverSide(conf, sidecars)
          candidates.filter(names)
      }
    }
    if (s == FeedSource.BootstrapOffset) {
      // one manifest parse serves the live set and its sidecars
      val state = ManifestCommit.stateAt(fs, dir, e).getOrElse(
        sys.error(s"graft-feed: bootstrap version $e of $dir pruned " +
          "before the batch ran — restart the query"))
      // a merge-on-read snapshot composes the active sidecars INTO the
      // bootstrap batch (the same subtraction readTableAt applies for
      // time travel): readers of sidecar-named files SKIP the deleted
      // positions, so a bare file replay never resurrects deleted rows
      // and a CDC consumer can stand up against a DV-carrying table
      // without an applyDvs/compact first
      val dvPaths = state.dvs.map(n => new Path(dir, n).toString)
      val touched: Set[String] =
        if (dvPaths.isEmpty) Set.empty
        else dvTouchedFiles(dvPaths, state.files).toSet
      return state.files.map(n => FeedFilePartition(
        new Path(dir, n).toString, ChangeFeed.Insert, e, None,
        dvSidecars = if (touched.contains(n)) dvPaths else Nil,
        dvKeep = false))
    }
    // merge-on-read delete positions: one partition per sidecar-NAMED
    // data file, carrying the sidecar paths — the reader loads only its
    // own file's positions from the sidecar parquet, executor-side
    def dvPartitions(c: ManifestCommit.CommitInfo): Seq[FeedFilePartition] = {
      val sidecars = c.addedDvs.map(n => new Path(dir, n).toString)
      dvTouchedFiles(sidecars, c.liveNames).map { f =>
        FeedFilePartition(new Path(dir, f).toString,
          ChangeFeed.Delete, c.version, None, dvSidecars = sidecars)
      }
    }
    ManifestCommit.commitsBetween(fs, dir, s, e).flatMap { c =>
      c.kind match {
        case ManifestCommit.KindAppend =>
          c.added.map(n => FeedFilePartition(
            new Path(dir, n).toString, ChangeFeed.Insert, c.version, None))
        case ManifestCommit.KindMeta | ManifestCommit.KindReplace => Nil
        case ManifestCommit.KindDelete =>
          val pred = c.deletePredicate.getOrElse(sys.error(
            s"graft-feed: delete commit v${c.version} of $dir carries " +
              "no predicate — full resync required"))
          c.removed.map(n => FeedFilePartition(
            new Path(dir, n).toString, ChangeFeed.Delete, c.version,
            Some(pred)))
        case ManifestCommit.KindDvDelete if c.addedDvs.nonEmpty =>
          // merge-on-read delete (the batch twin is
          // ChangeFeed.changeFeed's sidecar semi-join): the deleted rows
          // are EXACTLY the (file, pos) pairs of the sidecars this
          // commit added; the reader counts the physical row index
          // during its sequential scan — a plain ParquetReader with no
          // pushdown visits rows in row-index order, so a counter IS
          // `_metadata.row_index`.
          dvPartitions(c)
        case ManifestCommit.KindDvDelete => Nil // no-op dv commit
        case ManifestCommit.KindUpsert =>
          // one commit, both directions: the added files stream as
          // inserts, the added sidecars' positions as deletes
          c.added.map(n => FeedFilePartition(
            new Path(dir, n).toString, ChangeFeed.Insert, c.version,
            None)) ++
            (if (c.addedDvs.isEmpty) Nil else dvPartitions(c))
        case ManifestCommit.KindOverwrite =>
          // whole-table overwrite: every PRE-overwrite-ALIVE row of the
          // consumed files is deleted (their rows minus the previously
          // active sidecars' positions — the dvKeep=false subtraction
          // the bootstrap batch uses), every produced file's row is an
          // insert. Unlike a predicate-less KindDelete (a rewrite whose
          // consumed files may hold KEPT rows), an overwrite consumed
          // EVERYTHING — whole-file delete replay is exact.
          val preDvs = ManifestCommit.dvsAt(fs, dir, c.version - 1)
            .map(n => new Path(dir, n).toString)
          // c.removed carries the commit's tombstones, which include
          // the DROPPED sidecars — only the DATA files replay as rows
          val removedData =
            c.removed.filterNot(_.startsWith(ManifestCommit.DvPrefix))
          val touched: Set[String] =
            if (preDvs.isEmpty) Set.empty
            else dvTouchedFiles(preDvs, removedData).toSet
          removedData.map(n => FeedFilePartition(
            new Path(dir, n).toString, ChangeFeed.Delete, c.version,
            None,
            dvSidecars = if (touched.contains(n)) preDvs else Nil,
            dvKeep = false)) ++
            c.added.map(n => FeedFilePartition(
              new Path(dir, n).toString, ChangeFeed.Insert, c.version,
              None))
        case other => sys.error(
          s"graft-feed: commit v${c.version} of $dir has kind '$other' " +
            "— pre-tag history cannot be streamed, full resync required")
      }
    }.toSeq
  }
}

/** Vectorized tier of the change feed — pure-INSERT replay partitions
  * (no sidecars, no predicate: a plain append's delta files, or the
  * DV-free files of a bootstrap snapshot) read through Spark's OWN
  * parquet factory instead of the row-at-a-time Group API. At 100 TB
  * the bootstrap batch IS a whole-table scan, and an append-heavy CDC
  * tail is mostly inserts — this tier gives both the vectorized
  * decode + byte-range splitting (one fat delta file = many tasks)
  * the batch engine already has. Delete replays and DV-touched files
  * keep the Group reader: they need the physical row index / the
  * recorded predicate, which the split vectorized reader cannot
  * cheaply provide. */
private[graft] object VecFeed {
  import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionDirectory, PartitionedFile}

  /** One vectorized feed split: stock FilePartition plus the commit
    * version its rows report (constant per partition — splits never
    * mix commits). */
  private[graft] case class VecFeedPartition(inner: FilePartition,
      version: Long) extends InputPartition

  /** Batches below this many insert bytes keep the Group reader: the
    * vectorized tier pays a fixed per-micro-batch setup (factory,
    * splits, columnar readers) that a KB-scale delta cannot amortize —
    * a commit-by-commit index maintainer replays hundreds of tiny
    * batches, while the tier's target (a bootstrap snapshot, a bulk
    * append) is MBs to TBs. */
  private[graft] def MinVecBytes: Long =
    sys.props.get("graft.feed.vec.minBytes").map(_.toLong)
      .getOrElse(32L << 20)

  /** Split the planned partitions into the vectorized tier (pure
    * inserts, converted to byte-range FilePartitions, grouped per
    * commit version) and the Group-reader rest. One driver-side
    * getFileStatus per eligible file — the size metadata any splitting
    * planner needs. */
  private[graft] def convert(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem,
      parts: Seq[FeedFilePartition],
      minBytes: Long = MinVecBytes): Seq[InputPartition] = {
    val (plain, rest) = parts.partition(p =>
      p.changeType == ChangeFeed.Insert && p.dvSidecars.isEmpty &&
        p.deletePredicate.isEmpty)
    if (plain.isEmpty) return rest
    // one LIST per parent directory, not one GET per file: a bootstrap
    // over a wide table plans thousands of files but only O(leaves)
    // parents — driver metadata calls scale with the layout, not the
    // file count (an object-store LIST pages ~1000 entries per call
    // vs one round-trip per GET)
    // matched by FILE NAME within each parent — a listStatus result
    // comes back fully qualified (scheme + authority) while the
    // planned path may be spelled schemeless, and a full-path-string
    // key would miss every file and fall back to per-file GETs
    val statusOf: Map[(Path, String), org.apache.hadoop.fs.FileStatus] =
      plain.map(p => new Path(p.file)).groupBy(_.getParent)
        .flatMap { case (parent, paths) =>
          val wanted = paths.map(_.getName).toSet
          fs.listStatus(parent).toIndexedSeq
            .filter(st => wanted.contains(st.getPath.getName))
            .map(st => (parent, st.getPath.getName) -> st)
        }
    val statuses = plain.map { p =>
      val path = new Path(p.file)
      (p.version, statusOf.getOrElse((path.getParent, path.getName),
        fs.getFileStatus(path)))
    }
    if (statuses.map(_._2.getLen).sum < minBytes) return parts
    val maxSplit = FilePartition.maxSplitBytes(spark,
      Seq(PartitionDirectory(
        org.apache.spark.sql.catalyst.InternalRow.empty,
        statuses.map(_._2).toArray)))
    val vec = statuses.groupBy(_._1).toSeq.sortBy(_._1)
      .flatMap { case (version, sts) =>
        val splits = sts.flatMap { case (_, st) =>
          val len = st.getLen
          (0L until math.max(len, 1L) by maxSplit).map { off =>
            PartitionedFile(
              org.apache.spark.sql.catalyst.InternalRow.empty,
              org.apache.spark.paths.SparkPath.fromPath(st.getPath),
              off, math.min(maxSplit, len - off), Array.empty[String],
              st.getModificationTime, len, Map.empty[String, Any])
          }
        }.sortBy(-_.length)
        FilePartition.getFilePartitions(spark, splits, maxSplit)
          .map(fp => VecFeedPartition(fp, version): InputPartition)
      }
    vec ++ rest
  }

  /** The stock vectorized factory for the feed's DATA columns, cached
    * per (SESSION, schema): MicroBatchScanExec asks for a reader
    * factory every micro-batch, and building one broadcasts the Hadoop
    * conf — a commit-cadence stream must not pay a broadcast per
    * trigger. The session identity is part of the key because the
    * factory CAPTURES the building session's broadcast Hadoop conf: a
    * later session with different FS credentials/conf must build its
    * own, never silently reuse a stale broadcast. Process-lifetime
    * driver state, O(sessions × distinct streamed schemas) entries. */
  private val factoryCache =
    new java.util.concurrent.ConcurrentHashMap[String, PartitionReaderFactory]()
  private[graft] def dataFactory(spark: SparkSession,
      dataSchema: StructType): PartitionReaderFactory =
    // sessionUUID, not identityHashCode: an identity hash can be
    // REUSED after the original session is GC'd, which would serve a
    // dead session's broadcast conf to a new session — the exact
    // staleness this key exists to prevent
    factoryCache.computeIfAbsent(
      s"${org.apache.spark.sql.graftbridge.GraftBridge
        .sessionUUID(spark)}:${dataSchema.json}", _ =>
        graft.lake.GraftSqlScan.parquetFactory(spark, dataSchema,
          dataSchema, StructType(Nil), Array.empty))
}

/** Feed reader dispatch: [[VecFeed.VecFeedPartition]]s go to the stock
  * vectorized row interface (with the two feed columns appended as a
  * constant per-task [[JoinedRow]] when the schema carries them);
  * everything else keeps the Group-API [[FeedReaderFactory]]. */
private[graft] class FeedSplitReaderFactory(tableSchema: StructType,
    conf: org.apache.spark.util.SerializableConfiguration,
    vec: PartitionReaderFactory, feedCols: Boolean = true)
    extends PartitionReaderFactory {
  private lazy val row = new FeedReaderFactory(tableSchema, conf, feedCols)
  override def createReader(
      p: InputPartition): PartitionReader[InternalRow] = p match {
    case vp: VecFeed.VecFeedPartition =>
      val inner = vec.createReader(vp.inner)
      if (!feedCols) inner
      else {
        val const = new GenericInternalRow(Array[Any](
          UTF8String.fromString(ChangeFeed.Insert), vp.version))
        new PartitionReader[InternalRow] {
          private val joined =
            new org.apache.spark.sql.catalyst.expressions.JoinedRow()
          override def next(): Boolean = inner.next()
          override def get(): InternalRow = joined(inner.get(), const)
          override def close(): Unit = inner.close()
        }
      }
    case _ => row.createReader(p)
  }
}

/** One delta file to read. `dvSidecars` (absolute sidecar parquet
  * paths) bound a positional row filter the READER resolves for itself:
  * with `dvKeep = true` (a dvdelete/upsert replay) only the sidecar
  * positions of THIS file are emitted; with `dvKeep = false` (a
  * bootstrap snapshot of a merge-on-read table) those positions are
  * skipped. Positions never ride the partition — a partition is O(file
  * names) however many rows a commit deleted. */
private[graft] case class FeedFilePartition(file: String,
    changeType: String, version: Long,
    deletePredicate: Option[(String, Long, Long)],
    dvSidecars: Seq[String] = Nil,
    dvKeep: Boolean = true) extends InputPartition

private[sources] object FeedReaderFactory {
  /** The deleted positions of ONE data file, read from the commit's
    * sidecar parquet(s) on the executor: a row-group-pruned +
    * record-filtered scan on `file = <name>` (sidecars are written
    * file-clustered, so foreign row groups are skipped on stats),
    * collected sorted for the reader's monotone merge. Memory is one
    * file's deletion count — the per-task bound that replaces the old
    * driver-side collect of the commit's ENTIRE position set. */
  private[sources] def loadPositions(sidecars: Seq[String], fileName: String,
      conf: org.apache.hadoop.conf.Configuration): Array[Long] = {
    import org.apache.parquet.filter2.compat.FilterCompat
    import org.apache.parquet.filter2.predicate.FilterApi
    val pred = FilterApi.eq(FilterApi.binaryColumn("file"),
      org.apache.parquet.io.api.Binary.fromString(fileName))
    val out = Array.newBuilder[Long]
    sidecars.foreach { sc =>
      val r = ParquetReader.builder(new GroupReadSupport(), new Path(sc))
        .withConf(conf).withFilter(FilterCompat.get(pred)).build()
      try {
        var g = r.read()
        while (g != null) {
          out += g.getLong("pos", 0)
          g = r.read()
        }
      } finally r.close()
    }
    val arr = out.result()
    java.util.Arrays.sort(arr)
    arr
  }
}

/** Decodes one parquet file per partition through the Group API. With
  * `feedCols = true` (the streaming feed) the last two schema fields
  * are `_change_type`/`_commit_version`, filled from the partition;
  * with `feedCols = false` (the SQL catalog's batch scan) the schema
  * is pure data columns — fields resolve BY NAME, so a pruned schema
  * reads only its columns. */
private[graft] class FeedReaderFactory(tableSchema: StructType,
    conf: org.apache.spark.util.SerializableConfiguration,
    feedCols: Boolean = true)
    extends PartitionReaderFactory {
  override def createReader(
      partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[FeedFilePartition]
    val dataFields =
      if (feedCols) tableSchema.fields.dropRight(2) else tableSchema.fields
    new PartitionReader[InternalRow] {
      // this data file's deleted positions, loaded HERE on the executor
      // from the sidecar parquet (filter-pushdown on the file column) —
      // memory ∝ one file's deletions, never a whole commit's
      private val posArr: Array[Long] =
        if (p.dvSidecars.isEmpty) null
        else FeedReaderFactory.loadPositions(p.dvSidecars,
          new Path(p.file).getName, conf.value)
      private var posI = 0
      // a keep-mode partition with ZERO positions emits nothing: the
      // planner's footer-range file set is a superset, and the false
      // positives must cost a sidecar probe, not a data-file scan
      private val idle = p.dvKeep && posArr != null && posArr.isEmpty
      // the session's Hadoop configuration (serialized to this
      // executor), not a bare `new Configuration()` — a bare default
      // drops filesystem settings/credentials (s3a keys etc.).
      // LAZY: an idle partition never opens its data file.
      private lazy val reader: ParquetReader[org.apache.parquet.example.data.Group] =
        ParquetReader.builder(new GroupReadSupport(), new Path(p.file))
          .withConf(conf.value).build()
      private var opened = false
      private var current: org.apache.parquet.example.data.Group = _
      // physical row index of `current` within the file: a sequential
      // no-pushdown scan visits rows in row-index order, so counting
      // reproduces parquet `_metadata.row_index`
      private var rowIdx: Long = -1L

      // the FILE's primitive type per field, resolved once per reader:
      // a recorded-schema column may be WIDER than what an old file
      // stores (ALTER COLUMN TYPE widening is metadata-only), so value
      // extraction promotes per file instead of trusting the requested
      // type — exactly what the stock parquet readers do on the
      // vectorized tier
      private var ftypes: java.util.HashMap[String,
        org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName] = _
      private def fileTypeOf(g: org.apache.parquet.example.data.Group,
          name: String)
          : org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName = {
        if (ftypes == null) {
          ftypes = new java.util.HashMap()
          val t = g.getType
          var j = 0
          while (j < t.getFieldCount) {
            val ft = t.getType(j)
            if (ft.isPrimitive)
              ftypes.put(t.getFieldName(j),
                ft.asPrimitiveType().getPrimitiveTypeName)
            j += 1
          }
        }
        ftypes.get(name)
      }
      private def longOf(g: org.apache.parquet.example.data.Group,
          name: String): Long = {
        import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
        if (fileTypeOf(g, name) == PrimitiveTypeName.INT32)
          g.getInteger(name, 0).toLong
        else g.getLong(name, 0)
      }

      private def keep(g: org.apache.parquet.example.data.Group): Boolean =
        p.deletePredicate match {
          case None => true
          case Some((c, lo, hi)) =>
            // NULL keys and out-of-range rows were carried forward by
            // the rewrite — they were never deleted
            g.getFieldRepetitionCount(c) > 0 && {
              val v = longOf(g, c)
              v >= lo && v <= hi
            }
        }

      // positions are sorted and the scan is in row-index order — one
      // monotone pointer, never a per-row set probe. dvKeep selects the
      // direction: emit ONLY the positions (delete replay; a hit
      // CONSUMES its position, enabling the early stop below) or emit
      // all BUT the positions (bootstrap snapshot subtraction).
      private def keepPos(): Boolean = posArr == null || {
        while (posI < posArr.length && posArr(posI) < rowIdx) posI += 1
        val hit = posI < posArr.length && posArr(posI) == rowIdx
        if (hit && p.dvKeep) posI += 1
        if (p.dvKeep) hit else !hit
      }

      override def next(): Boolean = {
        if (idle) return false
        // delete replay: every listed position already emitted — the
        // rest of the file cannot match, stop without scanning the tail
        if (p.dvKeep && posArr != null && posI >= posArr.length)
          return false
        opened = true
        current = reader.read(); rowIdx += 1
        while (current != null && !(keep(current) && keepPos())) {
          current = reader.read(); rowIdx += 1
        }
        current != null
      }

      // fields the FILE actually carries (resolved once per reader): a
      // pre-evolution file lacks columns added later — those read NULL,
      // exactly as a mergeSchema batch read; probing an absent field
      // through the Group API would throw instead
      private var filePresent: java.util.Set[String] = _

      // columns the FILE predates read their EXISTS_DEFAULT (the
      // constant fixed at ADD COLUMN time, carried in the recorded
      // schema's field metadata — the same fill the stock parquet
      // readers perform); columns present in the file but null-valued
      // stay NULL. Resolved once per reader, internal representation.
      private lazy val existsDefaults: Array[Any] =
        org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
          .existenceDefaultValues(StructType(dataFields))
          .asInstanceOf[Array[Any]]

      override def get(): InternalRow = {
        if (filePresent == null) {
          filePresent = new java.util.HashSet[String]()
          val t = current.getType
          var j = 0
          while (j < t.getFieldCount) {
            filePresent.add(t.getFieldName(j)); j += 1
          }
        }
        val vals = new Array[Any](tableSchema.length)
        var i = 0
        while (i < dataFields.length) {
          val f = dataFields(i)
          vals(i) =
            if (!filePresent.contains(f.name)) existsDefaults(i)
            else if (current.getFieldRepetitionCount(f.name) == 0) null
            else f.dataType match {
              case LongType    => longOf(current, f.name)
              case IntegerType => current.getInteger(f.name, 0)
              case DoubleType  =>
                import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
                fileTypeOf(current, f.name) match {
                  case PrimitiveTypeName.FLOAT =>
                    current.getFloat(f.name, 0).toDouble
                  case PrimitiveTypeName.INT32 =>
                    current.getInteger(f.name, 0).toDouble
                  case _ => current.getDouble(f.name, 0)
                }
              case FloatType   => current.getFloat(f.name, 0)
              case BooleanType => current.getBoolean(f.name, 0)
              case StringType  =>
                UTF8String.fromString(current.getString(f.name, 0))
              // Spark's standard 3-level LIST encoding: the outer LIST
              // group has exactly ONE repeated child, whose single
              // child is the element — addressed by ordinal so both
              // the modern (list/element) and legacy (bag/array)
              // nestings read identically. Needed for the embeddings
              // lake's array<float> vectors (q216).
              case ArrayType(et, _) =>
                val lst = current.getGroup(f.name, 0)
                val n = lst.getFieldRepetitionCount(0)
                val out = new Array[Any](n)
                var j = 0
                while (j < n) {
                  val el = lst.getGroup(0, j)
                  out(j) =
                    if (el.getFieldRepetitionCount(0) == 0) null
                    else et match {
                      case FloatType   => el.getFloat(0, 0)
                      case DoubleType  => el.getDouble(0, 0)
                      case LongType    => el.getLong(0, 0)
                      case IntegerType => el.getInteger(0, 0)
                      case StringType  =>
                        UTF8String.fromString(el.getString(0, 0))
                      case o => sys.error("graft-feed: unsupported " +
                        s"array element type $o (${f.name})")
                    }
                  j += 1
                }
                new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
              case other => sys.error(
                s"graft-feed: unsupported column type $other (${f.name})")
            }
          i += 1
        }
        if (feedCols) {
          vals(i) = UTF8String.fromString(p.changeType)
          vals(i + 1) = p.version
        }
        new GenericInternalRow(vals)
      }

      override def close(): Unit = if (opened) reader.close()
    }
  }
}
