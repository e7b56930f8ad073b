package graft.lake

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileAlreadyExistsException, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Object-store-native commit protocol for lake partitions — the S3-safe
  * alternative to [[Compaction]]'s rename-swap (whose guarantees need
  * atomic directory rename, which raw object stores do not have).
  *
  * Design (a deliberately minimal form of the public Delta/Iceberg commit
  * idea): each leaf partition directory carries a `_graft_log/` of
  * immutable, versioned manifest files. Manifest `v%08d.manifest` is the
  * single source of truth for "which data files constitute this partition
  * at version N" — readers resolve the highest valid version and read
  * EXACTLY the files it lists, ignoring everything else in the directory.
  * Data files are immutable and uniquely named, so the only atomicity the
  * protocol needs is:
  *
  *   1. atomic single-object write of one small manifest (an object-store
  *      PUT is atomic by definition; on HDFS/POSIX, exclusive create +
  *      close of a sub-block file),
  *   2. put-if-absent for the manifest name (S3 conditional PUT
  *      `If-None-Match: *`; HDFS/POSIX exclusive create) — this is the
  *      optimistic-concurrency arbiter: the first committer of version
  *      N+1 wins, losers re-read and retry on top of the winner,
  *   3. read-after-write list/get consistency (S3 has been strongly
  *      consistent since 2020).
  *
  * NO directory rename, NO lock file, NO crash-state taxonomy: a writer
  * that dies before its manifest commit leaves only unreferenced objects,
  * invisible to every reader and removed later by [[gc]].
  *
  * Commit states (the complete set — each is observable only as
  * "old manifest" or "new manifest", never a mix):
  *   - data files written, manifest not yet committed → readers see the
  *     previous version; the new files are orphans until commit or GC;
  *   - manifest committed, superseded files not yet GC'd → readers see
  *     the new version; the old files are tombstoned (recorded with a
  *     removal timestamp in the committing manifest) and deleted by [[gc]]
  *     once `graceMs` has passed — the grace must exceed the longest
  *     reader's scan time, since an in-flight reader may still hold the
  *     previous version's file list;
  *   - two writers race version N+1 → exactly one create succeeds; the
  *     loser re-reads N+1 and retries on top of it ([[appendFiles]] /
  *     [[replaceFiles]] retry loops), so a compaction never loses a
  *     concurrent append and vice versa.
  *
  * Scale: one manifest per leaf partition (not per table) keeps commit
  * contention and manifest size proportional to a single y/m/d slice —
  * at 100 TB the table-level commit rate is unbounded but per-partition
  * writers are few (one ingest run + one compactor), so the optimistic
  * loop converges in one or two rounds. Manifests are a few KiB; readers
  * pay one LIST + one GET per partition, the same metadata cost the
  * plain file listing already paid.
  *
  * Format: line 1 `#graft 1 <liveCount> <removedCount> <bloomCount>
  * <dvCount>` (the counts make a torn HDFS write detectable —
  * [[currentSnapshot]] skips invalid manifests and [[tryCommit]]
  * reclaims their version slot; an object-store PUT can never be torn),
  * then `A <name>` per live file, `R <epochMs> <name>` per file removed
  * by that commit, `F <name>\t<bloom>` per bloom-carrying file, and
  * `V <name>` per ACTIVE deletion-vector sidecar ([[deleteWhereDV]]).
  * The bloom/dv counts cover the F/V tails: a truncation inside or
  * after them invalidates the manifest exactly as a torn A/R section
  * does. Two- and three-count headers (pre-round-9 manifests) stay
  * valid with their F/V lines unvalidated — the conservative legacy
  * behavior.
  */
object ManifestCommit {

  val LogDirName = "_graft_log"
  private val ManifestSuffix = ".manifest"
  private val Header = "#graft 1"

  /** Commit kinds, recorded as an `O <kind>` line (line 2) so an
    * incremental consumer can tell DATA changes from metadata motion:
    *  - `append`: new rows entered the table (the added files ARE the
    *    inserted rows);
    *  - `replace`: files were rewritten with no logical row change
    *    (compaction) — a change feed must emit NOTHING for it;
    *  - `delete`: a [[deleteRange]] rewrite — logically deleted rows =
    *    rows of the consumed files matching the recorded predicate
    *    (`O delete <keyCol>:<lo>:<hi>`);
    *  - `meta`: stats/bloom recommit, zero file-set change.
    * The O line is advisory for v1 readers (the live-set parser ignores
    * it, the A/R/F counts stay valid); a manifest WITHOUT one (pre-tag
    * history) reads as [[KindUnknown]] and an incremental consumer must
    * refuse and fall back to a full diff — conservative, never wrong. */
  val KindAppend = "append"
  val KindReplace = "replace"
  val KindDelete = "delete"
  val KindMeta = "meta"
  val KindUnknown = "unknown"

  /** Merge-on-read delete ([[deleteWhereDV]]): rows left the TABLE but no
    * data file moved — the deleted positions live in the commit's
    * deletion-vector sidecars. A change-feed consumer that does not
    * understand this kind must refuse (and [[ChangeFeed]] does), exactly
    * like [[KindUnknown]] — emitting nothing would silently drop the
    * delete. */
  val KindDvDelete = "dvdelete"

  /** Merge-on-read upsert ([[upsertDV]]): ONE commit that both appends
    * the update rows as new data files AND deletion-vector-deletes every
    * current row sharing a key with them — the MERGE `WHEN MATCHED
    * UPDATE / WHEN NOT MATCHED INSERT` shape with O(changed rows) write
    * amplification. A change-feed consumer replays it as the added
    * files' rows (`insert`) plus the added sidecars' positions
    * (`delete`); a consumer that does not understand the kind must
    * refuse, exactly like [[KindDvDelete]]. */
  val KindUpsert = "upsert"

  /** A whole-table OVERWRITE (SQL `INSERT OVERWRITE`): every
    * pre-commit live file is consumed, the staged files replace them,
    * and active deletion-vector sidecars drop (the rows they named are
    * gone with their files). Unlike [[KindReplace]] (compaction — the
    * LOGICAL content is unchanged and the feed ignores it), an
    * overwrite IS a logical change, and it replays exactly: every
    * pre-overwrite-ALIVE row of the consumed files (their rows minus
    * the dropped sidecars' positions) as `delete`, every produced
    * file's row as `insert`. */
  val KindOverwrite = "overwrite"

  /** The live file set of one partition at one committed version. */
  final case class Snapshot(version: Long, files: Seq[String])

  /** One commit as an incremental consumer sees it: what entered the
    * live set, what left it, (for `delete`/`dvdelete` commits) the
    * recorded row predicate, and (for `dvdelete`) the deletion-vector
    * sidecars the commit ADDED — reading them back names exactly the
    * rows that commit deleted. */
  final case class CommitInfo(version: Long, kind: String,
      added: Seq[String], removed: Seq[String],
      deletePredicate: Option[(String, Long, Long)],
      addedDvs: Seq[String] = Nil,
      // the commit's FULL live set — a DV replay planner intersects it
      // with the sidecars' footer-stat name ranges to find the touched
      // files without running a job (metadata already parsed anyway)
      liveNames: Seq[String] = Nil)

  private def logDir(partition: Path) = new Path(partition, LogDirName)

  private def manifestPath(partition: Path, version: Long) =
    new Path(logDir(partition), f"v$version%08d$ManifestSuffix")

  /** A visible data-file name: not `_`-metadata, not `.`-hidden. */
  private[lake] def isDataFile(name: String): Boolean =
    !name.startsWith("_") && !name.startsWith(".")

  private def versionOf(name: String): Option[Long] =
    if (name.startsWith("v") && name.endsWith(ManifestSuffix))
      name.substring(1, name.length - ManifestSuffix.length).toLongOption
    else None

  /** Per-file INT64 column stats carried in the manifest: the commit-time
    * min/max a pruning reader consults INSTEAD of sweeping parquet
    * footers — at 100 TB the footer sweep is millions of GETs, the
    * manifest line is free. Encoded after the file name, tab-separated
    * (`A <name>\tcol:min:max...`) — data-file names never contain tabs,
    * and a stats-free `A <name>` line stays valid, so v1 manifests and
    * stats-free writers interoperate unchanged. */
  final case class ColStat(col: String, min: Long, max: Long)

  private def statToken(s: ColStat) = s"${s.col}:${s.min}:${s.max}"

  private def statOf(tok: String): Option[ColStat] =
    tok.split(":") match {
      case Array(c, mn, mx) =>
        for (a <- mn.toLongOption; b <- mx.toLongOption)
          yield ColStat(c, a, b)
      case _ => None
    }

  /** Per-file per-column Bloom filter carried in the manifest (`F
    * <name>\t<col>:<bits>:<hashes>:<hexwords>` lines): equality
    * skipping for columns the layout does NOT cluster — min/max stats
    * are useless on an unsorted column (every file spans the domain),
    * but a 1-KiB bloom per file answers `col = v` probes with ~1% false
    * positives. The F lines are ignored by the live-set parser and by
    * v1 readers; the header's live/removed counts stay valid. */
  final case class ColBloom(col: String, bits: Int, hashes: Int,
      words: Array[Long]) {
    def mightContain(value: Long): Boolean = {
      val h1 = graft.ops.Bloom.md5Long60(value.toString)
      val h2 = graft.ops.Bloom.md5Long60("1" + value.toString)
      (0 until hashes).forall { i =>
        val p = Math.floorMod(h1 + i.toLong * h2, bits.toLong).toInt
        (words(p >>> 6) >>> (p & 63) & 1L) == 1L
      }
    }
  }

  private def bloomToken(b: ColBloom): String =
    s"${b.col}:${b.bits}:${b.hashes}:" +
      b.words.map(w => f"$w%016x").mkString

  private def bloomOf(tok: String): Option[ColBloom] =
    tok.split(":") match {
      case Array(c, bits, hashes, hex)
          if bits.toIntOption.isDefined && hashes.toIntOption.isDefined &&
            hex.length == bits.toInt / 4 =>
        val words = hex.grouped(16)
          .map(java.lang.Long.parseUnsignedLong(_, 16)).toArray
        Some(ColBloom(c, bits.toInt, hashes.toInt, words))
      case _ => None
    }

  private def decodeBloomLines(
      bloomLines: Seq[String]): Map[String, Seq[ColBloom]] =
    bloomLines.map { l =>
      val fields = l.substring(2).split("\t")
      (fields.head, fields.tail.toSeq.flatMap(bloomOf))
    }.toMap

  /** The ONE file-pruning rule of the lake: may a file whose committed
    * stats and blooms are these hold a row matching the predicate?
    * Every pruning reader asks it — the SQL scan ([[GraftSqlScan]]),
    * the Catalyst [[GraftFileIndex]] (its data filters translated to
    * the same v1 [[org.apache.spark.sql.sources.Filter]]s Spark's
    * parquet scan pushes) and the stats-pruned deletes — so a new
    * predicate shape or metadata facet is taught here once.
    *
    *  - `ranges`: per-column closed `[lo, hi]` bounds from long
    *    comparisons; a file survives when its min/max intersects.
    *  - `probes`: per-column sorted value sets from `=` and `IN`; a file
    *    survives when some value lies inside its min/max AND its bloom
    *    (if any) may contain some value. Only equality probes blooms — a
    *    range, even `BETWEEN v AND v`, consults stats alone.
    *
    * A superset, never a row filter: unknown shapes contribute nothing,
    * a file without stats or a bloom on a column is kept, and the
    * caller re-applies the full predicate to the rows it reads. */
  final case class Pruning(ranges: Map[String, (Long, Long)],
      probes: Map[String, Array[Long]]) {
    def isEmpty: Boolean = ranges.isEmpty && probes.isEmpty

    def keeps(stats: Seq[ColStat], blooms: Seq[ColBloom]): Boolean =
      ranges.forall { case (c, (lo, hi)) =>
        stats.find(_.col == c).forall(s => s.max >= lo && s.min <= hi)
      } && probes.forall { case (c, vs) =>
        stats.find(_.col == c).forall { s =>
          val i = java.util.Arrays.binarySearch(vs, s.min)
          val at = if (i >= 0) i else -i - 1 // first value >= min
          at < vs.length && vs(at) <= s.max
        } && blooms.find(_.col == c).forall(b => vs.exists(b.mightContain))
      }

    /** The live files of one committed state this pruning keeps; the
      * state's stats and bloom maps are built once, not per file. */
    private[graft] def kept(state: HeadState): Seq[String] =
      if (isEmpty) state.files
      else {
        val stats = state.stats
        val blooms =
          if (probes.isEmpty) Map.empty[String, Seq[ColBloom]]
          else state.blooms
        state.files.filter(n =>
          keeps(stats.getOrElse(n, Nil), blooms.getOrElse(n, Nil)))
      }
  }

  object Pruning {
    import org.apache.spark.sql.sources._

    val none: Pruning = Pruning(Map.empty, Map.empty)

    def range(col: String, lo: Long, hi: Long): Pruning =
      Pruning(Map(col -> (lo, hi)), Map.empty)

    private[lake] def longOf(v: Any): Option[Long] = v match {
      case l: Long  => Some(l)
      case i: Int   => Some(i.toLong)
      case s: Short => Some(s.toLong)
      case b: Byte  => Some(b.toLong)
      case _        => None
    }

    /** One v1 filter as a closed long range on one column, None when
      * the shape is not a long comparison (an `And` of two ranges on
      * the same column intersects them). */
    private[lake] def rangeOf(f: Filter): Option[(String, Long, Long)] =
      f match {
        case EqualTo(c, v)            => longOf(v).map(l => (c, l, l))
        case GreaterThanOrEqual(c, v) =>
          longOf(v).map(l => (c, l, Long.MaxValue))
        case GreaterThan(c, v)        =>
          longOf(v).collect { case l if l < Long.MaxValue =>
            (c, l + 1, Long.MaxValue) }
        case LessThanOrEqual(c, v)    =>
          longOf(v).map(l => (c, Long.MinValue, l))
        case LessThan(c, v)           =>
          longOf(v).collect { case l if l > Long.MinValue =>
            (c, Long.MinValue, l - 1) }
        case And(l, r)                =>
          (rangeOf(l), rangeOf(r)) match {
            case (Some((c1, lo1, hi1)), Some((c2, lo2, hi2))) if c1 == c2 =>
              Some((c1, math.max(lo1, lo2), math.min(hi1, hi2)))
            case _ => None
          }
        case _ => None
      }

    /** The pruning a conjunctive filter set implies: `And`s split,
      * comparisons tighten per-column ranges, `=` and all-long `IN`
      * lists become probe sets (intersected per column). */
    def of(filters: Seq[Filter]): Pruning = {
      def conjuncts(f: Filter): Seq[Filter] = f match {
        case And(l, r) => conjuncts(l) ++ conjuncts(r)
        case other     => Seq(other)
      }
      var ranges = Map.empty[String, (Long, Long)]
      var probes = Map.empty[String, Array[Long]]
      def probe(c: String, vs: Seq[Long]): Unit = {
        val set = vs.distinct.sorted.toArray
        probes += c -> probes.get(c).fold(set)(_.intersect(set))
      }
      filters.flatMap(conjuncts).foreach {
        case EqualTo(c, v) => longOf(v).foreach(l => probe(c, Seq(l)))
        case In(c, vs) if vs.nonEmpty && vs.forall(longOf(_).isDefined) =>
          probe(c, vs.toSeq.flatMap(longOf))
        case f => rangeOf(f).foreach { case (c, lo, hi) =>
          val (plo, phi) = ranges.getOrElse(c, (Long.MinValue, Long.MaxValue))
          ranges += c -> (math.max(plo, lo), math.min(phi, hi))
        }
      }
      Pruning(ranges, probes)
    }
  }

  /** A fully-parsed valid manifest: live (name, stats) entries,
    * (removedAtMs, name) tombstones, the commit kind, the delete
    * predicate (delete/dvdelete commits only), the ACTIVE
    * deletion-vector sidecar files (`V <name>` lines — positions these
    * files list are subtracted from every read of this version), and
    * the recorded table schema (`S <DataType json>` line) when one has
    * been committed. */
  private final case class Parsed(live: Seq[(String, Seq[ColStat])],
      removed: Seq[(Long, String)], kind: String,
      deletePredicate: Option[(String, Long, Long)],
      dvs: Seq[String], txns: Map[String, Long],
      schemaJson: Option[String] = None,
      bloomLines: Seq[String] = Nil)

  /** Parsed manifest; None if torn/invalid (possible only on filesystems
    * without atomic object PUT). The `O` kind line is advisory: its
    * absence or truncation degrades the kind to [[KindUnknown]], never
    * the manifest's validity (the A/R/F counts are the torn-write
    * detector). */
  private def parseFull(fs: FileSystem, p: Path): Option[Parsed] = {
    val in =
      try fs.open(p)
      catch { case _: java.io.FileNotFoundException => return None }
    val lines =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toIndexedSeq
      finally in.close()
    lines.headOption.filter(_.startsWith(Header)).flatMap { h =>
      val counts = h.stripPrefix(Header).trim.split("\\s+")
      val live = lines.tail.filter(_.startsWith("A ")).map { l =>
        val fields = l.substring(2).split("\t")
        (fields.head, fields.tail.toSeq.flatMap(statOf))
      }
      val removed = lines.tail.filter(_.startsWith("R ")).flatMap { l =>
        l.substring(2).split(" ", 2) match {
          case Array(ts, n) => ts.toLongOption.map(_ -> n)
          case _            => None
        }
      }
      val (kind, pred) = lines.tail.find(_.startsWith("O "))
        .map(_.substring(2).split("\\s+").toSeq)
        .collect {
          case Seq(k) => (k, None)
          case Seq(k, tok) if k == KindDelete || k == KindDvDelete =>
            tok.split(":") match {
              case Array(c, lo, hi) =>
                (k, for (a <- lo.toLongOption; b <- hi.toLongOption)
                  yield (c, a, b))
              case _ => (k, None)
            }
        }
        .getOrElse((KindUnknown, None))
      val bloomRaw = lines.tail.filter(_.startsWith("F "))
      val bloomLines = bloomRaw.size
      val dvs = lines.tail.filter(_.startsWith("V ")).map(_.substring(2))
      val txns = lines.tail.filter(_.startsWith("T ")).flatMap { l =>
        l.substring(2).split(" ", 2) match {
          case Array(app, v) => v.toLongOption.map(app -> _)
          case _             => None
        }
      }.toMap
      val nTxnLines = lines.tail.count(_.startsWith("T "))
      val schemaJson = lines.tail.find(_.startsWith("S "))
        .map(_.substring(2))
      val nSchemaLines = lines.tail.count(_.startsWith("S "))
      counts match {
        // legacy two-count header: F/V/T/S lines (if any) unvalidated
        case Array(a, r) if a.toIntOption.contains(live.size) &&
            r.toIntOption.contains(removed.size) =>
          Some(Parsed(live, removed, kind, pred, dvs, txns, schemaJson,
            bloomRaw))
        // three-count header (pre-DV): V/T/S lines unvalidated
        case Array(a, r, f) if a.toIntOption.contains(live.size) &&
            r.toIntOption.contains(removed.size) &&
            f.toIntOption.contains(bloomLines) =>
          Some(Parsed(live, removed, kind, pred, dvs, txns, schemaJson,
            bloomRaw))
        // four-count header (pre-txn): T/S lines unvalidated
        case Array(a, r, f, d) if a.toIntOption.contains(live.size) &&
            r.toIntOption.contains(removed.size) &&
            f.toIntOption.contains(bloomLines) &&
            d.toIntOption.contains(dvs.size) =>
          Some(Parsed(live, removed, kind, pred, dvs, txns, schemaJson,
            bloomRaw))
        // five-count header (pre-schema): S lines unvalidated
        case Array(a, r, f, d, t) if a.toIntOption.contains(live.size) &&
            r.toIntOption.contains(removed.size) &&
            f.toIntOption.contains(bloomLines) &&
            d.toIntOption.contains(dvs.size) &&
            t.toIntOption.contains(nTxnLines) =>
          Some(Parsed(live, removed, kind, pred, dvs, txns, schemaJson,
            bloomRaw))
        case Array(a, r, f, d, t, sc) if a.toIntOption.contains(live.size) &&
            r.toIntOption.contains(removed.size) &&
            f.toIntOption.contains(bloomLines) &&
            d.toIntOption.contains(dvs.size) &&
            t.toIntOption.contains(nTxnLines) &&
            sc.toIntOption.contains(nSchemaLines) =>
          Some(Parsed(live, removed, kind, pred, dvs, txns, schemaJson,
            bloomRaw))
        case _ => None
      }
    }
  }

  private def listVersions(fs: FileSystem, partition: Path): Seq[Long] = {
    val dir = logDir(partition)
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toIndexedSeq
      .flatMap(st => versionOf(st.getPath.getName)).sorted
  }

  /** The newest committed version whose manifest LANDED at or before
    * `tsMs` — the `TIMESTAMP AS OF` resolution step. The commit clock
    * is the log file's filesystem mtime (stamped by the atomic
    * write-then-rename publish — the only wall clock a
    * zero-metadata-store log carries), so resolution is bounded by
    * the filesystem's timestamp granularity; the versions themselves
    * stay the precise history. One log LIST, no manifest parses.
    * None when the oldest surviving manifest is already newer than
    * `tsMs` (pruneLog retention is the time-travel horizon). */
  def versionAt(fs: FileSystem, partition: Path,
      tsMs: Long): Option[Long] = {
    val dir = logDir(partition)
    if (!fs.exists(dir)) return None
    fs.listStatus(dir).toIndexedSeq
      .flatMap(st => versionOf(st.getPath.getName)
        .map(_ -> st.getModificationTime))
      .filter(_._2 <= tsMs).map(_._1).maxOption
  }

  /** The COMPLETE committed state of one partition at one version —
    * live files with their stats, blooms, active sidecars, writer txns
    * and the recorded schema — from ONE manifest parse. [[headState]]
    * (the current version: one log LIST + one parse) and [[stateAt]] (a
    * pinned version: one parse) are the only code that reads a leaf's
    * log on a reader's behalf; every `current*` / `*At` accessor is a
    * one-line projection of them. A reader that needs several facets
    * (the FileIndex and the SQL scan resolve four per leaf; a commit
    * attempt consults six) takes one state and projects it, so a
    * thousand-leaf table costs one metadata GET per leaf, not one per
    * facet. Blooms decode lazily — snapshot-only consumers never pay
    * the hex decode; [[stats]] builds a fresh map per call, so take it
    * once per read. */
  private[graft] final case class HeadState(version: Long,
      liveWithStats: Seq[(String, Seq[ColStat])], dvs: Seq[String],
      txns: Map[String, Long], schemaJson: Option[String],
      bloomLines: Seq[String]) {
    def files: Seq[String] = liveWithStats.map(_._1)
    def snapshot: Snapshot = Snapshot(version, files)
    def stats: Map[String, Seq[ColStat]] = liveWithStats.toMap
    lazy val blooms: Map[String, Seq[ColBloom]] =
      decodeBloomLines(bloomLines)
    def schema: Option[org.apache.spark.sql.types.StructType] =
      schemaJson.map(j => org.apache.spark.sql.types.DataType.fromJson(j)
        .asInstanceOf[org.apache.spark.sql.types.StructType])
  }

  private def stateOf(version: Long, p: Parsed): HeadState =
    HeadState(version, p.live, p.dvs, p.txns, p.schemaJson, p.bloomLines)

  /** The state of the highest VALID committed version, or None for a
    * partition with no (parseable) log. Skipping an invalid head lands
    * on the last durable commit — exactly the torn-write-is-no-commit
    * semantics. */
  private[graft] def headState(fs: FileSystem,
      partition: Path): Option[HeadState] =
    listVersions(fs, partition).sorted(Ordering[Long].reverse)
      .iterator
      .flatMap(v => parseFull(fs, manifestPath(partition, v))
        .map(stateOf(v, _)))
      .nextOption()

  /** The state of an EXPLICIT committed version (None if that version
    * was never validly committed or has been pruned) — time travel's
    * resolver. */
  private[graft] def stateAt(fs: FileSystem, partition: Path,
      version: Long): Option[HeadState] =
    parseFull(fs, manifestPath(partition, version)).map(stateOf(version, _))

  /** The current committed live file set. */
  def currentSnapshot(fs: FileSystem, partition: Path): Option[Snapshot] =
    headState(fs, partition).map(_.snapshot)

  /** The committed snapshot at an EXPLICIT version (None if that version
    * was never validly committed) — [[currentSnapshot]]'s time-travel
    * twin. */
  def snapshotAt(fs: FileSystem, partition: Path,
      version: Long): Option[Snapshot] =
    stateAt(fs, partition, version).map(_.snapshot)

  /** The current committed per-file column stats of one partition
    * (files committed without stats map to Nil — a pruning reader must
    * keep them). */
  def currentFileStats(fs: FileSystem,
      partition: Path): Map[String, Seq[ColStat]] =
    headState(fs, partition).fold(Map.empty[String, Seq[ColStat]])(_.stats)

  /** The current committed ACTIVE deletion-vector sidecar files of one
    * partition (empty when every delete so far was copy-on-write). Each
    * sidecar is a parquet of (file, pos) rows naming deleted positions;
    * the read-time union of all active sidecars is the partition's
    * logical deletion vector. */
  def currentDvs(fs: FileSystem, partition: Path): Seq[String] =
    headState(fs, partition).fold(Seq.empty[String])(_.dvs)

  /** The ACTIVE deletion-vector sidecars at an EXPLICIT committed
    * version (empty for a torn/absent slot) — [[currentDvs]]'s
    * time-travel twin; a snapshot replayer must refuse a version whose
    * sidecars it cannot subtract. */
  def dvsAt(fs: FileSystem, partition: Path, version: Long): Seq[String] =
    stateAt(fs, partition, version).fold(Seq.empty[String])(_.dvs)

  /** The committed writer-transaction watermarks of one partition
    * (`T <appId> <version>` lines — the public Delta `txn` action idea):
    * per idempotent writer app, the highest batch version whose rows
    * are ALREADY in the table. A restarted/retried writer consults this
    * before committing and skips versions at or below its watermark —
    * exactly-once sinks without any sink-side metadata log. */
  def currentTxns(fs: FileSystem, partition: Path): Map[String, Long] =
    headState(fs, partition).fold(Map.empty[String, Long])(_.txns)

  /** Highest committed version for one writer app, if any. */
  def lastTxnVersion(fs: FileSystem, partition: Path,
      appId: String): Option[Long] =
    currentTxns(fs, partition).get(appId)

  /** The committed table schema of one partition as DataType JSON, if
    * one has been recorded ([[recordSchema]] / [[alterSchema]] / an
    * evolving [[applyChangesDV]]). Carried forward by every commit, so
    * the HEAD manifest answers in one driver-side GET. */
  def currentSchemaJson(fs: FileSystem, partition: Path): Option[String] =
    headState(fs, partition).flatMap(_.schemaJson)

  /** [[currentSchemaJson]] decoded to a [[StructType]]. */
  def currentSchema(fs: FileSystem,
      partition: Path): Option[org.apache.spark.sql.types.StructType] =
    headState(fs, partition).flatMap(_.schema)

  /** The RECORDED schema as of `version` (None when that manifest is
    * pruned or predates schema recording) — what a time-travel read
    * must resolve against: a column added after `version` did not
    * exist then and must not surface NULL-filled. */
  def schemaAt(fs: FileSystem, partition: Path,
      version: Long): Option[org.apache.spark.sql.types.StructType] =
    stateAt(fs, partition, version).flatMap(_.schema)

  /** How many of the newest live files' parquet footers a schema
    * INFERENCE (no recorded schema) may touch. Newest-bounded for the
    * same reason the [[applyChangesDV]] guard is: the newest files
    * carry the current (additively-evolved) schema, and an unbounded
    * sweep is O(table-file-count) GETs per table open at 100 TB. */
  val SchemaFooterBound = 64

  /** Infer the partition's data schema from the newest ≤
    * [[SchemaFooterBound]] live files' footers (mergeSchema) and record
    * it in the commit log (one meta commit) — after this, every table
    * open and CDC schema guard is ONE driver-side manifest GET, zero
    * footers. Run once to adopt a legacy table; manifest-native writers
    * ([[stageAndPublish]], [[applyChangesDV]], [[alterSchema]])
    * maintain it from then on. Adopting listing-mode files with a
    * DIFFERENT schema ([[adoptNewFiles]]) does not re-infer — re-run
    * this after such an adoption. Returns the recorded schema. */
  def recordSchema(spark: SparkSession,
      partition: Path): org.apache.spark.sql.types.StructType = {
    val fs = partition.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val snap = bootstrap(fs, partition)
    require(snap.files.nonEmpty,
      s"recordSchema: $partition has no live files to infer from")
    val schema = spark.read.option("mergeSchema", "true")
      .parquet(snap.files.takeRight(SchemaFooterBound)
        .map(new Path(partition, _).toString): _*)
      .schema
    appendFiles(fs, partition, Nil, schemaJson = Some(schema.json))
    schema
  }

  /** Does a parquet file written as `from` read losslessly as `to`
    * WITHOUT rewriting — the type-widening set BOTH readers honor
    * (the stock vectorized/row parquet readers promote these per file,
    * and the Group-API feed reader converts explicitly)? Integral
    * promotions up to long, float→double, and sub-long integrals to
    * double. Nothing narrowing, nothing lossy (long→double drops
    * precision past 2^53 and stays refused). */
  def widens(from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    val intRank = Map[DataType, Int](ByteType -> 1, ShortType -> 2,
      IntegerType -> 3, LongType -> 4)
    (from, to) match {
      case (f, t) if intRank.contains(f) && intRank.contains(t) =>
        intRank(f) < intRank(t)
      case (FloatType, DoubleType) => true
      case (f, DoubleType) => intRank.get(f).exists(_ <= 3)
      case _ => false
    }
  }

  /** Explicit ALTER-style schema evolution: commit `next` as the
    * partition's recorded schema. Additive-compatible by default —
    * every ALREADY-recorded column must survive with its exact type
    * (readers mergeSchema old files either way; a silent type change
    * or drop would make the recorded schema lie about committed data).
    * New columns read as NULL from pre-evolution files. Two EXPLICIT
    * non-additive escapes (the SQL ALTER surface's DROP COLUMN /
    * ALTER COLUMN TYPE, each metadata-only):
    *  - a recorded column named in `allowDrop` may disappear — old
    *    files keep the bytes, every reader projects by name and never
    *    requests them again (the caller owns tombstoning the name so
    *    a later re-add cannot resurface them);
    *  - with `allowWiden` a recorded column may take a WIDER type
    *    ([[widens]]) — old files stay narrow and promote per file at
    *    read time in both reader tiers.
    * One driver-side meta commit; no data file moves. */
  def alterSchema(fs: FileSystem, partition: Path,
      next: org.apache.spark.sql.types.StructType,
      allowDrop: Set[String] = Set.empty,
      allowWiden: Boolean = false): Snapshot = {
    val recorded = currentSchema(fs, partition)
    recorded.foreach { prev =>
      val nf = next.map(f => f.name -> f.dataType).toMap
      prev.foreach { f =>
        require(nf.get(f.name).contains(f.dataType) ||
          (nf.get(f.name).isEmpty && allowDrop.contains(f.name)) ||
          nf.get(f.name).exists(t => allowWiden &&
            widens(f.dataType, t)),
          s"alterSchema: recorded column ${f.name}: ${f.dataType} " +
            s"missing or retyped in ${next.simpleString} — evolution " +
            "must be additive (drops/widenings only through the " +
            "explicit allowDrop/allowWiden escapes)")
      }
    }
    val prevNames = recorded.map(_.fieldNames.toSet).getOrElse(Set.empty)
    // added columns forced nullable: pre-evolution rows read NULL, and
    // a non-nullable declaration would silently zero them
    val sane = org.apache.spark.sql.types.StructType(next.map(f =>
      if (prevNames.contains(f.name)) f else f.copy(nullable = true)))
    appendFiles(fs, partition, Nil, schemaJson = Some(sane.json))
  }

  /** Table-level [[recordSchema]]: ensure EVERY leaf partition of a
    * (possibly Hive-partitioned) table carries a recorded schema —
    * leaves already recorded are untouched (one manifest GET each),
    * unrecorded ones pay the bounded footer inference once. Returns the
    * additive union across leaves (older leaves may predate an
    * evolution), refusing a type clash. After this, table open is one
    * manifest GET per leaf, zero footers, and [[GraftFileIndex]] never
    * hits its partially-recorded refusal. */
  def recordSchemaTable(spark: SparkSession,
      tableRoot: Path): org.apache.spark.sql.types.StructType = {
    val fs = tableRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts = Compaction.leaves(fs, tableRoot)
    val schemas = parts.map { dir =>
      currentSchema(fs, dir).getOrElse(recordSchema(spark, dir))
    }
    schemas.reduce { (a, b) =>
      b.foreach { f =>
        val prev = a.find(_.name == f.name)
        require(prev.forall(_.dataType == f.dataType),
          s"recordSchemaTable: leaf schemas disagree on ${f.name}: " +
            s"${prev.get.dataType} vs ${f.dataType} under $tableRoot")
      }
      org.apache.spark.sql.types.StructType(a.fields ++
        b.filterNot(f => a.fieldNames.contains(f.name)))
    }
  }

  /** Table-level [[alterSchema]]: fan the additive evolution out to
    * EVERY leaf partition (one meta commit each), then VERIFY every
    * leaf's recorded schema carries each evolved column — a forgotten
    * leaf would otherwise silently reintroduce the per-open footer
    * sweep (and [[GraftFileIndex]] now refuses such a table loudly
    * rather than falling back). A thousand-leaf evolution is a
    * thousand driver-side meta commits: metadata-only, no data file
    * moves, amortized once per evolution. */
  def alterSchemaTable(spark: SparkSession, tableRoot: Path,
      next: org.apache.spark.sql.types.StructType): Unit = {
    val fs = tableRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts = Compaction.leaves(fs, tableRoot)
    parts.foreach(dir => alterSchema(fs, dir, next))
    val missing = parts.filterNot(dir =>
      currentSchema(fs, dir).exists(rec => next.forall(f =>
        rec.exists(g => g.name == f.name && g.dataType == f.dataType))))
    require(missing.isEmpty,
      s"alterSchemaTable: ${missing.size} leaf/leaves under $tableRoot " +
        s"did not take the evolution (${missing.take(3).mkString(", ")})")
  }

  /** Put-if-absent of manifest `version`. False = lost the race (a valid
    * manifest already owns the slot). A torn manifest in the slot (HDFS
    * crash) is reclaimed: deleted and overwritten by this committer. */
  def tryCommit(fs: FileSystem, partition: Path, version: Long,
      live: Seq[String], removed: Seq[(Long, String)] = Nil,
      stats: Map[String, Seq[ColStat]] = Map.empty,
      blooms: Map[String, Seq[ColBloom]] = Map.empty,
      kind: String = KindAppend,
      deletePredicate: Option[(String, Long, Long)] = None,
      dvs: Seq[String] = Nil,
      txns: Map[String, Long] = Map.empty,
      schemaJson: Option[String] = None): Boolean = {
    val p = manifestPath(partition, version)
    fs.mkdirs(logDir(partition))
    def liveLine(n: String) = {
      val s = stats.getOrElse(n, Nil)
      if (s.isEmpty) s"A $n"
      else s"A $n\t${s.map(statToken).mkString("\t")}"
    }
    val bloomLines = live.flatMap { n =>
      val bs = blooms.getOrElse(n, Nil)
      if (bs.isEmpty) None
      else Some(s"F $n\t${bs.map(bloomToken).mkString("\t")}")
    }
    val dvLines = dvs.map(n => s"V $n")
    val txnLines = txns.toSeq.sortBy(_._1).map { case (a, v) => s"T $a $v" }
    // the recorded table schema rides every commit (like the active DV
    // set): the HEAD manifest alone answers "what is this table's
    // schema" in one driver-side GET — no footer is ever opened
    val schemaLines = schemaJson.map { j =>
      require(!j.contains("\n") && !j.contains("\r"),
        "schema json must be single-line")
      s"S $j"
    }.toSeq
    val opLine = deletePredicate match {
      case Some((c, lo, hi)) => s"O $kind $c:$lo:$hi"
      case None              => s"O $kind"
    }
    val headerLine = s"$Header ${live.size} ${removed.size} " +
      s"${bloomLines.size} ${dvLines.size} ${txnLines.size} " +
      s"${schemaLines.size}"
    val body =
      (headerLine +:
        (opLine +:
          (live.map(liveLine) ++ removed.map { case (ts, n) => s"R $ts $n" } ++
            bloomLines ++ dvLines ++ txnLines ++ schemaLines)))
        .mkString("\n")
    def createExclusive(): Boolean =
      try {
        val out = fs.create(p, false)
        try out.write(body.getBytes(StandardCharsets.UTF_8))
        finally out.close()
        true
      } catch {
        case _: FileAlreadyExistsException => false
        // some filesystems surface dst-exists as a plain IOException;
        // anything else (transient RPC failure) must propagate, not be
        // silently read as contention
        case e: java.io.IOException if fs.exists(p) => false
      }
    createExclusive() || {
      // occupied slot: valid manifest → genuine conflict. Invalid bytes
      // are EITHER a crashed writer's torn write (reclaimable) OR an
      // IN-FLIGHT writer that create-claimed the slot but has not
      // finished writing — POSIX/HDFS create+write+close is not
      // observed atomically, so a fresh invalid slot must be WAITED
      // OUT, never reclaimed: deleting it destroys the winner's commit
      // (a lost append — found by LakeConcurrencySpec). Object-store
      // PUTs are atomic, so there a parse failure is always a true
      // torn write and the stability gate only delays its reclaim.
      val key = p.toString
      if (parseFull(fs, p).nonEmpty) {
        tornSeen.remove(key) // in-flight writer finished: valid conflict
        false
      } else {
        val st =
          try Some(fs.getFileStatus(p))
          catch { case _: java.io.FileNotFoundException => None }
        st match {
          case None =>
            tornSeen.remove(key); createExclusive() // racing reclaimer won
          case Some(s) =>
            // staleness is judged against the LOCAL clock only: the slot
            // must be observed unchanged (same length + mtime signature)
            // by THIS process for a full grace window. Comparing the
            // driver's clock with the filesystem's mtime would re-enable
            // premature reclaim of a live writer's slot under clock skew
            // (HDFS namenode and driver keep independent clocks).
            val now = System.currentTimeMillis()
            val obs = tornSeen.compute(key, (_, prev) =>
              if (prev != null && prev.len == s.getLen &&
                prev.mtime == s.getModificationTime) prev
              else TornObs(s.getLen, s.getModificationTime, now))
            if (now - obs.firstSeenMs >= TornSlotGraceMs)
              reclaimTornSlot(fs, p, key, () => createExclusive())
            else {
              // in-flight (or not yet observed stable for the grace):
              // back off and let the caller's retry loop come around —
              // the backoff is sized so the default retry budget
              // OUTLASTS the grace (see TornSlotBackoffMs)
              Thread.sleep(TornSlotBackoffMs); false
            }
        }
      }
    }
  }

  /** Single-winner reclaim of a grace-expired torn slot, then an
    * exclusive-create attempt of this committer's manifest.
    *
    * The previous design was check-then-delete: two committers could
    * both observe the same stale unparseable slot, and the slower one
    * then delete the faster one's just-recreated VALID manifest — a
    * lost commit. Three layers close that:
    *
    *  1. a JVM-wide mutex — in-process committers (a single driver,
    *     the common deployment) can never race each other's reclaim at
    *     all, and the slot is re-parsed under the lock;
    *  2. the claim is an atomic RENAME aside, not a delete in place —
    *     of two cross-process reclaimers, exactly one wins the rename
    *     (HDFS/POSIX rename is atomic; the object-store copy+delete
    *     emulation resolves the winner at the source delete);
    *  3. the winner re-parses the renamed bytes: if they PARSE, a
    *     cross-process reclaimer recreated a valid commit between our
    *     parse and our rename — restore it verbatim and report
    *     contention instead of destroying it. Restore failing (a third
    *     committer claimed the freed slot in the microseconds between)
    *     errors LOUDLY: that is a divergence, never to be papered over.
    */
  private def reclaimTornSlot(fs: FileSystem, p: Path, key: String,
      createExclusive: () => Boolean): Boolean =
    reclaimLock.synchronized {
      if (parseFull(fs, p).nonEmpty) { // an in-process racer already reclaimed
        tornSeen.remove(key); return false
      }
      val aside = new Path(p.getParent,
        s".torn-${p.getName}-${java.util.UUID.randomUUID().toString.take(8)}")
      val won =
        try fs.rename(p, aside)
        catch { case _: java.io.IOException => false }
      tornSeen.remove(key)
      if (!won) return createExclusive() // cross-process racer took it
      if (parseFull(fs, aside).isEmpty) {
        fs.delete(aside, false) // a torn write holds nothing worth keeping
        createExclusive()
      } else {
        // stole a just-recreated valid commit: put it back byte-for-byte
        val in = fs.open(aside)
        val body =
          try org.apache.commons.io.IOUtils.toByteArray(in)
          finally in.close()
        try {
          val out = fs.create(p, false)
          try out.write(body) finally out.close()
        } catch {
          case e: Exception => sys.error(
            s"torn-slot reclaim of $p stole a concurrent reclaimer's " +
              "valid commit and could not restore it (a third committer " +
              s"claimed the slot): $e — manual repair from $aside required")
        }
        fs.delete(aside, false)
        false // the restored commit owns the slot: genuine conflict
      }
    }

  private val reclaimLock = new Object

  /** One locally-observed sighting of an unparseable slot: its change
    * signature and when THIS process first saw that signature. */
  private final case class TornObs(len: Long, mtime: Long,
      firstSeenMs: Long)

  /** Locally-observed unparseable slots, keyed by path — the stability
    * ledger the torn-slot grace is judged against. Entries are dropped
    * the moment a slot parses, vanishes, or is reclaimed; torn slots are
    * rare (a crashed writer), so the map stays tiny. */
  private val tornSeen =
    new java.util.concurrent.ConcurrentHashMap[String, TornObs]()

  /** Test seam: pre-record a local observation of an unparseable slot
    * (as if this process had been watching it, unchanged, since `atMs`)
    * so specs exercise the reclaim path without a 30 s wait. */
  private[graft] def noteTornObservation(p: Path, len: Long, mtime: Long,
      atMs: Long): Unit =
    tornSeen.put(p.toString, TornObs(len, mtime, atMs))

  /** How long an unparseable manifest slot must be LOCALLY observed
    * unchanged before a committer may reclaim it as a crashed writer's
    * torn write. Below this, an invalid slot is presumed to be a
    * concurrent writer's IN-FLIGHT create+write (POSIX/HDFS visibility
    * window — milliseconds, but a GC pause can stretch it); the
    * committer backs off and retries instead of destroying it. */
  val TornSlotGraceMs: Long = 30000L

  /** Back-off per attempt while waiting out a suspected in-flight slot.
    * Sized so the committers' default retry budget (maxAttempts = 50)
    * outlasts [[TornSlotGraceMs]]: 50 × 1 s > 30 s — a writer that
    * crashes mid-write stalls its partition for one grace window and is
    * then reclaimed, instead of every contender exhausting its attempts
    * first and erroring out. */
  val TornSlotBackoffMs: Long = 1000L

  /** Adopt a partition written by the plain listing-mode writers: if no
    * log exists, commit v1 listing the currently visible data files.
    * Idempotent; returns the (possibly pre-existing) current snapshot. */
  def bootstrap(fs: FileSystem, partition: Path): Snapshot =
    bootstrapState(fs, partition).snapshot

  /** [[bootstrap]] answering with the whole committed head state — one
    * log LIST + one parse when the log already exists. */
  private def bootstrapState(fs: FileSystem, partition: Path): HeadState =
    headState(fs, partition).getOrElse {
      val files =
        if (fs.exists(partition))
          fs.listStatus(partition).toIndexedSeq
            .filter(st => !st.isDirectory && isDataFile(st.getPath.getName))
            .map(_.getPath.getName)
        else Nil
      tryCommit(fs, partition, 1L, files)
      // whether we won or a racer did, the current state is the truth
      headState(fs, partition)
        .getOrElse(sys.error(s"manifest bootstrap failed for $partition"))
    }

  /** Append already-written data files to the live set (the manifest-mode
    * equivalent of a directory append becoming visible). Optimistic:
    * re-reads and retries on commit conflict. */
  def appendFiles(fs: FileSystem, partition: Path, names: Seq[String],
      maxAttempts: Int = 50,
      stats: Map[String, Seq[ColStat]] = Map.empty,
      blooms: Map[String, Seq[ColBloom]] = Map.empty,
      txn: Option[(String, Long)] = None,
      schemaJson: Option[String] = None): Snapshot = {
    require(names.forall(isDataFile), s"not data-file names: $names")
    var attempt = 0
    while (attempt < maxAttempts) {
      // one LIST + one parse per attempt serves every carried-forward
      // facet
      val head = bootstrapState(fs, partition)
      val snap = head.snapshot
      // idempotent-writer guard (the Delta txn semantic): a version at
      // or below the app's committed watermark is ALREADY in the table
      // — return the current snapshot without committing anything, so
      // a replayed micro-batch or a racing retry can never double-add
      val prevTxns = head.txns
      txn.foreach { case (app, v) =>
        if (prevTxns.get(app).exists(_ >= v)) return snap
      }
      val live = snap.files ++ names.filterNot(snap.files.contains)
      // surviving files KEEP their committed stats/blooms; fresh names
      // take the caller's (absent = conservative never-pruned)
      val merged = head.stats ++ stats
      val mergedB = head.blooms ++ blooms
      if (tryCommit(fs, partition, snap.version + 1, live, Nil,
          merged.filter { case (n, s) => live.contains(n) && s.nonEmpty },
          mergedB.filter { case (n, b) => live.contains(n) && b.nonEmpty },
          // a names-free recommit moves only metadata — a change feed
          // must not read it as an insert batch
          kind = if (names.isEmpty) KindMeta else KindAppend,
          // appended rows carry no deletions; the active sidecars ride
          dvs = head.dvs,
          txns = prevTxns ++ txn,
          // the recorded schema rides forward; callers evolving it
          // pass the override
          schemaJson = schemaJson.orElse(head.schemaJson)))
        return Snapshot(snap.version + 1, live)
      attempt += 1
      // progressive backoff: under N-way contention an immediate-retry
      // loop can lose 50 straight races (every attempt re-LISTs and
      // re-parses, so the fastest loser retries in lockstep with the
      // next winner); a short growing sleep staggers the herd
      Thread.sleep(math.min(200L, 5L * attempt))
    }
    sys.error(s"manifest append: $maxAttempts straight commit conflicts on $partition")
  }

  /** Commit a compaction: atomically replace `consumed` with `produced`
    * in the live set, tombstoning the consumed files for [[gc]]. Retries
    * on conflict, carrying concurrent appends forward. Returns None —
    * with nothing committed — if some consumed file is no longer live
    * (a concurrent compactor already replaced it); the caller must then
    * discard its produced files.
    *
    * Deletion-vector race guards (all re-evaluated on EVERY retry, so a
    * commit that raced past us can never be silently overwritten):
    *  - `dvsAdd`: union these sidecar names into the CURRENT active set
    *    (recomputed per attempt) — the [[deleteWhereDV]] shape. Passing
    *    an absolute `dvs` set computed before the loop would drop a
    *    concurrent delete's sidecar on retry (a lost delete).
    *  - `requireLive`: abort (None) unless these files are still live —
    *    a producer whose artifacts NAME data files (a positional
    *    sidecar) must not commit after a rewrite consumed them, or the
    *    sidecar silently no-ops.
    *  - `expectedDvs`: abort (None) unless the active sidecar set still
    *    equals this — a producer whose output was derived FROM the
    *    sidecars (applyDvs, a DV-subtracting compaction) must not
    *    commit `dvs=Some(...)` over a set that changed under it. */
  def replaceFiles(fs: FileSystem, partition: Path, consumed: Set[String],
      produced: Seq[String], nowMs: Long = System.currentTimeMillis(),
      maxAttempts: Int = 50, kind: String = KindReplace,
      deletePredicate: Option[(String, Long, Long)] = None,
      dvs: Option[Seq[String]] = None,
      dvsAdd: Seq[String] = Nil,
      requireLive: Set[String] = Set.empty,
      expectedDvs: Option[Seq[String]] = None,
      txn: Option[(String, Long)] = None,
      schemaJson: Option[String] = None): Option[Snapshot] = {
    require(dvs.isEmpty || dvsAdd.isEmpty,
      "replaceFiles: dvs (absolute) and dvsAdd (delta) are exclusive")
    var attempt = 0
    while (attempt < maxAttempts) {
      // one LIST + one parse per attempt (see appendFiles)
      val head = bootstrapState(fs, partition)
      val snap = head.snapshot
      // idempotent-writer guard (the appendFiles semantic): a version at
      // or below the app's committed watermark is ALREADY in the table —
      // return the current snapshot without committing (re-checked every
      // attempt, so a racing replay can never double-apply)
      val prevTxns = head.txns
      txn.foreach { case (app, v) =>
        if (prevTxns.get(app).exists(_ >= v)) return Some(snap)
      }
      if (!consumed.subsetOf(snap.files.toSet)) return None
      if (!requireLive.subsetOf(snap.files.toSet)) return None
      // dedupe against the survivors: a produced name some other path
      // already committed must not appear as a second A entry (a reader
      // would double-count its rows)
      val survivors = snap.files.filterNot(consumed)
      val live = survivors ++ produced.filterNot(survivors.contains)
      // deletion-vector sidecars: None carries the active set forward
      // (rows naming consumed files go inert — those files are no
      // longer scanned); Some(next) SETS it, tombstoning dropped
      // sidecars so gc collects them after the read grace
      val prevDvs = head.dvs
      if (expectedDvs.exists(_.toSet != prevDvs.toSet)) return None
      val nextDvs =
        if (dvsAdd.nonEmpty) prevDvs ++ dvsAdd.filterNot(prevDvs.contains)
        else dvs.getOrElse(prevDvs)
      val tombstones = (consumed.toSeq ++
        prevDvs.filterNot(nextDvs.contains)).sorted.map(nowMs -> _)
      // consumed files' stats/blooms die with them; survivors keep
      // theirs (the compactor may commit fresh ones via appendFiles)
      val stats = (head.stats -- consumed)
        .filter { case (n, s) => live.contains(n) && s.nonEmpty }
      val blooms = (head.blooms -- consumed)
        .filter { case (n, b) => live.contains(n) && b.nonEmpty }
      if (tryCommit(fs, partition, snap.version + 1, live, tombstones,
          stats, blooms, kind = kind, deletePredicate = deletePredicate,
          dvs = nextDvs, txns = prevTxns ++ txn,
          schemaJson = schemaJson.orElse(head.schemaJson)))
        return Some(Snapshot(snap.version + 1, live))
      attempt += 1
      Thread.sleep(math.min(200L, 5L * attempt)) // stagger the herd
    }
    sys.error(s"manifest replace: $maxAttempts straight commit conflicts on $partition")
  }

  /** Prefix marking files written by a manifest-mode compaction. Only
    * files with this prefix may be GC'd as UNREFERENCED orphans (a
    * crashed compactor's output): an unreferenced file WITHOUT it is an
    * in-flight plain append that [[adoptNewFiles]] has not committed yet
    * and must never be collected. */
  val CompactedPrefix = "compact-"

  /** Garbage-collect one partition: (a) files tombstoned at least
    * `graceMs` ago by any retained manifest, (b) `compact-*` files
    * referenced by NO manifest and older than `graceMs` (a crashed
    * compactor's orphans). The grace must exceed the longest reader scan
    * (tombstoned files may still be read through an older snapshot) and
    * the longest compaction (an orphan may be a commit in flight).
    * Returns deleted names. */
  def gc(fs: FileSystem, partition: Path, graceMs: Long,
      nowMs: Long = System.currentTimeMillis()): Seq[String] = {
    val versions = listVersions(fs, partition)
    if (versions.isEmpty || !fs.exists(partition)) return Nil
    val parsed = versions.flatMap(v => parseFull(fs, manifestPath(partition, v)))
    // active sidecars are as live as A files
    val live = liveAndDvs(fs, partition)
    val referenced = parsed.flatMap(_.live.map(_._1)).toSet ++
      parsed.flatMap(_.removed.map(_._2)) ++
      parsed.flatMap(_.dvs) // a retained version may still read its DVs
    val expired = parsed.flatMap(_.removed)
      .filter { case (ts, n) => nowMs - ts >= graceMs && !live.contains(n) }
      .map(_._2).toSet
    val entries = fs.listStatus(partition).toIndexedSeq
      .filter(st => !st.isDirectory && isDataFile(st.getPath.getName))
    val doomed = entries.filter { st =>
      val n = st.getPath.getName
      expired.contains(n) ||
        (n.startsWith(CompactedPrefix) && !referenced.contains(n) &&
          nowMs - st.getModificationTime >= graceMs)
    }
    doomed.foreach(st => fs.delete(st.getPath, false))
    doomed.map(_.getPath.getName)
  }

  /** Commit any visible data files a plain directory-append writer (e.g.
    * Lake.writeTables running in a manifest-mode deployment) added since the
    * last commit: every visible data file that is neither live nor
    * tombstoned joins the live set. `compact-*` names are NEVER adopted:
    * a [[CompactedPrefix]] file only enters the live set through its own
    * producer's commit ([[replaceFiles]] / [[appendFiles]]) — an unknown
    * one is a deleteRange/compaction/WAP run still in flight (or crashed,
    * awaiting [[gc]]), and adopting it would double-read its rows the
    * moment the producer commits. Returns the resulting snapshot. */
  def adoptNewFiles(fs: FileSystem, partition: Path): Snapshot = {
    val snap = bootstrap(fs, partition)
    val versions = listVersions(fs, partition)
    val tombstoned = versions
      .flatMap(v => parseFull(fs, manifestPath(partition, v)))
      .flatMap(_.removed.map(_._2)).toSet
    val known = snap.files.toSet ++ tombstoned
    val fresh =
      if (fs.exists(partition))
        fs.listStatus(partition).toIndexedSeq
          .filter(st => !st.isDirectory && isDataFile(st.getPath.getName))
          .map(_.getPath.getName)
          .filter(n => !known.contains(n) && !n.startsWith(CompactedPrefix))
      else Nil
    if (fresh.isEmpty) snap else appendFiles(fs, partition, fresh)
  }

  /** All live data-file paths of a partitioned table under `tableRoot`:
    * per leaf partition, the manifest's live set when a log exists, else
    * the plain visible listing (listing-mode partitions interoperate).
    * Missing listed files fail loudly — a manifest naming an absent file
    * means GC ran with too short a grace, and silently dropping rows is
    * the one unacceptable outcome. */
  def liveFiles(fs: FileSystem, tableRoot: Path): Seq[Path] = {
    val parts = Compaction.leaves(fs, tableRoot)
    parts.flatMap { dir =>
      currentSnapshot(fs, dir) match {
        case Some(snap) =>
          snap.files.map { n =>
            val p = new Path(dir, n)
            require(fs.exists(p),
              s"manifest for $dir lists missing file $n — GC grace too short?")
            p
          }
        case None =>
          if (fs.exists(dir))
            fs.listStatus(dir).toIndexedSeq
              .filter(st => !st.isDirectory && isDataFile(st.getPath.getName))
              .map(_.getPath)
          else Nil
      }
    }
  }

  /** The committed files of the current version as a plain parquet
    * frame, WITHOUT deletion-vector handling — for metadata-only
    * consumers (schema probes, `.limit(0)` empty frames) where
    * resurrected rows can never surface. Data reads go through
    * [[GraftFileIndex.table]] (current version) or [[readTableAt]]. */
  private[graft] def readTableRaw(spark: SparkSession,
      tableRoot: String): DataFrame = {
    val root = new Path(tableRoot)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = liveFiles(fs, root).map(_.toString)
    require(files.nonEmpty, s"no live files under $tableRoot")
    spark.read.option("basePath", tableRoot).parquet(files: _*)
  }

  /** Record commit-time column stats for already-committed files by
    * reading THEIR footers once (the writer just produced them — the
    * footers are hot) and re-committing the manifest with the stats
    * attached. At 100 TB this runs per ingest/compaction batch over the
    * batch's files only; readers then never touch a footer to prune. */
  def recordStats(spark: SparkSession, partition: Path,
      cols: Seq[String], only: Option[Set[String]] = None): Snapshot = {
    val fs = partition.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val head = bootstrapState(fs, partition)
    val snap = head.snapshot
    // `only` bounds the footer sweep to the batch that was just written
    // (survivors keep their committed stats through the merge in
    // appendFiles) — at scale the sweep must track the BATCH, not the
    // partition's file count
    val wanted = only.getOrElse(snap.files.toSet)
    val fresh = graft.ops.Layout
      .fileColumnStats(spark, partition.toString, cols, wanted.contains)
      .groupBy(_._1)
      .map { case (n, ss) =>
        n -> ss.map { case (_, c, mn, mx) => ColStat(c, mn, mx) }.toSeq }
      .filter { case (n, _) => snap.files.contains(n) }
    // merge at COLUMN granularity: recording stats for a new column
    // must not drop a file's previously-committed columns (appendFiles
    // merges whole file entries, so the column merge happens here)
    val prior = head.stats
    val stats = fresh.map { case (n, ss) =>
      n -> (prior.getOrElse(n, Nil)
        .filterNot(p => ss.exists(_.col == p.col)) ++ ss)
    }
    // appendFiles with no new names = a stats-only recommit
    appendFiles(fs, partition, Nil, stats = stats)
  }

  /** The head's live data files plus its active sidecars. */
  private def liveAndDvs(fs: FileSystem, partition: Path): Set[String] =
    headState(fs, partition).fold(Set.empty[String])(h =>
      h.files.toSet ++ h.dvs)

  /** Every file name the retained log still references, split into the
    * current live set and the tombstoned-awaiting-gc set — the "known
    * files" view fsck and audit tooling reconcile a listing against. */
  def referencedFiles(fs: FileSystem,
      partition: Path): (Set[String], Set[String]) = {
    val parsed = listVersions(fs, partition)
      .flatMap(v => parseFull(fs, manifestPath(partition, v)))
    val live = liveAndDvs(fs, partition) // sidecars are expected present
    (live, parsed.flatMap(_.removed.map(_._2)).toSet -- live)
  }

  /** The commit history of one partition over `(fromVersion, toVersion]`,
    * oldest first: per valid commit, its kind, the file names it ADDED
    * to the live set (live(v) − live(prev)), the names it removed, and a
    * delete commit's recorded predicate. Torn slots (never valid
    * commits) are skipped. This is pure manifest metadata — a few KiB of
    * driver-side GETs — regardless of table size; no data file is
    * opened. `fromVersion`'s manifest must still be parseable (i.e. not
    * [[pruneLog]]-pruned): the log retention IS the incremental-consume
    * horizon, exactly as the gc grace is the time-travel horizon. */
  def commitsBetween(fs: FileSystem, partition: Path, fromVersion: Long,
      toVersion: Long): Seq[CommitInfo] = {
    require(fromVersion <= toVersion,
      s"commitsBetween: $fromVersion > $toVersion")
    val base = parseFull(fs, manifestPath(partition, fromVersion))
      .getOrElse(sys.error(
        s"commitsBetween: version $fromVersion of $partition is gone — " +
          "log pruned past the consumer's cursor, full resync required"))
    var prevLive = base.live.map(_._1).toSet
    var prevDvs = base.dvs.toSet
    val out = Seq.newBuilder[CommitInfo]
    listVersions(fs, partition)
      .filter(v => v > fromVersion && v <= toVersion).sorted
      .foreach { v =>
        parseFull(fs, manifestPath(partition, v)).foreach { pf =>
          val liveNow = pf.live.map(_._1)
          out += CommitInfo(v, pf.kind,
            liveNow.filterNot(prevLive), pf.removed.map(_._2),
            pf.deletePredicate, pf.dvs.filterNot(prevDvs),
            liveNames = liveNow)
          prevLive = liveNow.toSet
          prevDvs = pf.dvs.toSet
        }
      }
    out.result()
  }

  /** The commit history of one partition as a DataFrame — the DESCRIBE
    * HISTORY surface (version, kind, files added/removed, sidecars
    * added, delete predicate if recorded). Driver-side manifest parsing
    * only: the log is KBs of metadata however large the table is; the
    * earliest retained version reports its full live set as `n_added`
    * (its delta base is pruned history). Timestamps are deliberately
    * absent — the manifest records none (object-store mtimes are not
    * commit times), and an audit surface must not invent them. */
  def history(spark: SparkSession, partition: Path): DataFrame = {
    import spark.implicits._
    val fs = partition.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val versions = listVersions(fs, partition).sorted
    require(versions.nonEmpty, s"no committed versions under $partition")
    val first = versions.head
    val base = parseFull(fs, manifestPath(partition, first)).map { pf =>
      (first, pf.kind, pf.live.size.toLong, 0L, pf.dvs.size.toLong,
        pf.deletePredicate.map { case (c, lo, hi) => s"$c:$lo:$hi" })
    }.toSeq
    val deltas = commitsBetween(fs, partition, first, versions.last)
      .map(c => (c.version, c.kind, c.added.size.toLong,
        c.removed.size.toLong, c.addedDvs.size.toLong,
        c.deletePredicate.map { case (col, lo, hi) => s"$col:$lo:$hi" }))
    (base ++ deltas).toDF("version", "kind", "n_added", "n_removed",
      "n_dvs_added", "delete_predicate")
  }

  /** Time travel: read one partition (or unpartitioned table dir) at a
    * past committed version — the version's LOGICAL state: deletion
    * vectors active at that version are subtracted exactly as
    * [[GraftFileIndex.table]] subtracts the current ones (a bare file
    * read of a merge-on-read version would resurrect its deleted rows).
    * Works until [[gc]] collects the version's tombstoned files or
    * sidecars — the gc grace is exactly the time-travel horizon, the
    * same trade Delta's VACUUM makes. */
  def readTableAt(spark: SparkSession, tableRoot: String,
      version: Long): DataFrame = {
    val root = new Path(tableRoot)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val state = stateAt(fs, root, version).getOrElse(
      sys.error(s"no committed version $version under $tableRoot"))
    require(state.files.nonEmpty, s"version $version is empty")
    val dvs = state.dvs.map { n =>
      val p = new Path(root, n)
      require(fs.exists(p),
        s"version $version of $tableRoot references collected sidecar " +
          s"$n — gc grace shorter than the travel window")
      p
    }
    readMinusDvs(spark, tableRoot,
      state.files.map(new Path(root, _)), dvs)
  }

  /** Targeted delete (the GDPR / right-to-be-forgotten rewrite): remove
    * every row with `keyCol` in [lo, hi] by rewriting ONLY the files
    * whose committed stats intersect the range — at 100 TB with a
    * clustered key this touches a handful of files, not the table. The
    * rewrite commits atomically through [[replaceFiles]] (readers see
    * all-old or all-new), rewritten files re-enter with fresh stats, and
    * untouched files are never opened. Returns (touched, liveAfter)
    * file counts. Files without stats on `keyCol` are conservatively
    * rewritten. */
  def deleteRange(spark: SparkSession, partition: Path, keyCol: String,
      lo: Long, hi: Long, statsCols: Seq[String]): (Int, Int) = {
    import org.apache.spark.sql.functions.col
    val fs = partition.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val head = bootstrapState(fs, partition)
    val touched = Pruning.range(keyCol, lo, hi).kept(head)
    if (touched.isEmpty) return (0, head.files.size)
    // merge-on-read guard: a raw rewrite of a DV-named file would copy
    // the DV-deleted rows into the produced files under new names and
    // positions — the carried sidecar goes inert and the rows
    // RESURRECT. Refuse and point at applyDvs; sidecars naming only
    // untouched files stay valid (those files survive this commit)
    // and are pinned via expectedDvs below.
    val dvNames = head.dvs
    if (dvNames.nonEmpty) {
      val named = spark.read
        .parquet(dvNames.map(new Path(partition, _).toString): _*)
        .select(col("file")).distinct()
        .collect().map(_.getString(0)).toSet // bounded: file NAMES
      val clash = touched.filter(named)
      require(clash.isEmpty,
        s"deleteRange: ${clash.size} file(s) to rewrite carry deletion " +
          s"vectors (e.g. ${clash.head}) — run applyDvs on $partition " +
          "first, or use deleteWhereDV")
    }
    val runId = java.util.UUID.randomUUID().toString.take(8)
    val staged = new Path(partition, s"._deleting-$runId")
    // NULL keys are OUTSIDE every [lo, hi]: `!between` alone evaluates
    // to NULL (row dropped) on a NULL key, silently deleting rows the
    // caller never asked to remove — the isNull disjunct keeps them
    spark.read.parquet(touched.map(new Path(partition, _).toString): _*)
      .filter(col(keyCol).isNull || !col(keyCol).between(lo, hi))
      .write.parquet(staged.toString)
    val produced = fs.listStatus(staged).toIndexedSeq
      .filter(st => !st.isDirectory && isDataFile(st.getPath.getName) &&
        st.getPath.getName.endsWith(".parquet"))
      .zipWithIndex.map { case (st, i) =>
        // CompactedPrefix keeps a crashed run's orphans GC-able
        val name = s"${CompactedPrefix}del-$runId-part$i.parquet"
        require(fs.rename(st.getPath, new Path(partition, name)),
          s"deleteRange: cannot move ${st.getPath} into $partition")
        name
      }
    fs.delete(staged, true)
    // the recorded predicate lets a change-feed consumer recover the
    // logically-deleted rows from the consumed files alone
    replaceFiles(fs, partition, touched.toSet, produced,
        kind = KindDelete,
        deletePredicate = Some((keyCol, lo, hi)),
        expectedDvs = Some(dvNames)) match {
      case Some(next) =>
        // footer sweep bounded to the rewritten batch; survivors keep
        // their committed stats through the appendFiles merge
        recordStats(spark, partition, statsCols,
          only = Some(produced.toSet))
        (touched.size, next.files.size)
      case None =>
        produced.foreach(n => fs.delete(new Path(partition, n), false))
        sys.error(s"deleteRange: concurrent rewrite of $partition — retry")
    }
  }

  /** Checkpoint the log: delete manifests older than the newest
    * `keepLast` versions — the metadata half of [[gc]] (readers LIST the
    * log dir, so an ever-growing log is an ever-growing metadata cost).
    * A manifest is prunable only when every file its commit tombstoned
    * is already collected: pruning earlier would lose the only record
    * [[gc]] has of those files. Pruning SHRINKS the time-travel horizon
    * to the kept versions — call after [[gc]], with `keepLast` at least
    * the history depth readers still need. Returns pruned versions. */
  /** Name of a consumer's retention-lease file inside the log dir.
    * Dot-prefixed: never a version ([[versionOf]] ignores it), never
    * swept by the `.torn-*` reclaim. */
  private def leasePath(partition: Path, consumerId: String): Path = {
    require(consumerId.nonEmpty &&
      consumerId.forall(c => c.isLetterOrDigit || "._-".contains(c)),
      s"lease consumer id must be [A-Za-z0-9._-]+: '$consumerId'")
    new Path(logDir(partition), s".lease-$consumerId")
  }

  /** Register (or renew) a RETENTION LEASE: consumer `consumerId`
    * promises to need manifest `minVersion` and everything after it
    * until `ttlMs` from now. [[pruneLog]] refuses to cross an unexpired
    * lease — the repair for the one gap log retention leaves open: a
    * bootstrap or slow streaming consumer pins a snapshot/cursor
    * version that an aggressive prune would otherwise drop mid-stream
    * (today's behavior without a lease stays: loud failure + restart).
    * The lease EXPIRES rather than blocking forever — a crashed
    * consumer's pin outlives it by at most the ttl, and renewal is one
    * small PUT (each micro-batch can afford it). Last write wins per
    * consumer id; distinct consumers hold independent leases. */
  def acquireLease(fs: FileSystem, partition: Path, consumerId: String,
      minVersion: Long, ttlMs: Long): Unit = {
    require(ttlMs > 0, s"lease ttl must be positive: $ttlMs")
    // write-then-rename, never create(overwrite)+write: an in-place
    // overwrite is visibly EMPTY mid-renewal, and a concurrent
    // [[pruneLog]] that read the empty file would classify the lease
    // dead at the exact moment its owner was renewing it — the
    // slow-consumer-vs-prune race the lease exists to close. The rename
    // (FileContext OVERWRITE — atomic on HDFS) swaps complete content
    // for complete content; [[activeLeaseFloor]] additionally SKIPS
    // rather than deletes anything it cannot parse.
    val dst = leasePath(partition, consumerId)
    val tmp = new Path(dst.getParent,
      s"${dst.getName}.tmp-${java.util.UUID.randomUUID.toString.take(8)}")
    val out = fs.create(tmp, true)
    try out.write(
      s"$minVersion ${System.currentTimeMillis() + ttlMs}\n"
        .getBytes("UTF-8"))
    finally out.close()
    org.apache.hadoop.fs.FileContext.getFileContext(fs.getUri, fs.getConf)
      .rename(tmp, dst, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  /** Drop `consumerId`'s lease (a cleanly-finishing consumer releases
    * instead of waiting out the ttl). Idempotent. */
  def releaseLease(fs: FileSystem, partition: Path,
      consumerId: String): Unit = {
    fs.delete(leasePath(partition, consumerId), false)
    ()
  }

  /** The lowest version any UNEXPIRED lease pins (None when no live
    * lease). Expired leases are deleted in passing — the log checkpoint
    * is where metadata residue goes to die. A file that does NOT parse
    * is SKIPPED, never deleted: [[acquireLease]]'s write-then-rename
    * means a well-behaved renewal is never visible half-written, so an
    * unparseable lease is either corrupt residue (harmless to leave —
    * it pins nothing) or evidence of a filesystem without atomic rename,
    * where deleting it could destroy a mid-renewal pin. Aged-out
    * `.tmp-` staging files from a crashed acquire are swept. */
  private def activeLeaseFloor(fs: FileSystem,
      partition: Path): Option[Long] = {
    val dir = logDir(partition)
    if (!fs.exists(dir)) return None
    val now = System.currentTimeMillis()
    val floors = fs.listStatus(dir).toIndexedSeq
      .filter(_.getPath.getName.startsWith(".lease-"))
      .flatMap { st =>
        if (st.getPath.getName.contains(".tmp-")) {
          // a crashed acquire's staging residue: age-gated so a LIVE
          // write-then-rename in flight is never destroyed
          if (st.getModificationTime < now - TornSlotGraceMs)
            fs.delete(st.getPath, false)
          None
        } else {
          val txt = new String({
            val in = fs.open(st.getPath)
            try in.readAllBytes() finally in.close()
          }, "UTF-8").trim
          txt.split("\\s+") match {
            case Array(v, exp) if scala.util.Try(exp.toLong).isSuccess &&
                scala.util.Try(v.toLong).isSuccess =>
              if (exp.toLong > now) Some(v.toLong)
              else { fs.delete(st.getPath, false); None } // expired
            case _ => None // unparseable: skip, never delete
          }
        }
      }
    floors.minOption
  }

  def pruneLog(fs: FileSystem, partition: Path,
      keepLast: Int = 2): Seq[Long] = {
    require(keepLast >= 1, s"must keep at least the head: $keepLast")
    val versions = listVersions(fs, partition)
    // an unexpired retention lease pins its version and everything
    // after: a leased consumer's snapshotAt/commitsBetween must keep
    // working until it releases or the lease expires
    val leaseFloor = activeLeaseFloor(fs, partition)
      .getOrElse(Long.MaxValue)
    val pruned = versions.dropRight(keepLast)
      .filter(_ < leaseFloor).filter { v =>
      parseFull(fs, manifestPath(partition, v)) match {
        case Some(pf) =>
          pf.removed.forall { case (_, n) =>
            !fs.exists(new Path(partition, n)) }
        case None => true // torn manifest: never a valid commit
      }
    }.map { v =>
      fs.delete(manifestPath(partition, v), false)
      v
    }
    // sweep `.torn-*` aside files: a reclaimer that crashed between its
    // rename-aside and the aside delete leaves one — hidden (never a
    // version, never read), but the log checkpoint is where metadata
    // residue goes to die. Age-gated on mtime: a LIVE reclaimer holds
    // its aside only for the rename→re-parse→restore window
    // (microseconds; a GC pause stretches it, never past the grace),
    // and deleting a live aside that holds a just-recreated VALID
    // commit would destroy the very bytes the reclaim's restore layer
    // protects. Only residue older than the grace is a crashed
    // reclaimer's.
    if (fs.exists(logDir(partition))) {
      val cutoff = System.currentTimeMillis() - TornSlotGraceMs
      fs.listStatus(logDir(partition)).toIndexedSeq
        .filter(st => st.getPath.getName.startsWith(".torn-") &&
          st.getModificationTime < cutoff)
        .foreach(st => fs.delete(st.getPath, false))
    }
    pruned
  }

  /** Write-audit-publish (the Iceberg WAP pattern): land `df` as data
    * files in the partition (invisible — the manifest does not list
    * them), run `audit` over EXACTLY the candidate files, and only on a
    * passing audit commit them atomically. A failing audit deletes the
    * staged files and the table never changes; a crash before commit
    * leaves only unreferenced objects for [[gc]]. Returns the published
    * snapshot, or None when the audit rejected the batch. */
  def stageAndPublish(spark: SparkSession, partition: Path,
      df: DataFrame, audit: DataFrame => Boolean,
      statsCols: Seq[String] = Nil): Option[Snapshot] = {
    val fs = partition.getFileSystem(spark.sparkContext.hadoopConfiguration)
    bootstrap(fs, partition) // pin the pre-publish snapshot first
    val runId = java.util.UUID.randomUUID().toString.take(8)
    // staged under the same hidden prefix compactTableManifest's
    // age-gated sweep already collects, so a crashed audit leaves only
    // sweepable garbage; the audit (arbitrarily long) runs while the
    // files are still INVISIBLE — hidden dir, not in any manifest, not
    // adoptable
    val staged = new Path(partition, s"._compacting-wap-$runId")
    df.write.parquet(staged.toString)
    if (!audit(spark.read.parquet(staged.toString))) {
      fs.delete(staged, true)
      None
    } else {
      val produced = fs.listStatus(staged).toIndexedSeq
        .filter(st => !st.isDirectory && isDataFile(st.getPath.getName) &&
          st.getPath.getName.endsWith(".parquet"))
        .zipWithIndex.map { case (st, i) =>
          val name = s"${CompactedPrefix}wap-$runId-part$i.parquet"
          require(fs.rename(st.getPath, new Path(partition, name)),
            s"stageAndPublish: cannot move ${st.getPath} into $partition")
          name
        }
      fs.delete(staged, true)
      val stats =
        if (statsCols.isEmpty) Map.empty[String, Seq[ColStat]]
        else graft.ops.Layout
          .fileColumnStats(spark, partition.toString, statsCols,
            produced.contains)
          .groupBy(_._1)
          .map { case (n, ss) =>
            n -> ss.map { case (_, c, mn, mx) => ColStat(c, mn, mx) }.toSeq }
      // a recorded schema must not go stale under a manifest-native
      // append: merge additively (a batch-only column evolves it; a
      // retyped column refuses — readers would union it wrongly)
      val evolved = currentSchema(fs, partition).map { prev =>
        val pf = prev.map(f => f.name -> f.dataType).toMap
        df.schema.foreach { f =>
          require(pf.get(f.name).forall(_ == f.dataType),
            s"stageAndPublish: batch retypes recorded column ${f.name} " +
              s"(${pf(f.name)} -> ${f.dataType}) on $partition")
        }
        // added columns forced nullable (pre-evolution rows read NULL)
        org.apache.spark.sql.types.StructType(prev.fields ++
          df.schema.filterNot(f => prev.fieldNames.contains(f.name))
            .map(_.copy(nullable = true))).json
      }
      Some(appendFiles(fs, partition, produced, stats = stats,
        schemaJson = evolved))
    }
  }

  /** Whole-table OVERWRITE in ONE atomic commit ([[KindOverwrite]]):
    * `df`'s rows replace every live file, active deletion-vector
    * sidecars drop (their rows die with their files), and the change
    * feed replays the commit EXACTLY — pre-overwrite-alive rows as
    * deletes, the new rows as inserts. The SQL `INSERT OVERWRITE`
    * verb. Staging is the WAP shape: files land hidden (a crash
    * leaves only sweepable garbage), then one commit swaps them in.
    * Concurrency: the overwrite consumes exactly the snapshot it read
    * — an append racing the commit window serializes after it and
    * SURVIVES (its rows were never part of the snapshot this
    * statement replaced); a concurrent rewrite that consumed one of
    * our files retries against the fresh snapshot. `df` must match
    * the recorded schema — an overwrite changes CONTENT, not shape
    * (evolution stays ALTER TABLE / alterSchema). */
  def overwriteTable(spark: SparkSession, partition: Path,
      df: DataFrame): Snapshot = {
    val fs = partition.getFileSystem(spark.sparkContext.hadoopConfiguration)
    bootstrap(fs, partition)
    currentSchema(fs, partition).foreach { prev =>
      val pf = prev.map(f => f.name -> f.dataType).toMap
      require(df.schema.forall(f => pf.get(f.name).contains(f.dataType))
          && df.schema.length == prev.length,
        s"overwriteTable: batch schema ${df.schema.simpleString} does " +
          s"not match the recorded ${prev.simpleString} on $partition " +
          "— an overwrite changes content, not shape")
    }
    val runId = java.util.UUID.randomUUID().toString.take(8)
    val staged = new Path(partition, s"._compacting-ovw-$runId")
    df.write.parquet(staged.toString)
    val produced = fs.listStatus(staged).toIndexedSeq
      .filter(st => !st.isDirectory && st.getPath.getName.endsWith(".parquet"))
      .zipWithIndex.map { case (st, i) =>
        val name = s"${CompactedPrefix}ovw-$runId-part$i.parquet"
        require(fs.rename(st.getPath, new Path(partition, name)),
          s"overwriteTable: cannot move ${st.getPath} into $partition")
        name
      }
    fs.delete(staged, true)
    var attempt = 0
    while (attempt < 10) {
      val snap = bootstrap(fs, partition)
      replaceFiles(fs, partition, consumed = snap.files.toSet,
        produced = produced, kind = KindOverwrite,
        dvs = Some(Nil)) match {
        case Some(next) => return next
        case None => attempt += 1 // a rewrite consumed one of ours
      }
    }
    sys.error(s"overwriteTable: 10 straight snapshot races on $partition")
  }

  /** OVERWRITE with files ALREADY MOVED into the partition (hidden
    * compact-prefixed names, invisible to listing until committed) —
    * the per-leaf building block of a partitioned `INSERT OVERWRITE`:
    * the caller fans one staged write out across leaves, then each
    * touched leaf swaps its whole live set for its staged files in ONE
    * atomic [[KindOverwrite]] commit (old files consumed, sidecars
    * dropped, feed replay exact: alive rows as deletes + staged rows
    * as inserts). Same retry discipline as [[overwriteTable]]. */
  def overwriteWithFiles(fs: FileSystem, partition: Path,
      produced: Seq[String]): Snapshot = {
    var attempt = 0
    while (attempt < 10) {
      val snap = bootstrap(fs, partition)
      replaceFiles(fs, partition, consumed = snap.files.toSet,
        produced = produced, kind = KindOverwrite,
        dvs = Some(Nil)) match {
        case Some(next) => return next
        case None => attempt += 1 // a rewrite consumed one of ours
      }
    }
    sys.error(s"overwriteWithFiles: 10 straight snapshot races on " +
      s"$partition")
  }

  /** TRUNCATE: the overwrite commit with nothing produced — every live
    * file consumed, sidecars dropped, one atomic [[KindOverwrite]]
    * commit whose feed replay is pure deletes (every pre-truncate-alive
    * row). Retries against the fresh snapshot on a consumed-file race. */
  def truncateTable(fs: FileSystem, partition: Path): Snapshot = {
    var attempt = 0
    while (attempt < 10) {
      val snap = bootstrap(fs, partition)
      if (snap.files.isEmpty) return snap // already empty: no commit
      replaceFiles(fs, partition, consumed = snap.files.toSet,
        produced = Nil, kind = KindOverwrite, dvs = Some(Nil)) match {
        case Some(next) => return next
        case None => attempt += 1
      }
    }
    sys.error(s"truncateTable: 10 straight snapshot races on $partition")
  }

  /** Record per-file Bloom filters for `column` (a BIGINT column) by one
    * distributed pass over the live files — the equality-skipping
    * complement to [[recordStats]] for columns the layout does not
    * cluster. Filter state is bits/8 bytes per file in the manifest
    * (1 KiB at the 8192-bit default); the build is one
    * input_file_name-keyed aggregation, map-side combinable. */
  def recordBlooms(spark: SparkSession, partition: Path, column: String,
      numBits: Int = 8192, numHashes: Int = 4): Snapshot = {
    import org.apache.spark.sql.functions.{col, input_file_name}
    import spark.implicits._
    val fs = partition.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val head = bootstrapState(fs, partition)
    val snap = head.snapshot
    val paths = snap.files.map(new Path(partition, _).toString)
    val perFile = spark.read.parquet(paths: _*)
      .select(input_file_name().as("f"),
        col(column).cast("long").as("k"))
      .filter(col("k").isNotNull)
      .as[(String, Long)]
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(new graft.ops.BloomAgg(numBits, numHashes).toColumn.name("w"))
      .collect()
    val fresh = perFile.map { case (f, words) =>
      new Path(f).getName ->
        Seq(ColBloom(column, numBits, numHashes, words))
    }.toMap.filter { case (n, _) => snap.files.contains(n) }
    // column-granular merge, as in recordStats: a second column's bloom
    // must not drop the first's
    val prior = head.blooms
    val blooms = fresh.map { case (n, bs) =>
      n -> (prior.getOrElse(n, Nil).filterNot(_.col == column) ++ bs)
    }
    appendFiles(fs, partition, Nil, blooms = blooms)
  }

  // ---------------------------------------------------------------- DVs

  /** Prefix of deletion-vector sidecar files. Starts with
    * [[CompactedPrefix]] so every existing guard applies unchanged: a
    * sidecar is never adopted as data by [[adoptNewFiles]]/[[bootstrap]],
    * and a crashed [[deleteWhereDV]]'s orphan sidecar is [[gc]]-collected
    * once unreferenced and stale. */
  val DvPrefix: String = s"${CompactedPrefix}dv-"

  /** Merge-on-read targeted delete (the public Delta deletion-vector /
    * Iceberg positional-delete idea, re-derived): instead of REWRITING
    * every file whose stats intersect [lo, hi] (what [[deleteRange]]
    * does), write a deletion-vector sidecar — a parquet of
    * `(file, pos)` rows naming the doomed positions via the parquet
    * row index — and commit it with the live set UNCHANGED. Readers
    * ([[GraftFileIndex.table]]) subtract the union of active sidecars
    * with one anti-join. NULL keys are outside every range, exactly as in
    * [[deleteRange]].
    *
    * Why this matters at 100 TB: a copy-on-write delete of k rows
    * rewrites every touched FILE — GBs of write amplification for a
    * single-customer GDPR erase. This writes O(deleted rows) bytes,
    * the delete commits in seconds regardless of file sizes, and the
    * rewrite cost is deferred to [[applyDvs]] (one compaction amortizes
    * any number of deletes). Successive DV deletes UNION at the file
    * level — no sidecar is ever read or merged at delete time.
    *
    * The scan that computes positions reads only the stats-intersecting
    * files and only (keyCol, row index); position stability is the
    * parquet physical row index (`_metadata.row_index`), immutable for
    * immutable files. Sidecar rows key on the file NAME — unique within
    * the partition by construction (uuid part names, runId compact
    * names). Returns (touchedFiles, deletedPositions). */
  def deleteWhereDV(spark: SparkSession, partition: Path, keyCol: String,
      lo: Long, hi: Long): (Int, Long) = {
    import org.apache.spark.sql.functions.col
    val fs = partition.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val head = bootstrapState(fs, partition)
    val touched = Pruning.range(keyCol, lo, hi).kept(head)
    if (touched.isEmpty) return (0, 0L)
    // the doomed positions: only keyCol + the row index leave the scan.
    // The RECORDED schema drives the read when present — after a
    // widening ALTER the touched set mixes narrow and wide files, and
    // footer inference would pick one width at random (a narrow pick
    // then throws on the wide files); the recorded width promotes
    // every file exactly
    val rdr = head.schema.fold(spark.read)(spark.read.schema)
    val dv = rdr
      .parquet(touched.map(new Path(partition, _).toString): _*)
      .select(col("_metadata.file_name").as("file"),
        col("_metadata.row_index").as("pos"), col(keyCol).as("k"))
      .filter(col("k").between(lo, hi)) // NULL keys never match
      .select(col("file"), col("pos"))
    stageAndCommitDv(spark, fs, partition, dv, touched,
      deletePredicate = Some((keyCol, lo, hi)))
  }

  /** Merge-on-read delete by an ARBITRARY row predicate — the
    * [[deleteWhereDV]] shape with the single-column long range
    * generalized to any deterministic boolean `cond` over the data
    * columns (string equality, IN lists, LIKE prefixes, disjunctions
    * — whatever the SQL WHERE translated to). Same cost model: the
    * scan reads only the files `pruning` keeps (the caller's
    * [[Pruning]] of the predicate; [[Pruning.none]] = all live
    * files) and only the columns `cond` references plus the row
    * index (Catalyst prunes the rest), the sidecar is O(deleted
    * rows), no data file moves, and the change feed replays the
    * commit from sidecar positions — no predicate needs recording.
    * NULL-evaluating rows don't match, exactly SQL's three-valued
    * WHERE. */
  def deleteWherePredicateDV(spark: SparkSession, partition: Path,
      cond: org.apache.spark.sql.Column,
      pruning: Pruning = Pruning.none): (Int, Long) = {
    import org.apache.spark.sql.functions.col
    val fs = partition.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val head = bootstrapState(fs, partition)
    val touched = pruning.kept(head)
    if (touched.isEmpty) return (0, 0L)
    // grafted names keep the projection collision-free when the data
    // itself carries `file`/`pos` columns; the recorded schema drives
    // the read (see deleteWhereDV — mixed-width files after a widening
    // ALTER must promote, not race footer inference)
    val dv = head.schema.fold(spark.read)(spark.read.schema)
      .parquet(touched.map(new Path(partition, _).toString): _*)
      .select(col("_metadata.file_name").as("_graft_dv_file"),
        col("_metadata.row_index").as("_graft_dv_pos"), col("*"))
      .filter(cond)
      .select(col("_graft_dv_file").as("file"),
        col("_graft_dv_pos").as("pos"))
    stageAndCommitDv(spark, fs, partition, dv, touched,
      deletePredicate = None)
  }

  /** Shared tail of every DV-producing delete: exclude positions
    * ALREADY dead under an active sidecar (a position must enter at
    * most one sidecar, or an overlapping later delete inflates its
    * deleted count and the change feed replays the row's delete
    * twice), stage the sidecar hidden, move it visible, and land ONE
    * [[KindDvDelete]] commit. */
  private def stageAndCommitDv(spark: SparkSession, fs: FileSystem,
      partition: Path, dvRaw: DataFrame, touched: Seq[String],
      deletePredicate: Option[(String, Long, Long)]): (Int, Long) = {
    val runId = java.util.UUID.randomUUID().toString.take(8)
    val staged = new Path(partition, s"._dv-$runId")
    val dv = minusActiveDvPositions(spark, fs, partition, dvRaw)
    // file-sorted sidecar: row groups cluster per data file, so (a) a
    // streaming reader's pushed `file =` filter skips foreign row
    // groups on stats and (b) each row group's min==max file stats
    // enumerate the touched files from the FOOTER alone (the feed
    // source's job-free planning fast path)
    dv.sort("file", "pos").write.parquet(staged.toString)
    val produced = fs.listStatus(staged).toIndexedSeq
      .filter(st => !st.isDirectory && isDataFile(st.getPath.getName) &&
        st.getPath.getName.endsWith(".parquet"))
      .zipWithIndex.map { case (st, i) =>
        val name = s"$DvPrefix$runId-part$i.parquet"
        require(fs.rename(st.getPath, new Path(partition, name)),
          s"deleteWhereDV: cannot move ${st.getPath} into $partition")
        name
      }
    fs.delete(staged, true)
    // count from the renamed sidecars (a hidden `._dv` staging path
    // would be skipped by Spark's hidden-file filter on a direct read)
    val nDeleted = spark.read
      .parquet(produced.map(new Path(partition, _).toString): _*).count()
    if (nDeleted == 0L) {
      produced.foreach(n => fs.delete(new Path(partition, n), false))
      return (0, 0L)
    }
    // dvsAdd (not an absolute set) so a concurrent deleteWhereDV's
    // sidecar committed during OUR retry window is unioned, never
    // dropped; requireLive aborts if a rewrite consumed a file our
    // positions name (the sidecar would silently no-op against the
    // rewritten copies)
    replaceFiles(fs, partition, Set.empty, Nil, kind = KindDvDelete,
        deletePredicate = deletePredicate,
        dvsAdd = produced, requireLive = touched.toSet) match {
      case Some(_) => (touched.size, nDeleted)
      case None =>
        produced.foreach(n => fs.delete(new Path(partition, n), false))
        sys.error(s"deleteWhereDV: concurrent rewrite of $partition — " +
          "positions are stale, rerun the delete")
    }
  }

  /** Merge the partition's ACTIVE deletion-vector sidecars into ONE —
    * sidecar METADATA compaction, the cheap sibling of [[applyDvs]]:
    * every merge-on-read read unions all active sidecars, so after k
    * targeted deletes each scan opens k sidecar files; this rewrites
    * ONLY the sidecars (O(deleted rows) bytes — no data file moves, no
    * row-level anti-join) into one file-sorted parquet and swaps the
    * active set in one commit. The swap commits as [[KindMeta]] (no
    * logical row moved — a feed must not replay it) with an
    * `expectedDvs` guard, so a delete that raced in a new sidecar
    * aborts the swap (return 0: rerun) rather than being dropped; the
    * consumed sidecars are tombstoned for [[gc]]. Returns the number
    * of sidecars merged (0 = raced or nothing to do). */
  def compactDvs(spark: SparkSession, partition: Path): Int = {
    import org.apache.spark.sql.functions.col
    val fs = partition.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dvs = currentDvs(fs, partition)
    if (dvs.size <= 1) return 0
    val runId = java.util.UUID.randomUUID().toString.take(8)
    val staged = new Path(partition, s"._dvc-$runId")
    spark.read.parquet(dvs.map(n => new Path(partition, n).toString): _*)
      .select(col("file"), col("pos"))
      .sort("file", "pos") // footer-stat planning, as in deleteWhereDV
      .write.parquet(staged.toString)
    val produced = fs.listStatus(staged).toIndexedSeq
      .filter(st => !st.isDirectory && isDataFile(st.getPath.getName) &&
        st.getPath.getName.endsWith(".parquet"))
      .zipWithIndex.map { case (st, i) =>
        val name = s"$DvPrefix$runId-part$i.parquet"
        require(fs.rename(st.getPath, new Path(partition, name)),
          s"compactDvs: cannot move ${st.getPath} into $partition")
        name
      }
    fs.delete(staged, true)
    replaceFiles(fs, partition, Set.empty, Nil, kind = KindMeta,
        dvs = Some(produced), expectedDvs = Some(dvs)) match {
      case Some(_) => dvs.size
      case None =>
        produced.foreach(n => fs.delete(new Path(partition, n), false))
        0 // a concurrent delete/rewrite changed the active set: rerun
    }
  }

  /** Subtract the positions ALREADY listed by the partition's active
    * sidecars from a freshly-scanned (file, pos) relation: every
    * position enters at most ONE sidecar, so deleted-row counts stay
    * exact and a change-feed consumer replaying commits one by one sees
    * each row's delete exactly once — overlapping delete ranges and
    * re-deleted keys would otherwise double-record (the raw scan reads
    * DV-dead rows like any other). O(already-deleted rows): one
    * broadcast anti-join against the active sidecar union. SERIAL
    * overlapping deleters are exact under this; two CONCURRENT deleters
    * racing overlapping ranges can still each scan before the other
    * commits — run overlapping deleters serialized (the read path's
    * anti-join is idempotent either way; only the feed cares). */
  private def minusActiveDvPositions(spark: SparkSession, fs: FileSystem,
      partition: Path, fresh: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val active = currentDvs(fs, partition)
    if (active.isEmpty) fresh
    else fresh.join(
      broadcast(spark.read
        .parquet(active.map(new Path(partition, _).toString): _*)
        .select("file", "pos")),
      Seq("file", "pos"), "left_anti")
  }

  /** Merge-on-read UPSERT — the MERGE `WHEN MATCHED UPDATE / WHEN NOT
    * MATCHED INSERT` shape over positional sidecars: every CURRENT row
    * whose `keyCol` matches a key in `updates` is deletion-vector-deleted
    * (all its versions — key-replacement semantics, the re-ingest/GDPR
    * shape), and `updates`' rows land as new data files; both move in
    * ONE atomic manifest commit (kind [[KindUpsert]]), so readers see
    * pre- or post-merge state, never a mix, and the change feed replays
    * exact delete+insert rows from the commit alone.
    *
    * Why this matters at 100 TB: a copy-on-write MERGE rewrites every
    * file holding a matched key — GBs moved to update KBs. This writes
    * O(changed rows): the position scan reads only the files whose
    * committed `keyCol` stats intersect the updates' key range (one
    * column + the row index), the match is a broadcast semi-join against
    * the bounded update-key set, and the appended files are exactly the
    * update rows. [[applyDvs]]/compaction amortize the rewrite later.
    *
    * `updates` must carry the table's schema; keys present in no current
    * row are pure inserts (no sidecar row). Commit-time race guards:
    * `dvsAdd` unions per attempt (a concurrent delete's sidecar is never
    * dropped) and `requireLive` aborts if a rewrite consumed a file the
    * positions name. Returns (touchedFiles, deletedPositions). */
  def upsertDV(spark: SparkSession, partition: Path, keyCol: String,
      updates: DataFrame, statsCols: Seq[String] = Nil): (Int, Long) =
    applyChangesDV(spark, partition, keyCol, inserts = updates,
      deleteKeys = updates.select(keyCol).limit(0), statsCols = statsCols)

  /** The general merge-on-read CHANGE APPLY — [[upsertDV]] plus explicit
    * key deletes and an exactly-once transaction watermark, i.e. the
    * operation a CDC-replication consumer needs per batch: every current
    * row whose `keyCol` is in `deleteKeys` OR shares a key with
    * `inserts` is deletion-vector-deleted, `inserts`' rows land as new
    * data files, and both move in ONE atomic commit. With
    * `txn = Some((appId, batchId))` a batch at or below the app's
    * committed watermark is a NO-OP (checked before any work AND
    * re-checked inside the commit), so a restarted stream — even one
    * that lost its checkpoint entirely — can replay its whole history
    * against the live table without double-applying anything: the
    * manifest is the only ledger. Returns (touchedFiles,
    * deletedPositions); (0, 0) for a replayed or empty batch.
    *
    * Concurrency contract (the same one Delta's MERGE conflict checker
    * enforces): the guards protect against concurrent REWRITES
    * (`requireLive` aborts when a compaction consumed a positioned
    * file) and concurrent DELETES (`dvsAdd` unions per attempt), but
    * two applyChangesDV writers racing on an OVERLAPPING key set would
    * both land their inserts — two "current" versions of a key. Run
    * one applier per key domain (the CDC-replication consumer is
    * single-writer by construction); cross-domain appliers are safe. */
  def applyChangesDV(spark: SparkSession, partition: Path, keyCol: String,
      inserts: DataFrame, deleteKeys: DataFrame,
      statsCols: Seq[String] = Nil,
      txn: Option[(String, Long)] = None): (Int, Long) = {
    import org.apache.spark.sql.functions.{broadcast, col, max, min}
    val fs = partition.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // one head read serves the txn guard, the schema check and the
    // position scan's file pruning
    val head = bootstrapState(fs, partition)
    val snap = head.snapshot
    txn.foreach { case (app, v) =>
      // replayed batch: already durable — nothing to stage, move, or
      // commit (the commit path re-checks, this just skips the work)
      if (head.txns.get(app).exists(_ >= v)) return (0, 0L)
    }
    val upd = inserts.cache()
    val delK = deleteKeys.select(col(deleteKeys.columns.head).as("__k"))
      .cache()
    try {
      // schema enforcement: a mismatched insert batch would land files
      // future readers union wrongly (silent nulls / type clashes) —
      // refuse up front against the table schema (an empty table has no
      // schema to enforce: the batch defines it). The RECORDED manifest
      // schema answers in one driver-side GET; a legacy table without
      // one falls back to the newest <= SchemaFooterBound live files'
      // footers (a per-batch O(table-files) sweep would dominate a
      // seconds-scale CDC apply at 100 TB, and the newest files carry
      // the current schema). ADDITIVE evolution is permitted: a batch
      // may carry NEW columns (readers mergeSchema them; pre-evolution
      // rows read NULL) and the commit records the evolved schema — a
      // source-side column addition flows through replication instead
      // of bricking it. Dropping or retyping a table column still
      // refuses: that is a drifting writer, not evolution.
      val evolvedSchemaJson: Option[String] =
        if (snap.files.isEmpty) Some(upd.schema.json)
        else {
          val tableSchema = head.schema.getOrElse {
            spark.read.option("mergeSchema", "true")
              .parquet(snap.files.takeRight(SchemaFooterBound)
                .map(new Path(partition, _).toString): _*)
              .schema
          }
          val uf = upd.schema.map(f => f.name -> f.dataType).toMap
          tableSchema.foreach { f =>
            require(uf.get(f.name).contains(f.dataType),
              s"applyChangesDV: inserts schema ${upd.schema.simpleString} " +
                s"drops or retypes table column ${f.name}: ${f.dataType} " +
                s"(table schema ${tableSchema.simpleString})")
          }
          // added columns are FORCED nullable: pre-evolution rows WILL
          // read NULL for them, and a non-nullable declaration makes
          // Spark silently surface 0/"" instead of null
          val fresh = upd.schema
            .filterNot(f => tableSchema.fieldNames.contains(f.name))
            .map(_.copy(nullable = true))
          Some(org.apache.spark.sql.types.StructType(
            tableSchema.fields ++ fresh).json)
        }
      // every key this batch dooms: explicit deletes + replaced inserts
      val keys = upd.select(col(keyCol).as("__k")).unionByName(delK)
        .distinct()
      val kb = keys.agg(min(col("__k")).cast("long"),
        max(col("__k")).cast("long")).head
      val nIns = upd.limit(1).count()
      if (kb.isNullAt(0) && nIns == 0L) return (0, 0L) // empty batch
      // file pruning for the position scan. The min/max box alone is
      // weak for the common CDC shape — a slice of replacements plus
      // fresh inserts far up the key space inflates the box over most
      // of the table. A CDC batch's key set is bounded, so when it fits
      // the driver comfortably, prune EXACTLY: keep a file only if some
      // batch key falls inside its committed [min, max] (one binary
      // search per file against the sorted key array — the key set is
      // a [[Pruning]] probe). Oversized batches fall back to the box —
      // still a superset, never wrong. Stats only: a bloom probe per
      // batch key per file would cost more than the scan it saves.
      val maxDriverKeys = 100000L
      val touched =
        if (kb.isNullAt(0)) Seq.empty[String]
        else {
          val pruning =
            if (keys.count() > maxDriverKeys)
              Pruning.range(keyCol, kb.getLong(0), kb.getLong(1))
            else Pruning(Map.empty, Map(keyCol ->
              keys.select(col("__k").cast("long"))
                .filter(col("__k").isNotNull)
                .collect().map(_.getLong(0)).sorted))
          val stats = head.stats
          snap.files.filter(n => pruning.keeps(stats.getOrElse(n, Nil), Nil))
        }
      val runId = java.util.UUID.randomUUID().toString.take(8)
      // doomed positions: stats-pruned scan of (keyCol, row index),
      // broadcast semi-join against the bounded batch key set; already
      // DV-dead positions excluded (a position enters at most one
      // sidecar — else a re-deleted key inflates counts and the feed
      // replays its delete twice)
      val sidecars: Seq[String] = if (touched.isEmpty) Nil else {
        val dv = minusActiveDvPositions(spark, fs, partition, spark.read
          .parquet(touched.map(new Path(partition, _).toString): _*)
          .select(col("_metadata.file_name").as("file"),
            col("_metadata.row_index").as("pos"), col(keyCol).as("k"))
          .join(broadcast(keys), col("k") === col("__k"), "left_semi")
          .select(col("file"), col("pos")))
        val staged = new Path(partition, s"._ups-dv-$runId")
        // file-sorted for footer-stat planning, as in deleteWhereDV
        dv.sort("file", "pos").write.parquet(staged.toString)
        val out = fs.listStatus(staged).toIndexedSeq
          .filter(st => !st.isDirectory && isDataFile(st.getPath.getName) &&
            st.getPath.getName.endsWith(".parquet"))
          .zipWithIndex.map { case (st, i) =>
            val name = s"$DvPrefix$runId-part$i.parquet"
            require(fs.rename(st.getPath, new Path(partition, name)),
              s"applyChangesDV: cannot move ${st.getPath} into $partition")
            name
          }
        fs.delete(staged, true)
        out
      }
      val nDeleted = if (sidecars.isEmpty) 0L
        else spark.read
          .parquet(sidecars.map(new Path(partition, _).toString): _*)
          .count()
      val dvNames = if (nDeleted == 0L) {
        sidecars.foreach(n => fs.delete(new Path(partition, n), false))
        Nil
      } else sidecars
      // the insert rows land under the compacted prefix: a crashed run's
      // files are never adopted as data and gc collects them when stale
      val produced: Seq[String] = if (nIns == 0L) Nil else {
        val staged = new Path(partition, s"._ups-$runId")
        upd.write.parquet(staged.toString)
        val out = fs.listStatus(staged).toIndexedSeq
          .filter(st => !st.isDirectory && isDataFile(st.getPath.getName) &&
            st.getPath.getName.endsWith(".parquet"))
          .zipWithIndex.map { case (st, i) =>
            val name = s"${CompactedPrefix}ups-$runId-part$i.parquet"
            require(fs.rename(st.getPath, new Path(partition, name)),
              s"applyChangesDV: cannot move ${st.getPath} into $partition")
            name
          }
        fs.delete(staged, true)
        out
      }
      if (produced.isEmpty && dvNames.isEmpty) return (0, 0L) // no-op
      replaceFiles(fs, partition, Set.empty, produced, kind = KindUpsert,
          dvsAdd = dvNames, requireLive = touched.toSet,
          txn = txn, schemaJson = evolvedSchemaJson) match {
        case Some(_) =>
          if (produced.nonEmpty && statsCols.nonEmpty)
            recordStats(spark, partition, statsCols,
              only = Some(produced.toSet))
          (touched.size, nDeleted)
        case None =>
          (produced ++ dvNames)
            .foreach(n => fs.delete(new Path(partition, n), false))
          sys.error(s"applyChangesDV: concurrent rewrite of $partition — " +
            "positions are stale, rerun the merge")
      }
    } finally {
      upd.unpersist(blocking = false)
      delK.unpersist(blocking = false)
    }
  }

  /** Read `dataPaths` minus the positions listed by `dvPaths`: each data
    * row carries its (file name, parquet row index) identity, the
    * sidecar union is the subtrahend, and one LEFT ANTI hash join — on
    * the broadcast sidecar rows — applies every accumulated delete.
    * Deletion vectors are O(deleted rows), not O(table), so the
    * broadcast is the common case; Spark's autoBroadcast threshold
    * degrades it to a shuffled join if a pathological sidecar outgrows
    * it. */
  private[lake] def readMinusDvs(spark: SparkSession, basePath: String,
      dataPaths: Seq[Path], dvPaths: Seq[Path]): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col}
    require(dataPaths.nonEmpty, s"no live files under $basePath")
    // mergeSchema: a DV-subtracting compaction merges evolved files
    // exactly as the raw compaction path does — a single arbitrary
    // footer must not pick the column set
    val data = spark.read.option("basePath", basePath)
      .option("mergeSchema", "true")
      .parquet(dataPaths.map(_.toString): _*)
    if (dvPaths.isEmpty) return data
    val keyed = data
      .withColumn("__dv_file", col("_metadata.file_name"))
      .withColumn("__dv_pos", col("_metadata.row_index"))
    val dv = spark.read.parquet(dvPaths.map(_.toString): _*)
    keyed.join(broadcast(dv),
        keyed("__dv_file") === dv("file") && keyed("__dv_pos") === dv("pos"),
        "left_anti")
      .drop("__dv_file", "__dv_pos")
  }

  /** Compact the deletion vectors of one partition back into the data
    * (merge-on-read -> copy-on-write conversion): rewrite ONLY the files
    * the sidecars actually name, drop every sidecar, and commit — after
    * this [[GraftFileIndex.table]] is a plain scan again and the
    * per-read anti-join cost is gone. One rewrite amortizes any number
    * of accumulated [[deleteWhereDV]] commits. Returns
    * (rewrittenFiles, droppedSidecars). */
  def applyDvs(spark: SparkSession, partition: Path,
      statsCols: Seq[String] = Nil): (Int, Int) = {
    import org.apache.spark.sql.functions.col
    val fs = partition.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val head = bootstrapState(fs, partition)
    val snap = head.snapshot
    val dvNames = head.dvs
    if (dvNames.isEmpty) return (0, 0)
    val dvPaths = dvNames.map(new Path(partition, _))
    // only files a sidecar names need rewriting; the rest pass through
    val named = spark.read.parquet(dvPaths.map(_.toString): _*)
      .select(col("file")).distinct()
      .collect().map(_.getString(0)).toSet // bounded: file NAMES, not rows
    val touched = snap.files.filter(named)
    val runId = java.util.UUID.randomUUID().toString.take(8)
    val staged = new Path(partition, s"._dvrw-$runId")
    val produced = if (touched.isEmpty) Nil else {
      readMinusDvs(spark, partition.toString,
          touched.map(new Path(partition, _)), dvPaths)
        .write.parquet(staged.toString)
      val out = fs.listStatus(staged).toIndexedSeq
        .filter(st => !st.isDirectory && isDataFile(st.getPath.getName) &&
          st.getPath.getName.endsWith(".parquet"))
        .zipWithIndex.map { case (st, i) =>
          val name = s"${CompactedPrefix}dvrw-$runId-part$i.parquet"
          require(fs.rename(st.getPath, new Path(partition, name)),
            s"applyDvs: cannot move ${st.getPath} into $partition")
          name
        }
      fs.delete(staged, true)
      out
    }
    // expectedDvs pins the sidecar set this rewrite subtracted: a
    // deleteWhereDV committing between our scan and this commit would
    // otherwise be dropped by dvs=Some(Nil) — a lost delete
    replaceFiles(fs, partition, touched.toSet, produced,
        kind = KindReplace, dvs = Some(Nil),
        expectedDvs = Some(dvNames)) match {
      case Some(_) =>
        if (produced.nonEmpty && statsCols.nonEmpty)
          recordStats(spark, partition, statsCols,
            only = Some(produced.toSet))
        (touched.size, dvNames.size)
      case None =>
        produced.foreach(n => fs.delete(new Path(partition, n), false))
        sys.error(s"applyDvs: concurrent rewrite of $partition — retry")
    }
  }
}
