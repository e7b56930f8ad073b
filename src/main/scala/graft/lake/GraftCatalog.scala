package graft.lake

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.MicroBatchStream
import org.apache.spark.sql.connector.write.{DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, V1Write, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.sources.{And, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, InsertableRelation, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types.{StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.{FeedFilePartition, FeedReaderFactory, FeedSource, TableFeedSource}

/** Catalog-level table metadata — the one piece the per-leaf manifest
  * cannot carry: the declared full schema (partition columns included),
  * the partition column list, and the optional row-identity key that
  * unlocks SQL UPDATE/MERGE. One tiny file (`_graft_table`) in the
  * table dir, written atomically (write-then-rename), read in one GET
  * at table open. Plain-lines format: partition cols CSV (may be
  * empty), key (or `-`), the schema JSON, then (round 15+) the
  * tombstoned column names CSV — names retired by DROP COLUMN, never
  * reusable: without column IDs an ADD of a dropped name would
  * resurface the old files' values under the new column. Tables
  * without the file (created by library calls or pre-round-14 SQL)
  * keep the legacy manifest-schema path; three-line files read with
  * no tombstones. */
private[graft] object GraftTableMeta {
  val FileName = "_graft_table"
  case class Meta(schema: StructType, partitionCols: Seq[String],
      key: Option[String], dropped: Seq[String] = Nil,
      colMap: Map[String, String] = Map.empty)

  /** COLUMN MAPPING (round 15): `meta.schema` carries LOGICAL names
    * (what SQL sees); parquet files, manifest-recorded schemas, and
    * per-file stats/blooms carry PHYSICAL names (a column's name at
    * CREATE/ADD time, fixed for life). `colMap` is the non-identity
    * logical→physical entries — RENAME COLUMN just re-keys it, no
    * commit, no file motion. Translation happens exactly at the
    * file-access boundary: scans request physical and emit positional
    * batches (names are planning-level), writers rename the row
    * schema positionally before staging. */
  def phys(name: String, m: Map[String, String]): String =
    m.getOrElse(name, name)
  def phys(schema: StructType, m: Map[String, String]): StructType =
    if (m.isEmpty) schema
    else StructType(schema.fields.map(f =>
      m.get(f.name).fold(f)(p => f.copy(name = p))))
  /** One pushed filter with its column references renamed
    * logical→physical — for parquet row-group pushdown and manifest
    * stats/bloom pruning on a mapped table. Covers every filter shape
    * the catalog prunes or deletes by; an unknown shape passes through
    * only when it references no mapped column (pruning treats it as
    * unprunable; the delete path's own reconstruction refuses it). */
  def physFilter(f: Filter, m: Map[String, String]): Filter = {
    if (m.isEmpty) return f
    import org.apache.spark.sql.sources._
    def p(n: String) = phys(n, m)
    f match {
      case EqualTo(c, v)            => EqualTo(p(c), v)
      case EqualNullSafe(c, v)      => EqualNullSafe(p(c), v)
      case GreaterThan(c, v)        => GreaterThan(p(c), v)
      case GreaterThanOrEqual(c, v) => GreaterThanOrEqual(p(c), v)
      case LessThan(c, v)           => LessThan(p(c), v)
      case LessThanOrEqual(c, v)    => LessThanOrEqual(p(c), v)
      case In(c, vs)                => In(p(c), vs)
      case IsNull(c)                => IsNull(p(c))
      case IsNotNull(c)             => IsNotNull(p(c))
      case StringStartsWith(c, v)   => StringStartsWith(p(c), v)
      case StringEndsWith(c, v)     => StringEndsWith(p(c), v)
      case StringContains(c, v)     => StringContains(p(c), v)
      case And(l, r) => And(physFilter(l, m), physFilter(r, m))
      case Or(l, r)  => Or(physFilter(l, m), physFilter(r, m))
      case Not(c)    => Not(physFilter(c, m))
      case other =>
        require(other.references.forall(r => !m.contains(r)),
          s"graft catalog: filter $other references a renamed column " +
            "and cannot be translated to its physical name")
        other
    }
  }

  def write(fs: FileSystem, dir: Path, meta: Meta): Unit = {
    val txt = meta.partitionCols.mkString(",") + "\n" +
      meta.key.getOrElse("-") + "\n" + meta.schema.json + "\n" +
      meta.dropped.mkString(",") + "\n" +
      meta.colMap.toSeq.sorted.map { case (l, p) => s"$l=$p" }
        .mkString(",") + "\n"
    val dst = new Path(dir, FileName)
    val tmp = new Path(dir,
      s".$FileName.tmp-${java.util.UUID.randomUUID.toString.take(8)}")
    val out = fs.create(tmp, true)
    try out.write(txt.getBytes("UTF-8")) finally out.close()
    org.apache.hadoop.fs.FileContext.getFileContext(fs.getUri, fs.getConf)
      .rename(tmp, dst, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  def read(fs: FileSystem, dir: Path): Option[Meta] = {
    val p = new Path(dir, FileName)
    if (!fs.exists(p)) return None
    val txt = new String({
      val in = fs.open(p)
      try in.readAllBytes() finally in.close()
    }, "UTF-8")
    val lines = txt.split("\n", 5)
    require(lines.length >= 3, s"torn table metadata at $p")
    def csv(i: Int): Seq[String] =
      if (lines.length <= i) Nil
      else lines(i).trim match {
        case "" => Nil
        case s  => s.split(",").toSeq
      }
    Some(Meta(
      org.apache.spark.sql.types.DataType.fromJson(lines(2).trim)
        .asInstanceOf[StructType],
      lines(0).trim match { case "" => Nil; case s => s.split(",").toSeq },
      lines(1).trim match { case "-" => None; case k => Some(k) },
      csv(3),
      csv(4).map { e =>
        val i = e.indexOf('=')
        e.substring(0, i) -> e.substring(i + 1)
      }.toMap))
  }
}

/** SQL-native surface of the manifest lake — a DataSourceV2
  * [[TableCatalog]], so plain `spark.sql` flows through the manifest
  * commit protocol with no library calls:
  *
  * {{{
  * spark.conf.set("spark.sql.catalog.graft", "graft.lake.GraftCatalog")
  * spark.conf.set("spark.sql.catalog.graft.warehouse", "/lake")
  * spark.sql("CREATE TABLE graft.db.t (k BIGINT, v DOUBLE)")
  * spark.sql("INSERT INTO graft.db.t SELECT ...")
  * spark.sql("SELECT * FROM graft.db.t")
  * }}}
  *
  *  - **CREATE TABLE** bootstraps the commit log and records the
  *    declared schema as the table's manifest schema
  *    ([[ManifestCommit.alterSchema]]) — table open afterwards is one
  *    manifest GET, zero footer reads.
  *  - **INSERT INTO** lands through [[ManifestCommit.stageAndPublish]]:
  *    files staged invisibly, then ONE atomic manifest commit — a
  *    failed insert leaves only sweepable hidden garbage, and
  *    concurrent inserts serialize through the optimistic commit
  *    protocol like any library writer. **INSERT OVERWRITE** swaps the
  *    whole table in ONE [[ManifestCommit.KindOverwrite]] commit (old
  *    files consumed, sidecars dropped) and the change feed replays it
  *    exactly: alive rows as deletes, new rows as inserts.
  *  - **SELECT** plans one InputPartition per live data file straight
  *    from the manifest (no directory listing), column pruning pushed
  *    into the per-file reader (fields resolve by name), long-range
  *    predicates pruning FILES against the manifest's per-file stats.
  *    Reads are MERGE-ON-READ: active deletion-vector sidecars
  *    subtract positionally inside each touched file's reader, so a
  *    post-DELETE table reads correctly with no compaction step.
  *  - **DELETE FROM ... WHERE** (one conjunctive long range on one
  *    column) lands as a positional deletion-vector sidecar in ONE
  *    commit ([[ManifestCommit.deleteWhereDV]]) — O(deleted rows)
  *    write amplification, no file rewrites; looser predicates refuse
  *    loudly rather than under-delete.
  *  - **ALTER TABLE** (all metadata-only, zero file motion):
  *    ADD COLUMN maps to the additive [[ManifestCommit.alterSchema]];
  *    DROP COLUMN narrows the recorded schema and retires the name
  *    forever (tombstoned — a re-ADD would resurface old bytes);
  *    ALTER COLUMN TYPE accepts lossless parquet widenings
  *    ([[ManifestCommit.widens]] — old files promote per file);
  *    RENAME COLUMN re-keys the logical→physical column mapping
  *    ([[GraftTableMeta.phys]] — files keep their physical names, the
  *    scan/write boundary translates); narrowing retypes refuse.
  *  - **Time travel**: `SELECT ... FROM t VERSION AS OF n` reads the
  *    snapshot at manifest version `n` with that version's sidecars
  *    subtracting and the schema as recorded THEN (a later-added
  *    column does not surface). Read-only; valid until `pruneLog`
  *    drops the manifest — the log retention IS the time-travel
  *    horizon, and a pruned version refuses loudly.
  *
  * Layout: `warehouse/<namespace dirs...>/<table>` — each table is one
  * manifest partition (the unpartitioned lake shape; Hive-partitioned
  * tables keep the library surface). Tables created by library calls
  * under the warehouse are visible to SQL and vice versa: the manifest
  * is the single source of truth. */
class GraftCatalog extends TableCatalog with SupportsNamespaces
    with StagingTableCatalog {
  /** Column DEFAULT values: `CREATE TABLE (c INT DEFAULT 5)` and
    * `ALTER TABLE ... ADD COLUMN ... DEFAULT` / `ALTER COLUMN ... SET
    * DEFAULT`. Spark encodes the default into the StructField
    * metadata (CURRENT_DEFAULT fills future inserts analyzer-side;
    * EXISTS_DEFAULT is the constant the column reads from files
    * committed BEFORE it existed) — the recorded schema carries it,
    * the stock parquet readers fill existence defaults natively
    * (probed, both tiers' vectorized/row variants), and the Group-API
    * merge-on-read reader resolves the same constants per reader. */
  override def capabilities()
      : util.Set[org.apache.spark.sql.connector.catalog
        .TableCatalogCapability] =
    util.EnumSet.of(org.apache.spark.sql.connector.catalog
      .TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE)

  private var catName: String = _
  private var warehouse: Path = _
  private def spark = SparkSession.active
  private def fs: FileSystem =
    warehouse.getFileSystem(spark.sparkContext.hadoopConfiguration)

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catName = name
    val w = options.get("warehouse")
    require(w != null,
      s"graft catalog '$name' needs spark.sql.catalog.$name.warehouse")
    warehouse = new Path(w)
  }
  override def name(): String = catName

  private def tableDir(ident: Identifier): Path =
    (ident.namespace() :+ ident.name())
      .foldLeft(warehouse)((p, seg) => new Path(p, seg))
  private def nsDir(ns: Array[String]): Path =
    ns.foldLeft(warehouse)((p, seg) => new Path(p, seg))
  private def isTableDir(p: Path): Boolean =
    fs.exists(new Path(p, ManifestCommit.LogDirName)) ||
      fs.exists(new Path(p, GraftTableMeta.FileName))

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = nsDir(namespace)
    if (!fs.exists(dir)) throw new NoSuchNamespaceException(
      catName +: namespace.toSeq)
    fs.listStatus(dir).toSeq
      // dot-prefixed dirs are invisible: in-flight CTAS staging and
      // parked REPLACE content carry the ordinary table shape but are
      // not tables until their one-rename publish
      .filter(st => st.isDirectory && !st.getPath.getName.startsWith(".")
        && isTableDir(st.getPath))
      .map(st => Identifier.of(namespace, st.getPath.getName))
      .toArray
  }

  override def loadTable(ident: Identifier): Table = {
    val dir = tableDir(ident)
    if (!isTableDir(dir)) throw new NoSuchTableException(
      (catName +: ident.namespace() :+ ident.name()).toSeq)
    GraftTableMeta.read(fs, dir) match {
      case Some(m) if m.key.isDefined =>
        new GraftSqlKeyedTable(dir.toString, ident.toString, m.schema,
          m.key.get, m.partitionCols, m.colMap)
      case Some(m) =>
        new GraftSqlTable(dir.toString, ident.toString, m.schema,
          partCols = m.partitionCols, key = m.key, colMap = m.colMap)
      case None => // legacy/library table: the manifest schema rules
        val schema = ManifestCommit.currentSchema(fs, dir).getOrElse(
          sys.error(s"graft catalog: table $ident at $dir has no " +
            "recorded manifest schema — record one " +
            "(ManifestCommit.recordSchema) before reading it through SQL"))
        new GraftSqlTable(dir.toString, ident.toString, schema)
    }
  }

  /** Time travel — `SELECT ... FROM t VERSION AS OF n`: the table at
    * manifest version `n` (files from that snapshot, that version's
    * active sidecars subtracting, the schema AS RECORDED THEN — a
    * later-added column did not exist at `n` and must not surface).
    * Valid until [[ManifestCommit.pruneLog]] drops the manifest; a
    * pruned version refuses loudly. Read-only: writes/deletes against
    * a pinned version refuse. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val dir = tableDir(ident)
    if (!isTableDir(dir)) throw new NoSuchTableException(
      (catName +: ident.namespace() :+ ident.name()).toSeq)
    require(GraftTableMeta.read(fs, dir).forall(_.partitionCols.isEmpty),
      s"graft catalog: VERSION AS OF on partitioned $ident is not " +
        "supported — each leaf has its own commit history; pin a " +
        "per-leaf version through the library (readTableAt)")
    val v = try version.toLong catch {
      case _: NumberFormatException => sys.error(
        s"graft catalog: VERSION AS OF wants a commit version " +
          s"(a number); got '$version'")
    }
    val state = ManifestCommit.stateAt(fs, dir, v)
    require(state.isDefined,
      s"graft catalog: version $v of $ident is gone — the log was " +
        "pruned past it (pruneLog retention is the time-travel horizon)")
    val schema = state.get.schema
      .orElse(ManifestCommit.currentSchema(fs, dir)).getOrElse(
        sys.error(s"graft catalog: table $ident has no recorded schema"))
    new GraftSqlTable(dir.toString, s"$ident@v$v", schema, asOf = Some(v))
  }

  /** `SELECT ... FROM t TIMESTAMP AS OF <ts>`: resolve the newest
    * commit whose manifest landed at or before the timestamp (Spark
    * hands MICROSECONDS since epoch; the commit clock is the log
    * file's mtime — see [[ManifestCommit.versionAt]]), then serve the
    * ordinary pinned-version read: that version's sidecars subtract,
    * the schema is as recorded THEN, writes refuse.
    *
    * Unlike `VERSION AS OF` (version numbers are per-leaf counters
    * and mean nothing table-wide), the wall clock IS global, so a
    * PARTITIONED table time-travels too: each leaf pins to its own
    * newest commit at or before the timestamp, and a leaf born after
    * the timestamp contributes nothing. The served schema is the
    * additive union of what the pinned leaves had recorded THEN
    * (current declared order; a mid-flight widening fan-out unions to
    * the widest type — readers promote per file either way). */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val dir = tableDir(ident)
    if (!isTableDir(dir)) throw new NoSuchTableException(
      (catName +: ident.namespace() :+ ident.name()).toSeq)
    val tsMs = timestamp / 1000L
    def noCommit: Nothing = sys.error(
      s"graft catalog: $ident has no commit at or before " +
        s"${java.time.Instant.ofEpochMilli(tsMs)} — either the table " +
        "is younger, or pruneLog dropped the era (log retention is " +
        "the time-travel horizon)")
    val meta = GraftTableMeta.read(fs, dir)
    val parts = meta.map(_.partitionCols).getOrElse(Nil)
    if (parts.isEmpty) {
      val v = ManifestCommit.versionAt(fs, dir, tsMs).getOrElse(noCommit)
      loadTable(ident, v.toString)
    } else {
      val pinned: Map[String, Long] =
        TableFeedSource.leafRels(fs, dir).filter(_ != ".")
          .flatMap(rel => ManifestCommit
            .versionAt(fs, new Path(dir, rel), tsMs).map(rel -> _))
          .toMap
      if (pinned.isEmpty) noCommit
      // the schema as the pinned leaves recorded it then, in the
      // current declared order; a type mismatch across leaves can only
      // be a mid-fan-out widening — union to the widest
      val declared = meta.get.schema
      val thenOrdered: Seq[(String, org.apache.spark.sql.types.DataType)] =
        pinned.toSeq.sortBy(_._1)
          .flatMap { case (rel, v) => ManifestCommit
            .schemaAt(fs, new Path(dir, rel), v).toSeq.flatMap(_.fields)
          }.map(f => f.name -> f.dataType)
      val thenData: Map[String, org.apache.spark.sql.types.DataType] =
        thenOrdered
          .groupMapReduce(_._1)(_._2)((a, b) =>
            if (a == b) a
            else if (ManifestCommit.widens(a, b)) b
            else if (ManifestCommit.widens(b, a)) a
            else sys.error(s"graft catalog: $ident leaves disagree on " +
              s"a column's type at the pinned versions ($a vs $b) and " +
              "neither widens the other"))
      // legacy leaves that predate schema recording contribute nothing
      // to thenData — fall back to the declared schema rather than
      // serving a data-column-less table. Recorded leaf schemas carry
      // PHYSICAL names; a pinned read serves them as-is (the names as
      // recorded THEN — a later RENAME is metadata with no commit, so
      // the log cannot place it) with an identity mapping. A column
      // DROPped after the timestamp existed THEN: it rides along
      // after the declared-order survivors, exactly as the
      // unpartitioned path (which serves schemaAt verbatim) would.
      val cmap = meta.get.colMap
      val declaredPhys = declared.fields
        .filterNot(f => parts.contains(f.name))
        .map(f => GraftTableMeta.phys(f.name, cmap)).toSet
      val droppedThen = thenOrdered.map(_._1).distinct
        .filterNot(declaredPhys.contains)
        .map(n => org.apache.spark.sql.types.StructField(n, thenData(n),
          nullable = true))
      val schemaThen =
        if (thenData.isEmpty) GraftTableMeta.phys(declared, cmap)
        else {
          val (dataD, partD) = declared.fields.partition(f =>
            !parts.contains(f.name))
          StructType(dataD.flatMap(f =>
            thenData.get(GraftTableMeta.phys(f.name, cmap))
              .map(t => f.copy(name = GraftTableMeta.phys(f.name, cmap),
                dataType = t))) ++ droppedThen ++ partD)
        }
      new GraftSqlTable(dir.toString, s"$ident@t$tsMs", schemaThen,
        partCols = parts, asOfLeaves = Some(pinned))
    }
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val dir = tableDir(ident)
    if (isTableDir(dir)) throw new TableAlreadyExistsException(
      (catName +: ident.namespace() :+ ident.name()).toSeq)
    buildTable(dir, ident, schema, partitions, properties)
  }

  /** Atomic CTAS / RTAS (`CREATE TABLE ... AS SELECT`, `REPLACE TABLE
    * ... AS SELECT`, `CREATE OR REPLACE ...`): the whole result is
    * built in a HIDDEN dot-prefixed sibling directory (its own
    * manifest log, schema record, partition leaves — the ordinary
    * table shape, invisible to `loadTable`/`listTables`), and
    * `commitStagedChanges` publishes it with ONE directory rename — a
    * failed or aborted query leaves no table and only a sweepable
    * hidden dir. REPLACE parks the old directory under a hidden
    * `.dropped` name before the swap, so the destination is never a
    * merge target (a rename ONTO an existing directory would nest
    * into it); the crash window between the two renames leaves the
    * table absent — exactly the failed-RTAS state SQL semantics
    * allow, with the old content still recoverable from the parked
    * dir until the delete. */
  override def stageCreate(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): StagedTable = {
    if (isTableDir(tableDir(ident))) throw new TableAlreadyExistsException(
      (catName +: ident.namespace() :+ ident.name()).toSeq)
    staged(ident, schema, partitions, properties, replace = false)
  }

  override def stageReplace(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): StagedTable = {
    if (!isTableDir(tableDir(ident))) throw new NoSuchTableException(
      (catName +: ident.namespace() :+ ident.name()).toSeq)
    staged(ident, schema, partitions, properties, replace = true)
  }

  override def stageCreateOrReplace(ident: Identifier,
      schema: StructType, partitions: Array[Transform],
      properties: util.Map[String, String]): StagedTable =
    staged(ident, schema, partitions, properties, replace = true)

  private def staged(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String],
      replace: Boolean): StagedTable = {
    val dst = tableDir(ident)
    val tag = java.util.UUID.randomUUID().toString.take(8)
    val stagingDir = new Path(dst.getParent,
      s".${dst.getName}.staged-$tag")
    val inner = buildTable(stagingDir, ident, schema, partitions,
      properties)
    new GraftStagedSqlTable(inner, () => {
      if (replace && isTableDir(dst)) {
        val parked = new Path(dst.getParent,
          s".${dst.getName}.dropped-$tag")
        require(fs.rename(dst, parked),
          s"graft catalog: cannot park $dst for REPLACE")
        require(fs.rename(stagingDir, dst),
          s"graft catalog: cannot publish staged $ident — the old " +
            s"content is parked at $parked")
        fs.delete(parked, true)
      } else {
        if (isTableDir(dst)) throw new TableAlreadyExistsException(
          (catName +: ident.namespace() :+ ident.name()).toSeq)
        require(fs.rename(stagingDir, dst),
          s"graft catalog: cannot publish staged $ident")
      }
    }, () => { fs.delete(stagingDir, true); () })
  }

  /** Materialize a table's on-disk shape at `dir` — the shared body of
    * [[createTable]] (dir = the table's catalog location) and the
    * atomic-CTAS staging path (dir = a hidden sibling that a commit
    * RENAMES into place). */
  private def buildTable(dir: Path, ident: Identifier,
      schema: StructType, partitions: Array[Transform],
      properties: util.Map[String, String]): GraftSqlTable = {
    import org.apache.spark.sql.types.{DateType, IntegerType, LongType, StringType}
    // PARTITIONED BY (identity columns only) maps to the Hive-leaf
    // manifest layout the library already serves: each leaf is its own
    // commit-log domain, the catalog file records the declared schema
    // and partition columns. Partition columns must TRAIL the schema
    // (data files never carry them; reads append them, so the declared
    // order must be data-then-partition) and be path-codable types.
    val partCols = partitions.map { t =>
      require(t.name == "identity" && t.references().length == 1 &&
        t.references()(0).fieldNames().length == 1,
        s"graft catalog: only identity PARTITIONED BY columns are " +
          s"supported (got $t) — bucketing/expressions stay library " +
          "verbs (Layout.zorder / writeLinear)")
      t.references()(0).fieldNames()(0)
    }.toSeq
    partCols.foreach { c =>
      val f = schema.fields.find(_.name == c).getOrElse(sys.error(
        s"graft catalog: partition column $c is not in the schema"))
      require(Seq(IntegerType, LongType, StringType, DateType)
        .contains(f.dataType),
        s"graft catalog: partition column $c must be int/bigint/" +
          s"string/date (path-codable); got ${f.dataType}")
    }
    if (partCols.nonEmpty) {
      require(schema.fields.takeRight(partCols.length)
        .map(_.name).toSeq == partCols,
        s"graft catalog: partition columns must be the TRAILING " +
          s"schema columns in PARTITIONED BY order; schema ends with " +
          s"${schema.fields.takeRight(partCols.length).map(_.name)
            .mkString(", ")} but PARTITIONED BY is " +
          partCols.mkString(", "))
      require(schema.length > partCols.length,
        "graft catalog: a table needs at least one data column")
    }
    val key = Option(properties.get("key"))
    key.foreach { k =>
      require(schema.fieldNames.contains(k) && !partCols.contains(k),
        s"graft catalog: key '$k' must be a (non-partition) schema " +
          "column")
    }
    // the key is the row IDENTITY (Spark's delta plans refuse a
    // nullable rowId, and a NULL key row could never be updated or
    // deleted by key) — the declared schema carries it non-nullable.
    // On a keyed PARTITIONED table the partition columns join the
    // rowId (they route each delete to its leaf), so they go
    // non-nullable too — true by construction: NULL partition values
    // refuse at every insert path.
    val schemaK = key.fold(schema)(k => StructType(schema.fields.map(f =>
      if (f.name == k || partCols.contains(f.name))
        f.copy(nullable = false)
      else f)))
    fs.mkdirs(dir)
    if (partCols.isEmpty) {
      ManifestCommit.bootstrap(fs, dir)
      ManifestCommit.alterSchema(fs, dir, schemaK)
    } // partitioned: leaves bootstrap their own logs at first insert
    if (partCols.nonEmpty || key.isDefined)
      GraftTableMeta.write(fs, dir,
        GraftTableMeta.Meta(schemaK, partCols, key))
    if (key.isDefined)
      new GraftSqlKeyedTable(dir.toString, ident.toString, schemaK,
        key.get, partCols)
    else new GraftSqlTable(dir.toString, ident.toString, schemaK,
      partCols = partCols, key = key)
  }

  override def alterTable(ident: Identifier,
      changes: TableChange*): Table = {
    val dir = tableDir(ident)
    val prev = loadTable(ident).asInstanceOf[GraftSqlTable]
    val meta = GraftTableMeta.read(fs, dir)
    val parts = meta.map(_.partitionCols).getOrElse(Nil)
    // ALTER TABLE ... SET TBLPROPERTIES ('key'='k') declares the row
    // identity POST-HOC (unlocking UPDATE/MERGE on an existing table);
    // the declaration ASSERTS what applyChangesDV assumes — the column
    // is unique and non-null across the existing data (the same
    // contract CREATE-time keys carry) — and is VERIFIED here by one
    // aggregation over the committed rows, refusing loudly on a
    // duplicate or NULL (a violated assumption would make a later
    // UPDATE silently rewrite the wrong row). Opt out for the
    // huge-table case by pairing it with ('key.validate'='false') in
    // the SAME statement — the directive is consumed, never stored.
    // UNSET returns the table to keyless (range DELETEs only).
    val skipKeyScan = changes.exists {
      case p: TableChange.SetProperty => p.property == "key.validate" &&
        p.value.equalsIgnoreCase("false")
      case _ => false
    }
    var keyNext: Option[Option[String]] = None // Some(new key state)
    val tomb = meta.map(_.dropped).getOrElse(Nil)
    val keyNow = meta.flatMap(_.key)
    // column mapping: logical names are what SQL sees, physical names
    // are what committed parquet carries ([[GraftTableMeta.phys]]).
    // RENAME COLUMN re-keys the mapping — no commit, no file motion;
    // tombstones hold PHYSICAL names (the bytes in old files).
    val cmap = meta.map(_.colMap).getOrElse(Map.empty[String, String])
    def physOf(c: String): String = GraftTableMeta.phys(c, cmap)
    val physInUse = prev.schema().fieldNames.map(physOf).toSet
    // DROP COLUMN: metadata-only — the recorded schema narrows, every
    // reader projects by name and never requests the column again; the
    // bytes stay in old files, so the NAME is tombstoned forever
    // (without column IDs, a re-ADD would resurface the old values).
    // ALTER COLUMN TYPE: widening only ([[ManifestCommit.widens]]) —
    // old files stay narrow and promote per file in both reader tiers.
    val dropNow = changes.collect { case dc: TableChange.DeleteColumn =>
      require(dc.fieldNames().length == 1,
        "graft catalog: nested DROP COLUMN is not supported")
      val c = dc.fieldNames()(0)
      require(prev.schema().fieldNames.contains(c),
        s"graft catalog: no column '$c' in $ident")
      require(!parts.contains(c),
        s"graft catalog: cannot DROP partition column '$c' — the " +
          "table's leaf layout is keyed by it")
      require(!keyNow.contains(c),
        s"graft catalog: cannot DROP key column '$c' — UNSET " +
          "TBLPROPERTIES ('key') first")
      c
    }
    val widenNow: Map[String, org.apache.spark.sql.types.DataType] =
      changes.collect { case uc: TableChange.UpdateColumnType =>
        require(uc.fieldNames().length == 1,
          "graft catalog: nested ALTER COLUMN is not supported")
        val c = uc.fieldNames()(0)
        val from = prev.schema().fields.find(_.name == c).getOrElse(
          sys.error(s"graft catalog: no column '$c' in $ident")).dataType
        require(!parts.contains(c),
          s"graft catalog: cannot retype partition column '$c' — leaf " +
            "directory values are typed by it")
        require(!keyNow.contains(c),
          s"graft catalog: cannot retype key column '$c' — it is the " +
            "row identity of every committed delta")
        require(ManifestCommit.widens(from, uc.newDataType()),
          s"graft catalog: ALTER COLUMN '$c' $from -> " +
            s"${uc.newDataType()} is not a lossless widening — only " +
            "byte/short/int->long, float->double and sub-long " +
            "integrals->double read back exactly from committed files")
        c -> uc.newDataType()
      }.toMap
    // RENAME COLUMN: pure metadata — the logical name changes, the
    // physical (file) name stays for life, the mapping re-keys. The
    // new name must not shadow any physical name in use or tombstoned
    // (keeps the logical/physical namespace unambiguous — every
    // file-access path translates through ONE total map).
    val renameNow: Map[String, String] =
      changes.collect { case rn: TableChange.RenameColumn =>
        require(rn.fieldNames().length == 1,
          "graft catalog: nested RENAME COLUMN is not supported")
        val c = rn.fieldNames()(0)
        val n = rn.newName()
        require(prev.schema().fieldNames.contains(c),
          s"graft catalog: no column '$c' in $ident")
        require(!parts.contains(c),
          s"graft catalog: cannot RENAME partition column '$c' — the " +
            "leaf directory layout is keyed by it")
        require(!keyNow.contains(c),
          s"graft catalog: cannot RENAME key column '$c' — UNSET " +
            "TBLPROPERTIES ('key'), rename, then re-declare")
        require(!prev.schema().fieldNames.contains(n),
          s"graft catalog: column '$n' already exists in $ident")
        require(!physInUse.contains(n) && !tomb.contains(n),
          s"graft catalog: cannot rename '$c' to '$n' — '$n' is a " +
            s"physical column name of $ident (in use or retired by a " +
            "DROP); pick a name never used by this table")
        c -> n
      }.toMap
    // ALTER COLUMN ... SET/DROP DEFAULT: CURRENT_DEFAULT governs
    // FUTURE inserts only; EXISTS_DEFAULT (what rows from before the
    // column existed read) is fixed at ADD time and never moves — so
    // SET DEFAULT on an existing column changes no committed row.
    val defaultNow: Map[String, Option[String]] =
      changes.collect { case ud: TableChange.UpdateColumnDefaultValue =>
        require(ud.fieldNames().length == 1,
          "graft catalog: nested ALTER COLUMN is not supported")
        val c = ud.fieldNames()(0)
        require(prev.schema().fieldNames.contains(c),
          s"graft catalog: no column '$c' in $ident")
        c -> Option(ud.newDefaultValue()).filter(_.nonEmpty)
      }.toMap
    val added = changes.flatMap {
      case a: TableChange.AddColumn =>
        require(a.fieldNames().length == 1,
          "graft catalog: nested ADD COLUMN is not supported")
        val n0 = a.fieldNames()(0)
        require(!tomb.contains(n0) && !dropNow.map(physOf).contains(n0),
          s"graft catalog: column name '$n0' was " +
            s"DROPped from $ident and is retired — old files still " +
            "carry its bytes, and re-adding the name would resurface " +
            "them as the new column's values; pick a fresh name")
        require(!physInUse.contains(n0) ||
          prev.schema().fieldNames.contains(n0),
          s"graft catalog: column name '$n0' is the physical name of " +
            s"a renamed column of $ident — old files carry its bytes; " +
            "pick a name never used by this table")
        // FIRST/AFTER positions refuse: added columns always slot in
        // after the existing data columns (before the partition
        // columns) — and applying the change to an empty struct below
        // could never resolve an AFTER reference anyway
        require(a.position() == null,
          s"graft catalog: ADD COLUMN ... FIRST/AFTER is not " +
            s"supported — '$n0' appends after the existing data " +
            "columns")
        // build the field through Spark's own change application so a
        // DEFAULT clause lands in the metadata exactly as every Spark
        // surface (insert resolution, DESCRIBE, the parquet readers'
        // existence-default fill) expects it; forced nullable — with
        // no default, pre-evolution rows read NULL
        val built = org.apache.spark.sql.graftbridge.GraftBridge
          .applySchemaChanges(new StructType(), Seq(a)).fields.head
        Some(built.copy(nullable = true))
      case p: TableChange.SetProperty if p.property == "key" =>
        require(prev.schema().fieldNames.contains(p.value) &&
          !parts.contains(p.value),
          s"graft catalog: key '${p.value}' must be a (non-partition) " +
            s"column of $ident")
        if (!skipKeyScan) {
          def bq(s: String) = "`" + s.replace("`", "``") + "`"
          val fqn = (catName +: (ident.namespace() :+ ident.name()))
            .map(bq).mkString(".")
          val k = bq(p.value)
          val c = spark.sql(s"SELECT count(*) AS n, count($k) AS nn, " +
            s"count(DISTINCT $k) AS nd FROM $fqn").head
          require(c.getLong(1) == c.getLong(0),
            s"graft catalog: cannot declare key '${p.value}' on $ident" +
              s" — ${c.getLong(0) - c.getLong(1)} NULL value(s) in the" +
              " existing data (override with 'key.validate'='false')")
          require(c.getLong(2) == c.getLong(0),
            s"graft catalog: cannot declare key '${p.value}' on $ident" +
              s" — only ${c.getLong(2)} distinct of ${c.getLong(0)}" +
              " rows (override with 'key.validate'='false')")
        }
        keyNext = Some(Some(p.value)); None
      case p: TableChange.SetProperty if p.property == "key.validate" =>
        None // statement-scoped directive, consumed above
      case p: TableChange.RemoveProperty if p.property == "key" =>
        keyNext = Some(None); None
      case p: TableChange.RemoveProperty
          if p.property == "key.validate" => None
      case _: TableChange.DeleteColumn => None     // handled above
      case _: TableChange.UpdateColumnType => None // handled above
      case _: TableChange.RenameColumn => None     // handled above
      case _: TableChange.UpdateColumnDefaultValue => None // below
      case other => sys.error("graft catalog: only ADD COLUMN, DROP " +
        "COLUMN, RENAME COLUMN, widening ALTER COLUMN TYPE and " +
        "SET/UNSET TBLPROPERTIES ('key') are supported (got " +
        s"${other.getClass.getSimpleName}) — a narrowing retype would " +
        "make the recorded schema lie about committed files")
    }
    val key = keyNext.getOrElse(meta.flatMap(_.key))
    // partition columns trail: added data columns slot in BEFORE them;
    // drops and widenings rewrite the surviving data fields in place;
    // the key (and, when keyed, the partition columns) ride
    // non-nullable — the rowId contract
    val (dataF0, partF) =
      prev.schema().fields.splitAt(prev.schema().length - parts.length)
    val dataF = dataF0.filterNot(f => dropNow.contains(f.name))
      .map(f => widenNow.get(f.name).fold(f)(t => f.copy(dataType = t)))
      .map(f => defaultNow.get(f.name).fold(f) { d =>
        val mb = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata)
        f.copy(metadata = d.fold(mb.remove("CURRENT_DEFAULT"))(
          mb.putString("CURRENT_DEFAULT", _)).build())
      })
      .map(f => renameNow.get(f.name).fold(f)(n => f.copy(name = n)))
    require(dataF.nonEmpty || added.nonEmpty,
      s"graft catalog: DROP COLUMN would leave $ident with no data " +
        "columns")
    val next = StructType((dataF ++ added ++ partF).map(f =>
      if (key.contains(f.name) ||
          (key.isDefined && parts.contains(f.name)))
        f.copy(nullable = false)
      else f))
    // the mapping after this statement: drops retire their entries,
    // renames re-key them (a first rename of an identity column mints
    // the entry: new logical -> original physical); identity entries
    // never persist
    val afterDrop = cmap -- dropNow
    val colMapNext: Map[String, String] =
      (afterDrop.map { case (l, p) => (renameNow.getOrElse(l, l), p) } ++
        renameNow.collect {
          case (l, n) if !afterDrop.contains(l) => n -> l
        }).filterNot { case (l, p) => l == p }
    // manifests (and tombstones) live in PHYSICAL names
    val dropPhys = dropNow.map(physOf).toSet
    val physNext = GraftTableMeta.phys(next, colMapNext)
    // a rename-only statement touches NO manifest — the physical
    // schema is unchanged, the mapping lives in the meta file alone
    val physChange = added.nonEmpty || dropNow.nonEmpty ||
      widenNow.nonEmpty || keyNext.isDefined || defaultNow.nonEmpty
    if (parts.isEmpty && physChange)
      ManifestCommit.alterSchema(fs, dir, physNext,
        allowDrop = dropPhys, allowWiden = widenNow.nonEmpty)
    else if (added.nonEmpty || dropNow.nonEmpty || widenNow.nonEmpty ||
        defaultNow.nonEmpty) {
      // evolve every leaf's recorded schema (renames touch no manifest
      // — the physical schema is unchanged by them)
      val dataNext = GraftTableMeta.phys(StructType(dataF ++ added),
        colMapNext)
      TableFeedSource.leafRels(fs, dir).filter(_ != ".").foreach { rel =>
        ManifestCommit.alterSchema(fs, new Path(dir, rel), dataNext,
          allowDrop = dropPhys, allowWiden = widenNow.nonEmpty)
      }
    }
    val dropped = tomb ++ dropNow.map(physOf)
    if (meta.isDefined || parts.nonEmpty || key.isDefined ||
        dropped.nonEmpty || colMapNext.nonEmpty)
      GraftTableMeta.write(fs, dir,
        GraftTableMeta.Meta(next, parts, key, dropped, colMapNext))
    if (key.isDefined)
      new GraftSqlKeyedTable(dir.toString, ident.toString, next, key.get,
        parts, colMapNext)
    else new GraftSqlTable(dir.toString, ident.toString, next,
      partCols = parts, key = key, colMap = colMapNext)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val dir = tableDir(ident)
    isTableDir(dir) && fs.delete(dir, true)
  }

  override def renameTable(oldIdent: Identifier,
      newIdent: Identifier): Unit = {
    if (!isTableDir(tableDir(oldIdent))) throw new NoSuchTableException(
      (catName +: oldIdent.namespace() :+ oldIdent.name()).toSeq)
    require(fs.rename(tableDir(oldIdent), tableDir(newIdent)),
      s"graft catalog: rename $oldIdent -> $newIdent failed")
  }

  // --- namespaces: directories under the warehouse ---
  override def listNamespaces(): Array[Array[String]] =
    if (!fs.exists(warehouse)) Array.empty
    else fs.listStatus(warehouse).toSeq
      .filter(st => st.isDirectory && !isTableDir(st.getPath) &&
        !st.getPath.getName.startsWith(".") &&
        !st.getPath.getName.startsWith("_"))
      .map(st => Array(st.getPath.getName)).toArray
  override def listNamespaces(ns: Array[String]): Array[Array[String]] = {
    if (ns.isEmpty) return listNamespaces()
    if (!fs.exists(nsDir(ns)))
      throw new NoSuchNamespaceException(catName +: ns.toSeq)
    Array.empty
  }
  override def loadNamespaceMetadata(
      ns: Array[String]): util.Map[String, String] = {
    if (ns.nonEmpty && !fs.exists(nsDir(ns)))
      throw new NoSuchNamespaceException(catName +: ns.toSeq)
    util.Collections.emptyMap()
  }
  override def createNamespace(ns: Array[String],
      metadata: util.Map[String, String]): Unit = {
    fs.mkdirs(nsDir(ns))
    ()
  }
  override def alterNamespace(ns: Array[String],
      changes: NamespaceChange*): Unit =
    sys.error("graft catalog: namespaces carry no mutable metadata")
  override def dropNamespace(ns: Array[String],
      cascade: Boolean): Boolean = {
    val dir = nsDir(ns)
    if (!fs.exists(dir)) return false
    require(cascade || fs.listStatus(dir).isEmpty,
      s"graft catalog: namespace ${ns.mkString(".")} is not empty")
    fs.delete(dir, true)
  }
}

private[graft] object GraftSqlTable {
  /** One partition identifier rendered as its leaf-relative path
    * (`day=3` / `a=1/b=x`) — through [[leafSegment]], the rendering
    * every writer uses, so ADD/DROP PARTITION and the data path name
    * identical leaves. */
  private[lake] def relOfPartIdent(partSchema: StructType,
      id: InternalRow): String = {
    require(id.numFields == partSchema.length,
      s"graft catalog: partition ident has ${id.numFields} values; " +
        s"the table has ${partSchema.length} partition columns")
    partSchema.fields.indices
      .map(i => leafSegment(partSchema(i), id, i))
      .mkString("/")
  }

  /** The ONE partition-leaf renderer: field `f`'s value at `row(i)` as
    * its `col=value` leaf path segment — ADD/DROP PARTITION
    * ([[relOfPartIdent]]), the fan-out writer ([[GraftFanoutDataWriter]])
    * and the delta writer ([[GraftDeltaTaskWriter]]) all call it.
    * int/bigint/date render literally; a string passes
    * [[assertPathLiteral]] once per distinct value (`checked` is the
    * caller's memo — a task writer keeps one for its lifetime, so the
    * per-row cost is one hash probe). NULLs and other types refuse
    * loudly. */
  private[lake] def leafSegment(f: StructField, row: InternalRow, i: Int,
      checked: scala.collection.mutable.Set[String] =
        scala.collection.mutable.Set.empty): String = {
    import org.apache.spark.sql.types.{DateType, IntegerType, LongType, StringType}
    require(!row.isNullAt(i),
      s"graft catalog: NULL partition value for ${f.name} — refuse " +
        "rather than mint a default-partition leaf")
    val v = f.dataType match {
      case IntegerType => row.getInt(i).toString
      case LongType    => row.getLong(i).toString
      case DateType    =>
        java.time.LocalDate.ofEpochDay(row.getInt(i).toLong).toString
      case StringType  =>
        val s = row.getUTF8String(i).toString
        if (!checked.contains(s)) {
          assertPathLiteral(s, f.name)
          checked += s
        }
        s
      case o => sys.error(s"graft catalog: partition column ${f.name} " +
        s"has unsupported type $o")
    }
    s"${f.name}=$v"
  }

  /** Path-literal partition-value guard, the ONE rule every
    * partition-leaf renderer enforces (batch insert staging, the
    * streaming fan-out writer, the delta fan-out writer): a value is
    * accepted only when Hive path escaping would leave it UNCHANGED
    * (`escapePathName(v) == v`) and it is non-NULL/non-empty — so raw
    * rendering, Spark's `partitionBy` staging, and raw leaf decoding
    * all agree on one spelling, and the same value can never land in
    * two differently-named leaves depending on which writer carried
    * it ('a:b' raw vs 'a%3Ab' escaped). NULL refuses on every path
    * (no __HIVE_DEFAULT_PARTITION__ leaves — an un-decodable leaf
    * would fail every later typed-partition SELECT at planning). */
  private[lake] def assertPathLiteral(v: String, colName: String): Unit =
    require(v.nonEmpty && org.apache.spark.sql.catalyst.catalog
        .ExternalCatalogUtils.escapePathName(v) == v,
      s"graft catalog: partition value '$v' for $colName is not " +
        "path-literal (Hive path escaping would rewrite it) — refuse " +
        "rather than let batch and stream writers spell the same " +
        "value as two different leaves")

  /** Does this leaf fall inside a STATIC overwrite's partition filter?
    * Evaluated EXACTLY — a leaf this returns true for gets truncated
    * or replaced, so any filter shape not handled here refuses loudly
    * (the conservative keep-the-leaf answer pruning can afford would
    * be silent over-truncation here). INSERT OVERWRITE sends exactly
    * AlwaysTrue (no spec) or ANDed partition-column equalities (a
    * PARTITION spec); anything looser is a DataFrame-API filtered
    * overwrite, which stays a library verb. */
  private[lake] def staticOverwriteMatches(values: Map[String, String],
      filters: Seq[Filter], ident: String): Boolean = {
    def evalEq(c: String, v: Any): Boolean = values.get(c) match {
      case Some(raw) => raw == String.valueOf(v)
      case None => sys.error(s"graft catalog: overwrite filter " +
        s"column $c of $ident is not a partition column — " +
        "row-filtered overwrite stays a library verb")
    }
    def eval(f: Filter): Boolean = f match {
      case org.apache.spark.sql.sources.AlwaysTrue => true
      case And(l, r) => eval(l) && eval(r)
      case EqualTo(c, v) => evalEq(c, v)
      // a PARTITION (p=v) spec translates to EqualNullSafe; a NULL
      // value matches no leaf (NULL partition values refuse on every
      // write path, so no leaf can carry one)
      case org.apache.spark.sql.sources.EqualNullSafe(c, v) =>
        v != null && evalEq(c, v)
      case other => sys.error("graft catalog: static overwrite on " +
        s"$ident supports only partition-column equality specs; got " +
        s"$other")
    }
    filters.isEmpty || filters.forall(eval)
  }

  /** INSERT INTO a PARTITIONED table: ONE Spark job stages the whole
    * batch Hive-laid-out under a hidden dir, then the driver moves each
    * staged leaf's files into the table leaf and commits them through
    * that leaf's manifest log — O(touched leaves) driver renames +
    * commits, never a job per leaf. A leaf born by this insert
    * bootstraps its own log and records the data schema, so the batch
    * twin (changeFeedTable, TableFeedSource) adopts it with no listing
    * heuristics. Atomicity unit is the LEAF (each leaf is its own
    * commit domain) — the visibility contract every library multi-leaf
    * verb has; a crash mid-fan-out leaves earlier leaves committed and
    * later files hidden-staged (gc-able).
    *
    * Overwrite modes (the SQL INSERT OVERWRITE family):
    *  - `overwriteTouched`: each staged leaf SWAPS its whole live set
    *    for the staged files in one [[ManifestCommit.KindOverwrite]]
    *    commit (feed replay exact) instead of appending.
    *  - `truncateRels`: leaves the statement must CLEAR even when the
    *    batch stages nothing into them (static overwrite semantics) —
    *    each gets one truncate commit. Untouched leaves outside both
    *    sets keep their commit logs unmoved.
    *
    * Partition-value safety: `partitionBy` Hive-escapes path-unsafe
    * values (':' → '%3A') and renders NULL as the default-partition
    * token, while the manifest layout decodes leaf segments RAW — so
    * every staged leaf name is checked against [[assertPathLiteral]]
    * BEFORE any file moves, and one offending value refuses the whole
    * statement with nothing committed. */
  private[lake] def insertPartitioned(data: DataFrame, dir: Path,
      tableSchema: StructType, partCols: Seq[String],
      overwriteTouched: Boolean = false,
      truncateRels: Set[String] = Set.empty): Unit = {
    val spark = data.sparkSession
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dataSchema = StructType(
      tableSchema.fields.dropRight(partCols.length))
    val runId = java.util.UUID.randomUUID().toString.take(8)
    val staging = new Path(dir, s"._compacting-sqlins-$runId")
    data.write.partitionBy(partCols: _*).parquet(staging.toString)
    try {
      val rels = TableFeedSource.leafRels(fs, staging).filter(_ != ".")
      // validate EVERY staged leaf before moving ANY file: the whole
      // statement refuses or the whole statement proceeds
      rels.foreach { rel =>
        rel.split('/').foreach { seg =>
          val (c, v) = seg.span(_ != '=') match {
            case (c0, v0) => (c0, v0.drop(1))
          }
          require(v !=
              org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
                .DEFAULT_PARTITION_NAME,
            s"graft catalog: NULL partition value for $c — refuse " +
              "rather than mint a default-partition leaf")
          assertPathLiteral(
            org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
              .unescapePathName(v), c)
        }
      }
      LeafPar.foreach(rels) { rel =>
          val src = new Path(staging, rel)
          val leaf = new Path(dir, rel)
          val born = !fs.exists(
            new Path(leaf, ManifestCommit.LogDirName))
          if (born) fs.mkdirs(leaf)
          // bootstrap BEFORE the moves: hidden-prefixed names never
          // enter a manifest through listing, only through the
          // explicit appendFiles below — so a crash between move and
          // commit leaves invisible, sweepable files
          ManifestCommit.bootstrap(fs, leaf)
          if (born) ManifestCommit.alterSchema(fs, leaf, dataSchema)
          val names = fs.listStatus(src).toIndexedSeq
            .filter(st => !st.isDirectory &&
              st.getPath.getName.endsWith(".parquet"))
            .zipWithIndex.map { case (st, i) =>
              val name =
                s"${ManifestCommit.CompactedPrefix}sqlins-$runId-$i.parquet"
              require(fs.rename(st.getPath, new Path(leaf, name)),
                s"graft catalog: cannot move staged ${st.getPath} " +
                  s"into $leaf")
              name
            }
          if (overwriteTouched)
            ManifestCommit.overwriteWithFiles(fs, leaf, names)
          else ManifestCommit.appendFiles(fs, leaf, names)
        }
      // static-overwrite remainder: leaves the statement replaces with
      // NOTHING — one truncate commit each; their logs stay (history)
      val touched = rels.toSet
      LeafPar.foreach(truncateRels.filterNot(touched).toSeq.sorted) {
        rel => ManifestCommit.truncateTable(fs, new Path(dir, rel))
      }
    } finally fs.delete(staging, true)
  }

  /** The ONE closed range the whole filter set expresses, for
    * `DELETE FROM ... WHERE`: defined only when EVERY filter is a long
    * comparison on the SAME column — anything looser must refuse, not
    * under-delete. */
  private[graft] def deleteRange(
      filters: Seq[Filter]): Option[(String, Long, Long)] = {
    if (filters.isEmpty) return None
    val rs = filters.map(ManifestCommit.Pruning.rangeOf)
    if (rs.exists(_.isEmpty)) return None
    val cols = rs.flatten.map(_._1).distinct
    if (cols.size != 1) return None
    Some((cols.head,
      rs.flatten.map(_._2).max, rs.flatten.map(_._3).min))
  }

  /** EXACT Column reconstruction of a pushed source Filter, for the
    * arbitrary-predicate DV delete — `None` means "cannot express
    * exactly", and the delete REFUSES rather than under- or
    * over-deleting. Every shape preserves SQL's three-valued WHERE: a
    * NULL-evaluating predicate does not match (the Column filter drops
    * it), `Not` stays NULL over NULL, `In` never matches NULL. */
  private[graft] def filterColumn(f: Filter)
      : Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.{col, lit, not}
    import org.apache.spark.sql.sources._
    f match {
      case EqualTo(c, v)            => Some(col(c) === lit(v))
      case EqualNullSafe(c, v)      => Some(col(c) <=> lit(v))
      case GreaterThan(c, v)        => Some(col(c) > lit(v))
      case GreaterThanOrEqual(c, v) => Some(col(c) >= lit(v))
      case LessThan(c, v)           => Some(col(c) < lit(v))
      case LessThanOrEqual(c, v)    => Some(col(c) <= lit(v))
      case In(c, vs) => Some(col(c).isin(vs.toIndexedSeq: _*))
      case IsNull(c)                => Some(col(c).isNull)
      case IsNotNull(c)             => Some(col(c).isNotNull)
      case StringStartsWith(c, v)   => Some(col(c).startsWith(v))
      case StringEndsWith(c, v)     => Some(col(c).endsWith(v))
      case StringContains(c, v)     => Some(col(c).contains(v))
      case AlwaysTrue               => Some(lit(true))
      case AlwaysFalse              => Some(lit(false))
      case And(l, r) =>
        for (lc <- filterColumn(l); rc <- filterColumn(r))
          yield lc && rc
      case Or(l, r) =>
        for (lc <- filterColumn(l); rc <- filterColumn(r))
          yield lc || rc
      case Not(c) => filterColumn(c).map(not)
      case _ => None
    }
  }
}

/** A table mid-build under an atomic CTAS/RTAS: the ordinary
  * [[GraftSqlTable]] rooted in its hidden staging directory (so the
  * CTAS write lands through the normal manifest write path), plus the
  * publish/abort hooks the staging catalog wired up — publish is ONE
  * directory rename, abort deletes the hidden dir. */
private[graft] class GraftStagedSqlTable(inner: GraftSqlTable,
    publish: () => Unit, discard: () => Unit)
    extends StagedTable with SupportsRead with SupportsWrite {
  override def name(): String = inner.name()
  override def schema(): StructType = inner.schema()
  override def partitioning(): Array[Transform] = inner.partitioning()
  override def capabilities(): util.Set[TableCapability] =
    inner.capabilities()
  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    inner.newScanBuilder(options)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    inner.newWriteBuilder(info)
  override def commitStagedChanges(): Unit = publish()
  override def abortStagedChanges(): Unit = discard()
}

/** Bounded parallelism for INDEPENDENT per-leaf commit work — the
  * scale answer to "an UPDATE touching a thousand leaves commits them
  * one at a time, each its own Spark job". Each leaf is its own
  * commit-log domain (the library's visibility contract is per-leaf
  * anyway, and every manifest verb is optimistic-retry safe under
  * concurrency), so overlapping leaves changes NOTHING about
  * atomicity — only the wall clock: driver metadata round-trips and
  * per-leaf Spark jobs overlap instead of queueing. Fail-fast-ish:
  * every item is attempted (a failure doesn't strand later leaves
  * half-scheduled), the first failure rethrows — the same partial
  * visibility a sequential loop leaves behind. Bound tunable via
  * -Dgraft.leaf.par (default 8); 1 restores strict sequential order. */
private[graft] object LeafPar {
  def foreach[A](items: Seq[A])(f: A => Unit): Unit = {
    val par = math.min(
      sys.props.get("graft.leaf.par").flatMap(_.toIntOption)
        .getOrElse(8).max(1), items.size)
    if (items.size <= 1 || par <= 1) items.foreach(f)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(par)
      val failures =
        new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      items.foreach { a =>
        pool.execute(() =>
          try f(a) catch { case t: Throwable => failures.add(t) })
      }
      pool.shutdown()
      pool.awaitTermination(24, java.util.concurrent.TimeUnit.HOURS)
      if (!failures.isEmpty) throw failures.peek()
    }
  }
}

/** One manifest-lake table as a DSv2 Table: manifest-planned
  * merge-on-read batch reads, stage-and-publish batch appends, range
  * deletes landing as positional deletion-vector sidecars, Hive-leaf
  * partitioning (each leaf its own commit-log domain), and — when the
  * table declares a row-identity `key` — SQL UPDATE/MERGE/arbitrary
  * DELETE through Spark's delta-based row-level-operations API, landed
  * as ONE merge-on-read [[ManifestCommit.applyChangesDV]] commit. */
private[graft] class GraftSqlTable(path: String, ident: String,
    tableSchema: StructType, asOf: Option[Long] = None,
    partCols: Seq[String] = Nil, key: Option[String] = None,
    asOfLeaves: Option[Map[String, Long]] = None,
    colMap: Map[String, String] = Map.empty) extends Table
    with SupportsRead with SupportsWrite with SupportsDelete
    with org.apache.spark.sql.connector.catalog
      .SupportsAtomicPartitionManagement {
  protected def pinnedRead: Boolean = asOf.isDefined || asOfLeaves.isDefined
  // logical -> physical translation at the file boundary (RENAME
  // COLUMN support — see [[GraftTableMeta.phys]]); identity for the
  // overwhelming majority of tables
  private def phys(s: StructType): StructType =
    GraftTableMeta.phys(s, colMap)
  private def physD(data: DataFrame): DataFrame =
    if (colMap.isEmpty) data
    else data.toDF(data.columns.map(GraftTableMeta.phys(_, colMap))
      .toIndexedSeq: _*)
  override def name(): String = ident
  override def schema(): StructType = tableSchema
  // surface the declared row identity so DESCRIBE EXTENDED / SHOW
  // TBLPROPERTIES report it and SHOW CREATE TABLE round-trips: the
  // emitted TBLPROPERTIES ('key'='k') re-declares the key on replay
  override def properties(): util.Map[String, String] = {
    val m = new util.HashMap[String, String]()
    key.foreach(m.put("key", _))
    m
  }
  override def partitioning(): Array[Transform] =
    partCols.map(c => org.apache.spark.sql.connector.expressions
      .Expressions.identity(c)).toArray
  override def capabilities(): util.Set[TableCapability] =
    if (pinnedRead) util.EnumSet.of(TableCapability.BATCH_READ)
    else if (partCols.nonEmpty) util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.MICRO_BATCH_READ,
      TableCapability.STREAMING_WRITE, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.OVERWRITE_DYNAMIC)
    else util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.STREAMING_WRITE,
      TableCapability.MICRO_BATCH_READ, TableCapability.TRUNCATE)

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftSqlScan(path, tableSchema, partCols, asOf, asOfLeaves,
      colMap)

  // ── partition management: SHOW PARTITIONS and ALTER TABLE
  // ADD/DROP/TRUNCATE PARTITION, mapped onto the Hive-leaf layout.
  // Each leaf is its own commit-log domain, so every verb here is
  // O(touched leaves) driver metadata — zero Spark jobs, zero data
  // reads. Partition columns are never renameable, so no column
  // mapping applies to the identifiers.
  override def partitionSchema(): StructType =
    StructType(tableSchema.fields.takeRight(partCols.length))

  private def fsOf: (org.apache.hadoop.fs.FileSystem, Path) = {
    val dir = new Path(path)
    (dir.getFileSystem(
      SparkSession.active.sparkContext.hadoopConfiguration), dir)
  }
  private def relOfIdent(id: InternalRow): String = {
    require(partCols.nonEmpty,
      s"graft catalog: $ident is unpartitioned — no partitions to " +
        "manage")
    GraftSqlTable.relOfPartIdent(partitionSchema(), id)
  }

  /** `ALTER TABLE t ADD PARTITION (p=v, ...)`: an EMPTY leaf is born
    * — its own bootstrapped commit log and recorded (physical) data
    * schema, exactly the state an insert-born leaf starts from, so
    * every later writer and the streaming sink adopt it naturally. */
  override def createPartitions(ids: Array[InternalRow],
      props: Array[util.Map[String, String]]): Unit = {
    require(!pinnedRead, s"graft catalog: $ident is a pinned " +
      "time-travel read — history is immutable")
    require(props.forall(_.isEmpty),
      "graft catalog: partition-level properties are not supported")
    val (fs, dir) = fsOf
    val rels = ids.map(relOfIdent)
    rels.foreach { rel =>
      require(!fs.exists(new Path(new Path(dir, rel),
        ManifestCommit.LogDirName)),
        s"graft catalog: partition $rel of $ident already exists")
    }
    val dataPhys = GraftTableMeta.phys(StructType(
      tableSchema.fields.dropRight(partCols.length)), colMap)
    LeafPar.foreach(rels.toIndexedSeq) { rel =>
      val leaf = new Path(dir, rel)
      fs.mkdirs(leaf)
      ManifestCommit.bootstrap(fs, leaf)
      ManifestCommit.alterSchema(fs, leaf, dataPhys)
    }
  }

  /** `ALTER TABLE t DROP PARTITION (p=v, ...)`: the whole-leaf drop —
    * the leaf directory (data, sidecars, commit log) is removed. The
    * leaf's history goes with it, exactly like `DROP TABLE`; use
    * `TRUNCATE TABLE t PARTITION (...)` to empty a leaf and KEEP its
    * log. Returns false (→ NoSuchPartition) if any named leaf is
    * absent, before anything is deleted. */
  override def dropPartitions(ids: Array[InternalRow]): Boolean = {
    require(!pinnedRead, s"graft catalog: $ident is a pinned " +
      "time-travel read — history is immutable")
    val (fs, dir) = fsOf
    val rels = ids.map(relOfIdent)
    if (!rels.forall(rel => fs.exists(new Path(new Path(dir, rel),
        ManifestCommit.LogDirName)))) return false
    LeafPar.foreach(rels.toIndexedSeq) { rel =>
      require(fs.delete(new Path(dir, rel), true),
        s"graft catalog: cannot delete partition $rel of $ident")
    }
    true
  }

  /** `TRUNCATE TABLE t PARTITION (...)`: one atomic overwrite commit
    * per leaf — rows gone, history and log intact, the change feed
    * replays the truncation as deletes. */
  override def truncatePartition(id: InternalRow): Boolean = {
    require(!pinnedRead, s"graft catalog: $ident is a pinned " +
      "time-travel read — history is immutable")
    val (fs, dir) = fsOf
    val rel = relOfIdent(id)
    // refuse a partition that does not exist — truncateTable would
    // otherwise BOOTSTRAP the missing leaf and mint a phantom empty
    // partition that SHOW PARTITIONS then lists
    require(fs.exists(new Path(new Path(dir, rel),
      ManifestCommit.LogDirName)),
      s"graft catalog: partition $rel of $ident does not exist")
    ManifestCommit.truncateTable(fs, new Path(dir, rel))
    true
  }
  override def truncatePartitions(ids: Array[InternalRow]): Boolean = {
    LeafPar.foreach(ids.toIndexedSeq)(truncatePartition(_))
    true
  }

  override def replacePartitionMetadata(id: InternalRow,
      props: util.Map[String, String]): Unit =
    sys.error("graft catalog: partition-level properties are not " +
      "supported")
  override def loadPartitionMetadata(
      id: InternalRow): util.Map[String, String] =
    new util.HashMap[String, String]()

  /** `SHOW PARTITIONS` (and the exists-checks behind ADD/DROP ... IF
    * [NOT] EXISTS): leaves decoded to typed rows, optionally filtered
    * by a prefix of named values. One directory walk, zero manifest
    * reads. A TIMESTAMP AS OF read lists only the leaves alive at the
    * pinned timestamp. */
  override def listPartitionIdentifiers(names: Array[String],
      id: InternalRow): Array[InternalRow] = {
    require(names.length == id.numFields,
      s"graft catalog: ${names.length} names vs ${id.numFields} values")
    val (fs, dir) = fsOf
    val ps = partitionSchema()
    val idx = names.map(ps.fieldIndex)
    TableFeedSource.leafRels(fs, dir).filter(_ != ".")
      .filter(rel => asOfLeaves.forall(_.contains(rel)))
      .map(rel => TableFeedSource.partitionRow(rel, ps))
      .filter(row => idx.indices.forall { i =>
        val dt = ps.fields(idx(i)).dataType
        row.get(idx(i), dt) == id.get(i, dt)
      })
      .toArray
  }

  /** `TRUNCATE TABLE t`: the overwrite commit with nothing produced —
    * every live file consumed, sidecars dropped, ONE atomic commit per
    * partition domain (per leaf on a partitioned table), feed-replayed
    * as pure deletes. */
  override def truncateTable(): Boolean = {
    require(!pinnedRead,
      s"graft catalog: $ident is a pinned time-travel read — history " +
        "is immutable")
    val spark = SparkSession.active
    val dir = new Path(path)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (partCols.isEmpty) ManifestCommit.truncateTable(fs, dir)
    else LeafPar.foreach(
      TableFeedSource.leafRels(fs, dir).filter(_ != ".")) {
      rel => ManifestCommit.truncateTable(fs, new Path(dir, rel))
    }
    true
  }

  /** `DELETE FROM t WHERE ...` — lands as ONE merge-on-read commit
    * per partition domain: a positional deletion-vector sidecar names
    * the doomed rows, the live file set never moves, write
    * amplification is O(deleted rows).
    *
    * Two tiers, decided here (`canDeleteWhere`):
    *  - a single-column long RANGE keeps the metadata path
    *    ([[ManifestCommit.deleteWhereDV]], kind=dvdelete with the
    *    predicate recorded, files pruned by manifest stats);
    *  - on a KEYLESS table, any predicate whose pushed filters
    *    reconstruct EXACTLY as Columns ([[GraftSqlTable.filterColumn]]
    *    — string equality, IN, LIKE prefixes, OR, NOT...) goes through
    *    [[ManifestCommit.deleteWherePredicateDV]]: scan the matching
    *    rows' positions, DV-delete them, no file rewrites. Long-range,
    *    `=` and `IN` conjuncts still prune FILES via the manifest stats
    *    and blooms ([[ManifestCommit.Pruning]]).
    * A keyed table's non-range deletes stay on the row-level
    * (applyChangesDV) plan — one mutation protocol per table shape.
    * Anything not exactly reconstructible refuses loudly rather than
    * under- or over-deleting; NULL-evaluating predicates match no row
    * — exactly SQL's three-valued WHERE. Partition-column deletes are
    * whole-leaf drops (a library verb), not row deletes. */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    !pinnedRead && (
      GraftSqlTable.deleteRange(filters.toSeq)
        .exists { case (c, _, _) => !partCols.contains(c) } ||
      (key.isEmpty &&
        filters.forall(f => GraftSqlTable.filterColumn(f).isDefined) &&
        filters.flatMap(_.references).forall(!partCols.contains(_))))
  override def deleteWhere(filters0: Array[Filter]): Unit = {
    require(!pinnedRead,
      s"graft catalog: $ident is a pinned time-travel read — history " +
        "is immutable, delete against the live table")
    // everything below (predicate reconstruction, stats pruning, the
    // recorded delete predicate) speaks PHYSICAL names — translate
    // once at the boundary
    val filters = filters0.map(GraftTableMeta.physFilter(_, colMap))
    val spark = SparkSession.active
    val dir = new Path(path)
    def domains: Seq[Path] =
      if (partCols.isEmpty) Seq(dir)
      else {
        // per-leaf commits (each leaf is its own commit-log domain):
        // atomic within a leaf, independent across leaves
        // (overlapped on the LeafPar pool) — a reader racing the
        // fan-out can see some leaves deleted before others, the
        // same visibility unit every library multi-leaf verb has
        val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
        TableFeedSource.leafRels(fs, dir).filter(_ != ".")
          .map(new Path(dir, _))
      }
    GraftSqlTable.deleteRange(filters.toSeq) match {
      case Some((c, lo, hi)) =>
        require(!partCols.contains(c),
          s"graft catalog: DELETE by partition column $c is a " +
            "whole-leaf drop — a library verb, not a row delete")
        LeafPar.foreach(domains)(
          ManifestCommit.deleteWhereDV(spark, _, c, lo, hi))
      case None =>
        require(key.isEmpty, s"graft catalog: non-range DELETE on " +
          s"keyed $ident plans through the row-level path, never here")
        val cond = filters.toSeq.map(f =>
          GraftSqlTable.filterColumn(f).getOrElse(sys.error(
            s"graft catalog: DELETE on $ident cannot reconstruct " +
              s"pushed filter $f exactly — refuse rather than under- " +
              "or over-delete")))
          .reduceOption(_ && _)
          .getOrElse(org.apache.spark.sql.functions.lit(true))
        val pruning = ManifestCommit.Pruning.of(filters.toSeq)
        LeafPar.foreach(domains)(
          ManifestCommit.deleteWherePredicateDV(spark, _, cond, pruning))
    }
    ()
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder
        with org.apache.spark.sql.connector.write.SupportsOverwrite
        with org.apache.spark.sql.connector.write
          .SupportsDynamicOverwrite {
      // INSERT OVERWRITE arrives three ways:
      //  - no partition spec, static mode → OverwriteByExpression(TRUE)
      //    → truncate(): whole-table (or every-leaf) replace
      //  - PARTITION (p=v) static spec → overwrite(filters): replace
      //    EXACTLY the leaves the partition filter names — touched
      //    leaves swap, filter-matched-but-unstaged leaves truncate,
      //    everything else keeps its commit log unmoved
      //  - dynamic partitionOverwriteMode → overwriteDynamicPartitions:
      //    replace exactly the leaves the DATA touches (a real V2
      //    BatchWrite — Spark has no V1 fallback for dynamic)
      private var truncateMode = false
      private var dynamicMode = false
      private var overwriteFilters: Array[Filter] = Array.empty
      override def truncate(): WriteBuilder = { truncateMode = true; this }
      override def overwrite(filters: Array[Filter]): WriteBuilder = {
        // an all-AlwaysTrue filter set (no PARTITION spec) leaves
        // overwriteFilters empty = replace everything
        overwriteFilters = filters.filterNot(
          _ == org.apache.spark.sql.sources.AlwaysTrue)
        truncateMode = true
        this
      }
      override def overwriteDynamicPartitions(): WriteBuilder = {
        require(partCols.nonEmpty, s"graft catalog: dynamic partition " +
          s"overwrite needs a partitioned table; $ident is unpartitioned")
        dynamicMode = true; this
      }
      override def build(): Write =
        if (dynamicMode) new Write {
          override def toBatch
              : org.apache.spark.sql.connector.write.BatchWrite =
            new GraftDynamicOverwriteBatchWrite(path, ident,
              phys(info.schema()), partCols)
        }
        else buildV1()
      private def buildV1(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame,
                overwrite: Boolean): Unit = {
              if (overwrite || truncateMode) {
                if (partCols.isEmpty) {
                  // whole-table swap in ONE KindOverwrite commit: old
                  // files consumed, sidecars dropped, change feed
                  // replays alive-rows-as-deletes + new-rows-as-inserts
                  require(overwriteFilters.isEmpty,
                    s"graft catalog: filtered overwrite on " +
                      s"unpartitioned $ident is not supported")
                  ManifestCommit.overwriteTable(data.sparkSession,
                    new Path(path), physD(data))
                } else {
                  // static partitioned overwrite: replace EXACTLY the
                  // leaves the partition filter names (all of them when
                  // the spec is absent) — staged leaves swap in one
                  // KindOverwrite commit each, filter-matched leaves
                  // the batch stages nothing into truncate, and every
                  // other leaf's commit log never moves
                  val spark = data.sparkSession
                  val dir = new Path(path)
                  val fs = dir.getFileSystem(
                    spark.sparkContext.hadoopConfiguration)
                  val doomed = TableFeedSource.leafRels(fs, dir)
                    .filter(_ != ".")
                    .filter(rel => GraftSqlTable.staticOverwriteMatches(
                      GraftSqlScan.leafValues(rel,
                        StructType(tableSchema.fields
                          .takeRight(partCols.length))),
                      overwriteFilters.toSeq, ident))
                  GraftSqlTable.insertPartitioned(physD(data), dir,
                    phys(tableSchema),
                    partCols, overwriteTouched = true,
                    truncateRels = doomed.toSet)
                }
              } else if (partCols.isEmpty) {
                ManifestCommit.stageAndPublish(data.sparkSession,
                    new Path(path), physD(data), _ => true)
                  .getOrElse(sys.error(
                    s"graft catalog: insert into $ident did not publish"))
              } else GraftSqlTable.insertPartitioned(physD(data),
                new Path(path), phys(tableSchema), partCols)
              ()
            }
          }
        // `writeStream.toTable(...)`: epochs land as atomic manifest
        // commits carrying the query id as a txn watermark — a
        // replayed epoch (post-crash re-delivery against the same
        // checkpoint) no-ops, the manifest is the only ledger
        override def toStreaming: StreamingWrite =
          if (partCols.isEmpty)
            new GraftStreamingWrite(path, ident, phys(info.schema()),
              info.queryId())
          else new GraftPartitionedStreamingWrite(path, ident,
            phys(info.schema()), partCols, info.queryId())
      }
    }
}

/** A table with a declared UNIQUE row key (`TBLPROPERTIES
  * ('key'='k')`): everything [[GraftSqlTable]] is, plus SQL
  * UPDATE / MERGE / arbitrary-predicate DELETE through Spark's
  * DELTA-BASED row-level-operations plan, mapped onto the library's
  * key-identity merge verb — matched rows arrive as delete(rowId=key)
  * [+ the updated row as insert], and the statement's whole change set
  * lands in ONE atomic [[ManifestCommit.applyChangesDV]] commit:
  * O(changed rows) write amplification (no copy-on-write file
  * rewrites), and the change feed replays exact delete+insert rows.
  * Range-shaped DELETEs still take the metadata-only DV path (Spark's
  * OptimizeMetadataOnlyDeleteFromTable converts them back), so the
  * cheap verb stays cheap. Keyless tables don't implement the
  * interface at all — their range DELETE never routes through a
  * rewrite that would demand a key. */
private[graft] final class GraftSqlKeyedTable(path: String, ident: String,
    tableSchema: StructType, keyCol: String, partCols: Seq[String] = Nil,
    kColMap: Map[String, String] = Map.empty)
    extends GraftSqlTable(path, ident, tableSchema, None, partCols,
      Some(keyCol), colMap = kColMap)
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations {
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder =
    () => new GraftRowLevelOperation(path, tableSchema, keyCol, partCols,
      info.command(), kColMap)
}

/** Batch scan: live files straight from the manifest (zero jobs at
  * planning — one manifest read per leaf), long-range, `=` and `IN`
  * predicates pruning FILES against the manifest's recorded per-file
  * stats + blooms (the [[ManifestCommit.Pruning]] rule
  * [[GraftFileIndex]] also asks), merge-on-read correctness under
  * active deletion-vector sidecars.
  *
  * Execution is TWO-TIER, chosen per file:
  *  - **DV-free files — the overwhelming majority at any scale — read
  *    through Spark's own VECTORIZED parquet machinery**: the planner
  *    splits them into byte ranges (`maxPartitionBytes`, so one fat
  *    file is many tasks, and small files coalesce into one), and the
  *    reader factory is the stock [[ParquetScan]] columnar factory —
  *    batched decode, whole-stage-codegen columnar input, row-group +
  *    page-level filter pushdown. At 100 TB this is the difference
  *    between the Group API's one-object-tree-per-row and the
  *    cache-friendly column-batch path the rest of the engine uses.
  *  - **DV-touched files keep the Group-API row reader**: it counts
  *    physical row indexes during its sequential scan (the identity a
  *    positional sidecar subtracts against), which the vectorized
  *    reader's split ranges cannot cheaply provide. A sidecar covers
  *    O(deleted rows) files, so this tier stays small; compaction
  *    ([[ManifestCommit.applyDvs]]) returns a file to the fast tier.
  *
  * When every planned file is DV-free the whole scan reports columnar
  * partitions (Spark requires uniformity within one scan); a mixed
  * scan runs row-based, with the vectorized DECODE still inside the
  * stock factory's row interface for the DV-free files. */
private[graft] class GraftSqlScan(path: String, full: StructType,
    partCols: Seq[String] = Nil, asOf: Option[Long] = None,
    asOfLeaves: Option[Map[String, Long]] = None,
    colMap: Map[String, String] = Map.empty)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters
    with Scan with Batch {
  // logical -> physical at the file boundary (RENAME COLUMN): the
  // planning surface (readSchema, pushed filters, EXPLAIN) stays
  // logical; everything handed to a parquet reader — requested
  // schemas, row-group filters, stats/bloom lookups — translates.
  // Output batches are positional, so only names change.
  private def phys(s: StructType): StructType =
    GraftTableMeta.phys(s, colMap)
  // partition columns TRAIL the declared schema (enforced at CREATE),
  // so any required subset is data-then-partition too
  private val fullPartSchema = StructType(
    full.fields.takeRight(partCols.length))
  private val dataSchema = StructType(
    full.fields.dropRight(partCols.length))
  private var required: StructType = full
  private def reqData = StructType(
    required.fields.filterNot(f => partCols.contains(f.name)))
  private def reqPart = StructType(
    required.fields.filter(f => partCols.contains(f.name)))
  private var pushed: Array[Filter] = Array.empty
  override def pruneColumns(requiredSchema: StructType): Unit =
    // preserve OUR field order/types; Spark's required set drives which
    // columns the readers materialize
    required = StructType(
      full.fields.filter(f => requiredSchema.fieldNames.contains(f.name)))
  /** Every filter stays a residual (Spark re-evaluates post-scan —
    * stats pruning is a file-skipping optimization, never the row
    * filter); the subset [[ManifestCommit.Pruning]] can use and the
    * partition-column subset are recorded for pruning and surface in
    * EXPLAIN as the pushed set. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(f =>
      !ManifestCommit.Pruning.of(Seq(f)).isEmpty ||
        (partCols.nonEmpty && f.references.nonEmpty &&
          f.references.forall(partCols.contains)))
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed
  override def build(): Scan = this
  override def readSchema(): StructType = required
  override def description(): String =
    s"graft-sql $path pruned=[${pushed.mkString(", ")}]"
  override def toBatch: Batch = this

  /** `spark.readStream.table(t)` — the table as an APPEND stream: the
    * first micro-batch is the committed snapshot (active DV sidecars
    * subtracted inside the readers), later batches tail the commit log
    * and surface appended rows; offsets are commit versions (a vector
    * of them for a partitioned table — the leaf-vector source, so a
    * leaf born mid-stream enters with no restart), and the
    * checkpointed cursor resumes exactly. A row-MUTATING commit
    * (dvdelete/upsert) in the tail refuses loudly — an append-only
    * table stream cannot retract rows; the CHANGE FEED (the FeedSource
    * format, `_change_type` rows) is the consumer for mutable tables. */
  override def toMicroBatchStream(
      checkpointLocation: String): MicroBatchStream =
    if (partCols.isEmpty)
      new GraftSqlMicroBatchStream(path, phys(required))
    else new GraftSqlTableFeedStream(path, phys(full), partCols)

  /** The split plan, computed ONCE and shared by planInputPartitions /
    * createReaderFactory (Spark calls them separately on the same Scan):
    * (vectorized FilePartitions, Group-reader partitions, the stock
    * columnar factory when any file takes the fast tier). For a
    * partitioned table the plan walks the kept LEAVES (partition-column
    * predicates prune whole leaves driver-side, before any manifest
    * GET) and each leaf contributes to both tiers; partition VALUES
    * ride PartitionedFile.partitionValues on the fast tier and decode
    * once per task on the row tier. */
  private lazy val planned: (Seq[InputPartition], Seq[InputPartition],
      Option[PartitionReaderFactory]) = {
    import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionDirectory, PartitionedFile}
    val spark = SparkSession.active
    val dir = new Path(path)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the data-column subset of the pushed filters, under PHYSICAL names
    // (stats/blooms are recorded under them): both the manifest file
    // pruning and the parquet row-group/page pushdown use it —
    // partition columns are path metadata
    val dataFilters = pushed.filter(
      _.references.forall(dataSchema.fieldNames.contains))
      .map(GraftTableMeta.physFilter(_, colMap))
    val pruning = ManifestCommit.Pruning.of(dataFilters.toSeq)
    // leaf enumeration + partition pruning (driver-side, before any
    // per-leaf manifest GET): a leaf whose `col=value` segments
    // contradict a pushed partition predicate contributes NOTHING
    val leaves: Seq[String] =
      if (partCols.isEmpty) Seq(".")
      else TableFeedSource.leafRels(fs, dir).filter(_ != ".")
        // a TIMESTAMP AS OF read pins each leaf to its own version; a
        // leaf with no commit at or before the timestamp (born later)
        // contributes nothing
        .filter(rel => asOfLeaves.forall(_.contains(rel)))
        .filter(rel => GraftSqlScan.leafKept(
          GraftSqlScan.leafValues(rel, fullPartSchema), pushed.toSeq))
    val vecSplits = Seq.newBuilder[PartitionedFile]
    val feedParts = Seq.newBuilder[InputPartition]
    val sizedDirs = Seq.newBuilder[PartitionDirectory]
    leaves.foreach { rel =>
      val leafDir = if (rel == ".") dir else new Path(dir, rel)
      val pin: Option[Long] = asOfLeaves.fold(asOf)(_.get(rel))
      // ONE manifest read per leaf serves the live set, the stats and
      // blooms the pruning asks, and the active sidecars; a pinned
      // (time-travel) read takes all of them from its own version
      val state = pin match {
        case Some(v) => ManifestCommit.stateAt(fs, leafDir, v)
          .getOrElse(sys.error(s"graft catalog: version $v of $path " +
            "pruned between plan and read — restart the query"))
        case None => ManifestCommit.headState(fs, leafDir)
          .getOrElse(sys.error(
            s"graft catalog: $leafDir has no committed snapshot"))
      }
      // a file the pruning rules out never plans a partition (zero
      // footers)
      val kept = pruning.kept(state)
      // merge-on-read: files a sidecar names carry the sidecar paths
      // and subtract their positions executor-side; the touched set
      // resolves from sidecar footer stats (driver-side, no job), a
      // superset being safe — an untouched false positive loads an
      // empty position set
      val dvs = state.dvs.map(n => new Path(leafDir, n).toString)
      val touched: Set[String] =
        if (dvs.isEmpty) Set.empty
        else {
          val conf = spark.sessionState.newHadoopConf()
          FeedSource.sidecarNameRanges(conf, dvs) match {
            case Some(rs) =>
              kept.filter(n => rs.exists(r => n >= r._1 && n <= r._2))
                .toSet
            case None => FeedSource.sidecarFileNamesDriverSide(conf, dvs)
          }
        }
      val (dvFiles, plainFiles) = kept.partition(touched.contains)
      feedParts ++= dvFiles.map(n => GraftLeafFilePartition(
        FeedFilePartition(new Path(leafDir, n).toString,
          "insert", state.version, None, dvSidecars = dvs,
          dvKeep = false), rel): InputPartition)
      // vectorized tier: ONE directory LIST per leaf resolves sizes,
      // then stock byte-range splitting — a fat file becomes many
      // tasks and small files coalesce across leaves, exactly as a
      // HadoopFsRelation scan would plan
      if (plainFiles.nonEmpty) {
        val wanted = plainFiles.toSet
        val statuses = fs.listStatus(leafDir).toIndexedSeq
          .filter(st => !st.isDirectory &&
            wanted.contains(st.getPath.getName))
        val missing = wanted -- statuses.map(_.getPath.getName)
        require(missing.isEmpty, s"graft catalog: manifest of $leafDir " +
          s"lists missing file(s) ${missing.take(3).mkString(", ")} — " +
          "GC grace too short?")
        sizedDirs += PartitionDirectory(InternalRow.empty,
          statuses.toArray)
        val partRow = GraftSqlScan.projectedPartRow(rel, fullPartSchema,
          reqPart.fieldNames)
        statuses.foreach { st =>
          vecSplits += GraftSqlScan.pendingSplit(st, partRow)
        }
      }
    }
    val dirs = sizedDirs.result()
    val (vecParts, vecFactory) =
      if (dirs.isEmpty) (Nil, None)
      else {
        val maxSplit = FilePartition.maxSplitBytes(spark, dirs)
        val splits = vecSplits.result().flatMap { pending =>
          val len = pending.fileSize
          (0L until math.max(len, 1L) by maxSplit).map { off =>
            pending.copy(start = off,
              length = math.min(maxSplit, len - off))
          }
        }.sortBy(-_.length)
        val parts = FilePartition.getFilePartitions(spark, splits,
          maxSplit)
        (parts, Some(GraftSqlScan.parquetFactory(spark, phys(dataSchema),
          phys(reqData), reqPart, dataFilters)))
      }
    (vecParts, feedParts.result(), vecFactory)
  }

  override def planInputPartitions(): Array[InputPartition] =
    (planned._1 ++ planned._2).toArray

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftSplitReaderFactory(planned._3,
      new org.apache.spark.util.SerializableConfiguration(
        SparkSession.active.sessionState.newHadoopConf()),
      phys(reqData), fullPartSchema, reqPart.fieldNames,
      uniformColumnar = planned._2.isEmpty)
}

private[graft] object GraftSqlScan {
  /** The stock VECTORIZED parquet reader factory, configured exactly as
    * Spark's own DSv2 parquet scan configures it — built by
    * instantiating [[org.apache.spark.sql.execution.datasources.v2
    * .parquet.ParquetScan]] itself (read-support class, requested
    * schema, timezone, int96/binary flags, filter pushdown...) rather
    * than replicating that setup by hand, so every upstream fix rides
    * along. The scan's own file index is unused: partition PLANNING
    * stays manifest-driven (the whole point of the lake). */
  private[graft] def parquetFactory(spark: SparkSession,
      dataSchema: StructType, readDataSchema: StructType,
      readPartSchema: StructType,
      filters: Array[Filter]): PartitionReaderFactory = {
    import org.apache.spark.sql.execution.datasources.InMemoryFileIndex
    import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan
    val index = new InMemoryFileIndex(spark, Nil, Map.empty,
      Some(dataSchema))
    ParquetScan(spark, spark.sessionState.newHadoopConf(), index,
      dataSchema, readDataSchema, readPartSchema, filters,
      CaseInsensitiveStringMap.empty()).createReaderFactory()
  }

  /** One leaf's raw `col -> value-string` map. */
  private[lake] def leafValues(rel: String,
      partSchema: StructType): Map[String, String] =
    if (rel == ".") Map.empty
    else rel.split("/").toSeq.filter(_.nonEmpty).map { seg =>
      val i = seg.indexOf('=')
      (seg.substring(0, i), seg.substring(i + 1))
    }.toMap

  /** Leaf-level partition pruning: can this leaf's `col=value`
    * segments possibly satisfy every pushed filter? Conservative — a
    * filter mentioning any non-partition column, or any shape not
    * handled here, keeps the leaf (Spark re-evaluates rows after the
    * scan either way). Numeric comparisons go through Long, everything
    * else through raw-segment string equality. */
  private[lake] def leafKept(values: Map[String, String],
      filters: Seq[Filter]): Boolean = {
    def cmp(col: String, v: Any): Option[Int] = // sign of (leaf - v)
      values.get(col).flatMap { raw =>
        ManifestCommit.Pruning.longOf(v) match {
          case Some(l) => raw.toLongOption.map(_.compareTo(l))
          case None if v != null => Some(raw.compareTo(v.toString))
          case None => None
        }
      }
    def keep(f: Filter): Boolean = f match {
      case EqualTo(c, v)            => cmp(c, v).forall(_ == 0)
      case GreaterThan(c, v)        => cmp(c, v).forall(_ > 0)
      case GreaterThanOrEqual(c, v) => cmp(c, v).forall(_ >= 0)
      case LessThan(c, v)           => cmp(c, v).forall(_ < 0)
      case LessThanOrEqual(c, v)    => cmp(c, v).forall(_ <= 0)
      case org.apache.spark.sql.sources.In(c, vs) =>
        !values.contains(c) || vs.exists(v => cmp(c, v).forall(_ == 0))
      case And(l, r)                => keep(l) && keep(r)
      case org.apache.spark.sql.sources.Or(l, r) => keep(l) || keep(r)
      case _                        => true
    }
    filters.forall(keep)
  }

  /** The leaf's partition values PROJECTED to the required partition
    * columns, decoded with the DECLARED types (the catalog knows them —
    * no inference ladder). */
  private[graft] def projectedPartRow(rel: String,
      fullPartSchema: StructType, reqNames: Seq[String]): InternalRow = {
    if (reqNames.isEmpty) return InternalRow.empty
    val fullRow = TableFeedSource.partitionRow(rel, fullPartSchema)
    InternalRow.fromSeq(reqNames.map(n =>
      fullRow.get(fullPartSchema.fieldIndex(n),
        fullPartSchema(fullPartSchema.fieldIndex(n)).dataType)))
  }

  /** A whole-file PartitionedFile carrying the leaf's projected
    * partition values; the caller re-splits by byte range via copy. */
  private[lake] def pendingSplit(st: org.apache.hadoop.fs.FileStatus,
      partRow: InternalRow)
      : org.apache.spark.sql.execution.datasources.PartitionedFile =
    org.apache.spark.sql.execution.datasources.PartitionedFile(partRow,
      org.apache.spark.paths.SparkPath.fromPath(st.getPath),
      0L, st.getLen, Array.empty[String],
      st.getModificationTime, st.getLen, Map.empty[String, Any])
}

/** One DV-touched leaf data file plus its leaf's root-relative path —
  * the row tier's partition unit for (possibly partitioned) SQL
  * tables; partition values decode once per task from the path. */
private[graft] case class GraftLeafFilePartition(leaf: FeedFilePartition,
    rel: String) extends InputPartition

/** Dispatches per partition kind: stock vectorized parquet partitions
  * ([[org.apache.spark.sql.execution.datasources.FilePartition]]) to
  * the stock columnar factory, DV-touched [[GraftLeafFilePartition]]s
  * to the row-index-counting Group reader (partition values appended
  * via one constant [[JoinedRow]] per task). Columnar batches are
  * reported only when the WHOLE scan is DV-free (`uniformColumnar`) —
  * Spark refuses a scan mixing columnar and row partitions; in the
  * mixed case the vectorized DECODE still runs inside the stock
  * factory's row interface. */
private[graft] class GraftSplitReaderFactory(
    vec: Option[PartitionReaderFactory],
    conf: org.apache.spark.util.SerializableConfiguration,
    reqData: StructType, fullPartSchema: StructType,
    reqPartNames: Seq[String], uniformColumnar: Boolean)
    extends PartitionReaderFactory {
  import org.apache.spark.sql.execution.datasources.FilePartition
  private lazy val row = new FeedReaderFactory(reqData, conf,
    feedCols = false)
  override def createReader(
      p: InputPartition): PartitionReader[InternalRow] = p match {
    case fp: FilePartition => vec.get.createReader(fp)
    case lp: GraftLeafFilePartition =>
      val inner = row.createReader(lp.leaf)
      val partRow = GraftSqlScan.projectedPartRow(lp.rel, fullPartSchema,
        reqPartNames)
      new PartitionReader[InternalRow] {
        private val joined =
          new org.apache.spark.sql.catalyst.expressions.JoinedRow()
        override def next(): Boolean = inner.next()
        override def get(): InternalRow = joined(inner.get(), partRow)
        override def close(): Unit = inner.close()
      }
    case other => sys.error(s"graft catalog: unexpected partition $other")
  }
  override def createColumnarReader(p: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    p match {
      case fp: FilePartition => vec.get.createColumnarReader(fp)
      case other             => super.createColumnarReader(other)
    }
  override def supportColumnarReads(p: InputPartition): Boolean =
    uniformColumnar && (p match {
      case fp: FilePartition => vec.exists(_.supportColumnarReads(fp))
      case _                 => false
    })
}

/** The append-only streaming read of one SQL table: planning delegates
  * to the bootstrap-mode [[graft.sources.FeedStream]] (snapshot first,
  * then the commit-log tail — offsets ARE commit versions), readers
  * decode pure data columns, and any partition that would RETRACT a
  * row (a dvdelete/upsert replay) fails the batch loudly. */
private[graft] class GraftSqlMicroBatchStream(path: String,
    required: StructType) extends MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}
  private val inner = new graft.sources.FeedStream(path, None, None,
    graft.sources.FeedSource.fullSchema(path), bootstrap = true)

  override def initialOffset(): Offset = inner.initialOffset()
  override def latestOffset(start: Offset, limit: ReadLimit): Offset =
    inner.latestOffset(start, limit)
  override def reportLatestOffset(): Offset = inner.reportLatestOffset()
  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "graft-sql stream implements SupportsAdmissionControl")
  override def prepareForTriggerAvailableNow(): Unit =
    inner.prepareForTriggerAvailableNow()
  override def deserializeOffset(json: String): Offset =
    inner.deserializeOffset(json)

  override def planInputPartitions(start: Offset,
      end: Offset): Array[InputPartition] = {
    val parts = inner.planInputPartitions(start, end)
    parts.foreach {
      case _: graft.sources.VecFeed.VecFeedPartition => // insert tier
      case ip =>
        val p = ip.asInstanceOf[FeedFilePartition]
        require(p.changeType == "insert" &&
          (p.dvSidecars.isEmpty || !p.dvKeep),
          s"graft catalog: readStream.table($path) saw a row-mutating " +
            s"commit (a ${p.changeType} replay at v${p.version}) — an " +
            "append-only table stream cannot retract rows; consume the " +
            "change feed (format graft.sources.FeedSource) instead")
    }
    parts
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new graft.sources.FeedSplitReaderFactory(required,
      new org.apache.spark.util.SerializableConfiguration(
        SparkSession.active.sessionState.newHadoopConf()),
      graft.sources.VecFeed.dataFactory(SparkSession.active, required),
      feedCols = false)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** `spark.readStream.table(t)` for a PARTITIONED table — the leaf-
  * vector source behind the SQL surface: offsets are per-leaf commit
  * versions, the first batch replays every leaf's committed snapshot
  * (cursors start empty, so each leaf bootstraps at its head with
  * active DVs subtracted), later batches tail each leaf's log, and a
  * leaf BORN mid-stream enters at its birth version with no restart.
  * Output schema is the table schema (partition columns appended from
  * the leaf path, change columns dropped); a row-mutating commit in
  * any leaf's tail refuses loudly, as in the unpartitioned stream. */
private[graft] class GraftSqlTableFeedStream(path: String,
    full: StructType, partCols: Seq[String]) extends MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}
  import org.apache.spark.sql.types.{LongType, StringType, StructField}
  private val fullPartSchema = StructType(
    full.fields.takeRight(partCols.length))
  private val dataSchema = StructType(
    full.fields.dropRight(partCols.length))
  private val feedSchema = StructType((dataSchema.fields.toSeq :+
    StructField(FeedSource.ChangeTypeCol, StringType, nullable = false) :+
    StructField(FeedSource.VersionCol, LongType, nullable = false)) ++
    fullPartSchema.fields)
  // cursors = empty map: every leaf is "born" at the first batch, i.e.
  // snapshot-then-tail per leaf
  private val inner = new graft.sources.TableFeedStream(path,
    Some(Map.empty), None, feedSchema)

  override def initialOffset(): Offset = inner.initialOffset()
  override def latestOffset(start: Offset, limit: ReadLimit): Offset =
    inner.latestOffset(start, limit)
  override def reportLatestOffset(): Offset = inner.reportLatestOffset()
  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "graft-sql table stream implements SupportsAdmissionControl")
  override def prepareForTriggerAvailableNow(): Unit =
    inner.prepareForTriggerAvailableNow()
  override def deserializeOffset(json: String): Offset =
    inner.deserializeOffset(json)

  override def planInputPartitions(start: Offset,
      end: Offset): Array[InputPartition] = {
    val parts = inner.planInputPartitions(start, end)
    parts.foreach { ip =>
      ip.asInstanceOf[graft.sources.TableFeedPartition].leaf match {
        case _: graft.sources.VecFeed.VecFeedPartition => // insert tier
        case p: FeedFilePartition =>
          require(p.changeType == "insert" &&
            (p.dvSidecars.isEmpty || !p.dvKeep),
            s"graft catalog: readStream.table($path) saw a row-mutating " +
              s"commit (a ${p.changeType} replay at v${p.version}) — an " +
              "append-only table stream cannot retract rows; consume " +
              "the change feed (graft.sources.TableFeedSource) instead")
        case other => sys.error(s"graft catalog: unexpected $other")
      }
    }
    parts
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val conf = new org.apache.spark.util.SerializableConfiguration(
      SparkSession.active.sessionState.newHadoopConf())
    val data = dataSchema
    val partSchema = fullPartSchema
    val split = new graft.sources.FeedSplitReaderFactory(data, conf,
      graft.sources.VecFeed.dataFactory(SparkSession.active, data),
      feedCols = false)
    new PartitionReaderFactory {
      override def createReader(
          p: InputPartition): PartitionReader[InternalRow] = {
        val tp = p.asInstanceOf[graft.sources.TableFeedPartition]
        val inner = split.createReader(tp.leaf)
        val partRow = TableFeedSource.partitionRow(tp.rel, partSchema)
        new PartitionReader[InternalRow] {
          private val joined =
            new org.apache.spark.sql.catalyst.expressions.JoinedRow()
          override def next(): Boolean = inner.next()
          override def get(): InternalRow = joined(inner.get(), partRow)
          override def close(): Unit = inner.close()
        }
      }
    }
  }

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** The delta-based row-level operation of a keyed table: UPDATE, MERGE,
  * and non-range DELETE rewrite into scan + [[GraftDeltaWrite]]. The
  * scan is the ordinary manifest-planned vectorized scan (the key is a
  * plain data column — no positional metadata attributes needed), and
  * updates are represented as delete+insert, exactly the shape
  * [[ManifestCommit.applyChangesDV]] commits atomically. */
private[graft] class GraftRowLevelOperation(path: String,
    tableSchema: StructType, keyCol: String, partCols: Seq[String],
    cmd: org.apache.spark.sql.connector.write.RowLevelOperation.Command,
    colMap: Map[String, String] = Map.empty)
    extends org.apache.spark.sql.connector.write.SupportsDelta {
  import org.apache.spark.sql.connector.write._
  override def command(): RowLevelOperation.Command = cmd
  override def description(): String =
    s"graft row-level $cmd on $path keyed by $keyCol"
  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftSqlScan(path, tableSchema, partCols, colMap = colMap)
  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite =
        new GraftDeltaWrite(path, tableSchema, keyCol, partCols, info,
          colMap)
    }
  /** On a partitioned table the partition columns join the rowId: the
    * key alone identifies the row, but a delete must also ROUTE to its
    * leaf (each leaf is its own commit domain) — and an UPDATE that
    * changes a partition value becomes delete-in-old-leaf +
    * insert-in-new-leaf, i.e. the row MOVES correctly. */
  override def rowId()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    (keyCol +: partCols).map(c => org.apache.spark.sql.connector
      .expressions.Expressions.column(c)).toArray
  override def representUpdateAsDeleteAndInsert(): Boolean = true
}

/** One task's staged row-level change set, PER TOUCHED LEAF ("." for
  * an unpartitioned table): a parquet of inserted rows and a parquet
  * of deleted keys (either may be empty). */
private[graft] case class GraftDeltaLeafStaged(rel: String,
    insertDir: String, insertFile: String, insertRows: Long,
    keyDir: String, keyFile: String, keyRows: Long)
private[graft] case class GraftDeltaStaged(
    entries: Seq[GraftDeltaLeafStaged]) extends WriterCommitMessage

/** The write half of SQL UPDATE/MERGE/DELETE on a keyed table: each
  * task stages its inserted rows and deleted keys as hidden parquet;
  * the driver's commit reads them back (vectorized — they are ordinary
  * parquet) and lands the WHOLE statement as ONE
  * [[ManifestCommit.applyChangesDV]] commit — atomic, merge-on-read,
  * O(changed rows), replayed by the change feed as exact
  * delete+insert rows. A crash before commit leaves only hidden
  * staging (swept by gc); abort deletes it eagerly. */
private[graft] class GraftDeltaWrite(path: String, tblSchema: StructType,
    keyCol: String, partCols: Seq[String],
    info: LogicalWriteInfo, colMap: Map[String, String] = Map.empty)
    extends org.apache.spark.sql.connector.write.DeltaWrite {
  import org.apache.spark.sql.connector.write._

  // the ROW schema Spark will feed insert() with — trust the write
  // info's projection (it is the table schema today, but the field
  // ORDER is Spark's contract, not ours to assume)
  private val schema =
    if (info.schema() != null && info.schema().nonEmpty) info.schema()
    else tblSchema
  // everything that touches parquet (staged delta files, the
  // committed insert files, leaf schema records) speaks PHYSICAL
  // names; the key and partition columns are never renameable, so the
  // rowId projection stays untranslated
  private val physSchema = GraftTableMeta.phys(schema, colMap)
  private val dataSchema = StructType(
    physSchema.fields.dropRight(partCols.length))
  private val keySchema = StructType(Seq(
    tblSchema.fields.find(_.name == keyCol).getOrElse(sys.error(
      s"graft catalog: key column $keyCol missing from $path schema"))))
  // the rowId projection: the key plus (on a partitioned table) the
  // partition columns that route each delete to its leaf
  private val idSchema = info.rowIdSchema().orElse(
    StructType(keySchema.fields ++
      schema.fields.filter(f => partCols.contains(f.name))))
  require(idSchema.fieldNames.toSet == (keyCol +: partCols).toSet,
    s"graft catalog: row-level rowId must be ($keyCol" +
      s"${partCols.map(", " + _).mkString}); got $idSchema")
  require(schema.fieldNames.toSeq == tblSchema.fieldNames.toSeq,
    s"graft catalog: row-level write projection ${schema.fieldNames
      .mkString(",")} does not match the table schema of $path")

  override def toBatch: DeltaBatchWrite = new DeltaBatchWrite {
    override def createBatchWriterFactory(
        pinfo: PhysicalWriteInfo): DeltaWriterFactory = {
      val conf = new org.apache.spark.util.SerializableConfiguration(
        SparkSession.active.sessionState.newHadoopConf())
      val (p, sch, ks, ids, pc) =
        (path, physSchema, keySchema, idSchema, partCols)
      new DeltaWriterFactory {
        override def createWriter(partitionId: Int,
            taskId: Long): DeltaWriter[InternalRow] =
          new GraftDeltaTaskWriter(p, sch, ks, ids, pc, conf.value,
            s"rlo-p$partitionId-t$taskId")
      }
    }

    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      val spark = SparkSession.active
      val dir = new Path(path)
      val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val staged = messages.collect { case m: GraftDeltaStaged => m }
        .flatMap(_.entries)
      def cleanup(): Unit = staged.foreach { m =>
        fs.delete(new Path(m.insertDir), true)
        fs.delete(new Path(m.keyDir), true)
      }
      try {
        import org.apache.spark.sql.functions.{col, lit}
        def readOr(files: Seq[String], s: StructType): DataFrame =
          if (files.isEmpty) spark.createDataFrame(
            java.util.Collections.emptyList[org.apache.spark.sql.Row](), s)
          else spark.read.schema(s).parquet(files: _*)
        val byRel = staged.groupBy(_.rel).toSeq.sortBy(_._1)
        def insFilesOf(es: Seq[GraftDeltaLeafStaged]) =
          es.filter(_.insertRows > 0)
            .map(m => new Path(m.insertDir, m.insertFile).toString)
        def keyFilesOf(es: Seq[GraftDeltaLeafStaged]) =
          es.filter(_.keyRows > 0)
            .map(m => new Path(m.keyDir, m.keyFile).toString)
        def ensureLeaf(rel: String): Path = {
          val leaf = if (rel == ".") dir else new Path(dir, rel)
          val born = !fs.exists(new Path(leaf, ManifestCommit.LogDirName))
          if (born) { // an UPDATE moved rows into a brand-new leaf
            fs.mkdirs(leaf)
            ManifestCommit.bootstrap(fs, leaf)
            ManifestCommit.alterSchema(fs, leaf, dataSchema)
          }
          leaf
        }
        // CROSS-LEAF MOVES (a partition-value UPDATE: delete in leaf
        // A, insert of the same key in leaf B) are exposed to crash
        // LOSS if A's commit lands first — the WHERE no longer
        // matches, so no retry can recover the row. Detect moved keys
        // with one O(changed rows) job (multi-leaf statements only),
        // and land the moved rows' INSERTS into their destination
        // leaves FIRST: a globally-unique key cannot already live in
        // its destination, so phase 0 is a pure append, and every
        // crash window then DUPLICATES (old + new leaf both carry the
        // row — rerunning the statement converges: the source row
        // still matches, and the destination upsert replaces the
        // orphan copy) instead of losing. Single-leaf statements and
        // multi-leaf statements that move nothing keep the
        // one-combined-commit-per-leaf shape unchanged.
        val moved: Option[DataFrame] =
          if (byRel.size <= 1) None
          else {
            val ins = byRel.flatMap { case (rel, es) =>
              insFilesOf(es) match {
                case Nil => None
                case f => Some(spark.read.schema(dataSchema)
                  .parquet(f: _*).select(col(keyCol).as("__k"))
                  .withColumn("__insRel", lit(rel)))
              }
            }.reduceOption(_ unionByName _)
            val del = byRel.flatMap { case (rel, es) =>
              keyFilesOf(es) match {
                case Nil => None
                case f => Some(spark.read.schema(keySchema)
                  .parquet(f: _*).select(col(keyCol).as("__k"))
                  .withColumn("__delRel", lit(rel)))
              }
            }.reduceOption(_ unionByName _)
            // the cached join must unpersist on EVERY path — filter()
            // dropping the empty-move case would otherwise leak the
            // cache entry once per no-move multi-leaf statement
            (for (i <- ins; d <- del) yield
              i.join(d, "__k")
                .where(col("__insRel") =!= col("__delRel"))
                .select(col("__k"), col("__insRel")).cache())
              .filter { m =>
                val any = m.limit(1).count() > 0
                if (!any) m.unpersist()
                any
              }
          }
        // phase 0: moved-in inserts, destination leaves first
        moved.foreach { m =>
          LeafPar.foreach(byRel) { case (rel, es) =>
            val insF = insFilesOf(es)
            if (insF.nonEmpty) {
              val mk = m.where(col("__insRel") === rel).select("__k")
              val rows = spark.read.schema(dataSchema).parquet(insF: _*)
                .join(mk, col(keyCol) === col("__k"), "leftsemi")
              if (rows.limit(1).count() > 0)
                ManifestCommit.applyChangesDV(spark, ensureLeaf(rel),
                  keyCol, inserts = rows,
                  deleteKeys = readOr(Nil, keySchema))
            }
          }
        }
        // one applyChangesDV commit PER TOUCHED LEAF ("." when the
        // table is unpartitioned = exactly one commit): atomic within
        // a leaf, independent across leaves (overlapped on the
        // LeafPar pool) — every library multi-leaf verb's visibility
        // contract. Moved-in inserts are EXCLUDED
        // (phase 0 already landed them — re-inserting would doom the
        // landed copy and re-add it, wasted churn).
        LeafPar.foreach(byRel) { case (rel, entries) =>
            val insertFiles = insFilesOf(entries)
            val keyFiles = keyFilesOf(entries)
            if (insertFiles.nonEmpty || keyFiles.nonEmpty) {
              val leaf = ensureLeaf(rel)
              val inserts0 = readOr(insertFiles, dataSchema)
              val inserts = moved match {
                case Some(m) if insertFiles.nonEmpty =>
                  inserts0.join(
                    m.where(col("__insRel") === rel).select("__k"),
                    col(keyCol) === col("__k"), "leftanti")
                case _ => inserts0
              }
              ManifestCommit.applyChangesDV(spark, leaf, keyCol,
                inserts = inserts,
                deleteKeys = readOr(keyFiles, keySchema))
            }
        }
        moved.foreach(_.unpersist())
        ()
      } finally cleanup()
    }

    override def abort(messages: Array[WriterCommitMessage]): Unit = {
      val fs = new Path(path).getFileSystem(
        SparkSession.active.sparkContext.hadoopConfiguration)
      messages.foreach {
        case m: GraftDeltaStaged => m.entries.foreach { e =>
          fs.delete(new Path(e.insertDir), true)
          fs.delete(new Path(e.keyDir), true)
        }
        case _ =>
      }
    }
  }
}

/** Executor-side task writer for a row-level statement: deletes stage
  * the rowId's KEY into the leaf the rowId's partition values name,
  * inserts stage data-column rows into the leaf the row's partition
  * values name; updates arrive as delete+insert
  * (representUpdateAsDeleteAndInsert), so a partition-value change
  * MOVES the row between leaves. Lazy files — a task that touches
  * nothing stages nothing. */
private[graft] class GraftDeltaTaskWriter(path: String,
    schema: StructType, keySchema: StructType, idSchema: StructType,
    partCols: Seq[String],
    conf: org.apache.hadoop.conf.Configuration, tag: String)
    extends org.apache.spark.sql.connector.write.DeltaWriter[InternalRow] {
  import org.apache.spark.sql.types._
  private val dataLen = schema.length - partCols.length
  private case class Pair(inserts: GraftParquetDataWriter,
      keys: GraftParquetDataWriter)
  private val perLeaf =
    scala.collection.mutable.LinkedHashMap.empty[String, Pair]
  private def pairOf(rel: String): Pair =
    perLeaf.getOrElseUpdate(rel, Pair(
      new GraftParquetDataWriter(path,
        StructType(schema.fields.take(dataLen)), conf,
        s"$tag-l${perLeaf.size}-ins"),
      new GraftParquetDataWriter(path, keySchema, conf,
        s"$tag-l${perLeaf.size}-del")))

  // the one leaf renderer, its string check memoized per distinct value
  private val checkedVals = scala.collection.mutable.HashSet.empty[String]

  private def relOfRow(row: InternalRow): String =
    if (partCols.isEmpty) "."
    else partCols.indices.map { j =>
      GraftSqlTable.leafSegment(schema.fields(dataLen + j), row,
        dataLen + j, checkedVals)
    }.mkString("/")

  // rowId rows resolve BY NAME against the projected idSchema
  private val idPartIdx = partCols.map(idSchema.fieldIndex)
  private val idKeyIdx = idSchema.fieldIndex(keySchema.head.name)
  private def relOfId(id: InternalRow): String =
    if (partCols.isEmpty) "."
    else partCols.indices.map { j =>
      GraftSqlTable.leafSegment(idSchema.fields(idPartIdx(j)), id,
        idPartIdx(j), checkedVals)
    }.mkString("/")

  override def insert(row: InternalRow): Unit =
    pairOf(relOfRow(row)).inserts.write(row) // data columns LEAD
  override def delete(meta: InternalRow, id: InternalRow): Unit = {
    // the key writer reads position 0 of the row it is handed: project
    // the (possibly multi-field) rowId down to the key
    val keyRow = new org.apache.spark.sql.catalyst.expressions
      .GenericInternalRow(Array[Any](
        id.get(idKeyIdx, keySchema.head.dataType)))
    pairOf(relOfId(id)).keys.write(keyRow)
  }
  override def update(meta: InternalRow, id: InternalRow,
      row: InternalRow): Unit = {
    delete(meta, id); insert(row)
  }

  override def commit()
      : org.apache.spark.sql.connector.write.WriterCommitMessage =
    GraftDeltaStaged(perLeaf.toSeq.map { case (rel, pw) =>
      val i = pw.inserts.commit().asInstanceOf[GraftStagedFile]
      val k = pw.keys.commit().asInstanceOf[GraftStagedFile]
      GraftDeltaLeafStaged(rel, i.stagingDir, i.file, i.rows,
        k.stagingDir, k.file, k.rows)
    })
  override def abort(): Unit =
    perLeaf.values.foreach { pw => pw.inserts.abort(); pw.keys.abort() }
  override def close(): Unit =
    perLeaf.values.foreach { pw => pw.inserts.close(); pw.keys.close() }
}

/** One task's staged fan-out for a PARTITIONED streaming epoch: per
  * touched leaf, the hidden staging dir, the file inside it, and the
  * row count. */
private[graft] case class GraftStagedFanout(
    files: Seq[(String, String, String, Long)]) // (rel, stagingDir, file, rows)
    extends WriterCommitMessage

/** Dynamic-partition INSERT OVERWRITE (`partitionOverwriteMode=
  * dynamic`) as a real V2 BatchWrite — Spark has no V1 fallback for
  * [[org.apache.spark.sql.connector.write.SupportsDynamicOverwrite]].
  * Each task fans its rows out to one hidden staged parquet per
  * touched leaf (the same [[GraftFanoutDataWriter]] the streaming sink
  * uses, so partition values render and validate identically), and the
  * driver's commit swaps EXACTLY the touched leaves: each one's whole
  * live set replaced by its staged files in one atomic
  * [[ManifestCommit.KindOverwrite]] commit (feed replay exact —
  * pre-overwrite-alive rows as deletes, staged rows as inserts). A
  * leaf the data never touches keeps its commit log unmoved; a leaf
  * born by the statement bootstraps its own log. Atomicity unit is
  * the LEAF — the per-leaf visibility contract every library
  * multi-leaf verb has; a crash mid-commit leaves earlier leaves
  * swapped and later files hidden-staged (gc-able). */
private[graft] class GraftDynamicOverwriteBatchWrite(path: String,
    ident: String, schema: StructType, partCols: Seq[String])
    extends org.apache.spark.sql.connector.write.BatchWrite {
  private val dataSchema = StructType(
    schema.fields.dropRight(partCols.length))

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory = {
    val conf = new org.apache.spark.util.SerializableConfiguration(
      SparkSession.active.sessionState.newHadoopConf())
    val (p, sch, pc) = (path, schema, partCols)
    new DataWriterFactory {
      override def createWriter(partitionId: Int,
          taskId: Long): DataWriter[InternalRow] =
        new GraftFanoutDataWriter(p, sch, pc, conf.value,
          s"dynovw-p$partitionId-t$taskId")
    }
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val dir = new Path(path)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staged = messages.collect { case m: GraftStagedFanout => m }
    val runId = java.util.UUID.randomUUID().toString.take(8)
    try {
      LeafPar.foreach(staged.flatMap(_.files).filter(_._4 > 0)
        .groupBy(_._1).toSeq.sortBy(_._1)) { case (rel, entries) =>
          val leaf = new Path(dir, rel)
          val born = !fs.exists(new Path(leaf, ManifestCommit.LogDirName))
          if (born) fs.mkdirs(leaf)
          ManifestCommit.bootstrap(fs, leaf)
          if (born) ManifestCommit.alterSchema(fs, leaf, dataSchema)
          val names = entries.zipWithIndex.map {
            case ((_, sd, file, _), i) =>
              val name = s"${ManifestCommit.CompactedPrefix}" +
                s"dynovw-$runId-$i.parquet"
              require(fs.rename(new Path(sd, file), new Path(leaf, name)),
                s"graft catalog: cannot move staged $file into $leaf")
              name
          }
          ManifestCommit.overwriteWithFiles(fs, leaf, names)
        }
    } finally staged.flatMap(_.files).map(_._2).distinct
      .foreach(d => fs.delete(new Path(d), true))
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val fs = new Path(path).getFileSystem(
      SparkSession.active.sparkContext.hadoopConfiguration)
    messages.foreach {
      case m: GraftStagedFanout =>
        m.files.map(_._2).distinct
          .foreach(d => fs.delete(new Path(d), true))
      case _ =>
    }
  }
}

/** `writeStream.toTable` on a PARTITIONED catalog table: each task
  * fans its rows out to one staged parquet file PER touched leaf
  * (partition values rendered to the Hive path exactly as the batch
  * insert renders them), and the driver's epoch commit lands each
  * touched leaf's files through THAT leaf's manifest log with
  * `(queryId, epochId)` as the leaf's transaction watermark. The
  * exactly-once unit is the LEAF: a crash between two leaf commits
  * replays the epoch, already-committed leaves no-op against their
  * watermark, and the remaining leaves commit — the same per-leaf
  * visibility contract every library multi-leaf verb has. A leaf born
  * by the stream bootstraps its own log and records the data schema,
  * so the feed twins adopt it with no listing heuristics. */
private[graft] class GraftPartitionedStreamingWrite(path: String,
    ident: String, schema: StructType, partCols: Seq[String],
    queryId: String) extends StreamingWrite {
  private val dataSchema = StructType(
    schema.fields.dropRight(partCols.length))

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory = {
    val conf = new org.apache.spark.util.SerializableConfiguration(
      SparkSession.active.sessionState.newHadoopConf())
    val (p, sch, pc) = (path, schema, partCols)
    new StreamingDataWriterFactory {
      override def createWriter(partitionId: Int, taskId: Long,
          epochId: Long): DataWriter[InternalRow] =
        new GraftFanoutDataWriter(p, sch, pc, conf.value,
          s"e$epochId-p$partitionId-t$taskId")
    }
  }

  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val dir = new Path(path)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staged = messages.collect { case m: GraftStagedFanout => m }
    def dropStaging(): Unit = staged.flatMap(_.files)
      .map(_._2).distinct.foreach(d => fs.delete(new Path(d), true))
    try {
      val qid = queryId.replaceAll("[^A-Za-z0-9]", "").take(8)
      staged.flatMap(_.files).filter(_._4 > 0)
        .groupBy(_._1).toSeq.sortBy(_._1).foreach { case (rel, entries) =>
          val leaf = new Path(dir, rel)
          // the leaf's own watermark: a replayed epoch no-ops HERE
          // even when a crash left sibling leaves uncommitted
          if (!ManifestCommit.lastTxnVersion(fs, leaf, queryId)
              .exists(_ >= epochId)) {
            val born = !fs.exists(
              new Path(leaf, ManifestCommit.LogDirName))
            if (born) fs.mkdirs(leaf)
            ManifestCommit.bootstrap(fs, leaf)
            if (born) ManifestCommit.alterSchema(fs, leaf, dataSchema)
            val names = entries.zipWithIndex.map {
              case ((_, sd, file, _), i) =>
                val name = s"${ManifestCommit.CompactedPrefix}" +
                  s"stream-$qid-e$epochId-$i.parquet"
                val dst = new Path(leaf, name)
                if (fs.exists(dst)) { // crashed-replay orphan (see
                  // GraftStreamingWrite.commit — same recovery); the
                  // manifest is re-read HERE, after the orphan is seen
                  // — a set snapshotted before the loop could go stale
                  // against a racing duplicate-query commit and this
                  // delete would destroy a manifest-referenced file.
                  // Orphans exist only on crash replay, so the extra
                  // read costs nothing on the normal path.
                  val manifested: Set[String] =
                    ManifestCommit.currentSnapshot(fs, leaf)
                      .map(_.files.toSet).getOrElse(Set.empty)
                  require(!manifested.contains(name),
                    s"graft catalog: epoch $epochId of $ident would " +
                      s"overwrite manifest-referenced $name in $rel — " +
                      "stop the duplicate query")
                  fs.delete(dst, false)
                }
                require(fs.rename(new Path(sd, file), dst),
                  s"graft catalog: cannot move staged $file into $leaf")
                name
            }
            ManifestCommit.appendFiles(fs, leaf, names,
              txn = Some((queryId, epochId)))
          }
        }
    } finally dropStaging()
  }

  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    val fs = new Path(path).getFileSystem(
      SparkSession.active.sparkContext.hadoopConfiguration)
    messages.foreach {
      case m: GraftStagedFanout =>
        m.files.map(_._2).distinct
          .foreach(d => fs.delete(new Path(d), true))
      case _ =>
    }
  }
}

/** Executor-side fan-out writer: routes each row to a per-leaf staged
  * parquet (lazy — a leaf is touched only when a row lands in it),
  * rendering partition values exactly as the batch insert's
  * partitionBy does. NULL or path-unsafe partition values refuse
  * loudly — a silently mangled leaf path would corrupt the layout. */
private[graft] class GraftFanoutDataWriter(path: String,
    schema: StructType, partCols: Seq[String],
    conf: org.apache.hadoop.conf.Configuration, tag: String)
    extends DataWriter[InternalRow] {
  import org.apache.spark.sql.types._
  private val dataSchema = StructType(
    schema.fields.dropRight(partCols.length))
  private val partSchema = StructType(
    schema.fields.takeRight(partCols.length))
  private val writers =
    scala.collection.mutable.LinkedHashMap.empty[String, GraftParquetDataWriter]

  // the one leaf renderer, its string check memoized per distinct value
  // so the per-row cost is one hash probe
  private val checkedVals = scala.collection.mutable.HashSet.empty[String]
  private def relOf(row: InternalRow): String =
    partSchema.fields.indices.map { j =>
      GraftSqlTable.leafSegment(partSchema(j), row, dataSchema.length + j,
        checkedVals)
    }.mkString("/")

  override def write(row: InternalRow): Unit = {
    val rel = relOf(row)
    val w = writers.getOrElseUpdate(rel,
      new GraftParquetDataWriter(path, dataSchema, conf,
        s"$tag-l${writers.size}"))
    // the data columns LEAD the row; the per-leaf writer materializes
    // exactly its own (data) schema prefix
    w.write(row)
  }

  override def commit(): WriterCommitMessage =
    GraftStagedFanout(writers.toSeq.map { case (rel, w) =>
      val m = w.commit().asInstanceOf[GraftStagedFile]
      (rel, m.stagingDir, m.file, m.rows)
    })
  override def abort(): Unit = writers.values.foreach(_.abort())
  override def close(): Unit = writers.values.foreach(_.close())
}

/** One staged parquet file a streaming-epoch task produced: the hidden
  * staging dir (swept if the epoch crashes), the file inside it, and
  * the row count (empty tasks stage nothing to commit). */
private[graft] case class GraftStagedFile(stagingDir: String,
    file: String, rows: Long) extends WriterCommitMessage

/** The streaming half of the SQL surface — `writeStream.toTable(t)`:
  * each task writes its rows as ONE parquet file into a hidden
  * `._compacting-stream-*` staging dir (the same swept prefix every
  * other crashed-stage residue uses); the driver's epoch commit renames
  * the files visible and appends them in ONE manifest commit carrying
  * `(queryId, epochId)` as the transaction watermark — so a replayed
  * epoch (crash between sink commit and checkpoint write) is a NO-OP
  * and the landed table is exactly-once with no sink metadata log.
  * Work per epoch ∝ the epoch's rows; concurrent library/SQL writers
  * serialize through the optimistic commit protocol as usual. */
private[graft] class GraftStreamingWrite(path: String, ident: String,
    schema: StructType, queryId: String) extends StreamingWrite {
  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory =
    new GraftStreamWriterFactory(path, schema,
      new org.apache.spark.util.SerializableConfiguration(
        SparkSession.active.sessionState.newHadoopConf()))

  private def fsOf = new Path(path).getFileSystem(
    SparkSession.active.sparkContext.hadoopConfiguration)

  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    val fs = fsOf
    val dir = new Path(path)
    val staged = messages.collect {
      case m: GraftStagedFile if m.rows > 0 => m
    }
    def dropStaging(): Unit = messages.collect {
      case m: GraftStagedFile =>
        fs.delete(new Path(m.stagingDir), true)
    }
    // the txn watermark check appendFiles would do, surfaced early so
    // a replayed epoch never moves files at all
    if (ManifestCommit.lastTxnVersion(fs, dir, queryId)
        .exists(_ >= epochId)) {
      dropStaging()
      return
    }
    if (staged.isEmpty) {
      // an empty epoch still advances the watermark — a replay of it
      // must stay a no-op even if a later non-empty epoch crashed
      ManifestCommit.appendFiles(fs, dir, Nil,
        txn = Some((queryId, epochId)))
      dropStaging()
      return
    }
    val qid = queryId.replaceAll("[^A-Za-z0-9]", "").take(8)
    // crash-replay recovery: a previous attempt at THIS epoch may have
    // renamed some files visible and died before appendFiles — the txn
    // watermark above says the epoch never committed, so a same-named
    // destination is that attempt's orphan (deterministic replay of the
    // same rows), UNLESS the manifest references it (a different query
    // instance won the race) — then this replay must refuse, not
    // clobber committed data. Without the sweep, fs.rename returns
    // false on the existing destination and the query wedges on every
    // retry until gc's grace period. The manifest is re-read PER
    // orphan, after fs.exists sees it — a set snapshotted before the
    // loop could go stale against a racing duplicate-query commit and
    // the delete below would destroy a manifest-referenced file;
    // orphans exist only on crash replay, so the extra read costs
    // nothing on the normal path.
    val names = staged.zipWithIndex.map { case (m, i) =>
      val name =
        s"${ManifestCommit.CompactedPrefix}stream-$qid-e$epochId-$i.parquet"
      val dst = new Path(dir, name)
      if (fs.exists(dst)) {
        val manifested: Set[String] =
          ManifestCommit.currentSnapshot(fs, dir)
            .map(_.files.toSet).getOrElse(Set.empty)
        require(!manifested.contains(name),
          s"graft catalog: epoch $epochId of $ident would overwrite " +
            s"manifest-referenced $name — another writer with query id " +
            s"$queryId committed it; stop the duplicate query")
        fs.delete(dst, false) // un-manifested orphan of a crashed replay
      }
      require(fs.rename(new Path(m.stagingDir, m.file), dst),
        s"graft catalog: cannot move staged ${m.file} into $path")
      name
    }
    ManifestCommit.appendFiles(fs, dir, names.toSeq,
      txn = Some((queryId, epochId)))
    dropStaging()
  }

  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    val fs = fsOf
    messages.foreach {
      case m: GraftStagedFile => fs.delete(new Path(m.stagingDir), true)
      case _ =>
    }
  }
}

private[graft] class GraftStreamWriterFactory(path: String,
    schema: StructType,
    conf: org.apache.spark.util.SerializableConfiguration)
    extends StreamingDataWriterFactory with DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new GraftParquetDataWriter(path, schema, conf.value,
      s"e$epochId-p$partitionId-t$taskId")
  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] =
    new GraftParquetDataWriter(path, schema, conf.value,
      s"b-p$partitionId-t$taskId")
}

/** Executor-side parquet writer over the Group API — the write twin of
  * [[graft.sources.FeedReaderFactory]]'s reader (same scalar surface:
  * the types SQL DDL can declare on this catalog). Lazy: an empty task
  * never creates a file. */
private[graft] class GraftParquetDataWriter(path: String,
    schema: StructType, conf: org.apache.hadoop.conf.Configuration,
    tag: String) extends DataWriter[InternalRow] {
  import org.apache.parquet.example.data.simple.SimpleGroupFactory
  import org.apache.parquet.hadoop.example.ExampleParquetWriter
  import org.apache.parquet.io.api.Binary
  import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
  import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
  import org.apache.spark.sql.types._

  private def primOf(dt: DataType, col: String) = dt match {
    case LongType    => Types.optional(INT64)
    case IntegerType => Types.optional(INT32)
    case DoubleType  => Types.optional(DOUBLE)
    case FloatType   => Types.optional(FLOAT)
    case BooleanType => Types.optional(BOOLEAN)
    case StringType  =>
      Types.optional(BINARY).as(LogicalTypeAnnotation.stringType())
    case o => sys.error("graft catalog: streaming writes support the " +
      s"scalar SQL surface plus array<scalar>; column $col is $o")
  }

  private val messageType = {
    val b = Types.buildMessage()
    schema.fields.foreach { f =>
      f.dataType match {
        // Spark's standard 3-level LIST encoding (list/element) — the
        // shape FeedReaderFactory and the stock vectorized reader both
        // decode, so a stream-sunk embeddings table reads identically
        // to its batch twin
        case ArrayType(et, _) =>
          b.addField(Types.optionalGroup()
            .as(LogicalTypeAnnotation.listType())
            .addField(Types.repeatedGroup()
              .addField(primOf(et, s"${f.name}[]").named("element"))
              .named("list"))
            .named(f.name))
        case dt => b.addField(primOf(dt, f.name).named(f.name))
      }
    }
    b.named("spark_schema")
  }
  private val groups = new SimpleGroupFactory(messageType)
  private val stagingDir = new Path(path,
    s"._compacting-stream-$tag-${java.util.UUID.randomUUID.toString.take(8)}")
  private val fileName = "part.parquet"
  private var rows = 0L
  private lazy val writer = ExampleParquetWriter
    .builder(new Path(stagingDir, fileName))
    .withConf(conf).withType(messageType).build()

  override def write(row: InternalRow): Unit = {
    val g = groups.newGroup()
    var i = 0
    while (i < schema.fields.length) {
      val f = schema.fields(i)
      if (!row.isNullAt(i)) f.dataType match {
        case LongType    => g.add(f.name, row.getLong(i))
        case IntegerType => g.add(f.name, row.getInt(i))
        case DoubleType  => g.add(f.name, row.getDouble(i))
        case FloatType   => g.add(f.name, row.getFloat(i))
        case BooleanType => g.add(f.name, row.getBoolean(i))
        case StringType  =>
          g.add(f.name, Binary.fromString(row.getUTF8String(i).toString))
        case ArrayType(et, _) =>
          val arr = row.getArray(i)
          val lst = g.addGroup(f.name)
          var j = 0
          while (j < arr.numElements()) {
            val el = lst.addGroup("list")
            if (!arr.isNullAt(j)) et match {
              case LongType    => el.add("element", arr.getLong(j))
              case IntegerType => el.add("element", arr.getInt(j))
              case DoubleType  => el.add("element", arr.getDouble(j))
              case FloatType   => el.add("element", arr.getFloat(j))
              case BooleanType => el.add("element", arr.getBoolean(j))
              case StringType  => el.add("element",
                Binary.fromString(arr.getUTF8String(j).toString))
              case _ => () // unreachable: messageType refused
            }
            j += 1
          }
        case _ => () // unreachable: messageType construction refused
      }
      i += 1
    }
    writer.write(g)
    rows += 1
  }

  override def commit(): WriterCommitMessage = {
    if (rows > 0) writer.close()
    GraftStagedFile(stagingDir.toString, fileName, rows)
  }
  override def abort(): Unit = {
    if (rows > 0) writer.close()
    stagingDir.getFileSystem(conf).delete(stagingDir, true)
    ()
  }
  override def close(): Unit = ()
}
