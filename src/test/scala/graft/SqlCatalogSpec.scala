package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.lake.{GraftFileIndex, ManifestCommit}

/** The SQL-native lake surface: CREATE/INSERT/SELECT/ALTER through a
  * plain `spark.sql` session flow through the manifest commit protocol
  * and stay interchangeable with the library path. */
class SqlCatalogSpec extends SparkSpec {
  import spark.implicits._

  private def sqlSession(warehouse: String) = {
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "2")
    ss.conf.set("spark.sql.catalog.g", "graft.lake.GraftCatalog")
    ss.conf.set("spark.sql.catalog.g.warehouse", warehouse)
    ss
  }

  test("CREATE + INSERT + SELECT through plain SQL == the library read; " +
      "the insert is one atomic manifest commit") {
    val wh = Files.createTempDirectory("graft-sqlcat").toString
    val ss = sqlSession(wh)
    ss.sql("CREATE NAMESPACE g.db")
    ss.sql("CREATE TABLE g.db.t (k BIGINT, v DOUBLE)")
    // the declared schema is RECORDED at create: open is one manifest
    // GET, no footer inference, even before any data lands
    val dir = new Path(s"$wh/db/t")
    val fs = dir.getFileSystem(ss.sparkContext.hadoopConfiguration)
    assert(ManifestCommit.currentSchema(fs, dir).map(_.fieldNames.toSeq)
      .contains(Seq("k", "v")))
    ss.range(100).select($"id".as("k"), ($"id" * 0.5).as("v"))
      .createOrReplaceTempView("src")
    ss.sql("INSERT INTO g.db.t SELECT k, v FROM src")
    ss.sql("INSERT INTO g.db.t SELECT k + 100, v FROM src")
    // SQL read == library read (the manifest is the one source of truth)
    val viaSql = ss.sql("SELECT k, v FROM g.db.t").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    val viaLib = GraftFileIndex.table(ss, dir.toString)
      .collect().map(r => (r.getAs[Long]("k"), r.getAs[Double]("v"))).toSet
    assert(viaSql == viaLib && viaSql.size == 200)
    // each insert was ONE commit (history: bootstrap + schema + 2 appends)
    val kinds = ManifestCommit.history(ss, dir).collect()
      .map(_.getString(1)).toSeq
    assert(kinds.count(_ == "append") >= 2, s"history kinds: $kinds")
    // column pruning reaches the reader: a 1-column projection's scan
    // schema is 1 field
    val plan = ss.sql("SELECT k FROM g.db.t").queryExecution
      .executedPlan.toString
    assert(plan.contains("graft-sql"), plan)
    assert(ss.sql("SELECT k FROM g.db.t").collect().length == 200)
  }

  test("a table created by LIBRARY calls reads through SQL, and a SQL " +
      "table accepts library commits — one format, two surfaces") {
    val wh = Files.createTempDirectory("graft-sqlcat2").toString
    val ss = sqlSession(wh)
    val dir = new Path(s"$wh/lib_t")
    val fs = dir.getFileSystem(ss.sparkContext.hadoopConfiguration)
    graft.ops.Layout.writeLinear(
      spark.range(50).select($"id".as("k"), ($"id" % 5).as("g")),
      col("k"), dir.toString, 2)
    ManifestCommit.bootstrap(fs, dir)
    ManifestCommit.recordSchema(spark, dir)
    assert(ss.sql("SELECT sum(k) AS s FROM g.lib_t").head.getLong(0)
      == (0 until 50).sum)
    // library append lands; SQL sees it without any refresh verb
    ManifestCommit.stageAndPublish(ss, dir,
      ss.range(10).select(($"id" + 100).as("k"), ($"id" % 5).as("g")),
      _ => true).getOrElse(fail("publish"))
    assert(ss.sql("SELECT count(*) AS n FROM g.lib_t").head.getLong(0)
      == 60L)
  }

  test("ALTER surface: additive ADD reads NULL from pre-evolution " +
      "files; DROP works (round 15) but the name stays retired") {
    val wh = Files.createTempDirectory("graft-sqlcat3").toString
    val ss = sqlSession(wh)
    ss.sql("CREATE TABLE g.t2 (k BIGINT, v BIGINT)")
    ss.range(20).select($"id".as("k"), ($"id" * 2).as("v"))
      .createOrReplaceTempView("src2")
    ss.sql("INSERT INTO g.t2 SELECT k, v FROM src2")
    // additive ALTER evolves the recorded schema; the new column reads
    // NULL from pre-evolution files
    ss.sql("ALTER TABLE g.t2 ADD COLUMN w DOUBLE")
    assert(ss.sql("SELECT w FROM g.t2").collect().forall(_.isNullAt(0)))
    // DROP COLUMN is metadata-only since round 15 — and the dropped
    // name is retired forever (old files still carry its bytes)
    ss.sql("ALTER TABLE g.t2 DROP COLUMN v")
    assert(ss.table("g.t2").schema.fieldNames.toSeq == Seq("k", "w"))
    val e2 = intercept[Exception](
      ss.sql("ALTER TABLE g.t2 ADD COLUMN v BIGINT"))
    assert(e2.getMessage.contains("retired"), e2.getMessage)
    // FIRST/AFTER positions refuse loudly — added columns append
    val e3 = intercept[Exception](
      ss.sql("ALTER TABLE g.t2 ADD COLUMN z BIGINT AFTER k"))
    assert(e3.getMessage.contains("FIRST/AFTER"), e3.getMessage)
  }

  test("DELETE FROM lands as one deletion-vector commit; SQL reads are " +
      "merge-on-read (library DVs subtract too); loose predicates refuse") {
    val wh = Files.createTempDirectory("graft-sqlcat4").toString
    val ss = sqlSession(wh)
    ss.sql("CREATE TABLE g.t3 (k BIGINT, v BIGINT)")
    ss.range(40).select($"id".as("k"), ($"id" * 2).as("v"))
      .createOrReplaceTempView("src3")
    ss.sql("INSERT INTO g.t3 SELECT k, v FROM src3")
    val dir = new Path(s"$wh/t3")
    val fs = dir.getFileSystem(ss.sparkContext.hadoopConfiguration)
    val filesBefore = ManifestCommit.currentSnapshot(fs, dir).get.files
    // DELETE through SQL: one positional-sidecar commit, the live file
    // set untouched (O(deleted rows) write amplification)
    ss.sql("DELETE FROM g.t3 WHERE k >= 10 AND k <= 19")
    assert(ManifestCommit.currentSnapshot(fs, dir).get.files
      == filesBefore, "a DV delete must not move data files")
    assert(ManifestCommit.currentDvs(fs, dir).nonEmpty)
    // the SQL read subtracts the sidecar positions inside the readers
    val got = ss.sql("SELECT k FROM g.t3").collect()
      .map(_.getLong(0)).toSet
    assert(got == ((0L to 9L) ++ (20L to 39L)).toSet, s"got=$got")
    // ... and equals the library merge-on-read read bit for bit
    assert(got == GraftFileIndex.table(ss, dir.toString)
      .collect().map(_.getAs[Long]("k")).toSet)
    // a second SQL delete composes with the first's sidecar
    ss.sql("DELETE FROM g.t3 WHERE k = 25")
    assert(ss.sql("SELECT count(*) AS n FROM g.t3").head.getLong(0) == 29L)
    // a disjunction is beyond the RANGE shape but (since round 15)
    // lands through the arbitrary-predicate DV path on this keyless
    // table — one positional sidecar, k=2 (v=4 names the same row) dies
    ss.sql("DELETE FROM g.t3 WHERE v = 4 OR k = 2")
    assert(ss.sql("SELECT count(*) AS n FROM g.t3").head.getLong(0) == 28L)
    // a predicate Spark cannot translate to source filters still
    // refuses loudly instead of under-deleting
    val e = intercept[Exception](
      ss.sql("DELETE FROM g.t3 WHERE k % 3 = 0"))
    assert(e.getMessage != null)
    assert(ss.sql("SELECT count(*) AS n FROM g.t3").head.getLong(0) == 28L,
      "a refused delete must delete nothing")
  }

  test("writeStream.toTable: epochs land as txn-watermarked manifest " +
      "commits — exactly-once, resumable, no sink metadata log") {
    import org.apache.spark.sql.streaming.Trigger
    val wh = Files.createTempDirectory("graft-sqlcat7").toString
    val ss = sqlSession(wh)
    // a library source lake whose change feed drives the stream
    val src = new Path(s"$wh/srclake")
    val fs = src.getFileSystem(ss.sparkContext.hadoopConfiguration)
    graft.ops.Layout.writeLinear(
      ss.range(60).select($"id".as("k"), ($"id" * 2).as("v")),
      col("k"), src.toString, 2)
    ManifestCommit.bootstrap(fs, src)
    ManifestCommit.recordStats(ss, src, Seq("k"))
    ManifestCommit.recordSchema(ss, src)
    val ckpt = Files.createTempDirectory("graft-sqlcat7-ck").toString
    ss.sql("CREATE NAMESPACE g.db")
    ss.sql("CREATE TABLE g.db.sunk (k BIGINT, v BIGINT)")
    def run(): Unit = ss.readStream
      .format("graft.sources.FeedSource")
      .option("path", src.toString).option("bootstrap", "true")
      .load().select($"k", $"v")
      .writeStream.option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .toTable("g.db.sunk").awaitTermination()
    run()
    def ks = ss.sql("SELECT k FROM g.db.sunk").collect()
      .map(_.getLong(0)).toSeq.sorted
    assert(ks == (0L to 59L), s"landed ${ks.size} rows")
    // restart against the same checkpoint with nothing new: no batch
    // re-lands, no duplicates
    run()
    assert(ks == (0L to 59L), "an idle restart must append nothing")
    // the source advances; the resumed stream lands exactly the delta,
    // and the sink table's history shows pure appends with the query's
    // txn watermark (no rewrites, no side metadata)
    ManifestCommit.stageAndPublish(ss, src,
      ss.range(5).select(($"id" + 100).as("k"), ($"id" * 2).as("v")),
      _ => true, statsCols = Seq("k")).getOrElse(fail("publish"))
    run()
    assert(ks == ((0L to 59L) ++ (100L to 104L)), s"after delta: $ks")
    val sunk = new Path(s"$wh/db/sunk")
    assert(ManifestCommit.currentTxns(fs, sunk).nonEmpty,
      "the epoch watermark must ride the sink table's manifest")
    val kinds = ManifestCommit.history(ss, sunk).collect()
      .map(r => (r.getString(1), r.getLong(3))).toSeq
    assert(kinds.filter(_._1 == "append").forall(_._2 == 0L),
      s"streaming epochs must be pure appends: $kinds")
    // crash-shaped replay: a manual duplicate epoch commit (same query
    // id, same epoch) must no-op against the watermark
    val before = ManifestCommit.currentSnapshot(fs, sunk).get
    val qid = ManifestCommit.currentTxns(fs, sunk).keys.head
    val lastEpoch = ManifestCommit.currentTxns(fs, sunk)(qid)
    ManifestCommit.appendFiles(fs, sunk, Nil,
      txn = Some((qid, lastEpoch)))
    assert(ManifestCommit.currentSnapshot(fs, sunk).get.version
      == before.version, "a replayed epoch must be a no-op commit")
  }

  test("readStream.table: snapshot-then-tail as an append stream with " +
      "commit-version offsets; a row-mutating commit refuses loudly") {
    import org.apache.spark.sql.streaming.Trigger
    val wh = Files.createTempDirectory("graft-sqlcat8").toString
    val ss = sqlSession(wh)
    ss.sql("CREATE TABLE g.rt (k BIGINT, v BIGINT)")
    ss.range(25).select($"id".as("k"), ($"id" * 2).as("v"))
      .createOrReplaceTempView("src8")
    ss.sql("INSERT INTO g.rt SELECT k, v FROM src8")
    val ckpt = Files.createTempDirectory("graft-sqlcat8-ck").toString
    val seen = java.util.Collections.synchronizedList(
      new java.util.ArrayList[Long]())
    def run(): Unit = ss.readStream.table("g.rt")
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.select("k").collect().foreach(r => seen.add(r.getLong(0)))
        ()
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    run()
    def ks = {
      import scala.jdk.CollectionConverters._
      seen.asScala.toSeq.sorted
    }
    assert(ks == (0L to 24L), s"snapshot batch: ${ks.size} rows")
    // new INSERT while the consumer is down: the resumed checkpoint
    // tails exactly the delta (offsets are commit versions)
    ss.sql("INSERT INTO g.rt SELECT k + 100, v FROM src8")
    run()
    assert(ks == ((0L to 24L) ++ (100L to 124L)), s"after tail: $ks")
    // a DV delete lands: the append-only table stream must refuse the
    // retraction, naming the change-feed consumer
    ss.sql("DELETE FROM g.rt WHERE k = 3")
    val e = intercept[Exception](run())
    val msg = Option(e.getCause).fold(e.getMessage)(c =>
      e.getMessage + " " + c.getMessage)
    assert(msg.contains("change feed"), msg)
  }

  test("VERSION AS OF: the pre-delete snapshot reads whole, the schema " +
      "is as recorded then, pinned versions are read-only, and a pruned " +
      "version refuses") {
    val wh = Files.createTempDirectory("graft-sqlcat6").toString
    val ss = sqlSession(wh)
    ss.sql("CREATE TABLE g.tt (k BIGINT, v BIGINT)")
    ss.range(30).select($"id".as("k"), ($"id" * 2).as("v"))
      .createOrReplaceTempView("src6")
    ss.sql("INSERT INTO g.tt SELECT k, v FROM src6")
    val dir = new Path(s"$wh/tt")
    val fs = dir.getFileSystem(ss.sparkContext.hadoopConfiguration)
    val vLoaded = ManifestCommit.currentSnapshot(fs, dir).get.version
    ss.sql("DELETE FROM g.tt WHERE k >= 10 AND k <= 29")
    ss.sql("ALTER TABLE g.tt ADD COLUMN w DOUBLE")
    // live head: 10 rows, 3 columns; pinned version: all 30 rows and
    // NO w column — the schema is the one recorded at that version
    assert(ss.sql("SELECT count(*) AS n FROM g.tt").head.getLong(0) == 10L)
    val old = ss.sql(s"SELECT * FROM g.tt VERSION AS OF $vLoaded")
    assert(old.columns.toSeq == Seq("k", "v"),
      s"later-added columns must not surface: ${old.columns.toSeq}")
    assert(old.count() == 30L)
    // a time-travel read BETWEEN two DV states: delete half the range,
    // travel back across it
    val vAfterDelete = ManifestCommit.currentSnapshot(fs, dir).get.version
    ss.sql("DELETE FROM g.tt WHERE k = 5")
    assert(ss.sql(s"SELECT count(*) AS n FROM g.tt " +
      s"VERSION AS OF $vAfterDelete").head.getLong(0) == 10L)
    assert(ss.sql("SELECT count(*) AS n FROM g.tt").head.getLong(0) == 9L)
    // pinned versions are immutable: writes and deletes refuse
    val e1 = intercept[Exception](ss.sql(
      s"DELETE FROM g.tt VERSION AS OF $vLoaded WHERE k = 1"))
    assert(e1.getMessage != null)
    // a pruned version refuses loudly, naming the horizon
    ManifestCommit.pruneLog(fs, dir, keepLast = 1)
    val e2 = intercept[Exception](
      ss.sql(s"SELECT * FROM g.tt VERSION AS OF $vLoaded").collect())
    assert(e2.getMessage.contains("pruned"), e2.getMessage)
  }

  test("long-range predicates prune FILES via the manifest's recorded " +
      "per-file stats — a key-clustered table scans one file, not all") {
    val wh = Files.createTempDirectory("graft-sqlcat5").toString
    val ss = sqlSession(wh)
    // a key-clustered library table (8 files, recorded stats) read
    // through SQL with a point predicate
    val dir = new Path(s"$wh/clustered")
    graft.ops.Layout.writeLinear(
      ss.range(800).select($"id".as("k"), ($"id" % 7).as("g")),
      col("k"), dir.toString, 8)
    val fs = dir.getFileSystem(ss.sparkContext.hadoopConfiguration)
    ManifestCommit.bootstrap(fs, dir)
    ManifestCommit.recordStats(ss, dir, Seq("k"))
    ManifestCommit.recordSchema(ss, dir)
    val q = ss.sql("SELECT g FROM g.clustered WHERE k = 400")
    assert(q.collect().map(_.getLong(0)).toSeq == Seq(400L % 7))
    // the executed scan planned ONE file-partition, not eight: the
    // stats pruning reached the DSv2 scan (leaf partition count == RDD
    // partition count == files planned)
    val scanParts = q.queryExecution.executedPlan.collectLeaves()
      .head.execute().getNumPartitions
    assert(scanParts == 1, s"expected 1 pruned file partition, " +
      s"got $scanParts")
    // recorded blooms close the gap stats leave: a point probe for a
    // value inside a file's [min, max] but absent from the data prunes
    // to ZERO partitions (GraftFileIndex's bloom pruning, behind SQL)
    graft.ops.Layout.writeLinear(
      ss.range(100).select(($"id" * 10).as("k"), ($"id" % 7).as("g")),
      col("k"), s"$wh/bloomed", 2)
    val bdir = new Path(s"$wh/bloomed")
    ManifestCommit.bootstrap(fs, bdir)
    ManifestCommit.recordStats(ss, bdir, Seq("k"))
    ManifestCommit.recordSchema(ss, bdir)
    ManifestCommit.recordBlooms(ss, bdir, "k")
    val q2 = ss.sql("SELECT g FROM g.bloomed WHERE k = 15") // in range, absent
    assert(q2.collect().isEmpty)
    val parts2 = q2.queryExecution.executedPlan.collectLeaves()
      .head.execute().getNumPartitions
    assert(parts2 == 0,
      s"a bloom-rejected point probe must plan zero files, got $parts2")
    // an IN list is pushed and probes the same stats and blooms: both
    // values sit inside a file's [min, max], neither is in the data
    val q3 = ss.sql("SELECT g FROM g.bloomed WHERE k IN (15, 25)")
    assert(q3.collect().isEmpty)
    val parts3 = q3.queryExecution.executedPlan.collectLeaves()
      .head.execute().getNumPartitions
    assert(parts3 == 0,
      s"a bloom-rejected IN list must plan zero files, got $parts3")
  }

  test("streaming sink crash-replay: a visible un-manifested orphan " +
      "from a crashed epoch (renamed before appendFiles, died) is " +
      "swept and the replayed epoch commits; a MANIFESTED same-name " +
      "file (duplicate query instance) refuses loudly") {
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import graft.lake.{GraftParquetDataWriter, GraftStagedFile, GraftStreamingWrite}
    val wh = Files.createTempDirectory("graft-sqlcat-orph").toString
    val ss = sqlSession(wh)
    ss.sql("CREATE TABLE g.orph (k BIGINT, v BIGINT)")
    val dir = new Path(s"$wh/orph")
    val fs = dir.getFileSystem(ss.sparkContext.hadoopConfiguration)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.LongType)))
    val conf = ss.sessionState.newHadoopConf()
    val queryId = "abc-123xyz99queryA"
    def stage(k: Long): GraftStagedFile = {
      val w = new GraftParquetDataWriter(dir.toString, schema, conf, "t0")
      w.write(new GenericInternalRow(Array[Any](k, k * 2)))
      w.commit().asInstanceOf[GraftStagedFile]
    }
    // the crashed FIRST attempt: its rename landed, appendFiles did not
    // — a visible, un-manifested orphan at the deterministic name
    val orphan = new Path(dir, "compact-stream-abc123xy-e0-0.parquet")
    val out = fs.create(orphan, true)
    out.write("torn bytes of the crashed attempt".getBytes("UTF-8"))
    out.close()
    // the replayed epoch: txn watermark says e0 never committed, the
    // destination exists — round 13 wedged here (rename returns false
    // on an existing destination, require fails, every retry too)
    new GraftStreamingWrite(dir.toString, "g.orph", schema, queryId)
      .commit(0L, Array(stage(7L)))
    val got = ss.sql("SELECT k, v FROM g.orph").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((7L, 14L)), s"replayed epoch must land once: $got")
    // a DIFFERENT query instance whose sanitized id collides on the
    // same file name: the name is MANIFESTED now — clobbering it would
    // destroy committed data; the commit must refuse, not delete
    val queryB = "abc123-xyz99queryB" // same first-8 alphanumerics
    val e = intercept[Exception] {
      new GraftStreamingWrite(dir.toString, "g.orph", schema, queryB)
        .commit(0L, Array(stage(8L)))
    }
    assert(e.getMessage.contains("manifest-referenced"), e.getMessage)
    assert(ss.sql("SELECT k FROM g.orph").collect()
      .map(_.getLong(0)).toSet == Set(7L),
      "the committed row must survive the duplicate writer")
  }

  test("writeStream.toTable with ARRAY columns: an embeddings-shaped " +
      "table streams in and reads back equal to its batch twin") {
    import org.apache.spark.sql.streaming.Trigger
    val wh = Files.createTempDirectory("graft-sqlcat-arr").toString
    val ss = sqlSession(wh)
    val src = new Path(s"$wh/srcemb")
    val fs = src.getFileSystem(ss.sparkContext.hadoopConfiguration)
    val data = ss.range(12).select($"id".as("k"),
      array(($"id" * 1.5).cast("float"), ($"id" + 0.25).cast("float"),
        lit(null).cast("float")).as("emb"),
      array($"id", $"id" * 10).as("dims"))
    graft.ops.Layout.writeLinear(data, col("k"), src.toString, 2)
    ManifestCommit.bootstrap(fs, src)
    ManifestCommit.recordSchema(ss, src)
    ss.sql("CREATE TABLE g.emb (k BIGINT, emb ARRAY<FLOAT>, " +
      "dims ARRAY<BIGINT>)")
    val ckpt = Files.createTempDirectory("graft-sqlcat-arr-ck").toString
    ss.readStream.format("graft.sources.FeedSource")
      .option("path", src.toString).option("bootstrap", "true")
      .load().select($"k", $"emb", $"dims")
      .writeStream.option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .toTable("g.emb").awaitTermination()
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select($"k", $"emb", $"dims").collect()
      .map(r => (r.getLong(0), r.getSeq[java.lang.Float](1).toList,
        r.getSeq[Long](2).toList)).toSet
    assert(canon(ss.sql("SELECT * FROM g.emb")) == canon(data),
      "stream-sunk array table must equal its batch twin")
  }

  test("SQL batch scans are VECTORIZED: a DV-free table reads through " +
      "the stock columnar parquet factory (ColumnarToRow in the plan, " +
      "byte-range-split partitions), and a DV-touched table falls back " +
      "to the row tier for exactly the sidecar-named files") {
    val wh = Files.createTempDirectory("graft-sqlcat-vec").toString
    val ss = sqlSession(wh)
    ss.sql("CREATE TABLE g.vec (k BIGINT, v BIGINT)")
    ss.range(5000).select($"id".as("k"), ($"id" * 2).as("v"))
      .createOrReplaceTempView("vsrc")
    ss.sql("INSERT INTO g.vec SELECT * FROM vsrc")
    val df = ss.sql("SELECT k, v FROM g.vec WHERE k >= 10")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ColumnarToRow"),
      s"DV-free SQL scan must be columnar; plan was:\n$plan")
    assert(df.count() == 4990)
    // DELETE lands a DV sidecar: the scan must stay correct (the
    // touched files take the row-index-counting Group tier; the scan
    // is uniformly row-based now, as Spark demands) and never
    // resurrect the deleted rows
    ss.sql("DELETE FROM g.vec WHERE k >= 100 AND k <= 199")
    val after = ss.sql("SELECT count(*) AS n, sum(k) AS s FROM g.vec")
      .collect()(0)
    val want = (0L until 5000L).filterNot(k => k >= 100 && k <= 199)
    assert(after.getLong(0) == want.size && after.getLong(1) == want.sum,
      s"merge-on-read SQL scan wrong after DELETE: $after")
    val planDv = ss.sql("SELECT k FROM g.vec").queryExecution
      .executedPlan.toString
    assert(!planDv.contains("ColumnarToRow"),
      "a DV-touched scan must report row partitions uniformly")
    // compaction returns the table to the fast tier
    graft.lake.ManifestCommit.applyDvs(ss, new Path(s"$wh/vec"))
    val planBack = ss.sql("SELECT k FROM g.vec").queryExecution
      .executedPlan.toString
    assert(planBack.contains("ColumnarToRow"),
      "after applyDvs the scan must be columnar again")
    assert(ss.sql("SELECT count(*) FROM g.vec").collect()(0).getLong(0)
      == want.size)
  }

  test("PARTITIONED BY: CREATE/INSERT/SELECT on a Hive-leaf table — " +
      "each leaf its own commit log, partition predicates prune whole " +
      "leaves at planning, interop with the library's table feed") {
    val wh = Files.createTempDirectory("graft-sqlcat-part").toString
    val ss = sqlSession(wh)
    ss.sql("CREATE TABLE g.pt (k BIGINT, v BIGINT, day INT) " +
      "PARTITIONED BY (day)")
    ss.range(300).select($"id".as("k"), ($"id" * 2).as("v"),
        ($"id" % 3 + 1).cast("int").as("day"))
      .createOrReplaceTempView("psrc")
    ss.sql("INSERT INTO g.pt SELECT * FROM psrc")
    // leaves carry their own commit logs (manifest-native layout)
    val fs = new Path(wh).getFileSystem(ss.sparkContext.hadoopConfiguration)
    (1 to 3).foreach { d =>
      assert(fs.exists(new Path(s"$wh/pt/day=$d/_graft_log")),
        s"leaf day=$d must own a commit log")
    }
    val all = ss.sql("SELECT k, v, day FROM g.pt").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(all == (0L until 300L).map(k =>
      (k, k * 2, (k % 3 + 1).toInt)).toSet, s"got ${all.size} rows")
    // partition pruning: a day=2 predicate plans ONLY that leaf's files
    val q = ss.sql("SELECT k FROM g.pt WHERE day = 2")
    assert(q.collect().map(_.getLong(0)).toSet ==
      (0L until 300L).filter(_ % 3 == 1).toSet)
    // count planned FILES (bin-packing can coalesce partitions): the
    // day=2 scan must touch only that leaf's files
    def plannedFiles(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.inputPartitions.flatMap {
            case f: org.apache.spark.sql.execution.datasources.FilePartition =>
              f.files.map(_.filePath.toString).toSeq
            case _ => Nil
          }
      }.flatten.distinct
    val prunedF = plannedFiles(q)
    val allF = plannedFiles(ss.sql("SELECT k FROM g.pt"))
    assert(prunedF.nonEmpty && prunedF.size < allF.size,
      s"day=2 must plan fewer files (${prunedF.size}) than the full " +
        s"scan (${allF.size})")
    assert(prunedF.forall(_.contains("day=2")),
      s"pruned plan must touch only day=2 files: $prunedF")
    // vectorized: partitioned SQL scans are columnar too
    assert(q.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
      "partitioned SQL scan must be columnar")
    // second insert APPENDS into existing leaves (new commits, same
    // logs) and the library's batch change feed replays exactly it
    val cursors0 = graft.lake.ChangeFeed.tableCursors(ss, s"$wh/pt")
    ss.sql("INSERT INTO g.pt SELECT k + 1000, v, day FROM psrc")
    assert(ss.sql("SELECT count(*) FROM g.pt").collect()(0).getLong(0)
      == 600)
    val feed = graft.lake.ChangeFeed.changeFeedTable(ss, s"$wh/pt",
      cursors0)
    assert(feed.count() == 300,
      "library feed must replay exactly the second SQL insert")
    // DELETE a data-column range fans out per leaf as DV commits
    ss.sql("DELETE FROM g.pt WHERE k >= 0 AND k <= 9")
    assert(ss.sql("SELECT count(*) FROM g.pt").collect()(0).getLong(0)
      == 590)
    // partition-column delete refuses loudly (whole-leaf drop = library)
    val e = intercept[Exception](ss.sql("DELETE FROM g.pt WHERE day = 2"))
    assert(e.getMessage.contains("Cannot delete"), e.getMessage)
  }

  test("readStream.table on a PARTITIONED table: per-leaf snapshot " +
      "then tail, and a leaf born mid-stream enters with no restart") {
    import org.apache.spark.sql.streaming.Trigger
    val wh = Files.createTempDirectory("graft-sqlcat-pstream").toString
    val ss = sqlSession(wh)
    ss.sql("CREATE TABLE g.ps (k BIGINT, day INT) PARTITIONED BY (day)")
    ss.range(20).select($"id".as("k"), ($"id" % 2 + 1).cast("int")
      .as("day")).createOrReplaceTempView("pssrc")
    ss.sql("INSERT INTO g.ps SELECT * FROM pssrc")
    val ckpt = Files.createTempDirectory("graft-sqlcat-ps-ck").toString
    val seen = java.util.Collections.synchronizedList(
      new java.util.ArrayList[(Long, Int)]())
    def run(): Unit = ss.readStream.table("g.ps")
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.select("k", "day").collect()
          .foreach(r => seen.add((r.getLong(0), r.getInt(1))))
        ()
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    run()
    def ks = {
      import scala.jdk.CollectionConverters._
      seen.asScala.toSet
    }
    assert(ks == (0L until 20L).map(k => (k, (k % 2 + 1).toInt)).toSet,
      s"snapshot batch: $ks")
    // a leaf BORN after the first run (day=3) + a delta in day=1:
    // the resumed checkpoint surfaces both, no restart
    ss.range(5).select(($"id" + 100).as("k"),
      lit(3).cast("int").as("day")).createOrReplaceTempView("pssrc2")
    ss.sql("INSERT INTO g.ps SELECT * FROM pssrc2")
    run()
    assert(ks == ((0L until 20L).map(k => (k, (k % 2 + 1).toInt)).toSet ++
      (100L until 105L).map((_, 3))), s"after born leaf: $ks")
  }

  test("SQL UPDATE and MERGE on a keyed table land as ONE atomic " +
      "merge-on-read commit (kind=upsert), hash-equal to the library " +
      "applyChangesDV path, replayed exactly by the change feed") {
    val wh = Files.createTempDirectory("graft-sqlcat-rlo").toString
    val ss = sqlSession(wh)
    ss.sql("CREATE TABLE g.kt (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('key'='k')")
    val dir = new Path(s"$wh/kt")
    val fs = dir.getFileSystem(ss.sparkContext.hadoopConfiguration)
    val vCreate = ManifestCommit.currentSnapshot(fs, dir).get.version
    ss.range(50).select($"id".as("k"), ($"id" * 10).as("v"))
      .createOrReplaceTempView("ksrc")
    ss.sql("INSERT INTO g.kt SELECT * FROM ksrc")
    val vBefore = ManifestCommit.currentSnapshot(fs, dir).get.version
    // UPDATE: matched rows DV-delete + re-insert in one commit
    ss.sql("UPDATE g.kt SET v = v + 1 WHERE k >= 10 AND k <= 19")
    val vAfter = ManifestCommit.currentSnapshot(fs, dir).get.version
    assert(vAfter == vBefore + 1,
      s"UPDATE must be ONE commit ($vBefore -> $vAfter)")
    val hist = ManifestCommit.history(ss, dir).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(hist(vAfter) == "upsert",
      s"the UPDATE commit must be kind=upsert: $hist")
    def rows = ss.sql("SELECT k, v FROM g.kt").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows == (0L until 50L).map(k =>
      (k, if (k >= 10 && k <= 19) k * 10 + 1 else k * 10)).toSet)
    // MERGE: matched update + not-matched insert, one commit
    ss.range(10).select(($"id" + 45).as("k"), lit(7L).as("v"))
      .createOrReplaceTempView("merges")
    ss.sql("""MERGE INTO g.kt t USING merges s ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET v = s.v
      WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""")
    val vMerge = ManifestCommit.currentSnapshot(fs, dir).get.version
    assert(vMerge == vAfter + 1, "MERGE must be ONE commit")
    assert(rows == ((0L until 45L).map(k =>
      (k, if (k >= 10 && k <= 19) k * 10 + 1 else k * 10)) ++
      (45L until 55L).map((_, 7L))).toSet, s"post-merge: $rows")
    // arbitrary-predicate DELETE routes through the row-level path
    // (not range-expressible -> not a metadata delete)
    ss.sql("DELETE FROM g.kt WHERE v = 7 AND k % 2 = 0")
    assert(rows == ((0L until 45L).map(k =>
      (k, if (k >= 10 && k <= 19) k * 10 + 1 else k * 10)) ++
      (45L until 55L).filter(_ % 2 == 1).map((_, 7L))).toSet)
    // range DELETE still takes the cheap metadata DV path: commit kind
    // is dvdelete, not upsert
    ss.sql("DELETE FROM g.kt WHERE k >= 0 AND k <= 4")
    val hist2 = ManifestCommit.history(ss, dir).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    val vDel = ManifestCommit.currentSnapshot(fs, dir).get.version
    assert(hist2(vDel) == "dvdelete",
      s"a range DELETE must stay metadata-only: $hist2")
    // the change feed replays the whole history: net state == table
    val feed = graft.streaming.StreamingOps.streamFeedSource(ss,
      dir.toString, vCreate)
    val net = feed.groupBy("k").agg(
      org.apache.spark.sql.functions.sum(org.apache.spark.sql.functions
        .when($"_change_type" === "insert", 1).otherwise(-1)).as("alive"))
      .where($"alive" > 0).count()
    assert(net == rows.size,
      s"feed net-alive $net != table ${rows.size}")
    // keyless tables refuse UPDATE with a pointer at the property
    ss.sql("CREATE TABLE g.nokey (k BIGINT, v BIGINT)")
    ss.sql("INSERT INTO g.nokey SELECT * FROM ksrc")
    val e = intercept[Exception](
      ss.sql("UPDATE g.nokey SET v = 0 WHERE k = 1"))
    assert(e.getMessage != null, "keyless UPDATE must fail")
  }

  test("INSERT OVERWRITE: one KindOverwrite commit consumes every " +
      "file and drops live DVs; the change feed replays alive-rows-" +
      "as-deletes + new-rows-as-inserts; time travel reads the " +
      "pre-overwrite state; the append-only table stream refuses") {
    import org.apache.spark.sql.streaming.Trigger
    val wh = Files.createTempDirectory("graft-sqlcat-ow").toString
    val ss = sqlSession(wh)
    ss.sql("CREATE TABLE g.ow (k BIGINT, v BIGINT)")
    val dir = new Path(s"$wh/ow")
    val fs = dir.getFileSystem(ss.sparkContext.hadoopConfiguration)
    ss.range(40).select($"id".as("k"), ($"id" * 2).as("v"))
      .createOrReplaceTempView("owsrc")
    ss.sql("INSERT INTO g.ow SELECT * FROM owsrc")
    // a live deletion vector before the overwrite
    ss.sql("DELETE FROM g.ow WHERE k >= 5 AND k <= 9")
    val preV = ManifestCommit.currentSnapshot(fs, dir).get.version
    assert(ManifestCommit.currentDvs(fs, dir).nonEmpty)
    ss.sql("INSERT OVERWRITE g.ow SELECT k + 100 AS k, v FROM owsrc " +
      "WHERE k < 3")
    val owV = ManifestCommit.currentSnapshot(fs, dir).get.version
    assert(owV == preV + 1, "the overwrite must be ONE commit")
    val hist = ManifestCommit.history(ss, dir).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(hist(owV) == "overwrite", s"kind: $hist")
    assert(ManifestCommit.currentDvs(fs, dir).isEmpty,
      "sidecars drop with the files they named")
    def rows = ss.sql("SELECT k, v FROM g.ow").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows == Set((100L, 0L), (101L, 2L), (102L, 4L)), s"$rows")
    // time travel: the pre-overwrite version still reads (with its DV
    // subtracting) until the log prunes
    val back = ss.sql(s"SELECT k FROM g.ow VERSION AS OF $preV")
      .collect().map(_.getLong(0)).toSet
    assert(back == (0L until 40L).filterNot(k => k >= 5 && k <= 9).toSet,
      s"time travel: ${back.size} rows")
    // the change feed replays the overwrite exactly: the 35 alive rows
    // (40 minus the DV'd 5) delete, the 3 new rows insert
    val feed = graft.lake.ChangeFeed.changeFeed(ss, dir, preV, owV)
    val byType = feed.groupBy("_change_type").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(byType == Map("delete" -> 35L, "insert" -> 3L), s"$byType")
    // the STREAMING feed plans the same replay (shared planner)
    val sfeed = graft.streaming.StreamingOps.streamFeedSource(ss,
      dir.toString, preV)
    val sByType = sfeed.groupBy("_change_type").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(sByType == Map("delete" -> 35L, "insert" -> 3L), s"$sByType")
    // an append-only readStream.table cannot express the retraction
    val ckpt = Files.createTempDirectory("graft-sqlcat-ow-ck").toString
    // consume the snapshot first, then land another overwrite: the
    // resumed stream must refuse the retraction loudly
    def run(): Unit = ss.readStream.table("g.ow")
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.count(); ()
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    run()
    ss.sql("INSERT OVERWRITE g.ow SELECT k, v FROM owsrc WHERE k = 0")
    val e = intercept[Exception](run())
    def msgs(t: Throwable): String =
      if (t == null) "" else t.getMessage + " | " + msgs(t.getCause)
    assert(msgs(e).contains("change feed"), msgs(e))
  }

  test("writeStream.toTable on a PARTITIONED table: tasks fan rows out " +
      "per leaf, each touched leaf commits with its own epoch " +
      "watermark (exactly-once per leaf), stream-born leaves join the " +
      "layout, and an idle restart appends nothing") {
    import org.apache.spark.sql.streaming.Trigger
    val wh = Files.createTempDirectory("graft-sqlcat-pw").toString
    val ss = sqlSession(wh)
    val src = new Path(s"$wh/pwsrc")
    val fs = src.getFileSystem(ss.sparkContext.hadoopConfiguration)
    graft.ops.Layout.writeLinear(
      ss.range(30).select($"id".as("k"), ($"id" * 2).as("v"),
        ($"id" % 2 + 1).cast("int").as("day")),
      col("k"), src.toString, 2)
    ManifestCommit.bootstrap(fs, src)
    ManifestCommit.recordSchema(ss, src)
    ss.sql("CREATE TABLE g.pw (k BIGINT, v BIGINT, day INT) " +
      "PARTITIONED BY (day)")
    val ckpt = Files.createTempDirectory("graft-sqlcat-pw-ck").toString
    def run(): Unit = ss.readStream
      .format("graft.sources.FeedSource")
      .option("path", src.toString).option("bootstrap", "true")
      .load().select($"k", $"v", $"day")
      .writeStream.option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .toTable("g.pw").awaitTermination()
    run()
    def rows = ss.sql("SELECT k, v, day FROM g.pw").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val want0 = (0L until 30L).map(k => (k, k * 2, (k % 2 + 1).toInt)).toSet
    assert(rows == want0, s"landed ${rows.size}")
    assert(fs.exists(new Path(s"$wh/pw/day=1/_graft_log")) &&
      fs.exists(new Path(s"$wh/pw/day=2/_graft_log")),
      "each touched leaf owns a commit log")
    // idle restart: per-leaf watermarks make the replay a no-op
    run()
    assert(rows == want0, "an idle restart must append nothing")
    // a delta carrying a NEW day value: the stream births day=3 with
    // its own log; the resumed checkpoint lands exactly the delta
    ManifestCommit.stageAndPublish(ss, src,
      ss.range(5).select(($"id" + 100).as("k"), ($"id" * 2).as("v"),
        lit(3).cast("int").as("day")),
      _ => true).getOrElse(fail("publish"))
    run()
    assert(rows == want0 ++
      (100L until 105L).map(k => (k, (k - 100) * 2, 3)),
      s"after stream-born leaf: ${rows.size}")
    assert(fs.exists(new Path(s"$wh/pw/day=3/_graft_log")),
      "the stream-born leaf must own a commit log")
    // the landed leaves are ordinary manifest leaves: the library's
    // table feed replays them
    val feed = graft.lake.ChangeFeed.changeFeedTable(ss, s"$wh/pw",
      Map.empty)
    assert(feed.count() == 35, "library feed must bootstrap every leaf")
  }

  test("UPDATE/MERGE/DELETE on a PARTITIONED keyed table: the rowId " +
      "carries the partition columns, changes route per leaf (one " +
      "applyChangesDV commit per touched leaf), and an UPDATE that " +
      "changes a partition value MOVES the row — even into a " +
      "brand-new leaf") {
    val wh = Files.createTempDirectory("graft-sqlcat-prlo").toString
    val ss = sqlSession(wh)
    ss.sql("CREATE TABLE g.pk (k BIGINT, v BIGINT, day INT) " +
      "PARTITIONED BY (day) TBLPROPERTIES ('key'='k')")
    ss.range(20).select($"id".as("k"), ($"id" * 2).as("v"),
        ($"id" % 2 + 1).cast("int").as("day"))
      .createOrReplaceTempView("pksrc")
    ss.sql("INSERT INTO g.pk SELECT * FROM pksrc")
    val fs = new Path(wh).getFileSystem(ss.sparkContext.hadoopConfiguration)
    def rows = ss.sql("SELECT k, v, day FROM g.pk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // UPDATE confined to day=1 rows: only that leaf takes a commit
    val d2Before = ManifestCommit.currentSnapshot(fs,
      new Path(s"$wh/pk/day=2")).get.version
    ss.sql("UPDATE g.pk SET v = v + 1000 WHERE day = 1 AND k < 6")
    assert(ManifestCommit.currentSnapshot(fs,
      new Path(s"$wh/pk/day=2")).get.version == d2Before,
      "an update touching only day=1 must not commit on day=2")
    assert(rows == (0L until 20L).map(k =>
      (k, if (k % 2 == 0 && k < 6) k * 2 + 1000 else k * 2,
        (k % 2 + 1).toInt)).toSet, s"$rows")
    // an UPDATE that changes the PARTITION VALUE moves the row into a
    // brand-new leaf (delete in day=2, insert in stream-born day=9)
    ss.sql("UPDATE g.pk SET day = 9 WHERE k = 1")
    assert(fs.exists(new Path(s"$wh/pk/day=9/_graft_log")),
      "the moved row must birth its leaf with a commit log")
    assert(rows.contains((1L, 2L, 9)) &&
      !rows.exists(r => r._1 == 1L && r._3 == 2), s"$rows")
    // MERGE: matched update in two leaves + not-matched inserts
    ss.range(3).select(($"id" + 100).as("k"), lit(5L).as("v"),
      lit(1).cast("int").as("day")).createOrReplaceTempView("pkmerge")
    ss.sql("""MERGE INTO g.pk t USING pkmerge s ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET v = s.v
      WHEN NOT MATCHED THEN INSERT (k, v, day) VALUES (s.k, s.v, s.day)""")
    assert(rows.count(_._1 >= 100) == 3 &&
      rows.filter(_._1 >= 100).forall(r => r._2 == 5L && r._3 == 1))
    // arbitrary-predicate DELETE across leaves
    ss.sql("DELETE FROM g.pk WHERE v = 5 AND k % 2 = 0")
    assert(rows.filter(_._1 >= 100).map(_._1) == Set(101L), s"$rows")
    // the per-leaf logs replay everything through the table feed
    val feed = graft.lake.ChangeFeed.changeFeedTable(ss, s"$wh/pk",
      Map.empty)
    assert(feed.count() == rows.size,
      "bootstrap feed must equal the final table")
  }

  test("TRUNCATE TABLE: one empty-overwrite commit per partition " +
      "domain — sidecars dropped, feed replays pure deletes, " +
      "partitioned tables truncate every leaf") {
    val wh = Files.createTempDirectory("graft-sqlcat-tr").toString
    val ss = sqlSession(wh)
    ss.sql("CREATE TABLE g.tr (k BIGINT, v BIGINT)")
    ss.range(25).select($"id".as("k"), ($"id" * 2).as("v"))
      .createOrReplaceTempView("trsrc")
    ss.sql("INSERT INTO g.tr SELECT * FROM trsrc")
    ss.sql("DELETE FROM g.tr WHERE k >= 3 AND k <= 7") // a live DV
    val dir = new Path(s"$wh/tr")
    val fs = dir.getFileSystem(ss.sparkContext.hadoopConfiguration)
    val preV = ManifestCommit.currentSnapshot(fs, dir).get.version
    ss.sql("TRUNCATE TABLE g.tr")
    assert(ss.sql("SELECT * FROM g.tr").collect().isEmpty)
    val v = ManifestCommit.currentSnapshot(fs, dir).get.version
    assert(v == preV + 1, "truncate must be ONE commit")
    assert(ManifestCommit.currentDvs(fs, dir).isEmpty)
    val byType = graft.lake.ChangeFeed.changeFeed(ss, dir, preV, v)
      .groupBy("_change_type").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(byType == Map("delete" -> 20L), // 25 minus the 5 DV'd
      s"feed must replay exactly the alive rows as deletes: $byType")
    // the truncated table accepts new inserts
    ss.sql("INSERT INTO g.tr SELECT k + 500, v FROM trsrc")
    assert(ss.sql("SELECT count(*) FROM g.tr").collect()(0).getLong(0)
      == 25)
    // partitioned: every leaf truncates (per-leaf commits)
    ss.sql("CREATE TABLE g.trp (k BIGINT, day INT) PARTITIONED BY (day)")
    ss.range(10).select($"id".as("k"), ($"id" % 2 + 1).cast("int")
      .as("day")).createOrReplaceTempView("trpsrc")
    ss.sql("INSERT INTO g.trp SELECT * FROM trpsrc")
    ss.sql("TRUNCATE TABLE g.trp")
    assert(ss.sql("SELECT * FROM g.trp").collect().isEmpty)
    assert(fs.exists(new Path(s"$wh/trp/day=1/_graft_log")),
      "leaves keep their logs (history, not a directory wipe)")
  }

  test("ALTER TABLE SET TBLPROPERTIES ('key') declares the row " +
      "identity post-hoc — UPDATE/MERGE unlock on an existing table; " +
      "UNSET returns it to keyless") {
    val wh = Files.createTempDirectory("graft-sqlcat-setkey").toString
    val ss = sqlSession(wh)
    ss.sql("CREATE TABLE g.sk (k BIGINT, v BIGINT)")
    ss.range(10).select($"id".as("k"), ($"id" * 2).as("v"))
      .createOrReplaceTempView("sksrc")
    ss.sql("INSERT INTO g.sk SELECT * FROM sksrc")
    // keyless: UPDATE has no row-level path
    intercept[Exception](ss.sql("UPDATE g.sk SET v = 0 WHERE k = 1"))
    ss.sql("ALTER TABLE g.sk SET TBLPROPERTIES ('key'='k')")
    // the declared identity SURFACES: SHOW TBLPROPERTIES reports it
    // and SHOW CREATE TABLE round-trips it
    val props = ss.sql("SHOW TBLPROPERTIES g.sk").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(props.get("key").contains("k"), s"$props")
    assert(ss.sql("SHOW CREATE TABLE g.sk").head.getString(0)
      .contains("'key' = 'k'"))
    ss.sql("UPDATE g.sk SET v = v + 100 WHERE k <= 2")
    def rows = ss.sql("SELECT k, v FROM g.sk").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows == (0L until 10L).map(k =>
      (k, if (k <= 2) k * 2 + 100 else k * 2)).toSet, s"$rows")
    // range DELETE still takes the metadata path on the keyed table
    ss.sql("DELETE FROM g.sk WHERE k = 9")
    assert(!rows.exists(_._1 == 9L))
    ss.sql("ALTER TABLE g.sk UNSET TBLPROPERTIES ('key')")
    intercept[Exception](ss.sql("UPDATE g.sk SET v = 0 WHERE k = 1"))
    assert(rows.size == 9, "the data is untouched by key declarations")
  }

  test("arbitrary-predicate DELETE on a KEYLESS table: string " +
      "equality, IN, OR and LIKE-prefix predicates land as ONE " +
      "positional-DV commit (no file rewrites); range deletes still " +
      "plan kind=dvdelete with the predicate recorded; inexact " +
      "shapes refuse") {
    val wh = Files.createTempDirectory("graft-sqlcat-apdel").toString
    val ss = sqlSession(wh)
    ss.sql("CREATE TABLE g.ad (k BIGINT, name STRING, v BIGINT)")
    val dir = new Path(s"$wh/ad")
    val fs = dir.getFileSystem(ss.sparkContext.hadoopConfiguration)
    ss.range(20).select($"id".as("k"),
      concat(lit("n"), ($"id" % 5).cast("string")).as("name"),
      ($"id" * 3).as("v")).createOrReplaceTempView("adsrc")
    ss.sql("INSERT INTO g.ad SELECT * FROM adsrc")
    val v0 = ManifestCommit.currentSnapshot(fs, dir).get.version
    val files0 = ManifestCommit.currentSnapshot(fs, dir).get.files.toSet
    // string equality: 4 rows (k % 5 == 2) die in ONE DV commit
    ss.sql("DELETE FROM g.ad WHERE name = 'n2'")
    val v1 = ManifestCommit.currentSnapshot(fs, dir).get.version
    assert(v1 == v0 + 1, "one commit")
    assert(ManifestCommit.currentSnapshot(fs, dir).get.files.toSet
      == files0, "a DV delete never moves data files")
    val hist = ManifestCommit.history(ss, dir).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(hist(v1) == "dvdelete", s"kind: $hist")
    def keys = ss.sql("SELECT k FROM g.ad").collect()
      .map(_.getLong(0)).toSet
    assert(keys == (0L until 20L).filterNot(_ % 5 == 2).toSet, s"$keys")
    // the feed replays the predicate delete exactly from sidecars
    val feed = graft.lake.ChangeFeed.changeFeed(ss, dir, v0, v1)
    assert(feed.filter($"_change_type" === "delete").count() == 4L)
    // disjunction + IN + LIKE prefix in one statement
    ss.sql("DELETE FROM g.ad WHERE name IN ('n0', 'n4') OR k = 1")
    assert(keys == (0L until 20L)
      .filterNot(k => k % 5 == 2 || k % 5 == 0 || k % 5 == 4 || k == 1)
      .toSet, s"$keys")
    ss.sql("DELETE FROM g.ad WHERE name LIKE 'n3%' AND v >= 24")
    assert(keys == Set(3L, 6L, 11L, 16L), s"$keys")
    // a RANGE delete on the same keyless table still takes the
    // metadata path: kind=dvdelete with the predicate recorded
    ss.sql("DELETE FROM g.ad WHERE k >= 6 AND k <= 6")
    val vR = ManifestCommit.currentSnapshot(fs, dir).get.version
    val hist2 = ManifestCommit.history(ss, dir).collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(5)) null else r.getString(5)))
    val rRow = hist2.find(_._1 == vR).get
    assert(rRow._2 == "dvdelete" && rRow._3 != null &&
      rRow._3.contains("k:6:6"), s"range delete row: $rRow")
    assert(keys == Set(3L, 11L, 16L), s"$keys")
    // NULL-evaluating predicates match no row (three-valued WHERE)
    ss.sql("INSERT INTO g.ad SELECT 100 AS k, CAST(NULL AS STRING) " +
      "AS name, 0 AS v")
    ss.sql("DELETE FROM g.ad WHERE NOT (name = 'zzz')")
    assert(keys == Set(100L), s"NULL name must survive NOT(=): $keys")
  }

  test("partitioned INSERT OVERWRITE: dynamic mode replaces EXACTLY " +
      "the leaves the data touches (one KindOverwrite commit each, " +
      "untouched leaves' logs unmoved); static mode clears the rest; " +
      "a PARTITION spec replaces exactly the named leaf") {
    val wh = Files.createTempDirectory("graft-sqlcat-powr").toString
    val ss = sqlSession(wh)
    ss.sql("CREATE TABLE g.po (k BIGINT, day INT) PARTITIONED BY (day)")
    val fs = new Path(wh).getFileSystem(ss.sparkContext.hadoopConfiguration)
    ss.range(30).select($"id".as("k"), ($"id" % 3 + 1).cast("int")
      .as("day")).createOrReplaceTempView("posrc")
    ss.sql("INSERT INTO g.po SELECT * FROM posrc")
    def verOf(day: Int) = ManifestCommit
      .currentSnapshot(fs, new Path(s"$wh/po/day=$day")).get.version
    val (v1, v2, v3) = (verOf(1), verOf(2), verOf(3))
    // DYNAMIC: the batch touches day=1 and day=2 only — day=3's log
    // must not move
    ss.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    ss.sql("INSERT OVERWRITE g.po SELECT k + 100 AS k, day FROM posrc " +
      "WHERE day <= 2 AND k < 6")
    assert(verOf(1) == v1 + 1 && verOf(2) == v2 + 1,
      "each touched leaf swaps in ONE commit")
    assert(verOf(3) == v3, "an untouched leaf's commit log never moves")
    Seq(1, 2).foreach { d =>
      val hist = ManifestCommit.history(ss, new Path(s"$wh/po/day=$d"))
        .collect().map(r => (r.getLong(0), r.getString(1))).toMap
      assert(hist(verOf(d)) == "overwrite", s"day=$d kind: $hist")
    }
    def rows = ss.sql("SELECT k, day FROM g.po").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    val expDyn = (0L until 6L).filter(k => k % 3 < 2)
      .map(k => (k + 100, (k % 3 + 1).toInt)).toSet ++
      (0L until 30L).filter(_ % 3 == 2).map(k => (k, 3)).toSet
    assert(rows == expDyn, s"$rows")
    // feed replay on a touched leaf is exact: 10 alive rows delete,
    // the staged rows insert
    val feed = graft.lake.ChangeFeed.changeFeed(ss,
      new Path(s"$wh/po/day=1"), v1, verOf(1))
    val byType = feed.groupBy("_change_type").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(byType("delete") == 10L && byType("insert") == 2L, s"$byType")
    // STATIC with a PARTITION spec: exactly day=3 is replaced
    ss.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    val (w1, w2) = (verOf(1), verOf(2))
    ss.sql("INSERT OVERWRITE g.po PARTITION (day=3) " +
      "SELECT k + 500 AS k FROM posrc WHERE k < 2")
    assert(verOf(1) == w1 && verOf(2) == w2,
      "a PARTITION(day=3) overwrite must not touch day=1/day=2")
    assert(rows.filter(_._2 == 3) == Set((500L, 3), (501L, 3)), s"$rows")
    // STATIC without a spec: every leaf replaced; a leaf the batch
    // stages nothing into is truncated (its log stays)
    ss.sql("INSERT OVERWRITE g.po SELECT k, day FROM posrc " +
      "WHERE day = 1 AND k < 3")
    assert(rows == Set((0L, 1)), s"$rows")
    assert(fs.exists(new Path(s"$wh/po/day=3/_graft_log")),
      "a truncated leaf keeps its commit log (history, not a wipe)")
  }

  test("partition values that Hive escaping would rewrite REFUSE on " +
      "every write path — batch staging, static overwrite, and the " +
      "streaming/delta fan-out render one spelling or none") {
    val wh = Files.createTempDirectory("graft-sqlcat-pval").toString
    val ss = sqlSession(wh)
    ss.sql("CREATE TABLE g.pv (k BIGINT, tag STRING) PARTITIONED BY (tag)")
    ss.range(4).select($"id".as("k"),
      concat(lit("a:"), $"id".cast("string")).as("tag"))
      .createOrReplaceTempView("pvbad")
    // ':' escapes to %3A under partitionBy but decodes raw — refuse
    // the whole statement before anything commits
    val e = intercept[Exception](
      ss.sql("INSERT INTO g.pv SELECT * FROM pvbad"))
    def msgs(t: Throwable): String =
      if (t == null) "" else t.getMessage + " | " + msgs(t.getCause)
    assert(msgs(e).contains("path-literal"), msgs(e))
    assert(ss.sql("SELECT * FROM g.pv").collect().isEmpty,
      "a refused insert commits nothing")
    // NULL partition values refuse (no default-partition leaves)
    ss.range(2).select($"id".as("k"),
      when($"id" === 0, null).otherwise(lit("ok")).cast("string")
        .as("tag")).createOrReplaceTempView("pvnull")
    val eN = intercept[Exception](
      ss.sql("INSERT INTO g.pv SELECT * FROM pvnull"))
    assert(msgs(eN).contains("NULL partition value"), msgs(eN))
    // plain values land raw and read back exactly
    ss.range(3).select($"id".as("k"),
      concat(lit("t-"), $"id".cast("string")).as("tag"))
      .createOrReplaceTempView("pvok")
    ss.sql("INSERT INTO g.pv SELECT * FROM pvok")
    def pv = ss.sql("SELECT k, tag FROM g.pv").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val got = pv
    assert(got == (0L until 3L).map(k => (k, s"t-$k")).toSet, s"$got")
    // the fan-out writer (dynamic INSERT OVERWRITE) renders through the
    // same one function and refuses the same values
    ss.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      val eD = intercept[Exception](
        ss.sql("INSERT OVERWRITE g.pv SELECT * FROM pvbad"))
      assert(msgs(eD).contains("path-literal"), msgs(eD))
    } finally
      ss.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    // so does ADD PARTITION
    val eA = intercept[Exception](
      ss.sql("ALTER TABLE g.pv ADD PARTITION (tag='a:b')"))
    assert(msgs(eA).contains("path-literal"), msgs(eA))
    assert(pv == got, "a refused overwrite or ADD PARTITION changes nothing")
    // and the delta writer: an UPDATE moving a keyed row into a
    // path-unsafe leaf
    ss.sql("CREATE TABLE g.pvk (k BIGINT, tag STRING) " +
      "PARTITIONED BY (tag) TBLPROPERTIES ('key'='k')")
    ss.sql("INSERT INTO g.pvk SELECT * FROM pvok")
    val eU = intercept[Exception](
      ss.sql("UPDATE g.pvk SET tag = 'a:b' WHERE k = 0"))
    assert(msgs(eU).contains("path-literal"), msgs(eU))
    val gotK = ss.sql("SELECT k, tag FROM g.pvk").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(gotK == got, s"a refused UPDATE changes nothing: $gotK")
  }

  test("DROP COLUMN is metadata-only: pre- and post-drop files serve " +
      "the surviving columns, the name is tombstoned (a re-ADD would " +
      "resurface old bytes), key/partition columns refuse") {
    val wh = Files.createTempDirectory("graft-sqlcat-drop").toString
    val ss = sqlSession(wh)
    ss.sql("CREATE TABLE g.dc (k BIGINT, a BIGINT, b STRING)")
    ss.range(4).select($"id".as("k"), ($"id" * 10).as("a"),
      concat(lit("x"), $"id").as("b")).createOrReplaceTempView("dcsrc")
    ss.sql("INSERT INTO g.dc SELECT * FROM dcsrc")
    val dir = new Path(s"$wh/dc")
    val fs = dir.getFileSystem(ss.sparkContext.hadoopConfiguration)
    val filesBefore = ManifestCommit.currentSnapshot(fs, dir).get.files
    ss.sql("ALTER TABLE g.dc DROP COLUMN a")
    // no data file moved — the drop was ONE meta commit
    assert(ManifestCommit.currentSnapshot(fs, dir).get.files ==
      filesBefore)
    assert(ManifestCommit.currentSchema(fs, dir).get.fieldNames.toSeq ==
      Seq("k", "b"))
    // post-drop inserts land narrow; both waves read
    ss.sql("INSERT INTO g.dc VALUES (100, 'y')")
    val got = ss.sql("SELECT k, b FROM g.dc").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == (0L until 4L).map(k => (k, s"x$k")).toSet +
      ((100L, "y")), s"$got")
    assert(ss.table("g.dc").schema.fieldNames.toSeq == Seq("k", "b"))
    // the NAME is retired: a re-ADD would resurface the old files'
    // values under the new column
    val e = intercept[Exception](
      ss.sql("ALTER TABLE g.dc ADD COLUMN a BIGINT"))
    assert(e.getMessage.contains("retired"), e.getMessage)
    ss.sql("ALTER TABLE g.dc ADD COLUMN a2 BIGINT") // fresh name fine
    // key columns refuse (UNSET first); partition columns refuse
    ss.sql("CREATE TABLE g.dk (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('key'='k')")
    assert(intercept[Exception](
      ss.sql("ALTER TABLE g.dk DROP COLUMN k"))
      .getMessage.contains("key"))
    ss.sql("CREATE TABLE g.dp (k BIGINT, day INT) PARTITIONED BY (day)")
    assert(intercept[Exception](
      ss.sql("ALTER TABLE g.dp DROP COLUMN day"))
      .getMessage.contains("partition"))
  }

  test("DROP COLUMN on a partitioned table narrows every leaf's " +
      "recorded schema in one statement") {
    val wh = Files.createTempDirectory("graft-sqlcat-dropp").toString
    val ss = sqlSession(wh)
    ss.sql("CREATE TABLE g.pp (k BIGINT, a BIGINT, day INT) " +
      "PARTITIONED BY (day)")
    ss.range(8).select($"id".as("k"), ($"id" * 10).as("a"),
      ($"id" % 2).cast("int").as("day")).createOrReplaceTempView("ppsrc")
    ss.sql("INSERT INTO g.pp SELECT * FROM ppsrc")
    ss.sql("ALTER TABLE g.pp DROP COLUMN a")
    val dir = new Path(s"$wh/pp")
    val fs = dir.getFileSystem(ss.sparkContext.hadoopConfiguration)
    Seq("day=0", "day=1").foreach { leaf =>
      assert(ManifestCommit.currentSchema(fs, new Path(dir, leaf))
        .get.fieldNames.toSeq == Seq("k"), leaf)
    }
    val got = ss.sql("SELECT k, day FROM g.pp").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(got == (0L until 8L).map(k => (k, (k % 2).toInt)).toSet,
      s"$got")
  }

  test("widening ALTER COLUMN TYPE is metadata-only: INT32/FLOAT " +
      "files promote per file in both reader tiers, filters still " +
      "push, and narrowing/key/partition retypes refuse") {
    val wh = Files.createTempDirectory("graft-sqlcat-widen").toString
    val ss = sqlSession(wh)
    ss.sql("CREATE TABLE g.w (k INT, f FLOAT, s STRING)")
    ss.range(6).select($"id".cast("int").as("k"),
      ($"id" + 0.25).cast("float").as("f"),
      concat(lit("r"), $"id").as("s")).createOrReplaceTempView("wsrc")
    ss.sql("INSERT INTO g.w SELECT * FROM wsrc")
    val dir = new Path(s"$wh/w")
    val fs = dir.getFileSystem(ss.sparkContext.hadoopConfiguration)
    val filesBefore = ManifestCommit.currentSnapshot(fs, dir).get.files
    ss.sql("ALTER TABLE g.w ALTER COLUMN k TYPE BIGINT")
    ss.sql("ALTER TABLE g.w ALTER COLUMN f TYPE DOUBLE")
    assert(ManifestCommit.currentSnapshot(fs, dir).get.files ==
      filesBefore) // no rewrite
    // wave 2 lands wide; the read mixes narrow and wide files
    ss.sql("INSERT INTO g.w VALUES (100, 9.5, 'r100')")
    val got = ss.sql("SELECT k, f, s FROM g.w").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet
    val want = (0L until 6L).map(i =>
      (i, (i + 0.25d).toFloat.toDouble, s"r$i")).toSet +
      ((100L, 9.5d, "r100"))
    assert(got == want, s"$got")
    // a filter on the widened column over narrow files still answers
    // exactly (parquet refuses per-file pushdown on a mismatched
    // width; Spark re-evaluates post-scan either way)
    assert(ss.sql("SELECT k FROM g.w WHERE k >= 4").collect()
      .map(_.getLong(0)).toSet == Set(4L, 5L, 100L))
    // a DV delete routes the narrow files through the merge-on-read
    // Group tier, which must promote explicitly
    ss.sql("DELETE FROM g.w WHERE k >= 2 AND k <= 3")
    val got2 = ss.sql("SELECT k, f FROM g.w").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(got2 == Set((0L, 0.25d), (1L, 1.25d),
      (4L, 4.25d), (5L, 5.25d), (100L, 9.5d)), s"$got2")
    // refusals: narrowing and non-numeric retypes die in Spark's own
    // up-cast analysis; an up-cast that is NOT a lossless parquet
    // widening (long -> decimal) dies on OUR guard; key and partition
    // columns refuse in the catalog
    assert(intercept[Exception](
      ss.sql("ALTER TABLE g.w ALTER COLUMN k TYPE INT"))
      .getMessage.contains("NOT_SUPPORTED_CHANGE_COLUMN"))
    intercept[Exception](
      ss.sql("ALTER TABLE g.w ALTER COLUMN s TYPE BIGINT"))
    assert(intercept[Exception](
      ss.sql("ALTER TABLE g.w ALTER COLUMN k TYPE DECIMAL(20,0)"))
      .getMessage.contains("widening"))
    ss.sql("CREATE TABLE g.wk (k INT, v INT) TBLPROPERTIES ('key'='k')")
    assert(intercept[Exception](
      ss.sql("ALTER TABLE g.wk ALTER COLUMN k TYPE BIGINT"))
      .getMessage.contains("key"))
    ss.sql("CREATE TABLE g.wp (k BIGINT, day INT) PARTITIONED BY (day)")
    assert(intercept[Exception](
      ss.sql("ALTER TABLE g.wp ALTER COLUMN day TYPE BIGINT"))
      .getMessage.contains("partition"))
  }

  test("RENAME COLUMN via column mapping: pure metadata (no commit, " +
      "no file motion), old and new files serve under the new name, " +
      "pruning and deletes translate, retired names refuse") {
    val wh = Files.createTempDirectory("graft-sqlcat-ren").toString
    val ss = sqlSession(wh)
    ss.sql("CREATE TABLE g.rn (k BIGINT, a BIGINT, s STRING)")
    ss.range(6).select($"id".as("k"), ($"id" * 10).as("a"),
      concat(lit("x"), $"id").as("s")).createOrReplaceTempView("rnsrc")
    ss.sql("INSERT INTO g.rn SELECT * FROM rnsrc")
    val dir = new Path(s"$wh/rn")
    val fs = dir.getFileSystem(ss.sparkContext.hadoopConfiguration)
    val verBefore = ManifestCommit.currentSnapshot(fs, dir).get.version
    ss.sql("ALTER TABLE g.rn RENAME COLUMN a TO b")
    // no new commit — the rename is a meta-file update only
    assert(ManifestCommit.currentSnapshot(fs, dir).get.version ==
      verBefore)
    assert(ss.table("g.rn").schema.fieldNames.toSeq == Seq("k", "b", "s"))
    // wave 2 lands under the PHYSICAL name; both waves read as `b`
    ss.sql("INSERT INTO g.rn VALUES (100, 1000, 'y')")
    def rows = ss.sql("SELECT k, b FROM g.rn").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows == (0L until 6L).map(i => (i, i * 10)).toSet +
      ((100L, 1000L)), s"$rows")
    // the physical files carry 'a' in BOTH waves (writers translate)
    val snap = ManifestCommit.currentSnapshot(fs, dir).get
    snap.files.foreach { n =>
      val sch = ss.read.parquet(new Path(dir, n).toString).schema
      assert(sch.fieldNames.toSeq == Seq("k", "a", "s"), s"$n: $sch")
    }
    // a filter on the renamed column translates for stats pruning and
    // parquet pushdown; a DV delete translates the recorded predicate
    assert(ss.sql("SELECT k FROM g.rn WHERE b >= 40").collect()
      .map(_.getLong(0)).toSet == Set(4L, 5L, 100L))
    // the mapping must not knock the DV-free read off the vectorized
    // tier (ColumnarToRow = columnar batch input; checked before the
    // delete moves files to the Group tier)
    assert(ss.sql("SELECT k, b FROM g.rn").queryExecution.executedPlan
      .toString.contains("ColumnarToRow"))
    // the table reads as an append STREAM under the new name too —
    // the micro-batch readers request the physical schema
    locally {
      val out = Files.createTempDirectory("graft-ren-stream").toString
      val q = ss.readStream.table("g.rn")
        .writeStream.format("parquet")
        .option("path", s"$out/data")
        .option("checkpointLocation", s"$out/ck")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000); q.stop()
      val got = ss.read.parquet(s"$out/data")
        .collect().map(r => (r.getAs[Long]("k"), r.getAs[Long]("b")))
        .toSet
      assert(got == rows, s"streamed $got != $rows")
    }
    ss.sql("DELETE FROM g.rn WHERE b >= 40 AND b <= 60")
    assert(rows == (0L until 4L).map(i => (i, i * 10)).toSet +
      ((100L, 1000L)), s"post-delete $rows")
    // a second rename re-keys the SAME physical name
    ss.sql("ALTER TABLE g.rn RENAME COLUMN b TO c")
    assert(ss.sql("SELECT sum(c) FROM g.rn").head.getLong(0) ==
      (0 + 10 + 20 + 30 + 1000))
    // the retired/physical namespace is closed: re-using 'a' refuses
    assert(intercept[Exception](
      ss.sql("ALTER TABLE g.rn ADD COLUMN a BIGINT"))
      .getMessage.contains("physical"))
    assert(intercept[Exception](
      ss.sql("ALTER TABLE g.rn RENAME COLUMN s TO a"))
      .getMessage.contains("physical"))
    // DROP of a renamed column tombstones the PHYSICAL name; the
    // logical name is then free, the physical one is not
    ss.sql("ALTER TABLE g.rn DROP COLUMN c")
    assert(intercept[Exception](
      ss.sql("ALTER TABLE g.rn ADD COLUMN a BIGINT"))
      .getMessage.contains("retired"))
    ss.sql("ALTER TABLE g.rn ADD COLUMN c BIGINT") // never a phys name
    // partition and key columns refuse
    ss.sql("CREATE TABLE g.rp (k BIGINT, day INT) PARTITIONED BY (day)")
    assert(intercept[Exception](
      ss.sql("ALTER TABLE g.rp RENAME COLUMN day TO d"))
      .getMessage.contains("partition"))
    ss.sql("CREATE TABLE g.rk (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('key'='k')")
    assert(intercept[Exception](
      ss.sql("ALTER TABLE g.rk RENAME COLUMN k TO kk"))
      .getMessage.contains("key"))
  }

  test("RENAME COLUMN on a keyed table: row-level UPDATE/MERGE write " +
      "staged deltas under the physical name and commit exactly") {
    val wh = Files.createTempDirectory("graft-sqlcat-renk").toString
    val ss = sqlSession(wh)
    ss.sql("CREATE TABLE g.rm (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('key'='k')")
    ss.range(5).select($"id".as("k"), ($"id" * 10).as("v"))
      .createOrReplaceTempView("rmsrc")
    ss.sql("INSERT INTO g.rm SELECT * FROM rmsrc")
    ss.sql("ALTER TABLE g.rm RENAME COLUMN v TO w")
    ss.sql("UPDATE g.rm SET w = w + 1 WHERE k <= 1")
    ss.sql("""MERGE INTO g.rm t
      USING (SELECT 9 AS k, 99 AS w UNION ALL SELECT 3 AS k, 33 AS w) s
      ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET w = s.w
      WHEN NOT MATCHED THEN INSERT (k, w) VALUES (s.k, s.w)""")
    val got = ss.sql("SELECT k, w FROM g.rm").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((0L, 1L), (1L, 11L), (2L, 20L), (3L, 33L),
      (4L, 40L), (9L, 99L)), s"$got")
    // every committed file carries the physical name 'v'
    val dir = new Path(s"$wh/rm")
    val fs = dir.getFileSystem(ss.sparkContext.hadoopConfiguration)
    ManifestCommit.currentSnapshot(fs, dir).get.files.foreach { n =>
      val sch = ss.read.parquet(new Path(dir, n).toString).schema
      assert(sch.fieldNames.toSeq == Seq("k", "v"), s"$n: $sch")
    }
  }

  test("partition management: SHOW PARTITIONS lists leaves, ADD " +
      "births an empty bootstrapped leaf, TRUNCATE PARTITION empties " +
      "but keeps the log, DROP removes leaf and history") {
    val wh = Files.createTempDirectory("graft-sqlcat-pm").toString
    val ss = sqlSession(wh)
    ss.sql("CREATE TABLE g.pm (k BIGINT, day INT) PARTITIONED BY (day)")
    ss.range(6).select($"id".as("k"), ($"id" % 3).cast("int").as("day"))
      .createOrReplaceTempView("pmsrc")
    ss.sql("INSERT INTO g.pm SELECT * FROM pmsrc")
    def parts = ss.sql("SHOW PARTITIONS g.pm").collect()
      .map(_.getString(0)).toSet
    assert(parts == Set("day=0", "day=1", "day=2"), s"$parts")
    assert(ss.sql("SHOW PARTITIONS g.pm PARTITION (day=1)").collect()
      .map(_.getString(0)).toSeq == Seq("day=1"))
    // ADD PARTITION births an EMPTY leaf with its own log + recorded
    // schema — later inserts and streams adopt it like any leaf
    ss.sql("ALTER TABLE g.pm ADD PARTITION (day=9)")
    assert(parts.contains("day=9"))
    assert(ss.sql("SELECT count(*) FROM g.pm").head.getLong(0) == 6)
    ss.sql("INSERT INTO g.pm VALUES (99, 9)")
    assert(ss.sql("SELECT k FROM g.pm WHERE day = 9").collect()
      .map(_.getLong(0)).toSeq == Seq(99L))
    // a duplicate ADD refuses; IF NOT EXISTS no-ops
    intercept[Exception](ss.sql("ALTER TABLE g.pm ADD PARTITION (day=9)"))
    ss.sql("ALTER TABLE g.pm ADD IF NOT EXISTS PARTITION (day=9)")
    // TRUNCATE PARTITION: rows gone, leaf + log + history stay
    val dir = new Path(s"$wh/pm")
    val fs = dir.getFileSystem(ss.sparkContext.hadoopConfiguration)
    ss.sql("TRUNCATE TABLE g.pm PARTITION (day=0)")
    assert(ss.sql("SELECT count(*) FROM g.pm WHERE day = 0")
      .head.getLong(0) == 0)
    assert(parts.contains("day=0"))
    assert(fs.exists(new Path(new Path(dir, "day=0"),
      ManifestCommit.LogDirName)))
    // DROP PARTITION: leaf, data and history removed
    ss.sql("ALTER TABLE g.pm DROP PARTITION (day=1)")
    assert(!parts.contains("day=1") && !fs.exists(new Path(dir, "day=1")))
    assert(ss.sql("SELECT count(*) FROM g.pm").head.getLong(0) == 3)
    // a missing partition refuses; IF EXISTS no-ops
    intercept[Exception](ss.sql("ALTER TABLE g.pm DROP PARTITION (day=7)"))
    ss.sql("ALTER TABLE g.pm DROP IF EXISTS PARTITION (day=7)")
    // TRUNCATE of a partition that never existed refuses — it must
    // not mint a phantom empty leaf that SHOW PARTITIONS then lists
    intercept[Exception](
      ss.sql("TRUNCATE TABLE g.pm PARTITION (day=55)"))
    assert(!parts.contains("day=55"), s"$parts")
  }

  test("column DEFAULTs: CREATE-time defaults fill inserts, ADD " +
      "COLUMN DEFAULT fills pre-existence rows in BOTH reader tiers, " +
      "SET DEFAULT changes future inserts only, DROP DEFAULT reverts " +
      "to NULL") {
    val wh = Files.createTempDirectory("graft-sqlcat-def").toString
    val ss = sqlSession(wh)
    ss.sql("CREATE TABLE g.df (k BIGINT, v BIGINT DEFAULT 7, " +
      "s STRING DEFAULT 'x')")
    ss.sql("INSERT INTO g.df (k) SELECT id FROM range(0, 5)")
    ss.sql("INSERT INTO g.df VALUES (10, DEFAULT, 'y')")
    def rows = ss.sql("SELECT k, v, s, w FROM g.df").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        if (r.isNullAt(3)) -1L else r.getLong(3))).toSet
    // ADD COLUMN with DEFAULT: every pre-existence row reads the
    // constant — the files lack the column and the VECTORIZED tier
    // fills it from the recorded schema's metadata
    ss.sql("ALTER TABLE g.df ADD COLUMN w BIGINT DEFAULT 99")
    assert(rows == ((0L until 5L).map(k => (k, 7L, "x", 99L)).toSet +
      ((10L, 7L, "y", 99L))), s"$rows")
    // a DV delete routes the pre-ADD files through the Group tier —
    // the surviving rows must read the SAME existence default
    ss.sql("DELETE FROM g.df WHERE k >= 1 AND k <= 2")
    assert(rows == (Set(0L, 3L, 4L).map(k => (k, 7L, "x", 99L)) +
      ((10L, 7L, "y", 99L))), s"group-tier $rows")
    // SET DEFAULT changes FUTURE inserts only; committed rows keep
    // what they were written with
    ss.sql("ALTER TABLE g.df ALTER COLUMN v SET DEFAULT 8")
    ss.sql("INSERT INTO g.df (k) VALUES (20)")
    assert(rows.contains((20L, 8L, "x", 99L)) &&
      rows.contains((0L, 7L, "x", 99L)), s"$rows")
    // DROP DEFAULT: later inserts get NULL again
    ss.sql("ALTER TABLE g.df ALTER COLUMN s DROP DEFAULT")
    ss.sql("INSERT INTO g.df (k) VALUES (30)")
    val r30 = ss.sql("SELECT s FROM g.df WHERE k = 30").head
    assert(r30.isNullAt(0))
    // DESCRIBE surfaces the defaults
    val desc = ss.sql("DESCRIBE g.df").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap.toString
    assert(ss.sql("SELECT v FROM g.df WHERE k = 30").head.getLong(0)
      == 8L, desc)
  }

  test("LeafPar attempts EVERY leaf and rethrows the first failure — " +
      "a failing leaf never strands later leaves half-scheduled") {
    val hit = new java.util.concurrent.atomic.AtomicInteger
    val e = intercept[RuntimeException](
      graft.lake.LeafPar.foreach(1 to 20) { i =>
        if (i % 5 == 0) sys.error(s"boom $i") else hit.incrementAndGet()
      })
    assert(e.getMessage.startsWith("boom"), e.getMessage)
    assert(hit.get() == 16, s"${hit.get()} leaves ran")
    // par=1 restores strict order (the sys-prop escape hatch)
    sys.props("graft.leaf.par") = "1"
    try {
      val order = scala.collection.mutable.ArrayBuffer.empty[Int]
      graft.lake.LeafPar.foreach(1 to 5)(order += _)
      assert(order.toSeq == (1 to 5), s"$order")
    } finally sys.props.remove("graft.leaf.par")
  }

  test("MERGE ... WHEN NOT MATCHED BY SOURCE: unmatched target rows " +
      "delete/update through the same one-commit delta path") {
    val wh = Files.createTempDirectory("graft-sqlcat-nmbs").toString
    val ss = sqlSession(wh)
    ss.sql("CREATE TABLE g.ms (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('key'='k')")
    ss.range(6).select($"id".as("k"), ($"id" * 10).as("v"))
      .createOrReplaceTempView("mstgt")
    ss.sql("INSERT INTO g.ms SELECT * FROM mstgt")
    ss.range(3).select($"id".as("k"), lit(7L).as("v"))
      .createOrReplaceTempView("mssrc")
    // matched rows take the source value; target rows ABSENT from the
    // source are deleted — one statement, exact
    ss.sql("""MERGE INTO g.ms t USING mssrc s ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET v = s.v
      WHEN NOT MATCHED BY SOURCE THEN DELETE""")
    val got = ss.sql("SELECT k, v FROM g.ms").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((0L, 7L), (1L, 7L), (2L, 7L)), s"$got")
    // the conditional flavor: only some unmatched rows update
    ss.range(2).select($"id".as("k"), lit(0L).as("v"))
      .createOrReplaceTempView("mssrc2")
    ss.sql("""MERGE INTO g.ms t USING mssrc2 s ON t.k = s.k
      WHEN NOT MATCHED BY SOURCE AND t.k = 2 THEN UPDATE SET v = 99""")
    val got2 = ss.sql("SELECT k, v FROM g.ms").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got2 == Set((0L, 7L), (1L, 7L), (2L, 99L)), s"$got2")
  }

  test("TIMESTAMP AS OF: resolves the newest commit at or before the " +
      "timestamp (manifest-mtime clock) and serves that snapshot — " +
      "the pre-delete state reads whole; a pre-table timestamp " +
      "refuses loudly") {
    val wh = Files.createTempDirectory("graft-sqlcat-tsaof").toString
    val ss = sqlSession(wh)
    ss.sql("CREATE TABLE g.tt (k BIGINT)")
    Thread.sleep(25) // commit-clock granularity is the FS mtime (ms)
    val tEmpty = System.currentTimeMillis()
    ss.range(5).select($"id".as("k")).createOrReplaceTempView("ttsrc")
    ss.sql("INSERT INTO g.tt SELECT * FROM ttsrc")
    Thread.sleep(25)
    val tLoaded = System.currentTimeMillis()
    Thread.sleep(25)
    ss.sql("DELETE FROM g.tt WHERE k >= 3 AND k <= 4")
    def at(ms: Long) = ss.sql(
      s"SELECT k FROM g.tt TIMESTAMP AS OF timestamp_millis($ms)")
      .collect().map(_.getLong(0)).toSet
    assert(at(tLoaded) == (0L until 5L).toSet,
      "the pre-delete snapshot must read whole")
    assert(at(System.currentTimeMillis()) == Set(0L, 1L, 2L),
      "a now-timestamp reads the live state")
    assert(at(tEmpty).isEmpty,
      "a post-create pre-insert timestamp reads the empty table")
    val e = intercept[Exception](at(1000L))
    def msgs(t: Throwable): String =
      if (t == null) "" else t.getMessage + " | " + msgs(t.getCause)
    assert(msgs(e).contains("no commit at or before"), msgs(e))
  }

  test("TIMESTAMP AS OF on a PARTITIONED table: each leaf pins to its " +
      "own newest commit at or before the timestamp, a leaf born " +
      "later contributes nothing, and a post-ts delete does not " +
      "subtract") {
    val wh = Files.createTempDirectory("graft-sqlcat-ptt").toString
    val ss = sqlSession(wh)
    ss.sql("CREATE TABLE g.pt (k BIGINT, day INT) PARTITIONED BY (day)")
    ss.range(6).select($"id".as("k"), ($"id" % 2).cast("int").as("day"))
      .createOrReplaceTempView("ptsrc")
    ss.sql("INSERT INTO g.pt SELECT * FROM ptsrc")
    Thread.sleep(25)
    val t1 = System.currentTimeMillis()
    Thread.sleep(25)
    // wave 2 into the existing leaves, a brand-new day=7 leaf, and a
    // delete that reaches wave-1 rows — all AFTER t1
    ss.sql("INSERT INTO g.pt SELECT k + 100, day FROM ptsrc")
    ss.sql("INSERT INTO g.pt VALUES (777, 7)")
    ss.sql("DELETE FROM g.pt WHERE k >= 2 AND k <= 3")
    def at(ms: Long) = ss.sql(
      s"SELECT k, day FROM g.pt TIMESTAMP AS OF timestamp_millis($ms)")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(at(t1) == (0L until 6L).map(k => (k, (k % 2).toInt)).toSet,
      "the t1 snapshot must be wave 1, whole, with no day=7 leaf")
    val live = ss.sql("SELECT k, day FROM g.pt").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(at(System.currentTimeMillis()) == live,
      "a now-timestamp must equal the live read")
    assert(live.contains((777L, 7)) && !live.exists(_._1 == 2L))
    // writes against the pinned read refuse (read-only capabilities)
    intercept[Exception](ss.sql(
      s"INSERT INTO g.pt TIMESTAMP AS OF timestamp_millis($t1) " +
        "VALUES (1, 1)"))
    // a pre-table timestamp refuses loudly
    def msgs(t: Throwable): String =
      if (t == null) "" else t.getMessage + " | " + msgs(t.getCause)
    val e = intercept[Exception](at(1000L))
    assert(msgs(e).contains("no commit at or before"), msgs(e))
  }

  test("atomic CTAS / RTAS: the result builds in a hidden staging dir " +
      "and publishes with ONE rename — a failed CTAS leaves no table " +
      "(and no visible dir), REPLACE swaps content and schema, " +
      "partitioned CTAS lands the Hive-leaf layout") {
    val wh = Files.createTempDirectory("graft-sqlcat-ctas").toString
    val ss = sqlSession(wh)
    val fs = new Path(wh).getFileSystem(ss.sparkContext.hadoopConfiguration)
    ss.range(10).select($"id".as("k"), ($"id" * 2).as("v"))
      .createOrReplaceTempView("ctsrc")
    ss.sql("CREATE TABLE g.ct AS SELECT k, v FROM ctsrc WHERE k < 5")
    def rows(t: String) = ss.sql(s"SELECT * FROM $t").collect()
    assert(rows("g.ct").map(r => (r.getLong(0), r.getLong(1))).toSet
      == (0L until 5L).map(k => (k, k * 2)).toSet)
    // a FAILED CTAS publishes nothing: no table, no visible dir
    intercept[Exception](ss.sql(
      "CREATE TABLE g.bad AS SELECT k, assert_true(k < 5) AS chk " +
        "FROM ctsrc"))
    intercept[Exception](ss.table("g.bad").collect())
    assert(!fs.exists(new Path(s"$wh/bad")), "failed CTAS left a dir")
    val listed = ss.sql("SHOW TABLES IN g").collect()
      .map(_.getString(1)).toSet
    assert(listed.contains("ct") && !listed.contains("bad") &&
      !listed.exists(_.startsWith(".")), s"$listed")
    // RTAS: content AND schema swap; the old content is unreachable
    ss.sql("REPLACE TABLE g.ct AS SELECT k, CAST(k AS STRING) AS name " +
      "FROM ctsrc WHERE k >= 8")
    assert(rows("g.ct").map(r => (r.getLong(0), r.getString(1))).toSet
      == Set((8L, "8"), (9L, "9")))
    // CREATE OR REPLACE on a table that doesn't exist yet = CREATE
    ss.sql("CREATE OR REPLACE TABLE g.cor AS SELECT 1 AS one")
    assert(rows("g.cor").map(_.getInt(0)).toSeq == Seq(1))
    // partitioned CTAS: the Hive-leaf layout with per-leaf commit logs
    ss.sql("CREATE TABLE g.ctp PARTITIONED BY (day) AS " +
      "SELECT k, CAST(k % 2 + 1 AS INT) AS day FROM ctsrc")
    assert(fs.exists(new Path(s"$wh/ctp/day=1/_graft_log")),
      "partitioned CTAS must land per-leaf commit logs")
    assert(ss.sql("SELECT count(*) FROM g.ctp WHERE day = 2")
      .head.getLong(0) == 5L)
    // the staged shape is the ordinary table: inserts after CTAS work
    ss.sql("INSERT INTO g.ct SELECT 100, 'x'")
    assert(rows("g.ct").length == 3)
  }

  test("post-hoc key declaration VALIDATES uniqueness + non-null over " +
      "the existing data — duplicates and NULLs refuse loudly; " +
      "'key.validate'='false' opts out for the huge-table case") {
    val wh = Files.createTempDirectory("graft-sqlcat-keyval").toString
    val ss = sqlSession(wh)
    // duplicate-carrying column refuses
    ss.sql("CREATE TABLE g.dup (k BIGINT, v BIGINT)")
    ss.range(5).select(($"id" % 3).as("k"), $"id".as("v"))
      .createOrReplaceTempView("dupsrc")
    ss.sql("INSERT INTO g.dup SELECT * FROM dupsrc")
    val eDup = intercept[Exception](
      ss.sql("ALTER TABLE g.dup SET TBLPROPERTIES ('key'='k')"))
    assert(eDup.getMessage.contains("distinct"), eDup.getMessage)
    intercept[Exception](ss.sql("UPDATE g.dup SET v = 0 WHERE k = 1"))
    // NULL-carrying column refuses
    ss.sql("CREATE TABLE g.nul (k BIGINT, v BIGINT)")
    ss.range(5).select(when($"id" === 2, null).otherwise($"id")
      .cast("bigint").as("k"), $"id".as("v"))
      .createOrReplaceTempView("nulsrc")
    ss.sql("INSERT INTO g.nul SELECT * FROM nulsrc")
    val eNul = intercept[Exception](
      ss.sql("ALTER TABLE g.nul SET TBLPROPERTIES ('key'='k')"))
    assert(eNul.getMessage.contains("NULL"), eNul.getMessage)
    // the documented opt-out: same statement, directive consumed not
    // stored — the declaration lands despite the duplicates
    ss.sql("ALTER TABLE g.dup SET TBLPROPERTIES " +
      "('key'='k', 'key.validate'='false')")
    // a clean column still declares (the happy path is unchanged)
    ss.sql("CREATE TABLE g.ok (k BIGINT, v BIGINT)")
    ss.range(5).select($"id".as("k"), $"id".as("v"))
      .createOrReplaceTempView("oksrc")
    ss.sql("INSERT INTO g.ok SELECT * FROM oksrc")
    ss.sql("ALTER TABLE g.ok SET TBLPROPERTIES ('key'='k')")
    ss.sql("UPDATE g.ok SET v = 99 WHERE k = 3")
    assert(ss.sql("SELECT v FROM g.ok WHERE k = 3").collect()(0)
      .getLong(0) == 99)
  }
}
