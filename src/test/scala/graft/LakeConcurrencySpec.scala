package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.lake.{Compaction, GraftFileIndex, ManifestCommit}
import graft.ops.Layout

/** GENUINELY CONCURRENT committers racing one manifest partition — the
  * property the per-attempt race guards (`dvsAdd` union, `requireLive`,
  * `expectedDvs`) exist for, exercised by real threads instead of the
  * unit-level simulations in ManifestCommitSpec. The workload is chosen
  * so every legal interleaving must land the SAME final relation
  * (appends touch a key space disjoint from every delete range, and the
  * delete ranges are mutually disjoint over the pre-populated keys;
  * compaction and DV-application move no logical rows) — so "equals the
  * serial replay" is well-defined, and any lost delete, resurrected
  * row, or double-adopted file shows up as a wrong final state or a
  * failed fsck. Writers whose commit aborts under a race (the
  * documented deleteWhereDV / applyDvs contract) retry, exactly as a
  * production job would. */
class LakeConcurrencySpec extends SparkSpec {
  import spark.implicits._

  private def rows(ks: Range) =
    ks.toDF("k").select($"k".cast("long").as("k"),
      ($"k" % 7).cast("long").as("g"), ($"k" * 3).cast("long").as("v"))

  test("append ∥ deleteWhereDV ∥ compact ∥ applyDvs converge to the " +
      "serial-replay state") {
    val dir = new Path(
      Files.createTempDirectory("graft-conc").toString + "/tbl")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Layout.writeLinear(rows(0 until 4000), col("k"), dir.toString, 8)
    ManifestCommit.bootstrap(fs, dir)
    ManifestCommit.recordStats(spark, dir, Seq("k"))
    ManifestCommit.recordSchema(spark, dir)

    val nOps = 6
    val errors = new ConcurrentLinkedQueue[Throwable]()
    // attempt-budget exhaustions retried as transient — COUNTED, so a
    // regression reintroducing conflict-exhaustion livelock (the
    // failure mode the commit-retry backoff fixes) fails the test
    // instead of hiding behind up to 30 silent retries per op
    val exhaustions = new java.util.concurrent.atomic.AtomicInteger(0)
    def retrying(what: String)(op: => Unit): Unit = {
      var attempts = 0
      var done = false
      while (!done) {
        attempts += 1
        try { op; done = true }
        catch {
          case e: RuntimeException
              if attempts < 30 && e.getMessage != null &&
                (e.getMessage.contains("retry") ||
                  e.getMessage.contains("rerun") ||
                  // attempt-budget exhaustion under the deliberate
                  // 7-way contention is transient, not a lost commit
                  e.getMessage.contains("straight commit conflicts")) =>
            if (e.getMessage.contains("straight commit conflicts"))
              exhaustions.incrementAndGet()
            Thread.sleep(50L * attempts)
          case e: Throwable =>
            errors.add(new RuntimeException(s"$what: ${e.getMessage}", e))
            done = true
        }
      }
    }
    def thread(name: String)(body: => Unit): Thread = {
      val t = new Thread(() =>
        try body
        catch { case e: Throwable => errors.add(e) }, name)
      t.start(); t
    }

    val appender = thread("appender") {
      (0 until nOps).foreach { i =>
        retrying(s"append $i") {
          ManifestCommit.stageAndPublish(spark, dir,
            rows(100000 + i * 200 until 100000 + i * 200 + 200),
            _ => true, statsCols = Seq("k"))
            .getOrElse(sys.error(s"publish $i rejected"))
        }
      }
    }
    val deleter = thread("deleter") {
      (0 until nOps).foreach { i =>
        retrying(s"dvdelete $i") {
          val lo = i * 600L
          ManifestCommit.deleteWhereDV(spark, dir, "k", lo, lo + 99L)
          ()
        }
      }
    }
    val compactor = thread("compactor") {
      (0 until nOps).foreach { _ =>
        // conflicts self-resolve: an aborted commit discards its output
        // and the next round re-reads the new head
        try Compaction.compactTableManifest(spark, dir.toString,
          maxFiles = 2, gcGraceMs = 10L * 60 * 1000, sortCol = Some("k"))
        catch { case _: RuntimeException => () }
        Thread.sleep(100)
      }
    }
    val dvApplier = thread("dv-applier") {
      (0 until nOps).foreach { _ =>
        try ManifestCommit.applyDvs(spark, dir, Seq("k"))
        catch { case _: RuntimeException => () } // raced rewrite: retry next round
        Thread.sleep(120)
      }
    }
    // sidecar METADATA compactor: merges whatever active sidecars it
    // observes; expectedDvs aborts it (returns 0) when a racing delete
    // lands a new sidecar mid-swap — a dropped sidecar would resurrect
    // its deleted rows, which the final-state check would catch
    val dvCompactor = thread("dv-compactor") {
      (0 until nOps).foreach { _ =>
        try { ManifestCommit.compactDvs(spark, dir); () }
        catch { case _: RuntimeException => () }
        Thread.sleep(140)
      }
    }
    // CDC applier on its OWN key domain (the applyChangesDV single-
    // writer-per-domain contract): repeatedly replaces keys 200000..
    // 200049 — the LAST round's values must be the final state, and
    // every earlier round's versions must be DV-dead, under racing
    // compaction/applyDvs consuming positioned files (requireLive
    // aborts + rerun)
    val upserter = thread("upserter") {
      (1 to nOps).foreach { round =>
        retrying(s"upsert $round") {
          ManifestCommit.applyChangesDV(spark, dir, "k",
            inserts = (200000L until 200050L).toDF("k")
              .select($"k", ($"k" % 7).as("g"),
                lit(round.toLong * 1000000L).as("v")),
            deleteKeys = spark.range(0).select($"id".as("k")),
            statsCols = Seq("k"))
          ()
        }
      }
    }
    // a CDC REPLICATOR races the five writers: each run consumes the
    // change feed from its replica txn watermark to whatever head it
    // observes mid-churn and applies one atomic netted commit — the
    // end-to-end replication semantics under a moving source, which the
    // unit tests only exercise against a quiet one
    val replicaRoot = dir.getParent.toString + "/replica"
    val replicator = thread("replicator") {
      (0 until nOps).foreach { _ =>
        retrying("replicate") {
          graft.lake.ChangeFeed.replicateTable(spark, dir.toString,
            replicaRoot, "k", appId = "conc-repl")
          ()
        }
        Thread.sleep(150)
      }
    }
    Seq(appender, deleter, compactor, dvApplier, dvCompactor, replicator,
      upserter).foreach(_.join(600000))
    assert(errors.isEmpty, s"worker failures: ${errors.size} — " +
      errors.peek())
    // the backoff keeps exhaustion RARE under this 7-way contention
    // (measured: 0–2 per run); a livelock regression would blow past
    // this bound instead of being silently absorbed by the retry loop
    assert(exhaustions.get() <= 6,
      s"${exhaustions.get()} attempt-budget exhaustions under " +
        "contention — the commit-retry backoff has regressed toward " +
        "conflict livelock")

    // the serial-replay expectation: initial ∪ appends − delete ranges,
    // regardless of interleaving
    val deleted = (0 until nOps)
      .flatMap(i => i * 600 until i * 600 + 100).toSet
    val want = ((0 until 4000).filterNot(deleted) ++
      (0 until nOps).flatMap(i =>
        100000 + i * 200 until 100000 + i * 200 + 200) ++
      (200000 until 200050))
      .map(_.toLong).sorted
    val got = GraftFileIndex.table(spark, dir.toString)
      .select("k", "g", "v").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    if (got.map(_._1).toSeq != want) {
      println("=== DIAG history ===")
      ManifestCommit.history(spark, dir).collect().foreach(println)
      println("=== DIAG fsck ===")
      graft.lake.ChangeFeed.fsck(spark, dir).collect().foreach(println)
    }
    assert(got.map(_._1).toSeq == want,
      s"keys diverged: got ${got.length}, want ${want.length}; " +
        s"missing=${(want.toSet -- got.map(_._1)).take(5)} " +
        s"extra=${(got.map(_._1).toSet -- want).take(5)}")
    got.foreach { case (k, g, v) =>
      if (k >= 200000L)
        // the upsert domain: ONLY the last round's version may be live
        assert(g == k % 7 && v == nOps.toLong * 1000000L,
          s"upsert key $k holds $v — a replaced version resurfaced")
      else
        assert(g == k % 7 && v == k * 3, s"row payload corrupted at k=$k")
    }
    assert(got.count(_._1 >= 200000L) == 50,
      "exactly one live version per upsert key")
    // no manifest-referenced file may be missing, and nothing orphaned
    // should be live-referenced twice — fsck must report zero `missing`
    val states = graft.lake.ChangeFeed.fsck(spark, dir)
      .groupBy("state").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(!states.contains("missing"), s"fsck: $states")
    // quiesce the replication: one final catch-up run, then the replica
    // must equal the source's logical head EXACTLY — whatever
    // interleaving the racing runs consumed, the txn watermarks and the
    // netted applies must land the same relation
    graft.lake.ChangeFeed.replicateTable(spark, dir.toString,
      replicaRoot, "k", appId = "conc-repl")
    val gotReplica = GraftFileIndex.table(spark, replicaRoot)
      .select("k", "g", "v").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(gotReplica.toSeq == got.toSeq,
      s"replica diverged from source head: got ${gotReplica.length} " +
        s"rows, want ${got.length}; " +
        s"missing=${(got.map(_._1).toSet -- gotReplica.map(_._1)).take(5)} " +
        s"extra=${(gotReplica.map(_._1).toSet -- got.map(_._1)).take(5)}")
  }
}
