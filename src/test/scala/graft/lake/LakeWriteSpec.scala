package graft.lake

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.SparkEnv
import org.apache.spark.util.SerializableConfiguration

import graft.{CountingLocalFileSystem, TaSourceSpec}
import graft.jobs.Pipeline
import graft.model.CheckRegistry

/** What one lake write ships to its tasks and what it leaves on the
  * local file system: one Hadoop job conf for all its tables, the
  * session's default modes, and the session's own `file:` file system
  * when it names one. */
class LakeWriteSpec extends TaSourceSpec {

  private def ingest(root: String, csv: Boolean): Unit =
    Pipeline.ingest(taSource(CheckRegistry.supported.map(_.id)),
      Some(tagSource()), Pipeline.Config(root,
        tagKeys = Seq("CostCenter", "Env"), csvFidelity = csv))

  /** Runs `body` with the session conf `settings` set. */
  private def withConf[T](settings: (String, String)*)(body: => T): T = {
    settings.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally settings.foreach { case (k, _) => spark.conf.unset(k) }
  }

  test("a write of the 10 TA tables ships one Hadoop job conf, not one " +
      "per table") {
    val root = Files.createTempDirectory("graft-shipped").toString
    val (routed, targets) = Pipeline.ingestTables(
      taSource(CheckRegistry.supported.map(_.id)), Some(tagSource()),
      Pipeline.Config(root, tagKeys = Seq("CostCenter", "Env")))
    assert(targets.size == 10)
    val (conf, sinks) = FanoutSink.prepare(routed, targets, csv = false)
    val shared = spark.sparkContext.broadcast(new SerializableConfiguration(conf))
    try {
      val ser = SparkEnv.get.closureSerializer.newInstance()
      def bytes(o: AnyRef): Int = ser.serialize(o).remaining
      // the task closure, plus the conf its executor fetches once
      val shipped = bytes(FanoutSink.writeTask("job", shared, sinks) _) +
        bytes(shared.value)
      val one = bytes(
        new SerializableConfiguration(spark.sessionState.newHadoopConf()))
      assert(shipped < 2 * one, s"a write task receives $shipped bytes; " +
        s"one session conf is $one")
    } finally shared.destroy()
  }

  /** Every dir and file below `root` whose mode is not the one Hadoop's
    * defaults give it under the session's `fs.permissions.umask-mode`. */
  private def offModes(root: String): Seq[String] = {
    val umask = FsPermission.getUMask(spark.sessionState.newHadoopConf())
    val dir = FsPermission.getDirDefault.applyUMask(umask).toString
    val file = FsPermission.getFileDefault.applyUMask(umask).toString
    filesUnder(root).toSeq.filter(_ != root).map(Paths.get(_)).flatMap { p =>
      val mode = PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
      val want = if (Files.isDirectory(p)) dir else file
      if (mode == want) None else Some(s"$p: $mode, not $want")
    }
  }

  test("every dir and file of a parquet or csvFidelity ingest has the " +
      "session umask's default mode, at 022 and at 077") {
    for (umask <- Seq("022", "077"); csv <- Seq(false, true))
      withConf("fs.permissions.umask-mode" -> umask) {
        val root = Files.createTempDirectory("graft-modes").toString
        ingest(root, csv)
        val names = filesUnder(root).map(new Path(_).getName)
        assert(names.exists(_.endsWith(".crc")) && names("_SUCCESS") &&
          names("year=2024"), s"umask $umask, csvFidelity=$csv: $names")
        val off = offModes(root)
        assert(off.isEmpty, s"umask $umask, csvFidelity=$csv: " +
          s"${off.size} paths off, e.g. ${off.take(3).mkString("; ")}")
      }
  }

  test("a file: file system the session names sees the lake's writes") {
    val root = Files.createTempDirectory("graft-ownfs").toString
    CountingLocalFileSystem.created.clear()
    withConf("fs.file.impl" -> classOf[CountingLocalFileSystem].getName,
        "fs.file.impl.disable.cache" -> "true") {
      ingest(root, csv = false)
    }
    val created =
      CountingLocalFileSystem.created.asScala.map(new Path(_).getName).toSet
    val data = filesUnder(root).map(new Path(_).getName)
      .filter(_.startsWith("part-"))
    assert(data.nonEmpty)
    assert(data.subsetOf(created), s"not created through the session's " +
      s"file system: ${data -- created}")
    assert(created("_SUCCESS"))
  }
}
