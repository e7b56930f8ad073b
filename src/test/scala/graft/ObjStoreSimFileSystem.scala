package graft

import java.net.URI

import org.apache.hadoop.fs.{FSDataInputStream, FileUtil, Path, RawLocalFileSystem}

/** Simulated object store for the ManifestCommit specs: a local
  * filesystem whose RENAME IS NOT ATOMIC — it is per-object copy then
  * delete, exactly the S3A emulation — with a crash-injection hook that
  * kills the "process" partway through a multi-file rename. Single-object
  * writes (create/close) stay atomic, matching a real object store's PUT;
  * exclusive create stands in for S3's conditional PUT (the one primitive
  * ManifestCommit's commit point requires).
  *
  * Every `open` of a `*.manifest` path is counted
  * ([[ObjStoreSimFileSystem.manifestOpens]]) — one open is one metadata
  * GET on a real object store, so specs can pin a reader's per-leaf
  * metadata cost.
  *
  * Registered under the `objsim://` scheme via
  * `fs.objsim.impl = graft.ObjStoreSimFileSystem` in the test session.
  */
class ObjStoreSimFileSystem extends RawLocalFileSystem {
  override def getScheme: String = "objsim"
  override def getUri: URI = URI.create("objsim:///")

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    if (f.getName.endsWith(".manifest"))
      ObjStoreSimFileSystem.manifestOpens.incrementAndGet()
    super.open(f, bufferSize)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    val st =
      try getFileStatus(src)
      catch { case _: java.io.FileNotFoundException => return false }
    if (st.isDirectory) {
      if (exists(dst) && !getFileStatus(dst).isDirectory) return false
      // NON-ATOMIC directory "rename": each child is copied then deleted
      // individually; a crash leaves a visible mix of src and dst
      if (!exists(dst) && !mkdirs(dst)) return false
      val ok = listStatus(src).forall(c =>
        rename(c.getPath, new Path(dst, c.getPath.getName)))
      ok && delete(src, true)
    } else {
      if (exists(dst)) return false
      ObjStoreSimFileSystem.tick()
      // single-object copy is atomic (a PUT), the delete is a separate op
      if (!FileUtil.copy(this, src, this, dst, false, getConf)) return false
      ObjStoreSimFileSystem.tick()
      delete(src, false)
    }
  }
}

object ObjStoreSimFileSystem {
  /** Crash-injection fuse: set to N >= 0 to throw a SimulatedCrash after
    * N more per-object rename steps (copy and delete each count as one);
    * -1 disarms. */
  @volatile var fuse: Int = -1

  /** Opens of `*.manifest` paths since the last reset. */
  val manifestOpens = new java.util.concurrent.atomic.AtomicInteger()

  final class SimulatedCrash extends RuntimeException("simulated object-store crash")

  private[graft] def tick(): Unit = synchronized {
    if (fuse == 0) { fuse = -1; throw new SimulatedCrash }
    if (fuse > 0) fuse -= 1
  }
}
