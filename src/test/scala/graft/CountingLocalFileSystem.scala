package graft

import org.apache.hadoop.fs.{FSDataOutputStream, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** Hadoop's `file:` file system, recording every file it creates
  * ([[CountingLocalFileSystem.created]]), so a spec can tell that a write
  * went through the file system the session names. Registered with
  * `fs.file.impl = graft.CountingLocalFileSystem` (and
  * `fs.file.impl.disable.cache = true`, or the JVM's cached `file:` file
  * system answers instead) in the test session. */
class CountingLocalFileSystem extends LocalFileSystem {
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    CountingLocalFileSystem.created.add(f.toString)
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }
}

object CountingLocalFileSystem {
  /** Paths created since the last clear. */
  val created = new java.util.concurrent.ConcurrentLinkedQueue[String]()
}
