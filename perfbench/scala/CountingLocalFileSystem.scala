package perfbench

import java.util.EnumSet

import org.apache.hadoop.fs.{CreateFlag, FSDataOutputStream, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local filesystem, recording every file created through it. Used
  * only when classifying rows (`fs.file.impl`), never in timed runs. */
class CountingLocalFileSystem extends LocalFileSystem {
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    CountingLocalFileSystem.created.add(makeQualified(f).toUri.getPath)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def createNonRecursive(f: Path, permission: FsPermission,
      flags: EnumSet[CreateFlag], bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    CountingLocalFileSystem.created.add(makeQualified(f).toUri.getPath)
    super.createNonRecursive(f, permission, flags, bufferSize, replication, blockSize, progress)
  }
}

object CountingLocalFileSystem {
  val created = new java.util.concurrent.ConcurrentLinkedQueue[String]()
}
