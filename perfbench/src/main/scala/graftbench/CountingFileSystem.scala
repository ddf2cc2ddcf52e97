package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The `file` scheme with call counters, installed for the traced run
  * through `spark.hadoop.fs.file.impl`. Hadoop's own statistics for the
  * local filesystem count bytes but report zero list, open and write
  * operations, so the counts are taken here. Each call is counted under
  * the phase the harness has set (`commit` around write verbs, `read`
  * around read verbs); calls outside both go to `other`. */
class CountingFileSystem extends LocalFileSystem {
  import CountingFileSystem.count

  override def listStatus(p: Path): Array[FileStatus] = { count("list"); super.listStatus(p) }
  override def open(p: Path, bufferSize: Int): FSDataInputStream = {
    count("open"); super.open(p, bufferSize)
  }
  override def create(p: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    count("create")
    super.create(p, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = { count("rename"); super.rename(src, dst) }
  override def getFileStatus(p: Path): FileStatus = { count("status"); super.getFileStatus(p) }
}

object CountingFileSystem {
  val Ops: Seq[String] = Seq("list", "open", "create", "rename", "status")
  @volatile var phase: String = "other"
  private val counts = new ConcurrentHashMap[String, LongAdder]()

  private def count(op: String): Unit =
    counts.computeIfAbsent(s"$phase.$op", _ => new LongAdder).increment()

  def get(phase: String, op: String): Long =
    Option(counts.get(s"$phase.$op")).fold(0L)(_.sum())

  def inPhase[A](p: String)(body: => A): A = {
    val prev = phase
    phase = p
    try body finally phase = prev
  }
}
