package graft.ops

import java.net.URI

import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}
import org.apache.spark.sql.SparkSession

/** The local file system under the `publishkill:` scheme, for code that
  * opens a path's own file system (a compaction, a probe). While
  * [[PublishKillFs.killing]] runs, the first rename of a hidden staging
  * dir onto a visible path — a publish's rename in — fails, and from
  * then on every rename fails and every delete is skipped, the publish's
  * own restore and cleanup included. That leaves what a process killed
  * between the two renames of a publish leaves, whatever the staging and
  * aside dirs are named. Renames that write files (a commit into staging)
  * and the rename aside pass through. */
class PublishKillFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("publishkill:///")
  override def getScheme: String = "publishkill"
  override def rename(src: Path, dst: Path): Boolean = {
    if (PublishKillFs.armed && src.getName.startsWith(".") &&
        !dst.getName.startsWith("."))
      PublishKillFs.killed = true
    !PublishKillFs.killed && super.rename(src, dst)
  }
  override def delete(p: Path, recursive: Boolean): Boolean =
    !PublishKillFs.killed && super.delete(p, recursive)
  // the local statuses load permissions through a `file:` URI, which
  // this scheme's paths are not; recursive listings need none
  override def getFileStatus(p: Path): FileStatus =
    plain(super.getFileStatus(p))
  override def listStatus(p: Path): Array[FileStatus] =
    super.listStatus(p).map(plain)
  private def plain(s: FileStatus) = new FileStatus(s.getLen, s.isDirectory,
    s.getReplication, s.getBlockSize, s.getModificationTime, s.getPath)
}

object PublishKillFs {
  @volatile private var armed = false
  @volatile private var killed = false

  /** `dir` under the `publishkill:` scheme, registered with `spark`. */
  def path(spark: SparkSession, dir: String): String = {
    spark.sparkContext.hadoopConfiguration
      .set("fs.publishkill.impl", classOf[PublishKillFs].getName)
    s"publishkill://$dir"
  }

  /** Runs `body` with the kill armed; renames work again afterwards. */
  def killing[T](body: => T): T = {
    armed = true
    try body
    finally { armed = false; killed = false }
  }
}
