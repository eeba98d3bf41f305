package graft

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

import org.apache.commons.io.FileUtils
import org.scalatest.{BeforeAndAfterAll, Suite}

/** Scratch directories for a spec, deleted once the whole spec has run. */
trait TempDirs extends BeforeAndAfterAll { this: Suite =>
  private val made = ArrayBuffer.empty[Path]

  /** A new empty directory under `java.io.tmpdir`, named with `prefix`. */
  protected def tempDir(prefix: String): Path = made.synchronized {
    val dir = Files.createTempDirectory(prefix)
    made += dir
    dir
  }

  override protected def afterAll(): Unit =
    try super.afterAll()
    finally made.foreach(d => FileUtils.deleteQuietly(d.toFile))
}
