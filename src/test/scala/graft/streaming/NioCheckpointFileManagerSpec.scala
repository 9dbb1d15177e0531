package graft.streaming

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.scalatest.funsuite.AnyFunSuite

/** The createAtomic commit contract: overwrite mode replaces, no-overwrite
  * mode SURFACES an existing destination as Hadoop's
  * FileAlreadyExistsException (HDFSMetadataLog's concurrent-writer guard)
  * instead of silently dropping the write — and never leaves the temp
  * sibling behind in either outcome. */
class NioCheckpointFileManagerSpec extends AnyFunSuite {

  private def mgr(dir: java.nio.file.Path): NioCheckpointFileManager =
    new NioCheckpointFileManager(
      new Path(s"file:${dir.toAbsolutePath}"), new Configuration())

  /** A manager on a mount without hard links: link(2) fails with EPERM. */
  private def noLinkMgr(dir: java.nio.file.Path): NioCheckpointFileManager =
    new NioCheckpointFileManager(
        new Path(s"file:${dir.toAbsolutePath}"), new Configuration()) {
      override private[streaming] def hardLink(dst: java.nio.file.Path,
          src: java.nio.file.Path): Unit =
        throw new java.nio.file.FileSystemException(
          dst.toString, src.toString, "Operation not permitted")
    }

  private def names(dir: java.nio.file.Path): List[String] =
    scala.util.Using.resource(Files.list(dir))(
      _.iterator().asScala.map(_.getFileName.toString).toList.sorted)

  private def write(m: NioCheckpointFileManager, p: Path, body: String,
      overwrite: Boolean): Unit = {
    val out = m.createAtomic(p, overwriteIfPossible = overwrite)
    out.write(body.getBytes("UTF-8"))
    out.close()
  }

  private def read(p: java.nio.file.Path): String =
    new String(Files.readAllBytes(p), "UTF-8")

  test("overwriteIfPossible=true replaces an existing destination") {
    val dir = Files.createTempDirectory("nio_ckpt_spec")
    val m = mgr(dir)
    val dst = new Path(s"file:${dir.resolve("offsets")}")
    write(m, dst, "v1", overwrite = true)
    write(m, dst, "v2", overwrite = true)
    assert(read(dir.resolve("offsets")) == "v2")
  }

  test("overwriteIfPossible=false commits a fresh destination") {
    val dir = Files.createTempDirectory("nio_ckpt_spec")
    val m = mgr(dir)
    write(m, new Path(s"file:${dir.resolve("batch-0")}"), "first", overwrite = false)
    assert(read(dir.resolve("batch-0")) == "first")
  }

  test("overwriteIfPossible=false on an existing destination throws " +
      "FileAlreadyExistsException and keeps the first write") {
    val dir = Files.createTempDirectory("nio_ckpt_spec")
    val m = mgr(dir)
    val dst = new Path(s"file:${dir.resolve("batch-1")}")
    write(m, dst, "winner", overwrite = false)
    intercept[FileAlreadyExistsException] {
      write(m, dst, "loser", overwrite = false)
    }
    assert(read(dir.resolve("batch-1")) == "winner")
  }

  test("no temp sibling survives a commit, a conflict, or a cancel") {
    val dir = Files.createTempDirectory("nio_ckpt_spec")
    val m = mgr(dir)
    val dst = new Path(s"file:${dir.resolve("commit-log")}")
    write(m, dst, "a", overwrite = false)
    intercept[FileAlreadyExistsException] {
      write(m, dst, "b", overwrite = false)
    }
    write(m, dst, "c", overwrite = true)
    val cancelled = m.createAtomic(dst, overwriteIfPossible = true)
    cancelled.write("d".getBytes("UTF-8"))
    cancelled.cancel()
    assert(names(dir) == List("commit-log"), s"unexpected leftovers: ${names(dir)}")
    assert(read(dir.resolve("commit-log")) == "c")
  }

  test("without hard links, a no-overwrite commit falls back to check-then-move") {
    val dir = Files.createTempDirectory("nio_ckpt_spec")
    val m = noLinkMgr(dir)
    val dst = new Path(s"file:${dir.resolve("batch-2")}")
    write(m, dst, "winner", overwrite = false)
    assert(read(dir.resolve("batch-2")) == "winner")
    intercept[FileAlreadyExistsException] {
      write(m, dst, "loser", overwrite = false)
    }
    assert(read(dir.resolve("batch-2")) == "winner")
    assert(names(dir) == List("batch-2"), s"unexpected leftovers: ${names(dir)}")
  }
}
