package graft

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, CreateFlag, FileContext, Options, Path}
import org.scalatest.funsuite.AnyFunSuite

/** [[graft.io.BareLocalAbstractFs]] writes no `.crc` sidecars, so replacing
  * a file that the stock checksummed `LocalFs` wrote must not leave the
  * old sidecar behind: the stock checksummed `LocalFileSystem` then reads
  * the new bytes back instead of failing with a `ChecksumException`. */
class BareLocalFsSpec extends AnyFunSuite {
  private val conf = {
    val c = new Configuration()
    c.set("fs.AbstractFileSystem.file.impl", "org.apache.hadoop.fs.local.LocalFs")
    c
  }
  private val root = new java.net.URI("file:///")
  private def stock = FileContext.getFileContext(
    AbstractFileSystem.createFileSystem(root, conf), conf)
  private def bare = FileContext.getFileContext(
    new graft.io.BareLocalAbstractFs(root, conf), conf)
  private def stockRead(p: Path): String = {
    val fs = new org.apache.hadoop.fs.LocalFileSystem()
    fs.initialize(root, conf)
    val in = fs.open(p)
    try new String(in.readAllBytes(), UTF_8) finally { in.close(); fs.close() }
  }

  private def write(fc: FileContext, p: Path, text: String): Unit = {
    val out = fc.create(p, java.util.EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
    try out.write(text.getBytes(UTF_8)) finally out.close()
  }

  private def withDir(body: java.io.File => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("graft_bare_crc").toFile
    try body(dir) finally org.apache.commons.io.FileUtils.deleteQuietly(dir)
  }

  test("overwrite through BareLocalAbstractFs drops the stale .crc; the checksummed LocalFileSystem reads the new bytes") {
    withDir { dir =>
      val p = new Path(s"file://$dir/meta.json")
      write(stock, p, "aaaa")
      assert(new java.io.File(dir, ".meta.json.crc").exists())
      write(bare, p, "bbbb")
      assert(stockRead(p) == "bbbb")
      assert(!new java.io.File(dir, ".meta.json.crc").exists())
    }
  }

  test("rename onto a checksummed file through BareLocalAbstractFs drops its stale .crc") {
    withDir { dir =>
      val src = new Path(s"file://$dir/next.json")
      val dst = new Path(s"file://$dir/meta.json")
      write(stock, dst, "aaaa")
      write(bare, src, "bbbb")
      bare.rename(src, dst, Options.Rename.OVERWRITE)
      assert(stockRead(dst) == "bbbb")
      assert(!new java.io.File(dir, ".meta.json.crc").exists())
    }
  }
}
