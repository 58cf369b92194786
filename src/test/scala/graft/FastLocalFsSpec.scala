package graft.sources

import java.nio.file.Files

import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, Path}
import org.scalatest.funsuite.AnyFunSuite

/** Symlink parity of the fork-free FileContext local store
  * ([[FastLocalFs]]) with Hadoop's stock `LocalFs`: the fast store keeps
  * the stock symlink surface (it overrides none of it), so link status,
  * link targets, symlink support and link creation answer the same. */
class FastLocalFsSpec extends AnyFunSuite {

  private def contextOf(fast: Boolean): FileContext = {
    val conf = new Configuration()
    if (fast) conf.set("fs.AbstractFileSystem.file.impl",
      classOf[FastLocalFs].getName)
    FileContext.getFileContext(new java.net.URI("file:///"), conf)
  }

  /** A probe's answer, or the class of what it threw. */
  private def probe(f: => Any): Any = Try(f).fold(_.getClass, identity)

  /** Everything observable about one file, a link to it and a dangling
    * link, through `fc`. */
  private def observe(fc: FileContext, dir: java.nio.file.Path): Seq[Any] = {
    def p(n: String) = new Path(dir.resolve(n).toUri)
    val (file, link, dangling) = (p("data"), p("link"), p("dangling"))
    Seq(
      probe(fc.getFileLinkStatus(file).isSymlink),
      probe(fc.getFileLinkStatus(file).getLen),
      probe(fc.getFileLinkStatus(link).isSymlink),
      probe(fc.getFileLinkStatus(link).getSymlink.getName),
      probe(fc.getFileLinkStatus(dangling).isSymlink),
      probe(fc.getLinkTarget(link).getName),
      probe(fc.getFileStatus(link).getLen),
      probe(fc.getDefaultFileSystem.supportsSymlinks),
      probe(fc.createSymlink(file, p(s"made-${fc.hashCode}"), false)))
  }

  test("FastLocalFs answers symlink probes exactly like stock LocalFs") {
    val dir = Files.createTempDirectory("graft_fastfs")
    Files.write(dir.resolve("data"), "12345".getBytes("UTF-8"))
    Files.createSymbolicLink(dir.resolve("link"), dir.resolve("data"))
    Files.createSymbolicLink(dir.resolve("dangling"), dir.resolve("missing"))
    assert(contextOf(fast = true).getDefaultFileSystem.isInstanceOf[FastLocalFs])
    val stock = observe(contextOf(fast = false), dir)
    assert(stock.take(2) == Seq(false, 5L), stock)
    assert(observe(contextOf(fast = true), dir) == stock)
  }
}
