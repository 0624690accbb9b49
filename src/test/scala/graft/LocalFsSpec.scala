package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{GraftLocalFileSystem, GraftLocalFs, GraftRawLocalFileSystem}
import TestSpark._

/** graft's fork-free local filesystem (graft.sources.LocalFs): it is
  * what both Hadoop filesystem APIs resolve `file:` to, it answers
  * exactly as stock `RawLocalFileSystem` does, and the write-and-stream
  * gates no longer spawn `chmod`/`readlink` processes. */
class LocalFsSpec extends AnyFunSuite {
  private def hconf: Configuration = spark.sessionState.newHadoopConf()

  private def raw[T <: RawLocalFileSystem](fs: T): T = {
    fs.initialize(URI.create("file:///"), new Configuration())
    fs
  }
  private lazy val stock = raw(new RawLocalFileSystem)
  private lazy val ours = raw(new GraftRawLocalFileSystem)

  private def mode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff
  private def octal(s: String): Int = Integer.parseInt(s, 8)

  /** The commands of the processes this JVM started while `body` ran. */
  private def spawned(body: => Unit): Seq[String] = {
    val r = new Recording()
    r.enable("jdk.ProcessStart")
    r.start()
    try body finally r.stop()
    val f = Files.createTempFile("graft_localfs", ".jfr")
    try {
      r.dump(f)
      RecordingFile.readAllEvents(f).asScala.toSeq.map(_.getString("command"))
    } finally { r.close(); Files.delete(f) }
  }

  test("file:/// resolves to graft's classes on both Hadoop filesystem APIs") {
    val fs = FileSystem.get(URI.create("file:///"), hconf)
    assert(fs.isInstanceOf[GraftLocalFileSystem])
    assert(fs.asInstanceOf[LocalFileSystem].getRaw.isInstanceOf[GraftRawLocalFileSystem])
    assert(FileContext.getLocalFSFileContext(hconf).getDefaultFileSystem.isInstanceOf[GraftLocalFs])
  }

  test("setPermission leaves stock's POSIX bits; the sticky bit takes Hadoop's path") {
    val dir = Files.createTempDirectory("graft_localfs")
    for (m <- Seq("600", "644", "755")) {
      val (a, b) = (Files.createFile(dir.resolve(s"stock_$m")), Files.createFile(dir.resolve(s"ours_$m")))
      val perm = new FsPermission(octal(m).toShort)
      stock.setPermission(new Path(a.toUri), perm)
      assert(spawned(ours.setPermission(new Path(b.toUri), perm)).isEmpty)
      assert(mode(b) == octal(m) && mode(b) == mode(a), s"mode $m")
    }
    val sticky = Files.createDirectory(dir.resolve("sticky"))
    val cmds = spawned(ours.setPermission(new Path(sticky.toUri), new FsPermission(octal("1777").toShort)))
    assert(cmds.exists(_.contains("chmod")), cmds)
    assert(mode(sticky) == octal("1777"))
  }

  test("getFileLinkStatus matches stock on a regular file and a real symlink") {
    val dir = Files.createTempDirectory("graft_localfs")
    val file = Files.writeString(dir.resolve("f"), "abc")
    val link = Files.createSymbolicLink(dir.resolve("l"), file)
    def shape(s: FileStatus) =
      (s.getPath, s.isFile, s.isDirectory, s.isSymlink, if (s.isSymlink) s.getSymlink else null, s.getLen)
    for (p <- Seq(new Path(file.toUri), new Path(file.toString), new Path(link.toUri), new Path(link.toString))) {
      assert(shape(ours.getFileLinkStatus(p)) == shape(stock.getFileLinkStatus(p)), p)
    }
    // Hadoop's own test (readlink on new File(path.toString)) only
    // sees a link through an unqualified path
    assert(ours.getFileLinkStatus(new Path(link.toString)).isSymlink)
    assert(spawned(ours.getFileLinkStatus(new Path(file.toUri))).isEmpty)
  }

  test("a missing path still throws FileNotFoundException") {
    val missing = Files.createTempDirectory("graft_localfs").resolve("missing")
    for (p <- Seq(new Path(missing.toUri), new Path(missing.toString))) {
      intercept[FileNotFoundException](stock.getFileLinkStatus(p))
      intercept[FileNotFoundException](ours.getFileLinkStatus(p))
      intercept[FileNotFoundException](ours.setPermission(p, new FsPermission(octal("644").toShort)))
    }
  }

  test("st16 and la6 at sf0.001 spawn no chmod or readlink process") {
    val cmds = spawned {
      gate("st16_stream_dsv2_sink", sf0001).collect()
      gate("la6_sink_roundtrip", sf0001).collect()
    }
    assert(!cmds.exists(c => c.contains("chmod") || c.contains("readlink")),
      s"${cmds.size} spawns, first: ${cmds.take(3)}")
  }

  test("la12 and q15 at sf0.001 spawn no ls process") {
    // Hadoop's listFiles returns LocatedFileStatus, whose owner and
    // permission the local filesystem reads by forking `ls -ld` per file
    val cmds = spawned {
      gate("la12_compaction", sf0001).collect()
      gate("q15_summary_rewrite", sf0001).collect()
    }
    val ls = cmds.filter(c => "^(\\S*/)?ls(\\s|$)".r.findFirstIn(c).isDefined)
    assert(ls.size == 0, s"first: ${ls.take(3)}")
  }
}
