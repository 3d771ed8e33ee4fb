package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, LinkOption}
import java.nio.file.attribute.{BasicFileAttributeView, FileTime}

import scala.util.Try

import org.apache.hadoop.fs.{FileContext, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The fork-free local filesystems GraftSession registers for `file://`:
  * they are what both Hadoop APIs resolve, they leave the same modes and
  * link statuses as Hadoop's stock raw local filesystem, and a streaming
  * checkpoint written through them still carries its integrity files.
  */
class LocalFsSpec extends SparkSpec {

  private def conf = spark.sessionState.newHadoopConf()

  private def tmp(tag: String) = Files.createTempDirectory(s"graft-$tag")

  /** One stock and one fork-free raw filesystem, each with its own root. */
  private def pair(): Seq[(RawLocalFileSystem, java.nio.file.Path)] =
    Seq(new RawLocalFileSystem, new ForkFreeRawLocalFileSystem).map { fs =>
      fs.initialize(URI.create("file:///"), conf)
      fs -> tmp("localfs")
    }

  /** Every mode bit on disk, sticky bit included. */
  private def mode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0x0fff

  test("file:// resolves to the fork-free classes through FileSystem and FileContext") {
    val fs = FileSystem.get(URI.create("file:///"), conf)
    assert(fs.getClass === classOf[ForkFreeLocalFileSystem])
    assert(FileSystem.getLocal(conf).getRaw.getClass === classOf[ForkFreeRawLocalFileSystem])
    assert(FileContext.getFileContext(conf).getDefaultFileSystem.getClass === classOf[ForkFreeLocalFs])
    assert(FileContext.getFileContext(URI.create("file:///"), conf)
      .getDefaultFileSystem.getClass === classOf[ForkFreeLocalFs])
  }

  test("modes after create, mkdirs and setPermission match the stock raw filesystem") {
    val steps: Seq[(String, (RawLocalFileSystem, java.nio.file.Path) => java.nio.file.Path)] = Seq(
      "default create" -> { (fs, root) =>
        fs.create(new Path(root.resolve("f").toString)).close(); root.resolve("f") },
      "mkdirs" -> { (fs, root) =>
        fs.mkdirs(new Path(root.resolve("d/e").toString), new FsPermission("755"))
        root.resolve("d/e") },
      "file 0600" -> perm("f", "600"),
      "file 0640" -> perm("f", "640"),
      "file 0755" -> perm("f", "755"),
      "dir sticky 1777" -> perm("d", "1777"),
      "dir 0755 after sticky" -> perm("d", "755"))
    val fss = pair()
    steps.foreach { case (name, step) =>
      val Seq(stock, ours) = fss.map { case (fs, root) => mode(step(fs, root)) }
      assert(ours === stock, f"$name: 0$ours%o vs stock 0$stock%o")
    }
    val (_, root) = fss.last
    assert(mode(root.resolve("f")) === Integer.parseInt("755", 8))
    assert(mode(root.resolve("d")) === Integer.parseInt("755", 8))
  }

  private def perm(rel: String, octal: String) = { (fs: RawLocalFileSystem, root: java.nio.file.Path) =>
    fs.setPermission(new Path(root.resolve(rel).toString), new FsPermission(octal))
    root.resolve(rel)
  }

  test("getFileLinkStatus matches the stock raw filesystem on files, dirs, links and missing paths") {
    val fss = pair()
    fss.foreach { case (_, root) =>
      Files.write(root.resolve("file"), "abc".getBytes)
      Files.createDirectory(root.resolve("dir"))
      Files.createSymbolicLink(root.resolve("link"), root.resolve("file"))
      Files.createSymbolicLink(root.resolve("dangling"), root.resolve("gone"))
      // the trees are written one after the other: give both one mtime, so a
      // clock tick between the writes is not read as a filesystem difference
      Seq("file", "dir", "link", "dangling").foreach { n =>
        Files.getFileAttributeView(root.resolve(n), classOf[BasicFileAttributeView],
          LinkOption.NOFOLLOW_LINKS).setTimes(FileTime.fromMillis(1700000000000L), null, null)
      }
    }
    // the same tree under two roots: every field but the root itself, or the
    // exception class. A qualified path hides links from Hadoop's readlink,
    // so it is checked too.
    def status(fs: RawLocalFileSystem, root: java.nio.file.Path, name: String, qualified: Boolean) = {
      val p = new Path(root.resolve(name).toString)
      Try(fs.getFileLinkStatus(if (qualified) fs.makeQualified(p) else p)).map { s =>
        Seq(s.getPath, s.isFile, s.isDirectory, s.isSymlink,
          if (s.isSymlink) s.getSymlink else "", s.getLen, s.getModificationTime)
          .map(_.toString.replace(root.toString, "<root>"))
      }.toEither.left.map(_.getClass)
    }
    for (name <- Seq("file", "dir", "link", "dangling", "missing"); qualified <- Seq(false, true)) {
      val Seq(stock, ours) = fss.map { case (fs, root) => status(fs, root, name, qualified) }
      assert(ours === stock, s"$name qualified=$qualified")
    }
    val (ours, root) = fss.last
    def of(name: String) = status(ours, root, name, qualified = false)
    assert(of("link").map(_.slice(3, 5)) === Right(Seq("true", s"file:<root>/file")))
    assert(of("dangling").map(_.slice(3, 5)) === Right(Seq("true", s"file:<root>/gone")))
    assert(of("file").map(_(3)) === Right("false"))
    assert(of("missing") === Left(classOf[FileNotFoundException]))
  }

  test("a streaming aggregation's state deltas keep their .crc and checkpoint checksum files") {
    import spark.implicits._
    assert(!spark.conf.getOption("spark.sql.streaming.checkpoint.fileChecksum.enabled").contains("false"))
    val src = graft.sources.Sources.memoryStream[Int](spark)
    val ckpt = tmp("ckpt-localfs")
    val q = src.toDS().groupBy($"value" % 3).count()
      .writeStream.option("checkpointLocation", ckpt.toString)
      .format("noop").outputMode("update").start()
    try {
      src.addData(1, 2, 3)
      q.processAllAvailable()
      src.addData(4, 5)
      q.processAllAvailable()
    } finally q.stop()
    val files = Files.walk(ckpt.resolve("state")).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(Files.isRegularFile(_)).toSet
    val deltas = files.filter(_.getFileName.toString.endsWith(".delta"))
    assert(deltas.nonEmpty, files.mkString("\n"))
    deltas.foreach { d =>
      val name = d.getFileName.toString
      // Hadoop's `.crc` and Spark's checkpoint checksum file
      Seq(s".$name.crc", s"$name.crc").foreach { sibling =>
        assert(files.contains(d.resolveSibling(sibling)), s"$sibling missing beside $d")
      }
    }
  }
}
