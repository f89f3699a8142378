package graft

import java.io.File
import java.net.URI
import java.nio.file.{Files, LinkOption}

import scala.jdk.CollectionConverters._
import scala.util.Try

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, CreateFlag, FileContext,
  FileStatus, FileSystem, LocalFileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions._

import graft.fs.{NioLocalFileSystem, NioLocalFs, NioRawLocalFileSystem}
import graft.functions.GzipCodec
import graft.operators.TextIndex
import graft.streaming.ShipperStream

/** graft's `file:` filesystem (`graft.fs`, bound by `core-site.xml`): the
  * engine's writes start no process, and every result — modes, listings,
  * `.crc` files, link statuses, renames — is stock Hadoop's.
  */
class LocalFsSpec extends SparkSpec {

  private val root = URI.create("file:///")

  /** Commands of the processes Hadoop's `Shell` starts while `body` runs. */
  private def shellStarts(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try body finally rec.stop()
    val dump = Files.createTempFile("graft-localfs", ".jfr")
    try {
      rec.dump(dump)
      RecordingFile.readAllEvents(dump).asScala.toSeq
        .filter(e => Option(e.getStackTrace).exists(_.getFrames.asScala
          .exists(_.getMethod.getType.getName.startsWith("org.apache.hadoop.util.Shell"))))
        .map(_.getString("command"))
    } finally { rec.close(); Files.delete(dump) }
  }

  private def envelope(messages: Seq[String]): String = {
    val events = messages.zipWithIndex.map { case (m, i) =>
      s"""{"id":"$i","timestamp":155,"message":"$m"}""" }.mkString("[", ",", "]")
    val payload = s"""{"messageType":"DATA_MESSAGE","logGroup":"/aws/lambda/fs-fn","logStream":"s","logEvents":$events}"""
    val b64 = java.util.Base64.getEncoder
      .encodeToString(GzipCodec.gzip(payload.getBytes("UTF-8")))
    s"""{"data":"$b64","region":"us-east-1"}"""
  }

  private def stockFs: FileSystem = {
    val fs = new LocalFileSystem(); fs.initialize(root, new Configuration()); fs }
  private def graftFs: FileSystem = {
    val fs = new NioLocalFileSystem; fs.initialize(root, new Configuration()); fs }
  private def fileContext(impl: String): FileContext = {
    val conf = new Configuration()
    conf.set("fs.AbstractFileSystem.file.impl", impl)
    FileContext.getFileContext(AbstractFileSystem.createFileSystem(root, conf), conf)
  }
  private def stockFc = fileContext("org.apache.hadoop.fs.local.LocalFs")
  private def graftFc = fileContext(classOf[NioLocalFs].getName)

  /** (relative name, mode incl. sticky bit, bytes) of everything under `dir`. */
  private def tree(dir: java.nio.file.Path): Seq[(String, Int, Seq[Byte])] =
    Files.walk(dir).iterator().asScala.filter(_ != dir).toSeq.map { p =>
      val mode = Files.getAttribute(p, "unix:mode", LinkOption.NOFOLLOW_LINKS)
        .asInstanceOf[Int] & 0x0fff
      val bytes = if (Files.isRegularFile(p)) Files.readAllBytes(p).toSeq else Nil
      (dir.relativize(p).toString, mode, bytes)
    }.sortBy(_._1)

  test("core-site.xml binds graft's classes for FileSystem, FileContext and the session") {
    val conf = new Configuration()
    assert(FileSystem.newInstance(root, conf).getClass == classOf[NioLocalFileSystem])
    assert(FileContext.getFileContext(conf).getDefaultFileSystem.getClass == classOf[NioLocalFs])
    assert(new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getClass == classOf[NioLocalFileSystem])
  }

  test("a shipped stream and a BM25 append start no process through Hadoop's Shell") {
    val dir = Files.createTempDirectory("graft-localfs-noproc")
    val in = dir.resolve("in"); Files.createDirectories(in)
    Files.writeString(in.resolve("r1.json"), envelope(Seq("one", "two")))
    Files.writeString(in.resolve("r2.json"), envelope(Seq("three")))
    val bm25 = dir.resolve("bm25").toString
    val docs = spark.read.parquet(s"$sf001/documents.parquet").select("doc_id", "text")
    TextIndex.writeBm25Index(docs.filter(col("doc_id") % 2 === 0), bm25)

    val forks = shellStarts {
      val q = ShipperStream.start(spark, in.toString, dir.resolve("out").toString,
        dir.resolve("cp").toString, bulkSize = 2, triggerMs = 100L)
      try q.processAllAvailable() finally q.stop()
      TextIndex.appendBm25Index(docs.filter(col("doc_id") % 2 === 1), bm25)
    }
    assert(forks.size == 0, forks.take(4).mkString("\n"))
    assert(spark.read.text(dir.resolve("out/batch=0").toString).count() == 6)
    // the recorder sees the stock filesystem's chmod
    val probe = Files.createTempDirectory("graft-localfs-probe").resolve("f")
    Files.createFile(probe)
    val raw = new RawLocalFileSystem(); raw.initialize(root, new Configuration())
    assert(shellStarts(raw.setPermission(new Path(probe.toString),
      new FsPermission("600"))).exists(_.startsWith("chmod")))
  }

  test("files and directories get the stock modes and listings, .crc included") {
    def build(fs: FileSystem, fc: FileContext): java.nio.file.Path = {
      val dir = Files.createTempDirectory("graft-localfs-modes")
      def p(name: String) = new Path(dir.resolve(name).toString)
      def write(out: java.io.OutputStream): Unit = { out.write("graft\n".getBytes); out.close() }
      write(fs.create(p("f-default")))
      fs.mkdirs(p("d-default/nested"))
      for (m <- Seq("700", "755", "644")) {
        write(fs.create(p(s"f-$m"), new FsPermission(m), false, 4096,
          fs.getDefaultReplication(p(s"f-$m")), fs.getDefaultBlockSize(p(s"f-$m")), null))
        fs.mkdirs(p(s"d-$m"), new FsPermission(m))
        write(fc.create(p(s"fc-$m"), java.util.EnumSet.of(CreateFlag.CREATE),
          Options.CreateOpts.perms(new FsPermission(m))))
        fc.mkdir(p(s"fcd-$m"), new FsPermission(m), true)
      }
      write(fc.create(p("fc-default"), java.util.EnumSet.of(CreateFlag.CREATE)))
      fs.mkdirs(p("sticky"))
      fs.setPermission(p("sticky"), new FsPermission("1777"))
      dir
    }
    val stock = tree(build(stockFs, stockFc))
    val graft = tree(build(graftFs, graftFc))
    assert(graft == stock)
    val modes = graft.map(t => t._1 -> t._2).toMap
    assert(modes("sticky") == Integer.parseInt("1777", 8))
    assert(modes("f-700") == Integer.parseInt("700", 8))
    assert(modes.contains(".f-default.crc") && modes.contains(".fc-644.crc"))
  }

  test("getFileLinkStatus agrees with stock for files, dirs, missing paths and symlinks") {
    val dir = Files.createTempDirectory("graft-localfs-links")
    Files.writeString(dir.resolve("file"), "graft")
    Files.createDirectory(dir.resolve("dir"))
    Files.createSymbolicLink(dir.resolve("link"), dir.resolve("file"))
    Files.createSymbolicLink(dir.resolve("dangling"), dir.resolve("nowhere"))
    val stock = new RawLocalFileSystem(); stock.initialize(root, new Configuration())
    val graft = new NioRawLocalFileSystem; graft.initialize(root, new Configuration())
    def status(fs: FileSystem, p: Path): Either[String, Seq[Any]] =
      Try(fs.getFileLinkStatus(p)).toEither.fold(
        e => Left(s"${e.getClass.getName}: ${e.getMessage}"),
        (s: FileStatus) => Right(Seq(s.getPath, s.isFile, s.isDirectory, s.isSymlink,
          if (s.isSymlink) s.getSymlink else None, s.getLen, s.getModificationTime)))
    for (name <- Seq("file", "dir", "missing", "link", "dangling");
         p <- Seq(new Path(dir.resolve(name).toString),
           new Path(new File(dir.resolve(name).toString).toURI))) {
      assert(status(graft, p) == status(stock, p), p)
    }
    // unqualified paths see the link itself; a qualified one sees its target
    assert(status(graft, new Path(dir.resolve("link").toString)).exists(_(3) == true))
    assert(status(graft, new Path(dir.resolve("dangling").toString)).isRight)
    assert(status(graft, new Path(dir.resolve("missing").toUri)).isLeft)
  }

  test("FileContext renames, overwrite and no-overwrite, leave the stock files") {
    def run(fc: FileContext): (Seq[(String, Int, Seq[Byte])], Seq[String]) = {
      val dir = Files.createTempDirectory("graft-localfs-rename")
      def p(name: String) = new Path(dir.resolve(name).toUri)
      def write(name: String, body: String): Unit = {
        val out = fc.create(p(name), java.util.EnumSet.of(CreateFlag.CREATE))
        out.write(body.getBytes); out.close()
      }
      def rename(from: String, to: String, opt: Options.Rename): String =
        Try(fc.rename(p(from), p(to), opt)).fold(_.getClass.getName, _ => "ok")
      write("a", "one")
      write("c", "two"); write("d", "three")
      write("e", "four"); write("g", "five")
      val outcomes = Seq(rename("a", "b", Options.Rename.NONE),
        rename("c", "d", Options.Rename.OVERWRITE),
        rename("e", "g", Options.Rename.NONE))
      (tree(dir), outcomes)
    }
    val stock = run(stockFc)
    assert(run(graftFc) == stock)
    assert(stock._2 == Seq("ok", "ok", "org.apache.hadoop.fs.FileAlreadyExistsException"))
    assert(stock._1.map(_._1).contains(".b.crc"))
  }
}
