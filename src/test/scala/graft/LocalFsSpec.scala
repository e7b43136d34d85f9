package graft

import java.io.{FileNotFoundException, IOException}
import java.net.URI
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{CdcStream, UpsertSink}
import graft.streaming.CdcStream.Change

/** graft's `file:` file systems answer `setPermission` and
  * `getFileLinkStatus` in-process with the same results as Hadoop's
  * stock `RawLocalFileSystem`, and a session's state store, metadata
  * logs, sink and parquet writes fork no `org.apache.hadoop.util.Shell`
  * process.
  */
class LocalFsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val Root = new URI("file:///")

  private def rawFs(fs: RawLocalFileSystem, umask: Option[String] = None): RawLocalFileSystem = {
    val conf = new Configuration()
    umask.foreach(conf.set(FsPermission.UMASK_LABEL, _))
    fs.initialize(Root, conf)
    fs
  }

  private def mode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  /** The modes `body` leaves on `names` under a fresh dir, per file system. */
  private def modesAfter(fs: RawLocalFileSystem, names: Seq[String])(body: (RawLocalFileSystem, Path) => Unit)
      : Seq[(String, String)] = {
    val dir = Files.createTempDirectory("localfs")
    body(fs, new Path(dir.toString))
    names.map(n => n -> mode(dir.resolve(n)).toOctalString)
  }

  private def sameModes(names: String*)(body: (RawLocalFileSystem, Path) => Unit, umask: Option[String] = None)
      : Unit = {
    val stock = modesAfter(rawFs(new RawLocalFileSystem, umask), names)(body)
    val nio = modesAfter(rawFs(new NioRawLocalFileSystem, umask), names)(body)
    assert(nio === stock)
  }

  for (umask <- Seq(None, Some("027"))) {
    test(s"create and mkdirs leave the stock permissions (umask ${umask.getOrElse("default")})") {
      val perms = Seq(0x1a4, 0x1ed, 0x1c0).map(b => new FsPermission(b.toShort)) // 0644, 0755, 0700
      sameModes(Seq("plain") ++ perms.indices.flatMap(i => Seq(s"f$i", s"d$i", s"d$i/sub")): _*)({ (fs, dir) =>
        fs.create(new Path(dir, "plain")).close()
        perms.zipWithIndex.foreach { case (perm, i) =>
          fs.create(new Path(dir, s"f$i"), perm, true, 4096, 1.toShort, 1L << 25, null).close()
          assert(fs.mkdirs(new Path(dir, s"d$i/sub"), perm))
        }
      }, umask)
    }
  }

  test("a sticky bit and a setgid directory take the forked chmod, with the stock result") {
    sameModes("sticky", "setgid") { (fs, dir) =>
      val sticky = new Path(dir, "sticky")
      assert(fs.mkdirs(sticky))
      fs.setPermission(sticky, new FsPermission(0x3ed.toShort)) // 01755
      val setgid = new Path(dir, "setgid")
      assert(fs.mkdirs(setgid))
      Files.setAttribute(Paths.get(setgid.toString), "unix:mode", Int.box(0x5fd)) // 02775
      fs.setPermission(setgid, new FsPermission(0x1ed.toShort)) // 0755
    }
  }

  private def linkStatus(fs: FileSystem, p: Path): Either[String, Seq[Any]] =
    try {
      val s = fs.getFileLinkStatus(p)
      Right(Seq(s.getPath, s.isFile, s.isDirectory, s.isSymlink, if (s.isSymlink) s.getSymlink else null,
        s.getLen, s.getModificationTime, s.getAccessTime, s.getPermission, s.getOwner, s.getGroup))
    } catch { case e: IOException => Left(e.getClass.getName) }

  private def linkTarget(fs: FileSystem, p: Path): Either[String, Path] =
    try Right(fs.getLinkTarget(p)) catch { case e: IOException => Left(e.getClass.getName) }

  test("getFileLinkStatus and getLinkTarget equal the stock readlink answers") {
    val dir = Files.createTempDirectory("localfs_links")
    Files.write(dir.resolve("file"), "x".getBytes)
    Files.createDirectory(dir.resolve("dir"))
    Files.createSymbolicLink(dir.resolve("link"), dir.resolve("file"))
    Files.createSymbolicLink(dir.resolve("dangling"), dir.resolve("gone"))
    val stock = rawFs(new RawLocalFileSystem)
    val nio = rawFs(new NioRawLocalFileSystem)
    val names = Seq("file", "dir", "link", "dangling", "missing")
    for (name <- names; p <- Seq(new Path(dir.resolve(name).toString), new Path(s"file:${dir.resolve(name)}"))) {
      assert(linkStatus(nio, p) === linkStatus(stock, p), p)
      assert(linkTarget(nio, p) === linkTarget(stock, p), p)
    }
    val unqualified = new Path(dir.resolve("link").toString)
    assert(nio.getFileLinkStatus(unqualified).isSymlink)
    assert(nio.getLinkTarget(unqualified) === new Path(dir.resolve("file").toString))
    for (p <- Seq(new Path(dir.resolve("missing").toString), new Path(s"file:${dir.resolve("missing")}"))) {
      intercept[FileNotFoundException](stock.getFileLinkStatus(p))
      intercept[FileNotFoundException](nio.getFileLinkStatus(p))
    }
  }

  test("rename onto a file, a directory and a new name equals the file: class Spark's jars register") {
    def outcome(fs: FileSystem): Seq[Any] = {
      val dir = Files.createTempDirectory("localfs_rename")
      val p = (n: String) => new Path(dir.toString, n)
      Seq("a", "b", "c").foreach { n => val o = fs.create(p(n)); try o.write(n.getBytes) finally o.close() }
      assert(fs.mkdirs(p("d")))
      val renamed = Seq(fs.rename(p("a"), p("b")), fs.rename(p("c"), p("d")), fs.rename(p("a"), p("e")))
      val tree = Files.walk(dir).iterator.asScala.filter(Files.isRegularFile(_))
        .map(f => dir.relativize(f).toString -> new String(Files.readAllBytes(f))).toMap
      renamed :+ tree
    }
    val stock = FileSystem.newInstance(Root, new Configuration())
    val nio = new NioLocalFileSystem
    nio.initialize(Root, new Configuration())
    try {
      assert(!stock.isInstanceOf[NioLocalFileSystem])
      assert(outcome(nio) === outcome(stock))
    } finally { stock.close(); nio.close() }
  }

  test("a graft session resolves file: to graft's FileSystem and FileContext classes") {
    val conf = spark.sparkContext.hadoopConfiguration
    assert(FileSystem.getFileSystemClass("file", conf) === classOf[NioLocalFileSystem])
    // FileSystem.get is cached per scheme for the whole JVM; every graft
    // session sets fs.file.impl before its first file access, so the
    // cached instance is graft's whichever suite created it
    assert(FileSystem.get(Root, conf).getClass === classOf[NioLocalFileSystem])
    assert(FileSystem.getLocal(conf).getClass === classOf[NioLocalFileSystem])
    assert(AbstractFileSystem.get(Root, conf).getClass === classOf[NioLocalFs])
  }

  /** The commands of the processes `body` starts from Hadoop's `Shell`,
    * recorded as `jdk.ProcessStart` events with their stacks.
    */
  private def shellForks(body: => Unit): Seq[String] = {
    // Shell's class initializer runs `setsid` once per JVM
    assert(!org.apache.hadoop.util.Shell.WINDOWS)
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    val out = Files.createTempFile("forks", ".jfr")
    rec.start()
    try body finally {
      rec.stop()
      rec.dump(out)
      rec.close()
    }
    try RecordingFile.readAllEvents(out).asScala.toSeq
      .filter(e => Option(e.getStackTrace).exists(_.getFrames.asScala
        .exists(_.getMethod.getType.getName.startsWith("org.apache.hadoop.util.Shell"))))
      .map(_.getString("command"))
    finally Files.delete(out)
  }

  test("a stream through the state store and UpsertSink, and a parquet write, fork no Hadoop Shell process") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val T0 = 1700000000L * 1000000000L
    def tMin(mins: Long) = T0 + mins * 60L * 1000000000L
    val store = Files.createTempDirectory("localfs_store").toString
    val ckpt = Files.createTempDirectory("localfs_ckpt").toString
    val forks = shellForks {
      val input = MemoryStream[Change]
      val q = CdcStream.compactState(spark, input.toDS())
        .toDF()
        .writeStream.outputMode(OutputMode.Update)
        .option("checkpointLocation", ckpt)
        .foreachBatch(UpsertSink.applyBatch(spark, store) _)
        .start()
      try {
        input.addData(Change(1L, tMin(0), 1L, "c", "signup", 1.0), Change(2L, tMin(1), 2L, "c", "view", 2.0))
        q.processAllAvailable()
        input.addData(Change(3L, tMin(5), 1L, "u", "click", 3.0), Change(4L, tMin(6), 2L, "d", "view", 2.0))
        q.processAllAvailable()
      } finally q.stop()
      Seq((1L, "a"), (2L, "b")).toDF("id", "s").write.parquet(Files.createTempDirectory("localfs_pq") + "/out")
    }
    assert(UpsertSink.committedBatches(spark, store).size >= 2)
    assert(UpsertSink.read(spark, store).get.select("user_id").as[Long].collect().toSet === Set(1L))
    assert(forks.isEmpty, s"${forks.size} Shell forks: ${forks.distinct.take(5).mkString("; ")}")
  }

  test("positive control: a create through a stock LocalFileSystem records its chmod fork") {
    val conf = new Configuration()
    conf.set("fs.file.impl", classOf[LocalFileSystem].getName)
    val fs = FileSystem.newInstance(Root, conf)
    try {
      assert(fs.getClass === classOf[LocalFileSystem])
      val dir = Files.createTempDirectory("localfs_stock")
      val forks = shellForks(fs.create(new Path(dir.toString, "f")).close())
      assert(forks.exists(_.startsWith("chmod")), forks)
    } finally fs.close()
  }
}
