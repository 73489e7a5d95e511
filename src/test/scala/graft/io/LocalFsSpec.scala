package graft.io

import java.io.FileNotFoundException
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, Path => JPath}
import java.util.EnumSet

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, FileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.hive.ql.io.ProxyLocalFileSystem
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec

/** The fork-free `file:` filesystem behaves like the classes it replaces
  * (Hive's `ProxyLocalFileSystem` for `FileSystem`, Hadoop's
  * `local.LocalFs` for `FileContext`), and [[graft.Sessions.local]]
  * wires it in.
  */
class LocalFsSpec extends SparkSpec {

  private val root = URI.create("file:///")

  private def conf(umask: String = "022"): Configuration = {
    val c = new Configuration()
    c.set("fs.permissions.umask-mode", umask)
    c
  }

  /** Both `FileSystem`s, built directly so that Hadoop's JVM-wide cache
    * never sees them.
    */
  private def filesystems(c: Configuration): Seq[(String, FileSystem)] =
    Seq("hive" -> new ProxyLocalFileSystem, "graft" -> new LocalFileSystem).map {
      case (name, fs) => fs.initialize(root, c); name -> fs
    }

  private def octal(s: String): Int = Integer.parseInt(s, 8)

  /** Every mode bit, sticky and set-id bits included. */
  private def mode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  private def hpath(p: JPath): Path = new Path(p.toUri)

  private def write(fs: FileSystem, p: JPath, text: String): Unit = {
    val out = fs.create(hpath(p), true)
    try out.write(text.getBytes(UTF_8))
    finally out.close()
  }

  private def read(p: JPath): String = new String(Files.readAllBytes(p), UTF_8)

  test("permissions written on create, mkdirs and setPermission match Hive's class under umask 022 and 077") {
    val base = Paths.get(scratchDir("localfs-perm"))
    val modes = for {
      umask <- Seq("022", "077")
      perm <- Seq("644", "755", "600", "777").map(octal)
    } yield {
      val p = new FsPermission(perm.toShort)
      val byFs = filesystems(conf(umask)).map { case (name, fs) =>
        val d = Files.createDirectories(base.resolve(s"$umask-$perm-$name"))
        fs.mkdirs(hpath(d.resolve("dir")), p)
        fs.create(hpath(d.resolve("file")), p, true, 4096, 1.toShort, 1L << 20, null).close()
        Files.createFile(d.resolve("set"))
        fs.setPermission(hpath(d.resolve("set")), p)
        Seq("dir", "file", ".file.crc", "set").map(n => n -> mode(d.resolve(n)))
      }
      assert(byFs(0) == byFs(1), s"umask $umask, mode ${perm.toOctalString}")
      byFs(0)
    }
    // the grid reaches distinct modes, so equality is not vacuous
    assert(modes.map(_.toMap.apply("set")).distinct.size == 4)
    assert(modes.map(_.toMap.apply("file")).distinct.size > 2)
  }

  test("a sticky bit and a set-group-ID directory keep their bits as with Hive's class") {
    val base = Paths.get(scratchDir("localfs-sticky"))
    val got = filesystems(conf()).map { case (name, fs) =>
      val sticky = Files.createDirectory(base.resolve(s"sticky-$name"))
      fs.setPermission(hpath(sticky), new FsPermission(octal("1777").toShort))
      val setgid = Files.createDirectory(base.resolve(s"setgid-$name"))
      Files.setAttribute(setgid, "unix:mode", Integer.valueOf(octal("2755")))
      fs.setPermission(hpath(setgid), new FsPermission(octal("750").toShort))
      (mode(sticky), mode(setgid))
    }
    assert(got == Seq.fill(2)((octal("1777"), octal("2750"))))
  }

  test("getFileLinkStatus of a file, a directory, a missing path and a symlink matches Hive's class") {
    val base = Paths.get(scratchDir("localfs-link"))
    val file = Files.write(base.resolve("file"), "abc".getBytes(UTF_8))
    val dir = Files.createDirectory(base.resolve("dir"))
    val link = Files.createSymbolicLink(base.resolve("link"), file)
    def fields(s: FileStatus) =
      (s.getPath, s.getLen, s.isDirectory, s.isSymlink, s.getModificationTime,
        if (s.isSymlink) Some(s.getSymlink) else None)
    // Hadoop's `readlink` path sees a link only through a scheme-less
    // path (it reads `Path.toString`), so both forms are compared
    def forms(p: JPath) = Seq(hpath(p), new Path(p.toString))
    val byFs = filesystems(conf()).map { case (_, fs) =>
      forms(base.resolve("missing")).foreach(p =>
        intercept[FileNotFoundException](fs.getFileLinkStatus(p)))
      Seq(file, dir, link).flatMap(forms).map(p => fields(fs.getFileLinkStatus(p)))
    }
    assert(byFs(0) == byFs(1))
    assert(byFs(1).map(f => (f._3, f._4)) ==
      Seq((false, false), (false, false), (true, false), (true, false), (false, false), (false, true)))
  }

  test("rename onto an existing file returns false and keeps both files, as Hive's class does") {
    val base = Paths.get(scratchDir("localfs-rename"))
    filesystems(conf()).foreach { case (name, fs) =>
      val (a, b, c) = (base.resolve(s"a-$name"), base.resolve(s"b-$name"), base.resolve(s"c-$name"))
      write(fs, a, "a")
      write(fs, b, "b")
      assert(!fs.rename(hpath(a), hpath(b)), name)
      assert(read(a) == "a" && read(b) == "b", name)
      assert(fs.rename(hpath(a), hpath(c)), name)
      assert(!Files.exists(a) && read(c) == "a", name)
    }
  }

  test("FileContext create and rename with NONE and OVERWRITE match Hadoop's LocalFs") {
    val base = Paths.get(scratchDir("localfs-fc"))
    val ours = conf()
    ours.set("fs.AbstractFileSystem.file.impl", classOf[LocalFs].getName)
    val runs = Seq("hadoop" -> conf(), "graft" -> ours).map { case (name, c) =>
      val fc = FileContext.getFileContext(c)
      val d = Files.createDirectory(base.resolve(name))
      def create(p: JPath, text: String): Unit = {
        val out = fc.create(hpath(p), EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
        try out.write(text.getBytes(UTF_8))
        finally out.close()
      }
      val (src, dst) = (d.resolve("src"), d.resolve("dst"))
      create(src, "one")
      create(src, "two") // OVERWRITE replaces it
      fc.rename(hpath(src), hpath(dst), Options.Rename.NONE)
      create(src, "three")
      val refused = intercept[java.io.IOException](
        fc.rename(hpath(src), hpath(dst), Options.Rename.NONE))
      fc.rename(hpath(src), hpath(dst), Options.Rename.OVERWRITE)
      val listing = Files.list(d).iterator().asScala.toSeq
        .map(p => p.getFileName.toString -> mode(p)).sorted
      (fc.getDefaultFileSystem.getClass.getName, (refused.getClass, read(dst), listing))
    }
    assert(runs.map(_._1) == Seq("org.apache.hadoop.fs.local.LocalFs", classOf[LocalFs].getName))
    assert(runs(0)._2 == runs(1)._2)
    assert(runs(0)._2._1 == classOf[org.apache.hadoop.fs.FileAlreadyExistsException])
    assert(runs(0)._2._2 == "three")
  }

  test("Sessions.local wires both file: layers, also after a lookup through a bare Configuration") {
    val hadoopConf = spark.sessionState.newHadoopConf()
    val bare = new Path("file:///").getFileSystem(new Configuration())
    val dir = new Path(s"file://${scratchDir("localfs-wiring")}")
    assert(bare.getClass == classOf[LocalFileSystem])
    assert(dir.getFileSystem(hadoopConf).getClass == classOf[LocalFileSystem])
    assert(FileContext.getFileContext(hadoopConf).getDefaultFileSystem.getClass == classOf[LocalFs])
  }

  test("a checkpointed AvailableNow stream resumes: its rerun reads only the new files") {
    val wd = scratchDir("localfs-resume")
    val sql = spark
    import sql.implicits._
    (1 to 6).toDF("v").repartition(2).write.parquet(s"$wd/src")
    def drain(): Long = {
      val q = spark.readStream.schema("v INT").parquet(s"$wd/src")
        .writeStream.format("parquet").option("path", s"$wd/out")
        .option("checkpointLocation", s"$wd/checkpoint")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      q.recentProgress.map(_.numInputRows).sum
    }
    assert(drain() == 6)
    (7 to 10).toDF("v").coalesce(1).write.mode("append").parquet(s"$wd/src")
    assert(drain() == 4)
    assert(spark.read.parquet(s"$wd/out").as[Int].collect().sorted.toSeq == (1 to 10))
    assert(drain() == 0)
  }
}
