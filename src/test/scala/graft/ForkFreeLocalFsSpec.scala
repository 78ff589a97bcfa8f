package graft

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileContext,
  FileSystem, LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission

import graft.sinks.{ForkFreeLocalFileSystem, ForkFreeLocalFs}

/** The fork-free local filesystem is the stock one minus the forks: same
  * permission bits, same rename and symlink answers, and the class every
  * `file:` lookup of an [[EngineDefaults]] session resolves to. */
class ForkFreeLocalFsSpec extends SparkSpec {

  private def conf = spark.sparkContext.hadoopConfiguration

  private def open(fs: FileSystem, c: Configuration): FileSystem = {
    fs.initialize(URI.create("file:///"), c); fs
  }

  /** Relative path → full mode bits (sticky included) of every entry. */
  private def modes(root: java.nio.file.Path): Map[String, Int] = {
    val walk = Files.walk(root)
    try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala.map { p =>
        root.relativize(p).toString ->
          (Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0x0fff)
      }.toMap
    } finally walk.close()
  }

  /** Files, directories and explicit permissions the way Spark's writers
    * and committers make them. */
  private def populate(fs: FileSystem, root: String): Unit = {
    fs.mkdirs(new Path(s"$root/a/b/c"))
    fs.mkdirs(new Path(s"$root/x"), new FsPermission("750"))
    val out = fs.create(new Path(s"$root/a/b/c/part-0"))
    out.write("reading".getBytes(UTF_8)); out.close()
    fs.create(new Path(s"$root/a/_SUCCESS"), new FsPermission("640"), true,
      4096, 1.toShort, 1L << 20, null).close()
    fs.setPermission(new Path(s"$root/x"), new FsPermission("1777"))
  }

  test("create and mkdirs set the stock LocalFileSystem's permission bits") {
    Seq(None, Some("077")).foreach { umask =>
      val c = new Configuration(conf)
      umask.foreach(c.set("fs.permissions.umask-mode", _))
      val stockRoot = Files.createTempDirectory("graft_fs_stock")
      val oursRoot = Files.createTempDirectory("graft_fs_ours")
      populate(open(new LocalFileSystem(), c), stockRoot.toString)
      populate(open(new ForkFreeLocalFileSystem(), c), oursRoot.toString)
      val stock = modes(stockRoot)
      assert(stock.keySet.exists(_.endsWith(".part-0.crc")))
      assert(modes(oursRoot) == stock, s"umask $umask")
    }
  }

  test("FileContext rename over an existing file replaces it") {
    val fc = FileContext.getFileContext(URI.create("file:///"), conf)
    val dir = Files.createTempDirectory("graft_fc").toString
    val (src, dst) = (new Path(s"$dir/.1.tmp"), new Path(s"$dir/1"))
    def write(p: Path, s: String): Unit = {
      val out = fc.create(p, java.util.EnumSet.of(
        org.apache.hadoop.fs.CreateFlag.CREATE,
        org.apache.hadoop.fs.CreateFlag.OVERWRITE))
      out.write(s.getBytes(UTF_8)); out.close()
    }
    write(dst, "old")
    write(src, "new")
    intercept[FileAlreadyExistsException](fc.rename(src, dst))
    fc.rename(src, dst, Options.Rename.OVERWRITE)
    assert(!fc.util().exists(src))
    val in = fc.open(dst)
    try assert(new String(in.readAllBytes(), UTF_8) == "new")
    finally in.close()
  }

  test("a symlink still reports isSymlink; link status matches the stock") {
    val dir = Files.createTempDirectory("graft_ln")
    val target = Files.write(dir.resolve("target"), Array[Byte](1))
    val link = Files.createSymbolicLink(dir.resolve("link"), target)
    val ours = open(new ForkFreeLocalFileSystem(), conf)
    val stock = open(new LocalFileSystem(), new Configuration(conf))
    val linkPath = new Path(link.toString)
    val status = ours.getFileLinkStatus(linkPath)
    assert(status.isSymlink)
    assert(Paths.get(status.getSymlink.toUri) == target)
    // the same answers as the stock filesystem, qualified paths included
    Seq(linkPath, new Path(link.toUri), new Path(target.toString),
        new Path(dir.toString)).foreach { p =>
      val (o, s) = (ours.getFileLinkStatus(p), stock.getFileLinkStatus(p))
      assert((o.isSymlink, o.isFile, o.getLen, o.getPath) ==
        (s.isSymlink, s.isFile, s.getLen, s.getPath), s"$p")
    }
    intercept[java.io.FileNotFoundException] {
      ours.getFileLinkStatus(new Path(dir.resolve("missing").toString))
    }
    // FileContext (checkpoint logs) answers like Hadoop's own LocalFs
    val stockConf = new Configuration(conf)
    stockConf.set("fs.AbstractFileSystem.file.impl",
      "org.apache.hadoop.fs.local.LocalFs")
    val fc = FileContext.getFileContext(URI.create("file:///"), conf)
    val stockFc = FileContext.getFileContext(URI.create("file:///"), stockConf)
    Seq(linkPath, new Path(target.toString)).foreach { p =>
      assert(fc.getFileLinkStatus(p).isSymlink ==
        stockFc.getFileLinkStatus(p).isSymlink, s"$p")
    }
  }

  test("an EngineDefaults session resolves file: to the fork-free classes") {
    // Hadoop caches one FileSystem per scheme for the JVM: a stock
    // instance created before the session would silently win here.
    assert(FileSystem.get(URI.create("file:///"), conf).getClass ==
      classOf[ForkFreeLocalFileSystem])
    assert(FileSystem.getLocal(conf).getClass ==
      classOf[ForkFreeLocalFileSystem])
    assert(FileContext.getFileContext(URI.create("file:///"), conf)
      .getDefaultFileSystem.getClass == classOf[ForkFreeLocalFs])
  }
}
