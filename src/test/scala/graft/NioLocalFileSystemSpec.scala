package graft

import java.net.URI
import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FileContext, FileStatus, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.{FsCreateModes, FsPermission}
import org.apache.spark.sql.SparkSession

import graft.io.{NioLocalFileSystem, NioLocalFs, NioRawLocalFileSystem}

/** Pins the spawn-free `file:` filesystem against Hadoop's stock local
  * filesystem: the same mode bits and link statuses, the same `.crc`
  * protection, and registration reaching both the FileSystem and the
  * FileContext resolution paths of the sessions that register it.
  */
class NioLocalFileSystemSpec extends SparkSpec {

  private def conf(umask: String = "022"): Configuration = {
    val c = new Configuration()
    c.set("fs.permissions.umask-mode", umask)
    c
  }

  private def raw[T <: RawLocalFileSystem](fs: T, c: Configuration): T = {
    fs.initialize(URI.create("file:///"), c)
    fs
  }

  private def mode(p: java.nio.file.Path): String =
    java.nio.file.attribute.PosixFilePermissions.toString(
      Files.getPosixFilePermissions(p))

  test("create and mkdirs leave the mode bits Hadoop's chmod path leaves") {
    val root = Files.createTempDirectory("graft_niofs_mode")
    for (umask <- Seq("022", "077", "000");
         perm <- Seq(0x1ff, 0x1ed, 0x1a4, 0x180, 0x1c0, 0x124)) {
      val c = conf(umask)
      val stock = raw(new RawLocalFileSystem, c)
      val nio = raw(new NioRawLocalFileSystem, c)
      val fp = new FsPermission(perm.toShort)
      def made(fs: RawLocalFileSystem, tag: String): (String, String) = {
        val f = root.resolve(s"$tag-$umask-$perm.f")
        fs.create(new Path(f.toString), fp, false, 4096, 1.toShort, 1L << 25,
          null).close()
        val d = root.resolve(s"$tag-$umask-$perm.d")
        assert(fs.mkdirs(new Path(d.toString), fp))
        (mode(f), mode(d))
      }
      assert(made(nio, "nio") == made(stock, "stock"),
        s"umask $umask, permission ${fp}")
    }
  }

  test("setPermission matches chmod, and bits past 0777 still reach chmod") {
    val root = Files.createTempDirectory("graft_niofs_chmod")
    val stock = raw(new RawLocalFileSystem, conf())
    val nio = raw(new NioRawLocalFileSystem, conf())
    // FsCreateModes is what FileContext.create/mkdir hand down
    val modes = Seq(0x1ff, 0x1a4, 0x100, 0x0, 0x3ff).map(m => new FsPermission(m.toShort)) :+
      FsCreateModes.applyUMask(new FsPermission(0x1ff.toShort), new FsPermission(0x12.toShort))
    modes.zipWithIndex.foreach { case (fp, i) =>
      val (a, b) = (root.resolve(s"stock-$i"), root.resolve(s"nio-$i"))
      Files.createDirectory(a); Files.createDirectory(b)
      stock.setPermission(new Path(a.toString), fp)
      nio.setPermission(new Path(b.toString), fp)
      assert(mode(b) == mode(a), s"permission $fp")
      assert(nio.getFileStatus(new Path(b.toString)).getPermission ==
        stock.getFileStatus(new Path(a.toString)).getPermission,
        s"sticky bit for $fp")
    }
    intercept[java.io.FileNotFoundException] {
      nio.setPermission(new Path(root.resolve("missing").toString),
        new FsPermission(0x1a4.toShort))
    }
  }

  test("getFileLinkStatus matches RawLocalFileSystem on every path kind") {
    val root = Files.createTempDirectory("graft_niofs_link")
    val file = Files.write(root.resolve("file"), "abc".getBytes("UTF-8"))
    val dir = Files.createDirectory(root.resolve("dir"))
    val link = Files.createSymbolicLink(root.resolve("link"), file)
    val dangling = Files.createSymbolicLink(root.resolve("dangling"),
      root.resolve("nowhere"))
    val missing = root.resolve("missing")
    val stock = raw(new RawLocalFileSystem, conf())
    val nio = raw(new NioRawLocalFileSystem, conf())
    def view(s: FileStatus) = (s.getPath, s.isFile, s.isDirectory, s.isSymlink,
      if (s.isSymlink) s.getSymlink else null, s.getLen, s.getModificationTime)
    Seq(file, dir, link, dangling).foreach { p =>
      val hp = new Path(p.toString)
      assert(view(nio.getFileLinkStatus(hp)) == view(stock.getFileLinkStatus(hp)),
        s"$p")
    }
    assert(nio.getFileLinkStatus(new Path(link.toString)).isSymlink)
    assert(nio.getFileLinkStatus(new Path(dangling.toString)).isSymlink)
    intercept[java.io.FileNotFoundException] {
      stock.getFileLinkStatus(new Path(missing.toString))
    }
    intercept[java.io.FileNotFoundException] {
      nio.getFileLinkStatus(new Path(missing.toString))
    }
  }

  test(".crc sidecars are written and a flipped byte fails the read") {
    val root = Files.createTempDirectory("graft_niofs_crc")
    def flip(p: java.nio.file.Path): Unit = {
      val b = Files.readAllBytes(p)
      b(1) = (b(1) ^ 0x20).toByte
      Files.write(p, b)
    }
    val payload = "checkpoint bytes".getBytes("UTF-8")

    // no quarantine: LocalFileSystem moves a corrupt file to a bad_files
    // directory at the top of its device, outside the test's own root
    val fs = new NioLocalFileSystem {
      override def reportChecksumFailure(p: Path,
          in: org.apache.hadoop.fs.FSDataInputStream, inPos: Long,
          sums: org.apache.hadoop.fs.FSDataInputStream, sumsPos: Long) = false
    }
    fs.initialize(URI.create("file:///"), conf())
    val viaFs = new Path(root.resolve("fs").toString)
    val out = fs.create(viaFs)
    out.write(payload); out.close()
    assert(Files.exists(root.resolve(".fs.crc")))
    assert(fs.open(viaFs).readAllBytes().sameElements(payload))
    flip(root.resolve("fs"))
    intercept[ChecksumException] { fs.open(viaFs).readAllBytes() }

    // FileContext: `open(path, bufferSize)` verifies; stock Hadoop's
    // one-argument `open(path)` goes through FilterFs straight to the raw
    // layer and verifies nothing, for LocalFs and NioLocalFs alike
    for ((tag, afs) <- Seq("stock" -> FileContext.getLocalFSFileContext(conf())
                             .getDefaultFileSystem,
                           "nio" -> new NioLocalFs(URI.create("file:///"), conf()))) {
      val fc = FileContext.getFileContext(afs, conf())
      val viaFc = new Path(root.resolve(tag).toString)
      val out2 = fc.create(viaFc, java.util.EnumSet.of(CreateFlag.CREATE))
      out2.write(payload); out2.close()
      assert(Files.exists(root.resolve(s".$tag.crc")))
      assert(fc.open(viaFc, 4096).readAllBytes().sameElements(payload))
      flip(root.resolve(tag))
      intercept[ChecksumException] { fc.open(viaFc, 4096).readAllBytes() }
      assert(!fc.open(viaFc).readAllBytes().sameElements(payload))
    }
  }

  test("the shared test session resolves file: to the new classes") {
    assert(NioLocalFileSystemSpec.resolved(spark) ==
      NioLocalFileSystemSpec.expected)
  }

  test("GraftSession.local resolves file: to the new classes") {
    // a SparkContext exists in this JVM already, so GraftSession.local
    // runs in a child JVM of its own
    val javaBin = Paths.get(System.getProperty("java.home"), "bin", "java")
    import scala.jdk.CollectionConverters._
    val opens = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.filter(_.startsWith("--add-opens"))
    val cmd = Seq(javaBin.toString, "-Xmx512m", "-cp",
      System.getProperty("java.class.path")) ++ opens ++
      Seq("graft.NioLocalFileSystemSpec")
    val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val out = scala.io.Source.fromInputStream(proc.getInputStream, "UTF-8")
      .getLines().toList
    assert(proc.waitFor() == 0, out.takeRight(20).mkString("\n"))
    assert(out.filter(_.startsWith("resolved ")) ==
      NioLocalFileSystemSpec.expected.map(c => s"resolved $c"),
      out.takeRight(20).mkString("\n"))
  }
}

object NioLocalFileSystemSpec {
  val expected: Seq[String] = Seq.fill(2)(classOf[NioLocalFileSystem].getName) ++
    Seq.fill(2)(classOf[NioLocalFs].getName)

  /** The `file:` classes a session's Hadoop configurations resolve to:
    * FileSystem.get over the SparkContext's and a fresh session-derived
    * configuration (what Spark's checkpoint managers and writers use),
    * then FileContext over the same two.
    */
  def resolved(spark: SparkSession): Seq[String] = {
    val confs = Seq(spark.sparkContext.hadoopConfiguration,
      spark.sessionState.newHadoopConf())
    confs.map(c => FileSystem.get(URI.create("file:///"), c).getClass.getName) ++
      confs.map(c => FileContext.getLocalFSFileContext(c).getDefaultFileSystem
        .getClass.getName)
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(1)
    try resolved(spark).foreach(c => println(s"resolved $c"))
    finally spark.stop()
  }
}
