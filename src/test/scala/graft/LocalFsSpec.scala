package graft

import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions

import graft.store.{NioLocalFileSystem, NioLocalFs, NioRawLocalFileSystem, Staging}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FileContext, FileSystem,
  LocalFileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** Pins the NIO local filesystem ([[graft.store.NioLocalFs]]): a
  * GraftExtensions session resolves `file:` paths to it, for
  * `FileSystem` and `FileContext` callers, local writes, reads,
  * listings and streaming checkpoints start no Hadoop `Shell` process,
  * and it behaves as the stock `RawLocalFileSystem` does: the same
  * modes under a umask, checksums written and verified, overwriting
  * renames and symlink targets. */
class LocalFsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private def hc: Configuration = spark.sparkContext.hadoopConfiguration
  private def dir(prefix: String): JPath = Staging.jvmDir(prefix)

  test("a GraftExtensions session resolves file: paths to the NIO local filesystems") {
    assert(FileSystem.getLocal(hc).getRawFileSystem.isInstanceOf[NioRawLocalFileSystem])
    assert(new Path("file:///tmp").getFileSystem(spark.sessionState.newHadoopConf())
      .isInstanceOf[NioLocalFileSystem])
    assert(FileContext.getFileContext(hc).getDefaultFileSystem.isInstanceOf[NioLocalFs])
    assert(FileContext.getFileContext(spark.sessionState.newHadoopConf())
      .getDefaultFileSystem.isInstanceOf[NioLocalFs])
  }

  test("a parquet write, a Tables.parquet read, stream_dedup and join_dpp start no Hadoop Shell process") {
    import spark.implicits._
    // builds the session before recording: that runs Hadoop's one-time
    // `Shell` probes (`setsid`, `bash`), which no later call repeats
    val df = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val p = s"${dir("localfs_forks")}/t.parquet"
    val (_, starts) = ProcessStarts.during {
      df.write.parquet(p)
      assert(Tables.parquet(spark, p).count() == 2)
      // join_dpp twice: its second call finds the partitioned table
      // written and lists its files
      for (gate <- Seq("stream_dedup", "join_dpp", "join_dpp")) SparkEntry.isolated(spark) {
        assert(SparkEntry.queries(gate)(spark, SparkTestSession.sf).count() > 0, gate)
      }
    }
    val shellByCommand = starts.filter(_.hadoopShell)
      .groupBy(_.command.split(' ').head).map { case (c, n) => c -> n.size }
    assert(shellByCommand.isEmpty)
  }

  // the stock and the NIO local filesystem over `conf`, each checksummed
  private def both(conf: Configuration): Seq[(String, LocalFileSystem)] =
    Seq("stock" -> new LocalFileSystem(new RawLocalFileSystem), "nio" -> new NioLocalFileSystem)
      .map { case (n, fs) => fs.initialize(java.net.URI.create("file:///"), conf); n -> fs }

  // permission, sticky and set-ID bits, in octal
  private def mode(p: JPath): String =
    (Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 07777).toOctalString

  test("files and dirs get the stock modes, under the default umask and under 077") {
    for (umask <- Seq(None, Some("077"))) {
      val conf = new Configuration(hc)
      umask.foreach(conf.set("fs.permissions.umask-mode", _))
      val made = Seq("d_default", "d_777", "d_sticky", "f_default", "f_640")
      val modes = both(conf).map { case (name, fs) =>
        val root = dir(s"localfs_mode_$name")
        def at(n: String) = new Path(root.resolve(n).toUri)
        fs.mkdirs(at("d_default"))
        fs.mkdirs(at("d_777"), new FsPermission("777"))
        fs.mkdirs(at("d_sticky"), new FsPermission("1777"))
        fs.create(at("f_default")).close()
        fs.create(at("f_640"), new FsPermission("640"), true, 4096, 1.toShort, 1L << 20, null).close()
        fs.close()
        name -> made.map(n => n -> mode(root.resolve(n)))
      }.toMap
      assert(modes("nio") == modes("stock"), s"umask ${umask.getOrElse("default")}")
      assert(modes("nio").toMap.apply("d_sticky").startsWith("1"))
    }
  }

  // flips the first byte of `p` in place
  private def flipFirstByte(p: JPath): Unit = {
    val bytes = Files.readAllBytes(p)
    bytes(0) = (bytes(0) ^ 0xff).toByte
    Files.write(p, bytes)
  }

  test("both wrappers write .crc siblings, and a flipped byte fails the read") {
    val root = dir("localfs_crc")
    val payload = "checksummed payload".getBytes("UTF-8")
    val fs = FileSystem.getLocal(hc)
    val viaFs = new Path(root.resolve("via_fs").toUri)
    val out = fs.create(viaFs)
    out.write(payload)
    out.close()
    val fc = FileContext.getFileContext(hc)
    val viaFc = new Path(root.resolve("via_fc").toUri)
    val out2 = fc.create(viaFc, java.util.EnumSet.of(CreateFlag.CREATE))
    out2.write(payload)
    out2.close()
    for (n <- Seq("via_fs", "via_fc")) {
      assert(Files.exists(root.resolve(s".$n.crc")), n)
      flipFirstByte(root.resolve(n))
    }
    def readAll(in: java.io.InputStream): Unit = try in.readAllBytes() finally in.close()
    assertThrows[ChecksumException](readAll(fs.open(viaFs)))
    // with a buffer size: Hadoop's FilterFs.open(path) skips ChecksumFs,
    // for the stock LocalFs as well
    assertThrows[ChecksumException](readAll(fc.open(viaFc, 4096)))
  }

  test("FileContext.rename with OVERWRITE replaces the target, checksum included") {
    val root = dir("localfs_rename")
    val fc = FileContext.getFileContext(hc)
    def write(n: String, text: String): Path = {
      val p = new Path(root.resolve(n).toUri)
      val out = fc.create(p, java.util.EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
      out.write(text.getBytes("UTF-8"))
      out.close()
      p
    }
    val src = write("src", "the new commit")
    val dst = write("dst", "old")
    fc.rename(src, dst, Options.Rename.OVERWRITE)
    assert(!fc.util.exists(src))
    val in = fc.open(dst)
    try assert(new String(in.readAllBytes(), "UTF-8") == "the new commit") finally in.close()
    assert(!Files.exists(root.resolve(".src.crc")) && Files.exists(root.resolve(".dst.crc")))
  }

  test("symlinks read as the stock filesystem reads them") {
    val root = dir("localfs_link")
    val target = Files.createFile(root.resolve("target"))
    Files.createSymbolicLink(root.resolve("link"), target)
    Files.createSymbolicLink(root.resolve("relative"), java.nio.file.Paths.get("target"))
    Files.createSymbolicLink(root.resolve("dangling"), root.resolve("missing"))
    val raws = both(new Configuration(hc)).map { case (n, fs) => n -> fs.getRawFileSystem }.toMap
    // link status and target, or the exception's class
    def read(fs: FileSystem, p: Path) = scala.util.Try {
      val st = fs.getFileLinkStatus(p)
      (st.isSymlink, st.getLen, st.isDirectory,
        if (st.isSymlink) Some(st.getSymlink -> fs.getLinkTarget(p)) else None)
    }.toEither.left.map(_.getClass)
    for (n <- Seq("target", "link", "relative", "dangling");
         // a plain path names the link; a qualified one, as FileContext
         // passes it, does not for the stock call
         p <- Seq(new Path(root.resolve(n).toString), new Path(root.resolve(n).toUri)))
      assert(read(raws("nio"), p) == read(raws("stock"), p), p)
    assert(raws("nio").getLinkTarget(new Path(root.resolve("link").toString)) ==
      new Path(target.toString))
    raws.values.foreach(_.close())
  }
}
