package graft

import graft.jobs.CdcToOrcJob
import graft.sources.{NioLocalFileSystem, NioLocalFs}
import java.io.{FileNotFoundException, RandomAccessFile}
import java.net.URI
import java.nio.file.{Files, Paths}
import java.util.EnumSet
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FileAlreadyExistsException, FileContext, FileStatus, FileSystem, LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The engine's `file://` filesystem ([[graft.sources.NioLocalFileSystem]],
  * [[graft.sources.NioLocalFs]]) against Hadoop's stock `LocalFileSystem`
  * and `LocalFs`: same modes, `.crc` files, rename and link semantics —
  * and no forked process on the CDC job's path. */
class LocalFsSuite extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private val root = new URI("file:///")

  private def sessionConf(umask: Option[String]): Configuration = {
    val c = new Configuration(spark.sparkContext.hadoopConfiguration)
    umask.foreach(c.set("fs.permissions.umask-mode", _))
    c
  }

  private def stockConf(umask: Option[String]): Configuration = {
    val c = sessionConf(umask)
    c.set("fs.file.impl", classOf[LocalFileSystem].getName)
    c.set("fs.AbstractFileSystem.file.impl", "org.apache.hadoop.fs.local.LocalFs")
    c
  }

  /** (stock, engine) FileSystem + FileContext pairs. `newInstance`, not
    * `get`: the FileSystem cache is keyed by scheme, not by conf. */
  private def impls(umask: Option[String] = None): Seq[(FileSystem, FileContext)] =
    Seq(stockConf(umask), sessionConf(umask)).map(c =>
      (FileSystem.newInstance(root, c), FileContext.getFileContext(root, c)))

  private def tmp(tag: String): Path =
    new Path(Files.createTempDirectory(s"graft_localfs_$tag").toUri)

  private def mode(p: Path): Int =
    Files.getAttribute(Paths.get(p.toUri), "unix:mode").asInstanceOf[Int] & 0x0fff

  private def write(fs: FileSystem, p: Path, bytes: Array[Byte]): Unit = {
    val out = fs.create(p)
    try out.write(bytes) finally out.close()
  }

  private def read(fc: FileContext, p: Path): String = {
    val in = fc.open(p)
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }

  /** Relative path → mode for every entry under `dir`. */
  private def modes(dir: Path): Map[String, Int] = {
    val base = Paths.get(dir.toUri)
    Files.walk(base).iterator().asScala.filter(_ != base)
      .map(p => base.relativize(p).toString -> mode(new Path(p.toUri))).toMap
  }

  test("an Engine session resolves file:/// to the NIO classes") {
    val hc = spark.sparkContext.hadoopConfiguration
    assert(FileSystem.get(root, hc).isInstanceOf[NioLocalFileSystem])
    assert(FileSystem.getLocal(hc).isInstanceOf[NioLocalFileSystem])
    assert(FileSystem.newInstance(root, hc).isInstanceOf[NioLocalFileSystem])
    assert(FileContext.getFileContext(root, hc).getDefaultFileSystem.isInstanceOf[NioLocalFs])
    assert(FileContext.getLocalFSFileContext(hc).getDefaultFileSystem.isInstanceOf[NioLocalFs])
    // the stock comparison side really is stock
    val (stockFs, stockFc) = impls().head
    assert(stockFs.getClass == classOf[LocalFileSystem])
    assert(stockFc.getDefaultFileSystem.getClass.getName == "org.apache.hadoop.fs.local.LocalFs")
  }

  test("created files and directories get stock modes under the umask, sticky bit included") {
    for (umask <- Seq(None, Some("027"), Some("002"))) {
      val got = impls(umask).map { case (fs, fc) =>
        val dir = tmp("modes")
        write(fs, new Path(dir, "a/b/part-0.orc"), Array[Byte](1, 2, 3))
        fs.mkdirs(new Path(dir, "c"))
        fs.mkdirs(new Path(dir, "d"), new FsPermission("750"))
        fs.create(new Path(dir, "e"), new FsPermission("640"), false, 4096,
          1.toShort, 1L << 26, null).close()
        fs.setPermission(new Path(dir, "c"), new FsPermission("711"))
        fs.setPermission(new Path(dir, "a/b/part-0.orc"), new FsPermission("600"))
        val sticky = new Path(dir, "sticky")
        fs.mkdirs(sticky)
        fs.setPermission(sticky, new FsPermission(Integer.parseInt("1777", 8).toShort))
        fc.create(new Path(dir, "f/offsets/0"), EnumSet.of(CreateFlag.CREATE),
          Options.CreateOpts.createParent()).close()
        fc.mkdir(new Path(dir, "g"), FsPermission.getDirDefault, true)
        modes(dir)
      }
      assert(got(0) == got(1), s"umask $umask")
      assert(got(1)("sticky") == Integer.parseInt("1777", 8))
      if (umask.isEmpty) {
        // the session umask (022): the sink's files 644, directories 755
        assert(got(1)("f/offsets/.0.crc") == Integer.parseInt("644", 8), got(1))
        assert(got(1)("f/offsets") == Integer.parseInt("755", 8), got(1))
      }
    }
  }

  test("FileContext rename keeps NONE/OVERWRITE semantics and moves the .crc") {
    val got = impls().map { case (_, fc) =>
      val dir = tmp("rename")
      def put(name: String, body: String): Path = {
        val p = new Path(dir, name)
        val out = fc.create(p, EnumSet.of(CreateFlag.CREATE))
        try out.write(body.getBytes("UTF-8")) finally out.close()
        p
      }
      val src = put("src", "new")
      val dst = put("dst", "old")
      intercept[FileAlreadyExistsException](fc.rename(src, dst, Options.Rename.NONE))
      assert(read(fc, dst) == "old")
      fc.rename(src, dst, Options.Rename.OVERWRITE)
      assert(read(fc, dst) == "new")
      assert(!fc.util.exists(src))
      modes(dir).keySet
    }
    assert(got(0) == got(1))
    assert(got(1) == Set("dst", ".dst.crc"))
  }

  test("getFileLinkStatus matches stock for a file, a directory, a missing path and a symlink") {
    def summary(s: FileStatus) = (s.getPath, s.isFile, s.isDirectory, s.isSymlink,
      s.getLen, s.getModificationTime, if (s.isSymlink) Some(s.getSymlink) else None)
    val dir = tmp("links")
    val file = new Path(dir, "file")
    val sub = new Path(dir, "sub")
    val link = new Path(dir, "link")
    val missing = new Path(dir, "missing")
    Files.write(Paths.get(file.toUri), "x".getBytes("UTF-8"))
    Files.createDirectory(Paths.get(sub.toUri))
    Files.createSymbolicLink(Paths.get(link.toUri), Paths.get(file.toUri))
    val Seq((stockFs, stockFc), (fs, fc)) = impls()
    // qualified and scheme-less forms: stock only sees a link through the
    // latter (it readlinks `Path.toString`), which the NIO side must match
    val bare = Path.getPathWithoutSchemeAndAuthority _
    for (p <- Seq(file, sub, link, bare(file), bare(sub), bare(link))) {
      assert(summary(fs.getFileLinkStatus(p)) == summary(stockFs.getFileLinkStatus(p)), p)
      assert(summary(fc.getFileLinkStatus(p)) == summary(stockFc.getFileLinkStatus(p)), p)
    }
    assert(fs.getFileLinkStatus(bare(link)).isSymlink)
    for (get <- Seq[Path => FileStatus](stockFs.getFileLinkStatus, fs.getFileLinkStatus,
                                        stockFc.getFileLinkStatus, fc.getFileLinkStatus))
      intercept[FileNotFoundException](get(missing))
  }

  test(".crc files are written and a flipped data byte raises ChecksumException") {
    for ((fs, fc) <- impls()) {
      val dir = tmp("crc")
      val p = new Path(dir, "data")
      write(fs, p, Array.tabulate[Byte](2000)(i => (i % 101).toByte))
      assert(Files.exists(Paths.get(new Path(dir, ".data.crc").toUri)))
      val raf = new RandomAccessFile(Paths.get(p.toUri).toFile, "rw")
      try { raf.seek(100); val b = raf.read(); raf.seek(100); raf.write(b ^ 0xff) }
      finally raf.close()
      intercept[ChecksumException](fs.open(p).readAllBytes())
      // with a buffer size: FileContext.open(p) skips ChecksumFs's checker
      // on stock LocalFs too
      intercept[ChecksumException](fc.open(p, 4096).readAllBytes())
    }
  }

  test("three CdcToOrcJob micro-batches fork no process (JFR jdk.ProcessStart)") {
    def envelope(ref: Long, epochMs: Long): String = {
      val after = s"""{\\"ref\\": $ref, \\"city_id\\": 1, \\"city_name\\": \\"c$ref\\", \\"c_time\\": $epochMs}"""
      s"""{"value": "{\\"after\\": $after}"}"""
    }
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft_nofork").toString
    val mem = MemoryStream[String]
    val jfr = Files.createTempFile("graft_nofork", ".jfr")
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    val q = CdcToOrcJob.run(mem.toDF().toDF("payload"), dir, "flink_orc",
      s"$dir/ckpt", Trigger.ProcessingTime(0L))
    try for (b <- 0 until 3) {
      // ten days of c_time → ~10 partitions per batch, plus one poison row
      mem.addData((0 until 50).map(i => envelope(b * 100L + i,
        1704067200000L + i * 5L * 3600 * 1000)) :+ "not json")
      q.processAllAvailable()
    } finally {
      q.stop()
      rec.stop()
      rec.dump(jfr)
      rec.close()
    }
    val starts = RecordingFile.readAllEvents(jfr).asScala
      .filter(_.getEventType.getName == "jdk.ProcessStart")
    assert(starts.isEmpty, starts.map(_.getString("command")).mkString("\n"))
    assert(spark.read.orc(s"$dir/flink_orc").count() == 150L)
  }
}
