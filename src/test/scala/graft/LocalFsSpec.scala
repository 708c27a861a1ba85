package graft

import java.io.IOException
import java.net.URI
import java.nio.file.{Files, Path => JPath}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions._

import graft.sources.{CommitLog, LocalFs}

/** The session's `file:` file system: modes set in-process equal the
  * stock `chmod` path's, the sticky bit and missing paths behave as
  * before, and a committed write keeps its checksums and its rows. */
class LocalFsSpec extends GraftSpec {

  private def initialized[F <: FileSystem](fs: F): F = {
    fs.initialize(URI.create("file:///"), new Configuration())
    fs
  }
  private lazy val raw = initialized(new LocalFs.Raw)
  private lazy val stock = initialized(new RawLocalFileSystem)

  private def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  /** Twin temp files, one per file system, both set to `m`. */
  private def twins(dir: JPath, m: Int, create: JPath => JPath): (JPath, JPath) = {
    val (a, b) = (create(dir.resolve(f"nio-$m%o")), create(dir.resolve(f"stock-$m%o")))
    raw.setPermission(new Path(a.toUri), new FsPermission(m.toShort))
    stock.setPermission(new Path(b.toUri), new FsPermission(m.toShort))
    (a, b)
  }

  test("every mode 0o000-0o777 leaves the permissions the stock chmod leaves") {
    val dir = Files.createTempDirectory("graft-localfs-modes-")
    // one stock fork at a time: the loop is sequential
    for (m <- 0 to 0x1ff) {
      val (a, b) = twins(dir, m, Files.createFile(_))
      assert(Files.getPosixFilePermissions(a) == Files.getPosixFilePermissions(b),
        f"mode $m%o")
      assert(mode(a) == m, f"mode $m%o set as ${mode(a)}%o")
    }
  }

  test("a sticky-bit mode takes the stock path and ends up equal") {
    val dir = Files.createTempDirectory("graft-localfs-sticky-")
    val (a, b) = twins(dir, 0x3ff, Files.createDirectory(_)) // 01777
    assert(Files.getPosixFilePermissions(a) == Files.getPosixFilePermissions(b))
    assert(mode(a) == 0x3ff && mode(b) == 0x3ff,
      f"sticky modes ${mode(a)}%o / ${mode(b)}%o")
  }

  test("a missing path raises an IOException") {
    val missing = new Path(Files.createTempDirectory("graft-localfs-missing-")
      .resolve("nope").toUri)
    intercept[IOException](raw.setPermission(missing, new FsPermission(0x1a4.toShort)))
    intercept[IOException](stock.setPermission(missing, new FsPermission(0x1a4.toShort)))
  }

  test("the session's file system is LocalFs") {
    val conf = spark.sparkContext.hadoopConfiguration
    assert(conf.get("fs.file.impl") == classOf[LocalFs].getName)
    assert(FileSystem.get(URI.create("file:///"), conf).isInstanceOf[LocalFs])
  }

  test("a partitioned CommitLog append keeps a .crc beside every data file and reads back") {
    val base = Files.createTempDirectory("graft-localfs-commit-").toString + "/wh"
    val rows = spark.range(200).select(col("id").as("v"), (col("id") % 5).as("tb"))
    CommitLog.transaction(spark, base)(_.append(rows, base, Seq("tb")))
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    val data = files(new java.io.File(base)).filter(_.getName.endsWith(".parquet"))
    assert(data.length >= 5, s"expected a file per bucket, got ${data.length}")
    data.foreach { f =>
      assert(new java.io.File(f.getParentFile, s".${f.getName}.crc").isFile,
        s"no checksum beside $f")
    }
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.select(col("v"), col("tb").cast("long")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(sorted(CommitLog.snapshot(spark, base).read(base)) == sorted(rows))
  }

  test("FileContext on a file: path resolves to LocalFs.Afs and creates what the stock class creates") {
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = Files.createTempDirectory("graft-localfs-fc-")
    val graftFc = FileContext.getFileContext(dir.toUri, conf)
    assert(graftFc.getDefaultFileSystem.isInstanceOf[LocalFs.Afs])
    // the stock class, as Hadoop's defaults name it
    val stockConf = new Configuration(conf)
    stockConf.set("fs.AbstractFileSystem.file.impl",
      new Configuration().get("fs.AbstractFileSystem.file.impl"))
    val stockFc = FileContext.getFileContext(dir.toUri, stockConf)
    assert(stockFc.getDefaultFileSystem.getClass.getName == "org.apache.hadoop.fs.local.LocalFs")
    for ((fc, tag) <- Seq(graftFc -> "graft", stockFc -> "stock")) {
      fc.mkdir(new Path(dir.resolve(s"$tag-dir").toUri), FsPermission.getDirDefault, true)
      val out = fc.create(new Path(dir.resolve(s"$tag-dir/f").toUri),
        java.util.EnumSet.of(CreateFlag.CREATE))
      out.write(Array[Byte](1, 2, 3))
      out.close()
    }
    for (p <- Seq("dir", "dir/f"))
      assert(mode(dir.resolve(s"graft-$p")) == mode(dir.resolve(s"stock-$p")), p)
    for (tag <- Seq("graft", "stock"))
      assert(Files.isRegularFile(dir.resolve(s"$tag-dir/.f.crc")), s"no checksum beside $tag-dir/f")
  }
}
