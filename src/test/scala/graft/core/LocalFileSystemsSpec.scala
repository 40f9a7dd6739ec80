package graft.core

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, LinkOption, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileContext, FileSystem,
  LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.SparkConf

import graft.{ProcessStarts, SparkSpec}

/** The graft local filesystem pair against Hadoop's stock classes: the
  * same modes, statuses, rename outcomes and checksum files, with no
  * process started. */
class LocalFileSystemsSpec extends SparkSpec {

  private val localUri = URI.create("file:///")

  private def sessionConf(umask: String = "022"): Configuration = {
    val c = new Configuration(spark.sparkContext.hadoopConfiguration)
    c.set("fs.permissions.umask-mode", umask)
    c
  }

  private def init(fs: FileSystem, conf: Configuration): FileSystem = {
    fs.initialize(localUri, conf); fs
  }
  private def stockFs(conf: Configuration = sessionConf()) = init(new LocalFileSystem, conf)
  private def graftFs(conf: Configuration = sessionConf()) = init(new GraftLocalFileSystem, conf)

  private def stockFc: FileContext = {
    val c = sessionConf()
    c.set("fs.AbstractFileSystem.file.impl", "org.apache.hadoop.fs.local.LocalFs")
    FileContext.getFileContext(localUri, c)
  }
  private def graftFc: FileContext =
    FileContext.getFileContext(new GraftLocalFs(localUri, sessionConf()), sessionConf())

  /** The pair under test, stock first. */
  private def both = Seq("stock" -> stockFs(), "graft" -> graftFs())

  private def tmp(name: String): Path =
    new Path(Files.createTempDirectory(s"graft-localfs-$name").toString)

  /** Full mode bits (sticky included) of a local path, read in-process. */
  private def mode(p: Path): Int =
    Files.getAttribute(Paths.get(p.toUri.getPath), "unix:mode",
      LinkOption.NOFOLLOW_LINKS).asInstanceOf[Int] & 0xfff

  private def writeText(fs: FileSystem, p: Path, s: String): Unit = {
    val out = fs.create(p, true)
    try out.write(s.getBytes(UTF_8)) finally out.close()
  }

  private def readText(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  private def bytes(p: Path): Seq[Byte] =
    Files.readAllBytes(Paths.get(p.toUri.getPath)).toSeq

  test("the session resolves file: paths to the pair; an explicit conf key wins") {
    val conf = spark.sparkContext.hadoopConfiguration
    assert(FileSystem.get(localUri, conf).isInstanceOf[GraftLocalFileSystem])
    assert(FileContext.getFileContext(localUri, conf).getDefaultFileSystem
      .isInstanceOf[GraftLocalFs])
    assert(LocalFileSystems.sparkConf(new SparkConf(false)).map(_._1) ==
      Seq("spark.hadoop.fs.file.impl", "spark.hadoop.fs.AbstractFileSystem.file.impl"))
    val explicit = new SparkConf(false).set("spark.hadoop.fs.file.impl", "some.Other")
    assert(LocalFileSystems.sparkConf(explicit) == Seq(
      "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[GraftLocalFs].getName))
  }

  test("create, mkdirs and nested mkdirs leave the stock modes under the session umask") {
    val rels = Seq("a", "a/b", "a/b/part-0.parquet", "a/b/.part-0.parquet.crc",
      "d", "n1", "n1/n2", "n1/n2/n3")
    for (umask <- Seq("022", "077", "027")) {
      val conf = sessionConf(umask)
      val modes = Seq(stockFs(conf), graftFs(conf)).map { fs =>
        val base = tmp("modes")
        writeText(fs, new Path(base, "a/b/part-0.parquet"), "x")
        assert(fs.mkdirs(new Path(base, "d")))
        assert(fs.mkdirs(new Path(base, "n1/n2/n3")))
        rels.map(r => r -> mode(new Path(base, r))).toMap
      }
      assert(modes(1) == modes(0), s"umask $umask")
      val u = FsPermission.getUMask(conf)
      val file = FsPermission.getFileDefault.applyUMask(u).toShort.toInt
      val dir = FsPermission.getDirDefault.applyUMask(u).toShort.toInt
      assert(modes(1) == rels.map(r => r -> (if (r.contains(".parquet")) file else dir)).toMap,
        s"umask $umask")
    }
  }

  test("setPermission sets the stock mode bits; a sticky bit takes Hadoop's path") {
    for (bits <- Seq(0x180, 0x1a4, 0x1c0, 0x1ed)) { // 0600 0644 0700 0755
      val got = both.map { case (_, fs) =>
        val base = tmp("chmod")
        val f = new Path(base, "f")
        val d = new Path(base, "d")
        writeText(fs, f, "x")
        fs.mkdirs(d)
        fs.setPermission(f, new FsPermission(bits.toShort))
        fs.setPermission(d, new FsPermission(bits.toShort))
        (mode(f), mode(d))
      }
      assert(got == Seq((bits, bits), (bits, bits)), f"mode 0$bits%o")
    }
    val sticky = 0x3ff // 01777
    val got = both.map { case (_, fs) =>
      val d = new Path(tmp("sticky"), "d")
      fs.mkdirs(d)
      fs.setPermission(d, new FsPermission(sticky.toShort))
      mode(d)
    }
    assert(got == Seq(sticky, sticky))
  }

  test("getFileLinkStatus: file, dir, missing path, symlink and dangling symlink") {
    val base = tmp("links")
    val fs0 = graftFs()
    writeText(fs0, new Path(base, "f"), "hello")
    fs0.mkdirs(new Path(base, "d"))
    val dir = Paths.get(base.toUri.getPath)
    Files.createSymbolicLink(dir.resolve("l"), dir.resolve("f"))
    Files.createSymbolicLink(dir.resolve("dl"), dir.resolve("gone"))

    def describe(fs: FileSystem, p: Path): Any =
      try {
        val s = fs.getFileLinkStatus(p)
        (s.getPath, s.isFile, s.isDirectory, s.isSymlink,
          if (s.isSymlink) Some(s.getSymlink) else None, s.getLen,
          s.getModificationTime, s.getPermission, s.getOwner, s.getGroup)
      } catch { case e: java.io.IOException => e.getClass }

    for (name <- Seq("f", "d", "missing", "l", "dl")) {
      val plain = new Path(base, name)
      for (p <- Seq(plain, stockFs().makeQualified(plain))) {
        val Seq(stock, graft) = both.map { case (_, fs) => describe(fs, p) }
        assert(graft == stock, s"$p")
      }
    }
    assert(describe(graftFs(), new Path(base, "missing")) ==
      classOf[java.io.FileNotFoundException])
    assert(graftFs().getFileLinkStatus(new Path(base, "l")).isSymlink)
    assert(graftFs().getFileLinkStatus(new Path(base, "dl")).isSymlink)
  }

  test("FileContext exclusive rename fails on an existing dest and moves nothing") {
    for ((name, fc) <- Seq("stock" -> stockFc, "graft" -> graftFc)) {
      val fs = graftFs()
      val base = tmp("exclusive")
      val staging = new Path(base, ".staging-v1")
      val dest = new Path(base, "v=1")
      writeText(fs, new Path(staging, "part-0.parquet"), "new")
      writeText(fs, new Path(dest, "part-0.parquet"), "old")
      intercept[FileAlreadyExistsException](fc.rename(staging, dest))
      assert(readText(fs, new Path(dest, "part-0.parquet")) == "old", name)
      assert(readText(fs, new Path(staging, "part-0.parquet")) == "new", name)
      // an absent dest is claimed, the file and its checksum with it
      val free = new Path(base, "v=2")
      fc.rename(staging, free)
      assert(!fs.exists(staging), name)
      assert(readText(fs, new Path(free, "part-0.parquet")) == "new", name)
      assert(fs.exists(new Path(free, ".part-0.parquet.crc")), name)
    }
  }

  test("Rename.OVERWRITE replaces a file together with its .crc") {
    val crcs = Seq("stock" -> stockFc, "graft" -> graftFc).map { case (name, fc) =>
      val fs = graftFs()
      val base = tmp("overwrite")
      val tmpPtr = new Path(base, "._LATEST.tmp")
      val ptr = new Path(base, "_LATEST")
      writeText(fs, ptr, "6")
      writeText(fs, tmpPtr, "17")
      fc.rename(tmpPtr, ptr, Options.Rename.OVERWRITE)
      assert(!fs.exists(tmpPtr) && !fs.exists(new Path(base, "._LATEST.tmp.crc")), name)
      // read through the checksummed filesystem: the moved .crc verifies
      assert(readText(fs, ptr) == "17", name)
      bytes(new Path(base, "._LATEST.crc"))
    }
    assert(crcs(1) == crcs(0))
  }

  test("no process starts: 100 creates and 10 pointer swaps fork nothing") {
    val me = Thread.currentThread().getId
    val fs = graftFs()
    val fc = graftFc
    val base = tmp("forks")
    val (_, starts) = ProcessStarts.during {
      for (i <- 0 until 100)
        writeText(fs, new Path(base, s"k=${i % 10}/part-$i.parquet"), s"$i")
      for (i <- 0 until 10) {
        val t = new Path(base, s"._LATEST.$i")
        writeText(fs, t, s"$i")
        fc.rename(t, new Path(base, "_LATEST"), Options.Rename.OVERWRITE)
      }
    }
    val mine = starts.filter(_.threadId == me)
    assert(mine.size == 0, mine.take(10).mkString("\n"))
    assert(readText(fs, new Path(base, "_LATEST")) == "9")
    // the recording does see forks: the stock class chmods every file
    val stock = stockFs()
    val (_, stockStarts) = ProcessStarts.during(
      for (i <- 0 until 3) writeText(stock, new Path(base, s"stock/part-$i.parquet"), "x"))
    assert(stockStarts.count(s => s.threadId == me && s.program == "chmod") >= 3)
  }
}
