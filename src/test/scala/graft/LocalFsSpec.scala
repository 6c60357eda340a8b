package graft

import java.nio.file.{Files, Paths, Path => JPath}
import java.util.EnumSet

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FileAlreadyExistsException,
  FileContext, FileStatus, FileSystem, LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.local.LocalFs
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** The fork-free local file system's contract, each clause checked
  * against stock Hadoop on a temp dir: the same classes serve `file:`
  * in the session, and files, dirs, permission bits, `.crc` sidecars,
  * the no-overwrite rename, link statuses and a restarted stateful
  * query's output are what stock Hadoop gives. */
class LocalFsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val fileUri = new java.net.URI("file:///")

  /** Stock Hadoop, uncached. `fs.file.impl` is named because with Spark's
    * jars the service loader would pick Hive's ProxyLocalFileSystem, this
    * same LocalFileSystem with a rename that refuses an existing file. */
  private def stockConf: Configuration = {
    val c = new Configuration()
    c.set("fs.file.impl", classOf[LocalFileSystem].getName)
    c.setBoolean("fs.file.impl.disable.cache", true)
    c
  }
  private def sessionConf = spark.sessionState.newHadoopConf()
  private def both[T](f: (FileSystem, FileContext) => T): (T, T) = {
    val stockFs = FileSystem.get(fileUri, stockConf)
    try (f(stockFs, FileContext.getFileContext(fileUri, stockConf)),
      f(FileSystem.get(fileUri, sessionConf), FileContext.getFileContext(fileUri, sessionConf)))
    finally stockFs.close()
  }
  private def tmp(prefix: String): JPath = Files.createTempDirectory(prefix)
  private def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode", java.nio.file.LinkOption.NOFOLLOW_LINKS)
      .asInstanceOf[Int] & 0xfff
  private def hpath(p: JPath) = new Path(p.toUri)

  test("the session's file: FileSystem and FileContext are the fork-free ones") {
    val fs = FileSystem.get(fileUri, sessionConf)
    assert(fs.isInstanceOf[ForkFreeLocalFileSystem])
    assert(fs.asInstanceOf[LocalFileSystem].getRaw.isInstanceOf[ForkFreeRawLocalFileSystem])
    assert(FileContext.getFileContext(fileUri, sessionConf).getDefaultFileSystem
      .isInstanceOf[ForkFreeLocalFs])
    // and the stock conf below really is stock Hadoop
    assert(FileSystem.get(fileUri, stockConf).getClass == classOf[LocalFileSystem])
    assert(FileContext.getFileContext(fileUri, stockConf).getDefaultFileSystem
      .getClass == classOf[LocalFs])
  }

  test("created files and dirs carry stock Hadoop's permission bits") {
    val (stock, forkFree) = both { (fs, fc) =>
      val d = tmp("localfs_perm")
      val h = hpath(d)
      fs.create(new Path(h, "a/fs_file")).close()
      fs.create(new Path(h, "fs_0640"), new FsPermission("640"), false, 4096,
        1.toShort, 1L << 20, null).close()
      fs.mkdirs(new Path(h, "fs_dir_0750"), new FsPermission("750"))
      fc.create(new Path(h, "fc_file"), EnumSet.of(CreateFlag.CREATE),
        Options.CreateOpts.createParent()).close()
      fc.mkdir(new Path(h, "fc_dir"), FsPermission.getDirDefault, true)
      fs.create(new Path(h, "set_0604")).close()
      fs.setPermission(new Path(h, "set_0604"), new FsPermission("604"))
      fs.mkdirs(new Path(h, "sticky"))
      fs.setPermission(new Path(h, "sticky"), new FsPermission("1777"))
      Files.walk(d).iterator.asScala.filter(_ != d)
        .map(p => d.relativize(p).toString -> mode(p)).toMap
    }
    assert(stock.size == 12, stock) // 4 dirs, 4 files and their 4 .crc
    assert(forkFree == stock)
    assert(stock("fs_0640") == Integer.parseInt("640", 8))
    assert(stock("sticky") == Integer.parseInt("1777", 8))
  }

  test("FileContext rename without overwrite onto an existing file still throws") {
    val (stock, forkFree) = both { (_, fc) =>
      val h = hpath(tmp("localfs_rename"))
      Seq("src", "dst").foreach(n => fc.create(new Path(h, n),
        EnumSet.of(CreateFlag.CREATE)).close())
      val r = Try(fc.rename(new Path(h, "src"), new Path(h, "dst"), Options.Rename.NONE))
      (r.failed.toOption.map(_.getClass), fc.util.exists(new Path(h, "src")))
    }
    assert(stock == (Some(classOf[FileAlreadyExistsException]), true))
    assert(forkFree == stock)
  }

  test("symlinks, dangling symlinks, files and missing paths report the same link status") {
    def status(s: FileStatus) = (s.isSymlink, if (s.isSymlink) s.getSymlink else null,
      s.isDirectory, s.getLen, s.getPath, s.getPermission, s.getOwner)
    val (stock, forkFree) = both { (fs, fc) =>
      val d = tmp("localfs_link")
      Files.write(d.resolve("target"), "x".getBytes)
      Files.createSymbolicLink(d.resolve("link"), d.resolve("target"))
      Files.createSymbolicLink(d.resolve("dangling"), d.resolve("gone"))
      // qualified and bare paths take different routes through Hadoop
      for (n <- Seq("target", "link", "dangling", "missing");
           p <- Seq(hpath(d.resolve(n)), new Path(d.resolve(n).toString)))
      yield (n, p.toUri.getScheme,
        Try(status(fs.getFileLinkStatus(p))).toEither.left.map(_.getClass),
        Try(status(fc.getFileLinkStatus(p))).toEither.left.map(_.getClass))
    }
    // paths differ by temp dir only
    def norm(x: Seq[Any]) = x.toString.replaceAll("localfs_link\\d+", "D")
    assert(norm(forkFree) == norm(stock))
    assert(stock.exists { case (n, _, fsSt, _) =>
      n == "link" && fsSt.exists(_._1) }, stock) // some route does see the link
  }

  test(".crc sidecars are written and a flipped byte fails the read") {
    val (stock, forkFree) = both { (fs, fc) =>
      val h = hpath(tmp("localfs_crc"))
      val data = Array.tabulate[Byte](3000)(i => (i * 31).toByte)
      val viaFs = new Path(h, "fs_file")
      val viaFc = new Path(h, "fc_file")
      val o1 = fs.create(viaFs); o1.write(data); o1.close()
      val o2 = fc.create(viaFc, EnumSet.of(CreateFlag.CREATE)); o2.write(data); o2.close()
      val crcs = Seq(viaFs, viaFc).map { p =>
        Files.readAllBytes(Paths.get(new Path(p.getParent, s".${p.getName}.crc").toUri)).toSeq
      }
      Seq(viaFs, viaFc).foreach { p =>
        val f = Paths.get(p.toUri)
        val b = Files.readAllBytes(f); b(1234) = (b(1234) ^ 1).toByte; Files.write(f, b)
      }
      def error(in: => java.io.InputStream) =
        Try { val s = in; try s.readAllBytes() finally s.close() }
          .failed.toOption.map(_.getClass)
      (crcs, error(fs.open(viaFs)), error(fc.open(viaFc, 4096)), error(fc.open(viaFc)))
    }
    assert(stock._1.forall(_.nonEmpty))
    assert(stock._2.contains(classOf[ChecksumException]))
    assert(stock._3.contains(classOf[ChecksumException]))
    // stock Hadoop's FilterFs.open(path) skips ChecksumFs and reads the
    // flipped byte back; the fork-free FileContext verifies it, as Spark's
    // offset, commit and sink-log reads need
    assert(stock._4.isEmpty)
    assert(forkFree._4.contains(classOf[ChecksumException]))
    assert(forkFree.copy(_4 = stock._4) == stock)
  }

  test("a stateful query restarted on its checkpoint resumes as under stock Hadoop") {
    val stockSession = spark.newSession()
    stockSession.conf.set("fs.file.impl", classOf[LocalFileSystem].getName)
    stockSession.conf.set("fs.AbstractFileSystem.file.impl", classOf[LocalFs].getName)
    stockSession.conf.set("fs.file.impl.disable.cache", "true")
    assert(FileContext.getFileContext(fileUri, stockSession.sessionState.newHadoopConf())
      .getDefaultFileSystem.getClass == classOf[LocalFs])

    /** Two runs of a running count per key over one checkpoint, the first
      * under `s1`, the restart under `s2`, then a third run after a byte of
      * each state delta file is flipped. Gives every batch's rows in order,
      * the checkpoint's files and their modes, and the third run's error
      * conditions and whether a Hadoop `ChecksumException` caused it. */
    def run(s1: SparkSession, s2: SparkSession) = {
      val d = tmp("localfs_stream")
      val in = d.resolve("in"); Files.createDirectories(in)
      val ck = d.resolve("ck")
      val batches = mutable.ArrayBuffer.empty[(Long, Seq[(String, Long)])]
      def start(s: SparkSession, file: String, keys: Seq[String]): Unit = {
        Files.write(in.resolve(file), keys.mkString("\n").getBytes)
        val sink: (DataFrame, Long) => Unit = (b, id) => batches +=
          id -> b.collect().map(r => (r.getString(0), r.getLong(1))).toSeq.sorted
        val q = s.readStream.text(in.toString).groupBy(col("value")).count()
          .writeStream.outputMode("complete")
          .option("checkpointLocation", ck.toString)
          .trigger(Trigger.AvailableNow()).foreachBatch(sink).start()
        try q.awaitTermination() finally q.stop()
      }
      start(s1, "f1.txt", Seq("a", "b", "a"))
      start(s2, "f2.txt", Seq("a", "c"))
      val files = Files.walk(ck).iterator.asScala.filter(_ != ck).toSeq
      val modes = files.map(p => ck.relativize(p).toString -> mode(p)).sorted
      files.filter(_.toString.endsWith(".delta")).foreach { f =>
        val b = Files.readAllBytes(f); b(b.length / 2) = (b(b.length / 2) ^ 1).toByte
        Files.write(f, b)
      }
      val corrupt = Try(start(s2, "f3.txt", Seq("b"))).failed.toOption.map { e =>
        val chain = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq
        (chain.map(_.getMessage).mkString(" ").split("[^A-Z_]+")
          .filter(_.contains("CHECKSUM")).toSet,
          chain.exists(_.isInstanceOf[ChecksumException]))
      }
      (batches.toSeq, modes, corrupt)
    }
    val stock = run(stockSession, stockSession)
    val forkFree = run(spark, spark)
    // the restart resumed the first run's state: a's count spans both
    assert(stock._1.last._2 == Seq(("a", 3L), ("b", 1L), ("c", 1L)), stock._1)
    // Hadoop's .crc sidecar and Spark's own checksum file beside a state file
    val names = stock._2.map(_._1).toSet
    assert(names("state/0/0/.1.delta.crc") && names("state/0/0/1.delta.crc"), names)
    assert(stock._3.contains((Set("CHECKPOINT_FILE_CHECKSUM_VERIFICATION_FAILED"), false)),
      stock._3)
    // fork-free, FileContext.open(path) verifies Hadoop's .crc sidecar, so
    // the flipped byte fails the restart with a ChecksumException before
    // Spark's own state-file check runs; everything else is identical
    assert(forkFree._3.exists(_._2), forkFree._3)
    assert(forkFree.copy(_3 = stock._3) == stock)
    // a checkpoint written fork-free restarts under stock Hadoop unchanged
    assert(run(spark, stockSession) == stock)
  }
}
