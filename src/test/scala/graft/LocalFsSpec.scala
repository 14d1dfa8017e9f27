package graft

import java.io.{FileNotFoundException, RandomAccessFile}
import java.net.URI
import java.nio.file.{Files, Path => NioPath}

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, ChecksumException, FileContext, FileSystem,
  LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Merge
import graft.sources.{ForkFreeLocalFileSystem, ForkFreeLocalFs}
import graft.streaming.Livestream

class LocalFsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(p: String) = Files.createTempDirectory(p)

  private def c(id: Long, body: String, score: Long) =
    C(id, s"t1_$id", id, s"u$id", "t3_r", "t3_r", body, score, "sub", null, body.length.toLong)

  private def mode(p: NioPath): Int =
    Files.getAttribute(p, "unix:mode", java.nio.file.LinkOption.NOFOLLOW_LINKS)
      .asInstanceOf[Int] & 0xfff

  /** Both filesystems over one configuration: Hadoop's stock local one
    * and the engine's. */
  private def both(umask: String): (FileSystem, FileSystem) = {
    val conf = new Configuration()
    conf.set("fs.permissions.umask-mode", umask)
    val stock = new LocalFileSystem()
    stock.initialize(URI.create("file:///"), conf)
    val ours = new ForkFreeLocalFileSystem()
    ours.initialize(URI.create("file:///"), conf)
    (stock, ours)
  }

  test("the session binds file: to the engine's filesystem for FileSystem and FileContext") {
    val conf = spark.sparkContext.hadoopConfiguration
    // FileSystem caches one instance per scheme: a stock instance made
    // before the binding would be returned here whatever the conf says
    assert(FileSystem.get(URI.create("file:///"), conf).getClass ===
      classOf[ForkFreeLocalFileSystem])
    assert(FileSystem.getLocal(conf).getClass === classOf[ForkFreeLocalFileSystem])
    assert(AbstractFileSystem.get(URI.create("file:///"), conf).getClass ===
      classOf[ForkFreeLocalFs])
    assert(FileContext.getFileContext(URI.create("file:///"), conf)
      .getDefaultFileSystem.getClass === classOf[ForkFreeLocalFs])
  }

  test("no chmod or readlink process: keyBucket seed, merge with edits, AvailableNow sink, changes()") {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    val dir = tmp("spawn")
    try {
      val table = new Livestream.UpsertTable(spark, dir.resolve("t").toString,
        Merge.comments, Seq.empty[C].toDF(),
        partitioning = Some(Livestream.keyBucket(nBuckets = 4)))
      table.seed((1L to 20L).map(i => c(i, s"b$i", i)).toDF())
      table.merge(Seq(c(3, "edited", 30), c(21, "new", 1)).toDF()
        .withColumn("_seq", lit(0L)), "_seq", storeEdits = Some(true))
      val src = dir.resolve("src").toString
      Seq(c(5, "streamed", 50), c(22, "s", 2)).toDF().write.parquet(s"$src/a")
      val q = Livestream.upsertSink(
        spark.readStream.schema(Seq.empty[C].toDF().schema)
          .option("recursiveFileLookup", "true").parquet(src),
        table, dir.resolve("ckp").toString).start()
      q.awaitTermination()
      assert(table.currentVersion === 2L)
      assert(table.changes(0L, 2L).count() === 4L)   // 2 inserts, 2 updates
      assert(table.edits.filter(col("idstr") === "t1_3").count() === 1L)
      // checksums are still written beside the data
      assert(Files.walk(dir).iterator().asScala
        .exists(_.getFileName.toString.endsWith(".parquet.crc")))
    } finally rec.stop()
    val jfr = Files.createTempFile("spawn", ".jfr")
    rec.dump(jfr)
    rec.close()
    val spawned = RecordingFile.readAllEvents(jfr).asScala
      .filter(_.getEventType.getName == "jdk.ProcessStart")
      .map(_.getString("command"))
    Files.delete(jfr)
    val forks = spawned.filter(cmd => cmd.startsWith("chmod") || cmd.startsWith("readlink"))
    assert(forks.isEmpty,
      s"${forks.size} chmod/readlink processes, e.g. ${forks.take(3).mkString("; ")}")
  }

  test("created files and directories get the stock mode bits under the conf umask") {
    for (umask <- Seq("022", "027", "077")) {
      val (stock, ours) = both(umask)
      val dir = tmp("modes")
      for ((fs, name) <- Seq(stock -> "stock", ours -> "ours")) {
        fs.mkdirs(new Path(dir.resolve(s"$name/d/nested").toString))
        val out = fs.create(new Path(dir.resolve(s"$name/f").toString))
        out.write(1)
        out.close()
        fs.mkdirs(new Path(dir.resolve(s"$name/p").toString), new FsPermission("751"))
      }
      for (leaf <- Seq("", "d", "d/nested", "f", ".f.crc", "p"))
        assert(mode(dir.resolve(s"ours/$leaf")) === mode(dir.resolve(s"stock/$leaf")),
          s"umask $umask, '$leaf'")
    }
  }

  test("explicit setPermission matches the stock filesystem; sticky and setgid bits go to Hadoop") {
    val (stock, ours) = both("022")
    val dir = tmp("chmod")
    for ((fs, name) <- Seq(stock -> "stock", ours -> "ours")) {
      Files.write(dir.resolve(s"$name-f"), Array[Byte](1))
      Files.createDirectory(dir.resolve(s"$name-d"))
    }
    def same(leaf: String, perm: String): Unit = {
      stock.setPermission(new Path(dir.resolve(s"stock-$leaf").toString), new FsPermission(perm))
      ours.setPermission(new Path(dir.resolve(s"ours-$leaf").toString), new FsPermission(perm))
      assert(mode(dir.resolve(s"ours-$leaf")) === mode(dir.resolve(s"stock-$leaf")), perm)
      assert(mode(dir.resolve(s"ours-$leaf")) === Integer.parseInt(perm, 8), perm)
    }
    for (p <- Seq("600", "750", "755")) same("f", p)
    for (p <- Seq("700", "1777", "755")) same("d", p)
    // chmod keeps a directory's setgid bit under a 4-digit octal mode
    for (name <- Seq("stock", "ours")) {
      val d = dir.resolve(s"$name-g")
      Files.createDirectory(d)
      assert(new ProcessBuilder("chmod", "2775", d.toString).start().waitFor() === 0)
    }
    stock.setPermission(new Path(dir.resolve("stock-g").toString), new FsPermission("750"))
    ours.setPermission(new Path(dir.resolve("ours-g").toString), new FsPermission("750"))
    assert(mode(dir.resolve("ours-g")) === mode(dir.resolve("stock-g")))
  }

  test("getFileLinkStatus of a file, a directory, a symlink and a missing path matches stock") {
    val (stock, ours) = both("022")
    val dir = tmp("links")
    val file = Files.write(dir.resolve("f"), Array[Byte](1, 2, 3))
    val sub = Files.createDirectory(dir.resolve("d"))
    val link = Files.createSymbolicLink(dir.resolve("l"), file)
    for (p <- Seq(file, sub, link)) {
      val path = new Path(p.toString)
      val (s, o) = (stock.getFileLinkStatus(path), ours.getFileLinkStatus(path))
      assert((o.isFile, o.isDirectory, o.isSymlink, o.getLen, o.getPath) ===
        (s.isFile, s.isDirectory, s.isSymlink, s.getLen, s.getPath), p)
      if (p == link) {
        assert(o.isSymlink)
        assert(o.getSymlink === s.getSymlink)
        assert(o.getSymlink.toUri.getPath === file.toString)
      }
    }
    val missing = new Path(dir.resolve("nope").toString)
    intercept[FileNotFoundException](stock.getFileLinkStatus(missing))
    intercept[FileNotFoundException](ours.getFileLinkStatus(missing))
  }

  test(".crc checksums are written and a flipped data byte fails the read") {
    val (_, ours) = both("022")
    val dir = tmp("crc")
    val p = new Path(dir.resolve("data").toString)
    val out = ours.create(p)
    out.write(Array.tabulate[Byte](4096)(i => (i % 251).toByte))
    out.close()
    assert(Files.exists(dir.resolve(".data.crc")))
    val raf = new RandomAccessFile(dir.resolve("data").toFile, "rw")
    try {
      raf.seek(100)
      val b = raf.read()
      raf.seek(100)
      raf.write(b ^ 0xff)
    } finally raf.close()
    val in = ours.open(p)
    try intercept[ChecksumException](in.readFully(new Array[Byte](4096)))
    finally in.close()
  }
}
