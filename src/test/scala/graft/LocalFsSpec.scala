package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Paths, Path => JPath}
import java.util.EnumSet
import scala.jdk.CollectionConverters._
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, FileSystem,
  Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.SnapshotTable
import graft.streaming.{EventStreams, GuardStream, SnapshotIngest}

/** The engine's local filesystem ([[NioRawLocalFileSystem]] and its two
  * wrappers) against Hadoop's stock `RawLocalFileSystem` / `LocalFs`:
  * each case runs on both sides, on sibling directories under one
  * umask, and the on-disk result or the returned status must match. */
class LocalFsSpec extends AnyFunSuite {
  private val conf = new Configuration(false)
  conf.set("fs.permissions.umask-mode", "027")

  private def raw(fs: RawLocalFileSystem): RawLocalFileSystem = {
    fs.initialize(URI.create("file:///"), conf); fs
  }
  private val sides = Seq("stock" -> raw(new RawLocalFileSystem),
    "engine" -> raw(new NioRawLocalFileSystem))

  /** One fresh sibling directory per side. */
  private def siblings(): Seq[(RawLocalFileSystem, JPath)] = {
    val root = Files.createTempDirectory("graft-localfs")
    root.toFile.deleteOnExit()
    sides.map { case (name, fs) =>
      (fs, Files.createDirectory(root.resolve(name)))
    }
  }

  private def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  /** Both sides' results, asserted equal; returns the one value. */
  private def same[T](results: Seq[T]): T = {
    assert(results.distinct.size == 1, results)
    results.head
  }

  test("permission bits after create and after mkdirs match stock") {
    val dirs = siblings()
    assert(same(dirs.map { case (fs, d) =>
      fs.create(new Path(d.resolve("f").toString)).close()
      mode(d.resolve("f"))
    }) == Integer.parseInt("640", 8))
    assert(same(dirs.map { case (fs, d) =>
      assert(fs.mkdirs(new Path(d.resolve("a/b").toString)))
      (mode(d.resolve("a")), mode(d.resolve("a/b")))
    }) == (Integer.parseInt("750", 8), Integer.parseInt("750", 8)))
  }

  test("setPermission with and without the sticky bit matches stock") {
    val dirs = siblings()
    for (perm <- Seq("751", "1755", "604", "0")) {
      assert(same(dirs.map { case (fs, d) =>
        val f = Files.createDirectories(d.resolve(s"d$perm"))
        fs.setPermission(new Path(f.toString),
          new FsPermission(Integer.parseInt(perm, 8).toShort))
        mode(f)
      }) == Integer.parseInt(perm, 8), perm)
    }
    // a set-group-id directory: chmod's octal mode keeps the bit
    same(dirs.map { case (fs, d) =>
      val f = Files.createDirectories(d.resolve("sgid"))
      assert(new ProcessBuilder("chmod", "2775", f.toString).start()
        .waitFor() == 0)
      fs.setPermission(new Path(f.toString),
        new FsPermission(Integer.parseInt("750", 8).toShort))
      mode(f)
    })
  }

  /** A status with its side's directory stripped from every path. */
  private def shape(st: FileStatus, d: JPath): Seq[Any] = {
    def rel(p: Path) = p.toString.replace(d.toString, "<d>")
    Seq(st.isFile, st.isDirectory, st.isSymlink, st.getLen, rel(st.getPath),
      if (st.isSymlink) rel(st.getSymlink) else "")
  }

  test("getFileLinkStatus matches stock on files, dirs, symlinks, misses") {
    val dirs = siblings()
    dirs.foreach { case (_, d) =>
      Files.write(d.resolve("file"), "abc".getBytes)
      Files.createDirectory(d.resolve("dir"))
      Files.createSymbolicLink(d.resolve("link"), Paths.get("file"))
    }
    for (name <- Seq("file", "dir", "link")) {
      same(dirs.map { case (fs, d) =>
        shape(fs.getFileLinkStatus(new Path(d.resolve(name).toString)), d)
      })
    }
    // a symlink: the unqualified path reads as a link (readlink sees a
    // real file name), the qualified one as its target, as in Hadoop
    val unqualified = same(dirs.map { case (fs, d) =>
      shape(fs.getFileLinkStatus(new Path(d.resolve("link").toString)), d)
    })
    val qualified = same(dirs.map { case (fs, d) =>
      shape(fs.getFileLinkStatus(new Path(d.resolve("link").toUri)), d)
    })
    assert(unqualified(2) == true && qualified(2) == false)
    dirs.foreach { case (fs, d) =>
      intercept[FileNotFoundException](
        fs.getFileLinkStatus(new Path(d.resolve("missing").toString)))
    }
  }

  test("FileContext.rename OVERWRITE moves data and .crc like stock LocalFs") {
    val stockConf = new Configuration(conf)
    stockConf.set("fs.AbstractFileSystem.file.impl",
      "org.apache.hadoop.fs.local.LocalFs")
    val engineConf = new Configuration(conf)
    engineConf.set("fs.AbstractFileSystem.file.impl", "graft.NioLocalFs")
    val contexts = Seq(stockConf, engineConf).map(FileContext.getFileContext(
      URI.create("file:///"), _))
    assert(contexts.map(_.getDefaultFileSystem.getClass.getName) ==
      Seq("org.apache.hadoop.fs.local.LocalFs", "graft.NioLocalFs"))
    val dirs = siblings().map(_._2)
    same(contexts.zip(dirs).map { case (fc, d) =>
      def write(name: String, body: String): Path = {
        val p = new Path(d.resolve(name).toString)
        val out = fc.create(p, EnumSet.of(CreateFlag.CREATE,
          CreateFlag.OVERWRITE))
        out.write(body.getBytes); out.close(); p
      }
      val dst = write("dst", "old")
      fc.rename(write("src", "new bytes"), dst, Options.Rename.OVERWRITE)
      val in = fc.open(dst)
      val body = try new String(in.readAllBytes()) finally in.close()
      val listing = d.toFile.list().sorted.toSeq
      val crc = Files.readAllBytes(d.resolve(".dst.crc")).toSeq
      (body, listing, crc)
    }) match { case (body, listing, _) =>
      assert(body == "new bytes")
      assert(listing == Seq(".dst.crc", "dst"))
    }
  }
}

/** The engine's `file:` scheme inside a real session: Spark's Hadoop
  * conf resolves to the engine's classes, and a stateful micro-batch
  * (HDFS-backed state store, local checkpoint) plus one snapshot
  * ingest commit start no process through Hadoop's `Shell`. */
class LocalFsNoForkSpec extends SparkSpec {

  test("the session's local FileSystem and FileContext are the engine's") {
    val conf = spark.sessionState.newHadoopConf()
    assert(FileSystem.getLocal(conf).getRaw.isInstanceOf[NioRawLocalFileSystem])
    assert(FileContext.getLocalFSFileContext(conf).getDefaultFileSystem
      .isInstanceOf[NioLocalFs])
  }

  private def tmp(prefix: String): JPath = {
    val d = Files.createTempDirectory(prefix)
    d.toFile.deleteOnExit(); d
  }

  test("a guard micro-batch and a snapshot ingest commit fork no Shell") {
    val s = spark
    import s.implicits._
    val events = tmp("graft-nofork-events")
    val base = System.currentTimeMillis() - 60000
    StreamTestIO.writeChunk(Tables.load(spark, sf, "events"),
      events.resolve("c1.parquet"), base)
    val orders = Tables.load(spark, sf, "orders")
      .withColumn("om", date_format($"o_orderdate", "yyyy-MM"))
    val table = tmp("graft-nofork-table")
    SnapshotTable.init(spark, orders.filter($"om" < "1996-01"),
      table.toString, "om", "o_orderkey")
    val src = tmp("graft-nofork-src")
    StreamTestIO.writeChunk(orders.filter($"om" >= "1996-01"),
      src.resolve("c1.parquet"), base)

    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try {
      EventStreams.runToMemory(GuardStream.conversions(
        EventStreams.stream(spark, events.toString)).toDF(),
        "nofork_guard").stop()
      SnapshotIngest.start(spark.readStream.schema(orders.schema)
          .parquet(src.toString), table.toString, "om", "o_orderkey",
        "o_orderkey", tmp("graft-nofork-ck").toString).awaitTermination()
    } finally rec.stop()
    assert(SnapshotTable.currentVersion(table.toString) == 2)
    val out = tmp("graft-nofork-jfr").resolve("r.jfr")
    rec.dump(out)
    rec.close()
    val shell = RecordingFile.readAllEvents(out).asScala
      .filter(_.getEventType.getName == "jdk.ProcessStart")
      .filter(e => Option(e.getStackTrace).exists(_.getFrames.asScala
        .exists(_.getMethod.getType.getName
          .startsWith("org.apache.hadoop.util.Shell"))))
    assert(shell.isEmpty, shell.take(3).map(e =>
      s"${e.getString("command")} at ${e.getStackTrace.getFrames.asScala
        .take(12).map(_.getMethod.getName).mkString(" < ")}").mkString("\n"))
  }
}
