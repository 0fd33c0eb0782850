package graft

import graft.pipeline.{IdempotentSink, NioLocalFileSystem, NioLocalFs, NioRawLocalFileSystem}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

import java.io.FileNotFoundException
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The fork-free `file:` filesystem GraftSession installs: it is what the
  * sessions resolve, it starts no `chmod`/`readlink` process on the
  * streaming write path, and it answers like the stock local filesystem.
  */
class LocalFsSpec extends SparkSuite {

  private def tmp(prefix: String): java.nio.file.Path = Files.createTempDirectory(prefix)

  private def rawFs(fs: RawLocalFileSystem): RawLocalFileSystem = {
    fs.initialize(URI.create("file:///"), new Configuration())
    fs
  }

  /** Every field a caller can read off a status (FileStatus.equals compares the path only). */
  private def fields(s: FileStatus) =
    (s.getPath, s.isDirectory, s.isSymlink, if (s.isSymlink) Some(s.getSymlink) else None,
      s.getLen, s.getPermission, s.getOwner, s.getGroup, s.getModificationTime)

  /** The commands of the processes the JVM started while `body` ran. */
  private def processStarts(body: => Unit): Seq[String] = {
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val dump = Files.createTempFile("forks", ".jfr")
    try {
      rec.dump(dump)
      jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command"))
    } finally { rec.close(); Files.delete(dump) }
  }

  test("the sessions resolve file: to the graft classes on both Hadoop APIs") {
    val conf = spark.sessionState.newHadoopConf()
    assert(FileSystem.get(URI.create("file:///"), conf).getClass == classOf[NioLocalFileSystem])
    assert(FileContext.getLocalFSFileContext(conf).getDefaultFileSystem.getClass ==
      classOf[NioLocalFs])
  }

  test("a checkpointed stream into the idempotent sink starts no chmod or readlink") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val out = tmp("nofork_out").toString
    val mem = MemoryStream[Int]
    val starts = processStarts {
      // positive control: the recording does see a process start
      new ProcessBuilder("true").start().waitFor()
      val q = mem.toDF().writeStream
        .foreachBatch(IdempotentSink.parquetAppend(out))
        .option("checkpointLocation", tmp("nofork_ck").toString)
        .start()
      try (1 to 3).foreach { i => mem.addData(i * 10, i * 10 + 1); q.processAllAvailable() }
      finally q.stop()
    }
    assert(starts.exists(_.startsWith("true")), s"JFR saw no process start: $starts")
    val shell = starts.filter(c => c.contains("chmod") || c.contains("readlink"))
    val forks = shell.size
    assert(forks == 0, s"shell forks, e.g. ${shell.take(3)}")
    assert(spark.read.parquet(out).count() == 6)
  }

  test("setPermission writes the same mode bits as the stock filesystem") {
    val stock = rawFs(new RawLocalFileSystem)
    val graft = rawFs(new NioRawLocalFileSystem)
    val dir = tmp("perm")
    for (mode <- Seq("644", "755", "700", "600"); kind <- Seq("file", "dir")) {
      val paths = Seq("stock", "graft").map { who =>
        val p = dir.resolve(s"$kind-$mode-$who")
        if (kind == "file") Files.createFile(p) else Files.createDirectory(p)
        new Path(p.toUri)
      }
      val perm = new FsPermission(mode)
      stock.setPermission(paths(0), perm)
      graft.setPermission(paths(1), perm)
      val want = Files.getPosixFilePermissions(Paths.get(paths(0).toUri))
      assert(Files.getPosixFilePermissions(Paths.get(paths(1).toUri)) == want, s"$kind $mode")
      assert(graft.getFileStatus(paths(1)).getPermission == perm, s"$kind $mode")
    }
  }

  test("getFileLinkStatus answers as the stock filesystem; missing paths still throw") {
    val stock = rawFs(new RawLocalFileSystem)
    val graft = rawFs(new NioRawLocalFileSystem)
    val dir = tmp("links")
    val target = Files.write(dir.resolve("target"), "x".getBytes(UTF_8))
    val link = Files.createSymbolicLink(dir.resolve("link"), target)
    val real = graft.getFileLinkStatus(new Path(link.toString))
    assert(real.isSymlink && real.getSymlink.toUri.getPath == target.toString)
    // plain and file:-qualified forms of a file, a directory and a symlink
    for (p <- Seq(target, dir, link); path <- Seq(new Path(p.toString), new Path(p.toUri)))
      assert(fields(graft.getFileLinkStatus(path)) == fields(stock.getFileLinkStatus(path)),
        path.toString)
    val missing = new Path(dir.resolve("missing").toUri)
    intercept[FileNotFoundException](graft.getFileLinkStatus(missing))
    intercept[FileNotFoundException](graft.getFileStatus(missing))
  }

  test("FileSystem renames answer as the distribution's stock file: class") {
    val stockConf = new Configuration()
    stockConf.setBoolean("fs.file.impl.disable.cache", true)
    val stock = FileSystem.get(URI.create("file:///"), stockConf)
    val graft = FileSystem.get(URI.create("file:///"), spark.sessionState.newHadoopConf())
    assert(stock.getClass != graft.getClass)
    val outcomes = Seq(stock, graft).map { fs =>
      val dir = tmp("rename")
      def file(name: String) = Files.write(dir.resolve(name), name.getBytes(UTF_8))
      val taken = fs.rename(new Path(file("a").toUri), new Path(file("b").toUri))
      val free = fs.rename(new Path(dir.resolve("a").toUri), new Path(dir.resolve("c").toUri))
      Files.createDirectory(dir.resolve("d"))
      val intoDir = fs.rename(new Path(dir.resolve("b").toUri), new Path(dir.resolve("d").toUri))
      val left = Files.walk(dir).iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => dir.relativize(p).toString -> new String(Files.readAllBytes(p), UTF_8)).toMap
      (taken, free, intoDir, left)
    }
    assert(outcomes(1) == outcomes(0), s"${stock.getClass.getName} -> ${outcomes(0)}")
  }

  test("a checkpoint createAtomic overwrite round-trips") {
    val dir = new Path(tmp("atomic").toUri)
    val mgr = CheckpointFileManager.create(dir, spark.sessionState.newHadoopConf())
    val file = new Path(dir, "0")
    for ((body, overwrite) <- Seq("first" -> false, "second" -> true)) {
      val out = mgr.createAtomic(file, overwriteIfPossible = overwrite)
      out.write(body.getBytes(UTF_8))
      out.close()
      val in = mgr.open(file)
      try assert(new String(in.readAllBytes(), UTF_8) == body)
      finally in.close()
    }
    assert(mgr.list(dir).map(_.getPath.getName).toSeq == Seq("0"), "no temp file left behind")
  }

  test("a checkpoint written by the stock filesystem resumes unchanged") {
    val in = tmp("stock_in")
    val out = tmp("stock_out").toString
    val ck = tmp("stock_ck")
    def addFile(i: Int): Unit = Files.write(in.resolve(s"part-$i.txt"), s"$i\n".getBytes(UTF_8))
    def drain(s: org.apache.spark.sql.SparkSession): Unit =
      s.readStream.option("maxFilesPerTrigger", "1").text(in.toString).writeStream
        .foreachBatch(IdempotentSink.parquetAppend(out))
        .option("checkpointLocation", ck.toString)
        .trigger(Trigger.AvailableNow())
        .start().awaitTermination()
    def snapshot(): Map[String, Seq[Byte]] =
      Files.walk(ck).iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => ck.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap

    val stock = spark.newSession()
    stock.conf.set("fs.file.impl", "org.apache.hadoop.fs.LocalFileSystem")
    stock.conf.set("fs.file.impl.disable.cache", "true")
    stock.conf.set("fs.AbstractFileSystem.file.impl", "org.apache.hadoop.fs.local.LocalFs")
    (0 until 3).foreach(addFile)
    drain(stock)
    val written = snapshot()
    assert(written.keys.exists(_.startsWith("commits/")), written.keys)

    addFile(3)
    drain(spark)
    val after = snapshot()
    assert(written.forall { case (k, v) => after.get(k).contains(v) }, "stock-written files changed")
    assert(after.keySet.contains("commits/3") && !after.keySet.contains("commits/4"))
    val rows = spark.read.parquet(out)
    assert(rows.count() == 4 && rows.select("value").distinct().count() == 4)
  }
}
