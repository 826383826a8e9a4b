package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileContext, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.io.{NioLocalFileSystem, NioLocalFs, NioRawLocalFileSystem}
import graft.projections.Projections
import graft.sources.{EventLogStore, PendingEvent}
import graft.streaming.Subscriptions

/** Local `file:` I/O through `graft.io`: the store's writes and a
  * checkpointed streaming fold start no process, and leave the same files,
  * permissions and link answers Hadoop's own local file system does. */
class LocalFilesSpec extends SparkTestBase {

  private def conf = spark.sparkContext.hadoopConfiguration

  private def deleteTree(root: JPath): Unit =
    Files.walk(root).sorted(java.util.Comparator.reverseOrder[JPath]).forEach(Files.delete(_))

  test("the session's file: FileSystem and FileContext are the graft.io classes") {
    assert(FileSystem.get(new URI("file:///"), conf).getClass == classOf[NioLocalFileSystem])
    assert(FileContext.getFileContext(new URI("file:///"), conf).getDefaultFileSystem
      .getClass == classOf[NioLocalFs])
  }

  test("store writes, a checkpointed catch-up, scavenge and compact fork nothing " +
    "under the store or the checkpoint, and keep the umask's permission bits") {
    val root = Files.createTempDirectory("graftlocalfiles").toRealPath()
    val dir = root.resolve("store").toString
    val ck = root.resolve("ck").toString
    val recording = new jdk.jfr.Recording()
    recording.enable("jdk.ProcessStart")
    recording.start()
    try {
      val store = new EventLogStore(spark, dir, 2)
      val s = spark; import s.implicits._
      val bulk = (0 until 40).map(i => (s"a-${i % 4}", s"b$i", "Deposited", """{"amt":1}""",
        null: String, null: String, ts("2024-01-01 00:00:00")))
        .toDF("stream_id", "event_id", "event_type", "data", "metadata", "correlation_id",
          "timestamp")
      assert(store.appendBulk(bulk) == 40L)
      store.append(Seq(PendingEvent("a-1", "e1", "Deposited", """{"amt":2}""",
        timestamp = ts("2024-01-01 00:00:00"))))
      val fold = Projections.fromCategory("a").foreachStream().init(0L)
        .whenAny((n: Long, _: graft.projections.LogEvent) => n + 1)
      val q = fold.statesStream(Subscriptions.subscribeAll(spark, s"$dir/log")
          .where(col("stream_id").startsWith("a-")))
        .toDF("partition", "state")
        .writeStream.format("memory").queryName("localfiles").outputMode("update")
        .option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
      q.exception.foreach(e => throw e)
      assert(spark.table("localfiles").count() == 4)
      store.setMetadata("a-2", maxCount = Some(1))
      assert(store.scavengeIncremental().nonEmpty)
      assert(store.compact(maxFilesPerPartition = 1).nonEmpty)
    } finally recording.stop()

    val jfr = Files.createTempFile(root, "forks", ".jfr")
    recording.dump(jfr)
    recording.close()
    val commands = jdk.jfr.consumer.RecordingFile.readAllEvents(jfr).asScala
      .filter(_.getEventType.getName == "jdk.ProcessStart")
      .map(_.getString("command")).toSeq
    Files.delete(jfr)
    val forks = commands.filter(c => c.contains(dir) || c.contains(ck))
    assert(forks.isEmpty, s"${forks.size} process starts, first:\n${forks.take(5).mkString("\n")}")

    val umask = FsPermission.getUMask(conf)
    val fileBits = FsPermission.getFileDefault.applyUMask(umask).toString
    val dirBits = FsPermission.getDirDefault.applyUMask(umask).toString
    if (umask.toShort == Integer.parseInt("022", 8)) {
      assert(fileBits == "rw-r--r--")
      assert(dirBits == "rwxr-xr-x")
    }
    def perms(p: JPath): String =
      PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
    for (tree <- Seq(s"$dir/log", ck)) {
      val paths = Files.walk(java.nio.file.Paths.get(tree)).iterator.asScala.toSeq
      assert(paths.exists(_.getFileName.toString.endsWith(".crc")))
      paths.foreach { p =>
        val want = if (Files.isDirectory(p)) dirBits else fileBits
        assert(perms(p) == want, s"$p")
      }
    }
    deleteTree(root)
  }

  test("getFileLinkStatus answers as Hadoop's RawLocalFileSystem does for a file, " +
    "a dir, a symlink and a missing path") {
    val root = Files.createTempDirectory("graftlinks").toRealPath()
    val file = Files.write(root.resolve("file"), "x".getBytes)
    val sub = Files.createDirectory(root.resolve("dir"))
    val link = Files.createSymbolicLink(root.resolve("link"), file)
    val missing = root.resolve("missing")
    val hadoop = new RawLocalFileSystem
    val nio = new NioRawLocalFileSystem
    Seq(hadoop, nio).foreach(_.initialize(new URI("file:///"), conf))
    // qualified paths (what FileContext passes) and plain ones
    val paths = Seq(file, sub, link, missing).flatMap(p =>
      Seq(new Path(p.toUri), new Path(p.toString)))
    paths.foreach { p =>
      def answer(fs: RawLocalFileSystem): Either[Class[_], String] =
        try Right(fs.getFileLinkStatus(p).toString)
        catch { case e: FileNotFoundException => Left(e.getClass) }
      assert(answer(nio) == answer(hadoop), s"$p")
    }
    assert(hadoop.getFileLinkStatus(new Path(link.toString)).isSymlink)
    intercept[FileNotFoundException](nio.getFileLinkStatus(new Path(missing.toUri)))
    Seq(hadoop, nio).foreach(_.close())
    deleteTree(root)
  }
}
