package graft

import graft.stream.{E2e, GraftLog, LocalCheckpointFileManager, Serve}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files => NF, Path => NPath}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileSystem, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileContextBasedCheckpointFileManager}
import scala.jdk.CollectionConverters._

/** [[LocalCheckpointFileManager]]: the checkpoint-manager contract Spark's
  * streaming logs rely on (atomic publish, cancel, no-overwrite), Spark's
  * default manager for non-`file:` paths, and a structural pin that a
  * streaming run starts no child process from checkpoint I/O. */
class CheckpointFileManagerSpec extends SparkFixture {

  private def manager(dir: NPath): LocalCheckpointFileManager =
    new LocalCheckpointFileManager(new Path(dir.toUri), new Configuration())

  private def names(dir: NPath): Set[String] = {
    val l = NF.list(dir)
    try l.iterator.asScala.map(_.getFileName.toString).toSet finally l.close()
  }

  private def write(m: CheckpointFileManager, p: Path, text: String,
      overwrite: Boolean): Unit = {
    val out = m.createAtomic(p, overwriteIfPossible = overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }

  test("Spark picks the manager from spark.sql.streaming.checkpointFileManagerClass") {
    val conf = new Configuration()
    conf.set(LocalCheckpointFileManager.ConfKey, classOf[LocalCheckpointFileManager].getName)
    val dir = NF.createTempDirectory("cfm_conf")
    assert(CheckpointFileManager.create(new Path(dir.toUri), conf)
      .isInstanceOf[LocalCheckpointFileManager])
  }

  test("atomic publish: the target appears only on close, whole, without temp or .crc files") {
    val dir = NF.createTempDirectory("cfm_publish")
    val m = manager(dir)
    val target = new Path(dir.toUri.toString, "0")
    val out = m.createAtomic(target, overwriteIfPossible = false)
    out.write("v1\n{\"a\":1}".getBytes(UTF_8))
    out.flush()
    // in flight: only a temp file in the target's own directory
    assert(!NF.exists(dir.resolve("0")))
    val inFlight = names(dir)
    assert(inFlight.size == 1 && inFlight.head.startsWith(".0.") &&
      inFlight.head.endsWith(".tmp"), inFlight)
    out.close()
    assert(names(dir) == Set("0"))
    assert(new String(NF.readAllBytes(dir.resolve("0")), UTF_8) == "v1\n{\"a\":1}")
    val in = m.open(target)
    try assert(new String(in.readAllBytes(), UTF_8) == "v1\n{\"a\":1}") finally in.close()
  }

  test("cancel() leaves neither the file nor the temp file") {
    val dir = NF.createTempDirectory("cfm_cancel")
    val m = manager(dir)
    val out = m.createAtomic(new Path(dir.toUri.toString, "1.changelog"),
      overwriteIfPossible = true)
    out.write(Array[Byte](1, 2, 3))
    out.cancel()
    assert(names(dir).isEmpty)
  }

  test("publishing without overwrite onto an existing file throws FileAlreadyExistsException") {
    val dir = NF.createTempDirectory("cfm_noclobber")
    val m = manager(dir)
    val target = new Path(dir.toUri.toString, "3")
    write(m, target, "first", overwrite = false)
    intercept[FileAlreadyExistsException] {
      write(m, target, "second", overwrite = false)
    }
    // the existing file is untouched and the loser's temp file is gone
    assert(new String(NF.readAllBytes(dir.resolve("3")), UTF_8) == "first")
    assert(names(dir) == Set("3"))
  }

  test("overwrite replaces the file and drops a .crc the old file had") {
    val dir = NF.createTempDirectory("cfm_overwrite")
    val target = new Path(dir.toUri.toString, "2.changelog")
    // the file as Hadoop's checksummed local file system writes it
    val local = FileSystem.getLocal(new Configuration())
    val o = local.create(target, true)
    o.write("old".getBytes(UTF_8)); o.close()
    assert(names(dir) == Set("2.changelog", ".2.changelog.crc"))
    write(manager(dir), target, "new contents", overwrite = true)
    assert(names(dir) == Set("2.changelog"))
    // a checksummed read (the default manager's) still works after the swap
    val in = local.open(target)
    try assert(new String(in.readAllBytes(), UTF_8) == "new contents") finally in.close()
  }

  test("list, exists, delete and mkdirs") {
    val dir = NF.createTempDirectory("cfm_ops")
    val m = manager(dir)
    val sub = new Path(dir.toUri.toString, "state/0/1")
    assert(!m.exists(sub))
    m.mkdirs(sub)
    assert(m.exists(sub) && NF.isDirectory(dir.resolve("state/0/1")))
    m.mkdirs(sub) // idempotent
    Seq("1.changelog", "2.changelog", "_metadata").foreach { n =>
      write(m, new Path(sub, n), n, overwrite = false)
    }
    assert(m.list(sub).map(_.getPath.getName).toSet ==
      Set("1.changelog", "2.changelog", "_metadata"))
    assert(m.list(sub, (p: Path) => p.getName.endsWith(".changelog"))
      .map(_.getPath.getName).toSet == Set("1.changelog", "2.changelog"))
    m.delete(new Path(sub, "1.changelog"))
    assert(!m.exists(new Path(sub, "1.changelog")) && m.exists(new Path(sub, "2.changelog")))
    m.delete(new Path(sub, "missing")) // deleting a missing file is not an error
    assert(m.isLocal)
    val fresh = manager(dir.resolve("fresh")).createCheckpointDirectory()
    assert(fresh.toUri.getScheme == "file" && fresh.getName == "fresh" &&
      NF.isDirectory(dir.resolve("fresh")))
  }

  test("a path that is not file: gets Spark's default manager") {
    val conf = new Configuration()
    conf.set(LocalCheckpointFileManager.ConfKey, classOf[LocalCheckpointFileManager].getName)
    // constructing an HDFS client makes no connection
    val remote = new Path("hdfs://localhost:1/ckpt/offsets")
    val m = new LocalCheckpointFileManager(remote, conf)
    try {
      assert(m.underlying.isInstanceOf[FileContextBasedCheckpointFileManager],
        m.underlying.getClass)
      assert(!m.isLocal)
    } finally m.close()
    // a scheme-less path is local under the default file system
    val dir = NF.createTempDirectory("cfm_schemeless")
    val plain = new LocalCheckpointFileManager(new Path(dir.toString), conf)
    assert(!plain.underlying.isInstanceOf[FileContextBasedCheckpointFileManager] && plain.isLocal)
  }

  test("the service chain starts no child process from checkpoint I/O (JFR jdk.ProcessStart)") {
    val log = NF.createTempDirectory("cfm_jfr_log").toString
    val ckpt = NF.createTempDirectory("cfm_jfr_ckpt").toString
    val ev = Tables.events(spark, sf001)
    GraftLog.stage(spark, ev, log, segmentRows = 512)
    val perTrigger = ev.count() / 8 + 1
    val client = new Serve.SubscriberClient()
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    val jfr = NF.createTempFile("cfm_process_start", ".jfr")
    try {
      E2e.startChain(spark, log, ckpt, perTrigger, "127.0.0.1", client.port)
        .awaitTermination()
      // a process of our own: proves the recording sees process starts
      new ProcessBuilder("true").start().waitFor()
      rec.stop()
      rec.dump(jfr)
    } finally { rec.close(); client.quiesce(); client.close() }
    val batches = names(java.nio.file.Paths.get(ckpt, "commits")).count(_.matches("\\d+"))
    assert(batches >= 5, s"only $batches micro-batches committed")
    val starts = jdk.jfr.consumer.RecordingFile.readAllEvents(jfr).asScala
      .filter(_.getEventType.getName == "jdk.ProcessStart")
    NF.delete(jfr)
    assert(starts.exists(e => String.valueOf(e.getString("command")).trim == "true"),
      "the recording missed the control process")
    def frames(e: jdk.jfr.consumer.RecordedEvent): Seq[String] =
      Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala)
        .map(f => f.getMethod.getType.getName + "." + f.getMethod.getName)
    // Spark's managers, their output streams and LocalCheckpointFileManager
    val manager = "[\\w.$]*CheckpointFileManager(\\$[\\w$]*)?\\.\\w+"
    val fromCheckpoint = starts.filter(e => frames(e).exists(_.matches(manager)))
    if (fromCheckpoint.nonEmpty) fail(
      s"${fromCheckpoint.size} processes started from checkpoint I/O over $batches batches, " +
        "e.g. " + fromCheckpoint.take(2).map(e =>
          e.getString("command") + " <- " + frames(e).take(12).mkString(" <- ")).mkString("; "))
  }
}
