package graft

/** Per-JVM-scoped /tmp staging paths for operators that write before they
  * read (format round-trips, sink rewrites, bucketed warehouses).
  *
  * Paths previously derived only from the fixture dir, so two concurrent
  * runs (driver Verify + a local bench, or two bench JVMs) on the same
  * fixture clobbered each other's staging mid-read (ADVICE r10). The token
  * is the JVM's pid@host: stable within a JVM (re-running a key in-session
  * reuses its dir — overwrite semantics unchanged), unique across
  * concurrent JVMs on one box. Staging is small (fixture-scale) and /tmp
  * is session-lifetime scratch, so no reaper is needed. The two staging
  * primitives every writer shares live here too: [[deleteTree]] and
  * [[writeSingleFile]].
  */
object Tmp {
  private val token: String =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getName
      .replaceAll("[^a-zA-Z0-9]", "")

  def dir(prefix: String, sfDir: String): String =
    s"/tmp/graft_${prefix}_" + sfDir.replaceAll("[^a-zA-Z0-9]", "_") + s"_$token"

  /** Root for EPHEMERAL streaming-checkpoint scratch (offset/commit WALs,
    * state changelogs). The 1.3-4 s per store per batch once measured here
    * as `rocksdbCommitFileSyncLatencyMs` was not fsync (a JFR recording of
    * the service chain shows no `jdk.FileForce` event): Spark's default
    * checkpoint manager, without the native libhadoop, started a `chmod`
    * or `readlink` child process for each checkpoint file, which
    * [[graft.stream.LocalCheckpointFileManager]] no longer does.
    * Checkpoints created through [[ckpt]] are per-run scratch (each run
    * creates a fresh one; lifetime = the run), so they sit on the
    * RAM-backed tmpfs, not on the data disk.
    * Production deployments configure a durable checkpoint URI (object
    * store / HDFS) explicitly — this root only governs harness-local
    * ephemeral checkpoints, and `SPARK_GRAFT_CKPT_ROOT` /
    * `-Dgraft.ckpt.root` override it. Restart/recovery *pins* keep their
    * own explicit dirs (StreamingSpec) and are unaffected. */
  private lazy val ckptRoot: java.nio.file.Path = {
    val configured = sys.env.get("SPARK_GRAFT_CKPT_ROOT")
      .orElse(sys.props.get("graft.ckpt.root"))
      .map(java.nio.file.Paths.get(_))
    val root = configured.getOrElse {
      val shm = java.nio.file.Paths.get("/dev/shm")
      if (java.nio.file.Files.isDirectory(shm) &&
          java.nio.file.Files.isWritable(shm)) shm
      else java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    }
    java.nio.file.Files.createDirectories(root)
    root
  }

  /** Checkpoint dirs created by [[ckpt]] this JVM, swept by one shutdown
    * hook (registered with the first dir). */
  private lazy val ckptDirs: java.util.Queue[java.nio.file.Path] = {
    val dirs = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()
    sys.addShutdownHook {
      dirs.forEach(dir => try deleteTree(dir) catch { case _: Exception => () })
    }
    dirs
  }

  /** A fresh ephemeral streaming-checkpoint dir under [[ckptRoot]],
    * best-effort deleted at JVM exit (checkpoints are KB-scale: two WAL
    * entries plus per-store changelogs per micro-batch). */
  def ckpt(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(ckptRoot, s"graft_${prefix}_ckpt")
    ckptDirs.add(dir)
    dir.toString
  }

  /** Delete `dir` and everything under it, deepest first; a missing `dir`
    * is a no-op. */
  def deleteTree(dir: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(dir)) {
      val walk = java.nio.file.Files.walk(dir)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
      finally walk.close()
    }

  /** Write `df` as the ONE `format` file `target` (a fixture table, a
    * Delta checkpoint, an Iceberg manifest): Spark writes a directory, so
    * the frame lands in a `_stage_<name>` sibling as one part file, which
    * moves into place (keeping its write-time mtime) before the stage is
    * dropped. Returns `target`. */
  def writeSingleFile(df: org.apache.spark.sql.DataFrame, format: String,
      target: java.nio.file.Path): java.nio.file.Path = {
    val stage = target.resolveSibling(s"_stage_${target.getFileName}")
    df.coalesce(1).write.mode("overwrite").format(format).save(stage.toString)
    val listing = java.nio.file.Files.list(stage)
    val part =
      try listing.filter(_.getFileName.toString.startsWith("part-")).findFirst()
        .orElseThrow(() => new IllegalStateException(s"no part file under $stage"))
      finally listing.close()
    java.nio.file.Files.move(part, target,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    deleteTree(stage)
    target
  }
}
