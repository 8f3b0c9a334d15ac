package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Open-table-format interop (r11 verdict "what's missing" item 4): emit
  * the table as a Delta Lake transaction log — the PUBLIC, dependency-free
  * half of the format (the log is JSON lines of `protocol` / `metaData` /
  * `add` / `remove` actions over plain parquet data files; spec:
  * github.com/delta-io/delta PROTOCOL.md). Any Delta-capable engine
  * (Spark+delta, DuckDB delta, Trino, polars) can read the emitted
  * directory as-is; no delta jar exists offline (SURVEY §0), so the
  * round-trip proof here is [[readDeltaLog]] — an independent reader that
  * reconstructs the file set purely from the log, exactly as external
  * tooling would.
  *
  * Mapping from the Acid seam: version n's manifest = the set of `add`
  * actions alive after replaying log versions 0..n; a new commit's removed
  * files become `remove` actions (Delta's tombstones = the vacuum
  * candidates). One JSON file per version is the same atomic-pointer
  * contract — readers take max committed version; writers put-if-absent
  * `<v>.json` (here: O_EXCL create, the [[Acid]] claim primitive).
  *
  * Deterministic: metaData id derives from the directory name, timestamps
  * from file mtimes — re-exports are byte-stable modulo mtime.
  */
object DeltaExport {

  private def logDir(dir: String) = Paths.get(dir, "_delta_log")

  // ---- checkpoint rows (PROTOCOL.md "Checkpoints"): one parquet row per
  // action, struct column per action type, nulls elsewhere ----
  case class CkptFormat(provider: String, options: Map[String, String])
  case class CkptMetaData(id: String, format: CkptFormat, schemaString: String,
      partitionColumns: Seq[String], configuration: Map[String, String],
      createdTime: Long)
  case class CkptProtocol(minReaderVersion: Int, minWriterVersion: Int)
  case class CkptAdd(path: String, partitionValues: Map[String, String],
      size: Long, modificationTime: Long, dataChange: Boolean)
  case class CkptRow(protocol: Option[CkptProtocol],
      metaData: Option[CkptMetaData], add: Option[CkptAdd])

  private def jsonEscape(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  /** Commit `df` as the next Delta version of `dir`: data files land under
    * the table root first, then the version's log entry is published with
    * put-if-absent (concurrent committers to the same version: exactly one
    * wins). `overwrite = true` emits `remove` tombstones for every
    * previously-live file. Returns the committed version. */
  def commit(spark: SparkSession, dir: String, df: DataFrame,
      overwrite: Boolean = false, checkpointInterval: Int = 0): Long = {
    Files.createDirectories(logDir(dir))
    val v = currentVersion(dir).map(_ + 1).getOrElse(0L)
    // data lands in a per-version subdir (Delta permits subdirectory data
    // paths; this keeps concurrent writers' files disjoint)
    val dataSub = f"v$v%020d"
    df.write.mode("overwrite").parquet(s"$dir/$dataSub")
    val root = Paths.get(dir)
    val walk = Files.walk(root.resolve(dataSub))
    val files =
      try walk.filter(p => p.toString.endsWith(".parquet"))
        .map[String](p => root.relativize(p).toString)
        .sorted().toArray.map(_.toString).toSeq
      finally walk.close()
    val actions = Seq.newBuilder[String]
    if (v == 0L) {
      val id = java.util.UUID.nameUUIDFromBytes(
        dir.getBytes(StandardCharsets.UTF_8)).toString
      val schemaJson = jsonEscape(df.schema.json)
      actions += """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}"""
      actions += s"""{"metaData":{"id":"$id","format":{"provider":"parquet","options":{}},"schemaString":"$schemaJson","partitionColumns":[],"configuration":{},"createdTime":${Files.getLastModifiedTime(root).toMillis}}}"""
    }
    if (overwrite && v > 0L) liveFiles(spark, dir, v - 1).foreach { f =>
      actions += s"""{"remove":{"path":"${jsonEscape(f)}","deletionTimestamp":${Files.getLastModifiedTime(root).toMillis},"dataChange":true}}"""
    }
    files.foreach { f =>
      val p = root.resolve(f)
      actions += s"""{"add":{"path":"${jsonEscape(f)}","partitionValues":{},"size":${Files.size(p)},"modificationTime":${Files.getLastModifiedTime(p).toMillis},"dataChange":true}}"""
    }
    val entry = logDir(dir).resolve(f"$v%020d.json")
    // put-if-absent: the Delta commit CAS
    Files.write(entry, actions.result().mkString("", "\n", "\n")
      .getBytes(StandardCharsets.UTF_8),
      java.nio.file.StandardOpenOption.CREATE_NEW,
      java.nio.file.StandardOpenOption.WRITE)
    if (checkpointInterval > 0 && (v + 1) % checkpointInterval == 0)
      writeCheckpoint(spark, dir, v)
    v
  }

  private def jsonUnescape(s: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case '"' => sb += '"'; i += 2
          case '\\' => sb += '\\'; i += 2
          case 'n' => sb += '\n'; i += 2
          case 'r' => sb += '\r'; i += 2
          case 't' => sb += '\t'; i += 2
          case 'u' => sb += Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar; i += 6
          case o => sb += o; i += 2
        }
      } else { sb += c; i += 1 }
    }
    sb.toString
  }

  /** The table's metaData as the v0 commit wrote it: (schemaString,
    * createdTime). The checkpoint's metaData row must be byte-equivalent
    * to the commit's (PROTOCOL.md: readers resolving from `_last_
    * checkpoint` take the TABLE SCHEMA from the checkpoint row — an empty
    * schemaString breaks Trino/delta-rs/DuckDB; ADVICE r13), so it is
    * re-derived from the v0 JSON entry rather than recomputed. */
  private def v0MetaData(dir: String): (String, Long) = {
    val entry = logDir(dir).resolve(f"${0L}%020d.json")
    val txt = new String(Files.readAllBytes(entry), StandardCharsets.UTF_8)
    val schema = """"schemaString":"((?:[^"\\]|\\.)*)"""".r
      .findFirstMatchIn(txt).map(m => jsonUnescape(m.group(1)))
      .getOrElse(sys.error(s"DeltaExport: no schemaString in v0 entry at $dir"))
    val created = """"createdTime":(\d+)""".r
      .findFirstMatchIn(txt).map(_.group(1).toLong).getOrElse(0L)
    (schema, created)
  }

  /** Write the parquet checkpoint for version `v` plus `_last_checkpoint`
    * (PROTOCOL.md "Checkpoints"): the complete replay state as one parquet
    * file — protocol + metaData rows and one `add` row per live file — so
    * a reader resolves the table in O(1) log entries instead of replaying
    * every `<v>.json` from 0 (r12 verdict item 3: at a commit-per-micro-
    * batch cadence the O(versions) replay becomes the read bottleneck;
    * expired remove tombstones are dropped, exactly what Delta checkpoints
    * do past the retention window). Readers that ignore checkpoints still
    * work — the JSON chain is untouched. */
  def writeCheckpoint(spark: SparkSession, dir: String, v: Long): Unit = {
    val root = Paths.get(dir)
    val (schemaString, createdTime) = v0MetaData(dir)
    val rows = Seq(
      CkptRow(Some(CkptProtocol(1, 2)), None, None),
      CkptRow(None, Some(CkptMetaData(
        java.util.UUID.nameUUIDFromBytes(dir.getBytes(StandardCharsets.UTF_8)).toString,
        CkptFormat("parquet", Map.empty), schemaString, Nil, Map.empty,
        createdTime)), None)) ++
      liveFiles(spark, dir, v).map { f =>
        val p = root.resolve(f)
        CkptRow(None, None, Some(CkptAdd(f, Map.empty, Files.size(p),
          Files.getLastModifiedTime(p).toMillis, dataChange = false)))
      }
    import spark.implicits._
    // the protocol wants the single FILE <v>.checkpoint.parquet
    graft.Tmp.writeSingleFile(spark.createDataset(rows).toDF(), "parquet",
      logDir(dir).resolve(f"$v%020d.checkpoint.parquet"))
    // _last_checkpoint is the pointer readers consult first — written LAST,
    // so a crash between checkpoint and pointer leaves the old (correct)
    // pointer in place
    Files.write(logDir(dir).resolve("_last_checkpoint"),
      s"""{"version":$v,"size":${rows.size}}""".getBytes(StandardCharsets.UTF_8))
  }

  /** The `_last_checkpoint` pointer, if one exists: (version, size). */
  def lastCheckpoint(dir: String): Option[(Long, Long)] = {
    val p = logDir(dir).resolve("_last_checkpoint")
    if (!Files.exists(p)) None
    else {
      val txt = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
      val ver = """"version"\s*:\s*(\d+)""".r.findFirstMatchIn(txt).map(_.group(1).toLong)
      val size = """"size"\s*:\s*(\d+)""".r.findFirstMatchIn(txt).map(_.group(1).toLong)
      ver.map(v => (v, size.getOrElse(-1L)))
    }
  }

  /** Live adds recorded in the checkpoint for version `v`. */
  private def checkpointAdds(spark: SparkSession, dir: String, v: Long): Seq[String] = {
    import org.apache.spark.sql.functions.col
    Acid.readParquetCached(spark, Seq(logDir(dir).resolve(f"$v%020d.checkpoint.parquet").toString))
      .where(col("add").isNotNull)
      .select(col("add.path"))
      .collect().map(_.getString(0)).toSeq // O(live files) — control plane
  }

  /** Highest committed log version, if any. */
  def currentVersion(dir: String): Option[Long] = {
    val ld = logDir(dir)
    if (!Files.isDirectory(ld)) return None
    val listing = Files.list(ld)
    val vs =
      try listing.toArray.map(_.asInstanceOf[java.nio.file.Path].getFileName.toString)
        .filter(_.endsWith(".json")).map(_.stripSuffix(".json").toLong)
      finally listing.close()
    if (vs.isEmpty) None else Some(vs.max)
  }

  /** Resolve the live file set at version `v` the way every external Delta
    * reader does: consult `_last_checkpoint`, load the checkpoint's adds,
    * then replay ONLY the JSON entries after it (adds minus removes). With
    * no checkpoint the full 0..v chain replays — O(versions), which is
    * exactly what the checkpoint bounds to O(1). */
  def liveFiles(spark: SparkSession, dir: String, v: Long): Seq[String] = {
    val (start, seed) = lastCheckpoint(dir) match {
      case Some((cv, _)) if cv <= v => (cv + 1, checkpointAdds(spark, dir, cv))
      case _ => (0L, Seq.empty[String])
    }
    val live = scala.collection.mutable.LinkedHashSet.empty[String]
    seed.foreach(live += _)
    (start to v).foreach { i =>
      val entry = logDir(dir).resolve(f"$i%020d.json")
      val lines = new String(Files.readAllBytes(entry), StandardCharsets.UTF_8)
        .split('\n').filter(_.nonEmpty)
      lines.foreach { l =>
        // the two path-bearing actions; a full reader JSON-parses — the
        // paths here are repo-generated (escaped, no quotes inside)
        val add = """"add":\{"path":"([^"]+)"""".r
        val rem = """"remove":\{"path":"([^"]+)"""".r
        add.findFirstMatchIn(l).foreach(m => live += m.group(1))
        rem.findFirstMatchIn(l).foreach(m => live -= m.group(1))
      }
    }
    live.toSeq
  }

  /** Independent log-driven read: resolve the live file set from the
    * transaction log alone (never a directory listing) and scan exactly
    * those files — what Trino/DuckDB/polars do with the same directory.
    * Absolute-path adds (the protocol's external-file form, emitted by
    * [[exportAcid]]'s zero-copy path) resolve as-is; relative adds
    * resolve against the table root. */
  def readDeltaLog(spark: SparkSession, dir: String): DataFrame = {
    val v = currentVersion(dir).getOrElse(
      sys.error(s"DeltaExport.readDeltaLog: no committed version at $dir"))
    val files = liveFiles(spark, dir, v)
    require(files.nonEmpty, s"DeltaExport: empty live set at $dir v$v")
    Acid.readParquetCached(spark, files.map(f =>
      if (f.startsWith("/")) f else s"$dir/$f"))
  }

  /** Export an [[Acid]] table's CURRENT snapshot as a Delta log at `dir`
    * — including MERGE-ON-READ tables (VERDICT r16 item 5: a table with
    * standing `# delete:` vectors previously could not round-trip to
    * external Delta tooling; the log has no way to say "anti-join these
    * keys" without deletion-vector actions). Reconciliation is the
    * export-time compactDeletes: ONE probe scan names the files that
    * contain a deleted key (same touched-file plan as MERGE), only those
    * are materialized vector-subtracted into the export directory;
    * every clean file exports ZERO-COPY as an absolute-path `add` (the
    * protocol's external-file form — Delta shallow clones use exactly
    * this, with the same caveat: vacuuming the SOURCE invalidates the
    * export). Cost is O(files containing a deleted key), never O(table).
    * Re-exporting into the same `dir` commits a new snapshot version
    * (removes for the previous live set, adds for the new one) — the
    * periodic-refresh cadence interop consumers run. Returns
    * (delta version, materialized files, total files). */
  def exportAcid(spark: SparkSession, table: String,
      dir: String): (Long, Int, Int) = {
    import org.apache.spark.sql.functions.col
    Files.createDirectories(logDir(dir))
    val av = Acid.currentVersion(table).getOrElse(
      sys.error(s"DeltaExport.exportAcid: no committed version at $table"))
    val m = Acid.manifestAt(table, av)
    val files = m.files
    require(files.nonEmpty, s"DeltaExport.exportAcid: empty manifest at $table")
    // zero-copy adds are PHYSICAL files while the log's schemaString is
    // the logical schema (IcebergExport shares the guard)
    m.exportBlocker.foreach(why =>
      throw new IllegalArgumentException(s"DeltaExport.exportAcid: $table $why"))
    val tableRoot = Paths.get(table).toAbsolutePath
    val v = currentVersion(dir).map(_ + 1).getOrElse(0L)
    val dataSub = f"v$v%020d"
    val (zeroCopy, rewritten) = m.standingDeletes match {
      case None => (files, Seq.empty[String])
      case Some((k, delFiles)) =>
        val keys = Acid.readParquetCached(spark, delFiles.map(f => s"$table/$f"))
          .select(col(k)).distinct()
        val touched = Acid.touchedFilesPlan(spark,
            files.map(f => s"$table/$f"), keys, k)
          .collect() // O(files) rows — control plane
          .map(r => tableRoot.relativize(
            Paths.get(java.net.URI.create(r.getString(0)))).toString)
          .sorted.toSeq
        val clean = files.filterNot(touched.contains)
        if (touched.isEmpty) (clean, Seq.empty[String])
        else {
          Acid.readParquetCached(spark, touched.map(f => s"$table/$f"))
            .join(keys, Seq(k), "left_anti")
            .write.mode("overwrite").parquet(s"$dir/$dataSub")
          val root = Paths.get(dir)
          val walk = Files.walk(root.resolve(dataSub))
          val out =
            try walk.filter(p => p.toString.endsWith(".parquet"))
              .map[String](p => root.relativize(p).toString)
              .sorted().toArray.map(_.toString).toSeq
            finally walk.close()
          (clean, out)
        }
    }
    val actions = Seq.newBuilder[String]
    if (v == 0L) {
      val id = java.util.UUID.nameUUIDFromBytes(
        dir.getBytes(StandardCharsets.UTF_8)).toString
      val schemaJson = jsonEscape(Acid.read(spark, table).schema.json)
      actions += """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}"""
      actions += s"""{"metaData":{"id":"$id","format":{"provider":"parquet","options":{}},"schemaString":"$schemaJson","partitionColumns":[],"configuration":{},"createdTime":${Files.getLastModifiedTime(Paths.get(dir)).toMillis}}}"""
    } else {
      // snapshot refresh: tombstone the previous live set
      liveFiles(spark, dir, v - 1).foreach { f =>
        actions += s"""{"remove":{"path":"${jsonEscape(f)}","deletionTimestamp":${Files.getLastModifiedTime(Paths.get(dir)).toMillis},"dataChange":true}}"""
      }
    }
    (zeroCopy.map(f => tableRoot.resolve(f).toString) ++ rewritten).foreach { f =>
      val p = if (f.startsWith("/")) Paths.get(f) else Paths.get(dir).resolve(f)
      actions += s"""{"add":{"path":"${jsonEscape(f)}","partitionValues":{},"size":${Files.size(p)},"modificationTime":${Files.getLastModifiedTime(p).toMillis},"dataChange":true}}"""
    }
    Files.write(logDir(dir).resolve(f"$v%020d.json"),
      actions.result().mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8),
      java.nio.file.StandardOpenOption.CREATE_NEW,
      java.nio.file.StandardOpenOption.WRITE)
    (v, rewritten.size, files.size)
  }
}
