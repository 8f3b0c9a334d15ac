package graft.ops

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Open-table-format interop, Iceberg side (r19 — the export seam
  * [[DeltaExport]] opened, completed for the OTHER major log format):
  * emit an [[Acid]] snapshot as an Iceberg-v2-SHAPED table layout that an
  * independent reader can resolve with no knowledge of the Acid seam —
  * the spec's full metadata chain, each layer a real file on disk:
  *
  *   metadata/version-hint.text         → current metadata version (the
  *                                        HadoopTables catalog-less
  *                                        convention)
  *   metadata/v<N>.metadata.json        → table uuid, Iceberg-typed schema
  *                                        (field-ids), snapshot log,
  *                                        current-snapshot-id
  *   metadata/snap-<id>.avro            → the MANIFEST LIST (one row per
  *                                        manifest: path, length, spec-id,
  *                                        added/existing counts)
  *   metadata/manifest-<id>.avro        → the MANIFEST (one row per data
  *                                        file: status, path, format,
  *                                        record_count, file_size_in_bytes)
  *   data files                         → zero-copy absolute-path refs to
  *                                        the Acid table's own parquet
  *                                        (Iceberg file refs are absolute
  *                                        URIs by spec — no copy needed),
  *                                        except vector-touched files,
  *                                        which materialize reconciled
  *
  * Manifests and the manifest list are REAL Avro (the spec's container
  * format) written through Spark's avro source with the spec's core field
  * names and shape — manifest entries nest the spec's `data_file` record
  * (status / snapshot_id / data_file{content, file_path, file_format,
  * record_count, file_size_in_bytes}), the manifest list carries
  * content/sequence-number/row-count columns, and metadata.json includes
  * last-updated-ms, sort-orders, last-partition-id, properties, and the
  * snapshot log. INTEROP CLAIM, stated honestly: this export is
  * SHAPE-FAITHFUL and SELF-VERIFIED ([[readExport]] resolves the chain
  * with zero Acid calls). A spec-STRICT external reader (the Iceberg
  * library, Trino) additionally requires field-id annotations inside the
  * Avro file schemas themselves, which spark-avro cannot express —
  * external-reader validation has NOT run, and is documented here rather
  * than faked. Merge-on-read
  * reconciliation is [[DeltaExport.exportAcid]]'s exactly: one probe scan
  * names the files containing a deleted key, only those materialize
  * vector-subtracted, clean files export zero-copy — O(files containing a
  * deleted key), never O(table). POSITIONAL vectors refuse loudly (the
  * v2 positional-delete-file encoding is a write path this export does
  * not fake). Re-export commits a NEW snapshot whose metadata keeps the
  * previous snapshots in the snapshot log (Iceberg retains history;
  * contrast Delta's remove-tombstones) and flips current-snapshot-id.
  *
  * [[readExport]] is the self-verification: it resolves version-hint →
  * metadata.json → manifest list → manifests → file paths and reads the
  * parquet — the same chain walk an external Iceberg reader performs —
  * with zero Acid calls.
  *
  * At 100 TB the export is O(manifest) metadata plus O(vector-touched
  * files) data I/O; the zero-copy refs mean a nightly interop export of a
  * mostly-clean table moves almost no bytes.
  */
object IcebergExport {

  private val AvroFormat = "org.apache.spark.sql.avro.AvroFileFormat"

  private def metaDir(dir: String) = Paths.get(dir, "metadata")

  /** Iceberg type string for a Spark PRIMITIVE type — the spec's names.
    * Nested types go through [[icebergSchemaJson]]'s tree walk. */
  private def icebergType(dt: org.apache.spark.sql.types.DataType): String = {
    import org.apache.spark.sql.types._
    dt match {
      case LongType => "long"
      case IntegerType => "int"
      case StringType => "string"
      case DoubleType => "double"
      case FloatType => "float"
      case BooleanType => "boolean"
      case DateType => "date"
      case TimestampType => "timestamptz"
      case TimestampNTZType => "timestamp"
      case BinaryType => "binary"
      case d: DecimalType => s"decimal(${d.precision}, ${d.scale})"
      case other => sys.error(
        s"IcebergExport: unsupported column type $other — exotic types " +
          "have no Iceberg spec mapping, export them cast/flattened")
    }
  }

  /** Iceberg schema JSON with FIELD-IDS ASSIGNED THROUGH THE TREE (r20 —
    * lifting the nested-type refusal): structs, lists, and maps emit the
    * spec's nested-type JSON ({"type":"struct",...} / {"type":"list",
    * "element-id":...} / {"type":"map","key-id":...}), with a counter
    * handing out unique ids — top-level columns keep ids 1..n exactly as
    * the flat-table export always assigned (re-exports of flat tables are
    * byte-stable across this change), nested ids continue from n+1.
    * Returns (fields JSON, last-column-id). */
  private def icebergSchemaJson(
      schema: org.apache.spark.sql.types.StructType): (String, Int) = {
    import org.apache.spark.sql.types._
    var next = schema.size
    def nid(): Int = { next += 1; next }
    def typeJson(dt: DataType): String = dt match {
      case st: StructType =>
        val fs = st.fields.map { f =>
          val fid = nid()
          s"""{"id":$fid,"name":"${f.name}","required":${!f.nullable},""" +
            s""""type":${typeJson(f.dataType)}}"""
        }.mkString(",")
        s"""{"type":"struct","fields":[$fs]}"""
      case ArrayType(et, containsNull) =>
        val eid = nid()
        s"""{"type":"list","element-id":$eid,"element":${typeJson(et)},""" +
          s""""element-required":${!containsNull}}"""
      case MapType(kt, vt, valueContainsNull) =>
        val kid = nid()
        val kj = typeJson(kt)
        val vid = nid()
        s"""{"type":"map","key-id":$kid,"key":$kj,"value-id":$vid,""" +
          s""""value":${typeJson(vt)},"value-required":${!valueContainsNull}}"""
      case prim => s""""${icebergType(prim)}""""
    }
    val fields = schema.fields.zipWithIndex.map { case (f, i) =>
      s"""{"id":${i + 1},"name":"${f.name}","required":${!f.nullable},""" +
        s""""type":${typeJson(f.dataType)}}"""
    }.mkString(",")
    (fields, next)
  }

  /** Serialize exporters per export dir (ADVICE r19): two concurrent
    * exporters reading the same version-hint would both compute v = hint+1
    * and the second's orphan-replace would clobber the first's in-flight
    * metadata before the hint flips. Same O_EXCL spin-lock protocol as the
    * Acid writer lock; a crashed exporter's stale lock fails loudly with
    * the file to remove (the Acid lock's operational model). */
  private def withExportLock[T](dir: String)(body: => T): T = {
    Files.createDirectories(metaDir(dir))
    val lock = metaDir(dir).resolve("_export.lock")
    var spins = 0
    var acquired = false
    while (!acquired) {
      try { Files.createFile(lock); acquired = true }
      catch { case _: java.nio.file.FileAlreadyExistsException =>
        spins += 1
        require(spins < 12000,
          s"IcebergExport: export-lock timeout on $dir — a concurrent " +
            s"exporter holds (or a crashed one leaked) $lock")
        Thread.sleep(5)
      }
    }
    try body finally Files.deleteIfExists(lock)
  }

  /** Current metadata version per version-hint.text, if the export exists. */
  def currentMetaVersion(dir: String): Option[Long] = {
    val hint = metaDir(dir).resolve("version-hint.text")
    if (!Files.exists(hint)) None
    else Some(new String(Files.readAllBytes(hint), StandardCharsets.UTF_8).trim.toLong)
  }

  /** Export the Acid table's CURRENT snapshot into `dir` as the next
    * Iceberg metadata version. Returns (metadata version, materialized
    * files, total files). Idempotence is the CALLER's snapshot cadence
    * (each call commits a new snapshot, like Iceberg's own commits). */
  def exportAcid(spark: SparkSession, table: String,
      dir: String): (Long, Int, Int) = withExportLock(dir) {
    import org.apache.spark.sql.functions.{col, struct}
    Files.createDirectories(metaDir(dir))
    val av = Acid.currentVersion(table).getOrElse(
      sys.error(s"IcebergExport.exportAcid: no committed version at $table"))
    val m = Acid.manifestAt(table, av)
    val files = m.files
    require(files.nonEmpty, s"IcebergExport.exportAcid: empty manifest at $table")
    // zero-copy refs export PHYSICAL files while metadata declares the
    // LOGICAL schema — on a column-mapped/defaulted table an external
    // reader (no field-ids in the parquet) would surface NULLs where the
    // engine stitches renames/fills, and a lineage table's physical
    // __row_id column is absent from the declared schema (r19 review)
    m.exportBlocker.foreach(why =>
      throw new IllegalArgumentException(s"IcebergExport.exportAcid: $table $why"))
    val tableRoot = Paths.get(table).toAbsolutePath
    val v = currentMetaVersion(dir).map(_ + 1).getOrElse(0L)
    val dataSub = f"data-v$v%05d"
    // merge-on-read reconciliation — DeltaExport.exportAcid's algorithm
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
              .map[String](p => root.toAbsolutePath.resolve(
                root.relativize(p)).toString)
              .sorted().toArray.map(_.toString).toSeq
            finally walk.close()
          (clean, out)
        }
    }
    val dataPaths = zeroCopy.map(f => tableRoot.resolve(f).toString) ++ rewritten
    // per-file record counts — the manifest's record_count field, taken
    // from the immutable files' parquet footers (r20): exactly the
    // "writers take these from the footers (free)" contract, zero Spark
    // jobs instead of a full re-scan per export
    val counts: Map[String, Long] =
      dataPaths.map(p => p -> Acid.footerRowCount(spark, p)).toMap
    val snapshotId = 1000L + v // deterministic, unique per metadata version
    // the snapshot's COMMIT TIME (the source manifest's mtime, which the
    // atomic manifest write stamped) — ADVICE r19: the metadata dir's own
    // mtime was the EXPORT time, wrong for timestamp-based travel
    val commitMs = Files.getLastModifiedTime(
      Paths.get(table, s"manifest-$av.txt")).toMillis
    // MANIFEST (avro): one row per data file, the spec's NESTED shape —
    // status/snapshot_id at entry level, the data_file record inside
    import spark.implicits._
    val manifestName = f"manifest-$snapshotId%d.avro"
    val manifestRows = dataPaths.map { p =>
      (1 /* ADDED */, snapshotId, 0 /* content: DATA */, p, "PARQUET",
        counts.getOrElse(p, 0L), Files.size(Paths.get(p)))
    }.toDF("status", "snapshot_id", "content", "file_path", "file_format",
      "record_count", "file_size_in_bytes")
      .select(col("status"), col("snapshot_id"),
        struct(col("content"), col("file_path"), col("file_format"),
          col("record_count"), col("file_size_in_bytes")).as("data_file"))
    val manifestLen = Files.size(graft.Tmp.writeSingleFile(manifestRows,
      AvroFormat, metaDir(dir).resolve(manifestName)))
    // MANIFEST LIST (avro): one row per manifest, with the spec's
    // content/sequence-number/row-count columns
    val listName = f"snap-$snapshotId%d.avro"
    val totalRows = counts.values.sum
    val listRows = Seq((
      metaDir(dir).resolve(manifestName).toAbsolutePath.toString,
      manifestLen, 0, 0 /* content: data manifests */, snapshotId,
      v + 1 /* sequence_number */, v + 1 /* min_sequence_number */,
      dataPaths.size, 0, 0, totalRows, 0L, 0L))
      .toDF("manifest_path", "manifest_length", "partition_spec_id",
        "content", "added_snapshot_id", "sequence_number",
        "min_sequence_number", "added_files_count", "existing_files_count",
        "deleted_files_count", "added_rows_count", "existing_rows_count",
        "deleted_rows_count")
    graft.Tmp.writeSingleFile(listRows, AvroFormat, metaDir(dir).resolve(listName))
    // METADATA JSON: schema with field-ids (nested types included — the
    // tree walk), snapshot log (history KEPT — prior snapshots stay
    // resolvable), current-snapshot-id flip
    val schema = Acid.readEvolved(spark, table).schema
    val (fieldsJson, lastColumnId) = icebergSchemaJson(schema)
    val prevSnapshots: Seq[String] = currentMetaVersion(dir) match {
      case None => Seq.empty
      case Some(pv) =>
        val prev = new String(Files.readAllBytes(
          metaDir(dir).resolve(f"v$pv%d.metadata.json")), StandardCharsets.UTF_8)
        // each snapshot object closes with its nested summary object — the
        // pattern must swallow that `}}` pair, not stop at the first `}`
        // (a reluctant `.*?\}` truncated mid-object and corrupted the
        // carried snapshot log)
        """\{"snapshot-id":.*?"summary":\{[^}]*\}\}""".r.findAllIn(prev).toSeq
    }
    val snapJson =
      s"""{"snapshot-id":$snapshotId,"sequence-number":${v + 1},""" +
        s""""timestamp-ms":$commitMs,""" +
        s""""manifest-list":"${metaDir(dir).resolve(listName).toAbsolutePath}",""" +
        s""""summary":{"operation":"append"}}"""
    val allSnapshots = prevSnapshots :+ snapJson
    // snapshot-log: (timestamp-ms, snapshot-id) pairs in commit order —
    // rebuilt from the snapshot objects we already carry, so the log and
    // the snapshots can never disagree
    val snapLog = allSnapshots.map { s =>
      val sid = """"snapshot-id":(\d+)""".r.findFirstMatchIn(s).get.group(1)
      val ts = """"timestamp-ms":(\d+)""".r.findFirstMatchIn(s).get.group(1)
      s"""{"timestamp-ms":$ts,"snapshot-id":$sid}"""
    }
    val uuid = java.util.UUID.nameUUIDFromBytes(
      dir.getBytes(StandardCharsets.UTF_8)).toString
    val metaJson =
      s"""{"format-version":2,"table-uuid":"$uuid",""" +
        s""""location":"${Paths.get(dir).toAbsolutePath}",""" +
        s""""last-updated-ms":$commitMs,""" +
        s""""last-sequence-number":${v + 1},"last-column-id":$lastColumnId,""" +
        s""""schemas":[{"type":"struct","schema-id":0,"fields":[$fieldsJson]}],""" +
        s""""current-schema-id":0,"partition-specs":[{"spec-id":0,"fields":[]}],""" +
        s""""default-spec-id":0,"last-partition-id":999,""" +
        s""""sort-orders":[{"order-id":0,"fields":[]}],""" +
        s""""default-sort-order-id":0,"properties":{},""" +
        s""""current-snapshot-id":$snapshotId,""" +
        s""""snapshots":[${allSnapshots.mkString(",")}],""" +
        s""""snapshot-log":[${snapLog.mkString(",")}]}"""
    // v = hint+1 is by construction UNCOMMITTED (the hint flips last), so
    // an existing file here is a crashed export's orphan — replace it, or
    // every retry would wedge on CREATE_NEW forever (r19 review). A
    // COMMITTED metadata version can never be clobbered (it is ≤ hint),
    // and a CONCURRENT exporter's in-flight metadata can't be either: the
    // export lock serializes the whole read-hint→flip-hint window.
    Files.deleteIfExists(metaDir(dir).resolve(f"v$v%d.metadata.json"))
    Files.write(metaDir(dir).resolve(f"v$v%d.metadata.json"),
      metaJson.getBytes(StandardCharsets.UTF_8),
      java.nio.file.StandardOpenOption.CREATE_NEW,
      java.nio.file.StandardOpenOption.WRITE)
    // hint flips LAST (the catalog-less commit point)
    val tmp = metaDir(dir).resolve("version-hint.text.tmp")
    Files.write(tmp, v.toString.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, metaDir(dir).resolve("version-hint.text"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    (v, rewritten.size, files.size)
  }

  /** Independent re-read through the exported metadata chain ONLY —
    * version-hint → metadata.json → manifest-list avro → manifest avro →
    * parquet — the walk an external Iceberg reader performs; zero Acid
    * seam calls. */
  def readExport(spark: SparkSession, dir: String): DataFrame = {
    val v = currentMetaVersion(dir).getOrElse(
      sys.error(s"IcebergExport.readExport: no version-hint at $dir"))
    val meta = new String(Files.readAllBytes(
      metaDir(dir).resolve(f"v$v%d.metadata.json")), StandardCharsets.UTF_8)
    val curSnap = """"current-snapshot-id":(\d+)""".r
      .findFirstMatchIn(meta).map(_.group(1).toLong).getOrElse(
        sys.error("IcebergExport.readExport: no current-snapshot-id"))
    val manifestList = (""""snapshot-id":""" + curSnap +
      """,.*?"manifest-list":"([^"]+)"""").r
      .findFirstMatchIn(meta).map(_.group(1)).getOrElse(
        sys.error(s"IcebergExport.readExport: snapshot $curSnap not in metadata"))
    val manifests = spark.read.format(AvroFormat).load(manifestList)
      .select("manifest_path").collect().map(_.getString(0)).toSeq // O(manifests)
    val dataFiles = spark.read.format(AvroFormat).load(manifests: _*)
      .select("data_file.file_path").collect().map(_.getString(0)).toSeq // O(files)
    require(dataFiles.nonEmpty, s"IcebergExport.readExport: empty snapshot at $dir")
    Acid.readParquetCached(spark, dataFiles)
  }
}
