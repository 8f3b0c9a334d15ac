package graft.sources

import java.util

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.api.ReadSupport
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader}
import org.apache.parquet.example.data.Group
import org.apache.parquet.schema.{MessageType, PrimitiveType}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning}
import org.apache.spark.sql.connector.read.{Batch, HasPartitionKey, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns, SupportsReportPartitioning}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** STORAGE-PARTITIONED JOIN source over a bucket-partitioned Acid table —
  * the Iceberg SPJ seam (SPARK-37375) on the manifest-pointer protocol.
  *
  * A table written through `Acid.appendTxnHidden(bucketOf(k, n))` records a
  * `# pval:<file>|b<n>_<k>=<v>` partition tuple per data file. This DSv2
  * scan turns that manifest metadata into Spark's
  * [[KeyGroupedPartitioning]]: ONE [[InputPartition]] per bucket value,
  * each declaring its key via [[HasPartitionKey]]. When two tables are
  * co-bucketed (same key domain, same bucket count) and
  * `spark.sql.sources.v2.bucketing.enabled` is on, Catalyst's
  * EnsureRequirements sees both sides already clustered compatibly and
  * plans the join WITH ZERO SHUFFLE on either side — at 100 TB the
  * difference between exchanging two full tables across the cluster and
  * reading co-located buckets in place. This is the DSv2 generalization
  * of Hive bucketed joins: the bucket map lives in TABLE metadata, so it
  * survives engine restarts, needs no metastore, and composes with the
  * Acid seam's snapshots.
  *
  * Options: `path` (the Acid table root), `bucket` (the derived bucket
  * column name the pval lines carry, e.g. `b8_o_custkey`).
  *
  * Scope guards (refuse loudly rather than silently shuffle): every data
  * file must carry a pval naming the bucket column; standing delete
  * vectors and column-mapping generations are out of scope for this scan
  * (read those through `Acid.read`/`readEvolved`).
  *
  * The per-row reader uses parquet-java's example Group API with a
  * projection pushed into `parquet.read.schema` (column pruning reaches
  * the parquet reader — [[SupportsPushDownRequiredColumns]]); a
  * production build would wire Spark's vectorized `ParquetFileFormat`
  * reader here, which changes throughput, not the partitioning contract
  * this source exists to prove.
  */
class AcidBucketedSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "acid-bucketed"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    AcidBucketed.schemaFor(options.get("path"), options.get("bucket"))

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new AcidBucketedTable(properties.get("path"), properties.get("bucket"),
      schema, Option(properties.get("coarsen")).map(_.toInt).getOrElse(0),
      Option(properties.get("slice")).exists(_.toBoolean))
}

object AcidBucketed {
  private[sources] def hconf = new Configuration()

  /** files + bucket value per file, from the head manifest's pvals. */
  private[sources] def bucketMap(table: String, bucketCol: String): Seq[(String, Long)] = {
    val m = graft.ops.Acid.headManifest(table)
    require(m.deletes.isEmpty && m.pdels.isEmpty,
      s"acid-bucketed: $table carries standing delete vectors — read via Acid.read")
    require(!m.hasColumnMapping,
      s"acid-bucketed: $table has column-mapping generations — read via Acid.readEvolved")
    m.files.map { f =>
      val tuple = m.pvals.getOrElse(f,
        sys.error(s"acid-bucketed: $f has no partition tuple — table not fully bucketed")).tuple
      val v = tuple.split(',').collectFirst {
        case kv if kv.startsWith(s"$bucketCol=") => kv.stripPrefix(s"$bucketCol=").toLong
      }.getOrElse(sys.error(
        s"acid-bucketed: $f tuple '$tuple' does not name bucket column $bucketCol"))
      f -> v
    }
  }

  // the validated footer schema is immutable per (table, version) — the
  // homogeneity sweep below is O(files) of driver-side footer opens, and
  // a single query asks twice (inferSchema at load, the projection at
  // planning); memoize so each committed version pays the sweep once
  private val schemaCache =
    scala.collection.concurrent.TrieMap.empty[(String, Long), MessageType]

  private[sources] def fileSchema(table: String): MessageType = {
    val v = graft.ops.Acid.currentVersion(table).getOrElse(
      sys.error(s"acid-bucketed: no committed version at $table"))
    schemaCache.getOrElseUpdate((table, v), fileSchemaUncached(table))
  }

  private def fileSchemaUncached(table: String): MessageType = {
    val files = graft.ops.Acid.headManifest(table).files
    require(files.nonEmpty, s"acid-bucketed: $table has no data files")
    def footer(f: String): MessageType = {
      val in = HadoopInputFile.fromPath(new HPath(s"$table/$f"), hconf)
      val r = ParquetFileReader.open(in)
      try r.getFooter.getFileMetaData.getSchema finally r.close()
    }
    // O(files) footer stats — control plane, same cost class as the
    // manifest read. Heterogeneous generations (additive evolution
    // without a colmap line) would otherwise leave the later columns
    // silently null in the SPJ scan (ADVICE r17): verify every file
    // shares the first footer's schema, consistent with this source's
    // other scope guards.
    val first = footer(files.head)
    files.tail.foreach { f =>
      val s = footer(f)
      require(s == first,
        s"acid-bucketed: $f parquet schema differs from ${files.head} " +
          s"($s vs $first) — heterogeneous file generations are out of " +
          "scope for this scan; read via Acid.readEvolved")
    }
    first
  }

  private[sources] def toSpark(t: org.apache.parquet.schema.Type): DataType = {
    require(t.isPrimitive, s"acid-bucketed: nested column ${t.getName} unsupported")
    import PrimitiveType.PrimitiveTypeName._
    t.asPrimitiveType().getPrimitiveTypeName match {
      case INT64   => LongType
      case INT32   => IntegerType
      case DOUBLE  => DoubleType
      case BOOLEAN => BooleanType
      case BINARY  => StringType
      case other   => sys.error(s"acid-bucketed: parquet type $other unsupported")
    }
  }

  def schemaFor(table: String, bucketCol: String): StructType = {
    val msg = fileSchema(table)
    val fields = (0 until msg.getFieldCount).map { i =>
      val t = msg.getType(i)
      StructField(t.getName, toSpark(t), nullable = true)
    }
    StructType(fields :+ StructField(bucketCol, LongType, nullable = false))
  }
}

final class AcidBucketedTable(table: String, bucketCol: String,
    schema: StructType, coarsen: Int, slice: Boolean) extends Table with SupportsRead {
  override def name(): String = s"acid-bucketed($table, $bucketCol)"
  override def schema(): StructType = schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new AcidBucketedScan(table, bucketCol, schema, coarsen, slice)
}

/** ScanBuilder + Scan + Batch in one: the scan reports
  * [[KeyGroupedPartitioning]] over `identity(bucketCol)` with one
  * partition per bucket (sorted by bucket value so both join sides align
  * positionally), and prunes columns down into the parquet read schema. */
final class AcidBucketedScan(table: String, bucketCol: String,
    full: StructType, coarsen: Int = 0, slice: Boolean = false)
  extends ScanBuilder with Scan with Batch
  with SupportsReportPartitioning with SupportsPushDownRequiredColumns {

  // Bucket-transform COARSENING (r18): scanning a bucket(n) table "as"
  // bucket(c) for c | n — the modular-bucket family is closed under
  // reduction (floorMod(k, n) % c == floorMod(k, c) exactly when c
  // divides n), so merging sub-buckets {v : v % c == w} into one input
  // partition keyed w yields a scan REPORTING bucket(c) clustering that
  // is genuinely k-clustered on it. A bucket(16) fact then joins a
  // bucket(8) dim with ZERO shuffle on either side — the DSv2 twin of
  // Iceberg's compatible-transform storage-partitioned join. The derived
  // bucket column surfaces the COARSE value (it never existed on disk;
  // the manifest tuple is its only source, so the scan owns its domain).
  if (coarsen > 0) {
    val n = "^b(\\d+)_".r.findFirstMatchIn(bucketCol).map(_.group(1).toInt)
      .getOrElse(sys.error(
        s"acid-bucketed: coarsen needs a b<n>_-named bucket column, got $bucketCol"))
    require(n % coarsen == 0,
      s"acid-bucketed: coarsen=$coarsen does not divide the table's " +
        s"bucket count $n — modular reduction would misalign rows")
  }

  private var required: StructType = full

  override def pruneColumns(requiredSchema: StructType): Unit = {
    // keep the bucket column in the output — the reported partitioning
    // references it, and it costs nothing (constant per partition)
    val names = requiredSchema.fieldNames.toSet + bucketCol
    required = StructType(full.fields.filter(f => names.contains(f.name)))
  }

  override def build(): Scan = this
  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  private lazy val buckets: Seq[(Long, Seq[String])] =
    AcidBucketed.bucketMap(table, bucketCol)
      .map { case (f, v) => (f, if (coarsen > 0) v % coarsen else v) }
      .groupBy(_._2).view.mapValues(_.map(_._1)).toSeq
      .sortBy(_._1).map { case (b, fs) => (b, fs.sorted) }

  // PARTIALLY-CLUSTERED slicing (r18, the skew half of the SPJ story):
  // with `slice=true` the scan emits one input partition PER FILE, each
  // still declaring its bucket key ([[HasPartitionKey]] — duplicate keys
  // are legal in KeyGroupedPartitioning). Under
  // `spark.sql.sources.v2.bucketing.partiallyClusteredDistribution
  // .enabled` Catalyst keeps THIS side split and replicates the other
  // side's matching groups, so a skewed bucket (one hot key, many
  // files) runs as many tasks instead of one straggler — still with
  // ZERO full shuffle on either side. Without the conf Spark groups the
  // duplicate keys back itself; either way the join stays correct.
  private lazy val slices: Seq[(Long, Seq[String])] =
    if (!slice) buckets
    else buckets.flatMap { case (b, fs) => fs.map(f => (b, Seq(f))) }

  override def outputPartitioning(): Partitioning =
    new KeyGroupedPartitioning(
      Array(Expressions.identity(bucketCol)), slices.size)

  override def planInputPartitions(): Array[InputPartition] = {
    // one projection string for all partitions: the real (non-derived)
    // requested columns in requested order, cut from the file schema
    val real = required.fields.filter(_.name != bucketCol)
    val msg = AcidBucketed.fileSchema(table)
    val proj =
      if (real.isEmpty) new MessageType(msg.getName, msg.getType(0))
      else new MessageType(msg.getName,
        real.map(f => msg.getType(msg.getFieldIndex(f.name))): _*)
    slices.map { case (b, fs) =>
      AcidBucketPartition(b, fs.map(f => s"$table/$f"), proj.toString,
        required.json, bucketCol): InputPartition
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    AcidBucketedReaderFactory
}

final case class AcidBucketPartition(bucket: Long, files: Seq[String],
    projection: String, schemaJson: String, bucketCol: String)
  extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow =
    new GenericInternalRow(Array[Any](bucket))
}

object AcidBucketedReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new AcidBucketedReader(p.asInstanceOf[AcidBucketPartition])
}

/** Row reader for one bucket: iterates the bucket's files through a
  * projected parquet Group read; the bucket column materializes as the
  * partition constant (never read from disk — it only ever existed in the
  * manifest tuple, the hidden-partitioning contract). */
final class AcidBucketedReader(part: AcidBucketPartition)
  extends PartitionReader[InternalRow] {

  private val schema = DataType.fromJson(part.schemaJson).asInstanceOf[StructType]
  private val real = schema.fields.filter(_.name != part.bucketCol)
  private val conf = {
    val c = AcidBucketed.hconf
    c.set(ReadSupport.PARQUET_READ_SCHEMA, part.projection)
    c
  }
  private var fileIdx = 0
  private var reader: ParquetReader[Group] = _
  private var row: Group = _

  private def openNext(): Boolean = {
    if (fileIdx >= part.files.size) false
    else {
      reader = ParquetReader.builder(new GroupReadSupport(), new HPath(part.files(fileIdx)))
        .withConf(conf).build()
      fileIdx += 1
      true
    }
  }

  override def next(): Boolean = {
    while (true) {
      if (reader == null && !openNext()) return false
      row = reader.read()
      if (row != null) return true
      reader.close(); reader = null
    }
    false // unreachable
  }

  override def get(): InternalRow = {
    val vals = new Array[Any](schema.fields.length)
    var ri = 0 // index into the projected (real) columns
    var i = 0
    while (i < schema.fields.length) {
      val f = schema.fields(i)
      if (f.name == part.bucketCol) vals(i) = part.bucket
      else {
        vals(i) =
          if (row.getFieldRepetitionCount(ri) == 0) null
          else f.dataType match {
            case LongType    => row.getLong(ri, 0)
            case IntegerType => row.getInteger(ri, 0)
            case DoubleType  => row.getDouble(ri, 0)
            case BooleanType => row.getBoolean(ri, 0)
            case StringType  => UTF8String.fromBytes(row.getBinary(ri, 0).getBytes)
            case other       => sys.error(s"acid-bucketed: unsupported $other")
          }
        ri += 1
      }
      i += 1
    }
    new GenericInternalRow(vals)
  }

  override def close(): Unit = if (reader != null) { reader.close(); reader = null }
}
