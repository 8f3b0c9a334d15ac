package graft.stream

import graft.{Q, Tables}
import graft.ops.Acid
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}

/** Streaming CDC APPLY — a keyed change stream (upserts + deletes)
  * maintained into a governed Acid table by per-micro-batch row-level
  * MERGE (r15; the streaming consumer [[graft.ops.Acid.mergeCow]] exists
  * for). This is the standard CDC-sink topology (Debezium/Kafka changelog
  * → `foreachBatch` → Delta `MERGE INTO`): the stream carries row CHANGES,
  * the table holds current state, and the bridge is one MERGE per
  * micro-batch.
  *
  * The three properties a 100 TB CDC sink must hold, each load-bearing
  * here:
  *
  *  - **Batch-local conflation**: a micro-batch may carry many changes for
  *    one key; only the LAST (highest change ordinal) may apply — a
  *    window-ranked reduction to O(keys in batch) rows BEFORE the merge,
  *    so the merge cost tracks distinct keys, not raw change volume.
  *  - **Copy-on-write locality**: the MERGE rewrites only the files the
  *    touched-file probe names — per cycle that is O(files containing a
  *    changed key), never O(table).
  *  - **Exactly-once via the txn ledger**: `txnId = batchId`; a replayed
  *    micro-batch (task retry, checkpoint restart) finds its id committed
  *    and NO-OPS, so at-least-once delivery becomes exactly-once state —
  *    StreamingSpec pins a mid-stream kill/restart and a forced replay.
  */
object CdcApply {

  /** Changelog wire schema: key, change ordinal, payload, op. */
  private val changeSchema = StructType(Seq(
    StructField("user_id", LongType),
    StructField("event_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("__op", StringType)))

  /** Stage the events fixture as an ORDERED changelog: `files` parquet
    * files split by change-ordinal (event_id) range, mtimes strictly
    * increasing so the file stream replays them in commit order (the
    * broker-offset contract a real changelog source provides). Every
    * event whose ordinal ≡ 7 mod 10 is a DELETE of its key; the rest are
    * upserts. One staging per fixture per JVM, like Sources' staged
    * logs. */
  private val staged = scala.collection.mutable.Map.empty[(String, Int), String]

  def stagedChangelog(spark: SparkSession, sfDir: String, files: Int): String =
    staged.synchronized {
      staged.getOrElseUpdate((sfDir, files), {
        val dir = java.nio.file.Files.createTempDirectory("graft_cdc_chg")
        val ev = Tables.events(spark, sfDir)
          .select(col("user_id"), col("event_id"), col("event_type"),
            col("value"),
            when(col("event_id") % 10 === 7, lit("delete"))
              .otherwise(lit("upsert")).as("__op"))
        val maxId = ev.agg(max(col("event_id"))).head.getLong(0)
        val width = math.max(1L, (maxId + files) / files)
        (0 until files).foreach { i =>
          val out = graft.Tmp.writeSingleFile(
            ev.filter(col("event_id") >= i * width &&
              col("event_id") < (i + 1) * width),
            "parquet", dir.resolve(f"chg-$i%03d.parquet"))
          // strictly increasing mtimes = replay order (FileStreamSource
          // drains oldest-first under maxFilesPerTrigger=1)
          java.nio.file.Files.setLastModifiedTime(out,
            java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 60000L))
        }
        sys.addShutdownHook {
          try graft.Tmp.deleteTree(dir) catch { case _: Exception => () }
        }
        dir.toString
      })
    }

  /** Apply one changelog micro-batch: conflate to the last change per key,
    * then row-level MERGE into `table` exactly-once under `batchId`. */
  def applyBatch(spark: SparkSession, table: String, batch: DataFrame,
      batchId: Long): Unit = {
    if (batch.isEmpty) return
    val last = batch
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("user_id")).orderBy(col("event_id").desc)))
      .filter(col("__rn") === 1).drop("__rn")
    Acid.mergeCow(spark, table, last, "user_id", txnId = batchId,
      opCol = Some("__op"))
    ()
  }

  /** One AvailableNow drain of the changelog into the table. */
  def drain(spark: SparkSession, changelog: String, table: String,
      ckpt: String): Unit = {
    val q = StreamOps.start(spark, spark.readStream.schema(changeSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(changelog)
      .writeStream
      .foreachBatch { (b: DataFrame, id: Long) =>
        applyBatch(spark, table, b, id); ()
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()))
    q.awaitTermination()
  }

  val queries: Seq[Q] = Seq(

    // Streaming CDC apply (r15): the events fixture replayed as a
    // 6-micro-batch keyed changelog (every ordinal ≡ 7 mod 10 deletes its
    // user; the rest upsert the user's row), maintained into an Acid
    // table by per-batch conflate → MERGE. The oracle is the batch twin:
    // last-writer-wins per user over the WHOLE history, minus users whose
    // final change is a delete — one change applied out of order, lost,
    // or double-applied anywhere in the 6 batches picks a different
    // winning row and breaks the hash. Cost shape per cycle:
    // O(batch keys) conflation + O(touched files) rewrite, never
    // O(table); exactly-once across restarts rides the txn ledger
    // (StreamingSpec pins the kill/restart and replay no-op).
    Q("stream_cdc_apply",
      (spark, sfDir) => {
        val table = graft.Tmp.dir("stream_cdcapply_tbl", sfDir)
        Acid.reset(table)
        val ckpt = graft.Tmp.ckpt("cdcapply")
        val changelog = stagedChangelog(spark, sfDir, files = 6)
        drain(spark, changelog, table, ckpt)
        Acid.read(spark, table).orderBy(col("user_id"))
      },
      Some("""
        SELECT user_id, event_id, event_type, value FROM (
          SELECT user_id, event_id, event_type, value,
                 CASE WHEN event_id % 10 = 7 THEN 'delete'
                      ELSE 'upsert' END AS op,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY event_id DESC) AS rn
          FROM events)
        WHERE rn = 1 AND op = 'upsert'
        ORDER BY user_id""".trim)),

    // Streaming expectations gate (r15): the ingest-edge composition of
    // [[graft.ops.Catalog.commitExpectations]] — a live feed drained
    // through foreachBatch, each micro-batch SPLIT against declared
    // rules (error events and out-of-bound values quarantined, tagged
    // with the first violated rule) and committed to clean + quarantine
    // members through ONE atomic catalog txn under `txnId = batchId`:
    // per batch, either both members advance or neither does, a replayed
    // batch no-ops through the catalog ledger, and at any instant an
    // auditor's snapshot explains exactly the data the consumers see.
    // This is the DLT-expectations-on-a-stream shape — the gate every
    // raw feed crosses before a 100 TB lakehouse trusts it. The oracle
    // rebuilds both dispositions set-theoretically from the fixture; a
    // row routed to the wrong side, double-committed on a batch retry,
    // or tagged with the wrong rule breaks the hash.
    Q("stream_expectations_gate",
      (spark, sfDir) => {
        val cat = graft.Tmp.dir("stream_expect", sfDir)
        graft.ops.Catalog.reset(cat)
        val ckpt = graft.Tmp.ckpt("sexpect")
        val log = Sources.stagedLogDir(spark, sfDir).toString
        val n = Tables.events(spark, sfDir).count()
        val rules = Seq(
          "no_error_events" -> (col("event_type") =!= "error"),
          "value_bound" -> (col("value") < 400.0d))
        val q = StreamOps.start(spark, GraftLog.readStream(spark, log,
            maxRecordsPerTrigger = Some(math.max(1L, n / 4)))
          .writeStream
          .foreachBatch { (b: DataFrame, id: Long) =>
            if (!b.isEmpty) {
              graft.ops.Catalog.commitExpectations(spark, cat, id,
                b.select(col("event_id"), col("user_id"),
                  col("event_type"), col("value")), rules)
            }
            ()
          }
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow()))
        q.awaitTermination()
        val pins = graft.ops.Catalog.snapshot(cat)
        require(pins.keySet == Set("clean", "quarantine"),
          s"each batch must advance both members atomically: $pins")
        require(pins("clean") == pins("quarantine"),
          s"members advanced out of lockstep: $pins")
        val clean = graft.ops.Catalog.readAt(spark, cat, pins, "clean")
          .withColumn("disposition", lit("clean"))
        val quarantined = graft.ops.Catalog.readAt(spark, cat, pins, "quarantine")
          .withColumn("disposition",
            concat(lit("quarantine:"), col("__rule"))).drop("__rule")
        clean.unionByName(quarantined).orderBy(col("event_id"))
      },
      Some("""
        SELECT event_id, user_id, event_type, value,
               CASE WHEN event_type = 'error' THEN 'quarantine:no_error_events'
                    WHEN value >= 400 THEN 'quarantine:value_bound'
                    ELSE 'clean' END AS disposition
        FROM events
        ORDER BY event_id""".trim)),
  )
}
