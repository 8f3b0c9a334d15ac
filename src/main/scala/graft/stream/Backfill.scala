package graft.stream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Batch-catchup → streaming-handoff with an exactly-once seam — the
  * reconnect/backfill behavior: a consumer that (re)connects needs the
  * complete event history, i.e. everything already landed in the batch
  * archive PLUS everything the live feed delivers after it, each event
  * exactly once.
  *
  * The seam is exactly-once by construction, not by dedup state:
  *
  *  1. [[recordOffset]] scans the archive ONCE for its high-water mark
  *     (`max(event_id)` — the file-archive analogue of recording a
  *     broker's partition offsets at snapshot time).
  *  2. The live leg filters `event_id > hwm`, so even an at-least-once
  *     feed that REDELIVERS archived events (the worst-case reconnect:
  *     replay from the start of retention) contributes only events the
  *     archive does not already hold — the two legs are disjoint by
  *     construction, with no per-event dedup state to size or expire.
  *  3. The live leg lands via foreachBatch into deterministic
  *     `batch=<id>` directories with overwrite — a replayed micro-batch
  *     (task retry, or a restart from checkpoint re-running the last
  *     uncommitted batch) overwrites its own output instead of appending
  *     a duplicate (the `sink_stream` exactly-once argument, proven
  *     across a checkpointed restart in StreamingSpec).
  *  4. [[unify]] is a plain unionByName of the two disjoint legs.
  *
  * At 100 TB: the archive scan is a normal pruned parquet read; the
  * recorded offset maps to the broker's seek (Kafka `startingOffsets`) —
  * since r12 this is EXECUTED, not argued: `stream_backfill`'s live leg
  * runs on the seekable [[GraftLog]] source with `startingOffset` set to
  * the archive's row count, so a seekable live leg never re-reads history
  * at all. The `> hwm` filter is the defensive twin that keeps the seam
  * exact even when the source cannot seek and replays from retention
  * start. Monotone per-partition offsets are the broker contract;
  * `event_id` plays that role for the file feed.
  */
object Backfill {

  /** The archive's high-water mark — the recorded handoff offset.
    * Driver-side by design: offset recording is a one-row control-plane
    * read, not a data-path collect. */
  def recordOffset(archive: DataFrame): Long =
    archive.agg(max(col("event_id"))).head().getLong(0)

  /** Run the live leg to completion (AvailableNow), keeping only events
    * strictly after the recorded offset, landing exactly-once into
    * `outDir/batch=<id>` parquet, and return the landed rows. The
    * explicit read schema makes a zero-batch run (nothing after the
    * offset) an empty result instead of an inference error. */
  def landLive(spark: SparkSession, live: DataFrame, hwm: Long,
      outDir: String, ckpt: String): DataFrame = {
    val tail = live.filter(col("event_id") > hwm)
    val q = StreamOps.start(spark, tail.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()))
    q.awaitTermination()
    spark.read.schema(tail.schema).parquet(outDir)
  }

  /** Unified history: archive ∪ landed live tail (disjoint by the offset
    * filter, so plain bag union — no distinct, no shuffle beyond what the
    * consumer's own query needs). */
  def unify(archive: DataFrame, landedLive: DataFrame): DataFrame =
    archive.unionByName(landedLive.select(archive.columns.map(col).toSeq: _*))
}
