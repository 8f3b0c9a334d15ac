package graft.stream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, struct, to_json}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

/** The composed end-to-end service loop (r13 — r12 verdict item 1, the
  * reference's actual dataflow as ONE chain): graft-log ingest with real
  * committed offsets → per-user stateful transform → serve egress from
  * executor-side connections. Each seam was proven in isolation in r12
  * (GraftLogSpec restart/redelivery, stream_stateful state recovery, Serve
  * at-least-once + consumer dedup); this module runs them as one
  * RESTARTABLE StreamingQuery so the exactly-once claim holds end to end:
  *
  *  - **offsets at the source**: the chain checkpoints graft-log offset
  *    vectors; a restarted query replays only the uncommitted range;
  *  - **state across restarts**: the per-user sequence counter lives in the
  *    (RocksDB) state store and resumes from the checkpoint — a restart
  *    that lost state would restart sequence numbers mid-stream and the
  *    oracle's ROW_NUMBER would diverge on every subsequent record;
  *  - **idempotence at the sink**: push is at-least-once (task retries /
  *    replayed uncommitted batches re-push), but re-pushed records carry
  *    IDENTICAL (user_id, event_id, seq) lines — the transform is
  *    deterministic per offset range — so consumer-side dedup on the exact
  *    line restores exactly-once. A record pushed twice with a DIFFERENT
  *    seq (double-applied state) would survive dedup as two rows for one
  *    event_id and fail the row-count/hash check loudly.
  *
  * Determinism argument for `seq`: the log is staged in event_id order and
  * micro-batches are ordinal-prefix ranges, so for any user every record in
  * batch N precedes (by event_id) every record in batch N+1; within a batch
  * the group's rows are sorted by event_id before numbering. Hence seq ==
  * ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) regardless of
  * batch boundaries, restarts, or partition scheduling — and regardless of
  * how the log source splits a batch's ordinals into input partitions
  * (GraftLog packs them into task-slot runs): the shuffle gathers all of a
  * user's rows in the batch into one group, whichever partition read them,
  * and the sort fixes their order. At 100 TB this is
  * the same argument per broker partition (Kafka guarantees per-partition
  * order; cross-partition per-user order needs the producer to key by user,
  * exactly how the partitioned staging keys by user_id).
  */
object E2e {

  case class SeqIn(event_id: Long, user_id: Long)
  case class SeqOut(user_id: Long, event_id: Long, seq: Long)

  /** Per-user running sequence number — the minimal stateful transform
    * whose correctness is visible in EVERY output record (any state loss,
    * duplication, or reorder shifts some seq). State is one long per user:
    * bounded by |users|, watermark-free (a counter never expires). */
  private def seqStateFn(key: Long, it: Iterator[SeqIn],
      state: GroupState[Long]): Iterator[SeqOut] = {
    var n = state.getOption.getOrElse(0L)
    val out = it.toArray.sortBy(_.event_id).map { e =>
      n += 1
      SeqOut(key, e.event_id, n)
    }
    state.update(n)
    out.iterator
  }

  /** Start the full chain: ingest `log` (committed offsets, admission-
    * bounded micro-batches) → filter to the served event types → per-user
    * sequence transform → line-JSON push to the subscriber at
    * `host:port`. The chain checkpoints at `ckpt`; start it again on the
    * same checkpoint to RESUME (offsets + state) after a stop or crash. */
  def startChain(spark: SparkSession, log: String, ckpt: String,
      perTrigger: Long, host: String, port: Int,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    import spark.implicits._
    val events = GraftLog.readStream(spark, log,
        maxRecordsPerTrigger = Some(perTrigger))
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_id"), col("user_id")).as[SeqIn]
    val seqs = events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout())(seqStateFn)
    val wire = seqs.toDF()
      .select(to_json(struct(col("user_id"), col("event_id"), col("seq"))).as("line"))
    Serve.pushLines(wire, host, port, Some(ckpt), trigger)
  }

  /** Parse the subscriber's received line set back into (user_id,
    * event_id, seq) rows — client-side receipt verification, not an engine
    * data path. No dedup beyond the set's exact-line identity: a re-push
    * with a DIVERGENT seq must surface as a duplicate event_id row. */
  def parseReceived(spark: SparkSession, lines: Set[String]): DataFrame = {
    import org.apache.spark.sql.functions.from_json
    import spark.implicits._
    spark.createDataset(lines.toSeq)
      .select(from_json(col("value"),
        org.apache.spark.sql.types.StructType.fromDDL(
          "user_id LONG, event_id LONG, seq LONG")).as("e"))
      .select(col("e.user_id").as("user_id"), col("e.event_id").as("event_id"),
        col("e.seq").as("seq"))
  }
}
