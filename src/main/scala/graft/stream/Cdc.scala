package graft.stream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming CDC apply: materialize a keyed changelog into its
  * latest-state table — the "compacted topic" / upsert-sink behavior
  * (Kafka log compaction, Delta `MERGE`, Flink upsert sinks): every key's
  * visible row is the one carried by its newest change event.
  *
  * State is maintained as an immutable VERSION CHAIN, one snapshot per
  * micro-batch, which makes the apply exactly-once by construction:
  *
  *  1. Each micro-batch writes its successor state to a deterministic
  *     `v=<batchId>` directory with overwrite — a replayed batch (task
  *     retry, restart from checkpoint re-running the last uncommitted
  *     batch) overwrites its OWN version instead of corrupting the chain
  *     (the `sink_stream` idempotence argument).
  *  2. The predecessor is looked up from the directory listing (largest
  *     version strictly below the current batch id), NOT from driver
  *     memory — so a restarted query resumes from the last committed
  *     snapshot, and re-applying a batch is a pure function of
  *     (predecessor, batch).
  *  3. "Latest" rides a total order: (ts, event_id) with event_id unique,
  *     so max_by is deterministic under any partitioning, retry, or AQE
  *     re-plan. Re-merging already-applied events is a no-op
  *     (latest-per-key is idempotent), which also makes an at-least-once
  *     redelivering source safe with zero dedup state.
  *
  * Scale shape: the merge shuffles on the key and its output is bounded
  * by KEY CARDINALITY, not history length — the shuffle carries one
  * partial max_by row per (partition, key). At 100 TB the version chain
  * maps onto a transactional table format (Delta/Iceberg MERGE with the
  * same deterministic-version idempotence) or a RocksDB state store; the
  * semantics and the (prev ∪ batch) → latest recurrence are identical.
  */
object Cdc {

  /** Latest visible row per key under the (ts, event_id) total order. */
  def latestPerKey(changelog: DataFrame): DataFrame =
    changelog
      .groupBy(col("user_id"))
      .agg(max_by(
        struct(col("ts"), col("event_id"), col("event_type"), col("value")),
        struct(col("ts"), col("event_id"))).as("s"))
      .select(col("user_id"), col("s.ts").as("ts"), col("s.event_id").as("event_id"),
        col("s.event_type").as("event_type"), col("s.value").as("value"))

  private def versionDirs(stateDir: String): Seq[(Long, java.io.File)] = {
    val root = new java.io.File(stateDir)
    Option(root.listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("v="))
      .map(f => (f.getName.stripPrefix("v=").toLong, f))
      .sortBy(_._1)
  }

  /** Apply one micro-batch: successor state = latestPerKey(prev ∪ batch),
    * written to `stateDir/v=<batchId>` (overwrite — idempotent replay). */
  def applyBatch(spark: SparkSession, stateDir: String)(
      batch: DataFrame, batchId: Long): Unit = {
    val changes = batch.select(
      col("user_id"), col("ts"), col("event_id"), col("event_type"), col("value"))
    val prev = versionDirs(stateDir).filter(_._1 < batchId).lastOption match {
      case Some((_, dir)) => spark.read.schema(changes.schema).parquet(dir.toString)
      case None => spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], changes.schema)
    }
    latestPerKey(prev.unionByName(changes))
      .write.mode("overwrite").parquet(s"$stateDir/v=$batchId")
  }

  /** Run the changelog stream to completion and return the final state. */
  def materialize(spark: SparkSession, changelog: DataFrame,
      stateDir: String, ckpt: String): DataFrame = {
    val q = StreamOps.start(spark, changelog.writeStream
      .foreachBatch(applyBatch(spark, stateDir) _)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()))
    q.awaitTermination()
    currentState(spark, stateDir)
  }

  /** The newest committed snapshot (empty-schema read if no batch ran). */
  def currentState(spark: SparkSession, stateDir: String): DataFrame =
    versionDirs(stateDir).lastOption match {
      case Some((_, dir)) => spark.read.parquet(dir.toString)
      case None => spark.emptyDataFrame
    }
}
