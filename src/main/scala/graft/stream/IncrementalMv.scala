package graft.stream

import graft.{Q, Tables}
import graft.Det._
import graft.ops.Acid
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming incremental materialized-view maintenance (r13 verdict item
  * 1) — the CONSUMER the change feed exists for: a standing aggregate kept
  * current by APPLYING `stream_change_feed`'s row-level deltas, never by
  * recomputing from the base table.
  *
  * The shape every lakehouse MV-refresh pipeline runs (Delta's
  * `readChangeFeed` → `foreachBatch` MERGE; Materialize/Flink's
  * delta-driven view maintenance):
  *
  *  - the CDF source streams inserts AND delete preimages per commit;
  *  - each micro-batch aggregates ONLY its changes — count/sum are
  *    abelian-group partials, so an insert contributes (+1, +x) and a
  *    delete's preimage (−1, −x), and the batch collapses to O(groups)
  *    signed deltas regardless of batch size;
  *  - the deltas merge into the standing MV by a full-outer key join with
  *    coalesced addition; groups whose count reaches zero are DROPPED
  *    (a full recompute would not have the group at all);
  *  - the merged state commits through the Acid seam with `txnId =
  *    batchId` — the manifest's txn ledger makes a replayed micro-batch
  *    (crash/restart redelivery) a NO-OP, so the delta can never
  *    double-apply: at-least-once delivery becomes exactly-once state.
  *
  * At 100 TB the refresh cost is O(changes + groups) per cycle instead of
  * O(table) — the whole point of a change feed. Sums ride as exact cents
  * (BIGINT), so the maintained MV must match a full recompute bit-for-bit;
  * StreamingSpec pins that equality at EVERY intermediate version, across
  * the delete commit and a query restart.
  */
object IncrementalMv {

  /** Apply one CDF micro-batch to the standing MV at `mvTable` (grouped by
    * `key`, maintaining `n` = count and `sum_cents` = exact value sum),
    * exactly-once under `batchId` via the commit ledger. */
  def applyCdfBatch(spark: SparkSession, mvTable: String, batch: DataFrame,
      batchId: Long, key: String, valueCents: String): Unit = {
    // an empty batch (e.g. a skipped rewrite commit) changes nothing, and
    // its replay is trivially idempotent — skip the commit entirely
    if (batch.isEmpty) return
    val sign = when(col("change_type") === lit("insert"), lit(1L)).otherwise(lit(-1L))
    val delta = batch
      .groupBy(col(key))
      .agg(sum(sign).as("dn"), sum(sign * col(valueCents)).as("dsum"))
    val mvSchema = org.apache.spark.sql.types.StructType(Seq(
      batch.schema(key),
      org.apache.spark.sql.types.StructField("n", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("sum_cents", org.apache.spark.sql.types.LongType)))
    val cur =
      if (Acid.currentVersion(mvTable).isDefined) Acid.read(spark, mvTable)
      else spark.createDataFrame(java.util.Collections.emptyList[Row](), mvSchema)
    val merged = cur.as("m")
      .join(delta.as("x"), Seq(key), "full_outer")
      .select(col(key),
        (coalesce(col("m.n"), lit(0L)) + coalesce(col("x.dn"), lit(0L))).as("n"),
        (coalesce(col("m.sum_cents"), lit(0L)) +
          coalesce(col("x.dsum"), lit(0L))).as("sum_cents"))
      .filter(col("n") =!= 0L)
    Acid.commit(spark, mvTable, merged, txnId = Some(batchId))
  }

  /** Run one AvailableNow drain of `table`'s change feed into the MV. */
  def refresh(spark: SparkSession, table: String, mvTable: String,
      ckpt: String, key: String, valueCents: String): Unit = {
    val q = StreamOps.start(spark, spark.readStream
      .format("graft.stream.AcidStreamProvider")
      .option("table", table).option("mode", "cdf").load()
      .writeStream
      .foreachBatch { (b: DataFrame, id: Long) =>
        applyCdfBatch(spark, mvTable, b, id, key, valueCents); ()
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()))
    q.awaitTermination()
  }

  val queries: Seq[Q] = Seq(

    // Streaming incremental MV (r14): per-status (count, exact cents sum)
    // over the orders-backed Acid table, maintained ONLY from the change
    // feed. History: v0 appends keys ≡0 mod 3, v1 appends ≡1 — refreshed;
    // the query STOPS; v2 deletes every key ≡0 mod 7 (the MV must
    // subtract those rows' preimages), v3 appends ≡2 (whose ≡0-mod-7 keys
    // are stillborn under the standing vector and must never count) — a
    // second refresh on the same checkpoint resumes and applies exactly
    // v2+v3's deltas. The oracle recomputes the FINAL state from scratch
    // (every key with o_orderkey % 7 <> 0): the incrementally-maintained
    // aggregate must match the full recompute bit-for-bit — a delta lost,
    // double-applied, or mis-signed anywhere in the history breaks the
    // hash. Refresh cost is O(changes), never O(table) — the base is not
    // rescanned after v0.
    Q("stream_incremental_mv",
      (spark, sfDir) => {
        val table = graft.Tmp.dir("stream_incmv_tbl", sfDir)
        val mv = graft.Tmp.dir("stream_incmv_mv", sfDir)
        Acid.reset(table); Acid.reset(mv)
        val ckpt = graft.Tmp.ckpt("incmv")
        val or = Tables.orders(spark, sfDir)
          .select(col("o_orderkey"), col("o_orderstatus"),
            (money(col("o_totalprice")) * 100).cast("long").as("price_cents"))
        def refreshOnce(): Unit =
          refresh(spark, table, mv, ckpt, "o_orderstatus", "price_cents")
        Acid.appendTxn(spark, table,
          or.filter(col("o_orderkey") % 3 === 0), txnId = 0L) // v0
        Acid.appendTxn(spark, table,
          or.filter(col("o_orderkey") % 3 === 1), txnId = 1L) // v1
        refreshOnce() // generation 1
        Acid.deleteTxn(spark, table,
          Tables.orders(spark, sfDir)
            .filter(col("o_orderkey") % 7 === 0).select(col("o_orderkey")),
          "o_orderkey", txnId = 2L)                           // v2: deletes
        Acid.appendTxn(spark, table,
          or.filter(col("o_orderkey") % 3 === 2), txnId = 3L) // v3
        refreshOnce() // generation 2: restart, applies exactly v2+v3
        Acid.read(spark, mv)
          .select(col("o_orderstatus"), col("n"), col("sum_cents"))
          .orderBy(col("o_orderstatus"))
      },
      Some("""
        SELECT o_orderstatus, COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)) * 100) AS BIGINT)
                 AS sum_cents
        FROM orders
        WHERE o_orderkey % 7 <> 0
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus""".trim)),
  )
}
