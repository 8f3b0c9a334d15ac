package perfbench

import graft.ops.Acid
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum}
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** The `ops.Acid` half of batch_mix: one client on a seeded table of
  * (key, grp, v) rows. One round is a fixed sequence: append new keys
  * (`appendTxnCAS`), upsert existing and new keys (`mergeCow`), delete
  * other existing keys (`deleteTxn`), read and aggregate the head, read the
  * post-append version (`readVersion`), and read the change feed of the
  * delete commit (`changeFeedRow`, a window that crosses no rewrite), and
  * compact the table (`optimize`), so the file count levels off and every
  * round starts from the same layout. The client keeps a model of the
  * table and checks each read's row count and checksums against it.
  *
  * The sizes below (seed rows, rows per call) are assumptions, not derived
  * from a measured workload (perfbench/NOTES.md). */
final class Lakehouse {
  val SeedRows = 20000
  val AppendRows = 1000
  val UpdateRows = 400
  val InsertRows = 100
  val DeleteRows = 300

  private var table: String = _
  private var model = mutable.LongMap.empty[Long]
  private var nextKey = 0L
  private var txn = 0L
  private val ops = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  private val roundMs = mutable.ArrayBuffer.empty[Double]
  var att, fail = 0L
  /** Whether calls are timed; off while the code paths warm up. */
  var recording = false

  private def frame(spark: SparkSession, rows: Seq[(Long, Int, Long)]): DataFrame = {
    import spark.implicits._
    rows.toDF("key", "grp", "v")
  }

  private def value(seed: Long, key: Long, round: Int): Long =
    (Gen.splitmix(seed * 31 + key * 1000003L + round) >>> 1) % 1000000L

  /** One timed Acid call; each call is one attempted operation. */
  private def timed[T](ctx: Ctx, op: String)(body: => T): T = {
    att += 1
    val t0 = System.nanoTime()
    val r = ctx.span(s"acid.$op")(body)
    if (recording) ops.getOrElseUpdate(op, mutable.ArrayBuffer.empty) += (System.nanoTime() - t0) / 1e6
    r
  }

  /** Row count and key/value sums: what the model predicts for a read. */
  private def digest(df: DataFrame): (Long, Long, Long) = {
    val r = df.agg(count(lit(1)), sum(col("key")), sum(col("v"))).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1), if (r.isNullAt(2)) 0L else r.getLong(2))
  }
  private def expect(m: collection.Map[Long, Long]): (Long, Long, Long) =
    (m.size.toLong, m.keysIterator.sum, m.valuesIterator.sum)

  private def check(ok: => Boolean): Unit = {
    att += 1
    val good = try ok catch { case e: Exception =>
      System.err.println(s"[perfbench] lakehouse check threw: $e"); false }
    if (!good) fail += 1
  }

  def prep(ctx: Ctx, rep: Int): Unit = {
    table = ctx.path(s"lake-$rep")
    val rows = (0L until SeedRows).map(k => (k, (k % 16).toInt, value(ctx.seed, k, 0)))
    model = mutable.LongMap(rows.map(r => r._1 -> r._3): _*)
    nextKey = SeedRows
    txn = 1L
    ctx.span("acid.seed") { Acid.appendTxnCAS(ctx.spark, table, frame(ctx.spark, rows), txn) }
  }

  /** One round; returns its time in ms. */
  def round(ctx: Ctx, round: Int): Double = {
    val spark = ctx.spark
    val rnd = new scala.util.Random(ctx.seed * 7919 + round)
    val live = model.keys.toArray.sorted
    val picked = rnd.shuffle(live.toSeq).take(UpdateRows + DeleteRows)
    val (upd, del) = picked.splitAt(UpdateRows)
    val r0 = System.nanoTime()
    ctx.span("lake.round") {
      val appended = (nextKey until nextKey + AppendRows)
        .map(k => (k, (k % 16).toInt, value(ctx.seed, k, round)))
      nextKey += AppendRows
      txn += 1
      val vAppend = timed(ctx, "append") {
        Acid.appendTxnCAS(spark, table, frame(spark, appended), txn)
      }
      appended.foreach(r => model(r._1) = r._3)
      val afterAppend = expect(model)

      val inserted = (nextKey until nextKey + InsertRows)
      nextKey += InsertRows
      val changes = (upd ++ inserted).map(k => (k, (k % 16).toInt, value(ctx.seed, k, round + 1)))
      txn += 1
      val (vMerge, _, _) = timed(ctx, "merge") {
        Acid.mergeCow(spark, table, frame(spark, changes), "key", txn)
      }
      changes.foreach(r => model(r._1) = r._3)

      txn += 1
      val vDelete = timed(ctx, "delete") {
        Acid.deleteTxn(spark, table, frame(spark, del.map(k => (k, 0, 0L))), "key", txn)
      }
      del.foreach(model.remove)

      val head = timed(ctx, "read") { digest(Acid.read(spark, table)) }
      check(head == expect(model))
      val old = timed(ctx, "time_travel") { digest(Acid.readVersion(spark, table, vAppend)) }
      check(old == afterAppend)
      val feed = timed(ctx, "change_feed") {
        Acid.changeFeedRow(spark, table, vMerge, vDelete, "key")
          .groupBy(col("change_type")).agg(count(lit(1)), sum(col("key")))
          .collect().map(r => (r.getString(0), (r.getLong(1), r.getLong(2)))).toMap
      }
      check(feed == Map("delete" -> ((del.size.toLong, del.sum))))

      txn += 1
      timed(ctx, "optimize") { Acid.optimize(spark, table, txn, targetFiles = ctx.cpus) }
      check(digest(Acid.read(spark, table)) == expect(model))
    }
    val ms = (System.nanoTime() - r0) / 1e6
    if (recording) roundMs += ms
    ms
  }

  /** Every timed call, in ms. */
  def calls: Seq[Double] = ops.values.flatten.toSeq

  /** A round's time taken call by call: the sum of each round call's
    * median, which a slow spell in one call of one round does not move. */
  def roundP50Ms: Double =
    Seq("append", "merge", "delete", "read", "time_travel", "change_feed", "optimize")
      .map(op => Stats.median(ops.getOrElse(op, Nil).toSeq)).sum

  /** Per-call medians and the table's size at the end. */
  def layers: Map[String, Double] = {
    val v = Acid.currentVersion(table).getOrElse(0L)
    val dataFiles = Files.readAllLines(Paths.get(table, s"manifest-$v.txt")).toArray
      .count(l => !l.toString.startsWith("#") && l.toString.trim.nonEmpty)
    val bytes = {
      val w = Files.walk(Paths.get(table))
      try w.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally w.close()
    }
    ops.map { case (op, ts) => s"acid.${op}_p50_ms" -> Stats.median(ts.toSeq) }.toMap ++ Map(
      "acid.rounds" -> roundMs.size.toDouble,
      "acid.round_p50_ms" -> Stats.median(roundMs.toSeq),
      "acid.versions_end" -> v.toDouble,
      "acid.data_files_end" -> dataFiles.toDouble,
      "acid.table_bytes_end" -> bytes.toDouble,
      "acid.bytes_per_live_row" -> bytes.toDouble / model.size)
  }
}
