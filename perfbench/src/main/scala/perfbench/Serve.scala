package perfbench

import graft.stream.{E2e, GraftLog}
import org.apache.spark.sql.functions.{col, timestamp_micros}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import java.nio.file.Paths

/** serve_live: a backlog drain followed by an open loop.
  *
  * Set-up stages a seeded backlog of `Backlog` events over `Users` Zipf-
  * skewed users with `GraftLog.stage`. The run starts `E2e.startChain` on
  * a ProcessingTime(0) trigger with an admission bound of `PerTrigger`
  * records; the chain first drains the backlog to the benchmark's
  * subscriber. Then one generator thread publishes one sealed segment
  * every `TickMs` at `Rate` events/s. The first `WarmS` seconds of live
  * traffic are not measured; after the measured window the generator
  * stops and the chain has `DrainS` seconds to deliver the rest. Delivery
  * latency runs from a segment becoming visible in the log to the
  * subscriber's first receipt of each served event in it.
  *
  * The chain's checkpoint, RocksDB state included, lies in the run's work
  * directory on the checkout's disk, not on the RAM-backed scratch that
  * `graft.Tmp.ckpt` picks, because the benchmark writes only inside its
  * checkout, so every batch's checkpoint writes go to that disk.
  *
  * Basis of the sizes (perfbench/NOTES.md): `Backlog`, `Users` and the
  * type mix are the sf0.1 events fixture's; `Rate` and `PerTrigger` (the
  * backlog in 5 batches) are the sizing probe's; `TickMs`, `WarmS` and
  * the Zipf skew are assumptions. */
final class ServeLive extends Workload {
  val Backlog = 100000
  val SegmentRows = 4096
  val Rate = 20000
  val TickMs = 50
  val WarmS = 8
  val DrainS = 30
  val Users = 1500
  val PerTrigger = 20000L

  private var logDir: String = _
  private val stageS = scala.collection.mutable.ArrayBuffer.empty[Double]
  private var e2e = Map.empty[String, Double]
  private var lay = Map.empty[String, Double]
  private var att, fail = 0L

  def prep(ctx: Ctx, rep: Int): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val gen = Gen(ctx.seed, Users)
    val events = spark.range(Backlog).map(i => gen.record(i))
      .toDF("event_id", "ts_us", "user_id", "event_type", "value", "props")
      .select(col("event_id"), timestamp_micros(col("ts_us")).as("ts"), col("user_id"),
        col("event_type"), col("value"), col("props"))
    logDir = ctx.path(s"log-$rep")
    val t0 = System.nanoTime()
    ctx.span("graftlog.stage") { GraftLog.stage(spark, events, logDir, SegmentRows) }
    stageS += (System.nanoTime() - t0) / 1e9
  }

  /** The streaming phases from the progress listener, the log's segment
    * count and the subscriber's connection record. */
  private def chainLayers(ctx: Ctx, sub: Subscriber): Map[String, Double] = {
    val fromProbes = ctx.probes.map { p =>
      Map(
        "graftlog.latest_offset_p50_ms" -> p.batchP("latestOffset", 0.5),
        "e2e.batches" -> p.dataBatches.toDouble,
        "e2e.trigger_p50_ms" -> p.batchP("triggerExecution", 0.5),
        "e2e.trigger_p90_ms" -> p.batchP("triggerExecution", 0.9),
        "e2e.query_planning_p50_ms" -> p.batchP("queryPlanning", 0.5),
        "e2e.wal_commit_p50_ms" -> p.batchP("walCommit", 0.5),
        "e2e.commit_offsets_p50_ms" -> p.batchP("commitOffsets", 0.5),
        "e2e.add_batch_p50_ms" -> p.batchP("addBatch", 0.5),
        "e2e.rows_per_batch_p50" -> p.batchP("rows", 0.5),
        "e2e.state_commit_p50_ms" -> p.batchP("state_commit", 0.5),
        "e2e.state_update_p50_ms" -> p.batchP("state_update", 0.5),
        "e2e.state_rows_updated" -> p.batches.flatMap(_.get("state_rows_updated")).sum)
    }.getOrElse(Map.empty)
    val segs = Option(new java.io.File(logDir).list()).getOrElse(Array.empty[String])
      .count(_.startsWith("segment-"))
    fromProbes ++ Map(
      "graftlog.segments_end" -> segs.toDouble,
      "serve.connections" -> sub.connections.toDouble,
      "serve.conn_p50_ms" -> Stats.median(sub.connDurationsMs),
      "serve.lines" -> sub.distinctLines.toDouble,
      "serve.dup_lines" -> sub.duplicateLines.toDouble)
  }

  /** Wait until `done` or the deadline; events still missing then are
    * counted as failed by `Subscriber.verify`. */
  private def await(q: StreamingQuery, deadlineNs: Long)(done: => Boolean): Unit =
    while (!done && System.nanoTime() < deadlineNs) {
      q.exception.foreach(e => throw e)
      Thread.sleep(5)
    }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val log = Paths.get(logDir)
    val perSeg = Rate * TickMs / 1000
    val warmSegs = WarmS * 1000 / TickMs
    val liveSegs = warmSegs + ctx.seconds * 1000 / TickMs
    val stagedSegs = (Backlog + SegmentRows - 1) / SegmentRows
    val gen = Gen(ctx.seed, Users)
    val expected = new Expected(gen, Backlog + liveSegs * perSeg)
    val backlogServed = (0 until Backlog).count(e => expected.seq(e) > 0)
    val sub = new Subscriber(expected)

    val t0 = System.nanoTime()
    val q = ctx.span("e2e.start_chain") {
      E2e.startChain(spark, logDir, ctx.path("ckpt"), PerTrigger, "127.0.0.1", sub.port,
        Trigger.ProcessingTime(0L))
    }
    ctx.span("serve.backlog") {
      await(q, t0 + DrainS * 1000000000L)(sub.receivedEvents >= backlogServed)
    }
    val backlogMs = (sub.lastReceiptNs - t0) / 1e6

    val visible = new Array[Long](liveSegs)
    val late = new Array[Long](liveSegs)
    val tickNs = TickMs * 1000000L
    val start = System.nanoTime() + tickNs
    var k = 0
    while (k < liveSegs) {
      val due = start + k * tickNs
      var now = System.nanoTime()
      while (now < due) {
        val ms = (due - now) / 1000000L
        if (ms > 1) Thread.sleep(ms - 1) else Thread.onSpinWait()
        now = System.nanoTime()
      }
      late(k) = now - due
      if (k == warmSegs) ctx.probes.foreach(_.reset())
      val first = Backlog + k.toLong * perSeg
      Gen.publish(log, stagedSegs + k, Iterator.range(0, perSeg).map(j => gen.line(first + j)))
      visible(k) = System.nanoTime()
      k += 1
    }
    ctx.span("serve.live_tail") {
      await(q, System.nanoTime() + DrainS * 1000000000L)(
        sub.receivedEvents >= expected.served)
    }
    ctx.span("e2e.stop_chain") { q.stop() }
    sub.quiesce()
    sub.close()

    val lat = (Backlog + warmSegs * perSeg until expected.n).iterator
      .filter(e => expected.seq(e) > 0 && sub.firstReceipt(e) != Long.MaxValue)
      .map(e => (sub.firstReceipt(e) - visible((e - Backlog) / perSeg)) / 1e6)
      .toSeq
    val (a, f) = sub.verify(expected.n)
    att = a; fail = f
    e2e = Map("latency_p50_ms" -> Stats.pct(lat, 0.5), "latency_p90_ms" -> Stats.pct(lat, 0.9))
    lay = chainLayers(ctx, sub) ++ Map(
      "serve.deliver_p99_ms" -> Stats.pct(lat, 0.99),
      "graftlog.stage_s" -> Stats.median(stageS.toSeq),
      "e2e.backlog_drain_ms" -> backlogMs,
      "e2e.backlog_events_per_s" -> Backlog / (backlogMs / 1000.0),
      "gen.late_ms_max" -> late.drop(warmSegs).max / 1e6)
  }

  def endToEnd: Map[String, Double] = e2e
  def layers: Map[String, Double] = lay
  def attempted: Long = att
  def failed: Long = fail
}
