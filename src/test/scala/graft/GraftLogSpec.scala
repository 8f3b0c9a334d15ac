package graft

import graft.stream.{GraftLog, GraftLogInputPartition, GraftLogReaderFactory, GraftLogRunPartition}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

/** Pins for the graft-log DataSourceV2 MicroBatchStream (r11 verdict item
  * 1): real offset objects, seek-from-offset, restart-resume from the
  * checkpointed offset, and redelivery-idempotence of the in-flight batch
  * — the seekable-broker semantics the Kafka seam rests on.
  */
class GraftLogSpec extends SparkFixture {

  private def line(id: Long): String =
    s"$id\t${1700000000000000L + id * 1000000L}\t${id % 7}\ttype${id % 3}\t${id * 1.5}\t{}"

  private def freshLog(ids: Seq[Seq[Long]]): String = {
    val dir = Files.createTempDirectory("graftlog_spec").toString
    ids.zipWithIndex.foreach { case (seg, i) =>
      GraftLog.appendSegment(dir, i, seg.map(line))
    }
    dir
  }

  private val sinkN = new AtomicInteger

  private def drainToTable(sdf: DataFrame, ckpt: String): DataFrame = {
    val tbl = s"graftlog_spec_${sinkN.incrementAndGet()}"
    val q = sdf.writeStream.format("memory").queryName(tbl)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    spark.table(tbl)
  }

  test("distributed and driver-side segment writers produce byte-identical logs") {
    // the r21 strategy switch: above spark.graft.stage.distributedThresholdBytes
    // segments are written executor-side (no full-log collect); this pins
    // that both writers emit the same files, names, headers, and bytes —
    // flat, partitioned, and v2 staging alike
    import org.apache.spark.sql.functions._
    import scala.jdk.CollectionConverters._
    val ev = spark.range(1000).select(
      col("id").as("event_id"),
      expr("timestamp_micros(1700000000000000 + id * 1000000)").as("ts"),
      (col("id") % 13).as("user_id"),
      concat(lit("type"), col("id") % 3).as("event_type"),
      (col("id") * 1.5).as("value"),
      lit("{}").as("props"))
    val evV2 = ev.withColumn("source", concat(lit("s"), col("user_id") % 2))
    def allFiles(root: String): Map[String, Seq[String]] = {
      val base = java.nio.file.Paths.get(root)
      val walk = Files.walk(base)
      try walk.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => base.relativize(p).toString ->
          Files.readAllLines(p).asScala.toSeq).toMap
      finally walk.close()
    }
    def stageAll(root: String): Unit = {
      GraftLog.stage(spark, ev, s"$root/flat", segmentRows = 96)
      GraftLog.stagePartitioned(spark, ev, s"$root/part", numParts = 4,
        segmentRows = 96)
      GraftLog.stageV2(spark, evV2, s"$root/v2", segmentRows = 96)
    }
    val small = Files.createTempDirectory("graftlog_wd").toString
    val dist = Files.createTempDirectory("graftlog_we").toString
    stageAll(small) // default threshold: the driver-side collect path
    spark.conf.set("spark.graft.stage.distributedThresholdBytes", "1")
    try stageAll(dist) // forced: the executor-side distributed path
    finally spark.conf.unset("spark.graft.stage.distributedThresholdBytes")
    val a = allFiles(small)
    val b = allFiles(dist)
    assert(a.keySet == b.keySet, s"file sets differ: ${a.keySet} vs ${b.keySet}")
    a.keySet.foreach(f => assert(a(f) == b(f), s"bytes differ in $f"))
    assert(a.keys.exists(_.startsWith("flat/segment-")) &&
      a.keys.count(_.startsWith("flat/")) == 11, // 1000 rows / 96 per segment
      s"unexpected flat segmentation: ${a.keys.filter(_.startsWith("flat/"))}")
  }

  test("planInputPartitions maps an ordinal range onto exact segment slices") {
    val dir = freshLog(Seq(Seq(0L, 1, 2, 3), Seq(4L, 5, 6, 7), Seq(8L, 9, 10)))
    // [5, 9) spans the tail of segment 1 and the head of segment 2
    val parts = GraftLog.plan(dir, 5, 9).map(_.asInstanceOf[GraftLogInputPartition])
    assert(parts.length == 2)
    assert(parts(0).skip == 1 && parts(0).take == 3) // ordinals 5,6,7
    assert(parts(1).skip == 0 && parts(1).take == 1) // ordinal 8
    val got = parts.flatMap { p =>
      val r = GraftLogReaderFactory.createReader(p)
      val b = Seq.newBuilder[Long]
      while (r.next()) b += r.get().getLong(0)
      r.close()
      b.result()
    }
    assert(got.toSeq == Seq(5L, 6, 7, 8))
    // empty and full ranges
    assert(GraftLog.plan(dir, 4, 4).isEmpty)
    assert(GraftLog.plan(dir, 0, 11).map(_.asInstanceOf[GraftLogInputPartition])
      .map(_.take).sum == 11)
  }

  private def readIds(p: InputPartition): Seq[Long] = {
    val r = GraftLogReaderFactory.createReader(p)
    val b = Seq.newBuilder[Long]
    try while (r.next()) b += r.get().getLong(0) finally r.close()
    b.result()
  }

  test("planVector packs a range over many segments into at most defaultParallelism in-order runs per log partition") {
    val slots = spark.sparkContext.defaultParallelism
    val segs = 3 * slots + 2
    // two broker partitions of `segs` 3-record segments; partition p's
    // ordinal k holds event id 1000 * p + k
    val dir = Files.createTempDirectory("graftlog_pack").toString
    for (p <- 0 to 1; i <- 0 until segs)
      GraftLog.appendSegment(s"$dir/p=$p", i,
        (3L * i until 3L * i + 3).map(k => line(1000L * p + k)))
    val start = Map("p=0" -> 2L, "p=1" -> 7L)
    val end = Map("p=0" -> (3L * segs - 1), "p=1" -> (3L * segs - 4))
    val runs = GraftLog.planVector(dir, start, end, slots, wireV2 = false)
      .map(_.asInstanceOf[GraftLogRunPartition])
    Seq("p=0", "p=1").zipWithIndex.foreach { case (p, k) =>
      val mine = runs.filter(_.slices.head.path.startsWith(s"$dir/$p/"))
      assert(mine.length == slots, s"$p planned ${mine.length} runs on $slots slots")
      // no run mixes two log partitions
      mine.foreach(r => assert(r.slices.forall(_.path.startsWith(s"$dir/$p/"))))
      // in-order reads yield exactly [start, end), once each
      assert(mine.toSeq.flatMap(readIds) == (start(p) until end(p)).map(_ + 1000L * k))
      // row-balanced: run sizes differ by at most one record
      val sizes = mine.map(_.slices.map(_.take).sum)
      assert(sizes.max - sizes.min <= 1, s"$p run sizes ${sizes.toSeq}")
    }
    // a range over fewer segments than slots plans one run per segment
    val two = GraftLog.planVector(dir, Map("p=0" -> 1L), Map("p=0" -> 5L), slots,
      wireV2 = false)
    assert(two.length == 2 && two.toSeq.flatMap(readIds) == (1L until 5L))
  }

  test("a plan served from the trigger's listing after a newer segment lands equals a fresh listing's plan") {
    import graft.stream.{GraftLogMicroBatchStream, GraftLogOffset}
    val dir = freshLog((0 until 12).map(i => 3L * i until 3L * i + 3))
    val stream = new GraftLogMicroBatchStream(dir, 0L, maxRecordsPerTrigger = Some(20L))
    val start = stream.initialOffset()
    // the trigger lists the log here ...
    val end = stream.latestOffset(start, stream.getDefaultReadLimit)
    assert(end == GraftLogOffset(Map("" -> 20L)))
    // ... a producer lands a segment before the batch is planned
    GraftLog.appendSegment(dir, 12, Seq(36L, 37, 38).map(line))
    val served = stream.planInputPartitions(start, end)
    val fresh = new GraftLogMicroBatchStream(dir, 0L, Some(20L))
      .planInputPartitions(start, end)
    assert(served.toSeq == fresh.toSeq)
    assert(served.toSeq.flatMap(readIds) == (0L until 20L))
    // an end past the listing (a replayed batch) plans from a fresh one
    val past = GraftLogOffset(Map("" -> 39L))
    assert(stream.planInputPartitions(end, past).toSeq.flatMap(readIds) == (20L until 39L))
  }

  test("batch read and streamed read both recover the staged events exactly") {
    val dir = Files.createTempDirectory("graftlog_stage").toString
    GraftLog.stage(spark, Tables.events(spark, sf001), dir, segmentRows = 256)
    // order-independent checksum: double sums vary with reduction order,
    // so the value checksum goes through an exact decimal
    def sig(df: DataFrame) = df.agg(count(lit(1)), sum(col("event_id")),
      sum(col("value").cast("decimal(28,10)"))).head()
    val expect = sig(Tables.events(spark, sf001))
    assert(sig(GraftLog.read(spark, dir)) == expect,
      "batch read diverged from source events")
    val ckpt = Files.createTempDirectory("graftlog_ckpt").toString
    val streamed = drainToTable(
      GraftLog.readStream(spark, dir, maxRecordsPerTrigger = Some(300)), ckpt)
    assert(sig(streamed) == expect, "streamed read diverged from source events")
  }

  test("startingOffset seeks: the stream begins at the k-th record, no history re-read") {
    val dir = Files.createTempDirectory("graftlog_seek").toString
    GraftLog.stage(spark, Tables.events(spark, sf001), dir, segmentRows = 256)
    val k = 700L
    val ckpt = Files.createTempDirectory("graftlog_ckpt").toString
    val got = drainToTable(GraftLog.readStream(spark, dir, startingOffset = k), ckpt)
    // staged log is event_id-ordered, so the seek target is the k-th
    // smallest event_id — everything at rank > k must arrive, nothing else
    val expected = Tables.events(spark, sf001).orderBy(col("event_id"))
      .select(col("event_id")).collect().map(_.getLong(0)).drop(k.toInt).toSet
    val gotIds = got.select(col("event_id")).collect().map(_.getLong(0)).toSet
    assert(gotIds == expected, s"seek delivered ${gotIds.size} of ${expected.size} expected")
  }

  test("restart resumes from the checkpointed offset: only new segments replay") {
    val dir = freshLog(Seq(Seq(0L, 1, 2), Seq(3L, 4, 5)))
    val ckpt = Files.createTempDirectory("graftlog_ckpt").toString
    val out = Files.createTempDirectory("graftlog_out").toString
    def runOnce(): Unit = {
      val q = GraftLog.readStream(spark, dir)
        .writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
          batch.write.mode("overwrite").parquet(s"$out/batch=$batchId")
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    runOnce()
    val landed1 = spark.read.schema(GraftLog.schema).parquet(out)
      .select(col("event_id")).collect().map(_.getLong(0)).toSet
    assert(landed1 == Set(0L, 1, 2, 3, 4, 5))
    // new data arrives; a NEW query on the SAME checkpoint starts at the
    // committed offset — landed batches must cover old ∪ new exactly once
    GraftLog.appendSegment(dir, 2, Seq(6L, 7).map(line))
    runOnce()
    val landed2 = spark.read.schema(GraftLog.schema).parquet(out)
      .select(col("event_id")).collect().map(_.getLong(0)).toSeq.sorted
    assert(landed2 == Seq(0L, 1, 2, 3, 4, 5, 6, 7),
      s"restart re-read history or lost the tail: $landed2")
  }

  test("partitioned log: vector offsets plan per partition, admit in order, and resume per partition") {
    import graft.stream.GraftLogOffset
    val dir = Files.createTempDirectory("graftlog_parts").toString
    GraftLog.appendSegment(s"$dir/p=0", 0, Seq(0L, 1, 2, 3).map(line))
    GraftLog.appendSegment(s"$dir/p=1", 0, Seq(100L, 101, 102).map(line))
    // offset JSON round-trip: the vector form a checkpoint persists
    val off = GraftLogOffset(Map("p=0" -> 2L, "p=1" -> 1L))
    assert(off.json() == """{"p=0":2,"p=1":1}""")
    assert(GraftLogOffset.parse(off.json()) == off)
    assert(GraftLogOffset.parse("7") == GraftLogOffset(Map("" -> 7L))) // legacy scalar
    // batch read = union of both partitions
    val all = GraftLog.read(spark, dir).select(col("event_id"))
      .collect().map(_.getLong(0)).toSet
    assert(all == Set(0L, 1, 2, 3, 100, 101, 102))
    // streamed with a 3-row budget: the vector endpoint is persisted per
    // batch, and the drain covers both partitions exactly once
    // (foreachBatch landing — the checkpoint-recoverable sink)
    val ckpt = Files.createTempDirectory("graftlog_ckpt").toString
    val out = Files.createTempDirectory("graftlog_out").toString
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Set[Long])]()
    def runOnce(maxRows: Option[Long]): Unit = {
      val q = GraftLog.readStream(spark, dir, maxRecordsPerTrigger = maxRows)
        .writeStream.foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
          seen.add(batchId ->
            batch.select(col("event_id")).collect().map(_.getLong(0)).toSet)
          batch.write.mode("overwrite").parquet(s"$out/batch=$batchId")
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    runOnce(Some(3))
    val landed1 = spark.read.schema(GraftLog.schema).parquet(out)
      .select(col("event_id")).collect().map(_.getLong(0)).toSet
    assert(landed1 == all, s"partitioned drain diverged: $landed1")
    // the 3-row budget split the 7 records into ≥3 vector-bounded batches
    assert(seen.size >= 3, s"admission control did not split the drain: ${seen.size}")
    // append to ONE partition; same checkpoint resumes only that partition
    seen.clear()
    GraftLog.appendSegment(s"$dir/p=1", 1, Seq(103L, 104).map(line))
    runOnce(None)
    val resumed = scala.jdk.CollectionConverters.CollectionHasAsScala(seen)
      .asScala.flatMap(_._2).toSet
    assert(resumed == Set(103L, 104L),
      s"resume re-read history or missed the new segment: $resumed")
  }

  test("the in-flight batch is redelivered after a crash, and lands exactly once") {
    val dir = freshLog(Seq(Seq(0L, 1, 2), Seq(3L, 4, 5), Seq(6L, 7, 8)))
    val ckpt = Files.createTempDirectory("graftlog_ckpt").toString
    val out = Files.createTempDirectory("graftlog_out").toString
    val attempts = new java.util.concurrent.ConcurrentHashMap[Long, AtomicInteger]()
    @volatile var failOnce = true
    def runOnce(): Option[Throwable] = {
      val q = GraftLog.readStream(spark, dir, maxRecordsPerTrigger = Some(3))
        .writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
          attempts.computeIfAbsent(batchId, _ => new AtomicInteger).incrementAndGet()
          if (batchId == 1 && failOnce) { failOnce = false; sys.error("injected crash") }
          batch.write.mode("overwrite").parquet(s"$out/batch=$batchId")
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      try { q.awaitTermination(); None }
      catch { case e: Throwable => Some(e) }
    }
    assert(runOnce().isDefined, "injected crash did not surface")
    // restart: batch 1's offset range was persisted before execution, so
    // the SAME range is re-planned (redelivery) and the overwrite landing
    // makes the replay idempotent
    assert(runOnce().isEmpty, "clean rerun failed")
    assert(attempts.get(1L).get() >= 2, "batch 1 was not redelivered")
    val landed = spark.read.schema(GraftLog.schema).parquet(out)
      .select(col("event_id")).collect().map(_.getLong(0)).toSeq.sorted
    assert(landed == (0L to 8L).toSeq,
      s"redelivery duplicated or dropped records: $landed")
  }

  test("landBatch is idempotent: re-landing the same micro-batch replaces, never appends") {
    val dir = Files.createTempDirectory("graftlog_land").toString
    val ev = Tables.events(spark, sf001).limit(100)
    GraftLog.landBatch(ev, dir, 0L)
    GraftLog.landBatch(ev.limit(40), dir, 1L)
    def sig(df: DataFrame) = df.agg(count(lit(1)), sum(col("event_id"))).head()
    val once = sig(GraftLog.read(spark, dir))
    // a restarted/retried batch 1 re-lands its own segments in place
    GraftLog.landBatch(ev.limit(40), dir, 1L)
    assert(sig(GraftLog.read(spark, dir)) == once,
      "replayed batch changed the landed log")
    // batches are disjoint files: replaying batch 1 never touches batch 0
    val segs = new java.io.File(dir).list().filter(_.startsWith("segment-")).sorted
    assert(segs.exists(_.startsWith("segment-00000")) &&
      segs.exists(_.startsWith("segment-00001")), segs.mkString(","))
  }

  test("retention: ordinals stay stable across expiry, a resumed consumer reads exactly the tail") {
    val dir = freshLog(Seq(Seq(0L, 1, 2, 3), Seq(4L, 5, 6, 7), Seq(8L, 9, 10)))
    val ckpt = Files.createTempDirectory("graftlog_ret_ckpt").toString
    val out = Files.createTempDirectory("graftlog_ret_out").toString
    def runOnce(): Unit = {
      val q = GraftLog.readStream(spark, dir)
        .writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
          batch.write.mode("overwrite").parquet(s"$out/batch=$batchId")
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    // consumer drains everything, committing offset 11
    runOnce()
    assert(GraftLog.committedOffset(ckpt) == Map("" -> 11L))
    // retention: keep the last 4 records. cutoff = 7, so only segment 0
    // (ordinals 0-3) is FULLY below it — segment 1 straddles and is kept
    // whole (segments are immutable; partial coverage never truncates)
    val dead = GraftLog.expireSegments(dir, keepRecords = 4)
    assert(dead.size == 1, s"expected 1 expired segment, got $dead")
    assert(GraftLog.baseOrdinal(dir) == 4L)
    // ordinal stability: batch read sees exactly records 4..10; the log
    // END (total) is unchanged at 11
    assert(GraftLog.read(spark, dir).select(col("event_id"))
      .collect().map(_.getLong(0)).sorted.toSeq == (4L to 10L))
    assert(GraftLog.logTotal(dir) == 11L)
    // the committed consumer resumes across the expiry: new segment lands,
    // restart replays ONLY it (offset 11 still names the same boundary)
    GraftLog.appendSegment(dir, 3, Seq(11L, 12).map(line))
    runOnce()
    assert(spark.read.schema(GraftLog.schema).parquet(out)
      .select(col("event_id")).collect().map(_.getLong(0)).sorted.toSeq
      == (0L to 12L), "resume across retention replayed history or lost the tail")
    // a fresh consumer starts at the log-start offset (earliest available)
    val ckpt2 = Files.createTempDirectory("graftlog_ret_ckpt2").toString
    val t3 = drainToTable(GraftLog.readStream(spark, dir), ckpt2)
    assert(t3.select(col("event_id")).collect().map(_.getLong(0)).sorted.toSeq
      == (4L to 12L))
    // an explicit seek below the log start is retention-expired data: loud
    val ex = intercept[Exception] {
      drainToTable(GraftLog.readStream(spark, dir, startingOffset = 3L),
        Files.createTempDirectory("graftlog_ret_ckpt3").toString)
    }
    assert(ex.getMessage != null)
  }

  test("retention: a consumer whose committed offset fell below the log start fails loudly") {
    // consumer fully drains a 3-record log, committing offset 3 ...
    val dir = freshLog(Seq(Seq(0L, 1, 2)))
    val ckpt = Files.createTempDirectory("graftlog_lost_ckpt").toString
    val out = Files.createTempDirectory("graftlog_lost_out").toString
    def runOnce(): Unit = {
      val q = GraftLog.readStream(spark, dir)
        .writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
          batch.write.mode("overwrite").parquet(s"$out/batch=$batchId")
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    runOnce()
    assert(GraftLog.committedOffset(ckpt) == Map("" -> 3L))
    // ... then the producer lands 5 more records and retention expires
    // PAST the consumer's offset (keep last 2 → log start 6)
    GraftLog.appendSegment(dir, 1, Seq(3L, 4, 5).map(line))
    GraftLog.appendSegment(dir, 2, Seq(6L, 7).map(line))
    GraftLog.expireSegments(dir, keepRecords = 2)
    assert(GraftLog.baseOrdinal(dir) == 6L)
    // resume must fail loudly, not skip records 3..5 silently
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      runOnce()
    }
    assert(ex.getMessage.contains("expired by retention") ||
      String.valueOf(ex.getCause).contains("expired by retention"),
      s"wrong failure: ${ex.getMessage}")
  }

  test("wire evolution: v1 and v2 readers both read a mixed-generation log, in both directions") {
    val dir = Files.createTempDirectory("graftlog_evo").toString
    // gen 1: v1 segment (6 fields); gen 2: v2 segment (header + 7 fields)
    GraftLog.appendSegment(dir, 0, Seq(0L, 1, 2).map(line))
    GraftLog.appendSegment(dir, 1,
      "#v=2" +: Seq(3L, 4).map(id => line(id) + s"\tsrc$id"))
    // headers never consume ordinals: 5 records total
    assert(GraftLog.logTotal(dir) == 5L)
    // v2 reader: union schema, NULL source on v1 records (backward compat)
    val v2 = GraftLog.read(spark, dir, wireVersion = 2)
    assert(v2.columns.toSeq == GraftLog.schemaV2.fieldNames.toSeq)
    val bySrc = v2.select(col("event_id"), col("source")).collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(bySrc == Map(0L -> None, 1L -> None, 2L -> None,
      3L -> Some("src3"), 4L -> Some("src4")))
    // v1 reader over the SAME mixed log: trailing v2 fields ignored
    // (forward compat — an old consumer survives the producer upgrade)
    val v1 = GraftLog.read(spark, dir)
    assert(v1.columns.toSeq == GraftLog.schema.fieldNames.toSeq)
    assert(v1.select(col("event_id")).collect().map(_.getLong(0)).sorted.toSeq
      == (0L to 4L))
    // streaming read under v2 agrees with the batch read
    val ckpt = Files.createTempDirectory("graftlog_evo_ckpt").toString
    val streamed = drainToTable(GraftLog.readStream(spark, dir, wireVersion = 2), ckpt)
    assert(streamed.select(col("event_id"), col("source")).collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap == bySrc)
  }

  test("retention: a crash between the marker write and the deletes never renumbers survivors") {
    val dir = freshLog(Seq(Seq(0L, 1, 2, 3), Seq(4L, 5, 6, 7), Seq(8L, 9, 10)))
    // simulate the crash window: the marker lands exactly as expireSegments
    // writes it (base 4, last-dead segment-00000.log) but the dead file is
    // never deleted (ADVICE r13: before the marker carried the last-dead
    // name, the leftover file silently shifted every survivor's ordinal)
    Files.write(java.nio.file.Paths.get(dir, "_truncated"),
      "4\tsegment-00000.log".getBytes("UTF-8"))
    assert(GraftLog.baseOrdinal(dir) == 4L)
    // the dead-but-present segment is invisible: reads and totals are
    // IDENTICAL to a completed expiry run
    assert(GraftLog.read(spark, dir).select(col("event_id"))
      .collect().map(_.getLong(0)).sorted.toSeq == (4L to 10L))
    assert(GraftLog.logTotal(dir) == 11L)
    // a committed offset still names the same records: [5, 9) must slice
    // segment 1 tail + segment 2 head, exactly as before the crash
    val got = GraftLog.plan(dir, 5, 9).map(_.asInstanceOf[GraftLogInputPartition])
      .flatMap { p =>
        val r = GraftLogReaderFactory.createReader(p)
        val b = Seq.newBuilder[Long]
        while (r.next()) b += r.get().getLong(0)
        r.close(); b.result()
      }
    assert(got.toSeq == Seq(5L, 6, 7, 8), s"ordinals shifted after crash: $got")
    // the next expiry run sweeps the leftover file even when nothing new expires
    assert(GraftLog.expireSegments(dir, keepRecords = 100).isEmpty)
    assert(!Files.exists(java.nio.file.Paths.get(dir, "segment-00000.log")),
      "crashed-expiry leftover was not swept")
    assert(GraftLog.read(spark, dir).select(col("event_id"))
      .collect().map(_.getLong(0)).sorted.toSeq == (4L to 10L))
  }

  test("offset vector round-trips through Kafka's {topic:{partition:offset}} checkpoint shape") {
    import graft.stream.GraftLogOffset
    // partitioned log: lossless in both directions, no re-keying
    val off = GraftLogOffset(Map("p=0" -> 12L, "p=1" -> 7L))
    val k = GraftLog.toKafkaOffsetJson(off, "events")
    assert(k == """{"events":{"0":12,"1":7}}""", k)
    val (topic, back) = GraftLog.fromKafkaOffsetJson(k)
    assert(topic == "events" && back == off)
    // flat log normalizes to Kafka partition 0
    assert(GraftLog.toKafkaOffsetJson(GraftLogOffset(Map("" -> 9L)), "t")
      == """{"t":{"0":9}}""")
    assert(GraftLog.fromKafkaOffsetJson("""{"t":{"0":9}}""")._2
      == GraftLogOffset(Map("p=0" -> 9L)))
    // empty vector (fresh consumer)
    assert(GraftLog.fromKafkaOffsetJson(
      GraftLog.toKafkaOffsetJson(GraftLogOffset(Map.empty), "t"))._2.parts.isEmpty)
  }

  test("a checkpoint from a different partition layout fails loudly, never re-keys") {
    // consumer commits offsets on a 2-partition log ...
    val dir = Files.createTempDirectory("graftlog_layout").toString
    GraftLog.appendSegment(s"$dir/p=0", 0, Seq(0L, 1).map(line))
    GraftLog.appendSegment(s"$dir/p=1", 0, Seq(100L, 101).map(line))
    val ckpt = Files.createTempDirectory("graftlog_layout_ckpt").toString
    val out = Files.createTempDirectory("graftlog_layout_out").toString
    def runOnce(): Unit = {
      val q = GraftLog.readStream(spark, dir)
        .writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
          batch.write.mode("overwrite").parquet(s"$out/batch=$batchId")
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    runOnce()
    assert(GraftLog.committedOffset(ckpt) == Map("p=0" -> 2L, "p=1" -> 2L))
    // ... then the log is rebuilt with ONE partition (p=1 vanished): the
    // committed p=1 position has no referent — resuming must fail loudly
    // instead of silently dropping it (data loss) or re-keying it
    val walk = Files.walk(java.nio.file.Paths.get(dir, "p=1"))
    try walk.sorted(java.util.Comparator.reverseOrder())
      .forEach(p => Files.deleteIfExists(p))
    finally walk.close()
    val ex = intercept[Exception] { runOnce() }
    val msg = ex.getMessage + String.valueOf(ex.getCause) +
      String.valueOf(Option(ex.getCause).map(_.getCause).orNull)
    assert(msg.contains("different partition layout"), s"wrong failure: $msg")
    // a partition ADDED since the checkpoint is fine: new partitions start
    // at 0 (Kafka's new-partition semantics) — resume reads only the news
    GraftLog.appendSegment(s"$dir/p=2", 0, Seq(200L, 201).map(line))
    GraftLog.appendSegment(s"$dir/p=1", 0, Seq(100L, 101).map(line)) // restore
    runOnce()
    val landed = spark.read.schema(GraftLog.schema).parquet(out)
      .select(col("event_id")).collect().map(_.getLong(0)).toSet
    assert(landed == Set(0L, 1, 100, 101, 200, 201),
      s"added-partition resume re-read history or lost the news: $landed")
  }

  test("retention: time-based expiry drops exactly the all-older-than prefix") {
    // line(id) stamps ts_us = 1.7e15 + id*1e6 — monotone in id here
    val dir = freshLog(Seq(Seq(0L, 1, 2), Seq(3L, 4, 5), Seq(6L, 7)))
    // cutoff at id 4's timestamp: segment 0 is all-older; segment 1 is NOT
    // (record 5 >= would-be cutoff at 5) — only the prefix whose EVERY
    // record is older dies
    val cutoffUs = 1700000000000000L + 5L * 1000000L
    val dead = GraftLog.expireBefore(dir, cutoffUs)
    assert(dead.size == 1, s"expected only segment 0 expired, got $dead")
    assert(GraftLog.baseOrdinal(dir) == 3L)
    assert(GraftLog.read(spark, dir).select(col("event_id"))
      .collect().map(_.getLong(0)).sorted.toSeq == (3L to 7L))
    // idempotent: a second pass with the same cutoff is a no-op
    assert(GraftLog.expireBefore(dir, cutoffUs).isEmpty)
  }

  // ---- consumer groups (r14): assignment, isolation, rebalance handoff ----

  import graft.stream.ConsumerGroup

  /** Partitioned log: partition name → segments of ids. */
  private def freshPartLog(parts: Map[String, Seq[Seq[Long]]]): String = {
    val dir = Files.createTempDirectory("graftlog_cg").toString
    parts.foreach { case (p, segs) =>
      segs.zipWithIndex.foreach { case (seg, i) =>
        GraftLog.appendSegment(s"$dir/$p", i, seg.map(line))
      }
    }
    dir
  }

  private def ids(df: DataFrame): Seq[Long] =
    df.select(col("event_id")).collect().map(_.getLong(0)).sorted.toSeq

  test("consumer-group assignment is deterministic, total, and balanced") {
    val parts = Seq("p=0", "p=1", "p=2", "p=3")
    val a = ConsumerGroup.assign(parts, Seq("bob", "alice")) // member order irrelevant
    assert(a("alice") == Seq("p=0", "p=2") && a("bob") == Seq("p=1", "p=3"))
    assert(a == ConsumerGroup.assign(parts.reverse, Seq("alice", "bob")))
    val b = ConsumerGroup.assign(parts, Seq("m1", "m2", "m3"))
    assert(b.values.flatten.toSeq.sorted == parts, "every partition exactly once")
    assert(b.values.map(_.size).max - b.values.map(_.size).min <= 1, "balanced ±1")
    assert(b("nobody").isEmpty, "unknown member holds nothing")
  }

  test("assignedPartitions: a member's source sees only its partitions") {
    val dir = freshPartLog(Map(
      "p=0" -> Seq(Seq(0L, 1, 2)), "p=1" -> Seq(Seq(10L, 11)), "p=2" -> Seq(Seq(20L))))
    val ckpt = Files.createTempDirectory("graftlog_ckpt").toString
    val got = drainToTable(GraftLog.readStream(spark, dir,
      assignedPartitions = Some(Seq("p=0", "p=2"))), ckpt)
    assert(ids(got) == Seq(0L, 1, 2, 20), "member saw records outside its assignment")
  }

  test("assignedPartitions naming an absent partition fails loudly, not silently empty") {
    val dir = freshPartLog(Map("p=0" -> Seq(Seq(0L, 1))))
    val ckpt = Files.createTempDirectory("graftlog_ckpt").toString
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drainToTable(GraftLog.readStream(spark, dir,
        assignedPartitions = Some(Seq("p=0", "p=9"))), ckpt)
    }
    assert(e.getMessage.contains("p=9"), s"wrong failure: ${e.getMessage}")
  }

  test("startingOffsetVector outside the available range fails loudly") {
    val dir = freshPartLog(Map("p=0" -> Seq(Seq(0L, 1, 2))))
    val ckpt = Files.createTempDirectory("graftlog_ckpt").toString
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drainToTable(GraftLog.readStream(spark, dir,
        assignedPartitions = Some(Seq("p=0")),
        startingOffsetVector = Some(Map("p=0" -> 7L))), ckpt)
    }
    assert(e.getMessage.contains("outside available range"),
      s"wrong failure: ${e.getMessage}")
  }

  test("group ledger: commits merge max per partition and re-commits are idempotent") {
    val g = Files.createTempDirectory("graftlog_cg_ledger").toString
    assert(ConsumerGroup.committedOffsets(g).isEmpty)
    ConsumerGroup.commitOffsets(g, Map("p=0" -> 5L, "p=1" -> 3L))
    ConsumerGroup.commitOffsets(g, Map("p=0" -> 2L, "p=2" -> 9L)) // stale p=0 replay
    assert(ConsumerGroup.committedOffsets(g) == Map("p=0" -> 5L, "p=1" -> 3L, "p=2" -> 9L))
  }

  test("rebalance handoff: survivor resumes from the ledger — union exact, no re-delivery") {
    val dir = freshPartLog(Map(
      "p=0" -> Seq(Seq(0L, 1, 2), Seq(3L, 4)),
      "p=1" -> Seq(Seq(10L, 11, 12)),
      "p=2" -> Seq(Seq(20L, 21)),
      "p=3" -> Seq(Seq(30L))))
    val group = Files.createTempDirectory("graftlog_cg_group").toString
    val asg = ConsumerGroup.assign(Seq("p=0", "p=1", "p=2", "p=3"), Seq("alice", "bob"))
    val aliceG1 = ids(ConsumerGroup.drainMember(spark, dir, group, asg("alice"),
      maxRecordsPerTrigger = Some(2)))
    val bobG1 = ids(ConsumerGroup.drainMember(spark, dir, group, asg("bob"),
      maxRecordsPerTrigger = Some(2)))
    assert(aliceG1 == Seq(0L, 1, 2, 3, 4, 20, 21))
    assert(bobG1 == Seq(10L, 11, 12, 30))
    assert(ConsumerGroup.committedOffsets(group) ==
      Map("p=0" -> 5L, "p=1" -> 3L, "p=2" -> 2L, "p=3" -> 1L),
      "ledger must hold the engine-reported end offsets of generation 1")
    // generation 2 lands on two partitions; bob leaves; alice takes all four
    GraftLog.appendSegment(s"$dir/p=1", 99, Seq(13L, 14).map(line))
    GraftLog.appendSegment(s"$dir/p=3", 99, Seq(31L).map(line))
    val aliceG2 = ids(ConsumerGroup.drainMember(spark, dir, group,
      Seq("p=0", "p=1", "p=2", "p=3"), maxRecordsPerTrigger = Some(2)))
    assert(aliceG2 == Seq(13L, 14, 31),
      "survivor must receive exactly generation 2 — a gen-1 record here is a " +
        "rebalance re-delivery, a missing gen-2 record is a handoff loss")
    assert(ConsumerGroup.committedOffsets(group) ==
      Map("p=0" -> 5L, "p=1" -> 5L, "p=2" -> 2L, "p=3" -> 2L))
  }

  test("generation fencing: a zombie's commit from a dead epoch is rejected; the ledger stands") {
    import graft.stream.FencedGenerationException
    val dir = freshPartLog(Map(
      "p=0" -> Seq(Seq(0L, 1, 2)), "p=1" -> Seq(Seq(10L, 11))))
    val parts = Seq("p=0", "p=1")
    val group = Files.createTempDirectory("graftlog_cg_fence").toString
    assert(ConsumerGroup.currentGeneration(group) == 0L)
    val (g1, asg1) = ConsumerGroup.rebalance(group, parts, Seq("alice"))
    assert(g1 == 1L && asg1("alice") == parts)
    ids(ConsumerGroup.drainMember(spark, dir, group, asg1("alice"),
      generation = Some(g1)))
    val ledgerG1 = ConsumerGroup.committedOffsets(group)
    assert(ledgerG1 == Map("p=0" -> 3L, "p=1" -> 2L))
    // bob joins: epoch bumps, p=1 revoked from alice
    val (g2, asg2) = ConsumerGroup.rebalance(group, parts, Seq("alice", "bob"))
    assert(g2 == 2L && asg2("bob") == Seq("p=1"))
    // alice-the-zombie (never heard the rebalance) tries to advance the
    // revoked partition PAST the log end — with the ledger's monotone
    // max-merge an unfenced zombie would make bob's next resume skip
    // records (silent loss); the epoch makes it a loud rejection
    intercept[FencedGenerationException] {
      ConsumerGroup.commitOffsets(group, Map("p=1" -> 999L), Some(g1))
    }
    assert(ConsumerGroup.committedOffsets(group) == ledgerG1,
      "fenced commit mutated the ledger")
    // an un-epoched commit (legacy caller) and a current-epoch commit work
    ConsumerGroup.commitOffsets(group, Map("p=0" -> 3L))
    GraftLog.appendSegment(s"$dir/p=1", 99, Seq(12L, 13).map(line))
    val bob = ids(ConsumerGroup.drainMember(spark, dir, group, asg2("bob"),
      generation = Some(g2)))
    assert(bob == Seq(12L, 13),
      "bob must resume p=1 exactly at alice's committed position")
    assert(ConsumerGroup.committedOffsets(group)("p=1") == 4L)
  }

  test("coordinator lock serializes commits against rebalances (ADVICE r14: fence is check+merge atomic)") {
    val group = Files.createTempDirectory("graftlog_cg_lock").toString
    val (g1, _) = ConsumerGroup.rebalance(group, Seq("p=0"), Seq("alice"))
    // hold the coordinator lock: a commit must BLOCK (not race past the
    // fence check) until the lock is released — this is the mechanism that
    // closes the check-then-act window a mid-flight rebalance exploited
    val lock = java.nio.file.Paths.get(group, "_lock")
    java.nio.file.Files.createFile(lock)
    val done = new java.util.concurrent.CountDownLatch(1)
    val t = new Thread(() => {
      ConsumerGroup.commitOffsets(group, Map("p=0" -> 1L), Some(g1))
      done.countDown()
    })
    t.start()
    Thread.sleep(200)
    assert(ConsumerGroup.committedOffsets(group).isEmpty,
      "commit proceeded while the coordinator lock was held")
    java.nio.file.Files.delete(lock)
    assert(done.await(30, java.util.concurrent.TimeUnit.SECONDS),
      "commit never completed after the lock was released")
    t.join()
    assert(ConsumerGroup.committedOffsets(group) == Map("p=0" -> 1L))
    // and the fence itself still rejects a dead epoch under the lock
    ConsumerGroup.rebalance(group, Seq("p=0"), Seq("alice", "bob"))
    intercept[graft.stream.FencedGenerationException] {
      ConsumerGroup.commitOffsets(group, Map("p=0" -> 99L), Some(g1))
    }
  }

  test("cooperative rebalance (KIP-429): only moved partitions revoke, the unmoved member never stops, receipts union exact") {
    import graft.stream.FencedGenerationException
    import org.apache.spark.sql.streaming.Trigger
    val dir = freshPartLog(Map(
      "p=0" -> Seq(Seq(0L, 1)), "p=1" -> Seq(Seq(10L, 11)),
      "p=2" -> Seq(Seq(20L, 21)), "p=3" -> Seq(Seq(30L, 31))))
    val parts = Seq("p=0", "p=1", "p=2", "p=3")
    val group = Files.createTempDirectory("graftlog_cg_coop").toString
    // generation 1: sticky-from-empty = balanced contiguous fill
    val (g1, asg1, moved1) =
      ConsumerGroup.rebalanceCooperative(group, parts, Seq("alice", "bob"))
    assert(moved1 == parts.toSet, "first assignment moves everything")
    assert(asg1("alice") == Seq("p=0", "p=1") && asg1("bob") == Seq("p=2", "p=3"))
    // alice runs a LIVE tailing query on her partitions — the cooperative
    // contract is that it survives the upcoming rebalance un-restarted
    val tbl = "graftlog_coop_alice"
    val q = GraftLog.readStream(spark, dir, assignedPartitions = Some(asg1("alice")))
      .writeStream.format("memory").queryName(tbl)
      .trigger(Trigger.ProcessingTime("50 milliseconds")).start()
    def aliceIds() = ids(spark.table(tbl))
    def waitFor(what: String)(cond: => Boolean): Unit = {
      val deadline = System.nanoTime + 60L * 1000 * 1000 * 1000
      while (!cond) {
        require(System.nanoTime < deadline, s"timeout waiting: $what")
        Thread.sleep(50)
      }
    }
    waitFor("alice drains generation 1")(aliceIds() == Seq(0L, 1, 10, 11))
    val bobG1 = ids(ConsumerGroup.drainMember(spark, dir, group, asg1("bob"),
      generation = Some(g1)))
    assert(bobG1 == Seq(20L, 21, 30, 31))
    // carol joins: INCREMENTAL rebalance — alice's assignment must not
    // change; only bob's excess partition moves to carol
    val (g2, asg2, moved) =
      ConsumerGroup.rebalanceCooperative(group, parts, Seq("alice", "bob", "carol"))
    assert(g2 == g1 + 1)
    assert(asg2("alice") == asg1("alice"), "unmoved member's assignment changed")
    assert(moved == Set("p=3"), s"only the excess partition moves: $moved")
    assert(asg2("carol") == Seq("p=3") && asg2("bob") == Seq("p=2"))
    // per-partition fencing (the KIP-429 half the eager epoch cannot do):
    // bob's OLD generation still commits his KEPT partition ...
    ConsumerGroup.commitOffsets(group, Map("p=2" -> 2L), Some(g1))
    // ... and is fenced exactly on the MOVED one
    intercept[FencedGenerationException] {
      ConsumerGroup.commitOffsets(group, Map("p=3" -> 999L), Some(g1)) }
    // generation 2 lands on every partition; alice's never-restarted query
    // tails her share live
    GraftLog.appendSegment(s"$dir/p=0", 99, Seq(2L).map(line))
    GraftLog.appendSegment(s"$dir/p=1", 99, Seq(12L).map(line))
    GraftLog.appendSegment(s"$dir/p=2", 99, Seq(22L).map(line))
    GraftLog.appendSegment(s"$dir/p=3", 99, Seq(32L).map(line))
    assert(q.isActive, "the unmoved member's query stopped across the rebalance")
    waitFor("alice tails generation 2")(aliceIds() == Seq(0L, 1, 2, 10, 11, 12))
    q.stop(); q.awaitTermination()
    // the new member resumes the moved partition from the GROUP's position
    val carol = ids(ConsumerGroup.drainMember(spark, dir, group, asg2("carol"),
      generation = Some(g2)))
    assert(carol == Seq(32L), "carol must resume p=3 at bob's committed position")
    val bobG2 = ids(ConsumerGroup.drainMember(spark, dir, group, asg2("bob"),
      generation = Some(g2)))
    assert(bobG2 == Seq(22L))
    // union-of-receipts multiset is EXACT: nothing lost, nothing doubled
    val union = (aliceIds() ++ bobG1 ++ carol ++ bobG2).sorted
    assert(union == Seq(0L, 1, 2, 10, 11, 12, 20, 21, 22, 30, 31, 32),
      s"receipts union broken: $union")
  }

  test("Kafka drop-in seam (r19): format(\"graftlog\") resolves via DataSourceRegister and accepts the Kafka source's option names end-to-end") {
    val dir = freshPartLog(Map(
      "p=0" -> Seq(Seq(0L, 1, 2)), "p=1" -> Seq(Seq(10L, 11, 12))))
    // the one-jar-swap pin: the SHORT NAME resolves through the standard
    // META-INF/services lookup — the exact mechanism format("kafka") uses —
    // and the option KEYS are the Kafka source's (startingOffsets, assign,
    // maxOffsetsPerTrigger); only the values adapt to graft-log partition
    // naming. A kafka consumer migrates by changing the format string.
    val ckpt = Files.createTempDirectory("graftlog_kafka_seam").toString
    val got = drainToTable(
      spark.readStream.format("graftlog")
        .option("path", dir)
        .option("startingOffsets", """{"p=0":1,"p=1":0}""") // per-partition seek
        .option("assign", "p=0,p=1")
        .option("maxOffsetsPerTrigger", "2") // multi-batch drain
        .load(), ckpt)
    assert(ids(got) == Seq(1L, 2, 10, 11, 12),
      s"kafka-named options misrouted: ${ids(got)}")
    // "latest" resolves to the end vector at FIRST-BATCH PLANNING (r20,
    // Kafka's rule — see the dedicated deferred-resolution test): the
    // first AvailableNow run drains NOTHING — history is skipped — and a
    // checkpoint restart then consumes only what arrived after
    val ckpt2 = Files.createTempDirectory("graftlog_kafka_seam2").toString
    assert(drainToTable(
      spark.readStream.format("graftlog").option("path", dir)
        .option("startingOffsets", "latest").load(), ckpt2).isEmpty,
      "startingOffsets=latest replayed history")
    // a consumer that recorded the end vector resumes past it and sees
    // only post-snapshot arrivals — the manual group-resume shape, again
    // under the Kafka option name
    GraftLog.appendSegment(s"$dir/p=0", 99, Seq(3L).map(line))
    val ckpt3 = Files.createTempDirectory("graftlog_kafka_seam3").toString
    val got2 = drainToTable(
      spark.readStream.format("graftlog").option("path", dir)
        .option("startingOffsets", """{"p=0":3,"p=1":3}""").load(), ckpt3)
    assert(ids(got2) == Seq(3L), s"vector seek past history wrong: ${ids(got2)}")
    // batch read through the short name too
    assert(ids(spark.read.format("graftlog").option("path", dir).load())
      == Seq(0L, 1, 2, 3, 10, 11, 12))
  }

  test("startingOffsets=latest resolves at first-batch planning, not scan construction (Kafka parity, r20)") {
    import graft.stream.{GraftLogOffset, GraftLogTable}
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    val dir = freshPartLog(Map("p=0" -> Seq(Seq(0L, 1, 2))))
    def stream(startingOffsets: String) = {
      val opts = new java.util.HashMap[String, String]()
      opts.put("startingOffsets", startingOffsets)
      new GraftLogTable(dir, wireV2 = false)
        .newScanBuilder(new CaseInsensitiveStringMap(opts)).build()
        .toMicroBatchStream(Files.createTempDirectory("gl_latest").toString)
    }
    // query CREATION under `latest`: the scan builder runs now...
    val lateStream = stream("latest")
    // ...and a producer burst lands BETWEEN creation and the first trigger
    GraftLog.appendSegment(s"$dir/p=0", 99, Seq(3L, 4L).map(line))
    // first-batch planning resolves `latest` to the end NOW — the burst is
    // EXCLUDED (the Kafka consumer's created-then-started behavior; the
    // old eager snapshot at newScanBuilder would have included it)
    val start = lateStream.initialOffset().asInstanceOf[GraftLogOffset].parts
    assert(start == Map("p=0" -> 5L),
      s"latest must resolve at first planning, after the burst: $start")
    // under `earliest` the same burst is included from the log start
    val startE = stream("earliest").initialOffset()
      .asInstanceOf[GraftLogOffset].parts
    assert(startE == Map("p=0" -> 0L),
      s"earliest must start at the log base: $startE")
  }

  test("fencing hardening (ADVICE r18): future generations rejected; a mid-rebalance crash over-fences, never under-fences") {
    import graft.stream.FencedGenerationException
    val group = Files.createTempDirectory("graftlog_cg_harden").toString
    val parts = Seq("p=0", "p=1")
    val (g1, _) = ConsumerGroup.rebalance(group, parts, Seq("alice"))
    ConsumerGroup.commitOffsets(group, Map("p=0" -> 1L), Some(g1))
    val ledger = ConsumerGroup.committedOffsets(group)
    // a generation ABOVE the group's current one is a protocol bug — no
    // rebalance issued it; with only the per-partition lower-bound check a
    // buggy member claiming a future epoch would bypass fencing everywhere
    intercept[FencedGenerationException] {
      ConsumerGroup.commitOffsets(group, Map("p=0" -> 999L), Some(g1 + 5))
    }
    assert(ConsumerGroup.committedOffsets(group) == ledger,
      "future-generation commit mutated the ledger")
    // simulate a coordinator CRASH mid-rebalance: assignment + epochs for
    // generation 2 landed, the generation file did not (the write order the
    // fix pins — generation LAST). Both the old and the would-be-new
    // generation must now be rejected on the moved partition: over-fencing
    // (loud, retryable) instead of the silent skip a stale epoch allows.
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(group, "part_epochs.txt"),
      s"p=0\t${g1 + 1}\np=1\t${g1 + 1}\n")
    intercept[FencedGenerationException] {
      ConsumerGroup.commitOffsets(group, Map("p=0" -> 999L), Some(g1))
    }
    intercept[FencedGenerationException] {
      ConsumerGroup.commitOffsets(group, Map("p=0" -> 999L), Some(g1 + 1))
    }
    assert(ConsumerGroup.committedOffsets(group) == ledger,
      "crash-window commit mutated the ledger")
    // a RETRY of the interrupted rebalance (the documented recovery) heals
    // the group: the generation file catches up and commits flow again
    val (g2, asg2) = ConsumerGroup.rebalance(group, parts, Seq("alice", "bob"))
    assert(g2 == g1 + 1)
    ConsumerGroup.commitOffsets(group, Map("p=0" -> 2L), Some(g2))
    assert(ConsumerGroup.committedOffsets(group)("p=0") == 2L)
    assert(asg2.values.flatten.toSet == parts.toSet)
  }
}
