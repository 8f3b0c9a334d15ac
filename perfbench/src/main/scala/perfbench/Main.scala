package perfbench

import org.apache.spark.sql.SparkSession
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

object Stats {
  /** Linear-interpolated percentile `q` in [0, 1]; NaN when empty. */
  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val r = q * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(s.size - 1, lo + 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)
}

/** Everything one run shares across its workload code. */
final class Ctx(val workload: String, val seed: Long, val seconds: Int,
    val work: String, val cpus: Int, val tracer: Tracer, val inputs: String) {
  var spark: SparkSession = _
  var probes: Option[Probes] = None
  def path(name: String): String = s"$work/$name"
  def span[T](name: String)(body: => T): T = tracer.span(name)(body)
  /** Loop condition of a closed-loop run: at least `min` operations and
    * at least `seconds` since `startNs`. */
  def more(done: Int, startNs: Long, min: Int): Boolean =
    done < min || System.nanoTime() - startNs < seconds * 1000000000L
}

/** What a workload reports: end-to-end figures, per-layer figures, and
  * the attempted/failed operation counts that give `fail_frac`. */
trait Workload {
  /** Workload-specific set-up, run inside each timed set-up repetition. */
  def prep(ctx: Ctx, rep: Int): Unit
  /** The measured phase. */
  def run(ctx: Ctx): Unit
  def endToEnd: Map[String, Double]
  def layers: Map[String, Double]
  def attempted: Long
  def failed: Long
}

/** Benchmark entry point: one workload, one seed, one JSON result file.
  *
  * `perfbench.Main --workload <w> --seed <n> --seconds <s> --trace <0|1>
  *  --work <dir> --out <file> [--inputs <dir>]`
  */
object Main {
  /** Session confs of `graft.Bench`, on local[cpus] with as many shuffle
    * partitions, plus scratch locations inside the run's work dir. */
  def newSession(ctx: Ctx): SparkSession = SparkSession.builder()
    .master(s"local[${ctx.cpus}]")
    .config("spark.sql.shuffle.partitions", ctx.cpus.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.extensions", "graft.plans.GraftExtensions")
    .config("spark.sql.ansi.enabled", "true")
    .config("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
    .config("spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows", "false")
    .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "16384")
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", ctx.path("spark-local"))
    .config("spark.sql.warehouse.dir", ctx.path("warehouse"))
    .getOrCreate()

  /** Warm-up and box-load sentinel: the data-free batch job that opens
    * the `graft.Bench` warm-up. */
  def warmUp(spark: SparkSession): Unit =
    spark.range(1000000).selectExpr("sum(id % 7)").collect()

  /** Box-load sentinel: the warm-up job, median of 3, in ms. */
  def sentinel(spark: SparkSession): Double = Stats.median((1 to 3).map { _ =>
    val t0 = System.nanoTime()
    warmUp(spark)
    (System.nanoTime() - t0) / 1e6
  })

  def peakRssMb: Double = {
    val l = Files.readAllLines(Paths.get("/proc/self/status")).toArray.map(_.toString)
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    l.split("\\s+")(1).toDouble / 1024.0
  }

  private def jnum(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  private def jobj(m: Map[String, Double]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":${jnum(v)}""" }.mkString("{", ",", "}")

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    // Two task threads leave the other cores to the stream's driver
    // thread, the generator, the subscriber, the JIT and the GC, so a
    // run does not time the scheduler (perfbench/NOTES.md).
    val cpus = math.min(2, Runtime.getRuntime.availableProcessors())
    val ctx = new Ctx(a("workload"), a("seed").toLong, a("seconds").toInt, a("work"), cpus,
      new Tracer(a.getOrElse("trace", "0") == "1"), a.getOrElse("inputs", ""))
    val wl: Workload = ctx.workload match {
      case "serve_live" => new ServeLive
      case "batch_mix" => new BatchMix
      case other => sys.error(s"unknown workload $other")
    }

    // Set-up, three times: session start, warm-up and the workload's own
    // preparation. Repetition 1 is the cold set-up from main(); each later
    // one stops the session and starts a fresh one in the same, warm JVM.
    // `setup_s` is their median, so a warm set-up; the cold one is the
    // per-layer `setup.cold_s`.
    val setupS = (1 to 3).map { rep =>
      if (ctx.spark != null) {
        ctx.spark.stop()
        SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      }
      val t0 = System.nanoTime()
      ctx.spark = newSession(ctx)
      ctx.spark.sparkContext.setLogLevel("WARN")
      val t1 = System.nanoTime()
      warmUp(ctx.spark)
      val t2 = System.nanoTime()
      wl.prep(ctx, rep)
      val t3 = System.nanoTime()
      System.err.println(f"[perfbench] set-up $rep: session ${(t1 - t0) / 1e9}%.2f s, " +
        f"warm-up ${(t2 - t1) / 1e9}%.2f s, prep ${(t3 - t2) / 1e9}%.2f s")
      (t3 - t0) / 1e9
    }
    val spark = ctx.spark
    val sentinelStart = sentinel(spark)
    if (ctx.tracer.on) {
      val p = new Probes(spark)
      p.register()
      p.recording = true
      ctx.probes = Some(p)
    }
    wl.run(ctx)
    ctx.probes.foreach(_.finish())
    val sentinelEnd = sentinel(spark)

    // Spark's ContextCleaner drops broadcasts and other run state only
    // after a GC has found them unreachable, on its own thread: give it
    // time between collections and keep the lowest reading.
    val retainedMb = (1 to 5).map { _ =>
      System.gc()
      Thread.sleep(300)
      java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
    val common = Map("setup_s" -> Stats.median(setupS), "retained_heap_mb" -> retainedMb)
    val layers = scala.collection.mutable.Map[String, Double]() ++= wl.layers ++= Map(
      "box.sentinel_ms_start" -> sentinelStart, "box.sentinel_ms_end" -> sentinelEnd,
      "jvm.peak_rss_mb" -> peakRssMb, "setup.cold_s" -> setupS.head)
    ctx.probes.foreach { p =>
      layers ++= Map(
        "spark.jobs" -> p.jobs.toDouble, "spark.stages" -> p.stages.toDouble,
        "spark.tasks" -> p.tasks.toDouble,
        "spark.shuffle_write_bytes" -> p.shuffleWriteBytes.toDouble,
        "spark.spill_bytes" -> p.spillBytes.toDouble,
        "spark.executor_run_ms" -> p.executorRunMs.toDouble,
        "spark.job_gap_ms" -> p.jobGapMs, "spark.planning_ms" -> p.planningMs.sum)
    }
    ctx.tracer.selfMs.foreach { case (n, ms) => layers(s"self.${n}_ms") = ms }
    if (ctx.tracer.on) Files.writeString(Paths.get(ctx.path("spans.json")), ctx.tracer.json)

    val load = new String(Files.readAllBytes(Paths.get("/proc/loadavg")), StandardCharsets.UTF_8).trim
    val confs = spark.conf.getAll.filter(_._1.startsWith("spark.sql")).toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":"${v.replace("\"", "'")}"""" }.mkString("{", ",", "}")
    val json =
      s"""{"workload":"${ctx.workload}","attempted":${wl.attempted},"failed":${wl.failed},""" +
        s""""end_to_end":${jobj(wl.endToEnd ++ common)},"per_layer":${jobj(layers.toMap)},""" +
        s""""setup_reps_s":${setupS.map(jnum).mkString("[", ",", "]")},""" +
        s""""box":{"nproc":${Runtime.getRuntime.availableProcessors()},"cpus":$cpus,""" +
        s""""loadavg":"$load","sentinel_ms":[${jnum(sentinelStart)},${jnum(sentinelEnd)}],""" +
        s""""confs":$confs}}"""
    Files.writeString(Paths.get(a("out")), json + "\n")
    spark.stop()
  }
}
