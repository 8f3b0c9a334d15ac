package perfbench

import graft.{Bench, SparkEntry}
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** The query half of batch_mix: passes over `graft.Bench.baseline12` on
  * seeded sf0.1-shaped fixtures, each key timed as `fn(spark, sf).count()`
  * with no caching, like `graft.Bench`.
  *
  * Before the timed passes each key's result is written out once for the
  * DuckDB oracle compare, which the runner does after the JVM exits. The
  * runner also checks that every pass reproduced that result's row count. */
final class Queries {
  private val keyMs = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  private val buildMs, execMs, passMs = mutable.ArrayBuffer.empty[Double]
  /** Row count of every evaluation, per key, for the runner to check
    * against the oracle-checked result. */
  private val rowCounts = mutable.Map.empty[String, mutable.ArrayBuffer[Long]]
  /** Whether passes are timed; off while the code paths warm up. */
  var recording = false

  /** Register the fixture tables as views, as a SQL client would. */
  def prep(ctx: Ctx): Unit = graft.Tables.registerAll(ctx.spark, ctx.inputs)

  /** Each key's result and oracle SQL, for the runner's DuckDB compare. */
  def writeOracle(ctx: Ctx): Unit = {
    val out = Files.createDirectories(Paths.get(ctx.path("oracle")))
    Bench.baseline12.foreach { k =>
      SparkEntry.queries(k)(ctx.spark, ctx.inputs).coalesce(1).write.mode("overwrite")
        .parquet(out.resolve(k).toString)
    }
    val oracle = Bench.baseline12.map { k =>
      val sql = SparkEntry.oracleSql(k).flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\t' => "\\t"
        case '\r' => "\\r"; case c => c.toString
      }
      s""""$k":"$sql""""
    }.mkString("{", ",", "}")
    Files.writeString(out.resolve("oracle_sql.json"), oracle)
  }

  /** One pass over the 12 keys; returns its time in ms. */
  def pass(ctx: Ctx): Double = {
    val spark = ctx.spark
    var pass = 0.0
    Bench.baseline12.foreach { k =>
      spark.sparkContext.setJobDescription(k)
      val s0 = System.nanoTime()
      val df = ctx.span("query.build") { SparkEntry.queries(k)(spark, ctx.inputs) }
      val s1 = System.nanoTime()
      val n = ctx.span("query.exec") { df.count() }
      val s2 = System.nanoTime()
      spark.sparkContext.setJobDescription(null)
      if (recording) {
        buildMs += (s1 - s0) / 1e6
        execMs += (s2 - s1) / 1e6
        keyMs.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += (s2 - s0) / 1e6
      }
      pass += (s2 - s0) / 1e6
      rowCounts.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += n
    }
    if (recording) passMs += pass
    pass
  }

  /** Every timed key evaluation, in ms. */
  def calls: Seq[Double] = keyMs.values.flatten.toSeq

  /** A pass's time taken key by key: the sum of each key's median. */
  def passP50Ms: Double = keyMs.values.map(ts => Stats.median(ts.toSeq)).sum

  /** Writes the row counts for the runner; returns the per-key medians. */
  def layers(ctx: Ctx): Map[String, Double] = {
    Files.writeString(Paths.get(ctx.path("oracle"), "row_counts.json"), rowCounts.map {
      case (k, ns) => s""""$k":${ns.mkString("[", ",", "]")}""" }.mkString("{", ",", "}"))
    val passes = passMs.size.toDouble
    keyMs.map { case (k, ts) => s"query.${k}_p50_ms" -> Stats.median(ts.toSeq) }.toMap ++ Map(
      "query.passes" -> passes,
      "query.pass_p50_ms" -> Stats.median(passMs.toSeq),
      "query.build_ms_per_pass" -> buildMs.sum / passes,
      "query.exec_ms_per_pass" -> execMs.sum / passes)
  }
}
