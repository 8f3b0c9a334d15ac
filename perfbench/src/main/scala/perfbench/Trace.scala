package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** In-memory spans around the benchmark's calls into the program's layers.
  * A disabled tracer runs the body and records nothing. Spans nest per
  * thread; a span's self time is its duration minus the time its children
  * cover. */
final class Tracer(val on: Boolean) {
  import Tracer.Span

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }
  private var nextId = 0

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = synchronized { nextId += 1; nextId }
      val parent = stack.get.headOption.getOrElse(0)
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get.tail)
        synchronized { spans += Span(id, parent, name, t0, t1) }
      }
    }

  /** Per span name: total self time in ms. */
  def selfMs: Map[String, Double] = synchronized {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => s.endNs - s.startNs -
        kids.getOrElse(s.id, Nil).map(c => c.endNs - c.startNs).sum).sum / 1e6
    }
  }

  def json: String = synchronized {
    spans.sortBy(_.startNs).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }.mkString("[\n", ",\n", "\n]\n")
  }
}

object Tracer {
  final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long)
}

/** Spark's own job, planning and streaming-progress reports, collected by
  * listeners while `recording` is set. */
final class Probes(spark: SparkSession) {
  @volatile var recording = false

  var jobs, stages, tasks = 0L
  var shuffleWriteBytes, spillBytes, executorRunMs = 0L
  var jobGapMs = 0.0
  private var lastJobEndMs = -1L
  private var running = 0
  val planningMs = mutable.ArrayBuffer.empty[Double]

  /** Per micro-batch: durationMs phases plus state-operator figures. */
  val batches = mutable.ArrayBuffer.empty[Map[String, Double]]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Probes.this.synchronized {
      if (recording) {
        jobs += 1
        if (running == 0 && lastJobEndMs >= 0) jobGapMs += math.max(0L, e.time - lastJobEndMs)
      }
      running += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Probes.this.synchronized {
      running = math.max(0, running - 1)
      if (running == 0) lastJobEndMs = e.time
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Probes.this.synchronized { if (recording) stages += 1 }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Probes.this.synchronized {
      if (recording && e.taskMetrics != null) {
        val m = e.taskMetrics
        tasks += 1
        executorRunMs += m.executorRunTime
        shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (recording) {
        val ms = qe.tracker.phases.values.map(_.durationMs).sum.toDouble
        Probes.this.synchronized { planningMs += ms }
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (recording) {
        val p = e.progress
        val m = mutable.Map.empty[String, Double]
        p.durationMs.forEach((k, v) => m(k) = v.toDouble)
        m("rows") = p.numInputRows.toDouble
        p.stateOperators.headOption.foreach { s =>
          m("state_commit") = s.commitTimeMs.toDouble
          m("state_update") = s.allUpdatesTimeMs.toDouble
          m("state_rows_updated") = s.numRowsUpdated.toDouble
        }
        Probes.this.synchronized { batches += m.toMap }
      }
  }

  def register(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Start the measured phase: wait for queued events, then drop what
    * was recorded so far. */
  def reset(): Unit = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    synchronized {
      jobs = 0; stages = 0; tasks = 0
      shuffleWriteBytes = 0; spillBytes = 0; executorRunMs = 0; jobGapMs = 0.0
      planningMs.clear(); batches.clear()
    }
  }

  /** Wait for queued listener events, then stop recording. */
  def finish(): Unit = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    recording = false
  }

  /** Median of one streaming phase over batches that ran data. */
  def batchP(key: String, q: Double): Double =
    Stats.pct(batches.filter(_.getOrElse("rows", 0.0) > 0).flatMap(_.get(key)).toSeq, q)

  def dataBatches: Int = batches.count(_.getOrElse("rows", 0.0) > 0)
}
