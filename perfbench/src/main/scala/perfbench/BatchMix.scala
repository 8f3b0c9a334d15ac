package perfbench

/** batch_mix: a closed loop with one client on the batch side of the
  * program. Each round is one `ops.Acid` DML round (`Lakehouse`) followed
  * by one pass over `graft.Bench.baseline12` (`Queries`), so writes run
  * beside the comparison slot's reads.
  *
  * The oracle pass and `WarmRounds` rounds run before timing starts: the
  * first rounds in a JVM run the code paths cold and are up to twice as
  * slow as later ones.
  *
  * `latency_p50_ms` is the time of one round taken call by call: the sum,
  * over the round's Acid calls and the pass's keys, of each one's median
  * over the measured rounds. On a shared host a slow spell of a few
  * seconds lands in one round; a per-call median drops it where a median
  * over three or four whole rounds would not. `latency_p90_ms` is the p90
  * over every timed call. */
final class BatchMix extends Workload {
  val WarmRounds = 1

  private val lake = new Lakehouse
  private val queries = new Queries
  private var e2e = Map.empty[String, Double]
  private var lay = Map.empty[String, Double]
  /** Rounds started, rounds measured, and rounds that threw (the run ends
    * at the first). */
  private var started, measured = 0
  private var fail = 0L

  def prep(ctx: Ctx, rep: Int): Unit = {
    lake.prep(ctx, rep)
    queries.prep(ctx)
  }

  def run(ctx: Ctx): Unit = {
    queries.writeOracle(ctx)
    var t0 = System.nanoTime()
    var broken = false
    while (!broken && (started < WarmRounds || ctx.more(measured, t0, min = 3))) {
      started += 1
      if (started == WarmRounds + 1) {
        lake.recording = true
        queries.recording = true
        ctx.probes.foreach(_.reset())
        t0 = System.nanoTime()
      }
      try {
        val lakeMs = lake.round(ctx, started)
        val passMs = queries.pass(ctx)
        System.err.println(f"[perfbench] batch_mix round $started: lake $lakeMs%.0f ms, pass $passMs%.0f ms")
        if (started > WarmRounds) measured += 1
      } catch { case e: Exception =>
        // the lakehouse model may no longer match the table; end the run here
        System.err.println(s"[perfbench] batch_mix round $started threw: $e")
        fail += 1; broken = true
      }
    }
    e2e = Map("latency_p50_ms" -> (lake.roundP50Ms + queries.passP50Ms),
      "latency_p90_ms" -> Stats.pct(lake.calls ++ queries.calls, 0.9))
    lay = lake.layers ++ queries.layers(ctx)
  }

  def endToEnd: Map[String, Double] = e2e
  def layers: Map[String, Double] = lay
  def attempted: Long = lake.att + started
  def failed: Long = lake.fail + fail
}
