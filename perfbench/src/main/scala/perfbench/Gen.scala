package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

/** Seeded event generator shared by the two serving workloads.
  *
  * Event `i` is a pure function of `(seed, i)`: `event_id = i`, a Zipf-
  * skewed (s = 1) `user_id` over `users` ids (id 0 is the hottest), one of
  * the five fixture event types with equal weight, a 2-decimal value and a
  * `{"k": n}` payload. Two of the five types (`click`, `purchase`) are
  * served by the chain, so 40% of events reach the subscriber.
  */
final case class Gen(seed: Long, users: Int) {
  import Gen._

  private def mix(i: Long, salt: Long): Long = splitmix(seed * 0x9E3779B97F4A7C15L + i * 4 + salt)

  private def unit(h: Long): Double = (h >>> 11).toDouble / (1L << 53).toDouble

  /** Zipf rank over [0, users), by inverting the continuous 1/x law on
    * [1, users + 1]. */
  def user(i: Long): Long = {
    val x = math.pow(users + 1.0, unit(mix(i, 0)))
    math.min(users - 1L, math.max(0L, x.toLong - 1L))
  }

  def eventType(i: Long): String = Types(((mix(i, 1) >>> 1) % 5).toInt)

  def served(i: Long): Boolean = { val t = eventType(i); t == "click" || t == "purchase" }

  /** Event `i` as `(event_id, ts_us, user_id, event_type, value, props)`. */
  def record(i: Long): (Long, Long, Long, String, Double, String) = {
    val v = ((mix(i, 2) >>> 1) % 32748 + 3) / 100.0
    val k = (mix(i, 3) >>> 1) % 100
    (i, BaseTsUs + i * 1000L, user(i), eventType(i), v, s"{\"k\": $k}")
  }

  /** Event `i` as a graft-log TSV record. */
  def line(i: Long): String = {
    val (id, ts, u, t, v, p) = record(i)
    s"$id\t$ts\t$u\t$t\t${java.lang.Double.toString(v)}\t$p"
  }
}

object Gen {
  val Types: Array[String] = Array("click", "view", "signup", "purchase", "error")
  val BaseTsUs: Long = 1704067200000000L // 2024-01-01T00:00:00Z

  def splitmix(x0: Long): Long = {
    var z = x0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Write `lines` as one sealed segment of the flat log at `dir`: the file
    * is written under a name outside the `segment-` prefix, so a listing
    * never sees it half written, then renamed into place atomically.
    * Names follow `GraftLog.stage`'s numbering, so they sort after the
    * staged segments and in publish order. */
  def publish(dir: Path, index: Int, lines: Iterator[String]): Unit = {
    val tmp = dir.resolve(f".pending-$index%05d.log")
    val w = Files.newBufferedWriter(tmp, StandardCharsets.UTF_8)
    try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
    Files.move(tmp, dir.resolve(f"segment-$index%05d.log"), StandardCopyOption.ATOMIC_MOVE)
  }
}

/** What the chain must deliver for events `[0, n)` of a generator: for each
  * served event its user and its per-user running count in event_id order,
  * which is the `seq` that `E2e` assigns. */
final class Expected(gen: Gen, val n: Int) {
  val user: Array[Long] = new Array[Long](n)
  val seq: Array[Int] = new Array[Int](n) // 0 = not served
  val served: Int = {
    val counts = new java.util.HashMap[Long, Integer]()
    var total = 0
    var i = 0
    while (i < n) {
      if (gen.served(i)) {
        val u = gen.user(i)
        val c = counts.getOrDefault(u, 0) + 1
        counts.put(u, c)
        user(i) = u; seq(i) = c; total += 1
      }
      i += 1
    }
    total
  }
}
