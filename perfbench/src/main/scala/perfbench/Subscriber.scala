package perfbench

import java.io.{BufferedReader, InputStreamReader}
import java.net.{InetAddress, InetSocketAddress, ServerSocket, Socket}
import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable

/** The benchmark's subscriber endpoint for the serve chain's egress.
  *
  * Each accepted connection is drained by its own thread, which stamps
  * every line with its receipt time. At EOF the connection's lines are
  * merged into the shared record: the first-receipt time per `event_id`,
  * the set of distinct lines, and a count of exact-duplicate lines. It
  * also keeps the number of accepted connections and each connection's
  * open-to-EOF time.
  */
final class Subscriber(expected: Expected) {
  private val server = {
    val s = new ServerSocket()
    s.bind(new InetSocketAddress(InetAddress.getLoopbackAddress, 0), 256)
    s
  }
  val port: Int = server.getLocalPort

  private val lock = new Object
  private val firstRecv = Array.fill(expected.n)(Long.MaxValue)
  private val lines = mutable.HashSet.empty[String]
  private val byEvent = mutable.LongMap.empty[String]
  private val connNs = mutable.ArrayBuffer.empty[Long]
  private var dupLines = 0L
  private var divergent = 0L
  private var unexpected = 0L
  @volatile private var lastRecvNs = 0L
  private val open = new AtomicInteger(0)
  private val accepted = new AtomicInteger(0)
  @volatile private var closed = false

  private val acceptor = new Thread(() => {
    try {
      while (!closed) {
        val s = server.accept()
        accepted.incrementAndGet()
        open.incrementAndGet()
        val t = new Thread(() => drain(s, System.nanoTime()))
        t.setDaemon(true)
        t.start()
      }
    } catch { case _: Exception => () } // server closed
  }, "perfbench-subscriber")
  acceptor.setDaemon(true)
  acceptor.start()

  private def drain(s: Socket, openNs: Long): Unit = {
    val got = mutable.ArrayBuffer.empty[String]
    val at = mutable.ArrayBuilder.make[Long]
    try {
      val in = new BufferedReader(new InputStreamReader(s.getInputStream, StandardCharsets.UTF_8))
      var line = in.readLine()
      while (line != null) {
        got += line
        at += System.nanoTime()
        line = in.readLine()
      }
    } catch { case _: Exception => () }
    finally {
      val eof = System.nanoTime()
      try s.close() catch { case _: Exception => () }
      merge(got, at.result(), eof - openNs)
      open.decrementAndGet()
    }
  }

  private def merge(got: mutable.ArrayBuffer[String], at: Array[Long], connDur: Long): Unit =
    lock.synchronized {
      connNs += connDur
      var i = 0
      while (i < got.size) {
        val l = got(i)
        if (!lines.add(l)) dupLines += 1
        else {
          val e = Subscriber.field(l, "\"event_id\":")
          if (e < 0 || e >= expected.n) unexpected += 1
          else {
            if (at(i) < firstRecv(e.toInt)) firstRecv(e.toInt) = at(i)
            byEvent.get(e) match {
              case Some(_) => divergent += 1 // same event, different line
              case None => byEvent(e) = l
            }
          }
        }
        if (at(i) > lastRecvNs) lastRecvNs = at(i)
        i += 1
      }
    }

  /** Block until no connection is open and none has opened for `quietMs`. */
  def quiesce(quietMs: Long = 200L, timeoutMs: Long = 30000L): Unit = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    var quietSince = -1L
    var seen = accepted.get()
    while (System.nanoTime() < deadline) {
      val now = System.nanoTime()
      if (open.get() == 0 && accepted.get() == seen) {
        if (quietSince < 0) quietSince = now
        else if (now - quietSince >= quietMs * 1000000L) return
      } else { quietSince = -1L; seen = accepted.get() }
      Thread.sleep(5)
    }
  }

  /** Number of distinct served events received so far (merged at EOF). */
  def receivedEvents: Int = lock.synchronized(byEvent.size)

  def firstReceipt(e: Int): Long = lock.synchronized(firstRecv(e))
  def lastReceiptNs: Long = lastRecvNs
  def connections: Int = accepted.get()
  def connDurationsMs: Seq[Double] = lock.synchronized(connNs.map(_ / 1e6).toSeq)
  def distinctLines: Int = lock.synchronized(lines.size)
  def duplicateLines: Long = lock.synchronized(dupLines)

  /** Check every delivered line of events `[0, upTo)` against the
    * generator's expectation. Returns (attempted, failed): each served
    * event is one attempt; it fails if it is missing, carries the wrong
    * user or seq, or arrived in more than one distinct line. Lines for
    * unserved or unknown events count as extra failures. */
  def verify(upTo: Int): (Long, Long) = lock.synchronized {
    var attempted = 0L
    var failed = unexpected + divergent
    var e = 0
    while (e < upTo) {
      if (expected.seq(e) > 0) {
        attempted += 1
        byEvent.get(e.toLong) match {
          case None => failed += 1
          case Some(l) =>
            if (Subscriber.field(l, "\"user_id\":") != expected.user(e) ||
                Subscriber.field(l, "\"seq\":") != expected.seq(e)) failed += 1
        }
      } else if (byEvent.contains(e.toLong)) failed += 1
      e += 1
    }
    (attempted, failed)
  }

  def close(): Unit = {
    closed = true
    try server.close() catch { case _: Exception => () }
    acceptor.join(5000)
  }
}

object Subscriber {
  /** The non-negative integer after `key` in a flat JSON line, or -1. */
  def field(line: String, key: String): Long = {
    val at = line.indexOf(key)
    if (at < 0) return -1L
    var i = at + key.length
    var v = 0L
    var digits = 0
    while (i < line.length && Character.isDigit(line.charAt(i))) {
      v = v * 10 + (line.charAt(i) - '0'); i += 1; digits += 1
    }
    if (digits == 0) -1L else v
  }
}
