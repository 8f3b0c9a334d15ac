package graft

import scala.concurrent.{Await, Future}
import scala.concurrent.duration._
import scala.concurrent.ExecutionContext.Implicits.global

/** Concurrent serving (r10 verdict item 1, batch half): the reference is a
  * multi-client server — many clients issuing queries against ONE engine
  * instance. SparkSession is the engine instance; FAIR scheduler pools are
  * the per-client isolation knob (a long scan in one pool can't starve a
  * cheap lookup in another). This spec pins that N batch queries answered
  * simultaneously from separate threads, each in its own FAIR pool, return
  * exactly their serial answers — shared session state (catalog, conf,
  * codegen cache, temp views) must not bleed across in-flight queries.
  * The streaming half (N simultaneous StreamingQueries off one feed) is
  * the `stream_fanout` key + its StreamingSpec pin.
  */
class ConcurrencySpec extends SparkFixture {

  private def canon(k: String): Seq[String] =
    SparkEntry.queries(k)(spark, sf001).collect().map(_.toString).sorted.toSeq

  test("four batch keys answered concurrently from threads (FAIR pools) equal their serial answers") {
    assert(spark.sparkContext.getConf.get("spark.scheduler.mode", "FIFO") == "FAIR",
      "test session must run the FAIR scheduler (SparkFixture config)")
    // four keys spanning agg / join / window / dedup, all pure reads (no
    // shared /tmp staging, so concurrent runs touch disjoint state)
    val keys = Seq("agg_hash_q1", "join_inner_equi", "window_rank", "llm_dedup_exact")
    val serial = keys.map(k => k -> canon(k)).toMap
    val futs = keys.map { k =>
      Future {
        // local properties are thread-confined: each "client" gets its own pool
        spark.sparkContext.setLocalProperty("spark.scheduler.pool", s"client_$k")
        try k -> canon(k)
        finally spark.sparkContext.setLocalProperty("spark.scheduler.pool", null)
      }
    }
    val concurrent = Await.result(Future.sequence(futs), 5.minutes).toMap
    keys.foreach { k =>
      assert(concurrent(k) == serial(k), s"$k diverged under concurrent serving")
    }
  }

  test("Acid commit storm: 9 mixed CAS/lock/delete/compact/optimize writers, no txn lost, readers isolated") {
    import graft.ops.Acid
    import org.apache.spark.sql.functions.col
    import scala.jdk.CollectionConverters._
    val spark0 = spark
    import spark0.implicits._
    val table = java.nio.file.Files.createTempDirectory("acid_storm").toString + "/t"
    def rows(lo: Long, n: Long) = spark.range(lo, lo + n).select(col("id").as("k"))
    // seed: keys 0..99 via txn 1
    Acid.appendTxn(spark, table, rows(0, 100), txnId = 1L)
    val delA = (0L until 20L)  // deleted mid-storm
    val delB = (20L until 30L) // deleted mid-storm, possibly post-compaction
    // appenders use key ranges disjoint from every delete set, so the final
    // row population is order-independent no matter how deletes interleave
    // with compaction (compaction folds delete vectors into data)
    val appendRanges = (0 until 6).map(i => (1000L * (i + 1), 50L))
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val readerStop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val readsOk = new java.util.concurrent.atomic.AtomicInteger(0)
    val readers = (1 to 2).map { _ =>
      new Thread(() => {
        try {
          while (!readerStop.get()) {
            // snapshot isolation: a resolved version re-reads identically
            // even while writers commit and compact around it
            val v = Acid.currentVersion(table).get
            val c1 = Acid.readVersion(spark, table, v).count()
            val c2 = Acid.readVersion(spark, table, v).count()
            assert(c1 == c2, s"snapshot v$v unstable: $c1 vs $c2")
            readsOk.incrementAndGet()
          }
        } catch { case t: Throwable => failures.add(t) }
      })
    }
    val writers =
      // 3 CAS appenders × 2 txns each
      (0 until 3).map { i =>
        new Thread(() => {
          try (0 until 2).foreach { j =>
            val (lo, n) = appendRanges(i * 2 + j)
            Acid.appendTxnCAS(spark, table, rows(lo, n), txnId = 100L + i * 10 + j)
          } catch { case t: Throwable => failures.add(t) }
        })
      } ++
      // 2 lock-path appenders: a replay of the committed seed txn first
      // (idempotent no-op under contention — txn ids are writer-unique, so
      // only an already-committed id may be replayed), then a fresh txn
      (0 until 2).map { i =>
        new Thread(() => {
          try {
            Acid.appendTxn(spark, table, rows(0, 100), txnId = 1L) // replay → no-op
            Acid.appendTxn(spark, table, rows(5000L + 100L * i, 25L), txnId = 200L + i)
          } catch { case t: Throwable => failures.add(t) }
        })
      } ++
      // deleter + compactor + (no-op-retention) vacuum
      Seq(
        new Thread(() => {
          try {
            Acid.deleteTxn(spark, table, delA.toDF("k"), "k", txnId = 300L)
            Acid.deleteTxn(spark, table, delB.toDF("k"), "k", txnId = 301L)
          } catch { case t: Throwable => failures.add(t) }
        }),
        new Thread(() => {
          try {
            Acid.compactDeletes(spark, table, txnId = 400L)
            Acid.compactDeletes(spark, table, txnId = 401L)
          } catch { case t: Throwable => failures.add(t) }
        }),
        new Thread(() => {
          // OPTIMIZE shares compactDeletes' stale-snapshot rewrite loop —
          // racing it against the CAS appenders exercises the retry path
          // with a layout shuffle in flight
          try Acid.optimize(spark, table, txnId = 500L, targetFiles = 2,
            clusterCol = Some("k"))
          catch { case t: Throwable => failures.add(t) }
        }),
        new Thread(() => {
          // keep > total commits → retention never triggers mid-storm; this
          // exercises vacuum's lock + live-set walk + grace window racing
          // CAS writers whose data lands before their manifest commit
          try Acid.vacuum(table, keep = 50, graceMs = 600000L)
          catch { case t: Throwable => failures.add(t) }
        }))
    readers.foreach(_.start())
    writers.foreach(_.start())
    writers.foreach(_.join(120000))
    readerStop.set(true)
    readers.foreach(_.join(30000))
    assert(failures.isEmpty, s"storm failures: ${failures.asScala.map(_.toString).toSeq}")
    assert(readsOk.get() > 0, "isolation readers never completed a read")
    // ledger: every txn id committed exactly once, replays included
    val txns = Acid.committedTxns(table)
    val expectedTxns = Set(1L, 100L, 101L, 110L, 111L, 120L, 121L,
      200L, 201L, 300L, 301L, 400L, 401L, 500L)
    assert(txns == expectedTxns, s"txn ledger diverged: $txns")
    // final rows: seed minus both delete sets, plus every appended range —
    // regardless of interleaving (append keys never overlap delete keys)
    val expectKeys = (30L until 100L) ++
      appendRanges.flatMap { case (lo, n) => lo until lo + n } ++
      (0 until 2).flatMap(i => 5000L + 100L * i until 5000L + 100L * i + 25L)
    val got = Acid.read(spark, table).select(col("k")).collect().map(_.getLong(0)).sorted
    assert(got.toSeq == expectKeys.sorted,
      s"final table diverged: ${got.length} rows vs ${expectKeys.size}")
    // post-storm retention pass: horizon advances, current stays readable
    Acid.vacuum(table, keep = 2)
    assert(Acid.read(spark, table).count() == expectKeys.size.toLong)
  }

  test("Acid: a wedged claim (crashed claimant, no manifest) is reclaimed after the staleness horizon") {
    import graft.ops.Acid
    import org.apache.spark.sql.functions.col
    val table = java.nio.file.Files.createTempDirectory("acid_wedge").toString + "/t"
    def rows(lo: Long, n: Long) = spark.range(lo, lo + n).select(col("id").as("k"))
    Acid.appendTxn(spark, table, rows(0, 10), txnId = 1L) // commits v0
    // simulate a claimant that died after the O_EXCL create but before the
    // pointer flip: claim-1 exists, manifest-1 never appears
    java.nio.file.Files.createFile(java.nio.file.Paths.get(table, "claim-1"))
    val prevStale = Acid.ClaimStaleMs
    Acid.ClaimStaleMs = 200L
    try {
      Thread.sleep(300)
      // pre-ADVICE-fix this spun 12000×5ms then threw; now the stale claim
      // is reclaimed and the append lands as v1
      val v = Acid.appendTxnCAS(spark, table, rows(100, 5), txnId = 2L)
      assert(v == 1L, s"expected reclaimed v1, got v$v")
      assert(Acid.committedTxns(table) == Set(1L, 2L))
      assert(Acid.read(spark, table).count() == 15L)
    } finally Acid.ClaimStaleMs = prevStale
    // vacuum GCs the renamed-aside stale-claim tombstone
    Acid.appendTxn(spark, table, rows(200, 5), txnId = 3L)
    Acid.vacuum(table, keep = 1)
    val staleLeft = Option(new java.io.File(table).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.contains(".stale."))
    assert(staleLeft.isEmpty, s"stale-claim tombstones survived vacuum: ${staleLeft.mkString(",")}")
  }

  test("optimistic appends: 8 writers' data writes overlap — only the manifest step serializes") {
    import graft.ops.Acid
    import org.apache.spark.sql.functions.col
    val table = java.nio.file.Files.createTempDirectory("acid_parallel").toString + "/t"
    // Non-serialization evidence (r13 verdict item 4), made DETERMINISTIC:
    // each writer's single data-write task awaits a shared barrier before
    // emitting rows, so a writer's write job can only complete if `parties`
    // data phases were in flight at the same instant. Under Delta-style
    // optimistic concurrency (data lands outside the critical section) the
    // barrier releases immediately; under a protocol that serializes whole
    // transactions at most one data task can run at a time and the barrier
    // times out loudly. (The first version of this test inferred overlap
    // from file mtimes, which is a race on a fast box — 300-row writes land
    // in <5 ms, so disjoint data phases can occur by scheduling chance even
    // when nothing serializes them.) Parties = 4, the fixture's local[4]
    // task-slot bound: the 8 single-task write jobs release the cyclic
    // barrier in two generations of 4, and 4-way simultaneity already
    // contradicts serialized transactions (which admit exactly 1).
    DataPhaseBarrier.reset(parties = 4)
    def rows(lo: Long, n: Long) = {
      import spark.implicits._
      spark.range(lo, lo + n).coalesce(1)
        .mapPartitions { it => DataPhaseBarrier.await(); it }
        .select(col("value").as("k"))
    }
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until 8).map { i =>
      new Thread(() => {
        try Acid.appendTxnCAS(spark, table, rows(i * 1000L, 300L), txnId = i.toLong)
        catch { case t: Throwable => failures.add(t) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join(180000))
    import scala.jdk.CollectionConverters._
    assert(failures.isEmpty,
      s"storm failures (a barrier timeout here means the data phases could " +
        s"NOT run concurrently — appends are serializing whole transactions): " +
        s"${failures.asScala.map(_.toString).toSeq}")
    assert(Acid.committedTxns(table) == (0L until 8L).toSet)
    assert(Acid.currentVersion(table).contains(7L))
    assert(Acid.read(spark, table).count() == 8L * 300L)
    // mtime interleave as diagnostic appendix (informative, not asserted —
    // see the race note above): how many pairs had both data sets landed
    // before either committed
    val root = java.nio.file.Paths.get(table)
    def dataLanded(i: Int): Long = {
      val walk = java.nio.file.Files.walk(root.resolve(s"txn=$i"))
      try walk.iterator().asScala
        .filter(p => java.nio.file.Files.isRegularFile(p))
        .map(p => java.nio.file.Files.getLastModifiedTime(p).toMillis).max
      finally walk.close()
    }
    def commitTime(i: Int): Long = (0L to 7L).collectFirst {
      case v if java.nio.file.Files.readAllLines(root.resolve(s"manifest-$v.txt"))
        .asScala.contains(s"# txn:$i") =>
        java.nio.file.Files.getLastModifiedTime(root.resolve(s"manifest-$v.txt")).toMillis
    }.get
    val landed = (0 until 8).map(dataLanded)
    val committed = (0 until 8).map(commitTime)
    val mutualPairs = for {
      i <- 0 until 8; j <- (i + 1) until 8
      if landed(i) <= committed(j) && landed(j) <= committed(i)
    } yield (i, j)
    info(s"mtime overlap appendix: ${mutualPairs.size}/28 writer pairs had " +
      s"both data sets landed before either committed")
  }

  test("Acid: an orphan manifest (crashed writer, pointer never flipped) fails the next writer loudly") {
    import graft.ops.Acid
    import org.apache.spark.sql.functions.col
    val table = java.nio.file.Files.createTempDirectory("acid_orphan").toString + "/t"
    def rows(lo: Long, n: Long) = spark.range(lo, lo + n).select(col("id").as("k"))
    Acid.appendTxn(spark, table, rows(0, 10), txnId = 1L) // commits v0
    // a writer crashed AFTER writing manifest-1 but BEFORE the pointer
    // flip, and its claim was cleared by hand (the documented recovery) —
    // the orphan manifest remains. CREATE_NEW (ADVICE r13) makes the next
    // writer detect it loudly instead of silently clobbering it.
    java.nio.file.Files.write(java.nio.file.Paths.get(table, "manifest-1.txt"),
      "# base:.\n# txn:99\nghost.parquet\n".getBytes("UTF-8"))
    val e = intercept[IllegalStateException] {
      Acid.appendTxnCAS(spark, table, rows(100, 5), txnId = 2L)
    }
    assert(e.getMessage.contains("orphan manifest"), s"wrong failure: ${e.getMessage}")
    // operator recovery: remove the orphan, the append lands normally
    java.nio.file.Files.delete(java.nio.file.Paths.get(table, "manifest-1.txt"))
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(table, "claim-1"))
    assert(Acid.appendTxnCAS(spark, table, rows(100, 5), txnId = 2L) == 1L)
    assert(Acid.read(spark, table).count() == 15L)
  }

  test("sink_serve: a stalled subscriber does not block the other subscribers") {
    import graft.stream.{Serve, Sources}
    import org.apache.spark.sql.functions.col
    // subscriber A reads 60 ms/line (~13 s for its 210 clicks — a stalled
    // consumer); B and C are fast.
    // Each subscriber has its own StreamingQuery, so B/C must achieve FULL
    // receipt while A is still mid-drain — per-subscriber isolation is by
    // construction (independent queries + TCP back-pressure confined to
    // A's own writer tasks), and this pins it.
    val slow = new Serve.SubscriberClient(perLineDelayMs = 60L)
    val fastB = new Serve.SubscriberClient()
    val fastC = new Serve.SubscriberClient()
    def feed(t: String, port: Int) = Serve.push(
      Sources.replayEvents(spark, sf001, "events.parquet")
        .filter(col("event_type") === t), "127.0.0.1", port)
    val expected = Seq("click", "purchase", "view").map { t =>
      t -> Tables.events(spark, sf001).filter(col("event_type") === t).count()
    }.toMap
    val qa = feed("click", slow.port)
    val qb = feed("purchase", fastB.port)
    val qc = feed("view", fastC.port)
    try {
      qb.awaitTermination(); qc.awaitTermination()
      // B and C fully received while A is still reading
      val deadline = System.nanoTime() + 60L * 1000000000L
      while ((fastB.count < expected("purchase") || fastC.count < expected("view")) &&
        System.nanoTime() < deadline) Thread.sleep(50)
      assert(fastB.count.toLong == expected("purchase"), "fast subscriber B incomplete")
      assert(fastC.count.toLong == expected("view"), "fast subscriber C incomplete")
      assert(slow.count.toLong < expected("click"),
        "slow subscriber finished too fast for the isolation claim to bite")
      // and the stalled subscriber still completes eventually, losing nothing
      qa.awaitTermination()
      val deadline2 = System.nanoTime() + 120L * 1000000000L
      while (slow.count.toLong < expected("click") && System.nanoTime() < deadline2)
        Thread.sleep(100)
      assert(slow.count.toLong == expected("click"), "slow subscriber lost lines")
    } finally {
      Seq(qa, qb, qc).foreach(q => if (q.isActive) q.stop())
      slow.close(); fastB.close(); fastC.close()
    }
  }

  test("serve backpressure: a subscriber stuck past the bound is disconnected at the bound; healthy feeds complete") {
    import graft.stream.{Serve, Sources}
    import org.apache.spark.sql.functions.{col, struct, to_json, unix_micros}
    // bounded policy: 64-deep send buffer, 400 ms grace, drops counted on
    // a Spark accumulator (executor-side disconnects surface at the driver)
    val drops = spark.sparkContext.longAccumulator("serve.slowDisconnects")
    val bound = Serve.SendBound(maxPending = 64, graceMs = 400L, drops = drops)
    // the stuck client reads 100 ms/line with a tiny receive window, so
    // its stall reaches the writer's queue quickly; the healthy clients
    // are fast
    val stuck = new Serve.SubscriberClient(perLineDelayMs = 100L,
      recvBufferBytes = 4096)
    val fastB = new Serve.SubscriberClient()
    val fastC = new Serve.SubscriberClient()
    val n = Tables.events(spark, sf001).count()
    def wire() = Sources.replayEvents(spark, sf001, "events.parquet")
      .select(to_json(struct(
        col("event_id"), unix_micros(col("ts")).as("ts_us"), col("user_id"),
        col("event_type"), col("value"), col("props"))).as("line"))
    val qs = Seq(stuck, fastB, fastC).map(c =>
      Serve.pushLines(wire(), "127.0.0.1", c.port, checkpointDir = None,
        bound = Some(bound)))
    try {
      // ALL queries terminate — including the one feeding the stuck client:
      // at 100 ms/line an un-disconnected drain would need ~10 minutes, so
      // termination inside the timeout is itself the policy working
      qs.foreach(q => assert(q.awaitTermination(120000L),
        "a push query did not terminate — the stuck client pinned it"))
      fastB.quiesce(); fastC.quiesce()
      assert(fastB.lines.size.toLong == n, "healthy subscriber B incomplete")
      assert(fastC.lines.size.toLong == n, "healthy subscriber C incomplete")
      assert(drops.value >= 1L, "no disconnect was recorded for the stuck subscriber")
      assert(stuck.count.toLong < n,
        "the stuck subscriber received everything — the bound never engaged")
    } finally {
      qs.foreach(q => if (q.isActive) q.stop())
      stuck.close(); fastB.close(); fastC.close()
    }
  }

  test("catalog txn: crash after the table phase leaves readers on the old snapshot; retry completes the flip") {
    import graft.ops.{Acid, Catalog}
    val cat = java.nio.file.Files.createTempDirectory("cat_crash").toString
    def r(lo: Long, n: Long) = spark.range(lo, lo + n).toDF("k")
    Catalog.commitTxn(spark, cat, 10L, Seq("fact" -> r(0, 10), "dim" -> r(0, 3)))
    val before = Catalog.snapshot(cat)
    // simulate a writer that CRASHED mid-txn 11: both member tables
    // advanced through their own protocol, but the catalog never flipped
    Acid.appendTxn(spark, Catalog.tablePath(cat, "fact"), r(100, 5), txnId = 11L)
    Acid.appendTxn(spark, Catalog.tablePath(cat, "dim"), r(100, 2), txnId = 11L)
    // catalog readers are untouched: same version, same pins, same rows
    assert(Catalog.snapshot(cat) == before,
      "half-committed txn leaked into the catalog snapshot")
    assert(Catalog.readAt(spark, cat, before, "fact").count() == 10L,
      "catalog read saw rows from the unflipped txn")
    // the writer retries THE SAME txnId: table appends no-op through their
    // ledgers (no double data), the catalog flip completes
    val v = Catalog.commitTxn(spark, cat, 11L,
      Seq("fact" -> r(100, 5), "dim" -> r(100, 2)))
    assert(v == 1L, s"retry should complete as catalog v1, got v$v")
    val after = Catalog.snapshot(cat)
    assert(Catalog.readAt(spark, cat, after, "fact").count() == 15L)
    assert(Catalog.readAt(spark, cat, after, "dim").count() == 5L)
    // and a SECOND retry of the same txn is a pure no-op at both levels
    assert(Catalog.commitTxn(spark, cat, 11L, Seq("fact" -> r(100, 5))) == 1L)
    assert(Catalog.readAt(spark, cat, Catalog.snapshot(cat), "fact").count() == 15L)
  }

  test("catalog txn: a resolved snapshot is immune to later commits (no torn multi-table read)") {
    import graft.ops.Catalog
    val cat = java.nio.file.Files.createTempDirectory("cat_iso").toString
    def r(lo: Long, n: Long) = spark.range(lo, lo + n).toDF("k")
    Catalog.commitTxn(spark, cat, 0L, Seq("fact" -> r(0, 10), "dim" -> r(0, 3)))
    val pins = Catalog.snapshot(cat) // reader resolves ONCE
    val factBefore = Catalog.readAt(spark, cat, pins, "fact").count()
    // a fact-only commit lands between the reader's two table reads;
    // the dim pin carries forward into catalog v1
    Catalog.commitTxn(spark, cat, 1L, Seq("fact" -> r(100, 7)))
    assert(Catalog.readAt(spark, cat, pins, "fact").count() == factBefore,
      "pinned read drifted after a later commit — snapshot isolation broken")
    assert(Catalog.readAt(spark, cat, pins, "dim").count() == 3L)
    // fresh snapshot sees the new fact AND the carried-forward dim pin
    val now = Catalog.snapshot(cat)
    assert(Catalog.readAt(spark, cat, now, "fact").count() == 17L)
    assert(now("dim") == pins("dim"), "unwritten member's pin should carry forward")
    // racing writers on the SAME catalog version: put-if-absent makes the
    // loser fail loudly instead of silently clobbering the winner
    val winnerV = Catalog.currentVersion(cat).get
    intercept[java.nio.file.FileAlreadyExistsException] {
      java.nio.file.Files.write(
        java.nio.file.Paths.get(cat, s"catalog-$winnerV.txt"),
        "x".getBytes,
        java.nio.file.StandardOpenOption.CREATE_NEW)
    }
  }

  test("eraseKeys rebases when a lock-free append lands in its snapshot window (ADVICE r14 high)") {
    import graft.ops.Acid
    import org.apache.spark.sql.functions.col
    val table = java.nio.file.Files.createTempDirectory("acid_erase_race").toString + "/t"
    def rows(lo: Long, n: Long) = spark.range(lo, lo + n)
      .select(col("id").as("k"), (col("id") * 10).as("payload"))
    (0 until 2).foreach(i => Acid.appendTxn(spark, table, rows(i * 100, 50), i.toLong))
    Acid.optimize(spark, table, txnId = 10L, targetFiles = 4,
      clusterCol = Some("k"), bloom = Some(("k", col("k"))))
    // inject an appendTxnCAS exactly in the window the advice names: after
    // eraseKeys snapshots candidates/survivors, before it claims the commit
    // (CAS takes no writer lock, so this interleave is real under
    // concurrency — the hook just makes it deterministic)
    @volatile var fired = false
    Acid.raceHook = () => if (!fired) {
      fired = true
      Acid.appendTxnCAS(spark, table, rows(500, 7), txnId = 20L)
    }
    try {
      val (_, rewritten, _) =
        Acid.eraseKeys(spark, table, Seq(5L, 105L), "k", "k", txnId = 21L)
      assert(rewritten > 0, "bloom-pruned erase found no candidate files")
    } finally Acid.raceHook = () => ()
    assert(fired, "race hook never fired — the test exercised nothing")
    val state = Acid.read(spark, table)
    assert(state.filter(col("k") >= 500).count() == 7L,
      "the concurrent append's rows were silently dropped by a stale-snapshot erase")
    assert(state.filter(col("k").isin(5L, 105L)).count() == 0L,
      "erase subjects survived the rebase")
    assert(state.count() == 100L - 2L + 7L, s"row conservation broke: ${state.count()}")
    // the victim's txn id must still be in the ledger (replay stays a no-op)
    assert(Acid.committedTxns(table).contains(20L),
      "the concurrent append's txn id vanished from the ledger")
  }

  test("catalog txn: crash between manifest write and pointer flip — same-txn retry completes, foreign orphan fails loudly (ADVICE r14)") {
    import graft.ops.{Acid, Catalog}
    val cat = java.nio.file.Files.createTempDirectory("cat_orphan").toString
    def r(lo: Long, n: Long) = spark.range(lo, lo + n).toDF("k")
    Catalog.commitTxn(spark, cat, 0L, Seq("fact" -> r(0, 10)))
    // simulate txn 1 crashing AFTER catalog-1.txt landed but BEFORE the
    // flip: table phase done, manifest present, pointer still at 0
    Acid.appendTxn(spark, Catalog.tablePath(cat, "fact"), r(100, 5), txnId = 1L)
    val factV = Acid.currentVersion(Catalog.tablePath(cat, "fact")).get
    java.nio.file.Files.write(java.nio.file.Paths.get(cat, "catalog-1.txt"),
      s"# txn:0\n# txn:1\nfact=$factV\n".getBytes("UTF-8"))
    assert(Catalog.currentVersion(cat).contains(0L))
    // the documented same-txnId retry must COMPLETE the flip, not throw
    // FileAlreadyExistsException forever
    val v = Catalog.commitTxn(spark, cat, 1L, Seq("fact" -> r(100, 5)))
    assert(v == 1L, s"retry should complete the crashed flip as catalog v1, got v$v")
    assert(Catalog.snapshot(cat)("fact") == factV)
    assert(Catalog.readAt(spark, cat, Catalog.snapshot(cat), "fact").count() == 15L,
      "retry double-applied the table phase")
    // a FOREIGN txn's orphan is unrecoverable: loud error with recovery
    // guidance, never a silent clobber or a stolen flip
    java.nio.file.Files.write(java.nio.file.Paths.get(cat, "catalog-2.txt"),
      "# txn:777\nfact=0\n".getBytes("UTF-8"))
    intercept[IllegalStateException] {
      Catalog.commitTxn(spark, cat, 2L, Seq("fact" -> r(200, 1)))
    }
    assert(Catalog.currentVersion(cat).contains(1L),
      "failed recovery advanced the catalog pointer")
  }

  test("expectations quarantine: first-rule tagging, atomic lockstep, clean-only batches still advance both members") {
    import graft.ops.Catalog
    import org.apache.spark.sql.functions.{col, lit}
    val cat = java.nio.file.Files.createTempDirectory("cat_expect").toString
    val rules = Seq(
      "nonneg" -> (col("v") >= 0),
      "bounded" -> (col("v") < 100))
    // row -5 fails BOTH rules → tagged with the FIRST (declaration order);
    // row 500 fails only 'bounded'; 1 and 2 are clean
    import spark.implicits._
    val batch = Seq(1L, -5L, 500L, 2L).toDF("v")
    Catalog.commitExpectations(spark, cat, txnId = 0L, batch, rules)
    val pins = Catalog.snapshot(cat)
    assert(Catalog.readAt(spark, cat, pins, "clean")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
    val q = Catalog.readAt(spark, cat, pins, "quarantine")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(q == Map(-5L -> "nonneg", 500L -> "bounded"),
      s"first-failing-rule tagging broke: $q")
    // a fully-clean batch still advances BOTH members in lockstep (the
    // quarantine table gets a data-less version — its pin moves, so an
    // auditor can prove "this commit rejected nothing")
    Catalog.commitExpectations(spark, cat, txnId = 1L,
      Seq(3L).toDF("v"), rules)
    val pins2 = Catalog.snapshot(cat)
    assert(pins2("clean") == pins("clean") + 1 &&
      pins2("quarantine") == pins("quarantine") + 1,
      s"lockstep broke: $pins -> $pins2")
    assert(Catalog.readAt(spark, cat, pins2, "quarantine").count() == 2L)
    assert(Catalog.readAt(spark, cat, pins2, "clean").count() == 3L)
    // null predicate result = violation, not a silent pass
    Catalog.commitExpectations(spark, cat, txnId = 2L,
      Seq(Some(7L), Option.empty[Long]).toDF("v"), rules)
    val pins3 = Catalog.snapshot(cat)
    assert(Catalog.readAt(spark, cat, pins3, "quarantine")
      .filter(col("v").isNull).count() == 1L,
      "NULL rule result must quarantine, never silently pass")
  }

  test("branch storm: 3 branches + main CAS appends race; merges land every row once; txn collision refuses") {
    import graft.ops.Acid
    import org.apache.spark.sql.functions.col
    val table = java.nio.file.Files.createTempDirectory("graft_branch_storm").toString + "/t"
    def rows(lo: Long, n: Long) = spark.range(lo, lo + n).toDF("k")
    Acid.appendTxn(spark, table, rows(0, 100), txnId = 0L) // v0
    val names = Seq("b1", "b2", "b3")
    names.foreach(n => Acid.createBranch(table, n, 0L))
    // 3 branch writers (2 commits each, disjoint key ranges) race 2 main
    // CAS appenders — branch commits serialize on the writer lock but must
    // never interleave state across refs
    val futs = names.zipWithIndex.map { case (n, i) =>
      Future {
        Acid.appendTxnBranch(spark, table, n,
          rows(10000L * (i + 1), 50), txnId = 100L + i)
        Acid.appendTxnBranch(spark, table, n,
          rows(10000L * (i + 1) + 500, 30), txnId = 200L + i)
      }
    } ++ Seq(
      Future { Acid.appendTxnCAS(spark, table, rows(90000, 40), txnId = 1L) },
      Future { Acid.appendTxnCAS(spark, table, rows(91000, 60), txnId = 2L) })
    futs.foreach(Await.result(_, 180.seconds))
    // every ref sees exactly its own writes
    assert(Acid.read(spark, table).count() == 200L, "main count drifted")
    names.zipWithIndex.foreach { case (n, i) =>
      val br = Acid.readBranch(spark, table, n)
      assert(br.count() == 180L, s"branch $n count drifted")
      assert(br.filter(col("k") >= 10000L * (i + 1) &&
        col("k") < 10000L * (i + 1) + 1000).count() == 80L,
        s"branch $n lost its own rows or absorbed another's")
    }
    // merge all three in sequence onto the advanced main: additive, no loss
    val vs = names.zipWithIndex.map { case (n, i) =>
      Acid.mergeBranch(table, n, txnId = 300L + i)
    }
    assert(vs == vs.sorted && vs.distinct == vs, s"merge versions not monotone: $vs")
    assert(Acid.read(spark, table).count() == 200L + 3 * 80L,
      "merged table lost or duplicated rows")
    // ledger union: every branch txn now no-ops on main
    (0 until 3).foreach { i =>
      assert(Acid.appendTxn(spark, table, rows(0, 1), txnId = 100L + i) == vs.last,
        s"branch txn ${100 + i} not carried into main's ledger")
    }
    // txn-collision guard: a branch commit reusing an id that ALSO landed
    // on main since the fork refuses to merge (exactly-once across refs)
    Acid.createBranch(table, "dup", vs.last)
    Acid.appendTxnBranch(spark, table, "dup", rows(95000, 5), txnId = 999L)
    Acid.appendTxn(spark, table, rows(96000, 5), txnId = 999L) // same id on main
    intercept[IllegalArgumentException] {
      Acid.mergeBranch(table, "dup", txnId = 400L)
    }
    Acid.dropBranch(table, "dup")
  }

  test("branch publish goes through the claim protocol: a racing CAS commit rebases the merge (ADVICE r16)") {
    import graft.ops.Acid
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val table = java.nio.file.Files.createTempDirectory("graft_publish_claim").toString + "/t"
    def rows(lo: Long, n: Long) = spark.range(lo, lo + n).toDF("k")
    Acid.appendTxn(spark, table, rows(0, 100), txnId = 0L) // v0
    Acid.createBranch(table, "exp", 0L)
    Acid.appendTxnBranch(spark, table, "exp", rows(1000, 30), txnId = 100L)
    // a lock-free CAS writer "in flight": it holds the claim on v1 but has
    // not yet written its manifest — the r16 defect path published straight
    // via commitManifest(cur+1) and threw FileAlreadyExistsException once
    // the racer's manifest landed, instead of rebasing like every other
    // commit path
    Files.createFile(Paths.get(table, "claim-1"))
    val fut = Future { Acid.mergeBranch(table, "exp", txnId = 7L) }
    Thread.sleep(300) // merge must be spinning on the lost claim, not done
    assert(!fut.isCompleted, "merge bypassed the claim protocol")
    // the racer commits v1 (data-less append shape) and flips the pointer
    val prev = Files.readAllLines(Paths.get(table, "manifest-0.txt")).asScala
      .map(_.trim).filter(_.nonEmpty).toSeq
    val racerLines = ("# base:." +:
      (prev.filter(_.startsWith("# txn:")) :+ "# txn:55")) ++
      prev.filterNot(_.startsWith("#"))
    Files.write(Paths.get(table, "manifest-1.txt"),
      racerLines.mkString("", "\n", "\n").getBytes("UTF-8"))
    val tmp = Paths.get(table, "_current.tmp.race")
    Files.write(tmp, "1".getBytes("UTF-8"))
    Files.move(tmp, Paths.get(table, "_current"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    // the merge rebases onto v1 and commits v2 — no exception, no lost rows
    val v = Await.result(fut, 120.seconds)
    assert(v == 2L, s"merge did not rebase onto the racer's commit: v$v")
    assert(Acid.read(spark, table).count() == 130L,
      "rebased merge lost main's or the branch's rows")
    assert(Acid.committedTxns(table).contains(55L) &&
      Acid.committedTxns(table).contains(7L) &&
      Acid.committedTxns(table).contains(100L),
      "rebased merge dropped a ledger entry")
    assert(Acid.branches(table).isEmpty, "merge must retire the branch ref")
  }

  /** A lock-free appender in flight against `table`, made deterministic:
    * its rows land under `txn=99/` (the CAS protocol's data-first phase)
    * and it holds the claim on the next version. `op` runs in a future;
    * once `op` has started a Spark job (so it has read its snapshot), the
    * racer commits that version — the head's ledger plus txn 99, every
    * carried header, the head's files plus its own — and flips the
    * pointer. Returns the racer's version and `op`'s outcome. */
  private def raceOneAppend[T](table: String,
      racer: org.apache.spark.sql.DataFrame, what: String)(
      op: => T): (Long, scala.util.Try[T]) = {
    import graft.ops.Acid
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val v0 = Acid.currentVersion(table).get
    val v1 = v0 + 1
    racer.coalesce(1).write.mode("overwrite").parquet(s"$table/txn=99")
    val racerFiles = {
      val walk = Files.walk(Paths.get(table, "txn=99"))
      try walk.iterator().asScala.filter(_.toString.endsWith(".parquet"))
        .map(p => Paths.get(table).relativize(p).toString).toSeq.sorted
      finally walk.close()
    }
    Files.createFile(Paths.get(table, s"claim-$v1"))
    val group = s"race-$what-${System.nanoTime()}"
    val started = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          started.countDown()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val fut = Future {
        spark.sparkContext.setJobGroup(group, what)
        try op finally spark.sparkContext.clearJobGroup()
      }
      assert(started.await(120, java.util.concurrent.TimeUnit.SECONDS),
        s"$what never started a Spark job")
      Thread.sleep(300) // let it finish its attempt and spin on the claim
      assert(!fut.isCompleted, s"$what bypassed the claim protocol")
      val prev = Files.readAllLines(Paths.get(table, s"manifest-$v0.txt")).asScala
        .map(_.trim).filter(_.nonEmpty)
        .filterNot(l => l.startsWith("# op:") || l.startsWith("# cdc:")).toSeq
      val lastTxn = prev.lastIndexWhere(_.startsWith("# txn:"))
      val lines = (prev.take(lastTxn + 1) :+ "# txn:99") ++
        prev.drop(lastTxn + 1) ++ racerFiles
      Files.write(Paths.get(table, s"manifest-$v1.txt"),
        lines.mkString("", "\n", "\n").getBytes("UTF-8"))
      val tmp = Paths.get(table, "_current.tmp.race")
      Files.write(tmp, v1.toString.getBytes("UTF-8"))
      Files.move(tmp, Paths.get(table, "_current"),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      (v1, Await.ready(fut, 120.seconds).value.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("predicate-COW DML rebases onto a racing append: the racer's matching rows are deleted too") {
    import graft.ops.Acid
    import org.apache.spark.sql.functions.col
    val table = java.nio.file.Files.createTempDirectory("graft_cow_race").toString + "/t"
    Acid.appendTxn(spark, table,
      spark.range(0, 50).select(col("id").as("k")), txnId = 0L) // v0
    // rows 5..8 of the racer MATCH the delete predicate below, so a
    // stale-snapshot commit that skipped the rebase would silently leave
    // them alive
    val (_, out) = raceOneAppend(table,
      spark.range(100, 110).select(col("id").as("k"))
        .unionAll(spark.range(5, 9).select(col("id").as("k"))), "deleteWhere") {
      Acid.deleteWhere(spark, table, col("k") < 10, txnId = 5L)
    }
    val (v, touched, _) = out.get
    assert(v == 2L, s"deleteWhere did not rebase onto the racer's commit: v$v")
    assert(touched >= 2, s"the rebased probe must re-find the racer's file: $touched")
    val got = Acid.read(spark, table).select(col("k")).collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(got == ((10L until 50L) ++ (100L until 110L)),
      s"stale-snapshot DML leaked the racer's matching rows: $got")
  }

  test("stale-snapshot retry table: every row-level DML and rewrite either rebases onto a racing append or fails loudly, never drops the racer's rows") {
    import graft.ops.Acid
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.{col, lit}
    import spark.implicits._
    def base(lo: Long, hi: Long): DataFrame =
      spark.range(lo, hi).select(col("id").as("k"), (col("id") * 10).as("x"))
    // the racer's rows: ten fresh keys plus keys 5..8, which every
    // predicate and change set below touches
    val racer = base(100, 110).unionAll(base(5, 9).withColumn("x", lit(-1L)))
    def keys(t: String): Seq[Long] =
      Acid.read(spark, t).select(col("k")).as[Long].collect().sorted.toSeq
    def xOf(t: String, k: Long): Seq[Long] = Acid.read(spark, t)
      .filter(col("k") === k).select(col("x")).as[Long].collect().sorted.toSeq
    val allKeys = ((0L until 50L) ++ (5L until 9L) ++ (100L until 110L)).sorted
    // applied: the op commits on top of the racer and `check` holds;
    // loud: the op throws naming `loud`, and the table stays at the racer's
    // version
    final case class Row(what: String, setup: String => Unit,
        op: String => Any, check: String => Unit = _ => (),
        loud: Option[String] = None)
    def plain(t: String): Unit = Acid.appendTxn(spark, t, base(0, 50), 0L)
    def lineage(t: String): Unit = { plain(t); Acid.assignRowIds(spark, t, 1L); () }
    val rows = Seq(
      Row("updateWhere", plain,
        t => Acid.updateWhere(spark, t, Seq("x" -> lit(1000L)), col("k") < 10, 50L),
        t => {
          assert(keys(t) == allKeys)
          assert((0L until 10L).forall(k => xOf(t, k).forall(_ == 1000L)),
            "the racer's matching rows were not updated")
        }),
      Row("mergeCow", plain,
        t => Acid.mergeCow(spark, t, Seq((5L, 777L), (105L, 777L)).toDF("k", "x"), "k", 50L),
        t => {
          assert(keys(t) == (allKeys.filterNot(_ == 5L) :+ 5L).sorted)
          assert(xOf(t, 5L) == Seq(777L) && xOf(t, 105L) == Seq(777L),
            s"merge missed the racer's copy of a key: ${xOf(t, 5L)} ${xOf(t, 105L)}")
        }),
      Row("optimize", plain,
        t => Acid.optimize(spark, t, 50L, targetFiles = 1),
        t => assert(keys(t) == allKeys)),
      Row("compactDeletes",
        t => { plain(t); Acid.deleteTxn(spark, t, Seq(0L, 1L).toDF("k"), "k", 1L); () },
        t => Acid.compactDeletes(spark, t, 50L),
        t => {
          assert(keys(t) == allKeys.filterNot(Set(0L, 1L)))
          assert(Acid.headManifest(t).deletes.isEmpty, "vector not folded")
        }),
      Row("optimizeWhere",
        t => { Acid.appendTxnEvolved(spark, t, base(0, 50).withColumn("p", col("k") % 2),
          0L, Seq("p")); () },
        t => Acid.optimizeWhere(spark, t, 50L, targetFiles = 1, part = ("p", 0L)),
        t => assert(keys(t) == allKeys)),
      Row("updateWhereLineage", lineage,
        t => Acid.updateWhereLineage(spark, t, Seq("x" -> lit(1000L)), col("k") < 10, 50L),
        loud = Some("assignRowIds")),
      Row("mergeCowLineage", lineage,
        t => Acid.mergeCowLineage(spark, t, Seq((5L, 777L)).toDF("k", "x"), "k", 50L),
        loud = Some("assignRowIds")),
      Row("optimizeLineage", lineage,
        t => Acid.optimizeLineage(spark, t, 50L, targetFiles = 1),
        loud = Some("assignRowIds")))
    rows.foreach { r =>
      val t = java.nio.file.Files.createTempDirectory(s"graft_retry_${r.what}").toString + "/t"
      r.setup(t)
      val racerRows = if (r.what == "optimizeWhere") racer.withColumn("p", col("k") % 2) else racer
      val (racerV, out) = raceOneAppend(t, racerRows, r.what)(r.op(t))
      val ledger = Acid.committedTxns(t)
      assert(ledger.contains(99L), s"${r.what}: the racer's txn left the ledger")
      r.loud match {
        case Some(msg) =>
          val e = out.failed.getOrElse(fail(s"${r.what}: expected a loud failure, got $out"))
          assert(e.getMessage.contains(msg), s"${r.what}: ${e.getMessage}")
          assert(Acid.currentVersion(t).contains(racerV),
            s"${r.what}: the table moved past the racer's version")
          assert(!ledger.contains(50L), s"${r.what}: the failed op committed")
          assert(keys(t) == allKeys, s"${r.what}: the racer's rows were lost")
        case None =>
          assert(out.isSuccess, s"${r.what}: $out")
          assert(Acid.currentVersion(t).contains(racerV + 1),
            s"${r.what}: did not commit on top of the racer")
          assert(ledger.contains(50L), s"${r.what}: op txn missing")
          r.check(t)
      }
    }
  }

  /** Runs `body` with a job counter: `jobs(name)(call)` is the number of
    * Spark jobs `call` starts, counted by job group. A marker job in a
    * second group follows each call, and the listener bus delivers start
    * events in order, so once the marker is seen every job of the call
    * has been counted. */
  private def withJobCounter[T](body: JobCounter => T): T = {
    val c = new JobCounter(spark.sparkContext)
    spark.sparkContext.addSparkListener(c)
    try body(c) finally spark.sparkContext.removeSparkListener(c)
  }

  private final class JobCounter(sc: org.apache.spark.SparkContext)
      extends org.apache.spark.scheduler.SparkListener {
    private val started = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .filter(_.startsWith("jobpin-"))
        .foreach(g => started.merge(g, 1, (a: Integer, b: Integer) => a + b))
    def jobs(name: String)(call: => Any): Int = {
      sc.setJobGroup(s"jobpin-$name", name)
      try call finally sc.clearJobGroup()
      sc.setJobGroup(s"jobpin-$name-marker", "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.currentTimeMillis() + 60000
      while (!started.containsKey(s"jobpin-$name-marker")) {
        assert(System.currentTimeMillis() < deadline, s"marker job of $name never seen")
        Thread.sleep(10)
      }
      Option(started.get(s"jobpin-$name")).fold(0)(_.intValue)
    }
  }

  test("Spark job count per Acid call on a tiny table: appendTxnCAS, mergeCow, deleteTxn, optimize, updateWhere, eraseKeys") {
    import graft.ops.Acid
    import org.apache.spark.sql.functions.{col, lit}
    import spark.implicits._
    val t = java.nio.file.Files.createTempDirectory("graft_jobpin").toString + "/t"
    val snap = java.nio.file.Files.createTempDirectory("graft_jobpin").toString + "/s"
    def rows(ks: Seq[Long]) = ks.map(k => (k, k * 10)).toDF("k", "x")
    val got = withJobCounter { c =>
      import c.jobs
      Acid.appendTxn(spark, t, rows(0L until 8L), 0L)
      Seq(
        "appendTxnCAS" -> jobs("appendTxnCAS") {
          Acid.appendTxnCAS(spark, t, rows(8L until 12L), 1L) },
        "mergeCow" -> jobs("mergeCow") {
          Acid.mergeCow(spark, t, rows(Seq(3L, 20L)), "k", 2L) },
        "deleteTxn" -> jobs("deleteTxn") {
          Acid.deleteTxn(spark, t, Seq(4L).toDF("k"), "k", 3L) },
        "optimize" -> jobs("optimize") {
          Acid.optimize(spark, t, 4L, targetFiles = 2) },
        "updateWhere" -> jobs("updateWhere") {
          Acid.updateWhere(spark, t, Seq("x" -> lit(-1L)), col("k") < 2, 5L) },
        "eraseKeys" -> jobs("eraseKeys") {
          Acid.eraseKeys(spark, t, Seq(6L), "k", "k", 6L) },
        // the reads the benchmark's lakehouse round runs: the head, time
        // travel to the append, the feed of the delete step
        "read" -> jobs("read") { Acid.read(spark, t).collect() },
        "readVersion" -> jobs("readVersion") {
          Acid.readVersion(spark, t, 1L).collect() },
        "changeFeedRow" -> jobs("changeFeedRow") {
          Acid.changeFeedRow(spark, t, 2L, 3L, "k").collect() },
        // a snapshot commit harvesting a bloom over its own files
        "commitBloom" -> jobs("commitBloom") {
          Acid.commit(spark, snap, rows(0L until 8L), bloom = Some("k" -> col("k"))) })
    }
    // a structural budget, free of timing noise: a change to the commit
    // or read path that adds or drops a Spark action moves one of these
    // counts
    assert(got == Seq("appendTxnCAS" -> 1, "mergeCow" -> 6, "deleteTxn" -> 1,
      "optimize" -> 2, "updateWhere" -> 3, "eraseKeys" -> 1,
      "read" -> 1, "readVersion" -> 1, "changeFeedRow" -> 2,
      "commitBloom" -> 6), s"$got")
    assert(Acid.read(spark, t).select(col("k")).as[Long].collect().sorted.toSeq ==
      Seq(0L, 1L, 2L, 3L, 5L, 7L, 8L, 9L, 10L, 11L, 20L))
  }

  test("Spark job count on the benchmark round's table shape: footers that differ only in nullability read without schema inference") {
    import graft.ops.Acid
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val t = java.nio.file.Files.createTempDirectory("graft_jobpin_mixed").toString + "/t"
    // a local frame lands REQUIRED columns, a mergeCow rewrite OPTIONAL ones
    def rows(ks: Seq[Long]) = ks.map(k => (k, k * 10)).toDF("k", "x")
    Acid.appendTxnCAS(spark, t, rows(0L until 20L), 0L)
    Acid.mergeCow(spark, t, rows(Seq(3L, 30L)), "k", 1L)
    Acid.appendTxnCAS(spark, t, rows(40L until 44L), 2L)
    Acid.deleteTxn(spark, t, Seq(5L, 6L, 7L).toDF("k"), "k", 3L)
    val paths = Acid.headManifest(t).files.map(f => s"$t/$f")
    val required = paths.map { p =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(p), spark.sessionState.newHadoopConf())
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        val schema = r.getFooter.getFileMetaData.getSchema
        schema.getType(schema.getFieldIndex("k"))
          .isRepetition(org.apache.parquet.schema.Type.Repetition.REQUIRED)
      } finally r.close()
    }.toSet
    assert(required == Set(true, false), s"the table must mix REQUIRED and OPTIONAL footers: $paths")
    // footers that differ in more than nullability fall back, and say so
    val wide = java.nio.file.Files.createTempDirectory("graft_jobpin_wide").toString + "/w"
    Seq((1L, 10L, "east")).toDF("k", "x", "zone").write.parquet(wide)
    val widePaths = new java.io.File(wide).listFiles().map(_.toString)
      .filter(_.endsWith(".parquet")).toSeq
    val err = new java.io.ByteArrayOutputStream()
    val stderr = System.err
    System.setErr(new java.io.PrintStream(err, true))
    try Acid.readParquetCached(spark, paths.take(1) ++ widePaths) finally System.setErr(stderr)
    assert(err.toString.contains("[graft] readParquetCached: footer schemas of 2 files " +
      "fell back to schema inference, first differing field: absent vs zone string"), err.toString)
    val got = withJobCounter { c =>
      import c.jobs
      val inferred = spark.read.parquet(paths: _*)
      var cached: org.apache.spark.sql.DataFrame = null
      assert(jobs("readParquetCached") { cached = Acid.readParquetCached(spark, paths) } == 0,
        "readParquetCached started a job over footers that differ only in nullability")
      assert(cached.schema == inferred.schema, s"${cached.schema} vs ${inferred.schema}")
      assert(cached.collect().map(_.toString).sorted.toSeq ==
        inferred.collect().map(_.toString).sorted.toSeq)
      Seq(
        "read" -> jobs("read") { Acid.read(spark, t).collect() },
        "readVersion" -> jobs("readVersion") { Acid.readVersion(spark, t, 2L).collect() },
        "changeFeedRow" -> jobs("changeFeedRow") {
          Acid.changeFeedRow(spark, t, 1L, 3L, "k").collect() },
        "optimize" -> jobs("optimize") { Acid.optimize(spark, t, 4L, targetFiles = 2) })
    }
    // the head read broadcasts its standing vector: one job for that, one
    // for the scan
    assert(got == Seq("read" -> 2, "readVersion" -> 1, "changeFeedRow" -> 2,
      "optimize" -> 2), s"$got")
    assert(Acid.read(spark, t).select(col("k")).as[Long].collect().sorted.toSeq ==
      ((0L until 20L).filterNot(Set(5L, 6L, 7L)) ++ Seq(30L) ++ (40L until 44L)))
  }

  test("a writer dying between its data write and its version claim: old snapshot stays, no manifest names its files, replay commits once, vacuum reclaims exactly them") {
    import graft.ops.Acid
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    def rows(kx: (Long, Long)*) = kx.toDF("k", "x")
    def state(t: String) = Acid.read(spark, t).as[(Long, Long)].collect().toSet
    def parquetFiles(t: String): Set[String] = {
      val walk = Files.walk(Paths.get(t))
      try walk.iterator().asScala.filter(_.toString.endsWith(".parquet"))
        .map(p => Paths.get(t).relativize(p).toString).toSet
      finally walk.close()
    }
    def manifestText(t: String): String = {
      val ls = Files.list(Paths.get(t))
      try ls.iterator().asScala.filter(_.getFileName.toString.startsWith("manifest-"))
        .map(p => new String(Files.readAllBytes(p), "UTF-8")).mkString("\n")
      finally ls.close()
    }
    val seed = (0L until 12L).map(k => (k, k * 10))
    // (writer, the table it leaves from the seed)
    val writers: Seq[(String, String => Any, Set[(Long, Long)])] = Seq(
      ("appendTxn", t => Acid.appendTxn(spark, t, rows((100L, 1L), (101L, 2L)), 2L),
        seed.toSet ++ Set((100L, 1L), (101L, 2L))),
      ("mergeCow", t => Acid.mergeCow(spark, t, rows((3L, -1L), (200L, 2L)), "k", 2L),
        seed.toSet - ((3L, 30L)) ++ Set((3L, -1L), (200L, 2L))),
      ("deleteTxn", t => Acid.deleteTxn(spark, t, Seq(4L).toDF("k"), "k", 2L),
        seed.toSet - ((4L, 40L))))
    writers.foreach { case (what, write, expected) =>
      val t = Files.createTempDirectory(s"acid_crash_$what").toString + "/t"
      // two appends: v0's files stay live at v1, so a keep = 1 vacuum has
      // nothing to reclaim but what the dying writer landed
      Acid.appendTxn(spark, t, rows(seed.take(8): _*), 0L)
      Acid.appendTxn(spark, t, rows(seed.drop(8): _*), 1L)
      val v = Acid.currentVersion(t).get
      val filesBefore = parquetFiles(t)
      Acid.raceHook = () => {
        Acid.raceHook = () => () // fire once
        throw new IllegalStateException(s"$what died")
      }
      val e = intercept[IllegalStateException] {
        try write(t) finally Acid.raceHook = () => ()
      }
      assert(e.getMessage == s"$what died", e.getMessage)
      val landed = parquetFiles(t) -- filesBefore
      assert(landed.nonEmpty, s"$what landed nothing before dying")
      assert(Acid.currentVersion(t).contains(v), s"$what moved the pointer")
      assert(state(t) == seed.toSet, s"$what: read left the old snapshot")
      val text = manifestText(t)
      assert(landed.forall(f => !text.contains(f)), s"$what: a manifest names a landed file")
      assert(Acid.vacuum(t, keep = 1).toSet == landed,
        s"$what: vacuum must delete exactly the dying writer's files $landed")
      // the attempt's directories go with them: `_SUCCESS`, `.crc` files
      val attemptDirs = landed.map(_.takeWhile(_ != '/'))
      assert(attemptDirs.forall(d => !Files.exists(Paths.get(t, d))),
        s"$what: vacuum left the attempt directories $attemptDirs")
      write(t)
      assert(Acid.currentVersion(t).contains(v + 1), s"$what replay did not commit once")
      write(t)
      assert(Acid.currentVersion(t).contains(v + 1), s"$what second replay committed again")
      assert(state(t) == expected, s"$what replay left ${state(t)}")
    }
  }

  test("a commit whose build throws gives its version claim back; a claim reclaimed since by another writer stays") {
    import graft.ops.Acid
    import org.apache.spark.sql.functions.{col, udf}
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    val table = Files.createTempDirectory("acid_claim_release").toString + "/t"
    def rows(lo: Long, n: Long) = spark.range(lo, lo + n).select(col("id").as("k"))
    def fileKey(p: java.nio.file.Path) = Files.readAttributes(p,
      classOf[java.nio.file.attribute.BasicFileAttributes]).fileKey
    Acid.appendTxn(spark, table, rows(0, 10), txnId = 0L) // v0
    // deletePositionsTxn validates its vector inside the commit's build,
    // after claiming the version: a position naming a file outside the
    // manifest throws there
    val bad = Seq(("txn=99/part-0.parquet", 0L)).toDF("f", "pos")
    intercept[IllegalArgumentException] {
      Acid.deletePositionsTxn(spark, table, bad, txnId = 1L)
    }
    assert(!Files.exists(Paths.get(table, "claim-1")),
      "the refused commit left claim-1 behind")
    // so the next writer commits at once instead of waiting out the
    // stale-claim horizon (120 s)
    val t0 = System.nanoTime()
    assert(Acid.appendTxn(spark, table, rows(10, 5), txnId = 2L) == 1L)
    val secs = (System.nanoTime() - t0) / 1e9
    assert(secs < 20.0, s"the append after the refused commit took $secs s")
    // the refused build holds claim-2 until a lock-free writer has
    // reclaimed it as stale and committed v2 under its own claim-2; the
    // release must leave that claim alone
    BuildGate.reset()
    val prevStale = Acid.ClaimStaleMs
    Acid.ClaimStaleMs = 200L
    try {
      val gated = udf { (p: Long) => BuildGate.await(); p }
      val refused = Future {
        intercept[IllegalArgumentException] {
          Acid.deletePositionsTxn(spark, table,
            bad.withColumn("pos", gated(col("pos"))), txnId = 3L)
        }
      }
      val claim2 = Paths.get(table, "claim-2")
      val deadline = System.currentTimeMillis() + 60000
      while (!Files.exists(claim2)) {
        assert(System.currentTimeMillis() < deadline, "the refused commit never claimed v2")
        Thread.sleep(10)
      }
      assert(Acid.appendTxnCAS(spark, table, rows(20, 5), txnId = 4L) == 2L)
      val casClaim = fileKey(claim2)
      BuildGate.open()
      Await.result(refused, 2.minutes)
      assert(Files.exists(claim2) && fileKey(claim2) == casClaim,
        "the refused commit released a claim another writer owns")
    } finally {
      BuildGate.open()
      Acid.ClaimStaleMs = prevStale
    }
    assert(Acid.read(spark, table).count() == 20L)
    assert(Acid.committedTxns(table) == Set(0L, 2L, 4L))
  }

  test("updateWhereCAS conflict matrix: disjoint rebases, read-set rewrite / vector / matching append abort, overlap serializes or aborts") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.ops.Acid
    val t = java.nio.file.Files.createTempDirectory("graft_occ").toString + "/t"
    Acid.reset(t)
    (0 to 1).foreach(i => Acid.appendTxn(spark, t,
      spark.range(0, 40).select(col("id").as("k"), lit(0L).as("x"))
        .filter(col("k") % 2 === i), txnId = i.toLong))
    def xs() = Acid.read(spark, t).select("k", "x").as[(Long, Long)].collect().toMap
    // disjoint race (staged): the other slice updates mid-flight -> rebase,
    // BOTH updates land
    Acid.updateWhereCAS(spark, t, Seq("x" -> (col("x") + 1L)),
      col("k") % 2 === 0, txnId = 10L,
      beforeCommit = () => { Acid.updateWhere(spark, t,
        Seq("x" -> (col("x") + 50L)), col("k") % 2 === 1, txnId = 11L); () })
    val m0 = xs()
    assert((0L until 40L).forall(k => m0(k) == (if (k % 2 == 0) 1L else 50L)), s"$m0")
    // read-set rewrite race: the SAME slice updates mid-flight -> abort,
    // only the winner's change applies
    intercept[Acid.WriteConflictException] {
      Acid.updateWhereCAS(spark, t, Seq("x" -> (col("x") + 1L)),
        col("k") % 2 === 0, txnId = 12L,
        beforeCommit = () => { Acid.updateWhere(spark, t,
          Seq("x" -> (col("x") + 100L)), col("k") % 2 === 0, txnId = 13L); () })
    }
    assert(xs()(0L) == 101L, "only the winner's update may apply")
    // standing-vector race: a MoR delete lands mid-flight -> abort (its
    // hides apply to rows the rewrite already copied)
    intercept[Acid.WriteConflictException] {
      Acid.updateWhereCAS(spark, t, Seq("x" -> (col("x") + 1L)),
        col("k") % 2 === 0, txnId = 14L,
        beforeCommit = () => { Acid.deleteTxn(spark, t, Seq(7L).toDF("k"), "k",
          txnId = 15L); () })
    }
    assert(!xs().contains(7L) && xs()(0L) == 101L)
    // a non-matching append mid-flight is NOT a conflict (blind appends
    // commute with predicate updates on other rows)
    Acid.compactDeletes(spark, t, txnId = 16L) // clear the vector first
    Acid.updateWhereCAS(spark, t, Seq("x" -> (col("x") + 1L)),
      col("k") % 2 === 0, txnId = 17L,
      beforeCommit = () => { Acid.appendTxnCAS(spark, t,
        Seq((101L, 0L)).toDF("k", "x"), txnId = 18L); () })
    val m1 = xs()
    assert(m1(0L) == 102L && m1(101L) == 0L && m1(1L) == 50L, s"$m1")
    // truly concurrent OVERLAP: either serializes (both commit) or the
    // loser aborts — never a lost update, never a double apply
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val outcomes = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val before = m1(2L)
    val threads = (0 to 1).map(i => new Thread(() => {
      barrier.await()
      try { Acid.updateWhereCAS(spark, t, Seq("x" -> (col("x") + 1000L)),
        col("k") % 2 === 0, txnId = 20L + i); outcomes.add("ok") }
      catch { case _: Acid.WriteConflictException => outcomes.add("conflict") }
    }))
    threads.foreach(_.start()); threads.foreach(_.join(120000))
    val ok = outcomes.toArray.count(_ == "ok")
    assert(ok >= 1 && outcomes.size == 2, s"outcomes: $outcomes")
    assert(xs()(2L) == before + 1000L * ok,
      s"final x inconsistent with $ok committed updates")
  }

  test("rebaseBranchDml: branch DML replays across a mid-experiment main OPTIMIZE; publish equals sequential application") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.ops.Acid
    val t = java.nio.file.Files.createTempDirectory("graft_rbdml").toString + "/t"
    val tw = java.nio.file.Files.createTempDirectory("graft_rbdml_twin").toString + "/t"
    val base = (0L until 100L).map(k => (k, k * 10L)).toDF("k", "x")
    val mainAdd = (500L until 510L).map(k => (k, k * 10L)).toDF("k", "x")
    // branch MERGE intent: update x for k%10==0 (note k=500 — a key that
    // does NOT exist at fork time but DOES on the rebased base: upsert
    // semantics make replay == sequential application), delete k%9==0,
    // insert fresh keys 1000..1004
    val changes = (
      (0L until 100L).filter(_ % 10 == 0).map(k => (k, k * 10L + 1L, "up")) ++
        Seq((500L, 7777L, "up")) ++
        (0L until 100L).filter(_ % 9 == 0).map(k => (k, 0L, "delete")) ++
        (1000L until 1005L).map(k => (k, k, "up"))
      ).toDF("k", "x", "__op")
      // delete wins over the k=0/90 overlap rows (both %10 and %9 hit 0, 90):
      // drop the update rows for deleted keys so the change set is key-unique
      .withColumn("__rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("k"))
          .orderBy(when(col("__op") === "delete", 0).otherwise(1))))
      .filter(col("__rk") === 1).drop("__rk")
    val delKeys = (0L until 100L).filter(_ % 13 == 0).map(Tuple1(_)).toDF("k")
      .unionByName(Seq(Tuple1(507L)).toDF("k")) // a main-appended key too
    val branchAdd = (2000L until 2005L).map(k => (k, k)).toDF("k", "x")
    // --- the experiment table: fork, branch DML, main moves, rebase ---
    Acid.reset(t)
    Acid.appendTxn(spark, t, base, 0L)
    Acid.createBranch(t, "exp", 0L)
    Acid.mergeCowBranch(spark, t, "exp", changes, "k", 10L, Some("__op"))
    Acid.deleteTxnBranch(spark, t, "exp", delKeys, "k", 11L)
    Acid.appendTxnBranch(spark, t, "exp", branchAdd, 12L)
    Acid.appendTxn(spark, t, mainAdd, 1L)             // main advances...
    Acid.optimize(spark, t, 2L, targetFiles = 1)      // ...and OPTIMIZEs
    // the three-way paths refuse a DML branch across a rewritten base
    val e1 = intercept[IllegalArgumentException] {
      Acid.rebaseBranch(t, "exp", txnId = 13L) }
    assert(e1.getMessage.contains("REWROTE") ||
      e1.getMessage.contains("deletes since the fork"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      Acid.fastForwardBranch(t, "exp", txnId = 14L) }
    assert(e2.getMessage.contains("advanced"), e2.getMessage)
    // a vacuum between the divergence and the rebase must NOT reclaim the
    // branch's frozen change frames (chg=<txn>/ is referenced only by the
    // op log — r18): the replay below is the proof they survived
    Acid.vacuum(t, keep = 1)
    // the logical replay lifts the refusal
    val mainBefore = Acid.read(spark, t).count()
    val h = Acid.rebaseBranchDml(spark, t, "exp", txnId = 15L)
    assert(Acid.rebaseBranchDml(spark, t, "exp", txnId = 15L) == h,
      "replayed rebase must no-op through the branch ledger")
    assert(Acid.read(spark, t).count() == mainBefore, "rebase mutated main")
    Acid.fastForwardBranch(t, "exp", txnId = 16L)
    // --- the sequential twin: main ops first, then the same DML on main ---
    Acid.reset(tw)
    Acid.appendTxn(spark, tw, base, 0L)
    Acid.appendTxn(spark, tw, mainAdd, 1L)
    Acid.optimize(spark, tw, 2L, targetFiles = 1)
    Acid.mergeCow(spark, tw, changes, "k", 10L, Some("__op"))
    Acid.deleteTxn(spark, tw, delKeys, "k", 11L)
    Acid.appendTxn(spark, tw, branchAdd, 12L)
    val got = Acid.read(spark, t).as[(Long, Long)].collect().toSet
    val want = Acid.read(spark, tw).as[(Long, Long)].collect().toSet
    assert(got == want,
      s"rebase-publish != sequential twin: missing ${want.diff(got).take(5)}, " +
        s"extra ${got.diff(want).take(5)}")
    // the upsert-on-new-base row proves the replay saw main's append
    assert(got.contains((500L, 7777L)), "replayed MERGE missed main's new row")
    assert(!got.exists(_._1 == 507L), "replayed MoR delete missed main's new row")
    // EMPTY-branch rebase is idempotent per txnId too (r18 review): a
    // driver retry after main advanced must no-op on the ledger, not
    // silently re-fork onto the newer head
    val t2 = java.nio.file.Files.createTempDirectory("graft_rbempty").toString + "/t"
    Acid.reset(t2)
    Acid.appendTxn(spark, t2, base, 0L)
    Acid.createBranch(t2, "e", 0L)
    val h0 = Acid.rebaseBranchDml(spark, t2, "e", txnId = 50L)
    val baseAfter = Acid.branches(t2)("e")._1
    Acid.appendTxn(spark, t2, mainAdd, 1L) // main advances between retries
    assert(Acid.rebaseBranchDml(spark, t2, "e", txnId = 50L) == h0,
      "replayed empty-branch rebase must no-op")
    assert(Acid.branches(t2)("e")._1 == baseAfter,
      "replayed empty-branch rebase re-forked onto the advanced head")
  }

  test("txn-branch GC: a killed transaction's stale branch is swept at the next BEGIN; a live one survives (r20)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.ops.{Acid, SqlEntry}
    val t = java.nio.file.Files.createTempDirectory("graft_txngc").toString + "/t"
    Acid.reset(t)
    Acid.appendTxn(spark, t, (0L until 10L).map(k => (k, k)).toDF("k", "x"), 0L)
    // simulate a driver killed mid-transaction: its txn branch (with a
    // staged statement) is on disk, its id never reached main
    Acid.createBranch(t, "txn-77", 0L)
    Acid.appendTxnBranch(spark, t, "txn-77",
      Seq((100L, 100L)).toDF("k", "x"), 78L)
    assert(Acid.branches(t).contains("txn-77"))
    val prevStale = Acid.TxnBranchStaleMs
    try {
      Acid.TxnBranchStaleMs = 50L
      // a FRESH ref survives the sweep (a live concurrent txn's branch)
      assert(Acid.sweepTxnBranches(t).isEmpty,
        "a fresh txn branch must not be swept")
      Thread.sleep(80)
      // the next transaction's BEGIN collects the stale leak...
      (0L until 3L).map(k => (k + 500L, k)).toDF("k", "x")
        .createOrReplaceTempView("txngc_ins")
      SqlEntry.sqlLakehouse(spark, s"BEGIN TXN 80; " +
        s"INSERT INTO acid_table('$t') SELECT * FROM txngc_ins TXN 81; COMMIT")
      assert(!Acid.branches(t).contains("txn-77"),
        "stale txn branch survived the next BEGIN's sweep")
      // ...and the dead txn's work was never published
      assert(!Acid.committedTxns(t).contains(77L) &&
        !Acid.committedTxns(t).contains(78L),
        "a collected txn's statements leaked into main")
      assert(Acid.read(spark, t).filter(col("k") === 100L).count() == 0,
        "a collected txn's staged rows surfaced on main")
      // the sweeping transaction itself committed normally
      assert(Acid.read(spark, t).filter(col("k") >= 500L).count() == 3)
    } finally Acid.TxnBranchStaleMs = prevStale
  }

  test("IcebergExport: concurrent exporters serialize on the export lock; both snapshots land (ADVICE r19)") {
    import spark.implicits._
    import graft.ops.{Acid, IcebergExport}
    val t = java.nio.file.Files.createTempDirectory("graft_icex").toString + "/t"
    val out = java.nio.file.Files.createTempDirectory("graft_icex_out").toString + "/e"
    Acid.reset(t)
    Acid.appendTxn(spark, t, (0L until 50L).map(k => (k, k * 2L)).toDF("k", "x"), 0L)
    // two exporters race the same dir: without the lock both read hint
    // = absent, compute v=0, and the second's orphan-replace clobbers the
    // first's in-flight metadata; with it they serialize to v0 then v1
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until 2).map(_ => new Thread(() => {
      try { IcebergExport.exportAcid(spark, t, out); () }
      catch { case e: Throwable => errs.add(e) }
    }))
    threads.foreach(_.start()); threads.foreach(_.join(120000))
    assert(errs.isEmpty, s"concurrent export failed: ${errs.peek()}")
    assert(IcebergExport.currentMetaVersion(out).contains(1L),
      s"two exports must land two metadata versions, hint = " +
        s"${IcebergExport.currentMetaVersion(out)}")
    // the head chain resolves and matches the table; BOTH snapshots are in
    // the log and the earlier metadata version file is intact
    assert(IcebergExport.readExport(spark, out).count() == 50L)
    val meta = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(out, "metadata", "v1.metadata.json")), "UTF-8")
    assert("""\{"snapshot-id":""".r.findAllIn(meta).size == 2,
      "second export dropped the first snapshot from the log")
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(out, "metadata", "v0.metadata.json")),
      "the first exporter's committed metadata was clobbered")
  }

  test("updateWhereBranch/deleteWhereBranch: branch predicate-COW rebases as the STATEMENT; publish equals sequential application (r20)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.ops.Acid
    val t = java.nio.file.Files.createTempDirectory("graft_wbr").toString + "/t"
    val tw = java.nio.file.Files.createTempDirectory("graft_wbr_twin").toString + "/t"
    val base = (0L until 100L).map(k => (k, k * 10L)).toDF("k", "x")
    // main's append after the fork contains rows MATCHING both predicates
    // (k=200 %4==0, k=208 %13==0): the rebase replays the STATEMENT, so
    // the branch's update/delete intent reaches them — git-rebase wins
    val mainAdd = Seq((200L, 1L), (201L, 2L), (208L, 3L)).toDF("k", "x")
    Acid.reset(t)
    Acid.appendTxn(spark, t, base, 0L)
    Acid.createBranch(t, "exp", 0L)
    val u = Acid.updateWhereBranch(spark, t, "exp",
      Seq(("x", "x + 1")), "k % 4 = 0", 10L)
    assert(u._2 > 0 && u._2 <= u._3, s"update touched ${u._2}/${u._3}")
    // replay no-ops on the branch ledger
    assert(Acid.updateWhereBranch(spark, t, "exp",
      Seq(("x", "x + 1")), "k % 4 = 0", 10L)._2 == 0,
      "replayed branch UPDATE must no-op")
    Acid.deleteWhereBranch(spark, t, "exp", "k % 13 = 0", 11L)
    // main never saw a byte of the branch DML
    assert(Acid.read(spark, t).as[(Long, Long)].collect().toSet ==
      (0L until 100L).map(k => (k, k * 10L)).toSet,
      "branch predicate-COW leaked into main")
    Acid.appendTxn(spark, t, mainAdd, 1L) // main advances
    // vacuum must keep the frozen statement specs alive with the branch
    Acid.vacuum(t, keep = 1)
    val h = Acid.rebaseBranchDml(spark, t, "exp", txnId = 15L)
    assert(Acid.rebaseBranchDml(spark, t, "exp", txnId = 15L) == h,
      "replayed rebase must no-op through the branch ledger")
    Acid.fastForwardBranch(t, "exp", txnId = 16L)
    // sequential twin: main ops first, then the same statements on main
    Acid.reset(tw)
    Acid.appendTxn(spark, tw, base, 0L)
    Acid.appendTxn(spark, tw, mainAdd, 1L)
    Acid.updateWhere(spark, tw, Seq(("x", expr("x + 1"))), expr("k % 4 = 0"), 10L)
    Acid.deleteWhere(spark, tw, expr("k % 13 = 0"), 11L)
    val got = Acid.read(spark, t).as[(Long, Long)].collect().toSet
    val want = Acid.read(spark, tw).as[(Long, Long)].collect().toSet
    assert(got == want,
      s"rebase-publish != sequential twin: missing ${want.diff(got).take(5)}, " +
        s"extra ${got.diff(want).take(5)}")
    // the statement reached main's post-fork rows in both directions
    assert(got.contains((200L, 2L)), "replayed UPDATE missed main's new matching row")
    assert(!got.exists(_._1 == 208L), "replayed DELETE missed main's new matching row")
    assert(got.contains((201L, 2L)), "a non-matching main row was disturbed")
  }

  test("rebaseBranchDml: a second rebase at the SAME main head keeps the superseded head's replay files readable (ADVICE r18)") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    import graft.ops.Acid
    val t = java.nio.file.Files.createTempDirectory("graft_rbtwice").toString + "/t"
    Acid.reset(t)
    Acid.appendTxn(spark, t, (0L until 50L).map(k => (k, k * 10L)).toDF("k", "x"), 0L)
    Acid.createBranch(t, "exp", 0L)
    // a branch MERGE so the replay writes materialized part files
    Acid.mergeCowBranch(spark, t, "exp",
      (0L until 50L).filter(_ % 5 == 0).map(k => (k, k + 1L)).toDF("k", "x"),
      "k", 10L)
    Acid.appendTxn(spark, t, Seq((500L, 5000L)).toDF("k", "x"), 1L) // main moves
    val h1 = Acid.rebaseBranchDml(spark, t, "exp", txnId = 20L)
    val firstHead = Acid.readBranch(spark, t, "exp")
      .as[(Long, Long)].collect().toSet
    // second rebase at the SAME main head, FRESH txnId (a driver that lost
    // the first ack and retried with a new id): replay dirs are keyed by
    // the rebase's own txnId, so the first head's part files must survive —
    // the old keying overwrote them (part-file names are not stable),
    // failing concurrent readers and dangling the superseded manifest
    val h2 = Acid.rebaseBranchDml(spark, t, "exp", txnId = 21L)
    assert(h2 == h1 + 1)
    // the SUPERSEDED head manifest still resolves to readable bytes — the
    // view a concurrent reader that pinned manifest h1 mid-replay holds
    val h1Files = java.nio.file.Files
      .readAllLines(java.nio.file.Paths.get(t, s"manifest-br-exp-$h1.txt"))
      .asScala.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).toSeq
    val againFirst = spark.read.parquet(h1Files.map(f => s"$t/$f"): _*)
      .select("k", "x").as[(Long, Long)].collect().toSet
    assert(againFirst == firstHead,
      "second rebase clobbered the first rebase's replay files")
    // and the new head carries identical logical content (same base, same ops)
    assert(Acid.readBranch(spark, t, "exp").as[(Long, Long)].collect().toSet ==
      firstHead)
  }

  test("eraseKeysLineage vs a lock-free CAS append: survivor list stays sound, the retry aborts loudly, assignRowIds + re-run completes (r19)") {
    import spark.implicits._
    import graft.ops.Acid
    import org.apache.spark.sql.functions.col
    val t = java.nio.file.Files.createTempDirectory("graft_erslin_race").toString + "/t"
    Acid.reset(t)
    Acid.appendTxn(spark, t, (0L until 100L).map(k => (k, k * 10L)).toDF("k", "x"), 0L)
    Acid.assignRowIds(spark, t, 1L)
    Acid.analyzeTable(spark, t, 2L, bloom = Some(("k", col("k"))))
    def idMap() = Acid.readLineage(spark, t)
      .select(col("k"), col("row_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val before = idMap()
    // a lock-free append lands INSIDE the snapshot-to-claim window: the
    // stale-snapshot precheck must retry rather than commit a survivor
    // list that drops the racer's file — and the retry must fail LOUDLY
    // (the racer's file has no id assignment; silently erasing around it
    // would be a lie), never silently lose the racer's rows
    Acid.raceHook = () => {
      Acid.raceHook = () => () // fire once
      Acid.appendTxnCAS(spark, t, Seq((500L, 1L)).toDF("k", "x"), 10L)
      ()
    }
    val e = intercept[RuntimeException] {
      try Acid.eraseKeysLineage(spark, t, Seq(3L, 7L), "k", "k", 11L)
      finally Acid.raceHook = () => ()
    }
    assert(e.getMessage.contains("assignRowIds"), e.getMessage)
    // nothing committed by the aborted erase; the racer's row is intact
    assert(!Acid.committedTxns(t).contains(11L), "aborted erase committed")
    // the documented recovery: assign the racer's ids, re-run the erase
    Acid.assignRowIds(spark, t, 12L)
    val (v, rewritten, total) = Acid.eraseKeysLineage(spark, t, Seq(3L, 7L), "k", "k", 11L)
    assert(rewritten <= total)
    val after = idMap()
    assert(after(500L) == 100L, s"racer's row lost or re-id'd: ${after.get(500L)}")
    assert(after.removedAll(Seq(500L)) == before.removedAll(Seq(3L, 7L)),
      "surviving ids moved across the raced erase")
    assert(Acid.eraseKeysLineage(spark, t, Seq(3L, 7L), "k", "k", 11L)._1 == v,
      "replayed lineage erase advanced the table")
  }

}

/** Static rendezvous for the optimistic-append overlap proof: local-mode
  * tasks share the JVM, so a module-held barrier is reachable from inside
  * the write job. The 120 s await bound turns "data phases cannot run
  * concurrently" into a loud task failure instead of a hung suite. */
object DataPhaseBarrier {
  @volatile private var barrier: java.util.concurrent.CyclicBarrier = _
  def reset(parties: Int): Unit =
    barrier = new java.util.concurrent.CyclicBarrier(parties)
  def await(): Unit =
    barrier.await(120, java.util.concurrent.TimeUnit.SECONDS)
}

/** Holds a task until the test opens it — lets a spec stop a commit
  * inside its build, after it has claimed its version. */
object BuildGate {
  @volatile private var latch = new java.util.concurrent.CountDownLatch(1)
  def reset(): Unit = latch = new java.util.concurrent.CountDownLatch(1)
  def open(): Unit = latch.countDown()
  def await(): Unit = latch.await(120, java.util.concurrent.TimeUnit.SECONDS)
}
