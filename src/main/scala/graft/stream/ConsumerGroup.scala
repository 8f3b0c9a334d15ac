package graft.stream

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger

/** Consumer-group consumption over the partitioned graft log — Kafka's
  * horizontal-scale primitive for one logical subscriber (reference domain:
  * the event-stream service's high-volume consumers; public shape: Kafka
  * consumer groups / Kinesis enhanced fan-out workers): a GROUP of members
  * divides the topic's partitions so each record is delivered to exactly
  * one member, the group commits per-partition offsets to a shared ledger,
  * and a member leaving hands its partitions to survivors who resume from
  * the committed vector — no loss, no duplicate, across the rebalance.
  *
  * The Spark mapping: each member is an independent StreamingQuery over the
  * [[GraftLogDataSource]] restricted by `assignedPartitions`, so member
  * parallelism is query parallelism (executors scale per member, members
  * scale per group — the two axes a 100 TB feed needs). The group ledger is
  * a tiny JSON offset vector (O(partitions), control plane); commits come
  * from the query's OWN reported source endOffset — the engine's committed
  * progress, not a side channel that could drift from it.
  *
  * Assignment is the deterministic sorted round-robin (Kafka's range
  * assignor shape): members and partitions sorted, partition i → member
  * (i mod |members|). Deterministic assignment means a coordinator replay
  * reproduces the same layout — no reconciliation state.
  */
object ConsumerGroup {

  /** Deterministic partition assignment: sorted partitions round-robin over
    * sorted members. Every partition is assigned to exactly one member;
    * member loads differ by at most one partition. */
  def assign(partitions: Seq[String], members: Seq[String]): Map[String, Seq[String]] = {
    require(members.nonEmpty, "consumer group needs at least one member")
    val ps = partitions.sorted
    val ms = members.sorted
    ps.zipWithIndex
      .groupMap { case (_, i) => ms(i % ms.size) } { case (p, _) => p }
      .view.mapValues(_.toSeq).toMap
      .withDefaultValue(Seq.empty)
  }

  private def ledgerPath(groupDir: String) = Paths.get(groupDir, "offsets.json")
  private def genPath(groupDir: String) = Paths.get(groupDir, "generation.txt")
  private def asgPath(groupDir: String) = Paths.get(groupDir, "assignment.txt")
  private def epochPath(groupDir: String) = Paths.get(groupDir, "part_epochs.txt")

  private def writeAtomic(groupDir: String, target: java.nio.file.Path,
      body: String): Unit = {
    val tmp = Paths.get(groupDir, target.getFileName.toString + ".tmp")
    Files.write(tmp, body.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, target,
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** The recorded member → partitions assignment (empty before the first
    * rebalance that records one). */
  def currentAssignment(groupDir: String): Map[String, Seq[String]] = {
    val p = asgPath(groupDir)
    if (!Files.exists(p)) Map.empty
    else Files.readString(p, StandardCharsets.UTF_8).linesIterator
      .filter(_.nonEmpty).map { l =>
        val (m, ps) = l.span(_ != '\t')
        m -> ps.drop(1).split(',').toSeq.filter(_.nonEmpty)
      }.toMap
  }

  /** Per-partition OWNER EPOCHS (KIP-429's incremental fencing unit): a
    * commit is fenced per PARTITION, not per group — only partitions that
    * actually moved in a rebalance reject the old generation. Empty for
    * pre-epoch groups (legacy whole-group fencing applies there). */
  def partitionEpochs(groupDir: String): Map[String, Long] = {
    val p = epochPath(groupDir)
    if (!Files.exists(p)) Map.empty
    else Files.readString(p, StandardCharsets.UTF_8).linesIterator
      .filter(_.nonEmpty).map { l =>
        val (part, e) = l.span(_ != '\t'); part -> e.drop(1).trim.toLong
      }.toMap
  }

  private def writeAssignment(groupDir: String,
      asg: Map[String, Seq[String]]): Unit =
    writeAtomic(groupDir, asgPath(groupDir),
      asg.toSeq.sortBy(_._1).map { case (m, ps) =>
        s"$m\t${ps.sorted.mkString(",")}" }.mkString("", "\n", "\n"))

  private def bumpEpochs(groupDir: String, moved: Set[String], gen: Long): Unit =
    writeAtomic(groupDir, epochPath(groupDir),
      (partitionEpochs(groupDir) ++ moved.map(_ -> gen)).toSeq.sortBy(_._1)
        .map { case (p, e) => s"$p\t$e" }.mkString("", "\n", "\n"))

  /** Group-coordinator critical section (ADVICE r14: the epoch fence was
    * check-then-act — a rebalance bumping the generation between a zombie's
    * check and its ledger merge let the stale commit land under the new
    * epoch). Serializing [[rebalance]] and [[commitOffsets]] through one
    * atomic O_EXCL lock file makes check+merge atomic relative to epoch
    * bumps — the same primitive Kafka gets from running both through the
    * single group coordinator. Bounded spin turns a crashed holder into a
    * loud error, mirroring Acid.withWriterLock. */
  private def withGroupLock[T](groupDir: String)(body: => T): T = {
    Files.createDirectories(Paths.get(groupDir))
    val lock = Paths.get(groupDir, "_lock")
    var spins = 0
    var acquired = false
    while (!acquired) {
      try { Files.createFile(lock); acquired = true }
      catch { case _: java.nio.file.FileAlreadyExistsException =>
        spins += 1
        require(spins < 12000, s"ConsumerGroup: coordinator-lock timeout on $groupDir")
        Thread.sleep(5)
      }
    }
    try body finally Files.deleteIfExists(lock)
  }

  /** The group's committed offset vector (empty before any commit). */
  def committedOffsets(groupDir: String): Map[String, Long] = {
    val p = ledgerPath(groupDir)
    if (!Files.exists(p)) Map.empty
    else GraftLogOffset.parse(Files.readString(p, StandardCharsets.UTF_8)).parts
  }

  /** The group's current generation (0 before the first rebalance). */
  def currentGeneration(groupDir: String): Long = {
    val p = genPath(groupDir)
    if (!Files.exists(p)) 0L
    else Files.readString(p, StandardCharsets.UTF_8).linesIterator
      .next().trim.toLong
  }

  /** Membership change = REBALANCE (Kafka's group epoch): bump the group
    * generation and record the new membership + its deterministic
    * assignment. Returns (generation, assignment). A member that missed
    * the rebalance keeps its OLD generation and is FENCED at its next
    * commit — the zombie cannot advance offsets for partitions it no
    * longer owns (with max-merge commits, an unfenced zombie committing
    * ahead on a revoked partition would make the new owner SKIP records:
    * silent loss; the epoch turns that into a loud rejection). Atomic
    * write-tmp-then-move like the ledger. */
  def rebalance(groupDir: String, partitions: Seq[String],
      members: Seq[String]): (Long, Map[String, Seq[String]]) = withGroupLock(groupDir) {
    val gen = currentGeneration(groupDir) + 1
    val asg = assign(partitions, members)
    // Write ORDER matters across a coordinator crash (ADVICE r18): the
    // generation file must land LAST. If it landed first and the crash hit
    // before the epoch bump, moved partitions would carry stale epochs at
    // the new generation — a revoked zombie's old-generation commit would
    // pass the per-partition fence and max-merge ahead, making the new
    // owner skip records (silent loss). Epochs-then-generation means a
    // mid-crash OVER-fences (epochs ahead of the group generation → loud,
    // retryable rejection) instead of under-fencing.
    writeAssignment(groupDir, asg)
    // EAGER semantics: every partition is revoked-and-reassigned, so every
    // partition's owner epoch bumps — any pre-rebalance generation is
    // fenced everywhere (the classic stop-the-world protocol)
    bumpEpochs(groupDir, partitions.toSet, gen)
    val body = (gen.toString +: members.sorted).mkString("", "\n", "\n")
    writeAtomic(groupDir, genPath(groupDir), body)
    (gen, asg)
  }

  /** COOPERATIVE (incremental) rebalance — Kafka KIP-429's shape: instead
    * of revoking every partition from every member (the eager
    * stop-the-world above), compute a STICKY assignment that moves as few
    * partitions as possible — surviving members keep what they own up to
    * the balanced target, only the excess plus orphaned/new partitions
    * change hands — and bump owner epochs ONLY for the moved set. The
    * consequences, both pinned in StreamingSpec:
    *
    *  - an UNMOVED member never stops: its in-flight query keeps running
    *    through the rebalance and its commits under the OLD generation
    *    stay valid for its (unmoved) partitions — no rejoin, no restart;
    *  - a member whose partition moved is fenced exactly there: its old
    *    generation still commits its kept partitions but rejects the
    *    moved one (per-partition fencing, the KIP-429 contract).
    *
    * Deterministic (sorted members/partitions, sorted keep-order), so a
    * coordinator replay reproduces the layout. Returns (generation,
    * assignment, moved partitions). */
  def rebalanceCooperative(groupDir: String, partitions: Seq[String],
      members: Seq[String]): (Long, Map[String, Seq[String]], Set[String]) =
    withGroupLock(groupDir) {
      require(members.nonEmpty, "consumer group needs at least one member")
      val ps = partitions.sorted
      val ms = members.sorted
      val prev = currentAssignment(groupDir)
      val base = ps.size / ms.size
      val extra = ps.size % ms.size
      val target: Map[String, Int] = ms.zipWithIndex.map { case (m, i) =>
        m -> (base + (if (i < extra) 1 else 0)) }.toMap
      // sticky keep: each surviving member retains its current partitions
      // (still live) up to its target, in sorted order
      val kept: Map[String, Seq[String]] = ms.map { m =>
        m -> prev.getOrElse(m, Seq.empty).filter(ps.contains).sorted
          .take(target(m))
      }.toMap
      val keptSet = kept.values.flatten.toSet
      var pool = ps.filterNot(keptSet) // new + revoked + orphaned
      val asg: Map[String, Seq[String]] = ms.map { m =>
        val need = target(m) - kept(m).size
        val take = pool.take(need)
        pool = pool.drop(need)
        m -> (kept(m) ++ take).sorted
      }.toMap
      def ownerIn(a: Map[String, Seq[String]], p: String): Option[String] =
        a.toSeq.sortBy(_._1).collectFirst { case (m, l) if l.contains(p) => m }
      val moved = ps.filter(p => ownerIn(prev, p) != ownerIn(asg, p)).toSet
      val gen = currentGeneration(groupDir) + 1
      // Same crash-ordering contract as the eager path: assignment and
      // epochs first, generation file LAST, so a coordinator crash between
      // the writes over-fences (loud) rather than under-fences (silent skip).
      writeAssignment(groupDir, asg)
      bumpEpochs(groupDir, moved, gen) // ONLY the moved partitions
      writeAtomic(groupDir, genPath(groupDir),
        (gen.toString +: ms).mkString("", "\n", "\n"))
      (gen, asg.withDefaultValue(Seq.empty), moved)
    }

  /** Merge a member's end-of-run offsets into the group ledger, keeping the
    * MAX per partition (commits are monotone; a replayed member re-commits
    * positions the ledger already holds — idempotent). Atomic
    * write-tmp-then-move so a reader never sees a torn ledger.
    * `generation`, when given, is checked against the group's current
    * epoch: a commit from an older generation throws
    * [[FencedGenerationException]] and leaves the ledger untouched. */
  def commitOffsets(groupDir: String, offsets: Map[String, Long],
      generation: Option[Long] = None): Unit = withGroupLock(groupDir) {
    // fence check INSIDE the coordinator lock: a rebalance cannot bump the
    // epoch between this check and the ledger merge below. With recorded
    // owner epochs the fence is PER PARTITION (KIP-429): a generation is
    // stale only for partitions that moved past it — an unmoved member's
    // old-generation commits stay valid. Pre-epoch groups keep the legacy
    // whole-group fence.
    generation.foreach { g =>
      val eps = partitionEpochs(groupDir)
      if (eps.nonEmpty) {
        // A generation ABOVE the group's current one is a protocol bug
        // (no rebalance issued it) — the legacy whole-group check caught
        // this; keep it alongside the per-partition fence (ADVICE r18),
        // else a buggy member claiming a future generation bypasses
        // fencing on every partition.
        val cur = currentGeneration(groupDir)
        if (g > cur) throw new FencedGenerationException(
          s"commit from generation $g rejected: group is at generation $cur")
        offsets.keys.toSeq.sorted.find(p => g < eps.getOrElse(p, 0L))
          .foreach { p =>
            throw new FencedGenerationException(
              s"commit from generation $g rejected: partition $p owner " +
                s"epoch is ${eps(p)}")
          }
      } else {
        val cur = currentGeneration(groupDir)
        if (g != cur) throw new FencedGenerationException(
          s"commit from generation $g rejected: group is at generation $cur")
      }
    }
    val merged = (committedOffsets(groupDir).toSeq ++ offsets.toSeq)
      .groupMapReduce(_._1)(_._2)(math.max)
    val tmp = Paths.get(groupDir, "offsets.json.tmp")
    Files.write(tmp, GraftLogOffset(merged).json().getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, ledgerPath(groupDir),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  private val memberSinkId = new java.util.concurrent.atomic.AtomicLong(0)

  /** One member's drain: run an AvailableNow query over the member's
    * assigned partitions, starting from the group's committed vector
    * (positions for partitions the ledger doesn't name reset to log start),
    * commit the query's reported end offsets back to the ledger, and return
    * the received rows. `maxRecordsPerTrigger` keeps the drain multi-batch
    * so the vector-offset admission path is what's exercised. */
  def drainMember(spark: SparkSession, log: String, groupDir: String,
      assigned: Seq[String], maxRecordsPerTrigger: Option[Long] = None,
      generation: Option[Long] = None): DataFrame = {
    val start = committedOffsets(groupDir).view
      .filterKeys(assigned.toSet).toMap
    val src = GraftLog.readStream(spark, log,
      maxRecordsPerTrigger = maxRecordsPerTrigger,
      assignedPartitions = Some(assigned),
      startingOffsetVector = if (start.isEmpty) None else Some(start))
    val tbl = s"graft_cg_member_${memberSinkId.incrementAndGet()}"
    val q = StreamOps.start(spark, src.writeStream.format("memory").queryName(tbl)
      .option("checkpointLocation", graft.Tmp.ckpt("cg_member"))
      .trigger(Trigger.AvailableNow()))
    q.awaitTermination()
    // the engine's committed progress IS the group commit: the last
    // micro-batch's source endOffset vector (never ahead of what the sink
    // observed under AvailableNow's drain-then-terminate contract)
    val end = Option(q.lastProgress)
      .orElse(q.recentProgress.lastOption)
      .flatMap(p => p.sources.headOption)
      .flatMap(s => Option(s.endOffset))
    end.foreach(j => commitOffsets(groupDir, GraftLogOffset.parse(j).parts, generation))
    spark.table(tbl)
  }
}

/** A member committed under a generation the group has moved past — the
  * Kafka `FencedInstanceIdException` shape: the zombie must rejoin (and
  * resume from the ledger), never write. */
final class FencedGenerationException(msg: String) extends RuntimeException(msg)
