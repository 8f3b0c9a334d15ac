package graft.ops

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Multi-table ATOMIC transactions — the catalog-level commit a governed
  * lakehouse needs and single-table log protocols famously lack (public
  * shape: Nessie / Iceberg-REST multi-table commits; Delta's per-table log
  * cannot express "these two tables change together"). A fact table and
  * its dimension, or a dataset and its index, must move in lockstep: a
  * reader who sees the new fact rows but the old dimension joins garbage.
  *
  * Mechanism, layered ON TOP of the per-table [[Acid]] protocol (whose
  * single-table guarantees are untouched):
  *
  *  - A CATALOG is a directory of member tables plus its own versioned
  *    pointer log: `catalog-<v>.txt` maps table name → pinned table
  *    version (O(tables) control plane), `_current` names the committed
  *    catalog version — same atomic write-tmp-then-move flip as a table
  *    pointer, so a reader resolves EITHER the old pin set or the new one,
  *    never a mix.
  *  - [[commitTxn]] first lands every table's append through
  *    [[Acid.appendTxn]] (per-table manifests, txn ledger, data files —
  *    all the existing machinery), then flips the catalog pointer to a
  *    manifest pinning each member's resulting version. Tables advance
  *    BEFORE the catalog does; catalog readers keep resolving the old
  *    consistent pin set until the single flip.
  *  - **Crash atomicity**: a crash after some table appends but before the
  *    catalog flip leaves catalog readers on the old snapshot (the
  *    half-committed table versions are invisible through the catalog);
  *    the writer retries with the SAME txnId and every table append
  *    no-ops through its txn ledger — the retry completes the flip.
  *    Exactly-once end to end, the same (appId, version) idempotence
  *    contract as the per-table seam.
  *  - **Snapshot isolation for readers**: [[snapshot]] resolves the pin
  *    set once; [[readAt]] then reads each table AT its pinned version
  *    (the per-table time-travel path). Later commits never tear an
  *    in-progress multi-table read — the Iceberg "one snapshot, many
  *    tables" read contract.
  *
  * At 100 TB the catalog costs O(tables) text per commit and one atomic
  * rename — the data path (executor parquet writes, manifest diffs) is
  * exactly the per-table protocol's; nothing new shuffles or serializes
  * except the pointer flip itself, which is the point.
  */
object Catalog {

  private def pointer(dir: String) = Paths.get(dir, "_current")

  def tablePath(dir: String, name: String): String = s"$dir/$name"

  /** Committed catalog version, None before the first commit. */
  def currentVersion(dir: String): Option[Long] = {
    val p = pointer(dir)
    if (!Files.exists(p)) None
    else Some(new String(Files.readAllBytes(p), StandardCharsets.UTF_8).trim.toLong)
  }

  /** Catalog version `v`: a txn ledger plus one `name=version` pin per
    * line — the table manifest's format with the pins as its entry lines,
    * so it is written, parsed and cached (immutable after the pointer
    * flip) through [[Manifest]]. */
  private def manifestAt(dir: String, v: Long): Manifest =
    Manifest.read(Paths.get(dir, s"catalog-$v.txt"))

  /** The pin set of catalog version `v`: table name → pinned table version. */
  def snapshotAt(dir: String, v: Long): Map[String, Long] =
    manifestAt(dir, v).files.map { l =>
      val Array(n, tv) = l.split('=')
      n -> tv.toLong
    }.toMap

  /** The current committed pin set (empty before the first commit). */
  def snapshot(dir: String): Map[String, Long] =
    currentVersion(dir).map(snapshotAt(dir, _)).getOrElse(Map.empty)

  /** Catalog txn ids already committed (replay detection). */
  def committedTxns(dir: String): Set[Long] = currentVersion(dir) match {
    case None => Set.empty
    case Some(v) => manifestAt(dir, v).txns.toSet
  }

  /** Read `table` at the version a snapshot pins — the multi-table
    * consistent read. Resolve [[snapshot]] ONCE and pass it to every
    * [[readAt]] of the same logical read; re-resolving between tables is
    * exactly the torn read this module exists to prevent. */
  def readAt(spark: SparkSession, dir: String, pins: Map[String, Long],
      table: String): DataFrame =
    Acid.readVersion(spark, tablePath(dir, table),
      pins.getOrElse(table, sys.error(s"catalog: table $table not in snapshot")))

  /** Atomically commit appends to SEVERAL member tables: land each through
    * the per-table [[Acid.appendTxn]] (idempotent per txnId), then flip
    * the catalog pointer to a manifest pinning every member's resulting
    * version — including members NOT written this txn, whose pins carry
    * forward, so a snapshot always names the whole catalog. Returns the
    * new catalog version (or the existing one on a replayed txnId). */
  def commitTxn(spark: SparkSession, dir: String, txnId: Long,
      writes: Seq[(String, DataFrame)]): Long = {
    Files.createDirectories(Paths.get(dir))
    if (committedTxns(dir).contains(txnId))
      return currentVersion(dir).get // replay → no-op
    // 1. table phase: every member advances through its OWN protocol;
    //    catalog readers still resolve the old pin set
    writes.foreach { case (name, df) =>
      Acid.appendTxn(spark, tablePath(dir, name), df, txnId)
    }
    // 2. pin phase: current version of every member (just-written AND
    //    carried-forward), one manifest, one atomic flip
    val prevPins = snapshot(dir)
    val pins = (prevPins.keySet ++ writes.map(_._1)).toSeq.sorted.map { n =>
      n -> Acid.currentVersion(tablePath(dir, n)).getOrElse(
        sys.error(s"catalog: member $n has no committed version"))
    }
    val prevTxns = currentVersion(dir).map(manifestAt(dir, _).txns).getOrElse(Seq.empty)
    val v = currentVersion(dir).map(_ + 1).getOrElse(0L)
    // CREATE_NEW put-if-absent: two writers racing the same catalog
    // version cannot silently clobber each other (same hygiene as the
    // table-level commitManifest)
    try {
      Manifest.writeNew(Paths.get(dir, s"catalog-$v.txt"),
        (prevTxns :+ txnId).map(Manifest.Txn) ++
          pins.map { case (n, tv) => Manifest.DataFile(s"$n=$tv") })
    } catch {
      case e: java.nio.file.FileAlreadyExistsException =>
        // catalog-<v>.txt exists but the pointer never reached v: a prior
        // run crashed between the manifest write and the flip (ADVICE r14:
        // without this the documented same-txnId retry recomputes the same
        // v and throws forever). If the orphan carries OUR txn, finishing
        // the flip completes the crashed commit — the table phase already
        // no-oped through each member's own ledger, so the orphan's pins
        // are exactly what this retry would pin. A foreign txn's orphan is
        // unrecoverable without operator action: fail loudly, like
        // Acid.commitNextVersion's orphan check.
        if (currentVersion(dir).exists(_ >= v))
          return commitTxn(spark, dir, txnId, writes) // lost a race: rebase
        if (!manifestAt(dir, v).hasTxn(txnId)) {
          // grace spin (ADVICE r15, mirrors Acid.commitNextVersion's 2s
          // wait): a LIVE concurrent writer that just wrote catalog-<v>.txt
          // but hasn't flipped yet is not a crashed orphan — wait briefly
          // for its pointer flip and rebase; only declare a foreign orphan
          // after the grace expires
          var spins = 0
          while (!currentVersion(dir).exists(_ >= v) && spins < 400) {
            Thread.sleep(5); spins += 1
          }
          if (currentVersion(dir).exists(_ >= v))
            return commitTxn(spark, dir, txnId, writes) // live winner: rebase
          throw new IllegalStateException(
            s"catalog: orphan catalog-$v.txt at $dir from a different txn " +
              s"(crashed writer left a manifest without flipping the " +
              s"pointer) — remove it to recover", e)
        }
      // else: our own orphan — fall through and complete the flip
    }
    val tmp = Paths.get(dir, s"_current.tmp.$v")
    Files.write(tmp, v.toString.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, pointer(dir),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    v
  }

  /** Write-time EXPECTATIONS with quarantine — the Delta Live Tables
    * expectation contract, composed from two existing seams: every row of
    * `df` is tested against `rules` (name → predicate Column, evaluated
    * in declaration order — a row failing several is tagged with the
    * FIRST); passing rows land in the `clean` member, failing rows in the
    * `quarantine` member tagged `__rule`, and BOTH land through ONE
    * [[commitTxn]] — the atomic multi-table flip is what makes the split
    * auditable: no reader can ever see clean rows whose rejects haven't
    * landed (or vice versa), and the crash-retry exactly-once story is
    * the catalog's, not new machinery. Contrast
    * [[Acid.appendTxnChecked]]: constraints REJECT the whole batch;
    * expectations let the good rows through and keep the bad ones for
    * triage — the shape ingest pipelines actually want. The tagging is
    * one CASE expression over the batch: O(batch), map-side, no shuffle
    * beyond the two writes. */
  def commitExpectations(spark: SparkSession, dir: String, txnId: Long,
      df: DataFrame, rules: Seq[(String, org.apache.spark.sql.Column)],
      clean: String = "clean", quarantine: String = "quarantine"): Long = {
    require(rules.nonEmpty, "commitExpectations: no rules — use commitTxn")
    import org.apache.spark.sql.functions.{col, lit, when}
    val firstFailing = rules.foldRight(lit(null: String)) {
      case ((n, p), acc) => when(!p || p.isNull, lit(n)).otherwise(acc)
    }
    val tagged = df.withColumn("__rule", firstFailing)
    commitTxn(spark, dir, txnId, Seq(
      clean -> tagged.filter(col("__rule").isNull).drop("__rule"),
      quarantine -> tagged.filter(col("__rule").isNotNull)))
  }

  /** Wipe a catalog dir (test/demo plumbing, mirrors [[Acid.reset]]). */
  def reset(dir: String): Unit = graft.Tmp.deleteTree(Paths.get(dir))
}
