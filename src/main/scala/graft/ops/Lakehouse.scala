package graft.ops

import graft.{Det, Q, Tables}
import org.apache.spark.sql.functions._

/** SURVEY §2.12 — lakehouse table-management operators on the [[Acid]]
  * manifest-pointer seam (r11 continuation of the commit-protocol work):
  * manifest-level data skipping, merge-on-read equality deletes, and
  * retention vacuum. Together with `sink_upsert` / `sink_compact` /
  * `sink_time_travel` / `stream_acid_sink` these are the operations that
  * turn a pile of parquet into a governable 100 TB table: prune before you
  * list, delete without rewriting, and bound how much history you pay to
  * keep.
  */
object Lakehouse {
  import Det._

  private def utcMicros(iso: String): Long =
    java.time.Instant.parse(iso).toEpochMilli * 1000L

  // r19 bench hygiene (stagedBin's pattern, Scans.scala): staged fixtures
  // that are pure functions of the fixture dir memoize per (sfDir, JVM) so
  // repeated timings measure the key's own work, not its staging
  private val stagedHiddenTbl = scala.collection.mutable.Map.empty[String, String]
  private val stagedPosdelTbl = scala.collection.mutable.Map.empty[String, String]

  /** Recursive file-level clone (fixture-scale staging only). */
  private def cloneDir(src: String, dst: String): Unit = {
    val from = java.nio.file.Paths.get(src)
    val to = java.nio.file.Paths.get(dst)
    val walk = java.nio.file.Files.walk(from)
    try walk.forEach { p =>
      val t = to.resolve(from.relativize(p))
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(t)
      else java.nio.file.Files.copy(p, t,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } finally walk.close()
  }

  val queries: Seq[Q] = Seq(

    // Manifest zone maps (r11): commit events range-clustered on ts with
    // per-file min/max recorded in the manifest, then answer a 3-day
    // window query by pruning the FILE LIST before Spark ever opens a
    // footer — Delta/Iceberg data skipping. Range clustering is what makes
    // the zone maps sharp (each file owns a disjoint ts slice); the
    // residual predicate stays on the scan, so skipping can only drop
    // provably-dead files, never change the answer. At 100 TB this is the
    // difference between listing/opening 40,000 files and opening the 4
    // whose ranges overlap the query window — manifest pruning costs
    // O(files) driver-side arithmetic, no I/O. OperatorSpec pins that the
    // prune actually drops most files AND that pruned == unpruned.
    Q("scan_zonemap",
      (spark, sfDir) => {
        val table = graft.Tmp.dir("scan_zonemap", sfDir)
        Acid.reset(table)
        Acid.commit(spark, table,
          Tables.events(spark, sfDir).repartitionByRange(8, col("ts")),
          stats = Some("ts_us" -> unix_micros(col("ts"))))
        val lo = "2024-01-10T00:00:00Z"
        val hi = "2024-01-13T00:00:00Z"
        Acid.readSkipping(spark, table, "ts_us", utcMicros(lo), utcMicros(hi) - 1)
          .filter(col("ts") >= to_timestamp(lit("2024-01-10 00:00:00")) &&
            col("ts") < to_timestamp(lit("2024-01-13 00:00:00")))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), sumVal6(col("value")).as("sum_val"))
          .orderBy(col("event_type"))
      },
      Some(s"""
        SELECT event_type, COUNT(*) AS n, ${sqlSumVal6("value")} AS sum_val
        FROM events
        WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
          AND ts <  TIMESTAMP '2024-01-13 00:00:00'
        GROUP BY event_type
        ORDER BY event_type""".trim)),

    // Merge-on-read equality deletes (r11): deleting rows from a 100 TB
    // table by rewriting every touched file is O(table); committing the
    // deleted KEYS as a vector and letting readers subtract them is
    // O(deletes) — Iceberg equality-delete files / Delta deletion vectors.
    // Two delete txns land against an appended base WITHOUT touching one
    // data file (OperatorSpec pins the manifest's data-file list is
    // byte-identical across them); a later append must not resurrect
    // deleted keys; the read path applies one broadcast anti-join. The
    // oracle reconstructs the same final state set-theoretically, so the
    // whole commit → vector → merge-on-read pipeline is hash-checked.
    // compactDeletes (the deferred copy-on-write) is pinned equal in spec.
    Q("sink_merge_on_read",
      (spark, sfDir) => {
        val table = graft.Tmp.dir("sink_mor", sfDir)
        Acid.reset(table)
        val base = Tables.orders(spark, sfDir)
          .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        Acid.appendTxn(spark, table, base, txnId = 0L)
        Acid.deleteTxn(spark, table,
          Tables.orders(spark, sfDir)
            .filter(col("o_orderstatus") === "F" && col("o_orderkey") % 7 === 0)
            .select(col("o_orderkey")),
          "o_orderkey", txnId = 1L)
        Acid.deleteTxn(spark, table,
          Tables.orders(spark, sfDir)
            .filter(col("o_orderkey") % 11 === 3)
            .select(col("o_orderkey")),
          "o_orderkey", txnId = 2L)
        // late arrivals under shifted keys: appended AFTER the deletes,
        // must survive them (vectors subtract keys, not predicates; the
        // shift is data-relative so a shifted key can never alias a
        // vector-deleted key at any fixture scale — r16 sf10 lesson)
        val s = base.agg(max(col("o_orderkey"))).head.getLong(0) + 1
        Acid.appendTxn(spark, table,
          base.filter(col("o_orderkey") < 50)
            .select((col("o_orderkey") + s).as("o_orderkey"),
              col("o_orderstatus"), col("o_totalprice")),
          txnId = 3L)
        Acid.read(spark, table).orderBy(col("o_orderkey"))
      },
      Some("""
        WITH del AS (
          SELECT o_orderkey FROM orders
          WHERE (o_orderstatus = 'F' AND o_orderkey % 7 = 0)
             OR o_orderkey % 11 = 3
        ), b AS (SELECT MAX(o_orderkey) + 1 AS s FROM orders)
        SELECT o_orderkey, o_orderstatus, o_totalprice FROM (
          SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
          WHERE o_orderkey NOT IN (SELECT o_orderkey FROM del)
          UNION ALL
          SELECT o_orderkey + s AS o_orderkey, o_orderstatus, o_totalprice
          FROM orders, b WHERE o_orderkey < 50
        ) ORDER BY o_orderkey""".trim)),

    // Retention vacuum (r11): time travel is free only until someone pays
    // the storage bill — Delta VACUUM / Iceberg expireSnapshots bound it.
    // Three full-rewrite versions, then vacuum(keep = 2): v0's files are
    // referenced by no retained manifest and are physically deleted, the
    // horizon marker advances first (crash mid-vacuum leaves unreferenced
    // garbage, never a readable version with missing files), and an
    // expired time travel fails loudly. The key returns the current state
    // AFTER the vacuum — proving GC touched only dead files — and the
    // oracle reconstructs that state from the fixture. OperatorSpec pins
    // the disk-level deletions, the loud v0 failure, and that retained
    // versions still read.
    Q("sink_vacuum",
      (spark, sfDir) => {
        val table = graft.Tmp.dir("sink_vacuum", sfDir)
        Acid.reset(table)
        val base = Tables.documents(spark, sfDir)
          .select(col("doc_id"), col("lang"), col("n_chars"))
        Acid.commit(spark, table, base)
        Acid.commit(spark, table,
          Acid.read(spark, table)
            .filter(col("doc_id") % 3 =!= 0)
            .withColumn("n_chars", col("n_chars") + 1))
        Acid.commit(spark, table,
          Acid.read(spark, table).withColumn("lang", upper(col("lang"))))
        Acid.vacuum(table, keep = 2)
        Acid.read(spark, table).orderBy(col("doc_id"))
      },
      Some("""
        SELECT doc_id, UPPER(lang) AS lang, n_chars + 1 AS n_chars
        FROM documents
        WHERE doc_id % 3 <> 0
        ORDER BY doc_id""".trim)),

    // Incremental materialized-view maintenance (r11): the aggregate MV —
    // per (day, type) counts and exact micro-scaled value sums — is
    // maintained ADDITIVELY: the base builds v0, then the delta batch is
    // aggregated ALONE (O(delta), the whole point) and merged into the
    // standing MV by a full-outer key join with coalesced addition,
    // committing v1 through the Acid seam. Base events are never
    // re-scanned on refresh — at 100 TB that is the difference between an
    // hourly refresh costing O(new events) and O(history). Works because
    // count/sum are ABELIAN-GROUP partials (the same property that makes
    // them map-side combinable); non-additive metrics (exact distinct,
    // percentiles) need mergeable sketches instead — agg_sketch_merge's
    // territory. Sums ride as exact scaled-micros BIGINTs, so the merge
    // arithmetic is integer and the oracle (one full recompute) must
    // match bit-for-bit — proving the incremental path loses nothing.
    Q("sink_incremental_mv",
      (spark, sfDir) => {
        val table = graft.Tmp.dir("sink_incmv", sfDir)
        Acid.reset(table)
        def rollup(df: org.apache.spark.sql.DataFrame) = df
          .groupBy(to_date(col("ts")).as("d"), col("event_type"))
          .agg(count(lit(1)).as("n"),
            (sum(val6(col("value"))) * 1000000).cast("long").as("sum_micros"))
        val ev = Tables.events(spark, sfDir)
        Acid.commit(spark, table, rollup(ev.filter(col("event_id") % 5 =!= 0)))
        // refresh: aggregate ONLY the delta, merge into the standing MV
        val delta = rollup(ev.filter(col("event_id") % 5 === 0))
        val mv = Acid.read(spark, table).as("m")
          .join(delta.as("x"), Seq("d", "event_type"), "full_outer")
          .select(col("d"), col("event_type"),
            (coalesce(col("m.n"), lit(0L)) + coalesce(col("x.n"), lit(0L))).as("n"),
            (coalesce(col("m.sum_micros"), lit(0L)) +
              coalesce(col("x.sum_micros"), lit(0L))).as("sum_micros"))
        Acid.commit(spark, table, mv)
        Acid.read(spark, table).orderBy(col("d"), col("event_type"))
      },
      Some("""
        SELECT CAST(ts AS DATE) AS d, event_type, COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) * 1000000 AS BIGINT)
                 AS sum_micros
        FROM events
        GROUP BY 1, 2
        ORDER BY d, event_type""".trim)),

    // Manifest bloom filters (r11): the POINT-LOOKUP twin of scan_zonemap.
    // Zone maps are sharp only for the clustering key; a "show me user
    // 7's events" lookup on a log clustered any other way overlaps every
    // file's ts range. So the commit records a per-file 4096-bit bloom
    // over user_id (hash-bucket clustering makes each file hold ~1/8 of
    // users), and the read prunes the FILE LIST to the (few) files whose
    // bloom admits the key — O(files) driver arithmetic before any
    // footer I/O, Iceberg's puffin-file shape. A bloom "no" is proof, a
    // "yes" only probable: the residual predicate stays on the scan, so
    // a false positive costs one wasted file read, never a wrong row.
    // OperatorSpec pins real pruning, pruned == unpruned, and that an
    // absent key prunes everything to a schema-stable empty frame.
    Q("scan_bloom_skip",
      (spark, sfDir) => {
        val table = graft.Tmp.dir("scan_bloomskip", sfDir)
        Acid.reset(table)
        Acid.commit(spark, table,
          Tables.events(spark, sfDir)
            .repartition(8, pmod(col("user_id"), lit(8))),
          bloom = Some("user_id" -> col("user_id")))
        Acid.readBloomSkipping(spark, table, "user_id", key = 7L)
          .filter(col("user_id") === 7L)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), sumVal6(col("value")).as("sum_val"))
          .orderBy(col("event_type"))
      },
      Some(s"""
        SELECT event_type, COUNT(*) AS n, ${sqlSumVal6("value")} AS sum_val
        FROM events
        WHERE user_id = 7
        GROUP BY event_type
        ORDER BY event_type""".trim)),

    // Additive schema evolution (r11): the new column arrives BEFORE the
    // old data leaves — txn 0 lands the base without `c_mktsegment`, txn
    // 1 appends rows that carry it, and the evolved read surfaces the
    // union schema with NULLs for pre-evolution files. Not one byte of
    // old data is rewritten (OperatorSpec pins the txn-0 files unchanged
    // on disk by name and mtime) — at 100 TB an ALTER TABLE ADD COLUMN
    // that rewrote history would be an outage, so additive evolution
    // must be metadata-only; readers pay one NULL-fill projection on old
    // files. The oracle rebuilds the same union set-theoretically with
    // an explicit NULL cast, proving value-level equivalence end-to-end.
    Q("sink_schema_evolution",
      (spark, sfDir) => {
        val table = graft.Tmp.dir("sink_schemaevo", sfDir)
        Acid.reset(table)
        val cust = Tables.customer(spark, sfDir)
        Acid.appendTxn(spark, table,
          cust.filter(col("c_custkey") % 2 === 0)
            .select(col("c_custkey"), col("c_name"), money(col("c_acctbal")).as("bal")),
          txnId = 0L)
        Acid.appendTxn(spark, table,
          cust.filter(col("c_custkey") % 2 === 1)
            .select(col("c_custkey"), col("c_name"), money(col("c_acctbal")).as("bal"),
              col("c_mktsegment")),
          txnId = 1L)
        Acid.readEvolved(spark, table)
          .select(col("c_custkey"), col("c_name"),
            emit(col("bal"), 2).as("bal"), col("c_mktsegment"))
          .orderBy(col("c_custkey"))
      },
      Some("""
        SELECT c_custkey, c_name,
               CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS DOUBLE) AS bal,
               CASE WHEN c_custkey % 2 = 1 THEN c_mktsegment
                    ELSE CAST(NULL AS VARCHAR) END AS c_mktsegment
        FROM customer
        ORDER BY c_custkey""".trim)),

    // Optimistic multi-writer commit (r11): four UNCOORDINATED writer
    // threads append disjoint order slices through `Acid.appendTxnCAS` —
    // no table lock anywhere on that path. Each writer lands its data
    // outside any critical section, claims its target version with an
    // atomic O_EXCL create (Delta's put-if-absent on <v>.json), and on
    // losing a claim re-reads the advanced state and REBASES its
    // manifest against the winner's — append-vs-append never conflicts,
    // so all four land whatever the interleaving. At 100 TB this is the
    // difference between one serialized ingest lock across a fleet of
    // writers and contention only on the O(lines) manifest step. The
    // oracle demands the union be exactly the source table regardless of
    // commit order; OperatorSpec pins the 8-thread race (complete
    // ledger, version chain, row conservation).
    Q("sink_concurrent_append",
      (spark, sfDir) => {
        val table = graft.Tmp.dir("sink_concappend", sfDir)
        Acid.reset(table)
        val or = Tables.orders(spark, sfDir)
          .select(col("o_orderkey"), col("o_orderstatus"),
            money(col("o_totalprice")).as("price"))
        val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
        val threads = (0 until 8).map { i =>
          val slice = or.filter(pmod(col("o_orderkey"), lit(8)) === i)
          new Thread(() => {
            try Acid.appendTxnCAS(spark, table, slice, txnId = i.toLong)
            catch { case t: Throwable => errs.add(t) }
          })
        }
        threads.foreach(_.start()); threads.foreach(_.join())
        if (!errs.isEmpty) throw errs.peek()
        // every writer committed exactly once — 8 versions, full ledger
        // (ConcurrencySpec additionally pins that the DATA writes
        // overlapped: only the O(lines) manifest step serializes)
        require(Acid.committedTxns(table) == (0L until 8L).toSet,
          s"txn ledger incomplete: ${Acid.committedTxns(table)}")
        require(Acid.currentVersion(table).contains(7L),
          s"expected 8 commits (v0..v7), got ${Acid.currentVersion(table)}")
        Acid.read(spark, table)
          .select(col("o_orderkey"), col("o_orderstatus"),
            emit(col("price"), 2).as("price"))
          .orderBy(col("o_orderkey"))
      },
      Some("""
        SELECT o_orderkey, o_orderstatus,
               CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price
        FROM orders
        ORDER BY o_orderkey""".trim)),

    // Metadata-only aggregation (r11): COUNT(*) per partition answered
    // from the MANIFEST — the committed `# rows:` statistics plus the
    // hive partition value parsed from each file's path — zero data I/O
    // at query time. This is Delta/Iceberg's stats-answered-query
    // optimization: on a 100 TB table the difference between a fleet-
    // wide scan and O(files) driver arithmetic on metadata the writers
    // recorded for free (parquet footers carry the row count). The
    // driver-side fold here IS the operator — it touches file NAMES and
    // counts, never rows; the oracle recomputes the same counts the
    // expensive way, proving the metadata never drifted from the data.
    Q("scan_metadata_count",
      (spark, sfDir) => {
        val table = graft.Tmp.dir("scan_metacount", sfDir)
        Acid.reset(table)
        Acid.commit(spark, table, Tables.events(spark, sfDir),
          partitionCols = Seq("event_type"), rowCounts = true)
        val v = Acid.currentVersion(table).get
        val counts = Acid.rowStats(table, v)
          .map { case (f, n) =>
            val dir = f.substring(0, f.indexOf('/'))
            (dir.substring(dir.indexOf('=') + 1), n)
          }
          .groupBy(_._1).map { case (t, fs) => (t, fs.map(_._2).sum) }
          .toSeq.sortBy(_._1)
        import spark.implicits._
        counts.toDF("event_type", "n")
      },
      Some("""
        SELECT event_type, COUNT(*) AS n
        FROM events
        GROUP BY event_type
        ORDER BY event_type""".trim)),

    // Open-format interop (r12 — see [[DeltaExport]]): commit events as a
    // Delta Lake table (public JSON transaction log over plain parquet),
    // append a second version, overwrite-restate a third, then read the
    // result back THROUGH THE LOG ALONE (adds minus removes — the exact
    // reconstruction any external Delta reader performs; no directory
    // listing). The oracle recomputes the restated content from the raw
    // table: one wrong add/remove tombstone and the file set — and the
    // hash — diverges. This is the "a real user points Trino/DuckDB at
    // the output" seam the bespoke Acid manifest cannot serve. r13: commits
    // run with checkpointInterval=2, so the read resolves from the v1
    // parquet checkpoint + one JSON replay instead of the full chain —
    // at a commit-per-micro-batch cadence the O(versions) replay was the
    // read bottleneck (r12 verdict item 3); OperatorSpec pins O(1) replay
    // by truncating the JSON chain below the checkpoint.
    Q("sink_delta_export",
      (spark, sfDir) => {
        val dir = graft.Tmp.dir("delta_export", sfDir)
        Acid.reset(dir) // fresh dir each run (same staging policy)
        val ev = Tables.events(spark, sfDir)
        // v0: clicks; v1: append purchases (checkpoint lands here);
        // v2: overwrite with views only
        DeltaExport.commit(spark, dir, ev.filter(col("event_type") === "click"),
          checkpointInterval = 2)
        DeltaExport.commit(spark, dir, ev.filter(col("event_type") === "purchase"),
          checkpointInterval = 2)
        DeltaExport.commit(spark, dir, ev.filter(col("event_type") === "view"),
          overwrite = true, checkpointInterval = 2)
        DeltaExport.readDeltaLog(spark, dir)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), sumVal6(col("value")).as("sum_val"))
          .orderBy(col("event_type"))
      },
      Some(s"""
        SELECT event_type, COUNT(*) AS n, ${sqlSumVal6("value")} AS sum_val
        FROM events
        WHERE event_type = 'view'
        GROUP BY event_type
        ORDER BY event_type""".trim)),

    // ICEBERG-FORMAT EXPORT (r19 — the interop seam's other half, beside
    // sink_delta_export): emit an Acid snapshot as the Iceberg-v2 metadata
    // CHAIN — version-hint.text → v<N>.metadata.json (field-id'd schema,
    // snapshot log, current-snapshot-id) → manifest-list avro → manifest
    // avro → data files — with clean files exported ZERO-COPY as the
    // spec's absolute-path refs and vector-touched files materialized
    // reconciled (one probe scan names them; positional vectors refuse
    // loudly). The output frame is produced by [[IcebergExport.readExport]]
    // — an INDEPENDENT walk of the exported chain with zero Acid calls —
    // so the oracle hash proves an external reader recovers the exact
    // table. Re-export after an append commits a new snapshot that KEEPS
    // the prior one in the snapshot log (Iceberg retains history; in-body
    // pinned) and the refresh is visible through the chain. At 100 TB: a
    // nightly interop export of a mostly-clean table moves ~zero bytes.
    Q("sink_iceberg_export",
      (spark, sfDir) => {
        val table = graft.Tmp.dir("iceberg_src", sfDir)
        val out = graft.Tmp.dir("iceberg_export", sfDir)
        Acid.reset(table); Acid.reset(out)
        // nested columns ride along (r20 — the nested-type refusal lifted:
        // field-ids assign through the tree): a struct and a list column
        // round-trip the chain and surface in the oracle projection
        val or = Tables.orders(spark, sfDir)
          .select(col("o_orderkey"), col("o_orderstatus"),
            money(col("o_totalprice")).as("price"),
            struct(col("o_orderstatus").as("status"),
              (col("o_orderkey") % 10).as("bucket")).as("props"),
            array(col("o_orderkey"), col("o_orderkey") + 1).as("tags"))
        Acid.appendTxn(spark, table, or.filter(col("o_orderkey") % 2 === 0), 0L)
        // a standing MoR vector: the export must reconcile, not resurrect
        Acid.deleteTxn(spark, table,
          or.filter(col("o_orderkey") % 10 === 0).select(col("o_orderkey")),
          "o_orderkey", 1L)
        val (v0, mat0, tot0) = IcebergExport.exportAcid(spark, table, out)
        require(v0 == 0L && mat0 <= tot0,
          s"sink_iceberg_export: bad first export ($v0, $mat0/$tot0)")
        // independent chain walk == the Acid read. Multiset equality via
        // equal counts + one-direction exceptAll (empty exceptAll ⟹ every
        // ext multiplicity ≤ acid's; equal totals close it) — the same pin
        // as the old two-direction form for one less full-width shuffle
        // compare (r20, opt guide §1.2)
        val ext = IcebergExport.readExport(spark, out)
        val acid = Acid.read(spark, table)
        require(ext.count() == acid.count() && ext.exceptAll(acid).isEmpty,
          "sink_iceberg_export: exported chain diverges from the table")
        // refresh cadence: append, re-export → new snapshot, history kept
        Acid.appendTxn(spark, table,
          or.filter(col("o_orderkey") % 2 === 1), 2L)
        val (v1, _, _) = IcebergExport.exportAcid(spark, table, out)
        require(v1 == 1L, s"sink_iceberg_export: refresh landed v$v1")
        val metaPath = java.nio.file.Paths.get(out, "metadata", "v1.metadata.json")
        val meta = new String(java.nio.file.Files.readAllBytes(metaPath), "UTF-8")
        // count snapshot OBJECTS (the snapshot-log entries also carry a
        // snapshot-id field, so match the object opener, not the raw key)
        require("""\{"snapshot-id":""".r.findAllIn(meta).size == 2,
          "sink_iceberg_export: refresh dropped the prior snapshot from the log")
        // the carried log must be WELL-FORMED JSON, not merely regex-visible
        // (r19 review: a truncating carry pattern passed the count check)
        val parsed = spark.read.option("mode", "FAILFAST")
          .json(metaPath.toString)
        require(parsed.columns.contains("snapshots") && parsed.count() == 1L,
          "sink_iceberg_export: v1 metadata.json failed to parse as JSON")
        // the metadata must declare the nested schema with tree field-ids
        require(meta.contains("\"type\":\"struct\",\"fields\":[{\"id\":6") &&
          meta.contains("\"type\":\"list\",\"element-id\":"),
          "sink_iceberg_export: nested schema missing tree field-ids")
        IcebergExport.readExport(spark, out)
          .select(col("o_orderkey"), col("o_orderstatus"),
            emit(col("price"), 2).as("price"),
            col("props.status").as("p_status"),
            col("props.bucket").as("p_bucket"),
            element_at(col("tags"), 2).as("tag2"))
          .orderBy(col("o_orderkey"))
      },
      Some("""
        SELECT o_orderkey, o_orderstatus,
               CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price,
               o_orderstatus AS p_status,
               o_orderkey % 10 AS p_bucket,
               o_orderkey + 1 AS tag2
        FROM orders
        WHERE NOT (o_orderkey % 2 = 0 AND o_orderkey % 10 = 0)
        ORDER BY o_orderkey""".trim)),

    // OPTIMIZE — small-file compaction + clustering (r13): the maintenance
    // op the streaming-sink shape makes mandatory. stream_acid_sink commits
    // a version per micro-batch, so after a day the table is O(batches)
    // tiny files scattered in ARRIVAL order: every scan pays per-file open
    // cost and zone maps prune nothing because no file owns a key range.
    // Here 8 micro-batch-shaped appends land 24 small files; one
    // Acid.optimize rewrite (the same stale-snapshot CAS loop as
    // compactDeletes — a racing append is retried against, never dropped)
    // re-lands the live snapshot as 4 files RANGE-CLUSTERED on o_orderkey
    // with fresh manifest zone maps. In-body requires pin the three claims
    // that make this OPTIMIZE and not just a rewrite: (1) the file count
    // collapses 24 → ≤4; (2) the txn ledger survives, so a replayed
    // micro-batch still no-ops (streaming exactly-once is not reset by
    // maintenance); (3) post-optimize, a key-range query opens ≤ 1/4 of
    // the files via manifest skipping — pre-optimize the same query keeps
    // EVERY file, which is the 100 TB point: compaction is what makes
    // data skipping effective. Time travel to the pre-optimize version
    // stays intact (immutable history). The oracle hash-checks the full
    // read-back against the fixture — the rewrite lost and duplicated
    // nothing.
    Q("sink_acid_optimize",
      (spark, sfDir) => {
        val table = graft.Tmp.dir("sink_acidopt", sfDir)
        Acid.reset(table)
        val or = Tables.orders(spark, sfDir)
          .select(col("o_orderkey"), col("o_orderstatus"),
            money(col("o_totalprice")).as("price"))
        // a day of micro-batches: 8 appends × 3 files each
        (0 until 8).foreach { i =>
          Acid.appendTxn(spark, table,
            or.filter(pmod(col("o_orderkey"), lit(8)) === i).repartition(3),
            txnId = i.toLong)
        }
        val preV = Acid.currentVersion(table).get
        def dataFiles(v: Long) = Acid.skipFiles(table, v, "__none", 0L, 0L)._2
        val preFiles = dataFiles(preV).size
        val preRows = Acid.readVersion(spark, table, preV).count()
        Acid.optimize(spark, table, txnId = 100L, targetFiles = 4,
          clusterCol = Some("o_orderkey"),
          stats = Some("okey" -> col("o_orderkey")))
        val v = Acid.currentVersion(table).get
        val postFiles = dataFiles(v).size
        require(postFiles <= 4 && postFiles < preFiles,
          s"optimize must collapse files: $preFiles -> $postFiles")
        // ledger carried forward: replaying micro-batch 3 must no-op
        require(Acid.appendTxn(spark, table, or.limit(5), txnId = 3L) == v,
          "optimize must carry the txn ledger (replay no-op)")
        // immutable history: the pre-optimize version still reads in full
        require(Acid.readVersion(spark, table, preV).count() == preRows,
          "pre-optimize time travel must stay intact")
        // clustering makes skipping sharp: a key-range probe keeps ≤ 1/4
        // of the files now; pre-optimize it provably kept all of them
        // (no zone maps → nothing is skippable)
        val (kept, all) = Acid.skipFiles(table, v, "okey", 1L, 100L)
        require(kept.size * 4 <= all.size,
          s"range-clustered zone maps must prune: kept ${kept.size} of ${all.size}")
        require(Acid.skipFiles(table, preV, "okey", 1L, 100L)._1.size == preFiles,
          "pre-optimize manifest has no zone maps, so nothing may be skipped")
        Acid.readSkipping(spark, table, "okey", 1L, Long.MaxValue)
          .select(col("o_orderkey"), col("o_orderstatus"),
            emit(col("price"), 2).as("price"))
          .orderBy(col("o_orderkey"))
      },
      Some("""
        SELECT o_orderkey, o_orderstatus,
               CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price
        FROM orders
        ORDER BY o_orderkey""".trim)),

    // Change data feed (r13): row-level changes between two versions —
    // Delta CDF's table_changes / Iceberg's changelog scan, the
    // incremental-consumption seam. A downstream job (MV refresh, search
    // index, replica) that rescans a 100 TB table per cycle is O(table);
    // consuming the feed is O(changes): inserts come from exactly the
    // files ADDED in the window (append-mode commits never touch old
    // files), deletes from the NEW vector keys semi-joined to the
    // window-start state for full preimage rows. History: v0 appends A
    // (keys ≡0 mod 3), v1 appends B (≡1), v2 deletes every key ≡0 mod 7
    // (hitting A and B), v3 appends C (≡2 — its ≡0-mod-7 keys land under
    // the STANDING vector, so they were never visible and must not
    // surface as inserts). The feed over (v0, v3] must be: inserts =
    // B∪C minus the deleted keys, deletes = A's ≡0-mod-7 rows with full
    // preimages — the oracle rebuilds both set-theoretically. The
    // fundamental invariant (state(from) + inserts − deletes ==
    // state(to)) and the loud rewrite-crossing failure are spec-pinned.
    Q("scan_change_feed",
      (spark, sfDir) => {
        val table = graft.Tmp.dir("scan_cdf", sfDir)
        Acid.reset(table)
        val or = Tables.orders(spark, sfDir)
          .select(col("o_orderkey"), col("o_orderstatus"),
            money(col("o_totalprice")).as("price"))
        Acid.appendTxn(spark, table,
          or.filter(col("o_orderkey") % 3 === 0), txnId = 0L) // v0 = A
        Acid.appendTxn(spark, table,
          or.filter(col("o_orderkey") % 3 === 1), txnId = 1L) // v1 = B
        Acid.deleteTxn(spark, table,
          Tables.orders(spark, sfDir)
            .filter(col("o_orderkey") % 7 === 0).select(col("o_orderkey")),
          "o_orderkey", txnId = 2L)                           // v2 = D
        Acid.appendTxn(spark, table,
          or.filter(col("o_orderkey") % 3 === 2), txnId = 3L) // v3 = C
        // consumed through the PURE-SQL entry path (r14 — Delta CDF's
        // table_changes TVF shape): SqlEntry resolves the TVF through
        // Acid.changeFeed, so the SQL user's plan is the DataFrame
        // user's plan (SurfaceDocSpec pins the parity)
        SqlEntry.sqlLakehouse(spark, s"""
          SELECT o_orderkey, o_orderstatus,
                 CAST(CAST(price AS DECIMAL(18,2)) AS DOUBLE) AS price,
                 change_type
          FROM table_changes('$table', 0, 3)
          ORDER BY change_type, o_orderkey""")
      },
      Some("""
        SELECT o_orderkey, o_orderstatus,
               CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price,
               change_type
        FROM (
          SELECT o_orderkey, o_orderstatus, o_totalprice,
                 'insert' AS change_type
          FROM orders
          WHERE o_orderkey % 3 IN (1, 2) AND o_orderkey % 7 <> 0
          UNION ALL
          SELECT o_orderkey, o_orderstatus, o_totalprice,
                 'delete' AS change_type
          FROM orders
          WHERE o_orderkey % 3 = 0 AND o_orderkey % 7 = 0
        )
        ORDER BY change_type, o_orderkey""".trim)),

    // Row-granular CDF with UPDATE IMAGES (see [[Acid.changeFeedRow]]):
    // Delta CDF's four change types reconstructed from manifest diffs, so
    // the feed CROSSES rewrite commits — the one thing [[Acid.changeFeed]]
    // refuses. One MERGE commit (updates + inserts + deletes), one MoR
    // delete, then an OPTIMIZE: the feed must carry the merge as
    // pre/post-image pairs, the MoR delete as deletes, and the maintenance
    // rewrite as NOTHING (in-body require) — carried rows compare equal
    // across the diff and cancel. At 100 TB each step reads only what the
    // commit itself touched; the downstream CDC consumer gets the same
    // contract Delta's table_changes gives without the engine ever
    // materializing change files at write time.
    Q("scan_change_feed_row",
      (spark, sfDir) => {
        val table = graft.Tmp.dir("scan_cdfrow", sfDir)
        Acid.reset(table)
        val or = Tables.orders(spark, sfDir)
          .select(col("o_orderkey"), col("o_orderstatus"),
            money(col("o_totalprice")).as("price"))
        Acid.appendTxn(spark, table,
          or.filter(col("o_orderkey") % 3 === 0), txnId = 0L)        // v0
        val updates = or
          .filter(col("o_orderkey") % 15 === 0 && col("o_orderkey") % 21 =!= 0)
          .withColumn("price", money(col("price") + 1000))
          .withColumn("op", lit("upsert"))
        val inserts = or
          .filter(col("o_orderkey") % 3 === 1 && col("o_orderkey") % 5 === 0)
          .withColumn("op", lit("upsert"))
        val deletes = or.filter(col("o_orderkey") % 21 === 0)
          .withColumn("op", lit("delete"))
        Acid.mergeCow(spark, table,
          updates.unionByName(inserts).unionByName(deletes),
          "o_orderkey", txnId = 1L, opCol = Some("op"))              // v1
        Acid.deleteTxn(spark, table,
          Tables.orders(spark, sfDir)
            .filter(col("o_orderkey") % 33 === 0).select(col("o_orderkey")),
          "o_orderkey", txnId = 2L)                                  // v2 MoR
        Acid.optimize(spark, table, txnId = 3L, targetFiles = 2)     // v3
        // the maintenance-silence pin needs only the v2→v3 window (the
        // OPTIMIZE step's own diff); probing it through the full 0→3 feed
        // re-materialized the merge and MoR diffs a second time before the
        // SQL TVF below computes them again (r20)
        require(Acid.changeFeedRow(spark, table, 2L, 3L, "o_orderkey").isEmpty,
          "changeFeedRow: maintenance rewrite leaked change events")
        // consumed through the PURE-SQL entry (the table_changes_row TVF),
        // so the SQL user's plan is the DataFrame user's plan
        SqlEntry.sqlLakehouse(spark, s"""
          SELECT o_orderkey, o_orderstatus,
                 CAST(CAST(price AS DECIMAL(18,2)) AS DOUBLE) AS price,
                 change_type, commit_version
          FROM table_changes_row('$table', 0, 3, 'o_orderkey')
          ORDER BY commit_version, change_type, o_orderkey""")
      },
      Some("""
        WITH base AS (
          SELECT o_orderkey, o_orderstatus,
                 CAST(o_totalprice AS DECIMAL(12,2)) AS price
          FROM orders
        )
        SELECT o_orderkey, o_orderstatus,
               CAST(CAST(price AS DECIMAL(18,2)) AS DOUBLE) AS price,
               change_type, commit_version
        FROM (
          SELECT o_orderkey, o_orderstatus, price,
                 'insert' AS change_type, CAST(1 AS BIGINT) AS commit_version
          FROM base WHERE o_orderkey % 3 = 1 AND o_orderkey % 5 = 0
          UNION ALL
          SELECT o_orderkey, o_orderstatus, price,
                 'delete', CAST(1 AS BIGINT)
          FROM base WHERE o_orderkey % 21 = 0
          UNION ALL
          SELECT o_orderkey, o_orderstatus, price,
                 'update_preimage', CAST(1 AS BIGINT)
          FROM base WHERE o_orderkey % 15 = 0 AND o_orderkey % 21 <> 0
          UNION ALL
          SELECT o_orderkey, o_orderstatus,
                 CAST(price + 1000 AS DECIMAL(12,2)),
                 'update_postimage', CAST(1 AS BIGINT)
          FROM base WHERE o_orderkey % 15 = 0 AND o_orderkey % 21 <> 0
          UNION ALL
          SELECT o_orderkey, o_orderstatus,
                 CAST(CASE WHEN o_orderkey % 15 = 0 THEN price + 1000
                      ELSE price END AS DECIMAL(12,2)),
                 'delete', CAST(2 AS BIGINT)
          FROM base WHERE o_orderkey % 33 = 0 AND o_orderkey % 21 <> 0
        )
        ORDER BY commit_version, change_type, o_orderkey""".trim)),

    // POSITIONAL delete vectors (r17 — [[Acid.deletePositionsTxn]],
    // Iceberg v2 positional deletes / Delta deletion vectors): hide
    // specific row OCCURRENCES by (file, position) — the operation an
    // equality vector structurally cannot express (a key hides EVERY
    // copy; a position hides exactly one). The fixture is the operation's
    // reason to exist: a doubled ingest (every row landed twice) is
    // exact-deduplicated by materializing row_number()>1 occurrences as
    // one O(dups) vector commit — ZERO data files touched (in-body
    // require pins the data-file list byte-stable across both vector
    // commits), then a second vector removes both copies of a key slice
    // (vectors accumulate), and the closing OPTIMIZE folds everything
    // (require pins no vector lines survive). At 100 TB this turns dedup
    // from an O(table) rewrite into O(dups) metadata + one eventual
    // background compaction.
    Q("sink_positional_delete",
      (spark, sfDir) => {
        // the doubled base table is a PURE function of the fixture; the key
        // MUTATES it (vector commits + optimize), so stage it once per
        // (sfDir, JVM) and FILE-CLONE into the working dir per run — a
        // repeated timing pays cheap I/O, not two Spark write jobs (r19
        // bench hygiene; the clone changes nothing the key proves)
        val pristine = stagedPosdelTbl.synchronized {
          stagedPosdelTbl.getOrElseUpdate(sfDir, {
            val t = graft.Tmp.dir("posdel_base", sfDir)
            Acid.reset(t)
            val or0 = Tables.orders(spark, sfDir)
              .filter(col("o_orderkey") % 3 === 0)
              .select(col("o_orderkey"), col("o_orderstatus"),
                money(col("o_totalprice")).as("price"))
            Acid.appendTxn(spark, t, or0, txnId = 0L) // v0
            Acid.appendTxn(spark, t, or0, txnId = 1L) // v1: exact duplicate
            t
          })
        }
        val table = graft.Tmp.dir("posdel", sfDir)
        Acid.reset(table)
        cloneDir(pristine, table)
        val filesBefore = Acid.headManifest(table).files
        // dedup as a vector: keep the first occurrence per key, hide the rest
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("o_orderkey")).orderBy(col("_file"), col("_pos"))
        val dups = Acid.readPositions(spark, table)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") > 1)
          .select(col("_file").as("f"), col("_pos").as("pos"))
        Acid.deletePositionsTxn(spark, table, dups, txnId = 2L) // v2
        // vectors accumulate: also hide BOTH remaining copies of %21 keys
        Acid.deletePositionsTxn(spark, table,
          Acid.readPositions(spark, table)
            .filter(col("o_orderkey") % 21 === 0)
            .select(col("_file").as("f"), col("_pos").as("pos")),
          txnId = 3L)                                           // v3
        require(Acid.headManifest(table).files == filesBefore,
          "sink_positional_delete: a vector commit touched a data file")
        require(Acid.read(spark, table).count() ==
          Acid.readPositions(spark, table).count(),
          "sink_positional_delete: read paths disagree under vectors")
        // compaction folds both vectors away
        Acid.optimize(spark, table, txnId = 4L, targetFiles = 2)
        require(Acid.headManifest(table).pdels.isEmpty,
          "sink_positional_delete: compaction must fold the vectors")
        Acid.read(spark, table)
          .select(col("o_orderkey"), col("o_orderstatus"),
            emit(col("price"), 2).as("price"))
          .orderBy(col("o_orderkey"))
      },
      Some("""
        SELECT o_orderkey, o_orderstatus,
               CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price
        FROM orders
        WHERE o_orderkey % 3 = 0 AND o_orderkey % 21 <> 0
        ORDER BY o_orderkey""".trim)),

    // DML ON A BRANCH (r17 — [[Acid.mergeCowBranch]] /
    // [[Acid.deleteTxnBranch]]): the dev-pipeline story COMPLETED — the
    // CDC merge job under test runs its MERGE and MoR delete against the
    // experiment branch with main's exact semantics; touched fork-base
    // files rewrite into BRANCH-LOCAL copies so main never sees a byte
    // (in-body require pins main's row count and sum bit-stable across
    // both branch DMLs), and the fast-forward publish adopts the result
    // wholesale — metadata-only, whatever the experiment rewrote. At
    // 100 TB this is how row-level pipeline changes ship: run the real
    // merge against a branch, audit, publish in O(1).
    Q("sink_branch_dml",
      (spark, sfDir) => {
        val table = graft.Tmp.dir("branch_dml", sfDir)
        Acid.reset(table)
        val or = Tables.orders(spark, sfDir)
          .select(col("o_orderkey"), col("o_orderstatus"),
            money(col("o_totalprice")).as("price"))
        Acid.appendTxn(spark, table,
          or.filter(col("o_orderkey") % 3 === 0), txnId = 0L)   // main v0
        val mainBefore = Acid.read(spark, table)
          .agg(count(lit(1)), sum(emit(col("price"), 2))).head
        Acid.createBranch(table, "fix", 0L)
        val updates = or
          .filter(col("o_orderkey") % 15 === 0 && col("o_orderkey") % 21 =!= 0)
          .withColumn("price", money(col("price") + 1000))
        val inserts = or
          .filter(col("o_orderkey") % 3 === 1 && col("o_orderkey") % 5 === 0)
        val deletes = or.filter(col("o_orderkey") % 21 === 0)
        updates.unionByName(inserts).unionByName(deletes)
          .createOrReplaceTempView("branch_dml_changes")
        // the MERGE runs through the PURE-SQL entry's branch twin — the
        // dress rehearsal is SQL end to end (audit reads below via
        // BRANCH AS OF would be, too)
        SqlEntry.sqlLakehouse(spark, s"""
          MERGE INTO BRANCH 'fix' OF acid_table('$table')
          USING branch_dml_changes ON o_orderkey
          WHEN MATCHED AND o_orderkey % 21 = 0 THEN DELETE
          WHEN MATCHED THEN UPDATE SET *
          WHEN NOT MATCHED THEN INSERT *
          TXN 10""")                                            // branch k0
        Acid.deleteTxnBranch(spark, table, "fix",
          Tables.orders(spark, sfDir)
            .filter(col("o_orderkey") % 33 === 0).select(col("o_orderkey")),
          "o_orderkey", txnId = 11L)                            // branch k1
        // predicate-COW verbs on the branch through PURE SQL too (r20 —
        // the UPDATE/DELETE symmetry of MERGE INTO BRANCH): status flag
        // on %9 keys, then a COW delete of the %27 slice — both rewrite
        // fork-base files into branch-local copies, main still blind
        SqlEntry.sqlLakehouse(spark, s"UPDATE BRANCH 'fix' OF " +
          s"acid_table('$table') SET o_orderstatus = 'B' " +
          "WHERE o_orderkey % 9 = 0 TXN 13")                   // branch k2
        SqlEntry.sqlLakehouse(spark, s"DELETE FROM BRANCH 'fix' OF " +
          s"acid_table('$table') WHERE o_orderkey % 27 = 0 TXN 14") // k3
        // main is BLIND to the branch's rewrites and vector
        val mainAfter = Acid.read(spark, table)
          .agg(count(lit(1)), sum(emit(col("price"), 2))).head
        require(mainAfter == mainBefore,
          s"sink_branch_dml: branch DML leaked into main " +
            s"($mainBefore -> $mainAfter)")
        // the audit read sees the post-DML state; publish adopts it O(1)
        require(Acid.readBranch(spark, table, "fix")
          .filter(col("o_orderkey") % 21 === 0).isEmpty,
          "sink_branch_dml: merge-deleted keys visible on the branch")
        Acid.fastForwardBranch(table, "fix", txnId = 12L)
        Acid.read(spark, table)
          .select(col("o_orderkey"), col("o_orderstatus"),
            emit(col("price"), 2).as("price"))
          .orderBy(col("o_orderkey"))
      },
      Some("""
        WITH base AS (
          SELECT o_orderkey, o_orderstatus,
                 CAST(o_totalprice AS DECIMAL(12,2)) AS price
          FROM orders
        )
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 9 = 0 THEN 'B'
                    ELSE o_orderstatus END AS o_orderstatus,
               CAST(CAST(price AS DECIMAL(18,2)) AS DOUBLE) AS price
        FROM (
          SELECT o_orderkey, o_orderstatus,
                 CAST(CASE WHEN o_orderkey % 15 = 0 THEN price + 1000
                      ELSE price END AS DECIMAL(12,2)) AS price
          FROM base
          WHERE o_orderkey % 3 = 0 AND o_orderkey % 21 <> 0
            AND o_orderkey % 33 <> 0 AND o_orderkey % 27 <> 0
          UNION ALL
          SELECT o_orderkey, o_orderstatus, price
          FROM base WHERE o_orderkey % 3 = 1 AND o_orderkey % 5 = 0
        )
        ORDER BY o_orderkey""".trim)),

    // TBLPROPERTIES + DESCRIBE (r17 — [[Acid.setProperties]] /
    // [[Acid.describeTable]]): the operator-facing knob store and the
    // first question anyone asks of an unfamiliar table. Properties are
    // one `# prop:` line each (re-SET replaces; they survive every commit
    // class — the key proves survival across an append AND a column
    // rename), and DESCRIBE surfaces the EVOLVED schema (post
    // column-mapping) plus the properties through pure SQL; the
    // `table_properties('<dir>')` TVF makes them queryable/joinable. All
    // metadata-only — zero data I/O at any table size.
    Q("sql_describe",
      (spark, sfDir) => {
        val table = graft.Tmp.dir("describe", sfDir)
        Acid.reset(table)
        Acid.appendTxn(spark, table,
          Tables.orders(spark, sfDir)
            .select(col("o_orderkey"), col("o_orderstatus"),
              money(col("o_totalprice")).as("price"))
            .limit(500), txnId = 0L)
        SqlEntry.sqlLakehouse(spark, s"ALTER TABLE acid_table('$table') " +
          "SET TBLPROPERTIES ('owner'='data-eng', 'retention.days'='30') TXN 1")
        // survive an append and a metadata-only rename
        Acid.appendTxn(spark, table,
          Tables.orders(spark, sfDir)
            .select(col("o_orderkey"), col("o_orderstatus"),
              money(col("o_totalprice")).as("price"))
            .limit(100), txnId = 2L)
        SqlEntry.sqlLakehouse(spark, s"ALTER TABLE acid_table('$table') " +
          "RENAME COLUMN price TO amount TXN 3")
        // re-SET replaces, never duplicates
        SqlEntry.sqlLakehouse(spark, s"ALTER TABLE acid_table('$table') " +
          "SET TBLPROPERTIES ('retention.days'='45') TXN 4")
        val nProps = SqlEntry.sqlLakehouse(spark,
          s"SELECT COUNT(*) AS n FROM table_properties('$table')")
          .head.getLong(0)
        require(nProps == 2L, s"sql_describe: expected 2 properties, got $nProps")
        SqlEntry.sqlLakehouse(spark, s"DESCRIBE acid_table('$table')")
          .orderBy(col("section"), col("name"))
      },
      Some("""
        SELECT * FROM (VALUES
          ('column', 'amount', 'decimal(12,2)'),
          ('column', 'o_orderkey', 'bigint'),
          ('column', 'o_orderstatus', 'string'),
          ('property', 'owner', 'data-eng'),
          ('property', 'retention.days', '45')
        ) AS t(section, name, value)
        ORDER BY section, name""".trim)),

    // CDC-materialized positional deletes (r17 — the `cdc = true` mode of
    // [[Acid.deletePositionsTxn]]): Delta's change-data-feed contract for
    // deletion-vector commits — the doomed rows' FULL PREIMAGES land as a
    // change file at delete time (O(files the delete touched)), so the
    // row-granular feed CROSSES the vector commit instead of refusing.
    // History: v0 and v1 land the same slice twice; v2 is the positional
    // dedup WITH cdc. The feed over (0, 2] must carry v1's inserts and
    // v2's deletes with exact preimages — a missing, doubled, or
    // mis-imaged preimage breaks the hash.
    Q("scan_change_feed_cdc",
      (spark, sfDir) => {
        val table = graft.Tmp.dir("cdfcdc", sfDir)
        Acid.reset(table)
        val or = Tables.orders(spark, sfDir)
          .filter(col("o_orderkey") % 3 === 0)
          .select(col("o_orderkey"), col("o_orderstatus"),
            money(col("o_totalprice")).as("price"))
        Acid.appendTxn(spark, table, or, txnId = 0L) // v0
        Acid.appendTxn(spark, table, or, txnId = 1L) // v1: duplicate land
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("o_orderkey")).orderBy(col("_file"), col("_pos"))
        Acid.deletePositionsTxn(spark, table,
          Acid.readPositions(spark, table)
            .withColumn("rn", row_number().over(w)).filter(col("rn") > 1)
            .select(col("_file").as("f"), col("_pos").as("pos")),
          txnId = 2L, cdc = true)                    // v2: dedup + CDC
        Acid.changeFeedRow(spark, table, 0L, 2L, "o_orderkey")
          .select(col("o_orderkey"), col("o_orderstatus"),
            emit(col("price"), 2).as("price"),
            col("change_type"), col("commit_version"))
          .orderBy(col("commit_version"), col("o_orderkey"))
      },
      Some("""
        WITH base AS (
          SELECT o_orderkey, o_orderstatus,
                 CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS
                      DECIMAL(18,2)) AS price
          FROM orders WHERE o_orderkey % 3 = 0
        )
        SELECT o_orderkey, o_orderstatus, CAST(price AS DOUBLE) AS price,
               change_type, commit_version
        FROM (
          SELECT o_orderkey, o_orderstatus, price,
                 'insert' AS change_type, CAST(1 AS BIGINT) AS commit_version
          FROM base
          UNION ALL
          SELECT o_orderkey, o_orderstatus, price,
                 'delete', CAST(2 AS BIGINT)
          FROM base
        )
        ORDER BY commit_version, o_orderkey""".trim)),

    // DEFAULT COLUMN VALUES (r17 — [[Acid.addColumnDefault]], Delta's
    // `ALTER TABLE ... ADD COLUMN ... DEFAULT`): adding a defaulted column
    // to a governed table is ONE metadata line — rows that predate the
    // column read the default through the merged-schema seam (old files
    // lack the column entirely, so the fill is per-file-generation exact),
    // and the auto-installed NOT NULL CHECK constraint keeps future
    // checked writers from storing the ambiguous NULL (a violating append
    // refuses loudly with the table unmoved — in-body require). At 100 TB
    // this is the only viable add-column-with-backfill story: the
    // alternative rewrites the lake.
    Q("sink_column_defaults",
      (spark, sfDir) => {
        val table = graft.Tmp.dir("coldefault", sfDir)
        Acid.reset(table)
        val or = Tables.orders(spark, sfDir)
          .select(col("o_orderkey"), col("o_orderstatus"))
        Acid.appendTxn(spark, table,
          or.filter(col("o_orderkey") % 2 === 0), txnId = 0L) // pre-column gen
        Acid.addColumnDefault(spark, table, "region", "'unassigned'", txnId = 1L)
        val withRegion = or.filter(col("o_orderkey") % 2 === 1)
          .withColumn("region",
            concat(lit("r"), (col("o_orderkey") % 3).cast("string")))
        Acid.appendTxnChecked(spark, table, withRegion, txnId = 2L)
        // the ambiguous NULL refuses at the gate, table unmoved
        val v = Acid.currentVersion(table).get
        val refused = try {
          Acid.appendTxnChecked(spark, table,
            withRegion.withColumn("region",
              when(col("o_orderkey") % 5 === 0, lit(null: String))
                .otherwise(col("region"))), txnId = 3L)
          false
        } catch { case _: ConstraintViolationException => true }
        require(refused && Acid.currentVersion(table).get == v,
          "sink_column_defaults: a NULL in a defaulted column must refuse")
        Acid.readEvolved(spark, table)
          .groupBy(col("region"))
          .agg(count(lit(1)).as("n"),
            min(col("o_orderkey")).as("min_key"))
          .orderBy(col("region"))
      },
      Some("""
        SELECT CASE WHEN o_orderkey % 2 = 0 THEN 'unassigned'
                    ELSE 'r' || CAST(o_orderkey % 3 AS VARCHAR) END AS region,
               COUNT(*) AS n, MIN(o_orderkey) AS min_key
        FROM orders
        GROUP BY 1
        ORDER BY region""".trim)),

    // Partition-scoped OPTIMIZE (r17 — [[Acid.optimizeWhere]], Delta's
    // `OPTIMIZE ... WHERE`): a streaming-shaped ingest leaves every day
    // fragmented; compacting YESTERDAY must not read, list, or rewrite the
    // other 100 TB. Three hidden-partitioned appends fragment each day
    // into ≥3 files; the scoped rewrite collapses ONE day to a single file
    // while every other file stays BYTE-identical (in-body requires pin
    // the file-set arithmetic: selected day 3+→1, survivors set-equal) and
    // a standing MoR delete vector carries across the rewrite (hidden
    // users stay hidden — the oracle would catch a resurrection). The
    // compacted files inherit exactly the selector tuple, so hidden-
    // partition pruning stays exact after maintenance.
    Q("sink_optimize_where",
      (spark, sfDir) => {
        val table = graft.Tmp.dir("opt_where", sfDir)
        Acid.reset(table)
        val ev = Tables.events(spark, sfDir)
          .select(col("event_id"), col("user_id"), col("ts"),
            col("event_type"), col("value"))
        val transforms = Seq(Acid.dayOf("ts"))
        (0 to 2).foreach(i => Acid.appendTxnHidden(spark, table,
          ev.filter(col("event_id") % 3 === i), txnId = i.toLong, transforms))
        Acid.deleteTxn(spark, table,
          ev.filter(col("user_id") % 97 === 0).select(col("user_id")).distinct(),
          "user_id", txnId = 3L)
        val d = Acid.dayOfValue(utcMicros("2024-01-10T00:00:00Z"))
        def split(): (Set[String], Set[String]) = {
          val m = Acid.headManifest(table)
          val files = m.files.toSet
          val day = m.pvals.values.filter(_.parts.contains(s"day_ts=$d"))
            .map(_.file).toSet
          (day, files -- day)
        }
        val (dayBefore, othersBefore) = split()
        require(dayBefore.size >= 3,
          s"sink_optimize_where: expected a fragmented day, got ${dayBefore.size}")
        // through the PURE-SQL maintenance console (statement pre-pass →
        // Acid.optimizeWhere), so the SQL operator persona gets the same
        // partition-scoped rewrite
        SqlEntry.sqlLakehouse(spark,
          s"OPTIMIZE acid_table('$table') WHERE day_ts = $d TARGET 1 TXN 4")
        val (dayAfter, othersAfter) = split()
        require(dayAfter.size == 1,
          s"sink_optimize_where: day not compacted (${dayAfter.size} files)")
        require(othersAfter == othersBefore,
          "sink_optimize_where: a file outside the selected partition moved")
        Acid.read(spark, table)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), sumVal6(col("value")).as("sum_val"))
          .orderBy(col("event_type"))
      },
      Some(s"""
        SELECT event_type, COUNT(*) AS n, ${sqlSumVal6("value")} AS sum_val
        FROM events
        WHERE user_id % 97 <> 0
        GROUP BY event_type
        ORDER BY event_type""".trim)),

    // Lock-free OPTIMISTIC row-level UPDATE (r17 — [[Acid.updateWhereCAS]],
    // Delta's optimistic concurrency for DML): two updates on DISJOINT
    // file sets run their rewrites SIMULTANEOUSLY (no writer lock — at
    // 100 TB the rewrites are the cost; serializing them halves write
    // throughput for no reason) and the claim loser REBASES; a
    // non-commuting race — here a concurrent append landing rows that
    // MATCH the update's predicate, staged deterministically through the
    // test seam — aborts loudly with WriteConflictException, table
    // unmoved by the loser (Delta's ConcurrentAppendException contract).
    // The oracle sees both disjoint updates applied plus the appended
    // slice NOT updated (the aborted writer changed nothing).
    Q("sink_occ_update",
      (spark, sfDir) => {
        val table = graft.Tmp.dir("occ_upd", sfDir)
        Acid.reset(table)
        val base = Tables.orders(spark, sfDir).select(col("o_orderkey"),
          col("o_orderstatus"),
          (money(col("o_totalprice")) * 100).cast("long").as("cents"))
        (0 to 3).foreach(i => Acid.appendTxn(spark, table,
          base.filter(col("o_orderkey") % 4 === i), txnId = i.toLong))
        val v0 = Acid.currentVersion(table).get
        val barrier = new java.util.concurrent.CyclicBarrier(2)
        val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
        val tA = new Thread(() => try {
          barrier.await()
          Acid.updateWhereCAS(spark, table,
            Seq("o_orderstatus" -> lit("X")),
            col("o_orderkey") % 4 === 0, txnId = 10L)
        } catch { case t: Throwable => errs.add(t) })
        val tB = new Thread(() => try {
          barrier.await()
          Acid.updateWhereCAS(spark, table,
            Seq("cents" -> (col("cents") + 7L)),
            col("o_orderkey") % 4 === 3, txnId = 11L)
        } catch { case t: Throwable => errs.add(t) })
        tA.start(); tB.start(); tA.join(120000); tB.join(120000)
        require(errs.isEmpty,
          s"sink_occ_update: disjoint concurrent updates must both " +
            s"commit: ${errs.peek()}")
        require(Acid.currentVersion(table).get == v0 + 2,
          "sink_occ_update: both updates must land as separate versions")
        // non-commuting race, staged deterministically: the append lands
        // between this update's rewrite and its commit and its rows MATCH
        // the predicate — serializability demands the abort
        val conflicted = try {
          Acid.updateWhereCAS(spark, table,
            Seq("o_orderstatus" -> lit("Y")),
            col("o_orderkey") % 4 === 1, txnId = 12L,
            beforeCommit = () => {
              Acid.appendTxnCAS(spark, table,
                base.filter(col("o_orderkey") % 4 === 1), txnId = 13L); ()
            })
          false
        } catch { case _: Acid.WriteConflictException => true }
        require(conflicted,
          "sink_occ_update: a matching concurrent append must abort the update")
        require(Acid.currentVersion(table).get == v0 + 3,
          "sink_occ_update: the append committed, the update aborted")
        Acid.read(spark, table)
          .orderBy(col("o_orderkey"), col("o_orderstatus"), col("cents"))
      },
      Some("""
        WITH base AS (
          SELECT o_orderkey, o_orderstatus,
                 CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
          FROM orders
        )
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 4 = 0 THEN 'X'
                    ELSE o_orderstatus END AS o_orderstatus,
               cents + CASE WHEN o_orderkey % 4 = 3 THEN 7 ELSE 0 END AS cents
        FROM base
        UNION ALL
        SELECT o_orderkey, o_orderstatus, cents FROM base
        WHERE o_orderkey % 4 = 1
        ORDER BY o_orderkey, o_orderstatus, cents""".trim)),

    // ROW LINEAGE (r17 — Iceberg v3 row ids, see [[Acid.assignRowIds]]):
    // stable per-row identifiers assigned LAZILY from manifest metadata
    // (`firstrow + _metadata.row_index` — zero rewrite, zero shuffle) and
    // preserved through MoR deletes AND compaction ([[Acid.optimizeLineage]]
    // materializes them into rewritten files — both stabilities pinned by
    // in-body requires on the full (key → id) map). The high-water mark
    // makes assignment incremental and ids never reused — the contract an
    // incremental downstream consumer keys its bookkeeping on. The oracle
    // pins the allocation arithmetic: each append generation owns exactly
    // its contiguous id range, so per-generation (count, min, max, sum)
    // are closed-form from the fixture alone.
    Q("sink_row_lineage",
      (spark, sfDir) => {
        val table = graft.Tmp.dir("rowlineage", sfDir)
        Acid.reset(table)
        val or = Tables.orders(spark, sfDir)
          .select(col("o_orderkey"), col("o_orderstatus"))
        Acid.appendTxn(spark, table, or.filter(col("o_orderkey") % 3 === 0), txnId = 0L)
        Acid.assignRowIds(spark, table, txnId = 1L)
        Acid.appendTxn(spark, table, or.filter(col("o_orderkey") % 3 === 1), txnId = 2L)
        Acid.assignRowIds(spark, table, txnId = 3L) // incremental: gen2 only
        def idMap() = Acid.readLineage(spark, table)
          .select(col("o_orderkey"), col("row_id")).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        val ids = idMap()
        // stability pin 1: a MoR delete leaves every survivor's id untouched
        val delKeys = or.filter(col("o_orderkey") % 33 === 0)
          .select(col("o_orderkey")).collect().map(_.getLong(0)).toSet
        Acid.deleteTxn(spark, table,
          or.filter(col("o_orderkey") % 33 === 0).select(col("o_orderkey")),
          "o_orderkey", txnId = 4L)
        val afterDel = idMap()
        require(afterDel == ids.view.filterKeys(k => !delKeys(k)).toMap,
          "sink_row_lineage: MoR delete moved a survivor's row id")
        // stability pin 2: compaction (vectors folded, files rewritten)
        // preserves every id — the materialized-__row_id path
        Acid.optimizeLineage(spark, table, txnId = 5L, targetFiles = 2)
        require(idMap() == afterDel,
          "sink_row_lineage: compaction moved a row id")
        // stability pin 3 (r18 — [[Acid.updateWhereLineage]]): row-level
        // UPDATE preserves every id too — touched rows rewrite with their
        // id materialized, untouched files keep their assignment lines.
        // The value changes, the identity does not (Iceberg v3 DML).
        Acid.updateWhereLineage(spark, table,
          Seq("o_orderstatus" -> lit("U")),
          col("o_orderkey") % 15 === 0, txnId = 6L)
        require(idMap() == afterDel,
          "sink_row_lineage: UPDATE moved a row id")
        require(Acid.readLineage(spark, table)
          .filter(col("o_orderkey") % 15 === 0 && col("o_orderstatus") =!= "U")
          .isEmpty, "sink_row_lineage: UPDATE missed a matching row")
        // returned frame: PRE-delete per-generation allocation stats —
        // closed-form in the oracle because each generation owns exactly
        // one contiguous range
        val stats = ids.toSeq
          .groupBy { case (k, _) => if (k % 3 == 0) 1L else 2L }
          .toSeq.sortBy(_._1)
          .map { case (g, xs) =>
            org.apache.spark.sql.Row(g, xs.size.toLong, xs.map(_._2).min,
              xs.map(_._2).max, xs.map(_._2).sum)
          }
        val schema = org.apache.spark.sql.types.StructType(Seq(
          "gen", "n_rows", "min_id", "max_id", "id_sum").map(n =>
          org.apache.spark.sql.types.StructField(n,
            org.apache.spark.sql.types.LongType, nullable = false)))
        spark.createDataFrame(
          spark.sparkContext.parallelize(stats, 1), schema)
      },
      Some("""
        WITH g1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM orders
                    WHERE o_orderkey % 3 = 0),
             g2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM orders
                    WHERE o_orderkey % 3 = 1)
        SELECT CAST(1 AS BIGINT) AS gen, n AS n_rows,
               CAST(0 AS BIGINT) AS min_id, n - 1 AS max_id,
               n * (n - 1) // 2 AS id_sum
        FROM g1
        UNION ALL
        SELECT CAST(2 AS BIGINT), g2.n, g1.n, g1.n + g2.n - 1,
               g2.n * g1.n + g2.n * (g2.n - 1) // 2
        FROM g1, g2
        ORDER BY gen""".trim)),

    // DML ACROSS SCHEMA GENERATIONS (r18 — the refusal LIFTED into
    // Delta's column-mapping DML contract): the table mixes THREE file
    // generations (pre-default, default+stored, post-rename), and pure-SQL
    // UPDATE and MERGE run against the LOGICAL frame — the predicate
    // names the RENAMED column and matches default-filled rows that
    // predate it; only predicate/key-touched files rewrite (landing the
    // logical schema), untouched generations stay byte-identical and keep
    // resolving through the carried colmap/coldefault lines. At 100 TB
    // this is what makes ALTER TABLE metadata-only for real: renames and
    // defaults never force a table rewrite, and DML keeps working the
    // day after the ALTER.
    Q("sink_dml_evolved",
      (spark, sfDir) => {
        val table = graft.Tmp.dir("dml_evolved", sfDir)
        Acid.reset(table)
        val or = Tables.orders(spark, sfDir)
          .select(col("o_orderkey"), col("o_orderstatus"),
            money(col("o_totalprice")).as("price"))
        Acid.appendTxn(spark, table, or.filter(col("o_orderkey") % 3 === 0), 0L)
        Acid.addColumnDefault(spark, table, "region", "'unset'", 1L)
        Acid.appendTxnChecked(spark, table,
          or.filter(col("o_orderkey") % 3 === 1).withColumn("region", lit("east")), 2L)
        Acid.renameColumn(table, "region", "zone", 3L)
        Acid.appendTxn(spark, table,
          or.filter(col("o_orderkey") % 3 === 2).withColumn("zone", lit("west")), 4L)
        // SQL UPDATE whose predicate names the RENAMED column and whose
        // matches live in the MIDDLE generation (stored under the old
        // physical name)
        SqlEntry.sqlLakehouse(spark, s"UPDATE acid_table('$table') " +
          "SET price = CAST(price + 100 AS DECIMAL(12,2)) " +
          "WHERE zone = 'east' TXN 5")
        // untouched generations keep their stored/default values
        require(Acid.readEvolved(spark, table)
          .filter(col("o_orderkey") % 3 === 0 && col("zone") =!= "unset").isEmpty,
          "sink_dml_evolved: UPDATE disturbed the pre-default generation")
        // SQL MERGE keyed across generations: whole-row replace of the
        // %15==0 keys (all in the OLDEST generation)
        or.filter(col("o_orderkey") % 15 === 0)
          .select(col("o_orderkey"), lit("X").as("o_orderstatus"),
            money(lit(55)).as("price"), lit("hq").as("zone"))
          .createOrReplaceTempView("dml_evolved_changes")
        SqlEntry.sqlLakehouse(spark, s"MERGE INTO acid_table('$table') " +
          "USING dml_evolved_changes ON o_orderkey " +
          "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT * TXN 6")
        Acid.readEvolved(spark, table)
          .select(col("o_orderkey"), col("o_orderstatus"),
            emit(col("price"), 2).as("price"), col("zone"))
          .orderBy(col("o_orderkey"))
      },
      Some("""
        WITH base AS (
          SELECT o_orderkey, o_orderstatus,
                 CAST(o_totalprice AS DECIMAL(12,2)) AS price
          FROM orders
        )
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 15 = 0 THEN 'X'
                    ELSE o_orderstatus END AS o_orderstatus,
               CAST(CAST(CASE WHEN o_orderkey % 15 = 0 THEN 55
                    WHEN o_orderkey % 3 = 1 THEN price + 100
                    ELSE price END AS DECIMAL(12,2)) AS DOUBLE) AS price,
               CASE WHEN o_orderkey % 15 = 0 THEN 'hq'
                    WHEN o_orderkey % 3 = 0 THEN 'unset'
                    WHEN o_orderkey % 3 = 1 THEN 'east'
                    ELSE 'west' END AS zone
        FROM base
        ORDER BY o_orderkey""".trim)),

    // ERASURE + LOCK-FREE CAS UPDATE ACROSS SCHEMA GENERATIONS (r19 — the
    // last two DML verbs that still refused after ALTER TABLE, lifted via
    // the sink_dml_evolved logical-frame recipe): the table mixes THREE
    // file generations; a lock-free [[Acid.updateWhereCAS]] whose
    // predicate AND SET name the renamed column rewrites only the touched
    // middle-generation files (its commit-time commute analysis now
    // compares the evolution metadata against the snapshot instead of
    // refusing its mere presence), and a GDPR [[Acid.eraseKeys]] then
    // physically removes subjects spanning ALL generations — bloom-pruned
    // candidates read through footer-union + colmap + defaults, the
    // scrubbed rewrite lands the logical schema, survivors stay
    // byte-untouched and keep resolving through the carried lines. At
    // 100 TB: right-to-be-forgotten and optimistic row-level UPDATE keep
    // working the day after a rename — neither forces a table migration.
    Q("sink_erase_evolved",
      (spark, sfDir) => {
        val table = graft.Tmp.dir("erase_evolved", sfDir)
        Acid.reset(table)
        val or = Tables.orders(spark, sfDir)
          .select(col("o_orderkey"), col("o_orderstatus"),
            money(col("o_totalprice")).as("price"))
        // each generation lands range-clustered with ≤50k keys per file —
        // the bound a real writer applies so per-file blooms stay sharp
        // (the manifest caps a bloom at 2^20 bits ≈ 65k keys; beyond that
        // it saturates and pruning degrades — the sf10 gate caught a
        // fixed 4-file layout doing exactly that). Subjects are low keys:
        // they live in the first file of each generation.
        val perGen = math.max(4,
          (or.count() / 3L / 50000L).toInt) // one O(1)-output count, control plane
        Acid.appendTxn(spark, table, or.filter(col("o_orderkey") % 3 === 0)
          .repartitionByRange(perGen, col("o_orderkey")), 0L)
        Acid.addColumnDefault(spark, table, "region", "'unset'", 1L)
        Acid.appendTxnChecked(spark, table,
          or.filter(col("o_orderkey") % 3 === 1).withColumn("region", lit("east"))
            .repartitionByRange(perGen, col("o_orderkey")), 2L)
        Acid.renameColumn(table, "region", "zone", 3L)
        Acid.appendTxn(spark, table,
          or.filter(col("o_orderkey") % 3 === 2).withColumn("zone", lit("west"))
            .repartitionByRange(perGen, col("o_orderkey")), 4L)
        // lock-free CAS UPDATE: predicate and SET name the RENAMED column,
        // matches live in the middle generation (stored under the OLD
        // physical name, pre-rename)
        Acid.updateWhereCAS(spark, table, Seq("zone" -> lit("core")),
          col("zone") === "east" && col("o_orderkey") % 2 === 0, txnId = 5L)
        // pre-default generation must be byte-undisturbed by the CAS
        require(Acid.readEvolved(spark, table)
          .filter(col("o_orderkey") % 3 === 0 && col("zone") =!= "unset").isEmpty,
          "sink_erase_evolved: CAS update disturbed the pre-default generation")
        // blooms over the key column (name stable across generations) so
        // the erase prunes; analyze AFTER the CAS so rewritten files have
        // blooms too
        Acid.analyzeTable(spark, table, 6L,
          bloom = Some(("o_orderkey", col("o_orderkey"))))
        // the erasure queue: nine deterministic subjects spanning all
        // three generations (first keys cover every %3 class)
        val subjects = or.select(col("o_orderkey"))
          .orderBy(col("o_orderkey")).limit(9)
          .collect().map(_.getLong(0)).toSeq // O(subjects) — the legal queue
        val (v, rewritten, total) =
          Acid.eraseKeys(spark, table, subjects, "o_orderkey", "o_orderkey",
            txnId = 7L)
        require(rewritten < total,
          s"evolved erase rewrote everything ($rewritten/$total) — blooms pruned nothing")
        require(Acid.eraseKeys(spark, table, subjects, "o_orderkey",
          "o_orderkey", 7L)._1 == v, "replayed evolved erase advanced the table")
        Acid.readEvolved(spark, table)
          .select(col("o_orderkey"), col("o_orderstatus"),
            emit(col("price"), 2).as("price"), col("zone"))
          .orderBy(col("o_orderkey"))
      },
      Some("""
        WITH base AS (
          SELECT o_orderkey, o_orderstatus,
                 CAST(o_totalprice AS DECIMAL(12,2)) AS price
          FROM orders
        )
        SELECT o_orderkey, o_orderstatus, CAST(price AS DOUBLE) AS price,
               CASE WHEN o_orderkey % 3 = 0 THEN 'unset'
                    WHEN o_orderkey % 3 = 1 AND o_orderkey % 2 = 0 THEN 'core'
                    WHEN o_orderkey % 3 = 1 THEN 'east'
                    ELSE 'west' END AS zone
        FROM base
        WHERE o_orderkey NOT IN (
          SELECT o_orderkey FROM orders ORDER BY o_orderkey LIMIT 9)
        ORDER BY o_orderkey""".trim)),

    // LOGICAL-FRAME TIME TRAVEL (r19 — the documented-raw caveat lifted):
    // `VERSION AS OF` an evolved table resolves each version through that
    // version's OWN colmap/coldefault lines — a post-default snapshot
    // surfaces the fill under its then-current name, a post-rename
    // snapshot surfaces the new name, and a PRE-evolution version reads
    // its own raw schema (the table as it then was — Delta's rule,
    // in-body pinned on the column set). The head read is additionally
    // pinned ≡ readEvolved both ways. Zero data I/O beyond the two
    // snapshot scans: resolution is manifest metadata. At 100 TB this is
    // what makes audit reads of yesterday's table survive today's ALTER.
    Q("scan_time_travel_evolved",
      (spark, sfDir) => {
        val table = graft.Tmp.dir("tt_evolved", sfDir)
        Acid.reset(table)
        val or = Tables.orders(spark, sfDir)
          .select(col("o_orderkey"), col("o_orderstatus"))
        Acid.appendTxn(spark, table, or.filter(col("o_orderkey") % 3 === 0), 0L) // v0
        Acid.addColumnDefault(spark, table, "region", "'unset'", 1L)             // v1
        Acid.appendTxnChecked(spark, table,
          or.filter(col("o_orderkey") % 3 === 1).withColumn("region", lit("east")), 2L) // v2
        Acid.renameColumn(table, "region", "zone", 3L)                           // v3
        Acid.appendTxn(spark, table,
          or.filter(col("o_orderkey") % 3 === 2).withColumn("zone", lit("west")), 4L) // v4
        // pre-evolution version reads its own raw schema (Delta's rule)
        val v0cols = Acid.readVersion(spark, table, 0L).columns.toSeq
        require(v0cols == Seq("o_orderkey", "o_orderstatus"),
          s"scan_time_travel_evolved: v0 must read raw, got $v0cols")
        // head travel ≡ readEvolved: equal counts + one-direction exceptAll
        // is multiset equality (see sink_iceberg_export) — one less
        // full-width shuffle compare than the two-direction form (r20)
        val head = Acid.readVersion(spark, table, 4L)
        val live = Acid.readEvolved(spark, table)
        require(head.count() == live.count() && head.exceptAll(live).isEmpty,
          "scan_time_travel_evolved: head travel diverges from readEvolved")
        def summarize(df: org.apache.spark.sql.DataFrame, evoCol: String,
            ver: Long) =
          df.groupBy().agg(
            count(lit(1)).as("n_rows"),
            sum(when(col(evoCol) === "unset", 1L).otherwise(0L)).as("n_unset"),
            sum(when(col(evoCol) === "east", 1L).otherwise(0L)).as("n_east"),
            sum(when(col(evoCol) === "west", 1L).otherwise(0L)).as("n_west"))
            .withColumn("ver", lit(ver))
        // v2: mixed generations under the ORIGINAL name — defaults fill
        // the pre-default rows; v4: post-rename, three generations stitched
        summarize(Acid.readVersion(spark, table, 2L), "region", 2L)
          .unionByName(summarize(Acid.readVersion(spark, table, 4L), "zone", 4L))
          .select(col("ver"), col("n_rows"), col("n_unset"),
            col("n_east"), col("n_west"))
          .orderBy(col("ver"))
      },
      Some("""
        WITH n AS (SELECT
            CAST(SUM(CASE WHEN o_orderkey % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
            CAST(SUM(CASE WHEN o_orderkey % 3 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
            CAST(SUM(CASE WHEN o_orderkey % 3 = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n3
          FROM orders)
        SELECT CAST(2 AS BIGINT) AS ver, n1 + n2 AS n_rows, n1 AS n_unset,
               n2 AS n_east, CAST(0 AS BIGINT) AS n_west
        FROM n
        UNION ALL
        SELECT CAST(4 AS BIGINT), n1 + n2 + n3, n1, n2, n3
        FROM n
        ORDER BY ver""".trim)),

    // LINEAGE-PRESERVING MERGE (r18 — [[Acid.mergeCowLineage]], the
    // Iceberg-v3 DML contract completing sink_row_lineage's UPDATE): a
    // MERGE against a row-lineage table keeps every MATCHED row's id
    // (identity survives the value change — in-body pinned on the full
    // (key → id) map) and allocates NOT-MATCHED inserts fresh contiguous
    // ids from the `# rowid_next:` high-water mark (deterministic:
    // inserts ordered by key), which then advances — an id is never
    // reused. The oracle is closed-form because generation membership is
    // an id-range test: gen1 ids stay exactly [0, n1) through the MERGE,
    // inserts own exactly [n1, n1+m). At 100 TB this is what lets an
    // incremental consumer (feature-store sync, CDC indexing) key its
    // bookkeeping on row ids across upsert cycles.
    Q("sink_lineage_merge",
      (spark, sfDir) => {
        val table = graft.Tmp.dir("lineagemerge", sfDir)
        Acid.reset(table)
        val or = Tables.orders(spark, sfDir)
          .select(col("o_orderkey"), col("o_orderstatus"))
        Acid.appendTxn(spark, table, or.filter(col("o_orderkey") % 3 === 0), txnId = 0L)
        Acid.assignRowIds(spark, table, txnId = 1L)
        val n1 = Acid.readLineage(spark, table).count()
        def idMap() = Acid.readLineage(spark, table)
          .select(col("o_orderkey"), col("row_id")).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        val before = idMap()
        val updates = or
          .filter(col("o_orderkey") % 15 === 0)
          .withColumn("o_orderstatus", lit("U"))
        val inserts = or.filter(col("o_orderkey") % 3 === 1 && col("o_orderkey") % 5 === 0)
        Acid.mergeCowLineage(spark, table, updates.unionByName(inserts),
          "o_orderkey", txnId = 2L)
        require(Acid.mergeCowLineage(spark, table, updates.unionByName(inserts),
          "o_orderkey", txnId = 2L)._2 == 0,
          "sink_lineage_merge: replayed MERGE must no-op")
        val after = idMap()
        // identity invariant: every pre-merge key keeps its exact id
        require(before.forall { case (k, id) => after.get(k).contains(id) },
          "sink_lineage_merge: MERGE moved a matched/carried row id")
        Acid.readLineage(spark, table)
          .withColumn("gen", when(col("row_id") < n1, 1L).otherwise(2L))
          .groupBy(col("gen"))
          .agg(count(lit(1)).as("n_rows"), min(col("row_id")).as("min_id"),
            max(col("row_id")).as("max_id"), sum(col("row_id")).as("id_sum"),
            sum(when(col("o_orderstatus") === "U", 1L).otherwise(0L)).as("n_updated"))
          .orderBy(col("gen"))
      },
      Some("""
        WITH g1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                           CAST(SUM(CASE WHEN o_orderkey % 15 = 0
                                    THEN 1 ELSE 0 END) AS BIGINT) AS u
                    FROM orders WHERE o_orderkey % 3 = 0),
             g2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM orders
                    WHERE o_orderkey % 3 = 1 AND o_orderkey % 5 = 0)
        SELECT CAST(1 AS BIGINT) AS gen, n AS n_rows,
               CAST(0 AS BIGINT) AS min_id, n - 1 AS max_id,
               n * (n - 1) // 2 AS id_sum, u AS n_updated
        FROM g1
        UNION ALL
        SELECT CAST(2 AS BIGINT), g2.n, g1.n, g1.n + g2.n - 1,
               g2.n * g1.n + g2.n * (g2.n - 1) // 2, CAST(0 AS BIGINT)
        FROM g1, g2
        ORDER BY gen""".trim)),

    // ROW LINEAGE × SCHEMA EVOLUTION (r19 — the refusal lifted; Iceberg
    // v3 supports both together): a lineage table takes a column default,
    // a checked append, and a RENAME without a byte rewritten; lineage
    // UPDATE and MERGE then run over the LOGICAL frame (the predicate
    // names the renamed column; pre-default rows surface the fill), ids
    // stay bit-stable through every seam (in-body pinned on the full
    // key → id map), inserts allocate above the high-water mark, and a
    // closing optimizeLineage compacts ACROSS generations with the ids
    // and the default fill materialized. The oracle is closed-form
    // because generation membership is an id-range test. At 100 TB:
    // ALTER TABLE on an id-carrying table no longer forfeits row-level
    // DML or compaction — the two metadata families compose.
    Q("sink_lineage_evolved",
      (spark, sfDir) => {
        val table = graft.Tmp.dir("lineage_evolved", sfDir)
        Acid.reset(table)
        val or = Tables.orders(spark, sfDir)
          .select(col("o_orderkey"), col("o_orderstatus"))
        def idMap() = Acid.readLineage(spark, table)
          .select(col("o_orderkey"), col("row_id")).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        // generation 1 (pre-default), ids [0, n1)
        Acid.appendTxn(spark, table, or.filter(col("o_orderkey") % 3 === 0), 0L)
        Acid.assignRowIds(spark, table, 1L)
        // generation sizes only need counts, not the full key→id collect
        // the DML pins below use (r20)
        val n1 = Acid.readLineage(spark, table).count()
        // evolution ON the lineage table: default, checked append, rename
        Acid.addColumnDefault(spark, table, "region", "'unset'", 2L)
        Acid.appendTxnChecked(spark, table,
          or.filter(col("o_orderkey") % 3 === 1).withColumn("region", lit("east")), 3L)
        Acid.assignRowIds(spark, table, 4L) // generation 2: ids [n1, n1+n2)
        val n2 = Acid.readLineage(spark, table).count() - n1
        Acid.renameColumn(table, "region", "zone", 5L)
        val before = idMap()
        // lineage UPDATE: predicate names the RENAMED column; matches live
        // only in generation 2 (generation 1 reads the default 'unset')
        Acid.updateWhereLineage(spark, table,
          Seq("o_orderstatus" -> lit("U")),
          col("zone") === "east" && col("o_orderkey") % 2 === 0, 6L)
        // lineage MERGE across the seam: matched rows (gen-1 keys) keep
        // their ids, inserts allocate [n1+n2, ...) in key order
        val updates = or.filter(col("o_orderkey") % 15 === 0)
          .select(col("o_orderkey"), lit("M").as("o_orderstatus"),
            lit("hq").as("zone"))
        val inserts = or
          .filter(col("o_orderkey") % 3 === 2 && col("o_orderkey") % 7 === 0)
          .select(col("o_orderkey"), lit("X").as("o_orderstatus"),
            lit("west").as("zone"))
        Acid.mergeCowLineage(spark, table, updates.unionByName(inserts),
          "o_orderkey", 7L)
        val afterMerge = idMap()
        require(before.forall { case (k, id) => afterMerge.get(k).contains(id) },
          "sink_lineage_evolved: DML across the generation seam moved an id")
        // compaction ACROSS generations: ids and the default fill
        // materialize; the whole map must survive bit-for-bit
        Acid.optimizeLineage(spark, table, 8L, targetFiles = 2)
        require(idMap() == afterMerge,
          "sink_lineage_evolved: evolved compaction moved ids")
        Acid.readLineage(spark, table)
          .withColumn("gen", when(col("row_id") < n1, 1L)
            .when(col("row_id") < n1 + n2, 2L).otherwise(3L))
          .groupBy(col("gen"))
          .agg(count(lit(1)).as("n_rows"), min(col("row_id")).as("min_id"),
            max(col("row_id")).as("max_id"), sum(col("row_id")).as("id_sum"),
            sum(when(col("o_orderstatus") === "U", 1L).otherwise(0L)).as("n_updated"),
            sum(when(col("o_orderstatus") === "M", 1L).otherwise(0L)).as("n_merged"),
            sum(when(col("zone") === "unset", 1L).otherwise(0L)).as("n_unset"))
          .orderBy(col("gen"))
      },
      Some("""
        WITH g1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                           CAST(SUM(CASE WHEN o_orderkey % 15 = 0
                                    THEN 1 ELSE 0 END) AS BIGINT) AS m
                    FROM orders WHERE o_orderkey % 3 = 0),
             g2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                           CAST(SUM(CASE WHEN o_orderkey % 2 = 0
                                    THEN 1 ELSE 0 END) AS BIGINT) AS u
                    FROM orders WHERE o_orderkey % 3 = 1),
             g3 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM orders
                    WHERE o_orderkey % 3 = 2 AND o_orderkey % 7 = 0)
        SELECT CAST(1 AS BIGINT) AS gen, g1.n AS n_rows,
               CAST(0 AS BIGINT) AS min_id, g1.n - 1 AS max_id,
               g1.n * (g1.n - 1) // 2 AS id_sum,
               CAST(0 AS BIGINT) AS n_updated, g1.m AS n_merged,
               g1.n - g1.m AS n_unset
        FROM g1
        UNION ALL
        SELECT CAST(2 AS BIGINT), g2.n, g1.n, g1.n + g2.n - 1,
               g2.n * g1.n + g2.n * (g2.n - 1) // 2, g2.u,
               CAST(0 AS BIGINT), CAST(0 AS BIGINT)
        FROM g1, g2
        UNION ALL
        SELECT CAST(3 AS BIGINT), g3.n, g1.n + g2.n,
               g1.n + g2.n + g3.n - 1,
               g3.n * (g1.n + g2.n) + g3.n * (g3.n - 1) // 2,
               CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT)
        FROM g1, g2, g3
        ORDER BY gen""".trim)),

    // Targeted key erasure (r14 — see [[Acid.eraseKeys]]): GDPR
    // right-to-be-forgotten at lake scale. A streaming-shaped ingest
    // (4 appends) is OPTIMIZEd into user-range-clustered files with
    // per-file blooms on user_id; the erasure request (3 subjects)
    // rewrites ONLY the files the blooms cannot prove clean — the
    // in-body require pins that the rewrite touched a strict minority
    // of files (OperatorSpec additionally pins survivors byte-identical
    // by size+mtime and the delete-vector interplay). deleteTxn would merely
    // hide the rows (bytes remain — not GDPR-sufficient); erase rewrites
    // them, and the closing vacuum drops the pre-erase versions so no
    // time-travel read can resurrect the subjects. Replay of the erase
    // txn no-ops. At 100 TB: O(files containing the subject) rewrite +
    // O(files) metadata, vs the naive full-table rewrite.
    Q("sink_gdpr_erase",
      (spark, sfDir) => {
        val table = graft.Tmp.dir("sink_gdpr", sfDir)
        Acid.reset(table)
        val ev = Tables.events(spark, sfDir)
          .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
        (0 until 4).foreach { i =>
          Acid.appendTxn(spark, table,
            ev.filter(pmod(col("event_id"), lit(4)) === i), txnId = i.toLong)
        }
        Acid.optimize(spark, table, txnId = 10L, targetFiles = 8,
          clusterCol = Some("user_id"),
          bloom = Some(("user_id", col("user_id"))))
        // the erasure queue: three deterministic subjects drawn from the data
        val subjects = ev.select(col("user_id")).distinct()
          .orderBy(col("user_id")).limit(3)
          .collect().map(_.getLong(0)).toSeq // O(subjects) — the legal queue
        val (v, rewritten, total) =
          Acid.eraseKeys(spark, table, subjects, "user_id", "user_id", txnId = 11L)
        require(rewritten < total,
          s"erase rewrote everything ($rewritten/$total) — blooms pruned nothing")
        // replay (driver retry) must not advance or rewrite again
        require(Acid.eraseKeys(spark, table, subjects, "user_id", "user_id", 11L)._1 == v,
          "replayed erase advanced the table")
        // pre-erase versions still hold the bytes; vacuum completes the
        // forgetting — time travel to them now fails loudly
        Acid.vacuum(table, keep = 1)
        val gone =
          try { Acid.readVersion(spark, table, v - 1).count(); false }
          catch { case _: IllegalArgumentException => true }
        require(gone, "pre-erase version still readable after vacuum")
        Acid.read(spark, table)
          .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
          .orderBy(col("event_id"))
      },
      Some("""
        SELECT event_id, user_id, event_type, value
        FROM events
        WHERE user_id NOT IN (
          SELECT DISTINCT user_id FROM events ORDER BY user_id LIMIT 3)
        ORDER BY event_id""".trim)),

    // GDPR ERASE ON A ROW-LINEAGE TABLE (r19 — [[Acid.eraseKeysLineage]],
    // the last refusal in the DML × table-metadata matrix): the
    // bloom-pruned copy-on-write erase now composes with row ids — the
    // candidate rewrite runs over the id-attached frame and lands ids
    // MATERIALIZED, so every surviving row keeps its id bit-for-bit
    // (in-body: exact map equality, after == before minus subjects), the
    // subjects' ids retire and are never reused (a post-erase append
    // allocates above the carried high-water mark, in-body), and files
    // the blooms prove clean keep their lazy assignment lines
    // byte-untouched (rewritten < total pinned). At 100 TB: the
    // right-to-be-forgotten queue runs against the feature store's
    // id-carrying table without invalidating a single downstream id.
    Q("sink_erase_lineage",
      (spark, sfDir) => {
        val table = graft.Tmp.dir("erase_lineage", sfDir)
        Acid.reset(table)
        val or = Tables.orders(spark, sfDir)
          .select(col("o_orderkey"), col("o_orderstatus"))
        val perHalf = math.max(4, (or.count() / 2L / 50000L).toInt)
        Acid.appendTxn(spark, table, or.filter(col("o_orderkey") % 2 === 0)
          .repartitionByRange(perHalf, col("o_orderkey")), 0L)
        Acid.assignRowIds(spark, table, 1L)
        Acid.appendTxn(spark, table, or.filter(col("o_orderkey") % 2 === 1)
          .repartitionByRange(perHalf, col("o_orderkey")), 2L)
        Acid.assignRowIds(spark, table, 3L)
        Acid.analyzeTable(spark, table, 4L,
          bloom = Some(("o_orderkey", col("o_orderkey"))))
        def idMap() = Acid.readLineage(spark, table)
          .select(col("o_orderkey"), col("row_id")).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        val before = idMap()
        val subjects = or.select(col("o_orderkey"))
          .orderBy(col("o_orderkey")).limit(6)
          .collect().map(_.getLong(0)).toSeq // O(subjects) — the legal queue
        val (v, rewritten, total) = Acid.eraseKeysLineage(spark, table,
          subjects, "o_orderkey", "o_orderkey", txnId = 5L)
        require(rewritten < total,
          s"lineage erase rewrote everything ($rewritten/$total) — blooms pruned nothing")
        require(Acid.eraseKeysLineage(spark, table, subjects, "o_orderkey",
          "o_orderkey", 5L)._1 == v, "replayed lineage erase advanced the table")
        val after = idMap()
        require(after == before.removedAll(subjects),
          "lineage erase moved a surviving row's id (or left a subject)")
        // retired ids never come back: a post-erase append allocates ABOVE
        // the carried high-water mark
        import spark.implicits._
        Acid.appendTxn(spark, table,
          Seq((999999999L, "Z")).toDF("o_orderkey", "o_orderstatus"), 6L)
        Acid.assignRowIds(spark, table, 7L)
        val sentinelId = idMap()(999999999L)
        require(sentinelId == before.values.max + 1,
          s"post-erase id allocation reused a retired id range: $sentinelId")
        Acid.readLineage(spark, table)
          .filter(col("o_orderkey") =!= 999999999L)
          .select(col("o_orderkey"), col("o_orderstatus"))
          .orderBy(col("o_orderkey"))
      },
      Some("""
        SELECT o_orderkey, o_orderstatus
        FROM orders
        WHERE o_orderkey NOT IN (
          SELECT o_orderkey FROM orders ORDER BY o_orderkey LIMIT 6)
        ORDER BY o_orderkey""".trim)),

    // CHECK constraints (r14 — see [[Acid.appendTxnChecked]]): Delta's
    // ADD CONSTRAINT contract — invariants ride the manifest and every
    // append validates its batch against ALL standing constraints in
    // ONE O(batch) aggregate before the table advances. A violating
    // batch is rejected LOUDLY with per-constraint counts and the
    // table stays at its version (pinned in-body); constraints survive
    // deletes, plain appends, and rewrites (they are table invariants,
    // unlike pvals/delete vectors which describe specific files).
    // Enforce-at-write is the scale story: the predicate is checked
    // once at the gate on O(batch) rows, not re-checked by every
    // downstream reader of 100 TB.
    Q("sink_constraints",
      (spark, sfDir) => {
        val table = graft.Tmp.dir("sink_constraints", sfDir)
        Acid.reset(table)
        val or = Tables.orders(spark, sfDir)
          .select(col("o_orderkey"), col("o_orderstatus"),
            money(col("o_totalprice")).as("price"))
        Acid.appendTxnChecked(spark, table, or.filter(col("o_orderkey") % 2 === 0),
          txnId = 0L, Seq(
            "price_pos" -> "price >= 0",
            "status_known" -> "o_orderstatus IN ('F','O','P')"))
        val v0 = Acid.currentVersion(table).get
        // a poisoned batch: prices negated on a slice — must be rejected
        // with the table untouched
        val poisoned = or.filter(col("o_orderkey") % 2 === 1)
          .withColumn("price",
            when(col("o_orderkey") % 100 === 1, -col("price")).otherwise(col("price")))
        val rejected =
          try { Acid.appendTxnChecked(spark, table, poisoned, txnId = 1L); false }
          catch { case e: ConstraintViolationException =>
            require(e.getMessage.contains("price_pos"),
              s"rejection must name the violated constraint: ${e.getMessage}")
            true }
        require(rejected, "violating batch was accepted")
        require(Acid.currentVersion(table).contains(v0),
          "rejected batch advanced the table")
        // the repaired batch passes re-validation against the STANDING
        // constraints (read from the manifest, not re-declared)
        Acid.appendTxnChecked(spark, table,
          or.filter(col("o_orderkey") % 2 === 1), txnId = 2L)
        require(Acid.constraints(table, Acid.currentVersion(table).get).size == 2,
          "constraints did not carry into the new version")
        Acid.read(spark, table)
          .select(col("o_orderkey"), col("o_orderstatus"),
            emit(col("price"), 2).as("price"))
          .orderBy(col("o_orderkey"))
      },
      Some("""
        SELECT o_orderkey, o_orderstatus,
               CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price
        FROM orders
        ORDER BY o_orderkey""".trim)),

    // Metadata-answered MIN/MAX (r14): the aggregation twin of
    // scan_metadata_count — per-partition MIN/MAX/COUNT answered from
    // the manifest's zone maps + row counts ALONE (fold over O(files)
    // driver-side lines, zero data I/O at query time). File-level
    // min/max under a hive partitioning ARE the per-partition extrema
    // (every file belongs to exactly one partition), so the fold is
    // exact, not approximate — Delta/Iceberg's stats-answered
    // MIN/MAX/COUNT fast path. The oracle recomputes the expensive way,
    // proving the writers' metadata never drifted from the data. At
    // 100 TB: a dashboard extremum costs O(files) arithmetic on lines
    // the writers recorded for free (parquet footers), not a scan.
    Q("scan_stats_minmax",
      (spark, sfDir) => {
        val table = graft.Tmp.dir("scan_minmax", sfDir)
        Acid.reset(table)
        Acid.commit(spark, table, Tables.events(spark, sfDir),
          partitionCols = Seq("event_type"),
          stats = Some(("event_id", col("event_id"))), rowCounts = true)
        val v = Acid.currentVersion(table).get
        def ptype(f: String): String = {
          val dir = f.substring(0, f.indexOf('/'))
          dir.substring(dir.indexOf('=') + 1)
        }
        val mm = Acid.minmaxStats(table, v, "event_id")
          .groupBy(t => ptype(t._1))
          .map { case (t, fs) => t -> (fs.map(_._2).min, fs.map(_._3).max) }
        val cnt = Acid.rowStats(table, v)
          .groupBy(t => ptype(t._1))
          .map { case (t, fs) => t -> fs.map(_._2).sum }
        val rows = mm.keySet.toSeq.sorted.map { t =>
          (t, mm(t)._1, mm(t)._2, cnt(t))
        }
        import spark.implicits._
        rows.toDF("event_type", "lo", "hi", "n")
      },
      Some("""
        SELECT event_type, MIN(event_id) AS lo, MAX(event_id) AS hi,
               COUNT(*) AS n
        FROM events
        GROUP BY event_type
        ORDER BY event_type""".trim)),

    // Partition evolution (r14 — see [[Acid.appendTxnEvolved]]): the
    // partition spec is per-COMMIT manifest metadata (Iceberg's
    // evolution), not a table-wide path convention — so when the feed
    // grows and [event_type] clustering stops being enough, new appends
    // land under [event_type, wk] without rewriting a byte of the old
    // generation. Pruning reads the manifest's per-file partition
    // tuples: a file drops only if it NAMES a predicate column with a
    // different value, so old-spec files (which never recorded `wk`)
    // are always kept and the residual filter keeps the answer exact.
    // In-body requires pin both prune shapes: a `wk` predicate keeps
    // ALL gen-1 files + only matching gen-2 files; an `event_type`
    // predicate prunes BOTH generations. At 100 TB this is the
    // difference between re-clustering history (an outage-scale
    // rewrite) and a metadata line per new commit.
    Q("sink_partition_evolution",
      (spark, sfDir) => {
        val table = graft.Tmp.dir("sink_partevo", sfDir)
        Acid.reset(table)
        val ev = Tables.events(spark, sfDir)
          .select(col("event_id"), col("event_type"),
            floor((dayofmonth(col("ts")) - 1) / 7).cast("int").as("wk"),
            col("value"))
        // generation 1: clustered on event_type alone (5 partitions)
        Acid.appendTxnEvolved(spark, table,
          ev.filter(col("event_id") % 2 === 0), txnId = 0L, Seq("event_type"))
        // the feed grows: new data needs the time dimension too
        Acid.appendTxnEvolved(spark, table,
          ev.filter(col("event_id") % 2 === 1), txnId = 1L, Seq("event_type", "wk"))
        // prune on the EVOLVED column: gen-1 files never recorded wk, so
        // all of them stay; gen-2 keeps only wk=2
        val (_, keptWk, total) = Acid.readPrunedEvolved(spark, table, Map("wk" -> "2"))
        require(keptWk < total,
          s"wk prune dropped nothing ($keptWk/$total)")
        // prune on the ORIGINAL column: both generations prune
        val (byType, keptTy, _) =
          Acid.readPrunedEvolved(spark, table, Map("event_type" -> "click"))
        require(keptTy < keptWk,
          s"event_type prune should cut both generations ($keptTy vs $keptWk)")
        // exactness: the residual filter over the pruned scan
        byType.filter(col("event_type") === "click")
          .select(col("event_id"), col("event_type"), col("wk"), col("value"))
          .orderBy(col("event_id"))
      },
      Some("""
        SELECT event_id, event_type,
               CAST(FLOOR((DAY(ts) - 1) / 7) AS INT) AS wk,
               value
        FROM events
        WHERE event_type = 'click'
        ORDER BY event_id""".trim)),

    // Write-audit-publish (r14 — see [[Acid.stageWap]]): the audit gate
    // production pipelines put between ingest and visibility (Iceberg's
    // wap.id snapshot staging / the Netflix WAP pattern). Slice B lands
    // as an UNPUBLISHED staged batch — data durable, readers blind to it
    // (pinned in-body: the committed read still equals slice A while B
    // is staged, and the staged files survive a vacuum). The audit runs
    // against readWap's preview (base ∪ staged — exactly what publish
    // would expose); a batch that FAILS its audit is aborted and the
    // table never knew. Publish is METADATA-ONLY through the same
    // CAS/rebase path as optimistic appends — zero data movement at any
    // batch size, which is the entire point at 100 TB: the quality gate
    // costs one manifest line-merge, not a second copy of the data. A
    // replayed publish (driver retry) no-ops through the txn ledger.
    // The oracle sees A ∪ B exactly once — a leaked staged batch, a
    // double publish, or a lost abort all shift the hash.
    Q("sink_wap_publish",
      (spark, sfDir) => {
        val table = graft.Tmp.dir("sink_wap", sfDir)
        Acid.reset(table)
        val or = Tables.orders(spark, sfDir)
          .select(col("o_orderkey"), col("o_orderstatus"),
            money(col("o_totalprice")).as("price"))
        Acid.appendTxn(spark, table, or.filter(col("o_orderkey") % 3 === 0),
          txnId = 0L) // committed base = A
        val baseCount = Acid.read(spark, table).count()
        Acid.stageWap(spark, table, or.filter(col("o_orderkey") % 3 === 1), "b")
        require(Acid.read(spark, table).count() == baseCount,
          "staged batch leaked into the committed read")
        Acid.vacuum(table, keep = 1)
        require(Acid.readWap(spark, table, "b").count() > baseCount,
          "staged files did not survive vacuum — the audit copy was GC'd")
        // a batch that fails its audit: staged, rejected, aborted
        Acid.stageWap(spark, table, or.filter(col("o_orderkey") % 3 === 2), "bad")
        require(Acid.stagedWapIds(table) == Seq("b", "bad"))
        Acid.abortWap(table, "bad")
        // publish B metadata-only; the retry no-ops through the ledger
        val v = Acid.publishWap(table, "b", txnId = 1L)
        require(Acid.publishWap(table, "b", txnId = 1L) == v,
          "replayed publish advanced the table")
        require(Acid.stagedWapIds(table).isEmpty,
          "published/aborted wap manifests must be retired")
        Acid.read(spark, table)
          .select(col("o_orderkey"), col("o_orderstatus"),
            emit(col("price"), 2).as("price"))
          .orderBy(col("o_orderkey"))
      },
      Some("""
        SELECT o_orderkey, o_orderstatus,
               CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price
        FROM orders
        WHERE o_orderkey % 3 IN (0, 1)
        ORDER BY o_orderkey""".trim)),

    // Multi-table atomic transaction (r14 — see [[Catalog]]): a fact
    // table and its dimension move in LOCKSTEP through a catalog-level
    // commit (Nessie / Iceberg-REST multi-table shape; per-table logs
    // like Delta's cannot express it). Txn 0 lands dim + first fact
    // slice, txn 1 appends the second fact slice with the dim pin
    // carried forward, and a REPLAY of txn 1 (driver retry after a
    // simulated failure) must not advance the catalog — the per-table
    // txn ledgers plus the catalog's own txn list make the whole
    // multi-table commit exactly-once. The read resolves ONE snapshot
    // and reads both members at their pinned versions (no torn
    // fact-new/dim-old join); the oracle demands the joined aggregate
    // equal a direct join of the source tables, so a missing slice,
    // a doubled replay, or a stale pin all shift the hash. At 100 TB
    // the catalog adds O(tables) text + one atomic rename per commit
    // on top of the per-table protocol — the data path is untouched.
    // ConcurrencySpec pins crash atomicity (tables advanced, catalog
    // not flipped → old snapshot; retry completes) and snapshot
    // isolation across a concurrent later commit.
    Q("sink_catalog_txn",
      (spark, sfDir) => {
        val cat = graft.Tmp.dir("sink_catalogtxn", sfDir)
        Catalog.reset(cat)
        val or = Tables.orders(spark, sfDir)
          .select(col("o_orderkey"), col("o_custkey"),
            money(col("o_totalprice")).as("price"))
        val dim = Tables.customer(spark, sfDir)
          .select(col("c_custkey"), col("c_mktsegment"))
        Catalog.commitTxn(spark, cat, 0L, Seq(
          "cust"   -> dim,
          "orders" -> or.filter(col("o_orderkey") % 2 === 0)))
        Catalog.commitTxn(spark, cat, 1L, Seq(
          "orders" -> or.filter(col("o_orderkey") % 2 === 1)))
        val v = Catalog.commitTxn(spark, cat, 1L, Seq( // replayed retry
          "orders" -> or.filter(col("o_orderkey") % 2 === 1)))
        require(v == 1L, s"replayed txn advanced the catalog to v$v")
        require(Catalog.committedTxns(cat) == Set(0L, 1L),
          s"catalog txn ledger incomplete: ${Catalog.committedTxns(cat)}")
        val pins = Catalog.snapshot(cat) // resolved ONCE — both reads share it
        Catalog.readAt(spark, cat, pins, "orders")
          .join(Catalog.readAt(spark, cat, pins, "cust"),
            col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n_orders"),
            emit(sum(col("price")), 2).as("revenue"))
          .orderBy(col("c_mktsegment"))
      },
      Some(s"""
        SELECT c_mktsegment,
               COUNT(*) AS n_orders,
               ${sqlEmit(s"SUM(${sqlMoney("o_totalprice")})", 2)} AS revenue
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment""".trim)),

    // Row-level MERGE, copy-on-write (r15 — see [[Acid.mergeCow]]): the
    // Delta MERGE INTO algorithm on the manifest seam. One change batch
    // carries all four row fates at once — updates (status → 'X'),
    // RESURRECTIONS of vector-deleted keys (an explicit upsert must undo a
    // merge-on-read delete — the one place MERGE and append semantics
    // differ), fresh inserts under shifted keys, and row deletes — applied
    // in one commit that rewrites ONLY the files the touched-file probe
    // (a distributed semi-join grouped by input_file_name, Delta's
    // findTouchedFiles job) proves contain a changed key. The in-body
    // require pins the COW claim: a strict minority of files rewritten
    // (OperatorSpec additionally pins survivors byte-identical and the
    // vector reconciliation). At 100 TB the cost is O(files containing a
    // matched key) + one O(batch) shuffle — never O(table).
    Q("sink_merge_cow",
      (spark, sfDir) => {
        val table = graft.Tmp.dir("sink_mergecow", sfDir)
        Acid.reset(table)
        val or = Tables.orders(spark, sfDir)
          .select(col("o_orderkey"), col("o_orderstatus"),
            money(col("o_totalprice")).as("price"))
        val k = col("o_orderkey")
        // 4 append commits × 3 RANGE-CLUSTERED files each: every file owns
        // a contiguous key slice, so a key-local change batch has files it
        // provably does not touch (hash-scattered files would force a full
        // rewrite — clustering is what makes COW pay, same lesson as
        // sink_acid_optimize's zone maps)
        (0 until 4).foreach { i =>
          Acid.appendTxn(spark, table,
            or.filter(pmod(k, lit(4)) === i).repartitionByRange(3, k),
            txnId = i.toLong)
        }
        // a standing merge-on-read vector: every key ≡ 0 mod 13 is hidden
        Acid.deleteTxn(spark, table,
          or.filter(k % 13 === 0).select(k), "o_orderkey", txnId = 10L)
        // the MERGE batch is KEY-LOCAL: bounded to the lowest decile of
        // the key domain (computed, not absolute — the locality must hold
        // at every fixture scale; 1-row agg, control plane)
        val mx = or.agg(max(k)).head.getLong(0)
        val bound = mx / 10
        val up = or.filter(k % 17 === 0 && k % 13 =!= 0 && k % 19 =!= 0 && k < bound)
          .withColumn("o_orderstatus", lit("X"))     // matched → update
        val res = or.filter(k % 13 === 0 && k % 17 =!= 0 && k % 19 =!= 0 && k < bound)
          .withColumn("o_orderstatus", lit("R"))     // resurrect deleted keys
        val ins = or.filter(k < 40)
          .withColumn("o_orderkey", k + mx + 1L)     // not-matched → insert
                                                     // (data-relative shift,
                                                     // r16 sf10 lesson)
        val del = or.filter(k % 19 === 0 && k < bound) // matched → delete
        val changes = up.unionByName(res).unionByName(ins)
          .withColumn("__op", lit("upsert"))
          .unionByName(del.withColumn("__op", lit("delete")))
        val (_, touched, total) =
          Acid.mergeCow(spark, table, changes, "o_orderkey", txnId = 20L,
            opCol = Some("__op"))
        require(touched > 0 && touched * 2 <= total,
          s"MERGE must rewrite a strict minority of files: $touched/$total")
        // emit the money column as double (Det emit policy): the stored
        // DECIMAL(12,2) would hash-mismatch the oracle's DOUBLE even though
        // the values are numerically identical
        Acid.read(spark, table)
          .withColumn("price", col("price").cast("double"))
          .orderBy(col("o_orderkey"))
      },
      Some("""
        WITH b AS (
          SELECT CAST(FLOOR(MAX(o_orderkey) / 10.0) AS BIGINT) AS bound,
                 MAX(o_orderkey) + 1 AS s
          FROM orders)
        SELECT o_orderkey, o_orderstatus, price FROM (
          SELECT o_orderkey,
                 CASE WHEN o_orderkey % 13 = 0 THEN 'R'
                      WHEN o_orderkey % 17 = 0 AND o_orderkey < bound THEN 'X'
                      ELSE o_orderstatus END AS o_orderstatus,
                 CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price
          FROM orders, b
          WHERE (o_orderkey % 19 <> 0 OR o_orderkey >= bound)
            AND (o_orderkey % 13 <> 0
                 OR (o_orderkey % 17 <> 0 AND o_orderkey % 19 <> 0
                     AND o_orderkey < bound))
          UNION ALL
          SELECT o_orderkey + s AS o_orderkey, o_orderstatus,
                 CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price
          FROM orders, b WHERE o_orderkey < 40
        ) ORDER BY o_orderkey""".trim)),

    // RESTORE / rollback (r15 — see [[Acid.restore]]): a botched job lands
    // a bad delete (v2) and a bad append (v3); RESTORE TO v1 rolls the
    // table back METADATA-ONLY — no data moves whatever the table size,
    // history stays time-travelable (the bad versions remain readable
    // until vacuum), and the txn LEDGER carries from the current head so
    // exactly-once streams that committed during the bad window keep
    // no-oping their replays (Delta keeps txn appIds across RESTORE for
    // the same reason — in-body require pins it, plus restore-replay
    // idempotence). Work continues after the rollback with a good append.
    // The oracle rebuilds the final state from scratch: all orders plus
    // the post-restore insert — any leakage of the rolled-back delete or
    // append breaks the hash.
    Q("sink_restore",
      (spark, sfDir) => {
        val table = graft.Tmp.dir("sink_restore", sfDir)
        Acid.reset(table)
        val or = Tables.orders(spark, sfDir)
          .select(col("o_orderkey"), col("o_orderstatus"),
            money(col("o_totalprice")).as("price"))
        Acid.appendTxn(spark, table,
          or.filter(col("o_orderkey") % 2 === 0), txnId = 0L) // v0
        Acid.appendTxn(spark, table,
          or.filter(col("o_orderkey") % 2 === 1), txnId = 1L) // v1 (good head)
        val s = or.agg(max(col("o_orderkey"))).head.getLong(0) + 1 // data-relative shift
        val goodRows = Acid.read(spark, table).count()
        Acid.deleteTxn(spark, table,                          // v2: BAD delete
          or.filter(col("o_orderkey") % 5 === 0).select(col("o_orderkey")),
          "o_orderkey", txnId = 2L)
        Acid.appendTxn(spark, table,                          // v3: BAD append
          or.filter(col("o_orderkey") < 30)
            .withColumn("o_orderkey", col("o_orderkey") + s), txnId = 3L)
        val v = Acid.restore(table, toV = 1L, txnId = 4L)     // v4 = rollback
        require(Acid.read(spark, table).count() == goodRows,
          "restore did not reproduce the pre-incident state")
        require(Acid.restore(table, toV = 1L, txnId = 4L) == v,
          "replayed restore must no-op through the ledger")
        // ledger carried from the HEAD: the bad append's txn still no-ops
        require(Acid.appendTxn(spark, table, or.limit(3), txnId = 3L) == v,
          "restore must carry the txn ledger forward (stream exactly-once)")
        // history preserved: the bad version is still auditable — its
        // rogue shifted keys remain visible through time travel
        require(Acid.readVersion(spark, table, 3L)
            .filter(col("o_orderkey") >= s).count() == 30L,
          "restore must not erase history before vacuum")
        Acid.appendTxn(spark, table,                          // life goes on
          or.filter(col("o_orderkey") < 20)
            .withColumn("o_orderkey", col("o_orderkey") + 2 * s), txnId = 5L)
        Acid.read(spark, table)
          .withColumn("price", col("price").cast("double"))
          .orderBy(col("o_orderkey"))
      },
      Some("""
        WITH b AS (SELECT MAX(o_orderkey) + 1 AS s FROM orders)
        SELECT o_orderkey, o_orderstatus, price FROM (
          SELECT o_orderkey, o_orderstatus,
                 CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price
          FROM orders
          UNION ALL
          SELECT o_orderkey + 2 * s AS o_orderkey, o_orderstatus,
                 CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price
          FROM orders, b WHERE o_orderkey < 20
        ) ORDER BY o_orderkey""".trim)),

    // Shallow clone (r15 — see [[Acid.shallowClone]]): fork a governed
    // table for an experiment WITHOUT copying a byte of data — Delta's
    // CREATE TABLE ... SHALLOW CLONE. The clone's manifest re-references
    // the source's immutable files; writes to either side never touch the
    // other (in-body requires pin both directions of the isolation, plus
    // that the clone dir holds ONLY the clone's own append — the zero-copy
    // claim as a disk fact). Standing delete vectors carry (the clone's
    // v0 state equals the source's cloned version); the txn ledger does
    // NOT (the clone is a new table — its streams start their own
    // exactly-once history). At 100 TB a clone costs O(manifest) text —
    // the difference between "minutes and 2× storage" and "instant".
    Q("sink_shallow_clone",
      (spark, sfDir) => {
        val src = graft.Tmp.dir("sink_clone_src", sfDir)
        val dst = graft.Tmp.dir("sink_clone_dst", sfDir)
        Acid.reset(src); Acid.reset(dst)
        val or = Tables.orders(spark, sfDir)
          .select(col("o_orderkey"), col("o_orderstatus"),
            money(col("o_totalprice")).as("price"))
        Acid.appendTxn(spark, src, or, txnId = 0L)
        Acid.deleteTxn(spark, src,
          or.filter(col("o_orderkey") % 5 === 0).select(col("o_orderkey")),
          "o_orderkey", txnId = 1L)
        val srcRows = Acid.read(spark, src).count()
        val s = or.agg(max(col("o_orderkey"))).head.getLong(0) + 1 // data-relative shift
        Acid.shallowClone(src, dst)
        require(Acid.read(spark, dst).count() == srcRows,
          "clone v0 must equal the source's cloned version")
        // diverge BOTH sides; neither write may leak into the other
        Acid.appendTxn(spark, dst,
          or.filter(col("o_orderkey") < 25)
            .withColumn("o_orderkey", col("o_orderkey") + s), txnId = 0L)
        Acid.appendTxn(spark, src,
          or.filter(col("o_orderkey") < 10)
            .withColumn("o_orderkey", col("o_orderkey") + 2 * s), txnId = 2L)
        require(Acid.read(spark, src).count() == srcRows + 10,
          "clone append leaked into the source")
        // zero-copy as a disk fact: the clone dir holds only its own append
        val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(dst))
        val cloneLocal =
          try walk.filter(p => p.toString.endsWith(".parquet")).count()
          finally walk.close()
        val cloneRead = Acid.read(spark, dst)
        require(cloneLocal < cloneRead.count(),
          s"clone materialized data files ($cloneLocal local parquet files)")
        require(cloneRead.filter(col("o_orderkey") >= 2 * s).count() == 0L,
          "source append leaked into the clone")
        cloneRead
          .withColumn("price", col("price").cast("double"))
          .orderBy(col("o_orderkey"))
      },
      Some("""
        WITH b AS (SELECT MAX(o_orderkey) + 1 AS s FROM orders)
        SELECT o_orderkey, o_orderstatus, price FROM (
          SELECT o_orderkey, o_orderstatus,
                 CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price
          FROM orders WHERE o_orderkey % 5 <> 0
          UNION ALL
          SELECT o_orderkey + s AS o_orderkey, o_orderstatus,
                 CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price
          FROM orders, b WHERE o_orderkey < 25
        ) ORDER BY o_orderkey""".trim)),

    // Z-ORDER clustering (r15 — see [[Acid.optimizeZorder]]): range
    // clustering on ONE column makes that column's zone maps sharp and
    // every other column's useless; interleaving the bits of (user_id,
    // ts) spends the locality budget across BOTH, so a who-did-what-when
    // query prunes files on each dimension at once — Delta's OPTIMIZE
    // ZORDER BY. The in-body requires pin the multi-dimension claim:
    // each single-dimension predicate prunes on its own, and the
    // conjunction keeps no more than either alone (readSkippingAll
    // intersects the per-dimension survivor sets). Residual predicates
    // stay on the scan — skipping only ever drops provably-dead files.
    // At 100 TB this is the difference between a 2-D probe opening ~√N
    // of the files and opening all of them because the second dimension
    // was sacrificed to the first.
    Q("sink_acid_zorder",
      (spark, sfDir) => {
        val table = graft.Tmp.dir("sink_zorder", sfDir)
        Acid.reset(table)
        val ev = Tables.events(spark, sfDir)
          .select(col("event_id"), col("user_id"),
            unix_micros(col("ts")).as("ts_us"), col("event_type"), col("value"))
        Acid.appendTxn(spark, table, ev, txnId = 0L)
        Acid.optimizeZorder(spark, table, txnId = 1L, targetFiles = 16,
          zCols = Seq("uid" -> col("user_id"), "ts_us" -> col("ts_us")))
        val v = Acid.currentVersion(table).get
        val lo = utcMicros("2024-01-10T00:00:00Z")
        val hi = utcMicros("2024-01-18T00:00:00Z") - 1
        val (keptU, all) = Acid.skipFiles(table, v, "uid", 10L, 29L)
        val (keptT, _) = Acid.skipFiles(table, v, "ts_us", lo, hi)
        require(keptU.size < all.size && keptT.size < all.size,
          s"z-order must prune on BOTH dimensions: uid ${keptU.size}/${all.size}, " +
            s"ts ${keptT.size}/${all.size}")
        val (df, keptBoth, total) = Acid.readSkippingAll(spark, table,
          Seq(("uid", 10L, 29L), ("ts_us", lo, hi)))
        require(keptBoth <= math.min(keptU.size, keptT.size) && keptBoth < total,
          s"conjunction must prune at least as hard as either dimension: " +
            s"$keptBoth vs (${keptU.size}, ${keptT.size})")
        df.filter(col("user_id").between(10, 29) &&
            col("ts_us").between(lo, hi))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), sumVal6(col("value")).as("sum_val"))
          .orderBy(col("event_type"))
      },
      Some(s"""
        SELECT event_type, COUNT(*) AS n, ${sqlSumVal6("value")} AS sum_val
        FROM events
        WHERE user_id BETWEEN 10 AND 29
          AND ts >= TIMESTAMP '2024-01-10 00:00:00'
          AND ts <  TIMESTAMP '2024-01-18 00:00:00'
        GROUP BY event_type
        ORDER BY event_type""".trim)),

    // Snapshot tags (r15 — see [[Acid.tagVersion]]): an immutable NAMED
    // ref to a committed version (Iceberg tag refs / `AS OF 'name'`) that
    // PINS its snapshot against retention GC — the handle a "reproduce
    // training run X" or compliance claim hangs on for years while
    // ordinary history ages out. The key tags the good audited state,
    // lets a delete + an append land after it, vacuums down to ONE
    // retained version — and then reads the tag through the pure-SQL
    // entry path (`VERSION AS OF 'quarterly-audit'`). In-body requires
    // pin the two halves of the contract: version-NUMBER time travel to
    // the same snapshot fails loudly (the horizon moved — unchanged), the
    // NAME still resolves (vacuum spared the tagged manifest and every
    // file it references). Cost: one O(1) file per tag, O(tagged
    // manifests) extra live-set arithmetic per vacuum.
    Q("sink_snapshot_tag",
      (spark, sfDir) => {
        val table = graft.Tmp.dir("sink_tag", sfDir)
        Acid.reset(table)
        val or = Tables.orders(spark, sfDir)
          .select(col("o_orderkey"), col("o_orderstatus"),
            money(col("o_totalprice")).as("price"))
        Acid.appendTxn(spark, table,
          or.filter(col("o_orderkey") % 3 === 0), txnId = 0L) // v0
        Acid.appendTxn(spark, table,
          or.filter(col("o_orderkey") % 3 === 1), txnId = 1L) // v1: audited
        Acid.tagVersion(table, "quarterly-audit", 1L)
        Acid.deleteTxn(spark, table,                          // v2
          or.filter(col("o_orderkey") % 4 === 0).select(col("o_orderkey")),
          "o_orderkey", txnId = 2L)
        Acid.appendTxn(spark, table,                          // v3
          or.filter(col("o_orderkey") % 3 === 2), txnId = 3L)
        Acid.vacuum(table, keep = 1)
        // ordinary time travel to v1 is expired...
        val expired =
          try { Acid.readVersion(spark, table, 1L); false }
          catch { case _: IllegalArgumentException => true }
        require(expired, "vacuum must expire version-number time travel")
        // ...but the tag still resolves, through the SQL entry path
        SqlEntry.sqlLakehouse(spark, s"""
          SELECT o_orderkey, o_orderstatus,
                 CAST(CAST(price AS DECIMAL(18,2)) AS DOUBLE) AS price
          FROM acid_table('$table') VERSION AS OF 'quarterly-audit'
          ORDER BY o_orderkey""")
      },
      Some("""
        SELECT o_orderkey, o_orderstatus,
               CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price
        FROM orders
        WHERE o_orderkey % 3 IN (0, 1)
        ORDER BY o_orderkey""".trim)),

    // Write-time expectations with quarantine (r15 — see
    // [[Catalog.commitExpectations]]): the Delta Live Tables contract.
    // CHECK constraints (`sink_constraints`) reject a dirty batch
    // WHOLESALE — correct for invariants, wrong for ingest, where one bad
    // row must not block a million good ones. Expectations split the
    // batch: passing rows land in the clean table, failing rows in a
    // quarantine table tagged with the FIRST violated rule (declaration
    // order — spec-pinned), and both land through ONE atomic catalog
    // commit, so no reader ever sees accepted rows whose rejects haven't
    // landed — the quarantine ledger is always audit-consistent with the
    // data it explains. Tagging is one CASE expression: O(batch),
    // map-side; exactly-once under driver retry is the catalog txn's
    // (in-body require pins the replay no-op and the lockstep pins).
    Q("sink_expectations_quarantine",
      (spark, sfDir) => {
        val cat = graft.Tmp.dir("sink_expect", sfDir)
        Catalog.reset(cat)
        val or = Tables.orders(spark, sfDir)
          .select(col("o_orderkey"), col("o_orderstatus"),
            col("o_totalprice"), money(col("o_totalprice")).as("price"))
        val rules = Seq(
          "price_bound" -> (col("o_totalprice") < 400000.0d),
          "key_mod" -> (col("o_orderkey") % 1000 =!= 0))
        val v = Catalog.commitExpectations(spark, cat, txnId = 0L, or, rules)
        require(v == 0L)
        // replay is a no-op at both levels
        require(Catalog.commitExpectations(spark, cat, 0L, or, rules) == 0L,
          "replayed expectations commit advanced the catalog")
        val pins = Catalog.snapshot(cat)
        require(pins.keySet == Set("clean", "quarantine"),
          s"one atomic commit must pin both members: $pins")
        val clean = Catalog.readAt(spark, cat, pins, "clean")
          .select(col("o_orderkey"), col("o_orderstatus"), col("price"),
            lit("clean").as("disposition"))
        val quarantined = Catalog.readAt(spark, cat, pins, "quarantine")
          .select(col("o_orderkey"), col("o_orderstatus"), col("price"),
            concat(lit("quarantine:"), col("__rule")).as("disposition"))
        clean.unionByName(quarantined)
          .withColumn("price", col("price").cast("double"))
          .orderBy(col("o_orderkey"))
      },
      Some("""
        SELECT o_orderkey, o_orderstatus, price, disposition FROM (
          SELECT o_orderkey, o_orderstatus,
                 CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price,
                 'clean' AS disposition
          FROM orders
          WHERE o_totalprice < 400000 AND o_orderkey % 1000 <> 0
          UNION ALL
          SELECT o_orderkey, o_orderstatus,
                 CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price,
                 'quarantine:price_bound' AS disposition
          FROM orders WHERE o_totalprice >= 400000
          UNION ALL
          SELECT o_orderkey, o_orderstatus,
                 CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price,
                 'quarantine:key_mod' AS disposition
          FROM orders
          WHERE o_totalprice < 400000 AND o_orderkey % 1000 = 0
        ) ORDER BY o_orderkey""".trim)),

    // Hidden partitioning (r15 — see [[Acid.appendTxnHidden]]): Iceberg's
    // partition transforms. The table is clustered by day(ts) × bucket8
    // (user_id), but the QUERY below states only raw predicates — a ts
    // window and two user ids; the engine maps them to partition math
    // (dayOfValue / bucketOfValue, the write side's provable twins) and
    // prunes the file list before any I/O. Hive's alternative — a
    // physical dt string column users must remember to filter on —
    // full-scans the moment anyone forgets; here forgetting is
    // impossible because the derived column does not exist in the
    // schema (the data files carry exactly the raw columns). In-body
    // requires pin that the day window and the bucket each prune alone
    // and the conjunction keeps ≤ either; residual raw filters keep the
    // answer exact. At 100 TB this is the default layout for every
    // time-series fact table: day × key-bucket, pruned from raw
    // predicates, evolvable per commit.
    Q("scan_hidden_partition",
      (spark, sfDir) => {
        // the staged hidden layout is a PURE function of the fixture and
        // the key only READS it — memoized per (sfDir, JVM) like stagedBin
        // (r19 bench hygiene: re-running the two tuple-partitioned layout
        // writes charged harness plumbing to every repeated timing)
        val table = stagedHiddenTbl.synchronized {
          stagedHiddenTbl.getOrElseUpdate(sfDir, {
            val t = graft.Tmp.dir("scan_hidden", sfDir)
            Acid.reset(t)
            val ev = Tables.events(spark, sfDir)
              .select(col("event_id"), col("user_id"), col("ts"),
                col("event_type"), col("value"))
            val transforms = Seq(Acid.dayOf("ts"), Acid.bucketOf("user_id", 8))
            // two appends — the tuple metadata accumulates per commit
            Acid.appendTxnHidden(spark, t,
              ev.filter(col("event_id") % 2 === 0), txnId = 0L, transforms)
            Acid.appendTxnHidden(spark, t,
              ev.filter(col("event_id") % 2 === 1), txnId = 1L, transforms)
            t
          })
        }
        // raw predicates, mapped to partition math by the twins
        val lo = utcMicros("2024-01-08T00:00:00Z")
        val hi = utcMicros("2024-01-20T00:00:00Z") - 1
        val users = Seq(7L, 23L) // both ≡ 7 mod 8 — one bucket
        val dayRange = Seq(("day_ts", Acid.dayOfValue(lo), Acid.dayOfValue(hi)))
        val bucket = Map("b8_user_id" -> Acid.bucketOfValue(7L, 8))
        val (_, keptDay, total) = Acid.readPrunedHidden(spark, table, dayRange)
        val (_, keptB, _) = Acid.readPrunedHidden(spark, table, Nil, bucket)
        require(keptDay < total && keptB < total,
          s"hidden transforms must prune: day $keptDay/$total, bucket $keptB/$total")
        val (df, keptBoth, _) =
          Acid.readPrunedHidden(spark, table, dayRange, bucket)
        require(keptBoth <= math.min(keptDay, keptB),
          s"conjunction must prune at least as hard: $keptBoth vs ($keptDay, $keptB)")
        // derived columns are HIDDEN: not in the schema the reader sees
        require(!df.columns.exists(c => c.startsWith("day_") || c.startsWith("b8_")),
          "transform columns leaked into the data schema")
        df.filter(col("user_id").isin(users: _*) &&
            unix_micros(col("ts")).between(lo, hi))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), sumVal6(col("value")).as("sum_val"))
          .orderBy(col("event_type"))
      },
      Some(s"""
        SELECT event_type, COUNT(*) AS n, ${sqlSumVal6("value")} AS sum_val
        FROM events
        WHERE user_id IN (7, 23)
          AND ts >= TIMESTAMP '2024-01-08 00:00:00'
          AND ts <  TIMESTAMP '2024-01-20 00:00:00'
        GROUP BY event_type
        ORDER BY event_type""".trim)),

    // Branch refs, fast-forward publish (r16 — see [[Acid.createBranch]] /
    // [[Acid.fastForwardBranch]]): Iceberg branches / the Nessie
    // write-isolate-publish pattern — WAP generalized from one staged
    // batch to a whole line of commits. An experiment forks `exp` from the
    // governed head, lands TWO commits on the branch (each with its own
    // exactly-once txn id against the BRANCH ledger), and main's readers
    // never see a row of it (in-body require). Publish is metadata-only:
    // main adopts the branch head manifest — data files already durable,
    // zero bytes move whatever the experiment's size — and the branch's
    // txn ledger carries into main, so a stream that committed to the
    // branch keeps no-oping its replays after publish (require pins it,
    // same ledger-carry contract as RESTORE). The fork base's standing
    // delete vectors apply on the branch throughout. At 100 TB this is
    // how risky pipeline changes ship: run the new code against a branch
    // for a week, audit, publish in O(1).
    Q("sink_branch_publish",
      (spark, sfDir) => {
        val table = graft.Tmp.dir("sink_branch_ff", sfDir)
        Acid.reset(table)
        val or = Tables.orders(spark, sfDir)
          .select(col("o_orderkey"), col("o_orderstatus"),
            money(col("o_totalprice")).as("price"))
        Acid.appendTxn(spark, table, or, txnId = 0L)                 // v0
        Acid.deleteTxn(spark, table,                                 // v1
          or.filter(col("o_orderkey") % 7 === 0).select(col("o_orderkey")),
          "o_orderkey", txnId = 1L)
        val mainRows = Acid.read(spark, table).count()
        // shift base is DATA-RELATIVE (r16 sf10 lesson: absolute offsets
        // collide with the key domain at bigger fixtures — a shifted key
        // that equals an existing deleted key gets vector-subtracted and
        // the count silently drifts; 1-row agg, control plane)
        val s = or.agg(max(col("o_orderkey"))).head.getLong(0) + 1
        Acid.createBranch(table, "exp", 1L)
        Acid.appendTxnBranch(spark, table, "exp",
          or.filter(col("o_orderkey") < 50)
            .withColumn("o_orderkey", col("o_orderkey") + s), txnId = 100L)
        val h = Acid.appendTxnBranch(spark, table, "exp",
          or.filter(col("o_orderkey") < 30)
            .withColumn("o_orderkey", col("o_orderkey") + 2 * s), txnId = 101L)
        // replay no-ops against the branch's own ledger
        require(Acid.appendTxnBranch(spark, table, "exp",
          or.limit(3), txnId = 100L) == h,
          "replayed branch append advanced the branch")
        // isolation: main is bit-unaware of the branch
        require(Acid.read(spark, table).count() == mainRows,
          "branch write leaked into main")
        // fork base's standing vectors apply on the branch preview
        require(Acid.readBranch(spark, table, "exp")
          .filter(col("o_orderkey") % 7 === 0 && col("o_orderkey") < s)
          .count() == 0L, "fork base's delete vectors must apply on the branch")
        val v = Acid.fastForwardBranch(table, "exp", txnId = 2L)
        // ledger carried: the branch txns now no-op on MAIN
        require(Acid.appendTxn(spark, table, or.limit(3), txnId = 101L) == v,
          "publish must carry the branch txn ledger (stream exactly-once)")
        require(Acid.branches(table).isEmpty, "publish must retire the branch ref")
        Acid.read(spark, table)
          .withColumn("price", col("price").cast("double"))
          .orderBy(col("o_orderkey"))
      },
      Some("""
        WITH b AS (SELECT MAX(o_orderkey) + 1 AS s FROM orders)
        SELECT o_orderkey, o_orderstatus, price FROM (
          SELECT o_orderkey, o_orderstatus,
                 CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price
          FROM orders WHERE o_orderkey % 7 <> 0
          UNION ALL
          SELECT o_orderkey + s AS o_orderkey, o_orderstatus,
                 CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price
          FROM orders, b WHERE o_orderkey < 50
          UNION ALL
          SELECT o_orderkey + 2 * s AS o_orderkey, o_orderstatus,
                 CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price
          FROM orders, b WHERE o_orderkey < 30
        ) ORDER BY o_orderkey""".trim)),

    // Branch merge onto an advanced main (r16 — see [[Acid.mergeBranch]]):
    // the case fast-forward refuses. Main keeps moving while the branch
    // runs — a delete lands (v1), an append lands (v2) — so the branch's
    // fork base is stale. An APPEND-ONLY branch still publishes safely:
    // its new files and txn ids rebase onto main's head in one metadata
    // commit (append∥append commutes, the same argument as the CAS
    // writer's rebase loop), and main's standing delete vectors apply to
    // the branch's rows exactly as if they had landed on main directly —
    // pinned here by branching COPIES of low orderkeys and watching
    // main's %11 delete subtract from both copies. The in-body requires
    // pin that fast-forward refuses loudly and the merge retires the
    // branch. A branch that recorded its own deletes refuses to merge
    // (spec-pinned) — delete∥write reconciliation is mergeCow's job.
    Q("sink_branch_merge",
      (spark, sfDir) => {
        val table = graft.Tmp.dir("sink_branch_mrg", sfDir)
        Acid.reset(table)
        val or = Tables.orders(spark, sfDir)
          .select(col("o_orderkey"), col("o_orderstatus"),
            money(col("o_totalprice")).as("price"))
        Acid.appendTxn(spark, table, or, txnId = 0L)                 // v0
        val s = or.agg(max(col("o_orderkey"))).head.getLong(0) + 1   // data-relative shift
        Acid.createBranch(table, "exp", 0L)
        Acid.appendTxnBranch(spark, table, "exp",
          or.filter(col("o_orderkey") < 200), txnId = 100L)          // branch copies
        // main advances underneath the branch
        Acid.deleteTxn(spark, table,                                 // v1
          or.filter(col("o_orderkey") % 11 === 0).select(col("o_orderkey")),
          "o_orderkey", txnId = 1L)
        Acid.appendTxn(spark, table,                                 // v2
          or.filter(col("o_orderkey") < 25)
            .withColumn("o_orderkey", col("o_orderkey") + s), txnId = 2L)
        // fast-forward must refuse a diverged main — loudly, not silently
        val ffRefused =
          try { Acid.fastForwardBranch(table, "exp", txnId = 3L); false }
          catch { case _: IllegalArgumentException => true }
        require(ffRefused, "fastForwardBranch accepted a diverged main")
        val v = Acid.mergeBranch(table, "exp", txnId = 3L)
        require(Acid.mergeBranch(table, "exp", txnId = 3L) == v,
          "replayed merge must no-op through the ledger")
        require(Acid.branches(table).isEmpty, "merge must retire the branch ref")
        Acid.read(spark, table)
          .withColumn("price", col("price").cast("double"))
          .orderBy(col("o_orderkey"), col("o_orderstatus"))
      },
      Some("""
        WITH b AS (SELECT MAX(o_orderkey) + 1 AS s FROM orders)
        SELECT o_orderkey, o_orderstatus, price FROM (
          SELECT o_orderkey, o_orderstatus,
                 CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price
          FROM orders WHERE o_orderkey % 11 <> 0
          UNION ALL
          SELECT o_orderkey, o_orderstatus,
                 CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price
          FROM orders WHERE o_orderkey < 200 AND o_orderkey % 11 <> 0
          UNION ALL
          SELECT o_orderkey + s AS o_orderkey, o_orderstatus,
                 CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price
          FROM orders, b WHERE o_orderkey < 25
        ) ORDER BY o_orderkey, o_orderstatus""".trim)),

    // Branch rebase (r16 — see [[Acid.rebaseBranch]]): the git-rebase of
    // refs. A long experiment forks, copies low keys, and keeps working
    // while main lands a delete AND an append; instead of letting the
    // divergence compound until publish day, the branch REBASES — its own
    // commits replay onto main's head as one metadata commit, the fork
    // base moves forward, main untouched (in-body pinned). After the
    // rebase the branch sees main's new rows, main's delete vectors
    // subtract from the branch's copies (the oracle pins exactly that),
    // and work continues ON the branch before a clean O(1) fast-forward
    // publish — which would have REFUSED before the rebase (pinned). At
    // 100 TB this is how week-long experiments stay publishable: rebase
    // daily for O(manifest) text, publish whenever, no data moves ever.
    Q("sink_branch_rebase",
      (spark, sfDir) => {
        val table = graft.Tmp.dir("sink_brrebase", sfDir)
        Acid.reset(table)
        val or = Tables.orders(spark, sfDir)
          .select(col("o_orderkey"), col("o_orderstatus"),
            money(col("o_totalprice")).as("price"))
        Acid.appendTxn(spark, table, or, txnId = 0L)                 // v0
        val s = or.agg(max(col("o_orderkey"))).head.getLong(0) + 1
        Acid.createBranch(table, "exp", 0L)
        Acid.appendTxnBranch(spark, table, "exp",
          or.filter(col("o_orderkey") < 150), txnId = 100L)          // copies
        // main advances: a delete and an append the branch cannot see yet
        Acid.deleteTxn(spark, table,
          or.filter(col("o_orderkey") % 13 === 0).select(col("o_orderkey")),
          "o_orderkey", txnId = 1L)                                  // v1
        Acid.appendTxn(spark, table,
          or.filter(col("o_orderkey") < 35)
            .withColumn("o_orderkey", col("o_orderkey") + s), txnId = 2L) // v2
        // stale fork: fast-forward refuses until the branch rebases
        val ffRefused =
          try { Acid.fastForwardBranch(table, "exp", txnId = 3L); false }
          catch { case _: IllegalArgumentException => true }
        require(ffRefused, "fastForwardBranch accepted a stale fork base")
        val mainRows = Acid.read(spark, table).count()
        val h = Acid.rebaseBranch(table, "exp", txnId = 200L)
        require(Acid.rebaseBranch(table, "exp", txnId = 200L) == h,
          "replayed rebase must no-op through the branch ledger")
        require(Acid.read(spark, table).count() == mainRows,
          "rebase mutated main")
        // the rebased branch sees main's append; main's delete vectors now
        // subtract from the branch's copies too
        require(Acid.readBranch(spark, table, "exp")
          .filter(col("o_orderkey") >= s).count() == 35L,
          "rebase did not bring main's new rows onto the branch")
        require(Acid.readBranch(spark, table, "exp")
          .filter(col("o_orderkey") % 13 === 0 && col("o_orderkey") < s)
          .count() == 0L,
          "main's delete vectors must apply to the rebased branch")
        // work continues on the branch, then a clean O(1) publish
        Acid.appendTxnBranch(spark, table, "exp",
          or.filter(col("o_orderkey") < 15)
            .withColumn("o_orderkey", col("o_orderkey") + 2 * s), txnId = 101L)
        Acid.fastForwardBranch(table, "exp", txnId = 3L)
        Acid.read(spark, table)
          .withColumn("price", col("price").cast("double"))
          .orderBy(col("o_orderkey"), col("o_orderstatus"))
      },
      Some("""
        WITH b AS (SELECT MAX(o_orderkey) + 1 AS s FROM orders)
        SELECT o_orderkey, o_orderstatus, price FROM (
          SELECT o_orderkey, o_orderstatus,
                 CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price
          FROM orders WHERE o_orderkey % 13 <> 0
          UNION ALL
          SELECT o_orderkey, o_orderstatus,
                 CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price
          FROM orders WHERE o_orderkey < 150 AND o_orderkey % 13 <> 0
          UNION ALL
          SELECT o_orderkey + s AS o_orderkey, o_orderstatus,
                 CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price
          FROM orders, b WHERE o_orderkey < 35
          UNION ALL
          SELECT o_orderkey + 2 * s AS o_orderkey, o_orderstatus,
                 CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price
          FROM orders, b WHERE o_orderkey < 15
        ) ORDER BY o_orderkey, o_orderstatus""".trim)),

    // DML-branch REBASE (r18 — [[Acid.rebaseBranchDml]]): the r17 refusal
    // LIFTED. A branch carrying row-level DML (COW merge + MoR delete)
    // cannot three-way-merge across a rewritten main base — the branch's
    // rewritten copies embed the OLD base's rows — so every branch commit
    // records a replayable `# dml:` op-log entry (merge ops freeze their
    // change frame under `branch=<n>/chg=<txn>/`), and the rebase RE-RUNS
    // the branch's logical history, in commit order, against main's head:
    // exactly the state the operator would have reached forking today.
    // Main appends AND a mid-experiment main OPTIMIZE (the case the
    // three-way rebase refuses, in-body pinned) are transparent: the
    // replayed MERGE re-probes main's compacted files from scratch. Cost
    // per rebase = O(files the replayed DML touches), never O(table);
    // publish stays the O(1) fast-forward. At 100 TB this is how a
    // week-long row-level experiment survives nightly compaction without
    // re-running the pipeline by hand.
    Q("sink_branch_rebase_dml",
      (spark, sfDir) => {
        val table = graft.Tmp.dir("branch_rbdml", sfDir)
        Acid.reset(table)
        val or = Tables.orders(spark, sfDir)
          .select(col("o_orderkey"), col("o_orderstatus"),
            money(col("o_totalprice")).as("price"))
        Acid.appendTxn(spark, table,
          or.filter(col("o_orderkey") % 3 === 0), txnId = 0L)   // main v0
        Acid.createBranch(table, "exp", 0L)
        // branch DML: the same MERGE intent as sink_branch_dml...
        val updates = or
          .filter(col("o_orderkey") % 15 === 0 && col("o_orderkey") % 21 =!= 0)
          .withColumn("price", money(col("price") + 1000))
          .withColumn("__op", lit("upsert"))
        val inserts = or
          .filter(col("o_orderkey") % 3 === 1 && col("o_orderkey") % 5 === 0)
          .withColumn("__op", lit("upsert"))
        val deletes = or.filter(col("o_orderkey") % 21 === 0)
          .withColumn("__op", lit("delete"))
        Acid.mergeCowBranch(spark, table, "exp",
          updates.unionByName(inserts).unionByName(deletes),
          "o_orderkey", txnId = 10L, opCol = Some("__op"))      // branch k0
        Acid.deleteTxnBranch(spark, table, "exp",
          or.filter(col("o_orderkey") % 33 === 0).select(col("o_orderkey")),
          "o_orderkey", txnId = 11L)                            // branch k1
        // ...then MAIN moves mid-experiment: new rows land AND the nightly
        // OPTIMIZE rewrites every base file the branch DML had touched
        Acid.appendTxn(spark, table,
          or.filter(col("o_orderkey") % 3 === 2 && col("o_orderkey") % 7 === 0),
          txnId = 1L)                                           // main v1
        Acid.optimize(spark, table, 2L, targetFiles = 2)        // main v2
        // the three-way rebase still refuses a DML branch (the r17 rail)
        val refused =
          try { Acid.rebaseBranch(table, "exp", txnId = 12L); false }
          catch { case _: IllegalArgumentException => true }
        require(refused,
          "sink_branch_rebase_dml: three-way rebase accepted a DML branch")
        // the logical replay lifts it — routed through the PURE-SQL entry
        // (ALTER BRANCH ... REBASE), like sink_branch_dml's MERGE; the
        // replay no-op is pinned through the API twin
        val mainRows = Acid.read(spark, table).count()
        val h = SqlEntry.sqlLakehouse(spark,
          s"ALTER BRANCH 'exp' OF acid_table('$table') REBASE TXN 13")
          .head.getLong(1)
        require(Acid.rebaseBranchDml(spark, table, "exp", txnId = 13L) == h,
          "sink_branch_rebase_dml: replayed rebase must no-op")
        require(Acid.read(spark, table).count() == mainRows,
          "sink_branch_rebase_dml: rebase mutated main")
        Acid.fastForwardBranch(table, "exp", txnId = 14L)
        Acid.read(spark, table)
          .select(col("o_orderkey"), col("o_orderstatus"),
            emit(col("price"), 2).as("price"))
          .orderBy(col("o_orderkey"))
      },
      Some("""
        WITH base AS (
          SELECT o_orderkey, o_orderstatus,
                 CAST(o_totalprice AS DECIMAL(12,2)) AS price
          FROM orders
        )
        SELECT o_orderkey, o_orderstatus,
               CAST(CAST(price AS DECIMAL(18,2)) AS DOUBLE) AS price
        FROM (
          SELECT o_orderkey, o_orderstatus,
                 CAST(CASE WHEN o_orderkey % 15 = 0 THEN price + 1000
                      ELSE price END AS DECIMAL(12,2)) AS price
          FROM base
          WHERE (o_orderkey % 3 = 0
                 OR (o_orderkey % 3 = 2 AND o_orderkey % 7 = 0))
            AND o_orderkey % 21 <> 0 AND o_orderkey % 33 <> 0
          UNION ALL
          SELECT o_orderkey, o_orderstatus, price
          FROM base WHERE o_orderkey % 3 = 1 AND o_orderkey % 5 = 0
        )
        ORDER BY o_orderkey""".trim)),

    // Cherry-pick ONE branch commit (r16 — see [[Acid.cherryPick]]):
    // Iceberg's cherrypickSnapshot. The experiment branch carries two
    // commits; only the SECOND is ready to ship, so main picks exactly
    // that commit's files — metadata-only, under BOTH the picked commit's
    // branch txn id and the publish txn id — while the branch stays open
    // for more work. The dual-id landing is the exactly-once hinge: a
    // later full mergeBranch of the same branch REFUSES via the cross-ref
    // collision guard (in-body pinned) instead of silently double-applying
    // the picked rows. Replayed picks no-op through the main ledger
    // (pinned). At 100 TB cherry-pick is how one urgent fix ships out of
    // a week-long experiment without publishing the rest.
    Q("sink_branch_cherrypick",
      (spark, sfDir) => {
        val table = graft.Tmp.dir("sink_brpick", sfDir)
        Acid.reset(table)
        val or = Tables.orders(spark, sfDir)
          .select(col("o_orderkey"), col("o_orderstatus"),
            money(col("o_totalprice")).as("price"))
        Acid.appendTxn(spark, table, or, txnId = 0L)                 // v0
        val s = or.agg(max(col("o_orderkey"))).head.getLong(0) + 1   // data-relative shift
        Acid.createBranch(table, "exp", 0L)
        Acid.appendTxnBranch(spark, table, "exp",                    // commit A
          or.filter(col("o_orderkey") < 50)
            .withColumn("o_orderkey", col("o_orderkey") + s), txnId = 100L)
        Acid.appendTxnBranch(spark, table, "exp",                    // commit B
          or.filter(col("o_orderkey") < 30)
            .withColumn("o_orderkey", col("o_orderkey") + 2 * s), txnId = 101L)
        Acid.appendTxn(spark, table,                                 // main moves
          or.filter(col("o_orderkey") < 20)
            .withColumn("o_orderkey", col("o_orderkey") + 3 * s), txnId = 1L)
        val branchRows = Acid.readBranch(spark, table, "exp").count()
        val v = Acid.cherryPick(table, "exp", branchTxn = 101L, txnId = 2L)
        require(Acid.cherryPick(table, "exp", 101L, txnId = 2L) == v,
          "replayed cherry-pick must no-op through the ledger")
        // the branch stays OPEN and unchanged
        require(Acid.readBranch(spark, table, "exp").count() == branchRows,
          "cherry-pick must not mutate the branch")
        // a later full merge refuses: commit B's txn now lives on BOTH refs
        val mergeRefused =
          try { Acid.mergeBranch(table, "exp", txnId = 3L); false }
          catch { case _: IllegalArgumentException => true }
        require(mergeRefused,
          "mergeBranch accepted a branch whose picked txn already landed on main")
        Acid.dropBranch(table, "exp") // abandon commit A
        Acid.read(spark, table)
          .withColumn("price", col("price").cast("double"))
          .orderBy(col("o_orderkey"))
      },
      Some("""
        WITH b AS (SELECT MAX(o_orderkey) + 1 AS s FROM orders)
        SELECT o_orderkey, o_orderstatus, price FROM (
          SELECT o_orderkey, o_orderstatus,
                 CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price
          FROM orders
          UNION ALL
          SELECT o_orderkey + 3 * s AS o_orderkey, o_orderstatus,
                 CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price
          FROM orders, b WHERE o_orderkey < 20
          UNION ALL
          SELECT o_orderkey + 2 * s AS o_orderkey, o_orderstatus,
                 CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price
          FROM orders, b WHERE o_orderkey < 30
        ) ORDER BY o_orderkey""".trim)),

    // Branch diff — the publish PREVIEW (r16): before merging an
    // experiment, the operator asks "what exactly would publish change?"
    // — the same question snapshot_diff answers across versions, asked
    // across REFS. Both sides resolve from manifests (branch head vs main
    // head) and diff as two broadcast-able anti-joins on the key: rows
    // only on the branch (the experiment's additions) and rows only on
    // main (landed concurrently since the fork, which the branch does not
    // yet see). Standing delete vectors apply on both sides first, so the
    // preview shows exactly what readers would gain/lose. At 100 TB the
    // anti-joins are key-only (no payload shuffle) and the typical diff
    // is a sliver of the table — this is the audit gate before every
    // mergeBranch.
    Q("scan_branch_diff",
      (spark, sfDir) => {
        val table = graft.Tmp.dir("scan_brdiff", sfDir)
        Acid.reset(table)
        val or = Tables.orders(spark, sfDir)
          .select(col("o_orderkey"), col("o_orderstatus"),
            money(col("o_totalprice")).as("price"))
        Acid.appendTxn(spark, table, or, txnId = 0L)
        val s = or.agg(max(col("o_orderkey"))).head.getLong(0) + 1   // data-relative shift
        Acid.createBranch(table, "exp", 0L)
        Acid.appendTxnBranch(spark, table, "exp",
          or.filter(col("o_orderkey") < 100)
            .withColumn("o_orderkey", col("o_orderkey") + s), txnId = 100L)
        // main lands work the branch does not see
        Acid.appendTxn(spark, table,
          or.filter(col("o_orderkey") < 40)
            .withColumn("o_orderkey", col("o_orderkey") + 2 * s), txnId = 1L)
        val main = Acid.read(spark, table)
        val branch = Acid.readBranch(spark, table, "exp")
        val branchOnly = branch.join(main.select(col("o_orderkey")),
          Seq("o_orderkey"), "left_anti")
          .withColumn("side", lit("branch_only"))
        val mainOnly = main.join(branch.select(col("o_orderkey")),
          Seq("o_orderkey"), "left_anti")
          .withColumn("side", lit("main_only"))
        branchOnly.unionByName(mainOnly)
          .withColumn("price", col("price").cast("double"))
          .orderBy(col("o_orderkey"))
      },
      Some("""
        WITH b AS (SELECT MAX(o_orderkey) + 1 AS s FROM orders)
        SELECT o_orderkey, o_orderstatus, price, side FROM (
          SELECT o_orderkey + s AS o_orderkey, o_orderstatus,
                 CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price,
                 'branch_only' AS side
          FROM orders, b WHERE o_orderkey < 100
          UNION ALL
          SELECT o_orderkey + 2 * s AS o_orderkey, o_orderstatus,
                 CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price,
                 'main_only' AS side
          FROM orders, b WHERE o_orderkey < 40
        ) ORDER BY o_orderkey""".trim)),

    // Partition-tuple metadata table (r16 — see [[Acid.partitions]]):
    // Iceberg's `partitions` metadata table. The events table lands under
    // a hidden day(ts) transform in two appends (even/odd event ids), each
    // repartitioned BY the day expression so every (append, day) pair is
    // exactly one file — the file count per tuple becomes a cross-engine
    // fact (the count of id-parities present that day — 2 except where a
    // sparse edge day carries only one parity), not an accident of
    // parallelism. Row counts per tuple come from ONE
    // distributed scan folded through the broadcast file→tuple map; the
    // oracle re-derives them from raw events with the same floor-division
    // day math the transform uses. This is the table a 100 TB operator
    // reads before every backfill: "which days exist, how fragmented,
    // how big" — O(files) metadata, one scan for the exact counts.
    Q("scan_table_partitions",
      (spark, sfDir) => {
        val table = graft.Tmp.dir("scan_parts", sfDir)
        Acid.reset(table)
        val ev = Tables.events(spark, sfDir)
          .select(col("event_id"), col("user_id"), col("ts"), col("value"))
        val day = Acid.dayOf("ts")
        (0 until 2).foreach { i =>
          Acid.appendTxnHidden(spark, table,
            ev.filter(col("event_id") % 2 === i).repartition(day._2),
            txnId = i.toLong, Seq(day))
        }
        Acid.partitions(spark, table).orderBy(col("partition"))
      },
      Some("""
        SELECT 'day_ts=' || CAST(epoch_us(ts) // 86400000000 AS BIGINT)
                 AS partition,
               COUNT(DISTINCT event_id % 2) AS n_files,
               COUNT(*) AS n_rows
        FROM events
        GROUP BY 1
        ORDER BY partition""".trim)),

    // Commit-history metadata table (r16 — see [[Acid.history]]): Delta's
    // DESCRIBE HISTORY / Iceberg's `snapshots` metadata table, queryable
    // like any other DataFrame. Three known commits (append evens, append
    // odds, equality-delete every 5th key) produce three history rows
    // whose structural columns come from O(versions) manifest reads — the
    // control plane, no data I/O — and whose exact row counts the oracle
    // re-derives from the raw table. repartition(4) pins the per-append
    // file count so the file-count column is an exact cross-engine fact,
    // not an accident of parallelism. This is the table ops dashboards
    // and retention audits query at 100 TB: "what landed, when, how big".
    Q("scan_table_history",
      (spark, sfDir) => {
        val table = graft.Tmp.dir("scan_history", sfDir)
        Acid.reset(table)
        val or = Tables.orders(spark, sfDir).select(col("o_orderkey"))
        Acid.appendTxn(spark, table,
          or.filter(col("o_orderkey") % 2 === 0).repartition(4), txnId = 0L)
        Acid.appendTxn(spark, table,
          or.filter(col("o_orderkey") % 2 === 1).repartition(4), txnId = 1L)
        Acid.deleteTxn(spark, table,
          or.filter(col("o_orderkey") % 5 === 0), "o_orderkey", txnId = 2L)
        Acid.history(spark, table).orderBy(col("version"))
      },
      Some("""
        SELECT version, n_files, n_txns, n_rows FROM (
          SELECT CAST(0 AS BIGINT) AS version, CAST(4 AS BIGINT) AS n_files,
                 CAST(1 AS BIGINT) AS n_txns,
                 (SELECT COUNT(*) FROM orders WHERE o_orderkey % 2 = 0) AS n_rows
          UNION ALL
          SELECT 1, 8, 2, (SELECT COUNT(*) FROM orders)
          UNION ALL
          SELECT 2, 8, 3,
                 (SELECT COUNT(*) FROM orders WHERE o_orderkey % 5 <> 0)
        ) ORDER BY version""".trim)),

    // Row-level security + column masking (r16 — see [[Policy.secureView]]):
    // the Unity Catalog / Snowflake row-access-policy shape as a view
    // rewrite. The principal here is scoped to two regions and must never
    // see raw PII: the row policy filters customers to ASIA+EUROPE nations
    // (pushed into the scan — the rows do not exist for this principal,
    // they are not filtered post-hoc), the name column is replaced by an
    // opaque join-stable token, and the balance is coarsened to its
    // hundred-band (k-anonymity-style generalization) — masks applied IN
    // PLACE so the schema is indistinguishable from the raw table. Dimension joins broadcast (25-row nation, 5-row
    // region); the fact side never shuffles. At 100 TB this is the only
    // governance design that scales: policies as Catalyst expressions keep
    // pushdown, pruning, and codegen intact.
    Q("scan_row_policy",
      (spark, sfDir) => {
        val nat = Tables.nation(spark, sfDir)
          .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
        val reg = Tables.region(spark, sfDir)
          .select(col("r_regionkey"), col("r_name"))
        val dim = broadcast(nat.join(broadcast(reg),
          col("n_regionkey") === col("r_regionkey")))
        val joined = Tables.customer(spark, sfDir)
          .join(dim, col("c_nationkey") === col("n_nationkey"))
        val secured = Policy.secureView(joined,
          rowFilter = col("r_name").isin("ASIA", "EUROPE"),
          masks = Seq(
            "c_name" -> concat(lit("cust-"), col("c_custkey")),
            // coarsening mask: the principal sees the balance BAND, never
            // the exact figure (k-anonymity-style generalization)
            "c_acctbal" -> floor(col("c_acctbal") / 100.0).cast("long")))
        secured.select(
          col("c_custkey"),
          col("c_name").as("name_token"),
          col("n_name").as("nation"),
          col("c_acctbal").as("acctbal_band"))
          .orderBy(col("c_custkey"))
      },
      Some("""
        SELECT c_custkey,
               'cust-' || c_custkey AS name_token,
               n_name AS nation,
               CAST(FLOOR(c_acctbal / 100.0) AS BIGINT) AS acctbal_band
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name IN ('ASIA', 'EUROPE')
        ORDER BY c_custkey""".trim)),

    // SQL ANALYZE — stats retrofit (r17): an INHERITED pile of appends
    // (no writer ever harvested stats) becomes a skippable table without
    // rewriting a byte. Before: a range probe keeps EVERY file (no zone
    // maps — skipping is an optimization, absent stats keep everything);
    // one metadata-only ANALYZE later the same probe prunes (in-body
    // requires pin both states, plus the bloom point-probe pruning and
    // the file list staying identical). The scan pays one pass over
    // exactly the files missing the requested line — re-analyzing is
    // incremental. Oracle = the range filter over the raw fixture; the
    // pruned read plus residual predicate must lose nothing.
    Q("sql_analyze",
      (spark, sfDir) => {
        val table = graft.Tmp.dir("sql_analyze", sfDir)
        Acid.reset(table)
        val or = Tables.orders(spark, sfDir)
          .select(col("o_orderkey"), col("o_orderstatus"))
        val k = col("o_orderkey")
        (0 until 4).foreach { i =>
          Acid.appendTxn(spark, table,
            or.filter(pmod(k, lit(4)) === i).repartitionByRange(3, k),
            txnId = i.toLong)
        }
        val mx = or.agg(max(k)).head.getLong(0)
        val (lo, hi) = (2L * mx / 5, 9L * mx / 20) // a ~5%-of-domain window
        val v0 = Acid.currentVersion(table).get
        val (kept0, all0) = Acid.skipFiles(table, v0, "o_orderkey", lo, hi)
        require(kept0.size == all0.size,
          "without stats, skipping must keep every file")
        val filesBefore = Acid.read(spark, table).inputFiles.toSet
        SqlEntry.sqlLakehouse(spark, s"""
          ANALYZE acid_table('$table')
          STATS (o_orderkey) BLOOM (o_orderkey) ROWS TXN 10""")
        val v1 = Acid.currentVersion(table).get
        require(Acid.read(spark, table).inputFiles.toSet == filesBefore,
          "ANALYZE must be metadata-only")
        val (kept1, all1) = Acid.skipFiles(table, v1, "o_orderkey", lo, hi)
        require(kept1.size < all1.size,
          s"retrofitted zone maps must prune: ${kept1.size}/${all1.size}")
        // the adaptive bloom width caps at 2^20 bits (r16): past ~65k keys
        // per file the filter saturates and honestly keeps everything, so
        // the point-probe pruning promise only holds below that density —
        // zone maps carry the probe above it (kept1 already pinned)
        val keysPerFile = or.count() / all1.size
        if (keysPerFile * 16 <= (1L << 20)) {
          val (bk, ba) = Acid.skipFilesBloom(table, v1, "o_orderkey", lo)
          require(bk.size < ba.size,
            s"retrofitted blooms must prune a point probe: ${bk.size}/${ba.size}")
        }
        Acid.readSkipping(spark, table, "o_orderkey", lo, hi)
          .filter(k.between(lo, hi)) // caller keeps the residual predicate
          .orderBy(k)
      },
      Some("""
        WITH b AS (
          SELECT CAST(FLOOR(MAX(o_orderkey) * 2 / 5.0) AS BIGINT) AS lo,
                 CAST(FLOOR(MAX(o_orderkey) * 9 / 20.0) AS BIGINT) AS hi
          FROM orders)
        SELECT o_orderkey, o_orderstatus
        FROM orders, b
        WHERE o_orderkey BETWEEN lo AND hi
        ORDER BY o_orderkey""".trim)),

    // SQL INSERT INTO / CREATE TABLE AS (r17): the WRITE half of the
    // pure-SQL story — CTAS initializes the table (refuses when one
    // exists), INSERT INTO appends through appendTxnChecked so standing
    // CHECK constraints gate the batch at the write side: the in-body
    // require proves a violating INSERT refuses loudly AND the table
    // does not advance (the garbage stops at the gate). Oracle = the
    // union of the two inserted slices — a leaked violating row or a
    // double-applied insert breaks the hash.
    Q("sql_insert_into",
      (spark, sfDir) => {
        val table = graft.Tmp.dir("sql_insert", sfDir)
        Acid.reset(table)
        SqlEntry.sql(spark, sfDir, "SELECT 1").collect()
        SqlEntry.sqlLakehouse(spark, s"""
          CREATE TABLE acid_table('$table') AS
          SELECT o_orderkey, o_orderstatus FROM orders
          WHERE o_orderkey % 2 = 0 TXN 0""")
        SqlEntry.sqlLakehouse(spark, s"""
          ALTER TABLE acid_table('$table')
          ADD CONSTRAINT key_nonneg CHECK (o_orderkey >= 0) TXN 1""")
        SqlEntry.sqlLakehouse(spark, s"""
          INSERT INTO acid_table('$table')
          SELECT o_orderkey, o_orderstatus FROM orders
          WHERE o_orderkey % 2 = 1 TXN 2""")
        val vBefore = Acid.currentVersion(table).get
        val refused =
          try {
            SqlEntry.sqlLakehouse(spark, s"""
              INSERT INTO acid_table('$table')
              SELECT 0 - o_orderkey - 1 AS o_orderkey, o_orderstatus
              FROM orders WHERE o_orderkey < 10 TXN 3""")
            false
          } catch { case _: ConstraintViolationException => true }
        require(refused && Acid.currentVersion(table).get == vBefore,
          "a constraint-violating SQL INSERT must refuse with the table unmoved")
        val ctasRefused =
          try {
            SqlEntry.sqlLakehouse(spark, s"""
              CREATE TABLE acid_table('$table') AS
              SELECT o_orderkey FROM orders TXN 4""")
            false
          } catch { case _: IllegalArgumentException => true }
        require(ctasRefused, "CTAS on an initialized table must refuse")
        // write-side schema check: a SELECT projecting the wrong columns
        // refuses by name, never lands a divergent-schema file
        val wrongCols =
          try {
            SqlEntry.sqlLakehouse(spark, s"""
              INSERT INTO acid_table('$table')
              SELECT o_orderkey, o_totalprice FROM orders
              WHERE o_orderkey < 5 TXN 5""")
            false
          } catch { case _: IllegalArgumentException => true }
        require(wrongCols && Acid.currentVersion(table).get == vBefore,
          "a wrong-column SQL INSERT must refuse with the table unmoved")
        SqlEntry.sqlLakehouse(spark, s"""
          SELECT o_orderkey, o_orderstatus FROM acid_table('$table')
          ORDER BY o_orderkey""")
      },
      Some("""
        SELECT o_orderkey, o_orderstatus FROM orders
        ORDER BY o_orderkey""".trim)),

    // TIMESTAMP AS OF (r17): wall-clock time travel — Delta's other AS OF
    // dialect. Acid.versionAsOf resolves an instant to the greatest
    // version whose commit mtime is at or before it (the manifest's
    // atomic CREATE_NEW stamps the commit time); the fixture pins the two
    // manifests' mtimes to fixed epochs so the resolution is
    // deterministic, and the in-body require pins the pre-history instant
    // failing loudly (Delta's rule). Both reads go through the pure-SQL
    // text; the oracle rebuilds both snapshots set-theoretically.
    Q("sql_timestamp_travel",
      (spark, sfDir) => {
        val table = graft.Tmp.dir("sql_tstravel", sfDir)
        Acid.reset(table)
        val docs = Tables.documents(spark, sfDir)
          .select(col("doc_id"), col("lang"), col("n_chars"))
        Acid.appendTxn(spark, table,
          docs.filter(col("doc_id") % 2 === 0), txnId = 0L) // v0
        Acid.appendTxn(spark, table,
          docs.filter(col("doc_id") % 2 === 1), txnId = 1L) // v1
        def pin(v: Long, iso: String): Unit =
          java.nio.file.Files.setLastModifiedTime(
            java.nio.file.Paths.get(table, s"manifest-$v.txt"),
            java.nio.file.attribute.FileTime.fromMillis(
              java.time.Instant.parse(iso).toEpochMilli))
        pin(0L, "2024-01-01T00:00:00Z")
        pin(1L, "2024-06-01T00:00:00Z")
        val early =
          try { Acid.versionAsOf(table,
            java.time.Instant.parse("2023-12-31T00:00:00Z").toEpochMilli); false }
          catch { case _: IllegalArgumentException => true }
        require(early, "TIMESTAMP AS OF before the first commit must fail loudly")
        SqlEntry.sqlLakehouse(spark, s"""
          SELECT doc_id, lang, n_chars, CAST(0 AS BIGINT) AS gen
          FROM acid_table('$table') TIMESTAMP AS OF '2024-03-01T00:00:00Z'
          UNION ALL
          SELECT doc_id, lang, n_chars, CAST(1 AS BIGINT) AS gen
          FROM acid_table('$table') TIMESTAMP AS OF '2024-07-01T00:00:00Z'
          ORDER BY gen, doc_id""")
      },
      Some("""
        SELECT doc_id, lang, n_chars, CAST(0 AS BIGINT) AS gen
        FROM documents WHERE doc_id % 2 = 0
        UNION ALL
        SELECT doc_id, lang, n_chars, CAST(1 AS BIGINT) AS gen
        FROM documents
        ORDER BY gen, doc_id""".trim)),

    // Files metadata table (r17 — the other half of VERDICT r16 item 3:
    // Iceberg exposes `refs` AND `files` as queryable tables):
    // Acid.filesTable surfaces one row per data file with its partition
    // tuple (hive path segments or the manifest's pval line), recorded
    // row count, and min/max stats — pure manifest arithmetic, zero data
    // I/O, the listing every compaction / skew / skipping diagnosis
    // starts from. The fixture commits hive-partitioned with stats +
    // row counts recorded, so every emitted column is deterministic
    // (the nondeterministic file NAME is deliberately projected away);
    // the oracle recomputes each partition's count and key range from
    // the raw fixture — a wrong stat line breaks the hash.
    Q("scan_table_files",
      (spark, sfDir) => {
        val table = graft.Tmp.dir("scan_files", sfDir)
        Acid.reset(table)
        val docs = Tables.documents(spark, sfDir)
          .select(col("doc_id"), (col("doc_id") % 3).as("grp"), col("n_chars"))
          .repartition(1) // one writer task -> exactly one file per partition
        Acid.commit(spark, table, docs, partitionCols = Seq("grp"),
          stats = Some(("doc_id", col("doc_id"))), rowCounts = true)
        // size_bytes is real on-disk truth (nondeterministic across parquet
        // encoders, so it is required-positive here and projected away)
        require(SqlEntry.sqlLakehouse(spark,
          s"SELECT MIN(size_bytes) AS s FROM table_files('$table')")
          .head.getLong(0) > 0L, "files table must carry real file sizes")
        SqlEntry.sqlLakehouse(spark, s"""
          SELECT partition, n_rows, stats
          FROM table_files('$table')
          ORDER BY partition""")
      },
      Some("""
        SELECT 'grp=' || CAST(doc_id % 3 AS VARCHAR) AS partition,
               COUNT(*) AS n_rows,
               'doc_id:' || CAST(MIN(doc_id) AS VARCHAR) || '..' ||
                 CAST(MAX(doc_id) AS VARCHAR) AS stats
        FROM documents
        GROUP BY doc_id % 3
        ORDER BY partition""".trim)),

    // Pure-SQL maintenance console (r17): the DDL/maintenance statements
    // an operator runs — OPTIMIZE (small-file compaction, CLUSTER BY),
    // ALTER TABLE ADD CONSTRAINT (validated against existing data before
    // the metadata-only commit), ALTER TABLE RENAME COLUMN (column
    // mapping), and VACUUM — all entered as SQL TEXT through the same
    // rewriter as the DML trio, each returning a summary row. In-body
    // requires pin the economics through the SQL TVFs themselves: the
    // optimize collapses 4 appends' files to 2 (table_files count), the
    // rename leaves the file set untouched, the vacuum shrinks readable
    // history to the live window (table_history count). Final state is
    // read back through acid_table(...) under the POST-RENAME schema —
    // the mapping-aware SQL read path.
    Q("sql_maintenance",
      (spark, sfDir) => {
        val table = graft.Tmp.dir("sql_maint", sfDir)
        Acid.reset(table)
        val ev = Tables.events(spark, sfDir)
          .select(col("event_id"), col("event_type"), col("value"))
        (0 until 4).foreach { i =>
          Acid.appendTxn(spark, table,
            ev.filter(pmod(col("event_id"), lit(4)) === i).coalesce(1),
            txnId = i.toLong)
        }
        SqlEntry.sqlLakehouse(spark,
          s"OPTIMIZE acid_table('$table') CLUSTER BY event_id TARGET 2 TXN 10")
        val nf = SqlEntry.sqlLakehouse(spark,
          s"SELECT COUNT(*) AS n FROM table_files('$table')").head.getLong(0)
        require(nf == 2L, s"SQL OPTIMIZE must collapse to 2 files, got $nf")
        SqlEntry.sqlLakehouse(spark, s"""
          ALTER TABLE acid_table('$table')
          ADD CONSTRAINT evid_nonneg CHECK (event_id >= 0) TXN 11""")
        require(Acid.constraints(table, Acid.currentVersion(table).get)
          .contains(("evid_nonneg", "event_id >= 0")),
          "SQL ADD CONSTRAINT did not record the invariant")
        SqlEntry.sqlLakehouse(spark,
          s"ALTER TABLE acid_table('$table') RENAME COLUMN value TO amount TXN 12")
        val nf2 = SqlEntry.sqlLakehouse(spark,
          s"SELECT COUNT(*) AS n FROM table_files('$table')").head.getLong(0)
        require(nf2 == 2L, "SQL RENAME must leave the file set untouched")
        SqlEntry.sqlLakehouse(spark, s"VACUUM acid_table('$table') KEEP 1")
        val hist = SqlEntry.sqlLakehouse(spark,
          s"SELECT COUNT(*) AS n FROM table_history('$table')").head.getLong(0)
        require(hist == 1L, s"SQL VACUUM must shrink history to 1 version, got $hist")
        SqlEntry.sqlLakehouse(spark,
          s"SELECT event_type, amount FROM acid_table('$table')")
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), sumVal6(col("amount")).as("sum_amount"))
          .orderBy(col("event_type"))
      },
      Some(s"""
        SELECT event_type, COUNT(*) AS n,
               ${sqlSumVal6("value")} AS sum_amount
        FROM events
        GROUP BY event_type
        ORDER BY event_type""".trim)),

    // Delta export of a MERGE-ON-READ table (r17, VERDICT r16 item 5):
    // sink_delta_export proved the log emission for append/overwrite
    // histories, but a table with standing delete vectors could not
    // round-trip — the exported log had no way to say "anti-join these
    // keys". DeltaExport.exportAcid reconciles at export time: one probe
    // scan names the files containing a deleted key, ONLY those
    // materialize vector-subtracted into the export dir, every clean file
    // exports zero-copy as an absolute-path add (the protocol's
    // external-file form — Delta shallow clones use it). The fixture
    // range-clusters the table so the key-local delete touches a strict
    // minority of files (in-body require); a second export after a late
    // append exercises the snapshot-refresh path (removes + adds). The
    // oracle rebuilds the vector-subtracted snapshot set-theoretically —
    // a resurrected deleted row or a dropped survivor breaks the hash.
    Q("sink_delta_export_dv",
      (spark, sfDir) => {
        val table = graft.Tmp.dir("sink_deltadv_tbl", sfDir)
        val dir = graft.Tmp.dir("sink_deltadv_log", sfDir)
        Acid.reset(table); Acid.reset(dir)
        val or = Tables.orders(spark, sfDir)
          .select(col("o_orderkey"), col("o_orderstatus"),
            money(col("o_totalprice")).as("price"))
        val k = col("o_orderkey")
        (0 until 3).foreach { i =>
          Acid.appendTxn(spark, table,
            or.filter(pmod(k, lit(3)) === i).repartitionByRange(3, k),
            txnId = i.toLong)
        }
        val mx = or.agg(max(k)).head.getLong(0)
        val bound = mx / 10
        Acid.deleteTxn(spark, table,
          or.filter(k % 13 === 0 && k < bound).select(k),
          "o_orderkey", txnId = 10L)
        val (v0, rewritten, total) = DeltaExport.exportAcid(spark, table, dir)
        require(v0 == 0L && rewritten > 0 && rewritten * 2 <= total,
          s"DV export must materialize a strict minority: $rewritten/$total")
        // snapshot refresh: a late append, then re-export (removes + adds)
        Acid.appendTxn(spark, table,
          or.filter(k < 25).withColumn("o_orderkey", k + mx + 1L),
          txnId = 11L)
        val (v1, _, _) = DeltaExport.exportAcid(spark, table, dir)
        require(v1 == 1L, s"re-export must commit the next log version: $v1")
        DeltaExport.readDeltaLog(spark, dir)
          .withColumn("price", col("price").cast("double"))
          .orderBy(col("o_orderkey"))
      },
      Some("""
        WITH b AS (
          SELECT CAST(FLOOR(MAX(o_orderkey) / 10.0) AS BIGINT) AS bound,
                 MAX(o_orderkey) + 1 AS s
          FROM orders)
        SELECT o_orderkey, o_orderstatus, price FROM (
          SELECT o_orderkey, o_orderstatus,
                 CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price
          FROM orders, b
          WHERE NOT (o_orderkey % 13 = 0 AND o_orderkey < bound)
          UNION ALL
          SELECT o_orderkey + s AS o_orderkey, o_orderstatus,
                 CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price
          FROM orders, b WHERE o_orderkey < 25
        ) ORDER BY o_orderkey""".trim)),

    // Column mapping (r17, VERDICT r16 item 4): rename/drop evolution
    // METADATA-ONLY — Delta column mapping / Iceberg field-ids on the
    // manifest seam. sink_schema_evolution proved ADDITIVE evolution;
    // until now a rename meant a full table rewrite. Here: half the docs
    // land, `lang` renames to `language` and `source` drops (one
    // `# colmap:`/`# coldrop:` manifest line each — the in-body requires
    // pin the old files byte-identical and the commits data-less), the
    // other half appends under the NEW name, and readEvolved stitches the
    // generations (coalesce(new, old) over the merged schema). At 100 TB
    // this is the difference between an ALTER TABLE that takes
    // milliseconds and one that rewrites the lake.
    Q("sink_column_rename",
      (spark, sfDir) => {
        val table = graft.Tmp.dir("sink_colrename", sfDir)
        Acid.reset(table)
        val docs = Tables.documents(spark, sfDir)
          .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        Acid.appendTxn(spark, table,
          docs.filter(col("doc_id") % 2 === 0), txnId = 0L)
        def fileMeta(): Map[String, (Long, Long)] = {
          import scala.jdk.CollectionConverters._
          val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(table, "txn=0"))
          try walk.iterator().asScala
            .filter(_.toString.endsWith(".parquet"))
            .map(p => p.getFileName.toString -> (java.nio.file.Files.size(p),
              java.nio.file.Files.getLastModifiedTime(p).toMillis)).toMap
          finally walk.close()
        }
        val before = fileMeta()
        val nFiles = Acid.read(spark, table).inputFiles.length
        val vRen = Acid.renameColumn(table, "lang", "language", txnId = 1L)
        require(Acid.renameColumn(table, "lang", "language", txnId = 1L) == vRen,
          "replayed rename must no-op")
        Acid.dropColumn(table, "source", txnId = 2L)
        require(fileMeta() == before,
          "rename/drop must leave every data file byte-identical")
        require(Acid.read(spark, table).inputFiles.length == nFiles,
          "rename/drop must not add or remove data files")
        // the second generation appends under the NEW logical name — the
        // mapping stitches it with the old-named files
        Acid.appendTxn(spark, table,
          docs.filter(col("doc_id") % 2 === 1)
            .select(col("doc_id"), col("lang").as("language"), col("n_chars")),
          txnId = 3L)
        Acid.readEvolved(spark, table)
          .select(col("doc_id"), col("language"), col("n_chars"))
          .orderBy(col("doc_id"))
      },
      Some("""
        SELECT doc_id, lang AS language, n_chars
        FROM documents
        ORDER BY doc_id""".trim)),

    // Refs metadata table + named-ref retention (r17, VERDICT r16 items
    // 3+6): Iceberg's `refs` — one row per named reference (the implicit
    // main branch, every tag, every live branch) with kind, pinned
    // version, and the branch's unpublished commit count. r16 made
    // multi-ref tables the NORMAL case but left no way to LIST the refs —
    // this is the "what pins storage here" question every vacuum decision
    // starts from. The fixture builds two tags and two branches (one with
    // two commits, one idle), artificially ages the idle branch's ref,
    // and runs Acid.expireRefs (Iceberg max-ref-age-ms): the in-body
    // require pins that exactly the aged branch expired; the emitted refs
    // listing — read through the PURE-SQL table_refs(...) TVF — proves
    // the survivor set. O(refs) control plane, zero data I/O.
    Q("scan_table_refs",
      (spark, sfDir) => {
        val table = graft.Tmp.dir("scan_refs", sfDir)
        Acid.reset(table)
        val or = Tables.orders(spark, sfDir).select(col("o_orderkey"))
        Acid.appendTxn(spark, table,
          or.filter(col("o_orderkey") % 2 === 0), txnId = 0L) // v0
        Acid.appendTxn(spark, table,
          or.filter(col("o_orderkey") % 2 === 1), txnId = 1L) // v1
        Acid.tagVersion(table, "rel-1.0", 0L)
        Acid.tagVersion(table, "rel-1.1", 1L)
        Acid.createBranch(table, "exp", 1L)
        Acid.appendTxnBranch(spark, table, "exp",
          or.filter(col("o_orderkey") < 10), txnId = 100L)
        Acid.appendTxnBranch(spark, table, "exp",
          or.filter(col("o_orderkey") < 5), txnId = 101L)
        Acid.createBranch(table, "idle", 0L)
        // age the idle branch past the retention window and expire it:
        // exactly that ref drops (dropBranch liveness — its unpublished
        // data is exclusive, so it is reclaimed; every other ref survives)
        java.nio.file.Files.setLastModifiedTime(
          java.nio.file.Paths.get(table, "branch-idle.txt"),
          java.nio.file.attribute.FileTime.fromMillis(
            System.currentTimeMillis() - 3600L * 1000))
        val expired = Acid.expireRefs(table, maxAgeMs = 1800L * 1000)
        require(expired == Seq("branch:idle"),
          s"expireRefs must drop exactly the aged ref, got $expired")
        SqlEntry.sqlLakehouse(spark, s"""
          SELECT ref_name, kind, version, commits
          FROM table_refs('$table')
          ORDER BY kind, ref_name""")
      },
      Some("""
        SELECT ref_name, kind, version, commits FROM (
          SELECT 'exp' AS ref_name, 'branch' AS kind,
                 CAST(1 AS BIGINT) AS version, CAST(2 AS BIGINT) AS commits
          UNION ALL SELECT 'main', 'branch', 1, 0
          UNION ALL SELECT 'rel-1.0', 'tag', 0, 0
          UNION ALL SELECT 'rel-1.1', 'tag', 1, 0
        ) ORDER BY kind, ref_name""".trim)),

    // SQL MERGE INTO (r17, VERDICT r16 item 2): the pure-SQL user's
    // row-level upsert — until now MERGE existed only as the Scala
    // Acid.mergeCow API, so the entry-point-B persona (SURVEY §3.2) could
    // read governed tables but not maintain them. The statement text below
    // is the whole story: key-equality MERGE with whole-row UPDATE SET * /
    // INSERT * and a conditional DELETE clause, compiled onto the same
    // copy-on-write machinery as sink_merge_cow (touched-file probe →
    // minority rewrite; the in-body require pins the COW economics through
    // the statement's own summary row). The oracle rebuilds the final
    // table state set-theoretically — a row updated twice, deleted by the
    // wrong clause, or inserted under a colliding key breaks the hash.
    Q("sql_merge_into",
      (spark, sfDir) => {
        val table = graft.Tmp.dir("sql_mergeinto", sfDir)
        Acid.reset(table)
        // register the fixture views the USING subquery reads
        SqlEntry.sql(spark, sfDir, "SELECT 1").collect()
        val or = Tables.orders(spark, sfDir)
          .select(col("o_orderkey"), col("o_orderstatus"),
            money(col("o_totalprice")).as("price"))
        val k = col("o_orderkey")
        // 4 commits × 3 range-clustered files: key-local changes provably
        // skip files (same staging economics as sink_merge_cow)
        (0 until 4).foreach { i =>
          Acid.appendTxn(spark, table,
            or.filter(pmod(k, lit(4)) === i).repartitionByRange(3, k),
            txnId = i.toLong)
        }
        val mx = or.agg(max(k)).head.getLong(0)
        val bound = mx / 10
        val s = mx + 1
        val summary = SqlEntry.sqlLakehouse(spark, s"""
          MERGE INTO acid_table('$table')
          USING (
            SELECT o_orderkey,
                   CASE WHEN o_orderkey % 17 = 0 THEN 'X'
                        ELSE o_orderstatus END AS o_orderstatus,
                   CAST(o_totalprice AS DECIMAL(12,2)) AS price
            FROM orders
            WHERE (o_orderkey % 17 = 0 OR o_orderkey % 19 = 0)
              AND o_orderkey < $bound
            UNION ALL
            SELECT o_orderkey + $s AS o_orderkey, o_orderstatus,
                   CAST(o_totalprice AS DECIMAL(12,2)) AS price
            FROM orders WHERE o_orderkey < 40
          ) ON o_orderkey
          WHEN MATCHED AND o_orderkey % 19 = 0 AND o_orderkey < $bound THEN DELETE
          WHEN MATCHED THEN UPDATE SET *
          WHEN NOT MATCHED THEN INSERT *
          TXN 20""").head
        require(summary.getLong(2) > 0 && summary.getLong(2) * 2 <= summary.getLong(3),
          s"SQL MERGE must rewrite a strict minority of files: " +
            s"${summary.getLong(2)}/${summary.getLong(3)}")
        SqlEntry.sqlLakehouse(spark, s"""
          SELECT o_orderkey, o_orderstatus,
                 CAST(price AS DOUBLE) AS price
          FROM acid_table('$table')
          ORDER BY o_orderkey""")
      },
      Some("""
        WITH b AS (
          SELECT CAST(FLOOR(MAX(o_orderkey) / 10.0) AS BIGINT) AS bound,
                 MAX(o_orderkey) + 1 AS s
          FROM orders)
        SELECT o_orderkey, o_orderstatus, price FROM (
          SELECT o_orderkey,
                 CASE WHEN o_orderkey % 17 = 0 AND o_orderkey < bound THEN 'X'
                      ELSE o_orderstatus END AS o_orderstatus,
                 CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price
          FROM orders, b
          WHERE NOT (o_orderkey % 19 = 0 AND o_orderkey < bound)
          UNION ALL
          SELECT o_orderkey + s AS o_orderkey, o_orderstatus,
                 CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price
          FROM orders, b WHERE o_orderkey < 40
        ) ORDER BY o_orderkey""".trim)),

    // SQL UPDATE + DELETE (r17): the other two row-level DML statements,
    // copy-on-write on the predicate seam ([[Acid.updateWhere]] /
    // [[Acid.deleteWhere]] — Delta's UPDATE/DELETE algorithm: one probe
    // scan finds the files holding a matching row, only those rewrite,
    // survivors stay byte-untouched). The UPDATE swaps lang and source in
    // ONE statement — pinning the SQL-standard rule that every SET
    // expression evaluates against the PRE-update row (sequential
    // withColumn chaining would make both columns equal). The DELETE is
    // replayed with the same TXN id and must no-op (version unchanged) —
    // exactly-once DML for the retrying-job persona. The oracle rebuilds
    // the final state from the raw fixture with a projection swap and an
    // anti-filter.
    Q("sql_update_delete",
      (spark, sfDir) => {
        val table = graft.Tmp.dir("sql_upddel", sfDir)
        Acid.reset(table)
        val docs = Tables.documents(spark, sfDir)
          .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        val mx = docs.agg(max(col("doc_id"))).head.getLong(0)
        val bound = math.max(mx / 10, 1L)
        // 3 range-clustered files: the doc_id-bounded UPDATE provably
        // skips the upper slices
        Acid.appendTxn(spark, table,
          docs.repartitionByRange(3, col("doc_id")), txnId = 0L)
        val upd = SqlEntry.sqlLakehouse(spark, s"""
          UPDATE acid_table('$table')
          SET lang = source, source = lang, n_chars = n_chars + 7
          WHERE doc_id % 2 = 0 AND doc_id < $bound
          TXN 1""").head
        require(upd.getLong(2) > 0 && upd.getLong(2) < upd.getLong(3),
          s"SQL UPDATE must rewrite a strict subset of files: " +
            s"${upd.getLong(2)}/${upd.getLong(3)}")
        val del = SqlEntry.sqlLakehouse(spark, s"""
          DELETE FROM acid_table('$table')
          WHERE doc_id % 13 = 0
          TXN 2""").head
        val replay = SqlEntry.sqlLakehouse(spark, s"""
          DELETE FROM acid_table('$table')
          WHERE doc_id % 13 = 0
          TXN 2""").head
        require(replay.getLong(1) == del.getLong(1) && replay.getLong(2) == 0,
          s"replayed SQL DELETE must no-op: v${replay.getLong(1)} " +
            s"touched ${replay.getLong(2)}")
        SqlEntry.sqlLakehouse(spark, s"""
          SELECT doc_id, lang, source, n_chars
          FROM acid_table('$table')
          ORDER BY doc_id""")
      },
      Some("""
        WITH b AS (
          SELECT GREATEST(CAST(FLOOR(MAX(doc_id) / 10.0) AS BIGINT), 1) AS bound
          FROM documents)
        SELECT doc_id,
               CASE WHEN doc_id % 2 = 0 AND doc_id < bound
                    THEN source ELSE lang END AS lang,
               CASE WHEN doc_id % 2 = 0 AND doc_id < bound
                    THEN lang ELSE source END AS source,
               CASE WHEN doc_id % 2 = 0 AND doc_id < bound
                    THEN n_chars + 7 ELSE n_chars END AS n_chars
        FROM documents, b
        WHERE doc_id % 13 <> 0
        ORDER BY doc_id""".trim)),

    // MULTI-STATEMENT SQL TRANSACTION (r19 — BEGIN; <dml>; <dml>; COMMIT
    // atomically, the last rejected SQL surface): the statements run
    // against a txn-private branch (statement 2's MERGE sees statement
    // 1's inserts — read-your-writes, in-body proven by updating keys
    // that only exist AFTER the insert) and COMMIT publishes both in ONE
    // metadata-only pointer flip — a reader can never observe the insert
    // without the merge. A mid-txn failure (malformed second statement)
    // leaves the table version unmoved and drops the txn branch; a
    // replayed BEGIN block no-ops through main's ledger. At 100 TB the
    // transaction costs its statements' data writes plus one O(lines)
    // flip — no lock is held across the (possibly huge) data phase.
    Q("sql_txn",
      (spark, sfDir) => {
        val table = graft.Tmp.dir("sql_txn", sfDir)
        Acid.reset(table)
        val or = Tables.orders(spark, sfDir)
          .select(col("o_orderkey"), col("o_orderstatus"),
            money(col("o_totalprice")).as("price"))
        Acid.appendTxn(spark, table, or.filter(col("o_orderkey") % 2 === 0), 0L)
        or.filter(col("o_orderkey") % 2 === 1)
          .createOrReplaceTempView("sqltxn_inserts")
        // update keys %5==0 — the ODD ones among them exist only after
        // statement 1, so a matched update proves read-your-writes
        or.filter(col("o_orderkey") % 5 === 0)
          .select(col("o_orderkey"), lit("T").as("o_orderstatus"),
            money(lit(1)).as("price"))
          .createOrReplaceTempView("sqltxn_updates")
        // all FOUR DML verbs native in one transaction (r20 — UPDATE and
        // DELETE no longer express as MERGE clauses): the UPDATE's
        // predicate matches rows from every earlier statement (odd %7
        // keys exist only after the INSERT; %35 keys were just MERGEd to
        // 'T' and now advance to 'U' — read-your-writes across all three),
        // and the DELETE removes %11 keys across the whole txn state
        val r = SqlEntry.sqlLakehouse(spark,
          s"BEGIN TXN 5; " +
            s"INSERT INTO acid_table('$table') SELECT * FROM sqltxn_inserts TXN 6; " +
            s"MERGE INTO acid_table('$table') USING sqltxn_updates " +
            "ON o_orderkey WHEN MATCHED THEN UPDATE SET * " +
            "WHEN NOT MATCHED THEN INSERT * TXN 7; " +
            s"UPDATE acid_table('$table') " +
            "SET price = CAST(price + 10 AS DECIMAL(12,2)), o_orderstatus = 'U' " +
            "WHERE o_orderkey % 7 = 0 TXN 11; " +
            s"DELETE FROM acid_table('$table') WHERE o_orderkey % 11 = 0 TXN 12; " +
            "COMMIT").head
        require(r.getString(0) == "txn_commit" && r.getLong(2) == 4L,
          s"sql_txn: unexpected commit summary $r")
        val vAfter = Acid.currentVersion(table).get
        // replayed transaction (driver retry) no-ops through the ledger
        val rr = SqlEntry.sqlLakehouse(spark,
          s"BEGIN TXN 5; INSERT INTO acid_table('$table') " +
            "SELECT * FROM sqltxn_inserts TXN 6; COMMIT").head
        require(rr.getLong(1) == vAfter, "sql_txn: replayed txn advanced the table")
        // mid-txn failure: statement 2 projects the wrong columns — the
        // whole transaction aborts with the table unmoved and no branch left
        val aborted =
          try {
            SqlEntry.sqlLakehouse(spark,
              s"BEGIN TXN 8; " +
                s"INSERT INTO acid_table('$table') SELECT * FROM sqltxn_inserts TXN 9; " +
                s"INSERT INTO acid_table('$table') SELECT o_orderkey FROM sqltxn_inserts TXN 10; " +
                "COMMIT")
            false
          } catch { case _: Exception => true }
        require(aborted, "sql_txn: malformed transaction did not abort")
        require(Acid.currentVersion(table).get == vAfter,
          "sql_txn: aborted transaction moved the table")
        require(!Acid.branches(table).contains("txn-8"),
          "sql_txn: aborted transaction leaked its branch")
        SqlEntry.sqlLakehouse(spark, s"""
          SELECT o_orderkey, o_orderstatus, CAST(price AS DOUBLE) AS price
          FROM acid_table('$table')
          ORDER BY o_orderkey""")
      },
      Some("""
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 7 = 0 THEN 'U'
                    WHEN o_orderkey % 5 = 0 THEN 'T'
                    ELSE o_orderstatus END AS o_orderstatus,
               CAST(CAST(CASE WHEN o_orderkey % 7 = 0 THEN
                      CAST(CASE WHEN o_orderkey % 5 = 0 THEN 1
                           ELSE o_totalprice END AS DECIMAL(12,2)) + 10
                    WHEN o_orderkey % 5 = 0 THEN 1
                    ELSE o_totalprice END AS DECIMAL(12,2)) AS DOUBLE) AS price
        FROM orders
        WHERE o_orderkey % 11 <> 0
        ORDER BY o_orderkey""".trim)),

    // MATERIALIZED-VIEW QUERY REWRITE (r20 — the optimizer half of the MV
    // story; `stream_incremental_mv` is the maintenance half): a
    // registered MV turns a matching aggregate over the base table into a
    // roll-up over the view via a `Rule[LogicalPlan]` on the public
    // `spark.experimental.extraOptimizations` hook
    // (plans/MvRewrite.scala). In-body requires pin the full lifecycle:
    // (1) with the MV fresh, the SAME DataFrame query routes to the MV —
    // the optimized plan scans the view's parquet and NOT the base — and
    // its answer equals the pre-registration direct recompute; (2) a base
    // commit makes the pin stale and the query silently falls back to the
    // base scan (never wrong, just unaccelerated — Oracle/Calcite's
    // staleness rule); (3) a refresh + re-register restores the route.
    // The rewrite compensates: count(1) → coalesce(sum(n), 0), sum(cents)
    // → sum(sum_cents), a filter on a KEY column commutes with the
    // roll-up because it selects whole groups. At 100 TB this is the
    // difference between scanning the lake and scanning O(groups) rows;
    // freshness costs one pointer read against files the scan listed
    // anyway.
    Q("sql_mv_rewrite",
      (spark, sfDir) => {
        val base = graft.Tmp.dir("mv_rw_base", sfDir)
        val mvDir = graft.Tmp.dir("mv_rw_mv", sfDir)
        Acid.reset(base)
        graft.plans.MvRewrite.unregister("orders_by_status_prio")
        val or = Tables.orders(spark, sfDir).select(
          col("o_orderkey"), col("o_orderstatus"), col("o_orderpriority"),
          (money(col("o_totalprice")) * 100).cast("long").as("price_cents"))
        Acid.appendTxn(spark, base, or.filter(col("o_orderkey") % 3 =!= 2), 0L)
        Acid.appendTxn(spark, base, or.filter(col("o_orderkey") % 3 === 2), 1L)
        // the lifecycle is PURE SQL (r20): CREATE materializes + pins,
        // REFRESH recomputes from the stored recipe + re-pins
        def refreshMv(): Unit = {
          if (graft.plans.MvRewrite.lookup("orders_by_status_prio").isEmpty)
            SqlEntry.sqlLakehouse(spark,
              s"CREATE MATERIALIZED VIEW orders_by_status_prio AT '$mvDir' " +
                "AS SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n, " +
                s"SUM(price_cents) AS sum_cents FROM acid_table('$base') " +
                "GROUP BY o_orderstatus, o_orderpriority")
          else {
            // the append-only staleness window MUST take the O(changes)
            // incremental path, not a lake rescan — and its merged result
            // must still hash-match the oracle's full recompute
            val r = SqlEntry.sqlLakehouse(spark,
              "REFRESH MATERIALIZED VIEW orders_by_status_prio").head
            require(r.getString(3) == "incremental",
              s"sql_mv_rewrite: append-only refresh took the ${r.getString(3)} path")
          }
          ()
        }
        def query() = Acid.read(spark, base)
          .filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n"), sum(col("price_cents")).as("sum_cents"))
          .orderBy(col("o_orderstatus"))
        def scanned(df: org.apache.spark.sql.DataFrame): Set[String] =
          df.queryExecution.optimizedPlan.collect {
            case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
              l.relation match {
                case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                  h.location.inputFiles.toSeq
                case _ => Seq.empty[String]
              }
          }.flatten.toSet
        // the recompute the rewrite must match, taken BEFORE any MV exists
        val direct = query().collect().toSeq
        refreshMv()
        val q1 = query()
        val s1 = scanned(q1)
        require(s1.exists(_.contains("mv_rw_mv")) &&
          !s1.exists(_.contains("mv_rw_base")),
          s"sql_mv_rewrite: fresh MV not routed (scans $s1)")
        require(q1.collect().toSeq == direct,
          "sql_mv_rewrite: rewrite changed the answer")
        // base moves → pin stale → the SAME query declines, never wrong
        Acid.appendTxn(spark, base, or.filter(col("o_orderkey") % 17 === 3), 2L)
        val s2 = scanned(query())
        require(s2.exists(_.contains("mv_rw_base")) &&
          !s2.exists(_.contains("mv_rw_mv")),
          s"sql_mv_rewrite: stale MV still routed (scans $s2)")
        // refresh lifecycle: recompute + re-pin, and the route comes back
        refreshMv()
        val q3 = query()
        val s3 = scanned(q3)
        require(s3.exists(_.contains("mv_rw_mv")) &&
          !s3.exists(_.contains("mv_rw_base")),
          s"sql_mv_rewrite: refreshed MV not routed (scans $s3)")
        // the SQL-ENTERED twin routes too: acid_table(...) resolves to the
        // same logical shape, so the pure-SQL user's aggregate answers
        // from the view with no code change
        val sqlQ = SqlEntry.sqlLakehouse(spark,
          "SELECT o_orderstatus, COUNT(*) AS n, SUM(price_cents) AS " +
            s"sum_cents FROM acid_table('$base') WHERE o_orderpriority " +
            "IN ('1-URGENT', '2-HIGH') GROUP BY o_orderstatus " +
            "ORDER BY o_orderstatus")
        val s4 = scanned(sqlQ)
        require(s4.exists(_.contains("mv_rw_mv")) &&
          !s4.exists(_.contains("mv_rw_base")),
          s"sql_mv_rewrite: SQL-entered aggregate not routed (scans $s4)")
        require(sqlQ.collect().toSeq == q3.collect().toSeq,
          "sql_mv_rewrite: SQL and DataFrame twins disagree")
        // disarm before returning: a view left registered would keep the
        // session-wide rewrite rule probing (and freshness-checking against
        // the filesystem) every Aggregate of every LATER query in the
        // session. The answer is route-independent — q1==direct is pinned
        // above — so the harness's re-execution of the returned frame is
        // merely unaccelerated, never different.
        graft.plans.MvRewrite.unregister("orders_by_status_prio")
        q3
      },
      Some("""
        WITH base AS (
          SELECT o_orderstatus, o_orderpriority,
                 CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
                   AS price_cents
          FROM orders
          UNION ALL
          SELECT o_orderstatus, o_orderpriority,
                 CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
                   AS price_cents
          FROM orders WHERE o_orderkey % 17 = 3
        )
        SELECT o_orderstatus, COUNT(*) AS n,
               CAST(SUM(price_cents) AS BIGINT) AS sum_cents
        FROM base
        WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus""".trim)),

    // JOIN-MV QUERY REWRITE (r20 — the star-schema half of the MV story,
    // Calcite/Oracle's classic summary-table rewrite): the MV is defined
    // over `fact ⋈ dim` (orders ⋈ customer on custkey, grouped by
    // segment × status), so a user query that aggregates over the SAME
    // join answers from the MV without touching EITHER side — the
    // optimized plan contains no join at all. No PK/FK assumption is
    // needed: the view is a function of the join RESULT, so any grouping
    // subset rolls up exactly regardless of multiplicities. Inferred
    // isnotnull(join key) filters are recognized as subsumed by the MV's
    // own inner join. Freshness pins the fact's acid version + file set
    // AND the dim's file set; a fact commit declines the route (in-body)
    // and a refresh restores it. At 100 TB this removes the fact scan AND
    // the join shuffle — the two dominant costs of every star query.
    Q("sql_mv_join_rewrite",
      (spark, sfDir) => {
        val fact = graft.Tmp.dir("mvj_fact", sfDir)
        val mvDir = graft.Tmp.dir("mvj_mv", sfDir)
        Acid.reset(fact)
        graft.plans.MvRewrite.unregister("orders_by_segment_status")
        val or = Tables.orders(spark, sfDir).select(
          col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          (money(col("o_totalprice")) * 100).cast("long").as("price_cents"))
        Acid.appendTxn(spark, fact, or.filter(col("o_orderkey") % 3 =!= 2), 0L)
        Acid.appendTxn(spark, fact, or.filter(col("o_orderkey") % 3 === 2), 1L)
        def dim = Tables.customer(spark, sfDir)
          .select(col("c_custkey"), col("c_mktsegment"))
        def refreshMv(): Unit = {
          Acid.read(spark, fact)
            .join(dim, col("o_custkey") === col("c_custkey"))
            .groupBy(col("c_mktsegment"), col("o_orderstatus"))
            .agg(count(lit(1)).as("n"), sum(col("price_cents")).as("sum_cents"))
            .write.mode("overwrite").parquet(mvDir)
          graft.plans.MvRewrite.registerJoin(spark, "orders_by_segment_status",
            fact, dim, "o_custkey", "c_custkey", mvDir,
            Seq("c_mktsegment", "o_orderstatus"), "n",
            Map("price_cents" -> "sum_cents"))
        }
        def query() = Acid.read(spark, fact)
          .join(dim, col("o_custkey") === col("c_custkey"))
          .filter(col("o_orderstatus").isin("F", "O"))
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n"), sum(col("price_cents")).as("sum_cents"))
          .orderBy(col("c_mktsegment"))
        def scanned(df: org.apache.spark.sql.DataFrame): Set[String] =
          df.queryExecution.optimizedPlan.collect {
            case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
              l.relation match {
                case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                  h.location.inputFiles.toSeq
                case _ => Seq.empty[String]
              }
          }.flatten.toSet
        val direct = query().collect().toSeq
        refreshMv()
        val q1 = query()
        val s1 = scanned(q1)
        require(s1.exists(_.contains("mvj_mv")) &&
          !s1.exists(_.contains("mvj_fact")) &&
          !s1.exists(_.contains("customer.parquet")),
          s"sql_mv_join_rewrite: fresh MV not routed (scans $s1)")
        require(q1.collect().toSeq == direct,
          "sql_mv_join_rewrite: rewrite changed the answer")
        // a fact commit makes the pin stale — back to the real join
        Acid.appendTxn(spark, fact, or.filter(col("o_orderkey") % 17 === 3), 2L)
        val s2 = scanned(query())
        require(s2.exists(_.contains("mvj_fact")) &&
          s2.exists(_.contains("customer.parquet")) &&
          !s2.exists(_.contains("mvj_mv")),
          s"sql_mv_join_rewrite: stale MV still routed (scans $s2)")
        refreshMv()
        val q3 = query()
        val s3 = scanned(q3)
        require(s3.exists(_.contains("mvj_mv")) &&
          !s3.exists(_.contains("mvj_fact")),
          s"sql_mv_join_rewrite: refreshed MV not routed (scans $s3)")
        // disarm before returning (see sql_mv_rewrite): the route equality
        // is pinned by q1==direct, so later queries shouldn't keep paying
        // the armed rule's per-Aggregate probe for this key's view.
        graft.plans.MvRewrite.unregister("orders_by_segment_status")
        q3
      },
      Some("""
        WITH fact AS (
          SELECT o_custkey, o_orderstatus,
                 CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
                   AS price_cents
          FROM orders
          UNION ALL
          SELECT o_custkey, o_orderstatus,
                 CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
                   AS price_cents
          FROM orders WHERE o_orderkey % 17 = 3
        )
        SELECT c_mktsegment, COUNT(*) AS n,
               CAST(SUM(price_cents) AS BIGINT) AS sum_cents
        FROM fact JOIN customer ON o_custkey = c_custkey
        WHERE o_orderstatus IN ('F', 'O')
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment""".trim)),
  )
}
