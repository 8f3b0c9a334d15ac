package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Pure-SQL entry path (SURVEY §3.2; r11 verdict item 8): the non-Scala
  * user's door into the engine. Every fixture table is registered as a
  * temp view and the query is submitted as SQL TEXT — the same string the
  * DuckDB oracle runs, so for the routed keys ONE dialect-shared statement
  * drives both engines end-to-end: Spark parses/plans/executes it through
  * the catalog, DuckDB independently evaluates it, and the driver's
  * hash-compare proves the two engines agree on the text's semantics (not
  * merely on two hand-kept translations).
  *
  * Catalyst guarantees SQL text and the equivalent DataFrame construction
  * converge on the same optimized plan space (SurfaceDocSpec pins plan-
  * shape equality for routed keys), so routing costs nothing at 100 TB —
  * same scan pruning, same join strategies, same codegen.
  */
object SqlEntry {

  // last directory registered PER SESSION: re-registration is metadata-only
  // but not free (10 view analyses), so skip it while the target fixture
  // dir is unchanged. Re-registering on a dir SWITCH is the correctness
  // half — bench runs alternate SFs within one session. Keyed by session
  // (ADVICE r12: temp views are session-scoped, so a JVM-global cache made
  // a SECOND SparkSession on the same dir skip registration entirely).
  // WeakHashMap (ADVICE r13): a strong-keyed map retained every session
  // ever passed through here for the JVM lifetime, pinning its
  // SessionState — weak keys let retired sessions collect. All access goes
  // through the lock (WeakHashMap is not thread-safe).
  private val lastDir = new java.util.WeakHashMap[SparkSession, String]()

  /** Register fixture views (idempotent, metadata-only) and run `text`. */
  def sql(spark: SparkSession, sfDir: String, text: String): DataFrame = {
    lastDir.synchronized {
      if (lastDir.get(spark) != sfDir) {
        Tables.registerAll(spark, sfDir); lastDir.put(spark, sfDir)
      }
    }
    spark.sql(text)
  }

  /** Lakehouse constructs over the Acid seam, for pure-SQL users (r13
    * verdict item 6):
    *
    *  - `acid_table('<dir>') VERSION AS OF <n>` — Delta's time-travel SQL;
    *  - `acid_table('<dir>')` — the committed current version;
    *  - `table_changes('<dir>', <v1>, <v2>)` — Delta CDF's TVF shape.
    *
    * A textual pre-pass in front of the vanilla parser: each construct
    * resolves through the Acid seam ([[Acid.readVersion]] /
    * [[Acid.changeFeed]]) into a temp view, and the rewritten text runs
    * through the same catalog path as every routed key — so the SQL
    * user's optimized plan IS the DataFrame user's plan (SurfaceDocSpec
    * pins the parity), with the manifest-resolved file list, delete-vector
    * anti-join, and pushdown all identical. View names are derived from
    * (dir, version) so repeated references share one registration. */
  def sqlLakehouse(spark: SparkSession, text: String): DataFrame = {
    var out = text
    def slug(dir: String): String = Integer.toHexString(dir.hashCode)
    def dmlSummary(what: String, r: (Long, Int, Int)): DataFrame = {
      import spark.implicits._
      Seq((what, r._1, r._2.toLong, r._3.toLong))
        .toDF("operation", "new_version", "touched_files", "total_files")
    }
    // BEGIN TXN <id>; <stmt>; [<stmt>; ...] COMMIT — MULTI-STATEMENT SQL
    // TRANSACTION over ONE acid table (r19): the statements execute
    // against a txn-private BRANCH forked from the current head
    // (statement k reads statement k-1's effects — read-your-writes), and
    // COMMIT publishes via the metadata-only fast-forward: ONE atomic
    // pointer flip lands every statement or none. A mid-txn failure (bad
    // statement, constraint violation) drops the branch with main
    // unmoved; a concurrent main commit makes the publish refuse loudly
    // (optimistic transaction — retry on the new head). Idempotent per
    // the OUTER txn id (the publish stamps it on main's ledger).
    // Supported statements: INSERT INTO / MERGE INTO / UPDATE / DELETE
    // FROM acid_table — all four DML verbs native since r20 (UPDATE and
    // DELETE compile to the branch predicate-COW twins).
    // Multi-TABLE atomicity is [[Catalog.commitTxn]]'s seam, not this.
    val txnBlock =
      """(?is)^\s*BEGIN\s+TXN\s+(\d+)\s*;(.+?);?\s*COMMIT\s*$""".r
    txnBlock.findFirstMatchIn(text).foreach { m =>
      import spark.implicits._
      val txnId = m.group(1).toLong
      val stmts = splitTopLevel(m.group(2), ';')
      require(stmts.nonEmpty, "BEGIN/COMMIT: empty transaction")
      val dirRe = """acid_table\s*\(\s*'([^']+)'\s*\)""".r
      val dirs = stmts.flatMap(s =>
        dirRe.findAllMatchIn(s).map(_.group(1)).toSeq).distinct
      require(dirs.size == 1,
        s"BEGIN/COMMIT: statements must target ONE acid table, got $dirs " +
          "(multi-table atomicity is the catalog txn's seam)")
      val dir = dirs.head
      def summary(v: Long) = Seq(("txn_commit", v, stmts.size.toLong))
        .toDF("operation", "new_version", "statements")
      if (Acid.committedTxns(dir).contains(txnId))
        return summary(Acid.currentVersion(dir).get) // replay → no-op
      val br = s"txn-$txnId"
      // transaction open doubles as the txn-branch GC point (r20): sweep
      // any OTHER txn's branch whose ref went stale past the horizon — a
      // crashed driver's id that is never retried would otherwise leak
      // its branch until a manual expireRefs
      Acid.sweepTxnBranches(dir)
      val cur = Acid.currentVersion(dir).getOrElse(
        sys.error(s"BEGIN TXN: no committed version at $dir"))
      // crash recovery (r19 review): a driver that died mid-transaction
      // leaves the txn branch on disk with the outer id NOT on main (the
      // replay check above didn't fire) — the txn never committed, so the
      // leftover is garbage; drop it and re-run from scratch. Without
      // this, createBranch's CREATE_NEW wedged every documented
      // same-txnId retry into FileAlreadyExistsException.
      //
      // CONTRACT (ADVICE r19): outer txn ids are ONE-DRIVER-AT-A-TIME —
      // the id names a logical transaction, and its retry semantics
      // (replay no-op after commit, reclaim-and-rerun after crash) only
      // hold when a single driver owns the id at any moment. Two drivers
      // CONCURRENTLY running the same BEGIN TXN id are racing the same
      // logical transaction: this drop would delete the other driver's
      // in-flight branch mid-transaction. The failure is loud for the
      // victim (its next statement errors on the missing branch) and main
      // is never corrupted (neither publish lands twice — the ledger
      // replay check serializes), but the operators' contract is: retry a
      // txn id only after its previous driver is known dead.
      if (Acid.branches(dir).contains(br)) Acid.dropBranch(dir, br)
      Acid.createBranch(dir, br, cur)
      try {
        stmts.foreach(s => runTxnStatement(spark, dir, br, s))
        return summary(Acid.fastForwardBranch(dir, br, txnId))
      } catch {
        // NonFatal: the success path's `return` travels as a control
        // throwable — a Throwable catch would run abort cleanup on every
        // successful commit (benign only by fastForward's current ref-
        // retire ordering; r19 review)
        case scala.util.control.NonFatal(e) =>
          // abort: main never moved; the txn branch and its staged files go
          if (Acid.branches(dir).contains(br)) Acid.dropBranch(dir, br)
          throw e
      }
    }
    // MERGE INTO BRANCH '<name>' OF acid_table('<dir>') USING ... ON <key>
    //   [WHEN MATCHED AND <pred> THEN DELETE] WHEN MATCHED THEN UPDATE SET *
    //   WHEN NOT MATCHED THEN INSERT * TXN <id>
    // — the branch twin (Acid.mergeCowBranch): the dress rehearsal of a
    // row-level pipeline change, pure-SQL end to end (read the result back
    // with acid_table(...) BRANCH AS OF '<name>').
    val mergeBranchStmt =
      """(?is)^\s*MERGE\s+INTO\s+BRANCH\s+'([A-Za-z0-9._-]+)'\s+OF\s+acid_table\s*\(\s*'([^']+)'\s*\)\s+USING\s+(.+?)\s+ON\s+([A-Za-z_][A-Za-z0-9_]*)\s+(WHEN\s+.+?)\s+TXN\s+(\d+)\s*$""".r
    mergeBranchStmt.findFirstMatchIn(text).foreach { m =>
      val (name, dir, src, keyCol, clauses, txn) = (m.group(1), m.group(2),
        m.group(3).trim, m.group(4), m.group(5), m.group(6).toLong)
      require(
        """(?is)WHEN\s+MATCHED\s+THEN\s+UPDATE\s+SET\s+\*""".r
          .findFirstIn(clauses).isDefined &&
        """(?is)WHEN\s+NOT\s+MATCHED\s+THEN\s+INSERT\s+\*""".r
          .findFirstIn(clauses).isDefined,
        "MERGE INTO BRANCH: whole-row clauses required — " +
          "WHEN MATCHED THEN UPDATE SET * and WHEN NOT MATCHED THEN INSERT *")
      val delPred =
        """(?is)WHEN\s+MATCHED\s+AND\s+(.+?)\s+THEN\s+DELETE""".r
          .findFirstMatchIn(clauses).map(_.group(1))
      val srcSql =
        if (src.startsWith("(")) src.stripPrefix("(").stripSuffix(")")
        else s"SELECT * FROM $src"
      val source = sqlLakehouse(spark, srcSql)
      val changes = delPred match {
        case Some(p) => source.withColumn("__op",
          org.apache.spark.sql.functions.when(
            org.apache.spark.sql.functions.expr(p),
            "delete").otherwise("upsert"))
        case None => source
      }
      val r = Acid.mergeCowBranch(spark, dir, name, changes, keyCol, txn,
        opCol = delPred.map(_ => "__op"))
      return dmlSummary("merge_branch", r)
    }
    // ALTER BRANCH '<name>' OF acid_table('<dir>') REBASE TXN <id> — the
    // DML-aware rebase ([[Acid.rebaseBranchDml]], r18): replays the
    // branch's recorded op log onto main's CURRENT head, so a branch
    // carrying MERGE/MoR-delete commits stays publishable across main
    // appends and maintenance rewrites; fastForwardBranch then ships it
    // in O(1) while main holds still.
    val rebaseBranchStmt =
      """(?is)^\s*ALTER\s+BRANCH\s+'([A-Za-z0-9._-]+)'\s+OF\s+acid_table\s*\(\s*'([^']+)'\s*\)\s+REBASE\s+TXN\s+(\d+)\s*$""".r
    rebaseBranchStmt.findFirstMatchIn(text).foreach { m =>
      import spark.implicits._
      val k = Acid.rebaseBranchDml(spark, m.group(2), m.group(1), m.group(3).toLong)
      return Seq(("rebase_branch", k)).toDF("operation", "branch_head")
    }
    // MERGE INTO acid_table('<dir>') USING <view|(subquery)> ON <keyCol>
    //   [WHEN MATCHED AND <pred> THEN DELETE]
    //   WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *
    //   TXN <id>
    // — the Delta MERGE surface restricted to mergeCow's contract: key
    // equality, whole-row upsert (SET * / INSERT *), optional conditional
    // delete. The source text re-enters this rewriter, so it may itself
    // read acid_table(...) / table_changes(...) — a pure-SQL CDC apply.
    val mergeStmt =
      """(?is)^\s*MERGE\s+INTO\s+acid_table\s*\(\s*'([^']+)'\s*\)\s+USING\s+(.+?)\s+ON\s+([A-Za-z_][A-Za-z0-9_]*)\s+(WHEN\s+.+?)\s+TXN\s+(\d+)\s*$""".r
    mergeStmt.findFirstMatchIn(text).foreach { m =>
      val (dir, src, keyCol, clauses, txn) =
        (m.group(1), m.group(2).trim, m.group(3), m.group(4), m.group(5).toLong)
      require(
        """(?is)WHEN\s+MATCHED\s+THEN\s+UPDATE\s+SET\s+\*""".r
          .findFirstIn(clauses).isDefined &&
        """(?is)WHEN\s+NOT\s+MATCHED\s+THEN\s+INSERT\s+\*""".r
          .findFirstIn(clauses).isDefined,
        "MERGE INTO acid_table: whole-row clauses required — " +
          "WHEN MATCHED THEN UPDATE SET * and WHEN NOT MATCHED THEN INSERT *")
      val delPred =
        """(?is)WHEN\s+MATCHED\s+AND\s+(.+?)\s+THEN\s+DELETE""".r
          .findFirstMatchIn(clauses).map(_.group(1))
      val srcSql =
        if (src.startsWith("(")) src.stripPrefix("(").stripSuffix(")")
        else s"SELECT * FROM $src"
      val source = sqlLakehouse(spark, srcSql)
      val changes = delPred match {
        case Some(p) => source.withColumn("__op",
          org.apache.spark.sql.functions.when(
            org.apache.spark.sql.functions.expr(p),
            "delete").otherwise("upsert"))
        case None => source
      }
      val r = Acid.mergeCow(spark, dir, changes, keyCol, txn,
        opCol = delPred.map(_ => "__op"))
      return dmlSummary("merge", r)
    }
    // UPDATE BRANCH '<name>' OF acid_table('<dir>') SET c = <expr>[, ...]
    //   WHERE <pred> TXN <id> — branch predicate-COW UPDATE (r20, the
    //   MERGE INTO BRANCH symmetry): the fix-under-test runs its UPDATE
    //   against the experiment branch, main never sees a byte, and the
    //   statement (not the file images) replays on rebase
    val updateBranchStmt =
      """(?is)^\s*UPDATE\s+BRANCH\s+'([A-Za-z0-9._-]+)'\s+OF\s+acid_table\s*\(\s*'([^']+)'\s*\)\s+SET\s+(.+?)\s+WHERE\s+(.+?)\s+TXN\s+(\d+)\s*$""".r
    updateBranchStmt.findFirstMatchIn(text).foreach { m =>
      val sets = splitTopLevel(m.group(3)).map { a =>
        val i = a.indexOf('=')
        require(i > 0, s"UPDATE BRANCH: malformed assignment '$a'")
        (a.take(i).trim, a.drop(i + 1).trim)
      }
      val r = Acid.updateWhereBranch(spark, m.group(2), m.group(1), sets,
        m.group(4).trim, m.group(5).toLong)
      return dmlSummary("update_branch", r)
    }
    // DELETE FROM BRANCH '<name>' OF acid_table('<dir>') WHERE <pred> TXN <id>
    val deleteBranchStmt =
      """(?is)^\s*DELETE\s+FROM\s+BRANCH\s+'([A-Za-z0-9._-]+)'\s+OF\s+acid_table\s*\(\s*'([^']+)'\s*\)\s+WHERE\s+(.+?)\s+TXN\s+(\d+)\s*$""".r
    deleteBranchStmt.findFirstMatchIn(text).foreach { m =>
      val r = Acid.deleteWhereBranch(spark, m.group(2), m.group(1),
        m.group(3).trim, m.group(4).toLong)
      return dmlSummary("delete_branch", r)
    }
    // UPDATE acid_table('<dir>') SET c = <expr>[, ...] WHERE <pred> TXN <id>
    val updateStmt =
      """(?is)^\s*UPDATE\s+acid_table\s*\(\s*'([^']+)'\s*\)\s+SET\s+(.+?)\s+WHERE\s+(.+?)\s+TXN\s+(\d+)\s*$""".r
    updateStmt.findFirstMatchIn(text).foreach { m =>
      val (dir, setsTxt, pred, txn) =
        (m.group(1), m.group(2), m.group(3), m.group(4).toLong)
      val sets = splitTopLevel(setsTxt).map { a =>
        val i = a.indexOf('=')
        require(i > 0, s"UPDATE acid_table: malformed assignment '$a'")
        (a.take(i).trim,
          org.apache.spark.sql.functions.expr(a.drop(i + 1).trim))
      }
      val r = Acid.updateWhere(spark, dir, sets,
        org.apache.spark.sql.functions.expr(pred), txn)
      return dmlSummary("update", r)
    }
    // DELETE FROM acid_table('<dir>') WHERE <pred> TXN <id>
    val deleteStmt =
      """(?is)^\s*DELETE\s+FROM\s+acid_table\s*\(\s*'([^']+)'\s*\)\s+WHERE\s+(.+?)\s+TXN\s+(\d+)\s*$""".r
    deleteStmt.findFirstMatchIn(text).foreach { m =>
      val (dir, pred, txn) = (m.group(1), m.group(2), m.group(3).toLong)
      val r = Acid.deleteWhere(spark, dir,
        org.apache.spark.sql.functions.expr(pred), txn)
      return dmlSummary("delete", r)
    }
    def ddlSummary(what: String, v: Long): DataFrame = {
      import spark.implicits._
      Seq((what, v)).toDF("operation", "new_version")
    }
    // INSERT INTO acid_table('<dir>') <select> TXN <id> — the SQL append,
    // routed through appendTxnChecked so the table's standing CHECK
    // constraints gate the batch (the write-side enforcement a pure-SQL
    // producer would otherwise silently bypass). CREATE TABLE ... AS is
    // the first-commit twin (refuses on an initialized table).
    val insertStmt =
      """(?is)^\s*INSERT\s+INTO\s+acid_table\s*\(\s*'([^']+)'\s*\)\s+(.+?)\s+TXN\s+(\d+)\s*$""".r
    insertStmt.findFirstMatchIn(text).foreach { m =>
      val (dir, sel, txn) = (m.group(1), m.group(2), m.group(3).toLong)
      val df = sqlLakehouse(spark, sel)
      // column-set validation (Delta's write-side schema check): an
      // INSERT whose SELECT projects the wrong columns must refuse, not
      // land a divergent-schema file the next read trips over. Match is
      // BY NAME (the lakehouse contract throughout), not positional.
      Acid.currentVersion(dir).foreach { _ =>
        val want = Acid.read(spark, dir).schema.fieldNames.sorted.toSeq
        val got = df.schema.fieldNames.sorted.toSeq
        require(got == want,
          s"INSERT INTO acid_table: select columns $got do not match the " +
            s"table's $want (insertion is by name)")
      }
      return ddlSummary("insert",
        Acid.appendTxnChecked(spark, dir, df, txn))
    }
    val ctasStmt =
      """(?is)^\s*CREATE\s+TABLE\s+acid_table\s*\(\s*'([^']+)'\s*\)\s+AS\s+(.+?)\s+TXN\s+(\d+)\s*$""".r
    ctasStmt.findFirstMatchIn(text).foreach { m =>
      val (dir, sel, txn) = (m.group(1), m.group(2), m.group(3).toLong)
      require(Acid.currentVersion(dir).isEmpty,
        s"CREATE TABLE acid_table: $dir is already initialized — INSERT INTO appends")
      val df = sqlLakehouse(spark, sel)
      return ddlSummary("create_table", Acid.appendTxn(spark, dir, df, txn))
    }
    // ALTER TABLE acid_table('<dir>') RENAME COLUMN a TO b TXN <id>
    val renameStmt =
      """(?is)^\s*ALTER\s+TABLE\s+acid_table\s*\(\s*'([^']+)'\s*\)\s+RENAME\s+COLUMN\s+([A-Za-z_][A-Za-z0-9_]*)\s+TO\s+([A-Za-z_][A-Za-z0-9_]*)\s+TXN\s+(\d+)\s*$""".r
    renameStmt.findFirstMatchIn(text).foreach { m =>
      return ddlSummary("rename_column",
        Acid.renameColumn(m.group(1), m.group(2), m.group(3), m.group(4).toLong))
    }
    // ALTER TABLE acid_table('<dir>') DROP COLUMN a TXN <id>
    val dropColStmt =
      """(?is)^\s*ALTER\s+TABLE\s+acid_table\s*\(\s*'([^']+)'\s*\)\s+DROP\s+COLUMN\s+([A-Za-z_][A-Za-z0-9_]*)\s+TXN\s+(\d+)\s*$""".r
    dropColStmt.findFirstMatchIn(text).foreach { m =>
      return ddlSummary("drop_column",
        Acid.dropColumn(m.group(1), m.group(2), m.group(3).toLong))
    }
    // ALTER TABLE acid_table('<dir>') ADD CONSTRAINT name CHECK (<pred>) TXN <id>
    val constraintStmt =
      """(?is)^\s*ALTER\s+TABLE\s+acid_table\s*\(\s*'([^']+)'\s*\)\s+ADD\s+CONSTRAINT\s+([A-Za-z_][A-Za-z0-9_]*)\s+CHECK\s*\((.+)\)\s+TXN\s+(\d+)\s*$""".r
    constraintStmt.findFirstMatchIn(text).foreach { m =>
      return ddlSummary("add_constraint",
        Acid.addConstraint(spark, m.group(1), m.group(2), m.group(3).trim,
          m.group(4).toLong))
    }
    // OPTIMIZE acid_table('<dir>') [CLUSTER BY c] TARGET <n> TXN <id>
    val optimizeStmt =
      """(?is)^\s*OPTIMIZE\s+acid_table\s*\(\s*'([^']+)'\s*\)\s+(?:CLUSTER\s+BY\s+([A-Za-z_][A-Za-z0-9_]*)\s+)?TARGET\s+(\d+)\s+TXN\s+(\d+)\s*$""".r
    optimizeStmt.findFirstMatchIn(text).foreach { m =>
      return ddlSummary("optimize",
        Acid.optimize(spark, m.group(1), m.group(4).toLong, m.group(3).toInt,
          clusterCol = Option(m.group(2))))
    }
    // ALTER TABLE acid_table('<dir>') SET TBLPROPERTIES ('k'='v',...) TXN n
    val setPropsStmt =
      """(?is)^\s*ALTER\s+TABLE\s+acid_table\s*\(\s*'([^']+)'\s*\)\s+SET\s+TBLPROPERTIES\s*\(([^)]*)\)\s+TXN\s+(\d+)\s*$""".r
    setPropsStmt.findFirstMatchIn(text).foreach { m =>
      val pair = """'([^']*)'\s*=\s*'([^']*)'""".r
      val props = pair.findAllMatchIn(m.group(2))
        .map(p => (p.group(1), p.group(2))).toSeq
      require(props.nonEmpty, "SET TBLPROPERTIES: no 'k'='v' pairs")
      return ddlSummary("set_tblproperties",
        Acid.setProperties(m.group(1), props, m.group(3).toLong))
    }
    // DESCRIBE acid_table('<dir>') — evolved schema + properties
    val describeStmt =
      """(?is)^\s*DESCRIBE\s+acid_table\s*\(\s*'([^']+)'\s*\)\s*$""".r
    describeStmt.findFirstMatchIn(text).foreach { m =>
      return Acid.describeTable(spark, m.group(1))
    }
    // ALTER TABLE acid_table('<dir>') ADD COLUMN <c> DEFAULT <lit> TXN <id>
    // — metadata-only defaulted column (Acid.addColumnDefault): pre-column
    // rows read the default, a NOT NULL CHECK rides along
    val addColumnStmt =
      """(?is)^\s*ALTER\s+TABLE\s+acid_table\s*\(\s*'([^']+)'\s*\)\s+ADD\s+COLUMN\s+([A-Za-z_][A-Za-z0-9_]*)\s+DEFAULT\s+('[^']*'|-?\d+(?:\.\d+)?)\s+TXN\s+(\d+)\s*$""".r
    addColumnStmt.findFirstMatchIn(text).foreach { m =>
      return ddlSummary("add_column_default",
        Acid.addColumnDefault(spark, m.group(1), m.group(2), m.group(3),
          m.group(4).toLong))
    }
    // OPTIMIZE acid_table('<dir>') WHERE <col> = <v> TARGET <n> TXN <id>
    // — partition-scoped compaction (Acid.optimizeWhere): only the files
    // whose recorded tuple names the selector rewrite
    val optimizeWhereStmt =
      """(?is)^\s*OPTIMIZE\s+acid_table\s*\(\s*'([^']+)'\s*\)\s+WHERE\s+([A-Za-z_][A-Za-z0-9_]*)\s*=\s*(-?\d+)\s+TARGET\s+(\d+)\s+TXN\s+(\d+)\s*$""".r
    optimizeWhereStmt.findFirstMatchIn(text).foreach { m =>
      return ddlSummary("optimize_where",
        Acid.optimizeWhere(spark, m.group(1), m.group(5).toLong,
          m.group(4).toInt, part = (m.group(2), m.group(3).toLong)))
    }
    // ANALYZE acid_table('<dir>') [STATS (c)] [BLOOM (c)] [ROWS] TXN <id>
    // — retrofit zone maps / blooms / row counts onto existing files,
    // metadata-only (Acid.analyzeTable)
    val analyzeStmt =
      """(?is)^\s*ANALYZE\s+acid_table\s*\(\s*'([^']+)'\s*\)\s+(?:STATS\s*\(\s*([A-Za-z_][A-Za-z0-9_]*)\s*\)\s+)?(?:BLOOM\s*\(\s*([A-Za-z_][A-Za-z0-9_]*)\s*\)\s+)?(?:(ROWS)\s+)?TXN\s+(\d+)\s*$""".r
    analyzeStmt.findFirstMatchIn(text).foreach { m =>
      import org.apache.spark.sql.functions.col
      return ddlSummary("analyze",
        Acid.analyzeTable(spark, m.group(1), m.group(5).toLong,
          stats = Option(m.group(2)).map(c => (c, col(c))),
          bloom = Option(m.group(3)).map(c => (c, col(c))),
          rowCounts = m.group(4) != null))
    }
    // CREATE MATERIALIZED VIEW <name> AT '<mvDir>' AS SELECT <keys...>,
    //   COUNT(*) AS <n>, SUM(<col>) AS <s> [, SUM..] FROM
    //   acid_table('<dir>') GROUP BY <keys...> — materialize + register
    // the MV for the query-rewrite rule (plans/MvRewrite): a full
    // recompute pinned at the base's current version; matching aggregates
    // (DataFrame OR SQL-entered) route to the view until the base moves.
    val createMvStmt =
      """(?is)^\s*CREATE\s+MATERIALIZED\s+VIEW\s+([A-Za-z_][A-Za-z0-9_]*)\s+AT\s+'([^']+)'\s+AS\s+SELECT\s+(.+?)\s+FROM\s+acid_table\s*\(\s*'([^']+)'\s*\)\s+GROUP\s+BY\s+(.+?)\s*$""".r
    createMvStmt.findFirstMatchIn(text).foreach { m =>
      val (name, mvDir, dir) = (m.group(1), m.group(2), m.group(4))
      val keys = splitTopLevel(m.group(5)).map(_.trim)
      val countRe = """(?is)^COUNT\s*\(\s*\*\s*\)\s+AS\s+([A-Za-z_][A-Za-z0-9_]*)$""".r
      val aggRe = """(?is)^(SUM|MIN|MAX)\s*\(\s*([A-Za-z_][A-Za-z0-9_]*)\s*\)\s+AS\s+([A-Za-z_][A-Za-z0-9_]*)$""".r
      var countCol: Option[String] = None
      val sums = Map.newBuilder[String, String]
      val mins = Map.newBuilder[String, String]
      val maxs = Map.newBuilder[String, String]
      splitTopLevel(m.group(3)).map(_.trim).foreach { item =>
        countRe.findFirstMatchIn(item) match {
          case Some(c) => countCol = Some(c.group(1))
          case None => aggRe.findFirstMatchIn(item) match {
            case Some(sm) =>
              val entry = (sm.group(2) -> sm.group(3))
              sm.group(1).toUpperCase match {
                case "SUM" => sums += entry
                case "MIN" => mins += entry
                case "MAX" => maxs += entry
              }
            case None => require(keys.contains(item),
              s"CREATE MATERIALIZED VIEW: select item '$item' is neither " +
                "a GROUP BY key, COUNT(*) AS c, nor SUM/MIN/MAX(col) AS s")
          }
        }
      }
      val n = countCol.getOrElse(sys.error(
        "CREATE MATERIALIZED VIEW: a COUNT(*) AS <c> column is required " +
          "(the roll-up weight)"))
      val v = graft.plans.MvRewrite.create(spark, name, dir, mvDir,
        keys, n, sums.result(), mins.result(), maxs.result())
      import spark.implicits._
      return Seq(("create_mv", name, v)).toDF("operation", "view", "pinned_version")
    }
    // REFRESH MATERIALIZED VIEW <name> — INCREMENTAL-FIRST: the change
    // feed between the pinned and current versions merges into the
    // standing view as O(groups) signed deltas (falling back to a full
    // recompute when the window crosses a rewrite/vacuum); re-pins at the
    // current version and restores the route. The `mode` column reports
    // which path ran.
    val refreshMvStmt =
      """(?is)^\s*REFRESH\s+MATERIALIZED\s+VIEW\s+([A-Za-z_][A-Za-z0-9_]*)\s*$""".r
    refreshMvStmt.findFirstMatchIn(text).foreach { m =>
      val (v, mode) = graft.plans.MvRewrite.refresh(spark, m.group(1))
      import spark.implicits._
      return Seq(("refresh_mv", m.group(1), v, mode))
        .toDF("operation", "view", "pinned_version", "mode")
    }
    // DROP MATERIALIZED VIEW <name> — unregister (the parquet stays; a
    // view is a cache, dropping it only removes the route)
    val dropMvStmt =
      """(?is)^\s*DROP\s+MATERIALIZED\s+VIEW\s+([A-Za-z_][A-Za-z0-9_]*)\s*$""".r
    dropMvStmt.findFirstMatchIn(text).foreach { m =>
      graft.plans.MvRewrite.unregister(m.group(1))
      import spark.implicits._
      return Seq(("drop_mv", m.group(1), -1L))
        .toDF("operation", "view", "pinned_version")
    }
    // VACUUM acid_table('<dir>') KEEP <n>
    val vacuumStmt =
      """(?is)^\s*VACUUM\s+acid_table\s*\(\s*'([^']+)'\s*\)\s+KEEP\s+(\d+)\s*$""".r
    vacuumStmt.findFirstMatchIn(text).foreach { m =>
      val deleted = Acid.vacuum(m.group(1), m.group(2).toInt)
      import spark.implicits._
      return Seq(("vacuum", deleted.size.toLong))
        .toDF("operation", "files_deleted")
    }
    // RESTORE TABLE acid_table('<dir>') TO VERSION AS OF <v> TXN <id> —
    // Delta's RESTORE statement (r15): a metadata-only rollback through
    // Acid.restore, surfaced in the pure-SQL entry path. Returns a 1-row
    // frame (restored_to, new_version) like Delta's RESTORE output.
    val restoreStmt =
      """(?is)^\s*RESTORE\s+TABLE\s+acid_table\s*\(\s*'([^']+)'\s*\)\s+TO\s+VERSION\s+AS\s+OF\s+(\d+)\s+TXN\s+(\d+)\s*$""".r
    restoreStmt.findFirstMatchIn(text).foreach { m =>
      val (dir, toV, txn) = (m.group(1), m.group(2).toLong, m.group(3).toLong)
      val v = Acid.restore(dir, toV, txn)
      import spark.implicits._
      return Seq((toV, v)).toDF("restored_to", "new_version")
    }
    // TIMESTAMP AS OF '<iso-instant>' — wall-clock time travel (r17,
    // Delta's other AS OF dialect): resolves through Acid.versionAsOf
    // (greatest version whose commit mtime ≤ the instant) then the same
    // readVersion seam as numeric travel
    val tsTravel =
      """acid_table\s*\(\s*'([^']+)'\s*\)\s+TIMESTAMP\s+AS\s+OF\s+'([^']+)'""".r
    tsTravel.findAllMatchIn(text).toSeq.foreach { m =>
      val (dir, iso) = (m.group(1), m.group(2))
      val millis = java.time.Instant.parse(iso).toEpochMilli
      val v = Acid.versionAsOf(dir, millis)
      val view = s"__graft_acid_ts${v}_${slug(dir)}"
      Acid.readVersion(spark, dir, v).createOrReplaceTempView(view)
      out = out.replace(m.matched, view)
    }
    // VERSION AS OF '<tag>' — named-ref time travel (r15, Iceberg tag
    // refs): resolves through Acid.readTag, which works below the vacuum
    // horizon (the tag pinned its snapshot)
    val tagTravel = """acid_table\s*\(\s*'([^']+)'\s*\)\s+VERSION\s+AS\s+OF\s+'([A-Za-z0-9._-]+)'""".r
    tagTravel.findAllMatchIn(text).toSeq.foreach { m =>
      val (dir, name) = (m.group(1), m.group(2))
      val view = s"__graft_acid_tag_${name.replaceAll("[^A-Za-z0-9]", "_")}_${slug(dir)}"
      Acid.readTag(spark, dir, name).createOrReplaceTempView(view)
      out = out.replace(m.matched, view)
    }
    // BRANCH AS OF '<name>' — branch-ref reads for pure-SQL users (r16,
    // Iceberg branch refs): resolves through Acid.readBranch (fork base ∪
    // branch commits, delete vectors applied)
    val branchTravel = """acid_table\s*\(\s*'([^']+)'\s*\)\s+BRANCH\s+AS\s+OF\s+'([A-Za-z0-9._-]+)'""".r
    branchTravel.findAllMatchIn(text).toSeq.foreach { m =>
      val (dir, name) = (m.group(1), m.group(2))
      val view = s"__graft_acid_br_${name.replaceAll("[^A-Za-z0-9]", "_")}_${slug(dir)}"
      Acid.readBranch(spark, dir, name).createOrReplaceTempView(view)
      out = out.replace(m.matched, view)
    }
    // table_history('<dir>') — the DESCRIBE HISTORY metadata table as a
    // TVF shape (r16), resolving through Acid.history
    val hist = """table_history\s*\(\s*'([^']+)'\s*\)""".r
    hist.findAllMatchIn(text).toSeq.foreach { m =>
      val dir = m.group(1)
      val view = s"__graft_acid_hist_${slug(dir)}"
      Acid.history(spark, dir).createOrReplaceTempView(view)
      out = out.replace(m.matched, view)
    }
    // table_changes_row('<dir>', v1, v2, '<key>') — the ROW-GRANULAR CDF
    // (update images, rewrite-crossing) as a TVF, Delta CDF's shape
    val cdfRowTvf =
      """table_changes_row\s*\(\s*'([^']+)'\s*,\s*(\d+)\s*,\s*(\d+)\s*,\s*'([^']+)'\s*\)""".r
    cdfRowTvf.findAllMatchIn(text).toSeq.foreach { m =>
      val (dir, v1, v2, key) =
        (m.group(1), m.group(2).toLong, m.group(3).toLong, m.group(4))
      val view = s"__graft_acid_cdfrow_${slug(dir)}_${v1}_$v2"
      Acid.changeFeedRow(spark, dir, v1, v2, key)
        .createOrReplaceTempView(view)
      out = out.replace(m.matched, view)
    }
    // table_properties('<dir>') — TBLPROPERTIES as a queryable TVF
    val propsTvf = """table_properties\s*\(\s*'([^']+)'\s*\)""".r
    propsTvf.findAllMatchIn(text).toSeq.foreach { m =>
      val dir = m.group(1)
      val view = s"__graft_acid_props_${slug(dir)}"
      import spark.implicits._
      Acid.properties(dir).toDF("key", "value").createOrReplaceTempView(view)
      out = out.replace(m.matched, view)
    }
    // table_refs('<dir>') — Iceberg's refs metadata table as a TVF shape
    // (r17), resolving through Acid.refs: one row per named ref (main,
    // tags, branches) with kind, pinned version, unpublished commit count
    val refsTvf = """table_refs\s*\(\s*'([^']+)'\s*\)""".r
    refsTvf.findAllMatchIn(text).toSeq.foreach { m =>
      val dir = m.group(1)
      val view = s"__graft_acid_refs_${slug(dir)}"
      Acid.refs(spark, dir).createOrReplaceTempView(view)
      out = out.replace(m.matched, view)
    }
    // table_files('<dir>') — Iceberg's files metadata table as a TVF
    // shape (r17), resolving through Acid.filesTable: one row per data
    // file with partition tuple, recorded row count, and min/max stats
    val filesTvf = """table_files\s*\(\s*'([^']+)'\s*\)""".r
    filesTvf.findAllMatchIn(text).toSeq.foreach { m =>
      val dir = m.group(1)
      val view = s"__graft_acid_files_${slug(dir)}"
      Acid.filesTable(spark, dir).createOrReplaceTempView(view)
      out = out.replace(m.matched, view)
    }
    val timeTravel = """acid_table\s*\(\s*'([^']+)'\s*\)\s+VERSION\s+AS\s+OF\s+(\d+)""".r
    timeTravel.findAllMatchIn(text).toSeq.foreach { m =>
      val (dir, v) = (m.group(1), m.group(2).toLong)
      val view = s"__graft_acid_v${v}_${slug(dir)}"
      Acid.readVersion(spark, dir, v).createOrReplaceTempView(view)
      out = out.replace(m.matched, view)
    }
    val changes = """table_changes\s*\(\s*'([^']+)'\s*,\s*(\d+)\s*,\s*(\d+)\s*\)""".r
    changes.findAllMatchIn(text).toSeq.foreach { m =>
      val (dir, v1, v2) = (m.group(1), m.group(2).toLong, m.group(3).toLong)
      val view = s"__graft_acid_cdf_${v1}_${v2}_${slug(dir)}"
      Acid.changeFeed(spark, dir, v1, v2).createOrReplaceTempView(view)
      out = out.replace(m.matched, view)
    }
    val current = """acid_table\s*\(\s*'([^']+)'\s*\)""".r
    current.findAllMatchIn(out).toSeq.foreach { m =>
      val dir = m.group(1)
      val view = s"__graft_acid_cur_${slug(dir)}"
      // column-mapped tables resolve through the mapping-aware read; the
      // plain scan (identical plan to the DataFrame twin, SurfaceDocSpec-
      // pinned) stays the fast path for everything else
      val df = if (Acid.hasColumnMapping(dir)) Acid.readEvolved(spark, dir)
        else Acid.read(spark, dir)
      df.createOrReplaceTempView(view)
      out = out.replace(m.matched, view)
    }
    spark.sql(out)
  }

  /** One statement INSIDE a BEGIN/COMMIT transaction, executed against the
    * txn branch `br` of `dir`. Source subqueries referencing the txn's own
    * table are rewritten to the branch read (`BRANCH AS OF`), so statement
    * k sees statement k-1's effects — read-your-writes. INSERTs are
    * constraint-gated against the table's standing CHECKs (same contract
    * as the single-statement INSERT) and column-set-validated by name. */
  private def runTxnStatement(spark: SparkSession, dir: String, br: String,
      stmt: String): Unit = {
    import org.apache.spark.sql.functions.{count, expr, when}
    def branchSrc(sql: String): String = // read-your-writes for sources
      sql.replaceAll(
        """acid_table\s*\(\s*'""" + java.util.regex.Pattern.quote(dir) + """'\s*\)""",
        s"acid_table('$dir') BRANCH AS OF '$br'")
    val insertStmt =
      """(?is)^\s*INSERT\s+INTO\s+acid_table\s*\(\s*'([^']+)'\s*\)\s+(.+?)\s+TXN\s+(\d+)\s*$""".r
    insertStmt.findFirstMatchIn(stmt).foreach { m =>
      require(m.group(1) == dir, s"txn statement targets ${m.group(1)}, txn is on $dir")
      val df = sqlLakehouse(spark, branchSrc(m.group(2)))
      val want = Acid.readBranch(spark, dir, br).schema.fieldNames.sorted.toSeq
      val got = df.schema.fieldNames.sorted.toSeq
      require(got == want,
        s"INSERT INTO acid_table (txn): select columns $got do not match " +
          s"the table's $want (insertion is by name)")
      Acid.appendTxnBranch(spark, dir, br, df, m.group(3).toLong)
      // write-side CHECK gate, WRITE-THEN-VERIFY (r19 review: a pre-write
      // constraint aggregate is a separate Spark action — the exact
      // two-action nondeterminism gap landChecked closes in Acid;
      // validate the bytes the branch append actually landed). A
      // violation aborts the WHOLE transaction (the caller drops the
      // branch), main unmoved — the branch commit that advanced is
      // txn-private garbage.
      val standing = Acid.currentVersion(dir)
        .map(Acid.constraints(dir, _)).getOrElse(Seq.empty)
      if (standing.nonEmpty) {
        val written = spark.read.parquet(
          s"$dir/branch=$br/txn=${m.group(3).toLong}")
        val aggs = standing.map { case (n, p) =>
          count(when(!expr(p) || expr(p).isNull, 1)).as(n) }
        val row = written.agg(aggs.head, aggs.tail: _*).head
        val bad = standing.zipWithIndex
          .map { case ((n, p), i) => (n, p, row.getLong(i)) }.filter(_._3 > 0)
        if (bad.nonEmpty) throw new ConstraintViolationException(
          "txn INSERT: " +
            bad.map { case (n, p, c) => s"$n ($p): $c rows" }.mkString("; "))
      }
      return
    }
    val mergeStmt =
      """(?is)^\s*MERGE\s+INTO\s+acid_table\s*\(\s*'([^']+)'\s*\)\s+USING\s+(.+?)\s+ON\s+([A-Za-z_][A-Za-z0-9_]*)\s+(WHEN\s+.+?)\s+TXN\s+(\d+)\s*$""".r
    mergeStmt.findFirstMatchIn(stmt).foreach { m =>
      require(m.group(1) == dir, s"txn statement targets ${m.group(1)}, txn is on $dir")
      val (src, keyCol, clauses, txn) =
        (m.group(2).trim, m.group(3), m.group(4), m.group(5).toLong)
      require(
        """(?is)WHEN\s+MATCHED\s+THEN\s+UPDATE\s+SET\s+\*""".r
          .findFirstIn(clauses).isDefined &&
        """(?is)WHEN\s+NOT\s+MATCHED\s+THEN\s+INSERT\s+\*""".r
          .findFirstIn(clauses).isDefined,
        "MERGE (txn): whole-row clauses required — WHEN MATCHED THEN " +
          "UPDATE SET * and WHEN NOT MATCHED THEN INSERT *")
      val delPred =
        """(?is)WHEN\s+MATCHED\s+AND\s+(.+?)\s+THEN\s+DELETE""".r
          .findFirstMatchIn(clauses).map(_.group(1))
      val srcSql =
        if (src.startsWith("(")) src.stripPrefix("(").stripSuffix(")")
        else s"SELECT * FROM $src"
      val source = sqlLakehouse(spark, branchSrc(srcSql))
      val changes = delPred match {
        case Some(p) => source.withColumn("__op",
          org.apache.spark.sql.functions.when(expr(p), "delete")
            .otherwise("upsert"))
        case None => source
      }
      Acid.mergeCowBranch(spark, dir, br, changes, keyCol, txn,
        opCol = delPred.map(_ => "__op"))
      return
    }
    // UPDATE acid_table('<dir>') SET c = <expr>[, ...] WHERE <pred> TXN <id>
    // — native inside a transaction (r20, lifting the INSERT/MERGE-only
    // restriction): compiles to the branch predicate-COW
    // ([[Acid.updateWhereBranch]]), read-your-writes by construction (the
    // probe runs over the branch head), replayable through the op-log spec
    val updateStmt =
      """(?is)^\s*UPDATE\s+acid_table\s*\(\s*'([^']+)'\s*\)\s+SET\s+(.+?)\s+WHERE\s+(.+?)\s+TXN\s+(\d+)\s*$""".r
    updateStmt.findFirstMatchIn(stmt).foreach { m =>
      require(m.group(1) == dir, s"txn statement targets ${m.group(1)}, txn is on $dir")
      val sets = splitTopLevel(m.group(2)).map { a =>
        val i = a.indexOf('=')
        require(i > 0, s"UPDATE acid_table (txn): malformed assignment '$a'")
        (a.take(i).trim, a.drop(i + 1).trim)
      }
      Acid.updateWhereBranch(spark, dir, br, sets, m.group(3).trim,
        m.group(4).toLong)
      return
    }
    // DELETE FROM acid_table('<dir>') WHERE <pred> TXN <id> — same compile
    val deleteStmt =
      """(?is)^\s*DELETE\s+FROM\s+acid_table\s*\(\s*'([^']+)'\s*\)\s+WHERE\s+(.+?)\s+TXN\s+(\d+)\s*$""".r
    deleteStmt.findFirstMatchIn(stmt).foreach { m =>
      require(m.group(1) == dir, s"txn statement targets ${m.group(1)}, txn is on $dir")
      Acid.deleteWhereBranch(spark, dir, br, m.group(2).trim, m.group(3).toLong)
      return
    }
    sys.error("BEGIN/COMMIT: unsupported transactional statement (INSERT " +
      s"INTO / MERGE INTO / UPDATE / DELETE FROM acid_table): $stmt")
  }

  /** Split `a = f(x, y), b = z` on TOP-LEVEL delimiters only (assignments
    * may carry function calls; txn blocks carry ';'-separated statements);
    * quotes respected so a delimiter literal never splits. */
  private def splitTopLevel(s: String, delim: Char = ','): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var depth = 0
    var quote: Char = 0
    s.foreach { ch =>
      if (quote != 0) { cur += ch; if (ch == quote) quote = 0 }
      else ch match {
        case '\'' | '"' => quote = ch; cur += ch
        case '(' => depth += 1; cur += ch
        case ')' => depth -= 1; cur += ch
        case c if c == delim && depth == 0 => out += cur.result(); cur.clear()
        case _ => cur += ch
      }
    }
    if (cur.nonEmpty) out += cur.result()
    out.result().map(_.trim).filter(_.nonEmpty)
  }
}
