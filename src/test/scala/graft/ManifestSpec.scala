package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}
import graft.ops.{Acid, Manifest}

/** The Acid manifest format ([[graft.ops.Manifest]]): every manifest the
  * DML surface writes parses and prints back to the same text, and each
  * header kind carries into the next commit exactly when it should. */
class ManifestSpec extends SparkFixture {

  private def tmpTable(tag: String): String =
    Files.createTempDirectory(s"graft_manifest_$tag").toString + "/t"

  /** Raw manifest text as readers see it: trimmed, blank lines dropped. */
  private def rawLines(p: Path): Seq[String] =
    Files.readAllLines(p).asScala.map(_.trim).filter(_.nonEmpty).toSeq

  private def headLines(t: String): Seq[String] =
    rawLines(Paths.get(t, s"manifest-${Acid.currentVersion(t).get}.txt"))

  private def kindOf(l: String): String =
    if (l.startsWith("# ")) l.drop(2).takeWhile(_ != ':') else "file"

  private def copyTable(src: String, tag: String): String = {
    val dst = tmpTable(tag)
    val from = Paths.get(src)
    val walk = Files.walk(from)
    try walk.forEach { p =>
      val q = Paths.get(dst).resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q)
      else Files.copy(p, q)
    } finally walk.close()
    dst
  }

  /** Rows in the table's physical layout before the evolution steps. */
  private def rows(lo: Long, hi: Long): DataFrame =
    spark.range(lo, hi).select(col("id").as("k"), (col("id") * 2).as("a"),
      (col("id") % 3).cast("string").as("s"), col("id").as("x"))

  /** Rows in the logical layout after them (a -> b, x dropped, d = 7). */
  private def logical(lo: Long, hi: Long): DataFrame =
    spark.range(lo, hi).select(col("id").as("k"), (col("id") * 5).as("b"),
      (col("id") % 2).cast("string").as("s"), lit(7).as("d"))

  /** A table whose head carries every header kind a plain (non-lineage)
    * table can hold at once: the ledger, both delete-vector kinds with a
    * CDC file, row counts, zone maps, blooms, hidden-partition tuples and
    * spec, a constraint, a property, a rename, a drop and a default. */
  private def everyHeaderKind(t: String): Unit = {
    Acid.appendTxn(spark, t, rows(0, 40), txnId = 0L)
    Acid.appendTxnHidden(spark, t, rows(40, 60), txnId = 1L,
      Seq(Acid.bucketOf("k", 2)))
    Acid.analyzeTable(spark, t, txnId = 2L, stats = Some("k" -> col("k")),
      bloom = Some("k" -> col("k")), rowCounts = true)
    Acid.addConstraint(spark, t, "k_nonneg", "k >= 0", txnId = 3L)
    Acid.setProperties(t, Seq("owner" -> "ops"), txnId = 4L)
    Acid.renameColumn(t, "a", "b", txnId = 5L)
    Acid.dropColumn(t, "x", txnId = 6L)
    Acid.addColumnDefault(spark, t, "d", "7", txnId = 7L)
    Acid.deleteTxn(spark, t, spark.range(0, 3).select(col("id").as("k")), "k",
      txnId = 8L)
    Acid.deletePositionsTxn(spark, t, Acid.readPositions(spark, t)
      .filter(col("k") === 10L).select(col("_file").as("f"), col("_pos").as("pos")),
      txnId = 9L, cdc = true)
  }

  /** The commits the carry-over table covers, each applied to its own copy
    * of the [[everyHeaderKind]] table. */
  private val carryOps: Seq[(String, String => Unit)] = Seq(
    "append" -> (c => Acid.appendTxn(spark, c, logical(100, 104), txnId = 20L)),
    "appendEvolved" -> (c => Acid.appendTxnEvolved(spark, c, logical(100, 104),
      txnId = 20L, Seq("s"))),
    "mergeCow" -> (c => Acid.mergeCow(spark, c, logical(41, 42), "k", txnId = 20L)),
    "deleteTxn" -> (c => Acid.deleteTxn(spark, c,
      spark.range(20, 21).select(col("id").as("k")), "k", txnId = 20L)),
    "optimize" -> (c => Acid.optimize(spark, c, txnId = 20L, targetFiles = 1)))

  test("manifest carry-over table: which header kinds survive append, evolved append, mergeCow, deleteTxn and optimize") {
    val base = tmpTable("carry")
    everyHeaderKind(base)
    val before = headLines(base).filter(_.startsWith("#"))
    // per op, per header kind of the source head: "all" / "some" / "none"
    // of its lines reappear verbatim in the next head
    val got: Map[(String, String), String] = carryOps.flatMap { case (op, run) =>
      val c = copyTable(base, op)
      run(c)
      val after = headLines(c).toSet
      before.groupBy(kindOf).map { case (kind, ls) =>
        val kept = ls.count(after)
        (op, kind) -> (if (kept == ls.size) "all" else if (kept == 0) "none" else "some")
      }
    }.toMap
    val ops = carryOps.map(_._1)
    // columns: append, appendEvolved, mergeCow, deleteTxn, optimize
    val expected: Map[String, Seq[String]] = Map(
      "base"       -> Seq("all", "all", "all", "all", "all"),
      "txn"        -> Seq("all", "all", "all", "all", "all"),
      // the merge re-emits the reconciled vector under a new file; the
      // rewrite folds every vector into the data
      "delete"     -> Seq("all", "all", "none", "all", "none"),
      "delkey"     -> Seq("all", "all", "all", "all", "none"),
      "pdel"       -> Seq("all", "all", "all", "all", "none"),
      // CDC files belong to the commit that wrote them
      "cdc"        -> Seq("none", "none", "none", "none", "none"),
      // per-file entries retire with the files a rewrite replaces
      "rows"       -> Seq("all", "all", "some", "all", "none"),
      "minmax"     -> Seq("all", "all", "some", "all", "none"),
      "bloom"      -> Seq("all", "all", "some", "all", "none"),
      "pval"       -> Seq("all", "all", "some", "all", "none"),
      "pspec"      -> Seq("all", "all", "all", "all", "none"),
      // table metadata survives every commit
      "constraint" -> Seq("all", "all", "all", "all", "all"),
      "colmap"     -> Seq("all", "all", "all", "all", "all"),
      "coldrop"    -> Seq("all", "all", "all", "all", "all"),
      "coldefault" -> Seq("all", "all", "all", "all", "all"),
      "prop"       -> Seq("all", "all", "all", "all", "all"))
    assert(before.map(kindOf).toSet == expected.keySet,
      s"fixture head kinds: ${before.map(kindOf).distinct}")
    val diffs = for {
      (kind, row) <- expected.toSeq.sortBy(_._1)
      (op, want) <- ops.zip(row)
      if got((op, kind)) != want
    } yield s"$kind after $op: got ${got((op, kind))}, want $want"
    assert(diffs.isEmpty, diffs.mkString("\n"))
  }

  test("every main, branch and WAP manifest the DML surface writes parses and prints back to its own text") {
    // table A: every header kind, then a rewrite and a restore (commit tags)
    val a = tmpTable("roundtrip_a")
    everyHeaderKind(a)
    Acid.mergeCow(spark, a, logical(41, 43), "k", txnId = 10L)
    Acid.optimize(spark, a, txnId = 11L, targetFiles = 1)
    Acid.restore(a, 9L, txnId = 12L)
    // table B: row lineage — lazy ids, the mark, materialized ids
    val b = tmpTable("roundtrip_b")
    val kv = (lo: Long, hi: Long) =>
      spark.range(lo, hi).select(col("id").as("k"), lit("a").as("v"))
    Acid.appendTxn(spark, b, kv(0, 20), txnId = 0L)
    Acid.appendTxn(spark, b, kv(20, 30), txnId = 1L)
    Acid.assignRowIds(spark, b, txnId = 2L)
    Acid.updateWhereLineage(spark, b, Seq("v" -> lit("z")), col("k") % 5 === 0,
      txnId = 3L)
    // table C: branch DML of every logged kind, a DML rebase, a staged WAP
    val c = tmpTable("roundtrip_c")
    Acid.appendTxn(spark, c, kv(0, 20), txnId = 0L)
    Acid.createBranch(c, "exp", 0L)
    Acid.appendTxnBranch(spark, c, "exp", kv(20, 25), txnId = 1L)
    Acid.mergeCowBranch(spark, c, "exp", kv(3, 5).withColumn("v", lit("m")),
      "k", txnId = 2L)
    Acid.deleteTxnBranch(spark, c, "exp", spark.range(7, 8).select(col("id").as("k")),
      "k", txnId = 3L)
    Acid.updateWhereBranch(spark, c, "exp", Seq("v" -> "'u'"), "k = 11", txnId = 4L)
    Acid.appendTxn(spark, c, kv(30, 35), txnId = 5L)
    Acid.rebaseBranchDml(spark, c, "exp", txnId = 6L)
    Acid.stageWap(spark, c, kv(40, 45), "audit")

    val manifests = Seq(a, b, c).flatMap { t =>
      Files.list(Paths.get(t)).iterator().asScala
        .filter(p => p.getFileName.toString.matches("manifest-.*\\.txt")).toSeq
    }
    assert(manifests.exists(_.getFileName.toString.startsWith("manifest-br-")))
    assert(manifests.exists(_.getFileName.toString.startsWith("manifest-wap-")))
    val kinds = manifests.flatMap { p =>
      val lines = rawLines(p)
      val m = Manifest.parse(lines)
      assert(m.lines == lines, s"$p does not print back to its own text")
      assert(Manifest.read(p).lines == lines, s"$p: cached parse differs")
      m.entries.map(_.getClass.getSimpleName.stripSuffix("$"))
    }.toSet
    val all = Set("Base", "Txn", "Op", "Delete", "DelKey", "PDel", "Cdc", "Rows",
      "MinMax", "Bloom", "PVal", "PSpec", "Constraint", "ColMap", "ColDrop",
      "ColDefault", "FirstRow", "RowIdPhys", "RowIdNext", "Prop", "Dml", "DataFile")
    assert(kinds == all, s"scenario misses ${all -- kinds}, has extra ${kinds -- all}")
  }

  test("manifest parser fails loudly on an unknown or malformed header line") {
    assert(Manifest.parse(Seq("# base:.", "# txn:3", "f.parquet")).entries ==
      Seq(Manifest.Base, Manifest.Txn(3L), Manifest.DataFile("f.parquet")))
    Seq("# bogus:1", "# txn:x", "# minmax:f|k|1", "#txn:1", "# colmap:a").foreach { l =>
      intercept[IllegalArgumentException](Manifest.parse(Seq("# base:.", l)))
    }
  }

  test("CDC preimage files stay readable through a later merge and a vacuum that keeps their version") {
    val t = tmpTable("cdc_vacuum")
    val kv = (lo: Long, hi: Long) =>
      spark.range(lo, hi).select(col("id").as("k"), (col("id") * 10).as("v"))
    Acid.appendTxn(spark, t, kv(0, 10), txnId = 0L)                  // v0
    Acid.appendTxn(spark, t, kv(10, 20), txnId = 1L)                 // v1
    Acid.deletePositionsTxn(spark, t, Acid.readPositions(spark, t)
      .filter(col("k") === 3L).select(col("_file").as("f"), col("_pos").as("pos")),
      txnId = 2L, cdc = true)                                        // v2
    Acid.mergeCow(spark, t, kv(15, 16).withColumn("v", lit(0L)), "k",
      txnId = 3L)                                                    // v3
    Acid.vacuum(t, keep = 3)
    assert(Acid.horizon(t) == 1L)
    val feed = Acid.changeFeedRow(spark, t, 1L, 2L, "k")
      .select("k", "v", "change_type").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(feed == Seq((3L, 30L, "delete")), s"$feed")
  }
}
