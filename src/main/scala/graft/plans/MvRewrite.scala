package graft.plans

import java.util.concurrent.ConcurrentHashMap

import scala.annotation.tailrec
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Coalesce, Expression, Literal, NamedExpression, SubqueryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.expressions.{EqualTo, IsNotNull}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.LongType

/** Materialized-view query rewrite — the OPTIMIZER half of the MV story.
  *
  * `stream_incremental_mv` keeps a standing (count, exact-cents sum)
  * aggregate current from the change feed; this module makes the engine
  * USE it: a registered MV turns any matching aggregate over the base
  * table into a roll-up over the MV, so the query bill drops from
  * O(table) to O(groups) — the entire point of maintaining the view.
  * Every warehouse with MVs has this rule (Oracle/Calcite "materialized
  * view rewrite", BigQuery smart tuning, Snowflake MV auto-routing);
  * Spark has the seam but no built-in rule, so this is the (c) rung of
  * the SURVEY §4 extension ladder put to use a second time: a
  * `Rule[LogicalPlan]` installed through the public
  * `spark.experimental.extraOptimizations` hook (works on ANY session,
  * extension-installed or vanilla — registration is what arms it).
  *
  * Soundness gates, all checked per candidate:
  *  - the aggregate's input chain down to the scan is only attribute
  *    Projects and deterministic, subquery-free Filters whose references
  *    are all MV KEY columns (a filter on a key column selects whole
  *    groups, so it commutes with the roll-up);
  *  - every grouping expression is a bare key-column attribute;
  *  - every output is a grouped key, `count(<non-null literal>)`, or
  *    `sum(<registered long column>)` — no DISTINCT, no FILTER clause
  *    (count rolls up as `coalesce(sum(n), 0)`, sum as `sum(sum_c)`;
  *    both are exact because the MV partials are abelian-group sums);
  *  - FRESHNESS: the scan's file set is exactly the pinned snapshot's
  *    file set, and the base table's current version still equals the
  *    version pinned at registration. A stale MV (base moved) or a
  *    time-travel read of any other version declines the rewrite and
  *    the query runs against the base — never wrong, just unaccelerated.
  *
  * JOIN views (the Calcite summary-table shape): [[registerJoin]] pins an
  * MV defined over `fact ⋈ dim ON fact.fk = dim.pk` — an aggregate over
  * the SAME inner equi-join (either side order, each side under its own
  * attribute Projects / key-column Filters) answers from the MV with no
  * join in the plan at all. No PK/FK uniqueness is assumed: the view is a
  * function of the join RESULT, so grouping-subset roll-ups are exact
  * regardless of multiplicities. Inferred `isnotnull(join key)` conjuncts
  * (InferFiltersFromConstraints) are recognized as subsumed by the MV's
  * own inner join and dropped rather than declined. Freshness pins the
  * fact's acid version + file set AND the dim's file set.
  *
  * The rewritten plan preserves the original output attributes (names,
  * exprIds, types), so parents — sorts, havings, joins — are untouched.
  * At 100 TB the rewrite is the difference between scanning the lake and
  * scanning a few thousand pre-aggregated rows (for the join view it also
  * deletes the star query's fact-side shuffle); the freshness probe costs
  * one pointer read + the file listing the scan already did.
  */
object MvRewrite extends Rule[LogicalPlan]
    with org.apache.spark.sql.catalyst.expressions.PredicateHelper {

  /** One registered view: base table (acid dir) → MV parquet.
    * `sums` maps base value column → MV sum column (both LongType:
    * exact-cents partials, the determinism policy's money representation).
    */
  final case class MvDef(
      name: String,
      baseDir: String,
      mvDir: String,
      mvRelation: LogicalRelation,
      keyCols: Seq[String],
      countCol: String,
      sums: Map[String, String],
      mins: Map[String, String],
      maxs: Map[String, String],
      pinnedVersion: Long,
      pinnedFiles: Set[String],
      delKey: Option[String])

  private val defs = new ConcurrentHashMap[String, MvDef]()

  /** Strip "file:" URI schemes so FileIndex paths and registration paths
    * compare as plain filesystem strings. */
  private def norm(s: String): String = {
    val u = try new java.net.URI(s) catch { case _: Exception => null }
    if (u != null && u.getScheme != null) u.getPath else s
  }

  /** Register `mvDir` (plain parquet, already materialized) as a view of
    * `baseDir`'s CURRENT version, and arm the rewrite rule on `spark`.
    * Re-registering a name replaces the pin — the refresh lifecycle. */
  def register(spark: SparkSession, name: String, baseDir: String,
      mvDir: String, keyCols: Seq[String], countCol: String,
      sums: Map[String, String],
      mins: Map[String, String] = Map.empty,
      maxs: Map[String, String] = Map.empty): Unit = {
    val rel = spark.read.parquet(mvDir).queryExecution.analyzed.collectFirst {
      case l: LogicalRelation => l
    }.getOrElse(sys.error(s"MvRewrite.register: no relation under $mvDir"))
    val required = (keyCols :+ countCol) ++ sums.values ++ mins.values ++ maxs.values
    val missing = required.filterNot(c => rel.output.exists(_.name == c))
    require(missing.isEmpty, s"MvRewrite.register: MV lacks columns $missing")
    (countCol +: sums.values.toSeq).foreach { c =>
      require(rel.output.find(_.name == c).get.dataType == LongType,
        s"MvRewrite.register: MV column $c must be LongType (exact partials)")
    }
    // min/max partials need no arithmetic — any orderable type, but it
    // must be the BASE column's exact type or the compensated output type
    // would shift under the caller's feet
    val baseSchema = graft.ops.Acid.read(spark, baseDir).schema
    (mins ++ maxs).foreach { case (b, m) =>
      val bt = baseSchema.find(_.name == b).getOrElse(sys.error(
        s"MvRewrite.register: base has no column $b")).dataType
      require(rel.output.find(_.name == m).get.dataType == bt,
        s"MvRewrite.register: MV column $m must have the base type of $b ($bt)")
    }
    val v = graft.ops.Acid.currentVersion(baseDir).getOrElse(
      sys.error(s"MvRewrite.register: $baseDir has no committed version"))
    val files = graft.ops.Acid.read(spark, baseDir)
      .inputFiles.map(norm).toSet
    defs.put(name, MvDef(name, norm(new java.io.File(baseDir).getAbsolutePath),
      mvDir, rel, keyCols, countCol, sums, mins, maxs, v, files, delKeyOf(baseDir)))
    // arm the rule through the public per-session optimizer hook; idempotent
    if (!spark.experimental.extraOptimizations.contains(MvRewrite))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ MvRewrite
  }

  /** One registered JOIN view: `SELECT keys, count, sums FROM fact JOIN
    * dim ON fact.factFk = dim.dimPk GROUP BY keys`, materialized at
    * `mvDir`. The fact is an acid table (version-pinned); the dim is any
    * parquet frame (file-set-pinned). No PK/FK assumption is needed —
    * the MV is defined over the JOIN RESULT, so any grouping subset of
    * `keyCols` rolls up exactly regardless of multiplicities. */
  final case class MvJoinDef(
      name: String,
      factDir: String,
      factFk: String,
      dimPk: String,
      mvRelation: LogicalRelation,
      keyCols: Seq[String],
      countCol: String,
      sums: Map[String, String],
      pinnedVersion: Long,
      pinnedFactFiles: Set[String],
      pinnedDimFiles: Set[String],
      factDelKey: Option[String])

  private val joinDefs = new ConcurrentHashMap[String, MvJoinDef]()

  /** Register `mvDir` as a view of `factDir ⋈ dim` at the fact's CURRENT
    * version and the dim frame's current file set. */
  def registerJoin(spark: SparkSession, name: String, factDir: String,
      dim: org.apache.spark.sql.DataFrame, factFk: String, dimPk: String,
      mvDir: String, keyCols: Seq[String], countCol: String,
      sums: Map[String, String]): Unit = {
    val rel = spark.read.parquet(mvDir).queryExecution.analyzed.collectFirst {
      case l: LogicalRelation => l
    }.getOrElse(sys.error(s"MvRewrite.registerJoin: no relation under $mvDir"))
    val required = (keyCols :+ countCol) ++ sums.values
    val missing = required.filterNot(c => rel.output.exists(_.name == c))
    require(missing.isEmpty, s"MvRewrite.registerJoin: MV lacks columns $missing")
    (countCol +: sums.values.toSeq).foreach { c =>
      require(rel.output.find(_.name == c).get.dataType == LongType,
        s"MvRewrite.registerJoin: MV column $c must be LongType (exact partials)")
    }
    val v = graft.ops.Acid.currentVersion(factDir).getOrElse(
      sys.error(s"MvRewrite.registerJoin: $factDir has no committed version"))
    val factFiles = graft.ops.Acid.read(spark, factDir).inputFiles.map(norm).toSet
    val dimFiles = dim.inputFiles.map(norm).toSet
    require(dimFiles.nonEmpty, "MvRewrite.registerJoin: dim frame has no files")
    joinDefs.put(name, MvJoinDef(name,
      norm(new java.io.File(factDir).getAbsolutePath), factFk, dimPk, rel,
      keyCols, countCol, sums, v, factFiles, dimFiles, delKeyOf(factDir)))
    if (!spark.experimental.extraOptimizations.contains(MvRewrite))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ MvRewrite
  }

  def unregister(name: String): Unit = { defs.remove(name); joinDefs.remove(name) }
  def clear(): Unit = { defs.clear(); joinDefs.clear() }

  /** Materialize the aggregate a single-table MvDef describes (full
    * recompute from the base's CURRENT version) and write it to `mvDir`.
    * At 100 TB the refresh would be the change-feed incremental path
    * (`stream_incremental_mv`); the full recompute is the bootstrap and
    * the semantics twin the incremental result must match. */
  private def materialize(spark: SparkSession, baseDir: String,
      mvDir: String, keyCols: Seq[String], countCol: String,
      sums: Map[String, String], mins: Map[String, String],
      maxs: Map[String, String]): Unit = {
    import org.apache.spark.sql.functions.{col, count, lit, max, min, sum}
    val aggs = (count(lit(1)).cast(LongType).as(countCol) +:
      (sums.toSeq.sortBy(_._1).map { case (b, m) => sum(col(b)).as(m) } ++
        mins.toSeq.sortBy(_._1).map { case (b, m) => min(col(b)).as(m) } ++
        maxs.toSeq.sortBy(_._1).map { case (b, m) => max(col(b)).as(m) }))
    graft.ops.Acid.read(spark, baseDir)
      .groupBy(keyCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .write.mode("overwrite").parquet(mvDir)
  }

  /** Create-and-register: full recompute at the base's current version,
    * then pin — the SQL `CREATE MATERIALIZED VIEW` verb. Returns the
    * pinned base version. */
  def create(spark: SparkSession, name: String, baseDir: String,
      mvDir: String, keyCols: Seq[String], countCol: String,
      sums: Map[String, String],
      mins: Map[String, String] = Map.empty,
      maxs: Map[String, String] = Map.empty): Long = {
    materialize(spark, baseDir, mvDir, keyCols, countCol, sums, mins, maxs)
    register(spark, name, baseDir, mvDir, keyCols, countCol, sums, mins, maxs)
    defs.get(name).pinnedVersion
  }

  /** Refresh a registered single-table view — the SQL `REFRESH
    * MATERIALIZED VIEW` verb. INCREMENTAL-FIRST: the change feed between
    * the pinned and current versions collapses to O(groups) signed
    * deltas (insert → +1/+x, delete preimage → −1/−x — the same abelian
    * arithmetic `stream_incremental_mv` streams) and merges into the
    * standing view by a null-safe full-outer key join, dropping groups
    * whose count reaches zero. Cost is O(changes + groups), never
    * O(table) — at 100 TB this is the difference between a nightly
    * refresh and a nightly lake scan. When the window cannot be read as
    * a feed (a rewrite/positional-delete commit crossed it, or the
    * pinned version was vacuumed) the refresh falls back to the full
    * recompute — correct either way, and the returned mode says which
    * path ran. Returns (new pinned version, "noop"|"incremental"|"full").
    */
  def refresh(spark: SparkSession, name: String): (Long, String) = {
    import org.apache.spark.sql.functions.{coalesce, col, greatest, least, lit, max, min, sum, when}
    val d = Option(defs.get(name)).getOrElse(
      sys.error(s"MvRewrite.refresh: no registered view '$name'"))
    val cur = graft.ops.Acid.currentVersion(d.baseDir).getOrElse(
      sys.error(s"MvRewrite.refresh: ${d.baseDir} has no committed version"))
    if (cur == d.pinnedVersion) return (cur, "noop")
    val mode =
      try {
        val feed = graft.ops.Acid.changeFeed(spark, d.baseDir, d.pinnedVersion, cur)
        // count/sum deltas are invertible; min/max are NOT — a deleted row
        // could have carried the group's extremum. An insert-only window
        // still refreshes min/max incrementally (monotone under inserts);
        // any delete in the window forces the full recompute.
        if ((d.mins.nonEmpty || d.maxs.nonEmpty) &&
            !feed.filter(col("change_type") === lit("delete")).isEmpty)
          sys.error("min/max partials are not invertible under deletes")
        val sign = when(col("change_type") === lit("insert"), lit(1L))
          .otherwise(lit(-1L))
        val sumCols = d.sums.toSeq.sortBy(_._1)
        val minCols = d.mins.toSeq.sortBy(_._1)
        val maxCols = d.maxs.toSeq.sortBy(_._1)
        val delta = feed.groupBy(d.keyCols.map(col): _*)
          .agg(sum(sign).as("__dn"),
            (sumCols.map { case (b, m) => sum(sign * col(b)).as(s"__d_$m") } ++
              minCols.map { case (b, m) => min(col(b)).as(s"__d_$m") } ++
              maxCols.map { case (b, m) => max(col(b)).as(s"__d_$m") }): _*)
        val old = spark.read.parquet(d.mvDir).as("o")
        val x = delta.as("x")
        // null-safe key join: a NULL-keyed group must merge, not duplicate
        val cond = d.keyCols.map(k => col(s"o.$k") <=> col(s"x.$k"))
          .reduce(_ && _)
        val merged = old.join(x, cond, "full_outer").select(
          d.keyCols.map(k => coalesce(col(s"o.$k"), col(s"x.$k")).as(k)) ++
            Seq((coalesce(col(s"o.${d.countCol}"), lit(0L)) +
              coalesce(col("x.__dn"), lit(0L))).as(d.countCol)) ++
            sumCols.map { case (_, m) =>
              (coalesce(col(s"o.$m"), lit(0L)) +
                coalesce(col(s"x.__d_$m"), lit(0L))).as(m)
            } ++
            // least/greatest skip nulls, so a group present on one side
            // only keeps its own extremum
            minCols.map { case (_, m) =>
              least(col(s"o.$m"), col(s"x.__d_$m")).as(m) } ++
            maxCols.map { case (_, m) =>
              greatest(col(s"o.$m"), col(s"x.__d_$m")).as(m) }: _*)
          .filter(col(d.countCol) =!= 0L)
        // materialize off the files about to be overwritten (at 100 TB a
        // refresh writes a NEW mv version dir; overwrite is the
        // fixture-scale stand-in)
        val frozen = merged.localCheckpoint(true)
        frozen.write.mode("overwrite").parquet(d.mvDir)
        "incremental"
      } catch {
        case scala.util.control.NonFatal(_) =>
          materialize(spark, d.baseDir, d.mvDir, d.keyCols, d.countCol,
            d.sums, d.mins, d.maxs)
          "full"
      }
    register(spark, name, d.baseDir, d.mvDir, d.keyCols, d.countCol,
      d.sums, d.mins, d.maxs)
    (defs.get(name).pinnedVersion, mode)
  }

  /** Registered single-table view, if any (the SQL surface's probe). */
  def lookup(name: String): Option[MvDef] = Option(defs.get(name))

  private def isDistinctShape(a: Aggregate): Boolean =
    a.groupingExpressions == a.aggregateExpressions &&
      a.aggregateExpressions.forall(_.isInstanceOf[AttributeReference])

  /** The vector side of a MoR subtraction: an optional distinct over
    * attribute Projects over the vector-file scan (the optimizer may have
    * dropped the distinct — duplicates are irrelevant under anti-join). */
  @tailrec private def stripVector(p: LogicalPlan, seenDistinct: Boolean)
      : Option[LogicalRelation] = p match {
    case a: Aggregate if !seenDistinct && isDistinctShape(a) =>
      stripVector(a.child, seenDistinct = true)
    case Project(pl, c) if pl.forall(_.isInstanceOf[AttributeReference]) =>
      stripVector(c, seenDistinct)
    // inferred isnotnull(key) is a no-op under an EqualTo anti-join (null
    // keys never match) — part of the join machinery, not a user filter
    case Filter(IsNotNull(_: AttributeReference), c) =>
      stripVector(c, seenDistinct)
    case r: LogicalRelation => Some(r)
    case _ => None
  }

  /** Strip to a table's BASE READ: either a bare scan, or the standing
    * MoR equality-delete subtraction (`Acid.subtractDeletes` — a
    * left-anti join of the data scan against the distinct vector keys).
    * Returns (every file the read touches — data AND vector, so the
    * pinned-file-set equality still fences freshness exactly —, the user
    * filter conjuncts, and the anti-join key name if a subtraction was
    * crossed; the caller must verify it IS the registered table's delete
    * key, not a user-authored anti-join on some other column). */
  private def stripBase(p: LogicalPlan)
      : Option[(Set[String], Seq[Expression], Option[String])] = p match {
    case Project(pl, c) if pl.forall(_.isInstanceOf[AttributeReference]) =>
      stripBase(c)
    case Filter(cond, c) =>
      stripBase(c).map { case (f, cs, k) => (f, cs :+ cond, k) }
    case j: Join if j.joinType == org.apache.spark.sql.catalyst.plans.LeftAnti =>
      for {
        (lf, lconds, None) <- stripBase(j.left) // one subtraction, not nested
        vrel <- stripVector(j.right, seenDistinct = false)
        vf <- scanFiles(vrel)
        k <- j.condition match {
          case Some(EqualTo(a: AttributeReference, b: AttributeReference))
              if a.name == b.name => Some(a.name)
          case _ => None
        }
      } yield (lf ++ vf, lconds, Some(k))
    case r: LogicalRelation => scanFiles(r).map(f => (f, Nil, None))
    case _ => None
  }

  /** The table's equality-delete key recorded in its head manifest, if a
    * standing vector exists — what a plan-side anti-join must subtract ON
    * for the scan to BE the table's own read. */
  private def delKeyOf(tableDir: String): Option[String] =
    try graft.ops.Acid.headManifest(tableDir).delKey
    catch { case scala.util.control.NonFatal(_) => None }

  private def scanFiles(rel: LogicalRelation): Option[Set[String]] =
    rel.relation match {
      case h: HadoopFsRelation => Some(h.location.inputFiles.map(norm).toSet)
      case _ => None
    }

  /** The rewrite for one sound candidate, or None if every gate fails.
    * All registered views covering the scanned base are tried in stable
    * name order — the first whose gates all pass wins. */
  private def rewrite(agg: Aggregate): Option[LogicalPlan] =
    stripBase(agg.child).flatMap { case (files, conds0, antiKey) =>
      val conds = conds0.flatMap(splitConjunctivePredicates)
      defs.values.asScala.toSeq.sortBy(_.name)
        .filter(d => files.nonEmpty &&
          files.forall(_.startsWith(d.baseDir + "/")))
        .flatMap(d => rewriteWith(agg, conds, files, antiKey, d))
        .headOption
    }

  private def rewriteWith(agg: Aggregate, conds: Seq[Expression],
      files: Set[String], antiKey: Option[String], d: MvDef): Option[LogicalPlan] = {
    // freshness: exactly the pinned snapshot (data AND vector files), the
    // base unmoved, and — when the plan crossed an anti-join — it is the
    // table's OWN standing-vector subtraction, not a user anti-join
    if (files == d.pinnedFiles &&
        graft.ops.Acid.currentVersion(d.baseDir).contains(d.pinnedVersion) &&
        antiKey.forall(k => d.delKey.contains(k)))
      buildRollup(agg, conds, d.mvRelation, d.keyCols, d.countCol, d.sums,
        d.mins, d.maxs)
    else None
  }

  /** Walk down to an inner JOIN through attribute Projects and Filters. */
  @tailrec private def stripToJoin(p: LogicalPlan, conds: Seq[Expression])
      : Option[(Join, Seq[Expression])] = p match {
    case Project(pl, c) if pl.forall(_.isInstanceOf[AttributeReference]) =>
      stripToJoin(c, conds)
    case Filter(cond, c) => stripToJoin(c, conds :+ cond)
    case j: Join => Some((j, conds))
    case _ => None
  }

  /** Match Aggregate → (projects/filters) → Inner Join(fact, dim) against
    * a registered join view; both sides may carry their own attribute
    * Projects and key-column Filters. Tries both side assignments — the
    * optimizer may have reordered the join. */
  private def rewriteJoin(agg: Aggregate): Option[LogicalPlan] =
    stripToJoin(agg.child, Nil).flatMap { case (j, topConds) =>
      if (j.joinType != Inner) None
      else (for {
        (leftFiles, leftConds, leftAnti) <- stripBase(j.left).toSeq
        (rightFiles, rightConds, rightAnti) <- stripBase(j.right).toSeq
        leftOut = j.left.outputSet
        // a single equi-condition between bare attributes, one per side
        EqualTo(x: AttributeReference, y: AttributeReference) <- j.condition.toSeq
        d <- joinDefs.values.asScala.toSeq.sortBy(_.name)
        (factFiles, dimFiles, factOut, factAnti, dimAnti, fkAttr, pkAttr) <- Seq(
          (leftFiles, rightFiles, leftOut, leftAnti, rightAnti, x, y),
          (rightFiles, leftFiles, j.right.outputSet, rightAnti, leftAnti, x, y))
          .flatMap { case (ff, df, fo, fa, da, a, b) =>
            // the fk must come from the fact side, the pk from the dim
            if (fo.contains(a)) Seq((ff, df, fo, fa, da, a, b))
            else if (fo.contains(b)) Seq((ff, df, fo, fa, da, b, a))
            else Seq.empty
          }
        if factFiles.nonEmpty &&
          factFiles.forall(_.startsWith(d.factDir + "/")) &&
          factFiles == d.pinnedFactFiles &&
          dimFiles == d.pinnedDimFiles &&
          graft.ops.Acid.currentVersion(d.factDir).contains(d.pinnedVersion) &&
          // a crossed anti-join must be the FACT's own standing-vector
          // subtraction; the dim read must be a plain scan
          factAnti.forall(k => d.factDelKey.contains(k)) &&
          dimAnti.isEmpty &&
          fkAttr.name == d.factFk && pkAttr.name == d.dimPk &&
          factOut.contains(fkAttr) && !factOut.contains(pkAttr)
        // IsNotNull(join key) conjuncts are inferred from the inner join's
        // own constraint (InferFiltersFromConstraints) — the MV, built
        // from the same inner join, already excludes those rows, so they
        // are subsumed, not conditions to re-apply
        conds = (topConds ++ leftConds ++ rightConds)
          .flatMap(splitConjunctivePredicates)
          .filterNot {
            case IsNotNull(a: AttributeReference) =>
              a.name == d.factFk || a.name == d.dimPk
            case _ => false
          }
        plan <- buildRollup(agg, conds, d.mvRelation, d.keyCols,
          d.countCol, d.sums, Map.empty, Map.empty).toSeq
      } yield plan).headOption
    }

  /** The shared roll-up construction over a registered MV relation: gate
    * the filters / groupings / outputs, then emit
    * Aggregate(keys, compensated outputs, Project(Filter*(mv scan))). */
  private def buildRollup(agg: Aggregate, conds: Seq[Expression],
      mvRelation: LogicalRelation, keyCols: Seq[String], countCol: String,
      sums: Map[String, String], mins: Map[String, String],
      maxs: Map[String, String]): Option[LogicalPlan] = {
    for {
      // filters select whole groups, deterministically, with no subqueries
      _ <- Some(())
      if conds.forall(c => c.deterministic &&
        c.find(_.isInstanceOf[SubqueryExpression]).isEmpty &&
        c.references.forall(a => keyCols.contains(a.name)))
      groupAttrs <- Some(agg.groupingExpressions).filter(_.forall {
        case a: AttributeReference => keyCols.contains(a.name)
        case _ => false
      }).map(_.map(_.asInstanceOf[AttributeReference]))
      out <- rewriteOutputs(agg.aggregateExpressions, groupAttrs, countCol,
        sums, mins, maxs)
    } yield {
      val rel = mvRelation.newInstance()
      val byName = rel.output.map(a => a.name -> a).toMap
      val filtered = conds.foldLeft(rel: LogicalPlan) { (p, c) =>
        Filter(c.transform {
          case a: AttributeReference => byName(a.name)
        }, p)
      }
      // prune the MV scan to what the roll-up reads (FileSourceStrategy
      // collapses this into the parquet ReadSchema)
      val needed = (groupAttrs.map(_.name) ++ out.flatMap(_._2)).distinct
      val pruned = Project(needed.map(byName), filtered)
      Aggregate(
        groupAttrs.map(a => byName(a.name)),
        out.map(_._1(byName)),
        pruned)
    }
  }

  /** Map each original output to (builder over MV attrs, MV cols it reads),
    * or None if any output is outside the rewritable surface. Builders
    * re-alias under the ORIGINAL name and exprId so parents are unmoved. */
  private def rewriteOutputs(
      exprs: Seq[NamedExpression],
      groupAttrs: Seq[AttributeReference],
      countCol: String,
      sums: Map[String, String],
      mins: Map[String, String],
      maxs: Map[String, String]): Option[Seq[(Map[String, AttributeReference] => NamedExpression, Seq[String])]] = {
    val builders = exprs.map {
      // a grouped key passed through (bare or aliased)
      case a: AttributeReference if groupAttrs.exists(_.exprId == a.exprId) =>
        Some(((m: Map[String, AttributeReference]) =>
          Alias(m(a.name), a.name)(exprId = a.exprId), Seq(a.name)))
      case al @ Alias(a: AttributeReference, _)
          if groupAttrs.exists(_.exprId == a.exprId) =>
        Some(((m: Map[String, AttributeReference]) =>
          Alias(m(a.name), al.name)(exprId = al.exprId), Seq(a.name)))
      case al @ Alias(ae: AggregateExpression, _)
          if ae.mode == Complete && !ae.isDistinct && ae.filter.isEmpty =>
        ae.aggregateFunction match {
          // count(<non-null literal>) → coalesce(sum(n), 0): non-nullable
          // long, exactly count's type; empty input yields 0 as count does
          case Count(Seq(l: Literal)) if l.value != null =>
            Some(((m: Map[String, AttributeReference]) =>
              Alias(Coalesce(Seq(
                AggregateExpression(Sum(m(countCol)), Complete, isDistinct = false),
                Literal(0L))), al.name)(exprId = al.exprId), Seq(countCol)))
          // sum(<registered long col>) → sum(<its MV partial>)
          case s: Sum => s.child match {
            case a: AttributeReference if sums.contains(a.name) =>
              val mvCol = sums(a.name)
              Some(((m: Map[String, AttributeReference]) =>
                Alias(AggregateExpression(Sum(m(mvCol)), Complete,
                  isDistinct = false), al.name)(exprId = al.exprId), Seq(mvCol)))
            case _ => None
          }
          // min/max roll up as themselves (min of per-group minima, same
          // type as the base column by registration contract)
          case mn: Min => mn.child match {
            case a: AttributeReference if mins.contains(a.name) =>
              val mvCol = mins(a.name)
              Some(((m: Map[String, AttributeReference]) =>
                Alias(AggregateExpression(Min(m(mvCol)), Complete,
                  isDistinct = false), al.name)(exprId = al.exprId), Seq(mvCol)))
            case _ => None
          }
          case mx: Max => mx.child match {
            case a: AttributeReference if maxs.contains(a.name) =>
              val mvCol = maxs(a.name)
              Some(((m: Map[String, AttributeReference]) =>
                Alias(AggregateExpression(Max(m(mvCol)), Complete,
                  isDistinct = false), al.name)(exprId = al.exprId), Seq(mvCol)))
            case _ => None
          }
          case _ => None
        }
      case _ => None
    }
    if (builders.forall(_.isDefined)) Some(builders.map(_.get)) else None
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (defs.isEmpty && joinDefs.isEmpty) plan
    else plan.transform {
      // an MV route is an optimization, never a dependency: any failure
      // inside the matcher declines the rewrite rather than failing the
      // query (the blast radius of a rule armed session-wide must be zero)
      case agg: Aggregate =>
        try rewrite(agg).orElse(rewriteJoin(agg)).getOrElse(agg)
        catch {
          case scala.util.control.NonFatal(e) =>
            logWarning(s"MvRewrite declined on error: $e"); agg
        }
    }
}
