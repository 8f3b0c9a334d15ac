package graft

import graft.ops.Joins
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType, TimestampType}
import org.apache.spark.sql.Row
import org.scalacheck.Gen

/** Adversarial per-operator unit fixtures (SURVEY §5.2): empty inputs,
  * NULL keys, ties, no-match rows.
  */
class OperatorSpec extends SparkFixture {
  import spark.implicits._

  private def ts(us: Long) = new java.sql.Timestamp(us / 1000)

  // ---- join semantics ----

  test("equi join: NULL keys never match (SQL three-valued logic)") {
    val a = Seq((Some(1L), "a"), (None, "null-key")).toDF("k", "va")
    val b = Seq((Some(1L), "b"), (None, "null-key")).toDF("k", "vb")
    val j = a.join(b, a("k") === b("k"))
    assert(j.count() == 1)
  }

  test("anti join keeps rows whose key has no match — NOT EXISTS, not NOT IN") {
    val c = Seq(Some(1L), Some(2L), None).toDF("k")
    val o = Seq(Some(1L), None).toDF("k")
    val anti = c.join(o, c("k") === o("k"), "left_anti")
    // NOT IN with a NULL on the right would return 0 rows; NOT EXISTS keeps 2 & NULL.
    assert(anti.collect().map(r => Option(r.get(0))).toSet == Set(Some(2L), None))
  }

  test("subquery_in_notin: the fixture's NULL-bearing list zeroes NOT IN but not NOT EXISTS") {
    // The key's whole point is three-valued logic; guard that the fixture
    // actually produces the NULL (a negative balance below custkey 500)
    // that separates the two formulations — otherwise the contract would
    // silently degrade into the NULL-free case where they agree.
    val nulls = Tables.customer(spark, sf001)
      .filter(col("c_custkey") < 500 && col("c_acctbal") < 0).count()
    assert(nulls > 0, "fixture must contain a negative balance below custkey 500")
    val row = SparkEntry.queries("subquery_in_notin")(spark, sf001).collect().head
    assert(row.getLong(row.fieldIndex("cnt_not_in")) == 0L,
      "NOT IN over a NULL-containing list must return zero rows")
    assert(row.getLong(row.fieldIndex("cnt_not_exists")) > 0L,
      "NOT EXISTS must keep the non-matching rows NOT IN drops")
    assert(row.getLong(row.fieldIndex("cnt_in")) > 0L)
  }

  test("agg_funnel: a click BEFORE the first view must not advance the funnel") {
    // The ordered-sequence trap a per-type count can't see: user 1 clicks
    // before ever viewing (stage stays 1), user 2 does view→click→purchase
    // in order (stage 3), user 3 views then purchases without a click
    // (stage stays 1 — strict ordering, no stage skipping).
    val ev = Seq(
      (1L, ts(2000000L), "click"), (1L, ts(3000000L), "view"),
      (2L, ts(1000000L), "view"), (2L, ts(2000000L), "click"), (2L, ts(3000000L), "purchase"),
      (3L, ts(1000000L), "view"), (3L, ts(2000000L), "purchase"),
    ).toDF("user_id", "ts", "event_type")
    ev.createOrReplaceTempView("events")
    val got = spark.sql(ops.Aggregates.FunnelSql)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == Map(1L -> 1, 2L -> 3, 3L -> 1), got.toString)
  }

  test("agg_retention: offset-0 covers every user exactly once across cohorts") {
    val out = SparkEntry.queries("agg_retention")(spark, sf001).collect()
    val day0 = out.filter(_.getInt(1) == 0).map(_.getLong(2)).sum
    val users = Tables.events(spark, sf001)
      .select(col("user_id")).distinct().count()
    // every user's first active day puts them in exactly one cohort at
    // offset 0, so the offset-0 column must sum to the distinct-user count
    assert(day0 == users, s"offset-0 total $day0 != $users distinct users")
    assert(out.forall(_.getInt(1) >= 0), "offsets are days since first activity")
  }

  test("agg_funnel equals a driver-side recount on random event sets (property)") {
    val genEvents = for {
      n <- Gen.chooseNum(1, 40)
      evs <- Gen.listOfN(n, for {
        u <- Gen.chooseNum(1L, 5L)
        t <- Gen.chooseNum(1L, 12L)
        ty <- Gen.oneOf("view", "click", "purchase", "error")
      } yield (u, t, ty))
    } yield evs
    checkAll(genEvents, n = 25) { evs =>
      evs.zipWithIndex.map { case ((u, t, ty), i) => (u, ts(t * 1000000L), ty) }
        .toDF("user_id", "ts", "event_type").createOrReplaceTempView("events")
      val got = spark.sql(ops.Aggregates.FunnelSql)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      // independent recount in plain Scala — min-time chaining, strict >
      val expected = evs.groupBy(_._1).flatMap { case (u, es) =>
        val t1 = es.filter(_._3 == "view").map(_._2).minOption
        t1.map { v =>
          val t2 = es.filter(e => e._3 == "click" && e._2 > v).map(_._2).minOption
          val t3 = t2.flatMap(c =>
            es.filter(e => e._3 == "purchase" && e._2 > c).map(_._2).minOption)
          u -> (1 + t2.size + t3.size)
        }
      }
      assert(got == expected, s"events: $evs")
    }
  }

  test("llm_train_test_split: deterministic, disjoint, and ~90/5/5") {
    val out = SparkEntry.queries("llm_train_test_split")(spark, sf001).collect()
    val bySplit = out.groupBy(_.getString(1)).view
      .mapValues(_.map(_.getLong(2)).sum).toMap
    val total = bySplit.values.sum
    assert(bySplit.keySet == Set("train", "val", "test"))
    val trainFrac = bySplit("train").toDouble / total
    assert(trainFrac > 0.85 && trainFrac < 0.95, s"train fraction $trainFrac")
    // rerun identity: the assignment is a pure function of doc_id
    val again = SparkEntry.queries("llm_train_test_split")(spark, sf001).collect()
    assert(out.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
  }

  test("full outer join null-extends both sides") {
    val l = Seq((1L, "l1"), (2L, "l2")).toDF("k", "lv")
    val r = Seq((2L, "r2"), (3L, "r3")).toDF("k", "rv")
    val f = l.join(r, l("k") === r("k"), "full")
      .select(coalesce(l("k"), r("k")).as("k"), col("lv"), col("rv"))
    val rows = f.collect().map(x => (x.getLong(0), Option(x.get(1)), Option(x.get(2)))).toSet
    assert(rows == Set((1L, Some("l1"), None), (2L, Some("l2"), Some("r2")),
      (3L, None, Some("r3"))))
  }

  // ---- as-of composition (SURVEY §7.5 hard-part fixture) ----

  test("asof: <= semantics, ties, and no-match rows match DuckDB ASOF LEFT JOIN") {
    val schemaL = StructType(Seq(StructField("k", LongType), StructField("t", TimestampType)))
    val lefts = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(1L, ts(10000000L)), Row(1L, ts(10000000L)), // duplicate order at t=10
        Row(1L, ts(20000000L)))),
      schemaL)
    val schemaR = StructType(Seq(StructField("k", LongType), StructField("t", TimestampType),
      StructField("event_id", LongType)))
    val rights = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(1L, ts(5000000L), 100L),   // before any order -> NULL
        Row(1L, ts(10000000L), 101L),  // exactly at order time -> t=10 (<=)
        Row(1L, ts(15000000L), 102L),  // between -> t=10
        Row(1L, ts(25000000L), 103L),  // after both -> t=20
        Row(2L, ts(50000000L), 200L))), // key with no orders -> NULL
      schemaR)
    val got = Joins.asofLatestAtOrBefore(lefts, rights)
      .select("event_id", "last_order_date") // the helper also carries t (r9 tolerance variant)
      .collect().map(r => r.getLong(0) -> Option(r.get(1)).map(_.toString)).toMap
    assert(got(100L).isEmpty)
    assert(got(101L).contains(ts(10000000L).toString))
    assert(got(102L).contains(ts(10000000L).toString))
    assert(got(103L).contains(ts(20000000L).toString))
    assert(got(200L).isEmpty)
  }

  // ---- aggregates ----

  test("aggregation over empty input produces zero groups") {
    val empty = Seq.empty[(String, Double)].toDF("g", "v")
    assert(empty.groupBy("g").agg(sum("v")).count() == 0)
  }

  test("NULL group keys form their own group") {
    val df = Seq((Some("a"), 1), (None, 2), (None, 3)).toDF("g", "v")
    val m = df.groupBy("g").agg(sum("v").as("s"))
      .collect().map(r => Option(r.get(0)) -> r.getLong(1)).toMap
    assert(m(Some("a")) == 1 && m(None) == 5)
  }

  test("cube produces 2^d grouping combinations; rollup produces d+1 levels") {
    val df = Seq(("a", "x", 1), ("a", "y", 1), ("b", "x", 1)).toDF("f", "g", "v")
    val cubeGids = df.cube("f", "g").agg(grouping_id().as("gid"))
      .select("gid").distinct().count()
    assert(cubeGids == 4) // (f,g), (f), (g), ()
    val rollupGids = df.rollup("f", "g").agg(grouping_id().as("gid"))
      .select("gid").distinct().count()
    assert(rollupGids == 3) // (f,g), (f), ()
  }

  test("sum over groups equals global sum (partial-aggregation invariant)") {
    checkAll(Gen.listOfN(60, Gen.zip(Gen.oneOf("a", "b", "c"), Gen.chooseNum(-1000L, 1000L))),
      n = 5) { xs =>
      val df = xs.toDF("g", "v")
      val grouped = df.groupBy("g").agg(sum("v").as("s")).agg(sum("s")).head.getLong(0)
      val global = df.agg(sum("v")).head.getLong(0)
      assert(grouped == global)
    }
  }

  test("approx_count_distinct(rsd=0.01) lands within 5% of exact on fixtures") {
    val e = Tables.events(spark, sf001)
    val exact = e.select(countDistinct(col("user_id"))).head.getLong(0)
    val approx = e.select(approx_count_distinct(col("user_id"), 0.01)).head.getLong(0)
    assert(math.abs(approx - exact).toDouble / exact <= 0.05, s"approx=$approx exact=$exact")
  }

  test("agg_approx_distinct: HLL merge is monotone and partition-order invariant (r19)") {
    // The two properties that make the sketch safe under Spark's partial
    // aggregation: (1) MERGE MONOTONICITY — the union estimate is >= each
    // slice's (register-wise max can only grow), so a combiner can never
    // shrink a count; (2) MERGE-ORDER INVARIANCE — the estimate is
    // identical under any partitioning (1, 7, 32 partitions), i.e. the
    // map-side partial + reduce merge is a commutative monoid. Without
    // (2) the key's output would be layout-dependent and unverifiable.
    val e = Tables.events(spark, sf001).select(col("user_id"))
    def est(df: org.apache.spark.sql.DataFrame): Long =
      df.select(approx_count_distinct(col("user_id"), 0.01)).head.getLong(0)
    val a = e.filter(col("user_id") % 2 === 0)
    val b = e.filter(col("user_id") % 2 =!= 0)
    val union = est(a.unionAll(b))
    assert(union >= est(a) && union >= est(b),
      s"HLL union shrank: $union vs ${est(a)}/${est(b)}")
    val parts = Seq(1, 7, 32).map(n => est(e.repartition(n)))
    assert(parts.distinct.size == 1,
      s"HLL estimate is partition-dependent: $parts")
    // and the registry key itself is repartition-stable end to end
    val k1 = SparkEntry.queries("agg_approx_distinct")(spark, sf001).collect().toSeq
    val k2 = SparkEntry.queries("agg_approx_distinct")(spark, sf001).collect().toSeq
    assert(k1 == k2, "agg_approx_distinct not deterministic across runs")
  }

  test("agg_sketch_merge: merged daily HLL sketches match exact and direct-sketch counts") {
    val merged = SparkEntry.queries("agg_sketch_merge")(spark, sf001)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val exact = Tables.events(spark, sf001)
      .groupBy(col("event_type")).agg(countDistinct(col("user_id")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val direct = Tables.events(spark, sf001)
      .groupBy(col("event_type"))
      .agg(expr("hll_sketch_estimate(hll_sketch_agg(user_id))").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (t, n) =>
      val (est, days) = merged(t)
      assert(days > 1, s"$t: merging must span multiple daily partials")
      assert(math.abs(est - n).toDouble / n <= 0.05, s"$t: merged=$est exact=$n")
      assert(est == direct(t),
        s"$t: union of same-lgK partials must equal the directly built sketch")
    }
  }

  // ---- windows ----

  test("agg_count_min: estimates never undercount, stay within the eps bound, and rerun identically") {
    val out = SparkEntry.queries("agg_count_min")(spark, sf001).collect()
    val clickers = Tables.events(spark, sf001)
      .filter(col("event_type") === "click")
      .select(col("user_id")).distinct().count()
    assert(out.length == math.min(20L, clickers), "top-20 heaviest clickers (or all)")
    val totalClicks = Tables.events(spark, sf001)
      .filter(col("event_type") === "click").count()
    out.foreach { r =>
      val (exact, est) = (r.getLong(1), r.getLong(2))
      assert(est >= exact, s"CMS must never undercount: user ${r.getLong(0)}")
      // eps = 1e-4 → overcount bounded by eps * total adds (w.h.p.)
      assert(est <= exact + math.max(1L, (1e-4 * totalClicks).toLong),
        s"overcount beyond the eps bound for user ${r.getLong(0)}")
    }
    // fixed seed ⇒ the sketch (and so every estimate) is rerun-identical
    val again = SparkEntry.queries("agg_count_min")(spark, sf001).collect()
    assert(out.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
  }

  test("running sum's last value per partition equals the partition total") {
    val df = Seq(("u1", 1.0), ("u1", 2.0), ("u1", 3.0), ("u2", 5.0)).toDF("u", "v")
      .withColumn("i", monotonically_increasing_id())
    val w = org.apache.spark.sql.expressions.Window.partitionBy("u").orderBy("i")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val last = df.withColumn("rs", sum("v").over(w))
      .groupBy("u").agg(max("rs").as("final"), sum("v").as("total"))
    last.collect().foreach(r => assert(r.getDouble(1) == r.getDouble(2)))
  }

  test("rank vs dense_rank vs row_number on ties") {
    val df = Seq(("a", 10), ("a", 10), ("a", 5)).toDF("g", "v")
    val w = org.apache.spark.sql.expressions.Window.partitionBy("g").orderBy(col("v").desc)
    val r = df.select(col("v"), rank().over(w).as("r"), dense_rank().over(w).as("d"),
      row_number().over(w).as("n")).orderBy("n").collect()
    assert(r.map(_.getInt(1)).toSeq == Seq(1, 1, 3))   // rank skips
    assert(r.map(_.getInt(2)).toSeq == Seq(1, 1, 2))   // dense_rank doesn't
    assert(r.map(_.getInt(3)).toSeq == Seq(1, 2, 3))   // row_number total
  }

  // ---- set ops ----

  test("intersect/except are DISTINCT set semantics; unionAll is bag") {
    val a = Seq(1, 1, 2, 3).toDF("v")
    val b = Seq(1, 1, 4).toDF("v")
    assert(a.intersect(b).count() == 1)          // {1}
    assert(a.except(b).collect().map(_.getInt(0)).toSet == Set(2, 3))
    assert(a.unionAll(b).count() == 7)
    assert(a.distinct().unionAll(a.distinct()).distinct().count() == 3) // A∪A≡A
  }

  test("except is idempotent: (A\\B)\\B == A\\B") {
    checkAll(Gen.zip(Gen.nonEmptyListOf(Gen.chooseNum(0, 20)),
      Gen.listOf(Gen.chooseNum(0, 20))), n = 5) { case (la, lb) =>
      val a = la.toDF("v"); val b = lb.toDF("v")
      val once = a.except(b)
      assert(once.except(b).collect().toSet == once.collect().toSet)
    }
  }

  // ---- SQL entry point ----

  test("spark.sql over registered views equals the DataFrame API on every ANSI-portable key") {
    // The oracle SQL doubles as the engine's own SQL surface wherever the
    // dialect is shared ANSI (34 of 60 declared oracles parse on Spark
    // unchanged); users of the reference run SQL, so both entry points
    // must converge on identical results, not merely identical plans.
    val portable = Seq(
      "agg_distinct", "agg_funnel", "agg_grouping_sets", "agg_hash_q1", "agg_highcard",
      "agg_multi_distinct", "agg_pivot", "agg_stats", "agg_weighted", "filter_pred",
      "window_zscore",
      // fn_string is excluded: it PARSES on Spark but '\w' regex literals
      // escape differently between the dialects (DuckDB keeps the
      // backslash, Spark's string parser eats it) — parseable ≠ portable
      "fn_case_null", "fn_math", "fn_struct",
      "join_anti", "join_broadcast", "join_cross", "join_full_outer",
      "join_inner_equi", "join_left_outer", "join_semi", "join_skew_salted",
      "join_theta", "llm_doc_sample", "project_expr", "scan_parquet",
      "scan_pruned", "setop_except", "setop_intersect", "setop_union_all",
      "sort_global", "sort_limit_topk", "subquery_in_notin",
      "udaf_aggregator", "udf_scalar", "window_rank", "window_topk_group")
    Tables.registerAll(spark, sf001)
    def norm(rows: Array[org.apache.spark.sql.Row]): Map[Seq[Any], Int] =
      rows.map(_.toSeq.map {
        case d: java.math.BigDecimal => d.doubleValue
        case d: BigDecimal => d.doubleValue
        case f: Float => f.toDouble
        case x => x
      }).groupBy(identity).view.mapValues(_.length).toMap
    portable.foreach { k =>
      val api = norm(SparkEntry.queries(k)(spark, sf001).collect())
      val sql = norm(spark.sql(SparkEntry.oracleSql(k)).collect())
      assert(api == sql, s"$k: SQL and DataFrame entry points diverge")
    }
  }

  test("sort_zorder: the mask-spread key is bit-exact Morton interleave, and clusters both dims") {
    // Reference interleave: bit i of x lands at position 2i, bit i of y at
    // position 2i+1 — the naive loop the magic-constant spread must equal.
    def morton(x: Long, y: Long): Long =
      (0 until 16).foldLeft(0L) { (acc, i) =>
        acc | (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))
      }
    val out = SparkEntry.queries("sort_zorder")(spark, sf001).collect()
    out.foreach { r =>
      val (cust, day, z) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(z == morton(cust & 0xFFFFL, day & 0xFFFFL),
        s"zkey mismatch for (custkey=$cust, day=$day)")
    }
    // Locality (the point of the layout): cut the z-ordered output into
    // 16 equal file-sized chunks; each chunk's (custkey, day) bounding
    // rectangle must cover a small fraction of the global area, so a
    // min-max predicate on EITHER dim prunes most chunks. A lexicographic
    // (custkey, day) sort would leave the day-extent of early chunks at
    // ~full range.
    val custs = out.map(_.getLong(1)); val days = out.map(_.getLong(2))
    val area = (custs.max - custs.min + 1).toDouble * (days.max - days.min + 1)
    val chunks = out.grouped(math.max(1, out.length / 16)).toSeq
    val avgFrac = chunks.map { c =>
      val cc = c.map(_.getLong(1)); val cd = c.map(_.getLong(2))
      (cc.max - cc.min + 1).toDouble * (cd.max - cd.min + 1) / area
    }.sum / chunks.length
    assert(avgFrac < 0.30, f"z-order chunks cover $avgFrac%.2f of the plane on average")
  }

  test("sort_hilbert: the walk is a bijection on the 256×256 grid and every step is a grid neighbor") {
    // Exhaustive over all 65 536 cells — the two properties the layout's
    // 100 TB claim rests on: (1) bijectivity (no two cells share a file
    // position), (2) unit Manhattan steps (consecutive positions are
    // ALWAYS neighbors, so every contiguous file range has a connected —
    // hence tight — bounding box; Z-order violates this at every
    // power-of-two seam).
    import org.apache.spark.sql.functions._
    val grid = spark.range(256L * 256L)
      .select((col("id") / 256).cast("long").as("hx"),
        pmod(col("id"), lit(256L)).as("hy"))
      .withColumn("x0", col("hx")).withColumn("y0", col("hy"))
    val walked = graft.ops.SortsSetops.hilbertWalk(grid)
      .select("x0", "y0", "hd").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._3)
    assert(walked.length == 65536)
    assert(walked.map(_._3).toSeq == (0L until 65536L),
      "hd is not a bijection onto 0..65535")
    walked.sliding(2).foreach { case Array((x1, y1, d1), (x2, y2, _)) =>
      val step = math.abs(x2 - x1) + math.abs(y2 - y1)
      assert(step == 1, s"non-neighbor step after d=$d1: ($x1,$y1)→($x2,$y2)")
    }
  }

  test("stats_auc equals a driver-side brute-force pair count") {
    // The oracle proves cross-engine agreement; this proves the formula
    // IS ROC AUC: over every (positive, negative) pair within a priority,
    // AUC = (#score_pos > score_neg + ½·#ties) / (n1·n0), on the same
    // 2dp-rounded score the query groups by. O(n²) is fine at sf0.001.
    val rows = Tables.orders(spark, sf001)
      .select("o_orderpriority", "o_orderstatus", "o_totalprice").collect()
    val expected = rows.groupBy(_.getString(0)).map { case (prio, rs) =>
      def score(r: org.apache.spark.sql.Row): BigDecimal =
        BigDecimal(r.getDouble(2)).setScale(2, BigDecimal.RoundingMode.HALF_UP)
      val (pos, neg) = rs.partition(_.getString(1) == "F")
      val wins = (for { p <- pos; n <- neg } yield {
        val (sp, sn) = (score(p), score(n))
        if (sp > sn) 2L else if (sp == sn) 1L else 0L
      }).sum
      prio -> (pos.length.toLong, neg.length.toLong,
        wins.toDouble / (2.0 * pos.length * neg.length))
    }
    val out = SparkEntry.queries("stats_auc")(spark, sf001).collect()
    assert(out.length == expected.size)
    out.foreach { r =>
      val (n1, n0, auc) = expected(r.getString(0))
      assert(r.getLong(1) == n1 && r.getLong(2) == n0)
      assert(math.abs(r.getDouble(3) - auc) < 1e-6,
        s"${r.getString(0)}: auc ${r.getDouble(3)} vs brute-force $auc")
    }
  }

  test("agg_weighted: weighted means equal a driver-side exact recount") {
    val li = Tables.lineitem(spark, sf001)
      .select("l_returnflag", "l_quantity", "l_extendedprice", "l_discount").collect()
    val expected = li.groupBy(_.getString(0)).map { case (flag, rows) =>
      def cents(x: Double): Long = math.round(x * 100)
      val wq = rows.map(r => cents(r.getDouble(1))).sum
      val wp = rows.map(r => cents(r.getDouble(1)) * cents(r.getDouble(2))).sum
      val wd = rows.map(r => cents(r.getDouble(1)) * cents(r.getDouble(3))).sum
      // mirror the emit policy: numerators rounded HALF_UP to their scale
      val wpEmit = BigDecimal(wp) / 10000
      val wavgP = (wpEmit.setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble
        / (BigDecimal(wq) / 100).toDouble)
      val wavgD = ((BigDecimal(wd) / 10000).toDouble / (BigDecimal(wq) / 100).toDouble)
      flag -> (wq / 100.0, wavgP, wavgD, rows.length.toLong)
    }
    val out = SparkEntry.queries("agg_weighted")(spark, sf001).collect()
    assert(out.length == expected.size)
    out.foreach { r =>
      val (wq, wavgP, wavgD, n) = expected(r.getString(0))
      assert(r.getDouble(1) == wq, s"${r.getString(0)} w_total")
      assert(math.abs(r.getDouble(2) - wavgP) < 1e-9, s"${r.getString(0)} wavg_price")
      assert(math.abs(r.getDouble(3) - wavgD) < 1e-9, s"${r.getString(0)} wavg_disc")
      assert(r.getLong(4) == n)
    }
  }

  test("sink_compact collapses each fragmented date partition to one file, losslessly") {
    val total = SparkEntry.queries("sink_compact")(spark, sf001)
      .agg(sum(col("n"))).collect().head.getLong(0)
    assert(total == Tables.events(spark, sf001).count(),
      "compaction must be row-lossless")
    def filesPerDate(root: String): Map[String, Int] = {
      val dirs = new java.io.File(root).listFiles()
        .filter(d => d.isDirectory && d.getName.startsWith("d="))
      assert(dirs.nonEmpty, s"no partition dirs under $root")
      dirs.map(d => d.getName ->
        d.listFiles().count(_.getName.endsWith(".parquet"))).toMap
    }
    // v=0 is the fragmented commit, v=1 the compacted rewrite (Acid seam)
    val table = graft.Tmp.dir("sink_compact", sf001)
    val frag = filesPerDate(s"$table/v=0")
    val comp = filesPerDate(s"$table/v=1")
    assert(frag.keySet == comp.keySet, "compaction must keep every partition")
    assert(frag.values.forall(_ > 1),
      s"staging must be genuinely fragmented: $frag")
    assert(comp.values.forall(_ == 1),
      s"every compacted partition must be one file: $comp")
  }

  test("join_asof_tolerance equals a driver-side recount, and the tolerance genuinely binds") {
    import org.apache.spark.sql.functions.{col, expr}
    // compare in MICROS — fixture timestamps all carry sub-second parts,
    // so a seconds truncation would mask off-by-subsecond bugs
    val got = SparkEntry.queries("join_asof_tolerance")(spark, sf001)
      .select(col("event_id"), expr("unix_micros(view_ts_24h)").as("m"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap

    val views = Tables.events(spark, sf001)
      .filter(col("event_type") === "view")
      .select(col("user_id"), expr("unix_micros(ts)"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq.sorted).toMap
    val purchases = Tables.events(spark, sf001)
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), expr("unix_micros(ts)"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))

    val tol = 86400L * 1000000L
    var boundPlain = 0
    val expected = purchases.map { case (eid, u, ts) =>
      val best = views.getOrElse(u, Seq.empty[Long]).filter(_ <= ts).lastOption
      if (best.exists(b => ts - b > tol)) boundPlain += 1
      eid -> best.filter(b => ts - b <= tol)
    }.toMap
    assert(got == expected)
    // the tolerance must actually expire matches the plain as-of kept,
    // and keep some — otherwise the key collapses to join_asof or to NULLs
    assert(boundPlain > 0, "no match was older than the tolerance")
    assert(got.values.exists(_.isDefined), "every match expired")
  }

  test("agg_rank_corr equals a driver-side exact Spearman recount") {
    import org.apache.spark.sql.functions.col
    val got = SparkEntry.queries("agg_rank_corr")(spark, sf001)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))

    val evs = Tables.events(spark, sf001)
      .select(col("event_type"), col("event_id"), col("ts").cast("long"), col("value"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val expected = evs.groupBy(_._1).toSeq.map { case (ty, es) =>
      val rv = es.sortBy(e => (e._4, e._2)).zipWithIndex.map { case (e, i) => e._2 -> (i + 1L) }.toMap
      val rt = es.sortBy(e => (e._3, e._2)).zipWithIndex.map { case (e, i) => e._2 -> (i + 1L) }.toMap
      val n = es.length.toLong
      val sd2 = es.map(e => { val d = rv(e._2) - rt(e._2); d * d }).sum
      val rho = 1000000L -
        ((BigInt(6000000) * BigInt(sd2)) / (BigInt(n) * (BigInt(n) * BigInt(n) - 1))).toLong
      (ty, n, rho)
    }.sortBy(_._1)
    assert(got.toSeq == expected, s"spark=${got.toSeq} expected=$expected")
    // correlation must be informative: in [-1e6, 1e6], and not identical
    // across every type (a constant would suggest a degenerate ranking)
    assert(got.forall(r => r._3 >= -1000000L && r._3 <= 1000000L))
    assert(got.map(_._3).distinct.length > 1, s"all types share rho ${got.head._3}")
  }

  test("source_binary round-trips every staged payload byte-for-byte") {
    import org.apache.spark.sql.functions.col
    val got = SparkEntry.queries("source_binary")(spark, sf001)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))

    val docs = Tables.documents(spark, sf001).filter(col("doc_id") < 20)
      .select(col("doc_id"), col("text")).collect()
      .map(r => s"doc_${r.getLong(0)}.bin" -> r.getString(1)).toMap
    assert(got.map(_._1).toSet == docs.keySet)
    got.foreach { case (fname, n, head16) =>
      val text = docs(fname)
      assert(n == text.getBytes("UTF-8").length.toLong, s"$fname length")
      assert(head16 == text.take(16), s"$fname head")
      // byte-for-byte: re-read the staged file itself
      val staged = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(graft.ops.Scans.stageBinaryDocs(spark, sf001), fname)), "UTF-8")
      assert(staged == text, s"$fname staged payload drifted")
    }
  }

  test("window_interpolate equals a driver-side integer recount, and genuinely interpolates") {
    import org.apache.spark.sql.functions.col
    val got = SparkEntry.queries("window_interpolate")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (if (r.isNullAt(4)) None else Some(r.getLong(4)))).toMap

    val evs = Tables.events(spark, sf001)
      .select(col("user_id"), col("event_id"), col("ts").cast("long"), col("value"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        BigDecimal(r.getDouble(3)).setScale(6, BigDecimal.RoundingMode.HALF_UP)
          .*(BigDecimal(1000000)).toLongExact))
    val expected = evs.groupBy(_._1).flatMap { case (u, es) =>
      val sorted = es.sortBy(e => (e._3, e._2)).toIndexedSeq
      sorted.zipWithIndex.map { case ((_, id, ts, v6), i) =>
        val out: Option[Long] =
          if (id % 7 != 0) Some(v6)
          else {
            val prev = sorted.take(i).reverse.find(_._2 % 7 != 0)
            val next = sorted.drop(i + 1).find(_._2 % 7 != 0)
            (prev, next) match {
              case (Some((_, _, pt, pv)), Some((_, _, nt, nv))) =>
                if (nt == pt) Some(pv)
                else {
                  val num = (nv - pv) * (ts - pt)
                  val den = nt - pt
                  Some(pv + (num - (((num % den) + den) % den)) / den)
                }
              case _ => None
            }
          }
        (u, id) -> out
      }
    }
    assert(got == expected,
      s"mismatch sample: ${(got.toSet -- expected.toSet).take(3)} vs ${(expected.toSet -- got.toSet).take(3)}")
    // interpolation must bind: some masked row's reconstruction differs
    // from its prev neighbor's value (a carry-forward impostor would equal
    // prev everywhere), and some boundary row must stay NULL
    val interpolated = got.collect { case ((u, id), Some(v)) if id % 7 == 0 => (u, id, v) }
    assert(interpolated.nonEmpty, "no masked row was reconstructed")
    val strict = evs.groupBy(_._1).exists { case (_, es) =>
      val sorted = es.sortBy(e => (e._3, e._2)).toIndexedSeq
      sorted.zipWithIndex.exists { case ((u, id, _, _), i) =>
        id % 7 == 0 && {
          val prev = sorted.take(i).reverse.find(_._2 % 7 != 0)
          prev.exists(p => got((u, id)).exists(v => v != p._4))
        }
      }
    }
    assert(strict, "every reconstruction equals prev — carry-forward, not interpolation")
    assert(got.values.exists(_.isEmpty), "no boundary gap stayed NULL")
  }

  test("sink_snapshot_diff emits exactly the derivation rules' D/I/U sets") {
    import org.apache.spark.sql.functions.col
    val got = SparkEntry.queries("sink_snapshot_diff")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap

    val ids = Tables.events(spark, sf001).select(col("event_id"))
      .collect().map(_.getLong(0))
    val deletes = ids.filter(_ % 97 == 0).map(_ -> "D")
    val inserts = ids.filter(_ % 103 == 0).map(id => (id + 100000000L) -> "I")
    // updated = value bumped AND still present (a %97 delete wins over a
    // %101 bump — the row is gone, so it reports as D, not U)
    val updates = ids.filter(id => id % 101 == 0 && id % 97 != 0).map(_ -> "U")
    val expected = (deletes ++ inserts ++ updates).toMap
    assert(got == expected,
      s"diff mismatch: extra=${got.toSet -- expected.toSet} missing=${expected.toSet -- got.toSet}")
    // every op class must be represented, or the fixture stops exercising
    // the classification
    assert(Seq("D", "I", "U").forall(op => got.values.exists(_ == op)),
      s"ops present: ${got.values.toSet}")
  }

  test("stats_profile equals a driver-side exact recount per column") {
    import org.apache.spark.sql.functions.col
    val got = SparkEntry.queries("stats_profile")(spark, sf001).collect()
      .map(r => r.getString(0) -> r).toMap

    val evs = Tables.events(spark, sf001)
      .select(col("event_id"), col("user_id"), col("value"), col("event_type"))
      .collect()
    val n = evs.length.toLong
    val eid = evs.map(_.getLong(0)); val uid = evs.map(_.getLong(1))
    val vals = evs.map(_.getDouble(2)); val types = evs.map(_.getString(3))

    assert(got.keySet == Set("event_id", "event_type", "user_id", "value"))
    val rId = got("event_id")
    assert(rId.getLong(1) == 0 && rId.getLong(2) == eid.distinct.length.toLong)
    assert(rId.getDouble(3) == eid.min.toDouble && rId.getDouble(4) == eid.max.toDouble)
    val rU = got("user_id")
    assert(rU.getLong(2) == uid.distinct.length.toLong)
    assert(rU.getDouble(3) == uid.min.toDouble && rU.getDouble(4) == uid.max.toDouble)
    val rV = got("value")
    assert(rV.getLong(2) == vals.distinct.length.toLong)
    assert(rV.getDouble(3) == vals.min && rV.getDouble(4) == vals.max)
    val rT = got("event_type")
    assert(rT.getLong(2) == types.distinct.length.toLong)
    assert(rT.isNullAt(3) && rT.isNullAt(4))
    assert(rT.getString(5) == types.min && rT.getString(6) == types.max)
    assert(n > 0)
  }

  test("stats_ks_test equals a driver-side exact binned-ECDF recount") {
    val r = SparkEntry.queries("stats_ks_test")(spark, sf001).collect().head
    val (ksNum, n1, n2, ks) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))

    val os = Tables.orders(spark, sf001)
      .select(col("o_totalprice"), col("o_orderpriority")).collect()
      .filter(x => Set("1-URGENT", "5-LOW")(x.getString(1)))
    val bins = os.map(x => (math.floor(x.getDouble(0) / 1000).toLong, x.getString(1)))
    val byBin = bins.groupBy(_._1).toSeq.sortBy(_._1)
    var (c1, c2, best) = (BigInt(0), BigInt(0), BigInt(0))
    val t1 = BigInt(bins.count(_._2 == "1-URGENT"))
    val t2 = BigInt(bins.count(_._2 == "5-LOW"))
    byBin.foreach { case (_, rows) =>
      c1 += rows.count(_._2 == "1-URGENT"); c2 += rows.count(_._2 == "5-LOW")
      best = best.max((c1 * t2 - c2 * t1).abs)
    }
    assert(BigInt(ksNum) == best && BigInt(n1) == t1 && BigInt(n2) == t2)
    assert(ks >= 0.0 && ks <= 1.0)
    assert(ks == ksNum.toDouble / (n1 * n2).toDouble)
  }

  test("stats_chi_square marginals are self-consistent and contributions non-negative") {
    val rows = SparkEntry.queries("stats_chi_square")(spark, sf001).collect()
    val n = rows.map(_.getLong(2)).sum
    // every cell's row/col marginal equals the sum of observed cells
    rows.groupBy(_.getString(0)).foreach { case (_, cells) =>
      assert(cells.map(_.getLong(2)).sum == cells.head.getLong(3)) // rt
    }
    rows.groupBy(_.getString(1)).foreach { case (_, cells) =>
      assert(cells.map(_.getLong(2)).sum == cells.head.getLong(4)) // ct
    }
    rows.foreach { r =>
      assert(r.getDouble(6) >= 0.0) // (o-e)^2/e
      // expected = rt*ct/n to within the 6dp coarsening
      assert(math.abs(r.getDouble(5) -
        r.getLong(3).toDouble * r.getLong(4).toDouble / n.toDouble) < 1e-5)
    }
    assert(n == Tables.orders(spark, sf001).count())
  }

  test("agg_entropy is bounded by ln(n_types) and counts recount exactly") {
    val rows = SparkEntry.queries("agg_entropy")(spark, sf001).collect()
    val evs = Tables.events(spark, sf001)
      .select(col("user_id"), col("event_type")).collect()
      .map(x => (x.getLong(0) / 10, x.getString(1)))
    rows.foreach { r =>
      val (cohort, nTypes, nEvents, h) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
      val mine = evs.filter(_._1 == cohort)
      assert(mine.map(_._2).distinct.length.toLong == nTypes)
      assert(mine.length.toLong == nEvents)
      // 0 <= H <= ln(k), with slack for the 6dp per-term coarsening
      assert(h >= -1e-4 && h <= math.log(nTypes.toDouble) + 1e-4)
    }
    assert(rows.nonEmpty)
  }

  test("stats_psi is non-negative and covers the populated bins") {
    val r = SparkEntry.queries("stats_psi")(spark, sf001).collect().head
    val (nBins, psi) = (r.getLong(0), r.getDouble(1))
    // each (p-q)ln(p/q) term is >= 0 before coarsening; 6dp rounding can
    // shave at most 5e-7 per bin
    assert(psi >= -1e-5 * nBins)
    assert(nBins >= 1 && nBins <= 20)
  }

  test("window_drawdown equals a driver-side integer recount") {
    val got = SparkEntry.queries("window_drawdown")(spark, sf001).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap

    val evs = Tables.events(spark, sf001)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")), col("value"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    def v6(d: Double): Long =
      BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .*(BigDecimal(1000000)).toLongExact
    evs.groupBy(_._1).foreach { case (uid, rows) =>
      val ordered = rows.sortBy(r => (r._3, r._2)).map(r => v6(r._4))
      var (peak, dd) = (Long.MinValue, Long.MinValue)
      ordered.foreach { v => peak = peak.max(v); dd = dd.max(peak - v) }
      val (n, maxDd, peakU6) = got(uid)
      assert(n == rows.length.toLong && maxDd == dd && peakU6 == ordered.max,
        s"user $uid mismatch")
    }
    assert(got.keySet == evs.map(_._1).toSet)
  }

  test("source_jdbc scans 4 stride partitions and round-trips the staged subset") {
    val url = graft.ops.Scans.stageJdbcOrders(spark, sf001)
    val scan = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "orders_jdbc")
      .option("driver", "org.apache.derby.jdbc.EmbeddedDriver")
      .option("partitionColumn", "o_orderkey")
      .option("lowerBound", "0").option("upperBound", "6000000")
      .option("numPartitions", "4")
      .load()
    // the partitioned read is genuinely parallel: one scan task per stride
    assert(scan.rdd.getNumPartitions == 4)
    val expected = Tables.orders(spark, sf001)
      .filter(expr("o_orderkey % 20 = 0"))
      .select(col("o_orderkey"), col("o_totalprice")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val got = scan.select(col("o_orderkey"), col("o_totalprice")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == expected && got.nonEmpty)
  }

  test("stats_corr_matrix equals a driver-side exact-moment recount") {
    val rows = SparkEntry.queries("stats_corr_matrix")(spark, sf001).collect()
    assert(rows.map(_.getString(0)).toSeq ==
      Seq("disc_tax", "qty_disc", "qty_tax"))
    val base = Tables.lineitem(spark, sf001)
      .select(col("l_quantity"), col("l_discount"), col("l_tax")).collect()
      .map(r => (BigDecimal(r.getDouble(0)).setScale(2),
        BigDecimal(r.getDouble(1)).setScale(2),
        BigDecimal(r.getDouble(2)).setScale(2)))
    def ref(xy: Array[(BigDecimal, BigDecimal)]): Double = {
      val n = xy.length.toDouble
      val sx = xy.map(_._1).sum.toDouble; val sy = xy.map(_._2).sum.toDouble
      val sxy = xy.map(p => p._1 * p._2).sum.toDouble
      val sxx = xy.map(p => p._1 * p._1).sum.toDouble
      val syy = xy.map(p => p._2 * p._2).sum.toDouble
      (n * sxy - sx * sy) / math.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
    }
    val exp = Map(
      "disc_tax" -> ref(base.map(t => (t._2, t._3))),
      "qty_disc" -> ref(base.map(t => (t._1, t._2))),
      "qty_tax" -> ref(base.map(t => (t._1, t._3))))
    rows.foreach { r =>
      val got = r.getDouble(2)
      assert(math.abs(got) <= 1.0)
      assert(math.abs(got - exp(r.getString(0))) < 1e-6,
        s"${r.getString(0)}: $got vs ${exp(r.getString(0))}")
      assert(r.getLong(1) == base.length)
    }
  }

  test("sink_scd2 incremental merge tiles each user's timeline and matches the change log") {
    val out = SparkEntry.queries("sink_scd2")(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)), r.getBoolean(4)))
    // driver-side full recompute from the raw change log
    val evs = Tables.events(spark, sf001)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"), col("event_type")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val expected = evs.groupBy(_._1).flatMap { case (u, es) =>
      val ordered = es.sortBy(e => (e._2, e._3))
      val ch = ordered.foldLeft(Vector.empty[(Long, String)]) { (acc, e) =>
        if (acc.isEmpty || acc.last._2 != e._4) acc :+ (e._2 -> e._4) else acc
      }
      ch.zipWithIndex.map { case ((from, seg), i) =>
        val to = if (i + 1 < ch.length) Some(ch(i + 1)._1) else None
        (u, seg, from, to, to.isEmpty)
      }
    }.toSet
    assert(out.toSet == expected && out.nonEmpty)
    // exactly one open (current) version per user
    val opens = out.filter(_._5).groupBy(_._1).map(_._2.length).toSet
    assert(opens == Set(1))
  }

  test("join_asof_forward matches each view to the user's earliest purchase at-or-after") {
    val got = SparkEntry.queries("join_asof_forward")(spark, sf001).collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(2)) None else Some(r.getTimestamp(2).getTime * 1000 +
          r.getTimestamp(2).getNanos / 1000 % 1000))).toMap
    val evs = Tables.events(spark, sf001)
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_type")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val purchasesByUser = evs.filter(_._4 == "purchase").groupBy(_._2)
    val views = evs.filter(_._4 == "view")
    assert(got.keySet == views.map(_._1).toSet)
    views.foreach { case (id, u, us, _) =>
      val expected = purchasesByUser.getOrElse(u, Array.empty)
        .map(_._3).filter(_ >= us).sorted.headOption
      assert(got(id) == expected, s"view $id")
    }
    // both branches bind: some views convert, some never do
    assert(got.values.exists(_.isDefined) && got.values.exists(_.isEmpty))
  }

  test("source_csv_dirty quarantines exactly the corrupted rows, losing none") {
    val rows = SparkEntry.queries("source_csv_dirty")(spark, sf001).collect()
    val byType = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
    val base = Tables.events(spark, sf001).filter(col("event_id") < 2000)
      .select(col("event_id"), col("event_type")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val (bad, good) = base.partition(_._1 % 50 == 0)
    assert(byType("_corrupt") == bad.length)
    good.groupBy(_._2).foreach { case (t, g) => assert(byType(t) == g.length) }
    // conservation: every staged line lands in exactly one branch
    assert(rows.map(_.getLong(1)).sum == base.length)
    // the quarantine branch carries no aggregate value
    assert(rows.find(_.getString(0) == "_corrupt").exists(_.isNullAt(2)))
  }

  test("window_rolling_corr matches a driver-side sliding-moment recount for one series") {
    val flag = "R"
    val got = SparkEntry.queries("window_rolling_corr")(spark, sf001)
      .filter(col("l_returnflag") === flag).collect()
      .map(r => if (r.isNullAt(3)) Double.NaN else r.getDouble(3))
    val series = Tables.lineitem(spark, sf001)
      .filter(col("l_returnflag") === flag)
      .select(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"),
        col("l_quantity"), col("l_discount")).collect()
      .map(r => (r.getTimestamp(0).getTime, r.getLong(1), r.getInt(2),
        BigDecimal(r.getDouble(3)).setScale(2), BigDecimal(r.getDouble(4)).setScale(2)))
      .sortBy(t => (t._1, t._2, t._3, t._4, t._5))
    val exp = series.indices.map { i =>
      val fr = series.slice(math.max(0, i - 20), i + 1)
      val n = fr.length.toDouble
      val sx = fr.map(_._4).sum.toDouble; val sy = fr.map(_._5).sum.toDouble
      val sxy = fr.map(t => t._4 * t._5).sum.toDouble
      val sxx = fr.map(t => t._4 * t._4).sum.toDouble
      val syy = fr.map(t => t._5 * t._5).sum.toDouble
      val vx = n * sxx - sx * sx; val vy = n * syy - sy * sy
      if (n > 1 && vx > 0 && vy > 0) (n * sxy - sx * sy) / math.sqrt(vx * vy)
      else Double.NaN
    }
    // tied output keys make row-for-row pairing ambiguous; compare the
    // sorted r multisets (NaN = null r sorts last)
    def key(d: Double) = if (d.isNaN) Double.MaxValue else d
    val g = got.sortBy(key); val e = exp.sortBy(key)
    assert(g.length == e.length && g.length > 1000)
    g.zip(e).foreach { case (a, b) =>
      assert((a.isNaN && b.isNaN) || math.abs(a - b) < 1e-5, s"$a vs $b")
    }
  }

  test("stats_decile_lift deciles partition each segment with ordered boundaries") {
    val rows = SparkEntry.queries("stats_decile_lift")(spark, sf001).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5)))
    val byType = rows.groupBy(_._1)
    val totals = Tables.events(spark, sf001).groupBy(col("event_type")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    byType.foreach { case (t, ds) =>
      assert(ds.map(_._2).sorted.toSeq == (1 to 10), s"$t deciles")
      assert(ds.map(_._3).sum == totals(t), s"$t population")
      // ntile sizes differ by at most 1
      assert(ds.map(_._3).max - ds.map(_._3).min <= 1, s"$t sizes")
      // value boundaries are monotone across deciles
      val sorted = ds.sortBy(_._2)
      sorted.sliding(2).foreach { case Array(a, b) =>
        assert(a._6 <= b._5 + 1e-9, s"$t boundary ${a._2}->${b._2}")
      }
    }
  }

  test("stats_ttest matches a driver-side exact-moment Welch recount") {
    val rows = SparkEntry.queries("stats_ttest")(spark, sf001).collect()
      .map(r => r.getString(0) -> r).toMap
    val base = Tables.events(spark, sf001)
      .select(col("event_type"), col("value")).collect()
      .map(r => (r.getString(0), BigDecimal(r.getDouble(1)).setScale(2, BigDecimal.RoundingMode.HALF_UP)))
    rows.keys.foreach { t =>
      val a = base.filter(_._1 == t).map(_._2)
      val b = base.filter(_._1 != t).map(_._2)
      def mv(xs: Array[BigDecimal]): (Double, Double, Double) = {
        val n = xs.length.toDouble
        val sx = xs.sum.toDouble; val sxx = xs.map(x => x * x).sum.toDouble
        (n, sx / n, (sxx - sx * sx / n) / (n - 1.0))
      }
      val (n1, m1, v1) = mv(a); val (n2, m2, v2) = mv(b)
      val se2 = v1 / n1 + v2 / n2
      val tExp = (m1 - m2) / math.sqrt(se2)
      val r = rows(t)
      assert(r.getLong(1) == a.length && r.getLong(2) == b.length, s"$t ns")
      assert(math.abs(r.getDouble(5) - tExp) < 1e-5, s"$t t-stat")
      assert(math.abs(r.getDouble(3) - m1) < 1e-5, s"$t mean")
      // Welch df lies strictly between min(n)-1 and n1+n2-2
      val df = r.getDouble(6)
      assert(df > math.min(n1, n2) - 1 - 1e-6 && df < n1 + n2 - 2 + 1e-6, s"$t df")
    }
  }

  test("stats_linreg matches a driver-side exact-moment OLS recount") {
    val rows = SparkEntry.queries("stats_linreg")(spark, sf001).collect()
    assert(rows.nonEmpty)
    val base = Tables.lineitem(spark, sf001)
      .select(col("l_returnflag"), col("l_quantity"), col("l_discount"))
      .collect()
      .map(r => (r.getString(0),
        BigDecimal(r.getDouble(1)).setScale(2, BigDecimal.RoundingMode.HALF_UP),
        BigDecimal(r.getDouble(2)).setScale(2, BigDecimal.RoundingMode.HALF_UP)))
    rows.foreach { r =>
      val g = base.filter(_._1 == r.getString(0))
      val n = g.length.toDouble
      val sx = g.map(_._2).sum.toDouble; val sy = g.map(_._3).sum.toDouble
      val sxy = g.map(p => p._2 * p._3).sum.toDouble
      val sxx = g.map(p => p._2 * p._2).sum.toDouble
      val syy = g.map(p => p._3 * p._3).sum.toDouble
      val cov = n * sxy - sx * sy; val vx = n * sxx - sx * sx
      val vy = n * syy - sy * sy
      assert(r.getLong(1) == g.length)
      assert(math.abs(r.getDouble(2) - cov / vx) < 1e-5, "slope")
      assert(math.abs(r.getDouble(3) - (sy - cov / vx * sx) / n) < 1e-5, "intercept")
      assert(math.abs(r.getDouble(4) - cov * cov / (vx * vy)) < 1e-5, "r2")
      assert(r.getDouble(4) >= -1e-9 && r.getDouble(4) <= 1 + 1e-9, "r2 range")
    }
  }

  test("agg_percentile_exact quartiles match a driver-side sorted interpolation") {
    val rows = SparkEntry.queries("agg_percentile_exact")(spark, sf001).collect()
    assert(rows.nonEmpty)
    val base = Tables.lineitem(spark, sf001)
      .select(col("l_returnflag"), col("l_quantity")).collect()
      .map(r => (r.getString(0),
        BigDecimal(r.getDouble(1)).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble))
    rows.foreach { r =>
      val xs = base.filter(_._1 == r.getString(0)).map(_._2).sorted
      def q(p: Double): Double = {
        val pos = p * (xs.length - 1)
        val lo = pos.toInt; val frac = pos - lo
        if (lo + 1 < xs.length) xs(lo) + (xs(lo + 1) - xs(lo)) * frac else xs(lo)
      }
      assert(r.getLong(1) == xs.length)
      assert(math.abs(r.getDouble(2) - q(0.25)) < 1e-6, "p25")
      assert(math.abs(r.getDouble(3) - q(0.5)) < 1e-6, "p50")
      assert(math.abs(r.getDouble(4) - q(0.75)) < 1e-6, "p75")
      assert(math.abs(r.getDouble(5) - (r.getDouble(4) - r.getDouble(2))) < 1e-9, "iqr")
      assert(r.getDouble(2) <= r.getDouble(3) && r.getDouble(3) <= r.getDouble(4))
    }
  }

  test("subquery_scalar keeps exactly the orders above the global mean price") {
    val rows = SparkEntry.queries("subquery_scalar")(spark, sf001).collect()
    val base = Tables.orders(spark, sf001)
      .select(col("o_orderpriority"), col("o_totalprice")).collect()
      .map(r => (r.getString(0),
        BigDecimal(r.getDouble(1)).setScale(2, BigDecimal.RoundingMode.HALF_UP)))
    val mean = base.map(_._2).sum.toDouble / base.length
    val exp = base.filter(_._2.toDouble > mean).groupBy(_._1)
    assert(rows.map(_.getLong(1)).sum == exp.values.map(_.length.toLong).sum)
    rows.foreach { r =>
      val g = exp(r.getString(0))
      assert(r.getLong(1) == g.length, s"${r.getString(0)} count")
      assert(math.abs(r.getDouble(2) - g.map(_._2).sum.toDouble) < 1e-6, "sum")
    }
  }

  test("stats_anova matches a driver-side sum-of-squares recount") {
    val row = SparkEntry.queries("stats_anova")(spark, sf001).head()
    val base = Tables.events(spark, sf001)
      .select(col("event_type"), col("value")).collect()
      .map(r => (r.getString(0),
        BigDecimal(r.getDouble(1)).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble))
    val groups = base.groupBy(_._1).values.map(_.map(_._2))
    val n = base.length.toDouble; val k = groups.size.toDouble
    val grand = base.map(_._2).sum / n
    val ssb = groups.map(g => g.length * math.pow(g.sum / g.length - grand, 2)).sum
    val ssw = groups.map(g => { val m = g.sum / g.length; g.map(x => math.pow(x - m, 2)).sum }).sum
    val f = (ssb / (k - 1)) / (ssw / (n - k))
    assert(row.getLong(0) == k.toLong && row.getLong(1) == n.toLong)
    assert(math.abs(row.getDouble(2) - ssb) < 1e-2 * math.max(1.0, ssb), "ss_between")
    assert(math.abs(row.getDouble(3) - ssw) < 1e-4 * ssw, "ss_within")
    assert(math.abs(row.getDouble(4) - f) < 1e-3 * math.max(1.0, f), "f_stat")
  }

  test("stats_gini matches a driver-side sorted rank-formula recount and stays in [0,1)") {
    val rows = SparkEntry.queries("stats_gini")(spark, sf001).collect()
    val base = Tables.orders(spark, sf001)
      .select(col("o_orderpriority"), col("o_totalprice")).collect()
      .map(r => (r.getString(0),
        BigDecimal(r.getDouble(1)).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble))
      .groupBy(_._1)
    rows.foreach { r =>
      val xs = base(r.getString(0)).map(_._2).sorted
      val n = xs.length.toDouble
      val srx = xs.zipWithIndex.map { case (x, i) => (i + 1) * x }.sum
      val gini = 2.0 * srx / (n * xs.sum) - (n + 1.0) / n
      assert(r.getLong(1) == xs.length, "n")
      assert(math.abs(r.getDouble(3) - gini) < 1e-5, s"${r.getString(0)} gini")
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) < 1.0, "bounds")
    }
  }

  test("stats_outlier_mad flags exactly the rows beyond 4.4478 * MAD of the median") {
    val rows = SparkEntry.queries("stats_outlier_mad")(spark, sf001).collect()
    val base = Tables.events(spark, sf001)
      .select(col("event_type"), col("value")).collect()
      .map(r => (r.getString(0),
        BigDecimal(r.getDouble(1)).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble))
      .groupBy(_._1)
    def median(xs: Array[Double]): Double = {
      val s = xs.sorted; val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
    }
    rows.foreach { r =>
      val xs = base(r.getString(0)).map(_._2)
      val med = median(xs)
      val devs = xs.map(x => math.abs(x - med))
      val mad = median(devs)
      val nOut = devs.count(_ > 4.4478 * mad)
      assert(r.getLong(1) == xs.length, "n")
      assert(math.abs(r.getDouble(2) - med) < 1e-4, "median")
      assert(math.abs(r.getDouble(3) - mad) < 1e-4, "mad")
      assert(r.getLong(4) == nOut, s"${r.getString(0)} outlier count")
    }
  }

  test("join_asof_nearest picks the closer purchase, tie-broken to the earlier one") {
    val rows = SparkEntry.queries("join_asof_nearest")(spark, sf001).collect()
    val evs = Tables.events(spark, sf001)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us")).collect()
    val purchases = evs.filter(_.getString(2) == "purchase")
      .groupBy(_.getLong(1)).map { case (u, rs) => u -> rs.map(_.getLong(3)).sorted }
    val views = evs.filter(_.getString(2) == "view")
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).sortBy(_._1)
    assert(rows.length == views.length, "one output row per view")
    val byId = rows.map(r => r.getLong(0) -> r).toMap
    views.foreach { case (id, u, t) =>
      val ps = purchases.getOrElse(u, Array.empty[Long])
      val prev = ps.filter(_ <= t).lastOption
      val next = ps.find(_ > t)
      val expected = (prev, next) match {
        case (Some(p), Some(nx)) => Some(if (t - p <= nx - t) p else nx)
        case (p, nx) => p.orElse(nx)
      }
      val got = Option(byId(id).getAs[java.sql.Timestamp]("nearest_purchase_ts"))
        .map(ts => ts.getTime / 1000 * 1000000 + ts.getNanos / 1000)
      assert(got == expected, s"view $id user $u")
    }
  }

  test("window_ohlc bars recount from the raw per-user event sequence") {
    val rows = SparkEntry.queries("window_ohlc")(spark, sf001).collect()
    val base = Tables.events(spark, sf001)
      .select(col("user_id"), unix_micros(col("ts")).as("us"), col("event_id"),
        col("value")).collect()
      .map(r => (r.getLong(0), r.getLong(1) / 3600000000L, (r.getLong(1), r.getLong(2)),
        BigDecimal(r.getDouble(3)).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble))
      .groupBy(t => (t._1, t._2))
    assert(rows.length == base.size, "one bar per (user, hour)")
    rows.foreach { r =>
      val g = base((r.getLong(0), r.getLong(1) / 3600000000L)).sortBy(_._3)
      assert(r.getLong(2) == g.length, "n_events")
      assert(r.getDouble(3) == g.head._4, "open")
      assert(r.getDouble(4) == g.map(_._4).max, "high")
      assert(r.getDouble(5) == g.map(_._4).min, "low")
      assert(r.getDouble(6) == g.last._4, "close")
      assert(math.abs(r.getDouble(7) - g.map(_._4).sum) < 1e-6, "volume")
    }
  }

  test("llm_ngram_lm counts and smoothed probabilities recount from raw bigrams") {
    val rows = SparkEntry.queries("llm_ngram_lm")(spark, sf001).collect()
    assert(rows.length == 100)
    val docs = Tables.documents(spark, sf001).select(col("text")).collect()
      .map(_.getString(0).split(" ").filter(_.nonEmpty))
    val bigrams = docs.flatMap(t => t.dropRight(1).zip(t.drop(1)))
      .groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val unigrams = docs.flatten.groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val v = unigrams.size.toDouble
    // top-100 ordering is (cnt desc, w1, w2) — recount each reported row
    rows.foreach { r =>
      val key = (r.getString(0), r.getString(1))
      assert(bigrams(key) == r.getLong(2), s"$key cnt")
      assert(unigrams(key._1) == r.getLong(3), s"$key c1")
      val p = (r.getLong(2) + 0.5) / (r.getLong(3) + 0.5 * v)
      assert(math.abs(r.getDouble(4) - p) < 1e-5, s"$key p_smooth")
    }
    // and the reported minimum count must dominate every unreported bigram
    val minReported = rows.map(_.getLong(2)).min
    val reported = rows.map(r => (r.getString(0), r.getString(1))).toSet
    bigrams.foreach { case (k, c) =>
      if (!reported(k)) assert(c <= minReported, s"$k beats reported top-100")
    }
  }

  test("llm_stratified_sample keeps exactly min(20, n) docs per stratum, by the shared hash order") {
    val rows = SparkEntry.queries("llm_stratified_sample")(spark, sf001).collect()
    val strata = Tables.documents(spark, sf001)
      .select(col("doc_id"), col("lang"), col("source")).collect()
      .map(r => ((r.getString(1), r.getString(2)), r.getLong(0)))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val got = rows.map(r => ((r.getString(1), r.getString(2)), r.getLong(0)))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    assert(got.keySet == strata.keySet, "every stratum represented")
    strata.foreach { case (s, ids) =>
      assert(got(s).size == math.min(20, ids.length), s"$s count")
      // expected subset: first min(20, n) ids under (knuth-hash, id) order
      val expect = ids.sortBy(id => (math.floorMod(id * 2654435761L, 4294967296L), id))
        .take(20).toSet
      assert(got(s) == expect, s"$s subset")
    }
  }

  test("fn_format renders exactly like JVM format for every emitted row") {
    val rows = SparkEntry.queries("fn_format")(spark, sf001).collect()
    assert(rows.nonEmpty)
    val base = Tables.orders(spark, sf001)
      .filter(col("o_orderkey") < 2000)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"),
        col("o_orderpriority")).collect()
      .map(r => r.getLong(0) -> r).toMap
    rows.foreach { r =>
      val b = base(r.getLong(0))
      assert(r.getString(1) == f"ORD-${b.getLong(0)}%09d", "padded_id")
      assert(r.getString(2) == java.lang.Long.toHexString(b.getLong(0)), "hex_id")
      val money = BigDecimal(b.getDouble(1)).setScale(2, BigDecimal.RoundingMode.HALF_UP)
      assert(r.getString(3) == String.format("%.2f", Double.box(money.toDouble)), "price_2dp")
      assert(r.getString(4) == s"${b.getString(2)}/${b.getString(3)}", "tag")
    }
  }

  test("window_cusum recounts for one user and flags exactly the beyond-15-sigma prefix sums") {
    val rows = SparkEntry.queries("window_cusum")(spark, sf001).collect()
    val base = Tables.events(spark, sf001)
      .select(col("user_id"), unix_micros(col("ts")), col("event_id"), col("value"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        BigDecimal(r.getDouble(3)).setScale(2, BigDecimal.RoundingMode.HALF_UP)))
    val n = base.length
    val mu6 = (base.map(_._4).sum / n).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    val sx = base.map(_._4).sum.toDouble
    val sxx = base.map(x => x._4 * x._4).sum.toDouble
    val sigma = math.sqrt((sxx - sx * sx / n) / n)
    val u = base.head._1
    val seq = base.filter(_._1 == u).sortBy(t => (t._2, t._3))
    var acc = BigDecimal(0)
    val expect = seq.map { t => acc += t._4.setScale(6) - mu6; (t._3, acc.toDouble) }.toMap
    val got = rows.filter(_.getLong(0) == u)
    assert(got.length == seq.length)
    got.foreach { r =>
      val e = expect(r.getLong(1))
      assert(math.abs(r.getDouble(3) - e) < 1e-6, s"cusum of event ${r.getLong(1)}")
      assert(r.getBoolean(4) == (math.abs(e) > 15.0 * sigma), "drift flag")
    }
  }

  test("agg_apportion allocates exactly the budget, ±1 slot of the exact quota per cell") {
    val rows = SparkEntry.queries("agg_apportion")(spark, sf001).collect()
    val total = rows.map(_.getLong(2)).sum
    assert(rows.map(_.getLong(5)).sum == 100000L, "allocations must sum to the budget")
    rows.foreach { r =>
      val n = r.getLong(2)
      val base = 100000L * n / total
      assert(r.getLong(3) == base, "integer base quota")
      val alloc = r.getLong(5)
      assert(alloc == base || alloc == base + 1, "Hamilton: base or base+1")
      assert(r.getInt(4) == (alloc - base), "extra flag consistent")
      // quota property: |alloc - exact share| < 1
      val exact = 100000.0 * n / total
      assert(math.abs(alloc - exact) < 1.0, "within one slot of the exact share")
    }
    // largest-remainder: every cell that got an extra slot has remainder
    // >= every cell that did not (ties broken by key order)
    val byExtra = rows.groupBy(_.getInt(4))
    if (byExtra.contains(1) && byExtra.contains(0)) {
      val minRemGot = byExtra(1).map(r => 100000L * r.getLong(2) % total).min
      val maxRemNot = byExtra(0).map(r => 100000L * r.getLong(2) % total).max
      assert(minRemGot >= maxRemNot, "extras must go to the largest remainders")
    }
  }

  test("Acid: a reader concurrent with a rewriting committer sees exactly one committed version") {
    import graft.ops.Acid
    val table = java.nio.file.Files.createTempDirectory("graft_acid_iso").toString
    // each version is a FULL rewrite: 500 rows, every row tagged with the
    // version — so a read that mixes two versions, or sees a half-written
    // one, is detectable from the data alone
    def versionDf(ver: Int) =
      spark.range(0, 500).select(col("id"), lit(ver).as("ver"))
    Acid.commit(spark, table, versionDf(0))
    val violations = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    @volatile var stop = false
    val reader = new Thread(() => {
      while (!stop) {
        try {
          val rows = Acid.read(spark, table)
            .groupBy(col("ver")).agg(count(lit(1)).as("n")).collect()
          if (rows.length != 1)
            violations.add(s"mixed versions in one read: ${rows.mkString(",")}")
          else if (rows(0).getLong(1) != 500L)
            violations.add(s"torn version: ${rows(0)}")
        } catch {
          case e: Exception => violations.add(s"read failed: ${e.getMessage}")
        }
      }
    })
    reader.start()
    try (1 to 4).foreach(i => Acid.commit(spark, table, versionDf(i)))
    finally { stop = true; reader.join(60000) }
    assert(violations.isEmpty,
      s"reader isolation violated: ${violations.toArray.take(3).mkString("; ")}")
    assert(Acid.currentVersion(table).contains(4L))
    val finalVers = Acid.read(spark, table)
      .select(col("ver")).distinct().collect().map(_.getInt(0)).toSeq
    assert(finalVers == Seq(4), s"final read must be version 4: $finalVers")
  }

  test("Acid: time travel reads a historical version unchanged by later commits") {
    import graft.ops.Acid
    val table = java.nio.file.Files.createTempDirectory("graft_acid_tt").toString
    Acid.commit(spark, table, spark.range(0, 100).select(col("id"), lit("a").as("tag")))
    val v0 = Acid.read(spark, table).collect().sortBy(_.getLong(0)).toSeq
    // two later full rewrites, including a row-set change
    Acid.commit(spark, table, spark.range(0, 50).select(col("id"), lit("b").as("tag")))
    Acid.commit(spark, table, spark.range(200, 230).select(col("id"), lit("c").as("tag")))
    assert(Acid.currentVersion(table).contains(2L))
    // v0 AS OF read is byte-identical to what a v0-era reader saw
    val v0Again = Acid.readVersion(spark, table, 0).collect().sortBy(_.getLong(0)).toSeq
    assert(v0Again == v0, "historical version drifted after later commits")
    assert(Acid.readVersion(spark, table, 1).count() == 50)
    // asking for an uncommitted version fails loudly, never returns garbage
    intercept[IllegalArgumentException](Acid.readVersion(spark, table, 3))
  }

  test("Acid: appendTxn replays are no-ops and the snapshot is the exact union of txns") {
    import graft.ops.Acid
    val table = java.nio.file.Files.createTempDirectory("graft_acid_app").toString
    def batch(lo: Long, hi: Long) = spark.range(lo, hi).select(col("id"))
    val va = Acid.appendTxn(spark, table, batch(0, 100), txnId = 0L)
    val vb = Acid.appendTxn(spark, table, batch(100, 150), txnId = 1L)
    assert(va == 0L && vb == 1L)
    assert(Acid.read(spark, table).count() == 150)
    // replayed transaction (at-least-once redelivery): committed ledger
    // short-circuits — version pointer and row count both unchanged
    val vReplay = Acid.appendTxn(spark, table, batch(0, 100), txnId = 0L)
    assert(vReplay == 1L, s"replay must not advance the version: $vReplay")
    assert(Acid.currentVersion(table).contains(1L))
    assert(Acid.read(spark, table).count() == 150,
      "replayed txn must not duplicate rows")
    assert(Acid.committedTxns(table) == Set(0L, 1L))
    // a fresh txn after the replay still lands normally
    Acid.appendTxn(spark, table, batch(150, 160), txnId = 2L)
    assert(Acid.read(spark, table).count() == 160)
    // history: version 1's snapshot is still exactly txns {0,1}
    assert(Acid.readVersion(spark, table, 1).count() == 150)
  }

  test("Acid: manifest zone maps prune dead files and never change the answer") {
    import graft.ops.Acid
    val table = java.nio.file.Files.createTempDirectory("graft_acid_zm").toString
    // 8 range-clustered files over id 0..7999 → each file owns ~a 1000-id
    // slice, so a [2000, 2999] window should keep 1-2 files of 8
    Acid.commit(spark, table,
      spark.range(0, 8000).select(col("id"), (col("id") % 13).as("x"))
        .repartitionByRange(8, col("id")),
      stats = Some("id" -> col("id")))
    val (kept, all) = Acid.skipFiles(table, 0L, "id", 2000L, 2999L)
    assert(all.size == 8, s"expected 8 data files, got ${all.size}")
    assert(kept.size <= 2, s"zone maps failed to prune: kept ${kept.size} of 8")
    val pruned = Acid.readSkipping(spark, table, "id", 2000L, 2999L)
      .filter(col("id").between(2000, 2999)).agg(
        count(lit(1)).as("n"), sum(col("x")).as("s")).collect()(0)
    val full = Acid.read(spark, table)
      .filter(col("id").between(2000, 2999)).agg(
        count(lit(1)).as("n"), sum(col("x")).as("s")).collect()(0)
    assert(pruned == full, "pruned read diverged from full read")
    assert(pruned.getLong(0) == 1000L)
    // an unknown stat name means no zone map applies → keep everything
    // (skipping is an optimization, never a correctness gate)
    val (keptNoStats, _) = Acid.skipFiles(table, 0L, "nope", 0L, 1L)
    assert(keptNoStats.size == 8, "files without stats must be kept")
    // a window past the data keeps zero files; the read is empty but
    // schema-stable
    assert(Acid.readSkipping(spark, table, "id", 90000L, 99000L).count() == 0)
  }

  test("Acid: a file whose stats column is all NULL carries no zone-map line, and skipping keeps the plain answer") {
    import graft.ops.Acid
    val table = java.nio.file.Files.createTempDirectory("graft_acid_zm_null").toString + "/t"
    // two range partitions → two files: keys 0..9, then NULL keys only
    Acid.commit(spark, table, spark.range(0, 20, 1, 2)
      .select(when(col("id") < 10, col("id")).as("k"), col("id").as("x")),
      stats = Some("k" -> col("k")))
    val (_, all) = Acid.skipFiles(table, 0L, "k", 0L, 0L)
    assert(all.size == 2, s"expected 2 data files, got $all")
    val lines = Acid.minmaxStats(table, 0L, "k")
    assert(lines.map { case (_, lo, hi) => (lo, hi) } == Seq((0L, 9L)), s"$lines")
    def rows(df: org.apache.spark.sql.DataFrame) = df.filter(col("k").between(3L, 5L))
      .select("k", "x").collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(rows(Acid.readSkipping(spark, table, "k", 3L, 5L)) == rows(Acid.read(spark, table)))
    assert(rows(Acid.read(spark, table)) == Seq((3L, 3L), (4L, 4L), (5L, 5L)))
  }

  test("Acid: a partitioned commit's zone-map expression sees the partition column") {
    import graft.ops.Acid
    val table = java.nio.file.Files.createTempDirectory("graft_acid_zm_part").toString + "/t"
    Acid.commit(spark, table,
      spark.range(0, 12).select(col("id").as("k"), (col("id") % 3).as("p")),
      partitionCols = Seq("p"), stats = Some("p" -> col("p").cast("long")))
    val lines = Acid.minmaxStats(table, 0L, "p")
    assert(lines.nonEmpty)
    // each file's extremum is the value its hive directory names
    lines.foreach { case (f, lo, hi) =>
      val dirValue = f.takeWhile(_ != '/').stripPrefix("p=").toLong
      assert(lo == dirValue && hi == dirValue, s"$f: [$lo, $hi]")
    }
    assert(lines.map(_._2).distinct.sorted == Seq(0L, 1L, 2L))
  }

  test("Acid: equality-delete txns are O(keys) — no data file rewritten — and compaction folds them in") {
    import graft.ops.Acid
    val table = java.nio.file.Files.createTempDirectory("graft_acid_del").toString
    def manifestDataFiles(): Seq[String] = {
      val v = Acid.currentVersion(table).get
      java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get(table, s"manifest-$v.txt"))
        .toArray.map(_.toString).toSeq
        .filterNot(_.startsWith("#")).sorted
    }
    Acid.appendTxn(spark, table, spark.range(0, 1000).select(col("id")), txnId = 0L)
    val filesBefore = manifestDataFiles()
    Acid.deleteTxn(spark, table,
      spark.range(0, 1000).filter(col("id") % 10 === 0).select(col("id")),
      "id", txnId = 1L)
    assert(manifestDataFiles() == filesBefore,
      "delete txn must not rewrite or drop data files (merge-on-read)")
    assert(Acid.read(spark, table).count() == 900)
    // replay of the delete txn is a no-op (same ledger as appends)
    val vReplay = Acid.deleteTxn(spark, table,
      spark.range(0, 1000).filter(col("id") % 10 === 0).select(col("id")),
      "id", txnId = 1L)
    assert(vReplay == 1L && Acid.currentVersion(table).contains(1L))
    // appended rows with NEW keys survive standing vectors; history still
    // reads pre-delete
    Acid.appendTxn(spark, table,
      spark.range(5000, 5010).select(col("id")), txnId = 2L)
    assert(Acid.read(spark, table).count() == 910)
    assert(Acid.readVersion(spark, table, 0L).count() == 1000)
    // deferred copy-on-write: compaction rewrites data minus vectors,
    // clears delete lines, keeps rows and ledger identical
    val before = Acid.read(spark, table).collect().map(_.getLong(0)).sorted.toSeq
    Acid.compactDeletes(spark, table, txnId = 3L)
    val after = Acid.read(spark, table).collect().map(_.getLong(0)).sorted.toSeq
    assert(after == before, "compaction changed the table contents")
    val lines = java.nio.file.Files.readAllLines(java.nio.file.Paths.get(
      table, s"manifest-${Acid.currentVersion(table).get}.txt"))
      .toArray.map(_.toString).toSeq
    assert(!lines.exists(_.startsWith("# delete:")), "compaction must clear vectors")
    assert(Acid.committedTxns(table) == Set(0L, 1L, 2L, 3L),
      "compaction must preserve the txn ledger (exactly-once resumption)")
  }

  test("Acid: optimize bin-packs + clusters, folds deletes, keeps ledger/history, and makes skipping sharp") {
    import graft.ops.Acid
    val table = java.nio.file.Files.createTempDirectory("graft_acid_opt").toString
    def dataFiles(v: Long): Seq[String] =
      Acid.skipFiles(table, v, "__none", 0L, 0L)._2
    // 6 micro-batch appends, 4 files each (arrival order ⇒ no clustering),
    // plus a standing delete vector the rewrite must fold in
    (0 until 6).foreach { i =>
      Acid.appendTxn(spark, table,
        spark.range(0, 1200).filter(col("id") % 6 === i)
          .select(col("id")).repartition(4), txnId = i.toLong)
    }
    Acid.deleteTxn(spark, table,
      spark.range(0, 1200).filter(col("id") % 100 === 0).select(col("id")),
      "id", txnId = 50L)
    val preV = Acid.currentVersion(table).get
    val preFiles = dataFiles(preV).size
    assert(preFiles == 24, s"expected 24 small files, got $preFiles")
    val before = Acid.read(spark, table).collect().map(_.getLong(0)).sorted.toSeq
    Acid.optimize(spark, table, txnId = 100L, targetFiles = 4,
      clusterCol = Some("id"), stats = Some("id" -> col("id")))
    val v = Acid.currentVersion(table).get
    // contents identical, deletes folded (no vectors left), ledger carried
    val after = Acid.read(spark, table).collect().map(_.getLong(0)).sorted.toSeq
    assert(after == before, "optimize changed the table contents")
    val lines = java.nio.file.Files.readAllLines(java.nio.file.Paths.get(
      table, s"manifest-$v.txt")).toArray.map(_.toString).toSeq
    assert(!lines.exists(_.startsWith("# delete:")), "optimize must fold delete vectors")
    assert(Acid.committedTxns(table) == Set(0L, 1L, 2L, 3L, 4L, 5L, 50L, 100L))
    // replay no-op (maintenance must not reset streaming exactly-once)
    assert(Acid.optimize(spark, table, txnId = 100L, targetFiles = 4) == v)
    assert(Acid.appendTxn(spark, table, spark.range(0, 1).select(col("id")),
      txnId = 2L) == v, "replayed micro-batch must still no-op after optimize")
    // file collapse + immutable history
    assert(dataFiles(v).size <= 4 && dataFiles(v).size < preFiles)
    assert(Acid.readVersion(spark, table, preV).count() == before.size.toLong)
    // range clustering makes the zone maps disjoint ⇒ a narrow probe keeps
    // ~1 file; skipping read == plain read on the same predicate; an
    // impossible range prunes everything to a schema-stable empty
    val (kept, all) = Acid.skipFiles(table, v, "id", 10L, 60L)
    assert(kept.size * 4 <= all.size, s"kept ${kept.size} of ${all.size}")
    // the rewrite is RANGE-clustered, not merely bin-packed: every file
    // owns a disjoint id slice (r13 verdict item 7 — this is what makes
    // the zone maps above sharp rather than accidentally overlapping)
    val ranges = lines.filter(_.startsWith("# minmax:")).map { l =>
      val Array(_, _, lo, hi) = l.stripPrefix("# minmax:").split('|')
      (lo.toLong, hi.toLong)
    }.sorted
    assert(ranges.size == dataFiles(v).size, "every rewritten file carries a zone map")
    ranges.sliding(2).foreach {
      case Seq((_, hi1), (lo2, _)) =>
        assert(hi1 < lo2, s"overlapping cluster ranges: $ranges")
      case _ => ()
    }
    val viaSkip = Acid.readSkipping(spark, table, "id", 10L, 60L)
      .filter(col("id").between(10, 60)).collect().map(_.getLong(0)).sorted.toSeq
    assert(viaSkip == before.filter(k => k >= 10 && k <= 60),
      "skipping read must equal the plain filtered read")
    assert(Acid.readSkipping(spark, table, "id", 100000L, 200000L).count() == 0)
  }

  test("Acid: changeFeed(m,n) satisfies state(m) + inserts - deletes == state(n); rewrites fail loudly") {
    import graft.ops.Acid
    val table = java.nio.file.Files.createTempDirectory("graft_acid_cdf").toString
    // interleaved appends and deletes, including keys appended-then-deleted
    // inside a window, deleted-then-reappended (stay invisible — vectors
    // subtract keys), and deletes of keys that never existed
    Acid.appendTxn(spark, table, spark.range(0, 100).select(col("id")), 0L)      // v0
    Acid.appendTxn(spark, table, spark.range(100, 180).select(col("id")), 1L)    // v1
    Acid.deleteTxn(spark, table,
      spark.range(0, 200).filter(col("id") % 9 === 0).select(col("id")), "id", 2L) // v2
    Acid.appendTxn(spark, table, spark.range(180, 260).select(col("id")), 3L)    // v3
    Acid.deleteTxn(spark, table,
      spark.range(0, 400).filter(col("id") % 10 === 5).select(col("id")), "id", 4L) // v4
    def state(v: Long): Set[Long] =
      Acid.readVersion(spark, table, v).collect().map(_.getLong(0)).toSet
    for (m <- 0L to 3L; n <- (m + 1) to 4L) {
      val feed = Acid.changeFeed(spark, table, m, n).collect()
        .map(r => (r.getLong(0), r.getString(1)))
      val ins = feed.collect { case (k, "insert") => k }.toSet
      val del = feed.collect { case (k, "delete") => k }.toSet
      assert(ins.intersect(del).isEmpty, s"($m,$n]: a key is both insert and delete")
      assert(state(m) ++ ins -- del == state(n),
        s"changeFeed($m,$n] does not reproduce state($n)")
      assert(del.subsetOf(state(m)), s"($m,$n]: delete preimage not in state($m)")
    }
    // crossing a rewrite (optimize replaces files, no logical change) is a
    // loud error, never a feed of phantom inserts
    Acid.optimize(spark, table, txnId = 100L, targetFiles = 2)
    val e = intercept[IllegalArgumentException](Acid.changeFeed(spark, table, 3L, 5L))
    assert(e.getMessage.contains("rewrite"))
    // windows entirely after the rewrite work again
    Acid.appendTxn(spark, table, spark.range(300, 320).select(col("id")), 6L)
    val post = Acid.changeFeed(spark, table, 5L, 6L).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(post.forall(_._2 == "insert") && post.map(_._1).toSet == (300L until 320L).toSet)
  }

  test("Acid: vacuum deletes only expired-exclusive files and expired time travel fails loudly") {
    import graft.ops.Acid
    val table = java.nio.file.Files.createTempDirectory("graft_acid_vac").toString
    def parquetCount(): Long = {
      val w = java.nio.file.Files.walk(java.nio.file.Paths.get(table))
      try w.filter(p => p.toString.endsWith(".parquet")).count()
      finally w.close()
    }
    Acid.commit(spark, table, spark.range(0, 300).select(col("id"), lit(0).as("v")))
    Acid.commit(spark, table, spark.range(0, 200).select(col("id"), lit(1).as("v")))
    Acid.commit(spark, table, spark.range(0, 100).select(col("id"), lit(2).as("v")))
    val filesAll = parquetCount()
    val deleted = Acid.vacuum(table, keep = 2)
    assert(deleted.nonEmpty, "vacuum must delete v0's files")
    assert(deleted.forall(_.startsWith("v=0/")), s"vacuum touched live files: $deleted")
    assert(parquetCount() == filesAll - deleted.size)
    assert(Acid.horizon(table) == 1L)
    // expired time travel: loud failure, not a half-read
    intercept[IllegalArgumentException](Acid.readVersion(spark, table, 0L))
    // retained versions unaffected
    assert(Acid.readVersion(spark, table, 1L).count() == 200)
    assert(Acid.read(spark, table).count() == 100)
    // idempotent: nothing left to collect at the same horizon
    assert(Acid.vacuum(table, keep = 2).isEmpty)
    // a later commit + vacuum advances the horizon again
    Acid.commit(spark, table, spark.range(0, 50).select(col("id"), lit(3).as("v")))
    val deleted2 = Acid.vacuum(table, keep = 2)
    assert(deleted2.forall(_.startsWith("v=1/")), s"wrong GC set: $deleted2")
    assert(Acid.horizon(table) == 2L)
  }

  test("Acid: manifest blooms prune point lookups, keep unprovable files, never change the answer") {
    import graft.ops.Acid
    val table = java.nio.file.Files.createTempDirectory("graft_acid_bloom").toString
    // hash-bucket clustering on k: each of 8 files holds ~1/8 of the 997
    // distinct keys, so a point lookup is provably absent from most files
    Acid.commit(spark, table,
      spark.range(0, 4000)
        .select(col("id"), (col("id") % 997).as("k"))
        .repartition(8, pmod(col("k"), lit(8))),
      bloom = Some("k" -> col("k")))
    val (kept, all) = Acid.skipFilesBloom(table, 0L, "k", 421L)
    // repartition hashes the BUCKET value, so buckets can collide into
    // fewer than 8 partitions (empty partitions write no file) — the pin
    // is relative: the lookup must prune at least half the real files
    assert(all.size >= 4, s"expected >=4 data files, got ${all.size}")
    assert(kept.size <= all.size / 2,
      s"blooms failed to prune: kept ${kept.size} of ${all.size}")
    assert(kept.nonEmpty, "the file really holding key 421 must survive")
    val pruned = Acid.readBloomSkipping(spark, table, "k", 421L)
      .filter(col("k") === 421L).agg(
        count(lit(1)).as("n"), sum(col("id")).as("s")).collect()(0)
    val full = Acid.read(spark, table)
      .filter(col("k") === 421L).agg(
        count(lit(1)).as("n"), sum(col("id")).as("s")).collect()(0)
    assert(pruned == full, "bloom-pruned read diverged from full read")
    assert(pruned.getLong(0) > 0L)
    // keys outside the domain: a bloom "no" is PROOF, a "yes" only a
    // false positive the residual predicate absorbs — correctness first:
    for (absent <- 5000L to 5004L)
      assert(Acid.readBloomSkipping(spark, table, "k", absent)
        .filter(col("k") === absent).count() == 0)
    // and the all-files-pruned branch: some absent key is provably
    // excluded by every file's bloom (fp ~1% per file, so one of a few
    // candidates always is) — that read is empty but schema-stable
    val provablyAbsent = (5000L to 5050L).find(k =>
      Acid.skipFilesBloom(table, 0L, "k", k)._1.isEmpty)
    assert(provablyAbsent.nonEmpty, "no absent key pruned every file")
    val empty = Acid.readBloomSkipping(spark, table, "k", provablyAbsent.get)
    assert(empty.count() == 0)
    assert(empty.columns.toSeq == Seq("id", "k"), "empty read must keep the schema")
    // an unknown stat name means no bloom applies → keep everything
    // (skipping is an optimization, never a correctness gate)
    val (keptNoStats, _) = Acid.skipFilesBloom(table, 0L, "nope", 421L)
    assert(keptNoStats.size == all.size, "files without blooms must be kept")
  }

  test("bloom hash versioning: h2-marked lines probe the new pair only; unversioned legacy lines keep the dual probe (ADVICE r19)") {
    import graft.ops.Acid
    val dir = java.nio.file.Files.createTempDirectory("graft_bloom_ver")
    // a key ABOVE the legacy 1e6 pre-mod domain — below it both
    // generations reduce to the same y and the positions coincide
    val key = 5000017L
    val bits = 4096
    // the two generations' probe positions, from the documented formulas
    def pair(preMod: Long): (Int, Int) = {
      val y = Math.floorMod(key, preMod)
      val h1 = (y * 48271L) % 2147483647L
      val h2 = (h1 * 48271L) % 2147483647L
      ((h1 % bits).toInt, (h2 % bits).toInt)
    }
    val (p1, p2) = pair(2147483647L) // current
    val (q1, q2) = pair(1000003L)    // legacy
    assert(Set(p1, p2) != Set(q1, q2), "fixture key must separate the generations")
    // a filter whose bits sit ONLY at the LEGACY positions (what a
    // pre-widening writer persisted for this key)
    val w = new Array[Long](bits / 64)
    for (q <- Seq(q1, q2)) w(q / 64) |= (1L << (q % 64))
    val words = w.mkString(",")
    java.nio.file.Files.write(dir.resolve("manifest-0.txt"),
      (s"# bloom:f1.parquet|k|h2|$words\n" + // versioned: new hash claimed
        s"# bloom:f2.parquet|k|$words\n" +   // unversioned: legacy bloom
        "f1.parquet\nf2.parquet\n").getBytes("UTF-8"))
    val (kept, all) = Acid.skipFilesBloom(dir.toString, 0L, "k", key)
    assert(all == Seq("f1.parquet", "f2.parquet"))
    // f1 claims the new hash but only legacy bits are set → provably
    // absent under the new pair → pruned (no legacy-pair FPR tax)
    // f2 is unversioned → the dual probe keeps it (legacy bits match)
    assert(kept == Seq("f2.parquet"),
      s"versioned bloom must prune on the new pair only, kept $kept")
  }

  test("Acid: lock-free CAS appends — 8 racing writers all land, ledger complete, rows conserved") {
    import graft.ops.Acid
    val table = java.nio.file.Files.createTempDirectory("graft_acid_cas").toString
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until 8).map { i =>
      new Thread(() => {
        try Acid.appendTxnCAS(spark, table,
          spark.range(i * 100L, i * 100L + 100L).select(col("id")), txnId = i.toLong)
        catch { case t: Throwable => errs.add(t) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, s"CAS writer failed: ${Option(errs.peek())}")
    // every txn committed exactly once, whatever the claim interleaving
    assert(Acid.committedTxns(table) == (0L until 8L).toSet)
    assert(Acid.currentVersion(table).contains(7L),
      "8 claims must produce exactly versions 0..7")
    assert(Acid.read(spark, table).count() == 800L)
    assert(Acid.read(spark, table).agg(sum(col("id"))).collect()(0).getLong(0)
      == (0L until 800L).sum)
    // the version chain is a superset chain: each version adds one txn
    (0L to 7L).foreach { v =>
      assert(Acid.readVersion(spark, table, v).count() == (v + 1) * 100L)
    }
    // replay after the race is still a no-op
    assert(Acid.appendTxnCAS(spark, table,
      spark.range(0L, 100L).select(col("id")), txnId = 0L) == 7L)
    assert(Acid.read(spark, table).count() == 800L)
  }

  test("agg_heavy_hitters: equals an exact driver recount and binds on the fixture") {
    // the m > k superset guarantee says the two-phase answer IS the
    // exact GROUP BY HAVING truth; re-derive that truth independently
    val out = SparkEntry.queries("agg_heavy_hitters")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val keyed = Tables.events(spark, sf001)
      .selectExpr("CAST(floor(sqrt(user_id)) AS BIGINT) AS k")
      .collect().map(_.getLong(0))
    val thresh = keyed.length / 32
    val exact = keyed.groupBy(identity).view.mapValues(_.length.toLong)
      .filter(_._2 > thresh).toSeq.map { case (k, c) => (k, c) }.sortBy(_._1)
    assert(out == exact, s"two-phase=$out exact=$exact")
    assert(out.nonEmpty, "threshold binds nothing at sf0.001 — vacuous key")
  }

  test("Acid: additive schema evolution is metadata-only — old files byte-untouched, NULL-filled on read") {
    import graft.ops.Acid
    val table = java.nio.file.Files.createTempDirectory("graft_acid_evo").toString
    Acid.appendTxn(spark, table,
      spark.range(0, 100).select(col("id")), txnId = 0L)
    def txn0Files(): Map[String, (Long, Long)] = {
      val d = java.nio.file.Paths.get(table, "txn=0")
      val w = java.nio.file.Files.walk(d)
      try w.filter(_.toString.endsWith(".parquet"))
        .toArray.map(_.asInstanceOf[java.nio.file.Path])
        .map(p => p.getFileName.toString ->
          (java.nio.file.Files.getLastModifiedTime(p).toMillis,
            java.nio.file.Files.size(p))).toMap
      finally w.close()
    }
    val before = txn0Files()
    assert(before.nonEmpty)
    // the evolved txn carries a NEW column; nothing about txn 0 may change
    Acid.appendTxn(spark, table,
      spark.range(100, 150)
        .select(col("id"), concat(lit("t"), col("id") % 3).as("tag")),
      txnId = 1L)
    assert(txn0Files() == before,
      "schema evolution must not rewrite pre-evolution files")
    val evolved = Acid.readEvolved(spark, table)
    assert(evolved.columns.toSet == Set("id", "tag"))
    assert(evolved.count() == 150)
    // pre-evolution rows surface the new column as NULL; evolved rows keep it
    assert(evolved.filter(col("tag").isNull && col("id") < 100).count() == 100)
    assert(evolved.filter(col("id") >= 100 && col("tag").isNull).count() == 0)
  }

  test("sink_dynamic_overwrite: untouched partitions keep their exact on-disk files") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dynover").toString
    val base = spark.range(0, 400)
      .select(col("id"), (col("id") % 4).as("p"), (col("id") * 10).as("x"))
    base.write.mode("overwrite").partitionBy("p").parquet(dir)
    def filesIn(p: Long): Set[String] = {
      val d = java.nio.file.Paths.get(dir, s"p=$p")
      val w = java.nio.file.Files.walk(d)
      try w.filter(_.toString.endsWith(".parquet"))
        .map[String](_.getFileName.toString).toArray.map(_.toString).toSet
      finally w.close()
    }
    val before = (0L to 3L).map(filesIn)
    // restate only p=2 (writer job UUIDs make any rewritten file detectable
    // by name alone)
    base.filter(col("p") === 2).withColumn("x", col("x") + 1)
      .write.mode("overwrite").partitionBy("p")
      .option("partitionOverwriteMode", "dynamic").parquet(dir)
    val after = (0L to 3L).map(filesIn)
    Seq(0, 1, 3).foreach { p =>
      assert(after(p) == before(p), s"partition p=$p was rewritten")
    }
    assert(after(2) != before(2), "restated partition must be new files")
    // and the data reflects exactly the one restated partition
    val got = spark.read.parquet(dir)
      .agg(sum(col("x")).as("s")).collect()(0).getLong(0)
    val want = 400L * 399L / 2L * 10L + 100L // +1 per row of p=2 (100 rows)
    assert(got == want, s"restatement wrong: $got vs $want")
  }

  test("agg_transition_matrix: rows normalize to ~1e6 ppm with floor rounding and counts are conserved") {
    val rows = graft.SparkEntry.queries("agg_transition_matrix")(spark, sf001).collect()
    assert(rows.nonEmpty)
    val byFrom = rows.groupBy(_.getString(0))
    byFrom.foreach { case (from, cells) =>
      val ppmSum = cells.map(_.getLong(3)).sum
      // floor division loses < 1 ppm per cell
      assert(ppmSum <= 1000000L && ppmSum > 1000000L - cells.length,
        s"row $from ppm sum $ppmSum out of range")
      assert(cells.forall(_.getLong(2) > 0), "zero cells must not be emitted")
    }
    // conservation: total transitions = total events - distinct users
    // (every user contributes |history| - 1 successor pairs)
    val ev = graft.Tables.events(spark, sf001)
    val want = ev.count() - ev.select(col("user_id")).distinct().count()
    assert(rows.map(_.getLong(2)).sum == want, "transition count not conserved")
  }

  test("stream_multi_sink: every micro-batch lands in BOTH tables under one txn ledger") {
    // replicate the key's dual-sink at sf0.001, then audit the ledgers:
    // identical txn-id sets on both tables (no batch landed in only one)
    // and replaying a committed txn no-ops on both
    import graft.ops.Acid
    graft.SparkEntry.queries("stream_multi_sink")(spark, sf001).collect()
    val tDetail = graft.Tmp.dir("stream_msink_detail", sf001)
    val tRollup = graft.Tmp.dir("stream_msink_rollup", sf001)
    val led = Acid.committedTxns(tDetail)
    assert(led.nonEmpty && led == Acid.committedTxns(tRollup),
      "txn ledgers diverge between the two sinks")
    val (vd, vr) = (Acid.currentVersion(tDetail).get, Acid.currentVersion(tRollup).get)
    val replayId = led.max
    Acid.appendTxn(spark, tDetail,
      spark.range(0, 5).select(col("id").as("event_id"), col("id").as("user_id"),
        (col("id") * 0.5).as("value")), replayId)
    assert(Acid.currentVersion(tDetail).contains(vd), "replay advanced detail table")
    assert(Acid.currentVersion(tRollup).contains(vr))
  }

  test("Acid: racing append writers serialize — every txn lands exactly once") {
    import graft.ops.Acid
    val table = java.nio.file.Files.createTempDirectory("graft_acid_race").toString
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    try {
      val latch = new java.util.concurrent.CountDownLatch(1)
      (0 until 8).foreach { i =>
        pool.submit(new Runnable {
          def run(): Unit = {
            latch.await()
            try Acid.appendTxn(spark, table,
              spark.range(i * 100L, i * 100L + 100L).select(col("id")), txnId = i.toLong)
            catch { case t: Throwable => errs.add(t) }
          }
        })
      }
      latch.countDown()
      pool.shutdown()
      assert(pool.awaitTermination(120, java.util.concurrent.TimeUnit.SECONDS))
    } finally if (!pool.isTerminated) pool.shutdownNow()
    assert(errs.isEmpty, s"writer failed under contention: ${errs.peek()}")
    // 8 writers → versions 0..7 in SOME order, ledger complete, union exact
    assert(Acid.currentVersion(table).contains(7L))
    assert(Acid.committedTxns(table) == (0L until 8L).toSet)
    assert(Acid.read(spark, table).count() == 800)
    assert(Acid.read(spark, table).select(col("id")).distinct().count() == 800)
  }

  test("DeltaExport: emitted log is structurally a Delta transaction log and replays exactly") {
    import graft.ops.DeltaExport
    val spark0 = spark
    import spark0.implicits._
    val dir = java.nio.file.Files.createTempDirectory("delta_pin").toString + "/t"
    def df(lo: Int, hi: Int) = (lo until hi).map(i => (i.toLong, s"r$i")).toDF("id", "s")
    assert(DeltaExport.commit(spark, dir, df(0, 100)) == 0L)
    assert(DeltaExport.commit(spark, dir, df(100, 150)) == 1L)
    assert(DeltaExport.commit(spark, dir, df(500, 520), overwrite = true) == 2L)
    // log layout: zero-padded version files, one JSON action per line
    val log = java.nio.file.Paths.get(dir, "_delta_log")
    val entries = java.nio.file.Files.list(log)
    val names = try entries.toArray.map(_.asInstanceOf[java.nio.file.Path]
      .getFileName.toString).sorted finally entries.close()
    assert(names.toSeq == Seq("00000000000000000000.json",
      "00000000000000000001.json", "00000000000000000002.json"))
    val v0 = new String(java.nio.file.Files.readAllBytes(
      log.resolve("00000000000000000000.json")), "UTF-8").split('\n')
    assert(v0(0).contains("\"protocol\"") && v0(0).contains("\"minReaderVersion\":1"))
    assert(v0(1).contains("\"metaData\"") && v0(1).contains("\"schemaString\""))
    assert(v0.drop(2).forall(_.contains("\"add\"")))
    // the schemaString must parse back to the written schema (what an
    // external reader does before touching any data file)
    val schemaJson = """"schemaString":"((?:[^"\\]|\\.)*)"""".r
      .findFirstMatchIn(v0(1)).get.group(1)
      .replace("\\\"", "\"").replace("\\\\", "\\")
    assert(org.apache.spark.sql.types.DataType.fromJson(schemaJson) == df(0, 1).schema)
    // overwrite emitted tombstones for every pre-existing file
    val v2 = new String(java.nio.file.Files.readAllBytes(
      log.resolve("00000000000000000002.json")), "UTF-8").split('\n')
    assert(v2.count(_.contains("\"remove\"")) >= 2, "overwrite lost tombstones")
    // log-only replay = exactly the restated content
    val got = DeltaExport.readDeltaLog(spark, dir).select(col("id"))
      .collect().map(_.getLong(0)).sorted
    assert(got.toSeq == (500L until 520L).toSeq)
    // time travel: v1's live set is the pre-overwrite union
    assert(DeltaExport.liveFiles(spark, dir, 1L).toSet !=
      DeltaExport.liveFiles(spark, dir, 2L).toSet)
  }

  test("DeltaExport checkpoints: reader resolves from _last_checkpoint, replaying O(1) JSON entries") {
    import graft.ops.DeltaExport
    val spark0 = spark
    import spark0.implicits._
    val dir = java.nio.file.Files.createTempDirectory("delta_ckpt").toString + "/t"
    def df(lo: Int, hi: Int) = (lo until hi).map(i => (i.toLong, s"r$i")).toDF("id", "s")
    // 5 commits, checkpoint every 2 → checkpoints at v1 and v3
    (0 until 5).foreach { i =>
      assert(DeltaExport.commit(spark, dir, df(i * 100, i * 100 + 50),
        checkpointInterval = 2) == i.toLong)
    }
    val log = java.nio.file.Paths.get(dir, "_delta_log")
    assert(java.nio.file.Files.exists(log.resolve("00000000000000000003.checkpoint.parquet")))
    assert(DeltaExport.lastCheckpoint(dir).map(_._1).contains(3L))
    val expect = (0 until 5).flatMap(i => i * 100L until i * 100L + 50L).sorted
    assert(DeltaExport.readDeltaLog(spark, dir).select(col("id"))
      .collect().map(_.getLong(0)).sorted.toSeq == expect)
    // THE pin: delete every JSON entry at or below the checkpoint version —
    // a reader that still replays from 0 crashes; the checkpointed reader
    // replays only 4.json and resolves identically
    (0 to 3).foreach { i =>
      java.nio.file.Files.delete(log.resolve(f"$i%020d.json"))
    }
    assert(DeltaExport.readDeltaLog(spark, dir).select(col("id"))
      .collect().map(_.getLong(0)).sorted.toSeq == expect,
      "checkpointed read diverged after truncating the JSON chain")
    // checkpoint file is protocol-shaped: protocol + metaData + add rows
    val ck = spark.read.parquet(log.resolve("00000000000000000003.checkpoint.parquet").toString)
    assert(ck.columns.sorted.toSeq == Seq("add", "metaData", "protocol"))
    assert(ck.where(col("protocol").isNotNull).count() == 1L)
    assert(ck.where(col("metaData").isNotNull).count() == 1L)
    assert(ck.where(col("add").isNotNull).count() ==
      DeltaExport.liveFiles(spark, dir, 3L).size.toLong)
    // the metaData row carries the REAL table schema (ADVICE r13: an
    // external reader resolving from _last_checkpoint takes its schema
    // from here — an empty schemaString breaks Trino/delta-rs/DuckDB)
    val md = ck.where(col("metaData").isNotNull)
      .select(col("metaData.schemaString")).head().getString(0)
    assert(md == df(0, 1).schema.json,
      s"checkpoint metaData schemaString diverged from the commit's: $md")
  }

  test("window_attribution: the three models conserve value — grand totals equal and match attributed purchases") {
    val out = SparkEntry.queries("window_attribution")(spark, sf001).collect()
    assert(out.nonEmpty)
    val first = out.map(_.getLong(1)).sum
    val last = out.map(_.getLong(2)).sum
    val linear = out.map(_.getLong(3)).sum
    assert(first == last && last == linear,
      s"attribution models leak value: first=$first last=$last linear=$linear")
    // independent recount: the conserved total is exactly the value of
    // purchases that HAVE >=1 qualifying click (7-day lookback)
    val ev = Tables.events(spark, sf001)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("pid"), col("user_id"),
        unix_micros(col("ts")).as("pus"),
        (graft.Det.val6(col("value")) * 1000000).cast("long").as("vus"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id"), unix_micros(col("ts")).as("cus"))
    val attributed = p.join(c, Seq("user_id"))
      .filter(col("cus") <= col("pus") &&
        col("cus") > col("pus") - lit(7L * 86400L * 1000000L))
      .select(col("pid"), col("vus")).distinct()
      .agg(sum(col("vus"))).collect()(0).getLong(0)
    assert(first == attributed,
      s"attributed total $first != purchase-side recount $attributed")
  }

  test("distributedRank equals the single-partition row_number exactly (and is boundary-invariant)") {
    // the rfm quintile rollup could mask a rank permutation that cancels
    // within buckets — pin the raw ranks themselves against the naive
    // unpartitioned window on the same total order
    import org.apache.spark.sql.expressions.Window
    val base = Tables.events(spark, sf001)
      .groupBy(col("user_id")).agg(count(lit(1)).as("freq"))
    val dist = graft.ops.Windows.distributedRank(base, "rn",
        col("freq").desc, col("user_id"))
      .select(col("user_id"), col("rn")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val naive = base.withColumn("rn",
        row_number().over(Window.orderBy(col("freq").desc, col("user_id"))))
      .select(col("user_id"), col("rn")).collect()
      .map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
    assert(dist == naive, "distributed rank diverges from the reference window rank")
    // boundary invariance: a different partition count must not move ranks
    val dist4 = graft.ops.Windows.distributedRank(base.repartition(4), "rn",
        col("freq").desc, col("user_id"))
      .select(col("user_id"), col("rn")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dist4 == naive, "rank depends on the physical partitioning")
  }

  private def refLttb(pts: Array[(Long, Long)], t: Int): Seq[(Long, Long)] = {
    // independent recount in ABSOLUTE coordinates (no rebasing — triangle
    // areas are translation-invariant, so any rebasing bug in the main
    // path diverges here), following the paper's bucket walk directly
    val n = pts.length
    if (n <= t) return pts.toSeq
    val m = t - 2
    def lo(i: Int): Int = ((i.toLong * (n - 2)) / m).toInt + 1
    val sel = scala.collection.mutable.ArrayBuffer(pts(0))
    var prevIdx = 0
    for (i <- 0 until m) {
      val bLo = lo(i); val bHi = lo(i + 1)
      val (nLo, nHi) = if (i + 1 < m) (lo(i + 1), lo(i + 2)) else (n - 1, n)
      val c = nHi - nLo
      val sx = pts.slice(nLo, nHi).map(p => BigInt(p._1)).sum
      val sy = pts.slice(nLo, nHi).map(p => BigInt(p._2)).sum
      val px = BigInt(pts(prevIdx)._1); val py = BigInt(pts(prevIdx)._2)
      var best = bLo; var bestA = BigInt(-1)
      for (j <- bLo until bHi) {
        val a = ((px * c - sx) * (BigInt(pts(j)._2) - py)
          - (px - BigInt(pts(j)._1)) * (sy - py * c)).abs
        if (a > bestA) { bestA = a; best = j }
      }
      sel += pts(best); prevIdx = best
    }
    sel += pts(n - 1)
    sel.toSeq
  }

  test("window_lttb_downsample equals an un-rebased driver recount, keeps endpoints, rerun-stable") {
    val out = SparkEntry.queries("window_lttb_downsample")(spark, sf001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val hourly = Tables.events(spark, sf001)
      .groupBy(col("event_type"), expr("unix_micros(ts) div 3600000000").as("hr"))
      .agg((sum(graft.Det.val6(col("value"))) * 1000000).cast("long").as("v"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val expected = hourly.groupBy(_._1).toSeq.flatMap { case (typ, rows) =>
      val pts = rows.map(r => (r._2, r._3)).sortBy(_._1).toArray
      refLttb(pts, 30).map { case (x, y) => (typ, x, y) }
    }.toSet
    assert(out.toSet == expected, "distributed LTTB diverges from the reference walk")
    hourly.groupBy(_._1).foreach { case (typ, rows) =>
      val sel = out.filter(_._1 == typ).sortBy(_._2)
      val all = rows.sortBy(_._2)
      assert(all.length > 30, s"fixture series for $typ too short to exercise LTTB")
      assert(sel.length == 30, s"$typ: expected 30 points, got ${sel.length}")
      assert(sel.head._2 == all.head._2 && sel.last._2 == all.last._2,
        s"$typ: endpoints not preserved")
    }
    val again = SparkEntry.queries("window_lttb_downsample")(spark, sf001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(again.toSet == out.toSet, "rerun not identical")
  }

  test("Acid WAP: publish survives a crash before manifest retirement; publish racing an append rebases") {
    import graft.ops.Acid
    val table = java.nio.file.Files.createTempDirectory("graft_acid_wap").toString + "/t"
    def r(lo: Long, n: Long) = spark.range(lo, lo + n).toDF("k")
    Acid.appendTxn(spark, table, r(0, 10), txnId = 0L) // base A
    // stage B, then a CONCURRENT writer lands C before the publish: the
    // publish's CAS commit must rebase onto C's manifest (publish∥append
    // is append∥append — disjoint files, never a conflict)
    Acid.stageWap(spark, table, r(100, 5), "b")
    Acid.appendTxnCAS(spark, table, r(200, 7), txnId = 1L)
    val v = Acid.publishWap(table, "b", txnId = 2L)
    assert(v == 2L, s"publish should land as v2 after the racing append, got v$v")
    assert(Acid.read(spark, table).count() == 22L,
      "publish rebased wrong: expected A(10) + C(7) + B(5)")
    // crash seam: the commit landed but the wap manifest retirement never
    // ran (simulated by recreating it) — the RETRY must finish retirement
    // without touching the table
    val m = java.nio.file.Paths.get(table, "manifest-wap-b.txt")
    java.nio.file.Files.write(m, "wap=b/zombie.parquet\n".getBytes("UTF-8"))
    assert(Acid.publishWap(table, "b", txnId = 2L) == v,
      "replayed publish after crash advanced the table")
    assert(!java.nio.file.Files.exists(m), "retry must retire the wap manifest")
    assert(Acid.read(spark, table).count() == 22L)
    // an aborted id can be re-staged and re-audited from scratch
    Acid.stageWap(spark, table, r(300, 3), "d")
    Acid.abortWap(table, "d")
    assert(Acid.stagedWapIds(table).isEmpty)
    Acid.stageWap(spark, table, r(400, 4), "d")
    assert(Acid.readWap(spark, table, "d").count() == 26L)
    Acid.abortWap(table, "d")
  }

  test("Acid partition evolution: pruned+residual equals full read under any predicate; delete vectors apply") {
    import graft.ops.Acid
    val table = java.nio.file.Files.createTempDirectory("graft_acid_pevo").toString + "/t"
    def rows(lo: Long, n: Long) = spark.range(lo, lo + n)
      .select(col("id").as("k"), (col("id") % 3).cast("int").as("a"),
        (col("id") % 2).cast("int").as("b"))
    Acid.appendTxnEvolved(spark, table, rows(0, 30), txnId = 0L, Seq("a"))
    Acid.appendTxnEvolved(spark, table, rows(100, 30), txnId = 1L, Seq("a", "b"))
    // merge-on-read deletes ride the evolved manifests unchanged
    Acid.deleteTxn(spark, table,
      spark.range(0, 200).filter(col("id") % 10 === 0).select(col("id").as("k")),
      "k", txnId = 2L)
    val full = Acid.read(spark, table)
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    // every predicate shape: evolved-col, original-col, both, none
    for (preds <- Seq(Map("a" -> "1"), Map("b" -> "0"),
        Map("a" -> "2", "b" -> "1"), Map.empty[String, String])) {
      val (pruned, kept, total) = Acid.readPrunedEvolved(spark, table, preds)
      assert(kept <= total)
      val residual = preds.foldLeft(pruned) { case (d, (c, v)) => d.filter(col(c) === v) }
      val expected = preds.foldLeft(full) { case (d, (c, v)) => d.filter(col(c) === v) }
      assert(canon(residual) == canon(expected),
        s"pruned+residual diverged from full read under $preds ($kept/$total kept)")
    }
    // the b predicate cannot prune gen-1 (spec ignorance) but must prune gen-2
    val (_, keptB, total) = Acid.readPrunedEvolved(spark, table, Map("b" -> "1"))
    assert(keptB < total, "evolved-column predicate pruned nothing")
    // a replayed evolved append no-ops through the ledger
    val v = Acid.currentVersion(table).get
    assert(Acid.appendTxnEvolved(spark, table, rows(100, 30), 1L, Seq("a", "b")) == v)
    // an all-pruned predicate is a legitimate EMPTY result, not an error
    // (ADVICE r14: pruning is an optimization, never a semantics change)
    val (emptyDf, kept0, total0) = Acid.readPrunedEvolved(spark, table, Map("a" -> "99"))
    assert(kept0 == 0 && total0 > 0, s"expected 0/$total0 kept, got $kept0")
    assert(emptyDf.count() == 0L)
    assert(emptyDf.columns.toSet == Set("k", "a", "b"),
      "schema-stable empty frame lost the table schema")
  }

  test("Acid evolved appends carry constraints and per-file stats forward (ADVICE r14)") {
    import graft.ops.{Acid, ConstraintViolationException}
    val table = java.nio.file.Files.createTempDirectory("graft_acid_evcarry").toString + "/t"
    def rows(lo: Long, n: Long) = spark.range(lo, lo + n)
      .select(col("id").as("k"), (col("id") % 3).cast("int").as("a"),
        (col("id") % 2).cast("int").as("b"))
    Acid.appendTxn(spark, table, rows(0, 50), txnId = 0L)
    Acid.optimize(spark, table, txnId = 1L, targetFiles = 4,
      clusterCol = Some("k"), stats = Some(("k", col("k"))),
      bloom = Some(("k", col("k"))))
    Acid.appendTxnChecked(spark, table, rows(100, 10), txnId = 2L,
      newConstraints = Seq("k_nonneg" -> "k >= 0"))
    val preEvolve = Acid.minmaxStats(table, Acid.currentVersion(table).get, "k")
    assert(preEvolve.nonEmpty, "optimize recorded no zone maps — test setup broken")
    Acid.appendTxnEvolved(spark, table, rows(200, 10), txnId = 3L, Seq("a"))
    val v = Acid.currentVersion(table).get
    // the standing CHECK constraint survives the evolved append and is
    // still ENFORCED by the next checked append
    assert(Acid.constraints(table, v).contains("k_nonneg" -> "k >= 0"),
      "evolved append dropped the standing CHECK constraint")
    intercept[ConstraintViolationException] {
      Acid.appendTxnChecked(spark, table, rows(-5, 3), txnId = 4L)
    }
    // per-file zone maps and blooms survive: skipping/erase stay sharp
    assert(Acid.minmaxStats(table, v, "k").toSet == preEvolve.toSet,
      "evolved append dropped per-file zone maps")
    val (kept, all) = Acid.skipFilesBloom(table, v, "k", 999999L)
    assert(kept.size < all.size,
      "evolved append dropped per-file blooms — point lookups can no longer prune")
  }

  test("Acid eraseKeys: survivors byte-identical, subjects physically gone, delete vectors still apply") {
    import graft.ops.Acid
    val table = java.nio.file.Files.createTempDirectory("graft_acid_erase").toString + "/t"
    val root = java.nio.file.Paths.get(table)
    def rows(lo: Long, n: Long) = spark.range(lo, lo + n)
      .select(col("id").as("k"), (col("id") * 10).as("payload"))
    (0 until 4).foreach(i => Acid.appendTxn(spark, table,
      rows(i * 100, 50), txnId = i.toLong))
    Acid.optimize(spark, table, txnId = 10L, targetFiles = 8,
      clusterCol = Some("k"), bloom = Some(("k", col("k"))))
    // a standing merge-on-read delete UNRELATED to the erasure
    Acid.deleteTxn(spark, table,
      spark.range(0, 400).filter(col("id") % 50 === 1).select(col("id").as("k")),
      "k", txnId = 11L)
    def attrs(): Map[String, (Long, Long)] = {
      val w = java.nio.file.Files.walk(root)
      try w.filter(p => p.toString.endsWith(".parquet"))
        .toArray.map(_.asInstanceOf[java.nio.file.Path])
        .map(p => root.relativize(p).toString ->
          (java.nio.file.Files.size(p),
            java.nio.file.Files.getLastModifiedTime(p).toMillis)).toMap
      finally w.close()
    }
    val beforeAttrs = attrs()
    val subjects = Seq(7L, 205L, 333L)
    val (v, rewritten, total) =
      Acid.eraseKeys(spark, table, subjects, "k", "k", txnId = 12L)
    assert(rewritten > 0 && rewritten < total,
      s"expected a targeted rewrite, got $rewritten/$total")
    // every file that existed before and still exists is byte-untouched
    val afterAttrs = attrs()
    val common = beforeAttrs.keySet intersect afterAttrs.keySet
    assert(common.nonEmpty)
    common.foreach { f =>
      assert(beforeAttrs(f) == afterAttrs(f), s"survivor $f was modified")
    }
    val state = Acid.read(spark, table)
    assert(state.filter(col("k").isin(subjects: _*)).count() == 0L,
      "erased subjects still readable")
    // the unrelated delete vector still hides its keys (k % 50 == 1)
    assert(state.filter(col("k") % 50 === 1).count() == 0L,
      "standing delete vector stopped applying after erase")
    // 200 rows - 4 vector-hidden (k ∈ {1,101,201,301}) - 3 erased subjects
    assert(state.count() == 193L, s"row conservation broke: ${state.count()}")
    // physical bytes of the subjects exist only in pre-erase versions;
    // vacuum forgets them and expired time travel fails loudly
    Acid.vacuum(table, keep = 1)
    intercept[IllegalArgumentException] { Acid.readVersion(spark, table, v - 1) }
    val w2 = java.nio.file.Files.walk(root)
    val liveFiles =
      try w2.filter(p => p.toString.endsWith(".parquet"))
        .toArray.map(_.asInstanceOf[java.nio.file.Path])
      finally w2.close()
    val resurrect = spark.read.parquet(liveFiles.map(_.toString): _*)
      .filter(col("k").isin(subjects: _*)).count()
    assert(resurrect == 0L,
      "subject bytes survive on disk after erase+vacuum — not forgotten")
    // NULL-key rows are never erasure subjects (r19 review: `!isin`
    // evaluates NULL for them — a bare filter dropped them from rewritten
    // files while identical rows in pruned files survived)
    import spark.implicits._
    val tn = java.nio.file.Files.createTempDirectory("graft_erase_null").toString + "/t"
    Acid.reset(tn)
    Acid.appendTxn(spark, tn,
      Seq((Some(1L), 10L), (None, 20L), (Some(3L), 30L), (None, 40L))
        .toDF("k", "payload"), 0L)
    Acid.eraseKeys(spark, tn, Seq(1L), "k", "k", 1L)
    val left = Acid.read(spark, tn).select("payload")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(left == Seq(20L, 30L, 40L),
      s"NULL-key rows were erased alongside the subject: $left")
  }

  test("Acid mergeCow: survivors byte-identical, vector reconciliation, replay no-op, empty-table bootstrap") {
    import graft.ops.Acid
    val table = java.nio.file.Files.createTempDirectory("graft_acid_merge").toString + "/t"
    val root = java.nio.file.Paths.get(table)
    def rows(lo: Long, n: Long) = spark.range(lo, lo + n)
      .select(col("id").as("k"), (col("id") * 10).as("payload"))
    // 4 range-clustered appends: files own contiguous key slices
    (0 until 4).foreach(i => Acid.appendTxn(spark, table,
      rows(i * 100, 100).repartitionByRange(2, col("k")), txnId = i.toLong))
    // standing vector hides k % 25 == 0
    Acid.deleteTxn(spark, table,
      spark.range(0, 400).filter(col("id") % 25 === 0).select(col("id").as("k")),
      "k", txnId = 10L)
    def attrs(): Map[String, (Long, Long)] = {
      val w = java.nio.file.Files.walk(root)
      try w.filter(p => p.toString.endsWith(".parquet"))
        .toArray.map(_.asInstanceOf[java.nio.file.Path])
        .map(p => root.relativize(p).toString ->
          (java.nio.file.Files.size(p),
            java.nio.file.Files.getLastModifiedTime(p).toMillis)).toMap
      finally w.close()
    }
    val before = attrs()
    // key-local change batch: update k=5, resurrect k=50 (vector-deleted),
    // delete k=7, insert k=9999 — all in the low key band
    import spark.implicits._
    val changes = Seq(
      (5L, 5000L, "upsert"),    // update
      (50L, 5050L, "upsert"),   // resurrection of a vector-deleted key
      (7L, 0L, "delete"),       // row delete
      (9999L, 9L, "upsert"))    // fresh insert
      .toDF("k", "payload", "__op")
    val (v, touched, total) =
      Acid.mergeCow(spark, table, changes, "k", txnId = 20L, opCol = Some("__op"))
    assert(touched > 0 && touched * 2 <= total,
      s"key-local merge must touch a strict minority: $touched/$total")
    // untouched files byte-identical
    val after = attrs()
    (before.keySet intersect after.keySet).foreach { f =>
      assert(before(f) == after(f), s"survivor $f was modified") }
    val state = Acid.read(spark, table).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(state(5L) == 5000L, "matched update did not apply")
    assert(state(50L) == 5050L, "upsert of a vector-deleted key must resurrect it")
    assert(!state.contains(7L), "merge delete did not apply")
    assert(state(9999L) == 9L, "not-matched insert did not apply")
    assert(!state.contains(25L) && !state.contains(375L),
      "non-upserted vector-deleted keys must stay deleted after the merge")
    // 400 - 16 vector-hidden (k%25, minus resurrected 50 ⇒ 15) - 1 deleted + 1 inserted
    assert(state.size == 400 - 15 - 1 + 1, s"row conservation broke: ${state.size}")
    // replay no-ops
    assert(Acid.mergeCow(spark, table, changes, "k", 20L, Some("__op"))._1 == v)
    assert(Acid.read(spark, table).count() == state.size.toLong)
    // bootstrap: first merge on an uninitialized table inserts everything
    val t2 = java.nio.file.Files.createTempDirectory("graft_acid_merge2").toString + "/t"
    Acid.mergeCow(spark, t2, changes.filter(col("__op") =!= "delete").drop("__op"),
      "k", txnId = 0L)
    assert(Acid.read(spark, t2).count() == 3L)
  }

  test("Acid restore: metadata-only (no data written), vacuumed target fails loudly") {
    import graft.ops.Acid
    val table = java.nio.file.Files.createTempDirectory("graft_acid_restore").toString + "/t"
    val root = java.nio.file.Paths.get(table)
    def rows(lo: Long, n: Long) = spark.range(lo, lo + n).toDF("k")
    Acid.appendTxn(spark, table, rows(0, 50), txnId = 0L)
    Acid.appendTxn(spark, table, rows(100, 50), txnId = 1L)
    Acid.deleteTxn(spark, table,
      rows(0, 10).select(col("k")), "k", txnId = 2L)
    def parquetCount(): Long = {
      val w = java.nio.file.Files.walk(root)
      try w.filter(p => p.toString.endsWith(".parquet")).count()
      finally w.close()
    }
    val beforeFiles = parquetCount()
    val v = Acid.restore(table, toV = 1L, txnId = 3L)
    assert(parquetCount() == beforeFiles,
      "restore must be metadata-only — it wrote data files")
    assert(Acid.read(spark, table).count() == 100L,
      "restore did not reproduce the target state")
    // the rolled-back delete is still in history until vacuum...
    assert(Acid.readVersion(spark, table, 2L).count() == 90L)
    // ...and a restore to a vacuumed version fails loudly
    Acid.vacuum(table, keep = 1)
    intercept[IllegalArgumentException] { Acid.restore(table, toV = 0L, txnId = 9L) }
    assert(Acid.currentVersion(table).contains(v),
      "failed restore advanced the table")
  }

  test("Acid shallowClone: stat lines stay sharp on the clone; optimize localizes; clone vacuum spares the source") {
    import graft.ops.Acid
    val base = java.nio.file.Files.createTempDirectory("graft_acid_clone")
    val src = s"$base/src"; val dst = s"$base/dst"
    def rows(lo: Long, n: Long) = spark.range(lo, lo + n)
      .select(col("id").as("k"), (col("id") * 10).as("payload"))
    Acid.appendTxn(spark, src, rows(0, 200), txnId = 0L)
    Acid.optimize(spark, src, txnId = 1L, targetFiles = 8,
      clusterCol = Some("k"), stats = Some(("k", col("k"))),
      bloom = Some(("k", col("k"))))
    Acid.shallowClone(src, dst)
    // rerooted stat lines still key the rerooted file lines: zone-map and
    // bloom skipping prune on the CLONE, not just on the source
    val cv = Acid.currentVersion(dst).get
    val (keptZ, allZ) = Acid.skipFiles(dst, cv, "k", 0L, 20L)
    assert(keptZ.nonEmpty && keptZ.size < allZ.size,
      s"clone zone maps must prune: ${keptZ.size}/${allZ.size}")
    val (keptB, allB) = Acid.skipFilesBloom(dst, cv, "k", 999999L)
    assert(keptB.size < allB.size, "clone blooms must prune")
    // skipping read on the clone is correct
    assert(Acid.readSkipping(spark, dst, "k", 0L, 20L)
      .filter(col("k") <= 20).count() == 21L)
    // the source ledger is NOT carried: src txn 0 re-lands on the clone
    Acid.appendTxn(spark, dst, rows(1000, 5), txnId = 0L)
    assert(Acid.read(spark, dst).count() == 205L,
      "clone must start its own txn ledger")
    // optimize on the clone MATERIALIZES it: every referenced file local
    Acid.optimize(spark, dst, txnId = 50L, targetFiles = 2)
    val lines = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(dst, s"manifest-${Acid.currentVersion(dst).get}.txt"))
    lines.forEach(l => if (!l.startsWith("#") && l.nonEmpty)
      assert(!l.contains(".."), s"post-optimize clone still references source: $l"))
    // clone vacuum never deletes source bytes
    val srcRowsBefore = Acid.read(spark, src).count()
    Acid.vacuum(dst, keep = 1)
    assert(Acid.read(spark, src).count() == srcRowsBefore,
      "clone vacuum deleted source data")
    assert(Acid.read(spark, dst).count() == 205L)
  }

  test("Acid hidden partitioning: raw predicates prune exactly, transforms evolve, vectors apply, schema stays clean") {
    import graft.ops.Acid
    val table = java.nio.file.Files.createTempDirectory("graft_acid_hidden").toString + "/t"
    def rows(lo: Long, n: Long) = spark.range(lo, lo + n)
      .select(col("id").as("k"),
        org.apache.spark.sql.functions.timestamp_micros(
          lit(1704067200000000L) + col("id") * 3600000000L).as("ts"), // hourly from 2024-01-01
        (col("id") * 10).as("payload"))
    // gen 1: day transform only; gen 2 EVOLVES the spec (adds bucketing)
    Acid.appendTxnHidden(spark, table, rows(0, 240), txnId = 0L,
      Seq(Acid.dayOf("ts")))
    Acid.appendTxnHidden(spark, table, rows(1000, 240), txnId = 1L,
      Seq(Acid.dayOf("ts"), Acid.bucketOf("k", 4)))
    Acid.deleteTxn(spark, table,
      spark.range(0, 2000).filter(col("id") % 100 === 0).select(col("id").as("k")),
      "k", txnId = 2L)
    val full = Acid.read(spark, table)
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    // raw ts window → day range; raw key equality → bucket value
    val lo = 1704067200000000L + 3L * 86400000000L  // Jan 4
    val hi = 1704067200000000L + 6L * 86400000000L - 1 // end Jan 6
    val dayPred = Seq(("day_ts", Acid.dayOfValue(lo), Acid.dayOfValue(hi)))
    val (dfDay, keptDay, total) = Acid.readPrunedHidden(spark, table, dayPred)
    assert(keptDay < total, s"day prune kept everything: $keptDay/$total")
    assert(canon(dfDay.filter(unix_micros(col("ts")).between(lo, hi))) ==
      canon(full.filter(unix_micros(col("ts")).between(lo, hi))),
      "day-pruned + residual diverged from the full read")
    // bucket predicate: gen-1 files never recorded it → conservatively kept
    val (dfB, keptB, _) = Acid.readPrunedHidden(spark, table, Nil,
      Map("b4_k" -> Acid.bucketOfValue(1001L, 4)))
    assert(keptB < total, "bucket prune kept everything")
    assert(canon(dfB.filter(col("k") === 1001L)) ==
      canon(full.filter(col("k") === 1001L)),
      "bucket-pruned + residual diverged (old-spec files must be kept)")
    // the deleted keys stay deleted through every pruned read
    assert(dfDay.filter(col("k") % 100 === 0).count() == 0L)
    // derived columns never surface in the data schema
    assert(full.columns.toSet == Set("k", "ts", "payload"),
      s"hidden transform leaked into the schema: ${full.columns.toSeq}")
    // all-pruned predicate = legitimate empty result
    val (dfNone, kept0, _) = Acid.readPrunedHidden(spark, table,
      Seq(("day_ts", 999999L, 999999L)))
    assert(kept0 == 0 && dfNone.count() == 0L)
    // replay no-op
    val v = Acid.currentVersion(table).get
    assert(Acid.appendTxnHidden(spark, table, rows(0, 240), 0L,
      Seq(Acid.dayOf("ts"))) == v)
  }

  test("Acid tags: immutable names, vacuum pins tagged snapshots, untagged history ages out") {
    import graft.ops.Acid
    val table = java.nio.file.Files.createTempDirectory("graft_acid_tag").toString + "/t"
    def rows(lo: Long, n: Long) = spark.range(lo, lo + n).toDF("k")
    Acid.appendTxn(spark, table, rows(0, 50), txnId = 0L)    // v0
    Acid.appendTxn(spark, table, rows(100, 30), txnId = 1L)  // v1
    Acid.tagVersion(table, "audit", 1L)
    // a tag is immutable: repointing the same name is a loud error
    intercept[java.nio.file.FileAlreadyExistsException] {
      Acid.tagVersion(table, "audit", 0L)
    }
    // pre-vacuum, the tag reads exactly what version-number travel reads
    assert(Acid.readTag(spark, table, "audit").count() ==
      Acid.readVersion(spark, table, 1L).count())
    Acid.deleteTxn(spark, table,
      spark.range(0, 10).select(col("id").as("k")), "k", txnId = 2L) // v2
    Acid.appendTxn(spark, table, rows(200, 5), txnId = 3L)           // v3
    Acid.vacuum(table, keep = 1)
    // v1 by NUMBER is expired; by NAME it is pinned — and bit-complete
    intercept[IllegalArgumentException] { Acid.readVersion(spark, table, 1L) }
    assert(Acid.readTag(spark, table, "audit")
      .collect().map(_.getLong(0)).sorted.toSeq ==
      ((0L until 50L) ++ (100L until 130L)).sorted)
    // untagged expired manifests are gone; the tagged one survives
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(table, "manifest-0.txt")))
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(table, "manifest-1.txt")))
    // dropping the tag releases the pin: the next vacuum reclaims it
    Acid.dropTag(table, "audit")
    Acid.appendTxn(spark, table, rows(300, 5), txnId = 4L) // advance head
    Acid.vacuum(table, keep = 1)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(table, "manifest-1.txt")),
      "dropped tag must stop pinning its manifest")
    // tagging an already-vacuumed version fails loudly
    intercept[IllegalArgumentException] { Acid.tagVersion(table, "late", 0L) }
  }

  test("Acid optimizeZorder: a 2-D grid prunes on both dimensions; single-column clustering provably cannot") {
    import graft.ops.Acid
    val base = java.nio.file.Files.createTempDirectory("graft_acid_z")
    val zt = s"$base/z"; val rt = s"$base/r"
    // perfect 256×256 grid: two independent uniform dimensions
    val grid = spark.range(0, 65536)
      .select((col("id") % 256).as("a"), (col("id") / 256).cast("long").as("b"))
    Acid.appendTxn(spark, zt, grid, txnId = 0L)
    Acid.appendTxn(spark, rt, grid, txnId = 0L)
    Acid.optimizeZorder(spark, zt, txnId = 1L, targetFiles = 16,
      zCols = Seq("a" -> col("a"), "b" -> col("b")))
    Acid.optimize(spark, rt, txnId = 1L, targetFiles = 16,
      clusterCol = Some("a"), stats = Some(("a", col("a"))))
    val zv = Acid.currentVersion(zt).get
    // both dimensions prune under z-order (quarter-range probes)
    val (ka, alla) = Acid.skipFiles(zt, zv, "a", 0L, 63L)
    val (kb, _) = Acid.skipFiles(zt, zv, "b", 0L, 63L)
    assert(ka.size * 2 <= alla.size, s"a-dim did not prune: ${ka.size}/${alla.size}")
    assert(kb.size * 2 <= alla.size, s"b-dim did not prune: ${kb.size}/${alla.size}")
    // the conjunction prunes multiplicatively (a 2-D tile)
    val (df, keptBoth, total) = Acid.readSkippingAll(spark, zt,
      Seq(("a", 0L, 63L), ("b", 0L, 63L)))
    assert(keptBoth <= math.min(ka.size, kb.size) && keptBoth * 4 <= total,
      s"2-D probe must keep a small tile: $keptBoth/$total")
    assert(df.filter(col("a") <= 63 && col("b") <= 63).count() == 64L * 64L,
      "skipping changed the answer")
    // range clustering on `a` alone: the b-dimension cannot prune AT ALL
    // (every file spans the full b range) — the z-order point
    val rStats = {
      val rv = Acid.currentVersion(rt).get
      // harvest b zone maps for the range-clustered table post-hoc to
      // prove they are useless, not merely missing
      val lines = java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get(rt, s"manifest-$rv.txt"))
      import scala.jdk.CollectionConverters._
      val files = lines.asScala.filterNot(_.startsWith("#")).toSeq
      spark.read.parquet(files.map(f => s"$rt/$f"): _*)
        .groupBy(input_file_name()).agg(min(col("b")), max(col("b")))
        .collect().map(r => (r.getLong(1), r.getLong(2)))
    }
    assert(rStats.forall { case (mn, mx) => mn <= 63L && mx >= 63L },
      "expected every a-clustered file to span the b probe range")
  }

  test("Acid branches: write isolation both ways, fast-forward ledger carry, vacuum pins the fork") {
    import graft.ops.Acid
    val table = java.nio.file.Files.createTempDirectory("graft_acid_branch").toString + "/t"
    def rows(lo: Long, n: Long) = spark.range(lo, lo + n).toDF("k")
    Acid.appendTxn(spark, table, rows(0, 100), txnId = 0L)   // v0
    Acid.deleteTxn(spark, table,
      spark.range(0, 100).filter(col("id") % 10 === 0).select(col("id").as("k")),
      "k", txnId = 1L)                                        // v1: vectors stand
    Acid.createBranch(table, "exp", 1L)
    // immutable name, like tags
    intercept[java.nio.file.FileAlreadyExistsException] {
      Acid.createBranch(table, "exp", 0L)
    }
    // empty branch reads the fork base (vectors applied)
    assert(Acid.readBranch(spark, table, "exp").count() == 90L)
    // two branch commits; replay no-ops against the BRANCH ledger
    Acid.appendTxnBranch(spark, table, "exp", rows(1000, 20), txnId = 100L)
    val h = Acid.appendTxnBranch(spark, table, "exp", rows(2000, 5), txnId = 101L)
    assert(Acid.appendTxnBranch(spark, table, "exp", rows(1000, 20), 100L) == h,
      "replayed branch append advanced the branch")
    // isolation: main never sees branch rows; branch sees its own
    assert(Acid.read(spark, table).count() == 90L, "branch write leaked into main")
    assert(Acid.readBranch(spark, table, "exp").count() == 115L)
    // base's standing vectors still apply on the branch (delete lines carry)
    assert(Acid.readBranch(spark, table, "exp").filter(col("k") % 10 === 0 &&
      col("k") < 100).count() == 0L)
    // vacuum with the branch live: branch data and fork base survive
    Acid.appendTxn(spark, table, rows(5000, 3), txnId = 2L)   // v2 (main moves)
    val deleted = Acid.vacuum(table, keep = 1)
    assert(Acid.readBranch(spark, table, "exp").count() == 115L,
      s"vacuum broke the branch (deleted: $deleted)")
    // main advanced -> fast-forward refuses; merge publishes append-only work
    intercept[IllegalArgumentException] {
      Acid.fastForwardBranch(table, "exp", txnId = 3L)
    }
    val v = Acid.mergeBranch(table, "exp", txnId = 3L)
    assert(Acid.read(spark, table).count() == 90L + 3 + 25,
      "merge lost main's or the branch's rows")
    // branch txns carried into main's ledger: replaying them no-ops
    assert(Acid.appendTxn(spark, table, rows(1000, 20), txnId = 100L) == v,
      "merge must carry the branch txn ledger (stream exactly-once)")
    assert(Acid.branches(table).isEmpty, "merge must retire the branch ref")
    // fast-forward path: fork at head, commit, publish metadata-only
    Acid.createBranch(table, "ff", v)
    Acid.appendTxnBranch(spark, table, "ff", rows(9000, 7), txnId = 200L)
    val v2 = Acid.fastForwardBranch(table, "ff", txnId = 4L)
    assert(v2 == v + 1 && Acid.read(spark, table).count() == 125L)
    assert(Acid.appendTxn(spark, table, rows(9000, 7), txnId = 200L) == v2,
      "fast-forward must carry the branch txn ledger")
    // a branch that recorded deletes refuses to merge (loudly)
    Acid.createBranch(table, "del", v2)
    Acid.appendTxn(spark, table, rows(20000, 2), txnId = 5L) // main advances
    // record a delete ON THE BRANCH via its manifest seam: simulate by
    // branch-appending then checking the guard on a delete-bearing branch
    // (deleteTxnBranch does not exist by design — guard uses delkey lines)
    Acid.dropBranch(table, "del")
    assert(Acid.branches(table).isEmpty)
    // dropBranch removed the branch data dir
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(table, "branch=del")))
  }

  test("Acid cherryPick: picked files survive dropBranch AND vacuum; unpicked data is reclaimed") {
    import graft.ops.Acid
    val table = java.nio.file.Files.createTempDirectory("graft_acid_pick").toString + "/t"
    def rows(lo: Long, n: Long) = spark.range(lo, lo + n).toDF("k")
    Acid.appendTxn(spark, table, rows(0, 100), txnId = 0L)
    Acid.createBranch(table, "exp", 0L)
    Acid.appendTxnBranch(spark, table, "exp", rows(1000, 40), txnId = 100L) // A
    Acid.appendTxnBranch(spark, table, "exp", rows(2000, 25), txnId = 101L) // B
    val v = Acid.cherryPick(table, "exp", branchTxn = 101L, txnId = 1L)
    assert(Acid.read(spark, table).count() == 125L, "pick did not land B's rows")
    // picking a delete-bearing or unknown commit refuses
    intercept[RuntimeException] { Acid.cherryPick(table, "exp", 999L, 2L) }
    // replay no-op; the branch is untouched and still carries A+B
    assert(Acid.cherryPick(table, "exp", 101L, txnId = 1L) == v)
    assert(Acid.readBranch(spark, table, "exp").count() == 165L)
    // drop the branch: A's data is reclaimed, B's (published) data is spared
    Acid.dropBranch(table, "exp")
    assert(Acid.read(spark, table).count() == 125L,
      "dropBranch tore cherry-picked files out of the published table")
    assert(Acid.read(spark, table).filter(col("k") >= 2000L).count() == 25L)
    // vacuum agrees: the picked files stay live through the main manifest
    Acid.appendTxn(spark, table, rows(5000, 3), txnId = 3L)
    Acid.vacuum(table, keep = 1)
    assert(Acid.read(spark, table).count() == 128L,
      "vacuum reclaimed cherry-picked branch files still referenced by main")
    // A's unpublished rows are really gone from disk (no dangling data)
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(table))
    val orphaned =
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala.count(p =>
          p.toString.contains("branch=exp/txn=100") &&
            p.toString.endsWith(".parquet"))
      } finally walk.close()
    assert(orphaned == 0, "unpicked branch data not reclaimed")
  }

  test("Acid dayOf == dayOfValue bit-for-bit, incl. pre-epoch micros (ADVICE r15)") {
    import graft.ops.Acid
    // adversarial micros: pre-epoch (floor vs trunc disagree), exact day
    // boundaries on both sides of zero, and far-future values
    val micros = Seq(
      -1L, -86400000000L, -86400000001L, -86399999999L,
      0L, 1L, 86400000000L, 86399999999L,
      -123456789012345L, 1704067200000000L, 16725225600000000L /* ~2500 */)
    val df = spark.createDataFrame(
      java.util.Arrays.asList(micros.map(Row(_)): _*),
      StructType(Seq(StructField("us", LongType))))
      .withColumn("ts", timestamp_micros(col("us")))
    val (name, expr) = Acid.dayOf("ts")
    val got = df.select(col("us"), expr.as(name)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    micros.foreach { us =>
      assert(got(us) == Acid.dayOfValue(us),
        s"dayOf($us) column=${got(us)} != dayOfValue=${Acid.dayOfValue(us)}")
    }
    // end-to-end: pre-epoch rows must never be pruned away (the r15 bug:
    // trunc-toward-zero shifted pre-epoch day ordinals up by one, so the
    // pruner's floor-based bounds missed files that held matching rows)
    val table = java.nio.file.Files.createTempDirectory("graft_acid_preepoch").toString + "/t"
    val rows = spark.range(0, 96).select(col("id").as("k"),
      timestamp_micros(lit(-4L * 86400000000L) + col("id") * 3600000000L).as("ts"))
    Acid.appendTxnHidden(spark, table, rows.repartitionByRange(4, col("k")),
      txnId = 0L, Seq(Acid.dayOf("ts")))
    val lo = -3L * 86400000000L
    val hi = -86400000001L // days -3..-2 inclusive
    val (pruned, kept, total) = Acid.readPrunedHidden(spark, table,
      Seq(("day_ts", Acid.dayOfValue(lo), Acid.dayOfValue(hi))))
    assert(kept < total, s"pre-epoch day window did not prune: $kept/$total")
    val expect = rows.filter(unix_micros(col("ts")).between(lo, hi)).count()
    assert(pruned.filter(unix_micros(col("ts")).between(lo, hi)).count() == expect,
      "pre-epoch pruning lost rows (floor/trunc mismatch)")
  }

  test("Acid tagVersion serializes with vacuum via the writer lock (ADVICE r15)") {
    import graft.ops.Acid
    val table = java.nio.file.Files.createTempDirectory("graft_acid_taglock").toString + "/t"
    Acid.appendTxn(spark, table, spark.range(0, 20).toDF("k"), txnId = 0L)
    Acid.appendTxn(spark, table, spark.range(20, 40).toDF("k"), txnId = 1L)
    // hold the writer lock (as a concurrent vacuum would) and prove the
    // tag write BLOCKS until release instead of racing the live-set scan
    val lock = java.nio.file.Paths.get(table, "_lock")
    java.nio.file.Files.createFile(lock)
    val fut = scala.concurrent.Future {
      Acid.tagVersion(table, "pinned", 1L)
    }(scala.concurrent.ExecutionContext.global)
    Thread.sleep(150)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(table, "tag-pinned.txt")),
      "tagVersion wrote its tag while the writer lock was held")
    java.nio.file.Files.delete(lock)
    scala.concurrent.Await.result(fut, scala.concurrent.duration.Duration(30, "s"))
    assert(Acid.tags(table) == Map("pinned" -> 1L))
    // dropTag honors the lock too
    java.nio.file.Files.createFile(lock)
    val fut2 = scala.concurrent.Future {
      Acid.dropTag(table, "pinned")
    }(scala.concurrent.ExecutionContext.global)
    Thread.sleep(150)
    assert(Acid.tags(table) == Map("pinned" -> 1L),
      "dropTag removed the tag while the writer lock was held")
    java.nio.file.Files.delete(lock)
    scala.concurrent.Await.result(fut2, scala.concurrent.duration.Duration(30, "s"))
    assert(Acid.tags(table).isEmpty)
  }

  test("Catalog orphan recovery waits out a live writer's pointer flip (ADVICE r15)") {
    import graft.ops.Catalog
    val dir = java.nio.file.Files.createTempDirectory("graft_cat_grace").toString + "/c"
    val df = spark.range(0, 10).toDF("k")
    assert(Catalog.commitTxn(spark, dir, txnId = 0L, Seq("t" -> df)) == 0L)
    // simulate a LIVE foreign writer mid-commit: catalog-1.txt written,
    // pointer not yet flipped
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "catalog-1.txt"),
      s"# txn:999\nt=${graft.ops.Acid.currentVersion(Catalog.tablePath(dir, "t")).get}\n"
        .getBytes("UTF-8"))
    val flipper = scala.concurrent.Future {
      Thread.sleep(300) // the live writer finishes its flip mid-grace-spin
      val tmp = java.nio.file.Paths.get(dir, "_current.tmp.race")
      java.nio.file.Files.write(tmp, "1".getBytes("UTF-8"))
      java.nio.file.Files.move(tmp, java.nio.file.Paths.get(dir, "_current"),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }(scala.concurrent.ExecutionContext.global)
    // pre-fix this threw IllegalStateException ("remove it to recover")
    // against a healthy in-flight manifest; now it waits and rebases to v2
    val v = Catalog.commitTxn(spark, dir, txnId = 1L, Seq("t" -> df))
    scala.concurrent.Await.result(flipper, scala.concurrent.duration.Duration(30, "s"))
    assert(v == 2L, s"expected rebase past the live writer's v1, got v$v")
    assert(Catalog.committedTxns(dir).contains(1L))
  }

  test("Acid readSkippingAll: all-pruned empty frame keeps the evolved schema (ADVICE r15)") {
    import graft.ops.Acid
    import java.nio.file.{Files, Paths}
    val table = java.nio.file.Files.createTempDirectory("graft_acid_emptyskip").toString + "/t"
    // two append generations with EVOLVED schemas (second adds `extra`)
    Acid.appendTxn(spark, table, spark.range(0, 50).select(col("id").as("k")),
      txnId = 0L)
    Acid.appendTxn(spark, table,
      spark.range(50, 100).select(col("id").as("k"), (col("id") * 2).as("extra")),
      txnId = 1L)
    // attach zone maps for EVERY file through the manifest seam (the
    // storage format is the public contract) so the probe below prunes
    // the file list to empty
    val lines = {
      import scala.jdk.CollectionConverters._
      Files.readAllLines(Paths.get(table, "manifest-1.txt")).asScala
        .map(_.trim).filter(_.nonEmpty).toSeq
    }
    val dataFiles = lines.filterNot(_.startsWith("#"))
    val root = Paths.get(table).toAbsolutePath
    val statLines = spark.read.option("mergeSchema", "true")
      .parquet(dataFiles.map(f => s"$table/$f"): _*)
      .groupBy(input_file_name().as("f"))
      .agg(min(col("k")).as("lo"), max(col("k")).as("hi"))
      .collect().map { r =>
        val rel = root.relativize(Paths.get(java.net.URI.create(r.getString(0)))).toString
        s"# minmax:$rel|k|${r.getLong(1)}|${r.getLong(2)}"
      }.sorted.toSeq
    Files.write(Paths.get(table, "manifest-2.txt"),
      (lines.filter(_.startsWith("#")) ++ statLines ++ dataFiles)
        .mkString("", "\n", "\n").getBytes("UTF-8"))
    Files.write(Paths.get(table, "_current"), "2".getBytes("UTF-8"))
    val evolvedCols = Acid.readEvolved(spark, table).columns.toSeq
    assert(evolvedCols.contains("extra"))
    val (empty, kept, total) = Acid.readSkippingAll(spark, table,
      Seq(("k", 5000L, 6000L)))
    assert(kept == 0 && total == dataFiles.size && empty.count() == 0L)
    assert(empty.columns.toSeq.sorted == evolvedCols.sorted,
      s"all-pruned empty frame dropped evolved columns: " +
        s"${empty.columns.toSeq} vs $evolvedCols")
  }

  test("Acid column mapping: rename->append->read chain, chained renames compose, delete-key rename refuses") {
    import graft.ops.Acid
    val table = java.nio.file.Files.createTempDirectory("graft_acid_colmap").toString + "/t"
    val g1 = spark.range(0, 40).select(col("id").as("k"), (col("id") * 2).as("a"))
    Acid.appendTxn(spark, table, g1, txnId = 0L)
    Acid.renameColumn(table, "a", "b", txnId = 1L)
    // generation 2 appends under the renamed name
    Acid.appendTxn(spark, table,
      spark.range(40, 60).select(col("id").as("k"), (col("id") * 3).as("b")),
      txnId = 2L)
    // chained rename: b -> c (covers BOTH generations' physical names)
    Acid.renameColumn(table, "b", "c", txnId = 3L)
    val got = Acid.readEvolved(spark, table)
    assert(got.columns.sorted.toSeq == Seq("c", "k"),
      s"mapped schema wrong: ${got.columns.toSeq}")
    // old-file values surface under the twice-renamed name, new-file too
    assert(got.filter(col("k") === 5).head.getLong(
      got.columns.indexOf("c")) == 10L)
    assert(got.filter(col("k") === 50).head.getLong(
      got.columns.indexOf("c")) == 150L)
    assert(got.count() == 60L)
    // a dropped column disappears without a rewrite and stays gone after
    // further appends
    Acid.dropColumn(table, "c", txnId = 4L)
    Acid.appendTxn(spark, table,
      spark.range(60, 70).select(col("id").as("k")), txnId = 5L)
    val dropped = Acid.readEvolved(spark, table)
    assert(dropped.columns.toSeq == Seq("k") && dropped.count() == 70L)
    // evolved and hidden-partition appends carry the mapping forward like
    // a plain append: the renames and the drop stay in force after each
    Acid.appendTxnEvolved(spark, table,
      spark.range(70, 74).select(col("id").as("k")), txnId = 6L, Seq("k"))
    val afterEvolved = Acid.readEvolved(spark, table)
    assert(afterEvolved.columns.toSeq == Seq("k") && afterEvolved.count() == 74L,
      s"evolved append undid the mapping: ${afterEvolved.columns.toSeq}")
    Acid.appendTxnHidden(spark, table,
      spark.range(74, 80).select(col("id").as("k")), txnId = 7L,
      Seq(Acid.bucketOf("k", 4)))
    val afterHidden = Acid.readEvolved(spark, table)
    assert(afterHidden.columns.toSeq == Seq("k") && afterHidden.count() == 80L,
      s"hidden-partition append undid the mapping: ${afterHidden.columns.toSeq}")
    // delete-vector interplay: renaming the standing delkey refuses
    val t2 = java.nio.file.Files.createTempDirectory("graft_acid_colmap2").toString + "/t"
    Acid.appendTxn(spark, t2, spark.range(0, 20).select(col("id").as("k"),
      lit("x").as("v")), txnId = 0L)
    Acid.deleteTxn(spark, t2, spark.range(0, 5).select(col("id").as("k")),
      "k", txnId = 1L)
    intercept[IllegalArgumentException] {
      Acid.renameColumn(t2, "k", "key", txnId = 2L)
    }
    // a NON-key column still renames, and the vector keeps applying
    Acid.renameColumn(t2, "v", "val", txnId = 3L)
    val t2got = Acid.readEvolved(spark, t2)
    assert(t2got.columns.sorted.toSeq == Seq("k", "val"))
    assert(t2got.count() == 15L, "rename broke the standing delete vector")
  }

  test("Acid reader table: on a renamed, optimized, vector-deleted table with a staged wap batch every public reader returns read's columns, and read's rows under a residual predicate") {
    import graft.ops.Acid
    import spark.implicits._
    val table = java.nio.file.Files.createTempDirectory("graft_acid_readers").toString + "/t"
    // two generations across a rename a -> b: b = 2k before, 3k after
    Acid.appendTxn(spark, table,
      spark.range(0, 60).select(col("id").as("k"), (col("id") * 2).as("a")), txnId = 0L)
    Acid.renameColumn(table, "a", "b", txnId = 1L)
    Acid.appendTxn(spark, table,
      spark.range(60, 120).select(col("id").as("k"), (col("id") * 3).as("b")), txnId = 2L)
    // root-relative zone maps and blooms on k; the rewrite keeps both
    // physical names and the colmap line
    Acid.optimize(spark, table, txnId = 3L, targetFiles = 4, clusterCol = Some("k"),
      stats = Some("k" -> col("k")), bloom = Some("kb" -> col("k")))
    Acid.deleteTxn(spark, table, Seq(7L, 45L, 90L).toDF("k"), "k", txnId = 4L)
    // staged under the new name; the deleted key 45 stays hidden
    Acid.stageWap(spark, table,
      Seq((33L, 3300L), (45L, 4500L), (58L, 5800L)).toDF("k", "b"), "audit")
    val v = Acid.currentVersion(table).get
    Acid.tagVersion(table, "pin", v)
    Acid.createBranch(table, "exp", v)
    val pred = col("k").between(30L, 60L)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
      df.filter(pred).select(col("k"), col("b")).as[(Long, Long)].collect().sorted.toSeq
    val head = Acid.read(spark, table)
    val cols = head.columns.toSeq
    assert(cols == Seq("k", "b"), s"read is not the logical frame: $cols")
    val expect = rows(head)
    assert(expect == (30L to 60L).filterNot(_ == 45L)
      .map(k => (k, if (k < 60L) 2 * k else 3 * k)), s"read's rows wrong: $expect")
    val absent = (5000L to 5100L).find(k => Acid.skipFilesBloom(table, v, "kb", k)._1.isEmpty)
      .getOrElse(fail("no absent key pruned every file"))
    def key(k: Long) = expect.filter(_._1 == k)
    // (reader, its frame, the rows it must return under `pred`); a prune
    // that keeps no file returns no row
    val readers: Seq[(String, () => org.apache.spark.sql.DataFrame, Seq[(Long, Long)])] = Seq(
      ("readVersion", () => Acid.readVersion(spark, table, v), expect),
      ("readTag", () => Acid.readTag(spark, table, "pin"), expect),
      ("readBranch", () => Acid.readBranch(spark, table, "exp"), expect),
      ("readEvolved", () => Acid.readEvolved(spark, table), expect),
      ("readWap", () => Acid.readWap(spark, table, "audit"),
        (expect ++ Seq((33L, 3300L), (58L, 5800L))).sorted),
      ("readSkipping", () => Acid.readSkipping(spark, table, "k", 30L, 60L), expect),
      ("readSkippingAll", () => Acid.readSkippingAll(spark, table,
        Seq(("k", 30L, 60L)))._1, expect),
      ("readBloomSkipping", () => Acid.readBloomSkipping(spark, table, "kb", 50L)
        .filter(col("k") === 50L), key(50L)),
      ("readBloomSkipping, deleted key", () => Acid.readBloomSkipping(spark, table, "kb", 45L)
        .filter(col("k") === 45L), Nil),
      ("readPrunedHidden", () => Acid.readPrunedHidden(spark, table,
        Seq(("day_ts", 0L, 10L)))._1, expect),
      ("readPrunedEvolved", () => Acid.readPrunedEvolved(spark, table,
        Map("k" -> "30"))._1, expect),
      ("readSkipping, all pruned", () => Acid.readSkipping(spark, table, "k", 1000L, 2000L), Nil),
      ("readSkippingAll, all pruned", () => Acid.readSkippingAll(spark, table,
        Seq(("k", 1000L, 2000L)))._1, Nil),
      ("readBloomSkipping, all pruned", () =>
        Acid.readBloomSkipping(spark, table, "kb", absent), Nil))
    val wrong = readers.flatMap { case (name, frame, want) =>
      scala.util.Try {
        val df = frame()
        if (df.columns.toSeq != cols) Some(s"$name columns ${df.columns.toSeq}")
        else Some(rows(df)).filter(_ != want).map(got => s"$name rows $got")
      }.fold(e => Some(s"$name threw ${e.getMessage.take(160)}"), identity)
    }
    assert(wrong.isEmpty, wrong.mkString("\n"))
  }

  test("Acid expireRefs: aged branch releases its vacuum pin; published files survive; refs table tracks the lifecycle") {
    import graft.ops.Acid
    import java.nio.file.{Files, Paths}
    import java.nio.file.attribute.FileTime
    val table = java.nio.file.Files.createTempDirectory("graft_acid_refexp").toString + "/t"
    def rows(lo: Long, n: Long) = spark.range(lo, lo + n).toDF("k")
    Acid.appendTxn(spark, table, rows(0, 50), txnId = 0L)  // v0
    Acid.appendTxn(spark, table, rows(50, 30), txnId = 1L) // v1
    Acid.createBranch(table, "old", 0L)
    Acid.appendTxnBranch(spark, table, "old", rows(1000, 10), txnId = 100L) // D
    // publish D onto main via cherry-pick (branch stays open), then add an
    // UNPUBLISHED commit E — expiry must reclaim E's data, spare D's
    val vPick = Acid.cherryPick(table, "old", branchTxn = 100L, txnId = 2L)
    Acid.appendTxnBranch(spark, table, "old", rows(2000, 5), txnId = 101L)  // E
    Acid.tagVersion(table, "keepme", vPick)
    // refs lists main + tag + branch with its commit count
    val refs0 = Acid.refs(spark, table).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    assert(refs0 == Set(("main", "branch", vPick, 0L), ("keepme", "tag", vPick, 0L),
      ("old", "branch", 0L, 2L)), s"refs listing wrong: $refs0")
    // a fresh ref never expires; an aged one does (keep-list exempts)
    assert(Acid.expireRefs(table, maxAgeMs = 3600L * 1000).isEmpty)
    Files.setLastModifiedTime(Paths.get(table, "branch-old.txt"),
      FileTime.fromMillis(System.currentTimeMillis() - 7200L * 1000))
    assert(Acid.expireRefs(table, 3600L * 1000, keep = Set("old")).isEmpty,
      "a protected ref must never expire")
    assert(Acid.expireRefs(table, 3600L * 1000) == Seq("branch:old"))
    // E's unpublished data reclaimed; D's published rows intact
    assert(Acid.read(spark, table).filter(col("k") >= 2000L).count() == 0L)
    assert(Acid.read(spark, table).filter(col("k") >= 1000L &&
      col("k") < 1010L).count() == 10L,
      "expiry tore cherry-picked files out of the published table")
    import scala.jdk.CollectionConverters._
    val walk = Files.walk(Paths.get(table))
    val eFiles = try walk.iterator().asScala.count(p =>
      p.toString.contains("branch=old/txn=101") && p.toString.endsWith(".parquet"))
      finally walk.close()
    assert(eFiles == 0, "expired branch's exclusive data not reclaimed")
    // the fork-base pin is released: vacuum can now advance past v0
    // (with the branch live it was pinned); the tag still pins vPick
    Acid.vacuum(table, keep = 1)
    intercept[Exception] { Acid.readVersion(spark, table, 0L).count() }
    assert(Acid.readTag(spark, table, "keepme").count() == 90L,
      "vacuum broke the surviving tag")
    assert(Acid.read(spark, table).count() == 90L)
    // expire the tag too: the next vacuum keeps only the live window
    Files.setLastModifiedTime(Paths.get(table, "tag-keepme.txt"),
      FileTime.fromMillis(System.currentTimeMillis() - 7200L * 1000))
    assert(Acid.expireRefs(table, 3600L * 1000) == Seq("tag:keepme"))
    assert(Acid.refs(spark, table).count() == 1L) // only main remains
  }

  test("Acid updateWhere/deleteWhere: survivors byte-identical; vector-hidden rows neither update nor resurrect") {
    import graft.ops.Acid
    import java.nio.file.{Files, Paths}
    val table = java.nio.file.Files.createTempDirectory("graft_acid_cowdml").toString + "/t"
    val df = spark.range(0, 90).select(col("id").as("k"),
      (col("id") % 5).as("grp"), lit("a").as("tag"))
    Acid.appendTxn(spark, table, df.repartitionByRange(3, col("k")), txnId = 0L)
    // hide k=7 behind a merge-on-read vector BEFORE the update
    Acid.deleteTxn(spark, table,
      spark.range(7, 8).select(col("id").as("k")), "k", txnId = 1L)
    val before = {
      import scala.jdk.CollectionConverters._
      Files.list(Paths.get(table, "txn=0")).iterator().asScala
        .filter(_.toString.endsWith(".parquet"))
        .map(p => p.getFileName.toString ->
          (Files.size(p), Files.getLastModifiedTime(p).toMillis)).toMap
    }
    // key-local UPDATE: only the file(s) holding k < 30 rewrite
    val (_, touched, total) = Acid.updateWhere(spark, table,
      Seq("tag" -> lit("B"), "grp" -> (col("grp") + 100L)),
      col("k") < 30 && col("k") % 2 === 1, txnId = 2L)
    assert(touched > 0 && touched < total, s"COW must be partial: $touched/$total")
    // untouched original files are byte-identical (size + mtime)
    val after = {
      import scala.jdk.CollectionConverters._
      Files.list(Paths.get(table, "txn=0")).iterator().asScala
        .filter(_.toString.endsWith(".parquet"))
        .map(p => p.getFileName.toString ->
          (Files.size(p), Files.getLastModifiedTime(p).toMillis)).toMap
    }
    val survivorsIntact = after.count { case (n, meta) => before.get(n).contains(meta) }
    assert(survivorsIntact >= total - touched,
      s"a survivor file was rewritten: before=$before after=$after")
    val got = Acid.read(spark, table)
    // updated rows carry new values computed from PRE-update columns
    assert(got.filter(col("k") === 9).head.getString(2) == "B")
    assert(got.filter(col("k") === 9).head.getLong(1) == 104L)
    // even rows and k >= 30 untouched
    assert(got.filter(col("k") === 8).head.getString(2) == "a")
    assert(got.filter(col("k") === 31).head.getString(2) == "a")
    // the vector-hidden row k=7 matched the predicate but must NOT
    // resurrect (subtractDeletes runs before the rewrite)
    assert(got.filter(col("k") === 7).count() == 0L,
      "updateWhere resurrected a vector-hidden row")
    assert(got.count() == 89L)
    // deleteWhere: NULL predicate keeps the row (three-valued SQL DELETE)
    val t2 = java.nio.file.Files.createTempDirectory("graft_acid_cowdel").toString + "/t"
    Acid.appendTxn(spark, t2, spark.range(0, 20).select(
      when(col("id") % 4 === 0, lit(null).cast("long")).otherwise(col("id")).as("k")),
      txnId = 0L)
    Acid.deleteWhere(spark, t2, col("k") % 3 === 0, txnId = 1L)
    val left = Acid.read(spark, t2)
    assert(left.filter(col("k").isNull).count() == 5L,
      "NULL-predicate rows must survive a DELETE WHERE")
    assert(left.filter(col("k") % 3 === 0).count() == 0L)
    // replay no-ops at the same version
    val (v1, t1, _) = Acid.deleteWhere(spark, t2, col("k") % 3 === 0, txnId = 1L)
    assert(t1 == 0 && v1 == Acid.currentVersion(t2).get)
  }

  test("Acid publish txn-id collision refuses instead of destroying the ref (ADVICE r16)") {
    import graft.ops.Acid
    val table = java.nio.file.Files.createTempDirectory("graft_acid_ffcollide").toString + "/t"
    def rows(lo: Long, n: Long) = spark.range(lo, lo + n).toDF("k")
    Acid.appendTxn(spark, table, rows(0, 50), txnId = 7L) // main ledger holds 7
    Acid.createBranch(table, "exp", 0L)
    Acid.appendTxnBranch(spark, table, "exp", rows(1000, 10), txnId = 100L)
    // publishing under an id that an UNRELATED main commit already carries
    // must refuse loudly — the r16 bug dropped the ref without publishing
    intercept[IllegalArgumentException] {
      Acid.fastForwardBranch(table, "exp", txnId = 7L)
    }
    assert(Acid.branches(table).contains("exp"),
      "txn-id collision silently destroyed the branch ref")
    assert(Acid.readBranch(spark, table, "exp").count() == 60L,
      "collision refusal lost branch data")
    // mergeBranch shares the guard
    intercept[IllegalArgumentException] {
      Acid.mergeBranch(table, "exp", txnId = 7L)
    }
    assert(Acid.branches(table).contains("exp"))
    // the legitimate publish still works, and its replay no-ops (ref gone)
    val v = Acid.fastForwardBranch(table, "exp", txnId = 8L)
    assert(Acid.read(spark, table).count() == 60L)
    assert(Acid.fastForwardBranch(table, "exp", txnId = 8L) == v,
      "replayed completed publish must no-op")
    // cherryPick: a publish id colliding with main while the PICKED commit
    // is absent must refuse, not silently skip the pick
    Acid.createBranch(table, "exp2", v)
    Acid.appendTxnBranch(spark, table, "exp2", rows(3000, 5), txnId = 300L)
    intercept[IllegalArgumentException] {
      Acid.cherryPick(table, "exp2", branchTxn = 300L, txnId = 7L)
    }
    val v2 = Acid.cherryPick(table, "exp2", branchTxn = 300L, txnId = 9L)
    assert(Acid.read(spark, table).count() == 65L)
    assert(Acid.cherryPick(table, "exp2", branchTxn = 300L, txnId = 9L) == v2)
    Acid.dropBranch(table, "exp2")
  }

  test("Acid appendTxnBranch refuses a txn id already published to main (ADVICE r16)") {
    import graft.ops.Acid
    val table = java.nio.file.Files.createTempDirectory("graft_acid_brreplay").toString + "/t"
    def rows(lo: Long, n: Long) = spark.range(lo, lo + n).toDF("k")
    Acid.appendTxn(spark, table, rows(0, 100), txnId = 0L) // v0
    Acid.createBranch(table, "b", 0L)
    Acid.appendTxnBranch(spark, table, "b", rows(1000, 20), txnId = 100L)
    Acid.mergeBranch(table, "b", txnId = 1L) // main now references branch=b/txn=100 files
    assert(Acid.read(spark, table).count() == 120L)
    // re-create the branch at the PRE-merge fork and replay the same txn id:
    // the r16 bug overwrote (mode=overwrite) the published data files under
    // branch=b/txn=100/, silently corrupting main's committed snapshot
    Acid.createBranch(table, "b", 0L)
    intercept[IllegalArgumentException] {
      Acid.appendTxnBranch(spark, table, "b", rows(5000, 99), txnId = 100L)
    }
    assert(Acid.read(spark, table).count() == 120L,
      "branch replay corrupted main's committed snapshot")
    assert(Acid.read(spark, table)
      .filter(col("k") >= 1000L && col("k") < 1020L).count() == 20L,
      "published rows were overwritten by the branch replay")
    // a FRESH id on the re-created branch still appends normally
    Acid.appendTxnBranch(spark, table, "b", rows(6000, 3), txnId = 101L)
    assert(Acid.readBranch(spark, table, "b").count() == 103L)
    Acid.dropBranch(table, "b")
    assert(Acid.read(spark, table).count() == 120L,
      "dropBranch tore published files out of main")
  }

  test("Acid blooms survive degenerate inputs: NULL keys and all-rows-deleted optimize (ADVICE r16)") {
    import graft.ops.Acid
    val table = java.nio.file.Files.createTempDirectory("graft_acid_bloomnull").toString + "/t"
    // nullable key column: every 7th key is NULL (the r16 bug NPEd on the
    // null word index); 0..99 over 2 files after optimize
    val df = spark.range(0, 100).select(
      when(col("id") % 7 === 0, lit(null).cast("long"))
        .otherwise(col("id")).as("k"))
    Acid.appendTxn(spark, table, df, txnId = 0L)
    val v1 = Acid.optimize(spark, table, txnId = 1L, targetFiles = 2,
      clusterCol = Some("k"), bloom = Some(("k", col("k"))))
    // blooms recorded; a present key keeps its file, and no row is lost
    val (kept, all) = Acid.skipFilesBloom(table, v1, "k", 13L)
    assert(all.size == 2 && kept.nonEmpty)
    assert(spark.read.parquet(kept.map(f => s"$table/$f"): _*)
      .filter(col("k") === 13L).count() == 1L,
      "bloom pruned the file holding the probed key")
    assert(Acid.read(spark, table).count() == 100L)
    // all-NULL-key survivors: delete every non-null key, re-optimize with
    // blooms — the merged file's keys are ALL null (ndv 0, every position
    // null); no bloom line is recorded and reads stay correct
    Acid.deleteTxn(spark, table,
      spark.range(0, 100).select(col("id").as("k")), "k", txnId = 2L)
    val v3 = Acid.optimize(spark, table, txnId = 3L, targetFiles = 1,
      bloom = Some(("k", col("k"))))
    assert(Acid.read(spark, table).count() == 15L) // the NULL-key rows survive
    val (kept3, all3) = Acid.skipFilesBloom(table, v3, "k", 13L)
    assert(kept3 == all3, "a file with no recorded bloom must be kept")
    // truly ZERO-ROW optimize (the NDV aggregate's max(ndv) row is NULL —
    // the exact r16 NPE): null-free table, delete everything, re-optimize
    val t2 = java.nio.file.Files.createTempDirectory("graft_acid_bloomempty").toString + "/t"
    Acid.appendTxn(spark, t2, spark.range(0, 40).toDF("k"), txnId = 0L)
    Acid.deleteTxn(spark, t2, spark.range(0, 40).select(col("id").as("k")),
      "k", txnId = 1L)
    val v2e = Acid.optimize(spark, t2, txnId = 2L, targetFiles = 1,
      bloom = Some(("k", col("k"))))
    assert(v2e > 0L)
    assert(Acid.read(spark, t2).count() == 0L)
    val (kept2, all2) = Acid.skipFilesBloom(t2, v2e, "k", 13L)
    assert(kept2 == all2, "empty files carry no bloom line and must be kept")
  }

  test("changeFeedRow: update images pair exactly; MoR deletes surface; maintenance rewrites are silent; legacy feed refuses the window") {
    import spark.implicits._
    import graft.ops.Acid
    val t = java.nio.file.Files.createTempDirectory("graft_cdfrow").toString + "/t"
    Acid.reset(t)
    Acid.appendTxn(spark, t,
      Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L)).toDF("k", "s", "x"),
      txnId = 0L)                                                    // v0
    // v1: one MERGE carrying all three operation kinds
    Acid.mergeCow(spark, t,
      Seq((2L, "b", 25L, "upsert"), (4L, "d", 40L, "upsert"),
        (3L, "c", 0L, "delete")).toDF("k", "s", "x", "op"),
      "k", txnId = 1L, opCol = Some("op"))
    Acid.deleteTxn(spark, t, Seq(1L).toDF("k"), "k", txnId = 2L)     // v2 MoR
    Acid.compactDeletes(spark, t, txnId = 3L)                        // v3 maintenance
    Acid.optimize(spark, t, txnId = 4L, targetFiles = 1)             // v4 maintenance
    val feed = Acid.changeFeedRow(spark, t, 0L, 4L, "k")
      .select("k", "s", "x", "change_type", "commit_version")
      .as[(Long, String, Long, String, Long)].collect().toSet
    // exactly five events: the merge's three ops (update as a pre/post
    // PAIR) and the MoR delete; v3/v4 maintenance emit NOTHING
    assert(feed == Set(
      (2L, "b", 20L, "update_preimage", 1L),
      (2L, "b", 25L, "update_postimage", 1L),
      (4L, "d", 40L, "insert", 1L),
      (3L, "c", 30L, "delete", 1L),
      (1L, "a", 10L, "delete", 2L)), s"row feed wrong: $feed")
    // a sub-window sees only its own commits
    val sub = Acid.changeFeedRow(spark, t, 1L, 2L, "k")
      .select("k", "change_type").as[(Long, String)].collect().toSet
    assert(sub == Set((1L, "delete")), s"sub-window feed wrong: $sub")
    // the file-granular legacy feed REFUSES to cross the rewrite commits
    intercept[IllegalArgumentException] {
      Acid.changeFeed(spark, t, 0L, 4L).collect()
    }
    // after a rename, a MERGE's update images pair under the NEW name: each
    // step reads its removed and added files as the logical frame
    Acid.renameColumn(t, "x", "amount", txnId = 5L)                  // v5
    Acid.mergeCow(spark, t, Seq((2L, "b", 26L)).toDF("k", "s", "amount"),
      "k", txnId = 6L)                                               // v6
    val renamed = Acid.changeFeedRow(spark, t, 4L, 6L, "k")
    assert(renamed.columns.toSeq ==
      Seq("k", "s", "amount", "change_type", "commit_version"), renamed.columns.toSeq)
    val renamedFeed = renamed.as[(Long, String, Long, String, Long)].collect().toSet
    assert(renamedFeed == Set(
      (2L, "b", 25L, "update_preimage", 6L),
      (2L, "b", 26L, "update_postimage", 6L)), s"renamed feed wrong: $renamedFeed")
  }

  test("row lineage: ids dense per generation, stable across MoR delete + compaction, high-water mark never reused") {
    import spark.implicits._
    import graft.ops.Acid
    val t = java.nio.file.Files.createTempDirectory("graft_rowlin").toString + "/t"
    Acid.reset(t)
    Acid.appendTxn(spark, t, Seq((10L, "a"), (20L, "b"), (30L, "c")).toDF("k", "s"), 0L)
    Acid.assignRowIds(spark, t, 1L)
    Acid.appendTxn(spark, t, Seq((40L, "d"), (50L, "e")).toDF("k", "s"), 2L)
    Acid.assignRowIds(spark, t, 3L)
    def ids() = Acid.readLineage(spark, t).select("k", "row_id")
      .as[(Long, Long)].collect().toMap
    val m0 = ids()
    assert(m0.values.toSeq.sorted == Seq(0L, 1L, 2L, 3L, 4L), s"ids not dense: $m0")
    assert(Set(40L, 50L).map(m0) == Set(3L, 4L), "generation 2 must own the top range")
    // re-running with no new files assigns nothing (incremental no-op)
    Acid.assignRowIds(spark, t, 4L)
    assert(ids() == m0)
    // MoR delete then id-preserving compaction: survivors keep ids exactly
    Acid.deleteTxn(spark, t, Seq(20L).toDF("k"), "k", 5L)
    Acid.optimizeLineage(spark, t, 6L, targetFiles = 1)
    val m1 = ids()
    assert(m1 == m0 - 20L, s"ids moved: $m1 vs $m0")
    // the high-water mark survives compaction: fresh rows allocate ABOVE
    // every id ever issued — 1 was deleted, but its id is never reused
    Acid.appendTxn(spark, t, Seq((60L, "f"), (70L, "g")).toDF("k", "s"), 7L)
    Acid.assignRowIds(spark, t, 8L)
    val m2 = ids()
    assert(Set(60L, 70L).map(m2) == Set(5L, 6L), s"high-water mark violated: $m2")
    assert((m2 - 60L - 70L) == m1)
    // replaying an assignment txn no-ops at the version level
    val v = Acid.currentVersion(t).get
    Acid.assignRowIds(spark, t, 8L)
    assert(Acid.currentVersion(t).get == v)
  }

  test("positional delete vectors: coexist with equality vectors, time travel honors them, change feeds refuse the window") {
    import spark.implicits._
    import graft.ops.Acid
    val t = java.nio.file.Files.createTempDirectory("graft_pdel").toString + "/t"
    Acid.reset(t)
    val rows = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "s")
    Acid.appendTxn(spark, t, rows, 0L)
    Acid.appendTxn(spark, t, rows, 1L) // exact duplicates
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("k")).orderBy(col("_file"), col("_pos"))
    Acid.deletePositionsTxn(spark, t,
      Acid.readPositions(spark, t).withColumn("rn", row_number().over(w))
        .filter(col("rn") > 1).select(col("_file").as("f"), col("_pos").as("pos")),
      txnId = 2L)
    assert(Acid.read(spark, t).count() == 3L, "dedup via positions")
    // equality vector ON TOP of the positional vector: k=2 disappears
    Acid.deleteTxn(spark, t, Seq(2L).toDF("k"), "k", txnId = 3L)
    val vis = Acid.read(spark, t).select("k").as[Long].collect().sorted
    assert(vis.toSeq == Seq(1L, 3L), s"both vector kinds must apply: ${vis.toSeq}")
    // time travel: v1 = doubled, v2 = deduped, v3 = deduped minus k=2
    assert(Acid.readVersion(spark, t, 1L).count() == 6L)
    assert(Acid.readVersion(spark, t, 2L).count() == 3L)
    assert(Acid.readVersion(spark, t, 3L).count() == 2L)
    // change feeds refuse windows crossing the positional commit, loudly
    val e1 = intercept[IllegalArgumentException] {
      Acid.changeFeed(spark, t, 1L, 2L).collect() }
    assert(e1.getMessage.contains("POSITIONAL"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      Acid.changeFeedRow(spark, t, 1L, 2L, "k").collect() }
    assert(e2.getMessage.contains("POSITIONAL"), e2.getMessage)
    // compaction folds both vector kinds; the feed works again downstream
    Acid.optimize(spark, t, txnId = 4L, targetFiles = 1)
    val folded = Acid.headManifest(t)
    assert(folded.pdels.isEmpty && folded.deletes.isEmpty)
    Acid.appendTxn(spark, t, Seq((9L, "z")).toDF("k", "s"), 5L)
    val feed = Acid.changeFeedRow(spark, t, 4L, 5L, "k")
      .select("k", "change_type").as[(Long, String)].collect().toSet
    assert(feed == Set((9L, "insert")))
  }

  test("positional vectors: vacuum keeps live vector files, shallow clones inherit hides, erase folds them") {
    import spark.implicits._
    import graft.ops.Acid
    val t = java.nio.file.Files.createTempDirectory("graft_pdel2").toString + "/t"
    Acid.reset(t)
    Acid.appendTxn(spark, t, Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("k", "x"), 0L)
    Acid.appendTxn(spark, t, Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("k", "x"), 1L)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("k")).orderBy(col("_file"), col("_pos"))
    Acid.deletePositionsTxn(spark, t,
      Acid.readPositions(spark, t).withColumn("rn", row_number().over(w))
        .filter(col("rn") > 1).select(col("_file").as("f"), col("_pos").as("pos")),
      txnId = 2L)
    assert(Acid.read(spark, t).count() == 3L)
    // vacuum past the pre-vector versions: the VECTOR files must survive
    // (they are live by reference) and the visible state must not move
    Acid.appendTxn(spark, t, Seq((4L, 40L)).toDF("k", "x"), 3L)
    Acid.vacuum(t, keep = 2)
    assert(Acid.read(spark, t).count() == 4L,
      "vacuum GC'd a live positional vector — rows resurrected or lost")
    // a shallow clone inherits the hides zero-copy
    val c = java.nio.file.Files.createTempDirectory("graft_pdel2c").toString + "/c"
    Acid.shallowClone(t, c)
    assert(Acid.read(spark, c).count() == 4L,
      "shallow clone dropped inherited positional hides")
    assert(Acid.read(spark, c).select("k").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 3L, 4L))
    // bloom-pruned GDPR erase folds standing vectors instead of carrying
    // hidden rows raw into re-positioned files
    Acid.analyzeTable(spark, t, txnId = 5L, bloom = Some(("k", col("k"))))
    Acid.eraseKeys(spark, t, Seq(2L), "k", "k", txnId = 6L)
    val vis = Acid.read(spark, t).select("k").as[Long].collect().sorted.toSeq
    assert(vis == Seq(1L, 3L, 4L), s"erase under vectors wrong: $vis")
    assert(Acid.read(spark, t).count() ==
      Acid.read(spark, t).select("k").distinct().count(),
      "a vector-hidden duplicate resurrected through the erase rewrite")
    // a position naming an unknown file refuses loudly — a delete that
    // silently hides nothing is the dangerous failure mode
    val bad = intercept[IllegalArgumentException] {
      Acid.deletePositionsTxn(spark, t,
        Seq(("txn=999/nope.parquet", 0L)).toDF("f", "pos"), txnId = 9L)
    }
    assert(bad.getMessage.contains("not in"), bad.getMessage)
    // a vacuumed-away feed window refuses loudly instead of IOExceptioning
    Acid.vacuum(t, keep = 1)
    val gone = intercept[IllegalArgumentException] {
      Acid.changeFeedRow(spark, t, 0L, Acid.currentVersion(t).get, "k")
    }
    assert(gone.getMessage.contains("vacuumed"), gone.getMessage)
  }

  test("branch DML: rewrites stay branch-local, replays no-op, three-way publishes refuse the resurrect") {
    import spark.implicits._
    import graft.ops.Acid
    val t = java.nio.file.Files.createTempDirectory("graft_brdml").toString + "/t"
    Acid.reset(t)
    Acid.appendTxn(spark, t,
      Seq((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L)).toDF("k", "x"), 0L)
    Acid.createBranch(t, "b", 0L)
    val (bk, touched, total) = Acid.mergeCowBranch(spark, t, "b",
      Seq((2L, 22L, "upsert"), (7L, 70L, "upsert"), (3L, 0L, "delete"))
        .toDF("k", "x", "op"), "k", txnId = 10L, opCol = Some("op"))
    assert(touched >= 1 && touched <= total)
    // branch sees the DML, main is bit-blind
    def st(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "x").as[(Long, Long)].collect().toMap
    assert(st(Acid.readBranch(spark, t, "b")) ==
      Map(1L -> 10L, 2L -> 22L, 4L -> 40L, 7L -> 70L))
    assert(st(Acid.read(spark, t)) ==
      Map(1L -> 10L, 2L -> 20L, 3L -> 30L, 4L -> 40L))
    // MoR delete on the branch; replays of both DMLs no-op at the head
    Acid.deleteTxnBranch(spark, t, "b", Seq(4L).toDF("k"), "k", txnId = 11L)
    val head = Acid.branches(t)("b")._2
    Acid.mergeCowBranch(spark, t, "b",
      Seq((2L, 22L, "upsert")).toDF("k", "x", "op"), "k", 10L, Some("op"))
    Acid.deleteTxnBranch(spark, t, "b", Seq(4L).toDF("k"), "k", 11L)
    assert(Acid.branches(t)("b")._2 == head, "branch DML replay moved the head")
    assert(st(Acid.readBranch(spark, t, "b")) ==
      Map(1L -> 10L, 2L -> 22L, 7L -> 70L))
    // main advances; every three-way publish path refuses the DML branch
    // LOUDLY (merging only the branch's added files would resurrect the
    // pre-DML rows); cherry-pick/rebase guards run before any claim
    Acid.appendTxnCAS(spark, t, Seq((8L, 80L)).toDF("k", "x"), 13L)
    // cross-incarnation guard: a txn on main but NOT in the branch's own
    // ledger refuses (a fork-base txn would legitimately no-op instead)
    intercept[IllegalArgumentException] {
      Acid.mergeCowBranch(spark, t, "b",
        Seq((9L, 90L)).toDF("k", "x"), "k", txnId = 13L)
    }
    val e1 = intercept[IllegalArgumentException] {
      Acid.cherryPick(t, "b", branchTxn = 10L, txnId = 14L) }
    assert(e1.getMessage.contains("REWROTE"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      Acid.rebaseBranch(t, "b", txnId = 15L) }
    assert(e2.getMessage.contains("deletes since the fork") ||
      e2.getMessage.contains("REWROTE"), e2.getMessage)
    val prevStale = Acid.ClaimStaleMs
    Acid.ClaimStaleMs = 200L
    try {
      val e3 = intercept[IllegalArgumentException] {
        Acid.mergeBranch(t, "b", txnId = 16L) }
      assert(e3.getMessage.contains("deletes since the fork") ||
        e3.getMessage.contains("REWROTE"), e3.getMessage)
    } finally Acid.ClaimStaleMs = prevStale
    // the branch (and main) survive the refusals intact
    assert(st(Acid.readBranch(spark, t, "b")) ==
      Map(1L -> 10L, 2L -> 22L, 7L -> 70L))
    assert(st(Acid.read(spark, t))(8L) == 80L)
  }

  test("column defaults follow renames and drops; defaults refuse existing columns; plain optimize refuses lineage tables") {
    import spark.implicits._
    import graft.ops.Acid
    val t = java.nio.file.Files.createTempDirectory("graft_coldef").toString + "/t"
    Acid.reset(t)
    Acid.appendTxn(spark, t, Seq((1L, "a"), (2L, "b")).toDF("k", "s"), 0L)
    // a default on an EXISTING column refuses (stored NULLs would masquerade)
    intercept[IllegalArgumentException] {
      Acid.addColumnDefault(spark, t, "s", "'x'", 1L) }
    Acid.addColumnDefault(spark, t, "region", "'unset'", 1L)
    Acid.appendTxnChecked(spark, t,
      Seq((3L, "c", "east")).toDF("k", "s", "region"), 2L)
    Acid.renameColumn(t, "region", "area", 3L)
    val got = Acid.readEvolved(spark, t)
    assert(got.columns.sorted.toSeq == Seq("area", "k", "s"),
      s"phantom column after rename: ${got.columns.toSeq}")
    val m = got.select("k", "area").as[(Long, String)].collect().toMap
    assert(m == Map(1L -> "unset", 2L -> "unset", 3L -> "east"), s"$m")
    // the auto NOT NULL constraint followed the rename: a NULL area refuses
    intercept[graft.ops.ConstraintViolationException] {
      Acid.appendTxnChecked(spark, t,
        Seq((4L, "d", null: String)).toDF("k", "s", "area"), 4L) }
    // dropping the column takes the default with it — no resurrection
    Acid.dropColumn(t, "area", 5L)
    assert(Acid.readEvolved(spark, t).columns.sorted.toSeq == Seq("k", "s"))
    // plain optimize refuses a row-lineage table loudly (id reuse hazard)
    val t2 = java.nio.file.Files.createTempDirectory("graft_linopt").toString + "/t"
    Acid.reset(t2)
    Acid.appendTxn(spark, t2, Seq((1L, 1L)).toDF("k", "x"), 0L)
    Acid.assignRowIds(spark, t2, 1L)
    val e = intercept[IllegalArgumentException] {
      Acid.optimize(spark, t2, 2L, targetFiles = 1) }
    assert(e.getMessage.contains("optimizeLineage"), e.getMessage)
  }

  test("rewrites across schema generations: optimize preserves stored values; DML works over the logical frame; optimizeWhere refuses lineage") {
    import spark.implicits._
    import graft.ops.Acid
    // -- the ADVICE r17 corruption scenario: ADD COLUMN ... DEFAULT, a
    // post-evolution append with STORED values, then OPTIMIZE. A plain
    // rewrite read lets an arbitrary footer drop the new column; the
    // carried coldefault would masquerade the stored values as the
    // default. The mergeSchema rewrite must keep them bit-exact.
    val t = java.nio.file.Files.createTempDirectory("graft_rwgen").toString + "/t"
    Acid.reset(t)
    Acid.appendTxn(spark, t, Seq((1L, "a"), (2L, "b")).toDF("k", "s"), 0L)
    Acid.addColumnDefault(spark, t, "region", "'unset'", 1L)
    Acid.appendTxnChecked(spark, t,
      Seq((3L, "c", "east"), (4L, "d", "west")).toDF("k", "s", "region"), 2L)
    Acid.optimize(spark, t, 3L, targetFiles = 1)
    val got = Acid.readEvolved(spark, t)
      .select("k", "region").as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "unset", 2L -> "unset", 3L -> "east", 4L -> "west"),
      s"optimize corrupted a schema generation: $got")
    // a rename generation survives the rewrite the same way: both physical
    // names ride through the merged frame and the carried colmap stitches
    Acid.renameColumn(t, "region", "area", 4L)
    Acid.appendTxn(spark, t,
      Seq((5L, "e", "north")).toDF("k", "s", "area"), 5L)
    Acid.optimize(spark, t, 6L, targetFiles = 1)
    val got2 = Acid.readEvolved(spark, t)
      .select("k", "area").as[(Long, String)].collect().toMap
    assert(got2 == Map(1L -> "unset", 2L -> "unset", 3L -> "east",
      4L -> "west", 5L -> "north"), s"optimize corrupted a rename generation: $got2")
    // -- row-level DML WORKS across schema generations (r18 lift): probe
    // and rewrite run over the LOGICAL frame, so predicates see the
    // post-rename name and default-filled values. Fresh-generation append
    // first so the table genuinely mixes file schemas again.
    Acid.appendTxn(spark, t, Seq((7L, "g", "south")).toDF("k", "s", "area"), 11L)
    Acid.updateWhere(spark, t, Seq("s" -> lit("hit")), col("area") === "east", 12L)
    def evolved() = Acid.readEvolved(spark, t).select("k", "s", "area")
      .as[(Long, String, String)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    val got3 = evolved()
    assert(got3(3L) == (("hit", "east")), s"pred on renamed column missed: $got3")
    assert(got3(1L) == (("a", "unset")) && got3(7L) == (("g", "south")),
      s"carried rows corrupted by evolved UPDATE: $got3")
    Acid.mergeCow(spark, t,
      Seq((1L, "z", "west2"), (8L, "h", "north2")).toDF("k", "s", "area"), "k", 13L)
    val got4 = evolved()
    assert(got4(1L) == (("z", "west2")) && got4(8L) == (("h", "north2")),
      s"evolved MERGE wrong: $got4")
    assert(got4(2L) == (("b", "unset")), s"evolved MERGE disturbed a carried row: $got4")
    // updateWhereCAS works across schema generations too (r19 lift): the
    // lock-free probe/rewrite run over the logical frame ...
    Acid.updateWhereCAS(spark, t, Seq("s" -> lit("q")), col("k") === 1L, 14L)
    assert(evolved()(1L) == (("q", "west2")), s"evolved CAS update missed: ${evolved()}")
    // ... and its commute analysis is narrowed, not dropped: a CONCURRENT
    // evolution commit landing between the snapshot and the claim changes
    // what the logical rewrite should have produced — loud abort, table
    // semantics unmoved (the interloping rename itself stands)
    val eC = intercept[graft.ops.Acid.WriteConflictException] {
      Acid.updateWhereCAS(spark, t, Seq("s" -> lit("r")), col("k") === 1L, 16L,
        beforeCommit = () => { Acid.renameColumn(t, "area", "sector", 17L); () })
    }
    assert(eC.getMessage.contains("no longer commutes"), eC.getMessage)
    assert(Acid.readEvolved(spark, t).filter(col("s") === "r").isEmpty,
      "aborted CAS update landed rows")
    Acid.renameColumn(t, "sector", "area", 18L) // undo for the checks below
    // -- DML writes are constraint-GATED like appends (r18 review): an
    // explicit NULL into the defaulted column would be masqueraded as the
    // default by the read-side coalesce — the auto NOT NULL refuses it
    // with the table unmoved
    intercept[graft.ops.ConstraintViolationException] {
      Acid.updateWhere(spark, t, Seq("area" -> lit(null).cast("string")),
        col("k") === 4L, 15L) }
    assert(evolved()(4L) == (("d", "west")), "refused UPDATE mutated the table")
    // -- a branch forked from the evolved main reads through the same
    // mapping+defaults semantics (plain scans let a footer win — r18)
    Acid.createBranch(t, "ev", Acid.currentVersion(t).get)
    Acid.appendTxnBranch(spark, t, "ev",
      Seq((9L, "i", "south")).toDF("k", "s", "area"), 10L)
    val br = Acid.readBranch(spark, t, "ev")
      .select("k", "area").as[(Long, String)].collect().toMap
    assert(br == Map(1L -> "west2", 2L -> "unset", 3L -> "east",
      4L -> "west", 5L -> "north", 7L -> "south", 8L -> "north2",
      9L -> "south"),
      s"branch read corrupted a schema generation: $br")
    // -- and the WHOLE branch lifecycle crosses generations now: branch
    // MERGE over the evolved fork, main advances, DML rebase, publish
    Acid.mergeCowBranch(spark, t, "ev",
      Seq((2L, "bb", "east3")).toDF("k", "s", "area"), "k", 20L)
    assert(Acid.readBranch(spark, t, "ev")
      .filter(col("k") === 2L).select("area").head.getString(0) == "east3")
    assert(evolved()(2L) == (("b", "unset")), "branch DML leaked into main")
    Acid.appendTxn(spark, t, Seq((10L, "j", "extra")).toDF("k", "s", "area"), 21L)
    Acid.rebaseBranchDml(spark, t, "ev", 22L)
    Acid.fastForwardBranch(t, "ev", 23L)
    val fin = evolved()
    assert(fin(2L) == (("bb", "east3")) && fin(9L) == (("i", "south")) &&
      fin(10L) == (("j", "extra")), s"evolved branch publish wrong: $fin")
    // -- optimizeWhere mirrors rewriteCommit's row-lineage guard: a
    // partition-scoped rewrite would drop firstrow assignments silently
    val t2 = java.nio.file.Files.createTempDirectory("graft_owlin").toString + "/t"
    Acid.reset(t2)
    Acid.appendTxn(spark, t2, Seq((1L, 1L)).toDF("k", "x"), 0L)
    Acid.assignRowIds(spark, t2, 1L)
    val eW = intercept[IllegalArgumentException] {
      Acid.optimizeWhere(spark, t2, 2L, targetFiles = 1, part = ("day", 0L)) }
    assert(eW.getMessage.contains("optimizeLineage"), eW.getMessage)
  }

  test("updateWhereLineage: ids bit-stable through UPDATE across lazy+phys generations; untouched assignment lines survive; plain DML refuses") {
    import spark.implicits._
    import graft.ops.Acid
    val t = java.nio.file.Files.createTempDirectory("graft_uwlin").toString + "/t"
    Acid.reset(t)
    // generation 1: lazy firstrow assignment
    Acid.appendTxn(spark, t,
      (0L until 50L).map(k => (k, "a")).toDF("k", "s"), 0L)
    Acid.assignRowIds(spark, t, 1L)
    // generation 2: compacted → physical __row_id files
    Acid.appendTxn(spark, t,
      (50L until 100L).map(k => (k, "b")).toDF("k", "s"), 2L)
    Acid.assignRowIds(spark, t, 3L)
    def ids() = Acid.readLineage(spark, t)
      .select(col("k"), col("row_id")).as[(Long, Long)].collect().toMap
    val before = ids()
    assert(before.size == 100 && before.values.toSet.size == 100)
    val linesBefore = {
      val v = Acid.currentVersion(t).get
      val p = java.nio.file.Paths.get(t, s"manifest-$v.txt")
      new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
    }
    // the UPDATE touches rows in both generations
    val (_, touched, total) = Acid.updateWhereLineage(spark, t,
      Seq("s" -> org.apache.spark.sql.functions.lit("z")),
      col("k") % 25 === 0, 4L)
    assert(touched >= 1 && touched < total, s"touched $touched of $total")
    // identity invariant: EVERY id identical, including the updated rows'
    assert(ids() == before, "UPDATE moved a row id")
    val vals = Acid.readLineage(spark, t)
      .select(col("k"), col("s")).as[(Long, String)].collect().toMap
    assert((0L until 100L).forall(k =>
      vals(k) == (if (k % 25 == 0) "z" else if (k < 50) "a" else "b")),
      s"wrong values after lineage UPDATE: ${vals.toSeq.sortBy(_._1).take(8)}")
    // untouched files' assignment lines are carried verbatim
    val v = Acid.currentVersion(t).get
    val after = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(t, s"manifest-$v.txt")), "UTF-8")
    val keptFirstrow = linesBefore.linesIterator
      .filter(_.startsWith("# firstrow:"))
      .filter(l => after.linesIterator
        .exists(d => !d.startsWith("#") && l.contains(d))).toSeq
    keptFirstrow.foreach(l => assert(after.contains(l),
      s"untouched assignment line dropped: $l"))
    // replay no-ops
    assert(Acid.updateWhereLineage(spark, t,
      Seq("s" -> org.apache.spark.sql.functions.lit("z")),
      col("k") % 25 === 0, 4L)._2 == 0)
    // plain DML refuses the lineage table loudly
    val eU = intercept[IllegalArgumentException] {
      Acid.updateWhere(spark, t, Seq("s" -> lit("q")), col("k") === 1L, 5L) }
    assert(eU.getMessage.contains("updateWhereLineage"), eU.getMessage)
    val eM = intercept[IllegalArgumentException] {
      Acid.mergeCow(spark, t, Seq((1L, "q")).toDF("k", "s"), "k", 6L) }
    assert(eM.getMessage.contains("lineage"), eM.getMessage)
    // ids stay stable across a subsequent lineage compaction too
    Acid.optimizeLineage(spark, t, 7L, targetFiles = 1)
    assert(ids() == before, "post-UPDATE compaction moved a row id")
  }

  test("mergeCowLineage: matched ids kept, deletes retire ids, resurrection allocates fresh, mark never reused") {
    import spark.implicits._
    import graft.ops.Acid
    val t = java.nio.file.Files.createTempDirectory("graft_mlin").toString + "/t"
    Acid.reset(t)
    Acid.appendTxn(spark, t,
      (0L until 10L).map(k => (k, "a")).toDF("k", "s"), 0L)
    Acid.assignRowIds(spark, t, 1L) // ids 0..9, mark 10
    Acid.deleteTxn(spark, t, Seq(3L).toDF("k"), "k", 2L) // vector-hide k=3
    def ids() = Acid.readLineage(spark, t)
      .select(col("k"), col("row_id")).as[(Long, Long)].collect().toMap
    val before = ids()
    assert(!before.contains(3L))
    // MERGE: update k=1, delete k=2, resurrect k=3 (hidden → NEW row),
    // insert k=100
    val changes = Seq(
      (1L, "u", "up"), (2L, "x", "delete"), (3L, "r", "up"), (100L, "n", "up"))
      .toDF("k", "s", "__op")
    Acid.mergeCowLineage(spark, t, changes, "k", 3L, Some("__op"))
    val after = ids()
    // matched row kept its id, value changed
    assert(after(1L) == before(1L))
    assert(Acid.readLineage(spark, t).filter(col("k") === 1L)
      .select(col("s")).head.getString(0) == "u")
    // deleted key gone, its id retired (nobody else holds it)
    assert(!after.contains(2L))
    assert(!after.values.toSet.contains(before(2L)),
      "a retired id was reassigned")
    // untouched rows bit-stable
    before.removedAll(Seq(1L, 2L, 3L)).foreach { case (k, id) =>
      assert(after(k) == id, s"carried row $k moved: ${before(k)} -> ${after(k)}") }
    // resurrection and insert get FRESH ids above the old mark, allocated
    // in key order (3 < 100)
    assert(after(3L) == 10L && after(100L) == 11L,
      s"fresh ids wrong: ${after(3L)}, ${after(100L)}")
    // the vector reconciled: k=3 visible again with its new row
    assert(Acid.readLineage(spark, t).filter(col("k") === 3L)
      .select(col("s")).head.getString(0) == "r")
    // the mark advanced — a later append+assign allocates above 12
    Acid.appendTxn(spark, t, Seq((200L, "z")).toDF("k", "s"), 4L)
    Acid.assignRowIds(spark, t, 5L)
    assert(ids()(200L) == 12L, s"mark did not advance: ${ids()(200L)}")
    // and lineage compaction preserves the whole map
    val full = ids()
    Acid.optimizeLineage(spark, t, 6L, targetFiles = 1)
    assert(ids() == full, "compaction after lineage MERGE moved ids")
    // pure-insert MERGE (no existing file contains any change key — the
    // touched-empty path, r18 review): fresh ids continue from the mark
    Acid.mergeCowLineage(spark, t,
      Seq((300L, "p"), (301L, "q")).toDF("k", "s"), "k", 7L)
    val after2 = ids()
    assert(after2(300L) == 13L && after2(301L) == 14L,
      s"pure-insert merge ids wrong: ${after2(300L)}, ${after2(301L)}")
    assert(after2.removedAll(Seq(300L, 301L)) == full,
      "pure-insert merge disturbed existing rows")
    // a CHECK constraint binds lineage MERGE too: a violating insert is
    // refused from the written rows and the table does not advance
    Acid.addConstraint(spark, t, "k_small", "k < 1000", 8L)
    val vBefore = Acid.currentVersion(t)
    intercept[graft.ops.ConstraintViolationException] {
      Acid.mergeCowLineage(spark, t,
        Seq((1L, "v"), (1000L, "bad")).toDF("k", "s"), "k", 9L)
    }
    assert(Acid.currentVersion(t) == vBefore, "a refused lineage MERGE advanced the table")
    assert(!Acid.committedTxns(t).contains(9L))
    assert(ids() == after2, "a refused lineage MERGE changed the rows")
  }

  test("change feeds refuse RESTORE across a vector commit even when files were also removed; vector adds still flow") {
    import spark.implicits._
    import graft.ops.Acid
    val t = java.nio.file.Files.createTempDirectory("graft_cfrestore").toString + "/t"
    Acid.reset(t)
    Acid.appendTxn(spark, t, Seq((1L, 10L), (2L, 20L)).toDF("k", "x"), 0L) // v0
    Acid.appendTxn(spark, t, Seq((3L, 30L)).toDF("k", "x"), 1L)            // v1
    Acid.deleteTxn(spark, t, Seq(1L).toDF("k"), "k", 2L)                   // v2: vector hides k=1
    // the vector-ADD step flows: one delete event for k=1
    val pre = Acid.changeFeedRow(spark, t, 1L, 2L, "k")
      .select("k", "change_type").as[(Long, String)].collect().toSet
    assert(pre == Set((1L, "delete")), s"$pre")
    // RESTORE to v0 reverts BOTH the v1 append and the v2 vector in one
    // step: files removed AND vector lines dropped — the ADVICE r17
    // bypass (removedAny used to wave the step through). k=1 resurrects
    // in a SURVIVING file; no diff can emit it.
    Acid.restore(t, 0L, 3L)                                                // v3
    val eRow = intercept[IllegalArgumentException] {
      Acid.changeFeedRow(spark, t, 2L, 3L, "k").collect() }
    assert(eRow.getMessage.contains("re-seed"), eRow.getMessage)
    // file-level twin: a restore dropping ONLY vector lines (no file
    // removal) used to sail through changeFeed's subset check — the
    // resurrection of k=1 was invisible to the endpoint diff
    val u = java.nio.file.Files.createTempDirectory("graft_cfrestore2").toString + "/t"
    Acid.reset(u)
    Acid.appendTxn(spark, u, Seq((1L, 10L), (2L, 20L)).toDF("k", "x"), 0L) // v0
    Acid.deleteTxn(spark, u, Seq(1L).toDF("k"), "k", 1L)                   // v1
    Acid.restore(u, 0L, 2L)                                                // v2
    val eFile = intercept[IllegalArgumentException] {
      Acid.changeFeed(spark, u, 1L, 2L).collect() }
    assert(eFile.getMessage.contains("re-seed"), eFile.getMessage)
  }

  test("changeFeed permits a vector drop whose resurrection is visible in added files (ADVICE r18: explicit re-insert is not a RESTORE)") {
    import spark.implicits._
    import graft.ops.Acid
    val t = java.nio.file.Files.createTempDirectory("graft_cfreins").toString + "/t"
    Acid.reset(t)
    Acid.appendTxn(spark, t, Seq((1L, 10L), (2L, 20L)).toDF("k", "x"), 0L) // v0
    // v1: the vector blocks k=7 — a key NO data file contains (a tombstone
    // ahead of arrival; vectors subtract keys, not rows)
    Acid.deleteTxn(spark, t, Seq(7L).toDF("k"), "k", 1L)
    // explicit MERGE insert of the vector-only key: findTouchedFiles probes
    // no file (k=7 is in none), so the COW merge ADDS one file and
    // reconciles the vector to empty (drops the delete lines) — zero data
    // files replaced. The old guard refused this commit; the resurrection
    // is fully visible in the added files, so the feed must emit it as a
    // plain insert.
    Acid.mergeCow(spark, t, Seq((7L, 70L)).toDF("k", "x"), "k", 2L) // v2
    val feed = Acid.changeFeed(spark, t, 1L, 2L)
      .select("k", "x", "change_type").as[(Long, Long, String)].collect().toSet
    assert(feed == Set((7L, 70L, "insert")), s"re-insert feed wrong: $feed")
    // invariant: state(v1) + inserts - deletes == state(v2)
    val v2 = Acid.readVersion(spark, t, 2L).select("k", "x")
      .as[(Long, Long)].collect().toSet
    assert(v2 == Set((1L, 10L), (2L, 20L), (7L, 70L)))
    // and a drop whose resurrection lands in NO added file still refuses
    // (the invisible-restore class the guard exists for) — pinned by the
    // sibling test above
    // r19 review tightening: a RESTORE un-hiding a key in a SURVIVING
    // file must refuse even when a later commit in the window
    // coincidentally appends the same key — the added file made the key
    // "visible" to the old check, but the surviving file's resurrected
    // row would never be emitted (silent CDC loss)
    val u = java.nio.file.Files.createTempDirectory("graft_cfcoinc").toString + "/t"
    Acid.reset(u)
    Acid.appendTxn(spark, u, Seq((1L, 10L), (2L, 20L)).toDF("k", "x"), 0L) // v0: file F
    Acid.deleteTxn(spark, u, Seq(1L).toDF("k"), "k", 1L)                   // v1: vector hides k=1
    Acid.restore(u, 0L, 2L)                                                // v2: vector dropped, F survives
    Acid.appendTxn(spark, u, Seq((1L, 99L)).toDF("k", "x"), 3L)           // v3: k=1 also appended
    val eCo = intercept[IllegalArgumentException] {
      Acid.changeFeed(spark, u, 1L, 3L).collect() }
    assert(eCo.getMessage.contains("re-seed"), eCo.getMessage)
  }

  test("acid-bucketed source refuses heterogeneous file generations (footer sweep)") {
    import org.apache.spark.sql.functions._
    import graft.ops.Acid
    val t = java.nio.file.Files.createTempDirectory("graft_spjhet").toString + "/t"
    Acid.reset(t)
    Acid.appendTxnHidden(spark, t,
      spark.range(0, 16).select(col("id").as("k"), (col("id") * 2).as("x")),
      0L, Seq(Acid.bucketOf("k", 4)))
    Acid.appendTxnHidden(spark, t,
      spark.range(16, 32).select(col("id").as("k"), (col("id") * 2).as("x"),
        concat(lit("s"), col("id")).as("s")),
      1L, Seq(Acid.bucketOf("k", 4)))
    val e = intercept[IllegalArgumentException] {
      graft.sources.AcidBucketed.schemaFor(t, "b4_k") }
    assert(e.getMessage.contains("heterogeneous"), e.getMessage)
  }
}
