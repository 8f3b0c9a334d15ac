package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Synthesize a `factor`×-sf0.1 fixture set under a local dir (r11 verdict
  * item 5: the 100×-scale claims rested on one measured decade,
  * sf0.01 → sf0.1; this gives the probe a SECOND decade, sf0.1 → sf1).
  *
  * Same generator contract as TESTDATA.md: deterministic synthetic tables,
  * same schemas, same key ranges scaled by `factor`, similar value
  * distributions. All columns derive from `xxhash64(id, salt)` — fully
  * distributed `spark.range` pipelines, no driver-side data, rerunnable
  * bit-identically. Two deliberate extras:
  *
  *  - a HOT DOC CLUSTER (2 000 near-identical documents sharing a 40-word
  *    prefix) — the mega-bucket that exercises the dedup family's
  *    hot-bucket caps at scale rather than leaving them as dead code;
  *  - a HOT BASKET (one order carrying `hotBasketLines` lineitems) — the
  *    skewed co-purchase basket the graph keys' basket-size caps exist for
  *    (injected only when its fanout stays within the probe's time budget).
  *
  * Usage: `runMain graft.tools.SynthScale <outDir> [factor]`.
  */
object SynthScale {

  private val vocab = Seq("spark", "batch", "part", "line", "column", "order",
    "small", "sort", "fast", "value", "scan", "hash", "slow", "vector",
    "query", "agg", "table", "join", "merge", "shuffle", "stream", "window",
    "filter", "group", "index", "cache", "disk", "memory", "node", "plan")

  private def u(idCol: String, salt: Int, m: Long) =
    pmod(xxhash64(col(idCol), lit(salt)), lit(m))

  def main(args: Array[String]): Unit = {
    val out = args(0)
    val factor = if (args.length > 1) args(1).toInt else 10
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "true")
      // match the driver fixture's INT64 timestamp-micros physical type
      // (Spark's default INT96 is a legacy encoding DuckDB reads fine, but
      // fixture fidelity means matching the bytes the driver writes)
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    write(spark, out, factor)
    spark.stop()
  }

  /** Generate every fixture table at `factor` × the sf0.1 row counts. */
  def write(spark: SparkSession, out: String, factor: Int): Unit = {
    val nCust = 15000L * factor
    val nSupp = 1000L * factor
    val nPart = 20000L * factor
    val nOrd = 150000L * factor
    val nEvents = 100000L * factor
    val nDocs = 5000L * factor
    val nVecs = 2000L * factor
    val hotDocs = 2000L // the mega-cluster
    // fixture layout contract: one BARE parquet file per table, as the
    // DuckDB oracle's read_parquet and the fixture readers expect
    def save(df: DataFrame, name: String): Unit =
      graft.Tmp.writeSingleFile(df, "parquet",
        java.nio.file.Paths.get(s"$out/$name.parquet"))

    // scale-invariant dims: copied from the real fixture
    save(spark.read.parquet("/root/testdata/sf0.1/region.parquet"), "region")
    save(spark.read.parquet("/root/testdata/sf0.1/nation.parquet"), "nation")

    save(spark.range(nCust).select(
      col("id").as("c_custkey"),
      concat(lit("Customer#"), col("id")).as("c_name"),
      u("id", 1, 25).cast("int").as("c_nationkey"),
      (u("id", 2, 1100000) / 100.0 - 999.0).as("c_acctbal"),
      element_at(array(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "MACHINERY",
        "HOUSEHOLD").map(lit): _*), u("id", 3, 5).cast("int") + 1).as("c_mktsegment")),
      "customer")

    save(spark.range(nSupp).select(
      col("id").as("s_suppkey"),
      concat(lit("Supplier#"), col("id")).as("s_name"),
      u("id", 4, 25).cast("int").as("s_nationkey"),
      (u("id", 5, 1100000) / 100.0 - 999.0).as("s_acctbal")),
      "supplier")

    save(spark.range(nPart).select(
      col("id").as("p_partkey"),
      concat(lit("part "), element_at(array(vocab.map(lit): _*),
        u("id", 6, 30).cast("int") + 1), lit(" "), col("id")).as("p_name"),
      concat(lit("Brand#"), u("id", 7, 5)).as("p_brand"),
      concat(element_at(array(Seq("STANDARD", "SMALL", "MEDIUM", "LARGE",
        "ECONOMY", "PROMO").map(lit): _*), u("id", 8, 6).cast("int") + 1),
        lit(" "),
        element_at(array(Seq("ANODIZED", "BURNISHED", "PLATED", "POLISHED",
          "BRUSHED").map(lit): _*), u("id", 9, 5).cast("int") + 1),
        lit(" "),
        element_at(array(Seq("TIN", "NICKEL", "BRASS", "STEEL", "COPPER")
          .map(lit): _*), u("id", 10, 5).cast("int") + 1)).as("p_type"),
      (u("id", 11, 50) + 1).cast("int").as("p_size"),
      (u("id", 12, 190000) / 100.0 + 900.0).as("p_retailprice")),
      "part")

    val orders = spark.range(nOrd).select(
      col("id").as("o_orderkey"),
      u("id", 13, nCust).as("o_custkey"),
      element_at(array(Seq("F", "O", "P").map(lit): _*),
        u("id", 14, 3).cast("int") + 1).as("o_orderstatus"),
      (u("id", 15, 49899128) / 100.0 + 1001.91).as("o_totalprice"),
      timestamp_seconds(lit(788918400L) + u("id", 16, 2400) * lit(86400L))
        .as("o_orderdate"),
      element_at(array(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
        "5-LOW").map(lit): _*), u("id", 17, 5).cast("int") + 1)
        .as("o_orderpriority"))
    save(orders, "orders")

    // lineitem: 1..7 lines per order (avg 4 — the fixture ratio); ONE hot
    // basket on order 0 exercising the co-purchase basket cap
    val hotBasketLines = 40
    val base = orders.select(col("o_orderkey"))
      .withColumn("n_lines",
        when(col("o_orderkey") === 0, lit(hotBasketLines))
          .otherwise(u("o_orderkey", 18, 7).cast("int") + 1))
      .select(col("o_orderkey"),
        explode(sequence(lit(1), col("n_lines"))).as("l_linenumber"))
      .withColumn("lid", col("o_orderkey") * 64 + col("l_linenumber"))
    save(base.select(
      col("o_orderkey").as("l_orderkey"),
      u("lid", 19, nPart).as("l_partkey"),
      u("lid", 20, nSupp).as("l_suppkey"),
      col("l_linenumber").cast("int"),
      (u("lid", 21, 50) + 1).cast("double").as("l_quantity"),
      (u("lid", 22, 9500000) / 100.0 + 900.0).as("l_extendedprice"),
      (u("lid", 23, 11) / 100.0).as("l_discount"),
      (u("lid", 24, 9) / 100.0).as("l_tax"),
      element_at(array(Seq("R", "A", "N").map(lit): _*),
        u("lid", 25, 3).cast("int") + 1).as("l_returnflag"),
      element_at(array(Seq("O", "F").map(lit): _*),
        u("lid", 26, 2).cast("int") + 1).as("l_linestatus"),
      timestamp_seconds(lit(788918400L) + u("lid", 27, 2500) * lit(86400L))
        .as("l_shipdate")),
      "lineitem")

    // events: 30 days of 2024-01, user pool scaled with the data
    val nUsers = 1500L * factor
    save(spark.range(nEvents).select(
      col("id").as("event_id"),
      timestamp_micros(lit(1704067200000000L) +
        u("id", 28, 30L * 86400L * 1000L) * 1000L +
        u("id", 29, 1000000L)).as("ts"),
      u("id", 30, nUsers).as("user_id"),
      element_at(array(Seq("click", "view", "signup", "purchase", "error")
        .map(lit): _*), u("id", 31, 5).cast("int") + 1).as("event_type"),
      round(u("id", 32, 56021) / 100.0, 2).as("value"),
      concat(lit("{\"k\":"), u("id", 33, 100), lit("}")).as("props")),
      "events")

    // documents: word sequences over the fixture vocabulary; the tail
    // `hotDocs` ids form the near-identical mega-cluster (shared 40-word
    // prefix, one varying suffix word) — the hot LSH/ngram bucket
    val vocabCol = array(vocab.map(lit): _*)
    val hotBase = (0 until 40).map(i => vocab(i * 7 % vocab.size)).mkString(" ")
    save(spark.range(nDocs)
      .withColumn("len", (u("id", 34, 90) + 8).cast("int"))
      .select(
        col("id").as("doc_id"),
        when(col("id") >= nDocs - hotDocs,
          concat(lit(hotBase), lit(" "),
            element_at(vocabCol, u("id", 35, 5).cast("int") + 1)))
          .otherwise(concat_ws(" ", transform(sequence(lit(1), col("len")),
            i => element_at(vocabCol,
              pmod(xxhash64(col("id"), i, lit(36)), lit(30)).cast("int") + 1))))
          .as("text"),
        element_at(array(Seq("en", "en", "en", "en", "en", "en", "de", "fr",
          "es", "ja").map(lit): _*), u("id", 37, 10).cast("int") + 1).as("lang"),
        concat(lit("src"), u("id", 38, 20)).as("source"))
      // LongType to match the driver fixture's physical schema exactly —
      // the r13 full gate caught length()'s int32 surfacing as a DTYPE
      // mismatch on every key that passes n_chars through to its output
      .withColumn("n_chars", length(col("text")).cast("long")),
      "documents")

    save(spark.range(nVecs).select(
      col("id").as("vec_id"),
      transform(sequence(lit(0), lit(63)),
        i => ((pmod(xxhash64(col("id"), i, lit(39)), lit(2000001)) - 1000000L)
          / 1000000.0).cast("float")).as("embedding"),
      u("id", 40, 10).cast("int").as("label")),
      "embeddings")
  }
}
