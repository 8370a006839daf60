package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** `analytics_sf01`: seeded, shuffled passes over fifteen engine queries
  * from [[graft.SparkEntry.queries]] on a generated sf0.1-shaped star
  * schema (600k lineitem rows), each materialized through the noop sink.
  *
  * The dataset is fixed (it does not depend on the run seed): it is
  * generated once into `dataDir` by [[Analytics.generate]], outside any
  * measured run, and every run only reads it. Every query's result
  * therefore has one recorded hash; the hashes were checked once
  * against the DuckDB oracle SQL of [[graft.SparkEntry.oracleSql]] (see
  * perfbench/record_hashes.py). Each measured execution carries an
  * observed (Σ row hash mod p, rows) fingerprint of exactly the rows the
  * noop sink receives; it is compared with the recorded hash after the
  * clock stops. There is no warm-up pass: the measured pass is the
  * session's first execution of each query, so codegen and JIT cost of
  * a fresh session are part of what it reports.
  */
final class Analytics(spark: SparkSession, seed: Long, dataDir: String,
    hashFile: Option[String]) extends Workload {
  import Analytics._

  val builds = 1
  val cycleSeconds = 20.0
  private val rng = new java.util.Random(seed)
  private val expected: Map[String, (Long, Long)] =
    hashFile.filter(f => new java.io.File(f).exists).map(readHashes)
      .getOrElse(Map.empty)

  /** Nothing to build: the tables are read where they were generated;
    * setup is the JVM and session start-up. */
  def build(d: String, idx: Int): Unit =
    Tables.foreach { t =>
      require(new java.io.File(s"$dataDir/$t.parquet").isDirectory,
        s"table $t missing under $dataDir")
    }

  private def query(name: String): DataFrame =
    graft.SparkEntry.queries(name)(spark, dataDir)

  def warmup(r: Runner): Unit = ()

  private def order(): Seq[String] =
    scala.util.Random.javaRandomToRandom(rng).shuffle(Queries)

  def cycle(r: Runner, idx: Int): Unit = {
    order().foreach { name =>
      r.op("read", s"query.$name") {
        val obs = org.apache.spark.sql.Observation()
        val df = query(name)
        val fp = fingerprint(df)
        df.observe(obs, fp.head, fp.tail: _*)
          .write.mode("overwrite").format("noop").save()
        obs
      } { obs =>
        val m = obs.get
        val h = (m("h").asInstanceOf[Long], m("n").asInstanceOf[Long])
        expected.get(name) match {
          case Some(e) if e == h => Nil
          case Some(e) => Seq(s"$name: result hash $h, recorded $e")
          case None => Seq(s"$name has no recorded hash")
        }
      }
    }
    Main.clearCaches(spark)
  }

  def finish(r: Runner): Map[String, Any] = Map.empty

  /** Writes each query's result and the oracle SQL under `out` (used
    * once to record the hashes against DuckDB). */
  def record(out: String): Unit = {
    val oracle = graft.SparkEntry.oracleSql
    val hashes = Queries.map { n =>
      query(n).write.mode("overwrite").parquet(s"$out/$n")
      val df = query(n)
      val fp = fingerprint(df)
      val r = df.agg(fp.head, fp.tail: _*).head()
      n -> Seq(if (r.isNullAt(0)) 0L else r.getLong(0), r.getLong(1))
    }.toMap
    Main.writeJson(s"$out/record.json", Map(
      "oracle" -> Queries.map(n => n -> oracle(n)).toMap,
      "hashes" -> hashes))
  }
}

object Analytics {
  val Tables: Seq[String] =
    Seq("region", "nation", "customer", "orders", "lineitem", "events")

  val Queries: Seq[String] = Seq(
    "q01_resample_1h", "q02_pricing_summary", "q03_range_scan",
    "q06_group_count", "q11_join_star", "q12_join_large", "q17_sma20",
    "q23_upsert_dedup", "q26_asof_join", "q31_shipping_priority",
    "q36_sessionize", "q40_range_join", "q41_incremental_resample",
    "q50_bollinger", "q56_atr")

  /** Order-independent content fingerprint of a result's rows:
    * h = Σ (row hash mod p), n = row count. */
  def fingerprint(df: DataFrame): Seq[Column] = {
    val row = xxhash64(df.columns.map(c => col(s"`$c`")): _*)
    Seq(coalesce(sum(pmod(row, lit(4294967291L))), lit(0L)).as("h"),
      count(lit(1)).as("n"))
  }

  /** query -> (hash, rows), as written by record_hashes.py. */
  def readHashes(path: String): Map[String, (Long, Long)] = {
    import scala.jdk.CollectionConverters._
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(path))
    root.fields.asScala.map { q =>
      q.getKey -> (q.getValue.get(0).asLong, q.getValue.get(1).asLong)
    }.toMap
  }

  private val Salt = 20240101L
  private def u(i: Int): Column =
    pmod(xxhash64(col("id"), lit(Salt + i)), lit(1L << 53)).cast("double") /
      lit((1L << 53).toDouble)
  private def pick(i: Int, xs: String*): Column =
    element_at(array(xs.map(lit): _*),
      (floor(u(i) * xs.length) + 1).cast("int"))
  /** A midnight in [from, from + days), as TIMESTAMP_NTZ (UTC session). */
  private def day(from: String, i: Int, days: Int): Column =
    timestamp_seconds(
      lit(java.time.LocalDate.parse(from).toEpochDay * 86400L) +
        floor(u(i) * days).cast("long") * 86400L)
      .cast("timestamp_ntz")

  /** The sf0.1-shaped tables the fifteen queries read: the same schemas,
    * row counts, key ranges and value vocabularies as the engine's
    * testdata, with every column drawn independently from a fixed
    * hash-based generator (deterministic under any partitioning), one
    * file per table as in the testdata. */
  def generate(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    def write(name: String, df: DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    def ids(rows: Long) = spark.range(0, rows, 1, 4)

    write("region", Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
      .zipWithIndex.map { case (n, i) => (i, n) }.toDF("r_regionkey", "r_name"))
    write("nation", (0 until 25).map(i => (i, s"NATION_$i", i % 5))
      .toDF("n_nationkey", "n_name", "n_regionkey"))
    write("customer", ids(15000).select(
      col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      floor(u(1) * 25).cast("int").as("c_nationkey"),
      round(lit(-999.99) + u(2) * 10999.98, 2).as("c_acctbal"),
      pick(3, "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
        "MACHINERY").as("c_mktsegment")))
    write("orders", ids(150000).select(
      col("id").as("o_orderkey"),
      floor(u(1) * 15000).cast("long").as("o_custkey"),
      pick(2, "F", "O", "P").as("o_orderstatus"),
      round(lit(1000.0) + u(3) * 499000.0, 2).as("o_totalprice"),
      day("1995-01-01", 4, 2404).as("o_orderdate"),
      pick(5, "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
        "5-LOW").as("o_orderpriority")))
    write("lineitem", ids(600000).select(
      floor(u(1) * 150000).cast("long").as("l_orderkey"),
      floor(u(2) * 20000).cast("long").as("l_partkey"),
      floor(u(3) * 1000).cast("long").as("l_suppkey"),
      (floor(u(4) * 7) + 1).cast("int").as("l_linenumber"),
      (floor(u(5) * 50) + 1).cast("double").as("l_quantity"),
      round(lit(900.0) + u(6) * 104100.0, 2).as("l_extendedprice"),
      round(u(7) * 0.1, 2).as("l_discount"),
      round(u(8) * 0.08, 2).as("l_tax"),
      pick(9, "A", "N", "R").as("l_returnflag"),
      pick(10, "F", "O").as("l_linestatus"),
      day("1995-01-02", 11, 2498).as("l_shipdate")))
    write("events", ids(100000).select(
      col("id").as("event_id"),
      timestamp_micros(lit(1704067200000000L) +
        floor(u(1) * (30L * 86400L * 1000000L).toDouble).cast("long"))
        .cast("timestamp_ntz").as("ts"),
      floor(u(2) * 1500).cast("long").as("user_id"),
      pick(3, "click", "error", "purchase", "signup", "view").as("event_type"),
      round(lit(-50.0) * log(lit(1.0) - u(4)), 2).as("value"),
      concat(lit("{\"k\": "), floor(u(5) * 100).cast("string"), lit("}"))
        .as("props")))
  }
}
