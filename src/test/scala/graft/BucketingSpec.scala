package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.Store

/** Bucketed co-located joins (`Store.saveBucketed`): same bucket count +
  * same key on both sides ⇒ join and aggregate run with ZERO shuffle
  * exchanges — the write-once/join-free layout for recurring fact⋈fact
  * joins at scale. */
class BucketingSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  /** Count shuffle exchanges in the compile-time physical plan. Exchange
    * insertion for bucketed scans is decided statically (the scan's
    * output partitioning either satisfies the required distribution or
    * it doesn't), so the initial plan is the right thing to assert on —
    * no execution needed. */
  private def shuffles(df: DataFrame): Int = {
    def count(p: SparkPlan): Int = p match {
      case a: AdaptiveSparkPlanExec => count(a.executedPlan)
      case s: ShuffleExchangeLike => 1 + s.children.map(count).sum
      case other => other.children.map(count).sum
    }
    count(df.queryExecution.executedPlan)
  }

  private def withConf(pairs: (String, String)*)(body: => Unit): Unit = {
    val old = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("same-bucket tables join and aggregate with zero exchanges") {
    val dir = java.nio.file.Files.createTempDirectory("buckets").toString
    val facts = (1 to 1000).map(i => ("S" + i % 40, i.toLong, i * 1.5))
      .toDF("symbol", "ts", "close")
    val dims = (0 until 40).map(i => ("S" + i, "exchange" + i % 3))
      .toDF("symbol", "venue")
    Store.saveBucketed(facts, "b_facts", s"$dir/facts", 8, Seq("symbol"),
      Seq("symbol", "ts"))
    Store.saveBucketed(dims, "b_dims", s"$dir/dims", 8, Seq("symbol"))
    // the pre-write repartition co-locates each bucket into one task ⇒
    // at most one data file per bucket (what makes sortBy reads sorted)
    val dataFiles = new java.io.File(s"$dir/facts").listFiles
      .count(_.getName.endsWith(".parquet"))
    assert(dataFiles <= 8, s"$dataFiles files for 8 buckets")
    try withConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1") {
      val joined = spark.table("b_facts").join(spark.table("b_dims"), "symbol")
        .groupBy("symbol", "venue").agg(sum("close").as("v"))
      assert(shuffles(joined) == 0,
        "bucketed join+agg on the bucket key must not shuffle")
      // same pipeline on plain parquet DOES shuffle — the layout is what
      // removes the exchanges, not the optimizer getting lucky
      facts.write.mode("overwrite").parquet(s"$dir/plain_f")
      dims.write.mode("overwrite").parquet(s"$dir/plain_d")
      val plain = spark.read.parquet(s"$dir/plain_f")
        .join(spark.read.parquet(s"$dir/plain_d"), "symbol")
        .groupBy("symbol").agg(sum("close").as("v"))
      assert(shuffles(plain) > 0)
      // and the bucketed result is the same data
      assert(joined.agg(sum("v")).head.getDouble(0) ==
        facts.agg(sum("close")).head.getDouble(0))
    } finally {
      spark.sql("DROP TABLE IF EXISTS b_facts")
      spark.sql("DROP TABLE IF EXISTS b_dims")
    }
  }

  test("aggregate alone on the bucket key reads bucket-partitioned and skips the exchange") {
    val dir = java.nio.file.Files.createTempDirectory("buckets2").toString
    val facts = (1 to 500).map(i => ("S" + i % 16, i.toLong))
      .toDF("symbol", "ts")
    Store.saveBucketed(facts, "b_solo", s"$dir/solo", 4, Seq("symbol"))
    try {
      val agg = spark.table("b_solo").groupBy("symbol")
        .agg(count(lit(1)).as("n"))
      assert(shuffles(agg) == 0)
      assert(agg.agg(sum("n")).head.getLong(0) == 500L)
    } finally spark.sql("DROP TABLE IF EXISTS b_solo")
  }

  test("compactBucketed refuses a bucket count or bucket columns that " +
      "differ from the catalog's spec, before touching a file") {
    val dir = java.nio.file.Files.createTempDirectory("bucket-guard").toString
    val rows = (1 to 200).map(i => ("S" + i % 20, i.toLong)).toDF("symbol", "ts")
    Store.saveBucketed(rows, "b_guard", s"$dir/t", 4, Seq("symbol"))
    def files() = new java.io.File(s"$dir/t").list().toSet
    try {
      val before = files()
      val spec = Store.bucketSpecOf(spark, "b_guard").get
      assert(spec.numBuckets == 4 && spec.bucketColumnNames == Seq("symbol"))
      val count = intercept[IllegalArgumentException] {
        Store.compactBucketed(spark, "b_guard", s"$dir/t", 8, Seq("symbol"))
      }
      assert(count.getMessage.contains("compactBucketed: table `b_guard` " +
        "is bucketed into 4 buckets but the caller passed 8 — a rewrite " +
        "would silently rebucket the files against the catalog spec"),
        count.getMessage)
      val cols = intercept[IllegalArgumentException] {
        Store.compactBucketed(spark, "b_guard", s"$dir/t", 4,
          Seq("symbol", "ts"))
      }
      assert(cols.getMessage.contains("compactBucketed: table `b_guard` " +
        "buckets by") && cols.getMessage.contains("but the caller passed " +
        "List(symbol, ts)"), cols.getMessage)
      assert(files() == before, "a refused compaction touched the files")
      // the matching spec compacts: same rows, the catalog spec kept
      Store.compactBucketed(spark, "b_guard", s"$dir/t", 4, Seq("symbol"))
      assert(spark.table("b_guard").except(rows).isEmpty &&
        rows.except(spark.table("b_guard")).isEmpty)
      assert(Store.bucketSpecOf(spark, "b_guard").contains(spec))
    } finally spark.sql("DROP TABLE IF EXISTS b_guard")
  }
}
