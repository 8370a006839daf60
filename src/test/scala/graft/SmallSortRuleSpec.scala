package graft

import java.nio.file.{Files, Path => JPath}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{CoalesceExec, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.plans.SmallSortRewrite

/** SmallSortRewrite: a global sort whose input reads at most the rule's
  * bound of files is planned in one partition, with no range exchange;
  * every other sort keeps Spark's plan. Rows and their order never
  * change. */
class SmallSortRuleSpec extends AnyFunSuite with SparkTestBase
    with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private def withRule[A](rule: SmallSortRewrite = SmallSortRewrite)(
      f: => A): A = {
    spark.experimental.extraOptimizations = Seq(rule)
    try f finally spark.experimental.extraOptimizations = Nil
  }

  private def rangeExchanges(df: DataFrame): Int =
    collect(df.queryExecution.executedPlan) {
      case e: ShuffleExchangeExec
          if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
    }.size

  private def coalesced(df: DataFrame): Boolean =
    collect(df.queryExecution.executedPlan) { case c: CoalesceExec => c }
      .nonEmpty

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq

  /** Keeps the range exchange's partitions apart, so a changed partition
    * count shows in the files written and the ids generated. */
  private def uncoalesced[A](f: => A): A = {
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try f finally spark.conf.set(key, prev)
  }

  private def tmp(tag: String): String =
    Files.createTempDirectory(tag).toString

  /** 4,000 rows, no ties on (k, v), partitioned by `p` into two
    * directories of about the same size, written from four tasks. */
  private lazy val table: String = {
    val dir = tmp("small_sort") + "/t"
    spark.range(0, 4000, 1, 4)
      .select((col("id") % 2).as("p"), (col("id") % 37).as("k"),
        (col("id") * 7919 % 4001).as("v"), sha2(col("id").cast("string"),
          256).as("pad"))
      .write.partitionBy("p").parquet(dir)
    dir
  }

  private def bytesUnder(dir: String): Long = {
    val s = Files.walk(java.nio.file.Paths.get(dir))
    try s.filter((f: JPath) => f.toString.endsWith(".parquet"))
      .mapToLong((f: JPath) => Files.size(f)).sum()
    finally s.close()
  }

  private def sorted(): DataFrame =
    spark.read.parquet(table).orderBy(col("k"), col("v").desc)

  test("a small sort plans no range exchange; its rows and order are " +
      "those of the range-partitioned sort") {
    val plain = sorted()
    assert(rangeExchanges(plain) == 1 && !coalesced(plain))
    val want = rows(plain)
    assert(want.size == 4000)
    withRule() {
      val df = sorted()
      assert(rangeExchanges(df) == 0 && coalesced(df),
        df.queryExecution.executedPlan.toString)
      assert(rows(df) == want)
      // deterministic projections and filters above the sort keep it in
      // reach
      val projected = sorted().filter(col("v") > 10)
        .select(col("k"), (col("v") + 1).as("w"))
      assert(rangeExchanges(projected) == 0)
      assert(rows(projected) == rows(plain.filter(col("v") > 10)
        .select(col("k"), (col("v") + 1).as("w"))))
    }
  }

  test("an input over the bound keeps its range exchange") {
    withRule(new SmallSortRewrite(bytesUnder(table) - 1)) {
      assert(rangeExchanges(sorted()) == 1)
    }
    withRule(new SmallSortRewrite(bytesUnder(table))) {
      assert(rangeExchanges(sorted()) == 0)
    }
  }

  test("the bound counts the files left after partition pruning") {
    val part = bytesUnder(s"$table/p=1")
    assert(part < bytesUnder(table))
    // Spark's logical statistics count the path-based table whole
    val oneP = spark.read.parquet(table).filter(col("p") === 1)
      .orderBy("k", "v")
    assert(oneP.queryExecution.optimizedPlan.stats.sizeInBytes >=
      bytesUnder(table))
    val want = rows(oneP)
    withRule(new SmallSortRewrite(part)) {
      val df = spark.read.parquet(table).filter(col("p") === 1)
        .orderBy("k", "v")
      assert(rangeExchanges(df) == 0)
      assert(rows(df) == want && want.size == 2000)
      // a data filter prunes no file, so the whole table still counts
      assert(rangeExchanges(spark.read.parquet(table)
        .filter(col("v") < 100).orderBy("k", "v")) == 1)
    }
  }

  test("a sort under a limit is still planned as TakeOrderedAndProject") {
    withRule() {
      val df = sorted().limit(5)
      val plan = df.queryExecution.executedPlan
      assert(collect(plan) { case t: TakeOrderedAndProjectExec => t }
        .nonEmpty && !coalesced(df), plan.toString)
      assert(rows(df) == rows(sorted()).take(5))
    }
  }

  test("a sorted write keeps its file count") {
    def files(dir: String) = {
      val s = Files.list(java.nio.file.Paths.get(dir))
      try s.filter((f: JPath) => f.toString.endsWith(".parquet")).count()
      finally s.close()
    }
    val plain = tmp("small_sort_w") + "/o"
    val ruled = tmp("small_sort_w") + "/o"
    uncoalesced {
      sorted().write.parquet(plain)
      withRule()(sorted().write.parquet(ruled))
    }
    assert(files(plain) > 1 && files(ruled) == files(plain))
  }

  test("a sort under monotonically_increasing_id is left alone") {
    // the range partitions show in the ids' partition bits; the bounds
    // are sampled anew by each run, so the ids themselves differ
    def ids() = sorted().withColumn("id", monotonically_increasing_id())
    def partitioned(df: DataFrame) =
      df.collect().exists(_.getAs[Long]("id") >= (1L << 33))
    uncoalesced {
      assert(partitioned(ids()))
      withRule() {
        assert(rangeExchanges(ids()) == 1 && partitioned(ids()))
        assert(rows(ids().drop("id")) == rows(sorted()))
      }
    }
  }

  test("joins, generators and sources of unknown size keep the exchange; " +
      "a local relation and a random order do not") {
    withRule() {
      val t = spark.read.parquet(table)
      val joined = t.join(t.select(col("k"), col("v").as("v2")), "k")
        .orderBy("k", "v", "v2")
      assert(rangeExchanges(joined) == 1)
      val exploded = t.select(col("k"), explode(array(col("v"), col("k")))
        .as("e")).orderBy("k", "e")
      assert(rangeExchanges(exploded) == 1)
      val rdd = spark.createDataFrame(t.rdd, t.schema).orderBy("k", "v")
      assert(rangeExchanges(rdd) == 1)
    }
    // a random order is computed below the one partition, per scan
    // partition as before
    val shuffled = rows(spark.read.parquet(table).orderBy(rand(7)))
    withRule() {
      assert(rows(spark.read.parquet(table).orderBy(rand(7))) == shuffled)
    }
    // a local relation's size is known
    def local() = Seq((3, "c"), (1, "a"), (2, "b")).toDF("n", "s")
      .orderBy("n")
    assert(rangeExchanges(local()) == 1)
    withRule() {
      assert(rangeExchanges(local()) == 0 &&
        local().as[(Int, String)].collect().toSeq ==
          Seq((1, "a"), (2, "b"), (3, "c")))
    }
  }
}
