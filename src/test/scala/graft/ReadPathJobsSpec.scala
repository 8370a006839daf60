package graft

import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.SortExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.{MarketData, Ohlcv, Store}
import graft.plans.SmallSortRewrite

/** Pins the Spark jobs the cache-or-fetch read path issues: a warm
  * coverage probe and a scan's construction run none, the resample
  * reads its range without a sort, and with the small-sort rule an
  * ordered read runs no range-sampling job. */
class ReadPathJobsSpec extends AnyFunSuite with SparkTestBase
    with JobCounting with AdaptiveSparkPlanHelper {

  private val m = 60000L
  private val t0 = 1704067200000L // 2024-01-01T00:00Z
  private val now = t0 + 400 * 60 * m

  private lazy val dir =
    java.nio.file.Files.createTempDirectory("graft_jobs").toString
  private lazy val md = {
    val md = new MarketData(spark, dir)
    md.getData("BTCUSDT", "1m", t0, t0 + 600 * m, now)
    md
  }

  test("a warm checkDataExists runs no Spark job, hit or miss") {
    md.checkDataExists("BTCUSDT", "1m", t0, t0 + 60 * m, now)
    assert(jobsOf(md.checkDataExists("BTCUSDT", "1m", t0, t0 + 60 * m, now))
      == 0)
    assert(jobsOf(md.checkDataExists("BTCUSDT", "1m", t0, t0 + 900 * m, now))
      == 0)
    assert(jobsOf(md.checkDataExists("ETHUSDT", "1m", t0, t0 + 60 * m, now))
      == 0)
    assert(md.checkDataExists("BTCUSDT", "1m", t0, t0 + 60 * m, now) ==
      ((true, false)))
  }

  test("building a Store.scan frame runs no Spark job") {
    md
    val scan = jobsOf(Store.scan(spark, s"$dir/ohlcv", "BTCUSDT", "1m",
      msTs(t0), msTs(t0 + 60 * m - 1)))
    assert(scan == 0)
  }

  test("Store.scan's job-free schema is the one Spark's inference gives") {
    md
    import org.apache.spark.sql.types.StringType
    val path = s"$dir/ohlcv"
    val inferred = spark.read.parquet(path).schema.map(f =>
      if (f.name == "symbol" || f.name == "timeframe") f.copy(dataType = StringType)
      else f)
    assert(Store.scan(spark, path, "BTCUSDT", "1m", msTs(t0), msTs(t0)).schema
      == org.apache.spark.sql.types.StructType(inferred))
  }

  private def sortsBelowAggregate(df: org.apache.spark.sql.DataFrame) = {
    df.collect()
    val plan = df.queryExecution.executedPlan
    assert(collect(plan) { case a: BaseAggregateExec => a }.nonEmpty,
      s"no aggregate in\n$plan")
    collect(plan) {
      case s: SortExec => s
      case e: ShuffleExchangeExec
          if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
    }
  }

  test("getResampledData reads its range with no sort or range exchange") {
    val resampled = md.getResampledData("BTCUSDT", "1h", t0, t0 + 600 * m, now)
    assert(sortsBelowAggregate(resampled).isEmpty,
      resampled.queryExecution.executedPlan.toString)
    // the check sees the sort the ordered scan would have put there
    val ordered = Ohlcv.resampleCandles(Store.scan(spark, s"$dir/ohlcv",
      "BTCUSDT", "1m", msTs(t0), msTs(t0 + 600 * m - 1)), "1h")
    assert(sortsBelowAggregate(ordered).nonEmpty)
    assert(resampled.count() == 10 &&
      resampled.collect().toSet == ordered.collect().toSet)
  }

  test("with the small-sort rule a warm getData hit runs 1 job and " +
      "getStoredInfo 2 (3 and 4 without); rows and order are unchanged") {
    // a second series: a one-row listing has its sort dropped at run time
    md.getData("ETHUSDT", "1m", t0, t0 + 60 * m, now)
    def hit() = md.getData("BTCUSDT", "1m", t0, t0 + 600 * m, now).collect()
    def info() = md.getStoredInfo().collect()
    hit(); info()
    val plain = (jobsOf(hit()), jobsOf(info()))
    val (want, wantInfo) = (hit().toSeq, info().toSeq)
    assert(wantInfo.size == 2 && want.size == 600 && want.map(_.getAs[java.sql.Timestamp]("ts"))
      == want.map(_.getAs[java.sql.Timestamp]("ts")).sortBy(_.getTime))
    spark.experimental.extraOptimizations = Seq(SmallSortRewrite)
    try {
      hit(); info()
      assert((jobsOf(hit()), jobsOf(info())) == ((1, 2)))
      assert(hit().toSeq == want && info().toSeq == wantInfo)
    } finally spark.experimental.extraOptimizations = Nil
    assert(plain == ((3, 4)))
  }
}
