package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.{MarketData, Store}
import graft.plans.SmallSortRewrite

/** Pins the Spark jobs and source reads of the cache-fill write path on a
  * warm 1m store: a save stages its batch once (the only read of the
  * source) and finds the touched series in one job, the merge runs one
  * shuffle, the coverage update runs none, and a small incremental
  * request finds its gaps in one job.
  * Scans run under the small-sort rule, as in a session carrying
  * [[graft.functions.GraftExtensions]]. */
class CacheFillJobsSpec extends AnyFunSuite with SparkTestBase with JobCounting {

  private val m = 60000L
  private val t0 = 1704067200000L // 2024-01-01T00:00Z
  private val now = t0 + 4000 * m

  /** Source rows read, counted by a nondeterministic filter on every
    * fetched frame (the optimizer neither prunes nor re-orders it). */
  private lazy val (pulled, counting) = {
    val acc = spark.sparkContext.longAccumulator("pulled")
    (acc, udf { (_: java.sql.Timestamp) => acc.add(1); true }
      .asNondeterministic())
  }

  private def newMd(dir: String = java.nio.file.Files
      .createTempDirectory("graft_fill").toString): MarketData =
    new MarketData(spark, dir, (symbol, timeframe, fromMs, toMs) =>
      spark.read.format("graft.sources.KlineSource")
        .option("symbols", symbol).option("timeframe", timeframe)
        .option("startMs", fromMs.toString).option("endMs", toMs.toString)
        .load().filter(counting(col("ts"))))

  /** A store holding 600 minutes of BTCUSDT and ETHUSDT. */
  private def warm(dir: String = java.nio.file.Files
      .createTempDirectory("graft_fill").toString): MarketData = {
    val md = newMd(dir)
    md.getData("BTCUSDT", "1m", t0, t0 + 600 * m, now).collect()
    md.getData("ETHUSDT", "1m", t0, t0 + 600 * m, now).collect()
    md
  }

  private def withSmallSort[A](body: => A): A = {
    spark.experimental.extraOptimizations = Seq(SmallSortRewrite)
    try body finally spark.experimental.extraOptimizations = Nil
  }

  private def pulls(body: => Unit): Long = {
    pulled.reset()
    body
    pulled.value
  }

  test("getDataIncremental tail extension: at most 6 jobs, source read once") {
    val md = warm()
    withSmallSort {
      var rows = Array.empty[org.apache.spark.sql.Row]
      var jobs = 0
      val read = pulls {
        jobs = jobsOf { rows = md.getDataIncremental("BTCUSDT", "1m",
          t0 + 540 * m, t0 + 720 * m, now).collect() }
      }
      assert(rows.length == 180 && read == 120)
      assert(jobs <= 6, s"$jobs jobs")
      // a covered repeat: the gap query and the scan
      assert(jobsOf(md.getDataIncremental("BTCUSDT", "1m", t0 + 540 * m,
        t0 + 720 * m, now).collect()) <= 2)
    }
  }

  test("getData miss after deleteData: at most 5 jobs, source read once") {
    val md = warm()
    withSmallSort {
      md.deleteData("ETHUSDT", "1m")
      var rows = Array.empty[org.apache.spark.sql.Row]
      var jobs = 0
      val read = pulls {
        jobs = jobsOf { rows = md.getData("ETHUSDT", "1m", t0, t0 + 600 * m,
          now).collect() }
      }
      assert(rows.length == 600 && read == 600)
      assert(jobs <= 5, s"$jobs jobs")
    }
  }

  test("saveData of one series: at most 4 jobs, each batch row read once") {
    val md = warm()
    val batch = md.getHistoricalData("BTCUSDT", "1m", t0 + 600 * m, t0 + 720 * m)
    var jobs = 0
    assert(pulls { jobs = jobsOf(md.saveData(batch)) } == 120)
    assert(jobs <= 4, s"$jobs jobs")
    val info = md.getStoredInfo().collect()
      .map(r => r.getAs[String]("symbol") -> r.getAs[Long]("n")).toMap
    assert(info == Map("BTCUSDT" -> 720L, "ETHUSDT" -> 600L))
    assert(md.checkDataExists("BTCUSDT", "1m", t0, t0 + 720 * m - 1, now)._1)
  }

  test("deleteData runs no Spark job") {
    val md = warm()
    assert(jobsOf(md.deleteData("ETHUSDT", "1m")) == 0)
    assert(!md.checkDataExists("ETHUSDT", "1m", t0, t0 + 600 * m - 1, now)._1)
    assert(md.checkDataExists("BTCUSDT", "1m", t0, t0 + 600 * m - 1, now)._1)
  }

  test("a first save into an empty basePath derives no coverage: at most 4 jobs") {
    val md = newMd()
    val batch = md.getHistoricalData("BTCUSDT", "1m", t0, t0 + 120 * m)
    var jobs = 0
    assert(pulls { jobs = jobsOf(md.saveData(batch)) } == 120)
    assert(jobs <= 4, s"$jobs jobs")
    assert(md.checkDataExists("BTCUSDT", "1m", t0, t0 + 120 * m - 1, now)._1)
  }

  test("saveData of an empty frame changes neither the store nor its coverage") {
    val dir = java.nio.file.Files.createTempDirectory("graft_fill")
    val md = warm(dir.toString)
    def files(): Seq[(String, Long)] =
      java.nio.file.Files.walk(dir).toArray.toSeq
        .map(p => new java.io.File(p.toString))
        .map(f => f.getPath -> f.lastModified).sorted
    val (before, infoBefore) = (files(), md.getStoredInfo().collect().toSeq)
    val empty = md.getHistoricalData("BTCUSDT", "1m", t0, t0 + 600 * m)
      .filter(lit(false))
    assert(jobsOf(md.saveData(empty)) <= 1)
    assert(files() == before && md.getStoredInfo().collect().toSeq == infoBefore)
    assert(md.checkDataExists("BTCUSDT", "1m", t0, t0 + 600 * m - 1, now)
      == ((true, false)))
    // on a store that was never written, nothing is created and reads
    // are empty
    val freshDir = java.nio.file.Files.createTempDirectory("graft_fill")
    val fresh = newMd(freshDir.toString)
    fresh.saveData(empty)
    assert(freshDir.toFile.list().isEmpty)
    assert(fresh.getStoredInfo().count() == 0 &&
      fresh.getData("BTCUSDT", "1m", t0, t0, now).count() == 0 &&
      fresh.getResampledData("BTCUSDT", "1h", t0, t0, now).count() == 0 &&
      !fresh.checkDataExists("BTCUSDT", "1m", t0, t0 + m, now)._1)
  }

  test("upsertSave keyed without the layout keys writes one file per partition") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft_fill") + "/ohlcv"
    // BTC on even minutes, ETH on odd ones: `ts` alone is a key
    def mk(from: Int, to: Int) = (from until to).map { i =>
      (msTs(t0 + i * m), if (i % 2 == 0) "BTC" else "ETH", "1m", i.toDouble)
    }.toDF("ts", "symbol", "timeframe", "close")
    Store.save(mk(0, 40), path)
    // without coalescing, the window's exchange on `ts` spreads each
    // series over several tasks
    val coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
    spark.conf.set(coalesce, "false")
    try Store.upsertSave(spark, path, mk(30, 80), Seq("ts"))
    finally spark.conf.unset(coalesce)
    for (sym <- Seq("BTC", "ETH")) {
      val files = new java.io.File(s"$path/symbol=$sym/timeframe=1m")
        .list().filter(_.endsWith(".parquet"))
      assert(files.length == 1, s"$sym: ${files.toSeq}")
    }
    val out = spark.read.parquet(path).orderBy("ts").select("symbol", "close")
      .collect().map(r => (r.getString(0), r.getDouble(1)))
    assert(out.toSeq == (0 until 80).map(i =>
      (if (i % 2 == 0) "BTC" else "ETH", i.toDouble)))
  }
}
