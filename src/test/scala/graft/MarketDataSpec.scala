package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.MarketData

/** Full cache-or-fetch lifecycle (SURVEY §3.1/§3.2) against a counting
  * fetcher: fetch → save → hit → resample → delete. */
class MarketDataSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private val h = 3600000L
  private val t0 = 1704067200000L // 2024-01-01T00:00Z
  private val now = t0 + 400 * h

  private def newMd(dir: String = java.nio.file.Files
      .createTempDirectory("graft_md").toString): (MarketData, AtomicInteger) = {
    val calls = new AtomicInteger(0)
    val fetch = (symbol: String, tf: String, from: Long, to: Long) => {
      calls.incrementAndGet()
      val dur = graft.engine.Timeframes.durationMs(tf)
      (from until to by dur).map { ts =>
        (msTs(ts), symbol, tf, 1.0, 2.0, 0.5, 1.5, 10.0)
      }.toDF("ts", "symbol", "timeframe", "open", "high", "low", "close", "volume")
    }
    (new MarketData(spark, dir, fetch), calls)
  }

  test("cache-or-fetch: miss fetches once, hit never re-fetches (UI:343-372)") {
    val (md, calls) = newMd()
    assert(md.checkDataExists("BTC", "1h", t0, t0 + 10 * h, now) == (false, false))
    val first = md.getData("BTC", "1h", t0, t0 + 10 * h, now)
    assert(first.count() == 10 && calls.get() == 1)
    // the IDENTICAL repeat request is a pure cache hit — this was the
    // probe-end bug: an exclusive toMs probed as a closed req_end read
    // every repeat as uncovered and re-fetched the full range
    assert(md.getData("BTC", "1h", t0, t0 + 10 * h, now).count() == 10)
    assert(calls.get() == 1, "identical repeat request re-fetched")
    // contained re-request: pure scan, no fetch; END-EXCLUSIVE
    // throughout — [2h, 8h) is 6 candles regardless of what wider
    // coverage happens to have stored at exactly 8h
    val again = md.getData("BTC", "1h", t0 + 2 * h, t0 + 8 * h, now)
    assert(again.count() == 6 && calls.get() == 1)
    assert(again.agg(max(unix_millis(col("ts")))).head.getLong(0)
      == t0 + 7 * h, "end bucket must be exclusive")
    // covered through cov_end + dur - 1 (closed interval, DB:296-298)
    assert(md.checkDataExists("BTC", "1h", t0, t0 + 10 * h - 1, now)._1)
  }

  test("basePath may be scheme-qualified: existence checks use Hadoop FS, not java.io.File") {
    // "file:/..." is a valid Hadoop URI but NOT a valid java.io.File path —
    // a local-File existence check would always miss and re-fetch
    val dir = "file:" +
      java.nio.file.Files.createTempDirectory("graft_md_uri").toString
    val calls = new AtomicInteger(0)
    val fetch = (symbol: String, tf: String, from: Long, to: Long) => {
      calls.incrementAndGet()
      val dur = graft.engine.Timeframes.durationMs(tf)
      (from until to by dur).map { ts =>
        (msTs(ts), symbol, tf, 1.0, 2.0, 0.5, 1.5, 10.0)
      }.toDF("ts", "symbol", "timeframe", "open", "high", "low", "close", "volume")
    }
    val md = new MarketData(spark, dir, fetch)
    assert(md.getData("BTC", "1h", t0, t0 + 5 * h, now).count() == 5)
    assert(calls.get() == 1)
    // re-request within coverage (closed interval: cov_end + dur - 1)
    assert(md.getData("BTC", "1h", t0, t0 + 5 * h - 1, now).count() == 5)
    assert(calls.get() == 1, "scheme-qualified store was not recognized as a hit")
  }

  test("getDataIncremental fetches only the missing runs, never the whole range") {
    val dir = java.nio.file.Files.createTempDirectory("graft_inc").toString
    val ranges = scala.collection.mutable.Buffer.empty[(Long, Long)]
    val fetch = (symbol: String, tf: String, from: Long, to: Long) => {
      ranges += ((from, to))
      val dur = graft.engine.Timeframes.durationMs(tf)
      (from until to by dur).map { ts =>
        (msTs(ts), symbol, tf, 1.0, 2.0, 0.5, 1.5, 10.0)
      }.toDF("ts", "symbol", "timeframe", "open", "high", "low", "close", "volume")
    }
    val md = new MarketData(spark, dir, fetch)
    // two cached segments with a hole: [0,5h) and [10h,15h)
    md.saveData(fetch("BTC", "1h", t0, t0 + 5 * h)); ranges.clear()
    md.saveData(fetch("BTC", "1h", t0 + 10 * h, t0 + 15 * h)); ranges.clear()
    // incremental load of [0,15h): must fetch EXACTLY the hole [5h,10h)
    val df = md.getDataIncremental("BTC", "1h", t0, t0 + 15 * h, now)
    assert(df.count() == 15)
    assert(ranges.toSeq == Seq((t0 + 5 * h, t0 + 10 * h)),
      s"fetched $ranges instead of just the hole")
    // fully-covered re-request: zero fetches
    assert(md.getDataIncremental("BTC", "1h", t0, t0 + 15 * h, now).count() == 15)
    assert(ranges.size == 1, "covered re-request must not fetch")
    // extension past coverage fetches only the tail run
    assert(md.getDataIncremental("BTC", "1h", t0, t0 + 18 * h, now).count() == 18)
    assert(ranges.toSeq == Seq((t0 + 5 * h, t0 + 10 * h),
      (t0 + 15 * h, t0 + 18 * h)))
  }

  test("preview is bounded top-k and plotCandles auto-coarsens to fit maxPoints") {
    val (md, _) = newMd()
    md.getData("BTC", "1h", t0, t0 + 100 * h, now) // 100 hourly candles
    val (headRows, tailRows) = md.preview("BTC", "1h", n = 5)
    assert(headRows.length == 5 && tailRows.length == 5)
    assert(headRows.head.getAs[java.sql.Timestamp]("ts").getTime == t0)
    assert(tailRows.last.getAs[java.sql.Timestamp]("ts").getTime == t0 + 99 * h)
    assert(headRows.map(_.getAs[java.sql.Timestamp]("ts").getTime).toSeq ==
      headRows.map(_.getAs[java.sql.Timestamp]("ts").getTime).toSeq.sorted)
    // the top-k must reach the plan, not sort-then-limit
    val plan = md.facts().filter(col("symbol") === "BTC")
      .orderBy(col("ts")).limit(5).queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(400))
    // 100h span, maxPoints 30 → 1h/2h don't fit (100/50 buckets), 4h does:
    // 25 buckets — the finest timeframe within the budget
    val plot = md.plotCandles("BTC", "1h", t0, t0 + 100 * h, now, maxPoints = 30)
    val rows = plot.collect()
    assert(rows.length == 25, s"got ${rows.length} buckets")
    // volume conserved through the coarsening (resampled load fetches the
    // 1m base: 6000 minutes × volume 10.0)
    assert(math.abs(rows.map(_.getAs[Double]("volume")).sum - 6000 * 10.0) < 1e-9)
  }

  test("freshness tolerance admits a just-beyond-coverage request (DB:288-295)") {
    val (md, calls) = newMd()
    md.getData("BTC", "1h", t0, t0 + 10 * h, now)
    // coverage ends at t0+9h; request to t0+10h30m with now close to cov end
    val freshNow = t0 + 10 * h
    val (hit, fresh) = md.checkDataExists("BTC", "1h", t0, t0 + h / 2 + 10 * h, freshNow)
    assert(hit && fresh)
    md.getData("BTC", "1h", t0, t0 + h / 2 + 10 * h, freshNow)
    assert(calls.get() == 1, "fresh hit must not re-fetch")
  }

  test("saveData is an idempotent keyed upsert + metadata refresh (S7/S8)") {
    val (md, _) = newMd()
    val batch = md.getHistoricalData("BTC", "1h", t0, t0 + 5 * h)
    md.saveData(batch)
    md.saveData(batch) // idempotent
    assert(md.facts().count() == 5)
    val overwrite = Seq((msTs(t0), "BTC", "1h", 9.0, 9.0, 9.0, 9.0, 99.0))
      .toDF("ts", "symbol", "timeframe", "open", "high", "low", "close", "volume")
    md.saveData(overwrite) // last writer wins on the PK
    assert(md.facts().count() == 5)
    assert(md.facts().filter(unix_millis(col("ts")) === t0)
      .select("volume").as[Double].head() == 99.0)
  }

  test("resampled load derives coarse candles from the 1m base (UI:374-434)") {
    val (md, calls) = newMd()
    val daily = md.getResampledData("BTC", "1d", t0, t0 + 2880 * 60000L, now)
    assert(calls.get() == 1)       // one 1m fetch
    assert(daily.count() == 2)     // 2 days
    assert(daily.agg(max("n")).as[Long].head() == 1440) // minutes per day
  }

  test("delete + storedInfo bookkeeping (S9/S6)") {
    val (md, _) = newMd()
    md.getData("BTC", "1h", t0, t0 + 5 * h, now)
    md.getData("ETH", "1h", t0, t0 + 3 * h, now)
    val info = md.getStoredInfo().collect()
    assert(info.length == 2)
    assert(info.head.getAs[String]("start_date") == "2024-01-01")
    md.deleteData("BTC", "1h")
    val left = md.getStoredInfo().collect()
    assert(left.length == 1 && left.head.getAs[String]("symbol") == "ETH")
    // deleted series is a miss again
    assert(!md.checkDataExists("BTC", "1h", t0, t0 + 5 * h, now)._1)
  }

  test("deleteData drops coverage before the data: a failed coverage write leaves the series whole") {
    val dir = java.nio.file.Files.createTempDirectory("graft_md").toString
    val (md, calls) = newMd(dir)
    assert(md.getData("BTC", "1h", t0, t0 + 5 * h, now).count() == 5)
    // a directory at the coverage file's staging path fails the coverage
    // rewrite before it touches the file
    assert(new java.io.File(dir, "coverage.tmp/blocker").mkdirs())
    intercept[Exception](md.deleteData("BTC", "1h"))
    // still covered, so getData must still find every stored row
    assert(md.getData("BTC", "1h", t0, t0 + 5 * h, now).count() == 5)
    assert(calls.get() == 1)
  }

  test("two instances over one basePath: each one's probe sees the other's save and delete") {
    val dir = java.nio.file.Files.createTempDirectory("graft_md_two").toString
    val calls = new AtomicInteger(0)
    val fetch = (symbol: String, tf: String, from: Long, to: Long) => {
      calls.incrementAndGet()
      val dur = graft.engine.Timeframes.durationMs(tf)
      (from until to by dur).map { ts =>
        (msTs(ts), symbol, tf, 1.0, 2.0, 0.5, 1.5, 10.0)
      }.toDF("ts", "symbol", "timeframe", "open", "high", "low", "close", "volume")
    }
    val a = new MarketData(spark, dir, fetch)
    val b = new MarketData(spark, dir, fetch)
    assert(a.getData("BTC", "1h", t0, t0 + 5 * h, now).count() == 5)
    // A's coverage is warm: BTC covered, ETH not
    assert(a.checkDataExists("BTC", "1h", t0, t0 + 5 * h - 1, now)._1)
    assert(!a.checkDataExists("ETH", "1h", t0, t0 + 3 * h - 1, now)._1)
    b.saveData(fetch("ETH", "1h", t0, t0 + 3 * h))
    b.deleteData("BTC", "1h")
    assert(a.checkDataExists("ETH", "1h", t0, t0 + 3 * h - 1, now)._1,
      "A missed B's save")
    assert(!a.checkDataExists("BTC", "1h", t0, t0 + 5 * h - 1, now)._1,
      "A missed B's delete")
    val fetched = calls.get()
    assert(a.getData("ETH", "1h", t0, t0 + 3 * h, now).count() == 3)
    assert(calls.get() == fetched, "B's series must be a hit for A")
    assert(a.getData("BTC", "1h", t0, t0 + 5 * h, now).count() == 5)
    assert(calls.get() == fetched + 1, "the series B deleted must be refetched")
  }

  test("a store without the coverage file answers probes from its facts; reads write nothing, the next save writes it") {
    val dir = java.nio.file.Files.createTempDirectory("graft_md_nocov").toString
    val (md, calls) = newMd(dir)
    md.getData("BTC", "1h", t0, t0 + 10 * h, now)
    md.getData("ETH", "1h", t0, t0 + 3 * h, now)
    // covered, fresh, past coverage, another series, never stored
    val probes = Seq(("BTC", t0, t0 + 10 * h - 1, now),
      ("BTC", t0, t0 + 10 * h + h / 2, t0 + 10 * h), ("BTC", t0, t0 + 12 * h, now),
      ("ETH", t0 + h, t0 + 3 * h - 1, now), ("XRP", t0, t0 + h, now))
    def answers() = probes.map { case (sym, from, to, at) =>
      md.checkDataExists(sym, "1h", from, to, at) }
    def files() = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .toArray.toSeq.map(_.toString).sorted
    val withFile = answers()
    assert(withFile.map(_._1) == Seq(true, true, false, true, false))
    val coverage = new java.io.File(dir, "coverage")
    assert(coverage.delete())
    new java.io.File(dir, ".coverage.crc").delete()
    assert(answers() == withFile, "a deleted coverage file")
    // the layout of a store written before the coverage file: `ohlcv/`
    // beside the `ohlcv_meta/` table, here claiming a series never stored
    Seq(("XRP", "1h", msTs(t0), msTs(t0 + 100 * h)))
      .toDF("symbol", "timeframe", "start_ts", "end_ts")
      .write.parquet(s"$dir/ohlcv_meta")
    val before = files()
    assert(answers() == withFile, "a store with only ohlcv_meta/")
    assert(md.getData("BTC", "1h", t0, t0 + 10 * h, now).count() == 10)
    assert(new MarketData(spark, dir).checkDataExists("ETH", "1h", t0, t0 + 3 * h - 1, now)._1)
    assert(calls.get() == 2, "a probe fetched")
    assert(files() == before, "a read wrote a file")
    md.saveData(md.getHistoricalData("SOL", "1h", t0, t0 + 2 * h))
    assert(coverage.exists(), "the save did not write the coverage file")
    assert(answers() == withFile)
    assert(md.checkDataExists("SOL", "1h", t0, t0 + 2 * h - 1, now)._1)
  }

  test("a symbol holding a tab, a newline, '%', '=' and spaces survives save, probe and delete") {
    val (md, calls) = newMd()
    val sym = " A\tB\nC%D=E F "
    assert(md.getData("BTC", "1h", t0, t0 + 2 * h, now).count() == 2)
    assert(md.getData(sym, "1h", t0, t0 + 5 * h, now).count() == 5)
    assert(md.checkDataExists(sym, "1h", t0, t0 + 5 * h - 1, now) == ((true, false)))
    assert(md.getData(sym, "1h", t0, t0 + 5 * h, now).count() == 5 && calls.get() == 2)
    assert(md.getStoredInfo().select("symbol").as[String].collect().toSeq == Seq(sym, "BTC"))
    md.deleteData(sym, "1h")
    assert(!md.checkDataExists(sym, "1h", t0, t0 + 5 * h - 1, now)._1)
    assert(md.checkDataExists("BTC", "1h", t0, t0 + 2 * h - 1, now)._1)
    assert(md.facts().filter(col("symbol") === sym).count() == 0 && md.facts().count() == 2)
  }

  test("default fetcher wires the DSv2 kline source end-to-end") {
    val dir = java.nio.file.Files.createTempDirectory("graft_md_dsv2").toString
    val md = new MarketData(spark, dir)
    val df = md.getData("BTCUSDT", "1h", t0, t0 + 6 * h, now)
    assert(df.count() == 6)
    assert(df.select("timeframe").distinct().as[String].head() == "1h")
  }
}
