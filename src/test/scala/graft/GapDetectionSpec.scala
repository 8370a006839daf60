package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.MarketData

/** `getDataIncremental` fetches exactly the runs of missing buckets (or
  * one spanning run over more than `maxRuns`) and returns the stored and
  * fetched rows of the request. */
class GapDetectionSpec extends AnyFunSuite with SparkTestBase {
  private val m = 60000L
  private val h = 60 * m
  private val t0 = 1704067200000L // 2024-01-01T00:00Z
  private val now = t0 + 400 * h

  /** Candles at `from`, `from + dur`, … below `to` (`from` need not be on
    * the bucket grid). */
  private def rows(symbol: String, tf: String, from: Long, to: Long) =
    spark.range(from, to, graft.engine.Timeframes.durationMs(tf))
      .select(timestamp_millis(col("id")).as("ts"), lit(symbol).as("symbol"),
        lit(tf).as("timeframe"), lit(1.0).as("open"), lit(2.0).as("high"),
        lit(0.5).as("low"), lit(1.5).as("close"), lit(10.0).as("volume"))

  /** Seed a fresh store with `segments` (each saved as one batch), run one
    * incremental request on it, and check that it fetched `want` and
    * returned every stored or fetched candle in [from, to), in `ts`
    * order. */
  private def check(tf: String, segments: Seq[(Long, Long)], from: Long,
      to: Long, want: Seq[(Long, Long)], nowMs: Long = now,
      maxRuns: Int = 64): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("graft_gaps").toString
    val fetched = scala.collection.mutable.Buffer.empty[(Long, Long)]
    val md = new MarketData(spark, dir, (symbol, timeframe, a, b) => {
      fetched += ((a, b)); rows(symbol, timeframe, a, b)
    })
    segments.foreach { case (a, b) => md.saveData(rows("BTC", tf, a, b)) }
    fetched.clear()
    val out = md.getDataIncremental("BTC", tf, from, to, nowMs, maxRuns)
      .collect().toSeq
    assert(fetched.toSeq == want)
    val dur = graft.engine.Timeframes.durationMs(tf)
    val expected = (segments ++ want)
      .flatMap { case (a, b) => a until b by dur }
      .filter(ts => ts >= from && ts < to).distinct.sorted
    assert(out.map(_.getTimestamp(0).getTime) == expected)
  }

  test("a middle hole is fetched alone") {
    check("1h", Seq((t0, t0 + 5 * h), (t0 + 10 * h, t0 + 15 * h)), t0,
      t0 + 15 * h, Seq((t0 + 5 * h, t0 + 10 * h)))
    check("1m", Seq((t0, t0 + 5 * m), (t0 + 10 * m, t0 + 15 * m)), t0,
      t0 + 15 * m, Seq((t0 + 5 * m, t0 + 10 * m)))
  }

  test("head and tail runs, an unaligned start and the clamp to now") {
    // the request starts mid-bucket (aligned up to 1h) and ends past
    // `now`, which cuts the tail run at the bucket holding `now`
    check("1h", Seq((t0 + 5 * h, t0 + 10 * h)), t0 - h / 2, t0 + 20 * h,
      Seq((t0, t0 + 5 * h), (t0 + 10 * h, t0 + 13 * h)),
      nowMs = t0 + 12 * h + 1)
    check("1m", Seq((t0 + 5 * m, t0 + 10 * m)), t0, t0 + 15 * m,
      Seq((t0, t0 + 5 * m), (t0 + 10 * m, t0 + 15 * m)))
  }

  test("a fully covered request fetches nothing") {
    check("1h", Seq((t0, t0 + 15 * h)), t0 + 2 * h, t0 + 12 * h, Nil)
    check("1m", Seq((t0, t0 + 30 * m)), t0, t0 + 30 * m, Nil)
  }

  test("stored candles off the bucket grid cover no bucket") {
    // on-grid [0, 5h) plus two candles at half past 5h and 6h: buckets
    // 5h and 6h are still missing
    check("1h", Seq((t0, t0 + 5 * h), (t0 + 5 * h + h / 2, t0 + 7 * h)), t0,
      t0 + 8 * h, Seq((t0 + 5 * h, t0 + 8 * h)))
  }

  test("a comb of more than maxRuns holes degrades to one spanning fetch") {
    // every other minute stored over [0, 20m): holes at 1m, 3m, …, 19m
    val comb = (0 until 20 by 2).map(i => (t0 + i * m, t0 + (i + 1) * m))
    check("1m", comb, t0, t0 + 20 * m, Seq((t0 + m, t0 + 20 * m)), maxRuns = 3)
    // at exactly maxRuns holes each is fetched on its own
    check("1m", comb.take(4), t0, t0 + 8 * m,
      Seq(1, 3, 5, 7).map(i => (t0 + i * m, t0 + (i + 1) * m)), maxRuns = 4)
  }

  test("a request of 200,000 1m buckets fetches only its two holes") {
    check("1m", Seq((t0, t0 + 70000 * m), (t0 + 70100 * m, t0 + 150000 * m),
        (t0 + 150007 * m, t0 + 200000 * m)), t0, t0 + 200000 * m,
      Seq((t0 + 70000 * m, t0 + 70100 * m), (t0 + 150000 * m, t0 + 150007 * m)),
      nowMs = t0 + 300000 * m)
  }
}
