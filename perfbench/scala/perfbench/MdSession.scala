package perfbench

import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.engine.{Indicators, MarketData, Ohlcv, Store}
import graft.sources.KlineSource

/** `md_session`: a seeded session of user calls on [[MarketData]] over a
  * store back-filled from the offline kline source.
  *
  * Each cycle issues, in seeded order: two cache-hit `getData` reads,
  * one `getResampledData` read (1h/4h/1d), one Bollinger or RSI over a
  * resampled series, one `getStoredInfo`, one `getDataIncremental` tail
  * extension, and one `deleteData` followed by the `getData` miss that
  * re-fetches the series. Every result is collected and checked
  * against candles the benchmark recomputes from [[KlineSource.candle]].
  */
final class MdSession(spark: SparkSession, seed: Long) extends Workload {
  import MdSession._

  val builds = 3
  val cycleSeconds = 5.0
  private val rng = new java.util.Random(seed)
  val symbols: Seq[String] = {
    val names = mutable.LinkedHashSet[String]()
    while (names.size < NSymbols)
      names += (0 until 3).map(_ => ('A' + rng.nextInt(26)).toChar).mkString + "USDT"
    names.toSeq
  }
  private val t0 = Day0 + rng.nextInt(300).toLong * DayMs
  private val now = t0 + 400L * DayMs
  private val ends = mutable.Map[String, Long]()
  private var md: MarketData = _
  private var dir: String = _
  private var fetched = 0L

  /** The default kline fetch, counting the candles it asks for. */
  private val fetch: (String, String, Long, Long) => DataFrame =
    (symbol, timeframe, fromMs, toMs) => {
      val dur = graft.engine.Timeframes.durationMs(timeframe)
      val first = ((fromMs + dur - 1) / dur) * dur
      fetched += math.max(0L, (toMs - first + dur - 1) / dur)
      spark.read.format("graft.sources.KlineSource")
        .option("symbols", symbol).option("timeframe", timeframe)
        .option("startMs", fromMs.toString).option("endMs", toMs.toString)
        .load()
    }

  def build(d: String, idx: Int): Unit = {
    dir = d
    md = new MarketData(spark, d, fetch)
    symbols.foreach(s => ends(s) = t0 + BackfillDays * DayMs)
    md.saveData(symbols
      .map(s => md.getHistoricalData(s, "1m", t0, ends(s)))
      .reduce(_ unionByName _))
  }

  override def sampled: Seq[(String, String, String)] =
    Seq(("store.upsertSave", "graft.engine.Store$", "upsertSave"))

  // ---- expected values ---------------------------------------------------
  private def candles(sym: String, from: Long, to: Long) =
    (from until to by Minute).map(ts => ts -> KlineSource.candle(sym, ts))

  private def checkCandles(rows: Array[Row], sym: String, from: Long,
      to: Long): Seq[String] = {
    val exp = candles(sym, from, to)
    if (rows.length != exp.length)
      return Seq(s"$sym [$from,$to): ${rows.length} rows, expected ${exp.length}")
    rows.sortBy(_.getAs[Timestamp]("ts").getTime).zip(exp).collectFirst {
      case (r, (ts, (o, h, l, c, v)))
          if r.getAs[Timestamp]("ts").getTime != ts ||
            r.getAs[Double]("open") != o || r.getAs[Double]("high") != h ||
            r.getAs[Double]("low") != l || r.getAs[Double]("close") != c ||
            r.getAs[Double]("volume") != v =>
        s"$sym candle at $ts differs from the source"
    }.toSeq
  }

  /** Resampled buckets recomputed from the source candles:
    * bucket -> (open, high, low, close, volume, n). */
  private def buckets(sym: String, tf: String, from: Long, to: Long) = {
    val dur = graft.engine.Timeframes.durationMs(tf)
    candles(sym, from, to).groupBy(_._1 / dur * dur).toSeq.sortBy(_._1).map {
      case (b, cs) =>
        val s = cs.sortBy(_._1).map(_._2)
        b -> (s.head._1, s.map(_._2).max, s.map(_._3).min, s.last._4,
          s.map(_._5).sum, s.length.toLong)
    }
  }

  private def close(a: Double, b: Double, tol: Double) =
    math.abs(a - b) <= tol * math.max(1.0, math.abs(b))

  private def checkResampled(rows: Array[Row], sym: String, tf: String,
      from: Long, to: Long): Seq[String] = {
    val exp = buckets(sym, tf, from, to)
    if (rows.length != exp.length)
      return Seq(s"$sym $tf: ${rows.length} buckets, expected ${exp.length}")
    rows.sortBy(_.getAs[Timestamp]("bucket").getTime).zip(exp).collectFirst {
      case (r, (b, (o, h, l, c, v, n)))
          if r.getAs[Timestamp]("bucket").getTime != b ||
            r.getAs[Double]("open") != o || r.getAs[Double]("high") != h ||
            r.getAs[Double]("low") != l || r.getAs[Double]("close") != c ||
            !close(r.getAs[Double]("volume"), v, 1e-9) ||
            r.getAs[Long]("n") != n =>
        s"$sym $tf bucket $b differs from the recomputed candle"
    }.toSeq
  }

  private def dec4(x: Double): BigDecimal =
    BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP)

  private def checkBollinger(rows: Array[Row], sym: String, from: Long,
      to: Long): Seq[String] = {
    val closes = buckets(sym, "1h", from, to).map(_._2._4)
    val exp = closes.sliding(BandN).filter(_.length == BandN)
      .map(w => w.map(dec4).sum.toDouble / BandN).toSeq
    if (rows.length != exp.length)
      return Seq(s"$sym bollinger: ${rows.length} rows, expected ${exp.length}")
    rows.sortBy(_.getAs[Timestamp]("bucket").getTime).zip(exp).collectFirst {
      case (r, mid) if !close(r.getAs[Double]("mid"), mid, 1e-6) =>
        s"$sym bollinger mid ${r.getAs[Double]("mid")} != $mid"
    }.toSeq
  }

  private def checkRsi(rows: Array[Row], sym: String, from: Long,
      to: Long): Seq[String] = {
    val closes = buckets(sym, "1h", from, to).map(x => dec4(x._2._4))
    val deltas = closes.sliding(2).map(w => w(1) - w(0)).toSeq
    val exp = deltas.sliding(RsiN).filter(_.length == RsiN).map { w =>
      val g = w.map(_.max(0)).sum
      val l = w.map(d => (-d).max(0)).sum
      if (l == 0) 100.0 else 100.0 - 100.0 / (1.0 + g.toDouble / l.toDouble)
    }.toSeq
    if (rows.length != exp.length)
      return Seq(s"$sym rsi: ${rows.length} rows, expected ${exp.length}")
    rows.sortBy(_.getAs[Timestamp]("bucket").getTime).zip(exp).collectFirst {
      case (r, x) if !close(r.getAs[Double]("rsi"), x, 1e-5) =>
        s"$sym rsi ${r.getAs[Double]("rsi")} != $x"
    }.toSeq
  }

  // ---- calls -------------------------------------------------------------
  private def pickRange(sym: String, lenMs: Long): (Long, Long) = {
    val span = (ends(sym) - t0 - lenMs) / Minute
    val from = t0 + rng.nextInt(span.toInt + 1).toLong * Minute
    (from, from + lenMs)
  }

  private def factPath = s"$dir/ohlcv"

  /** getData on the cache-hit path. Traced runs issue the public calls
    * getData is built from, in the same order. */
  private def hitRows(r: Runner, sym: String, from: Long, to: Long): Array[Row] =
    if (!r.isTracing) md.getData(sym, "1m", from, to, now).collect()
    else {
      probe(r, sym, from, to)
      r.span("store.scan")(Store.scan(spark, factPath, sym, "1m",
        new Timestamp(from), new Timestamp(to - 1)).collect())
    }

  private def probe(r: Runner, sym: String, from: Long, to: Long): Boolean = {
    val (hit, _) = r.span("coverage.checkDataExists")(
      md.checkDataExists(sym, "1m", from, math.max(from, to - 1), now))
    r.counters("coverage.probes") += 1
    if (hit) r.counters("coverage.hits") += 1
    hit
  }

  /** getResampledData, decomposed in traced runs. */
  private def resampled(r: Runner, sym: String, tf: String, from: Long,
      to: Long): DataFrame =
    if (!r.isTracing) md.getResampledData(sym, tf, from, to, now)
    else {
      probe(r, sym, from, to)
      val base = r.span("store.scan")(Store.scan(spark, factPath, sym, "1m",
        new Timestamp(from), new Timestamp(to - 1)))
      Ohlcv.resampleCandles(base, tf)
    }

  private def getDataHit(r: Runner): Unit = {
    val sym = symbols(rng.nextInt(symbols.length))
    val (from, to) = pickRange(sym, (2 + rng.nextInt(11)) * HourMs)
    r.op("read", "md.getData_hit")(hitRows(r, sym, from, to))(
      checkCandles(_, sym, from, to))
  }

  private def getResampled(r: Runner): Unit = {
    val sym = symbols(rng.nextInt(symbols.length))
    val tf = Seq("1h", "4h", "1d")(rng.nextInt(3))
    val (from, to) = pickRange(sym, (1 + rng.nextInt(3)) * DayMs)
    r.op("read", "md.getResampledData") {
      val df = resampled(r, sym, tf, from, to)
      if (r.isTracing) r.span("ohlcv.resampleCandles")(df.collect())
      else df.collect()
    }(checkResampled(_, sym, tf, from, to))
  }

  private def indicator(r: Runner, bollinger: Boolean): Unit = {
    val sym = symbols(rng.nextInt(symbols.length))
    val (from, to) = pickRange(sym, (2 + rng.nextInt(2)) * DayMs)
    r.op("read", if (bollinger) "indicators.bollinger" else "indicators.rsi") {
      val candles = resampled(r, sym, "1h", from, to)
      r.span("indicators") {
        (if (bollinger) Indicators.bollinger(candles, "symbol", n = BandN)
        else Indicators.rsi(candles, "symbol", n = RsiN)).collect()
      }
    } { rows =>
      if (bollinger) checkBollinger(rows, sym, from, to)
      else checkRsi(rows, sym, from, to)
    }
  }

  private def storedInfo(r: Runner): Unit =
    r.op("read", "md.getStoredInfo")(md.getStoredInfo().collect()) { rows =>
      val got = rows.map(x => x.getAs[String]("symbol") ->
        (x.getAs[String]("timeframe"), x.getAs[Long]("n"),
          x.getAs[Timestamp]("start_ts").getTime,
          x.getAs[Timestamp]("end_ts").getTime)).toMap
      val exp = symbols.map(s =>
        s -> ("1m", (ends(s) - t0) / Minute, t0, ends(s) - Minute)).toMap
      if (got == exp) Nil else Seq(s"stored info $got != $exp")
    }

  private def extend(r: Runner): Unit = {
    val sym = symbols(rng.nextInt(symbols.length))
    val ext = (1 + rng.nextInt(4)) * HourMs
    val from = ends(sym) - HourMs
    val to = ends(sym) + ext
    val before = fetched
    r.op("write", "md.getDataIncremental", ext / Minute)(
      md.getDataIncremental(sym, "1m", from, to, now).collect())(
      checkCandles(_, sym, from, to))
    ends(sym) = to
    if (r.isTracing) {
      r.counters("kline.rows_fetched") += fetched - before
      r.counters("kline.rows_missing") += ext / Minute
    }
  }

  private def deleteAndRefetch(r: Runner): Unit = {
    val sym = symbols(rng.nextInt(symbols.length))
    val (from, to) = (t0, ends(sym))
    r.op("write", "md.deleteData")(md.deleteData(sym, "1m"))(_ => Nil)
    val before = fetched
    r.op("write", "md.getData_miss", (to - from) / Minute) {
      if (!r.isTracing) md.getData(sym, "1m", from, to, now).collect()
      else {
        if (!probe(r, sym, from, to))
          r.span("md.saveData")(
            md.saveData(md.getHistoricalData(sym, "1m", from, to)))
        r.span("store.scan")(Store.scan(spark, factPath, sym, "1m",
          new Timestamp(from), new Timestamp(to - 1)).collect())
      }
    }(checkCandles(_, sym, from, to))
    if (r.isTracing) {
      r.counters("kline.rows_fetched") += fetched - before
      r.counters("kline.rows_missing") += (to - from) / Minute
    }
  }

  /** One cycle's calls in seeded order; the delete and its re-fetch stay
    * adjacent so no read sees the series missing. Cycles alternate
    * between the Bollinger and the RSI read. */
  def cycle(r: Runner, idx: Int): Unit = {
    val calls: Seq[Runner => Unit] = Seq(getDataHit _, getDataHit _,
      getResampled _, indicator(_, bollinger = idx % 2 == 0),
      storedInfo _, extend _, deleteAndRefetch _)
    scala.util.Random.javaRandomToRandom(rng).shuffle(calls).foreach(_(r))
  }

  def warmup(r: Runner): Unit = (0 until WarmupCycles).foreach(cycle(r, _))

  def finish(r: Runner): Map[String, Any] = {
    val p = new org.apache.hadoop.fs.Path(factPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(p, true)
    var bytes = 0L
    var files = 0L
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) {
        bytes += f.getLen
        files += 1
      }
    }
    val rows = symbols.map(s => (ends(s) - t0) / Minute).sum
    Map("store_bytes" -> bytes, "live_rows" -> rows, "store_files" -> files,
      "store_partitions" -> symbols.length)
  }
}

object MdSession {
  val Minute = 60000L
  val HourMs = 60 * Minute
  val DayMs = 24 * HourMs
  /** 2024-01-01T00:00:00Z */
  val Day0 = 1704067200000L
  val NSymbols = 4
  val BackfillDays = 4
  val BandN = 20
  val RsiN = 14
  val WarmupCycles = 2
}
