package graft.engine

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.{escapePathName, unescapePathName}
import org.apache.spark.sql.catalyst.util.DateTimeUtils.anyToMicros
import org.apache.spark.sql.functions._

/** The reference's public programmatic API (SURVEY §3.2; reference
  * README.md:82-101), mirrored 1:1 as a facade over the engine parts:
  *
  * | reference (python)              | here                       |
  * |---------------------------------|----------------------------|
  * | `get_historical_data(...)`      | [[getHistoricalData]]      |
  * | `save_data(df, sym, tf)`        | [[saveData]]               |
  * | `check_data_exists(...)`        | [[checkDataExists]]        |
  * | `get_data(...)` (cache-or-fetch)| [[getData]]                |
  * | resampled load (`UI:374-434`)   | [[getResampledData]]       |
  * | `delete_data(sym, tf)`          | [[deleteData]]             |
  * | `get_stored_info()`             | [[getStoredInfo]]          |
  * | export CSV/parquet (`UI:565-594`)| [[Store.exportCsv]]/[[Store.exportParquet]] |
  *
  * State under `basePath` is the fact table `ohlcv/` in the canonical
  * partitioned layout and the small `coverage` file, one line per series
  * with its first and last stored `ts` — the Spark re-expression of
  * `ohlcv_data`/`ohlcv_metadata` (database_handler.py:110-134). `now` is
  * injected for determinism (never `current_timestamp()`).
  *
  * The cache-or-fetch decision (scan-source elision) is driver-side
  * control flow — deliberately NOT a Catalyst rule (SURVEY §4): the
  * choice happens before plan construction. Every call reads the
  * coverage file on the driver, so a probe costs no Spark job, an
  * instance holds no state, and instances over one `basePath` see each
  * other's writes. Writers are expected one at a time per `basePath`,
  * the rule every write path here assumes.
  */
class MarketData(spark: SparkSession, basePath: String,
    fetch: (String, String, Long, Long) => DataFrame) {

  private val factPath = s"$basePath/ohlcv"

  /** The FileSystem of `basePath`'s scheme: it may be hdfs://, s3a://,
    * file:, …, not just the local disk `java.io.File` would pin us to. */
  private def fs: FileSystem = SafeFs.fs(spark, basePath)

  /** The coverage file: a header line, then one line per series — its
    * symbol and timeframe escaped as [[Store.partitionDir]] escapes them
    * (so neither holds the tab or newline that separate fields and
    * lines) and its first and last stored `ts` in epoch micros, all
    * tab-separated. The header and the trailing micros keep every key
    * clear of the whitespace [[SafeFs.readMarker]] trims. */
  private val coveragePath = new Path(s"$basePath/coverage")
  private val CoverageHeader = "# symbol\ttimeframe\tfirst_ts_us\tlast_ts_us"

  /** Default fetcher = the DSv2 kline source. */
  def this(spark: SparkSession, basePath: String) = this(spark, basePath,
    (symbol, timeframe, fromMs, toMs) =>
      spark.read.format("graft.sources.KlineSource")
        .option("symbols", symbol).option("timeframe", timeframe)
        .option("startMs", fromMs.toString).option("endMs", toMs.toString)
        .load())

  /** Heal a crashed [[Store.compact]] swap BEFORE the existence check:
    * mid-swap there is no live dir, and treating that as "store absent"
    * would make the next save overwrite a fresh table containing only
    * the incoming batch — permanently orphaning all prior data in the
    * `__old` backup (and deleteData would overwrite with nothing). */
  private def factExists: Boolean = {
    Store.healInterruptedSwap(spark, factPath)
    fs.exists(new Path(factPath))
  }

  /** Full fact table (empty frame with canonical schema when absent).
    * The schema is supplied explicitly: deleting the last stored series
    * leaves a valid-but-empty table directory, which schema INFERENCE
    * rejects (UNABLE_TO_INFER_SCHEMA) — and skipping inference also
    * avoids the footer read on every open. */
  def facts(): DataFrame =
    if (factExists) spark.read.schema(graft.sources.KlineSource.schema)
      .parquet(factPath)
      .select("ts", "symbol", "timeframe", "open", "high", "low", "close", "volume")
    else noFacts

  /** The empty frame a store with no data files reads as. */
  private def noFacts: DataFrame = spark.createDataFrame(
    spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
    graft.sources.KlineSource.schema)

  /** The stored candles of one series in the end-exclusive [fromMs, toMs)
    * ([[Store.scan]], or [[Store.rangeRead]] when `ordered` is false):
    * the scan's inclusive upper bound is `toMs - 1`. Empty when nothing
    * was ever stored — a save of an empty batch creates no table. */
  private def stored(symbol: String, timeframe: String, fromMs: Long,
      toMs: Long, ordered: Boolean = true): DataFrame =
    if (!factExists) noFacts
    else {
      val (a, b) = (new java.sql.Timestamp(fromMs), new java.sql.Timestamp(toMs - 1))
      if (ordered) Store.scan(spark, factPath, symbol, timeframe, a, b)
      else Store.rangeRead(spark, factPath, symbol, timeframe, a, b)
    }

  /** S1: source ingest for one series over [fromMs, toMs). */
  def getHistoricalData(symbol: String, timeframe: String, fromMs: Long,
      toMs: Long): DataFrame = fetch(symbol, timeframe, fromMs, toMs)

  /** S7+S8: keyed upsert into the store, then metadata refresh —
    * the reference's save path (database_handler.py:193-241).
    *
    * Uses partition-scoped dynamic overwrite ([[Store.upsertSave]]): only
    * the incoming (symbol, timeframe) partitions rewrite. Besides being
    * the 100 TB cost model, this keeps DataFrames previously returned for
    * OTHER series valid mid-batch — a full-table overwrite would yank
    * their underlying files (FAILED_READ_FILE on the next action).
    *
    * `df` is evaluated once ([[Store.stageBatch]]): a REST-backed fetch
    * is pulled once per save. An empty `df` writes nothing and leaves
    * the coverage as it was. */
  def saveData(df: DataFrame): Unit = SafeFs.withRddCleanup(spark) {
    val exists = factExists
    val batch = Store.stageBatch(df.select("ts", "symbol", "timeframe",
      "open", "high", "low", "close", "volume"))
    if (batch.rows > 0) {
      // read before the data write: a store without the coverage file
      // then derives only what was stored before, and a first save
      // derives nothing
      val cov = coverage()
      if (exists) Store.upsertSave(spark, factPath, batch, Store.pk)
      else Store.save(batch.df, factPath)
      // metadata refresh is O(batch) + O(series), NOT a full fact-table
      // re-aggregate: upserts only replace same-key rows (never narrow a
      // series' ts span), so merging the batch's min/max into the
      // current coverage rows is exact — the same batch-scoped cost model
      // as upsertSave itself. The data is written first: a failure
      // between the two writes leaves rows without coverage, which costs
      // only an idempotent refetch.
      writeCoverage(spans(batch.meta).foldLeft(cov) { case (c, (key, (s, e))) =>
        c.updated(key, c.get(key).fold((s, e)) { case (s0, e0) =>
          (math.min(s0, s), math.max(e0, e)) })
      })
    }
  }

  /** (symbol, timeframe) → first/last stored `ts` in epoch micros, as
    * the coverage file holds it. Without the file — a store written
    * before it existed, or a crash inside [[SafeFs.writeMarker]] — the
    * spans are derived from the facts with one aggregate, and nothing is
    * written: a series' span is exactly its stored min/max `ts`, since
    * upserts never narrow it and [[deleteData]] drops the whole series.
    * The next save or delete writes the file. */
  private def coverage(): Map[(String, String), (Long, Long)] =
    SafeFs.readMarker(fs, coveragePath) match {
      case Some(text) =>
        text.split('\n').iterator.drop(1).map { line =>
          val Array(sym, tf, s, e) = line.split('\t')
          (unescapePathName(sym), unescapePathName(tf)) -> (s.toLong, e.toLong)
        }.toMap
      case None if factExists => spans(Store.deriveMeta(facts()).collect().toSeq)
      case None => Map.empty
    }

  /** [[Store.deriveMeta]] rows as coverage spans; a row with a NULL
    * field covers nothing. */
  private def spans(rows: Seq[Row]): Map[(String, String), (Long, Long)] =
    rows.filterNot(_.anyNull).map(r => (r.getString(0), r.getString(1)) ->
      (anyToMicros(r.get(2)), anyToMicros(r.get(3)))).toMap

  private def writeCoverage(cov: Map[(String, String), (Long, Long)]): Unit =
    SafeFs.writeMarker(fs, coveragePath,
      (CoverageHeader +: cov.toSeq.sorted.map { case ((sym, tf), (s, e)) =>
        s"${escapePathName(sym)}\t${escapePathName(tf)}\t$s\t$e"
      }).mkString("\n"))

  /** J1/J2 coverage probe for one request (database_handler.py:257-307).
    * Returns (hit, freshHit). No Spark job: the series' row comes from the
    * coverage file, and [[Coverage]]'s predicates are evaluated over
    * a one-row local frame (folded to a local relation by the optimizer). */
  def checkDataExists(symbol: String, timeframe: String, fromMs: Long,
      toMs: Long, nowMs: Long): (Boolean, Boolean) =
    coverage().get((symbol, timeframe)) match {
      // no coverage row: both flags false, as [[Coverage.probe]]'s left
      // join gives them
      case None => (false, false)
      case Some((startUs, endUs)) =>
        import spark.implicits._
        val dur = Timeframes.durationMs(timeframe)
        val r = Seq((fromMs, toMs, Math.floorDiv(startUs, 1000L),
            Math.floorDiv(endUs, 1000L)))
          .toDF("req_start_ms", "req_end_ms", "cov_start_ms", "cov_end_ms")
          .select(Coverage.covered(dur), Coverage.freshHit(dur, nowMs))
          .collect()(0)
        (r.getBoolean(0) || r.getBoolean(1), r.getBoolean(1))
    }

  /** Cache-or-fetch (entry point §3.1 step 4, colab_interface.py:343-372):
    * coverage hit → pruned range scan; miss → source fetch + save + scan. */
  def getData(symbol: String, timeframe: String, fromMs: Long, toMs: Long,
      nowMs: Long): DataFrame = {
    cacheOrFetch(symbol, timeframe, fromMs, toMs, nowMs)
    stored(symbol, timeframe, fromMs, toMs)
  }

  /** Cache-or-fetch's decision: validate the request, probe coverage, and
    * on a miss fetch and save the range. */
  private def cacheOrFetch(symbol: String, timeframe: String, fromMs: Long,
      toMs: Long, nowMs: Long): Unit = {
    // parameter validation mirroring the reference (colab_interface.py:
    // 222-225 end<start rejection; database_handler.py:204-205 non-empty
    // symbol; closed timeframe vocabulary api_connector.py:194)
    require(symbol.nonEmpty, "symbol must be non-empty")
    require(Timeframes.all.contains(timeframe),
      s"unknown timeframe '$timeframe' (expected one of ${Timeframes.all.mkString(",")})")
    require(toMs >= fromMs, s"end $toMs before start $fromMs")
    // getData's range is END-EXCLUSIVE throughout (it is what the fetch
    // delivers). Two conversions follow from that: the coverage probe's
    // closed-interval req_end is the last REQUESTED instant `toMs - 1`
    // (probing with the exclusive end made an identical repeat request
    // read as uncovered — cov_end + dur - 1 = toMs - 1 < toMs — so every
    // repeat re-fetched the whole range); and the scan's inclusive upper
    // bound is `toMs - 1` (an inclusive toMs returned an EXTRA candle at
    // exactly toMs whenever earlier wider coverage had stored one —
    // same request, cache-state-dependent row count).
    val (hit, _) = checkDataExists(symbol, timeframe, fromMs,
      math.max(fromMs, toMs - 1), nowMs)
    if (!hit) saveData(getHistoricalData(symbol, timeframe, fromMs, toMs))
  }

  /** Incremental cache fill — deliberately BEYOND the reference: its
    * cache-or-fetch treats coverage as all-or-nothing, so any miss
    * refetches the ENTIRE requested range (colab_interface.py:343-372 →
    * api_connector fetch of [start, end]). Here only the runs of missing
    * buckets are fetched and upserted — a 10-year backfill that is 99%
    * cached fetches 1%. The runs are found in one job
    * ([[missingRuns]]: per-task bitmaps of the covered buckets, OR-ed on
    * the driver). The run list is driver-collected by necessity (each
    * run becomes one source fetch, exactly like the reference's page
    * loop); a pathological comb of more than `maxRuns` holes degrades
    * gracefully to one spanning fetch instead of thousands of tiny ones.
    * A request spans at most 2^31 − 1 buckets (4,000 years of 1m). */
  def getDataIncremental(symbol: String, timeframe: String, fromMs: Long,
      toMs: Long, nowMs: Long, maxRuns: Int = 64): DataFrame = {
    require(symbol.nonEmpty, "symbol must be non-empty")
    require(Timeframes.all.contains(timeframe),
      s"unknown timeframe '$timeframe'")
    require(toMs >= fromMs, s"end $toMs before start $fromMs")
    // calendar-anchored grids (Monday 1w opens, month-start 1M opens on
    // a real endpoint) never match this epoch-aligned fixed-width bucket
    // grid — the anti-join would report EVERY bucket missing on EVERY
    // call and the "incremental" fill would refetch the full range each
    // time. Those series are 52/12 candles a year; the all-or-nothing
    // reference path loses nothing there.
    if (timeframe == "1w" || timeframe == "1M")
      return getData(symbol, timeframe, fromMs, toMs, nowMs)
    val dur = Timeframes.durationMs(timeframe)
    val first = ((fromMs + dur - 1) / dur) * dur // align up, as the source does
    // clamp to `now`: buckets that have not opened yet can never be
    // returned by any source — without the clamp they are "missing" on
    // every call and re-fetched forever (permanently-empty spans)
    val effEnd = math.min(toMs, nowMs)
    val nBuckets = math.max((effEnd - first + dur - 1) / dur, 0L)
    require(nBuckets <= Int.MaxValue,
      s"request of $nBuckets $timeframe buckets exceeds ${Int.MaxValue}")
    if (nBuckets > 0) {
      // the stored `ts` in [first, effEnd) as epoch millis; a bucket is
      // covered iff its start is among them
      val covered = facts()
        .filter(col("symbol") === symbol && col("timeframe") === timeframe &&
          col("ts") >= new java.sql.Timestamp(first) &&
          col("ts") < new java.sql.Timestamp(effEnd))
        .select(unix_millis(col("ts")).as("bucket_ms"))
      val runs = missingRuns(covered, first, dur, nBuckets.toInt, maxRuns)
      if (runs.nonEmpty)
        saveData(runs.map { case (a, b) =>
          getHistoricalData(symbol, timeframe, a, b) }.reduce(_ unionByName _))
    }
    stored(symbol, timeframe, fromMs, toMs)
  }

  /** The runs of uncovered buckets among the `n` buckets from `first`,
    * as end-exclusive (start, end) millis in ascending order, or one
    * spanning run when there are more than `maxRuns`. One job: each task
    * sets the buckets its rows of `covered` (bucket starts in millis,
    * all in range) cover in a bitmap, the bitmaps are OR-ed on their way
    * to the driver, and the runs are read off the result. A bitmap holds
    * at most `n` bits: about 660 KB for a 10-year 1m request. */
  private def missingRuns(covered: DataFrame, first: Long, dur: Long,
      n: Int, maxRuns: Int): Array[(Long, Long)] = {
    import spark.implicits._
    // fold, not reduce: a scan of no files has no partitions
    val words = covered.as[Long].rdd.mapPartitions { ms =>
      val hit = new java.util.BitSet()
      ms.foreach { t =>
        // a stored `ts` off the bucket grid covers no bucket
        if ((t - first) % dur == 0) hit.set(((t - first) / dur).toInt)
      }
      Iterator.single(hit.toLongArray)
    }.fold(Array.emptyLongArray) { (a, b) =>
      val (long, short) = if (a.length >= b.length) (a, b) else (b, a)
      short.indices.foreach(i => long(i) |= short(i))
      long
    }
    val hit = java.util.BitSet.valueOf(words)
    val runs = Iterator.unfold(hit.nextClearBit(0)) { a =>
      Option.when(a < n) {
        val b = hit.nextSetBit(a) match { case -1 => n; case i => i }
        ((first + a * dur, first + b * dur), hit.nextClearBit(b))
      }
    }.take(maxRuns + 1).toArray
    if (runs.length > maxRuns)
      Array((runs.head._1, first + (hit.previousClearBit(n - 1) + 1L) * dur))
    else runs
  }

  /** Resampled load (§3.3, colab_interface.py:374-434): force the 1m base
    * series through the cache, derive the target timeframe — one shuffle,
    * not five per-column passes. The base range is read unordered
    * ([[Store.rangeRead]]): every order-sensitive aggregate of
    * [[Ohlcv.resampleCandles]] is keyed on `ts`. */
  def getResampledData(symbol: String, timeframe: String, fromMs: Long,
      toMs: Long, nowMs: Long): DataFrame = {
    cacheOrFetch(symbol, "1m", fromMs, toMs, nowMs)
    Ohlcv.resampleCandles(stored(symbol, "1m", fromMs, toMs, ordered = false),
      timeframe)
  }

  /** S9: delete one series and refresh metadata
    * (database_handler.py:243-255). PARTITION-SCOPED: the series IS a
    * partition directory (`symbol=…/timeframe=…`), so the delete drops
    * exactly that directory — O(series), not an O(table) full rewrite,
    * and DataFrames previously returned for OTHER series keep reading
    * their untouched files (the full-overwrite form yanked every
    * partition's files: FAILED_READ_FILE on their next action — the
    * exact hazard [[saveData]]'s scaladoc documents avoiding).
    *
    * The coverage row goes FIRST: a failure between the two steps then
    * leaves stored rows without coverage (the next getData refetches,
    * idempotently). The other order left the series covered with its
    * rows gone, and getData served it as an empty cache hit. */
  def deleteData(symbol: String, timeframe: String): Unit = {
    if (!factExists) return
    writeCoverage(coverage() - ((symbol, timeframe)))
    SafeFs.clear(fs, Store.partitionDir(factPath, (symbol, timeframe)), "deleteData")
  }

  /** Bounded head/tail preview — the reference binds the loaded frame's
    * first/last rows into its notebook UI (colab_interface.py:624-647).
    * Both sorts compile to TakeOrderedAndProject (top-k, no full sort, no
    * full materialization), so the collect is bounded by `2n` rows — the
    * one sanctioned driver-side collection in this API, and explicitly
    * sized. Returns (first n, last n) in ascending time order. */
  def preview(symbol: String, timeframe: String, n: Int = 20)
      : (Array[org.apache.spark.sql.Row], Array[org.apache.spark.sql.Row]) = {
    val series = facts()
      .filter(col("symbol") === symbol && col("timeframe") === timeframe)
    (series.orderBy(col("ts").asc).limit(n).collect(),
      series.orderBy(col("ts").desc).limit(n).collect().reverse)
  }

  /** Plot-ready candles — the reference's candlestick path
    * (colab_interface.py:467-499), made scale-safe: the requested range is
    * resampled to the FINEST timeframe (≥ `timeframe`) whose bucket count
    * fits `maxPoints`, so a caller can collect the result for display no
    * matter how wide the range — a day plots at minutes, ten years at
    * months. The frame itself stays distributed; it is merely guaranteed
    * small. */
  def plotCandles(symbol: String, timeframe: String, fromMs: Long,
      toMs: Long, nowMs: Long, maxPoints: Int = 500): DataFrame = {
    require(maxPoints > 0, "maxPoints must be positive")
    val baseDur = Timeframes.durationMs(timeframe)
    // EXACT bucket count of the window grid over [fromMs, toMs): the
    // old floor-division `span / dur` undercounted misaligned ranges by
    // up to 2, quietly overshooting the promised cap
    def buckets(dur: Long): Long =
      if (toMs <= fromMs) 1L
      else (toMs - 1) / dur - fromMs / dur + 1
    val plotTf = Timeframes.all
      .filter(Timeframes.durationMs(_) >= baseDur)
      .sortBy(Timeframes.durationMs)
      .find(tf => buckets(Timeframes.durationMs(tf)) <= maxPoints)
      // the vocabulary's coarsest bucket: the cap is therefore
      // guaranteed for any range spanning ≤ maxPoints months; a wider
      // range plots monthly (documented floor — nothing coarser exists)
      .getOrElse("1M")
    getResampledData(symbol, plotTf, fromMs, toMs, nowMs)
      .orderBy("bucket")
  }

  /** S6: stored-series listing with counts and dates
    * (database_handler.py:348-377). */
  def getStoredInfo(): DataFrame = Store.storedInfo(facts())
}

object MarketData {
  /** Facade wired to a REAL REST endpoint (the reference's live mode,
    * api_connector.py:208-314) via [[graft.sources.HttpKlineTransport]] —
    * same DSv2 source, same pagination/cursor/backoff machinery, only the
    * transport differs. Never the default: the sandbox has zero egress,
    * and KlineSourceSpec drives this path against a local stub server.
    * `endpoint` is e.g. `"https://api.binance.com"`. */
  def overHttp(spark: SparkSession, basePath: String,
      endpoint: String): MarketData =
    new MarketData(spark, basePath,
      (symbol, timeframe, fromMs, toMs) =>
        spark.read.format("graft.sources.KlineSource")
          .option("symbols", symbol).option("timeframe", timeframe)
          .option("startMs", fromMs.toString).option("endMs", toMs.toString)
          .option("endpoint", endpoint)
          .load())
}
