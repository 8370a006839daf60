package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ext.{Dedup, Maintenance, Similarity, Sq}
import graft.streaming.IndexIngest

/** The unattended-operations one-pager (VERDICT r16 #6): the session an
  * operator actually schedules — live stream ingest into persisted
  * similarity indexes, ONE maintenance-cycle call per family on a cron
  * cadence, drift describes between cycles — composed end-to-end from
  * the pieces USAGE.md documents piecewise. Every step is the real
  * code path an unattended job runs:
  *
  *   - the band index is maintained by a REAL Structured Streaming
  *     query (MemoryStream → `IndexIngest.bandIndexSink` under
  *     foreachBatch's exactly-once protocol);
  *   - the SQ/IVF index is fed by direct sink-function calls — the
  *     exact `(DataFrame, batchId)` unit foreachBatch delivers — with a
  *     DRIFTING second batch (the SqSpec 10× outlier device), so the
  *     scheduled cycle has something real to notice;
  *   - the crash scene writes the sink's OWN journal format for a
  *     batch whose rows never landed (the documented
  *     crashed-between-journal-and-append window), shows the cycle
  *     reporting `blocked` instead of throwing, then REPLAYS the batch
  *     through the sink — `classifyReplay` reads the journal, sees the
  *     rows missing, clears it and appends — and the next cycle
  *     proceeds. No manual journal deletion: the stream's replay is
  *     the remedy, exactly as the blocked report advises.
  *
  * Run via `sbt "runMain graft.tools.OpsWalkthrough /tmp/graft_ops"`;
  * OpsWalkthroughSpec executes the same scene headless and asserts
  * every action transition (blocked → replay → proceed; drift →
  * reencode → none). */
object OpsWalkthrough {

  /** One executed step: (label, observed value — a count or an action). */
  type Step = (String, String)

  def run(spark: SparkSession, baseDir: String): Seq[Step] = {
    val sf = "/root/testdata/sf0.001"
    val bandDir = s"$baseDir/band_index"
    val sqDir = s"$baseDir/sq_index"
    val bandT = "ops_band_t"
    val sqT = "ops_sq_t"
    val built = Seq.newBuilder[Step]
    object steps {
      def +=(s: Step): Unit = {
        println(f"[ops] ${s._1}%-32s ${s._2}")
        built += s
      }
      def result(): Seq[Step] = built.result()
    }
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id").cast("long"), col("text"))
    val embs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding")
    def sigsOf(d: DataFrame) = Dedup.minhashSignatures(
      Dedup.hashedShingles(d, "doc_id", "text"), "doc_id", 16)

    try {
      // ---- 1. the offline seed builds (shipped once, before any stream)
      val seedDocs = docs.filter(col("doc_id") % 3 === 0)
      Dedup.bandIndexSave(Dedup.bandIndexBuild(sigsOf(seedDocs), "doc_id"),
        bandT, bandDir, nBuckets = 8)
      steps += "seed_band_index_rows" -> spark.table(bandT).count().toString
      val seedEmbs = embs.filter(col("vec_id") < 400)
      val p0 = Sq.sqTrain(seedEmbs)
      Sq.ivfSqSave(Sq.ivfSqEncode(Similarity.ivfBuild(seedEmbs, nCells = 4),
        p0, "vec_id"), p0, sqT, sqDir, 4)
      steps += "seed_sq_index_rows" -> spark.table(sqT).count().toString

      // ---- 2a. LIVE band-index stream: two micro-batches through the
      // exactly-once sink (the StreamingIndexIngestSpec protocol)
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import spark.implicits._
      implicit val sq0: org.apache.spark.sql.SQLContext = spark.sqlContext
      // bands is passed EXPLICITLY and shared with the crash-scene
      // journal math below - a sink-default drift must not silently
      // desynchronize the fabricated journal's batchN (the keying-
      // constants rule of the historical X50Probe, since deleted;
      // review r17)
      val bands = 4
      val bandSink = IndexIngest.bandIndexSink(
        IndexIngest.docSigs("doc_id", "text"), "doc_id", bandT, bandDir,
        nBuckets = 8, bands = bands)
      val input = MemoryStream[(Long, String)]
      val ckpt = s"$baseDir/ckpt_band"
      val q = input.toDF().toDF("doc_id", "text").writeStream
        .foreachBatch(bandSink)
        .option("checkpointLocation", ckpt).start()
      // bounded collect: the sf0.001 documents fixture (~500 rows) —
      // MemoryStream input must be driver-side by construction; a
      // production stream reads from its source, never from a collect
      val rest = docs.filter(col("doc_id") % 3 =!= 0)
        .as[(Long, String)].collect().toSeq
      val (b1, b2) = rest.splitAt(rest.size / 2)
      try Seq(b1, b2).foreach { b => input.addData(b); q.processAllAvailable() }
      finally q.stop()
      // the stream's appends ran on foreachBatch's session clone — the
      // observing session must drop its cached file listing before any
      // count (the MaintenanceSpec refresh rule; the sink itself always
      // counts in the session that appends, so the exactly-once
      // classification never sees this staleness)
      spark.catalog.refreshTable(bandT)
      steps += "streamed_band_rows" -> spark.table(bandT).count().toString

      // ---- 2b. SQ/IVF stream: batch 0 in-distribution, batch 1 DRIFTS
      // (the SqSpec device: 20% of the corpus scaled 10×, appended
      // through the OLD bounds — every element clamps at the bounds)
      val sqSink = IndexIngest.ivfSink("vec_id", "embedding", sqT, sqDir,
        nCells = 4, encode = df => Sq.sqEncode(df, "embedding", p0)
          .select(col("vec_id"), col("cell"), col("codes"),
            col("recon_norm")))
      val inDist = embs.filter(col("vec_id") >= 400)
      // deterministic 20% slice (ADVICE r17: an unordered limit() picks
      // a partition-dependent subset, making the walkthrough's printed
      // sat_rate non-reproducible across runs) — key on the id, not on
      // scan order
      val outliers = embs.filter(col("vec_id") % 5 === 0)
        .select((col("vec_id") + lit(1000000L)).as("vec_id"),
          transform(col("embedding"), x => x * lit(10.0f)).as("embedding"))
      sqSink(inDist, 0L)
      sqSink(outliers, 1L)
      steps += "streamed_sq_rows" -> spark.table(sqT).count().toString

      // ---- 3. the cron body: ONE call per family per cadence tick.
      // Band: the stream's appends rotted files past 1/bucket → compact.
      val bc1 = Maintenance.bandIndexCycle(spark, bandT, bandDir,
        maxFilesPerBucket = 1)
      steps += "band_cycle_1" -> bc1.action
      val bc2 = Maintenance.bandIndexCycle(spark, bandT, bandDir,
        maxFilesPerBucket = 1)
      steps += "band_cycle_2" -> bc2.action // idempotent: acted, now none

      // drift describe between cycles — the read-only monitoring row an
      // operator dashboards (sat_rate spikes AFTER the drifting batch)
      val d = Sq.sqDescribe(spark, sqDir, params = Some(p0)).head
      // Locale.ROOT: f"%.3f" follows the JVM default locale, and a
      // comma-decimal locale would break the spec's toDouble (review r17)
      def fmt(v: Double) = String.format(java.util.Locale.ROOT, "%.3f",
        Double.box(v))
      steps += "sq_sat_rate" -> fmt(d.getAs[Double]("sat_rate"))
      // SQ: compact/retrain disarmed wide so the cycle evaluates the
      // bounds signal; the drifted batch fires the re-encode remedy
      val rawAll = embs.unionByName(outliers)
      def sqCycle() = Maintenance.sqCycle(spark, sqT, sqDir,
        raw = Some(rawAll), maxFilesPerCell = 64, maxSkew = 1e9,
        minOccupiedFrac = 0.0)
      val sc1 = sqCycle()
      steps += "sq_cycle_1" -> sc1.action
      val sc2 = sqCycle()
      steps += "sq_cycle_2" -> sc2.action // re-encoded index: below threshold
      val d2 = Sq.sqDescribe(spark, sqDir,
        params = Some(Sq.sqParamsOf(spark, sqDir))).head
      steps += "sq_sat_rate_after" -> fmt(d2.getAs[Double]("sat_rate"))

      // ---- 4. the crash contract: a batch dies between its journal
      // write and its append (the documented window) — reconstructed by
      // writing the sink's own journal format for batch 2, whose rows
      // never landed
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI(bandDir), spark.sparkContext.hadoopConfiguration)
      val replay = b2.toDF("doc_id", "text")
        .select((col("doc_id") + lit(500000L)).as("doc_id"), col("text"))
      // `pre` must be the FRESH physical count (the real sink computes
      // it in the appending session just before journaling): a stale
      // listing here would make the replay's torn-window check compare
      // against the wrong floor
      spark.catalog.refreshTable(bandT)
      val pre = spark.table(bandT).count()
      val batchN = sigsOf(replay).count() * bands // nSigs × bands
      graft.engine.SafeFs.writeMarker(fs, new org.apache.hadoop.fs.Path(
          s"$bandDir/${graft.engine.SafeFs.StreamJournal}"),
        s"2 $pre $batchN")
      val bc3 = Maintenance.bandIndexCycle(spark, bandT, bandDir,
        maxFilesPerBucket = 1)
      steps += "band_cycle_crashed" -> bc3.action // blocked, not thrown
      steps += "band_rows_unchanged" ->
        (spark.table(bandT).count() == pre).toString
      // the remedy the blocked report names: REPLAY the stream — the
      // sink's classifier reads the journal, finds the rows missing,
      // clears it and runs the append under the same epoch protocol
      bandSink(replay, 2L)
      steps += "band_rows_after_replay" -> spark.table(bandT).count().toString
      val bc4 = Maintenance.bandIndexCycle(spark, bandT, bandDir,
        maxFilesPerBucket = 1)
      steps += "band_cycle_after_replay" -> bc4.action // proceeds again

      steps.result()
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $bandT")
      spark.sql(s"DROP TABLE IF EXISTS $sqT")
    }
  }

  def main(args: Array[String]): Unit = {
    val baseDir = args.headOption.getOrElse(
      java.nio.file.Files.createTempDirectory("graft_ops").toString)
    val spark = SparkSession.builder()
      .master(s"local[${math.min(Runtime.getRuntime.availableProcessors, 32)}]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .appName("graft-ops-walkthrough")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, baseDir) finally spark.stop()
  }
}
