package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.ext.{Pq, Similarity, Sq}

/** Drift-observability cost at the 1M-vector scale (round 15): the
  * monitoring surface — [[graft.ext.Pq.pqDescribe]] /
  * [[graft.ext.Pq.pqReconError]] / [[graft.ext.Sq.sqDescribe]] — is
  * sold as "one sampled column-pruned scan, a monitoring job's
  * cadence"; this measures it instead of asserting it, on the
  * replicated fixture of the since-removed SqBench tool (historical;
  * deterministic sinusoidal perturbation, reruns
  * bit-stable). Full-scan vs 1%-sampled wall-clock for each describe,
  * plus the usage-trigger evaluation itself. Backs
  * DRIFT_BENCH_r15.json.
  *
  * Usage: runMain graft.tools.DriftBench [sfDir] [reps]
  */
object DriftBench {
  def main(args: Array[String]): Unit = {
    val dir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val reps = if (args.length > 1) args(1).toInt else 50
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val base = spark.read.parquet(s"$dir/embeddings.parquet")
    val maxId = base.agg(max("vec_id")).head.getLong(0) + 1
    val corpus = base.crossJoin(
        spark.range(reps).select(col("id").cast("int").as("rep")))
      .select(
        (col("vec_id") + col("rep") * maxId).as("vec_id"),
        transform(col("embedding"),
          (x, i) => (x.cast("double") +
            sin(col("vec_id") * 131 + col("rep") * 17 + i) * 0.05)
            .cast("float")).as("embedding"))
      .cache()
    val n = corpus.count()
    val nCells = 16

    def time[T](body: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = body
      (r, (System.nanoTime() - t0) / 1e9)
    }

    val built = Similarity.ivfBuild(corpus, nCells = nCells)
    val cb = Pq.trainedCodebooks(
      corpus.sample(withReplacement = false, math.min(1.0, 20000.0 / n),
        seed = 42), "embedding", 64, m = 8, k = 16)
    val p = Sq.sqTrain(corpus)

    val tmp = java.nio.file.Files.createTempDirectory("driftbench").toString
    val pqDir = s"$tmp/pq"
    val sqDir = s"$tmp/sq"
    Pq.ivfPqSave(Pq.ivfPqEncode(built, cb, "vec_id"), cb,
      "driftb_pq", pqDir, nCells)
    Sq.ivfSqSave(Sq.ivfSqEncode(built, p, "vec_id"), p,
      "driftb_sq", sqDir, nCells)
    val raw = corpus.select("vec_id", "embedding")

    // warm each path once (JIT/IO — the QueryTime discipline), then time
    Pq.pqDescribe(spark, pqDir, cb).collect()
    val (_, pqFull) = time(Pq.pqDescribe(spark, pqDir, cb).collect())
    val (_, pqSamp) = time(
      Pq.pqDescribe(spark, pqDir, cb, sampleFraction = 0.01).collect())
    val (_, pqTrig) = time(Pq.pqUsageCollapsed(spark, pqDir, cb,
      minSubEntropy = 0.2, maxCodeFrac = 0.99, sampleFraction = 0.01))
    Pq.pqReconError(spark, pqDir, raw, "vec_id", cb,
      sampleFraction = 0.01).collect()
    val (_, pqErrSamp) = time(Pq.pqReconError(spark, pqDir, raw,
      "vec_id", cb, sampleFraction = 0.01).collect())
    Sq.sqDescribe(spark, sqDir, params = Some(p)).collect()
    val (_, sqFull) = time(
      Sq.sqDescribe(spark, sqDir, params = Some(p)).collect())
    val (_, sqSamp) = time(Sq.sqDescribe(spark, sqDir,
      sampleFraction = 0.01, params = Some(p)).collect())

    println(s"""{"metric":"drift_observability","n_vectors":$n,""" +
      s""""pq_describe_full_sec":$pqFull,""" +
      s""""pq_describe_sampled_1pct_sec":$pqSamp,""" +
      s""""pq_usage_trigger_sampled_sec":$pqTrig,""" +
      s""""pq_recon_err_sampled_1pct_sec":$pqErrSamp,""" +
      s""""sq_describe_full_sec":$sqFull,""" +
      s""""sq_describe_sampled_1pct_sec":$sqSamp}""")
    spark.sql("DROP TABLE IF EXISTS driftb_pq")
    spark.sql("DROP TABLE IF EXISTS driftb_sq")
    spark.stop()
  }
}
