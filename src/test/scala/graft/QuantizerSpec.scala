package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite
import graft.ext.{Pq, Similarity, Sq}

/** The PQ and SQ quantizers share one lifecycle: the SQ scorers and
  * describe refuse a PQ layout on the codes-width tell, the side files
  * keep their names and schemas, and encode → save → reopen → probe
  * round-trips for both. */
class QuantizerSpec extends AnyFunSuite with SparkTestBase
    with JobCounting {

  // 600 distinct dim-64 vectors; id + 1 keeps the zero vector out
  private lazy val corpus = spark.range(600).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(63)),
        j => sin((col("id") + lit(1)) * (j + lit(1)) * lit(0.7305)))
        .as("embedding"))
    .localCheckpoint()
  private lazy val built = Similarity.ivfBuild(corpus, nCells = 4)
  private lazy val cb = Pq.deterministicCodebooks(dim = 64, m = 8, k = 16)
  private lazy val sqp = Sq.sqTrain(corpus)
  private lazy val q0: IndexedSeq[Double] = corpus
    .filter(col("vec_id") === 0)
    .select(transform(col("embedding"), x => x.cast("double")))
    .head.getSeq[Double](0).toIndexedSeq
  private def query = corpus.filter(col("vec_id") === 0)

  private def tmp(name: String) =
    java.nio.file.Files.createTempDirectory(name).toString

  /** Every message along the cause chain: an in-plan refusal surfaces
    * wrapped in the job failure. */
  private def messages(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).mkString(" | ")

  private def fieldsOf(dir: String): Seq[(String, String)] =
    spark.read.parquet(dir).schema.map(f => f.name -> f.dataType.simpleString)

  test("SQ scorers refuse a PQ layout's m-wide codes, naming the entry " +
      "point, instead of scoring 8 code ids as 8 dimensions") {
    val pq = Pq.ivfPqEncode(built, cb, "vec_id")
    val scorers: Seq[(String, () => DataFrame)] = Seq(
      "sqTopK" -> (() => Sq.sqTopK(pq.assigned, sqp, q0, "vec_id")),
      "ivfSqProbe" -> (() => Sq.ivfSqProbe(pq, sqp, query, "vec_id")),
      "ivfSqProbeBulk" -> (() => Sq.ivfSqProbeBulk(pq, sqp,
        corpus.filter(col("vec_id") < 3)
          .select(col("vec_id").as("q_id"), col("embedding")),
        "q_id", "vec_id")))
    scorers.foreach { case (name, scorer) =>
      val m = messages(intercept[Exception](scorer().collect()))
      assert(m.contains(s"$name: codes width") && m.contains("m-wide"),
        s"$name: $m")
    }
    // the same scorers on the SQ layout they were trained for still run
    val sq = Sq.ivfSqEncode(built, sqp, "vec_id")
    assert(Sq.sqTopK(sq.assigned, sqp, q0, "vec_id").collect().length == 10)
    assert(Sq.ivfSqProbe(sq, sqp, query, "vec_id").collect().nonEmpty)
  }

  test("the in-plan width check adds no Spark job to an ivfSqProbe " +
      "build: still the one query collect") {
    val dir = tmp("quant-jobs")
    Similarity.ivfSave(Similarity.ivfBuild(corpus, nCells = 16),
      "quant_jobs_t", dir, 16)
    try {
      val idx = Similarity.ivfLoad(spark, "quant_jobs_t", dir)
      val sq = Sq.ivfSqEncode(idx, sqp, "vec_id")
      sq.cellCount // per-handle, read once
      val q = spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(Row(q0)), 1),
        StructType(Seq(StructField("embedding", ArrayType(DoubleType)))))
      Sq.ivfSqProbe(sq, sqp, q, "vec_id") // warm
      assert(jobsOf(Sq.ivfSqProbe(sq, sqp, q, "vec_id")) == 1)
    } finally spark.sql("DROP TABLE IF EXISTS quant_jobs_t")
  }

  test("sqDescribe with params refuses a PQ layout through the layout " +
      "guard, and so does the threshold hook built on it") {
    val dir = tmp("quant-sqd")
    Pq.ivfPqSave(Pq.ivfPqEncode(built, cb, "vec_id"), cb, "quant_sqd_t",
      dir, 4)
    try {
      val e = intercept[IllegalArgumentException](
        Sq.sqDescribe(spark, dir, params = Some(sqp)))
      assert(e.getMessage.contains("sqDescribe: codes width 8") &&
        e.getMessage.contains("dim=64"), e.getMessage)
      val eHook = intercept[IllegalArgumentException](
        Sq.sqSaturationExceeded(spark, dir, params = Some(sqp)))
      assert(eHook.getMessage.contains("width"), eHook.getMessage)
    } finally spark.sql("DROP TABLE IF EXISTS quant_sqd_t")
  }

  test("sqDescribe without params refuses a PQ index by its " +
      "pq_codebooks side file, and so does the threshold hook") {
    val dir = tmp("quant-sqd-noparams")
    Pq.ivfPqSave(Pq.ivfPqEncode(built, cb, "vec_id"), cb, "quant_sqdn_t",
      dir, 4)
    val sqDir = tmp("quant-sqd-sq")
    Sq.ivfSqSave(Sq.ivfSqEncode(built, sqp, "vec_id"), sqp, "quant_sqdn_sq_t",
      sqDir, 4)
    try {
      Seq[(String, () => Any)](
        "sqDescribe" -> (() => Sq.sqDescribe(spark, dir)),
        "sqSaturationExceeded" -> (() => Sq.sqSaturationExceeded(spark, dir))
      ).foreach { case (name, call) =>
        val e = intercept[IllegalArgumentException](call())
        assert(e.getMessage.contains("sqDescribe: a pq_codebooks side file") &&
          e.getMessage.contains("not this quantizer's index"),
          s"$name: ${e.getMessage}")
      }
      // an SQ index still describes without its params
      assert(Sq.sqDescribe(spark, sqDir, sqp.levels).head
        .getAs[Long]("rows_sampled") == 600L)
    } finally {
      spark.sql("DROP TABLE IF EXISTS quant_sqdn_t")
      spark.sql("DROP TABLE IF EXISTS quant_sqdn_sq_t")
    }
  }

  test("side files keep their names and parquet schemas, so indexes " +
      "written by older versions keep opening") {
    val pqDir = tmp("quant-pq-files")
    val sqDir = tmp("quant-sq-files")
    Pq.ivfPqSave(Pq.ivfPqEncode(built, cb, "vec_id"), cb, "quant_pqf_t",
      pqDir, 4)
    Sq.ivfSqSave(Sq.ivfSqEncode(built, sqp, "vec_id"), sqp, "quant_sqf_t",
      sqDir, 4)
    try {
      assert(fieldsOf(s"$pqDir/pq_codebooks") == Seq("sub" -> "int",
        "code" -> "int", "cent" -> "array<double>"))
      assert(fieldsOf(s"$pqDir/pq_usage_baseline") == Seq(
        "rows_sampled" -> "bigint", "m" -> "int", "k" -> "int",
        "min_sub_entropy" -> "double", "mean_sub_entropy" -> "double",
        "worst_sub" -> "int", "min_used_codes" -> "int",
        "max_code_frac" -> "double", "max_frac_sub" -> "int"))
      assert(fieldsOf(s"$sqDir/sq_params") == Seq("i" -> "int",
        "lo" -> "double", "hi" -> "double", "levels" -> "int"))
      assert(!new java.io.File(s"$sqDir/pq_codebooks").exists &&
        !new java.io.File(s"$pqDir/sq_params").exists)
      val base = Pq.pqUsageBaselineOf(spark, pqDir).get
      assert(base.getAs[Long]("rows_sampled") == 600L &&
        base.getAs[Int]("m") == 8 && base.getAs[Int]("k") == 16)
    } finally {
      spark.sql("DROP TABLE IF EXISTS quant_pqf_t")
      spark.sql("DROP TABLE IF EXISTS quant_sqf_t")
    }
  }

  test("lifecycle round trip per quantizer: encode, save, ivfLoad, the " +
      "reopened params equal the saved ones, the probe is unchanged") {
    val pqDir = tmp("quant-pq-rt")
    val sqDir = tmp("quant-sq-rt")
    val pq = Pq.ivfPqEncode(built, cb, "vec_id")
    val sq = Sq.ivfSqEncode(built, sqp, "vec_id")
    val pqBefore = Pq.ivfPqProbe(pq, cb, query, "vec_id", nProbe = 2)
      .collect().toSeq
    val sqBefore = Sq.ivfSqProbe(sq, sqp, query, "vec_id", nProbe = 2)
      .collect().toSeq
    assert(pqBefore.length == 10 && sqBefore.length == 10)
    Pq.ivfPqSave(pq, cb, "quant_pqrt_t", pqDir, 4)
    Sq.ivfSqSave(sq, sqp, "quant_sqrt_t", sqDir, 4)
    try {
      val cbOf = Pq.pqCodebooksOf(spark, pqDir)
      val pOf = Sq.sqParamsOf(spark, sqDir)
      assert(cbOf == cb && pOf == sqp)
      val pqAfter = Pq.ivfPqProbe(Similarity.ivfLoad(spark, "quant_pqrt_t",
        pqDir), cbOf, query, "vec_id", nProbe = 2).collect().toSeq
      val sqAfter = Sq.ivfSqProbe(Similarity.ivfLoad(spark, "quant_sqrt_t",
        sqDir), pOf, query, "vec_id", nProbe = 2).collect().toSeq
      assert(pqAfter == pqBefore, "PQ probe moved across save/load")
      assert(sqAfter == sqBefore, "SQ probe moved across save/load")
    } finally {
      spark.sql("DROP TABLE IF EXISTS quant_pqrt_t")
      spark.sql("DROP TABLE IF EXISTS quant_sqrt_t")
    }
  }
}
