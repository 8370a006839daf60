package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite
import graft.ext.{Pq, Similarity, Sq}

/** The single-query IVF probes share one front: every entry point
  * refuses a query whose dimension differs from the centroids' (naming
  * itself), and building a probe runs no more Spark jobs than the cell
  * choice needs. */
class IvfProbeFrontSpec extends AnyFunSuite with SparkTestBase
    with JobCounting {

  // 600 distinct dim-64 vectors; id + 1 keeps the zero vector out
  private lazy val corpus = spark.range(600).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(63)),
        j => sin((col("id") + lit(1)) * (j + lit(1)) * lit(0.7305)))
        .as("embedding"))
    .localCheckpoint()

  /** A flat 16-cell index, saved and reloaded, so its centroids are a
    * parquet scan as in production. */
  private lazy val idx: Similarity.IvfIndex = {
    val dir = java.nio.file.Files.createTempDirectory("ivf-front").toString
    Similarity.ivfSave(Similarity.ivfBuild(corpus, nCells = 16),
      "ivf_front_t", dir, 16)
    Similarity.ivfLoad(spark, "ivf_front_t", dir)
  }
  private lazy val cb = Pq.deterministicCodebooks(dim = 64, m = 2, k = 4)
  private lazy val pq = Pq.ivfPqEncode(idx, cb, "vec_id")
  private lazy val res = Pq.ivfPqEncodeResidual(idx, cb, "vec_id")
  private lazy val sqp = Sq.sqTrain(corpus)
  private lazy val sq = Sq.ivfSqEncode(idx, sqp, "vec_id")
  private lazy val superQ = Similarity.ivfSuperBuild(idx, 4)

  /** A one-partition, RDD-backed 1-row query frame: collecting it is
    * exactly one Spark job. */
  private def queryOf(v: Seq[Double]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(Seq(Row(v)), 1),
      StructType(Seq(StructField("embedding", ArrayType(DoubleType)))))
  private lazy val q0: Seq[Double] = corpus.filter(col("vec_id") === 0)
    .select(transform(col("embedding"), x => x.cast("double")))
    .head.getSeq[Double](0)

  private val probes: Seq[(String, DataFrame => DataFrame)] = Seq(
    "ivfProbe" -> (q => Similarity.ivfProbe(idx, q, "vec_id")),
    "ivfProbeHier" -> (q => Similarity.ivfProbeHier(idx, superQ, q, "vec_id")),
    "ivfPqProbe" -> (q => Pq.ivfPqProbe(pq, cb, q, "vec_id")),
    "ivfPqProbeResidual" -> (q => Pq.ivfPqProbeResidual(res, cb, q, "vec_id")),
    "ivfSqProbe" -> (q => Sq.ivfSqProbe(sq, sqp, q, "vec_id")))

  test("a flat ivfProbe refuses a query one element short instead of " +
      "ranking and scoring a prefix of the vector") {
    val short = queryOf(q0.dropRight(1))
    val e = intercept[IllegalArgumentException](
      Similarity.ivfProbe(idx, short, "vec_id").collect())
    assert(e.getMessage.contains("ivfProbe: centroid dim 64 != query dim 63"),
      e.getMessage)
  }

  test("every single-query probe's dim refusal names its own entry point") {
    val short = queryOf(q0.dropRight(1))
    probes.foreach { case (name, probe) =>
      val e = intercept[IllegalArgumentException](probe(short).collect())
      assert(e.getMessage.contains(s"$name: "), s"$name: ${e.getMessage}")
    }
  }

  test("building a single-query probe on a flat 16-cell index runs no " +
      "more jobs than the cell choice needs; the residual probe takes " +
      "q·cent from the ranked centroids, not a second collect") {
    Seq(idx, pq, res, sq).foreach(_.cellCount) // per-handle, read once
    superQ.cellsOf // per-handle, read once
    val q = queryOf(q0)
    val jobs = probes.map { case (name, probe) =>
      probe(q) // warm: codegen and broadcast reuse do not move the count
      name -> jobsOf(probe(q))
    }.toMap
    info(s"jobs per probe build: $jobs")
    // the query collect; the flat ranking reads the handle's centroid
    // view
    assert((jobs - "ivfProbeHier").values.forall(_ == 1), jobs)
    // the query collect, then the fetch of the chosen supers' children
    assert(jobs("ivfProbeHier") == 2, jobs)
  }
}
