package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.SafeFs
import graft.ext.{Dedup, Pq, Similarity}
import graft.streaming.IndexIngest

/** A flat IVF handle reads its centroids once and every probe ranks
  * its cells on the driver: bulk probes run a bounded number of Spark
  * jobs and refuse a bad query naming themselves, a reload sees another
  * handle's retrain and deletes, and the hierarchical bulk ranking
  * equals the per-query one. Index side files are read with a footer
  * schema, no inference job. */
class IvfLoadOnceSpec extends AnyFunSuite with SparkTestBase
    with JobCounting {
  import spark.implicits._

  // 600 distinct dim-64 vectors; id + 1 keeps the zero vector out
  private lazy val corpus = spark.range(600).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(63)),
        j => sin((col("id") + lit(1)) * (j + lit(1)) * lit(0.7305)))
        .as("embedding"))
    .localCheckpoint()
  private lazy val vecs: Map[Long, Seq[Double]] = corpus.collect()
    .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap

  /** 16 local queries: the corpus vectors of ids 0, 37, 74, … */
  private def queries(ids: Seq[Long]): DataFrame =
    ids.zipWithIndex.map { case (id, i) => (i.toLong, vecs(id)) }
      .toDF("q_id", "embedding")
  private lazy val qIds = (0 until 16).map(_ * 37L)

  private def tmp(tag: String) =
    java.nio.file.Files.createTempDirectory(tag).toString

  /** A saved 16-cell raw index and its PQ encoding. */
  private lazy val (rawDir, pqDir, cb) = {
    val (raw, pq) = (tmp("ivf-once"), tmp("ivf-once-pq"))
    val built = Similarity.ivfBuild(corpus, nCells = 16)
    Similarity.ivfSave(built, "ivf_once_t", raw, 16)
    val cb = Pq.deterministicCodebooks(dim = 64, m = 4, k = 8)
    Pq.ivfPqSave(Pq.ivfPqEncode(built, cb, "vec_id"), cb, "ivf_once_pq_t",
      pq, 16)
    (raw, pq, cb)
  }

  test("index side files read with a footer schema equal Spark's " +
      "inferred read and run no job") {
    Similarity.ivfDelete(Seq(5L, 6L).toDF("vec_id"), "vec_id", "ivf_once_t",
      rawDir)
    val band = tmp("band-once")
    val docs = (0 until 40).map(i => (i.toLong,
      (0 until 12).map(j => s"w${(i * 7 + j) % 23}").mkString(" ")))
    Dedup.bandIndexSave(Dedup.bandIndexBuild(
      IndexIngest.docSigs("doc_id", "text")(docs.toDF("doc_id", "text")),
      "doc_id"), "band_once_t", band, nBuckets = 4)
    Seq(s"$rawDir/centroids", s"$rawDir/deletes", s"$band/sizes").foreach { p =>
      var read: DataFrame = null
      assert(jobsOf { read = SafeFs.readParquet(spark, p) } == 0, p)
      assert(read.schema == spark.read.parquet(p).schema, p)
      assert(read.collect().toSet == spark.read.parquet(p).collect().toSet, p)
    }
    Similarity.ivfCompact(spark, "ivf_once_t", rawDir, 16)
  }

  test("a load that heals a staged retrain reads the staged centroids " +
      "with their footer schema: the count's jobs, no inference job") {
    val dir = tmp("ivf-heal-jobs")
    Similarity.ivfSave(Similarity.ivfBuild(corpus, nCells = 4),
      "ivf_heal_jobs_t", dir, 4)
    try {
      val clean = jobsOf(Similarity.ivfLoad(spark, "ivf_heal_jobs_t", dir))
      // a retrain killed after its swap, before its commit: the new
      // centroids staged inside the assigned tree (the IvfIndexSpec device)
      Similarity.ivfRetrain(spark, "ivf_heal_jobs_t", dir, nCells = 6)
      val fs = SafeFs.fs(spark, dir)
      def p(s: String) = new org.apache.hadoop.fs.Path(s"$dir/$s")
      assert(fs.rename(p("centroids"), p("assigned/_centroids")))
      val heal = jobsOf(Similarity.ivfLoad(spark, "ivf_heal_jobs_t", dir))
      assert(!fs.exists(p("assigned/_centroids")))
      assert(Similarity.ivfLoad(spark, "ivf_heal_jobs_t", dir).cellCount == 6)
      // the staged frame's count (its partial-count stage and the final
      // one); the re-registration reads its schema from a footer. An
      // inferring read of the staged frame made it 4, an inferring
      // re-registration 3
      assert(heal == clean + 2, s"clean load $clean jobs, healing load $heal")
    } finally spark.sql("DROP TABLE IF EXISTS ivf_heal_jobs_t")
  }

  test("re-registering an assigned tree reads its schema from a footer: " +
      "no job, the columns Spark infers") {
    val jobs = jobsOf(graft.engine.Store.registerBucketedExternal(spark,
      "ivf_reg_t", s"$rawDir/assigned", 16, Seq("cell")))
    try {
      assert(jobs == 0, s"$jobs jobs")
      // the columns and types Spark infers; the DDL carries no metadata
      assert(spark.table("ivf_reg_t").schema.toDDL ==
        spark.read.parquet(s"$rawDir/assigned").schema.toDDL)
      assert(graft.engine.Store.bucketSpecOf(spark, "ivf_reg_t")
        .map(s => (s.numBuckets, s.bucketColumnNames)).contains(
          (16, Seq("cell"))))
      assert(spark.table("ivf_reg_t").count() ==
        spark.table("ivf_once_t").count())
    } finally spark.sql("DROP TABLE IF EXISTS ivf_reg_t")
  }

  test("a bulk probe on a reloaded index runs at most 7 Spark jobs, " +
      "load included") {
    val qs = queries(qIds)
    def raw() = Similarity.ivfProbeBulk(
      Similarity.ivfLoad(spark, "ivf_once_t", rawDir), qs, "q_id", "vec_id",
      nProbe = 2).collect()
    val pq = Similarity.ivfLoad(spark, "ivf_once_pq_t", pqDir)
    def adc() = Pq.ivfPqProbeBulk(pq, cb, qs, "q_id", "vec_id",
      nProbe = 2).collect()
    raw(); adc() // warm: sessions' first plans, the PQ handle's view
    val jobs = Map("ivfProbeBulk" -> jobsOf(raw()),
      "ivfPqProbeBulk" -> jobsOf(adc()))
    info(s"jobs per bulk probe: $jobs")
    assert(jobs.values.forall(_ <= 7), jobs)
    // every query finds itself: its own cell is its nearest
    val top = raw().groupBy(_.getLong(0)).map { case (q, rs) =>
      q -> rs.head.getLong(1) }
    assert(top == qIds.zipWithIndex.map { case (id, i) => i.toLong -> id }.toMap)
  }

  test("the driver ranking equals the in-plan round(l2sq, 6) ranking " +
      "with ties to the lowest cell, across rounding boundaries") {
    // 200 one-step-apart distances straddling the .5e-6 rounding edge,
    // with cell ids running against distance so ties decide the order
    val cents = (0 until 200).map { i =>
      val t = 1e-6 * (i / 4) + Seq(0.4999e-6, 0.5e-6, 0.5001e-6, 0.2e-6)(i % 4)
      (199 - i, Seq(math.sqrt(t), 0.0))
    }
    val centDf = cents.toDF("cell", "cent")
    val idx = Similarity.IvfIndex(centDf.limit(0), centDf)
    val qs = IndexedSeq(IndexedSeq(0.0, 0.0), IndexedSeq(3e-4, 1e-4),
      IndexedSeq(0.5, 0.5))
    Seq(1, 3, 7, 50).foreach { n =>
      val got = Similarity.rankCells(idx, None, qs, 0, n, "t")
      qs.zip(got).foreach { case (q, cells) =>
        val want = centDf
          .withColumn("dist", round(Similarity.l2sq(col("cent"),
            lit(q.toArray)), 6))
          .orderBy(col("dist"), col("cell")).limit(n)
          .select("cell").collect().map(_.getInt(0)).toSeq
        assert(cells.map(_._1) == want, s"n=$n q=$q")
      }
    }
  }

  test("a bulk probe refuses a null query embedding or one of the " +
      "wrong dimension, naming itself") {
    val idx = Similarity.ivfLoad(spark, "ivf_once_t", rawDir)
    val pq = Similarity.ivfLoad(spark, "ivf_once_pq_t", pqDir)
    val nullQ = Seq((0L, null: Seq[Double])).toDF("q_id", "embedding")
    val shortQ = Seq((0L, vecs(0L).dropRight(1))).toDF("q_id", "embedding")
    Seq[(String, DataFrame => DataFrame)](
      "ivfProbeBulk" -> (Similarity.ivfProbeBulk(idx, _, "q_id", "vec_id")),
      "ivfPqProbeBulk" -> (Pq.ivfPqProbeBulk(pq, cb, _, "q_id", "vec_id")))
      .foreach { case (name, probe) =>
        val nul = intercept[IllegalArgumentException](probe(nullQ).collect())
        assert(nul.getMessage.contains(s"$name: null embedding"),
          nul.getMessage)
        val short = intercept[IllegalArgumentException](
          probe(shortQ).collect())
        assert(short.getMessage.contains(
          s"$name: centroid dim 64 != query dim 63"), short.getMessage)
      }
  }

  test("another handle's retrain and deletes show on the next load and " +
      "bulk probe") {
    val dir = tmp("ivf-stale")
    Similarity.ivfSave(Similarity.ivfBuild(corpus, nCells = 16),
      "ivf_stale_t", dir, 16)
    val qs = queries(qIds)
    def probe(idx: Similarity.IvfIndex) = Similarity.ivfProbeBulk(idx, qs,
      "q_id", "vec_id", nProbe = 3).collect().toSeq
    val before = probe(Similarity.ivfLoad(spark, "ivf_stale_t", dir))
    val gone = qIds.take(4)
    assert(gone.forall(id => before.exists(_.getLong(1) == id)))

    Similarity.ivfRetrain(spark, "ivf_stale_t", dir, 12)
    Similarity.ivfDelete(gone.toDF("vec_id"), "vec_id", "ivf_stale_t", dir)
    val after = Similarity.ivfLoad(spark, "ivf_stale_t", dir)
    assert(after.cellCount == 12)
    val got = probe(after)
    assert(!got.exists(r => gone.contains(r.getLong(1))), got)
    // the same probe through a handle that reads everything afresh
    val fresh = Similarity.IvfIndex(
      SafeFs.liveRows(spark, dir, spark.table("ivf_stale_t")),
      spark.read.parquet(s"$dir/centroids"))
    assert(got == probe(fresh))
  }

  test("above 256 cells the bulk probes rank through the auto hierarchy " +
      "exactly as the per-query probes do") {
    val dim = 8
    val cents = (0 until 300).map(c =>
      (c, (0 until dim).map(j => math.sin((c + 1) * (j + 1) * 0.91))))
    val centDf = spark.createDataFrame(
      spark.sparkContext.parallelize(cents.map { case (c, v) => Row(c, v) }, 3),
      org.apache.spark.sql.types.StructType.fromDDL(
        "cell INT, cent ARRAY<DOUBLE>"))
    val small = spark.range(1500).select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(dim - 1)),
          j => sin((col("id") + lit(1)) * (j + lit(1)) * lit(0.377)))
          .as("embedding"))
      .localCheckpoint()
    val probeIdx = Similarity.IvfIndex(
      Similarity.ivfAssign(Similarity.IvfIndex(small, centDf), small,
        "vec_id"), centDf)
    assert(probeIdx.autoSuper.isDefined)
    val ids = Seq(3L, 250L, 777L, 1499L)
    val qs = ids.zipWithIndex.map { case (id, i) =>
      (i.toLong, small.filter(col("vec_id") === id)
        .select(transform(col("embedding"), _.cast("double")))
        .head.getSeq[Double](0))
    }
    val qDf = qs.toDF("q_id", "embedding")
    def one(q: Seq[Double]) = Seq(q).toDF("embedding")

    val bulk = Similarity.ivfProbeBulk(probeIdx, qDf, "q_id", "vec_id",
      nProbe = 3).collect()
    qs.foreach { case (i, q) =>
      assert(bulk.filter(_.getLong(0) == i).map(r => Row(r.getLong(1),
          r.getInt(2), r.getDouble(3))).toSeq ==
        Similarity.ivfProbe(probeIdx, one(q), "vec_id", nProbe = 3)
          .collect().toSeq, s"query $i")
    }

    val cb = Pq.deterministicCodebooks(dim = dim, m = 2, k = 4)
    val pq = Pq.ivfPqEncode(probeIdx, cb, "vec_id")
    val pqBulk = Pq.ivfPqProbeBulk(pq, cb, qDf, "q_id", "vec_id",
      nProbe = 3).collect()
    qs.foreach { case (i, q) =>
      assert(pqBulk.filter(_.getLong(0) == i).map(r => Row(r.getLong(1),
          r.getDouble(2))).toSeq ==
        Pq.ivfPqProbe(pq, cb, one(q), "vec_id", nProbe = 3)
          .collect().toSeq, s"query $i")
    }
  }
}
