package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, Join,
  LocalLimit, Sort}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ext.{Dedup, Pq, Similarity}
import graft.streaming.IndexIngest

/** The four curation reads — the delta LSH probe, the Jaccard verify and
  * the two bulk ANN probes — run only the Spark jobs their answer needs,
  * on reloaded indexes that carry tombstones: batch signatures without a
  * shuffle, probe sizing without a count when the plan's row bound
  * already decides it, and the bulk top-k order without a range sort.
  * None of it changes a row or the order of the output. */
class CurationReadJobsSpec extends AnyFunSuite with SparkTestBase
    with JobCounting {
  import spark.implicits._

  private def tmp(tag: String) =
    java.nio.file.Files.createTempDirectory(tag).toString

  // ---- documents: 40-word texts over a 300-word vocabulary ----------------
  private val rnd = new java.util.Random(17)
  private val vocab = (0 until 300).map(i => s"w$i")
  private def text(): String =
    Seq.fill(30 + rnd.nextInt(20))(vocab(rnd.nextInt(vocab.length)))
      .mkString(" ")
  private def oneWordOff(t: String): String = {
    val w = t.split(" ")
    w(rnd.nextInt(w.length)) = vocab(rnd.nextInt(vocab.length))
    w.mkString(" ")
  }
  private lazy val corpus: Map[Long, String] =
    (0L until 400L).map(_ -> text()).toMap
  /** 40 new documents; the first 10 are one-word edits of old ones. */
  private lazy val batch: Seq[(Long, String)] = (0 until 40).map { i =>
    (1000L + i) -> (if (i < 10) oneWordOff(corpus(i * 7L)) else text())
  }
  private def docs(ds: Seq[(Long, String)]): DataFrame =
    ds.toDF("doc_id", "text")
  private def sigsOf(d: DataFrame) = IndexIngest.docSigs("doc_id", "text")(d)

  /** A saved band index over the corpus with 20 ids tombstoned. */
  private lazy val bandDir = {
    val dir = tmp("read-jobs-band")
    Dedup.bandIndexSave(Dedup.bandIndexBuild(
      sigsOf(docs(corpus.toSeq)), "doc_id"), "read_jobs_band_t", dir,
      nBuckets = 4)
    Dedup.bandIndexDelete((300L until 320L).toDF("doc_id"), "doc_id",
      "read_jobs_band_t", dir)
    dir
  }

  // ---- vectors: 600 distinct dim-32 vectors --------------------------------
  private lazy val vectors = spark.range(600).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(31)),
        j => sin((col("id") + lit(1)) * (j + lit(1)) * lit(0.7305)))
        .as("embedding"))
    .localCheckpoint()
  private lazy val vecs: Map[Long, Seq[Double]] = vectors.collect()
    .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
  private def queries(ids: Seq[Long]): DataFrame =
    ids.zipWithIndex.map { case (id, i) => (i.toLong, vecs(id)) }
      .toDF("q_id", "embedding")
  private lazy val qs = queries((0 until 16).map(_ * 37L))
  private lazy val cb = Pq.deterministicCodebooks(dim = 32, m = 4, k = 8)

  private val gone = (1L to 10L).map(_ * 50L)

  /** A saved 8-cell raw index and its PQ encoding, each with the ids in
    * `gone` tombstoned. */
  private lazy val (rawDir, pqDir) = {
    val (raw, pq) = (tmp("read-jobs-ivf"), tmp("read-jobs-pq"))
    val built = Similarity.ivfBuild(vectors, nCells = 8)
    Similarity.ivfSave(built, "read_jobs_ivf_t", raw, 8)
    Pq.ivfPqSave(Pq.ivfPqEncode(built, cb, "vec_id"), cb, "read_jobs_pq_t",
      pq, 8)
    Similarity.ivfDelete(gone.toDF("vec_id"), "vec_id", "read_jobs_ivf_t",
      raw)
    Similarity.ivfDelete(gone.toDF("vec_id"), "vec_id", "read_jobs_pq_t", pq)
    (raw, pq)
  }

  /** The order-by of a bulk probe without its top-N limit — the plan
    * the probes ran before they ended in a limit — executed as is. */
  private def unlimited(df: DataFrame): Seq[Row] =
    df.queryExecution.logical match {
      case GlobalLimit(_, LocalLimit(_, s: Sort)) =>
        spark.sessionState.executePlan(s).executedPlan.executeCollectPublic()
          .toSeq
      case p => fail(s"not a limited sort:\n$p")
    }

  test("docSigs rows equal the explode + groupBy signatures on a " +
      "unique-id batch, and the batch runs no shuffle") {
    val d = docs(batch :+ (2000L -> "too short") :+ (2001L -> null))
    val perRow = sigsOf(d)
    val agg = Dedup.minhashSignatures(
      Dedup.hashedShingles(d, "doc_id", "text"), "doc_id", 16)
    assert(perRow.columns.toSeq == agg.columns.toSeq)
    assert(perRow.schema.map(_.dataType) == agg.schema.map(_.dataType))
    assert(perRow.collect().sortBy(_.getLong(0)).toSeq ==
      agg.collect().sortBy(_.getLong(0)).toSeq)
    assert(perRow.count() == batch.length)
    assert(!perRow.queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("the bound-sized delta probe picks the branch the counted one " +
      "picks: local and parquet-read batches, broadcast threshold at -1, " +
      "low and default") {
    val index = Dedup.bandIndexLoad(spark, "read_jobs_band_t", bandDir)
    val parquetDir = tmp("read-jobs-sigs")
    sigsOf(docs(batch)).write.mode("overwrite").parquet(parquetDir)
    val batches = Seq("local" -> sigsOf(docs(batch)),
      "local, short texts dropped" ->
        sigsOf(docs(batch ++ (0 until 8).map(i => (3000L + i) -> "a b"))),
      "parquet" -> spark.read.parquet(parquetDir))
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.get(key)
    def plan(df: DataFrame) = df.queryExecution.optimizedPlan
    // the two branches differ in their join hints, which sameResult ignores
    def hints(df: DataFrame) = plan(df).collect { case j: Join => j.hint }
    try batches.foreach { case (name, sigs) =>
      val n = sigs.count()
      val perRow = 4L * Dedup.BandedRowBroadcastBytes
      // -1, just below and at the counted batch's broadcast budget, default
      Seq("-1", (n * perRow - 1).toString, (n * perRow).toString, saved)
        .foreach { thr =>
          spark.conf.set(key, thr)
          val (bc, bulk) = (Dedup.lshCandidatesDelta(sigs, index, "doc_id"),
            Dedup.lshCandidatesDeltaBulk(sigs, index, "doc_id"))
          val (counted, other) =
            if (Dedup.deltaProbePrefersBroadcast(spark, n, 4)) (bc, bulk)
            else (bulk, bc)
          val auto = Dedup.lshCandidatesDeltaAuto(sigs, index, "doc_id")
          assert(plan(auto).sameResult(plan(counted)) &&
            hints(auto) == hints(counted), s"$name, thr=$thr")
          assert(hints(auto) != hints(other), s"$name, thr=$thr")
        }
    } finally spark.conf.set(key, saved)
  }

  test("bulk probe output equals its unlimited order-by in rows and " +
      "order: raw, PQ with rerankWith, and a repeated qid") {
    val idx = Similarity.ivfLoad(spark, "read_jobs_ivf_t", rawDir)
    val pq = Similarity.ivfLoad(spark, "read_jobs_pq_t", pqDir)
    // qid 0 twice, with two different vectors
    val repeated = queries(Seq(3L, 90L, 250L, 411L))
      .withColumn("q_id", when(col("q_id") === 2L, 0L).otherwise(col("q_id")))
    val probes = Seq(
      "raw" -> Similarity.ivfProbeBulk(idx, qs, "q_id", "vec_id", nProbe = 2),
      "pq rerank" -> Pq.ivfPqProbeBulk(pq, cb, qs, "q_id", "vec_id",
        nProbe = 2, k = 5, rerankWith = Some(vectors), rerankFactor = 3),
      "raw repeated qid" -> Similarity.ivfProbeBulk(idx, repeated, "q_id",
        "vec_id", nProbe = 3),
      "pq repeated qid" -> Pq.ivfPqProbeBulk(pq, cb, repeated, "q_id",
        "vec_id", nProbe = 3))
    probes.foreach { case (name, df) =>
      val got = df.collect().toSeq
      assert(got.nonEmpty && got == unlimited(df), name)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("TakeOrderedAndProject") &&
        !plan.contains("rangepartitioning"), s"$name:\n$plan")
    }
    // a repeated qid keeps k rows in all, not k per occurrence
    val rep = probes(2)._2.collect()
    assert(rep.count(_.getLong(0) == 0L) == 10, rep.toSeq)
  }

  /** Spark jobs of each curation read, each on a freshly reloaded index;
    * the PQ handle is loaded once, as a long-lived session holds it. The
    * reads are checked too: enough planted near-duplicates found, no
    * tombstoned vector returned. */
  private def readJobs(): Map[String, Int] = {
    def probe() = Dedup.lshCandidatesDeltaAuto(sigsOf(docs(batch)),
        Dedup.bandIndexLoad(spark, "read_jobs_band_t", bandDir), "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val cands = probe()
    val planted = (0 until 10).map(i => (1000L + i, i * 7L))
    assert(planted.count(cands.contains) >= 6, cands.toSeq)
    val texts = docs(batch ++
      cands.map(_._2).distinct.map(id => id -> corpus(id)))
    def verify() = Dedup.jaccardVerify(cands.toSeq.toDF("id_a", "id_b"),
      Dedup.hashedShingles(texts, "doc_id", "text"), "doc_id").collect()
    def raw() = Similarity.ivfProbeBulk(
      Similarity.ivfLoad(spark, "read_jobs_ivf_t", rawDir), qs, "q_id",
      "vec_id", nProbe = 2).collect()
    val pq = Similarity.ivfLoad(spark, "read_jobs_pq_t", pqDir)
    def adc() = Pq.ivfPqProbeBulk(pq, cb, qs, "q_id", "vec_id",
      nProbe = 2).collect()
    assert(!(raw() ++ adc()).exists(r => gone.contains(r.getLong(1))),
      "a tombstoned vector came back")
    verify()
    val jobs = Map("lshCandidatesDeltaAuto" -> jobsOf(probe()),
      "jaccardVerify" -> jobsOf(verify()), "ivfProbeBulk" -> jobsOf(raw()),
      "ivfPqProbeBulk" -> jobsOf(adc()))
    info(s"jobs per read: $jobs")
    jobs
  }

  // The Jaccard verify runs the shingle-set shuffle, the candidate
  // broadcast, the sets broadcast and the result: the candidate frame is
  // the smaller side, so it builds the first join and the sets the
  // second, and the two broadcasts are of different frames.
  private val tombstoneFree = Map("lshCandidatesDeltaAuto" -> 4,
    "jaccardVerify" -> 4, "ivfProbeBulk" -> 4, "ivfPqProbeBulk" -> 3)

  test("on indexes that carry tombstones each index read runs at most " +
      "one job more than on a compacted index: the tombstone broadcast") {
    val jobs = readJobs()
    tombstoneFree.foreach { case (read, n) =>
      val bound = if (read == "jaccardVerify") n else n + 1
      assert(jobs(read) <= bound, s"$read: $jobs")
    }
  }

  test("on compacted indexes the delta probe over a local docSigs batch " +
      "runs at most 4 Spark jobs, the verify 4, a bulk probe 4 with the " +
      "handle's centroid collect and a PQ bulk probe 3") {
    Dedup.compactBandIndex(spark, "read_jobs_band_t", bandDir, 4)
    Similarity.ivfCompact(spark, "read_jobs_ivf_t", rawDir, 8)
    Similarity.ivfCompact(spark, "read_jobs_pq_t", pqDir, 8)
    val jobs = readJobs()
    tombstoneFree.foreach { case (read, n) =>
      assert(jobs(read) <= n, s"$read: $jobs")
    }
  }
}
