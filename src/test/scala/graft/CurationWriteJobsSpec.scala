package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField,
  StructType}
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.SafeFs
import graft.ext.{Dedup, Similarity}
import graft.streaming.IndexIngest

/** The index-maintenance writes — the two streaming sinks, the two
  * tombstone deletes and the two bucketed compactions — run a bounded
  * number of Spark jobs on indexes that carry tombstones: each stages its
  * batch and counts it in one job ([[SafeFs.stage]]), and the band index
  * refreshes only the bucket sizes a batch touches. The counts they
  * journal and the rows they leave behind are those of the plans they
  * replace. */
class CurationWriteJobsSpec extends AnyFunSuite with SparkTestBase
    with JobCounting {
  import spark.implicits._

  private def tmp(tag: String) =
    java.nio.file.Files.createTempDirectory(tag).toString

  private val Bands = 4

  // ---- documents: 30–50-word texts over a 300-word vocabulary -------------
  private val rnd = new java.util.Random(23)
  private val vocab = (0 until 300).map(i => s"w$i")
  private def text(): String =
    Seq.fill(30 + rnd.nextInt(20))(vocab(rnd.nextInt(vocab.length)))
      .mkString(" ")
  private lazy val corpus: Seq[(Long, String)] =
    (0L until 300L).map(_ -> text())
  private def docs(ds: Seq[(Long, String)]): DataFrame =
    ds.toDF("doc_id", "text")
  private val toSigs = IndexIngest.docSigs("doc_id", "text")

  /** A saved 4-bucket band index over the corpus with docs 280–299
    * tombstoned. */
  private def bandIndex(table: String): String = {
    val dir = tmp(table)
    Dedup.bandIndexSave(Dedup.bandIndexBuild(toSigs(docs(corpus)),
      "doc_id"), table, dir, nBuckets = 4)
    Dedup.bandIndexDelete((280L until 300L).toDF("doc_id"), "doc_id", table,
      dir)
    dir
  }

  // ---- vectors: 400 distinct dim-16 vectors --------------------------------
  private def vectors(from: Long, until: Long): DataFrame =
    spark.range(from, until).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(15)),
        j => sin((col("id") + lit(1)) * (j + lit(1)) * lit(0.7305)))
        .as("embedding"))

  /** A saved 8-cell raw IVF index over vectors 0–399 with ids 390–399
    * tombstoned. */
  private def ivfIndex(table: String): String = {
    val dir = tmp(table)
    Similarity.ivfSave(Similarity.ivfBuild(vectors(0, 400).localCheckpoint(),
      nCells = 8), table, dir, 8)
    Similarity.ivfDelete((390L until 400L).toDF("vec_id"), "vec_id", table,
      dir)
    dir
  }

  private def sizesTotal(table: String, dir: String): Long =
    Dedup.bandIndexLoad(spark, table, dir).sizes.agg(sum("bsz")).head
      .getLong(0)

  /** Each write's job count is within its bound. The writes run twice:
    * on an index that carries tombstones, where each pays one or two
    * more jobs for the tombstone set's broadcast, and after a compaction
    * cleared them. */
  private def pinned(jobs: Map[String, Int], bounds: Map[String, Int]): Unit =
    bounds.foreach { case (w, b) => assert(jobs(w) <= b, s"$w: $jobs") }

  test("band index: the sink runs at most 7 jobs, a delete 8 and a " +
      "compaction 3, plus the tombstone set's broadcast while one exists; " +
      "sizes equal a rebuild over the live docs and keep their file count") {
    val dir = bandIndex("write_jobs_band_t")
    try {
      val sink = IndexIngest.bandIndexSink(toSigs, "doc_id",
        "write_jobs_band_t", dir, nBuckets = 4)
      val batches = Seq.tabulate(2)(b =>
        (1000L + 40 * b until 1040L + 40 * b).map(_ -> text()))
      def writes(b: Int): Map[String, Int] = Map(
        "bandIndexSink" -> jobsOf(sink(docs(batches(b)), b.toLong)),
        "bandIndexDelete" -> jobsOf {
          val ids = Seq.range(10L * b, 10L * b + 10L)
          val n = Dedup.bandIndexDelete((ids ++ ids).toDF("doc_id"),
            "doc_id", "write_jobs_band_t", dir)
          assert(n == 10L * Bands, s"a repeated id is deleted once: $n rows")
        },
        "compactBandIndex" -> jobsOf(Dedup.compactBandIndex(spark,
          "write_jobs_band_t", dir, nBuckets = 4)))
      def sizesFiles() =
        graft.engine.Store.dataFileList(spark, s"$dir/sizes").size
      val filesBefore = sizesFiles()
      val (tombstoned, clean) = (writes(0), writes(1))
      info(s"jobs per write, tombstones present: $tombstoned; none: $clean")
      assert(sizesFiles() == filesBefore,
        "a sizes refresh must keep the frame's file count")
      pinned(tombstoned, Map("bandIndexSink" -> 9, "bandIndexDelete" -> 9,
        "compactBandIndex" -> 3))
      pinned(clean, Map("bandIndexSink" -> 7, "bandIndexDelete" -> 8,
        "compactBandIndex" -> 3))
      val live = corpus.filter(d => d._1 >= 20L && d._1 < 280L) ++
        batches.flatten
      val rebuilt = Dedup.bandIndexBuild(toSigs(docs(live)), "doc_id")
      val reopened = Dedup.bandIndexLoad(spark, "write_jobs_band_t", dir)
      assert(reopened.sizes.except(rebuilt.sizes).isEmpty &&
        rebuilt.sizes.except(reopened.sizes).isEmpty)
      assert(reopened.banded.except(rebuilt.banded).isEmpty &&
        rebuilt.banded.except(reopened.banded).isEmpty)
    } finally spark.sql("DROP TABLE IF EXISTS write_jobs_band_t")
  }

  test("an index saved empty takes appends and deletes; its sizes equal " +
      "a rebuild over the live docs") {
    val dir = tmp("write_jobs_empty_t")
    try {
      Dedup.bandIndexSave(Dedup.bandIndexBuild(toSigs(docs(Nil)), "doc_id"),
        "write_jobs_empty_t", dir, nBuckets = 4)
      val batch = corpus.take(30)
      Dedup.bandIndexAppend(toSigs(docs(batch)), "doc_id",
        "write_jobs_empty_t", dir, nBuckets = 4)
      assert(Dedup.bandIndexDelete((0L until 5L).toDF("doc_id"), "doc_id",
        "write_jobs_empty_t", dir) == 5L * Bands)
      val rebuilt = Dedup.bandIndexBuild(toSigs(docs(batch.drop(5))),
        "doc_id").sizes
      val sizes = Dedup.bandIndexLoad(spark, "write_jobs_empty_t", dir).sizes
      assert(sizes.except(rebuilt).isEmpty && rebuilt.except(sizes).isEmpty)
    } finally spark.sql("DROP TABLE IF EXISTS write_jobs_empty_t")
  }

  test("IVF index: the sink runs at most 3 jobs, a delete 4 and a " +
      "compaction 3, plus the tombstone set's broadcast while one exists; " +
      "the live ids are the expected ones") {
    val dir = ivfIndex("write_jobs_ivf_t")
    try {
      val sink = IndexIngest.ivfSink("vec_id", "embedding",
        "write_jobs_ivf_t", dir, nCells = 8)
      // the first epoch loads the quantizer; a long-running sink pays
      // that once, so the pins are on later epochs
      sink(vectors(400, 420), 0L)
      def writes(b: Int): Map[String, Int] = Map(
        "ivfSink" -> jobsOf(sink(vectors(420 + 20 * b, 440 + 20 * b),
          1L + b)),
        "ivfDelete" -> jobsOf {
          // repeats, an already-tombstoned id and a never-indexed one
          val ids = Seq.range(10L * b, 10L * b + 10L) ++
            Seq.range(10L * b + 5L, 10L * b + 10L) :+ 395L :+ 9999L
          val n = Similarity.ivfDelete(ids.toDF("vec_id"), "vec_id",
            "write_jobs_ivf_t", dir)
          assert(n == 10L, s"10 live ids newly tombstoned, got $n")
        },
        "ivfCompact" -> jobsOf(Similarity.ivfCompact(spark,
          "write_jobs_ivf_t", dir, 8)))
      val (tombstoned, clean) = (writes(0), writes(1))
      info(s"jobs per write, tombstones present: $tombstoned; none: $clean")
      pinned(tombstoned, Map("ivfSink" -> 5, "ivfDelete" -> 5,
        "ivfCompact" -> 3))
      pinned(clean, Map("ivfSink" -> 3, "ivfDelete" -> 4, "ivfCompact" -> 3))
      val ids = Similarity.ivfLoad(spark, "write_jobs_ivf_t", dir).assigned
        .select("vec_id").as[Long].collect().sorted.toSeq
      assert(ids == (20L until 390L) ++ (400L until 460L))
    } finally spark.sql("DROP TABLE IF EXISTS write_jobs_ivf_t")
  }

  test("stage: one job yields the rows and a count equal to count(), on " +
      "empty, one- and many-partition and post-shuffle frames") {
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("s", StringType)))
    val shapes = Seq[(String, DataFrame)](
      "local empty" -> Seq.empty[(Long, String)].toDF("id", "s"),
      "RDD-backed empty" -> spark.createDataFrame(
        spark.sparkContext.parallelize(Seq.empty[Row], 3), schema),
      "filtered to empty" -> spark.range(100).toDF().filter(col("id") < 0),
      "1 partition" -> spark.range(0, 50, 1, 1).toDF(),
      "7 partitions" -> spark.range(0, 70, 1, 7)
        .withColumn("s", col("id").cast("string")),
      "post-shuffle" -> spark.range(0, 100, 1, 4)
        .groupBy((col("id") % 10).as("k")).agg(count(lit(1)).as("n")))
    shapes.foreach { case (name, df) =>
      def rows(d: DataFrame) = d.collect().map(_.toString).sorted.toSeq
      SafeFs.withRddCleanup(spark) {
        var staged: (DataFrame, Long) = null
        val jobs = jobsOf { staged = SafeFs.stage(df) }
        val (frame, n) = staged
        assert(n == df.count(), name)
        assert(rows(frame) == rows(df), name)
        if (name != "post-shuffle") assert(jobs <= 1, s"$name: $jobs jobs")
      }
    }
  }

  test("the band sink journals n × bands rows for a batch of n unique " +
      "docs; the journaled counts classify its replay") {
    val dir = bandIndex("write_jobs_jrnl_t")
    try {
      val fs = SafeFs.fs(spark, dir)
      def p(s: String) = new org.apache.hadoop.fs.Path(s"$dir/$s")
      def journal(name: String): Seq[Long] =
        SafeFs.readMarker(fs, p(name)).get.split(' ').map(_.toLong).toSeq
      def physical(): Long = spark.table("write_jobs_jrnl_t").count()
      val batch = (2000L until 2025L).map(_ -> text())
      val pre = physical()
      val preSizes = sizesTotal("write_jobs_jrnl_t", dir)
      // an interrupted append: a sink declaring the wrong bucket count
      // stages both journals, then the bucketed write is refused before
      // any file lands
      intercept[org.apache.spark.sql.AnalysisException] {
        IndexIngest.bandIndexSink(toSigs, "doc_id", "write_jobs_jrnl_t",
          dir, nBuckets = 5)(docs(batch), 0L)
      }
      assert(journal(SafeFs.StreamJournal) == Seq(0L, pre, 25L * Bands))
      assert(journal(Dedup.AppendJournal) == Seq(preSizes, 25L * Bands))
      assert(physical() == pre)
      // the replay heals the inner journal, classifies the batch as not
      // committed and appends exactly the journaled rows
      IndexIngest.bandIndexSink(toSigs, "doc_id", "write_jobs_jrnl_t", dir,
        nBuckets = 4)(docs(batch), 0L)
      assert(physical() == pre + 25L * Bands)
      assert(sizesTotal("write_jobs_jrnl_t", dir) == preSizes + 25L * Bands)
      assert(!fs.exists(p(SafeFs.StreamJournal)) &&
        !fs.exists(p(Dedup.AppendJournal)))
      assert(IndexIngest.committedEpoch(spark, dir) == 0L)
    } finally spark.sql("DROP TABLE IF EXISTS write_jobs_jrnl_t")
  }
}
