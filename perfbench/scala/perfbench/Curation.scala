package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.ext.{Dedup, Pq, Similarity}
import graft.streaming.IndexIngest

/** `curation_index`: persisted LSH band and IVF/IVF-PQ indexes over a
  * seeded corpus of documents (with planted near-duplicates) and
  * clustered vectors.
  *
  * Each cycle, with fresh ids throughout: probe the next document batch
  * against the band index (`lshCandidatesDeltaAuto`) and verify the
  * candidates (`jaccardVerify`); ingest that batch through
  * `IndexIngest.bandIndexSink` and a vector batch through
  * `IndexIngest.ivfSink`, both called directly as functions; run a bulk
  * ANN probe on the raw IVF index (`ivfProbeBulk`) and on the PQ index
  * (`ivfPqProbeBulk`); delete a slice of old documents and vectors
  * (`bandIndexDelete`, `ivfDelete`); and run both compact-on-rot
  * policies, whose thresholds make them rewrite every cycle.
  *
  * Checks: every planted near-duplicate is found and verified, every
  * verified Jaccard equals the one the benchmark computes from the
  * texts, recall@10 of the IVF probe against exact cosine top-10 stays
  * at or above a fixed floor, and every PQ score stays within the
  * quantization tolerance of the exact cosine.
  */
final class Curation(spark: SparkSession, seed: Long) extends Workload {
  import Curation._
  import spark.implicits._

  val builds = 1
  val cycleSeconds = 10.0
  private val rng = new java.util.Random(seed)
  private val vocab: IndexedSeq[String] = {
    val s = mutable.LinkedHashSet[String]()
    while (s.size < VocabSize)
      s += (0 until 3 + rng.nextInt(6)).map(_ => ('a' + rng.nextInt(26)).toChar).mkString
    s.toIndexedSeq
  }
  private val centers: IndexedSeq[Array[Double]] =
    IndexedSeq.fill(Clusters)(Array.fill(Dim)(rng.nextGaussian()))

  private def randomDoc(g: java.util.Random = rng): String =
    Seq.fill(DocWordsMin + g.nextInt(DocWordsMax - DocWordsMin + 1))(
      vocab(g.nextInt(vocab.length))).mkString(" ")

  /** A copy of `text` with one word replaced. */
  private def nearDup(text: String, g: java.util.Random = rng): String = {
    val w = text.split(" ")
    w(g.nextInt(w.length)) = vocab(g.nextInt(vocab.length))
    w.mkString(" ")
  }

  private def randomVec(g: java.util.Random = rng): Array[Float] = {
    val c = centers(g.nextInt(Clusters))
    c.map(x => (x + Noise * g.nextGaussian()).toFloat)
  }

  // live state, mirrored by the benchmark for its own checks
  private val docs = mutable.LinkedHashMap[Long, String]()
  private val vecs = mutable.LinkedHashMap[Long, Array[Float]]()
  private var pqCorpus: Map[Long, Array[Float]] = Map.empty
  private var nextDoc = 0L
  private var nextVec = 0L
  private var batchId = 0L
  private var dir: String = _
  private var tag: String = _
  private def bandPath = s"$dir/band"
  private def ivfPath = s"$dir/ivf"
  private def pqPath = s"$dir/pq"
  private var bandSink: (DataFrame, Long) => Unit = _
  private var ivfSink: (DataFrame, Long) => Unit = _
  private var pqIndex: Similarity.IvfIndex = _
  private var codebooks: Pq.PqCodebooks = _

  private def docFrame(ds: Seq[(Long, String)]): DataFrame =
    ds.toDF("doc_id", "text")
  private def vecFrame(vs: Seq[(Long, Array[Float])]): DataFrame =
    vs.toDF("vec_id", "embedding")

  def build(d: String, idx: Int): Unit = {
    dir = d
    tag = s"b$idx"
    docs.clear(); vecs.clear()
    // every build draws the same corpus from its own generator
    val g = new java.util.Random(seed * 31 + 7)
    nextDoc = 0L; nextVec = 0L; batchId = 0L
    while (nextDoc < InitialDocs) {
      docs(nextDoc) =
        if (nextDoc > 0 && g.nextInt(10) == 0)
          nearDup(docs(g.nextInt(nextDoc.toInt).toLong), g)
        else randomDoc(g)
      nextDoc += 1
    }
    while (nextVec < InitialVecs) { vecs(nextVec) = randomVec(g); nextVec += 1 }

    val sigs = IndexIngest.docSigs("doc_id", "text")(docFrame(docs.toSeq))
    Dedup.bandIndexSave(Dedup.bandIndexBuild(sigs, "doc_id"), s"band_$tag",
      bandPath, Buckets)
    val corpus = vecFrame(vecs.toSeq).cache()
    val built = Similarity.ivfBuild(corpus, nCells = Cells)
    Similarity.ivfSave(built, s"ivf_$tag", ivfPath, Cells)
    codebooks = Pq.trainedCodebooks(corpus, "embedding", Dim, PqM, PqK)
    Pq.ivfPqSave(Pq.ivfPqEncode(built, codebooks, "vec_id"), codebooks,
      s"pq_$tag", pqPath, Cells)
    corpus.unpersist()
    pqCorpus = vecs.toMap
    pqIndex = Similarity.ivfLoad(spark, s"pq_$tag", pqPath)
    bandSink = IndexIngest.bandIndexSink(IndexIngest.docSigs("doc_id", "text"),
      "doc_id", s"band_$tag", bandPath, Buckets)
    ivfSink = IndexIngest.ivfSink("vec_id", "embedding", s"ivf_$tag", ivfPath,
      Cells)
  }

  // ---- expected values ---------------------------------------------------
  private def shingles(text: String): Set[String] =
    text.split(" ").sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet

  private def jaccard(a: String, b: String): Double = {
    val (x, y) = (shingles(a), shingles(b))
    val common = (x intersect y).size
    common.toDouble / (x.size + y.size - common)
  }

  private def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
      nb += b(i).toDouble * b(i); i += 1
    }
    dot / math.sqrt(na * nb)
  }

  private def topK(corpus: Iterable[(Long, Array[Float])], q: Array[Float]) =
    corpus.map { case (id, v) => id -> cosine(v, q) }.toSeq
      .sortBy { case (id, c) => (-c, id) }.take(K).map(_._1).toSet

  /** Recall@K of probe rows (qid, id) against exact cosine top-K. */
  private def recall(r: Runner, rows: Array[Row], idCol: String,
      queries: Seq[(Long, Array[Float])],
      corpus: Iterable[(Long, Array[Float])], key: String,
      floor: Double): Seq[String] = {
    val got = rows.groupBy(_.getAs[Long]("q_id"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long](idCol)).toSet }
    var hits = 0
    queries.foreach { case (q, v) =>
      hits += (got.getOrElse(q, Set.empty[Long]) intersect topK(corpus, v)).size
    }
    val truth = queries.length * K
    if (r.isTracing) {
      r.counters(s"$key.hits") += hits
      r.counters(s"$key.truth") += truth
    }
    val rec = hits.toDouble / truth
    if (rec >= floor) Nil else Seq(f"$key recall@$K $rec%.3f below $floor")
  }

  /** PQ scores are approximations of the exact cosine: every returned
    * vector must be a corpus member, each query must get K results in
    * descending score order, and each score must lie within the
    * quantization tolerance of the cosine the benchmark computes. */
  private def checkAdc(rows: Array[Row], queries: Map[Long, Array[Float]])
      : Seq[String] = {
    val byQ = rows.groupBy(_.getAs[Long]("q_id"))
    val errs = Seq.newBuilder[String]
    if (byQ.size != queries.size || byQ.values.exists(_.length != K))
      errs += s"PQ probe returned ${rows.length} rows for ${byQ.size} queries"
    var worst = 0.0
    byQ.foreach { case (q, rs) =>
      val scores = rs.map(_.getAs[Double]("cos_pq"))
      if (scores.toSeq != scores.sorted.reverse.toSeq)
        errs += s"PQ scores of query $q not in descending order"
      rs.foreach { x =>
        val id = x.getAs[Long]("vec_id")
        pqCorpus.get(id) match {
          case None => errs += s"PQ probe returned unknown id $id"
          case Some(v) =>
            worst = math.max(worst,
              math.abs(x.getAs[Double]("cos_pq") - cosine(v, queries(q))))
        }
      }
    }
    if (worst > AdcTolerance)
      errs += f"PQ score deviates $worst%.3f from the exact cosine"
    errs.result()
  }

  /** LSH finds a near-duplicate only with some probability (about 0.9 to
    * 0.98 for these one-word edits of 30 to 60 word texts), so the floor
    * sits far enough below that for a batch of 20 never to miss it by
    * chance while a broken index, which finds none, always does. */
  private def plantedNeeded(planted: Int): Int =
    math.ceil(planted * PlantedFloor - 1e-9).toInt

  // ---- one cycle ---------------------------------------------------------
  def cycle(r: Runner, idx: Int): Unit = {
    // the next document batch, with planted near-duplicates of live docs
    val live = docs.keys.toIndexedSeq
    val planted = ArrayBuffer[(Long, Long)]()
    val batch = (0 until BatchDocs).map { i =>
      val id = nextDoc + i
      if (i < PlantedPerBatch) {
        val orig = live(rng.nextInt(live.length))
        planted += ((id, orig))
        id -> nearDup(docs(orig))
      } else id -> randomDoc()
    }
    nextDoc += BatchDocs
    val batchDf = docFrame(batch)
    val batchText = batch.toMap

    // probe + verify before ingest
    val cands = r.op("read", "dedup.lshCandidatesDeltaAuto") {
      val index = Dedup.bandIndexLoad(spark, s"band_$tag", bandPath)
      Dedup.lshCandidatesDeltaAuto(
        IndexIngest.docSigs("doc_id", "text")(batchDf), index, "doc_id")
        .collect().map(x => (x.getAs[Long]("id_new"), x.getAs[Long]("id_old")))
    } { cs =>
      val found = planted.count(p => cs.contains(p))
      if (found >= plantedNeeded(planted.length)) Nil
      else Seq(s"$found/${planted.length} planted near-dups are candidates")
    }.getOrElse(Array.empty[(Long, Long)])
    val oldText = cands.map(_._2).distinct.map(id => id -> docs(id)).toMap
    r.op("read", "dedup.jaccardVerify") {
      val texts = docFrame((batchText ++ oldText).toSeq)
      Dedup.jaccardVerify(
        cands.toSeq.toDF("id_a", "id_b"),
        Dedup.hashedShingles(texts, "doc_id", "text"), "doc_id")
        .collect().map(x => ((x.getAs[Long]("id_a"), x.getAs[Long]("id_b")),
          x.getAs[Double]("jaccard"))).toMap
    } { verified =>
      val wrong = verified.collectFirst {
        case ((a, b), j) if math.abs(j - jaccard(batchText(a), oldText(b))) > 1e-9 =>
          s"jaccard($a,$b) = $j, expected ${jaccard(batchText(a), oldText(b))}"
      }
      val found = planted.count(p => verified.getOrElse(p, 0.0) >= DupThreshold)
      if (r.isTracing) {
        r.counters("lsh.candidates") += cands.length
        r.counters("lsh.verified") += verified.count(_._2 >= DupThreshold)
        r.counters("lsh.planted") += planted.length
        r.counters("lsh.planted_found") += found
      }
      wrong.toSeq ++ (if (found >= plantedNeeded(planted.length)) Nil
        else Seq(s"$found/${planted.length} planted near-dups verified"))
    }

    // ingest the documents and a vector batch
    r.op("write", "ingest.bandIndexSink", BatchDocs)(bandSink(batchDf, batchId))(
      _ => Nil)
    val vbatch = (0 until BatchVecs).map(i => (nextVec + i) -> randomVec())
    nextVec += BatchVecs
    r.op("write", "ingest.ivfSink", BatchVecs)(ivfSink(vecFrame(vbatch), batchId))(
      _ => Nil)
    batchId += 1
    docs ++= batch
    vecs ++= vbatch

    // bulk ANN probes
    val queries = (0 until Queries).map(i => i.toLong -> randomVec())
    val qDf = queries.toDF("q_id", "embedding")
    r.op("read", "similarity.ivfProbeBulk") {
      Similarity.ivfProbeBulk(Similarity.ivfLoad(spark, s"ivf_$tag", ivfPath),
        qDf, "q_id", "vec_id", nProbe = NProbe, k = K).collect()
    }(recall(r, _, "vec_id", queries, vecs, "ivf", IvfFloor))
    r.op("read", "pq.ivfPqProbeBulk") {
      Pq.ivfPqProbeBulk(pqIndex, codebooks, qDf, "q_id", "vec_id",
        nProbe = NProbe, k = K).collect()
    } { rows =>
      recall(r, rows, "vec_id", queries, pqCorpus, "pq", 0.0) ++
        checkAdc(rows, queries.toMap)
    }
    // the probes' localCheckpoint blocks, released outside the timed calls
    Main.clearCaches(spark)

    // retention deletes of the oldest live documents and vectors
    val delDocs = docs.keys.take(DeletesPerCycle).toSeq
    val delVecs = vecs.keys.take(DeletesPerCycle).toSeq
    r.op("write", "dedup.bandIndexDelete")(Dedup.bandIndexDelete(
      delDocs.toDF("doc_id"), "doc_id", s"band_$tag", bandPath))(n =>
      if (n == delDocs.length * Bands) Nil
      else Seq(s"bandIndexDelete tombstoned $n rows, expected ${delDocs.length * Bands}"))
    r.op("write", "similarity.ivfDelete")(Similarity.ivfDelete(
      delVecs.toDF("vec_id"), "vec_id", s"ivf_$tag", ivfPath))(n =>
      if (n == delVecs.length) Nil
      else Seq(s"ivfDelete tombstoned $n ids, expected ${delVecs.length}"))
    docs --= delDocs
    vecs --= delVecs
    r.op("write", "index.maybeCompact") {
      (Dedup.maybeCompactBandIndex(spark, s"band_$tag", bandPath, Buckets,
        maxFilesPerBucket = 1),
        Similarity.ivfMaybeCompact(spark, s"ivf_$tag", ivfPath, Cells,
          maxFilesPerCell = 1))
    } { case (b, v) =>
      if (b && v) Nil else Seq(s"compaction did not run (band $b, ivf $v)")
    }
  }

  /** One cycle: the build leaves the probe, delete and compaction paths
    * cold, and a cold first cycle is the part of a run that slows most
    * when the machine is contended (the JIT is still compiling it). */
  def warmup(r: Runner): Unit = cycle(r, -1)

  private def usage(path: String): (Long, Long) = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(p, true)
    var bytes = 0L
    var files = 0L
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) { bytes += f.getLen; files += 1 }
    }
    (bytes, files)
  }

  def finish(r: Runner): Map[String, Any] = {
    // the live index contents must equal what the benchmark ingested
    r.op("read", "final.check") {
      (Dedup.bandIndexLoad(spark, s"band_$tag", bandPath).banded
        .select("id_old").distinct().count(),
        Similarity.ivfLoad(spark, s"ivf_$tag", ivfPath).assigned.count())
    } { case (nd, nv) =>
      val exp = (docs.size.toLong, vecs.size.toLong)
      if ((nd, nv) == exp) Nil else Seq(s"live index sizes ($nd, $nv) != $exp")
    }
    val (bb, bf) = usage(s"$bandPath/banded")
    val (vb, _) = usage(s"$ivfPath/assigned")
    Map("store_bytes" -> (bb + vb), "live_rows" -> (docs.size + vecs.size),
      "files_per_bucket" -> bf.toDouble / Buckets)
  }
}

object Curation {
  val VocabSize = 400
  val DocWordsMin = 30
  val DocWordsMax = 60
  val Dim = 32
  val Clusters = 12
  val Noise = 0.35
  val InitialDocs = 2000
  val InitialVecs = 2000
  val Buckets = 8
  val Cells = 8
  val Bands = 4
  val PqM = 2
  val PqK = 16
  val BatchDocs = 100
  val PlantedPerBatch = 20
  val BatchVecs = 100
  val Queries = 16
  val K = 10
  val NProbe = 2
  val DeletesPerCycle = 20
  val DupThreshold = 0.5
  val PlantedFloor = 0.6
  val IvfFloor = 0.8
  /** Largest accepted |ADC score - exact cosine|. */
  val AdcTolerance = 0.25
}
