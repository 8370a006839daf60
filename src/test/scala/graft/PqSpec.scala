package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ext.{Pq, Similarity}

/** Product quantization ([[Pq]]): encode/ADC kernel semantics, the
  * exact-rerank contract, and the IVF-PQ composition over the EXISTING
  * column-agnostic index-maintenance layer. The deterministic-codebook
  * form is hash-checked cross-engine by x90_pq_adc; these tests pin what
  * the oracle can't see — trained codebooks, reconstruction identities,
  * null/width edge cases, persistence round-trips, bucket pruning. */
class PqSpec extends AnyFunSuite with SparkTestBase {

  private val sf = "/root/testdata/sf0.001"
  private def corpus = spark.read.parquet(s"$sf/embeddings.parquet")
  private def queryVec(qid: Long): IndexedSeq[Double] =
    corpus.filter(col("vec_id") === qid)
      .select(transform(col("embedding"), x => x.cast("double")).as("q"))
      .head.getSeq[Double](0).toIndexedSeq

  test("trainedCodebooks: deterministic under a fixed seed, correct shape") {
    val a = Pq.trainedCodebooks(corpus, "embedding", dim = 64, m = 4, k = 8)
    val b = Pq.trainedCodebooks(corpus, "embedding", dim = 64, m = 4, k = 8)
    assert(a == b, "same corpus + seed must yield identical codebooks")
    assert(a.m == 4 && a.k == 8 && a.subDim == 16)
    // subspaces must not share initialization draws (seed + s): two
    // subspaces of i.i.d. data training to IDENTICAL codebooks would
    // mean the per-subspace seeds collapsed
    assert(a.cents(0) != a.cents(1))
  }

  test("pqEncode: codes are m ints in [0, k); recon_norm is the exact " +
      "per-code constant lookup") {
    val cb = Pq.trainedCodebooks(corpus, "embedding", dim = 64, m = 8, k = 16)
    val enc = Pq.pqEncode(corpus, "embedding", cb)
      .select(col("vec_id"), col("codes"), col("recon_norm")).collect()
    assert(enc.length == corpus.count())
    enc.foreach { r =>
      val codes = r.getSeq[Int](1)
      assert(codes.length == cb.m)
      assert(codes.forall(c => c >= 0 && c < cb.k), s"codes $codes")
      // recon_norm must equal the driver-side fold over the SAME
      // constants in the same subspace order — bit-identical, not just
      // close (both paths sum cb.normSq(s)(code_s) ascending in s)
      val expect = math.sqrt(
        codes.zipWithIndex.foldLeft(0.0) { case (a, (c, s)) =>
          a + cb.normSq(s)(c) })
      assert(r.getDouble(2) == expect, s"recon_norm mismatch at ${r.get(0)}")
    }
  }

  test("ADC identity: PqAdcF's LUT fold equals q · x̂ (the reconstructed " +
      "vector's exact dot) to fp-regrouping tolerance") {
    val cb = Pq.trainedCodebooks(corpus, "embedding", dim = 64, m = 8, k = 16)
    val q = queryVec(0L)
    val lut = Pq.adcLut(q, cb)
    val qn = math.sqrt(q.foldLeft(0.0)((a, x) => a + x * x))
    val rows = Pq.pqEncode(corpus.filter(col("vec_id") < 50), "embedding", cb)
      .withColumn("adc_cos",
        Pq.adcCosine(col("codes"), col("recon_norm"), q, cb))
      .select(col("vec_id"), col("codes"), col("recon_norm"), col("adc_cos"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val codes = r.getSeq[Int](1)
      // reconstruction x̂ = concat of selected codewords; q · x̂ via the
      // per-subspace LUT is the same sum grouped differently — assert to
      // 1e-9 relative (regrouping ulp, nothing more)
      val adcDot = codes.zipWithIndex.map { case (c, s) => lut(s)(c) }.sum
      val recon = codes.zipWithIndex.flatMap { case (c, s) => cb.cents(s)(c) }
      val exactDot = recon.zipWithIndex
        .foldLeft(0.0) { case (a, (x, i)) => a + q(i) * x }
      assert(math.abs(adcDot - exactDot) <=
        1e-9 * math.max(1.0, math.abs(exactDot)))
      val expectCos = adcDot / (r.getDouble(2) * qn)
      assert(math.abs(r.getDouble(3) - expectCos) <= 1e-9)
      assert(r.getDouble(3) <= 1.0 + 1e-6 && r.getDouble(3) >= -1.0 - 1e-6)
    }
  }

  test("PqAdcF edges: null embedding propagates null through encode+score; " +
      "a foreign code fails loudly; a null code slot nulls the score") {
    import spark.implicits._
    val cb = Pq.deterministicCodebooks(dim = 4, m = 2, k = 3)
    val q = IndexedSeq(1.0, 0.0, 0.0, 1.0)
    // null embedding → null codes → null score (no crash, no silent 0)
    val withNull = Seq((1L, Some(Seq(1.0f, 2.0f, 3.0f, 4.0f))), (2L, None))
      .toDF("id", "embedding")
    val scored = Pq.pqEncode(withNull, "embedding", cb)
      .withColumn("s", Pq.adcCosine(col("codes"), col("recon_norm"), q, cb))
      .select("id", "s").collect().map(r => r.getLong(0) -> r.isNullAt(1)).toMap
    assert(!scored(1L) && scored(2L))
    // a code outside [0, k) must throw naming the function — an
    // encode/codebook mismatch must not rank garbage
    val bad = Seq((1L, Seq(0, 7))).toDF("id", "codes")
    val e = intercept[Exception] {
      bad.withColumn("s", Pq.adcCosine(col("codes"), lit(1.0), q, cb))
        .collect()
    }
    assert(e.getMessage != null && e.toString.contains("graft_pq_adc") ||
      Option(e.getCause).exists(_.getMessage.contains("graft_pq_adc")))
    // a NULL slot inside the codes array nulls the result (WeightSumF
    // lesson: silently scoring slot 0 is the failure mode)
    val nullSlot = Seq((1L, Seq(Some(0), None))).toDF("id", "codes")
    val r = nullSlot
      .withColumn("s", Pq.adcCosine(col("codes"), lit(1.0), q, cb))
      .select("s").head
    assert(r.isNullAt(0))
  }

  test("pqTopK exact-rerank contract: with candidates covering the corpus, " +
      "rerank IS brute force; with a modest factor, trained-PQ recall holds") {
    val cb = Pq.trainedCodebooks(corpus, "embedding", dim = 64, m = 8, k = 16)
    val q = queryVec(0L)
    val searched = corpus.filter(col("vec_id") =!= 0)
    val enc = Pq.pqEncode(searched, "embedding", cb)
    val truth = Similarity.bruteForceTopK(searched,
        corpus.filter(col("vec_id") === 0).select("embedding"), "vec_id")
      .select("vec_id", "cos").collect().map(r => (r.getLong(0), r.getDouble(1)))
    // rerankFactor large enough that every corpus row is a candidate:
    // the two-stage read degenerates to exact brute force by construction
    val all = Pq.pqTopK(enc, cb, q, "vec_id", k = 10,
        rerankWith = Some(searched), rerankFactor = 50)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(all.toSeq == truth.toSeq)
    // production-shaped factors. Honest framing: this synthetic corpus
    // is PQ's WORST case — i.i.d. random embeddings have no cluster
    // structure, so quantization error is maximal and all cosines bunch
    // near 0 (measured here: factor 4 recovers 4/10; PQ_BENCH carries
    // the full factor curve). Pin what is PROVABLE rather than a lucky
    // constant: rerank recall is monotone in the factor (candidates are
    // nested ADC-ranking prefixes, and any truth member among the
    // candidates survives an exact rerank — at most 9 candidates can
    // out-rank it, all themselves truth members), plus a loose floor.
    def recallAt(factor: Int): Int = {
      val ids = Pq.pqTopK(enc, cb, q, "vec_id", k = 10,
          rerankWith = Some(searched), rerankFactor = factor)
        .collect().map(_.getLong(0)).toSet
      truth.map(_._1).count(ids.contains)
    }
    val (r2, r8) = (recallAt(2), recallAt(8))
    assert(r8 >= r2, s"recall must be monotone in rerankFactor: $r2 → $r8")
    assert(r8 >= 2, s"trained-PQ rerank recall collapsed to $r8/10")
  }

  test("codebooks persistence round-trip; IVF-PQ rides the existing " +
      "maintenance layer: save → load → probe ≡ in-memory, append visible, " +
      "cell pruning pushed") {
    val dir = java.nio.file.Files.createTempDirectory("pq-idx").toString
    val nCells = 8
    val cb = Pq.trainedCodebooks(corpus, "embedding", dim = 64, m = 8, k = 16)
    Pq.codebooksSave(spark, cb, s"$dir/codebooks")
    assert(Pq.codebooksLoad(spark, s"$dir/codebooks") == cb)

    val base = corpus.filter(col("vec_id") < 400)
    val batch = corpus.filter(col("vec_id") >= 400)
    val built = Similarity.ivfBuild(base, nCells = nCells)
    val encIdx = Pq.ivfPqEncode(built, cb, "vec_id")
    Similarity.ivfSave(encIdx, "pq_assigned", dir, nCells)
    try {
      val q = corpus.filter(col("vec_id") === 1).select("embedding")
      val loaded = Similarity.ivfLoad(spark, "pq_assigned", dir)
      val mem = Pq.ivfPqProbe(encIdx, cb, q, "vec_id").collect().toSeq
      val persisted = Pq.ivfPqProbe(loaded, cb, q, "vec_id").collect().toSeq
      assert(mem == persisted && mem.size == 10)
      // incremental ingest through the SAME ivfAppendSave the raw index
      // uses: assign, encode, append — probes see the batch immediately
      val assigned = Similarity.ivfAssign(loaded, batch, "vec_id")
      Similarity.ivfAppendSave(
        Pq.pqEncode(assigned, "embedding", cb)
          .select(col("vec_id"), col("cell"), col("codes"), col("recon_norm")),
        "pq_assigned", dir, nCells)
      spark.catalog.refreshTable("pq_assigned")
      val after = Similarity.ivfLoad(spark, "pq_assigned", dir)
      assert(after.assigned.count() == corpus.count())
      // scale evidence: the ADC probe still prunes to nProbe cells via
      // the pushed literal filter (default-conf path, one file per cell
      // modulo the append)
      val plan = Pq.ivfPqProbe(after, cb, q, "vec_id")
        .queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      val pushed = plan.linesIterator
        .filter(_.contains("PushedFilters")).mkString
      assert(raw"In\(cell,".r.findFirstIn(pushed).isDefined,
        s"expected pushed cell IN pruning in:\n$pushed")
      // and the compressed scan must never read the embedding column —
      // the byte win IS the feature
      assert(!plan.contains("embedding"),
        "ADC probe plan references the raw embedding column")
    } finally {
      spark.sql("DROP TABLE IF EXISTS pq_assigned")
      ()
    }
  }

  test("bulk ADC probe ≡ per-query ivfPqProbe; hier cell ranking plugs " +
      "into the single-query probe; PqAdcPairF contracts") {
    val nCells = 8
    val cb = Pq.trainedCodebooks(corpus, "embedding", dim = 64, m = 8, k = 16)
    val qids = Seq(0L, 7L, 21L, 42L)
    val searched = corpus.filter(!col("vec_id").isin(qids: _*))
    val built = Similarity.ivfBuild(searched, nCells = nCells)
    val encIdx = Pq.ivfPqEncode(built, cb, "vec_id")
    val queries = corpus.filter(col("vec_id").isin(qids: _*))
      .select(col("vec_id").as("q_id"), col("embedding"))

    // 1. the bulk probe must reproduce the sequential per-query probes
    // exactly — same cells probed, same ADC scores, same top-k
    val bulk = Pq.ivfPqProbeBulk(encIdx, cb, queries, "q_id", "vec_id",
        nProbe = 2, k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val seq = qids.sorted.flatMap { q =>
      Pq.ivfPqProbe(encIdx, cb,
        corpus.filter(col("vec_id") === q).select("embedding"),
        "vec_id", nProbe = 2, k = 10).collect()
        .map(r => (q, r.getLong(0), r.getDouble(1))).toSeq
    }
    assert(bulk == seq,
      s"bulk != sequential:\n bulk=${bulk.take(5)}\n seq=${seq.take(5)}")

    // 2. hierarchical cell ranking: with nProbeSuper = nSuper the probe
    // considers every cell — identical to the flat single-query probe
    val sq = Similarity.ivfSuperBuild(built, nSuper = 3)
    val q0 = corpus.filter(col("vec_id") === 0).select("embedding")
    assert(
      Pq.ivfPqProbe(encIdx, cb, q0, "vec_id", superQ = Some(sq),
        nProbeSuper = 3).collect().toSeq ==
        Pq.ivfPqProbe(encIdx, cb, q0, "vec_id").collect().toSeq,
      "exhaustive hier ranking must equal the flat ADC probe")

    // 2b. residual bulk: same equivalence against the sequential
    // residual probes (the q·cent term rides the pairs frame)
    val cbRes = Pq.trainedResidualCodebooks(built.assigned, "embedding",
      built, dim = 64, m = 8, k = 16)
    val resIdx = Pq.ivfPqEncodeResidual(built, cbRes, "vec_id")
    val resBulk = Pq.ivfPqProbeBulk(resIdx, cbRes, queries, "q_id",
        "vec_id", nProbe = 2, k = 10, residual = true).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val resSeq = qids.sorted.flatMap { q =>
      Pq.ivfPqProbeResidual(resIdx, cbRes,
        corpus.filter(col("vec_id") === q).select("embedding"),
        "vec_id", nProbe = 2, k = 10).collect()
        .map(r => (q, r.getLong(0), r.getDouble(1))).toSeq
    }
    assert(resBulk == resSeq,
      s"residual bulk != sequential:\n bulk=${resBulk.take(5)}\n seq=${resSeq.take(5)}")

    // 2c. bulk two-stage rerank ≡ per-query rerank, exactly: same
    // k·factor shortlist boundary, same exact re-scoring, same output —
    // the shared-tail contract (bulkProbe's rerank arm vs Quantizer.topK's)
    val rrBulk = Pq.ivfPqProbeBulk(encIdx, cb, queries, "q_id", "vec_id",
        nProbe = 2, k = 5, rerankWith = Some(searched), rerankFactor = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val rrSeq = qids.sorted.flatMap { q =>
      Pq.ivfPqProbe(encIdx, cb,
        corpus.filter(col("vec_id") === q).select("embedding"),
        "vec_id", nProbe = 2, k = 5, rerankWith = Some(searched),
        rerankFactor = 3).collect()
        .map(r => (q, r.getLong(0), r.getDouble(1))).toSeq
    }
    assert(rrBulk == rrSeq,
      s"bulk rerank != sequential:\n bulk=${rrBulk.take(5)}\n seq=${rrSeq.take(5)}")

    // 3. PqAdcPairF contracts: wrong-m codes throw; a null code slot
    // nulls the score instead of scoring garbage
    import spark.implicits._
    def adc(codes: org.apache.spark.sql.Column,
        lut: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      org.apache.spark.sql.GraftBridge.column(
        graft.functions.PqAdcPairF(
          org.apache.spark.sql.GraftBridge.expression(codes),
          org.apache.spark.sql.GraftBridge.expression(lut), 2))
    val lut4 = array(Seq(1.0, 2.0, 3.0, 4.0).map(lit(_)): _*) // m=2, k=2
    val ok = Seq((0, 1)).toDF("a", "b")
      .select(adc(array(col("a"), col("b")), lut4).as("s")).head.getDouble(0)
    assert(ok == 1.0 + 4.0)
    val e = intercept[Exception] {
      Seq((0, 1, 0)).toDF("a", "b", "c")
        .select(adc(array(col("a"), col("b"), col("c")), lut4)).head
    }
    assert(e.getMessage.contains("different codebook m"), e.getMessage)
    val nullSlot = Seq(1).toDF("a")
      .select(adc(array(col("a"), lit(null).cast("int")), lut4).as("s"))
      .head
    assert(nullSlot.isNullAt(0), "null code slot must null the ADC score")
  }

  test("residual encoding (IVFADC): recon_norm equals the exact " +
      "reconstructed norm; probe scores equal the driver reference; " +
      "residual reconstruction beats raw at equal (m, k); persistence " +
      "rides the maintenance layer") {
    val nCells = 8
    val dim = 64
    val built = Similarity.ivfBuild(corpus, nCells = nCells)
    val cbRes = Pq.trainedResidualCodebooks(built.assigned, "embedding",
      built, dim, m = 8, k = 16)
    val encIdx = Pq.ivfPqEncodeResidual(built, cbRes, "vec_id")

    // driver-side centroid map (cells are ints, cents doubles)
    val cents: Map[Int, IndexedSeq[Double]] = built.centroids
      .select(col("cell").cast("int"), col("cent")).collect()
      .map(r => r.getInt(0) ->
        r.getSeq[Number](1).map(_.doubleValue).toIndexedSeq).toMap

    // 1. recon_norm ≡ ‖cent + decode(codes)‖ via the SAME constant
    // folds (cnorm2 + 2·centdot-fold + normSq-fold, then sqrt) —
    // bit-identical, not tolerance-level
    val rows = encIdx.assigned
      .select(col("vec_id"), col("cell").cast("int").as("cell"),
        col("codes"), col("recon_norm")).collect()
    assert(rows.length == corpus.count())
    rows.foreach { r =>
      val cent = cents(r.getInt(1))
      val codes = r.getSeq[Int](2)
      val cnorm2 = cent.foldLeft(0.0)((a, x) => a + x * x)
      val centdot = codes.zipWithIndex.foldLeft(0.0) { case (a, (c, s)) =>
        var acc = 0.0
        var j = 0
        while (j < cbRes.subDim) {
          acc += cent(s * cbRes.subDim + j) * cbRes.cents(s)(c)(j); j += 1
        }
        a + acc
      }
      val nsq = codes.zipWithIndex.foldLeft(0.0) { case (a, (c, s)) =>
        a + cbRes.normSq(s)(c) }
      val expect = math.sqrt(cnorm2 + 2.0 * centdot + nsq)
      assert(r.getDouble(3) == expect,
        s"recon_norm mismatch at vec ${r.get(0)}: ${r.getDouble(3)} vs $expect")
    }

    // 2. probe scores ≡ driver reference: with nProbe = nCells every
    // vector is scored; cos_pq must equal
    // round((q·cent + Σ lutR(code)) / (recon · ‖q‖), 6)
    val q = queryVec(0L)
    val qn = math.sqrt(q.foldLeft(0.0)((a, x) => a + x * x))
    val lutR = Pq.adcLut(q, cbRes)
    val got = Pq.ivfPqProbeResidual(encIdx, cbRes,
      corpus.filter(col("vec_id") === 0).select("embedding"), "vec_id",
      nProbe = nCells, k = 10).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val byId = rows.map(r => r.getAs[Number](0).longValue() ->
      ((r.getInt(1), r.getSeq[Int](2), r.getDouble(3)))).toMap
    got.foreach { case (id, cosPq) =>
      val (cell, codes, recon) = byId(id)
      val cent = cents(cell)
      var qc = 0.0
      var i = 0
      while (i < dim) { qc += q(i) * cent(i); i += 1 }
      val adc = codes.zipWithIndex.foldLeft(0.0) { case (a, (c, s)) =>
        a + lutR(s)(c) }
      val expect = BigDecimal(
        (qc + adc) / (recon * qn)).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(cosPq - expect) < 1e-9,
        s"cos_pq mismatch at $id: $cosPq vs $expect")
    }

    // 3. the point of residuals: lower reconstruction error than raw
    // PQ at the same (m, k) budget — decode both driver-side
    val cbRaw = Pq.trainedCodebooks(corpus, "embedding", dim, m = 8, k = 16)
    val rawCodes = Pq.pqEncode(built.assigned, "embedding", cbRaw)
      .select(col("vec_id"), col("codes")).collect()
      .map(r => r.getAs[Number](0).longValue() -> r.getSeq[Int](1)).toMap
    val embMap = corpus
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("e"))
      .collect()
      .map(r => r.getAs[Number](0).longValue() -> r.getSeq[Double](1)).toMap
    def err(id: Long, xhat: Int => Double): Double = {
      val x = embMap(id)
      (0 until dim).foldLeft(0.0) { (a, i) =>
        val d = x(i) - xhat(i); a + d * d }
    }
    val (resErr, rawErr) = byId.foldLeft((0.0, 0.0)) {
      case ((re, ra), (id, (cell, codes, _))) =>
        val cent = cents(cell)
        val resHat = (i: Int) =>
          cent(i) + cbRes.cents(i / cbRes.subDim)(codes(i / cbRes.subDim))(i % cbRes.subDim)
        val rc = rawCodes(id)
        val rawHat = (i: Int) =>
          cbRaw.cents(i / cbRaw.subDim)(rc(i / cbRaw.subDim))(i % cbRaw.subDim)
        (re + err(id, resHat), ra + err(id, rawHat))
    }
    assert(resErr < rawErr,
      f"residual reconstruction must beat raw: $resErr%.2f vs $rawErr%.2f")

    // 4. persistence: the residual index rides ivfSave/ivfLoad; probe
    // over the reopened index ≡ in-memory
    val dir = java.nio.file.Files.createTempDirectory("pq-res").toString
    Similarity.ivfSave(encIdx, "pq_res_t", dir, nCells)
    try {
      val loaded = Similarity.ivfLoad(spark, "pq_res_t", dir)
      val qdf = corpus.filter(col("vec_id") === 0).select("embedding")
      assert(Pq.ivfPqProbeResidual(loaded, cbRes, qdf, "vec_id")
        .collect().toSeq ==
        Pq.ivfPqProbeResidual(encIdx, cbRes, qdf, "vec_id")
          .collect().toSeq)
    } finally spark.sql("DROP TABLE IF EXISTS pq_res_t")
  }

  test("PQ index delete/compact lifecycle: tombstones hide vectors from " +
      "ADC probes immediately, compact folds them physically, pruning " +
      "survives — the raw-index machinery really is column-agnostic") {
    val dir = java.nio.file.Files.createTempDirectory("pq-del").toString
    val nCells = 8
    val cb = Pq.trainedCodebooks(corpus, "embedding", dim = 64, m = 8, k = 16)
    val built = Similarity.ivfBuild(corpus, nCells = nCells)
    Similarity.ivfSave(Pq.ivfPqEncode(built, cb, "vec_id"),
      "pq_del_t", dir, nCells)
    try {
      val q = corpus.filter(col("vec_id") === 1).select("embedding")
      import spark.implicits._
      // vector 1 is its own exact nearest neighbor pre-delete (rerank
      // against the full-precision corpus, the two-stage read)
      val before = Pq.ivfPqProbe(Similarity.ivfLoad(spark, "pq_del_t", dir),
        cb, q, "vec_id", k = 1, rerankWith = Some(corpus)).collect()
      assert(before.head.getAs[Number]("vec_id").longValue() == 1L)
      // tombstone it (plus an id that was never indexed — must be
      // skipped, not staged)
      val n = Similarity.ivfDelete(Seq(1L, 999999L).toDF("vec_id"),
        "vec_id", "pq_del_t", dir)
      assert(n == 1, s"expected exactly the indexed id tombstoned, got $n")
      val afterDel = Pq.ivfPqProbe(Similarity.ivfLoad(spark, "pq_del_t", dir),
        cb, q, "vec_id", k = 1, rerankWith = Some(corpus)).collect()
      assert(afterDel.head.getAs[Number]("vec_id").longValue() != 1L,
        "tombstoned vector still probeable")
      // compact folds the tombstone into the files and clears it;
      // bucket metadata (and with it the probe's pushed cell pruning)
      // must survive the bucketed-aware rewrite of the CODES table
      Similarity.ivfCompact(spark, "pq_del_t", dir, nCells)
      spark.catalog.refreshTable("pq_del_t")
      val reloaded = Similarity.ivfLoad(spark, "pq_del_t", dir)
      assert(reloaded.assigned.count() == corpus.count() - 1)
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
      assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/deletes")),
        "compact must clear folded tombstones")
      val plan = Pq.ivfPqProbe(reloaded, cb, q, "vec_id")
        .queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      assert(raw"In\(cell,".r.findFirstIn(
        plan.linesIterator.filter(_.contains("PushedFilters")).mkString)
        .isDefined, "cell pruning lost after compacting the PQ index")
    } finally {
      spark.sql("DROP TABLE IF EXISTS pq_del_t")
      ()
    }
  }

  test("ivfPqRetrain (plain): raw-access re-fit — codes byte-identical, " +
      "cells follow the argmin rule, codebooks published alongside, " +
      "exhaustive ADC probe == the flat scorer; guards fail loudly") {
    val dir = java.nio.file.Files.createTempDirectory("pq-retrain").toString
    val half = corpus.filter(col("vec_id") % 2 === 0)
    val rest = corpus.filter(col("vec_id") % 2 =!= 0)
    val cb = Pq.trainedCodebooks(corpus, "embedding", dim = 64, m = 8, k = 16)
    Pq.ivfPqSave(Pq.ivfPqEncode(Similarity.ivfBuild(half, nCells = 4),
      cb, "vec_id"), cb, "pq_rt_t", dir, 4)
    try {
      assert(Pq.pqCodebooksOf(spark, dir) == cb, "save publishes the key")
      val loaded = Similarity.ivfLoad(spark, "pq_rt_t", dir)
      Similarity.ivfAppendSave(
        Pq.pqEncode(Similarity.ivfAssign(loaded, rest, "vec_id"),
          "embedding", cb)
          .select(col("vec_id"), col("cell"), col("codes"),
            col("recon_norm")),
        "pq_rt_t", dir, 4)
      import spark.implicits._
      assert(Similarity.ivfDelete(Seq(4L).toDF("vec_id"), "vec_id",
        "pq_rt_t", dir) == 1L)
      val before = spark.read.parquet(s"$dir/assigned")
        .select(col("vec_id").cast("long"), col("codes"), col("recon_norm"))
        .collect().map(r => r.getLong(0) ->
          ((r.getSeq[Int](1), r.getDouble(2)))).toMap

      // a raw retrain on the compressed layout refuses, pointing here
      val eRaw = intercept[IllegalArgumentException](
        Similarity.ivfRetrain(spark, "pq_rt_t", dir, nCells = 8))
      assert(eRaw.getMessage.contains("ivfPqRetrain"), eRaw.getMessage)
      // a raw frame missing live ids refuses instead of dropping them
      val eCov = intercept[IllegalArgumentException](
        Pq.ivfPqRetrain(spark, "pq_rt_t", dir, nCells = 8,
          raw = corpus.filter(col("vec_id") < 100), idCol = "vec_id",
          cb = cb))
      assert(eCov.getMessage.contains("missing"), eCov.getMessage)

      val baselineBefore = Pq.pqUsageBaselineOf(spark, dir).get
      val (re, cbRe) = Pq.ivfPqRetrain(spark, "pq_rt_t", dir, nCells = 8,
        raw = corpus, idCol = "vec_id", cb = cb)
      assert(cbRe == cb, "plain retrain without refit keeps the codebooks")
      assert(Pq.pqCodebooksOf(spark, dir) == cb,
        "the staged swap must (re)publish the codebooks alongside")
      // the plain form carries codes byte-identical — the usage
      // baseline must be CARRIED too, not re-recorded from possibly
      // drifted codes (review r15: a refresh here would blind
      // pqUsageDegraded to any drift the carried codes already hold)
      assert(Pq.pqUsageBaselineOf(spark, dir).get == baselineBefore,
        "plain carry-through must not re-record the baseline")
      assert(re.centroids.count() == 8L)
      val after = spark.read.parquet(s"$dir/assigned")
      assert(!after.columns.contains("embedding"),
        "the fit-only raw view must not leak into the layout")
      after.select(col("vec_id").cast("long"), col("codes"),
          col("recon_norm")).collect().foreach { r =>
        assert(before(r.getLong(0)) == ((r.getSeq[Int](1), r.getDouble(2))),
          s"payload changed across plain retrain for id ${r.getLong(0)}")
      }
      // the new cells are the RAW argmin assignment (exact fit — the
      // advantage raw access buys over the SQ reconstruction fit)
      val reloaded = Similarity.ivfLoad(spark, "pq_rt_t", dir)
      val expect = Similarity.ivfAssign(reloaded,
        corpus.filter(col("vec_id") =!= 4), "vec_id")
        .select(col("vec_id").cast("long"), col("cell").cast("int"))
      val got = reloaded.assigned
        .select(col("vec_id").cast("long"), col("cell").cast("int"))
      assert(got.except(expect).isEmpty && expect.except(got).isEmpty,
        "retrained cells must be the raw argmin assignment")
      // exhaustive ADC probe over the retrained index == flat pqTopK
      val qdf = corpus.filter(col("vec_id") === 0)
      val exhaustive = Pq.ivfPqProbe(reloaded, cb, qdf, "vec_id",
        nProbe = 8, k = 10).collect().toSeq
      val flat = Pq.pqTopK(
        Pq.pqEncode(corpus.filter(col("vec_id") =!= 4), "embedding", cb),
        cb, queryVec(0L), "vec_id", k = 10).collect().toSeq
      assert(exhaustive == flat, "exhaustive probe must equal the flat scorer")

      // the converse guard: ivfPqRetrain on a RAW layout refuses
      val rawDir = java.nio.file.Files.createTempDirectory("pq-rt-raw").toString
      Similarity.ivfSave(Similarity.ivfBuild(half, nCells = 4),
        "pq_rt_raw_t", rawDir, 4)
      try {
        val ePq = intercept[IllegalArgumentException](
          Pq.ivfPqRetrain(spark, "pq_rt_raw_t", rawDir, nCells = 8,
            raw = corpus, idCol = "vec_id", cb = cb))
        assert(ePq.getMessage.contains("ivfRetrain"), ePq.getMessage)
      } finally spark.sql("DROP TABLE IF EXISTS pq_rt_raw_t")
    } finally spark.sql("DROP TABLE IF EXISTS pq_rt_t")
  }

  test("ivfPqRetrain (residual + refit): codes re-encoded against the " +
      "new cells with codebooks re-trained on the new residuals; codes " +
      "and codebooks swap TOGETHER (crash window pinned); covering " +
      "rerank == brute force") {
    val dir = java.nio.file.Files.createTempDirectory("pqr-retrain").toString
    val built = Similarity.ivfBuild(corpus, nCells = 4)
    val cb0 = Pq.trainedResidualCodebooks(built.assigned, "embedding",
      built, dim = 64, m = 8, k = 16)
    Pq.ivfPqSave(Pq.ivfPqEncodeResidual(built, cb0, "vec_id"), cb0,
      "pqr_rt_t", dir, 4)
    try {
      import spark.implicits._
      val oldCent = spark.read.parquet(s"$dir/centroids")
        .as[(Int, Seq[Double])].collect().toSeq

      val (re, cbNew) = Pq.ivfPqRetrain(spark, "pqr_rt_t", dir,
        nCells = 8, raw = corpus, idCol = "vec_id", cb = cb0,
        residual = true, refitCodebooks = Some(true))
      assert(re.centroids.count() == 8L)
      assert(cbNew != cb0,
        "refit on the new residuals must actually change the codebooks")
      assert(Pq.pqCodebooksOf(spark, dir) == cbNew,
        "published codebooks must be the ones the codes were encoded with")
      // codes == the batch residual re-derivation against the new state
      val reloaded = Similarity.ivfLoad(spark, "pqr_rt_t", dir)
      val expect = Pq.pqEncodeResidual(
          Similarity.ivfAssign(reloaded, corpus, "vec_id"), "embedding",
          cbNew, reloaded)
        .select(col("vec_id").cast("long"), col("cell").cast("int"),
          col("codes"), col("recon_norm"))
      val got = reloaded.assigned
        .select(col("vec_id").cast("long"), col("cell").cast("int"),
          col("codes"), col("recon_norm"))
      assert(got.except(expect).isEmpty && expect.except(got).isEmpty,
        "retrained residual codes diverged from the batch re-derivation")
      // covering rerank over the retrained index reproduces brute force
      val qdf = corpus.filter(col("vec_id") === 0)
      val n = corpus.count().toInt
      assert(Pq.ivfPqProbeResidual(reloaded, cbNew, qdf, "vec_id",
          nProbe = 8, k = 5, rerankWith = Some(corpus), rerankFactor = n)
          .collect().toSeq ==
        Similarity.bruteForceTopK(corpus, qdf, "vec_id", k = 5)
          .collect().toSeq,
        "covering rerank must be exact post-retrain")

      // worst crash window, now WITH paired metadata: new codebooks and
      // centroids staged inside the assigned tree, STALE survivors back
      // at both published locations, catalog entry lost — one load must
      // heal the whole pair (codes are defined against the new cells;
      // healing either half alone would be silent corruption)
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
      def p(s: String) = new org.apache.hadoop.fs.Path(s)
      assert(fs.rename(p(s"$dir/pq_codebooks"),
        p(s"$dir/assigned/_meta_pq_codebooks")))
      Pq.codebooksSave(spark, cb0, s"$dir/pq_codebooks") // stale survivor
      assert(fs.rename(p(s"$dir/centroids"), p(s"$dir/assigned/_centroids")))
      oldCent.toDF("cell", "cent").coalesce(1).write.parquet(s"$dir/centroids")
      spark.sql("DROP TABLE `pqr_rt_t`")

      val healed = Similarity.ivfLoad(spark, "pqr_rt_t", dir)
      assert(healed.centroids.count() == 8L,
        "load must publish the staged (new) centroids over the stale frame")
      assert(Pq.pqCodebooksOf(spark, dir) == cbNew,
        "load must publish the staged (new) codebooks over the stale dir")
      assert(!fs.exists(p(s"$dir/assigned/_meta_pq_codebooks")) &&
        !fs.exists(p(s"$dir/assigned/_centroids")),
        "staged state must be consumed")
      assert(Pq.ivfPqProbeResidual(healed, cbNew, qdf, "vec_id",
          nProbe = 8, k = 5, rerankWith = Some(corpus),
          rerankFactor = n).collect().toSeq ==
        Similarity.bruteForceTopK(corpus, qdf, "vec_id", k = 5)
          .collect().toSeq,
        "healed index must probe exactly under the healed codebooks")
    } finally spark.sql("DROP TABLE IF EXISTS pqr_rt_t")
  }

  test("ivfPqMaybeRetrain: shared trigger, PQ retrain form — growth " +
      "fires and returns the codebooks; freshly sized: None") {
    val dir = java.nio.file.Files.createTempDirectory("pq-mr").toString
    val cb = Pq.trainedCodebooks(corpus, "embedding", dim = 64, m = 8, k = 16)
    Pq.ivfPqSave(
      Pq.ivfPqEncode(Similarity.ivfBuild(corpus, nCells = 2), cb, "vec_id"),
      cb, "pq_mr_t", dir, 2)
    try {
      val live = corpus.count()
      val target = live / 8
      val fired = Pq.ivfPqMaybeRetrain(spark, "pq_mr_t", dir,
        raw = corpus, idCol = "vec_id", cb = cb,
        maxSkew = 1e9, minOccupiedFrac = 0.0, targetRowsPerCell = target)
      assert(fired.contains(cb), "growth must fire and return the key")
      val d = Similarity.ivfDescribe(spark, dir).collect()(0)
      assert(d.getAs[Long]("n_cells") == (live + target - 1) / target)
      assert(Pq.ivfPqMaybeRetrain(spark, "pq_mr_t", dir,
        raw = corpus, idCol = "vec_id", cb = cb,
        maxSkew = 1e9, minOccupiedFrac = 0.0,
        targetRowsPerCell = target).isEmpty, "freshly sized: no re-fire")
    } finally spark.sql("DROP TABLE IF EXISTS pq_mr_t")
  }

  test("pqDescribe + pqUsageCollapsed: planted codebook drift — a " +
      "shifted cluster appended through OLD codebooks collapses usage " +
      "entropy; the armed usage trigger fires a refit and entropy " +
      "recovers (VERDICT r14 #2)") {
    val dir = java.nio.file.Files.createTempDirectory("pq-drift").toString
    val nCells = 4
    val cb = Pq.trainedCodebooks(corpus, "embedding", dim = 64, m = 8, k = 16)
    Pq.ivfPqSave(
      Pq.ivfPqEncode(Similarity.ivfBuild(corpus, nCells = nCells), cb,
        "vec_id"),
      cb, "pq_drift_t", dir, nCells)
    try {
      // post-train baseline: codebooks fitted on exactly this corpus —
      // usage spread out, no single code dominating a subspace
      val base = Pq.pqDescribe(spark, dir, cb).head
      val baseEnt = base.getDouble(base.fieldIndex("min_sub_entropy"))
      assert(base.getAs[Long]("rows_sampled") == corpus.count())
      assert(base.getAs[Int]("m") == 8 && base.getAs[Int]("k") == 16)
      assert(baseEnt > 0.3 && baseEnt <= 1.0,
        s"fresh fit should use its codewords broadly, got $baseEnt")
      // ivfPqSave persisted the baseline, and it matches the live
      // describe exactly (same rows, same codebooks, same roll-up)
      val stored = Pq.pqUsageBaselineOf(spark, dir).get
      assert(stored.getDouble(stored.fieldIndex("min_sub_entropy"))
        == baseEnt, "persisted baseline must equal the fresh describe")
      assert(!Pq.pqUsageDegraded(spark, dir, cb),
        "an index at its own baseline has not degraded")

      // planted drift: the same corpus shifted far outside the trained
      // distribution, appended through the OLD codebooks (exactly what
      // a streaming ingest does after the corpus moves) — every shifted
      // vector snaps to the few extreme codewords
      val shifted = corpus.select(
        (col("vec_id") + 100000L).as("vec_id"),
        transform(col("embedding"), x => x + lit(30.0f)).as("embedding"),
        col("label"))
      val loaded = Similarity.ivfLoad(spark, "pq_drift_t", dir)
      Similarity.ivfAppendSave(
        Pq.pqEncode(Similarity.ivfAssign(loaded, shifted, "vec_id"),
            "embedding", cb)
          .select(col("vec_id"), col("cell"), col("codes"),
            col("recon_norm")),
        "pq_drift_t", dir, nCells)
      spark.catalog.refreshTable("pq_drift_t")

      val drifted = Pq.pqDescribe(spark, dir, cb).head
      val dEnt = drifted.getDouble(drifted.fieldIndex("min_sub_entropy"))
      val dFrac = drifted.getDouble(drifted.fieldIndex("max_code_frac"))
      assert(dEnt < baseEnt,
        s"appended drift must collapse usage entropy: $dEnt vs $baseEnt")
      assert(dFrac >= 0.5,
        s"half the index snapped to one codeword per subspace: $dFrac")

      // threshold between the two states: collapsed fires, baseline
      // would not
      val thr = (baseEnt + dEnt) / 2
      assert(Pq.pqUsageCollapsed(spark, dir, cb, minSubEntropy = thr,
        maxCodeFrac = 1.0))
      // the baseline-relative hook fires too — no absolute threshold
      // needed, just "fell materially below its own healthy state"
      assert(Pq.pqUsageDegraded(spark, dir, cb,
        maxEntropyDrop = (baseEnt - dEnt) / 2, maxFracRise = 1.0))

      // quantization error against the raw corpus: the drifted half is
      // priced by codebooks that never saw it
      val rawAll = corpus.select("vec_id", "embedding")
        .unionByName(shifted.select("vec_id", "embedding"))
      val errBefore = Pq.pqReconError(spark, dir, rawAll, "vec_id", cb)
        .head.getDouble(1)
      assert(errBefore > 0.0)

      // the armed usage trigger (cell trigger deliberately disarmed)
      // fires the refit form and the histogram recovers
      val fired = Pq.ivfPqMaybeRetrain(spark, "pq_drift_t", dir,
        raw = rawAll, idCol = "vec_id", cb = cb,
        maxSkew = 1e9, minOccupiedFrac = 0.0, targetRowsPerCell = 0L,
        minSubEntropy = thr)
      assert(fired.nonEmpty, "usage collapse must fire the retrain")
      val cbNew = fired.get
      assert(cbNew != cb, "the usage fire must REFIT the codebooks")
      assert(Pq.pqCodebooksOf(spark, dir) == cbNew)
      val after = Pq.pqDescribe(spark, dir, cbNew).head
      val aEnt = after.getDouble(after.fieldIndex("min_sub_entropy"))
      assert(aEnt > dEnt,
        s"refit on the full live corpus must recover entropy: $aEnt vs $dEnt")
      assert(!Pq.pqUsageCollapsed(spark, dir, cbNew, minSubEntropy = thr,
        maxCodeFrac = 1.0), "recovered index must not re-fire")
      // the retrain swap REFRESHED the persisted baseline from the
      // staged codes: the recovered state is the new "healthy", so the
      // baseline-relative hook stops firing without any caller action
      val baseNew = Pq.pqUsageBaselineOf(spark, dir).get
      assert(baseNew.getDouble(baseNew.fieldIndex("min_sub_entropy"))
        == aEnt, "swapped-in baseline must describe the swapped-in codes")
      assert(!Pq.pqUsageDegraded(spark, dir, cbNew,
        maxEntropyDrop = (baseEnt - dEnt) / 2, maxFracRise = 1.0),
        "recovered index sits at its refreshed baseline")
      val errAfter = Pq.pqReconError(spark, dir, rawAll, "vec_id", cbNew)
        .head.getDouble(1)
      assert(errAfter < errBefore,
        s"refit must cut quantization error: $errAfter vs $errBefore")
      // the index stays probeable end to end after the usage-fired swap
      val q = corpus.filter(col("vec_id") === 1).select("embedding")
      val reloaded = Similarity.ivfLoad(spark, "pq_drift_t", dir)
      assert(Pq.ivfPqProbe(reloaded, cbNew, q, "vec_id",
        nProbe = nCells, k = 5).count() == 5L)
    } finally spark.sql("DROP TABLE IF EXISTS pq_drift_t")
  }

  test("pqReconErrorOf (residual form): the centroid term is load-" +
      "bearing — residual decode prices the error small, decoding the " +
      "same codes as plain PQ (dropping the centroid) blows it up; the " +
      "estimate matches a driver-side reference to fp tolerance") {
    val built = Similarity.ivfBuild(corpus, nCells = 8)
    val cbRes = Pq.trainedResidualCodebooks(built.assigned, "embedding",
      built, dim = 64, m = 8, k = 16)
    val encIdx = Pq.ivfPqEncodeResidual(built, cbRes, "vec_id")
    val raw = corpus.select("vec_id", "embedding")
    val res = Pq.pqReconErrorOf(encIdx.assigned, raw, "vec_id", cbRes,
      centroids = Some(built.centroids))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(res.size == corpus.count())
    // the plain form works on a bare pqEncode frame — NO cell column
    // (review r15: `cell` is a residual-branch need only)
    val cbPlain = Pq.trainedCodebooks(corpus, "embedding", dim = 64,
      m = 8, k = 16)
    val plainRes = Pq.pqReconErrorOf(
      Pq.pqEncode(corpus, "embedding", cbPlain), raw, "vec_id", cbPlain)
    assert(plainRes.count() == corpus.count())
    res.values.foreach(e => assert(e >= 0.0 && !e.isNaN))
    // the same codes decoded WITHOUT the centroid term: the residual is
    // near zero-mean, so ‖x − decode_residual_codes‖ ≈ ‖x‖ — the
    // mean error must be decisively larger than the residual form's
    val plain = Pq.pqReconErrorOf(encIdx.assigned, raw, "vec_id", cbRes)
      .agg(avg(col("rel_err"))).head.getDouble(0)
    val resMean = res.values.sum / res.size
    assert(resMean < plain,
      s"residual decode must beat centroid-less decode: $resMean vs $plain")
    // spot-check one row against a driver-side fold
    val cents: Map[Int, IndexedSeq[Double]] = built.centroids
      .select(col("cell").cast("int"), col("cent")).collect()
      .map(r => r.getInt(0) ->
        r.getSeq[Number](1).map(_.doubleValue).toIndexedSeq).toMap
    val row = encIdx.assigned
      .filter(col("vec_id") === 3)
      .select(col("cell").cast("int"), col("codes")).head
    val x = queryVec(3L)
    val cent = cents(row.getInt(0))
    val dec = row.getSeq[Int](1).zipWithIndex.flatMap { case (c, s) =>
      cbRes.cents(s)(c).zipWithIndex.map { case (w, j) =>
        w + cent(s * cbRes.subDim + j) }
    }
    val err = math.sqrt(x.zip(dec).map { case (a, b) =>
      (a - b) * (a - b) }.sum)
    val nrm = math.sqrt(x.map(v => v * v).sum)
    assert(math.abs(res(3L) - err / nrm) < 1e-9,
      s"estimator ${res(3L)} != reference ${err / nrm}")
  }

  test("pqDescribe guards: SQ layout refused on the codes-width tell; " +
      "empty index is an honest zero row and never fires the trigger") {
    import graft.ext.Sq
    val cb = Pq.trainedCodebooks(corpus, "embedding", dim = 64, m = 8, k = 16)
    // dim-wide SQ codes under PQ monitoring: refuse, don't "observe"
    val sqDir = java.nio.file.Files.createTempDirectory("pq-d-sq").toString
    val p = Sq.sqTrain(corpus)
    Sq.ivfSqSave(Sq.ivfSqEncode(Similarity.ivfBuild(corpus, nCells = 4),
      p, "vec_id"), p, "pq_d_sq_t", sqDir, 4)
    try {
      val e = intercept[IllegalArgumentException](
        Pq.pqDescribe(spark, sqDir, cb))
      assert(e.getMessage.contains("-wide"), e.getMessage)
    } finally spark.sql("DROP TABLE IF EXISTS pq_d_sq_t")
    // fully-tombstoned index: the liveRows fold empties the usage scan —
    // zero row, null rates, trigger false (the retrainTrigger no-op rule)
    val emptyDir = java.nio.file.Files.createTempDirectory("pq-d-e").toString
    Pq.ivfPqSave(
      Pq.ivfPqEncode(Similarity.ivfBuild(corpus, nCells = 4), cb, "vec_id"),
      cb, "pq_d_e_t", emptyDir, 4)
    try {
      Similarity.ivfDelete(corpus.select("vec_id"), "vec_id",
        "pq_d_e_t", emptyDir)
      val d = Pq.pqDescribe(spark, emptyDir, cb).head
      assert(d.getAs[Long]("rows_sampled") == 0L)
      assert(d.isNullAt(d.fieldIndex("min_sub_entropy")))
      assert(!Pq.pqUsageCollapsed(spark, emptyDir, cb,
        minSubEntropy = 0.99))
      // a baseline recorded on an EMPTY index (streaming bootstrap) can
      // never witness drift — the relative hook must refuse loudly, not
      // silently disable itself forever (review r15)
      Pq.pqDescribeOf(spark.read.parquet(s"$emptyDir/assigned").limit(0),
          cb)
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$emptyDir/pq_usage_baseline")
      val eNull = intercept[IllegalArgumentException](
        Pq.pqUsageDegraded(spark, emptyDir, cb))
      assert(eNull.getMessage.contains("empty"), eNull.getMessage)
    } finally spark.sql("DROP TABLE IF EXISTS pq_d_e_t")
  }

  test("PqDecodeF: the codegen gather is BIT-identical to the broadcast " +
      "codebook-join decode over the whole corpus; contracts — wrong-m " +
      "codes throw, out-of-range code throws, null code slot nulls") {
    val cb = Pq.trainedCodebooks(corpus, "embedding", dim = 64, m = 8, k = 16)
    def dec(codes: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      org.apache.spark.sql.GraftBridge.column(
        graft.functions.PqDecodeF(
          org.apache.spark.sql.GraftBridge.expression(codes), cb.cents))
    val enc = Pq.pqEncode(corpus, "embedding", cb)
    val fused = enc.select(col("vec_id"), dec(col("codes")).as("_dec"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val joined = Pq.pqDecodeViaJoin(enc, "vec_id", cb)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(fused.keySet == joined.keySet)
    assert(fused.nonEmpty)
    fused.foreach { case (id, v) =>
      // exact ==, not a tolerance: both paths GATHER the same codeword
      // doubles in the same subspace order — no arithmetic to regroup
      assert(v == joined(id), s"decode mismatch at vec_id=$id")
      assert(v.length == 64)
    }
    import spark.implicits._
    // wrong m: a 3-code row against m=8 codebooks is a foreign encode
    val eW = intercept[Exception] {
      Seq((0, 1, 2)).toDF("a", "b", "c")
        .select(dec(array(col("a"), col("b"), col("c")))).head
    }
    assert(eW.getMessage.contains("different codebook m"), eW.getMessage)
    // out-of-range code: k=16, code 16 must throw, not gather garbage
    val eR = intercept[Exception] {
      Seq(16).toDF("a")
        .select(dec(array(Seq(col("a")) ++
          Seq.fill(7)(lit(0)): _*))).head
    }
    assert(eR.getMessage.contains("outside"), eR.getMessage)
    // null slot → null result (not a zero-filled slice)
    val nr = Seq(1).toDF("a")
      .select(dec(array(Seq(lit(null).cast("int")) ++
        Seq.fill(7)(col("a")): _*)).as("d")).head
    assert(nr.isNullAt(0), "null code slot must null the decode")
  }

  test("pqReconError (fused decode): zero-norm raw vector yields a null " +
      "rel_err, excluded from n/mean/max and counted in n_zero_norm — " +
      "never a NaN poisoning the summary") {
    val cb = Pq.trainedCodebooks(corpus, "embedding", dim = 64, m = 4, k = 8)
    val small = corpus.filter(col("vec_id") < 20)
      .select("vec_id", "embedding")
    val zeroRow = spark.range(1).select(lit(-1L).as("vec_id"),
      array_repeat(lit(0.0f), 64).as("embedding"))
    val raw = small.unionByName(zeroRow)
    val dir = java.nio.file.Files.createTempDirectory("pq-zn").toString
    Pq.ivfPqSave(
      Pq.ivfPqEncode(Similarity.ivfBuild(raw, nCells = 2), cb, "vec_id"),
      cb, "pq_zn_t", dir, 2)
    try {
      val perRow = Pq.pqReconErrorOf(
        spark.read.parquet(s"$dir/assigned"), raw, "vec_id", cb)
        .collect().map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
      assert(perRow(-1L).isEmpty, "zero-norm row must carry null rel_err")
      assert(perRow.filter(_._1 >= 0).values.forall(v =>
        v.exists(d => !d.isNaN && d >= 0.0)), "non-degenerate rows intact")
      val s = Pq.pqReconError(spark, dir, raw, "vec_id", cb).head
      assert(s.getLong(s.fieldIndex("n")) == 20L,
        "n counts only rows with a defined rel_err")
      assert(s.getLong(s.fieldIndex("n_zero_norm")) == 1L)
      assert(s.getLong(s.fieldIndex("n_undecodable")) == 0L,
        "a healthy index decodes every sampled row")
      assert(!s.getDouble(s.fieldIndex("mean_rel_err")).isNaN)
      assert(!s.getDouble(s.fieldIndex("max_rel_err")).isNaN)

      // null-cause ATTRIBUTION (review r16): a null DECODE (null code
      // slot in the index) and a null raw embedding are index/join
      // defects, not zero-norm raw vectors — n_undecodable, never
      // n_zero_norm, or the operator hunts the wrong corpus
      val doctored =
        java.nio.file.Files.createTempDirectory("pq-ud").toString
      spark.read.parquet(s"$dir/assigned")
        .withColumn("codes", when(col("vec_id") === 1,
            concat(array(lit(null).cast("int")),
              slice(col("codes"), 2, 3)))
          .otherwise(col("codes")))
        .write.parquet(s"$doctored/assigned")
      val raw2 = raw.withColumn("embedding",
        when(col("vec_id") === 3, lit(null).cast("array<float>"))
          .otherwise(col("embedding")))
      val s2 = Pq.pqReconError(spark, doctored, raw2, "vec_id", cb).head
      assert(s2.getLong(s2.fieldIndex("n")) == 18L, s"$s2")
      assert(s2.getLong(s2.fieldIndex("n_zero_norm")) == 1L,
        "the zero-norm row stays attributed to the raw corpus")
      assert(s2.getLong(s2.fieldIndex("n_undecodable")) == 2L,
        "null code slot + null raw embedding are undecodable, " +
          "not zero-norm")
    } finally spark.sql("DROP TABLE IF EXISTS pq_zn_t")
  }

  test("pqUsageDegraded guards (r16): a baseline recorded under other " +
      "codebook dims refuses loudly; an empty SAMPLE on a non-empty " +
      "index disambiguates via a full re-describe instead of silently " +
      "reporting healthy") {
    val cb = Pq.trainedCodebooks(corpus, "embedding", dim = 64, m = 8, k = 16)
    // collapsed index: every row encodes a CONSTANT vector → all codes
    // identical → per-subspace entropy 0 (maximal drift)
    val flat = corpus.select(col("vec_id"),
      array_repeat(lit(1.0f), 64).as("embedding"))
    val dir = java.nio.file.Files.createTempDirectory("pq-ud").toString
    // real-corpus cells, FLAT embeddings under the codes: valid layout,
    // maximal codebook-usage collapse
    val built = Similarity.ivfBuild(corpus, nCells = 2)
    val flatAssigned = built.assigned.drop("embedding").join(flat, "vec_id")
    Pq.ivfPqSave(
      Pq.ivfPqEncode(Similarity.IvfIndex(flatAssigned, built.centroids),
        cb, "vec_id"), cb, "pq_ud_t", dir, 2)
    try {
      // overwrite the (collapsed) post-encode baseline with a HEALTHY
      // one from the real corpus — the planted-drift device
      Pq.pqDescribeOf(Pq.pqEncode(corpus, "embedding", cb), cb)
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$dir/pq_usage_baseline")
      // stale-codebook generation: same m, different k — the codes
      // give no tell, only the baseline's recorded dims can
      val cbWide = Pq.PqCodebooks(cb.dim, cb.m,
        cb.cents.map(cws => cws ++ cws)) // k doubled
      val eGen = intercept[IllegalArgumentException](
        Pq.pqUsageDegraded(spark, dir, cbWide))
      assert(eGen.getMessage.contains("generation"), eGen.getMessage)
      // full-fraction scan witnesses the planted collapse
      assert(Pq.pqUsageDegraded(spark, dir, cb, maxEntropyDrop = 0.2))
      // a vanishing sample returns no rows — the hook must NOT read
      // that as "index empty, healthy": the full re-describe still
      // witnesses the drift (ADVICE r15)
      assert(Pq.pqUsageDegraded(spark, dir, cb, maxEntropyDrop = 0.2,
        sampleFraction = 1e-9),
        "empty sample on a non-empty index must not blind the hook")
    } finally spark.sql("DROP TABLE IF EXISTS pq_ud_t")
  }
}
