package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ext.{Dedup, Similarity, TextAnalysis}

class DedupSimilaritySpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog again and again today"
  private def docs = Seq(
    (1L, base),
    (2L, base.replace("today", "tomorrow")), // near-dup of 1
    (3L, "completely different text about spark query engines and shuffles here now"),
    (4L, base) // exact dup of 1
  ).toDF("doc_id", "text")

  test("minhash+LSH pipeline surfaces near- and exact-duplicates, not unrelated docs") {
    val sh = Dedup.hashedShingleTable(docs, "doc_id", "text")
    val sigs = Dedup.minhashSignatures(sh, "doc_id", 16)
    val cands = Dedup.lshCandidates(sigs, "doc_id")
    val verified = Dedup.jaccardVerify(cands, sh, "doc_id")
      .filter(col("jaccard") >= 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(verified.contains((1L, 4L)), "exact dup missed")
    assert(verified.contains((1L, 2L)), "near dup missed")
    assert(!verified.exists(p => p._1 == 3L || p._2 == 3L), "false positive")
  }

  test("LSH band-bucket cap bounds candidates on a boilerplate-heavy corpus") {
    // 40 identical docs: every band hashes to ONE bucket of size 40, so the
    // uncapped self-join is quadratic — 40·39/2 pairs from a single bucket
    val boiler = (1L to 40L).map(i => (i, base)).toDF("doc_id", "text")
    val sigs = Dedup.minhashSignatures(
      Dedup.hashedShingleTable(boiler, "doc_id", "text"), "doc_id", 16)
    val uncapped = Dedup.lshCandidates(sigs, "doc_id", maxBucket = 1000).count()
    assert(uncapped == 40L * 39 / 2)
    // cap 10 < bucket size 40 → the mega-bucket is dropped entirely and
    // candidate count collapses to zero (bounded work, standard LSH guard)
    val capped = Dedup.lshCandidates(sigs, "doc_id", maxBucket = 10).count()
    assert(capped == 0, s"mega-bucket must be dropped, got $capped pairs")
    // the cap must NOT harm discriminative buckets: small dup-groups in the
    // 4-doc corpus still surface under the same tight cap
    val sigs2 = Dedup.minhashSignatures(
      Dedup.hashedShingleTable(docs, "doc_id", "text"), "doc_id", 16)
    val small = Dedup.lshCandidates(sigs2, "doc_id", maxBucket = 10)
      .as[(Long, Long)].collect().toSet
    assert(small.contains((1L, 4L)), "small-bucket pair lost to the cap")
    // the alternative groupBy-count guard (kept for re-measurement at
    // larger skews, raced by `SkewBench lsh` — SCALING.md round 10) must
    // stay output-identical on both the mega-bucket and the
    // discriminative corpus under the same caps
    Seq((sigs, 1000), (sigs, 10), (sigs2, 10)).foreach { case (sg, cap) =>
      val win = Dedup.lshCandidates(sg, "doc_id", maxBucket = cap)
        .as[(Long, Long)].collect().toSet
      val grp = Dedup.lshCandidatesGroupByGuard(sg, "doc_id", maxBucket = cap)
        .as[(Long, Long)].collect().toSet
      assert(win == grp, s"guard forms diverge at cap=$cap")
    }
  }

  test("connectedKeepers clusters chains transitively and picks the min id") {
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("id_a", "id_b")
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 9L -> 7L)
    // default: small integral edge set → single-task union-find path
    val fast = Dedup.connectedKeepers(pairs).as[(Long, Long)].collect().toMap
    assert(fast == expected)
    // forced large-graph path (threshold 0): distributed label propagation
    // must produce the identical component map
    val loop = Dedup.connectedKeepers(pairs, smallGraphEdges = 0L,
        smallGraphNodes = 0L)
      .as[(Long, Long)].collect().toMap
    assert(loop == expected)
  }

  test("connectedKeepers falls back to the distributed loop for non-integral ids") {
    val pairs = Seq(("a", "b"), ("b", "c"), ("x", "z")).toDF("id_a", "id_b")
    val got = Dedup.connectedKeepers(pairs)
      .as[(String, String)].collect().toMap
    assert(got == Map("a" -> "a", "b" -> "a", "c" -> "a",
      "x" -> "x", "z" -> "x"))
  }

  test("property: union-find path equals the distributed loop on random graphs") {
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 3) {
      val n = 30 + rnd.nextInt(20)
      val edges = (1 to 45)
        .map { _ =>
          val a = rnd.nextInt(n).toLong; val b = rnd.nextInt(n).toLong
          (math.min(a, b), math.max(a, b))
        }
        .filter(p => p._1 != p._2).distinct
      val df = edges.toDF("id_a", "id_b")
      val fast = Dedup.connectedKeepers(df).as[(Long, Long)].collect().toMap
      val loop = Dedup.connectedKeepers(df, smallGraphEdges = 0L,
        smallGraphNodes = 0L)
        .as[(Long, Long)].collect().toMap
      assert(fast == loop, s"trial $trial: paths disagree")
    }
  }

  test("connectedKeepers node-count dispatch (round 15): a dense graph " +
      "past the edge threshold but under the node threshold takes the " +
      "single-task union-find; all three dispatches agree") {
    // near-complete graph: 40 nodes, ~780 edges — "dense few-node", the
    // x50 sf1 shape in miniature (7.8M edges over 20k nodes)
    val edges = (for (a <- 0L until 40L; b <- (a + 1) until 40L)
      yield (a, b)).toDF("id_a", "id_b")
    val expected = (0L until 40L).map(i => i -> 0L).toMap
    // edge threshold forced below the edge count: the OLD dispatch
    // would take the distributed loop; the node dispatch reclaims it
    val nodePath = Dedup.connectedKeepers(edges, smallGraphEdges = 10L)
      .as[(Long, Long)].collect().toMap
    assert(nodePath == expected)
    // both forced alternatives produce the identical map
    val edgePath = Dedup.connectedKeepers(edges)
      .as[(Long, Long)].collect().toMap
    val loopPath = Dedup.connectedKeepers(edges, smallGraphEdges = 10L,
      smallGraphNodes = 10L).as[(Long, Long)].collect().toMap
    assert(edgePath == expected && loopPath == expected)
  }

  test("union-find path handles a long chain and adversarial edge order") {
    // chain 1-2-…-30 fed in REVERSE order plus a disjoint 2-cycle: min-root
    // invariant must hold regardless of union order (diameter 29 would need
    // ~5 pointer-jumping rounds; union-find does it in one task)
    val edges = (29L to 1L by -1).map(i => (i, i + 1)) :+ (100L, 101L)
    val got = Dedup.connectedKeepers(edges.toDF("id_a", "id_b"))
      .as[(Long, Long)].collect().toMap
    assert((1L to 30L).forall(got(_) == 1L))
    assert(got(100L) == 100L && got(101L) == 100L)
  }

  test("distributed loop refuses to return unconverged labels: a 64-node " +
      "path throws at maxIter = 2 and converges to keeper 1 by default") {
    val path = (1L to 63L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val e = intercept[IllegalStateException] {
      Dedup.connectedKeepers(path, maxIter = 2, smallGraphEdges = 0L,
        smallGraphNodes = 0L)
    }
    assert(e.getMessage.contains("converge"), e.getMessage)
    val got = Dedup.connectedKeepers(path, smallGraphEdges = 0L,
      smallGraphNodes = 0L).as[(Long, Long)].collect().toMap
    assert(got.size == 64 && got.values.forall(_ == 1L), got.toString)
  }

  test("simhash: identical docs have identical fingerprints; near-dups are close") {
    val fps = Dedup.simhash48(docs, "doc_id", "text")
    val m = fps.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m(1L) == m(4L))
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(m(1L), m(2L)) < hamming(m(1L), m(3L)))
    val pairs = Dedup.simhashPairs(fps, "doc_id", maxDist = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 4L)))
  }

  test("blockedPairs sub-bucketing bounds hot-label quadratic work") {
    val rnd = new scala.util.Random(11)
    // one hot label holding the whole corpus — the adversarial shape where
    // within-label all-pairs goes quadratic at scale
    val hot = ((1L to 60L).map(i =>
        (i, "hot", Array.fill(16)(rnd.nextFloat() * 2 - 1))) :+
        (100L, "hot", Array.fill(16)(0.25f)) :+ // identical pair: must
        (101L, "hot", Array.fill(16)(0.25f)))   // survive sub-bucketing
      .toDF("vec_id", "label", "embedding")
    val exact = Similarity.blockedPairs(hot, "vec_id", "label",
      minCos = -2.0).count()
    assert(exact == 62L * 61 / 2)
    val sub = Similarity.blockedPairs(hot, "vec_id", "label",
      minCos = -2.0, subPlanes = 2, dim = 16)
    val n = sub.count()
    assert(n < exact, s"sub-bucketing did not reduce pair count: $n")
    // identical vectors get identical bucket signs — the pair is retained
    assert(sub.filter(col("id_a") === 100L && col("id_b") === 101L)
      .count() == 1, "identical-vector pair lost to sub-bucketing")
  }

  test("blockedPairsAuto: exact below target, sub-bucketed above; identical pair survives") {
    val rnd = new scala.util.Random(13)
    def vecs(n: Int, label: String, idBase: Long) =
      (1 to n).map(i => (idBase + i, label,
        Array.fill(16)(rnd.nextFloat() * 2 - 1)))
    // "cold" labels at/under the target keep EXACT all-pairs semantics;
    // the "hot" label (10× target) gets sub-bucketed adaptively
    val df = (vecs(8, "cold1", 0L) ++ vecs(10, "cold2", 100L) ++
      (vecs(100, "hot", 1000L) :+
        (2000L, "hot", Array.fill(16)(0.25f)) :+
        (2001L, "hot", Array.fill(16)(0.25f))))
      .toDF("vec_id", "label", "embedding")
    val auto = Similarity.blockedPairsAuto(df, "vec_id", "label",
      minCos = -2.0, targetBucket = 10, dim = 16)
    val exact = Similarity.blockedPairs(df, "vec_id", "label",
      minCos = -2.0, dim = 16)
    // cold labels: byte-identical to the exact path (zero planes)
    Seq("cold1", "cold2").foreach { l =>
      val (ap, ep) = (auto.filter(col("label") === l),
        exact.filter(col("label") === l))
      assert(ap.exceptAll(ep).isEmpty && ep.exceptAll(ap).isEmpty,
        s"label $l must stay exact under the target")
      assert(ep.count() > 0)
    }
    // hot label: strictly fewer candidate pairs than exact (quadratic
    // work bounded), planted identical pair never splits
    val (hotAuto, hotExact) = (auto.filter(col("label") === "hot").count(),
      exact.filter(col("label") === "hot").count())
    assert(hotAuto < hotExact,
      s"hot label not sub-bucketed: $hotAuto vs $hotExact")
    assert(auto.filter(col("id_a") === 2000L && col("id_b") === 2001L)
      .count() == 1, "identical-vector pair lost to adaptive sub-bucketing")
  }

  test("maxPairs output guard (r16): a planted dense cluster refuses at " +
      "the cap BEFORE the join materializes; below the cap the output " +
      "is byte-identical to the disarmed form; the estimate is exact") {
    // 200 IDENTICAL vectors in one label: every candidate scheme keys
    // them together (identical sign bits), so the TRUE pair output is
    // n(n-1)/2 = 19900 — quadratic BY OUTPUT, the x50-sf1 shape
    val dense = (1L to 200L).map(i => (i, "d", Array.fill(16)(0.5f)))
      .toDF("vec_id", "label", "embedding")
    // exact candidate-space pricing, both keyings
    assert(Similarity.estimateBlockedPairs(dense, "label", dim = 16)
      == 19900L)
    assert(Similarity.estimateBlockedPairsAuto(dense, "label",
      targetBucket = 10, dim = 16) == 19900L,
      "identical vectors never split across sub-buckets — the adaptive " +
        "estimate must price the full cluster")
    // armed below the answer: refuse loudly, name the linear remedy
    val eFix = intercept[IllegalArgumentException](
      Similarity.blockedPairs(dense, "vec_id", "label", dim = 16,
        maxPairs = 1000L).count())
    assert(eFix.getMessage.contains("semanticDedup"), eFix.getMessage)
    assert(eFix.getMessage.contains("19900"), eFix.getMessage)
    val eAuto = intercept[IllegalArgumentException](
      Similarity.blockedPairsAuto(dense, "vec_id", "label",
        targetBucket = 10, dim = 16, maxPairs = 1000L).count())
    assert(eAuto.getMessage.contains("semanticDedup"), eAuto.getMessage)
    // armed ABOVE the candidate space: output identical to disarmed —
    // the guard is observability, never a semantics change (x50/x86's
    // registered plans are the disarmed form)
    val armed = Similarity.blockedPairsAuto(dense, "vec_id", "label",
      targetBucket = 10, dim = 16, maxPairs = 100000L)
    val off = Similarity.blockedPairsAuto(dense, "vec_id", "label",
      targetBucket = 10, dim = 16)
    assert(armed.exceptAll(off).isEmpty && off.exceptAll(armed).isEmpty)
    assert(off.count() == 19900L)
  }

  test("cosine: self-similarity is 1, orthogonal is 0") {
    val df = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)), (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(2.0f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val a = df.select(col("vec_id").as("ia"), col("embedding").as("ea"))
    val b = df.select(col("vec_id").as("ib"), col("embedding").as("eb"))
    val cos = a.crossJoin(b)
      .withColumn("cos", Similarity.cosine(col("ea"), col("eb")))
      .select("ia", "ib", "cos").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(math.abs(cos((1L, 1L)) - 1.0) < 1e-12)
    assert(math.abs(cos((1L, 3L)) - 1.0) < 1e-12) // scale-invariant
    assert(math.abs(cos((1L, 2L))) < 1e-12)
  }

  test("native DotF32 is bit-identical to the HOF formulation (interpreted + codegen)") {
    val rnd = new scala.util.Random(17)
    val df = (1L to 200L).map(i =>
      (i, Array.fill(64)(rnd.nextFloat() * 2 - 1),
        Array.fill(64)(rnd.nextFloat() * 2 - 1))).toDF("id", "a", "b")
    val diff = df.select(
      Similarity.dot(col("a"), col("b")).as("native"),
      Similarity.dotHof(col("a"), col("b")).as("hof"))
      .filter(col("native") =!= col("hof")).count()
    assert(diff == 0, "native and HOF dot products disagree")
    // null input → null
    val n = df.limit(1)
      .select(Similarity.dot(lit(null).cast("array<float>"), col("b")))
      .collect()(0)
    assert(n.isNullAt(0))
    // layout-drift tolerance (round 9): a side stored as ARRAY<DOUBLE>
    // is accepted and bit-identical to its float-widened twin — the
    // embeddings table drifting element type must not break analysis
    // (the events table already drifted once, TESTDATA.md)
    val widened = df.select(
      Similarity.dot(col("a"), col("b")).as("ff"),
      Similarity.dot(expr("transform(a, x -> cast(x as double))"),
        col("b")).as("df"),
      Similarity.dot(expr("transform(a, x -> cast(x as double))"),
        expr("transform(b, x -> cast(x as double))")).as("dd"))
      .filter(col("ff") =!= col("df") || col("ff") =!= col("dd")).count()
    assert(widened == 0, "double-element arrays diverge from float twins")
  }

  test("graft_dot reaches SQL via the registry; extensions installer wires cleanly") {
    graft.functions.VectorExpressions.register(spark)
    val r = spark.sql(
      "SELECT graft_dot(array(cast(1.0 as float), cast(2.0 as float)), " +
        "array(cast(3.0 as float), cast(4.0 as float))) AS d").head.getDouble(0)
    assert(r == 11.0)
    // type mismatch is rejected at analysis, not at runtime
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT graft_dot(array(1, 2), array(3, 4))").collect()
    }
    assert(e.getMessage.contains("array<float|double>"))
    // wrong arity fails LOUDLY with the function name — the old builder
    // silently dropped extra args (wrong-answer class on the SQL surface)
    // and IndexOutOfBounds'd on missing ones
    val e1 = intercept[Exception] {
      spark.sql("SELECT graft_dot(array(cast(1.0 as float)))").collect()
    }
    assert(e1.getMessage.contains("graft_dot"), e1.getMessage)
    val e3 = intercept[Exception] {
      spark.sql("SELECT graft_dot(array(cast(1.0 as float)), " +
        "array(cast(1.0 as float)), array(cast(1.0 as float)))").collect()
    }
    assert(e3.getMessage.contains("graft_dot"), e3.getMessage)
    // the SparkSessionExtensions installer injects without error (a fresh
    // session would pick it up via spark.sql.extensions)
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new graft.functions.GraftExtensions()(ext)
  }

  test("native expressions: value-based equality (canonicalization/CSE " +
      "can fire) and nullable-element arrays rejected at analysis") {
    import org.apache.spark.sql.GraftBridge.{expression => ex}
    val c = col("x")
    // Seq fields ⇒ two semantically identical expressions ARE equal
    // (Array fields were reference-compared, defeating Catalyst CSE)
    assert(graft.functions.WeightSumF(ex(c), IndexedSeq(1, 2, 3))
      == graft.functions.WeightSumF(ex(c), IndexedSeq(1, 2, 3)))
    assert(graft.functions.NearestCentroidF(ex(c),
        IndexedSeq(IndexedSeq(1.0, 2.0)))
      == graft.functions.NearestCentroidF(ex(c),
        IndexedSeq(IndexedSeq(1.0, 2.0))))
    // a token array that CAN hold nulls is an analysis error, not a
    // mid-task NPE (ShingleHashF) or a silent weights(0) (WeightSumF)
    import spark.implicits._
    val df = Seq(Tuple1(Seq("a", "b"))).toDF("toks")
      .select(array(col("toks")(0), lit(null).cast("string")).as("nt"))
    val eNull = intercept[org.apache.spark.sql.AnalysisException] {
      df.select(org.apache.spark.sql.GraftBridge.column(
        graft.functions.ShingleHashF(ex(col("nt")), 2, Dedup.P))).collect()
    }
    assert(eNull.getMessage.contains("nullable"), eNull.getMessage)
  }

  test("brute-force top-k returns the nearest vectors in order") {
    val rnd = new scala.util.Random(5)
    val corpus = (1L to 100L).map(i =>
      (i, Array.fill(8)(rnd.nextFloat()))).toDF("vec_id", "embedding")
    val query = corpus.filter(col("vec_id") === 1L).select("embedding")
    val top = Similarity.bruteForceTopK(
      corpus.filter(col("vec_id") =!= 1L), query, "vec_id", k = 5).collect()
    assert(top.length == 5)
    val cs = top.map(_.getAs[Double]("cos")).toSeq
    assert(cs == cs.sorted.reverse, "not sorted by similarity")
  }

  test("IVF top-k recalls most of the exact top-k while scanning fewer cells") {
    val embs = graft.engine.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = embs.filter(col("vec_id") === 0).select("embedding")
    val corpus = embs.filter(col("vec_id") =!= 0)
    val exact = Similarity.bruteForceTopK(corpus, q, "vec_id", k = 10)
      .select("vec_id").as[Long].collect().toSet
    val ivf = Similarity.ivfTopK(corpus, q, "vec_id", nCells = 16,
      nProbe = 8, k = 10)
    val got = ivf.select("vec_id").as[Long].collect().toSet
    assert(got.size == 10)
    assert((exact & got).size >= 5,
      s"recall too low: ${(exact & got).size}/10")
    // probe really pruned: candidates come from <= nProbe distinct cells
    assert(ivf.select("cell").distinct().count() <= 8)
  }

  test("LSH bucketing is deterministic and query bucket matches itself") {
    val planes = Similarity.hyperplanes(8, 8)
    assert(planes.map(_.toSeq) == Similarity.hyperplanes(8, 8).map(_.toSeq),
      "hyperplanes not deterministic")
    val df = Seq((1L, Array.fill(8)(0.5f))).toDF("vec_id", "embedding")
    val b1 = df.select(Similarity.lshBucket(col("embedding"), planes)).head.getLong(0)
    val b2 = df.select(Similarity.lshBucket(col("embedding"), planes)).head.getLong(0)
    assert(b1 == b2)
  }

  test("multimodal plumbing: media wrap, partition-wise features, frame sampling") {
    val d = Seq((1L, "hello world"), (2L, "abc")).toDF("doc_id", "text")
    val media = graft.ext.Multimodal.asMedia(d, "doc_id", "text")
    val feats = graft.ext.Multimodal.extractFeatures(media)
    val f = feats.collect().map(x => x.doc_id -> x).toMap
    assert(f(1L).n_bytes == 11 && f(1L).first_byte == 'h'.toInt)
    assert(f(1L).n_frames == 11 % 7 + 1)
    val frames = graft.ext.Multimodal.sampleFrames(feats, every = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // doc 1 has 5 frames → sampled 0,2,4; doc 2 has 4 → 0,2
    assert(frames == Set((1L, 0L), (1L, 2L), (1L, 4L), (2L, 0L), (2L, 2L)))
  }

  test("multimodal images: real PNG decode (JDK ImageIO) — dims, bands, exact luma; corrupt rows drop") {
    import graft.ext.Multimodal
    // synthesize two known PNGs in-memory: 4×2 solid gray(100) and
    // 3×3 solid white — luma of a solid image is exact
    def png(w: Int, h: Int, rgb: Int): Array[Byte] = {
      val im = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) im.setRGB(x, y, rgb)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(im, "png", bos)
      bos.toByteArray
    }
    val gray = 100 << 16 | 100 << 8 | 100
    val rows = Seq(
      Multimodal.MediaRow(1L, png(4, 2, gray), "png"),
      Multimodal.MediaRow(2L, png(3, 3, 0xffffff), "png"),
      Multimodal.MediaRow(3L, "not an image".getBytes("UTF-8"), "png"))
    val media = spark.createDataset(rows)(
      org.apache.spark.sql.Encoders.product[Multimodal.MediaRow])
    val out = Multimodal.decodeImages(media).collect()
      .map(f => f.doc_id -> f).toMap
    assert(out.keySet == Set(1L, 2L), "corrupt payload must drop, not fail")
    assert(out(1L).width == 4 && out(1L).height == 2 && out(1L).n_channels == 3)
    assert(out(1L).mean_luma == 100.0) // solid gray: Y = 100 exactly
    assert(out(2L).mean_luma == 255.0) // solid white
  }

  test("langid picks the max-stopword language with deterministic tie-break") {
    val d = Seq(
      (1L, "the cat and the dog of the house", "en"),
      (2L, "el perro y la casa de que y el", "es"),
      (3L, "xyz abc nothing matches here", "zz")
    ).toDF("doc_id", "text", "lang")
    val out = TextAnalysis.langId(d, "text")
      .select("doc_id", "predicted_lang").as[(Long, String)].collect().toMap
    assert(out(1L) == "en")
    assert(out(2L) == "es")
    assert(out(3L) == "en") // all scores 0 → highest rank wins (en)
  }

  test("redact: canned PII patterns replace and count; counts use original text") {
    val d = Seq(
      (1L, "mail me at jo.doe+x@example.co.uk or visit https://ex.com/a?b=1 now"),
      (2L, "call +1 (555) 123-4567 tomorrow"),
      (3L, "no pii here at all")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.redact(d, "text").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("redacted"), r.getAs[Long]("n_email"),
         r.getAs[Long]("n_url"), r.getAs[Long]("n_phone"))).toMap
    assert(out(1L)._1 == "mail me at [EMAIL] or visit [URL] now")
    assert(out(1L)._2 == 1L && out(1L)._3 == 1L)
    assert(out(2L)._1 == "call [PHONE] tomorrow")
    assert(out(2L)._4 == 1L)
    assert(out(3L) == (("no pii here at all", 0L, 0L, 0L)))
  }

  test("winnowing: shared >=w+k-1 token run guarantees a shared fingerprint") {
    val k = 3; val w = 4
    val shared = "alpha beta gamma delta epsilon zeta" // w+k-1 = 6 tokens
    val d = Seq(
      (1L, s"one two three $shared seven eight nine ten eleven twelve"),
      (2L, s"completely different prefix words here $shared and a suffix"),
      (3L, "nothing in common with the others at all whatsoever today"),
      (4L, "tiny doc") // < k tokens → no shingles → no fingerprints
    ).toDF("doc_id", "text")
    val fp = TextAnalysis.winnow(d, "doc_id", "text", k, w)
    val byDoc = fp.collect().map(r => r.getLong(0) -> r.getLong(1))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // the MOSS guarantee: docs 1 and 2 share the 6-token run
    assert((byDoc(1L) & byDoc(2L)).nonEmpty, "shared run missed")
    assert((byDoc(1L) & byDoc.getOrElse(3L, Set.empty)).isEmpty,
      "false positive fingerprint overlap")
    assert(!byDoc.contains(4L), "sub-window doc must emit nothing")
    // density: fingerprints per doc well under the full shingle count
    val shingles1 = d.filter(col("doc_id") === 1L)
      .select(explode(Dedup.shingles(col("text"), k))).count()
    assert(byDoc(1L).size < shingles1,
      s"winnow selected ${byDoc(1L).size} of $shingles1 shingles — no reduction")
  }

  test("BPE-style pretokenizer splits digits/punct/contractions off words") {
    // "value123 isn't x-y" pretokenizes to:
    //   [value][123][ isn]['t][ x][-][y]  = 7 tokens (whitespace: 3)
    val d = Seq((1L, "value123 isn't x-y")).toDF("doc_id", "text")
    val r = d.select(
      TextAnalysis.bpeTokenCount(col("text")).as("n_bpe"),
      regexp_extract_all(col("text"),
        lit(TextAnalysis.BpeTokenPattern), lit(0)).as("toks"),
      size(split(col("text"), " ")).as("n_ws")).head
    assert(r.getAs[Long]("n_bpe") == 7L)
    assert(r.getSeq[String](1) ==
      Seq("value", "123", " isn", "'t", " x", "-", "y"))
    assert(r.getAs[Int]("n_ws") == 3)
    // pure word soup degenerates to ~whitespace counts (leading-space runs)
    val soup = Seq((1L, "key agg row scan")).toDF("doc_id", "text")
    assert(soup.select(TextAnalysis.bpeTokenCount(col("text")))
      .head.getLong(0) == 4L)
  }

  test("boilerplate removal drops covered spans, keeps unique text, survives empties") {
    // "LIC A B" opens a shingle in 5 docs -> boilerplate; doc 6 is untouched;
    // doc 7 is pure boilerplate and must survive as an empty clean_text row
    val docs = ((1L to 5L).map(i => (i, s"LIC A B u$i v$i w$i")) :+
      (6L, "alpha beta gamma delta") :+ (7L, "LIC A B"))
      .toDF("doc_id", "text")
    val r = ext.TextAnalysis.removeBoilerplate(docs, "doc_id", "text",
      k = 3, minDf = 5).orderBy("doc_id").collect()
    assert(r.length == 7)
    val byId = r.map(x => x.getAs[Long]("doc_id") -> x).toMap
    // docs 1-5: the 3 boilerplate-covered tokens drop, unique tail stays
    (1L to 5L).foreach { i =>
      assert(byId(i).getAs[String]("clean_text") == s"u$i v$i w$i")
      assert(byId(i).getAs[Long]("n_removed") == 3L)
    }
    assert(byId(6L).getAs[String]("clean_text") == "alpha beta gamma delta")
    assert(byId(6L).getAs[Long]("n_removed") == 0L)
    assert(byId(7L).getAs[String]("clean_text") == "")
    assert(byId(7L).getAs[Long]("n_removed") == 3L)
    // overlapping boilerplate spans cover the union of their positions:
    // "LIC A B x LIC A B" in 5 docs -> spans at 1 and 5 cover 1-3,5-7; x stays
    val ov = (1L to 5L).map(i => (i, s"LIC A B x$i LIC A B"))
      .toDF("doc_id", "text")
    val ro = ext.TextAnalysis.removeBoilerplate(ov, "doc_id", "text",
      k = 3, minDf = 5).orderBy("doc_id").collect()
    ro.foreach { x =>
      assert(x.getAs[String]("clean_text") == s"x${x.getAs[Long]("doc_id")}")
      assert(x.getAs[Long]("n_removed") == 6L)
    }
  }

  test("boilerplate removal property: distributed plan equals single-node reference") {
    // random word-soup corpus from a tiny vocab forces genuine cross-doc
    // boilerplate; the reference implementation recomputes the expected
    // output per doc with plain Scala collections
    val rnd = new scala.util.Random(11)
    val vocab = Vector("aa", "bb", "cc", "dd", "ee")
    val corpus = (1L to 60L).map(id =>
      id -> Vector.fill(2 + rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size))))
    val (k, minDf) = (3, 4)
    val df = corpus.toMap
    val shOf = (t: Vector[String]) =>
      if (t.size < k) Vector.empty
      else (0 to t.size - k).map(i => t.slice(i, i + k).mkString(" ")).toVector
    val boiler = corpus.flatMap { case (id, t) => shOf(t).distinct.map(_ -> id) }
      .groupBy(_._1).filter(_._2.size >= minDf).keySet
    val expected = corpus.map { case (id, t) =>
      val covered = shOf(t).zipWithIndex.collect {
        case (s, i) if boiler(s) => Seq(i, i + 1, i + 2)
      }.flatten.toSet
      val keptToks = t.zipWithIndex.collect { case (w, i) if !covered(i) => w }
      (id, t.size.toLong, (t.size - keptToks.size).toLong, keptToks.mkString(" "))
    }.sortBy(_._1)
    val actual = ext.TextAnalysis.removeBoilerplate(
        corpus.map { case (id, t) => (id, t.mkString(" ")) }
          .toDF("doc_id", "text"), "doc_id", "text", k, minDf)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq
    assert(expected.count(_._3 > 0) > 5, "fixture too tame — no boilerplate hit")
    assert(actual == expected)
  }

  test("embedding outlier filter flags the planted anti-centroid vector") {
    // label 0: vectors near +e1; label 1: near +e2; plant a -e1 vector in
    // label 0 — its cosine to the label-0 centroid must be negative
    val dim = 8
    def v(main: Int, eps: Double, planted: Boolean = false) =
      Array.tabulate(dim)(i =>
        (if (i == main) (if (planted) -1.0f else 1.0f) else eps.toFloat))
    val rows = Seq(
      (1L, v(0, 0.01), 0), (2L, v(0, 0.02), 0), (3L, v(0, 0.03), 0),
      (4L, v(0, 0.0, planted = true), 0),
      (5L, v(1, 0.01), 1), (6L, v(1, 0.02), 1))
      .toDF("vec_id", "embedding", "label")
    val ex = rows.select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("i", "xf")))
      .select(col("vec_id"), col("label"), col("i"),
        col("xf").cast("double").as("x"))
    val cent = ex.groupBy("label", "i").agg(avg(col("x")).as("c"))
      .groupBy("label").agg(
        transform(array_sort(collect_list(struct(col("i"), col("c")))),
          s => s.getField("c")).as("cent"))
    val scored = rows.join(broadcast(cent), "label")
      .withColumn("cos", ext.Similarity.dotHof(col("embedding"), col("cent")) /
        (ext.Similarity.norm(col("embedding")) *
          sqrt(ext.Similarity.dotHof(col("cent"), col("cent")))))
      .select(col("vec_id"), (col("cos") < 0).as("out")).collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(scored(4L), "planted anti-centroid vector not flagged")
    assert(Seq(1L, 2L, 3L, 5L, 6L).forall(!scored(_)),
      "inlier falsely flagged")
  }

  test("cross-frame LSH pairs new-vs-old only, finds the planted near-dup") {
    // old corpus: docs 1-3; new batch: doc 10 near-dups doc 2, doc 11 unique
    val mk = (id: Long, t: String) => (id, t)
    val dup = "alpha beta gamma delta epsilon zeta eta theta"
    val old = Seq(mk(1, "one two three four five six seven eight"),
      mk(2, dup), mk(3, "nine ten eleven twelve thirteen fourteen"))
      .toDF("doc_id", "text")
    val fresh = Seq(mk(10, dup + " iota"), mk(11, "wholly novel words only here"))
      .toDF("doc_id", "text")
    def sigs(df: org.apache.spark.sql.DataFrame) =
      ext.Dedup.minhashSignatures(
        ext.Dedup.hashedShingles(df, "doc_id", "text"), "doc_id", 16)
    val cands = ext.Dedup.lshCandidatesAcross(sigs(fresh), sigs(old), "doc_id")
      .collect()
    // every candidate is (new, old) — never old-old or new-new
    assert(cands.forall(r => r.getAs[Long]("id_new") >= 10L
      && r.getAs[Long]("id_old") < 10L))
    assert(cands.exists(r => r.getAs[Long]("id_new") == 10L
      && r.getAs[Long]("id_old") == 2L), "planted near-dup not found")
    assert(!cands.exists(r => r.getAs[Long]("id_new") == 11L),
      "unique new doc should produce no candidates")
  }

  test("rolling fingerprint is order-sensitive, md5 is content-exact") {
    val d = Seq((1L, "a b c"), (2L, "c b a"), (3L, "a b c"))
      .toDF("doc_id", "text")
    val fp = TextAnalysis.fingerprint(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(fp(1L) == fp(3L))
    assert(fp(1L)._1 != fp(2L)._1, "permutation collided")
    assert(fp(1L)._2 != fp(2L)._2)
  }

  test("signatureColumns (r18 batch path): row-for-row equal to the " +
      "explode+agg signatures; the kernel evaluates once, not 16x") {
    val d = graft.engine.Tables.documents(spark, "/root/testdata/sf0.001")
    val perRow = Dedup.signatureColumns(d, "doc_id", "text", 16)
    val agg = Dedup.minhashSignatures(
      Dedup.hashedShingles(d, "doc_id", "text"), "doc_id", 16)
    assert(perRow.columns.toSeq == agg.columns.toSeq)
    val a = perRow.orderBy("doc_id").collect().toSeq
    val b = agg.orderBy("doc_id").collect().toSeq
    assert(a == b, "per-row signature columns diverged from the aggregate")
    // CollapseProject must keep the multiply-referenced signature alias
    // materialized once — 16 inlined copies would re-run the whole
    // minhash loop per unpacked column
    val plan = perRow.queryExecution.optimizedPlan.toString
    val n = "(?i)minhashsig".r.findAllIn(plan).length
    assert(n == 1, s"expected ONE kernel evaluation in the plan, found $n")
  }

  test("lshTopKAuto: masked corpus-keyed probe equals the direct q-plane " +
      "lshTopK; pre-counted corpusRows path is identical") {
    val embs = graft.engine.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val corpus = embs.filter(col("vec_id") =!= 0)
    val q = embs.filter(col("vec_id") === 0).select(col("embedding"))
    val n = corpus.count()
    val p = Similarity.autoGlobalPlanes(n, 100, 6)
    assert(p > 0 && p < 6, s"fixture should land inside the ladder, got $p")
    // hyperplanes draw sequentially from one fixed seed, so masking the
    // low p bits of the 6-plane bucket IS bucketing with p planes — the
    // same property the x36 oracle's shared-constant ladder relies on
    val auto = Similarity.lshTopKAuto(corpus, q, "vec_id",
        targetBucket = 100, maxPlanes = 6, dim = 64, k = 10)
      .orderBy(col("cos").desc, col("vec_id")).collect().toSeq
    val direct = Similarity.lshTopK(corpus, q, "vec_id",
        numPlanes = p, dim = 64, k = 10)
      .orderBy(col("cos").desc, col("vec_id")).collect().toSeq
    assert(auto == direct, "masked auto probe diverged from direct p-plane")
    val counted = Similarity.lshTopKAuto(corpus, q, "vec_id",
        targetBucket = 100, maxPlanes = 6, dim = 64, k = 10, corpusRows = n)
      .orderBy(col("cos").desc, col("vec_id")).collect().toSeq
    assert(counted == auto, "pre-counted probe diverged from counting form")
  }

  test("shingleSets (r19 verify tail): per-row sets equal collect_set " +
      "over the exploded multiset; verify output is pair-for-pair equal " +
      "and the set branch plans shuffle-free") {
    val d = graft.engine.Tables.documents(spark, "/root/testdata/sf0.001")
    val perRow = Dedup.shingleSets(d, "doc_id", "text")
    val agg = Dedup.hashedShingles(d, "doc_id", "text")
      .groupBy("doc_id").agg(collect_set(col("h")).as("hs"))
    // set equality element-for-element (collect_set order is
    // nondeterministic — compare sorted)
    val a = perRow.select(col("doc_id"), array_sort(col("hs")).as("hs"))
      .orderBy("doc_id").collect().toSeq
    val b = agg.select(col("doc_id"), array_sort(col("hs")).as("hs"))
      .orderBy("doc_id").collect().toSeq
    assert(a == b, "per-row shingle sets diverged from the collect_set form")
    // the whole point of the swap: the per-row branch must carry NO
    // aggregate and NO generator — sets are assembled inside the row
    val plan = perRow.queryExecution.optimizedPlan.toString
    assert(!plan.contains("Aggregate"), s"unexpected aggregate:\n$plan")
    assert(!plan.contains("Generate"), s"unexpected explode:\n$plan")

    // end-to-end: the verify tail over per-row sets is pair-for-pair
    // equal to the classic collect_set form on the same candidates
    val sigs = Dedup.signatureColumns(d, "doc_id", "text", 16)
    val cands = Dedup.lshCandidates(sigs, "doc_id").cache()
    val vNew = Dedup.jaccardVerifySets(cands, perRow, "doc_id")
      .orderBy("id_a", "id_b").collect().toSeq
    val vOld = Dedup.jaccardVerify(cands,
        Dedup.hashedShingles(d, "doc_id", "text"), "doc_id")
      .orderBy("id_a", "id_b").collect().toSeq
    assert(vNew == vOld, "verify outputs diverged between set forms")
    cands.unpersist()
  }

  test("semanticDedupAuto: masked shared-bit keying equals direct plane " +
      "keying; keeper invariants hold across plane counts") {
    // integer-exact ladder at the power-of-2 boundaries a float log2
    // misrounds (the autoSubKeyed convention, now global for x73)
    assert(Similarity.autoGlobalPlanes(1, 100, 6) == 0)
    assert(Similarity.autoGlobalPlanes(100, 100, 6) == 0)
    assert(Similarity.autoGlobalPlanes(101, 100, 6) == 1)
    assert(Similarity.autoGlobalPlanes(200, 100, 6) == 1)
    assert(Similarity.autoGlobalPlanes(201, 100, 6) == 2)
    assert(Similarity.autoGlobalPlanes(401, 100, 6) == 3)
    assert(Similarity.autoGlobalPlanes(6400, 100, 6) == 6)
    assert(Similarity.autoGlobalPlanes(1000000, 100, 6) == 6, "cap")

    val embs = graft.engine.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val n = embs.count()
    // mask-equivalence: hyperplanes() draws sequentially from one fixed
    // seed, so the low-p-bit mask of the maxPlanes-bit bucket must be
    // bit-identical to bucketing with p planes directly — the property
    // the x73 oracle's shared-constant VALUES table relies on
    val p = Similarity.autoGlobalPlanes(n, 100, 6)
    assert(p > 0 && p < 6, s"fixture should land strictly inside the ladder, got $p")
    val auto = Similarity.semanticDedupAuto(embs, "vec_id",
      targetBucket = 100, maxPlanes = 6, tau = 0.35)
      .orderBy("vec_id").collect().toSeq
    val direct = Similarity.semanticDedup(embs, "vec_id",
      numPlanes = p, tau = 0.35).orderBy("vec_id").collect().toSeq
    assert(auto == direct, "masked auto form diverged from direct p-plane form")
    // pre-counted overload (r19): same n => same keying, zero count jobs
    val counted = Similarity.semanticDedupAutoCounted(embs, n, "vec_id",
      targetBucket = 100, maxPlanes = 6, tau = 0.35)
      .orderBy("vec_id").collect().toSeq
    assert(counted == auto, "pre-counted overload diverged from counting form")

    // keeper invariants are plane-count-independent: every row survives
    // with a verdict, exactly one keeper per bucket, the keeper is the
    // bucket's cos-max (ties break on id — rank 1 of the window), and
    // action ≡ keeper ∨ cos < tau
    for (planes <- Seq(1, 2, 4, 6)) {
      val out = Similarity.semanticDedup(embs, "vec_id",
        numPlanes = planes, tau = 0.35).collect()
      assert(out.length == n, s"rows lost at planes=$planes")
      assert(out.map(_.getLong(0)).toSet.size == n)
      out.groupBy(_.getLong(1)).foreach { case (bkt, rows) =>
        val keepers = rows.filter(_.getBoolean(3))
        assert(keepers.length == 1,
          s"planes=$planes bucket=$bkt has ${keepers.length} keepers")
        assert(keepers.head.getDouble(2) == rows.map(_.getDouble(2)).max,
          s"planes=$planes bucket=$bkt keeper is not cos-max")
      }
      out.foreach { r =>
        val expect = if (r.getBoolean(3) || r.getDouble(2) < 0.35) "keep" else "drop"
        assert(r.getString(4) == expect)
      }
    }
  }
}
