package graft.ext

import org.apache.spark.sql.functions._
import graft.engine.{Queries, Tables}
import graft.engine.Queries.Q

/** Named queries for the LLM-data-pipeline extension surface (SURVEY §7.4):
  * dedup (exact / MinHash-LSH / SimHash / n-gram Jaccard / embedding
  * cosine), similarity search (brute-force + LSH), text analysis, and the
  * multimodal stub. Oracle-parity notes:
  *  - all cross-engine hashing is md5 (identical hex in Spark and DuckDB);
  *  - integer-ratio outputs (Jaccard etc.) are raw IEEE divisions of
  *    identical integers — bit-identical, never rounded (round() itself
  *    diverges between engines at exact decimal boundaries);
  *  - float-accumulation outputs (cosine) are rounded at 6 digits in both
  *    engines.
  */
object ExtQueries {

  // ---------------------------------------------------------------- x30
  /** Exact dedup: content-hash groupBy; keeper = min id (at 100 TB this is
    * the one-shuffle hash-partitioned dedup — no sort, no window). */
  val x30DedupExact: Q = Q(
    (s, dir) =>
      Tables.documents(s, dir)
        .groupBy(sha2(col("text"), 256).as("h"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keeper"))
        .orderBy("h"),
    Some("""SELECT sha256(text) AS h, count(*) AS n_docs, min(doc_id) AS keeper
      FROM documents GROUP BY 1 ORDER BY 1"""))

  // sh = distinct (doc_id, 60-bit shingle hash) — hashed BEFORE the
  // distinct, mirroring Dedup.hashedShingleTable exactly (same md5→bigint
  // reduction) so both engines agree even on hash collisions
  private val shingleCte = s"""
    tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    shRaw AS (SELECT doc_id,
             unnest(list_transform(range(1, greatest(len(t) - 1, 1)),
               i -> array_to_string(t[i:i+2], ' '))) AS shingle
           FROM tok),
    sh AS (SELECT DISTINCT doc_id,
             (('0x' || substr(md5(shingle),1,15))::BIGINT % ${Dedup.P}) AS h
           FROM shRaw)"""

  // sigs → bands → bucket-capped banded self-join → candidate pairs: the
  // x31 LSH pipeline as a reusable oracle fragment (generated from the
  // same constants as the engine path; shared by x31/x44/x78)
  private val lshCandsCte = s"""
      sigs AS (SELECT doc_id,
        ${(0 until 16).map(i => s"min((${Dedup.aConst(i)} * h + ${Dedup.bConst(i)}) % ${Dedup.P}) AS m$i").mkString(", ")}
        FROM sh GROUP BY 1),
      bands AS (
        ${(0 until 4).map(j => s"SELECT doc_id, $j AS band_idx, concat_ws('|', ${(j * 4 until j * 4 + 4).map("m" + _).mkString(", ")}) AS h FROM sigs")
          .mkString(" UNION ALL ")}),
      keptBuckets AS (SELECT band_idx, h FROM bands
        GROUP BY 1, 2 HAVING count(*) <= ${Dedup.DefaultMaxBucket}),
      bandsKept AS (SELECT b.doc_id, b.band_idx, b.h FROM bands b
        JOIN keptBuckets k ON b.band_idx = k.band_idx AND b.h = k.h),
      cands AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bandsKept a JOIN bandsKept b
          ON a.band_idx = b.band_idx AND a.h = b.h AND a.doc_id < b.doc_id)"""

  // sizes/cm: per-candidate-pair common-shingle counts (the exact-Jaccard
  // verify numerator; follows shingleCte + lshCandsCte)
  private val jaccardCmCte = """
      sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
      cm AS (SELECT c.id_a, c.id_b, count(*) AS common
        FROM cands c
        JOIN sh sa ON sa.doc_id = c.id_a
        JOIN sh sb ON sb.doc_id = c.id_b AND sb.h = sa.h
        GROUP BY 1,2)"""

  // pairs: candidates surviving exact Jaccard ≥ 0.8 (follows jaccardCmCte)
  private val verifiedPairsCte = """
      pairs AS (SELECT id_a, id_b FROM cm
        JOIN sizes za ON za.doc_id = id_a
        JOIN sizes zb ON zb.doc_id = id_b
        WHERE common / (za.sz + zb.sz - common) >= 0.8)"""

  // edges2/nodes/reach/keepers: undirected connected components with
  // min-id roots over a `pairs` CTE (requires WITH RECURSIVE)
  private val componentsCte = """
      edges2 AS (SELECT id_a AS s, id_b AS d FROM pairs
        UNION ALL SELECT id_b, id_a FROM pairs),
      nodes AS (SELECT DISTINCT s AS id FROM edges2),
      reach AS (
        SELECT id, id AS root FROM nodes
        UNION
        SELECT e.d AS id, r.root FROM reach r JOIN edges2 e ON e.s = r.id),
      keepers AS (SELECT id, min(root) AS keeper FROM reach GROUP BY 1)"""

  /** The shared near-dup verification pipeline (x31's shape, reused by
    * x44 keepers and x84's leak-safe split): multiset MinHash signatures
    * → capped LSH candidates (cached: tiny, feeds two consumers) →
    * candidate-only shingle sets → exact-Jaccard verify ≥ 0.8. Single
    * engine-side source of the 16-hash / 4×4-band / 0.8 constants; the
    * oracle-side single source is lshCandsCte + jaccardCmCte +
    * verifiedPairsCte. Returns (id_a, id_b, common, jaccard). */
  /** Caching contract: the LSH candidate frame is `.cache()`d and feeds
    * the LAZY result, so callers in long-lived sessions must drop it after
    * consuming the result (`spark.catalog.clearCache()`, as Verify/Bench
    * do between queries) — this method cannot unpersist it itself. */
  private def verifiedNearDupPairs(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val sigs = Dedup.signatureColumns(docs, "doc_id", "text", 16)
    val cands = Dedup.lshCandidates(sigs, "doc_id", bands = 4, rows = 4)
      .cache()
    val candIds = cands
      .select(explode(array(col("id_a"), col("id_b"))).as("doc_id"))
      .distinct()
    // verification needs shingle SETS only for candidate docs — semi-join
    // BEFORE the kernel, so the verify scales with |candidates|, not the
    // corpus. The sets are assembled PER ROW (array_distinct over the
    // same shingleHashArray kernel the signatures already ride): the
    // pre-r19 form re-exploded every candidate doc's shingles and
    // collect_set'ed them back — a candidate-shingle-sized exchange that
    // X31_STAGES_r18 put at ~1.4s of x31's 2.35s (the dominant,
    // epoch-sensitive verify tail). Per-row sets are bit-identical
    // (spec-pinned) and leave the verify with zero pre-join shuffles.
    val sets = Dedup.shingleSets(
      docs.join(candIds, Seq("doc_id"), "left_semi"), "doc_id", "text")
    Dedup.jaccardVerifySets(cands, sets, "doc_id")
      .filter(col("jaccard") >= 0.8)
  }

  // ---------------------------------------------------------------- x31
  /** MinHash + LSH near-dup detection: 16 md5-minhashes, 4 bands × 4 rows,
    * banded self-join for candidates, exact-Jaccard verification ≥ 0.8. */
  val x31MinhashLsh: Q = Q(
    (s, dir) =>
      // signature path reads the raw shingle MULTISET: min is duplicate-
      // insensitive, so the corpus-wide distinct shuffle is skipped
      // entirely (inside verifiedNearDupPairs)
      verifiedNearDupPairs(Tables.documents(s, dir))
        .select("id_a", "id_b", "common", "jaccard")
        .orderBy("id_a", "id_b"),
    Some(s"""WITH $shingleCte,
      $lshCandsCte,
      $jaccardCmCte
      SELECT id_a, id_b, common,
        common / (za.sz + zb.sz - common) AS jaccard
      FROM cm JOIN sizes za ON za.doc_id = id_a
        JOIN sizes zb ON zb.doc_id = id_b
      WHERE common / (za.sz + zb.sz - common) >= 0.8
      ORDER BY 1,2"""),
    bench = true)

  // ---------------------------------------------------------------- x44
  /** Dedup keeper selection: MinHash-LSH pairs → connected components →
    * min-id keeper per cluster (the step that turns pair detection into
    * an actionable drop-list). Oracle: same pair pipeline + a recursive
    * CTE computing min reachable id. */
  val x44DedupClusters: Q = Q(
    (s, dir) => {
      // same multiset-signature + candidate-filtered-verify shape as x31
      val pairs = verifiedNearDupPairs(Tables.documents(s, dir))
        .select("id_a", "id_b")
      Dedup.connectedKeepers(pairs)
        .select(col("id").as("doc_id"), col("keeper"))
        .orderBy("doc_id")
    },
    Some(s"""WITH RECURSIVE $shingleCte,
      $lshCandsCte,
      $jaccardCmCte,
      $verifiedPairsCte,
      $componentsCte
      SELECT id AS doc_id, keeper FROM keepers ORDER BY 1"""),
    bench = true)

  // ---------------------------------------------------------------- x84
  /** Leakage-safe train/val/test split: x47's deterministic md5-bucket
    * split keyed by the NEAR-DUP GROUP, not the document — two
    * near-duplicate documents must never straddle a split boundary (a
    * test doc with a train-side near-twin is silent eval leakage; the
    * split-time complement of x49/x59's benchmark decontamination).
    * Groups come from the x44 cluster pipeline (LSH candidates →
    * Jaccard ≥ 0.8 verify → connected components); unclustered docs are
    * their own group. The split hash reads ONLY the group id, so any
    * future member of an existing cluster deterministically lands in the
    * cluster's split. Scale: the keeper frame is bounded by clustered
    * docs (≪ corpus), the join is doc-keyed, and the split itself is a
    * zero-shuffle map-side hash — x47's shape plus one join. */
  val x84LeakSafeSplit: Q = Q(
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val pairs = verifiedNearDupPairs(docs).select("id_a", "id_b")
      val keepers = Dedup.connectedKeepers(pairs)
        .select(col("id").as("doc_id"), col("keeper"))
      val bucket = conv(substring(md5(col("group_id").cast("string")), 1, 15),
        16, 10).cast("long") % 100
      docs.select("doc_id")
        .join(keepers, Seq("doc_id"), "left")
        .withColumn("group_id", coalesce(col("keeper"), col("doc_id")))
        .select(col("doc_id"), col("group_id"), bucket.as("bucket"))
        .withColumn("split",
          when(col("bucket") % 10 < 8, lit("train"))
            .when(col("bucket") % 10 === 8, lit("val"))
            .otherwise(lit("test")))
        .orderBy("doc_id")
    },
    Some(s"""WITH RECURSIVE $shingleCte,
      $lshCandsCte,
      $jaccardCmCte,
      $verifiedPairsCte,
      $componentsCte,
      g AS (SELECT d.doc_id, coalesce(k.keeper, d.doc_id) AS group_id
        FROM documents d LEFT JOIN keepers k ON k.id = d.doc_id),
      b AS (SELECT doc_id, group_id,
          ('0x' || substr(md5(CAST(group_id AS VARCHAR)),1,15))::BIGINT % 100
            AS bucket
        FROM g)
      SELECT doc_id, group_id, bucket,
        CASE WHEN bucket % 10 < 8 THEN 'train'
             WHEN bucket % 10 = 8 THEN 'val' ELSE 'test' END AS split
      FROM b ORDER BY doc_id"""))

  // ---------------------------------------------------------------- x32
  /** SimHash document fingerprints (48-bit majority-vote over md5 token
    * hashes). */
  val x32Simhash: Q = Q(
    (s, dir) =>
      Dedup.simhash48(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id"),
    Some("""WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS token
        FROM documents),
      th AS (SELECT doc_id, md5(token) AS h FROM tok),
      bits AS (SELECT doc_id, h, unnest(range(0, 48)) AS p FROM th),
      wbits AS (SELECT doc_id, p,
        CASE WHEN ((strpos('0123456789abcdef', substr(h, CAST(p // 4 AS INT) + 1, 1)) - 1 >> (p % 4)) & 1) = 1
             THEN 1 ELSE -1 END AS w
        FROM bits),
      sig AS (SELECT doc_id, p, sum(w) AS s FROM wbits GROUP BY 1,2)
      SELECT doc_id,
        CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << p) ELSE 0 END) AS BIGINT) AS fp48
      FROM sig GROUP BY 1 ORDER BY 1"""))

  // ---------------------------------------------------------------- x33
  /** Inverted-index n-gram Jaccard pairs (document frequency ≤ 50
    * blocking), threshold 0.5. */
  val x33NgramJaccard: Q = Q(
    (s, dir) => {
      val sh = Dedup.hashedShingleTable(Tables.documents(s, dir), "doc_id", "text")
        .cache()
      Dedup.ngramJaccardPairs(sh, "doc_id", maxDf = 50)
        .filter(col("jaccard") >= 0.5)
        .select("id_a", "id_b", "common", "jaccard")
        .orderBy("id_a", "id_b")
    },
    Some(s"""WITH $shingleCte,
      rare AS (SELECT h FROM (SELECT h, count(*) AS df FROM sh GROUP BY 1)
               WHERE df <= 50),
      f AS (SELECT sh.doc_id, sh.h FROM sh JOIN rare USING (h)),
      cands AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM f a JOIN f b ON a.h = b.h AND a.doc_id < b.doc_id),
      sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
      cm AS (SELECT c.id_a, c.id_b, count(*) AS common
        FROM cands c
        JOIN sh sa ON sa.doc_id = c.id_a
        JOIN sh sb ON sb.doc_id = c.id_b AND sb.h = sa.h
        GROUP BY 1,2)
      SELECT id_a, id_b, common,
        common / (za.sz + zb.sz - common) AS jaccard
      FROM cm JOIN sizes za ON za.doc_id = id_a
        JOIN sizes zb ON zb.doc_id = id_b
      WHERE common / (za.sz + zb.sz - common) >= 0.5
      ORDER BY 1,2"""))

  private val corpusDotCte = """
    ex AS (SELECT vec_id, label, CAST(unnest(embedding) AS DOUBLE) AS x,
             generate_subscripts(embedding, 1) AS i
           FROM embeddings),
    norms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM ex GROUP BY 1)"""

  /** Secondary LSH sub-bucket inside the label block — mirrors
    * `Similarity.blockedPairs(subPlanes = SubPlanes)` exactly: the VALUES
    * table is generated from the same deterministic plane constants (the
    * x36 technique), so both engines agree on every bucket assignment. */
  private val SubPlanes = 2
  private val subBucketCte = s"""
    splanes(p, i, w) AS (VALUES ${Similarity.hyperplanes(SubPlanes, 64).zipWithIndex
      .flatMap { case (pl, pi) => pl.zipWithIndex.map { case (w, i) =>
        s"($pi, ${i + 1}, CAST($w AS DOUBLE))" } }.mkString(", ")}),
    spd AS (SELECT ex.vec_id, pl.p, sum(ex.x * pl.w) AS d
      FROM ex JOIN splanes pl ON pl.i = ex.i GROUP BY 1, 2),
    sub AS (SELECT vec_id,
      CAST(sum(CASE WHEN d > 0 THEN (CAST(1 AS BIGINT) << p) ELSE 0 END) AS BIGINT) AS sb
      FROM spd GROUP BY 1)"""

  /** PER-LABEL ADAPTIVE sub-bucket — mirrors
    * [[Similarity.blockedPairsAuto]] exactly (integer CASE ladder for
    * the plane count, low-bit mask of the shared maxPlanes-bit bucket),
    * so both engines agree on every label's plane count and every
    * bucket assignment by construction. Shared by x50 (embed-dedup's
    * candidate generation, the r14 verdict's last quadratic default)
    * and x86 (the adaptive-pairs gate) so the two oracles cannot
    * drift. Produces `sub(vec_id, sb)` — the same shape as
    * [[subBucketCte]]'s fixed form. */
  private[graft] val AutoMaxPlanes = 6
  private[graft] val AutoTarget = 100

  /** Output-scale cap ARMED on the registered pair queries (x50/x86).
    * LSH sub-bucketing barely splits a TIGHT cluster — its members
    * share most hyperplane signs, so the 6-plane sub-keying divides a
    * 20k-vector cluster ~3-fold instead of 64-fold and the candidate
    * space (= output upper bound) stays near-quadratic in cluster
    * size. Measured, not hypothetical: the sf10 decade point
    * (SF10_BENCH_r16, 200k vectors in 10 tight clusters) priced at
    * 692,126,962 candidates and the unguarded run filled 78 GB of
    * disk in the connected-components checkpoint before failing. A
    * 50M cap passes every driver SF and sf1 (7.8M true pairs) untouched —
    * byte-identical plans below the cap — and refuses the sf10 shape
    * in seconds, naming [[Similarity.semanticDedup]] (x73's
    * linear-output keeper form) as the remedy. */
  private[graft] val PairOutputCap = 50000000L
  private val autoSubCte = s"""
    aplanes(p, i, w) AS (VALUES ${Similarity
      .hyperplanes(AutoMaxPlanes, 64).zipWithIndex
      .flatMap { case (pl, pi) => pl.zipWithIndex.map { case (w, i) =>
        s"($pi, ${i + 1}, CAST($w AS DOUBLE))" } }.mkString(", ")}),
    apd AS (SELECT ex.vec_id, pl.p, sum(ex.x * pl.w) AS d
      FROM ex JOIN aplanes pl ON pl.i = ex.i GROUP BY 1, 2),
    bits AS (SELECT vec_id,
        CAST(sum(CASE WHEN d > 0 THEN (CAST(1 AS BIGINT) << p)
                      ELSE 0 END) AS BIGINT) AS bits
      FROM apd GROUP BY 1),
    cnt AS (SELECT label, count(*) AS n FROM embeddings GROUP BY 1),
    pln AS (SELECT label,
        CASE ${(0 until AutoMaxPlanes).map(q =>
          s"WHEN m <= ${1L << q} THEN $q").mkString(" ")}
             ELSE $AutoMaxPlanes END AS planes
      FROM (SELECT label, (n + ${AutoTarget - 1}) // $AutoTarget AS m
            FROM cnt)),
    sub AS (SELECT e.vec_id,
        bits & ((CAST(1 AS BIGINT) << planes) - 1) AS sb
      FROM embeddings e JOIN bits USING (vec_id)
        JOIN pln USING (label))"""

  // ---------------------------------------------------------------- x34
  /** Embedding near-dup pairs: blocked (IVF-style, label = coarse cell)
    * all-pairs cosine ≥ 0.4, sub-blocked by a 2-plane LSH bucket so a hot
    * label cannot go quadratic (see [[Similarity.blockedPairs]]). */
  val x34CosinePairs: Q = Q(
    (s, dir) =>
      Similarity.blockedPairs(Tables.embeddings(s, dir), "vec_id", "label",
          minCos = 0.4, subPlanes = SubPlanes)
        .orderBy("label", "id_a", "id_b"),
    Some(s"""WITH $corpusDotCte,
      $subBucketCte,
      dots AS (SELECT a.label, a.vec_id AS id_a, b.vec_id AS id_b,
          sum(a.x * b.x) AS dp
        FROM ex a JOIN ex b
          ON a.i = b.i AND a.label = b.label AND a.vec_id < b.vec_id
        JOIN sub ka ON ka.vec_id = a.vec_id
        JOIN sub kb ON kb.vec_id = b.vec_id AND kb.sb = ka.sb
        GROUP BY 1,2,3)
      SELECT label, id_a, id_b,
        round(dp / (na.nrm * nb.nrm), 6) AS cos
      FROM dots JOIN norms na ON na.vec_id = id_a
        JOIN norms nb ON nb.vec_id = id_b
      WHERE round(dp / (na.nrm * nb.nrm), 6) >= 0.4
      ORDER BY 1,2,3"""))

  // ---------------------------------------------------------------- x35
  /** Brute-force exact ANN: top-10 by cosine against vec_id 0's embedding. */
  val x35AnnTopK: Q = Q(
    (s, dir) => {
      val embs = Tables.embeddings(s, dir)
      val q = embs.filter(col("vec_id") === 0).select(col("embedding"))
      Similarity.bruteForceTopK(embs.filter(col("vec_id") =!= 0), q,
          "vec_id", "embedding", k = 10)
        .orderBy(col("cos").desc, col("vec_id"))
    },
    Some(s"""WITH $corpusDotCte,
      qx AS (SELECT CAST(unnest(embedding) AS DOUBLE) AS qx,
               generate_subscripts(embedding, 1) AS i
             FROM embeddings WHERE vec_id = 0),
      qn AS (SELECT sqrt(sum(qx * qx)) AS n FROM qx),
      dots AS (SELECT e.vec_id, sum(e.x * q.qx) AS dp
        FROM ex e JOIN qx q ON e.i = q.i
        WHERE e.vec_id <> 0 GROUP BY 1)
      SELECT d.vec_id, round(dp / (nm.nrm * qn.n), 6) AS cos
      FROM dots d JOIN norms nm ON nm.vec_id = d.vec_id, qn
      ORDER BY cos DESC, d.vec_id LIMIT 10"""),
    bench = true)

  // ---------------------------------------------------------------- x36
  /** LSH-bucketed approximate ANN (scale path), ADAPTIVE registration
    * since r19 ([[Similarity.lshTopKAuto]] — the last fixed-plane
    * registration swept onto the `autoGlobalPlanes` ladder, VERDICT r18
    * #3/#5): the plane count is keyed to corpus size, so the probed
    * bucket's expected population stays ≈ [[AutoTarget]] rows at ANY
    * corpus scale — constant probe cost and stable recall, where the
    * old fixed-8-plane bucket grew linearly with the corpus. The
    * hyperplanes are deterministic engine-side constants (fixed seed),
    * so the oracle SQL is GENERATED from the very same plane literals
    * and recomputes the SAME integer ladder from its own count(*) (the
    * x73 technique). Scalatest additionally checks recall vs the exact
    * x35. */
  val x36AnnLsh: Q = Q(
    (s, dir) => {
      val embs = Tables.embeddings(s, dir)
      val q = embs.filter(col("vec_id") === 0).select(col("embedding"))
      Similarity.lshTopKAuto(embs.filter(col("vec_id") =!= 0), q, "vec_id",
          "embedding", targetBucket = AutoTarget,
          maxPlanes = AutoMaxPlanes, dim = 64, k = 10)
        .orderBy(col("cos").desc, col("vec_id"))
    },
    Some(s"""WITH $corpusDotCte,
      planes(p, i, w) AS (VALUES ${Similarity
        .hyperplanes(AutoMaxPlanes, 64).zipWithIndex
        .flatMap { case (pl, pi) => pl.zipWithIndex.map { case (w, i) =>
          s"($pi, ${i + 1}, CAST($w AS DOUBLE))" } }.mkString(", ")}),
      pd AS (SELECT ex.vec_id, pl.p, sum(ex.x * pl.w) AS d
        FROM ex JOIN planes pl ON pl.i = ex.i GROUP BY 1, 2),
      pln AS (SELECT
          CASE ${(0 until AutoMaxPlanes).map(q =>
            s"WHEN m <= ${1L << q} THEN $q").mkString(" ")}
               ELSE $AutoMaxPlanes END AS planes
        FROM (SELECT (count(*) + ${AutoTarget - 1}) // $AutoTarget AS m
              FROM embeddings WHERE vec_id <> 0)),
      bkt AS (SELECT vec_id,
        CAST(sum(CASE WHEN d > 0 THEN (CAST(1 AS BIGINT) << p) ELSE 0 END) AS BIGINT)
          & ((CAST(1 AS BIGINT) << planes) - 1) AS bucket
        FROM pd CROSS JOIN pln GROUP BY vec_id, planes),
      qb AS (SELECT bucket FROM bkt WHERE vec_id = 0),
      qd AS (SELECT a.vec_id, sum(a.x * b.x) AS dp
        FROM ex a JOIN ex b ON a.i = b.i AND b.vec_id = 0
        WHERE a.vec_id != 0 GROUP BY 1)
      SELECT k.vec_id, k.bucket,
        round(qd.dp / (na.nrm * nq.nrm), 6) AS cos
      FROM bkt k JOIN qb ON k.bucket = qb.bucket
      JOIN qd ON qd.vec_id = k.vec_id
      JOIN norms na ON na.vec_id = k.vec_id
      JOIN norms nq ON nq.vec_id = 0
      WHERE k.vec_id != 0
      ORDER BY cos DESC, k.vec_id LIMIT 10"""))

  // x42 (IVF ANN with a TRAINED KMeans coarse quantizer) is spec-only:
  // its model state is inherently not SQL-oracle-expressible, and its
  // gate-grade twin x85_ann_ivf_det (deterministic grid quantizer, same
  // probe/prune path, CurationQueries.x85AnnIvfDet) IS fully
  // hash-checked — so the trained variant adds no oracle surface, only a
  // second no_oracle row. Recall-vs-exact and cell-pruning are asserted
  // directly on Similarity.ivfTopK in DedupSimilaritySpec.

  // ---------------------------------------------------------------- x37
  /** Heuristic language ID (stopword-frequency + char-trigram argmax,
    * deterministic rank tie-break) scored against the labeled `lang`
    * column. Oracle generated from the same word/trigram profiles. */
  val x37LangId: Q = {
    val langs = Seq("de", "en", "es", "fr", "zh")
    def inList(xs: Seq[String]) = xs.map(w => s"'$w'").mkString(", ")
    val wordCtes = langs.map(l =>
      s"len(list_filter(tk, x -> x IN (${inList(TextAnalysis.stopwords(l))}))) AS score_$l")
    val triCtes = langs.map(l =>
      s"len(list_filter(tg, x -> x IN (${inList(TextAnalysis.charTrigrams(l))}))) AS tri_$l")
    val combined = langs.map(l =>
      s"(score_$l + tri_$l)*8+${TextAnalysis.langRank(l)}").mkString(", ")
    val caseExpr = "CASE combined % 8 " + langs.map(l =>
      s"WHEN ${TextAnalysis.langRank(l)} THEN '$l'").mkString(" ") + " END"
    Q(
      (s, dir) =>
        TextAnalysis.langId(Tables.documents(s, dir), "text")
          .select((Seq(col("doc_id"), col("predicted_lang"), col("lang"),
            (col("predicted_lang") === col("lang")).as("is_match")) ++
            langs.map(l => col(s"score_$l")) ++
            langs.map(l => col(s"tri_$l"))): _*)
          .orderBy("doc_id"),
      Some(s"""WITH base AS (SELECT doc_id, lang, string_split(text,' ') AS tk,
          list_transform(range(1, greatest(length(text) - 1, 1)),
            i -> substr(text, i, 3)) AS tg
          FROM documents),
        scored AS (SELECT doc_id, lang,
          ${(wordCtes ++ triCtes).mkString(",\n          ")}
          FROM base),
        pred AS (SELECT *, greatest($combined) AS combined FROM scored)
        SELECT doc_id, $caseExpr AS predicted_lang, lang,
          ($caseExpr) = lang AS is_match,
          ${langs.map(l => s"score_$l").mkString(", ")},
          ${langs.map(l => s"tri_$l").mkString(", ")}
        FROM pred ORDER BY doc_id"""))
  }

  // ---------------------------------------------------------------- x38
  /** Quality scoring: token counts (split + regex), avg token length,
    * digit/stopword ratios, bucketed score. */
  val x38Quality: Q = Q(
    (s, dir) =>
      TextAnalysis.quality(Tables.documents(s, dir), "text")
        .select("doc_id", "n_tokens", "n_alpha_tokens", "avg_token_len",
          "digit_ratio", "stop_ratio", "quality_score")
        .orderBy("doc_id"),
    Some("""SELECT doc_id,
      len(string_split(text,' ')) AS n_tokens,
      len(regexp_extract_all(text, '[a-z]+')) AS n_alpha_tokens,
      (length(text) - len(string_split(text,' ')) + 1) / len(string_split(text,' ')) AS avg_token_len,
      length(regexp_replace(text, '[^0-9]', '', 'g')) / length(text) AS digit_ratio,
      len(list_filter(string_split(text,' '), x -> x IN ('the','a','and','of','to'))) / len(string_split(text,' ')) AS stop_ratio,
      CASE WHEN len(string_split(text,' ')) >= 50
             AND len(list_filter(string_split(text,' '), x -> x IN ('the','a','and','of','to'))) / len(string_split(text,' ')) > 0.02
           THEN 'high'
           WHEN len(string_split(text,' ')) >= 20 THEN 'medium'
           ELSE 'low' END AS quality_score
      FROM documents ORDER BY doc_id"""))

  // ---------------------------------------------------------------- x39
  /** Corpus token stats: top-50 tokens by frequency with document counts. */
  val x39TokenCount: Q = Q(
    (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
        .groupBy("token")
        .agg(count(lit(1)).as("n"), countDistinct(col("doc_id")).as("n_docs"))
        .orderBy(col("n").desc, col("token"))
        .limit(50),
    Some("""SELECT token, count(*) AS n, count(DISTINCT doc_id) AS n_docs
      FROM (SELECT doc_id, unnest(string_split(text,' ')) AS token FROM documents)
      GROUP BY 1 ORDER BY n DESC, token LIMIT 50"""))

  // ---------------------------------------------------------------- x40
  /** Document fingerprints: positional rolling hash (order-sensitive) +
    * exact md5. */
  val x40Fingerprint: Q = Q(
    (s, dir) =>
      TextAnalysis.fingerprint(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id"),
    Some("""WITH tok AS (SELECT doc_id, text,
        unnest(string_split(text,' ')) AS token,
        generate_subscripts(string_split(text,' '), 1) AS pos1
      FROM documents)
      SELECT doc_id,
        CAST(sum(((length(token)*31 + ascii(substr(token,1,1))*7 + ascii(substr(token,-1,1))) % 1000003)
                 * ((pos1 % 997) + 1)) % 1000000007 AS BIGINT) AS roll_fp,
        min(md5(text)) AS md5_fp
      FROM tok GROUP BY 1 ORDER BY 1"""))

  // ---------------------------------------------------------------- x43
  /** TF-IDF weights per (doc, token) — the classic text-pipeline weighting
    * as two hash aggregations + a broadcast of the corpus size; df-capped
    * and doc-limited to bound output. */
  val x43Tfidf: Q = Q(
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val tok = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      val tf = tok.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
      val n = docs.agg(count(lit(1)).as("n_docs"))
      tf.join(dfreq, "token").crossJoin(broadcast(n))
        .filter(col("df") <= 395 && col("doc_id") < 25)
        .select(col("doc_id"), col("token"), col("tf"), col("df"),
          round(col("tf") * log(col("n_docs") / col("df")), 6).as("tfidf"))
        .orderBy("doc_id", "token")
    },
    Some("""WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS token
        FROM documents),
      tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1,2),
      dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
      n AS (SELECT count(*) AS n_docs FROM documents)
      SELECT doc_id, token, tf, df,
        round(tf * ln(n_docs / df), 6) AS tfidf
      FROM tf JOIN dfreq USING (token), n
      WHERE df <= 395 AND doc_id < 25
      ORDER BY doc_id, token"""))

  // ---------------------------------------------------------------- x41
  /** Multimodal plumbing: binary payload + mapPartitions feature
    * extraction. `fmt` here is `txt` (no binary testdata), which
    * [[Multimodal.extractFeatures]] routes to its deterministic fake arm;
    * real image/audio payloads route to the real decoders (r6). */
  val x41Multimodal: Q = Q(
    (s, dir) =>
      Multimodal.extractFeatures(
          Multimodal.asMedia(Tables.documents(s, dir), "doc_id", "text"))
        .toDF()
        .select(col("doc_id"), col("n_bytes").cast("long").as("n_bytes"),
          col("first_byte").cast("long").as("first_byte"),
          col("n_frames").cast("long").as("n_frames"))
        .orderBy("doc_id"),
    Some("""SELECT doc_id,
      CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      CAST(ascii(substr(text,1,1)) AS BIGINT) AS first_byte,
      CAST(octet_length(encode(text)) % 7 + 1 AS BIGINT) AS n_frames
      FROM documents ORDER BY doc_id"""))

  // ---------------------------------------------------------------- x51
  /** Multimodal frame sampling: every-kth "frame" of each media row
    * exploded to frame granularity ([[Multimodal.sampleFrames]]) — the
    * sampled-explode shape frame-level training datasets use. */
  val x51FrameSample: Q = Q(
    (s, dir) =>
      Multimodal.sampleFrames(
          Multimodal.extractFeatures(
            Multimodal.asMedia(Tables.documents(s, dir), "doc_id", "text")),
          every = 2)
        .orderBy("doc_id", "frame_idx"),
    Some("""SELECT doc_id,
      unnest(range(0, octet_length(encode(text)) % 7 + 1, 2)) AS frame_idx
      FROM documents ORDER BY doc_id, frame_idx"""))

  // ---------------------------------------------------------------- x45
  /** Array-function family over embeddings: size, element min/max, and an
    * element-order fold (Spark `aggregate` ≡ DuckDB `list_reduce`, both
    * left-to-right — bit-identical doubles, no rounding). */
  val x45ArrayStats: Q = Q(
    (s, dir) =>
      Tables.embeddings(s, dir)
        .select(col("vec_id"), col("label"),
          size(col("embedding")).as("dim"),
          array_min(col("embedding")).as("emin"),
          array_max(col("embedding")).as("emax"),
          aggregate(col("embedding"), lit(0.0),
            (acc, x) => acc + x.cast("double")).as("esum"),
          aggregate(col("embedding"), lit(0.0),
            (acc, x) => acc + abs(x.cast("double"))).as("l1"))
        .orderBy("vec_id"),
    Some("""SELECT vec_id, label, len(embedding) AS dim,
      list_min(embedding) AS emin, list_max(embedding) AS emax,
      list_reduce(list_prepend(CAST(0.0 AS DOUBLE), CAST(embedding AS DOUBLE[])), (a, b) -> a + b) AS esum,
      list_reduce(list_prepend(CAST(0.0 AS DOUBLE), CAST(embedding AS DOUBLE[])), (a, b) -> a + abs(b)) AS l1
      FROM embeddings ORDER BY vec_id"""))

  // ---------------------------------------------------------------- x46
  /** The typed OHLCV Aggregator (§2.10 UDAF) driven through the gate: same
    * candle computation as q01 but via `udaf(OhlcvAggregator.agg)` — the
    * oracle is therefore q01's SQL verbatim. Proves the UDAF's
    * partial-merge path produces oracle-exact candles, not just
    * unit-test-equal ones. */
  val x46UdafCandle: Q = Q(
    (s, dir) => {
      val candle = org.apache.spark.sql.functions.udaf(
        graft.functions.OhlcvAggregator.agg)
      Tables.events(s, dir)
        .groupBy(col("user_id"), window(col("ts"), "1 hour"))
        .agg(candle(unix_micros(col("ts")), col("value")).as("c"))
        .select(col("user_id"), unix_millis(col("window.start")).as("bucket_ms"),
          round(col("c.open"), 4).as("open"), round(col("c.high"), 4).as("high"),
          round(col("c.low"), 4).as("low"), round(col("c.close"), 4).as("close"),
          round(col("c.volume"), 4).as("volume"), col("c.n").as("n"))
        .orderBy("user_id", "bucket_ms")
    },
    Queries.q01Resample1h.oracle)

  // ---------------------------------------------------------------- x47
  /** Stratified sampling + deterministic train/val/test split — the data
    * mixing step of a training pipeline. The sampling key is an md5 bucket
    * of the document id (portable, reshuffle-stable: a doc's fate never
    * depends on partitioning, cluster size, or row order), language keep
    * rates are upsampling/downsampling knobs (en 80%, others 40%), and the
    * split is a second decile of the same bucket. One narrow scan, no
    * shuffle until the final order. */
  val x47StratifiedSplit: Q = Q(
    (s, dir) => {
      val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 15),
        16, 10).cast("long") % 100
      Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), bucket.as("bucket"))
        .filter(col("bucket") <
          when(col("lang") === "en", lit(80)).otherwise(lit(40)))
        .withColumn("split",
          when(col("bucket") % 10 < 8, lit("train"))
            .when(col("bucket") % 10 === 8, lit("val"))
            .otherwise(lit("test")))
        .orderBy("doc_id")
    },
    Some("""WITH b AS (SELECT doc_id, lang,
        ('0x' || substr(md5(CAST(doc_id AS VARCHAR)),1,15))::BIGINT % 100 AS bucket
      FROM documents)
      SELECT doc_id, lang, bucket,
        CASE WHEN bucket % 10 < 8 THEN 'train'
             WHEN bucket % 10 = 8 THEN 'val' ELSE 'test' END AS split
      FROM b
      WHERE bucket < CASE WHEN lang = 'en' THEN 80 ELSE 40 END
      ORDER BY doc_id"""))

  // ---------------------------------------------------------------- x48
  /** Sequence packing: greedy contiguous binning of documents into
    * fixed token budgets (256 tokens) per language — the step that turns a
    * corpus into training sequences. Uses [[Packing]]'s DISTRIBUTED prefix
    * sum (chunked windows + chunk-offset merge) so a dominant language
    * cannot serialize into one task at 100 TB; bin ids are identical to
    * the naive single-window form (spec-pinned on a skewed corpus), which
    * is also what the oracle SQL computes. */
  val x48PackSequences: Q = Q(
    (s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"),
          size(split(col("text"), " ")).cast("long").as("tokens"))
      Packing.packSummary(
        Packing.packDocs(toks, "doc_id", "lang", "tokens", budget = 256),
        "doc_id", "lang", "tokens")
    },
    Some("""WITH t AS (SELECT lang, doc_id,
        len(string_split(text, ' ')) AS tokens FROM documents),
      c AS (SELECT lang, doc_id, tokens,
        CAST(sum(tokens) OVER (PARTITION BY lang ORDER BY doc_id
          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM t)
      SELECT lang, (cum - tokens) // 256 AS bin, count(*) AS n_docs,
        CAST(sum(tokens) AS BIGINT) AS total_tokens,
        min(doc_id) AS first_doc, max(doc_id) AS last_doc
      FROM c GROUP BY 1,2 ORDER BY 1,2"""))

  // ---------------------------------------------------------------- x49
  /** Decontamination: training docs sharing ≥1 word-3-gram with the
    * benchmark set (doc_id < 25 plays the held-out benchmark, as in x43).
    * The overlap test is an equi-join on the hashed shingle table — the
    * benchmark side is tiny and broadcasts; at 100 TB this is a broadcast
    * semi-join against a benchmark suite, never a text-vs-text scan. */
  val x49Decontaminate: Q = Q(
    (s, dir) => {
      // cache: both the benchmark and training branches consume it
      val sh = Dedup.hashedShingleTable(Tables.documents(s, dir), "doc_id", "text")
        .cache()
      val bench = sh.filter(col("doc_id") < 25).select("h").distinct()
      sh.filter(col("doc_id") >= 25)
        .join(broadcast(bench), "h")
        .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
        .orderBy("doc_id")
    },
    Some(s"""WITH $shingleCte,
      bench AS (SELECT DISTINCT h FROM sh WHERE doc_id < 25),
      tr AS (SELECT doc_id, h FROM sh WHERE doc_id >= 25)
      SELECT doc_id, count(*) AS n_shared
      FROM tr JOIN bench USING (h)
      GROUP BY 1 ORDER BY 1"""))

  // ---------------------------------------------------------------- x50
  /** Embedding-cosine near-dup dedup, end to end: blocked cosine pairs
    * → connected components → min-id keeper per cluster — the
    * embedding-space analogue of x44's MinHash drop-list. Candidate
    * generation is the ADAPTIVE per-label sub-bucketing
    * ([[Similarity.blockedPairsAuto]], VERDICT r14 #3): the earlier
    * fixed-[[SubPlanes]] registration divided every label's n² by the
    * same 2^2, so on the harness's fixed 10-label vocabulary the pair
    * join grew quadratically with per-label n — 28s at sf1 vs 0.45s at
    * sf0.1 (SF1_BENCH_r14), the one remaining quadratic default in the
    * declared surface. Adaptive planes bound the expected bucket at
    * [[AutoTarget]] rows regardless of label growth (labels at/under
    * the target keep exact all-pairs — zero recall loss where brute
    * force is affordable). Same distributed tail
    * ([[Dedup.connectedKeepers]]); oracle = the shared adaptive
    * sub-bucket CTE + recursive-CTE reachability over the same pair
    * set. */
  val x50EmbedDedup: Q = Q(
    (s, dir) => {
      val pairs = Similarity.blockedPairsAuto(Tables.embeddings(s, dir),
          "vec_id", "label", minCos = 0.4, targetBucket = AutoTarget,
          maxPlanes = AutoMaxPlanes, maxPairs = PairOutputCap)
        .select("id_a", "id_b")
      Dedup.connectedKeepers(pairs)
        .select(col("id").as("vec_id"), col("keeper"))
        .orderBy("vec_id")
    },
    Some(s"""WITH RECURSIVE $corpusDotCte,
      $autoSubCte,
      dots AS (SELECT a.label, a.vec_id AS id_a, b.vec_id AS id_b,
          sum(a.x * b.x) AS dp
        FROM ex a JOIN ex b
          ON a.i = b.i AND a.label = b.label AND a.vec_id < b.vec_id
        JOIN sub ka ON ka.vec_id = a.vec_id
        JOIN sub kb ON kb.vec_id = b.vec_id AND kb.sb = ka.sb
        GROUP BY 1,2,3),
      pairs AS (SELECT id_a, id_b
        FROM dots JOIN norms na ON na.vec_id = id_a
          JOIN norms nb ON nb.vec_id = id_b
        WHERE round(dp / (na.nrm * nb.nrm), 6) >= 0.4),
      $componentsCte
      SELECT id AS vec_id, keeper FROM keepers ORDER BY 1"""))

  // ---------------------------------------------------------------- x86
  /** Label-blocked cosine pairs through the ADAPTIVE sub-bucketing path
    * ([[Similarity.blockedPairsAuto]]) — the form that sizes planes per
    * label (`planes_l = ceil(log2(ceil(n_l / target)))`, integer-exact)
    * so labels at/under the target keep exact all-pairs semantics while
    * hot labels get just enough planes to bound expected bucket size.
    * Round 10 shipped it spec-pinned only; this row correctness-gates it
    * (VERDICT r10 #6). `targetBucket = 100` puts the harness labels
    * OVER the target at sf0.01+ (≈200/label ⇒ 1 plane), so the oracle
    * exercises the adaptive masking, not the zero-plane fallback. The
    * oracle mirrors the integer CASE ladder verbatim — no float log2,
    * so both engines agree on every label's plane count by construction
    * (the [[autoSubCte]] shared with x50's candidate generation). */
  val x86BlockedAutoPairs: Q = Q(
    (s, dir) =>
      Similarity.blockedPairsAuto(Tables.embeddings(s, dir), "vec_id",
          "label", minCos = 0.4, targetBucket = AutoTarget,
          maxPlanes = AutoMaxPlanes, maxPairs = PairOutputCap)
        .orderBy("label", "id_a", "id_b"),
    Some(s"""WITH $corpusDotCte,
      $autoSubCte,
      dots AS (SELECT a.label, a.vec_id AS id_a, b.vec_id AS id_b,
          sum(a.x * b.x) AS dp
        FROM ex a JOIN ex b
          ON a.i = b.i AND a.label = b.label AND a.vec_id < b.vec_id
        JOIN sub ka ON ka.vec_id = a.vec_id
        JOIN sub kb ON kb.vec_id = b.vec_id AND kb.sb = ka.sb
        GROUP BY 1,2,3)
      SELECT label, id_a, id_b,
        round(dp / (na.nrm * nb.nrm), 6) AS cos
      FROM dots JOIN norms na ON na.vec_id = id_a
        JOIN norms nb ON nb.vec_id = id_b
      WHERE round(dp / (na.nrm * nb.nrm), 6) >= 0.4
      ORDER BY 1, 2, 3"""))

  // ---------------------------------------------------------------- x52
  /** End-to-end training-data pipeline: exact-dedup keepers (x30) →
    * benchmark decontamination (x49) → stratified train split (x47) →
    * sequence packing (x48), composed as ONE lazy plan — the full
    * corpus-to-training-sequences path a 100 TB pipeline runs nightly.
    * Every stage is the already-verified operator; the composition itself
    * is what this query pins (stage order, survivor semantics, and that
    * the chain stays a single DAG with no driver materialization between
    * stages). Oracle = the same four stages as chained CTEs. */
  val x52PipelineE2e: Q = Q(
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      // 1. exact dedup: keeper = min doc_id per content hash
      val keepers = docs.groupBy(sha2(col("text"), 256).as("h"))
        .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
      // 2. decontamination: training docs sharing a 3-gram with the
      //    benchmark slice (doc_id < 25) are dropped
      val sh = Dedup.hashedShingleTable(docs, "doc_id", "text").cache()
      val bench = sh.filter(col("doc_id") < 25).select("h").distinct()
      val contaminated = sh.filter(col("doc_id") >= 25)
        .join(broadcast(bench), "h").select("doc_id").distinct()
      // 3. stratified split: md5 bucket (x47's formula), train = %10 < 8
      val train = docs
        .join(keepers, Seq("doc_id"), "left_semi")
        .filter(col("doc_id") >= 25)
        .join(contaminated, Seq("doc_id"), "left_anti")
        .filter(
          (conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
            .cast("long") % 100) % 10 < 8)
        .select(col("doc_id"), col("lang"),
          size(split(col("text"), " ")).cast("long").as("tokens"))
      // 4. pack into 256-token sequences (skew-proof distributed form)
      Packing.packSummary(
        Packing.packDocs(train, "doc_id", "lang", "tokens", budget = 256),
        "doc_id", "lang", "tokens")
    },
    Some(s"""WITH $shingleCte,
      keepers AS (SELECT min(doc_id) AS doc_id FROM documents
        GROUP BY sha256(text)),
      bench AS (SELECT DISTINCT h FROM sh WHERE doc_id < 25),
      contaminated AS (SELECT DISTINCT s.doc_id FROM sh s
        JOIN bench USING (h) WHERE s.doc_id >= 25),
      train AS (SELECT d.doc_id, d.lang,
          len(string_split(d.text, ' ')) AS tokens
        FROM documents d JOIN keepers k ON k.doc_id = d.doc_id
        WHERE d.doc_id >= 25
          AND d.doc_id NOT IN (SELECT doc_id FROM contaminated)
          AND (('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)),1,15))::BIGINT
               % 100) % 10 < 8),
      c AS (SELECT lang, doc_id, tokens,
        CAST(sum(tokens) OVER (PARTITION BY lang ORDER BY doc_id
          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM train)
      SELECT lang, (cum - tokens) // 256 AS bin, count(*) AS n_docs,
        CAST(sum(tokens) AS BIGINT) AS total_tokens,
        min(doc_id) AS first_doc, max(doc_id) AS last_doc
      FROM c GROUP BY 1,2 ORDER BY 1,2"""))

  // ---------------------------------------------------------------- x53
  /** Int8 scalar quantization of embeddings — the storage-compression step
    * a 100 TB embedding corpus needs (4 bytes → 1 byte per dimension =
    * 4× less scan I/O for ANN). Per-vector affine quantization:
    * `scale = (max−min)/255`, `q = clamp(floor((x−min)/scale + 0.5), 0,
    * 255)`, dequantized `x̂ = min + q·scale`. The query reports the
    * fidelity metrics that decide whether ANN recall survives: max
    * reconstruction error (order-independent, exact cross-engine) and
    * cosine(original, dequantized) (float-sum → rounded at 6, the x34/x35
    * convention). `floor(y + 0.5)` instead of `round()` everywhere —
    * round() half-even/half-up rules diverge between engines.
    * All arithmetic is codegen'd HOFs; no UDF. */
  val x53QuantizeEmbeddings: Q = Q(
    (s, dir) => {
      val emb = transform(col("embedding"), x => x.cast("double"))
      val mn = array_min(emb)
      val mx = array_max(emb)
      val scale = (mx - mn) / 255.0d
      val qv = transform(emb, x =>
        when(scale === 0d, 0d).otherwise(
          least(greatest(floor((x - mn) / scale + 0.5d), lit(0d)), lit(255d))))
      val dq = transform(qv, v => mn + v * scale)
      def dot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column)
          : org.apache.spark.sql.Column =
        aggregate(zip_with(a, b, (x, y) => x * y), lit(0d), (acc, v) => acc + v)
      Tables.embeddings(s, dir)
        .select(col("vec_id"), emb.as("e"), dq.as("d"))
        .select(col("vec_id"),
          array_max(zip_with(col("e"), col("d"), (a, b) => abs(a - b)))
            .as("max_abs_err"),
          round(dot(col("e"), col("d")) /
            (sqrt(dot(col("e"), col("e"))) * sqrt(dot(col("d"), col("d")))), 6)
            .as("cos_fidelity"))
        .orderBy("vec_id")
    },
    Some("""WITH ex AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
               generate_subscripts(embedding, 1) AS i FROM embeddings),
      st AS (SELECT vec_id, min(x) AS mn, (max(x) - min(x)) / 255.0 AS scale
             FROM ex GROUP BY 1),
      dq AS (SELECT e.vec_id, e.i, e.x,
               s.mn + (CASE WHEN s.scale = 0 THEN 0
                 ELSE least(greatest(floor((e.x - s.mn) / s.scale + 0.5), 0), 255)
               END) * s.scale AS d
             FROM ex e JOIN st s ON s.vec_id = e.vec_id)
      SELECT vec_id, max(abs(x - d)) AS max_abs_err,
        round(sum(x * d) / (sqrt(sum(x * x)) * sqrt(sum(d * d))), 6)
          AS cos_fidelity
      FROM dq GROUP BY 1 ORDER BY 1"""))

  // ---------------------------------------------------------------- x54
  /** Intra-document repetition ratio — the corpus-quality signal (share of
    * duplicated word 3-grams) that flags templated/degenerate text for
    * filtering. Entirely per-row array expressions (`Dedup.shingles` +
    * `array_distinct`): ZERO shuffles except the final sort — at 100 TB
    * this is a pure map-side scan, the cheapest possible operator shape.
    * Docs with <3 tokens have no 3-grams → NULL ratio (nothing to judge).
    * Integer-ratio output: raw IEEE division, never rounded. */
  val x54RepetitionRatio: Q = Q(
    (s, dir) => {
      val sh = Dedup.shingles(col("text"))
      Tables.documents(s, dir)
        .select(col("doc_id"),
          size(sh).cast("long").as("n_grams"),
          size(array_distinct(sh)).cast("long").as("n_distinct"))
        .withColumn("rep_ratio",
          when(col("n_grams") === 0, lit(null).cast("double"))
            .otherwise(lit(1.0d) - col("n_distinct") / col("n_grams")))
        .orderBy("doc_id")
    },
    Some("""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t
        FROM documents),
      g AS (SELECT doc_id,
          CASE WHEN len(t) >= 3 THEN
            list_transform(range(1, len(t) - 1),
              i -> array_to_string(t[i:i+2], ' '))
          ELSE [] END AS grams
        FROM tok)
      SELECT doc_id, CAST(len(grams) AS BIGINT) AS n_grams,
        CAST(len(list_distinct(grams)) AS BIGINT) AS n_distinct,
        CASE WHEN len(grams) = 0 THEN NULL
             ELSE 1.0 - CAST(len(list_distinct(grams)) AS DOUBLE)
                  / len(grams) END AS rep_ratio
      FROM g ORDER BY doc_id"""))

  // ---------------------------------------------------------------- x55
  /** Corpus-level boilerplate identification: the top-3 most frequent word
    * 3-grams per language (count desc, gram asc tie-break — total order,
    * so both engines agree). Explode → hash agg by (lang, gram) →
    * windowed top-k: two shuffles regardless of corpus size; the per-lang
    * window runs over aggregated gram counts, not documents, so a
    * dominant language is bounded by its VOCABULARY, not its row count. */
  val x55TopNgrams: Q = Q(
    (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("lang").orderBy(col("n").desc, col("gram"))
      Tables.documents(s, dir)
        .select(col("lang"), explode(Dedup.shingles(col("text"))).as("gram"))
        .groupBy("lang", "gram").agg(count(lit(1)).as("n"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select("lang", "rank", "gram", "n")
        .orderBy("lang", "rank")
    },
    Some("""WITH tok AS (SELECT lang, string_split(text, ' ') AS t
        FROM documents),
      g AS (SELECT lang, unnest(list_transform(range(1, greatest(len(t) - 1, 1)),
          i -> array_to_string(t[i:i+2], ' '))) AS gram
        FROM tok WHERE len(t) >= 3),
      c AS (SELECT lang, gram, CAST(count(*) AS BIGINT) AS n
        FROM g GROUP BY 1, 2),
      r AS (SELECT lang, gram, n,
          row_number() OVER (PARTITION BY lang ORDER BY n DESC, gram) AS rank
        FROM c)
      SELECT lang, rank, gram, n FROM r WHERE rank <= 3
      ORDER BY lang, rank"""))

  // ---------------------------------------------------------------- x56
  /** Unigram-LM document scoring — the corpus-LM quality filter (CCNet
    * style) with the LM honestly stubbed as the corpus's own unigram
    * distribution: score(doc) = mean over tokens of ln P(token), P from
    * global counts. Shape at 100 TB: one vocab hash-agg (bounded by
    * vocabulary, not corpus), a token⋈vocab equi-join the planner sizes
    * itself — NO broadcast hint: a web-scale vocabulary is unbounded and
    * a forced broadcast would OOM the executors; at test SF AQE
    * broadcasts it anyway, at scale it shuffle-joins — then one per-doc
    * agg. No quadratic anywhere. avg written as sum/count (engine avg
    * internals differ); float-log sum rounded at 6. */
  val x56UnigramScore: Q = Q(
    (s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      // cache the vocab: the corpus total derives from it (sum of counts)
      // instead of a second full token scan, and the join reuses it
      val vocab = toks.groupBy("token").agg(count(lit(1)).as("n")).cache()
      // corpus total as a LAZY broadcast scalar (x68/x69's device) — an
      // eager .head here would run a full corpus job at plan-CONSTRUCTION
      // time, before any caller consumes the result
      val total = vocab.agg(sum(col("n")).cast("double").as("_total"))
      toks.join(vocab, "token")
        .crossJoin(broadcast(total))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          round((sum(log(col("n") / col("_total"))) / count(lit(1))), 6)
            .as("mean_logp"))
        .orderBy("doc_id")
    },
    Some("""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
        FROM documents),
      vocab AS (SELECT token, count(*) AS n FROM tok GROUP BY 1),
      tot AS (SELECT count(*) AS total FROM tok)
      SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        round(sum(ln(v.n / (SELECT CAST(total AS DOUBLE) FROM tot)))
          / count(*), 6) AS mean_logp
      FROM tok t JOIN vocab v ON v.token = t.token
      GROUP BY 1 ORDER BY 1"""))

  // ---------------------------------------------------------------- x57
  /** Source-mixture reweighting — the data-mixing step: per `source`,
    * the sampling weight that moves the corpus to a uniform target mix,
    * capped at 4 epochs (the standard repeat bound). All outputs are
    * ratios of exact integers — raw IEEE division, bit-identical across
    * engines, never rounded. One hash-agg + a broadcast scalar join. */
  val x57MixtureWeights: Q = Q(
    (s, dir) => {
      val perSource = Tables.documents(s, dir)
        .groupBy("source").agg(count(lit(1)).as("n_docs"),
          sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"))
      val totals = perSource.agg(
        sum(col("n_docs")).as("total_docs"),
        count(lit(1)).as("n_sources"))
      perSource.crossJoin(broadcast(totals))
        .withColumn("actual_share", col("n_docs") / col("total_docs"))
        .withColumn("weight",
          least(col("total_docs") / (col("n_sources") * col("n_docs")),
            lit(4.0d)))
        .withColumn("eff_tokens", col("weight") * col("n_tokens"))
        .select("source", "n_docs", "n_tokens", "actual_share", "weight",
          "eff_tokens")
        .orderBy("source")
    },
    Some("""WITH ps AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
          CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        FROM documents GROUP BY 1),
      t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS total_docs,
          CAST(count(*) AS BIGINT) AS n_sources FROM ps)
      SELECT source, n_docs, n_tokens,
        n_docs / CAST(total_docs AS DOUBLE) AS actual_share,
        least(total_docs / (CAST(n_sources AS DOUBLE) * n_docs), 4.0)
          AS weight,
        least(total_docs / (CAST(n_sources AS DOUBLE) * n_docs), 4.0)
          * n_tokens AS eff_tokens
      FROM ps, t ORDER BY source"""))

  // ---------------------------------------------------------------- x58
  /** Document chunking — overlapping token windows (64 tokens, stride 48)
    * with stable ids, the preprocessing step that feeds embedding / RAG
    * indexing. Pure per-row array expressions + one explode: zero
    * shuffles before the final sort, so it scales as a map-side scan.
    * Chunk CONTENT is pinned cross-engine by md5 of the joined window —
    * the oracle proves byte equality of every chunk without shipping the
    * text. Chunk count = 1 + ceil(max(len−w, 0)/s); the trailing window
    * truncates (both engines' list slicing truncates past the end). */
  val x58ChunkDocuments: Q = {
    val w = 64
    val s = 48
    Q(
      (sp, dir) => {
        val toks = split(col("text"), " ")
        val len = size(toks)
        val nChunks = (lit(1) +
          ceil(greatest(len - w, lit(0)) / lit(s.toDouble))).cast("long")
        Tables.documents(sp, dir)
          .select(col("doc_id"), toks.as("t"), nChunks.as("nc"))
          .select(col("doc_id"), col("t"),
            explode(sequence(lit(0L), col("nc") - 1)).as("chunk_idx"))
          .withColumn("start_tok", lit(1L) + col("chunk_idx") * s)
          .withColumn("ct",
            slice(col("t"), col("start_tok").cast("int"), lit(w)))
          .select(col("doc_id"), col("chunk_idx"), col("start_tok"),
            size(col("ct")).cast("long").as("n_tokens"),
            md5(concat_ws(" ", col("ct"))).as("chunk_hash"))
          .orderBy("doc_id", "chunk_idx")
      },
      Some(s"""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t
          FROM documents),
        n AS (SELECT doc_id, t,
            1 + CAST(ceil(greatest(len(t) - $w, 0) / $s.0) AS BIGINT)
              AS n_chunks FROM tok),
        k AS (SELECT doc_id, t, unnest(range(0, n_chunks)) AS chunk_idx
          FROM n),
        c AS (SELECT doc_id, chunk_idx, 1 + chunk_idx * $s AS start_tok,
            t[(1 + chunk_idx * $s):(chunk_idx * $s + $w)] AS ct FROM k)
        SELECT doc_id, chunk_idx, start_tok,
          CAST(len(ct) AS BIGINT) AS n_tokens,
          md5(array_to_string(ct, ' ')) AS chunk_hash
        FROM c ORDER BY doc_id, chunk_idx"""))
  }

  // ---------------------------------------------------------------- x59
  /** Fuzzy decontamination by MinHash-set CONTAINMENT: for every training
    * doc (doc_id ≥ 25), the max over benchmark docs (doc_id < 25) of
    * |shingles(bench) ∩ shingles(train)| / |shingles(bench)| — "how much
    * of some benchmark document appears inside this training document".
    * Exact-overlap decontamination (x49) catches verbatim leakage;
    * containment catches PARTIAL embedding of a benchmark item inside a
    * longer document, the standard eval-leakage failure mode. At 100 TB
    * the benchmark side is a small static suite: both the per-bench-doc
    * shingle table and the size table broadcast, so the corpus is touched
    * by one scan + one hash aggregate — no corpus-side self-join.
    * Containment is a raw IEEE division of identical BIGINTs in both
    * engines (oracle-parity; never rounded). */
  val x59Containment: Q = Q(
    (s, dir) => {
      // cache: benchmark and training branches both read the shingle table
      val sh = Dedup.hashedShingleTable(Tables.documents(s, dir), "doc_id", "text")
        .cache()
      val benchSh = sh.filter(col("doc_id") < 25)
        .select(col("doc_id").as("bench_id"), col("h"))
      val bsz = benchSh.groupBy("bench_id").agg(count(lit(1)).as("bsz"))
      sh.filter(col("doc_id") >= 25)
        .join(broadcast(benchSh), "h")
        .groupBy(col("doc_id"), col("bench_id"))
        .agg(count(lit(1)).as("common"))
        .join(broadcast(bsz), "bench_id")
        .groupBy("doc_id")
        .agg(max(col("common") / col("bsz")).as("max_containment"))
        .orderBy("doc_id")
    },
    Some(s"""WITH $shingleCte,
      bench AS (SELECT doc_id AS bench_id, h FROM sh WHERE doc_id < 25),
      bsz AS (SELECT bench_id, count(*) AS bsz FROM bench GROUP BY 1),
      cm AS (SELECT t.doc_id, b.bench_id, count(*) AS common
        FROM sh t JOIN bench b ON b.h = t.h
        WHERE t.doc_id >= 25 GROUP BY 1, 2)
      SELECT doc_id, max(common / bsz) AS max_containment
      FROM cm JOIN bsz USING (bench_id)
      GROUP BY 1 ORDER BY 1"""))

  // ---------------------------------------------------------------- x60
  /** Pattern scrubbing / PII redaction: replace every match of a regex
    * with a placeholder and count hits — a pure per-row codegen'd
    * expression pipeline (zero shuffles before the final sort), so it
    * scales as a map-side scan at any corpus size. The query's scrub
    * pattern matches the synthetic corpus (so the oracle exercises real
    * replacements); the canned PII patterns ([[TextAnalysis.EmailPattern]]
    * etc.) ride along as counts (zero on this corpus — spec-verified on
    * synthetic PII instead). Patterns stay inside the Java∩RE2 regex
    * subset: character classes, alternation, \\b — no backrefs, no
    * lookaround — so Spark and DuckDB agree byte-for-byte. */
  val x60Redact: Q = {
    val pat = "\\b(customer|vector)\\b"
    Q(
      (s, dir) =>
        Tables.documents(s, dir)
          .select(col("doc_id"),
            regexp_replace(col("text"), lit(pat), lit("[TERM]"))
              .as("redacted"),
            size(regexp_extract_all(col("text"), lit(pat), lit(0)))
              .cast("long").as("n_hits"),
            size(regexp_extract_all(col("text"),
                lit(TextAnalysis.EmailPattern), lit(0)))
              .cast("long").as("n_emails"))
          .orderBy("doc_id"),
      Some(s"""SELECT doc_id,
          regexp_replace(text, '$pat', '[TERM]', 'g') AS redacted,
          CAST(len(regexp_extract_all(text, '$pat')) AS BIGINT) AS n_hits,
          CAST(len(regexp_extract_all(text, '${TextAnalysis.EmailPattern}'))
            AS BIGINT) AS n_emails
        FROM documents ORDER BY doc_id"""))
  }

  // ---------------------------------------------------------------- x61
  /** Winnowing fingerprints (MOSS): per-doc distinct window-min of hashed
    * 3-shingles, window 4 — a positional-guarantee sketch (any shared
    * ≥6-token run ⇒ shared fingerprint) at ~2/(w+1) shingle density.
    * See [[TextAnalysis.winnow]] for the scale shape (one window shuffle,
    * per-group state bounded by doc length). */
  val x61Winnow: Q = Q(
    (s, dir) =>
      TextAnalysis.winnow(Tables.documents(s, dir), "doc_id", "text",
          k = 3, w = 4)
        .orderBy("doc_id", "fingerprint"),
    Some(s"""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t
        FROM documents),
      posr AS (SELECT doc_id, t,
          unnest(range(1, greatest(len(t) - 1, 1))) AS i FROM tok),
      shpos AS (SELECT doc_id, i - 1 AS pos,
          (('0x' || substr(md5(array_to_string(t[i:i+2], ' ')), 1, 15))::BIGINT
            % ${Dedup.P}) AS h
        FROM posr),
      wm AS (SELECT doc_id, pos, min(h) OVER (PARTITION BY doc_id
          ORDER BY pos ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS wmin
        FROM shpos)
      SELECT DISTINCT doc_id, wmin AS fingerprint
      FROM wm WHERE pos >= 3
      ORDER BY doc_id, fingerprint"""))

  // ---------------------------------------------------------------- x62
  /** Per-doc token accounting under BOTH tokenizations — whitespace and
    * the BPE-style pretokenizer ([[TextAnalysis.BpeTokenPattern]]) — plus
    * chars-per-BPE-token, the density signal sequence budgeting uses.
    * Pure per-row expressions: zero shuffles before the final sort.
    * `chars_per_tok` is a raw IEEE division of identical integers in both
    * engines (never rounded — oracle-parity). */
  val x62BpeTokens: Q = Q(
    (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_ws"),
          TextAnalysis.bpeTokenCount(col("text")).as("n_bpe"),
          col("n_chars"))
        .withColumn("chars_per_tok", col("n_chars") / col("n_bpe"))
        .select("doc_id", "n_ws", "n_bpe", "chars_per_tok")
        .orderBy("doc_id"),
    Some(s"""SELECT doc_id,
        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws,
        CAST(len(regexp_extract_all(text,
          '${TextAnalysis.BpeTokenPattern.replace("'", "''")}')) AS BIGINT)
          AS n_bpe,
        n_chars / CAST(len(regexp_extract_all(text,
          '${TextAnalysis.BpeTokenPattern.replace("'", "''")}')) AS BIGINT)
          AS chars_per_tok
      FROM documents ORDER BY doc_id"""))

  // ---------------------------------------------------------------- x63
  /** Token-budget corpus selection: within each source, take documents in
    * quality order (longest-first here; any deterministic score works)
    * until a cumulative token budget is hit — the data-budgeting step that
    * turns "we can afford N tokens from this source" into a concrete doc
    * list. One window pass per source (sum over a total order — n_tok
    * desc, doc_id tiebreak — so the running total is reshuffle-stable).
    * Scale: partition = source; a mega-source serializes its window task —
    * the x48 distributed-prefix-sum pattern (`ext/Packing`) is the drop-in
    * fix at that point, same semantics. */
  val x63TokenBudget: Q = Q(
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          size(split(col("text"), " ")).cast("long").as("n_tok"))
        .withColumn("cum_tok", sum(col("n_tok")).over(
          Window.partitionBy("source")
            .orderBy(col("n_tok").desc, col("doc_id"))))
        .filter(col("cum_tok") <= 800)
        .orderBy("doc_id")
    },
    Some("""WITH t AS (SELECT doc_id, source,
        CAST(len(string_split(text,' ')) AS BIGINT) AS n_tok FROM documents),
      c AS (SELECT doc_id, source, n_tok,
        CAST(sum(n_tok) OVER (PARTITION BY source
          ORDER BY n_tok DESC, doc_id) AS BIGINT) AS cum_tok FROM t)
      SELECT doc_id, source, n_tok, cum_tok FROM c
      WHERE cum_tok <= 800 ORDER BY doc_id"""))

  // ---------------------------------------------------------------- x64
  /** Quality-proportional deterministic sampling: bin documents by a
    * quality proxy (token count, 5 bins) and keep each bin at a different
    * rate — 20% for bin 0 up to 100% for bin 4 — via the same md5-bucket
    * device as x47, so the sample is reshuffle-stable and reproducible
    * (no RNG state, no seed coordination across executors). This is the
    * "upsample high quality, downsample low" mixing step of a training
    * pipeline expressed as a pure filter: zero shuffles before the
    * final sort. */
  val x64QualitySample: Q = Q(
    (s, dir) => {
      val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 15),
        16, 10).cast("long") % 100
      Tables.documents(s, dir)
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tok"),
          bucket.as("bucket"))
        .withColumn("bin", least((col("n_tok") / 20).cast("long"), lit(4L)))
        .filter(col("bucket") < (col("bin") + 1) * 20)
        .select("doc_id", "n_tok", "bin", "bucket")
        .orderBy("doc_id")
    },
    Some("""WITH t AS (SELECT doc_id,
        CAST(len(string_split(text,' ')) AS BIGINT) AS n_tok,
        ('0x' || substr(md5(CAST(doc_id AS VARCHAR)),1,15))::BIGINT % 100 AS bucket
      FROM documents)
      SELECT doc_id, n_tok, least(n_tok // 20, 4) AS bin, bucket FROM t
      WHERE bucket < (least(n_tok // 20, 4) + 1) * 20 ORDER BY doc_id"""))

  // ---------------------------------------------------------------- x65
  /** Embedding outlier filtering: per-label centroid (element-wise mean),
    * cosine of every vector to its label centroid, outlier = cos < 0.
    * The embedding-space curation step that drops mislabeled / noise
    * vectors before training.
    *
    * Shape: ONE posexplode pass builds the centroids (labels × dim rows —
    * tiny), which broadcast back onto the un-exploded corpus; the per-row
    * cosine runs on the native array entirely through the codegen'd
    * [[graft.functions.DotF32]] (float×double accepted since round 9),
    * with the centroid self-norm folded once on the broadcast frame. The
    * corpus is never exploded a second time and never shuffled: scan →
    * broadcast join → expressions. Oracle computes the identical
    * arithmetic in exploded space; cosine rounded at 6 digits in both
    * engines (the float-accumulation precedent of x34/x35). */
  val x65EmbedOutliers: Q = Q(
    (s, dir) => {
      val embs = Tables.embeddings(s, dir)
      val ex = embs.select(col("vec_id"), col("label"),
          posexplode(col("embedding")).as(Seq("i", "xf")))
        .select(col("vec_id"), col("label"), col("i"),
          col("xf").cast("double").as("x"))
      // centroid mean written as explicit sum/count in BOTH engines —
      // never avg(): engine-internal AVG accumulation is the one ulp-level
      // divergence source the oracle-parity rules ban
      val cent = ex.groupBy("label", "i")
        .agg((sum(col("x")) / count(lit(1))).as("c"))
        .groupBy("label").agg(
          transform(array_sort(collect_list(struct(col("i"), col("c")))),
            s => s.getField("c")).as("cent"))
        // centroid self-norm folded once on the tiny frame (round 9),
        // not per corpus row; emb·cent through codegen DotF32
        // (float×double) — bit-identical to the HOF forms
        .withColumn("_cnrm",
          sqrt(Similarity.dotHof(col("cent"), col("cent"))))
      embs.join(broadcast(cent), "label")
        .withColumn("cos_centroid", round(
          Similarity.dot(col("embedding"), col("cent")) /
            (Similarity.norm(col("embedding")) * col("_cnrm")), 6))
        .withColumn("is_outlier", col("cos_centroid") < 0)
        .select("vec_id", "label", "cos_centroid", "is_outlier")
        .orderBy("vec_id")
    },
    Some("""WITH ex AS (SELECT vec_id, label,
        CAST(unnest(embedding) AS DOUBLE) AS x,
        generate_subscripts(embedding, 1) AS i FROM embeddings),
      cent AS (SELECT label, i, sum(x) / count(*) AS c FROM ex GROUP BY 1, 2),
      nc AS (SELECT label, sqrt(sum(c*c)) AS nc FROM cent GROUP BY 1),
      nv AS (SELECT vec_id, sqrt(sum(x*x)) AS nv FROM ex GROUP BY 1),
      dots AS (SELECT ex.vec_id, ex.label, sum(ex.x * cent.c) AS dp
        FROM ex JOIN cent ON ex.label = cent.label AND ex.i = cent.i
        GROUP BY 1, 2)
      SELECT d.vec_id, d.label,
        round(d.dp / (nv.nv * nc.nc), 6) AS cos_centroid,
        round(d.dp / (nv.nv * nc.nc), 6) < 0 AS is_outlier
      FROM dots d JOIN nv ON nv.vec_id = d.vec_id
        JOIN nc ON nc.label = d.label
      ORDER BY d.vec_id"""))

  // ---------------------------------------------------------------- x66
  /** Cross-document boilerplate removal ([[TextAnalysis.removeBoilerplate]]):
    * 3-token spans opening a shingle in ≥5 distinct docs are boilerplate;
    * covered tokens drop, the rest rejoin in order. Oracle reproduces the
    * identical span arithmetic (1-based positions both sides). */
  val x66Boilerplate: Q = Q(
    (s, dir) =>
      TextAnalysis.removeBoilerplate(
        Tables.documents(s, dir), "doc_id", "text", k = 3, minDf = 5)
        .orderBy("doc_id"),
    Some("""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t
        FROM documents),
      st0 AS (SELECT doc_id, t,
          unnest(range(1, greatest(len(t) - 1, 1))) AS i FROM tok),
      starts AS (SELECT doc_id, i,
          array_to_string(t[i:i+2], ' ') AS shingle FROM st0),
      boiler AS (SELECT shingle FROM
          (SELECT DISTINCT doc_id, shingle FROM starts)
        GROUP BY 1 HAVING count(*) >= 5),
      cov AS (SELECT DISTINCT s.doc_id, s.i + off.o AS p
        FROM starts s JOIN boiler b USING (shingle),
          (VALUES (0), (1), (2)) AS off(o)),
      tokp AS (SELECT doc_id, unnest(t) AS token,
          generate_subscripts(t, 1) AS p FROM tok),
      kept AS (SELECT tk.doc_id, tk.p, tk.token FROM tokp tk
        LEFT JOIN cov ON cov.doc_id = tk.doc_id AND cov.p = tk.p
        WHERE cov.p IS NULL),
      agg AS (SELECT doc_id, count(*) AS n_kept,
          string_agg(token, ' ' ORDER BY p) AS clean_text
        FROM kept GROUP BY 1)
      SELECT n.doc_id, CAST(len(n.t) AS BIGINT) AS n_tokens,
        CAST(len(n.t) - coalesce(a.n_kept, 0) AS BIGINT) AS n_removed,
        coalesce(a.clean_text, '') AS clean_text
      FROM tok n LEFT JOIN agg a USING (doc_id)
      ORDER BY n.doc_id"""))

  // ---------------------------------------------------------------- x67
  /** Incremental (delta) dedup: a NEW ingest batch (doc_id % 5 = 0 here;
    * any batch predicate works) probed against the EXISTING corpus via
    * cross-frame LSH ([[Dedup.lshCandidatesAcross]]) — new×old bands
    * only, never old×old — then exact-Jaccard verified; output is the
    * actionable drop list: each duplicate new doc with its best existing
    * match (max jaccard, min old id on ties). At 100 TB the old-side
    * signatures are a stored table maintained by previous ingests —
    * history is never re-paired against itself (linear, not quadratic,
    * per ingest), and the persisted [[Dedup.BandIndex]] form turns the
    * probe's history cost into a shuffle-free map-side scan. */
  val x67DeltaDedup: Q = Q(
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, dir)
      val sigs = Dedup.signatureColumns(docs, "doc_id", "text", 16)
      val cands = Dedup.lshCandidatesAcross(
          sigs.filter(col("doc_id") % 5 === 0),
          sigs.filter(col("doc_id") % 5 =!= 0), "doc_id")
        .select(col("id_new").as("id_a"), col("id_old").as("id_b"))
        .cache()
      val candIds = cands
        .select(explode(array(col("id_a"), col("id_b"))).as("doc_id"))
        .distinct()
      // per-row candidate shingle sets — same r19 verify-tail swap as
      // verifiedNearDupPairs (no explode, no collect_set exchange)
      val sets = Dedup.shingleSets(
        docs.join(candIds, Seq("doc_id"), "left_semi"), "doc_id", "text")
      val w = Window.partitionBy("id_a")
        .orderBy(col("jaccard").desc, col("id_b"))
      Dedup.jaccardVerifySets(cands, sets, "doc_id")
        .filter(col("jaccard") >= 0.8)
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("id_a").as("id_new"), col("id_b").as("id_old"),
          col("common"), col("jaccard"))
        .orderBy("id_new")
    },
    Some(s"""WITH $shingleCte,
      sigs AS (SELECT doc_id,
        ${(0 until 16).map(i => s"min((${Dedup.aConst(i)} * h + ${Dedup.bConst(i)}) % ${Dedup.P}) AS m$i").mkString(", ")}
        FROM sh GROUP BY 1),
      bands AS (
        ${(0 until 4).map(j => s"SELECT doc_id, $j AS band_idx, concat_ws('|', ${(j * 4 until j * 4 + 4).map("m" + _).mkString(", ")}) AS h FROM sigs")
          .mkString(" UNION ALL ")}),
      obK AS (SELECT band_idx, h FROM bands WHERE doc_id % 5 <> 0
        GROUP BY 1, 2 HAVING count(*) <= ${Dedup.DefaultMaxBucket}),
      cands AS (SELECT DISTINCT n.doc_id AS id_a, o.doc_id AS id_b
        FROM bands n
        JOIN bands o ON n.band_idx = o.band_idx AND n.h = o.h
          AND o.doc_id % 5 <> 0
        JOIN obK k ON k.band_idx = o.band_idx AND k.h = o.h
        WHERE n.doc_id % 5 = 0),
      sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
      cm AS (SELECT c.id_a, c.id_b, count(*) AS common
        FROM cands c
        JOIN sh sa ON sa.doc_id = c.id_a
        JOIN sh sb ON sb.doc_id = c.id_b AND sb.h = sa.h
        GROUP BY 1, 2),
      v AS (SELECT cm.id_a, cm.id_b, cm.common,
          cm.common / (za.sz + zb.sz - cm.common) AS jaccard
        FROM cm JOIN sizes za ON za.doc_id = cm.id_a
          JOIN sizes zb ON zb.doc_id = cm.id_b
        WHERE cm.common / (za.sz + zb.sz - cm.common) >= 0.8)
      SELECT id_a AS id_new, id_b AS id_old, common, jaccard FROM
        (SELECT v.*, row_number() OVER (PARTITION BY id_a
           ORDER BY jaccard DESC, id_b) AS rn FROM v)
      WHERE rn = 1 ORDER BY id_new"""))

  // ---------------------------------------------------------------- x68
  /** Mixture REALIZATION: turn uniformizing mixture weights (x57's
    * formula over `lang` — the skewed dimension in this corpus; `source`
    * is uniform) into a concrete deterministic training set.
    * Downsampling (weight < 1) is an
    * md5-bucket keep filter at probability `weight`; upsampling
    * (weight > 1) emits `n_copies = floor(weight)` plus one more with
    * probability `frac(weight)` — deterministic stochastic rounding via a
    * second, differently-salted md5 draw, so E[copies] = weight exactly
    * and a re-run (any partitioning, any cluster) reproduces the same
    * sample byte-for-byte. Weights broadcast (one row per lang); the
    * corpus is filtered map-side — zero corpus shuffles. */
  val x68MixtureRealize: Q = Q(
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val perLang = docs.groupBy("lang").agg(count(lit(1)).as("n_docs"))
      val totals = perLang.agg(sum(col("n_docs")).as("total_docs"),
        count(lit(1)).as("n_langs"))
      val rates = perLang.crossJoin(broadcast(totals))
        .select(col("lang"),
          least(col("total_docs") / (col("n_langs") * col("n_docs")),
            lit(4.0d)).as("weight"))
      def draw(salt: String) =
        conv(substring(md5(concat(col("doc_id").cast("string"), lit(salt))),
          1, 15), 16, 10).cast("long") % 10000
      docs.select(col("doc_id"), col("lang"))
        .join(broadcast(rates), "lang")
        .filter(draw(":keep") < least(col("weight"), lit(1.0d)) * 10000.0)
        .withColumn("n_copies",
          when(col("weight") <= 1.0, lit(1L)).otherwise(
            floor(col("weight")) +
              when(draw(":copy") <
                (col("weight") - floor(col("weight"))) * 10000.0, lit(1L))
                .otherwise(lit(0L))))
        .select("doc_id", "lang", "weight", "n_copies")
        .orderBy("doc_id")
    },
    Some("""WITH ps AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
        FROM documents GROUP BY 1),
      t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS total_docs,
          CAST(count(*) AS BIGINT) AS n_langs FROM ps),
      r AS (SELECT lang,
          least(total_docs / (CAST(n_langs AS DOUBLE) * n_docs), 4.0)
            AS weight FROM ps, t),
      d AS (SELECT doc_id, lang,
          ('0x' || substr(md5(doc_id || ':keep'), 1, 15))::BIGINT % 10000
            AS kb,
          ('0x' || substr(md5(doc_id || ':copy'), 1, 15))::BIGINT % 10000
            AS cb
        FROM documents)
      SELECT doc_id, d.lang, weight,
        CASE WHEN weight <= 1.0 THEN CAST(1 AS BIGINT)
             ELSE CAST(floor(weight) AS BIGINT) +
               CASE WHEN cb < (weight - floor(weight)) * 10000.0
                    THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END
        END AS n_copies
      FROM d JOIN r ON r.lang = d.lang
      WHERE kb < least(weight, 1.0) * 10000.0
      ORDER BY doc_id"""))

  // ---------------------------------------------------------------- x69
  /** Corpus drift monitor: Jensen–Shannon divergence of each language
    * subcorpus's unigram distribution against the global one — the
    * distribution-shift check a pipeline runs after every
    * mixing/filtering step (a lang whose JS jumps after a filter change
    * was disproportionately affected). Exact JS over the full vocabulary:
    * the (lang × vocab) grid makes the p=0 terms explicit (absent tokens
    * still contribute 0.5·q·ln 2 to KL(Q‖M)). Shape: one token explode →
    * two hash aggs (per-lang, global) → a langs×vocab grid join — grid
    * size is vocab-bounded, never corpus-bounded; sums rounded at 6 both
    * engines (x56's float-accumulation precedent). */
  val x69LangDrift: Q = Q(
    (s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(col("lang"), explode(split(col("text"), " ")).as("token"))
      val pl = toks.groupBy("lang", "token").agg(count(lit(1)).as("n")).cache()
      val lt = pl.groupBy("lang").agg(sum(col("n")).as("tot"))
      val g = pl.groupBy("token").agg(sum(col("n")).as("gn"))
      // corpus total as a lazy broadcast scalar (x68's device) — an eager
      // .head here would run a full corpus job at plan-CONSTRUCTION time
      val gt = g.agg(sum(col("gn")).cast("double").as("gtot"))
      val grid = lt.crossJoin(g) // langs × vocab — vocab-bounded, tiny
        .crossJoin(broadcast(gt))
        .join(pl, Seq("lang", "token"), "left")
        .withColumn("p", coalesce(col("n"), lit(0L)) / col("tot"))
        .withColumn("q", col("gn") / col("gtot"))
        .withColumn("m", (col("p") + col("q")) / 2)
      grid.groupBy("lang")
        .agg(max(col("tot")).as("n_tokens"),
          round(sum(
            when(col("p") > 0, col("p") * log(col("p") / col("m")) / 2)
              .otherwise(0d) +
            col("q") * log(col("q") / col("m")) / 2), 6).as("js_div"))
        .orderBy("lang")
    },
    Some("""WITH tok AS (SELECT lang, unnest(string_split(text, ' ')) AS token
        FROM documents),
      pl AS (SELECT lang, token, CAST(count(*) AS BIGINT) AS n
        FROM tok GROUP BY 1, 2),
      lt AS (SELECT lang, CAST(sum(n) AS BIGINT) AS tot FROM pl GROUP BY 1),
      g AS (SELECT token, CAST(sum(n) AS BIGINT) AS gn FROM pl GROUP BY 1),
      gt AS (SELECT CAST(sum(gn) AS DOUBLE) AS total FROM g),
      grid AS (SELECT lt.lang, lt.tot, g.token, g.gn,
          coalesce(pl.n, 0) / CAST(lt.tot AS DOUBLE) AS p,
          g.gn / (SELECT total FROM gt) AS q
        FROM lt CROSS JOIN g
        LEFT JOIN pl ON pl.lang = lt.lang AND pl.token = g.token)
      SELECT lang, max(tot) AS n_tokens,
        round(sum(
          CASE WHEN p > 0 THEN p * ln(p / ((p + q) / 2)) / 2 ELSE 0 END +
          q * ln(q / ((p + q) / 2)) / 2), 6) AS js_div
      FROM grid GROUP BY 1 ORDER BY 1"""))

  // ---------------------------------------------------------------- x70
  /** Hashed linear-classifier inference
    * ([[TextAnalysis.hashedLinearScore]]): fastText-style quality scoring
    * as a zero-shuffle map-side scan — unigram+bigram hashing trick
    * (native `ShingleHashF`), weight-array-literal lookup ("broadcast the
    * model into the expression"), integer fold, threshold. The oracle
    * rebuilds the identical weight table from the shared constants;
    * integer sums and the final integer-ratio division are exact in both
    * engines (no rounding anywhere). */
  val x70LinearClassifier: Q = Q(
    (s, dir) => TextAnalysis.hashedLinearScore(
      Tables.documents(s, dir), "doc_id", "text").orderBy("doc_id"),
    Some {
      import TextAnalysis.{LmA, LmB, LmDim, LmMod}
      s"""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      uni AS (SELECT doc_id, unnest(t) AS g FROM tok),
      big AS (SELECT doc_id,
          unnest(list_transform(range(1, greatest(len(t), 1)),
            i -> array_to_string(t[i:i+1], ' '))) AS g FROM tok),
      feats AS (SELECT doc_id, g FROM uni UNION ALL SELECT doc_id, g FROM big),
      w AS (SELECT doc_id,
          ((((('0x' || substr(md5(g),1,15))::BIGINT % ${Dedup.P}) % $LmDim)
            * $LmA + $LmB) % $LmMod) - ${LmMod / 2} AS wt
        FROM feats)
      SELECT doc_id, count(*) AS n_feat, CAST(sum(wt) AS BIGINT) AS score_sum,
        CAST(sum(wt) AS BIGINT) / count(*) AS score,
        CAST(sum(wt) AS BIGINT) / count(*) > 0.0 AS keep
      FROM w GROUP BY 1 ORDER BY 1"""
    })

  // ---------------------------------------------------------------- x78
  /** LSH estimator quality report: recall/precision of the PRODUCTION
    * x31 candidate pipeline (16 minhashes, 4×4 bands, bucket cap) against
    * exact ground truth (all-pairs Jaccard ≥ 0.5 via the uncapped
    * inverted index). The parameter-validation run every dedup pipeline
    * owes its operators: "what does the banding miss at this threshold?".
    *
    * Scale: this is an EVALUATION query — ground truth is quadratic in
    * matching pairs by nature, so it runs on a bounded sample (here the
    * corpus; in production a sampled slice), while the estimator under
    * test is the scale path itself. Ratios are raw IEEE divisions of
    * exact BIGINTs (never rounded). */
  val x78LshQuality: Q = Q(
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val shTbl = Dedup.hashedShingleTable(docs, "doc_id", "text")
      val truth = Dedup.ngramJaccardPairs(shTbl, "doc_id",
          maxDf = Int.MaxValue)
        .filter(col("jaccard") >= 0.5)
        .select(col("id_a"), col("id_b"), lit(1).as("in_t"))
      val sigs = Dedup.signatureColumns(docs, "doc_id", "text", 16)
      val cands = Dedup.lshCandidates(sigs, "doc_id", bands = 4, rows = 4)
        .select(col("id_a"), col("id_b"), lit(1).as("in_c"))
      truth.join(cands, Seq("id_a", "id_b"), "full_outer")
        .agg(
          sum(coalesce(col("in_t"), lit(0))).as("n_truth"),
          sum(coalesce(col("in_c"), lit(0))).as("n_cands"),
          sum(when(col("in_t") === 1 && col("in_c") === 1, 1).otherwise(0))
            .as("n_hits"))
        .withColumn("recall", col("n_hits") / col("n_truth"))
        .withColumn("precision", col("n_hits") / col("n_cands"))
    },
    Some(s"""WITH $shingleCte,
      $lshCandsCte,
      sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
      tcm AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
        FROM sh a JOIN sh b ON b.h = a.h AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      truth AS (SELECT id_a, id_b FROM tcm
        JOIN sizes za ON za.doc_id = id_a
        JOIN sizes zb ON zb.doc_id = id_b
        WHERE common / (za.sz + zb.sz - common) >= 0.5),
      j AS (SELECT t.id_a IS NOT NULL AS in_t, c.id_a IS NOT NULL AS in_c
        FROM truth t FULL OUTER JOIN cands c
          ON c.id_a = t.id_a AND c.id_b = t.id_b),
      agg AS (SELECT
          CAST(sum(CASE WHEN in_t THEN 1 ELSE 0 END) AS BIGINT) AS n_truth,
          CAST(sum(CASE WHEN in_c THEN 1 ELSE 0 END) AS BIGINT) AS n_cands,
          CAST(sum(CASE WHEN in_t AND in_c THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
        FROM j)
      SELECT n_truth, n_cands, n_hits,
        n_hits / nullif(n_truth, 0) AS recall,
        n_hits / nullif(n_cands, 0) AS precision
      FROM agg"""))

  // ---------------------------------------------------------------- x87
  /** Index-delete probe — the retention path of the maintained band
    * index, correctness-gated end to end: build + PERSIST the history
    * index ([[Dedup.bandIndexSave]]), tombstone-delete a slice
    * ([[Dedup.bandIndexDelete]] — O(delete batch), sizes decremented
    * by the same touched-bucket refresh an append runs, no corpus
    * rewrite),
    * reopen, and probe a new batch
    * ([[Dedup.lshCandidatesDelta]]). The oracle recomputes LSH
    * candidates from scratch over the RETAINED history — so this row
    * pins that tombstones + decremented sizes are observationally
    * identical to a rebuild (including the mega-bucket cap, which reads
    * the decremented counts). Scale: the delete is what it is at 100 TB
    * — a tombstone append plus one probe-class scan; the probe itself
    * stays the shuffle-free broadcast-batch form. */
  val x87IndexDeleteProbe: Q = Q(
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val sigs = Dedup.signatureColumns(docs, "doc_id", "text", 16)
      val history = sigs.filter(col("doc_id") % 5 =!= 0)
      val batch = sigs.filter(col("doc_id") % 5 === 0)
      val tmp = java.nio.file.Files
        .createTempDirectory("x87_band_idx").toString
      s.sql("DROP TABLE IF EXISTS x87_band_idx_t")
      Dedup.bandIndexSave(Dedup.bandIndexBuild(history, "doc_id"),
        "x87_band_idx_t", tmp, nBuckets = 8)
      Dedup.bandIndexDelete(
        docs.filter(col("doc_id") % 5 =!= 0 && col("doc_id") % 7 === 1)
          .select("doc_id"),
        "doc_id", "x87_band_idx_t", tmp)
      val reopened = Dedup.bandIndexLoad(s, "x87_band_idx_t", tmp)
      Dedup.lshCandidatesDelta(batch, reopened, "doc_id")
        .orderBy("id_new", "id_old")
    },
    Some(s"""WITH $shingleCte,
      sigs AS (SELECT doc_id,
        ${(0 until 16).map(i => s"min((${Dedup.aConst(i)} * h + ${Dedup.bConst(i)}) % ${Dedup.P}) AS m$i").mkString(", ")}
        FROM sh GROUP BY 1),
      bands AS (
        ${(0 until 4).map(j => s"SELECT doc_id, $j AS band_idx, concat_ws('|', ${(j * 4 until j * 4 + 4).map("m" + _).mkString(", ")}) AS h FROM sigs")
          .mkString(" UNION ALL ")}),
      retained AS (SELECT doc_id FROM documents
        WHERE doc_id % 5 <> 0 AND doc_id % 7 <> 1),
      obK AS (SELECT band_idx, h FROM bands
        JOIN retained USING (doc_id)
        GROUP BY 1, 2 HAVING count(*) <= ${Dedup.DefaultMaxBucket}),
      cands AS (SELECT DISTINCT n.doc_id AS id_new, o.doc_id AS id_old
        FROM bands n
        JOIN bands o ON o.band_idx = n.band_idx AND o.h = n.h
        JOIN retained r ON r.doc_id = o.doc_id
        JOIN obK k ON k.band_idx = o.band_idx AND k.h = o.h
        WHERE n.doc_id % 5 = 0)
      SELECT id_new, id_old FROM cands ORDER BY id_new, id_old"""))

  // ---------------------------------------------------------------- x89
  /** Index bulk probe — the OTHER half of the maintained band index's
    * probe surface, correctness-gated end to end: build + persist part
    * of the history ([[Dedup.bandIndexSave]]), extend it with an
    * incremental append ([[Dedup.bandIndexAppend]] — batch-sized banded
    * write + a sizes refresh that recomputes only the buckets the batch
    * touches, never a banded-table re-aggregate), reopen,
    * and probe a new batch through [[Dedup.lshCandidatesDeltaBulk]] (the
    * backfill form: the batch shuffles into the index's bucketing, the
    * index streams through a shuffled-hash join with zero exchange and
    * zero sort). The oracle recomputes LSH candidates from scratch over
    * the FULL history — so this row pins, against DuckDB, both that the
    * incrementally merged sizes drive the mega-bucket cap exactly (the
    * append path) and that the bulk join form is observationally
    * identical to the broadcast form x87 gates.
    * [[Dedup.lshCandidatesDeltaAuto]] picks between the two forms by
    * batch size; its branch-equivalence is spec-pinned (BandIndexSpec),
    * and both branches are now independently oracle-gated. */
  val x89IndexBulkProbe: Q = Q(
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val sigs = Dedup.signatureColumns(docs, "doc_id", "text", 16)
      val history = sigs.filter(col("doc_id") % 5 =!= 0)
      val batch = sigs.filter(col("doc_id") % 5 === 0)
      val tmp = java.nio.file.Files
        .createTempDirectory("x89_band_idx").toString
      s.sql("DROP TABLE IF EXISTS x89_band_idx_t")
      Dedup.bandIndexSave(Dedup.bandIndexBuild(
          history.filter(col("doc_id") % 3 =!= 0), "doc_id"),
        "x89_band_idx_t", tmp, nBuckets = 8)
      Dedup.bandIndexAppend(history.filter(col("doc_id") % 3 === 0),
        "doc_id", "x89_band_idx_t", tmp, nBuckets = 8)
      val reopened = Dedup.bandIndexLoad(s, "x89_band_idx_t", tmp)
      Dedup.lshCandidatesDeltaBulk(batch, reopened, "doc_id")
        .orderBy("id_new", "id_old")
    },
    Some(s"""WITH $shingleCte,
      sigs AS (SELECT doc_id,
        ${(0 until 16).map(i => s"min((${Dedup.aConst(i)} * h + ${Dedup.bConst(i)}) % ${Dedup.P}) AS m$i").mkString(", ")}
        FROM sh GROUP BY 1),
      bands AS (
        ${(0 until 4).map(j => s"SELECT doc_id, $j AS band_idx, concat_ws('|', ${(j * 4 until j * 4 + 4).map("m" + _).mkString(", ")}) AS h FROM sigs")
          .mkString(" UNION ALL ")}),
      hist AS (SELECT doc_id FROM documents WHERE doc_id % 5 <> 0),
      obK AS (SELECT band_idx, h FROM bands
        JOIN hist USING (doc_id)
        GROUP BY 1, 2 HAVING count(*) <= ${Dedup.DefaultMaxBucket}),
      cands AS (SELECT DISTINCT n.doc_id AS id_new, o.doc_id AS id_old
        FROM bands n
        JOIN bands o ON o.band_idx = n.band_idx AND o.h = n.h
        JOIN hist r ON r.doc_id = o.doc_id
        JOIN obK k ON k.band_idx = o.band_idx AND k.h = o.h
        WHERE n.doc_id % 5 = 0)
      SELECT id_new, id_old FROM cands ORDER BY id_new, id_old"""))

  val all: Map[String, Q] = Map(
    "x89_index_bulk_probe" -> x89IndexBulkProbe,
    "x87_index_delete_probe" -> x87IndexDeleteProbe,
    "x78_lsh_quality" -> x78LshQuality,
    "x70_linear_classifier" -> x70LinearClassifier,
    "x69_lang_drift" -> x69LangDrift,
    "x68_mixture_realize" -> x68MixtureRealize,
    "x67_delta_dedup" -> x67DeltaDedup,
    "x66_boilerplate" -> x66Boilerplate,
    "x59_containment" -> x59Containment,
    "x60_redact" -> x60Redact,
    "x61_winnow" -> x61Winnow,
    "x62_bpe_tokens" -> x62BpeTokens,
    "x63_token_budget" -> x63TokenBudget,
    "x64_quality_sample" -> x64QualitySample,
    "x65_embed_outliers" -> x65EmbedOutliers,
    "x58_chunk_documents" -> x58ChunkDocuments,
    "x56_unigram_score" -> x56UnigramScore,
    "x57_mixture_weights" -> x57MixtureWeights,
    "x54_repetition_ratio" -> x54RepetitionRatio,
    "x55_top_ngrams" -> x55TopNgrams,
    "x53_quantize_embeddings" -> x53QuantizeEmbeddings,
    "x52_pipeline_e2e" -> x52PipelineE2e,
    "x50_embed_dedup" -> x50EmbedDedup,
    "x86_blocked_auto_pairs" -> x86BlockedAutoPairs,
    "x51_frame_sample" -> x51FrameSample,
    "x47_stratified_split" -> x47StratifiedSplit,
    "x48_pack_sequences" -> x48PackSequences,
    "x49_decontaminate" -> x49Decontaminate,
    "x30_dedup_exact" -> x30DedupExact,
    "x31_minhash_lsh" -> x31MinhashLsh,
    "x32_simhash" -> x32Simhash,
    "x33_ngram_jaccard" -> x33NgramJaccard,
    "x34_cosine_pairs" -> x34CosinePairs,
    "x35_ann_topk" -> x35AnnTopK,
    "x36_ann_lsh" -> x36AnnLsh,
    "x37_langid" -> x37LangId,
    "x38_quality" -> x38Quality,
    "x39_token_count" -> x39TokenCount,
    "x40_fingerprint" -> x40Fingerprint,
    "x41_multimodal" -> x41Multimodal,
    "x43_tfidf" -> x43Tfidf,
    "x44_dedup_clusters" -> x44DedupClusters,
    "x45_array_stats" -> x45ArrayStats,
    "x46_udaf_candle" -> x46UdafCandle,
    "x84_leak_safe_split" -> x84LeakSafeSplit)
}
