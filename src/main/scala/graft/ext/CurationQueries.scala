package graft.ext

import org.apache.spark.sql.functions._
import graft.engine.{Queries, Tables}
import graft.engine.Queries.Q

/** Round-4 curation/retrieval queries (x71–x75): lexical retrieval (BM25),
  * distribution-matched selection (DSIR), semantic dedup (SemDeDup shape),
  * the cross-source contamination matrix, and the Gopher quality-rule
  * bundle. Oracle-parity conventions as in [[ExtQueries]]; float
  * accumulations quantize per-term to 8 decimals and sum in exact decimal
  * (order-independent), final outputs round at 6. */
object CurationQueries {

  // ---------------------------------------------------------------- x71
  /** BM25 top-k retrieval ([[Retrieval.bm25TopK]]) for a literal query.
    * Scan keeps only term-matching rows (isin prunes at the scan); corpus
    * stats and df are broadcast scalars. */
  private val QueryTerms = Seq("spark", "join", "window")

  val x71Bm25: Q = Q(
    (s, dir) => Retrieval.bm25TopK(Tables.documents(s, dir), QueryTerms,
      "doc_id", "text", k = 10),
    Some {
      val termList = QueryTerms.map(t => s"'$t'").mkString(", ")
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents),
      dl AS (SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents),
      st AS (SELECT count(*) AS n_docs,
          CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
      tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
        FROM tok WHERE tok IN ($termList) GROUP BY 1, 2),
      df AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
      ctr AS (SELECT tf.doc_id,
          CAST(round(ln((st.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
              * (tf.tf * 2.2)
              / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / st.avgdl)), 8)
            AS DECIMAL(24,8)) AS c
        FROM tf JOIN df USING (tok) JOIN dl USING (doc_id) CROSS JOIN st)
      SELECT doc_id, count(*) AS n_terms,
        round(CAST(sum(c) AS DOUBLE), 6) AS bm25
      FROM ctr GROUP BY 1 ORDER BY bm25 DESC, doc_id LIMIT 10"""
    })

  // ---------------------------------------------------------------- x72
  /** DSIR importance weights ([[Retrieval.dsirWeightsSlice]]): target =
    * the `lang = 'en'` slice, source = full corpus; hashed unigram+bigram
    * features (dim 4096). Since r19 the registration rides the slice
    * form — the target is a predicate over the source, so one fused
    * conditional-count pass derives both distributions (feature kernel
    * 2× over the corpus, not 3×) and the per-bucket log-ratio is
    * computed on the 4096-row frame before broadcast, not per feature
    * instance; bit-identical to the two-frame form (spec-pinned). The
    * oracle rebuilds the identical hashed distributions from the shared
    * md5→P→dim reduction. */
  val x72Dsir: Q = Q(
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      Retrieval.dsirWeightsSlice(docs, col("lang") === "en",
        "doc_id", "text").orderBy("doc_id")
    },
    Some {
      val dim = Retrieval.DsirDim
      val hash = s"((('0x' || substr(md5(g), 1, 15))::BIGINT % ${Dedup.P}) % $dim)"
      s"""WITH tokA AS (SELECT doc_id, lang, string_split(text, ' ') AS t
        FROM documents),
      uni AS (SELECT doc_id, lang, unnest(t) AS g FROM tokA),
      big AS (SELECT doc_id, lang,
          unnest(list_transform(range(1, greatest(len(t), 1)),
            i -> array_to_string(t[i:i+1], ' '))) AS g FROM tokA),
      feats AS (SELECT doc_id, lang, g FROM uni
        UNION ALL SELECT doc_id, lang, g FROM big),
      fb AS (SELECT doc_id, lang, $hash AS b FROM feats),
      tc AS (SELECT b, CAST(count(*) AS BIGINT) AS tc FROM fb
        WHERE lang = 'en' GROUP BY 1),
      sc AS (SELECT b, CAST(count(*) AS BIGINT) AS sc FROM fb GROUP BY 1),
      tt AS (SELECT CAST(sum(tc) AS DOUBLE) AS tt FROM tc),
      stt AS (SELECT CAST(sum(sc) AS DOUBLE) AS st FROM sc),
      ctr AS (SELECT fb.doc_id,
          CAST(round(ln(
              ((coalesce(tc.tc, 0) + 0.5) / (tt.tt + ${0.5 * dim}))
              / ((sc.sc + 0.5) / (stt.st + ${0.5 * dim}))), 8)
            AS DECIMAL(24,8)) AS c
        FROM fb LEFT JOIN tc USING (b) JOIN sc USING (b)
          CROSS JOIN tt CROSS JOIN stt)
      SELECT doc_id, count(*) AS n_feat,
        round(CAST(sum(c) AS DOUBLE) / count(*), 6) AS dsir_weight
      FROM ctr GROUP BY 1 ORDER BY 1"""
    })

  // ---------------------------------------------------------------- x73
  /** SemDeDup-shaped semantic dedup, ADAPTIVE registration
    * ([[Similarity.semanticDedupAuto]], VERDICT r17 #4): LSH-bucket
    * clusters with the plane count keyed to corpus size (the x86/x50
    * `AutoTarget`/`AutoMaxPlanes` device — expected bucket ≈ 100 rows,
    * so the keeper window never sees a corpus-sized partition),
    * per-cluster centroid, keep the most central vector, drop the
    * near-redundant core (cos ≥ τ), keep the diverse tail. Plane
    * constants are generated into the oracle (x36 technique); the
    * oracle recomputes the SAME integer plane ladder from its own
    * count(*), so both engines agree on the bucket keying at every SF
    * by construction. */
  private val SemTau = 0.35

  val x73SemanticDedup: Q = Q(
    (s, dir) => Similarity.semanticDedupAuto(Tables.embeddings(s, dir),
      "vec_id", targetBucket = ExtQueries.AutoTarget,
      maxPlanes = ExtQueries.AutoMaxPlanes, tau = SemTau).orderBy("vec_id"),
    Some {
      val mp = ExtQueries.AutoMaxPlanes
      val planeRows = Similarity.hyperplanes(mp, 64).zipWithIndex
        .flatMap { case (pl, pi) => pl.zipWithIndex.map { case (w, i) =>
          s"($pi, ${i + 1}, CAST($w AS DOUBLE))" } }.mkString(", ")
      s"""WITH ex AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
          generate_subscripts(embedding, 1) AS i FROM embeddings),
      norms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM ex GROUP BY 1),
      planes(p, i, w) AS (VALUES $planeRows),
      pd AS (SELECT ex.vec_id, pl.p, sum(ex.x * pl.w) AS d
        FROM ex JOIN planes pl ON pl.i = ex.i GROUP BY 1, 2),
      bits AS (SELECT vec_id,
          CAST(sum(CASE WHEN d > 0 THEN (CAST(1 AS BIGINT) << p) ELSE 0 END)
            AS BIGINT) AS bits
        FROM pd GROUP BY 1),
      pln AS (SELECT
          CASE ${(0 until ExtQueries.AutoMaxPlanes).map(q =>
            s"WHEN m <= ${1L << q} THEN $q").mkString(" ")}
               ELSE ${ExtQueries.AutoMaxPlanes} END AS planes
        FROM (SELECT (count(*) + ${ExtQueries.AutoTarget - 1})
                // ${ExtQueries.AutoTarget} AS m FROM embeddings)),
      bkt AS (SELECT vec_id,
          bits & ((CAST(1 AS BIGINT) << planes) - 1) AS bucket
        FROM bits CROSS JOIN pln),
      cent AS (SELECT b.bucket, ex.i,
          CAST(sum(CAST(round(ex.x, 7) AS DECIMAL(20,7))) AS DOUBLE)
            / count(*) AS c
        FROM ex JOIN bkt b USING (vec_id) GROUP BY 1, 2),
      nc AS (SELECT bucket, sqrt(sum(c * c)) AS nc FROM cent GROUP BY 1),
      dots AS (SELECT b.vec_id, b.bucket, sum(ex.x * cent.c) AS dp
        FROM ex JOIN bkt b USING (vec_id)
          JOIN cent ON cent.bucket = b.bucket AND cent.i = ex.i
        GROUP BY 1, 2),
      cosv AS (SELECT d.vec_id, d.bucket,
          round(d.dp / (nv.nrm * nc.nc), 6) AS cos_centroid
        FROM dots d JOIN norms nv ON nv.vec_id = d.vec_id
          JOIN nc ON nc.bucket = d.bucket),
      rk AS (SELECT *, row_number() OVER (PARTITION BY bucket
          ORDER BY cos_centroid DESC, vec_id) AS rn FROM cosv)
      SELECT vec_id, bucket, cos_centroid, rn = 1 AS is_keeper,
        CASE WHEN rn = 1 OR cos_centroid < $SemTau THEN 'keep'
          ELSE 'drop' END AS action
      FROM rk ORDER BY vec_id"""
    })

  // ---------------------------------------------------------------- x74
  /** Cross-source contamination matrix ([[Dedup.sourceOverlap]]):
    * pairwise Jaccard over each source's distinct 3-shingle set — the
    * provenance report run before mixing sources into one training
    * corpus. Inverted-index join: per-shingle work bounded by C(S,2). */
  val x74SourceOverlap: Q = Q(
    (s, dir) => Dedup.sourceOverlap(Tables.documents(s, dir))
      .orderBy("src_a", "src_b"),
    Some(s"""WITH tok AS (SELECT source, string_split(text, ' ') AS t
        FROM documents),
      shRaw AS (SELECT source,
          unnest(list_transform(range(1, greatest(len(t) - 1, 1)),
            i -> array_to_string(t[i:i+2], ' '))) AS shingle FROM tok),
      sh AS (SELECT DISTINCT source,
          (('0x' || substr(md5(shingle), 1, 15))::BIGINT % ${Dedup.P}) AS h
        FROM shRaw),
      sizes AS (SELECT source, CAST(count(*) AS BIGINT) AS sz
        FROM sh GROUP BY 1),
      cm AS (SELECT a.source AS src_a, b.source AS src_b,
          CAST(count(*) AS BIGINT) AS common
        FROM sh a JOIN sh b ON a.h = b.h AND a.source < b.source
        GROUP BY 1, 2)
      SELECT src_a, src_b, common,
        common / (za.sz + zb.sz - common) AS jaccard
      FROM cm JOIN sizes za ON za.source = src_a
        JOIN sizes zb ON zb.source = src_b
      ORDER BY 1, 2"""))

  // ---------------------------------------------------------------- x75
  /** Gopher quality-rule bundle ([[TextAnalysis.gopherRules]]): five
    * boolean gates + conjunction, every signal a per-row token-array fold
    * — zero shuffles. The oracle computes max word multiplicity by
    * explode+group (same integer as the sorted-run fold). */
  val x75GopherRules: Q = Q(
    (s, dir) => TextAnalysis.gopherRules(Tables.documents(s, dir),
        "doc_id", "text")
      .withColumn("n_words", col("n_words").cast("long"))
      .withColumn("stop_cnt", col("stop_cnt").cast("long"))
      .orderBy("doc_id"),
    Some {
      val stopPred = TextAnalysis.GopherStops
        .map(w => s"w = '$w'").mkString(" OR ")
      s"""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t
        FROM documents),
      base AS (SELECT doc_id, t, CAST(len(t) AS BIGINT) AS n_words,
          CAST(list_sum(list_transform(t, w -> length(w))) AS BIGINT) AS sum_wl,
          CAST(len(list_filter(t, w -> $stopPred)) AS BIGINT) AS stop_cnt,
          CAST(len(list_distinct(t)) AS BIGINT) AS n_distinct
        FROM tok),
      wc AS (SELECT doc_id, w, count(*) AS cnt
        FROM (SELECT doc_id, unnest(t) AS w FROM tok) GROUP BY 1, 2),
      rep AS (SELECT doc_id, CAST(max(cnt) AS BIGINT) AS max_rep
        FROM wc GROUP BY 1),
      m AS (SELECT b.doc_id, b.n_words,
          b.sum_wl / b.n_words AS mean_wl, b.stop_cnt,
          r.max_rep / b.n_words AS top_frac,
          b.n_distinct / b.n_words AS distinct_ratio
        FROM base b JOIN rep r USING (doc_id))
      SELECT doc_id, n_words, mean_wl, stop_cnt, top_frac, distinct_ratio,
        n_words >= 20 AND n_words <= 1000 AS size_ok,
        mean_wl >= 2.0 AND mean_wl <= 12.0 AS wl_ok,
        stop_cnt >= 2 AS stop_ok,
        top_frac <= 0.2 AS rep_ok,
        distinct_ratio >= 0.3 AS diversity_ok,
        (n_words >= 20 AND n_words <= 1000)
          AND (mean_wl >= 2.0 AND mean_wl <= 12.0)
          AND stop_cnt >= 2 AND top_frac <= 0.2
          AND distinct_ratio >= 0.3 AS pass
      FROM m ORDER BY 1"""
    })

  // ---------------------------------------------------------------- x76
  /** Bigram-LM cross-entropy scoring ([[TextAnalysis.bigramXent]]): the
    * CCNet perplexity-filter shape one order above x56's unigram scorer
    * — capped vocab (top-40, lexicographic tie-break), `<unk>` tail,
    * add-half smoothing, per-doc mean −ln p(w|prev). Vocab and count
    * tables are (K+1)²-bounded broadcasts. */
  val x76BigramLm: Q = Q(
    (s, dir) => TextAnalysis.bigramXent(Tables.documents(s, dir),
      "doc_id", "text", vocabK = 40).orderBy("doc_id"),
    Some("""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t
        FROM documents),
      tp AS (SELECT doc_id, unnest(t) AS w,
          generate_subscripts(t, 1) AS pos FROM tok),
      vc AS (SELECT w, count(*) AS c FROM tp GROUP BY 1),
      vocab AS (SELECT w FROM vc ORDER BY c DESC, w LIMIT 40),
      mapped AS (SELECT tp.doc_id, tp.pos,
          CASE WHEN v.w IS NOT NULL THEN tp.w ELSE '<unk>' END AS m
        FROM tp LEFT JOIN vocab v ON v.w = tp.w),
      big AS (SELECT a.doc_id, a.m AS prev, b.m AS m
        FROM mapped a JOIN mapped b
          ON b.doc_id = a.doc_id AND b.pos = a.pos + 1),
      c2 AS (SELECT prev, m, CAST(count(*) AS BIGINT) AS c2
        FROM big GROUP BY 1, 2),
      c1 AS (SELECT prev, CAST(count(*) AS BIGINT) AS c1
        FROM big GROUP BY 1),
      ctr AS (SELECT big.doc_id,
          CAST(round(-ln((c2.c2 + 0.5) / (c1.c1 + 20.5)), 8)
            AS DECIMAL(24,8)) AS c
        FROM big JOIN c2 USING (prev, m) JOIN c1 USING (prev))
      SELECT doc_id, count(*) AS n_bigrams,
        round(CAST(sum(c) AS DOUBLE) / count(*), 6) AS xent
      FROM ctr GROUP BY 1 ORDER BY 1"""))

  // ---------------------------------------------------------------- x77
  /** Contamination-span localization ([[Dedup.contaminationSpans]]):
    * x49/x59 decide WHETHER a training doc leaks a benchmark item; this
    * reports WHERE — longest run of consecutive shingle positions shared
    * with each benchmark doc (gaps-and-islands), as token count + start
    * offset. Benchmark = doc_id < 25 (the x49/x59 convention). */
  val x77ContaminationSpans: Q = Q(
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.contaminationSpans(docs.filter(col("doc_id") >= 25),
          docs.filter(col("doc_id") < 25), "doc_id", "text",
          k = 3, minRunShingles = 2)
        .orderBy("doc_id", "bench_id")
    },
    Some(s"""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t
        FROM documents),
      spos AS (SELECT doc_id, i - 1 AS pos,
          (('0x' || substr(md5(array_to_string(t[i:i+2], ' ')), 1, 15))::BIGINT
            % ${Dedup.P}) AS h
        FROM (SELECT doc_id, t,
            unnest(range(1, greatest(len(t) - 1, 1))) AS i FROM tok)),
      bset AS (SELECT DISTINCT doc_id AS bench_id, h FROM spos
        WHERE doc_id < 25),
      sh AS (SELECT s.doc_id, b.bench_id, s.pos
        FROM spos s JOIN bset b USING (h) WHERE s.doc_id >= 25),
      isl AS (SELECT doc_id, bench_id, pos,
          pos - row_number() OVER (PARTITION BY doc_id, bench_id
            ORDER BY pos) AS grp
        FROM sh),
      runs AS (SELECT doc_id, bench_id, grp,
          CAST(count(*) AS BIGINT) AS run, min(pos) AS start_pos
        FROM isl GROUP BY 1, 2, 3),
      best AS (SELECT *, row_number() OVER (PARTITION BY doc_id, bench_id
          ORDER BY run DESC, start_pos) AS rn FROM runs)
      SELECT doc_id, bench_id, run + 2 AS match_tokens, start_pos
      FROM best WHERE rn = 1 AND run >= 2 ORDER BY 1, 2"""))

  // ---------------------------------------------------------------- x79
  /** Hybrid retrieval ([[Retrieval.rrfFuse]]): BM25 lexical ranking (x71,
    * top-50) fused with embedding-cosine semantic ranking (x35's
    * brute-force against vec 0, top-50) by reciprocal-rank fusion — only
    * RANKS cross the fusion boundary, so the incomparable score scales
    * never meet and the fused score is a sum of exact-integer reciprocals
    * (no rounding anywhere). doc_id ≡ vec_id (FIXTURES.md: documents and
    * embeddings are row-aligned). */
  val x79HybridRetrieval: Q = Q(
    (s, dir) => {
      val lex = Retrieval.bm25TopK(Tables.documents(s, dir), QueryTerms,
        "doc_id", "text", k = 50)
      val embs = Tables.embeddings(s, dir)
      val qv = embs.filter(col("vec_id") === 0).select(col("embedding"))
      val sem = Similarity.bruteForceTopK(embs.filter(col("vec_id") =!= 0),
          qv, "vec_id", "embedding", k = 50)
        .withColumnRenamed("vec_id", "doc_id")
      Retrieval.rrfFuse(lex, sem, "doc_id", "bm25", "cos", k = 15)
    },
    Some {
      val termList = QueryTerms.map(t => s"'$t'").mkString(", ")
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents),
      dl AS (SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents),
      st AS (SELECT count(*) AS n_docs,
          CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
      tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
        FROM tok WHERE tok IN ($termList) GROUP BY 1, 2),
      df AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
      ctr AS (SELECT tf.doc_id,
          CAST(round(ln((st.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
              * (tf.tf * 2.2)
              / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / st.avgdl)), 8)
            AS DECIMAL(24,8)) AS c
        FROM tf JOIN df USING (tok) JOIN dl USING (doc_id) CROSS JOIN st),
      lex AS (SELECT doc_id, round(CAST(sum(c) AS DOUBLE), 6) AS bm25
        FROM ctr GROUP BY 1 ORDER BY bm25 DESC, doc_id LIMIT 50),
      lexr AS (SELECT doc_id,
          row_number() OVER (ORDER BY bm25 DESC, doc_id) AS lex_rank
        FROM lex),
      ex AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
          generate_subscripts(embedding, 1) AS i FROM embeddings),
      norms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM ex GROUP BY 1),
      qx AS (SELECT CAST(unnest(embedding) AS DOUBLE) AS qx,
          generate_subscripts(embedding, 1) AS i
        FROM embeddings WHERE vec_id = 0),
      qn AS (SELECT sqrt(sum(qx * qx)) AS n FROM qx),
      dots AS (SELECT e.vec_id, sum(e.x * q.qx) AS dp
        FROM ex e JOIN qx q ON e.i = q.i WHERE e.vec_id <> 0 GROUP BY 1),
      sem AS (SELECT d.vec_id AS doc_id,
          round(dp / (nm.nrm * qn.n), 6) AS cos
        FROM dots d JOIN norms nm ON nm.vec_id = d.vec_id, qn
        ORDER BY cos DESC, d.vec_id LIMIT 50),
      semr AS (SELECT doc_id,
          row_number() OVER (ORDER BY cos DESC, doc_id) AS sem_rank
        FROM sem),
      f AS (SELECT coalesce(l.doc_id, s.doc_id) AS doc_id,
          l.lex_rank, s.sem_rank,
          coalesce(1.0 / (60 + l.lex_rank), 0.0)
            + coalesce(1.0 / (60 + s.sem_rank), 0.0) AS rrf
        FROM lexr l FULL OUTER JOIN semr s ON s.doc_id = l.doc_id)
      SELECT doc_id, lex_rank, sem_rank, rrf
      FROM f ORDER BY rrf DESC, doc_id LIMIT 15"""
    })

  // ---------------------------------------------------------------- x80
  // tok→spos→dup→dp→m→isl→sp→q: x80's duplicated-shingle span detection
  // (k=3, minSpanTokens=4, gap > k breaks a span) as a shared oracle
  // fragment — x83's per-source rollup reads the same `q` spans, so the
  // two queries cannot drift (the x80 adjacency fix applied here once)
  private val dupSpanCte = s"""tok AS (SELECT doc_id, string_split(text, ' ') AS t
        FROM documents),
      spos AS (SELECT doc_id, len(t) AS n_tokens, i - 1 AS pos,
          (('0x' || substr(md5(array_to_string(t[i:i+2], ' ')), 1, 15))::BIGINT
            % ${Dedup.P}) AS h
        FROM (SELECT doc_id, t,
            unnest(range(1, greatest(len(t) - 1, 1))) AS i FROM tok)),
      dup AS (SELECT h FROM spos GROUP BY h
        HAVING min(doc_id) <> max(doc_id)),
      dp AS (SELECT doc_id, n_tokens, pos FROM spos JOIN dup USING (h)),
      m AS (SELECT doc_id, n_tokens, pos,
          CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
            <= 3 THEN 0 ELSE 1 END AS brk
        FROM dp),
      isl AS (SELECT doc_id, n_tokens, pos,
          sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
        FROM m),
      sp AS (SELECT doc_id, n_tokens, grp,
          CAST(max(pos) - min(pos) + 3 AS BIGINT) AS span_tokens
        FROM isl GROUP BY 1, 2, 3),
      q AS (SELECT * FROM sp WHERE span_tokens >= 4)"""

  /** Intra-corpus duplicate-span coverage ([[Dedup.duplicateSpans]]):
    * the exact-substring dedup signal — per doc, how many tokens sit in a
    * span shared verbatim with ANY other document. Pair-free plan (hash
    * agg + equi-join on the shingle hash), linear in corpus shingles. */
  val x80DupSpans: Q = Q(
    (s, dir) =>
      Dedup.duplicateSpans(Tables.documents(s, dir), "doc_id", "text",
          k = 3, minSpanTokens = 4)
        .orderBy("doc_id"),
    Some(s"""WITH $dupSpanCte
      SELECT doc_id, n_tokens,
        CAST(sum(span_tokens) AS BIGINT) AS dup_tokens,
        CAST(count(*) AS BIGINT) AS n_spans,
        CAST(max(span_tokens) AS BIGINT) AS longest_span,
        CAST(sum(span_tokens) AS BIGINT) / CAST(n_tokens AS DOUBLE)
          AS dup_ratio
      FROM q GROUP BY 1, 2 ORDER BY doc_id"""))

  // ---------------------------------------------------------------- x83
  /** Duplication pressure BY SOURCE — the ops rollup of x80: which corpus
    * source the duplicated text concentrates in. Flagged docs re-attach
    * their `source` via a doc-keyed equi-join (the span frame is already
    * doc-granular and strictly smaller than the corpus), per-source doc
    * totals come from one count agg, and `flagged_share`/`dup_token_share`
    * are raw integer ratios. Complements x74 (which pairs sources by
    * SHARED content; this charges each source its own duplicated
    * volume). */
  val x83SourceDupPressure: Q = Q(
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val spans = Dedup.duplicateSpans(docs, "doc_id", "text",
        k = 3, minSpanTokens = 4)
      val perSource = docs.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(size(split(col("text"), " ")).cast("long")).as("src_tokens"))
      spans.join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(count(lit(1)).as("flagged_docs"),
          sum(col("dup_tokens")).as("dup_tokens"),
          sum(col("n_spans")).as("n_spans"),
          max(col("longest_span")).as("longest_span"))
        .join(broadcast(perSource), "source")
        .withColumn("flagged_share", col("flagged_docs") / col("n_docs"))
        .withColumn("dup_token_share", col("dup_tokens") / col("src_tokens"))
        .select("source", "n_docs", "flagged_docs", "flagged_share",
          "dup_tokens", "n_spans", "longest_span", "dup_token_share")
        .orderBy("source")
    },
    Some(s"""WITH $dupSpanCte,
      perdoc AS (SELECT doc_id,
          CAST(sum(span_tokens) AS BIGINT) AS dup_tokens,
          CAST(count(*) AS BIGINT) AS n_spans,
          CAST(max(span_tokens) AS BIGINT) AS longest_span
        FROM q GROUP BY 1),
      ps AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
          CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS src_tokens
        FROM documents GROUP BY 1),
      fl AS (SELECT d.source,
          CAST(count(*) AS BIGINT) AS flagged_docs,
          CAST(sum(p.dup_tokens) AS BIGINT) AS dup_tokens,
          CAST(sum(p.n_spans) AS BIGINT) AS n_spans,
          CAST(max(p.longest_span) AS BIGINT) AS longest_span
        FROM perdoc p JOIN documents d USING (doc_id) GROUP BY 1)
      SELECT fl.source, ps.n_docs, fl.flagged_docs,
        fl.flagged_docs / CAST(ps.n_docs AS DOUBLE) AS flagged_share,
        fl.dup_tokens, fl.n_spans, fl.longest_span,
        fl.dup_tokens / CAST(ps.src_tokens AS DOUBLE) AS dup_token_share
      FROM fl JOIN ps USING (source) ORDER BY source"""))

  // ---------------------------------------------------------------- x88
  /** IVF recall evaluation — x78's quality-metric shape applied to ANN:
    * for a sample of query vectors, exact brute-force cosine top-k is
    * the ground truth and the deterministic label-cell IVF path (x85's
    * quantizer, nProbe=2) is the estimator under test; output is
    * per-query recall@k. Like x78 this is an EVALUATION query — ground
    * truth is exhaustive by nature, so it runs on a FIXED query budget
    * (every 50th vector among the first 500: ten queries at every SF,
    * so total eval work grows corpus-linearly, never corpus×queries)
    * while the estimator is the scale path
    * itself. Shape notes: the query sample broadcasts everywhere; the
    * corpus is scanned for the brute-force scoring (that scan IS the
    * ground truth's cost) and the centroid frame is dim×labels-bounded;
    * rankings round cosines at 6 before ordering with id tiebreaks, the
    * x34/x85 cross-engine determinism precedent. Recall is a raw IEEE
    * division of exact BIGINTs. */
  val x88IvfRecall: Q = Q(
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val embs = Tables.embeddings(s, dir)
      val (k, nProbe) = (10, 2)
      val queries = embs
        .filter(col("vec_id") % 50 === 0 && col("vec_id") < 500)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      val corpus = embs
        .filter(col("vec_id") % 50 =!= 0 || col("vec_id") >= 500)
      val qb = broadcast(queries
        .withColumn("_qn", Similarity.norm(col("q_emb"))))
      // ground truth: per-query exact cosine rank over the full corpus.
      // Materialized ONCE (localCheckpoint): both the truth branch and
      // the estimator's probed-cell re-rank consume this frame, and the
      // subtrees diverge before their exchanges so ReuseExchange cannot
      // dedup them — without the checkpoint the corpus-sized scoring
      // scan (the dominant cost) is paid twice per run
      val scored = corpus.crossJoin(qb)
        .withColumn("cos", round(
          Similarity.dot(col("embedding"), col("q_emb")) /
            (Similarity.norm(col("embedding")) * col("_qn")), 6))
        .select("q_id", "vec_id", "label", "cos")
        .localCheckpoint()
      val wq = Window.partitionBy("q_id")
        .orderBy(col("cos").desc, col("vec_id"))
      val truth = scored.withColumn("rn", row_number().over(wq))
        .filter(col("rn") <= k).select(col("q_id"), col("vec_id"))
      // estimator: exact-decimal label centroids (x85's quantizer),
      // per-query top-nProbe cells, exact cosine within probed cells only
      val ex = corpus.select(col("label"),
        posexplode(transform(col("embedding"), _.cast("double")))
          .as(Seq("i", "x")))
      val cent = ex.groupBy(col("label"), col("i"))
        .agg((sum(round(col("x"), 7).cast("decimal(20,7)")).cast("double") /
          count(lit(1))).as("cm"))
      val cn = cent.groupBy("label")
        .agg(sqrt(sum(col("cm") * col("cm"))).as("cn"))
      val qx = queries.select(col("q_id"),
        posexplode(transform(col("q_emb"), _.cast("double")))
          .as(Seq("i", "qx")))
      val probeCells = cent.join(broadcast(qx), "i")
        .groupBy("label", "q_id").agg(sum(col("cm") * col("qx")).as("dp"))
        .join(broadcast(cn), "label")
        .join(broadcast(qb.select(col("q_id"), col("_qn"))), "q_id")
        .withColumn("cell_cos", round(col("dp") / (col("cn") * col("_qn")), 6))
        .withColumn("rn", row_number().over(Window.partitionBy("q_id")
          .orderBy(col("cell_cos").desc, col("label"))))
        .filter(col("rn") <= nProbe).select("q_id", "label")
      val ivfTop = scored.join(broadcast(probeCells), Seq("q_id", "label"))
        .withColumn("rn", row_number().over(wq))
        .filter(col("rn") <= k).select(col("q_id"), col("vec_id"))
      truth.groupBy("q_id").agg(count(lit(1)).as("n_truth"))
        .join(truth.join(ivfTop, Seq("q_id", "vec_id"), "left_semi")
            .groupBy("q_id").agg(count(lit(1)).as("n_hits")),
          Seq("q_id"), "left_outer")
        .select(col("q_id"), col("n_truth"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"))
        .withColumn("recall", col("n_hits") / col("n_truth"))
        .orderBy("q_id")
    },
    Some("""WITH q AS (SELECT vec_id AS q_id, embedding FROM embeddings
        WHERE vec_id % 50 = 0 AND vec_id < 500),
      c AS (SELECT vec_id, label, embedding FROM embeddings
        WHERE vec_id % 50 <> 0 OR vec_id >= 500),
      cx AS (SELECT vec_id, label, CAST(unnest(embedding) AS DOUBLE) AS x,
          generate_subscripts(embedding, 1) AS i FROM c),
      qx AS (SELECT q_id, CAST(unnest(embedding) AS DOUBLE) AS qx,
          generate_subscripts(embedding, 1) AS i FROM q),
      qn AS (SELECT q_id, sqrt(sum(qx * qx)) AS qn FROM qx GROUP BY 1),
      nrm AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM cx GROUP BY 1),
      dots AS (SELECT cx.vec_id, cx.label, qx.q_id, sum(cx.x * qx.qx) AS dp
        FROM cx JOIN qx USING (i) GROUP BY 1, 2, 3),
      scored AS (SELECT d.q_id, d.vec_id, d.label,
          round(d.dp / (nm.nrm * qn.qn), 6) AS cos
        FROM dots d JOIN nrm nm USING (vec_id) JOIN qn USING (q_id)),
      truth AS (SELECT q_id, vec_id FROM (
          SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id
            ORDER BY cos DESC, vec_id) AS rn FROM scored) WHERE rn <= 10),
      cent AS (SELECT label, i,
          CAST(sum(CAST(round(x, 7) AS DECIMAL(20,7))) AS DOUBLE) / count(*)
            AS cm
        FROM cx GROUP BY 1, 2),
      cn AS (SELECT label, sqrt(sum(cm * cm)) AS cn FROM cent GROUP BY 1),
      cq AS (SELECT cent.label, qx.q_id, sum(cent.cm * qx.qx) AS dp
        FROM cent JOIN qx USING (i) GROUP BY 1, 2),
      probe AS (SELECT label, q_id FROM (
          SELECT cq.label, cq.q_id, row_number() OVER (PARTITION BY cq.q_id
            ORDER BY round(cq.dp / (cn.cn * qn.qn), 6) DESC, cq.label) AS rn
          FROM cq JOIN cn USING (label) JOIN qn USING (q_id)) WHERE rn <= 2),
      ivf AS (SELECT q_id, vec_id FROM (
          SELECT s.q_id, s.vec_id, row_number() OVER (PARTITION BY s.q_id
            ORDER BY s.cos DESC, s.vec_id) AS rn
          FROM scored s JOIN probe p ON p.q_id = s.q_id
            AND p.label = s.label) WHERE rn <= 10),
      agg AS (SELECT t.q_id, CAST(count(*) AS BIGINT) AS n_truth,
          CAST(sum(CASE WHEN i.vec_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_hits
        FROM truth t LEFT JOIN ivf i ON i.q_id = t.q_id
          AND i.vec_id = t.vec_id
        GROUP BY 1)
      SELECT q_id, n_truth, n_hits, n_hits / n_truth AS recall
      FROM agg ORDER BY q_id"""))

  // ---------------------------------------------------------------- x85
  /** Oracle-checked IVF ANN ([[Similarity.ivfDeterministicTopK]]): the
    * x42 search shape (centroids → cell ranking → probe top-nProbe →
    * in-cell brute force) with a deterministic label quantizer and
    * exact-decimal centroids, so the whole sublinear path hash-matches
    * DuckDB — closing the gap x42's trained-KMeans state forces to a
    * rows-only check. Query = vec 0 (the x35/x79 convention). */
  val x85AnnIvfDet: Q = Q(
    (s, dir) => {
      val embs = Tables.embeddings(s, dir)
      Similarity.ivfDeterministicTopK(embs.filter(col("vec_id") =!= 0),
        embs.filter(col("vec_id") === 0), "vec_id", "label",
        nProbe = 2, k = 10)
    },
    Some("""WITH ex AS (SELECT label, vec_id,
          CAST(unnest(embedding) AS DOUBLE) AS x,
          generate_subscripts(embedding, 1) AS i
        FROM embeddings WHERE vec_id <> 0),
      cent AS (SELECT label, i,
          CAST(sum(CAST(round(x, 7) AS DECIMAL(20,7))) AS DOUBLE) / count(*)
            AS c
        FROM ex GROUP BY 1, 2),
      qx AS (SELECT CAST(unnest(embedding) AS DOUBLE) AS qx,
          generate_subscripts(embedding, 1) AS i
        FROM embeddings WHERE vec_id = 0),
      qn AS (SELECT sqrt(sum(qx * qx)) AS n FROM qx),
      cj AS (SELECT label, sum(c * qx) AS dp, sqrt(sum(c * c)) AS cn
        FROM cent JOIN qx USING (i) GROUP BY 1),
      probe AS (SELECT label FROM cj, qn
        ORDER BY round(dp / (cn * qn.n), 6) DESC, label LIMIT 2),
      norms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm
        FROM ex JOIN probe USING (label) GROUP BY 1),
      dots AS (SELECT ex.vec_id, ex.label, sum(ex.x * q.qx) AS dp
        FROM ex JOIN probe USING (label) JOIN qx q ON q.i = ex.i
        GROUP BY 1, 2)
      SELECT d.vec_id, d.label, round(d.dp / (nm.nrm * qn.n), 6) AS cos
      FROM dots d JOIN norms nm ON nm.vec_id = d.vec_id, qn
      ORDER BY cos DESC, d.vec_id LIMIT 10"""))

  // ---------------------------------------------------------------- x93
  /** Oracle-checked FILTERED ANN ([[Similarity.ivfProbe]]'s `pred`, on
    * the x85 deterministic device): top-k restricted to candidates
    * matching a metadata predicate (`vec_id % 3 = 1` — the stand-in for
    * production `lang = 'en'` / `source IN (…)` retrieval filters).
    * The split the SQL mirrors is the semantic contract: centroids and
    * the cell ranking come from the FULL corpus (`ex`, unfiltered);
    * the predicate conjoins ONLY the in-cell scan (`norms`/`dots`) —
    * post-filtering ANN, the FAISS `IDSelector` shape. On a saved
    * index the production path pushes the predicate into the pruned
    * parquet scan next to the `cell IN (…)` bucket prune
    * (plan-asserted in IvfIndexSpec). */
  val x93FilteredAnn: Q = Q(
    (s, dir) => {
      val embs = Tables.embeddings(s, dir)
      Similarity.ivfDeterministicTopK(embs.filter(col("vec_id") =!= 0),
        embs.filter(col("vec_id") === 0), "vec_id", "label",
        nProbe = 2, k = 10, pred = Some(col("vec_id") % 3 === 1))
    },
    Some("""WITH ex AS (SELECT label, vec_id,
          CAST(unnest(embedding) AS DOUBLE) AS x,
          generate_subscripts(embedding, 1) AS i
        FROM embeddings WHERE vec_id <> 0),
      cent AS (SELECT label, i,
          CAST(sum(CAST(round(x, 7) AS DECIMAL(20,7))) AS DOUBLE) / count(*)
            AS c
        FROM ex GROUP BY 1, 2),
      qx AS (SELECT CAST(unnest(embedding) AS DOUBLE) AS qx,
          generate_subscripts(embedding, 1) AS i
        FROM embeddings WHERE vec_id = 0),
      qn AS (SELECT sqrt(sum(qx * qx)) AS n FROM qx),
      cj AS (SELECT label, sum(c * qx) AS dp, sqrt(sum(c * c)) AS cn
        FROM cent JOIN qx USING (i) GROUP BY 1),
      probe AS (SELECT label FROM cj, qn
        ORDER BY round(dp / (cn * qn.n), 6) DESC, label LIMIT 2),
      norms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm
        FROM ex JOIN probe USING (label)
        WHERE vec_id % 3 = 1 GROUP BY 1),
      dots AS (SELECT ex.vec_id, ex.label, sum(ex.x * q.qx) AS dp
        FROM ex JOIN probe USING (label) JOIN qx q ON q.i = ex.i
        WHERE ex.vec_id % 3 = 1 GROUP BY 1, 2)
      SELECT d.vec_id, d.label, round(d.dp / (nm.nrm * qn.n), 6) AS cos
      FROM dots d JOIN norms nm ON nm.vec_id = d.vec_id, qn
      ORDER BY cos DESC, d.vec_id LIMIT 10"""))

  /** The ONE deterministic PQ fixture every compression-family oracle
    * shares (x90/x91/x92/x96/x98/x100/x101): seed-fixed codebooks small
    * enough that the codeword literals generate into the SQL (the x36
    * plane-constants device), and the VALUES string built exactly once —
    * seven per-query copies of the same builder would let a future
    * positional-formula edit silently desynchronize the oracles
    * (review r15; the autoSubCte treatment applied to the codewords). */
  private val DetCb = Pq.deterministicCodebooks(dim = 64, m = 2, k = 4)
  private val DetCwValues: String =
    DetCb.cents.zipWithIndex.flatMap { case (cws, s) =>
      cws.zipWithIndex.flatMap { case (w, c) =>
        w.zipWithIndex.map { case (x, j) =>
          s"($s, $c, ${s * DetCb.subDim + j + 1}, CAST($x AS DOUBLE))" }
      }
    }.mkString(", ")

  // ---------------------------------------------------------------- x90
  /** Oracle-checked product quantization ([[Pq]] — IVF-PQ's compression
    * layer): encode the corpus with DETERMINISTIC seed-fixed codebooks
    * (m=2 subspaces × k=4 codewords over dim 64 — small enough that the
    * codeword literals generate into the SQL, the x36 plane-constants
    * device) and rank by ADC approximate cosine against vec 0's
    * embedding. The Spark side runs the PRODUCTION kernels — the
    * codegen [[graft.functions.NearestCentroidF]] argmin encode and the
    * [[graft.functions.PqAdcF]] lookup fold — while DuckDB recomputes
    * the same math from a 256-row VALUES table, so both new kernels are
    * hash-checked cross-engine. Trained codebooks (PqSpec) differ only
    * in where `cents` comes from; the kernels are identical. The 1-row
    * query-embedding collect at call time is bounded at dim doubles
    * (the ivfProbe probe-cell-collect precedent). */
  val x90PqAdc: Q = {
    val cb = DetCb
    val cwValues = DetCwValues
    Q(
      (s, dir) => {
        val embs = Tables.embeddings(s, dir)
        val q = embs.filter(col("vec_id") === 0)
          .select(transform(col("embedding"), x => x.cast("double")).as("q"))
          .head.getSeq[Double](0).toIndexedSeq
        Pq.pqTopK(
          Pq.pqEncode(embs.filter(col("vec_id") =!= 0), "embedding", cb),
          cb, q, "vec_id", k = 10)
      },
      Some(s"""WITH cw(s, c, i, w) AS (VALUES $cwValues),
        ex AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
            generate_subscripts(embedding, 1) AS i
          FROM embeddings WHERE vec_id <> 0),
        dist AS (SELECT e.vec_id, cw.s, cw.c,
            sum((e.x - cw.w) * (e.x - cw.w)) AS d
          FROM ex e JOIN cw ON cw.i = e.i GROUP BY 1, 2, 3),
        code AS (SELECT vec_id, s, c FROM (
            SELECT vec_id, s, c, row_number() OVER (PARTITION BY vec_id, s
              ORDER BY d ASC, c ASC) AS rn FROM dist) WHERE rn = 1),
        qx AS (SELECT CAST(unnest(embedding) AS DOUBLE) AS qx,
            generate_subscripts(embedding, 1) AS i
          FROM embeddings WHERE vec_id = 0),
        qn AS (SELECT sqrt(sum(qx * qx)) AS n FROM qx),
        lut AS (SELECT cw.s, cw.c, sum(cw.w * q.qx) AS dp,
            sum(cw.w * cw.w) AS w2
          FROM cw JOIN qx q ON q.i = cw.i GROUP BY 1, 2),
        scored AS (SELECT k.vec_id, sum(l.dp) AS adc, sum(l.w2) AS rn2
          FROM code k JOIN lut l ON l.s = k.s AND l.c = k.c GROUP BY 1)
        SELECT s.vec_id, round(s.adc / (sqrt(s.rn2) * qn.n), 6) AS cos_pq
        FROM scored s, qn ORDER BY cos_pq DESC, s.vec_id LIMIT 10"""))
  }

  // ---------------------------------------------------------------- x91
  /** Oracle-checked BULK IVF-PQ probe ([[Pq.ivfPqProbeBulk]] — VERDICT
    * r11 #3): a batch of queries (the x88 fixed-budget sample: every
    * 50th vector among the first 500) probed against one PQ-encoded
    * index in a single distributed pass — per-query LUTs computed as
    * data, joined to the probed cells, never built sequentially on the
    * driver. Cells are the deterministic label quantizer with
    * exact-decimal centroids (x85/x88 device) and the codebooks are the
    * x90 seed-fixed deterministic set (m=2 × k=4, literals generated
    * into the SQL), so the ENTIRE bulk path — per-query cell ranking,
    * distributed LUT build, [[graft.functions.PqAdcPairF]] column-LUT
    * scoring, per-query windowed top-k — hash-matches DuckDB. Cell
    * distances round at 6 before ranking (the cross-engine rank rule);
    * ADC cosines round at 6 with (q_id, vec_id) tie-breaks. */
  val x91PqBulkProbe: Q = {
    val cb = DetCb
    val cwValues = DetCwValues
    Q(
      (s, dir) => {
        val embs = Tables.embeddings(s, dir)
        val queries = embs
          .filter(col("vec_id") % 50 === 0 && col("vec_id") < 500)
          .select(col("vec_id").as("q_id"), col("embedding"))
        val corpus = embs
          .filter(col("vec_id") % 50 =!= 0 || col("vec_id") >= 500)
        // r20: the CentroidAggF kernel (bit-identical to the posexplode
        // pipeline, CentroidAggSpec) — one aggregate, no dim-wise row
        // expansion, no (label, i) exchange; isNotNull keeps the
        // exploded form's no-row semantics for all-null groups
        val cent = corpus.groupBy(col("label"))
          .agg(Similarity.centroid(col("embedding")).as("cent"))
          .filter(col("cent").isNotNull)
          .select(col("label").cast("int").as("cell"), col("cent"))
        val assigned = Pq.pqEncode(corpus, "embedding", cb)
          .select(col("vec_id"), col("label").cast("int").as("cell"),
            col("codes"), col("recon_norm"))
        Pq.ivfPqProbeBulk(Similarity.IvfIndex(assigned, cent), cb,
          queries, "q_id", "vec_id", nProbe = 2, k = 10)
      },
      Some(s"""WITH cw(s, c, i, w) AS (VALUES $cwValues),
        q AS (SELECT vec_id AS q_id, embedding FROM embeddings
          WHERE vec_id % 50 = 0 AND vec_id < 500),
        corp AS (SELECT vec_id, label, embedding FROM embeddings
          WHERE vec_id % 50 <> 0 OR vec_id >= 500),
        ex AS (SELECT vec_id, label, CAST(unnest(embedding) AS DOUBLE) AS x,
            generate_subscripts(embedding, 1) AS i FROM corp),
        qx AS (SELECT q_id, CAST(unnest(embedding) AS DOUBLE) AS qx,
            generate_subscripts(embedding, 1) AS i FROM q),
        qn AS (SELECT q_id, sqrt(sum(qx * qx)) AS qn FROM qx GROUP BY 1),
        cent AS (SELECT label, i,
            CAST(sum(CAST(round(x, 7) AS DECIMAL(20,7))) AS DOUBLE)
              / count(*) AS cm
          FROM ex GROUP BY 1, 2),
        cq AS (SELECT cent.label, qx.q_id,
            round(sum((cent.cm - qx.qx) * (cent.cm - qx.qx)), 6) AS dist
          FROM cent JOIN qx USING (i) GROUP BY 1, 2),
        probe AS (SELECT label, q_id FROM (
            SELECT label, q_id, row_number() OVER (PARTITION BY q_id
              ORDER BY dist ASC, label ASC) AS rn FROM cq) WHERE rn <= 2),
        dist AS (SELECT e.vec_id, cw.s, cw.c,
            sum((e.x - cw.w) * (e.x - cw.w)) AS d
          FROM ex e JOIN cw ON cw.i = e.i GROUP BY 1, 2, 3),
        code AS (SELECT vec_id, s, c FROM (
            SELECT vec_id, s, c, row_number() OVER (PARTITION BY vec_id, s
              ORDER BY d ASC, c ASC) AS rn FROM dist) WHERE rn = 1),
        lut AS (SELECT q.q_id, cw.s, cw.c, sum(cw.w * q.qx) AS dp,
            sum(cw.w * cw.w) AS w2
          FROM cw JOIN qx q ON q.i = cw.i GROUP BY 1, 2, 3),
        cellof AS (SELECT vec_id, label FROM corp),
        scored AS (SELECT k.vec_id, p.q_id, sum(l.dp) AS adc,
            sum(l.w2) AS rn2
          FROM code k JOIN cellof cf USING (vec_id)
          JOIN probe p ON p.label = cf.label
          JOIN lut l ON l.q_id = p.q_id AND l.s = k.s AND l.c = k.c
          GROUP BY 1, 2),
        fin AS (SELECT s.q_id, s.vec_id,
            round(s.adc / (sqrt(s.rn2) * qn.qn), 6) AS cos_pq
          FROM scored s JOIN qn USING (q_id)),
        rk AS (SELECT q_id, vec_id, cos_pq, row_number() OVER (
            PARTITION BY q_id ORDER BY cos_pq DESC, vec_id) AS rn FROM fin)
        SELECT q_id, vec_id, cos_pq FROM rk WHERE rn <= 10
        ORDER BY q_id, cos_pq DESC, vec_id"""))
  }

  // ---------------------------------------------------------------- x94
  /** Oracle-checked BULK raw-IVF probe ([[Similarity.ivfProbeBulk]] —
    * the exact-cosine twin of x91's PQ bulk form, previously pinned
    * only by IvfIndexSpec's bulk-≡-sequential case): the x91 query
    * batch (every 50th vector among the first 500) probed against the
    * deterministic label-cell index in ONE distributed pass —
    * per-query cell ranking on the driver (top-nProbe by (dist
    * rounded at 6, cell), [[Similarity.rankCells]]), one pruned
    * scan of the probed-cell union, exact cosine, per-query windowed
    * top-k. Exact-decimal label centroids (the x85/x88 device) make
    * the whole path — ranking, pruning, scoring, tie-breaks —
    * hash-match DuckDB. */
  val x94IvfBulkProbe: Q = Q(
    (s, dir) => {
      val embs = Tables.embeddings(s, dir)
      val queries = embs
        .filter(col("vec_id") % 50 === 0 && col("vec_id") < 500)
        .select(col("vec_id").as("q_id"), col("embedding"))
      val corpus = embs
        .filter(col("vec_id") % 50 =!= 0 || col("vec_id") >= 500)
      // r20: CentroidAggF kernel — see the x91 note (bit-identical,
      // one aggregate instead of posexplode + two)
      val cent = corpus.groupBy(col("label"))
        .agg(Similarity.centroid(col("embedding")).as("cent"))
        .filter(col("cent").isNotNull)
        .select(col("label").cast("int").as("cell"), col("cent"))
      val assigned = corpus.select(col("vec_id"),
        col("label").cast("int").as("cell"), col("embedding"))
      Similarity.ivfProbeBulk(Similarity.IvfIndex(assigned, cent),
        queries, "q_id", "vec_id", nProbe = 2, k = 10)
    },
    Some("""WITH q AS (SELECT vec_id AS q_id, embedding FROM embeddings
        WHERE vec_id % 50 = 0 AND vec_id < 500),
      corp AS (SELECT vec_id, label, embedding FROM embeddings
        WHERE vec_id % 50 <> 0 OR vec_id >= 500),
      ex AS (SELECT vec_id, label, CAST(unnest(embedding) AS DOUBLE) AS x,
          generate_subscripts(embedding, 1) AS i FROM corp),
      qx AS (SELECT q_id, CAST(unnest(embedding) AS DOUBLE) AS qx,
          generate_subscripts(embedding, 1) AS i FROM q),
      qn AS (SELECT q_id, sqrt(sum(qx * qx)) AS qn FROM qx GROUP BY 1),
      cent AS (SELECT label, i,
          CAST(sum(CAST(round(x, 7) AS DECIMAL(20,7))) AS DOUBLE)
            / count(*) AS cm
        FROM ex GROUP BY 1, 2),
      cq AS (SELECT cent.label, qx.q_id,
          round(sum((cent.cm - qx.qx) * (cent.cm - qx.qx)), 6) AS dist
        FROM cent JOIN qx USING (i) GROUP BY 1, 2),
      probe AS (SELECT label, q_id FROM (
          SELECT label, q_id, row_number() OVER (PARTITION BY q_id
            ORDER BY dist ASC, label ASC) AS rn FROM cq) WHERE rn <= 2),
      norms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm
        FROM ex GROUP BY 1),
      dots AS (SELECT e.vec_id, e.label, p.q_id, sum(e.x * qx.qx) AS dp
        FROM ex e JOIN probe p ON p.label = e.label
        JOIN qx ON qx.q_id = p.q_id AND qx.i = e.i
        GROUP BY 1, 2, 3),
      fin AS (SELECT d.q_id, d.vec_id, CAST(d.label AS INT) AS cell,
          round(d.dp / (n.nrm * qn.qn), 6) AS cos
        FROM dots d JOIN norms n ON n.vec_id = d.vec_id
        JOIN qn ON qn.q_id = d.q_id),
      rk AS (SELECT q_id, vec_id, cell, cos, row_number() OVER (
          PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rn FROM fin)
      SELECT q_id, vec_id, cell, cos FROM rk WHERE rn <= 10
      ORDER BY q_id, cos DESC, vec_id"""))

  // ---------------------------------------------------------------- x95
  /** Oracle-checked HIERARCHICAL probe ([[Similarity.ivfProbeHier]] /
    * [[Similarity.rankCells]] — previously pinned only by
    * IvfIndexSpec's exhaustive-≡-flat and self-consistency cases): the
    * two-level cell ranking itself, cross-engine. The production
    * super-quantizer is a seeded KMeans fit (not SQL-reproducible), so
    * the device here CONSTRUCTS the hierarchy deterministically —
    * supers are `cell / 5` label groups, super-centroids the
    * exact-decimal element-wise mean of the member label centroids
    * (the x85 decimal(20,7) convention, one level up) — and both
    * engines walk the same two-step ranking: top-`nProbeSuper` supers
    * by (squared-L2 rounded at 6, super asc), then only their
    * children ranked by the same rule, then the exact in-cell scan.
    * With nProbeSuper = 1 the probe deliberately considers ONLY the
    * nearest super's cells — the hierarchical-quantizer approximation
    * is the measured semantics here, not flat-equality. */
  val x95HierProbe: Q = Q(
    (s, dir) => {
      val embs = Tables.embeddings(s, dir)
      val query = embs.filter(col("vec_id") === 0).select("embedding")
      val corpus = embs.filter(col("vec_id") =!= 0)
      // r20: CentroidAggF kernel — see the x91 note (bit-identical,
      // one aggregate instead of posexplode + two)
      val cent = corpus.groupBy(col("label"))
        .agg(Similarity.centroid(col("embedding")).as("cent"))
        .filter(col("cent").isNotNull)
        .select(col("label").cast("int").as("cell"), col("cent"))
      val withSuper = cent
        .withColumn("super", (col("cell") / lit(5)).cast("int"))
      val children = withSuper.groupBy("super")
        .agg(sort_array(collect_list(struct(col("cell"), col("cent"))))
          .as("cands"))
      // super-centroids: exact-decimal element-wise mean of the child
      // centroids — nSuper rows collected (the bounded driver matrix
      // the hierarchy is FOR)
      val sc = withSuper
        .select(col("super"), posexplode(col("cent")).as(Seq("i", "c")))
        .groupBy("super", "i")
        .agg((sum(round(col("c"), 7).cast("decimal(20,7)")).cast("double") /
          count(lit(1))).as("sc"))
        .groupBy("super").agg(
          transform(array_sort(collect_list(struct(col("i"), col("sc")))),
            e => e.getField("sc")).as("scent"))
        .orderBy("super").collect()
      val superQ = Similarity.IvfSuper(
        sc.map(_.getInt(0)).toIndexedSeq,
        sc.map(_.getSeq[Number](1).map(_.doubleValue).toIndexedSeq)
          .toIndexedSeq,
        children)
      val assigned = corpus.select(col("vec_id"),
        col("label").cast("int").as("cell"), col("embedding"))
      Similarity.ivfProbeHier(Similarity.IvfIndex(assigned, cent),
        superQ, query, "vec_id", nProbeSuper = 1, nProbe = 2, k = 10)
    },
    Some("""WITH ex AS (SELECT label, vec_id,
          CAST(unnest(embedding) AS DOUBLE) AS x,
          generate_subscripts(embedding, 1) AS i
        FROM embeddings WHERE vec_id <> 0),
      qx AS (SELECT CAST(unnest(embedding) AS DOUBLE) AS qx,
          generate_subscripts(embedding, 1) AS i
        FROM embeddings WHERE vec_id = 0),
      qn AS (SELECT sqrt(sum(qx * qx)) AS n FROM qx),
      cent AS (SELECT label, i,
          CAST(sum(CAST(round(x, 7) AS DECIMAL(20,7))) AS DOUBLE)
            / count(*) AS cm
        FROM ex GROUP BY 1, 2),
      sup AS (SELECT label // 5 AS super, i,
          CAST(sum(CAST(round(cm, 7) AS DECIMAL(20,7))) AS DOUBLE)
            / count(*) AS sc
        FROM cent GROUP BY 1, 2),
      sq AS (SELECT super,
          round(sum((sc - qx.qx) * (sc - qx.qx)), 6) AS dist
        FROM sup JOIN qx USING (i) GROUP BY 1),
      topsup AS (SELECT super FROM sq ORDER BY dist ASC, super ASC
        LIMIT 1),
      cq AS (SELECT cent.label,
          round(sum((cm - qx.qx) * (cm - qx.qx)), 6) AS dist
        FROM cent JOIN qx USING (i)
        WHERE cent.label // 5 IN (SELECT super FROM topsup)
        GROUP BY 1),
      probe AS (SELECT label FROM cq ORDER BY dist ASC, label ASC
        LIMIT 2),
      norms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm
        FROM ex JOIN probe USING (label) GROUP BY 1),
      dots AS (SELECT ex.vec_id, ex.label, sum(ex.x * q.qx) AS dp
        FROM ex JOIN probe USING (label) JOIN qx q ON q.i = ex.i
        GROUP BY 1, 2)
      SELECT d.vec_id, CAST(d.label AS INT) AS cell,
        round(d.dp / (nm.nrm * qn.n), 6) AS cos
      FROM dots d JOIN norms nm ON nm.vec_id = d.vec_id, qn
      ORDER BY cos DESC, d.vec_id LIMIT 10"""))

  // ---------------------------------------------------------------- x96
  /** Oracle-checked two-stage ADC→exact RERANK ([[Pq.pqTopK]] with
    * `rerankWith` — the FAISS "refine" read pattern, previously pinned
    * only by PqSpec's covering-candidates contract): stage 1 scans
    * codes+recon_norm and shortlists `rerankFactor·k` candidates by
    * rounded ADC cosine (vec_id tie-break — the shortlist BOUNDARY is
    * deterministic cross-engine); stage 2 broadcast-joins the bounded
    * candidate set back to full precision and exact-cosine top-ks.
    * This is the production compressed-index read at 100 TB: the
    * corpus-sized scan touches ≈(4m+8) bytes/row, full vectors are
    * fetched for 40 ids. Codebooks are the x90 deterministic set so
    * BOTH stages — ADC ranking, the 40-candidate cut, the exact
    * rerank — hash-match DuckDB end to end. */
  val x96PqRerank: Q = {
    val cb = DetCb
    val cwValues = DetCwValues
    Q(
      (s, dir) => {
        val embs = Tables.embeddings(s, dir)
        val q = embs.filter(col("vec_id") === 0)
          .select(transform(col("embedding"), x => x.cast("double")).as("q"))
          .head.getSeq[Double](0).toIndexedSeq
        val corpus = embs.filter(col("vec_id") =!= 0)
        Pq.pqTopK(Pq.pqEncode(corpus, "embedding", cb), cb, q, "vec_id",
          k = 10, rerankWith = Some(corpus.select("vec_id", "embedding")),
          rerankFactor = 4)
      },
      Some(s"""WITH cw(s, c, i, w) AS (VALUES $cwValues),
        ex AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
            generate_subscripts(embedding, 1) AS i
          FROM embeddings WHERE vec_id <> 0),
        dist AS (SELECT e.vec_id, cw.s, cw.c,
            sum((e.x - cw.w) * (e.x - cw.w)) AS d
          FROM ex e JOIN cw ON cw.i = e.i GROUP BY 1, 2, 3),
        code AS (SELECT vec_id, s, c FROM (
            SELECT vec_id, s, c, row_number() OVER (PARTITION BY vec_id, s
              ORDER BY d ASC, c ASC) AS rn FROM dist) WHERE rn = 1),
        qx AS (SELECT CAST(unnest(embedding) AS DOUBLE) AS qx,
            generate_subscripts(embedding, 1) AS i
          FROM embeddings WHERE vec_id = 0),
        qn AS (SELECT sqrt(sum(qx * qx)) AS n FROM qx),
        lut AS (SELECT cw.s, cw.c, sum(cw.w * q.qx) AS dp,
            sum(cw.w * cw.w) AS w2
          FROM cw JOIN qx q ON q.i = cw.i GROUP BY 1, 2),
        scored AS (SELECT k.vec_id, sum(l.dp) AS adc, sum(l.w2) AS rn2
          FROM code k JOIN lut l ON l.s = k.s AND l.c = k.c GROUP BY 1),
        adcr AS (SELECT s.vec_id,
            round(s.adc / (sqrt(s.rn2) * qn.n), 6) AS cos_pq
          FROM scored s, qn),
        cand AS (SELECT vec_id FROM (SELECT vec_id, row_number() OVER (
            ORDER BY cos_pq DESC, vec_id ASC) AS rn FROM adcr)
          WHERE rn <= 40),
        norms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm
          FROM ex JOIN cand USING (vec_id) GROUP BY 1),
        dots AS (SELECT e.vec_id, sum(e.x * q.qx) AS dp
          FROM ex e JOIN cand USING (vec_id) JOIN qx q ON q.i = e.i
          GROUP BY 1)
        SELECT d.vec_id, round(d.dp / (nm.nrm * qn.n), 6) AS cos
        FROM dots d JOIN norms nm ON nm.vec_id = d.vec_id, qn
        ORDER BY cos DESC, d.vec_id LIMIT 10"""))
  }

  // ---------------------------------------------------------------- x97
  /** Oracle-checked SCALAR QUANTIZATION ([[Sq]] — the FAISS
    * `ScalarQuantizer` QT_8bit shape, the ~4×-compression sibling of
    * PQ's ~32×): per-dim min/max bounds trained on the corpus itself
    * in one distributed pass, affine int8 codes via the codegen
    * [[graft.functions.SqEncodeF]] (half-up `floor(t + 0.5)` — the one
    * rounding rule both engines state identically on the non-negative
    * scaled value), decode-and-score via [[graft.functions.SqDecodeF]]
    * + the [[graft.functions.DotF32]] cosine against vec 0. DuckDB
    * recomputes bounds, codes, reconstruction, and cosine from the
    * same parquet — training, encode, decode, and scoring all
    * hash-checked cross-engine (trained-param edge cases, persistence,
    * IVF composition, and rerank are SqSpec's). Decode op order is
    * pinned on both sides: `lo + c · ((hi - lo) / 255)`. */
  val x97SqAdc: Q = Q(
    (s, dir) => {
      val embs = Tables.embeddings(s, dir)
      val corpus = embs.filter(col("vec_id") =!= 0)
      val p = Sq.sqTrain(corpus, "embedding")
      val q = embs.filter(col("vec_id") === 0)
        .select(transform(col("embedding"), x => x.cast("double")).as("q"))
        .head.getSeq[Double](0).toIndexedSeq
      Sq.sqTopK(Sq.sqEncode(corpus, "embedding", p), p, q, "vec_id", k = 10)
    },
    Some("""WITH ex AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
          generate_subscripts(embedding, 1) AS i
        FROM embeddings WHERE vec_id <> 0),
      bounds AS (SELECT i, min(x) AS lo, max(x) AS hi FROM ex GROUP BY 1),
      code AS (SELECT e.vec_id, e.i,
          CASE WHEN b.hi = b.lo THEN 0
            ELSE GREATEST(0, LEAST(255,
              CAST(floor((e.x - b.lo) / (b.hi - b.lo) * 255 + 0.5)
                AS INT))) END AS c
        FROM ex e JOIN bounds b USING (i)),
      dec AS (SELECT k.vec_id, k.i,
          b.lo + k.c * ((b.hi - b.lo) / 255) AS xh
        FROM code k JOIN bounds b USING (i)),
      qx AS (SELECT CAST(unnest(embedding) AS DOUBLE) AS qx,
          generate_subscripts(embedding, 1) AS i
        FROM embeddings WHERE vec_id = 0),
      qn AS (SELECT sqrt(sum(qx * qx)) AS n FROM qx),
      scored AS (SELECT d.vec_id, sum(d.xh * q.qx) AS dp,
          sqrt(sum(d.xh * d.xh)) AS rn
        FROM dec d JOIN qx q USING (i) GROUP BY 1)
      SELECT s.vec_id, round(s.dp / (s.rn * qn.n), 6) AS cos_sq
      FROM scored s, qn ORDER BY cos_sq DESC, s.vec_id LIMIT 10"""))

  // ---------------------------------------------------------------- x99
  /** Oracle-checked SQ CLAMP-SATURATION ([[Sq.sqSaturation]] — the SQ
    * index's drift signal, VERDICT r13 #3): bounds trained on HALF the
    * corpus (even vec_ids), the FULL corpus encoded against them, so
    * the odd half saturates exactly where its values fall outside the
    * trained per-dim min/max — the planted append-after-train drift.
    * Output is the per-dim monitoring frame `(i, n, sat_lo, sat_hi,
    * sat_rate)`; DuckDB re-derives bounds, the x97 encode rule
    * (half-up, clamp, degenerate-dim 0), and the code-at-clamp counts
    * from the same parquet, so the ENTIRE observability path —
    * train-subset bounds, clamping encode, saturation roll-up — is
    * hash-checked cross-engine. `i` is 0-based on both sides
    * (posexplode's rule; the oracle shifts generate_subscripts). */
  val x99SqSaturation: Q = Q(
    (s, dir) => {
      val embs = Tables.embeddings(s, dir)
      val p = Sq.sqTrain(embs.filter(col("vec_id") % 2 === 0), "embedding")
      // c_max is a levels cross-check column, not part of the oracle
      // contract — the pinned observability surface is the five below
      Sq.sqSaturation(Sq.sqEncode(embs, "embedding", p), p.levels)
        .select("i", "n", "sat_lo", "sat_hi", "sat_rate")
    },
    Some("""WITH tr AS (SELECT CAST(unnest(embedding) AS DOUBLE) AS x,
          generate_subscripts(embedding, 1) AS i
        FROM embeddings WHERE vec_id % 2 = 0),
      bounds AS (SELECT i, min(x) AS lo, max(x) AS hi FROM tr GROUP BY 1),
      ex AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
          generate_subscripts(embedding, 1) AS i
        FROM embeddings),
      code AS (SELECT e.i,
          CASE WHEN b.hi = b.lo THEN 0
            ELSE GREATEST(0, LEAST(255,
              CAST(floor((e.x - b.lo) / (b.hi - b.lo) * 255 + 0.5)
                AS INT))) END AS c
        FROM ex e JOIN bounds b USING (i))
      SELECT i - 1 AS i, count(*) AS n,
        CAST(sum(CASE WHEN c = 0 THEN 1 ELSE 0 END) AS BIGINT) AS sat_lo,
        CAST(sum(CASE WHEN c = 255 THEN 1 ELSE 0 END) AS BIGINT) AS sat_hi,
        round((sum(CASE WHEN c = 0 THEN 1 ELSE 0 END)
          + sum(CASE WHEN c = 255 THEN 1 ELSE 0 END))
          / CAST(count(*) AS DOUBLE), 6) AS sat_rate
      FROM code GROUP BY 1 ORDER BY 1"""))

  // ---------------------------------------------------------------- x100
  /** Oracle-checked PQ CODE-USAGE observability ([[Pq.pqCodeUsage]] —
    * the PQ index's drift signal, VERDICT r14 #2, the x99 sibling):
    * encode the corpus with the x90 deterministic codebooks (m=2 × k=4,
    * codeword literals generated into the SQL) and roll the codes up
    * into the per-subspace health frame a monitoring job reads —
    * `(sub, n, used_codes, max_frac, entropy)` with NORMALIZED usage
    * entropy (−Σ frac·log₂frac / log₂k). DuckDB re-derives the argmin
    * encode (the x90 `code` CTE), the within-subspace histogram, and
    * the entropy roll-up from the same parquet, so the whole
    * codes→histogram→entropy observability path — what
    * [[Pq.pqDescribe]]'s summary and [[Pq.pqUsageCollapsed]]'s trigger
    * read — is hash-checked cross-engine. Entropy and max_frac round
    * at 6 (the house cross-engine float rule). */
  val x100PqUsage: Q = {
    val cb = DetCb
    val cwValues = DetCwValues
    Q(
      (s, dir) => {
        val embs = Tables.embeddings(s, dir)
        Pq.pqCodeUsage(Pq.pqEncode(embs, "embedding", cb), "codes")
          .groupBy(col("sub"))
          .agg(sum(col("n")).as("n"),
            count(lit(1)).as("used_codes"),
            round(max(col("frac")), 6).as("max_frac"),
            round((-sum(col("frac") * log2(col("frac")))) /
              log2(lit(cb.k.toDouble)), 6).as("entropy"))
          .orderBy("sub")
      },
      Some(s"""WITH cw(s, c, i, w) AS (VALUES $cwValues),
        ex AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
            generate_subscripts(embedding, 1) AS i
          FROM embeddings),
        dist AS (SELECT e.vec_id, cw.s, cw.c,
            sum((e.x - cw.w) * (e.x - cw.w)) AS d
          FROM ex e JOIN cw ON cw.i = e.i GROUP BY 1, 2, 3),
        code AS (SELECT vec_id, s, c FROM (
            SELECT vec_id, s, c, row_number() OVER (PARTITION BY vec_id, s
              ORDER BY d ASC, c ASC) AS rn FROM dist) WHERE rn = 1),
        hist AS (SELECT s AS sub, c, count(*) AS n FROM code GROUP BY 1, 2),
        tot AS (SELECT sub, sum(n) AS t FROM hist GROUP BY 1),
        fr AS (SELECT h.sub, h.c, h.n, h.n / CAST(t.t AS DOUBLE) AS frac
          FROM hist h JOIN tot t USING (sub))
        SELECT sub, CAST(sum(n) AS BIGINT) AS n,
          count(*) AS used_codes,
          round(max(frac), 6) AS max_frac,
          round(-sum(frac * log2(frac)) / log2(4.0), 6) AS entropy
        FROM fr GROUP BY 1 ORDER BY 1"""))
  }

  // ---------------------------------------------------------------- x101
  /** Oracle-checked PQ QUANTIZATION-ERROR estimator
    * ([[Pq.pqReconErrorOf]] — the raw-access half of the r15 PQ
    * observability pair; x100 is the codes-only half): encode with the
    * x90 deterministic codebooks, decode through the broadcast
    * (sub, code) → codeword join, and emit each vector's relative
    * reconstruction error `‖x − decode(encode(x))‖ / ‖x‖` (round 6,
    * the house float rule). DuckDB re-derives the argmin encode, the
    * positional decode, and the error fold from the same parquet, so
    * the decode path [[Pq.pqReconError]]'s monitoring summary
    * aggregates is hash-checked row by row cross-engine. */
  val x101PqReconErr: Q = {
    val cb = DetCb
    val cwValues = DetCwValues
    Q(
      (s, dir) => {
        val embs = Tables.embeddings(s, dir)
        val enc = Pq.pqEncode(embs, "embedding", cb)
          .select(col("vec_id"), col("label").cast("int").as("cell"),
            col("codes"), col("recon_norm"))
        Pq.pqReconErrorOf(enc, embs.select("vec_id", "embedding"),
            "vec_id", cb)
          .select(col("vec_id"), round(col("rel_err"), 6).as("rel_err"))
          .orderBy("vec_id")
      },
      Some(s"""WITH cw(s, c, i, w) AS (VALUES $cwValues),
        ex AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
            generate_subscripts(embedding, 1) AS i
          FROM embeddings),
        dist AS (SELECT e.vec_id, cw.s, cw.c,
            sum((e.x - cw.w) * (e.x - cw.w)) AS d
          FROM ex e JOIN cw ON cw.i = e.i GROUP BY 1, 2, 3),
        code AS (SELECT vec_id, s, c FROM (
            SELECT vec_id, s, c, row_number() OVER (PARTITION BY vec_id, s
              ORDER BY d ASC, c ASC) AS rn FROM dist) WHERE rn = 1),
        decv AS (SELECT k.vec_id, cw.i, cw.w
          FROM code k JOIN cw ON cw.s = k.s AND cw.c = k.c),
        err AS (SELECT e.vec_id,
            sqrt(sum((e.x - d.w) * (e.x - d.w))) AS err,
            sqrt(sum(e.x * e.x)) AS nrm
          FROM ex e JOIN decv d ON d.vec_id = e.vec_id AND d.i = e.i
          GROUP BY 1)
        SELECT vec_id, round(err / nrm, 6) AS rel_err
        FROM err ORDER BY 1"""))
  }

  // ---------------------------------------------------------------- x98
  /** Oracle-checked BULK two-stage rerank ([[Pq.ivfPqProbeBulk]] with
    * `rerankWith` — [[graft.ext.Similarity.bulkProbe]]'s tail, r13): the
    * x91 bulk-ADC fixture (deterministic label cells, exact-decimal
    * centroids, x90 seed-fixed codebooks as generated literals, 10
    * queries) with the production second stage appended — per-query
    * k·factor = 30 shortlists cut under the (rounded ADC cosine,
    * vec_id) ordering, then ONE broadcast join back to full precision
    * and exact-cosine top-10 per query. Both the per-query shortlist
    * BOUNDARY and the exact re-scoring hash-match DuckDB, so the
    * shared bulk tail — the boundary rule, the rounding, the
    * tie-breaks — is cross-engine-checked end to end (x96 pins the
    * per-query form; PqSpec/SqSpec pin bulk ≡ per-query). */
  val x98BulkRerank: Q = {
    val cb = DetCb
    val cwValues = DetCwValues
    Q(
      (s, dir) => {
        val embs = Tables.embeddings(s, dir)
        val queries = embs
          .filter(col("vec_id") % 50 === 0 && col("vec_id") < 500)
          .select(col("vec_id").as("q_id"), col("embedding"))
        val corpus = embs
          .filter(col("vec_id") % 50 =!= 0 || col("vec_id") >= 500)
        // r20: the CentroidAggF kernel (bit-identical to the posexplode
        // pipeline, CentroidAggSpec) — one aggregate, no dim-wise row
        // expansion, no (label, i) exchange; isNotNull keeps the
        // exploded form's no-row semantics for all-null groups
        val cent = corpus.groupBy(col("label"))
          .agg(Similarity.centroid(col("embedding")).as("cent"))
          .filter(col("cent").isNotNull)
          .select(col("label").cast("int").as("cell"), col("cent"))
        val assigned = Pq.pqEncode(corpus, "embedding", cb)
          .select(col("vec_id"), col("label").cast("int").as("cell"),
            col("codes"), col("recon_norm"))
        Pq.ivfPqProbeBulk(Similarity.IvfIndex(assigned, cent), cb,
          queries, "q_id", "vec_id", nProbe = 2, k = 10,
          rerankWith = Some(corpus.select("vec_id", "embedding")),
          rerankFactor = 3)
      },
      Some(s"""WITH cw(s, c, i, w) AS (VALUES $cwValues),
        q AS (SELECT vec_id AS q_id, embedding FROM embeddings
          WHERE vec_id % 50 = 0 AND vec_id < 500),
        corp AS (SELECT vec_id, label, embedding FROM embeddings
          WHERE vec_id % 50 <> 0 OR vec_id >= 500),
        ex AS (SELECT vec_id, label, CAST(unnest(embedding) AS DOUBLE) AS x,
            generate_subscripts(embedding, 1) AS i FROM corp),
        qx AS (SELECT q_id, CAST(unnest(embedding) AS DOUBLE) AS qx,
            generate_subscripts(embedding, 1) AS i FROM q),
        qn AS (SELECT q_id, sqrt(sum(qx * qx)) AS qn FROM qx GROUP BY 1),
        cent AS (SELECT label, i,
            CAST(sum(CAST(round(x, 7) AS DECIMAL(20,7))) AS DOUBLE)
              / count(*) AS cm
          FROM ex GROUP BY 1, 2),
        cq AS (SELECT cent.label, qx.q_id,
            round(sum((cent.cm - qx.qx) * (cent.cm - qx.qx)), 6) AS dist
          FROM cent JOIN qx USING (i) GROUP BY 1, 2),
        probe AS (SELECT label, q_id FROM (
            SELECT label, q_id, row_number() OVER (PARTITION BY q_id
              ORDER BY dist ASC, label ASC) AS rn FROM cq) WHERE rn <= 2),
        dist AS (SELECT e.vec_id, cw.s, cw.c,
            sum((e.x - cw.w) * (e.x - cw.w)) AS d
          FROM ex e JOIN cw ON cw.i = e.i GROUP BY 1, 2, 3),
        code AS (SELECT vec_id, s, c FROM (
            SELECT vec_id, s, c, row_number() OVER (PARTITION BY vec_id, s
              ORDER BY d ASC, c ASC) AS rn FROM dist) WHERE rn = 1),
        lut AS (SELECT q.q_id, cw.s, cw.c, sum(cw.w * q.qx) AS dp,
            sum(cw.w * cw.w) AS w2
          FROM cw JOIN qx q ON q.i = cw.i GROUP BY 1, 2, 3),
        cellof AS (SELECT vec_id, label FROM corp),
        scored AS (SELECT k.vec_id, p.q_id, sum(l.dp) AS adc,
            sum(l.w2) AS rn2
          FROM code k JOIN cellof cf USING (vec_id)
          JOIN probe p ON p.label = cf.label
          JOIN lut l ON l.q_id = p.q_id AND l.s = k.s AND l.c = k.c
          GROUP BY 1, 2),
        fin AS (SELECT s.q_id, s.vec_id,
            round(s.adc / (sqrt(s.rn2) * qn.qn), 6) AS cos_pq
          FROM scored s JOIN qn USING (q_id)),
        cand AS (SELECT q_id, vec_id FROM (
            SELECT q_id, vec_id, row_number() OVER (
              PARTITION BY q_id ORDER BY cos_pq DESC, vec_id) AS rn
            FROM fin) WHERE rn <= 30),
        nrm AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM ex
          WHERE vec_id IN (SELECT DISTINCT vec_id FROM cand) GROUP BY 1),
        dots AS (SELECT c.q_id, c.vec_id, sum(e.x * qq.qx) AS dp
          FROM cand c JOIN ex e ON e.vec_id = c.vec_id
          JOIN qx qq ON qq.q_id = c.q_id AND qq.i = e.i
          GROUP BY 1, 2),
        fin2 AS (SELECT d.q_id, d.vec_id,
            round(d.dp / (n2.nrm * qn.qn), 6) AS cos
          FROM dots d JOIN nrm n2 USING (vec_id) JOIN qn USING (q_id)),
        rk2 AS (SELECT q_id, vec_id, cos, row_number() OVER (
            PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rn FROM fin2)
        SELECT q_id, vec_id, cos FROM rk2 WHERE rn <= 10
        ORDER BY q_id, cos DESC, vec_id"""))
  }

  // ---------------------------------------------------------------- x92
  /** Oracle-checked RESIDUAL IVF-PQ (IVFADC — [[Pq.pqEncodeResidual]] /
    * [[Pq.ivfPqProbeResidual]]): codes quantize `x − cent(cell)` and the
    * probe's approximate dot adds the per-cell `q·cent` constant, with
    * `recon_norm = ‖cent + decode(codes)‖` assembled from the per-cell
    * constant folds. Same x90/x91 devices — deterministic m=2 × k=4
    * codebooks as generated literals, exact-decimal label centroids as
    * the coarse quantizer, single query vec 0 — so the ENTIRE residual
    * path (residual computation, residual argmin encode, centdot/cnorm2
    * constant assembly, q·cent + ADC scoring) hash-matches DuckDB.
    * Cell ranking follows the one production rule shared by every
    * probe variant — (dist rounded at 6, cell) — and the SQL oracle
    * rounds identically; label cells are well-separated besides, so
    * the rounding can never be what decides the order here. */
  val x92PqResidual: Q = {
    val cb = DetCb
    val cwValues = DetCwValues
    Q(
      (s, dir) => {
        val embs = Tables.embeddings(s, dir)
        val corpus = embs.filter(col("vec_id") =!= 0)
        // r20: the CentroidAggF kernel (bit-identical to the posexplode
        // pipeline, CentroidAggSpec) — one aggregate, no dim-wise row
        // expansion, no (label, i) exchange; isNotNull keeps the
        // exploded form's no-row semantics for all-null groups
        val cent = corpus.groupBy(col("label"))
          .agg(Similarity.centroid(col("embedding")).as("cent"))
          .filter(col("cent").isNotNull)
          .select(col("label").cast("int").as("cell"), col("cent"))
        val idx = Similarity.IvfIndex(
          corpus.withColumn("cell", col("label").cast("int")), cent)
        val encIdx = Pq.ivfPqEncodeResidual(idx, cb, "vec_id")
        Pq.ivfPqProbeResidual(encIdx, cb,
          embs.filter(col("vec_id") === 0).select("embedding"),
          "vec_id", nProbe = 2, k = 10)
      },
      Some(s"""WITH cw(s, c, i, w) AS (VALUES $cwValues),
        ex AS (SELECT vec_id, label, CAST(unnest(embedding) AS DOUBLE) AS x,
            generate_subscripts(embedding, 1) AS i
          FROM embeddings WHERE vec_id <> 0),
        qx AS (SELECT CAST(unnest(embedding) AS DOUBLE) AS qx,
            generate_subscripts(embedding, 1) AS i
          FROM embeddings WHERE vec_id = 0),
        qn AS (SELECT sqrt(sum(qx * qx)) AS n FROM qx),
        cent AS (SELECT label, i,
            CAST(sum(CAST(round(x, 7) AS DECIMAL(20,7))) AS DOUBLE)
              / count(*) AS cm
          FROM ex GROUP BY 1, 2),
        cq AS (SELECT cent.label,
            round(sum((cent.cm - qx.qx) * (cent.cm - qx.qx)), 6) AS dist
          FROM cent JOIN qx USING (i) GROUP BY 1),
        probe AS (SELECT label FROM cq ORDER BY dist ASC, label ASC LIMIT 2),
        rx AS (SELECT e.vec_id, e.label, e.i, e.x - cent.cm AS r
          FROM ex e JOIN cent USING (label, i) JOIN probe USING (label)),
        dist2 AS (SELECT r.vec_id, cw.s, cw.c,
            sum((r.r - cw.w) * (r.r - cw.w)) AS d
          FROM rx r JOIN cw ON cw.i = r.i GROUP BY 1, 2, 3),
        code AS (SELECT vec_id, s, c FROM (
            SELECT vec_id, s, c, row_number() OVER (PARTITION BY vec_id, s
              ORDER BY d ASC, c ASC) AS rn FROM dist2) WHERE rn = 1),
        cd AS (SELECT cent.label, cw.s, cw.c, sum(cent.cm * cw.w) AS cd
          FROM cw JOIN cent ON cent.i = cw.i JOIN probe
            ON probe.label = cent.label GROUP BY 1, 2, 3),
        cn2 AS (SELECT label, sum(cm * cm) AS cn2 FROM cent GROUP BY 1),
        ns AS (SELECT s, c, sum(w * w) AS ns FROM cw GROUP BY 1, 2),
        lut AS (SELECT cw.s, cw.c, sum(cw.w * q.qx) AS dp
          FROM cw JOIN qx q ON q.i = cw.i GROUP BY 1, 2),
        qc AS (SELECT cent.label, sum(cent.cm * qx.qx) AS qc
          FROM cent JOIN qx USING (i) GROUP BY 1),
        cellof AS (SELECT DISTINCT vec_id, label FROM ex),
        scored AS (SELECT k.vec_id, cf.label, sum(l.dp) AS adc,
            sum(cd.cd) AS cdot, sum(ns.ns) AS nsum
          FROM code k JOIN cellof cf USING (vec_id)
          JOIN lut l ON l.s = k.s AND l.c = k.c
          JOIN cd ON cd.label = cf.label AND cd.s = k.s AND cd.c = k.c
          JOIN ns ON ns.s = k.s AND ns.c = k.c
          GROUP BY 1, 2),
        fin AS (SELECT s.vec_id, round((qc.qc + s.adc) /
            (sqrt(cn2.cn2 + 2 * s.cdot + s.nsum) * qn.n), 6) AS cos_pq
          FROM scored s JOIN qc ON qc.label = s.label
          JOIN cn2 ON cn2.label = s.label, qn)
        SELECT vec_id, cos_pq FROM fin
        ORDER BY cos_pq DESC, vec_id LIMIT 10"""))
  }

  // ---------------------------------------------------------------- x81
  /** Temperature-based mixture weights (the multilingual-sampling rule of
    * XLM-R/mBERT): q_l ∝ p_l^α with α = 0.3 over the `lang` dimension —
    * upweights tail languages without flattening to uniform (x57 is the
    * capped-uniform alternative over `source`). The only float
    * accumulation — Σ p_l^α — quantizes each term to 12 decimals and sums
    * in exact decimal, so the normalizer is order-independent; p_raw and
    * the final ratios are single fixed float expressions. One hash agg +
    * two broadcast scalar joins; nothing scales with corpus size except
    * the first count. */
  val x81TemperatureMix: Q = Q(
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // total and normalizer as GLOBAL windows over the aggregated frame:
      // after the lang hash-agg the frame is langs-cardinality, so the
      // all-rows window is a single tiny task — and the corpus is scanned
      // exactly once (an agg + crossJoin normalizer would either re-scan
      // or need a cache this DataFrame-returning API couldn't unpersist)
      val all = Window.partitionBy()
      Tables.documents(s, dir)
        .groupBy("lang").agg(count(lit(1)).as("n_docs"))
        .withColumn("_total", sum(col("n_docs")).over(all))
        .withColumn("p_raw", col("n_docs") / col("_total"))
        .withColumn("_a",
          round(pow(col("p_raw"), 0.3), 12).cast("decimal(24,12)"))
        .withColumn("_z", sum(col("_a")).over(all))
        .withColumn("p_temp",
          round(col("_a").cast("double") / col("_z").cast("double"), 6))
        .withColumn("boost",
          round(col("_a").cast("double") / col("_z").cast("double")
            / col("p_raw"), 6))
        .select("lang", "n_docs", "p_raw", "p_temp", "boost")
        .orderBy("lang")
    },
    Some("""WITH pl AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
        FROM documents GROUP BY 1),
      t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS total FROM pl),
      pa AS (SELECT lang, n_docs, n_docs / CAST(total AS DOUBLE) AS p_raw,
          CAST(round(pow(n_docs / CAST(total AS DOUBLE), 0.3), 12)
            AS DECIMAL(24,12)) AS a
        FROM pl, t),
      z AS (SELECT sum(a) AS z FROM pa)
      SELECT lang, n_docs, p_raw,
        round(CAST(a AS DOUBLE) / CAST(z AS DOUBLE), 6) AS p_temp,
        round(CAST(a AS DOUBLE) / CAST(z AS DOUBLE) / p_raw, 6) AS boost
      FROM pa, z ORDER BY lang"""))

  // ---------------------------------------------------------------- x82
  /** Per-source quality-percentile gating: keep each source's top quartile
    * by repetition ratio (ascending — the Gopher-style repetition gate;
    * x54's zero-shuffle per-row score), deterministic doc_id tie-break.
    * A RELATIVE threshold per source — unlike x75's absolute gates — so
    * no source is wiped out by a corpus-wide cutoff. percent_rank is a
    * ratio of exact integers; one window per source (mega-source skew:
    * the x63 note applies). Unscorable docs (no trigrams) drop first. */
  val x82QualityGate: Q = Q(
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val sh = Dedup.shingles(col("text"))
      val scored = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          size(sh).cast("long").as("n_grams"),
          size(array_distinct(sh)).cast("long").as("n_distinct"))
        .filter(col("n_grams") > 0)
        .withColumn("rep_ratio",
          lit(1.0d) - col("n_distinct") / col("n_grams"))
      val w = Window.partitionBy("source")
        .orderBy(col("rep_ratio"), col("doc_id"))
      scored.withColumn("pr", percent_rank().over(w))
        .filter(col("pr") <= 0.25)
        .select("doc_id", "source", "rep_ratio", "pr")
        .orderBy("doc_id")
    },
    Some("""WITH tok AS (SELECT doc_id, source, string_split(text, ' ') AS t
        FROM documents),
      g AS (SELECT doc_id, source,
          CASE WHEN len(t) >= 3 THEN
            list_transform(range(1, len(t) - 1),
              i -> array_to_string(t[i:i+2], ' '))
          ELSE [] END AS grams
        FROM tok),
      sc AS (SELECT doc_id, source,
          1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams)
            AS rep_ratio
        FROM g WHERE len(grams) > 0),
      r AS (SELECT *, percent_rank() OVER (PARTITION BY source
          ORDER BY rep_ratio, doc_id) AS pr FROM sc)
      SELECT doc_id, source, rep_ratio, pr
      FROM r WHERE pr <= 0.25 ORDER BY doc_id"""))

  val all: Map[String, Q] = Map(
    "x85_ann_ivf_det" -> x85AnnIvfDet,
    "x93_filtered_ann" -> x93FilteredAnn,
    "x90_pq_adc" -> x90PqAdc,
    "x91_pq_bulk_probe" -> x91PqBulkProbe,
    "x94_ivf_bulk_probe" -> x94IvfBulkProbe,
    "x95_hier_probe" -> x95HierProbe,
    "x96_pq_rerank" -> x96PqRerank,
    "x97_sq_adc" -> x97SqAdc,
    "x99_sq_saturation" -> x99SqSaturation,
    "x100_pq_usage" -> x100PqUsage,
    "x101_pq_recon_err" -> x101PqReconErr,
    "x98_bulk_rerank" -> x98BulkRerank,
    "x92_pq_residual" -> x92PqResidual,
    "x88_ivf_recall" -> x88IvfRecall,
    "x83_source_dup_pressure" -> x83SourceDupPressure,
    "x80_dup_spans" -> x80DupSpans,
    "x81_temperature_mix" -> x81TemperatureMix,
    "x82_quality_gate" -> x82QualityGate,
    "x79_hybrid_retrieval" -> x79HybridRetrieval,
    "x71_bm25" -> x71Bm25,
    "x72_dsir" -> x72Dsir,
    "x73_semantic_dedup" -> x73SemanticDedup,
    "x74_source_overlap" -> x74SourceOverlap,
    "x75_gopher_rules" -> x75GopherRules,
    "x76_bigram_lm" -> x76BigramLm,
    "x77_contamination_spans" -> x77ContaminationSpans)
}
