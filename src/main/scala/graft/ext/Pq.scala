package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, StructField}

import graft.engine.SafeFs

/** Product quantization (PQ) — the compressed-vector layer of the ANN
  * stack (Jégou et al., "Product Quantization for Nearest Neighbor
  * Search", TPAMI 2011; the IVF-PQ composition is the FAISS
  * `IndexIVFPQ` shape re-expressed Spark-first).
  *
  * Why it exists at 100 TB: the [[Similarity.ivfProbe]] path prunes the
  * scan to nProbe cells, but still reads 4·dim bytes per surviving
  * vector. PQ splits each dim-float embedding into `m` subspaces,
  * quantizes each to one of `k` codewords, and stores only the m code
  * ids (+ one double for the reconstruction norm): ~(4m+8) bytes per
  * vector — 5.3× smaller at the shipped (dim=64, m=8) shape, 10–30× at
  * production dims — and probe-side scoring becomes m table lookups per
  * row ([[graft.functions.PqAdcF]]) instead of dim multiply-adds, with
  * the query→codeword lookup table built ONCE per probe on the driver
  * (m × k doubles — broadcast-sized by construction).
  *
  * Composition, not duplication: a PQ-encoded index IS an
  * [[Similarity.IvfIndex]] whose `assigned` frame carries
  * `(id, cell, codes, recon_norm)` instead of the raw embedding — the
  * entire maintenance layer ([[Similarity.ivfSave]]/`ivfLoad`/
  * `ivfAppendSave`/`ivfDelete`/`ivfCompact`/`ivfMaybeCompact`, all
  * column-agnostic) applies verbatim. This file adds only what PQ
  * itself needs: codebooks (trained + deterministic + persisted),
  * encode, ADC scoring, and the ADC probe.
  *
  * Determinism: codebook→code assignment ties break to the lowest code
  * ([[graft.functions.NearestCentroidF]]'s MLlib-KMeans rule); ADC
  * cosines round at 6 with id tie-breaks (the x34/x85 convention), so
  * x90's deterministic-codebook form hash-matches DuckDB — both codegen
  * kernels (encode argmin, ADC fold) are oracle-checked cross-engine.
  */
object Pq {

  private def toExpr(c: Column) =
    org.apache.spark.sql.GraftBridge.expression(c)
  private def toCol(e: org.apache.spark.sql.catalyst.expressions.Expression) =
    org.apache.spark.sql.GraftBridge.column(e)

  /** PQ codebooks: `cents(s)(c)` is subspace `s`'s codeword `c`
    * (subDim doubles). Plain data — round-trips through parquet
    * ([[codebooksSave]]/[[codebooksLoad]]) so an encoded index never
    * needs the training corpus again. */
  final case class PqCodebooks(dim: Int, m: Int,
      cents: IndexedSeq[IndexedSeq[IndexedSeq[Double]]]) {
    require(m >= 1 && dim % m == 0,
      s"PQ subspaces must tile the dimension: dim=$dim, m=$m")
    require(cents.length == m && cents.forall(_.nonEmpty) &&
      cents.forall(_.forall(_.length == dim / m)),
      "codebook shape must be m x k x (dim/m)")
    // all subspaces must share one k: MLlib KMeans can return fewer
    // than k centers on degenerate data, and a ragged trained codebook
    // would otherwise surface only at probe time as PqAdcF's misleading
    // "m x k matrix" rejection, far from the cause
    require(cents.forall(_.length == cents.head.length),
      s"ragged codebook: subspace codeword counts " +
        s"${cents.map(_.length).mkString(",")} differ — KMeans returned " +
        "fewer centers than k on at least one subspace (degenerate or " +
        "too-small training data)")
    def k: Int = cents.head.length
    def subDim: Int = dim / m
    /** ‖cent_{s,c}‖² per codeword (sequential element fold — the shared
      * accumulation order both engines' recon-norm paths mirror). */
    lazy val normSq: IndexedSeq[IndexedSeq[Double]] =
      cents.map(_.map(_.foldLeft(0.0)((a, x) => a + x * x)))
  }

  /** Deterministic data-independent codebooks: seed-fixed pseudo-random
    * codewords in [-1, 1] (the [[Similarity.hyperplanes]] convention).
    * No training pass, reproducible across sessions AND engines — which
    * is what lets x90 generate the codeword literals into its DuckDB
    * oracle and hash-check the encode+ADC kernels bit for bit. Untrained
    * codewords quantize coarsely (higher reconstruction error than
    * [[trainedCodebooks]]); production uses the trained form and
    * correctness rides on the shared kernels. */
  def deterministicCodebooks(dim: Int, m: Int, k: Int,
      seed: Long = 42L): PqCodebooks = {
    val rnd = new scala.util.Random(seed)
    val sub = dim / m
    PqCodebooks(dim, m, IndexedSeq.fill(m)(IndexedSeq.fill(k)(
      IndexedSeq.fill(sub)(rnd.nextDouble() * 2 - 1))))
  }

  /** Trained codebooks: per-subspace MLlib KMeans, fixed seed ⇒
    * deterministic (seed + s per subspace so subspaces don't share init
    * draws). One projection pass materializes all m sub-vectors and is
    * cached ONCE; the m fits iterate over that cached projection, never
    * re-reading the corpus. At 100 TB train on a sample — a codebook
    * needs ~1e3·k vectors, not the corpus — by passing
    * `corpus.sample(f)`: fit cost follows the sample, encode stays
    * full-corpus linear either way. */
  def trainedCodebooks(corpus: DataFrame, embCol: String, dim: Int,
      m: Int, k: Int, seed: Long = 42L): PqCodebooks = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val sub = dim / m
    val proj = corpus.select((0 until m).map { s =>
      array_to_vector(transform(slice(col(embCol), s * sub + 1, sub),
        x => x.cast("double"))).as(s"_v$s")
    }: _*).cache()
    try {
      val cents = (0 until m).map { s =>
        new KMeans().setK(k).setSeed(seed + s)
          .setFeaturesCol(s"_v$s").setPredictionCol("_c")
          .fit(proj).clusterCenters
          .map(_.toArray.toIndexedSeq).toIndexedSeq
      }
      PqCodebooks(dim, m, cents)
    } finally { proj.unpersist(); () }
  }

  /** Persist codebooks as one tiny parquet (m × k rows of
    * `(sub, code, cent)`) next to the index they encode. */
  def codebooksSave(spark: SparkSession, cb: PqCodebooks,
      path: String): Unit = {
    import spark.implicits._
    cb.cents.zipWithIndex.flatMap { case (cws, s) =>
      cws.zipWithIndex.map { case (w, c) => (s, c, w) }
    }.toDF("sub", "code", "cent")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Reopen persisted codebooks. Codes are dense 0..k-1 per subspace by
    * construction ([[codebooksSave]] writes them that way); the sort
    * restores `cents(s)(c)` positional addressing. */
  def codebooksLoad(spark: SparkSession, path: String): PqCodebooks = {
    val rows = spark.read.parquet(path)
      .select(col("sub").cast("int"), col("code").cast("int"), col("cent"))
      .collect() // m × k rows — bounded by codebook size, never corpus
    require(rows.nonEmpty,
      s"codebooksLoad: no codebook rows under $path — not a codebooksSave dir")
    val bySub = rows.groupBy(_.getInt(0)).toIndexedSeq.sortBy(_._1)
    val cents = bySub.map { case (_, rs) =>
      rs.sortBy(_.getInt(1)).toIndexedSeq
        .map(_.getSeq[Number](2).map(_.doubleValue).toIndexedSeq)
    }
    PqCodebooks(cents.head.head.length * cents.length, cents.length, cents)
  }

  /** Encode: append `codes ARRAY<INT>` (per-subspace argmin over each
    * embedding slice — m codegen'd [[graft.functions.NearestCentroidF]]
    * loops, zero row expansion, constant per row) and `recon_norm
    * DOUBLE` (= ‖x̂‖, the reconstruction's norm, a per-codeword CONSTANT
    * looked up by code — what lets probes rank by approximate COSINE
    * rather than only L2). One pass, stays inside whole-stage codegen;
    * a null embedding yields null codes/null recon_norm and
    * [[graft.functions.PqAdcF]] propagates the null at probe time. */
  def pqEncode(df: DataFrame, embCol: String, cb: PqCodebooks): DataFrame = {
    val tmp = (0 until cb.m).foldLeft(df) { (acc, s) =>
      acc.withColumn(s"_pq$s", toCol(graft.functions.NearestCentroidF(
        toExpr(slice(col(embCol), s * cb.subDim + 1, cb.subDim)),
        cb.cents(s))))
    }
    tmp
      .withColumn("codes", array((0 until cb.m).map(s => col(s"_pq$s")): _*))
      .withColumn("recon_norm", sqrt((0 until cb.m).map { s =>
        element_at(array(cb.normSq(s).map(lit(_)): _*), col(s"_pq$s") + 1)
      }.reduce(_ + _)))
      .drop((0 until cb.m).map(s => s"_pq$s"): _*)
  }

  /** Persist a PQ-encoded IVF index TOGETHER with its codebooks
    * ([[Similarity.ivfSave]] + [[codebooksSave]] under
    * `$path/pq_codebooks`): codes are unreadable without the codebooks
    * that produced them — the PQ decode key, exactly the gap
    * [[graft.ext.Sq.ivfSqSave]] closes for SQ params. The codebooks
    * dir sits OUTSIDE the assigned tree (append/delete/compact leave
    * it untouched); [[ivfPqRetrain]] refreshes it THROUGH the staged
    * swap, so codes and codebooks can never publish separately.
    * Reopen with [[Similarity.ivfLoad]] + [[pqCodebooksOf]]. */
  def ivfPqSave(index: Similarity.IvfIndex, cb: PqCodebooks,
      table: String, path: String, nCells: Int): Unit = {
    Similarity.ivfSave(index, table, path, nCells)
    codebooksSave(index.assigned.sparkSession, cb, s"$path/pq_codebooks")
    // the POST-ENCODE usage baseline (r15): one m×k-row frame recording
    // what "healthy" looks like for exactly these codebooks on exactly
    // this corpus — the reference [[pqUsageDegraded]] compares against,
    // refreshed by the retrain swap whenever the codebooks move. Costs
    // one codes scan at save time (the save just wrote those bytes).
    pqDescribeOf(index.assigned, cb)
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$path/pq_usage_baseline")
  }

  /** Reopen the post-encode usage baseline an [[ivfPqSave]] (or a
    * retrain swap) stored next to the index — None for an index saved
    * before the baseline existed (plain [[Similarity.ivfSave]], or
    * pre-r15 layouts). */
  def pqUsageBaselineOf(spark: SparkSession, path: String)
      : Option[org.apache.spark.sql.Row] = {
    val fs = SafeFs.fs(spark, path)
    if (!fs.exists(new org.apache.hadoop.fs.Path(s"$path/pq_usage_baseline")))
      None
    else spark.read.parquet(s"$path/pq_usage_baseline").collect().headOption
  }

  /** Baseline-RELATIVE drift hook — the form for corpora where
    * absolute entropy thresholds are unknowable (how uniform "should"
    * a fashion-image codebook be?): true iff the worst subspace's
    * normalized entropy fell more than `maxEntropyDrop` below the
    * index's own persisted post-encode baseline, OR the worst
    * single-code share rose more than `maxFracRise` above it. Refuses
    * loudly when no baseline is stored (an index saved via plain
    * `ivfSave` — re-save with [[ivfPqSave]] or record one with
    * [[pqDescribeOf]]); an empty live index never fires. The absolute
    * form ([[pqUsageCollapsed]]) remains what
    * [[ivfPqMaybeRetrain]]'s armed thresholds evaluate.
    *
    * `sampleFraction < 1` note: the plug-in entropy estimator is
    * biased LOW on small samples (unseen codes contribute zero mass),
    * so a sampled current scan drifts toward firing against a
    * full-scan baseline — size `maxEntropyDrop` with slack above the
    * pure-drift threshold when sampling, or sample the baseline with
    * the same fraction so the bias cancels. */
  def pqUsageDegraded(spark: SparkSession, path: String, cb: PqCodebooks,
      maxEntropyDrop: Double = 0.2, maxFracRise: Double = 0.25,
      sampleFraction: Double = 1.0, seed: Long = 42L): Boolean = {
    require(maxEntropyDrop > 0.0 && maxFracRise > 0.0,
      "drift tolerances must be positive (zero would fire on noise)")
    val base = pqUsageBaselineOf(spark, path).getOrElse(
      throw new IllegalArgumentException(
        s"pqUsageDegraded: no pq_usage_baseline under $path — the " +
          "index predates baseline recording (save via ivfPqSave, or " +
          "record one: pqDescribeOf(assigned, cb) → " +
          s"$path/pq_usage_baseline)"))
    // a NULL-entropy baseline means it was recorded on an EMPTY index
    // (a streaming bootstrap saved the layout before rows landed) — it
    // can never witness drift, so silently comparing against it would
    // disable the hook forever; refuse with the remedy named, like the
    // missing-baseline case (review r15)
    require(!base.isNullAt(base.fieldIndex("min_sub_entropy")),
      s"pqUsageDegraded: the baseline under $path was recorded on an " +
        "empty index and cannot witness drift — re-record it once " +
        "populated (pqDescribeOf(assigned, cb) → " +
        s"$path/pq_usage_baseline)")
    // the baseline's (m, k) pin the codebooks it was recorded under; a
    // caller holding DIFFERENT codebooks (stale cb after an external
    // refit — same m-wide codes, so no other guard catches it) would
    // otherwise compare entropies across codebook generations and
    // return a meaningless verdict (ADVICE r15)
    require(base.getAs[Int]("m") == cb.m && base.getAs[Int]("k") == cb.k,
      s"pqUsageDegraded: the baseline under $path was recorded under " +
        s"m=${base.getAs[Int]("m")}, k=${base.getAs[Int]("k")} codebooks " +
        s"but the supplied codebooks are m=${cb.m}, k=${cb.k} — not the " +
        "same codebook generation; re-record the baseline under the " +
        "current codebooks (pqDescribeOf(assigned, cb) → " +
        s"$path/pq_usage_baseline)")
    val cur0 = pqDescribe(spark, path, cb, sampleFraction, seed).head
    // a null-entropy CURRENT row is ambiguous under sampling: the index
    // may be genuinely tombstoned-empty (never fires — correct), or a
    // sparse sample may simply have come back empty — in which case
    // reporting "healthy" would silently blind the monitoring hook
    // (ADVICE r15). Disambiguate with one full-fraction re-describe,
    // paid only on that rare path.
    val cur =
      if (cur0.isNullAt(cur0.fieldIndex("min_sub_entropy")) &&
          sampleFraction < 1.0)
        pqDescribe(spark, path, cb, 1.0, seed).head
      else cur0
    val ent = cur.fieldIndex("min_sub_entropy")
    if (cur.isNullAt(ent))
      false // index empty NOW (fully tombstoned): nothing to compare
    else
      cur.getDouble(ent) <
        base.getDouble(base.fieldIndex("min_sub_entropy")) - maxEntropyDrop ||
      cur.getDouble(cur.fieldIndex("max_code_frac")) >
        base.getDouble(base.fieldIndex("max_code_frac")) + maxFracRise
  }

  /** Reopen the codebooks an [[ivfPqSave]] (or a retrain) stored next
    * to the index. */
  def pqCodebooksOf(spark: SparkSession, path: String): PqCodebooks =
    codebooksLoad(spark, s"$path/pq_codebooks")

  /** [[Similarity.ivfRetrain]] for a PQ-ENCODED persisted index — the
    * raw-access form (VERDICT r13 #2's option (b)): PQ codes cannot
    * seed a re-fit the way SQ codes can (plain-PQ decode is
    * codebook-coarse, and residual codes are defined against the OLD
    * cells), so the caller brings the raw embedding frame — which a
    * production deployment retains anyway: a PQ index is a DERIVED
    * artifact of its corpus, and this is the `rerankWith` access
    * pattern applied to maintenance. The coarse re-fit runs on the raw
    * vectors joined to the index's LIVE ids (every live id must be
    * covered — missing ids fail loudly, never silently vanish from the
    * index; tombstoned ids may be absent).
    *
    * What happens to codes, by form (`refitCodebooks = None`, the
    * default, FOLLOWS `residual` — plain keeps the codebooks, residual
    * refits them; see below for why the defaults differ):
    *  - plain, refit resolved false (default): codes are
    *    cell-independent — carried through BYTE-IDENTICAL, only `cell`
    *    moves (the [[graft.ext.Sq.ivfSqRetrain]] shape, but with an
    *    exact fit instead of a reconstruction fit);
    *  - plain, `refitCodebooks = Some(true)`: codebooks re-trained on
    *    the live raw vectors, codes re-encoded;
    *  - `residual = true`: codes are ALWAYS re-encoded (they quantize
    *    `x − cent(cell)` and the cells just moved); the refit
    *    re-trains the residual codebooks on the NEW residuals first —
    *    the full IVFADC retrain, and the DEFAULT for the residual
    *    form (ADVICE r14): old codebooks model the OLD cells' residual
    *    distribution, so re-encoding new-cell residuals through them
    *    silently degrades quantization error in exactly the drifted
    *    corpus that fired the policy. `Some(false)` opts out (skips
    *    the m KMeans fits when the drift is known-mild).
    *
    * The (possibly refreshed) codebooks are staged INSIDE the swapped
    * tree (`retrainImpl`'s `stagedMeta` → published to
    * `$path/pq_codebooks` by `finalizeRetrain` before the centroid
    * publish): no crash window can publish new cells/codes under old
    * codebooks or vice versa. Returns the reopened index AND the
    * codebooks valid for its codes — probe with exactly these.
    *
    * Caveat the schema cannot catch: SQ and PQ layouts are
    * deliberately indistinguishable (`codes` + `recon_norm`). The
    * caller owns knowing which encoder produced the index — same
    * contract as choosing the probe family. */
  def ivfPqRetrain(spark: SparkSession, table: String, path: String,
      nCells: Int, raw: DataFrame, idCol: String, cb: PqCodebooks,
      embCol: String = "embedding", residual: Boolean = false,
      refitCodebooks: Option[Boolean] = None, seed: Long = 42L)
      : (Similarity.IvfIndex, PqCodebooks) = {
    val refit = refitCodebooks.getOrElse(residual)
    var cbOut: PqCodebooks = cb
    val reopened = Similarity.retrainImpl(spark, table, path, nCells,
      embCol, seed,
      reconstruct = df => {
        require(df.columns.contains("codes"),
          s"ivfPqRetrain: no `codes` column under $path/assigned — " +
            "not a compressed layout (a raw index retrains via " +
            "ivfRetrain)")
        require(!df.columns.contains(embCol),
          s"ivfPqRetrain: layout already has `$embCol` — a raw index " +
            "retrains via ivfRetrain, no raw frame needed")
        // the mixup guard in the SQ→PQ direction (the sibling of
        // ivfSqRetrain's): PQ codes are m-wide; an SQ layout's codes
        // are dim-wide, and running it through here would replace them
        // with PQ codes (residual/refit) or publish pq_codebooks next
        // to its sq_params (plain) — either way silent corruption of
        // an index whose params still look valid. Shared one-row probe.
        Similarity.codesWidth(df).foreach(w => require(w == cb.m,
          s"ivfPqRetrain: codebooks are m=${cb.m}-wide but the codes " +
            s"under $path/assigned are $w-wide — not this codebook's " +
            "index (an SQ layout retrains via Sq.ivfSqRetrain)"))
        val emb = raw.select(col(idCol), col(embCol))
        // keyed + live-covering raw frame — the shared raw-access
        // rebuild contract (Similarity.requireKeyedCovering)
        Similarity.requireKeyedCovering(spark, path, df, emb, idCol,
          "ivfPqRetrain")
        df.join(emb, Seq(idCol))
      },
      project = idx => {
        val a = idx.assigned
        if (!residual && !refit) a.drop(embCol)
        else if (!residual) {
          cbOut = trainedCodebooks(a, embCol, cb.dim, cb.m, cb.k, seed)
          pqEncode(a.drop("codes", "recon_norm"), embCol, cbOut)
            .drop(embCol)
        } else {
          if (refit)
            cbOut = trainedResidualCodebooks(a.drop("codes", "recon_norm"),
              embCol, idx, cb.dim, cb.m, cb.k, seed)
          else
            // the opted-out residual path re-encodes through codebooks
            // trained on the OLD cells' residuals — valid, but loses
            // quantization accuracy in proportion to how far the cells
            // moved; say so (the retrainImpl report convention)
            SafeFs.report("ivfPqRetrain: WARNING — residual " +
              "re-encode with refitCodebooks = Some(false): codebooks " +
              "model the OLD cells' residual distribution; " +
              "quantization error grows with the cell movement that " +
              "fired this retrain")
          pqEncodeResidual(a.drop("codes", "recon_norm"), embCol, cbOut,
            idx).drop(embCol)
        }
      },
      stagedMeta = (_, staged) => {
        // the usage baseline refreshes ONLY when codes were actually
        // (re)encoded (refit, or residual's forced re-encode): a plain
        // carry-through moves byte-identical — possibly already
        // drifted — codes, and recording those as "healthy" would
        // permanently blind pqUsageDegraded (review r15). The plain
        // form instead CARRIES the existing baseline (recorded at the
        // last true encode) through the swap; an index that never had
        // one (plain ivfSave) stays without one.
        val baseline =
          if (refit || residual)
            Seq("pq_usage_baseline" -> pqDescribeOf(staged, cbOut))
          else {
            val fs = SafeFs.fs(spark, path)
            if (fs.exists(new org.apache.hadoop.fs.Path(
                s"$path/pq_usage_baseline")))
              Seq("pq_usage_baseline" ->
                spark.read.parquet(s"$path/pq_usage_baseline"))
            else Nil
          }
        Seq("pq_codebooks" -> codebookDf(spark, cbOut)) ++ baseline
      })
    (reopened, cbOut)
  }

  /** Policy wrapper over [[ivfPqRetrain]] — the PQ member of the
    * shared-trigger family ([[Similarity.retrainTrigger]], one policy,
    * three retrain forms). The raw frame is the extra requirement PQ
    * carries; returns the refreshed codebooks when it fired, None when
    * it didn't.
    *
    * Beyond the shared CELL trigger, PQ has a drift axis the cell
    * policy cannot see: codebook health (VERDICT r14 #2 —
    * [[pqDescribe]]). `minSubEntropy` / `maxCodeFrac` ARM the usage
    * trigger (both disabled by default: 0.0 / 1.0 never fire); when
    * the cell trigger is silent but [[pqUsageCollapsed]] says the
    * usage histogram collapsed, a retrain fires at the CURRENT cell
    * count with `refitCodebooks = Some(true)` FORCED — a usage-collapse
    * fire IS a codebook refit; carrying the old codebooks through
    * (plain form's default) would re-emit byte-identical codes and
    * re-fire forever. `usageSampleFraction` sample-bounds the
    * monitoring scan as in [[pqDescribe]]. */
  def ivfPqMaybeRetrain(spark: SparkSession, table: String, path: String,
      raw: DataFrame, idCol: String, cb: PqCodebooks,
      maxSkew: Double = 4.0, minOccupiedFrac: Double = 0.5,
      targetRowsPerCell: Long = 0L, embCol: String = "embedding",
      residual: Boolean = false, refitCodebooks: Option[Boolean] = None,
      minSubEntropy: Double = 0.0, maxCodeFrac: Double = 1.0,
      usageSampleFraction: Double = 1.0,
      seed: Long = 42L): Option[PqCodebooks] =
    Similarity.retrainTrigger(spark, path, maxSkew, minOccupiedFrac,
        targetRowsPerCell) match {
      case Some(newCells) =>
        Some(ivfPqRetrain(spark, table, path, newCells, raw, idCol, cb,
          embCol, residual, refitCodebooks, seed)._2)
      case None =>
        val usageArmed = minSubEntropy > 0.0 || maxCodeFrac < 1.0
        if (usageArmed && pqUsageCollapsed(spark, path, cb,
            if (minSubEntropy > 0.0) minSubEntropy else 1e-12,
            maxCodeFrac, usageSampleFraction, seed)) {
          val nCells = spark.read.parquet(s"$path/centroids").count().toInt
          Some(ivfPqRetrain(spark, table, path, nCells, raw, idCol, cb,
            embCol, residual, refitCodebooks = Some(true), seed)._2)
        } else None
    }

  /** Per-subspace code-usage histogram over an ENCODED frame — the
    * drift signal specific to a PQ index (VERDICT r14 #2, the
    * [[graft.ext.Sq.sqSaturation]] sibling): codebooks are trained
    * once, and a corpus that drifts after appends still encodes to
    * VALID codes — each new vector just snaps to whatever codewords
    * lie nearest, so the drift is invisible to every probe and
    * maintenance op. What codes alone CAN show is the usage
    * distribution collapsing: when appended vectors cluster where the
    * codebook has few codewords, a handful of codes absorb the mass
    * and the per-subspace histogram skews — entropy drops, one code's
    * share climbs. Returns `(sub, code, n, frac)` — at most m × k rows
    * after aggregation (one posexplode + groupBy pass, map-side
    * combined; `frac` is within-subspace). `sampleFraction < 1`
    * sample-bounds the scan for a monitoring cadence over a 100 TB
    * index (deterministic seed — rates are estimates, re-runs
    * agree). Null codes rows contribute nothing (posexplode skips
    * them). */
  def pqCodeUsage(encoded: DataFrame, codesCol: String = "codes",
      sampleFraction: Double = 1.0, seed: Long = 42L): DataFrame = {
    require(sampleFraction > 0.0 && sampleFraction <= 1.0,
      "sampleFraction is a fraction")
    val src = if (sampleFraction >= 1.0) encoded
      else encoded.sample(withReplacement = false, sampleFraction, seed)
    src
      .select(posexplode(col(codesCol)).as(Seq("sub", "code")))
      .groupBy(col("sub"), col("code"))
      .agg(count(lit(1)).as("n"))
      .withColumn("frac", col("n") /
        sum(col("n")).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("sub"))))
      .orderBy("sub", "code")
  }

  /** Read-only PQ-index observability — the [[graft.ext.Sq.sqDescribe]]
    * sibling for the signal only a PQ layout has: one summary row
    * `(rows_sampled, m, k, min_sub_entropy, mean_sub_entropy,
    * worst_sub, min_used_codes, max_code_frac, max_frac_sub)` over the
    * persisted assigned frame. Per-subspace NORMALIZED usage entropy
    * (`−Σ frac·log₂frac / log₂k` ∈ [0, 1]; 1 = codewords evenly used —
    * roughly where a fresh KMeans fit on its own training corpus
    * lands; → 0 as mass collapses onto few codewords) is the headline;
    * `max_code_frac` (the largest single-code share in any subspace)
    * catches the collapse-onto-ONE-code case entropy alone can
    * under-weight at large k. `worst_sub` / `max_frac_sub` name the
    * offending subspace — drift is usually a subset of the dimensions.
    *
    * Same cost class as `sqDescribe`: one column-pruned scan of
    * `codes` (sample-boundable), m × k rows collected — never the
    * corpus. Tombstoned rows are FOLDED OUT first (deleted vectors
    * must not keep firing a drift alarm); compose with
    * [[Similarity.ivfDescribe]] for cell health and — when the raw
    * frame is at hand, which PQ maintenance already requires — with
    * [[pqReconError]] for the true quantization-error estimate.
    *
    * Guards, in the sqDescribe mold: the codes width must equal `cb.m`
    * (refuses an SQ layout — dim-wide codes through a PQ usage scan
    * would "observe" garbage), and the largest observed code must fit
    * `cb.k` (not this index's codebooks). Empty/fully-tombstoned index
    * → one honest zero row, never a throw (a monitoring job must
    * no-op, not crash — the retrainTrigger rule).
    *
    * Policy: a fresh trained codebook starts near entropy 1 on its own
    * corpus; compare against the POST-TRAIN baseline — which
    * [[ivfPqSave]] persists as `$path/pq_usage_baseline` and the
    * retrain swap refreshes, so [[pqUsageDegraded]] can ask "did THIS
    * index drift from ITS OWN healthy state" without the caller
    * bookkeeping anything. When a subspace's entropy falls materially
    * below baseline — or any single code's share exceeds your
    * tolerance — re-fit codebooks on the raw corpus: [[ivfPqRetrain]]
    * with `refitCodebooks = Some(true)` (the default when
    * `residual = true`), or let [[ivfPqMaybeRetrain]]'s armed usage
    * thresholds fire it unattended. */
  def pqDescribe(spark: SparkSession, path: String, cb: PqCodebooks,
      sampleFraction: Double = 1.0, seed: Long = 42L): DataFrame = {
    val enc = spark.read.parquet(s"$path/assigned")
    require(enc.columns.contains("codes"),
      s"pqDescribe: no `codes` column under $path/assigned — not a " +
        "compressed (SQ/PQ-encoded) index layout")
    Similarity.codesWidth(enc).foreach(w => require(w == cb.m,
      s"pqDescribe: codebooks are m=${cb.m}-wide but the codes under " +
        s"$path/assigned are $w-wide — not this codebook's index (an " +
        "SQ layout is monitored via Sq.sqDescribe)"))
    pqDescribeOf(SafeFs.liveRows(spark, path, enc), cb,
      sampleFraction, seed, where = s"under $path")
  }

  /** Frame-level core of [[pqDescribe]] — the roll-up over any ENCODED
    * frame (no tombstone fold, no layout guards beyond the
    * codes-vs-k check): what [[ivfPqSave]] runs to record the
    * post-encode baseline and what [[ivfPqRetrain]] runs on the STAGED
    * frame so the refreshed baseline swaps atomically with the codes
    * it describes. */
  def pqDescribeOf(encoded: DataFrame, cb: PqCodebooks,
      sampleFraction: Double = 1.0, seed: Long = 42L,
      where: String = ""): DataFrame = {
    val spark = encoded.sparkSession
    val all = pqCodeUsage(encoded, "codes", sampleFraction, seed)
      .collect() // m × k rows — never corpus-sized
    import spark.implicits._
    if (all.isEmpty)
      // empty index (or an all-null sample): honest zero row
      Seq((0L, cb.m, cb.k,
          null.asInstanceOf[java.lang.Double],
          null.asInstanceOf[java.lang.Double],
          null.asInstanceOf[java.lang.Integer],
          null.asInstanceOf[java.lang.Integer],
          null.asInstanceOf[java.lang.Double],
          null.asInstanceOf[java.lang.Integer]))
        .toDF("rows_sampled", "m", "k", "min_sub_entropy",
          "mean_sub_entropy", "worst_sub", "min_used_codes",
          "max_code_frac", "max_frac_sub")
    else {
      val cMax = all.map(_.getAs[Int]("code")).max
      require(cMax < cb.k,
        s"pqDescribe: largest observed code $cMax >= codebook k=${cb.k} " +
          s"$where — these are not this codebook's codes")
      val bySub = all.groupBy(_.getAs[Int]("sub")).toIndexedSeq.sortBy(_._1)
      val perSub = bySub.map { case (s, rs) =>
        val fracs = rs.map(_.getAs[Double]("frac"))
        val h =
          if (cb.k < 2) 0.0
          else -fracs.map(f => f * math.log(f)).sum / math.log(cb.k.toDouble)
        (s, h, rs.length, fracs.max)
      }
      val rows = all.map(_.getAs[Long]("n")).sum / bySub.length
      // worst by (entropy asc, sub asc); max-frac by (frac desc, sub asc)
      val (ws, wh, _, _) = perSub.minBy { case (s, h, _, _) => (h, s) }
      val (fs, _, _, ff) = perSub.maxBy { case (s, _, _, f) => (f, -s) }
      Seq((rows, cb.m, cb.k,
          wh, perSub.map(_._2).sum / perSub.length, ws,
          perSub.map(_._3).min, ff, fs))
        .toDF("rows_sampled", "m", "k", "min_sub_entropy",
          "mean_sub_entropy", "worst_sub", "min_used_codes",
          "max_code_frac", "max_frac_sub")
    }
  }

  /** Threshold hook over [[pqDescribe]] — the
    * [[graft.ext.Sq.sqSaturationExceeded]] twin for codebook drift:
    * true iff any subspace's normalized usage entropy falls below
    * `minSubEntropy` OR any single code's within-subspace share
    * exceeds `maxCodeFrac`. Empty index → false (nothing to refit).
    * Unlike the SQ bounds case, THIS drift is recoverable with the
    * machinery PQ already carries: [[ivfPqRetrain]] with a codebook
    * refit — which is exactly what [[ivfPqMaybeRetrain]] fires when
    * its usage thresholds are armed. */
  def pqUsageCollapsed(spark: SparkSession, path: String, cb: PqCodebooks,
      minSubEntropy: Double = 0.5, maxCodeFrac: Double = 0.9,
      sampleFraction: Double = 1.0, seed: Long = 42L): Boolean = {
    require(minSubEntropy > 0.0 && minSubEntropy < 1.0,
      "minSubEntropy is a fraction of the [0,1] normalized entropy " +
        "(a fresh fit sits near 1; 0 would never fire)")
    require(maxCodeFrac > 0.0 && maxCodeFrac <= 1.0,
      "maxCodeFrac is a fraction")
    val d = pqDescribe(spark, path, cb, sampleFraction, seed).head
    val ent = d.fieldIndex("min_sub_entropy")
    !d.isNullAt(ent) && (d.getDouble(ent) < minSubEntropy ||
      d.getDouble(d.fieldIndex("max_code_frac")) > maxCodeFrac)
  }

  /** Sampled quantization-error estimate over a persisted PQ index:
    * one row `(n, mean_rel_err, max_rel_err)` where `rel_err =
    * ‖x − decode(codes)‖ / ‖x‖` per sampled live row. Needs the RAW
    * frame — the error is the distance encoding discarded, and codes
    * alone cannot price it (decode(codes) re-encodes to itself with
    * zero error by construction); that is the same raw-access contract
    * [[ivfPqRetrain]] already establishes for PQ maintenance, so a
    * deployment that can retrain can also measure. Decode is the
    * [[graft.functions.PqDecodeF]] codegen gather — codebook as a
    * reference object, one map-side pass, no shuffle (r16; the prior
    * broadcast (sub, code) → codeword join + collect_list re-assembly
    * cost ~10× the sibling describe scan at 1M×1%, VERDICT r15 #2);
    * `residual = true` adds the cell centroid back (the
    * [[pqEncodeResidual]] reconstruction). Sampled rows missing from
    * `raw` are simply not estimated (inner join — this is an
    * estimator, not the retrain's coverage-checked rebuild).
    * A zero-norm raw vector has no defined RELATIVE error (0/0);
    * such rows carry a null `rel_err` — excluded from `n`/`mean`/`max`
    * (Spark aggs skip nulls) and counted honestly in `n_zero_norm`
    * instead of poisoning the summary with NaN (ADVICE r15). A null
    * rel_err from a null DECODE (a null code slot in the index) or a
    * null/ragged raw embedding is a different defect in a different
    * corpus — counted separately in `n_undecodable` (review r16). */
  def pqReconError(spark: SparkSession, path: String, raw: DataFrame,
      idCol: String, cb: PqCodebooks, residual: Boolean = false,
      embCol: String = "embedding", sampleFraction: Double = 1.0,
      seed: Long = 42L): DataFrame = {
    val enc = spark.read.parquet(s"$path/assigned")
    Similarity.codesWidth(enc).foreach(w => require(w == cb.m,
      s"pqReconError: codebooks are m=${cb.m}-wide but the codes under " +
        s"$path/assigned are $w-wide — not this codebook's index"))
    val live = SafeFs.liveRows(spark, path, enc)
    pqReconRows(live, raw, idCol, cb,
      if (residual) Some(spark.read.parquet(s"$path/centroids")) else None,
      embCol, sampleFraction, seed)
      .agg(count(col("rel_err")).as("n"), avg(col("rel_err")).as("mean_rel_err"),
        max(col("rel_err")).as("max_rel_err"),
        // attribute each null rel_err to its actual cause (review r16:
        // a null decode — e.g. a null code slot — is an INDEX defect,
        // not a zero-norm raw vector; folding both into n_zero_norm
        // sent the operator hunting the wrong corpus)
        count(when(col("_zero_norm"), 1)).as("n_zero_norm"),
        count(when(col("_undecodable"), 1)).as("n_undecodable"))
  }

  /** Frame-level core of [[pqReconError]]: per-row relative
    * reconstruction error `(idCol, rel_err)` of an ENCODED frame
    * against its raw vectors — `rel_err = ‖x − decode(codes)‖ / ‖x‖`,
    * decode via the [[graft.functions.PqDecodeF]] codegen gather
    * (codebook as a reference object, zero-shuffle map side — r16;
    * bit-identical to the join form [[pqDecodeViaJoin]] pins, since
    * the gather copies the same codeword doubles in the same subspace
    * order with no arithmetic); `centroids = Some(…)` adds the cell
    * centroid back (the residual form). A zero-norm raw vector gets a
    * null `rel_err` (0/0 has no defined relative error — the path
    * form counts them in `n_zero_norm`). The path form folds
    * tombstones and aggregates; this form is the oracle-checkable unit
    * (x101 hash-checks it cross-engine with deterministic
    * codebooks). */
  def pqReconErrorOf(encoded: DataFrame, raw: DataFrame, idCol: String,
      cb: PqCodebooks, centroids: Option[DataFrame] = None,
      embCol: String = "embedding", sampleFraction: Double = 1.0,
      seed: Long = 42L): DataFrame =
    pqReconRows(encoded, raw, idCol, cb, centroids, embCol,
      sampleFraction, seed)
      .select(col(idCol), col("rel_err"))

  /** [[pqReconErrorOf]] plus the null-cause attribution columns the
    * summary form aggregates: `_zero_norm` (raw vector with no defined
    * relative error) vs `_undecodable` (null decode — a null code slot
    * in the index — or a null/ragged raw embedding). Both are nulls in
    * `rel_err`, but they indict DIFFERENT corpora: the first is a raw-
    * data property, the second an index/join defect (review r16). */
  private[ext] def pqReconRows(encoded: DataFrame, raw: DataFrame,
      idCol: String, cb: PqCodebooks, centroids: Option[DataFrame] = None,
      embCol: String = "embedding", sampleFraction: Double = 1.0,
      seed: Long = 42L): DataFrame = {
    require(sampleFraction > 0.0 && sampleFraction <= 1.0,
      "sampleFraction is a fraction")
    val src = (if (sampleFraction >= 1.0) encoded
      else encoded.sample(withReplacement = false, sampleFraction, seed))
      .filter(col("codes").isNotNull)
    // `cell` is a RESIDUAL-branch need only (the centroid add-back
    // keys on it); a plain pqEncode frame carries no cell column and
    // must not be forced to fabricate one (review r15)
    val keyCols = if (centroids.isEmpty) Seq(col(idCol))
      else Seq(col(idCol), col("cell"))
    val dec0 = src.select(keyCols :+
      toCol(graft.functions.PqDecodeF(toExpr(col("codes")), cb.cents))
        .as("_dec"): _*)
    val dec = centroids match {
      case None => dec0
      case Some(cents) => dec0
        .join(broadcast(cents
          .select(col("cell").cast("int").as("_ccell"),
            transform(col("cent"), x => x.cast("double")).as("_cent"))),
          col("cell").cast("int") === col("_ccell"))
        .withColumn("_dec", zip_with(col("_dec"), col("_cent"),
          (d, c) => d + c))
        .drop("_ccell", "_cent")
    }
    // The raw corpus is the BIG side by construction (the sample is
    // sampleFraction of the index); shuffling it to meet a
    // monitoring-cadence sample 100× smaller was the residual cost
    // after the decode fused (2.4s of the 1M×1% estimate). When the
    // decoded sample is provably broadcast-sized — COUNTED, never
    // assumed from the fraction (1% of 10B rows is not small) — hint
    // it so raw streams map-side with no shuffle at all. The count
    // itself is one codes-pruned scan, the describe's cost. Values are
    // unaffected either way (same arithmetic, join strategy only).
    val decSide =
      if (sampleFraction < 1.0 &&
          src.count() * (8L * cb.dim + 64L) <= (64L << 20)) broadcast(dec)
      else dec
    decSide
      // cast-to-double AFTER the id join: only matched rows (the
      // sample) pay the per-element copy, and a shuffled raw side
      // moves float arrays, not doubles
      .join(raw.select(col(idCol), col(embCol).as("_xf")), Seq(idCol))
      .withColumn("_x", transform(col("_xf"), x => x.cast("double")))
      .withColumn("_err", sqrt(Similarity.dot(
        zip_with(col("_x"), col("_dec"), (x, d) => x - d),
        zip_with(col("_x"), col("_dec"), (x, d) => x - d))))
      .withColumn("_nrm", sqrt(Similarity.dot(col("_x"), col("_x"))))
      // a zero-norm vector would make rel_err NaN (0/0) and poison the
      // summary's avg/max; null is honest "undefined" (ADVICE r15)
      .select(col(idCol),
        when(col("_nrm") === 0.0, lit(null).cast("double"))
          .otherwise(col("_err") / col("_nrm")).as("rel_err"),
        (col("_nrm") === 0.0).as("_zero_norm"),
        (col("_nrm").isNull ||
          (col("_nrm") =!= 0.0 && col("_err").isNull)).as("_undecodable"))
  }

  /** The pre-r16 broadcast (sub, code) → codeword JOIN decode,
    * retained solely as the independently-shaped reference
    * implementation PqSpec pins [[graft.functions.PqDecodeF]]
    * bit-identical against (posexplode → broadcast codebook join →
    * collect_list/array_sort re-assembly in subspace order — a
    * different plan computing the same gather). Production paths use
    * the kernel; do not call this from query code. */
  private[graft] def pqDecodeViaJoin(encoded: DataFrame, idCol: String,
      cb: PqCodebooks): DataFrame = {
    val spark = encoded.sparkSession
    encoded.filter(col("codes").isNotNull)
      .select(col(idCol), posexplode(col("codes")).as(Seq("sub", "code")))
      .join(broadcast(codebookDf(spark, cb)), Seq("sub", "code"))
      .groupBy(col(idCol))
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("sub"), col("cent")))),
        s => s.getField("cent"))).as("_dec"))
  }

  /** Query-side ADC lookup table: `lut(s)(c) = q_s · cent_{s,c}` —
    * m × k doubles, built on the driver once per query through the
    * [[graft.functions.DotF32]] kernel's fold. */
  def adcLut(q: IndexedSeq[Double], cb: PqCodebooks)
      : IndexedSeq[IndexedSeq[Double]] = {
    require(q.length == cb.dim,
      s"query dim ${q.length} != codebook dim ${cb.dim}")
    cb.cents.zipWithIndex.map { case (cws, s) =>
      val qs = q.slice(s * cb.subDim, (s + 1) * cb.subDim)
      cws.map(Similarity.dotOf(qs, _))
    }
  }

  /** Approximate cosine of each encoded row against a driver-side query
    * vector: `adc_dot / (recon_norm · ‖q‖)` where `adc_dot =
    * Σ_s lut(s)(code_s) = q · x̂` — the [[graft.functions.PqAdcF]]
    * kernel over the codes column. UNROUNDED; callers round at 6 for
    * the cross-engine rank rule. */
  def adcCosine(codes: Column, reconNorm: Column, q: IndexedSeq[Double],
      cb: PqCodebooks): Column = {
    val qn = math.sqrt(q.foldLeft(0.0)((a, x) => a + x * x))
    toCol(graft.functions.PqAdcF(toExpr(codes), adcLut(q, cb))) /
      (reconNorm * lit(qn))
  }

  /** PQ top-k by approximate cosine over an ENCODED frame — the scan
    * reads `codes` + `recon_norm` only (≈(4m+8) bytes/row vs 4·dim for
    * the raw index; at dim=64, m=8 that is 5.3× fewer index bytes, and
    * the parquet ReadSchema shows the embedding column is never
    * touched). Shape: shuffle-free scan + TakeOrdered, the
    * [[Similarity.bruteForceTopK]] skeleton with ADC in place of the
    * exact dot.
    *
    * `rerankWith` = the full-precision frame (id + embedding): take
    * `rerankFactor`·k ADC candidates, join them back (broadcast — the
    * candidate set is bounded at rerankFactor·k ids by construction),
    * exact-cosine top-k. The standard two-stage IVF-PQ read: compressed
    * scan does the heavy pruning, full vectors are fetched for a
    * bounded handful. */
  def pqTopK(encoded: DataFrame, cb: PqCodebooks, query: IndexedSeq[Double],
      idCol: String, k: Int = 10, rerankWith: Option[DataFrame] = None,
      rerankFactor: Int = 4, embCol: String = "embedding"): DataFrame =
    scoredTopK(
      encoded.withColumn("cos_pq",
        round(adcCosine(col("codes"), col("recon_norm"), query, cb), 6)),
      query, idCol, k, rerankWith, rerankFactor, embCol)

  /** The ordering/rerank tail every single-query ADC scorer shares
    * (plain and residual PQ probes, and [[Sq.sqTopK]] — `scoreCol`
    * names the approximate score): top-k of an already-scored frame,
    * or the two-stage exact rerank over k·factor candidates.
    * One implementation so the rounding rule, (score desc, id)
    * tie-break, candidate bound, and output shape cannot drift between
    * the scoring forms. */
  private[ext] def scoredTopK(scored: DataFrame, query: IndexedSeq[Double],
      idCol: String, k: Int, rerankWith: Option[DataFrame],
      rerankFactor: Int, embCol: String,
      scoreCol: String = "cos_pq"): DataFrame = rerankWith match {
    case None =>
      scored.orderBy(col(scoreCol).desc, col(idCol))
        .select(col(idCol), col(scoreCol)).limit(k)
    case Some(full) =>
      val cand = scored.orderBy(col(scoreCol).desc, col(idCol))
        .select(col(idCol)).limit(k * rerankFactor)
      val qlit = array(query.map(lit(_)): _*)
      val qn = math.sqrt(query.foldLeft(0.0)((a, x) => a + x * x))
      full.join(broadcast(cand), Seq(idCol))
        .withColumn("cos", round(
          Similarity.dot(col(embCol), qlit) /
            (Similarity.norm(col(embCol)) * lit(qn)), 6))
        .orderBy(col("cos").desc, col(idCol))
        .select(col(idCol), col("cos")).limit(k)
  }

  /** Encode an IVF index's assigned frame into its PQ form: same
    * `IvfIndex` type, `assigned` = `(idCol, cell, codes, recon_norm)` —
    * feed it straight to [[Similarity.ivfSave]] /
    * [[Similarity.ivfAppendSave]] / the whole maintenance layer, which
    * never looks at the payload columns. `keep` names metadata columns
    * from the assigned frame to carry into the encoded index — the
    * columns a filtered probe's `pred` can reference (compression is
    * per-column; keeping narrow metadata barely moves the PQ size
    * win). */
  def ivfPqEncode(index: Similarity.IvfIndex, cb: PqCodebooks,
      idCol: String, embCol: String = "embedding",
      keep: Seq[String] = Nil): Similarity.IvfIndex =
    Similarity.IvfIndex(
      pqEncode(index.assigned, embCol, cb)
        .select((Seq(idCol, "cell", "codes", "recon_norm") ++ keep)
          .map(col): _*),
      index.centroids)

  /** IVF-PQ probe: cells ranked and pruned by
    * [[Similarity.probeFront]] — the collect-bounded `cell IN (…)`
    * pruning against a bucketed index, `pred` (over the columns the
    * encode `keep`-ed) conjoined after it — then
    * ADC-score ONLY the probed cells' codes. `query` is a 1-row frame;
    * its embedding is collected to build the LUT — bounded at dim
    * doubles, the same driver-side bound as the probe-cell list.
    * Optional exact re-rank as in [[pqTopK]].
    *
    * `superQ` switches cell ranking to the two-level quantizer
    * ([[Similarity.ivfSuperBuild]] / [[Similarity.rankCells]]): rank
    * the √nCells super-centroids, then only the top `nProbeSuper`
    * supers' children — the per-probe distance folds drop from nCells
    * to ≈ nSuper + nProbeSuper·nCells/nSuper, the bound that matters at
    * a production 10⁴–10⁵-cell quantizer. Above the auto-hier threshold
    * the index supplies that hierarchy when `superQ` is None;
    * `nProbeSuper = 0` forces flat ([[Similarity.resolveSuper]]). */
  def ivfPqProbe(index: Similarity.IvfIndex, cb: PqCodebooks,
      query: DataFrame, idCol: String, embCol: String = "embedding",
      nProbe: Int = 2, k: Int = 10, rerankWith: Option[DataFrame] = None,
      rerankFactor: Int = 4, superQ: Option[Similarity.IvfSuper] = None,
      nProbeSuper: Int = 2, pred: Option[Column] = None): DataFrame = {
    val front = Similarity.probeFront("ivfPqProbe", index, query, embCol,
      nProbe, superQ, nProbeSuper, pred)
    pqTopK(front.candidates, cb, front.q, idCol, k, rerankWith,
      rerankFactor, embCol)
  }

  /** The codebook as a tiny DataFrame — m × k rows of
    * `(sub, code, cent)`, the distributable twin of the driver-side
    * `cents` matrix (same layout as [[codebooksSave]]'s parquet). */
  private def codebookDf(spark: SparkSession, cb: PqCodebooks): DataFrame = {
    import spark.implicits._
    cb.cents.zipWithIndex.flatMap { case (cws, s) =>
      cws.zipWithIndex.map { case (w, c) => (s, c, w) }
    }.toDF("sub", "code", "cent")
  }

  /** Per-cell constants for RESIDUAL encoding/decoding, computed
    * distributively from the (tiny, nCells-row) centroid frame:
    * `_cent` (double centroid), `_cnorm2` = ‖cent‖², and `_centdot` —
    * the flattened m·k array `cent[slice s] · w_{s,c}` at [s·k + c].
    * These are exactly the constants that make the reconstruction norm
    * of a residual-encoded vector a per-row CONSTANT lookup:
    * ‖cent + decode(codes)‖² = ‖cent‖² + 2·Σ_s centdot[s·k+code_s] +
    * Σ_s ‖w_{s,code_s}‖² — the first fold is [[graft.functions.PqAdcPairF]]
    * over the joined `_centdot` column, the second
    * [[graft.functions.PqAdcF]] over the constant `normSq` table. */
  private[graft] def residualCellConsts(index: Similarity.IvfIndex,
      cb: PqCodebooks): DataFrame = {
    val centD = transform(col("cent"), x => x.cast("double"))
    index.centroids
      .select(col("cell").cast("int").as("_ccell"), centD.as("_cent"))
      .withColumn("_cnorm2", Similarity.dot(col("_cent"), col("_cent")))
      .withColumn("_centdot", array((0 until cb.m).flatMap { s =>
        (0 until cb.k).map { c =>
          Similarity.dot(
            slice(col("_cent"), s * cb.subDim + 1, cb.subDim),
            array(cb.cents(s)(c).map(lit(_)): _*))
        }
      }: _*))
  }

  /** The residual column, defined ONCE: join the (tiny) per-cell frame
    * `consts` — which must carry `_ccell` and `_cent` — and append
    * `_resid = double(x) − cent`. Shared by the train and encode paths
    * so the residual definition cannot drift between them (a silent
    * recall regression if it did). */
  private def withResidual(assigned: DataFrame, embCol: String,
      consts: DataFrame): DataFrame =
    assigned
      .join(broadcast(consts), col("cell").cast("int") === col("_ccell"))
      .withColumn("_resid", zip_with(
        transform(col(embCol), x => x.cast("double")), col("_cent"),
        (x, y) => x - y))

  /** RESIDUAL PQ encode — the FAISS `IndexIVFPQ` default (IVFADC,
    * Jégou et al. §IV-A): quantize `x − cent(cell)` instead of `x`.
    * WHEN the corpus actually clusters, residuals concentrate around
    * zero with far less variance than raw vectors, so the same (m, k)
    * budget quantizes them with lower reconstruction error. Measured
    * honestly (PQ_BENCH): on a genuinely clustered corpus the
    * residual form's ADC recall beats plain PQ at the same bytes
    * (`clustered_recall_adc_residual` vs `clustered_recall_adc`); on
    * the harness's weak-cluster synthetic embeddings residuals ≈ raw
    * vectors minus a near-constant, so r12 showed NO win (ADC 0.780
    * residual vs 0.815 plain at byte parity, 894 KB vs 912 KB) and
    * exact re-rank recovered 0.890 either way — the corpus, not the
    * kernel, decides. Requires the
    * batch to be cell-ASSIGNED already (the `cell` column), i.e. runs
    * after [[Similarity.ivfAssign]]/`ivfAssignHier` — exactly where
    * [[ivfPqEncode]] sits in the pipeline.
    *
    * Output schema is IDENTICAL to [[pqEncode]]'s (`codes`,
    * `recon_norm` appended): `recon_norm` = ‖cent + decode(codes)‖,
    * assembled from the per-cell constants of [[residualCellConsts]]
    * (broadcast join on cell — nCells rows) + two codegen constant-fold
    * kernels; one pass, no extra shuffle. A residual-encoded index
    * therefore rides the ENTIRE maintenance layer unchanged — but must
    * be probed with [[ivfPqProbeResidual]] (scoring adds the per-cell
    * `q·cent` term that raw-ADC scoring doesn't have); the codebooks
    * must be trained on RESIDUALS ([[trainedResidualCodebooks]]) or be
    * the deterministic set. */
  def pqEncodeResidual(assigned: DataFrame, embCol: String,
      cb: PqCodebooks, index: Similarity.IvfIndex): DataFrame = {
    val joined = withResidual(assigned, embCol, residualCellConsts(index, cb))
    val tmp = (0 until cb.m).foldLeft(joined) { (acc, s) =>
      acc.withColumn(s"_pq$s", toCol(graft.functions.NearestCentroidF(
        toExpr(slice(col("_resid"), s * cb.subDim + 1, cb.subDim)),
        cb.cents(s))))
    }
    tmp
      .withColumn("codes", array((0 until cb.m).map(s => col(s"_pq$s")): _*))
      .withColumn("recon_norm", sqrt(
        col("_cnorm2")
          + lit(2.0) * toCol(graft.functions.PqAdcPairF(
            toExpr(col("codes")), toExpr(col("_centdot")), cb.k))
          + toCol(graft.functions.PqAdcF(toExpr(col("codes")), cb.normSq))))
      .drop((0 until cb.m).map(s => s"_pq$s"): _*)
      .drop("_ccell", "_cent", "_cnorm2", "_centdot", "_resid")
  }

  /** Train codebooks on the RESIDUALS of an assigned corpus — the fit
    * companion of [[pqEncodeResidual]] ([[trainedCodebooks]] over a
    * materialized residual column; sample the corpus for the fit
    * exactly as there). */
  def trainedResidualCodebooks(assigned: DataFrame, embCol: String,
      index: Similarity.IvfIndex, dim: Int, m: Int, k: Int,
      seed: Long = 42L): PqCodebooks = {
    val centD = transform(col("cent"), x => x.cast("double"))
    val consts = index.centroids
      .select(col("cell").cast("int").as("_ccell"), centD.as("_cent"))
    trainedCodebooks(withResidual(assigned, embCol, consts), "_resid",
      dim, m, k, seed)
  }

  /** [[ivfPqEncode]] in residual form: same `IvfIndex` composition,
    * `assigned` = `(idCol, cell, codes, recon_norm)` with codes
    * quantizing the residual. `keep` carries metadata columns into the
    * encoded index for filtered probes, as in [[ivfPqEncode]]. */
  def ivfPqEncodeResidual(index: Similarity.IvfIndex, cb: PqCodebooks,
      idCol: String, embCol: String = "embedding",
      keep: Seq[String] = Nil): Similarity.IvfIndex =
    Similarity.IvfIndex(
      pqEncodeResidual(index.assigned, embCol, cb, index)
        .select((Seq(idCol, "cell", "codes", "recon_norm") ++ keep)
          .map(col): _*),
      index.centroids)

  /** Probe a RESIDUAL-encoded index: identical cell ranking (flat or
    * hierarchical) and pruning to [[ivfPqProbe]]
    * ([[Similarity.probeFront]]), but the approximate dot gains the
    * per-cell constant — `q·x̂ = q·cent_cell + Σ_s lutR(s)(code_s)`
    * where lutR is [[adcLut]] on the residual codebooks and `q·cent`
    * is driver-computed for ONLY the probed cells, from the centroids
    * the front returns (nProbe dot products — the same bound as the
    * probe-cell list). Scoring stays a scan of codes+recon_norm;
    * optional exact rerank as in [[pqTopK]]. */
  def ivfPqProbeResidual(index: Similarity.IvfIndex, cb: PqCodebooks,
      query: DataFrame, idCol: String, embCol: String = "embedding",
      nProbe: Int = 2, k: Int = 10, rerankWith: Option[DataFrame] = None,
      rerankFactor: Int = 4, superQ: Option[Similarity.IvfSuper] = None,
      nProbeSuper: Int = 2, pred: Option[Column] = None): DataFrame = {
    val front = Similarity.probeFront("ivfPqProbeResidual", index, query,
      embCol, nProbe, superQ, nProbeSuper, pred)
    val q = front.q
    // flat map-literal lookup: an O(nProbe)-deep when/otherwise chain
    // risked codegen-size fallback at large nProbe (ADVICE r12)
    val qcentCol = element_at(map(front.cells.flatMap { case (c, cent) =>
        Seq(lit(c), lit(Similarity.dotOf(q, cent)))
      }: _*), col("cell").cast("int"))
    val qn = math.sqrt(q.foldLeft(0.0)((a, x) => a + x * x))
    val scored = front.candidates
      .withColumn("cos_pq", round(
        (qcentCol + toCol(graft.functions.PqAdcF(
          toExpr(col("codes")), adcLut(q, cb)))) /
          (col("recon_norm") * lit(qn)), 6))
    scoredTopK(scored, q, idCol, k, rerankWith, rerankFactor, embCol)
  }

  /** Bulk IVF-PQ probe — a BATCH of queries against one encoded index
    * in one distributed pass (the x89 bulk-band-probe shape applied to
    * ADC scoring). [[ivfPqProbe]] runs a query collect per query: right
    * for an ad-hoc probe, a sequential driver round-trip per query for
    * a retrieval workload of thousands. Here the queries are collected
    * once and the index scanned once:
    *
    *  1. cell ranking: each query's top-`nProbe` cells on the driver
    *     ([[Similarity.rankCells]], flat or hierarchical — squared-L2
    *     rounded at 6, ties to the lowest cell, the x85/x88 rank rule);
    *  2. LUTs: each query's [[adcLut]] (m·k sub-dots through the
    *     [[graft.functions.DotF32]] kernel's fold), flattened row-major,
    *     carried on its (query, cell) pairs — Q·nProbe rows of m·k
    *     doubles;
    *  3. scoring: the probed cells' codes joined to the broadcast
    *     (query, cell, lut) frame — `cell IN (…)` prunes the scan to
    *     the union of probed cells (bucket-pruned against an
    *     [[Similarity.ivfSave]]d layout) — ADC via the column-LUT kernel
    *     [[graft.functions.PqAdcPairF]], top-k per query by windowed
    *     rank.
    *
    * Scale shape: the corpus-sized side is touched once (the pruned
    * codes scan); everything per-query is Q·nProbe-bounded and
    * broadcast-sized per executor. Work is Σ_cells |cell|·(queries
    * probing that cell) — the IVF-PQ bulk contract. `superQ` switches
    * the cell ranking to the two-level quantizer. `residual = true`
    * scores a RESIDUAL-encoded index ([[pqEncodeResidual]]): pass the
    * residual codebooks as `cb`, and each (query, probed cell) pair
    * carries its `q·cent` constant, from the centroid the ranking
    * returned. Result ≡ running [[ivfPqProbe]] / [[ivfPqProbeResidual]]
    * per query (PqSpec pins both); output ordered (query, cos_pq desc,
    * id). Pairs, pruned scan, top-k and rerank are
    * [[Similarity.bulkProbe]]'s, shared with the raw bulk probe. */
  def ivfPqProbeBulk(index: Similarity.IvfIndex, cb: PqCodebooks,
      queries: DataFrame, qidCol: String, idCol: String,
      embCol: String = "embedding", nProbe: Int = 2,
      k: Int = 10, superQ: Option[Similarity.IvfSuper] = None,
      nProbeSuper: Int = 2, residual: Boolean = false,
      pred: Option[Column] = None,
      rerankWith: Option[DataFrame] = None,
      rerankFactor: Int = 4): DataFrame = {
    val adc = toCol(graft.functions.PqAdcPairF(
      toExpr(col("codes")), toExpr(col("_lut")), cb.k))
    Similarity.bulkProbe("ivfPqProbeBulk", index, queries, qidCol, idCol,
      embCol, nProbe, k, superQ, nProbeSuper, pred, rerankWith,
      rerankFactor, "cos_pq", Nil)(
      StructField("_lut", ArrayType(DoubleType)) +:
        (if (residual) Seq(StructField("_qcent", DoubleType)) else Nil),
      { q =>
        val lut = adcLut(q, cb).flatten.toArray
        if (!residual) { val v = Seq(lut); _ => v }
        else c => Seq(lut, Similarity.dotOf(q, c._2))
      },
      // the raw form's arithmetic is untouched (x91's oracle mirrors it
      // term for term); residual prepends the q·cent constant
      round((if (residual) col("_qcent") + adc else adc) /
        (col("recon_norm") * col("_qn")), 6))
  }
}
