package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
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

  import Quantizer.{toCol, toExpr}

  private[ext] val CodebooksDir = "pq_codebooks"
  private val BaselineDir = "pq_usage_baseline"

  /** PQ codebooks: `cents(s)(c)` is subspace `s`'s codeword `c`
    * (subDim doubles). Plain data — round-trips through parquet
    * ([[codebooksSave]]/[[codebooksLoad]]) so an encoded index never
    * needs the training corpus again. As a [[Quantizer]] its codes are
    * `m` wide, and its side files are the codebooks and the post-encode
    * usage baseline. */
  final case class PqCodebooks(dim: Int, m: Int,
      cents: IndexedSeq[IndexedSeq[IndexedSeq[Double]]]) extends Quantizer {
    require(m >= 1 && dim % m == 0,
      s"PQ subspaces must tile the dimension: dim=$dim, m=$m")
    require(cents.length == m && cents.forall(_.nonEmpty) &&
      cents.forall(_.forall(_.length == dim / m)),
      "codebook shape must be m x k x (dim/m)")
    // all subspaces must share one k: MLlib KMeans can return fewer
    // than k centers on degenerate data, and a ragged trained codebook
    // would otherwise surface only at probe time as PqAdcF's misleading
    // "m x k matrix" rejection, far from the cause
    require(cents.forall(_.length == cents.head.length), "ragged codebook: " +
      s"subspace codeword counts ${cents.map(_.length).mkString(",")} " +
      "differ — KMeans returned fewer than k centers (too-small data)")
    def k: Int = cents.head.length
    def subDim: Int = dim / m
    /** ‖cent_{s,c}‖² per codeword (sequential element fold — the shared
      * accumulation order both engines' recon-norm paths mirror). */
    lazy val normSq: IndexedSeq[IndexedSeq[Double]] =
      cents.map(_.map(_.foldLeft(0.0)((a, x) => a + x * x)))

    private[graft] def widthTell: (Int, String) =
      (m, s"the PQ codebooks' m=$m")
    private[graft] def encode(df: DataFrame, embCol: String): DataFrame =
      pqEncode(df, embCol, this)
    private[graft] def scoreCol: String = "cos_pq"
    private[graft] def dot(q: IndexedSeq[Double], caller: String): Column =
      toCol(graft.functions.PqAdcF(toExpr(col("codes")), adcLut(q, this)))
    /** The codebooks, and the usage baseline: recorded from freshly
      * encoded codes, carried unchanged (when present) with carried
      * codes — recording carried, possibly drifted codes as "healthy"
      * would blind [[pqUsageDegraded]]. */
    private[graft] def sideFiles(spark: SparkSession, path: String,
        encoded: Option[DataFrame]): Seq[(String, DataFrame)] =
      (CodebooksDir -> codebookDf(spark, this)) +:
        encoded.map(pqDescribeOf(_, this))
          .orElse(Quantizer.sideFile(spark, path, BaselineDir))
          .map(BaselineDir -> _).toSeq
    private[graft] def drift: Quantizer.Drift = Quantizer.Drift(UsageSchema,
      pqCodeUsage(_, "codes", _, _), usageSummary(this))
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
    PqCodebooks(dim, m,
      IndexedSeq.fill(m, k, dim / m)(rnd.nextDouble() * 2 - 1))
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
    try PqCodebooks(dim, m, (0 until m).map { s =>
      new KMeans().setK(k).setSeed(seed + s)
        .setFeaturesCol(s"_v$s").setPredictionCol("_c")
        .fit(proj).clusterCenters.map(_.toArray.toIndexedSeq).toIndexedSeq
    }) finally { proj.unpersist(); () }
  }

  /** Persist codebooks as one tiny parquet (m × k rows of
    * `(sub, code, cent)`) next to the index they encode. */
  def codebooksSave(spark: SparkSession, cb: PqCodebooks,
      path: String): Unit =
    Quantizer.writeOne(codebookDf(spark, cb), path)

  /** Reopen persisted codebooks. Codes are dense 0..k-1 per subspace by
    * construction ([[codebooksSave]] writes them that way); the sort
    * restores `cents(s)(c)` positional addressing. */
  def codebooksLoad(spark: SparkSession, path: String): PqCodebooks = {
    val rows = spark.read.parquet(path).select(col("sub").cast("int"),
      col("code").cast("int"), col("cent")).collect()
    require(rows.nonEmpty, s"codebooksLoad: no codebook rows under " +
      s"$path — not a codebooksSave dir")
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
  def pqEncode(df: DataFrame, embCol: String, cb: PqCodebooks): DataFrame =
    withCodes(df, col(embCol), cb)(sqrt((0 until cb.m).map { s =>
      element_at(array(cb.normSq(s).map(lit(_)): _*), col(s"_pq$s") + 1)
    }.reduce(_ + _)))

  /** The encode both PQ forms share: per-subspace argmin of `src`'s
    * slices into `_pq<s>` columns, assembled into `codes`, then
    * `recon_norm` (which may read the `_pq<s>` codes), temporaries
    * dropped. */
  private def withCodes(df: DataFrame, src: Column, cb: PqCodebooks)(
      reconNorm: Column): DataFrame =
    (0 until cb.m).foldLeft(df) { (acc, s) =>
      acc.withColumn(s"_pq$s", toCol(graft.functions.NearestCentroidF(
        toExpr(slice(src, s * cb.subDim + 1, cb.subDim)), cb.cents(s))))
    }
      .withColumn("codes", array((0 until cb.m).map(s => col(s"_pq$s")): _*))
      .withColumn("recon_norm", reconNorm)
      .drop((0 until cb.m).map(s => s"_pq$s"): _*)

  /** Persist a PQ-encoded IVF index TOGETHER with its codebooks
    * ([[Similarity.ivfSave]] + [[codebooksSave]] under
    * `$path/pq_codebooks`): codes are unreadable without the codebooks
    * that produced them — the PQ decode key, exactly the gap
    * [[graft.ext.Sq.ivfSqSave]] closes for SQ params. The codebooks
    * dir sits OUTSIDE the assigned tree (append/delete/compact leave
    * it untouched); [[ivfPqRetrain]] refreshes it THROUGH the staged
    * swap, so codes and codebooks can never publish separately.
    * Reopen with [[Similarity.ivfLoad]] + [[pqCodebooksOf]].
    *
    * The save also records the post-encode usage baseline under
    * `$path/pq_usage_baseline`: one [[pqDescribeOf]] row of what
    * "healthy" looks like for these codebooks on this corpus, the
    * reference [[pqUsageDegraded]] compares against. It costs one codes
    * scan. Both side files are [[PqCodebooks.sideFiles]], written by
    * the shared [[Quantizer.save]]. */
  def ivfPqSave(index: Similarity.IvfIndex, cb: PqCodebooks,
      table: String, path: String, nCells: Int): Unit =
    Quantizer.save(cb, index, table, path, nCells)

  /** Reopen the post-encode usage baseline an [[ivfPqSave]] (or a
    * retrain swap) stored next to the index — None for an index saved
    * without one (plain [[Similarity.ivfSave]], or a layout older than
    * the baseline). */
  def pqUsageBaselineOf(spark: SparkSession, path: String): Option[Row] =
    Quantizer.sideFile(spark, path, BaselineDir).flatMap(_.collect().headOption)

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
    val fix = s"re-record it: pqDescribeOf(assigned, cb) → $path/$BaselineDir"
    val base = pqUsageBaselineOf(spark, path).getOrElse(
      throw new IllegalArgumentException(s"pqUsageDegraded: no " +
        s"$BaselineDir under $path — save via ivfPqSave, or $fix"))
    // a baseline recorded on an EMPTY index (a streaming bootstrap saved
    // the layout before rows landed) can never witness drift; comparing
    // against it would disable the hook forever
    require(!base.isNullAt(base.fieldIndex("min_sub_entropy")),
      s"pqUsageDegraded: the baseline under $path was recorded on an " +
        s"empty index and cannot witness drift — once populated, $fix")
    // the baseline's (m, k) pin the codebooks it was recorded under:
    // stale codebooks after an external refit write the same m-wide
    // codes, so no layout guard can tell the generations apart
    require(base.getAs[Int]("m") == cb.m && base.getAs[Int]("k") == cb.k,
      s"pqUsageDegraded: the baseline under $path was recorded under " +
        s"m=${base.getAs[Int]("m")}, k=${base.getAs[Int]("k")}, not the " +
        s"supplied m=${cb.m}, k=${cb.k} — another codebook generation; $fix")
    // a null-entropy row is ambiguous under sampling: the index may be
    // empty (never fires), or a sparse sample came back empty, which
    // must not read as healthy — settle it with one full describe
    val cur = Some(pqDescribe(spark, path, cb, sampleFraction, seed).head)
      .filterNot(r => r.isNullAt(r.fieldIndex("min_sub_entropy")) &&
        sampleFraction < 1.0)
      .getOrElse(pqDescribe(spark, path, cb, 1.0, seed).head)
    Quantizer.fired(cur, "min_sub_entropy")(v => v("min_sub_entropy") <
      base.getAs[Double]("min_sub_entropy") - maxEntropyDrop ||
      v("max_code_frac") > base.getAs[Double]("max_code_frac") + maxFracRise)
  }

  /** Reopen the codebooks an [[ivfPqSave]] (or a retrain) stored next
    * to the index. */
  def pqCodebooksOf(spark: SparkSession, path: String): PqCodebooks =
    codebooksLoad(spark, s"$path/$CodebooksDir")

  /** [[Similarity.ivfRetrain]] for a PQ-ENCODED persisted index — the
    * raw-access form: PQ codes cannot seed a re-fit the way SQ codes
    * can (plain-PQ decode is codebook-coarse, and residual codes are
    * defined against the OLD cells), so the caller brings the raw
    * embedding frame — which a production deployment retains anyway: a
    * PQ index is a DERIVED artifact of its corpus, and this is the
    * `rerankWith` access pattern applied to maintenance. The coarse
    * re-fit runs on the raw vectors joined to the index's LIVE ids
    * (every live id must be covered — missing ids fail loudly, never
    * silently vanish from the index; tombstoned ids may be absent).
    * The body is the shared [[Quantizer.rawRetrain]].
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
    *    form: old codebooks model the OLD cells' residual
    *    distribution, so re-encoding new-cell residuals through them
    *    silently degrades quantization error in exactly the drifted
    *    corpus that fired the policy. `Some(false)` opts out (skips
    *    the m KMeans fits when the drift is known-mild).
    *
    * The (possibly refreshed) codebooks are staged INSIDE the swapped
    * tree (`retrainImpl`'s `stagedMeta` → published to
    * `$path/pq_codebooks` by `finalizeRetrain` before the centroid
    * publish): no crash window can publish new cells/codes under old
    * codebooks or vice versa. The usage baseline is re-recorded from
    * re-encoded codes and carried unchanged with carried codes. Returns
    * the reopened index AND the codebooks valid for its codes — probe
    * with exactly these.
    *
    * SQ and PQ layouts share one schema (`codes` + `recon_norm`); the
    * one tell between them is the codes width, which the shared layout
    * guard ([[Quantizer.requireLayout]]) checks against `cb.m` before
    * anything is rewritten: an SQ layout's dim-wide codes are refused,
    * not re-encoded or given `pq_codebooks` next to its `sq_params`. */
  def ivfPqRetrain(spark: SparkSession, table: String, path: String,
      nCells: Int, raw: DataFrame, idCol: String, cb: PqCodebooks,
      embCol: String = "embedding", residual: Boolean = false,
      refitCodebooks: Option[Boolean] = None, seed: Long = 42L)
      : (Similarity.IvfIndex, PqCodebooks) = {
    val refit = refitCodebooks.getOrElse(residual)
    Quantizer.rawRetrain("ivfPqRetrain", spark, table, path, nCells, raw,
        idCol, embCol, seed, cb.widthTell) { idx =>
      val a = idx.assigned.drop("codes", "recon_norm")
      if (!residual && !refit) (cb, None)
      else if (!residual) {
        val c = trainedCodebooks(a, embCol, cb.dim, cb.m, cb.k, seed)
        (c, Some(pqEncode(a, embCol, c)))
      } else {
        // valid, but quantization error grows with how far cells moved
        if (!refit) SafeFs.report("ivfPqRetrain: WARNING — residual " +
          "re-encode with refitCodebooks = Some(false): codebooks model " +
          "the OLD cells' residual distribution")
        val c = if (!refit) cb else
          trainedResidualCodebooks(a, embCol, idx, cb.dim, cb.m, cb.k, seed)
        (c, Some(pqEncodeResidual(a, embCol, c, idx)))
      }
    }
  }

  /** Policy wrapper over [[ivfPqRetrain]] — the PQ member of the
    * shared-trigger family ([[Similarity.retrainTrigger]], one policy,
    * three retrain forms). The raw frame is the extra requirement PQ
    * carries; returns the refreshed codebooks when it fired, None when
    * it didn't.
    *
    * Beyond the shared CELL trigger, PQ has a drift axis the cell
    * policy cannot see: codebook health ([[pqDescribe]]).
    * `minSubEntropy` / `maxCodeFrac` ARM the usage trigger (both
    * disabled by default: 0.0 / 1.0 never fire); when
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
        // armed usage trigger: a usage-collapse fire IS a codebook refit
        if ((minSubEntropy > 0.0 || maxCodeFrac < 1.0) &&
            pqUsageCollapsed(spark, path, cb, math.max(minSubEntropy, 1e-12),
              maxCodeFrac, usageSampleFraction, seed))
          Some(ivfPqRetrain(spark, table, path,
            Similarity.publishedCells(spark, path), raw, idCol, cb,
            embCol, residual, refitCodebooks = Some(true), seed)._2)
        else None
    }

  /** Per-subspace code-usage histogram over an ENCODED frame — the
    * drift signal specific to a PQ index (the
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
      sampleFraction: Double = 1.0, seed: Long = 42L): DataFrame =
    Quantizer.sampled(encoded, sampleFraction, seed)
      .select(posexplode(col(codesCol)).as(Seq("sub", "code")))
      .groupBy(col("sub"), col("code"))
      .agg(count(lit(1)).as("n"))
      .withColumn("frac", col("n") /
        sum(col("n")).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("sub"))))
      .orderBy("sub", "code")

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
      sampleFraction: Double = 1.0, seed: Long = 42L): DataFrame =
    Quantizer.describeOf(Quantizer.liveLayout(spark, path, "pqDescribe",
      Some(cb.widthTell)), cb.drift, sampleFraction, seed, s"under $path")

  /** Frame-level core of [[pqDescribe]] — the roll-up over any ENCODED
    * frame (no tombstone fold, no layout guards beyond the
    * codes-vs-k check): what [[ivfPqSave]] runs to record the
    * post-encode baseline and what [[ivfPqRetrain]] runs on the STAGED
    * frame so the refreshed baseline swaps atomically with the codes
    * it describes. */
  def pqDescribeOf(encoded: DataFrame, cb: PqCodebooks,
      sampleFraction: Double = 1.0, seed: Long = 42L,
      where: String = ""): DataFrame =
    Quantizer.describeOf(encoded, cb.drift, sampleFraction, seed, where)

  private val UsageSchema = "rows_sampled BIGINT, m INT, k INT, " +
    "min_sub_entropy DOUBLE, mean_sub_entropy DOUBLE, worst_sub INT, " +
    "min_used_codes INT, max_code_frac DOUBLE, max_frac_sub INT"

  /** [[pqDescribe]]'s roll-up of the collected [[pqCodeUsage]] rows:
    * per-subspace normalized entropy, worst subspace by (entropy asc,
    * sub asc), largest single-code share by (frac desc, sub asc). */
  private def usageSummary(cb: PqCodebooks)(all: Array[Row],
      where: String): Seq[Any] =
    if (all.isEmpty) Seq[Any](0L, cb.m, cb.k) ++ Seq.fill(6)(null)
    else {
      val cMax = all.map(_.getAs[Int]("code")).max
      require(cMax < cb.k,
        s"pqDescribe: largest observed code $cMax >= codebook k=${cb.k} " +
          s"$where — these are not this codebook's codes")
      // (sub, normalized entropy, codes used, largest code share)
      val perSub = all.groupBy(_.getAs[Int]("sub")).toIndexedSeq
        .sortBy(_._1).map { case (s, rs) =>
          val fs = rs.map(_.getAs[Double]("frac"))
          (s, if (cb.k < 2) 0.0 else -fs.map(f => f * math.log(f)).sum /
            math.log(cb.k.toDouble), rs.length, fs.max)
        }
      val (ws, wh, _, _) = perSub.minBy { case (s, h, _, _) => (h, s) }
      val (fs, _, _, ff) = perSub.maxBy { case (s, _, _, f) => (f, -s) }
      Seq[Any](all.map(_.getAs[Long]("n")).sum / perSub.length, cb.m, cb.k,
        wh, perSub.map(_._2).sum / perSub.length, ws, perSub.map(_._3).min,
        ff, fs)
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
    Quantizer.fired(pqDescribe(spark, path, cb, sampleFraction, seed).head,
        "min_sub_entropy")(v =>
      v("min_sub_entropy") < minSubEntropy || v("max_code_frac") > maxCodeFrac)
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
    * reference object, one map-side pass, no shuffle (a broadcast
    * (sub, code) → codeword join + collect_list re-assembly cost ~10×
    * the sibling describe scan at 1M×1%);
    * `residual = true` adds the cell centroid back (the
    * [[pqEncodeResidual]] reconstruction). Sampled rows missing from
    * `raw` are simply not estimated (inner join — this is an
    * estimator, not the retrain's coverage-checked rebuild).
    * A zero-norm raw vector has no defined RELATIVE error (0/0);
    * such rows carry a null `rel_err` — excluded from `n`/`mean`/`max`
    * (Spark aggs skip nulls) and counted honestly in `n_zero_norm`
    * instead of poisoning the summary with NaN. A null
    * rel_err from a null DECODE (a null code slot in the index) or a
    * null/ragged raw embedding is a different defect in a different
    * corpus — counted separately in `n_undecodable`. */
  def pqReconError(spark: SparkSession, path: String, raw: DataFrame,
      idCol: String, cb: PqCodebooks, residual: Boolean = false,
      embCol: String = "embedding", sampleFraction: Double = 1.0,
      seed: Long = 42L): DataFrame = {
    pqReconRows(Quantizer.liveLayout(spark, path, "pqReconError",
        Some(cb.widthTell)), raw, idCol, cb,
      if (residual) Some(spark.read.parquet(s"$path/centroids")) else None,
      embCol, sampleFraction, seed)
      .agg(count(col("rel_err")).as("n"), avg(col("rel_err")).as("mean_rel_err"),
        max(col("rel_err")).as("max_rel_err"),
        // attribute each null rel_err to its actual cause: a null
        // decode — e.g. a null code slot — is an INDEX defect, not a
        // zero-norm raw vector
        count(when(col("_zero_norm"), 1)).as("n_zero_norm"),
        count(when(col("_undecodable"), 1)).as("n_undecodable"))
  }

  /** Frame-level core of [[pqReconError]]: per-row relative
    * reconstruction error `(idCol, rel_err)` of an ENCODED frame
    * against its raw vectors — `rel_err = ‖x − decode(codes)‖ / ‖x‖`,
    * decode via the [[graft.functions.PqDecodeF]] codegen gather
    * (codebook as a reference object, zero-shuffle map side;
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
    * data property, the second an index/join defect. */
  private[ext] def pqReconRows(encoded: DataFrame, raw: DataFrame,
      idCol: String, cb: PqCodebooks, centroids: Option[DataFrame] = None,
      embCol: String = "embedding", sampleFraction: Double = 1.0,
      seed: Long = 42L): DataFrame = {
    val src = Quantizer.sampled(encoded, sampleFraction, seed)
      .filter(col("codes").isNotNull)
    // `cell` is a RESIDUAL-branch need only (the centroid add-back
    // keys on it); a plain pqEncode frame carries no cell column and
    // must not be forced to fabricate one
    val dec0 = src.select(Seq(col(idCol)) ++ centroids.map(_ => col("cell")) :+
      toCol(graft.functions.PqDecodeF(toExpr(col("codes")), cb.cents))
        .as("_dec"): _*)
    val dec = centroids.fold(dec0)(cents => dec0
      .join(broadcast(cellCents(cents)),
        col("cell").cast("int") === col("_ccell"))
      .withColumn("_dec", zip_with(col("_dec"), col("_cent"), (d, c) => d + c))
      .drop("_ccell", "_cent"))
    // The raw corpus is the BIG side by construction (the sample is
    // sampleFraction of the index); shuffling it to meet a
    // monitoring-cadence sample 100× smaller was the residual cost
    // after the decode fused (2.4s of the 1M×1% estimate). When the
    // decoded sample is provably broadcast-sized — COUNTED, never
    // assumed from the fraction (1% of 10B rows is not small) — hint
    // it so raw streams map-side with no shuffle at all. The count
    // itself is one codes-pruned scan, the describe's cost. Values are
    // unaffected either way (same arithmetic, join strategy only).
    (if (sampleFraction < 1.0 && src.count() * (8L * cb.dim + 64L) <=
        (64L << 20)) broadcast(dec) else dec)
      // cast-to-double AFTER the id join: only matched rows (the
      // sample) pay the per-element copy, and a shuffled raw side
      // moves float arrays, not doubles
      .join(raw.select(col(idCol), col(embCol).as("_xf")), Seq(idCol))
      .withColumn("_x", transform(col("_xf"), x => x.cast("double")))
      .withColumn("_err", Similarity.norm(
        zip_with(col("_x"), col("_dec"), (x, d) => x - d)))
      .withColumn("_nrm", Similarity.norm(col("_x")))
      // a zero-norm vector would make rel_err NaN (0/0) and poison the
      // summary's avg/max; null is honest "undefined"
      .select(col(idCol),
        when(col("_nrm") === 0.0, lit(null).cast("double"))
          .otherwise(col("_err") / col("_nrm")).as("rel_err"),
        (col("_nrm") === 0.0).as("_zero_norm"),
        (col("_nrm").isNull ||
          (col("_nrm") =!= 0.0 && col("_err").isNull)).as("_undecodable"))
  }

  /** The broadcast (sub, code) → codeword JOIN decode,
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
      cb: PqCodebooks): Column =
    toCol(graft.functions.PqAdcF(toExpr(codes), adcLut(q, cb))) /
      (reconNorm * lit(Quantizer.qNorm(q)))

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
    Quantizer.topK(cb, "pqTopK", encoded, query, idCol, k, rerankWith,
      rerankFactor, embCol)

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
    Quantizer.ivfEncode(index, cb.encode(index.assigned, embCol), idCol, keep)

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
      nProbeSuper: Int = 2, pred: Option[Column] = None): DataFrame =
    Quantizer.probe(cb, "ivfPqProbe", index, query, idCol, embCol, nProbe,
      k, rerankWith, rerankFactor, superQ, nProbeSuper, pred)

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
      cb: PqCodebooks): DataFrame =
    cellCents(index.centroids)
      .withColumn("_cnorm2", Similarity.dot(col("_cent"), col("_cent")))
      .withColumn("_centdot", array((for (s <- 0 until cb.m; c <- 0 until cb.k)
        yield Similarity.dot(slice(col("_cent"), s * cb.subDim + 1, cb.subDim),
          array(cb.cents(s)(c).map(lit(_)): _*))): _*))

  /** `(_ccell INT, _cent ARRAY<DOUBLE>)` of a centroid frame — the
    * per-cell key and centroid every residual join uses. */
  private def cellCents(centroids: DataFrame): DataFrame =
    centroids.select(col("cell").cast("int").as("_ccell"),
      transform(col("cent"), x => x.cast("double")).as("_cent"))

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
    * vectors minus a near-constant, so PQ_BENCH_r12 showed NO win (ADC 0.780
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
      cb: PqCodebooks, index: Similarity.IvfIndex): DataFrame =
    withCodes(withResidual(assigned, embCol, residualCellConsts(index, cb)),
        col("_resid"), cb)(sqrt(col("_cnorm2")
      + lit(2.0) * toCol(graft.functions.PqAdcPairF(
        toExpr(col("codes")), toExpr(col("_centdot")), cb.k))
      + toCol(graft.functions.PqAdcF(toExpr(col("codes")), cb.normSq))))
      .drop("_ccell", "_cent", "_cnorm2", "_centdot", "_resid")

  /** Train codebooks on the RESIDUALS of an assigned corpus — the fit
    * companion of [[pqEncodeResidual]] ([[trainedCodebooks]] over a
    * materialized residual column; sample the corpus for the fit
    * exactly as there). */
  def trainedResidualCodebooks(assigned: DataFrame, embCol: String,
      index: Similarity.IvfIndex, dim: Int, m: Int, k: Int,
      seed: Long = 42L): PqCodebooks =
    trainedCodebooks(withResidual(assigned, embCol,
      cellCents(index.centroids)), "_resid", dim, m, k, seed)

  /** [[ivfPqEncode]] in residual form: same `IvfIndex` composition,
    * `assigned` = `(idCol, cell, codes, recon_norm)` with codes
    * quantizing the residual. `keep` carries metadata columns into the
    * encoded index for filtered probes, as in [[ivfPqEncode]]. */
  def ivfPqEncodeResidual(index: Similarity.IvfIndex, cb: PqCodebooks,
      idCol: String, embCol: String = "embedding",
      keep: Seq[String] = Nil): Similarity.IvfIndex =
    Quantizer.ivfEncode(index, pqEncodeResidual(index.assigned, embCol, cb,
      index), idCol, keep)

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
      nProbeSuper: Int = 2, pred: Option[Column] = None): DataFrame =
    Quantizer.probe(cb, "ivfPqProbeResidual", index, query, idCol, embCol,
      nProbe, k, rerankWith, rerankFactor, superQ, nProbeSuper, pred,
      residual = true)

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
