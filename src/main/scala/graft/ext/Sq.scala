package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.SafeFs

/** Scalar quantization (SQ) — the per-DIMENSION affine compression
  * point of the vector stack, between raw vectors (4 bytes/dim) and
  * product quantization ([[Pq]], sub-byte/dim): each dimension is
  * independently mapped to an int code in `[0, levels)` against
  * train-time per-dim `lo`/`hi` bounds (FAISS's `ScalarQuantizer`,
  * QT_8bit at the default `levels = 256` — 1 byte/dim of information;
  * parquet's bit-packed INT32 encoding stores the 0..255 codes at
  * ~1 byte on disk).
  *
  * Where PQ buys ~32× compression at a recall cost that needs an exact
  * rerank stage, SQ buys ~4× (measured 3.4× parquet assigned bytes —
  * SQ_BENCH_r13.json; the recon_norm double and layout overhead eat
  * the gap to the 4× raw-byte bound) at near-exact recall
  * (quantization error ≤ step/2 per dim; measured recall@10 EQUAL to
  * the exact in-cell probe's, same artifact) — the right first step
  * for a 100 TB embedding corpus whose raw vectors don't fit the
  * cluster's scan budget but whose retrieval quality can't take the
  * PQ hit.
  *
  * Scale shape:
  *  - train is ONE distributed pass: `posexplode` + `groupBy(pos)`
  *    min/max — both algebraic, so map-side partial aggregation bounds
  *    the shuffle at numPartitions × dim rows (the explode itself
  *    pipelines; nothing row-count-sized ever moves or is collected) —
  *    and the driver holds 2·dim doubles of params, period;
  *  - encode/decode are codegen expressions
  *    ([[graft.functions.SqEncodeF]] / [[graft.functions.SqDecodeF]])
  *    with the params riding as reference objects — no UDF, no
  *    interpreted HOF lambdas, whole-stage codegen end to end;
  *  - scoring REUSES the raw-vector cosine rule: unlike PQ, SQ decode
  *    is a linear map with the same per-element cost as the dot
  *    product, so probes decode inline and score through the one
  *    [[graft.functions.DotF32]] fold — one scoring semantics across
  *    raw and SQ-compressed vectors, no LUT machinery to keep
  *    consistent;
  *  - the encoded frame is schema-compatible with the PQ form
  *    (`codes` + `recon_norm` payload columns), so the ENTIRE IVF
  *    maintenance layer — save/load, append, tombstone delete,
  *    compact, the streaming sink's encode hook — carries SQ indexes
  *    unchanged.
  *
  * Encode/score are oracle-checked cross-engine end to end
  * (x97_sq_adc: DuckDB recomputes the bounds, codes, reconstruction,
  * and cosine from the same parquet); trained-param edge cases,
  * persistence, IVF composition, and the exact-rerank contract are
  * spec-pinned (SqSpec).
  *
  * Distinct from x53_quantize_embeddings (per-VECTOR min/max affine, a
  * storage-fidelity report): per-DIM bounds trained once on the corpus
  * make the decode ONE global linear map — codes from different rows
  * are comparable under the same reconstruction, which is what lets
  * the codes live inside an index and be scored against a query
  * without per-row scale bookkeeping. Per-vector scaling can't back an
  * ANN index; per-dim scaling is FAISS's choice for exactly this
  * reason.
  *
  * Reference behavior anchor: the reference framework ships raw-float
  * vector search only (binance_data_framework has no compression
  * layer); SQ follows the public FAISS `ScalarQuantizer` design, cited
  * as the index-family shape only. */
object Sq {

  import Quantizer.{toCol, toExpr}

  private val ParamsDir = "sq_params"

  /** Train-time per-dim bounds. Plain data — round-trips through
    * parquet ([[sqParamsSave]]/[[sqParamsLoad]]) so an encoded index
    * never needs the training corpus again. `step` is THE decode
    * multiplier, computed here exactly once as `(hi - lo) / (L-1)` —
    * pinning the op order every scorer and the SQL oracle must share
    * (`lo + c · ((hi - lo) / (L-1))`, never `(c · (hi - lo)) / (L-1)`:
    * different IEEE result). A degenerate dimension (`hi == lo`) has
    * `step = 0` and decodes to `lo` — the exact inverse of
    * [[graft.functions.SqEncodeF]]'s degenerate-dim code 0. As a
    * [[Quantizer]] its codes are `dim` wide and its one side file is
    * the params frame. */
  final case class SqParams(lo: IndexedSeq[Double], hi: IndexedSeq[Double],
      levels: Int = 256) extends Quantizer {
    require(lo.nonEmpty && lo.length == hi.length,
      s"SqParams: lo/hi dims differ (${lo.length} vs ${hi.length})")
    require(levels >= 2 && levels <= 65536,
      s"SqParams: levels must be in [2, 65536], got $levels")
    require(lo.indices.forall(i => lo(i) <= hi(i)),
      "SqParams: lo > hi on some dimension — not a min/max train result")
    def dim: Int = lo.length
    lazy val step: IndexedSeq[Double] =
      lo.indices.map(i => (hi(i) - lo(i)) / (levels - 1))

    private[graft] def widthTell: (Int, String) =
      (dim, s"the SQ params' dim=$dim")
    private[graft] def encode(df: DataFrame, embCol: String): DataFrame =
      sqEncode(df, embCol, this)
    private[graft] def scoreCol: String = "cos_sq"
    /** The fused decode+dot [[graft.functions.SqAdcF]], refused in the
      * plan on a row whose codes are not `dim` wide: the kernel folds
      * `min(width, dim)` elements, so a PQ layout's m code ids would
      * otherwise score as its first m dimensions. */
    private[graft] def dot(q: IndexedSeq[Double], caller: String): Column = {
      require(q.length == dim,
        s"$caller: query dim ${q.length} != trained dim $dim")
      widthChecked(caller, this, toCol(graft.functions.SqAdcF(
        toExpr(col("codes")), lo, step, q)))
    }
    private[graft] def sideFiles(spark: SparkSession, path: String,
        encoded: Option[DataFrame]): Seq[(String, DataFrame)] =
      Seq(ParamsDir -> paramsDf(spark, this))
    private[graft] def drift: Quantizer.Drift = saturation(levels, Some(this))
  }

  /** Fit per-dim bounds in one distributed pass (see the object doc's
    * scale shape — the collect is dim rows, the same bound as a PQ
    * codebook load). A ragged embedding column (mixed dims) shows up
    * as UNEQUAL per-position sample counts — a short row stops
    * contributing at its own length, so a position past it sees fewer
    * samples — and bounds fit on that mixture silently mis-encode
    * every row, so it fails loudly here (same pass, no extra scan). */
  def sqTrain(corpus: DataFrame, embCol: String = "embedding",
      levels: Int = 256): SqParams =
    fitBounds("sqTrain", corpus, embCol, levels)(x => array(min(x), max(x)))

  /** Quantile-trained bounds — the heavy-tail form of [[sqTrain]]
    * (FAISS's `RangeStat_quantiles`; the same insight as the
    * rank-bucketed z-order cells): min/max bounds spend the whole code
    * range spanning outliers, so ONE extreme value in a dimension
    * inflates its step and costs the bulk of the distribution its
    * resolution. Quantile bounds (default middle 99%) keep the lattice
    * where the mass is; the tails saturate at encode — [[
    * graft.functions.SqEncodeF]]'s clamp, which exists for exactly
    * this — costing only those rows their precision instead of taxing
    * every row's. Same one-pass scale shape: `percentile_approx` is an
    * aggregating sketch (map-side combined), the collect stays dim
    * rows. Bounds are approximate by nature (the sketch's contract);
    * encode/decode determinism is unaffected — the params, once
    * fitted, are plain data like any other. */
  def sqTrainQuantile(corpus: DataFrame, embCol: String = "embedding",
      levels: Int = 256, lowQ: Double = 0.005, highQ: Double = 0.995,
      accuracy: Int = 10000): SqParams = {
    require(lowQ >= 0.0 && lowQ < highQ && highQ <= 1.0,
      s"sqTrainQuantile: need 0 <= lowQ < highQ <= 1, got ($lowQ, $highQ)")
    fitBounds("sqTrainQuantile", corpus, embCol, levels)(x =>
      percentile_approx(x, array(lit(lowQ), lit(highQ)), lit(accuracy)))
  }

  /** The one-pass bound fit both trainers share: per position `i`,
    * `bounds(x)` aggregates `[lo, hi]` and a sample count. The collect
    * is dim rows. Unequal per-position counts mean a ragged embedding
    * column (a short row stops contributing at its own length), whose
    * bounds would mis-encode every row — refused, from the same pass. */
  private def fitBounds(caller: String, corpus: DataFrame, embCol: String,
      levels: Int)(bounds: Column => Column): SqParams = {
    val rows = corpus.select(posexplode(col(embCol)).as(Seq("i", "x")))
      .groupBy(col("i"))
      .agg(bounds(col("x").cast("double")).as("b"), count(lit(1)).as("n"))
      .collect()
    require(rows.nonEmpty, s"$caller: empty corpus (or all-empty embeddings)")
    val counts = rows.map(_.getLong(2)).distinct
    require(counts.length == 1,
      s"$caller: ragged embedding column — per-dim sample counts range " +
        s"${counts.min}..${counts.max} over ${rows.length} dims")
    val b = rows.sortBy(_.getInt(0)).map(_.getSeq[Double](1)).toIndexedSeq
    SqParams(b.map(_(0)), b.map(_(1)), levels)
  }

  /** The params as a tiny DataFrame — dim rows of `(i, lo, hi,
    * levels)`, the persisted layout ([[sqParamsSave]]'s parquet and the
    * staged `_meta_sq_params` frame [[sqReencodeIndex]] swaps in). */
  private def paramsDf(spark: SparkSession, p: SqParams): DataFrame = {
    import spark.implicits._
    p.lo.indices.map(i => (i, p.lo(i), p.hi(i), p.levels))
      .toDF("i", "lo", "hi", "levels")
  }

  /** Persist params as one tiny parquet (dim rows of
    * `(i, lo, hi, levels)`) next to the index they encode. */
  def sqParamsSave(spark: SparkSession, p: SqParams, path: String): Unit =
    Quantizer.writeOne(paramsDf(spark, p), path)

  /** Reopen persisted params (dim-row collect, the codebooksLoad
    * bound). */
  def sqParamsLoad(spark: SparkSession, path: String): SqParams = {
    val rows = spark.read.parquet(path).select(col("i").cast("int"),
      col("lo"), col("hi"), col("levels").cast("int")).collect()
    require(rows.nonEmpty,
      s"sqParamsLoad: no param rows under $path — not a sqParamsSave dir")
    val levels = rows.map(_.getInt(3)).distinct
    require(levels.length == 1,
      s"sqParamsLoad: inconsistent levels ${levels.mkString(",")} under $path")
    val byI = rows.sortBy(_.getInt(0)).toIndexedSeq
    SqParams(byI.map(_.getDouble(1)), byI.map(_.getDouble(2)), levels(0))
  }

  /** Persist an SQ-encoded IVF index TOGETHER with its params
    * ([[Similarity.ivfSave]] + [[sqParamsSave]] under
    * `$path/sq_params`): the codes are unreadable without the bounds
    * that encoded them — params ARE the decode key — and nothing else
    * ties the two on disk, so an index that outlives its session (the
    * entire point of the persistence layer) should carry them. The
    * params dir sits OUTSIDE the assigned tree, so every maintenance
    * op — append, delete, compact, [[ivfSqRetrain]]'s staged swap
    * (which by design never re-fits bounds) — leaves it untouched.
    * Reopen with [[Similarity.ivfLoad]] + [[sqParamsOf]]. */
  def ivfSqSave(index: Similarity.IvfIndex, p: SqParams, table: String,
      path: String, nCells: Int): Unit =
    Quantizer.save(p, index, table, path, nCells)

  /** Reopen the params an [[ivfSqSave]] stored next to its index. */
  def sqParamsOf(spark: SparkSession, path: String): SqParams =
    sqParamsLoad(spark, s"$path/$ParamsDir")

  /** Codegen encode column: `ARRAY<FLOAT|DOUBLE>` → `ARRAY<INT>` codes. */
  def sqEncodeCol(emb: Column, p: SqParams): Column =
    toCol(graft.functions.SqEncodeF(toExpr(emb), p.lo, p.hi, p.levels))

  /** Codegen decode column: `ARRAY<INT>` codes → `ARRAY<DOUBLE>`
    * reconstruction. */
  def sqDecodeCol(codes: Column, p: SqParams): Column =
    toCol(graft.functions.SqDecodeF(toExpr(codes), p.lo, p.step))

  /** Encode a frame: adds `codes` and `recon_norm` (the reconstructed
    * vector's L2 norm — same payload shape as [[Pq.pqEncode]], so the
    * scorer divides by a stored per-row constant instead of re-folding
    * the self-dot per probe, and the IVF layer sees the same schema;
    * only the codes width — `dim` here, `m` for PQ — tells the two
    * apart). The original embedding column is kept;
    * index builders ([[ivfSqEncode]]) select it away. */
  def sqEncode(df: DataFrame, embCol: String, p: SqParams): DataFrame =
    df.withColumn("codes", sqEncodeCol(col(embCol), p))
      .withColumn("recon_norm", Similarity.norm(sqDecodeCol(col("codes"), p)))

  /** SQ asymmetric top-k: score the exact cosine of each row's
    * RECONSTRUCTION against the raw query — rounded at 6 with id
    * tie-breaks (the house scoring rule), optional two-stage exact
    * rerank via the shared [[Quantizer.topK]]. The numerator is
    * the fused kernel [[graft.functions.SqAdcF]] (decode+dot in one
    * loop, no per-row reconstruction array — the in-cell scan's hot
    * loop at scale), bit-identical to the two-kernel
    * `dot(decode(codes), q)` form (spec-pinned; x97 hash-checks the
    * scored output cross-engine). A row whose codes are not `p.dim`
    * wide — a PQ layout's m code ids — fails the scan naming `sqTopK`
    * instead of scoring as the first m dimensions. */
  def sqTopK(encoded: DataFrame, p: SqParams, query: IndexedSeq[Double],
      idCol: String, k: Int = 10, rerankWith: Option[DataFrame] = None,
      rerankFactor: Int = 4, embCol: String = "embedding"): DataFrame =
    Quantizer.topK(p, "sqTopK", encoded, query, idCol, k, rerankWith,
      rerankFactor, embCol)

  /** `c`, refused in the plan on a row whose `codes` are not `p.dim`
    * wide — checked on the rows the scan already reads, so it runs no
    * extra job. Null codes pass through (their score is null). */
  private def widthChecked(caller: String, p: SqParams, c: Column): Column =
    when(array_size(col("codes")) =!= p.dim, raise_error(lit(s"$caller: " +
      s"codes width != the SQ params' dim=${p.dim} (PQ codes are m-wide)")))
      .otherwise(c)

  /** Encode an IVF index's assigned frame into its SQ form: same
    * `IvfIndex` type, `assigned` = `(idCol, cell, codes, recon_norm)`
    * (+ `keep` metadata for filtered probes) — feed it straight to
    * [[Similarity.ivfSave]] / [[Similarity.ivfAppendSave]] / the whole
    * maintenance layer, which never looks at the payload columns. */
  def ivfSqEncode(index: Similarity.IvfIndex, p: SqParams,
      idCol: String, embCol: String = "embedding",
      keep: Seq[String] = Nil): Similarity.IvfIndex =
    Quantizer.ivfEncode(index, p.encode(index.assigned, embCol), idCol, keep)

  /** IVF-SQ probe: cells ranked and pruned by
    * [[Similarity.probeFront]], as for [[Pq.ivfPqProbe]] (hierarchical
    * above [[Similarity.IvfIndex.autoSuper]]'s threshold by default,
    * flat below; `cell IN (…)` bucket pruning against a saved layout;
    * optional `pred` conjoined after the cell prune — the filtered-ANN
    * rule), then SQ-score only the probed cells' codes — the shared
    * [[Quantizer.probe]], with [[sqTopK]]'s in-plan width refusal
    * naming `ivfSqProbe`. */
  def ivfSqProbe(index: Similarity.IvfIndex, p: SqParams,
      query: DataFrame, idCol: String, embCol: String = "embedding",
      nProbe: Int = 2, k: Int = 10, rerankWith: Option[DataFrame] = None,
      rerankFactor: Int = 4, superQ: Option[Similarity.IvfSuper] = None,
      nProbeSuper: Int = 2, pred: Option[Column] = None): DataFrame =
    Quantizer.probe(p, "ivfSqProbe", index, query, idCol, embCol, nProbe,
      k, rerankWith, rerankFactor, superQ, nProbeSuper, pred)

  /** Bulk IVF-SQ probe — a BATCH of queries in one distributed pass.
    * Because SQ scoring is "decode, then the raw cosine rule", the
    * bulk form IS [[Similarity.ivfProbeBulk]] over a decoded VIEW of
    * the index: one projection reconstructs `embCol` from the codes
    * (codegen [[graft.functions.SqDecodeF]], fused into the same stage
    * as the scoring fold — the codes column is what the pruned scan
    * reads; the single-query scorer's fully-fused
    * [[graft.functions.SqAdcF]] doesn't apply here, since each row's
    * query arrives as DATA from the pairs join, not as a driver
    * constant — the decode+`DotF32` pair stays one codegen stage
    * either way, paying only the per-row reconstruction array),
    * and every bulk guarantee carries over verbatim — driver cell
    * ranking, `cell IN (…)` bucket pruning, per-query windowed
    * top-k, the shared `pred` rule. Scores are bit-identical to the
    * per-query [[ivfSqProbe]] (spec-pinned): the probe's re-folded
    * `norm(decode(codes))` is the same sequential self-fold
    * [[sqEncode]] stored as `recon_norm`. Output: `(qidCol, idCol,
    * cell, cos)` ordered (query, cos desc, id); with `rerankWith`, the
    * per-query rerank shape `(qidCol, idCol, cos)` — `cell` is a
    * stage-1 notion.
    *
    * The auto-hierarchy is resolved against the CALLER's index handle
    * before wrapping: the decoded view is a fresh `IvfIndex`, and
    * letting IT auto-build would re-fit the super-quantizer on every
    * bulk call instead of once per long-lived handle. The decoded view
    * refuses, inside the scan, a row whose codes are not `p.dim` wide
    * (a PQ layout), naming `ivfSqProbeBulk`. */
  def ivfSqProbeBulk(index: Similarity.IvfIndex, p: SqParams,
      queries: DataFrame, qidCol: String, idCol: String,
      embCol: String = "embedding", nProbe: Int = 2, k: Int = 10,
      superQ: Option[Similarity.IvfSuper] = None, nProbeSuper: Int = 2,
      pred: Option[Column] = None, rerankWith: Option[DataFrame] = None,
      rerankFactor: Int = 4): DataFrame =
    Similarity.ivfProbeBulk(
      Similarity.IvfIndex(index.assigned.withColumn(embCol, widthChecked(
        "ivfSqProbeBulk", p, sqDecodeCol(col("codes"), p))), index.centroids),
      queries, qidCol, idCol, embCol, nProbe, k,
      Similarity.resolveSuper(index, superQ, nProbeSuper), nProbeSuper,
      pred, rerankWith, rerankFactor)

  /** [[Similarity.ivfRetrain]] for an SQ-ENCODED persisted index — the
    * one lifecycle step the compressed layout was locked out of: the
    * coarse-quantizer re-fit needs an embedding
    * column the compressed files don't store. SQ's decode is a global
    * linear map with per-dim error ≤ step/2 — a full-precision-ORDER
    * reconstruction the KMeans re-fit tolerates — so the fix is exact
    * in shape: decode the codes into a fit-only view, re-fit cells on
    * it, and save the SAME codes under the new `cell` column. Codes
    * and `recon_norm` are NEVER re-encoded (decode∘encode is the
    * identity on in-range codes, so re-encoding could only add fp
    * churn); the new centroids describe the reconstructions, which is
    * also exactly what every SQ probe scores against — quantizer and
    * scorer see the SAME geometry, bias-free by construction.
    *
    * Everything else — tombstone fold, staged swap, idempotent
    * [[Similarity.finalizeRetrain]] commit, the crash windows
    * IvfIndexSpec pins — is [[Similarity.retrainImpl]], shared with the
    * raw form, so the two retrains cannot drift. The returned handle's
    * auto-hierarchy follows the published cell count as always
    * ([[Similarity.IvfIndex.autoSuper]]).
    *
    * What this does NOT re-fit: the SQ params themselves. Cell drift
    * (hot/empty cells) is recoverable from codes; BOUNDS drift is not —
    * out-of-range appends already saturated at encode, and bounds
    * re-fit from the decoded view can only lie inside the old bounds.
    * Monitor bounds drift with [[sqSaturation]]/[[sqDescribe]]; the
    * remedy is [[sqReencodeIndex]] — the raw-corpus re-train +
    * re-encode, through this same staged swap. */
  def ivfSqRetrain(spark: SparkSession, table: String, path: String,
      nCells: Int, p: SqParams, embCol: String = "embedding",
      seed: Long = 42L): Similarity.IvfIndex =
    Similarity.retrainImpl(spark, table, path, nCells, embCol, seed,
      reconstruct = raw => {
        // decoding a PQ layout's code ids through the affine map would
        // re-fit cells on garbage: the width tell refuses it
        Quantizer.requireLayout("ivfSqRetrain", raw, s"$path/assigned",
          Some(p.widthTell), Some(embCol))
        raw.withColumn(embCol, sqDecodeCol(col("codes"), p))
      },
      project = _.assigned.drop(embCol))

  /** The BOUNDS-drift remedy — the one SQ drift
    * [[ivfSqRetrain]] cannot fix: out-of-range appends already
    * saturated at encode (codes lost the out-of-range mass), and
    * bounds re-fit from the decoded view can only lie inside the old
    * bounds. So when [[sqSaturationExceeded]] fires, the remedy needs
    * RAW vectors — this is [[graft.ext.Pq.ivfPqRetrain]]'s raw-access
    * pattern applied to the SQ layout, the monitoring job's one-call
    * answer: re-train bounds on the raw live corpus (min/max, or
    * quantile via `quantile = Some((lowQ, highQ))` for heavy tails),
    * re-fit cells on the same exact vectors (strictly better than the
    * reconstruction fit — the raw data is in hand), re-encode every
    * live row, and publish codes + cells + params TOGETHER through
    * [[Similarity.retrainImpl]]'s staged two-rename swap (the params
    * ride as staged `_meta_sq_params`, published by `finalizeRetrain`
    * before the centroid commit — no crash window can publish new
    * codes under old bounds or vice versa).
    *
    * The raw frame must be keyed and cover every live id
    * ([[Similarity.requireKeyedCovering]] — the shared raw-access
    * rebuild contract); tombstones fold away in the rebuild, exactly
    * as in the other retrains. The SQ/PQ mixup guard is physical:
    * an SQ layout's codes are dim-wide, so the codes width must equal
    * the raw embedding dim (a PQ layout's m-wide codes refuse loudly —
    * running one through here would silently convert it to SQ under
    * its stale `pq_codebooks`). Returns the reopened index and the
    * NEW params — probe with exactly these ([[sqParamsOf]] reads the
    * published copy). */
  def sqReencodeIndex(spark: SparkSession, table: String, path: String,
      nCells: Int, raw: DataFrame, idCol: String,
      embCol: String = "embedding", levels: Int = 256,
      quantile: Option[(Double, Double)] = None,
      seed: Long = 42L,
      preTrained: Option[SqParams] = None): (Similarity.IvfIndex, SqParams) = {
    // the width tell, probed from the RAW side (the new params' dim is
    // the raw dim by construction): the first non-null row
    val rawDim = raw.filter(col(embCol).isNotNull)
      .select(size(col(embCol))).take(1)
    require(rawDim.nonEmpty, s"sqReencodeIndex: raw frame is empty (or " +
      s"its `$embCol` is all null) — bounds cannot re-train on nothing")
    val dim = rawDim(0).getInt(0)
    preTrained.foreach(pt => require(pt.dim == dim && pt.levels == levels,
      s"sqReencodeIndex: preTrained params (dim ${pt.dim}, levels " +
        s"${pt.levels}) != raw dim $dim / requested levels $levels"))
    Quantizer.rawRetrain("sqReencodeIndex", spark, table, path, nCells,
        raw, idCol, embCol, seed, (dim, s"the raw embedding dim $dim")) { idx =>
      val a = idx.assigned.drop("codes", "recon_norm")
      // `preTrained` is the policy wrapper's hand-off: the bounds it
      // already priced the convergence floor with (ivfSqMaybeReencode)
      // are the bounds published — identical by construction for
      // min/max (order-independent exact fit on the same live rows),
      // and for quantile bounds it removes the sketch's merge-order
      // wiggle between the priced fit and the published fit.
      val p = preTrained.getOrElse(trainBounds(a, embCol, levels, quantile))
      (p, Some(sqEncode(a, embCol, p)))
    }
  }

  /** Policy wrapper over [[sqReencodeIndex]] — the bounds-drift twin
    * of [[ivfSqMaybeRetrain]] (and of
    * [[graft.ext.Pq.ivfPqMaybeRetrain]]'s armed usage trigger), so an
    * unattended maintenance job covers BOTH SQ drift axes with the
    * same call-every-cycle/pay-rarely shape: evaluates
    * [[sqSaturationExceeded]] against the index's own persisted params
    * ([[sqParamsOf]] — the index must be an [[ivfSqSave]]d layout, so
    * levels can't be wrong and degenerate dims are masked) and, when
    * it fires, runs the raw-access re-encode at the CURRENT cell count
    * and the SAME levels (pass `quantile` to switch the re-trained
    * bounds to the heavy-tail form). Returns the new params when it
    * fired — probe with exactly these — and None when the index is
    * healthy. The raw frame is the extra requirement bounds drift
    * carries (the [[sqReencodeIndex]] contract: keyed, covering every
    * live id). */
  def ivfSqMaybeReencode(spark: SparkSession, table: String, path: String,
      raw: DataFrame, idCol: String, maxSatRate: Double = 0.01,
      maxDimSatRate: Double = 0.05, sampleFraction: Double = 1.0,
      embCol: String = "embedding",
      quantile: Option[(Double, Double)] = None,
      seed: Long = 42L): Option[SqParams] = {
    // quantile bounds SATURATE their clipped tails BY DESIGN — the
    // post-remedy steady state is ~(lowQ + (1 − highQ)) per dim, so
    // firing thresholds at or below that would re-fire every cycle and
    // rewrite the whole index forever. Refuse the
    // misconfiguration loudly instead of looping an unattended job.
    quantile.map { case (lo, hi) => lo + (1.0 - hi) }.foreach(design =>
      require(maxSatRate > design && maxDimSatRate > design,
        f"ivfSqMaybeReencode: quantile bounds clip ~$design%.3f of every " +
          "dim BY DESIGN; at thresholds that low the policy re-fires every " +
          "cycle — raise maxSatRate/maxDimSatRate or use min/max bounds"))
    val p = sqParamsOf(spark, path)
    if (sqSaturationExceeded(spark, path, p.levels, maxSatRate,
        maxDimSatRate, sampleFraction, seed, Some(p))) {
      // Convergence-floor guard: saturation counts codes
      // AT the clamp, so even perfectly fresh min/max bounds leave the
      // outermost two quantization buckets' mass saturated — a
      // distribution-dependent FLOOR no re-encode can go below. Firing
      // thresholds at or below that floor re-fire (and rewrite the
      // whole index) every cycle — the same unbounded loop the
      // quantile design-saturation require above refuses a priori,
      // except this floor is only measurable. Price it BEFORE paying
      // the staged swap: fit the candidate bounds on the raw rows that
      // are actually live (the exact fit the re-encode would publish),
      // encode, and measure. Two extra raw-corpus scans, paid only
      // when the trigger fired — against a full-index rewrite.
      val liveEmb = raw.select(col(idCol), col(embCol)).join(
        SafeFs.liveRows(spark, path, spark.read.parquet(s"$path/assigned"))
          .select(col(idCol)), Seq(idCol), "left_semi")
      val cand = trainBounds(liveEmb, embCol, p.levels, quantile)
      // the projection rolls up exactly as sqDescribe does (degenerate
      // dims masked, overall rate element-weighted, worst dim by rate),
      // so it is commensurate with the firing measurement
      val proj = Quantizer.describeOf(liveEmb.select(sqEncodeCol(
        col(embCol), cand).as("codes")), cand.drift, sampleFraction, seed,
        "").head
      require(!exceeds(proj, maxSatRate, maxDimSatRate),
        "ivfSqMaybeReencode: re-encode cannot converge below the " +
          f"thresholds — fresh bounds still saturate ${proj.getDouble(5)}%.4f" +
          f" overall / ${proj.getDouble(6)}%.4f on the worst dim, so every " +
          "cycle would rewrite the index; raise the thresholds or disarm " +
          "the bounds signal (raw = None in Maintenance.sqCycle)")
      Some(sqReencodeIndex(spark, table, path,
        Similarity.publishedCells(spark, path), raw, idCol, embCol,
        p.levels, quantile, seed, preTrained = Some(cand))._2)
    } else None
  }

  /** Min/max bounds, or quantile bounds when `quantile` is given. */
  private def trainBounds(df: DataFrame, embCol: String, levels: Int,
      quantile: Option[(Double, Double)]): SqParams =
    quantile.fold(sqTrain(df, embCol, levels)) { case (lo, hi) =>
      sqTrainQuantile(df, embCol, levels, lo, hi)
    }

  /** Policy wrapper over [[ivfSqRetrain]] — the compressed twin of
    * [[Similarity.ivfMaybeRetrain]], same thresholds, same measured
    * trigger ([[Similarity.retrainTrigger]] — one policy, two retrain
    * forms), so the streaming sink can arm retrain on an SQ index and
    * an unattended maintenance job pays the re-fit RARELY. Returns
    * true iff a retrain ran. */
  def ivfSqMaybeRetrain(spark: SparkSession, table: String, path: String,
      p: SqParams, maxSkew: Double = 4.0, minOccupiedFrac: Double = 0.5,
      targetRowsPerCell: Long = 0L, embCol: String = "embedding",
      seed: Long = 42L): Boolean =
    Similarity.retrainTrigger(spark, path, maxSkew, minOccupiedFrac,
        targetRowsPerCell) match {
      case Some(newCells) =>
        ivfSqRetrain(spark, table, path, newCells, p, embCol, seed); true
      case None => false
    }

  /** Per-dim clamp-saturation over an encoded frame — THE drift signal
    * specific to an SQ index: bounds are trained once,
    * and a vector appended later that falls outside them silently
    * saturates at [[graft.functions.SqEncodeF]]'s clamp (code 0 or
    * levels−1 — correct by design, FAISS clamps the same way), costing
    * that value up to its full out-of-range distance instead of
    * step/2. No probe, describe, or maintenance op can see it happen —
    * the codes are valid codes — so the ONE observable is the rate of
    * codes sitting AT the clamp. Returns dim rows `(i, n, sat_lo,
    * sat_hi, c_max, sat_rate)` — `c_max` is the dim's largest observed
    * code, the physical cross-check that the claimed `levels` actually
    * fits these codes ([[sqDescribe]] enforces it). Notes:
    * min/max-trained bounds make the trained extremes themselves sit
    * at the clamp, so the baseline rate is ~2/n per dim, not 0 —
    * compare against the post-train baseline, not zero
    * (quantile-trained bounds saturate their clipped tails by design,
    * [[sqTrainQuantile]]); and a DEGENERATE dimension (`hi == lo` at
    * train — every value encodes to 0 forever) reads 1.0 here by
    * construction while carrying no drift information — callers with
    * params in hand should mask such dims ([[sqDescribe]] does, when
    * given `params`).
    *
    * Scale shape: the encode-train pass in reverse — posexplode +
    * groupBy(pos) with algebraic aggregates (map-side combined, the
    * [[sqTrain]] bound); output is dim rows. `sampleFraction < 1`
    * sample-bounds the scan for a monitoring cadence over a 100 TB
    * index (deterministic seed — the x88-eval discipline: rates are
    * estimates, re-runs agree). */
  def sqSaturation(encoded: DataFrame, levels: Int,
      codesCol: String = "codes", sampleFraction: Double = 1.0,
      seed: Long = 42L): DataFrame = {
    require(levels >= 2, s"sqSaturation: levels must be >= 2, got $levels")
    Quantizer.sampled(encoded, sampleFraction, seed)
      .select(posexplode(col(codesCol)).as(Seq("i", "c")))
      .groupBy(col("i"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("c") === 0, 1L).otherwise(0L)).as("sat_lo"),
        sum(when(col("c") === levels - 1, 1L).otherwise(0L)).as("sat_hi"),
        max(col("c")).as("c_max"))
      .withColumn("sat_rate",
        round((col("sat_lo") + col("sat_hi")) / col("n"), 6))
      .orderBy("i")
  }

  /** Read-only SQ-index observability — the [[Similarity.ivfDescribe]]
    * sibling for the signal only an SQ layout has: one summary row
    * `(rows_sampled, dim, degenerate_dims, sat_lo_rate, sat_hi_rate,
    * sat_rate, max_dim_sat_rate, max_dim)` over the persisted assigned
    * frame (overall rates across all code elements; `max_dim` names
    * the worst dimension — bounds drift is usually per-dim, a feature
    * whose live distribution moved). Same cost class as
    * `ivfDescribe(cellBalance = true)`: one column-pruned scan of
    * `codes`, sample-boundable; compose with `ivfDescribe` for the
    * full health picture. Tombstoned rows are folded out first
    * (symmetric with [[graft.ext.Pq.pqDescribe]]): deleted vectors must
    * not keep a saturation alarm lit — an index whose drifted rows
    * were tombstoned pending compact is healthy NOW.
    *
    * Pass `params` (e.g. [[sqParamsOf]] for an [[ivfSqSave]]d index)
    * for the trustworthy form: `levels` is taken from the params, and
    * DEGENERATE dimensions (`step == 0` — trained constant, every
    * value encodes to 0 forever, a permanent false 100% lo-saturation
    * carrying no drift information) are masked out of every rate and
    * reported in `degenerate_dims` instead. Without params the rates
    * include them — a constant feature column reads as drift, so a
    * monitoring job should prefer the params form. The claimed level
    * count is checked against the largest observed code both ways:
    * claimed-too-SMALL (an SQ8 index monitored as SQ4 — codes exceed
    * the range) refuses hard; claimed-too-LARGE (an SQ4 index
    * monitored with the default 256 — `sat_hi` would silently read 0
    * and upward bounds drift would be invisible) cannot be *proven*
    * from codes alone (deletes may legitimately have removed the rows
    * holding the top code), so it warns loudly on stderr when the
    * observed max is consistent with a half-or-smaller level count.
    * The params form has neither ambiguity, and runs the one layout
    * guard ([[Quantizer.requireLayout]]) against `params.dim`: a PQ
    * layout's m-wide codes are refused, not measured as saturation.
    * Without params no width is known, so a PQ index is told by the
    * side file only PQ writes: `$path/pq_codebooks` present ⇒ refused
    * with the guard's message.
    *
    * Policy: when the rate materially exceeds its post-train baseline
    * (~2/n per dim for min/max bounds, the clipped-tail fraction for
    * quantile bounds), the bounds no longer describe the corpus —
    * re-train params on RAW vectors (`sqTrain` / [[sqTrainQuantile]]
    * on the source corpus or the `rerankWith` frame) and re-encode to
    * a fresh index; [[ivfSqRetrain]] cannot fix it (codes lost the
    * out-of-range mass — see its scaladoc). */
  def sqDescribe(spark: SparkSession, path: String, levels: Int = 256,
      sampleFraction: Double = 1.0, seed: Long = 42L,
      params: Option[SqParams] = None): DataFrame = {
    if (params.isEmpty)
      Quantizer.refuseSideFile("sqDescribe", spark, path, Pq.CodebooksDir)
    Quantizer.describeOf(Quantizer.liveLayout(spark, path, "sqDescribe",
        params.map(_.widthTell)), params.fold(saturation(levels, None))(_.drift),
      sampleFraction, seed, s"under $path")
  }

  /** The saturation drift readout: [[sqSaturation]] at `lv` levels,
    * rolled up by [[saturationSummary]]. */
  private def saturation(lv: Int, params: Option[SqParams]) =
    Quantizer.Drift("rows_sampled BIGINT, dim INT, degenerate_dims INT, " +
      "sat_lo_rate DOUBLE, sat_hi_rate DOUBLE, sat_rate DOUBLE, " +
      "max_dim_sat_rate DOUBLE, max_dim INT",
      sqSaturation(_, lv, "codes", _, _), saturationSummary(lv, params))

  /** [[sqDescribe]]'s roll-up of the collected per-dim rows: the
    * claimed level count checked against the largest observed code
    * (both directions, see [[sqDescribe]]), degenerate dims masked, the
    * overall rates element-weighted, the worst dim by (sat_rate, i). */
  private def saturationSummary(lv: Int, params: Option[SqParams])(
      all: Array[Row], where: String): Seq[Any] = {
    val cMax = if (all.isEmpty) -1 else all.map(_.getAs[Int]("c_max")).max
    require(cMax < lv, s"sqDescribe: largest observed code $cMax >= " +
      s"claimed levels $lv $where — pass the real levels (or sqParamsOf)")
    if (params.isEmpty && cMax >= 0 && 2 * (cMax + 1) <= lv)
      SafeFs.report(s"sqDescribe: WARNING — largest observed code $cMax " +
        s"$where fits <= ${cMax + 1} levels but $lv were claimed; sat_hi " +
        "may be silently zero — pass the params (sqParamsOf)")
    val degenerate = params.toSeq
      .flatMap(p => p.step.indices.filter(p.step(_) == 0.0)).toSet
    val rows = all.filterNot(r => degenerate.contains(r.getAs[Int]("i")))
    val els = rows.map(_.getAs[Long]("n")).sum
    if (els == 0L) Seq[Any](0L, 0, degenerate.size) ++ Seq.fill(5)(null)
    else {
      val Seq(lo, hi) = Seq("sat_lo", "sat_hi")
        .map(c => rows.map(_.getAs[Long](c)).sum)
      // worst dim by (sat_rate, i) — the max(struct(...)) tie rule
      val (wr, wi) = rows
        .map(r => (r.getAs[Double]("sat_rate"), r.getAs[Int]("i"))).max
      Seq[Any](els / rows.length, rows.length, degenerate.size,
        lo / els.toDouble, hi / els.toDouble, (lo + hi) / els.toDouble, wr, wi)
    }
  }

  /** Threshold hook over [[sqDescribe]] — the `ivfMaybeRetrain`-shaped
    * trigger for the saturation signal: true iff the overall
    * saturation rate exceeds `maxSatRate` OR any single dimension
    * exceeds `maxDimSatRate` (per-dim drift hides in a corpus-wide
    * average: one drifted feature out of 1024 moves the overall rate
    * ~0.1%). Pass `params` so degenerate dimensions don't false-fire
    * forever and `levels` can't be wrong ([[sqDescribe]]'s rules).
    * Deliberately returns a VERDICT, not a retrain: unlike cell drift,
    * bounds drift is not recoverable from the index's own codes (see
    * [[sqDescribe]]'s policy note) — the caller must bring raw
    * vectors, so the hook's job is to say WHEN, loudly and cheaply, in
    * a monitoring job's cadence. The one-call remedy is
    * [[sqReencodeIndex]] (raw-access re-train + re-encode + staged
    * swap). */
  def sqSaturationExceeded(spark: SparkSession, path: String,
      levels: Int = 256, maxSatRate: Double = 0.01,
      maxDimSatRate: Double = 0.05, sampleFraction: Double = 1.0,
      seed: Long = 42L, params: Option[SqParams] = None): Boolean = {
    require(maxSatRate > 0.0 && maxDimSatRate > 0.0, "saturation " +
      "thresholds must be positive (min/max bounds clamp their extremes)")
    exceeds(sqDescribe(spark, path, levels, sampleFraction, seed, params)
      .head, maxSatRate, maxDimSatRate)
  }

  /** A saturation summary row over either threshold (zero row: never). */
  private def exceeds(d: Row, maxSatRate: Double,
      maxDimSatRate: Double): Boolean =
    Quantizer.fired(d, "sat_rate")(v =>
      v("sat_rate") > maxSatRate || v("max_dim_sat_rate") > maxDimSatRate)
}
