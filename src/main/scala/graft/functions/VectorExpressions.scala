package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType, LongType, StringType, StructType}

// Native Catalyst kernels for the vector and dedup operators.
//
// One body per kernel: each kernel's loop is ONE method on its
// companion object. `nullSafeEval` calls it, and `doGenCode` emits a
// single call to the same method, passing the same primitive arrays
// (as `addReferenceObj` references) and the float/double element flag
// as arguments. Generated code therefore stays inside whole-stage
// codegen without a second, hand-kept Java copy of the arithmetic, and
// the interpreted path — which Spark runs when it folds constants or
// falls back from a generated method that is too large or fails to
// compile — computes the same bits and throws the same messages
// (KernelParitySpec runs every kernel both ways). Kernels whose result
// is never null return a primitive, so the call allocates nothing per
// row beyond the result array itself.

/** Native Catalyst expression for the embedding hot path (SURVEY §2.10's
  * "custom Expression beats UDF" ladder): dot product of two
  * `ARRAY<FLOAT>` columns, accumulated in double in element order.
  *
  * Why not the higher-order-function formulation
  * (`aggregate(zip_with(...))`, kept in [[graft.ext.Similarity]])? HOF
  * lambdas evaluate interpreted per element — fine for correctness,
  * measurable overhead at 64–4096 dims × billions of rows. This
  * expression runs a tight primitive loop, stays inside whole-stage
  * codegen, and produces bit-identical results to the HOF path (same
  * element order, same double widening).
  *
  * Semantics: null input → null; arrays must be element-non-null and
  * equal length (embedding invariant; shorter length wins defensively).
  */
case class DotF32(left: Expression, right: Expression)
    extends BinaryExpression {

  // Each side may independently be ARRAY<FLOAT> or ARRAY<DOUBLE>: the
  // testdata's physical element type has no contract (the events table
  // already drifted once, TESTDATA.md "Physical layout drift"), and a
  // float input widened per element is bit-identical to reading the same
  // float stored as double — so accepting both keeps every cosine query
  // analysis-safe under an embeddings layout drift, with unchanged
  // results on the current float data.
  override def checkInputDataTypes(): TypeCheckResult =
    VectorExpressions.checkVectors("graft_dot", left, right)
  override def dataType: DataType = DoubleType

  // hoisted: dataType resolution is per-EXPRESSION, not per-row
  private lazy val lf = VectorExpressions.floatElems(left)
  private lazy val rf = VectorExpressions.floatElems(right)

  override def nullSafeEval(a: Any, b: Any): Any =
    DotF32.dot(a.asInstanceOf[ArrayData], lf, b.asInstanceOf[ArrayData], rf)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.DotF32.dot($a, $lf, $b, $rf);")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(left = newLeft, right = newRight)
}

object DotF32 {
  def dot(x: ArrayData, xFloat: Boolean, y: ArrayData, yFloat: Boolean): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += VectorExpressions.elemAt(x, i, xFloat) *
        VectorExpressions.elemAt(y, i, yFloat)
      i += 1
    }
    acc
  }
}

/** Native squared-L2 distance of two float/double array columns —
  * `Σ_i (a_i - b_i)²` accumulated in double in element order, the
  * [[DotF32]] treatment applied to the OTHER vector fold on the hot
  * path: cell ranking. The HOF formulation
  * (`aggregate(zip_with(a, b, (x,y) => (x-y)*(x-y)), 0, +)`) is a
  * CodegenFallback — interpreted lambdas per element — and the bulk
  * probes evaluate it Q × nCells (flat) or Q × (nSuper +
  * nProbeSuper·nCells/nSuper) (hier) times per batch, which at
  * production Q and cell counts is exactly the kind of loop that must
  * stay inside whole-stage codegen. Bit-identical to the HOF form on
  * the embedding invariant (equal-length, element-non-null arrays —
  * same subtractions, multiplies, adds, order; spec-pinned, and the
  * x91/x94/x95 oracles hash-check the ranked output cross-engine);
  * on a LENGTH MISMATCH the forms differ by design — zip_with
  * null-pads to the longer array and nulls the result, this truncates
  * at the shorter ([[DotF32]]'s defensive rule). Null input → null. */
case class L2DistF32(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    VectorExpressions.checkVectors("graft_l2sq", left, right)
  override def dataType: DataType = DoubleType

  private lazy val lf = VectorExpressions.floatElems(left)
  private lazy val rf = VectorExpressions.floatElems(right)

  override def nullSafeEval(a: Any, b: Any): Any =
    L2DistF32.l2sq(a.asInstanceOf[ArrayData], lf, b.asInstanceOf[ArrayData], rf)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.L2DistF32.l2sq($a, $lf, $b, $rf);")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(left = newLeft, right = newRight)
}

object L2DistF32 {
  def l2sq(x: ArrayData, xFloat: Boolean, y: ArrayData, yFloat: Boolean): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      val d = VectorExpressions.elemAt(x, i, xFloat) -
        VectorExpressions.elemAt(y, i, yFloat)
      acc += d * d
      i += 1
    }
    acc
  }
}

/** Native random-hyperplane LSH bucket id: bit i = sign(v · h_i), all
  * planes in one pass over the vector — the codegen replacement for
  * the per-plane `when(aggregate(zip_with(...)) > 0, 1L << i)` HOF
  * chain, which evaluates numPlanes interpreted lambda folds per
  * CORPUS row (LSH bucketing is a corpus-sized assignment in
  * semantic dedup, blocked pairs, and bucketed ANN). Bit-identical by
  * construction: each plane's dot accumulates in double in element
  * order exactly as the HOF fold did (float inputs widened per
  * element — the same value the `d()` cast produced), the strict
  * `> 0` sign rule is unchanged, and the per-plane bits are disjoint
  * so the HOF's `reduce(_ + _)` equals this OR. The planes matrix
  * rides as a reference object (numPlanes × dim doubles — the
  * [[NearestCentroidF]] bound). Null input → null; a vector shorter
  * than a plane dots its prefix (the zip_with-min rule on the only
  * case the embedding invariant allows to differ — equal lengths in
  * practice). */
case class LshBucketF(child: Expression,
    planes: IndexedSeq[IndexedSeq[Double]]) extends UnaryExpression {
  require(planes.nonEmpty && planes.forall(_.length == planes.head.length),
    "graft_lsh_bucket: planes must be non-empty and rectangular")
  // 63 planes occupy bits 0..62 — the full non-negative long range the
  // HOF chain it replaced produced; only a 64th plane would reach the
  // sign bit (ADVICE r14: the earlier <= 62 rejected a plane count the
  // HOF form handled)
  require(planes.length <= 63,
    "graft_lsh_bucket: at most 63 planes (bits must fit a non-negative long)")
  private lazy val pArr: Array[Array[Double]] = planes.map(_.toArray).toArray

  private def elemFloat: Boolean = VectorExpressions.floatElems(child)
  override def checkInputDataTypes(): TypeCheckResult =
    VectorExpressions.checkVectors("graft_lsh_bucket", child)
  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    LshBucketF.bucketOf(v, pArr, elemFloat)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val pRef = ctx.addReferenceObj("lshPlanes", pArr, "double[][]")
      s"""
         |${ev.value} = graft.functions.LshBucketF.bucketOf(
         |  $a, $pRef, $elemFloat);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object LshBucketF {
  def bucketOf(v: ArrayData, planes: Array[Array[Double]],
      isFloat: Boolean): Long = {
    var acc = 0L
    var b = 0
    while (b < planes.length) {
      val p = planes(b)
      val n = math.min(v.numElements(), p.length)
      var dot = 0.0
      var i = 0
      while (i < n) {
        dot += VectorExpressions.elemAt(v, i, isFloat) * p(i)
        i += 1
      }
      if (dot > 0) acc |= 1L << b
      b += 1
    }
    acc
  }
}

/** Native MinHash signature fold: all `as.length` permutation minima of
  * `(as(j)·h + bs(j)) mod p` over an `ARRAY<BIGINT>` of shingle hashes,
  * in ONE pass — the codegen replacement for the
  * `aggregate(zip_with(...))` higher-order fold on the per-row signature
  * path (streaming near-dup state, single-doc probes), where every HOF
  * lambda step evaluates interpreted per element × per permutation.
  * Identical semantics: empty array → all-`p` neutral signature; null
  * input → null; `a·h` ≤ (2³¹)² < 2⁶³ so the arithmetic never overflows
  * (the same bound the column/oracle formulations rely on).
  * Constants are injected by the caller ([[graft.ext.Dedup]] owns the
  * hash family) so this expression stays family-agnostic. */
case class MinHashSigF(child: Expression, as: Seq[Long], bs: Seq[Long],
    p: Long) extends UnaryExpression {
  require(as.length == bs.length && as.nonEmpty)
  // Seq fields for value-based equality (see WeightSumF); primitive
  // arrays rebuilt once for the hot loop / codegen reference objects
  private lazy val aArr: Array[Long] = as.toArray
  private lazy val bArr: Array[Long] = bs.toArray

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_minhash expects array<bigint>, got ${other.simpleString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    MinHashSigF.signature(input.asInstanceOf[ArrayData], aArr, bArr, p)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val aRef = ctx.addReferenceObj("mhA", aArr, "long[]")
      val bRef = ctx.addReferenceObj("mhB", bArr, "long[]")
      s"${ev.value} = graft.functions.MinHashSigF.signature($a, $aRef, $bRef, ${p}L);"
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashSigF {
  def signature(hashes: ArrayData, as: Array[Long], bs: Array[Long],
      p: Long): ArrayData = {
    val mins = Array.fill(as.length)(p)
    var i = 0
    while (i < hashes.numElements()) {
      val h = hashes.getLong(i)
      var j = 0
      while (j < as.length) {
        val v = (as(j) * h + bs(j)) % p
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }
}

/** Native k-shingle hasher: word k-shingles of a token array, each
  * hashed to `first-60-bits-of-md5 mod p` — byte-identical to the column
  * formulation `conv(substring(md5(concat_ws(" ", slice(...))), 1, 15),
  * 16, 10) % p` (15 hex chars = the digest's first 60 bits; md5 runs
  * over the same UTF-8 bytes the string concat would produce, built
  * separator-interleaved without materializing the shingle string).
  * Fewer than k tokens → empty array (the `shingles()` contract); null
  * input → null. One reused MessageDigest per task, a primitive loop per
  * shingle — this is what makes the per-row signature path (streaming
  * near-dup state) codegen-fast end to end; the interpreted HOF chain it
  * replaces paid a lambda per element at every step. */
case class ShingleHashF(child: Expression, k: Int, p: Long)
    extends UnaryExpression {
  require(k >= 1)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    // containsNull rejected at ANALYSIS: hashAll would NPE on a null
    // token mid-task (the HOF form this claims byte-identity with is
    // only equivalent over null-free token arrays, e.g. split() output)
    case ArrayType(StringType, false) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_shingle_hash expects array<string> WITHOUT nullable " +
        s"elements (split() output shape), got ${other.simpleString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any = {
    val toks = input.asInstanceOf[ArrayData]
    new GenericArrayData(ShingleHashF.hashAll(toks, k, p))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      s"""
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.functions.ShingleHashF.hashAll($a, $k, ${p}L));
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Native hashed-linear-model fold: Σ `weights[(h mod weights.length)]`
  * over an `ARRAY<BIGINT>` of feature hashes — the codegen replacement
  * for the `aggregate(..., element_at(...))` higher-order fold in
  * [[graft.ext.TextAnalysis.hashedLinearScore]], keeping classifier
  * inference inside one whole-stage-codegen span (scan → score, no
  * interpreted lambda per feature). The weight table rides in the
  * expression as a reference object (a few KB — "broadcast the model
  * into the task binary"). Hashes are non-negative by construction
  * (md5-60-bit mod P), so `%` needs no floor adjustment — the same
  * contract the column/oracle formulations rely on. Null input → null;
  * empty array → 0. */
case class WeightSumF(child: Expression, weights: IndexedSeq[Int])
    extends UnaryExpression {
  require(weights.nonEmpty)
  // Seq field ⇒ value-based case-class equality (an Array field is
  // reference-compared, so two identical score expressions would never
  // canonicalize equal and Catalyst CSE/reuse could never fire);
  // the primitive array is rebuilt once for the hot loops
  private lazy val wArr: Array[Int] = weights.toArray

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    // containsNull rejected at ANALYSIS: getLong on a null slot reads 0
    // silently (counts weights(0)) — diverging from the HOF fold this
    // claims identity with, which propagates the null
    case ArrayType(LongType, false) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_weight_sum expects array<bigint> WITHOUT nullable " +
        s"elements, got ${other.simpleString}")
  }
  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any =
    WeightSumF.weightSum(input.asInstanceOf[ArrayData], wArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val wRef = ctx.addReferenceObj("lmW", wArr, "int[]")
      s"${ev.value} = graft.functions.WeightSumF.weightSum($a, $wRef);"
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WeightSumF {
  def weightSum(hashes: ArrayData, w: Array[Int]): Long = {
    var acc = 0L
    var i = 0
    while (i < hashes.numElements()) {
      acc += w((hashes.getLong(i) % w.length).toInt)
      i += 1
    }
    acc
  }
}

/** Native nearest-centroid argmin: squared-L2 distance of the input
  * vector against every row of a centroid matrix riding in the
  * expression as a reference object, returning the 0-based POSITION of
  * the nearest centroid; ties → lowest position (MLlib KMeans'
  * first-min transform rule). This is the zero-row-expansion form of
  * IVF cell assignment: the crossJoin+window formulation it replaces
  * materialized batch × nCells intermediate rows plus a per-id sort —
  * tens of billions of rows for a 1M-row batch at a realistic 100 TB
  * cell count — where this expression is one tight loop per row inside
  * whole-stage codegen, constant per row in the batch.
  *
  * Distance arithmetic is the same element-order double fold as the
  * `aggregate(zip_with(...))` HOF path (`acc + (x-y)*(x-y)`), so cell
  * choices are bit-identical to it. Input may be ARRAY<FLOAT> or
  * ARRAY<DOUBLE> (the [[DotF32]] drift rule); shorter of vector/centroid
  * wins defensively; null input → null. */
case class NearestCentroidF(child: Expression,
    cents: IndexedSeq[IndexedSeq[Double]])
    extends UnaryExpression {
  require(cents.nonEmpty)
  // Seq fields for value-based equality (see WeightSumF); primitive
  // matrix rebuilt once for the hot loops / codegen reference object
  private lazy val cArr: Array[Array[Double]] = cents.map(_.toArray).toArray
  private lazy val isFloat = VectorExpressions.floatElems(child)

  override def checkInputDataTypes(): TypeCheckResult =
    VectorExpressions.checkVectors("graft_nearest_centroid", child)
  override def dataType: DataType = IntegerType

  override def nullSafeEval(input: Any): Any =
    NearestCentroidF.nearest(input.asInstanceOf[ArrayData], isFloat, cArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val cRef = ctx.addReferenceObj("ncCents", cArr, "double[][]")
      s"${ev.value} = graft.functions.NearestCentroidF.nearest($a, $isFloat, $cRef);"
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object NearestCentroidF {
  def nearest(v: ArrayData, isFloat: Boolean, cents: Array[Array[Double]]): Int = {
    var best = 0
    var bestDist = Double.MaxValue
    var c = 0
    while (c < cents.length) {
      val cent = cents(c)
      val n = math.min(v.numElements(), cent.length)
      var acc = 0.0
      var i = 0
      while (i < n) {
        val dd = VectorExpressions.elemAt(v, i, isFloat) - cent(i)
        acc += dd * dd
        i += 1
      }
      if (acc < bestDist) { bestDist = acc; best = c }
      c += 1
    }
    best
  }
}

/** Native nearest-candidate argmin over a CANDIDATE COLUMN: squared-L2
  * distance of the input vector (`left`, `ARRAY<FLOAT|DOUBLE>`) against
  * every `(cell, cent)` struct of a candidate array COLUMN (`right`,
  * `ARRAY<STRUCT<cell INT, cent ARRAY<DOUBLE>>>`), returning the `cell`
  * id of the nearest candidate; ties → FIRST in array order (callers
  * sort candidates by cell id, so ties break to the lowest cell — the
  * same rule as [[NearestCentroidF]] over an id-sorted matrix).
  *
  * This is the second level of the two-level coarse quantizer: level 1
  * is a [[NearestCentroidF]] against the √nCells super-centroids (a
  * small driver reference object), level 2 joins each row to its
  * super-cell's children and argmins over THIS COLUMN — so the full
  * nCells × dim centroid set rides through Spark's broadcast machinery
  * as data, never as driver-collected expression state, and per-row
  * cost is O((√nCells + nCells/√nCells)·dim) instead of O(nCells·dim).
  *
  * Distance arithmetic is the same element-order double fold as
  * [[NearestCentroidF]] (shorter of vector/centroid wins defensively);
  * null vector or null candidate array → null; an EMPTY candidate
  * array throws (a super-cell with no children is a broken quantizer —
  * scoring nothing must fail loudly); null struct slots are skipped
  * defensively (collect_list never emits them). */
case class NearestInArrayF(left: Expression, right: Expression)
    extends BinaryExpression {

  private def candsOk: Boolean = right.dataType match {
    case ArrayType(StructType(fields), _) if fields.length == 2 =>
      fields(0).dataType == IntegerType &&
        (fields(1).dataType match {
          case ArrayType(DoubleType, _) => true
          case _ => false
        })
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (VectorExpressions.vectorElem(left).isDefined && candsOk)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "graft_nearest_in expects (array<float|double>, " +
        "array<struct<cell int, cent array<double>>>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  override def dataType: DataType = IntegerType

  private lazy val isFloat = VectorExpressions.floatElems(left)

  override def nullSafeEval(a: Any, b: Any): Any =
    NearestInArrayF.nearestIn(a.asInstanceOf[ArrayData], isFloat,
      b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.NearestInArrayF.nearestIn($a, $isFloat, $b);")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(left = newLeft, right = newRight)
}

object NearestInArrayF {
  def nearestIn(v: ArrayData, isFloat: Boolean, cands: ArrayData): Int = {
    var best = Int.MinValue
    var found = false
    var bestDist = Double.MaxValue
    var c = 0
    while (c < cands.numElements()) {
      if (!cands.isNullAt(c)) {
        val row = cands.getStruct(c, 2)
        val cent = row.getArray(1)
        val n = math.min(v.numElements(), cent.numElements())
        var acc = 0.0
        var i = 0
        while (i < n) {
          val x = VectorExpressions.elemAt(v, i, isFloat) - cent.getDouble(i)
          acc += x * x
          i += 1
        }
        if (!found || acc < bestDist) { bestDist = acc; best = row.getInt(0) }
        found = true
      }
      c += 1
    }
    // an empty or all-null list fails alike: returning the never-updated
    // sentinel would assign a nonexistent cell that no probe's
    // `cell IN (…)` filter ever selects — silently invisible
    if (!found)
      throw new IllegalArgumentException(
        "graft_nearest_in: empty candidate list — a super-cell with no " +
          "children cannot assign")
    best
  }
}

/** Native product-quantization ADC (asymmetric distance computation)
  * fold: Σ_s `lut(s)(codes(s))` over an `ARRAY<INT>` of PQ sub-codes —
  * the probe-side scoring kernel of IVF-PQ ([[graft.ext.Pq]]). The
  * query-specific lookup table (m × k doubles, built driver-side once
  * per probe) rides in the expression as a reference object, so scoring
  * a corpus row is m array reads + adds instead of dim multiply-adds
  * over the full embedding — and the scan only ever touches the codes
  * column (m ints), never the dim-float embedding. That byte ratio is
  * the whole point of PQ at 100 TB: the index scan reads ~(4m+8) bytes
  * per vector instead of 4·dim.
  *
  * Accumulation is a sequential double fold in subspace order (the
  * [[DotF32]] convention). Null input → null; a null CODE SLOT → null
  * result (the code array is built from null-safe argmins over a
  * possibly-nullable embedding — propagating beats silently scoring
  * slot 0, the [[WeightSumF]] lesson). A code outside [0, k) throws
  * with the function name: an encode/codebook mismatch (wrong m, wrong
  * k, foreign index) must fail loudly, not rank garbage. */
case class PqAdcF(child: Expression, lut: IndexedSeq[IndexedSeq[Double]])
    extends UnaryExpression {
  require(lut.nonEmpty && lut.forall(_.length == lut.head.length) &&
    lut.head.nonEmpty, "graft_pq_adc: LUT must be a non-empty m x k matrix")
  // Seq field ⇒ value-based case-class equality (the WeightSumF rule);
  // primitive matrix rebuilt once for the hot loops
  private lazy val lArr: Array[Array[Double]] = lut.map(_.toArray).toArray

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(IntegerType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_pq_adc expects array<int> PQ codes, got ${other.simpleString}")
  }
  override def dataType: DataType = DoubleType
  // a null code slot nulls the result even when the input array itself
  // is non-null
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any =
    PqAdcF.adc(input.asInstanceOf[ArrayData], lArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val lRef = ctx.addReferenceObj("pqLut", lArr, "double[][]")
      VectorExpressions.unboxOrNull(ctx, ev,
        s"graft.functions.PqAdcF.adc($a, $lRef)")
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object PqAdcF {
  /** The ADC sum, or null when a code slot is null. */
  def adc(codes: ArrayData, lut: Array[Array[Double]]): java.lang.Double = {
    // a codes array whose length differs from the LUT's m was encoded
    // with a different codebook m — a partial/truncated sum would rank
    // garbage silently (the same loud-failure contract as the
    // out-of-range code check)
    VectorExpressions.requirePqM("graft_pq_adc", codes, lut.length, "LUT")
    var acc = 0.0
    var s = 0
    while (s < lut.length) {
      if (codes.isNullAt(s)) return null
      acc += lut(s)(VectorExpressions.pqCode("graft_pq_adc", codes, s, lut(s).length))
      s += 1
    }
    java.lang.Double.valueOf(acc)
  }
}

/** Native PQ ADC fold over a PER-ROW LUT COLUMN: Σ_s `lut(s·k +
  * codes(s))` where `left` is the `ARRAY<INT>` codes column and `right`
  * a FLATTENED m×k LUT (`ARRAY<DOUBLE>`, row-major: subspace s's k
  * entries at [s·k, (s+1)·k)). The bulk-probe twin of [[PqAdcF]]: that
  * expression bakes ONE query's LUT into the task binary — right for a
  * single-query probe, a driver round-trip per query for a retrieval
  * workload. Here the LUT is DATA: each (query, probed cell) pair of a
  * batch carries its query's LUT in a broadcast frame, and one join
  * scores every (query, candidate) pair — thousands of queries in one
  * pass ([[graft.ext.Pq.ivfPqProbeBulk]]).
  *
  * Same contracts as [[PqAdcF]], enforced per pair: codes length must
  * equal the LUT's m (= lut.length / k) — a mismatch is a foreign
  * codebook and throws; a code outside [0, k) throws; a null code slot
  * or null LUT slot → null result; null codes / null LUT → null.
  * Accumulation is the same sequential double fold in subspace order. */
case class PqAdcPairF(left: Expression, right: Expression, k: Int)
    extends BinaryExpression {
  require(k >= 1, "graft_pq_adc_pair: k must be >= 1")

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType,
      right.dataType) match {
    case (ArrayType(IntegerType, _), ArrayType(DoubleType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_pq_adc_pair expects (array<int> codes, array<double> " +
        s"flat LUT), got ${other._1.simpleString}, ${other._2.simpleString}")
  }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any =
    PqAdcPairF.adcPair(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => VectorExpressions.unboxOrNull(ctx, ev,
      s"graft.functions.PqAdcPairF.adcPair($a, $b, $k)"))

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(left = newLeft, right = newRight)
}

object PqAdcPairF {
  /** The ADC sum, or null when a code slot or its LUT slot is null. */
  def adcPair(codes: ArrayData, lut: ArrayData, k: Int): java.lang.Double = {
    if (lut.numElements() % k != 0)
      throw new IllegalArgumentException(
        s"graft_pq_adc_pair: LUT length ${lut.numElements()} is not a " +
          s"multiple of k=$k")
    val m = lut.numElements() / k
    VectorExpressions.requirePqM("graft_pq_adc_pair", codes, m, "LUT")
    var acc = 0.0
    var s = 0
    while (s < m) {
      if (codes.isNullAt(s)) return null
      val idx = s * k + VectorExpressions.pqCode("graft_pq_adc_pair", codes, s, k)
      if (lut.isNullAt(idx)) return null
      acc += lut.getDouble(idx)
      s += 1
    }
    java.lang.Double.valueOf(acc)
  }
}

/** Native PQ decode — the codebook GATHER inverse of the argmin
  * encode: `x̂ = concat_s cent_{s, code_s}` in subspace order, the
  * full m×k×subDim codebook riding in the expression as a reference
  * object (the [[PqAdcF]]/[[NearestCentroidF]] "broadcast the model
  * inside the kernel" device — a few hundred KB at production m·k,
  * never corpus data). This turns reconstruction into a per-row
  * map-side gather: the monitoring estimator
  * [[graft.ext.Pq.pqReconErrorOf]] previously decoded through a
  * posexplode → broadcast codebook join → collect_list/array_sort
  * re-assembly — a full shuffle of m rows per vector for what is, per
  * row, m array copies (VERDICT r15 #2). Output is BIT-IDENTICAL to
  * the join form by construction: a pure gather of the same codeword
  * doubles in the same subspace order, no arithmetic to reorder
  * (PqSpec pins the equality value-for-value).
  *
  * Same loud-failure contracts as [[PqAdcF]]: codes length ≠ m throws
  * (foreign codebook m); a code outside [0, k) throws; a null code
  * slot → null result; null input → null. */
case class PqDecodeF(child: Expression,
    cents: IndexedSeq[IndexedSeq[IndexedSeq[Double]]])
    extends UnaryExpression {
  require(cents.nonEmpty && cents.forall(_.nonEmpty) &&
    cents.forall(_.forall(_.length == cents.head.head.length)) &&
    cents.forall(_.length == cents.head.length) && cents.head.head.nonEmpty,
    "graft_pq_decode: codebook must be a non-ragged m x k x subDim tensor")
  // Seq field ⇒ value-based case-class equality (the WeightSumF rule);
  // primitive tensor rebuilt once for the hot loop / codegen reference
  private lazy val cwArr: Array[Array[Array[Double]]] =
    cents.map(_.map(_.toArray).toArray).toArray

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(IntegerType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_pq_decode expects array<int> PQ codes, got ${other.simpleString}")
  }
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  // a null code slot nulls the result even when the input array itself
  // is non-null
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any =
    PqDecodeF.decode(input.asInstanceOf[ArrayData], cwArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val cwRef = ctx.addReferenceObj("pqCw", cwArr, "double[][][]")
      s"""
         |${ev.value} = graft.functions.PqDecodeF.decode($a, $cwRef);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object PqDecodeF {
  /** The reconstruction, or null when a code slot is null. */
  def decode(codes: ArrayData, cw: Array[Array[Array[Double]]]): ArrayData = {
    val m = cw.length
    VectorExpressions.requirePqM("graft_pq_decode", codes, m, "codebook")
    val d = cw(0)(0).length
    val out = new Array[Double](m * d)
    var s = 0
    while (s < m) {
      if (codes.isNullAt(s)) return null
      val c = VectorExpressions.pqCode("graft_pq_decode", codes, s, cw(s).length)
      System.arraycopy(cw(s)(c), 0, out, s * d, d)
      s += 1
    }
    new GenericArrayData(out)
  }
}

/** Native scalar-quantization (SQ) encode — the per-dimension affine
  * int-code compression of FAISS's `ScalarQuantizer` (QT_8bit form;
  * Jégou et al.'s PQ is the sub-vector sibling, [[NearestCentroidF]]):
  * `code_i = clamp(0, L-1, floor((x_i - lo_i) / (hi_i - lo_i) · (L-1)
  * + 0.5))`, with a degenerate dimension (`hi_i == lo_i`, zero spread)
  * encoding to 0. The train-time `lo`/`hi` per-dim bounds ride as
  * reference objects (dim doubles each — the [[NearestCentroidF]]
  * centroid-matrix bound, never corpus data). `floor(t + 0.5)` rather
  * than a library `round`: half-up on the non-negative scaled value is
  * the one rounding rule every engine states identically (Java
  * `Math.round` and DuckDB `round` disagree on ties for negatives;
  * `(x - lo) / (hi - lo) · (L-1)` is never negative for in-range x,
  * and out-of-range x clamps anyway), which is what lets the encode
  * hash-match a SQL oracle. Codes saturate at the bounds for
  * out-of-range inputs (append-after-train drift) — the FAISS
  * saturating-cast rule. Null input → null; vector shorter than the
  * trained dim encodes its prefix defensively (the shorter-wins rule
  * of every kernel here). */
case class SqEncodeF(child: Expression, lo: IndexedSeq[Double],
    hi: IndexedSeq[Double], levels: Int) extends UnaryExpression {
  require(lo.nonEmpty && lo.length == hi.length,
    s"graft_sq_encode: lo/hi dims differ (${lo.length} vs ${hi.length})")
  require(levels >= 2 && levels <= 65536,
    s"graft_sq_encode: levels must be in [2, 65536], got $levels")
  // Seq fields ⇒ value-based equality (the WeightSumF rule); primitive
  // arrays rebuilt once for the hot loop / codegen reference object
  private lazy val loArr: Array[Double] = lo.toArray
  private lazy val hiArr: Array[Double] = hi.toArray
  private lazy val isFloat = VectorExpressions.floatElems(child)

  override def checkInputDataTypes(): TypeCheckResult =
    VectorExpressions.checkVectors("graft_sq_encode", child)
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    SqEncodeF.encode(input.asInstanceOf[ArrayData], isFloat, loArr, hiArr, levels)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val loRef = ctx.addReferenceObj("sqLo", loArr, "double[]")
      val hiRef = ctx.addReferenceObj("sqHi", hiArr, "double[]")
      s"${ev.value} = graft.functions.SqEncodeF.encode(" +
        s"$a, $isFloat, $loRef, $hiRef, $levels);"
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SqEncodeF {
  def encode(v: ArrayData, isFloat: Boolean, lo: Array[Double],
      hi: Array[Double], levels: Int): ArrayData = {
    val n = math.min(v.numElements(), lo.length)
    val out = new Array[Int](n)
    var i = 0
    while (i < n) {
      out(i) = codeOf(VectorExpressions.elemAt(v, i, isFloat), lo(i), hi(i), levels)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** The one code rule: half-up on the non-negative scaled value,
    * saturating clamp, degenerate dim → 0. A NaN input element also
    * lands on 0 (every NaN comparison is false, so neither clamp
    * branch fires and `NaN.toInt` is 0) — stated, not special-cased:
    * the embedding invariant is finite floats, and a deterministic
    * fallback beats a per-element branch in the hot loop. */
  def codeOf(x: Double, lo: Double, hi: Double, levels: Int): Int = {
    val den = hi - lo
    if (den == 0.0) 0
    else {
      val t = math.floor((x - lo) / den * (levels - 1) + 0.5)
      if (t < 0.0) 0
      else if (t > (levels - 1).toDouble) levels - 1
      else t.toInt
    }
  }
}

/** Native SQ decode — the inverse affine map of [[SqEncodeF]]:
  * `x̂_i = lo_i + code_i · step_i` with `step_i = (hi_i - lo_i) /
  * (L-1)` precomputed once by the caller ([[graft.ext.Sq.SqParams]]
  * owns the params; passing `step` rather than `hi` pins the exact
  * multiply the scorer and any SQL oracle must share). Unlike PQ —
  * whose decode is a codebook gather, so probes precompute LUTs —
  * SQ reconstruction is a linear map, the same per-element cost as the
  * dot product itself: probes simply decode and hand the
  * reconstruction to the existing [[DotF32]]-based cosine, keeping ONE
  * scoring rule across raw and SQ-compressed vectors. Null input →
  * null; codes shorter than the trained dim decode their prefix. */
case class SqDecodeF(child: Expression, lo: IndexedSeq[Double],
    step: IndexedSeq[Double]) extends UnaryExpression {
  require(lo.nonEmpty && lo.length == step.length,
    s"graft_sq_decode: lo/step dims differ (${lo.length} vs ${step.length})")
  private lazy val loArr: Array[Double] = lo.toArray
  private lazy val stArr: Array[Double] = step.toArray

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(IntegerType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_sq_decode expects array<int>, got ${other.simpleString}")
  }
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    SqDecodeF.decode(input.asInstanceOf[ArrayData], loArr, stArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val loRef = ctx.addReferenceObj("sqdLo", loArr, "double[]")
      val stRef = ctx.addReferenceObj("sqdStep", stArr, "double[]")
      s"${ev.value} = graft.functions.SqDecodeF.decode($a, $loRef, $stRef);"
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SqDecodeF {
  def decode(codes: ArrayData, lo: Array[Double], step: Array[Double]): ArrayData = {
    val n = math.min(codes.numElements(), lo.length)
    val out = new Array[Double](n)
    var i = 0
    while (i < n) {
      out(i) = lo(i) + codes.getInt(i) * step(i)
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** Fused SQ asymmetric scoring kernel: `dot(decode(codes), q)` in ONE
  * loop — `Σ_i (lo_i + c_i·step_i) · q_i` accumulated in element
  * order. Bit-identical to `DotF32(SqDecodeF(codes), q)` by
  * construction (same multiplies, same adds, same order, same
  * min-length truncation; SqSpec pins the equality value-for-value on
  * the corpus and x97's oracle hash-checks the scored output) — the
  * difference is purely mechanical: the two-kernel form allocates a
  * `double[dim]` reconstruction per row, and the in-cell scan of an
  * SQ probe at 100 TB is exactly that loop × every surviving row. The
  * query rides as a reference object like the params (dim doubles —
  * the probe's existing driver bound). Null input → null. */
case class SqAdcF(child: Expression, lo: IndexedSeq[Double],
    step: IndexedSeq[Double], q: IndexedSeq[Double])
    extends UnaryExpression {
  require(lo.nonEmpty && lo.length == step.length && lo.length == q.length,
    s"graft_sq_adc: lo/step/q dims differ " +
      s"(${lo.length}/${step.length}/${q.length})")
  private lazy val loArr: Array[Double] = lo.toArray
  private lazy val stArr: Array[Double] = step.toArray
  private lazy val qArr: Array[Double] = q.toArray

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(IntegerType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_sq_adc expects array<int>, got ${other.simpleString}")
  }
  override def dataType: DataType = DoubleType

  override def nullSafeEval(input: Any): Any =
    SqAdcF.adc(input.asInstanceOf[ArrayData], loArr, stArr, qArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val loRef = ctx.addReferenceObj("sqaLo", loArr, "double[]")
      val stRef = ctx.addReferenceObj("sqaStep", stArr, "double[]")
      val qRef = ctx.addReferenceObj("sqaQ", qArr, "double[]")
      s"${ev.value} = graft.functions.SqAdcF.adc($a, $loRef, $stRef, $qRef);"
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SqAdcF {
  def adc(codes: ArrayData, lo: Array[Double], step: Array[Double],
      q: Array[Double]): Double = {
    val n = math.min(codes.numElements(), lo.length)
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += (lo(i) + codes.getInt(i) * step(i)) * q(i)
      i += 1
    }
    acc
  }
}

/** Native quantile-bucket id: upper-bound binary search of a double
  * value in a sorted boundary array riding as a reference object —
  * `bucket = #{b : b <= v}`, i.e. 0 below the first boundary,
  * boundaries.length at/above the last. The rank-bucketed z-order
  * variant's cell function ([[graft.engine.Store.withZValue]] with
  * `rank = true`): min–max scaling collapses under one extreme value
  * (every normal row lands in a handful of cells and the dimension
  * stops discriminating); quantile boundaries give equal-POPULATION
  * cells on any distribution — the range-partition-id form. The
  * explicit upper-bound loop (not `Arrays.binarySearch`) makes the
  * duplicate-boundary case deterministic: repeated quantiles (heavy
  * tails produce them) all map to the bucket after the last duplicate.
  * Null input → null (the min–max form's NULL rule). */
case class BucketIdF(child: Expression, boundaries: IndexedSeq[Double])
    extends UnaryExpression {
  require(boundaries.nonEmpty, "graft_bucket_id: boundaries must be non-empty")
  // Seq field ⇒ value-based equality (the WeightSumF rule)
  private lazy val bArr: Array[Double] = boundaries.toArray

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case DoubleType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_bucket_id expects double, got ${other.simpleString}")
  }
  override def dataType: DataType = IntegerType

  override def nullSafeEval(input: Any): Any =
    BucketIdF.bucketOf(input.asInstanceOf[Double], bArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val bRef = ctx.addReferenceObj("zBnds", bArr, "double[]")
      s"""
         |${ev.value} = graft.functions.BucketIdF.bucketOf($a, $bRef);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object BucketIdF {
  /** Upper bound: first index whose boundary exceeds `v`. */
  def bucketOf(v: Double, b: Array[Double]): Int = {
    var lo = 0
    var hi = b.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (b(mid) <= v) lo = mid + 1 else hi = mid
    }
    lo
  }
}

object ShingleHashF {
  private val SPACE = " ".getBytes(java.nio.charset.StandardCharsets.UTF_8)
  private val digestTL =
    new ThreadLocal[java.security.MessageDigest] {
      override def initialValue(): java.security.MessageDigest =
        java.security.MessageDigest.getInstance("MD5")
    }

  def hashAll(toks: ArrayData, k: Int, p: Long): Array[Long] = {
    val n = toks.numElements()
    if (n < k) return Array.emptyLongArray
    val md = digestTL.get()
    val bytes = new Array[Array[Byte]](n)
    var i = 0
    while (i < n) { bytes(i) = toks.getUTF8String(i).getBytes; i += 1 }
    val out = new Array[Long](n - k + 1)
    i = 0
    while (i <= n - k) {
      md.reset()
      var j = 0
      while (j < k) {
        if (j > 0) md.update(SPACE)
        md.update(bytes(i + j))
        j += 1
      }
      val d = md.digest()
      // first 15 hex chars = first 60 bits: 8 bytes as unsigned >> 4
      var h = 0L
      j = 0
      while (j < 8) { h = (h << 8) | (d(j) & 0xffL); j += 1 }
      out(i) = (h >>> 4) % p
      i += 1
    }
    out
  }
}

object VectorExpressions {
  /** The element type of an `array<float|double>` vector input, or None
    * — the one input rule of every vector kernel here and of
    * [[CentroidAggF]] (the [[DotF32]] layout-drift rule). */
  private[functions] def vectorElem(e: Expression): Option[DataType] =
    e.dataType match {
      case ArrayType(FloatType, _) => Some(FloatType)
      case ArrayType(DoubleType, _) => Some(DoubleType)
      case _ => None
    }

  /** True when a vector input's elements are floats (widened per element). */
  private[functions] def floatElems(e: Expression): Boolean =
    vectorElem(e).contains(FloatType)

  /** `name`'s type check over vector-only inputs; the failure names the
    * function and every input type. */
  private[functions] def checkVectors(name: String,
      inputs: Expression*): TypeCheckResult =
    if (inputs.forall(vectorElem(_).isDefined)) TypeCheckResult.TypeCheckSuccess
    else if (inputs.length == 1) TypeCheckResult.TypeCheckFailure(
      s"$name expects array<float|double>, got ${inputs.head.dataType.simpleString}")
    else TypeCheckResult.TypeCheckFailure(
      s"$name expects array<float|double> on both sides, got " +
        inputs.map(_.dataType.simpleString).mkString("(", ", ", ")"))

  /** Element `i` of a float or double vector, widened to double. */
  private[functions] def elemAt(v: ArrayData, i: Int,
      isFloat: Boolean): Double =
    if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)

  /** The PQ kernels' wrong-m refusal: a codes array whose length is not
    * the codebook's m was encoded with a different codebook. */
  private[functions] def requirePqM(name: String, codes: ArrayData, m: Int,
      against: String): Unit =
    if (codes.numElements() != m)
      throw new IllegalArgumentException(
        s"$name: ${codes.numElements()} codes vs $against m=$m " +
          "— codes were encoded with a different codebook m")

  /** Code `s` of a PQ code array, refused loudly outside [0, k). */
  private[functions] def pqCode(name: String, codes: ArrayData, s: Int,
      k: Int): Int = {
    val c = codes.getInt(s)
    if (c < 0 || c >= k)
      throw new IllegalArgumentException(
        s"$name: code $c at subspace $s outside [0, $k) " +
          "— codes were encoded with a different codebook")
    c
  }

  /** Generated code for a kernel whose helper returns a boxed double or
    * null: null sets the result's null flag. */
  private[functions] def unboxOrNull(ctx: CodegenContext, ev: ExprCode,
      call: String): String = {
    val r = ctx.freshName("boxed")
    s"""
       |java.lang.Double $r = $call;
       |if ($r == null) ${ev.isNull} = true; else ${ev.value} = $r.doubleValue();
     """.stripMargin
  }

  /** Arity guard shared with [[graft.functions.GraftExtensions]]: without
    * it `graft_dot(a, b, c)` silently DROPPED the extra argument (a
    * wrong-answer class bug on the public SQL surface) and `graft_dot(a)`
    * died with a bare IndexOutOfBoundsException naming neither the
    * function nor the expected arity. */
  private[functions] def dotBuilder(exprs: Seq[Expression]): Expression = {
    if (exprs.length != 2)
      throw new IllegalArgumentException(
        s"graft_dot expects exactly 2 arguments, got ${exprs.length}")
    DotF32(exprs(0), exprs(1))
  }

  /** Arity guard for the SQL-registered centroid aggregate (the
    * [[dotBuilder]] rule): a wrong arity must name the function and the
    * expected shape, never silently drop arguments. The analyzer wraps
    * the returned AggregateFunction in its AggregateExpression when the
    * call site is an aggregate context (the built-in sum/avg path). */
  private[functions] def centroidBuilder(exprs: Seq[Expression]): Expression = {
    if (exprs.length != 1)
      throw new IllegalArgumentException(
        s"graft_centroid expects exactly 1 argument, got ${exprs.length}")
    CentroidAggF(exprs.head)
  }

  /** Register `graft_dot(a, b)` / `graft_centroid(emb)` for SQL /
    * `expr()` use in a session. */
  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_dot", dotBuilder, "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_centroid", centroidBuilder, "built-in")
  }
}
