package graft.functions

import java.math.{BigDecimal => JBigDecimal, BigInteger, RoundingMode}
import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Mutable per-group state for [[CentroidAggF]]: per-element scale-7
  * fixed-point sums in SIGNED 128-BIT (hi:lo long pairs — ADVICE r17:
  * the earlier single-long buffer refused at ~9.2e11 where the deployed
  * exploded pipeline's decimal(30,7) sum still had headroom) plus the
  * two per-element tallies the exploded form's `count(lit(1))` /
  * null-skipping `sum` kept implicitly. Arrays grow to the longest
  * input seen (ragged inputs match posexplode, which emits only
  * existing elements). */
final class CentroidState(var dim: Int, var sumsHi: Array[Long],
    var sumsLo: Array[Long], var counts: Array[Long],
    var finite: Array[Long]) {
  def ensure(n: Int): Unit = if (n > dim) {
    sumsHi = java.util.Arrays.copyOf(sumsHi, n)
    sumsLo = java.util.Arrays.copyOf(sumsLo, n)
    counts = java.util.Arrays.copyOf(counts, n)
    finite = java.util.Arrays.copyOf(finite, n)
    dim = n
  }
}

/** Native vector-sum centroid aggregate — the explode-free form of the
  * exact-decimal centroid convention shared by x73/x85
  * ([[graft.ext.Similarity.semanticDedup]] /
  * [[graft.ext.Similarity.ivfDeterministicTopK]]):
  *
  * {{{
  *   posexplode(d(emb)).groupBy(bucket, i)
  *     .agg(sum(round(x, 7).cast("decimal(20,7)")).cast("double")
  *            / count(lit(1)))
  *     .groupBy(bucket).agg(array_sort(collect_list(struct(i, c))) → cent)
  * }}}
  *
  * expanded every corpus row into `dim` rows (12.8M at sf10's 200k×64 —
  * VERDICT r16 #5, x73's dominant term) to compute what is, per row,
  * `dim` fixed-point adds. This aggregate is the [[DotF32]]/[[PqDecodeF]]
  * pattern applied to ACCUMULATION: array in, per-element exact sums in
  * the buffer, one (4·dim longs) partial per partition per group on the
  * exchange — no row expansion anywhere, group keys shuffle once.
  *
  * Output is BIT-IDENTICAL to the exploded form (CentroidAggSpec pins it
  * property-style, adversarial inputs included) because every step is
  * replicated exactly, not approximated:
  *   - `round(x, 7)`: `BigDecimal.valueOf(x).setScale(7, HALF_UP)
  *     .doubleValue` — Spark's `RoundBase` for doubles (`Double.toString`
  *     shortest-repr semantics), NaN/±Inf pass through;
  *   - `cast(decimal(20,7))`: re-round the ROUNDED double
  *     (`valueOf(r).setScale(7, HALF_UP)`); NaN/±Inf → null (pinned
  *     empirically in CentroidAggSpec — `Decimal.set(Double)` nulls
  *     non-finites under either ansi setting);
  *   - decimal `sum` skips nulls, `count(lit(1))` does not: per-element
  *     `finite`/`counts` tallies keep the two denominators distinct, and
  *     an element with no finite contribution evaluates to null exactly
  *     as the null decimal sum did;
  *   - scale-7 128-bit integers ARE the decimal arithmetic
  *     (order-independent, partitioning-proof); the final
  *     `.cast("double") / count` is one `BigDecimal(sum, 7).doubleValue
  *     / count` per element.
  *
  * The overflow story (the engine runs Spark 4's DEFAULT ansi=true —
  * nothing in the repo overrides it) now matches the exploded pipeline's
  * failure surface EXACTLY (ADVICE r17 — the single-long buffer narrowed
  * it): a per-element VALUE past decimal(20,7) (|x| ≥ 1e13) refuses
  * where the exploded cast ANSI-throws, and a per-element GROUP SUM past
  * decimal(30,7)'s headroom (|Σ| ≥ 1e23, Spark's sum-over-decimal(20,7)
  * result type) refuses where the exploded sum ANSI-throws. Every value
  * and sum the deployed pipeline handled, this kernel handles; both
  * refusals are LOUD with the reference form named, never a wrap — the
  * pair-guard fail-closed convention. (128-bit capacity ~1.7e31 strictly
  * contains the 1e30 scaled-sum limit, and the per-add limit check keeps
  * intermediates below 2^101, so the representation itself can never
  * silently overflow.)
  *
  * A group whose every row is null (posexplode would emit nothing, so
  * the group vanished from the old centroid frame) evaluates to null —
  * call sites filter `cent IS NOT NULL` to restore the inner-join drop. */
case class CentroidAggF(child: Expression,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[CentroidState]
    with UnaryLike[Expression] {
  import CentroidAggF._

  override def checkInputDataTypes(): TypeCheckResult =
    VectorExpressions.checkVectors("graft_centroid", child)

  // element null iff no finite contribution reached its decimal sum
  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def nullable: Boolean = true
  private lazy val isFloat = VectorExpressions.floatElems(child)

  override def createAggregationBuffer(): CentroidState =
    new CentroidState(0, Array.emptyLongArray, Array.emptyLongArray,
      Array.emptyLongArray, Array.emptyLongArray)

  override def update(buf: CentroidState, input: InternalRow): CentroidState = {
    val v = child.eval(input)
    if (v == null) return buf // posexplode emits nothing for a null array
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    buf.ensure(n)
    var i = 0
    while (i < n) {
      buf.counts(i) += 1 // count(lit(1)) counted null/NaN elements too
      if (!arr.isNullAt(i)) {
        val x = VectorExpressions.elemAt(arr, i, isFloat)
        if (!x.isNaN && !x.isInfinite) {
          // round(x, 7) — Spark RoundBase double semantics
          val r = JBigDecimal.valueOf(x)
            .setScale(7, RoundingMode.HALF_UP).doubleValue()
          // cast(decimal(20,7)) re-rounds the ROUNDED double; a value
          // the cast cannot hold (unscaled ≥ MaxUnscaled20) refuses via
          // refuseValue() exactly where the exploded form's ANSI cast
          // throws
          val scaled0 = JBigDecimal.valueOf(r)
            .setScale(7, RoundingMode.HALF_UP).movePointRight(7)
          var bhi = 0L
          var blo = 0L
          try { // fast path: |unscaled| < 2^63 (every real embedding)
            blo = scaled0.longValueExact(); bhi = blo >> 63
          } catch { case _: ArithmeticException =>
            val big = scaled0.toBigIntegerExact
            if (big.abs.compareTo(MaxUnscaled20) >= 0) refuseValue()
            blo = big.longValue(); bhi = big.shiftRight(64).longValue()
          }
          accumulate(buf, i, bhi, blo)
          buf.finite(i) += 1
        }
      }
      i += 1
    }
    buf
  }

  override def merge(buf: CentroidState, other: CentroidState): CentroidState = {
    buf.ensure(other.dim)
    var i = 0
    while (i < other.dim) {
      accumulate(buf, i, other.sumsHi(i), other.sumsLo(i))
      buf.counts(i) += other.counts(i)
      buf.finite(i) += other.finite(i)
      i += 1
    }
    buf
  }

  override def eval(buf: CentroidState): Any = {
    if (buf.dim == 0) return null // all-null group: old frame had no row
    val out = new Array[Any](buf.dim)
    var i = 0
    while (i < buf.dim) {
      out(i) = if (buf.finite(i) == 0) null
      else sumToBigDecimal(buf.sumsHi(i), buf.sumsLo(i))
        .doubleValue() / buf.counts(i).toDouble
      i += 1
    }
    new GenericArrayData(out)
  }

  override def serialize(buf: CentroidState): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 32 * buf.dim)
    bb.putInt(buf.dim)
    var i = 0
    while (i < buf.dim) {
      bb.putLong(buf.sumsHi(i)); bb.putLong(buf.sumsLo(i))
      bb.putLong(buf.counts(i)); bb.putLong(buf.finite(i)); i += 1
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): CentroidState = {
    val bb = ByteBuffer.wrap(bytes)
    val dim = bb.getInt
    val st = new CentroidState(dim, new Array[Long](dim),
      new Array[Long](dim), new Array[Long](dim), new Array[Long](dim))
    var i = 0
    while (i < dim) {
      st.sumsHi(i) = bb.getLong; st.sumsLo(i) = bb.getLong
      st.counts(i) = bb.getLong; st.finite(i) = bb.getLong; i += 1
    }
    st
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): CentroidAggF =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CentroidAggF =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): CentroidAggF =
    copy(child = newChild)
  override def prettyName: String = "graft_centroid"
}

object CentroidAggF {
  /** decimal(20,7) capacity as a scale-7 unscaled bound: the exploded
    * form's cast ANSI-throws at |x| ≥ 1e13 ⟺ |unscaled| ≥ 1e20. */
  private[graft] val MaxUnscaled20: BigInteger = BigInteger.TEN.pow(20)
  /** decimal(30,7) sum headroom (Spark types sum-over-decimal(20,7) as
    * decimal(30,7)): the exploded sum ANSI-throws at |Σ| ≥ 1e23 ⟺
    * |unscaled Σ| ≥ 1e30 — split into 128-bit (hi, unsigned-lo) words
    * for the allocation-free per-add check. */
  private val MaxSum30: BigInteger = BigInteger.TEN.pow(30)
  private val SumLimit: BigInteger = MaxSum30.subtract(BigInteger.ONE)
  private val SumLimitHi: Long = SumLimit.shiftRight(64).longValue()
  private val SumLimitLo: Long = SumLimit.longValue()

  /** Signed-128-bit accumulate `sums(i) += (bhi:blo)` with the
    * decimal(30,7) limit checked after every add — primitive-only on
    * the hot path (no BigInteger per element). Max |addend| < 1e20 <
    * 2^67 and |pre-add sum| ≤ 1e30−1 < 2^100, so the 128-bit add itself
    * can never wrap before the check refuses. */
  private[graft] def accumulate(buf: CentroidState, i: Int,
      bhi: Long, blo: Long): Unit = {
    val lo = buf.sumsLo(i)
    val newLo = lo + blo
    // unsigned carry out of the low word
    val carry = ((lo & blo) | ((lo | blo) & ~newLo)) >>> 63
    val newHi = buf.sumsHi(i) + bhi + carry
    if (exceedsSumLimit(newHi, newLo)) refuseSum()
    buf.sumsHi(i) = newHi
    buf.sumsLo(i) = newLo
  }

  /** |(hi:lo)| > 10^30 − 1, i.e. the scaled sum left decimal(30,7). */
  private[graft] def exceedsSumLimit(hi: Long, lo: Long): Boolean = {
    var h = hi
    var l = lo
    if (hi < 0) { // two's-complement negate: |x| for the magnitude test
      l = -lo
      h = if (lo == 0) -hi else ~hi
    }
    h > SumLimitHi ||
      (h == SumLimitHi && java.lang.Long.compareUnsigned(l, SumLimitLo) > 0)
  }

  /** Scale-7 BigDecimal of a 128-bit sum (eval-side only — per group
    * per element, never per row). */
  private[graft] def sumToBigDecimal(hi: Long, lo: Long): JBigDecimal = {
    if (hi == (lo >> 63)) // sign-extended: fits a long (the common case)
      return new JBigDecimal(BigInteger.valueOf(lo), 7)
    val big = BigInteger.valueOf(hi).shiftLeft(64)
      .add(new BigInteger(java.lang.Long.toUnsignedString(lo)))
    new JBigDecimal(big, 7)
  }

  private def refuseValue(): Nothing =
    throw new IllegalStateException(
      "graft_centroid: a per-element value exceeds decimal(20,7) " +
        "(|x| >= 1e13) — the exploded reference form " +
        "(Similarity.centroidsViaPosexplode) ANSI-throws on this data " +
        "too; the corpus is far outside embedding scale")

  private def refuseSum(): Nothing =
    throw new IllegalStateException(
      "graft_centroid: a per-element group sum exceeds decimal(30,7) " +
        "(|sum| >= 1e23) — the exploded reference form " +
        "(Similarity.centroidsViaPosexplode) ANSI-throws at exactly " +
        "this point too; the corpus is far outside embedding scale")
}
