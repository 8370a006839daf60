package graft.ext

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, GraftBridge, Row,
  SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.engine.SafeFs

/** The codes encoder of a compressed IVF index — not the coarse cell
  * quantizer. This is FAISS's `IndexIVF` with a pluggable encoder
  * (Johnson, Douze, Jégou, "Billion-scale similarity search with GPUs",
  * 2017): the IVF layer ([[Similarity]]) owns cells, files, tombstones
  * and the staged retrain swap; an encoder owns only how a vector
  * becomes `codes` + `recon_norm` and how a query scores them.
  * [[Pq.PqCodebooks]] (Jégou et al., TPAMI 2011) and [[Sq.SqParams]]
  * implement it, and hold only what differs between the two.
  *
  * The lifecycle both share is written once in the companion: side
  * files saved next to the index, the encode projection, the
  * single-query probe, the one layout guard, the raw-access re-encode,
  * and the drift-readout skeleton. The two layouts have one schema; the
  * only physical tell between them is the codes width — `m` for PQ,
  * `dim` for SQ ([[widthTell]], checked by [[Quantizer.requireLayout]]). */
trait Quantizer {

  /** The codes width this quantizer writes (PQ `m`, SQ `dim`) and what
    * fixes it, as a refusal names it. */
  private[graft] def widthTell: (Int, String)

  /** `df` with `codes ARRAY<INT>` and `recon_norm DOUBLE` (‖x̂‖)
    * appended. */
  private[graft] def encode(df: DataFrame, embCol: String): DataFrame

  /** The single-query score column's name. */
  private[graft] def scoreCol: String

  /** Unrounded approximate `q·x̂` of each row's `codes`; a refusal
    * raised while scoring names `caller`. */
  private[graft] def dot(q: IndexedSeq[Double], caller: String): Column

  /** The side files that travel with the index under `path`, params
    * first. `encoded` is the frame whose codes were just written; None
    * when a retrain carried the codes through unchanged. */
  private[graft] def sideFiles(spark: SparkSession, path: String,
      encoded: Option[DataFrame]): Seq[(String, DataFrame)]

  /** The drift readout over this quantizer's codes. */
  private[graft] def drift: Quantizer.Drift
}

object Quantizer {

  private[ext] def toExpr(c: Column): Expression = GraftBridge.expression(c)
  private[ext] def toCol(e: Expression): Column = GraftBridge.column(e)

  /** ‖q‖ by the sequential fold every scorer divides by. */
  private[ext] def qNorm(q: IndexedSeq[Double]): Double =
    math.sqrt(q.foldLeft(0.0)((a, x) => a + x * x))

  /** A drift readout: `agg(encoded, sampleFraction, seed)` is a bounded
    * aggregate (m·k rows for PQ, dim rows for SQ); `summary(rows,
    * where)` rolls its collected rows into the one row of DDL `schema`,
    * the honest zero row (nulls past the counts) when there were none. */
  private[graft] final case class Drift(schema: String,
      agg: (DataFrame, Double, Long) => DataFrame,
      summary: (Array[Row], String) => Seq[Any])

  /** The one layout guard of a compressed index: `layout` (the
    * persisted assigned frame) has a `codes` column, has no `embCol`
    * (that would be a raw index), and — when `tell` is given — its
    * codes are `tell._1` wide, probed on one non-null row
    * ([[Similarity.codesWidth]]). True iff a width was observed (an
    * empty or all-null frame has none). */
  private[graft] def requireLayout(caller: String, layout: DataFrame,
      where: String, tell: Option[(Int, String)],
      embCol: Option[String] = None): Boolean = {
    require(layout.columns.contains("codes"),
      s"$caller: no `codes` column under $where — not a compressed " +
        "(SQ/PQ-encoded) layout (a raw index retrains via ivfRetrain)")
    embCol.foreach(e => require(!layout.columns.contains(e),
      s"$caller: the layout under $where already has `$e` — a raw " +
        "index retrains via ivfRetrain"))
    tell.exists { case (width, what) =>
      Similarity.codesWidth(layout).map(w => require(w == width,
        notThisIndex(caller, s"codes width $w != $what", where)))
        .nonEmpty
    }
  }

  /** The layout guard's one refusal text: `found` under `where` marks
    * another quantizer's index. */
  private def notThisIndex(caller: String, found: String,
      where: String): String =
    s"$caller: $found under $where — not this quantizer's index " +
      "(SQ codes are dim-wide, PQ codes m-wide)"

  /** Refuse the index under `path` when the side file `name`, which only
    * another quantizer writes, sits next to it — the tell a caller
    * without this quantizer's params still has. */
  private[ext] def refuseSideFile(caller: String, spark: SparkSession,
      path: String, name: String): Unit =
    require(sidePath(spark, path, name).isEmpty,
      notThisIndex(caller, s"a $name side file", path))

  /** Write one small side frame as a single parquet file. */
  private[ext] def writeOne(frame: DataFrame, path: String): Unit =
    frame.coalesce(1).write.mode("overwrite").parquet(path)

  /** A side file saved next to the index, if there is one. */
  private[ext] def sideFile(spark: SparkSession, path: String,
      name: String): Option[DataFrame] =
    sidePath(spark, path, name).map(SafeFs.readParquet(spark, _))

  private def sidePath(spark: SparkSession, path: String,
      name: String): Option[String] = Some(s"$path/$name")
    .filter(p => SafeFs.fs(spark, p).exists(new org.apache.hadoop.fs.Path(p)))

  /** Persist an encoded IVF index together with the quantizer's side
    * files: codes are unreadable without the params that wrote them.
    * The side files sit outside the assigned tree, so append, delete
    * and compact leave them alone; a retrain republishes them through
    * its staged swap ([[rawRetrain]]). */
  private[ext] def save(q: Quantizer, index: Similarity.IvfIndex,
      table: String, path: String, nCells: Int): Unit = {
    Similarity.ivfSave(index, table, path, nCells)
    q.sideFiles(index.assigned.sparkSession, path, Some(index.assigned))
      .foreach { case (name, frame) => writeOne(frame, s"$path/$name") }
  }

  /** An encoded index: `(idCol, cell, codes, recon_norm, keep…)` over
    * the source index's centroids. The maintenance layer never looks
    * at the payload columns; `keep` carries metadata a filtered probe's
    * `pred` can reference. */
  private[ext] def ivfEncode(index: Similarity.IvfIndex,
      encoded: DataFrame, idCol: String,
      keep: Seq[String]): Similarity.IvfIndex =
    Similarity.IvfIndex(encoded.select(
      (Seq(idCol, "cell", "codes", "recon_norm") ++ keep).map(col): _*),
      index.centroids)

  /** The single-query scorer of every compressed index: rank by the
    * rounded approximate cosine `(extra + q·x̂) / (recon_norm·‖q‖)`
    * (`extra` is residual PQ's per-cell `q·cent`) with the (score desc,
    * id) tie-break, and keep the top k — or, with `rerankWith` (the
    * full-precision frame), the two-stage read: the `k·rerankFactor`
    * best candidates joined back (broadcast) and re-scored by exact
    * cosine. One implementation, so the rounding rule, tie-break,
    * candidate bound and output shape cannot drift between scorers;
    * [[Similarity.bulkProbe]] is its bulk form. */
  private[ext] def topK(q: Quantizer, caller: String, encoded: DataFrame,
      query: IndexedSeq[Double], idCol: String, k: Int,
      rerankWith: Option[DataFrame], rerankFactor: Int, embCol: String,
      extra: Option[Column] = None): DataFrame = {
    val dot = q.dot(query, caller)
    val ranked = encoded.withColumn(q.scoreCol, round(
        extra.fold(dot)(_ + dot) / (col("recon_norm") * lit(qNorm(query))), 6))
      .orderBy(col(q.scoreCol).desc, col(idCol))
    rerankWith match {
      case None => ranked.select(col(idCol), col(q.scoreCol)).limit(k)
      case Some(full) =>
        val cand = ranked.select(col(idCol)).limit(k * rerankFactor)
        full.join(broadcast(cand), Seq(idCol))
          .withColumn("cos", round(
            Similarity.dot(col(embCol), array(query.map(lit(_)): _*)) /
              (Similarity.norm(col(embCol)) * lit(qNorm(query))), 6))
          .orderBy(col("cos").desc, col(idCol))
          .select(col(idCol), col("cos")).limit(k)
    }
  }

  /** The single-query IVF probe of a compressed index: cells ranked and
    * pruned by [[Similarity.probeFront]] (`pred` conjoined after the
    * `cell IN (…)` prune), then [[topK]] over the probed cells' codes.
    * `residual` adds `q·cent` for each probed cell, computed on the
    * driver from the centroids the front returns (nProbe dot products)
    * and looked up through a flat map literal. */
  private[ext] def probe(q: Quantizer, caller: String,
      index: Similarity.IvfIndex, query: DataFrame, idCol: String,
      embCol: String, nProbe: Int, k: Int, rerankWith: Option[DataFrame],
      rerankFactor: Int, superQ: Option[Similarity.IvfSuper],
      nProbeSuper: Int, pred: Option[Column],
      residual: Boolean = false): DataFrame = {
    val front = Similarity.probeFront(caller, index, query, embCol,
      nProbe, superQ, nProbeSuper, pred)
    val qcent = if (!residual) None else Some(element_at(
      map(front.cells.flatMap { case (c, cent) =>
        Seq(lit(c), lit(Similarity.dotOf(front.q, cent)))
      }: _*), col("cell").cast("int")))
    topK(q, caller, front.candidates, front.q, idCol, k, rerankWith,
      rerankFactor, embCol, qcent)
  }

  /** The raw-access re-encode of a compressed index
    * ([[Sq.sqReencodeIndex]], [[Pq.ivfPqRetrain]]): codes alone cannot
    * re-fit what they lost, so the caller brings the raw vectors. The
    * layout is guarded against `tell`; the raw frame must be keyed and
    * cover every live id ([[Similarity.requireKeyedCovering]]); cells
    * re-fit on the raw vectors through [[Similarity.retrainImpl]]'s
    * staged swap. `fit` then sees the new index and returns the
    * quantizer valid for its codes with the re-encoded frame (None
    * carries the codes through). That quantizer's side files are staged
    * inside the swapped tree, so codes and params publish together. */
  private[ext] def rawRetrain[Q <: Quantizer](caller: String,
      spark: SparkSession, table: String, path: String, nCells: Int,
      raw: DataFrame, idCol: String, embCol: String, seed: Long,
      tell: (Int, String))(
      fit: Similarity.IvfIndex => (Q, Option[DataFrame]))
      : (Similarity.IvfIndex, Q) = {
    val emb = raw.select(col(idCol), col(embCol))
    var fitted: (Q, Option[DataFrame]) = null
    val reopened = Similarity.retrainImpl(spark, table, path, nCells,
      embCol, seed,
      reconstruct = df => {
        requireLayout(caller, df, s"$path/assigned", Some(tell), Some(embCol))
        Similarity.requireKeyedCovering(spark, path, df, emb, idCol, caller)
        df.join(emb, Seq(idCol))
      },
      project = idx => {
        fitted = fit(idx); fitted._2.getOrElse(idx.assigned).drop(embCol)
      },
      // re-encoded codes are described from the staged bytes themselves
      stagedMeta = (_, staged) =>
        fitted._1.sideFiles(spark, path, fitted._2.map(_ => staged)))
    (reopened, fitted._1)
  }

  /** `df`, or a deterministic `sampleFraction` sample of it — how a
    * monitoring cadence bounds a drift scan over a large index. */
  private[ext] def sampled(df: DataFrame, fraction: Double,
      seed: Long): DataFrame = {
    require(fraction > 0.0 && fraction <= 1.0, "sampleFraction is a fraction")
    if (fraction >= 1.0) df else df.sample(false, fraction, seed)
  }

  /** The live rows of the compressed index under `path`, what its
    * readouts scan: the assigned frame through the layout guard (width
    * only when `tell` is given), tombstones folded out — deleted vectors
    * must not keep a drift alarm lit. */
  private[ext] def liveLayout(spark: SparkSession, path: String,
      caller: String, tell: Option[(Int, String)]): DataFrame = {
    val physical = spark.read.parquet(s"$path/assigned")
    requireLayout(caller, physical, s"$path/assigned", tell)
    SafeFs.liveRows(spark, path, physical)
  }

  /** One summary row over an encoded frame: the drift aggregate,
    * collected (bounded — never the corpus), rolled up on the driver. */
  private[ext] def describeOf(encoded: DataFrame, drift: Drift,
      sampleFraction: Double, seed: Long, where: String): DataFrame =
    encoded.sparkSession.createDataFrame(
      Seq(Row.fromSeq(drift.summary(
        drift.agg(encoded, sampleFraction, seed).collect(), where))).asJava,
      StructType.fromDDL(drift.schema))

  /** A drift threshold hook over a summary row: false on the zero row
    * (`key` null — an empty index never fires), else `fires` over the
    * row's double columns. */
  private[ext] def fired(d: Row, key: String)(
      fires: (String => Double) => Boolean): Boolean =
    !d.isNullAt(d.fieldIndex(key)) && fires(c => d.getDouble(d.fieldIndex(c)))
}
