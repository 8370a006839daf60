package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.GraftBridge.{column => toCol, expression => toExpr}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions._

/** Every native kernel in `graft.functions` evaluated twice on the same
  * rows: once through whole-stage generated code with the projection
  * factory forced to CODEGEN_ONLY, once with whole-stage codegen off
  * and the factory forced to NO_CODEGEN (the interpreted `eval` path
  * Spark falls back to). Results must match bit for bit, nulls
  * included, and the loud failures must throw the same root-cause
  * message either way. */
class KernelParitySpec extends AnyFunSuite with SparkTestBase {

  private val dim = 6
  private val (m, k) = (3, 4)

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("f", ArrayType(FloatType, containsNull = false)),
    StructField("d", ArrayType(DoubleType, containsNull = false)),
    StructField("h", ArrayType(LongType, containsNull = false)),
    StructField("toks", ArrayType(StringType, containsNull = false)),
    StructField("codes", ArrayType(IntegerType, containsNull = true)),
    StructField("lut", ArrayType(DoubleType, containsNull = true)),
    StructField("cands", ArrayType(StructType(Seq(
      StructField("cell", IntegerType, nullable = false),
      StructField("cent", ArrayType(DoubleType, containsNull = false)))),
      containsNull = true)),
    StructField("sq", ArrayType(IntegerType, containsNull = false)),
    StructField("x", DoubleType)))

  /** An RDD-backed frame, so the optimizer cannot fold the kernel over a
    * local relation; unnamed columns are null. */
  private def frame(rows: Seq[Map[String, Any]]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows.zipWithIndex
      .map { case (r, i) =>
        Row.fromSeq(schema.fieldNames.toSeq.map {
          case "id" => i.toLong
          case c => r.getOrElse(c, null)
        })
      }, 2), schema)

  private val rnd = new scala.util.Random(7)
  private def doubles(n: Int) = Seq.fill(n)(rnd.nextDouble() * 2 - 1)
  private val vocab = Vector("spark", "kernel", "loop", "vector", "code", "hash")

  // Each column carries its own edge rows (null, short, empty, null
  // slot, tie); the other rows are random.
  private lazy val main: DataFrame = frame((0 until 40).map { i =>
    Map[String, Any](
      "f" -> (i match {
        case 0 => null
        case 1 => Seq.fill(4)(rnd.nextFloat())
        case 2 => Seq.empty[Float]
        case 3 => Seq(-0.0f, 1.0f, Float.NaN, 0.5f, -2.0f, 3.0f)
        case _ => Seq.fill(dim)(rnd.nextFloat() * 2 - 1)
      }),
      "d" -> (i match {
        case 4 => null
        case 5 => doubles(dim - 1)
        case _ => doubles(dim)
      }),
      "h" -> (i match {
        case 6 => null
        case 7 => Seq.empty[Long]
        case _ => Seq.fill(1 + rnd.nextInt(8))(rnd.nextInt(Int.MaxValue).toLong)
      }),
      "toks" -> (i match {
        case 8 => null
        case 9 => Seq("alone")
        case _ => Seq.fill(2 + rnd.nextInt(6))(vocab(rnd.nextInt(vocab.length)))
      }),
      "codes" -> (i match {
        case 10 => null
        case 11 => Seq[Any](1, null, 2)
        case 13 => Seq(0, 1, 2)
        case _ => Seq.fill(m)(rnd.nextInt(k))
      }),
      "lut" -> (i match {
        case 12 => null
        case 13 => doubles(m * k).updated(1 * k + 1, null)
        case _ => doubles(m * k)
      }),
      "cands" -> (i match {
        case 14 => null
        case 15 => Seq(null, Row(3, doubles(dim)), Row(1, doubles(dim)))
        case 16 => Seq(Row(2, doubles(dim - 2)), Row(0, doubles(dim)))
        case 17 => val c = doubles(dim); Seq(Row(5, c), Row(4, c))
        case _ => Seq.tabulate(3)(c => Row(c, doubles(dim)))
      }),
      "sq" -> (i match {
        case 18 => null
        case 19 => Seq(0, 255, 7)
        case _ => Seq.fill(dim)(rnd.nextInt(256))
      }),
      "x" -> (i match {
        case 20 => null
        case 21 => 0.25
        case _ => rnd.nextDouble() * 4 - 2
      }))
  })

  private val lutM = IndexedSeq.fill(m)(doubles(k).toIndexedSeq)
  private val codebook =
    IndexedSeq.fill(m)(IndexedSeq.fill(k)(doubles(2).toIndexedSeq))
  private val centroids = IndexedSeq.fill(5)(doubles(dim).toIndexedSeq)
  private val planes = IndexedSeq.fill(4)(doubles(dim).toIndexedSeq)
  // dim 1 degenerate (lo == hi), the rest spanning part of [-1, 1] so
  // the encode clamps on both sides
  private val lo = IndexedSeq(-0.5, 0.2, -0.5, -0.8, -0.1, 0.0)
  private val hi = IndexedSeq(0.5, 0.2, 0.9, 0.1, 0.4, 1.0)
  private val step = lo.zip(hi).map { case (l, h) => (h - l) / 255 }

  private def c(name: String): Expression = toExpr(col(name))

  /** A row value with every double as its bits, so -0.0 and 0.0 differ. */
  private def bits(v: Any): Any = v match {
    case d: Double => ("double", java.lang.Double.doubleToLongBits(d))
    case s: scala.collection.Seq[_] => s.map(bits).toList
    case r: Row => r.toSeq.map(bits).toList
    case other => other
  }

  /** `body` under one evaluation mode; the session conf is restored
    * afterwards, since suites share one session. */
  private def inMode[T](codegen: Boolean)(body: => T): T = {
    val conf = Map(
      "spark.sql.codegen.wholeStage" -> codegen.toString,
      "spark.sql.codegen.factoryMode" ->
        (if (codegen) "CODEGEN_ONLY" else "NO_CODEGEN"),
      "spark.sql.codegen.fallback" -> (!codegen).toString)
    val saved = conf.keys.map(key => key -> spark.conf.getAll.get(key))
    conf.foreach { case (key, v) => spark.conf.set(key, v) }
    try body
    finally saved.foreach {
      case (key, Some(v)) => spark.conf.set(key, v)
      case (key, None) => spark.conf.unset(key)
    }
  }

  private def rowsIn(codegen: Boolean, e: Expression): List[Any] =
    inMode(codegen) {
      val out = main.select(col("id"), toCol(e).as("out"))
      val plan = out.queryExecution.executedPlan
      assert(plan.find(_.isInstanceOf[WholeStageCodegenExec]).isDefined == codegen,
        s"whole-stage codegen expected = $codegen:\n$plan")
      out.collect().sortBy(_.getLong(0)).map(bits).toList
    }

  private def rootMessageIn(codegen: Boolean, e: Expression,
      input: Map[String, Any]): String = inMode(codegen) {
    var t: Throwable =
      intercept[Exception](frame(Seq(input)).select(toCol(e)).collect())
    while (t.getCause != null) t = t.getCause
    s"${t.getClass.getName}: ${t.getMessage}"
  }

  /** Equal rows both ways; each `throwing` input fails with the same
    * root cause both ways, naming `sqlName`. */
  private def parity(e: Expression, sqlName: String,
      throwing: Map[String, Any]*): Unit = {
    val gen = rowsIn(codegen = true, e)
    assert(gen.length == 40)
    assert(gen == rowsIn(codegen = false, e))
    throwing.foreach { input =>
      val msg = rootMessageIn(codegen = true, e, input)
      assert(msg.contains(s"$sqlName:"), msg)
      assert(msg == rootMessageIn(codegen = false, e, input))
    }
  }

  test("DotF32: codegen and interpreted agree (float x double, short, null)") {
    parity(DotF32(c("f"), c("d")), "graft_dot")
  }

  test("L2DistF32: codegen and interpreted agree") {
    parity(L2DistF32(c("d"), c("f")), "graft_l2sq")
  }

  test("LshBucketF: codegen and interpreted agree") {
    parity(LshBucketF(c("f"), planes), "graft_lsh_bucket")
  }

  test("MinHashSigF: codegen and interpreted agree (empty -> neutral)") {
    parity(MinHashSigF(c("h"), Seq(3L, 1009L, 65537L), Seq(7L, 11L, 13L),
      2147483647L), "graft_minhash")
  }

  test("ShingleHashF: codegen and interpreted agree (under-k -> empty)") {
    parity(ShingleHashF(c("toks"), 2, 2147483647L), "graft_shingle_hash")
  }

  test("WeightSumF: codegen and interpreted agree") {
    parity(WeightSumF(c("h"), IndexedSeq(5, -3, 11, 0, 7)), "graft_weight_sum")
  }

  test("NearestCentroidF: codegen and interpreted agree") {
    parity(NearestCentroidF(c("f"), centroids), "graft_nearest_centroid")
  }

  test("NearestInArrayF: codegen and interpreted agree; an empty or " +
      "all-null candidate list throws the same message") {
    parity(NearestInArrayF(c("d"), c("cands")), "graft_nearest_in",
      Map("d" -> doubles(dim), "cands" -> Seq.empty[Row]),
      Map("d" -> doubles(dim), "cands" -> Seq(null, null)))
  }

  test("PqAdcF: codegen and interpreted agree; wrong m and a code " +
      "outside [0, k) throw the same message") {
    parity(PqAdcF(c("codes"), lutM), "graft_pq_adc",
      Map("codes" -> Seq(0, 1)),
      Map("codes" -> Seq(0, k, 1)))
  }

  test("PqAdcPairF: codegen and interpreted agree; wrong m, a code " +
      "outside [0, k) and a ragged LUT throw the same message") {
    parity(PqAdcPairF(c("codes"), c("lut"), k), "graft_pq_adc_pair",
      Map("codes" -> Seq(0, 1), "lut" -> doubles(m * k)),
      Map("codes" -> Seq(0, -1, 1), "lut" -> doubles(m * k)),
      Map("codes" -> Seq(0, 1, 2), "lut" -> doubles(m * k - 1)))
  }

  test("PqDecodeF: codegen and interpreted agree; wrong m and a code " +
      "outside [0, k) throw the same message") {
    parity(PqDecodeF(c("codes"), codebook), "graft_pq_decode",
      Map("codes" -> Seq(0, 1, 2, 3)),
      Map("codes" -> Seq(k + 3, 1, 2)))
  }

  test("SqEncodeF: codegen and interpreted agree (clamps, degenerate dim, NaN)") {
    parity(SqEncodeF(c("f"), lo, hi, 256), "graft_sq_encode")
  }

  test("SqDecodeF: codegen and interpreted agree") {
    parity(SqDecodeF(c("sq"), lo, step), "graft_sq_decode")
  }

  test("SqAdcF: codegen and interpreted agree") {
    parity(SqAdcF(c("sq"), lo, step, doubles(dim).toIndexedSeq), "graft_sq_adc")
  }

  test("BucketIdF: codegen and interpreted agree (boundary hit, null)") {
    parity(BucketIdF(c("x"), IndexedSeq(-1.0, 0.25, 0.25, 1.5)), "graft_bucket_id")
  }
}
