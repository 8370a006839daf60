package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One timed user call. `phase` is warmup, measure or traced. */
final case class OpRec(kind: String, name: String, ms: Double, ok: Boolean,
    rows: Long, error: String, phase: String)

/** Issues the workload's calls from the single client thread, times each
  * one from outside, and checks its output after the clock has stopped. */
final class Runner(val spark: SparkSession, tracer: Option[Tracer]) {
  val ops = ArrayBuffer[OpRec]()
  var phase = "warmup"
  private var nextOp = 0
  private var currentOp = -1
  /** Extra ratios a workload contributes to the per-layer report. */
  val counters = mutable.Map[String, Double]().withDefaultValue(0.0)

  def isTracing: Boolean = tracer.exists(_.isActive)

  /** Times `body` as one operation of kind `read` or `write`; `check`
    * returns the mismatches found in its result (empty when correct).
    * `rows` is the number of rows the call ingests. */
  def op[A](kind: String, name: String, rows: Long = 0L)(body: => A)(
      check: A => Seq[String]): Option[A] = {
    val id = nextOp
    nextOp += 1
    currentOp = id
    val t0 = System.nanoTime()
    val res =
      try Right(if (isTracing) tracer.get.within(name, id)(body) else body)
      catch { case NonFatal(e) => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    currentOp = -1
    res match {
      case Right(v) =>
        val errs = try check(v) catch {
          case NonFatal(e) => Seq(s"check raised $e")
        }
        ops += OpRec(kind, name, ms, errs.isEmpty, rows,
          errs.headOption.getOrElse(""), phase)
        if (errs.nonEmpty) System.err.println(s"[perfbench] $name: ${errs.head}")
        Some(v)
      case Left(e) =>
        ops += OpRec(kind, name, ms, ok = false, rows, e.toString, phase)
        System.err.println(s"[perfbench] $name failed: $e")
        None
    }
  }

  /** A child span of the current operation (traced runs only). */
  def span[A](name: String)(body: => A): A =
    if (isTracing) tracer.get.within(name, currentOp)(body) else body
}

/** A closed-loop workload: `build` creates its state from the seed under
  * a fresh directory, `cycle` issues one fixed-composition round of calls
  * (parameters and order drawn from the seed), `finish` checks the end
  * state and reports its size. */
trait Workload {
  /** How many times setup is repeated; setup time is their median. */
  def builds: Int
  /** Nominal length of one cycle: a run measures
    * ceil(seconds / cycleSeconds) cycles, so every run of a workload
    * measures the same call mix whatever the machine's speed. */
  def cycleSeconds: Double
  def build(dir: String, idx: Int): Unit
  def warmup(r: Runner): Unit
  def cycle(r: Runner, idx: Int): Unit
  def finish(r: Runner): Map[String, Any]
  /** (metric, class, method) triples timed by stack sampling. */
  def sampled: Seq[(String, String, String)] = Nil
}

object Main {
  private def argMap(args: Array[String]): Map[String, String] =
    args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap

  def session(cpus: Int, state: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.default.parallelism", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$state/spark-local")
      .config("spark.sql.warehouse.dir", s"$state/warehouse")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Drops SQL caches and persisted RDD blocks between measured phases. */
  def clearCaches(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
  }

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  def writeJson(path: String, value: Any): Unit =
    mapper.writeValue(new java.io.File(path), value)

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def main(args: Array[String]): Unit = {
    val a = argMap(args)
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a.get("trace").contains("1")
    val state = a("state")
    val out = a.getOrElse("out", "")
    val cpus = a.get("cpus").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(cpus, state)
    a.get("generate").foreach { dir =>
      Analytics.generate(spark, dir)
      spark.stop()
      return
    }
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val heap = new HeapWatch

    val wl: Workload = workload match {
      case "md_session" => new MdSession(spark, seed)
      case "analytics_sf01" =>
        new Analytics(spark, seed, a("data"), a.get("hashes"))
      case "curation_index" => new Curation(spark, seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val tracer = if (trace) Some(new Tracer(spark, wl.sampled)) else None
    val runner = new Runner(spark, tracer)

    def timed(body: => Unit): Double = {
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }
    val buildS = (0 until wl.builds).map(i => timed(wl.build(s"$state/build$i", i)))
    (wl, a.get("record")) match {
      case (an: Analytics, Some(out)) =>
        an.record(out)
        spark.stop()
        return
      case _ =>
    }
    val warmS = timed(wl.warmup(runner))

    def measure(phase: String): (Int, Double) = {
      clearCaches(spark)
      runner.phase = phase
      val cycles = math.max(1, math.ceil(seconds / wl.cycleSeconds).toInt)
      val t0 = System.nanoTime()
      var gcS = 0.0
      def elapsed = (System.nanoTime() - t0) / 1e9 - gcS
      for (c <- 0 until cycles) {
        wl.cycle(runner, c)
        // post-GC heap after every cycle, outside the measured time
        val g0 = System.nanoTime()
        heap.sample()
        gcS += (System.nanoTime() - g0) / 1e9
      }
      (cycles, elapsed)
    }
    heap.arm()
    val (jit0, gc0) = (JvmCounters.jitMs, JvmCounters.gcMs)
    val (cycles, measureS) = measure("measure")
    val jvm = Map("jit_ms" -> (JvmCounters.jitMs - jit0),
      "gc_ms" -> (JvmCounters.gcMs - gc0),
      "load_avg" -> ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage)
    heap.disarm()
    // traced runs measure the same cycles again with tracing on; the
    // tracing overhead is the drop from the untraced phase before it
    val traced = tracer.map { t =>
      t.start()
      val (c, s) = measure("traced")
      t.stop()
      val (spans, layers) = t.report()
      Map("cycles" -> c, "seconds" -> s, "spans" -> spans,
        "layers" -> layers)
    }
    runner.phase = "final"
    val end = wl.finish(runner)

    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "cpus" -> cpus,
      "session_s" -> sessionS, "build_s" -> buildS, "warmup_s" -> warmS,
      "setup_s" -> (sessionS + median(buildS) + warmS),
      "measure_s" -> measureS, "cycles" -> cycles,
      "heap_readings_mb" -> heap.readingsMb, "measure_jvm" -> jvm,
      "end" -> end,
      "counters" -> runner.counters.toMap,
      "ops" -> runner.ops.map(o => Map("kind" -> o.kind, "name" -> o.name,
        "ms" -> o.ms, "ok" -> o.ok, "rows" -> o.rows, "error" -> o.error,
        "phase" -> o.phase)))
    traced.foreach(t => result("trace") = t)
    writeJson(out, result)
    spark.stop()
  }
}
