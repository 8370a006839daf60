package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Cumulative process-wide counters read at span boundaries. */
object JvmCounters {
  private val compilation = ManagementFactory.getCompilationMXBean
  private val collectors = ManagementFactory.getGarbageCollectorMXBeans.asScala

  def jitMs: Long = compilation.getTotalCompilationTime
  def gcMs: Long = collectors.map(_.getCollectionTime.max(0L)).sum
  def codegenNs: Long =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime
  def codegenClasses: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}

/** Live heap readings taken by [[sample]] at cycle boundaries: the heap
  * in use after a full collection, so a reading is the live set rather
  * than whatever a young collection happened to leave. */
final class HeapWatch {
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData
  import com.sun.management.GarbageCollectionNotificationInfo

  @volatile private var armed = false
  @volatile private var recording = false
  private val readings = ArrayBuffer[Long]()
  @volatile private var samples = 0

  private val listener = new NotificationListener {
    override def handleNotification(n: Notification, hb: Any): Unit =
      if (armed && n.getType ==
          GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[CompositeData])
        if (recording && info.getGcCause == "System.gc()") {
        val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
          .filter(_.getType == java.lang.management.MemoryType.HEAP)
          .map(_.getName).toSet
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        synchronized {
          samples += 1
          readings += used
        }
        }
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }

  def arm(): Unit = synchronized { readings.clear(); samples = 0; armed = true }
  def disarm(): Unit = armed = false
  /** Forces two full collections and records the second: the first lets
    * Spark's context cleaner release what became unreachable, so the
    * reading does not depend on when the cleaner last ran. */
  def sample(): Unit = {
    recording = false
    System.gc()
    Thread.sleep(300)
    recording = true
    val before = sampleCount
    System.gc()
    val deadline = System.nanoTime() + 2000000000L
    while (sampleCount == before && System.nanoTime() < deadline)
      Thread.sleep(5)
    recording = false
  }
  private def sampleCount: Int = synchronized { samples }
  def readingsMb: Seq[Double] =
    synchronized { readings.toList }.map(_ / (1024.0 * 1024.0))
}

/** One timed region on the client thread. Counters hold inclusive deltas
  * once the span has ended. */
final class Span(val id: Int, val name: String, val parent: Int,
    val opId: Int, val startMs: Long, val startNs: Long) {
  var endMs = 0L
  var endNs = 0L
  var ok = true
  private val c0 = Array(JvmCounters.jitMs, JvmCounters.gcMs,
    JvmCounters.codegenNs, JvmCounters.codegenClasses)
  val incl = new Array[Long](4)
  def close(success: Boolean): Unit = {
    endNs = System.nanoTime()
    endMs = System.currentTimeMillis()
    ok = success
    val c1 = Array(JvmCounters.jitMs, JvmCounters.gcMs,
      JvmCounters.codegenNs, JvmCounters.codegenClasses)
    for (i <- 0 until 4) incl(i) = c1(i) - c0(i)
  }
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spark-side counters attributed to one span (innermost at job start). */
final class ExecAcc {
  var jobs, stages, tasks = 0L
  var cpuNs, gcMs, shuffleBytes, spillBytes, outBytes, outRecords = 0L
}

/** The traced-run instrumentation: explicit spans on the client thread,
  * a Spark listener attributing jobs, stages and task metrics to spans by
  * a local property, a query-execution listener for Catalyst phase
  * times and written files, and a stack sampler that times selected
  * library methods called inside un-decomposed public functions. Nothing
  * inside the program under test is modified. */
final class Tracer(spark: SparkSession,
    sampled: Seq[(String, String, String)]) {
  private val sc = spark.sparkContext
  private val PropKey = "perfbench.span"
  private val client = Thread.currentThread()

  val spans = ArrayBuffer[Span]()
  private val stack = ArrayBuffer[Span]()
  @volatile private var active = false

  private val lock = new Object
  private val stageSpan = mutable.Map[Int, Int]()
  private val acc = mutable.Map[Int, ExecAcc]()
  private val stageIntervals = ArrayBuffer[(Long, Long)]()
  private val phaseRecs = ArrayBuffer[(String, Long, Long)]()
  private val writeRecs = ArrayBuffer[(Long, Long)]() // (atMs, files)

  private def accOf(span: Int): ExecAcc = acc.getOrElseUpdate(span, new ExecAcc)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p =>
        Option(p.getProperty(PropKey))).map(_.toInt).getOrElse(-1)
      if (span >= 0) lock.synchronized {
        accOf(span).jobs += 1
        e.stageIds.foreach(s => stageSpan(s) = span)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      lock.synchronized {
        stageSpan.get(e.stageInfo.stageId).foreach { span =>
          accOf(span).stages += 1
          for (a <- e.stageInfo.submissionTime; b <- e.stageInfo.completionTime)
            stageIntervals += ((a, b))
        }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      stageSpan.get(e.stageId).foreach { span =>
        val a = accOf(span)
        a.tasks += 1
        val m = e.taskMetrics
        if (m != null) {
          a.cpuNs += m.executorCpuTime
          a.gcMs += m.jvmGCTime
          a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          a.outBytes += m.outputMetrics.bytesWritten
          a.outRecords += m.outputMetrics.recordsWritten
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases
      var files = 0L
      try qe.executedPlan.foreach { p =>
        p.metrics.get("numFiles").foreach(m => files += m.value)
      } catch { case scala.util.control.NonFatal(_) => }
      lock.synchronized {
        phases.foreach { case (name, s) =>
          phaseRecs += ((name, s.startTimeMs, s.endTimeMs))
        }
        if (files > 0) {
          val at = phases.values.map(_.endTimeMs).foldLeft(0L)(math.max)
          writeRecs += ((at, files))
        }
      }
    }
  }

  sc.addSparkListener(sparkListener)
  spark.listenerManager.register(qeListener)

  // ---- stack sampler -----------------------------------------------------
  private val sampledMs = mutable.Map[(Int, String), Double]()
  private val sampler = new Thread("perfbench-sampler") {
    setDaemon(true)
    override def run(): Unit = {
      var last = System.nanoTime()
      while (!isInterrupted) {
        try Thread.sleep(2) catch { case _: InterruptedException => return }
        val now = System.nanoTime()
        val dt = (now - last) / 1e6
        last = now
        val op = currentOp
        if (active && op >= 0 && sampled.nonEmpty) {
          val frames = client.getStackTrace
          sampled.foreach { case (metric, cls, method) =>
            if (frames.exists(f => f.getClassName == cls &&
                f.getMethodName == method)) lock.synchronized {
              sampledMs((op, metric)) = sampledMs.getOrElse((op, metric), 0.0) + dt
            }
          }
        }
      }
    }
  }
  @volatile private var currentOp = -1

  def start(): Unit = {
    active = true
    sampler.start()
  }
  def stop(): Unit = {
    active = false
    sampler.interrupt()
    sampler.join(1000)
    org.apache.spark.PerfbenchBridge.drainListenerBus(sc)
  }
  def isActive: Boolean = active

  /** Runs `body` inside a span; nested calls become children. */
  def within[A](name: String, opId: Int)(body: => A): A = {
    val parent = stack.lastOption.map(_.id).getOrElse(-1)
    val s = new Span(spans.length, name, parent, opId,
      System.currentTimeMillis(), System.nanoTime())
    spans += s
    stack += s
    if (parent < 0) currentOp = opId
    sc.setLocalProperty(PropKey, s.id.toString)
    var ok = false
    try { val r = body; ok = true; r }
    finally {
      s.close(ok)
      stack.remove(stack.length - 1)
      sc.setLocalProperty(PropKey, stack.lastOption.map(_.id.toString).orNull)
      if (parent < 0) currentOp = -1
    }
  }

  // ---- report ------------------------------------------------------------
  private def union(iv: Seq[(Long, Long)]): Seq[(Long, Long)] = {
    val out = ArrayBuffer[(Long, Long)]()
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (a, b) =>
      if (out.nonEmpty && a <= out.last._2)
        out(out.length - 1) = (out.last._1, math.max(out.last._2, b))
      else out += ((a, b))
    }
    out.toSeq
  }
  private def overlap(a: Seq[(Long, Long)], b: Seq[(Long, Long)]): Long = {
    var i = 0; var j = 0; var tot = 0L
    while (i < a.length && j < b.length) {
      val lo = math.max(a(i)._1, b(j)._1)
      val hi = math.min(a(i)._2, b(j)._2)
      if (hi > lo) tot += hi - lo
      if (a(i)._2 < b(j)._2) i += 1 else j += 1
    }
    tot
  }
  private def p50(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2)
      else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }

  /** Per-span statistics and the Spark/JVM layer totals of the traced
    * interval. */
  def report(): (Map[String, Any], Map[String, Double]) = lock.synchronized {
    val children = spans.groupBy(_.parent)
    def selfMs(s: Span): Double =
      s.ms - children.getOrElse(s.id, Nil).map(_.ms).sum
    val byName = spans.groupBy(_.name).map { case (name, ss) =>
      val selfs = ss.map(selfMs).toSeq
      name -> Map(
        "count" -> ss.length,
        "failures" -> ss.count(!_.ok),
        "top" -> ss.exists(_.parent < 0),
        "self_p50_ms" -> p50(selfs),
        "self_total_ms" -> selfs.sum,
        "incl_p50_ms" -> p50(ss.map(_.ms).toSeq),
        "incl_total_ms" -> ss.map(_.ms).sum)
    }
    val sampledByName = sampledMs.groupBy(_._1._2).map { case (metric, m) =>
      val per = m.values.toSeq
      metric -> Map("count" -> per.length, "failures" -> 0, "top" -> false,
        "self_p50_ms" -> p50(per), "self_total_ms" -> per.sum,
        "incl_p50_ms" -> p50(per), "incl_total_ms" -> per.sum,
        "sampled" -> true)
    }
    val ops = spans.filter(_.parent < 0)
    val opIv = union(ops.map(s => (s.startMs, s.endMs)).toSeq)
    val opWall = opIv.map(x => x._2 - x._1).sum.toDouble
    val stageIv = union(stageIntervals.toSeq)
    val stageCovered = overlap(opIv, stageIv).toDouble
    val phaseIv = union(phaseRecs.map(p => (p._2, p._3)).toSeq)
    val covered = overlap(opIv, union(stageIv ++ phaseIv)).toDouble
    def inOps(t: Long) = opIv.exists { case (a, b) => t >= a && t <= b }
    val phaseSum = (n: String) => phaseRecs
      .filter(p => p._1 == n && inOps(p._2)).map(p => (p._3 - p._2).toDouble).sum
    val tot = acc.values.foldLeft(new ExecAcc) { (t, a) =>
      t.jobs += a.jobs; t.stages += a.stages; t.tasks += a.tasks
      t.cpuNs += a.cpuNs; t.gcMs += a.gcMs
      t.shuffleBytes += a.shuffleBytes; t.spillBytes += a.spillBytes
      t.outBytes += a.outBytes; t.outRecords += a.outRecords
      t
    }
    val writes = writeRecs.filter(w => inOps(w._1))
    val topIncl = (i: Int) => ops.map(_.incl(i)).sum.toDouble
    val layers = Map(
      "catalyst.analysis_ms" -> phaseSum("analysis"),
      "catalyst.optimization_ms" -> phaseSum("optimization"),
      "catalyst.planning_ms" -> phaseSum("planning"),
      "codegen.compile_ms" -> topIncl(2) / 1e6,
      "codegen.classes" -> topIncl(3),
      "exec.jobs" -> tot.jobs.toDouble,
      "exec.stages" -> tot.stages.toDouble,
      "exec.tasks" -> tot.tasks.toDouble,
      "exec.stage_wall_ms" -> stageCovered,
      "exec.driver_gap_ms" -> (opWall - stageCovered),
      "exec.task_cpu_ms" -> tot.cpuNs / 1e6,
      "exec.task_gc_ms" -> tot.gcMs.toDouble,
      "exec.shuffle_bytes" -> tot.shuffleBytes.toDouble,
      "exec.spill_bytes" -> tot.spillBytes.toDouble,
      "exec.records_written" -> tot.outRecords.toDouble,
      "io.output_bytes" -> tot.outBytes.toDouble,
      "io.files_written" -> writes.map(_._2).sum.toDouble,
      "jvm.jit_ms" -> topIncl(0),
      "jvm.gc_ms" -> topIncl(1),
      "trace.op_wall_ms" -> opWall,
      "trace.attributed_share" -> (if (opWall > 0) covered / opWall else 0.0))
    val perSpanExec = spans.groupBy(_.name).map { case (name, ss) =>
      val as = ss.flatMap(s => acc.get(s.id))
      name -> Map(
        "jobs" -> as.map(_.jobs).sum, "stages" -> as.map(_.stages).sum,
        "tasks" -> as.map(_.tasks).sum,
        "task_cpu_ms" -> as.map(_.cpuNs).sum / 1e6)
    }
    val spanList = spans.map(s => Map("id" -> s.id, "name" -> s.name,
      "parent" -> s.parent, "op" -> s.opId, "start_ms" -> s.startMs,
      "end_ms" -> s.endMs, "ok" -> s.ok))
    (Map("spans" -> (byName ++ sampledByName), "span_exec" -> perSpanExec,
      "span_list" -> spanList), layers)
  }
}
