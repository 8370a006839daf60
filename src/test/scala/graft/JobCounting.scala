package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs a block starts. */
trait JobCounting { self: SparkTestBase =>

  /** Spark jobs started while `body` runs. Listener delivery is async
    * but ordered, so a marker job run after `body` bounds the count: every
    * job counted before the marker's start event was started by `body`. */
  def jobsOf[A](body: => A): Int = {
    val marker = "graft.test.marker"
    val (jobs, done) = (new AtomicInteger(0), new AtomicInteger(0))
    val listener = new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit =
        if (Option(s.properties).exists(_.getProperty(marker) != null)) done.set(1)
        else if (done.get() == 0) jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      spark.sparkContext.setLocalProperty(marker, "1")
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setLocalProperty(marker, null)
      val deadline = System.nanoTime() + 10000000000L
      while (done.get() == 0 && System.nanoTime() < deadline) Thread.sleep(10)
      assert(done.get() == 1, "marker job never reached the listener")
      jobs.get()
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
