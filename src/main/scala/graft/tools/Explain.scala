package graft.tools

import org.apache.spark.sql.SparkSession
import graft.SparkEntry

/** Plan auditor: prints the formatted physical plan for the named queries
  * (or all) so pushdown / broadcast / codegen coverage can be reviewed.
  * The session carries [[graft.functions.GraftExtensions]], so the plans
  * are those of a session that installs the engine's rules.
  * Usage: runMain graft.tools.Explain <sfDir> [query ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val names = if (args.length > 1) args.drop(1).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n===================== $n =====================")
      try {
        val df = SparkEntry.queries(n)(spark, sfDir)
        println(df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      } catch { case e: Throwable => println(s"ERROR: ${e.getMessage}") }
    }
    spark.stop()
  }
}
