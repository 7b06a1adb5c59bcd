package graft

import org.apache.spark.sql.SparkSession

/** Dev tool: print the formatted physical plan of one or more corpus
  * queries. Usage:
  *   runMain graft.Explain <sfDir> <queryName> [queryName...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val names = args.tail.toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SessionTuning(SparkSession.builder())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.lake.sql.LakeSqlExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { name =>
      println(s"========== $name ==========")
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        println(df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      } finally graft.queries.QueryCaches.clear() // query-builder persists
    }
    spark.stop()
  }
}
