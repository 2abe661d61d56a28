package graft

/** Plan-audit main: prints the formatted physical plan for the given
  * query names (all benchQueries if none given) so scan pruning,
  * pushed filters, broadcast joins, and codegen spans can be reviewed.
  *
  *   sbt "runMain graft.Explain q1_agg q5_region_revenue"
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = Sessions.local()
    val names =
      if (args.nonEmpty) SparkEntry.select(SparkEntry.queries.keys.toSeq, args.mkString(","))
      else SparkEntry.benchQueries
    names.foreach { n =>
      println(s"\n========== $n ==========")
      println(SparkEntry.queries(n)(spark, sfDir)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
