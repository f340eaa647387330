package graft

/** Dev utility: dump formatted physical plans for plan audits
  * (pushdown, broadcast, codegen spans) under the session and row loop
  * the suite runs. Usage: runMain graft.Explain [keys...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = Harness.session(Harness.cpus)
    val rows = if (args.isEmpty) SparkEntry.queries
      else args.map(k => k -> SparkEntry.queries(k)).toMap
    Harness.run(spark, dir, rows, Harness.flipsHeavyRows(spark, dir)) { (k, df) =>
      println(s"\n=================== $k ===================")
      println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
