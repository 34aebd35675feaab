package graft
object ReuseCheck {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local("8")
    spark.sparkContext.setLogLevel("ERROR")
    // Data dir from args(1), falling back to the env var and then the
    // sf0.1 fixture (ADVICE r21 #3 — match TimeQ/Explain's convention).
    val sfDir = args.lift(1).getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val df = SparkEntry.queries(args(0))(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    println("==== FINAL ====")
    println(p.toString.linesIterator.filter(l =>
      l.contains("Stage") || l.contains("Reused") || l.contains("Scan parquet")
        || l.contains("Aggregate") || l.contains("Exchange")).mkString("\n"))
    spark.stop()
  }
}
