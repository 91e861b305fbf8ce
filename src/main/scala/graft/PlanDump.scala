package graft

/** Dev tool (optimization rounds): dump `.explain("formatted")` for named
  * registered queries to text files — the committed plan evidence under
  * `plans/rNN/`. Usage:
  *
  *   runMain graft.PlanDump <outDir> <suffix> q23_minhash_lsh,q102_...
  *
  * writes `<outDir>/<query>_<suffix>.txt` for each name. Lifecycle
  * queries run their in-query index builds while the DataFrame is
  * constructed (those are imperative actions inside the query fn); the
  * dumped plan is the final oracle-visible read, which is where the
  * plan-shape claims (pruning, join strategy, Exchange count) live.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names = args(2).split(",").toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    System.setProperty("graft.sf.dir", sfDir)
    val spark = SparkEntry.localSession(SparkEntry.cpus)
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      val df = fn(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val w = new java.io.PrintWriter(s"$outDir/${name}_$suffix.txt", "UTF-8")
      try w.println(txt) finally w.close()
      spark.catalog.clearCache()
      println(s"[plandump] wrote $outDir/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
