package graft

/** Optimization-round evidence dump: write `.explain("formatted")` for
  * named queries to plans/<tag>/<query>_<suffix>.txt so before/after
  * plan claims are checkable without running Spark. Not part of the
  * driver contract. Run:
  *   sbt "runMain graft.PlanDump /root/testdata/sf0.01 r10 before q_x q_y"
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir  = args(0)
    val tag    = args(1)
    val suffix = args(2)
    val names  = args.drop(3)
    val spark = GraftSession.local(8, "ERROR")
    val dir = java.nio.file.Paths.get("plans", tag)
    java.nio.file.Files.createDirectories(dir)
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      // Execute THIS DataFrame's queryExecution (collect, not a write —
      // a write would build a separate queryExecution) so the formatted
      // dump is AQE's FINAL plan (isFinalPlan=true), where runtime
      // exchange/stage reuse is visible.
      df.collect()
      val txt =
        df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      java.nio.file.Files.write(dir.resolve(s"${name}_$suffix.txt"),
        txt.getBytes("UTF-8"))
      println(s"dumped $name -> plans/$tag/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
