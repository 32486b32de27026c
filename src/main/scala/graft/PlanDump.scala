package graft

/** Dev tool: write `.explain("formatted")` of declared queries to files
  * (the plans/r{N}/ evidence the optimization rounds commit).
  * runMain graft.PlanDump <outDir> <suffix> q1,q2,... [sfDir]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names = args(2).split(',').toSeq
    val dir = args.lift(3).getOrElse("/root/testdata/sf0.1")
    val spark = DevSession.builder(32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { n =>
      val df = SparkEntry.queries(n)(spark, dir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$outDir/${n}_$suffix.txt"),
        plan.getBytes("UTF-8"))
      println(s"[plan] $outDir/${n}_$suffix.txt (${plan.length} chars)")
    }
    spark.stop()
  }
}
