package graft
object TimeQ {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = DevSession.builder(32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    args.foreach { name =>
      val t0 = System.nanoTime()
      val n = SparkEntry.queries(name)(spark, sfDir).count()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"TIMING $name rows=$n sec=$sec%.1f")
    }
    spark.stop()
  }
}
