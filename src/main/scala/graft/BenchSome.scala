package graft

/** Dev tool: time a subset of queries in a fresh JVM.
  * runMain graft.BenchSome <sfDir> <q1,q2,...>
  */
object BenchSome {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.lift(1).map(_.split(",").toSeq)
      .getOrElse(SparkEntry.queries.keys.toSeq.sorted)
    val spark = DevSession.builder(32).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { name =>
      val t0 = System.nanoTime()
      // noop sink: full-column materialization (see Bench — count() lets
      // Catalyst skip the projected work entirely on some query shapes)
      SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      println(f"[bench] $name: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    spark.stop()
  }
}
