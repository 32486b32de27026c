package graft

import java.io.{File, PrintWriter}

/** Dev tool: dump formatted physical plans for the registered queries so
  * scan pushdown / broadcast / codegen coverage can be reviewed.
  * Usage: runMain graft.Plans [sfDir] [outFile] [q1,q2,...]
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val out = args.lift(1).getOrElse("/tmp/plans.txt")
    val only = args.lift(2).map(_.split(",").toSet)
    val spark = DevSession.builder(8).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val pw = new PrintWriter(new File(out))
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (only.forall(_.contains(name))) {
        pw.println(s"==== $name ====")
        try pw.println(fn(spark, dir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
        catch { case e: Throwable => pw.println(s"ERROR: ${e.getMessage}") }
        pw.println()
      }
    }
    pw.close()
    println(s"[plans] written to $out")
    spark.stop()
  }
}
