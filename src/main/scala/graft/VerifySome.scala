package graft

import java.nio.file.{Files, Paths}

/** Dev tool: dump a subset of queries + their oracle SQL for
  * scripts/check.py. runMain graft.VerifySome <sfDir> <outDir> <q1,q2,...>
  */
object VerifySome {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, list) = args.take(3)
    val names = list.split(",").toSeq
    val spark = DevSession.builder(8).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      SparkEntry.queries(name)(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
    }
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => names.contains(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
