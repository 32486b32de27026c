package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Watermarks
import graft.sources.MergeWriter

class WatermarksSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def ts(s: String) = Timestamp.valueOf(s)

  test("advance is monotonic: a replayed stale batch cannot regress the mark") {
    import spark.implicits._
    val path = Files.createTempDirectory("wm").toString + "/checkpoints"
    val b1 = Seq(("ds1", ts("2024-01-10 00:00:00")), ("ds2", ts("2024-01-12 00:00:00")))
      .toDF("ds", "updated")
    Watermarks.advance(spark, path, b1, col("ds"), col("updated"))
    val b2 = Seq(("ds1", ts("2024-01-20 00:00:00"))).toDF("ds", "updated")
    Watermarks.advance(spark, path, b2, col("ds"), col("updated"))
    // replay batch 1 (stale for ds1, equal for ds2)
    Watermarks.advance(spark, path, b1, col("ds"), col("updated"))
    val marks = Watermarks.currentMarks(spark, path).collect()
      .map(r => r.getString(0) -> r.getTimestamp(1)).toMap
    assert(marks == Map("ds1" -> ts("2024-01-20 00:00:00"),
      "ds2" -> ts("2024-01-12 00:00:00")))
  }

  test("advance merges only moved marks: a stale replay commits nothing; " +
       "string, timestamp and timestamp_ntz marks fold monotonically") {
    import spark.implicits._
    val root = Files.createTempDirectory("wmfold").toString
    Seq("string", "timestamp", "timestamp_ntz").foreach { t =>
      val path = s"$root/$t"
      def advance(marks: (String, String)*): Unit =
        Watermarks.advance(spark, path, marks.toDF("ds", "u")
          .select(col("ds"), col("u").cast(t).as("updated")),
          col("ds"), col("updated"))
      def marks(): Map[String, String] = Watermarks.currentMarks(spark, path)
        .select(col("datasource_id"), col("next_run_start_from").cast("string"))
        .as[(String, String)].collect().toMap
      def versions() = MergeWriter.availableVersions(spark, path)
      advance("a" -> "2024-01-10 00:00:00", "b" -> "2024-01-12 00:00:00")
      val v1 = versions()
      // a stale replay (a older, b equal) and an empty batch move no mark
      advance("a" -> "2024-01-09 00:00:00", "b" -> "2024-01-12 00:00:00")
      advance()
      assert(versions() == v1, s"$t: a batch that moved no mark committed")
      // one mark moves, one is stale, one datasource is new: one commit
      advance("a" -> "2024-01-20 00:00:00", "b" -> "2024-01-11 00:00:00",
        "c" -> "2024-01-01 00:00:00")
      assert(versions().last == v1.last + 1, s"$t: ${versions()} after $v1")
      assert(marks() == Map("a" -> "2024-01-20 00:00:00",
        "b" -> "2024-01-12 00:00:00", "c" -> "2024-01-01 00:00:00"), t)
      assert(Watermarks.currentMarks(spark, path)
        .schema("next_run_start_from").dataType.typeName == t)
    }
  }

  test("incremental passes only rows after each datasource's mark") {
    import spark.implicits._
    val path = Files.createTempDirectory("wm2").toString + "/checkpoints"
    val b1 = Seq(("ds1", ts("2024-01-10 00:00:00"))).toDF("ds", "updated")
    Watermarks.advance(spark, path, b1, col("ds"), col("updated"))
    val all = Seq(
      ("ds1", ts("2024-01-09 00:00:00"), 1), // before mark: filtered
      ("ds1", ts("2024-01-10 00:00:00"), 2), // at mark: filtered (strict >)
      ("ds1", ts("2024-01-11 00:00:00"), 3), // after mark: kept
      ("dsNEW", ts("2024-01-01 00:00:00"), 4) // no mark (first run): kept
    ).toDF("ds", "updated", "id")
    val out = Watermarks.incremental(all, col("ds"), col("updated"),
      Watermarks.currentMarks(spark, path)).select("id").as[Int].collect().toSet
    assert(out == Set(3, 4))
  }
}
