package etlbench

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.RevisionPipeline

class GeneratorSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val spec = Generator.Spec(baseItems = 300, drops = 4,
    dropUpdates = 40, dropArrivals = 10, redelivered = 15)

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val dirs = scala.collection.mutable.ArrayBuffer[File]()

  override def afterAll(): Unit = {
    spark.stop()
    dirs.foreach(d => org.apache.commons.io.FileUtils.deleteDirectory(d))
  }

  private def generate(seed: Long): (File, Generator.Written) = {
    val dir = Files.createTempDirectory("etlbench-gen").toFile
    dirs += dir
    (dir, Generator.write(seed, spec, dir))
  }

  /** Relative path → bytes of every file under `root`. */
  private def contents(root: File): Map[String, Seq[Byte]] = {
    val base = root.toPath
    Files.walk(base).filter(Files.isRegularFile(_)).toArray.toSeq
      .map(_.asInstanceOf[java.nio.file.Path])
      .map(p => base.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap
  }

  test("the same seed writes byte-identical drops") {
    val (a, wa) = generate(7)
    val (b, _) = generate(7)
    assert(wa.base.lines == 300 && wa.drops.size == 4)
    val ca = contents(a)
    assert(ca.nonEmpty)
    assert(ca == contents(b))
  }

  test("another seed writes different drops") {
    assert(contents(generate(7)._1) != contents(generate(8)._1))
  }

  test("every generated item parses and survives the changelog explode") {
    val (_, w) = generate(11)
    val dirs = (w.base +: w.drops).map(_.path)
    val docs = Etl.documents(spark, dirs)
    val keys = docs.select("key").distinct()
    assert(docs.filter(col("key").isNull || col("fields.updated").isNull ||
      col("changelog").isNull).count() == 0, "a document failed to parse")
    val revs = RevisionPipeline.explodeChangelog(docs)
    val missing = keys.join(revs.select(col("workItemId").as("key")).distinct(),
      Seq("key"), "left_anti")
    assert(missing.count() == 0, "items without revisions: " +
      missing.limit(5).collect().mkString(", "))
    assert(keys.count() == 300 + 4 * spec.dropArrivals)
  }
}
