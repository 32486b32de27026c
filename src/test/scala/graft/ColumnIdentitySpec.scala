package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.MergeWriter

/** Stable column identity (parquet field ids — `Manifest.colIds`):
  * RENAME/DROP COLUMN as metadata-only commits, over immutable files
  * that keep their old names. Covers the DataFrame surface, the SQL
  * catalog (`ALTER TABLE ... RENAME/DROP COLUMN`), stats-key migration
  * (pruning keeps working on the renamed column), no-resurrection on
  * re-add, change feeds spanning a rename, compaction, and the refusal
  * of manifests below the protocol floor (no field ids, no schema) until
  * `upgrade` rewrites them.
  */
class ColumnIdentitySpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val wh = Files.createTempDirectory("cid-wh").toString

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.catalog.gcid",
      classOf[graft.sources.GraftCatalog].getName)
    .config("spark.sql.catalog.gcid.warehouse", wh)
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString + "/t"

  test("rename is metadata-only: values read under the new name") {
    import spark.implicits._
    val dir = tmp("cid-rn")
    MergeWriter.merge(spark, dir,
      (0L until 100L).map(i => (i, i * 2, s"s$i")).toDF("id", "v", "s"),
      Seq("id"), buckets = 2)
    val epochsBefore = MergeWriter.readTable(spark, dir).inputFiles.toSet
    MergeWriter.renameColumn(spark, dir, "v", "velocity")
    // no data file moved
    assert(MergeWriter.readTable(spark, dir).inputFiles.toSet ==
      epochsBefore, "rename must not rewrite any data file")
    val out = MergeWriter.readTable(spark, dir)
    assert(out.columns.toSeq == Seq("id", "velocity", "s"))
    // the public surface carries no field-id metadata
    assert(!out.schema.fields.exists(
      _.metadata.contains("parquet.field.id")))
    assert(out.where(col("id") === 7).collect().head.getLong(1) == 14L)
    // a filter over the renamed column returns exactly the right rows
    assert(out.where(col("velocity") >= 180L).count() == 10)
    // time travel BEFORE the rename serves the old name
    val v1 = MergeWriter.availableVersions(spark, dir).head
    assert(MergeWriter.readTableVersion(spark, dir, v1)
      .columns.toSeq == Seq("id", "v", "s"))
    // later merges keep working (write under the new name)
    MergeWriter.merge(spark, dir,
      Seq((1000L, -5L, "x")).toDF("id", "velocity", "s"), Seq("id"))
    assert(MergeWriter.readTable(spark, dir)
      .where(col("id") === 1000).collect().head.getLong(1) == -5L)
    // ... and the pre-rename rows still read through the merged state
    assert(MergeWriter.readTable(spark, dir)
      .where(col("id") === 7).collect().head.getLong(1) == 14L)
  }

  test("stats keys follow the rename: range probes keep pruning") {
    import spark.implicits._
    val dir = tmp("cid-stats")
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "256")
    try {
      MergeWriter.merge(spark, dir,
        (0 until 4096).map(i => (i.toLong, i.toLong * 10))
          .toDF("id", "v"),
        Seq("id"), buckets = 2, clusterBy = Seq("id"))
      MergeWriter.renameColumn(spark, dir, "id", "key_id")
      val all = MergeWriter.readTable(spark, dir).inputFiles.length
      val probe = MergeWriter.readTableRange(spark, dir, "key_id",
        Some(100L), Some(300L))
      assert(probe.inputFiles.length <= all / 4,
        s"renamed-column range probe opened ${probe.inputFiles.length} " +
          s"of $all files — stats keys did not follow the rename")
      assert(probe.collect().map(_.getLong(0)).toSet ==
        (100L to 300L).toSet)
    } finally spark.conf.unset("spark.sql.files.maxRecordsPerFile")
  }

  test("drop + re-add: the namesake does not resurrect dropped data") {
    import spark.implicits._
    val dir = tmp("cid-drop")
    MergeWriter.merge(spark, dir,
      (0L until 50L).map(i => (i, i * 2, s"old$i")).toDF("id", "v", "s"),
      Seq("id"), buckets = 2)
    MergeWriter.dropColumn(spark, dir, "s")
    assert(MergeWriter.readTable(spark, dir).columns.toSeq ==
      Seq("id", "v"))
    // re-add the SAME name: fresh field id — pre-drop rows read NULL
    MergeWriter.addColumns(spark, dir,
      StructType(Seq(StructField("s", StringType))))
    val back = MergeWriter.readTable(spark, dir)
    assert(back.where(col("s").isNotNull).count() == 0,
      "re-added namesake must NOT resurrect dropped bytes")
    // new writes fill it
    MergeWriter.merge(spark, dir,
      Seq((7L, 14L, "fresh")).toDF("id", "v", "s"), Seq("id"))
    val row7 = MergeWriter.readTable(spark, dir)
      .where(col("id") === 7).collect().head
    assert(row7.getString(2) == "fresh")
    assert(MergeWriter.readTable(spark, dir)
      .where(col("s").isNotNull).count() == 1)
    // guards: key / cluster / last-non-key drops refuse
    intercept[IllegalArgumentException] {
      MergeWriter.dropColumn(spark, dir, "id")
    }
  }

  test("SQL: ALTER TABLE RENAME/DROP COLUMN + DML on the renamed table") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gcid.ns")
    spark.sql("CREATE TABLE gcid.ns.t (id BIGINT, v BIGINT, s STRING) " +
      "TBLPROPERTIES ('keys'='id', 'buckets'='2', 'retainVersions'='8')")
    spark.sql("INSERT INTO gcid.ns.t " +
      "SELECT id, id * 2, concat('s', id) FROM range(100)")
    spark.sql("ALTER TABLE gcid.ns.t RENAME COLUMN v TO velocity")
    assert(spark.table("gcid.ns.t").columns.toSeq ==
      Seq("id", "velocity", "s"))
    // filters + aggregates over the renamed column, pure SQL
    assert(spark.sql(
      "SELECT CAST(SUM(velocity) AS BIGINT) AS sv FROM gcid.ns.t " +
        "WHERE velocity < 20").collect().head.getLong(0) == 90L) // 0+2+..+18
    // row-level DML reads the renamed column by id and writes it back
    spark.sql("UPDATE gcid.ns.t SET velocity = velocity + 1000 " +
      "WHERE id % 10 = 0")
    assert(spark.sql(
      "SELECT velocity FROM gcid.ns.t WHERE id = 20")
      .collect().head.getLong(0) == 1040L)
    // MERGE INTO the renamed table
    spark.sql("""
      MERGE INTO gcid.ns.t t
      USING (SELECT 7L AS id, 777L AS velocity, 'm' AS s) src
      ON t.id = src.id
      WHEN MATCHED THEN UPDATE SET *""")
    assert(spark.sql("SELECT velocity FROM gcid.ns.t WHERE id = 7")
      .collect().head.getLong(0) == 777L)
    // DROP COLUMN; SELECT * no longer sees it
    spark.sql("ALTER TABLE gcid.ns.t DROP COLUMN s")
    assert(spark.table("gcid.ns.t").columns.toSeq ==
      Seq("id", "velocity"))
    // time travel before the rename shows the original column
    assert(spark.sql("SELECT * FROM gcid.ns.t VERSION AS OF 2")
      .columns.toSeq == Seq("id", "v", "s"))
    spark.sql("DROP TABLE gcid.ns.t")
  }

  test("change feed spanning a rename serves CURRENT names") {
    import spark.implicits._
    val dir = tmp("cid-feed")
    MergeWriter.merge(spark, dir,
      (0L until 20L).map(i => (i, i)).toDF("id", "v"), Seq("id"),
      buckets = 2)
    MergeWriter.setRetention(spark, dir, versions = 8)
    val v1 = MergeWriter.availableVersions(spark, dir).last
    MergeWriter.renameColumn(spark, dir, "v", "w")
    MergeWriter.merge(spark, dir,
      Seq((3L, -3L), (100L, 100L)).toDF("id", "w"), Seq("id"))
    val vN = MergeWriter.availableVersions(spark, dir).last
    val feed = MergeWriter.changeFeed(spark, dir, v1, vN,
      Seq("id"), Seq("w")).collect()
      .map(r => (r.getLong(0), r.getAs[String]("op"))).sortBy(_._1)
    assert(feed.toSeq == Seq((3L, "update"), (100L, "insert")))
  }

  test("compaction rewrites renamed columns under their current name") {
    import spark.implicits._
    val dir = tmp("cid-compact")
    MergeWriter.merge(spark, dir,
      (0L until 30L).map(i => (i, i * 3)).toDF("id", "v"), Seq("id"),
      buckets = 2)
    MergeWriter.merge(spark, dir,
      (30L until 60L).map(i => (i, i * 3)).toDF("id", "v"), Seq("id"))
    MergeWriter.renameColumn(spark, dir, "v", "tripled")
    MergeWriter.compact(spark, dir)
    val out = MergeWriter.readTable(spark, dir)
    assert(out.columns.toSeq == Seq("id", "tripled"))
    assert(out.agg(sum("tripled")).collect().head.getLong(0) ==
      (0L until 60L).map(_ * 3).sum)
    // post-compaction files carry the CURRENT name: a fresh name-based
    // read of the epoch files (no id matching needed) sees the data
  }

  test("widenColumn: metadata-only int->long / float->double") {
    import spark.implicits._
    val dir = tmp("cid-widen")
    val rows = spark.range(0, 100).select(
      col("id"),
      col("id").cast("int").as("v"),
      (col("id").cast("float") / 2.0f).as("f"))
    MergeWriter.merge(spark, dir, rows, Seq("id"), buckets = 2,
      clusterBy = Seq("v"))
    MergeWriter.setRetention(spark, dir, versions = 8)
    val v1 = MergeWriter.availableVersions(spark, dir).last
    val filesBefore = MergeWriter.readTable(spark, dir).inputFiles.toSet
    MergeWriter.widenColumn(spark, dir, "v",
      org.apache.spark.sql.types.LongType)
    MergeWriter.widenColumn(spark, dir, "f",
      org.apache.spark.sql.types.DoubleType)
    val out = MergeWriter.readTable(spark, dir)
    // no data file moved; old INT32/FLOAT pages read through wide schema
    assert(out.inputFiles.toSet == filesBefore)
    assert(out.schema("v").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(out.schema("f").dataType ==
      org.apache.spark.sql.types.DoubleType)
    assert(out.agg(sum("v")).collect().head.getLong(0) == 4950L)
    assert(out.where(col("f") === 24.5d).count() == 1)
    // a post-widen merge writes values past the narrow range
    MergeWriter.merge(spark, dir,
      Seq((1000L, 10000000000L, 0.5d)).toDF("id", "v", "f"), Seq("id"))
    assert(MergeWriter.readTable(spark, dir)
      .agg(max("v")).collect().head.getLong(0) == 10000000000L)
    // stats pruning on the widened (clustered) column keeps working
    val probe = MergeWriter.readTableRange(spark, dir, "v",
      Some(10L), Some(20L))
    assert(probe.collect().map(_.getLong(1)).toSet ==
      (10L to 20L).toSet)
    // a feed spanning the widening compares both sides in the wide type
    val vN = MergeWriter.availableVersions(spark, dir).last
    val feed = MergeWriter.changeFeed(spark, dir, v1, vN,
      Seq("id"), Seq("v", "f")).collect()
      .map(r => (r.getLong(0), r.getAs[String]("op")))
    assert(feed.toSeq == Seq((1000L, "insert")))
    // guards: keys and unsafe promotions refuse
    intercept[IllegalArgumentException] {
      MergeWriter.widenColumn(spark, dir, "id",
        org.apache.spark.sql.types.DoubleType) // long->double: lossy
    }
  }

  test("SQL: ALTER COLUMN TYPE widens through the catalog") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gcid.ns")
    spark.sql("CREATE TABLE gcid.ns.w (id BIGINT, v INT) " +
      "TBLPROPERTIES ('keys'='id', 'buckets'='2')")
    spark.sql("INSERT INTO gcid.ns.w " +
      "SELECT id, CAST(id AS INT) FROM range(50)")
    spark.sql("ALTER TABLE gcid.ns.w ALTER COLUMN v TYPE BIGINT")
    assert(spark.table("gcid.ns.w").schema("v").dataType ==
      org.apache.spark.sql.types.LongType)
    // wide INSERT beyond INT range lands next to narrow files
    spark.sql("INSERT INTO gcid.ns.w VALUES (500, 10000000000)")
    val m = spark.sql(
      "SELECT CAST(SUM(v) AS BIGINT) AS s, CAST(MAX(v) AS BIGINT) AS mx " +
        "FROM gcid.ns.w").collect().head
    assert(m.getLong(0) == 1225L + 10000000000L)
    assert(m.getLong(1) == 10000000000L)
    spark.sql("DROP TABLE gcid.ns.w")
  }

  /** Rewrite the newest manifest of `dir` without `field`. */
  private def stripField(dir: String, field: String): Unit = {
    val manifest = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("_manifest-")).maxBy(_.getName)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.readTree(manifest)
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    assert(node.has(field))
    node.remove(field)
    mapper.writeValue(manifest, node)
  }

  test("legacy (pre-id) table: refused until upgrade; the rename is then metadata-only") {
    import spark.implicits._
    val dir = tmp("cid-legacy")
    MergeWriter.merge(spark, dir,
      (0L until 10L).map(i => (i, i)).toDF("id", "v"), Seq("id"),
      buckets = 2)
    // simulate a pre-field-id manifest: strip the id map
    stripField(dir, "cids")
    stripField(dir, "ncid")
    val e = intercept[IllegalStateException](MergeWriter.readTable(spark, dir))
    assert(e.getMessage.contains("system.upgrade"), e.getMessage)
    intercept[IllegalStateException] {
      MergeWriter.renameColumn(spark, dir, "v", "w")
    }
    // the one way up: a full rewrite that stamps ids...
    MergeWriter.upgrade(spark, dir)
    val files = MergeWriter.readTable(spark, dir).inputFiles.toSet
    // ... after which the rename is metadata-only as usual
    MergeWriter.renameColumn(spark, dir, "v", "w")
    assert(MergeWriter.readTable(spark, dir).inputFiles.toSet == files,
      "rename must not rewrite any data file")
    assert(MergeWriter.readTable(spark, dir).columns.toSeq ==
      Seq("id", "w"))
    assert(MergeWriter.readTable(spark, dir)
      .agg(sum("w")).collect().head.getLong(0) == 45L)
  }

  test("a manifest with its schema stripped fails loudly; CALL upgrade restores it with identical rows") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gcid.ns")
    spark.sql("CREATE TABLE gcid.ns.up (id BIGINT, v STRING) " +
      "TBLPROPERTIES ('keys'='id', 'buckets'='2')")
    spark.sql("INSERT INTO gcid.ns.up SELECT id, CONCAT('v', id) FROM range(20)")
    spark.sql("DELETE FROM gcid.ns.up WHERE id < 3")
    val dir = s"$wh/ns/up"
    def rows(): Set[(Long, String)] = MergeWriter.readTable(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val before = rows()
    stripField(dir, "schema")
    val e = intercept[IllegalStateException](rows())
    assert(e.getMessage.contains("system.upgrade"), e.getMessage)
    spark.sql("CALL gcid.system.upgrade(table => 'ns.up')")
    assert(rows() == before)
    assert(spark.table("gcid.ns.up").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet == before)
    assert(spark.table("gcid.ns.up").columns.toSeq == Seq("id", "v"))
    spark.sql("DROP TABLE gcid.ns.up")
  }

  test("upgrade keeps a recorded schema: a column added after the data survives") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gcid.ns")
    spark.sql("CREATE TABLE gcid.ns.dflt (id BIGINT, v STRING) " +
      "TBLPROPERTIES ('keys'='id', 'buckets'='2')")
    spark.sql("INSERT INTO gcid.ns.dflt VALUES (1, 'x'), (2, 'y')")
    // metadata-only: no data file holds the column, only the schema does
    spark.sql("ALTER TABLE gcid.ns.dflt ADD COLUMNS (region STRING DEFAULT 'emea')")
    val dir = s"$wh/ns/dflt"
    stripField(dir, "cids")
    stripField(dir, "ncid")
    spark.sql("CALL gcid.system.upgrade(table => 'ns.dflt')")
    spark.sql("INSERT INTO gcid.ns.dflt (id, v) VALUES (3, 'z')")
    assert(spark.sql("SELECT id, v, region FROM gcid.ns.dflt ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .toSeq == Seq((1L, "x", "emea"), (2L, "y", "emea"), (3L, "z", "emea")))
    spark.sql("DROP TABLE gcid.ns.dflt")
  }

  test("catalog scan output attrs stay id-free (ids reach only the reader)") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gcid.ns")
    spark.sql("CREATE TABLE gcid.ns.leak (id BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('keys'='id', 'buckets'='2')")
    spark.sql("INSERT INTO gcid.ns.leak SELECT id, id FROM range(10)")
    spark.sql("ALTER TABLE gcid.ns.leak RENAME COLUMN v TO vv")
    // projection + filter force pushdown re-resolution, where
    // toOutputAttrs rebuilds attrs from scan.readSchema() — a stamped
    // readSchema would leak parquet.field.id into the user's plan (and
    // from there into their own parquet writes, fieldId.write is
    // default-on)
    val df = spark.sql("SELECT vv FROM gcid.ns.leak WHERE vv > 2")
    assert(df.collect().length == 7) // ids still drive the READ mapping
    val qe = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution
    val out = qe.optimizedPlan.output ++ qe.executedPlan.output
    assert(out.forall(a => !a.metadata.contains("parquet.field.id")),
      "field ids leaked into output attributes: " +
        out.filter(_.metadata.contains("parquet.field.id")).mkString(", "))
    spark.sql("DROP TABLE gcid.ns.leak")
  }
}
