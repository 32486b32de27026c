package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.MergeWriter

/** Named branches — write-audit-publish staging (Iceberg branch refs,
  * scaled to the linear manifest protocol). The contract under test:
  * MAIN NEVER SEES the staged state. Stage on a branch (API merge and
  * SQL `INSERT INTO t.branch_<name>`), audit the branch head
  * (`SELECT FROM t.branch_<name>` / readBranch), publish with
  * `fast_forward` — and a main commit during staging makes the publish
  * conflict loudly instead of silently clobbering.
  */
class BranchWapSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = {
    val wh = Files.createTempDirectory("gwap-wh").toString
    SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.catalog.gwap",
        classOf[graft.sources.GraftCatalog].getName)
      .config("spark.sql.catalog.gwap.warehouse", wh)
      .getOrCreate()
  }

  override def afterAll(): Unit = spark.stop()

  private def wh = spark.conf.get("spark.sql.catalog.gwap.warehouse")

  test("stage on a branch, audit, publish: main sees nothing until " +
       "fast_forward") {
    import spark.implicits._
    val dir = Files.createTempDirectory("wap").toString + "/t"
    MergeWriter.merge(spark, dir,
      (0 until 100).map(i => (i.toLong, "base")).toDF("id", "s"),
      Seq("id"), buckets = 4)
    val mainV = MergeWriter.availableVersions(spark, dir).max
    MergeWriter.createBranch(spark, dir, "audit")
    // two staged merges: an upsert of an existing cohort + new keys
    MergeWriter.merge(spark, dir,
      (0 until 10).map(i => (i.toLong, "staged")).toDF("id", "s"),
      Seq("id"), ref = Some("audit"))
    MergeWriter.merge(spark, dir,
      (100 until 150).map(i => (i.toLong, "staged")).toDF("id", "s"),
      Seq("id"), ref = Some("audit"))
    // MAIN: version unmoved, content unmoved
    assert(MergeWriter.availableVersions(spark, dir).max == mainV,
      "staging must not advance main's version")
    val main = MergeWriter.readTable(spark, dir)
    assert(main.count() == 100 &&
      main.where(col("s") === "staged").count() == 0,
      "main saw staged rows before publish")
    // BRANCH: the audit read sees both staged commits on the base
    val b = MergeWriter.readBranch(spark, dir, "audit")
    assert(b.count() == 150 &&
      b.where(col("s") === "staged").count() == 60)
    // PUBLISH: one linear main commit with the branch head's state
    MergeWriter.fastForward(spark, dir, "audit")
    val after = MergeWriter.readTable(spark, dir)
    assert(after.count() == 150 &&
      after.where(col("s") === "staged").count() == 60)
    assert(MergeWriter.availableVersions(spark, dir).max == mainV + 1,
      "publish is ONE main commit, whatever the staging count")
    assert(MergeWriter.listBranches(spark, dir).isEmpty,
      "publish retires the branch lineage")
  }

  test("a main commit during staging makes fast_forward conflict " +
       "loudly (the audited state no longer applies)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("wap2").toString + "/t"
    MergeWriter.merge(spark, dir,
      (0 until 50).map(i => (i.toLong, 1L)).toDF("id", "v"), Seq("id"),
      buckets = 4)
    MergeWriter.createBranch(spark, dir, "stage")
    MergeWriter.merge(spark, dir,
      (50 until 60).map(i => (i.toLong, 2L)).toDF("id", "v"), Seq("id"),
      ref = Some("stage"))
    // concurrent MAIN commit while the branch is being audited
    MergeWriter.merge(spark, dir,
      (90 until 95).map(i => (i.toLong, 9L)).toDF("id", "v"), Seq("id"))
    val e = intercept[java.util.ConcurrentModificationException] {
      MergeWriter.fastForward(spark, dir, "stage")
    }
    assert(e.getMessage.contains("advanced"), s"got: $e")
    // main keeps ITS state; the staged rows never published
    val main = MergeWriter.readTable(spark, dir)
    assert(main.count() == 55 && main.where(col("id") >= 50L &&
      col("id") < 60L).count() == 0)
    // gc during staging must NOT reclaim the branch's epochs: the
    // branch head stays fully readable after main commits ran their gc
    assert(MergeWriter.readBranch(spark, dir, "stage").count() == 60)
    MergeWriter.dropBranch(spark, dir, "stage")
    assert(MergeWriter.listBranches(spark, dir).isEmpty)
  }

  test("SQL WAP flow: create_branch, INSERT INTO t.branch_x, audit " +
       "SELECT, fast_forward") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gwap.ns")
    spark.sql("CREATE TABLE gwap.ns.t (id BIGINT, s STRING) " +
      "TBLPROPERTIES ('keys'='id', 'buckets'='4')")
    spark.sql("INSERT INTO gwap.ns.t SELECT id, 'base' FROM range(0, 80)")
    spark.sql("CALL gwap.system.create_branch(table => 'ns.t', " +
      "branch => 'wap')")
    spark.sql("INSERT INTO gwap.ns.t.branch_wap " +
      "SELECT id, 'staged' FROM range(80, 120)")
    // t.branches: the "what is in flight" probe
    val refs = spark.sql("SELECT branch, staged_commits FROM " +
      "gwap.ns.t.branches").collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(refs == Map("wap" -> 1L), s"branches view: $refs")
    // main blind to the staged insert; branch head serves the audit
    assert(spark.sql("SELECT COUNT(*) AS c FROM gwap.ns.t")
      .collect().head.getLong(0) == 80)
    assert(spark.sql("SELECT COUNT(*) AS c FROM gwap.ns.t.branch_wap")
      .collect().head.getLong(0) == 120)
    assert(spark.sql("SELECT COUNT(*) AS c FROM gwap.ns.t.branch_wap " +
      "WHERE s = 'staged'").collect().head.getLong(0) == 40)
    spark.sql("CALL gwap.system.fast_forward(table => 'ns.t', " +
      "branch => 'wap')")
    assert(spark.sql("SELECT COUNT(*) AS c FROM gwap.ns.t")
      .collect().head.getLong(0) == 120)
    // the published commit is visible in history as fast_forward
    val ops = spark.sql("SELECT op FROM gwap.ns.t.history")
      .collect().map(_.getString(0))
    assert(ops.head == "fast_forward", s"history head: ${ops.head}")
    assert(spark.sql("SELECT COUNT(*) AS c FROM gwap.ns.t.branches")
      .collect().head.getLong(0) == 0, "publish must retire the ref")
  }

  test("row-level DML stages on the branch too: UPDATE, DELETE, MERGE " +
       "land on the branch lineage, main untouched") {
    spark.sql("CREATE TABLE gwap.ns.r (id BIGINT, s STRING) " +
      "TBLPROPERTIES ('keys'='id', 'buckets'='2')")
    spark.sql("INSERT INTO gwap.ns.r SELECT id, 'x' FROM range(0, 40)")
    spark.sql("CALL gwap.system.create_branch(table => 'ns.r', " +
      "branch => 'b1')")
    spark.sql("UPDATE gwap.ns.r.branch_b1 SET s = 'upd' WHERE id < 5")
    spark.sql("DELETE FROM gwap.ns.r.branch_b1 WHERE id >= 35")
    spark.sql("MERGE INTO gwap.ns.r.branch_b1 t USING " +
      "(SELECT 100 AS id UNION ALL SELECT 3) src ON t.id = src.id " +
      "WHEN MATCHED THEN UPDATE SET s = 'merged' " +
      "WHEN NOT MATCHED THEN INSERT (id, s) VALUES (src.id, 'inserted')")
    // main: blind to all three statements
    val main = spark.sql("SELECT s, COUNT(*) AS n FROM gwap.ns.r GROUP BY s")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(main == Map("x" -> 40L), s"main saw staged DML: $main")
    // branch: all three applied
    val b = spark.sql("SELECT s, COUNT(*) AS n FROM gwap.ns.r.branch_b1 " +
      "GROUP BY s").collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    // 40 base − 5 updated (id<5; id=3 then merged) − 5 deleted = 30 x
    assert(b == Map("x" -> 30L, "upd" -> 4L, "merged" -> 1L,
      "inserted" -> 1L), s"branch state: $b")
    spark.sql("CALL gwap.system.fast_forward(table => 'ns.r', " +
      "branch => 'b1')")
    val pub = spark.sql("SELECT s, COUNT(*) AS n FROM gwap.ns.r GROUP BY s")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(pub == b, s"published state: $pub")
  }

  test("the DV/MoR fast paths stage on branches too: a trickle delete " +
       "on a deleteVectors table stays metadata-sized") {
    import spark.implicits._
    val dir = Files.createTempDirectory("wapdv").toString + "/t"
    MergeWriter.merge(spark, dir,
      (0 until 500).map(i => (i.toLong, s"v$i")).toDF("id", "s"),
      Seq("id"), buckets = 4, clusterBy = Seq("id"), deleteVectors = true)
    def dirBytes: Long = {
      def walk(f: java.io.File): Long =
        if (f.isFile) f.length
        else Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
      walk(new java.io.File(dir))
    }
    MergeWriter.createBranch(spark, dir, "purge")
    val before = dirBytes
    MergeWriter.delete(spark, dir, Seq(5L, 105L, 205L).toDF("id"),
      Seq("id"), ref = Some("purge"))
    MergeWriter.merge(spark, dir,
      Seq((300L, "touched")).toDF("id", "s"), Seq("id"),
      ref = Some("purge"))
    val written = dirBytes - before
    assert(written < 50000,
      s"staged DV delete + MoR upsert must stay metadata-sized, " +
        s"wrote $written bytes")
    // main blind; branch sees the delete + upsert through the vectors
    assert(MergeWriter.readTable(spark, dir).count() == 500)
    // the format face audits branches too: .option("branch", name)
    assert(spark.read.format("graft").option("branch", "purge")
      .load(dir).count() == 497)
    val b = MergeWriter.readBranch(spark, dir, "purge")
    assert(b.count() == 497)
    assert(b.where(col("id") === 5L).count() == 0)
    assert(b.where(col("s") === "touched").count() == 1)
    // publish: main carries the vectors; the native DV scan serves it
    MergeWriter.fastForward(spark, dir, "purge")
    val m = MergeWriter.readTable(spark, dir)
    assert(m.count() == 497 && m.where(col("id") === 105L).count() == 0)
  }

  test("branch staging refuses what it cannot stage: INSERT OVERWRITE " +
       "and streaming writes; dropped branches stop resolving") {
    spark.sql("CREATE TABLE gwap.ns.r2 (id BIGINT, s STRING) " +
      "TBLPROPERTIES ('keys'='id')")
    spark.sql("INSERT INTO gwap.ns.r2 SELECT id, 'x' FROM range(0, 10)")
    spark.sql("CALL gwap.system.create_branch(table => 'ns.r2', " +
      "branch => 'b1')")
    val ow = intercept[Exception] {
      spark.sql("INSERT OVERWRITE gwap.ns.r2.branch_b1 SELECT 1, 'z'")
    }
    assert(ow.getMessage.contains("staging branch") ||
      ow.getMessage.contains("overwrite"), s"got: $ow")
    spark.sql("CALL gwap.system.drop_branch(table => 'ns.r2', " +
      "branch => 'b1')")
    // a dropped branch's identifier stops resolving
    val gone = intercept[Exception] {
      spark.sql("SELECT * FROM gwap.ns.r2.branch_b1").collect()
    }
    assert(gone.getMessage.contains("TABLE_OR_VIEW_NOT_FOUND") ||
      gone.getMessage.contains("branch"), s"got: $gone")
  }

  test("every keyed write to a branch that does not exist fails with " +
       "the same createBranch-first error") {
    import spark.implicits._
    val dir = Files.createTempDirectory("wapnob").toString + "/t"
    MergeWriter.merge(spark, dir, Seq((1L, "a")).toDF("id", "s"),
      Seq("id"), buckets = 2)
    val rows = Seq((2L, "b")).toDF("id", "s")
    val gone = Seq(1L).toDF("id")
    Seq[(String, () => Unit)](
      "merge" -> (() => MergeWriter.merge(spark, dir, rows, Seq("id"),
        ref = Some("nosuch"))),
      "delete" -> (() => MergeWriter.delete(spark, dir, gone, Seq("id"),
        ref = Some("nosuch"))),
      "applyChanges" -> (() => MergeWriter.applyChanges(spark, dir, rows,
        gone, Seq("id"), ref = Some("nosuch")))).foreach { case (op, run) =>
      val e = intercept[IllegalArgumentException](run())
      assert(e.getMessage.contains("no branch 'nosuch'") &&
        e.getMessage.contains("createBranch first"), s"$op: $e")
    }
    assert(MergeWriter.readTable(spark, dir).count() == 1)
  }
}
