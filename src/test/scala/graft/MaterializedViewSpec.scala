package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{MaterializedViews, MergeWriter}

/** Declarative materialized views with incremental refresh: the
  * defining GROUP BY query is recorded once, the MV is a first-class
  * catalog table, and `refresh_mv` maintains it off the change feed —
  * exactly-once, change-proportional, with group liveness (a vanished
  * group leaves the view) and predicate flips handled on both sides.
  */
class MaterializedViewSpec extends AnyFunSuite with BeforeAndAfterAll
    with AdaptiveSparkPlanHelper {

  private lazy val wh = Files.createTempDirectory("gmv-wh").toString

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.catalog.gmv",
      classOf[graft.sources.GraftCatalog].getName)
    .config("spark.sql.catalog.gmv.warehouse", wh)
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def defQuery(view: String = "src"): String =
    s"SELECT grp, COUNT(*) AS n, SUM(v) AS sv FROM $view " +
      "WHERE v >= 0 GROUP BY grp"

  /** The defining query evaluated directly over the source — the MV
    * must equal this after every refresh.
    */
  private def expected(src: String): Set[(String, Long, Long)] =
    spark.sql(s"SELECT grp, COUNT(*) AS n, SUM(v) AS sv FROM $src " +
      "WHERE v >= 0 GROUP BY grp").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet

  private def mvRows(t: String): Set[(String, Long, Long)] =
    spark.sql(s"SELECT grp, n, sv FROM $t").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet

  test("MV equals its defining query through inserts, updates, deletes " +
       "and predicate flips; refresh is exactly-once under replay") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gmv.ns")
    spark.sql("CREATE TABLE gmv.ns.src (id BIGINT, grp STRING, v BIGINT) " +
      "TBLPROPERTIES ('keys'='id', 'buckets'='4', 'retainVersions'='20')")
    spark.sql("INSERT INTO gmv.ns.src SELECT id, " +
      "CONCAT('g', id % 5), id FROM range(0, 100)")
    spark.sql(s"CALL gmv.system.create_mv(view => 'ns.mv', " +
      s"source => 'ns.src', query => '${defQuery()}')")
    assert(mvRows("gmv.ns.mv") == expected("gmv.ns.src"), "initial build")
    // churn: inserts (new group too), updates (incl. group move and a
    // predicate flip to v < 0), deletes
    spark.sql("INSERT INTO gmv.ns.src SELECT id, 'g9', id " +
      "FROM range(1000, 1010)")
    spark.sql("UPDATE gmv.ns.src SET grp = 'g9', v = v + 7 WHERE id = 3")
    spark.sql("UPDATE gmv.ns.src SET v = -1 WHERE id IN (10, 15)")
    spark.sql("DELETE FROM gmv.ns.src WHERE id IN (20, 25, 1005)")
    val s1 = spark.sql("CALL gmv.system.refresh_mv(view => 'ns.mv')")
      .collect().head.getString(0)
    assert(s1.contains("refreshed"), s1)
    assert(mvRows("gmv.ns.mv") == expected("gmv.ns.src"),
      "MV must equal the defining query after churn + refresh")
    // replay: a second refresh with no new source commits is a no-op
    val s2 = spark.sql("CALL gmv.system.refresh_mv(view => 'ns.mv')")
      .collect().head.getString(0)
    assert(s2.contains("fresh"), s2)
    // a predicate flip BACK in (v >= 0 again) re-enters the view
    spark.sql("UPDATE gmv.ns.src SET v = 40 WHERE id = 10")
    spark.sql("CALL gmv.system.refresh_mv(view => 'ns.mv')")
    assert(mvRows("gmv.ns.mv") == expected("gmv.ns.src"))
  }

  test("group liveness: a group whose last row leaves VANISHES from " +
       "the view (no zero rows)") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gmv.ns")
    spark.sql("CREATE TABLE gmv.ns.live (id BIGINT, grp STRING, " +
      "v BIGINT) TBLPROPERTIES ('keys'='id', 'buckets'='2', " +
      "'retainVersions'='20')")
    spark.sql("INSERT INTO gmv.ns.live VALUES (1, 'a', 1), (2, 'a', 2), " +
      "(3, 'b', 3)")
    spark.sql("CALL gmv.system.create_mv(view => 'ns.livemv', " +
      "source => 'ns.live', query => 'SELECT grp, COUNT(*) AS n, " +
      "SUM(v) AS sv FROM live WHERE v >= 0 GROUP BY grp')")
    spark.sql("DELETE FROM gmv.ns.live WHERE grp = 'b'")
    spark.sql("CALL gmv.system.refresh_mv(view => 'ns.livemv')")
    val grps = spark.sql("SELECT grp FROM gmv.ns.livemv").collect()
      .map(_.getString(0)).toSet
    assert(grps == Set("a"), s"vanished group must leave the view: $grps")
    // and it comes back when rows return
    spark.sql("INSERT INTO gmv.ns.live VALUES (9, 'b', 9)")
    spark.sql("CALL gmv.system.refresh_mv(view => 'ns.livemv')")
    assert(mvRows("gmv.ns.livemv") == expected("gmv.ns.live"))
  }

  test("freshness is visible via mv_status; a source commit with no " +
       "view contribution still advances the anchor") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gmv.ns")
    spark.sql("CREATE TABLE gmv.ns.st (id BIGINT, grp STRING, v BIGINT) " +
      "TBLPROPERTIES ('keys'='id', 'buckets'='2', 'retainVersions'='20')")
    spark.sql("INSERT INTO gmv.ns.st VALUES (1, 'a', 1)")
    spark.sql("CALL gmv.system.create_mv(view => 'ns.stmv', " +
      "source => 'ns.st', query => 'SELECT grp, COUNT(*) AS n, " +
      "SUM(v) AS sv FROM st WHERE v >= 0 GROUP BY grp')")
    def status() = spark.sql(
      "CALL gmv.system.mv_status(view => 'ns.stmv')").collect().head
    assert(status().getBoolean(3), "fresh right after create")
    // a commit whose rows are all OUTSIDE the WHERE: no contribution,
    // but the anchor must advance or every refresh re-diffs it
    spark.sql("INSERT INTO gmv.ns.st VALUES (50, 'z', -5)")
    assert(!status().getBoolean(3), "stale after a source commit")
    def files() = spark.sql("SELECT * FROM gmv.ns.stmv.files")
      .collect().toSet
    val filesBefore = files()
    spark.sql("CALL gmv.system.refresh_mv(view => 'ns.stmv')")
    val st = status()
    assert(st.getBoolean(3),
      s"anchor must advance past a no-contribution window: $st")
    assert(files() == filesBefore,
      "a window that contributes nothing writes no data file")
    assert(mvRows("gmv.ns.stmv") == expected("gmv.ns.st"))
  }

  test("unmaintainable defining queries are rejected at create, with " +
       "the reason") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gmv.ns")
    spark.sql("CREATE TABLE gmv.ns.rj (id BIGINT, grp STRING, v BIGINT) " +
      "TBLPROPERTIES ('keys'='id', 'buckets'='2')")
    spark.sql("INSERT INTO gmv.ns.rj VALUES (1, 'a', 1)")
    def rejected(q: String): String = {
      val e = intercept[Exception] {
        spark.sql("CALL gmv.system.create_mv(view => 'ns.rjmv', " +
          s"source => 'ns.rj', query => '$q')")
      }
      e.getMessage
    }
    assert(rejected("SELECT grp, AVG(v) AS m, COUNT(*) AS n FROM rj " +
      "GROUP BY grp").contains("only COUNT(*)"))
    assert(rejected("SELECT grp, COUNT(DISTINCT v) AS dv, COUNT(*) AS n " +
      "FROM rj GROUP BY grp").contains("maintainable"))
    assert(rejected("SELECT grp, SUM(v) AS sv FROM rj GROUP BY grp")
      .contains("COUNT(*)"))
    assert(rejected("SELECT id, grp FROM rj").contains("GROUP BY"))
    assert(rejected("SELECT grp, COUNT(*) AS n FROM other GROUP BY grp")
      .contains("declared source"))
  }

  test("key-only definition (group/agg/WHERE all merge keys) refreshes " +
       "via the presence-only feed") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gmv.ns")
    spark.sql("CREATE TABLE gmv.ns.ko (id BIGINT, grp STRING, v BIGINT) " +
      "TBLPROPERTIES ('keys'='id,grp', 'buckets'='2', " +
      "'retainVersions'='20')")
    spark.sql("INSERT INTO gmv.ns.ko VALUES (1, 'a', 1), (2, 'a', 2), " +
      "(3, 'b', 3)")
    spark.sql("CALL gmv.system.create_mv(view => 'ns.komv', " +
      "source => 'ns.ko', query => 'SELECT grp, COUNT(*) AS n " +
      "FROM ko GROUP BY grp')")
    def exp() = spark.sql("SELECT grp, COUNT(*) AS n FROM gmv.ns.ko " +
      "GROUP BY grp").collect().map(r => (r.getString(0), r.getLong(1))).toSet
    def got() = spark.sql("SELECT grp, n FROM gmv.ns.komv").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got() == exp(), "initial build")
    // churn: inserts (new group), a non-key update (no contribution),
    // deletes emptying a group
    spark.sql("INSERT INTO gmv.ns.ko VALUES (10, 'c', 10), (11, 'a', 11)")
    spark.sql("UPDATE gmv.ns.ko SET v = 99 WHERE id = 1")
    spark.sql("DELETE FROM gmv.ns.ko WHERE grp = 'b'")
    val s = spark.sql("CALL gmv.system.refresh_mv(view => 'ns.komv')")
      .collect().head.getString(0)
    assert(s.contains("refreshed"), s)
    assert(got() == exp(), "key-only MV must equal its defining query")
  }

  test("WHERE is validated at create: qualified references normalize, " +
       "unknown columns are rejected with the reason") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gmv.ns")
    spark.sql("CREATE TABLE gmv.ns.wv (id BIGINT, grp STRING, v BIGINT) " +
      "TBLPROPERTIES ('keys'='id', 'buckets'='2', 'retainVersions'='20')")
    spark.sql("INSERT INTO gmv.ns.wv VALUES (1, 'a', 1), (2, 'a', -2), " +
      "(3, 'b', 3)")
    // unknown column: fails AT CREATE, naming the column
    val e = intercept[Exception] {
      spark.sql("CALL gmv.system.create_mv(view => 'ns.wvmv', " +
        "source => 'ns.wv', query => 'SELECT grp, COUNT(*) AS n " +
        "FROM wv WHERE vv > 0 GROUP BY grp')")
    }
    assert(e.getMessage.contains("unknown column") &&
      e.getMessage.contains("vv"), e.getMessage)
    // qualified reference (`wv.v`): normalized at create, refresh works
    spark.sql("CALL gmv.system.create_mv(view => 'ns.wvmv', " +
      "source => 'ns.wv', query => 'SELECT grp, COUNT(*) AS n " +
      "FROM wv WHERE wv.v >= 0 GROUP BY grp')")
    spark.sql("INSERT INTO gmv.ns.wv VALUES (10, 'c', 5), (11, 'c', -1)")
    val s = spark.sql("CALL gmv.system.refresh_mv(view => 'ns.wvmv')")
      .collect().head.getString(0)
    assert(s.contains("refreshed"), s)
    val got = spark.sql("SELECT grp, n FROM gmv.ns.wvmv").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val exp = spark.sql("SELECT grp, COUNT(*) AS n FROM gmv.ns.wv " +
      "WHERE v >= 0 GROUP BY grp").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == exp)
  }

  test("MIN/MAX maintain by re-scan-on-retract: additive folds for " +
       "inserts, exact recomputation when a group's extremum leaves") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gmv.ns")
    spark.sql("CREATE TABLE gmv.ns.mm (id BIGINT, grp STRING, v BIGINT) " +
      "TBLPROPERTIES ('keys'='id', 'buckets'='2', 'retainVersions'='20')")
    spark.sql("INSERT INTO gmv.ns.mm VALUES (1, 'a', 5), (2, 'a', 9), " +
      "(3, 'a', 9), (4, 'b', 3), (5, 'b', 7)")
    spark.sql("CALL gmv.system.create_mv(view => 'ns.mmmv', " +
      "source => 'ns.mm', query => 'SELECT grp, COUNT(*) AS n, " +
      "MIN(v) AS mn, MAX(v) AS mx FROM mm GROUP BY grp')")
    def exp() = spark.sql("SELECT grp, COUNT(*) AS n, MIN(v) AS mn, " +
      "MAX(v) AS mx FROM gmv.ns.mm GROUP BY grp").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    def got() = spark.sql("SELECT grp, n, mn, mx FROM gmv.ns.mmmv")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(got() == exp(), "initial build")
    // additive path: inserts only extend the extremes
    spark.sql("INSERT INTO gmv.ns.mm VALUES (10, 'a', 20), (11, 'b', 1)")
    spark.sql("CALL gmv.system.refresh_mv(view => 'ns.mmmv')")
    assert(got() == exp(), "insert-only fold")
    // retraction: delete ONE of the two max=9 rows of 'a' (the re-scan
    // must find the surviving 9... the max is 20 now — delete that too)
    spark.sql("DELETE FROM gmv.ns.mm WHERE id IN (2, 10)")
    spark.sql("CALL gmv.system.refresh_mv(view => 'ns.mmmv')")
    assert(got() == exp(), "max retraction re-scan (tie survivor)")
    // retract a MIN via update (value moves up), new group via insert
    spark.sql("UPDATE gmv.ns.mm SET v = 100 WHERE id = 4")
    spark.sql("INSERT INTO gmv.ns.mm VALUES (20, 'c', 42)")
    spark.sql("CALL gmv.system.refresh_mv(view => 'ns.mmmv')")
    assert(got() == exp(), "min retraction + new group")
    // group vanishes entirely
    spark.sql("DELETE FROM gmv.ns.mm WHERE grp = 'c'")
    spark.sql("CALL gmv.system.refresh_mv(view => 'ns.mmmv')")
    assert(got() == exp(), "vanished group")
  }

  test("dim-join MV: refresh folds fact churn against the broadcast " +
       "dim; a moved dim folds ITS change feed incrementally") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gmv.ns")
    spark.sql("CREATE TABLE gmv.ns.fact (id BIGINT, tk STRING, v BIGINT) " +
      "TBLPROPERTIES ('keys'='id', 'buckets'='2', 'retainVersions'='20')")
    spark.sql("CREATE TABLE gmv.ns.dim (tk STRING, category STRING) " +
      "TBLPROPERTIES ('keys'='tk', 'buckets'='2', 'retainVersions'='20')")
    spark.sql("INSERT INTO gmv.ns.dim VALUES ('t1', 'cheap'), " +
      "('t2', 'cheap'), ('t3', 'costly')")
    spark.sql("INSERT INTO gmv.ns.fact SELECT id, " +
      "CONCAT('t', 1 + id % 3), id * 10 FROM range(0, 60)")
    spark.sql("CALL gmv.system.create_mv(view => 'ns.dimmv', " +
      "source => 'ns.fact', dim => 'ns.dim', " +
      "query => 'SELECT category, COUNT(*) AS n, SUM(v) AS sv " +
      "FROM fact JOIN dim ON tk = tk GROUP BY category')")
    def exp() = spark.sql("SELECT category, COUNT(*) AS n, SUM(v) AS sv " +
      "FROM gmv.ns.fact f JOIN gmv.ns.dim d ON f.tk = d.tk " +
      "GROUP BY category").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    def got() = spark.sql("SELECT category, n, sv FROM gmv.ns.dimmv")
      .collect().map(r => (r.getString(0), r.getLong(1),
        r.getLong(2))).toSet
    assert(got() == exp(), "initial build")
    // fact churn: incremental, joined against the unchanged dim
    spark.sql("INSERT INTO gmv.ns.fact VALUES (100, 't3', 5), " +
      "(101, 't9', 1)") // t9 has no dim row: inner join drops it
    spark.sql("DELETE FROM gmv.ns.fact WHERE id IN (3, 4)")
    val s1 = spark.sql("CALL gmv.system.refresh_mv(view => 'ns.dimmv')")
      .collect().head.getString(0)
    assert(s1.contains("refreshed"), s1)
    assert(got() == exp(), "fact churn")
    // dim churn: t2 moves category — only the fact groups holding the
    // changed join key are perturbed; the refresh folds the DIM's own
    // change feed (round 15) instead of re-evaluating the view
    spark.sql("UPDATE gmv.ns.dim SET category = 'costly' WHERE tk = 't2'")
    def status() = spark.sql(
      "CALL gmv.system.mv_status(view => 'ns.dimmv')").collect().head
    assert(!status().getBoolean(3), "a moved dim must read stale")
    val s2 = spark.sql("CALL gmv.system.refresh_mv(view => 'ns.dimmv')")
      .collect().head.getString(0)
    assert(s2.contains("refreshed") && !s2.contains("fully"),
      s"dim churn must fold incrementally, not re-evaluate: $s2")
    assert(got() == exp(), "dim churn → incremental dim fold")
    assert(status().getBoolean(3), "fresh after the dim re-pin")
    // a dim DELETE retracts every contribution through the vanished
    // row (inner join); a dim INSERT admits previously-dropped facts
    spark.sql("DELETE FROM gmv.ns.dim WHERE tk = 't1'")
    spark.sql("INSERT INTO gmv.ns.dim VALUES ('t9', 'niche')")
    val s3 = spark.sql("CALL gmv.system.refresh_mv(view => 'ns.dimmv')")
      .collect().head.getString(0)
    assert(s3.contains("refreshed") && !s3.contains("fully"), s3)
    assert(got() == exp(), "dim delete+insert → incremental dim fold")
    // dim AND fact churn in one window: the dim fold (at the folded
    // source version) composes with the source-delta fold
    spark.sql("UPDATE gmv.ns.dim SET category = 'cheap' WHERE tk = 't3'")
    spark.sql("INSERT INTO gmv.ns.fact VALUES (200, 't3', 7), " +
      "(201, 't9', 9)")
    spark.sql("DELETE FROM gmv.ns.fact WHERE id = 5")
    val s4 = spark.sql("CALL gmv.system.refresh_mv(view => 'ns.dimmv')")
      .collect().head.getString(0)
    assert(s4.contains("refreshed") && !s4.contains("fully"), s4)
    assert(got() == exp(), "dim + fact churn in one refresh window")
  }

  test("multi-dim MV: a star of broadcast dims joins, folds fact churn " +
       "and per-dim churn incrementally, and matches the relational " +
       "recomputation") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gmv.ns")
    spark.sql("CREATE TABLE gmv.ns.f2 (id BIGINT, tk STRING, uk BIGINT, " +
      "v BIGINT) TBLPROPERTIES ('keys'='id', 'buckets'='2', " +
      "'retainVersions'='20')")
    spark.sql("CREATE TABLE gmv.ns.d2a (tk STRING, category STRING) " +
      "TBLPROPERTIES ('keys'='tk', 'buckets'='2', 'retainVersions'='20')")
    spark.sql("CREATE TABLE gmv.ns.d2b (uk BIGINT, region STRING) " +
      "TBLPROPERTIES ('keys'='uk', 'buckets'='2', 'retainVersions'='20')")
    spark.sql("INSERT INTO gmv.ns.d2a VALUES ('t1', 'cheap'), " +
      "('t2', 'cheap'), ('t3', 'costly')")
    spark.sql("INSERT INTO gmv.ns.d2b VALUES (0, 'emea'), (1, 'apac'), " +
      "(2, 'amer')")
    spark.sql("INSERT INTO gmv.ns.f2 SELECT id, CONCAT('t', 1 + id % 3), " +
      "id % 3, id * 10 FROM range(0, 90)")
    spark.sql("CALL gmv.system.create_mv(view => 'ns.mv2', " +
      "source => 'ns.f2', dim => 'ns.d2a,ns.d2b', " +
      "query => 'SELECT category, region, COUNT(*) AS n, SUM(v) AS sv, " +
      "MAX(v) AS mx FROM f2 JOIN d2a ON tk = tk JOIN d2b ON uk = uk " +
      "GROUP BY category, region')")
    def exp() = spark.sql("SELECT category, region, COUNT(*) AS n, " +
      "SUM(v) AS sv, MAX(v) AS mx FROM gmv.ns.f2 f " +
      "JOIN gmv.ns.d2a a ON f.tk = a.tk JOIN gmv.ns.d2b b ON f.uk = b.uk " +
      "GROUP BY category, region").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    def got() = spark.sql(
      "SELECT category, region, n, sv, mx FROM gmv.ns.mv2")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(got() == exp(), "initial build")
    // fact churn folds against both (unchanged) dims
    spark.sql("INSERT INTO gmv.ns.f2 VALUES (300, 't1', 2, 5000), " +
      "(301, 't7', 1, 1)") // t7 unmapped: inner join drops it
    spark.sql("DELETE FROM gmv.ns.f2 WHERE id IN (7, 8)")
    val s1 = spark.sql("CALL gmv.system.refresh_mv(view => 'ns.mv2')")
      .collect().head.getString(0)
    assert(s1.contains("refreshed") && !s1.contains("fully"), s1)
    assert(got() == exp(), "fact churn over two dims")
    // BOTH dims churn in one window: each feed's changed keys restrict
    // the re-aggregation; the folds compose
    spark.sql("UPDATE gmv.ns.d2a SET category = 'mid' WHERE tk = 't2'")
    spark.sql("UPDATE gmv.ns.d2b SET region = 'apj' WHERE uk = 1")
    val s2 = spark.sql("CALL gmv.system.refresh_mv(view => 'ns.mv2')")
      .collect().head.getString(0)
    assert(s2.contains("refreshed") && !s2.contains("fully"), s2)
    assert(got() == exp(), "both dims churned incrementally")
    val st = spark.sql("CALL gmv.system.mv_status(view => 'ns.mv2')")
      .collect().head
    assert(st.getBoolean(3), "fresh after the two-dim fold")
  }

  test("streaming maintenance: mvMaintainedSink merges each micro-batch " +
       "into the source and refreshes the MV — the final view equals " +
       "the one-shot aggregate, and a replay changes nothing") {
    import org.apache.spark.sql.functions._
    import graft.sources.{MaterializedViews, MergeWriter}
    import graft.streaming.StreamingFlow
    import spark.implicits._
    val root = Files.createTempDirectory("gmv-stream").toString
    val src = root + "/in"
    val rows = (0 until 300).map(i => (i.toLong, s"g${i % 4}", i % 11))
      .toDF("id", "grp", "v")
    rows.repartition(6).write.parquet(src)
    val srcTable = root + "/src"
    MergeWriter.createTable(spark, srcTable, rows.schema, Seq("id"),
      buckets = 4, retainVersions = 20)
    MaterializedViews.create(spark, root + "/mv", srcTable, "src",
      "SELECT grp, COUNT(*) AS n, SUM(v) AS sv FROM src GROUP BY grp")
    def run(ckpt: String): Unit = {
      val q = StreamingFlow.mvMaintainedSink(
        StreamingFlow.fileStream(spark, src, rows.schema,
          maxFilesPerTrigger = 2),
        srcTable, Seq("id"), Seq(root + "/mv"), ckpt, appId = "tmv",
        Some(org.apache.spark.sql.streaming.Trigger.AvailableNow()))
      q.awaitTermination()
    }
    run(root + "/ckpt")
    def got() = MergeWriter.readTable(spark, root + "/mv").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val exp = rows.groupBy("grp")
      .agg(count(lit(1)).as("n"), sum("v").as("sv")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got() == exp, "streamed MV must equal the one-shot aggregate")
    // full redelivery on a FRESH checkpoint: keyed merges are
    // idempotent and the change feed diffs to nothing — unchanged
    run(root + "/ckpt2")
    assert(got() == exp, "a replayed stream must not change the view")
  }

  test("refreshEvery decouples view freshness from trigger latency: " +
       "fewer refreshes than triggers, the skipped windows fold into " +
       "the next refresh, and the final view converges") {
    import org.apache.spark.sql.functions._
    import graft.sources.{MaterializedViews, MergeWriter}
    import graft.streaming.StreamingFlow
    import spark.implicits._
    val root = Files.createTempDirectory("gmv-cadence").toString
    val src = root + "/in"
    val rows = (0 until 240).map(i => (i.toLong, s"g${i % 3}", i % 7))
      .toDF("id", "grp", "v")
    rows.repartition(6).write.parquet(src)
    val srcTable = root + "/src"
    MergeWriter.createTable(spark, srcTable, rows.schema, Seq("id"),
      buckets = 4, retainVersions = 20)
    MaterializedViews.create(spark, root + "/mv", srcTable, "src",
      "SELECT grp, COUNT(*) AS n, SUM(v) AS sv FROM src GROUP BY grp")
    // 6 files / 2 per trigger = 3 triggers; refreshEvery = 100 →
    // exactly ONE refresh (batch 0). The view must LAG (refresh count
    // < trigger count), not error.
    val q = StreamingFlow.mvMaintainedSink(
      StreamingFlow.fileStream(spark, src, rows.schema,
        maxFilesPerTrigger = 2),
      srcTable, Seq("id"), Seq(root + "/mv"), root + "/ckpt",
      appId = "tmvc",
      Some(org.apache.spark.sql.streaming.Trigger.AvailableNow()),
      refreshEvery = 100)
    q.awaitTermination()
    val (_, through, head) = MaterializedViews.status(spark, root + "/mv")
    assert(through < head,
      s"with refreshEvery=100 over 3 triggers the view must lag " +
        s"(refreshed $through, source $head)")
    // one tail refresh folds ALL skipped windows exactly-once
    MaterializedViews.refresh(spark, root + "/mv")
    val got = MergeWriter.readTable(spark, root + "/mv").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val exp = rows.groupBy("grp")
      .agg(count(lit(1)).as("n"), sum("v").as("sv")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == exp, "the tail refresh must converge the lagged view")
  }

  test("dim-churn fallbacks: a metadata-only dim commit folds as a " +
       "no-op re-pin; a dim window that aged out of retention falls " +
       "back to ONE full re-evaluation") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gmv.ns")
    spark.sql("CREATE TABLE gmv.ns.f3 (id BIGINT, tk STRING, v BIGINT) " +
      "TBLPROPERTIES ('keys'='id', 'buckets'='2', 'retainVersions'='20')")
    // retention floor on the DIM: its refresh window ages out fast
    spark.sql("CREATE TABLE gmv.ns.d3 (tk STRING, category STRING) " +
      "TBLPROPERTIES ('keys'='tk', 'buckets'='2')")
    spark.sql("INSERT INTO gmv.ns.d3 VALUES ('t1', 'a'), ('t2', 'b')")
    spark.sql("INSERT INTO gmv.ns.f3 SELECT id, " +
      "CONCAT('t', 1 + id % 2), id FROM range(0, 40)")
    spark.sql("CALL gmv.system.create_mv(view => 'ns.fbmv', " +
      "source => 'ns.f3', dim => 'ns.d3', " +
      "query => 'SELECT category, COUNT(*) AS n, SUM(v) AS sv " +
      "FROM f3 JOIN d3 ON tk = tk GROUP BY category')")
    def exp() = spark.sql("SELECT category, COUNT(*) AS n, SUM(v) AS sv " +
      "FROM gmv.ns.f3 f JOIN gmv.ns.d3 d ON f.tk = d.tk " +
      "GROUP BY category").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    def got() = spark.sql("SELECT category, n, sv FROM gmv.ns.fbmv")
      .collect().map(r => (r.getString(0), r.getLong(1),
        r.getLong(2))).toSet
    // METADATA-ONLY dim commit (a retention change — '3' differs from
    // the floor default, so it commits a version): the version moves
    // but the feed is empty — the refresh must re-pin the anchor
    // without touching the view, and must NOT re-evaluate
    spark.sql("ALTER TABLE gmv.ns.d3 SET TBLPROPERTIES " +
      "('retainVersions' = '3')")
    val s1 = spark.sql("CALL gmv.system.refresh_mv(view => 'ns.fbmv')")
      .collect().head.getString(0)
    assert(s1.contains("refreshed") && !s1.contains("fully"), s1)
    assert(got() == exp(), "a metadata-only dim commit changes nothing")
    val st1 = spark.sql("CALL gmv.system.mv_status(view => 'ns.fbmv')")
      .collect().head
    assert(st1.getBoolean(3), "fresh after the no-op re-pin")
    // the dim's anchored window AGES OUT (retainVersions=2, many dim
    // commits): the incremental fold cannot diff — ONE full
    // re-evaluation, still correct
    (0 until 5).foreach { i =>
      spark.sql(s"INSERT INTO gmv.ns.d3 VALUES ('x$i', 'c')")
    }
    val s2 = spark.sql("CALL gmv.system.refresh_mv(view => 'ns.fbmv')")
      .collect().head.getString(0)
    assert(s2.contains("fully re-evaluated"), s2)
    assert(got() == exp(), "aged-out dim window → full re-evaluation")
  }

  test("retention fallback: a refresh window that aged out triggers ONE " +
       "full re-evaluation, still exactly-once") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gmv.ns")
    // retainVersions = 2 (the floor): history ages out fast
    spark.sql("CREATE TABLE gmv.ns.rt (id BIGINT, grp STRING, v BIGINT) " +
      "TBLPROPERTIES ('keys'='id', 'buckets'='2')")
    spark.sql("INSERT INTO gmv.ns.rt VALUES (1, 'a', 1), (2, 'b', 2)")
    spark.sql("CALL gmv.system.create_mv(view => 'ns.rtmv', " +
      "source => 'ns.rt', query => 'SELECT grp, COUNT(*) AS n, " +
      "SUM(v) AS sv FROM rt WHERE v >= 0 GROUP BY grp')")
    // many commits: the MV's refreshed-through version ages out
    (0 until 5).foreach { i =>
      spark.sql(s"INSERT INTO gmv.ns.rt VALUES (${100 + i}, 'c', $i)")
    }
    val s = spark.sql("CALL gmv.system.refresh_mv(view => 'ns.rtmv')")
      .collect().head.getString(0)
    assert(s.contains("fully re-evaluated"), s)
    assert(mvRows("gmv.ns.rtmv") == expected("gmv.ns.rt"))
  }

  /** Runs `f` and checks that it left no staged or cached frame behind. */
  private def releasesAll[A](what: String)(f: => A): A = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val out = f
    val left = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(left.isEmpty, s"$what: left persisted RDDs $left behind")
    assert(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.isEmpty, s"$what: left a cached frame")
    out
  }

  /** One row per group of `SELECT grp, COUNT(*), SUM(v) ... WHERE v >= 0
    * GROUP BY grp` over a table path, and the MV's rows at a path.
    */
  private def expectedAt(src: String): Set[(String, Long, Long)] =
    MergeWriter.readTable(spark, src).where(col("v") >= 0).groupBy("grp")
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("n"),
        org.apache.spark.sql.functions.sum("v").as("sv"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
  private def mvRowsAt(mv: String): Set[(String, Long, Long)] =
    MergeWriter.readTable(spark, mv).select("grp", "n", "sv").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet

  test("a refresh reads the source's change feed in exactly one query") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val root = Files.createTempDirectory("gmv-once").toString
    val src = s"$root/facts"
    val mv = s"$root/rollup"
    MergeWriter.merge(spark, src, (0L until 20L)
      .map(i => (i, s"g${i % 3}", i)).toDF("id", "grp", "v"), Seq("id"),
      buckets = 4)
    MaterializedViews.create(spark, mv, src, "facts", "SELECT grp, " +
      "COUNT(*) AS n, SUM(v) AS sv FROM facts WHERE v >= 0 GROUP BY grp",
      buckets = 4)
    // one source version holding an insert, an update and a delete
    MergeWriter.applyChanges(spark, src,
      Seq((100L, "g1", 5L), (3L, "g2", 7L)).toDF("id", "grp", "v"),
      Seq(4L).toDF("id"), Seq("id"))
    // a cached relation's plan counts: a query over a cached feed or
    // delta re-plans the feed's lineage
    def scansSource(p: SparkPlan): Boolean = collectWithSubqueries(p) {
      case f: FileSourceScanExec =>
        f.relation.location.rootPaths.exists(_.toString.contains(src))
      case m: InMemoryTableScanExec => scansSource(m.relation.cachedPlan)
    }.contains(true)
    val heard = new java.util.concurrent.ConcurrentLinkedQueue[(String, Boolean)]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit =
        heard.add(funcName -> scansSource(qe.executedPlan))
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = ()
    }
    org.apache.spark.GraftTestBus.drain(spark.sparkContext)
    spark.listenerManager.register(listener)
    val window =
      try MaterializedViews.refresh(spark, mv)
      finally {
        org.apache.spark.GraftTestBus.drain(spark.sparkContext)
        spark.listenerManager.unregister(listener)
      }
    assert(window.exists(_._1 >= 0), s"incremental refresh expected: $window")
    val queries = heard.asScala.toSeq
    assert(queries.count(_._2) == 1,
      s"the source's files are read by ${queries.count(_._2)} queries: " +
        queries)
    assert(mvRowsAt(mv) == expectedAt(src))
  }

  test("the touched-group cap: a delta of exactly the cap folds " +
       "incrementally, cap + 1 falls back to ONE full re-evaluation") {
    val cap = MaterializedViews.MaxIncrementalGroups
    val root = Files.createTempDirectory("gmv-cap").toString
    val src = s"$root/src"
    val mv = s"$root/mv"
    // one group per row: the refresh's delta has one row per new id
    def rows(from: Long, until: Long) = spark.range(from, until)
      .select(col("id"), col("id").cast("string").as("grp"), lit(1L).as("v"))
    MergeWriter.merge(spark, src, rows(-1L, 0L), Seq("id"), buckets = 4)
    MaterializedViews.create(spark, mv, src, "src", "SELECT grp, " +
      "COUNT(*) AS n, SUM(v) AS sv FROM src WHERE v >= 0 GROUP BY grp",
      buckets = 4)
    def head() = MergeWriter.availableVersions(spark, mv).last
    MergeWriter.merge(spark, src, rows(0L, cap), Seq("id"))
    val atCap = releasesAll("a delta at the cap")(
      MaterializedViews.refresh(spark, mv))
    assert(atCap.exists(_._1 >= 0), s"folds incrementally: $atCap")
    assert(mvRowsAt(mv) == expectedAt(src))
    MergeWriter.merge(spark, src, rows(cap, 2 * cap + 1), Seq("id"))
    val before = head()
    val overCap = releasesAll("a delta over the cap")(
      MaterializedViews.refresh(spark, mv))
    assert(overCap.exists(_._1 == -1L), s"re-evaluates fully: $overCap")
    assert(head() == before + 1, "exactly one commit for the fallback")
    assert(mvRowsAt(mv) == expectedAt(src))
  }

  test("a refresh releases every staged frame on each of its exits") {
    import spark.implicits._
    val root = Files.createTempDirectory("gmv-release").toString
    val src = s"$root/src"
    val mv = s"$root/mv"
    MergeWriter.merge(spark, src, Seq((1L, "a", 1L), (2L, "b", 2L))
      .toDF("id", "grp", "v"), Seq("id"), buckets = 2)
    MaterializedViews.create(spark, mv, src, "src", "SELECT grp, " +
      "COUNT(*) AS n, SUM(v) AS sv FROM src WHERE v >= 0 GROUP BY grp",
      buckets = 2)
    def put(rows: (Long, String, Long)*): Unit =
      MergeWriter.merge(spark, src, rows.toDF("id", "grp", "v"), Seq("id"))
    put((3L, "a", 3L))
    assert(releasesAll("an incremental fold")(
      MaterializedViews.refresh(spark, mv)).exists(_._1 >= 0))
    put((4L, "z", -4L))
    assert(releasesAll("an empty window")(
      MaterializedViews.refresh(spark, mv)).exists(_._1 >= 0))
    assert(mvRowsAt(mv) == expectedAt(src))
    // a NULL group cannot be an MV key: the refresh fails after staging
    put((5L, null, 5L))
    releasesAll("a failed refresh")(
      intercept[Exception](MaterializedViews.refresh(spark, mv)))
    // a moved dim folds its own change feed
    val fact = s"$root/fact"
    val dim = s"$root/dim"
    val dimMv = s"$root/dimmv"
    MergeWriter.merge(spark, fact, Seq((1L, "t1"), (2L, "t2"), (3L, "t1"))
      .toDF("id", "tk"), Seq("id"), buckets = 2)
    MergeWriter.merge(spark, dim, Seq(("t1", "x"), ("t2", "y"))
      .toDF("tk", "category"), Seq("tk"), buckets = 2)
    MaterializedViews.create(spark, dimMv, fact, "fact", "SELECT category, " +
      "COUNT(*) AS n FROM fact JOIN dim ON tk = tk GROUP BY category",
      buckets = 2, dims = Seq((dim, "dim")))
    MergeWriter.merge(spark, dim, Seq(("t2", "x")).toDF("tk", "category"),
      Seq("tk"))
    val w = releasesAll("a dim fold")(MaterializedViews.refresh(spark, dimMv))
    assert(w.isDefined && !w.exists(_._1 == -1L), s"dim fold expected: $w")
    assert(MergeWriter.readTable(spark, dimMv).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet == Set(("x", 3L)))
  }
}
