package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.MergeWriter

/** The manifest table as a Spark data source (`format("graft")`): plain
  * DataFrame/SQL reads plan through the native parquet file source with
  * manifest-driven file listing — so Catalyst's pushed data filters
  * prune files via the per-file min/max stats and Bloom sidecars, and
  * `readStream.format("graft")` tails the change feed.
  */
class GraftFormatSpec extends AnyFunSuite with BeforeAndAfterAll
    with ManifestSpecHelpers {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    // deterministic FileSourceScanExec access for the numFiles assertions
    .config("spark.sql.adaptive.enabled", "false")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** The executed scan's planned file count — files the manifest-driven
    * FileIndex actually handed to the scan, AFTER skipping.
    */
  private def scannedFiles(df: DataFrame): Long = {
    val scan = df.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s
    }
    assert(scan.nonEmpty, "expected a FileSourceScanExec in the plan")
    df.collect()
    scan.head.metrics("numFiles").value
  }

  private def buildClustered(dir: String): Unit = {
    import spark.implicits._
    val prev = spark.conf.getOption("spark.sql.files.maxRecordsPerFile")
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "100")
    try {
      // ts is the cluster column (consecutive per file); id is scattered
      // across the whole domain in every file — stats can never skip an
      // id probe, the Bloom sidecar can
      val rows = (0 until 1600)
        .map(i => (i.toLong, ((i * 997) % 1600).toLong, s"p$i"))
        .toDF("ts", "id", "payload")
      MergeWriter.merge(spark, dir, rows, Seq("ts"), buckets = 2,
        clusterBy = Seq("ts"), bloomBy = Seq("id"), bloomItems = 256)
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.files.maxRecordsPerFile", v)
      case None => spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    }
  }

  test("format(graft) batch read equals readTable and pins the manifest") {
    val dir = Files.createTempDirectory("gfmt").toString + "/t"
    buildClustered(dir)
    val viaFormat = spark.read.format("graft").load(dir)
    val viaApi = MergeWriter.readTable(spark, dir)
    assert(viaFormat.count() == 1600)
    assert(viaFormat.schema.fieldNames.toSet ==
      viaApi.schema.fieldNames.toSet)
    assert(viaFormat.orderBy("ts").collect().toSeq ==
      viaApi.select(viaFormat.columns.map(col).toIndexedSeq: _*)
        .orderBy("ts").collect().toSeq)
  }

  test("catalyst range filter prunes files through the manifest stats") {
    val dir = Files.createTempDirectory("gfmt").toString + "/t"
    buildClustered(dir)
    val df = spark.read.format("graft").load(dir)
    val total = scannedFiles(df)
    assert(total >= 8, s"fixture should split into many files, got $total")
    val window = df.where(col("ts") >= 100L && col("ts") <= 299L)
    val scanned = scannedFiles(window)
    assert(window.count() == 200)
    assert(scanned < total / 2,
      s"range scan should skip most files: $scanned of $total")
    // the residual predicate must ALSO reach the parquet reader
    val formatted = window.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(formatted.contains("PushedFilters"))
    assert(formatted.contains("GreaterThanOrEqual(ts,100)"))
  }

  test("catalyst equality on a bloom column prunes via the sidecar") {
    val dir = Files.createTempDirectory("gfmt").toString + "/t"
    buildClustered(dir)
    val df = spark.read.format("graft").load(dir)
    val total = scannedFiles(df)
    // id=997 ((1*997)%1600) lives in exactly one row; every file's id
    // [min,max] spans ~the full domain so stats alone keep everything
    val probe = df.where(col("id") === 997L)
    val scanned = scannedFiles(probe)
    assert(probe.select("ts").as[Long](spark.implicits.newLongEncoder)
      .collect().toSeq == Seq(1L))
    assert(scanned < total / 2,
      s"bloom probe should skip most files: $scanned of $total")
  }

  test("catalyst IN-list prunes through the any-of value probe") {
    val dir = Files.createTempDirectory("gfmt").toString + "/t"
    buildClustered(dir)
    val df = spark.read.format("graft").load(dir)
    val total = scannedFiles(df)
    val in = df.where(col("ts").isin(5L, 6L, 1205L))
    val scanned = scannedFiles(in)
    assert(in.count() == 3)
    assert(scanned < total / 2,
      s"IN-list should skip non-matching files: $scanned of $total")
  }

  test("same-column OR and prefix filters prune through the translation") {
    import spark.implicits._
    val dir = Files.createTempDirectory("gfmt").toString + "/t"
    buildClustered(dir)
    val df = spark.read.format("graft").load(dir)
    val total = scannedFiles(df)
    // disjunction of equalities on the cluster column → IN union
    val or = df.where(col("ts") === 5L || col("ts") === 1205L)
    assert(or.count() == 2)
    assert(scannedFiles(or) < total / 2,
      "OR of equalities should prune via the value-list union")

    // prefix probe on a string-clustered table
    val dir2 = Files.createTempDirectory("gfmt").toString + "/t"
    val prev = spark.conf.getOption("spark.sql.files.maxRecordsPerFile")
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "100")
    try MergeWriter.merge(spark, dir2,
      (0 until 1600).map(i => (i.toLong, f"k$i%04d")).toDF("id", "name"),
      Seq("id"), buckets = 2, clusterBy = Seq("name"))
    finally prev match {
      case Some(v) => spark.conf.set("spark.sql.files.maxRecordsPerFile", v)
      case None => spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    }
    val df2 = spark.read.format("graft").load(dir2)
    val total2 = scannedFiles(df2)
    val pre = df2.where(col("name").startsWith("k003"))
    assert(pre.count() == 10) // k0030..k0039
    assert(scannedFiles(pre) < total2 / 2,
      "prefix filter should prune via the successor-bound range")
  }

  test("cross-column OR prunes as the union of branch file sets (SQL)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("gor").toString + "/t"
    val prev = spark.conf.getOption("spark.sql.files.maxRecordsPerFile")
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "128")
    try MergeWriter.merge(spark, dir,
      (0 until 4096).map(i => (i.toLong, i / 64, i % 64)).toDF("id", "a", "b"),
      Seq("id"), buckets = 2, clusterBy = Seq("zorder2:a,b"))
    finally prev match {
      case Some(v) => spark.conf.set("spark.sql.files.maxRecordsPerFile", v)
      case None => spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    }
    val df = spark.read.format("graft").load(dir)
    val total = scannedFiles(df)
    val aStripe = scannedFiles(df.where(col("a") <= 3))
    val bStripe = scannedFiles(df.where(col("b") >= 60))
    // `(a <= 3) OR (b >= 60)`: a DIFFERENT-column disjunction — pruned
    // as the union of the two stripes' file sets, not a full scan
    val or = df.where(col("a") <= 3 || col("b") >= 60)
    assert(or.count() == 4 * 64 + 4 * 64 - 16)
    val orFiles = scannedFiles(or)
    assert(orFiles <= aStripe + bStripe,
      s"OR scanned $orFiles files > branch union bound ${aStripe + bStripe}")
    assert(orFiles < total,
      s"OR scanned the whole table ($total files) — translation lost")
    // range-OR-IN, the reingest shape: (date window) OR (id IN …)
    val mixed = df.where(col("a").between(1, 2) ||
      col("id").isin(4000L, 4001L))
    assert(mixed.count() == 130)
    assert(scannedFiles(mixed) < total)
  }

  test("versionAsOf / timestampAsOf pin a retained version") {
    import spark.implicits._
    val dir = Files.createTempDirectory("gfmt").toString + "/t"
    val v1 = Seq((1L, "a"), (2L, "b")).toDF("k", "s")
    MergeWriter.merge(spark, dir, v1, Seq("k"), buckets = 2)
    val t1 = System.currentTimeMillis()
    Thread.sleep(20)
    MergeWriter.merge(spark, dir,
      Seq((2L, "B2"), (3L, "c")).toDF("k", "s"), Seq("k"))
    val cur = spark.read.format("graft").load(dir)
    assert(cur.count() == 3)
    val versions = MergeWriter.availableVersions(spark, dir)
    val pinned = spark.read.format("graft")
      .option("versionAsOf", versions.head.toString).load(dir)
    assert(pinned.orderBy("k").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "b")))
    val asOf = spark.read.format("graft")
      .option("timestampAsOf", t1.toString).load(dir)
    assert(asOf.count() == 2)
    intercept[IllegalArgumentException] {
      spark.read.format("graft").option("versionAsOf", "999").load(dir)
    }
  }

  test("df.write.format(graft): append upserts, overwrite replaces atomically") {
    import spark.implicits._
    val dir = Files.createTempDirectory("gwrite").toString + "/t"
    Seq((1L, "a"), (2L, "b")).toDF("k", "s")
      .write.format("graft").option("keys", "k").option("buckets", "2")
      .mode("append").save(dir)
    assert(MergeWriter.readTable(spark, dir).count() == 2)

    // append = keyed MERGE: k=2 updates, k=3 inserts
    Seq((2L, "B2"), (3L, "c")).toDF("k", "s")
      .write.format("graft").mode("append").save(dir)
    val afterAppend = MergeWriter.readTable(spark, dir)
      .as[(Long, String)].collect().toSet
    assert(afterAppend == Set((1L, "a"), (2L, "B2"), (3L, "c")))

    // default ErrorIfExists honors manifest existence
    intercept[IllegalArgumentException] {
      Seq((9L, "x")).toDF("k", "s")
        .write.format("graft").save(dir)
    }

    // overwrite = atomic full replace; the pre-overwrite state stays
    // time-travel readable at its retained version
    val preVersions = MergeWriter.availableVersions(spark, dir)
    Seq((7L, "z")).toDF("k", "s")
      .write.format("graft").mode("overwrite").save(dir)
    assert(MergeWriter.readTable(spark, dir)
      .as[(Long, String)].collect().toSeq == Seq((7L, "z")))
    assert(MergeWriter.readTableVersion(spark, dir, preVersions.last)
      .as[(Long, String)].collect().toSet == afterAppend)
  }

  test("format point lookup prunes to the key tuple's hash bucket") {
    import spark.implicits._
    val dir = Files.createTempDirectory("gbkt").toString + "/t"
    val prev = spark.conf.getOption("spark.sql.files.maxRecordsPerFile")
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "50")
    // UNCLUSTERED: bytes-only stats — min/max can never skip, so any
    // file reduction below is the key-hash bucket restriction alone
    try MergeWriter.merge(spark,
      dir, (0 until 800).map(i => (i.toLong, s"v$i")).toDF("id", "s"),
      Seq("id"), buckets = 8)
    finally prev match {
      case Some(v) => spark.conf.set("spark.sql.files.maxRecordsPerFile", v)
      case None => spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    }
    val df = spark.read.format("graft").load(dir)
    val total = scannedFiles(df)
    assert(total >= 16, s"fixture should have many files, got $total")
    val point = df.where(col("id") === 42L)
    assert(point.select("s").as[String].collect().toSeq == Seq("v42"))
    val pointFiles = scannedFiles(point)
    assert(pointFiles <= total / 4,
      s"point lookup should read one bucket: $pointFiles of $total")
    val in = df.where(col("id").isin(42L, 43L, 44L))
    assert(in.count() == 3)
    assert(scannedFiles(in) <= 3 * total / 8 + 3,
      s"IN lookup should read at most 3 buckets")
  }

  test("writeStream.format(graft) merges each batch once; replays skip") {
    import spark.implicits._
    val root = Files.createTempDirectory("gsink").toString
    val src = root + "/in"
    val rows = (0 until 100).map(i => (i.toLong, s"s$i")).toDF("k", "s")
    rows.repartition(4).write.parquet(src)
    def run(ckpt: String): Unit = {
      val q = spark.readStream.schema(rows.schema).parquet(src)
        .writeStream.format("graft")
        .option("keys", "k").option("buckets", "4")
        .option("txnAppId", "gsink-spec")
        .option("checkpointLocation", ckpt)
        .option("path", root + "/t")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    run(root + "/ckpt1")
    assert(MergeWriter.readTable(spark, root + "/t").count() == 100)
    val versions = MergeWriter.availableVersions(spark, root + "/t")
    // a full redelivery (fresh checkpoint, same app id, batch ids
    // restart at 0) must be a zero-commit skip via the txn ledger
    run(root + "/ckpt2")
    assert(MergeWriter.availableVersions(spark, root + "/t") == versions)
    assert(MergeWriter.readTable(spark, root + "/t").count() == 100)
  }

  test("null-count stats prune IS NULL / IS NOT NULL probes") {
    import spark.implicits._
    val dir = Files.createTempDirectory("gnull").toString + "/t"
    val prev = spark.conf.getOption("spark.sql.files.maxRecordsPerFile")
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "100")
    // clustered by tag → files segregate into all-null ('b') and
    // no-null ('a') stripes on the sparse column
    try MergeWriter.merge(spark, dir,
      (0 until 1600).map { i =>
        val tag = if (i < 800) "a" else "b"
        (i.toLong, tag, if (tag == "a") Some(i) else None)
      }.toDF("id", "tag", "opt"),
      Seq("id"), buckets = 2, clusterBy = Seq("tag"))
    finally prev match {
      case Some(v) => spark.conf.set("spark.sql.files.maxRecordsPerFile", v)
      case None => spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    }
    val df = spark.read.format("graft").load(dir)
    val total = scannedFiles(df)
    val notNull = df.where(col("opt").isNotNull)
    assert(notNull.count() == 800)
    assert(scannedFiles(notNull) <= total / 2 + 2,
      "IS NOT NULL should skip the all-null files")
    val isNull = df.where(col("opt").isNull)
    assert(isNull.count() == 800)
    // one straddle file per bucket carries both stripes and is
    // legitimately kept by BOTH probes
    assert(scannedFiles(isNull) <= total / 2 + 2,
      "IS NULL should skip the zero-null files")
    // Catalyst conjoins an implicit IsNotNull onto any comparison, so a
    // range probe of the sparse column also skips the all-null stripe
    val cmp = df.where(col("opt") >= 0)
    assert(cmp.count() == 800)
    assert(scannedFiles(cmp) <= total / 2 + 2,
      "a comparison should skip all-null files via the implicit IsNotNull")
  }

  test("format reads a GROUP member; versionAsOf pins the group commit") {
    import spark.implicits._
    val dir = Files.createTempDirectory("ggrp").toString + "/grp"
    def load(states: Seq[(Long, String)], fields: Seq[(Long, String)]): Unit =
      MergeWriter.mergeGroup(spark, dir, Seq(
        ("states", states.toDF("id", "state"), Seq("id")),
        ("fields", fields.toDF("id", "fv"), Seq("id"))), buckets = 2)
    load(Seq((1L, "todo"), (2L, "todo")), Seq((1L, "x")))
    load(Seq((2L, "done"), (3L, "todo")), Seq((3L, "y")))

    val states = spark.read.format("graft").option("member", "states")
      .load(dir)
    assert(states.as[(Long, String)].collect().toSet ==
      Set((1L, "todo"), (2L, "done"), (3L, "todo")))
    // point lookup through the member read uses the member's key buckets
    assert(states.where(col("id") === 2L).as[(Long, String)]
      .collect().toSeq == Seq((2L, "done")))
    // group versionAsOf pins BOTH the member state and its siblings
    val v1 = groupVersions(dir).head
    val pinned = spark.read.format("graft").option("member", "states")
      .option("versionAsOf", v1.toString).load(dir)
    assert(pinned.as[(Long, String)].collect().toSet ==
      Set((1L, "todo"), (2L, "todo")))
    intercept[IllegalArgumentException] {
      spark.read.format("graft").option("member", "nope").load(dir)
    }
    intercept[IllegalArgumentException] {
      Seq((9L, "x")).toDF("id", "state").write.format("graft")
        .option("member", "states").mode("append").save(dir)
    }
  }

  test("readStream(graft) tails a GROUP member on group versions") {
    import spark.implicits._
    val dir = Files.createTempDirectory("ggrpcdc").toString + "/grp"
    def load(states: Seq[(Long, String)]): Unit =
      MergeWriter.mergeGroup(spark, dir, Seq(
        ("states", states.toDF("id", "state"), Seq("id")),
        ("fields", states.map(s => (s._1, "f")).toDF("id", "fv"),
          Seq("id"))), buckets = 2)
    load(Seq((1L, "todo")))
    val q = spark.readStream.format("graft").option("member", "states")
      .load(dir)
      .writeStream.format("memory").queryName("ggrp_tail")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      load(Seq((1L, "done"), (2L, "todo")))
      q.processAllAvailable()
      val ops = spark.table("ggrp_tail")
        .select("id", "op", "new_state").as[(Long, String, String)]
        .collect().toSet
      assert(ops == Set((1L, "insert", "todo"), (1L, "update", "done"),
        (2L, "insert", "todo")))
    } finally q.stop()
  }

  test("model check: format reads with random pushed predicates match a Map") {
    import spark.implicits._
    // seeded: random merge/delete/compact/split sequences, then the
    // FORMAT read under every pushed-filter shape the translation
    // covers — full scan, cluster-column range, key equality (bucket
    // pruning), key IN, same-column OR, and a range ∧ IN conjunction —
    // each compared against a reference Map. The residual filter makes
    // results exact even when skipping keeps extra files; this proves
    // the combination never LOSES rows either.
    val rnd = new scala.util.Random(7777)
    val dir = Files.createTempDirectory("modelfmt").toString + "/t"
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "20")
    try {
      var model = Map.empty[Long, (Int, Int)] // k -> (d cluster col, v)
      def asMap(df: org.apache.spark.sql.DataFrame): Map[Long, (Int, Int)] =
        df.select("k", "d", "v").collect()
          .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2))).toMap
      def check(step: Int): Unit = if (model.nonEmpty) {
        val df = spark.read.format("graft").load(dir)
        assert(asMap(df) == model, s"full read diverged at step $step")
        val lo = rnd.nextInt(100); val hi = lo + rnd.nextInt(40)
        assert(asMap(df.where(col("d") >= lo && col("d") <= hi)) ==
          model.filter { case (_, (d, _)) => d >= lo && d <= hi },
          s"range read diverged at step $step")
        val k0 = rnd.nextInt(80).toLong
        assert(asMap(df.where(col("k") === k0)) ==
          model.filter(_._1 == k0), s"point read diverged at step $step")
        val in = Seq.fill(4)(rnd.nextInt(80).toLong).distinct
        assert(asMap(df.where(col("k").isin(in: _*))) ==
          model.filter(kv => in.contains(kv._1)),
          s"IN read diverged at step $step")
        val (a, b) = (rnd.nextInt(80).toLong, rnd.nextInt(80).toLong)
        assert(asMap(df.where(col("k") === a || col("k") === b)) ==
          model.filter(kv => kv._1 == a || kv._1 == b),
          s"OR read diverged at step $step")
        assert(asMap(df.where(col("d") >= lo && col("k").isin(in: _*))) ==
          model.filter { case (k, (d, _)) => d >= lo && in.contains(k) },
          s"conjunction read diverged at step $step")
        // CROSS-column OR (round 10: prunes as the union of branch file
        // sets) and nested OR-of-conjunctions
        assert(asMap(df.where(col("d") <= lo || col("k").isin(in: _*))) ==
          model.filter { case (k, (d, _)) => d <= lo || in.contains(k) },
          s"cross-column OR read diverged at step $step")
        assert(asMap(df.where((col("d") >= lo && col("d") <= hi) ||
            (col("k") === a && col("v") >= 0))) ==
          model.filter { case (k, (d, _)) =>
            (d >= lo && d <= hi) || k == a },
          s"OR-of-conjunctions read diverged at step $step")
      }
      (0 until 20).foreach { step =>
        rnd.nextInt(6) match {
          case 0 | 1 | 2 =>
            val kvs = Seq.fill(rnd.nextInt(25) + 1)(
              (rnd.nextInt(80).toLong, (rnd.nextInt(100), rnd.nextInt(1000))))
              .toMap
            MergeWriter.merge(spark, dir,
              kvs.toSeq.map { case (k, (d, v)) => (k, d, v) }
                .toDF("k", "d", "v"),
              Seq("k"), buckets = 2, autoCompactEpochs = 3,
              clusterBy = Seq("d"))
            model = model ++ kvs
          case 3 if model.nonEmpty =>
            val ks = rnd.shuffle(model.keys.toSeq).take(rnd.nextInt(6) + 1)
            MergeWriter.delete(spark, dir, ks.toDF("k"), Seq("k"),
              autoCompactEpochs = 3)
            model = model -- ks
          case 3 => ()
          case 4 if model.nonEmpty => MergeWriter.compact(spark, dir)
          case 4 => ()
          case 5 if model.nonEmpty =>
            MergeWriter.splitBuckets(spark, dir, Seq("k"))
          case 5 => ()
        }
        if (step % 4 == 3) check(step)
      }
      check(20)
    } finally spark.conf.unset("spark.sql.files.maxRecordsPerFile")
  }

  test("readStream(graft) tails the change feed: snapshot, diffs, deletes") {
    import spark.implicits._
    val dir = Files.createTempDirectory("gcdc").toString + "/t"
    MergeWriter.merge(spark, dir,
      Seq((1L, 10.0), (2L, 20.0)).toDF("k", "price"), Seq("k"), buckets = 2)

    val q = spark.readStream.format("graft").load(dir)
      .writeStream.format("memory").queryName("gcdc_tail")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val initial = spark.table("gcdc_tail")
        .select("k", "op", "new_price").as[(Long, String, Double)]
        .collect().toSet
      assert(initial == Set((1L, "insert", 10.0), (2L, "insert", 20.0)))

      // update k=2, insert k=3 → one CDC batch with one update + one insert
      MergeWriter.merge(spark, dir,
        Seq((2L, 25.0), (3L, 30.0)).toDF("k", "price"), Seq("k"))
      q.processAllAvailable()
      val afterMerge = spark.table("gcdc_tail")
        .groupBy("op").count().as[(String, Long)].collect().toMap
      assert(afterMerge == Map("insert" -> 3L, "update" -> 1L))

      // delete k=1 → one delete row carrying the old value
      MergeWriter.delete(spark, dir, Seq(Tuple1(1L)).toDF("k"), Seq("k"))
      q.processAllAvailable()
      val deleted = spark.table("gcdc_tail").where(col("op") === "delete")
        .select("k", "old_price").as[(Long, Double)].collect().toSeq
      assert(deleted == Seq((1L, 10.0)))
    } finally q.stop()
  }

  test("a CDC stream lagging 3 commits resumes under raised retention") {
    import spark.implicits._
    val root = Files.createTempDirectory("lagcdc").toString
    val dir = root + "/t"
    val cp = root + "/cp"
    val out = root + "/out"
    MergeWriter.merge(spark, dir,
      Seq((1L, 10), (2L, 20)).toDF("k", "v"), Seq("k"), buckets = 2)
    // the policy that makes a stalled consumer recoverable: keep enough
    // versions that a 3-commit lag still finds its checkpointed offset
    MergeWriter.setRetention(spark, dir, versions = 6)
    def start() = spark.readStream.format("graft").load(dir)
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", cp).outputMode("append").start()
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    // the consumer STALLS while the table takes three more commits
    MergeWriter.merge(spark, dir, Seq((3L, 30)).toDF("k", "v"), Seq("k"))
    MergeWriter.merge(spark, dir, Seq((4L, 40)).toDF("k", "v"), Seq("k"))
    MergeWriter.merge(spark, dir, Seq((2L, 25)).toDF("k", "v"), Seq("k"))
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val got = spark.read.parquet(out)
      .select("k", "op", "new_v").as[(Long, String, Int)].collect().toSeq
    // exactly-once resume: ONE initial snapshot (no re-seed after the
    // stall) plus each lagged commit's diff exactly once
    assert(got.sorted == Seq((1L, "insert", 10), (2L, "insert", 20),
      (2L, "update", 25), (3L, "insert", 30), (4L, "insert", 40)).sorted,
      s"lagging stream emitted ${got.sorted}")
  }

  test("maxVersionsPerTrigger drains a lag in bounded catch-up batches") {
    import spark.implicits._
    val root = Files.createTempDirectory("ratelim").toString
    val dir = root + "/t"
    MergeWriter.merge(spark, dir,
      Seq((0L, 0)).toDF("k", "v"), Seq("k"), buckets = 2)
    MergeWriter.setRetention(spark, dir, versions = 12)
    def start() = spark.readStream.format("graft")
      .option("maxVersionsPerTrigger", "2").load(dir)
      .writeStream.format("parquet").option("path", root + "/out")
      .option("checkpointLocation", root + "/cp")
      .outputMode("append").start()
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    // six commits while the consumer is down
    (1 to 6).foreach(i => MergeWriter.merge(spark, dir,
      Seq((i.toLong, i)).toDF("k", "v"), Seq("k")))
    val q2 = start()
    try {
      q2.processAllAvailable()
      // the 6-version backlog drained in ≥3 bounded batches, not one
      val nonEmpty = q2.recentProgress.count(_.numInputRows > 0)
      assert(nonEmpty >= 3,
        s"expected >=3 catch-up batches, saw $nonEmpty " +
          q2.recentProgress.map(_.numInputRows).mkString("[", ",", "]"))
    } finally q2.stop()
    // exactly-once across the bounded batches
    val got = spark.read.parquet(root + "/out")
      .select("k", "op", "new_v").as[(Long, String, Int)].collect().toSeq
    assert(got.sorted ==
      ((0 to 6).map(i => (i.toLong, "insert", i))).sorted,
      s"rate-limited stream emitted ${got.sorted}")
  }

  test("default retention fails a 3-commit-lagged stream LOUDLY") {
    import spark.implicits._
    val root = Files.createTempDirectory("lagfail").toString
    val dir = root + "/t"
    MergeWriter.merge(spark, dir,
      Seq((1L, 10)).toDF("k", "v"), Seq("k"), buckets = 2)
    def start() = spark.readStream.format("graft").load(dir)
      .writeStream.format("parquet").option("path", root + "/out")
      .option("checkpointLocation", root + "/cp")
      .outputMode("append").start()
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    // three commits age the checkpointed version out of the default
    // 2-version window
    (2 to 4).foreach(i => MergeWriter.merge(spark, dir,
      Seq((i.toLong, i * 10)).toDF("k", "v"), Seq("k")))
    val q2 = start()
    val e = intercept[Exception] {
      try q2.processAllAvailable() finally q2.stop()
    }
    // loud failure naming the readable range — never a silent wrong
    // diff or an unasked-for full re-seed
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(m => m.contains("not retained")),
      s"wanted the aged-out-version error, got: ${messages(e)}")
  }

  test("sink txnAppId: checkpoint-stable when given, per-instance when not") {
    import org.apache.spark.sql.streaming.OutputMode
    val dir = Files.createTempDirectory("gsink").toString + "/t"
    val ds = new graft.sources.GraftDataSource
    def sink(params: Map[String, String]) =
      ds.createSink(spark.sqlContext, params + ("path" -> dir),
        Nil, OutputMode.Append())
        .asInstanceOf[graft.sources.GraftMergeSink]
    // explicit txnAppId wins
    assert(sink(Map("txnAppId" -> "mine", "checkpointLocation" -> "/cp"))
      .appId == "mine")
    // checkpointLocation option → stable derived id (cross-restart dedupe)
    val a = sink(Map("checkpointLocation" -> "/cp/a")).appId
    assert(a == sink(Map("checkpointLocation" -> "/cp/a")).appId)
    assert(a != sink(Map("checkpointLocation" -> "/cp/b")).appId)
    // NO checkpoint option (e.g. it came from the sql conf, which Spark
    // does not forward to createSink): two queries writing the same
    // table must NOT share an appId, or the txn guard would silently
    // drop the slower query's batches
    assert(sink(Map.empty).appId != sink(Map.empty).appId)
  }
}
