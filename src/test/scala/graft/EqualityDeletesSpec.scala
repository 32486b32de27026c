package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.MergeWriter

/** Equality deletes (Iceberg v2's equality-delete files on the manifest
  * protocol): on an `eqDeletes = true` table, a small keyed upsert or
  * delete commits a DOOMED-KEY sidecar instead of probing stored rows
  * for positions — the WRITE path performs no read of stored data at
  * all (the trickle-CDC shape). Every read must agree with copy-on-
  * write semantics exactly: format reads anti-join the doomed keys
  * away, the native catalog scan resolves them to row positions at
  * plan time, and any full bucket rewrite purges the records.
  */
class EqualityDeletesSpec extends AnyFunSuite with BeforeAndAfterAll
    with ManifestSpecHelpers {

  private lazy val spark = {
    val wh = Files.createTempDirectory("geqd-wh").toString
    SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.catalog.geqd",
        classOf[graft.sources.GraftCatalog].getName)
      .config("spark.sql.catalog.geqd.warehouse", wh)
      .getOrCreate()
  }

  override def afterAll(): Unit = spark.stop()

  private def seed(dir: String, n: Int): Unit = {
    import spark.implicits._
    val rows = (0 until n).map(i => (i.toLong, s"v1-$i", i % 5))
      .toDF("id", "body", "grp")
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "50")
    try MergeWriter.merge(spark, dir, rows, Seq("id"), buckets = 4,
      clusterBy = Seq("id"), eqDeletes = true, fingerprint = true)
    finally spark.conf.unset("spark.sql.files.maxRecordsPerFile")
  }

  /** Newest group manifest's raw JSON (group naming contract). */
  private def groupManifestText(dir: String): String = {
    val d = new java.io.File(dir)
    val last = d.listFiles().filter(_.getName.startsWith("_group-manifest-"))
      .map(_.getName).sorted.last
    new String(java.nio.file.Files.readAllBytes(
      new java.io.File(d, last).toPath), "UTF-8")
  }

  test("a small upsert commits WRITE-ONLY: doomed-key sidecar, no " +
       "position DVs, pointers unmoved, content equals CoW semantics") {
    import spark.implicits._
    val dir = Files.createTempDirectory("eqd").toString + "/t"
    seed(dir, 400)
    val before = manifestText(dir)
    val batch = Seq((7L, "UPD-7", 99), (133L, "UPD-133", 99),
      (388L, "UPD-388", 99), (1000L, "NEW-1000", 99),
      (1001L, "NEW-1001", 99)).toDF("id", "body", "grp")
    MergeWriter.merge(spark, dir, batch, Seq("id"))
    val after = manifestText(dir)
    assert(epochPointers(after) == epochPointers(before),
      "eq-delete upsert must not move base epoch pointers")
    assert(after.contains("\"eqds\":"),
      s"manifest must record the equality deletes: $after")
    assert(after.contains("\"ovl\":"), "manifest must record the overlay")
    assert(!after.contains("\"dv\":"),
      "the write path must NOT resolve positions (no probe read)")
    val t = MergeWriter.readTable(spark, dir)
    assert(t.count() == 402)
    val got = t.where(col("id").isin(7L, 133L, 388L, 1000L, 1001L, 8L))
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got == Map(7L -> "UPD-7", 133L -> "UPD-133", 388L -> "UPD-388",
      1000L -> "NEW-1000", 1001L -> "NEW-1001", 8L -> "v1-8"))
    // point lookup resolves the NEW copy only
    val pt = MergeWriter.readKeys(spark, dir, Seq(7L).toDF("id"), Seq("id"))
      .collect()
    assert(pt.length == 1 && pt.head.getString(1) == "UPD-7")
  }

  test("stacked upserts of the SAME key leave exactly one live copy — " +
       "sequence-number scoping exempts each commit's own overlay") {
    import spark.implicits._
    val dir = Files.createTempDirectory("eqds").toString + "/t"
    seed(dir, 100)
    MergeWriter.merge(spark, dir,
      Seq((42L, "gen2", 1)).toDF("id", "body", "grp"), Seq("id"))
    MergeWriter.merge(spark, dir,
      Seq((42L, "gen3", 2)).toDF("id", "body", "grp"), Seq("id"))
    MergeWriter.merge(spark, dir,
      Seq((42L, "gen4", 3)).toDF("id", "body", "grp"), Seq("id"))
    val rows = MergeWriter.readTable(spark, dir)
      .where(col("id") === 42L).collect()
    assert(rows.length == 1 && rows.head.getString(1) == "gen4",
      s"expected one live gen4 copy, got ${rows.toSeq}")
    assert(MergeWriter.readTable(spark, dir).count() == 100)
  }

  test("pure delete is blind and write-only; deleting an absent key is " +
       "a harmless no-op; time travel still serves the old version") {
    import spark.implicits._
    val dir = Files.createTempDirectory("eqdd").toString + "/t"
    seed(dir, 100)
    val v1 = MergeWriter.availableVersions(spark, dir).last
    MergeWriter.delete(spark, dir,
      Seq(3L, 77L, 5000L).toDF("id"), Seq("id"))
    val after = manifestText(dir)
    assert(after.contains("\"eqds\":") && !after.contains("\"dv\":"),
      s"delete must commit an eq-delete record, not position DVs: $after")
    val t = MergeWriter.readTable(spark, dir)
    assert(t.count() == 98)
    assert(t.where(col("id").isin(3L, 77L)).count() == 0)
    // pinned pre-delete version still serves the doomed rows
    val pinned = MergeWriter.readTableVersion(spark, dir, v1)
    assert(pinned.count() == 100 &&
      pinned.where(col("id") === 3L).count() == 1)
  }

  test("a provable no-op changeset (nothing stored to delete from) still " +
       "records its txn anchor — a redelivery with rows is skipped") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("body", StringType), StructField("grp", IntegerType)))
    // every write policy records the anchor: (policy, deleteVectors,
    // eqDeletes)
    Seq(("copy-on-write", false, false), ("deleteVectors", true, false),
        ("eqDeletes", true, true)).foreach { case (policy, dvs, eqds) =>
      val dir = Files.createTempDirectory("eqdnp").toString + "/t"
      MergeWriter.createTable(spark, dir, schema, Seq("id"), buckets = 4,
        deleteVectors = dvs, eqDeletes = eqds)
      val emptyUps = Seq.empty[(Long, String, Int)].toDF("id", "body", "grp")
      // batch 1: a tombstone for a key never stored — provable no-op,
      // but the exactly-once anchor MUST advance
      MergeWriter.applyChanges(spark, dir, emptyUps, Seq(5L).toDF("id"),
        Seq("id"), txn = Some(("noop-app", 1L)))
      // redelivery of batch 1 WITH rows (at-least-once transport): the
      // recorded anchor must make it a skip, not a second application
      MergeWriter.applyChanges(spark, dir,
        Seq((5L, "late", 1)).toDF("id", "body", "grp"),
        spark.emptyDataset[Long].toDF("id"), Seq("id"),
        txn = Some(("noop-app", 1L)))
      assert(MergeWriter.readTable(spark, dir).count() == 0,
        s"$policy: replayed batch at the recorded version must be skipped")
      // the next batch id applies normally
      MergeWriter.applyChanges(spark, dir,
        Seq((6L, "real", 1)).toDF("id", "body", "grp"),
        spark.emptyDataset[Long].toDF("id"), Seq("id"),
        txn = Some(("noop-app", 2L)))
      assert(MergeWriter.readTable(spark, dir).count() == 1, policy)
    }
  }

  test("eq-delete resolution is cached per version: the second scan of " +
       "an unchanged version runs zero probe jobs") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS geqd.ns")
    spark.sql("CREATE TABLE geqd.ns.cache (id BIGINT, s STRING) " +
      "TBLPROPERTIES ('keys'='id', 'buckets'='4', 'eqDeletes'='true')")
    spark.sql("INSERT INTO geqd.ns.cache SELECT id, 'a' FROM range(0, 200)")
    spark.sql("DELETE FROM geqd.ns.cache WHERE id IN (3, 77)")
    def cnt(): Long = spark.sql(
      "SELECT COUNT(*) FROM geqd.ns.cache").collect().head.getLong(0)
    val before = MergeWriter.eqdProbeJobs.get()
    assert(cnt() == 198)
    val afterFirst = MergeWriter.eqdProbeJobs.get()
    assert(afterFirst == before + 1, "first scan pays ONE probe job")
    // repeated reads of the SAME version — different predicates too —
    // pay zero further probe jobs
    assert(cnt() == 198)
    assert(spark.sql("SELECT COUNT(*) FROM geqd.ns.cache WHERE id < 50")
      .collect().head.getLong(0) == 49)
    assert(MergeWriter.eqdProbeJobs.get() == afterFirst,
      "repeated scans of an unchanged version must hit the cache")
    // a new eq-delete commit advances the version: exactly one new probe
    spark.sql("DELETE FROM geqd.ns.cache WHERE id = 9")
    assert(cnt() == 197)
    assert(MergeWriter.eqdProbeJobs.get() == afterFirst + 1,
      "a new version pays exactly one new probe")
  }

  test("a PRUNED first scan probes only its own kept files; the full " +
       "resolution is built only when an unpruned scan asks for it") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS geqd.ns")
    spark.sql("CREATE TABLE geqd.ns.pruned (id BIGINT, s STRING) " +
      "TBLPROPERTIES ('keys'='id', 'buckets'='4', 'clusterBy'='id', " +
      "'eqDeletes'='true')")
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "50")
    try {
      spark.sql(
        "INSERT INTO geqd.ns.pruned SELECT id, 'a' FROM range(0, 800)")
    } finally spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    // deletes spread across every bucket: every bucket carries eqds
    spark.sql("DELETE FROM geqd.ns.pruned WHERE id % 100 = 7")
    // FIRST scan is SELECTIVE (one key): bucket + stats pruning keep a
    // strict subset of the eqd-affected files — the probe must read
    // only those
    val jobs0 = MergeWriter.eqdProbeJobs.get()
    val files0 = MergeWriter.eqdProbedFiles.get()
    assert(spark.sql("SELECT COUNT(*) FROM geqd.ns.pruned WHERE id = 42")
      .collect().head.getLong(0) == 1L)
    val prunedProbe = MergeWriter.eqdProbedFiles.get() - files0
    assert(MergeWriter.eqdProbeJobs.get() == jobs0 + 1,
      "the pruned first scan pays one probe job")
    // the IDENTICAL pruned scan hits the pruned-set cache: zero jobs
    assert(spark.sql("SELECT COUNT(*) FROM geqd.ns.pruned WHERE id = 42")
      .collect().head.getLong(0) == 1L)
    assert(MergeWriter.eqdProbeJobs.get() == jobs0 + 1,
      "a repeated identical pruned scan runs zero probe jobs")
    // an UNPRUNED scan now builds (and caches) the full resolution
    val files1 = MergeWriter.eqdProbedFiles.get()
    assert(spark.sql("SELECT COUNT(*) FROM geqd.ns.pruned")
      .collect().head.getLong(0) == 792L)
    val fullProbe = MergeWriter.eqdProbedFiles.get() - files1
    assert(MergeWriter.eqdProbeJobs.get() == jobs0 + 2,
      "the first unpruned scan pays its own (full) probe")
    assert(prunedProbe < fullProbe,
      s"the selective scan must probe fewer files than the full one " +
        s"($prunedProbe vs $fullProbe)")
    // and once the full map exists, ANY further restriction is free
    assert(spark.sql(
      "SELECT COUNT(*) FROM geqd.ns.pruned WHERE id BETWEEN 100 AND 199")
      .collect().head.getLong(0) == 99L)
    assert(MergeWriter.eqdProbeJobs.get() == jobs0 + 2,
      "post-full restrictions are driver-side, zero jobs")
  }

  test("the native catalog scan resolves eq-deletes to row positions at " +
       "plan time — SQL reads stay on BatchScan and agree with CoW") {
    val wh = spark.conf.get("spark.sql.catalog.geqd.warehouse")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS geqd.ns")
    spark.sql("CREATE TABLE geqd.ns.t (id BIGINT, s STRING) " +
      "TBLPROPERTIES ('keys'='id', 'buckets'='4', 'eqDeletes'='true')")
    spark.sql("INSERT INTO geqd.ns.t SELECT id, 'a' FROM range(0, 100)")
    // overlapping keys: 90..99 replaced, 100..109 fresh
    spark.sql("INSERT INTO geqd.ns.t SELECT id, 'b' FROM range(90, 110)")
    val man = manifestText(s"$wh/ns/t")
    assert(man.contains("\"eqds\":") && !man.contains("\"dv\":"),
      s"SQL upsert on an eqDeletes table must be write-only: $man")
    assert(spark.sql("SELECT COUNT(*) AS c FROM geqd.ns.t")
      .collect().head.getLong(0) == 110)
    assert(spark.sql(
      "SELECT COUNT(*) FROM geqd.ns.t WHERE s = 'b'")
      .collect().head.getLong(0) == 20)
    assert(spark.sql("SELECT s FROM geqd.ns.t WHERE id = 95")
      .collect().map(_.getString(0)).toSeq == Seq("b"))
    val plan = spark.sql("SELECT * FROM geqd.ns.t WHERE id = 95")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BatchScan"),
      s"eq-delete versions must stay on the native scan, got:\n$plan")
    // SQL DELETE takes the write-only path too
    spark.sql("DELETE FROM geqd.ns.t WHERE id IN (1, 2, 105)")
    assert(spark.sql("SELECT COUNT(*) FROM geqd.ns.t")
      .collect().head.getLong(0) == 107)
    assert(spark.sql("SELECT COUNT(*) FROM geqd.ns.t WHERE id IN (1,2,105)")
      .collect().head.getLong(0) == 0)
  }

  test("a batch past the key cap falls back to copy-on-write and the " +
       "rewritten buckets' eq-delete records purge") {
    import spark.implicits._
    val dir = Files.createTempDirectory("eqdc").toString + "/t"
    seed(dir, 100)
    MergeWriter.delete(spark, dir, Seq(1L, 2L).toDF("id"), Seq("id"))
    assert(manifestText(dir).contains("\"eqds\":"))
    // > DvMaxPositionsPerCommit keys forces the CoW rewrite of every
    // touched bucket, which folds the eq-deletes in and clears them
    val big = (0 until 150001).map(i => (i.toLong, s"v2-$i", 1))
      .toDF("id", "body", "grp")
    MergeWriter.merge(spark, dir, big, Seq("id"))
    val after = manifestText(dir)
    assert(!after.contains("\"eqds\":"),
      s"CoW rewrite must purge the rewritten buckets' eq-deletes: $after")
    val t = MergeWriter.readTable(spark, dir)
    assert(t.count() == 150001)
    assert(t.where(col("id").isin(1L, 2L)).collect()
      .map(_.getString(1)).sorted.toSeq == Seq("v2-1", "v2-2"))
  }

  test("compaction purges eq-deletes; gc reclaims unreferenced sidecars") {
    import spark.implicits._
    val dir = Files.createTempDirectory("eqdp").toString + "/t"
    seed(dir, 100)
    MergeWriter.merge(spark, dir,
      Seq((5L, "UPD-5", 9)).toDF("id", "body", "grp"), Seq("id"))
    MergeWriter.delete(spark, dir, Seq(6L).toDF("id"), Seq("id"))
    assert(new java.io.File(dir, "_eqd").listFiles().nonEmpty)
    MergeWriter.compact(spark, dir)
    val after = manifestText(dir)
    assert(!after.contains("\"eqds\":"),
      s"compaction must purge eq-delete records: $after")
    val t = MergeWriter.readTable(spark, dir)
    assert(t.count() == 99 && t.where(col("id") === 6L).count() == 0 &&
      t.where(col("id") === 5L).collect().head.getString(1) == "UPD-5")
    // once every RETAINED manifest is eq-delete-free (two compacts —
    // KeepManifests retains the previous version too), gc reclaims the
    // unreferenced sidecars
    MergeWriter.compact(spark, dir)
    MergeWriter.gcNow(spark, dir)
    val eqd = new java.io.File(dir, "_eqd")
    assert(!eqd.exists() || eqd.listFiles().isEmpty,
      "gc must reclaim sidecars no retained manifest references")
  }

  test("declared columns compose: identity assignment, CHECK " +
       "enforcement and generated recompute all run on the write-only " +
       "overlay path") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS geqd.ns")
    spark.sql("""CREATE TABLE geqd.ns.gov (
      id BIGINT, v BIGINT,
      rid BIGINT GENERATED BY DEFAULT AS IDENTITY,
      vmod BIGINT GENERATED ALWAYS AS (v % 7),
      CONSTRAINT pk PRIMARY KEY (id),
      CONSTRAINT v_pos CHECK (v >= 0)
    ) TBLPROPERTIES ('buckets'='4', 'eqDeletes'='true')""")
    spark.sql("INSERT INTO geqd.ns.gov (id, v) " +
      "SELECT id, id * 3 FROM range(0, 50)")
    // eqd upsert round: identity assigned fresh, generated recomputed,
    // CHECK enforced — all inside the overlay write
    spark.sql("INSERT INTO geqd.ns.gov (id, v) VALUES (7, 700), (99, 990)")
    val rejected = scala.util.Try(spark.sql(
      "INSERT INTO geqd.ns.gov (id, v) VALUES (100, -5)")).isFailure
    assert(rejected, "CHECK must hold the line on the eqd overlay path")
    val r = spark.sql("SELECT v, vmod, rid FROM geqd.ns.gov WHERE id = 7")
      .collect()
    assert(r.length == 1 && r.head.getLong(0) == 700 &&
      r.head.getLong(1) == 0 && !r.head.isNullAt(2))
    assert(spark.sql("SELECT COUNT(*), COUNT(DISTINCT rid) " +
      "FROM geqd.ns.gov").collect().head match {
        case row => row.getLong(0) == 51 && row.getLong(1) == 51
      })
  }

  test("branch staging works on an eqDeletes table: staged write-only " +
       "commits publish atomically, main untouched meanwhile") {
    import spark.implicits._
    val dir = Files.createTempDirectory("eqdb").toString + "/t"
    seed(dir, 60)
    MergeWriter.createBranch(spark, dir, "audit")
    MergeWriter.merge(spark, dir,
      Seq((5L, "staged-5", 1)).toDF("id", "body", "grp"), Seq("id"),
      ref = Some("audit"))
    MergeWriter.delete(spark, dir, Seq(6L).toDF("id"), Seq("id"),
      ref = Some("audit"))
    // main untouched
    val main = MergeWriter.readTable(spark, dir)
    assert(main.count() == 60 &&
      main.where(col("id") === 5L).collect().head.getString(1) == "v1-5")
    MergeWriter.fastForward(spark, dir, "audit")
    val after = MergeWriter.readTable(spark, dir)
    assert(after.count() == 59 &&
      after.where(col("id") === 5L).collect().head.getString(1)
        == "staged-5" &&
      after.where(col("id") === 6L).count() == 0)
  }

  test("GROUP members take the write-only path: overlay + doomed-key " +
       "sidecar per trigger, one group commit, reads equal CoW, " +
       "compaction purges") {
    import spark.implicits._
    val grp = Files.createTempDirectory("eqdgrp").toString + "/g"
    def vecs(lo: Int, hi: Int, tag: String) =
      (lo until hi).map(i => (i.toLong, s"$tag-$i")).toDF("id", "body")
    def bands(lo: Int, hi: Int) =
      (lo until hi).flatMap(i => (0 until 2).map(b => (i.toLong, b,
        s"sig-$i-$b"))).toDF("id", "band", "sig")
    // batch 1 creates both members with the eqd seed
    MergeWriter.mergeGroup(spark, grp, Seq(
      ("vecs", vecs(0, 200, "v1"), Seq("id")),
      ("bands", bands(0, 200), Seq("id", "band"))),
      buckets = 4, txn = Some(("geqd", 1L)),
      eqDeletes = Set("vecs", "bands"))
    // batch 2 overlaps keys 150..199: must stage write-only (overlay +
    // eqds in the group manifest, base pointers unmoved)
    MergeWriter.mergeGroup(spark, grp, Seq(
      ("vecs", vecs(150, 250, "v2"), Seq("id")),
      ("bands", bands(150, 250), Seq("id", "band"))),
      buckets = 4, txn = Some(("geqd", 2L)),
      eqDeletes = Set("vecs", "bands"))
    val gman = groupManifestText(grp)
    assert(gman.contains("\"eqds\":") && gman.contains("\"ovl\":"),
      s"batch 2 must stage write-only: $gman")
    // reads equal copy-on-write semantics: one live row per key, newest
    val v = MergeWriter.readGroupTable(spark, grp, "vecs")
    assert(v.count() == 250)
    assert(v.where(col("id") === 175L).select("body").as[String]
      .head() == "v2-175")
    assert(v.where(col("id") === 10L).select("body").as[String]
      .head() == "v1-10")
    assert(MergeWriter.readGroupTable(spark, grp, "bands").count() == 500)
    // point read through overlays + eq-deletes
    val pk = MergeWriter.readGroupKeys(spark, grp, "vecs",
      Seq(175L, 10L).toDF("id"), Seq("id"))
    assert(pk.count() == 2 && pk.where(col("id") === 175L)
      .select("body").as[String].head() == "v2-175")
    // replay of batch 2 is a no-op (group txn ledger)
    MergeWriter.mergeGroup(spark, grp, Seq(
      ("vecs", vecs(150, 250, "v3"), Seq("id"))),
      buckets = 4, txn = Some(("geqd", 2L)),
      eqDeletes = Set("vecs", "bands"))
    assert(MergeWriter.readGroupTable(spark, grp, "vecs")
      .where(col("id") === 175L).select("body").as[String]
      .head() == "v2-175", "replayed batch must not re-apply")
    // gc keeps live overlays + sidecars (reads stay correct)
    MergeWriter.gcGroupNow(spark, grp)
    assert(MergeWriter.readGroupTable(spark, grp, "vecs").count() == 250)
    // member compaction folds overlays in, filters doomed keys out,
    // purges the records; sidecars reclaim on the next gc
    MergeWriter.compactGroupTable(spark, grp, "vecs")
    val afterCompact = groupManifestText(grp)
    val vecsPart = afterCompact.substring(afterCompact.indexOf("\"vecs\""))
    assert(!vecsPart.takeWhile(_ != '}').contains("eqds"),
      "compaction purges the member's eq-delete records")
    val vc = MergeWriter.readGroupTable(spark, grp, "vecs")
    assert(vc.count() == 250 && vc.where(col("id") === 175L)
      .select("body").as[String].head() == "v2-175")
    // the previous group version (still retained) references the
    // sidecar — age it out with two more commits, then gc reclaims
    MergeWriter.mergeGroup(spark, grp, Seq(
      ("vecs", vecs(300, 310, "v4"), Seq("id"))), buckets = 4,
      eqDeletes = Set("vecs", "bands"))
    MergeWriter.mergeGroup(spark, grp, Seq(
      ("vecs", vecs(310, 320, "v5"), Seq("id"))), buckets = 4,
      eqDeletes = Set("vecs", "bands"))
    MergeWriter.gcGroupNow(spark, grp)
    val sidecarsLeft = Option(new java.io.File(s"$grp/vecs/_eqd")
      .listFiles()).map(_.length).getOrElse(0)
    // only sidecars referenced by RETAINED versions may remain; the
    // compacted-away one is gone
    assert(sidecarsLeft <= 2,
      s"unreferenced member sidecars reclaim after compaction: $sidecarsLeft")
  }

  test("the CDC stream tails write-only commits: an eq-delete upsert " +
       "and a blind delete surface as update/insert/delete batches") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS geqd.ns")
    spark.sql("CREATE TABLE geqd.ns.cdc (id BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('keys'='id', 'buckets'='2', 'eqDeletes'='true')")
    spark.sql("INSERT INTO geqd.ns.cdc SELECT id, id FROM range(10)")
    val ckpt = Files.createTempDirectory("geqd-cdc-ckpt").toString
    val q = spark.readStream.table("geqd.ns.cdc.changes")
      .writeStream.format("memory").queryName("geqd_cdc_sink")
      .option("checkpointLocation", ckpt)
      .start()
    try {
      q.processAllAvailable() // snapshot as inserts
      // write-only upsert: 5 replaced, 100 fresh — then a blind delete
      spark.sql("INSERT INTO geqd.ns.cdc VALUES (5, -5), (100, 1)")
      spark.sql("DELETE FROM geqd.ns.cdc WHERE id = 7")
      q.processAllAvailable()
      val ops = spark.sql(
        "SELECT op, COUNT(*) AS n FROM geqd_cdc_sink GROUP BY op")
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
      assert(ops("insert") == 11, s"10 snapshot + 1 live insert: $ops")
      assert(ops("update") == 1, s"the replaced key must diff: $ops")
      assert(ops("delete") == 1, s"the blind delete must surface: $ops")
      val upd = spark.sql("SELECT id, new_v FROM geqd_cdc_sink " +
        "WHERE op = 'update'").collect().head
      assert(upd.getLong(0) == 5L && upd.getLong(1) == -5L)
    } finally q.stop()
    spark.sql("DROP TABLE geqd.ns.cdc")
  }

  test("the change feed sees eq-delete commits: updates, inserts and " +
       "deletes all surface across one write-only commit") {
    import spark.implicits._
    val dir = Files.createTempDirectory("eqdf").toString + "/t"
    seed(dir, 200)
    val v1 = MergeWriter.availableVersions(spark, dir).last
    MergeWriter.merge(spark, dir,
      Seq((10L, "UPD-10", 1), (500L, "NEW-500", 1))
        .toDF("id", "body", "grp"), Seq("id"))
    val v2 = MergeWriter.availableVersions(spark, dir).last
    val feed = MergeWriter.changeFeed(spark, dir, v1, v2, Seq("id"),
      Seq("body", "grp"))
    val ops = feed.select(col("id"), col("op")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(ops == Set((10L, "update"), (500L, "insert")),
      s"feed must surface the eq-delete upsert's changes, got $ops")
    MergeWriter.delete(spark, dir, Seq(11L).toDF("id"), Seq("id"))
    val v3 = MergeWriter.availableVersions(spark, dir).last
    val ops2 = MergeWriter.changeFeed(spark, dir, v2, v3, Seq("id"),
      Seq("body", "grp")).select(col("id"), col("op")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(ops2 == Set((11L, "delete")),
      s"feed must surface the blind delete, got $ops2")
  }

  test("mergeGroup drainEvery: every Nth txn batch drains stacked " +
       "write-only pressure AFTER its commit; off-cadence batches " +
       "leave the sidecars stacked (the engine-level cadence a " +
       "write-only streaming sink needs)") {
    import spark.implicits._
    val grp = Files.createTempDirectory("eqddrain").toString + "/g"
    def vecs(lo: Int, hi: Int, tag: String) =
      (lo until hi).map(i => (i.toLong, s"$tag-$i")).toDF("id", "body")
    // single-member group: a NON-EMPTY eqds map anywhere in the group
    // manifest is this member's (bucket keys serialize quoted)
    def memberHasEqds(member: String): Boolean =
      groupManifestText(grp).contains("\"eqds\":{\"")
    def put(bid: Long, lo: Int, hi: Int): Unit =
      MergeWriter.mergeGroup(spark, grp, Seq(
        ("vecs", vecs(lo, hi, s"b$bid"), Seq("id"))),
        buckets = 2, txn = Some(("gdrain", bid)),
        eqDeletes = Set("vecs"),
        drainEvery = 2, drainOverlayBound = 1, drainEqdBound = 1)
    put(0L, 0, 200)   // creates the member — nothing stacked, no drain
    put(2L, 150, 250) // overlap stages write-only; 2 % 2 != 1: NO drain
    assert(memberHasEqds("vecs"),
      "an off-cadence batch must leave the write-only sidecars stacked")
    put(3L, 100, 180) // 3 % 2 == 1 → drain runs after the commit
    assert(!memberHasEqds("vecs"),
      "the on-cadence batch must drain the stacked pressure")
    val v = MergeWriter.readGroupTable(spark, grp, "vecs")
    assert(v.count() == 250 && v.where(col("id") === 175L)
      .select("body").as[String].head() == "b3-175" &&
      v.where(col("id") === 240L)
        .select("body").as[String].head() == "b2-240",
      "reads equal CoW through stacking and the drain alike")
    // a REPLAY of an applied batch is a full no-op: no commit, and no
    // drain to pay for
    put(3L, 100, 180)
    assert(!memberHasEqds("vecs"))
  }
}
