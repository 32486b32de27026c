package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.MergeWriter

class MergeWriterSpec extends AnyFunSuite with BeforeAndAfterAll
    with ManifestSpecHelpers {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** The data files a `format("graft")` scan opens after file skipping. */
  private def openedFiles(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.flatMap(_.inputRDD.partitions.toSeq.flatMap {
      case p: org.apache.spark.sql.execution.datasources.FilePartition =>
        p.files.map(_.filePath.toString).toSeq
      case _ => Seq.empty
    }).toSet

  /** A pure conditional-PUT commit primitive: no link, no rename — the
    * object-store shape. A JVM lock stands in for the store's
    * If-None-Match arbitration; the staged file is IGNORED (body
    * uploaded directly), proving the protocol never depends on rename
    * semantics. `failNext` injects one lost put (the store said no,
    * nothing committed); `loseAll` makes every put lose.
    */
  private class ConditionalPut extends MergeWriter.CommitPrimitive {
    val puts = new java.util.concurrent.atomic.AtomicInteger(0)
    @volatile var failNext = false
    @volatile var loseAll = false
    private val lock = new Object
    override def putIfAbsent(fs: org.apache.hadoop.fs.FileSystem,
                             target: org.apache.hadoop.fs.Path,
                             stage: org.apache.hadoop.fs.Path,
                             body: Array[Byte]): Boolean = lock.synchronized {
      puts.incrementAndGet()
      if (loseAll) false
      else if (failNext) { failNext = false; false } // injected loss
      else if (fs.exists(target)) false
      else {
        val out = fs.create(target, false)
        try out.write(body) finally out.close()
        true
      }
    }
  }

  test("merge upserts on the natural key and is idempotent on replay") {
    import spark.implicits._
    val dir = Files.createTempDirectory("merge").toString + "/states"
    val v1 = Seq(("state#org", "ds#A", "To Do", 1), ("state#org", "ds#B", "To Do", 1))
      .toDF("partitionKey", "sortKey", "state", "rev")
    MergeWriter.merge(spark, dir, v1, Seq("partitionKey", "sortKey"))
    assert(MergeWriter.readTable(spark, dir).count() == 2)

    // update A, insert C
    val v2 = Seq(("state#org", "ds#A", "Done", 2), ("state#org", "ds#C", "To Do", 1))
      .toDF("partitionKey", "sortKey", "state", "rev")
    MergeWriter.merge(spark, dir, v2, Seq("partitionKey", "sortKey"))
    val rows = MergeWriter.readTable(spark, dir).collect()
      .map(r => r.getAs[String]("sortKey") -> r.getAs[String]("state")).toMap
    assert(rows == Map("ds#A" -> "Done", "ds#B" -> "To Do", "ds#C" -> "To Do"))

    // at-least-once replay of the same batch changes nothing (L2 semantics)
    MergeWriter.merge(spark, dir, v2, Seq("partitionKey", "sortKey"))
    assert(MergeWriter.readTable(spark, dir).count() == 3)
  }

  test("mergeVersioned refuses to regress rows on stale out-of-order replay") {
    import spark.implicits._
    val dir = Files.createTempDirectory("vmerge").toString + "/t"
    val old = Seq(("A", "v-old", 1L), ("B", "v-old", 1L)).toDF("k", "s", "ver")
    val newer = Seq(("A", "v-new", 5L)).toDF("k", "s", "ver")
    MergeWriter.mergeVersioned(spark, dir, old, Seq("k"), "ver", buckets = 4)
    MergeWriter.mergeVersioned(spark, dir, newer, Seq("k"), "ver", buckets = 4)
    // the STALE batch arrives after the newer merge: plain merge would set
    // A back to v-old; the version guard must keep v-new
    MergeWriter.mergeVersioned(spark, dir, old, Seq("k"), "ver", buckets = 4)
    val rows = MergeWriter.readTable(spark, dir).collect()
      .map(r => (r.getAs[String]("k"), r.getAs[String]("s"), r.getAs[Long]("ver")))
      .toSet
    assert(rows == Set(("A", "v-new", 5L), ("B", "v-old", 1L)))

    // version TIE keeps the stored row (exact-replay idempotence)
    MergeWriter.mergeVersioned(spark, dir,
      Seq(("A", "v-tie", 5L)).toDF("k", "s", "ver"), Seq("k"), "ver", buckets = 4)
    val a = MergeWriter.readTable(spark, dir).filter(col("k") === "A")
      .collect().map(_.getAs[String]("s")).toSeq
    assert(a == Seq("v-new"))

    // intra-batch duplicates on a fresh table resolve newest-first
    val dir2 = Files.createTempDirectory("vmerge2").toString + "/t"
    MergeWriter.mergeVersioned(spark, dir2,
      Seq(("X", "v1", 1L), ("X", "v2", 2L)).toDF("k", "s", "ver"),
      Seq("k"), "ver", buckets = 4)
    assert(MergeWriter.readTable(spark, dir2).collect()
      .map(r => (r.getAs[String]("k"), r.getAs[String]("s"))).toSeq ==
      Seq("X" -> "v2"))
  }

  test("merge rewrites only buckets containing incoming keys") {
    import spark.implicits._
    val dir = Files.createTempDirectory("bmerge").toString + "/t"
    val v1 = (0 until 64).map(i => (s"k$i", i)).toDF("k", "v")
    MergeWriter.merge(spark, dir, v1, Seq("k"), buckets = 8)
    val before = MergeWriter.currentEpochs(spark, dir)
    assert(before.size > 1, "fixture should span several buckets")

    MergeWriter.merge(spark, dir, Seq(("k0", 100)).toDF("k", "v"), Seq("k"), buckets = 8)
    val after = MergeWriter.currentEpochs(spark, dir)
    // exactly one bucket's epoch pointer moved; the rest still point at
    // the original epoch's immutable files
    val changed = before.keys.filter(b => before(b) != after(b))
    assert(changed.size == 1, s"exactly one bucket should be rewritten, got $changed")

    val rows = MergeWriter.readTable(spark, dir).collect()
      .map(r => r.getAs[String]("k") -> r.getAs[Int]("v")).toMap
    assert(rows.size == 64 && rows("k0") == 100 && rows("k1") == 1)
    assert(!MergeWriter.readTable(spark, dir).columns.contains(MergeWriter.BucketCol))
  }

  test("compact rewrites all buckets into one epoch and preserves content") {
    import spark.implicits._
    val dir = Files.createTempDirectory("compact").toString + "/t"
    // three merge rounds fragment the live buckets across three epochs
    MergeWriter.merge(spark, dir,
      (0 until 64).map(i => (s"k$i", i)).toDF("k", "v"), Seq("k"), buckets = 8)
    MergeWriter.merge(spark, dir,
      Seq(("k0", 100), ("k17", 117)).toDF("k", "v"), Seq("k"), buckets = 8)
    MergeWriter.merge(spark, dir,
      Seq(("k5", 105), ("k64", 64)).toDF("k", "v"), Seq("k"), buckets = 8)
    val before = MergeWriter.currentEpochs(spark, dir)
    assert(before.values.toSet.size > 1, "fixture should be fragmented")
    val expect = MergeWriter.readTable(spark, dir).collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap

    MergeWriter.compact(spark, dir)
    val after = MergeWriter.currentEpochs(spark, dir)
    assert(after.values.toSet.size == 1, "all buckets should share one epoch")
    assert(after.keySet == before.keySet, "live bucket set must not change")
    val got = MergeWriter.readTable(spark, dir).collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(got == expect, "compaction must not change row content")
    assert(got("k0") == 100 && got("k5") == 105 && got("k64") == 64)

    // the table stays writable: a post-compaction merge works and only
    // moves the touched bucket off the compacted epoch
    MergeWriter.merge(spark, dir, Seq(("k0", 200)).toDF("k", "v"),
      Seq("k"), buckets = 8)
    val rows = MergeWriter.readTable(spark, dir).collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(rows.size == 65 && rows("k0") == 200 && rows("k17") == 117)
  }

  test("evolveSchema adds columns with null backfill; plain merge stays fixed-schema") {
    import spark.implicits._
    val dir = Files.createTempDirectory("evolve").toString + "/t"
    MergeWriter.merge(spark, dir,
      Seq(("k0", 0), ("k1", 1)).toDF("k", "v"), Seq("k"), buckets = 4)
    // plain merge projects the incoming frame onto the stored schema —
    // an unknown column is dropped, the table schema never drifts
    MergeWriter.merge(spark, dir,
      Seq(("k1", 11, "x")).toDF("k", "v", "extra"), Seq("k"), buckets = 4)
    assert(MergeWriter.readTable(spark, dir).columns.sorted.sameElements(
      Array("k", "v")))
    // evolving merge: the new column lands, untouched rows read NULL
    MergeWriter.merge(spark, dir,
      Seq(("k2", 2, "s2")).toDF("k", "v", "score"), Seq("k"), buckets = 4,
      evolveSchema = true)
    val rows = MergeWriter.readTable(spark, dir).collect()
      .map(r => r.getAs[String]("k") ->
        ((r.getAs[Int]("v"), Option(r.getAs[String]("score"))))).toMap
    assert(rows == Map("k0" -> ((0, None)), "k1" -> ((11, None)),
      "k2" -> ((2, Some("s2")))))
  }

  test("mergeAdditive folds deltas exactly once under redelivery") {
    import spark.implicits._
    val dir = Files.createTempDirectory("additive").toString + "/t"
    def fold(rows: Seq[(String, Long)], v: Long): Unit =
      MergeWriter.mergeAdditive(spark, dir, rows.toDF("k", "n"),
        Seq("k"), Seq("n"), txn = ("app", v), buckets = 4)
    def read() = MergeWriter.readTable(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

    fold(Seq(("a", 2L), ("b", 3L)), 1L)
    fold(Seq(("a", 5L), ("c", 7L)), 2L) // matched adds, new key inserts
    assert(read() == Map("a" -> 7L, "b" -> 3L, "c" -> 7L))
    // exact redelivery and a stale older batch must both be skipped
    fold(Seq(("a", 5L), ("c", 7L)), 2L)
    fold(Seq(("a", 999L)), 1L)
    assert(read() == Map("a" -> 7L, "b" -> 3L, "c" -> 7L))
    // an empty batch records its txn: its later redelivery WITH rows
    // (a partial-failure retry that re-reads more data) must be skipped
    fold(Seq.empty, 3L)
    fold(Seq(("a", 100L)), 3L)
    assert(read() == Map("a" -> 7L, "b" -> 3L, "c" -> 7L))
    // the next genuine batch still applies
    fold(Seq(("b", 1L)), 4L)
    assert(read() == Map("a" -> 7L, "b" -> 4L, "c" -> 7L))
  }

  test("time travel pins a retained version; aged-out versions fail loudly") {
    import spark.implicits._
    val dir = Files.createTempDirectory("travel").toString + "/t"
    MergeWriter.merge(spark, dir,
      Seq(("k0", 0), ("k1", 1)).toDF("k", "v"), Seq("k"), buckets = 4)
    MergeWriter.merge(spark, dir,
      Seq(("k0", 100), ("k2", 2)).toDF("k", "v"), Seq("k"), buckets = 4)
    assert(MergeWriter.availableVersions(spark, dir) == Seq(1L, 2L))
    // version 1 still shows the pre-merge state even after version 2
    val v1 = MergeWriter.readTableVersion(spark, dir, 1L).collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(v1 == Map("k0" -> 0, "k1" -> 1))
    val v2 = MergeWriter.readTableVersion(spark, dir, 2L).collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(v2 == Map("k0" -> 100, "k1" -> 1, "k2" -> 2))
    // a third commit ages version 1 out (KeepManifests = 2): the pin
    // must fail loudly, not read wrong data
    MergeWriter.merge(spark, dir, Seq(("k3", 3)).toDF("k", "v"),
      Seq("k"), buckets = 4)
    assert(MergeWriter.availableVersions(spark, dir) == Seq(2L, 3L))
    val ex = intercept[IllegalArgumentException] {
      MergeWriter.readTableVersion(spark, dir, 1L)
    }
    assert(ex.getMessage.contains("not retained"))
  }

  test("a crashed merge (epoch written, manifest not committed) is invisible") {
    import spark.implicits._
    val dir = Files.createTempDirectory("crash").toString + "/t"
    val v1 = (0 until 16).map(i => (s"k$i", i)).toDF("k", "v")
    MergeWriter.merge(spark, dir, v1, Seq("k"), buckets = 4)
    val committed = MergeWriter.readTable(spark, dir).collect()
      .map(r => (r.getString(0), r.getInt(1))).toSet

    // simulate a writer dying AFTER its epoch data is fully on disk but
    // BEFORE the manifest rename: readers must keep seeing the old table
    val orphan = s"$dir/e-orphan-${java.util.UUID.randomUUID()}"
    Seq(("k0", 999), ("kX", 999)).toDF("k", "v")
      .withColumn(MergeWriter.BucketCol, lit(0))
      .write.partitionBy(MergeWriter.BucketCol).parquet(orphan)
    val seen = MergeWriter.readTable(spark, dir).collect()
      .map(r => (r.getString(0), r.getInt(1))).toSet
    assert(seen == committed, "uncommitted epoch leaked into reads")

    // a YOUNG orphan survives the next merge's gc — it could be a
    // concurrent writer mid-commit (the rebase window) — while staying
    // invisible to readers; an AGED orphan is reclaimed (gcNow = zero
    // retention simulates age)
    MergeWriter.merge(spark, dir, Seq(("k1", 101)).toDF("k", "v"), Seq("k"), buckets = 4)
    assert(new java.io.File(orphan).exists(),
      "young orphan must survive the concurrent-writer retention window")
    val rows = MergeWriter.readTable(spark, dir).collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(rows.size == 16 && rows("k1") == 101 && rows("k0") == 0)
    MergeWriter.gcNow(spark, dir)
    assert(!new java.io.File(orphan).exists(), "aged orphan should be GC'd")
    assert(MergeWriter.readTable(spark, dir).count() == 16)
  }

  test("concurrent disjoint-bucket merges all commit via rebase") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{hash => shash}
    val dir = Files.createTempDirectory("optcc").toString + "/t"
    // keys pre-sorted into their buckets so each thread owns a disjoint
    // bucket set (buckets = 4; thread 0 → {0,1}, thread 1 → {2,3})
    val byBucket = (0L until 64L).groupBy(k =>
      Seq(k).toDF("k").select(pmod(shash(col("k")), lit(4))).head().getInt(0))
    val mine = Seq(
      byBucket.filter(e => e._1 == 0 || e._1 == 1).values.flatten.toSeq,
      byBucket.filter(e => e._1 == 2 || e._1 == 3).values.flatten.toSeq)
    assert(mine.forall(_.nonEmpty))
    val rounds = 6
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    Await.result(Future.sequence((0 until 2).map { t =>
      Future {
        (1 to rounds).foreach { r =>
          MergeWriter.merge(spark, dir,
            mine(t).map(k => (k, t * 1000 + r)).toDF("k", "v"),
            Seq("k"), buckets = 4)
        }
      }
    }), Duration.Inf)
    // every writer's LAST round survived for every one of its keys:
    // lost updates would show an earlier round (or a missing key)
    val rows = MergeWriter.readTable(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    (0 until 2).foreach(t => mine(t).foreach(k =>
      assert(rows(k) == t * 1000 + rounds, s"key $k of thread $t")))
    assert(rows.size == 64)
  }

  test("contested-bucket concurrent merges conflict loudly, never corrupt") {
    import spark.implicits._
    val dir = Files.createTempDirectory("conflict").toString + "/t"
    MergeWriter.merge(spark, dir, Seq((1L, -1)).toDF("k", "v"), Seq("k"),
      buckets = 2)
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    val conflicts = new java.util.concurrent.atomic.AtomicInteger(0)
    val applied = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    Await.result(Future.sequence((0 until 2).map { t =>
      Future {
        (1 to 5).foreach { r =>
          try {
            MergeWriter.merge(spark, dir,
              Seq((1L, t * 100 + r)).toDF("k", "v"), Seq("k"), buckets = 2)
            applied.add(t * 100 + r)
          } catch {
            case _: java.util.ConcurrentModificationException =>
              conflicts.incrementAndGet()
          }
        }
      }
    }), Duration.Inf)
    // whatever interleaving happened: the table stays readable and holds
    // exactly one row whose value is one of the successfully applied
    // writes (conflicted writes changed nothing)
    val rows = MergeWriter.readTable(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getInt(1))
    assert(rows.length == 1)
    assert(applied.contains(rows.head._2) || rows.head._2 == -1)
  }

  test("commits keep the last versions readable and GC the rest") {
    import spark.implicits._
    val dir = Files.createTempDirectory("gc").toString + "/t"
    def manifests() = new java.io.File(dir).listFiles()
      .map(_.getName).filter(_.startsWith("_manifest-")).sorted.toSeq
    def epochs() = new java.io.File(dir).listFiles()
      .map(_.getName).filter(_.startsWith("e-")).toSet

    (1 to 4).foreach { i =>
      MergeWriter.merge(spark, dir,
        Seq((s"k$i", i)).toDF("k", "v"), Seq("k"), buckets = 2)
    }
    assert(manifests().size == MergeWriter.KeepManifests,
      s"old manifests should be pruned, got ${manifests()}")
    // every epoch on disk is referenced by a kept manifest
    val referenced = MergeWriter.currentEpochs(spark, dir).values.toSet
    assert(referenced.subsetOf(epochs()))
    val rows = MergeWriter.readTable(spark, dir).collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(rows == Map("k1" -> 1, "k2" -> 2, "k3" -> 3, "k4" -> 4))
  }

  test("a legacy pre-manifest table is refused by a merge until upgrade rewrites it") {
    import spark.implicits._
    val dir = Files.createTempDirectory("legacy").toString + "/t"
    // old layout: __bucket= partition dirs at the table root
    (0 until 8).map(i => (s"k$i", i)).toDF("k", "v")
      .withColumn(MergeWriter.BucketCol, pmod(hash(col("k")), lit(4)))
      .write.partitionBy(MergeWriter.BucketCol).parquet(dir)
    val refused = intercept[IllegalStateException] {
      MergeWriter.merge(spark, dir, Seq(("k0", 100)).toDF("k", "v"),
        Seq("k"), buckets = 4)
    }
    assert(refused.getMessage.contains("system.upgrade"), refused.getMessage)
    MergeWriter.upgrade(spark, dir, Seq("k"))
    MergeWriter.merge(spark, dir, Seq(("k0", 100)).toDF("k", "v"),
      Seq("k"), buckets = 4)
    val rows = MergeWriter.readTable(spark, dir).collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(rows.size == 8 && rows("k0") == 100 && rows("k7") == 7)
    // root-level legacy partition dirs are gone after the upgrade
    assert(!new java.io.File(dir).listFiles()
      .exists(f => f.getName.startsWith(MergeWriter.BucketCol + "=")))

    // an additive fold is refused too; after the upgrade the legacy rows
    // survive and the delta folds into them
    val add = Files.createTempDirectory("legacyadd").toString + "/t"
    Seq(("a", 1L), ("b", 2L)).toDF("k", "n").write.parquet(add)
    def fold(): Unit = MergeWriter.mergeAdditive(spark, add,
      Seq(("a", 5L)).toDF("k", "n"), Seq("k"), Seq("n"), txn = ("app", 1L),
      buckets = 4)
    assert(intercept[IllegalStateException](fold()).getMessage
      .contains("system.upgrade"))
    MergeWriter.upgrade(spark, add, Seq("k"))
    fold()
    assert(MergeWriter.readTable(spark, add).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap ==
      Map("a" -> 6L, "b" -> 2L))
  }

  test("splitBuckets doubles the modulus; reads, merges and lookups carry over") {
    import spark.implicits._
    val dir = Files.createTempDirectory("split").toString + "/t"
    MergeWriter.merge(spark, dir,
      (0 until 64).map(i => (s"k$i", i)).toDF("k", "v"), Seq("k"), buckets = 4)
    val preVersion = MergeWriter.availableVersions(spark, dir).last
    val expect = MergeWriter.readTable(spark, dir).collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap

    MergeWriter.splitBuckets(spark, dir, Seq("k"))
    val epochs8 = MergeWriter.currentEpochs(spark, dir)
    assert(epochs8.keys.max >= 4 && epochs8.keys.forall(_ < 8),
      s"split table should address 8 buckets, got ${epochs8.keys.toSeq.sorted}")
    assert(MergeWriter.describeTable(spark, dir).collect()(0)
      .getAs[Int]("buckets") == 8)
    // the split is a physical re-bin only: logical content is untouched
    assert(MergeWriter.readTable(spark, dir).collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap == expect)
    // a reader pinned to the PRE-split version keeps its own modulus
    assert(MergeWriter.readTableVersion(spark, dir, preVersion).collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap == expect)

    // merges after the split prune by the NEW modulus: a single-key
    // update rewrites exactly one of the 8 buckets, and the survivors it
    // read were found under the refined layout (a wrong-modulus prune
    // would silently lose the bucket's other keys)
    val before = MergeWriter.currentEpochs(spark, dir)
    MergeWriter.merge(spark, dir, Seq(("k0", 100)).toDF("k", "v"), Seq("k"))
    val after = MergeWriter.currentEpochs(spark, dir)
    assert(before.keys.count(b => before.get(b) != after.get(b)) == 1)
    val rows = MergeWriter.readTable(spark, dir).collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(rows.size == 64 && rows("k0") == 100 && rows("k63") == 63)

    // point lookups resolve through the new modulus too
    val hit = MergeWriter.readKeys(spark, dir,
      Seq(Tuple1("k7")).toDF("k"), Seq("k")).collect()
    assert(hit.map(r => r.getString(0) -> r.getInt(1)).toSeq == Seq("k7" -> 7))

    // growth is repeatable: a second split reaches 16 buckets
    MergeWriter.splitBuckets(spark, dir, Seq("k"))
    assert(MergeWriter.describeTable(spark, dir).collect()(0)
      .getAs[Int]("buckets") == 16)
    assert(MergeWriter.readTable(spark, dir).count() == 64)
  }

  test("vacuum on an unmigrated legacy table is a no-op, never destructive") {
    import spark.implicits._
    val dir = Files.createTempDirectory("legacyvac").toString + "/t"
    // legacy layout: plain part- files at the table root, no manifest —
    // these ARE the data, not migration leftovers; vacuum must not treat
    // them as root-level debris (a 0-retention vacuum is the worst case)
    (0 until 8).map(i => (s"k$i", i)).toDF("k", "v").write.parquet(dir)
    MergeWriter.vacuum(spark, dir, retentionMs = 0L)
    assert(MergeWriter.readTable(spark, dir).count() == 8,
      "vacuum destroyed an unmigrated legacy table")
    assert(new java.io.File(dir).listFiles()
      .exists(_.getName.startsWith("part-")), "legacy data files deleted")
  }

  test("a table-creation race loser with a different bucket count conflicts") {
    import spark.implicits._
    val dir = Files.createTempDirectory("bucketrace").toString + "/t"
    // winner creates the table with 4 buckets
    MergeWriter.merge(spark, dir,
      (0 until 16).map(i => (s"k$i", i)).toDF("k", "v"), Seq("k"), buckets = 4)
    // loser observed "no manifest" before the winner committed and hashed
    // its rows with an 8-bucket modulus: its pointers are meaningless under
    // the winner's layout — rebasing them would make pruned reads miss rows
    // silently, so the commit must fail loudly instead
    intercept[java.util.ConcurrentModificationException] {
      MergeWriter.commitAsCreationLoser(spark, dir,
        Seq(("kX", 999)).toDF("k", "v"), Seq("k"), buckets = 8)
    }
    // the winner's table is intact, still at its own modulus
    val rows = MergeWriter.readTable(spark, dir).collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(rows.size == 16 && !rows.contains("kX"))
  }

  test("gc age-guards staged manifests of concurrent committers") {
    import spark.implicits._
    val dir = Files.createTempDirectory("tmpman").toString + "/t"
    MergeWriter.merge(spark, dir, Seq(("k1", 1)).toDF("k", "v"), Seq("k"),
      buckets = 2)
    // a concurrent writer's staged manifest sits between fs.create and its
    // link/rename; another writer's post-commit gc must leave it alone
    // until the orphan window passes
    val staged = new java.io.File(dir, ".tmp-manifest-test")
    java.nio.file.Files.writeString(staged.toPath, "{}")
    MergeWriter.merge(spark, dir, Seq(("k2", 2)).toDF("k", "v"), Seq("k"),
      buckets = 2)
    assert(staged.exists(),
      "young staged manifest reaped inside the concurrent-commit window")
    MergeWriter.gcNow(spark, dir)
    assert(!staged.exists(), "aged staged manifest should be reclaimed")
  }

  test("mergeGroup flips states and customFields atomically; a crash " +
       "between the two stages is invisible") {
    import spark.implicits._
    val grp = Files.createTempDirectory("group").toString + "/load"
    val states1 = Seq(("org#1", "item#A", "To Do"), ("org#1", "item#B", "Doing"))
      .toDF("partitionKey", "sortKey", "state")
    val cf1 = Seq(("item#A", "team", "red"), ("item#A", "points", "3"),
      ("item#B", "team", "blue")).toDF("workItemId", "name", "value")
    MergeWriter.loadStatesWithCustomFields(spark, grp, states1,
      Seq("partitionKey", "sortKey"), cf1, txn = Some(("l1", 1L)))
    assert(MergeWriter.readGroupTable(spark, grp, "states").count() == 2)
    assert(MergeWriter.readGroupTable(spark, grp, "customFields").count() == 3)

    // CRASH between the two writes: the states epoch for batch 2 is fully
    // staged on disk, the customFields stage and the group commit never
    // ran — the reference's torn-L1 scenario. No reader may see batch 2's
    // states next to batch 1's customFields.
    val states2 = Seq(("org#1", "item#A", "Done"))
      .toDF("partitionKey", "sortKey", "state")
    MergeWriter.stageGroupMemberForTest(spark, grp, "states", states2,
      Seq("partitionKey", "sortKey"), buckets = 4)
    val stateSeen = MergeWriter.readGroupTable(spark, grp, "states").collect()
      .map(r => r.getAs[String]("sortKey") -> r.getAs[String]("state")).toMap
    assert(stateSeen("item#A") == "To Do",
      "torn state visible: staged-but-uncommitted member epoch leaked")

    // the batch is REDELIVERED (at-least-once) and now completes: both
    // tables flip together — item#A Done AND its custom fields replaced
    val cf2 = Seq(("item#A", "team", "green")).toDF("workItemId", "name", "value")
    MergeWriter.loadStatesWithCustomFields(spark, grp, states2,
      Seq("partitionKey", "sortKey"), cf2, txn = Some(("l1", 2L)))
    val after = MergeWriter.readGroupTable(spark, grp, "states").collect()
      .map(r => r.getAs[String]("sortKey") -> r.getAs[String]("state")).toMap
    assert(after == Map("item#A" -> "Done", "item#B" -> "Doing"))
    val cfAfter = MergeWriter.readGroupTable(spark, grp, "customFields")
      .collect().map(r => (r.getAs[String]("workItemId"),
        r.getAs[String]("name"), r.getAs[String]("value"))).toSet
    // item#A's old field rows are REPLACED wholesale (the L1 delete+insert
    // shape); item#B's survive untouched
    assert(cfAfter == Set(("item#A", "team", "green"), ("item#B", "team", "blue")))

    // replaying the whole batch (same txn) is skipped by the group ledger
    MergeWriter.loadStatesWithCustomFields(spark, grp,
      Seq(("org#1", "item#A", "REGRESSED")).toDF("partitionKey", "sortKey", "state"),
      Seq("partitionKey", "sortKey"), cf2, txn = Some(("l1", 2L)))
    assert(MergeWriter.readGroupTable(spark, grp, "states").collect()
      .map(_.getAs[String]("state")).toSet == Set("Done", "Doing"))

    // the crashed stage's orphan epoch is reclaimed once aged
    MergeWriter.gcGroupNow(spark, grp)
    val liveEpochs = new java.io.File(grp, "states").listFiles()
      .map(_.getName).filter(_.startsWith("e-")).toSet
    assert(liveEpochs.size <= MergeWriter.KeepManifests * 2,
      s"orphaned staged epochs not reclaimed: $liveEpochs")
  }

  test("expireTxns retires an app's replay guard; surviving apps keep theirs") {
    import spark.implicits._
    val dir = Files.createTempDirectory("txnexp").toString + "/t"
    def fold(app: String, v: Long, n: Long): Unit =
      MergeWriter.mergeAdditive(spark, dir,
        Seq(("k", n)).toDF("k", "n"), Seq("k"), Seq("n"),
        txn = (app, v), buckets = 2)
    fold("a", 1L, 10L)
    fold("b", 1L, 1L)
    def total(): Long = MergeWriter.readTable(spark, dir)
      .agg(sum(col("n"))).head().getLong(0)
    assert(total() == 11L)
    // both guards live: replays skip
    fold("a", 1L, 10L); fold("b", 1L, 1L)
    assert(total() == 11L)
    MergeWriter.expireTxns(spark, dir, Seq("a"))
    assert(MergeWriter.describeTable(spark, dir).collect()(0)
      .getAs[Int]("n_txns") == 1)
    // a's guard is gone — a replayed delivery re-applies (the documented
    // cost of expiry; only decommissioned writers may be expired) —
    // while b's survives the expiry commit
    fold("a", 1L, 10L)
    assert(total() == 21L)
    fold("b", 1L, 1L)
    assert(total() == 21L)
    // content is untouched by the expiry commit itself
    assert(MergeWriter.readTable(spark, dir).count() == 1)
  }

  test("dedupeOnKey keeps the newest row per key") {
    import spark.implicits._
    val batch = Seq(("A", 1, "old"), ("A", 2, "new"), ("B", 1, "only"))
      .toDF("id", "rev", "v")
    val out = MergeWriter.dedupeOnKey(batch, Seq("id"), Seq(col("rev")))
      .collect().map(r => r.getAs[String]("id") -> r.getAs[String]("v")).toMap
    assert(out == Map("A" -> "new", "B" -> "only"))
  }

  test("manifest records the schema; each pinned version reads its own") {
    import spark.implicits._
    val dir = Files.createTempDirectory("schema").toString + "/t"
    MergeWriter.merge(spark, dir,
      Seq(("k0", 0)).toDF("k", "v"), Seq("k"), buckets = 4)
    // the committed manifest carries the table schema — readers plan with
    // it instead of running a distributed parquet-footer merge per read
    val manifests = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("_manifest-"))
    assert(manifests.nonEmpty)
    val body = new String(Files.readAllBytes(manifests.maxBy(_.getName).toPath))
    assert(body.contains("\"schema\""))
    assert(body.contains("struct")) // StructType.json payload

    // evolve, then pin the pre-evolution version: it must read with the
    // pre-evolution schema, not the current one
    MergeWriter.merge(spark, dir,
      Seq(("k1", 1, "s1")).toDF("k", "v", "score"), Seq("k"), buckets = 4,
      evolveSchema = true)
    val versions = MergeWriter.availableVersions(spark, dir)
    assert(MergeWriter.readTableVersion(spark, dir, versions.head)
      .columns.sorted.sameElements(Array("k", "v")))
    assert(MergeWriter.readTableVersion(spark, dir, versions.last)
      .columns.sorted.sameElements(Array("k", "score", "v")))
    // current read sees the evolved schema with null backfill
    val cur = MergeWriter.readTable(spark, dir).collect()
      .map(r => r.getAs[String]("k") -> Option(r.getAs[String]("score"))).toMap
    assert(cur == Map("k0" -> None, "k1" -> Some("s1")))
  }

  test("auto-compaction bounds live epoch count across merge rounds") {
    import spark.implicits._
    val dir = Files.createTempDirectory("autocompact").toString + "/t"
    def liveEpochs(): Int =
      MergeWriter.currentEpochs(spark, dir).values.toSet.size
    // 8 merge rounds on disjoint keys, threshold 3: without compaction
    // the table would hold 8 live epochs; the policy must keep it ≤ 3+1
    // (a merge may land the threshold+1'th epoch before its compaction)
    (0 until 8).foreach { i =>
      MergeWriter.merge(spark, dir,
        Seq((s"k$i", i)).toDF("k", "v"), Seq("k"), buckets = 4,
        autoCompactEpochs = 3)
      assert(liveEpochs() <= 4, s"round $i left ${liveEpochs()} live epochs")
    }
    // content is untouched by the rewrites
    val rows = MergeWriter.readTable(spark, dir).collect()
      .map(r => r.getAs[String]("k") -> r.getAs[Int]("v")).toMap
    assert(rows == (0 until 8).map(i => s"k$i" -> i).toMap)
    // a compaction commit is still a commit: version history advanced
    // and the latest version reads coherently through time travel
    val vs = MergeWriter.availableVersions(spark, dir)
    assert(vs.size == MergeWriter.KeepManifests)
    assert(MergeWriter.readTableVersion(spark, dir, vs.last).count() == 8)
  }

  test("delete removes keyed rows and drops emptied-bucket pointers") {
    import spark.implicits._
    val dir = Files.createTempDirectory("delete").toString + "/t"
    val rows = (0 until 40).map(i => (i.toLong, s"v$i")).toDF("k", "v")
    MergeWriter.merge(spark, dir, rows, Seq("k"), buckets = 4)
    val bucketsBefore = MergeWriter.currentEpochs(spark, dir).keySet
    assert(bucketsBefore == Set(0, 1, 2, 3))
    // delete every key of ONE bucket plus a couple from another: the
    // emptied bucket's pointer must vanish, the partial bucket rewrites
    val byBucket = rows
      .select(col("k"), pmod(hash(col("k")), lit(4)).as("b"))
      .as[(Long, Int)].collect().groupBy(_._2).view
      .mapValues(_.map(_._1).toSeq).toMap
    val victimBucket = byBucket.keys.head
    val full = byBucket(victimBucket)
    val partial = byBucket.filterNot(_._1 == victimBucket).values.head.take(2)
    MergeWriter.delete(spark, dir,
      (full ++ partial).toDF("k"), Seq("k"))
    val left = MergeWriter.readTable(spark, dir).select("k").as[Long]
      .collect().toSet
    assert(left == (0L until 40L).toSet -- full -- partial)
    assert(!MergeWriter.currentEpochs(spark, dir).keySet.contains(victimBucket))
    // replay and never-stored keys: version must NOT advance (no-op)
    val verAfter = MergeWriter.availableVersions(spark, dir).last
    MergeWriter.delete(spark, dir, full.toDF("k"), Seq("k"))
    MergeWriter.delete(spark, dir, Seq(999L).toDF("k"), Seq("k"))
    assert(MergeWriter.availableVersions(spark, dir).last == verAfter ||
      MergeWriter.readTable(spark, dir).count() == left.size)
  }

  test("readKeys scans only the wanted keys' buckets") {
    import spark.implicits._
    val dir = Files.createTempDirectory("readkeys").toString + "/t"
    val rows = (0 until 64).map(i => (i.toLong, s"v$i")).toDF("k", "v")
    MergeWriter.merge(spark, dir, rows, Seq("k"), buckets = 8)
    val wanted = Seq(3L, 17L, 999L).toDF("k") // 999 absent
    val got = MergeWriter.readKeys(spark, dir, wanted, Seq("k"))
    val out = got.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(3L -> "v3", 17L -> "v17"))
    // the scan is PRUNED: the file relations' root paths cover only the
    // wanted keys' buckets, not all 8 (logical plan — AQE wraps the
    // physical one)
    val scanned = got.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        r.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            h.location.rootPaths.map(_.toString)
          case _ => Seq.empty[String]
        }
    }.flatten
      .flatMap("__bucket=(\\d+)".r.findAllMatchIn(_).map(_.group(1).toInt))
      .toSet
    val wantedBuckets = Seq(3L, 17L, 999L)
      .map(k => Seq(k).toDF("k")
        .select(org.apache.spark.sql.functions.pmod(
          org.apache.spark.sql.functions.hash(col("k")),
          org.apache.spark.sql.functions.lit(8)))
        .head().getInt(0)).toSet
    assert(scanned.nonEmpty && scanned.subsetOf(wantedBuckets),
      s"scanned $scanned, wanted only $wantedBuckets")
    // all-absent lookup returns empty without erroring
    assert(MergeWriter.readKeys(spark, dir,
      Seq(5000L).toDF("k"), Seq("k")).count() == 0)
  }

  test("mergeAll commits every table; duplicate paths are rejected") {
    import spark.implicits._
    val root = Files.createTempDirectory("mergeall").toString
    val merges = (0 until 3).map { t =>
      (s"$root/t$t",
        (0 until 10).map(i => (i.toLong, s"t$t-v$i")).toDF("k", "v"),
        Seq("k"))
    }
    MergeWriter.mergeAll(spark, merges, buckets = 4)
    merges.foreach { case (path, _, _) =>
      val rows = MergeWriter.readTable(spark, path).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(rows.size == 10 && rows(3L).endsWith("-v3"), path)
    }
    // single-writer-per-table contract: duplicate targets fail loudly
    intercept[IllegalArgumentException] {
      MergeWriter.mergeAll(spark,
        Seq((s"$root/dup", merges.head._2, Seq("k")),
          (s"$root/dup", merges.head._2, Seq("k"))), buckets = 4)
    }
  }

  test("model check: random merge/delete/compact sequences match a Map") {
    import spark.implicits._
    // seeded: the sequence is deterministic across runs
    val rnd = new scala.util.Random(42)
    val dir = Files.createTempDirectory("model").toString + "/t"
    var model = Map.empty[Long, Int]
    def check(step: Int): Unit = {
      val stored =
        if (model.isEmpty && MergeWriter.currentEpochs(spark, dir).isEmpty)
          Map.empty[Long, Int]
        else MergeWriter.readTable(spark, dir).collect()
          .map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(stored == model, s"diverged at step $step")
    }
    (0 until 24).foreach { step =>
      rnd.nextInt(4) match {
        case 0 | 1 =>
          // key-unique upsert batch (the dedupeOnKey contract upstream)
          val kvs = Seq.fill(rnd.nextInt(12) + 1)(
            (rnd.nextInt(30).toLong, rnd.nextInt(1000))).toMap
          MergeWriter.merge(spark, dir, kvs.toSeq.toDF("k", "v"), Seq("k"),
            buckets = 4, autoCompactEpochs = 3)
          model = model ++ kvs
        case 2 if model.nonEmpty =>
          // mix of present and absent keys
          val ks = rnd.shuffle(model.keys.toSeq).take(rnd.nextInt(4) + 1) :+
            (100L + rnd.nextInt(10))
          MergeWriter.delete(spark, dir, ks.toDF("k"), Seq("k"),
            autoCompactEpochs = 3)
          model = model -- ks
        case 2 => () // delete on an empty/absent table: no-op
        case 3 if MergeWriter.currentEpochs(spark, dir).nonEmpty =>
          MergeWriter.compact(spark, dir)
        case 3 => ()
      }
      if (step % 4 == 3) check(step)
    }
    check(24)
  }

  test("model check: clustered tables with splits, range and point reads " +
       "match a Map") {
    import spark.implicits._
    // seeded: deterministic across runs. Exercises the round-9 surface —
    // clustering + multi-file buckets (maxRecordsPerFile), per-file
    // stats across merge/delete/compact/split, and the two stats-pruned
    // read paths — against a reference Map after every few steps.
    val rnd = new scala.util.Random(1234)
    val dir = Files.createTempDirectory("model2").toString + "/t"
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "20")
    try {
      var model = Map.empty[Long, (Int, Int)] // k -> (d cluster col, v)
      def check(step: Int): Unit = {
        val stored =
          if (model.isEmpty && MergeWriter.currentEpochs(spark, dir).isEmpty)
            Map.empty[Long, (Int, Int)]
          else MergeWriter.readTable(spark, dir).collect()
            .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2))).toMap
        assert(stored == model, s"table diverged at step $step")
        if (MergeWriter.currentEpochs(spark, dir).nonEmpty) {
          val lo = rnd.nextInt(100)
          val hi = lo + rnd.nextInt(40)
          val ranged = MergeWriter.readTableRange(spark, dir, "d",
            Some(lo), Some(hi)).collect()
            .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2))).toMap
          val expected = model.filter { case (_, (d, _)) => d >= lo && d <= hi }
          assert(ranged == expected, s"range read diverged at step $step " +
            s"([$lo,$hi]): got ${ranged.size}, want ${expected.size}")
          val want = Seq.fill(4)(rnd.nextInt(80).toLong).distinct
          val points = MergeWriter.readKeys(spark, dir, want.toDF("k"),
            Seq("k")).collect()
            .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2))).toMap
          assert(points == model.filter(kv => want.contains(kv._1)),
            s"point read diverged at step $step")
        }
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
            val ks = rnd.shuffle(model.keys.toSeq).take(rnd.nextInt(6) + 1) :+
              (200L + rnd.nextInt(10))
            MergeWriter.delete(spark, dir, ks.toDF("k"), Seq("k"),
              autoCompactEpochs = 3)
            model = model -- ks
          case 3 => ()
          case 4 if MergeWriter.currentEpochs(spark, dir).nonEmpty =>
            MergeWriter.compact(spark, dir)
          case 4 => ()
          case 5 if MergeWriter.currentEpochs(spark, dir).nonEmpty =>
            MergeWriter.splitBuckets(spark, dir, Seq("k"))
          case 5 => ()
        }
        if (step % 4 == 3) check(step)
      }
      check(20)
    } finally spark.conf.unset("spark.sql.files.maxRecordsPerFile")
  }

  test("model check: bloom'd tables answer equality and IN probes exactly " +
       "through merge/delete/compact/split") {
    import spark.implicits._
    // seeded: the round-9 Bloom/IN surface — sidecars maintained across
    // every epoch-writing op, probed as equality, IN-list, and a
    // conjunction with the cluster column — against a reference Map
    val rnd = new scala.util.Random(4321)
    val dir = Files.createTempDirectory("model3").toString + "/t"
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "20")
    try {
      var model = Map.empty[Long, (Int, Int)] // k -> (d cluster, v bloom)
      def check(step: Int): Unit =
        if (MergeWriter.currentEpochs(spark, dir).nonEmpty) {
          val v0 = rnd.nextInt(50)
          val eq = MergeWriter.readTableWhere(spark, dir, Seq(
            MergeWriter.ColumnRange("v", Some(v0), Some(v0)))).collect()
            .map(r => r.getLong(0)).toSet
          assert(eq == model.filter(_._2._2 == v0).keySet,
            s"equality probe diverged at step $step (v=$v0)")
          val ins = Seq.fill(3)(rnd.nextInt(50)).distinct
          val got = MergeWriter.readTableWhere(spark, dir, Seq(
            MergeWriter.ColumnIn("v", ins))).collect()
            .map(r => r.getLong(0)).toSet
          assert(got == model.filter(kv => ins.contains(kv._2._2)).keySet,
            s"IN probe diverged at step $step ($ins)")
          val (lo, hi) = { val l = rnd.nextInt(100); (l, l + rnd.nextInt(40)) }
          val both = MergeWriter.readTableWhere(spark, dir, Seq(
            MergeWriter.ColumnRange("d", Some(lo), Some(hi)),
            MergeWriter.ColumnIn("v", ins))).collect()
            .map(r => r.getLong(0)).toSet
          assert(both == model.filter { case (_, (d, v)) =>
            d >= lo && d <= hi && ins.contains(v) }.keySet,
            s"conjunction probe diverged at step $step")
        }
      (0 until 16).foreach { step =>
        rnd.nextInt(6) match {
          case 0 | 1 | 2 =>
            val kvs = Seq.fill(rnd.nextInt(25) + 1)(
              (rnd.nextInt(80).toLong, (rnd.nextInt(100), rnd.nextInt(50))))
              .toMap
            MergeWriter.merge(spark, dir,
              kvs.toSeq.map { case (k, (d, v)) => (k, d, v) }
                .toDF("k", "d", "v"),
              Seq("k"), buckets = 2, autoCompactEpochs = 3,
              clusterBy = Seq("d"), bloomBy = Seq("v"), bloomItems = 200)
            model = model ++ kvs
          case 3 if model.nonEmpty =>
            val ks = rnd.shuffle(model.keys.toSeq).take(rnd.nextInt(6) + 1)
            MergeWriter.delete(spark, dir, ks.toDF("k"), Seq("k"),
              autoCompactEpochs = 3)
            model = model -- ks
          case 3 => ()
          case 4 if MergeWriter.currentEpochs(spark, dir).nonEmpty =>
            MergeWriter.compact(spark, dir)
          case 4 => ()
          case 5 if MergeWriter.currentEpochs(spark, dir).nonEmpty =>
            MergeWriter.splitBuckets(spark, dir, Seq("k"))
          case 5 => ()
        }
        if (step % 4 == 3) check(step)
      }
      check(16)
    } finally spark.conf.unset("spark.sql.files.maxRecordsPerFile")
  }

  test("compact(targetFileBytes) bounds output files from manifest stats") {
    import spark.implicits._
    val dir = Files.createTempDirectory("sizedcompact").toString + "/t"
    val rows = (0 until 4000).map(i =>
      (i.toLong, i % 365, s"payload-$i-${"x" * 40}")).toDF("k", "d", "v")
    MergeWriter.merge(spark, dir, rows, Seq("k"), buckets = 4,
      clusterBy = Seq("d"))
    val before = MergeWriter.readTable(spark, dir).inputFiles.length
    assert(before == 4, s"setup: expected one file per bucket, got $before")
    val totalBytes = MergeWriter.describeTable(spark, dir)
      .collect().head.getAs[Long]("total_bytes")
    // target an eighth of the table per file -> ≥2 files per bucket
    MergeWriter.compact(spark, dir, targetFileBytes = totalBytes / 8)
    val files = MergeWriter.readTable(spark, dir).inputFiles
    assert(files.length > before,
      s"sized compaction produced ${files.length} files (was $before)")
    // bounded: no output file wildly above the target (2x slack for
    // row-group granularity and the bytes-per-row estimate)
    files.foreach { f =>
      val len = new java.io.File(new java.net.URI(f)).length()
      assert(len <= totalBytes / 8 * 2, s"file $f is $len bytes")
    }
    // content untouched
    assert(MergeWriter.readTable(spark, dir).count() == 4000)
  }

  test("evolveSchema keeps bloom sidecars live on the evolved epochs") {
    import spark.implicits._
    val dir = Files.createTempDirectory("bloomevolve").toString + "/t"
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "50")
    try {
      val d0 = java.time.LocalDate.of(2024, 1, 1)
      def rows(n: Int) = (0 until n).map { i =>
        (s"item#${i % 199}", java.sql.Date.valueOf(d0.plusDays(i / 10)), i)
      }.toDF("workItemId", "snapshotDate", "rev")
      MergeWriter.merge(spark, dir, rows(400),
        Seq("workItemId", "snapshotDate"), buckets = 4,
        clusterBy = Seq("snapshotDate"),
        bloomBy = Seq("workItemId"), bloomItems = 500)
      // additive evolution: a new column arrives; the union-schema epoch
      // must still carry a sidecar for the recorded bloom column
      MergeWriter.merge(spark, dir,
        rows(100).withColumn("score", col("rev") * 2),
        Seq("workItemId", "snapshotDate"), evolveSchema = true)
      val probe = MergeWriter.readTableWhere(spark, dir, Seq(
        MergeWriter.ColumnRange("workItemId", Some("item#7"), Some("item#7"))))
      val full = MergeWriter.readTable(spark, dir)
        .filter(col("workItemId") === "item#7")
      assert(probe.collect().map(_.toSeq).toSet ==
        full.collect().map(_.toSeq).toSet)
      val all = MergeWriter.readTable(spark, dir).inputFiles.toSet
      val opened = probe.inputFiles.toSet
      assert(opened.size < all.size,
        s"no skip after evolution (${opened.size} of ${all.size})")
    } finally spark.conf.unset("spark.sql.files.maxRecordsPerFile")
  }

  test("vacuum reclaims aged orphans; describeTable reports table state") {
    import spark.implicits._
    val dir = Files.createTempDirectory("vacuum").toString + "/t"
    MergeWriter.merge(spark, dir,
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"), Seq("k"), buckets = 4)
    val orphan = s"$dir/e-orphan-${java.util.UUID.randomUUID()}"
    Seq((9L, "x")).toDF("k", "v")
      .withColumn(MergeWriter.BucketCol, lit(0))
      .write.partitionBy(MergeWriter.BucketCol).parquet(orphan)
    // default retention keeps the young orphan; zero retention reclaims
    MergeWriter.vacuum(spark, dir)
    assert(new java.io.File(orphan).exists())
    MergeWriter.vacuum(spark, dir, retentionMs = 0L)
    assert(!new java.io.File(orphan).exists())
    assert(MergeWriter.readTable(spark, dir).count() == 2)

    val d = MergeWriter.describeTable(spark, dir).collect().head
    assert(d.getAs[Long]("version") == 1L)
    assert(d.getAs[Int]("buckets") == 4)
    assert(d.getAs[Int]("live_epochs") == 1)
    assert(d.getAs[String]("schema_ddl").contains("k BIGINT"))
    assert(MergeWriter.describeTable(spark,
      Files.createTempDirectory("absent").toString + "/none").count() == 0)
  }

  test("delete + truncateHistory + vacuum is a full physical purge") {
    import spark.implicits._
    val dir = Files.createTempDirectory("purge").toString + "/t"
    MergeWriter.merge(spark, dir,
      Seq((1L, "secret"), (2L, "keep")).toDF("k", "v"), Seq("k"), buckets = 2)
    MergeWriter.merge(spark, dir,
      Seq((1L, "secret-v2")).toDF("k", "v"), Seq("k"), buckets = 2)
    MergeWriter.delete(spark, dir, Seq(1L).toDF("k"), Seq("k"))
    // time travel still serves the deleted row from a retained version
    val vs = MergeWriter.availableVersions(spark, dir)
    assert(MergeWriter.readTableVersion(spark, dir, vs.head)
      .filter(col("k") === 1L).count() == 1)
    // truncate: every retained version now post-dates the delete
    MergeWriter.truncateHistory(spark, dir)
    MergeWriter.availableVersions(spark, dir).foreach { v =>
      assert(MergeWriter.readTableVersion(spark, dir, v)
        .filter(col("k") === 1L).count() == 0, s"version $v")
    }
    // vacuum reclaims the superseded epochs: NO parquet file under the
    // table still holds the secret
    MergeWriter.vacuum(spark, dir, retentionMs = 0L)
    val leftovers = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(dir)).filter(_.getName.endsWith(".parquet"))
    }
    assert(leftovers.nonEmpty)
    val all = spark.read.parquet(leftovers.map(_.getPath): _*)
    assert(all.filter(col("v").startsWith("secret")).count() == 0,
      "purged value still on disk")
    assert(MergeWriter.readTable(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap == Map(2L -> "keep"))
  }

  test("a keyed replace on the partition column replaces only touched partitions") {
    import spark.implicits._
    val dir = Files.createTempDirectory("cwim").toString + "/cwim"
    val v1 = Seq(("ctx1", "A"), ("ctx1", "B"), ("ctx2", "C"))
      .toDF("contextId", "workItemId")
    MergeWriter.merge(spark, dir, v1, Seq("contextId"))
    // refresh ctx1 membership: B dropped, D added; ctx2 untouched
    val v2 = Seq(("ctx1", "A"), ("ctx1", "D")).toDF("contextId", "workItemId")
    MergeWriter.merge(spark, dir, v2, Seq("contextId"))
    val out = MergeWriter.readTable(spark, dir).collect()
      .map(r => (r.getAs[String]("contextId"), r.getAs[String]("workItemId"))).toSet
    assert(out == Set(("ctx1", "A"), ("ctx1", "D"), ("ctx2", "C")))
  }

  test("per-file stats skip files outside a range read; results stay exact") {
    import spark.implicits._
    val dir = Files.createTempDirectory("skip").toString + "/snapshots"
    // several range-disjoint files per bucket: clusterBy sorts each
    // bucket's rows by date, maxRecordsPerFile splits them sequentially
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "50")
    try {
      val d0 = java.time.LocalDate.of(2024, 1, 1)
      def rows(n: Int): org.apache.spark.sql.DataFrame =
        (0 until n).map { i =>
          (s"item#${i % 40}", java.sql.Date.valueOf(d0.plusDays(i / 10)), i)
        }.toDF("workItemId", "snapshotDate", "rev")
      MergeWriter.merge(spark, dir, rows(800),
        Seq("workItemId", "snapshotDate"), buckets = 4,
        clusterBy = Seq("snapshotDate"))
      // an incremental merge must KEEP untouched buckets' stats valid and
      // refresh the rewritten buckets'
      MergeWriter.merge(spark, dir, rows(200).withColumn("rev", col("rev") + 1),
        Seq("workItemId", "snapshotDate"))

      val lo = java.sql.Date.valueOf("2024-02-01")
      val hi = java.sql.Date.valueOf("2024-02-10")
      val pruned = MergeWriter.readTableRange(spark, dir, "snapshotDate",
        Some(lo), Some(hi))
      val full = MergeWriter.readTable(spark, dir)
        .filter(col("snapshotDate").between(lit(lo), lit(hi)))
      assert(pruned.collect().map(_.toSeq).toSet ==
        full.collect().map(_.toSeq).toSet)

      // the skip is real: strictly fewer files opened…
      val openedFiles = pruned.inputFiles.toSet
      val allFiles = MergeWriter.readTable(spark, dir).inputFiles.toSet
      assert(openedFiles.size < allFiles.size,
        s"no files skipped (${openedFiles.size} of ${allFiles.size})")
      // …and LOSSLESS: every skipped file holds zero in-range rows
      val skipped = (allFiles -- openedFiles).toSeq
      val inRangeInSkipped = spark.read.parquet(skipped: _*)
        .filter(col("snapshotDate").between(lit(lo), lit(hi))).count()
      assert(inRangeInSkipped == 0,
        s"skipped files contained $inRangeInSkipped in-range rows")

      // open bounds and string bounds both stay exact (ISO date string)
      val loOnly = MergeWriter.readTableRange(spark, dir, "snapshotDate",
        lower = Some("2024-03-01"))
      assert(loOnly.count() == MergeWriter.readTable(spark, dir)
        .filter(col("snapshotDate") >= lit("2024-03-01")).count())
    } finally spark.conf.unset("spark.sql.files.maxRecordsPerFile")
  }

  test("readKeys skips files inside a bucket via key-column stats") {
    import spark.implicits._
    val dir = Files.createTempDirectory("keyskip").toString + "/t"
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "100")
    try {
      // keyed AND clustered on id: each bucket splits into id-ordered
      // range-disjoint files, so a point lookup can skip within a bucket
      val rows = (0 until 1600).map(i => (i.toLong, s"v$i")).toDF("id", "v")
      MergeWriter.merge(spark, dir, rows, Seq("id"), buckets = 4,
        clusterBy = Seq("id"))
      val want = Seq(3L, 7L).toDF("id")
      val got = MergeWriter.readKeys(spark, dir, want, Seq("id"))
      assert(got.collect().map(r => r.getLong(0) -> r.getString(1)).toSet ==
        Set(3L -> "v3", 7L -> "v7"))
      // 1600 rows / 4 buckets / 100-row files = ~4 files per bucket; a
      // 2-key lookup must open at most 1 file per key, not every file
      // of its buckets
      val opened = MergeWriter.readKeys(spark, dir, want, Seq("id"))
        .inputFiles.length
      assert(opened <= 2, s"point lookup opened $opened files")
      val allFiles = MergeWriter.readTable(spark, dir).inputFiles.length
      assert(allFiles >= 8, s"test setup: expected multi-file buckets, got $allFiles")
    } finally spark.conf.unset("spark.sql.files.maxRecordsPerFile")
  }

  test("zorder2 clustering prunes range reads on BOTH columns") {
    import spark.implicits._
    val lin = Files.createTempDirectory("zlin").toString + "/t"
    val zed = Files.createTempDirectory("zzed").toString + "/t"
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "128")
    try {
      // a 64×64 grid: a and b are independent dimensions
      val grid = (0 until 4096).map(i => (i.toLong, i / 64, i % 64))
        .toDF("id", "a", "b")
      MergeWriter.merge(spark, lin, grid, Seq("id"), buckets = 2,
        clusterBy = Seq("a"))
      MergeWriter.merge(spark, zed, grid, Seq("id"), buckets = 2,
        clusterBy = Seq("zorder2:a,b"))
      def opened(dir: String, column: String): Int =
        MergeWriter.readTableRange(spark, dir, column, Some(0), Some(7))
          .inputFiles.length
      val all = MergeWriter.readTable(spark, zed).inputFiles.length
      assert(all >= 16, s"test setup: want multi-file buckets, got $all")
      // linear clustering narrows its sort column only: a-ranges prune,
      // b-ranges read everything
      assert(opened(lin, "a") < all)
      assert(opened(lin, "b") == all,
        "linear clustering unexpectedly pruned its non-sort column")
      // the Z-curve gives BOTH dimensions locality
      assert(opened(zed, "a") < all, "zorder failed to prune column a")
      assert(opened(zed, "b") < all, "zorder failed to prune column b")
      // and results stay exact on both layouts
      val exact = grid.filter(col("b").between(0, 7)).collect()
        .map(_.getLong(0)).toSet
      assert(MergeWriter.readTableRange(spark, zed, "b", Some(0), Some(7))
        .collect().map(_.getLong(0)).toSet == exact)
      assert(MergeWriter.readTableRange(spark, lin, "b", Some(0), Some(7))
        .collect().map(_.getLong(0)).toSet == exact)
    } finally spark.conf.unset("spark.sql.files.maxRecordsPerFile")
  }

  test("group retention: gcGroup keeps the last KeepManifests versions; a member pin inside them reads and feeds") {
    import spark.implicits._
    val grp = Files.createTempDirectory("grpretain").toString + "/g"
    def commitRound(i: Int): Unit = MergeWriter.mergeGroup(spark, grp, Seq(
      ("states", Seq((i.toLong, s"s$i")).toDF("id", "st"), Seq("id")),
      ("fields", Seq((i.toLong, i)).toDF("id", "n"), Seq("id"))),
      buckets = 2)
    commitRound(1); commitRound(2); commitRound(3)
    // only KeepManifests group versions are retained
    assert(groupVersions(grp).size == MergeWriter.KeepManifests)
    intercept[IllegalArgumentException] {
      MergeWriter.readGroupTableVersion(spark, grp, "states", 1L)
    }
    // a consumer one commit behind still reads its pinned version...
    val v0 = groupVersions(grp).head
    assert(MergeWriter.readGroupTableVersion(spark, grp, "states", v0)
      .count() == 2)
    // ...and the member change feed up to the head is the one new row
    val feed = MergeWriter.changeFeedGroup(spark, grp, "states", v0,
      groupVersions(grp).last, Seq("id"), Seq("st")).collect()
    assert(feed.map(r => (r.getAs[Long]("id"), r.getAs[String]("op")))
      .toSet == Set((3L, "insert")))
    // the next commit's gc reclaims the pin
    commitRound(4)
    intercept[IllegalArgumentException] {
      MergeWriter.readGroupTableVersion(spark, grp, "states", v0)
    }
  }

  test("changeFeedGroup reads changed buckets only") {
    import spark.implicits._
    val grp = Files.createTempDirectory("grpfeed").toString + "/g"
    val seed = (0 until 4096).map(i => (i.toLong, i % 9)).toDF("id", "st")
    MergeWriter.mergeGroup(spark, grp, Seq(
      ("states", seed, Seq("id")),
      ("fields", (0 until 64).map(i => (i.toLong, i)).toDF("id", "n"),
        Seq("id"))), buckets = 8)
    val v1 = groupVersions(grp).last
    // one-key change → ONE changed bucket out of 8
    MergeWriter.mergeGroup(spark, grp, Seq(
      ("states", Seq((7L, 999)).toDF("id", "st"), Seq("id"))))
    val v2 = groupVersions(grp).last
    val feed = MergeWriter.changeFeedGroup(spark, grp, "states", v1, v2,
      Seq("id"), Seq("st"))
    assert(feed.collect().map(r =>
      (r.getAs[Long]("id"), r.getAs[String]("op"), r.getAs[Int]("new_st")))
      .toSeq == Seq((7L, "update", 999)))
    val allFiles = MergeWriter.readGroupTable(spark, grp, "states")
      .inputFiles.length
    assert(allFiles >= 8, s"test setup: want >=8 member files, got $allFiles")
    assert(feed.inputFiles.length <= 2 * allFiles / 8 + 1,
      s"member feed read ${feed.inputFiles.length} of $allFiles files — " +
        "expected one changed bucket per side")
  }

  test("fingerprints: a one-key change diffs files, not the whole bucket") {
    import spark.implicits._
    val dir = Files.createTempDirectory("fpdiff").toString + "/t"
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "256")
    try {
      // ONE bucket, many files, fingerprinted + clustered (deterministic
      // row order, so the rewrite reproduces untouched prefix files)
      val rows = (0 until 8192).map(i => (i.toLong, i * 3)).toDF("id", "v")
      MergeWriter.merge(spark, dir, rows, Seq("id"), buckets = 1,
        clusterBy = Seq("id"), fingerprint = true)
      val v1 = MergeWriter.availableVersions(spark, dir).last
      // change ONE key near the tail of the cluster order
      MergeWriter.merge(spark, dir, Seq((8191L, -1)).toDF("id", "v"),
        Seq("id"))
      val v2 = MergeWriter.availableVersions(spark, dir).last
      val feed = MergeWriter.changeFeed(spark, dir, v1, v2,
        Seq("id"), Seq("v"))
      val changes = feed.collect()
      assert(changes.map(r => (r.getAs[Long]("id"), r.getAs[String]("op"),
        r.getAs[Int]("new_v"))).toSeq == Seq((8191L, "update", -1)))
      val bucketFiles = MergeWriter.readTable(spark, dir).inputFiles.length
      assert(bucketFiles >= 16,
        s"test setup: want a many-file bucket, got $bucketFiles")
      val opened = feed.inputFiles.length
      assert(opened <= 4,
        s"one-key diff opened $opened files of a $bucketFiles-file bucket")
      // and a NO-op rewrite (compact) diffs nothing at the file level
      MergeWriter.compact(spark, dir)
      val v3 = MergeWriter.availableVersions(spark, dir).last
      val quiet = MergeWriter.changeFeed(spark, dir, v2, v3,
        Seq("id"), Seq("v"))
      assert(quiet.count() == 0)
      assert(quiet.inputFiles.isEmpty,
        s"compact-only diff opened ${quiet.inputFiles.length} files")
    } finally spark.conf.unset("spark.sql.files.maxRecordsPerFile")
  }

  test("commit primitive: pluggable conditional-put serializes racers") {
    import spark.implicits._
    val dir = Files.createTempDirectory("condput").toString + "/t"
    val put = new ConditionalPut
    try {
      MergeWriter.setCommitPrimitive(put)
      MergeWriter.merge(spark, dir,
        Seq((0L, "seed")).toDF("id", "s"), Seq("id"), buckets = 4)
      // a SPURIOUSLY failed put (store said no, nothing committed) must
      // surface as the ordinary lost-CAS path: rebase and retry, not
      // data loss or a crash
      put.failNext = true
      MergeWriter.merge(spark, dir, Seq((1L, "a")).toDF("id", "s"), Seq("id"))
      assert(MergeWriter.readTable(spark, dir).count() == 2)
      // two genuinely racing writers: the conditional-put admits ONE per
      // version; the loser rebases onto the winner and lands next
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
      val threads = (2 to 3).map { i =>
        new Thread(() => {
          try MergeWriter.merge(spark, dir,
            Seq((i.toLong, s"w$i")).toDF("id", "s"), Seq("id"))
          catch { case t: Throwable => errs.add(t) }
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      assert(errs.isEmpty, s"racing merge failed: ${errs.peek()}")
      assert(MergeWriter.readTable(spark, dir).collect()
        .map(_.getLong(0)).toSet == Set(0L, 1L, 2L, 3L))
      assert(put.puts.get() >= 5, "commits bypassed the installed primitive")
      // versions are strictly sequential — the serialization proof
      val vs = MergeWriter.availableVersions(spark, dir)
      assert(vs == (vs.head to vs.last), s"non-sequential versions $vs")
    } finally MergeWriter.setCommitPrimitive(MergeWriter.LinkOrRenameCommit)
  }

  test("retention: a raised version window survives gc; age window too") {
    import spark.implicits._
    val dir = Files.createTempDirectory("retain").toString + "/t"
    def mergeOne(i: Int): Unit = MergeWriter.merge(spark, dir,
      Seq((i.toLong, i)).toDF("id", "v"), Seq("id"), buckets = 2)
    mergeOne(1); mergeOne(2); mergeOne(3)
    // default policy: only KeepManifests versions survive
    assert(MergeWriter.availableVersions(spark, dir).size == 2)
    MergeWriter.setRetention(spark, dir, versions = 5)
    mergeOne(4); mergeOne(5); mergeOne(6); mergeOne(7)
    val vs = MergeWriter.availableVersions(spark, dir)
    assert(vs.size == 5, s"retainVersions=5 but retained $vs")
    // a consumer lagging 3 commits still diffs incrementally: the
    // change feed across the whole retained window is exactly the four
    // merged rows
    val feed = MergeWriter.changeFeed(spark, dir, vs.head, vs.last,
      Seq("id"), Seq("v")).collect()
    assert(feed.map(r => (r.getAs[Long]("id"), r.getAs[String]("op")))
      .toSet == Set((4L, "insert"), (5L, "insert"), (6L, "insert"),
        (7L, "insert")))
    // lowering retention reclaims on the next commit's gc
    MergeWriter.setRetention(spark, dir, versions = 2)
    mergeOne(8)
    assert(MergeWriter.availableVersions(spark, dir).size == 2)
    // AGE retention keeps everything younger than the window regardless
    // of count
    MergeWriter.setRetention(spark, dir, versions = 2, ms = 3600L * 1000)
    mergeOne(9); mergeOne(10); mergeOne(11)
    assert(MergeWriter.availableVersions(spark, dir).size >= 5,
      "hour-old age window dropped fresh versions")
    // the policy itself survives every commit (rides the manifest)
    MergeWriter.setRetention(spark, dir, versions = 2, ms = 0L)
    mergeOne(12)
    assert(MergeWriter.availableVersions(spark, dir).size == 2)
  }

  test("clusterTable retrofits skipping onto an unclustered table") {
    import spark.implicits._
    val dir = Files.createTempDirectory("retrofit").toString + "/t"
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "256")
    try {
      val rows = (0 until 8192).map(i => (i.toLong, i % 97)).toDF("id", "x")
      // UNCLUSTERED creation: bytes-only stats, so a range read must
      // open every file
      MergeWriter.merge(spark, dir, rows, Seq("id"), buckets = 2)
      val all = MergeWriter.readTable(spark, dir).inputFiles.length
      assert(all >= 16, s"test setup: want a many-file table, got $all")
      def openedRange(): Int = MergeWriter.readTableRange(spark, dir, "id",
        Some(1000L), Some(1499L)).inputFiles.length
      assert(openedRange() == all,
        "unclustered table unexpectedly pruned (no stats should exist)")
      // the retrofit: rewrite under a new cluster spec, collect stats
      MergeWriter.clusterTable(spark, dir, Seq("id"))
      val allAfter = MergeWriter.readTable(spark, dir).inputFiles.length
      assert(openedRange() <= allAfter / 4,
        s"retrofitted range read opened ${openedRange()} of $allAfter")
      // content is untouched and exact
      val got = MergeWriter.readTableRange(spark, dir, "id",
        Some(1000L), Some(1499L)).collect().map(_.getLong(0)).toSet
      assert(got == (1000L to 1499L).toSet)
      assert(MergeWriter.readTable(spark, dir).count() == 8192)
      // history shows the retrofit as its own operation
      assert(MergeWriter.tableHistory(spark, dir).collect()
        .head.getAs[String]("op") == "cluster")
      // later merges INHERIT the retrofitted spec: new files keep stats
      MergeWriter.merge(spark, dir,
        (8192 until 9000).map(i => (i.toLong, i % 97)).toDF("id", "x"),
        Seq("id"))
      assert(openedRange() < MergeWriter.readTable(spark, dir)
        .inputFiles.length)
      // a typo'd retrofit fails loudly, never records a dead spec
      val e = intercept[IllegalArgumentException] {
        MergeWriter.clusterTable(spark, dir, Seq("zorder2:id,nope"))
      }
      assert(e.getMessage.contains("nope"))
    } finally spark.conf.unset("spark.sql.files.maxRecordsPerFile")
  }

  test("retrofit records stats for ALL leaf columns, not just cluster cols") {
    import spark.implicits._
    val dir = Files.createTempDirectory("retrofit-all").toString + "/t"
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "256")
    try {
      // v is correlated with id but NOT a cluster column; s exercises
      // string stats; nulls exercise the null-count sidecar
      val rows = (0 until 8192).map(i => (i.toLong, i.toLong * 10,
        if (i % 3 == 0) null else f"s$i%05d")).toDF("id", "v", "s")
      MergeWriter.merge(spark, dir, rows, Seq("id"), buckets = 2)
      MergeWriter.clusterTable(spark, dir, Seq("id"))
      val all = MergeWriter.readTable(spark, dir).inputFiles.length
      // a SECONDARY-column range probe prunes off the retrofit's stats
      // (no second collection pass needed)
      val sec = MergeWriter.readTableRange(spark, dir, "v",
        Some(10000L), Some(14990L))
      assert(sec.inputFiles.length <= all / 4,
        s"secondary-range probe opened ${sec.inputFiles.length} of $all")
      assert(sec.collect().map(_.getLong(0)).toSet ==
        (1000L to 1499L).toSet)
      // IS NULL probes prune through the recorded null counts: files
      // whose every row carries a non-null s are skipped
      val nul = MergeWriter.readTableWhere(spark, dir,
        Seq(MergeWriter.ColumnNull("s", isNull = true)))
      assert(nul.count() == rows.filter(col("s").isNull).count())
    } finally spark.conf.unset("spark.sql.files.maxRecordsPerFile")
  }

  test("zorderN clusters three dimensions; rectangle reads prune on each") {
    import spark.implicits._
    val dir = Files.createTempDirectory("z3").toString + "/t"
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "128")
    try {
      // a 16^3 cube: a, b, c are independent dimensions
      val cube = (0 until 4096)
        .map(i => (i.toLong, i / 256, (i / 16) % 16, i % 16))
        .toDF("id", "a", "b", "c")
      MergeWriter.merge(spark, dir, cube, Seq("id"), buckets = 2,
        clusterBy = Seq("zorderN:a,b,c"))
      val all = MergeWriter.readTable(spark, dir).inputFiles.length
      assert(all >= 16, s"test setup: want multi-file buckets, got $all")
      def opened(column: String): Int =
        MergeWriter.readTableRange(spark, dir, column, Some(0), Some(3))
          .inputFiles.length
      Seq("a", "b", "c").foreach { c =>
        assert(opened(c) < all, s"zorderN failed to prune column $c " +
          s"(${opened(c)} of $all)")
      }
      // the 4×4×4 corner cube opens fewer files than any single stripe
      val rect = MergeWriter.readTableWhere(spark, dir, Seq(
        MergeWriter.ColumnRange("a", Some(0), Some(3)),
        MergeWriter.ColumnRange("b", Some(0), Some(3)),
        MergeWriter.ColumnRange("c", Some(0), Some(3))))
      assert(rect.count() == 64)
      val rectFiles = rect.inputFiles.length
      assert(Seq("a", "b", "c").forall(c => rectFiles <= opened(c)),
        s"cube read ($rectFiles files) should not exceed any stripe")
      // exactness on a stripe
      assert(MergeWriter.readTableRange(spark, dir, "c", Some(0), Some(3))
        .collect().map(_.getLong(0)).toSet ==
        cube.filter(col("c") <= 3).collect().map(_.getLong(0)).toSet)
    } finally spark.conf.unset("spark.sql.files.maxRecordsPerFile")
  }

  test("interleaveWord equals a reference big-integer Morton order") {
    import java.math.BigInteger
    // reference: build the 3·64-bit interleaved stream bit by bit over
    // the unsigned images, compare as unsigned integers
    def refKey(vals: Seq[Long]): BigInteger = {
      val n = vals.length
      var acc = BigInteger.ZERO
      for (i <- 0 until 64 * n) {
        val src = i % n
        val bit = 63 - i / n
        val u = vals(src) ^ Long.MinValue
        acc = acc.shiftLeft(1).or(
          BigInteger.valueOf((u >>> bit) & 1L))
      }
      acc
    }
    def wordKey(vals: Array[Long]): Seq[Long] =
      vals.indices.map(w => graft.functions.ZOrder.interleaveWord(vals, w))
    def cmpWords(x: Seq[Long], y: Seq[Long]): Int =
      x.zip(y).map { case (a, b) => java.lang.Long.compare(a, b) }
        .find(_ != 0).getOrElse(0)
    val rnd = new scala.util.Random(42)
    def randTriple(): Array[Long] = Array(
      rnd.nextLong(), rnd.nextInt(1000).toLong - 500,
      if (rnd.nextBoolean()) rnd.nextLong() else rnd.nextInt(16).toLong)
    (1 to 500).foreach { _ =>
      val (x, y) = (randTriple(), randTriple())
      val want = refKey(x.toSeq).compareTo(refKey(y.toSeq))
      val got = cmpWords(wordKey(x), wordKey(y))
      assert(math.signum(want) == math.signum(got),
        s"order mismatch for ${x.toSeq} vs ${y.toSeq}")
    }
  }

  test("readTableWhere prunes on the CONJUNCTION of ranges") {
    import spark.implicits._
    val dir = Files.createTempDirectory("where").toString + "/t"
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "128")
    try {
      val grid = (0 until 4096).map(i => (i.toLong, i / 64, i % 64))
        .toDF("id", "a", "b")
      MergeWriter.merge(spark, dir, grid, Seq("id"), buckets = 2,
        clusterBy = Seq("zorder2:a,b"))
      val both = MergeWriter.readTableWhere(spark, dir, Seq(
        MergeWriter.ColumnRange("a", Some(0), Some(7)),
        MergeWriter.ColumnRange("b", Some(0), Some(7))))
      // exact results: the 8×8 corner rectangle
      assert(both.count() == 64)
      assert(both.collect().map(r => (r.getInt(1), r.getInt(2)))
        .forall { case (a, b) => a <= 7 && b <= 7 })
      // the conjunction opens fewer files than either single range —
      // the rectangle, not a stripe
      val aOnly = MergeWriter.readTableRange(spark, dir, "a",
        Some(0), Some(7)).inputFiles.length
      val bOnly = MergeWriter.readTableRange(spark, dir, "b",
        Some(0), Some(7)).inputFiles.length
      val rect = both.inputFiles.length
      assert(rect < aOnly && rect < bOnly,
        s"conjunction did not narrow: rect=$rect a=$aOnly b=$bOnly")
    } finally spark.conf.unset("spark.sql.files.maxRecordsPerFile")
  }

  test("a cross-column OR prunes as the UNION of its branches' files") {
    import spark.implicits._
    val dir = Files.createTempDirectory("orskip").toString + "/t"
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "128")
    try {
      val grid = (0 until 4096).map(i => (i.toLong, i / 64, i % 64))
        .toDF("id", "a", "b")
      MergeWriter.merge(spark, dir, grid, Seq("id"), buckets = 2,
        clusterBy = Seq("zorder2:a,b"))
      val all = MergeWriter.readTable(spark, dir).inputFiles.length
      val or = MergeWriter.readTableWhere(spark, dir, Seq(
        MergeWriter.ColumnOr(Seq(
          Seq(MergeWriter.ColumnRange("a", Some(0), Some(3))),
          Seq(MergeWriter.ColumnRange("b", Some(60), Some(63)))))))
      // exact: the union of the two stripes
      val expect = grid.filter(col("a") <= 3 || col("b") >= 60)
        .collect().map(_.getLong(0)).toSet
      assert(or.collect().map(_.getLong(0)).toSet == expect)
      // pruned: at most the sum of the stripes' file sets, fewer than all
      val aFiles = MergeWriter.readTableRange(spark, dir, "a",
        Some(0), Some(3)).inputFiles.toSet
      val bFiles = MergeWriter.readTableRange(spark, dir, "b",
        Some(60), Some(63)).inputFiles.toSet
      val orFiles = or.inputFiles.toSet
      assert(orFiles.subsetOf(aFiles ++ bFiles),
        s"OR opened ${orFiles.size} files beyond its branches' union " +
          s"(${(aFiles ++ bFiles).size})")
      assert(orFiles.size < all,
        s"OR read the whole table ($all files) — no pruning")
      // a branch with no usable constraint disables the skip (sound,
      // not wrong): unknown column → keep everything
      val loose = MergeWriter.readTableWhere(spark, dir, Seq(
        MergeWriter.ColumnOr(Seq(
          Seq(MergeWriter.ColumnRange("a", Some(0), Some(3))),
          Seq(MergeWriter.ColumnNull("a", false))))))
      assert(loose.count() == 4096)
    } finally spark.conf.unset("spark.sql.files.maxRecordsPerFile")
  }

  test("recorded merge keys reject reordered or different key lists") {
    import spark.implicits._
    val dir = Files.createTempDirectory("keyrec").toString + "/t"
    val v1 = Seq(("org#1", "ds#A", 1), ("org#1", "ds#B", 2))
      .toDF("partitionKey", "sortKey", "v")
    MergeWriter.merge(spark, dir, v1, Seq("partitionKey", "sortKey"),
      buckets = 4)
    // hash(keys…) is order-sensitive: a REORDERED key list would re-bin
    // every row under a hash future merges won't compute — every keyed
    // entry point must refuse it loudly, not silently corrupt pruning
    val reordered = Seq("sortKey", "partitionKey")
    assertThrows[IllegalArgumentException] {
      MergeWriter.merge(spark, dir, v1, reordered)
    }
    assertThrows[IllegalArgumentException] {
      MergeWriter.splitBuckets(spark, dir, reordered)
    }
    assertThrows[IllegalArgumentException] {
      MergeWriter.delete(spark, dir, v1.select("sortKey", "partitionKey"),
        reordered)
    }
    assertThrows[IllegalArgumentException] {
      MergeWriter.readKeys(spark, dir, v1, reordered).count()
    }
    // the correct order still works end-to-end, including through a split
    MergeWriter.splitBuckets(spark, dir, Seq("partitionKey", "sortKey"))
    MergeWriter.merge(spark, dir,
      Seq(("org#1", "ds#C", 3)).toDF("partitionKey", "sortKey", "v"),
      Seq("partitionKey", "sortKey"))
    assert(MergeWriter.readTable(spark, dir).count() == 3)
  }

  test("concurrent disjoint-member group loads both commit via rebase") {
    import spark.implicits._
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    val grp = Files.createTempDirectory("grpdis").toString + "/load"
    MergeWriter.mergeGroup(spark, grp, Seq(
      ("a", Seq(("k1", "a0")).toDF("k", "v"), Seq("k")),
      ("b", Seq(("k1", "b0")).toDF("k", "v"), Seq("k"))), buckets = 4)
    // two writers, DISJOINT members, racing for the same next version:
    // the loser must rebase onto the winner's commit (its member state
    // is untouched by the winner) and both updates must land
    val fa = Future(MergeWriter.mergeGroup(spark, grp, Seq(
      ("a", Seq(("k2", "a1")).toDF("k", "v"), Seq("k")))))
    val fb = Future(MergeWriter.mergeGroup(spark, grp, Seq(
      ("b", Seq(("k2", "b1")).toDF("k", "v"), Seq("k")))))
    Await.result(fa, Duration.Inf); Await.result(fb, Duration.Inf)
    val a = MergeWriter.readGroupTable(spark, grp, "a").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val b = MergeWriter.readGroupTable(spark, grp, "b").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(a == Map("k1" -> "a0", "k2" -> "a1"), s"member a torn: $a")
    assert(b == Map("k1" -> "b0", "k2" -> "b1"), s"member b torn: $b")
  }

  test("contested-member concurrent group loads conflict loudly or " +
       "serialize, never tear") {
    import spark.implicits._
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    val grp = Files.createTempDirectory("grpcon").toString + "/load"
    MergeWriter.mergeGroup(spark, grp, Seq(
      ("m", Seq(("k1", "v0")).toDF("k", "v"), Seq("k"))), buckets = 4)
    // SAME member from two writers: each must either commit serialized
    // (reading the other's survivors) or fail with the protocol's CME —
    // silent key loss is the one forbidden outcome
    def attempt(kv: (String, String)): Option[Throwable] =
      try {
        MergeWriter.mergeGroup(spark, grp, Seq(
          ("m", Seq(kv).toDF("k", "v"), Seq("k"))))
        None
      } catch {
        case e: java.util.ConcurrentModificationException => Some(e)
      }
    val fa = Future(attempt("k2" -> "x"))
    val fb = Future(attempt("k3" -> "y"))
    val (ra, rb) = (Await.result(fa, Duration.Inf), Await.result(fb, Duration.Inf))
    val m = MergeWriter.readGroupTable(spark, grp, "m").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(m.get("k1").contains("v0"), s"pre-existing key lost: $m")
    if (ra.isEmpty) assert(m.get("k2").contains("x"),
      s"writer a reported success but its key is missing: $m")
    if (rb.isEmpty) assert(m.get("k3").contains("y"),
      s"writer b reported success but its key is missing: $m")
  }

  test("group member split and compact keep the group atomic and readable") {
    import spark.implicits._
    val grp = Files.createTempDirectory("grpsplit").toString + "/load"
    val w1 = (0 until 40).map(i => (s"item#$i", s"s$i")).toDF("k", "state")
    val f1 = (0 until 40).map(i => (s"item#$i", i.toLong)).toDF("k", "n")
    MergeWriter.mergeGroup(spark, grp, Seq(
      ("states", w1, Seq("k")), ("fields", f1, Seq("k"))), buckets = 4)
    assert(MergeWriter.groupMemberBuckets(spark, grp, "states") == 4)

    // split one member mid-lifecycle: modulus doubles, the OTHER member's
    // pinned state rides the same commit untouched
    MergeWriter.splitGroupBuckets(spark, grp, "states", Seq("k"))
    assert(MergeWriter.groupMemberBuckets(spark, grp, "states") == 8)
    assert(MergeWriter.groupMemberBuckets(spark, grp, "fields") == 4)
    assert(MergeWriter.readGroupTable(spark, grp, "states").count() == 40)

    // loads continue against the new modulus (key validation included)
    val w2 = (40 until 50).map(i => (s"item#$i", s"s$i")).toDF("k", "state")
    MergeWriter.mergeGroup(spark, grp, Seq(("states", w2, Seq("k"))))
    assert(MergeWriter.readGroupTable(spark, grp, "states").count() == 50)
    // reordered/different keys are rejected for group members too
    assertThrows[IllegalArgumentException] {
      MergeWriter.mergeGroup(spark, grp, Seq(
        ("states", w2, Seq("state"))))
    }

    // member compaction: content identical, one live epoch after gc
    MergeWriter.compactGroupTable(spark, grp, "states")
    MergeWriter.compactGroupTable(spark, grp, "states")
    MergeWriter.gcGroupNow(spark, grp)
    assert(MergeWriter.readGroupTable(spark, grp, "states").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap.size == 50)
    val live = new java.io.File(grp, "states").listFiles()
      .map(_.getName).count(_.startsWith("e-"))
    assert(live <= MergeWriter.KeepManifests * 2,
      s"compaction left $live live epochs under the member")
  }

  test("a growing table auto-splits past the bytes-per-bucket threshold") {
    import spark.implicits._
    val dir = Files.createTempDirectory("autosplit").toString + "/t"
    // incompressible payloads — parquet dictionary-encodes repeated
    // content to almost nothing, which would keep bucket bytes under any
    // threshold regardless of row count
    def batch(lo: Int, hi: Int) = (lo until hi)
      .map(i => (s"key-$i", (0 until 25)
        .map(j => f"${scala.util.hashing.MurmurHash3.stringHash(s"$i-$j")}%08x")
        .mkString)).toDF("k", "v")
    // tiny threshold so fixture-scale growth crosses it; the decision
    // must be metadata-only (manifest stats), no explicit split call
    MergeWriter.merge(spark, dir, batch(0, 200), Seq("k"), buckets = 2,
      autoSplitBytesPerBucket = 4096)
    val b0 = MergeWriter.describeTable(spark, dir)
      .collect().head.getAs[Int]("buckets")
    MergeWriter.merge(spark, dir, batch(200, 400), Seq("k"),
      autoSplitBytesPerBucket = 4096)
    val b1 = MergeWriter.describeTable(spark, dir)
      .collect().head.getAs[Int]("buckets")
    assert(b1 > b0, s"table never auto-split ($b0 -> $b1)")
    // content survives the automatic re-bin, and keyed ops keep working
    assert(MergeWriter.readTable(spark, dir).count() == 400)
    MergeWriter.merge(spark, dir,
      Seq(("key-7", "updated")).toDF("k", "v"), Seq("k"))
    val v = MergeWriter.readTable(spark, dir).filter(col("k") === "key-7")
      .collect().map(_.getString(1)).toSeq
    assert(v == Seq("updated"))
    // default threshold never fires at fixture scale
    val dir2 = Files.createTempDirectory("autosplit2").toString + "/t"
    MergeWriter.merge(spark, dir2, batch(0, 400), Seq("k"), buckets = 2)
    assert(MergeWriter.describeTable(spark, dir2)
      .collect().head.getAs[Int]("buckets") == 2)
  }

  test("group time travel pins BOTH members at one committed version") {
    import spark.implicits._
    val grp = Files.createTempDirectory("grptt").toString + "/load"
    def load(n: Int): Unit = MergeWriter.mergeGroup(spark, grp, Seq(
      ("states", Seq(("A", s"s$n")).toDF("k", "v"), Seq("k")),
      ("fields", Seq(("A", n.toLong)).toDF("k", "n"), Seq("k"))),
      buckets = 4)
    load(1); load(2)
    val versions = groupVersions(grp)
    assert(versions.size == MergeWriter.KeepManifests)
    val v1 = versions.head
    // the pin is GROUP-wide: both members AS OF v1 show the same L1
    // transaction's state — never states from one load next to fields
    // from another
    val s1 = MergeWriter.readGroupTableVersion(spark, grp, "states", v1)
      .collect().map(_.getString(1)).toSeq
    val f1 = MergeWriter.readGroupTableVersion(spark, grp, "fields", v1)
      .collect().map(_.getLong(1)).toSeq
    assert(s1 == Seq("s1") && f1 == Seq(1L), s"torn pin: $s1 / $f1")
    // current read sees load 2; an aged-out version fails loudly
    assert(MergeWriter.readGroupTable(spark, grp, "states")
      .collect().map(_.getString(1)).toSeq == Seq("s2"))
    assertThrows[IllegalArgumentException] {
      MergeWriter.readGroupTableVersion(spark, grp, "states", v1 - 1)
    }
  }

  test("group members cluster and data-skip like standalone tables") {
    import spark.implicits._
    val grp = Files.createTempDirectory("grpskip").toString + "/load"
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "50")
    try {
      val d0 = java.time.LocalDate.of(2024, 1, 1)
      val snaps = (0 until 600).map { i =>
        (s"item#${i % 30}", java.sql.Date.valueOf(d0.plusDays(i / 10)), i)
      }.toDF("k", "snapshotDate", "rev")
      MergeWriter.mergeGroup(spark, grp,
        Seq(("snapshots", snaps, Seq("k", "snapshotDate"))), buckets = 4,
        clusterBy = Map("snapshots" -> Seq("snapshotDate")))
      val lo = java.sql.Date.valueOf("2024-01-20")
      val hi = java.sql.Date.valueOf("2024-01-29")
      val member = spark.read.format("graft").option("member", "snapshots")
        .load(grp)
      val pruned = member.filter(col("snapshotDate").between(lit(lo), lit(hi)))
      val full = MergeWriter.readGroupTable(spark, grp, "snapshots")
        .filter(col("snapshotDate").between(lit(lo), lit(hi)))
      assert(pruned.collect().map(_.toSeq).toSet ==
        full.collect().map(_.toSeq).toSet)
      val opened = openedFiles(pruned).size
      val all = openedFiles(member).size
      assert(opened < all, s"no member files skipped ($opened of $all)")
    } finally spark.conf.unset("spark.sql.files.maxRecordsPerFile")
  }

  test("group members carry bloom sidecars like standalone tables") {
    import spark.implicits._
    val grp = Files.createTempDirectory("grpbloom").toString + "/load"
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "50")
    try {
      // date-clustered member probed by workItemId equality — min/max
      // can't skip (ids scatter across dates); the member's sidecar must
      val d0 = java.time.LocalDate.of(2024, 1, 1)
      def snaps(n: Int, rev: Int) = (0 until n).map { i =>
        (s"item#${i % 299}", java.sql.Date.valueOf(d0.plusDays(i / 10)), rev + i)
      }.toDF("k", "snapshotDate", "rev")
      MergeWriter.mergeGroup(spark, grp,
        Seq(("snapshots", snaps(600, 0), Seq("k", "snapshotDate"))),
        buckets = 4, clusterBy = Map("snapshots" -> Seq("snapshotDate")),
        bloomBy = Map("snapshots" -> Seq("k")), bloomItems = 500)
      // a second group commit must keep untouched buckets' sidecars live
      MergeWriter.mergeGroup(spark, grp,
        Seq(("snapshots", snaps(150, 1000), Seq("k", "snapshotDate"))))
      val member = spark.read.format("graft").option("member", "snapshots")
        .load(grp)
      val probe = member.filter(col("k") === "item#7")
      val full = MergeWriter.readGroupTable(spark, grp, "snapshots")
        .filter(col("k") === "item#7")
      assert(probe.collect().map(_.toSeq).toSet ==
        full.collect().map(_.toSeq).toSet)
      val opened = openedFiles(probe)
      val all = openedFiles(member)
      assert(all.size >= 8, s"test setup: expected many files, got ${all.size}")
      assert(opened.size * 2 < all.size,
        s"group bloom skipped nothing (${opened.size} of ${all.size})")
      val skipped = (all -- opened).toSeq
      assert(spark.read.parquet(skipped: _*)
        .filter(col("k") === "item#7").count() == 0,
        "group bloom skipped a file holding matching rows")
    } finally spark.conf.unset("spark.sql.files.maxRecordsPerFile")
  }

  test("readTableAsOf resolves the version committed at a wall-clock instant") {
    import spark.implicits._
    val dir = Files.createTempDirectory("asof").toString + "/t"
    MergeWriter.merge(spark, dir, Seq(("A", 1)).toDF("k", "v"), Seq("k"),
      buckets = 2)
    Thread.sleep(20)
    val between = System.currentTimeMillis()
    Thread.sleep(20)
    MergeWriter.merge(spark, dir, Seq(("A", 2)).toDF("k", "v"), Seq("k"))
    assert(MergeWriter.readTableAsOf(spark, dir, between)
      .collect().map(_.getInt(1)).toSeq == Seq(1))
    assert(MergeWriter.readTableAsOf(spark, dir, System.currentTimeMillis())
      .collect().map(_.getInt(1)).toSeq == Seq(2))
    // an instant before the earliest retained commit fails loudly
    assertThrows[IllegalArgumentException] {
      MergeWriter.readTableAsOf(spark, dir, between - 60000)
    }
  }

  test("mergeGroup evolveSchema null-fills new columns for group members") {
    import spark.implicits._
    val grp = Files.createTempDirectory("grpevo").toString + "/load"
    MergeWriter.mergeGroup(spark, grp, Seq(
      ("m", Seq(("A", "s1"), ("B", "s1")).toDF("k", "v"), Seq("k"))),
      buckets = 4)
    MergeWriter.mergeGroup(spark, grp, Seq(
      ("m", Seq(("A", "s2", 7L)).toDF("k", "v", "score"), Seq("k"))),
      evolveSchema = true)
    val rows = MergeWriter.readGroupTable(spark, grp, "m").collect()
      .map(r => r.getString(0) ->
        (r.getString(1), Option(r.get(2)).map(_.asInstanceOf[Long]))).toMap
    assert(rows == Map("A" -> ("s2", Some(7L)), "B" -> ("s1", None)))
  }

  test("group members auto-split and auto-compact like standalone tables") {
    import spark.implicits._
    val grp = Files.createTempDirectory("grpauto").toString + "/load"
    def batch(lo: Int, hi: Int) = (lo until hi)
      .map(i => (s"key-$i", (0 until 25)
        .map(j => f"${scala.util.hashing.MurmurHash3.stringHash(s"g$i-$j")}%08x")
        .mkString)).toDF("k", "v")
    MergeWriter.mergeGroup(spark, grp,
      Seq(("m", batch(0, 200), Seq("k"))), buckets = 2,
      autoSplitBytesPerBucket = 4096)
    val b0 = MergeWriter.groupMemberBuckets(spark, grp, "m")
    MergeWriter.mergeGroup(spark, grp,
      Seq(("m", batch(200, 400), Seq("k"))),
      autoSplitBytesPerBucket = 4096)
    val b1 = MergeWriter.groupMemberBuckets(spark, grp, "m")
    assert(b1 > b0, s"group member never auto-split ($b0 -> $b1)")
    assert(MergeWriter.readGroupTable(spark, grp, "m").count() == 400)
    // epoch-count auto-compaction bounds member fragmentation too
    (0 until 5).foreach { i =>
      MergeWriter.mergeGroup(spark, grp,
        Seq(("m", batch(i, i + 1), Seq("k"))), autoCompactEpochs = 3)
    }
    MergeWriter.gcGroupNow(spark, grp)
    val live = new java.io.File(grp, "m").listFiles()
      .map(_.getName).count(_.startsWith("e-"))
    assert(live <= 3 + MergeWriter.KeepManifests,
      s"member fragmentation unbounded: $live live epochs")
  }

  test("syncReplica seeds, follows commits, and tolerates redelivery") {
    import spark.implicits._
    val root = Files.createTempDirectory("sync").toString
    val src = root + "/src"
    val rep = root + "/replica"
    def state(path: String): Map[String, Int] = {
      val df = MergeWriter.readTable(spark, path)
      df.collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    }
    MergeWriter.merge(spark, src,
      Seq(("A", 1), ("B", 1)).toDF("k", "v"), Seq("k"), buckets = 4)
    // first call SEEDS from the latest snapshot
    val c1 = MergeWriter.syncReplica(spark, src, rep, Seq("k"), Seq("v"),
      buckets = 4)
    assert(state(rep) == Map("A" -> 1, "B" -> 1))
    // the consumer must keep up within the retained window
    // (KeepManifests = 2 → sync at least once per source commit, the
    // same liveness contract as Delta's CDF retention): update+insert,
    // sync, keyed delete, sync
    MergeWriter.merge(spark, src,
      Seq(("A", 2), ("C", 2)).toDF("k", "v"), Seq("k"))
    val c15 = MergeWriter.syncReplica(spark, src, rep, Seq("k"), Seq("v"))
    assert(c15 > c1)
    assert(state(rep) == Map("A" -> 2, "B" -> 1, "C" -> 2))
    MergeWriter.delete(spark, src, Seq("B").toDF("k"), Seq("k"))
    val c2 = MergeWriter.syncReplica(spark, src, rep, Seq("k"), Seq("v"))
    assert(c2 > c15)
    assert(state(rep) == state(src))
    assert(state(rep) == Map("A" -> 2, "C" -> 2))
    // a source version holding an upsert AND a delete reaches the
    // replica as ONE commit: no reader sees it half-applied
    MergeWriter.applyChanges(spark, src, Seq(("D", 3)).toDF("k", "v"),
      Seq("A").toDF("k"), Seq("k"))
    val repHead = MergeWriter.availableVersions(spark, rep).last
    val c3 = MergeWriter.syncReplica(spark, src, rep, Seq("k"), Seq("v"))
    assert(c3 > c2)
    assert(MergeWriter.availableVersions(spark, rep).last == repHead + 1,
      "one source version must add exactly one replica version")
    assert(state(rep) == Map("C" -> 2, "D" -> 3))
    // idle call: cursor unchanged, state unchanged
    assert(MergeWriter.syncReplica(spark, src, rep, Seq("k"), Seq("v")) == c3)
    // crash-before-cursor-write simulation: wind the cursor back ONE
    // version (the realistic redelivery window); the redelivered feed
    // must re-apply harmlessly
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val cf = new org.apache.hadoop.fs.Path(rep, "_sync-cursor")
    def setCursor(v: Long): Unit = {
      val out = fs.create(cf, true)
      out.write(v.toString.getBytes("UTF-8")); out.close()
    }
    setCursor(c3 - 1)
    assert(MergeWriter.syncReplica(spark, src, rep, Seq("k"), Seq("v")) == c3)
    assert(state(rep) == Map("C" -> 2, "D" -> 3))
    // a cursor that aged OUT of the retained window fails loudly (the
    // consumer must re-seed) — never silently skips the lost changes
    setCursor(c1)
    assertThrows[IllegalArgumentException] {
      MergeWriter.syncReplica(spark, src, rep, Seq("k"), Seq("v"))
    }
  }

  test("changeFeedGroup reports a member's changes between two group versions") {
    import spark.implicits._
    val grp = Files.createTempDirectory("grpdesc").toString + "/load"
    def load(rows: Seq[(String, String)], fields: Seq[(String, Long)]): Unit =
      MergeWriter.mergeGroup(spark, grp, Seq(
        ("states", rows.toDF("k", "v"), Seq("k")),
        ("fields", fields.toDF("k", "n"), Seq("k"))), buckets = 4)
    load(Seq("A" -> "s1", "B" -> "s1"), Seq("A" -> 1L, "B" -> 1L))
    load(Seq("A" -> "s2", "C" -> "s2"), Seq("A" -> 2L))
    assert(MergeWriter.groupMemberBuckets(spark, grp, "states") == 4)
    val versions = groupVersions(grp)
    val diff = MergeWriter.changeFeedGroup(spark, grp, "states",
      versions.head, versions.last, Seq("k"), Seq("v")).collect()
      .map(r => (r.getAs[String]("k"), r.getAs[String]("op"))).toMap
    assert(diff == Map("A" -> "update", "C" -> "insert"), s"got $diff")
  }

  test("gcGroup reclaims staged epochs of members no manifest ever named") {
    import spark.implicits._
    val grp = Files.createTempDirectory("grporph").toString + "/load"
    MergeWriter.mergeGroup(spark, grp, Seq(
      ("states", Seq(("A", 1)).toDF("k", "v"), Seq("k"))), buckets = 4)
    // crash during the FIRST load that introduces a brand-new member:
    // its epoch sits under a directory no committed group manifest names
    // — member discovery by directory listing must still sweep it
    MergeWriter.stageGroupMemberForTest(spark, grp, "newMember",
      Seq(("B", 2)).toDF("k", "v"), Seq("k"), buckets = 4)
    val memberDir = new java.io.File(grp, "newMember")
    assert(memberDir.listFiles().exists(_.getName.startsWith("e-")),
      "test setup: staged epoch missing")
    MergeWriter.gcGroupNow(spark, grp)
    val left = Option(memberDir.listFiles()).map(_.map(_.getName).toSeq)
      .getOrElse(Seq.empty).filter(_.startsWith("e-"))
    assert(left.isEmpty, s"orphan epochs of never-committed member leaked: $left")
    // the committed member is untouched
    assert(MergeWriter.readGroupTable(spark, grp, "states").count() == 1)
  }

  test("bloom sidecars prune equality probes on a column stats can't skip") {
    import spark.implicits._
    val dir = Files.createTempDirectory("bloom").toString + "/snapshots"
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "50")
    try {
      // clustered by DATE, probed by workItemId: every file's
      // [min,max] on workItemId spans nearly the whole id domain
      // (ids scatter across dates), so min/max stats CANNOT skip —
      // exactly the btree-on-workItemId shape of the reference
      val d0 = java.time.LocalDate.of(2024, 1, 1)
      def rows(n: Int, rev: Int) = (0 until n).map { i =>
        (s"item#${i % 399}", java.sql.Date.valueOf(d0.plusDays(i / 10)), rev + i)
      }.toDF("workItemId", "snapshotDate", "rev")
      MergeWriter.merge(spark, dir, rows(800, 0),
        Seq("workItemId", "snapshotDate"), buckets = 4,
        clusterBy = Seq("snapshotDate"),
        bloomBy = Seq("workItemId"), bloomItems = 500)
      // an incremental merge must keep untouched buckets' sidecars
      // valid and refresh the rewritten buckets'
      MergeWriter.merge(spark, dir, rows(200, 1000),
        Seq("workItemId", "snapshotDate"))

      val probe = MergeWriter.readTableWhere(spark, dir, Seq(
        MergeWriter.ColumnRange("workItemId", Some("item#7"), Some("item#7"))))
      val full = MergeWriter.readTable(spark, dir)
        .filter(col("workItemId") === "item#7")
      assert(probe.collect().map(_.toSeq).toSet ==
        full.collect().map(_.toSeq).toSet)

      // the skip is real — item#7 lives in ~3 of ~17 files…
      val opened = probe.inputFiles.toSet
      val all = MergeWriter.readTable(spark, dir).inputFiles.toSet
      assert(all.size >= 10, s"test setup: expected many files, got ${all.size}")
      assert(opened.size * 2 < all.size,
        s"bloom skipped nothing (${opened.size} of ${all.size} files opened)")
      // …and LOSSLESS: every skipped file holds zero matching rows
      val skipped = (all -- opened).toSeq
      assert(spark.read.parquet(skipped: _*)
        .filter(col("workItemId") === "item#7").count() == 0)

      // a value absent from the table proves absent almost everywhere
      val missing = MergeWriter.readTableWhere(spark, dir, Seq(
        MergeWriter.ColumnRange("workItemId", Some("item#nope"), Some("item#nope"))))
      assert(missing.count() == 0)

      // compaction rewrites the epoch files — the sidecar must follow
      MergeWriter.compact(spark, dir)
      val after = MergeWriter.readTableWhere(spark, dir, Seq(
        MergeWriter.ColumnRange("workItemId", Some("item#7"), Some("item#7"))))
      assert(after.collect().map(_.toSeq).toSet ==
        full.collect().map(_.toSeq).toSet)
      val afterAll = MergeWriter.readTable(spark, dir).inputFiles.toSet
      assert(after.inputFiles.toSet.size * 2 < afterAll.size,
        "sidecar lost across compaction: no files skipped")
    } finally spark.conf.unset("spark.sql.files.maxRecordsPerFile")
  }

  test("readKeys uses bloom sidecars on UNCLUSTERED key columns") {
    import spark.implicits._
    val dir = Files.createTempDirectory("bloomkey").toString + "/t"
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "100")
    try {
      // keyed on id but NOT clustered: each bucket's files span the full
      // id range, so the stats path (bytes-only on unclustered tables)
      // keeps every file — only the bloom can narrow the point lookup
      val rows = (0 until 1600).map(i => (i.toLong, s"v$i")).toDF("id", "v")
      MergeWriter.merge(spark, dir, rows, Seq("id"), buckets = 4,
        bloomBy = Seq("id"), bloomItems = 500)
      val all = MergeWriter.readTable(spark, dir).inputFiles.length
      assert(all >= 8, s"test setup: expected multi-file buckets, got $all")
      val want = Seq(3L, 7L).toDF("id")
      val got = MergeWriter.readKeys(spark, dir, want, Seq("id"))
      assert(got.collect().map(r => r.getLong(0) -> r.getString(1)).toSet ==
        Set(3L -> "v3", 7L -> "v7"))
      val opened = MergeWriter.readKeys(spark, dir, want, Seq("id"))
        .inputFiles.length
      assert(opened <= 4, s"unclustered point lookup opened $opened files " +
        s"of $all — bloom not consulted")
    } finally spark.conf.unset("spark.sql.files.maxRecordsPerFile")
  }

  test("ColumnIn prunes by any-of stats+bloom and conjoins with ranges") {
    import spark.implicits._
    val dir = Files.createTempDirectory("inlist").toString + "/t"
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "50")
    try {
      val d0 = java.time.LocalDate.of(2024, 1, 1)
      val rows = (0 until 800).map { i =>
        (s"item#${i % 399}", java.sql.Date.valueOf(d0.plusDays(i / 10)), i)
      }.toDF("workItemId", "snapshotDate", "rev")
      MergeWriter.merge(spark, dir, rows, Seq("workItemId", "snapshotDate"),
        buckets = 4, clusterBy = Seq("snapshotDate"),
        bloomBy = Seq("workItemId"), bloomItems = 500)
      val ids = Seq("item#7", "item#123", "item#398")
      val probe = MergeWriter.readTableWhere(spark, dir, Seq(
        MergeWriter.ColumnIn("workItemId", ids)))
      val full = MergeWriter.readTable(spark, dir)
        .filter(col("workItemId").isin(ids: _*))
      assert(probe.collect().map(_.toSeq).toSet ==
        full.collect().map(_.toSeq).toSet)
      val all = MergeWriter.readTable(spark, dir).inputFiles.toSet
      val opened = probe.inputFiles.toSet
      assert(opened.size < all.size,
        s"IN-list skipped nothing (${opened.size} of ${all.size})")
      val skipped = (all -- opened).toSeq
      assert(spark.read.parquet(skipped: _*)
        .filter(col("workItemId").isin(ids: _*)).count() == 0)

      // conjunction with a range: IN-list AND a date window opens no
      // more files than the IN-list alone, and stays exact
      val both = MergeWriter.readTableWhere(spark, dir, Seq(
        MergeWriter.ColumnIn("workItemId", ids),
        MergeWriter.ColumnRange("snapshotDate",
          Some(java.sql.Date.valueOf("2024-01-01")),
          Some(java.sql.Date.valueOf("2024-01-31")))))
      val bothFull = full.filter(col("snapshotDate")
        .between(lit("2024-01-01"), lit("2024-01-31")))
      assert(both.collect().map(_.toSeq).toSet ==
        bothFull.collect().map(_.toSeq).toSet)
      assert(both.inputFiles.length <= opened.size)

      // empty IN-list: empty result, nothing read
      assert(MergeWriter.readTableWhere(spark, dir, Seq(
        MergeWriter.ColumnIn("workItemId", Seq.empty))).count() == 0)
    } finally spark.conf.unset("spark.sql.files.maxRecordsPerFile")
  }

  test("readGroupKeys point-reads a member with bucket, stats and bloom pruning") {
    import spark.implicits._
    val grp = Files.createTempDirectory("grpkeys").toString + "/load"
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "100")
    try {
      val rows = (0 until 1600).map(i => (i.toLong, s"v$i")).toDF("id", "v")
      MergeWriter.mergeGroup(spark, grp, Seq(("states", rows, Seq("id"))),
        buckets = 4, bloomBy = Map("states" -> Seq("id")), bloomItems = 500)
      val got = MergeWriter.readGroupKeys(spark, grp, "states",
        Seq(3L, 7L).toDF("id"), Seq("id"))
      assert(got.collect().map(r => r.getLong(0) -> r.getString(1)).toSet ==
        Set(3L -> "v3", 7L -> "v7"))
      val all = MergeWriter.readGroupTable(spark, grp, "states")
        .inputFiles.length
      assert(all >= 8, s"test setup: expected multi-file buckets, got $all")
      val opened = MergeWriter.readGroupKeys(spark, grp, "states",
        Seq(3L, 7L).toDF("id"), Seq("id")).inputFiles.length
      assert(opened <= 4, s"group point lookup opened $opened of $all files")
      // absent keys: typed empty, nothing matched
      assert(MergeWriter.readGroupKeys(spark, grp, "states",
        Seq(99999L).toDF("id"), Seq("id")).count() == 0)
      // unknown member fails loudly
      intercept[IllegalArgumentException] {
        MergeWriter.readGroupKeys(spark, grp, "nope",
          Seq(1L).toDF("id"), Seq("id"))
      }
    } finally spark.conf.unset("spark.sql.files.maxRecordsPerFile")
  }

  test("tableHistory reports op and commit time over the retained window") {
    import spark.implicits._
    val dir = Files.createTempDirectory("hist").toString + "/t"
    val before = System.currentTimeMillis() - 1000
    MergeWriter.merge(spark, dir, Seq((1L, "a"), (2L, "b")).toDF("id", "v"),
      Seq("id"), buckets = 2)
    MergeWriter.delete(spark, dir, Seq(Tuple1(2L)).toDF("id"), Seq("id"))
    val h = MergeWriter.tableHistory(spark, dir).collect()
    // KeepManifests retains two versions: the delete and the merge,
    // newest first, each stamped with its operation and wall-clock
    assert(h.map(_.getAs[String]("op")).toSeq == Seq("delete", "merge"))
    assert(h.map(_.getAs[Long]("version")).toSeq == Seq(2L, 1L))
    assert(h.forall(_.getAs[java.sql.Timestamp]("commit_ts").getTime >= before))
    MergeWriter.compact(spark, dir)
    val h2 = MergeWriter.tableHistory(spark, dir).collect()
    assert(h2.head.getAs[String]("op") == "compact")
  }

  test("buildBloomIndex declares blooms on an existing table; probes and " +
       "later merges use them") {
    import spark.implicits._
    val dir = Files.createTempDirectory("bloombuild").toString + "/t"
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "50")
    try {
      val d0 = java.time.LocalDate.of(2024, 1, 1)
      def rows(n: Int, rev: Int) = (0 until n).map { i =>
        (s"item#${i % 399}", java.sql.Date.valueOf(d0.plusDays(i / 10)), rev + i)
      }.toDF("workItemId", "snapshotDate", "rev")
      // created WITHOUT blooms: the equality probe reads every file
      MergeWriter.merge(spark, dir, rows(800, 0),
        Seq("workItemId", "snapshotDate"), buckets = 4,
        clusterBy = Seq("snapshotDate"))
      def probe() = MergeWriter.readTableWhere(spark, dir, Seq(
        MergeWriter.ColumnRange("workItemId", Some("item#7"), Some("item#7"))))
      val all = MergeWriter.readTable(spark, dir).inputFiles.toSet
      // string min/max incidentally skips a few files; the claim below is
      // that the INDEX BUILD strictly tightens the probe beyond stats
      val statsOnly = probe().inputFiles.toSet.size
      assert(statsOnly > all.size / 2,
        s"setup: stats alone already skipped most files ($statsOnly of ${all.size})")
      // index build: sidecars for committed epochs + the declaration
      MergeWriter.buildBloomIndex(spark, dir, Seq("workItemId"),
        bloomItems = 500)
      val expected = MergeWriter.readTable(spark, dir)
        .filter(col("workItemId") === "item#7")
        .collect().map(_.toSeq).toSet
      assert(probe().collect().map(_.toSeq).toSet == expected)
      assert(probe().inputFiles.toSet.size * 2 < statsOnly,
        s"index build skipped nothing beyond stats")
      // the declaration sticks: a later merge maintains the sidecar
      MergeWriter.merge(spark, dir, rows(100, 2000),
        Seq("workItemId", "snapshotDate"))
      val expected2 = MergeWriter.readTable(spark, dir)
        .filter(col("workItemId") === "item#7")
        .collect().map(_.toSeq).toSet
      assert(probe().collect().map(_.toSeq).toSet == expected2)
      assert(probe().inputFiles.toSet.size * 2 <
        MergeWriter.readTable(spark, dir).inputFiles.toSet.size)
      // conflicting redeclaration fails loudly
      intercept[IllegalArgumentException] {
        MergeWriter.buildBloomIndex(spark, dir, Seq("rev"))
      }
    } finally spark.conf.unset("spark.sql.files.maxRecordsPerFile")
  }

  test("readTableVersionWhere: skipping composes with time travel") {
    import spark.implicits._
    val dir = Files.createTempDirectory("verwhere").toString + "/t"
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "50")
    try {
      val d0 = java.time.LocalDate.of(2024, 1, 1)
      def rows(n: Int, rev: Int) = (0 until n).map { i =>
        (s"item#${i % 199}", java.sql.Date.valueOf(d0.plusDays(i / 10)), rev + i)
      }.toDF("workItemId", "snapshotDate", "rev")
      MergeWriter.merge(spark, dir, rows(400, 0),
        Seq("workItemId", "snapshotDate"), buckets = 4,
        clusterBy = Seq("snapshotDate"),
        bloomBy = Seq("workItemId"), bloomItems = 500)
      MergeWriter.merge(spark, dir, rows(400, 5000),
        Seq("workItemId", "snapshotDate"))
      val vs = MergeWriter.availableVersions(spark, dir)
      val pinned = MergeWriter.readTableVersionWhere(spark, dir, vs.head, Seq(
        MergeWriter.ColumnRange("workItemId", Some("item#7"), Some("item#7"))))
      val full = MergeWriter.readTableVersion(spark, dir, vs.head)
        .filter(col("workItemId") === "item#7")
      assert(pinned.collect().map(_.toSeq).toSet ==
        full.collect().map(_.toSeq).toSet)
      // the pinned read sees the OLD values (rev < 5000), pruned
      assert(pinned.collect().forall(_.getAs[Int]("rev") < 5000))
      val allPinned = MergeWriter.readTableVersion(spark, dir, vs.head)
        .inputFiles.toSet
      assert(pinned.inputFiles.toSet.size < allPinned.size,
        "no skipping on the pinned version")
    } finally spark.conf.unset("spark.sql.files.maxRecordsPerFile")
  }

  test("bloomBy validates its columns at creation") {
    import spark.implicits._
    val dir = Files.createTempDirectory("bloomval").toString + "/t"
    val rows = Seq((1L, 0.5)).toDF("id", "score")
    intercept[IllegalArgumentException] {
      MergeWriter.merge(spark, dir, rows, Seq("id"), bloomBy = Seq("nope"))
    }
    intercept[IllegalArgumentException] {
      MergeWriter.merge(spark, dir, rows, Seq("id"), bloomBy = Seq("score"))
    }
  }

  test("changeFeed reads only buckets whose epoch pointers moved") {
    import spark.implicits._
    val dir = Files.createTempDirectory("cfprune").toString + "/t"
    MergeWriter.merge(spark, dir,
      (0 until 400).map(i => (i.toLong, i)).toDF("k", "v"),
      Seq("k"), buckets = 8)
    val v1 = MergeWriter.availableVersions(spark, dir).last
    // touch exactly one key → one bucket's pointer moves
    MergeWriter.merge(spark, dir, Seq((7L, 999)).toDF("k", "v"), Seq("k"))
    val v2 = MergeWriter.availableVersions(spark, dir).last
    val feed = MergeWriter.changeFeed(spark, dir, v1, v2, Seq("k"), Seq("v"))
    assert(feed.collect().map(r =>
      (r.getAs[Long]("k"), r.getAs[String]("op"), r.getAs[Int]("new_v")))
      .toSeq == Seq((7L, "update", 999)))
    // the diff must NOT read the seven untouched buckets on either side
    val fullFiles = MergeWriter.readTableVersion(spark, dir, v2)
      .inputFiles.length
    assert(feed.inputFiles.length <= 2 * fullFiles / 8 + 1,
      s"feed read ${feed.inputFiles.length} files of a $fullFiles-file " +
        "table; expected one changed bucket per side")
  }

  test("statsAggregate answers from the manifest alone (zero data I/O)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("statsagg").toString + "/t"
    val rows = (1 to 500)
      .map(i => (i.toLong, (i % 37).toDouble, s"s${i % 11}"))
      .toDF("id", "score", "tag")
    MergeWriter.merge(spark, dir, rows, Seq("id"), buckets = 4,
      clusterBy = Seq("id"))
    import org.apache.spark.sql.functions.{count, max, min}
    val expected = MergeWriter.readTable(spark, dir)
      .agg(count(lit(1)).as("cnt"),
        count(col("id")).as("cnt_id"),
        min(col("id")).as("min_id"), max(col("id")).as("max_id"),
        count(col("score")).as("cnt_score"),
        min(col("score")).as("min_score"), max(col("score")).as("max_score"),
        count(col("tag")).as("cnt_tag"),
        min(col("tag")).as("min_tag"), max(col("tag")).as("max_tag"))
      .collect().head
    val got = MergeWriter.statsAggregate(spark, dir,
      Seq("id", "score", "tag")).collect().head
    assert(got == expected)

    // the proof it never opens a data file: corrupt EVERY parquet file
    // under the table and ask again — the manifest-served answer must
    // not change (a scan would now throw)
    val root = new java.io.File(dir)
    def corrupt(f: java.io.File): Unit =
      if (f.isDirectory) f.listFiles().foreach(corrupt)
      else if (f.getName.endsWith(".parquet")) {
        val w = new java.io.FileOutputStream(f)
        try w.write("not parquet".getBytes) finally w.close()
      }
    corrupt(root)
    assert(MergeWriter.statsAggregate(spark, dir,
      Seq("id", "score", "tag")).collect().head == expected)
  }

  test("statsAggregate falls back to an exact scan without column stats") {
    import spark.implicits._
    val dir = Files.createTempDirectory("statsagg").toString + "/t"
    // UNCLUSTERED: bytes-only stats (rows = -1, no min/max) → fallback
    val rows = (1 to 100).map(i => (i.toLong, i * 2.0)).toDF("id", "score")
    MergeWriter.merge(spark, dir, rows, Seq("id"), buckets = 4)
    val got = MergeWriter.statsAggregate(spark, dir, Seq("score"))
      .collect().head
    assert(got.getLong(0) == 100L && got.getLong(1) == 100L)
    assert(got.getDouble(2) == 2.0 && got.getDouble(3) == 200.0)
  }

  test("statsAggregate on an emptied table is metadata cnt=0, null min/max") {
    import spark.implicits._
    val dir = Files.createTempDirectory("statsagg").toString + "/t"
    val rows = (1 to 50).map(i => (i.toLong, i * 2.0)).toDF("id", "score")
    MergeWriter.merge(spark, dir, rows, Seq("id"), buckets = 2,
      clusterBy = Seq("id"))
    // truncating overwrite leaves the manifest with zero data files
    MergeWriter.overwriteTable(spark, dir,
      rows.limit(0), Seq("id"), buckets = 2)
    val got = MergeWriter.statsAggregate(spark, dir, Seq("id", "score"))
      .collect().head
    assert(got.getLong(0) == 0L)
    assert(got.getLong(1) == 0L && got.isNullAt(2) && got.isNullAt(3))
    assert(got.getLong(4) == 0L && got.isNullAt(5) && got.isNullAt(6))
  }

  test("string stats bounds compare in UTF-8 code-point order") {
    import spark.implicits._
    val dir = Files.createTempDirectory("statsutf8").toString + "/t"
    // Two classes of strings whose UTF-16 code-unit order DISAGREES with
    // code-point order: U+E000..U+FFFD sort ABOVE surrogate pairs under
    // String.compareTo but BELOW them by code point / UTF-8 bytes.
    val bmpHigh = (0 until 40).map(i => new String(
      Character.toChars(0xE000 + i)) + s"b$i")
    val astral = (0 until 40).map(i => new String(
      Character.toChars(0x10000 + i)) + s"a$i")
    // key = the string itself so values SEGREGATE by bucket, and two
    // merges so some buckets keep files containing only one class —
    // forcing the cross-file min/max reduce to compare across classes
    MergeWriter.merge(spark, dir, bmpHigh.toDF("s"), Seq("s"),
      buckets = 16, clusterBy = Seq("s"))
    MergeWriter.merge(spark, dir, astral.toDF("s"), Seq("s"), buckets = 16)
    val expected = MergeWriter.readTable(spark, dir)
      .agg(count(lit(1)).as("cnt"), count(col("s")).as("cnt_s"),
        min(col("s")).as("min_s"), max(col("s")).as("max_s"))
      .collect().head
    val got = MergeWriter.statsAggregate(spark, dir, Seq("s"))
      .collect().head
    assert(got == expected)
    // non-vacuity: the true max IS an astral string (Spark orders by
    // UTF8String), so a UTF-16 comparator picking a U+Fxxx file bound
    // over a surrogate-pair bound would have surfaced here
    assert(expected.getString(3).codePointAt(0) >= 0x10000)
  }

  test("empty-batch txn guard is a stamped, contention-safe commit") {
    import spark.implicits._
    val dir = Files.createTempDirectory("txnguard").toString + "/t"
    val rows = (1 to 20).map(i => (i.toLong, i)).toDF("id", "v")
    MergeWriter.merge(spark, dir, rows, Seq("id"), buckets = 2)
    MergeWriter.merge(spark, dir, rows.limit(0), Seq("id"),
      txn = Some(("app", 5L)))
    val h = MergeWriter.tableHistory(spark, dir).collect()
    assert(h.head.getAs[String]("op") == "txn",
      s"guard commit should stamp op=txn, history head was ${h.head}")
    assert(h.head.getAs[java.sql.Timestamp]("commit_ts") != null)
    // the guard is live: a redelivered batch WITH rows at the same id
    // is a zero-I/O skip; the next id applies
    MergeWriter.merge(spark, dir,
      Seq((100L, 100)).toDF("id", "v"), Seq("id"), txn = Some(("app", 5L)))
    assert(MergeWriter.readTable(spark, dir).count() == 20)
    MergeWriter.merge(spark, dir,
      Seq((100L, 100)).toDF("id", "v"), Seq("id"), txn = Some(("app", 6L)))
    assert(MergeWriter.readTable(spark, dir).count() == 21)
  }

  test("a fresh-CREATE overwrite refuses to clobber a racing commit") {
    import spark.implicits._
    // the CTAS race: statement A passed its stage-time emptiness check,
    // then B committed a table at the same location while A's source
    // query ran. A's commit must FAIL, not adopt-and-replace B's data.
    val dir = Files.createTempDirectory("ctasrace").toString + "/t"
    val b = Seq((1L, "B")).toDF("id", "who")
    MergeWriter.merge(spark, dir, b, Seq("id"), buckets = 2)
    val a = Seq((2L, "A")).toDF("id", "who")
    val ex = intercept[IllegalStateException] {
      MergeWriter.overwriteTable(spark, dir, a, Seq("id"), buckets = 2,
        expectFresh = true)
    }
    assert(ex.getMessage.contains("already holds a committed table"))
    // B's table is untouched
    val rows = MergeWriter.readTable(spark, dir).collect()
    assert(rows.length == 1 && rows.head.getAs[String]("who") == "B")
    // and a genuinely fresh path still commits (version-1 CAS)
    val dir2 = Files.createTempDirectory("ctasrace").toString + "/t2"
    MergeWriter.overwriteTable(spark, dir2, a, Seq("id"), buckets = 2,
      expectFresh = true)
    assert(MergeWriter.readTable(spark, dir2).count() == 1)
  }

  test("every read variant equals a filtered full read of its pin; a read " +
    "that prunes every file is empty with the table's schema") {
    import spark.implicits._
    val root = Files.createTempDirectory("readpins").toString
    val (dir, grp, member) = (s"$root/t", s"$root/g", "snapshots")
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "50")
    try {
      val d0 = java.time.LocalDate.of(2024, 1, 1)
      def rows(n: Int, rev: Int) = (0 until n).map { i =>
        (s"item#${i % 199}", java.sql.Date.valueOf(d0.plusDays(i / 10)),
          rev + i)
      }.toDF("k", "snapshotDate", "rev")
      val keys = Seq("k", "snapshotDate")
      // the same two commits land on a clustered, bloom-declared table
      // and on a group member, so one reference answers for both
      MergeWriter.merge(spark, dir, rows(400, 0), keys, buckets = 4,
        clusterBy = Seq("snapshotDate"), bloomBy = Seq("k"),
        bloomItems = 500)
      MergeWriter.mergeGroup(spark, grp, Seq((member, rows(400, 0), keys)),
        buckets = 4, clusterBy = Map(member -> Seq("snapshotDate")),
        bloomBy = Map(member -> Seq("k")), bloomItems = 500)
      val v0 = MergeWriter.availableVersions(spark, dir).max
      val g0 = groupVersions(grp).max
      Thread.sleep(20)
      val between = System.currentTimeMillis()
      Thread.sleep(20)
      MergeWriter.merge(spark, dir, rows(150, 5000), keys)
      MergeWriter.mergeGroup(spark, grp, Seq((member, rows(150, 5000), keys)))
      MergeWriter.createBranch(spark, dir, "audit")
      val cur = MergeWriter.readTable(spark, dir)
      val old = MergeWriter.readTableVersion(spark, dir, v0)
      // item#7's one row on 2024-01-01, then a date outside every
      // file's recorded range: that probe prunes EVERY file
      for ((day, hits) <- Seq(("2024-01-01", true), ("2031-01-01", false))) {
        val d = java.sql.Date.valueOf(day)
        val onDay = col("snapshotDate") === d
        val cond = col("k") === "item#7" && onDay
        val preds = Seq(MergeWriter.ColumnIn("k", Seq("item#7")),
          MergeWriter.ColumnRange("snapshotDate", Some(d), Some(d)))
        val wanted = Seq(("item#7", d)).toDF(keys: _*)
        // (variant, its answer, the filtered full read of the same pin,
        //  whether the variant prunes files itself)
        val variants = Seq(
          ("as-of", MergeWriter.readTableAsOf(spark, dir, between)
            .filter(cond), old.filter(cond), false),
          ("branch", MergeWriter.readBranch(spark, dir, "audit").filter(cond),
            cur.filter(cond), false),
          ("group", MergeWriter.readGroupTable(spark, grp, member)
            .filter(cond), cur.filter(cond), false),
          ("group version", MergeWriter.readGroupTableVersion(spark, grp,
            member, g0).filter(cond), old.filter(cond), false),
          ("range", MergeWriter.readTableRange(spark, dir, "snapshotDate",
            Some(d), Some(d)), cur.filter(onDay), true),
          ("where", MergeWriter.readTableWhere(spark, dir, preds),
            cur.filter(cond), true),
          ("version where", MergeWriter.readTableVersionWhere(spark, dir, v0,
            preds), old.filter(cond), true),
          ("keys", MergeWriter.readKeys(spark, dir, wanted, keys),
            cur.filter(cond), true),
          ("group keys", MergeWriter.readGroupKeys(spark, grp, member, wanted,
            keys), cur.filter(cond), true))
        variants.foreach { case (name, got, want, prunes) =>
          val label = s"$name @ $day"
          val wantRows = want.collect().map(_.toSeq).toSet
          assert(got.collect().map(_.toSeq).toSet == wantRows, label)
          assert(got.schema == want.schema, label)
          assert(wantRows.nonEmpty == hits, s"test setup: $label")
          if (prunes && !hits)
            assert(got.inputFiles.isEmpty, s"$label opened files")
        }
      }
    } finally spark.conf.unset("spark.sql.files.maxRecordsPerFile")
  }

  test("every epoch-writing entry point keeps the model's rows and leaves " +
    "each live file fingerprinted with stats") {
    import spark.implicits._
    val root = Files.createTempDirectory("stager").toString
    val (cow, dv, eqd, add) =
      (s"$root/cow", s"$root/dv", s"$root/eqd", s"$root/add")
    type Model = Map[String, (Long, Long)]
    def frame(m: Model) =
      m.toSeq.map { case (k, (d, v)) => (k, d, v) }.toDF("k", "d", "v")
    def batch(from: Int, n: Int, v: Long): Model =
      (from until from + n).map(i => s"k$i" -> ((i % 7).toLong, v)).toMap
    val keys = Seq("k")
    // a small fingerprinted, clustered, bloom-declared table per policy
    def create(dir: String, dvs: Boolean, eqds: Boolean): Model = {
      val m = batch(0, 40, 1L)
      MergeWriter.merge(spark, dir, frame(m), keys, buckets = 4,
        clusterBy = Seq("d"), bloomBy = Seq("k"), bloomItems = 100,
        fingerprint = true, deleteVectors = dvs, eqDeletes = eqds)
      m
    }
    def upsert(dir: String)(m: Model): Model = {
      val b = batch(35, 10, 2L)
      MergeWriter.merge(spark, dir, frame(b), keys)
      m ++ b
    }
    def delete(dir: String)(m: Model): Model = {
      MergeWriter.delete(spark, dir, Seq("k3", "k31", "k44").toDF("k"), keys)
      m -- Seq("k3", "k31", "k44")
    }
    def changes(dir: String)(m: Model): Model = {
      val up = batch(40, 10, 3L)
      MergeWriter.applyChanges(spark, dir, frame(up),
        Seq("k0", "k1").toDF("k"), keys)
      m -- Seq("k0", "k1") ++ up
    }
    // group members: the step's table is "$grp/<member>"; the first
    // batch creates the member, the next upserts into it
    val grp = s"$root/grp"
    def member(dir: String): Option[String] =
      Some(dir.stripPrefix(grp + "/")).filter(_ => dir.startsWith(grp + "/"))
    def group(name: String, eqds: Boolean)(m: Model): Model = {
      val b = if (m.isEmpty) batch(0, 40, 1L) else batch(35, 10, 2L)
      MergeWriter.mergeGroup(spark, grp, Seq((name, frame(b), keys)),
        buckets = 4, eqDeletes = if (eqds) Set(name) else Set.empty)
      m ++ b
    }
    // (step, table, the write and the model it leaves, lands an overlay)
    val steps: Seq[(String, String, Model => Model, Boolean)] = Seq(
      ("merge creates", cow, _ => create(cow, dvs = false, eqds = false),
        false),
      ("merge rewrites", cow, upsert(cow), false),
      ("delete", cow, delete(cow), false),
      ("applyChanges", cow, changes(cow), false),
      ("mergeVersioned", cow, { m =>
        val b = batch(10, 5, 9L) ++ batch(45, 10, 0L)
        MergeWriter.mergeVersioned(spark, cow, frame(b), keys, "v")
        m ++ b.filter { case (k, (_, v)) => m.get(k).forall(_._2 < v) }
      }, false),
      ("overwriteTable", cow, { _ =>
        val b = batch(100, 30, 4L)
        MergeWriter.overwriteTable(spark, cow, frame(b), keys)
        b }, false),
      ("compact", cow, { m => MergeWriter.compact(spark, cow); m }, false),
      ("compactBuckets", cow,
        { m => MergeWriter.compactBuckets(spark, cow, Set(0, 1)); m }, false),
      ("splitBuckets", cow,
        { m => MergeWriter.splitBuckets(spark, cow, keys); m }, false),
      ("merge creates (deleteVectors)", dv,
        _ => create(dv, dvs = true, eqds = false), false),
      ("merge overlays (deleteVectors)", dv, upsert(dv), true),
      ("delete (deleteVectors)", dv, delete(dv), true),
      ("applyChanges (deleteVectors)", dv, changes(dv), true),
      ("merge creates (eqDeletes)", eqd,
        _ => create(eqd, dvs = true, eqds = true), false),
      ("merge overlays (eqDeletes)", eqd, upsert(eqd), true),
      ("delete (eqDeletes)", eqd, delete(eqd), true),
      ("applyChanges (eqDeletes)", eqd, changes(eqd), true),
      // a member's flag: the group manifest carries equality deletes
      ("mergeGroup creates", s"$grp/cow", group("cow", eqds = false), false),
      ("mergeGroup rewrites", s"$grp/cow", group("cow", eqds = false),
        false),
      ("mergeGroup creates (eqDeletes)", s"$grp/eqd",
        group("eqd", eqds = true), false),
      ("mergeGroup overlays (eqDeletes)", s"$grp/eqd",
        group("eqd", eqds = true), true),
      ("mergeAdditive", add, { _ =>
        MergeWriter.createTable(spark, add,
          org.apache.spark.sql.types.StructType.fromDDL(
            "k STRING, d BIGINT, v BIGINT"), keys, buckets = 4,
          clusterBy = Seq("d"), bloomBy = Seq("k"), bloomItems = 100,
          fingerprint = true)
        val b = batch(0, 30, 1L)
        MergeWriter.mergeAdditive(spark, add, frame(b), keys,
          Seq("d", "v"), txn = ("app", 1L))
        b }, false),
      ("mergeAdditive folds", add, { m =>
        val b = batch(20, 20, 5L)
        MergeWriter.mergeAdditive(spark, add, frame(b), keys,
          Seq("d", "v"), txn = ("app", 2L))
        m ++ b.map { case (k, (d, v)) =>
          k -> m.get(k).fold((d, v)) { case (d0, v0) => (d0 + d, v0 + v) }
        } }, false))
    val models = scala.collection.mutable.Map.empty[String, Model]
    steps.foreach { case (step, dir, write, overlay) =>
      val m = write(models.getOrElse(dir, Map.empty))
      models(dir) = m
      val got = member(dir).fold(MergeWriter.readTable(spark, dir))(
        MergeWriter.readGroupTable(spark, grp, _)).collect()
        .map(r => (r.getString(0), (r.getLong(1), r.getLong(2)))).toMap
      assert(got == m, step)
      if (member(dir).isDefined) {
        val g = new java.io.File(grp).listFiles().map(_.getName)
          .filter(_.startsWith("_group-manifest-")).max
        assert(new String(Files.readAllBytes(new java.io.File(grp, g)
          .toPath), "UTF-8").contains("\"eqds\":") == overlay, step)
      } else {
        val files = MergeWriter.tableFiles(spark, dir).collect()
        assert(files.nonEmpty, step)
        assert(files.exists(_.getAs[Boolean]("overlay")) == overlay, step)
        files.foreach { f =>
          assert(f.getAs[Boolean]("fingerprinted") && !f.isNullAt(
            f.fieldIndex("rows")) && f.getAs[Int]("stats_cols") > 0,
            s"$step: $f")
        }
      }
    }
  }

  test("commit loop: one lost CAS rebases or conflicts by the entry's " +
       "rule; a primitive that always loses fails every entry") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val root = Files.createTempDirectory("commitloop").toString
    val keys = Seq("k")
    def frame(from: Int, n: Int, v: Long) =
      (from until from + n).map(i => (s"k$i", v, i)).toDF("k", "v", "w")
    var nTargets = 0
    // a fresh 2-bucket table of 20 rows; its txn ledger holds app "app"
    def table(deleteVectors: Boolean = false,
              eqDeletes: Boolean = false): String = {
      nTargets += 1
      val dir = s"$root/t$nTargets"
      MergeWriter.merge(spark, dir, frame(0, 20, 1L), keys, buckets = 2,
        deleteVectors = deleteVectors, eqDeletes = eqDeletes,
        txn = Some(("app", 1L)))
      dir
    }
    def group(): String = {
      nTargets += 1
      val g = s"$root/g$nTargets"
      MergeWriter.mergeGroup(spark, g, Seq(("m", frame(0, 20, 1L), keys)),
        buckets = 2)
      g
    }
    // entry, isGroup, history op of a retrying entry (None = the entry
    // publishes a state derived from ONE version: any loss conflicts),
    // setup returning the target path, the entry itself
    case class Entry(name: String, isGroup: Boolean, op: Option[String],
                     setup: () => String, run: String => Unit)
    def t(name: String, op: Option[String], setup: () => String = () =>
        table())(run: String => Unit) = Entry(name, false, op, setup, run)
    def g(name: String, op: Option[String])(run: String => Unit) =
      Entry(name, true, op, () => group(), run)
    val entries = Seq(
      t("expireTxns", Some("expireTxns"))(
        MergeWriter.expireTxns(spark, _, Seq("app"))),
      t("createTag", Some("tag"))(MergeWriter.createTag(spark, _, "t1")),
      t("dropTag", Some("untag"), () => {
        val d = table(); MergeWriter.createTag(spark, d, "t1"); d
      })(MergeWriter.dropTag(spark, _, "t1")),
      t("addCheckConstraint", Some("addconstraint"))(
        MergeWriter.addCheckConstraint(spark, _, "c1", "v >= 0")),
      t("dropCheckConstraint", Some("dropconstraint"), () => {
        val d = table()
        MergeWriter.addCheckConstraint(spark, d, "c1", "v >= 0"); d
      })(MergeWriter.dropCheckConstraint(spark, _, "c1")),
      t("setRetention", Some("retention"))(
        MergeWriter.setRetention(spark, _, versions = 3)),
      t("restoreVersion", Some("restore"), () => {
        val d = table()
        MergeWriter.merge(spark, d, frame(0, 2, 2L), keys); d
      })(d => MergeWriter.restoreVersion(spark, d,
        MergeWriter.availableVersions(spark, d).head)),
      t("addColumns", Some("addColumns"))(MergeWriter.addColumns(spark, _,
        StructType(Seq(StructField("x", StringType, nullable = true))))),
      t("renameColumn", Some("renameColumn"))(
        MergeWriter.renameColumn(spark, _, "v", "v2")),
      t("widenColumn", Some("widenColumn"))(
        MergeWriter.widenColumn(spark, _, "w", LongType)),
      t("replaceSchemaMetadata", Some("alterDefault"))(d =>
        MergeWriter.replaceSchemaMetadata(spark, d,
          MergeWriter.readTable(spark, d).schema)),
      t("dropColumn", Some("dropColumn"))(
        MergeWriter.dropColumn(spark, _, "w")),
      t("analyzeTable", Some("analyze"))(d => {
        MergeWriter.analyzeTable(spark, d); ()
      }),
      t("txn guard", Some("txn"))(MergeWriter.mergeAdditive(spark, _,
        frame(0, 0, 0L), keys, Seq("v", "w"), txn = ("add", 1L))),
      t("merge (copy-on-write)", Some("merge"))(
        MergeWriter.merge(spark, _, frame(0, 3, 2L), keys)),
      t("merge (merge-on-read)", Some("merge"),
        () => table(deleteVectors = true))(
        MergeWriter.merge(spark, _, frame(0, 3, 2L), keys)),
      t("merge (equality deletes)", Some("merge"),
        () => table(eqDeletes = true))(
        MergeWriter.merge(spark, _, frame(0, 3, 2L), keys)),
      t("delete (deletion vectors)", Some("delete"),
        () => table(deleteVectors = true))(MergeWriter.delete(spark, _,
        Seq("k1", "k2").toDF("k"), keys)),
      g("mergeGroup", Some("mergeGroup"))(MergeWriter.mergeGroup(spark, _,
        Seq(("m", frame(0, 3, 2L), keys)))),
      t("truncateHistory", None)(MergeWriter.truncateHistory(spark, _)),
      t("buildBloomIndex", None)(
        MergeWriter.buildBloomIndex(spark, _, Seq("k"))),
      t("compact", None)(MergeWriter.compact(spark, _)),
      t("clusterTable", None)(MergeWriter.clusterTable(spark, _, Seq("v"))),
      t("compactBuckets", None)(
        MergeWriter.compactBuckets(spark, _, Set(0, 1))),
      t("splitBuckets", None)(MergeWriter.splitBuckets(spark, _, keys)),
      t("createBranch", None)(MergeWriter.createBranch(spark, _, "b1")),
      t("fastForward", None, () => {
        val d = table()
        MergeWriter.createBranch(spark, d, "b1")
        MergeWriter.merge(spark, d, frame(0, 2, 2L), keys, ref = Some("b1"))
        d
      })(MergeWriter.fastForward(spark, _, "b1")),
      t("createTable", None, () => { nTargets += 1; s"$root/c$nTargets" })(
        MergeWriter.createTable(spark, _, frame(0, 1, 0L).schema, keys,
          buckets = 2)),
      g("splitGroupBuckets", None)(
        MergeWriter.splitGroupBuckets(spark, _, "m", keys)),
      g("compactGroupTable", None)(
        MergeWriter.compactGroupTable(spark, _, "m")))
    val put = new ConditionalPut
    try {
      MergeWriter.setCommitPrimitive(put)
      entries.foreach { e =>
        val path = e.setup()
        def versions(): Seq[Long] =
          if (e.isGroup) groupVersions(path)
          else MergeWriter.availableVersions(spark, path)
        def lastOp(): String =
          if (e.isGroup) groupOp(path)
          else MergeWriter.tableHistory(spark, path).head().getAs[String]("op")
        val before = versions()
        // every CAS loses: the bounded loop gives up with the protocol's
        // conflict, whatever the entry's rule
        put.loseAll = true
        try intercept[java.util.ConcurrentModificationException](e.run(path))
        finally put.loseAll = false
        assert(versions() == before, s"${e.name}: moved under loseAll")
        // one lost CAS: a retrying entry rebases onto the (unchanged)
        // head and commits once; a derived-from-one-version entry conflicts
        put.failNext = true
        e.op match {
          case Some(op) =>
            e.run(path)
            val after = versions()
            assert(after.last == before.lastOption.getOrElse(0L) + 1,
              s"${e.name}: ${before} -> ${after}")
            assert(after == (after.head to after.last),
              s"${e.name}: non-sequential versions $after")
            assert(lastOp() == op, s"${e.name}: history op")
          case None =>
            intercept[java.util.ConcurrentModificationException](e.run(path))
            assert(versions() == before, s"${e.name}: moved on a lost CAS")
        }
        assert(!put.failNext, s"${e.name}: published without the primitive")
        put.failNext = false
      }
    } finally MergeWriter.setCommitPrimitive(MergeWriter.LinkOrRenameCommit)
  }

  test("a keyed write evaluates its input's lineage once and plans no later query over it") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    // the marker bumps the accumulator once per evaluated input row and
    // names itself in every plan that carries the input's lineage
    val evals = spark.sparkContext.longAccumulator("lineage-evals")
    val marker = udf((k: String) => { evals.add(1L); k })
      .asNondeterministic().withName("lineage_marker")
    def tagged(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("k", marker(col("k")))
    val root = Files.createTempDirectory("staged").toString
    var n = 0
    def table(kind: String, additive: Boolean = false): String = {
      n += 1
      val d = s"$root/$kind$n"
      val rows = (0 until 20).map(i => (s"k$i", i.toLong, 1L))
        .toDF("k", "v", "ver")
      MergeWriter.merge(spark, d,
        if (additive) rows.select("k", "v") else rows, Seq("k"), buckets = 4,
        deleteVectors = kind == "dv", eqDeletes = kind == "eqd")
      d
    }
    def group(kind: String): String = {
      n += 1
      val g = s"$root/g-$kind$n"
      MergeWriter.mergeGroup(spark, g, Seq(("m", (0 until 20)
        .map(i => (s"k$i", i.toLong, 1L)).toDF("k", "v", "ver"), Seq("k"))),
        buckets = 4, eqDeletes = if (kind == "eqd") Set("m") else Set.empty)
      g
    }
    // 20 upserts (half of them overlap the stored keys), 5 delete keys;
    // shuffled range frames, since the optimizer folds a projection over
    // a local Seq into a constant at planning time
    def key = concat(lit("k"), col("id").cast("string")).as("k")
    val ups = spark.range(10, 30).repartition(3)
      .select(key, (col("id") * 10).as("v"), lit(2L).as("ver"))
    val dels = spark.range(0, 5).repartition(2).select(key)
    val cases: Seq[(String, () => String, String => Unit, Long)] =
      Seq("cow", "dv", "eqd").flatMap { kind => Seq[(String, () => String,
          String => Unit, Long)](
        (s"merge/$kind", () => table(kind),
          MergeWriter.merge(spark, _, tagged(ups), Seq("k")), 20L),
        (s"delete/$kind", () => table(kind),
          MergeWriter.delete(spark, _, tagged(dels), Seq("k")), 5L),
        (s"applyChanges/$kind", () => table(kind),
          MergeWriter.applyChanges(spark, _, tagged(ups), tagged(dels),
            Seq("k")), 25L),
        (s"mergeAdditive/$kind", () => table(kind, additive = true),
          MergeWriter.mergeAdditive(spark, _, tagged(ups.select("k", "v")),
            Seq("k"), Seq("v"), txn = ("app", 1L)), 20L),
        (s"mergeVersioned/$kind", () => table(kind),
          MergeWriter.mergeVersioned(spark, _, tagged(ups), Seq("k"), "ver"),
          20L))
      } ++ Seq("cow", "eqd").map { kind =>
        // group members have no position-vector arm: copy-on-write or eqd
        (s"mergeGroup/$kind", () => group(kind), (g: String) =>
          MergeWriter.mergeGroup(spark, g, Seq(("m", tagged(ups), Seq("k"))),
            buckets = 4,
            eqDeletes = if (kind == "eqd") Set("m") else Set.empty), 20L)
      } :+ {
        // the optimizer evaluates the marker over a local frame once, at
        // planning, so no plan carries it; the write still stages once
        val local = (10 until 30).map(i => (s"k$i", i * 10L, 2L))
          .toDF("k", "v", "ver")
        ("merge/local", () => table("cow"), (d: String) =>
          MergeWriter.merge(spark, d, tagged(local), Seq("k")), 20L)
      }
    val heard = new java.util.concurrent.ConcurrentLinkedQueue[(String, Boolean)]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit =
        heard.add(funcName -> qe.executedPlan.toString.contains("lineage_marker"))
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = ()
    }
    cases.foreach { case (name, setup, write, inputRows) =>
      val target = setup()
      org.apache.spark.GraftTestBus.drain(spark.sparkContext)
      heard.clear()
      evals.reset()
      spark.listenerManager.register(listener)
      try write(target)
      finally {
        org.apache.spark.GraftTestBus.drain(spark.sparkContext)
        spark.listenerManager.unregister(listener)
      }
      assert(evals.value == inputRows,
        s"$name: the input's lineage ran ${evals.value} row evaluations " +
          s"for $inputRows input rows")
      val queries = heard.asScala.toSeq
      assert(queries.exists { case (f, m) =>
          f == "localCheckpoint" && (m || name.endsWith("/local")) },
        s"$name: no staging query over the input: $queries")
      val late = queries.filter { case (f, m) => m && f != "localCheckpoint" }
      assert(late.isEmpty,
        s"$name: queries after staging plan the input's lineage: $late")
    }
  }

  test("readKeys runs the lineage of its wanted frame once") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val dir = Files.createTempDirectory("keysonce").toString + "/t"
    MergeWriter.merge(spark, dir,
      (0 until 20).map(i => (s"k$i", i.toLong)).toDF("k", "v"), Seq("k"),
      buckets = 4)
    // the marker counts its evaluations and names itself in every
    // analyzed plan that carries the wanted lineage (an aggregate)
    val evals = spark.sparkContext.longAccumulator("wanted-evals")
    val marker = udf((k: String) => { evals.add(1L); k })
      .asNondeterministic().withName("wanted_marker")
    val wanted = spark.range(0, 12).repartition(3)
      .groupBy((col("id") % 6).as("g")).count()
      .select(marker(concat(lit("k"), col("g").cast("string"))).as("k"))
    val heard = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit =
        if (qe.analyzed.toString.contains("wanted_marker")) heard.add(funcName)
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = ()
    }
    org.apache.spark.GraftTestBus.drain(spark.sparkContext)
    spark.listenerManager.register(listener)
    val got = try MergeWriter.readKeys(spark, dir, wanted, Seq("k")).collect()
      finally {
        org.apache.spark.GraftTestBus.drain(spark.sparkContext)
        spark.listenerManager.unregister(listener)
      }
    assert(got.map(r => r.getString(0) -> r.getLong(1)).toMap ==
      (0 until 6).map(i => s"k$i" -> i.toLong).toMap)
    assert(evals.value == 6L,
      s"the wanted lineage ran ${evals.value} evaluations for 6 keys")
    assert(heard.asScala.toSeq == Seq("collect"),
      s"queries that plan the wanted lineage: ${heard.asScala.toSeq}")
  }

  test("a keyed write releases its staged rows whether it commits, skips or fails") {
    import spark.implicits._
    val root = Files.createTempDirectory("release").toString
    val cache = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    // shuffled range frames and local Seq frames (the delete keys below)
    // take the same staging job
    def rows(from: Int, until: Int) = spark.range(from, until).repartition(2)
      .select(concat(lit("k"), col("id").cast("string")).as("k"),
        col("id").as("v"))
    var n = 0
    def table(deleteVectors: Boolean = false): String = {
      n += 1
      val d = s"$root/t$n"
      MergeWriter.merge(spark, d, rows(0, 1), Seq("k"), buckets = 64,
        deleteVectors = deleteVectors)
      d
    }
    // a key whose bucket stores nothing: deleting it touches no stored
    // bucket, so the write stages its keys and then records nothing
    val storedBucket = Seq("k0").toDF("k")
      .select(pmod(hash(col("k")), lit(64))).as[Int].head()
    val elsewhere = (1 until 1000).map(i => s"x$i").find(k => Seq(k).toDF("k")
      .select(pmod(hash(col("k")), lit(64))).as[Int].head() != storedBucket).get
    val nullKey = rows(0, 2).withColumn("k",
      when(col("v") === 1L, lit(null).cast("string")).otherwise(col("k")))
    val cases: Seq[(String, () => Unit)] = Seq(
      "merge commits" -> (() =>
        MergeWriter.merge(spark, table(), rows(0, 10), Seq("k"))),
      "merge-on-read merge commits" -> (() =>
        MergeWriter.merge(spark, table(deleteVectors = true), rows(0, 10),
          Seq("k"))),
      "delete commits" -> (() =>
        MergeWriter.delete(spark, table(), Seq("k0").toDF("k"), Seq("k"))),
      "applyChanges commits" -> (() =>
        MergeWriter.applyChanges(spark, table(), rows(5, 10),
          Seq("k0").toDF("k"), Seq("k"))),
      "an empty batch skips" -> (() =>
        MergeWriter.merge(spark, table(), rows(0, 0), Seq("k"))),
      "a replayed txn skips" -> (() => {
        val d = table()
        MergeWriter.mergeAdditive(spark, d, rows(0, 3), Seq("k"), Seq("v"),
          txn = ("app", 1L))
        MergeWriter.mergeAdditive(spark, d, rows(0, 3), Seq("k"), Seq("v"),
          txn = ("app", 1L))
      }),
      "a delete touching no stored bucket skips" -> (() =>
        MergeWriter.delete(spark, table(), Seq(elsewhere).toDF("k"),
          Seq("k"))),
      "a merge-on-read delete of an absent key skips" -> (() =>
        MergeWriter.delete(spark, table(deleteVectors = true),
          Seq(elsewhere).toDF("k"), Seq("k"))),
      "a NULL merge key fails" -> (() =>
        intercept[Exception](MergeWriter.merge(spark, table(), nullKey,
          Seq("k")))),
      "a duplicate key under assertUnique fails" -> (() =>
        intercept[IllegalArgumentException](MergeWriter.merge(spark, table(),
          rows(0, 3).union(rows(1, 2)), Seq("k"),
          assertUnique = Some("INSERT")))))
    cases.foreach { case (name, write) =>
      val before = spark.sparkContext.getPersistentRDDs.keySet
      write()
      val left = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(left.isEmpty, s"$name: left persisted RDDs $left behind")
      assert(cache.isEmpty, s"$name: left a cached frame behind")
    }
  }
}
