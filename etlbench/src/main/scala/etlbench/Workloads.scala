package etlbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.operators.{Insights, RevisionPipeline}
import graft.sources.{MaterializedViews, MergeWriter}

/** What every workload shares: the session, the tracer, the scratch
  * directory and the generated inputs.
  */
final class Ctx(val spark: SparkSession, val tr: Tracer, val work: File,
                val data: Generator.Written, val seed: Long) {
  /** Tables live in the `bench` catalog's warehouse, namespace `etl`. */
  val warehouse: String = new File(work, "warehouse").getAbsolutePath
  def etl(ns: String): Etl = new Etl(spark, tr, s"$warehouse/$ns", Workloads.Buckets)
}

/** One operation of the closed loop; `run` returns the items it wrote. */
final case class Step(kind: String, run: () => Int)

trait Workload {
  /** Base load and the fixed, untimed warm phase. */
  def setup(): Unit
  def hasNext: Boolean
  def next(i: Int): Step
  /** Output checks after the timed phase; each entry is one failure. */
  def check(): Seq[String]
  /** Table-layout figures of the final tables. */
  def storage(): Map[String, Double]
}

/** A workload definition: its generated inputs and which operation kinds
  * its end-to-end metrics are taken over.
  */
trait Kind {
  /** How many operations the timed phase runs for a `--seconds` budget:
    * a fixed count, so every run measures the same stretch of the JVM's
    * warm-up curve instead of however many operations a slower or faster
    * machine fits into the window.
    */
  def ops(seconds: Double): Int
  def spec(seconds: Double): Generator.Spec
  def make(ctx: Ctx): Workload
  /** Operation kinds whose latency is `op_p50_ms`. */
  def main(kind: String): Boolean
  /** Operation kinds that write items (`items_per_s`). */
  def writes(kind: String): Boolean
}

object Workloads {
  /** One bucket per Spark task thread. */
  val Buckets = 4
  /** The base world both workloads load in set-up. A 10k-item base (one of
    * the reference ETL's re-ingest chunks) does not fit the benchmark's
    * time budget; see README.md.
    */
  val BaseItems = 2000
  val byName: Map[String, Kind] = Map("sync" -> Sync, "dashboard" -> Dashboard)

  /** Runs an untimed step (set-up or check) and reports its wall time on
    * standard error.
    */
  def logged[A](what: String)(f: => A): A = {
    val t0 = System.nanoTime()
    val r = f
    System.err.println(f"[etlbench] $what in ${(System.nanoTime() - t0) / 1e9}%.2f s")
    r
  }

  /** Compares the tables of `etl` with a one-shot RevisionPipeline
    * recompute over the latest version of every item in `dirs`, and the
    * stored watermark with the maximum `updated`. Returns the failures,
    * the one-shot frames (persisted) and the raw JSON bytes of the items.
    */
  def checkTables(spark: SparkSession, etl: Etl, dirs: Seq[String])
      : (Seq[String], DataFrame, DataFrame, Long) = {
    val wf = Generator.Workflow
    val (docs, rawBytes) = Etl.latest(spark, dirs)
    val revs = RevisionPipeline.explodeChangelog(docs).persist(StorageLevel.MEMORY_AND_DISK)
    val dates = RevisionPipeline.eventDatesFor(revs, Map(wf.workflowId -> wf), wf.workflowId)
      .toDF().persist(StorageLevel.MEMORY_AND_DISK)
    val snaps = RevisionPipeline.snapshots(revs, dates, wf).persist(StorageLevel.MEMORY_AND_DISK)
    val states = Etl.states(docs, dates).persist(StorageLevel.MEMORY_AND_DISK)
    val failures = Seq(
      ("states", states, etl.statesPath), ("snapshots", snaps, etl.snapshotsPath)
    ).flatMap { case (name, oneShot, path) =>
      val stored = MergeWriter.readTable(spark, path)
      val want = Etl.digest(oneShot, oneShot.columns.toSeq)
      val got = Etl.digest(stored, oneShot.columns.toSeq)
      if (want == got) None
      else Some(s"$name: table has ${got._1} rows (digest ${got._2}), one-shot " +
        s"recompute has ${want._1} rows (digest ${want._2})")
    }
    val maxUpdated = docs.agg(max(col("fields.updated"))).head().getString(0)
    val mark = etl.storedMark()
    val markFailure =
      if (mark.contains(maxUpdated)) None
      else Some(s"watermark is $mark, max updated is $maxUpdated")
    (failures ++ markFailure, states, snaps, rawBytes)
  }

  /** Files, live epochs and stored bytes per raw JSON byte of the states
    * and snapshots tables.
    */
  def storage(spark: SparkSession, etl: Etl, rawBytes: Long): Map[String, Double] = {
    val rows = Seq(etl.statesPath, etl.snapshotsPath)
      .map(p => MergeWriter.describeTable(spark, p).head())
    val bytes = rows.map(_.getAs[Long]("total_bytes")).sum.toDouble
    Map("storage.files" -> rows.map(_.getAs[Int]("n_files")).sum.toDouble,
      "storage.live_epochs" -> rows.map(_.getAs[Int]("live_epochs")).sum.toDouble,
      "storage.bytes_per_user_byte" -> (if (rawBytes > 0) bytes / rawBytes else 0.0))
  }
}

/** Base tables loaded in set-up, then one sync round per operation: a
  * drop of a few hundred recently-updated and new items.
  */
object Sync extends Kind {
  private val WarmRounds = 1
  /** A round takes about 6 s. */
  def ops(seconds: Double): Int = math.max(3, math.round(seconds / 6).toInt)
  def spec(seconds: Double): Generator.Spec = Generator.Spec(
    baseItems = Workloads.BaseItems, drops = WarmRounds + ops(seconds),
    dropUpdates = 200, dropArrivals = 50, redelivered = 50)
  def main(kind: String): Boolean = kind == "round"
  def writes(kind: String): Boolean = kind == "round"

  def make(ctx: Ctx): Workload = new Workload {
    private val etl = ctx.etl("etl")
    private val drops = ctx.data.drops
    private var applied = 0
    private var rawBytes = 0L
    def setup(): Unit = {
      Workloads.logged("base load")(etl.run(ctx.data.base))
      while (applied < WarmRounds) {
        Workloads.logged("warm round")(etl.run(drops(applied)))
        applied += 1
      }
    }
    def hasNext: Boolean = applied < drops.size
    def next(i: Int): Step = {
      val d = drops(applied)
      applied += 1
      Step("round", () => etl.run(d))
    }
    def check(): Seq[String] = {
      val (f, _, _, b) = Workloads.logged("check tables")(Workloads.checkTables(ctx.spark, etl,
        (ctx.data.base +: drops.take(applied)).map(_.path)))
      rawBytes = b
      f
    }
    def storage(): Map[String, Double] = Workloads.storage(ctx.spark, etl, rawBytes)
  }
}

/** Dashboard reads through the SQL read face (graft catalog, MV rewrite
  * on) and `operators.Insights`, with one small sync round plus an MV
  * refresh after every cycle of reads.
  */
object Dashboard extends Kind {
  val Classes: Seq[String] = Seq("lead_time", "throughput", "wip_age", "cfd", "history", "rollup")
  /** A cycle: every read class once, then one write. */
  private val Cycle = Classes.size + 1
  private val RollupSql = "SELECT workItemType, stateCategory, COUNT(*) AS n " +
    "FROM %s GROUP BY workItemType, stateCategory"

  /** A cycle takes about 11 s. */
  def ops(seconds: Double): Int = math.max(2, math.round(seconds / 11).toInt) * Cycle
  def spec(seconds: Double): Generator.Spec = Generator.Spec(
    baseItems = Workloads.BaseItems, drops = ops(seconds) / Cycle,
    dropUpdates = 80, dropArrivals = 20, redelivered = 30)
  def main(kind: String): Boolean = kind.startsWith("read:")
  def writes(kind: String): Boolean = kind == "write"

  /** One read class over the given states / snapshots table names. */
  def read(spark: SparkSession, cls: String, states: String, snaps: String,
           item: String): DataFrame = cls match {
    case "lead_time" =>
      Insights.leadTimeStats(spark.table(states)
        .where(col("commitmentDate").isNotNull && col("departureDate").isNotNull),
        col("workItemType"), col("commitmentDate"), col("departureDate"))
    case "throughput" =>
      Insights.throughputQuartiles(spark.table(states).where(col("departureDate").isNotNull),
        col("departureDate"))
    case "wip_age" => spark.sql(
      s"""SELECT workItemType, COUNT(*) AS wip,
         |  SUM(datediff(TIMESTAMP_NTZ'2024-06-02 00:00:00', commitmentDate)) AS age_days,
         |  MAX(datediff(TIMESTAMP_NTZ'2024-06-02 00:00:00', commitmentDate)) AS oldest_days
         |FROM $states WHERE stateCategory = 'inprogress' GROUP BY workItemType""".stripMargin)
    case "cfd" => spark.sql(
      s"""SELECT stateCategory, CAST(flomatikaSnapshotDate AS DATE) AS day, COUNT(*) AS n
         |FROM $snaps WHERE type = 'state_change'
         |  AND flomatikaSnapshotDate >= TIMESTAMP_NTZ'2024-05-02 00:00:00'
         |  AND flomatikaSnapshotDate < TIMESTAMP_NTZ'2024-06-02 00:00:00'
         |GROUP BY stateCategory, CAST(flomatikaSnapshotDate AS DATE)""".stripMargin)
    case "history" => spark.sql(
      s"""SELECT revision, type, changedDate, statusName, stateCategory, flagged
         |FROM $snaps WHERE workItemId = '$item'""".stripMargin)
    case "rollup" => spark.sql(RollupSql.format(states))
  }

  /** Rows the leaf scans of an executed plan produced. */
  private def scanned(p: SparkPlan): Long = p match {
    case a: AdaptiveSparkPlanExec => scanned(a.executedPlan)
    case q: QueryStageExec => scanned(q.plan)
    case l if l.children.isEmpty => l.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    case other => other.children.map(scanned).sum
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  def make(ctx: Ctx): Workload = new Workload {
    private val spark = ctx.spark
    private val tr = ctx.tr
    private val etl = ctx.etl("etl")
    private val drops = ctx.data.drops
    private val mvPath = s"${ctx.warehouse}/etl/rollup"
    private val rnd = new java.util.SplittableRandom(ctx.seed ^ 0x5DEECE66DL)
    private var applied = 0
    private var rawBytes = 0L

    private def doRead(cls: String): Int = {
      val item = s"BENCH-${rnd.nextInt(Workloads.BaseItems)}"
      tr.span(s"read.$cls") {
        val df = read(spark, cls, "bench.etl.states", "bench.etl.snapshots", item)
        val out = df.collect()
        if (tr.on) {
          tr.note("read.plan_ms", Trace.planMs(df.queryExecution).toDouble)
          tr.note("read.rows_returned", out.length)
          tr.note("read.rows_scanned", scanned(df.queryExecution.executedPlan).toDouble)
          if (cls == "rollup") {
            tr.note("MvRewrite.reads", 1)
            if (df.queryExecution.optimizedPlan.collect { case g: Aggregate => g }.isEmpty)
              tr.note("MvRewrite.hits", 1)
          }
        }
      }
      0
    }
    private def doWrite(): Int = {
      val d = drops(applied)
      applied += 1
      val n = etl.run(d)
      tr.span("MaterializedViews.refresh") {
        if (MaterializedViews.refresh(spark, mvPath).exists(_._1 == -1L))
          tr.note("MaterializedViews.full_reevals", 1)
      }
      n
    }
    private def step(i: Int): Step = {
      val pos = i % Cycle
      if (pos < Classes.size) Step(s"read:${Classes(pos)}", () => doRead(Classes(pos)))
      else Step("write", () => doWrite())
    }

    def setup(): Unit = {
      Workloads.logged("base load")(etl.run(ctx.data.base))
      spark.sql("CALL bench.system.create_mv(view => 'etl.rollup', source => 'etl.states', " +
        s"query => '${RollupSql.format("states")}')")
      spark.sql("CALL bench.system.enable_mv_rewrite(view => 'etl.rollup')")
      // warm phase: the read classes only; a warm write would cost as
      // much as a timed cycle
      Classes.foreach(doRead)
    }
    def hasNext: Boolean = applied < drops.size
    def next(i: Int): Step = step(i)
    def check(): Seq[String] = {
      val (f, states, snaps, b) = Workloads.logged("check tables")(Workloads.checkTables(spark, etl,
        (ctx.data.base +: drops.take(applied)).map(_.path)))
      rawBytes = b
      states.createOrReplaceTempView("oneshot_states")
      snaps.createOrReplaceTempView("oneshot_snapshots")
      val item = "BENCH-1"
      val readFailures = Workloads.logged("check reads")(Classes.flatMap { cls =>
        val got = rows(read(spark, cls, "bench.etl.states", "bench.etl.snapshots", item))
        val want = rows(read(spark, cls, "oneshot_states", "oneshot_snapshots", item))
        if (got == want) None
        else Some(s"read $cls: ${got.size} rows differ from the one-shot " +
          s"${want.size} rows (first: ${got.take(2)} vs ${want.take(2)})")
      })
      f ++ readFailures
    }
    def storage(): Map[String, Double] = Workloads.storage(spark, etl, rawBytes)
  }
}
