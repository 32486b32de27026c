package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}
import scala.jdk.CollectionConverters._
import graft.sources.MergeWriter

/** Incremental-scan checkpointing (§2.5): the per-datasource high-water
  * mark the reference keeps in `datasources.nextRunStartFrom` and advances
  * to max(`updated`) after every run (`src/data/datasource_aurora.ts:268-299`,
  * `src/jiracloud/process/extract_state_processor.ts:368-370,444-446`), plus
  * the due-date check gating each run (`src/utils/date_utils.ts:5-25`).
  *
  * The checkpoint is a tiny keyed table maintained through the bucketed
  * [[MergeWriter]]; [[advance]] is monotonic by construction (greatest of the
  * stored and observed marks), so replaying a stale batch — the at-least-once
  * delivery case — can never move a watermark backwards.
  */
object Watermarks {

  /** Merge a processed batch's high-water marks into the checkpoint table,
    * monotonically: a datasource's stored mark only ever increases
    * (greatest of stored and observed), new datasources are inserted.
    * The batch's maxima (at most [[MaxMarks]] datasources) are compared
    * in the driver with the pinned stored marks under Spark's own
    * ordering of the mark type, and only the datasources whose mark moved
    * are merged — a stale or replayed batch commits nothing.
    */
  def advance(spark: SparkSession, checkpointPath: String, batch: DataFrame,
              datasource: Column, updated: Column, buckets: Int = 8): Unit = {
    val fs = new org.apache.hadoop.fs.Path(checkpointPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stored =
      if (fs.exists(new org.apache.hadoop.fs.Path(checkpointPath)))
        Some(pinnedMarks(spark, checkpointPath))
      else None
    // observations in the stored types, so one ordering compares both
    val obs0 = batch.select(datasource.as("datasource_id"),
      updated.as("next_run_start_from"))
    val obs = stored.fold(obs0) { case (_, schema) =>
      obs0.select(schema.fields.map(f => col(f.name).cast(f.dataType)
        .as(f.name)).toIndexedSeq: _*)
    }
    val seen = MergeWriter.labeled(spark, "graft.watermark-observe")(
      obs.groupBy(col("datasource_id"))
        .agg(max(col("next_run_start_from")).as("next_run_start_from"))
        .limit(MaxMarks + 1).collect())
    require(seen.length <= MaxMarks,
      s"Watermarks.advance: the batch has > $MaxMarks datasources — " +
        "the checkpoint holds one mark per datasource")
    val marks = stored.fold(Map.empty[Any, Any])(_._1
      .map(r => r.get(0) -> r.get(1)).toMap)
    val later = after(obs.schema("next_run_start_from").dataType)
    val moved = seen.filter(r => later(r.get(1), marks.get(r.get(0)))).toSeq
    if (moved.nonEmpty)
      MergeWriter.merge(spark, checkpointPath,
        spark.createDataFrame(moved.asJava, obs.schema),
        Seq("datasource_id"), buckets)
  }

  /** Does `mark` move a datasource past `current`? An unknown datasource
    * always moves; otherwise, as `max()` ignores NULLs, a NULL mark never
    * moves a stored one and a NULL stored mark yields to any mark.
    */
  private def after(t: DataType): (Any, Option[Any]) => Boolean = {
    val internal = CatalystTypeConverters.createToCatalystConverter(t)
    val ord = TypeUtils.getInterpretedOrdering(t)
    (mark, current) => current.forall(c => mark != null &&
      (c == null || ord.gt(internal(mark), internal(c))))
  }

  /** Hard ceiling on the checkpoint dim pinned by [[currentMarks]]: the
    * table has one row per DATASOURCE — anything past this is a misuse on a
    * data-scale frame, which must fail loudly, not OOM the driver.
    */
  val MaxMarks = 1000000

  /** Current marks as a local map — the checkpoint dim is metadata-sized
    * (one row per datasource), and pinning it locally keeps a later
    * incremental filter stable across subsequent [[advance]] writes (a lazy
    * re-read of the checkpoint path would see the post-advance marks).
    */
  def currentMarks(spark: SparkSession, checkpointPath: String): DataFrame = {
    val (rows, schema) = pinnedMarks(spark, checkpointPath)
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** The checkpoint's rows collected to the driver with their schema. */
  private def pinnedMarks(spark: SparkSession,
                          checkpointPath: String): (Array[Row], StructType) = {
    val t = MergeWriter.readTable(spark, checkpointPath)
      .select(col("datasource_id"), col("next_run_start_from"))
    // limit-then-collect: the guard trips on the (bounded) prefix instead
    // of pulling an unbounded frame into driver memory first
    val rows = MergeWriter.labeled(spark, "graft.watermark-read")(
      t.limit(MaxMarks + 1).collect())
    require(rows.length <= MaxMarks,
      s"currentMarks pins the checkpoint dim locally (one row per " +
        s"datasource); $checkpointPath has > $MaxMarks rows — not a " +
        "checkpoint table")
    (rows, t.schema)
  }

  /** The incremental scan: rows strictly after each datasource's stored
    * mark — the reference's `updated > nextRunStartFrom` pushdown (S2).
    * Datasources with no stored mark (first run) pass everything.
    */
  def incremental(batch: DataFrame, datasource: Column, updated: Column,
                  marks: DataFrame): DataFrame =
    batch.withColumn("__ds", datasource)
      .join(marks.select(col("datasource_id").as("__ds"),
        col("next_run_start_from").as("__wm")), Seq("__ds"), "left")
      .filter(col("__wm").isNull || updated > col("__wm"))
      .drop("__ds", "__wm")

  /** Due-date gate (`checkIfNowPastDueDate`, `date_utils.ts:5-25`): a run is
    * due when there is no previous run, no delay configured, or the last run
    * is at least `delayMinutes` old.
    */
  def isDue(lastRun: Column, delayMinutes: Column, now: Column): Column =
    lastRun.isNull || delayMinutes.isNull ||
      lastRun.cast("long") <= now.cast("long") - delayMinutes.cast("long") * 60
}
