package etlbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

import graft.operators.{RevisionPipeline, Watermarks}
import graft.sources.{MergeWriter, RawItemsFixture}

/** One datasource's tables and the ETL steps over them, called in the
  * order the reference ETL calls them: connector scan with the
  * `updated > mark` pushdown and document fetch → changelog explode →
  * event dates → snapshots + states → two keyed merges → watermark
  * advance.
  *
  * Every call into a layer is wrapped in a [[Tracer]] span. When the
  * tracer is on, each layer's output is also forced (persisted and
  * counted) inside its span, so the layer's time is its own rather than
  * the time of whichever later step first needs it.
  */
final class Etl(spark: SparkSession, tr: Tracer, val root: String, buckets: Int) {
  val statesPath: String = root + "/states"
  val snapshotsPath: String = root + "/snapshots"
  val marksPath: String = root + "/marks"
  private val wf = Generator.Workflow

  /** A persisted frame, counted inside the current span when tracing;
    * the count is noted under `rows`.
    */
  private def keep(df: DataFrame, rows: String): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    if (tr.on) tr.note(rows, p.count().toDouble)
    p
  }
  /** Forced only when tracing; otherwise handed on lazily. */
  private def force(df: DataFrame, rows: String): DataFrame =
    if (tr.on) keep(df, rows) else df

  /** Traced runs count the merges whose maintenance ended in an
    * auto-compaction commit.
    */
  private def noteCompaction(path: String): Unit =
    if (tr.on && MergeWriter.tableHistory(spark, path).select("op").head().getString(0) == "compact")
      tr.note("MergeWriter.compactions", 1)

  def storedMark(): Option[String] = tr.span("Watermarks.read") {
    if (MergeWriter.availableVersions(spark, marksPath).isEmpty) None
    else Watermarks.currentMarks(spark, marksPath).collect()
      .find(_.getString(0) == Etl.Datasource).map(_.getString(1))
  }

  /** One ETL run over the drop in `dir`: only items updated after the
    * stored watermark are taken. Returns the number of items processed.
    */
  def run(src: Generator.Dir): Int = {
    val dir = src.path
    val mark = storedMark()
    var persisted: List[DataFrame] = Nil
    def held(df: DataFrame): DataFrame = { persisted ::= df; df }
    try {
      val (n, raw, keys) = tr.span("connector.scan") {
        val scan = spark.read.format("graft-jira").option("path", dir).load()
        val changed = mark.fold(scan)(m => scan.filter(col("updated") > m))
          .select("key", "updated").collect()
        val keys = spark.createDataFrame(java.util.Arrays.asList(changed: _*),
          Etl.KeySchema)
        val raw = Etl.documents(spark, Seq(dir))
          .join(broadcast(keys), col("key") === col("__k") &&
            col("fields.updated") === col("__u"), "left_semi")
        tr.note("connector.items_returned", changed.length)
        (changed.length, held(keep(raw, "rows.raw")), keys)
      }
      if (n == 0) return 0
      val revs = tr.span("RevisionPipeline.explode") {
        held(keep(RevisionPipeline.explodeChangelog(raw), "rows.revisions"))
      }
      val dates = tr.span("RevisionPipeline.event_dates") {
        held(keep(RevisionPipeline.eventDatesFor(revs,
          Map(wf.workflowId -> wf), wf.workflowId).toDF(), "rows.event_dates"))
      }
      val snaps = tr.span("RevisionPipeline.snapshots") {
        held(force(RevisionPipeline.snapshots(revs, dates, wf), "rows.snapshots"))
      }
      val states = tr.span("RevisionPipeline.states") {
        held(force(Etl.states(raw, dates), "rows.states"))
      }
      tr.span("MergeWriter.merge.states") {
        MergeWriter.merge(spark, statesPath, states, Etl.StateKeys, buckets)
      }
      noteCompaction(statesPath)
      tr.span("MergeWriter.merge.snapshots") {
        MergeWriter.merge(spark, snapshotsPath, snaps, Etl.SnapshotKeys, buckets)
      }
      noteCompaction(snapshotsPath)
      tr.span("Watermarks.advance") {
        Watermarks.advance(spark, marksPath, keys.withColumn("ds", lit(Etl.Datasource)),
          col("ds"), col("__u"))
      }
      n
    } finally persisted.foreach(_.unpersist())
  }
}

object Etl {
  val Datasource = "jira"
  val StateKeys: Seq[String] = Seq("workItemId")
  val SnapshotKeys: Seq[String] = Seq("workItemId", "revision", "type")
  private val KeySchema = StructType(Seq(
    StructField("__k", StringType), StructField("__u", StringType)))

  val TypeMaps: Seq[RevisionPipeline.TypeMapEntry] = for {
    p <- Seq("1000", "1001")
    (t, sle) <- Seq(("Story", 14), ("Bug", 7), ("Task", 5))
  } yield RevisionPipeline.TypeMapEntry(p, t, "wit-" + t.toLowerCase,
    "Normalized " + t, if (t == "Story") "Portfolio" else "Team",
    sle + (if (p == "1001") 1 else 0))

  /** The raw documents of the drops in `dirs`, parsed with the raw-item
    * schema (every version present in the files).
    */
  def documents(spark: SparkSession, dirs: Seq[String]): DataFrame =
    spark.read.text(dirs: _*)
      .select(from_json(col("value"), RawItemsFixture.schema).as("r"))
      .select("r.*")

  def states(raw: DataFrame, dates: DataFrame): DataFrame =
    RevisionPipeline.states(raw, dates, "org-bench", "ds-bench",
      typeMaps = TypeMaps, workflow = Some(Generator.Workflow),
      epicLinkFieldId = Some("customfield_10014"))

  /** The latest version of every item found in `dirs`, and the raw JSON
    * bytes of those versions.
    */
  def latest(spark: SparkSession, dirs: Seq[String]): (DataFrame, Long) = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("r.key"))
      .orderBy(col("r.fields.updated").desc)
    val docs = spark.read.text(dirs: _*)
      .select(from_json(col("value"), RawItemsFixture.schema).as("r"),
        length(col("value")).as("bytes"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val bytes = docs.agg(sum(col("bytes"))).head().getLong(0)
    (docs.select("r.*"), bytes)
  }

  /** Count plus an order-independent digest of `df`'s rows over `cols`. */
  def digest(df: DataFrame, cols: Seq[String]): (Long, java.math.BigDecimal) = {
    val h = xxhash64(cols.sorted.map(c => col(c).cast("string")): _*)
    val r: Row = df.agg(count(lit(1)), sum(h.cast("decimal(38,0)"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO))
  }
}
