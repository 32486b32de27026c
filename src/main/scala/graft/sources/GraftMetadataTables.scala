package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Row, SparkSession, SQLContext}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.connector.catalog.{
  SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{
  LocalScan, Scan, ScanBuilder, V1Scan}
import org.apache.spark.sql.sources.{
  BaseRelation, EqualTo, Filter, GreaterThan, GreaterThanOrEqual,
  LessThan, LessThanOrEqual, TableScan}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** SQL-VISIBLE METADATA TABLES (Iceberg's `t.history` / `t.changes`
  * shape): the catalog resolves `gc.ns.t.history` and `gc.ns.t.changes`
  * as read-only sub-tables of `gc.ns.t`, so commit history and the
  * change feed are PLAIN SQL — no `CALL` round-trip, no DataFrame
  * plumbing (the round-10 `CALL gc.system.history` stays for scripting
  * parity; unbounded feeds never belonged in a CALL). The reference's
  * insights consumers diff state in SQL exactly this way (ref
  * `extract_flomatika_insights_processor.ts:328-473`).
  */

/** `SELECT * FROM gc.ns.t.history` — one row per RETAINED version
  * (Delta DESCRIBE HISTORY): version, op, commit_ts, buckets,
  * live_epochs, n_files, total_bytes, n_txns. Bounded by the retention
  * policy, so it plans as a LocalScan (metadata-sized by contract).
  */
private[sources] class GraftHistoryTable(spark: SparkSession,
                                         tablePath: String,
                                         tableName: String)
    extends Table with SupportsRead {

  override def name(): String = tableName

  // built once per loadTable: Spark calls Table.schema() several times
  // during resolution, and each tableHistory lists + reads every
  // retained manifest
  private lazy val hist = MergeWriter.tableHistory(spark, tablePath)

  override def schema(): StructType = hist.schema

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = () => {
    val df = hist
    val s = df.schema
    val conv = CatalystTypeConverters.createToCatalystConverter(s)
    val collected = df.collect()
      .map(r => conv(r).asInstanceOf[InternalRow])
    new LocalScan {
      override def rows(): Array[InternalRow] = collected
      override def readSchema(): StructType = s
      override def description(): String = s"GraftHistory($tablePath)"
    }
  }
}

/** `SELECT * FROM gc.ns.t.branches` — live staging branches (the
  * branch half of Iceberg's refs view): one row per branch with the
  * fork version, staged head, staged commit count and the head's
  * op/commit time. The WAP operator's "what is in flight" probe.
  */
private[sources] class GraftBranchesTable(spark: SparkSession,
                                          tablePath: String,
                                          tableName: String)
    extends Table with SupportsRead {

  override def name(): String = tableName

  private lazy val branches = MergeWriter.tableBranches(spark, tablePath)

  override def schema(): StructType = branches.schema

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = () => {
    val df = branches
    val s = df.schema
    val conv = CatalystTypeConverters.createToCatalystConverter(s)
    val collected = df.collect()
      .map(r => conv(r).asInstanceOf[InternalRow])
    new LocalScan {
      override def rows(): Array[InternalRow] = collected
      override def readSchema(): StructType = s
      override def description(): String = s"GraftBranches($tablePath)"
    }
  }
}

/** `SELECT * FROM gc.ns.t.files` — the current version's per-file
  * physical inventory (Iceberg's `t.files`): bucket, epoch, name,
  * bytes, recorded/live rows, deletion-vector sidecar + dead count,
  * overlay flag, stats coverage. Straight from the manifest (no
  * listing, no file I/O) — the SQL surface an operator diagnoses
  * merge-on-read pressure with ("which buckets carry DVs/overlays,
  * how big are the files, is stats coverage intact"). Manifest-sized
  * by contract, so a LocalScan like `t.history` — up to the
  * `spark.graft.metadata.localRows` threshold; past it (~400k files
  * at 100 TB / 256 MB) the inventory plans as a DISTRIBUTED scan
  * ([[GraftMetadataTables.scanFor]]), so a `t.files` join against
  * query logs never funnels through the driver (Iceberg serves its
  * metadata tables distributed for the same reason).
  */
private[sources] class GraftFilesTable(spark: SparkSession,
                                       tablePath: String,
                                       tableName: String)
    extends Table with SupportsRead {

  override def name(): String = tableName

  private lazy val files = MergeWriter.tableFiles(spark, tablePath)

  override def schema(): StructType = files.schema

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = () =>
    GraftMetadataTables.scanFor(files, s"GraftFiles($tablePath)")
}

/** `SELECT * FROM gc.ns.t.partitions` — per-BUCKET rollup of the
  * current version (Iceberg's `t.partitions` for the key-hash layout):
  * file/overlay counts, bytes, physical vs live rows, DV'd dead rows,
  * stacked overlay epochs. The "which buckets need compaction" view;
  * manifest-sized, LocalScan like `t.files`.
  */
private[sources] class GraftPartitionsTable(spark: SparkSession,
                                            tablePath: String,
                                            tableName: String)
    extends Table with SupportsRead {

  override def name(): String = tableName

  private lazy val parts = MergeWriter.tablePartitions(spark, tablePath)

  override def schema(): StructType = parts.schema

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = () =>
    GraftMetadataTables.scanFor(parts, s"GraftPartitions($tablePath)")
}

private[sources] object GraftMetadataTables {

  /** The local-vs-distributed dispatch behind `t.files` /
    * `t.partitions`: a driver-local frame (≤ the
    * `spark.graft.metadata.localRows` threshold — [[MergeWriter
    * .tableFiles]] decides) collects into a [[LocalScan]] (zero jobs,
    * constant-foldable); a parallelized one bridges its DISTRIBUTED
    * plan through [[V1Scan]] so downstream joins run on executors.
    */
  def scanFor(df: org.apache.spark.sql.DataFrame, desc: String): Scan = {
    val s = df.schema
    val isLocal = df.queryExecution.optimizedPlan match {
      case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        true
      case _ => false
    }
    if (isLocal) {
      val conv = CatalystTypeConverters.createToCatalystConverter(s)
      val collected = df.collect()
        .map(r => conv(r).asInstanceOf[InternalRow])
      new LocalScan {
        override def rows(): Array[InternalRow] = collected
        override def readSchema(): StructType = s
        override def description(): String = desc
      }
    } else new V1Scan {
      override def readSchema(): StructType = s
      override def description(): String = desc + "[distributed]"
      override def toV1TableScan[T <: BaseRelation with TableScan](
          context: SQLContext): T =
        GraftDvBridge.bridge(context, s, df).asInstanceOf[T]
    }
  }
}

/** `SELECT * FROM gc.ns.t.changes` — the PER-VERSION change feed over
  * the retained window (Delta CDF's `table_changes`): every retained
  * version's keyed diff against its predecessor, with the CDC audit
  * columns (keys, old_*, new_*, op) plus `_commit_version` /
  * `_commit_ts`. Version bounds are plain SQL predicates — `WHERE
  * _commit_version BETWEEN 3 AND 5` — extracted by the scan builder so
  * only the named versions' diffs run (each bucket-pruned and
  * fingerprint-paired through [[MergeWriter.changeFeed]]; I/O ∝ changed
  * data in the window, never the table). Also a streaming source:
  * `spark.readStream.table("gc.ns.t.changes")` tails the same feed
  * (initial snapshot as inserts, then per-version CDC batches) — the
  * stream that DOES carry deletes, unlike the row-image stream on the
  * base table.
  */
private[sources] class GraftChangesTable(spark: SparkSession,
                                         tablePath: String,
                                         tableName: String)
    extends Table with SupportsRead {

  private lazy val man: MergeWriter.Manifest =
    MergeWriter.pinManifest(spark, tablePath, None, None)
      .getOrElse(throw new IllegalStateException(
        s"graft catalog: $tablePath lost its manifest after loadTable"))

  private lazy val keys: Seq[String] = {
    require(man.keyCols.nonEmpty,
      s"graft catalog: $tablePath records no merge keys — the change " +
        "feed is keyed")
    man.keyCols
  }

  private lazy val compareCols: Seq[String] =
    man.struct.fieldNames.toSeq.filterNot(keys.contains)

  private lazy val cdc: StructType =
    GraftStreamCore.cdcSchema(man.struct, keys, compareCols,
      withVersion = true)

  override def name(): String = tableName

  override def schema(): StructType = cdc

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder =
    new GraftChangesScanBuilder(spark, tablePath, keys, compareCols,
      schema(), options)
}

/** Extracts `_commit_version` bounds from the scan's pushed conjuncts
  * (the bounds only RESTRICT which versions' diffs run — every filter
  * is still returned for Spark to evaluate exactly, so unparsed shapes
  * lose pruning, never correctness).
  */
private[sources] class GraftChangesScanBuilder(
    spark: SparkSession, tablePath: String,
    keys: Seq[String], compareCols: Seq[String],
    cdcSchema: StructType, options: CaseInsensitiveStringMap)
    extends ScanBuilder
    with org.apache.spark.sql.connector.read.SupportsPushDownFilters {

  private var lo: Option[Long] = None
  private var hi: Option[Long] = None

  private def num(v: Any): Option[Long] = v match {
    case l: Long => Some(l)
    case i: Int => Some(i.toLong)
    case s: Short => Some(s.toLong)
    case b: Byte => Some(b.toLong)
    case _ => None
  }
  private def raiseLo(v: Long): Unit =
    lo = Some(lo.fold(v)(math.max(_, v)))
  private def lowerHi(v: Long): Unit =
    hi = Some(hi.fold(v)(math.min(_, v)))

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    filters.foreach {
      case EqualTo("_commit_version", v) =>
        num(v).foreach { n => raiseLo(n); lowerHi(n) }
      case GreaterThan("_commit_version", v) =>
        num(v).foreach(n => raiseLo(n + 1))
      case GreaterThanOrEqual("_commit_version", v) =>
        num(v).foreach(raiseLo)
      case LessThan("_commit_version", v) =>
        num(v).foreach(n => lowerHi(n - 1))
      case LessThanOrEqual("_commit_version", v) =>
        num(v).foreach(lowerHi)
      case _ => ()
    }
    filters // every filter still evaluates exactly post-scan
  }

  override def pushedFilters(): Array[Filter] = Array.empty

  override def build(): Scan =
    new GraftChangesScan(spark, tablePath, keys, compareCols, cdcSchema,
      lo, hi, options)
}

/** The changes scan: a [[V1Scan]] whose relation builds the bounded
  * per-version feed frame and hands Spark its physical RDD — the frame
  * is a full Spark plan (bucket-pruned file reads, fingerprint-paired
  * joins), so the work stays distributed; V1Scan just bridges it into
  * the DSv2 read without re-encoding. toMicroBatchStream serves the
  * same feed as a stream.
  */
private[sources] class GraftChangesScan(
    spark: SparkSession, tablePath: String,
    keys: Seq[String], compareCols: Seq[String], cdcSchema: StructType,
    lo: Option[Long], hi: Option[Long],
    options: CaseInsensitiveStringMap)
    extends V1Scan {

  override def readSchema(): StructType = cdcSchema

  override def description(): String =
    s"GraftChanges($tablePath, versions " +
      s"${lo.getOrElse("min")}..${hi.getOrElse("max")})"

  override def toV1TableScan[T <: BaseRelation with TableScan](
      context: SQLContext): T = {
    val frame = GraftStreamCore.changesWindow(spark, tablePath, keys,
      compareCols, cdcSchema, lo, hi)
      .select(cdcSchema.fieldNames.map(org.apache.spark.sql.functions.col)
        .toIndexedSeq: _*)
    new BaseRelation with TableScan {
      override def sqlContext: SQLContext = context
      override def schema: StructType = cdcSchema
      // hand the plan's internal rows straight through (the standard
      // V1Scan bridge: no external-Row round trip)
      override def needConversion: Boolean = false
      override def buildScan(): RDD[Row] =
        frame.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]]
          .queryExecution.toRdd.asInstanceOf[RDD[Row]]
    }.asInstanceOf[T]
  }

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new GraftMicroBatchStream(spark, tablePath, keys, compareCols,
      cdcSchema, changes = true, checkpointLocation,
      Option(options.get("maxVersionsPerTrigger")).map(_.toLong))
}
