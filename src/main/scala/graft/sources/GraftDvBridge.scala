package graft.sources

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession, SQLContext}
import org.apache.spark.sql.sources.{BaseRelation, Filter, TableScan}
import org.apache.spark.sql.types.StructType

/** V1-FORMAT READS OF DELETION-VECTOR-BEARING TABLE VERSIONS, bridged
  * to the DV-aware storage core.
  *
  * The plain V1 file relation behind `spark.read.format("graft")`
  * serves files verbatim — it cannot filter the per-file dead
  * positions a DV delete records — so a pinned manifest with live
  * vectors routes that path through [[MergeWriter.readPinnedWhere]]
  * behind the standard V1 bridge (`needConversion = false`, internal
  * rows straight through — the same shape as [[GraftChangesScan]]).
  * Pushed comparison/IN/null filters still prune files (same stats and
  * Bloom keep functions), and Spark re-evaluates every filter exactly.
  *
  * The CATALOG path no longer comes here: since round 12 the native
  * DSv2 scan serves DV'd versions itself via a reader-side row-index
  * skip ([[GraftDvSkipReaderFactory]]), keeping pruning, SPJ, runtime
  * filtering and exact stats. Compaction purges the vectors and the
  * very next load plans fully native again; [[MergeWriter
  * .DvAutoCompactFiles]] bounds the window. DV-free tables never enter
  * this file.
  */
private[sources] object GraftDvBridge {

  /** Conservative v1 `Filter` → storage-predicate translation for file
    * pruning (a superset of [[GraftFileIndex.fromV1Filters]]'s runtime
    * shapes: comparisons widen strict bounds, null tests pass through,
    * unrecognized shapes prune nothing — Spark re-evaluates every
    * filter exactly on top of the bridge).
    */
  def toPredicates(fs: Seq[Filter]): Seq[MergeWriter.ColumnPredicate] = {
    import org.apache.spark.sql.sources._
    import MergeWriter.{ColumnIn, ColumnNull, ColumnRange}
    fs.flatMap {
      case EqualTo(c, v) if v != null =>
        Seq(ColumnRange(c, Some(v), Some(v)))
      case EqualNullSafe(c, v) if v != null =>
        Seq(ColumnRange(c, Some(v), Some(v)))
      case In(c, vs) if vs.nonEmpty && !vs.contains(null) &&
          vs.length <= GraftFileIndex.RuntimeInCap =>
        Seq(ColumnIn(c, vs.toSeq))
      case GreaterThan(c, v) if v != null => Seq(ColumnRange(c, Some(v), None))
      case GreaterThanOrEqual(c, v) if v != null =>
        Seq(ColumnRange(c, Some(v), None))
      case LessThan(c, v) if v != null => Seq(ColumnRange(c, None, Some(v)))
      case LessThanOrEqual(c, v) if v != null =>
        Seq(ColumnRange(c, None, Some(v)))
      case IsNull(c) => Seq(ColumnNull(c, true))
      case IsNotNull(c) => Seq(ColumnNull(c, false))
      case And(l, r) => toPredicates(Seq(l)) ++ toPredicates(Seq(r))
      case _ => Seq.empty
    }
  }

  /** The DV-aware pruned frame of a pinned manifest: merge-key point
    * conjunctions prune to their hash buckets (the same driver-side
    * Murmur3 as [[GraftFileIndex.keyBuckets]]), then stats/Bloom file
    * skipping and the DV position filter apply inside. Bucket pruning
    * narrows the WHOLE manifest — epochs, stats, and overlays together
    * — so downstream DV checks never see pruned-away buckets' vector
    * refs (a stale ref would force the per-file union read even when
    * every surviving file is clean).
    */
  def frame(spark: SparkSession, tablePath: String,
            man: MergeWriter.Manifest,
            preds: Seq[MergeWriter.ColumnPredicate]): DataFrame = {
    val buckets = GraftFileIndex.keyBuckets(man, man.struct, preds)
    val pinned = buckets.fold(man)(bs => man.copy(
      epochs = man.epochs.filter { case (b, _) => bs(b) },
      stats = man.stats.filter { case (b, _) => bs(b) },
      overlays = man.overlays.filter { case (b, _) => bs(b) },
      eqds = man.eqds.filter { case (b, _) => bs(b) }))
    MergeWriter.readPinnedWhere(spark, tablePath, pinned, preds)
  }

  /** The standard V1 bridge: internal rows of a full Spark plan handed
    * through without re-encoding.
    */
  def bridge(context: SQLContext, out: StructType, df: DataFrame)
      : BaseRelation with TableScan =
    new BaseRelation with TableScan {
      override def sqlContext: SQLContext = context
      override def schema: StructType = out
      override def needConversion: Boolean = false
      override def buildScan(): RDD[Row] =
        df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]]
          .queryExecution.toRdd.asInstanceOf[RDD[Row]]
    }
}
