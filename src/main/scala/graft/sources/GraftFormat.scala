package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, Row, SQLContext, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{
  And, AttributeReference, EqualNullSafe, EqualTo, Expression, GreaterThan,
  GreaterThanOrEqual, In, InSet, IsNotNull, IsNull, LessThan,
  LessThanOrEqual, Literal, Or, StartsWith}
import org.apache.spark.sql.execution.datasources.{
  FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.graft.GraftSourceBridge
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.sources.{
  BaseRelation, CreatableRelationProvider, DataSourceRegister,
  PrunedFilteredScan, RelationProvider, StreamSinkProvider,
  StreamSourceProvider}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** The manifest table as a first-class Spark data source: `spark.read
  * .format("graft").load(path)` (and therefore plain SQL over a temp
  * view) plans through Spark's native parquet file-source path —
  * vectorized reader, whole-stage codegen, parquet row-group pushdown —
  * while FILE LISTING is driven by the pinned manifest through
  * [[GraftFileIndex]]: Catalyst hands the scan's data filters to
  * `FileIndex.listFiles`, which translates them to the storage layer's
  * [[MergeWriter.ColumnPredicate]]s and prunes with the same per-file
  * min/max stats and Bloom sidecars as [[MergeWriter.readTableWhere]].
  * This is exactly how Delta Lake wires data skipping into Spark (a
  * custom FileIndex under a HadoopFsRelation), re-expressed for the
  * graft manifest protocol; the reference's engine gets the equivalent
  * via Aurora btree indexes (`sql/full_ddl.sql:1189-1199`).
  *
  * Options: `versionAsOf` (retained manifest version) and
  * `timestampAsOf` (epoch millis, or `yyyy-MM-dd[ HH:mm:ss]`) pin time
  * travel; default is the current version, pinned at load time —
  * snapshot isolation for the whole query regardless of concurrent
  * commits.
  *
  * `spark.readStream.format("graft").load(path)` tails the table's
  * change feed (Delta's streaming CDF source): each micro-batch is the
  * keyed diff between the last-seen and newest committed versions —
  * op ∈ insert/update/delete with old_/new_ audit columns — with the
  * initial batch emitting the full snapshot as inserts. Offsets are
  * manifest versions, so a checkpointed restart resumes exactly where
  * it stopped as long as that version is still retained; the
  * `maxVersionsPerTrigger` option bounds each catch-up batch (rate
  * limiting after a stall — pair with a retention window ≥ the lag).
  */
class GraftDataSource extends RelationProvider with DataSourceRegister
    with StreamSourceProvider with CreatableRelationProvider
    with StreamSinkProvider {

  override def shortName(): String = "graft"

  private def pathOf(parameters: Map[String, String]): String =
    parameters.getOrElse("path", throw new IllegalArgumentException(
      "graft: 'path' is required — use .load(<tableDir>)"))

  private def timestampMs(s: String): Long =
    scala.util.Try(s.trim.toLong).getOrElse {
      val t = s.trim.replace(' ', 'T')
      val ldt = scala.util.Try(java.time.LocalDateTime.parse(t))
        .getOrElse(java.time.LocalDate.parse(t).atStartOfDay())
      ldt.toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    }

  /** Pin the manifest a read uses: a standalone table's, or — with the
    * `member` option — a member's manifest out of the GROUP commit at
    * `path` (the L1 cross-table-atomic layout read through plain SQL;
    * versionAsOf/timestampAsOf then address GROUP versions, so every
    * sibling pinned at the same version is mutually consistent).
    * Returns the manifest plus the directory its epochs live under.
    */
  private def pin(spark: SparkSession, parameters: Map[String, String],
                  path: String): (MergeWriter.Manifest, String) = {
    // versionAsOf: a numeric version, or a TAG name resolved through
    // the current manifest (group reads stay numeric — tags are a
    // standalone-table concept)
    val versionAsOf = parameters.get("versionAsOf").map { v =>
      if (parameters.contains("member")) v.toLong
      else MergeWriter.resolveVersionRef(spark, path, v)
    }
    val tsAsOf = parameters.get("timestampAsOf").map(timestampMs)
    // the `branch` option pins a staging branch's head (the WAP audit
    // read through the format face); exclusive with time travel and
    // groups — a branch is already one specific lineage head
    val branch = parameters.get("branch")
    branch.foreach { b =>
      require(versionAsOf.isEmpty && tsAsOf.isEmpty &&
        !parameters.contains("member"),
        "graft: 'branch' cannot combine with versionAsOf/timestampAsOf/" +
          "member — a branch read pins that branch's head")
    }
    parameters.get("member") match {
      case Some(name) =>
        (MergeWriter.pinGroupMember(spark, path, name, versionAsOf, tsAsOf)
          .getOrElse(throw new IllegalArgumentException(
            s"graft: $path has no committed group manifest")),
          s"$path/$name")
      case None =>
        (MergeWriter.pinManifest(spark, path, versionAsOf, tsAsOf, branch)
          .getOrElse(throw new IllegalArgumentException(
            s"graft: $path has no committed manifest (not a graft table)")),
          path)
    }
  }

  override def createRelation(sqlContext: SQLContext,
                              parameters: Map[String, String]): BaseRelation = {
    val spark = sqlContext.sparkSession
    val (man, dataPath) = pin(spark, parameters, pathOf(parameters))
    val dataSchema = man.struct
    // a pinned version with live deletion vectors cannot be served by
    // the native parquet file scan (dead rows would resurrect) — route
    // through the DV-aware storage read; pushed filters still prune
    // files through the shared stats/Bloom/key-bucket machinery, and
    // Spark re-evaluates every filter exactly (unhandledFilters default)
    if (MergeWriter.hasLiveDvs(man) || MergeWriter.hasLiveEqds(man))
      return new BaseRelation with PrunedFilteredScan {
        override def sqlContext: SQLContext = sqlContext0
        private def sqlContext0 = spark.sqlContext
        override def schema: StructType = dataSchema
        override def needConversion: Boolean = false
        override def buildScan(requiredColumns: Array[String],
                               filters: Array[org.apache.spark.sql.sources.Filter])
            : org.apache.spark.rdd.RDD[Row] = {
          val preds = GraftDvBridge.toPredicates(filters.toSeq)
          val base = GraftDvBridge.frame(spark, dataPath, man, preds)
          val df =
            if (requiredColumns.isEmpty) base
            else base.select(requiredColumns.map(
              org.apache.spark.sql.functions.col).toIndexedSeq: _*)
          df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]]
            .queryExecution.toRdd
            .asInstanceOf[org.apache.spark.rdd.RDD[Row]]
        }
      }
    MergeWriter.ensureFieldIdRead(spark)
    // mainHead marks an UNPINNED plain-table read (no versionAsOf /
    // timestampAsOf / branch / member): the only relation shape the MV
    // rewrite may substitute — a pinned or branch lineage must never
    // rewrite to a view that tracks main's head
    val mainHead = !parameters.contains("versionAsOf") &&
      !parameters.contains("timestampAsOf") &&
      !parameters.contains("branch") && !parameters.contains("member")
    HadoopFsRelation(new GraftFileIndex(spark, dataPath, man,
        mainHead = mainHead),
      new StructType(), dataSchema, None,
      // a format that restamps the physical read schemas with the
      // table's field ids (rename-proof column matching) while the
      // relation schema — and every output attribute — stays id-free
      new GraftParquetFileFormat(man.colIds),
      parameters)(spark)
  }

  private def csv(parameters: Map[String, String], key: String)
      : Option[Seq[String]] =
    parameters.get(key)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)

  /** Resolve the key columns a write uses: the `keys` option, or an
    * existing table's recorded merge keys.
    */
  private def writeKeys(parameters: Map[String, String],
                        existing: Option[MergeWriter.Manifest],
                        path: String): Seq[String] =
    csv(parameters, "keys")
      .orElse(existing.map(_.keyCols).filter(_.nonEmpty))
      .getOrElse(throw new IllegalArgumentException(
        s"graft write: no 'keys' option and $path records no merge keys " +
          "(option(\"keys\", \"k1,k2\") on first write)"))

  /** `df.write.format("graft")`: Append = keyed MERGE upsert; Overwrite
    * = atomic full replace ([[MergeWriter.overwriteTable]] — one
    * manifest flip, old state stays time-travel readable);
    * ErrorIfExists / Ignore follow their SaveMode contracts against
    * manifest existence. Table-creation options (`keys`, `buckets`,
    * `clusterBy`, `bloomBy`, `bloomItems`) mirror [[MergeWriter.merge]]
    * and only seed creation — an existing table keeps its recorded
    * layout.
    */
  override def createRelation(sqlContext: SQLContext, mode: SaveMode,
                              parameters: Map[String, String],
                              data: org.apache.spark.sql.DataFrame)
      : BaseRelation = {
    val spark = sqlContext.sparkSession
    val path = pathOf(parameters)
    require(!parameters.contains("member"),
      "graft write: group members commit through MergeWriter.mergeGroup " +
        "(cross-table atomicity); the 'member' option is read-only")
    // a branch-targeted append stages on the branch lineage (main never
    // sees it until fastForward); replacing modes cannot target a
    // branch — same contract as the catalog face
    val branch = parameters.get("branch")
    branch.foreach { b =>
      require(mode == SaveMode.Append,
        "graft write: only SaveMode.Append can target a staging branch " +
          "— stage upserts, publish, then overwrite main")
      require(MergeWriter.listBranches(spark, path).contains(b),
        s"graft write: no branch '$b' at $path — createBranch first")
    }
    val existing = MergeWriter.pinManifest(spark, path, None, None)
    val buckets = parameters.get("buckets").map(_.toInt).getOrElse(64)
    val clusterBy = csv(parameters, "clusterBy").getOrElse(Seq.empty)
    val bloomBy = csv(parameters, "bloomBy").getOrElse(Seq.empty)
    val bloomItems = parameters.get("bloomItems").map(_.toLong)
      .getOrElse(MergeWriter.DefaultBloomItems)
    val eqDeletes = parameters.get("eqDeletes")
      .exists(_.equalsIgnoreCase("true"))
    val deleteVectors = eqDeletes || parameters.get("deleteVectors")
      .exists(_.equalsIgnoreCase("true"))
    def doMerge(): Unit =
      MergeWriter.merge(spark, path, data, writeKeys(parameters, existing,
        path), buckets, clusterBy = clusterBy, bloomBy = bloomBy,
        bloomItems = bloomItems, deleteVectors = deleteVectors,
        eqDeletes = eqDeletes, ref = branch)
    mode match {
      case SaveMode.Append => doMerge()
      case SaveMode.Overwrite =>
        MergeWriter.overwriteTable(spark, path, data,
          writeKeys(parameters, existing, path), buckets,
          clusterBy = clusterBy, bloomBy = bloomBy, bloomItems = bloomItems,
          deleteVectors = deleteVectors, eqDeletes = eqDeletes)
      case SaveMode.ErrorIfExists =>
        if (existing.isDefined) throw new IllegalArgumentException(
          s"graft write: $path already exists (SaveMode.ErrorIfExists)")
        doMerge()
      case SaveMode.Ignore => if (existing.isEmpty) doMerge()
    }
    createRelation(sqlContext, parameters)
  }

  /** `df.writeStream.format("graft")`: every micro-batch lands as one
    * atomic commit — Append/Update = keyed MERGE upsert, Complete =
    * atomic full replace — carrying an `(appId, batchId)` transaction
    * id in the manifest's txn ledger, so a replayed batch after a crash
    * or checkpoint recovery is a zero-I/O skip: exactly-once under
    * at-least-once delivery (Delta's streaming-sink idempotence,
    * `txnAppId` defaulting to a checkpoint-stable id).
    */
  override def createSink(sqlContext: SQLContext,
                          parameters: Map[String, String],
                          partitionColumns: Seq[String],
                          outputMode: OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    val spark = sqlContext.sparkSession
    val path = pathOf(parameters)
    require(!parameters.contains("member"),
      "graft sink: group members commit through MergeWriter.mergeGroup " +
        "(cross-table atomicity); the 'member' option is read-only")
    require(!parameters.contains("branch"),
      "graft sink: streaming writes cannot target a staging branch")
    require(partitionColumns.isEmpty,
      "graft sink: partitionBy is not supported (layout is key-hash " +
        "buckets recorded in the manifest)")
    // appId precedence: explicit txnAppId > checkpoint-stable derived id
    // > per-sink-instance random. The random fallback matters: when the
    // checkpoint comes from spark.sql.streaming.checkpointLocation (the
    // CONF, not the option — Spark doesn't forward it here), deriving
    // from the table path alone would make every query writing the same
    // table share one appId, and the txn guard would silently DROP a
    // second query's batches whose ids trail the first's. Keyed merge is
    // replay-idempotent on its own, so a random id only costs cross-
    // restart zero-I/O dedupe — never correctness.
    val appId = parameters.get("txnAppId")
      .orElse(parameters.get("checkpointLocation").map(cp =>
        "graft-sink-" + java.util.UUID.nameUUIDFromBytes(
          (cp + "→" + path).getBytes("UTF-8"))))
      .getOrElse("graft-sink-" + java.util.UUID.randomUUID())
    new GraftMergeSink(spark, path, parameters, appId,
      complete = outputMode == OutputMode.Complete(),
      writeKeysOf = existing => writeKeys(parameters, existing, path))
  }

  /** keys = `keys` option (comma-separated) or the manifest's recorded
    * merge keys; compareCols = `compareCols` option or every non-key
    * column. The CDC schema is [[graft.operators.Reconcile.snapshotDiff]]'s:
    * keys ++ old_* ++ new_* ++ op. With the `member` option the stream
    * tails a GROUP member: offsets are GROUP versions, so the tail
    * advances exactly when the group commits.
    */
  private def cdcSpec(spark: SparkSession, parameters: Map[String, String])
      : (Seq[String], Seq[String], StructType, () => Option[Long],
         (Option[Long], Long) => org.apache.spark.sql.DataFrame) = {
    val path = pathOf(parameters)
    val (man, dataPath) = pin(spark, parameters, path)
    val tableSchema = man.struct
    val keys = csv(parameters, "keys").getOrElse(man.keyCols)
    require(keys.nonEmpty,
      s"graft streaming: $path records no merge keys and no 'keys' option " +
        "was supplied")
    val compareCols = csv(parameters, "compareCols")
      .getOrElse(tableSchema.fieldNames.toSeq.filterNot(keys.contains))
    val fieldsByName = tableSchema.fields.map(f => f.name -> f).toMap
    def fieldOf(c: String): StructField = fieldsByName.getOrElse(c,
      throw new IllegalArgumentException(
        s"graft streaming: column '$c' not in table schema of $path"))
    val schema = StructType(
      keys.map(k => fieldOf(k).copy(nullable = true)) ++
        compareCols.map(c => fieldOf(c).copy(name = s"old_$c",
          nullable = true)) ++
        compareCols.map(c => fieldOf(c).copy(name = s"new_$c",
          nullable = true)) :+
        StructField("op", StringType, nullable = true))
    def initialSnapshot(read: Long => org.apache.spark.sql.DataFrame)
        (toV: Long): org.apache.spark.sql.DataFrame = {
      val neu = read(toV)
      graft.operators.Reconcile.snapshotDiff(
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], neu.schema),
        neu, keys, compareCols)
    }
    val (latest, diffFn) = parameters.get("member") match {
      case Some(name) =>
        val read = (v: Long) =>
          MergeWriter.readGroupTableVersion(spark, path, name, v)
        (() => MergeWriter.currentGroupVersion(spark, path),
          (from: Option[Long], to: Long) => from match {
            // bucket-pruned + fingerprint-paired, same core as the
            // table feed (MergeWriter.diffManifests)
            case Some(v) => MergeWriter.changeFeedGroup(spark, path, name,
              v, to, keys, compareCols)
            case None => initialSnapshot(read)(to)
          })
      case None =>
        (() => MergeWriter.pinManifest(spark, path, None, None)
          .map(_.version),
          (from: Option[Long], to: Long) => from match {
            // the version-to-version feed is BUCKET-PRUNED (see
            // MergeWriter.changeFeed): per-trigger I/O ∝ changed
            // buckets, never the table
            case Some(v) =>
              MergeWriter.changeFeed(spark, path, v, to, keys, compareCols)
            case None => initialSnapshot(
              MergeWriter.readTableVersion(spark, path, _))(to)
          })
    }
    (keys, compareCols, schema, latest, diffFn)
  }

  override def sourceSchema(sqlContext: SQLContext,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String])
      : (String, StructType) =
    (shortName(), cdcSpec(sqlContext.sparkSession, parameters)._3)

  override def createSource(sqlContext: SQLContext, metadataPath: String,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String])
      : org.apache.spark.sql.execution.streaming.Source = {
    val spark = sqlContext.sparkSession
    val (keys, compareCols, cdcSchema, latest, readV) =
      cdcSpec(spark, parameters)
    new GraftChangeFeedSource(spark, keys, compareCols, cdcSchema, latest,
      readV, parameters.get("maxVersionsPerTrigger").map(_.toLong))
  }
}

/** V1 streaming source tailing a manifest table's change feed; offsets
  * are committed manifest versions (see [[GraftSourceBridge]] for the
  * engine-contract bridging).
  */
/** [[ParquetFileFormat]] for an ID-STAMPED graft table (see
  * `MergeWriter.Manifest.colIds`): restamps the physical read schemas
  * with the table's `parquet.field.id` metadata right where the
  * per-file reader is built, so immutable files written under
  * since-renamed column names match BY ID — while the relation (and
  * every user-visible attribute) keeps the clean id-free schema.
  * Filters arrive named by the logical columns; the stamped
  * requiredSchema routes the parquet filter translation through the
  * ids, so row-group pruning prunes correctly on renamed columns.
  * Top-level (no enclosing-instance capture) — file formats ride in
  * relations that planners may serialize.
  */
private[sources] class GraftParquetFileFormat(ids: Map[String, Long])
    extends ParquetFileFormat {
  override def buildReaderWithPartitionValues(
      sparkSession: SparkSession, dataSchema: StructType,
      partitionSchema: StructType, requiredSchema: StructType,
      filters: Seq[org.apache.spark.sql.sources.Filter],
      options: Map[String, String],
      hadoopConf: org.apache.hadoop.conf.Configuration)
      : org.apache.spark.sql.execution.datasources.PartitionedFile =>
        Iterator[InternalRow] =
    super.buildReaderWithPartitionValues(sparkSession,
      MergeWriter.stampSchema(dataSchema, ids), partitionSchema,
      MergeWriter.stampSchema(requiredSchema, ids), filters, options,
      hadoopConf)
}

class GraftChangeFeedSource(spark: SparkSession,
                            keys: Seq[String], compareCols: Seq[String],
                            cdcSchema: StructType,
                            latestVersion: () => Option[Long],
                            diffFn: (Option[Long], Long) => DataFrame,
                            versionsPerTrigger: Option[Long] = None)
    extends GraftSourceBridge {

  override def schema: StructType = cdcSchema

  /** `maxVersionsPerTrigger` option: bounded catch-up batches after a
    * stall (see [[GraftSourceBridge.maxVersionsPerTrigger]]).
    */
  override protected def maxVersionsPerTrigger: Option[Long] =
    versionsPerTrigger

  override protected def currentVersion(): Option[Long] = latestVersion()

  override protected def changeBatch(fromVersion: Option[Long],
                                     toVersion: Long): DataFrame = {
    import org.apache.spark.sql.functions.col
    diffFn(fromVersion, toVersion)
      .select(cdcSchema.fieldNames.map(col).toIndexedSeq: _*)
  }
}

/** V1 streaming sink: each micro-batch commits atomically through the
  * manifest protocol with an `(appId, batchId)` txn guard — replayed
  * batch ids skip with zero I/O (see [[GraftDataSource.createSink]]).
  */
class GraftMergeSink(spark: SparkSession, path: String,
                     parameters: Map[String, String], val appId: String,
                     complete: Boolean,
                     writeKeysOf: Option[MergeWriter.Manifest] => Seq[String])
    extends org.apache.spark.sql.execution.streaming.Sink {

  override def addBatch(batchId: Long,
                        data: org.apache.spark.sql.DataFrame): Unit = {
    val batch = GraftSourceBridge.materializedBatch(data)
    val existing = MergeWriter.pinManifest(spark, path, None, None)
    val keys = writeKeysOf(existing)
    val buckets = parameters.get("buckets").map(_.toInt).getOrElse(64)
    val clusterBy = parameters.get("clusterBy")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)
    if (complete)
      MergeWriter.overwriteTable(spark, path, batch, keys, buckets,
        clusterBy = clusterBy, txn = Some((appId, batchId)))
    else
      MergeWriter.merge(spark, path, batch, keys, buckets,
        clusterBy = clusterBy, txn = Some((appId, batchId)))
  }

  override def toString: String = s"GraftMergeSink[$path]"
}

/** Manifest-driven file listing for Catalyst's file-source scan: the
  * planner passes the scan's partition and data filters to
  * [[listFiles]]; supported data filters translate to
  * [[MergeWriter.ColumnPredicate]]s and prune files through the SAME
  * stats/Bloom path as the storage API reads — a filter shape the
  * translation doesn't cover simply prunes nothing (the scan still
  * evaluates every filter exactly; skipping is pure I/O removal, never
  * semantics). The manifest is pinned at construction: one consistent
  * table version for the lifetime of the plan.
  */
class GraftFileIndex private[sources] (
    spark: SparkSession, tablePath: String,
    man: MergeWriter.Manifest, dvAware: Boolean = false,
    mainHead: Boolean = false) extends FileIndex {

  /** [[MvRewriteRule]] matching surface: the table dir, whether this
    * is an unpinned main-head read, and the version it pinned at
    * relation build (the rewrite's exactness anchor).
    */
  private[sources] def tablePathStr: String = tablePath
  private[sources] def isMainHead: Boolean = mainHead
  private[sources] def manifestVersion: Long = man.version

  // a plain V1 file scan serves files VERBATIM — a manifest with live
  // deletion vectors must only plan through it when the consuming scan
  // filters dead positions itself (`dvAware`: the catalog's native DSv2
  // scan, which skips each DV'd file's dead row indexes reader-side).
  // The V1 format route bridges such versions through the DV-aware
  // storage read instead, so reaching here without the flag is a
  // routing bug, not a user error
  require(dvAware ||
      (!MergeWriter.hasLiveDvs(man) && !MergeWriter.hasLiveEqds(man)),
    s"GraftFileIndex: $tablePath version ${man.version} carries live " +
      "deletion vectors or equality deletes — route this read through " +
      "GraftDvBridge or a dead-row-skipping scan")

  override def rootPaths: Seq[Path] = Seq(new Path(tablePath))

  override def partitionSchema: StructType = new StructType()

  override def refresh(): Unit = ()

  private lazy val allFiles: Seq[(Path, Long)] =
    MergeWriter.indexCandidateFiles(spark, tablePath, man, Seq.empty)

  override def inputFiles: Array[String] =
    allFiles.map(_._1.toString).toArray

  override def sizeInBytes: Long = allFiles.map(_._2).sum

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression])
      : Seq[PartitionDirectory] = {
    // a STRICT variant_get in the filter promises a per-row cast error
    // on uncastable values; pruning a file can elide it (the hidden
    // stats carry try semantics). Row RESULTS are identical either
    // way, so skipping stays ON by default (Spark 4 runs ANSI by
    // default — gating on it would forfeit the entire optimization);
    // `spark.graft.shred.rewriteStrict = false` opts a session into
    // layout-independent deterministic errors at the cost of
    // strict-form skipping. try_variant_get always prunes.
    val rewriteStrict =
      spark.conf.get("spark.graft.shred.rewriteStrict", "true").toBoolean
    val preds = dataFilters
      .map(GraftFileIndex.rewriteShredRefs(man, _, rewriteStrict))
      .flatMap(GraftFileIndex.toPredicates)
    val buckets = GraftFileIndex.keyBuckets(man, man.struct, preds)
    val files =
      if (preds.isEmpty && buckets.isEmpty) allFiles
      else MergeWriter.indexCandidateFiles(spark, tablePath, man, preds,
        buckets)
    val statuses = files.map { case (p, len) =>
      new FileStatus(len, false, 1, math.max(len, 1L), 0L, p)
    }.toArray
    Seq(PartitionDirectory(InternalRow.empty, statuses))
  }
}

object GraftFileIndex {
  import MergeWriter.{ColumnIn, ColumnNull, ColumnPredicate, ColumnRange}

  /** Rewrite `variant_get`/`try_variant_get` subtrees that MATCH a
    * declared shred (same variant column, same literal path, same
    * target type) into references to the shred's HIDDEN stats column,
    * so the ordinary [[toPredicates]] translation — equality, ranges,
    * IN, OR, StartsWith, null tests — prunes files through the recorded
    * min/max stats and Bloom sidecars. Used ONLY for file listing; the
    * scan still evaluates the original filter exactly, so an unmatched
    * (or mistyped) extraction simply prunes nothing. The TRY form
    * always rewrites (the hidden values carry try semantics, see
    * [[MergeWriter.ShredSpec]]); the STRICT form rewrites only when
    * `rewriteStrict` (default true) — pruning a file elides the
    * per-row cast error a strict extraction would have raised for a
    * row inside it, so `spark.graft.shred.rewriteStrict = false` lets
    * a session trade strict-form skipping for layout-independent
    * deterministic errors. Row results are identical either way.
    */
  private[sources] def rewriteShredRefs(man: MergeWriter.Manifest,
                                        e: Expression,
                                        rewriteStrict: Boolean = true)
      : Expression = {
    if (man.shredCols.isEmpty) return e
    import org.apache.spark.sql.catalyst.expressions.GetStructField
    import org.apache.spark.sql.catalyst.expressions.variant.VariantGet
    import org.apache.spark.sql.execution.datasources.VariantMetadata
    def shredFor(col: String, path: String, dt: org.apache.spark.sql
        .types.DataType): Option[MergeWriter.ShredSpec] =
      man.shredCols.find(s => s.column.equalsIgnoreCase(col) &&
        s.path == path && s.dataType == dt)
    e.transformUp {
      // the raw extraction shape (the DSv2 catalog path — no scan
      // rewrite exists there)
      case VariantGet(a: AttributeReference, Literal(p, StringType), dt,
                      failOnError, _)
          if p != null && (rewriteStrict || !failOnError) &&
          shredFor(a.name, p.toString, dt).isDefined =>
        val s = shredFor(a.name, p.toString, dt).get
        AttributeReference(MergeWriter.shredColName(s), dt,
          nullable = true)()
      // the V1 route's post-PushVariantIntoScan shape: the rule
      // rewrote the variant column to a struct of requested
      // extractions (each field's metadata carries its path) and the
      // filter to a struct-field access
      case gsf @ GetStructField(a: AttributeReference, ord, _)
          if VariantMetadata.isVariantStruct(a.dataType) =>
        val f = a.dataType.asInstanceOf[StructType].fields(ord)
        val meta = VariantMetadata.fromMetadata(f.metadata)
        if (!rewriteStrict && meta.failOnError) gsf
        else shredFor(a.name, meta.path, f.dataType) match {
          case Some(s) => AttributeReference(MergeWriter.shredColName(s),
            f.dataType, nullable = true)()
          case None => gsf
        }
    }
  }

  private def external(value: Any, lit: Literal): Any =
    if (value == null) null
    else CatalystTypeConverters.convertToScala(value, lit.dataType)

  private def scalaOf(l: Literal): Any = external(l.value, l)

  /** Conservative translation of a Catalyst data filter into storage
    * predicates for FILE pruning. Strict inequalities widen to their
    * inclusive bound (keeps at least as many files — the scan's exact
    * filter still runs); null-valued comparisons and any unrecognized
    * shape translate to nothing (no pruning). Equality and IN reach the
    * Bloom sidecar probe through the degenerate-range / value-list
    * forms, identical to [[MergeWriter.readTableWhere]].
    */
  private[sources] def toPredicates(e: Expression): Seq[ColumnPredicate] =
    e match {
      case And(l, r) => toPredicates(l) ++ toPredicates(r)
      case EqualTo(a: AttributeReference, l: Literal) => eq(a, l)
      case EqualTo(l: Literal, a: AttributeReference) => eq(a, l)
      case EqualNullSafe(a: AttributeReference, l: Literal) => eq(a, l)
      case EqualNullSafe(l: Literal, a: AttributeReference) => eq(a, l)
      case GreaterThan(a: AttributeReference, l: Literal) => lower(a, l)
      case GreaterThanOrEqual(a: AttributeReference, l: Literal) => lower(a, l)
      case LessThan(l: Literal, a: AttributeReference) => lower(a, l)
      case LessThanOrEqual(l: Literal, a: AttributeReference) => lower(a, l)
      case LessThan(a: AttributeReference, l: Literal) => upper(a, l)
      case LessThanOrEqual(a: AttributeReference, l: Literal) => upper(a, l)
      case GreaterThan(l: Literal, a: AttributeReference) => upper(a, l)
      case GreaterThanOrEqual(l: Literal, a: AttributeReference) => upper(a, l)
      case IsNull(a: AttributeReference) => Seq(ColumnNull(a.name, true))
      case IsNotNull(a: AttributeReference) =>
        Seq(ColumnNull(a.name, false))
      case In(a: AttributeReference, vs) if vs.nonEmpty &&
          vs.forall(_.isInstanceOf[Literal]) =>
        val ext = vs.map(v => scalaOf(v.asInstanceOf[Literal]))
        if (ext.contains(null)) Seq.empty else Seq(ColumnIn(a.name, ext))
      case InSet(a: AttributeReference, vs) if vs.nonEmpty =>
        val dt = a.dataType
        val conv = CatalystTypeConverters.createToScalaConverter(dt)
        val ext = vs.toSeq.map(conv)
        if (ext.contains(null)) Seq.empty else Seq(ColumnIn(a.name, ext))
      // same-column value-set disjunctions fold to one ColumnIn (which
      // also feeds key-bucket pruning); ANY other OR whose branches
      // BOTH translate to usable constraints prunes as the UNION of the
      // branches' file sets (ColumnOr). Each branch's translation is a
      // conservative SUPERSET of the branch's matches, so the union
      // keeps a superset of the OR's matches — sound. A branch
      // translating to nothing keeps everything → no pruning.
      case Or(l, r) =>
        (valueSet(l), valueSet(r)) match {
          case (Some((c1, v1)), Some((c2, v2))) if c1 == c2 =>
            Seq(ColumnIn(c1, v1 ++ v2))
          case _ =>
            val (lp, rp) = (toPredicates(l), toPredicates(r))
            if (lp.nonEmpty && rp.nonEmpty)
              Seq(MergeWriter.ColumnOr(Seq(lp, rp)))
            else Seq.empty
        }
      // prefix probe → range [prefix, successor(prefix)): every string
      // with the prefix is >= prefix and < prefix-with-last-char-
      // incremented (no upper bound if the last char is U+FFFF — sound,
      // just unbounded above)
      case StartsWith(a: AttributeReference, l: Literal) =>
        scalaOf(l) match {
          case p: String if p.nonEmpty =>
            val upper =
              if (p.last == Char.MaxValue) None
              else Some(p.dropRight(1) + (p.last + 1).toChar)
            Seq(ColumnRange(a.name, Some(p), upper))
          case _ => Seq.empty
        }
      case _ => Seq.empty
    }

  /** The concrete value set a subtree pins ONE column to (equality, IN,
    * or a same-column disjunction of those) — the OR-translation's
    * building block. None = not a pure value-set shape.
    */
  private def valueSet(e: Expression): Option[(String, Seq[Any])] =
    toPredicates(e) match {
      case Seq(ColumnIn(c, vs)) => Some((c, vs))
      case Seq(ColumnRange(c, Some(lo), Some(hi))) if lo == hi =>
        Some((c, Seq(lo)))
      case _ => None
    }

  /** Key-hash BUCKET pruning for point lookups through plain SQL: when
    * the conjunction pins EVERY merge-key column to concrete values
    * (equality or IN), the wanted tuples' buckets are computable
    * driver-side ([[MergeWriter.bucketOfKeyTuple]]) and the scan reads
    * ≤ |tuples| buckets of the table regardless of table size — the
    * format-read equivalent of [[MergeWriter.readKeys]]. None = no
    * restriction (some key column unpinned, tuple fan-out too large, or
    * a value that fails conversion): pruning must only ever remove
    * provably irrelevant I/O.
    */
  private[sources] def keyBuckets(man: MergeWriter.Manifest,
                                  schema: StructType,
                                  preds: Seq[ColumnPredicate])
      : Option[Set[Int]] = {
    if (man.keyCols.isEmpty) return None
    val eqs: Map[String, Seq[Any]] = man.keyCols.flatMap { c =>
      val valueSets = preds.collect {
        case ColumnRange(`c`, Some(lo), Some(hi)) if lo == hi => Seq(lo)
        case ColumnIn(`c`, vs) => vs
      }
      if (valueSets.isEmpty) None
      else Some(c -> valueSets.reduce((a, b) => a.filter(b.contains)))
    }.toMap
    if (!man.keyCols.forall(eqs.contains)) return None
    val tuples = man.keyCols.foldLeft(Seq(Seq.empty[Any])) { (acc, c) =>
      for { t <- acc; v <- eqs(c) } yield t :+ v
    }
    if (tuples.isEmpty) return Some(Set.empty) // contradictory equalities
    if (tuples.size > 64) return None
    val buckets = tuples.map(t => MergeWriter.bucketOfKeyTuple(man, schema, t))
    if (buckets.exists(_.isEmpty)) None else Some(buckets.flatten.toSet)
  }

  /** Ceiling on a RUNTIME In-set translated for pruning: the per-file
    * stats/Bloom probe is a driver-side loop over values × files, so an
    * unbounded DPP set on a huge table could cost more to prune than to
    * scan. Past the cap the filter prunes nothing — the join itself
    * still applies it exactly.
    */
  private[sources] val RuntimeInCap = 10000

  /** Conservative DataSourceV2 runtime-filter translation (the v1
    * `Filter` shapes [[org.apache.spark.sql.connector.read
    * .SupportsRuntimeFiltering]] delivers — dynamic partition pruning
    * hands the build side's collected join-key values as `In`). Same
    * soundness contract as [[toPredicates]]: every translation keeps a
    * superset of matching files, unrecognized shapes prune nothing.
    */
  private[sources] def fromV1Filters(fs: Seq[org.apache.spark.sql.sources.Filter])
      : Seq[ColumnPredicate] = fs.flatMap {
    case org.apache.spark.sql.sources.In(c, vs)
        if vs.nonEmpty && vs.length <= RuntimeInCap && !vs.contains(null) =>
      Seq(ColumnIn(c, vs.toSeq))
    case org.apache.spark.sql.sources.EqualTo(c, v) if v != null =>
      Seq(ColumnRange(c, Some(v), Some(v)))
    case org.apache.spark.sql.sources.And(l, r) =>
      fromV1Filters(Seq(l)) ++ fromV1Filters(Seq(r))
    case _ => Seq.empty
  }

  private def eq(a: AttributeReference, l: Literal): Seq[ColumnPredicate] = {
    val v = scalaOf(l)
    if (v == null) Seq.empty else Seq(ColumnRange(a.name, Some(v), Some(v)))
  }
  private def lower(a: AttributeReference, l: Literal): Seq[ColumnPredicate] = {
    val v = scalaOf(l)
    if (v == null) Seq.empty else Seq(ColumnRange(a.name, Some(v), None))
  }
  private def upper(a: AttributeReference, l: Literal): Seq[ColumnPredicate] = {
    val v = scalaOf(l)
    if (v == null) Seq.empty else Seq(ColumnRange(a.name, None, Some(v)))
  }
}
