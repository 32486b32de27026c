package graft.sources

import java.io.{DataOutputStream, IOException, ObjectInputStream,
  ObjectOutputStream}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{
  DeltaBatchWrite, DeltaWrite, DeltaWriteBuilder, DeltaWriter,
  DeltaWriterFactory, LogicalWriteInfo, PhysicalWriteInfo,
  RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo,
  SupportsDelta, WriterCommitMessage}
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.Platform

/** SQL row-level DML — `MERGE INTO`, `UPDATE`, and general-predicate
  * `DELETE` — for graft tables, via Spark's DSv2 DELTA-BASED row-level
  * operation contract (`SupportsRowLevelOperations` + `SupportsDelta`,
  * the SPIP Iceberg's merge-on-read path builds on). The reference's
  * consumers live on exactly these verbs against Postgres — Sequelize
  * `update(attributes, {where})` (ref `src/data/project_aurora.ts:64`,
  * `src/data/work_item_type_aurora.ts:693`), `bulkCreate` with
  * `updateOnDuplicate` (the MERGE shape, ref `src/data/vc_data.ts:198-222`)
  * and per-row `upsert` — so a SQL-first user expects them to just work.
  *
  * Why delta-based and not group-based (copy-on-write): Spark hands the
  * connector only the CHANGED rows (insert/update/delete instructions
  * keyed by row id), not the full content of every affected file. That
  * is precisely the keyed-merge shape [[MergeWriter.applyChanges]]
  * already implements — the row id IS the table's merge key — so the
  * write rewrites only the buckets holding changed keys and commits the
  * whole changeset in ONE manifest version. Group-based would force the
  * connector to re-write (and the scan to fully re-read) every matched
  * file, and its replace-groups write contract is unsatisfiable at
  * bucket granularity without disabling parquet row-group pruning.
  *
  * Cost model at 100 TB: UPDATE/DELETE push their WHERE into the scan,
  * so file/bucket skipping (stats, Z-order, Blooms) bounds the READ,
  * and the WRITE is ∝ changed buckets. MERGE reads the target once
  * (the join side cannot be statically pruned — same as every
  * delta-based engine) and writes ∝ changed buckets; the native
  * [[MergeWriter.merge]] ingest path remains the zero-scan fast path
  * for key-equality upserts.
  *
  * Mechanics: executors stream the changeset as length-prefixed
  * [[UnsafeRow]] records into per-task staging files under the table
  * (upserts with the full row schema, deletes with the row-id schema);
  * the driver-side batch commit reads back ONLY the files named in
  * successful tasks' commit messages (task retries/speculation leave
  * orphans the abort path and table vacuum reclaim) and applies them
  * through one atomic [[MergeWriter.applyChanges]] commit.
  */
private[sources] class GraftRowLevelOperation(
    spark: SparkSession, tablePath: String,
    man: MergeWriter.Manifest,
    cmd: RowLevelOperation.Command,
    ref: Option[String] = None)
    extends SupportsDelta {

  override def command(): RowLevelOperation.Command = cmd

  /** The operation's target scan is the ordinary catalog scan: pushed
    * data filters prune files through the shared stats/Bloom keep-fn
    * core (sound here because delta-based plans only need MATCHING
    * rows from the target — unlike group-based, which must also see a
    * touched file's non-matching rows).
    */
  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = {
    // the one catalog schema (keys NOT NULL) — shared with GraftSqlTable,
    // and the same scan builder, so an id-stamped table's field-id
    // restamping applies to the row-level scan too (a renamed column
    // must read by id here as well). A version with live deletion
    // vectors keeps this native scan too: the reader-side DV skip
    // (GraftDvSkipReaderFactory) hides dead rows, which the row-level
    // scan MUST NOT see (a MERGE matching a deleted key would wrongly
    // take the MATCHED branch).
    new GraftTableScanBuilder(spark, tablePath, man,
      MergeWriter.sqlSchema(man), options,
      streamable = false)
  }

  /** Row identity = the table's recorded merge keys: unique per row by
    * the keyed-merge contract, and exactly what [[MergeWriter
    * .applyChanges]] addresses rewrites by.
    */
  override def rowId(): Array[NamedReference] =
    man.keyCols.map(Expressions.column).toArray

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite =
        new GraftDeltaWrite(spark, tablePath, man.keyCols, cmd,
          info.schema(),
          if (info.rowIdSchema().isPresent) info.rowIdSchema().get()
          else StructType(man.keyCols.flatMap(k =>
            info.schema().fields.find(_.name == k))),
          info.queryId(),
          // the statement's scan pinned THIS manifest version — the
          // commit re-validates touched buckets against it
          // (MergeWriter.requireScanCurrent) so a commit landing during
          // the read/join phase conflicts instead of being clobbered
          scannedVersion = man.version, ref = ref)
    }

  override def description(): String =
    s"GraftRowLevel($cmd, $tablePath)"
}

private[sources] class GraftDeltaWrite(spark: SparkSession,
                                       tablePath: String,
                                       keys: Seq[String],
                                       cmd: RowLevelOperation.Command,
                                       rowSchema: StructType,
                                       idSchema: StructType,
                                       queryId: String,
                                       scannedVersion: Long,
                                       ref: Option[String] = None)
    extends DeltaWrite {

  override def description(): String = s"GraftDeltaWrite($cmd, $tablePath)"

  override def toBatch(): DeltaBatchWrite =
    new GraftDeltaBatchWrite(spark, tablePath, keys, cmd, rowSchema,
      idSchema, s"$tablePath/_rowlevel-$queryId", scannedVersion, ref)
}

private[sources] case class GraftDeltaMessage(upPath: Option[String],
                                              delPath: Option[String])
    extends WriterCommitMessage

private[sources] class GraftDeltaBatchWrite(spark: SparkSession,
                                            tablePath: String,
                                            keys: Seq[String],
                                            cmd: RowLevelOperation.Command,
                                            rowSchema: StructType,
                                            idSchema: StructType,
                                            stagingDir: String,
                                            scannedVersion: Long,
                                            ref: Option[String] = None)
    extends DeltaBatchWrite {

  override def createBatchWriterFactory(info: PhysicalWriteInfo)
      : DeltaWriterFactory =
    new GraftDeltaWriterFactory(stagingDir, rowSchema.json, idSchema.json,
      new GraftSerializableConf(
        spark.sparkContext.hadoopConfiguration))

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    try {
      val ups = messages.collect { case GraftDeltaMessage(Some(p), _) => p }
      val dels = messages.collect { case GraftDeltaMessage(_, Some(p)) => p }
      val delDf = GraftRowLevel.decodeStaged(spark, dels, idSchema)
      if (cmd == RowLevelOperation.Command.DELETE)
        // a pure DELETE's write schema carries no data columns (only row
        // ids travel) — it IS the storage layer's keyed delete
        MergeWriter.delete(spark, tablePath, delDf, keys,
          expectedVersion = Some(scannedVersion), ref = ref)
      else
        MergeWriter.applyChanges(spark, tablePath,
          GraftRowLevel.decodeStaged(spark, ups, rowSchema), delDf, keys,
          opName = cmd.toString.toLowerCase,
          expectedVersion = Some(scannedVersion), ref = ref)
    } finally cleanup()
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = cleanup()

  private def cleanup(): Unit = {
    val p = new Path(stagingDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) { fs.delete(p, true); () }
  }
}

private[sources] class GraftDeltaWriterFactory(stagingDir: String,
                                               rowSchemaJson: String,
                                               idSchemaJson: String,
                                               conf: GraftSerializableConf)
    extends DeltaWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : DeltaWriter[InternalRow] =
    new GraftDeltaWriter(stagingDir,
      org.apache.spark.sql.types.DataType.fromJson(rowSchemaJson)
        .asInstanceOf[StructType],
      org.apache.spark.sql.types.DataType.fromJson(idSchemaJson)
        .asInstanceOf[StructType],
      conf.value, partitionId, taskId)
}

/** Per-task changeset writer: two append-only staging streams (upserts,
  * delete-ids) of length-prefixed UnsafeRows. An UPDATE always travels
  * as delete(old id) + upsert(new row): [[MergeWriter.applyChanges]]
  * resolves a key present in both to the upsert, so a key-preserving
  * update replaces in place and a key-REWRITING update (`UPDATE ... SET
  * <key> = ...`) correctly kills the old identity and lands the new one
  * in its (possibly different) bucket — one commit either way.
  */
private[sources] class GraftDeltaWriter(stagingDir: String,
                                        rowSchema: StructType,
                                        idSchema: StructType,
                                        conf: Configuration,
                                        partitionId: Int, taskId: Long)
    extends DeltaWriter[InternalRow] {

  private val rowProj = UnsafeProjection.create(rowSchema)
  private val idProj = UnsafeProjection.create(idSchema)
  private var upOut: DataOutputStream = _
  private var delOut: DataOutputStream = _
  private var upPath: Option[String] = None
  private var delPath: Option[String] = None

  private def stream(suffix: String): DataOutputStream = {
    val p = new Path(s"$stagingDir/d-$partitionId-$taskId.$suffix")
    val fs = p.getFileSystem(conf)
    val o = new DataOutputStream(fs.create(p, false))
    if (suffix == "up") upPath = Some(p.toString)
    else delPath = Some(p.toString)
    o
  }

  private def writeRec(o: DataOutputStream, u: UnsafeRow): Unit = {
    val b = u.getBytes
    o.writeInt(b.length)
    o.write(b)
  }

  override def insert(row: InternalRow): Unit = {
    if (upOut == null) upOut = stream("up")
    writeRec(upOut, rowProj(row))
  }

  override def delete(metadata: InternalRow, id: InternalRow): Unit = {
    if (delOut == null) delOut = stream("del")
    writeRec(delOut, idProj(id))
  }

  override def update(metadata: InternalRow, id: InternalRow,
                      row: InternalRow): Unit = {
    delete(metadata, id)
    insert(row)
  }

  override def commit(): WriterCommitMessage = {
    close()
    GraftDeltaMessage(upPath, delPath)
  }

  override def abort(): Unit = {
    close()
    // best-effort: reclaim this attempt's own files now; anything missed
    // dies with the staging dir in the batch-level abort/commit cleanup
    try {
      (upPath.toSeq ++ delPath.toSeq).foreach { s =>
        val p = new Path(s); p.getFileSystem(conf).delete(p, false); ()
      }
    } catch { case _: IOException => () }
  }

  override def close(): Unit = {
    if (upOut != null) { upOut.close(); upOut = null }
    if (delOut != null) { delOut.close(); delOut = null }
  }
}

/** Hadoop `Configuration` is not `Serializable`; ship it the way every
  * Spark connector does — write/read the binary form. (Spark's own
  * wrapper is `private[spark]`.)
  *
  * Parsing a serialized Configuration (hundreds of entries) per TASK
  * deserialization was the single hottest executor-side frame in the
  * merge/DML write path (driver stack sampling, round 16), so the
  * deserialized conf is content-addressed in a process-global cache:
  * local mode and every repeated task on one executor resolve it with
  * a map hit instead of a re-parse — the same sharing Spark gets from
  * broadcasting its own SerializableConfiguration once per job. Tasks
  * only READ the conf (getFileSystem), the same read-only sharing
  * contract as Spark's broadcast Hadoop conf.
  */
private[sources] object GraftSerializableConf {
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, Configuration]()
}
private[sources] class GraftSerializableConf(@transient var value: Configuration)
    extends Serializable {
  private def writeObject(out: ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    val bos = new java.io.ByteArrayOutputStream()
    val dos = new DataOutputStream(bos)
    value.write(dos)
    dos.flush()
    val bytes = bos.toByteArray
    val d = java.security.MessageDigest.getInstance("SHA-256")
    val key = d.digest(bytes).map(b => f"${b & 0xff}%02x").mkString
    GraftSerializableConf.cache.putIfAbsent(key, value)
    out.writeUTF(key)
    out.writeInt(bytes.length)
    out.write(bytes)
  }
  private def readObject(in: ObjectInputStream): Unit = {
    in.defaultReadObject()
    val key = in.readUTF()
    val len = in.readInt()
    val bytes = new Array[Byte](len)
    in.readFully(bytes)
    val hit = GraftSerializableConf.cache.get(key)
    value =
      if (hit != null) hit
      else {
        val c = new Configuration(false)
        c.readFields(new java.io.DataInputStream(
          new java.io.ByteArrayInputStream(bytes)))
        val prev = GraftSerializableConf.cache.putIfAbsent(key, c)
        if (prev != null) prev else c
      }
  }
}

private[sources] object GraftRowLevel {

  /** Read per-task staged changeset files back as a distributed
    * DataFrame (only files named in SUCCESSFUL commit messages — never
    * a directory listing, which could see files from zombie attempts).
    * One task per staged file, each opened DIRECTLY through its own
    * `FileSystem` — never `binaryFiles(paths.mkString(","))`, whose
    * Hadoop input-path string treats commas as path separators and
    * `{}[]*?` as glob metacharacters, so a table path containing any of
    * them would mis-resolve the staged files and fail (or corrupt) the
    * commit. Decoding STREAMS each file record-by-record: one write
    * task can stage a multi-GB changeset file, and materializing it
    * whole would hold ~2× the file in one executor's heap.
    */
  def decodeStaged(spark: SparkSession, paths: Seq[String],
                   schema: StructType): DataFrame = {
    if (paths.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], schema)
    val n = schema.length
    val conf = new GraftSerializableConf(
      spark.sparkContext.hadoopConfiguration)
    val rdd = spark.sparkContext
      .parallelize(paths, paths.size)
      .flatMap { s =>
        val conv = CatalystTypeConverters.createToScalaConverter(schema)
        val p = new Path(s)
        val in = new java.io.DataInputStream(new java.io.BufferedInputStream(
          p.getFileSystem(conf.value).open(p)))
        new Iterator[Row] {
          private var nextRow: Row = advance()
          private def advance(): Row = {
            val len = try in.readInt() catch {
              case _: java.io.EOFException => in.close(); return null
            }
            val buf = new Array[Byte](len)
            in.readFully(buf)
            val u = new UnsafeRow(n)
            u.pointTo(buf, Platform.BYTE_ARRAY_OFFSET, len)
            conv(u).asInstanceOf[Row]
          }
          override def hasNext: Boolean = nextRow != null
          override def next(): Row = {
            val r = nextRow; nextRow = advance(); r
          }
        }
      }
    spark.createDataFrame(rdd, schema)
  }
}
