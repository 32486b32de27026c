package graft.sources

import java.util

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.analysis.{
  NoSuchFunctionException, NoSuchNamespaceException, NoSuchTableException,
  TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{
  FunctionCatalog, Identifier, ProcedureCatalog, StagedTable,
  StagingTableCatalog, SupportsDeleteV2, SupportsNamespaces, SupportsRead,
  SupportsRowLevelOperations, SupportsWrite, Table, TableCapability,
  TableCatalog, NamespaceChange, TableChange}
import org.apache.spark.sql.connector.catalog.procedures
import org.apache.spark.sql.connector.catalog.{functions => v2fn}
import org.apache.spark.sql.connector.catalog.TableCatalogCapability
import org.apache.spark.sql.connector.catalog.constraints.{
  Check, Constraint, PrimaryKey}
import org.apache.spark.sql.connector.expressions.{
  Expression => V2Expression, Literal => V2Literal, NamedReference,
  Transform}
import org.apache.spark.sql.connector.expressions.filter.{
  And => V2And, Not => V2Not, Or => V2Or, Predicate => V2Predicate}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.read.streaming.MicroBatchStream
import org.apache.spark.sql.connector.write.{
  LogicalWriteInfo, RowLevelOperationBuilder, RowLevelOperationInfo,
  SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.execution.datasources.{
  NoopCache, PartitionDirectory, PartitioningAwareFileIndex, PartitionSpec}
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources.InsertableRelation
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.{StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.functions.{TextHash, ZOrder}

/** The manifest protocol as a Spark SQL CATALOG: register with
  *
  * {{{
  *   spark.conf.set("spark.sql.catalog.gc", classOf[GraftCatalog].getName)
  *   spark.conf.set("spark.sql.catalog.gc.warehouse", "/data/graft")
  * }}}
  *
  * and the full SQL DDL/DML surface works without temp-view plumbing:
  * `CREATE TABLE gc.ns.t (...) TBLPROPERTIES ('keys'='id')`,
  * `INSERT INTO` (keyed MERGE upsert — the table's write semantics),
  * `INSERT OVERWRITE` (atomic full replace), `SELECT` (planned through
  * the native parquet source with manifest-driven data skipping — the
  * same [[GraftFileIndex]] stats/Bloom pruning as `format("graft")`),
  * `DELETE FROM ... WHERE ...`, `DROP/SHOW TABLES`, namespaces. This is
  * Delta's `DeltaCatalog` surface re-expressed over the graft manifest
  * (the reference's consumers speak raw SQL against Postgres —
  * `aurora/ddl/calculate_cfd.sql:5-70`, the reingest CTEs of
  * `extract_states_handler.ts:191-235` — so SQL-first access is a
  * first-class requirement, not sugar).
  *
  * Identifier → path mapping is directory layout under `warehouse`:
  * `gc.a.b.t` ↔ `<warehouse>/a/b/t`; a namespace is a directory that is
  * not itself a table. `MERGE INTO`, `UPDATE`, and general-predicate
  * `DELETE` plan through the delta-based DSv2 row-level contract
  * ([[GraftRowLevelOperation]]); maintenance verbs are `CALL
  * gc.system.*` procedures; the engine's scalar kernels are
  * `gc.system.*` functions ([[GraftFns]]).
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces
    with ProcedureCatalog with FunctionCatalog with StagingTableCatalog {

  private var catName: String = _
  private var warehouse: Path = _

  private def spark: SparkSession = SparkSession.active
  private def fs: FileSystem =
    warehouse.getFileSystem(spark.sessionState.newHadoopConf())

  override def initialize(name: String,
                          options: CaseInsensitiveStringMap): Unit = {
    catName = name
    val w = Option(options.get("warehouse")).getOrElse(
      throw new IllegalArgumentException(
        s"graft catalog '$name': set spark.sql.catalog.$name.warehouse " +
          "to the table root directory"))
    warehouse = new Path(w)
  }

  override def name(): String = catName

  /** ANSI table constraints (Spark 4.1's DSv2 constraint SPIP): the
    * catalog accepts `CREATE TABLE ... CHECK (...)` / `ALTER TABLE ...
    * ADD CONSTRAINT`, persists CHECK predicates in the manifest, and
    * enforces them on every write path (see
    * [[MergeWriter.addCheckConstraint]]).
    */
  override def capabilities(): util.Set[TableCatalogCapability] =
    util.EnumSet.of(TableCatalogCapability.SUPPORT_TABLE_CONSTRAINT,
      // column DEFAULT values: CREATE TABLE (x INT DEFAULT 5) / ALTER
      // TABLE ADD COLUMN ... DEFAULT / ALTER COLUMN ... SET DEFAULT.
      // The default rides the recorded schema's field metadata
      // (CURRENT_DEFAULT for future INSERTs — applied by Spark's
      // ResolveDefaultColumns; EXISTS_DEFAULT for rows written before
      // the column existed — filled by the parquet readers), so it
      // costs METADATA ONLY: no rewrite of existing files, at any scale
      TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE,
      // IDENTITY columns (GENERATED BY DEFAULT AS IDENTITY): spec in
      // the schema's field metadata, high-water in the manifest, NULL
      // inputs assigned in one distributed pass on every write path
      // (see MergeWriter §identity columns). GENERATED ALWAYS is
      // rejected at create — a keyed-upsert table restates its keys on
      // every merge
      TableCatalogCapability.SUPPORTS_CREATE_TABLE_WITH_IDENTITY_COLUMNS,
      // GENERATED ALWAYS AS (expr): expression in the schema's field
      // metadata; every write computes NULL inputs from the row and
      // validates explicit ones (fused single-pass, like CHECKs)
      TableCatalogCapability.SUPPORTS_CREATE_TABLE_WITH_GENERATED_COLUMNS)

  private def dirOf(parts: Seq[String]): Path =
    parts.foldLeft(warehouse)((p, s) => new Path(p, s))

  private def tableDir(ident: Identifier): Path =
    dirOf(ident.namespace().toIndexedSeq :+ ident.name())

  /** FileSystem of an arbitrary table path — a LOCATION-pinned table
    * may live on a different scheme than the warehouse.
    */
  private def fsOf(p: Path): FileSystem =
    p.getFileSystem(spark.sessionState.newHadoopConf())

  /** A directory is a TABLE iff it holds a committed manifest. */
  private def isTable(dir: Path): Boolean =
    MergeWriter.hasManifest(fsOf(dir), dir)

  /** A LOCATION-pinned table keeps its data at the declared path; its
    * identifier directory under the warehouse holds ONLY a `_loc`
    * pointer file naming that path — persisted at CREATE so every
    * later statement (SELECT/INSERT/DML/DROP/CALL) resolves the same
    * directory instead of orphaning the table the moment CREATE
    * returns. The pointer is created exclusively (`create(…, false)`),
    * so a racing CREATE of the same identifier is single-winner.
    */
  private def pointerFile(identDir: Path): Path =
    new Path(identDir, GraftCatalog.LocPointer)

  private def readPointer(identDir: Path): Option[Path] = {
    val pf = pointerFile(identDir)
    if (!fs.exists(pf)) None
    else {
      val in = fs.open(pf)
      val s = try new String(
        org.apache.commons.io.IOUtils.toByteArray(in),
        java.nio.charset.StandardCharsets.UTF_8).trim
      finally in.close()
      Some(new Path(s))
    }
  }

  /** The directory a statement against `ident` must address: the
    * pointer's target for a LOCATION-pinned table, the warehouse
    * layout directory otherwise.
    */
  private def resolvedDir(ident: Identifier): Path = {
    val d = tableDir(ident)
    readPointer(d).getOrElse(d)
  }

  /** Is this warehouse directory a table ENTRY — a committed manifest,
    * or a location pointer resolving to one? (Namespace listings must
    * exclude both shapes.)
    */
  private def isTableEntry(identDir: Path): Boolean =
    isTable(identDir) || readPointer(identDir).exists(isTable)

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val d = dirOf(namespace.toIndexedSeq)
    if (!fs.exists(d))
      throw new NoSuchNamespaceException(catName +: namespace.toSeq)
    fs.listStatus(d).filter(_.isDirectory).map(_.getPath)
      .filter(isTableEntry)
      .map(p => Identifier.of(namespace, p.getName))
  }

  override def tableExists(ident: Identifier): Boolean =
    isTableEntry(tableDir(ident))

  override def loadTable(ident: Identifier): Table = {
    val dir = resolvedDir(ident)
    if (isTable(dir))
      new GraftSqlTable(spark, dir.toString,
        (catName +: ident.namespace().toIndexedSeq :+ ident.name())
          .mkString("."))
    else metadataTable(ident)
      .getOrElse(throw new NoSuchTableException(ident))
  }

  /** METADATA SUB-TABLES (Iceberg's `t.history` shape): `gc.ns.t.history`
    * and `gc.ns.t.changes` resolve as read-only tables over `gc.ns.t` —
    * the identifier's NAMESPACE must itself be a table (pointer-resolved
    * like any other) and the name one of the metadata views. A real
    * table of the same name always wins (checked first above).
    */
  private def metadataTable(ident: Identifier): Option[Table] = {
    val parts = ident.namespace().toIndexedSeq
    // name match FIRST: every loadTable miss funnels here, and the
    // common miss (a plain unknown table) must stay free of the
    // pointer/manifest filesystem probes below
    if (parts.isEmpty ||
        (ident.name() != "history" && ident.name() != "changes" &&
          ident.name() != "files" && ident.name() != "branches" &&
          ident.name() != "partitions" &&
          !ident.name().startsWith("branch_")))
      return None
    val entry = dirOf(parts)
    val parent = readPointer(entry).getOrElse(entry)
    if (!isTable(parent)) return None
    val name = (catName +: parts :+ ident.name()).mkString(".")
    if (ident.name().startsWith("branch_")) {
      // `t.branch_<name>` (Iceberg's branch identifier shape): the
      // branch's staged head, readable for the WAP audit and writable
      // (INSERT = keyed upsert staged on the branch, main untouched)
      val b = ident.name().stripPrefix("branch_")
      if (!MergeWriter.listBranches(spark, parent.toString).contains(b))
        return None
      return Some(new GraftSqlTable(spark, parent.toString, name,
        branch = Some(b)))
    }
    if (ident.name() == "history")
      Some(new GraftHistoryTable(spark, parent.toString, name))
    else if (ident.name() == "files")
      Some(new GraftFilesTable(spark, parent.toString, name))
    else if (ident.name() == "branches")
      Some(new GraftBranchesTable(spark, parent.toString, name))
    else if (ident.name() == "partitions")
      Some(new GraftPartitionsTable(spark, parent.toString, name))
    else Some(new GraftChangesTable(spark, parent.toString, name))
  }

  /** SQL time travel: `SELECT ... FROM gc.ns.t VERSION AS OF 3` — Spark
    * routes the pinned version here. The returned table reads that
    * retained manifest (and rejects writes: history is immutable).
    */
  override def loadTable(ident: Identifier, version: String): Table = {
    val dir = resolvedDir(ident)
    if (!isTable(dir)) throw new NoSuchTableException(ident)
    // a numeric version, or a TAG name resolved through the current
    // manifest (Iceberg's `VERSION AS OF 'tag'` shape)
    val v = MergeWriter.resolveVersionRef(spark, dir.toString, version)
    new GraftSqlTable(spark, dir.toString,
      (catName +: ident.namespace().toIndexedSeq :+ ident.name())
        .mkString(".") + s"@v$v", versionAsOf = Some(v))
  }

  /** SQL time travel: `... TIMESTAMP AS OF <micros-since-epoch>` (Spark
    * hands the catalog microseconds).
    */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val dir = resolvedDir(ident)
    if (!isTable(dir)) throw new NoSuchTableException(ident)
    new GraftSqlTable(spark, dir.toString,
      (catName +: ident.namespace().toIndexedSeq :+ ident.name())
        .mkString(".") + s"@ts$timestampMicros",
      timestampAsOf = Some(timestampMicros / 1000L))
  }

  /** Layout properties mirror the `format("graft")` writer options and
    * read from TBLPROPERTIES or OPTIONS (Spark prefixes the latter with
    * `option.`): `keys` (required), `buckets`, `clusterBy`, `bloomBy`,
    * `bloomItems`, `shred` (variant-path skipping:
    * `'[col.]$.path:type,...'` — see [[MergeWriter.ShredSpec]]).
    * PARTITIONED BY is rejected — physical layout is
    * key-hash buckets recorded in the manifest, not hive partitions.
    */
  /** The declared layout of a CREATE / CTAS / RTAS statement, parsed
    * once from TBLPROPERTIES (or OPTIONS): merge keys (required),
    * bucket modulus, clustering, Blooms, retention, optional LOCATION.
    */
  private case class TableSpec(path: String, name: String,
                               keys: Seq[String], buckets: Int,
                               clusterBy: Seq[String], bloomBy: Seq[String],
                               bloomItems: Long, retainVersions: Int,
                               retainMs: Long, fingerprint: Boolean,
                               deleteVectors: Boolean,
                               eqDeletes: Boolean,
                               // raw `shred` entries — resolved against
                               // the declared schema at create time
                               shred: Seq[String],
                               // Some(identDir -> target): a CREATE with
                               // a custom LOCATION must persist this
                               // pointer so later statements resolve it
                               pointer: Option[(Path, Path)])

  private def parseSpec(ident: Identifier, partitions: Array[Transform],
                        properties: util.Map[String, String]): TableSpec = {
    require(partitions.isEmpty,
      "graft catalog: PARTITIONED BY is not supported (layout is " +
        "key-hash buckets; cluster with 'clusterBy' instead)")
    def prop(k: String): Option[String] =
      Option(properties.get(k))
        .orElse(Option(properties.get(TableCatalog.OPTION_PREFIX + k)))
    def csv(k: String): Seq[String] = prop(k).toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    val keys = csv("keys")
    require(keys.nonEmpty, s"graft catalog: CREATE TABLE $ident needs " +
      "merge keys — TBLPROPERTIES ('keys'='k1,k2')")
    // LOCATION resolution: an EXISTING table (REPLACE) keeps its
    // resolved directory — data is never relocated, so a conflicting
    // declared LOCATION fails loudly instead of silently forking the
    // table; a fresh CREATE with a custom LOCATION records the pointer.
    val identDir = tableDir(ident)
    val declared = prop(TableCatalog.PROP_LOCATION).map(new Path(_))
    val existing = readPointer(identDir)
      .orElse(if (isTable(identDir)) Some(identDir) else None)
    val (path, pointer) = existing match {
      case Some(r) =>
        declared.foreach(l => require(l.toString == r.toString,
          s"graft catalog: $ident already lives at $r — LOCATION " +
            s"'$l' cannot relocate an existing table (drop and " +
            "re-create, or omit LOCATION)"))
        (r, None)
      case None =>
        declared match {
          case Some(l) if l.toString != identDir.toString =>
            // A LOCATION that already holds a committed table would make
            // this ident an ALIAS of foreign data — and a later DROP
            // through the alias would delete that data. Fail before the
            // pointer is ever persisted (adoption is not a supported
            // operation; a racing create at the same location is still
            // safe: the loser's MergeWriter.createTable fails on the
            // manifest CAS and the failure path reclaims its pointer).
            require(!isTable(l),
              s"graft catalog: LOCATION '$l' already holds a committed " +
                s"graft table — $ident cannot adopt it (read it through " +
                "its own identifier, or drop it first)")
            (l, Some(identDir -> l))
          case _ => (identDir, None)
        }
    }
    TableSpec(
      path = path.toString,
      name = (catName +: ident.namespace().toIndexedSeq :+ ident.name())
        .mkString("."),
      keys = keys,
      buckets = prop("buckets").map(_.toInt).getOrElse(64),
      clusterBy = csv("clusterBy"), bloomBy = csv("bloomBy"),
      bloomItems = prop("bloomItems").map(_.toLong)
        .getOrElse(MergeWriter.DefaultBloomItems),
      fingerprint = prop("fingerprint").exists(_.equalsIgnoreCase("true")),
      deleteVectors = prop("deleteVectors")
        .exists(_.equalsIgnoreCase("true")) ||
        prop("eqDeletes").exists(_.equalsIgnoreCase("true")),
      eqDeletes = prop("eqDeletes").exists(_.equalsIgnoreCase("true")),
      shred = csv("shred"),
      retainVersions = prop("retainVersions").map(_.toInt)
        .getOrElse(MergeWriter.KeepManifests),
      retainMs = prop("retainMs").map(_.toLong).getOrElse(0L),
      pointer = pointer)
  }

  /** Persist a CREATE's location pointer, exclusively — the losing side
    * of a racing CREATE fails here with TableAlreadyExists.
    */
  private def writePointer(spec: TableSpec): Unit =
    spec.pointer.foreach { case (identDir, target) =>
      fs.mkdirs(identDir)
      val out =
        try fs.create(pointerFile(identDir), false)
        catch {
          case _: java.io.IOException =>
            throw new TableAlreadyExistsException(
              Identifier.of(Array.empty, spec.name))
        }
      try out.write(target.toString.getBytes(
        java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }

  /** Reclaim a pointer whose CREATE failed or aborted. The pointer file
    * was created EXCLUSIVELY by this statement (`writePointer` fails a
    * racing create), so removal is unconditionally safe — even if a
    * concurrent create committed a table at the same target after our
    * exclusive pointer write, that table belongs to the other ident and
    * OUR failed statement must not leave an alias behind (a leaked
    * alias would let DROP destroy the other table's data).
    */
  private def removePointer(spec: TableSpec): Unit =
    spec.pointer.foreach { case (identDir, _) =>
      fs.delete(pointerFile(identDir), false)
      if (fs.exists(identDir) && fs.listStatus(identDir).isEmpty)
        fs.delete(identDir, false)
      ()
    }

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table = {
    if (isTableEntry(tableDir(ident)))
      throw new TableAlreadyExistsException(ident)
    val spec = parseSpec(ident, partitions, properties)
    writePointer(spec)
    try MergeWriter.createTable(spark, spec.path, schema, spec.keys,
      buckets = spec.buckets, clusterBy = spec.clusterBy,
      bloomBy = spec.bloomBy, bloomItems = spec.bloomItems,
      retainVersions = spec.retainVersions, retainMs = spec.retainMs,
      fingerprint = spec.fingerprint, deleteVectors = spec.deleteVectors,
      eqDeletes = spec.eqDeletes,
      shred = MergeWriter.parseShredProperty(spec.shred, schema))
    catch { case e: Throwable => removePointer(spec); throw e }
    new GraftSqlTable(spark, spec.path, spec.name)
  }

  /** `CREATE TABLE ... CHECK (...) / PRIMARY KEY (...)` — the
    * constraint-carrying DSv2 create (Spark 4.1). CHECKs record in the
    * creating table's manifest (the table is empty — validation is
    * trivial); an inline PRIMARY KEY may DECLARE the merge keys (it is
    * exactly what 'keys' means here), or must match a declared 'keys'
    * property.
    */
  /** The TableInfo → (schema, properties, checks) transformation
    * shared by plain CREATE and the staged CTAS/RTAS variants: an
    * inline PRIMARY KEY declares (or must match) the merge keys;
    * IDENTITY and GENERATED specs arrive on the v2 Columns — NOT in
    * `info.schema()`'s metadata — and are encoded with Spark's own
    * keys so the manifest schema carries them; CHECK constraints are
    * returned for the caller to record (or reject, for staged creates
    * whose data lands before any constraint could validate it).
    */
  private def fromTableInfo(ident: Identifier,
                            info: org.apache.spark.sql.connector.catalog
                              .TableInfo)
      : (StructType, util.HashMap[String, String], Seq[(String, String)]) = {
    val pkCols = info.constraints().toSeq.collect {
      case pk: PrimaryKey =>
        pk.columns().map(_.fieldNames().mkString(".")).toSeq
    }
    require(pkCols.size <= 1,
      s"graft catalog: CREATE TABLE $ident declares multiple PRIMARY KEYs")
    val props = new util.HashMap[String, String](info.properties())
    val declaredKeys = Option(props.get("keys"))
      .orElse(Option(props.get(TableCatalog.OPTION_PREFIX + "keys")))
    pkCols.headOption.foreach { pk =>
      declaredKeys match {
        case Some(ks) =>
          val listed = ks.split(",").map(_.trim).filter(_.nonEmpty).toSeq
          require(pk.sorted == listed.sorted,
            s"graft catalog: PRIMARY KEY ${pk.mkString("(", ",", ")")} " +
              s"must name the declared merge keys ($ks)")
        case None => props.put("keys", pk.mkString(","))
      }
    }
    val checks = info.constraints().toSeq.collect {
      case c: Check => c.name() -> c.predicateSql()
    }
    info.constraints().foreach {
      case _: Check | _: PrimaryKey => ()
      case other => throw new UnsupportedOperationException(
        s"graft catalog: unsupported constraint $other — CHECK and " +
          "PRIMARY KEY only")
    }
    // IDENTITY specs arrive on the v2 Columns, not in info.schema()'s
    // metadata — encode them with Spark's own keys so the manifest
    // schema carries them and every write path's probe
    // (IdentityColumn.getIdentityInfo) sees them
    val idc = org.apache.spark.sql.catalyst.util.IdentityColumn
    val genKey = org.apache.spark.sql.catalyst.util.GeneratedColumn
      .GENERATION_EXPRESSION_METADATA_KEY
    val schemaWithIdentity = StructType(info.schema().fields.map { f =>
      val v2col = info.columns().find(_.name == f.name)
      v2col.flatMap(c => Option(c.identityColumnSpec())) match {
        case Some(spec) =>
          // declared NULLABLE on purpose: NULL is the "assign me"
          // sentinel on every write path (BY DEFAULT semantics), so the
          // write schema must admit it — the storage invariant (no
          // stored NULLs) holds because assignment precedes every write
          f.copy(nullable = true,
            metadata = new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata)
            .putLong(idc.IDENTITY_INFO_START, spec.getStart)
            .putLong(idc.IDENTITY_INFO_STEP, spec.getStep)
            .putBoolean(idc.IDENTITY_INFO_ALLOW_EXPLICIT_INSERT,
              spec.isAllowExplicitInsert)
            .build())
        case None =>
          // GENERATED ALWAYS AS (expr): same nullable-sentinel shape —
          // NULL/omitted inputs are COMPUTED, explicit inputs VALIDATED
          // (MergeWriter.applyGenerated)
          v2col.flatMap(c => Option(c.generationExpression())) match {
            case Some(g) =>
              f.copy(nullable = true,
                metadata = new org.apache.spark.sql.types.MetadataBuilder()
                .withMetadata(f.metadata)
                .putString(genKey, g).build())
            case None => f
          }
      }
    })
    (schemaWithIdentity, props, checks)
  }

  override def createTable(ident: Identifier,
                           info: org.apache.spark.sql.connector.catalog
                             .TableInfo): Table = {
    val (schema2, props, checks) = fromTableInfo(ident, info)
    val created = createTable(ident, schema2, info.partitions(), props)
    val dir = resolvedDir(ident)
    try checks.foreach { case (n, sql) =>
      MergeWriter.addCheckConstraint(spark, dir.toString, n, sql)
    } catch { case e: Throwable => dropTable(ident); throw e }
    if (checks.isEmpty) created else loadTable(ident)
  }

  /** Constraint-carrying CTAS/RTAS: PRIMARY KEY and IDENTITY/GENERATED
    * specs flow through the staged schema; CHECK constraints are
    * REJECTED loudly — the staged data would land before any
    * validation could run (create the table, ADD CONSTRAINT, then
    * INSERT ... SELECT). Without these overrides the default
    * delegation would silently DROP the declared semantics.
    */
  override def stageCreate(ident: Identifier,
                           info: org.apache.spark.sql.connector.catalog
                             .TableInfo): StagedTable = {
    requireNoCtasChecks(ident, info)
    val (schema2, props, _) = fromTableInfo(ident, info)
    stageCreate(ident, schema2, info.partitions(), props)
  }

  override def stageReplace(ident: Identifier,
                            info: org.apache.spark.sql.connector.catalog
                              .TableInfo): StagedTable = {
    requireNoCtasChecks(ident, info)
    val (schema2, props, _) = fromTableInfo(ident, info)
    stageReplace(ident, schema2, info.partitions(), props)
  }

  override def stageCreateOrReplace(ident: Identifier,
                                    info: org.apache.spark.sql.connector
                                      .catalog.TableInfo): StagedTable = {
    requireNoCtasChecks(ident, info)
    val (schema2, props, _) = fromTableInfo(ident, info)
    stageCreateOrReplace(ident, schema2, info.partitions(), props)
  }

  private def requireNoCtasChecks(ident: Identifier,
                                  info: org.apache.spark.sql.connector
                                    .catalog.TableInfo): Unit =
    info.constraints().foreach {
      case c: Check => throw new UnsupportedOperationException(
        s"graft catalog: CTAS/RTAS on $ident cannot declare CHECK " +
          s"constraint '${c.name()}' — the staged rows would commit " +
          "before any validation; CREATE the table, ALTER TABLE ... " +
          "ADD CONSTRAINT, then INSERT ... SELECT")
      case _ => ()
    }

  // ---- atomic CTAS / RTAS (StagingTableCatalog) ----------------------

  /** CREATE TABLE AS SELECT / REPLACE TABLE AS SELECT with ALL-OR-
    * NOTHING visibility: nothing is committed at stage time — the
    * staged write lands the query's rows through `overwriteTable`,
    * whose manifest CAS IS the atomic publish (epoch files first,
    * manifest last — the protocol's normal dance). A failed or aborted
    * statement leaves no table (CREATE) or the prior version (REPLACE);
    * the plain non-staged path would have committed an empty table
    * before the query even ran.
    */
  override def stageCreate(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String])
      : StagedTable = {
    if (isTableEntry(tableDir(ident)))
      throw new TableAlreadyExistsException(ident)
    val spec = parseSpec(ident, partitions, properties)
    writePointer(spec) // aborted CTAS reclaims it (abortStagedChanges)
    new GraftStagedTable(spark, spec, schema, preexisting = false)
  }

  override def stageReplace(ident: Identifier, schema: StructType,
                            partitions: Array[Transform],
                            properties: util.Map[String, String])
      : StagedTable = {
    if (!isTableEntry(tableDir(ident))) throw new NoSuchTableException(ident)
    new GraftStagedTable(spark, parseSpec(ident, partitions, properties),
      schema, preexisting = true)
  }

  override def stageCreateOrReplace(ident: Identifier, schema: StructType,
                                    partitions: Array[Transform],
                                    properties: util.Map[String, String])
      : StagedTable = {
    val preexisting = isTableEntry(tableDir(ident))
    val spec = parseSpec(ident, partitions, properties)
    if (!preexisting) writePointer(spec)
    new GraftStagedTable(spark, spec, schema, preexisting = preexisting)
  }

  /** `ALTER TABLE ... SET TBLPROPERTIES` supports the RETENTION policy
    * (mapped to `MergeWriter.setRetention` — a metadata-only commit);
    * everything else is rejected: additive schema evolution happens
    * through evolving writes, clustering/Bloom retrofits through the
    * maintenance API (`clusterTable`/`buildBloomIndex`).
    */
  override def alterTable(ident: Identifier,
                          changes: TableChange*): Table = {
    val dir = resolvedDir(ident)
    if (!isTable(dir)) throw new NoSuchTableException(ident)
    val adds = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.spark.sql.types.StructField]
    val props = changes.flatMap {
      case sp: TableChange.SetProperty
          if sp.property == "retainVersions" || sp.property == "retainMs" =>
        Seq(sp.property -> sp.value)
      case sp: TableChange.SetProperty if sp.property == "shred" =>
        // point at the retrofit face: shred declarations on an existing
        // table go through the maintenance procedure, not TBLPROPERTIES
        // (the property is a CREATE-time seed only)
        throw new UnsupportedOperationException(
          "graft catalog: 'shred' is a CREATE-time property — declare " +
            "shredded variant paths on an existing table with CALL " +
            s"gc.system.build_shred_index('$ident', '${sp.value}')")
      case ac: TableChange.AddColumn =>
        // ALTER TABLE ADD COLUMNS — metadata-only additive evolution
        // (MergeWriter.addColumns); top-level, appended, nullable. A
        // declared DEFAULT encodes into the field's metadata through
        // Spark's own schema-change machinery (CURRENT_DEFAULT +
        // EXISTS_DEFAULT), so pre-existing rows READ the default while
        // no file is rewritten
        require(ac.fieldNames().length == 1,
          "graft catalog: ADD COLUMNS supports top-level columns only, " +
            s"got ${ac.fieldNames().mkString(".")}")
        require(ac.position() == null,
          "graft catalog: ADD COLUMNS appends — FIRST/AFTER reordering " +
            "is not supported (parquet epochs are immutable)")
        require(ac.isNullable,
          s"graft catalog: added column '${ac.fieldNames()(0)}' must be " +
            "nullable — existing rows null-fill")
        val applied = org.apache.spark.sql.GraftColumnShim
          .applySchemaChanges(new StructType(), Seq(ac))
        adds += applied.fields.head
        Seq.empty
      case ud: TableChange.UpdateColumnDefaultValue =>
        // ALTER TABLE ... ALTER COLUMN ... SET/DROP DEFAULT: affects
        // FUTURE inserts only (CURRENT_DEFAULT); rows already written —
        // and the exists-default of pre-column files — keep reading
        // what they read before (Delta's semantics)
        val man = MergeWriter.pinManifest(spark, dir.toString, None, None)
          .getOrElse(throw new NoSuchTableException(ident))
        val cur = MergeWriter.sqlSchema(spark, dir.toString, man)
        val next = org.apache.spark.sql.GraftColumnShim
          .applySchemaChanges(cur, Seq(ud))
        MergeWriter.replaceSchemaMetadata(spark, dir.toString, next)
        Seq.empty
      case rc: TableChange.RenameColumn =>
        // ALTER TABLE ... RENAME COLUMN — metadata-only via stable
        // field ids (MergeWriter.renameColumn; files keep the old name,
        // readers match by id)
        require(rc.fieldNames().length == 1,
          "graft catalog: RENAME COLUMN supports top-level columns " +
            s"only, got ${rc.fieldNames().mkString(".")}")
        MergeWriter.renameColumn(spark, dir.toString, rc.fieldNames()(0),
          rc.newName())
        Seq.empty
      case ut: TableChange.UpdateColumnType =>
        // ALTER TABLE ... ALTER COLUMN ... TYPE — metadata-only safe
        // widening (MergeWriter.widenColumn; old files' narrow pages
        // read through the wide schema)
        require(ut.fieldNames().length == 1,
          "graft catalog: ALTER COLUMN TYPE supports top-level columns " +
            s"only, got ${ut.fieldNames().mkString(".")}")
        MergeWriter.widenColumn(spark, dir.toString, ut.fieldNames()(0),
          ut.newDataType())
        Seq.empty
      case dc: TableChange.DeleteColumn =>
        // ALTER TABLE ... DROP COLUMN — metadata-only; the freed field
        // id is never reused, so a re-added namesake reads NULL for
        // pre-drop rows instead of resurrecting dropped data
        require(dc.fieldNames().length == 1,
          "graft catalog: DROP COLUMN supports top-level columns only, " +
            s"got ${dc.fieldNames().mkString(".")}")
        MergeWriter.dropColumn(spark, dir.toString, dc.fieldNames()(0))
        Seq.empty
      case ac: TableChange.AddConstraint =>
        // ALTER TABLE ... ADD CONSTRAINT — CHECK persists + enforces
        // (validated against all existing rows first); a PRIMARY KEY
        // naming exactly the recorded merge keys is accepted as the
        // declaration of what the keyed table already guarantees
        ac.constraint() match {
          case c: Check =>
            MergeWriter.addCheckConstraint(spark, dir.toString,
              c.name(), c.predicateSql())
          case pk: PrimaryKey =>
            val declared = pk.columns().map(_.fieldNames().mkString("."))
            val man = MergeWriter.pinManifest(spark, dir.toString,
                None, None)
              .getOrElse(throw new NoSuchTableException(ident))
            require(declared.toSeq.sorted == man.keyCols.sorted,
              s"graft catalog: PRIMARY KEY ${declared.mkString("(", ",", ")")} " +
                s"must name the table's merge keys " +
                s"${man.keyCols.mkString("(", ",", ")")} — the primary " +
                "key IS the keyed-merge identity and cannot differ")
          case other => throw new UnsupportedOperationException(
            s"graft catalog: unsupported constraint $other — CHECK " +
              "constraints enforce; PRIMARY KEY must match the merge " +
              "keys; UNIQUE/FOREIGN KEY are not supported")
        }
        Seq.empty
      case dc: TableChange.DropConstraint =>
        val man = MergeWriter.pinManifest(spark, dir.toString, None, None)
          .getOrElse(throw new NoSuchTableException(ident))
        if (man.checks.contains(dc.name()))
          MergeWriter.dropCheckConstraint(spark, dir.toString, dc.name())
        else if (dc.name().equalsIgnoreCase(GraftCatalog.PkConstraintName))
          throw new UnsupportedOperationException(
            s"graft catalog: '${dc.name()}' declares the table's merge " +
              "keys — it is inherent to the keyed table and cannot drop")
        else require(dc.ifExists(),
          s"graft catalog: no constraint '${dc.name()}' on $ident")
        Seq.empty
      case other => throw new UnsupportedOperationException(
        s"graft catalog: ALTER TABLE supports SET TBLPROPERTIES " +
          s"('retainVersions', 'retainMs'), ADD COLUMNS, RENAME COLUMN, " +
          s"DROP COLUMN and ADD/DROP CONSTRAINT — got $other. " +
          "Clustering/bloom/shred retrofit through the maintenance API " +
          "(CALL gc.system.cluster / build_bloom_index / " +
          "build_shred_index)")
    }.toMap
    if (adds.nonEmpty)
      MergeWriter.addColumns(spark, dir.toString, StructType(adds.toSeq))
    if (props.nonEmpty) {
      val current = MergeWriter.describeRetention(spark, dir.toString)
      MergeWriter.setRetention(spark, dir.toString,
        versions = props.get("retainVersions").map(_.toInt)
          .getOrElse(current._1),
        ms = props.get("retainMs").map(_.toLong).getOrElse(current._2))
    }
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val dir = tableDir(ident)
    readPointer(dir) match {
      case Some(target) =>
        // LOCATION-pinned: reclaim the data at the pointed directory
        // AND the pointer entry (a dangling pointer from a failed CTAS
        // cleans up the same way, reporting no table was dropped)
        val wasTable = isTable(target)
        if (wasTable) { fsOf(target).delete(target, true); () }
        fs.delete(dir, true)
        wasTable
      case None => isTable(dir) && fs.delete(dir, true)
    }
  }

  override def renameTable(oldIdent: Identifier,
                           newIdent: Identifier): Unit = {
    // renames the warehouse ENTRY — for a LOCATION-pinned table the
    // pointer directory moves and the data stays at its declared path
    val from = tableDir(oldIdent)
    if (!isTableEntry(from)) throw new NoSuchTableException(oldIdent)
    val to = tableDir(newIdent)
    if (isTableEntry(to)) throw new TableAlreadyExistsException(newIdent)
    fs.mkdirs(to.getParent)
    if (!fs.rename(from, to))
      throw new IllegalStateException(
        s"graft catalog: rename $from -> $to failed")
  }

  // ---- maintenance procedures: CALL gc.system.<verb>(...) ------------

  /** The maintenance verbs as SQL stored procedures (Iceberg's
    * `CALL catalog.system.rewrite_data_files` shape on Spark's DSv2
    * ProcedureCatalog): compact, cluster (the OPTIMIZE ZORDER
    * retrofit), vacuum, set_retention, truncate_history, expire_txns,
    * split_buckets, build_bloom_index — so the ENTIRE operational
    * surface is reachable from pure SQL, not just the DataFrame API.
    * Each returns one `status` row.
    */
  private def tablePathOf(table: String): String = {
    val parts = table.split('.').toIndexedSeq.filter(_.nonEmpty)
    require(parts.nonEmpty, s"graft procedure: bad table name '$table'")
    val entry = dirOf(parts)
    val dir = readPointer(entry).getOrElse(entry)
    require(isTable(dir),
      s"graft procedure: $catName.${parts.mkString(".")} is not a table")
    dir.toString
  }

  private def csvArg(s: String): Seq[String] =
    s.split(",").map(_.trim).filter(_.nonEmpty).toSeq

  private abstract class Proc(procName: String, desc: String,
      params: Array[procedures.ProcedureParameter])
      extends procedures.UnboundProcedure with procedures.BoundProcedure {
    override def name(): String = procName
    override def description(): String = desc
    override def bind(inputType: StructType): procedures.BoundProcedure =
      this
    override def parameters(): Array[procedures.ProcedureParameter] = params
    override def isDeterministic: Boolean = false
    protected def exec(input: org.apache.spark.sql.catalyst.InternalRow)
        : String
    override def call(input: org.apache.spark.sql.catalyst.InternalRow)
        : util.Iterator[org.apache.spark.sql.connector.read.Scan] = {
      val msg = exec(input)
      val out: org.apache.spark.sql.connector.read.Scan =
        new org.apache.spark.sql.connector.read.LocalScan {
          override def rows()
              : Array[org.apache.spark.sql.catalyst.InternalRow] =
            Array(org.apache.spark.sql.catalyst.InternalRow(
              org.apache.spark.unsafe.types.UTF8String.fromString(msg)))
          override def readSchema(): StructType = StructType(Seq(
            org.apache.spark.sql.types.StructField("status",
              org.apache.spark.sql.types.StringType)))
        }
      util.Collections.singletonList(out).iterator()
    }
  }

  /** A procedure whose result is a bounded TABLE (history, describe):
    * rows come from a driver-side DataFrame collect, so only use for
    * metadata-sized outputs — history is ≤ retained versions, describe
    * is one row. Unbounded results (a change feed) belong on the
    * DataFrame/readStream surface, not in a CALL.
    */
  private abstract class TableProc(procName: String, desc: String,
      params: Array[procedures.ProcedureParameter])
      extends procedures.UnboundProcedure with procedures.BoundProcedure {
    override def name(): String = procName
    override def description(): String = desc
    override def bind(inputType: StructType): procedures.BoundProcedure =
      this
    override def parameters(): Array[procedures.ProcedureParameter] = params
    override def isDeterministic: Boolean = false
    protected def run(input: org.apache.spark.sql.catalyst.InternalRow)
        : DataFrame
    override def call(input: org.apache.spark.sql.catalyst.InternalRow)
        : util.Iterator[org.apache.spark.sql.connector.read.Scan] = {
      val df = run(input)
      val schema = df.schema
      val conv = CatalystTypeConverters.createToCatalystConverter(schema)
      val collected = df.collect().map(r =>
        conv(r).asInstanceOf[org.apache.spark.sql.catalyst.InternalRow])
      val out: org.apache.spark.sql.connector.read.Scan =
        new org.apache.spark.sql.connector.read.LocalScan {
          override def rows()
              : Array[org.apache.spark.sql.catalyst.InternalRow] = collected
          override def readSchema(): StructType = schema
        }
      util.Collections.singletonList(out).iterator()
    }
  }

  private def inParam(n: String, dt: org.apache.spark.sql.types.DataType)
      : procedures.ProcedureParameter =
    procedures.ProcedureParameter.in(n, dt).build()
  private def inParamDefault(n: String,
                             dt: org.apache.spark.sql.types.DataType,
                             default: String)
      : procedures.ProcedureParameter =
    procedures.ProcedureParameter.in(n, dt).defaultValue(default).build()

  private lazy val systemProcedures: Map[String, procedures.UnboundProcedure] = {
    import org.apache.spark.sql.types.{IntegerType, LongType, StringType => SType}
    val all: Seq[Proc] = Seq(
      new Proc("compact", "rewrite live buckets into one epoch " +
          "(size-targeted when target_file_bytes > 0); buckets => " +
          "'3,17' rewrites ONLY those buckets — the merge-on-read " +
          "pressure drain at 100 TB (never a full-table rewrite for a " +
          "few DV'd/overlay buckets)",
        Array(inParam("table", SType),
          inParamDefault("target_file_bytes", LongType, "0"),
          inParamDefault("buckets", SType, "''"))) {
        override protected def exec(in: org.apache.spark.sql.catalyst.InternalRow) = {
          val p = tablePathOf(in.getUTF8String(0).toString)
          val bs = csvArg(in.getUTF8String(2).toString)
          if (bs.isEmpty) {
            MergeWriter.compact(spark, p, in.getLong(1))
            s"compacted $p"
          } else {
            MergeWriter.compactBuckets(spark, p, bs.map(_.toInt).toSet)
            s"compacted buckets ${bs.mkString(",")} of $p"
          }
        }
      },
      new Proc("cluster", "clustering retrofit (OPTIMIZE ZORDER): " +
          "rewrite under a new cluster spec and record full stats",
        Array(inParam("table", SType), inParam("cluster_by", SType),
          inParamDefault("target_file_bytes", LongType, "0"))) {
        override protected def exec(in: org.apache.spark.sql.catalyst.InternalRow) = {
          val p = tablePathOf(in.getUTF8String(0).toString)
          val cols = csvArg(in.getUTF8String(1).toString)
          MergeWriter.clusterTable(spark, p, cols, in.getLong(2))
          s"clustered $p by ${cols.mkString(",")}"
        }
      },
      new Proc("vacuum", "reclaim unreferenced epochs older than " +
          "retention_ms and stale staging artifacts",
        Array(inParam("table", SType),
          inParamDefault("retention_ms", LongType,
            MergeWriter.OrphanRetentionMs.toString))) {
        override protected def exec(in: org.apache.spark.sql.catalyst.InternalRow) = {
          val p = tablePathOf(in.getUTF8String(0).toString)
          MergeWriter.vacuum(spark, p, in.getLong(1))
          s"vacuumed $p"
        }
      },
      new Proc("set_retention", "per-table retention policy: keep " +
          "max(versions, 2) versions plus any younger than ms",
        Array(inParam("table", SType),
          inParamDefault("versions", IntegerType,
            MergeWriter.KeepManifests.toString),
          inParamDefault("ms", LongType, "0"))) {
        override protected def exec(in: org.apache.spark.sql.catalyst.InternalRow) = {
          val p = tablePathOf(in.getUTF8String(0).toString)
          MergeWriter.setRetention(spark, p, in.getInt(1), in.getLong(2))
          s"retention set on $p"
        }
      },
      new Proc("create_tag", "pin a retained version under a name " +
          "(Iceberg tags): 'VERSION AS OF <tag>' resolves it and gc " +
          "keeps it until the tag drops; version => 0 tags the current",
        Array(inParam("table", SType), inParam("tag", SType),
          inParamDefault("version", LongType, "0"))) {
        override protected def exec(in: org.apache.spark.sql.catalyst.InternalRow) = {
          val p = tablePathOf(in.getUTF8String(0).toString)
          val tag = in.getUTF8String(1).toString
          val v = in.getLong(2)
          MergeWriter.createTag(spark, p, tag,
            if (v <= 0) None else Some(v))
          s"tagged $p as '$tag'"
        }
      },
      new Proc("drop_tag", "drop a version tag; the pinned version " +
          "becomes reclaimable by ordinary retention",
        Array(inParam("table", SType), inParam("tag", SType))) {
        override protected def exec(in: org.apache.spark.sql.catalyst.InternalRow) = {
          val p = tablePathOf(in.getUTF8String(0).toString)
          val tag = in.getUTF8String(1).toString
          MergeWriter.dropTag(spark, p, tag)
          s"dropped tag '$tag' on $p"
        }
      },
      new Proc("create_branch", "fork a staging branch at the current " +
          "version (write-audit-publish): INSERT INTO t.branch_<name> " +
          "stages, SELECT audits, fast_forward publishes",
        Array(inParam("table", SType), inParam("branch", SType))) {
        override protected def exec(in: org.apache.spark.sql.catalyst.InternalRow) = {
          val p = tablePathOf(in.getUTF8String(0).toString)
          val b = in.getUTF8String(1).toString
          MergeWriter.createBranch(spark, p, b)
          s"created branch '$b' on $p"
        }
      },
      new Proc("fast_forward", "publish a staging branch's head as the " +
          "next main version; conflicts loudly if main advanced since " +
          "the fork",
        Array(inParam("table", SType), inParam("branch", SType))) {
        override protected def exec(in: org.apache.spark.sql.catalyst.InternalRow) = {
          val p = tablePathOf(in.getUTF8String(0).toString)
          val b = in.getUTF8String(1).toString
          MergeWriter.fastForward(spark, p, b)
          s"fast-forwarded main of $p to branch '$b'"
        }
      },
      new Proc("drop_branch", "abandon a staging branch; its staged " +
          "epochs become reclaimable — main never saw them",
        Array(inParam("table", SType), inParam("branch", SType))) {
        override protected def exec(in: org.apache.spark.sql.catalyst.InternalRow) = {
          val p = tablePathOf(in.getUTF8String(0).toString)
          val b = in.getUTF8String(1).toString
          MergeWriter.dropBranch(spark, p, b)
          s"dropped branch '$b' on $p"
        }
      },
      new Proc("analyze", "ANALYZE TABLE: one pass recording per-column " +
          "NDV / null count / lengths / min-max in the manifest, served " +
          "to the cost-based optimizer via the scan's columnStats",
        Array(inParam("table", SType),
          inParamDefault("columns", SType, "''"))) {
        override protected def exec(in: org.apache.spark.sql.catalyst.InternalRow) = {
          val p = tablePathOf(in.getUTF8String(0).toString)
          val cols = csvArg(in.getUTF8String(1).toString)
          val stats = MergeWriter.analyzeTable(spark, p, cols)
          s"analyzed $p: " + stats.toSeq.sortBy(_._1)
            .map { case (c, s) => s"$c(ndv=${s.ndv})" }.mkString(", ")
        }
      },
      new Proc("restore", "re-point the table at a retained version's " +
          "state (Delta RESTORE / Iceberg rollback): metadata-only, " +
          "history rolls forward",
        Array(inParam("table", SType), inParam("version", LongType))) {
        override protected def exec(in: org.apache.spark.sql.catalyst.InternalRow) = {
          val p = tablePathOf(in.getUTF8String(0).toString)
          val v = in.getLong(1)
          MergeWriter.restoreVersion(spark, p, v)
          s"restored $p to version $v"
        }
      },
      new Proc("truncate_history", "collapse readable history to the " +
          "current state (right-to-be-forgotten completion)",
        Array(inParam("table", SType))) {
        override protected def exec(in: org.apache.spark.sql.catalyst.InternalRow) = {
          val p = tablePathOf(in.getUTF8String(0).toString)
          MergeWriter.truncateHistory(spark, p)
          s"history truncated on $p"
        }
      },
      new Proc("expire_txns", "drop retired writer app ids from the " +
          "txn ledger (their future replays would re-apply)",
        Array(inParam("table", SType), inParam("apps", SType))) {
        override protected def exec(in: org.apache.spark.sql.catalyst.InternalRow) = {
          val p = tablePathOf(in.getUTF8String(0).toString)
          MergeWriter.expireTxns(spark, p,
            csvArg(in.getUTF8String(1).toString))
          s"txns expired on $p"
        }
      },
      new Proc("split_buckets", "double the bucket count in place " +
          "(local file split, no shuffle)",
        Array(inParam("table", SType))) {
        override protected def exec(in: org.apache.spark.sql.catalyst.InternalRow) = {
          val p = tablePathOf(in.getUTF8String(0).toString)
          val keys = MergeWriter.pinManifest(spark, p, None, None)
            .map(_.keyCols).filter(_.nonEmpty).getOrElse(
              throw new IllegalArgumentException(
                s"split_buckets: $p records no merge keys"))
          MergeWriter.splitBuckets(spark, p, keys)
          s"buckets split on $p"
        }
      },
      new Proc("create_mv", "declarative MATERIALIZED VIEW: record a " +
          "GROUP BY defining query (COUNT(*) required; COUNT(col)/" +
          "SUM(col)/MIN(col)/MAX(col); optional WHERE; optional INNER " +
          "joins to a star of dim tables passed via dim => 'd1[,d2...]' " +
          "in join order) and materialize it as a keyed graft table; " +
          "refresh_mv maintains it off the change feeds — cost ∝ " +
          "changed rows, never the source corpus",
        Array(inParam("view", SType), inParam("source", SType),
          inParam("query", SType),
          inParamDefault("buckets", IntegerType, "16"),
          inParamDefault("dim", SType, "''"))) {
        override protected def exec(in: org.apache.spark.sql.catalyst.InternalRow) = {
          val view = in.getUTF8String(0).toString
          val source = in.getUTF8String(1).toString
          val dims = Option(in.getUTF8String(4)).map(_.toString)
            .filter(_.nonEmpty)
            .map(_.split(',').toSeq.map(_.trim).filter(_.nonEmpty))
            .getOrElse(Seq.empty)
          val viewDir = dirOf(view.split('.').toIndexedSeq
            .filter(_.nonEmpty)).toString
          MaterializedViews.create(spark, viewDir, tablePathOf(source),
            source, in.getUTF8String(2).toString, in.getInt(3),
            dims.map(dn => (tablePathOf(dn), dn)))
          s"created materialized view $view over $source"
        }
      },
      new Proc("refresh_mv", "advance a materialized view to its " +
          "source's current version off the change feed (exactly-once; " +
          "falls back to one full re-evaluation only when retention " +
          "dropped the window)",
        Array(inParam("view", SType))) {
        override protected def exec(in: org.apache.spark.sql.catalyst.InternalRow) = {
          val view = in.getUTF8String(0).toString
          val p = tablePathOf(view)
          MaterializedViews.refresh(spark, p) match {
            case None => s"$view is fresh"
            case Some((-1L, to)) =>
              s"$view fully re-evaluated at source version $to " +
                "(refresh window aged out of retention)"
            case Some((from, to)) =>
              s"$view refreshed from source version $from to $to"
          }
        }
      },
      new Proc("build_bloom_index", "declare per-file Bloom columns and " +
          "backfill sidecars for every live epoch",
        Array(inParam("table", SType), inParam("columns", SType),
          inParamDefault("items", LongType,
            MergeWriter.DefaultBloomItems.toString))) {
        override protected def exec(in: org.apache.spark.sql.catalyst.InternalRow) = {
          val p = tablePathOf(in.getUTF8String(0).toString)
          MergeWriter.buildBloomIndex(spark, p,
            csvArg(in.getUTF8String(1).toString), in.getLong(2))
          s"bloom index built on $p"
        }
      },
      new Proc("enable_mv_rewrite", "register a materialized view for " +
          "transparent exact-match query rewrite: a matching aggregate " +
          "over the MV's source (including its recorded star of dim " +
          "joins) reads the view instead — only when the view is " +
          "refreshed through the query's pinned source version and " +
          "every dim sits at its anchored version. Registration is " +
          "durable (a registry under the source table), so new " +
          "sessions running with spark.sql.extensions=" +
          "graft.sources.GraftSessionExtensions rewrite without " +
          "re-enabling; this call also attaches the rule to the live " +
          "session",
        Array(inParam("view", SType))) {
        override protected def exec(in: org.apache.spark.sql.catalyst.InternalRow) = {
          val view = in.getUTF8String(0).toString
          MvRewrite.enable(spark, tablePathOf(view))
          s"mv rewrite enabled for $view"
        }
      },
      new Proc("disable_mv_rewrite", "unregister a materialized view " +
          "from transparent query rewrite",
        Array(inParam("view", SType))) {
        override protected def exec(in: org.apache.spark.sql.catalyst.InternalRow) = {
          val view = in.getUTF8String(0).toString
          MvRewrite.disable(spark, tablePathOf(view))
          s"mv rewrite disabled for $view"
        }
      },
      new Proc("build_shred_index", "declare shredded variant paths " +
          "('[col.]$.path:type,...') on an existing table; future " +
          "epochs materialize + prune, rewrite => true compacts once " +
          "to materialize everywhere",
        Array(inParam("table", SType), inParam("shred", SType),
          inParamDefault("rewrite",
            org.apache.spark.sql.types.BooleanType, "false"))) {
        override protected def exec(in: org.apache.spark.sql.catalyst.InternalRow) = {
          val p = tablePathOf(in.getUTF8String(0).toString)
          MergeWriter.buildShredIndex(spark, p,
            csvArg(in.getUTF8String(1).toString), in.getBoolean(2))
          s"shred index declared on $p"
        }
      })
    val tableProcs: Seq[TableProc] = Seq(
      new TableProc("history", "commit history of the retained versions " +
          "(Delta DESCRIBE HISTORY): version, operation, timestamp",
        Array(inParam("table", SType))) {
        override protected def run(in: org.apache.spark.sql.catalyst.InternalRow) =
          MergeWriter.tableHistory(spark,
            tablePathOf(in.getUTF8String(0).toString))
      },
      new TableProc("describe", "physical state: version, buckets, live " +
          "epochs, schema, retained versions, files/bytes, clustering, keys",
        Array(inParam("table", SType))) {
        override protected def run(in: org.apache.spark.sql.catalyst.InternalRow) =
          MergeWriter.describeTable(spark,
            tablePathOf(in.getUTF8String(0).toString))
      },
      new TableProc("mv_status", "materialized-view freshness: source, " +
          "refreshed-through source version, source head, fresh flag",
        Array(inParam("view", SType))) {
        override protected def run(in: org.apache.spark.sql.catalyst.InternalRow) = {
          val (src, through, head) = MaterializedViews.status(spark,
            tablePathOf(in.getUTF8String(0).toString))
          import org.apache.spark.sql.types._
          spark.createDataFrame(
            java.util.Collections.singletonList(
              org.apache.spark.sql.Row(src, through, head, through >= head)),
            StructType(Seq(StructField("source", StringType),
              StructField("refreshed_version", LongType),
              StructField("source_version", LongType),
              StructField("fresh", BooleanType))))
        }
      })
    (all.map(p => p.name() -> (p: procedures.UnboundProcedure)) ++
      tableProcs.map(p => p.name() -> (p: procedures.UnboundProcedure))).toMap
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.sameElements(Array("system")))
      systemProcedures.keys.toArray.sorted
        .map(Identifier.of(Array("system"), _))
    else Array.empty

  override def loadProcedure(ident: Identifier)
      : procedures.UnboundProcedure = {
    val ok = ident.namespace().isEmpty ||
      ident.namespace().sameElements(Array("system"))
    if (!ok) throw new IllegalArgumentException(
      s"graft catalog: procedures live in the 'system' namespace, got " +
        ident.namespace().mkString("."))
    systemProcedures.getOrElse(ident.name(),
      throw new IllegalArgumentException(
        s"graft catalog: unknown procedure '${ident.name()}' " +
          s"(have: ${systemProcedures.keys.toSeq.sorted.mkString(", ")})"))
  }

  // ---- scalar functions: SELECT gc.system.<fn>(...) ------------------

  /** The engine's custom Catalyst kernels as DSv2 catalog FUNCTIONS, so
    * pure-SQL consumers reach them without a DataFrame import:
    * `gc.system.zorder2_hi/lo` (the Morton halves behind `clusterBy =
    * 'zorder2:a,b'` — lets SQL inspect/sort by the same Z-value the
    * files are clustered on), `gc.system.fingerprint64(text, mod)` (the
    * rolling codepoint hash behind document fingerprinting, ref
    * `ab_query.ts`'s slug-normalized hashing family), and
    * `gc.system.cosine_sim(a, b)`. Each carries the MAGIC `invoke`
    * method, so Spark plans a codegen'd static-style call, not an
    * interpreted row eval.
    */
  private lazy val systemFunctions: Map[String, v2fn.UnboundFunction] =
    GraftFns.all

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    if (namespace.sameElements(Array("system")))
      systemFunctions.keys.toArray.sorted
        .map(Identifier.of(Array("system"), _))
    else if (namespace.isEmpty || namespaceExists(namespace)) Array.empty
    else throw new NoSuchNamespaceException(namespace)

  override def loadFunction(ident: Identifier): v2fn.UnboundFunction = {
    val ok = ident.namespace().isEmpty ||
      ident.namespace().sameElements(Array("system"))
    if (!ok) throw new NoSuchFunctionException(ident)
    systemFunctions.getOrElse(ident.name(),
      throw new NoSuchFunctionException(ident))
  }

  /** The staged side of CTAS/RTAS: holds the declared spec, writes once
    * through `overwriteTable` (atomic at its manifest CAS), applies
    * retention after, and cleans up on abort. Never visible before the
    * write's own commit.
    */
  private class GraftStagedTable(spark: SparkSession, spec: TableSpec,
                                 schema0: StructType, preexisting: Boolean)
      extends StagedTable with SupportsWrite {

    @volatile private var written = false

    override def name(): String = spec.name
    override def schema(): StructType = schema0
    override def capabilities(): util.Set[TableCapability] =
      util.EnumSet.of(TableCapability.V1_BATCH_WRITE,
        TableCapability.TRUNCATE)

    override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
      new WriteBuilder with SupportsTruncate {
        override def truncate(): WriteBuilder = this
        override def build(): Write = new V1Write {
          override def toInsertableRelation: InsertableRelation =
            new InsertableRelation {
              override def insert(data: DataFrame,
                                  overwrite: Boolean): Unit = {
                GraftCatalog.guardUniqueKeys(data, spec.keys,
                  "AS SELECT") { rows =>
                  // REPLACE redefines the physical layout too: the
                  // statement's declared buckets/clusterBy/Blooms take
                  // effect (relayout), not the prior table's
                  MergeWriter.overwriteTable(spark, spec.path, rows,
                    spec.keys, buckets = spec.buckets,
                    clusterBy = spec.clusterBy, bloomBy = spec.bloomBy,
                    bloomItems = spec.bloomItems, relayout = preexisting,
                    fingerprint = spec.fingerprint,
                    deleteVectors = spec.deleteVectors,
                    eqDeletes = spec.eqDeletes,
                    expectFresh = !preexisting,
                    shred = MergeWriter.parseShredProperty(spec.shred,
                      rows.schema))
                }
                written = true
              }
            }
        }
      }

    override def commitStagedChanges(): Unit =
      // the overwrite's manifest CAS already published atomically; only
      // the declared retention policy (if any) remains to record
      if (written && (spec.retainVersions != MergeWriter.KeepManifests ||
          spec.retainMs != 0L))
        MergeWriter.setRetention(spark, spec.path,
          versions = spec.retainVersions, ms = spec.retainMs)

    override def abortStagedChanges(): Unit = {
      val p = new Path(spec.path)
      // resolve the FS from the TABLE's path, not the warehouse — a
      // LOCATION-pinned CTAS may live on a different scheme
      val pfs = p.getFileSystem(spark.sessionState.newHadoopConf())
      // fresh CREATE whose write never committed: reclaim only the
      // crashed write's OWN artifacts (e-* epoch dirs), never the whole
      // directory — a LOCATION-pinned CTAS may point at a pre-existing
      // non-table dir whose other contents are not ours to delete. A
      // failed REPLACE leaves the prior committed version untouched
      // (its stale staging epochs age out through gc).
      if (!written && !preexisting && !MergeWriter.hasManifest(pfs, p) &&
          pfs.exists(p)) {
        pfs.listStatus(p).foreach { st =>
          if (st.isDirectory && st.getPath.getName.startsWith("e-"))
            pfs.delete(st.getPath, true)
        }
        if (pfs.listStatus(p).isEmpty) pfs.delete(p, false)
        ()
      }
      // a fresh LOCATION-pinned CTAS wrote its pointer at stage time —
      // nothing committed, so reclaim it (the pointer is this
      // statement's own exclusive write; see removePointer)
      if (!written && !preexisting) removePointer(spec)
    }
  }

  // ---- namespaces: directories without a manifest --------------------

  override def listNamespaces(): Array[Array[String]] =
    if (!fs.exists(warehouse)) Array.empty
    else fs.listStatus(warehouse).filter(_.isDirectory).map(_.getPath)
      .filterNot(isTableEntry).map(p => Array(p.getName))

  override def listNamespaces(namespace: Array[String])
      : Array[Array[String]] = {
    val d = dirOf(namespace.toIndexedSeq)
    if (!fs.exists(d))
      throw new NoSuchNamespaceException(catName +: namespace.toSeq)
    fs.listStatus(d).filter(_.isDirectory).map(_.getPath)
      .filterNot(isTableEntry).map(p => namespace :+ p.getName)
  }

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty || {
      val d = dirOf(namespace.toIndexedSeq)
      fs.exists(d) && !isTableEntry(d)
    }

  override def loadNamespaceMetadata(namespace: Array[String])
      : util.Map[String, String] = {
    if (!namespaceExists(namespace))
      throw new NoSuchNamespaceException(catName +: namespace.toSeq)
    util.Collections.emptyMap()
  }

  override def createNamespace(namespace: Array[String],
                               metadata: util.Map[String, String]): Unit = {
    fs.mkdirs(dirOf(namespace.toIndexedSeq))
    ()
  }

  override def alterNamespace(namespace: Array[String],
                              changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "graft catalog: namespaces carry no mutable metadata")

  override def dropNamespace(namespace: Array[String],
                             cascade: Boolean): Boolean = {
    val d = dirOf(namespace.toIndexedSeq)
    if (!namespaceExists(namespace)) false
    else if (!cascade && fs.listStatus(d).nonEmpty)
      throw new IllegalStateException(
        s"graft catalog: namespace ${namespace.mkString(".")} is not " +
          "empty (use CASCADE)")
    else fs.delete(d, true)
  }
}

/** A catalog-registered graft table: DSv2 `Table` whose reads plan
  * through Spark's native parquet scan ([[ParquetScanBuilder]]) over a
  * manifest-driven [[PartitioningAwareFileIndex]] — so `SELECT` gets
  * vectorized reading, whole-stage codegen, parquet row-group pushdown
  * AND manifest file skipping — whose writes fall back to the V1
  * [[InsertableRelation]] (`INSERT INTO` = keyed merge upsert,
  * `INSERT OVERWRITE` = atomic replace), and whose `DELETE FROM` maps
  * to [[MergeWriter.delete]] via [[SupportsDeleteV2]]. The manifest is
  * pinned ONCE per loadTable — every query sees one consistent version
  * (snapshot isolation), exactly like the path-based reads.
  */
class GraftSqlTable(spark: SparkSession, tablePath: String,
                    tableName: String,
                    versionAsOf: Option[Long] = None,
                    timestampAsOf: Option[Long] = None,
                    branch: Option[String] = None)
    extends Table with SupportsRead with SupportsWrite
    with SupportsDeleteV2 with SupportsRowLevelOperations {

  private def pinned: Boolean =
    versionAsOf.isDefined || timestampAsOf.isDefined

  /** The table directory and pinned state, for [[MvRewriteRule]]'s
    * relation matching: a time-travel/branch read must never rewrite
    * to a materialized view (the MV tracks main's head, not the pin).
    */
  private[sources] def path: String = tablePath
  private[sources] def pinnedRead: Boolean = pinned || branch.isDefined
  private[sources] def pinnedVersion: Long = man.version

  private lazy val man: MergeWriter.Manifest =
    MergeWriter.pinManifest(spark, tablePath, versionAsOf, timestampAsOf,
      branch)
      .getOrElse(throw new IllegalStateException(
        s"graft catalog: $tablePath lost its manifest after loadTable"))

  override def name(): String = tableName

  /** Merge keys surface as NOT NULL: they are the table's primary key —
    * the write side enforces it (`bucketExprChecked`), and Spark's
    * row-level DML requires non-nullable row-id attributes. Writes from
    * nullable sources still work — ANSI store assignment wraps them in
    * runtime null checks instead of rejecting the plan.
    */
  override def schema(): StructType =
    MergeWriter.sqlSchema(spark, tablePath, man)

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.OVERWRITE_BY_FILTER,
      // streaming by table NAME: readStream.table tails the keyed
      // table's new row images (GraftMicroBatchStream — deletes surface
      // on the `.changes` metadata table), writeStream.toTable lands
      // each epoch as one exactly-once keyed merge (GraftStreamingWrite)
      TableCapability.MICRO_BATCH_READ, TableCapability.STREAMING_WRITE,
      // `MERGE WITH SCHEMA EVOLUTION`: Spark routes source-only columns
      // through alterTable(AddColumn) — the same metadata-only additive
      // evolution as ALTER TABLE ADD COLUMNS / merge(evolveSchema)
      TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)

  override def properties(): util.Map[String, String] =
    Map("provider" -> "graft", "location" -> tablePath,
      "keys" -> man.keyCols.mkString(","),
      "buckets" -> man.buckets.toString,
      "clusterBy" -> man.clusterCols.mkString(","),
      "bloomBy" -> man.bloomCols.mkString(","),
      "deleteVectors" -> man.deleteVectors.toString,
      "eqDeletes" -> man.eqDeletes.toString,
      "shred" -> man.shredCols
        .map(s => s"${s.column}.${s.path}:${s.typeDdl}").mkString(","),
      "version" -> man.version.toString).asJava

  /** The table's ANSI constraints in DSv2 form: every recorded CHECK
    * (enforced + validated — [[MergeWriter.addCheckConstraint]] proved
    * all rows at add time and every write since went through the
    * guard), plus the synthesized PRIMARY KEY naming the merge keys
    * (the keyed-merge identity; `rely` only with the manifest's
    * NOT-NULL evidence flag, so the optimizer never trusts an unproven
    * key). Spark's own write-side enforcement (ResolveTableConstraints)
    * picks the CHECKs up from here; the storage layer re-proves them on
    * every path regardless.
    */
  override def constraints(): Array[Constraint] = {
    val checks = man.checks.toSeq.sortBy(_._1).map { case (n, sql) =>
      Constraint.check(n).predicateSql(sql)
        .enforced(true)
        .validationStatus(Constraint.ValidationStatus.VALID)
        .rely(true).build(): Constraint
    }
    val pk =
      if (man.keyCols.isEmpty) Seq.empty
      else Seq(Constraint.primaryKey(GraftCatalog.PkConstraintName,
          man.keyCols.map(k =>
            org.apache.spark.sql.connector.expressions.Expressions
              .column(k)).toArray)
        .enforced(false)
        .validationStatus(
          if (man.keysChecked) Constraint.ValidationStatus.VALID
          else Constraint.ValidationStatus.UNVALIDATED)
        .rely(man.keysChecked).build(): Constraint)
    (checks ++ pk).toArray
  }

  /** Batch reads keep the native parquet DSv2 path (vectorized +
    * manifest skipping); the SAME builder's scan also answers
    * `toMicroBatchStream` for `readStream.table` (the engine calls one
    * `newScanBuilder` for both), where a pinned time-travel table
    * refuses to stream (history is one immutable version — there is
    * nothing to tail).
    */
  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder =
    // one native scan for every version, DV'd or clean: a version with
    // live deletion vectors keeps the DSv2 parquet scan (file pruning,
    // SPJ, runtime filtering, exact stats) and filters each DV'd file's
    // dead row indexes inside the reader (GraftDvSkipReaderFactory) —
    // Delta's per-file position-skip shape, not a V1 bridge
    new GraftTableScanBuilder(spark, tablePath, man, schema(), options,
      streamable = !pinned && branch.isEmpty)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(!pinned,
      s"graft catalog: $tableName is a time-travel pin — history is " +
        "immutable, write to the current table")
    new GraftCatalogWriteBuilder(spark, tablePath, info, branch)
  }

  /** DELETE pushes down when every predicate converts to a Column the
    * engine can evaluate over the table scan (the usual comparison /
    * IN / null / boolean-connective shapes). The delete itself is the
    * storage layer's keyed delete: resolve matching keys (a pruned
    * read), then rewrite only the buckets holding them.
    */
  override def canDeleteWhere(predicates: Array[V2Predicate]): Boolean =
    predicates.forall(p => GraftCatalog.v2ToColumn(p).isDefined)

  override def deleteWhere(predicates: Array[V2Predicate]): Unit = {
    require(!pinned,
      s"graft catalog: $tableName is a time-travel pin — history is " +
        "immutable, delete from the current table")
    require(man.keyCols.nonEmpty,
      s"graft catalog: DELETE needs recorded merge keys on $tablePath")
    val cond = predicates.toSeq.flatMap(p => GraftCatalog.v2ToColumn(p))
      .reduceOption(_ && _).getOrElse(lit(true))
    // resolve doomed keys against the SAME pinned manifest the statement
    // analyzed (main head or branch head), and let the delete
    // re-validate its touched buckets against it — a commit racing the
    // key-resolution read conflicts loudly instead of being
    // part-overwritten
    val doomed = MergeWriter.readPinnedWhere(spark, tablePath, man,
        Seq.empty)
      .where(cond).select(man.keyCols.map(col): _*).distinct()
    MergeWriter.delete(spark, tablePath, doomed, man.keyCols,
      expectedVersion = Some(man.version), ref = branch)
  }

  /** SQL MERGE INTO / UPDATE / general-predicate DELETE, via the
    * delta-based DSv2 rewrite ([[GraftRowLevelOperation]]). Translatable
    * DELETEs still take the metadata path above (Spark's
    * OptimizeMetadataOnlyDeleteFromTable restores it when every
    * predicate pushes); this is the row-level fallback plus the whole
    * of UPDATE and MERGE.
    */
  override def newRowLevelOperationBuilder(info: RowLevelOperationInfo)
      : RowLevelOperationBuilder = {
    require(!pinned,
      s"graft catalog: $tableName is a time-travel pin — history is " +
        "immutable, write to the current table")
    require(man.keyCols.nonEmpty,
      s"graft catalog: ${info.command} needs recorded merge keys on " +
        tablePath)
    () => new GraftRowLevelOperation(spark, tablePath, man, info.command,
      branch)
  }
}

/** INSERT INTO = keyed merge upsert; INSERT OVERWRITE (truncate) =
  * atomic full replace. Keys come from the manifest — recorded at
  * CREATE TABLE, so SQL writers never restate them. The SAME builder
  * answers the STREAMING write (`writeStream.toTable`): Append/Update
  * epochs land as keyed merges, Complete (truncate) as atomic
  * replaces, all through the exactly-once txn guard
  * ([[GraftStreamingWrite]]); Update rides the Append contract
  * (SupportsStreamingUpdateAsAppend) because the keyed merge IS an
  * upsert-by-key — precisely what Update mode means here.
  */
private[sources] class GraftCatalogWriteBuilder(spark: SparkSession,
                                                tablePath: String,
                                                info: LogicalWriteInfo,
                                                branch: Option[String] = None)
    extends WriteBuilder with SupportsTruncate
    with org.apache.spark.sql.internal.connector.SupportsStreamingUpdateAsAppend {
  private var replace = false

  override def truncate(): WriteBuilder = { replace = true; this }

  override def build(): Write = new V1Write {
    override def toInsertableRelation: InsertableRelation =
      new InsertableRelation {
        override def insert(data: DataFrame, overwrite: Boolean): Unit = {
          val man = MergeWriter.pinManifest(spark, tablePath, None, None)
          val keys = man.map(_.keyCols).filter(_.nonEmpty).getOrElse(
              throw new IllegalStateException(
                s"graft catalog: $tablePath records no merge keys"))
          // IDENTITY merge keys: rows whose key is the NULL "assign me"
          // sentinel each receive a fresh UNIQUE value downstream, so
          // the statement-level duplicate-key check must not treat the
          // sentinels as one colliding key
          val idKeys = man.flatMap(_.schema)
            .map(sch => MergeWriter.identitySpecs(
              org.apache.spark.sql.types.DataType.fromJson(sch)
                .asInstanceOf[StructType]).keySet.intersect(keys.toSet))
            .getOrElse(Set.empty)
          val uniqueCheckRows: Option[Column] =
            if (idKeys.isEmpty) None
            else Some(idKeys.map(col(_).isNotNull).reduce(_ && _))
          // guard + write through one combinator: deterministic sources
          // recompute key-narrow, non-deterministic ones are staged once
          // so the guarded rows ARE the written rows
          require(branch.isEmpty || !(replace || overwrite),
            "graft catalog: INSERT OVERWRITE cannot target a staging " +
              "branch — stage upserts, publish, then overwrite main")
          if (uniqueCheckRows.isEmpty && !(replace || overwrite))
            // common path: the duplicate-key guard runs over merge's
            // staged batch (no separate source scan — and the guarded
            // rows ARE the written rows, deterministic or not)
            MergeWriter.merge(spark, tablePath, data, keys, ref = branch,
              assertUnique = Some("INSERT"))
          else GraftCatalog.guardUniqueKeys(data, keys, "INSERT",
            uniqueCheckRows) { rows =>
            if (replace || overwrite)
              MergeWriter.overwriteTable(spark, tablePath, rows, keys)
            else MergeWriter.merge(spark, tablePath, rows, keys,
              ref = branch)
          }
        }
      }

    override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
      // appId precedence mirrors the V1 sink: explicit txnAppId > the
      // STREAMING QUERY's stable id (persisted in its checkpoint, so
      // restart replays dedupe with zero I/O); queryId is per-query, so
      // two queries writing one table never share a ledger entry
      require(branch.isEmpty,
        "graft catalog: streaming writes cannot target a staging branch")
      val appId = Option(info.options.get("txnAppId"))
        .getOrElse("graft-stream-" + info.queryId())
      new GraftStreamingWrite(spark, tablePath, info.schema(), appId,
        complete = replace, info.queryId())
    }
  }
}

/** The catalog table's ONE scan builder, serving both engines: batch
  * pushdown/pruning stays the inherited [[ParquetScanBuilder]] (this IS
  * it — filters, column pruning, aggregate pushdown all apply), while
  * the built scan also answers `toMicroBatchStream` for
  * `readStream.table` by wrapping the parquet scan in a
  * [[GraftDualScan]]. Streaming scans skip Spark's pushdown phase, so
  * the stream's schema is the full table schema — exactly the output
  * attributes the streaming relation resolved.
  */
private[sources] class GraftTableScanBuilder(
    spark: SparkSession, tablePath: String, man: MergeWriter.Manifest,
    schema: StructType, options: CaseInsensitiveStringMap,
    streamable: Boolean)
    extends ParquetScanBuilder(spark,
      new GraftPartitioningIndex(spark, tablePath, man, schema),
      schema, schema, options) {

  /** Footer-metadata aggregate pushdown (COUNT/MIN/MAX from parquet
    * statistics) counts DEAD rows on a DV'd version — refuse it while
    * vectors are live; the scan's reader-side skip then feeds the
    * ordinary aggregate exactly.
    */
  override def pushAggregation(
      aggregation: org.apache.spark.sql.connector.expressions.aggregate
        .Aggregation): Boolean =
    !MergeWriter.hasLiveDvs(man) && !MergeWriter.hasLiveEqds(man) &&
      super.pushAggregation(aggregation)

  /** REFUSE the DSv2 variant-extraction pushdown: Spark 4.1.2's
    * rewrite is broken for a relation with TWO OR MORE variant columns
    * of which only some are extracted — the unreferenced column gets a
    * trivial `$` extraction pushed and the rebuilt relation's
    * attribute remap leaves the Filter referencing stale exprIds
    * (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND at bind time; reproducible on
    * stock DSv2 parquet with `spark.sql.sources.useV1SourceList=""`).
    * Declining keeps the documented boundary — extraction evaluates
    * above the scan (PROTOCOL §VARIANT) — and keeps predicates in the
    * raw `variant_get` shape the shredded-path file skipping rewrites.
    */
  override def pushVariantExtractions(
      extractions: Array[org.apache.spark.sql.connector.read
        .VariantExtraction]): Array[Boolean] =
    Array.fill(extractions.length)(false)

  override def build()
      : org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan = {
    val p = super.build()
    new GraftStreamableParquetScan(p, tablePath, man, checkpointLocation => {
      require(streamable,
        s"graft catalog: $tablePath is a time-travel pin — one " +
          "immutable version has no change stream to tail")
      require(man.keyCols.nonEmpty,
        s"graft streaming: $tablePath records no merge keys")
      val compareCols = p.readSchema().fieldNames.toSeq
        .filterNot(man.keyCols.contains)
      new GraftMicroBatchStream(spark, tablePath, man.keyCols,
        compareCols, p.readSchema(), changes = false,
        checkpointLocation,
        Option(options.get("maxVersionsPerTrigger")).map(_.toLong))
    })
  }
}

/** IS the parquet batch scan (every batch behavior — statistics for
  * join planning, vectorized Batch, metrics — is inherited verbatim),
  * plus two grafts: `toMicroBatchStream` for `readStream.table`, and —
  * for an id-stamped table — the read schemas handed to the PHYSICAL
  * reader get the table's `parquet.field.id` metadata restamped, so
  * files written under since-renamed column names still match by id
  * while the TABLE's resolution surface (and thus every user-visible
  * output attribute) stays id-free. Filter pushdown follows the ids
  * too (the parquet filter translation maps names through them), so
  * row-group pruning on a renamed column prunes instead of dropping
  * rows.
  */
private[sources] class GraftStreamableParquetScan(
    p: org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan,
    tablePath: String,
    man: MergeWriter.Manifest,
    streamFactory: String => MicroBatchStream)
    extends org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan(
      p.sparkSession, p.hadoopConf, p.fileIndex,
      MergeWriter.stampSchema(p.dataSchema, man.colIds),
      GraftStreamableParquetScan.physicalReadSchema(p.readDataSchema, man),
      p.readPartitionSchema, p.pushedFilters, p.options,
      p.pushedAggregate, p.partitionFilters, p.dataFilters,
      p.pushedVariantExtractions)
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning
    with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering {

  if (man.colIds.nonEmpty) MergeWriter.ensureFieldIdRead(p.sparkSession)

  // ---- NATIVE DELETION-VECTOR READS -------------------------------
  // A version with live DVs stays on THIS scan (pruning, SPJ, runtime
  // filters, exact stats all keep working); the physical read schema
  // gains the engine's temporary row-index column (the public
  // `_metadata.row_index` plumbing — parquet readers fill it with each
  // row's file position, correct under row-group/page skipping), and
  // the reader factory wraps with a per-file binary-search skip of the
  // file's dead positions. Spark disallows mixing columnar and
  // row-based partitions in one scan, so a DV'd version reads
  // row-based end to end (vectorized parquet decode, row handoff) —
  // still a single native plan, vs the retired V1 bridge's
  // second-plan + Row-RDD detour; compaction restores columnar batches
  // and the window is bounded by MergeWriter.DvAutoCompactFiles.
  private val dvLive =
    MergeWriter.hasLiveDvs(man) || MergeWriter.hasLiveEqds(man)

  override def createReaderFactory()
      : org.apache.spark.sql.connector.read.PartitionReaderFactory = {
    val inner = super.createReaderFactory()
    if (!dvLive) inner
    else {
      // dead positions restricted to the PRUNED file listing: a scan
      // that skips a DV'd file pays neither its sidecar read
      // driver-side nor its positions in the serialized factory
      val listed = p.fileIndex
        .listFiles(p.partitionFilters, p.dataFilters)
        .flatMap(_.files).map(_.getPath.toString).toSet
      // equality deletes resolve to positions HERE (one bounded probe
      // job — the read the write path skipped, paid lazily) and ride
      // the same reader-side row-index skip as position DVs
      val dvDead = MergeWriter.mergeDeadMaps(
        MergeWriter.dvDeadByAbsPath(p.sparkSession, tablePath,
          man, Some(listed)),
        MergeWriter.eqdDeadByAbsPath(p.sparkSession, tablePath,
          man, Some(listed)))
      val full = readDataSchema.fields ++ readPartitionSchema.fields
      new GraftDvSkipReaderFactory(inner, dvDead,
        full.map(_.dataType),
        readDataSchema.fieldIndex(
          GraftStreamableParquetScan.RowIndexTempCol))
    }
  }

  // ---- STORAGE-PARTITIONED JOINS (SPARK-37375) --------------------
  // The table's layout IS a bucketing: every row lives in bucket
  // `pmod(hash(keys…), n)` by construction (MergeWriter). Report it as
  // KeyGroupedPartitioning over the standard `bucket` transform —
  // resolved against this catalog's own `bucket` function (GraftFns) —
  // so a join of two co-keyed graft tables (same keys, same modulus)
  // or a groupBy on the merge keys runs with ZERO shuffle when
  // `spark.sql.sources.v2.bucketing.enabled` is on: at 100 TB a side,
  // the exchange this deletes IS the query cost. Each split carries
  // its bucket id (HasPartitionKey); Spark groups splits per bucket
  // only when a join actually engages SPJ, so plain scans keep full
  // split-level parallelism (and with the conf off, behavior is
  // unchanged — the keyed splits are ordinary FilePartitions).
  private lazy val basePartitions
      : Array[org.apache.spark.sql.connector.read.InputPartition] =
    super.planInputPartitions()

  private lazy val keyedPartitions
      : Option[Array[org.apache.spark.sql.connector.read.InputPartition]] = {
    import org.apache.spark.sql.execution.datasources.{
      FilePartition, PartitionedFile}
    // with the conf off, SPJ can never engage — skip the per-bucket
    // regrouping entirely and keep vanilla split packing
    if (man.keyCols.isEmpty ||
        !p.sparkSession.sessionState.conf.getConf(
          org.apache.spark.sql.internal.SQLConf.V2_BUCKETING_ENABLED)) None
    else {
      val fps = basePartitions.collect { case fp: FilePartition => fp }
      if (fps.length != basePartitions.length) None
      else {
        def bucketOf(f: PartitionedFile): Option[Int] = {
          val s = f.filePath.toString
          val i = s.lastIndexOf("/" + MergeWriter.BucketCol + "=")
          if (i < 0) None
          else {
            val rest = s.substring(i + MergeWriter.BucketCol.length + 2)
            val j = rest.indexOf('/')
            if (j <= 0) None
            else scala.util.Try(rest.substring(0, j).toInt).toOption
          }
        }
        val tagged = fps.flatMap(_.files).map(f => bucketOf(f).map(_ -> f))
        if (tagged.contains(None)) None
        else {
          val maxSplit = FilePartition.maxSplitBytes(p.sparkSession,
            p.fileIndex.listFiles(p.partitionFilters, p.dataFilters))
          var idx = -1
          val parts = tagged.flatten.groupBy(_._1).toSeq.sortBy(_._1)
            .flatMap { case (b, bf) =>
              FilePartition.getFilePartitions(p.sparkSession,
                bf.map(_._2).toSeq, maxSplit).map { fp =>
                idx += 1
                new GraftKeyedFilePartition(idx, fp.files, b)
              }
            }
          Some(parts.toArray)
        }
      }
    }
  }

  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    keyedPartitions match {
      case Some(parts) =>
        val groups = parts
          .map(_.asInstanceOf[GraftKeyedFilePartition].bucket)
          .distinct.length
        new org.apache.spark.sql.connector.read.partitioning
          .KeyGroupedPartitioning(
            Array(org.apache.spark.sql.connector.expressions.Expressions
              .bucket(man.buckets, man.keyCols: _*)), groups)
      case None =>
        new org.apache.spark.sql.connector.read.partitioning
          .UnknownPartitioning(0)
    }

  // ---- RUNTIME FILTERING (SPARK-35779 dynamic data pruning) -------
  // Dynamic partition pruning hands the BUILD side's collected join-key
  // values here after the broadcast materializes; the values prune
  // through the SAME manifest machinery as static predicates — a
  // fully-pinned key set resolves to its hash buckets driver-side
  // (Murmur3 write parity, `bucketOfKeyTuple`) and every translated
  // column prunes files by min/max stats and Bloom sidecars. A
  // fact-joins-filtered-dim query therefore opens only the buckets the
  // dim's surviving keys hash to — at 100 TB, the difference between a
  // full fact scan and a few hundred files. Partition COUNT and bucket
  // keys are deliberately preserved (pruned splits keep zero files
  // rather than disappearing) so a plan that already engaged SPJ keeps
  // its KeyGroupedPartitioning contract after filtering.
  @volatile private var runtimeKeep
      : Option[Set[String]] = None

  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] = {
    // only columns the PRUNED scan still outputs: the optimizer
    // resolves these against the scan relation's attributes, and a
    // runtime filter can only ever arrive on a join column — which is
    // necessarily in the output
    val avail = readSchema().fieldNames.toSet
    (man.keyCols ++ man.clusterCols ++ man.bloomCols).distinct
      .filter(avail.contains).map(
        org.apache.spark.sql.connector.expressions.Expressions.column)
      .toArray
  }

  override def filter(
      filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    // an empty build side arrives as a contradiction — nothing matches
    if (filters.exists(_.isInstanceOf[org.apache.spark.sql.sources.AlwaysFalse])) {
      runtimeKeep = Some(Set.empty)
      return
    }
    val preds = GraftFileIndex.fromV1Filters(filters.toSeq)
    if (preds.nonEmpty) {
      val buckets = GraftFileIndex.keyBuckets(man, p.dataSchema, preds)
      val survivors = MergeWriter.indexCandidateFiles(
        p.sparkSession, tablePath, man, preds, buckets)
      runtimeKeep = Some(survivors.map(_._1.toString).toSet)
    }
  }

  private def pruneRuntime(
      parts: Array[org.apache.spark.sql.connector.read.InputPartition],
      keep: Set[String])
      : Array[org.apache.spark.sql.connector.read.InputPartition] = {
    import org.apache.spark.sql.execution.datasources.FilePartition
    parts.map {
      case kp: GraftKeyedFilePartition =>
        new GraftKeyedFilePartition(kp.index,
          kp.files.filter(f => keep.contains(f.filePath.toPath.toString)),
          kp.bucket)
      case fp: FilePartition =>
        FilePartition(fp.index,
          fp.files.filter(f => keep.contains(f.filePath.toPath.toString)))
      case other => other
    }
  }

  override def planInputPartitions()
      : Array[org.apache.spark.sql.connector.read.InputPartition] = {
    val parts = keyedPartitions.getOrElse(basePartitions)
    runtimeKeep.map(pruneRuntime(parts, _)).getOrElse(parts)
  }

  // ---- EXACT ROW COUNTS FOR THE PLANNER ---------------------------
  // The manifest records exact live-row counts per file, so the scan
  // can report numRows for the statically-pruned file set (FileScan
  // alone gives only compressed bytes × a guessed factor). Join-side
  // selection — broadcast-vs-shuffle, AQE re-plans, DPP benefit
  // estimation — keys off these numbers; at 100 TB the difference
  // between "broadcast the pruned side" and "shuffle both" IS the
  // query. Counts over kept files are a superset bound under partial
  // predicates (a kept file may still hold non-matching rows) — the
  // conservative direction for planning. Buckets without recorded
  // stats fall back to the inherited estimate.
  private lazy val rowsByPath: Map[String, Long] =
    // live equality deletes kill an UNRESOLVED number of stored rows —
    // per-file live counts are unknowable from metadata, so fall back
    // to the inherited size-based estimate rather than overcount
    if (MergeWriter.hasLiveEqds(man)) Map.empty
    else man.epochs.toSeq.flatMap { case (b, e) =>
      // rows = -1 is the legacy "unknown" sentinel (pre-round-11
      // unclustered commits) — leave those out so the completeness
      // check below falls back to the inherited estimate
      man.stats.getOrElse(b, Seq.empty).filter(_.rows >= 0).map { f =>
        // live rows: deletion vectors subtract (a DV'd version scans
        // natively here too, so dvn keeps numRows exact for it);
        // overlay files resolve through their own epoch attribution
        new Path(MergeWriter.fileReadPath(tablePath, man, b, f))
          .toString -> (f.rows - f.dvn)
      }
    }.toMap

  /** ANALYZE-recorded column statistics ([[MergeWriter.analyzeTable]])
    * in DSv2 form: Spark's `DataSourceV2Relation.transformV2Stats`
    * turns these into catalyst `attributeStats`, which is what the
    * cost-based optimizer (join reorder, filter selectivity) consumes
    * when `spark.sql.cbo.enabled` is on. min/max must be CATALYST
    * INTERNAL values (days-Int for dates, micros-Long for timestamps),
    * decoded here from the manifest's canonical string domain.
    */
  private lazy val v2ColumnStats: java.util.Map[
      org.apache.spark.sql.connector.expressions.NamedReference,
      org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
    import org.apache.spark.sql.types._
    val typeOf = p.readSchema().fields.map(f => f.name -> f.dataType).toMap
    def internal(dt: DataType, s: String): Option[Object] =
      if (s.isEmpty) None
      else scala.util.Try[Object](dt match {
        case ByteType => java.lang.Byte.valueOf(s.toLong.toByte)
        case ShortType => java.lang.Short.valueOf(s.toLong.toShort)
        case IntegerType => java.lang.Integer.valueOf(s.toLong.toInt)
        case LongType => java.lang.Long.valueOf(s.toLong)
        case DateType => java.lang.Integer.valueOf(s.toLong.toInt)
        case TimestampType | TimestampNTZType =>
          java.lang.Long.valueOf(s.toLong)
        case FloatType => java.lang.Float.valueOf(s.toDouble.toFloat)
        case DoubleType => java.lang.Double.valueOf(s.toDouble)
        case _ => null
      }).toOption.filter(_ != null)
    // ANALYZE's equi-height histogram, decoded from the manifest's
    // compact "height|lo,hi,ndv;..." record (canonical internal double
    // domain — exactly what catalyst's FilterEstimation compares filter
    // literals in). transformV2Stats maps these bins 1:1 into catalyst
    // HistogramBins, so selectivity on SKEWED columns tracks the real
    // distribution instead of uniform-NDV assumptions.
    def parseHist(s: String): Option[
        org.apache.spark.sql.connector.read.colstats.Histogram] =
      scala.util.Try {
        val Array(h, binsTxt) = s.split('|')
        val bs = binsTxt.split(';').map { b =>
          val Array(loTxt, hiTxt, ndvTxt) = b.split(',')
          val (binLo, binHi, binNdv) =
            (loTxt.toDouble, hiTxt.toDouble, ndvTxt.toLong)
          new org.apache.spark.sql.connector.read.colstats.HistogramBin {
            override def lo(): Double = binLo
            override def hi(): Double = binHi
            override def ndv(): Long = binNdv
          }: org.apache.spark.sql.connector.read.colstats.HistogramBin
        }
        new org.apache.spark.sql.connector.read.colstats.Histogram {
          override def height(): Double = h.toDouble
          override def bins(): Array[
            org.apache.spark.sql.connector.read.colstats.HistogramBin] = bs
        }: org.apache.spark.sql.connector.read.colstats.Histogram
      }.toOption
    val out = new java.util.HashMap[
      org.apache.spark.sql.connector.expressions.NamedReference,
      org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
    man.colStats.foreach { case (c, cs) =>
      typeOf.get(c).foreach { dt =>
        val mn = internal(dt, cs.min)
        val mx = internal(dt, cs.max)
        val hist = man.colHists.get(c).flatMap(parseHist)
        out.put(
          org.apache.spark.sql.connector.expressions.Expressions.column(c),
          new org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
            override def distinctCount(): java.util.OptionalLong =
              java.util.OptionalLong.of(cs.ndv)
            override def nullCount(): java.util.OptionalLong =
              java.util.OptionalLong.of(cs.nulls)
            override def avgLen(): java.util.OptionalLong =
              java.util.OptionalLong.of(cs.avgLen)
            override def maxLen(): java.util.OptionalLong =
              java.util.OptionalLong.of(cs.maxLen)
            override def min(): java.util.Optional[Object] =
              mn.fold(java.util.Optional.empty[Object]())(
                java.util.Optional.of[Object])
            override def max(): java.util.Optional[Object] =
              mx.fold(java.util.Optional.empty[Object]())(
                java.util.Optional.of[Object])
            override def histogram(): java.util.Optional[
                org.apache.spark.sql.connector.read.colstats.Histogram] =
              hist.fold(java.util.Optional.empty[
                org.apache.spark.sql.connector.read.colstats.Histogram]())(
                java.util.Optional.of)
          })
      }
    }
    out
  }

  /** ANALYZE column stats are whole-table estimates pinned to
    * `statsVersion` — serve them to the CBO only when they still
    * describe what this scan reads: (a) the listing is UNPRUNED (a
    * filter-pruned numRows paired with whole-table NDV/null counts
    * could report counts exceeding numRows), and (b) drift since the
    * ANALYZE is small — with the analyze-time live-row total recorded
    * (`statsRows`), current live rows within ±20%; for legacy
    * manifests without it, only while nothing has committed after the
    * ANALYZE itself. Withheld stats degrade to size-based estimates,
    * never to confidently-wrong NDVs on a churned table.
    */
  private def colStatsServable(listedFiles: Int,
                               exactRows: Option[Long]): Boolean = {
    if (man.colStats.isEmpty) return false
    val totalFiles = man.stats.valuesIterator.map(_.size).sum
    if (listedFiles != totalFiles) return false
    if (man.statsRows > 0L) exactRows match {
      case Some(cur) =>
        math.abs(cur - man.statsRows) * 5L <= man.statsRows
      case None => man.version - man.statsVersion <= 1L
    }
    else man.version - man.statsVersion <= 1L
  }

  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics = {
    val base = super.estimateStatistics()
    if (base.numRows.isPresent) return base // aggregate-pushdown paths
    val listed = p.fileIndex.listFiles(p.partitionFilters, p.dataFilters)
      .flatMap(_.files)
    val known = listed.flatMap(f => rowsByPath.get(f.getPath.toString))
    val exactRows =
      if (known.length == listed.length) Some(known.sum) else None
    val serveCols = colStatsServable(listed.length, exactRows)
    if (exactRows.isEmpty && !serveCols) base
    else new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        base.sizeInBytes()
      override def numRows(): java.util.OptionalLong =
        exactRows.fold(base.numRows())(java.util.OptionalLong.of)
      override def columnStats(): java.util.Map[
          org.apache.spark.sql.connector.expressions.NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics] =
        if (serveCols) v2ColumnStats
        else java.util.Collections.emptyMap()
    }
  }

  // the ids must reach ONLY the physical reader (the constructor's
  // readDataSchema, which createReaderFactory hands to parquet):
  // FileScan.readSchema() also becomes the scan relation's OUTPUT
  // attributes after pushdown (V2ScanRelationPushDown.toOutputAttrs),
  // and a leaked `parquet.field.id` there would be stamped into the
  // user's own parquet writes (fieldId.write is default-on) — the
  // duplicate-id hazard this design exists to prevent. Surface the
  // unstamped pruned schema instead.
  override def readSchema(): StructType = p.readSchema()

  override def toMicroBatchStream(checkpointLocation: String)
      : MicroBatchStream = streamFactory(checkpointLocation)
}

private[sources] object GraftStreamableParquetScan {

  /** Spark's temporary row-index column name: a physical read schema
    * carrying it makes both parquet readers (vectorized and row-based)
    * populate each row's position within its file — the mechanism
    * behind `_metadata.row_index` (ParquetRowIndexUtil matches the
    * column by this name).
    */
  private[sources] val RowIndexTempCol: String =
    org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
      .ROW_INDEX_TEMPORARY_COLUMN_NAME

  /** The schema handed to the PHYSICAL parquet reader: field-id
    * stamped ([[MergeWriter.stampSchema]]), plus — only while the
    * pinned version carries live deletion vectors — the row-index
    * temp column the reader-side DV skip addresses dead rows by. The
    * scan's OUTPUT schema ([[GraftStreamableParquetScan.readSchema]])
    * never carries either.
    */
  def physicalReadSchema(read: StructType,
                         man: MergeWriter.Manifest): StructType = {
    val stamped = MergeWriter.stampSchema(read, man.colIds)
    if (!MergeWriter.hasLiveDvs(man) && !MergeWriter.hasLiveEqds(man))
      stamped
    else StructType(stamped.fields :+
      // nullable: the column is absent from the files (the reader
      // GENERATES it); a required-but-missing column fails the
      // parquet schema check
      StructField(RowIndexTempCol, org.apache.spark.sql.types.LongType,
        nullable = true))
  }
}

/** Reader-side deletion-vector skip behind the native catalog scan of
  * a DV-bearing version: every partition reads row-based (Spark
  * forbids mixing columnar and row partitions in one scan), each file
  * reads through the inherited parquet reader factory one at a time,
  * and rows of a DV'd file whose row index binary-searches into the
  * file's sorted dead positions are dropped before the row-index temp
  * column is projected away. Clean files pay only the projection.
  */
private[sources] class GraftDvSkipReaderFactory(
    inner: org.apache.spark.sql.connector.read.PartitionReaderFactory,
    dead: Map[String, Array[Long]],
    fullTypes: Array[org.apache.spark.sql.types.DataType],
    rowIndexOrdinal: Int)
    extends org.apache.spark.sql.connector.read.PartitionReaderFactory {

  override def supportColumnarReads(
      p: org.apache.spark.sql.connector.read.InputPartition): Boolean =
    false

  override def createReader(
      partition: org.apache.spark.sql.connector.read.InputPartition)
      : org.apache.spark.sql.connector.read.PartitionReader[InternalRow] = {
    import org.apache.spark.sql.catalyst.expressions.{
      BoundReference, UnsafeProjection}
    import org.apache.spark.sql.execution.datasources.FilePartition
    val files = partition match {
      case fp: FilePartition => fp.files
      case other => throw new IllegalStateException(
        s"GraftDvSkipReaderFactory expects file partitions, got $other")
    }
    new org.apache.spark.sql.connector.read.PartitionReader[InternalRow] {
      private val proj = UnsafeProjection.create(
        fullTypes.indices.filter(_ != rowIndexOrdinal)
          .map(i => BoundReference(i, fullTypes(i), nullable = true)))
      private var i = 0
      private var cur
          : org.apache.spark.sql.connector.read.PartitionReader[InternalRow] =
        null
      private var curDead: Array[Long] = null
      private var row: InternalRow = null

      override def next(): Boolean = {
        while (true) {
          if (cur == null) {
            if (i >= files.length) return false
            val f = files(i)
            i += 1
            cur = inner.createReader(FilePartition(0, Array(f)))
            curDead = dead.getOrElse(f.filePath.toPath.toString, null)
          } else if (!cur.next()) {
            cur.close(); cur = null
          } else {
            val r = cur.get()
            if (curDead == null || java.util.Arrays.binarySearch(
                curDead, r.getLong(rowIndexOrdinal)) < 0) {
              row = r
              return true
            }
          }
        }
        false // unreachable
      }

      override def get(): InternalRow = proj(row)

      override def close(): Unit =
        if (cur != null) { cur.close(); cur = null }
    }
  }
}

/** A file split that knows its bucket id — the unit Spark's
  * storage-partitioned join groups by ([[GraftStreamableParquetScan]]).
  * An ordinary [[org.apache.spark.sql.execution.datasources.FilePartition]]
  * to the inherited parquet reader factory; the partition key only
  * matters when SPJ engages.
  */
private[sources] class GraftKeyedFilePartition(
    idx: Int,
    fs0: Array[org.apache.spark.sql.execution.datasources.PartitionedFile],
    val bucket: Int)
    extends org.apache.spark.sql.execution.datasources.FilePartition(idx, fs0)
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): org.apache.spark.sql.catalyst.InternalRow =
    org.apache.spark.sql.catalyst.InternalRow(bucket)
}

/** Manifest-driven file listing behind the DSv2 parquet scan: the
  * abstract-class face [[ParquetScanBuilder]] requires, delegating the
  * actual pruning to [[GraftFileIndex]] (one shared keep-function core
  * for the V1 relation, the catalog scan, and the storage API). No
  * hive-style partitions — `partitionSpec` is empty and every pushed
  * filter is a DATA filter, which `listFiles` turns into stats/Bloom
  * file skipping.
  */
private[sources] class GraftPartitioningIndex(
    spark: SparkSession, tablePath: String, man: MergeWriter.Manifest,
    schema: StructType)
    extends PartitioningAwareFileIndex(spark, Map.empty, Some(schema),
      NoopCache) {

  private val inner =
    new GraftFileIndex(spark, tablePath, man, dvAware = true)

  override def rootPaths: Seq[Path] = inner.rootPaths

  override def partitionSpec(): PartitionSpec = PartitionSpec.emptySpec

  override def partitionSchema: StructType = new StructType()

  override def refresh(): Unit = ()

  // one-entry memo: planning consults listFiles with IDENTICAL filters
  // several times per query (partition planning, split sizing, stats
  // estimation), and each call walks the manifest's stats/Bloom keep
  // functions — driver work worth paying once. Sound because the
  // manifest is pinned at construction: same filters ⇒ same files.
  @volatile private var lastListing: Option[
    ((Seq[org.apache.spark.sql.catalyst.expressions.Expression],
      Seq[org.apache.spark.sql.catalyst.expressions.Expression]),
     Seq[PartitionDirectory])] = None

  override def listFiles(
      partitionFilters: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
      dataFilters: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : Seq[PartitionDirectory] =
    lastListing match {
      case Some((key, v)) if key == ((partitionFilters, dataFilters)) => v
      case _ =>
        val v = inner.listFiles(partitionFilters, dataFilters)
        lastListing = Some(((partitionFilters, dataFilters), v))
        v
    }

  override def inputFiles: Array[String] = inner.inputFiles

  override def sizeInBytes: Long = inner.sizeInBytes

  private def statuses: Seq[FileStatus] =
    inner.listFiles(Seq.empty, Seq.empty)
      .flatMap(_.files).map(_.fileStatus)

  override protected def leafFiles
      : mutable.LinkedHashMap[Path, FileStatus] =
    mutable.LinkedHashMap(statuses.map(s => s.getPath -> s): _*)

  override protected def leafDirToChildrenFiles
      : Map[Path, Array[FileStatus]] =
    statuses.groupBy(_.getPath.getParent)
      .map { case (d, fsSeq) => d -> fsSeq.toArray }
}

object GraftCatalog {

  /** Pointer-file name inside a LOCATION-pinned table's warehouse
    * entry directory (see `readPointer`).
    */
  private[sources] val LocPointer = "_loc"

  /** Name of the synthesized PRIMARY KEY constraint every keyed table
    * reports (the merge keys ARE the primary key — `rely` iff the
    * manifest carries the NOT-NULL evidence flag).
    */
  private[sources] val PkConstraintName = "graft_pk"

  /** The statement-level duplicate-key guard for INSERT and CTAS/RTAS
    * (see [[MergeWriter.requireUniqueKeys]]), wrapped around the write
    * so the guard and the write see the SAME rows. A DETERMINISTIC
    * source recomputes for the guard pass — its groupBy touches only
    * the key columns, so column pruning keeps the extra pass key-narrow
    * (staging would materialize the statement's FULL rows, at 100 TB a
    * table-sized copy, just to save that narrow scan). A source whose
    * plan carries any non-deterministic expression (rand(), a
    * non-stable limit, an impure UDF) CANNOT be safely recomputed — the
    * guarded pass and the written pass could differ, letting duplicates
    * slip past the guard or spuriously rejecting a clean source — so it
    * is staged once ([[MergeWriter.withStaged]]) for the statement's
    * duration: a lost staged block fails the statement instead of
    * re-running the source.
    */
  private[sources] def guardUniqueKeys(data: DataFrame, keys: Seq[String],
                                       stmt: String,
                                       // rows the uniqueness check
                                       // applies to (None = all) — the
                                       // identity-key NULL sentinels
                                       // are each assigned fresh values
                                       checkOnly: Option[Column] = None)
                                      (write: DataFrame => Unit): Unit = {
    def guarded(rows: DataFrame): Unit = {
      MergeWriter.requireUniqueKeys(checkOnly.fold(rows)(rows.filter), keys,
        stmt)
      write(rows)
    }
    if (MergeWriter.deterministic(data)) guarded(data)
    else MergeWriter.withStaged("graft.unique-guard", data) { (rows, _) =>
      guarded(rows)
    }
  }

  /** Conservative V2-predicate → Column conversion for DELETE: the
    * comparison / IN / null-test / boolean-connective shapes SQL DELETE
    * conditions are made of. None = unconvertible → `canDeleteWhere`
    * says no and Spark fails the DELETE loudly (never a partial
    * delete).
    */
  private[sources] def v2ToColumn(p: V2Predicate): Option[Column] =
    p match {
      case a: V2And =>
        for {l <- v2ToColumn(a.left()); r <- v2ToColumn(a.right())}
          yield l && r
      case o: V2Or =>
        for {l <- v2ToColumn(o.left()); r <- v2ToColumn(o.right())}
          yield l || r
      case n: V2Not => v2ToColumn(n.child()).map(!_)
      case _ =>
        val kids = p.children()
        def c(i: Int): Option[Column] = operand(kids(i))
        def bin(f: (Column, Column) => Column): Option[Column] =
          if (kids.length != 2) None
          else for {l <- c(0); r <- c(1)} yield f(l, r)
        p.name() match {
          case "ALWAYS_TRUE" => Some(lit(true))
          case "ALWAYS_FALSE" => Some(lit(false))
          case "IS_NULL" if kids.length == 1 => c(0).map(_.isNull)
          case "IS_NOT_NULL" if kids.length == 1 => c(0).map(_.isNotNull)
          case "=" => bin(_ === _)
          case "<=>" => bin(_ <=> _)
          case "<>" | "!=" => bin(_ =!= _)
          case "<" => bin(_ < _)
          case "<=" => bin(_ <= _)
          case ">" => bin(_ > _)
          case ">=" => bin(_ >= _)
          case "STARTS_WITH" =>
            bin((l, r) => l.startsWith(r))
          case "IN" if kids.length >= 2 =>
            val vals = kids.drop(1).toSeq.map {
              case l: V2Literal[_] => Some(externalOf(l))
              case _ => None
            }
            if (vals.exists(_.isEmpty)) None
            else c(0).map(_.isin(vals.flatten: _*))
          case _ => None
        }
    }

  private def externalOf(l: V2Literal[_]): Any =
    CatalystTypeConverters.convertToScala(l.value, l.dataType)

  private def operand(e: V2Expression): Option[Column] = e match {
    case r: NamedReference => Some(col(r.fieldNames().mkString(".")))
    case l: V2Literal[_] => Some(lit(externalOf(l)))
    case _ => None
  }
}

/** The catalog's scalar-function inventory lives OUTSIDE the catalog
  * class: bound functions ship to executors inside codegen'd plans, so
  * they must be self-contained Serializable objects with no `$outer`
  * reference to the (non-serializable) catalog.
  */
private[sources] object GraftFns {
  import org.apache.spark.sql.types.StructType
  import org.apache.spark.sql.connector.catalog.{functions => v2fn}
  import graft.functions.{TextHash, ZOrder}

  lazy val all: Map[String, v2fn.UnboundFunction] = {
    import org.apache.spark.sql.types.{ArrayType, DataType => DT,
      DoubleType, LongType, StringType => SType}
    import org.apache.spark.sql.catalyst.InternalRow

    abstract class Fn(fname: String, desc0: String)
        extends v2fn.UnboundFunction with v2fn.BoundFunction {
      override def name(): String = fname
      override def description(): String = desc0
      override def bind(inputType: StructType): v2fn.BoundFunction = {
        require(inputType.fields.length == inputTypes().length,
          s"$fname takes ${inputTypes().length} arguments")
        this
      }
      override def isDeterministic: Boolean = true
      override def canonicalName(): String = s"graft.$fname"
    }

    // deliberately NO magic `invoke` method: Spark's magic-method path
    // calls it without null propagation (a NULL argument would NPE a
    // primitive-signature invoke), so these bind through the null-safe
    // produceResult contract instead — SQL functions must take NULL
    // inputs to NULL outputs like every builtin
    val zHi = new Fn("zorder2_hi", "high word of the 128-bit Morton " +
        "code of (a, b) — files cluster by (zorder2_hi, zorder2_lo)")
        with v2fn.ScalarFunction[java.lang.Long] {
      override def inputTypes(): Array[DT] = Array(LongType, LongType)
      override def resultType(): DT = LongType
      override def produceResult(in: InternalRow): java.lang.Long =
        if (in.isNullAt(0) || in.isNullAt(1)) null
        else ZOrder.interleave2High(in.getLong(0), in.getLong(1))
    }
    val zLo = new Fn("zorder2_lo", "low word of the 128-bit Morton code")
        with v2fn.ScalarFunction[java.lang.Long] {
      override def inputTypes(): Array[DT] = Array(LongType, LongType)
      override def resultType(): DT = LongType
      override def produceResult(in: InternalRow): java.lang.Long =
        if (in.isNullAt(0) || in.isNullAt(1)) null
        else ZOrder.interleave2Low(in.getLong(0), in.getLong(1))
    }
    val fp = new Fn("fingerprint64", "rolling polynomial codepoint hash " +
        "of a string modulo `mod` (document fingerprinting)")
        with v2fn.ScalarFunction[java.lang.Long] {
      override def inputTypes(): Array[DT] = Array(SType, LongType)
      override def resultType(): DT = LongType
      override def produceResult(in: InternalRow): java.lang.Long =
        if (in.isNullAt(0) || in.isNullAt(1)) null
        else TextHash.poly(in.getUTF8String(0).toString, in.getLong(1))
    }
    val cos = new Fn("cosine_sim", "cosine similarity of two numeric " +
        "arrays (0.0 when either norm is 0)")
        with v2fn.ScalarFunction[java.lang.Double] {
      override def inputTypes(): Array[DT] =
        Array(ArrayType(DoubleType), ArrayType(DoubleType))
      override def resultType(): DT = DoubleType
      override def produceResult(in: InternalRow): java.lang.Double = {
        if (in.isNullAt(0) || in.isNullAt(1)) return null
        // iterate the ArrayData directly: toDoubleArray would silently
        // read a NULL ELEMENT as 0.0 — a null element nulls the result,
        // matching the builtin array functions' propagation
        val a = in.getArray(0); val b = in.getArray(1)
        val na = a.numElements(); val nb = b.numElements()
        val n = math.min(na, nb)
        var dot = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
        while (i < n) {
          if (a.isNullAt(i) || b.isNullAt(i)) return null
          val x = a.getDouble(i); val y = b.getDouble(i)
          dot += x * y; nx += x * x; ny += y * y; i += 1
        }
        var j = n
        while (j < na) {
          if (a.isNullAt(j)) return null
          nx += a.getDouble(j) * a.getDouble(j); j += 1
        }
        var k = n
        while (k < nb) {
          if (b.isNullAt(k)) return null
          ny += b.getDouble(k) * b.getDouble(k); k += 1
        }
        if (nx == 0.0 || ny == 0.0) 0.0
        else dot / (math.sqrt(nx) * math.sqrt(ny))
      }
    }
    // STORAGE-PARTITIONED JOINS (SPARK-37375; the Iceberg-public
    // design): a graft scan reports KeyGroupedPartitioning over the
    // `bucket(n, keys…)` transform, and Spark resolves that transform
    // against THIS function (loadFunction with an empty namespace).
    // produceResult must agree bit-for-bit with the WRITE side's bucket
    // assignment `pmod(hash(keys…), n)` (MergeWriter.bucketExprChecked),
    // so it evaluates Catalyst's own Murmur3Hash over the key args
    // instead of a re-implementation that could drift per type.
    val bucket = new v2fn.UnboundFunction {
      override def name(): String = "bucket"
      override def description(): String =
        "graft bucket id: pmod(murmur3(keys…), numBuckets) — the " +
          "table layout's own assignment, reported for " +
          "storage-partitioned joins"
      override def bind(inputType: StructType): v2fn.BoundFunction = {
        require(inputType.fields.length >= 2,
          "bucket takes (numBuckets, key, ...)")
        require(inputType.fields.head.dataType ==
          org.apache.spark.sql.types.IntegerType,
          "bucket: numBuckets must be INT")
        val types = inputType.fields.map(_.dataType)
        new v2fn.ScalarFunction[java.lang.Integer] {
          override def inputTypes(): Array[DT] = types
          override def resultType(): DT =
            org.apache.spark.sql.types.IntegerType
          override def name(): String = "bucket"
          override def canonicalName(): String = "graft.bucket"
          override def isDeterministic: Boolean = true
          @transient private lazy val hashExpr =
            org.apache.spark.sql.catalyst.expressions.Murmur3Hash(
              types.toIndexedSeq.zipWithIndex.drop(1).map { case (t, i) =>
                org.apache.spark.sql.catalyst.expressions.BoundReference(
                  i, t, nullable = true)
              }, 42)
          override def produceResult(in: InternalRow): java.lang.Integer = {
            if (in.isNullAt(0)) return null
            val n = in.getInt(0)
            if (n <= 0) return null
            val h = hashExpr.eval(in).asInstanceOf[Int]
            ((h % n) + n) % n
          }
        }
      }
    }
    Seq(zHi, zLo, fp, cos, bucket)
      .map(f => f.name() -> (f: v2fn.UnboundFunction)).toMap
  }
}
