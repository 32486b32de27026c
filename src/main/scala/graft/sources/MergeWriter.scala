package graft.sources

import java.nio.charset.StandardCharsets
import java.util.UUID

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType, MetadataBuilder,
  StructField, StructType}

/** Keyed upsert ("MERGE") writers over parquet
  * table directories — the Spark-side equivalent of the reference's
  * transactional Sequelize loads:
  *
  *  - L1 state upsert on `(partitionKey, sortKey)`
  *    (`src/workitem/state_load_processor_aurora.ts:25-129`, unique index
  *    `sql/full_ddl.sql:1358`);
  *  - L2 snapshot upsert on `(partitionKey, workItemId, type, revision,
  *    flomatikaSnapshotDate)` (`snapshot_load_processor_aurora.ts:25-70`,
  *    `full_ddl.sql:1197`) — the natural key makes at-least-once delivery
  *    idempotent;
  *  - A10 context-membership refresh = a keyed replace on the context
  *    (`context_workitem_map_processor_aurora.ts:129-224`: bulk upsert +
  *    anti-delete ≡ replace every row of a touched context).
  *
  * On a lakehouse deployment these become `MERGE INTO` on Delta/Iceberg;
  * this writer reproduces the semantics — INCLUDING table-atomic commit —
  * on plain parquet with the same design those formats use:
  *
  *  - data files are immutable and live under per-merge EPOCH directories
  *    (`e-<uuid>/__bucket=K/...`), one subdir per key-hash bucket;
  *  - a versioned MANIFEST (`_manifest-<n>.json`) maps every bucket to the
  *    epoch holding its current data; readers resolve the highest manifest;
  *  - a merge writes only the touched buckets into a fresh epoch, then
  *    commits by writing the next manifest via an atomic rename. A crash at
  *    ANY point before the rename leaves an orphan epoch that no reader
  *    ever sees; after the rename the new table state is fully visible.
  *    This is exactly Iceberg's snapshot commit / Delta's log entry, scaled
  *    down to one JSON file.
  *
  * I/O per merge is O(touched buckets), not O(table): the manifest prunes
  * the read to the touched buckets' directories, and untouched buckets keep
  * their old epoch pointers. The last [[KeepManifests]] manifests (and every
  * epoch they reference) survive commits, so readers planned against the
  * previous version keep working; older manifests and unreferenced epochs
  * are garbage-collected after each commit.
  */
object MergeWriter {

  /** Last-wins dedupe of a batch on its natural key (the pre-write dedupe
    * the reference delegates to the DB unique index). `orderBy` breaks ties
    * between duplicate keys — pass the ingestion/version column.
    */
  def dedupeOnKey(batch: DataFrame, keys: Seq[String],
                  orderBy: Seq[org.apache.spark.sql.Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(orderBy.map(_.desc): _*)
    batch.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Key-hash bucket column — a physical layout detail: epoch directories
    * are partitioned by it and [[readTable]] never exposes it.
    */
  val BucketCol = "__bucket"

  private val ManifestPrefix = "_manifest-"

  /** How many committed versions stay readable after a merge. Two covers
    * the single-writer contract: plans built against the previous version
    * remain valid through the next commit.
    */
  val KeepManifests = 2

  /** OPTIMIZE-on-write threshold: a merge that leaves MORE than this many
    * live epoch directories triggers an inline [[compact]] (Delta's
    * auto-optimize / Iceberg's commit-time rewrite, scaled to the
    * manifest protocol). Each incremental merge strands its touched
    * buckets in a fresh epoch, so a long-lived table accumulates one
    * directory per merge and readers open ever more small files; bounding
    * live epochs bounds per-scan file count while amortizing the O(table)
    * rewrite over ~threshold merges — steady-state write amplification is
    * 1/threshold of the table per merge round.
    */
  val AutoCompactEpochs = 16

  /** Default per-file expected-items sizing for [[Manifest.bloomCols]]
    * filters (~117 KB per file·column at 3% fpp — Delta's default Bloom
    * index sizing is the same order). Override per table at creation.
    */
  val DefaultBloomItems: Long = 100000L

  /** Epoch-directory sidecar holding the per-file Bloom filters of the
    * table's [[Manifest.bloomCols]]. Leading underscore = invisible to
    * Spark's parquet discovery; lives and dies with its epoch.
    */
  private val BloomSidecar = "_blooms.json"

  /** `txns` records the highest applied batch version per writer app id
    * (Delta's transaction identifiers): because it rides IN the manifest,
    * "was this batch already applied" and the data it applied commit in
    * the SAME atomic rename — the exactly-once guard non-idempotent
    * (additive) merges need under at-least-once delivery.
    *
    * `schema` is the committed table schema (Spark `StructType.json`,
    * without [[BucketCol]]), recorded at every commit exactly as Delta's
    * log / Iceberg's table metadata record theirs: readers plan with
    * `spark.read.schema(stored)` and never run the distributed
    * parquet-footer schema-merge job (`mergeSchema=true`), which at scale
    * is a per-read metadata job proportional to the table's file count —
    * in a path designed to be O(touched buckets). Old epoch files written
    * before an additive evolution are narrower than the stored schema;
    * the parquet reader null-fills the missing columns, which is exactly
    * the evolution semantics. REQUIRED: with the field ids
    * ([[Manifest.colIds]]) it is the protocol floor — a manifest missing
    * either fails to parse ([[manifestFromNode]]), and [[upgrade]] is
    * the one way up.
    */
  /** `keyCols` is the table's merge-key column list, recorded IN ORDER at
    * creation: `hash(keys…)` is order-sensitive, so a caller passing the
    * same columns in a different order would re-bin every row under a
    * hash future merges won't compute — bucket pruning silently misses
    * rows and keyed-replace leaves stale duplicates behind. Every keyed
    * entry point validates its supplied keys against the recorded list
    * and fails loudly on mismatch. Not part of the protocol floor:
    * empty for a keyless table, which accepts the caller's keys once and
    * records them at its next keyed commit.
    */
  /** Per-data-file column statistics, recorded in the manifest at epoch
    * write (Delta's per-file stats / Iceberg's manifest column metrics,
    * scaled to this protocol): file size and row count, plus min/max per
    * indexed column in a canonical string domain (longs for integral /
    * date-days / timestamp-micros, doubles for float/double, raw UTF-8
    * for strings). They are read straight from the just-written parquet
    * FOOTERS — no extra pass over the data — so recording cost is
    * O(touched files) driver-side metadata reads per commit.
    * [[readTableRange]] prunes at file granularity with them, and
    * auto-split reads bucket sizes from them without listing the table.
    */
  private[sources] case class FileStat(name: String, bytes: Long, rows: Long,
                                       mins: Map[String, String],
                                       maxs: Map[String, String],
                                       nulls: Map[String, Long] = Map.empty,
                                       fp: String = "",
                                       // DELETION VECTOR (merge-on-read
                                       // delete, Delta's DV / Iceberg v2
                                       // position deletes): name of the
                                       // `_dv/` sidecar holding this
                                       // file's dead row positions, and
                                       // how many. Empty ⇔ every stored
                                       // row is live. A file's min/max/
                                       // null stats stay SOUND under row
                                       // removal (they can only widen
                                       // relative to the live rows —
                                       // skipping keeps a superset), but
                                       // exact-count serving must treat
                                       // `rows` as physical and subtract
                                       // or bail (statsAggregate bails).
                                       dv: String = "",
                                       dvn: Long = 0L,
                                       // EPOCH ATTRIBUTION for overlay
                                       // files (merge-on-read upserts):
                                       // the epoch directory this file
                                       // lives in when it is NOT the
                                       // bucket's base pointer epoch.
                                       // "" = the base epoch (every
                                       // pre-overlay file).
                                       e: String = "")

  /** `clusterCols` (recorded at creation, like `keyCols`) order rows
    * WITHIN each bucket file write (`sortWithinPartitions` — a local
    * sort, no exchange): with `spark.sql.files.maxRecordsPerFile` set,
    * a bucket's output splits into several files covering CONSECUTIVE
    * cluster-column ranges, which is what makes per-file min/max stats
    * actually prune a range read (an unclustered hash bucket's single
    * file spans the full range and no stat can skip it) — Delta's
    * 1-D OPTIMIZE clustering, applied on every write.
    */
  /** `bloomCols` (recorded at creation, like `clusterCols`) declare
    * columns that get a PER-FILE Bloom filter sidecar at every epoch
    * write (Delta's Bloom filter index / the reference's btree on
    * `snapshots.workItemId`, `sql/full_ddl.sql:1189-1199`, re-expressed
    * for immutable files): min/max stats cannot serve an EQUALITY probe
    * on a high-cardinality column the table is NOT clustered by — every
    * file's [min,max] spans the whole domain — but a Bloom filter
    * answers "definitely absent" per file. Sidecars live in the epoch
    * directory (`_blooms.json`, invisible to parquet reads, reclaimed
    * with the epoch by gc), so the manifest never bloats and the
    * sidecar commits atomically WITH its epoch: the manifest rename
    * that publishes the epoch publishes its blooms.
    *
    * `bloomItems` sizes every filter (expected distinct items per
    * file, fpp 3%). An UNDERSIZED filter saturates and degrades to
    * "might contain" for everything — safe (skipping only ever removes
    * provably-absent files), just useless — so size it to the table's
    * `maxRecordsPerFile`.
    */
  /** `op`/`opTs` record WHAT wrote each version and WHEN (Delta's
    * commitInfo / DESCRIBE HISTORY, scaled to this protocol): purely
    * informational — no read or conflict decision consults them — but
    * the first thing an operator asks of a misbehaving table.
    * [[tableHistory]] surfaces the retained window.
    */
  /** `retainVersions`/`retainMs` are the PER-TABLE retention policy
    * (Delta's log/deleted-file retention, recorded in the table, not
    * the writer): gc keeps the last `max(retainVersions,
    * KeepManifests)` versions, PLUS any version younger than
    * `retainMs` (0 = count-only). Raised retention is what lets a
    * lagging CDC consumer ([[changeFeed]], `syncReplica`, the
    * streaming source) resume after a multi-commit stall instead of
    * re-seeding from a full snapshot — at 100 TB a table-sized
    * penalty. Set via [[setRetention]] or the catalog's
    * `retainVersions`/`retainMs` TBLPROPERTIES; every commit carries
    * the policy forward.
    */
  private[sources] case class Manifest(version: Long, buckets: Int,
                                       epochs: Map[Int, String],
                                       txns: Map[String, Long] = Map.empty,
                                       schema: String,
                                       keyCols: Seq[String] = Seq.empty,
                                       clusterCols: Seq[String] = Seq.empty,
                                       stats: Map[Int, Seq[FileStat]] = Map.empty,
                                       bloomCols: Seq[String] = Seq.empty,
                                       bloomItems: Long = DefaultBloomItems,
                                       op: String = "",
                                       opTs: Long = 0L,
                                       retainVersions: Int = KeepManifests,
                                       retainMs: Long = 0L,
                                       fingerprint: Boolean = false,
                                       // EVIDENCE that no live epoch can
                                       // hold a NULL merge key: true iff
                                       // every live epoch was written
                                       // through `bucketExprChecked`'s
                                       // AssertNotNull (creation, or a
                                       // commit that replaced every live
                                       // bucket). Gates the catalog's
                                       // NOT NULL key surface (sqlSchema)
                                       // — a legacy pre-enforcement epoch
                                       // keeps keys nullable until a full
                                       // rewrite re-certifies, so
                                       // Catalyst never optimizes on an
                                       // unproven nullability claim.
                                       keysChecked: Boolean = false,
                                       // STABLE COLUMN IDENTITY (Iceberg
                                       // field IDs / Delta column-mapping
                                       // 'id', on the parquet-native
                                       // `parquet.field.id` mechanism):
                                       // logical column name → the field
                                       // id stamped into every epoch
                                       // file this table writes. Lets
                                       // RENAME/DROP COLUMN be METADATA-
                                       // ONLY (immutable files keep
                                       // their old names; readers match
                                       // by id). REQUIRED with `schema`
                                       // (the protocol floor): every
                                       // table is stamped at creation.
                                       colIds: Map[String, Long],
                                       // next id to assign — NEVER reused
                                       // after a drop, so a re-added
                                       // column of the same name cannot
                                       // resurrect dropped data.
                                       nextColId: Long,
                                       // DELETION-VECTOR policy (opt-in
                                       // at creation, like fingerprint):
                                       // when true, a small keyed delete
                                       // commits per-file dead-position
                                       // sidecars instead of rewriting
                                       // its touched buckets — write
                                       // I/O ∝ deleted rows, not bucket
                                       // bytes. Reads filter dead rows
                                       // through [[readWithSchema]]'s
                                       // DV-aware core; compaction
                                       // purges. Between a DV commit and
                                       // the next compaction, catalog
                                       // scans keep the native DSv2
                                       // plan (reader-side row-index
                                       // skip); format("graft") scans
                                       // serve through a V1 bridge.
                                       deleteVectors: Boolean = false,
                                       // TABLE-LEVEL column statistics
                                       // (ANALYZE TABLE — Delta ANALYZE
                                       // / Iceberg puffin NDV sketches):
                                       // per-column NDV, null count,
                                       // avg/max byte length, canonical
                                       // min/max, recorded by
                                       // [[analyzeTable]] and served to
                                       // Spark's CBO through the
                                       // catalog scan. ESTIMATES by
                                       // contract: commits carry them
                                       // forward unchanged (Delta's
                                       // behavior); `statsVersion`
                                       // records the version analyzed
                                       // so staleness is visible.
                                       colStats: Map[String, ColStat] =
                                         Map.empty,
                                       statsVersion: Long = 0L,
                                       // live-row total at analyze time
                                       // — the scan's staleness gate
                                       // compares it to the CURRENT
                                       // live total and withholds
                                       // drifted stats from the CBO
                                       // (0 = unknown / legacy)
                                       statsRows: Long = 0L,
                                       // VERSION TAGS (Iceberg's named
                                       // refs): tag name → the manifest
                                       // version it pins. A tagged
                                       // version is immune to gc and
                                       // count-based retention until
                                       // the tag drops — the audit /
                                       // WAP anchor ("the state we
                                       // certified"). Names must not
                                       // parse as a number (they share
                                       // VERSION AS OF's namespace).
                                       tags: Map[String, Long] = Map.empty,
                                       // MERGE-ON-READ OVERLAYS
                                       // (Iceberg v2's data-file adds
                                       // beside position deletes): per
                                       // bucket, EXTRA epoch dirs whose
                                       // files hold this bucket's rows
                                       // IN ADDITION to the base
                                       // pointer epoch. A MoR upsert
                                       // appends its incoming rows as
                                       // one overlay and DVs the
                                       // replaced keys' old positions,
                                       // so no read-side key dedupe is
                                       // ever needed. Any full bucket
                                       // rewrite (CoW merge, delete,
                                       // compact, split) clears the
                                       // bucket's overlay list.
                                       overlays: Map[Int, Seq[String]] =
                                         Map.empty,
                                       // NAMED BRANCH staging (WAP):
                                       // set (>= 0) only on `_branch-`
                                       // manifests — the MAIN version
                                       // the branch was created from.
                                       // fast_forward publishes the
                                       // branch head onto main iff main
                                       // still sits at this version.
                                       branchBase: Long = -1L,
                                       // CHECK CONSTRAINTS (Delta's
                                       // table constraints / ANSI
                                       // CHECK): name → predicate SQL.
                                       // Added by ALTER TABLE ADD
                                       // CONSTRAINT after a one-pass
                                       // validation of existing rows;
                                       // every data-adding write path
                                       // enforces them in a single
                                       // codegen'd pass fused with the
                                       // epoch write (a violating row
                                       // fails the whole commit — ANSI
                                       // semantics: NULL predicates
                                       // pass). Ride every commit
                                       // forward like tags; a rebase
                                       // over a concurrent constraint
                                       // change conflicts loudly (the
                                       // batch was validated under the
                                       // OLD set).
                                       checks: Map[String, String] =
                                         Map.empty,
                                       // INCREMENTAL NDV SKETCHES
                                       // (Iceberg puffin theta/HLL
                                       // sketches, maintained like
                                       // Delta's stats-on-write):
                                       // per-column base64 DataSketches
                                       // HLL, recorded by ANALYZE and
                                       // UNIONED with each commit's
                                       // written-rows sketch — one
                                       // narrow agg job ∝ batch, never
                                       // ∝ corpus — so `colStats.ndv`
                                       // stays fresh on a hot table
                                       // instead of rotting until the
                                       // next full ANALYZE. HLL never
                                       // subtracts: under deletes the
                                       // NDV is an upper bound (the
                                       // safe direction — the gate's
                                       // statsRows drift check still
                                       // applies). Empty ⇔ table not
                                       // ANALYZEd with sketches.
                                       colSketches: Map[String, String] =
                                         Map.empty,
                                       // IDENTITY columns (GENERATED BY
                                       // DEFAULT AS IDENTITY): per
                                       // column the HIGH-WATER value —
                                       // the largest (step>0) /
                                       // smallest (step<0) value any
                                       // commit has stored, explicit or
                                       // assigned. NULL inputs get
                                       // fresh values past it; the
                                       // commit CAS conflicts when a
                                       // concurrent writer moved it
                                       // (overlapping reservations must
                                       // re-run, never collide). Spec
                                       // (start/step) lives in the
                                       // schema's field metadata.
                                       idhw: Map[String, Long] =
                                         Map.empty,
                                       // EQUI-HEIGHT HISTOGRAMS (ANALYZE
                                       // — Spark's own histogram shape):
                                       // per rangeable column, a compact
                                       // "height|lo,hi,ndv;..." record
                                       // in the canonical internal
                                       // domain (days / micros /
                                       // numeric as double). Served to
                                       // the CBO with the other column
                                       // stats (same freshness gate) so
                                       // selectivity on SKEWED columns
                                       // tracks the real distribution
                                       // instead of uniform-NDV
                                       // assumptions. ESTIMATES pinned
                                       // to statsVersion, carried
                                       // forward like colStats.
                                       colHists: Map[String, String] =
                                         Map.empty,
                                       // EQUALITY DELETES (Iceberg v2
                                       // equality-delete files): per
                                       // bucket, ordered sidecar
                                       // records of DOOMED KEYS — each
                                       // kills matching rows in the
                                       // bucket's epochs with ordinal
                                       // < upTo (base = 0, overlays in
                                       // append order). Written by the
                                       // write-only MoR upsert/delete
                                       // (no position-resolving probe
                                       // read in the write path — the
                                       // trickle-CDC shape); format
                                       // reads filter them by a
                                       // broadcast anti-join, the
                                       // native catalog scan resolves
                                       // them to row positions at plan
                                       // time, any full bucket rewrite
                                       // purges. See [[EqDel]].
                                       eqds: Map[Int, Seq[EqDel]] =
                                         Map.empty,
                                       // EQUALITY-DELETE policy (opt-in
                                       // at creation; requires
                                       // deleteVectors): when true,
                                       // small keyed upserts/deletes
                                       // commit doomed-KEY sidecars
                                       // instead of probing stored rows
                                       // for positions — the write path
                                       // never reads.
                                       eqDeletes: Boolean = false,
                                       // MANIFEST SEGMENTATION
                                       // bookkeeping (Iceberg's manifest
                                       // list, adapted to this CAS): the
                                       // ordered content hashes of the
                                       // `_seg/` files this manifest was
                                       // read from / written with, one
                                       // per bucket range. NOT part of
                                       // the logical table state — it
                                       // rides `.copy()` only as a
                                       // REUSE HINT for the next commit
                                       // (reuse is granted solely by
                                       // payload equality, never by the
                                       // hint alone) and as gc's live-
                                       // segment root set when read
                                       // from disk. Empty ⇔ inline
                                       // manifest.
                                       segs: Seq[String] = Seq.empty,
                                       // SHREDDED VARIANT PATHS
                                       // (declared at creation): typed
                                       // extractions of a VARIANT
                                       // column materialized as HIDDEN
                                       // physical columns in every
                                       // epoch file, so variant-path
                                       // predicates ride the ordinary
                                       // per-file min/max + Bloom
                                       // skipping. See [[ShredSpec]].
                                       shredCols: Seq[ShredSpec] =
                                         Seq.empty) {
    /** The recorded schema, parsed. */
    lazy val struct: StructType =
      DataType.fromJson(schema).asInstanceOf[StructType]
  }

  /** One equality-delete record of a bucket (see [[Manifest.eqds]]):
    * `sidecar` names a parquet directory under `_eqd/` holding the
    * doomed key tuples (typed exactly as the table's key columns,
    * field-id stamped like any epoch file so renames stay metadata-
    * only); `upTo` is the count of the bucket's live epochs (base +
    * overlays) at commit time — the record kills matching rows ONLY in
    * epochs with ordinal < upTo, so the same commit's own overlay (and
    * every later one) is exempt, exactly Iceberg's sequence-number
    * scoping; `n` is the doomed-key count (pressure accounting).
    */
  private[sources] case class EqDel(sidecar: String, upTo: Int, n: Long)

  /** One declared SHREDDED VARIANT PATH (see [[Manifest.shredCols]]) —
    * the file-skipping answer to "every variant-path predicate scans
    * all files" while Spark's `PushVariantIntoScan` covers only the V1
    * read path (parquet write-shredding, `VariantMetadata` — the same
    * idea at row-group granularity; this is its FILE-granularity
    * counterpart on the manifest's own stats machinery). `column` names
    * a declared VARIANT column, `path` a variant extraction path
    * (`$.status`), `typeDdl` the extraction's target type. Every epoch
    * write materializes `try_variant_get(column, path, typeDdl)` as a
    * hidden physical parquet column ([[shredColName]] — present in the
    * files, absent from the table schema, invisible to every read), so
    * the ordinary footer min/max stats and Bloom sidecars cover it; the
    * scan's file listing rewrites a matching `variant_get`/
    * `try_variant_get` predicate to that hidden column and prunes files
    * through the SAME keep functions as any declared column.
    *
    * Boundary, stated plainly: shredding is declared at CREATE (the
    * values live in immutable files — files written before a
    * declaration simply record no stats under the hidden name and are
    * never pruned, which is sound but useless, so declare up front);
    * and the hidden values carry TRY semantics (`try_variant_get` —
    * ingest must not fail on one uncastable row), so pruning a file can
    * elide the per-row cast error the STRICT `variant_get` form would
    * have raised for a row inside it. Row RESULTS are unaffected
    * either way: a null extraction matches no equality/range predicate.
    */
  private[sources] case class ShredSpec(column: String, path: String,
                                        typeDdl: String) {
    def dataType: DataType =
      org.apache.spark.sql.catalyst.parser.CatalystSqlParser
        .parseDataType(typeDdl)
  }

  /** The hidden physical column name of one shred declaration —
    * deterministic, readable, and collision-proofed by a content hash
    * (two paths that sanitize identically still get distinct names).
    * Derived from the LOGICAL column name: a rename changes the name
    * for future epochs, old files' recorded stats stay keyed under the
    * old name and simply never prune (sound).
    */
  private[sources] def shredColName(s: ShredSpec): String = {
    def sane(x: String): String = x.map(c =>
      if (c.isLetterOrDigit) c else '_')
    val d = java.security.MessageDigest.getInstance("SHA-256")
      .digest((s.column + "|" + s.path + "|" + s.typeDdl.toLowerCase)
        .getBytes(StandardCharsets.UTF_8))
    val h = d.take(4).map(b => f"${b & 0xff}%02x").mkString
    s"_gshred_${sane(s.column)}_${sane(s.path.stripPrefix("$."))}_$h"
  }

  /** The shred-declaration validity rules, shared by [[createTable]]
    * and the CTAS seed path: column exists and is VARIANT, path is a
    * `$`-rooted extraction, type parses and canonicalizes into the
    * stats domain, hidden names are collision-free.
    */
  private def validateShred(schema: StructType, shred: Seq[ShredSpec],
                            stmt: String): Unit = {
    shred.foreach { s =>
      val f = schema.fields.find(_.name == s.column)
      require(f.isDefined, s"$stmt: shred column '${s.column}' is " +
        "not in the declared schema")
      require(f.get.dataType ==
          org.apache.spark.sql.types.VariantType,
        s"$stmt: shred column '${s.column}' must be VARIANT, got " +
          f.get.dataType.simpleString)
      require(s.path.startsWith("$"),
        s"$stmt: shred path '${s.path}' must start with '$$'")
      val dt = scala.util.Try(s.dataType).getOrElse(
        throw new IllegalArgumentException(
          s"$stmt: shred path '${s.path}' has an unparseable " +
            s"type '${s.typeDdl}'"))
      require(statsCanonType(dt),
        s"$stmt: shred path '${s.path}' type ${dt.simpleString} " +
          "cannot feed min/max stats — use an integral, floating, " +
          "string, date or timestamp_ntz type")
      // TIMESTAMP (with local time zone) is excluded from SHRED
      // eligibility even though ordinary column stats handle it fine:
      // JSON-ingested variants store timestamps as STRINGS, and the
      // write-time `try_variant_get(col, path, 'timestamp')`
      // materialization casts string→timestamp under the WRITER
      // session's zone. A reader in a different zone evaluates the
      // same extraction to a different instant than the recorded
      // min/max/Bloom values — the one shred case where pruning would
      // not be conservative (a file holding matching rows could be
      // skipped). TIMESTAMP_NTZ has no zone in either direction.
      require(dt != org.apache.spark.sql.types.TimestampType,
        s"$stmt: shred path '${s.path}' cannot use TIMESTAMP — the " +
          "string→timestamp extraction is session-timezone-dependent, " +
          "so recorded file stats could disagree with a reader in a " +
          "different zone and prune matching files. Use TIMESTAMP_NTZ")
    }
    require(shred.map(shredColName).distinct.size == shred.size,
      s"$stmt: duplicate shred declarations")
    shred.map(shredColName).foreach(n =>
      require(!schema.fieldNames.contains(n),
        s"$stmt: declared column '$n' collides with a shred " +
          "column's hidden physical name"))
  }

  /** Parse the catalog's `shred` TBLPROPERTY against a declared schema:
    * comma-separated entries `[<col>.]$.<path>:<type>` — the column
    * prefix may be omitted when the schema declares exactly ONE VARIANT
    * column. Validation (column exists and is VARIANT, type parses and
    * canonicalizes) happens in [[createTable]]; this only resolves the
    * grammar.
    */
  private[sources] def parseShredProperty(entries: Seq[String],
                                          schema: StructType)
      : Seq[ShredSpec] = entries.map { e0 =>
    val e = e0.trim
    val ci = e.lastIndexOf(':')
    require(ci > 0 && ci < e.length - 1,
      s"shred: bad entry '$e' — want [col.]$$.path:type")
    val (lhs, ty) = (e.substring(0, ci).trim, e.substring(ci + 1).trim)
    if (lhs.startsWith("$")) {
      val vcols = schema.fields.filter(_.dataType ==
        org.apache.spark.sql.types.VariantType)
      require(vcols.length == 1,
        s"shred: entry '$e' omits the column name but the schema " +
          s"declares ${vcols.length} VARIANT columns — qualify as " +
          "<col>.$.path:type")
      ShredSpec(vcols.head.name, lhs, ty)
    } else {
      val di = lhs.indexOf(".$")
      require(di > 0,
        s"shred: bad entry '$e' — want [col.]$$.path:type")
      ShredSpec(lhs.substring(0, di), lhs.substring(di + 1), ty)
    }
  }

  /** hidden-column name → declared extraction type, for the keep
    * functions' bound canonicalization (the table schema doesn't carry
    * these columns).
    */
  private[sources] def shredTypesOf(man: Manifest): Map[String, DataType] =
    man.shredCols.map(s => shredColName(s) -> s.dataType).toMap

  /** Materialize the hidden shred columns onto a frame about to be
    * written as epoch files (drop-then-recompute: a rewrite source that
    * read raw files may already carry them; recomputation is a pure
    * projection, so the clustered sort order and partitioning are
    * preserved). A spec whose variant column is absent from the frame
    * (partial-projection internal writes) is skipped — its stats are
    * simply not recorded for this epoch, which only disables pruning.
    */
  private def withShredCols(df: DataFrame, shred: Seq[ShredSpec])
      : DataFrame = {
    if (shred.isEmpty) return df
    val dropped = df.drop(shred.map(shredColName): _*)
    shred.foldLeft(dropped) { (d, s) =>
      if (d.columns.contains(s.column))
        d.withColumn(shredColName(s),
          org.apache.spark.sql.functions.try_variant_get(
            col(s.column), s.path, s.typeDdl))
      else d
    }
  }

  /** One column's table-level statistics record (see
    * [[Manifest.colStats]]): NDV is approximate (HyperLogLog++ at the
    * default 5% rsd — the CBO input every engine estimates), null count
    * and lengths exact at analyze time, min/max in the same canonical
    * string domain as the per-file stats ("" = not computable for the
    * type). All values describe the LIVE rows of `statsVersion`.
    */
  private[sources] case class ColStat(ndv: Long, nulls: Long,
                                      avgLen: Long, maxLen: Long,
                                      min: String = "", max: String = "")

  /** Fail a keyed operation whose key list disagrees with the recorded
    * one (see [[Manifest.keyCols]]). A legacy manifest with no recorded
    * keys accepts any list (and records it at the next commit).
    */
  private def validateKeys(man: Manifest, keys: Seq[String], op: String): Unit =
    require(man.keyCols.isEmpty || man.keyCols == keys,
      s"$op: supplied key columns ${keys.mkString("(", ",", ")")} do not " +
        s"match the table's recorded merge keys " +
        s"${man.keyCols.mkString("(", ",", ")")} (order matters: the " +
        "key hash is order-sensitive, so a reordered list re-bins rows " +
        "under a hash future merges will not compute)")

  private def fsFor(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def manifestFiles(fs: FileSystem, dir: Path,
                            prefix: String = ManifestPrefix): Seq[(Long, Path)] =
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.map(_.getPath)
      .filter(p => p.getName.startsWith(prefix) &&
        p.getName.endsWith(".json"))
      // a stray non-numeric manifest-like name (someone's _manifest-backup
      // .json) must not take every read and merge of the table down with a
      // NumberFormatException — skip it, it is not part of the protocol
      .flatMap { p =>
        scala.util.Try(p.getName.stripPrefix(prefix)
          .stripSuffix(".json").toLong).toOption.map(v => (v, p))
      }
      .sortBy(_._1)

  private def readJsonFile(
      fs: FileSystem, p: Path): com.fasterxml.jackson.databind.JsonNode = {
    val in = fs.open(p)
    val bytes = try org.apache.commons.io.IOUtils.toByteArray(in) finally in.close()
    new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new String(bytes, StandardCharsets.UTF_8))
  }

  // ---- per-bucket fragment parsers (shared by the inline manifest and
  // ---- the `_seg/` segment files of a segmented manifest) ------------

  private def parseEpochsNode(
      n: com.fasterxml.jackson.databind.JsonNode): Map[Int, String] = {
    val epochs = scala.collection.mutable.Map.empty[Int, String]
    Option(n).foreach(_.fields().forEachRemaining { e =>
      epochs(e.getKey.toInt) = e.getValue.asText()
    })
    epochs.toMap
  }

  private def parseStatsNode(
      n: com.fasterxml.jackson.databind.JsonNode): Map[Int, Seq[FileStat]] = {
    def strMap(x: com.fasterxml.jackson.databind.JsonNode)
        : Map[String, String] = {
      val m = scala.collection.mutable.Map.empty[String, String]
      Option(x).foreach(_.fields().forEachRemaining(e =>
        m(e.getKey) = e.getValue.asText()))
      m.toMap
    }
    val stats = scala.collection.mutable.Map.empty[Int, Seq[FileStat]]
    Option(n).foreach(_.fields().forEachRemaining { b =>
      val arr = b.getValue
      stats(b.getKey.toInt) = (0 until arr.size()).map { i =>
        val f = arr.get(i)
        val nulls = scala.collection.mutable.Map.empty[String, Long]
        // absent in pre-nullcount manifests — backward compatible
        Option(f.get("nulls")).foreach(_.fields().forEachRemaining(e =>
          nulls(e.getKey) = e.getValue.asLong()))
        FileStat(f.get("f").asText(), f.get("b").asLong(), f.get("r").asLong(),
          strMap(f.get("min")), strMap(f.get("max")), nulls.toMap,
          // absent in pre-fingerprint manifests — backward compatible
          Option(f.get("h")).map(_.asText()).getOrElse(""),
          // absent in pre-deletion-vector manifests — backward compatible
          Option(f.get("dv")).map(_.asText()).getOrElse(""),
          Option(f.get("dvn")).map(_.asLong()).getOrElse(0L),
          // absent for base-epoch files — backward compatible
          Option(f.get("e")).map(_.asText()).getOrElse(""))
      }
    })
    stats.toMap
  }

  private def parseOvlNode(
      n: com.fasterxml.jackson.databind.JsonNode): Map[Int, Seq[String]] =
    Option(n).map { x =>
      val b = Map.newBuilder[Int, Seq[String]]
      x.fields().forEachRemaining { e =>
        val arr = e.getValue
        b += e.getKey.toInt ->
          (0 until arr.size()).map(arr.get(_).asText())
      }
      b.result()
    }.getOrElse(Map.empty)

  private def parseEqdsNode(
      n: com.fasterxml.jackson.databind.JsonNode): Map[Int, Seq[EqDel]] =
    Option(n).map { x =>
      val b = Map.newBuilder[Int, Seq[EqDel]]
      x.fields().forEachRemaining { e =>
        val arr = e.getValue
        b += e.getKey.toInt -> (0 until arr.size()).map { i =>
          val d = arr.get(i)
          EqDel(d.get("s").asText(), d.get("u").asInt(),
            d.get("n").asLong())
        }
      }
      b.result()
    }.getOrElse(Map.empty)

  /** THE PROTOCOL FLOOR: a table manifest (or a group member) records
    * its schema and its field-id map. Everything below it — pre-schema,
    * pre-field-id — is refused at parse; [[upgrade]] rewrites it.
    */
  private def atFloor(node: com.fasterxml.jackson.databind.JsonNode): Boolean =
    node.has("schema") && node.has("cids")

  /** The refusal of a table below the protocol floor. */
  private def belowFloor(where: String, what: String): IllegalStateException =
    new IllegalStateException(s"$where: $what is below the manifest " +
      "protocol floor — rewrite it with CALL <catalog>.system.upgrade(" +
      "table => '...') or MergeWriter.upgrade(spark, path, keys)")

  private def manifestFromNode(node: com.fasterxml.jackson.databind.JsonNode,
                               version: Long, where: String): Manifest = {
    if (!atFloor(node)) throw belowFloor(where,
      s"manifest version $version (no recorded schema or field ids)")
    val epochs = parseEpochsNode(node.get("epochs"))
    val txns = scala.collection.mutable.Map.empty[String, Long]
    // absent in pre-txn manifests — backward compatible
    Option(node.get("txns")).foreach(_.fields().forEachRemaining { t =>
      txns(t.getKey) = t.getValue.asLong()
    })
    // absent when empty (`keys` on a keyless table)
    def strArr(field: String): Seq[String] =
      Option(node.get(field)).map { arr =>
        (0 until arr.size()).map(arr.get(_).asText())
      }.getOrElse(Seq.empty)
    def strMap(n: com.fasterxml.jackson.databind.JsonNode): Map[String, String] = {
      val m = scala.collection.mutable.Map.empty[String, String]
      Option(n).foreach(_.fields().forEachRemaining(e =>
        m(e.getKey) = e.getValue.asText()))
      m.toMap
    }
    // absent in pre-stats manifests — backward compatible
    val stats = parseStatsNode(node.get("stats"))
    Manifest(version, node.get("buckets").asInt(), epochs, txns.toMap,
      node.get("schema").asText(), strArr("keys"), strArr("cluster"), stats,
      // absent in pre-bloom manifests — backward compatible
      strArr("bloomcols"),
      Option(node.get("bloomn")).map(_.asLong()).getOrElse(DefaultBloomItems),
      // absent in pre-commitInfo manifests — backward compatible
      Option(node.get("op")).map(_.asText()).getOrElse(""),
      Option(node.get("ts")).map(_.asLong()).getOrElse(0L),
      // absent in pre-retention manifests — backward compatible
      Option(node.get("retainv")).map(_.asInt()).getOrElse(KeepManifests),
      Option(node.get("retainms")).map(_.asLong()).getOrElse(0L),
      // absent in pre-fingerprint manifests — backward compatible
      Option(node.get("fpr")).exists(_.asBoolean()),
      // absent in pre-enforcement manifests — those epochs carry no
      // NULL-key proof, so the flag correctly reads false
      Option(node.get("kchk")).exists(_.asBoolean()),
      {
        val b = Map.newBuilder[String, Long]
        node.get("cids").fields()
          .forEachRemaining(e => b += e.getKey -> e.getValue.asLong())
        b.result()
      },
      node.get("ncid").asLong(),
      // absent in pre-deletion-vector manifests — backward compatible
      Option(node.get("dvs")).exists(_.asBoolean()),
      // absent in pre-ANALYZE manifests — backward compatible
      Option(node.get("cstats")).map { n =>
        val b = Map.newBuilder[String, ColStat]
        n.fields().forEachRemaining { e =>
          val v = e.getValue
          b += e.getKey -> ColStat(v.get("ndv").asLong(),
            v.get("nulls").asLong(), v.get("avg").asLong(),
            v.get("maxl").asLong(),
            Option(v.get("min")).map(_.asText()).getOrElse(""),
            Option(v.get("max")).map(_.asText()).getOrElse(""))
        }
        b.result()
      }.getOrElse(Map.empty),
      Option(node.get("cstatsv")).map(_.asLong()).getOrElse(0L),
      Option(node.get("cstatsr")).map(_.asLong()).getOrElse(0L),
      // absent in pre-tag manifests — backward compatible
      Option(node.get("tags")).map { n =>
        val b = Map.newBuilder[String, Long]
        n.fields().forEachRemaining(e => b += e.getKey -> e.getValue.asLong())
        b.result()
      }.getOrElse(Map.empty),
      // absent in pre-overlay manifests — backward compatible
      parseOvlNode(node.get("ovl")),
      // set only on branch-staged manifests — backward compatible
      Option(node.get("bbase")).map(_.asLong()).getOrElse(-1L),
      // absent in pre-constraint manifests — backward compatible
      strMap(node.get("checks")),
      // absent in pre-sketch manifests — backward compatible
      strMap(node.get("csk")),
      // absent in pre-identity manifests — backward compatible
      Option(node.get("idhw")).map { n =>
        val b = Map.newBuilder[String, Long]
        n.fields().forEachRemaining(e => b += e.getKey -> e.getValue.asLong())
        b.result()
      }.getOrElse(Map.empty),
      // absent in pre-histogram manifests — backward compatible
      strMap(node.get("chist")),
      // absent in pre-equality-delete manifests — backward compatible
      parseEqdsNode(node.get("eqds")),
      Option(node.get("eqdel")).exists(_.asBoolean()))
      // absent in pre-shred manifests — backward compatible
      .copy(shredCols = Option(node.get("shred")).map { arr =>
        (0 until arr.size()).map { i =>
          val e = arr.get(i)
          ShredSpec(e.get("c").asText(), e.get("p").asText(),
            e.get("t").asText())
        }
      }.getOrElse(Seq.empty))
  }

  /** Parsed-manifest cache. A manifest file is WRITE-ONCE (commit
    * publishes via link/rename with no-overwrite semantics, and nothing
    * ever rewrites a published `_manifest-N.json` in place), so its
    * path + (mtime, len) identity is stable; the stat probe both
    * validates the entry and preserves "deleted version fails loudly"
    * (a gc'd manifest stats as missing, never serves from cache).
    * Every commit runs gc + auto-split/compact probes, each of which
    * re-read manifests — without the cache one commit parses O(retained
    * versions) stats-heavy JSONs, an O(commits²) driver tax per table.
    * Group manifests share it: table and group manifest files carry
    * distinct name prefixes, so a path always holds one kind.
    */
  private val manifestCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, (Long, Long, Long, AnyRef)](
      64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, (Long, Long, Long, AnyRef)]): Boolean =
        size() > 512
    })

  /** The parsed manifest at `p` (table or group), served from
    * [[manifestCache]] while the file's (mtime, len) still match.
    */
  private def cachedManifest[A <: AnyRef](fs: FileSystem, version: Long,
                                          p: Path)(parse: => A): A = {
    val st = fs.getFileStatus(p)
    val key = p.toString
    val hit = manifestCache.get(key)
    if (hit != null && hit._1 == st.getModificationTime &&
        hit._2 == st.getLen && hit._3 == version)
      return hit._4.asInstanceOf[A]
    val m = parse
    manifestCache.put(key, (st.getModificationTime, st.getLen, version, m))
    m
  }

  private def readManifest(fs: FileSystem, version: Long, p: Path): Manifest =
    cachedManifest(fs, version, p)(readManifestUncached(fs, version, p))

  private def readManifestUncached(fs: FileSystem, version: Long,
                                   p: Path): Manifest = {
    val node = readJsonFile(fs, p)
    val base = manifestFromNode(node, version, p.getParent.toString)
    Option(node.get("segs")) match {
      case None => base
      case Some(arr) =>
        // segmented head: per-bucket state lives in content-addressed
        // `_seg/` files — fetch only what the process cache lacks
        val dir = p.getParent
        val hashes = (0 until arr.size()).map(arr.get(_).asText())
        val pays = hashes.map(h => loadSegment(fs, dir, h))
        base.copy(
          epochs = pays.iterator.map(_.epochs).fold(Map.empty)(_ ++ _),
          stats = pays.iterator.map(_.stats).fold(Map.empty)(_ ++ _),
          overlays = pays.iterator.map(_.ovl).fold(Map.empty)(_ ++ _),
          eqds = pays.iterator.map(_.eqds).fold(Map.empty)(_ ++ _),
          segs = hashes)
    }
  }

  private def currentManifest(fs: FileSystem, dir: Path): Option[Manifest] =
    manifestFiles(fs, dir).lastOption.map { case (v, p) => readManifest(fs, v, p) }

  /** Cheap "is this directory a committed graft table?" probe — one
    * listing, no manifest parse (the catalog's table-vs-namespace test).
    */
  private[sources] def hasManifest(fs: FileSystem, dir: Path): Boolean =
    manifestFiles(fs, dir).nonEmpty

  /** Atomic commit: stage the manifest JSON under a dot-file (invisible to
    * readers), then publish it with an atomic no-overwrite primitive — on
    * a local filesystem a POSIX hard link (`link(2)` refuses an existing
    * target, unlike `rename(2)`, which silently replaces it), on HDFS-like
    * stores the rename, whose contract refuses overwrite. Either way a
    * racing or replayed committer targeting the same version fails loudly
    * instead of clobbering a committed manifest.
    */
  // ---- per-bucket fragment serializers (shared by the inline manifest
  // ---- and the `_seg/` segment files of a segmented manifest) --------

  private def epochsJsonObj(epochs: Map[Int, String]): String =
    epochs.toSeq.sortBy(_._1)
      .map { case (b, e) => "\"" + b + "\":\"" + e + "\"" }
      .mkString("{", ",", "}")

  private def statsJsonObj(stats: Map[Int, Seq[FileStat]]): String = {
    def obj(kv: Map[String, String]): String =
      kv.toSeq.sortBy(_._1).map { case (k, v) =>
        jsonStr(k) + ":" + jsonStr(v) }.mkString("{", ",", "}")
    stats.toSeq.sortBy(_._1).map { case (b, fss) =>
      "\"" + b + "\":[" + fss.map(fs =>
        "{\"f\":" + jsonStr(fs.name) + ",\"b\":" + fs.bytes +
          ",\"r\":" + fs.rows + ",\"min\":" + obj(fs.mins) +
          ",\"max\":" + obj(fs.maxs) +
          (if (fs.nulls.isEmpty) "" else
            ",\"nulls\":" + fs.nulls.toSeq.sortBy(_._1)
              .map { case (k, v) => jsonStr(k) + ":" + v }
              .mkString("{", ",", "}")) +
          (if (fs.fp.isEmpty) "" else ",\"h\":" + jsonStr(fs.fp)) +
          (if (fs.dv.isEmpty) "" else
            ",\"dv\":" + jsonStr(fs.dv) + ",\"dvn\":" + fs.dvn) +
          (if (fs.e.isEmpty) "" else ",\"e\":" + jsonStr(fs.e)) +
          "}").mkString(",") + "]"
    }.mkString("{", ",", "}")
  }

  private def ovlJsonObj(ovl: Map[Int, Seq[String]]): String =
    ovl.toSeq.sortBy(_._1).map { case (b, es) =>
      "\"" + b + "\":[" + es.map(jsonStr).mkString(",") + "]"
    }.mkString("{", ",", "}")

  private def eqdsJsonObj(eqds: Map[Int, Seq[EqDel]]): String =
    eqds.toSeq.filter(_._2.nonEmpty).sortBy(_._1)
      .map { case (b, ds) =>
        "\"" + b + "\":[" + ds.map(d =>
          "{\"s\":" + jsonStr(d.sidecar) + ",\"u\":" + d.upTo +
            ",\"n\":" + d.n + "}").mkString(",") + "]"
      }.mkString("{", ",", "}")

  private def manifestBody(m: Manifest): String =
    new StringBuilder()
      .append("{\"buckets\":").append(m.buckets).append(",\"epochs\":")
      .append(epochsJsonObj(m.epochs))
      .append(",\"txns\":{")
      // app ids are writer-chosen: escape them like any JSON string
      .append(m.txns.toSeq.sortBy(_._1).map { case (a, v) =>
        jsonStr(a) + ":" + v
      }.mkString(","))
      .append("}")
      .append(",\"schema\":").append(jsonStr(m.schema))
      .append(if (m.keyCols.nonEmpty)
        ",\"keys\":[" + m.keyCols.map(jsonStr).mkString(",") + "]" else "")
      .append(if (m.clusterCols.nonEmpty)
        ",\"cluster\":[" + m.clusterCols.map(jsonStr).mkString(",") + "]"
        else "")
      .append(if (m.bloomCols.nonEmpty)
        ",\"bloomcols\":[" + m.bloomCols.map(jsonStr).mkString(",") + "]" +
          ",\"bloomn\":" + m.bloomItems
        else "")
      .append(if (m.op.nonEmpty)
        ",\"op\":" + jsonStr(m.op) + ",\"ts\":" + m.opTs else "")
      .append(if (m.retainVersions != KeepManifests)
        ",\"retainv\":" + m.retainVersions else "")
      .append(if (m.retainMs != 0L) ",\"retainms\":" + m.retainMs else "")
      .append(if (m.fingerprint) ",\"fpr\":true" else "")
      .append(if (m.keysChecked) ",\"kchk\":true" else "")
      .append(if (m.deleteVectors) ",\"dvs\":true" else "")
      .append(if (m.colStats.isEmpty) "" else
        ",\"cstats\":{" + m.colStats.toSeq.sortBy(_._1).map { case (c, s) =>
          jsonStr(c) + ":{\"ndv\":" + s.ndv + ",\"nulls\":" + s.nulls +
            ",\"avg\":" + s.avgLen + ",\"maxl\":" + s.maxLen +
            (if (s.min.isEmpty) "" else ",\"min\":" + jsonStr(s.min)) +
            (if (s.max.isEmpty) "" else ",\"max\":" + jsonStr(s.max)) + "}"
        }.mkString(",") + "}" +
          ",\"cstatsv\":" + m.statsVersion +
          ",\"cstatsr\":" + m.statsRows)
      .append(if (m.tags.isEmpty) "" else
        ",\"tags\":{" + m.tags.toSeq.sortBy(_._1).map { case (t, v) =>
          jsonStr(t) + ":" + v }.mkString(",") + "}")
      .append(if (m.overlays.isEmpty) "" else
        ",\"ovl\":" + ovlJsonObj(m.overlays))
      .append(",\"cids\":{" + m.colIds.toSeq.sortBy(_._1).map {
        case (c, id) => jsonStr(c) + ":" + id }.mkString(",") + "}" +
        ",\"ncid\":" + m.nextColId)
      .append(if (m.stats.nonEmpty) ",\"stats\":" + statsJsonObj(m.stats)
        else "")
      .append(if (m.branchBase < 0L) "" else ",\"bbase\":" + m.branchBase)
      .append(if (m.checks.isEmpty) "" else
        ",\"checks\":{" + m.checks.toSeq.sortBy(_._1).map { case (n, p) =>
          jsonStr(n) + ":" + jsonStr(p) }.mkString(",") + "}")
      .append(if (m.colSketches.isEmpty) "" else
        ",\"csk\":{" + m.colSketches.toSeq.sortBy(_._1).map { case (c, s) =>
          jsonStr(c) + ":" + jsonStr(s) }.mkString(",") + "}")
      .append(if (m.idhw.isEmpty) "" else
        ",\"idhw\":{" + m.idhw.toSeq.sortBy(_._1).map { case (c, v) =>
          jsonStr(c) + ":" + v }.mkString(",") + "}")
      .append(if (m.colHists.isEmpty) "" else
        ",\"chist\":{" + m.colHists.toSeq.sortBy(_._1).map { case (c, h) =>
          jsonStr(c) + ":" + jsonStr(h) }.mkString(",") + "}")
      .append(if (m.eqds.forall(_._2.isEmpty)) "" else
        ",\"eqds\":" + eqdsJsonObj(m.eqds))
      .append(if (m.eqDeletes) ",\"eqdel\":true" else "")
      .append(if (m.shredCols.isEmpty) "" else
        ",\"shred\":[" + m.shredCols.map(s =>
          "{\"c\":" + jsonStr(s.column) + ",\"p\":" + jsonStr(s.path) +
            ",\"t\":" + jsonStr(s.typeDdl) + "}").mkString(",") + "]")
      .append("}").toString()

  // ==== MANIFEST SEGMENTATION =============================================
  //
  // The full-snapshot manifest carries every bucket's epoch pointer, file
  // stats, overlay list and eq-delete records — O(buckets) bytes. Below
  // [[SegInlineMaxBuckets]] that is a few KB and ONE file per commit is
  // the right design. Past it, a 10-row trickle commit would rewrite (and
  // every reader re-parse) metadata proportional to the TABLE, not the
  // change — the one structural scale-killer at 10⁵–10⁶ buckets. So a
  // large table's manifest splits the Iceberg way: the `_manifest-<v>`
  // HEAD keeps the table-level fields plus an ordered list of per-bucket-
  // range SEGMENT hashes (`segw`/`segs`), and the per-bucket state lives
  // in content-addressed `_seg/seg-<sha256/128>.json` files. A commit
  // serializes and writes ONLY the ranges whose state changed — an
  // unchanged range's hash is reused straight from the base manifest
  // (granted by payload equality against the process-wide segment cache,
  // never by lineage alone) — so commit metadata I/O is
  // O(head + touched ranges), and reads fetch only segments they have
  // not already cached (segments are immutable: cache hits are exact).
  // Crash-safety: segments are published BEFORE the head that references
  // them through the same no-overwrite primitive (identical content ⇒ a
  // lost race is a win), a crashed commit leaves orphan segments for
  // gc's age guard, and gc keeps every segment referenced by a retained
  // head (main, branch, or tagged). See PROTOCOL.md "Manifest
  // segmentation".

  /** Largest bucket modulus that keeps the single-file inline manifest.
    * Above it, commits write segmented manifests. Readers accept both
    * formats regardless (the head self-describes via `segs`).
    */
  private[sources] val SegInlineMaxBuckets = 64

  /** Bucket-range width of one segment: fixed 64 while the segment
    * count stays small, widening past 4096×64 buckets so the head's
    * hash list stays bounded (≤ ~4096 hashes ≈ 140 KB) at any modulus.
    */
  private[sources] def segWidth(buckets: Int): Int =
    math.max(SegInlineMaxBuckets, (buckets + 4095) / 4096)

  private[sources] val SegDirName = "_seg"

  /** One segment's per-bucket state — exactly the four Manifest maps,
    * restricted to the segment's bucket range (eqds canonicalized to
    * non-empty entries, matching the inline serializer).
    */
  private case class SegPayload(epochs: Map[Int, String],
                                stats: Map[Int, Seq[FileStat]],
                                ovl: Map[Int, Seq[String]],
                                eqds: Map[Int, Seq[EqDel]])

  /** Process-wide segment cache, keyed by (table dir, content hash).
    * Segments are immutable (content-addressed), so entries never go
    * stale; the LRU bound caps driver memory on wide scans of many
    * tables.
    */
  private val segCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, SegPayload](256, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, SegPayload]): Boolean =
        size() > 16384
    })

  private def segBody(p: SegPayload): String = {
    val sb = new StringBuilder("{\"epochs\":")
    sb.append(epochsJsonObj(p.epochs))
    if (p.stats.nonEmpty) sb.append(",\"stats\":").append(statsJsonObj(p.stats))
    if (p.ovl.nonEmpty) sb.append(",\"ovl\":").append(ovlJsonObj(p.ovl))
    if (p.eqds.nonEmpty) sb.append(",\"eqds\":").append(eqdsJsonObj(p.eqds))
    sb.append("}").toString()
  }

  private def parseSegBody(
      node: com.fasterxml.jackson.databind.JsonNode): SegPayload =
    SegPayload(parseEpochsNode(node.get("epochs")),
      parseStatsNode(node.get("stats")),
      parseOvlNode(node.get("ovl")),
      parseEqdsNode(node.get("eqds")))

  /** 128-bit content hash (SHA-256 truncated): the segment's identity.
    * Collision probability at any real segment count is negligible, and
    * a collision would require two DIFFERENT payloads of the same table
    * — the hash is scoped per table directory.
    */
  private def segHash(body: String): String = {
    val d = java.security.MessageDigest.getInstance("SHA-256")
      .digest(body.getBytes(StandardCharsets.UTF_8))
    d.take(16).map(b => f"${b & 0xff}%02x").mkString
  }

  private def segPath(dir: Path, hash: String): Path =
    new Path(new Path(dir, SegDirName), s"seg-$hash.json")

  /** Publish one segment if absent. Content-addressed: a concurrent
    * writer losing the no-overwrite race published the SAME bytes, so a
    * lost CAS is success. A crash mid-publish leaves a `.tmp-seg-`
    * stage file for gc's age guard.
    */
  private def writeSegmentIfAbsent(fs: FileSystem, dir: Path, hash: String,
                                   body: String): Unit = {
    val target = segPath(dir, hash)
    if (fs.exists(target)) return
    val segDir = new Path(dir, SegDirName)
    fs.mkdirs(segDir)
    val tmp = new Path(segDir, s".tmp-seg-${UUID.randomUUID()}")
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    val out = fs.create(tmp, false)
    try out.write(bytes) finally out.close()
    commitPrimitive.putIfAbsent(fs, target, tmp, bytes)
    fs.delete(tmp, false)
  }

  private def loadSegment(fs: FileSystem, dir: Path,
                          hash: String): SegPayload = {
    val key = dir.toString + "|" + hash
    val hit = segCache.get(key)
    if (hit != null) return hit
    val p = segPath(dir, hash)
    val pay = parseSegBody(readJsonFile(fs, p))
    segCache.put(key, pay)
    pay
  }

  /** Split a per-bucket map into per-segment-range maps (one O(n) pass,
    * not O(n × ranges)).
    */
  private def byRange[V](m: Map[Int, V], w: Int): Map[Int, Map[Int, V]] =
    m.groupBy(_._1 / w)

  /** The segmented commit: per-range payloads, reuse-by-equality against
    * the base manifest's hashes (carried on [[Manifest.segs]] as hints),
    * segment publishes for the changed ranges only, then the head CAS.
    */
  private def segmentedPublish(fs: FileSystem, dir: Path, target: Path,
                               m: Manifest): Unit = {
    val w = segWidth(m.buckets)
    val nSeg = math.max(1, (m.buckets + w - 1) / w)
    val epochsR = byRange(m.epochs, w)
    val statsR = byRange(m.stats, w)
    val ovlR = byRange(m.overlays, w)
    val eqdsR = byRange(m.eqds.filter(_._2.nonEmpty), w)
    val dirKey = dir.toString
    // the base manifest's hashes are valid HINTS only if its width
    // matches (a modulus change shifts every range)
    val hints: Map[Int, String] =
      if (m.segs.size == nSeg) m.segs.zipWithIndex.map(_.swap).toMap
      else Map.empty
    val hashes = (0 until nSeg).map { i =>
      val pay = SegPayload(epochsR.getOrElse(i, Map.empty),
        statsR.getOrElse(i, Map.empty), ovlR.getOrElse(i, Map.empty),
        eqdsR.getOrElse(i, Map.empty))
      val reuse = hints.get(i).filter { h =>
        segCache.get(dirKey + "|" + h) == pay
      }
      reuse.getOrElse {
        val body = segBody(pay)
        val h = segHash(body)
        writeSegmentIfAbsent(fs, dir, h, body)
        segCache.put(dirKey + "|" + h, pay)
        h
      }
    }
    val head = manifestBody(m.copy(epochs = Map.empty, stats = Map.empty,
      overlays = Map.empty, eqds = Map.empty, segs = Seq.empty))
    val body = head.dropRight(1) + ",\"segw\":" + w + ",\"segs\":[" +
      hashes.map(jsonStr).mkString(",") + "]}"
    publishAtomically(fs, dir, target, body)
  }

  /** Publish `m` as the next manifest of the table's main lineage or,
    * with `ref`, of a branch — inline below the bucket threshold,
    * segmented above it. The ONE seam branch-targeted writes differ by:
    * same epoch staging, same commit loop, different manifest lineage.
    * Only [[tableTarget]] calls it.
    */
  private def refCommit(fs: FileSystem, dir: Path, ref: Option[String],
                        m: Manifest): Unit = {
    val target = new Path(dir,
      f"${ref.fold(ManifestPrefix)(branchManPrefix)}${m.version}%016d.json")
    if (m.buckets > SegInlineMaxBuckets) segmentedPublish(fs, dir, target, m)
    else publishAtomically(fs, dir, target, manifestBody(m))
  }

  private def refCurrent(fs: FileSystem, dir: Path,
                         ref: Option[String]): Option[Manifest] = ref match {
    case None => currentManifest(fs, dir)
    case Some(b) => branchHead(fs, dir, b)
  }

  private def refManifestFiles(fs: FileSystem, dir: Path,
                               ref: Option[String]): Seq[(Long, Path)] =
    ref match {
      case None => manifestFiles(fs, dir)
      case Some(b) => manifestFiles(fs, dir, branchManPrefix(b))
    }

  // ==== THE COMMIT LOOP ===================================================

  /** Where a manifest publish lands: a table's main lineage or one of its
    * branches ([[tableTarget]]), or a group root ([[groupTarget]]).
    * `stamp` sets the version, op and commit time of a manifest.
    */
  private final class CommitTarget[M](val where: String, val what: String,
                                      val current: () => Option[M],
                                      val publish: M => Unit,
                                      val version: M => Long,
                                      val stamp: (M, Long, String) => M)

  private def tableTarget(fs: FileSystem, dir: Path,
                          ref: Option[String] = None): CommitTarget[Manifest] =
    new CommitTarget[Manifest](
      dir.toString + ref.fold("")(b => s" (branch '$b')"), "table",
      () => refCurrent(fs, dir, ref), refCommit(fs, dir, ref, _), _.version,
      (m, v, op) => m.copy(version = v, op = op,
        opTs = System.currentTimeMillis()))

  private def groupTarget(fs: FileSystem,
                          dir: Path): CommitTarget[GroupManifest] =
    new CommitTarget[GroupManifest](dir.toString, "group",
      () => currentGroupManifest(fs, dir), commitGroupManifest(fs, dir, _),
      _.version, (g, v, op) => g.copy(version = v, op = op,
        opTs = System.currentTimeMillis()))

  /** Publish attempts per commit, the first included. */
  private val CommitAttempts = 6

  /** A commit rule for edits that re-derive from whichever head wins. */
  private val rebase: Any => Option[String] = _ => None

  /** THE commit loop: every manifest publish, table or group, goes
    * through it. `step` maps the base (`start` first; `None` = nothing
    * committed yet, so the publish is version 1) to the next manifest,
    * or to `None` when there is nothing to commit; the loop stamps the
    * version, `op` and commit time and publishes through the target's
    * no-overwrite CAS. A lost CAS re-reads the winner and asks
    * `conflict`: `Some(reason)` fails with the protocol's
    * `ConcurrentModificationException(reason)`, `None` rebases — `step`
    * re-derives on the winner and the loop retries, at most
    * [[CommitAttempts]] publishes in all, after which it fails with the
    * same exception naming `op`. Three kinds of caller:
    *   - metadata edits re-derive from the winner and never conflict
    *     ([[rebase]]; [[addCheckConstraint]] also conflicts when the
    *     data it validated moved);
    *   - staged data writes rebase while the winner left what they read
    *     and reserved alone ([[contested]]);
    *   - a publish derived from ONE observed version (compaction,
    *     splits, index builds, history truncation, fast-forward, table
    *     and branch creation) conflicts on any loss — the derivation is
    *     stale.
    * Returns the committed manifest, or `None` when `step` declined.
    * Post-commit gc and maintenance stay with the caller.
    */
  private def commitLoop[M](t: CommitTarget[M], op: String,
                            start: Option[M])(
      conflict: M => Option[String])(
      step: Option[M] => Option[M]): Option[M] = {
    @annotation.tailrec
    def attempt(base: Option[M], n: Int): Option[M] = step(base) match {
      case None => None
      case Some(next) =>
        val m = t.stamp(next, base.fold(1L)(t.version(_) + 1), op)
        val lost =
          try { t.publish(m); None }
          catch { case e: java.io.IOException => Some(e) }
        lost match {
          case None => Some(m)
          case Some(e) =>
            def fail(reason: String): Nothing =
              throw new java.util.ConcurrentModificationException(reason, e)
            if (n >= CommitAttempts)
              fail(s"$op: lost the commit race to concurrent writers of " +
                s"${t.where} on every retry ($n attempts) — re-run against " +
                s"the new ${t.what} state")
            val winner = t.current().getOrElse(fail(
              s"$op: ${t.where} holds no committed ${t.what} after a lost " +
                "commit — re-run against the new state"))
            conflict(winner).foreach(fail)
            attempt(Some(winner), n + 1)
        }
    }
    attempt(start, 1)
  }

  /** The rule of a publish derived from ONE observed version `base`: a
    * loss means the derivation is stale.
    */
  private def lostRace[M](t: CommitTarget[M], op: String,
                          base: M): M => Option[String] = {
    val msg = s"$op: lost the version-${t.version(base) + 1} commit race " +
      s"to a concurrent writer of ${t.where} — re-run against the new " +
      s"${t.what} state"
    _ => Some(msg)
  }

  /** A metadata edit of a table: `edit` re-derives the next manifest
    * from whichever head wins (`None` = nothing to change). True when it
    * committed.
    */
  private def editTable(fs: FileSystem, dir: Path, op: String,
                        man: Manifest, ref: Option[String] = None)(
      edit: Manifest => Option[Manifest]): Boolean =
    commitLoop(tableTarget(fs, dir, ref), op, Some(man))(rebase)(
      _.flatMap(edit)).nonEmpty

  /** Bucket id of a row's key tuple — PLUS the write-side enforcement
    * of the keyed invariant that no key column is NULL (the catalog
    * surfaces keys as NOT NULL; a stored NULL key would let Catalyst's
    * null propagation return wrong results over it). `AssertNotNull`
    * rides the existing write pass as a codegen'd per-row check — no
    * extra job — so a NULL key fails the statement BEFORE anything
    * commits. Read/probe/delete-key paths deliberately do not assert: a
    * NULL probe key simply matches nothing.
    */
  private def bucketExprChecked(keys: Seq[String], nb: Int)
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.GraftColumnShim.{column, expression}
    import org.apache.spark.sql.catalyst.expressions.objects.AssertNotNull
    val checked = keys.map(k => column(AssertNotNull(expression(col(k)),
      Seq(s"merge key '$k' — keyed tables hold no NULL keys; filter or " +
        "coalesce the source"))))
    pmod(hash(checked: _*), lit(nb))
  }

  /** One SQL statement (or one changeset) may not carry two rows for a
    * key — the invariant every point read, row-level update, and change
    * feed relies on. Postgres raises exactly this for its upsert ("ON
    * CONFLICT DO UPDATE command cannot affect row a second time", the
    * reference's write path). Cost: ONE aggregate over the key columns
    * only — column pruning keeps the pass key-narrow, strictly cheaper
    * than the write it guards. ACROSS statements, upsert-by-key applies
    * as ever.
    */
  private[sources] def requireUniqueKeys(data: DataFrame, keys: Seq[String],
                                         stmt: String): Unit = {
    val dup = data.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__graft_n"))
      .filter(col("__graft_n") > 1).limit(1).collect()
    require(dup.isEmpty,
      s"$stmt: the statement carries more than one row for key " +
        s"${keys.zipWithIndex.map { case (k, i) => s"$k=${dup.head.get(i)}" }
          .mkString("(", ", ", ")")} — keyed tables hold one row per " +
        "key (Postgres: 'cannot affect row a second time'); " +
        "deduplicate the source and re-run")
  }

  /** Metadata-only commit recording a streaming txn guard on an empty
    * batch. Unlike a data commit — whose staged epoch becomes stale on a
    * lost CAS — the guard derives from nothing, so losing the race to a
    * concurrent writer is retriable: re-read the manifest (which may
    * already carry an equal-or-newer guard from a concurrent replay, in
    * which case stop) and re-publish on top of it. Stamps `op = "txn"`
    * so tableHistory shows the guard commit, not a duplicate of the
    * prior operation.
    */
  private def commitTxnGuard(fs: FileSystem, dir: Path,
                             t: (String, Long),
                             ref: Option[String] = None): Unit =
    refCurrent(fs, dir, ref).foreach { man0 =>
      editTable(fs, dir, "txn", man0, ref)(man =>
        if (man.txns.get(t._1).exists(_ >= t._2)) None
        else Some(man.copy(txns = man.txns + t)))
    }

  /** Record an exactly-once txn anchor WITHOUT data (a consumer that
    * proved its window contributes nothing must still advance, or it
    * re-diffs the same window forever — the MV refresh's empty-delta
    * case). Same ledger, same replay rule as the data-carrying commits.
    */
  private[sources] def recordTxn(spark: SparkSession, tablePath: String,
                                 t: (String, Long)): Unit =
    commitTxnGuard(fsFor(spark, tablePath), new Path(tablePath), t)

  /** THE commit primitive (Delta's pluggable LogStore, scaled to this
    * protocol): every manifest publish — table and group — funnels
    * through one `putIfAbsent` whose contract is the protocol's entire
    * atomicity story: *atomically create `target` with `body` iff no
    * file exists there; under concurrent callers at most one returns
    * true*. The built-in [[LinkOrRenameCommit]] honors it on POSIX
    * filesystems (hard link — `link(2)` refuses an existing target) and
    * on HDFS-class stores (no-overwrite `rename`, atomic by contract).
    * **S3-class object stores honor NEITHER**: `rename` is copy+delete
    * and `exists`+`rename` is a race window — deploying there requires
    * plugging a conditional-PUT implementation (`If-None-Match: *`, GCS
    * `x-goog-if-generation-match: 0`, DynamoDB-arbitrated like Delta's
    * S3DynamoDBLogStore) via [[setCommitPrimitive]], configured once at
    * startup. See PROTOCOL.md "Commit".
    */
  trait CommitPrimitive {

    /** Atomically publish `body` at `target` iff absent; true = this
      * call created it, false = lost (a committed file already exists).
      * `stage` is a pre-written staging file holding `body` inside the
      * table directory (implementations may rename it or ignore it and
      * upload `body` directly); the CALLER deletes it afterwards either
      * way, so implementations must not leave `target` referencing it.
      */
    def putIfAbsent(fs: FileSystem, target: Path, stage: Path,
                    body: Array[Byte]): Boolean
  }

  /** Default primitive: POSIX hard-link CAS on `file:` roots,
    * no-overwrite rename elsewhere (atomic on HDFS-class filesystems —
    * NOT on S3-class stores; see [[CommitPrimitive]]).
    */
  object LinkOrRenameCommit extends CommitPrimitive {
    override def putIfAbsent(fs: FileSystem, target: Path, stage: Path,
                             body: Array[Byte]): Boolean = {
      val localRoot = Option(fs.getUri).forall(_.getScheme == "file")
      if (localRoot) {
        try {
          java.nio.file.Files.createLink(
            java.nio.file.Paths.get(target.toUri.getPath),
            java.nio.file.Paths.get(stage.toUri.getPath))
          true
        } catch { case _: java.nio.file.FileAlreadyExistsException => false }
      } else !fs.exists(target) && fs.rename(stage, target)
    }
  }

  @volatile private var commitPrimitive: CommitPrimitive = LinkOrRenameCommit

  /** Install the commit primitive (process-wide, set once at startup —
    * mid-flight swaps see no ordering guarantee). Object-store
    * deployments MUST install a conditional-PUT implementation; the
    * default is only atomic on POSIX/HDFS semantics.
    */
  def setCommitPrimitive(p: CommitPrimitive): Unit = commitPrimitive = p

  private[graft] def currentCommitPrimitive: CommitPrimitive =
    commitPrimitive

  /** The atomic no-overwrite publish shared by table and group commits:
    * stage the body under a dot-file (invisible to readers — the
    * manifest listing filters on prefix), then publish through the
    * installed [[CommitPrimitive]]. Loss surfaces as the protocol's
    * commit-failed IOException, which [[commitLoop]] maps to a rebase
    * or a `ConcurrentModificationException` by its caller's rule.
    */
  private def publishAtomically(fs: FileSystem, dir: Path, target: Path,
                                body: String): Unit = {
    val tmp = new Path(dir, s".tmp-manifest-${UUID.randomUUID()}")
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    val out = fs.create(tmp, false)
    try out.write(bytes) finally out.close()
    val won = commitPrimitive.putIfAbsent(fs, target, tmp, bytes)
    // the stage file may already be gone (a rename-based primitive
    // consumed it on the win path) — delete is a no-op then
    fs.delete(tmp, false)
    if (!won)
      throw new java.io.IOException(
        s"merge: manifest commit $target failed (concurrent writer?)")
  }

  /** How long an UNREFERENCED epoch directory survives gc. A concurrent
    * writer's staged-but-not-yet-committed epoch is indistinguishable
    * from a crashed writer's orphan; the age guard keeps a racing
    * commit's files alive through its rebase-and-retry window (the same
    * orphan-retention idea as Delta's vacuum / Iceberg's
    * remove_orphan_files, scaled down). Genuinely dead orphans are
    * reclaimed by any merge that runs after the window.
    */
  val OrphanRetentionMs: Long = 10L * 60 * 1000

  /** Post-commit garbage collection: keep the last [[KeepManifests]]
    * manifests and every epoch they reference; delete older manifests,
    * unreferenced epochs older than `orphanRetentionMs` (see
    * [[OrphanRetentionMs]] — a young unreferenced epoch may be a
    * concurrent writer mid-commit), stale staging files, and any
    * root-level pre-manifest leftovers (a manifest existing means
    * [[upgrade]] committed — the legacy files are dead weight even if
    * the upgrading process crashed before its own cleanup). Crash-safe —
    * anything missed is collected by a later merge.
    */
  private def gc(fs: FileSystem, dir: Path,
                 orphanRetentionMs: Long = OrphanRetentionMs): Unit = {
    val manifests = manifestFiles(fs, dir)
    // no manifest ⇒ not (yet) a protocol table: the root-level part- files
    // ARE the data of a legacy pre-manifest table, not upgrade leftovers.
    // The sweep below must only run once a commit proves the upgrade
    // happened — otherwise vacuum() on a legacy table would destroy it.
    if (manifests.isEmpty) return
    // retention policy lives in the CURRENT manifest: keep the last
    // max(retainVersions, KeepManifests) versions, plus any version
    // younger than retainMs (age read from the manifest file's own
    // mtime — robust for pre-commitInfo versions with no opTs)
    val cur = manifests.last match { case (v, p) => readManifest(fs, v, p) }
    val keepCount = math.max(KeepManifests, cur.retainVersions)
    val (dropByCount, keepByCount) =
      manifests.splitAt(math.max(0, manifests.size - keepCount))
    val ageCut = System.currentTimeMillis() - cur.retainMs
    val (keptByAge, dropAged) =
      if (cur.retainMs <= 0L) (Seq.empty, dropByCount)
      else dropByCount.partition { case (_, p) =>
        fs.getFileStatus(p).getModificationTime >= ageCut }
    // a TAGGED version is pinned against reclamation regardless of the
    // count/age windows — the tag is a promise that `VERSION AS OF
    // 'name'` keeps answering until the tag drops
    val tagged = cur.tags.values.toSet
    val (keptByTag, drop) = dropAged.partition(m => tagged(m._1))
    val keep = keptByTag ++ keptByAge ++ keepByCount
    // live branch lineages count as retained: their epochs, overlay
    // dirs and DV sidecars are pinned until the branch publishes
    // (fastForward folds them into main) or drops
    val keptManifests = keep.map { case (v, p) =>
      if (v == cur.version) cur else readManifest(fs, v, p) } ++
      branchManifestFiles(fs, dir).map { case (_, k, p) =>
        readManifest(fs, k, p) }
    val referenced = keptManifests.flatMap(m =>
      m.epochs.values ++ m.overlays.values.flatten).toSet
    // bucket granularity too: a kept manifest may reference only SOME of
    // an epoch's bucket dirs (later merges re-pointed the others) — the
    // unreferenced siblings are dead data that an epoch-level sweep
    // would keep alive forever (and a physical purge must remove)
    // toSeq first: mapping the Map directly would re-key by epoch name
    // and silently collapse buckets sharing an epoch
    val referencedBuckets = keptManifests
      .flatMap(m => m.epochs.toSeq.map { case (b, e) => (e, b) } ++
        m.overlays.toSeq.flatMap { case (b, es) => es.map(e => (e, b)) })
      .toSet
    drop.foreach { case (_, p) => fs.delete(p, false) }
    val now = System.currentTimeMillis()
    fs.listStatus(dir).foreach { st =>
      val n = st.getPath.getName
      if (st.isDirectory && n.startsWith("e-") && !referenced.contains(n) &&
          now - st.getModificationTime > orphanRetentionMs)
        fs.delete(st.getPath, true)
      if (st.isDirectory && n.startsWith(BucketCol + "="))
        fs.delete(st.getPath, true)
      // row-level DML staging (GraftRowLevel): normally removed by the
      // batch commit/abort; a driver crash mid-write leaves the dir
      // behind. The guard is floored at 24h (not the 10-min epoch
      // retention): a statement's staging mtime goes stale the moment
      // its LAST task file lands, so a long straggler tail before the
      // driver-side commit must not lose its changeset to a concurrent
      // disjoint-bucket writer's gc. An explicit vacuum(0) still reaps.
      if (st.isDirectory && n.startsWith("_rowlevel-") &&
          now - st.getModificationTime > (if (orphanRetentionMs <= 0) 0L
            else math.max(orphanRetentionMs, 24L * 3600 * 1000)))
        fs.delete(st.getPath, true)
      // staged manifests get the same age guard as epochs: a concurrent
      // disjoint-bucket writer's .tmp-manifest lives between fs.create and
      // its link/rename — reaping it young would fail that writer's commit
      if (!st.isDirectory && n.startsWith(".tmp-manifest-") &&
          now - st.getModificationTime > orphanRetentionMs)
        fs.delete(st.getPath, false)
      if (!st.isDirectory && (n.startsWith("part-") || n == "_SUCCESS"))
        fs.delete(st.getPath, false)
    }
    referenced.foreach { e =>
      val ep = new Path(dir, e)
      if (fs.exists(ep)) fs.listStatus(ep).foreach { st =>
        val n = st.getPath.getName
        if (st.isDirectory && n.startsWith(BucketCol + "=") &&
            scala.util.Try(n.stripPrefix(BucketCol + "=").toInt).toOption
              .exists(b => !referencedBuckets((e, b))) &&
            now - st.getModificationTime > orphanRetentionMs)
          fs.delete(st.getPath, true)
      }
    }
    // deletion-vector sidecars: reclaim the ones no retained manifest
    // references (superseded by a later DV commit's merged sidecar, or
    // purged by compaction), age-guarded like epochs — a young orphan
    // may be a concurrent DV delete mid-commit
    val referencedDvs = keptManifests.iterator
      .flatMap(_.stats.valuesIterator.flatMap(_.iterator
        .map(_.dv).filter(_.nonEmpty))).toSet
    val dvDir = new Path(dir, DvDirName)
    if (fs.exists(dvDir)) fs.listStatus(dvDir).foreach { st =>
      if (!st.isDirectory && !referencedDvs.contains(st.getPath.getName) &&
          now - st.getModificationTime > orphanRetentionMs)
        fs.delete(st.getPath, false)
    }
    // equality-delete sidecars (parquet DIRECTORIES under _eqd/): same
    // rule — reclaim the ones no retained manifest references (purged
    // by compaction or a full rewrite), age-guarded for mid-commit
    // writers
    val referencedEqds = keptManifests.iterator
      .flatMap(_.eqds.valuesIterator.flatMap(_.iterator.map(_.sidecar)))
      .toSet
    val eqDir = new Path(dir, EqDirName)
    if (fs.exists(eqDir)) fs.listStatus(eqDir).foreach { st =>
      if (!referencedEqds.contains(st.getPath.getName) &&
          now - st.getModificationTime > orphanRetentionMs)
        fs.delete(st.getPath, true)
    }
    // manifest segments: keep every segment some retained head (main,
    // branch, tagged) references; reclaim the rest — superseded ranges
    // and crashed commits' orphans — past the age guard, along with
    // stale `.tmp-seg-` stage files
    val referencedSegs = keptManifests.iterator
      .flatMap(_.segs.iterator).toSet
    val segDir = new Path(dir, SegDirName)
    if (fs.exists(segDir)) fs.listStatus(segDir).foreach { st =>
      val n = st.getPath.getName
      val live = n.startsWith("seg-") && n.endsWith(".json") &&
        referencedSegs.contains(
          n.stripPrefix("seg-").stripSuffix(".json"))
      if (!live && now - st.getModificationTime > orphanRetentionMs)
        fs.delete(st.getPath, false)
    }
  }

  /** Test hook: gc with zero orphan retention (immediate reclamation). */
  private[graft] def gcNow(spark: SparkSession, tablePath: String): Unit =
    gc(fsFor(spark, tablePath), new Path(tablePath), orphanRetentionMs = 0L)

  /** Operational VACUUM (Delta's VACUUM / Iceberg's remove_orphan_files):
    * reclaim unreferenced epochs older than `retentionMs` and other
    * stale artifacts, without committing anything. Merges already gc on
    * commit; vacuum exists for cold tables that stopped merging with
    * orphans left behind (a crashed writer's last epoch). Retention
    * below the default forfeits the concurrent-writer grace window —
    * only safe when no writer can be mid-commit.
    */
  def vacuum(spark: SparkSession, tablePath: String,
             retentionMs: Long = OrphanRetentionMs): Unit =
    gc(fsFor(spark, tablePath), new Path(tablePath), retentionMs)

  /** Drop RETIRED writer app ids from the txn ledger. The manifest is a
    * full snapshot, so commit cost is O(1) in commit count (nothing
    * replays a log — see PROTOCOL.md "Manifest growth"); the one term
    * that grows without bound over a table's life is the ledger: one
    * entry per DISTINCT app id ever used, kept forever because dropping
    * an entry forfeits that app's replay guard. This is the operational
    * expiry for decommissioned writers (Delta's transaction-identifier
    * retention, made explicit): expired apps' future replays would
    * re-apply, so expire only apps that can no longer deliver.
    */
  def expireTxns(spark: SparkSession, tablePath: String,
                 apps: Seq[String]): Unit = {
    val fs = fsFor(spark, tablePath)
    val dir = new Path(tablePath)
    // metadata-only transform: a lost CAS just means a concurrent merge
    // won the version — the expiry re-applies on the new state
    currentManifest(fs, dir).foreach { man0 =>
      if (editTable(fs, dir, "expireTxns", man0) { man =>
        val remaining = man.txns -- apps
        if (remaining.size == man.txns.size) None
        else Some(man.copy(txns = remaining))
      }) gc(fs, dir)
    }
  }

  /** Collapse readable history to the CURRENT state — the
    * right-to-be-forgotten completion of [[delete]]: a keyed delete
    * removes a row from the current version, but retained older
    * versions (time travel) still serve it. truncateHistory commits
    * enough duplicate manifests of the current state that EVERY
    * retained version post-dates the call; the superseded versions'
    * epochs become unreferenced and [[vacuum]] (or any later merge's
    * gc, after the orphan window) physically reclaims their files.
    * `delete → truncateHistory → vacuum` is the full purge: gone from
    * the current read, gone from time travel, gone from disk.
    */
  def truncateHistory(spark: SparkSession, tablePath: String): Unit = {
    val fs = fsFor(spark, tablePath)
    val dir = new Path(tablePath)
    currentManifest(fs, dir).foreach { man =>
      // a tag pins its version against gc, so truncation under one
      // would either break the tag or defeat the purge — the caller
      // must decide (drop the tag first), never this code silently
      val pinned = man.tags.filter(_._2 < man.version)
      require(pinned.isEmpty,
        s"truncateHistory: tags ${pinned.keys.toSeq.sorted.mkString(", ")} " +
          s"pin pre-truncation versions of $tablePath — drop them first " +
          "(a purge that silently kept tagged history would lie, one " +
          "that silently broke tags would too)")
      // enough duplicates to push every pre-call version off the COUNT
      // window. Age retention (retainMs) still holds the old manifests
      // until their window passes — a right-to-be-forgotten purge on an
      // age-retained table must setRetention down first (or wait it
      // out); silently overriding the recorded policy here would defeat
      // the lagging-consumer guarantee it exists for.
      val t = tableTarget(fs, dir)
      (1 until math.max(KeepManifests, man.retainVersions))
        .foldLeft(man) { (base, _) =>
          commitLoop(t, "truncateHistory", Some(base))(
            lostRace(t, "truncateHistory", base))(_ => Some(man)).get
        }
      gc(fs, dir)
    }
  }

  /** Create (or move) a VERSION TAG — Iceberg's named references,
    * scaled to the manifest protocol: `tag` pins `version` (default:
    * the current one) against gc and count-based retention until
    * dropped, and every read surface that accepts a version accepts
    * the tag name instead (`VERSION AS OF 'certified'`, the
    * `versionAsOf` option, [[readTableVersion]] via
    * [[resolveVersionRef]]). This is the audit / write-audit-publish
    * anchor: load, validate against the tagged state, tag the new
    * version on pass — or `restore` to the tag on fail. One metadata
    * commit, rebase-safe like every policy write.
    */
  def createTag(spark: SparkSession, tablePath: String, tag: String,
                version: Option[Long] = None): Unit = {
    require(tag.nonEmpty && scala.util.Try(tag.toLong).isFailure,
      s"createTag: '$tag' — tag names share VERSION AS OF's namespace " +
        "with numeric versions, so a number cannot be a tag")
    val fs = fsFor(spark, tablePath)
    val dir = new Path(tablePath)
    val man0 = currentManifest(fs, dir).getOrElse(
      throw new IllegalArgumentException(
        s"createTag: $tablePath holds no committed graft table"))
    // resolve the DEFAULT version ONCE, before any retry: a lost commit
    // race must re-apply the tag to the version current AT THE CALL,
    // never silently re-target the concurrent writer's newer state — a
    // WAP pipeline that validated version N and tags "certified" must
    // pin N or fail, not pin unaudited N+1
    val v = version.getOrElse(man0.version)
    if (editTable(fs, dir, "tag", man0) { man =>
      retainedFile(fs, dir, ManifestPrefix, v)
      Some(man.copy(tags = man.tags + (tag -> v)))
    }) gc(fs, dir)
  }

  /** Drop a version tag; the version it pinned becomes reclaimable by
    * the ordinary retention rules at the next gc.
    */
  def dropTag(spark: SparkSession, tablePath: String, tag: String): Unit = {
    val fs = fsFor(spark, tablePath)
    val dir = new Path(tablePath)
    currentManifest(fs, dir).foreach { man0 =>
      if (editTable(fs, dir, "untag", man0)(man =>
        if (!man.tags.contains(tag)) None
        else Some(man.copy(tags = man.tags - tag)))) gc(fs, dir)
    }
  }

  // ---- CHECK CONSTRAINTS (ANSI table constraints) ---------------------
  //
  // Delta's table constraints on the manifest protocol: a named CHECK
  // predicate is recorded in the manifest (name → SQL), validated
  // against ALL existing rows when added (one pruned scan), and
  // enforced on every data-adding write path — CoW epochs and
  // merge-on-read overlays, main or branch, batch or streaming — by a
  // filter fused into the epoch write's own pass (whole-stage codegen;
  // no extra job). ANSI semantics: a row passes when the predicate is
  // TRUE or NULL; a FALSE row fails the WHOLE commit with the
  // constraint name and the violating row's referenced columns.
  // Deletes never add rows, so survivor-only rewrites re-validate for
  // free (survivors passed when written). At 100 TB the costs are the
  // right shape: add-time validation is one corpus scan (exactly what
  // the guarantee requires), enforcement is O(written rows).

  /** Column names a CHECK predicate references, RESOLVED against the
    * table's top-level fields — the seam for validating a new
    * constraint and for rejecting RENAME/DROP of a constrained column.
    * A multi-part reference is either struct access (`s.f` — the HEAD
    * names the column) or a qualified reference (`t.price` — the
    * SECOND part does); resolution prefers whichever part actually
    * names a schema field, so qualified predicates neither get
    * rejected as unknown nor slip past the alter guards.
    */
  private[sources] def checkPredicateColumns(spark: SparkSession, sql: String,
                                             schema: StructType): Seq[String] = {
    val names = schema.fieldNames
    def resolve(parts: Seq[String]): String =
      if (names.exists(_.equalsIgnoreCase(parts.head))) parts.head
      else if (parts.length >= 2 &&
        names.exists(_.equalsIgnoreCase(parts(1)))) parts(1)
      else parts.head
    spark.sessionState.sqlParser.parseExpression(sql).collect {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        resolve(a.nameParts)
    }.distinct
  }

  /** Rewrite a CHECK predicate's QUALIFIED references (`t.price`) to
    * the bare column the qualifier wraps, so the stored SQL resolves
    * against the table's own attributes on every later read/write
    * (enforcement binds the predicate to unqualified scans). Struct
    * access whose head IS a column (`s.f`) passes through untouched.
    */
  private[sources] def normalizeCheckSql(spark: SparkSession, sql: String,
                                         schema: StructType): String = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    val names = schema.fieldNames
    spark.sessionState.sqlParser.parseExpression(sql).transform {
      case a: UnresolvedAttribute
          if a.nameParts.length >= 2 &&
            !names.exists(_.equalsIgnoreCase(a.nameParts.head)) &&
            names.exists(_.equalsIgnoreCase(a.nameParts(1))) =>
        UnresolvedAttribute(a.nameParts.tail)
    }.sql
  }

  /** Every (generatedColumn, expression, referencedColumn) triple of
    * the schema's GENERATED ALWAYS AS expressions — the seam for
    * rejecting RENAME/DROP of a referenced column, which would leave an
    * unresolvable expression in the surviving field's metadata and fail
    * every later write at analysis (Delta blocks these alters too).
    */
  private def generatedReferences(spark: SparkSession, schema: StructType)
      : Seq[(String, String, String)] =
    generatedSpecs(schema).toSeq.flatMap { case (c, g) =>
      scala.util.Try(spark.sessionState.sqlParser.parseExpression(g)
        .collect {
          case a: org.apache.spark.sql.catalyst.analysis
            .UnresolvedAttribute => a.nameParts.head
        }).getOrElse(Seq.empty).map(r => (c, g, r))
    }

  /** Types `to_json` can serialize for the violation message — anything
    * else is elided from the diagnostic rather than risked at analysis.
    */
  private def jsonSafe(dt: DataType): Boolean = dt match {
    case _: org.apache.spark.sql.types.NumericType |
         org.apache.spark.sql.types.StringType |
         org.apache.spark.sql.types.BooleanType |
         org.apache.spark.sql.types.DateType |
         org.apache.spark.sql.types.TimestampType |
         org.apache.spark.sql.types.TimestampNTZType => true
    case org.apache.spark.sql.types.ArrayType(e, _) => jsonSafe(e)
    case org.apache.spark.sql.types.MapType(k, v, _) =>
      jsonSafe(k) && jsonSafe(v)
    case s: StructType => s.fields.forall(f => jsonSafe(f.dataType))
    case _ => false
  }

  /** The single-pass write-side guard: TRUE/NULL rows stream through
    * untouched; a FALSE row evaluates the (short-circuited) error arm
    * and aborts the commit. Stays inside whole-stage codegen — the
    * predicate is ordinary Catalyst, the error arm is never evaluated
    * on the happy path.
    */
  private def enforceChecks(df: DataFrame, checks: Map[String, String],
                            tablePath: String): DataFrame =
    checks.toSeq.sortBy(_._1).foldLeft(df) { case (d, (name, sql)) =>
      val pass = coalesce(expr(sql).cast("boolean"), lit(true))
      val refs = checkPredicateColumns(d.sparkSession, sql, d.schema)
        .flatMap(c => d.schema.fields.find(_.name.equalsIgnoreCase(c)))
        .filter(f => jsonSafe(f.dataType))
      val msg =
        if (refs.isEmpty)
          lit(s"graft: CHECK constraint '$name' CHECK ($sql) violated " +
            s"on $tablePath")
        else concat(
          lit(s"graft: CHECK constraint '$name' CHECK ($sql) violated " +
            s"on $tablePath by row "),
          to_json(struct(refs.map(f => col(f.name)): _*)))
      d.filter(pass.or(raise_error(msg).isNotNull))
    }

  /** Add a named CHECK constraint: validate the predicate parses and
    * resolves over the current schema, prove EVERY existing live row
    * satisfies it (one scan of the pinned current version — stats/DV
    * aware like any read), then record it in a metadata-only commit.
    * The validation and the recorded version can differ by a concurrent
    * commit; that is safe because every committed row since the scan
    * went through [[enforceChecks]] against SOME constraint set, and
    * the rebase rule conflicts loudly when the set moves mid-write.
    */
  def addCheckConstraint(spark: SparkSession, tablePath: String,
                         name: String, predicateSql: String): Unit = {
    require(name.nonEmpty && name.forall(c => c.isLetterOrDigit || c == '_'),
      s"addCheckConstraint: constraint name '$name' — use letters, " +
        "digits and underscores")
    val fs = fsFor(spark, tablePath)
    val dir = new Path(tablePath)
    val man0 = currentManifest(fs, dir).getOrElse(
      throw new IllegalArgumentException(
        s"addCheckConstraint: $tablePath holds no committed graft table"))
    require(!man0.checks.contains(name),
      s"addCheckConstraint: constraint '$name' already exists on " +
        s"$tablePath as CHECK (${man0.checks(name)}) — drop it first")
    val schema = man0.struct
    val names = schema.fieldNames.map(_.toLowerCase).toSet
    // qualified references (`t.price`) lose their qualifier HERE, so
    // the stored predicate binds to the table's own attributes on
    // every later enforcement pass
    val predicate = normalizeCheckSql(spark, predicateSql, schema)
    checkPredicateColumns(spark, predicate, schema).foreach(c =>
      require(names.contains(c.toLowerCase),
        s"addCheckConstraint: CHECK ($predicate) references column " +
          s"'$c' which is not in the schema of $tablePath"))
    // one pruned scan of the PINNED version: the proof the constraint
    // claims — every live row passes (TRUE or NULL; FALSE fails)
    val violating = readTableVersion(spark, tablePath, man0.version)
      .filter(!coalesce(expr(predicate).cast("boolean"), lit(true)))
      .limit(1).collect()
    if (violating.nonEmpty)
      throw new IllegalStateException(
        s"addCheckConstraint: existing rows of $tablePath violate " +
          s"CHECK ($predicate) — e.g. ${violating(0)}; constraint " +
          "not added")
    // a concurrent data commit since the validation scan may have added
    // rows the scan never saw — those went through an enforcement pass
    // WITHOUT this constraint, so the proof no longer covers the table:
    // re-validate instead of committing
    commitLoop(tableTarget(fs, dir), "addconstraint", Some(man0)) { man =>
      if (man.epochs == man0.epochs && man.overlays == man0.overlays &&
          dvFileRefs(man) == dvFileRefs(man0)) None
      else Some(s"addCheckConstraint: $tablePath moved from version " +
        s"${man0.version} to ${man.version} during validation — " +
        "re-run against the new table state")
    }(_.map(man => man.copy(checks = man.checks + (name -> predicate))))
    gc(fs, dir)
  }

  /** Drop a named CHECK constraint (metadata-only commit; absent name
    * is a no-op so SQL `DROP CONSTRAINT IF EXISTS` maps directly).
    */
  def dropCheckConstraint(spark: SparkSession, tablePath: String,
                          name: String): Unit = {
    val fs = fsFor(spark, tablePath)
    val dir = new Path(tablePath)
    currentManifest(fs, dir).foreach { man0 =>
      if (editTable(fs, dir, "dropconstraint", man0)(man =>
        if (!man.checks.contains(name)) None
        else Some(man.copy(checks = man.checks - name)))) gc(fs, dir)
    }
  }

  // ---- IDENTITY COLUMNS (GENERATED BY DEFAULT AS IDENTITY) ------------
  //
  // Delta's identity columns on the manifest protocol: the spec
  // (start/step) lives in the schema's field metadata (Spark's own
  // encoding — `CREATE TABLE (id BIGINT GENERATED BY DEFAULT AS
  // IDENTITY ...)`), the HIGH-WATER lives in the manifest (`idhw`).
  // NULL inputs get fresh values in ONE distributed pass — value =
  // hw + (rowOrdinal + 1) × step via partition-offset arithmetic, no
  // global sort, GAPS ALLOWED (every identity implementation's
  // contract) — and the commit reads the written epoch's extreme back
  // to advance the high-water past assigned AND explicit values. A
  // concurrent commit that moved `idhw` conflicts the CAS loudly
  // (overlapping reservations re-run, never collide). BY DEFAULT
  // semantics only: explicit non-NULL inputs are stored as given
  // (GENERATED ALWAYS is rejected at create — on a keyed-upsert table
  // every merge restates its keys, so always-generated would make the
  // table unwritable).

  /** Identity specs (start, step) declared in a schema's field
    * metadata, via Spark's own encoding/probe.
    */
  private[sources] def identitySpecs(schema: StructType)
      : Map[String, (Long, Long)] =
    schema.fields.flatMap { f =>
      val info = org.apache.spark.sql.catalyst.util.IdentityColumn
        .getIdentityInfo(f)
      info.map(s => f.name -> (s.getStart, s.getStep))
    }.toMap

  /** Fill NULL identity inputs with fresh values past the table's
    * high-water via PER-PARTITION CONTIGUOUS RESERVATION: one narrow
    * counting job sizes each partition (and counts its NULL inputs — a
    * batch with none skips assignment entirely), a driver-side prefix
    * sum turns the counts into contiguous ordinal ranges, and the
    * assignment pass computes `hw + (offset[pid] + localOrdinal + 1) ×
    * step` inside whole-stage codegen. The high-water therefore
    * advances ∝ ROWS WRITTEN — never ∝ maxPartitionId·2³³ the way raw
    * `monotonically_increasing_id` ordinals would, which on a
    * ~10⁵-task cluster write burns ~8·10¹⁴ of the BIGINT space per
    * commit. Gaps remain allowed (identity's universal contract), and
    * the counting job relies on the frame's partitioning being stable
    * across re-evaluation — Spark's own writer-retry guarantee (its
    * sources replay deterministically and round-robin repartition
    * sorts first, SPARK-23207). Narrow identity types (INT/SHORT) get
    * a fused range guard: a fresh value outside the declared type's
    * range fails the commit loudly in BOTH ANSI and legacy modes,
    * never wrapping into colliding ids.
    */
  private def assignIdentity(df0: DataFrame,
                             specs: Map[String, (Long, Long)],
                             hw: Map[String, Long]): DataFrame = {
    import org.apache.spark.sql.types._
    val present = specs.keys.toSeq.sorted.filter(df0.columns.contains)
    if (present.isEmpty) return df0
    // the counting job and the assignment pass are TWO evaluations of
    // the same frame: sound for deterministic plans (Spark's writer-
    // retry replay guarantee — sources replay deterministically and
    // round-robin repartition sorts first, SPARK-23207), but a plan
    // carrying rand()/an impure UDF could size partitions differently
    // between the passes, letting assigned ordinals collide. Pin such
    // a frame ONCE (localCheckpoint materializes the rows and truncates
    // the lineage, so both passes — and the epoch write after — read
    // the same materialized partitions); deterministic plans skip the
    // cost, mirroring guardUniqueKeys' pinning rule. A rand() hiding
    // inside an IN/EXISTS subquery re-sizes partitions just as well.
    val df =
      if (deterministic(df0)) df0 else df0.localCheckpoint(eager = true)
    // ONE narrow job over the batch: per-partition row totals (the
    // reservation sizes) and per-column NULL counts (the skip signal)
    val perPart = df.select(present.map(col): _*).rdd
      .mapPartitionsWithIndex { (pid, it) =>
        var total = 0L
        val nulls = new Array[Long](present.length)
        it.foreach { r =>
          total += 1L
          var j = 0
          while (j < nulls.length) {
            if (r.isNullAt(j)) nulls(j) += 1L
            j += 1
          }
        }
        Iterator((pid, total, nulls))
      }.collect()
    val needs = present.indices
      .filter(j => perPart.exists(_._3(j) > 0L)).map(present)
    if (needs.isEmpty) return df
    val nParts = perPart.iterator.map(_._1).foldLeft(-1)(math.max) + 1
    val offsets = new Array[Long](math.max(nParts, 1))
    locally {
      val byPid = perPart.iterator.map(t => t._1 -> t._2).toMap
      var acc = 0L
      var i = 0
      while (i < nParts) {
        offsets(i) = acc; acc += byPid.getOrElse(i, 0L); i += 1
      }
    }
    // the partition-contiguous ordinal, materialized ONCE (a temp
    // column) so every identity column reads the same per-row value —
    // never a second evaluation of the nondeterministic counter
    val ordCol = "__graft_identity_ordinal"
    val withOrd = df.withColumn(ordCol,
      element_at(typedlit(offsets.toSeq), spark_partition_id() + lit(1)) +
        monotonically_increasing_id().bitwiseAND(lit((1L << 33) - 1L)))
    val ordinal = col(ordCol)
    needs.foldLeft(withOrd) { case (d, c) =>
      val (start, step) = specs(c)
      val base = hw.getOrElse(c, start - step)
      val dt = d.schema(d.schema.fieldIndex(c)).dataType
      val fresh = lit(base) + (ordinal + lit(1L)) * lit(step)
      val guarded = dt match {
        case LongType => fresh
        case _ =>
          val (lo, hi) = dt match {
            case IntegerType => (Int.MinValue.toLong, Int.MaxValue.toLong)
            case ShortType => (Short.MinValue.toLong, Short.MaxValue.toLong)
            case other => throw new IllegalStateException(
              s"assignIdentity: unsupported identity type $other for '$c'")
          }
          when(fresh.between(lit(lo), lit(hi)), fresh)
            .otherwise(raise_error(concat(
              lit(s"graft: identity column '$c' (${dt.simpleString}) " +
                "exhausted its declared type's range at value "),
              fresh.cast("string"),
              lit(" — widen the column or re-create the table"))))
      }
      d.withColumn(c, coalesce(col(c), guarded.cast(dt)))
    }.drop(ordCol)
  }

  /** The written epoch's per-column identity extreme (max for step>0,
    * min for step<0) — ONE narrow agg over the freshly written files,
    * the same cost shape as the stats refresh.
    */
  private def identityExtremes(spark: SparkSession, epochDir: String,
                               specs: Map[String, (Long, Long)])
      : Map[String, Long] = {
    if (specs.isEmpty) return Map.empty
    val df = spark.read.parquet(epochDir)
    val cols = specs.filter { case (c, _) => df.columns.contains(c) }
    if (cols.isEmpty) return Map.empty
    val aggs = cols.toSeq.map { case (c, (_, step)) =>
      (if (step > 0) max(col(c)) else min(col(c)))
        .cast("long").as(s"__id_$c")
    }
    val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    cols.keys.flatMap { c =>
      val i = row.fieldIndex(s"__id_$c")
      if (row.isNullAt(i)) None else Some(c -> row.getLong(i))
    }.toMap
  }

  /** Advance the high-water past this commit's extremes (direction per
    * step sign). */
  private def advanceIdhw(prior: Map[String, Long],
                          specs: Map[String, (Long, Long)],
                          ext: Map[String, Long]): Map[String, Long] =
    prior ++ ext.map { case (c, e) =>
      val (start, step) = specs(c)
      val cur = prior.getOrElse(c, start - step)
      c -> (if (step > 0) math.max(cur, e) else math.min(cur, e))
    }

  // ---- GENERATED COLUMNS (GENERATED ALWAYS AS (expr)) -----------------
  //
  // Delta's generated columns: the generation expression rides the
  // schema's field metadata (Spark's GENERATION_EXPRESSION key). On
  // every write, a NULL/omitted input is COMPUTED from the row's other
  // columns and an explicit input is VALIDATED against the expression
  // (mismatch fails the commit — same fused single-pass guard as CHECK
  // constraints). Needs no manifest state; survivors hold by induction.

  /** Generation expressions declared in a schema's field metadata. */
  private[sources] def generatedSpecs(schema: StructType)
      : Map[String, String] =
    schema.fields.flatMap { f =>
      org.apache.spark.sql.catalyst.util.GeneratedColumn
        .getGenerationExpression(f).map(f.name -> _)
    }.toMap

  /** Compute-or-validate generated columns: NULL inputs take the
    * expression's value; non-NULL inputs must EQUAL it (null-safe
    * compare) or the commit fails with the offending row. With
    * `recompute` the expression simply REPLACES the input — the
    * row-level (UPDATE/MERGE) semantics, where a carried-along stale
    * value is the norm, not a user assertion (Delta recomputes there
    * too; INSERT keeps the validating shape).
    */
  private def applyGenerated(df: DataFrame, specs: Map[String, String],
                             tablePath: String,
                             recompute: Boolean = false): DataFrame =
    specs.toSeq.sortBy(_._1).foldLeft(df) { case (d, (c, g)) =>
      if (!d.columns.contains(c)) d
      else {
        val dt = d.schema(d.schema.fieldIndex(c)).dataType
        val gen = expr(g).cast(dt)
        if (recompute) d.withColumn(c, gen)
        else {
          val filled = d.withColumn(c, coalesce(col(c), gen))
          filled.filter(col(c) <=> gen or raise_error(concat(
            lit(s"graft: generated column '$c' GENERATED ALWAYS AS ($g) " +
              s"on $tablePath received a conflicting explicit value "),
            col(c).cast("string"))).isNotNull)
        }
      }
    }

  /** The entry-point combinator every data-adding path runs its
    * INCOMING rows through: identity assignment first (a generated
    * expression may reference the assigned key), then generated-column
    * compute-or-validate. Declared specs come from the MANIFEST schema;
    * a frame column the schema doesn't know is left alone.
    */
  private def applyDeclaredColumns(df: DataFrame, man: Option[Manifest],
                                   tablePath: String,
                                   recomputeGenerated: Boolean = false)
      : DataFrame = {
    val declared = man.fold(df.schema)(_.struct)
    val idSpec = identitySpecs(declared)
    val genSpec = generatedSpecs(declared)
    // a direct API merge that OMITS a declared identity/generated
    // column must not store NULLs for it — add the column as a typed
    // NULL so assignment/computation always runs (the documented
    // "assignment precedes every write" invariant)
    val complete = (idSpec.keys ++ genSpec.keys).toSeq.distinct.sorted
      .filterNot(c => df.columns.exists(_.equalsIgnoreCase(c)))
      .foldLeft(df) { (d, c) =>
        d.withColumn(c,
          lit(null).cast(declared(declared.fieldIndex(c)).dataType))
      }
    val assigned =
      if (idSpec.isEmpty) complete
      else assignIdentity(complete, idSpec,
        man.map(_.idhw).getOrElse(Map.empty))
    if (genSpec.isEmpty) assigned
    else applyGenerated(assigned, genSpec, tablePath, recomputeGenerated)
  }

  // ---- NAMED BRANCHES (write-audit-publish staging) ------------------------
  //
  // Iceberg's branch refs, scaled to the linear manifest protocol: a
  // branch is a SEPARATE manifest lineage in the table directory
  // (`_branch-<name>-K.json`, K continuing from the main version it
  // forked at), sharing the epoch/bucket data space. Branch writes run
  // the ordinary merge machinery — survivor reads against the branch
  // head, fresh epoch dirs under the same table root — but commit to
  // the branch lineage, so MAIN NEVER SEES the staged state.
  // `fastForward` publishes the branch head as the next main version
  // iff main still sits at the branch's base (a concurrent main commit
  // means the staging validated a stale world — loud conflict, restage).
  // gc treats live branch manifests as retained: their epochs, overlay
  // dirs and DV sidecars are pinned until the branch publishes or drops.

  private[sources] val BranchPrefix = "_branch-"

  private def branchManPrefix(name: String): String = s"$BranchPrefix$name-"

  private def requireBranchName(op: String, name: String): Unit =
    require(name.nonEmpty && name.forall(c => c.isLetterOrDigit || c == '_'),
      s"$op: branch name '$name' — use letters, digits and underscores " +
        "(the name is part of the staged manifests' file names)")

  /** All live branches' manifest files: (branch, K, path), K-ordered
    * within a branch.
    */
  private def branchManifestFiles(fs: FileSystem, dir: Path)
      : Seq[(String, Long, Path)] =
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.map(_.getPath)
      .filter(p => p.getName.startsWith(BranchPrefix) &&
        p.getName.endsWith(".json"))
      .flatMap { p =>
        val core = p.getName.stripPrefix(BranchPrefix).stripSuffix(".json")
        val i = core.lastIndexOf('-')
        if (i <= 0) None
        else scala.util.Try(core.substring(i + 1).toLong).toOption
          .map(k => (core.substring(0, i), k, p))
      }.sortBy(t => (t._1, t._2))

  /** The branch's newest staged manifest, None when the branch does not
    * exist.
    */
  private[sources] def branchHead(fs: FileSystem, dir: Path,
                                  name: String): Option[Manifest] =
    branchManifestFiles(fs, dir).filter(_._1 == name).lastOption
      .map { case (_, k, p) => readManifest(fs, k, p) }

  /** Live branch names of the table (empty when none are staged). */
  def listBranches(spark: SparkSession,
                                    tablePath: String): Seq[String] =
    branchManifestFiles(fsFor(spark, tablePath), new Path(tablePath))
      .map(_._1).distinct.sorted

  /** Fork a branch at the CURRENT main version: one staged manifest
    * whose content is the main head and whose `branchBase` records the
    * fork point for the publish-time conflict check. Creation is a
    * no-overwrite publish on the branch's first file — two racing
    * creators of one name fail loudly, and main is untouched.
    */
  def createBranch(spark: SparkSession, tablePath: String,
                   name: String): Unit = {
    requireBranchName("createBranch", name)
    val fs = fsFor(spark, tablePath)
    val dir = new Path(tablePath)
    val man = currentManifest(fs, dir).getOrElse(
      throw new IllegalArgumentException(
        s"createBranch: $tablePath holds no committed graft table"))
    require(branchHead(fs, dir, name).isEmpty,
      s"createBranch: branch '$name' already exists on $tablePath")
    // the branch lineage continues main's numbering: its first manifest
    // takes main's version, as if based on the one before it
    commitLoop(tableTarget(fs, dir, Some(name)), "branch-create",
      Some(man.copy(version = man.version - 1)))(_ => Some(
      s"createBranch: a racing createBranch('$name') on $tablePath " +
        "published first — re-check the branch state and retry"))(
      _ => Some(man.copy(branchBase = man.version)))
    // VERIFY after publish: the file-name CAS only collides when two
    // racing creators fork at the SAME main version — a main commit
    // between their reads gives them different file names and both
    // publishes succeed. Exactly-one-creator is restored by a
    // post-publish listing: seeing ANY other file under the name means
    // a race happened; this creator retracts its root and fails loudly
    // (both may retract in the worst interleaving — loud and clean, vs
    // one creator silently staging on the other's base).
    val others = branchManifestFiles(fs, dir)
      .filter { case (n, k, _) => n == name && k != man.version }
    if (others.nonEmpty) {
      fs.delete(
        new Path(dir, f"${branchManPrefix(name)}${man.version}%016d.json"),
        false)
      throw new java.util.ConcurrentModificationException(
        s"createBranch: a racing createBranch('$name') on $tablePath " +
          "forked at a different main version — this creator retracted; " +
          "re-check the branch state and retry")
    }
  }

  /** Publish the branch head as the next MAIN version — the WAP
    * "publish" step. Requires main to still sit at the branch's fork
    * version: a main commit since creation means the staged work (and
    * its audit) validated a stale world, so the publish conflicts
    * loudly instead of silently clobbering. On success the branch's
    * staged manifests are removed (their epochs are now main-referenced).
    */
  def fastForward(spark: SparkSession, tablePath: String,
                  name: String): Unit = {
    requireBranchName("fastForward", name)
    val fs = fsFor(spark, tablePath)
    val dir = new Path(tablePath)
    val bh = branchHead(fs, dir, name).getOrElse(
      throw new IllegalArgumentException(
        s"fastForward: no branch '$name' on $tablePath"))
    require(bh.branchBase >= 0L,
      s"fastForward: branch '$name' carries no fork version " +
        "(corrupt staging state)")
    val cur = currentManifest(fs, dir).getOrElse(
      throw new IllegalArgumentException(
        s"fastForward: $tablePath holds no committed graft table"))
    if (cur.version != bh.branchBase)
      throw new java.util.ConcurrentModificationException(
        s"fastForward: main of $tablePath advanced to version " +
          s"${cur.version} since branch '$name' forked at " +
          s"${bh.branchBase} — the staged (and audited) state no longer " +
          "applies; re-stage on a fresh branch")
    // a lost CAS means a main commit raced the publish
    commitLoop(tableTarget(fs, dir), "fast_forward", Some(cur))(_ => Some(
      s"fastForward: a concurrent main commit on $tablePath beat " +
        s"the publish of branch '$name' — the staged state no " +
        "longer applies; re-stage on a fresh branch"))(
      _ => Some(bh.copy(branchBase = -1L)))
    // retire ONLY the published prefix (K ≤ the head this publish
    // carried): a staged commit racing the publish lands at K+1 and
    // must not be silently destroyed — it survives as a still-listed
    // branch whose fork version now trails main, so the next
    // fastForward conflicts loudly and the operator re-stages or drops
    branchManifestFiles(fs, dir)
      .filter { case (n, k, _) => n == name && k <= bh.version }
      .foreach { case (_, _, p) => fs.delete(p, false) }
    // staging DEFERRED auto-maintenance here: the published state may
    // carry the whole staging window's epochs, overlays and DVs, and a
    // WAP-only workload has no direct main write to drain the pressure
    maintainAfterWrite(spark, fs, tablePath, AutoSplitBytesPerBucket,
      AutoCompactEpochs)
  }

  /** Abandon a branch: its staged manifests drop now; the epochs only
    * they referenced become reclaimable by the ordinary orphan rules at
    * the next gc. Main never saw any of it.
    */
  def dropBranch(spark: SparkSession, tablePath: String,
                 name: String): Unit = {
    requireBranchName("dropBranch", name)
    val fs = fsFor(spark, tablePath)
    val dir = new Path(tablePath)
    branchManifestFiles(fs, dir).filter(_._1 == name)
      .foreach { case (_, _, p) => fs.delete(p, false) }
    gc(fs, dir)
  }

  /** Snapshot read of the branch head — the WAP "audit" read. */
  def readBranch(spark: SparkSession, tablePath: String,
                 name: String): DataFrame =
    scanPinned(spark, tablePath,
      pinManifest(spark, tablePath, None, None, Some(name)).get)

  /** A version REFERENCE — a numeric version or a tag name — resolved
    * to the concrete version it names (tags resolve through the
    * CURRENT manifest; an unknown ref fails loudly with both
    * namespaces' candidates).
    */
  def resolveVersionRef(spark: SparkSession, tablePath: String,
                        ref: String): Long =
    scala.util.Try(ref.toLong).getOrElse {
      val man = currentManifest(fsFor(spark, tablePath), new Path(tablePath))
        .getOrElse(throw new IllegalArgumentException(
          s"versionAsOf: $tablePath holds no committed graft table"))
      man.tags.getOrElse(ref, throw new IllegalArgumentException(
        s"versionAsOf: '$ref' is neither a numeric version nor a tag of " +
          s"$tablePath (tags: ${man.tags.keys.toSeq.sorted.mkString(", ")})"))
    }

  /** The table's current retention policy `(versions, ms)` — the
    * catalog's ALTER TABLE reads it to apply partial updates.
    */
  private[sources] def describeRetention(spark: SparkSession,
                                         tablePath: String): (Int, Long) =
    currentManifest(fsFor(spark, tablePath), new Path(tablePath))
      .map(m => (m.retainVersions, m.retainMs))
      .getOrElse((KeepManifests, 0L))

  /** Set the table's retention policy (see [[Manifest.retainVersions]]):
    * a metadata-only commit every later commit carries forward.
    * `versions` below [[KeepManifests]] clamps up (a pinned reader must
    * survive one concurrent commit); `ms` = 0 means count-only. Takes
    * effect immediately — RAISING retention stops gc from dropping
    * history from now on (already-collected versions are gone);
    * lowering it lets the next commit's gc reclaim.
    */
  def setRetention(spark: SparkSession, tablePath: String,
                   versions: Int = KeepManifests, ms: Long = 0L): Unit = {
    val fs = fsFor(spark, tablePath)
    val dir = new Path(tablePath)
    val man0 = currentManifest(fs, dir).getOrElse(
      throw new IllegalArgumentException(
        s"setRetention: no committed graft table at $tablePath"))
    if (editTable(fs, dir, "retention", man0) { man =>
      val v = math.max(KeepManifests, versions)
      if (man.retainVersions == v && man.retainMs == ms) None
      else Some(man.copy(retainVersions = v, retainMs = math.max(0L, ms)))
    }) gc(fs, dir)
  }

  /** RESTORE to a retained version (Delta `RESTORE TABLE ... TO VERSION
    * AS OF` / Iceberg `rollback_to_snapshot`): a METADATA-ONLY commit
    * that re-points the table at the target version's full state —
    * buckets, epoch pointers, schema, column ids, stats, Bloom/cluster
    * declarations all roll back; no data file is copied or moved (the
    * target's epochs are alive by the retention contract), so at 100 TB
    * this is one manifest write. History rolls FORWARD: the restore is
    * itself a commit, so the change feed diffs the pre-restore state
    * against the restored one (downstream consumers see the rollback as
    * ordinary keyed changes) and a mistaken restore is restorable in
    * turn. Deliberately NOT rolled back: the retention policy (an
    * operational knob, not data), the txn ledger (replay dedupe must
    * keep recognizing writer app ids that committed after the target —
    * rolling it back would re-apply their replays as fresh data), and
    * the field-id allocator `nextColId` (ids stamped into retained
    * post-target epochs must never be reissued to new columns, or
    * id-matching across versions would falsely pair them).
    */
  def restoreVersion(spark: SparkSession, tablePath: String,
                     version: Long): Unit = {
    val fs = fsFor(spark, tablePath)
    val dir = new Path(tablePath)
    val man0 = currentManifest(fs, dir).getOrElse(
      throw new IllegalArgumentException(
        s"restore: no committed graft table at $tablePath"))
    if (editTable(fs, dir, "restore", man0) { man =>
      if (man.version == version) None // already that state
      else {
        val target = pinManifest(spark, tablePath, Some(version), None).get
        Some(target.copy(txns = man.txns,
          retainVersions = man.retainVersions, retainMs = man.retainMs,
          nextColId = math.max(man.nextColId, target.nextColId),
          // tags name VERSIONS (policy, not data) — they survive the
          // rollback; the writer policy flag stays current too
          tags = man.tags,
          deleteVectors = man.deleteVectors))
      }
    }) gc(fs, dir)
  }

  /** ALTER TABLE ADD COLUMNS as a METADATA-ONLY commit: append nullable
    * columns to the recorded schema; no data file is touched — every
    * reader null-fills the new columns for existing rows (the same
    * additive-evolution contract as `merge(evolveSchema = true)`, which
    * reaches the identical state through a writing path). Additive only
    * by design: drop/rename/type-change would strand the immutable
    * parquet epochs.
    */
  def addColumns(spark: SparkSession, tablePath: String,
                 cols: StructType): Unit = {
    require(cols.nonEmpty, "addColumns: no columns given")
    val fs = fsFor(spark, tablePath)
    val dir = new Path(tablePath)
    val man0 = currentManifest(fs, dir).getOrElse(
      throw new IllegalArgumentException(
        s"addColumns: no committed graft table at $tablePath"))
    if (editTable(fs, dir, "addColumns", man0) { man =>
      val cur = man.struct
      cols.fields.foreach { f =>
        require(!cur.fieldNames.contains(f.name),
          s"addColumns: column '${f.name}' already exists")
        require(f.nullable,
          s"addColumns: '${f.name}' must be nullable — existing " +
            "rows null-fill (declare NOT NULL data via a rewrite)")
      }
      val next = StructType(cur.fields ++ stripSchemaIds(
        StructType(cols.fields)).fields)
      // each added column takes a FRESH field id (never a reused one —
      // see [[Manifest.nextColId]])
      var n = man.nextColId
      val cids = man.colIds ++ cols.fields.map { f =>
        f.name -> { val v = n; n += 1; v }
      }
      Some(man.copy(schema = next.json, colIds = cids, nextColId = n))
    }) gc(fs, dir)
  }

  /** ALTER TABLE RENAME COLUMN as a METADATA-ONLY commit (Iceberg field
    * IDs / Delta column-mapping `id`, on the parquet-native
    * `parquet.field.id` mechanism — see [[Manifest.colIds]]): the
    * immutable epoch files keep the old name in their footers; readers
    * match the column BY ID, so no data file is touched — at 100 TB the
    * difference between a manifest write and a full-table rewrite.
    * Everything name-keyed in the MANIFEST follows the rename in the
    * same atomic commit: the recorded schema, merge keys, cluster
    * entries (z-order composites included), and the per-file min/max/
    * null-count stats keys (so data skipping on the renamed column keeps
    * pruning old files). Restrictions, each failing loudly: the new
    * name must be free (case-insensitive — SQL resolution is), and
    * Bloom columns cannot be renamed (their
    * per-epoch sidecars are name-keyed files shared with retained
    * versions; drop the bloom index first).
    */
  def renameColumn(spark: SparkSession, tablePath: String,
                   from: String, to: String): Unit = {
    val fs = fsFor(spark, tablePath)
    val dir = new Path(tablePath)
    val man0 = currentManifest(fs, dir).getOrElse(
      throw new IllegalArgumentException(
        s"renameColumn: no committed graft table at $tablePath"))
    if (editTable(fs, dir, "renameColumn", man0) { man =>
      val cur = man.struct
      require(cur.fieldNames.contains(from),
        s"renameColumn: no column '$from' in $tablePath " +
          s"(columns: ${cur.fieldNames.mkString(", ")})")
      require(!cur.fieldNames.exists(_.equalsIgnoreCase(to)),
        s"renameColumn: column '$to' already exists")
      require(!man.bloomCols.contains(from),
        s"renameColumn: '$from' is a Bloom-indexed column — its " +
          "per-epoch sidecars are name-keyed; rebuild without the " +
          "bloom index first")
      man.checks.foreach { case (cn, sql) =>
        require(!checkPredicateColumns(spark, sql, cur)
            .exists(_.equalsIgnoreCase(from)),
          s"renameColumn: '$from' is referenced by CHECK constraint " +
            s"'$cn' CHECK ($sql) — drop the constraint, rename, and " +
            "re-add it over the new name")
      }
      generatedReferences(spark, cur).foreach { case (gc, g, r) =>
        require(!r.equalsIgnoreCase(from),
          s"renameColumn: '$from' is referenced by generated column " +
            s"'$gc' GENERATED ALWAYS AS ($g) — the stored expression " +
            "would no longer resolve; re-create the table to rename it")
      }
      // shred declarations follow the rename; their HIDDEN stats
      // keys remap too — the extraction is a pure function of the
      // variant column (itself matched by field id), so old files'
      // recorded min/max stay exact under the new hidden name. Old
      // epochs' BLOOM sidecars stay keyed under the old hidden name
      // and degrade to keep-all for those files (sound; the next
      // rewrite re-keys them).
      val shredRe: Map[String, String] = man.shredCols
        .filter(_.column == from)
        .map(s => shredColName(s) -> shredColName(s.copy(column = to)))
        .toMap
      def re(c: String): String =
        if (c == from) to else shredRe.getOrElse(c, c)
      def reCluster(entry: String): String = entry.indexOf(':') match {
        case -1 => re(entry)
        case i => entry.substring(0, i + 1) +
          entry.substring(i + 1).split(',').map(c => re(c.trim))
            .mkString(",")
      }
      val next = StructType(cur.fields.map(f =>
        if (f.name == from) f.copy(name = to) else f))
      val stats2 = man.stats.map { case (b, fss) =>
        b -> fss.map(f => f.copy(
          mins = f.mins.map { case (c, v) => re(c) -> v },
          maxs = f.maxs.map { case (c, v) => re(c) -> v },
          nulls = f.nulls.map { case (c, v) => re(c) -> v }))
      }
      Some(man.copy(schema = next.json,
        keyCols = man.keyCols.map(re),
        clusterCols = man.clusterCols.map(reCluster),
        stats = stats2,
        colIds = man.colIds.map { case (c, id) => re(c) -> id },
        colStats = man.colStats.map { case (c, s) => re(c) -> s },
        colSketches = man.colSketches
          .map { case (c, s) => re(c) -> s },
        // the identity high-water is name-keyed too: a rename
        // that orphaned it would silently re-issue stored values
        idhw = man.idhw.map { case (c, v) => re(c) -> v },
        colHists = man.colHists.map { case (c, h) => re(c) -> h },
        shredCols = man.shredCols.map(s =>
          if (s.column == from) s.copy(column = to) else s)))
    }) gc(fs, dir)
  }

  /** Safe type promotions for [[widenColumn]]: every stored value of
    * `from` is exactly representable in `to`, the parquet readers
    * (vectorized and row-based) read the narrow physical pages through
    * the wide requested type (Spark's parquet type widening), and the
    * stats canonical domain stays comparable — integral types
    * canonicalize to longs and parse under a DOUBLE probe tag exactly
    * (int values are ≤ 2^31, double-exact), so file pruning keeps
    * working across the boundary. Long→double is OUT (2^63-adjacent
    * longs are not double-exact — silent value drift).
    */
  private def canWiden(from: DataType, to: DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType | DoubleType) => true
      case (ShortType, IntegerType | LongType | DoubleType) => true
      case (IntegerType, LongType | DoubleType) => true
      case (FloatType, DoubleType) => true
      case _ => false
    }
  }

  /** ALTER TABLE ALTER COLUMN TYPE as a METADATA-ONLY commit for SAFE
    * WIDENINGS ([[canWiden]]): the recorded schema's field takes the
    * wide type; old epoch files keep their narrow pages and read
    * through the wide requested schema (no rewrite — Iceberg's type
    * promotion). Merge-key columns refuse (`hash(int 5) != hash(long
    * 5)` — the widened key would re-bin every row under a hash no
    * future merge computes); Bloom columns accept integral→integral
    * only (both sides canonicalize to the same `putLong`, so recorded
    * sidecars keep answering; →double would leave sidecars whose hash
    * domain no probe matches).
    */
  def widenColumn(spark: SparkSession, tablePath: String,
                  name: String, to: DataType): Unit = {
    import org.apache.spark.sql.types._
    val fs = fsFor(spark, tablePath)
    val dir = new Path(tablePath)
    val man0 = currentManifest(fs, dir).getOrElse(
      throw new IllegalArgumentException(
        s"widenColumn: no committed graft table at $tablePath"))
    if (editTable(fs, dir, "widenColumn", man0) { man =>
      val cur = man.struct
      val f = cur.fields.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(
          s"widenColumn: no column '$name' in $tablePath " +
            s"(columns: ${cur.fieldNames.mkString(", ")})"))
      if (f.dataType == to) None // idempotent
      else {
        require(canWiden(f.dataType, to),
          s"widenColumn: ${f.dataType.simpleString} -> " +
            s"${to.simpleString} is not a safe widening (allowed: " +
            "byte/short/int -> wider integral or double, float -> " +
            "double); anything else needs a rewrite")
        require(!man.keyCols.contains(name),
          s"widenColumn: '$name' is a merge key — hash(int x) != " +
            "hash(long x), so widening would re-bin every row; " +
            "re-create the table to change a key's type")
        require(!man.bloomCols.contains(name) || to != DoubleType,
          s"widenColumn: '$name' is Bloom-indexed — widening to " +
            "double leaves sidecars no probe can match; rebuild " +
            "without the bloom index first")
        val next = StructType(cur.fields.map(x =>
          if (x.name == name) x.copy(dataType = to) else x))
        Some(man.copy(schema = next.json))
      }
    }) gc(fs, dir)
  }

  /** Replace ONLY the per-column metadata of the recorded schema (the
    * DEFAULT-value keys — `ALTER COLUMN ... SET/DROP DEFAULT`): names
    * and types must match the recorded schema exactly; a metadata-only
    * commit carries everything else forward. Field ids are re-stamped
    * from the manifest (they are write-managed, never caller-supplied).
    */
  def replaceSchemaMetadata(spark: SparkSession, tablePath: String,
                            next: StructType): Unit = {
    val fs = fsFor(spark, tablePath)
    val dir = new Path(tablePath)
    val man0 = currentManifest(fs, dir).getOrElse(
      throw new IllegalArgumentException(
        s"replaceSchemaMetadata: no committed graft table at $tablePath"))
    if (editTable(fs, dir, "alterDefault", man0) { man =>
      val cur = man.struct
      require(cur.fieldNames.toSeq == next.fieldNames.toSeq,
        s"replaceSchemaMetadata: column set must not change " +
          s"(${cur.fieldNames.mkString(",")} vs " +
          s"${next.fieldNames.mkString(",")})")
      val metaByName = stripSchemaIds(next).fields
        .map(f => f.name -> f.metadata).toMap
      val merged = StructType(cur.fields.map(f =>
        f.copy(metadata = metaByName(f.name))))
      Some(man.copy(schema = merged.json))
    }) gc(fs, dir)
  }

  /** ALTER TABLE DROP COLUMN as a METADATA-ONLY commit: the column
    * leaves the recorded schema (readers stop requesting it) while the
    * immutable files keep the bytes until natural rewrite (compaction /
    * merge) ages them out — Iceberg/Delta drop semantics. The freed id
    * is NEVER reused ([[Manifest.nextColId]]), so re-adding the same
    * name later reads NULL for pre-drop rows instead of resurrecting
    * the dropped data; the column's stats keys leave the manifest in
    * the same commit (a re-added namesake must not inherit stale
    * min/max and skip wrongly). Refuses, loudly: merge-key / cluster /
    * Bloom columns (load-bearing for layout), and the last
    * non-key column (a keyed table with no compared column has no
    * diffable content).
    */
  def dropColumn(spark: SparkSession, tablePath: String,
                 name: String): Unit = {
    val fs = fsFor(spark, tablePath)
    val dir = new Path(tablePath)
    val man0 = currentManifest(fs, dir).getOrElse(
      throw new IllegalArgumentException(
        s"dropColumn: no committed graft table at $tablePath"))
    if (editTable(fs, dir, "dropColumn", man0) { man =>
      val cur = man.struct
      require(cur.fieldNames.contains(name),
        s"dropColumn: no column '$name' in $tablePath " +
          s"(columns: ${cur.fieldNames.mkString(", ")})")
      require(!man.keyCols.contains(name),
        s"dropColumn: '$name' is a merge key")
      man.checks.foreach { case (cn, sql) =>
        require(!checkPredicateColumns(spark, sql, cur)
            .exists(_.equalsIgnoreCase(name)),
          s"dropColumn: '$name' is referenced by CHECK constraint " +
            s"'$cn' CHECK ($sql) — drop the constraint first")
      }
      generatedReferences(spark, cur).foreach { case (gc, g, r) =>
        require(!r.equalsIgnoreCase(name),
          s"dropColumn: '$name' is referenced by generated column " +
            s"'$gc' GENERATED ALWAYS AS ($g) — drop '$gc' first")
      }
      val inCluster = man.clusterCols.exists { e =>
        e.indexOf(':') match {
          case -1 => e == name
          case i => e.substring(i + 1).split(',').map(_.trim)
            .contains(name)
        }
      }
      require(!inCluster, s"dropColumn: '$name' is a cluster column")
      require(!man.bloomCols.contains(name),
        s"dropColumn: '$name' is a Bloom-indexed column")
      require(cur.fields.exists(f =>
        f.name != name && !man.keyCols.contains(f.name)),
        s"dropColumn: '$name' is the last non-key column")
      val next = StructType(cur.fields.filterNot(_.name == name))
      // a dropped variant column takes its shred declarations (and
      // their hidden stats keys) with it — a later same-named
      // column must not inherit stale extraction stats
      val droppedShredKeys = man.shredCols.filter(_.column == name)
        .map(shredColName).toSet
      val stats2 = man.stats.map { case (b, fss) =>
        b -> fss.map(f => f.copy(
          mins = f.mins - name -- droppedShredKeys,
          maxs = f.maxs - name -- droppedShredKeys,
          nulls = f.nulls - name -- droppedShredKeys))
      }
      Some(man.copy(schema = next.json, stats = stats2,
        colIds = man.colIds - name,
        colStats = man.colStats - name,
        colSketches = man.colSketches - name,
        idhw = man.idhw - name,
        colHists = man.colHists - name,
        shredCols = man.shredCols.filterNot(_.column == name)))
    }) gc(fs, dir)
  }

  /** Operational introspection (Delta's DESCRIBE DETAIL): one row with
    * the table's current version, bucket count, live epoch count,
    * recorded schema DDL, retained versions, and txn-ledger size.
    */
  def describeTable(spark: SparkSession, tablePath: String): DataFrame = {
    import spark.implicits._
    val fs = fsFor(spark, tablePath)
    val retained = manifestFiles(fs, new Path(tablePath)).map(_._1)
    currentManifest(fs, new Path(tablePath)) match {
      case Some(m) =>
        Seq((m.version, m.buckets,
          (m.epochs.values.toSet ++ m.overlays.values.flatten).size,
          m.struct.toDDL, retained.mkString(","), m.txns.size,
          // from manifest stats alone — no listing (0/0 pre-stats)
          m.stats.values.map(_.size).sum,
          m.stats.values.flatMap(_.map(_.bytes)).sum,
          m.clusterCols.mkString(","), m.keyCols.mkString(","),
          // merge-on-read pressure: DV'd files / dead rows / overlay
          // epochs — what CALL gc.system.compact would drain
          m.stats.values.flatMap(_.filter(_.dv.nonEmpty)).size,
          m.stats.values.flatMap(_.map(_.dvn)).sum,
          m.overlays.values.map(_.size).sum,
          m.tags.toSeq.sortBy(_._1)
            .map { case (t, v) => s"$t=$v" }.mkString(",")))
          .toDF("version", "buckets", "live_epochs", "schema_ddl",
            "retained_versions", "n_txns", "n_files", "total_bytes",
            "cluster_cols", "key_cols", "dv_files", "dv_rows",
            "overlay_epochs", "tags")
      case None =>
        Seq.empty[(Long, Int, Int, String, String, Int, Int, Long,
            String, String, Int, Long, Int, String)]
          .toDF("version", "buckets", "live_epochs", "schema_ddl",
            "retained_versions", "n_txns", "n_files", "total_bytes",
            "cluster_cols", "key_cols", "dv_files", "dv_rows",
            "overlay_epochs", "tags")
    }
  }

  /** ANALYZE TABLE for the manifest protocol (Delta's `ANALYZE TABLE
    * ... COMPUTE STATISTICS FOR COLUMNS` / Iceberg's puffin NDV
    * sketches): ONE distributed pass over the live rows computes each
    * requested column's approximate NDV (HyperLogLog++ — the input
    * Spark's cost-based optimizer needs for join reordering and
    * selectivity), exact null count, avg/max byte length, and canonical
    * min/max, and records them in the manifest ([[Manifest.colStats]]).
    * The catalog scan reports them to Spark through
    * `estimateStatistics().columnStats()`, so with
    * `spark.sql.cbo.enabled` a graft table participates in cost-based
    * planning like a Hive table with fresh ANALYZE stats — at 100 TB,
    * join ORDER driven by real NDVs is routinely a 10-100× plan
    * difference. Stats are estimates by contract: later commits carry
    * them forward unchanged (Delta's behavior), `statsVersion` names
    * the analyzed version, and re-running ANALYZE refreshes. Default
    * columns = every top-level column of an eligible type.
    */
  // ---- INCREMENTAL COLUMN STATISTICS (HLL sketch union on commit) -----
  //
  // ANALYZE records a per-column DataSketches HLL alongside the ColStat
  // (Iceberg's puffin NDV sketches); every later data commit folds ONE
  // narrow agg over its written rows into the stored sketches — NDV,
  // min/max and statsVersion stay fresh without re-scanning the corpus
  // (Delta's stats-on-write shape). The sketch input domain is the
  // column CAST TO STRING on both the ANALYZE and the refresh side, so
  // unions always merge consistent hashes. HLL cannot subtract: after
  // deletes the NDV is an upper bound, which is the conservative
  // direction for join planning, and the serve-side drift gate
  // (statsRows ±20%) still bounds how far it can rot.

  private[sources] case class BatchColStats(
      sketches: Map[String, Array[Byte]],
      lo: Map[String, String],
      hi: Map[String, String])

  private def statsRangeable(dt: DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType | FloatType |
           DoubleType | DateType | TimestampType | TimestampNTZType => true
      case _ => false
    }
  }

  /** One narrow agg job over the rows a commit writes: per sketched
    * column the batch's HLL bytes plus canonical min/max. Cost ∝
    * written rows × sketched columns — never ∝ corpus.
    */
  private def batchColStats(frame: DataFrame,
                            sketched: Set[String]): Option[BatchColStats] = {
    val cols = frame.schema.fields.filter(f => sketched.contains(f.name))
      .toSeq
    if (cols.isEmpty) return None
    val aggs = cols.flatMap { f =>
      Seq(hll_sketch_agg(col(f.name).cast("string"))
          .as(s"__sk_${f.name}")) ++
        (if (statsRangeable(f.dataType))
          Seq(min(col(f.name)).as(s"__lo_${f.name}"),
            max(col(f.name)).as(s"__hi_${f.name}"))
        else Seq.empty)
    }
    val row = frame.agg(aggs.head, aggs.tail: _*).collect()(0)
    def canon(f: StructField, which: String): String = {
      val i = row.fieldIndex(s"${which}_${f.name}")
      if (row.isNullAt(i)) ""
      else boundToCanon(f.dataType, row.get(i)).map(_._2.toString)
        .getOrElse("")
    }
    Some(BatchColStats(
      cols.map { f =>
        val i = row.fieldIndex(s"__sk_${f.name}")
        f.name -> (if (row.isNullAt(i)) Array.empty[Byte]
                   else row.getAs[Array[Byte]](i))
      }.toMap.filter(_._2.nonEmpty),
      cols.filter(f => statsRangeable(f.dataType))
        .map(f => f.name -> canon(f, "__lo")).toMap,
      cols.filter(f => statsRangeable(f.dataType))
        .map(f => f.name -> canon(f, "__hi")).toMap))
  }

  /** Driver-side HLL union of the stored sketch (if any) and a batch
    * sketch: returns the merged base64 plus its NDV estimate.
    */
  private def unionSketch(stored: Option[String],
                          batch: Option[Array[Byte]]): (String, Long) = {
    import org.apache.datasketches.hll.{HllSketch, TgtHllType, Union}
    val u = new Union(12)
    stored.filter(_.nonEmpty).foreach(s =>
      u.update(HllSketch.heapify(java.util.Base64.getDecoder.decode(s))))
    batch.filter(_.nonEmpty).foreach(b => u.update(HllSketch.heapify(b)))
    val sk = u.getResult(TgtHllType.HLL_4)
    (java.util.Base64.getEncoder.encodeToString(sk.toCompactByteArray),
      math.round(sk.getEstimate))
  }

  /** Widen a canonical bound with the batch's (both numeric strings in
    * the canonical domain; "" = unknown keeps the other side).
    */
  private def widenCanon(stored: String, batch: String,
                         lower: Boolean): String =
    if (batch.isEmpty) stored
    else if (stored.isEmpty) batch
    else scala.util.Try {
      val a = BigDecimal(stored); val b = BigDecimal(batch)
      if (lower == (b < a)) batch else stored
    }.getOrElse(stored)

  /** Fold a commit's batch sketches into the manifest it is about to
    * publish: NDV = union estimate, min/max widened, `statsVersion` =
    * this commit's version, `statsRows` re-derived EXACTLY from the new
    * file inventory when every live file carries a row count (and
    * likewise per-column null counts when every live file records
    * them, DV-free); carried forward as the documented estimate
    * otherwise. No-op when the commit carries no batch stats.
    */
  private def withRefreshedStats(m: Manifest,
                                 batch: Option[BatchColStats]): Manifest =
    batch match {
      case None => m
      case Some(b) =>
        val liveFiles = m.stats.values.flatten.toSeq
        val exactRows: Option[Long] =
          if (liveFiles.nonEmpty && liveFiles.forall(_.rows >= 0L))
            Some(liveFiles.map(f => f.rows - f.dvn).sum)
          else None
        val sketches = scala.collection.mutable.Map.empty[String, String]
        val newStats = m.colStats.map { case (c, cs) =>
          val (sk, ndv) = unionSketch(m.colSketches.get(c),
            b.sketches.get(c))
          sketches(c) = sk
          val exactNulls =
            if (liveFiles.nonEmpty &&
                liveFiles.forall(f => f.dvn == 0L && f.nulls.contains(c)))
              Some(liveFiles.map(_.nulls(c)).sum)
            else None
          c -> cs.copy(
            ndv = if (b.sketches.contains(c) ||
              m.colSketches.contains(c)) ndv else cs.ndv,
            nulls = exactNulls.getOrElse(
              exactRows.fold(cs.nulls)(r => math.min(cs.nulls, r))),
            min = widenCanon(cs.min, b.lo.getOrElse(c, ""), lower = true),
            max = widenCanon(cs.max, b.hi.getOrElse(c, ""), lower = false))
        }
        m.copy(colStats = newStats,
          colSketches = m.colSketches ++ sketches,
          statsVersion = m.version,
          statsRows = exactRows.getOrElse(m.statsRows))
    }

  def analyzeTable(spark: SparkSession, tablePath: String,
                   columns: Seq[String] = Seq.empty): Map[String, ColStat] = {
    import org.apache.spark.sql.types._
    val fs = fsFor(spark, tablePath)
    val dir = new Path(tablePath)
    val man0 = currentManifest(fs, dir).getOrElse(
      throw new IllegalArgumentException(
        s"analyzeTable: $tablePath holds no committed graft table"))
    val schema = man0.struct
    def eligible(dt: DataType): Boolean = dt match {
      case _: NumericType | DateType | TimestampType | TimestampNTZType |
           StringType | BinaryType | BooleanType => true
      case _ => false
    }
    val cols =
      if (columns.nonEmpty) columns
      else schema.fields.filter(f => eligible(f.dataType)).map(_.name).toSeq
    cols.foreach { c =>
      val f = schema.fields.find(_.name == c)
      require(f.isDefined, s"analyzeTable: column '$c' is not in the " +
        s"schema of $tablePath")
      require(eligible(f.get.dataType),
        s"analyzeTable: column '$c' has unsupported type " +
          f.get.dataType.simpleString)
    }
    val typeOf = schema.fields.map(f => f.name -> f.dataType).toMap
    def fixedLen(dt: DataType): Option[Long] = dt match {
      case BooleanType | ByteType => Some(1L)
      case ShortType => Some(2L)
      case IntegerType | FloatType | DateType => Some(4L)
      case LongType | DoubleType | TimestampType | TimestampNTZType =>
        Some(8L)
      case dtt: DecimalType => Some(dtt.defaultSize.toLong)
      case _ => None // strings/binary: measured below
    }
    def rangeable(dt: DataType): Boolean = dt match {
      case ByteType | ShortType | IntegerType | LongType | FloatType |
           DoubleType | DateType | TimestampType | TimestampNTZType => true
      case _ => false // Spark's ANALYZE records no string min/max either
    }
    // EQUI-HEIGHT HISTOGRAM sizing: bin-boundary percentiles ride the
    // SAME corpus pass as everything else; per-bin NDVs take one more
    // pass (below). 0 bins disables.
    val histBins = math.max(0,
      spark.conf.get("spark.graft.analyze.histogramBins", "32").toInt)
    // the column in the CANONICAL INTERNAL double domain (epoch days /
    // micros / numeric value) — the domain catalyst's estimator
    // compares filter literals in, so stored bin bounds match directly
    def histDouble(c: String): org.apache.spark.sql.Column = typeOf(c) match {
      case DateType => unix_date(col(c)).cast("double")
      case TimestampType => unix_micros(col(c)).cast("double")
      case TimestampNTZType =>
        // sessions run UTC (the canonical-domain convention): local
        // wall-clock micros == the same UTC instant's micros
        unix_micros(col(c).cast("timestamp")).cast("double")
      case _ => col(c).cast("double")
    }
    // aggregate over the PINNED version so the recorded statsVersion
    // names exactly the rows the stats were computed from (a concurrent
    // commit between the manifest read and the pass must not drift the
    // provenance)
    val t = readTableVersion(spark, tablePath, man0.version)
    val aggs = Seq(count(lit(1)).as("__rows")) ++ cols.flatMap { c =>
      val dt = typeOf(c)
      // NDV comes from the stored HLL sketch (cast-to-string domain —
      // the SAME domain every later commit's refresh unions into, so
      // the estimate never jumps estimator mid-lineage)
      Seq(hll_sketch_agg(col(c).cast("string")).as(s"__sk_$c"),
        count(col(c)).as(s"__nn_$c")) ++
        (if (fixedLen(dt).isEmpty)
          Seq(avg(octet_length(col(c).cast("string"))).as(s"__avg_$c"),
            max(octet_length(col(c).cast("string"))).as(s"__max_$c"))
        else Seq.empty) ++
        (if (rangeable(dt))
          Seq(min(col(c)).as(s"__lo_$c"), max(col(c)).as(s"__hi_$c"))
        else Seq.empty) ++
        (if (rangeable(dt) && histBins > 0)
          Seq(percentile_approx(histDouble(c),
            typedlit((0 to histBins).map(_.toDouble / histBins)),
            lit(10000)).as(s"__pct_$c"))
        else Seq.empty)
    }
    val row = t.agg(aggs.head, aggs.tail: _*).collect()(0)
    val rows = row.getAs[Long]("__rows")
    // per-bin NDVs: ONE more corpus pass through Spark's own
    // ApproxCountDistinctForIntervals (the aggregate vanilla ANALYZE's
    // histogram path uses — one HLL per interval in a single scan).
    // Total: 2 scans per ANALYZE, one fewer than vanilla's 3 (its
    // percentile pass is fused into this pass 1). Duplicate endpoints
    // (heavy hitters spanning bins) are kept, exactly as Spark keeps
    // them — a bin with lo == hi IS the skew signal.
    val histOf: Map[String, String] = {
      val endpoints = cols.flatMap { c =>
        if (!rangeable(typeOf(c)) || histBins <= 0) None
        else {
          val i = row.fieldIndex(s"__pct_$c")
          if (row.isNullAt(i)) None
          else Option(row.getSeq[Double](i).toArray).filter(_.length >= 2)
            .map(c -> _)
        }
      }
      if (endpoints.isEmpty) Map.empty
      else {
        import org.apache.spark.sql.GraftColumnShim.{column, expression}
        import org.apache.spark.sql.catalyst.expressions.{CreateArray,
          Literal}
        import org.apache.spark.sql.catalyst.expressions.aggregate
          .ApproxCountDistinctForIntervals
        val aggs2 = endpoints.map { case (c, eps) =>
          column(new ApproxCountDistinctForIntervals(
            expression(histDouble(c)),
            CreateArray(eps.toIndexedSeq.map(e => Literal(e))),
            0.05, 0, 0).toAggregateExpression()).as(s"__hist_$c")
        }
        val row2 = t.agg(aggs2.head, aggs2.tail: _*).collect()(0)
        endpoints.flatMap { case (c, eps) =>
          val i = row2.fieldIndex(s"__hist_$c")
          if (row2.isNullAt(i)) None
          else {
            val ndvs = row2.getSeq[Long](i)
            val nBins = eps.length - 1
            val height =
              row.getAs[Long](s"__nn_$c").toDouble / nBins
            Some(c -> (height.toString + "|" +
              (0 until nBins).map(b =>
                s"${eps(b)},${eps(b + 1)},${ndvs(b)}").mkString(";")))
          }
        }.toMap
      }
    }
    def canon(c: String, field: String): String = {
      val i = row.fieldIndex(s"${field}_$c")
      if (row.isNullAt(i)) ""
      else boundToCanon(typeOf(c), row.get(i)).map(_._2.toString)
        .getOrElse("")
    }
    val sketchOf: Map[String, String] = cols.flatMap { c =>
      val i = row.fieldIndex(s"__sk_$c")
      if (row.isNullAt(i)) None
      else Some(c -> java.util.Base64.getEncoder
        .encodeToString(row.getAs[Array[Byte]](i)))
    }.toMap
    val computed = cols.map { c =>
      val dt = typeOf(c)
      val (avgL, maxL) = fixedLen(dt) match {
        case Some(n) => (n, n)
        case None =>
          val ai = row.fieldIndex(s"__avg_$c")
          val mi = row.fieldIndex(s"__max_$c")
          (if (row.isNullAt(ai)) 0L
           else math.round(row.getAs[Double](s"__avg_$c")),
            if (row.isNullAt(mi)) 0L
            else row.getAs[Int](s"__max_$c").toLong)
      }
      val (lo, hi) =
        if (rangeable(dt)) (canon(c, "__lo"), canon(c, "__hi"))
        else ("", "")
      c -> ColStat(unionSketch(sketchOf.get(c), None)._2,
        rows - row.getAs[Long](s"__nn_$c"), avgL, maxL, lo, hi)
    }.toMap
    // metadata-only commit that rebases: losing the version CAS to a
    // concurrent merge just means the stats are one commit staler than
    // the head — still the estimates they claim to be
    editTable(fs, dir, "analyze", man0)(man => Some(man.copy(
      colStats = computed, statsVersion = man0.version, statsRows = rows,
      colSketches = sketchOf, colHists = histOf)))
    gc(fs, dir)
    computed
  }

  /** Commit history over the RETAINED manifest window (Delta's
    * DESCRIBE HISTORY, bounded by [[KeepManifests]] exactly as Delta's
    * is by its log retention): one row per retained version — the
    * operation that wrote it, its wall-clock commit time, and the
    * resulting file count/bytes from the manifest's own stats (no
    * listing). Pre-commitInfo versions show an empty op and a null
    * timestamp. Newest first.
    */
  def tableHistory(spark: SparkSession, tablePath: String): DataFrame = {
    import spark.implicits._
    val fs = fsFor(spark, tablePath)
    val all = manifestFiles(fs, new Path(tablePath))
    // tags live in the CURRENT manifest; each history row lists the
    // tags naming it (Iceberg's refs view, folded into history)
    val curTags: Map[Long, Seq[String]] = all.lastOption
      .map { case (v, p) => readManifest(fs, v, p).tags }
      .getOrElse(Map.empty)
      .groupBy(_._2).map { case (v, ts) => v -> ts.keys.toSeq.sorted }
    all.reverse
      .map { case (v, p) => readManifest(fs, v, p) }
      .map { m =>
        (m.version, if (m.op.isEmpty) null else m.op,
          if (m.opTs == 0L) null
          else new java.sql.Timestamp(m.opTs),
          m.buckets,
          // base + merge-on-read overlay epochs — the same live_epochs
          // definition describeTable reports
          (m.epochs.values.toSet ++ m.overlays.values.flatten).size,
          m.stats.values.map(_.size).sum,
          m.stats.values.flatMap(_.map(_.bytes)).sum,
          m.txns.size,
          curTags.get(m.version).map(_.mkString(",")).orNull)
      }
      .toDF("version", "op", "commit_ts", "buckets", "live_epochs",
        "n_files", "total_bytes", "n_txns", "tags")
  }

  /** Per-file physical inventory of the CURRENT version (Iceberg's
    * `t.files`): one row per live data file, straight from the
    * manifest's stats records — no listing, no file I/O. The
    * operational debugging surface for merge-on-read pressure: which
    * buckets carry deletion vectors or overlay epochs, file sizes and
    * live-row counts, stats coverage. `rows`/`live_rows` are null for
    * files committed before row counts were recorded (the legacy -1
    * sentinel). Manifest-sized by contract, like `t.history`.
    */
  def tableFiles(spark: SparkSession, tablePath: String): DataFrame = {
    import spark.implicits._
    val man = currentManifest(fsFor(spark, tablePath), new Path(tablePath))
      .getOrElse(throw new IllegalArgumentException(
        s"tableFiles: $tablePath holds no committed graft table"))
    val rows = man.epochs.keys.toSeq.sorted.flatMap { b =>
      val base = man.epochs(b)
      val fss = man.stats.getOrElse(b, Seq.empty)
      if (fss.isEmpty)
        // pre-stats legacy bucket: the manifest knows the epoch exists
        // but records no per-file entries — surface ONE sentinel row
        // (file = null) instead of silently under-reporting the bucket
        Seq((b, base, Option.empty[String], Option.empty[Long],
          Option.empty[Long], Option.empty[Long], Option.empty[String],
          0L, false, 0, false))
      else fss.map { f =>
        val e = fileEpoch(man, b, f)
        // live equality deletes kill an unresolved number of this
        // file's rows — live_rows goes honestly unknown until a
        // rewrite resolves (physical `rows` stays exact)
        val eqdLive = applicableEqds(man, b, e).nonEmpty
        (b, e, Some(f.name), Some(f.bytes),
          if (f.rows < 0L) None else Some(f.rows),
          if (f.rows < 0L || eqdLive) None else Some(f.rows - f.dvn),
          if (f.dv.isEmpty) None else Some(f.dv), f.dvn,
          e != base, f.mins.size, f.fp.nonEmpty)
      }
    }
    val cols = Seq("bucket", "epoch", "file", "bytes", "rows",
      "live_rows", "dv", "dv_dead", "overlay", "stats_cols",
      "fingerprinted")
    // manifest-sized tables stay a driver-local relation (one plan
    // step, no job); past the threshold the inventory parallelizes so
    // a downstream join (files × query logs at ~400k files / 100 TB)
    // runs distributed instead of funneling through the driver —
    // Iceberg serves its metadata tables as distributed scans for the
    // same reason
    if (rows.length <= localMetadataRows(spark)) rows.toDF(cols: _*)
    else spark.sparkContext.parallelize(rows,
      math.max(1, math.min(rows.length / 1024,
        spark.sparkContext.defaultParallelism))).toDF(cols: _*)
  }

  /** Row threshold under which a metadata table serves as a driver-
    * local relation; above it the frame parallelizes and the catalog
    * sub-table plans a distributed scan
    * (`spark.graft.metadata.localRows`, default 4096).
    */
  private def localMetadataRows(spark: SparkSession): Int =
    spark.conf.getOption("spark.graft.metadata.localRows")
      .map(_.toInt).getOrElse(4096)

  /** Per-BUCKET physical rollup (Iceberg's `t.partitions` shape for the
    * key-hash layout): one row per live bucket — base epoch, file and
    * overlay-file counts, bytes, physical/live rows, DV'd dead rows,
    * and MoR pressure (overlay epochs stacked on the base). The
    * operator's "which buckets need compaction" view, manifest-sized.
    */
  def tablePartitions(spark: SparkSession, tablePath: String): DataFrame = {
    import spark.implicits._
    val man = currentManifest(fsFor(spark, tablePath), new Path(tablePath))
      .getOrElse(throw new IllegalArgumentException(
        s"tablePartitions: $tablePath holds no committed graft table"))
    val rows = man.epochs.keys.toSeq.sorted.map { b =>
      val base = man.epochs(b)
      val fss = man.stats.getOrElse(b, Seq.empty)
      val overlayEpochs = man.overlays.getOrElse(b, Seq.empty)
      val known = fss.forall(_.rows >= 0L) && fss.nonEmpty
      // live equality deletes kill an unresolved number of stored rows
      // — physical row counts stay exact, live counts go unknown until
      // compaction resolves
      val eqdLive = man.eqds.get(b).exists(_.nonEmpty)
      (b, base, fss.size,
        fss.count(f => fileEpoch(man, b, f) != base),
        fss.map(_.bytes).sum,
        if (known) Some(fss.map(_.rows).sum) else None,
        if (known && !eqdLive) Some(fss.map(f => f.rows - f.dvn).sum)
        else None,
        fss.map(_.dvn).sum, overlayEpochs.size)
    }
    val cols = Seq("bucket", "base_epoch", "n_files", "overlay_files",
      "bytes", "rows", "live_rows", "dv_dead", "overlay_epochs")
    // same local-vs-distributed dispatch as [[tableFiles]]
    if (rows.length <= localMetadataRows(spark)) rows.toDF(cols: _*)
    else spark.sparkContext.parallelize(rows,
      math.max(1, math.min(rows.length / 1024,
        spark.sparkContext.defaultParallelism))).toDF(cols: _*)
  }

  /** Live staging branches (Iceberg's refs view, branch half): one row
    * per branch — fork version, staged head, staged commit count, the
    * head's op and commit time. Empty when nothing is staged.
    */
  def tableBranches(spark: SparkSession, tablePath: String): DataFrame = {
    import spark.implicits._
    val fs = fsFor(spark, tablePath)
    val dir = new Path(tablePath)
    branchManifestFiles(fs, dir).groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (name, files) =>
        val (_, k, p) = files.maxBy(_._2)
        val head = readManifest(fs, k, p)
        (name, head.branchBase, k, k - head.branchBase,
          if (head.op.isEmpty) null else head.op,
          if (head.opTs == 0L) null else new java.sql.Timestamp(head.opTs))
      }
      .toDF("branch", "base_version", "head_version", "staged_commits",
        "head_op", "head_ts")
  }


  /** Within-bucket cluster sort shared by every epoch write. A cluster
    * entry is a plain column name (1-D linear clustering), or
    * `zorder2:a,b` — the Morton interleave of two columns
    * ([[graft.functions.ZOrder]]; Delta's OPTIMIZE ZORDER BY): each
    * file then covers a small rectangle of the (a, b) space, so
    * per-file stats prune range reads on EITHER column, where a linear
    * sort only narrows its first column. Layout-only: ordering never
    * affects results, so normalizations below just need to preserve
    * each input's order.
    */
  private def clusterSort(df: DataFrame, clusterCols: Seq[String]): DataFrame =
    if (clusterCols.isEmpty) df
    else df.sortWithinPartitions(
      col(BucketCol) +: clusterCols.flatMap(clusterSortCols(df, _)): _*)

  private def clusterSortCols(df: DataFrame,
                              spec: String): Seq[org.apache.spark.sql.Column] =
    if (spec.startsWith("zorder2:")) {
      val parts = spec.stripPrefix("zorder2:").split(",")
      require(parts.length == 2,
        s"clusterBy: malformed '$spec' (want zorder2:colA,colB)")
      graft.functions.ZOrder.zorder2(
        orderedLong(df, parts(0).trim), orderedLong(df, parts(1).trim))
    } else if (spec.startsWith("zorderN:")) {
      val parts = spec.stripPrefix("zorderN:").split(",").map(_.trim)
        .filter(_.nonEmpty).toSeq
      require(parts.length >= 2,
        s"clusterBy: malformed '$spec' (want zorderN:colA,colB,colC,...)")
      graft.functions.ZOrder.zorderN(parts.map(orderedLong(df, _)))
    } else Seq(col(spec))

  /** Order-preserving long image of a column for Z-ordering. */
  private def orderedLong(df: DataFrame, name: String): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.types._
    df.schema(name).dataType match {
      case DateType => unix_date(col(name)).cast("long")
      case TimestampType => col(name).cast("long") // epoch seconds
      case TimestampNTZType => col(name).cast("timestamp").cast("long")
      case _ => col(name).cast("long")
    }
  }

  private[sources] def bucketPath(tablePath: String, epoch: String,
                                  bucket: Int): String =
    s"$tablePath/$epoch/$BucketCol=$bucket"

  /** How many leading columns get per-file min/max recorded — Delta's
    * `dataSkippingNumIndexedCols` default. Stats JSON stays bounded for
    * wide tables; columns past the cap simply never prune.
    */
  val StatsMaxCols = 32

  /** Canonical min/max of one column chunk from its footer statistics:
    * `('L', Long)` for integral / date-days / timestamp (normalized to
    * micros), `('D', Double)` for float/double, `('S', String)` for
    * UTF-8 strings. Outer None = stats unusable for the file (drop the
    * column); Some(None) = all-null chunk (contributes nothing, but the
    * other chunks' range stays valid — a range predicate never selects
    * null rows anyway).
    */
  private def canonMinMax(
      cc: org.apache.parquet.hadoop.metadata.ColumnChunkMetaData)
      : Option[Option[(Char, Any, Any)]] = {
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    val st = cc.getStatistics
    if (st == null) None
    else if (!st.hasNonNullValue) {
      if (st.isNumNullsSet && st.getNumNulls > 0) Some(None) else None
    } else {
      def asLong(v: Any): Long = v.asInstanceOf[Number].longValue()
      def asDouble(v: Any): Double = v.asInstanceOf[Number].doubleValue()
      val pt = cc.getPrimitiveType
      val ann = pt.getLogicalTypeAnnotation
      val mn = st.genericGetMin; val mx = st.genericGetMax
      pt.getPrimitiveTypeName match {
        case INT32 => ann match {
          case _: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation => None
          case _ => Some(Some(('L', asLong(mn), asLong(mx))))
        }
        case INT64 => ann match {
          case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
            val u = t.getUnit
            def micros(v: Long): Long =
              if (u == LogicalTypeAnnotation.TimeUnit.MILLIS) v * 1000L
              else if (u == LogicalTypeAnnotation.TimeUnit.NANOS) v / 1000L
              else v
            Some(Some(('L', micros(asLong(mn)), micros(asLong(mx)))))
          case _: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation => None
          case _ => Some(Some(('L', asLong(mn), asLong(mx))))
        }
        case FLOAT | DOUBLE => Some(Some(('D', asDouble(mn), asDouble(mx))))
        case BINARY
            if ann.isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation] =>
          Some(Some(('S',
            mn.asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8,
            mx.asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8)))
        case _ => None
      }
    }
  }

  private def cmpTagged(tag: Char, a: Any, b: Any): Int = tag match {
    case 'L' => java.lang.Long.compare(a.asInstanceOf[Long], b.asInstanceOf[Long])
    case 'D' => java.lang.Double.compare(a.asInstanceOf[Double], b.asInstanceOf[Double])
    case _ => cmpUtf8(a.asInstanceOf[String], b.asInstanceOf[String])
  }

  /** Unsigned UTF-8 byte order — the order parquet footer min/max and
    * Spark's `UTF8String` use (identical to code-point order). Java's
    * `String.compareTo` is UTF-16 code-UNIT order, which disagrees for
    * strings mixing non-BMP code points with U+E000..U+FFFF — comparing
    * stats bounds with it could wrongly skip files.
    */
  private def cmpUtf8(a: String, b: String): Int = {
    val x = a.getBytes(StandardCharsets.UTF_8)
    val y = b.getBytes(StandardCharsets.UTF_8)
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    x.length - y.length
  }

  /** Per-file column stats of a just-written epoch, straight from the
    * parquet FOOTERS (no second pass over the data): per bucket file —
    * size, rows, and canonical min/max for the first [[StatsMaxCols]]
    * eligible top-level columns. O(written files) driver-side metadata
    * reads, bounded by the touched-bucket set of the commit it rides.
    */
  private def collectFileStats(fs: FileSystem, epochRoot: Path,
                               withColumnStats: Boolean,
                               // always-kept columns, exempt from the
                               // cap and recorded even on unclustered
                               // tables: the hidden shred columns —
                               // the user DECLARED probe interest in
                               // them, and trickle-appended files are
                               // naturally value-clustered even when
                               // the table isn't
                               priorityCols: Set[String] = Set.empty)
      : Map[Int, Seq[FileStat]] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    if (!fs.exists(epochRoot)) return Map.empty
    // column min/max only earn their keep on a CLUSTERED table — an
    // unclustered hash bucket's files span the full value range of
    // every column, so no range or point read could ever skip them.
    // Unclustered tables still record exact ROW counts (one concurrent
    // footer metadata read per written file, bounded by the commit's
    // touched buckets — Delta's numRecords baseline): the scan reports
    // them to the planner (estimateStatistics), and broadcast-vs-
    // shuffle decisions at 100 TB key off row counts, not min/max.
    if (!withColumnStats && priorityCols.isEmpty) {
      implicit val ec: ExecutionContext = ExecutionContext.global
      val perBucket = fs.listStatus(epochRoot).toSeq
        .filter(st => st.isDirectory &&
          st.getPath.getName.startsWith(BucketCol + "="))
        .flatMap { bdir =>
          scala.util.Try(
            bdir.getPath.getName.stripPrefix(BucketCol + "=").toInt
          ).toOption.map { b =>
            b -> fs.listStatus(bdir.getPath).toSeq
              .filter(f => !f.isDirectory &&
                f.getPath.getName.endsWith(".parquet"))
              .map { f => Future {
                val reader = ParquetFileReader.open(
                  HadoopInputFile.fromStatus(f, fs.getConf))
                val rows =
                  try {
                    var n = 0L
                    reader.getFooter.getBlocks.forEach(b =>
                      n += b.getRowCount)
                    n
                  } finally reader.close()
                FileStat(f.getPath.getName, f.getLen, rows,
                  Map.empty, Map.empty)
              } }
          }
        }
      return perBucket.map { case (b, futures) =>
        b -> futures.map(Await.result(_, Duration.Inf))
      }.toMap
    }
    // footer reads are independent small metadata I/Os — do them
    // concurrently (a commit touching many bucket files would otherwise
    // serialize hundreds of reads on the driver; Delta distributes its
    // stats collection for the same reason)
    implicit val ec: ExecutionContext = ExecutionContext.global
    val perBucket = fs.listStatus(epochRoot).toSeq
      .filter(st => st.isDirectory &&
        st.getPath.getName.startsWith(BucketCol + "="))
      .flatMap { bdir =>
        scala.util.Try(
          bdir.getPath.getName.stripPrefix(BucketCol + "=").toInt
        ).toOption.map { b =>
          val files = fs.listStatus(bdir.getPath).toSeq
            .filter(f => !f.isDirectory && f.getPath.getName.endsWith(".parquet"))
          b -> files.map { f => Future {
            val reader = ParquetFileReader.open(
              HadoopInputFile.fromStatus(f, fs.getConf))
            try {
              val footer = reader.getFooter
              var rows = 0L
              // insertion order = parquet schema order, so the cap below
              // takes the schema's LEADING columns, like Delta's
              val acc = scala.collection.mutable.LinkedHashMap
                .empty[String, (Char, Any, Any)]
              val dropped = scala.collection.mutable.Set.empty[String]
              // null COUNTS are independent of min/max usability: a
              // column whose range can't canonicalize (or is all-null)
              // still prunes IS [NOT] NULL probes if every chunk
              // reports its null count
              val nullAcc = scala.collection.mutable.LinkedHashMap
                .empty[String, Long]
              val nullDropped = scala.collection.mutable.Set.empty[String]
              footer.getBlocks.forEach { blk =>
                rows += blk.getRowCount
                blk.getColumns.forEach { cc =>
                  val path = cc.getPath.toDotString
                  // a shred-only collection (unclustered table with
                  // declared shred paths) tracks just the priority set
                  val tracked = withColumnStats || priorityCols(path)
                  // top-level primitives only (a nested field's range
                  // can't anchor a top-level column predicate)
                  if (!path.contains('.') && tracked) {
                    val st = cc.getStatistics
                    if (st != null && st.isNumNullsSet && !nullDropped(path))
                      nullAcc(path) = nullAcc.getOrElse(path, 0L) +
                        st.getNumNulls
                    else { nullDropped += path; nullAcc.remove(path) }
                  }
                  if (!path.contains('.') && tracked && !dropped(path)) {
                    canonMinMax(cc) match {
                      case Some(Some((tag, mn, mx))) => acc.get(path) match {
                        case Some((t0, m0, x0)) if t0 == tag =>
                          acc(path) = (tag,
                            if (cmpTagged(tag, mn, m0) < 0) mn else m0,
                            if (cmpTagged(tag, mx, x0) > 0) mx else x0)
                        case Some(_) => dropped += path; acc.remove(path)
                        case None => acc(path) = (tag, mn, mx)
                      }
                      case Some(None) => () // all-null chunk
                      case None => dropped += path; acc.remove(path)
                    }
                  }
                }
              }
              // priority columns are exempt from the cap (they sit at
              // the END of the physical schema, where a naive leading-
              // columns cap would silently drop them on a wide table)
              val kept = acc.filter(p => priorityCols(p._1)) ++
                acc.filterNot(p => priorityCols(p._1)).take(StatsMaxCols)
              val keptNulls = nullAcc.filter(p => priorityCols(p._1)) ++
                nullAcc.filterNot(p => priorityCols(p._1)).take(StatsMaxCols)
              FileStat(f.getPath.getName, f.getLen, rows,
                kept.map { case (c, (_, mn, _)) => c -> mn.toString }.toMap,
                kept.map { case (c, (_, _, mx)) => c -> mx.toString }.toMap,
                keptNulls.toMap)
            } finally reader.close()
          } }
        }
      }
    perBucket.map { case (b, futures) =>
      b -> futures.map(Await.result(_, Duration.Inf))
    }.toMap
  }

  /** The types whose bounds canonicalize into the stats domain
    * ([[boundToCanon]]/[[canonMinMax]]) — the eligibility test for a
    * shred declaration (a type outside this set could never prune).
    */
  private[sources] def statsCanonType(dt: DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType | DateType |
           TimestampType | TimestampNTZType | FloatType | DoubleType |
           StringType => true
      case _ => false
    }
  }

  /** Convert a caller-supplied range bound into the canonical stats
    * domain of the column's Spark type (see [[FileStat]]). None = the
    * bound (or type) isn't canonicalizable — skipping is silently
    * disabled and the residual filter alone applies, never wrong
    * results.
    */
  private def boundToCanon(dt: DataType, v: Any): Option[(Char, Any)] = {
    import org.apache.spark.sql.types._
    def micros(i: java.time.Instant): Long =
      i.getEpochSecond * 1000000L + i.getNano / 1000L
    dt match {
      case ByteType | ShortType | IntegerType | LongType => v match {
        case n: Number => Some(('L', n.longValue()))
        case s: String => scala.util.Try(('L', s.toLong: Any)).toOption
        case _ => None
      }
      case DateType => v match {
        case d: java.sql.Date => Some(('L', d.toLocalDate.toEpochDay))
        case d: java.time.LocalDate => Some(('L', d.toEpochDay))
        case s: String => scala.util.Try(
          ('L', java.time.LocalDate.parse(s).toEpochDay: Any)).toOption
        case n: Number => Some(('L', n.longValue()))
        case _ => None
      }
      case TimestampType | TimestampNTZType => v match {
        case t: java.sql.Timestamp => Some(('L', micros(t.toInstant)))
        case i: java.time.Instant => Some(('L', micros(i)))
        case d: java.time.LocalDateTime =>
          // NTZ micros are "local wall-clock since epoch" — exactly the
          // UTC instant of the same local fields (sessions run UTC)
          Some(('L', micros(d.toInstant(java.time.ZoneOffset.UTC))))
        case s: String => scala.util.Try {
          val t = s.replace(' ', 'T')
          val ldt = scala.util.Try(java.time.LocalDateTime.parse(t))
            .getOrElse(java.time.LocalDate.parse(t).atStartOfDay())
          ('L', micros(ldt.toInstant(java.time.ZoneOffset.UTC)): Any)
        }.toOption
        case n: Number => Some(('L', n.longValue()))
        case _ => None
      }
      case FloatType | DoubleType => v match {
        case n: Number => Some(('D', n.doubleValue()))
        case s: String => scala.util.Try(('D', s.toDouble: Any)).toOption
        case _ => None
      }
      case StringType => v match {
        case s: String => Some(('S', s))
        case _ => None
      }
      case _ => None
    }
  }

  /** File-level skip decision: keep the file unless its recorded range
    * provably misses [lower, upper]. A file with no recorded stats for
    * the column is always kept (skipping must only ever REMOVE provably
    * irrelevant I/O).
    */
  private def fileIntersects(fileStat: FileStat, column: String,
                             lo: Option[(Char, Any)],
                             hi: Option[(Char, Any)]): Boolean = {
    def parse(tag: Char, s: String): Any = tag match {
      case 'L' => s.toLong
      case 'D' => s.toDouble
      case _ => s
    }
    val belowLo = lo.exists { case (tag, bound) =>
      fileStat.maxs.get(column).exists(mx =>
        cmpTagged(tag, parse(tag, mx), bound) < 0)
    }
    val aboveHi = hi.exists { case (tag, bound) =>
      fileStat.mins.get(column).exists(mn =>
        cmpTagged(tag, parse(tag, mn), bound) > 0)
    }
    !belowLo && !aboveHi
  }

  /** Bloom-supported column types: values canonicalize to a long or a
    * string put. Writer and prober both go through [[boundToCanon]]'s
    * canonical domain, so they agree bit-for-bit on every type (dates
    * put their epoch-day, timestamps their UTC micros). Floats are out:
    * equality probes on floating point are ill-defined anyway.
    */
  private def bloomPutKind(dt: DataType): Option[Char] = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType | DateType |
           TimestampType | TimestampNTZType => Some('L')
      case StringType => Some('S')
      case _ => None
    }
  }

  /** Compute and stage the per-file Bloom sidecar of a just-written
    * (still-uncommitted) epoch — one distributed pass over the epoch's
    * files, bounded by the touched-bucket set of the commit it rides,
    * exactly like the footer-stats read. Each scan task builds partial
    * filters per (file, column) it sees; the driver ORs partials of the
    * same file (a file split across input partitions yields compatible
    * filters — identical `bloomItems` sizing). The sidecar lands INSIDE
    * the epoch directory before the manifest commit, so it becomes
    * visible atomically with its data and is reclaimed with it by gc.
    */
  private def writeBloomSidecar(spark: SparkSession, fs: FileSystem,
                                epochRoot: String, bloomCols: Seq[String],
                                bloomItems: Long,
                                full: StructType,
                                // shred declarations ride the sidecar
                                // too: their hidden columns exist
                                // physically in this epoch's files but
                                // not in the table schema, so their
                                // (name, type) pairs come from the
                                // declaration, not the schema
                                shred: Seq[ShredSpec] = Seq.empty): Unit = {
    import org.apache.spark.util.sketch.BloomFilter
    val shredKinds: Seq[(String, DataType)] = shred
      .map(s => (shredColName(s), s.dataType))
      .filter { case (_, dt) => bloomPutKind(dt).isDefined }
    val sub = StructType(
      full.fields.filter(f => bloomCols.contains(f.name)) ++
        shredKinds.map { case (n, dt) =>
          org.apache.spark.sql.types.StructField(n, dt) })
    if (sub.isEmpty) return
    val base = spark.read.schema(sub).parquet(epochRoot)
    val kinds: Seq[(String, DataType)] = bloomCols.flatMap { c =>
      base.schema.fields.find(_.name == c)
        .filter(f => bloomPutKind(f.dataType).isDefined)
        .map(f => (c, f.dataType))
    } ++ shredKinds.filter(k => base.schema.fieldNames.contains(k._1))
    if (kinds.isEmpty) return
    val sel = base.select(
      org.apache.spark.sql.functions.input_file_name().as("__file") +:
        kinds.map { case (c, _) => col(c) }: _*)
    val n = kinds.size
    val items = bloomItems
    val partial: Array[(String, Int, Array[Byte])] =
      sel.rdd.mapPartitions { it =>
        val acc = scala.collection.mutable.Map.empty[String, Array[BloomFilter]]
        it.foreach { row =>
          val file = row.getString(0)
          val bfs = acc.getOrElseUpdate(file,
            Array.fill(n)(BloomFilter.create(items)))
          var i = 0
          while (i < n) {
            val v = row.get(i + 1)
            if (v != null) boundToCanon(kinds(i)._2, v) match {
              case Some(('L', cv)) => bfs(i).putLong(cv.asInstanceOf[Long])
              case Some(('S', cv)) => bfs(i).putString(cv.asInstanceOf[String])
              case _ => ()
            }
            i += 1
          }
        }
        acc.iterator.flatMap { case (f, bfs) =>
          (0 until n).iterator.map { i =>
            val bos = new java.io.ByteArrayOutputStream()
            bfs(i).writeTo(bos)
            (f, i, bos.toByteArray)
          }
        }
      }.collect()
    // driver merge: OR the partial filters of files that spanned input
    // partitions; key files as "<__bucket=N>/<name>" — the same identity
    // the manifest's FileStat rows use, qualified by their bucket dir
    val merged = scala.collection.mutable.LinkedHashMap
      .empty[(String, Int), BloomFilter]
    partial.foreach { case (file, i, bytes) =>
      val segs = file.split('/')
      val key = (segs.takeRight(2).mkString("/"), i)
      val bf = BloomFilter.readFrom(new java.io.ByteArrayInputStream(bytes))
      merged.get(key) match {
        case Some(m0) => m0.mergeInPlace(bf); ()
        case None => merged(key) = bf
      }
    }
    val b64 = java.util.Base64.getEncoder
    val body = new StringBuilder().append("{")
    var first = true
    merged.toSeq.groupBy(_._1._1).toSeq.sortBy(_._1).foreach {
      case (fileKey, entries) =>
        if (!first) body.append(","); first = false
        body.append(jsonStr(fileKey)).append(":{")
        body.append(entries.sortBy(_._1._2).map { case ((_, i), bf) =>
          val bos = new java.io.ByteArrayOutputStream()
          bf.writeTo(bos)
          jsonStr(kinds(i)._1) + ":" +
            jsonStr(b64.encodeToString(bos.toByteArray))
        }.mkString(","))
        body.append("}")
    }
    body.append("}")
    val out = fs.create(new Path(epochRoot, BloomSidecar), false)
    try out.write(body.toString().getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Declare Bloom columns on an EXISTING table and build the sidecars
    * for its committed epochs (Delta's "create a Bloom filter index on
    * existing data"): one distributed pass over the LIVE epochs writes
    * each missing `_blooms.json` — additive metadata inside immutable
    * epoch dirs, invisible until the manifest commit that records
    * `bloomcols` publishes the declaration. From then on every epoch
    * write maintains the index like a creation-time `bloomBy`. Fails
    * loudly if the table already declares different Bloom columns
    * (rebuild = truncate the declaration story, not silently fork it);
    * re-running with the same columns only fills epochs that lack a
    * sidecar (crash-resumable).
    */
  /** Declare SHREDDED VARIANT PATHS on an EXISTING table (the
    * retrofit face of the CREATE-time `shred` property — what
    * [[buildBloomIndex]] is to `bloomBy`): validate the entries
    * against the recorded schema and commit the declaration. Hidden
    * columns live in immutable files, so the declaration alone makes
    * every FUTURE epoch write materialize them (and prune); files
    * written BEFORE it record no stats under the hidden names and are
    * never pruned — sound, just unindexed — until natural rewrite or
    * the optional `rewrite = true`, which compacts the table once to
    * materialize the columns everywhere. Note the honest limit of the
    * rewrite: compaction folds a bucket's batches into shared files,
    * so its immediate pruning value depends on within-file value
    * locality (clusterBy correlation); trickle epochs written AFTER
    * the declaration prune regardless (the shred14 shape).
    *
    * Evolution is ADDITIVE: entries canonically equal to recorded
    * declarations (same column, path, and PARSED type — DDL spelling,
    * case and spacing are irrelevant) no-op; genuinely new entries
    * merge into the declaration, so a hot path can be added to a
    * populated table without a rebuild. Old files simply record no
    * stats under the new hidden name and never prune on it
    * (stats-absent is the ordinary conservative case) until natural
    * rewrite or `rewrite = true`. Removing or retyping a recorded
    * entry still requires drop/recreate — the values live in
    * immutable files.
    */
  def buildShredIndex(spark: SparkSession, tablePath: String,
                      entries: Seq[String],
                      rewrite: Boolean = false): Unit = {
    require(entries.nonEmpty, "buildShredIndex requires at least one entry")
    val fs = fsFor(spark, tablePath)
    val dir = new Path(tablePath)
    currentManifest(fs, dir).foreach { man =>
      val schema = man.struct
      val shred = parseShredProperty(entries, stripSchemaIds(schema))
      validateShred(stripSchemaIds(schema), shred, "buildShredIndex")
      // canonical identity: DDL spelling differences ('STRING' vs
      // 'string', spacing) must not fail an idempotent re-declaration
      def canon(s: ShredSpec): (String, String, DataType) =
        (s.column, s.path, s.dataType)
      val have = man.shredCols.map(canon).toSet
      val fresh = shred.filterNot(s => have.contains(canon(s)))
      if (fresh.nonEmpty) {
        val merged = man.shredCols ++ fresh
        validateShred(stripSchemaIds(schema), merged, "buildShredIndex")
        val t = tableTarget(fs, dir)
        commitLoop(t, "buildShredIndex", Some(man))(
          lostRace(t, "buildShredIndex", man))(
          _ => Some(man.copy(shredCols = merged)))
      }
      if (rewrite) compact(spark, tablePath)
    }
  }

  def buildBloomIndex(spark: SparkSession, tablePath: String,
                      bloomBy: Seq[String],
                      bloomItems: Long = DefaultBloomItems): Unit = {
    require(bloomBy.nonEmpty, "buildBloomIndex requires at least one column")
    val fs = fsFor(spark, tablePath)
    val dir = new Path(tablePath)
    currentManifest(fs, dir).foreach { man =>
      require(man.bloomCols.isEmpty || man.bloomCols == bloomBy,
        s"buildBloomIndex: table already declares Bloom columns " +
          s"${man.bloomCols.mkString("(", ",", ")")} — drop/recreate the " +
          "table to change the declaration")
      bloomBy.foreach { c =>
        val f = man.struct.fields.find(_.name == c)
        require(f.isDefined && bloomPutKind(f.get.dataType).isDefined,
          s"buildBloomIndex: column '$c' missing or of unsupported type")
      }
      // overlay epochs (merge-on-read upserts) need sidecars too — a
      // point probe must be able to skip overlay files like any other
      (man.epochs.values.toSet ++ man.overlays.values.flatten)
        .foreach { e =>
          if (!fs.exists(new Path(s"$tablePath/$e", BloomSidecar)))
            writeBloomSidecar(spark, fs, s"$tablePath/$e", bloomBy,
              bloomItems, man.struct)
        }
      val t = tableTarget(fs, dir)
      commitLoop(t, "buildBloomIndex", Some(man))(
        lostRace(t, "buildBloomIndex", man))(
        _ => Some(man.copy(bloomCols = bloomBy, bloomItems = bloomItems)))
    }
  }

  /** An epoch's staged Bloom sidecar: "bucket-dir/file" -> column ->
    * serialized filter. Missing sidecar (pre-bloom epoch) = empty map —
    * probes keep every file, lossless as ever.
    */
  private def readBloomSidecar(fs: FileSystem, epochRoot: String)
      : Map[String, Map[String, Array[Byte]]] = {
    val p = new Path(epochRoot, BloomSidecar)
    if (!fs.exists(p)) return Map.empty
    val node = readJsonFile(fs, p)
    val b64 = java.util.Base64.getDecoder
    val out = scala.collection.mutable.Map
      .empty[String, Map[String, Array[Byte]]]
    node.fields().forEachRemaining { f =>
      val cols = scala.collection.mutable.Map.empty[String, Array[Byte]]
      f.getValue.fields().forEachRemaining { c =>
        cols(c.getKey) = b64.decode(c.getValue.asText())
      }
      out(f.getKey) = cols.toMap
    }
    out.toMap
  }

  /** File-level Bloom probe: false = the column provably does not
    * contain the canonical value anywhere in the file. Unknown tags
    * never prune.
    */
  private def bloomMightContain(bytes: Array[Byte], tag: Char,
                                v: Any): Boolean = {
    val bf = org.apache.spark.util.sketch.BloomFilter.readFrom(
      new java.io.ByteArrayInputStream(bytes))
    tag match {
      case 'L' => bf.mightContainLong(v.asInstanceOf[Long])
      case 'S' => bf.mightContainString(v.asInstanceOf[String])
      case _ => true
    }
  }

  /** Post-merge auto-compaction check (see [[AutoCompactEpochs]]): count
    * live epochs from the just-committed manifest (a metadata-only read)
    * and rewrite when fragmentation crosses the threshold.
    */
  private def maybeAutoCompact(spark: SparkSession, fs: FileSystem, dir: Path,
                               tablePath: String, threshold: Int): Unit =
    currentManifest(fs, dir).filter(wantsCompact(_, threshold))
      .foreach(_ => advisory(compact(spark, tablePath)))

  /** The auto-compaction rule of a table or member manifest: more live
    * epochs than the threshold.
    */
  private def wantsCompact(m: Manifest, threshold: Int): Boolean =
    m.epochs.values.toSet.size > threshold

  /** Run a post-commit maintenance action ADVISORILY: losing its commit
    * race to a concurrent writer must not fail the write that already
    * committed — a later write retries.
    */
  private def advisory(f: => Unit): Unit =
    try f
    catch {
      case _: java.io.IOException => ()
      case _: java.util.ConcurrentModificationException => ()
    }

  /** GROW-on-write threshold: a merge that leaves any bucket holding
    * MORE than this many bytes triggers an inline [[splitBuckets]] —
    * the operational completion of the split path (Delta/Iceberg re-bin
    * at OPTIMIZE time; this makes the trigger automatic, like their
    * auto-optimize). The decision is METADATA-ONLY: per-bucket bytes
    * are summed from the manifest's per-file stats, no listing of the
    * table. 256 MB per bucket keeps single-bucket rewrites (the I/O
    * unit of every keyed merge) bounded as the table grows; a table
    * created before stats recording, or without recorded keys, never
    * auto-splits (the decision has nothing safe to read).
    */
  val AutoSplitBytesPerBucket: Long = 256L << 20

  /** Modulus ceiling for AUTO splits — a single hot key's bucket can
    * exceed any byte threshold without a split being able to shrink it
    * (all its rows share one hash); the cap stops the pathological
    * split-per-merge loop a manual [[splitBuckets]] caller can still
    * override.
    */
  val AutoSplitMaxBuckets: Int = 4096

  private def maybeAutoSplit(spark: SparkSession, fs: FileSystem, dir: Path,
                             tablePath: String, threshold: Long): Unit =
    if (threshold > 0)
      currentManifest(fs, dir).filter(wantsSplit(_, threshold))
        .foreach(man => advisory(splitBuckets(spark, tablePath, man.keyCols)))

  /** The auto-split rule of a table or member manifest: some bucket holds
    * more than `threshold` bytes by its recorded file stats, the modulus
    * is below [[AutoSplitMaxBuckets]] and the merge keys are recorded.
    * `threshold = 0` never splits.
    */
  private def wantsSplit(m: Manifest, threshold: Long): Boolean =
    threshold > 0 && m.keyCols.nonEmpty && m.stats.nonEmpty &&
      m.buckets < AutoSplitMaxBuckets &&
      m.stats.values.map(_.map(_.bytes).sum).maxOption.getOrElse(0L) >
        threshold

  /** Read committed epoch data with the manifest-recorded schema — a
    * zero-job plan step, vs. `mergeSchema=true`'s distributed footer-merge
    * (O(files) tasks on EVERY read of EVERY table). The reader gets the
    * id-annotated schema so files written under since-renamed column
    * names still match. INTERNAL frames keep the id metadata (a
    * compaction/split rewrite must re-write it); the public read surface
    * strips via stripFrame.
    */
  private def readPlain(spark: SparkSession, m: Manifest,
                        paths: Seq[String]): DataFrame = {
    ensureFieldIdRead(spark)
    spark.read.schema(stampSchema(m.struct, m.colIds)).parquet(paths: _*)
  }

  // ---- deletion vectors (merge-on-read deletes) ----------------------------

  /** Directory under the table root holding deletion-vector sidecars
    * (underscore ⇒ invisible to parquet reads, like `_blooms.json`).
    * One JSON per DV commit: `{"files": {"e-…/__bucket=K/part-….parquet":
    * [pos, …], …}}` — each entry the FULL (old ∪ new) dead-position set
    * of its file, so a file carries at most one live sidecar reference.
    * Sidecars referenced by any retained manifest survive gc; the rest
    * reclaim after the orphan window.
    */
  private[sources] val DvDirName = "_dv"

  /** Ceiling on dead positions resolved per DV commit: the position set
    * travels driver-side into the commit (and into read plans as an
    * `InSet`), so it must stay metadata-sized. Past the cap the delete
    * falls back to the ordinary bucket rewrite — correct either way,
    * the DV path is purely an I/O optimization.
    */
  private[sources] val DvMaxPositionsPerCommit: Long = 100000L

  /** DV'd-file count past which a DV commit auto-compacts (advisory,
    * like auto-compaction): every DV'd file is one extra union branch
    * in read plans and one per-file reader chain in catalog scans, so
    * pressure must drain.
    */
  private[sources] val DvAutoCompactFiles: Int = 64

  /** True iff any live file of the manifest carries a deletion vector —
    * the read-side dispatch: DV-free manifests (every table that never
    * opted in, and every DV table right after compaction) keep the
    * native single-relation plan everywhere.
    */
  private[sources] def hasLiveDvs(m: Manifest): Boolean =
    m.stats.valuesIterator.exists(_.exists(_.dv.nonEmpty))

  /** True iff any bucket carries a live equality-delete record (see
    * [[Manifest.eqds]]) — reads must filter doomed keys, metadata
    * count-serving must bail, and the V1 format route must bridge.
    */
  private[sources] def hasLiveEqds(m: Manifest): Boolean =
    m.eqds.valuesIterator.exists(_.nonEmpty)

  /** Directory under the table root holding equality-delete sidecars:
    * one PARQUET directory per eq-delete commit, rows = the doomed key
    * tuples typed as the table's key columns (field-id stamped, so a
    * later key-column RENAME stays metadata-only — readers match by
    * id). Referenced sidecars survive gc like `_dv/` entries.
    */
  private[sources] val EqDirName = "_eqd"

  /** The equality-delete sidecars that apply to rows of `epoch` within
    * bucket `b`: every record whose `upTo` exceeds the epoch's ordinal
    * (base = 0, overlays in append order). An epoch the manifest does
    * not list fails loudly — silently serving it UNFILTERED could
    * resurrect deleted rows.
    */
  private def applicableEqds(m: Manifest, b: Int, epoch: String)
      : Seq[String] = {
    val ds = m.eqds.getOrElse(b, Seq.empty)
    if (ds.isEmpty) Seq.empty
    else {
      val ord = bucketEpochs(m, b).indexOf(epoch)
      require(ord >= 0, s"equality deletes: epoch $epoch is not a live " +
        s"epoch of bucket $b (version ${m.version})")
      ds.filter(_.upTo > ord).map(_.sidecar).distinct.sorted
    }
  }

  /** The doomed-key tuples of the given sidecars as ONE typed frame of
    * the table's key columns — the right side of the read-path
    * anti-join. Schema comes from the manifest (id-stamped), so keys
    * renamed since the sidecar was written still resolve.
    */
  private def eqdKeysDf(spark: SparkSession, root: String, m: Manifest,
                        sidecars: Seq[String]): DataFrame = {
    val keySchema = StructType(m.keyCols.map(k => m.struct(k)))
    val paths = sidecars.distinct.sorted.map(s => s"$root/$EqDirName/$s")
    ensureFieldIdRead(spark)
    stripFrame(spark.read.schema(stampSchema(keySchema, m.colIds))
      .parquet(paths: _*))
  }

  /** Stage an equality-delete sidecar: the doomed key tuples written as
    * one small parquet directory under `_eqd/` (sidecar first, manifest
    * last — a failed commit leaves an unreferenced directory for gc's
    * age guard). Bounded by the per-commit key cap, so `coalesce(1)`
    * keeps it one file.
    */
  private def writeEqdSidecar(spark: SparkSession, root: String,
                              name: String, doomed: DataFrame,
                              colIds: Map[String, Long]): Unit = {
    stampFrame(doomed, colIds).coalesce(1).write.mode(SaveMode.ErrorIfExists)
      .parquet(s"$root/$EqDirName/$name")
  }

  /** Every epoch directory holding live files of bucket `b`: the base
    * pointer epoch plus any merge-on-read overlays, in commit order.
    */
  private def bucketEpochs(m: Manifest, b: Int): Seq[String] =
    m.epochs.get(b).toSeq ++ m.overlays.getOrElse(b, Seq.empty)

  /** The bucket directories a read of bucket `b` must cover. */
  private def bucketDirPaths(root: String, m: Manifest, b: Int): Seq[String] =
    bucketEpochs(m, b).map(e => bucketPath(root, e, b))

  /** The bucket directories of the touched buckets that hold stored data
    * — manifest-level pruning: a keyed write reads ONLY these.
    */
  private def touchedPaths(root: String, m: Manifest,
                           touched: Seq[Int]): Seq[String] =
    touched.filter(m.epochs.contains).flatMap(bucketDirPaths(root, m, _))

  /** All live bucket directories of the manifest, bucket-ordered. */
  private def allDirPaths(root: String, m: Manifest): Seq[String] =
    m.epochs.keys.toSeq.sorted.flatMap(b => bucketDirPaths(root, m, b))

  /** The epoch a stats-listed file actually lives in: its overlay
    * attribution when present, else the bucket's base pointer epoch.
    */
  private def fileEpoch(m: Manifest, b: Int, f: FileStat): String =
    if (f.e.nonEmpty) f.e else m.epochs(b)

  /** Absolute path of a stats-listed file. */
  private[sources] def fileReadPath(root: String, m: Manifest, b: Int,
                           f: FileStat): String =
    bucketPath(root, fileEpoch(m, b, f), b) + "/" + f.name

  /** A bucket's CONFLICT-DETECTION identity: its epoch pointer PLUS its
    * merge-on-read overlay list PLUS its files' deletion-vector
    * references. A DV commit or an overlay append changes a bucket's
    * logical content WITHOUT moving its pointer, so every "did this
    * bucket change under me" decision (optimistic rebase, scan-to-commit
    * guards, change-feed bucket pruning) must compare this signature —
    * pointer equality alone would let a rebasing merge clobber a
    * concurrent DV delete's positions (resurrecting deleted rows) and
    * let a feed skip a bucket whose rows a DV just killed.
    */
  private def bucketSig(m: Manifest, b: Int)
      : (Seq[String], Seq[(String, String)], Seq[EqDel]) =
    (bucketEpochs(m, b),
      m.stats.get(b).map(_.collect {
        case f if f.dv.nonEmpty => (f.name, f.dv)
      }.sortBy(_._1)).getOrElse(Seq.empty),
      // equality deletes change a bucket's logical rows without moving
      // its pointer OR its files' DV refs — same hazard, same signature
      m.eqds.getOrElse(b, Seq.empty))

  private def bucketSigOpt(m: Option[Manifest], b: Int)
      : (Seq[String], Seq[(String, String)], Seq[EqDel]) =
    m.map(bucketSig(_, b)).getOrElse((Seq.empty, Seq.empty, Seq.empty))

  /** The one "contested" test of a staged data write — and of a
    * row-level statement's scan ([[requireScanCurrent]]): why `cur`
    * invalidates what the write read from `read` and reserved, or `None`
    * when it may rebase onto `cur`. Inputs: the bucket modulus its rows
    * were hashed with; the schema they were shaped to (ignoring
    * nullability — the same logical schema serializes with different
    * nullability by provenance); the merge keys its bucket ids were
    * hashed from (empty = not checked); the touched buckets' signatures
    * ([[bucketSig]]: pointer, overlays, DVs, equality deletes); the
    * CHECK set its rows were proven under, when it adds rows; the
    * identity high-water, when it reserved identity values.
    */
  private def contested(cur: Manifest, read: Option[Manifest], buckets: Int,
                        schema: String, keys: Seq[String],
                        touched: Iterable[Int],
                        checks: Option[Map[String, String]],
                        idhw: Option[Map[String, Long]]): Option[String] = {
    val sameSchema = cur.schema == schema ||
      org.apache.spark.sql.GraftColumnShim.sameTypeIgnoreNullability(
        cur.struct, DataType.fromJson(schema))
    val moved = touched.filter(b => bucketSig(cur, b) != bucketSigOpt(read, b))
    val why = Seq(
      (cur.buckets != buckets) -> s"bucket count ${cur.buckets} != $buckets",
      !sameSchema -> "schema changed",
      (keys.nonEmpty && cur.keyCols.nonEmpty && cur.keyCols != keys) ->
        s"merge keys ${cur.keyCols.mkString("(", ",", ")")} != " +
          keys.mkString("(", ",", ")"),
      moved.nonEmpty ->
        s"contested buckets ${moved.toSeq.sorted.mkString("{", ",", "}")}",
      checks.exists(_ != cur.checks) -> "CHECK constraints changed",
      idhw.exists(_ != cur.idhw) -> "identity high-water moved"
    ).collect { case (true, w) => w }
    if (why.isEmpty) None else Some(why.mkString(", "))
  }

  /** The commit rule of a staged data write: rebase unless `why` names
    * a [[contested]] input.
    */
  private def rebaseUnless(op: String, tablePath: String)(
      why: Manifest => Option[String]): Manifest => Option[String] =
    cur => why(cur).map(w =>
      s"$op: a concurrent writer moved state of $tablePath this write " +
        s"read or reserved (version ${cur.version}: $w) — re-run against " +
        "the new table state")

  private def writeDvSidecar(fs: FileSystem, tableRoot: String, name: String,
                             entries: Map[String, Array[Long]]): Unit = {
    val body = "{\"files\":{" + entries.toSeq.sortBy(_._1)
      .map { case (k, ps) => jsonStr(k) + ":[" + ps.mkString(",") + "]" }
      .mkString(",") + "}}"
    val p = new Path(s"$tableRoot/$DvDirName/$name")
    fs.mkdirs(p.getParent)
    val out = fs.create(p, false)
    try out.write(body.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }

  /** A merge-on-read batch (still carrying [[BucketCol]]) aligned to the
    * recorded schema. Column ORDER is provenance noise (a by-name INSERT
    * delivers the user-list order), so it is reordered instead of
    * refusing the fast path and paying a CoW bucket rewrite; None — the
    * caller falls back to copy-on-write — when the column SET or a type
    * differs (evolution stays CoW).
    */
  private def alignToRecorded(inc: DataFrame,
                              recorded: StructType): Option[DataFrame] = {
    val names = inc.drop(BucketCol).columns.toSeq
    val aligned =
      if (names == recorded.fieldNames.toSeq) inc
      else if (names.sorted == recorded.fieldNames.toSeq.sorted)
        inc.select((recorded.fieldNames.toSeq :+ BucketCol)
          .filter(inc.columns.contains).map(col): _*)
      else return None
    Some(aligned).filter(a => org.apache.spark.sql.GraftColumnShim
      .sameTypeIgnoreNullability(recorded,
        stripSchemaIds(a.drop(BucketCol).schema)))
  }

  /** A merge-on-read OVERLAY epoch staged by [[stageOverlay]]: its
    * written buckets and per-file stats (attributed to the overlay
    * epoch), plus the per-commit stats read back from its files — the
    * HLL batch and the identity extremes.
    */
  private final case class Overlay(epoch: String, written: Set[Int],
                                   stats: Map[Int, Seq[FileStat]],
                                   batchSk: Option[BatchColStats],
                                   idSpec: Map[String, (Long, Long)],
                                   idExt: Map[String, Long])

  /** A merge-on-read OVERLAY epoch: the batch (order-aligned to the
    * recorded schema, still carrying [[BucketCol]]) written exactly like
    * any epoch — [[prepareRows]] then [[stageEpoch]] under the base's
    * layout — with each file's stats attributed to the overlay epoch
    * (overlay part-file names collide with base names). Its rows fold
    * into the stored HLL sketches exactly like a CoW epoch's and move the
    * identity high-water (specs from the DECLARED schema — the incoming
    * frame never carries the identity metadata), each one narrow scan of
    * the freshly-written files. No batch, no epoch: a pure-delete
    * changeset writes none.
    */
  private def stageOverlay(spark: SparkSession, fs: FileSystem, root: String,
                           man: Manifest, rows: Option[DataFrame],
                           keys: Seq[String]): Overlay =
    rows.fold(Overlay("", Set.empty, Map.empty, None, Map.empty, Map.empty)) {
      r =>
        val (epoch, written, stats) = stageEpoch(spark, fs, root,
          prepareRows(r.drop(BucketCol), man.checks, man.colIds, keys,
            man.buckets, root), man)
        val idSpec = identitySpecs(man.struct)
        Overlay(epoch, written.toSet,
          stats.map { case (b, fss) => b -> fss.map(_.copy(e = epoch)) },
          if (man.colSketches.nonEmpty && written.nonEmpty)
            batchColStats(spark.read.parquet(s"$root/$epoch"),
              man.colSketches.keySet)
          else None,
          idSpec,
          if (idSpec.nonEmpty && written.nonEmpty)
            identityExtremes(spark, s"$root/$epoch", idSpec)
          else Map.empty)
    }

  /** `m` with an [[Overlay]] appended and `txn` recorded: a written
    * bucket without a stored pointer adopts the overlay as its BASE, the
    * others list it as their newest overlay; its file stats join the
    * bucket's, its identity extremes move the high-water and its HLL
    * batch folds into the column stats.
    */
  private def withOverlay(m: Manifest, o: Overlay,
                          txn: Option[(String, Long)]): Manifest = {
    val (stacked, fresh) = o.written.partition(m.epochs.contains)
    withRefreshedStats(m.copy(epochs = m.epochs ++ fresh.map(_ -> o.epoch),
      overlays = m.overlays ++ stacked.map(b =>
        b -> (m.overlays.getOrElse(b, Seq.empty) :+ o.epoch)),
      stats = m.stats ++ o.stats.map { case (b, fss) =>
        b -> (m.stats.getOrElse(b, Seq.empty) ++ fss) },
      txns = m.txns ++ txn,
      idhw = advanceIdhw(m.idhw, o.idSpec, o.idExt)), o.batchSk)
  }

  /** The [[contested]] rule of a merge-on-read commit over `man`: the
    * overlay append and the resolved positions or eq-delete scoping are
    * keyed to the touched buckets' signatures at scan time, and the rows
    * were shaped under `man`'s modulus, schema and merge keys; the CHECK
    * set and the identity high-water count only when the overlay adds
    * rows.
    */
  private def overlayRule(man: Manifest, keys: Seq[String],
                          touched: Seq[Int],
                          o: Overlay): Manifest => Option[String] =
    contested(_, Some(man), man.buckets, man.schema, keys, touched,
      if (o.written.isEmpty) None else Some(man.checks),
      if (o.idSpec.isEmpty) None else Some(man.idhw))

  /** What a physical-policy arm of [[keyedWrite]] made of a write. */
  private sealed trait Arm

  /** The arm cannot take the write; copy-on-write does. */
  private case object Declined extends Arm

  /** Provably nothing changes: only the txn anchor is recorded. */
  private case object Unchanged extends Arm

  /** Files are staged: `step` derives the next manifest on whichever base
    * the commit lands on, `why` is its [[contested]] rule.
    */
  private final case class Staged(step: Option[Manifest] => Option[Manifest],
                                  why: Manifest => Option[String])
      extends Arm

  /** The POSITION arm of a deletion-vector table (Delta's deletion
    * vectors, Iceberg v2's merge-on-read position deletes beside
    * data-file adds): the upserts land as ONE overlay epoch —
    * clustered, Bloom'd, fingerprinted and id-stamped exactly like any
    * epoch — and every changed key's live stored row dies by deletion
    * vector: one pruned, DV-filtered read of the touched buckets (key
    * columns plus file metadata) resolves the row positions, ONE `_dv/`
    * sidecar holds each hit file's FULL (prior ∪ new) dead-position set,
    * and the next manifest re-points the files' `dv` references, epoch
    * pointers unmoved. No read ever needs key-level dedupe: the overlay
    * rows are the only live copies. Write I/O is ∝ the changeset (plus a
    * KB-scale sidecar and manifest), not ∝ the touched buckets — at 100
    * TB with 256 MB buckets, a 1 000-row trickle upsert scattered over
    * 200 buckets is ~MBs instead of ~50 GB of rewrite, and a 100-key
    * purge (the reference's deleted-item reconciliation, T19, and
    * right-to-be-forgotten purges) is ~KBs. The price is read-side and
    * bounded: extra union branches per overlay and row-based catalog
    * scans while vectors are live ([[readDvAware]]), drained by
    * auto-compaction — any full bucket rewrite (CoW merge, delete,
    * compact, split) collapses overlays and purges vectors.
    *
    * Declines when the changeset is too large to stay metadata-sized
    * ([[DvMaxPositionsPerCommit]]), the upserts' schema differs from the
    * recorded one (evolution stays CoW), or a touched stored bucket lacks
    * per-file stats (nowhere to hang the reference). Without upserts and
    * without a live hit the write is [[Unchanged]].
    */
  private def positionArm(spark: SparkSession, fs: FileSystem, root: String,
                          man: Manifest, up: Option[DataFrame],
                          doomed: DataFrame, keys: Seq[String],
                          touched: Seq[Int], upN: Long, delN: Long,
                          txn: Option[(String, Long)]): Arm = {
    val aligned =
      up.map(alignToRecorded(_, man.struct).getOrElse(return Declined))
    if (upN + delN > DvMaxPositionsPerCommit || touched.exists(b =>
        man.epochs.contains(b) && man.stats.get(b).forall(_.isEmpty)))
      return Declined
    // LIVE rows of the changed keys with their positions: the DV-aware
    // read keeps already-dead rows out, so the set is ≤ one row per key
    // (keyed-table invariant) and cap-bounded — which also lets the key
    // side broadcast, so the probe scan never pays an Exchange (guide
    // §3.1); the delete keys arrive distinct
    val paths = touchedPaths(root, man, touched)
    val hits =
      if (paths.isEmpty) Array.empty[org.apache.spark.sql.Row]
      else readFiltered(spark, man, root, paths, withPos = true)
        .join(broadcast(if (up.isEmpty) doomed else doomed.distinct()), keys,
          "left_semi")
        .select(col("__graft_file"), col("__graft_pos")).collect()
    if (upN == 0 && hits.isEmpty) return Unchanged
    val o = stageOverlay(spark, fs, root, man, aligned.filter(_ => upN > 0),
      keys)
    val newDead = hits.groupBy(_.getString(0))
      .map { case (f, rs) => f -> rs.map(_.getLong(1)) }
    val prior = dvPositions(fs, root,
      dvFileRefs(man).filter { case (k, _) => newDead.contains(k) })
    val dead: Map[String, Array[Long]] = newDead.map { case (k, ps) =>
      k -> (prior.getOrElse(k, Array.empty[Long]) ++ ps).distinct.sorted }
    // sidecar first, manifest last — a failed commit leaves an
    // unreferenced sidecar for gc's age guard
    val sidecar = "dv-" + UUID.randomUUID() + ".json"
    if (dead.nonEmpty) writeDvSidecar(fs, root, sidecar, dead)
    Staged(_.map(base => withOverlay(base.copy(stats = base.stats.map {
      case (b, fss) => b -> fss.map(f =>
        dead.get(dvRelKey(fileEpoch(base, b, f), b, f.name))
          .fold(f)(ps => f.copy(dv = sidecar, dvn = ps.length.toLong)))
    }), o, txn)), overlayRule(man, keys, touched, o))
  }

  /** The WRITE-ONLY arm of an equality-delete table (Iceberg v2's
    * EQUALITY DELETES beside data-file adds): the upserts land as one
    * overlay epoch exactly like [[positionArm]]'s, but the changed keys'
    * old rows die by a DOOMED-KEY sidecar instead of resolved positions —
    * the write performs NO read of stored data at all. This is the
    * trickle-CDC shape at 100 TB: an at-least-once queue feeding keyed
    * upserts (the reference's SQS-fed state loads,
    * `serverless.yml:400-407`) pays ∝ its batch per trigger with zero
    * probe I/O. The cost moves to the read side, bounded like DVs: format
    * reads anti-join the doomed keys away ([[readFiltered]]), the native
    * catalog scan resolves them to row positions at plan time
    * ([[eqdDeadByAbsPath]]), and MoR pressure compaction purges. The
    * staged state serves both commit targets — a table's CAS and a group
    * member's stage (the group-manifest CAS stays the one commit point,
    * so cross-member atomicity is untouched while each member's write
    * I/O drops to ∝ its batch).
    *
    * Scoping (Iceberg's sequence-number rule): the sidecar applies ONLY
    * to epochs live BEFORE this commit (`EqDel.upTo` = the bucket's
    * live-epoch count at commit), so the commit's own overlay rows — the
    * doomed keys' replacements — survive, and stacked eq-delete upserts
    * leave exactly one live copy per key with no read-side key dedupe.
    * `n` records the changeset bound (pressure accounting), not an exact
    * distinct count — counting would cost one more job.
    *
    * Declines when the changeset exceeds the per-commit key cap, the
    * upserts' schema moved (evolution stays CoW), or a touched stored
    * bucket lacks per-file stats (the catalog scan's plan-time
    * resolution enumerates an eq-delete's affected files FROM the stats
    * records — an unlisted file would serve its doomed rows unfiltered).
    */
  private def eqdArm(spark: SparkSession, fs: FileSystem, root: String,
                     man: Manifest, up: Option[DataFrame], doomed: DataFrame,
                     keys: Seq[String], touched: Seq[Int], upN: Long,
                     delN: Long, txn: Option[(String, Long)]): Arm = {
    val aligned =
      up.map(alignToRecorded(_, man.struct).getOrElse(return Declined))
    val stored = touched.filter(man.epochs.contains)
    if (upN + delN > DvMaxPositionsPerCommit ||
        stored.exists(b => man.stats.get(b).forall(_.isEmpty)))
      return Declined
    val o = stageOverlay(spark, fs, root, man, aligned.filter(_ => upN > 0),
      keys)
    // the doomed-key sidecar, skipped when no touched bucket stores
    // anything (nothing to delete from); sidecar first, manifest last
    val sidecar = "eqd-" + UUID.randomUUID()
    if (stored.nonEmpty)
      writeEqdSidecar(spark, root, sidecar, doomed.distinct(), man.colIds)
    // upTo from the PRE-COMMIT base: the overlay appended after it takes
    // ordinal upTo, keeping this commit's own rows exempt
    Staged(_.map { base =>
      val eqds = base.eqds ++ stored.map(b => b ->
        (base.eqds.getOrElse(b, Seq.empty) :+
          EqDel(sidecar, bucketEpochs(base, b).length, upN + delN)))
      withOverlay(base.copy(eqds = eqds), o, txn)
    }, overlayRule(man, keys, touched, o))
  }

  /** Relative file key of a bucket file — the suffix `_metadata
    * .file_path` resolves to via `substring_index(·, "/", -3)`:
    * `e-<uuid>/__bucket=K/<name>`. Globally unique (uuid epochs).
    */
  private def dvRelKey(epoch: String, b: Int, name: String): String =
    s"$epoch/$BucketCol=$b/$name"

  /** relative file key → FileStat, for every live DV'd file. */
  private def dvFileRefs(m: Manifest): Map[String, FileStat] =
    m.epochs.keys.flatMap { b =>
      m.stats.getOrElse(b, Seq.empty).collect {
        case f if f.dv.nonEmpty =>
          dvRelKey(fileEpoch(m, b, f), b, f.name) -> f
      }
    }.toMap

  /** Dead positions of the given relative file keys, resolved from their
    * sidecars (each sidecar read once). A missing sidecar or entry fails
    * loudly — serving a DV'd file UNFILTERED would resurrect deleted
    * rows, the one lie this layer must never tell.
    */
  private def dvPositions(fs: FileSystem, tableRoot: String,
                          refs: Map[String, FileStat])
      : Map[String, Array[Long]] = {
    val bySidecar = refs.groupBy(_._2.dv)
    bySidecar.flatMap { case (sidecar, fileRefs) =>
      val p = new Path(s"$tableRoot/$DvDirName/$sidecar")
      val node = readJsonFile(fs, p)
      val files = Option(node.get("files")).getOrElse(
        throw new IllegalStateException(
          s"deletion-vector sidecar $p has no 'files' entry"))
      fileRefs.keys.map { relKey =>
        val arr = Option(files.get(relKey)).getOrElse(
          throw new IllegalStateException(
            s"deletion-vector sidecar $p has no entry for $relKey"))
        relKey -> (0 until arr.size()).map(arr.get(_).asLong()).toArray
      }
    }
  }

  /** Dead positions of EVERY live DV'd file of the manifest, keyed by
    * normalized absolute file path and sorted ascending — the skip map
    * the native DSv2 scan applies executor-side as a binary-search test
    * on the parquet row index ([[GraftStreamableParquetScan]]). Resolved
    * driver-side from the sidecars (each read once); size is bounded by
    * [[DvAutoCompactFiles]] live DV'd files × the per-commit position
    * cap, so the map stays metadata-sized in the serialized reader
    * factory.
    */
  private[sources] def dvDeadByAbsPath(spark: SparkSession, root: String,
                                       m: Manifest,
                                       keepPaths: Option[Set[String]] = None)
      : Map[String, Array[Long]] = {
    if (!hasLiveDvs(m)) return Map.empty
    // restrict to the files the scan will actually open BEFORE touching
    // sidecars: a pruned scan neither reads the pruned files' sidecars
    // driver-side nor ships their positions in the reader factory
    val wanted = m.epochs.keys.iterator.flatMap { b =>
      m.stats.getOrElse(b, Seq.empty).iterator.collect {
        case f if f.dv.nonEmpty =>
          (dvRelKey(fileEpoch(m, b, f), b, f.name),
            new Path(fileReadPath(root, m, b, f)).toString, f)
      }
    }.filter { case (_, abs, _) => keepPaths.forall(_.contains(abs)) }
      .toSeq
    if (wanted.isEmpty) return Map.empty
    val refs = wanted.map { case (rel, _, f) => rel -> f }.toMap
    val pos = dvPositions(fsFor(spark, root), root, refs)
    wanted.map { case (rel, abs, _) =>
      val dead = pos(rel).clone()
      java.util.Arrays.sort(dead)
      abs -> dead
    }.toMap
  }

  /** Dead positions implied by the manifest's live EQUALITY DELETES,
    * keyed like [[dvDeadByAbsPath]] — the plan-time resolution that
    * lets the native DSv2 catalog scan serve an eq-delete-bearing
    * version through the SAME reader-side row-index skip as position
    * DVs (one skip mechanism, two delete encodings). Costs ONE bounded
    * probe job per scan materialization: a pruned key-column read of
    * only the files some eq-delete applies to, semi-joined against the
    * doomed keys — positions ≤ doomed keys × live epochs, both capped
    * per commit and pressure-drained by MoR auto-compaction, so the
    * probe the WRITE path skipped is paid lazily (and only) by readers.
    * Resolution is in-memory only — no manifest mutation, so it works
    * on time-travel pins, branches and read-only replicas.
    *
    * CACHED PER VERSION (round 14): between compactions a trickle-CDC
    * table is read many times at the same version, and the resolution
    * is a pure function of (table, eq-delete records, file listing) —
    * so the FULL resolution (all affected files) is computed once per
    * (root, version, eq-delete fingerprint) and every scan filters it
    * down to its own pruned listing (a driver-side map restriction,
    * zero jobs). The fingerprint rides the sidecar UUIDs, so branch
    * heads or rewritten versions sharing a version number can never
    * collide. A PRUNED first scan (round 15) probes only ITS OWN kept
    * files — resolved under a (version, fingerprint, pruned-set hash)
    * key — so a selective predicate over a wide eqd-bearing version
    * never pays for files it will not read; an unpruned scan still
    * builds (and caches) the full resolution, and once the full map
    * exists every scan restricts it driver-side with zero jobs.
    */
  private val eqdResCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, Map[String, Array[Long]]](
        16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Map[String, Array[Long]]])
          : Boolean = size() > 64
    })

  /** Test hook: how many eq-delete probe JOBS have run in this process
    * — the "second scan of an unchanged version runs zero probe jobs"
    * assertion.
    */
  private[graft] val eqdProbeJobs = new java.util.concurrent.atomic.AtomicLong

  /** Test hook: how many FILES the eq-delete probe jobs have read in
    * this process — the "a pruned first scan probes only its own kept
    * files" assertion.
    */
  private[graft] val eqdProbedFiles =
    new java.util.concurrent.atomic.AtomicLong

  private[sources] def eqdDeadByAbsPath(spark: SparkSession, root: String,
                                        m: Manifest,
                                        keepPaths: Option[Set[String]] = None)
      : Map[String, Array[Long]] = {
    if (!hasLiveEqds(m)) return Map.empty
    val fp = m.eqds.toSeq.sortBy(_._1).map { case (b, ds) =>
      b + ":" + ds.map(d => d.sidecar + "@" + d.upTo).mkString("+")
    }.mkString("|")
    val fullKey = root + "#" + m.version + "#" + fp
    (Option(eqdResCache.get(fullKey)), keepPaths) match {
      // full map already resolved: every restriction is driver-side
      case (Some(full), None) => full
      case (Some(full), Some(ks)) =>
        full.filter { case (p, _) => ks.contains(p) }
      case (None, None) =>
        val r = eqdResolveAll(spark, root, m, None)
        eqdResCache.put(fullKey, r)
        r
      case (None, Some(ks)) =>
        // prune-aware first probe: resolve only THIS scan's kept files.
        // The effective probe set is kept ∩ affected (metadata-only to
        // compute): when the scan's pruning dropped no affected file,
        // the resolution IS the full one — cache it under the full key
        // so every later restriction is driver-side (the scan path
        // always passes its listing, so this is how the full map gets
        // built at all). A genuinely pruned set caches under ITS hash,
        // making a repeated identical (or equi-effective) scan free.
        val affected = eqdAffectedAbs(root, m)
        val eff = affected.filter(ks.contains)
        if (eff.length == affected.length) {
          val r = eqdResolveAll(spark, root, m, None)
          eqdResCache.put(fullKey, r)
          r
        } else {
          val d = java.security.MessageDigest.getInstance("SHA-256")
          eff.sorted.foreach(p =>
            d.update(p.getBytes(StandardCharsets.UTF_8)))
          val pk = fullKey + "#" +
            d.digest().take(8).map(b => f"${b & 0xff}%02x").mkString
          Option(eqdResCache.get(pk)).getOrElse {
            val r = eqdResolveAll(spark, root, m, Some(ks))
            eqdResCache.put(pk, r)
            r
          }
        }
    }
  }

  /** The files some live eq-delete APPLIES to — metadata only, no I/O
    * (the candidate set [[eqdResolveAll]] would probe, as absolute
    * paths).
    */
  private def eqdAffectedAbs(root: String, m: Manifest): Seq[String] =
    m.epochs.keys.toSeq.sorted.flatMap { b =>
      val maxU = m.eqds.getOrElse(b, Seq.empty)
        .foldLeft(0)((mx, d) => math.max(mx, d.upTo))
      if (maxU == 0) Seq.empty
      else {
        val epochs = bucketEpochs(m, b)
        m.stats.getOrElse(b, Seq.empty).flatMap { f =>
          val ord = epochs.indexOf(fileEpoch(m, b, f))
          if (ord < 0 || ord >= maxU) None
          else Some(new Path(fileReadPath(root, m, b, f)).toString)
        }
      }
    }

  /** The one probe job behind [[eqdDeadByAbsPath]]'s per-version cache:
    * resolve every file some eq-delete applies to — restricted to
    * `keep` when the calling scan's pruning already dropped the rest.
    */
  private def eqdResolveAll(spark: SparkSession, root: String, m: Manifest,
                            keep: Option[Set[String]])
      : Map[String, Array[Long]] = {
    eqdProbeJobs.incrementAndGet()
    // (epoch ordinal, relKey, abs) of every file some eq-delete
    // applies to
    val cands: Seq[(Int, String, String)] =
      m.epochs.keys.toSeq.sorted.flatMap { b =>
        val maxU = m.eqds.getOrElse(b, Seq.empty)
          .foldLeft(0)((mx, d) => math.max(mx, d.upTo))
        if (maxU == 0) Seq.empty
        else {
          val epochs = bucketEpochs(m, b)
          m.stats.getOrElse(b, Seq.empty).flatMap { f =>
            val e = fileEpoch(m, b, f)
            val ord = epochs.indexOf(e)
            require(ord >= 0, s"equality deletes: epoch $e is not a " +
              s"live epoch of bucket $b (version ${m.version})")
            if (ord >= maxU) None
            else Some((ord, dvRelKey(e, b, f.name),
              new Path(fileReadPath(root, m, b, f)).toString))
          }
        }
      }.filter { case (_, _, abs) => keep.forall(_.contains(abs)) }
    eqdProbedFiles.addAndGet(cands.size.toLong)
    if (cands.isEmpty) return Map.empty
    ensureFieldIdRead(spark)
    val readSchema =
      stampSchema(StructType(m.keyCols.map(k => m.struct(k))), m.colIds)
    val absByRel = cands.map { case (_, rel, abs) => rel -> abs }.toMap
    // ONE probe job over all affected files, the per-file scoping
    // folded into broadcast joins (no per-sidecar-set job fan-out):
    // a row is dead iff some sidecar holding its key covers its file's
    // epoch ordinal. Doomed keys tag the HIGHEST covering ordinal of
    // their own hash bucket (coverage is a prefix: sidecar (b, upTo)
    // kills ordinals < upTo, so max-upTo per key is exact); file rows
    // tag their ordinal via a broadcast (relKey, ord) frame.
    import spark.implicits._
    val ordDf = broadcast(
      cands.map { case (ord, rel, _) => (rel, ord) }
        .toDF("__graft_file", "__ord"))
    // (sidecar, bucket, upTo) — the scoping table
    val scopeDf = broadcast(m.eqds.toSeq.flatMap { case (b, ds) =>
      ds.map(d => (d.sidecar, b, d.upTo))
    }.toDF("__sid", "__b", "__u"))
    val sidecars = m.eqds.valuesIterator.flatten.map(_.sidecar)
      .toSeq.distinct.sorted
    val doomed = broadcast(sidecars.map { s =>
        eqdKeysDf(spark, root, m, Seq(s)).withColumn("__sid", lit(s))
      }.reduce(_ unionByName _)
      .withColumn("__b",
        pmod(hash(m.keyCols.map(col): _*), lit(m.buckets)))
      .join(scopeDf, Seq("__sid", "__b"))
      .groupBy(m.keyCols.map(col): _*)
      .agg(max(col("__u")).as("__u")))
    spark.read.schema(readSchema).parquet(cands.map(_._3): _*)
      .withColumn("__graft_file",
        substring_index(col("_metadata.file_path"), "/", -3))
      .withColumn("__graft_pos", col("_metadata.row_index"))
      .join(ordDf, Seq("__graft_file"))
      .join(doomed, m.keyCols)
      .where(col("__ord") < col("__u"))
      .select(col("__graft_file"), col("__graft_pos"))
      .collect().toSeq
      .map(r => absByRel(r.getString(0)) -> r.getLong(1))
      .groupBy(_._1).map { case (p, xs) =>
        val a = xs.map(_._2).toArray
        java.util.Arrays.sort(a)
        p -> a
      }
  }

  /** Merge two dead-position maps (position DVs + resolved equality
    * deletes) into one per-file sorted skip array.
    */
  private[sources] def mergeDeadMaps(a: Map[String, Array[Long]],
                                     b: Map[String, Array[Long]])
      : Map[String, Array[Long]] =
    if (a.isEmpty) b else if (b.isEmpty) a
    else (a.keySet ++ b.keySet).iterator.map { k =>
      val merged = (a.getOrElse(k, Array.empty[Long]) ++
        b.getOrElse(k, Array.empty[Long])).distinct
      java.util.Arrays.sort(merged)
      k -> merged
    }.toMap

  /** The DV-aware read core behind [[readWithSchema]]: splits the asked
    * paths into DV-free reads (ONE native multi-path parquet relation —
    * the unchanged hot path) and per-DV'd-file reads filtered by a
    * binary search of the file's sorted dead positions (one referenced
    * `long[]` per file — [[graft.functions.VectorExpressions
    * .NotInSortedLongs]], O(log n)/row, plan-size ∝ nothing), then
    * unions. `withPos` additionally surfaces each row's relative file
    * key and position as `__graft_file`/`__graft_pos` (the DV WRITE path
    * needs them; metadata columns do not survive a union, so they must
    * be projected per relation).
    */
  private def readDvAware(spark: SparkSession, m: Manifest, root: String,
                          paths: Seq[String], withPos: Boolean): DataFrame = {
    val refs = dvFileRefs(m)
    def posCols(df: DataFrame): DataFrame =
      if (!withPos) df
      else df
        .withColumn("__graft_file",
          substring_index(col("_metadata.file_path"), "/", -3))
        .withColumn("__graft_pos", col("_metadata.row_index"))
    if (refs.isEmpty) return posCols(readPlain(spark, m, paths))
    // classify only to find WHICH DV refs the requested paths can reach
    // (a path is a single file or a bucket directory) — sidecar JSONs of
    // unreachable files stay unread
    def suffixMatch(p: String, suffix: String): Boolean =
      p == suffix || p.endsWith("/" + suffix)
    val dirOfRef: Map[String, Seq[String]] = refs.keys.toSeq
      .groupBy(k => k.substring(0, k.lastIndexOf('/')))
    val relevant = scala.collection.mutable.LinkedHashSet.empty[String]
    paths.foreach { p =>
      if (p.endsWith(".parquet"))
        refs.keys.find(suffixMatch(p, _)).foreach(relevant += _)
      else
        dirOfRef.keys.find(suffixMatch(p, _))
          .foreach(d => relevant ++= dirOfRef(d))
    }
    if (relevant.isEmpty) return posCols(readPlain(spark, m, paths))
    val positions = dvPositions(fsFor(spark, root), root,
      refs.filter { case (k, _) => relevant.contains(k) })
    val dead = new java.util.HashMap[String, Array[Long]]()
    positions.foreach { case (k, ps) =>
      val a = ps.clone(); java.util.Arrays.sort(a); dead.put(k, a) }
    // ONE scan of every requested path with a per-row liveness filter
    // against the referenced per-file dead map (sorted long[] binary
    // search; files without an entry — every clean sibling — are wholly
    // live). Replaces the old per-DV'd-file UNION of single-file scans:
    // plan size O(1) in the DV'd-file count, one scan leg instead of N
    // jobs' worth of AQE stages, and the generated code is
    // byte-identical across commits so the codegen cache serves every
    // DV read from one compile.
    val base = readPlain(spark, m, paths)
      .withColumn("__graft_file",
        substring_index(col("_metadata.file_path"), "/", -3))
      .withColumn("__graft_pos", col("_metadata.row_index"))
      .where(graft.functions.VectorExpressions.alive_after_dv(
        col("__graft_file"), col("__graft_pos"), dead))
    if (withPos) base else base.drop("__graft_file", "__graft_pos")
  }

  /** Read committed epoch data with the manifest-recorded schema — a
    * zero-job plan step, vs. `mergeSchema=true`'s distributed footer-merge
    * (O(files) tasks on EVERY read of EVERY table). DV-bearing manifests
    * route through the
    * deletion-vector filter ([[readDvAware]]) — dead rows are invisible
    * to every read built on this core (snapshots, point lookups, range
    * reads, feeds, compaction/split survivor reads).
    */
  private def readWithSchema(spark: SparkSession, m: Manifest, root: String,
                             paths: Seq[String]): DataFrame =
    if (!hasLiveDvs(m) && !hasLiveEqds(m)) readPlain(spark, m, paths)
    else readFiltered(spark, m, root, paths, withPos = false)

  /** The full merge-on-read filter stack: deletion-vector position
    * skipping ([[readDvAware]]) PLUS equality-delete key filtering.
    * Paths group by their applicable sidecar set (the bucket + epoch
    * ordinal scoping of [[applicableEqds]] — a commit's own overlay is
    * exempt from the eq-deletes committed beside it); each group with
    * doomed keys anti-joins them away (broadcast — sidecars are
    * key-cap-bounded by construction), groups without pay nothing.
    * Every keyed read (snapshots, point lookups, feeds, compaction
    * survivor reads, CoW rewrites) comes through here, so a blind
    * eq-delete is invisible everywhere the moment its manifest lands.
    */
  private def readFiltered(spark: SparkSession, m: Manifest, root: String,
                           paths: Seq[String], withPos: Boolean): DataFrame = {
    if (!hasLiveEqds(m)) return readDvAware(spark, m, root, paths, withPos)
    // (epoch, bucket) of a table-root-relative data path — every caller
    // builds paths as `$root/$epoch/__bucket=$b[/$file]`
    def epochBucketOf(p: String): (String, Int) = {
      val rel = p.stripPrefix(root).stripPrefix("/")
      val segs = rel.split('/')
      require(segs.length >= 2 && segs(1).startsWith(BucketCol + "="),
        s"equality deletes: unrecognized data path shape $p under $root")
      (segs(0), segs(1).substring(BucketCol.length + 1).toInt)
    }
    val groups: Seq[(Seq[String], Seq[String])] = paths.groupBy { p =>
      val (e, b) = epochBucketOf(p)
      applicableEqds(m, b, e)
    }.toSeq.sortBy(_._1.mkString(","))
    groups.map { case (sids, ps) =>
      val base = readDvAware(spark, m, root, ps, withPos)
      if (sids.isEmpty) base
      else base.join(broadcast(eqdKeysDf(spark, root, m, sids)),
        m.keyCols, "left_anti")
    }.reduce(_ union _)
  }

  // ---- stable column identity (parquet field ids) --------------------------

  /** The parquet-native field-id metadata key (`parquet.field.id`):
    * Spark's writer stamps it into file footers
    * (`spark.sql.parquet.fieldId.write.enabled`, default on) and its
    * reader matches columns BY ID instead of name when the requested
    * schema carries it — the public mechanism behind Iceberg field IDs
    * and Delta column-mapping `id` mode, and what makes RENAME/DROP
    * COLUMN metadata-only here (see [[Manifest.colIds]]).
    */
  private[sources] val FieldIdKey = "parquet.field.id"

  private def withFieldId(f: StructField, id: Long): StructField =
    f.copy(metadata = new MetadataBuilder().withMetadata(f.metadata)
      .putLong(FieldIdKey, id).build())

  /** The clean logical schema annotated with the table's field ids — the
    * schema handed to the PHYSICAL parquet reader/writer only; never
    * surfaced to users (ids leak as duplicate-id hazards in derived
    * frames — a self-join or a CDC old_/new_ projection would carry two
    * columns with one id into the user's own parquet writes).
    */
  private[sources] def stampSchema(s: StructType,
                                   ids: Map[String, Long]): StructType =
    StructType(s.fields.map(f => ids.get(f.name).fold(f)(withFieldId(f, _))))

  /** Stamp a frame's columns with the table's field ids (one zero-cost
    * metadata projection) so the epoch write records them in the file
    * footers. Columns without an assigned id (none, normally) lose any
    * stray id metadata they carried in from another table's read.
    */
  private def stampFrame(df: DataFrame, ids: Map[String, Long]): DataFrame =
    df.select(df.schema.fields.map { f =>
      val mb = new MetadataBuilder().withMetadata(f.metadata)
        .remove(FieldIdKey)
      ids.get(f.name).foreach(mb.putLong(FieldIdKey, _))
      col(f.name).as(f.name, mb.build())
    }.toIndexedSeq: _*)

  /** Strip field-id metadata from a frame's public surface (a no-op
    * unless some column carries it).
    */
  private def stripFrame(df: DataFrame): DataFrame =
    if (!df.schema.fields.exists(_.metadata.contains(FieldIdKey))) df
    else df.select(df.schema.fields.map { f =>
      if (!f.metadata.contains(FieldIdKey)) col(f.name)
      else col(f.name).as(f.name, new MetadataBuilder()
        .withMetadata(f.metadata).remove(FieldIdKey).build())
    }.toIndexedSeq: _*)

  private def stripSchemaIds(s: StructType): StructType =
    if (!s.fields.exists(_.metadata.contains(FieldIdKey))) s
    else StructType(s.fields.map(f =>
      if (!f.metadata.contains(FieldIdKey)) f
      else f.copy(metadata = new MetadataBuilder().withMetadata(f.metadata)
        .remove(FieldIdKey).build())))

  /** Enable parquet field-id READ matching for this session (idempotent,
    * set on first touch of an id-stamped table — the
    * `nanosAsLong` precedent). A no-op for requested schemas without id
    * metadata, so plain parquet reads are untouched.
    */
  private[sources] def ensureFieldIdRead(spark: SparkSession): Unit = {
    val k = "spark.sql.parquet.fieldId.read.enabled"
    if (!spark.conf.getOption(k).contains("true")) spark.conf.set(k, "true")
  }

  /** Rename a frame read at one manifest's schema into another
    * manifest's column names by SHARED FIELD ID (the old side of a
    * change feed that spans a rename), dropping columns whose id the
    * target no longer carries.
    */
  private def alignToIds(df: DataFrame, from: Manifest,
                         to: Manifest): DataFrame = {
    val toNameById = to.colIds.map { case (n, id) => id -> n }
    df.select(df.schema.fields.toIndexedSeq.flatMap { f =>
      from.colIds.get(f.name) match {
        case Some(id) => toNameById.get(id)
          .map(nn => col(f.name).as(nn, f.metadata)) // dropped id: omit
        case None => Some(col(f.name))
      }
    }: _*)
  }

  /** Table-root contents that predate the manifest protocol (a plain or
    * `__bucket=`-partitioned parquet table).
    */
  private def legacyData(fs: FileSystem, dir: Path): Boolean =
    fs.exists(dir) && fs.listStatus(dir).exists { st =>
      val n = st.getPath.getName
      (st.isDirectory && n.startsWith(BucketCol + "=")) ||
        (!st.isDirectory && n.startsWith("part-"))
    }

  /** Rewrite a table below the protocol floor ([[atFloor]]) at the
    * floor: pre-manifest parquet data ([[legacyData]]) or a head
    * manifest that records no schema or no field ids. ONE full rewrite
    * through [[writeEpochAndCommit]]: a missing schema comes from a
    * single footer-merged read (`mergeSchema` — it runs once per table,
    * so the O(files) footer-job cost argument does not apply) of the
    * root's files or of the head's pinned epochs, and the commit records
    * it and stamps field ids (a head that already carries a schema or
    * ids keeps them). The
    * rest of the head's state (txn ledger, retention, layout) rides
    * forward. Versions below the floor cannot be read, so their
    * manifests go. A table at the floor is left alone; `keys` defaults
    * to the recorded merge keys.
    */
  def upgrade(spark: SparkSession, tablePath: String,
              keys: Seq[String] = Seq.empty): Unit = {
    val fs = fsFor(spark, tablePath)
    val dir = new Path(tablePath)
    val nodes = manifestFiles(fs, dir).map { case (v, p) =>
      (v, p, readJsonFile(fs, p)) }
    val below = nodes.filterNot(n => atFloor(n._3))
    if (nodes.nonEmpty && below.isEmpty) return
    def footerMerged(paths: Seq[String]): DataFrame =
      spark.read.option("mergeSchema", "true").parquet(paths: _*)
        .drop(BucketCol)
    def keysOr(recorded: Seq[String]): Seq[String] = {
      val ks = if (recorded.nonEmpty) recorded else keys
      require(ks.nonEmpty && (keys.isEmpty || keys == ks),
        s"upgrade: name the merge keys of $tablePath (recorded: " +
          s"${recorded.mkString(",")}; given: ${keys.mkString(",")})")
      ks
    }
    nodes.lastOption match {
      case None =>
        require(legacyData(fs, dir),
          s"upgrade: $tablePath holds neither a manifest nor parquet data")
        writeEpochAndCommit(spark, fs, tablePath, footerMerged(Seq(tablePath)),
          keysOr(Seq.empty), 64, None, opName = "upgrade")
      case Some((v, p, node)) if !atFloor(node) =>
        require(!node.has("segs"), s"upgrade: $p is a segmented manifest")
        val o = node.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
        val (ep, ovl) = (parseEpochsNode(o.get("epochs")),
          parseOvlNode(o.get("ovl")))
        val paths = ep.keys.toSeq.sorted.flatMap(b =>
          (ep(b) +: ovl.getOrElse(b, Seq.empty)).map(bucketPath(tablePath, _, b)))
        // a recorded schema stays: it carries the declared column order,
        // nullability and defaults that no footer holds
        if (!o.has("schema"))
          o.put("schema", stripSchemaIds(footerMerged(paths).schema).json)
        if (!o.has("cids")) { o.putObject("cids"); o.put("ncid", 1L) }
        val prev = manifestFromNode(o, v, tablePath)
        // the pinned rows through the DV/eq-delete-aware core
        writeEpochAndCommit(spark, fs, tablePath,
          readWithSchema(spark, prev, tablePath, paths), keysOr(prev.keyCols),
          prev.buckets, Some(prev), dropBuckets = prev.epochs.keySet,
          opName = "upgrade")
      case _ => // head at the floor: an earlier upgrade's leftovers
    }
    below.foreach(n => fs.delete(n._2, false))
    gc(fs, dir)
  }

  // ==== THE KEYED-WRITE PIPELINE ==========================================

  /** How a copy-on-write keyed write combines its incoming rows with the
    * stored rows of the touched buckets.
    */
  private sealed trait Combine

  /** Upserts replace their keys' stored rows and deleted keys' rows end
    * ([[merge]], [[delete]], [[applyChanges]], group members). `evolve`
    * is ADDITIVE schema evolution (Delta mergeSchema): a column present
    * on only one side null-fills on the other, so old rows read NULL in
    * newly-added columns; renames and type changes are out of scope — a
    * type conflict fails loudly in the union.
    */
  private final case class Replace(evolve: Boolean = false) extends Combine

  /** Matched keys add `addCols` (SUM), new keys insert ([[mergeAdditive]]). */
  private final case class Fold(addCols: Seq[String]) extends Combine

  /** The newest `versionCol` per key wins; on version ties the stored
    * row outranks the incoming one ([[mergeVersioned]]).
    */
  private final case class Newest(versionCol: String) extends Combine

  /** Where a keyed write commits: a table's main lineage or one of its
    * branches, or a group member whose staged state [[mergeGroup]]
    * publishes in its one group-manifest CAS.
    */
  private sealed trait KeyedTarget { def root: String }
  private final case class ToTable(root: String, ref: Option[String] = None)
      extends KeyedTarget
  private final case class ToMember(root: String, state: Option[Manifest])
      extends KeyedTarget

  /** One keyed write as its public entry point states it. `entry` names
    * the entry point in argument errors; `op` names it in the commit
    * history, key checks and conflict messages. `upserts` replace or
    * fold into their keys; `deletes` name keys whose rows end. `unique`
    * names the statement whose duplicate-key guard runs over the staged
    * upserts;
    * `declared` runs identity assignment and generated-column compute on
    * the upserts (`Some(recomputeGenerated)`). The upserts create a
    * missing table unless `creates` is off. The layout and policy fields
    * seed only a table the write creates; `splitBytes` and
    * `compactEpochs` drive the post-commit maintenance.
    */
  private final case class KeyedWrite(
      entry: String, op: String, target: KeyedTarget, keys: Seq[String],
      upserts: Option[DataFrame], deletes: Option[DataFrame],
      combine: Combine,
      txn: Option[(String, Long)] = None,
      expectedVersion: Option[Long] = None,
      unique: Option[String] = None,
      declared: Option[Boolean] = None,
      creates: Boolean = true,
      buckets: Int = 64,
      clusterBy: Seq[String] = Seq.empty,
      bloomBy: Seq[String] = Seq.empty,
      bloomItems: Long = DefaultBloomItems,
      fingerprint: Boolean = false,
      dvSeed: Boolean = false,
      eqdSeed: Boolean = false,
      splitBytes: Long = AutoSplitBytesPerBucket,
      compactEpochs: Int = AutoCompactEpochs)

  /** THE keyed-write pipeline. Every keyed write — [[merge]],
    * [[mergeAdditive]], [[mergeVersioned]], [[delete]], [[applyChanges]]
    * and a [[mergeGroup]] member's stage — runs these stages once:
    *   1. prologue: argument checks, the branch check, pre-manifest
    *      migration, the base manifest and its recorded keys, the txn
    *      replay skip;
    *   2. the upserts and the delete keys bucketed and staged once
    *      ([[stageKeyed]]): one `graft.touched` job per frame
    *      materializes its rows and counts them per bucket;
    *   3. every later query plans over the staged rows' flat leaf,
    *      never over the input's lineage: the duplicate-key guard, the
    *      arms, the anti-join key side, the union and the epoch write.
    *      The staged rows are released on every exit — commit, no-op,
    *      failure; nothing persists a frame carrying the input's
    *      lineage and then runs several queries over it;
    *   4. the empty/no-op rule — no touched bucket, or no upserts and no
    *      touched stored bucket: nothing is written and no table created
    *      (streaming sinks deliver empty early batches), but an existing
    *      table still records the txn anchor, else a redelivery WITH
    *      rows would apply; then the scan-to-commit guard
    *      ([[requireScanCurrent]]) and the duplicate-key guard;
    *   5. policy dispatch for a replacing, non-evolving write: an
    *      equality-delete table takes [[eqdArm]], any other
    *      deletion-vector table [[positionArm]] (tables only); a
    *      declining arm, every other table and every folding, versioned
    *      or evolving write take copy-on-write;
    *   6. copy-on-write: read the touched stored buckets, anti-join the
    *      changed keys, apply the [[Combine]] step and stage the rewrite
    *      ([[stageRewrite]], then [[assembleManifest]] per commit attempt);
    *   7. commit ([[publish]]): a table through [[commitLoop]], on its
    *      branch if any; a group member returns its next state;
    *   8. post-commit maintenance after a main-lineage table write
    *      (branch staging defers it to the publish; a group runs its own
    *      after the group CAS).
    * Returns a member's staged state (its pinned state when nothing
    * changed), None for a table.
    */
  private def keyedWrite(spark: SparkSession,
                         w: KeyedWrite): Option[Manifest] = {
    val (keys, root) = (w.keys, w.target.root)
    require(keys.nonEmpty, s"${w.entry} requires at least one key column")
    // the pipeline owns these names: silently withColumn-replacing a
    // caller's column of the same name would corrupt its data
    val reserved = w.combine match {
      case _: Newest => Seq("__pri", "__vrn", BucketCol)
      case _ => Seq(BucketCol)
    }
    w.upserts.foreach { u =>
      reserved.foreach(c => require(!u.columns.contains(c),
        s"${w.entry}: incoming frame must not contain reserved column '$c'"))
      requireBloomCols(w.entry, u.schema, w.bloomBy)
    }
    val fs = fsFor(spark, root)
    val dir = new Path(root)
    val (ref, member) = w.target match {
      case ToTable(_, r) => (r, false)
      case _: ToMember => (None, true)
    }
    ref.foreach { b =>
      requireBranchName(w.entry, b)
      require(branchHead(fs, dir, b).isDefined,
        s"${w.entry}: no branch '$b' on $root — createBranch first")
    }
    val base = w.target match {
      case ToMember(_, st) => st
      case _ => refCurrent(fs, dir, ref)
    }
    if (base.isEmpty && legacyData(fs, dir))
      throw belowFloor(s"${w.entry}: $root", "its pre-manifest parquet data")
    base.foreach(validateKeys(_, keys, w.op))
    if (base.isEmpty && !w.creates)
      throw new IllegalStateException(
        s"${w.entry}: $root is not a manifest table")
    // keyed writes are replay-IDEMPOTENT by construction; the txn makes a
    // redelivered batch a zero-I/O skip (and an additive one exact)
    if ((base.isEmpty && w.upserts.isEmpty) ||
        w.txn.exists(t => base.exists(_.txns.get(t._1).exists(_ >= t._2))))
      return if (member) base else None
    val nb = base.map(_.buckets).getOrElse(w.buckets)
    val held = scala.collection.mutable.ListBuffer.empty[Staging]
    def staged(rows: DataFrame): Staging = {
      val s = stageKeyed(
        rows.withColumn(BucketCol, pmod(hash(keys.map(col): _*), lit(nb))))
      held += s
      s
    }
    try {
      // IDENTITY assignment + GENERATED-column compute precede bucketing:
      // an assigned or computed value may BE a merge key, and its bucket
      // must derive from the FINAL value
      val upS = w.upserts.map(u => staged(w.declared.fold(u)(re =>
        applyDeclaredColumns(u, base, root, recomputeGenerated = re))))
      val delS = w.deletes.map(d =>
        staged(d.select(keys.map(col): _*).distinct()))
      val (up, del) = (upS.map(_.rows), delS.map(_.rows))
      val upCounts = upS.fold(Map.empty[Int, Long])(_.counts)
      val delCounts = delS.fold(Map.empty[Int, Long])(_.counts)
      val touched =
        (upCounts.keys ++ delCounts.keys).toIndexedSeq.distinct.sorted
      val (upN, delN) = (upCounts.values.sum, delCounts.values.sum)
      def unchanged(): Option[Manifest] =
        if (member) base
        else {
          // a branch-targeted anchor lands on the branch lineage
          if (base.isDefined) w.txn.foreach(commitTxnGuard(fs, dir, _, ref))
          None
        }
      if (touched.isEmpty) return unchanged()
      base.foreach(requireScanCurrent(fs, root, _, w.expectedVersion,
        touched, w.op, ref))
      for (u <- up; stmt <- w.unique)
        labeled(spark, "graft.touched")(requireUniqueKeys(u, keys, stmt))
      val stored =
        base.fold(Seq.empty[Int])(m => touched.filter(m.epochs.contains))
      if (upN == 0 && stored.isEmpty) return unchanged()
      // every changed key vacates its stored row: upserted keys come
      // back from the upserts, deleted keys just end here
      val doomed = (up.toSeq ++ del).map(_.select(keys.map(col): _*))
        .reduce(_ union _)
      val arm = base match {
        case Some(man) if man.deleteVectors && w.combine == Replace() =>
          if (man.eqDeletes) labeled(spark, "graft.eqd-apply") {
            eqdArm(spark, fs, root, man, up, doomed, keys, touched, upN,
              delN, w.txn)
          } else if (!member) labeled(spark, "graft.mor-apply") {
            positionArm(spark, fs, root, man, up, doomed, keys, touched, upN,
              delN, w.txn)
          } else Declined
        case _ => Declined
      }
      val result = arm match {
        case Unchanged => unchanged()
        case s: Staged => publish(fs, w.target, w.op, base, s)
        case Declined =>
          val paths =
            base.fold(Seq.empty[String])(touchedPaths(root, _, touched))
          val kept =
            if (paths.isEmpty) None
            else Some(readWithSchema(spark, base.get, root, paths))
          val in = up.map(_.drop(BucketCol))
          val rows = w.combine match {
            case Replace(evolve) =>
              val survivors = kept.map(_.join(
                antiKeySide(doomed, keys, upN + delN), keys, "left_anti"))
              (survivors, in) match {
                case (Some(sv), Some(i)) if evolve =>
                  sv.unionByName(i, allowMissingColumns = true)
                case (Some(sv), Some(i)) =>
                  sv.unionByName(i.select(sv.columns.map(col).toIndexedSeq: _*))
                case (sv, i) => sv.orElse(i).get
              }
            case Fold(addCols) =>
              val cols = (keys ++ addCols).map(col)
              kept.fold(in.get)(_.select(cols: _*)
                .unionByName(in.get.select(cols: _*))
                .groupBy(keys.map(col): _*)
                .agg(sum(addCols.head).as(addCols.head),
                  addCols.tail.map(c => sum(c).as(c)): _*))
            case Newest(versionCol) =>
              newestPerKey(kept.fold(in.get)(ex =>
                ex.withColumn("__pri", lit(0)).unionByName(
                  in.get.select(ex.columns.map(col).toIndexedSeq: _*)
                    .withColumn("__pri", lit(1)))),
                keys, versionCol, pri = kept.map(_ => "__pri"))
          }
          // a write that can empty a bucket drops its stored pointer (the
          // partitioned write emits no directory for an emptied bucket)
          val s = stageRewrite(spark, fs, root, rows, keys, nb, base,
            dropBuckets = if (del.isDefined) stored.toSet else Set.empty,
            clusterCols = base.map(_.clusterCols).getOrElse(w.clusterBy),
            bloomCols = base.map(_.bloomCols).getOrElse(w.bloomBy),
            bloomN = w.bloomItems, fpSeed = w.fingerprint, dvSeed = w.dvSeed,
            eqdSeed = w.eqdSeed)
          publish(fs, w.target, w.op, base,
            rewriteStage(s, base, keys, w.txn, w.op))
      }
      if (!member && ref.isEmpty)
        maintainAfterWrite(spark, fs, root, w.splitBytes, w.compactEpochs)
      result
    } finally held.foreach(_.release())
  }

  /** Commit a staged keyed write to its target: a table through
    * [[commitLoop]] from the version the write read, rebasing under the
    * staged [[contested]] rule (on its branch, if any); a group member
    * returns its next state for [[mergeGroup]]'s group CAS.
    */
  private def publish(fs: FileSystem, target: KeyedTarget, op: String,
                      read: Option[Manifest], s: Staged): Option[Manifest] =
    target match {
      case _: ToMember => s.step(read)
      case ToTable(root, ref) =>
        commitLoop(tableTarget(fs, new Path(root), ref), op, read)(
          rebaseUnless(op, root)(s.why))(s.step)
        None
    }

  /** A declared Bloom column must exist in the incoming schema with a
    * Bloom-able type: bloomBy applies at table CREATION (like clusterBy),
    * and a typo'd or float-typed column would otherwise silently record
    * filters no probe can ever use.
    */
  private def requireBloomCols(op: String, schema: StructType,
                               bloomBy: Seq[String]): Unit =
    bloomBy.foreach { c =>
      val f = schema.fields.find(_.name == c)
      require(f.isDefined, s"$op: bloomBy column '$c' is not in the " +
        s"incoming schema ${schema.fieldNames.mkString("(", ",", ")")}")
      require(bloomPutKind(f.get.dataType).isDefined,
        s"$op: bloomBy column '$c' has unsupported type " +
          s"${f.get.dataType.simpleString} (supported: integral, date, " +
          "timestamp, string)")
    }

  /** MERGE: rows in `incoming` replace existing rows with the same key;
    * all other existing rows survive. Equivalent to
    * `MERGE INTO target USING incoming ON keys WHEN MATCHED UPDATE WHEN NOT
    * MATCHED INSERT`, committed atomically via the manifest protocol above.
    *
    * `buckets` applies on table creation; an existing table keeps its
    * stored bucket count (changing it would reshuffle every key).
    *
    * Concurrency contract — OPTIMISTIC: writers that touch DISJOINT
    * bucket sets all succeed, serialized by the version-CAS commit with
    * rebase-and-retry (see [[writeEpochAndCommit]]); writers contending
    * for a bucket fail loudly with `ConcurrentModificationException`
    * (the merge read stale survivors — re-run it), never corrupt.
    * [[gc]]'s orphan-age guard keeps a mid-commit writer's staged epoch
    * alive through its retry window. Readers are safe throughout
    * ([[KeepManifests]] keeps the previous version's epochs alive
    * through the next commit).
    */
  def merge(spark: SparkSession, tablePath: String, incoming: DataFrame,
            keys: Seq[String], buckets: Int = 64,
            evolveSchema: Boolean = false,
            autoCompactEpochs: Int = AutoCompactEpochs,
            clusterBy: Seq[String] = Seq.empty,
            autoSplitBytesPerBucket: Long = AutoSplitBytesPerBucket,
            bloomBy: Seq[String] = Seq.empty,
            bloomItems: Long = DefaultBloomItems,
            txn: Option[(String, Long)] = None,
            fingerprint: Boolean = false,
            deleteVectors: Boolean = false,
            // seed the WRITE-ONLY merge-on-read policy at creation
            // (equality-delete sidecars instead of position probes;
            // implies deleteVectors — see [[Manifest.eqDeletes]])
            eqDeletes: Boolean = false,
            // target a STAGING BRANCH instead of main (see
            // [[createBranch]]): reads-for-merge resolve against the
            // branch head, the commit lands on the branch lineage, and
            // main's state/history are untouched until [[fastForward]]
            ref: Option[String] = None,
            // statement-level duplicate-key guard over the STAGED batch
            // (one key-narrow aggregate over the rows the stager already
            // materialized, instead of guardUniqueKeys' separate source
            // scan). Because the check reads the SAME staged rows the
            // write consumes, it is sound for non-deterministic sources
            // without an extra pin.
            assertUnique: Option[String] = None): Unit = {
    keyedWrite(spark, KeyedWrite("merge", "merge", ToTable(tablePath, ref),
      keys, Some(incoming), None, Replace(evolveSchema), txn = txn,
      unique = assertUnique, declared = Some(false), buckets = buckets,
      clusterBy = clusterBy, bloomBy = bloomBy, bloomItems = bloomItems,
      fingerprint = fingerprint, dvSeed = deleteVectors || eqDeletes,
      eqdSeed = eqDeletes, splitBytes = autoSplitBytesPerBucket,
      compactEpochs = autoCompactEpochs))
    ()
  }

  /** Exactly-once ADDITIVE merge — incremental rollup maintenance: the
    * stored table holds partial aggregates (counts, sums) and each delta
    * batch FOLDS IN (matched keys add, new keys insert) instead of
    * replacing. Unlike [[merge]]/[[mergeVersioned]], re-applying a batch
    * is NOT naturally idempotent (it would double-count), so each batch
    * carries a `(appId, batchVersion)` transaction id recorded in the
    * manifest's txn ledger: a batch at or below the app's recorded
    * version is skipped entirely, and because the ledger rides the same
    * atomic manifest rename as the folded data, a crash can never record
    * without applying or apply without recording — exactly-once under
    * at-least-once delivery, the same contract as Delta's transaction
    * identifiers.
    *
    * `delta` must be one row per key (pre-aggregate upstream) and carry
    * exactly `keys ++ addCols`; addCols fold with SUM. I/O is O(touched
    * buckets), as in [[merge]]. Single-writer per table; additionally,
    * one app id must be a single logical stream (its versions strictly
    * increase).
    */
  def mergeAdditive(spark: SparkSession, tablePath: String, delta: DataFrame,
                    keys: Seq[String], addCols: Seq[String],
                    txn: (String, Long), buckets: Int = 64,
                    autoCompactEpochs: Int = AutoCompactEpochs,
                    autoSplitBytesPerBucket: Long = AutoSplitBytesPerBucket): Unit = {
    require(addCols.nonEmpty, "mergeAdditive requires additive columns")
    require(delta.columns.sorted.sameElements((keys ++ addCols).sorted),
      s"mergeAdditive: delta must carry exactly keys ++ addCols " +
        s"(got ${delta.columns.mkString(",")})")
    keyedWrite(spark, KeyedWrite("mergeAdditive", "mergeAdditive",
      ToTable(tablePath), keys, Some(delta), None, Fold(addCols),
      txn = Some(txn), buckets = buckets, splitBytes = autoSplitBytesPerBucket,
      compactEpochs = autoCompactEpochs))
    ()
  }

  /** Atomic full replace (`INSERT OVERWRITE` / Delta's
    * `mode("overwrite")`): commit the batch as the table's ENTIRE next
    * version in ONE manifest flip — the new epoch's buckets become the
    * whole epoch map and every previous bucket pointer drops, so a
    * reader sees the old state or the new state, never a mix; the
    * superseded epochs stay readable through retained versions (time
    * travel across the overwrite) until gc ages them out. An EMPTY
    * batch is a truncate. Keys/clustering/blooms follow [[merge]]'s
    * creation-vs-existing rules; the optional `txn` makes a replayed
    * overwrite a zero-I/O skip.
    */
  def overwriteTable(spark: SparkSession, tablePath: String,
                     rows: DataFrame, keys: Seq[String], buckets: Int = 64,
                     clusterBy: Seq[String] = Seq.empty,
                     bloomBy: Seq[String] = Seq.empty,
                     bloomItems: Long = DefaultBloomItems,
                     txn: Option[(String, Long)] = None,
                     relayout: Boolean = false,
                     fingerprint: Boolean = false,
                     deleteVectors: Boolean = false,
                     eqDeletes: Boolean = false,
                     expectFresh: Boolean = false,
                     shred: Seq[ShredSpec] = Seq.empty): Unit = {
    require(keys.nonEmpty, "overwriteTable requires at least one key column")
    require(!rows.columns.contains(BucketCol),
      s"overwriteTable: frame must not contain reserved column '$BucketCol'")
    if (shred.nonEmpty)
      validateShred(stripSchemaIds(rows.schema), shred, "overwriteTable")
    val fs = fsFor(spark, tablePath)
    val dir = new Path(tablePath)
    val m = currentManifest(fs, dir)
    // a FRESH CTAS must never adopt-and-replace a table that committed
    // at this path after the stage-time emptiness check (a racing
    // CREATE at the same LOCATION): with no prior manifest the commit
    // below is a version-1 CAS (single winner); with one, fail loudly
    // instead of silently destroying the other statement's data
    if (expectFresh) m.foreach { prev =>
      throw new IllegalStateException(
        s"overwriteTable: $tablePath already holds a committed table " +
          s"(version ${prev.version}) — a fresh CREATE cannot adopt or " +
          "replace it")
    }
    m.foreach(validateKeys(_, keys, "overwriteTable"))
    if (txn.exists(t => m.exists(_.txns.get(t._1).exists(_ >= t._2)))) return
    // relayout (REPLACE TABLE AS SELECT): the DECLARED layout replaces
    // the recorded one — bucket modulus, clustering, and Blooms all take
    // the caller's values, committed with the data in one version. The
    // default (INSERT OVERWRITE) keeps the table's recorded layout.
    val nb = if (relayout) buckets else m.map(_.buckets).getOrElse(buckets)
    val cluster =
      if (relayout) clusterBy else m.map(_.clusterCols).getOrElse(clusterBy)
    val base = if (relayout)
      m.map(_.copy(buckets = nb, clusterCols = cluster,
        bloomCols = bloomBy, bloomItems = bloomItems,
        fingerprint = fingerprint,
        deleteVectors = deleteVectors || eqDeletes, eqDeletes = eqDeletes,
        shredCols = shred))
    else m
    // IDENTITY assignment + GENERATED compute/validate for the
    // replacing rows; an overwrite does NOT reset the high-water —
    // freed values are never reissued (Delta's semantics)
    val rowsAssigned = applyDeclaredColumns(rows, m, tablePath)
    writeEpochAndCommit(spark, fs, tablePath, rowsAssigned, keys, nb, base,
      txn,
      dropBuckets = m.map(_.epochs.keySet).getOrElse(Set.empty),
      clusterCols = cluster, bloomCols = bloomBy, bloomN = bloomItems,
      opName = "overwrite", fpSeed = fingerprint,
      dvSeed = deleteVectors || eqDeletes, eqdSeed = eqDeletes,
      shredSeed = shred)
    gc(fs, dir)
  }

  /** CREATE TABLE: commit an EMPTY manifest carrying the declared
    * schema and layout (merge keys, bucket modulus, clustering, Bloom
    * columns) with no data files — the metadata-only table creation SQL
    * `CREATE TABLE ... USING graft` needs (Delta's create-then-write
    * shape). Every later write validates against and inherits this
    * recorded layout; reads of the empty table see zero rows of the
    * declared schema. Fails if the path already holds a committed
    * table; the manifest CAS makes a creation race single-winner.
    */
  def createTable(spark: SparkSession, tablePath: String,
                  schema: StructType, keys: Seq[String], buckets: Int = 64,
                  clusterBy: Seq[String] = Seq.empty,
                  bloomBy: Seq[String] = Seq.empty,
                  bloomItems: Long = DefaultBloomItems,
                  retainVersions: Int = KeepManifests,
                  retainMs: Long = 0L,
                  fingerprint: Boolean = false,
                  deleteVectors: Boolean = false,
                  eqDeletes: Boolean = false,
                  shred: Seq[ShredSpec] = Seq.empty): Unit = {
    require(keys.nonEmpty, "createTable requires at least one key column")
    validateShred(schema, shred, "createTable")
    identitySpecs(schema).foreach { case (c, (_, step)) =>
      import org.apache.spark.sql.types._
      val f = schema(schema.fieldIndex(c))
      require(f.dataType == LongType || f.dataType == IntegerType ||
          f.dataType == ShortType,
        s"createTable: identity column '$c' must be integral, got " +
          f.dataType.simpleString)
      require(step != 0L, s"createTable: identity column '$c' has step 0")
      val info = org.apache.spark.sql.catalyst.util.IdentityColumn
        .getIdentityInfo(f).get
      require(info.isAllowExplicitInsert,
        s"createTable: identity column '$c' is GENERATED ALWAYS — on a " +
          "keyed-upsert table every merge restates its keys, so " +
          "always-generated is unwritable; declare GENERATED BY DEFAULT " +
          "AS IDENTITY")
    }
    locally {
      val gens = generatedSpecs(schema)
      gens.foreach { case (c, g) =>
        val refs = scala.util.Try(
          spark.sessionState.sqlParser.parseExpression(g).collect {
            case a: org.apache.spark.sql.catalyst.analysis
              .UnresolvedAttribute => a.nameParts.head
          }).getOrElse(throw new IllegalArgumentException(
            s"createTable: generated column '$c' has an unparseable " +
              s"expression ($g)"))
        refs.foreach { r =>
          require(schema.fieldNames.exists(_.equalsIgnoreCase(r)),
            s"createTable: generated column '$c' references unknown " +
              s"column '$r'")
          require(!r.equalsIgnoreCase(c),
            s"createTable: generated column '$c' references itself")
          require(!gens.keys.exists(_.equalsIgnoreCase(r)),
            s"createTable: generated column '$c' references generated " +
              s"column '$r' — generation expressions must use stored " +
              "columns only")
        }
      }
    }
    val names = schema.fieldNames.toSet
    keys.foreach(k => require(names.contains(k),
      s"createTable: key column '$k' is not in the declared schema " +
        names.toSeq.sorted.mkString("(", ",", ")")))
    bloomBy.foreach { c =>
      val f = schema.fields.find(_.name == c)
      require(f.isDefined, s"createTable: bloomBy column '$c' is not in " +
        "the declared schema")
      require(bloomPutKind(f.get.dataType).isDefined,
        s"createTable: bloomBy column '$c' has unsupported type " +
          f.get.dataType.simpleString)
    }
    val fs = fsFor(spark, tablePath)
    val dir = new Path(tablePath)
    require(currentManifest(fs, dir).isEmpty,
      s"createTable: $tablePath already holds a committed graft table")
    fs.mkdirs(dir)
    val clean = stripSchemaIds(schema)
    // a creation race is single-winner: the loser conflicts
    commitLoop(tableTarget(fs, dir), "create", None)(_ => Some(
      s"createTable: a concurrent create committed $tablePath first — " +
        "re-run against the new table state"))(_ => Some(Manifest(1L,
      buckets, Map.empty, Map.empty,
      clean.json, keys, clusterBy, Map.empty, bloomBy, bloomItems,
      "create", System.currentTimeMillis(),
      math.max(KeepManifests, retainVersions), math.max(0L, retainMs),
      fingerprint,
      // an empty table trivially holds no NULL key, and every later
      // epoch writes through the enforcing path
      keysChecked = true,
      // born id-stamped: every epoch this table ever writes carries
      // field ids, so RENAME/DROP COLUMN are metadata-only from day one
      colIds = clean.fields.zipWithIndex
        .map { case (f, i) => f.name -> (i + 1L) }.toMap,
      nextColId = clean.fields.length + 1L,
      deleteVectors = deleteVectors || eqDeletes,
      eqDeletes = eqDeletes,
      shredCols = shred)))
  }

  /** Key-count bound under which a CoW rewrite's survivor anti-join
    * broadcasts the batch's key set instead of shuffle-joining it: the
    * survivor scan then pays NO Exchange and NO sort (guide §3.1), and
    * the build side stays ≤ ~30 MB framed. Batches past the bound keep
    * the sort-merge join (correct at any scale).
    */
  private val BroadcastKeyMax: Long = 1L << 20

  /** The changed keys as the survivor anti-join's build side. `total`
    * counts them with repeats, so the broadcast bound holds without a
    * `distinct` — an anti-join only tests membership, and a `distinct`
    * would cost the write one more shuffle job.
    */
  private def antiKeySide(inc: DataFrame, keys: Seq[String],
                          total: Long): DataFrame = {
    val kf = inc.select(keys.map(col): _*)
    if (total <= BroadcastKeyMax) broadcast(kf) else kf
  }

  /** A keyed write's input after [[stageKeyed]]: `rows` plans as one
    * leaf over the materialized rows, `counts` holds the exact row count
    * of every touched bucket, and `release` frees the rows.
    */
  private final case class Staging(rows: DataFrame, counts: Map[Int, Long],
                                   release: () => Unit)

  /** THE stager of a keyed write: ONE job under the `graft.touched`
    * label materializes the bucketed input as a local checkpoint and, in
    * the same pass, counts its rows per bucket. An empty batch touches
    * no bucket, and the exact counts feed the arms' caps and the
    * broadcast bound without a second pass (guide §1.2). Every later
    * query of the write — the duplicate-key guard, both merge-on-read
    * arms, the anti-join key side, the copy-on-write union and the epoch
    * write — plans over a flat scan of the staged rows instead of
    * re-analyzing and re-rendering the input's lineage at each AQE
    * re-plan; and because they all read the SAME rows, a
    * non-deterministic input is evaluated once (a lost block fails the
    * write, it never re-runs the input). The rows spill to disk like a
    * persist; the caller frees them through [[Staging.release]].
    */
  private def stageKeyed(bucketed: DataFrame): Staging = {
    val spark = bucketed.sparkSession
    val ord = bucketed.schema.fieldIndex(BucketCol)
    val (rows, parts, release) = labeled(spark, "graft.touched") {
      org.apache.spark.sql.GraftColumnShim.stageOnce(bucketed) { it =>
        val n = scala.collection.mutable.HashMap.empty[Int, Long]
        it.foreach { r =>
          val b = r.getInt(ord)
          n(b) = n.getOrElse(b, 0L) + 1L
        }
        n.toMap
      }
    }
    Staging(rows, parts.flatten.groupMapReduce(_._1)(_._2)(_ + _), release)
  }

  /** Stage a frame that several queries read ONCE, under `label`: one
    * job materializes it as a lineage-free leaf
    * ([[org.apache.spark.sql.GraftColumnShim.stageOnce]]) and counts its
    * rows in the same pass — only the rows whose boolean column `flag`
    * holds, when one is named. `use` gets the leaf and the count, and
    * the rows are released when it returns or throws. The keyed
    * stager ([[stageKeyed]]) counts per bucket instead.
    */
  private[sources] def withStaged[A](label: String, df: DataFrame,
                                     flag: Option[String] = None)(
      use: (DataFrame, Long) => A): A = {
    val ord = flag.fold(-1)(df.schema.fieldIndex)
    val (rows, counts, release) = labeled(df.sparkSession, label) {
      org.apache.spark.sql.GraftColumnShim.stageOnce(df) { it =>
        it.count(r => ord < 0 || (!r.isNullAt(ord) && r.getBoolean(ord)))
          .toLong
      }
    }
    try use(rows, counts.sum) finally release()
  }

  /** Whether `df`'s plan is free of non-deterministic expressions —
    * subqueries included (a subquery expression is deterministic only
    * when its plan is). A non-deterministic input read twice may yield
    * different rows each time.
    */
  private[sources] def deterministic(df: DataFrame): Boolean =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[
      org.apache.spark.sql.Row]].queryExecution.analyzed.deterministic

  /** Label the Spark jobs an engine phase submits (guide §1.5) so the
    * UI/profilers attribute them; thread-local, restores the caller's
    * description on exit. Zero semantic effect.
    */
  private[graft] def labeled[A](spark: SparkSession, label: String)(
      f: => A): A = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(label)
    try f finally sc.setJobDescription(prev)
  }

  /** Merge into several INDEPENDENT tables concurrently: each target keeps
    * its per-table single-writer contract (paths must be distinct), and
    * submitting from separate threads lets the scheduler interleave the
    * per-merge jobs across idle cores — a multi-table load round's wall
    * clock drops toward its slowest member instead of the sum. The commit
    * of each table remains individually atomic; there is NO cross-table
    * transaction (same as running them sequentially) — when the batch
    * must flip several tables together, use [[mergeGroup]].
    */
  def mergeAll(spark: SparkSession,
               merges: Seq[(String, DataFrame, Seq[String])],
               buckets: Int = 64): Unit = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    require(merges.map(_._1).distinct.size == merges.size,
      "mergeAll: table paths must be distinct (single-writer per table)")
    implicit val ec: ExecutionContext = ExecutionContext.global
    Await.result(
      Future.sequence(merges.map { case (path, df, keys) =>
        Future(merge(spark, path, df, keys, buckets))
      }), Duration.Inf)
    ()
  }

  // -------------------------------------------------------------------
  // Cross-table atomic commit (group manifests)
  // -------------------------------------------------------------------

  private val GroupPrefix = "_group-manifest-"

  /** A GROUP manifest pins every member table's full bucket→epoch state
    * in one JSON at the group root — so updating several tables commits
    * in ONE atomic rename, the missing piece [[mergeAll]] documents: the
    * reference's L1 load transactionally deletes customFields rows AND
    * upserts states in one txn (`state_load_processor_aurora.ts:39-113`),
    * and per-table manifests cannot reproduce that (a crash between the
    * two commits leaves readers a torn state). Member tables live under
    * `groupPath/<name>/` with the same immutable epoch layout; they have
    * NO per-table manifest — the group manifest IS their commit point,
    * so a crash after any number of staged member epochs publishes
    * nothing. The group txn ledger gives the whole multi-table batch
    * exactly-once semantics under at-least-once delivery (the crashed
    * batch is simply redelivered; keyed merges make the re-stage
    * idempotent). Single writer per group; the rename-CAS still fails a
    * racing committer loudly.
    */
  private case class GroupManifest(version: Long,
                                   tables: Map[String, Manifest],
                                   txns: Map[String, Long],
                                   op: String = "",
                                   opTs: Long = 0L)

  private def readGroupManifest(fs: FileSystem, v: Long,
                                p: Path): GroupManifest =
    cachedManifest(fs, v, p) {
      val node = readJsonFile(fs, p)
      val tables = scala.collection.mutable.Map.empty[String, Manifest]
      node.get("tables").fields().forEachRemaining { t =>
        tables(t.getKey) = manifestFromNode(t.getValue, v,
          s"${p.getParent}/${t.getKey} (group member)")
      }
      val txns = scala.collection.mutable.Map.empty[String, Long]
      Option(node.get("txns")).foreach(_.fields().forEachRemaining { t =>
        txns(t.getKey) = t.getValue.asLong()
      })
      GroupManifest(v, tables.toMap, txns.toMap,
        Option(node.get("op")).map(_.asText()).getOrElse(""),
        Option(node.get("ts")).map(_.asLong()).getOrElse(0L))
    }

  private def currentGroupManifest(fs: FileSystem,
                                   dir: Path): Option[GroupManifest] =
    manifestFiles(fs, dir, GroupPrefix).lastOption.map { case (v, p) =>
      readGroupManifest(fs, v, p)
    }

  private def commitGroupManifest(fs: FileSystem, dir: Path,
                                  g: GroupManifest): Unit = {
    val body = new StringBuilder()
      .append("{\"txns\":{")
      .append(g.txns.toSeq.sortBy(_._1).map { case (a, v) =>
        jsonStr(a) + ":" + v
      }.mkString(","))
      .append("},\"tables\":{")
      .append(g.tables.toSeq.sortBy(_._1).map { case (n, m) =>
        jsonStr(n) + ":" + manifestBody(m)
      }.mkString(","))
      .append("}")
      .append(if (g.op.nonEmpty)
        ",\"op\":" + jsonStr(g.op) + ",\"ts\":" + g.opTs else "")
      .append("}").toString()
    publishAtomically(fs, dir,
      new Path(dir, f"$GroupPrefix${g.version}%016d.json"), body)
  }

  /** MERGE into several member tables of one group and make ALL of them
    * visible in a single atomic commit — the cross-table transaction
    * [[mergeAll]] explicitly lacks. Each `(name, rows, keys)` member gets
    * [[merge]]'s keyed-replace semantics against its state pinned in the
    * current group manifest; the staged epochs publish together via one
    * group-manifest rename, so a crash at ANY earlier point leaves every
    * reader on the previous group version (no torn multi-table state —
    * the spec proves it by aborting between the two stages). `txn` gives
    * the whole batch exactly-once semantics across redeliveries, exactly
    * [[mergeAdditive]]'s ledger, at group scope. Member names become
    * directory names — path-safe tokens only.
    */
  def mergeGroup(spark: SparkSession, groupPath: String,
                 merges: Seq[(String, DataFrame, Seq[String])],
                 buckets: Int = 64,
                 txn: Option[(String, Long)] = None,
                 clusterBy: Map[String, Seq[String]] = Map.empty,
                 autoCompactEpochs: Int = AutoCompactEpochs,
                 autoSplitBytesPerBucket: Long = AutoSplitBytesPerBucket,
                 evolveSchema: Boolean = false,
                 bloomBy: Map[String, Seq[String]] = Map.empty,
                 bloomItems: Long = DefaultBloomItems,
                 // members that take the WRITE-ONLY equality-delete
                 // path (applies at member creation, like clusterBy):
                 // their batches land as overlay + doomed-key sidecar,
                 // never a bucket rewrite — the trickle-ingest shape
                 eqDeletes: Set[String] = Set.empty,
                 // DRAIN CADENCE (engine-level, so every write-only
                 // sink doesn't re-discover the read tax by hand): a
                 // write-only eq-delete loop never trips the read-path
                 // auto-drain, so with drainEvery = N every Nth
                 // txn-keyed batch (the streaming batch id) runs
                 // [[drainGroupPressure]] after its commit — members
                 // whose stacked overlay/eqd sidecars passed the
                 // bounds compact, keeping later point-reads' anti-
                 // join depth flat while the per-trigger write I/O
                 // stays ∝ the batch. 0 (default) = never; a replayed
                 // batch drains nothing (its commit was a no-op).
                 drainEvery: Int = 0,
                 drainOverlayBound: Int = 4,
                 drainEqdBound: Int = 4)
      : Unit = {
    require(drainEvery >= 0, "mergeGroup: drainEvery >= 0")
    require(merges.nonEmpty, "mergeGroup: at least one member merge")
    require(merges.map(_._1).distinct.size == merges.size,
      "mergeGroup: member names must be distinct")
    merges.foreach { case (n, _, _) =>
      require(n.matches("[A-Za-z0-9_\\-]+"),
        s"mergeGroup: member name '$n' must be a path-safe token") }
    val fs = fsFor(spark, groupPath)
    val dir = new Path(groupPath)
    val cur = currentGroupManifest(fs, dir)
    if (txn.exists(t => cur.exists(_.txns.get(t._1).exists(_ >= t._2))))
      return // replayed batch: already applied and committed
    val curTables = cur.map(_.tables).getOrElse(Map.empty)
    // only members this batch actually STAGED participate in conflict
    // detection and rebase below (an empty member batch stages nothing).
    // Members are INDEPENDENT (distinct dirs, the group CAS is the one
    // commit point), so their staging jobs overlap on idle cores (guide
    // §2.6 — mergeAll's shape): a trigger's wall drops toward its
    // slowest member instead of the sum of all members' staging jobs.
    val staged: Map[String, Manifest] = {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      implicit val ec: ExecutionContext = ExecutionContext.global
      val futs = merges.map { case (name, rows, keys) => Future {
        labeled(spark, s"graft.stage:$name") {
          // clusterBy, bloomBy and the eqDeletes seed apply at member
          // CREATION (like `buckets`): an existing member keeps its
          // recorded layout and policy
          keyedWrite(spark, KeyedWrite("mergeGroup", "mergeGroup",
            ToMember(s"$groupPath/$name", curTables.get(name)), keys,
            Some(rows), None, Replace(evolveSchema), buckets = buckets,
            clusterBy = clusterBy.getOrElse(name, Seq.empty),
            bloomBy = bloomBy.getOrElse(name, Seq.empty),
            bloomItems = bloomItems, dvSeed = eqDeletes.contains(name),
            eqdSeed = eqDeletes.contains(name))).map(name -> _)
        }
      } }
      futs.flatMap(Await.result(_, Duration.Inf)).toMap
    }
    // OPTIMISTIC group commit with rebase-and-retry (writeEpochAndCommit's
    // protocol lifted to group scope): losing the version CAS to a
    // concurrent group writer is fine as long as the winner touched only
    // OTHER members — our staged member states apply on top of its
    // commit unchanged. A touched member whose pinned state moved means
    // our stages were computed from stale survivors: fail loudly with the
    // protocol's ConcurrentModificationException, never publish them.
    // Full member SIGNATURE, not epoch pointers alone: a write-only
    // eq-delete commit appends overlays/eqds without moving any pointer,
    // and an epochs-only compare would let a raced rebase clobber it.
    def memberSig(m: Option[Manifest]) =
      m.map(x => (x.epochs, x.overlays, x.eqds))
    val committed = commitLoop(groupTarget(fs, dir), "mergeGroup", cur) {
      newCur =>
        val contested = staged.keys.filter(n =>
          memberSig(newCur.tables.get(n)) != memberSig(curTables.get(n)))
          .toSeq.sorted
        if (contested.isEmpty) None
        else Some(s"mergeGroup: concurrent writer rewrote contested " +
          s"members ${contested.mkString("{", ",", "}")} of $groupPath " +
          s"(version ${newCur.version}) — re-run against the new group " +
          "state")
    } { base =>
      // the winner may have BEEN this very batch (redelivered twice
      // concurrently): its ledger entry makes ours a replay
      if (txn.exists(t => base.exists(_.txns.get(t._1).exists(_ >= t._2))))
        None
      else Some(GroupManifest(0L,
        base.map(_.tables).getOrElse(Map.empty) ++ staged,
        base.map(_.txns).getOrElse(Map.empty) ++ txn))
    }
    if (committed.nonEmpty) {
      gcGroup(fs, dir)
      maybeAutoMaintainGroup(spark, fs, dir, groupPath, staged.keys.toSeq,
        autoSplitBytesPerBucket, autoCompactEpochs)
      if (drainEvery > 0 &&
          txn.exists(t => (t._2 % drainEvery) == (drainEvery - 1)))
        drainGroupPressure(spark, groupPath, drainOverlayBound,
          drainEqdBound)
    }
  }

  /** Read one member table of a group at the latest committed GROUP
    * version — both members of an L1-style load flip together or not at
    * all. An uncommitted group or unknown member fails loudly (there is
    * no schema to synthesize an empty relation from).
    */
  def readGroupTable(spark: SparkSession, groupPath: String,
                     name: String): DataFrame =
    scanPinned(spark, s"$groupPath/$name",
      currentMember(spark, groupPath, name, "readGroupTable"))

  /** Post-commit auto-maintenance for the members a group load touched
    * — the table tail's metadata-only rules at member scope: split
    * ([[wantsSplit]]), else compact on epoch count ([[wantsCompact]]) or
    * merge-on-read pressure ([[morPressure]]: write-only eq-delete
    * members stack overlays and eq-delete records WITHOUT moving base
    * pointers, so the epoch count alone would never drain them; the
    * member rewrite purges both). Advisory: a lost race never fails the
    * load that already committed (growth retries on the next load).
    */
  private def maybeAutoMaintainGroup(spark: SparkSession, fs: FileSystem,
                                     dir: Path, groupPath: String,
                                     touched: Seq[String],
                                     splitThreshold: Long,
                                     compactThreshold: Int): Unit =
    currentGroupManifest(fs, dir).foreach { g =>
      touched.foreach { name =>
        g.tables.get(name).foreach { m =>
          advisory {
            if (wantsSplit(m, splitThreshold))
              splitGroupBuckets(spark, groupPath, name, m.keyCols)
            else if (wantsCompact(m, compactThreshold) || morPressure(m))
              compactGroupTable(spark, groupPath, name)
          }
        }
      }
    }

  /** Committed member names of a group (empty when no group manifest is
    * committed yet) — the existence probe a streaming sink needs before
    * its first trigger touches the group.
    */
  def groupMembers(spark: SparkSession, groupPath: String): Seq[String] = {
    val fs = fsFor(spark, groupPath)
    currentGroupManifest(fs, new Path(groupPath))
      .map(_.tables.keys.toSeq.sorted).getOrElse(Seq.empty)
  }

  /** Resolve a group's current manifest and one member's state, failing
    * loudly on an uncommitted group or unknown member (shared by the
    * member lifecycle operations below).
    */
  private def requireMember(fs: FileSystem, groupPath: String, name: String,
                            op: String): (GroupManifest, Manifest) = {
    val cur = currentGroupManifest(fs, new Path(groupPath)).getOrElse(
      throw new IllegalArgumentException(
        s"$op: no committed group manifest at $groupPath"))
    val man = cur.tables.getOrElse(name,
      throw new IllegalArgumentException(
        s"$op: member '$name' not in group " +
          s"(members: ${cur.tables.keys.toSeq.sorted.mkString(", ")})"))
    (cur, man)
  }

  /** Publish `cur` with member `name` replaced by `upd` — a member
    * rewrite derived from ONE observed group version, so any lost race
    * conflicts.
    */
  private def commitMember(fs: FileSystem, dir: Path, op: String,
                           cur: GroupManifest, upd: Map[String, Manifest])
      : Unit = {
    val t = groupTarget(fs, dir)
    commitLoop(t, op, Some(cur))(lostRace(t, op, cur))(
      _ => Some(cur.copy(tables = cur.tables ++ upd)))
  }

  /** [[splitBuckets]] for one member of a group: double the member's
    * bucket modulus (same no-exchange `pmod` refinement) and commit the
    * next GROUP version — the other members' pinned states ride along
    * unchanged, so the split is atomic with respect to cross-member
    * reads exactly like a member merge. Growth operations thus have
    * full parity between standalone and group-member tables.
    */
  def splitGroupBuckets(spark: SparkSession, groupPath: String, name: String,
                        keys: Seq[String]): Unit = {
    val fs = fsFor(spark, groupPath)
    val dir = new Path(groupPath)
    val (cur, man) = requireMember(fs, groupPath, name, "splitGroupBuckets")
    val upd = splitEpochsUncommitted(spark, fs, s"$groupPath/$name", man, keys)
    commitMember(fs, dir, "splitGroupBuckets", cur, Map(name -> upd))
    gcGroup(fs, dir)
  }

  /** [[compact]] for one member of a group: rewrite the member's live
    * epochs into one and commit the next group version (the other
    * members ride along unchanged).
    */
  def compactGroupTable(spark: SparkSession, groupPath: String,
                        name: String): Unit = {
    val fs = fsFor(spark, groupPath)
    val dir = new Path(groupPath)
    val (cur, man) = requireMember(fs, groupPath, name, "compactGroupTable")
    val upd = compactEpochsUncommitted(spark, fs, s"$groupPath/$name", man)
    commitMember(fs, dir, "compactGroupTable", cur, Map(name -> upd))
    gcGroup(fs, dir)
  }

  /** STREAMING-CADENCE merge-on-read drain for a group: compact
    * exactly the members whose MoR pressure (stacked overlay epochs,
    * eq-delete sidecars, doomed keys) passed the given bounds. The
    * write-only eq-delete ingest path keeps per-trigger I/O ∝ the
    * batch, but every READ of a pressured member pays an anti-join
    * over the stacked sidecars — a sink that only writes never trips
    * the read-path auto-drain, so a trickle-CDC streaming loop calls
    * this every few triggers with bounds tighter than the global
    * auto-compaction thresholds (the drains already exist; this is
    * their cadence). Cost ∝ the pressured members' live data, zero
    * when nothing passed a bound. Races with a concurrent writer are
    * advisory (the next call drains).
    */
  def drainGroupPressure(spark: SparkSession, groupPath: String,
                         overlayBound: Int = 4, eqdBound: Int = 4,
                         doomedBound: Long = 100000L): Unit = {
    val fs = fsFor(spark, groupPath)
    val dir = new Path(groupPath)
    currentGroupManifest(fs, dir).foreach { g =>
      val pressured = g.tables.filter { case (_, m) =>
        val overlayEntries = m.overlays.valuesIterator.map(_.size).sum
        val eqdEntries = m.eqds.valuesIterator.map(_.size).sum
        val doomed = m.eqds.valuesIterator
          .flatMap(_.iterator.map(_.n)).sum
        overlayEntries >= overlayBound || eqdEntries >= eqdBound ||
          doomed >= doomedBound
      }
      if (pressured.isEmpty) return
      // members are independent directories: their compaction REWRITES
      // run concurrently (mergeGroup's staging shape — wall drops toward
      // the slowest member), and the results publish in ONE group commit
      // instead of one version bump per member. Races with a concurrent
      // writer stay advisory (drop the drain; the next cadence retries).
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      implicit val ec: ExecutionContext = ExecutionContext.global
      val futs = pressured.toSeq.map { case (name, m) => Future {
        labeled(spark, s"graft.drain:$name") {
          try Some(name ->
            compactEpochsUncommitted(spark, fs, s"$groupPath/$name", m))
          catch { case _: java.io.IOException => None }
        }
      } }
      val staged = futs.flatMap(Await.result(_, Duration.Inf))
      if (staged.isEmpty) return
      try {
        commitMember(fs, dir, "drainGroupPressure", g, staged.toMap)
        gcGroup(fs, dir)
      } catch {
        case _: java.util.ConcurrentModificationException => ()
      }
    }
  }

  /** Time travel for a group member: read it AS OF a retained committed
    * GROUP version — the pin is group-wide, so reading several members
    * at the same version yields the mutually-consistent state that
    * version's single commit published (the whole point of the group:
    * states and customFields from the SAME L1 transaction). Epoch
    * immutability + [[KeepManifests]] retention make the pin stable
    * across newer commits; an aged-out version fails loudly with the
    * readable range.
    */
  def readGroupTableVersion(spark: SparkSession, groupPath: String,
                            name: String, version: Long): DataFrame =
    scanPinned(spark, s"$groupPath/$name",
      pinGroupMember(spark, groupPath, name, Some(version), None).get)

  /** Change feed for a group member between two retained GROUP versions
    * ([[changeFeed]] at group scope): because the pin is group-wide,
    * diffing two members over the SAME version pair yields changes from
    * the same transactions — an incremental consumer of an L1 group
    * never sees states-diff from one load beside fields-diff from
    * another.
    */
  def changeFeedGroup(spark: SparkSession, groupPath: String, name: String,
                      fromVersion: Long, toVersion: Long,
                      keys: Seq[String],
                      compareCols: Seq[String]): DataFrame = {
    def memberAt(v: Long): Manifest =
      pinGroupMember(spark, groupPath, name, Some(v), None).get
    // same bucket-pruned, fingerprint-paired core as the table feed —
    // a member diff reads changed buckets, never the member table
    diffManifests(spark, s"$groupPath/$name",
      memberAt(fromVersion), memberAt(toVersion), keys, compareCols)
  }

  /** Group-scope gc: keep the last [[KeepManifests]] group manifests
    * (group versions retire as a unit); per member, reclaim epochs no
    * kept manifest references (age-guarded like [[gc]]), plus aged
    * staging files at the group root.
    */
  private def gcGroup(fs: FileSystem, dir: Path,
                      orphanRetentionMs: Long = OrphanRetentionMs): Unit = {
    val manifests = manifestFiles(fs, dir, GroupPrefix)
    if (manifests.isEmpty) return
    val (drop, keep) =
      manifests.splitAt(math.max(0, manifests.size - KeepManifests))
    drop.foreach { case (_, p) => fs.delete(p, false) }
    val keptManifests = keep.map { case (v, p) =>
      readGroupManifest(fs, v, p).tables }
    val now = System.currentTimeMillis()
    // member candidates come from the group root's DIRECTORY LISTING, not
    // from kept manifests: a crash during a member's first-ever staged
    // load leaves an epoch under a directory NO committed manifest names
    // — deriving members from manifests would leak those orphans forever
    // (table-level gc sweeps by listing for the same reason). A directory
    // that is not a member at all simply contains no e-* children.
    val members = fs.listStatus(dir).toSeq
      .filter(_.isDirectory).map(_.getPath.getName)
    members.foreach { name =>
      // base pointers AND merge-on-read overlay epochs are referenced
      // (an overlay-only sweep would reap live eq-delete batches)
      val referenced = keptManifests.flatMap(_.get(name))
        .flatMap(m => m.epochs.values ++ m.overlays.values.flatten).toSet
      val tdir = new Path(dir, name)
      if (fs.exists(tdir)) fs.listStatus(tdir).foreach { st =>
        val n = st.getPath.getName
        if (st.isDirectory && n.startsWith("e-") && !referenced.contains(n) &&
            now - st.getModificationTime > orphanRetentionMs)
          fs.delete(st.getPath, true)
      }
      // member eq-delete sidecars: reclaim the ones no kept group
      // version references (purged by compaction), age-guarded for
      // mid-stage writers
      val referencedEqds = keptManifests.flatMap(_.get(name))
        .flatMap(_.eqds.valuesIterator.flatMap(_.iterator.map(_.sidecar)))
        .toSet
      val eqDir = new Path(tdir, EqDirName)
      if (fs.exists(eqDir)) fs.listStatus(eqDir).foreach { st =>
        if (!referencedEqds.contains(st.getPath.getName) &&
            now - st.getModificationTime > orphanRetentionMs)
          fs.delete(st.getPath, true)
      }
    }
    fs.listStatus(dir).foreach { st =>
      val n = st.getPath.getName
      if (!st.isDirectory && n.startsWith(".tmp-manifest-") &&
          now - st.getModificationTime > orphanRetentionMs)
        fs.delete(st.getPath, false)
    }
  }

  /** Test/inspection hook: a group member's current bucket modulus. */
  private[graft] def groupMemberBuckets(spark: SparkSession,
                                        groupPath: String,
                                        name: String): Int =
    requireMember(fsFor(spark, groupPath), groupPath, name,
      "groupMemberBuckets")._2.buckets

  /** Test hook: group gc with zero retention (immediate reclamation). */
  private[graft] def gcGroupNow(spark: SparkSession, groupPath: String): Unit =
    gcGroup(fsFor(spark, groupPath), new Path(groupPath),
      orphanRetentionMs = 0L)

  /** Test hook: stage a member epoch WITHOUT the group commit — the
    * "crashed between the two writes" interleaving the atomicity spec
    * must prove invisible (no deterministic way to abort mergeGroup
    * mid-flight from outside).
    */
  private[graft] def stageGroupMemberForTest(spark: SparkSession,
                                             groupPath: String, name: String,
                                             rows: DataFrame,
                                             keys: Seq[String],
                                             buckets: Int): Unit = {
    val cur = currentGroupManifest(fsFor(spark, groupPath), new Path(groupPath))
    keyedWrite(spark, KeyedWrite("mergeGroup", "mergeGroup",
      ToMember(s"$groupPath/$name", cur.flatMap(_.tables.get(name))), keys,
      Some(rows), None, Replace(), buckets = buckets))
    ()
  }

  /** The reference's one-txn L1 shape end-to-end
    * (`state_load_processor_aurora.ts:39-113`): upsert work-item states
    * AND replace their custom-field rows — deduped inline on
    * (workItemId, name, value), exactly [[loadCustomFields]] — in ONE
    * atomic cross-table commit.
    */
  def loadStatesWithCustomFields(spark: SparkSession, groupPath: String,
                                 states: DataFrame, stateKeys: Seq[String],
                                 customFields: DataFrame,
                                 txn: Option[(String, Long)] = None): Unit =
    mergeGroup(spark, groupPath, Seq(
      ("states", states, stateKeys),
      ("customFields",
        customFields.dropDuplicates("workItemId", "name", "value"),
        Seq("workItemId"))), txn = txn)

  /** Version-guarded MERGE for out-of-order at-least-once delivery: like
    * [[merge]], but a matched row is replaced ONLY when the incoming
    * version is strictly newer — a stale batch replayed AFTER a newer
    * merge (reordered SQS redelivery, a retried extract round) leaves the
    * stored row untouched instead of regressing it. Ties keep the stored
    * row, so replaying the exact batch that produced a row is a no-op.
    * Same single-writer contract, bucket pruning, and atomic manifest
    * commit as [[merge]].
    */
  def mergeVersioned(spark: SparkSession, tablePath: String,
                     incoming: DataFrame, keys: Seq[String], versionCol: String,
                     buckets: Int = 64,
                     autoCompactEpochs: Int = AutoCompactEpochs,
                     autoSplitBytesPerBucket: Long = AutoSplitBytesPerBucket): Unit = {
    require(incoming.columns.contains(versionCol),
      s"mergeVersioned: incoming frame lacks version column '$versionCol'")
    keyedWrite(spark, KeyedWrite("mergeVersioned", "mergeVersioned",
      ToTable(tablePath), keys, Some(incoming), None, Newest(versionCol),
      buckets = buckets, splitBytes = autoSplitBytesPerBucket,
      compactEpochs = autoCompactEpochs))
    ()
  }

  /** Newest row per key: window on the bucketed key set ordered by version
    * desc (then writer priority: stored before incoming on ties). The
    * window partitions on the full key — high cardinality, no skew risk
    * beyond what the keys already carry.
    */
  private def newestPerKey(rows: DataFrame, keys: Seq[String],
                           versionCol: String, pri: Option[String]): DataFrame = {
    // final tie-break on a stable content hash: two DISTINCT same-version
    // incoming rows for one key must resolve to the same survivor on
    // every run and every task retry, not whichever row the shuffle
    // presents first
    val contentCols = rows.columns.filterNot(pri.contains).sorted.map(col)
    val order = (col(versionCol).desc +: pri.map(col(_).asc).toSeq) :+
      xxhash64(contentCols.toIndexedSeq: _*).asc
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*).orderBy(order: _*)
    rows.withColumn("__vrn", row_number().over(w))
      .filter(col("__vrn") === 1)
      .drop("__vrn").drop(pri.toSeq: _*)
  }

  /** Per-file CONTENT fingerprints of a just-written epoch: an
    * order-insensitive 128-bit identity of each file's row multiset —
    * `bit_xor` of two independently-derived 64-bit row hashes, prefixed
    * with a schema signature so files of different column sets can
    * never match. Two files share a fingerprint iff they hold the same
    * rows (up to the 2^-128-class xor-collision bound, the same
    * guarantee class as content-addressed storage; xor's duplicate-row
    * blind spot is closed by the key constraint — a keyed file's rows
    * are pairwise distinct). One distributed pass over the TOUCHED
    * epoch (never the corpus), opt-in via `fingerprint=true` at table
    * creation, recorded per file as `FileStat.fp` — what lets
    * [[changeFeed]] skip file PAIRS inside a changed bucket (Delta CDF
    * records change files at write time; this derives them at diff
    * time from identity instead).
    */
  private def fileFingerprints(spark: SparkSession, epochRoot: String,
                               schema: StructType,
                               ids: Map[String, Long])
      : Map[(Int, String), String] = {
    val df = spark.read.schema(schema.add(BucketCol, IntegerType))
      .parquet(epochRoot)
    // fingerprint identity is SCHEMA-SIGNED; the signature (and the fold
    // order) uses the stable field ids, so a RENAME does not orphan every
    // recorded fingerprint — pairings keep dropping unchanged files
    // across the rename boundary
    val dataCols = df.columns.filterNot(_ == BucketCol)
      .sortBy(c => ids.get(c).map(_.toString).getOrElse(c))
    def sigName(c: String): String =
      ids.get(c).map(id => s"#$id").getOrElse(c)
    val sig = java.util.UUID.nameUUIDFromBytes(
      dataCols.map(c => sigName(c) + ":" + df.schema(c).dataType.catalogString)
        .mkString("|").getBytes(StandardCharsets.UTF_8)).toString.take(8)
    val cols = dataCols.map(col).toIndexedSeq
    labeled(spark, "graft.fingerprint") {
      df.withColumn("__fpf", input_file_name())
        .withColumn("__h1", xxhash64(cols: _*))
        .withColumn("__h2", xxhash64((lit("graft-fp2") +: cols): _*))
        .groupBy(col(BucketCol), col("__fpf"))
        .agg(expr("bit_xor(__h1)").as("x1"), expr("bit_xor(__h2)").as("x2"),
          count(lit(1)).as("n"))
        .collect()
    }
      .map { r =>
        val name = r.getAs[String]("__fpf").split('/').last
        (r.getAs[Number](BucketCol).intValue(), name) ->
          f"$sig-${r.getAs[Long]("x1")}%016x-${r.getAs[Long]("x2")}%016x-${r.getAs[Long]("n")}"
      }.toMap
  }

  /** The ONE epoch writer: every data-file write of the protocol — CoW
    * rewrite, merge-on-read overlay, group-member stage, compaction,
    * split — lands in a fresh `e-<uuid>` directory through here.
    * `data` already carries [[BucketCol]]; `lay` supplies the layout —
    * cluster and shred columns, Bloom columns and sizing, the
    * fingerprint policy, and the schema and field ids that type the
    * fingerprint and Bloom passes — from the base manifest or, for a
    * keyed rewrite, its staged target. The write clusters by bucket
    * first (each bucket's rows land wholly in one task → one file per
    * bucket, small-file hygiene); with cluster columns a LOCAL sort (no
    * extra exchange) orders each bucket's rows so maxRecordsPerFile
    * splits land range-disjoint files — what makes the per-file stats
    * skip. `repartition = false` keeps the source's partitioning
    * ([[splitBuckets]]' pmod refinement deliberately has no exchange).
    * Then, over the written files only: per-file footer stats, content
    * fingerprints when the layout records them, and the Bloom/shred
    * sidecar. Nothing is visible until a manifest commit names the
    * epoch. Returns (epoch, written buckets, per-file stats).
    */
  private def stageEpoch(spark: SparkSession, fs: FileSystem, root: String,
                         data: DataFrame, lay: Manifest,
                         repartition: Boolean = true)
      : (String, Seq[Int], Map[Int, Seq[FileStat]]) = {
    val epoch = "e-" + UUID.randomUUID()
    val dir = s"$root/$epoch"
    val clustered = clusterSort(
      if (repartition) data.repartition(col(BucketCol)) else data,
      lay.clusterCols)
    labeled(spark, "graft.epoch-write") {
      // every epoch (re-)materializes the hidden shred columns: a
      // rewrite's schema-projected read dropped them, and they are a
      // pure function of the variant column
      withShredCols(clustered, lay.shredCols)
        .write.mode(SaveMode.ErrorIfExists).partitionBy(BucketCol)
        .parquet(dir)
    }
    val written = fs.listStatus(new Path(dir)).toSeq.map(_.getPath.getName)
      .filter(_.startsWith(BucketCol + "="))
      .map(_.stripPrefix(BucketCol + "=").toInt)
    val stats0 = collectFileStats(fs, new Path(dir),
      withColumnStats = lay.clusterCols.nonEmpty,
      priorityCols = lay.shredCols.map(shredColName).toSet)
    // content fingerprints (recorded at creation, like clusterCols):
    // one pass over the written epoch, O(written data)
    val stats =
      if (lay.fingerprint && written.nonEmpty) {
        val fps = fileFingerprints(spark, dir, lay.struct, lay.colIds)
        stats0.map { case (b, fss) =>
          b -> fss.map(f => f.copy(fp = fps.getOrElse((b, f.name), "")))
        }
      } else stats0
    if ((lay.bloomCols.nonEmpty || lay.shredCols.nonEmpty) && written.nonEmpty)
      writeBloomSidecar(spark, fs, dir, lay.bloomCols, lay.bloomItems,
        lay.struct, lay.shredCols)
    (epoch, written, stats)
  }

  /** Incoming rows made writable — the one preparation every incoming-
    * row writer applies before [[stageEpoch]]: the recorded CHECK
    * constraints fused into the write's own pass (a violating row fails
    * the statement before anything commits), field ids stamped (stray
    * ids from another table's read replaced), and the bucket column
    * derived under the NULL-key assertion of [[bucketExprChecked]].
    */
  private def prepareRows(rows: DataFrame, checks: Map[String, String],
                          colIds: Map[String, Long], keys: Seq[String],
                          buckets: Int, tablePath: String): DataFrame = {
    stampFrame(enforceChecks(rows, checks, tablePath), colIds)
      .withColumn(BucketCol, bucketExprChecked(keys, buckets))
  }

  /** A keyed rewrite's written epoch plus what the next manifest derives
    * from it. `target` is the state the write asserts, as a version-0
    * manifest without data: schema, merge keys, modulus, field ids,
    * constraints, the layout it wrote under and — for a table the write
    * creates — the policy seeds. [[assembleManifest]] folds it onto a
    * base.
    */
  private case class StagedRewrite(epoch: String, written: Seq[Int],
                                   stats: Map[Int, Seq[FileStat]],
                                   target: Manifest, dropBuckets: Set[Int],
                                   idSpec: Map[String, (Long, Long)],
                                   idExt: Map[String, Long],
                                   batchSk: Option[BatchColStats])

  /** Stage `rows` (bucket column recomputed from the keys) as a fresh
    * epoch over `prev`: derive the committed schema and field ids,
    * prepare the rows, write them through [[stageEpoch]], and take the
    * per-commit stats (HLL batch, identity extremes) from the written
    * files. The layout params only seed a table this write creates.
    */
  private def stageRewrite(spark: SparkSession, fs: FileSystem,
                           tablePath: String, rows: DataFrame,
                           keys: Seq[String], buckets: Int,
                           prev: Option[Manifest],
                           dropBuckets: Set[Int] = Set.empty,
                           clusterCols: Seq[String] = Seq.empty,
                           bloomCols: Seq[String] = Seq.empty,
                           bloomN: Long = DefaultBloomItems,
                           fpSeed: Boolean = false,
                           dvSeed: Boolean = false,
                           eqdSeed: Boolean = false,
                           shredSeed: Seq[ShredSpec] = Seq.empty)
      : StagedRewrite = {
    // CHECK-constraint guard fused into the epoch write's pass: every
    // row this commit stores (incoming AND rewritten survivors — the
    // latter passed when first written, so re-proving them is free on
    // the happy path) streams through the recorded predicates
    val effChecks = prev.map(_.checks).getOrElse(Map.empty)
    // schema-resident column METADATA (DEFAULT-value keys) carries
    // forward from the recorded schema by name: the written frame's
    // schema comes from the statement's source, which never knows the
    // table's declared defaults — without this, one merge would erase
    // them
    val declaredMeta: Map[String, org.apache.spark.sql.types.Metadata] =
      prev.map(_.struct.fields
        .filter(_.metadata != org.apache.spark.sql.types.Metadata.empty)
        .map(f => f.name -> f.metadata).toMap).getOrElse(Map.empty)
    // a commit must never NARROW declared nullability: the written
    // frame's non-nullness is provenance noise (an identity assignment
    // or a Seq-derived source), while the DECLARED nullable admits the
    // NULL sentinels and old epochs' stored NULLs
    val declaredNullable: Set[String] =
      prev.map(_.struct.fields.filter(_.nullable).map(_.name).toSet)
        .getOrElse(Set.empty)
    // FIELD-ID stamping (see [[Manifest.colIds]]): an existing table
    // carries each column's id forward by name and assigns FRESH ids to
    // evolved columns; a table this commit creates is stamped from
    // scratch.
    val cleanSchema0 = stripSchemaIds(rows.schema)
    // the COMMITTED schema keeps the DECLARED column order (evolved
    // columns append): the written frame's order is provenance noise —
    // a by-name INSERT or a reordered API source must not flip the
    // table's SQL column order (files read by name/field-id, so
    // physical order never matters)
    val declaredOrder: Map[String, Int] =
      prev.map(_.struct.fieldNames.zipWithIndex.toMap).getOrElse(Map.empty)
    val orderedFields =
      if (declaredOrder.isEmpty) cleanSchema0.fields
      else cleanSchema0.fields.sortBy(f =>
        declaredOrder.getOrElse(f.name, Int.MaxValue))
    val cleanSchema =
      if (declaredMeta.isEmpty && declaredNullable.isEmpty &&
          declaredOrder.isEmpty) cleanSchema0
      else StructType(orderedFields.map { f0 =>
        val f = if (declaredNullable.contains(f0.name)) f0.copy(nullable = true)
                else f0
        declaredMeta.get(f.name).fold(f)(m => f.copy(metadata = m))
      })
    var nextColId = prev.fold(1L)(_.nextColId)
    val colIds = cleanSchema.fields.map { f =>
      f.name -> prev.flatMap(_.colIds.get(f.name))
        .getOrElse { val v = nextColId; nextColId += 1; v }
    }.toMap
    // an existing table's recorded layout always applies (shred
    // declarations and fingerprinting included); the params only seed
    // table creation, like `buckets`
    val target = Manifest(0L, buckets, Map.empty,
      schema = cleanSchema.json, keyCols = keys,
      clusterCols = prev.map(_.clusterCols).filter(_.nonEmpty)
        .getOrElse(clusterCols),
      bloomCols = prev.map(_.bloomCols).filter(_.nonEmpty)
        .getOrElse(bloomCols),
      bloomItems = prev.filter(_.bloomCols.nonEmpty).map(_.bloomItems)
        .getOrElse(bloomN),
      fingerprint = prev.map(_.fingerprint).getOrElse(fpSeed),
      colIds = colIds, nextColId = nextColId, deleteVectors = dvSeed,
      checks = effChecks, eqDeletes = eqdSeed,
      shredCols = prev.map(_.shredCols).getOrElse(shredSeed))
    val (epoch, written, stats) = stageEpoch(spark, fs, tablePath,
      prepareRows(rows, effChecks, colIds, keys, buckets, tablePath), target)
    // incremental stats: ONE narrow scan of the freshly-written epoch
    // files (never the corpus, never a recompute of the input plan)
    // yields this commit's per-column HLL batch; the union happens
    // driver-side against whatever sketch the (possibly rebased) base
    // manifest carries
    val batchSk =
      if (prev.exists(_.colSketches.nonEmpty) && written.nonEmpty)
        batchColStats(spark.read.parquet(s"$tablePath/$epoch"),
          prev.get.colSketches.keySet)
      else None
    // identity high-water: one narrow agg over the written files moves
    // it past both assigned and explicit values
    val idSpec = identitySpecs(cleanSchema)
    val idExt =
      if (idSpec.nonEmpty && written.nonEmpty)
        identityExtremes(spark, s"$tablePath/$epoch", idSpec)
      else Map.empty[String, Long]
    StagedRewrite(epoch, written, stats, target, dropBuckets, idSpec, idExt,
      batchSk)
  }

  /** The next manifest of a staged rewrite over `base` — the one
    * assembly behind every copy-on-write table commit (once per CAS
    * attempt) and every group member's copy-on-write stage
    * ([[rewriteStage]]). Written buckets point at the new epoch and
    * take its fresh stats; dropped buckets lose pointer and stats; both
    * shed their merge-on-read overlays and equality deletes (the
    * survivor read folded the one in and filtered the other out).
    * Everything else — txn ledger, retention and fingerprint policy,
    * ANALYZE statistics, tags, branch fork version, deletion-vector and
    * equality-delete policy — rides forward from the base; a table the
    * write creates starts from the staged target.
    */
  private def assembleManifest(base: Option[Manifest], s: StagedRewrite,
                               txn: Option[(String, Long)],
                               opName: String): Manifest = {
    val t = s.target
    val b = base.getOrElse(t)
    // dropBuckets clears stale pointers for touched buckets the write
    // left EMPTY (a delete can empty a bucket; the partitioned write
    // emits no directory for it, so without the drop the old epoch —
    // still holding the deleted rows — would stay visible)
    val rewritten = s.dropBuckets ++ s.written
    // every row THIS commit wrote passed bucketExprChecked's
    // AssertNotNull, so the NULL-key certificate holds iff the base
    // already carried it or no pre-existing epoch pointer survives
    // (creation / truncating overwrite / delete-all rewrite)
    val checked = base.forall(_.keysChecked) ||
      (b.epochs.keySet -- rewritten).isEmpty
    withRefreshedStats(b.copy(version = b.version + 1, buckets = t.buckets,
      epochs = (b.epochs -- s.dropBuckets) ++ s.written.map(_ -> s.epoch),
      overlays = b.overlays -- rewritten, eqds = b.eqds -- rewritten,
      stats = (b.stats -- s.dropBuckets) ++ s.stats,
      // the new txn (if any) rides the SAME atomic rename as the data
      // it applied
      txns = b.txns ++ txn,
      // the committed schema is the written frame's (sans the physical
      // bucket column) — on an evolving merge already the union schema,
      // so schema and data commit in the same atomic rename
      schema = t.schema, keyCols = t.keyCols,
      // layout is recorded at creation; a CREATION race adopts the
      // winner's (advisory layout, not a conflict)
      clusterCols = if (b.clusterCols.nonEmpty) b.clusterCols
                    else t.clusterCols,
      bloomCols = if (b.bloomCols.nonEmpty) b.bloomCols else t.bloomCols,
      bloomItems = if (b.bloomCols.nonEmpty) b.bloomItems else t.bloomItems,
      // the epoch was written WITH the target's hidden shred columns
      shredCols = t.shredCols,
      op = opName, opTs = System.currentTimeMillis(), keysChecked = checked,
      // a rebase over a non-conflicting commit keeps the id space
      // monotone (a schema-moving concurrent commit conflicts, so ids
      // can never collide)
      colIds = t.colIds, nextColId = math.max(t.nextColId, b.nextColId),
      // the batch was proven under the target's constraint set; the
      // CAS loop conflicts when the set moved underneath the write
      checks = t.checks,
      idhw = advanceIdhw(b.idhw, s.idSpec, s.idExt)), s.batchSk)
  }

  /** Write `rows` (bucket column recomputed from the keys) into a fresh
    * epoch directory ([[stageRewrite]]), then commit the next manifest
    * version ([[assembleManifest]]) pointing the written buckets at it.
    * Nothing is visible until the commit rename.
    *
    * OPTIMISTIC CONCURRENCY (Delta's commit protocol, scaled down): a
    * lost version race does not fail the write outright. The commit
    * loop ([[commitLoop]]) re-reads the current manifest and REBASES —
    * it re-assembles the staged epoch on top of the winner's manifest —
    * provided nothing [[contested]] checks moved since `prev` was read
    * (ITS buckets, written or dropped; schema, modulus, merge keys,
    * CHECK constraints, identity high-water): disjoint-bucket writers
    * then all succeed, serialized by the version CAS. A bucket this write
    * READ-MODIFIED that the winner also rewrote means the survivors were
    * computed from stale data — that is a genuine data conflict and
    * fails loudly with `ConcurrentModificationException` (the caller
    * re-runs its merge against the new state). The age guard in [[gc]]
    * keeps the loser's staged epoch alive through this window.
    */
  private def writeEpochAndCommit(spark: SparkSession, fs: FileSystem,
                                  tablePath: String, rows: DataFrame,
                                  keys: Seq[String], buckets: Int,
                                  prev: Option[Manifest],
                                  txn: Option[(String, Long)] = None,
                                  dropBuckets: Set[Int] = Set.empty,
                                  clusterCols: Seq[String] = Seq.empty,
                                  bloomCols: Seq[String] = Seq.empty,
                                  bloomN: Long = DefaultBloomItems,
                                  opName: String = "merge",
                                  fpSeed: Boolean = false,
                                  dvSeed: Boolean = false,
                                  eqdSeed: Boolean = false,
                                  ref: Option[String] = None,
                                  shredSeed: Seq[ShredSpec] = Seq.empty)
      : Unit = {
    val s = stageRewrite(spark, fs, tablePath, rows, keys, buckets, prev,
      dropBuckets, clusterCols, bloomCols, bloomN, fpSeed, dvSeed, eqdSeed,
      shredSeed)
    publish(fs, ToTable(tablePath, ref), opName, prev,
      rewriteStage(s, prev, keys, txn, opName))
    ()
  }

  /** The commit of a staged rewrite over `prev`: the step re-assembles it
    * on whichever base wins ([[assembleManifest]]); the rule rebases
    * unless [[contested]] names the modulus, the schema, the merge keys,
    * the CHECK set, the identity high-water (when values were reserved)
    * or a written or dropped bucket that moved since `prev`.
    */
  private def rewriteStage(s: StagedRewrite, prev: Option[Manifest],
                           keys: Seq[String], txn: Option[(String, Long)],
                           op: String): Staged = {
    val t = s.target
    Staged(base => Some(assembleManifest(base, s, txn, op)),
      contested(_, prev, t.buckets, prev.fold(t.schema)(_.schema), keys,
        s.written.toSet ++ s.dropBuckets, Some(t.checks),
        if (s.idSpec.isEmpty) None
        else Some(prev.map(_.idhw).getOrElse(Map.empty))))
  }

  /** SCAN-TO-COMMIT conflict guard for row-level statements (SQL
    * MERGE/UPDATE/DELETE): the statement's changeset was derived from a
    * scan PINNED at `expectedVersion`, but the changeset is applied
    * against the manifest read at commit time — a commit landing during
    * the statement's (long) read/join phase would otherwise be silently
    * clobbered per overlapping key (lost update / write skew). Applies
    * the data writes' rebase rule ([[contested]]) to the scanned
    * version: the apply may proceed iff no TOUCHED bucket's signature
    * moved since the scanned version and neither the schema nor the
    * bucket modulus changed — anything else raises the protocol's
    * `ConcurrentModificationException` ("re-run against the new table
    * state"). A scanned version that already aged
    * out of retention cannot be re-validated and conservatively
    * conflicts. Together with the commit CAS (which re-validates from
    * the version read HERE forward) this covers the whole scan→commit
    * window.
    */
  private def requireScanCurrent(fs: FileSystem, tablePath: String,
                                 man: Manifest,
                                 expectedVersion: Option[Long],
                                 touched: Seq[Int], op: String,
                                 ref: Option[String] = None): Unit =
    expectedVersion.filter(_ != man.version).foreach { ev =>
      val scanned = refManifestFiles(fs, new Path(tablePath), ref)
        .find(_._1 == ev)
        .map { case (v, p) => readManifest(fs, v, p) }
        .getOrElse(throw new java.util.ConcurrentModificationException(
          s"$op: $tablePath moved from the statement's scanned version " +
            s"$ev to ${man.version} and version $ev is no longer " +
            "retained — the statement's reads cannot be re-validated; " +
            "re-run against the new table state"))
      contested(man, Some(scanned), scanned.buckets, scanned.schema,
        Seq.empty, touched, None, None).foreach { why =>
        throw new java.util.ConcurrentModificationException(
          s"$op: a concurrent writer committed to $tablePath between the " +
            s"statement's scan (version $ev) and its write (version " +
            s"${man.version}: $why) — re-run against the new table state")
      }
    }

  /** Keyed DELETE — `MERGE INTO target USING keys ON keys WHEN MATCHED
    * DELETE` (the reference's deleted-item reconciliation writes back
    * exactly this: items the source no longer returns are purged from
    * the state store, ref `delete_work_items.ts` semantics). Rows whose
    * key appears in `keysToDelete` are removed; everything else
    * survives. Same manifest-pruned I/O as [[merge]] — only buckets
    * containing a deleted key are read and rewritten — and the same
    * atomic commit; a bucket emptied entirely by the delete has its
    * epoch pointer dropped from the new manifest. Deleting keys that
    * are absent (or from an empty/missing table) is a no-op. Single
    * writer per table, as ever.
    */
  def delete(spark: SparkSession, tablePath: String, keysToDelete: DataFrame,
             keys: Seq[String],
             autoCompactEpochs: Int = AutoCompactEpochs,
             expectedVersion: Option[Long] = None,
             ref: Option[String] = None): Unit = {
    // a delete only shrinks buckets: no split
    keyedWrite(spark, KeyedWrite("delete", "delete", ToTable(tablePath, ref),
      keys, None, Some(keysToDelete), Replace(),
      expectedVersion = expectedVersion, splitBytes = 0L,
      compactEpochs = autoCompactEpochs))
    ()
  }

  /** Apply a MIXED changeset — upserts and deletes — in ONE manifest
    * commit. This is the storage half of SQL row-level operations
    * (MERGE INTO / UPDATE / DELETE planned through Spark's delta-based
    * DSv2 rewrite, [[GraftSqlTable]]): Spark hands the connector only
    * the CHANGED rows, and the whole changeset must become visible
    * atomically — a MERGE whose updates landed but whose deletes
    * didn't is not a state any reader may observe. Cost mirrors
    * [[merge]]+[[delete]]: only buckets holding a changed key are
    * rewritten, everything else is untouched metadata, so a 100 TB
    * table pays ∝ |changeset| + |touched buckets|, never ∝ |table|.
    * `upserts` replace their keys; `deleteKeys` remove theirs; a key in
    * both resolves to the upsert (the delete names the row's PRIOR
    * identity — how an UPDATE that rewrites a key column travels: the
    * old key dies, the new row lands, same commit).
    */
  def applyChanges(spark: SparkSession, tablePath: String,
                   upserts: DataFrame, deleteKeys: DataFrame,
                   keys: Seq[String], opName: String = "rowlevel",
                   autoCompactEpochs: Int = AutoCompactEpochs,
                   expectedVersion: Option[Long] = None,
                   ref: Option[String] = None,
                   // exactly-once anchor (the mergeAdditive contract):
                   // a changeset at or below the app's recorded version
                   // is skipped whole; the ledger entry rides the same
                   // atomic commit as the changes it describes
                   txn: Option[(String, Long)] = None): Unit = {
    // IDENTITY assignment precedes bucketing (a MERGE's NOT-MATCHED
    // INSERT action may supply NULL for an identity column); GENERATED
    // columns are RECOMPUTED, not validated — an UPDATE that moved a
    // source column carries the OLD generated value along, which is
    // derivation input gone stale, never a user assertion (Delta's
    // row-level semantics; the INSERT path keeps validating). The
    // unique-key guard runs over the staged upserts: SQL's cardinality
    // check only guards MATCHED rows.
    keyedWrite(spark, KeyedWrite("applyChanges", opName,
      ToTable(tablePath, ref), keys, Some(upserts), Some(deleteKeys),
      Replace(), txn = txn, expectedVersion = expectedVersion,
      unique = Some(opName), declared = Some(true), creates = false,
      compactEpochs = autoCompactEpochs))
    ()
  }

  /** Compact a merge-maintained table: rewrite every live bucket into ONE
    * fresh epoch (one file per bucket, same clustered write as a merge)
    * and commit it as the next manifest version. Incremental merges
    * fragment the table over time — each round leaves touched buckets in
    * a new epoch, so a long-lived table accumulates one epoch directory
    * per merge and readers open many small files per scan (the classic
    * lakehouse small-files problem; this is Delta's OPTIMIZE / Iceberg's
    * rewrite_data_files, scaled to the manifest protocol). Row content is
    * untouched — only the physical layout changes; the bucket column is
    * carried through the rewrite, so no key knowledge is needed. Same
    * single-writer contract as [[merge]]; readers stay safe throughout
    * (the fragmented epochs survive until [[KeepManifests]] later
    * commits age them out through gc).
    */
  def compact(spark: SparkSession, tablePath: String): Unit =
    compact(spark, tablePath, targetFileBytes = 0L)

  /** [[compact]] with BOUNDED OUTPUT FILES (Delta OPTIMIZE's ~1 GB
    * target): `targetFileBytes > 0` derives a `maxRecordsPerFile` cap
    * from the manifest's own stats — bytes-per-row over files that
    * recorded row counts — so a 100 TB table's compaction emits
    * ~target-sized, cluster-ordered files per bucket instead of one
    * monolith (a multi-GB single file per bucket makes every later
    * pruned read one task and every rewrite whole-bucket-sized). Purely
    * a layout knob: falls back to the session's cap when stats carry no
    * row counts (unclustered bytes-only stats, pre-stats manifests).
    */
  def compact(spark: SparkSession, tablePath: String,
              targetFileBytes: Long): Unit =
    optimizeTable(spark, tablePath, targetFileBytes, recluster = None,
      opName = "compact")

  /** CLUSTERING RETROFIT — Delta's `OPTIMIZE ... ZORDER BY` verb for
    * the manifest protocol: rewrite the table's live data under a NEW
    * cluster spec (plain columns for linear clustering, `zorder2:a,b` /
    * `zorderN:a,b,c` for multi-dimensional), record it in the manifest,
    * and collect full per-file column stats — so a table CREATED
    * unclustered (whose hash buckets span every column's full range and
    * therefore record bytes-only stats) gains min/max data skipping
    * after the fact, and an already-clustered table can CHANGE its
    * cluster columns as the workload shifts. Every later merge,
    * auto-compact and split inherits the new spec (they all read
    * `clusterCols` from the manifest). One atomic commit; losing the
    * version CAS to a concurrent merge raises the protocol's
    * `ConcurrentModificationException` — re-run against the new state.
    */
  def clusterTable(spark: SparkSession, tablePath: String,
                   clusterBy: Seq[String],
                   targetFileBytes: Long = 0L): Unit = {
    require(clusterBy.nonEmpty,
      "clusterTable: give at least one cluster column (plain name, " +
        "zorder2:a,b, or zorderN:a,b,c)")
    optimizeTable(spark, tablePath, targetFileBytes,
      recluster = Some(clusterBy), opName = "cluster")
  }

  /** Shared rewrite core of [[compact]] and [[clusterTable]]: one new
    * epoch holding every live row, cluster-sorted per bucket, with
    * fresh stats, committed as the next version.
    */
  private def optimizeTable(spark: SparkSession, tablePath: String,
                            targetFileBytes: Long,
                            recluster: Option[Seq[String]],
                            opName: String): Unit = {
    val fs = fsFor(spark, tablePath)
    val dir = new Path(tablePath)
    currentManifest(fs, dir).foreach { man0 =>
      recluster.foreach(validateClusterCols(man0, _))
      val man = recluster.fold(man0)(cols => man0.copy(clusterCols = cols))
      val prevCap = spark.conf.getOption("spark.sql.files.maxRecordsPerFile")
      val rowsPerFile: Option[Long] =
        if (targetFileBytes <= 0) None
        else {
          val counted = man.stats.values.flatten.filter(_.rows >= 0)
          val (b, r) = (counted.map(_.bytes).sum, counted.map(_.rows).sum)
          if (r <= 0) None
          else Some(math.max(1L, targetFileBytes / math.max(1L, b / r)))
        }
      try {
        rowsPerFile.foreach(n =>
          spark.conf.set("spark.sql.files.maxRecordsPerFile", n.toString))
        val upd = compactEpochsUncommitted(spark, fs, tablePath, man)
        val t = tableTarget(fs, dir)
        commitLoop(t, opName, Some(man))(lostRace(t, opName, man))(
          _ => Some(upd))
      } finally if (rowsPerFile.isDefined) prevCap match {
        case Some(v) => spark.conf.set("spark.sql.files.maxRecordsPerFile", v)
        case None => spark.conf.unset("spark.sql.files.maxRecordsPerFile")
      }
      gc(fs, dir)
    }
  }

  /** Every column a cluster spec references must exist in the recorded
    * schema — a typo'd retrofit would otherwise silently record a spec
    * no later stats collection or skip can use.
    */
  private def validateClusterCols(man: Manifest, cols: Seq[String]): Unit = {
    val names = man.struct.fieldNames.toSet
    val referenced = cols.flatMap { c =>
      val i = c.indexOf(':')
      if (i < 0) Seq(c)
      else c.substring(i + 1).split(",").map(_.trim).toSeq
    }
    referenced.foreach(c => require(names.contains(c),
      s"cluster: column '$c' is not in the table schema " +
        names.toSeq.sorted.mkString("(", ",", ")")))
  }

  /** [[compact]]'s epoch rewrite WITHOUT a commit: write every live
    * bucket into one fresh epoch under `tableRoot` and return the
    * updated (uncommitted, version untouched) manifest state. Shared by
    * the table-level commit and the group-member variant — the rewrite
    * is identical, only the commit point differs.
    */
  private def compactEpochsUncommitted(spark: SparkSession, fs: FileSystem,
                                       tableRoot: String,
                                       man: Manifest): Manifest = {
    if (man.epochs.isEmpty) return man // fully-deleted table: nothing live
    // read each live epoch WITH its physical bucket column (partition
    // discovery over the epoch root typed by the stored schema +
    // BucketCol), keeping only the buckets the manifest assigns to it
    // read by field id (pre-rename files keep their old column names)
    // and the rewrite re-records the ids verbatim — the read frame's id
    // metadata flows through union/sort into the new files' footers
    ensureFieldIdRead(spark)
    val epochSchema =
      stampSchema(man.struct, man.colIds).add(BucketCol, IntegerType)
    val live: Iterable[DataFrame] =
      if (hasLiveDvs(man) || hasLiveEqds(man) || man.overlays.nonEmpty)
        // deletion vectors or merge-on-read overlays present: read each
        // bucket through the DV-filtering core over ALL its epochs
        // (dead rows must not survive the rewrite; overlay rows must)
        // and re-derive the physical bucket column — this rewrite is
        // also what PURGES vectors and collapses overlays (fresh stats
        // below carry neither)
        man.epochs.keys.toSeq.sorted.map { b =>
          readWithSchema(spark, man, tableRoot,
            bucketDirPaths(tableRoot, man, b))
            .withColumn(BucketCol, lit(b))
        }
      else man.epochs.groupBy(_._2)
        .map { case (e, m) =>
          spark.read.schema(epochSchema).parquet(s"$tableRoot/$e")
            .filter(col(BucketCol).isin(m.keys.toSeq: _*))
        }
    val (epoch, written, stats) = stageEpoch(spark, fs, tableRoot,
      live.reduce(_ unionByName _), man)
    // the rewrite folded every overlay's rows in — collapse them, and
    // it filtered every doomed key out — purge the eq-deletes
    man.copy(epochs = written.map(_ -> epoch).toMap,
      overlays = Map.empty, eqds = Map.empty, stats = stats)
  }

  /** PARTIAL compaction — rewrite ONLY the given buckets into one fresh
    * epoch (Iceberg's `rewrite_data_files` with a filter / Delta's
    * OPTIMIZE WHERE): the merge-on-read pressure drain. A 100 TB table
    * with a handful of DV'd or overlay-carrying buckets must not pay a
    * FULL-table rewrite to purge them — this rewrites just the
    * pressured buckets (DV-aware read folds overlays in and drops dead
    * rows; fresh stats carry neither), leaves every other bucket's
    * pointer untouched, and commits one version. A bucket whose rows
    * are all DV-dead drops its pointer. Unknown/empty bucket ids are
    * ignored. Same CAS-or-conflict commit as [[compact]].
    */
  def compactBuckets(spark: SparkSession, tablePath: String,
                     buckets: Set[Int]): Unit = {
    val fs = fsFor(spark, tablePath)
    val dir = new Path(tablePath)
    currentManifest(fs, dir).foreach { man =>
      val targets = buckets.filter(man.epochs.contains)
      if (targets.isEmpty) return
      ensureFieldIdRead(spark)
      val live = targets.toSeq.sorted.map { b =>
        readWithSchema(spark, man, tablePath,
          bucketDirPaths(tablePath, man, b))
          .withColumn(BucketCol, lit(b))
      }
      val (epoch, written, fresh) = stageEpoch(spark, fs, tablePath,
        live.reduce(_ unionByName _), man)
      val t = tableTarget(fs, dir)
      commitLoop(t, "compactBuckets", Some(man))(
        lostRace(t, "compactBuckets", man))(_ => Some(man.copy(
        // rewritten buckets point at the fresh epoch; a fully-dead
        // bucket (all rows DV'd) emits no directory and drops out
        epochs = (man.epochs -- targets) ++ written.map(_ -> epoch),
        overlays = man.overlays -- targets,
        eqds = man.eqds -- targets,
        stats = (man.stats -- targets) ++ fresh)))
      gc(fs, dir)
    }
  }

  /** Post-commit maintenance of a single-table write: gc, then the
    * advisory auto-split, auto-compaction and merge-on-read drain, each
    * deciding from the just-committed manifest. `splitBytes = 0` never
    * splits.
    */
  private def maintainAfterWrite(spark: SparkSession, fs: FileSystem,
                                 tablePath: String, splitBytes: Long,
                                 compactEpochs: Int): Unit =
    labeled(spark, "graft.maintain") {
      val dir = new Path(tablePath)
      gc(fs, dir)
      maybeAutoSplit(spark, fs, dir, tablePath, splitBytes)
      maybeAutoCompact(spark, fs, dir, tablePath, compactEpochs)
      maybeAutoCompactMor(spark, fs, dir, tablePath)
    }

  /** Advisory merge-on-read pressure drain: when DV'd files or overlay
    * entries pile past [[DvAutoCompactFiles]] ([[morPressure]]), rewrite
    * ONLY the pressured buckets ([[compactBuckets]]) — never the whole
    * table (at 100 TB a full rewrite for a few hot buckets would be the
    * cluster's main load). Advisory like auto-compaction: a lost race
    * never fails the commit that already landed.
    */
  private def maybeAutoCompactMor(spark: SparkSession, fs: FileSystem,
                                  dir: Path, tablePath: String): Unit =
    currentManifest(fs, dir).foreach { man =>
      val pressured = man.epochs.keys.filter { b =>
        man.overlays.get(b).exists(_.nonEmpty) ||
          man.eqds.get(b).exists(_.nonEmpty) ||
          man.stats.getOrElse(b, Seq.empty).exists(_.dv.nonEmpty)
      }.toSet
      if (pressured.nonEmpty && morPressure(man))
        advisory(compactBuckets(spark, tablePath, pressured))
    }

  /** The merge-on-read drain rule of a table or member manifest. Counts
    * bound the read side: DV'd files, overlay entries and equality-delete
    * entries are union or anti-join branches of every read; total doomed
    * keys bound the eq-delete broadcast (and the catalog scan's plan-time
    * resolution probe); total DEAD POSITIONS bound the read-side skip
    * arrays — per-file dead sets are cumulative across commits (prior ∪
    * new), so a few files can carry far more positions than the
    * per-commit cap.
    */
  private def morPressure(m: Manifest): Boolean =
    m.stats.valuesIterator.map(_.count(_.dv.nonEmpty)).sum >=
      DvAutoCompactFiles ||
    m.overlays.valuesIterator.map(_.size).sum >= DvAutoCompactFiles ||
    m.eqds.valuesIterator.map(_.size).sum >= DvAutoCompactFiles ||
    m.stats.valuesIterator.flatMap(_.iterator.map(_.dvn)).sum >=
      DvMaxPositionsPerCommit * 4 ||
    m.eqds.valuesIterator.flatMap(_.iterator.map(_.n)).sum >=
      DvMaxPositionsPerCommit * 4

  /** Double a table's bucket count IN PLACE — the growth path past the
    * creation-time modulus (the last structural scale limit of a
    * fixed-bucket layout: at 100× data a 64-bucket table means multi-GB
    * single files per bucket, one task per pruned read, and whole-bucket
    * rewrite granularity per merge; Delta/Iceberg re-bin at OPTIMIZE
    * time for the same reason).
    *
    * NO cross-bucket shuffle is needed: `pmod(hash, 2n)` REFINES
    * `pmod(hash, n)` — a row in bucket `b` under modulus `n` lands in
    * `b` or `b + n` under `2n`, so every old bucket file splits locally
    * into at most two children and the write below deliberately carries
    * the scan's partitioning through (no `repartition`, hence no
    * exchange in the plan; each scan task fans its rows out to its own
    * buckets' files). Epoch files store only key COLUMNS, not the hash,
    * so the split recomputes it — `keys` must be the table's merge keys
    * (the same contract every merge/delete call already carries).
    *
    * Commits as the next manifest version with `buckets = 2n`; the
    * pre-split manifest stays retained, so pinned readers keep their
    * own modulus, and any concurrent writer that planned against the
    * old modulus fails the commit CAS loudly (bucket-count conflict)
    * instead of committing unprunable pointers. Call repeatedly to
    * grow 2× per call; [[compact]] afterwards is optional (the split
    * epoch is already one directory).
    */
  def splitBuckets(spark: SparkSession, tablePath: String,
                   keys: Seq[String]): Unit = {
    val fs = fsFor(spark, tablePath)
    val dir = new Path(tablePath)
    currentManifest(fs, dir).foreach { man =>
      val upd = splitEpochsUncommitted(spark, fs, tablePath, man, keys)
      val t = tableTarget(fs, dir)
      commitLoop(t, "splitBuckets", Some(man))(
        lostRace(t, "splitBuckets", man))(_ => Some(upd))
      gc(fs, dir)
    }
  }

  /** [[splitBuckets]]'s doubled-modulus rewrite WITHOUT a commit: write
    * the refined epoch under `tableRoot` and return the updated
    * (uncommitted, version untouched) manifest state. Shared by the
    * table-level commit and the group-member variant.
    */
  private def splitEpochsUncommitted(spark: SparkSession, fs: FileSystem,
                                     tableRoot: String, man: Manifest,
                                     keys: Seq[String]): Manifest = {
    require(keys.nonEmpty, "splitBuckets requires the table's merge keys")
    validateKeys(man, keys, "splitBuckets")
    val nb2 = man.buckets * 2
    // a legacy pre-keyCols manifest upgrades here: the supplied keys are
    // recorded for every later keyed call to validate
    val keyRec = if (man.keyCols.nonEmpty) man.keyCols else keys
    val paths = allDirPaths(tableRoot, man)
    if (paths.isEmpty) man.copy(buckets = nb2, keyCols = keyRec)
    else {
      val rebinned = readWithSchema(spark, man, tableRoot, paths)
        .withColumn(BucketCol, pmod(hash(keys.map(col): _*), lit(nb2)))
      // no repartition: clustering survives the split as a LOCAL sort
      // (still no exchange in the plan — sortWithinPartitions orders
      // each scan task's fan-out before the per-bucket file writes)
      val (epoch, written, stats) = stageEpoch(spark, fs, tableRoot,
        rebinned, man, repartition = false)
      man.copy(buckets = nb2, epochs = written.map(_ -> epoch).toMap,
        overlays = Map.empty, eqds = Map.empty, keyCols = keyRec,
        stats = stats)
    }
  }

  /** Read a merge-maintained table at its latest committed version (or a
    * pre-manifest/plain parquet directory, for compatibility), without the
    * physical bucket column.
    */
  def readTable(spark: SparkSession, tablePath: String): DataFrame =
    pinManifest(spark, tablePath, None, None) match {
      case Some(m) => scanPinned(spark, tablePath, m)
      case None => spark.read.parquet(tablePath).drop(BucketCol)
    }

  /** Committed manifest versions still retained on disk (ascending) —
    * the readable time-travel range: [[KeepManifests]] bounds it, so a
    * reader can pin the previous version across one concurrent commit.
    */
  def availableVersions(spark: SparkSession, tablePath: String): Seq[Long] =
    manifestFiles(fsFor(spark, tablePath), new Path(tablePath)).map(_._1)

  /** Time travel: read the table AS OF a specific committed manifest
    * version (Delta's `VERSION AS OF` / Iceberg's snapshot reads, scaled
    * to the manifest protocol). Epoch files are immutable and every
    * retained manifest's epochs survive gc, so a pinned read is stable
    * even while newer merges commit. Only the last [[KeepManifests]]
    * versions are retained — asking for an aged-out version fails loudly
    * with the readable range instead of silently reading the wrong data.
    */
  def readTableVersion(spark: SparkSession, tablePath: String,
                       version: Long): DataFrame =
    scanPinned(spark, tablePath,
      pinManifest(spark, tablePath, Some(version), None).get)

  /** [[readTableWhere]] AS OF a retained version: data skipping composes
    * with time travel — the pinned manifest's stats and Bloom sidecars
    * prune exactly as the current version's do (stats ride IN the
    * manifest and sidecars in the epoch dirs, so every retained version
    * carries its own). The audit shape: "this key/date window, as of
    * before the bad load".
    */
  def readTableVersionWhere(spark: SparkSession, tablePath: String,
                            version: Long,
                            ranges: Seq[ColumnPredicate]): DataFrame = {
    require(ranges.nonEmpty,
      "readTableVersionWhere requires at least one predicate")
    readPinnedWhere(spark, tablePath,
      pinManifest(spark, tablePath, Some(version), None).get, ranges)
  }

  /** Time travel by WALL CLOCK (Delta's `TIMESTAMP AS OF`): read the
    * table at the latest version COMMITTED at or before `timestampMs`
    * — manifest publish times are the commit instants (each version is
    * one atomically-renamed file). Only retained versions are
    * resolvable; an instant before the earliest retained commit fails
    * loudly with the readable range, never silently reads newer data.
    */
  def readTableAsOf(spark: SparkSession, tablePath: String,
                    timestampMs: Long): DataFrame =
    scanPinned(spark, tablePath,
      pinManifest(spark, tablePath, None, Some(timestampMs)).get)

  /** Keyed point-lookup read: resolve the key-hash buckets of the
    * requested keys and scan ONLY those bucket directories — the
    * manifest-protocol equivalent of partition pruning for key
    * predicates. A lookup of k keys reads ≤ k buckets of the table
    * regardless of table size (vs. a full scan + filter), which is the
    * difference between a point-read and a table-read at 100 TB. The
    * requested-key frame must be lookup-sized (it drives one bounded
    * metadata job for the bucket set, exactly [[merge]]'s shape, and
    * then semi-joins the pruned scan).
    */
  def readKeys(spark: SparkSession, tablePath: String, wanted: DataFrame,
               keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "readKeys requires at least one key column")
    pinManifest(spark, tablePath, None, None) match {
      case None =>
        readTable(spark, tablePath)
          .join(wanted.select(keys.map(col): _*).distinct(), keys, "left_semi")
      case Some(man) =>
        keysReadFromManifest(spark, tablePath, man, wanted, keys, "readKeys")
    }
  }

  /** [[readKeys]] for a group member: the same bucket-pruned,
    * stats-and-bloom-skipped point lookup against the member's state
    * pinned in the current GROUP manifest — the reference's L1 hot path
    * ("this work item's state row") without scanning the member.
    */
  def readGroupKeys(spark: SparkSession, groupPath: String, name: String,
                    wanted: DataFrame, keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "readGroupKeys requires at least one key column")
    keysReadFromManifest(spark, s"$groupPath/$name",
      currentMember(spark, groupPath, name, "readGroupKeys"), wanted, keys,
      "readGroupKeys")
  }

  /** The bucket-pruned point-lookup core shared by [[readKeys]] and
    * [[readGroupKeys]].
    */
  private def keysReadFromManifest(spark: SparkSession, tableRoot: String,
                                   man: Manifest, wanted: DataFrame,
                                   keys: Seq[String], op: String): DataFrame = {
    val fs = fsFor(spark, tableRoot)
    validateKeys(man, keys, op)
    val w = wanted.select(keys.map(col): _*).distinct()
      .withColumn(BucketCol,
        pmod(hash(keys.map(col): _*), lit(man.buckets)))
    // ONE bounded collect (lookup-sized by contract) serves the
    // touched-bucket set, per-key file skipping below, and the final
    // semi-join as a local relation — the wanted lineage runs once
    val wantedRows = w.collect()
    val keyTypes = w.schema.fields.take(keys.size).map(_.dataType)
    val byBucket = wantedRows.groupBy(_.getInt(keys.size))
    // bucket → file skipping: inside a matched bucket, a file whose
    // recorded per-column range excludes EVERY wanted tuple can't
    // hold any wanted row — with the table clustered on a key
    // column, a k-key lookup opens ≤ k FILES per bucket, not the
    // bucket's whole history (Delta's stats-based point lookup,
    // completing the bucket-pruned read at wide-bucket scale). A
    // file or column without stats is always kept — lossless.
    // Bloom sidecars extend the per-file check to UNCLUSTERED key
    // columns: a hash bucket's files all span the full key range (no
    // stat can skip them), but each file's filter can prove a wanted
    // key absent — point lookups stay ≤ k files/bucket without
    // having to cluster by the key
    val sidecars = scala.collection.mutable.Map
      .empty[String, Map[String, Map[String, Array[Byte]]]]
    def tupleCouldBeIn(e: String, b: Int, fileStat: FileStat,
                      row: org.apache.spark.sql.Row): Boolean =
      keys.indices.forall { i =>
        val v = row.get(i)
        if (v == null) true
        else boundToCanon(keyTypes(i), v) match {
          case Some((tag, cv)) =>
            fileIntersects(fileStat, keys(i),
              lo = Some((tag, cv)), hi = Some((tag, cv))) &&
              (!man.bloomCols.contains(keys(i)) ||
                (sidecars.getOrElseUpdate(e,
                  readBloomSidecar(fs, s"$tableRoot/$e"))
                  .get(s"$BucketCol=$b/${fileStat.name}")
                  .flatMap(_.get(keys(i))) match {
                  case Some(bytes) => bloomMightContain(bytes, tag, cv)
                  case None => true
                }))
          case None => true
        }
      }
    scanPinned(spark, tableRoot, man, buckets = Some(byBucket.keySet),
      keep = b => Some(f => byBucket(b).exists(
        tupleCouldBeIn(fileEpoch(man, b, f), b, f, _))))
      .join(spark.createDataFrame(java.util.Arrays.asList(wantedRows: _*),
        w.schema).drop(BucketCol), keys, "left_semi")
  }

  /** Range read with DATA SKIPPING (Delta's file-stats skipping /
    * Iceberg's manifest min/max pruning, scaled to this protocol): scan
    * only the data files whose recorded [min, max] for `column`
    * intersects `[lower, upper]`, then apply the exact predicate as a
    * residual filter. With the table clustered on `column` (see
    * [[Manifest.clusterCols]]: `merge(..., clusterBy = Seq(column))` +
    * `spark.sql.files.maxRecordsPerFile`), a narrow range opens a
    * file count proportional to the MATCHED range, not the table — the
    * difference between a dashboard's 90-day CFD window and a full
    * 100 TB scan (ref `calculate_cfd.sql:8-16` reads exactly such a
    * date window over snapshots). Files without usable stats for the
    * column are always read (skipping only ever removes provably
    * irrelevant I/O), so results equal `readTable().filter(range)` on
    * ANY table, clustered or not, stats or none. Bounds are inclusive;
    * accepted bound types per column type: numbers/strings for
    * numerics, `java.sql.Date`/`LocalDate`/ISO strings for dates,
    * `Timestamp`/`Instant`/`LocalDateTime`/ISO strings for timestamps.
    */
  def readTableRange(spark: SparkSession, tablePath: String, column: String,
                     lower: Option[Any] = None,
                     upper: Option[Any] = None): DataFrame =
    readCurrentWhere(spark, tablePath, Seq(ColumnRange(column, lower, upper)))

  /** [[readPinnedWhere]] at the current version; a path with no manifest
    * (pre-manifest parquet) filters a plain read exactly.
    */
  private def readCurrentWhere(spark: SparkSession, tablePath: String,
                               ranges: Seq[ColumnPredicate]): DataFrame =
    pinManifest(spark, tablePath, None, None) match {
      case Some(man) => readPinnedWhere(spark, tablePath, man, ranges)
      case None => ranges.foldLeft(readTable(spark, tablePath))(applyPredicate)
    }

  /** The exact residual condition of one [[ColumnPredicate]] — always
    * applied after skipping, so results never depend on stats/blooms.
    */
  private def predicateCond(df: DataFrame,
                            p: ColumnPredicate): org.apache.spark.sql.Column =
    p match {
      case ColumnRange(c, lo, hi) =>
        val dt = df.schema(c).dataType
        (lo.map(v => col(c) >= lit(v).cast(dt)).toSeq ++
          hi.map(v => col(c) <= lit(v).cast(dt)))
          .reduceOption(_ && _).getOrElse(lit(true))
      case ColumnIn(c, vs) =>
        val dt = df.schema(c).dataType
        vs.map(v => col(c) === lit(v).cast(dt))
          .reduceOption(_ || _).getOrElse(lit(false))
      case ColumnNull(c, isNull) =>
        if (isNull) col(c).isNull else col(c).isNotNull
      case ColumnOr(branches) =>
        branches.map(_.map(predicateCond(df, _))
            .reduceOption(_ && _).getOrElse(lit(true)))
          .reduceOption(_ || _).getOrElse(lit(true))
    }

  private def applyPredicate(df: DataFrame, p: ColumnPredicate): DataFrame =
    df.filter(predicateCond(df, p))

  /** One column term of [[readTableWhere]]'s conjunction. */
  sealed trait ColumnPredicate { def column: String }

  /** One column's inclusive range predicate: either bound may be open
    * (None). A degenerate range (lower == upper) is an equality probe
    * and additionally consults the table's Bloom sidecars.
    */
  case class ColumnRange(column: String, lower: Option[Any],
                         upper: Option[Any]) extends ColumnPredicate

  /** IN-list membership — the disjunction of point probes (`WHERE col
    * IN (…)`): a file survives if ANY listed value could be in it, per
    * min/max stats and (on declared Bloom columns) the per-file filter.
    * The lookup-by-id-set shape of the reference's reingest and
    * deleted-item scans.
    */
  case class ColumnIn(column: String, values: Seq[Any])
      extends ColumnPredicate

  /** IS NULL / IS NOT NULL (Delta's nullCount skipping): per-file null
    * counts recorded from the parquet footers let `IS NULL` skip files
    * with zero nulls and `IS NOT NULL` skip all-null files — and since
    * Catalyst conjoins an implicit IS NOT NULL onto every comparison
    * filter, a sparse column's all-null files prune on ANY probe of it.
    */
  case class ColumnNull(column: String, isNull: Boolean)
      extends ColumnPredicate

  /** A DISJUNCTION of predicate conjunctions — the top-level-OR shape
    * `(date window) OR (id IN …)` that a single-column term can't
    * express. File keep = the UNION of the branches' file sets: a file
    * survives if ANY branch's constraints admit it, so the OR prunes
    * exactly when every branch prunes (a branch contributing no usable
    * constraint keeps everything, correctly disabling the skip). Spans
    * columns, so the trait's single-column accessor is empty.
    */
  case class ColumnOr(branches: Seq[Seq[ColumnPredicate]])
      extends ColumnPredicate {
    override def column: String = ""
  }

  /** Multi-predicate data-skipping read: the conjunction (AND) of
    * column predicates — ranges and IN-lists — the dashboard shape
    * "this cohort AND this date window AND these ids". A file survives
    * only if its recorded stats (and Bloom sidecars, for equality and
    * IN probes on declared columns) admit EVERY predicate, so with
    * Z-order clustering (see `zorder2` in [[Manifest.clusterCols]]) the
    * opened set approaches the query's rectangle instead of one
    * dimension's stripe. Exact residual filters apply per column;
    * results always equal `readTable().filter(p1 && p2 && …)`.
    */
  def readTableWhere(spark: SparkSession, tablePath: String,
                     ranges: Seq[ColumnPredicate]): DataFrame = {
    require(ranges.nonEmpty, "readTableWhere requires at least one predicate")
    readCurrentWhere(spark, tablePath, ranges)
  }

  /** One file-keep function per predicate whose bounds/values all
    * canonicalize; a predicate that doesn't never prunes (its exact
    * residual filter still applies downstream — lossless by
    * construction). "Might hold" = min/max stats first, then (on
    * declared Bloom columns) the per-file sidecar filter: the skip
    * that works on high-cardinality columns the table is NOT clustered
    * by, where every file's [min,max] spans the domain and stats alone
    * never skip. Shared by [[readPinnedWhere]] and the Catalyst
    * FileIndex path ([[indexCandidateFiles]]).
    */
  private def fileKeepFns(fs: FileSystem, tableRoot: String, man: Manifest,
                          ranges: Seq[ColumnPredicate])
      : Seq[(String, Int, FileStat) => Boolean] = {
    // hidden shred columns aren't in the table schema — their probe
    // type comes from the declaration
    val shredTypes = shredTypesOf(man)
    def colType(c: String) =
      man.struct.fields.find(_.name == c).map(_.dataType)
        .orElse(shredTypes.get(c))
    val sidecars = scala.collection.mutable.Map
      .empty[String, Map[String, Map[String, Array[Byte]]]]
    def mightHold(e: String, b: Int, f: FileStat, c: String,
                  tag: Char, v: Any): Boolean =
      fileIntersects(f, c, Some((tag, v)), Some((tag, v))) &&
        (!(man.bloomCols.contains(c) || shredTypes.contains(c)) ||
          (sidecars.getOrElseUpdate(e, readBloomSidecar(fs, s"$tableRoot/$e"))
            .get(s"$BucketCol=$b/${f.name}").flatMap(_.get(c)) match {
            case Some(bytes) => bloomMightContain(bytes, tag, v)
            case None => true
          }))
    ranges.flatMap {
      case ColumnRange(c, lower, upper) =>
        val dt = colType(c)
        val lo = for { d <- dt; v <- lower; cv <- boundToCanon(d, v) } yield cv
        val hi = for { d <- dt; v <- upper; cv <- boundToCanon(d, v) } yield cv
        (lo, hi) match {
          case (Some((t1, v1)), Some((t2, v2))) if t1 == t2 && v1 == v2 =>
            // degenerate range = equality probe (stats AND bloom)
            Some((e: String, b: Int, f: FileStat) => mightHold(e, b, f, c, t1, v1))
          case (None, None) => None
          case _ =>
            Some((_: String, _: Int, f: FileStat) => fileIntersects(f, c, lo, hi))
        }
      case ColumnIn(c, values) =>
        val dt = colType(c)
        val canonVs = values.map(v => dt.flatMap(boundToCanon(_, v)))
        if (canonVs.isEmpty || canonVs.exists(_.isEmpty)) None
        else Some((e: String, b: Int, f: FileStat) =>
          canonVs.flatten.exists { case (tag, v) => mightHold(e, b, f, c, tag, v) })
      case ColumnNull(c, true) =>
        // a file with a RECORDED zero null count provably holds no NULLs
        Some((_: String, _: Int, f: FileStat) => !f.nulls.get(c).contains(0L))
      case ColumnNull(c, false) =>
        // an all-null file (nulls == rows, both recorded) has no
        // NOT-NULL row to contribute
        Some((_: String, _: Int, f: FileStat) =>
          !(f.rows >= 0 && f.nulls.get(c).contains(f.rows)))
      case ColumnOr(branches) =>
        // union of the branches' keep sets; a branch with no usable
        // constraints keeps every file, so the OR prunes nothing
        val branchKeeps = branches.map(b => fileKeepFns(fs, tableRoot,
          man, b))
        if (branches.isEmpty || branchKeeps.exists(_.isEmpty)) None
        else Some((e: String, b: Int, f: FileStat) =>
          branchKeeps.exists(_.forall(_(e, b, f))))
    }
  }

  /** [[fileKeepFns]] conjoined into one (bucket, file) test — None when
    * no predicate can prune.
    */
  private def predicateKeep(fs: FileSystem, tableRoot: String, man: Manifest,
                            ranges: Seq[ColumnPredicate])
      : Option[(Int, FileStat) => Boolean] = {
    val keeps =
      if (ranges.isEmpty) Seq.empty else fileKeepFns(fs, tableRoot, man, ranges)
    if (keeps.isEmpty) None
    else Some((b, f) => keeps.forall(_(fileEpoch(man, b, f), b, f)))
  }

  /** The files a pinned read covers, bucket-ordered: per live bucket
    * (within `buckets` when given) Some(the stats-listed files `keep`
    * admits), or None — `keep` declines to filter the bucket, or it has
    * no recorded stats — for the bucket's live directories whole
    * (skipping only ever removes provably irrelevant I/O). The one file
    * selector behind [[scanPinned]] and the catalog FileIndex
    * ([[indexCandidateFiles]]).
    */
  private def pinnedFiles(man: Manifest, buckets: Option[Set[Int]],
                          keep: Int => Option[FileStat => Boolean])
      : Seq[(Int, Option[Seq[FileStat]])] =
    man.epochs.keys.toSeq.sorted.filter(b => buckets.forall(_(b))).map { b =>
      b -> (for (k <- keep(b); fss <- man.stats.get(b)) yield fss.filter(k))
    }

  /** The typed empty frame of a read whose files were all pruned: the
    * pinned schema as a file scan reports it — every column nullable —
    * so an empty answer has exactly the schema a non-empty one would.
    */
  private def emptyFrame(spark: SparkSession, man: Manifest): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.GraftColumnShim.asNullable(
        stripSchemaIds(man.struct)))

  /** Step two of every storage read: scan a PINNED manifest (see
    * [[pinManifest]] / [[pinGroupMember]]). Selects the files
    * ([[pinnedFiles]]: `buckets`, then `keep` per bucket), reads them
    * through the DV/eq-delete-aware core ([[readWithSchema]]) with the
    * field ids stripped — or the typed [[emptyFrame]] when no file
    * survives — and applies `residual` as exact filters, so results
    * never depend on stats or blooms.
    */
  private def scanPinned(spark: SparkSession, root: String, man: Manifest,
                         buckets: Option[Set[Int]] = None,
                         keep: Int => Option[FileStat => Boolean] = _ => None,
                         residual: Seq[ColumnPredicate] = Seq.empty)
      : DataFrame = {
    val paths = pinnedFiles(man, buckets, keep).flatMap {
      case (b, Some(kept)) => kept.map(fileReadPath(root, man, b, _))
      case (b, None) => bucketDirPaths(root, man, b)
    }
    val base =
      if (paths.isEmpty) emptyFrame(spark, man)
      else stripFrame(readWithSchema(spark, man, root, paths))
    residual.foldLeft(base)(applyPredicate)
  }

  /** Pruned snapshot read of a PINNED manifest under a conjunction of
    * predicates, empty list allowed: files prune through the stats/Bloom
    * keep functions, then the exact residual filter applies. Serves
    * every where/range read, and the V1 bridge's `format("graft")`
    * scans of DELETION-VECTOR-bearing versions (the plain V1 file scan
    * cannot position-filter; this core can; the CATALOG path filters
    * positions inside its native DSv2 scan).
    */
  private[sources] def readPinnedWhere(spark: SparkSession,
                                       tableRoot: String, man: Manifest,
                                       ranges: Seq[ColumnPredicate])
      : DataFrame = {
    val keep = predicateKeep(fsFor(spark, tableRoot), tableRoot, man, ranges)
    scanPinned(spark, tableRoot, man, keep = b => keep.map(k => k(b, _)),
      residual = ranges)
  }

  /** Canonical stats value → the column's external Spark value (the
    * exact inverse of the [[boundToCanon]] / [[canonMinMax]] domain).
    */
  private def canonToExternal(dt: DataType, s: String): Any = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType => s.toLong.toByte
      case ShortType => s.toLong.toShort
      case IntegerType => s.toLong.toInt
      case LongType => s.toLong
      case DateType =>
        java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(s.toLong))
      case TimestampType =>
        val us = s.toLong
        java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
          Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L))
      case TimestampNTZType =>
        val us = s.toLong
        java.time.LocalDateTime.ofEpochSecond(Math.floorDiv(us, 1000000L),
          (Math.floorMod(us, 1000000L) * 1000L).toInt,
          java.time.ZoneOffset.UTC)
      case FloatType => s.toDouble.toFloat
      case DoubleType => s.toDouble
      case StringType => s
      case other => throw new IllegalArgumentException(
        s"statsAggregate: unsupported stats type $other")
    }
  }

  /** Metadata-only aggregate (Delta answers `SELECT COUNT(*)` — and
    * Databricks' engine MIN/MAX — from the transaction log the same
    * way): `COUNT(*)` plus `MIN`/`MAX` of the requested columns served
    * purely from the manifest's per-file stats, ZERO data-file I/O —
    * at 100 TB the difference between a metadata read and a full scan
    * for the most common dashboard probe there is. Exactness rules:
    * row counts must be recorded for every file (clustered tables
    * record them from the parquet footers at commit), and every file
    * must carry a min/max entry for every requested column (an entry
    * covers the file's non-null values — exactly SQL MIN/MAX
    * semantics; a file whose stats were dropped for the column is
    * indistinguishable from an all-null file, so ANY missing piece
    * falls back to one exact table scan, never a wrong answer).
    * Output: `cnt` ++ per column `min_<c>`, `max_<c>`.
    */
  def statsAggregate(spark: SparkSession, tablePath: String,
                     minMaxCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.Row
    def scanFallback(): DataFrame = {
      val t = readTable(spark, tablePath)
      t.agg(count(lit(1)).as("cnt"),
        minMaxCols.flatMap(c => Seq(count(col(c)).as(s"cnt_$c"),
          min(col(c)).as(s"min_$c"),
          max(col(c)).as(s"max_$c"))): _*)
    }
    val fs = fsFor(spark, tablePath)
    currentManifest(fs, new Path(tablePath)) match {
      case None => scanFallback()
      case Some(man) =>
        val statsPerBucket = man.epochs.keys.toSeq.map(man.stats.get)
        if (statsPerBucket.exists(_.isEmpty))
          return scanFallback()
        val files = statsPerBucket.flatMap(_.get)
        if (files.exists(_.rows < 0)) return scanFallback()
        // deletion vectors make per-file counts and min/max stale
        // relative to LIVE rows (a dead row may have been the min) —
        // metadata can no longer answer exactly, so scan (compaction
        // purges the vectors and restores the metadata-only path)
        if (files.exists(_.dvn > 0)) return scanFallback()
        // equality deletes kill an UNKNOWN number of stored rows (the
        // doomed keys were never resolved against the data) — metadata
        // cannot answer counts at all while any record is live
        if (hasLiveEqds(man)) return scanFallback()
        val colTypes = minMaxCols.map(c =>
          man.struct.fields.find(_.name == c).map(_.dataType))
        if (colTypes.exists(_.isEmpty)) return scanFallback()
        // empty table (truncating overwrite / delete-all left zero files):
        // SQL's answer is cnt=0 with NULL min/max — still metadata-only
        if (files.isEmpty) {
          val outSchema = StructType(
            StructField("cnt", LongType, nullable = false) +:
              minMaxCols.zip(colTypes.map(_.get)).flatMap { case (c, dt) =>
                Seq(StructField(s"cnt_$c", LongType, nullable = false),
                  StructField(s"min_$c", dt, nullable = true),
                  StructField(s"max_$c", dt, nullable = true))
              })
          val values: Seq[Any] = 0L +:
            minMaxCols.flatMap(_ => Seq(0L, null, null))
          return spark.createDataFrame(
            java.util.Collections.singletonList(Row(values: _*)), outSchema)
        }
        val served = minMaxCols.zip(colTypes.map(_.get)).map { case (c, dt) =>
          val tag = boundToCanon(dt, canonProbe(dt)).map(_._1)
          if (tag.isEmpty ||
              files.exists(f => !f.mins.contains(c) || !f.maxs.contains(c) ||
                !f.nulls.contains(c)))
            None
          else {
            val t = tag.get
            def parse(s: String): Any = t match {
              case 'L' => s.toLong
              case 'D' => s.toDouble
              case _ => s
            }
            val mn = files.map(f => parse(f.mins(c)))
              .reduce((a, b) => if (cmpTagged(t, a, b) <= 0) a else b)
            val mx = files.map(f => parse(f.maxs(c)))
              .reduce((a, b) => if (cmpTagged(t, a, b) >= 0) a else b)
            // COUNT(col) = SQL's non-null count: rows minus recorded nulls
            val nonNull = files.map(f => f.rows - f.nulls(c)).sum
            Some((nonNull, canonToExternal(dt, mn.toString),
              canonToExternal(dt, mx.toString), dt))
          }
        }
        if (served.exists(_.isEmpty)) return scanFallback()
        val outSchema = StructType(
          StructField("cnt", LongType, nullable = false) +:
            minMaxCols.zip(served.map(_.get)).flatMap {
              case (c, (_, _, _, dt)) =>
                Seq(StructField(s"cnt_$c", LongType, nullable = false),
                  StructField(s"min_$c", dt, nullable = true),
                  StructField(s"max_$c", dt, nullable = true))
            })
        val values: Seq[Any] = files.map(_.rows).sum +:
          served.flatMap { case Some((nn, mn, mx, _)) => Seq(nn, mn, mx)
                           case None => Seq.empty }
        spark.createDataFrame(
          java.util.Collections.singletonList(Row(values: _*)), outSchema)
    }
  }

  /** A representative external value per type, used only to resolve the
    * canonical stats TAG of a column type through [[boundToCanon]].
    */
  private def canonProbe(dt: DataType): Any = {
    import org.apache.spark.sql.types._
    dt match {
      case DateType => java.time.LocalDate.ofEpochDay(0L)
      case TimestampType => java.time.Instant.EPOCH
      case TimestampNTZType => java.time.LocalDateTime.of(1970, 1, 1, 0, 0)
      case StringType => ""
      case FloatType | DoubleType => 0.0d
      case _ => 0L
    }
  }

  /** The retained manifest file (table or group `prefix`) of committed
    * version `v` — the ONE aged-out check behind every pinned read,
    * restore and tag: a version retention already reclaimed fails
    * loudly with the readable range, never silently reads other data.
    */
  private def retainedFile(fs: FileSystem, dir: Path, prefix: String,
                           v: Long): Path = {
    val retained = manifestFiles(fs, dir, prefix)
    retained.find(_._1 == v).map(_._2).getOrElse(
      throw new IllegalArgumentException(
        s"graft: version $v not retained for $dir " +
          s"(readable: ${retained.map(_._1).mkString(", ")})"))
  }

  /** The manifest file a read pins: `VERSION AS OF` a retained version,
    * `TIMESTAMP AS OF` the latest version COMMITTED at or before the
    * instant (manifest publish times are the commit instants — each
    * version is one atomically-published file), else the current one.
    * None only for a current pin of a directory with no commit.
    */
  private def pinnedFile(fs: FileSystem, dir: Path, prefix: String,
                         versionAsOf: Option[Long],
                         timestampMsAsOf: Option[Long]): Option[(Long, Path)] =
    versionAsOf match {
      case Some(v) => Some((v, retainedFile(fs, dir, prefix, v)))
      case None =>
        val retained = manifestFiles(fs, dir, prefix)
        timestampMsAsOf match {
          case None => retained.lastOption
          case Some(ts) => Some(retained.filter { case (_, p) =>
            fs.getFileStatus(p).getModificationTime <= ts
          }.lastOption.getOrElse(throw new IllegalArgumentException(
            s"timestampAsOf: no retained version of $dir committed at or " +
              s"before $ts (readable commits: " + retained.map { case (v, p) =>
                s"$v@${fs.getFileStatus(p).getModificationTime}"
              }.mkString(", ") + ")")))
        }
    }

  /** Resolve the manifest a read pins — step one of every storage read
    * (the public `readTable*` / `readKeys` / `changeFeed` / `readBranch`
    * surface) and of the Catalyst face: the current version,
    * `VERSION AS OF`, `TIMESTAMP AS OF` (see [[pinnedFile]]), or a
    * branch head. Epoch files are immutable and every retained
    * manifest's epochs survive gc, so a pinned read is stable even
    * while newer merges commit; each version reads with ITS OWN
    * recorded schema. None = a current pin of a path with no manifest
    * (not a graft table); a version or instant pin is always Some or
    * fails loudly.
    */
  private[sources] def pinManifest(spark: SparkSession, tablePath: String,
                                   versionAsOf: Option[Long],
                                   timestampMsAsOf: Option[Long],
                                   branch: Option[String] = None)
      : Option[Manifest] = {
    val fs = fsFor(spark, tablePath)
    val dir = new Path(tablePath)
    branch match {
      case Some(b) => Some(branchHead(fs, dir, b).getOrElse(
        throw new IllegalArgumentException(
          s"branch: no branch '$b' on $tablePath")))
      case None => pinnedFile(fs, dir, ManifestPrefix, versionAsOf,
        timestampMsAsOf).map { case (v, p) => readManifest(fs, v, p) }
    }
  }

  /** [[pinManifest]] for a GROUP member: resolve the group manifest the
    * read pins (current version, `VERSION AS OF` a retained group
    * version, or `TIMESTAMP AS OF` a commit instant) and return the
    * member's table manifest out of it — the member's whole state is
    * embedded in the group commit, so a pinned member read is
    * consistent with every sibling pinned at the same version.
    */
  private[sources] def pinGroupMember(spark: SparkSession, groupPath: String,
                                      name: String, versionAsOf: Option[Long],
                                      timestampMsAsOf: Option[Long])
      : Option[Manifest] = {
    val fs = fsFor(spark, groupPath)
    pinnedFile(fs, new Path(groupPath), GroupPrefix, versionAsOf,
      timestampMsAsOf).map { case (v, p) =>
      val g = readGroupManifest(fs, v, p)
      g.tables.getOrElse(name, throw new IllegalArgumentException(
        s"graft: member '$name' not in group $groupPath at version $v " +
          s"(members: ${g.tables.keys.toSeq.sorted.mkString(", ")})"))
    }
  }

  /** A member pinned at the CURRENT group version; an uncommitted group
    * fails loudly (there is no schema to synthesize an empty relation
    * from).
    */
  private def currentMember(spark: SparkSession, groupPath: String,
                            name: String, op: String): Manifest =
    pinGroupMember(spark, groupPath, name, None, None).getOrElse(
      throw new IllegalArgumentException(
        s"$op: no committed group manifest at $groupPath"))

  /** The group's current committed version (None while no commit). */
  private[sources] def currentGroupVersion(spark: SparkSession,
                                           groupPath: String): Option[Long] =
    currentGroupManifest(fsFor(spark, groupPath), new Path(groupPath))
      .map(_.version)

  /** The SQL-catalog-facing schema: the recorded schema with merge keys
    * surfaced NOT NULL (the write side enforces it — see
    * `bucketExprChecked` — and Spark's row-level DML requires
    * non-nullable row-id attributes). ONE definition shared by the
    * catalog table and the row-level operation's scan, so the two can
    * never drift. The NOT NULL claim is EVIDENCE-GATED on the
    * manifest's [[Manifest.keysChecked]] certificate: a table whose
    * live epochs predate the write-side AssertNotNull enforcement could
    * hold stored NULL keys, and letting Catalyst null-eliminate over
    * them would silently return wrong rows — such a table keeps
    * nullable keys (and therefore no SQL row-level DML) until a full
    * rewrite (INSERT OVERWRITE / REPLACE TABLE) re-certifies it.
    */
  private[sources] def sqlSchema(man: Manifest): StructType = {
    val s = man.struct
    if (man.keyCols.isEmpty || !man.keysChecked) s
    else StructType(s.fields.map(f =>
      // identity MERGE KEYS are reported NOT NULL like any key: Spark's
      // row-level rewrites hard-require non-nullable row-id attributes
      // (NULLABLE_ROW_ID_ATTRIBUTES), and UPDATE/MERGE on the table
      // must keep working. The cost: SQL INSERT on an identity-KEYED
      // table supplies explicit keys (the omitted/NULL sentinel is
      // blocked by Spark's write resolution before storage could
      // assign); API writes assign as ever. Non-key identity columns
      // stay nullable-sentinel and fully SQL-usable.
      if (man.keyCols.contains(f.name)) f.copy(nullable = false) else f))
  }

  /** The key-hash bucket a fully-specified key tuple lands in — the
    * DRIVER-SIDE evaluation of the write path's
    * `pmod(hash(keys…), buckets)` (Spark's `hash` = Murmur3 seed 42;
    * `Literal.create` converts each external value to the internal form
    * the column scan would hash, so writer and prober agree
    * bit-for-bit). `values` must follow `man.keyCols` ORDER — the hash
    * is order-sensitive, same contract [[validateKeys]] enforces on
    * writes. None = a value failed conversion → caller must not prune.
    */
  private[sources] def bucketOfKeyTuple(man: Manifest, schema: StructType,
                                        values: Seq[Any]): Option[Int] =
    scala.util.Try {
      val lits = man.keyCols.zip(values).map { case (c, v) =>
        val dt = schema.fields.find(_.name == c).get.dataType
        org.apache.spark.sql.catalyst.expressions.Literal.create(v, dt)
          : org.apache.spark.sql.catalyst.expressions.Expression
      }
      val h = new org.apache.spark.sql.catalyst.expressions.Murmur3Hash(lits)
        .eval(org.apache.spark.sql.catalyst.InternalRow.empty)
        .asInstanceOf[Int]
      Math.floorMod(h, man.buckets)
    }.toOption

  /** The file set a pinned read must scan under a conjunction of
    * predicates, with per-file sizes — [[pinnedFiles]]' stats+Bloom
    * skip resolved to concrete (path, bytes) pairs for Catalyst's
    * FileIndex contract (every stats-listed file is listed, even
    * unfiltered). Buckets without recorded file stats fall back to a
    * directory listing (kept wholesale: skipping only ever removes
    * provably irrelevant I/O).
    */
  private[sources] def indexCandidateFiles(spark: SparkSession,
                                           tableRoot: String, man: Manifest,
                                           ranges: Seq[ColumnPredicate],
                                           bucketFilter: Option[Set[Int]] =
                                             None)
      : Seq[(Path, Long)] = {
    val fs = fsFor(spark, tableRoot)
    val keep = predicateKeep(fs, tableRoot, man, ranges)
    pinnedFiles(man, bucketFilter, b => Some(f => keep.forall(_(b, f))))
      .flatMap {
        case (b, Some(kept)) => kept.map(f =>
          (new Path(fileReadPath(tableRoot, man, b, f)), f.bytes))
        case (b, None) => bucketDirPaths(tableRoot, man, b).flatMap { p =>
          val d = new Path(p)
          if (fs.exists(d))
            fs.listStatus(d).toSeq
              .filter(st => !st.isDirectory &&
                st.getPath.getName.startsWith("part-"))
              .map(st => (st.getPath, st.getLen))
          else Seq.empty
        }
      }
  }

  /** Change feed between two retained committed versions (Delta's CDF /
    * `table_changes`, scaled to the manifest protocol): the keyed diff
    * of the two pinned snapshots — op ∈ insert/update/delete with
    * old_/new_ audit columns (the
    * [[graft.operators.Reconcile.snapshotDiff]] contract). Epoch files
    * are immutable and retained manifests' epochs survive gc, so both
    * sides are stable snapshots even while newer merges commit; asking
    * for an aged-out version fails loudly via [[pinManifest]].
    * One full-outer join on `keys` — change-volume output, never
    * corpus-sized, which is what an incremental downstream consumer
    * of a 100 TB table actually wants to read.
    */
  def changeFeed(spark: SparkSession, tablePath: String,
                 fromVersion: Long, toVersion: Long,
                 keys: Seq[String], compareCols: Seq[String]): DataFrame = {
    def manOf(v: Long): Manifest =
      pinManifest(spark, tablePath, Some(v), None).get
    diffManifests(spark, tablePath, manOf(fromVersion), manOf(toVersion),
      keys, compareCols)
  }

  /** The manifest-pair diff core shared by [[changeFeed]] and
    * [[changeFeedGroup]]: bucket pruning (only buckets whose epoch
    * pointer moved are read on either side), fingerprint file pairing
    * inside changed buckets, and the keyed snapshot diff. A modulus
    * change (split) or a side without a recorded schema degrades to
    * the full two-sided diff — still exact.
    */
  private def diffManifests(spark: SparkSession, dataPath: String,
                            mFrom: Manifest, mTo: Manifest,
                            keys: Seq[String],
                            compareCols: Seq[String]): DataFrame = {
    // BUCKET PRUNING: a bucket whose epoch pointer did not move between
    // the two versions serves bit-identical files on both sides — it
    // cannot produce a change row, so the diff join reads ONLY the
    // changed buckets. Feed I/O ∝ changed data, not table size — the
    // incremental-consumer contract at 100 TB (Delta's CDF reads
    // recorded change files for the same reason). A bucket-modulus
    // change (split) moves every pointer, which correctly degrades to
    // the full diff.
    val (oldDf, newDf) =
      if (mFrom.buckets == mTo.buckets) {
        // "changed" compares the full bucket SIGNATURE (epoch pointer +
        // deletion-vector identity): a DV delete changes a bucket's
        // logical rows without moving its pointer, and skipping it would
        // silently drop the feed's delete rows
        val changed = (mFrom.epochs.keySet ++ mTo.epochs.keySet)
          .filter(b => bucketSig(mFrom, b) != bucketSig(mTo, b))
        // FILE granularity inside a changed bucket (fingerprint tables):
        // a merge rewrites the whole bucket, but the rewrite reproduces
        // every file whose row prefix was untouched — pair old/new files
        // by content fingerprint (multiset row identity, schema-signed)
        // and drop matched pairs from BOTH sides. Sound because a key
        // lives in exactly one row per snapshot and keeps its bucket:
        // a matched pair's keys carry identical rows on both sides, so
        // they cannot contribute a change row, and their key sets are
        // disjoint from the remaining files'. A one-key merge into a
        // 100-file bucket then diffs ~the one repacked tail file, not
        // the bucket.
        def pairedDrop(b: Int): (Set[String], Set[String]) = {
          (mFrom.stats.get(b), mTo.stats.get(b)) match {
            case (Some(of), Some(nf)) =>
              // pairing identity = content fingerprint PLUS deletion-
              // vector reference PLUS the file's applicable equality-
              // delete set: a file whose physical bytes match but whose
              // DV or eq-delete scope moved between the versions holds
              // DIFFERENT live rows on the two sides and must diff,
              // while an untouched file (same fp, same dv, same
              // eq-deletes) still pairs and skips
              def pairKey(m: Manifest)(f: FileStat): String =
                f.fp + "|" + f.dv + "|" +
                  applicableEqds(m, b, fileEpoch(m, b, f)).mkString(",")
              val oldByFp = of.filter(_.fp.nonEmpty).groupBy(pairKey(mFrom))
              val newByFp = nf.filter(_.fp.nonEmpty).groupBy(pairKey(mTo))
              val dropsO = Set.newBuilder[String]
              val dropsN = Set.newBuilder[String]
              // identity = epoch attribution + name: overlay files can
              // reuse part-file names across epoch dirs within a bucket
              oldByFp.foreach { case (fp, ofs) =>
                newByFp.get(fp).foreach { nfs =>
                  val k = math.min(ofs.size, nfs.size)
                  dropsO ++= ofs.take(k).map(f => f.e + "/" + f.name)
                  dropsN ++= nfs.take(k).map(f => f.e + "/" + f.name)
                }
              }
              (dropsO.result(), dropsN.result())
            case _ => (Set.empty, Set.empty)
          }
        }
        val drops: Map[Int, (Set[String], Set[String])] =
          if (mFrom.fingerprint && mTo.fingerprint)
            changed.toSeq.map(b => b -> pairedDrop(b)).toMap
          else Map.empty
        def side(m: Manifest, dropOf: Int => Set[String]): DataFrame =
          scanPinned(spark, dataPath, m, buckets = Some(changed),
            keep = b => Some(dropOf(b)).filter(_.nonEmpty)
              .map(dropped => f => !dropped(f.e + "/" + f.name)))
        (side(mFrom, b => drops.get(b).map(_._1).getOrElse(Set.empty)),
          side(mTo, b => drops.get(b).map(_._2).getOrElse(Set.empty)))
      } else {
        // modulus mismatch: full two-sided diff straight from
        // the manifests (no path-level version resolution needed)
        (scanPinned(spark, dataPath, mFrom), scanPinned(spark, dataPath, mTo))
      }
    // a feed that spans a RENAME serves every version under the CURRENT
    // column names (Delta CDF's column-mapping behavior): both sides
    // align to the current manifest by shared field id, so `keys` /
    // `compareCols` — callers pass current names — resolve on both
    // frames; columns since dropped vanish from the feed.
    val cur = currentManifest(fsFor(spark, dataPath), new Path(dataPath))
      .getOrElse(mTo)
    val oldAligned = alignToIds(oldDf, mFrom, cur)
    val newAligned = alignToIds(newDf, mTo, cur)
    // CONFORM both sides to the CURRENT schema (names already aligned by
    // field id above): a version that PREDATES a column addition
    // null-pads it, and a version that predates a type widening casts up
    // to the wide type (exact — widening is the only recorded type
    // change, by canWiden's rule). Without this, a feed window confined
    // to old versions either fails resolution on an added column or
    // serves narrow-typed rows under the wide schema the metadata table
    // / CDC stream declared from the current manifest.
    val cs = stripSchemaIds(cur.struct)
    def conform(df: DataFrame): DataFrame = {
      val have = df.schema.fields.map(f => f.name -> f.dataType).toMap
      if (cs.length == df.schema.length &&
          cs.fields.forall(f => have.get(f.name).contains(f.dataType))) df
      else df.select(cs.fields.toIndexedSeq.map { f =>
        have.get(f.name) match {
          case Some(t) if t == f.dataType => col(f.name)
          case Some(_) => col(f.name).cast(f.dataType).as(f.name)
          case None => lit(null).cast(f.dataType).as(f.name)
        }
      }: _*)
    }
    graft.operators.Reconcile.snapshotDiff(conform(oldAligned),
      conform(newAligned), keys, compareCols)
  }

  /** Test hook: replay the commit path of a table-creation race LOSER —
    * a writer that observed "no manifest", wrote its epoch under its own
    * `buckets` modulus, and only then discovers the winner's manifest in
    * the commit CAS. Drives the bucket-count conflict check
    * deterministically (the live race needs an interleaving no test can
    * force).
    */
  private[graft] def commitAsCreationLoser(spark: SparkSession,
                                           tablePath: String, rows: DataFrame,
                                           keys: Seq[String],
                                           buckets: Int): Unit =
    writeEpochAndCommit(spark, fsFor(spark, tablePath), tablePath, rows, keys,
      buckets, prev = None)

  /** Test/inspection hook: the latest committed bucket→epoch mapping. */
  private[graft] def currentEpochs(spark: SparkSession,
                                   tablePath: String): Map[Int, String] = {
    val fs = fsFor(spark, tablePath)
    currentManifest(fs, new Path(tablePath)).map(_.epochs).getOrElse(Map.empty)
  }

  /** The incremental-consumer loop over [[changeFeed]] — sync a
    * replica, feed a downstream index — reading change volume, never
    * the corpus, with a crash-safe persisted cursor: first call seeds
    * the replica from the source's latest pinned snapshot; every later
    * call applies each retained source version past the cursor as ONE
    * keyed commit (the feed's inserts/updates upsert their `new_*`
    * images and its deletes remove their keys together, so no reader
    * sees a version half-applied), advancing the cursor file after each
    * step. The cursor is written AFTER the apply, so a crash between
    * them redelivers one feed — harmless, because applying a feed is
    * idempotent (keyed upsert + keyed delete): the loop is exactly-once
    * in EFFECT under at-least-once execution. Liveness
    * contract: the consumer must sync within the source's retained
    * window ([[KeepManifests]] versions — under the default 2, at least
    * once per source commit; Delta's CDF has the same retention-bound
    * contract). A cursor that has aged out fails loudly (the feed's
    * [[pinManifest]]) instead of silently skipping changes — re-seed by
    * deleting the cursor file. Returns the new cursor.
    */
  def syncReplica(spark: SparkSession, sourcePath: String,
                  replicaPath: String, keys: Seq[String],
                  compareCols: Seq[String], buckets: Int = 64): Long = {
    val fs = fsFor(spark, replicaPath)
    val dir = new Path(replicaPath)
    val cursorFile = new Path(dir, "_sync-cursor")
    def readCursor(): Option[Long] =
      if (!fs.exists(cursorFile)) None
      else {
        val in = fs.open(cursorFile)
        val bytes =
          try org.apache.commons.io.IOUtils.toByteArray(in) finally in.close()
        scala.util.Try(new String(bytes, StandardCharsets.UTF_8)
          .trim.toLong).toOption
      }
    def writeCursor(v: Long): Unit = {
      // overwrite-in-place is fine: the cursor is advisory progress
      // state, and a torn write surfaces as an unparsable cursor that
      // fails the next sync loudly rather than skipping versions
      val out = fs.create(cursorFile, true)
      try out.write(v.toString.getBytes(StandardCharsets.UTF_8))
      finally out.close()
    }
    val sourceVersions = availableVersions(spark, sourcePath)
    require(sourceVersions.nonEmpty,
      s"syncReplica: source $sourcePath has no committed versions")
    val start = readCursor() match {
      case Some(c) => c
      case None =>
        if (fs.exists(cursorFile))
          throw new IllegalStateException(
            s"syncReplica: unparsable cursor at $cursorFile — delete it " +
              "to re-seed the replica from a full snapshot")
        // seed: full pinned snapshot of the latest source version
        val seed = sourceVersions.last
        merge(spark, replicaPath, readTableVersion(spark, sourcePath, seed),
          keys, buckets)
        writeCursor(seed)
        seed
    }
    sourceVersions.filter(_ > start).foldLeft(start) { (c, v) =>
      // the feed is read twice (upserts, deletes): staged once. The
      // write may create the replica — a seed from an empty snapshot
      // commits nothing
      withStaged("graft.sync-feed",
          changeFeed(spark, sourcePath, c, v, keys, compareCols)) {
        (feed, n) =>
          if (n > 0) keyedWrite(spark, KeyedWrite("syncReplica", "sync",
            ToTable(replicaPath), keys,
            Some(feed.filter(col("op").isin("insert", "update"))
              .select(keys.map(col) ++
                compareCols.map(x => col(s"new_$x").as(x)): _*)),
            Some(feed.filter(col("op") === "delete")), Replace(),
            buckets = buckets))
      }
      writeCursor(v)
      v
    }
  }

  /** L1/L3 — the custom-field load's transactional shape
    * (`state_load_processor_aurora.ts:39-113`): per incoming item, delete
    * ALL existing custom-field rows and insert the new set, deduped inline
    * on (workItemId, name, value). Replacing by item key is exactly a MERGE
    * keyed on the item id where every incoming row of that item survives —
    * stale fields of reloaded items disappear, untouched items keep theirs.
    */
  def loadCustomFields(spark: SparkSession, tablePath: String,
                       incoming: DataFrame): Unit =
    merge(spark, tablePath,
      incoming.dropDuplicates("workItemId", "name", "value"), Seq("workItemId"))
}
