package graft.sources

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{
  UnresolvedAttribute, UnresolvedFunction, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.{
  Alias, EqualTo, Expression, Literal}
import org.apache.spark.sql.catalyst.plans.InnerLike
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Join}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** DECLARATIVE MATERIALIZED VIEWS with incremental refresh (the
  * reference's insights-snapshot pattern,
  * `extract_flomatika_insights_processor.ts:328-473`, generalized the
  * way warehouse MVs generalize hand-rolled rollups): a defining
  * aggregation query is recorded ONCE, the result is a first-class
  * graft table (SELECT / time travel / describe all work), and
  * `refresh` maintains it OFF THE CHANGE FEED — cost ∝ rows changed
  * since the last refresh, never ∝ the source corpus. This subsumes
  * the q127 hand-rolled incremental rollup: what was a bespoke
  * pipeline becomes one `CALL gc.system.create_mv` + `refresh_mv`.
  *
  * MAINTAINABLE SHAPE (the self-maintainable fragment plus the two
  * standard extensions):
  * `SELECT <group cols>, <aggs> FROM <source> [JOIN <dim> ON a = b]
  * [WHERE pred] GROUP BY <group cols>` with aggs drawn from COUNT(*) /
  * COUNT(col) / SUM(col) / MIN(col) / MAX(col), COUNT(*) required (it
  * carries group liveness — a group whose last row leaves must VANISH
  * from the view, not linger as a zero row). AVG = SUM + COUNT, divide
  * at read. Anything else is rejected at create WITH the reason — a
  * silently-full-recompute "incremental" MV would be a lie at 100 TB.
  *
  * MIN/MAX maintain by RE-SCAN-ON-RETRACT (the standard warehouse
  * extension): inserts fold additively (`least`/`greatest` against the
  * stored extremum); a removal that TIES OR BEATS the stored extremum
  * may have been the extremum, so those groups — and only those — are
  * re-aggregated from the source in one pass restricted by a broadcast
  * semi-join on the group columns. Retraction is rare by construction
  * (the probability a churned row carried its group's extremum), and
  * the re-scan's I/O is one column-pruned source pass, never a
  * recompute of the whole view.
  *
  * DIM JOINS (the reference's actual A8 shape — facts ⋈ several small
  * config dims, `extract_flomatika_insights_processor.ts:328-473`):
  * the defining query may inner-join a STAR of dimension tables, each
  * on a single column equality (each ON may reference the source or
  * any earlier dim). Refresh joins the source's change rows against
  * the CURRENT dims by broadcast — change-proportional as long as the
  * dims are unchanged. Each dim's version is anchored in the MV's txn
  * ledger; a refresh that finds a dim advanced folds the DIM's own
  * change feed incrementally ([[dimIncremental]] — the reference's T13
  * automap mutates `workflowSteps` mid-pipeline, so dim churn is a
  * first-class event, not an anomaly): affected groups = the fact
  * groups holding a changed join key, re-aggregated in one restricted
  * pass. Full re-evaluation only when a window aged out of retention
  * or the churn passed the cap.
  *
  * REFRESH (exact, atomic, change-proportional):
  * 1. the source's change feed from the refreshed-through version to
  *    its head (bucket-pruned, fingerprint-paired — I/O ∝ changed
  *    rows);
  * 2. ±1-signed contribution images per CDC row — an insert adds its
  *    new image, a delete subtracts its old, an update does both —
  *    each side joined to the dim (if any) and re-filtered by the MV's
  *    WHERE (a predicate flip alone moves a row in or out of the
  *    view);
  * 3. delta-aggregate by group, folded against the MV's current rows
  *    for exactly the touched groups (a bounded point read); extremum
  *    retractions collect into the re-scan set;
  * 4. ONE atomic mixed commit: live groups upsert, vanished groups
  *    delete, and the refreshed-through version rides the commit's
  *    txn ledger — exactly-once under replay/crash, like every
  *    additive consumer of the feed.
  *
  * If retention dropped the refresh window, refresh falls back to ONE
  * full re-evaluation (logged in the returned window as from = -1) —
  * correct always, incremental whenever the feed allows. Group
  * columns are the MV's merge keys (keyed-table invariants: non-null,
  * one row per group); SUM columns are 0-seeded (an all-NULL group
  * reports 0 — the classic maintainable-MV concession, documented).
  */
object MaterializedViews {

  /** One parsed aggregate of the defining query: `fn` ∈ count_star /
    * count / sum / min / max; `col` empty for count_star.
    */
  private[sources] case class MvAgg(fn: String, col: String, alias: String)

  /** The optional dimension join: `path`/`name` locate the dim table,
    * `srcCol = dimCol` is the ON equality (resolved sides).
    */
  private[sources] case class MvDim(path: String, name: String,
                                    srcCol: String, dimCol: String)

  private[sources] case class MvDef(source: String, query: String,
                                    groupCols: Seq[String],
                                    aggs: Seq[MvAgg],
                                    whereSql: Option[String],
                                    createdVersion: Long,
                                    dims: Seq[MvDim] = Seq.empty)

  private val MvFileName = "_mv.json"
  private[sources] def txnApp(source: String): String = s"mv:$source"
  private[sources] def dimTxnApp(dimPath: String): String =
    s"mvdim:$dimPath"

  // ---- defining-query parsing ---------------------------------------------

  /** Parse + validate the defining query into the maintainable
    * fragment, rejecting anything the incremental algorithm cannot
    * maintain exactly. Returns (groupCols, aggs, whereSql, ON-equality
    * column pairs as written, one per declared dim in join order) —
    * column OWNERSHIP (src/earlier-dim vs dim) resolves in [[create]],
    * which holds all the schemas.
    */
  private[sources] def parseDefinition(spark: SparkSession, query: String,
                                       sourceName: String,
                                       dimNames: Seq[String] = Seq.empty)
      : (Seq[String], Seq[MvAgg], Option[String],
         Seq[(String, String)]) = {
    val plan = spark.sessionState.sqlParser.parsePlan(query)
    def fail(why: String): Nothing =
      throw new IllegalArgumentException(
        s"create_mv: defining query is not incrementally maintainable — " +
          s"$why. Maintainable shape: SELECT <group cols>, COUNT(*), " +
          "[COUNT(col) / SUM(col) / MIN(col) / MAX(col) AS alias ...] " +
          "FROM <source> [JOIN <dim> ON a = b] [WHERE pred] " +
          "GROUP BY <group cols> (AVG = SUM + COUNT, divide at read)")
    val agg = plan match {
      case a: Aggregate => a
      case _ => fail("it is not a single GROUP BY aggregation")
    }
    def relName(r: UnresolvedRelation): String =
      r.multipartIdentifier.last
    def matches(r: UnresolvedRelation, declared: String): Boolean =
      relName(r).equalsIgnoreCase(declared.split('.').last)
    def attrName(e: Expression): String = e match {
      case u: UnresolvedAttribute if u.nameParts.length == 1 =>
        u.nameParts.head
      case _ => fail(s"group/agg column '${e.sql}' must be a plain column")
    }
    // FROM shapes: source | source JOIN dim1 ON a = b [JOIN dim2 ON
    // c = d ...] — a LEFT-DEEP chain of inner dim joins in declaration
    // order (a star of broadcast dims; each ON may reference the
    // source or any earlier dim), optional WHERE
    def fromOf(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
        : Seq[(String, String)] = p match {
      case r: UnresolvedRelation =>
        if (!matches(r, sourceName))
          fail(s"FROM must start from the declared source " +
            s"'$sourceName'; got '${relName(r)}'")
        Seq.empty
      case Join(l, r: UnresolvedRelation, jt, cond, _) =>
        if (!jt.isInstanceOf[InnerLike])
          fail(s"only INNER dim joins are maintainable, got ${jt.sql}")
        val pre = fromOf(l)
        val idx = pre.length
        if (idx >= dimNames.length)
          fail(s"the query joins ${idx + 1} table(s) beyond the source " +
            s"but only ${dimNames.length} dim(s) were declared — pass " +
            "dims => 'd1,d2,...'")
        if (!matches(r, dimNames(idx)))
          fail(s"JOIN #${idx + 1} names '${relName(r)}' but declared " +
            s"dim #${idx + 1} is '${dimNames(idx)}' (dims join in " +
            "declaration order)")
        cond match {
          case Some(EqualTo(a: UnresolvedAttribute, b: UnresolvedAttribute))
              if a.nameParts.length == 1 && b.nameParts.length == 1 =>
            pre :+ ((a.nameParts.head, b.nameParts.head))
          case _ => fail("each dim join's ON must be one plain-column " +
            "equality (a = b)")
        }
      case _ => fail("FROM must be the source table, optionally " +
        "inner-joined to the declared dim tables (no subqueries)")
    }
    val (joinCols, whereSql) = agg.child match {
      case Filter(cond, child) => (fromOf(child), Some(cond.sql))
      case child => (fromOf(child), None)
    }
    if (joinCols.length != dimNames.length)
      fail(s"${dimNames.length} dim(s) declared " +
        s"(${dimNames.mkString(", ")}) but the query joins only " +
        s"${joinCols.length}")
    val groupCols = agg.groupingExpressions.map(attrName)
    if (groupCols.isEmpty) fail("GROUP BY is required (a global " +
      "aggregate has no merge key to maintain under)")
    val aggs = agg.aggregateExpressions.flatMap {
      case u: UnresolvedAttribute =>
        val n = attrName(u)
        if (!groupCols.exists(_.equalsIgnoreCase(n)))
          fail(s"output column '$n' is neither a group column nor an " +
            "aliased aggregate")
        None
      case Alias(child, alias) => Some(parseAgg(child, alias, fail))
      case other => fail(s"aggregate '${other.sql}' needs an alias " +
        "(the MV table's column name)")
    }
    if (!aggs.exists(_.fn == "count_star"))
      fail("include COUNT(*) — it carries group liveness (a group " +
        "whose last row leaves must vanish from the view)")
    val dup = (groupCols ++ aggs.map(_.alias))
      .groupBy(_.toLowerCase).collectFirst { case (n, vs) if vs.size > 1 => n }
    dup.foreach(n => fail(s"duplicate output column '$n'"))
    (groupCols, aggs, whereSql, joinCols)
  }

  private def parseAgg(e: Expression, alias: String,
                       fail: String => Nothing): MvAgg = e match {
    case f: UnresolvedFunction =>
      val fn = f.nameParts.last.toLowerCase
      // DISTINCT aggregates are NOT maintainable (a removal cannot tell
      // whether another row still carries the value) — they must not
      // slip through as their plain counterparts
      (fn, f.arguments) match {
        case _ if f.isDistinct => fail(s"aggregate '${e.sql}' — " +
          "DISTINCT aggregates are not incrementally maintainable")
        case ("count", Seq(Literal(1, _))) => MvAgg("count_star", "", alias)
        case ("count" | "sum" | "min" | "max",
              Seq(u: UnresolvedAttribute)) if u.nameParts.length == 1 =>
          MvAgg(fn, u.nameParts.head, alias)
        case _ => fail(s"aggregate '${e.sql}' — only COUNT(*), " +
          "COUNT(col), SUM(col), MIN(col) and MAX(col) are maintainable")
      }
    case _ => fail(s"'$alias' must be a COUNT(*) / COUNT(col) / " +
      "SUM(col) / MIN(col) / MAX(col)")
  }

  // ---- definition persistence ----------------------------------------------

  private def writeDef(fs: FileSystem, mvPath: String, d: MvDef): Unit = {
    def js(s: String) =
      com.fasterxml.jackson.databind.node.TextNode.valueOf(s).toString
    val body = "{\"source\":" + js(d.source) +
      ",\"query\":" + js(d.query) +
      ",\"group\":[" + d.groupCols.map(js).mkString(",") + "]" +
      ",\"aggs\":[" + d.aggs.map(a => "{\"fn\":" + js(a.fn) +
        ",\"col\":" + js(a.col) + ",\"alias\":" + js(a.alias) + "}")
        .mkString(",") + "]" +
      d.whereSql.map(w => ",\"where\":" + js(w)).getOrElse("") +
      (if (d.dims.isEmpty) "" else
        ",\"dims\":[" + d.dims.map(x => "{\"path\":" + js(x.path) +
          ",\"name\":" + js(x.name) + ",\"sk\":" + js(x.srcCol) +
          ",\"dk\":" + js(x.dimCol) + "}").mkString(",") + "]") +
      ",\"createdv\":" + d.createdVersion + "}"
    val p = new Path(s"$mvPath/$MvFileName")
    val out = fs.create(p, false) // exclusive: one definition, immutable
    try out.write(body.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }

  private[sources] def readDef(spark: SparkSession, mvPath: String): MvDef = {
    val fs = new Path(mvPath).getFileSystem(
      spark.sessionState.newHadoopConf())
    val p = new Path(s"$mvPath/$MvFileName")
    require(fs.exists(p), s"$mvPath is not a materialized view (no " +
      "recorded definition)")
    val in = fs.open(p)
    val body = try {
      val bos = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, bos, 8192, false)
      bos.toString("UTF-8")
    } finally in.close()
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(body)
    val aggsN = node.get("aggs")
    MvDef(node.get("source").asText(), node.get("query").asText(),
      (0 until node.get("group").size())
        .map(node.get("group").get(_).asText()),
      (0 until aggsN.size()).map { i =>
        val a = aggsN.get(i)
        MvAgg(a.get("fn").asText(), a.get("col").asText(),
          a.get("alias").asText())
      },
      Option(node.get("where")).map(_.asText()),
      node.get("createdv").asLong(),
      // "dims" (round 15's star of dims); a pre-15 definition's single
      // "dim" object reads as a one-element star
      Option(node.get("dims")).map(arr =>
        (0 until arr.size()).map { i =>
          val x = arr.get(i)
          MvDim(x.get("path").asText(), x.get("name").asText(),
            x.get("sk").asText(), x.get("dk").asText())
        }).getOrElse(
        Option(node.get("dim")).map(x => MvDim(x.get("path").asText(),
          x.get("name").asText(), x.get("sk").asText(),
          x.get("dk").asText())).toSeq))
  }

  // ---- create / refresh / status -------------------------------------------

  /** The dim side joined in: broadcast (dims are small by contract),
    * the dim's join column renamed away so a same-named source column
    * survives unambiguously.
    */
  private def joinDim(src: DataFrame, dimDf: DataFrame,
                      dim: MvDim): DataFrame =
    src.join(broadcast(dimDf.withColumnRenamed(dim.dimCol, "__graft_dimk")),
      col(dim.srcCol) === col("__graft_dimk"))
      .drop("__graft_dimk")

  /** The pre-aggregation frame of the defining query: source (⋈ each
    * dim in declaration order) (WHERE), optionally restricted to a
    * broadcast set of groups (the extremum re-scan).
    */
  private def preAgg(src: DataFrame, dims: Seq[(DataFrame, MvDim)],
                     whereSql: Option[String],
                     restrictTo: Option[(DataFrame, Seq[String])])
      : DataFrame = {
    val joined = dims.foldLeft(src) { case (acc, (df, dm)) =>
      joinDim(acc, df, dm) }
    val filtered = whereSql.fold(joined)(w => joined.where(expr(w)))
    restrictTo.fold(filtered) { case (keys, cols) =>
      filtered.join(broadcast(keys.select(cols.map(col): _*).distinct()),
        cols, "left_semi")
    }
  }

  private def aggExprOf(a: MvAgg) = a.fn match {
    case "count_star" => count(lit(1)).as(a.alias)
    case "count" => count(col(a.col)).as(a.alias)
    // 0-seeded (see object doc): additive maintenance cannot tell
    // "all-NULL group" from "empty contribution"
    case "sum" => coalesce(sum(col(a.col)), lit(0)).as(a.alias)
    case "min" => min(col(a.col)).as(a.alias)
    case "max" => max(col(a.col)).as(a.alias)
  }

  /** The defining aggregation evaluated over a source frame — the one
    * full evaluation at create, the retention fallback, and (restricted
    * by group) the extremum re-scan.
    */
  private def evaluate(src: DataFrame, dims: Seq[(DataFrame, MvDim)],
                       groupCols: Seq[String], aggs: Seq[MvAgg],
                       whereSql: Option[String],
                       restrictTo: Option[DataFrame] = None): DataFrame =
    preAgg(src, dims, whereSql, restrictTo.map((_, groupCols)))
      .groupBy(groupCols.map(col): _*)
      .agg(aggExprOf(aggs.head), aggs.tail.map(aggExprOf): _*)

  /** A table's current column names and types from its manifest — no
    * parquet relation build (which checks and lists every live bucket
    * directory) per refresh.
    */
  private def currentSchema(spark: SparkSession, path: String): StructType =
    MergeWriter.pinManifest(spark, path, None, None)
      .map(_.struct)
      .getOrElse(MergeWriter.readTable(spark, path).schema)

  private def dimFrames(spark: SparkSession,
                        d: MvDef): Seq[(DataFrame, MvDim)] =
    d.dims.map(x => (MergeWriter.readTable(spark, x.path), x))

  /** Create the MV: parse + validate the defining query, evaluate it
    * ONCE over the source's current version, and commit the result as
    * a keyed graft table whose txn ledger records the
    * refreshed-through source version — the atomic exactly-once anchor
    * every later refresh advances. Each dim's version is anchored too
    * (refresh folds a moved dim's change feed incrementally, full
    * re-evaluation only past the churn cap / out of retention).
    */
  def create(spark: SparkSession, mvPath: String, sourcePath: String,
             sourceName: String, query: String, buckets: Int = 16,
             dims: Seq[(String, String)] = Seq.empty): Unit = {
    val (groupCols, aggs, whereSql0, joinCols) =
      parseDefinition(spark, query, sourceName, dims.map(_._2))
    val srcMan = MergeWriter.pinManifest(spark, sourcePath, None, None)
      .getOrElse(throw new IllegalArgumentException(
        s"create_mv: source $sourcePath is not a graft table"))
    require(srcMan.keyCols.nonEmpty,
      s"create_mv: source $sourcePath records no merge keys — the " +
        "change feed that drives refresh is keyed")
    val src = MergeWriter.readTable(spark, sourcePath)
    // dim resolution, in join order: pin each version (the refresh
    // staleness anchor) and resolve each ON equality's sides against
    // the ACCUMULATED left schema (source + earlier dims) vs this dim
    var leftFields: Array[org.apache.spark.sql.types.StructField] =
      src.schema.fields
    val dimResolved: Seq[(MvDim, DataFrame, Long)] =
      dims.zip(joinCols).map { case ((dimPath, dimName), (a, b)) =>
        val dimMan = MergeWriter.pinManifest(spark, dimPath, None, None)
          .getOrElse(throw new IllegalArgumentException(
            s"create_mv: dim $dimPath is not a graft table"))
        require(dimMan.keyCols.nonEmpty,
          s"create_mv: dim $dimPath records no merge keys — the " +
            "change feed that drives incremental dim maintenance is keyed")
        val dimDf = MergeWriter.readTable(spark, dimPath)
        def inLeft(c: String) = leftFields
          .exists(_.name.equalsIgnoreCase(c))
        def inDim(c: String) = dimDf.schema.fieldNames
          .exists(_.equalsIgnoreCase(c))
        val mv =
          // natural-join shape (ON k = k): the shared name IS the join
          // column on both sides
          if (a.equalsIgnoreCase(b) && inLeft(a) && inDim(a))
            MvDim(dimPath, dimName, a, b)
          else (inLeft(a), inDim(a), inLeft(b), inDim(b)) match {
            case (true, false, _, true) => MvDim(dimPath, dimName, a, b)
            case (_, true, true, false) => MvDim(dimPath, dimName, b, a)
            case (true, true, _, _) | (_, _, true, true) =>
              throw new IllegalArgumentException(
                s"create_mv: join column ambiguity — '$a'/'$b' must " +
                  "each live in exactly one of source(+earlier dims)/" +
                  s"'$dimName'")
            case _ => throw new IllegalArgumentException(
              s"create_mv: join columns '$a'/'$b' do not resolve to one " +
                s"source(+earlier dims) column and one '$dimName' column")
          }
        // every non-join dim column must not collide with a column
        // already in scope — plain-name references would be ambiguous
        val clash = dimDf.schema.fieldNames
          .filterNot(_.equalsIgnoreCase(mv.dimCol))
          .filter(c => leftFields.exists(_.name.equalsIgnoreCase(c)))
        require(clash.isEmpty,
          s"create_mv: dim '$dimName' column(s) ${clash.mkString(", ")} " +
            "collide with source/earlier-dim columns — rename them in " +
            "the dim")
        leftFields = leftFields ++ dimDf.schema.fields
          .filterNot(_.name.equalsIgnoreCase(mv.dimCol))
        (mv, dimDf, dimMan.version)
    }
    val combined = StructType(leftFields)
    // validate the WHERE against the (joined) schema NOW — a qualified
    // (`src.x`) or unknown reference must fail at create with the
    // reason, not at the first refresh's feed projection (the
    // CHECK-constraint rule: normalize qualifiers, reject unknowns)
    val whereSql = whereSql0.map { w =>
      val refs = MergeWriter.checkPredicateColumns(spark, w, combined)
      val unknown = refs.filterNot(r =>
        combined.fieldNames.exists(_.equalsIgnoreCase(r)))
      if (unknown.nonEmpty) throw new IllegalArgumentException(
        s"create_mv: WHERE references unknown column(s) " +
          s"${unknown.mkString(", ")} — available columns: " +
          combined.fieldNames.mkString(", "))
      MergeWriter.normalizeCheckSql(spark, w, combined)
    }
    val fs = new Path(mvPath).getFileSystem(
      spark.sessionState.newHadoopConf())
    val root = new Path(mvPath)
    require(!MergeWriter.hasManifest(fs, root),
      s"create_mv: $mvPath already holds a table")
    // a definition file WITHOUT a table is a crashed create's remnant
    // (the definition is written last, below) — clear it so create is
    // re-runnable
    val defP = new Path(s"$mvPath/$MvFileName")
    if (fs.exists(defP)) fs.delete(defP, false)
    val dimPair = dimResolved.map(x => (x._2, x._1))
    val initial = evaluate(src, dimPair, groupCols, aggs, whereSql)
    val preExisted = fs.exists(root)
    fs.mkdirs(root)
    try {
      // table + initial rows first (the merge's txn ledger carries the
      // refreshed-through anchor — even an empty initial result records
      // it, the empty-changeset rule)
      MergeWriter.createTable(spark, mvPath, initial.schema, groupCols,
        buckets = buckets, clusterBy = groupCols.take(1))
      MergeWriter.merge(spark, mvPath, initial, groupCols,
        txn = Some((txnApp(sourcePath), srcMan.version)))
      dimResolved.foreach { case (mv, _, dimV) =>
        MergeWriter.recordTxn(spark, mvPath, (dimTxnApp(mv.path), dimV))
      }
    } catch {
      case e: Throwable =>
        if (!preExisted) fs.delete(root, true)
        throw e
    }
    // definition LAST: its presence marks a COMPLETE MV (table +
    // anchored initial rows already committed). A crash anywhere above
    // leaves a path readDef rejects loudly — never an anchor-less MV
    // that refresh would silently fold deltas into.
    writeDef(fs, mvPath, MvDef(sourcePath, query, groupCols, aggs,
      whereSql, srcMan.version, dimResolved.map(_._1)))
  }

  /** One full re-evaluation committed with fresh anchors — the
    * retention / dim-moved / too-many-groups fallback. The dim version
    * pins BEFORE the evaluation (a dim advancing mid-evaluation then
    * re-derives dim-moved next refresh — the safe direction).
    *
    * `atomic = true` (retention / group-cap, dim unmoved): the src
    * anchor rides the overwrite commit — exactly-once, and a crash
    * re-derives the same fallback from the unchanged decision inputs.
    * `atomic = false` (dim moved): the src anchor may already sit AT
    * `to`, which would replay-skip a txn-anchored overwrite — so the
    * overwrite commits unanchored and the anchors record in dependency
    * order, dim LAST: any crash before the dim anchor re-derives
    * dim-moved and re-runs the (idempotent) re-evaluation, and the src
    * anchor is never ahead of data that contains its window.
    */
  private def fullReeval(spark: SparkSession, mvPath: String, d: MvDef,
                         to: Long, atomic: Boolean): Unit = {
    val dimV = d.dims.map(x => MergeWriter.pinManifest(spark, x.path,
      None, None).map(_.version).getOrElse(-1L))
    val dimP = dimFrames(spark, d)
    val full = evaluate(MergeWriter.readTable(spark, d.source), dimP,
      d.groupCols, d.aggs, d.whereSql)
    if (atomic)
      MergeWriter.overwriteTable(spark, mvPath, full, d.groupCols,
        txn = Some((txnApp(d.source), to)))
    else {
      MergeWriter.overwriteTable(spark, mvPath, full, d.groupCols)
      MergeWriter.recordTxn(spark, mvPath, (txnApp(d.source), to))
    }
    d.dims.zip(dimV).foreach { case (x, v) =>
      MergeWriter.recordTxn(spark, mvPath, (dimTxnApp(x.path), v))
    }
  }

  /** The dims that moved since the MV's txn ledger `txns` last anchored
    * them: (dim, anchored version — -1 when never anchored — current
    * version). The one rule [[refresh]] folds by and [[status]]
    * reports.
    */
  private def movedSince(spark: SparkSession, d: MvDef,
                         txns: Map[String, Long]): Seq[(MvDim, Long, Long)] =
    d.dims.flatMap { x =>
      val cur = MergeWriter.pinManifest(spark, x.path, None, None)
        .map(_.version).getOrElse(-1L)
      val anchored = txns.getOrElse(dimTxnApp(x.path), -1L)
      if (anchored == cur) None else Some((x, anchored, cur))
    }

  /** INCREMENTAL DIM MAINTENANCE: fold a moved dim's own change feed
    * instead of re-evaluating the whole view. A changed dim row can
    * only perturb the fact groups holding its JOIN KEY, so the refresh
    * (1) reads each moved dim's change feed for the distinct changed
    * join-key values, (2) finds the affected groups — the groups of
    * pre-agg rows carrying a changed key under the OLD dim versions or
    * under the NEW (both sides, because a dim change can move rows
    * across groups or across the WHERE), evaluated over the source AT
    * the refreshed-through version so the later source-delta fold
    * composes exactly, and (3) re-aggregates exactly those groups
    * against the NEW dims — upserting the recomputed rows and deleting
    * affected groups that vanished. Cost ∝ rows in the affected
    * groups: the per-dim restricted passes become file-pruned
    * IN-list point reads when the churn fits [[PointKeyMax]] literals
    * and the join column lives in the source (broadcast semi-joins
    * otherwise), and the re-aggregation is one group-restricted pass.
    * Shuffle and MV write are churn-bounded either way — never the
    * view.
    *
    * Returns false — caller falls back to ONE full re-evaluation —
    * when the fold cannot be exact or bounded: a dim anchor was never
    * recorded, the source's refreshed-through version or a dim's
    * anchored version aged out of retention, the dim-key churn passed
    * [[MaxIncrementalGroups]], or the affected-group set did.
    *
    * Exactly-once: the mixed commit anchors on the FIRST moved dim's
    * ledger entry; remaining dim anchors record after (dependency
    * order — a crash between re-derives a smaller moved set and
    * re-runs the idempotent fold).
    */
  private def dimIncremental(spark: SparkSession, mvPath: String,
                             d: MvDef, srcFrom: Long,
                             moved: Seq[(MvDim, Long, Long)]): Boolean = {
    if (moved.exists(_._2 < 0)) return false
    if (!MergeWriter.availableVersions(spark, d.source).contains(srcFrom))
      return false
    if (moved.exists { case (x, a, _) =>
        !MergeWriter.availableVersions(spark, x.path).contains(a) })
      return false
    // per moved dim: the DISTINCT changed join-key values off its feed
    // (key-col joins ride plain; non-key join cols as old_/new_ images)
    val keyFrames: Seq[(MvDim, DataFrame)] = moved.map { case (x, a, c) =>
      val dimKeys = MergeWriter.pinManifest(spark, x.path, None, None)
        .map(_.keyCols).getOrElse(Seq.empty)
      if (dimKeys.isEmpty) return false
      // compare EVERY non-key dim column: an empty compare list is a
      // presence-only diff, which would miss attribute UPDATEs — and
      // over-inclusion (a changed column the view never reads) only
      // re-aggregates groups to the same values. Dims are small by
      // contract; the feed is bucket-pruned regardless.
      val keyIsJoin = dimKeys.exists(_.equalsIgnoreCase(x.dimCol))
      val nonKey = currentSchema(spark, x.path).fieldNames
        .filterNot(cn => dimKeys.exists(_.equalsIgnoreCase(cn))).toSeq
      val feed = MergeWriter.changeFeed(spark, x.path, a, c, dimKeys,
        nonKey)
      val ck =
        if (keyIsJoin) feed.select(col(x.dimCol).as("__ck"))
        else feed.select(col(s"old_${x.dimCol}").as("__ck"))
          .unionByName(feed.select(col(s"new_${x.dimCol}").as("__ck")))
      (x, ck.where(col("__ck").isNotNull).distinct())
    }
    // past the checks: `changedKeys` maps each moved dim to its staged
    // distinct changed join keys and their count
    def fold(changedKeys: Map[String, (DataFrame, Long)]): Boolean = {
      val srcAtFrom = MergeWriter.readTableVersion(spark, d.source,
        srcFrom)
      val srcFields = srcAtFrom.schema.fieldNames
      // bounded literal collection per moved dim: a tiny churn becomes
      // an IN-list the pinned-version read can FILE-PRUNE on (stats +
      // Bloom on a clustered/bloomed join column — the point-read
      // shape); bigger churns restrict by broadcast semi-join instead
      val PointKeyMax = 1024
      val keyLits: Map[String, Option[Seq[Any]]] =
        changedKeys.map { case (p, (rows, n)) =>
          p -> (if (n > PointKeyMax) None
            else Some(rows.collect().toSeq.map(_.get(0))))
        }
      def dimsAt(old: Boolean): Seq[(DataFrame, MvDim)] = d.dims.map { x =>
        val df = moved.find(_._1.path == x.path) match {
          case Some((_, a, _)) if old =>
            MergeWriter.readTableVersion(spark, x.path, a)
          case _ => MergeWriter.readTable(spark, x.path)
        }
        (df, x)
      }
      // groups whose contribution involves dim x's changed keys, under
      // one dim-version set (each side applies ITS OWN dims + WHERE —
      // a row passing the WHERE only under the other side is caught
      // by that side)
      def groupsVia(x: MvDim, dims: Seq[(DataFrame, MvDim)])
          : DataFrame = {
        val keysOf = changedKeys(x.path)._1
        val inSource = srcFields.exists(_.equalsIgnoreCase(x.srcCol))
        if (inSource) {
          val restricted = keyLits(x.path) match {
            // a metadata-only dim commit moves the version with no
            // changed keys: nothing restricts to nothing
            case Some(vs) if vs.isEmpty => srcAtFrom.where(lit(false))
            case Some(vs) => MergeWriter.readTableVersionWhere(spark,
              d.source, srcFrom, Seq(MergeWriter.ColumnIn(x.srcCol, vs)))
            case None => srcAtFrom.join(broadcast(keysOf
                .select(col("__ck").as(x.srcCol))),
              Seq(x.srcCol), "left_semi")
          }
          preAgg(restricted, dims, d.whereSql, None)
            .select(d.groupCols.map(col): _*).distinct()
        } else {
          // the join key comes from an EARLIER dim: restrict post-join
          preAgg(srcAtFrom, dims, d.whereSql, None)
            .join(broadcast(keysOf), col(x.srcCol) === col("__ck"),
              "left_semi")
            .select(d.groupCols.map(col): _*).distinct()
        }
      }
      val affected = moved.map(_._1).flatMap(x =>
          Seq(groupsVia(x, dimsAt(old = true)),
            groupsVia(x, dimsAt(old = false))))
        .reduce(_ unionByName _).distinct()
      // staged once: the re-aggregation's restriction and the vanished-
      // group anti-join both read it, and its count is the cap check
      MergeWriter.withStaged("graft.mv-dim", affected) { (affected, n) =>
        if (n > MaxIncrementalGroups) false
        else if (n == 0L) {
          // the churned dim keys touch no contributing group (absent
          // from the source / outside the WHERE) — just re-pin
          moved.foreach { case (x, _, c) =>
            MergeWriter.recordTxn(spark, mvPath, (dimTxnApp(x.path), c)) }
          true
        } else {
          val mvSchema = currentSchema(spark, mvPath)
          val recomputed = evaluate(srcAtFrom, dimsAt(old = false),
            d.groupCols, d.aggs, d.whereSql, restrictTo = Some(affected))
          val cast = recomputed.select((d.groupCols.map(col) ++
            d.aggs.map(a =>
              col(a.alias).cast(mvSchema(a.alias).dataType).as(a.alias))): _*)
          val dels = affected.join(
            cast.select(d.groupCols.map(col): _*), d.groupCols, "left_anti")
          val (x0, _, c0) = moved.head
          MergeWriter.applyChanges(spark, mvPath, cast, dels, d.groupCols,
            opName = "refresh_mv_dim", txn = Some((dimTxnApp(x0.path), c0)))
          moved.tail.foreach { case (x, _, c) =>
            MergeWriter.recordTxn(spark, mvPath, (dimTxnApp(x.path), c)) }
          true
        }
      }
    }
    // each dim's changed keys are staged once (the point-key collect
    // and the per-side restrictions read them); a churn past the cap
    // stops before staging the next dim
    def staged(rest: Seq[(MvDim, DataFrame)],
               acc: Map[String, (DataFrame, Long)]): Boolean = rest match {
      case (x, ck) +: more =>
        MergeWriter.withStaged("graft.mv-dim", ck) { (rows, n) =>
          n <= MaxIncrementalGroups &&
            staged(more, acc + (x.path -> ((rows, n))))
        }
      case _ => fold(acc)
    }
    staged(keyFrames, Map.empty)
  }

  /** Incremental refresh: advance the MV to the source's head off the
    * change feed. Returns the applied (from, to) window — from = -1
    * marks a full re-evaluation (retention fallback, dim moved, or
    * group-cap overflow) — or None when already fresh. Replay-safe:
    * the txn ledger skips an already-folded window.
    *
    * Every frame the refresh reads more than once is staged once
    * ([[MergeWriter.withStaged]]) and released on every exit: the
    * delta (`graft.mv-delta`, the one query that reads the source's
    * change feed), the fold (`graft.mv-fold`), and a moved dim's
    * changed keys and affected groups (`graft.mv-dim`). The staging
    * passes' counts answer the empty / incremental / over-cap and
    * re-scan questions — no separate probe query runs.
    */
  def refresh(spark: SparkSession, mvPath: String): Option[(Long, Long)] = {
    val d = readDef(spark, mvPath)
    val srcMan = MergeWriter.pinManifest(spark, d.source, None, None)
      .getOrElse(throw new IllegalStateException(
        s"refresh_mv: source ${d.source} lost its manifest"))
    val mvMan = MergeWriter.pinManifest(spark, mvPath, None, None)
      .getOrElse(throw new IllegalStateException(
        s"refresh_mv: $mvPath lost its manifest"))
    // the anchor is written by create's initial merge and advanced by
    // every refresh — its ABSENCE means the MV's create never completed
    // (or the ledger was lost). Trusting createdVersion here would fold
    // deltas into a base that never held the initial evaluation.
    val from = mvMan.txns.getOrElse(txnApp(d.source),
      throw new IllegalStateException(
        s"refresh_mv: $mvPath has no '${txnApp(d.source)}' anchor in " +
          "its txn ledger — the create did not complete; drop the path " +
          "and re-create the MV"))
    val to = srcMan.version
    // a MOVED DIM invalidates the folded contributions of exactly the
    // fact groups holding the changed join keys — fold the DIM's own
    // change feed (incremental, churn-proportional); full
    // re-evaluation only when the dim window aged out or the churn
    // passed the cap. Checked even when the source is fresh: the view
    // must track the dim too.
    val movedDims = movedSince(spark, d, mvMan.txns)
    val dimFolded =
      if (movedDims.isEmpty) false
      else if (dimIncremental(spark, mvPath, d, from, movedDims)) true
      else {
        fullReeval(spark, mvPath, d, to, atomic = false)
        return Some((-1L, to))
      }
    if (to <= from) return if (dimFolded) Some((from, to)) else None
    // retention fallback: a window whose base version aged out cannot
    // diff — ONE full re-evaluation (correct always, incremental
    // whenever the feed allows), same txn anchor
    if (!MergeWriter.availableVersions(spark, d.source).contains(from)) {
      fullReeval(spark, mvPath, d, to, atomic = true)
      return Some((-1L, to))
    }
    val keys = srcMan.keyCols
    // the feed carries every SOURCE column the definition touches
    // (group + agg + WHERE + join references that live in the source);
    // merge keys ride plain; dim-side columns arrive via the broadcast
    // dim join below
    val srcFields = currentSchema(spark, d.source).fieldNames
    def inSrc(c: String) = srcFields.exists(_.equalsIgnoreCase(c))
    val whereCols = d.whereSql.toSeq.flatMap(w =>
      spark.sessionState.sqlParser.parseExpression(w).collect {
        case a: UnresolvedAttribute => a.nameParts.head
      })
    val needed = (d.groupCols ++ d.aggs.map(_.col).filter(_.nonEmpty) ++
      whereCols ++ d.dims.map(_.srcCol))
      .distinct.filter(inSrc).filterNot(keys.contains)
    // the ±1-signed union below builds an OLD-image side and a NEW-image
    // side over this one feed, inside the ONE query that stages the
    // delta. Not staged on its own: the optimizer plans each side's op
    // filter into a one-sided outer join that broadcasts the other
    // snapshot (no shuffle), so a feed staging job would cost more than
    // the second read of the changed files it saves
    val feed = MergeWriter.changeFeed(spark, d.source, from, to, keys,
      needed)
    val dimP = dimFrames(spark, d)
    // ±1-signed contribution images: old for update/delete, new for
    // update/insert, each side joined to the (now-pinned) dims and
    // re-filtered by the MV's WHERE
    def side(prefix: String, ops: Seq[String], sign: Int): DataFrame = {
      val img = feed.where(col("op").isin(ops: _*))
        .select((keys.map(col) ++
          needed.map(c => col(s"$prefix$c").as(c)) :+
          lit(sign).as("__sign")): _*)
      val joined = dimP.foldLeft(img) { case (acc, (df, dm)) =>
        joinDim(acc, df, dm) }
      d.whereSql.fold(joined)(w => joined.where(expr(w)))
    }
    val signed = side("old_", Seq("update", "delete"), -1)
      .unionByName(side("new_", Seq("update", "insert"), 1))
    val deltaAggs = d.aggs.flatMap { a =>
      a.fn match {
        case "count_star" => Seq(sum(col("__sign")).as(a.alias))
        case "count" => Seq(sum(when(col(a.col).isNotNull, col("__sign"))
          .otherwise(0)).as(a.alias))
        case "sum" => Seq(sum(when(col(a.col).isNotNull,
          col(a.col) * col("__sign")).otherwise(lit(0))).as(a.alias))
        // min/max: the inserted side's extremum folds additively; the
        // removed side's extremum decides retraction (a removal that
        // ties or beats the stored extremum forces the re-scan)
        case "min" => Seq(
          min(when(col("__sign") === 1, col(a.col))).as(s"__ins_${a.alias}"),
          min(when(col("__sign") === -1, col(a.col))).as(s"__del_${a.alias}"))
        case "max" => Seq(
          max(when(col("__sign") === 1, col(a.col))).as(s"__ins_${a.alias}"),
          max(when(col("__sign") === -1, col(a.col))).as(s"__del_${a.alias}"))
      }
    }
    // staged once: the point read's keys and the fold read it, and its
    // group count answers 0 / incremental / over the cap
    MergeWriter.withStaged("graft.mv-delta",
        signed.groupBy(d.groupCols.map(col): _*)
          .agg(deltaAggs.head, deltaAggs.tail: _*)) { (delta, groups) =>
      refreshWithDelta(spark, mvPath, d, delta, groups, from, to)
    }
  }

  /** Touched-group cap: past it the point-read keying (a bounded
    * driver collect by contract) stops being bounded, so the refresh
    * re-evaluates fully instead — for a churn that big the full
    * evaluation is competitive anyway.
    */
  private[graft] val MaxIncrementalGroups = 100000L

  /** Fold the staged `delta` (`groups` rows, one per touched group) into
    * the MV. An empty delta only moves the anchor; past
    * [[MaxIncrementalGroups]] the MV re-evaluates fully; otherwise the
    * fold of the touched groups' stored rows is staged once and commits
    * as one mixed change set.
    */
  private def refreshWithDelta(spark: SparkSession, mvPath: String,
                               d: MvDef, delta: DataFrame, groups: Long,
                               from: Long, to: Long): Option[(Long, Long)] = {
    // an advanced source version with an empty contribution (e.g. a
    // churn outside the WHERE) must still move the anchor, or every
    // later refresh re-diffs the same window
    if (groups == 0L) {
      MergeWriter.recordTxn(spark, mvPath, (txnApp(d.source), to))
      return Some((from, to))
    }
    if (groups > MaxIncrementalGroups) {
      fullReeval(spark, mvPath, d, to, atomic = true)
      return Some((-1L, to))
    }
    // current MV rows for exactly the touched groups (bounded point
    // read), folded, then ONE atomic mixed commit: live groups upsert,
    // vanished groups delete, the version anchor in the same ledger
    val mvSchema: StructType = currentSchema(spark, mvPath)
    val cur = MergeWriter.readKeys(spark, mvPath,
      delta.select(d.groupCols.map(col): _*), d.groupCols)
    val starAlias = d.aggs.find(_.fn == "count_star").get.alias
    val minmax = d.aggs.filter(a => a.fn == "min" || a.fn == "max")
    // cur's plan CONTAINS delta (the point read is keyed by it) — a
    // name-prefixed projection breaks the self-join ambiguity
    val deltaCols = d.groupCols ++ d.aggs.flatMap { a =>
      if (minmax.contains(a)) Seq(s"__ins_${a.alias}", s"__del_${a.alias}")
      else Seq(a.alias)
    }
    val dd = delta.select(deltaCols.map(c => col(c).as(s"__d_$c")): _*)
    val joined = cur.join(dd,
      d.groupCols.map(c => col(c) <=> col(s"__d_$c")).reduce(_ && _),
      "full_outer")
    // per min/max agg: additive fold (least/greatest skip NULLs) and
    // the retraction test against the STORED extremum
    val foldCols =
      d.groupCols.map(c => coalesce(col(c), col(s"__d_$c")).as(c)) ++
      d.aggs.map { a =>
        if (minmax.contains(a)) {
          val fold = if (a.fn == "min")
            least(col(a.alias), col(s"__d___ins_${a.alias}"))
          else greatest(col(a.alias), col(s"__d___ins_${a.alias}"))
          fold.cast(mvSchema(a.alias).dataType).as(a.alias)
        } else
          (coalesce(col(a.alias), lit(0)) +
            coalesce(col(s"__d_${a.alias}"), lit(0)))
            .cast(mvSchema(a.alias).dataType).as(a.alias)
      }
    val rescanPred = minmax.map { a =>
      val cmp = if (a.fn == "min")
        col(s"__d___del_${a.alias}") <= col(a.alias)
      else col(s"__d___del_${a.alias}") >= col(a.alias)
      col(a.alias).isNotNull && col(s"__d___del_${a.alias}").isNotNull && cmp
    }.reduceOption(_ || _).getOrElse(lit(false))
    // `folded` embeds the MV point read and the full_outer fold and is
    // read by the upsert side, the delete side and the re-scan keys:
    // staged once, bounded by the touched-group cap. The flag marks the
    // LIVE groups whose extremum must re-scan, and its count from the
    // staging pass spares the common refresh (no extremum retracted) a
    // source scan for an empty semi-join.
    val fold = joined.select((foldCols :+ rescanPred.as("__graft_rescan")): _*)
      .withColumn("__graft_rescan",
        col("__graft_rescan") && col(starAlias) > 0)
    MergeWriter.withStaged("graft.mv-fold", fold,
        flag = Some("__graft_rescan")) { (folded, rescans) =>
      val ups0 = folded.where(col(starAlias) > 0 && !col("__graft_rescan"))
        .drop("__graft_rescan")
      val dels = folded.where(col(starAlias) <= 0)
        .select(d.groupCols.map(col): _*)
      // extremum re-scan: exactly the flagged groups re-aggregate from
      // the source in one restricted, column-pruned pass (their
      // count/sum recompute too — exact either way)
      val ups =
        if (rescans == 0L) ups0
        else {
          val rescan = evaluate(MergeWriter.readTable(spark, d.source),
            dimFrames(spark, d), d.groupCols, d.aggs, d.whereSql,
            restrictTo = Some(folded.where(col("__graft_rescan"))))
          val cast = rescan.select((d.groupCols.map(col) ++ d.aggs.map(a =>
            col(a.alias).cast(mvSchema(a.alias).dataType).as(a.alias))): _*)
          ups0.unionByName(cast)
        }
      MergeWriter.applyChanges(spark, mvPath, ups, dels, d.groupCols,
        opName = "refresh_mv", txn = Some((txnApp(d.source), to)))
    }
    Some((from, to))
  }

  /** Freshness probe: (source path, refreshed-through version, source
    * current version). Fresh ⇔ the two versions match (and the dim, if
    * any, has not moved — a moved dim reports the source head + 1 so
    * the flag reads stale).
    */
  def status(spark: SparkSession, mvPath: String): (String, Long, Long) = {
    val d = readDef(spark, mvPath)
    val mvMan = MergeWriter.pinManifest(spark, mvPath, None, None)
      .getOrElse(throw new IllegalStateException(
        s"mv_status: $mvPath lost its manifest"))
    val srcV = MergeWriter.pinManifest(spark, d.source, None, None)
      .map(_.version).getOrElse(-1L)
    val dimMoved = movedSince(spark, d, mvMan.txns).nonEmpty
    // agree with refresh: a ledger MISSING the source anchor means the
    // create never completed (or the ledger was lost) — report
    // refreshed-through -1 (never "fresh") instead of trusting
    // createdVersion where refresh would throw
    (d.source, mvMan.txns.getOrElse(txnApp(d.source), -1L),
      if (dimMoved) srcV + 1 else srcV)
  }
}
