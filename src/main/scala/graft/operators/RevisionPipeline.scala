package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StructType}
import graft.model._

/** The E1 pipeline: raw Jira-shaped work items → revision stream → event
  * dates → states + snapshots fact frames (SURVEY §3 E1).
  *
  * The reference runs this per item inside a Lambda consuming SQS
  * (`src/jiracloud/process/revision_processor.ts`); here the whole table is
  * one declarative job. The changelog explode reads each document in one
  * narrow pass (no shuffle: every value it derives comes from the
  * document's own arrays); the event-date kernel's per-item key and the
  * snapshots' revision window are the only shuffles. Each pipeline step is
  * one projection (`select`), so the analyzer sees a handful of nodes per
  * step instead of one per derived column.
  */
object RevisionPipeline {

  /** T1 — changelog explode + normalize (`revision_processor.ts:335-500`).
    *
    * Emits one row per tracked change: `status` / `assignee` / `Flagged` /
    * blocked-reason / discarded-reason field changes with non-empty targets,
    * plus flag-removal markers (`Flagged` with empty to/toString), plus the
    * synthesized revision-0 pair (initial status from the first state
    * change's `from`, else the current status; initial assignee from the
    * first assignee change's `fromString`). "First" orders a document's
    * changes by changedDate, nulls first, ties in document order; it
    * counts only non-null values, each pick on its own. Every document
    * yields its own revision-0 pair, also when two share a key. Rows with
    * empty statusId or statusName are dropped (`:494-498`).
    *
    * Plan: two narrow branches over `raw`, unioned — the rev-0 pair (one
    * fold over the document's `histories`, then one explode of a
    * two-element array) and the changes (explode, one filter, one
    * projection). No shuffle, window or join.
    *
    * Expected input schema (FIXTURES.md §1): `key`, `fields{created,
    * status{id,name}, assignee{displayName}, ...}`,
    * `changelog{histories[{id, created, items[{field, fieldId, from,
    * fromString, to, toString}]}]}`.
    */
  def explodeChangelog(raw: DataFrame,
                       blockedReasonFieldId: Option[String] = None,
                       discardedReasonFieldId: Option[String] = None): DataFrame = {
    val changedAt = (created: Column) => to_timestamp(created).cast("timestamp_ntz")
    val nonEmpty = (c: Column) => c.isNotNull && c =!= ""
    val emptyOrNull = (c: Column) => c.isNull || c === ""
    val nullStr = lit(null).cast("string")

    // one changelog item's classification (`:358-438`); `it` is a column
    // or a lambda variable of the item struct
    def isBlocked(it: Column) = blockedReasonFieldId.fold(lit(false))(it("fieldId") === _)
    def isDiscarded(it: Column) = discardedReasonFieldId.fold(lit(false))(it("fieldId") === _)
    // flag-removal marker (`:358-380`): Flagged with empty to/toString
    def isRemoval(it: Column) =
      it("field") === "Flagged" && emptyOrNull(it("to")) && emptyOrNull(it("toString"))
    // tracked field change with non-empty targets (`:381-438`); never a
    // removal, so `isRemoval` is false on every tracked row
    def isTracked(it: Column) = nonEmpty(it("to")) && nonEmpty(it("toString")) &&
      (it("field") === "status" || it("field") === "assignee" ||
        it("field") === "Flagged" || isBlocked(it) || isDiscarded(it))

    // revision-0 inputs (`:442-492`), folded over the document's own
    // histories: per pick the earliest non-null value, where a candidate
    // replaces the held one only if its changedDate sorts strictly first
    // (nulls first), so ties keep document order. `at` carries the current
    // history's changedDate into the item fold.
    val itemType = raw.schema("changelog").dataType.asInstanceOf[StructType]("histories")
      .dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]("items")
      .dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]
    val noTime = lit(null).cast("timestamp_ntz")
    def none(field: String) = struct(lit(false).as("set"), noTime.as("at"),
      lit(null).cast(itemType(field).dataType).as("v"))
    def pick(held: Column, at: Column, candidate: Column, v: Column) =
      when(candidate && v.isNotNull && (!held("set") ||
          (held("at").isNotNull && (at.isNull || at < held("at")))),
        struct(lit(true).as("set"), at.as("at"), v.as("v")))
        .otherwise(held)
    val fold = (acc: Column, it: Column) => {
      val isState = isTracked(it) && it("field") === "status"
      val isAssignee = isTracked(it) && it("field") === "assignee"
      struct(acc("at").as("at"),
        pick(acc("from"), acc("at"), isState, it("from")).as("from"),
        pick(acc("fromString"), acc("at"), isState, it("fromString")).as("fromString"),
        pick(acc("assignee"), acc("at"), isAssignee, it("fromString")).as("assignee"))
    }
    val firsts = aggregate(col("changelog.histories"),
      struct(noTime.as("at"), none("from").as("from"),
        none("fromString").as("fromString"), none("fromString").as("assignee")),
      (acc, h) => coalesce(
        aggregate(h("items"), acc.withField("at", changedAt(h("created"))), fold), acc))

    val rev0Row = (tpe: String, assignee: Column) => struct(
      col("workItemId"), lit("0").as("historyId"), col("createdDate").as("changedDate"),
      col("statusId"), col("statusName"), col("statusName").as("statusText"),
      col("statusId").as("from"), lit("").as("fromString"), lit("0").as("revision"),
      lit(tpe).as("type"), assignee.as("assignee"), nullStr.as("blockedReason"),
      nullStr.as("discardedReason"), lit(false).as("flagged"))
    val rev0 = raw
      .select(col("key").as("workItemId"),
        changedAt(col("fields.created")).as("createdDate"),
        col("fields.status.id").as("curId"), col("fields.status.name").as("curName"),
        firsts.as("firsts"))
      .select(col("workItemId"), col("createdDate"),
        coalesce(col("firsts.from.v"), col("curId")).as("statusId"),
        coalesce(col("firsts.fromString.v"), col("curName")).as("statusName"),
        col("firsts.assignee.v").as("firstAssignee"))
      .filter(nonEmpty(col("statusId")) && nonEmpty(col("statusName")))
      .select(inline(array(rev0Row("state_change", nullStr),
        rev0Row("assignee_change", col("firstAssignee")))))

    val it = col("it")
    val field = it("field")
    val toStr = it("toString")
    val removal = isRemoval(it)
    val changes = raw
      .select(col("key").as("workItemId"), explode(col("changelog.histories")).as("h"))
      .select(col("workItemId"), col("h.id").as("historyId"),
        changedAt(col("h.created")).as("changedDate"), explode(col("h.items")).as("it"))
      .filter(removal || isTracked(it))
      .select(col("workItemId"), col("historyId"), col("changedDate"),
        when(removal, lit("flagged")).otherwise(it("to")).as("statusId"),
        when(removal, lit("flagged")).otherwise(toStr).as("statusName"),
        when(removal, lit("flagged")).when(field === "status", toStr)
          .otherwise(lit("")).as("statusText"),
        it("from").as("from"), it("fromString").as("fromString"),
        col("historyId").as("revision"),
        when(field === "status", "state_change")
          .when(field === "Flagged", "flagged")
          .when(field === "assignee", "assignee_change")
          .when(isBlocked(it), "blocked_reason")
          .when(isDiscarded(it), "discarded_reason").as("type"),
        when(field === "assignee", toStr).as("assignee"),
        when(!removal && isBlocked(it), toStr).as("blockedReason"),
        when(!removal && isDiscarded(it), toStr).as("discardedReason"),
        (field === "Flagged" && !removal).as("flagged"))

    rev0.unionByName(changes)
  }

  /** Event dates per item from the state-change revisions only
    * (`processRevisions` `:243,286` — the kernel sees state changes; the
    * snapshot builder sees all revisions).
    */
  def eventDatesFor(revisions: DataFrame, workflows: Map[String, WorkflowDef],
                    workflowId: String): Dataset[EventDatesRow] = {
    val spark = revisions.sparkSession
    import spark.implicits._
    val revs = revisions
      .filter(col("type") === "state_change")
      .select(col("workItemId"), lit(workflowId).as("workflowId"),
        col("revision").cast("int").as("revision"),
        col("statusId"), col("statusName"),
        col("changedDate").cast("timestamp_ntz").as("changedDate"),
        col("type").as("revisionType"))
      .as[WorkItemRevision]
    EventDateExtractor.extract(revs, workflows)
  }

  /** T8 + T9 — snapshot rows from all revisions (`revision_processor.ts:
    * 671-830` createSnapshots/translateSnapshots + `utils.ts:60-116`
    * processFlaggedRevisions):
    *
    *  - one snapshot per revision, stamped with `flomatikaSnapshotDate` =
    *    changedDate, `isDelayed` = revision ≥ delayedRevision;
    *  - step lookup (stateOrder/stateType/stepCategory) only for
    *    state_change rows, else the reference's `-999 / 'not applicable'`;
    *  - `stateCategory` = point-in-time classification vs the event dates;
    *  - flag/unflag rows inherit the row-varying fields of the previous
    *    state_change revision; all rows between flag and unflag (exclusive)
    *    are `flagged = true`; a leading flag row gets stateType 'queue'.
    */
  def snapshots(allRevisions: DataFrame, eventDates: DataFrame,
                wf: WorkflowDef): DataFrame = {
    val spark = allRevisions.sparkSession
    val stepRows = wf.steps.map(s => (s.id, s.name, s.order, s.stateType))
    import spark.implicits._
    val steps = stepRows.toDF("__sid", "__sname", "stateOrder", "stateType")
    val b = EventDateExtractor.bands(wf)

    // eventDates has work-item cardinality — NOT a broadcastable dimension
    // at scale. Shuffle join on the item key (AQE will still broadcast it
    // when the actual size is small).
    val withDates = allRevisions.join(
      eventDates.select(col("workItemId"),
        col("arrival"), col("commitment"), col("departure"),
        col("delayedRevision")),
      Seq("workItemId"), "left")

    val isState = col("type") === "state_change"
    val stateOrder = when(isState, col("stateOrder")).otherwise(lit(-999))
    val joined = withDates
      .join(broadcast(steps),
        isState && col("statusId") === col("__sid") && col("statusName") === col("__sname"),
        "left")
      .select(withDates.columns.map(col).toIndexedSeq ++ Seq(
        stateOrder.as("stateOrder"),
        when(isState, col("stateType")).otherwise(lit("not applicable")).as("stateType"),
        when(col("type") =!= "state_change", lit("not applicable"))
          .otherwise(stepCategoryCol(stateOrder,
            b.arrivalPointOrder, b.commitmentPointOrder, b.departurePointOrder))
          .as("stepCategory"),
        when(col("arrival").isNull || col("changedDate") < col("arrival"), "preceding")
          .when(col("commitment").isNull || col("changedDate") < col("commitment"), "proposed")
          .when(col("departure").isNull || col("changedDate") < col("departure"), "inprogress")
          .otherwise("completed").as("stateCategory"),
        (col("delayedRevision").isNotNull &&
          col("revision").cast("int") >= col("delayedRevision")).as("isDelayed"),
        col("changedDate").as("flomatikaSnapshotDate")): _*)

    // ---- T9 flagged pass (utils.ts:60-116) ----
    val wOrd = Window.partitionBy(col("workItemId")).orderBy(col("revision").cast("int"))
    val wPrev = wOrd.rowsBetween(Window.unboundedPreceding, -1)
    val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)

    val isFlagRow = col("type") === "flagged"
    val copied = Seq("changedDate", "statusId", "statusName", "statusText",
      "stateOrder", "stateType", "stepCategory", "stateCategory", "assignee",
      "blockedReason", "discardedReason", "isDelayed")

    val prevState = last(
      when(isState, struct(copied.map(col): _*)),
      ignoreNulls = true).over(wPrev)

    val marker = when(isFlagRow && col("flagged"), 1)
      .when(isFlagRow && !col("flagged"), 0)
    val interval = coalesce(last(marker, ignoreNulls = true).over(wRun), lit(0)) === 1

    val prev = col("__prev")
    val inherit = isFlagRow && prev.isNotNull
    joined.select(col("*"), prevState.as("__prev"), interval.as("__interval"))
      .select(joined.columns.toIndexedSeq.map {
        // a leading flag row with no prior state change → stateType 'queue'
        case "stateType" => when(isFlagRow && prev.isNull, "queue")
          .when(inherit, prev("stateType")).otherwise(col("stateType")).as("stateType")
        // interval fill; the unflag row itself reports false (marker 0 at row)
        case "flagged" => col("__interval").as("flagged")
        case c if copied.contains(c) => when(inherit, prev(c)).otherwise(col(c)).as(c)
        case c => col(c)
      }: _*)
  }

  private def stepCategoryCol(order: Column,
                              a: Option[Int], c: Option[Int], d: Option[Int]) = {
    val aO = lit(a.getOrElse(Int.MaxValue))
    val cO = lit(c.getOrElse(Int.MaxValue))
    val dO = lit(d.getOrElse(Int.MaxValue))
    when(order < aO, "preceding")
      .when(order >= aO && order < cO, "proposed")
      .when(order >= cO && order < dO, "inprogress")
      .when(order >= dO, "completed")
      .otherwise("invalid")
  }

  /** A (projectId, typeName) → normalized-type row of the workItemTypeMap
    * dimension (`work_item_type_aurora.ts:53-93`; SLE/level lookup
    * `revision_processor.ts:843-874`).
    */
  case class TypeMapEntry(
      projectId: String,
      typeName: String,
      workItemTypeId: String,
      displayName: String,
      level: String,
      serviceLevelExpectationInDays: Int)

  /** Field names whose presence marks an item flagged
    * (`revision_processor.ts:24-28` flaggedFieldNames: the Jira Flagged
    * custom-field option values, locale variants included).
    */
  val FlaggedValues: Set[String] = Set("Impediment", "Impedimento")

  // one per JVM: `readTree` is thread-safe once the mapper is configured
  private val JsonMapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** `isItemFlagged` (`revision_processor.ts:1038-1053`): scan ALL fields;
    * flagged iff any field value is a non-empty array whose first element's
    * `value` is a flagged marker. The scan is genuinely dynamic (fields are
    * `[propName: string]: any`), so it runs as a UDF over the fields JSON.
    */
  private[graft] def isItemFlaggedJson(fieldsJson: String): Boolean = {
    if (fieldsJson == null) return false
    val root = JsonMapper.readTree(fieldsJson)
    val it = root.fields()
    var flagged = false
    while (it.hasNext && !flagged) {
      val v = it.next().getValue
      if (v.isArray && v.size() > 0 && v.get(0).has("value") &&
        FlaggedValues.contains(v.get(0).get("value").asText()))
        flagged = true
    }
    flagged
  }

  /** T10 — current-state rows (`revision_processor.ts:831-941`
    * translateWorkItem): one row per item with
    *
    *  - the parent resolution chain (`:879-898`): `fields.parent.key` ∥
    *    Jira-server parent-link field ∥ epic-link custom field;
    *  - workItemTypeMap lookup (`:843-874`): normalized type id/name,
    *    level, SLE days — broadcast dimension join on (project, type);
    *  - current workflow step → state/stateType/stateOrder;
    *  - `isItemFlagged` all-fields scan (`:1038-1053`);
    *  - event dates, category by date presence, stepCategory;
    *  - the synthesized partition/sort keys used for the MERGE
    *    (`state_load_processor_aurora.ts:49-50`).
    */
  def states(raw: DataFrame, eventDates: DataFrame,
             orgId: String, datasourceId: String,
             typeMaps: Seq[TypeMapEntry] = Seq.empty,
             workflow: Option[WorkflowDef] = None,
             parentLinkFieldId: String = "customfield_15503",
             epicLinkFieldId: Option[String] = None): DataFrame = {
    val spark = raw.sparkSession
    import spark.implicits._
    val fieldNames = raw.schema("fields").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames.toSet
    val nullStr = lit(null).cast("string")
    def fieldOrNull(name: String) =
      if (fieldNames.contains(name)) col("fields").getField(name).cast("string")
      else nullStr
    // parent resolution chain (`:879-898`)
    val parentKey =
      if (fieldNames.contains("parent")) col("fields.parent.key")
      else nullStr
    val parent = coalesce(parentKey, fieldOrNull(parentLinkFieldId),
      epicLinkFieldId.map(fieldOrNull).getOrElse(nullStr))

    val flaggedUdf = udf(isItemFlaggedJson _)

    val base = raw.select(
      col("key").as("workItemId"),
      col("fields.summary").as("title"),
      col("fields.issuetype.name").as("rawItemType"),
      col("fields.status.id").as("__curSid"),
      col("fields.status.name").as("state"),
      col("fields.assignee.displayName").as("assignedTo"),
      col("fields.project.id").as("projectId"),
      parent.as("parentId"),
      flaggedUdf(to_json(col("fields"))).as("flagged"),
      to_timestamp(col("fields.updated")).cast("timestamp_ntz").as("changedDate"))

    // current workflow step → stateType/stateOrder (`workflowStep` input
    // of translateWorkItem; step identity is the (id, name) pair)
    val (withStep, stepCols) = workflow match {
      case None =>
        (base, Seq(nullStr.as("stateType"), nullStr.as("stateOrder")))
      case Some(wf) =>
        val steps = wf.steps.map(s => (s.id, s.name, s.order, s.stateType))
          .toDF("__sid", "__sname", "__sorder", "__stype")
        (base.join(broadcast(steps),
            col("__curSid") === col("__sid") && col("state") === col("__sname"), "left"),
          Seq(col("__stype").as("stateType"), col("__sorder").cast("string").as("stateOrder")))
    }

    // workItemTypeMap dimension join (broadcast: config-sized by nature)
    val (withType, typeCols) =
      if (typeMaps.isEmpty)
        (withStep, Seq(nullStr.as("flomatikaWorkItemTypeId"),
          col("rawItemType").as("workItemType"),
          nullStr.as("flomatikaWorkItemTypeLevel"),
          lit(null).cast("int").as("flomatikaWorkItemTypeServiceLevelExpectationInDays")))
      else {
        val tm = typeMaps
          .map(t => (t.projectId, t.typeName, t.workItemTypeId, t.displayName,
            t.level, t.serviceLevelExpectationInDays))
          .toDF("__tproj", "__ttype", "flomatikaWorkItemTypeId",
            "__tdisplay", "flomatikaWorkItemTypeLevel",
            "flomatikaWorkItemTypeServiceLevelExpectationInDays")
        (withStep.join(broadcast(tm),
            col("projectId") === col("__tproj") &&
              col("rawItemType") === col("__ttype"), "left"),
          Seq(col("flomatikaWorkItemTypeId"), col("flomatikaWorkItemTypeLevel"),
            col("flomatikaWorkItemTypeServiceLevelExpectationInDays"),
            coalesce(col("__tdisplay"), col("rawItemType")).as("workItemType")))
      }

    withType
      .join(eventDates // item-cardinality side: shuffle join, AQE decides
        .select(col("workItemId"), col("arrival").as("arrivalDate"),
          col("commitment").as("commitmentDate"), col("departure").as("departureDate"),
          col("isDelayed"), col("stepCategory")),
        Seq("workItemId"), "left")
      .select(Seq("workItemId", "title", "state", "assignedTo", "projectId",
          "parentId", "flagged", "changedDate").map(col) ++ stepCols ++ typeCols ++
        Seq("arrivalDate", "commitmentDate", "departureDate", "isDelayed",
          "stepCategory").map(col) ++ Seq(
        when(col("departureDate").isNotNull, "completed")
          .when(col("commitmentDate").isNotNull, "inprogress")
          .when(col("arrivalDate").isNotNull, "proposed")
          .otherwise("preceding").as("stateCategory"),
        concat(lit("state#"), lit(orgId)).as("partitionKey"),
        concat(lit(datasourceId), lit("#"), col("workItemId")).as("sortKey")): _*)
  }
}
