package graft

import java.time.LocalDateTime

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.model._
import graft.operators.RevisionPipeline

/** End-to-end E1 slice over fixture raw Jira JSON (FIXTURES.md §1):
  * T1 explode → T4 event dates → T8/T9 snapshots + T10 states. The
  * reference has no test at this altitude — golden values are hand-derived
  * from the cited per-operator semantics.
  */
class RevisionPipelineSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val wf = WorkflowDef("org-1.10000.story", Seq(
    WorkflowStepDef("1", "To Do", 1),
    WorkflowStepDef("2", "In Progress", 2),
    WorkflowStepDef("3", "Done", 3)),
    WorkflowEventsDef(1, 2, 3))

  private lazy val raw = graft.sources.RawItems.read(spark,
    getClass.getResource("/raw_items.jsonl").getPath)
  private lazy val revisions = RevisionPipeline.explodeChangelog(raw)
  private lazy val dates = RevisionPipeline
    .eventDatesFor(revisions, Map(wf.workflowId -> wf), wf.workflowId)
    .toDF()

  test("T1: explode emits tracked changes plus the revision-0 pair") {
    val p1 = revisions.filter(col("workItemId") === "PROJ-1")
      .orderBy(col("revision").cast("int"), col("type")).collect()
    // rev0 state + rev0 assignee + 2 status changes + 1 assignee change
    assert(p1.length == 5)
    val rev0State = p1.find(r => r.getAs[String]("revision") == "0" &&
      r.getAs[String]("type") == "state_change").get
    // initial status = first state change's `from` (To Do), at created date
    assert(rev0State.getAs[String]("statusId") == "1")
    assert(rev0State.getAs[String]("statusName") == "To Do")
    assert(rev0State.getAs[LocalDateTime]("changedDate") ==
      LocalDateTime.of(2024, 1, 1, 9, 0))
    // flag-removal marker becomes a flagged=false 'flagged' row
    val p2 = revisions.filter(col("workItemId") === "PROJ-2" && col("type") === "flagged")
      .orderBy(col("revision")).collect()
    assert(p2.length == 2)
    assert(p2(0).getAs[Boolean]("flagged"))
    assert(!p2(1).getAs[Boolean]("flagged"))
  }

  test("T1: the explode is one narrow pass: no shuffle, window or join") {
    val plan = revisions.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val wide = plan.collect {
      case e: Exchange => e.nodeName
      case w: WindowExec => w.nodeName
      case j: BaseJoinExec => j.nodeName
    }
    assert(wide.isEmpty, plan.treeString)
  }

  test("T4: event dates per item") {
    val byId = dates.collect().map(r => r.getAs[String]("workItemId") -> r).toMap
    // PROJ-1: arrival = created (rev0 To Do), commitment = In Progress,
    // departure = Done
    val p1 = byId("PROJ-1")
    assert(p1.getAs[LocalDateTime]("arrival") == LocalDateTime.of(2024, 1, 1, 9, 0))
    assert(p1.getAs[LocalDateTime]("commitment") == LocalDateTime.of(2024, 1, 5, 10, 0))
    assert(p1.getAs[LocalDateTime]("departure") == LocalDateTime.of(2024, 2, 10, 12, 0))
    // PROJ-3: same-day To Do → In Progress → To Do suppresses commitment
    val p3 = byId("PROJ-3")
    assert(p3.getAs[LocalDateTime]("arrival") == LocalDateTime.of(2024, 1, 20, 8, 0))
    assert(p3.get(p3.fieldIndex("commitment")) == null)
    assert(p3.get(p3.fieldIndex("departure")) == null)
  }

  test("T8/T9: snapshots carry step context and flagged intervals") {
    val snaps = RevisionPipeline.snapshots(revisions, dates, wf)
    val p2 = snaps.filter(col("workItemId") === "PROJ-2")
      .orderBy(col("revision").cast("int")).collect()
    // order: rev0 state, rev0 assignee, 2001 state, 2002 flag, 2003 assignee, 2004 unflag
    assert(p2.length == 6)
    val byRev = p2.map(r => (r.getAs[String]("revision"), r.getAs[String]("type")) -> r).toMap
    // flag row inherits the previous state change's state context
    val flagRow = byRev(("2002", "flagged"))
    assert(flagRow.getAs[String]("statusName") == "In Progress")
    assert(flagRow.getAs[Int]("stateOrder") == 2)
    assert(flagRow.getAs[String]("stateType") == "active")
    assert(flagRow.getAs[Boolean]("flagged"))
    // the assignee revision inside the interval is flagged too
    assert(byRev(("2003", "assignee_change")).getAs[Boolean]("flagged"))
    // the unflag row reports false and inherits state context
    val unflag = byRev(("2004", "flagged"))
    assert(!unflag.getAs[Boolean]("flagged"))
    assert(unflag.getAs[String]("statusName") == "In Progress")
    // non-state rows get the 'not applicable' sentinel unless inherited
    val rev0Assignee = byRev(("0", "assignee_change"))
    assert(rev0Assignee.getAs[Int]("stateOrder") == -999)
    // state categories are point-in-time vs event dates
    val rev0State = byRev(("0", "state_change"))
    assert(rev0State.getAs[String]("stateCategory") == "proposed")
    val committed = byRev(("2001", "state_change"))
    assert(committed.getAs[String]("stateCategory") == "inprogress")
  }

  test("T10: states frame with keys and category") {
    val st = RevisionPipeline.states(raw, dates, "org-1", "ds-1")
    val rows = st.collect().map(r => r.getAs[String]("workItemId") -> r).toMap
    assert(rows("PROJ-1").getAs[String]("stateCategory") == "completed")
    assert(rows("PROJ-2").getAs[String]("stateCategory") == "inprogress")
    assert(rows("PROJ-3").getAs[String]("stateCategory") == "proposed")
    assert(rows("PROJ-1").getAs[String]("partitionKey") == "state#org-1")
    assert(rows("PROJ-1").getAs[String]("sortKey") == "ds-1#PROJ-1")
    assert(rows("PROJ-1").getAs[String]("assignedTo") == "Alice")
  }

  test("T10: parent chain, type-map lookup, current step, flagged scan") {
    val st = RevisionPipeline.states(raw, dates, "org-1", "ds-1",
      typeMaps = Seq(RevisionPipeline.TypeMapEntry(
        "10000", "Story", "wit-story", "Normalized Story", "Team", 14)),
      workflow = Some(wf),
      epicLinkFieldId = Some("customfield_10014"))
    val rows = st.collect().map(r => r.getAs[String]("workItemId") -> r).toMap
    // parent resolution chain: parent.key ∥ parent-link ∥ epic-link
    assert(rows("PROJ-1").getAs[String]("parentId") == "PROJ-100")
    assert(rows("PROJ-2").getAs[String]("parentId") == "PL-7")
    assert(rows("PROJ-3").getAs[String]("parentId") == "EPIC-3")
    // type map: normalized name, level, SLE days
    assert(rows("PROJ-1").getAs[String]("workItemType") == "Normalized Story")
    assert(rows("PROJ-1").getAs[String]("flomatikaWorkItemTypeLevel") == "Team")
    assert(rows("PROJ-1").getAs[Int](
      "flomatikaWorkItemTypeServiceLevelExpectationInDays") == 14)
    // current workflow step → stateType/stateOrder (string, per reference)
    assert(rows("PROJ-2").getAs[String]("stateOrder") == "2")
    // isItemFlagged: only PROJ-2 carries [{value: Impediment}]
    assert(!rows("PROJ-1").getAs[Boolean]("flagged"))
    assert(rows("PROJ-2").getAs[Boolean]("flagged"))
    assert(!rows("PROJ-3").getAs[Boolean]("flagged"))
  }

  test("isItemFlagged scans any field shape safely") {
    assert(RevisionPipeline.isItemFlaggedJson(
      """{"a": 1, "cf": [{"value": "Impediment"}]}"""))
    assert(RevisionPipeline.isItemFlaggedJson(
      """{"cf": [{"value": "Impedimento"}]}"""))
    assert(!RevisionPipeline.isItemFlaggedJson(
      """{"cf": [{"value": "Other"}], "links": [{"key": "X"}], "n": null}"""))
    assert(!RevisionPipeline.isItemFlaggedJson("""{"cf": []}"""))
    assert(!RevisionPipeline.isItemFlaggedJson(null))
  }
}
