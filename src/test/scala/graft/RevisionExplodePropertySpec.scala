package graft

import java.time.LocalDateTime

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.RevisionPipeline

/** Property test for the T1 changelog explode: `explodeChangelog` against a
  * plain-Scala model of `revision_processor.ts:335-500`, which walks each
  * document's histories and items in order, one document at a time.
  *
  * The model pins what the explode defines beyond the reference's happy
  * path: "first" state/assignee change orders by changedDate with nulls
  * (absent or unparseable `created`) first and ties in document order;
  * each revision-0 pick takes the first non-null value on its own; null
  * `histories` / `items` contribute nothing; a blocked or discarded field
  * id may equal `status` or `assignee` (the type stays the field's, the
  * reason column is filled too). Documents are generated in batches, one
  * Spark job per batch, with keys from a small pool so batches hold
  * repeated keys.
  */
class RevisionExplodePropertySpec extends AnyFunSuite with BeforeAndAfterAll {

  // unparseable timestamps must read as NULL, as `new Date(x)` yields an
  // invalid date in the reference; ANSI mode would raise instead
  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.ansi.enabled", "false")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  case class Item(field: String, fieldId: String, from: String, fromString: String,
                  to: String, toStr: String)
  case class History(id: String, created: String, items: Option[Seq[Item]])
  case class Doc(key: String, created: String, statusId: String, statusName: String,
                 histories: Option[Seq[History]])

  /** One explode output row, in the frame's column order. */
  type Out = (String, String, LocalDateTime, String, String, String, String, String,
    String, String, String, String, String, java.lang.Boolean)

  // the timestamp pool: equal values are frequent, NULL and an unparseable
  // string both parse to None
  private val times = Map(
    "2024-01-01T10:00:00Z" -> Some(LocalDateTime.of(2024, 1, 1, 10, 0)),
    "2024-01-01T11:00:00Z" -> Some(LocalDateTime.of(2024, 1, 1, 11, 0)),
    "2024-01-02T09:30:00Z" -> Some(LocalDateTime.of(2024, 1, 2, 9, 30)),
    "not a date" -> None)
  private def parse(s: String): Option[LocalDateTime] =
    Option(s).flatMap(times)

  private def opt[T](g: Gen[T]): Gen[T] =
    Gen.frequency(1 -> Gen.const(null.asInstanceOf[T]), 6 -> g)
  private val genTime = opt(Gen.oneOf(times.keys.toSeq))
  private val genValue = Gen.oneOf(null, "", "1", "2", "To Do", "Done")
  private val genItem = for {
    field <- Gen.oneOf(null, "status", "assignee", "Flagged", "Blocked", "Sprint")
    fieldId <- Gen.oneOf(null, "status", "assignee", "customfield_1",
      "customfield_2", "customfield_10021")
    vs <- Gen.listOfN(4, genValue)
  } yield Item(field, fieldId, vs(0), vs(1), vs(2), vs(3))
  private val genHistory = for {
    id <- Gen.choose(1, 999).map(_.toString)
    created <- genTime
    n <- Gen.choose(0, 3)
    items <- Gen.frequency(1 -> Gen.const(None), 8 -> Gen.listOfN(n, genItem).map(Some(_)))
  } yield History(id, created, items)
  private val genDoc = for {
    key <- Gen.oneOf("K-1", "K-2", "K-3", "K-4")
    created <- genTime
    statusId <- Gen.oneOf(null, "", "1", "3")
    statusName <- Gen.oneOf(null, "", "To Do", "Done")
    n <- Gen.choose(0, 5)
    hs <- Gen.frequency(1 -> Gen.const(None), 8 -> Gen.listOfN(n, genHistory).map(Some(_)))
  } yield Doc(key, created, statusId, statusName, hs)
  private val genIds = Gen.oneOf(None, Some("customfield_1"), Some("status"), Some("assignee"))
  private val genBatch = for {
    n <- Gen.choose(0, 40)
    docs <- Gen.listOfN(n, genDoc)
    blocked <- genIds
    discarded <- genIds
  } yield (docs, blocked, discarded)

  /** The reference's per-item loop over one document. */
  private def model(d: Doc, blocked: Option[String], discarded: Option[String]): Seq[Out] = {
    def nonEmpty(s: String) = s != null && s.nonEmpty
    val items = for {
      h <- d.histories.getOrElse(Nil)
      it <- h.items.getOrElse(Nil)
    } yield (h, parse(h.created), it)
    def isBlocked(it: Item) = blocked.contains(it.fieldId)
    def isDiscarded(it: Item) = discarded.contains(it.fieldId)
    def isRemoval(it: Item) = it.field == "Flagged" && !nonEmpty(it.to) && !nonEmpty(it.toStr)
    def isTracked(it: Item) = nonEmpty(it.to) && nonEmpty(it.toStr) &&
      (Set("status", "assignee", "Flagged")(it.field) || isBlocked(it) || isDiscarded(it))

    val changes: Seq[Out] = items.collect {
      case (h, at, it) if isRemoval(it) =>
        (d.key, h.id, at.orNull, "flagged", "flagged", "flagged", it.from, it.fromString,
          h.id, "flagged", null, null, null, java.lang.Boolean.FALSE)
      case (h, at, it) if isTracked(it) =>
        val tpe = it.field match {
          case "status" => "state_change"
          case "Flagged" => "flagged"
          case "assignee" => "assignee_change"
          case _ => if (isBlocked(it)) "blocked_reason" else "discarded_reason"
        }
        (d.key, h.id, at.orNull, it.to, it.toStr, if (it.field == "status") it.toStr else "",
          it.from, it.fromString, h.id, tpe,
          if (it.field == "assignee") it.toStr else null,
          if (isBlocked(it)) it.toStr else null,
          if (isDiscarded(it)) it.toStr else null,
          if (it.field == null) null else java.lang.Boolean.valueOf(it.field == "Flagged"))
    }

    // first by changedDate, nulls first; the stable sort keeps document
    // order on ties
    val ordered = items.sortBy { case (_, at, _) =>
      (at.isDefined, at.fold(0L)(_.toEpochSecond(java.time.ZoneOffset.UTC)))
    }
    def first(kind: String, v: Item => String): Option[String] = ordered.collectFirst {
      case (_, _, it) if isTracked(it) && it.field == kind && v(it) != null => v(it)
    }
    val statusId = first("status", _.from).getOrElse(d.statusId)
    val statusName = first("status", _.fromString).getOrElse(d.statusName)
    val assignee = first("assignee", _.fromString).orNull
    val created = parse(d.created).orNull
    def rev0(tpe: String, a: String): Out = (d.key, "0", created, statusId, statusName,
      statusName, statusId, "", "0", tpe, a, null, null, java.lang.Boolean.FALSE)
    val rev0Pair =
      if (nonEmpty(statusId) && nonEmpty(statusName))
        Seq(rev0("state_change", null), rev0("assignee_change", assignee))
      else Nil
    rev0Pair ++ changes
  }

  private val itemType = StructType(Seq("field", "fieldId", "from", "fromString", "to",
    "toString").map(StructField(_, StringType)))
  private val schema = StructType(Seq(
    StructField("key", StringType),
    StructField("fields", StructType(Seq(
      StructField("created", StringType),
      StructField("status", StructType(Seq(
        StructField("id", StringType), StructField("name", StringType))))))),
    StructField("changelog", StructType(Seq(
      StructField("histories", ArrayType(StructType(Seq(
        StructField("id", StringType),
        StructField("created", StringType),
        StructField("items", ArrayType(itemType)))))))))))

  private def toRow(d: Doc): Row = Row(d.key,
    Row(d.created, if (d.statusId == null && d.statusName == null) null
      else Row(d.statusId, d.statusName)),
    Row(d.histories.map(_.map(h => Row(h.id, h.created, h.items.map(_.map(it =>
      Row(it.field, it.fieldId, it.from, it.fromString, it.to, it.toStr))).orNull))).orNull))

  private def explode(docs: Seq[Doc], blocked: Option[String],
                      discarded: Option[String]): Seq[Out] = {
    // an RDD-backed frame, so the plan runs as it does over a scan rather
    // than being folded into a local relation at planning time
    val raw = spark.createDataFrame(spark.sparkContext.parallelize(docs.map(toRow), 2), schema)
    RevisionPipeline.explodeChangelog(raw, blocked, discarded).collect().toSeq.map { r =>
      (r.getString(0), r.getString(1), r.getAs[LocalDateTime](2), r.getString(3),
        r.getString(4), r.getString(5), r.getString(6), r.getString(7), r.getString(8),
        r.getString(9), r.getString(10), r.getString(11), r.getString(12),
        r.get(13).asInstanceOf[java.lang.Boolean])
    }
  }

  private def sorted(rows: Seq[Out]): Seq[String] = rows.map(_.toString).sorted

  test("explodeChangelog matches the per-document model of revision_processor.ts") {
    val prop = Prop.forAll(genBatch) { case (docs, blocked, discarded) =>
      val got = sorted(explode(docs, blocked, discarded))
      val want = sorted(docs.flatMap(model(_, blocked, discarded)))
      Prop(got == want) :| s"blocked=$blocked discarded=$discarded\n" +
        s"only engine: ${got.diff(want)}\nonly model: ${want.diff(got)}"
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(40), prop)
    assert(res.passed, res.status.toString)
  }

  test("two documents with the same key each yield their own revision-0 pair") {
    val item = (from: String, to: String) => Item("status", "status", from, from, to, to)
    val a = Doc("K-1", "2024-01-01T10:00:00Z", "3", "Done", Some(Seq(
      History("11", "2024-01-01T11:00:00Z", Some(Seq(item("1", "3"),
        Item("assignee", "assignee", "u1", "Ann", "u2", "Bob")))))))
    val b = Doc("K-1", "2024-01-01T10:00:00Z", "3", "Done", Some(Seq(
      History("21", "2024-01-01T11:00:00Z", Some(Seq(item("2", "3"),
        Item("assignee", "assignee", "u3", "Cid", "u2", "Bob")))))))
    val rev0 = explode(Seq(a, b), None, None).filter(_._9 == "0")
      .map(r => (r._10, r._4, Option(r._11))).sorted
    assert(rev0 == Seq(
      ("assignee_change", "1", Some("Ann")), ("assignee_change", "2", Some("Cid")),
      ("state_change", "1", None), ("state_change", "2", None)))
  }
}
