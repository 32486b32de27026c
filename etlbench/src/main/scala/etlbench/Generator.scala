package etlbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.time.{LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter

import scala.collection.mutable.ArrayBuffer

import graft.model.{WorkflowDef, WorkflowEventsDef, WorkflowStepDef}

/** Seeded, single-threaded generator of Jira-shaped raw work items in the
  * `graft.sources.RawItemsFixture.schema` shape: status, assignee and
  * Flagged change histories, parent / epic-link / Flagged custom fields.
  *
  * It runs on the plain JVM (no Spark) and writes every drop to disk
  * before the Spark session starts, so input generation is never part of
  * a measured interval. The same seed gives byte-identical files.
  *
  * Time model: the base world's items are created in the 120 days before
  * `T0` and change up to 8 times each before `T0`. Sync drop `d` covers
  * the 5-minute window `(T0 + (d-1)·5m, T0 + d·5m]`: updates of existing
  * items, skewed towards the most recently created ones (an item's chance
  * grows with its creation rank), plus new arrivals, each with strictly
  * increasing change times. Every drop also re-delivers a share of the
  * previous drop verbatim (a paged source's at-least-once overlap); those
  * copies carry `updated ≤` the stored watermark, so the connector's
  * `updated > mark` pushdown drops them.
  */
object Generator {

  val Workflow: WorkflowDef = WorkflowDef("bench-wf", Seq(
    WorkflowStepDef("1", "Backlog", 1, stateType = "queue"),
    WorkflowStepDef("2", "Ready", 2, stateType = "queue"),
    WorkflowStepDef("3", "In Progress", 3, stateType = "active"),
    WorkflowStepDef("4", "Review", 4, stateType = "active"),
    WorkflowStepDef("5", "Testing", 5, stateType = "queue"),
    WorkflowStepDef("6", "Done", 6, stateType = "queue")),
    WorkflowEventsDef(2, 3, 6))

  private val Users = 12
  private val Types = Array("Story", "Story", "Story", "Bug", "Bug", "Task")
  private val T0: Long = LocalDateTime.of(2024, 6, 1, 0, 0)
    .toEpochSecond(ZoneOffset.UTC) * 1000000L
  private val Day: Long = 86400L * 1000000L
  private val WindowMicros: Long = 5L * 60 * 1000000L

  private val Fmt = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
  def ts(micros: Long): String =
    LocalDateTime.ofEpochSecond(Math.floorDiv(micros, 1000000L),
      (Math.floorMod(micros, 1000000L) * 1000).toInt, ZoneOffset.UTC).format(Fmt)

  private final class Item(val n: Int, val created: Long, val typ: String,
                           val project: String) {
    var updated: Long = created
    var status: Int = 1
    var assignee: Int = -1
    var flagged: Boolean = false
    val histories = new ArrayBuffer[String]()
  }

  /** Files per written directory; the connector reads one input
    * partition per file, so this is the scan's parallelism.
    */
  val PartsPerDir = 4

  /** Sizes of one generated data set. */
  final case class Spec(baseItems: Int, drops: Int, dropUpdates: Int,
                        dropArrivals: Int, redelivered: Int)

  /** One written directory of `part-*.json` files, one JSON document per
    * line: its document count and its bytes.
    */
  final case class Dir(path: String, lines: Int, bytes: Long)

  /** What was written: the base world, then the sync drops. */
  final case class Written(base: Dir, drops: IndexedSeq[Dir]) {
    def bytes: Long = base.bytes + drops.map(_.bytes).sum
  }

  /** Generate `spec` with `seed` under `root`: the base world in `base`,
    * then `drops` sync drops `drop-<d>`.
    */
  def write(seed: Long, spec: Spec, root: File): Written =
    new Generator(seed, spec).write(root)
}

final class Generator(seed: Long, spec: Generator.Spec) {
  import Generator._

  private val rnd = new java.util.SplittableRandom(seed)
  private val items = new ArrayBuffer[Item]()
  private var nextHistory = 1L

  private def statusName(s: Int): String = Workflow.steps(s - 1).name

  private def str(sb: java.lang.StringBuilder, s: String): Unit =
    if (s == null) sb.append("null") else sb.append('"').append(s).append('"')

  private def change(sb: java.lang.StringBuilder, field: String, fieldId: String,
                     from: String, fromString: String, to: String,
                     toString: String): Unit = {
    sb.append("{\"field\":"); str(sb, field)
    sb.append(",\"fieldId\":"); str(sb, fieldId)
    sb.append(",\"from\":"); str(sb, from)
    sb.append(",\"fromString\":"); str(sb, fromString)
    sb.append(",\"to\":"); str(sb, to)
    sb.append(",\"toString\":"); str(sb, toString)
    sb.append('}')
  }

  private def user(u: Int): String = if (u < 0) "" else s"user-$u"
  private def userId(u: Int): String = if (u < 0) "" else s"u$u"

  /** Apply one change to `it` at `at` and append its history entry. The
    * first change of an item always assigns it and leaves the backlog.
    */
  private def mutate(it: Item, at: Long): Unit = {
    val sb = new java.lang.StringBuilder(256)
    sb.append("{\"id\":\"").append(nextHistory).append("\",\"created\":\"")
      .append(ts(at)).append("\",\"items\":[")
    nextHistory += 1
    val first = it.histories.isEmpty
    val roll = rnd.nextInt(100)
    def statusTo(to: Int): Unit = {
      change(sb, "status", "status", it.status.toString, statusName(it.status),
        to.toString, statusName(to))
      it.status = to
    }
    def assignTo(to: Int): Unit = {
      change(sb, "assignee", "assignee", userId(it.assignee), user(it.assignee),
        userId(to), user(to))
      it.assignee = to
    }
    if (first) {
      statusTo(2); sb.append(','); assignTo(rnd.nextInt(Users))
    } else if (roll < 55) {
      val to =
        if (it.status == 6) { if (rnd.nextInt(4) == 0) 3 else 6 }
        else if (it.status > 2 && rnd.nextInt(10) == 0) it.status - 1
        else it.status + 1
      if (to == it.status) assignTo((it.assignee + 1) % Users) else statusTo(to)
    } else if (roll < 80) {
      assignTo((it.assignee + 1 + rnd.nextInt(Users - 1)) % Users)
    } else if (it.flagged) {
      change(sb, "Flagged", "customfield_10021", "flag", "Impediment", "", "")
      it.flagged = false
    } else {
      change(sb, "Flagged", "customfield_10021", "", "", "flag", "Impediment")
      it.flagged = true
    }
    sb.append("]}")
    it.histories += sb.toString
    it.updated = at
  }

  private def json(it: Item): String = {
    val sb = new java.lang.StringBuilder(512 + it.histories.map(_.length).sum)
    sb.append("{\"key\":\"BENCH-").append(it.n).append("\",\"fields\":{")
    sb.append("\"created\":\"").append(ts(it.created)).append('"')
    sb.append(",\"updated\":\"").append(ts(it.updated)).append('"')
    sb.append(",\"summary\":\"Item ").append(it.n).append('"')
    sb.append(",\"status\":{\"id\":\"").append(it.status).append("\",\"name\":\"")
      .append(statusName(it.status)).append("\"}")
    sb.append(",\"issuetype\":{\"name\":\"").append(it.typ).append("\"}")
    sb.append(",\"project\":{\"id\":\"").append(it.project).append("\"}")
    if (it.assignee >= 0)
      sb.append(",\"assignee\":{\"displayName\":\"").append(user(it.assignee)).append("\"}")
    if (it.n % 3 == 0 && it.n > 0)
      sb.append(",\"parent\":{\"key\":\"BENCH-").append(it.n / 3).append("\"}")
    if (it.n % 2 == 0) sb.append(",\"customfield_10014\":\"EPIC-").append(it.n % 11).append('"')
    if (it.n % 3 == 1) sb.append(",\"customfield_15503\":\"PL-").append(it.n % 13).append('"')
    if (it.flagged) sb.append(",\"customfield_10021\":[{\"value\":\"Impediment\"}]")
    sb.append("},\"changelog\":{\"histories\":[")
    var i = 0
    while (i < it.histories.size) {
      if (i > 0) sb.append(',')
      sb.append(it.histories(i)); i += 1
    }
    sb.append("]}}")
    sb.toString
  }

  private def newItem(created: Long): Item = {
    val it = new Item(items.size, created, Types(rnd.nextInt(Types.length)),
      if (rnd.nextInt(3) == 0) "1001" else "1000")
    items += it
    it
  }

  /** `k` distinct, increasing instants in (lo, hi]. */
  private def instants(lo: Long, hi: Long, k: Int): Array[Long] = {
    val span = hi - lo
    val set = new java.util.TreeSet[java.lang.Long]()
    while (set.size < k) set.add(lo + 1 + rnd.nextLong(span))
    set.toArray(new Array[java.lang.Long](0)).map(_.longValue)
  }

  private def writeDir(dir: File, lines: Seq[String]): Dir = {
    var bytes = 0L
    dir.mkdirs()
    val parts = PartsPerDir
    val outs = (0 until parts).map { p =>
      new BufferedWriter(new OutputStreamWriter(new FileOutputStream(
        new File(dir, f"part-$p%05d.json")), StandardCharsets.UTF_8), 1 << 16)
    }
    try lines.zipWithIndex.foreach { case (l, i) =>
      val o = outs(i % parts)
      o.write(l); o.write('\n')
      bytes += l.length + 1
    } finally outs.foreach(_.close())
    Dir(dir.getPath, lines.size, bytes)
  }

  def write(root: File): Written = {
    // base items in creation order, so a higher index is a more recent item
    val created = Array.fill(spec.baseItems)(T0 - Day * 120 + rnd.nextLong(Day * 119)).sorted
    val baseLines = created.toSeq.map { c =>
      val it = newItem(c)
      instants(c, T0, rnd.nextInt(9)).foreach(mutate(it, _))
      json(it)
    }
    val base = writeDir(new File(root, "base"), baseLines)
    val drops = new ArrayBuffer[Dir]()
    var previous: Seq[String] = Seq.empty
    for (d <- 1 to spec.drops) {
      val lo = T0 + (d - 1) * WindowMicros
      val hi = T0 + d * WindowMicros
      val picked = new java.util.LinkedHashSet[Item]()
      val n = items.size
      while (picked.size < math.min(spec.dropUpdates, n)) {
        val u = rnd.nextDouble()
        picked.add(items(math.min(n - 1, ((1.0 - u * u * u) * n).toInt)))
      }
      for (_ <- 0 until spec.dropArrivals) picked.add(newItem(lo + 1 + rnd.nextLong(WindowMicros / 2)))
      val lines = new ArrayBuffer[String]()
      val it = picked.iterator()
      while (it.hasNext) {
        val x = it.next()
        val from = math.max(lo, x.updated)
        instants(from, hi, 1 + rnd.nextInt(2)).foreach(mutate(x, _))
        lines += json(x)
      }
      val fresh = lines.toSeq
      val stale = previous.take(spec.redelivered)
      drops += writeDir(new File(root, f"drop-$d%04d"), stale ++ fresh)
      previous = fresh
    }
    Written(base, drops.toIndexedSeq)
  }
}
