package etlbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval around a call into a layer. `parent` is the id of
  * the enclosing span (-1 for an operation's root span); all spans of one
  * operation share `op`.
  */
final case class Span(id: Int, parent: Int, op: Int, name: String,
                      startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder. Spans are taken only while `on` is set, so an
  * untraced operation pays one branch per layer call.
  */
final class Tracer {
  var on: Boolean = false
  var op: Int = -1
  val spans = new ArrayBuffer[Span]()
  /** Counts taken at layer boundaries during the current traced op. */
  val notes = mutable.Map[String, Double]()
  def note(name: String, v: Double): Unit =
    if (on) notes(name) = notes.getOrElse(name, 0.0) + v
  private var stack: List[Int] = Nil

  def span[A](name: String)(f: => A): A =
    if (!on) f
    else {
      val id = spans.size
      val parent = stack.headOption.getOrElse(-1)
      spans += null
      stack = id :: stack
      val t0 = System.nanoTime()
      try f
      finally {
        spans(id) = Span(id, parent, op, name, t0, System.nanoTime())
        stack = stack.tail
      }
    }
}

/** A finished Spark job: its description label (the engine's
  * `spark.job.description` phase label, or null), wall interval, and the
  * records and bytes its tasks read from their input sources.
  */
final case class JobRec(label: String, startMs: Long, endMs: Long,
                        inputRecords: Long, inputBytes: Long)

/** Counters a Spark listener and a query-execution listener fill in; the
  * benchmark reads them between operations, after draining the bus.
  */
final class SparkCounters extends SparkListener with QueryExecutionListener {
  val jobs = new ArrayBuffer[JobRec]()
  private val open = mutable.Map[Int, JobRec]()
  private val stageJob = mutable.Map[Int, Int]()
  var stages = 0L
  var tasks = 0L
  var taskMs = 0L
  var cpuNs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var recordsWritten = 0L
  var queries = 0L
  var planMs = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val label = Option(e.properties).map(_.getProperty("spark.job.description")).orNull
    open(e.jobId) = JobRec(label, e.time, -1L, 0L, 0L)
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    open.remove(e.jobId).foreach(j => jobs += j.copy(endMs = e.time))
    stageJob.filterInPlace((_, job) => job != e.jobId)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stages += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      taskMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      recordsWritten += m.outputMetrics.recordsWritten
      for (id <- stageJob.get(e.stageId); j <- open.get(id))
        open(id) = j.copy(inputRecords = j.inputRecords + m.inputMetrics.recordsRead,
          inputBytes = j.inputBytes + m.inputMetrics.bytesRead)
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      queries += 1
      planMs += Trace.planMs(qe)
    }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** A copy of the scalar counters, for before/after differences. */
  def snapshot(): Map[String, Double] = synchronized {
    Map("jobs" -> jobs.size.toDouble, "stages" -> stages.toDouble,
      "tasks" -> tasks.toDouble, "task_ms" -> taskMs.toDouble,
      "cpu_ms" -> cpuNs / 1e6, "shuffle_bytes" -> shuffleBytes.toDouble,
      "spill_bytes" -> spillBytes.toDouble,
      "records_written" -> recordsWritten.toDouble,
      "queries" -> queries.toDouble, "plan_ms" -> planMs.toDouble)
  }
  def jobsSince(n: Int): Seq[JobRec] = synchronized { jobs.drop(n).toSeq }
}

object Trace {
  /** Catalyst analysis + optimization + planning time of one query. */
  def planMs(qe: QueryExecution): Long =
    qe.tracker.phases.values.map(_.durationMs).sum

  /** Total length of the union of `[start, end]` intervals. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** JVM-side state: GC and JIT time, heap peak, and a fixed CPU probe whose
  * time shows how fast this machine ran at the start and end of a run.
  */
object Jvm {
  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  def resetHeapPeak(): Unit =
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
  def heapPeakMb: Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum / 1048576.0
  def codegenMs: Double =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime / 1e6

  @volatile private var sink = 0L

  /** Median of 7 timings of a fixed integer kernel (~10 ms each). */
  def cpuProbeMs(): Double = {
    val t = (0 until 7).map { r =>
      val t0 = System.nanoTime()
      var x = 0x9E3779B97F4A7C15L + r
      var i = 0
      while (i < 8000000) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17
        i += 1
      }
      sink += x
      (System.nanoTime() - t0) / 1e6
    }.sorted
    t(3)
  }

  def loadAvg: String =
    try new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/loadavg"))).trim
    catch { case _: Throwable => "" }
}
