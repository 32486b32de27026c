package etlbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** The ETL benchmark's JVM entry point. `run.py` builds the classpath and
  * starts it as
  *
  * {{{
  * java ... etlbench.Main --workload <sync|dashboard> --seed <n>
  *   --seconds <s> --trace <0|1> --work <scratch dir> --out <artifact.json>
  * }}}
  *
  * A run generates its inputs from the seed (before Spark starts), sets
  * up (base load plus a fixed warm phase), runs the workload's closed
  * loop for the fixed number of operations that fills about `--seconds`,
  * checks the tables and reads against a one-shot recompute, writes the
  * artifact and prints the result line last.
  */
object Main {

  /** One timed operation of the closed loop. */
  final case class Op(idx: Int, kind: String, ms: Double, items: Int, ok: Boolean,
                      traced: Boolean)

  /** What the traced run keeps per traced operation. */
  final case class OpTrace(op: Op, startMs: Long, startNs: Long, spans: Seq[Span],
                           jobs: Seq[JobRec], counters: Map[String, Double],
                           codegenMs: Double, extra: Map[String, Double])

  /** `graft.Bench`'s default core count (its `SPARK_GRAFT_CPUS`), fixed
    * here so every run uses the same session whatever the environment.
    */
  private val Cores = 4

  /** The session as `graft.Bench` builds it, plus the graft catalog and
    * the MV-rewrite extension for the SQL read face.
    */
  def sessionConf(work: File): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$Cores]",
    "spark.sql.shuffle.partitions" -> Cores.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.codegen.cache.maxEntries" -> "4096",
    "spark.ui.enabled" -> "false",
    "spark.driver.host" -> "localhost",
    "spark.driver.bindAddress" -> "127.0.0.1",
    "spark.sql.extensions" -> classOf[graft.sources.GraftSessionExtensions].getName,
    "spark.sql.catalog.bench" -> classOf[graft.sources.GraftCatalog].getName,
    "spark.sql.catalog.bench.warehouse" -> new File(work, "warehouse").getAbsolutePath,
    "spark.sql.warehouse.dir" -> new File(work, "spark-warehouse").getAbsolutePath,
    "spark.local.dir" -> new File(work, "spark-local").getAbsolutePath)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a.getOrElse("trace", "0") == "1"
    val work = new File(a("work"))
    val out = new File(a("out"))
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    val p0 = System.nanoTime()
    val probeStart = Jvm.cpuProbeMs()
    val kind = Workloads.byName.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload '$workload' " +
        s"(known: ${Workloads.byName.keys.toSeq.sorted.mkString(", ")})"))
    val g0 = System.nanoTime()
    val written = Generator.write(seed, kind.spec(seconds), new File(work, "drops"))
    val genMs = (System.nanoTime() - g0) / 1e6
    val excludedMs = (System.nanoTime() - p0) / 1e6

    val conf = sessionConf(work)
    val spark = conf.foldLeft(SparkSession.builder())((b, kv) => b.config(kv._1, kv._2))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val counters = new SparkCounters
    spark.sparkContext.addSparkListener(counters)
    spark.listenerManager.register(counters)
    val tr = new Tracer
    val ctx = new Ctx(spark, tr, work, written, seed)
    val wl = kind.make(ctx)

    val sessionS = (System.currentTimeMillis() - jvmStartMs - excludedMs) / 1000.0
    wl.setup()
    val setupS = (System.currentTimeMillis() - jvmStartMs - excludedMs) / 1000.0

    val gc0 = Jvm.gcMs
    val jit0 = Jvm.jitMs
    val cg0 = Jvm.codegenMs
    Jvm.resetHeapPeak()
    val ops = new ArrayBuffer[Op]()
    val traces = new ArrayBuffer[OpTrace]()
    val t0 = System.nanoTime()
    val target = kind.ops(seconds)
    var i = 0
    while (i < target && wl.hasNext) {
      // the traced run alternates traced and untraced operations, so the
      // tracing overhead is measured within one run
      val traced = trace && i % 2 == 0
      tr.on = traced
      tr.op = i
      tr.notes.clear()
      // events of earlier operations must not land in this one's counts
      if (traced) org.apache.spark.BenchBus.drain(spark.sparkContext)
      val c0 = if (traced) counters.snapshot() else Map.empty[String, Double]
      val jobs0 = counters.jobs.size
      val cgOp = Jvm.codegenMs
      val step = wl.next(i)
      val startMs = System.currentTimeMillis()
      val s = System.nanoTime()
      val (items, ok) =
        try (tr.span("op")(step.run()), true)
        catch {
          case e: Throwable =>
            System.err.println(s"[etlbench] op $i (${step.kind}) FAILED: $e")
            e.printStackTrace()
            (0, false)
        }
      val op = Op(i, step.kind, (System.nanoTime() - s) / 1e6, items, ok, traced)
      ops += op
      if (traced) {
        org.apache.spark.BenchBus.drain(spark.sparkContext)
        val c1 = counters.snapshot()
        traces += OpTrace(op, startMs, s, tr.spans.filter(_.op == i).toSeq,
          counters.jobsSince(jobs0).filter(_.startMs >= startMs),
          c1.map { case (k, v) => k -> (v - c0(k)) },
          Jvm.codegenMs - cgOp, tr.notes.toMap)
      }
      tr.on = false
      i += 1
    }
    val timedS = (System.nanoTime() - t0) / 1e9
    val jvmTimed = Map(
      "jvm.gc_ms" -> (Jvm.gcMs - gc0).toDouble,
      "jvm.jit_ms" -> (Jvm.jitMs - jit0).toDouble,
      "jvm.heap_peak_mb" -> Jvm.heapPeakMb,
      "spark.codegen_compile_total_ms" -> (Jvm.codegenMs - cg0))

    val checkStart = System.nanoTime()
    val checkFailures =
      try wl.check()
      catch {
        case e: Throwable =>
          e.printStackTrace()
          Seq(s"check raised $e")
      }
    checkFailures.foreach(f => System.err.println(s"[etlbench] CHECK FAILED: $f"))
    val probeEnd = Jvm.cpuProbeMs()
    val storage = try wl.storage() catch { case _: Throwable => Map.empty[String, Double] }
    val checkS = (System.nanoTime() - checkStart) / 1e9
    spark.stop()

    val failed = ops.count(!_.ok) + checkFailures.size
    val attempted = ops.size + checkFailures.size
    val correct = failed == 0 && ops.nonEmpty
    val e2e = Metrics.endToEnd(kind, ops.filterNot(_.traced).toSeq, setupS)
    val layers = Metrics.perLayer(kind, ops.toSeq, traces.toSeq, jvmTimed, storage,
      probeStart, probeEnd, genMs)
    val metrics = if (trace) layers else e2e.filter(m => Metrics.EndToEnd.contains(m._1))
    val line = Json.obj(Seq(
      "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> Json.RawJson(Json.obj(metrics.toSeq.sortBy(_._1).map {
        case (k, (v, u)) => k -> Json.RawJson(Json.obj(Seq("value" -> v, "unit" -> u)))
      }))))
    val artifact = Json.obj(Seq(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "result" -> Json.RawJson(line),
      "end_to_end" -> Json.RawJson(Json.obj(e2e.toSeq.sortBy(_._1).map {
        case (k, (v, u)) => k -> Json.RawJson(Json.obj(Seq("value" -> v, "unit" -> u)))
      })),
      "per_layer" -> Json.RawJson(Json.obj(if (trace) layers.toSeq.sortBy(_._1).map {
        case (k, (v, u)) => k -> Json.RawJson(Json.obj(Seq("value" -> v, "unit" -> u)))
      } else Seq.empty)),
      "session_s" -> sessionS, "timed_s" -> timedS, "check_s" -> checkS,
      "generator_ms" -> genMs,
      "generated_bytes" -> written.bytes,
      "check_failures" -> Json.RawJson(Json.arr(checkFailures)),
      "machine" -> Json.RawJson(Json.obj(Seq(
        "nproc" -> Runtime.getRuntime.availableProcessors(),
        "loadavg_end" -> Jvm.loadAvg,
        "cpu_probe_start_ms" -> probeStart, "cpu_probe_end_ms" -> probeEnd,
        "jvm" -> System.getProperty("java.vm.version"),
        "max_heap_mb" -> Runtime.getRuntime.maxMemory() / 1048576.0) ++
        jvmTimed.toSeq)),
      "session_conf" -> Json.RawJson(Json.obj(conf)),
      "ops" -> Json.RawJson(Json.arr(ops.map(o => Json.RawJson(Json.obj(Seq(
        "i" -> o.idx, "kind" -> o.kind, "ms" -> o.ms, "items" -> o.items,
        "ok" -> o.ok, "traced" -> o.traced)))))),
      "spans" -> Json.RawJson(Json.arr(traces.flatMap(_.spans).map(s => Json.RawJson(Json.obj(Seq(
        "op" -> s.op, "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs))))))))
    out.getParentFile.mkdirs()
    java.nio.file.Files.write(out.toPath, artifact.getBytes("UTF-8"))
    println(line)
    System.exit(if (correct) 0 else 1)
  }
}

/** Minimal JSON rendering for the artifact and the result line. */
object Json {
  final case class RawJson(s: String)
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
  def value(v: Any): String = v match {
    case RawJson(s) => s
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case null => "null"
    case other => str(other.toString)
  }
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
  def arr(vs: Iterable[Any]): String = vs.map(value).mkString("[", ",", "]")
}
