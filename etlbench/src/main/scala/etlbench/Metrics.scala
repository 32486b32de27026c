package etlbench

import Main.{Op, OpTrace}

/** Turns a run's operations and traces into the reported metrics: each
  * value is `(number, unit)`.
  */
object Metrics {
  type M = Map[String, (Double, String)]

  /** The metrics every workload reports untraced (BENCHMARK.json). */
  val EndToEnd: Seq[String] = Seq("setup_s", "op_p50_ms", "items_per_s")

  /** Linear-interpolated percentile, `p` in [0, 1]. */
  def pct(xs: Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = p * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest whole percentile with at least ten samples beyond it. */
  def tailPct(n: Int): Option[Int] =
    if (n <= 10) None else Some(math.floor(100.0 * (n - 10) / n).toInt)

  def endToEnd(kind: Kind, ops: Seq[Op], setupS: Double): M = {
    val main = ops.filter(o => kind.main(o.kind)).map(_.ms)
    val writes = ops.filter(o => kind.writes(o.kind))
    val tail = tailPct(main.size)
    def throughput(os: Seq[Op]): Double =
      if (os.isEmpty) 0.0 else os.map(_.items).sum * 1000.0 / os.map(_.ms).sum
    val byKind = ops.groupBy(_.kind).toSeq.flatMap { case (k, os) =>
      val ms = os.map(_.ms)
      Seq(s"kind.$k.n" -> (os.size.toDouble, "count"),
        s"kind.$k.p50_ms" -> (pct(ms, 0.5), "ms"),
        s"kind.$k.p90_ms" -> (pct(ms, 0.9), "ms"),
        s"kind.$k.items_per_s" -> (throughput(os), "1/s"))
    }
    Map(
      "setup_s" -> (setupS, "s"),
      "op_p50_ms" -> (pct(main, 0.5), "ms"),
      "op_n" -> (main.size.toDouble, "count"),
      "op_tail_pct" -> (tail.getOrElse(100).toDouble, "percentile"),
      "op_tail_ms" -> (tail.map(p => pct(main, p / 100.0)).getOrElse(
        if (main.isEmpty) Double.NaN else main.max), "ms"),
      "items_per_s" -> (throughput(writes), "1/s")) ++ byKind
  }

  /** Self time of each span: its duration minus its children's. */
  private def selfMs(spans: Seq[Span]): Map[Int, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map(s => s.id -> (s.ms - kids.getOrElse(s.id, Nil).map(_.ms).sum)).toMap
  }

  private val LayerNames: Map[String, String] = Map(
    "connector.scan" -> "connector.scan_ms",
    "RevisionPipeline.explode" -> "RevisionPipeline.explode_ms",
    "RevisionPipeline.event_dates" -> "RevisionPipeline.event_dates_ms",
    "RevisionPipeline.snapshots" -> "RevisionPipeline.snapshots_ms",
    "RevisionPipeline.states" -> "RevisionPipeline.states_ms",
    "MergeWriter.merge.states" -> "MergeWriter.merge_states_ms",
    "MergeWriter.merge.snapshots" -> "MergeWriter.merge_snapshots_ms",
    "Watermarks.read" -> "Watermarks.read_ms",
    "Watermarks.advance" -> "Watermarks.advance_ms",
    "MaterializedViews.refresh" -> "MaterializedViews.refresh_ms")

  /** Per-layer metrics of a traced run. Times are milliseconds per
    * operation that ran the layer; counts are totals over the traced
    * operations unless named per op.
    */
  def perLayer(kind: Kind, ops: Seq[Op], traces: Seq[OpTrace], jvm: Map[String, Double],
               storage: Map[String, Double], probeStart: Double, probeEnd: Double,
               genMs: Double): M = {
    val n = math.max(traces.size, 1).toDouble
    def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    def note(t: OpTrace, k: String): Double = t.extra.getOrElse(k, 0.0)
    def notes(k: String): Double = traces.map(note(_, k)).sum

    // layer self time, per op that ran the layer
    val perSpan = traces.flatMap { t =>
      val self = selfMs(t.spans)
      t.spans.filter(_.name != "op").map(s => (t.op.idx, s.name, self(s.id)))
    }
    val layerTimes: M = LayerNames.map { case (span, metric) =>
      val xs = perSpan.filter(_._2 == span)
      metric -> (if (xs.isEmpty) 0.0 else xs.map(_._3).sum / xs.map(_._1).distinct.size, "ms")
    }

    // the jobs that started inside a span
    def epochMs(t: OpTrace, ns: Long): Long = t.startMs + (ns - t.startNs) / 1000000L
    def jobsIn(t: OpTrace, s: Span): Seq[JobRec] = {
      val (a, b) = (epochMs(t, s.startNs), epochMs(t, s.endNs))
      t.jobs.filter(j => j.startMs >= a && j.startMs <= b)
    }
    // what the connector's jobs read from their input sources
    val scanJobs = traces.flatMap(t => t.spans.filter(_.name == "connector.scan")
      .flatMap(jobsIn(t, _)))

    // jobs inside merge spans, by engine phase label
    val mergeOps = traces.filter(_.spans.exists(_.name.startsWith("MergeWriter.merge")))
    def mergeLabelMs(label: Option[String]): Double = mean(mergeOps.map { t =>
      t.spans.filter(_.name.startsWith("MergeWriter.merge")).map { s =>
        Trace.unionMs(jobsIn(t, s).filter(j =>
          label.forall(l => j.label != null && j.label.startsWith(l)))
          .map(j => (j.startMs, j.endMs))).toDouble
      }.sum
    })
    val mergeWall = mean(mergeOps.map(_.spans.filter(_.name.startsWith("MergeWriter.merge"))
      .map(_.ms).sum))
    val batchRows = notes("rows.states") + notes("rows.snapshots")

    // whole-op figures
    val opSpans = traces.map(t => t -> t.spans.find(_.name == "op").get)
    val gaps = opSpans.map { case (t, s) =>
      s.ms - Trace.unionMs(t.jobs.map(j => (j.startMs, j.endMs)))
    }
    val opWall = opSpans.map(_._2.ms).sum
    val unattributed = opSpans.map { case (t, s) => selfMs(t.spans)(s.id) }
    val counter = (k: String) => traces.map(_.counters.getOrElse(k, 0.0)).sum / n

    // reads
    val reads = traces.filter(t => t.op.kind.startsWith("read:"))
    val readPlan = reads.map(note(_, "read.plan_ms"))
    val untracedMain = ops.filter(o => !o.traced && o.ok && kind.main(o.kind)).map(_.ms)
    val tracedMain = ops.filter(o => o.traced && o.ok && kind.main(o.kind)).map(_.ms)
    val readClass = Dashboard.Classes.map { c =>
      s"read.${c}_p50_ms" -> (pct(ops.filter(o => !o.traced && o.kind == s"read:$c")
        .map(_.ms), 0.5) match { case x if x.isNaN => 0.0; case x => x }, "ms")
    }

    layerTimes ++ readClass ++ Map(
      "connector.items_read" -> (scanJobs.map(_.inputRecords).sum.toDouble, "count"),
      "connector.items_returned" -> (notes("connector.items_returned"), "count"),
      "connector.bytes_read" -> (scanJobs.map(_.inputBytes).sum.toDouble, "bytes"),
      "RevisionPipeline.revisions_per_item" -> (
        if (notes("rows.raw") > 0) notes("rows.revisions") / notes("rows.raw") else 0.0, "ratio"),
      "MergeWriter.touched_ms" -> (mergeLabelMs(Some("graft.touched")), "ms"),
      "MergeWriter.epoch_write_ms" -> (mergeLabelMs(Some("graft.epoch-write")), "ms"),
      "MergeWriter.driver_ms" -> (mergeWall - mergeLabelMs(None), "ms"),
      "MergeWriter.compactions" -> (notes("MergeWriter.compactions"), "count"),
      "MergeWriter.write_amp" -> (
        if (batchRows > 0) traces.map(_.counters.getOrElse("records_written", 0.0)).sum /
          batchRows else 0.0, "ratio"),
      "MaterializedViews.full_reevals" -> (notes("MaterializedViews.full_reevals"), "count"),
      "read.plan_ms" -> (mean(readPlan), "ms"),
      "read.exec_ms" -> (mean(reads.map(_.op.ms)) - mean(readPlan), "ms"),
      "read.rows_scanned_per_row_returned" -> (
        if (notes("read.rows_returned") > 0)
          notes("read.rows_scanned") / notes("read.rows_returned") else 0.0, "ratio"),
      "MvRewrite.hits" -> (notes("MvRewrite.hits"), "count"),
      "MvRewrite.reads" -> (notes("MvRewrite.reads"), "count"),
      "spark.jobs_per_op" -> (counter("jobs"), "count"),
      "spark.stages_per_op" -> (counter("stages"), "count"),
      "spark.tasks_per_op" -> (counter("tasks"), "count"),
      "spark.queries_per_op" -> (counter("queries"), "count"),
      "spark.plan_ms" -> (counter("plan_ms"), "ms"),
      "spark.driver_gap_ms" -> (mean(gaps), "ms"),
      "spark.codegen_compile_ms" -> (mean(traces.map(_.codegenMs)), "ms"),
      "spark.task_ms" -> (counter("task_ms"), "ms"),
      "spark.executor_cpu_ms" -> (counter("cpu_ms"), "ms"),
      "spark.shuffle_bytes" -> (counter("shuffle_bytes"), "bytes"),
      "spark.spill_bytes" -> (counter("spill_bytes"), "bytes"),
      "jvm.gc_ms" -> (jvm("jvm.gc_ms"), "ms"),
      "jvm.jit_ms" -> (jvm("jvm.jit_ms"), "ms"),
      "jvm.heap_peak_mb" -> (jvm("jvm.heap_peak_mb"), "MB"),
      "calib.cpu_probe_start_ms" -> (probeStart, "ms"),
      "calib.cpu_probe_end_ms" -> (probeEnd, "ms"),
      "gen.ms" -> (genMs, "ms"),
      "trace.ops" -> (traces.size.toDouble, "count"),
      "trace.op_ms" -> (opWall / n, "ms"),
      "trace.unattributed_ms" -> (mean(unattributed), "ms"),
      "trace.coverage" -> (if (opWall > 0) 1.0 - unattributed.sum / opWall else 0.0, "fraction"),
      "trace.overhead_ms" -> (
        if (tracedMain.isEmpty || untracedMain.isEmpty) 0.0
        else pct(tracedMain, 0.5) - pct(untracedMain, 0.5), "ms")
    ) ++ Seq("storage.files" -> "count", "storage.live_epochs" -> "count",
      "storage.bytes_per_user_byte" -> "ratio").map { case (k, u) =>
      k -> (storage.getOrElse(k, 0.0), u)
    }
  }
}
