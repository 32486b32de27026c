package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = DevSession.builder(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // JVM warmup (standard benchmark hygiene, as JMH warmup iterations):
    // run the HEAVIEST query DAGs once at the smallest scale factor so the
    // JIT has compiled their whole-stage-codegen classes before timing —
    // without this, the first query to touch a big fresh DAG mid-run sits
    // behind the C2 queue and measures compiler backlog, not the engine.
    // Warming is selective: warming every query doubles the generated
    // class population and degrades the tail of the run instead
    // (code-cache/metaspace pressure), measured 2026-08-12. The timed loop
    // below still does 100% of its own sf-dir work (per-dir caches).
    // sf0.01, not sf0.001: the typed-flatMap kernels (bitset Jaccard
    // tiles, shingle hashing) need enough loop iterations for C2 to
    // tier them up — a 50-doc corpus leaves them interpreted and the
    // first timed sf0.1 query pays the compile (measured 6.4 s cold vs
    // 2.5 s steady for q22, 2026-08-13)
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.01")
    val warmQueries = Seq("q22_ngram_jaccard", "q23_embedding_neardup",
      "q24_event_dates", "q26_minhash_lsh", "q28_simhash_pairs",
      "q34_changelog_explode", "q35_snapshot_pipeline", "q36_states_translate",
      "q49_snapshot_upsert", "q52_ann_kmeans", "q53_windowed_counts",
      "q62_srp_neardup", "q76_embedding_clusters", "q101_substring_dedup",
      "q117_pq_topk")
    if (new java.io.File(warmDir).isDirectory && warmDir != sfDir) {
      warmQueries.foreach { name =>
        try SparkEntry.queries(name)(spark, warmDir).count()
        catch { case _: Throwable => () }
      }
      // Wait for the JIT compile queue to drain: the warmup QUEUES a large
      // C2 backlog, and queries started while it churns run at C1 /
      // interpreted tier — timing the backlog, not the engine. Poll total
      // compilation time until it plateaus (or 90 s).
      val jit = java.lang.management.ManagementFactory.getCompilationMXBean
      val deadline = System.nanoTime() + 90L * 1000000000L
      var prev = -1L
      var stable = 0
      while (stable < 3 && System.nanoTime() < deadline) {
        Thread.sleep(2000)
        val cur = jit.getTotalCompilationTime
        if (cur - prev < 100) stable += 1 else stable = 0
        prev = cur
      }
    } else
      try Tables.region(spark, sfDir).count() catch { case _: Throwable => () }
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val t0 = System.nanoTime()
      // noop sink, not count(): count() lets Catalyst prune every output
      // column and even eliminate cardinality-preserving joins (a
      // per-doc query ending in a unique-key left join "benchmarked" at
      // the cost of a row count — measured on q130, 10x data in 0.4 s).
      // The noop write materializes every output column of every row,
      // which is what a real consumer pays.
      try { fn(spark, sfDir).write.format("noop").mode("overwrite").save() }
      catch {
        case e: Throwable =>
          // a broken query must fail LOUDLY, not benchmark as fast
          errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
          System.err.println(s"[bench] $name FAILED: $e")
      }
      name -> (System.nanoTime() - t0) / 1e9
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    def jstr(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    val errJson = errors.map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    // Queries sharing a persisted frame attribute its build cost to
    // whichever member runs first; only the group sum (and the total) is a
    // standalone cost. Declared so per-query numbers aren't misread.
    val sharedFrames =
      """[["q22_ngram_jaccard","q32_dedup_keeplist","q63_dedup_components","q65_dedup_survivors"],
        |["q62_srp_neardup","q76_embedding_clusters"],
        |["q52_ann_kmeans","q79_semantic_dedup","q80_ivf_recall","q118_ivfpq_topk"],
        |["q117_pq_topk","q118_ivfpq_topk"],
        |["q81_srp_wide_replicas","q123_pair_triangles","q135_pair_pagerank"],
        |["q24_event_dates","q25_state_category_asof"],
        |["q34_changelog_explode","q35_snapshot_pipeline","q36_states_translate","q41_custom_fields","q42_linked_items","q59_connector_scan","q60_automap_retranslate","q69_connector_idscan","q73_incremental_etl_loop"]]"""
        .stripMargin.replaceAll("\n\\s*", "")
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":$errJson,"shared_frames":$sharedFrames,"sf":"$sfDir"}"""
    println(line)
    // also persist to disk: the driver captures only the log TAIL, which
    // has truncated the per-query numbers out of past round artifacts.
    // BENCH_LATEST.json lives at the repo root and IS committed, so the
    // per-query timing map survives into the round history (the BENCH_r{N}
    // artifacts carry only the truncated tail).
    try {
      val out = java.nio.file.Paths.get("target/bench_results.json")
      java.nio.file.Files.createDirectories(out.getParent)
      java.nio.file.Files.write(out, line.getBytes("UTF-8"))
      java.nio.file.Files.write(
        java.nio.file.Paths.get("BENCH_LATEST.json"), line.getBytes("UTF-8"))
    } catch { case e: Throwable => System.err.println(s"[bench] result file write failed: $e") }
    if (errors.nonEmpty) System.err.println(s"[bench] ${errors.size} queries failed")
    spark.stop()
  }
}
