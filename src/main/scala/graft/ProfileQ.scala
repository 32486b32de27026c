package graft

import org.apache.spark.sql.functions._

/** Dev tool (guide §1: measure first): replay one harness-shaped query's
  * statements with per-statement wall timing, so a regression in a
  * multi-statement query attributes to the exact statement instead of
  * the whole body. runMain graft.ProfileQ <q199|q202> [sfDir]
  */
object ProfileQ {
  def main(args: Array[String]): Unit = {
    val which = args.headOption.getOrElse("q199")
    val dir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val extra = sys.env.get("GRAFT_PROF_CONF").toSeq
      .flatMap(_.split(';')).map(_.split('=')).collect {
        case Array(k, v) => (k, v) }
    val spark0 = DevSession.builder(32)
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("GRAFT_PROF_SHUFFLE", "32"))
    val spark = extra.foldLeft(spark0) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // per-job decomposition: jobs under 40 ms are scheduling noise;
    // print the rest with their description so a statement's wall time
    // attributes to its actual Spark jobs (guide §1.5)
    if (sys.env.get("GRAFT_PROF_JOBS").contains("1"))
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          private val starts = new java.util.concurrent.ConcurrentHashMap[
            Int, (Long, String)]()
          private val stageJob = new java.util.concurrent.ConcurrentHashMap[
            Integer, Integer]()
          // per-job task tally: (nTasks, sum task run ms, max task run ms)
          private val tasks = new java.util.concurrent.ConcurrentHashMap[
            Int, (Int, Long, Long)]()
          override def onJobStart(
              js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
            val d = Option(js.properties)
              .flatMap(p => Option(p.getProperty("spark.job.description")))
              .orElse(Option(js.properties)
                .flatMap(p => Option(p.getProperty("callSite.short"))))
              .getOrElse("?")
            starts.put(js.jobId, (System.nanoTime(), d))
            js.stageIds.foreach(sid => stageJob.put(sid, js.jobId))
          }
          override def onTaskEnd(
              te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
            // a stage no recorded job owns is dropped, never tallied
            // under job 0 (a missing Int key would unbox to 0)
            Option(stageJob.get(te.stageId))
              .filter(_ => te.taskInfo != null).foreach { j =>
                val ms = te.taskInfo.duration
                tasks.merge(j, (1, ms, ms), (a, b) =>
                  (a._1 + 1, a._2 + b._2, math.max(a._3, b._3)))
              }
          }
          override def onJobEnd(
              je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
            val s0 = starts.remove(je.jobId)
            val t = tasks.remove(je.jobId)
            if (s0 != null) {
              val ms = (System.nanoTime() - s0._1) / 1e6
              val (n, sum, mx) =
                if (t != null) t else (0, 0L, 0L)
              if (ms >= 40)
                println(f"[job] ${je.jobId}%4d ${ms}%8.0f ms " +
                  f"tasks=$n%3d taskSum=$sum%6d max=$mx%5d  ${s0._2}")
            }
          }
        })
    // driver-thread sampling (guide §7.3, in-process): a daemon samples
    // the MAIN thread's stack every 10 ms; per statement we print the
    // dominant collapsed frames so driver-side (between-job) time
    // attributes to actual code instead of "unaccounted".
    val mainThread = Thread.currentThread()
    val sampleOn = new java.util.concurrent.atomic.AtomicBoolean(false)
    val hist = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    // GRAFT_PROF_TASKSTACKS=1: sample every live "Executor task launch
    // worker" thread (local mode) instead of the driver — attributes the
    // in-task CPU the job tallies above cannot break down (guide §7.3's
    // executor thread dump, continuous)
    if (sys.env.get("GRAFT_PROF_TASKSTACKS").contains("1")) {
      val t = new Thread(() => {
        while (true) {
          if (sampleOn.get()) {
            val all = Thread.getAllStackTraces
            all.forEach { (th, st) =>
              if (th.getName.startsWith("Executor task launch worker")) {
                val fr = st.find(e => e.getClassName.startsWith("graft."))
                  .orElse(st.find { e =>
                    val c = e.getClassName
                    (c.startsWith("org.apache.spark") ||
                     c.startsWith("org.apache.parquet") ||
                     c.startsWith("com.github.luben") ||
                     c.startsWith("org.apache.hadoop")) &&
                    !e.getMethodName.contains("run")
                  })
                  .map(e => e.getClassName + "." + e.getMethodName)
                if (fr.isDefined)
                  hist.merge(fr.get, Integer.valueOf(1), (a, b) =>
                    Integer.valueOf(a.intValue() + b.intValue()))
              }
            }
          }
          Thread.sleep(10)
        }
      })
      t.setDaemon(true)
      t.start()
    }
    if (sys.env.get("GRAFT_PROF_STACKS").contains("1")) {
      val t = new Thread(() => {
        while (true) {
          if (sampleOn.get()) {
            val st = mainThread.getStackTrace
            // first interesting frame: skip pure waits; prefer graft,
            // else the first spark frame
            val fr = st.find(e => e.getClassName.startsWith("graft."))
              .orElse(st.find(e =>
                e.getClassName.startsWith("org.apache.spark") &&
                !e.getClassName.contains("ThreadUtils")))
              .map(e => e.getClassName + "." + e.getMethodName)
              .getOrElse(st.headOption
                .map(e => e.getClassName + "." + e.getMethodName)
                .getOrElse("idle"))
            hist.merge(fr, Integer.valueOf(1), (a, b) =>
              Integer.valueOf(a.intValue() + b.intValue()))
          }
          Thread.sleep(10)
        }
      })
      t.setDaemon(true)
      t.start()
    }
    def t[A](label: String)(f: => A): A = {
      hist.clear(); sampleOn.set(true)
      val t0 = System.nanoTime()
      val r = f
      sampleOn.set(false)
      println(f"[prof] $label%-28s ${(System.nanoTime() - t0) / 1e9}%7.2f s")
      if (!hist.isEmpty) {
        val top = scala.jdk.CollectionConverters.MapHasAsScala(hist)
          .asScala.toSeq.sortBy(-_._2.intValue()).take(12)
        top.foreach { case (f0, n) => println(f"[stk]   ${n.intValue() * 10}%6d ms  $f0") }
      }
      r
    }
    val s = spark
    // iteration 2 re-runs the same statements against fresh tables with a
    // warm JIT/codegen cache — the shape the bench (and any long-lived
    // session) actually sees; iteration 1 prices the cold path.
    val iters = sys.env.get("GRAFT_PROF_ITERS").map(_.toInt).getOrElse(1)
    for (it <- 1 to iters)
    which match {
      case "q199" =>
        val cat = s"gprof199i$it"
        val wh = java.nio.file.Files.createTempDirectory("gprof-mvdim").toString
        s.conf.set(s"spark.sql.catalog.$cat",
          classOf[sources.GraftCatalog].getName)
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
        t("src tempview") {
          Tables.events(s, dir)
            .select(col("event_id"), col("user_id"), col("event_type"))
            .createOrReplaceTempView("prof_src")
        }
        s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.etl")
        t("create mmf") {
          s.sql(s"""CREATE TABLE $cat.etl.mmf (event_id BIGINT,
            user_id BIGINT, event_type STRING) TBLPROPERTIES
            ('keys'='event_id', 'buckets'='8', 'clusterBy'='event_id',
             'retainVersions'='10')""")
        }
        t("insert mmf") {
          s.sql(s"INSERT INTO $cat.etl.mmf " +
            "SELECT event_id, user_id, event_type FROM prof_src")
        }
        t("create+insert mmd") {
          s.sql(s"""CREATE TABLE $cat.etl.mmd (event_type STRING,
            category STRING) TBLPROPERTIES ('keys'='event_type',
            'buckets'='2', 'retainVersions'='10')""")
          s.sql(s"""INSERT INTO $cat.etl.mmd
            SELECT DISTINCT event_type,
              CASE WHEN event_type IN ('click', 'view') THEN 'engage'
                   WHEN event_type IN ('purchase', 'signup') THEN 'convert'
                   ELSE 'ops' END
            FROM prof_src""")
        }
        t("create_mv") {
          s.sql(s"""CALL $cat.system.create_mv(view => 'etl.mv',
            source => 'etl.mmf', dim => 'etl.mmd',
            query => 'SELECT category, COUNT(*) AS n, SUM(user_id) AS su,
                      MIN(event_id) AS mn, MAX(event_id) AS mx
                      FROM mmf JOIN mmd ON event_type = event_type
                      GROUP BY category')""")
        }
        t("update") {
          s.sql(s"UPDATE $cat.etl.mmf SET user_id = user_id + 7 " +
            "WHERE event_id % 53 = 5")
        }
        val maxId = t("select max") {
          s.sql(s"SELECT MAX(event_id) FROM $cat.etl.mmf")
            .collect().head.getLong(0)
        }
        t("delete top10") {
          s.sql(s"DELETE FROM $cat.etl.mmf WHERE event_id > ${maxId - 10}")
        }
        t("insert beta") {
          s.sql(s"INSERT INTO $cat.etl.mmf SELECT event_id + 100000000, " +
            "user_id, 'beta' FROM prof_src WHERE event_id % 101 = 0")
        }
        t("insert click") {
          s.sql(s"INSERT INTO $cat.etl.mmf SELECT event_id + 200000000, " +
            "user_id, 'click' FROM prof_src WHERE event_id % 103 = 0")
        }
        t("refresh_mv") {
          s.sql(s"CALL $cat.system.refresh_mv(view => 'etl.mv')")
        }
        t("read view (noop)") {
          s.sql(s"SELECT category, n, su, mn, mx FROM $cat.etl.mv")
            .write.format("noop").mode("overwrite").save()
        }
      case "q202" =>
        val cat = "gprof202"
        val wh = java.nio.file.Files.createTempDirectory("gprof-mvmd").toString
        s.conf.set(s"spark.sql.catalog.$cat",
          classOf[sources.GraftCatalog].getName)
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
        t("whole q202 body") {
          // run the declared query verbatim (shares scratch isolation)
          SparkEntry.queries("q202_mv_multidim")(s, dir)
            .write.format("noop").mode("overwrite").save()
        }
      case q if SparkEntry.queries.contains(q) =>
        t(s"$q (noop)") {
          SparkEntry.queries(q)(s, dir)
            .write.format("noop").mode("overwrite").save()
        }
      case other => sys.error(s"unknown profile target $other")
    }
    spark.stop()
  }
}
