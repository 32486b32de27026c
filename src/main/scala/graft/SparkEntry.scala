package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions._
import graft.model._
import graft.operators._

/** Driver contract — one `queries` entry (+ DuckDB `oracleSql`) per
  * implemented operator from SURVEY.md §2, re-expressed over the testdata
  * star schema. Column names are aligned byte-for-byte between the Spark
  * result and the oracle SQL (the driver sorts columns by name and
  * hash-compares values).
  */
object SparkEntry {

  /** Flagship: the E1-shaped pipeline finale — CFD over the event stream
    * (SURVEY §2.3 A1) at sf=0.001. Driver smoke-checks rows > 0.
    */
  def entry(spark: SparkSession): DataFrame =
    queries("q05_cfd")(spark, "/root/testdata/sf0.001")

  // ---- shared sub-plans ----------------------------------------------------

  /** Per-order lead-time frame: commitment = o_orderdate, departure =
    * max(l_shipdate) over the order's lines (T4's arrival/commitment/
    * departure semantics mapped onto the order lifecycle).
    */
  private def orderLeadTimes(s: SparkSession, dir: String): DataFrame = {
    val departures = Tables.lineitem(s, dir)
      .groupBy(col("l_orderkey"))
      .agg(max(col("l_shipdate")).as("departure"))
    Tables.orders(s, dir)
      .join(departures, col("o_orderkey") === col("l_orderkey"))
  }

  private val leadTimeOracleCte =
    """d AS (
      |  SELECT o_orderpriority,
      |         date_diff('day', CAST(o_orderdate AS DATE), CAST(departure AS DATE)) AS lead
      |  FROM orders
      |  JOIN (SELECT l_orderkey, MAX(l_shipdate) AS departure FROM lineitem GROUP BY 1) li
      |    ON o_orderkey = l_orderkey)""".stripMargin

  /** The event stream viewed as a work-item changelog: each user is a work
    * item, event types are workflow steps (signup=1, view=2, click=3,
    * purchase=4; arrival/commitment/departure points at 1/3/4).
    */
  private val eventsWorkflow = WorkflowDef("events-wf", Seq(
    WorkflowStepDef("signup", "signup", 1),
    WorkflowStepDef("view", "view", 2),
    WorkflowStepDef("click", "click", 3),
    WorkflowStepDef("purchase", "purchase", 4)),
    WorkflowEventsDef(1, 3, 4))

  private def eventRevisions(s: SparkSession, dir: String) = {
    import s.implicits._
    Tables.events(s, dir)
      .filter(col("event_type").isin("signup", "view", "click", "purchase"))
      .select(col("user_id").cast("string").as("workItemId"),
        lit("events-wf").as("workflowId"),
        col("event_id").cast("int").as("revision"),
        col("event_type").as("statusId"), col("event_type").as("statusName"),
        col("ts").as("changedDate"), lit("state_change").as("revisionType"))
      .as[WorkItemRevision]
  }

  /** Per-JVM scratch root for the load-style queries' staging tables: one
    * tree, removed on JVM exit, instead of an unbounded trail of
    * per-invocation temp dirs under /tmp across bench + verify runs.
    */
  private lazy val scratchRoot: java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory("graft-scratch")
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        val kids = f.listFiles()
        if (kids != null) kids.foreach(rm)
        f.delete(); ()
      }
      rm(p.toFile)
    }))
    p
  }
  private def scratchDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(scratchRoot, prefix).toString

  /** Unique suffix per q162 invocation: a session caches a catalog
    * plugin by NAME with its options pinned at first use, so each run
    * registers a fresh catalog name pointing at a fresh warehouse.
    */
  private val sqlCatSeq = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Evict every frame this session memoized or persisted (the shared
    * fixture/kernel frames below plus operator-internal persists routed
    * through [[CacheRegistry]]). A long-lived server calls this on session
    * retirement; the bench/verify mains run one session per JVM and rely on
    * process exit.
    */
  def clearCaches(s: SparkSession): Unit = {
    val key = CacheRegistry.sessionKey(s)
    Seq(datesCache, rawJsonCache, rawParsedCache, rawRevsCache,
        rawDatesCache, jacPairsCache, compCache, srpPairsCache,
        ivfCentroidsCache)
      .foreach(_.keySet.removeIf(_._1 == key))
    CacheRegistry.clear(s)
  }

  /** q24's result frame, persisted and shared with q25 so the kernel runs
    * once per (session, sf-dir) even when both queries execute in one run.
    */
  private val datesCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), DataFrame]()
  private def eventDatesFrame(s: SparkSession, dir: String): DataFrame =
    datesCache.computeIfAbsent((CacheRegistry.sessionKey(s), dir), _ =>
      EventDateExtractor.extract(eventRevisions(s, dir),
          Map(eventsWorkflow.workflowId -> eventsWorkflow))
        .select(col("workItemId").cast("long").as("user_id"),
          col("arrival"), col("commitment"), col("departure"),
          col("isDelayed").as("is_delayed"),
          col("delayedRevision").cast("long").as("delayed_event"))
        .transform(CacheRegistry.persist))

  /** Exact SQL mirror of the T4 kernel (for workflows with no
    * before-arrival band), parameterized by a source selecting
    * `(uid, rid, ts, band)` revision rows: arrival = first arrival-band
    * revision; commitment = first commitment-band revision with no later
    * same-day arrival-band revision; departure = first departure-band
    * revision after the last non-departure revision; delayed iff the last
    * revision is arrival-band on a different day than commitment; then the
    * fallback/clamp chain. Final CTE `edev` has columns
    * (uid, is_delayed, delayed_rid, arrival, commitment, departure).
    */
  private def eventDatesCteFrom(srcSql: String): String =
    s"""edrevs AS (
       |  SELECT uid, rid, ts, band,
       |    row_number() OVER (PARTITION BY uid ORDER BY ts, rid) AS rn
       |  FROM ($srcSql)),
       |edlast AS (
       |  SELECT uid, band AS last_band, CAST(ts AS DATE) AS last_day,
       |         rn AS last_rn, rid AS last_rid
       |  FROM (SELECT *, max(rn) OVER (PARTITION BY uid) AS mx FROM edrevs)
       |  WHERE rn = mx),
       |edarr AS (SELECT uid, MIN(ts) AS arrival0 FROM edrevs WHERE band = 'arrival' GROUP BY 1),
       |edcmt AS (
       |  SELECT uid, commitment0, crn, cday FROM (
       |    SELECT r.uid, r.ts AS commitment0, r.rn AS crn, CAST(r.ts AS DATE) AS cday,
       |           row_number() OVER (PARTITION BY r.uid ORDER BY r.rn) AS k
       |    FROM edrevs r
       |    WHERE r.band = 'commitment' AND NOT EXISTS (
       |      SELECT 1 FROM edrevs f WHERE f.uid = r.uid AND f.rn > r.rn
       |        AND f.band = 'arrival' AND CAST(f.ts AS DATE) = CAST(r.ts AS DATE)))
       |  WHERE k = 1),
       |edlastnd AS (SELECT uid, MAX(rn) AS last_nd FROM edrevs WHERE band <> 'departure' GROUP BY 1),
       |eddep AS (
       |  SELECT r.uid, MIN(r.ts) AS departure0
       |  FROM edrevs r LEFT JOIN edlastnd n ON r.uid = n.uid
       |  WHERE r.band = 'departure' AND r.rn > COALESCE(n.last_nd, 0)
       |  GROUP BY 1),
       |edraw AS (
       |  SELECT u.uid, a.arrival0, c.commitment0, d.departure0,
       |    CASE WHEN c.commitment0 IS NOT NULL AND l.last_rn > c.crn
       |              AND l.last_band = 'arrival' AND l.last_day <> c.cday
       |         THEN true ELSE false END AS is_delayed,
       |    CASE WHEN c.commitment0 IS NOT NULL AND l.last_rn > c.crn
       |              AND l.last_band = 'arrival' AND l.last_day <> c.cday
       |         THEN l.last_rid END AS delayed_rid
       |  FROM (SELECT DISTINCT uid FROM edrevs) u
       |  LEFT JOIN edarr a ON u.uid = a.uid
       |  LEFT JOIN edcmt c ON u.uid = c.uid
       |  LEFT JOIN eddep d ON u.uid = d.uid
       |  LEFT JOIN edlast l ON u.uid = l.uid),
       |edfb AS (
       |  SELECT uid, is_delayed, delayed_rid, departure0,
       |    COALESCE(arrival0, commitment0, departure0) AS arrival1,
       |    CASE WHEN COALESCE(arrival0, commitment0, departure0) IS NOT NULL
       |              AND commitment0 IS NULL AND departure0 IS NOT NULL
       |         THEN COALESCE(arrival0, commitment0, departure0)
       |         ELSE commitment0 END AS commitment1
       |  FROM edraw),
       |edev AS (
       |  SELECT uid, is_delayed, delayed_rid,
       |    CAST(CASE WHEN commitment2 IS NOT NULL AND arrival1 IS NOT NULL AND arrival1 > commitment2
       |              THEN commitment2 ELSE arrival1 END AS TIMESTAMP) AS arrival,
       |    CAST(commitment2 AS TIMESTAMP) AS commitment,
       |    CAST(departure0 AS TIMESTAMP) AS departure
       |  FROM (
       |    SELECT *, CASE WHEN commitment1 IS NOT NULL AND departure0 IS NOT NULL
       |                        AND commitment1 > departure0
       |                   THEN departure0 ELSE commitment1 END AS commitment2
       |    FROM edfb))""".stripMargin

  /** The q24/q25 instance: revisions = status events straight off `events`
    * (rid = event_id), bands per [[eventsWorkflow]].
    */
  private val eventDatesOracleCte = eventDatesCteFrom(
    """SELECT user_id AS uid, event_id AS rid, ts,
      |  CASE WHEN event_type IN ('signup','view') THEN 'arrival'
      |       WHEN event_type = 'click' THEN 'commitment' ELSE 'departure' END AS band
      |FROM events WHERE event_type IN ('signup','view','click','purchase')""".stripMargin)

  // ---- E1 pipeline fixture (q34-q36): raw Jira-shaped items from events ----

  /** Workflow for the raw-item fixture (same step orders/points as
    * [[eventsWorkflow]], varied state types for the snapshot columns).
    */
  private val rawWorkflow = WorkflowDef("raw-wf", Seq(
    WorkflowStepDef("signup", "signup", 1, stateType = "queue"),
    WorkflowStepDef("view", "view", 2, stateType = "queue"),
    WorkflowStepDef("click", "click", 3, stateType = "active"),
    WorkflowStepDef("purchase", "purchase", 4, stateType = "queue")),
    WorkflowEventsDef(1, 3, 4))

  /** Exploded revision stream of the raw-item fixture, persisted per
    * (session, sf-dir) — shared by q34/q35/q36.
    */
  // The fixture is consumed by six queries (q34-q36, q41, q42); persist the
  // JSON and parsed frames once per (session, sf-dir) so no query re-runs
  // the fixture construction (windows + JSON round-trip) from scratch.
  private val rawJsonCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), DataFrame]()
  private def rawItemsJson(s: SparkSession, dir: String): DataFrame =
    rawJsonCache.computeIfAbsent((CacheRegistry.sessionKey(s), dir), _ =>
      graft.sources.RawItemsFixture.asJson(Tables.events(s, dir)).transform(CacheRegistry.persist))

  private val rawParsedCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), DataFrame]()
  private def rawItemsParsed(s: SparkSession, dir: String): DataFrame =
    rawParsedCache.computeIfAbsent((CacheRegistry.sessionKey(s), dir), _ =>
      rawItemsJson(s, dir)
        .select(from_json(col("raw_json"), graft.sources.RawItemsFixture.schema).as("r"))
        .select("r.*").transform(CacheRegistry.persist))

  private val rawRevsCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), DataFrame]()
  private def rawRevisions(s: SparkSession, dir: String): DataFrame =
    rawRevsCache.computeIfAbsent((CacheRegistry.sessionKey(s), dir), _ =>
      RevisionPipeline.explodeChangelog(rawItemsParsed(s, dir)).transform(CacheRegistry.persist))

  /** Fixture event dates, persisted — shared by q35 and q36. */
  private val rawDatesCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), DataFrame]()
  private def rawEventDates(s: SparkSession, dir: String): DataFrame =
    rawDatesCache.computeIfAbsent((CacheRegistry.sessionKey(s), dir), _ =>
      RevisionPipeline.eventDatesFor(rawRevisions(s, dir),
        Map(rawWorkflow.workflowId -> rawWorkflow), rawWorkflow.workflowId)
        .toDF().transform(CacheRegistry.persist))

  /** Materialize a corpus-expensive SHARED frame to scratch parquet
    * ONCE and hand every consumer the file-backed read (persisted):
    * if memory pressure or cross-query cache churn drops the cached
    * blocks, the worst-case recompute is a columnar file read — never
    * the corpus-scale pairing/propagation lineage it replaced. The
    * q52 literal-model-frame fix applied to frames too big to be
    * literals (the driver-window anomalies of rounds 14/15 were
    * exactly these consumers re-deriving a dropped handle).
    */
  private def scratchMaterialize(s: SparkSession, tag: String,
                                 df: DataFrame): DataFrame = {
    val p = scratchDir(tag) + "/m"
    df.write.mode("overwrite").parquet(p)
    s.read.parquet(p).transform(CacheRegistry.persist)
  }

  /** q22's exact Jaccard pairs, persisted and shared with q32/q63/q65. */
  private val jacPairsCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), DataFrame]()
  private def jaccardPairsFrame(s: SparkSession, dir: String): DataFrame =
    jacPairsCache.computeIfAbsent((CacheRegistry.sessionKey(s), dir), _ =>
      scratchMaterialize(s, "graft-jacpairs",
        Dedup.ngramJaccardPairs(Tables.documents(s, dir), col("doc_id"),
          col("text"), n = 2, threshold = 0.3)))

  /** q63's transitive dedup-cluster labels (persisted inside
    * connectedComponents), memoized so q65's survivor selection reuses the
    * propagation fixpoint instead of re-running it.
    */
  private val compCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), DataFrame]()
  private def dedupComponentsFrame(s: SparkSession, dir: String): DataFrame =
    compCache.computeIfAbsent((CacheRegistry.sessionKey(s), dir), _ =>
      scratchMaterialize(s, "graft-comp",
        Dedup.connectedComponents(jaccardPairsFrame(s, dir),
          col("id_a"), col("id_b"))))

  /** q62's SRP near-dup pairs, persisted and shared with q76. */
  private val srpPairsCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), DataFrame]()
  private def srpPairsFrame(s: SparkSession, dir: String): DataFrame =
    srpPairsCache.computeIfAbsent((CacheRegistry.sessionKey(s), dir), _ =>
      scratchMaterialize(s, "graft-srppairs",
        Similarity.srpNearDupPairs(Tables.embeddings(s, dir), col("vec_id"),
          col("embedding"), threshold = 0.35, bits = 32, bands = 4)))

  /** q81's wide-key SRP pair frame over the replica corpus, persisted and
    * memoized — q123's triangle diagnostic runs on the same graph (the
    * planted replica 4-cliques are exactly the dense structure triangle
    * counts exist to surface).
    */
  private val replicaPairsCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), DataFrame]()
  private def replicaPairsFrame(s: SparkSession, dir: String): DataFrame =
    replicaPairsCache.computeIfAbsent((CacheRegistry.sessionKey(s), dir), _ =>
      scratchMaterialize(s, "graft-reppairs",
        Similarity.srpNearDupPairs(replicaEmbeddings(s, dir), col("vec_id"),
          col("embedding"), threshold = 0.9, bits = 64, bands = 4)))

  /** q52's trained IVF centroid frame (2 Lloyd iterations from the first 8
    * vectors), persisted inside ivfTrain and memoized so q79's semantic
    * dedup reuses the same centroids instead of re-training.
    */
  private val ivfCentroidsCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), DataFrame]()
  private def ivfCentroidsFrame(s: SparkSession, dir: String): DataFrame =
    ivfCentroidsCache.computeIfAbsent((CacheRegistry.sessionKey(s), dir), _ => {
      val emb = Tables.embeddings(s, dir)
      val trained = Similarity.ivfTrain(emb, emb.filter(col("vec_id") < 8),
        col("vec_id"), col("embedding"), iterations = 2)
      // MATERIALIZE the trained model as a literal local frame (8 rows):
      // a cached-plan handle can be evicted mid-session, and a consumer
      // (q79/q80) would then silently re-run the full Lloyd training
      // inside its own plan — the round-14 driver-instrument anomaly's
      // one plausible mechanism. Model parameters are DATA, not lineage.
      val rows = trained.collect().toSeq
      trained.unpersist(blocking = false)
      s.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](
          scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
        trained.schema)
    })

  /** q117's PQ codebooks (4 subspaces × 16 dims, 8 codewords, 2 Lloyd
    * iterations), persisted inside pqCodebooks and memoized so q118's
    * IVF-PQ reuses the same books instead of re-training per query.
    */
  private val pqBooksCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), DataFrame]()
  private def pqBooksFrame(s: SparkSession, dir: String): DataFrame =
    pqBooksCache.computeIfAbsent((CacheRegistry.sessionKey(s), dir), _ => {
      val books = Similarity.pqCodebooks(Tables.embeddings(s, dir),
        col("vec_id"), col("embedding"),
        subspaces = 4, subDim = 16, seedCount = 8, iterations = 2)
      // materialized like ivfCentroidsFrame: 4×8 codewords are data,
      // not lineage — an evicted handle must not re-train inside a
      // consumer's plan
      val rows = books.collect().toSeq
      books.unpersist(blocking = false)
      s.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](
          scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
        books.schema)
    })

  /** DuckDB mirror of [[graft.sources.RawItemsFixture]] + T1 explode: CTE
    * `rrev` holds every revision row the explode emits (tracked changes,
    * flag-removal markers, synthesized revision-0 state+assignee pair).
    */
  private val rawRevsOracleCte =
    """rstat AS (
      |  SELECT user_id, event_id, ts, event_type,
      |    coalesce(lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id), 'signup') AS prev
      |  FROM events WHERE event_type IN ('signup','view','click','purchase')),
      |rerr AS (
      |  SELECT user_id, event_id, ts,
      |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS ern
      |  FROM events WHERE event_type = 'error'),
      |rsign AS (SELECT user_id, COUNT(*) AS n_signup FROM events WHERE event_type = 'signup' GROUP BY 1),
      |rbase AS (SELECT user_id, MIN(ts) - INTERVAL 1 HOUR AS created FROM events GROUP BY 1),
      |rrev AS (
      |  SELECT user_id AS uid, event_id + 1 AS rid, ts AS changed_ts,
      |    event_type AS status_id, event_type AS status_name, event_type AS status_text,
      |    'state_change' AS rtype, CAST(NULL AS VARCHAR) AS assignee, false AS flag_bit,
      |    prev AS from_id, prev AS from_string
      |  FROM rstat
      |  UNION ALL
      |  SELECT user_id, event_id + 1, ts,
      |    'u' || CAST(event_id % 7 AS VARCHAR), 'user-' || CAST(event_id % 7 AS VARCHAR), '',
      |    'assignee_change', 'user-' || CAST(event_id % 7 AS VARCHAR), false, '', ''
      |  FROM rstat WHERE event_type = 'signup'
      |  UNION ALL
      |  SELECT user_id, event_id + 1, ts, 'flag', 'Impediment', '',
      |    'flagged', CAST(NULL AS VARCHAR), true, '', ''
      |  FROM rerr WHERE ern % 2 = 1
      |  UNION ALL
      |  SELECT user_id, event_id + 1, ts, 'flagged', 'flagged', 'flagged',
      |    'flagged', CAST(NULL AS VARCHAR), false, 'flag', 'Impediment'
      |  FROM rerr WHERE ern % 2 = 0
      |  UNION ALL
      |  SELECT user_id, 0, created, 'signup', 'signup', 'signup',
      |    'state_change', CAST(NULL AS VARCHAR), false, 'signup', ''
      |  FROM rbase
      |  UNION ALL
      |  SELECT b.user_id, 0, b.created, 'signup', 'signup', 'signup',
      |    'assignee_change', CASE WHEN s.n_signup IS NOT NULL THEN '' END,
      |    false, 'signup', ''
      |  FROM rbase b LEFT JOIN rsign s ON b.user_id = s.user_id)""".stripMargin

  /** Event-dates chain over the fixture's state-change revisions (includes
    * the synthesized revision 0). Bands per [[rawWorkflow]].
    */
  private val rawEventDatesCte = eventDatesCteFrom(
    """SELECT uid, rid, changed_ts AS ts,
      |  CASE WHEN status_id IN ('signup','view') THEN 'arrival'
      |       WHEN status_id = 'click' THEN 'commitment' ELSE 'departure' END AS band
      |FROM rrev WHERE rtype = 'state_change'""".stripMargin)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // S1-S4: scan with filter pushdown + column projection + range predicate.
    "q01_scan_filter" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp_ntz") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp_ntz") &&
          col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_discount")
    }),

    // Core aggregation (pricing-summary shape): order-independent exact sums.
    "q02_agg_pricing" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      li.groupBy(col("l_returnflag"), col("l_linestatus")).agg(
        exactSum(col("l_quantity"), 2).as("sum_qty"),
        exactSum(col("l_extendedprice"), 2).as("sum_base_price"),
        exactSum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6).as("sum_disc_price"),
        (exactSum(col("l_quantity"), 2) / count(lit(1))).as("avg_qty"),
        (exactSum(col("l_extendedprice"), 2) / count(lit(1))).as("avg_price"),
        count(lit(1)).as("count_order"))
    }),

    // 3-way join + top-N: broadcast the small dimension side.
    "q03_join_topn" -> ((s, dir) => {
      val c = Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
      val o = Tables.orders(s, dir)
      val l = Tables.lineitem(s, dir)
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(exactSum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6).as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey"))
        .limit(10)
    }),

    // T2/T3: keep-on-change dedupe of consecutive revisions.
    "q04_dedupe_consecutive" -> ((s, dir) => {
      ConsecutiveDedupe.keepOnChange(Tables.events(s, dir),
          Seq(col("user_id")), Seq(col("ts"), col("event_id")), col("event_type"))
        .select("user_id", "event_id", "ts", "event_type")
    }),

    // A1: cumulative flow diagram (calculate_cfd.sql semantics).
    "q05_cfd" -> ((s, dir) => {
      Cfd.cfd(Tables.events(s, dir), col("event_type"), to_date(col("ts")),
        Seq("purchase"))
    }),

    // §2.5: gap sessionization (session-window analog).
    "q06_sessionize" -> ((s, dir) => {
      Sessionize.sessions(Tables.events(s, dir), col("user_id"), col("ts"),
        col("event_id"), gapMinutes = 30)
    }),

    // Dedup (exact): content-hash duplicate groups.
    "q07_dedup_exact" -> ((s, dir) => {
      Dedup.exactGroups(Tables.documents(s, dir), col("doc_id"), col("text"))
    }),

    // Text analysis: surface stats + quality score.
    "q08_text_stats" -> ((s, dir) => {
      TextAnalysis.textStats(Tables.documents(s, dir), col("text"))
        .select("doc_id", "n_tokens", "n_uniq_tokens", "n_chars_measured",
          "sum_token_len", "uniq_ratio", "quality_score")
    }),

    // Text analysis: stopword-profile language ID.
    "q09_lang_id" -> ((s, dir) => {
      TextAnalysis.languageId(Tables.documents(s, dir), col("text"))
        .select("doc_id", "lang", "score_en", "score_es", "predicted_lang")
    }),

    // Similarity search: exact brute-force cosine top-k.
    "q10_cosine_topk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.bruteForceTopK(
          emb.filter(col("vec_id") < 10), emb,
          col("vec_id"), col("embedding"), col("vec_id"), col("embedding"), k = 5)
        .withColumn("rank", col("rank").cast("long"))
    }),

    // A6: lead-time percentiles/average per class of service.
    "q11_leadtime_stats" -> ((s, dir) => {
      Insights.leadTimeStats(orderLeadTimes(s, dir), col("o_orderpriority"),
        col("o_orderdate"), col("departure"))
    }),

    // A2: weekly throughput run-chart quartiles.
    "q12_throughput_quartiles" -> ((s, dir) => {
      Insights.throughputQuartiles(
        Tables.orders(s, dir).filter(col("o_orderstatus") === "F"),
        col("o_orderdate"))
    }),

    // A5: profile of work (share per bucket).
    "q13_profile_of_work" -> ((s, dir) => {
      Insights.profileOfWork(Tables.orders(s, dir), col("o_orderpriority"))
        .withColumnRenamed("bucket", "o_orderpriority")
    }),

    // A3: expedite percentage of the class-of-service distribution.
    "q14_expedite_pct" -> ((s, dir) => {
      Insights.expeditePct(Tables.orders(s, dir), col("o_orderpriority") === "1-URGENT")
    }),

    // A7: threshold-subscription evaluation against a computed forecast.
    "q15_threshold_eval" -> ((s, dir) => {
      import s.implicits._
      val subs = Seq(
        ("1-URGENT", "up", 5.0, 30.0),
        ("2-HIGH", "down", 3.0, 25.0),
        ("3-MEDIUM", "both", 2.0, 28.0),
        ("4-NOT SPECIFIED", "up", 10.0, 40.0),
        ("5-LOW", "down", 1.0, 35.0)
      ).toDF("o_orderpriority", "direction", "threshold", "target_value")
      val predicted = orderLeadTimes(s, dir)
        .groupBy(col("o_orderpriority"))
        .agg(percentile(
          datediff(col("departure").cast("date"), col("o_orderdate").cast("date")),
          lit(0.85)).as("predicted_value"))
      Insights.evaluateThresholds(subs, predicted, "o_orderpriority")
    }),

    // T19: deleted-item reconciliation (anti-join): store-side customers with
    // no expedite-class order in the source snapshot.
    "q16_deleted_items" -> ((s, dir) => {
      Reconcile.deletedItems(Tables.customer(s, dir),
          Tables.orders(s, dir).filter(col("o_orderpriority") === "1-URGENT"),
          col("c_custkey"), col("o_custkey"))
        .select("c_custkey")
    }),

    // A9: reingest key synthesis (two join paths, union, distinct).
    "q17_reingest_keys" -> ((s, dir) => {
      val byCustomer = Tables.orders(s, dir)
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .select(concat(lit("state#"), col("c_mktsegment"), lit("/"),
          col("o_orderkey").cast("string")).as("s3_key"))
      val byPriority = Tables.orders(s, dir)
        .select(concat(lit("ctx#"), col("o_orderpriority"), lit("/"),
          col("o_orderkey").cast("string")).as("s3_key"))
      byCustomer.unionByName(byPriority).distinct()
    }),

    // T13: unmapped-workflow-step detection + automap defaults.
    "q18_unmapped_steps" -> ((s, dir) => {
      import s.implicits._
      val steps = Seq("click", "view", "purchase", "signup").toDF("name")
      Reconcile.unmappedSteps(Tables.events(s, dir), col("event_type"),
        steps, col("name"))
    }),

    // T9: flagged-interval fill over the revision stream.
    "q19_flagged_fill" -> ((s, dir) => {
      FlaggedIntervals.fill(Tables.events(s, dir), col("user_id"),
          Seq(col("ts"), col("event_id")),
          col("event_type") === "error", col("event_type") === "purchase")
        .select("user_id", "event_id", "flagged")
    }),

    // T11: polymorphic JSON field extraction.
    "q20_json_extract" -> ((s, dir) => {
      Tables.events(s, dir).select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("int").as("k_value"))
    }),

    // Tumbling-window aggregation (streaming-equivalent day/hour bucketing).
    "q21_hourly_rollup" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour_start"))
        .agg(count(lit(1)).as("n_events"), exactSum(col("value"), 2).as("sum_value"))
    }),

    // Dedup (near): exact word-bigram Jaccard pairs; the physical strategy
    // (prefix filter vs blocked all-pairs) is picked from a corpus stat.
    "q22_ngram_jaccard" -> ((s, dir) => jaccardPairsFrame(s, dir)),

    // Dedup (near): embedding-cosine pairs, brute force baseline.
    "q23_embedding_neardup" -> ((s, dir) => {
      Dedup.embeddingNearDupPairs(Tables.embeddings(s, dir), col("vec_id"),
        col("embedding"), threshold = 0.35)
    }),

    // T4: the event-date extraction kernel (flatMapGroups) over the event
    // stream viewed as work-item changelogs.
    "q24_event_dates" -> ((s, dir) => eventDatesFrame(s, dir)),

    // T7: point-in-time state-category classification of every event against
    // its item's event dates (stateCategoryRelativeToDate).
    "q25_state_category_asof" -> ((s, dir) => {
      val dates = eventDatesFrame(s, dir) // persisted — shared with q24
      // dates has item cardinality — shuffle join; AQE broadcasts if small
      Tables.events(s, dir).join(dates, Seq("user_id"), "left")
        .select(col("event_id"), col("user_id"),
          when(col("arrival").isNull || col("ts") < col("arrival"), "preceding")
            .when(col("commitment").isNull || col("ts") < col("commitment"), "proposed")
            .when(col("departure").isNull || col("ts") < col("departure"), "inprogress")
            .otherwise("completed").as("category"))
    }),

    // Dedup (near): MinHash + LSH banding (shingle→minhash→band→bucket-join).
    "q26_minhash_lsh" -> ((s, dir) => {
      Sketches.minhashLshPairs(Tables.documents(s, dir), col("doc_id"),
        col("text"), n = 2, bands = 4, rowsPerBand = 4, minEstSim = 0.25)
    }),

    // Dedup (near): SimHash signatures per document.
    "q27_simhash" -> ((s, dir) => {
      Sketches.simhashSignatures(Tables.documents(s, dir), col("doc_id"), col("text"))
        .withColumnRenamed("doc", "doc_id")
    }),

    // Dedup (near): SimHash hamming-distance pairs.
    "q28_simhash_pairs" -> ((s, dir) => {
      Sketches.simhashPairs(Tables.documents(s, dir), col("doc_id"), col("text"),
        maxHamming = 2)
    }),

    // Text analysis: document fingerprints (rolling hash + normalized md5).
    "q29_fingerprint" -> ((s, dir) => {
      Tables.documents(s, dir)
        .withColumn("__codes", transform(
          filter(split(col("text"), ""), c => c =!= ""),
          c => ascii(c).cast("long")))
        .select(col("doc_id"),
          aggregate(col("__codes"), lit(0L),
            (acc, x) => (acc * 31L + x) % 1000000007L).as("rolling_fp"),
          TextAnalysis.normalizedFingerprint(col("text")).as("norm_md5"))
    }),

    // Similarity search, scale path: IVF cell assignment + within-cell top-k.
    "q30_ann_ivf" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.ivfTopK(
        vectors = emb,
        centroids = emb.filter(col("vec_id") < 8),
        queries = emb.filter(col("vec_id") >= 10 && col("vec_id") < 20),
        col("vec_id"), col("embedding"), k = 3)
    }),

    // A8 + A4/A6: wide insights-snapshot row per class of service.
    "q31_insights_snapshot" -> ((s, dir) => {
      val asOf = lit("2001-09-01").cast("timestamp_ntz")
      val o = Tables.orders(s, dir)
      val open = col("o_orderstatus") === "O"
      val base = o.groupBy(col("o_orderpriority")).agg(
        sum(when(open, 1).otherwise(0)).as("wip_count"),
        sum(when(col("o_orderstatus") === "F", 1).otherwise(0)).as("throughput_total"),
        (sum(when(open, datediff(asOf.cast("date"), col("o_orderdate").cast("date"))
          .cast("decimal(38,0)"))).cast("double") /
          sum(when(open, 1))).as("wip_age_avg"))
      val lead = Insights.leadTimeStats(orderLeadTimes(s, dir),
        col("o_orderpriority"), col("o_orderdate"), col("departure"))
        .select(col("o_orderpriority"), col("lead_p85"), col("lead_avg"))
      base.join(lead, "o_orderpriority")
        .withColumn("flow_debt", round(lit(100.0) * col("wip_age_avg") / col("lead_p85"), 2))
        .withColumn("demand_over_capacity_pct",
          round(lit(100.0) * col("wip_count") / col("throughput_total"), 2))
    }),

    // End-to-end dedup: greedy keep-list — a document is dropped iff it has
    // a near-dup (bigram jaccard ≥ 0.3) with a smaller id.
    "q32_dedup_keeplist" -> ((s, dir) => {
      val pairs = jaccardPairsFrame(s, dir) // persisted — shared with q22
      Tables.documents(s, dir)
        .join(pairs.select(col("id_b").as("doc_id")).distinct(), Seq("doc_id"), "left_anti")
        .select(col("doc_id"))
    }),

    // Training-data quality gate: keep documents passing length/diversity
    // thresholds (the actionable form of the q08 quality score).
    "q33_quality_filter" -> ((s, dir) => {
      TextAnalysis.textStats(Tables.documents(s, dir), col("text"))
        .filter(col("n_tokens") >= 20 && col("n_tokens") <= 120 &&
          col("uniq_ratio") >= 0.3)
        .select("doc_id", "n_tokens", "uniq_ratio")
    }),

    // T1: the E1 changelog explode over raw Jira-shaped JSON documents —
    // tracked field changes, flag-removal markers, synthesized revision 0.
    "q34_changelog_explode" -> ((s, dir) => {
      rawRevisions(s, dir).select(
        col("workItemId").as("work_item_id"),
        col("revision").cast("long").as("revision"),
        col("changedDate").as("changed_date"),
        col("statusId").as("status_id"),
        col("statusName").as("status_name"),
        col("statusText").as("status_text"),
        col("type").as("rev_type"),
        col("assignee"),
        col("blockedReason").as("blocked_reason"),
        col("discardedReason").as("discarded_reason"),
        col("flagged"),
        col("from").as("from_id"),
        col("fromString").as("from_string"))
    }),

    // T1→T4→T8→T9: the full E1 snapshot pipeline — explode, event-date
    // kernel, snapshot construction with step lookup, point-in-time state
    // category, delayed stamping, and the flagged-interval fill.
    "q35_snapshot_pipeline" -> ((s, dir) => {
      val revs = rawRevisions(s, dir)
      val dates = rawEventDates(s, dir) // persisted — shared with q36
      RevisionPipeline.snapshots(revs, dates, rawWorkflow).select(
        col("workItemId").as("work_item_id"),
        col("revision").cast("long").as("revision"),
        col("type").as("rev_type"),
        col("flomatikaSnapshotDate").as("snapshot_date"),
        col("changedDate").as("changed_date"),
        col("statusId").as("status_id"),
        col("statusName").as("status_name"),
        col("stateOrder").cast("int").as("state_order"),
        col("stateType").as("state_type"),
        col("stepCategory").as("step_category"),
        col("stateCategory").as("state_category"),
        col("isDelayed").as("is_delayed"),
        col("flagged"),
        col("assignee"))
    }),

    // T10: the full current-state translate — parent resolution chain
    // (parent.key ∥ parent-link ∥ epic-link), workItemTypeMap SLE/level
    // lookup, current-step state type/order, isItemFlagged all-fields scan.
    "q36_states_translate" -> ((s, dir) => {
      val raw = rawItemsParsed(s, dir)
      val dates = rawEventDates(s, dir) // persisted — shared with q35
      RevisionPipeline.states(raw, dates, "org-1", "ds-1",
          typeMaps = rawTypeMaps, workflow = Some(rawWorkflow),
          epicLinkFieldId = Some("customfield_10014"))
        .select(
          col("workItemId").as("work_item_id"),
          col("title"),
          col("workItemType").as("work_item_type"),
          col("state"),
          col("stateType").as("state_type"),
          col("stateOrder").as("state_order"),
          col("assignedTo").as("assigned_to"),
          col("projectId").as("project_id"),
          col("parentId").as("parent_id"),
          col("flomatikaWorkItemTypeId").as("flomatika_type_id"),
          col("flomatikaWorkItemTypeLevel").as("type_level"),
          col("flomatikaWorkItemTypeServiceLevelExpectationInDays").as("sle_days"),
          col("flagged"),
          col("changedDate").as("changed_date"),
          col("arrivalDate").as("arrival_date"),
          col("commitmentDate").as("commitment_date"),
          col("departureDate").as("departure_date"),
          col("isDelayed").as("is_delayed"),
          col("stepCategory").as("step_category"),
          col("stateCategory").as("state_category"),
          col("partitionKey").as("partition_key"),
          col("sortKey").as("sort_key"))
    }),

    // A6 + A8: the FULL wide insights-snapshot row (every metric of the
    // reference's insights_snapshots DDL computed natively).
    "q37_insights_wide" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      val li = Tables.lineitem(s, dir)
      // a line is "late" when shipped >100 days after the order arrived —
      // the l_commitdate analog for this synthetic schema
      val liJo = li.join(o.select(col("o_orderkey").as("lo_key"),
          col("o_orderdate").as("lo_date"), col("o_orderstatus").as("lo_status")),
        col("l_orderkey") === col("lo_key"))
      val lineAgg = liJo.groupBy(col("l_orderkey")).agg(
        max(col("l_shipdate")).as("departure"),
        min(col("l_shipdate")).as("first_ship"),
        max(when(col("l_returnflag") === "R", 1).otherwise(0)).as("has_return"),
        max(when(col("l_shipdate") > col("lo_date") + expr("INTERVAL 100 DAYS"), 1)
          .otherwise(0)).as("has_late"))
      val items = o.join(lineAgg, col("o_orderkey") === col("l_orderkey"))
        .select(
          col("o_orderpriority").as("class_of_service"),
          when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), "Portfolio")
            .otherwise("Team").as("level"),
          when(col("o_orderstatus") === "F", "completed")
            .when(col("o_orderstatus") === "O", "open")
            .otherwise("discarded").as("status"),
          col("o_orderdate").as("arrival_date"),
          col("departure").as("departure_date"),
          datediff(col("departure").cast("date"), col("o_orderdate").cast("date"))
            .as("lead_days"),
          datediff(col("departure").cast("date"), col("first_ship").cast("date"))
            .as("active_days"),
          (col("has_return") === 1).as("is_blocked"),
          (col("has_late") === 1).as("is_late"),
          when(col("o_orderpriority") === "1-URGENT", 70).otherwise(90).as("sle_days"))
      val delayReasons = liJo
        .filter(col("lo_status") === "O" &&
          col("l_shipdate") > col("lo_date") + expr("INTERVAL 100 DAYS"))
        .select(col("l_returnflag").as("reason"))
      Insights.wideSnapshot(items, delayReasons,
          asOf = lit("2001-09-01").cast("timestamp_ntz"),
          staleAgeDays = 1825,
          windowStart = lit("1996-01-01").cast("timestamp_ntz"),
          windowEnd = lit("1997-12-31").cast("timestamp_ntz"),
          expediteClass = "1-URGENT", fixedDateClass = "2-HIGH",
          intangibleClass = "5-LOW", standardClass = "3-MEDIUM",
          valueClasses = Seq("1-URGENT", "2-HIGH", "3-MEDIUM"))
        .select("lead_time_85", "lead_time_team_avg", "lead_time_portfolio_85",
          "lead_time_portfolio_avg", "wip_count", "wip_age_85", "wip_age_avg",
          "total_throughput", "capacity", "flow_efficiency", "fitness_level",
          "lead_time_target_met", "flow_debt", "stale_work", "blockers",
          "delayed_items_count", "discarded_after_start", "demand",
          "value_demand", "inflow", "outflow", "expedite_pcnt",
          "demand_over_capacity_percent", "inflow_outflow_percent",
          "lead_time_predictability", "throughput_predictability",
          "average_throughput", "quantile_first", "quantile_second",
          "quantile_third", "quantile_fourth", "profile_of_work",
          "key_sources_of_delay")
    }),

    // T2: all four ADO dedupe-consecutive families over an ADO-shaped
    // revision stream — state, null-safe assignee, blocked with the
    // unblocked-prefix skip + flagged stamping, custom field with the
    // non-null filter.
    "q38_ado_dedupe" -> ((s, dir) => {
      val arev = Tables.events(s, dir).select(
        col("user_id").as("WorkItemId"),
        col("event_id").as("Revision"),
        col("event_type").as("State"),
        struct(when(pmod(col("event_id"), lit(11)) =!= 0,
          concat(lit("user-"), pmod(col("event_id"), lit(5)))).as("UserName"))
          .as("AssignedTo"),
        when(col("event_type") === "error", "Yes")
          .when(pmod(col("event_id"), lit(2)) === 0, "No").as("Custom_Blocked"),
        when(pmod(col("event_id"), lit(5)) =!= 0,
          concat(lit("v"), pmod(col("event_id"), lit(3)))).as("CF1"))
      def shape(df: DataFrame, family: String, value: Column, flagged: Column) =
        df.select(col("WorkItemId").as("work_item_id"),
          col("Revision").as("revision"), lit(family).as("family"),
          value.as("value"), flagged.cast("boolean").as("flagged"))
      val noFlag = lit(null).cast("boolean")
      shape(AdoDedupe.stateChanges(arev), "state", col("State"), noFlag)
        .unionByName(shape(AdoDedupe.assigneeChanges(arev), "assignee",
          col("assignee"), noFlag))
        .unionByName(shape(AdoDedupe.blockedChanges(arev, "Custom_Blocked"),
          "blocked", col("Custom_Blocked"), col("flagged")))
        .unionByName(shape(AdoDedupe.customFieldChanges(arev, "CF1"),
          "custom", col("fieldValue"), noFlag))
    }),

    // E2 + A10: context-membership refresh — stale membership written, then
    // a refresh replaces only the touched contexts (a keyed replace on the
    // context: every incoming row of a context survives, its stale rows
    // go — upsert + anti-delete in one commit); the query returns the
    // table READ BACK, so the replace semantics are what's checked.
    "q39_membership_refresh" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      val path = scratchDir("graft-cwim") + "/cwim"
      val refreshed = Seq("1-URGENT", "2-HIGH")
      val stale = o.filter(col("o_orderpriority").isin(refreshed: _*))
        .select(col("o_orderkey").as("work_item_id"),
          col("o_orderpriority").as("context_id"))
        .unionByName(o.filter(pmod(col("o_orderkey"), lit(97)) === 0)
          .select(col("o_orderkey").as("work_item_id"),
            lit("legacy").as("context_id")))
      sources.MergeWriter.merge(s, path, stale, Seq("context_id"))
      val fresh = o.filter(col("o_orderpriority").isin(refreshed: _*) &&
          col("o_totalprice") > 150000)
        .select(col("o_orderkey").as("work_item_id"),
          col("o_orderpriority").as("context_id"))
      sources.MergeWriter.merge(s, path, fresh, Seq("context_id"))
      sources.MergeWriter.readTable(s, path)
        .select(col("context_id"), col("work_item_id"))
    }),

    // Multimodal: binary payload column + deterministic feature kernel
    // (documents text as UTF-8 bytes; the decode body is the documented
    // stub, reproducible in the oracle — ASCII-only docs so byte == char).
    "q40_multimodal_features" -> ((s, dir) => {
      val ascii = Tables.documents(s, dir)
        .filter(col("text").rlike("\\A[\\x00-\\x7F]*\\z"))
      val assets = Multimodal.toAssets(ascii, col("doc_id"), col("text"), "text/plain")
      val feats = Multimodal.extractImageFeatures(assets, dim = 8)
      feats.select(Seq(col("asset_id")) ++
        (0 until 8).map(i => col("features").getItem(i).as(s"f$i")): _*)
    }),

    // T11: polymorphic custom-field extraction over the raw JSON — every
    // branch of the reference's shape dispatch (object-with-value /
    // object-with-name / scalar / JSON null → 'null' / array of strings)
    // plus a plain scalar config field that is absent for half the items.
    "q41_custom_fields" -> ((s, dir) => {
      val json = rawItemsJson(s, dir)
      Translate.customFields(json,
          get_json_object(col("raw_json"), "$.key"),
          get_json_object(col("raw_json"), "$.fields"),
          Seq(("customfield_10029", "Class of Service", "string"),
            ("customfield_10014", "Epic Link", "string")))
        .select(col("workItemId").as("work_item_id"),
          col("datasourceFieldName").as("field_name"),
          col("displayName").as("display_name"),
          col("datasourceFieldValue").as("field_value"),
          col("type").as("field_type"))
    }),

    // T12: linked-items translation (issuelinks → {outward∥inward, key}).
    "q42_linked_items" -> ((s, dir) => {
      val parsed = rawItemsParsed(s, dir)
      parsed.select(col("key").as("work_item_id"),
          explode(Translate.linkedItems(col("fields.issuelinks"))).as("l"))
        .select(col("work_item_id"), col("l.type").as("link_type"),
          col("l.workItemId").as("linked_id"))
    }),

    // L1/L3: the custom-field load's delete-then-upsert transactional
    // shape — two load rounds through the keyed MERGE writer, then the
    // table read back: reloaded items keep ONLY their new rows (stale
    // fields deleted), untouched items keep their round-1 rows, and the
    // inline (workItemId, name, value) dedupe collapses duplicates.
    "q43_customfield_load" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      val path = scratchDir("graft-cfload") + "/customFields"
      val wid = concat(lit("W"), pmod(col("o_orderkey"), lit(20)))
      val round1 = o.select(wid.as("workItemId"),
          lit("priority").as("name"), col("o_orderpriority").as("value"))
        .unionByName(o.select(wid.as("workItemId"),
          lit("status").as("name"), col("o_orderstatus").as("value")))
      sources.MergeWriter.loadCustomFields(s, path, round1)
      val round2 = o.filter(pmod(col("o_orderkey"), lit(20)) < 8)
        .select(wid.as("workItemId"), lit("priority").as("name"),
          concat(lit("R2-"), col("o_orderpriority")).as("value"))
      sources.MergeWriter.loadCustomFields(s, path, round2)
      sources.MergeWriter.readTable(s, path)
        .select(col("workItemId").as("work_item_id"), col("name"), col("value"))
    }),

    // T14: exclude-completed-before (calendar-day comparison on departure).
    "q44_exclude_completed" -> ((s, dir) => {
      SecondaryTransforms.excludeCompletedBefore(orderLeadTimes(s, dir),
          col("departure"), lit("1995-06-15").cast("timestamp_ntz"))
        .select(col("o_orderkey"))
    }),

    // T15: seeded demo anonymization — lorem title + pseudonym pool from a
    // deterministic engine-portable id hash, org rewrite.
    "q45_anonymize" -> ((s, dir) => {
      val seeded = (c: Column) =>
        pmod(c.cast("long") * lit(1103527591L) + lit(456789L), lit(2147483647L))
      SecondaryTransforms.anonymizeDemo(
          Tables.customer(s, dir)
            .select(col("c_custkey"), col("c_name"),
              col("c_nationkey").cast("string").as("c_contact"),
              col("c_mktsegment")),
          col("c_custkey"), "c_name", "c_contact", "c_mktsegment", "demo-org",
          hashOf = seeded)
        .select(col("c_custkey"), col("c_name").as("anon_title"),
          col("c_contact").as("anon_assignee"), col("c_mktsegment").as("org"))
    }),

    // T16: conditional field-map copy (all-conditions-true chain).
    "q46_field_map_copy" -> ((s, dir) => {
      val base = Tables.orders(s, dir)
        .withColumn("priority_flag", lit(null).cast("string"))
      Translate.conditionalFieldCopy(base, "o_orderpriority", "priority_flag",
          Seq(("o_orderstatus", "O")))
        .select(col("o_orderkey"), col("priority_flag"))
    }),

    // T18: sprint transform — (context→boards) × (board→sprints) flatten.
    "q47_sprint_transform" -> ((s, dir) => {
      val contextBoards = Tables.nation(s, dir)
        .select(concat(lit("ctx-"), col("n_name")).as("contextId"),
          col("n_nationkey").as("boardId"))
      val boardSprints = Tables.orders(s, dir)
        .filter(pmod(col("o_orderkey"), lit(50)) === 0)
        .select(pmod(col("o_custkey"), lit(25)).as("boardId"),
          col("o_orderkey").as("sprintId"),
          concat(lit("Sprint "), col("o_orderkey")).as("sprintName"),
          col("o_orderdate").as("startDate"),
          (col("o_orderdate") + expr("INTERVAL 14 DAYS")).as("endDate"))
      SecondaryTransforms.sprints(contextBoards, boardSprints)
        .select(col("contextId").as("context_id"), col("boardId").as("board_id"),
          col("sprintId").as("sprint_id"), col("sprintName").as("sprint_name"),
          col("startDate").as("start_date"), col("endDate").as("end_date"))
    }),

    // T20: version-control transform — MR + nested commits → the
    // normalized MR/commit/bridge tables, joined back for the check.
    "q48_vc_transform" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val o = Tables.orders(s, dir).filter(pmod(col("o_orderkey"), lit(20)) === 0)
      // one commit per distinct (order, line, part, supp) — the raw lines
      // can repeat the pair, so group with max(shipdate) for determinism
      val commits = li.join(o.select(col("o_orderkey")), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey"))
        .agg(max(col("l_shipdate")).as("authoredDate"))
        .select(col("l_orderkey"),
          struct(
            md5(concat_ws("-", col("l_orderkey"), col("l_linenumber"),
              col("l_partkey"), col("l_suppkey"))).as("sha"),
            col("authoredDate"),
            concat(lit("dev-"), pmod(col("l_suppkey"), lit(7))).as("authorName")).as("c"))
        .groupBy(col("l_orderkey")).agg(collect_list(col("c")).as("commits"))
      val mrs = o.join(commits, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_orderkey").as("mrId"),
          pmod(col("o_custkey"), lit(10)).as("projectId"),
          concat(lit("MR "), col("o_orderkey")).as("title"),
          col("o_orderstatus").as("state"),
          col("o_orderdate").as("createdAt"),
          lit(null).cast("timestamp_ntz").as("mergedAt"),
          col("commits"))
      val pipelines = o.select(col("o_orderkey").as("pipelineId"),
        pmod(col("o_custkey"), lit(10)).as("projectId"),
        col("o_orderstatus").as("status"),
        col("o_orderdate").as("startedAt"),
        lit(null).cast("timestamp_ntz").as("finishedAt"))
      val (mergeRequests, commitRows, bridge, _) =
        SecondaryTransforms.vcTables(mrs, pipelines)
      bridge
        .join(commitRows, "sha")
        .join(mergeRequests.select(col("mrId"), col("projectId"), col("state")), "mrId")
        .select(col("mrId").as("mr_id"), col("sha"),
          col("authorName").as("author_name"),
          col("authoredDate").as("authored_date"),
          col("projectId").as("project_id"), col("state"))
    }),

    // L2: snapshot upsert — intra-batch version tie-break (dedupeOnKey)
    // then keyed MERGE; a second overlapping batch replays, and the table
    // read back shows last-write-wins per natural key with untouched rows
    // intact (the at-least-once idempotency contract).
    "q49_snapshot_upsert" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val path = scratchDir("graft-snap") + "/snapshots"
      val keys = Seq("user_id", "event_id")
      val b1 = ev.filter(pmod(col("event_id"), lit(3)) === 0)
        .select(col("user_id"), col("event_id"),
          concat(lit("v1-"), col("event_type")).as("payload"), lit(1).as("ver"))
        .unionByName(ev.filter(pmod(col("event_id"), lit(3)) === 0)
          .select(col("user_id"), col("event_id"),
            concat(lit("v2-"), col("event_type")).as("payload"), lit(2).as("ver")))
      sources.MergeWriter.merge(s, path,
        sources.MergeWriter.dedupeOnKey(b1, keys, Seq(col("ver"))), keys)
      val b2 = ev.filter(pmod(col("event_id"), lit(6)) === 0)
        .select(col("user_id"), col("event_id"),
          concat(lit("r2-"), col("event_type")).as("payload"), lit(1).as("ver"))
      sources.MergeWriter.merge(s, path,
        sources.MergeWriter.dedupeOnKey(b2, keys, Seq(col("ver"))), keys)
      sources.MergeWriter.readTable(s, path)
        .select("user_id", "event_id", "payload", "ver")
    }),

    // A11: scheduler fan-out — enabled datasources with a runType.
    "q50_extract_worklist" -> ((s, dir) => {
      val ds = Tables.nation(s, dir).select(
        concat(lit("org-"), col("n_regionkey")).as("orgId"),
        concat(lit("ds-"), col("n_nationkey")).as("datasourceId"),
        lit("jira-cloud").as("datasourceType"),
        when(pmod(col("n_nationkey"), lit(3)) =!= 0, "states").as("runType"),
        (pmod(col("n_nationkey"), lit(2)) === 0).as("enabled"))
      SecondaryTransforms.extractWorklist(ds)
        .select(col("orgId").as("org_id"), col("datasourceId").as("datasource_id"),
          col("datasourceType").as("datasource_type"), col("runType").as("run_type"))
    }),

    // A12: threshold-notification fan-out grouped by (org, obeya room).
    "q51_notification_groups" -> ((s, dir) => {
      val subs = Tables.customer(s, dir).select(
        concat(lit("org-"), pmod(col("c_nationkey"), lit(5))).as("orgId"),
        concat(lit("room-"), pmod(col("c_custkey"), lit(7))).as("obeyaRoomId"),
        col("c_custkey").as("subscriptionId"))
      SecondaryTransforms.notificationGroups(subs)
        .select(col("orgId").as("org_id"), col("obeyaRoomId").as("obeya_room_id"),
          concat_ws(",", sort_array(col("subscriptionIds"))).as("subscription_ids"))
    }),

    // Similarity, trained path: IVF with two Lloyd iterations (decimal-
    // accumulated means, bit-reproducible) and 2-cell multi-probe.
    "q52_ann_kmeans" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.ivfTopKPretrained(
        vectors = emb,
        trained = ivfCentroidsFrame(s, dir),
        queries = emb.filter(col("vec_id") >= 10 && col("vec_id") < 20),
        col("vec_id"), col("embedding"), k = 3, probes = 2)
    }),

    // §2.5: the streaming tumbling-window aggregation run in batch mode —
    // the watermark+window expression is identical in both runtimes, so
    // the oracle pins the streaming aggregation's semantics.
    "q53_windowed_counts" -> ((s, dir) => {
      streaming.StreamingFlow.windowedCounts(Tables.events(s, dir),
          col("ts"), col("event_type"), "1 hour", "0 seconds")
        .select(col("window.start").as("window_start"),
          col("window.end").as("window_end"),
          col("event_type"), col("n_events"))
    }),

    // L4: sprint + sprint↔workItem-map load (`sprint_load_processor_aurora
    // .ts:31-57,60-79`) — sprint dim upserted twice (round 2 renames a
    // subset), the map loaded then REPLAYED verbatim (at-least-once
    // delivery must be a no-op), both through the bucketed keyed merge;
    // the read-back join proves the final table states.
    "q54_sprint_load" -> ((s, dir) => {
      val o = Tables.orders(s, dir).filter(pmod(col("o_orderkey"), lit(50)) === 0)
      val path = scratchDir("graft-sprint")
      val sprints1 = o.select(lit("org-1").as("org_id"),
        col("o_orderkey").as("sprint_id"),
        concat(lit("Sprint "), col("o_orderkey")).as("sprint_name"),
        col("o_orderdate").as("start_date"))
      sources.MergeWriter.merge(s, path + "/sprints", sprints1,
        Seq("org_id", "sprint_id"), buckets = 8)
      val sprints2 = o.filter(pmod(col("o_orderkey"), lit(100)) === 0)
        .select(lit("org-1").as("org_id"), col("o_orderkey").as("sprint_id"),
          concat(lit("Sprint R2 "), col("o_orderkey")).as("sprint_name"),
          col("o_orderdate").as("start_date"))
      sources.MergeWriter.merge(s, path + "/sprints", sprints2,
        Seq("org_id", "sprint_id"), buckets = 8)
      val maps = Tables.lineitem(s, dir)
        .filter(pmod(col("l_orderkey"), lit(50)) === 0)
        .select(lit("org-1").as("org_id"), col("l_orderkey").as("sprint_id"),
          concat(lit("W"), pmod(col("l_partkey"), lit(500))).as("work_item_id"))
        .dropDuplicates()
      val mapKeys = Seq("org_id", "sprint_id", "work_item_id")
      sources.MergeWriter.merge(s, path + "/maps", maps, mapKeys, buckets = 8)
      sources.MergeWriter.merge(s, path + "/maps", maps, mapKeys, buckets = 8) // replay
      sources.MergeWriter.readTable(s, path + "/sprints")
        .join(sources.MergeWriter.readTable(s, path + "/maps"),
          Seq("org_id", "sprint_id"))
        .select(col("sprint_id"), col("sprint_name"), col("work_item_id"))
    }),

    // L5: VC bulk insert-or-update (`src/data/vc_data.ts`) — merge_requests
    // updated in a second round (completed MRs flip to state 'merged'),
    // pipelines loaded once; read-back joins the two tables.
    "q55_vc_load" -> ((s, dir) => {
      val o = Tables.orders(s, dir).filter(pmod(col("o_orderkey"), lit(20)) === 0)
      val path = scratchDir("graft-vc")
      val mr1 = o.select(col("o_orderkey").as("mr_id"),
        pmod(col("o_custkey"), lit(10)).as("project_id"),
        col("o_orderstatus").as("state"),
        col("o_orderdate").as("created_at"))
      sources.MergeWriter.merge(s, path + "/mrs", mr1, Seq("mr_id"), buckets = 8)
      val mr2 = o.filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey").as("mr_id"),
          pmod(col("o_custkey"), lit(10)).as("project_id"),
          lit("merged").as("state"),
          col("o_orderdate").as("created_at"))
      sources.MergeWriter.merge(s, path + "/mrs", mr2, Seq("mr_id"), buckets = 8)
      val pipes = o.select(col("o_orderkey").as("pipeline_id"),
        col("o_orderstatus").as("status"))
      sources.MergeWriter.merge(s, path + "/pipelines", pipes, Seq("pipeline_id"), buckets = 8)
      sources.MergeWriter.readTable(s, path + "/mrs")
        .join(sources.MergeWriter.readTable(s, path + "/pipelines")
            .select(col("pipeline_id").as("mr_id"),
              col("status").as("pipeline_status")),
          Seq("mr_id"))
        .select(col("mr_id"), col("project_id"), col("state"),
          col("pipeline_status"))
    }),

    // L6: insights-snapshot save (`src/flomatika_app/data/fl_insights.ts`)
    // — wide metric rows upserted on (view, org, context); round 2
    // recomputes two contexts over a narrower scope and replaces only them.
    "q56_insights_save" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      val path = scratchDir("graft-insights") + "/insights_snapshots"
      val keys = Seq("view_id", "org_id", "context_id")
      def widen(base: DataFrame) = base
        .groupBy(pmod(col("o_custkey"), lit(5)).as("context_id"))
        .agg(count(lit(1)).as("wip_count"),
          sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L)).as("throughput"))
        .select(lit("view-1").as("view_id"), lit("org-1").as("org_id"),
          col("context_id"), col("wip_count"), col("throughput"))
      sources.MergeWriter.merge(s, path, widen(o), keys, buckets = 8)
      sources.MergeWriter.merge(s, path,
        widen(o.filter(col("o_orderpriority") === "1-URGENT" &&
          pmod(col("o_custkey"), lit(5)) < 2)), keys, buckets = 8)
      sources.MergeWriter.readTable(s, path)
        .select(col("view_id"), col("org_id"), col("context_id"),
          col("wip_count"), col("throughput"))
    }),

    // L7: workflow-step write-back (`unmapped_workflow_step.ts:106-118`) —
    // detected unmapped states upserted into the step dim with
    // order=9999/queue/inactive; a second detection pass against the
    // extended dim finds nothing (its merge is a no-op), and the read-back
    // shows seed + auto-mapped rows.
    "q57_step_writeback" -> ((s, dir) => {
      import s.implicits._
      val path = scratchDir("graft-steps") + "/workflowSteps"
      val seed = Seq(("signup", 0), ("click", 1), ("view", 2), ("purchase", 3))
        .toDF("state", "step_order")
        .withColumn("state_type", lit("active"))
        .withColumn("active", lit(true))
      sources.MergeWriter.merge(s, path, seed, Seq("state"), buckets = 4)
      def detect() = Reconcile.unmappedSteps(Tables.events(s, dir),
          col("event_type"),
          sources.MergeWriter.readTable(s, path)
            .select(col("state").as("step_name")),
          col("step_name"))
        .select(col("state"), col("step_order"), col("state_type"), col("active"))
      sources.MergeWriter.merge(s, path, detect(), Seq("state"), buckets = 4)
      sources.MergeWriter.merge(s, path, detect(), Seq("state"), buckets = 4) // now empty
      sources.MergeWriter.readTable(s, path)
        .select(col("state"), col("step_order"), col("state_type"), col("active"))
    }),

    // §2.5 watermark: nextRunStartFrom = max(updated) per datasource,
    // persisted through the keyed merge and advanced monotonically across
    // two batches; batch 2 is the INCREMENTAL scan `updated > stored mark`
    // driven by the checkpoint read back from disk. Output = final mark +
    // how many rows the incremental pass processed per datasource.
    "q58_watermark_advance" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(pmod(col("user_id"), lit(4)).as("datasource_id"),
          col("ts"), col("event_id"))
      val path = scratchDir("graft-wm") + "/datasources"
      val cut = lit("2024-01-18 00:00:00").cast("timestamp_ntz")
      operators.Watermarks.advance(s, path,
        ev.filter(col("ts") <= cut), col("datasource_id"), col("ts"))
      val marks = operators.Watermarks.currentMarks(s, path)
      val batch2 = operators.Watermarks.incremental(ev, col("datasource_id"),
        col("ts"), marks)
      operators.Watermarks.advance(s, path, batch2, col("datasource_id"), col("ts"))
      // a replay of the stale batch-1 marks must NOT regress the watermark
      operators.Watermarks.advance(s, path,
        ev.filter(col("ts") <= cut), col("datasource_id"), col("ts"))
      sources.MergeWriter.readTable(s, path)
        .join(batch2.groupBy(col("datasource_id"))
            .agg(count(lit(1)).as("n_incremental")),
          Seq("datasource_id"))
        .select(col("datasource_id"), col("next_run_start_from"),
          col("n_incremental"))
    }),

    // S1-S4 through a REAL DataSourceV2 connector: the raw-item JSON drop
    // is read via `graft-jira` (TableProvider + SupportsPushDownFilters +
    // SupportsPushDownRequiredColumns); the watermark, project and type
    // predicates are pushed INTO the source, re-compiled to the reference's
    // JQL string in the scan (visible in explain), and enforced by the
    // reader, which parses only the pruned columns.
    "q59_connector_scan" -> ((s, dir) => {
      val path = scratchDir("graft-conn")
      rawItemsJson(s, dir).select(col("raw_json"))
        .write.mode("overwrite").text(path)
      s.read.format("graft-jira").option("path", path).load()
        .filter(col("updated") > "2024-01-25T00:00:00.000000" &&
          col("project") === "1000" && col("issue_type").isin("Story", "Bug"))
        .select(col("key").as("work_item_id"), col("status"), col("issue_type"))
    }),

    // T13 two-pass automap (`unmapped_workflow_step.ts:76-118`): pass 1
    // detects status (id, name) pairs missing from the step dim (here the
    // dim is seeded WITHOUT 'purchase') and upserts them with
    // order=9999/queue/inactive; pass 2 re-runs the revision translate
    // against the EXTENDED dim read back from disk — every revision now
    // maps, and the formerly-unmapped state carries the automapped step
    // attributes.
    "q60_automap_retranslate" -> ((s, dir) => {
      import s.implicits._
      val path = scratchDir("graft-automap") + "/workflowSteps"
      val seed = Seq(("signup", "signup", 1, "queue"), ("view", "view", 2, "queue"),
          ("click", "click", 3, "active"))
        .toDF("id", "name", "step_order", "state_type")
        .withColumn("active", lit(true))
      sources.MergeWriter.merge(s, path, seed, Seq("id", "name"), buckets = 4)
      val revs = rawRevisions(s, dir).filter(col("type") === "state_change")
      val unmapped = revs.select(col("statusId").as("id"), col("statusName").as("name"))
        .distinct()
        .join(broadcast(sources.MergeWriter.readTable(s, path)
          .select(col("id"), col("name"))), Seq("id", "name"), "left_anti")
        .withColumn("step_order", lit(9999))
        .withColumn("state_type", lit("queue"))
        .withColumn("active", lit(false))
      sources.MergeWriter.merge(s, path, unmapped, Seq("id", "name"), buckets = 4)
      val dim2 = sources.MergeWriter.readTable(s, path)
      revs.join(broadcast(dim2),
          revs("statusId") === dim2("id") && revs("statusName") === dim2("name"))
        .groupBy(col("name").as("state"), col("step_order"), col("state_type"),
          col("active"))
        .agg(count(lit(1)).as("n_revisions"))
    }),

    // §2.5, REAL streaming machinery under oracle: the events table is
    // re-served as a file stream consumed 1 file per micro-batch
    // (Trigger.AvailableNow ⇒ terminates when drained), the windowed
    // aggregation carries state ACROSS micro-batches, and every batch's
    // updated windows flow through the idempotent foreachBatch MERGE sink.
    // The read-back table must equal the one-shot batch aggregation (q53's
    // oracle), proving incremental state + update-mode emission + keyed
    // merge compose to exactly-once results over at-least-once machinery.
    "q61_streaming_merge" -> ((s, dir) => {
      val root = scratchDir("graft-stream")
      val src = root + "/in"
      // event-time columns must be instants (TIMESTAMP) for withWatermark;
      // session TZ is UTC so the wall-clock values are unchanged
      val batchInput = Tables.events(s, dir)
        .select(col("ts").cast("timestamp").as("ts"),
          col("event_type"), col("event_id"))
      batchInput.repartition(4).write.mode("overwrite").parquet(src)
      val windows = streaming.StreamingFlow.windowedCounts(
          streaming.StreamingFlow.fileStream(s, src, batchInput.schema,
            maxFilesPerTrigger = 2),
          col("ts"), col("event_type"), "1 hour", "40 days")
        .select(col("window.start").cast("timestamp_ntz").as("window_start"),
          col("window.end").cast("timestamp_ntz").as("window_end"),
          col("event_type"), col("n_events"))
      // scale-adaptive state partitioning (guide §2): the windowed agg's
      // state-store count derives from the source size, capped at the
      // session (cluster-tuned) setting — see StreamingFlow.statePartitionsFor
      streaming.StreamingFlow.withStatePartitions(s, Seq(src)) {
        val q = streaming.StreamingFlow.mergeSink(windows, root + "/counts",
          Seq("window_start", "event_type"), col("n_events"), root + "/ckpt",
          Some(org.apache.spark.sql.streaming.Trigger.AvailableNow()))
        q.awaitTermination()
      }
      sources.MergeWriter.readTable(s, root + "/counts")
        .select(col("window_start"), col("window_end"), col("event_type"),
          col("n_events"))
    }),

    // Similarity, scale path: SRP/hyperplane-LSH near-dup — the sketch
    // front-end that replaces q23's exact-but-quadratic block loop at
    // 100 TB: signatures map-side, candidates from a banded bucket join,
    // exact cosine verified only inside buckets.
    "q62_srp_neardup" -> ((s, dir) => srpPairsFrame(s, dir)),

    // STREAMING dedup-at-ingest, the q139 loop driven by Structured
    // Streaming: vectors arrive in bounded micro-batches; each trigger
    // pairs its batch against the PRE-batch stored index (+ itself),
    // appends the verified pairs (keyed merge — crash-replay
    // idempotent), then folds its own band rows into the index. Every
    // pair is found exactly when its later endpoint arrives, so the
    // final pairs table equals the one-shot q62 pair set regardless of
    // arrival batching — the oracle is q62's verbatim.
    "q140_streaming_ingest_neardup" -> ((s, dir) => {
      val root = scratchDir("graft-singest")
      val src = root + "/in"
      val emb = Tables.embeddings(s, dir)
      emb.repartition(8).write.mode("overwrite").parquet(src)
      val grpTable = root + "/idx" // vecs + pairs + bands, ONE commit/trigger
      val q = streaming.StreamingFlow.fileStream(s, src, emb.schema,
          maxFilesPerTrigger = 2)
        .writeStream
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
        .option("checkpointLocation", root + "/ckpt")
        .foreachBatch { (batch: DataFrame, bid: Long) =>
          val sp = batch.sparkSession
          val members = sources.MergeWriter.groupMembers(sp, grpTable)
          val bandsOfBatch = Similarity.srpBandRows(batch, col("vec_id"),
            col("embedding"), bits = 32, bands = 4)
          val stored =
            if (members.contains("bands"))
              sources.MergeWriter.readGroupTable(sp, grpTable, "bands")
            else bandsOfBatch.limit(0)
          // candidate vectors resolve WITHOUT a separate vector commit:
          // stored endpoints point-read from the group's previous
          // version (readGroupKeys — candidate-scale buckets, never the
          // corpus), batch endpoints from the in-memory batch itself
          val fetch: DataFrame => DataFrame = wanted => {
            val fromStore =
              if (members.contains("vecs"))
                sources.MergeWriter.readGroupKeys(sp, grpTable, "vecs",
                  wanted, Seq("vec_id"))
              else batch.limit(0)
            fromStore
              .unionByName(batch.join(wanted, Seq("vec_id"), "left_semi"))
              .dropDuplicates("vec_id")
          }
          val pairs = Similarity.srpIncrementalNearDupPairsWith(
            fetch, "vec_id", "embedding",
            stored, batch, threshold = 0.35, bits = 32, bands = 4)
          // the trigger's vectors, pairs AND band rows flip in ONE group
          // commit (mutual consistency: a pair set without its bands
          // re-pairs on replay, bands without vectors can't verify) —
          // 1 manifest commit per trigger, down from round 8's 3, and
          // Spark's batch id makes the whole triple exactly-once.
          // eqDeletes members (round 14): each trigger stages WRITE-ONLY
          // (overlay + doomed-key sidecar, no survivor read) — per-
          // trigger write I/O ∝ the batch, never the touched buckets,
          // the eq13 trickle shape applied to the ingest index
          // drainEvery (round 16, engine-level — round 15's hand-coded
          // every-3rd-trigger drain folded into mergeGroup itself): a
          // write-only sink never trips the read-path auto-drain, so
          // every 3rd txn batch compacts members whose stacked
          // sidecars passed the bound — keeps the NEXT triggers'
          // point-read anti-join depth flat
          sources.MergeWriter.mergeGroup(sp, grpTable, Seq(
            ("vecs", batch, Seq("vec_id")),
            ("pairs", pairs, Seq("id_a", "id_b")),
            ("bands", bandsOfBatch, Seq("id", "band"))),
            buckets = 8, txn = Some(("singest", bid)),
            eqDeletes = Set("vecs", "pairs", "bands"),
            drainEvery = 3, drainOverlayBound = 3, drainEqdBound = 3)
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      sources.MergeWriter.readGroupTable(s, grpTable, "pairs")
        .select(col("id_a"), col("id_b"), col("cosine"))
    }),

    // DEDUP-AT-INGEST: the SRP band index lives in a merge-maintained
    // table; vectors ≢ 0 (mod 3) are the stored corpus (their band rows
    // merged twice — the replay must be a no-op), the ≡ 0 batch arrives
    // NEW and pairs only against the stored index + itself. Equals the
    // full-corpus q62 pair set restricted to ≥1 new endpoint — without
    // ever re-pairing stored-vs-stored, the shape that keeps per-batch
    // dedup cost flat as the corpus grows.
    "q139_ingest_neardup" -> ((s, dir) => {
      val root = scratchDir("graft-lshidx")
      val table = root + "/bands"
      val vecTable = root + "/vecs"
      val emb = Tables.embeddings(s, dir)
      val old = emb.filter(pmod(col("vec_id"), lit(3)) =!= 0)
      val neu = emb.filter(pmod(col("vec_id"), lit(3)) === 0)
      // the vector store is merge-maintained alongside the band index:
      // stored corpus first, then the arriving batch (both keyed —
      // replays no-op); the verify point-fetches candidate ids from it
      // instead of scanning a corpus frame
      sources.MergeWriter.merge(s, vecTable, old, Seq("vec_id"), buckets = 16)
      sources.MergeWriter.merge(s, vecTable, neu, Seq("vec_id"), buckets = 16)
      val oldBands = Similarity.srpBandRows(old, col("vec_id"),
        col("embedding"), bits = 32, bands = 4)
      sources.MergeWriter.merge(s, table, oldBands,
        Seq("id", "band"), buckets = 16)
      sources.MergeWriter.merge(s, table, oldBands,
        Seq("id", "band"), buckets = 16) // replay: same keys, no-op
      Similarity.srpIncrementalNearDupPairsKeyed(s, vecTable, "vec_id",
        "embedding", sources.MergeWriter.readTable(s, table), neu,
        threshold = 0.35, bits = 32, bands = 4)
    }),

    // Transitive dedup clusters: connected components (min-label
    // propagation, O(diameter) shuffle rounds) over the exact
    // bigram-Jaccard near-dup pair graph — shares q22's persisted pairs.
    // This is the cluster semantics a keep-one-survivor dedup needs; the
    // greedy q32 keep-list is the non-transitive approximation.
    "q63_dedup_components" -> ((s, dir) => {
      dedupComponentsFrame(s, dir)
        .select(col("u").as("doc_id"), col("comp"))
    }),

    // Contamination screen: for each held-out document (every 5th id), the
    // fraction of its distinct bigram shingles that appear anywhere in the
    // training split — the standard pre-training benchmark-leakage check.
    // Train side reduces to DISTINCT shingle ids (map-side combinable),
    // then one left-semi join on the high-cardinality shingle id.
    "q64_contamination" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.contamination(
        train = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0),
        test = docs.filter(pmod(col("doc_id"), lit(5)) === 0),
        col("doc_id"), col("text"), n = 2)
    }),

    // End-to-end corpus dedup finale: one survivor per transitive cluster —
    // q63's component labels joined to q33's quality metrics, keeping the
    // highest-quality member per cluster (tie on min id). Shares BOTH
    // persisted frames (q22 pairs, q63 components).
    "q65_dedup_survivors" -> ((s, dir) => {
      Dedup.survivorPerCluster(dedupComponentsFrame(s, dir),
        TextAnalysis.textStats(Tables.documents(s, dir), col("text")),
        col("doc_id"), col("quality_score"))
    }),

    // §2.5 session windows under REAL streaming: gap sessions accumulate
    // and MERGE in the state store across micro-batches (1 file/trigger),
    // and append mode emits each session exactly once when the event-time
    // watermark finalizes it. Two far-future sentinel rows (their own
    // trailing micro-batches) advance the watermark past every real
    // session — the standard punctuation/heartbeat flush — so the merged
    // sink must equal one-shot batch sessionization of the whole table
    // under session_window's gap rule (merge iff gap < 30 min, window_end
    // = last event + gap).
    "q66_streaming_sessions" -> ((s, dir) => {
      val root = scratchDir("graft-sess")
      val src = root + "/in"
      val batchInput = Tables.events(s, dir)
        .select(col("ts").cast("timestamp").as("ts"),
          col("user_id").cast("long").as("user_id"))
      batchInput.repartition(4).write.mode("overwrite").parquet(src)
      import s.implicits._
      def partNames() = new java.io.File(src).listFiles()
        .filter(f => f.isFile && f.getName.startsWith("part-"))
        .map(_.getName).toSet
      val dataNames = partNames()
      Seq("2030-01-01 00:00:00").toDF("t")
        .select(col("t").cast("timestamp").as("ts"), lit(-1L).as("user_id"))
        .coalesce(1).write.mode("append").parquet(src)
      val s1Names = partNames() -- dataNames
      Seq("2031-01-01 00:00:00").toDF("t")
        .select(col("t").cast("timestamp").as("ts"), lit(-1L).as("user_id"))
        .coalesce(1).write.mode("append").parquet(src)
      val s2Names = partNames() -- dataNames -- s1Names
      // sentinels must ARRIVE last: their part files carry their own write
      // UUIDs, so name order alone could schedule them first — which would
      // advance the watermark ahead of the data and drop it all as late
      orderStreamFiles(src, tail = Seq(s1Names, s2Names))
      val sessions = streaming.StreamingFlow.sessionAgg(
          streaming.StreamingFlow.fileStream(s, src, batchInput.schema,
            maxFilesPerTrigger = 1),
          col("ts"), col("user_id"), "30 minutes", "40 days")
        .select(col("session_window.start").cast("timestamp_ntz").as("window_start"),
          col("session_window.end").cast("timestamp_ntz").as("window_end"),
          col("user_id"), col("n_events"))
      streaming.StreamingFlow.withStatePartitions(s, Seq(src)) {
        val q = streaming.StreamingFlow.mergeSink(sessions, root + "/sessions",
          Seq("user_id", "window_start"), col("n_events"), root + "/ckpt",
          Some(org.apache.spark.sql.streaming.Trigger.AvailableNow()),
          org.apache.spark.sql.streaming.OutputMode.Append())
        q.awaitTermination()
      }
      sources.MergeWriter.readTable(s, root + "/sessions")
        .filter(col("user_id") >= 0)
        .select(col("user_id"), col("window_start"), col("window_end"),
          col("n_events"))
    }),

    // §2.5 custom keyed state under REAL streaming: the per-item Lambda
    // state machine as flatMapGroupsWithState — a running per-user event
    // counter + latest event type carried across micro-batches. Input
    // files are event-time range-ordered (FIFO arrival, the reference's
    // per-key SQS FIFO queues), each batch appends one update row per
    // touched user, and the keyed merge (version = the monotone counter)
    // must converge to the one-shot batch aggregate.
    "q67_streaming_user_state" -> ((s, dir) => {
      import s.implicits._
      val root = scratchDir("graft-ustate")
      val src = root + "/in"
      val batchInput = Tables.events(s, dir)
        .select(col("user_id").cast("long").as("userId"),
          col("event_type").as("eventType"),
          unix_micros(col("ts").cast("timestamp")).as("tsMicros"))
      batchInput.repartitionByRange(4, col("tsMicros"))
        .write.mode("overwrite").parquet(src)
      orderStreamFiles(src)
      val updates = streaming.StreamingFlow.runningUserState(
        streaming.StreamingFlow.fileStream(s, src, batchInput.schema,
          maxFilesPerTrigger = 1).as[streaming.StreamingFlow.EventIn]).toDF()
      streaming.StreamingFlow.withStatePartitions(s, Seq(src)) {
        val q = streaming.StreamingFlow.mergeSink(updates, root + "/state",
          Seq("userId"), col("nEvents"), root + "/ckpt",
          Some(org.apache.spark.sql.streaming.Trigger.AvailableNow()),
          org.apache.spark.sql.streaming.OutputMode.Append())
        q.awaitTermination()
      }
      sources.MergeWriter.readTable(s, root + "/state")
        .select(col("userId").as("user_id"), col("nEvents").as("n_events"),
          col("lastType").as("last_type"))
    }),

    // S7 through a REAL DataSourceV2 connector (`graft-ado`): the
    // watermark arrives in surrogate-key space (`ChangedDateSK ge
    // yyyymmdd`), the type/area predicates and the completed-before
    // exclusion `(ClosedDateSK eq null or ClosedDateSK ge ...)` are pushed
    // INTO the source, re-compiled to the reference's OData $filter string
    // (visible in explain), and enforced by a reader that parses only the
    // pruned columns.
    "q68_ado_connector_scan" -> ((s, dir) => {
      val path = scratchDir("graft-ado")
      adoItemsJson(s, dir).write.mode("overwrite").text(path)
      s.read.format("graft-ado").option("path", path).load()
        .filter(col("changed_date_sk") >= 20240125L &&
          col("work_item_type").isin("Story", "Bug") &&
          col("area_id").isin(1L, 2L, 3L) &&
          (col("closed_date_sk").isNull || col("closed_date_sk") >= 20240120L))
        .select(col("work_item_id"), col("work_item_type"), col("area_id"),
          col("state"))
    }),

    // S5: the filter-membership ids-only scan (`jc_issue.ts:151-272`
    // getIdsFromFilter) — project ONLY the item key through `graft-jira`
    // with a membership predicate pushed into the source; the reader
    // parses a single JSON field per item (pruned=key in explain).
    "q69_connector_idscan" -> ((s, dir) => {
      val path = scratchDir("graft-conn-ids")
      rawItemsJson(s, dir).select(col("raw_json"))
        .write.mode("overwrite").text(path)
      s.read.format("graft-jira").option("path", path).load()
        .filter(col("status") === "purchase")
        .select(col("key").as("work_item_id"))
    }),

    // Token budgeting: BPE-ish token counts (GPT-2-style pre-tokenizer
    // regex — contractions, letter runs, digit runs, punctuation runs)
    // over the punctuation-rich JSON props column, next to the whitespace
    // count. Pure codegen'd per-row expressions, no shuffle.
    "q70_bpe_tokens" -> ((s, dir) => {
      Tables.events(s, dir).select(col("event_id"),
        TextAnalysis.bpeTokenCount(col("props")).as("n_bpe_tokens"),
        size(graft.functions.tokens(col("props"))).cast("long").as("n_ws_tokens"))
    }),

    // Sequence packing precursor: overlapping token-window chunking of
    // every document (32-token windows, stride 16) — one narrow explode.
    "q71_chunking" -> ((s, dir) => {
      TextAnalysis.chunk(Tables.documents(s, dir), col("doc_id"), col("text"),
        chunkSize = 32, stride = 16)
    }),

    // Multimodal frame sampling end to end: binary payloads → every-2nd
    // fixed-size byte "frame" (the container parsing is the documented
    // stub; the chunk/explode plumbing and per-frame feature kernel are
    // real) → per-frame length + byte checksum. ASCII-only docs so the
    // oracle recomputes the bytes as characters.
    "q72_multimodal_frames" -> ((s, dir) => {
      val ascii = Tables.documents(s, dir)
        .filter(col("text").rlike("\\A[\\x00-\\x7F]*\\z"))
      val assets = Multimodal.toAssets(ascii, col("doc_id"), col("text"), "video/fake")
      Multimodal.frameByteStats(
        Multimodal.sampleFrames(assets, frameBytes = 16, everyNth = 2))
    }),

    // The reference's daily ETL cycle as ONE flow (S1/S2 + §2.5 + L1):
    // round 1 ingests everything that had "arrived" by a cut through the
    // graft-jira connector and merges it into the states table; round 2 is
    // the true incremental run — `updated > storedMark` compiled from the
    // on-disk watermark and PUSHED INTO the connector scan; round 3
    // replays round 1's stale input verbatim (at-least-once delivery):
    // the keyed merge makes it a content no-op and the monotonic advance
    // cannot regress the mark. (The replay no-op leans on a fixture
    // property: the raw drop carries one latest-only row per item, so a
    // stale batch re-delivers values the merge already holds. True
    // out-of-order replay safety — an older version arriving AFTER a
    // newer one — is MergeWriter.mergeVersioned, proven in q84.)
    // Output = final states + final watermark.
    "q73_incremental_etl_loop" -> ((s, dir) => {
      val root = scratchDir("graft-loop")
      val wmPath = root + "/datasources"
      val statesPath = root + "/states"
      val connPath = root + "/raw"
      rawItemsJson(s, dir).select(col("raw_json"))
        .write.mode("overwrite").text(connPath)
      val cut = "2024-01-20T00:00:00.000000"

      def storedMark(): Option[String] =
        if (!new java.io.File(wmPath).exists()) None
        else operators.Watermarks.currentMarks(s, wmPath).collect()
          .find(_.getString(0) == "jira").map(_.getString(1))

      def runRound(arrivalCap: Option[String], useMark: Boolean): Unit = {
        val src = s.read.format("graft-jira").option("path", connPath).load()
        val capped = arrivalCap.fold(src)(c => src.filter(col("updated") <= c))
        // persist: both the merge and the watermark advance consume the
        // batch — without it each round re-parses the raw drop twice
        val batch = (if (useMark) storedMark() else None)
          .fold(capped)(m => capped.filter(col("updated") > m))
          .select(col("key"), col("status"), col("issue_type"), col("updated"))
          .persist()
        try {
          sources.MergeWriter.merge(s, statesPath,
            sources.MergeWriter.dedupeOnKey(batch, Seq("key"), Seq(col("updated"))),
            Seq("key"), buckets = 8)
          operators.Watermarks.advance(s, wmPath,
            batch.withColumn("ds", lit("jira")), col("ds"), col("updated"))
        } finally { batch.unpersist(blocking = false); () }
      }
      runRound(Some(cut), useMark = true)  // initial load up to the cut
      runRound(None, useMark = true)       // incremental: updated > mark
      runRound(Some(cut), useMark = false) // stale at-least-once replay
      val wm = operators.Watermarks.currentMarks(s, wmPath)
        .select(col("next_run_start_from"))
      sources.MergeWriter.readTable(s, statesPath)
        .crossJoin(broadcast(wm))
        .select(col("key").as("work_item_id"), col("status"),
          col("issue_type"), col("next_run_start_from"))
    }),

    // Skew mitigation: the events→type-dim join keys on event_type — a
    // handful of values over the whole fact table, the canonical hot-key
    // shape. The salted join spreads each hot key across 8 reducers and
    // must be result-identical to the plain join (the oracle).
    "q74_salted_join" -> ((s, dir) => {
      import s.implicits._
      val dim = Seq(
        ("signup", "acquisition"), ("view", "engagement"),
        ("click", "engagement"), ("purchase", "revenue"),
        ("error", "ops"), ("refund", "revenue"))
        .toDF("event_type", "category")
        // keep the shuffle path the salting targets (broadcast would
        // sidestep the skew entirely — and the demonstration)
        .hint("merge")
      operators.Skew.saltedJoin(Tables.events(s, dir), dim,
          Seq("event_type"), col("event_id"), n = 8)
        .select(col("event_id"), col("event_type"), col("category"))
    }),

    // Co-located bucketed join: both fact tables written bucketed (and
    // sorted) on the join key into catalog-backed external tables — the
    // join then needs NO shuffle on either side (BucketSpec asserts the
    // exchange-free plan). At 100 TB this is the pre-partitioning that
    // turns every orders⋈lineitem into a local merge.
    "q75_bucketed_join" -> ((s, dir) => {
      // the dir IS the table identity — a hash would collide across dirs
      // in one session (and math.abs(Int.MinValue) is still negative)
      val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
      val ot = s"graft_bko_$tag"
      val lt = s"graft_bkl_$tag"
      if (!s.catalog.tableExists(ot)) {
        Tables.orders(s, dir).select("o_orderkey", "o_orderpriority")
          .write.option("path", scratchDir("graft-bko"))
          .bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable(ot)
        Tables.lineitem(s, dir).select("l_orderkey", "l_quantity")
          .write.option("path", scratchDir("graft-bkl"))
          .bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable(lt)
      }
      s.table(ot).join(s.table(lt),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_lines"),
          exactSum(col("l_quantity"), 2).as("sum_qty"))
    }),

    // Embedding-side transitive dedup clusters (the q63 semantics over the
    // SRP-LSH pair graph), labeled by STAR CONTRACTION — the O(log n)
    // alternative to label propagation, here under the oracle (the spec
    // already proves both produce identical labels).
    "q76_embedding_clusters" -> ((s, dir) => {
      Dedup.connectedComponentsStar(srpPairsFrame(s, dir),
          col("id_a"), col("id_b"))
        .select(col("u").as("vec_id"), col("comp"))
    }),

    // S8 through a REAL DataSourceV2 connector (`graft-kbz`): the
    // incremental watermark is pushed into the source and re-compiled to
    // the reference's card-scan query string — `last_modified_from`
    // URL-encoded ISO plus `workflow_ids` membership (visible in explain
    // next to the full-scan `expand=transitions,custom_fields` field
    // list) — and enforced by a reader that parses only the pruned
    // columns. The membership-only projection mode
    // (`fields=card_id,workflow_id,type_id`) is asserted in ConnectorSpec.
    "q77_kbz_connector_scan" -> ((s, dir) => {
      val path = scratchDir("graft-kbz")
      kbzCardsJson(s, dir).write.mode("overwrite").text(path)
      s.read.format("graft-kbz").option("path", path).load()
        .filter(col("last_modified") > "2024-01-25T00:00:00.000000" &&
          col("workflow_id").isin(1L, 2L) && col("owner_user_id").isNotNull)
        .select(col("card_id"), col("title"), col("type_id"),
          col("workflow_id"), col("column_id"), col("revision"))
    }),

    // S9 through a REAL DataSourceV2 connector (`graft-gitlab`): the
    // incremental watermark and project membership are pushed into the
    // source and re-compiled to the reference's GraphQL request — the
    // `updatedAfter`/`projectPath` variables payload next to the
    // `state: merged, sort: UPDATED_ASC` query document (both visible in
    // explain) — and enforced by a reader that parses only the pruned
    // columns. Rows feed the T20/L5 VC transforms downstream (q48/q55).
    "q78_gitlab_connector_scan" -> ((s, dir) => {
      val path = scratchDir("graft-gitlab")
      gitlabMrsJson(s, dir).write.mode("overwrite").text(path)
      s.read.format("graft-gitlab").option("path", path).load()
        .filter(col("updated_at") > "1995-06-01T00:00:00.000000" &&
          col("project_path") === "org/proj-3")
        .select(col("mr_id"), col("iid"), col("merge_commit_sha"),
          col("title"), col("source_branch"), col("merged_at"))
    }),

    // Semantic dedup over IVF cells — the standard embedding-dedup recipe
    // and the q65 analog for vectors: assign every vector to its trained
    // IVF cell (q52's persisted centroids, shared), find candidates as
    // same cell AND same SRP band bucket, exact-cosine-verify only those,
    // feed the verified pairs to connected components, and keep one
    // survivor per transitive cluster — the most CENTRAL member (max
    // cosine to its cell centroid, tie min id). The SRP sub-blocking is
    // the load-bearing scale property: a cell-only self-join is O(Σ cell²)
    // and quadratic again whenever the centroid count lags the corpus;
    // composing the cell key with the band key bounds the verify by
    // band-bucket size and makes the shuffle key high-cardinality even at
    // a fixed (under-provisioned) k.
    "q79_semantic_dedup" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val a = CacheRegistry.persist(
        Similarity.ivfAssignCells(emb, ivfCentroidsFrame(s, dir),
            col("vec_id"), col("embedding"))
          .withColumn("q", round(col("centroid_cos"), 6)))
      val bandRows = Similarity.srpBandRows(emb, col("vec_id"),
        col("embedding"), bits = 32, bands = 4)
      val av = a.join(bandRows, col("vid") === col("id"))
        .select(col("vid"), col("cell"), col("band"), col("band_key"))
      val cand = av.as("x").join(av.as("y"),
          col("x.cell") === col("y.cell") && col("x.band") === col("y.band") &&
            col("x.band_key") === col("y.band_key") && col("x.vid") < col("y.vid"))
        .select(col("x.vid").as("id_a"), col("y.vid").as("id_b")).distinct()
      val v = a.select(col("vid"), col("vv"), col("vn"))
      val pairs = cand
        .join(v.select(col("vid").as("id_a"), col("vv").as("va"), col("vn").as("na")), "id_a")
        .join(v.select(col("vid").as("id_b"), col("vv").as("vb"), col("vn").as("nb")), "id_b")
        .filter(round(graft.functions.VectorExpressions.dot_product(
            col("va"), col("vb")) / (col("na") * col("nb")), 6) >= 0.35)
        .select(col("id_a"), col("id_b"))
      val comps = Dedup.connectedComponents(pairs, col("id_a"), col("id_b"))
      Dedup.survivorPerCluster(comps,
        a.select(col("vid").as("doc_id"), col("q")),
        col("doc_id"), col("q"))
    }),

    // IVF recall instrumentation: recall@3 of the multi-probe IVF search
    // against the exact brute-force baseline, swept over probes ∈ {1,2,4}
    // on the shared trained centroids — pins that the multi-probe knob
    // does what it claims (recall must be non-decreasing in probes, and
    // the oracle pins the exact hit counts).
    "q80_ivf_recall" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") >= 10 && col("vec_id") < 20)
      val exact = CacheRegistry.persist(
        Similarity.bruteForceTopK(queries, emb, col("vec_id"), col("embedding"),
            col("vec_id"), col("embedding"), k = 3)
          .select(col("query_id"), col("neighbor_id")))
      val denom = exact.agg(count(lit(1)).as("n_exact"))
      val trained = ivfCentroidsFrame(s, dir)
      // assignment is probes-independent: compute once, reuse per setting
      val assigned = CacheRegistry.persist(
        Similarity.ivfAssignCells(emb, trained, col("vec_id"), col("embedding")))
      Seq(1, 2, 4).map { p =>
        Similarity.ivfTopKAssigned(assigned, trained, queries,
            col("vec_id"), col("embedding"), k = 3, probes = p)
          .select(col("query_id"), col("neighbor_id"))
          .join(exact, Seq("query_id", "neighbor_id"), "left_semi")
          .agg(count(lit(1)).as("n_hits"))
          .select(lit(p.toLong).as("probes"), col("n_hits"))
      }.reduce(_ unionByName _)
        .crossJoin(broadcast(denom))
        .select(col("probes"), col("n_hits"),
          round(col("n_hits").cast("double") / col("n_exact"), 6).as("recall"))
    }),

    // The WIDE-KEY SRP configuration (64-bit signatures, 4×16-bit bands)
    // over a dense-replica corpus — the scale regime q62's 8-bit band
    // keys cannot survive: with only 256 buckets per band the random
    // collision floor `bands·n²/2^width` swamps the candidate set by
    // ~20k vectors, while 16-bit keys push it out 256×. Wide keys lose
    // recall on moderate-cosine pairs (p^16 vs p^8), so q62 keeps 32/4
    // for the table's 0.35-threshold pairs and THIS query is the
    // high-threshold dense-replica path: three deterministic replicas
    // per vector (±0.01/dim arithmetic noise, cos ≈ 0.999 within a
    // replica group), threshold 0.9.
    "q81_srp_wide_replicas" -> ((s, dir) => replicaPairsFrame(s, dir)),

    // Multimodal with a REAL container parse: ASCII docs are wrapped in
    // actual RIFF/WAVE containers (canonical 44-byte header + data chunk,
    // built byte-exact), and WavPcmDecoder walks the chunk list — magic,
    // PCM fmt geometry, data bounds — to frame ONLY the data region in
    // blockAlign×16-byte frames (every 2nd). The oracle recomputes the
    // frame stats from the text alone, so a decoder that mis-locates the
    // data chunk by even one byte hash-mismatches.
    "q82_wav_frames" -> ((s, dir) => {
      val ascii = Tables.documents(s, dir)
        .filter(col("text").rlike("\\A[\\x00-\\x7F]*\\z"))
      val assets = Multimodal.toWavAssets(ascii, col("doc_id"), col("text"))
      Multimodal.frameByteStats(Multimodal.sampleFrames(assets,
        Multimodal.WavPcmDecoder(samplesPerFrame = 16), everyNth = 2))
    }),

    // REAL audio features, not a checksum: the q82 PCM frames through
    // the exact-integer DSP kernel (energy Σ(s−128)², DC offset, peak
    // amplitude) — the feature-extraction step of an audio pipeline run
    // on the actual parsed waveform. The oracle recomputes all three
    // from the packed text, so a sample-value or framing error anywhere
    // in the container walk fails the hash.
    "q141_wav_features" -> ((s, dir) => {
      val ascii = Tables.documents(s, dir)
        .filter(col("text").rlike("\\A[\\x00-\\x7F]*\\z"))
      val assets = Multimodal.toWavAssets(ascii, col("doc_id"), col("text"))
      Multimodal.pcmFrameFeatures(Multimodal.sampleFrames(assets,
        Multimodal.WavPcmDecoder(samplesPerFrame = 16), everyNth = 2))
    }),

    // S6 — the field-metadata scan (`jc_issue.ts:118-148` getFields): the
    // reference GETs the full `/field` list (no predicate — a config-scale
    // scan) and the custom-field bootstrap matches configured field NAMES
    // to their datasource ids. Here: a /field-shaped JSON drop (id, name,
    // custom, schema.type) read with an explicit schema, the configured
    // name set resolved to (field_id, field_type) — the rows
    // customFieldConfigs stores (`full_ddl.sql:228-240`).
    "q83_field_metadata_scan" -> ((s, dir) => {
      val path = scratchDir("graft-fields")
      fieldMetaJson(s, dir).write.mode("overwrite").text(path)
      val fieldSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("name",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("custom",
          org.apache.spark.sql.types.BooleanType),
        org.apache.spark.sql.types.StructField("schema",
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("type",
              org.apache.spark.sql.types.StringType))))))
      s.read.schema(fieldSchema).json(path)
        .filter(col("custom") && col("name").isin("signup", "click", "purchase"))
        .select(col("id").as("field_id"), col("name").as("field_name"),
          col("schema.type").as("field_type"))
    }),

    // S8's MEMBERSHIP-ONLY scan mode end to end (+ A10): the reference's
    // contextWorkItemMaps refresh scans cards with
    // `fields=card_id,workflow_id,type_id` (`extract_state_processor
    // .ts:185-198`) and rebuilds membership per context. Round 1 seeds
    // the full card→workflow map; round 2 re-scans workflows 1-2 through
    // graft-kbz — the 3-column projection flips the compiled params to
    // the membership mode, the workflow membership is pushed — applies a
    // type remap, and replaces ONLY the touched workflows (a keyed replace
    // on the workflow).
    // The read-back proves the upsert + anti-delete semantics.
    "q85_kbz_membership_refresh" -> ((s, dir) => {
      val drop = scratchDir("graft-kbz-m")
      kbzCardsJson(s, dir).write.mode("overwrite").text(drop)
      val tbl = scratchDir("graft-kbz-cwim") + "/maps"
      def scan() = s.read.format("graft-kbz").option("path", drop).load()
      sources.MergeWriter.merge(s, tbl,
        scan().select(col("card_id"), col("workflow_id"), col("type_id")),
        Seq("workflow_id"))
      sources.MergeWriter.merge(s, tbl,
        scan().filter(col("workflow_id").isin(1L, 2L))
          .select(col("card_id"), col("workflow_id"),
            (col("type_id") + 10).as("type_id")),
        Seq("workflow_id"))
      sources.MergeWriter.readTable(s, tbl).select(col("card_id"),
        col("workflow_id").cast("long").as("workflow_id"), col("type_id"))
    }),

    // PII scrubbing — a curation pass every training corpus needs:
    // deterministic synthetic contact lines are appended (the corpus
    // itself is PII-free), then emails and IPv4 literals are redacted
    // with per-document match counts. The oracle runs the SAME patterns
    // through RE2, so the engines' regex semantics are pinned against
    // each other.
    "q86_pii_redaction" -> ((s, dir) => {
      val withPii = Tables.documents(s, dir).select(col("doc_id"),
        concat(col("text"), lit(" contact user"), col("doc_id"),
          lit("@example.com from 10.0."), pmod(col("doc_id"), lit(200)),
          lit(".7")).as("text"))
      TextAnalysis.redactPii(withPii, col("doc_id"), col("text"))
    }),

    // Deterministic stratified train/val/test split (80/10/10): the split
    // assignment is a pure LCG residue of the doc id — reproducible on
    // any engine, stable under re-runs and repartitioning (never rand()),
    // stratified here by document-length bucket. The standard
    // split-without-a-shuffle recipe for a 100 TB corpus.
    "q87_stratified_split" -> ((s, dir) => {
      val h = lcgResidue(col("doc_id"))
      Tables.documents(s, dir)
        .select(floor(length(col("text")) / lit(128.0)).cast("long").as("len_bucket"),
          when(h < 1717986917L, "train")       // floor(0.8 * 2^31-1)
            .when(h < 1932735282L, "val")      // floor(0.9 * 2^31-1)
            .otherwise("test").as("split"))
        .groupBy(col("len_bucket"), col("split"))
        .agg(count(lit(1)).as("n_docs"))
    }),

    // Per-group document cap — the "at most K docs per domain/source"
    // curation rule: keep 20 documents per length bucket, chosen by a
    // deterministic hash order (not rand() — task retries must keep the
    // same survivors). The group key here is deliberately LOW-cardinality
    // (a few dozen length buckets), the shape that kills a naive global
    // window at scale — [[operators.Caps.perGroupCap]] runs a narrow
    // per-partition partial top-K first, so the final window sees at most
    // K·partitions rows per bucket instead of the whole corpus.
    "q88_per_group_cap" -> ((s, dir) => {
      Caps.perGroupCap(
        Tables.documents(s, dir)
          .select(col("doc_id"),
            floor(length(col("text")) / lit(128.0)).cast("long").as("len_bucket"),
            lcgResidue(col("doc_id")).as("__h")),
        groupCols = Seq("len_bucket"), orderCols = Seq("__h", "doc_id"), k = 20)
        .select(col("doc_id"), col("len_bucket"))
    }),

    // Sequence packing: non-overlapping 16-token chunks packed into
    // 48-token training sequences per document — chunk k goes to bin
    // floor(tokens-before-k / 48). The distributed approximation of
    // greedy packing (contiguous, ≤ one chunk overflow per bin).
    "q89_sequence_packing" -> ((s, dir) => {
      val chunks = TextAnalysis.chunk(Tables.documents(s, dir),
        col("doc_id"), col("text"), chunkSize = 16, stride = 16)
      TextAnalysis.packChunks(chunks, col("doc_id"), col("chunk_id"),
        col("n_chunk_tokens"), capacity = 48)
    }),

    // L1 hardened for OUT-OF-ORDER at-least-once delivery: the keyed merge
    // of q73 is a content no-op only when a replayed batch carries rows
    // the table already holds; mergeVersioned guards on the version column
    // so a genuinely STALE batch replayed AFTER a newer merge (reordered
    // SQS redelivery, a retried extract round) leaves the newer rows
    // untouched. Round 1 loads the pre-cut state, round 2 the full state,
    // round 3 replays round 1 — the final table must equal round 2.
    "q84_versioned_merge" -> ((s, dir) => {
      val path = scratchDir("graft-vmerge") + "/states"
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"))
        .orderBy(col("ver").desc, col("event_id").desc)
      val ev = Tables.events(s, dir).select(col("user_id"), col("event_type"),
        col("event_id"), col("ts").cast("timestamp_ntz").as("ver"))
      def latest(src: DataFrame): DataFrame = src
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("user_id"), col("event_type"), col("ver"))
      val cut = lit("2024-01-20 00:00:00").cast("timestamp_ntz")
      val b1 = latest(ev.filter(col("ver") <= cut))
      val b2 = latest(ev)
      sources.MergeWriter.mergeVersioned(s, path, b1, Seq("user_id"), "ver", buckets = 8)
      sources.MergeWriter.mergeVersioned(s, path, b2, Seq("user_id"), "ver", buckets = 8)
      // the stale replay: older versions arriving after newer ones
      sources.MergeWriter.mergeVersioned(s, path, b1, Seq("user_id"), "ver", buckets = 8)
      sources.MergeWriter.readTable(s, path)
        .select(col("user_id"), col("event_type").as("state"),
          col("ver").as("version_ts"))
    }),

    // Kanbanize END-TO-END incremental flow — the q73 analog for S8,
    // closing the last connector lifecycle asymmetry: the reference's
    // path is watermarked card scan → T3 transition dedupe → T8 snapshot
    // frames → load (`kanbanize/extract_state_processor.ts:419-533` →
    // `transform_processor.ts:209-312`). Three rounds through the
    // graft-kbz connector: round 1 ingests cards arrived by a cut (the
    // watermark predicate is pushed and compiled into the reference's
    // `last_modified_from` card-scan param, explain-visible as in q77),
    // round 2 is the true incremental scan (`last_modified > stored
    // mark`), round 3 replays round 1's stale batch — at-least-once
    // delivery that mergeVersioned (keyed (card_id, revision), versioned
    // by the card's last_modified) absorbs without regressing newer rows.
    // Per batch, the changed cards' transition history is T3-deduped
    // (keepOnChange) and framed as T8 snapshot rows with the workflow
    // step mapping. Output = final snapshots table + final watermark.
    "q90_kbz_incremental_flow" -> ((s, dir) => {
      val root = scratchDir("graft-kbz-loop")
      val wmPath = root + "/datasources"
      val snapPath = root + "/snapshots"
      val drop = root + "/raw"
      kbzCardsJson(s, dir).write.mode("overwrite").text(drop)
      val cut = "2024-01-20T00:00:00.000000"

      def storedMark(): Option[String] =
        if (!new java.io.File(wmPath).exists()) None
        else operators.Watermarks.currentMarks(s, wmPath).collect()
          .find(_.getString(0) == "kanbanize").map(_.getString(1))

      def runRound(arrivalCap: Option[String], useMark: Boolean): Unit = {
        val src = s.read.format("graft-kbz").option("path", drop).load()
        val capped = arrivalCap.fold(src)(c => src.filter(col("last_modified") <= c))
        // cards whose state changed since the stored mark — the compiled
        // last_modified_from pushdown; both the snapshot build and the
        // watermark advance consume the batch, so persist it
        val cards = (if (useMark) storedMark() else None)
          .fold(capped)(m => capped.filter(col("last_modified") > m))
          .select(col("card_id"), col("type_id"), col("workflow_id"),
            col("last_modified"))
          .persist()
        try {
          // T3: the changed cards' full transition stream off the event
          // log, consecutive same-column duplicates dropped
          val trans = ConsecutiveDedupe.keepOnChange(
            Tables.events(s, dir)
              .filter(col("event_type").isin("signup", "view", "click", "purchase"))
              // semi-join on the high-cardinality item id — NOT force-
              // broadcast: an initial load's batch is every card, and AQE
              // already converts genuinely-small incremental batches
              .join(cards.select(col("card_id")),
                col("user_id") === col("card_id"), "left_semi"),
            Seq(col("user_id")), Seq(col("ts"), col("event_id")), col("event_type"))
          // T8 frame: one snapshot row per surviving transition with the
          // workflow step columns, versioned by the card's last_modified
          val wRev = org.apache.spark.sql.expressions.Window
            .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
          val snaps = trans
            .withColumn("revision", row_number().over(wRev).cast("long"))
            .join(cards, col("user_id") === col("card_id"))
            .select(col("card_id"), col("revision"),
              to_date(col("ts")).as("snapshot_date"),
              col("event_type").as("column_state"),
              when(col("event_type") === "signup", 1L)
                .when(col("event_type") === "view", 2L)
                .when(col("event_type") === "click", 3L)
                .otherwise(4L).as("state_order"),
              when(col("event_type").isin("signup", "view"), "proposed")
                .when(col("event_type") === "click", "inprogress")
                .otherwise("completed").as("step_category"),
              col("type_id"), col("workflow_id"),
              col("last_modified").as("version_ts"))
          sources.MergeWriter.mergeVersioned(s, snapPath, snaps,
            Seq("card_id", "revision"), "version_ts", buckets = 8)
          operators.Watermarks.advance(s, wmPath,
            cards.withColumn("ds", lit("kanbanize")), col("ds"),
            col("last_modified"))
        } finally { cards.unpersist(blocking = false); () }
      }
      runRound(Some(cut), useMark = true)  // initial load up to the cut
      runRound(None, useMark = true)       // incremental: last_modified > mark
      runRound(Some(cut), useMark = false) // stale at-least-once replay
      val wm = operators.Watermarks.currentMarks(s, wmPath)
        .select(col("next_run_start_from"))
      sources.MergeWriter.readTable(s, snapPath)
        .crossJoin(broadcast(wm))
    }),

    // GitLab END-TO-END incremental flow — the q73/q90 analog for S9,
    // completing scan→transform→load for all four sources: watermarked MR
    // scan (the `updatedAfter` variable compiled into the GraphQL request
    // payload, explain-visible as in q78) → T20 VC transform → L5
    // normalized loads. The reference pages by self-requeueing with the
    // last cursor (`gitlab_extractor.ts:574-584`); the batch analog of
    // that resume is a SECOND incremental round through the stored
    // watermark — round 2 picks up strictly after round 1's mark. Round 3
    // replays round 1's stale batch (at-least-once): the keyed merges
    // make it a content no-op.
    "q91_gitlab_incremental_flow" -> ((s, dir) => {
      val root = scratchDir("graft-gl-loop")
      val wmPath = root + "/datasources"
      val drop = root + "/raw"
      gitlabMrsJson(s, dir).write.mode("overwrite").text(drop)
      val cut = "1996-01-01T00:00:00.000000"

      def storedMark(): Option[String] =
        if (!new java.io.File(wmPath).exists()) None
        else operators.Watermarks.currentMarks(s, wmPath).collect()
          .find(_.getString(0) == "gitlab").map(_.getString(1))

      def runRound(arrivalCap: Option[String], useMark: Boolean): Unit = {
        val src = s.read.format("graft-gitlab").option("path", drop).load()
        val capped = arrivalCap.fold(src)(c => src.filter(col("updated_at") <= c))
        val batch = (if (useMark) storedMark() else None)
          .fold(capped)(m => capped.filter(col("updated_at") > m))
          .persist()
        try {
          val projectId =
            regexp_extract(col("project_path"), "(\\d+)$", 1).cast("long")
          // T20 input shape: the MR node with its nested commit list (the
          // fixture carries the merge commit; real payloads carry many)
          val mrs = batch.select(col("iid").as("mrId"),
            projectId.as("projectId"), col("title"),
            lit("merged").as("state"),
            col("created_at").cast("timestamp_ntz").as("createdAt"),
            col("merged_at").cast("timestamp_ntz").as("mergedAt"),
            array(struct(col("merge_commit_sha").as("sha"),
              col("merged_at").cast("timestamp_ntz").as("authoredDate"),
              concat(lit("dev-"), pmod(col("iid"), lit(7))).as("authorName")))
              .as("commits"))
          val pipes = batch.select(col("iid").as("pipelineId"),
            projectId.as("projectId"), lit("success").as("status"),
            col("created_at").cast("timestamp_ntz").as("startedAt"),
            col("merged_at").cast("timestamp_ntz").as("finishedAt"))
          val (mergeRequests, commitRows, bridge, pipelines) =
            SecondaryTransforms.vcTables(mrs, pipes)
          // four independent target tables: submit concurrently so the
          // round's merge wall clock is the slowest table, not the sum
          sources.MergeWriter.mergeAll(s, Seq(
            (root + "/mrs", mergeRequests, Seq("mrId")),
            (root + "/commits", commitRows, Seq("sha")),
            (root + "/mr_commits", bridge, Seq("mrId", "sha")),
            (root + "/pipelines", pipelines, Seq("pipelineId"))),
            buckets = 8)
          operators.Watermarks.advance(s, wmPath,
            batch.withColumn("ds", lit("gitlab")), col("ds"),
            col("updated_at"))
        } finally { batch.unpersist(blocking = false); () }
      }
      runRound(Some(cut), useMark = true)  // initial load up to the cut
      runRound(None, useMark = true)       // cursor resume: updated > mark
      runRound(Some(cut), useMark = false) // stale at-least-once replay
      val wm = operators.Watermarks.currentMarks(s, wmPath)
        .select(col("next_run_start_from"))
      sources.MergeWriter.readTable(s, root + "/mrs")
        .join(sources.MergeWriter.readTable(s, root + "/mr_commits"), Seq("mrId"))
        .join(sources.MergeWriter.readTable(s, root + "/commits"), Seq("sha"))
        .join(sources.MergeWriter.readTable(s, root + "/pipelines")
            .select(col("pipelineId").as("mrId"),
              col("status").as("pipeline_status")),
          Seq("mrId"))
        .crossJoin(broadcast(wm))
        .select(col("mrId").as("mr_id"), col("projectId").as("project_id"),
          col("state"), col("sha"), col("authorName").as("author_name"),
          col("authoredDate").as("authored_date"), col("pipeline_status"),
          col("next_run_start_from"))
    }),

    // Multimodal image-side container parse, completing the FrameDecoder
    // pair: ASCII docs become actual 8-bpp BMP containers (file header +
    // BITMAPINFOHEADER + 256-entry palette + bottom-up 4-byte-aligned
    // raster, built byte-exact), and BmpRowDecoder re-derives the
    // geometry from the headers — honoring the pixel offset (skipping
    // the palette), un-padding each row, and un-reversing the bottom-up
    // storage — to frame every 2nd IMAGE row. The oracle recomputes the
    // frame stats from the text alone, so a decoder mis-locating the
    // raster by one byte (or reading rows in storage order)
    // hash-mismatches.
    "q92_bmp_rows" -> ((s, dir) => {
      val ascii = Tables.documents(s, dir)
        .filter(col("text").rlike("\\A[\\x00-\\x7F]*\\z"))
      val assets = Multimodal.toBmpAssets(ascii, col("doc_id"), col("text"),
        width = 32)
      Multimodal.frameByteStats(Multimodal.sampleFrames(assets,
        Multimodal.BmpRowDecoder(), everyNth = 2))
    }),

    // REAL pixel resample, not a stub: NN-downsample the parsed 8-bpp
    // BMP raster to 8×8 (pure index arithmetic on the validated parse —
    // no codec needed) and emit exact integer invariants; weighted_sum
    // is order-sensitive, so a transposed/flipped/mis-strided resample
    // cannot pass. The oracle recomputes every output pixel from the
    // TEXT the fixture packed, bypassing bytes entirely.
    "q134_bmp_resize" -> ((s, dir) => {
      val ascii = Tables.documents(s, dir)
        .filter(col("text").rlike("\\A[\\x00-\\x7F]*\\z"))
      val assets = Multimodal.toBmpAssets(ascii, col("doc_id"), col("text"),
        width = 32)
      Multimodal.resizedPixelStats(
        Multimodal.resizeBmpNearest(assets, outW = 8, outH = 8))
    }),

    // The THIRD SRP regime: 128-bit two-long signatures banded 8×16 bits.
    // q81's 64/4 config buys its collision-floor escape by halving the
    // band count (miss rate (1-p^16)^4); 128 bits keep the same 16-bit
    // keys — the floor stays out 256× — while restoring 8 bands
    // ((1-p^16)^8), recovering the recall the wide path gave up. Same
    // dense-replica corpus and 0.9 threshold as q81, so the regimes are
    // directly comparable (q93 must recover ≥ q81's 1,496 pairs).
    "q93_srp128_replicas" -> ((s, dir) => {
      Similarity.srpNearDupPairs128(replicaEmbeddings(s, dir),
        col("vec_id"), col("embedding"),
        threshold = 0.9, bits = 128, bands = 8)
    }),

    // ADO END-TO-END incremental flow — the q73/q90/q91 analog for S7,
    // putting ALL FOUR sources through the full lifecycle: watermarked
    // OData scan (the `ChangedDateSK >= mark` predicate compiled into the
    // pushed $filter, explain-visible as in q68) → T2 ADO state dedupe
    // over the changed items' revision streams → L1 keyed merge. The ADO
    // watermark is a DAY surrogate key, so the incremental round re-scans
    // the boundary day INCLUSIVELY (`>=`, the Analytics date-key
    // semantics — strictly-greater would drop same-day stragglers); the
    // keyed merge absorbs the overlap. Round 3 replays round 1's stale
    // batch (at-least-once): a content no-op, and the monotonic advance
    // cannot regress the mark.
    "q94_ado_incremental_flow" -> ((s, dir) => {
      val root = scratchDir("graft-ado-loop")
      val wmPath = root + "/datasources"
      val statesPath = root + "/state_revs"
      val drop = root + "/raw"
      adoItemsJson(s, dir).write.mode("overwrite").text(drop)
      val cutSk = 20240120L

      def storedMark(): Option[Long] =
        if (!new java.io.File(wmPath).exists()) None
        else operators.Watermarks.currentMarks(s, wmPath).collect()
          .find(_.getString(0) == "ado").map(_.getString(1).toLong)

      def runRound(arrivalCap: Option[Long], useMark: Boolean): Unit = {
        val src = s.read.format("graft-ado").option("path", drop).load()
        val capped = arrivalCap.fold(src)(c =>
          src.filter(col("changed_date_sk") <= c))
        val items = (if (useMark) storedMark() else None)
          .fold(capped)(m => capped.filter(col("changed_date_sk") >= m))
          .select(col("work_item_id"), col("changed_date_sk"))
          .persist()
        try {
          val uid = regexp_extract(col("work_item_id"), "(\\d+)$", 1).cast("long")
          val arev = Tables.events(s, dir)
            // high-cardinality semi-join; AQE broadcasts small batches
            .join(items.select(uid.as("uid")),
              col("user_id") === col("uid"), "left_semi")
            .select(col("user_id").as("WorkItemId"),
              col("event_id").as("Revision"),
              col("event_type").as("State"), col("ts"))
          val deduped = AdoDedupe.stateChanges(arev)
            .select(concat(lit("WI-"), col("WorkItemId")).as("work_item_id"),
              col("Revision").cast("long").as("revision"),
              col("State").as("state"),
              col("ts").cast("timestamp_ntz").as("changed_ts"))
          sources.MergeWriter.merge(s, statesPath, deduped,
            Seq("work_item_id", "revision"), buckets = 8)
          operators.Watermarks.advance(s, wmPath,
            items.select(lit("ado").as("ds"),
              col("changed_date_sk").cast("string").as("sk")),
            col("ds"), col("sk"))
        } finally { items.unpersist(blocking = false); () }
      }
      runRound(Some(cutSk), useMark = true)  // initial load up to the cut
      runRound(None, useMark = true)         // incremental: sk >= mark
      runRound(Some(cutSk), useMark = false) // stale at-least-once replay
      val wm = operators.Watermarks.currentMarks(s, wmPath)
        .select(col("next_run_start_from").cast("long").as("watermark_sk"))
      sources.MergeWriter.readTable(s, statesPath).crossJoin(broadcast(wm))
    }),

    // Repetition filter — the Gopher/MassiveText curation signal family
    // the plain surface stats (q08) miss: documents dominated by a single
    // repeated bigram or by duplicated bigrams are boilerplate/looping
    // text. Per doc: occurrence totals, top-bigram count/fraction,
    // duplicated-occurrence fraction, and the keep verdict at the
    // standard-ish 0.20/0.60 thresholds.
    "q95_repetition_filter" -> ((s, dir) => {
      TextAnalysis.repetitionStats(Tables.documents(s, dir),
          col("doc_id"), col("text"), n = 2)
        .withColumn("keep",
          col("top_ngram_frac") <= 0.20 && col("dup_ngram_frac") <= 0.60)
    }),

    // §2.5 with REDELIVERY: the same event batch is delivered twice (the
    // SQS visibility-timeout double-delivery), and the stream-side
    // watermark-bounded dedupe (dropDuplicatesWithinWatermark on the
    // natural key, state evicted as the watermark passes) drops the
    // second copy BEFORE the windowed aggregation — so the hourly counts
    // equal the single-delivery truth even though the transport doubled
    // every row. Chained stateful operators (dedup → windowed agg) run in
    // append mode; the far-future sentinels arrive last to flush the
    // final windows under AvailableNow (the q66 mechanics).
    "q96_streaming_dedup" -> ((s, dir) => {
      val root = scratchDir("graft-stream-dd")
      val src = root + "/in"
      val batchInput = Tables.events(s, dir)
        .select(col("ts").cast("timestamp").as("ts"),
          col("event_type"), col("event_id"))
      batchInput.repartition(4).write.mode("overwrite").parquet(src)
      // the redelivery: the SAME batch lands a second time
      batchInput.repartition(4).write.mode("append").parquet(src)
      import s.implicits._
      def partNames() = new java.io.File(src).listFiles()
        .filter(f => f.isFile && f.getName.startsWith("part-"))
        .map(_.getName).toSet
      val dataNames = partNames()
      Seq("2030-01-01 00:00:00").toDF("t")
        .select(col("t").cast("timestamp").as("ts"),
          lit("sentinel").as("event_type"), lit(-1L).as("event_id"))
        .coalesce(1).write.mode("append").parquet(src)
      val s1Names = partNames() -- dataNames
      Seq("2031-01-01 00:00:00").toDF("t")
        .select(col("t").cast("timestamp").as("ts"),
          lit("sentinel").as("event_type"), lit(-2L).as("event_id"))
        .coalesce(1).write.mode("append").parquet(src)
      val s2Names = partNames() -- dataNames -- s1Names
      orderStreamFiles(src, tail = Seq(s1Names, s2Names))
      val deduped = streaming.StreamingFlow.dedupedStream(
        streaming.StreamingFlow.fileStream(s, src, batchInput.schema,
          maxFilesPerTrigger = 3),
        col("ts"), "40 days", Seq("event_id"))
      // the dedupe already stamped the watermark and re-stamping is
      // disallowed across chained stateful operators — aggregate directly
      val windows = deduped
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("window.start").cast("timestamp_ntz").as("window_start"),
          col("window.end").cast("timestamp_ntz").as("window_end"),
          col("event_type"), col("n_events"))
      streaming.StreamingFlow.withStatePartitions(s, Seq(src)) {
        val q = streaming.StreamingFlow.mergeSink(windows, root + "/counts",
          Seq("window_start", "event_type"), col("n_events"), root + "/ckpt",
          Some(org.apache.spark.sql.streaming.Trigger.AvailableNow()),
          org.apache.spark.sql.streaming.OutputMode.Append())
        q.awaitTermination()
      }
      sources.MergeWriter.readTable(s, root + "/counts")
        .filter(col("event_type") =!= "sentinel")
        .select(col("window_start"), col("window_end"), col("event_type"),
          col("n_events"))
    }),

    // Domain-mix weighted sampling — the mixture-weights knob of a
    // pretraining pipeline: each length bucket ("domain") gets a
    // deterministic keep RATE applied as an LCG-residue threshold (never
    // rand(): retry-stable, engine-portable, a document's fate is a pure
    // function of its id — rerunning the pipeline or re-weighting other
    // domains never flips a kept document). Integer thresholds
    // floor(rate · 2^31-1) keep both engines bit-identical. Output is the
    // per-bucket audit: totals, kept counts, observed rate.
    "q97_weighted_sampling" -> ((s, dir) => {
      val h = lcgResidue(col("doc_id"))
      val threshold = when(col("len_bucket") === 0, 2147483647L)
        .when(col("len_bucket") === 1, 1073741823L) // floor(0.50·(2^31-1))
        .when(col("len_bucket") === 2, 536870911L)  // floor(0.25·(2^31-1))
        .otherwise(214748364L)                      // floor(0.10·(2^31-1))
      Tables.documents(s, dir)
        .select(col("doc_id"),
          floor(length(col("text")) / lit(128.0)).cast("long").as("len_bucket"))
        .withColumn("kept", (h < threshold).cast("long"))
        .groupBy(col("len_bucket"))
        .agg(count(lit(1)).as("n_total"), sum(col("kept")).as("n_kept"),
          round(sum(col("kept")).cast("double") / count(lit(1)), 6)
            .as("observed_rate"))
    }),

    // Cross-document packing — whole documents packed longest-first into
    // shared 512-token training bins, sharded by a deterministic id
    // residue. The shard count carries the scale contract (see
    // TextAnalysis.packItems): it grows with the corpus so per-task work
    // stays constant; 32 shards at fixture scale stands in for
    // corpus/10k-docs at 100 TB.
    "q98_sharded_packing" -> ((s, dir) => {
      val withTok = Tables.documents(s, dir).select(col("doc_id"),
        size(graft.functions.tokens(col("text"))).cast("long").as("n_tokens"))
      TextAnalysis.packItems(withTok,
        pmod(lcgResidue(col("doc_id")), lit(32L)),
        col("doc_id"), col("n_tokens"), capacity = 512)
    }),

    // Tokenizer training, the first BPE iteration: corpus-weighted
    // adjacent character-pair frequencies (the statistic each merge step
    // maximizes), computed over the distinct-word histogram so the pair
    // explode touches vocabulary-scale data, not the corpus. Top 20
    // merge candidates, deterministic tie-break.
    "q99_bpe_pair_counts" -> ((s, dir) => {
      TextAnalysis.bpePairCounts(Tables.documents(s, dir), col("text"),
        topN = 20)
    }),

    // The CURATION capstone — the corpus-side q73: the full curation
    // pipeline a pretraining corpus runs, composed from the individual
    // oracle-proven operators. Quality gate (q33 thresholds) ∧ repetition
    // gate (q95) ∧ exact-dedup survivor (q07 keep ids) → PII scrub of the
    // kept docs (q86's synthetic contact lines) → stratified split audit
    // (q87 LCG) reporting kept-document and redaction counts per
    // (length bucket, split). Every stage is a semi-join or
    // map-side-combinable aggregation on the doc id; nothing collects.
    "q100_curation_pipeline" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val quality = TextAnalysis.textStats(docs, col("text"))
        .filter(col("n_tokens") >= 20 && col("n_tokens") <= 120 &&
          col("uniq_ratio") >= 0.3)
        .select(col("doc_id"))
      val lowRep = TextAnalysis.repetitionStats(docs, col("doc_id"),
          col("text"), n = 2)
        .filter(col("top_ngram_frac") <= 0.20 && col("dup_ngram_frac") <= 0.60)
        .select(col("doc_id"))
      val survivors = Dedup.exactGroups(docs, col("doc_id"), col("text"))
        .select(col("keep_id").as("doc_id"))
      val kept = docs
        .join(quality, Seq("doc_id"), "left_semi")
        .join(lowRep, Seq("doc_id"), "left_semi")
        .join(survivors, Seq("doc_id"), "left_semi")
      val withPii = kept.select(col("doc_id"),
        concat(col("text"), lit(" contact user"), col("doc_id"),
          lit("@example.com from 10.0."), pmod(col("doc_id"), lit(200)),
          lit(".7")).as("text"))
      val scrubbed = TextAnalysis.redactPii(withPii, col("doc_id"), col("text"))
        .select(col("doc_id"), (col("n_emails") + col("n_ips")).as("n_pii"))
      val h = lcgResidue(col("doc_id"))
      kept.select(col("doc_id"),
          floor(length(col("text")) / lit(128.0)).cast("long").as("len_bucket"))
        .join(scrubbed, Seq("doc_id"))
        .select(col("len_bucket"),
          when(h < 1717986917L, "train")
            .when(h < 1932735282L, "val")
            .otherwise("test").as("split"),
          col("n_pii"))
        .groupBy(col("len_bucket"), col("split"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_pii")).as("n_redactions"))
    }),

    // Substring-level exact dedup (Lee et al. ACL 2022): maximal character
    // spans occurring more than once in the corpus, at 40-char window
    // granularity — the suffix-array semantics via rolling-hashed windows
    // + gaps-and-islands (see Dedup.duplicatedSpans for the scale shape).
    "q101_substring_dedup" -> ((s, dir) =>
      Dedup.duplicatedSpans(Tables.documents(s, dir),
        col("doc_id"), col("text"), k = 40)),

    // Keep-first-occurrence cut: q101 flags EVERY occurrence of repeated
    // content; the actual Lee et al. cut keeps one canonical copy. Cut
    // spans cover only occurrences with an earlier (doc_id, pos) copy —
    // the canonical copy per window key is a map-side-combinable
    // min(struct), no global sort.
    "q119_keep_first_cut" -> ((s, dir) =>
      Dedup.keepFirstCutSpans(Tables.documents(s, dir),
        col("doc_id"), col("text"), k = 40)),

    // The APPLY pass that completes the Lee-et-al pipeline: q119's cut
    // spans spliced OUT of the corpus (per-doc interval union → one
    // array-fold per document, no collect, no corpus-wide structure),
    // with the cut corpus' char and token accounting. kept_text IS the
    // training corpus a 100 TB run would write back out.
    "q130_cut_apply" -> ((s, dir) =>
      Dedup.applyKeepFirstCut(Tables.documents(s, dir),
        col("doc_id"), col("text"), k = 40)
        .withColumn("n_kept_tokens",
          when(length(trim(col("kept_text"))) === 0, 0L)
            .otherwise(size(graft.functions.tokens(col("kept_text")))
              .cast("long")))),

    // CCNet-shaped LM quality filter: a bigram model with add-one
    // smoothing trained on the doc_id ≡ 0 (mod 7) reference slice scores
    // every document's mean bigram probability (arithmetic mean, not
    // perplexity — no libm ln in the score, decimal-exact cross-bigram
    // sums; see TextAnalysis.lmScoreFilter). keep = score ≥ 0.01.
    "q143_lm_quality_filter" -> ((s, dir) =>
      TextAnalysis.lmScoreFilter(Tables.documents(s, dir),
        col("doc_id"), col("text"),
        trainFilter = pmod(col("doc_id"), lit(7)) === 0,
        threshold = 0.01)),

    // Mixture construction to a token budget (the data-mixing step of a
    // training run): per-language budgets weight·10000 tokens, filled in
    // deterministic LCG-priority order, crossing doc dropped. The
    // running totals are a two-phase distributed prefix sum — priority-
    // range buckets, exclusive per-group offsets, bounded intra-bucket
    // windows — never one corpus-scale sort per language (the q111
    // discipline).
    "q136_token_mixture" -> ((s, dir) =>
      TextAnalysis.tokenBudgetMixture(Tables.documents(s, dir),
        col("doc_id"), col("text"), col("lang"), lcgResidue(col("doc_id")),
        weights = Map("en" -> 0.5, "es" -> 0.2, "fr" -> 0.2, "zh" -> 0.1),
        budget = 10000L)
        .withColumnRenamed("grp", "lang")
        .withColumnRenamed("grp_budget", "lang_budget")),

    // BM25 top-10 retrieval over three fixed keyword queries — posting
    // lists semi-joined to the broadcast query-term list before any
    // scoring, per-term Okapi weights in one IEEE expression tree each,
    // cross-term sums decimal-exact (see TextAnalysis.bm25TopK). The
    // batch keyword-search shape a 100 TB corpus serves retrieval with.
    "q133_bm25_topk" -> ((s, dir) => {
      import s.implicits._
      val qs = Seq(
        (0L, "hash"), (0L, "join"), (0L, "table"),
        (1L, "stream"), (1L, "merge"), (1L, "batch"),
        (2L, "vector"), (2L, "scan"), (2L, "filter")).toDF("query_id", "term")
      TextAnalysis.bm25TopK(Tables.documents(s, dir),
        col("doc_id"), col("text"), qs, k = 10)
    }),

    // INCREMENTAL search-index maintenance: the postings (doc, term, tf)
    // and doc-length tables are built by folding three per-batch deltas
    // through mergeAdditive (tf and dl are pure sums, so additive folds
    // compose exactly), with a deliberate batch-2 redelivery the txn
    // ledger must skip — then the STORED index answers the q133 queries
    // through bm25FromIndex. Identical output to the one-shot build is
    // the proof: at 100 TB you maintain the index, you don't rebuild it
    // per search.
    "q137_incremental_bm25" -> ((s, dir) => {
      val root = scratchDir("graft-bm25")
      val pTable = root + "/postings"
      val dTable = root + "/doclen"
      import s.implicits._
      val toked = Tables.documents(s, dir)
        .select(col("doc_id").cast("long").as("doc_id"),
          graft.functions.tokens(col("text")).as("toks"))
      def batch(r: Int) = toked.filter(pmod(col("doc_id"), lit(3)) === r)
      def postDelta(r: Int) = batch(r)
        .select(col("doc_id"), explode(col("toks")).as("term"))
        .groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf"))
      def dlDelta(r: Int) = batch(r)
        .select(col("doc_id"), size(col("toks")).cast("long").as("dl"))
      (0 until 3).foreach { r =>
        sources.MergeWriter.mergeAdditive(s, pTable, postDelta(r),
          Seq("doc_id", "term"), Seq("tf"), txn = ("bm25p", r + 1L),
          buckets = 8)
        sources.MergeWriter.mergeAdditive(s, dTable, dlDelta(r),
          Seq("doc_id"), Seq("dl"), txn = ("bm25d", r + 1L), buckets = 8)
      }
      // at-least-once redelivery of batch 2: a double-fold would inflate
      // tf and shift every score — the ledger must skip it
      sources.MergeWriter.mergeAdditive(s, pTable, postDelta(1),
        Seq("doc_id", "term"), Seq("tf"), txn = ("bm25p", 2L), buckets = 8)
      val qs = Seq(
        (0L, "hash"), (0L, "join"), (0L, "table"),
        (1L, "stream"), (1L, "merge"), (1L, "batch"),
        (2L, "vector"), (2L, "scan"), (2L, "filter")).toDF("query_id", "term")
      TextAnalysis.bm25FromIndex(
        sources.MergeWriter.readTable(s, pTable),
        sources.MergeWriter.readTable(s, dTable), qs, k = 10)
    }),

    // KMV distinct-count sketch per language, k = 16, with the exact
    // distinct joined alongside as the self-audit — the sketch scaffolding
    // a 100 TB profiler uses where countDistinct no longer fits (the
    // per-group k-smallest rides the skew-proof Caps.perGroupCap).
    "q102_kmv_distinct" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val exact = docs.groupBy(col("lang"))
        .agg(countDistinct(col("text")).as("exact_distinct"))
      Sketches.kmvDistinct(docs, col("lang"), col("text"), k = 16)
        .withColumnRenamed("grp", "lang")
        .join(exact, Seq("lang"))
    }),

    // HyperLogLog raw estimate per language over 64 buckets: the register
    // frame is the mergeable sketch state (groupBy max — map-side
    // combinable); the harmonic sum is INTEGER-exact so the estimate is
    // bit-identical across engines and aggregation orders.
    "q103_hll_estimate" -> ((s, dir) => {
      val regs = Sketches.hllRegisters(Tables.documents(s, dir),
        col("lang"), col("text"), bucketBits = 6)
      Sketches.hllEstimate(regs, bucketBits = 6)
        .withColumnRenamed("grp", "lang")
    }),

    // §2.5 stream-stream correlation: impressions (even event ids) joined
    // to conversions (odd ids) arriving on a SECOND live stream, matched
    // per user within a 30-minute horizon — the watermarked interval join
    // where both sides buffer keyed state. Inner join emits eagerly on
    // match, so the multi-batch AvailableNow run equals the batch join the
    // oracle computes. The lateness budget here exceeds the fixture's time
    // span (no drops, exact result); production sets the real tolerance
    // and the interval bound then also bounds the state store.
    "q104_stream_interval_join" -> ((s, dir) => {
      val root = scratchDir("graft-stream-ij")
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
          col("user_id"))
      val imp = ev.filter(pmod(col("event_id"), lit(2)) === 0)
        .select(col("event_id").as("imp_id"), col("ts").as("imp_ts"),
          col("user_id").as("imp_user"))
      val conv = ev.filter(pmod(col("event_id"), lit(2)) === 1)
        .select(col("event_id").as("conv_id"), col("ts").as("conv_ts"),
          col("user_id").as("conv_user"))
      imp.repartition(4).write.mode("overwrite").parquet(root + "/imp")
      conv.repartition(4).write.mode("overwrite").parquet(root + "/conv")
      val joined = streaming.StreamingFlow.intervalJoin(
        streaming.StreamingFlow.fileStream(s, root + "/imp", imp.schema,
          maxFilesPerTrigger = 2),
        streaming.StreamingFlow.fileStream(s, root + "/conv", conv.schema,
          maxFilesPerTrigger = 2),
        "imp_user", "conv_user", "imp_ts", "conv_ts",
        watermarkDelay = "45 days", maxDelay = "30 minutes")
      val out = joined.select(col("imp_user").as("user_id"),
        col("imp_id"), col("conv_id"),
        col("imp_ts").cast("timestamp_ntz").as("imp_ts"),
        col("conv_ts").cast("timestamp_ntz").as("conv_ts"))
      streaming.StreamingFlow.withStatePartitions(s,
          Seq(root + "/imp", root + "/conv")) {
        val q = out.writeStream.format("parquet")
          .option("path", root + "/out")
          .option("checkpointLocation", root + "/ckpt")
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      s.read.parquet(root + "/out")
    }),

    // Characteristic terms per document: top-3 by tf with linear inverse
    // document frequency (tf·N/df — deliberately ln-free; see
    // TextAnalysis.tfidfTopTerms for the parity rationale).
    "q105_tfidf_topterms" -> ((s, dir) =>
      TextAnalysis.tfidfTopTerms(Tables.documents(s, dir),
        col("doc_id"), col("text"), k = 3)),

    // §2.5 stream-stream LEFT OUTER: impressions with NO conversion inside
    // the 30-minute horizon (abandonment). Null emission waits for the
    // watermark to pass imp_ts + horizon, so each stream gets a far-future
    // sentinel arriving LAST (mtime-ordered; both watermarks must advance
    // — the join takes the minimum) and the no-data finalize batch flushes
    // the tail. Lateness budget covers the fixture span exactly as in
    // q104; sentinels filter out of the result.
    "q106_stream_abandonment" -> ((s, dir) => {
      val root = scratchDir("graft-stream-oj")
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
          col("user_id"))
      val imp = ev.filter(pmod(col("event_id"), lit(2)) === 0)
        .select(col("event_id").as("imp_id"), col("ts").as("imp_ts"),
          col("user_id").as("imp_user"))
      val conv = ev.filter(pmod(col("event_id"), lit(2)) === 1)
        .select(col("event_id").as("conv_id"), col("ts").as("conv_ts"),
          col("user_id").as("conv_user"))
      import s.implicits._
      def writeSide(path: String, data: DataFrame,
                    sentinel: DataFrame): Unit = {
        data.repartition(4).write.mode("overwrite").parquet(path)
        def partNames() = new java.io.File(path).listFiles()
          .filter(f => f.isFile && f.getName.startsWith("part-"))
          .map(_.getName).toSet
        val dataNames = partNames()
        sentinel.coalesce(1).write.mode("append").parquet(path)
        orderStreamFiles(path, tail = Seq(partNames() -- dataNames))
      }
      def sentinelRow(idCol: String, tsCol: String, userCol: String) =
        Seq("2030-01-01 00:00:00").toDF("t")
          .select(lit(-1L).as(idCol), col("t").cast("timestamp").as(tsCol),
            lit(-1L).as(userCol))
      writeSide(root + "/imp", imp, sentinelRow("imp_id", "imp_ts", "imp_user"))
      writeSide(root + "/conv", conv,
        sentinelRow("conv_id", "conv_ts", "conv_user"))
      val joined = streaming.StreamingFlow.intervalJoin(
        streaming.StreamingFlow.fileStream(s, root + "/imp", imp.schema,
          maxFilesPerTrigger = 2),
        streaming.StreamingFlow.fileStream(s, root + "/conv", conv.schema,
          maxFilesPerTrigger = 2),
        "imp_user", "conv_user", "imp_ts", "conv_ts",
        watermarkDelay = "45 days", maxDelay = "30 minutes",
        joinType = "left_outer")
      val out = joined
        .select(col("imp_user").as("user_id"), col("imp_id"), col("conv_id"),
          col("imp_ts").cast("timestamp_ntz").as("imp_ts"))
      streaming.StreamingFlow.withStatePartitions(s,
          Seq(root + "/imp", root + "/conv")) {
        val q = out.writeStream.format("parquet")
          .option("path", root + "/out")
          .option("checkpointLocation", root + "/ckpt")
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      s.read.parquet(root + "/out")
        .filter(col("imp_id") =!= -1L)
        .filter(col("conv_id").isNull)
        .select(col("user_id"), col("imp_id"), col("imp_ts"))
    }),

    // Last-touch attribution: every conversion (odd event ids) joined
    // as-of to the most recent impression (even ids) of the same user —
    // the temporal-lookup primitive Spark lacks, in the union-scan shape
    // (one shuffle, |conversions| output rows, no inequality-join
    // explosion; see AsOfJoin.asOf).
    "q107_asof_attribution" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("ts").cast("timestamp_ntz").as("ts"),
          col("user_id"))
      val conv = ev.filter(pmod(col("event_id"), lit(2)) === 1)
        .select(col("user_id"), col("event_id").as("conv_id"),
          col("ts").as("conv_ts"))
      val imp = ev.filter(pmod(col("event_id"), lit(2)) === 0)
        .select(col("user_id"), col("event_id").as("imp_id"),
          col("ts").as("imp_ts"))
      operators.AsOfJoin.asOf(conv, imp,
        leftKey = col("user_id"), rightKey = col("user_id"),
        leftTs = col("conv_ts"), rightTs = col("imp_ts"),
        rightTieBreak = col("imp_id"), payload = Seq("imp_id", "imp_ts"))
    }),

    // The substring-dedup CUT accounting: per document, how many
    // characters fall inside the interval UNION of its duplicated spans
    // (q101's spans can overlap in characters when window-start runs are
    // separated by gaps < k — summing span_len would overcount).
    "q108_dedup_cut_stats" -> ((s, dir) =>
      Dedup.duplicatedCharStats(Tables.documents(s, dir),
        col("doc_id"), col("text"), k = 40)),

    // Int8-quantized ANN with recall instrumentation: top-5 neighbors per
    // query under the 4×-smaller quantized representation, each flagged
    // for agreement with the full-precision top-5 (q10). Quantized scores
    // rank bit-deterministically — integer dot products are exact in
    // doubles at any accumulation order.
    "q109_quantized_topk" -> ((s, dir) =>
      Similarity.quantizedTopK(Tables.embeddings(s, dir),
        col("vec_id"), col("embedding"), nQueries = 10, k = 5)),

    // Ordered view→click→purchase funnel per user with a 12-hour
    // conversion window per transition (150 → 37 → 7 users on the
    // fixture): first view, first in-window click at/after it, first
    // in-window purchase at/after that — one combinable min-agg per stage
    // chained on the user key (see Funnel.funnelStages).
    "q110_event_funnel" -> ((s, dir) =>
      operators.Funnel.funnelStages(
        Tables.events(s, dir)
          .select(col("user_id"), col("ts").cast("timestamp_ntz").as("ts"),
            col("event_type")),
        col("user_id"), col("ts"), col("event_type"),
        stages = Seq("view", "click", "purchase"),
        maxGap = Some("12 hours"))
        .withColumnRenamed("k", "user_id")),

    // Corpus length profile: EXACT token-count percentiles per language
    // via histogram compression — the scalable exact-quantile pattern (one
    // combinable count shuffle; the window runs over per-(lang, value)
    // histogram rows, bounded by the value domain, never corpus size).
    "q111_length_percentiles" -> ((s, dir) =>
      TextAnalysis.discretePercentiles(
        Tables.documents(s, dir)
          .select(col("lang"),
            size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens")),
        col("lang"), col("n_tokens"),
        percents = Seq(25, 50, 75, 90, 99))
        .withColumnRenamed("grp", "lang")),

    // §2.5 stream-STATIC enrichment: the live event stream joined to a
    // batch dimension (per-user signup cohort day, computed once) before a
    // windowed aggregation — the standard "enrich then aggregate" topology.
    // The static side joins map-side per micro-batch (broadcastable, no
    // stream state); daily counts per cohort land through the idempotent
    // merge sink in Update mode (q61 mechanics — no sentinel needed).
    "q112_stream_static_enrich" -> ((s, dir) => {
      val root = scratchDir("graft-stream-se")
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
          col("user_id"))
      ev.repartition(4).write.mode("overwrite").parquet(root + "/in")
      val cohort = ev.groupBy(col("user_id"))
        .agg(date_trunc("day", min(col("ts"))).as("cohort_day"))
      val enriched = streaming.StreamingFlow.fileStream(s, root + "/in",
          ev.schema, maxFilesPerTrigger = 2)
        .withWatermark("ts", "45 days")
        .join(broadcast(cohort), Seq("user_id"))
      val daily = enriched
        .groupBy(window(col("ts"), "1 day"), col("cohort_day"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("window.start").cast("timestamp_ntz").as("day"),
          col("cohort_day").cast("timestamp_ntz").as("cohort_day"),
          col("n_events"))
      streaming.StreamingFlow.withStatePartitions(s, Seq(root + "/in")) {
        val q = streaming.StreamingFlow.mergeSink(daily, root + "/counts",
          Seq("day", "cohort_day"), col("n_events"), root + "/ckpt",
          Some(org.apache.spark.sql.streaming.Trigger.AvailableNow()))
        q.awaitTermination()
      }
      sources.MergeWriter.readTable(s, root + "/counts")
        .select(col("day"), col("cohort_day"), col("n_events"))
    }),

    // Count-min frequency sketch over token occurrences (4×256 counter
    // matrix): point estimates for the 10 heaviest tokens = min over rows
    // of their cells, always >= the exact count. Matrix build is one
    // combinable count; the top-10 probe set comes from a distributed
    // sort+limit (TopK per partition), never a global window.
    "q113_countmin_tokens" -> ((s, dir) => {
      import s.implicits._
      val toks = CacheRegistry.persist(
        Tables.documents(s, dir)
          .select(col("doc_id").cast("long"), col("text").cast("string"))
          .as[(Long, String)]
          .repartition(s.sparkContext.defaultParallelism)
          .flatMap { case (_, t) => t.trim.split("\\s+").iterator
            .map(w => graft.functions.TextHash.poly(w,
              graft.functions.TextHash.Mod31)) }
          .toDF("sid"))
      val mat = Sketches.countMin(toks, col("sid"), depth = 4, width = 256)
      val top = toks.groupBy(col("sid")).agg(count(lit(1)).as("exact_n"))
        .orderBy(col("exact_n").desc, col("sid")).limit(10)
      val probes = (0 until 4).map(r =>
        top.select(col("sid"), col("exact_n"), lit(r.toLong).as("row"),
          Sketches.posHash(col("sid"), r, 256).as("col")))
        .reduce(_ unionByName _)
      probes.join(mat, Seq("row", "col"))
        .groupBy(col("sid"), col("exact_n"))
        .agg(min(col("n")).as("cms_est"))
    }),

    // INCREMENTAL CMS maintenance: the 4×256 counter table lives in a
    // merge-maintained table and each token-stream slice FOLDS in via
    // mergeAdditive (counters are pure sums) with a deliberate replay
    // the txn ledger must skip — then the STORED counters answer q113's
    // probes. Identical estimates to the one-shot sketch is the proof:
    // a 100 TB frequency sketch is maintained, not rebuilt.
    "q144_incremental_cms" -> ((s, dir) => {
      import s.implicits._
      val path = scratchDir("graft-cms") + "/counters"
      val toks = CacheRegistry.persist(
        Tables.documents(s, dir)
          .select(col("doc_id").cast("long"), col("text").cast("string"))
          .as[(Long, String)]
          .repartition(s.sparkContext.defaultParallelism)
          .flatMap { case (_, t) => t.trim.split("\\s+").iterator
            .map(w => graft.functions.TextHash.poly(w,
              graft.functions.TextHash.Mod31)) }
          .toDF("sid"))
      def fold(r: Int, v: Long) = sources.MergeWriter.mergeAdditive(s, path,
        Sketches.countMin(toks.filter(pmod(col("sid"), lit(3)) === r),
          col("sid"), depth = 4, width = 256),
        Seq("row", "col"), Seq("n"), txn = ("cms", v), buckets = 8)
      fold(0, 1L)
      fold(1, 2L)
      fold(1, 2L) // at-least-once redelivery — must not double the counters
      fold(2, 3L)
      val mat = sources.MergeWriter.readTable(s, path)
      val top = toks.groupBy(col("sid")).agg(count(lit(1)).as("exact_n"))
        .orderBy(col("exact_n").desc, col("sid")).limit(10)
      val probes = (0 until 4).map(r =>
        top.select(col("sid"), col("exact_n"), lit(r.toLong).as("row"),
          Sketches.posHash(col("sid"), r, 256).as("col")))
        .reduce(_ unionByName _)
      probes.join(mat, Seq("row", "col"))
        .groupBy(col("sid"), col("exact_n"))
        .agg(min(col("n")).as("cms_est"))
    }),

    // INCREMENTAL Bloom maintenance: the 65536-bit filter's set-bit
    // table lives in a merge-maintained table; train slices union in via
    // plain keyed merge (a bit set is idempotent by construction — the
    // replay is a content no-op), and the STORED bits answer the q114
    // contamination probes identically to the one-shot filter.
    "q145_incremental_bloom" -> ((s, dir) => {
      import s.implicits._
      val path = scratchDir("graft-bloom") + "/bits"
      val docs = Tables.documents(s, dir)
      def sids(df: DataFrame) = df
        .select(col("doc_id").cast("long"), col("text").cast("string"))
        .as[(Long, String)]
        .repartition(s.sparkContext.defaultParallelism)
        .flatMap { case (d, t) => Dedup.distinctShingles(t, 3)
          .map(g => (d, graft.functions.TextHash.poly(g,
            graft.functions.TextHash.Mod31))) }
        .toDF("doc", "sid").distinct()
      // persisted: referenced by all three folds, the replay, and the
      // exact-hits join — without the cache the corpus-linear
      // tokenize+shingle+hash flatMap re-runs five times
      val train = CacheRegistry.persist(
        sids(docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)))
      val test = CacheRegistry.persist(
        sids(docs.filter(pmod(col("doc_id"), lit(5)) === 0)))
      // fold input dedup dropped: bloomBits distincts bit positions
      // itself (map-side partial agg absorbs the multiplicity), so the
      // separate sid-distinct shuffle bought nothing
      def fold(r: Int): Unit = sources.MergeWriter.merge(s, path,
        Sketches.bloomBits(
          train.filter(pmod(col("doc"), lit(3)) === r).select(col("sid")),
          col("sid"), hashes = 3, width = 65536),
        Seq("bit"), buckets = 8)
      (0 until 3).foreach(fold)
      fold(1) // replay: same bits, content no-op
      // the STORED bit set still answers the probes (the query's whole
      // claim) — read back, width-bounded (≤ 65536 rows), sorted, and
      // probed via the referenced-array kernel: q114's one-join one-agg
      // shape (guide §2.4) instead of probe-union + semi join + three
      // aggregations + two joins
      val bitArr = sources.MergeWriter.readTable(s, path)
        .orderBy(col("bit")).as[Long].collect()
      val inBits = (0 until 3).map(r =>
        !graft.functions.VectorExpressions.not_in_sorted_longs(
          Sketches.posHash(col("sid"), r, 65536), bitArr)).reduce(_ && _)
      test.join(train.select(col("sid")).distinct()
          .withColumn("__t", lit(1)), Seq("sid"), "left")
        .groupBy(col("doc"))
        .agg(count(lit(1)).as("n_shingles"),
          sum(when(inBits, 1L).otherwise(0L)).as("n_bloom_hits"),
          count(col("__t")).as("n_exact_hits"))
        .select(col("doc").as("doc_id"), col("n_shingles"),
          col("n_bloom_hits"), col("n_exact_hits"),
          round(col("n_bloom_hits").cast("double") / col("n_shingles"), 6)
            .as("bloom_frac"))
    }),

    // Bloom-filter contamination screen: the q64 train/test split probed
    // against a 65536-bit, 3-hash Bloom of the train TRIGRAM set — the
    // CONSTANT-SIZE alternative to shipping the train sid set. Trigrams
    // (not q64's bigrams, which this corpus shares almost completely)
    // leave ~40% uncontaminated probes, so the filter's false-positive
    // behavior is visible: no false negatives (n_bloom_hits >=
    // n_exact_hits row by row) and a deterministic, oracle-reproduced
    // overshoot at the ~48% fill ratio.
    "q114_bloom_contamination" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      def sids(df: DataFrame) = df
        .select(col("doc_id").cast("long"), col("text").cast("string"))
        .as[(Long, String)]
        .repartition(s.sparkContext.defaultParallelism)
        .flatMap { case (d, t) => Dedup.distinctShingles(t, 3)
          .map(g => (d, graft.functions.TextHash.poly(g,
            graft.functions.TextHash.Mod31))) }
        .toDF("doc", "sid").distinct()
      // persisted: feeds both the filter build and the exact-hits join
      val train = CacheRegistry.persist(
        sids(docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)))
      val test = CacheRegistry.persist(
        sids(docs.filter(pmod(col("doc_id"), lit(5)) === 0)))
      // the filter's bit set is WIDTH-bounded (≤ 65536 rows no matter
      // the corpus — the sketch's whole point), so it collects to a
      // sorted long[] and probes via the referenced-array binary-search
      // kernel: the 3-way probe union + semi join + two count
      // aggregations + two result joins of the old shape collapse to
      // ONE train-sid join and ONE per-doc aggregation (guide §2.4 —
      // 5 shuffles → 2; the bloomBits input dedup also drops: the
      // filter distincts bit positions itself, map-side partial agg
      // absorbs the multiplicity)
      val bitArr = Sketches.bloomBits(train.select(col("sid")),
          col("sid"), hashes = 3, width = 65536)
        .orderBy(col("bit")).as[Long].collect()
      val inBits = (0 until 3).map(r =>
        !graft.functions.VectorExpressions.not_in_sorted_longs(
          Sketches.posHash(col("sid"), r, 65536), bitArr)).reduce(_ && _)
      test.join(train.select(col("sid")).distinct()
          .withColumn("__t", lit(1)), Seq("sid"), "left")
        .groupBy(col("doc"))
        .agg(count(lit(1)).as("n_shingles"),
          sum(when(inBits, 1L).otherwise(0L)).as("n_bloom_hits"),
          count(col("__t")).as("n_exact_hits"))
        .select(col("doc").as("doc_id"), col("n_shingles"),
          col("n_bloom_hits"), col("n_exact_hits"),
          round(col("n_bloom_hits").cast("double") / col("n_shingles"), 6)
            .as("bloom_frac"))
    }),

    // Embedding-quality screening: the 5 lowest-cosine members of each
    // label against the label's decimal-exact mean centroid — mislabeled/
    // noise candidates, with the low-cardinality label key riding the
    // skew-proof cap (see Similarity.groupOutliers).
    "q115_embedding_outliers" -> ((s, dir) =>
      Similarity.groupOutliers(Tables.embeddings(s, dir),
        col("vec_id"), col("embedding"), col("label").cast("long"), k = 5)
        .withColumnRenamed("grp", "label")
        .withColumnRenamed("vid", "vec_id")),

    // INCREMENTAL sketch maintenance through the engine's own storage:
    // HLL registers are monotone, so the version-guarded merge
    // (newer-version-wins on the (lang, bucket) key) IS the register
    // merge — batch 2 raises registers it beats, the batch-1 replay is a
    // no-op (stale versions never regress), and the final table equals
    // the whole-corpus sketch, estimated as in q103.
    "q116_incremental_hll" -> ((s, dir) => {
      val root = scratchDir("graft-hll-inc")
      val docs = Tables.documents(s, dir)
      def regs(df: DataFrame) =
        Sketches.hllRegisters(df, col("lang"), col("text"), bucketBits = 6)
      val batch1 = regs(docs.filter(pmod(col("doc_id"), lit(2)) === 0))
      val batch2 = regs(docs.filter(pmod(col("doc_id"), lit(2)) === 1))
      val table = root + "/regs"
      sources.MergeWriter.mergeVersioned(s, table, batch1,
        Seq("grp", "bucket"), "register", buckets = 4)
      sources.MergeWriter.mergeVersioned(s, table, batch2,
        Seq("grp", "bucket"), "register", buckets = 4)
      // at-least-once replay of batch 1: stale registers must not regress
      sources.MergeWriter.mergeVersioned(s, table, batch1,
        Seq("grp", "bucket"), "register", buckets = 4)
      Sketches.hllEstimate(sources.MergeWriter.readTable(s, table),
        bucketBits = 6).withColumnRenamed("grp", "lang")
    }),

    // Product quantization + asymmetric-distance top-5: 4 subspaces × 16
    // dims, 8-codeword codebooks trained with the shared cosine-Lloyd
    // machinery, database vectors reduced to 4 code ids, queries kept at
    // full precision; cross-subspace sums are decimal-exact so ADC scores
    // are order-free and engine-identical. Recall audited on a SAMPLED
    // query subset (deterministic residue qid%5==0, NULL elsewhere) so
    // the measured wall is the ADC kernel, not the O(queries·corpus)
    // brute-force verifier.
    "q117_pq_topk" -> ((s, dir) =>
      Similarity.pqTopK(Tables.embeddings(s, dir),
        col("vec_id"), col("embedding"),
        subspaces = 4, subDim = 16, seedCount = 8, iterations = 2,
        nQueries = 10, k = 5, booksIn = Some(pqBooksFrame(s, dir)),
        verifyEvery = 5)),

    // IVF-PQ (IVFADC): coarse-probe q52's shared trained cells (top-2 of
    // 8 per query), ADC-score only the probed cells' vectors with q117's
    // shared codebooks. Work per query ∝ probed fraction of the corpus —
    // the billion-scale composition of the two quantizers.
    "q118_ivfpq_topk" -> ((s, dir) =>
      Similarity.ivfPqTopK(Tables.embeddings(s, dir),
        col("vec_id"), col("embedding"), ivfCentroidsFrame(s, dir),
        subspaces = 4, subDim = 16, seedCount = 8, iterations = 2,
        probes = 2, nQueries = 10, k = 5,
        booksIn = Some(pqBooksFrame(s, dir)), verifyEvery = 5)),

    // THIRD real container parse: P5 PGM, whose header is ASCII tokens
    // with #-comments — the raster offset is only knowable by actually
    // tokenizing (the fixture plants a comment line the decoder must
    // skip). Top-down unpadded rows, every 2nd row framed; the oracle
    // recomputes frame stats from the text alone, so a mis-skipped
    // comment or off-by-one header scan hash-mismatches.
    "q120_pgm_rows" -> ((s, dir) => {
      val ascii = Tables.documents(s, dir)
        .filter(col("text").rlike("\\A[\\x00-\\x7F]*\\z"))
      val assets = Multimodal.toPgmAssets(ascii, col("doc_id"), col("text"),
        width = 24)
      Multimodal.frameByteStats(Multimodal.sampleFrames(assets,
        Multimodal.PgmRowDecoder(), everyNth = 2))
    }),

    // CCNet-style corpus-familiarity quality score, per language: the
    // fraction of a doc's bigram occurrences that are ≥3-frequent in its
    // own language's corpus — LM filtering's distributional signal with
    // integer counts and one final rounded ratio, engine-identical.
    "q121_bigram_familiarity" -> ((s, dir) =>
      TextAnalysis.bigramFamiliarity(Tables.documents(s, dir),
        col("doc_id"), col("text"), col("lang"), minCount = 3)),

    // Incremental ANN index maintenance: the assignment table IS the
    // index artifact. New vectors (odd ids) arrive as a second batch
    // assigned against the FROZEN q52 centroids (no retrain — the
    // production posture when a corpus grows) and merge in; a stale
    // replay of batch 1 with version 0 and corrupted cells must be
    // ignored by the version guard. Search runs from the STORED index
    // via readTable and must answer exactly like the one-shot build
    // (the oracle is q52's, verbatim).
    "q122_incremental_ann" -> ((s, dir) => {
      val root = scratchDir("graft-ann-inc")
      val emb = Tables.embeddings(s, dir)
      val trained = ivfCentroidsFrame(s, dir)
      val assigned = Similarity.ivfAssignCells(emb, trained,
        col("vec_id"), col("embedding"))
      val b1 = assigned.filter(pmod(col("vid"), lit(2)) === 0)
        .withColumn("ver", lit(1L))
      val b2 = assigned.filter(pmod(col("vid"), lit(2)) === 1)
        .withColumn("ver", lit(1L))
      val table = root + "/assign"
      sources.MergeWriter.mergeVersioned(s, table, b1, Seq("vid"), "ver",
        buckets = 4)
      sources.MergeWriter.mergeVersioned(s, table, b2, Seq("vid"), "ver",
        buckets = 4)
      val stale = b1.withColumn("ver", lit(0L)).withColumn("cell", lit(-1L))
      sources.MergeWriter.mergeVersioned(s, table, stale, Seq("vid"), "ver",
        buckets = 4)
      val stored = sources.MergeWriter.readTable(s, table)
        .select(col("vid"), col("vv"), col("vn"), col("cell"),
          col("centroid_cos"))
      Similarity.ivfTopKAssigned(stored, trained,
        emb.filter(col("vec_id") >= 10 && col("vec_id") < 20),
        col("vec_id"), col("embedding"), k = 3, probes = 2)
    }),

    // Cluster-density diagnostics for the dedup graph: per-node triangle
    // counts over q81's shared replica pair frame via the degree-ordered
    // orientation (each triangle found at its unique out-degree-2 apex).
    // The planted replica groups are near-complete 4-cliques, so most
    // nodes should sit in C(3,2)=3 triangles — a node with fewer marks a
    // recall miss, the exact review signal this diagnostic serves.
    "q123_pair_triangles" -> ((s, dir) =>
      Dedup.triangleCounts(replicaPairsFrame(s, dir),
        col("id_a"), col("id_b"))),

    // Centrality over the same shared pair graph: 3 PageRank iterations
    // with decimal-exact per-node sums (every iteration's rank vector is
    // bit-identical across engines — no tolerance in the compare). The
    // planted 4-cliques should surface their members at near-equal rank,
    // strictly above bridge/periphery nodes.
    "q135_pair_pagerank" -> ((s, dir) =>
      Dedup.pageRank(replicaPairsFrame(s, dir),
        col("id_a"), col("id_b"), iterations = 3)),

    // CDC-style snapshot diff: old = per-user latest state before the
    // final delivery quarter (event_id ≢ 3 mod 4) and before the newest
    // accounts existed (user_id ≢ 0 mod 17); new = the full export minus
    // churned accounts (user_id ≡ 0 mod 13). Emits only CHANGED keys —
    // inserts (new accounts), updates (newer event_type/ts), deletes
    // (churned) — the change-volume-sized frame an incremental consumer
    // wants, never the corpus.
    "q124_snapshot_diff" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      def latest(df: DataFrame) = {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id"))
          .orderBy(col("ts").desc, col("event_id").desc)
        df.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1)
          .select(col("user_id"), col("event_type"), col("ts"))
      }
      Reconcile.snapshotDiff(
        latest(ev.filter(pmod(col("event_id"), lit(4)) =!= 3 &&
          pmod(col("user_id"), lit(17)) =!= 0)), // accounts created later
        latest(ev.filter(pmod(col("user_id"), lit(13)) =!= 0)),
        Seq("user_id"), Seq("event_type", "ts"))
    }),

    // Table COMPACTION (Delta OPTIMIZE / Iceberg rewrite_data_files for
    // the manifest protocol): q84's three merge rounds fragment the table
    // across epochs; compact() rewrites every live bucket into one fresh
    // epoch — one file per bucket — and the read-back must be
    // byte-identical to the uncompacted relation (the oracle is q84's
    // verbatim). The spec asserts the physical effect (epoch count → 1);
    // this row proves the logical no-op.
    "q125_compacted_table" -> ((s, dir) => {
      val path = scratchDir("graft-compact") + "/states"
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"))
        .orderBy(col("ver").desc, col("event_id").desc)
      val ev = Tables.events(s, dir).select(col("user_id"), col("event_type"),
        col("event_id"), col("ts").cast("timestamp_ntz").as("ver"))
      def latest(src: DataFrame): DataFrame = src
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("user_id"), col("event_type"), col("ver"))
      val cut = lit("2024-01-20 00:00:00").cast("timestamp_ntz")
      sources.MergeWriter.mergeVersioned(s, path,
        latest(ev.filter(col("ver") <= cut)), Seq("user_id"), "ver",
        buckets = 8)
      sources.MergeWriter.mergeVersioned(s, path, latest(ev),
        Seq("user_id"), "ver", buckets = 8)
      sources.MergeWriter.compact(s, path)
      sources.MergeWriter.readTable(s, path)
        .select(col("user_id"), col("event_type").as("state"),
          col("ver").as("version_ts"))
    }),

    // BUCKET-SPLIT growth (OPTIMIZE-time re-binning for the manifest
    // protocol): the table outgrows its creation-time modulus
    // mid-lifecycle — created at 4 buckets, split to 8, merged, split to
    // 16, merged again. pmod(hash,2n) refines pmod(hash,n), so each
    // split rewrites files LOCALLY (no cross-bucket shuffle), and every
    // post-split merge must prune survivors under the refined modulus —
    // a stale-modulus read would silently lose keys and hash-mismatch
    // the oracle, which recomputes the latest-per-user relation from
    // raw events.
    "q146_bucket_split" -> ((s, dir) => {
      val path = scratchDir("graft-split") + "/states"
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"))
        .orderBy(col("ver").desc, col("event_id").desc)
      val ev = Tables.events(s, dir).select(col("user_id"), col("event_type"),
        col("event_id"), col("ts").cast("timestamp_ntz").as("ver"))
      def latest(src: DataFrame): DataFrame = src
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("user_id"), col("event_type"), col("ver"))
      val cut1 = lit("2024-01-10 00:00:00").cast("timestamp_ntz")
      val cut2 = lit("2024-01-20 00:00:00").cast("timestamp_ntz")
      sources.MergeWriter.mergeVersioned(s, path,
        latest(ev.filter(col("ver") <= cut1)), Seq("user_id"), "ver",
        buckets = 4)
      sources.MergeWriter.splitBuckets(s, path, Seq("user_id"))
      sources.MergeWriter.mergeVersioned(s, path,
        latest(ev.filter(col("ver") <= cut2)), Seq("user_id"), "ver")
      sources.MergeWriter.splitBuckets(s, path, Seq("user_id"))
      sources.MergeWriter.mergeVersioned(s, path, latest(ev),
        Seq("user_id"), "ver")
      sources.MergeWriter.readTable(s, path)
        .select(col("user_id"), col("event_type").as("state"),
          col("ver").as("version_ts"))
    }),

    // CROSS-TABLE ATOMIC COMMIT (the reference's one-txn L1 load: states
    // upsert + custom-field replace in one transaction,
    // state_load_processor_aurora.ts:39-113): two incremental rounds
    // load a states member AND a customFields member through mergeGroup —
    // both flip in ONE group-manifest rename — then a redelivered batch
    // carrying REGRESSED data must be skipped by the group txn ledger.
    // Output joins both members, so a torn or double-applied load on
    // either side hash-mismatches the oracle (which recomputes both
    // relations from raw events).
    "q147_group_commit" -> ((s, dir) => {
      val path = scratchDir("graft-group") + "/load"
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"))
        .orderBy(col("ver").desc, col("event_id").desc)
      val ev = Tables.events(s, dir).select(col("user_id"), col("event_type"),
        col("event_id"), col("ts").cast("timestamp_ntz").as("ver"))
      def latest(src: DataFrame): DataFrame = src
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("user_id"), col("event_type"), col("ver"))
      def fields(src: DataFrame): DataFrame = {
        val agg = src.groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_events"),
            countDistinct(col("event_type")).as("n_types"))
        agg.select(col("user_id"), lit("n_events").as("name"),
            col("n_events").as("value"))
          .unionByName(agg.select(col("user_id"), lit("n_types").as("name"),
            col("n_types").as("value")))
      }
      def load(src: DataFrame, v: Long): Unit =
        sources.MergeWriter.mergeGroup(s, path, Seq(
          ("states", latest(src), Seq("user_id")),
          ("customFields", fields(src), Seq("user_id"))),
          buckets = 8, txn = Some(("l1", v)))
      val cut = lit("2024-01-20 00:00:00").cast("timestamp_ntz")
      load(ev.filter(col("ver") <= cut), 1L)
      load(ev, 2L)
      // at-least-once redelivery of batch 2 with corrupted content: the
      // group ledger must skip it wholesale (both members or neither)
      sources.MergeWriter.mergeGroup(s, path, Seq(
        ("states", latest(ev).withColumn("event_type", lit("REGRESSED")),
          Seq("user_id")),
        ("customFields", fields(ev).withColumn("value", lit(-1L)),
          Seq("user_id"))),
        buckets = 8, txn = Some(("l1", 2L)))
      sources.MergeWriter.readGroupTable(s, path, "states")
        .select(col("user_id"), col("event_type").as("state"),
          col("ver").as("version_ts"))
        .join(sources.MergeWriter.readGroupTable(s, path, "customFields"),
          Seq("user_id"))
        .select(col("user_id"), col("state"), col("version_ts"),
          col("name"), col("value"))
    }),

    // TIME TRAVEL: after the incremental round commits version 2, a read
    // pinned AS OF version 1 must still see exactly the round-1 table —
    // epoch immutability + KeepManifests retention make the pin stable
    // across the newer commit (Delta VERSION AS OF / Iceberg snapshot
    // reads for the manifest protocol). The oracle recomputes round 1's
    // cutoff relation from the raw events.
    "q126_time_travel" -> ((s, dir) => {
      val path = scratchDir("graft-travel") + "/states"
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"))
        .orderBy(col("ver").desc, col("event_id").desc)
      val ev = Tables.events(s, dir).select(col("user_id"), col("event_type"),
        col("event_id"), col("ts").cast("timestamp_ntz").as("ver"))
      def latest(src: DataFrame): DataFrame = src
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("user_id"), col("event_type"), col("ver"))
      val cut = lit("2024-01-20 00:00:00").cast("timestamp_ntz")
      sources.MergeWriter.mergeVersioned(s, path,
        latest(ev.filter(col("ver") <= cut)), Seq("user_id"), "ver",
        buckets = 8)
      sources.MergeWriter.mergeVersioned(s, path, latest(ev),
        Seq("user_id"), "ver", buckets = 8)
      sources.MergeWriter.readTableVersion(s, path, version = 1L)
        .select(col("user_id"), col("event_type").as("state"),
          col("ver").as("version_ts"))
    }),

    // Keyed POINT-LOOKUP on the stored state table: resolve the wanted
    // keys' buckets from the manifest and scan only those directories —
    // k keys read ≤ k buckets regardless of table size (partition
    // pruning for key predicates; the point-read/table-read gap at
    // 100 TB). Lookup set = users ≡ 1 (mod 50) plus two absent ids that
    // must prune to nothing, not error.
    "q138_keyed_lookup" -> ((s, dir) => {
      val path = scratchDir("graft-lookup") + "/states"
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"))
        .orderBy(col("ver").desc, col("event_id").desc)
      val ev = Tables.events(s, dir).select(col("user_id"), col("event_type"),
        col("event_id"), col("ts").cast("timestamp_ntz").as("ver"))
      val state = ev.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("user_id"), col("event_type"), col("ver"))
      sources.MergeWriter.merge(s, path, state, Seq("user_id"), buckets = 16)
      val wanted = ev.select(col("user_id")).distinct()
        .filter(pmod(col("user_id"), lit(50)) === 1)
        .unionByName(s.range(2).select(
          (col("id") + 2000000000L).as("user_id")))
      sources.MergeWriter.readKeys(s, path, wanted, Seq("user_id"))
        .select(col("user_id"), col("event_type").as("state"),
          col("ver").as("version_ts"))
    }),

    // PHYSICAL PURGE proven through storage: after delete +
    // truncateHistory, the union of EVERY retained version must lack the
    // churned rows — if any retained manifest still served pre-delete
    // state (the time-travel leak truncateHistory exists to close), the
    // extra rows would break the hash against the filtered oracle.
    "q142_purged_history" -> ((s, dir) => {
      val path = scratchDir("graft-purge") + "/states"
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"))
        .orderBy(col("ver").desc, col("event_id").desc)
      val ev = Tables.events(s, dir).select(col("user_id"), col("event_type"),
        col("event_id"), col("ts").cast("timestamp_ntz").as("ver"))
      val state = ev.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("user_id"), col("event_type"), col("ver"))
      sources.MergeWriter.merge(s, path, state, Seq("user_id"), buckets = 8)
      val churned = ev.select(col("user_id")).distinct()
        .filter(pmod(col("user_id"), lit(13)) === 0)
      sources.MergeWriter.delete(s, path, churned, Seq("user_id"))
      sources.MergeWriter.truncateHistory(s, path)
      sources.MergeWriter.availableVersions(s, path)
        .map(v => sources.MergeWriter.readTableVersion(s, path, v))
        .reduce(_ unionByName _).distinct()
        .select(col("user_id"), col("event_type").as("state"),
          col("ver").as("version_ts"))
    }),

    // CHANGE FEED between committed versions (Delta CDF for the manifest
    // protocol): q126's two-version build, then the keyed diff of the
    // pinned snapshots — op ∈ insert/update (no deletes here: a
    // versioned merge only adds or advances keys), old_/new_ audit
    // columns. The oracle derives both logical states from raw events
    // independently, so a wrong pinned read OR a wrong diff both fail.
    "q131_change_feed" -> ((s, dir) => {
      val path = scratchDir("graft-cdf") + "/states"
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"))
        .orderBy(col("ver").desc, col("event_id").desc)
      val ev = Tables.events(s, dir).select(col("user_id"), col("event_type"),
        col("event_id"), col("ts").cast("timestamp_ntz").as("ver"))
      def latest(src: DataFrame): DataFrame = src
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("user_id"), col("event_type"), col("ver"))
      val cut = lit("2024-01-20 00:00:00").cast("timestamp_ntz")
      sources.MergeWriter.mergeVersioned(s, path,
        latest(ev.filter(col("ver") <= cut)), Seq("user_id"), "ver",
        buckets = 8)
      sources.MergeWriter.mergeVersioned(s, path, latest(ev),
        Seq("user_id"), "ver", buckets = 8)
      sources.MergeWriter.changeFeed(s, path, fromVersion = 1L,
        toVersion = 2L, Seq("user_id"), Seq("event_type", "ver"))
    }),

    // Keyed DELETE (MERGE ... WHEN MATCHED DELETE) — T19's deleted-item
    // reconciliation driven through ACTUAL storage: load the per-user
    // state table, purge the churned accounts (q124's churn set), read
    // back. Only buckets holding a churned key are rewritten; a bucket
    // emptied entirely drops its epoch pointer. Deleting the same keys
    // again (replay) and deleting never-stored keys are both no-ops.
    "q132_keyed_delete" -> ((s, dir) => {
      val path = scratchDir("graft-delete") + "/states"
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"))
        .orderBy(col("ver").desc, col("event_id").desc)
      val ev = Tables.events(s, dir).select(col("user_id"), col("event_type"),
        col("event_id"), col("ts").cast("timestamp_ntz").as("ver"))
      val state = ev.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("user_id"), col("event_type"), col("ver"))
      sources.MergeWriter.merge(s, path, state, Seq("user_id"), buckets = 8)
      val churned = ev.select(col("user_id")).distinct()
        .filter(pmod(col("user_id"), lit(13)) === 0)
      sources.MergeWriter.delete(s, path, churned, Seq("user_id"))
      // replay + never-stored keys: both must leave the table unchanged
      sources.MergeWriter.delete(s, path, churned, Seq("user_id"))
      sources.MergeWriter.delete(s, path,
        churned.select((col("user_id") + 1000000000L).as("user_id")),
        Seq("user_id"))
      sources.MergeWriter.readTable(s, path)
        .select(col("user_id"), col("event_type").as("state"),
          col("ver").as("version_ts"))
    }),

    // Exactly-once INCREMENTAL ROLLUP: the hourly event-count table is
    // maintained by folding delta batches in (mergeAdditive), never by
    // recomputing the corpus — the pattern that keeps a 100 TB metrics
    // table maintainable. Additive merges are not naturally idempotent,
    // so each batch carries a (appId, version) txn recorded in the same
    // atomic manifest commit as the data; the deliberate redelivery of
    // batch 2 must be skipped — a double-fold would double-count and
    // hash-mismatch the oracle, which aggregates all events one-shot.
    "q127_incremental_rollup" -> ((s, dir) => {
      val path = scratchDir("graft-rollup") + "/hourly"
      val ev = Tables.events(s, dir)
      def delta(r: Int) = ev.filter(pmod(col("event_id"), lit(3)) === r)
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events"))
      def fold(r: Int, v: Long) = sources.MergeWriter.mergeAdditive(s, path,
        delta(r), Seq("hour", "event_type"), Seq("n_events"),
        txn = ("ingest", v), buckets = 8)
      fold(0, 1L)
      fold(1, 2L)
      fold(1, 2L) // at-least-once redelivery — must not double-count
      fold(2, 3L)
      sources.MergeWriter.readTable(s, path)
    }),

    // TXN-LEDGER EXPIRY (Delta's transaction-identifier retention made
    // explicit): the additive rollup's writer app is decommissioned and
    // expireTxns drops its ledger entry — the one manifest term that
    // grows unboundedly over a table's life (PROTOCOL.md "Manifest
    // growth"). Before expiry a replay must skip (ledger live); after
    // expiry the documented cost is that a ghost redelivery re-applies:
    // the oracle counts batch-1 events (event_id ≡ 1 mod 3) exactly
    // twice and everything else once, so BOTH a wrongly-skipped and a
    // wrongly-double-applied path hash-mismatch.
    "q148_txn_expiry" -> ((s, dir) => {
      val path = scratchDir("graft-txnexp") + "/hourly"
      val ev = Tables.events(s, dir)
      def delta(r: Int) = ev.filter(pmod(col("event_id"), lit(3)) === r)
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events"))
      def fold(r: Int, v: Long) = sources.MergeWriter.mergeAdditive(s, path,
        delta(r), Seq("hour", "event_type"), Seq("n_events"),
        txn = ("ingest", v), buckets = 8)
      fold(0, 1L)
      fold(1, 2L)
      fold(1, 2L) // ledger live: replay skipped
      fold(2, 3L)
      sources.MergeWriter.expireTxns(s, path, Seq("ingest"))
      fold(1, 2L) // ledger expired: ghost redelivery re-applies batch 1
      sources.MergeWriter.readTable(s, path)
    }),

    // Z-ORDER clustering (Delta's OPTIMIZE ZORDER BY for the manifest
    // protocol): events merge-maintained keyed on event_id, clustered
    // on the Morton interleave of (user_id, ts) — per-file stats then
    // prune BOTH the user-window file set and the date-window file
    // set, where a linear sort narrows only its first column. The
    // query is the per-user activity panel shape: one user cohort,
    // one time window, daily counts. Residual filters keep results
    // exact, so plain SQL is the oracle.
    // CLUSTERING RETROFIT (Delta's OPTIMIZE ... ZORDER BY as a verb,
    // not a creation-time choice): the table is created UNCLUSTERED —
    // bytes-only stats, so its range reads open every file — then
    // clusterTable rewrites it under a ts sort, records the spec and
    // full per-file stats, and the same window read prunes. The query
    // answers from the POST-retrofit pruned read; correctness = the
    // plain filtered aggregate over raw events.
    "q163_cluster_retrofit" -> ((s, dir) => {
      val path = scratchDir("graft-retrofit") + "/events"
      val ev = Tables.events(s, dir).select(col("event_id"), col("user_id"),
        col("event_type"), col("ts").cast("timestamp_ntz").as("ts"))
      val prev = s.conf.getOption("spark.sql.files.maxRecordsPerFile")
      s.conf.set("spark.sql.files.maxRecordsPerFile", "2048")
      try {
        sources.MergeWriter.merge(s, path, ev, Seq("event_id"), buckets = 8)
        sources.MergeWriter.clusterTable(s, path, Seq("ts"))
      } finally prev match {
        case Some(v) => s.conf.set("spark.sql.files.maxRecordsPerFile", v)
        case None => s.conf.unset("spark.sql.files.maxRecordsPerFile")
      }
      sources.MergeWriter.readTableRange(s, path, "ts",
          lower = Some("2024-01-10 00:00:00"),
          upper = Some("2024-01-19 23:59:59.999999"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"))
    }),

    // N-DIMENSIONAL Z-ORDER (zorderN:a,b,c): three independent query
    // dimensions share one layout — each file covers a small BOX of
    // (user, type-length, time), so the 3-D rectangle read prunes on
    // every axis where 1-D clustering narrows only its sort column.
    "q164_zorder3_scan" -> ((s, dir) => {
      val path = scratchDir("graft-z3") + "/events"
      val ev = Tables.events(s, dir).select(col("event_id"), col("user_id"),
        col("event_type"), length(col("event_type")).cast("long").as("tlen"),
        col("ts").cast("timestamp_ntz").as("ts"))
      val prev = s.conf.getOption("spark.sql.files.maxRecordsPerFile")
      s.conf.set("spark.sql.files.maxRecordsPerFile", "2048")
      try {
        sources.MergeWriter.merge(s, path, ev, Seq("event_id"), buckets = 8,
          clusterBy = Seq("zorderN:user_id,tlen,ts"))
      } finally prev match {
        case Some(v) => s.conf.set("spark.sql.files.maxRecordsPerFile", v)
        case None => s.conf.unset("spark.sql.files.maxRecordsPerFile")
      }
      sources.MergeWriter.readTableWhere(s, path, Seq(
          sources.MergeWriter.ColumnRange("user_id",
            Some(40L), Some(89L)),
          sources.MergeWriter.ColumnRange("tlen", Some(4L), Some(5L)),
          sources.MergeWriter.ColumnRange("ts",
            Some("2024-01-05 00:00:00"),
            Some("2024-01-24 23:59:59.999999"))))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"))
    }),

    // FINGERPRINT CHANGE FEED (file granularity inside a changed
    // bucket): the table records a per-file content fingerprint, a
    // sparse second load touches ~0.1% of keys, and the feed between
    // the two versions must be exactly that delta — while reading only
    // the repacked files, not the rewritten buckets (the spec and
    // BENCH_SCALE fpfeed10 carry the file-count evidence; this row
    // carries the CORRECTNESS against the oracle's recomputed diff).
    "q166_fp_change_feed" -> ((s, dir) => {
      val path = scratchDir("graft-fpfeed") + "/events"
      val ev = Tables.events(s, dir).select(col("event_id"), col("user_id"),
        col("event_type"), col("ts").cast("timestamp_ntz").as("ts"))
      val prev = s.conf.getOption("spark.sql.files.maxRecordsPerFile")
      s.conf.set("spark.sql.files.maxRecordsPerFile", "2048")
      try {
        sources.MergeWriter.merge(s, path, ev, Seq("event_id"), buckets = 4,
          clusterBy = Seq("event_id"), fingerprint = true)
        val v1 = sources.MergeWriter.availableVersions(s, path).last
        // sparse touch: flip event_type for event_id ≡ 7 (mod 1000),
        // plus three brand-new ids past the domain
        val touched = ev.filter(pmod(col("event_id"), lit(1000)) === 7)
          .withColumn("event_type", lit("touched"))
        val fresh = ev.filter(col("event_id") < 3).select(
          (col("event_id") + lit(100000000L)).as("event_id"),
          col("user_id"), lit("fresh").as("event_type"), col("ts"))
        sources.MergeWriter.merge(s, path, touched.unionByName(fresh),
          Seq("event_id"))
        val v2 = sources.MergeWriter.availableVersions(s, path).last
        sources.MergeWriter.changeFeed(s, path, v1, v2,
            Seq("event_id"), Seq("event_type"))
          .select(col("event_id"), col("op"),
            col("old_event_type"), col("new_event_type"))
      } finally prev match {
        case Some(v) => s.conf.set("spark.sql.files.maxRecordsPerFile", v)
        case None => s.conf.unset("spark.sql.files.maxRecordsPerFile")
      }
    }),

    // SQL MERGE INTO (delta-based DSv2 row-level ops,
    // GraftRowLevelOperation): the reference's bulkCreate-with-
    // updateOnDuplicate shape (`vc_data.ts:198-222`) as one ANSI MERGE
    // statement — conditional delete, update, and insert clauses land
    // in ONE manifest commit, rewriting only buckets holding changed
    // keys.
    "q167_sql_merge" -> ((s, dir) => {
      val n = sqlCatSeq.incrementAndGet()
      val cat = s"gsqlcat$n"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse",
        scratchDir("graft-sqlmerge"))
      Tables.events(s, dir).select(col("event_id"), col("user_id"),
          col("event_type"), col("ts").cast("timestamp_ntz").as("ts"))
        .createOrReplaceTempView(s"mrg_src_$n")
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.etl")
      s.sql(s"""CREATE TABLE $cat.etl.m (
        event_id BIGINT, user_id BIGINT, event_type STRING,
        ts TIMESTAMP_NTZ)
        TBLPROPERTIES ('keys'='event_id','buckets'='8')""")
      s.sql(s"INSERT INTO $cat.etl.m " +
        s"SELECT * FROM mrg_src_$n WHERE event_id % 2 = 0")
      s.sql(s"""
        MERGE INTO $cat.etl.m t
        USING (SELECT * FROM mrg_src_$n WHERE event_id % 3 = 0) s
        ON t.event_id = s.event_id
        WHEN MATCHED AND s.event_type = 'view' THEN DELETE
        WHEN MATCHED THEN UPDATE SET
          event_type = concat('m_', s.event_type),
          user_id = t.user_id + 100000
        WHEN NOT MATCHED THEN INSERT (event_id, user_id, event_type, ts)
          VALUES (s.event_id, s.user_id, s.event_type, s.ts)""")
      s.sql(s"""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(user_id) AS BIGINT) AS sum_uid
        FROM $cat.etl.m GROUP BY event_type""")
    }),

    // SQL UPDATE + row-level DELETE (same DSv2 path): Sequelize's
    // `update(attrs, {where})` (`project_aurora.ts:64`) as ANSI UPDATE
    // with expression assignments, then a DELETE whose predicate no
    // metadata delete can translate (arithmetic across two columns) —
    // it falls through to the delta-based row-level plan instead of
    // erroring. The DELETE's predicate reads post-UPDATE values,
    // proving statement-ordered visibility across the two commits.
    "q168_sql_update" -> ((s, dir) => {
      val n = sqlCatSeq.incrementAndGet()
      val cat = s"gsqlcat$n"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse",
        scratchDir("graft-sqlupdate"))
      Tables.events(s, dir).select(col("event_id"), col("user_id"),
          col("event_type"), col("ts").cast("timestamp_ntz").as("ts"))
        .createOrReplaceTempView(s"upd_src_$n")
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.etl")
      s.sql(s"""CREATE TABLE $cat.etl.u (
        event_id BIGINT, user_id BIGINT, event_type STRING,
        ts TIMESTAMP_NTZ)
        TBLPROPERTIES ('keys'='event_id','buckets'='8')""")
      s.sql(s"INSERT INTO $cat.etl.u SELECT * FROM upd_src_$n")
      s.sql(s"""UPDATE $cat.etl.u SET
        user_id = user_id + 1000000, event_type = upper(event_type)
        WHERE event_type = 'purchase' AND (user_id + event_id) % 7 = 0""")
      s.sql(s"DELETE FROM $cat.etl.u " +
        "WHERE (user_id * 31 + event_id) % 13 = 0")
      s.sql(s"""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(user_id) AS BIGINT) AS sum_uid
        FROM $cat.etl.u GROUP BY event_type""")
    }),

    // ATOMIC CTAS + RTAS (StagingTableCatalog): a table born from a
    // query in one all-or-nothing statement, then REPLACEd by a second
    // definition — the prior version stays time-travel readable, and
    // the final SELECT unions both generations' views to prove the
    // replace swapped content AND the history survived.
    "q170_sql_ctas" -> ((s, dir) => {
      val n = sqlCatSeq.incrementAndGet()
      val cat = s"gsqlcat$n"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse",
        scratchDir("graft-sqlctas"))
      Tables.events(s, dir).select(col("event_id"), col("user_id"),
          col("event_type"), col("ts").cast("timestamp_ntz").as("ts"))
        .createOrReplaceTempView(s"ctas_src_$n")
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.etl")
      s.sql(s"""CREATE TABLE $cat.etl.c TBLPROPERTIES ('keys'='event_id')
        AS SELECT event_id, user_id, event_type FROM ctas_src_$n""")
      val v1 = sources.MergeWriter.describeTable(s,
        s.conf.get(s"spark.sql.catalog.$cat.warehouse") + "/etl/c")
        .collect().head.getAs[Long]("version")
      s.sql(s"""REPLACE TABLE $cat.etl.c TBLPROPERTIES ('keys'='event_id')
        AS SELECT event_id, user_id, event_type FROM ctas_src_$n
        WHERE event_type <> 'view'""")
      s.sql(s"""
        SELECT 'replaced' AS gen, event_type,
          CAST(COUNT(*) AS BIGINT) AS n
        FROM $cat.etl.c GROUP BY event_type
        UNION ALL
        SELECT 'original' AS gen, event_type,
          CAST(COUNT(*) AS BIGINT) AS n
        FROM $cat.etl.c VERSION AS OF $v1 GROUP BY event_type""")
    }),

    // CATALOG SCALAR FUNCTIONS (DSv2 FunctionCatalog): the engine's
    // custom Catalyst kernels callable from pure SQL — here the rolling
    // codepoint fingerprint (T-family document fingerprinting) banding
    // the corpus, cross-checked bit-exactly against DuckDB's own
    // list_reduce fold. Binds through the null-safe produceResult
    // contract (NULL in → NULL out, like every builtin).
    "q169_sql_functions" -> ((s, dir) => {
      val n = sqlCatSeq.incrementAndGet()
      val cat = s"gsqlcat$n"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse",
        scratchDir("graft-sqlfn"))
      Tables.documents(s, dir).createOrReplaceTempView(s"fn_docs_$n")
      s.sql(s"""WITH fp AS (
        SELECT $cat.system.fingerprint64(text, 1000000007) AS fp
        FROM fn_docs_$n)
        SELECT pmod(fp, 16) AS band, CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(MAX(fp) AS BIGINT) AS max_fp
        FROM fp GROUP BY pmod(fp, 16)""")
    }),

    // CROSS-COLUMN OR SKIPPING (the reference's reingest shape — a date
    // window OR an explicit id set, `extract_states_handler.ts`'s CTE
    // union): a top-level OR prunes as the UNION of its branches' file
    // sets, where round 9 read the whole table for any OR that wasn't a
    // same-column value list. Runs through plain SQL over the
    // format("graft") relation, so the pruning path is the Catalyst
    // translation, not a storage-API call.
    "q165_or_skip_scan" -> ((s, dir) => {
      val path = scratchDir("graft-orskip") + "/events"
      val ev = Tables.events(s, dir).select(col("event_id"), col("user_id"),
        col("event_type"), col("ts").cast("timestamp_ntz").as("ts"))
      val prev = s.conf.getOption("spark.sql.files.maxRecordsPerFile")
      s.conf.set("spark.sql.files.maxRecordsPerFile", "2048")
      try {
        sources.MergeWriter.merge(s, path, ev, Seq("event_id"), buckets = 8,
          clusterBy = Seq("zorder2:user_id,ts"))
      } finally prev match {
        case Some(v) => s.conf.set("spark.sql.files.maxRecordsPerFile", v)
        case None => s.conf.unset("spark.sql.files.maxRecordsPerFile")
      }
      s.read.format("graft").load(path)
        .where((col("ts") >= lit("2024-01-25 00:00:00").cast("timestamp_ntz")
            && col("ts") <= lit("2024-01-27 23:59:59.999999")
              .cast("timestamp_ntz"))
          || col("event_id").isin(10L, 11L, 12L, 13L))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"), min(col("ts")).as("first_ts"))
    }),

    "q153_zorder_scan" -> ((s, dir) => {
      val path = scratchDir("graft-zorder") + "/events"
      val ev = Tables.events(s, dir).select(col("event_id"), col("user_id"),
        col("event_type"), col("ts").cast("timestamp_ntz").as("ts"))
      val prev = s.conf.getOption("spark.sql.files.maxRecordsPerFile")
      s.conf.set("spark.sql.files.maxRecordsPerFile", "2048")
      try {
        sources.MergeWriter.merge(s, path, ev, Seq("event_id"), buckets = 8,
          clusterBy = Seq("zorder2:user_id,ts"))
      } finally prev match {
        case Some(v) => s.conf.set("spark.sql.files.maxRecordsPerFile", v)
        case None => s.conf.unset("spark.sql.files.maxRecordsPerFile")
      }
      // AND-of-ranges skipping: a file survives only if its stats admit
      // BOTH the user window and the date window — with the Morton
      // layout the opened set approaches the query rectangle
      sources.MergeWriter.readTableWhere(s, path, Seq(
          sources.MergeWriter.ColumnRange("user_id",
            Some(100L), Some(149L)),
          sources.MergeWriter.ColumnRange("ts",
            Some("2024-01-10 00:00:00"),
            Some("2024-01-19 23:59:59.999999"))))
        .groupBy(col("user_id"), col("ts").cast("date").as("day"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("event_type")).as("n_types"))
    }),

    // A1 × STORAGE: the dashboard CFD computed from a merge-maintained,
    // date-clustered snapshot store through the data-skipping range
    // read — the exact 100 TB shape of ref `calculate_cfd.sql:8-16`
    // (a `flomatikaSnapshotDate BETWEEN` window over snapshots, which
    // the reference serves from a covering index): only files whose
    // recorded ts range intersects the 30-day window are opened, then
    // the same CFD operator as q05 runs on the window.
    "q154_cfd_window" -> ((s, dir) => {
      val path = scratchDir("graft-cfdwin") + "/snapshots"
      val ev = Tables.events(s, dir).select(col("event_id"), col("user_id"),
        col("event_type"), col("ts").cast("timestamp_ntz").as("ts"))
      val prev = s.conf.getOption("spark.sql.files.maxRecordsPerFile")
      s.conf.set("spark.sql.files.maxRecordsPerFile", "2048")
      try {
        sources.MergeWriter.merge(s, path, ev, Seq("event_id"), buckets = 8,
          clusterBy = Seq("ts"))
      } finally prev match {
        case Some(v) => s.conf.set("spark.sql.files.maxRecordsPerFile", v)
        case None => s.conf.unset("spark.sql.files.maxRecordsPerFile")
      }
      val window = sources.MergeWriter.readTableRange(s, path, "ts",
        lower = Some("2024-01-10 00:00:00"),
        upper = Some("2024-02-08 23:59:59.999999"))
      Cfd.cfd(window, col("event_type"), to_date(col("ts")),
        Seq("purchase"))
    }),

    // INCREMENTAL CONSUMER (Delta CDF's downstream-sync loop for the
    // manifest protocol): a replica table follows the source through
    // THREE source commits — seed from a pinned snapshot, then apply
    // the change feed version-by-version (upsert new images, delete
    // deletes) — reading change volume, never the corpus. The final
    // round is the reference's deleted-item reconciliation (T19
    // written through the storage layer); the replica must land exactly
    // on the source's final state, which the oracle recomputes from raw
    // events.
    "q152_replica_sync" -> ((s, dir) => {
      val root = scratchDir("graft-replica")
      val src = root + "/src"
      val rep = root + "/replica"
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"))
        .orderBy(col("ver").desc, col("event_id").desc)
      val ev = Tables.events(s, dir).select(col("user_id"), col("event_type"),
        col("event_id"), col("ts").cast("timestamp_ntz").as("ver"))
      def latest(srcF: DataFrame): DataFrame = srcF
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("user_id"), col("event_type").as("state"),
          col("ver").as("version_ts"))
      val keys = Seq("user_id")
      val cols = Seq("state", "version_ts")
      val cut = lit("2024-01-20 00:00:00").cast("timestamp_ntz")
      // the consumer's cursor-advance loop with its crash-safe persisted
      // cursor: first call seeds from the pinned snapshot, later calls
      // apply each new version's feed (idempotent, at-least-once safe)
      def sync(): Long =
        sources.MergeWriter.syncReplica(s, src, rep, keys, cols, buckets = 8)
      sources.MergeWriter.merge(s, src,
        latest(ev.filter(col("ver") <= cut)), keys, buckets = 8)
      sync() // seeds the replica
      sources.MergeWriter.merge(s, src, latest(ev), keys)
      sync()
      // deleted-item reconciliation round: users ≡ 0 (mod 7) vanish
      sources.MergeWriter.delete(s, src,
        latest(ev).filter(pmod(col("user_id"), lit(7)) === 0)
          .select(col("user_id")), keys)
      sync()
      sources.MergeWriter.readTable(s, rep)
        .select(col("user_id"), col("state"), col("version_ts"))
    }),

    // T21 — mock-data date refresh, weekly shape (ref
    // `date_update_utils.ts:143-162` updateThroughput: re-pin the weekly
    // run chart so its last week is the current ISO week). The refresh
    // instant is a parameter (2026-08-12), so the shift is deterministic
    // and the oracle replays the same arithmetic in SQL.
    "q150_mock_week_shift" -> ((s, dir) => {
      val today = lit("2026-08-12").cast("date")
      val weekly = Tables.events(s, dir)
        .groupBy(date_trunc("week", col("ts")).cast("date")
          .as("week_starting"))
        .agg(count(lit(1)).as("n_events"))
      operators.MockDataShift.shiftWeeks(weekly, "week_starting",
          Seq("week_starting"), today)
        .select(col("week_starting"),
          year(col("week_starting")).as("yr"),
          weekofyear(col("week_starting")).as("week_num"),
          col("n_events"))
    }),

    // T21 — mock-data date refresh, day-anchored scatter shape (ref
    // `date_update_utils.ts:115-128` updateLeadTime: shift every item's
    // arrival/commitment/departure so the series ends today; items
    // without a commitment event keep NULL through the shift).
    "q151_mock_scatter_shift" -> ((s, dir) => {
      val today = lit("2026-08-12").cast("date")
      val scatter = Tables.events(s, dir).groupBy(col("user_id"))
        .agg(min(col("ts").cast("date")).as("arrival"),
          min(when(col("event_type") === "click", col("ts").cast("date")))
            .as("commitment"),
          max(col("ts").cast("date")).as("departure"))
      operators.MockDataShift.shiftDays(scatter, "departure",
        Seq("arrival", "commitment", "departure"), today)
    }),

    // DATA SKIPPING (Delta's per-file stats pruning / Iceberg's manifest
    // min/max metrics, on the manifest protocol): lineitem is
    // merge-maintained CLUSTERED on l_shipdate — each bucket's rows are
    // locally sorted and maxRecordsPerFile splits them into
    // range-disjoint files whose footer min/max ride the manifest — and
    // two incremental merges keep the stats live across rewrites. The
    // CFD-shaped date-window read (ref `calculate_cfd.sql:8-16` scans
    // exactly such a window over snapshots) then opens ONLY files whose
    // recorded range intersects the quarter: I/O proportional to the
    // matched range, not the table, which at 100 TB is the difference
    // between a dashboard query and a full scan. The residual filter
    // keeps results exact, so plain SQL is the oracle.
    "q149_range_scan" -> ((s, dir) => {
      val path = scratchDir("graft-skip") + "/lineitem"
      val li = Tables.lineitem(s, dir).select(
        col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"), col("l_shipdate"))
      val prev = s.conf.getOption("spark.sql.files.maxRecordsPerFile")
      s.conf.set("spark.sql.files.maxRecordsPerFile", "2048")
      try {
        sources.MergeWriter.merge(s, path,
          li.filter(pmod(col("l_orderkey"), lit(2)) === 0),
          Seq("l_orderkey", "l_linenumber"), buckets = 8,
          clusterBy = Seq("l_shipdate"))
        sources.MergeWriter.merge(s, path,
          li.filter(pmod(col("l_orderkey"), lit(2)) === 1),
          Seq("l_orderkey", "l_linenumber"))
      } finally prev match {
        case Some(v) => s.conf.set("spark.sql.files.maxRecordsPerFile", v)
        case None => s.conf.unset("spark.sql.files.maxRecordsPerFile")
      }
      sources.MergeWriter.readTableRange(s, path, "l_shipdate",
          lower = Some("1995-01-01 00:00:00"),
          upper = Some("1995-03-31 23:59:59.999999"))
        .groupBy(col("l_shipdate").cast("date").as("ship_day"))
        .agg(count(lit(1)).as("n_items"),
          graft.functions.exactSum(col("l_quantity"), 2).as("sum_qty"),
          graft.functions.exactSum(col("l_extendedprice"), 2).as("sum_price"))
    }),

    // BLOOM-INDEX POINT READ over storage: lineitem merge-maintained
    // keyed (l_orderkey, l_linenumber) and DATE-clustered, with per-file
    // Bloom sidecars on the scattered FK pair (l_partkey, l_suppkey) —
    // the reference's secondary btree (`sql/full_ddl.sql:1189-1199`
    // indexes snapshots by workItemId regardless of physical order)
    // re-expressed for immutable files: on a date-clustered table every
    // file's [min,max] spans the whole FK domain, so min/max stats can
    // never skip an FK equality — the sidecar filter proves per-file
    // absence instead. The probe ("line items of part P from supplier
    // S") reads only the files that might hold the pair.
    "q155_bloom_point_read" -> ((s, dir) => {
      val path = scratchDir("graft-bloomq") + "/lineitem"
      val li = Tables.lineitem(s, dir).select(
        col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_suppkey"), col("l_quantity"), col("l_extendedprice"),
        col("l_shipdate"))
      val prev = s.conf.getOption("spark.sql.files.maxRecordsPerFile")
      s.conf.set("spark.sql.files.maxRecordsPerFile", "2048")
      try {
        sources.MergeWriter.merge(s, path,
          li.filter(pmod(col("l_orderkey"), lit(2)) === 0),
          Seq("l_orderkey", "l_linenumber"), buckets = 8,
          clusterBy = Seq("l_shipdate"),
          bloomBy = Seq("l_partkey", "l_suppkey"), bloomItems = 4096)
        sources.MergeWriter.merge(s, path,
          li.filter(pmod(col("l_orderkey"), lit(2)) === 1),
          Seq("l_orderkey", "l_linenumber"))
      } finally prev match {
        case Some(v) => s.conf.set("spark.sql.files.maxRecordsPerFile", v)
        case None => s.conf.unset("spark.sql.files.maxRecordsPerFile")
      }
      val pick = li.orderBy(col("l_orderkey"), col("l_linenumber"))
        .select(col("l_partkey"), col("l_suppkey")).first()
      sources.MergeWriter.readTableWhere(s, path, Seq(
        sources.MergeWriter.ColumnRange("l_partkey",
          Some(pick.getLong(0)), Some(pick.getLong(0))),
        sources.MergeWriter.ColumnRange("l_suppkey",
          Some(pick.getLong(1)), Some(pick.getLong(1)))))
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity"), col("l_extendedprice"))
    }),

    // IN-LIST SKIPPING READ: orders merge-maintained keyed o_orderkey,
    // date-clustered, Bloom'd on the FK o_custkey; the probe is the
    // reference's reingest/deleted-item shape — "rows of THESE ids"
    // (`extract_states_handler.ts:191-235` builds exactly an id-set
    // query) — served as an any-of stats∧bloom file skip instead of a
    // full scan.
    "q156_inlist_scan" -> ((s, dir) => {
      val path = scratchDir("graft-inq") + "/orders"
      val od = Tables.orders(s, dir).select(
        col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), col("o_orderdate"))
      val prev = s.conf.getOption("spark.sql.files.maxRecordsPerFile")
      s.conf.set("spark.sql.files.maxRecordsPerFile", "2048")
      try sources.MergeWriter.merge(s, path, od, Seq("o_orderkey"),
        buckets = 8, clusterBy = Seq("o_orderdate"),
        bloomBy = Seq("o_custkey"), bloomItems = 4096)
      finally prev match {
        case Some(v) => s.conf.set("spark.sql.files.maxRecordsPerFile", v)
        case None => s.conf.unset("spark.sql.files.maxRecordsPerFile")
      }
      val picks = od.select(col("o_custkey")).distinct()
        .orderBy(col("o_custkey")).limit(3)
        .collect().map(_.getLong(0)).toSeq
      sources.MergeWriter.readTableWhere(s, path, Seq(
        sources.MergeWriter.ColumnIn("o_custkey", picks)))
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"),
          graft.functions.exactSum(col("o_totalprice"), 2).as("sum_price"))
    }),

    // THE TABLE AS A SPARK DATA SOURCE: the same date-clustered
    // merge-maintained lineitem as q149, but read through
    // `spark.read.format("graft")` — the scan plans on Spark's native
    // vectorized parquet file source while the FILE LISTING comes from
    // the pinned manifest (GraftFileIndex): Catalyst pushes the WHERE
    // down to `FileIndex.listFiles`, which prunes files on the per-file
    // min/max stats exactly like readTableWhere, and the residual
    // predicate still reaches the parquet row-group reader
    // (PushedFilters). Delta Lake's architecture (custom FileIndex
    // under HadoopFsRelation), on the graft manifest protocol — plain
    // DataFrame/SQL users get data skipping with no storage-API calls.
    "q157_catalyst_table_scan" -> ((s, dir) => {
      val path = scratchDir("graft-sqlfmt") + "/lineitem"
      val li = Tables.lineitem(s, dir).select(
        col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"), col("l_shipdate"))
      val prev = s.conf.getOption("spark.sql.files.maxRecordsPerFile")
      s.conf.set("spark.sql.files.maxRecordsPerFile", "2048")
      try {
        sources.MergeWriter.merge(s, path,
          li.filter(pmod(col("l_orderkey"), lit(2)) === 0),
          Seq("l_orderkey", "l_linenumber"), buckets = 8,
          clusterBy = Seq("l_shipdate"))
        sources.MergeWriter.merge(s, path,
          li.filter(pmod(col("l_orderkey"), lit(2)) === 1),
          Seq("l_orderkey", "l_linenumber"))
      } finally prev match {
        case Some(v) => s.conf.set("spark.sql.files.maxRecordsPerFile", v)
        case None => s.conf.unset("spark.sql.files.maxRecordsPerFile")
      }
      s.read.format("graft").load(path)
        .where(col("l_shipdate") >= lit("1995-01-01 00:00:00") &&
          col("l_shipdate") <= lit("1995-03-31 23:59:59.999999"))
        .groupBy(col("l_shipdate").cast("date").as("ship_day"))
        .agg(count(lit(1)).as("n_items"),
          graft.functions.exactSum(col("l_quantity"), 2).as("sum_qty"),
          graft.functions.exactSum(col("l_extendedprice"), 2).as("sum_price"))
    }),

    // STREAMING CHANGE-FEED TAIL (Delta's streaming CDF source):
    // `spark.readStream.format("graft")` tails a merge table's commit
    // log — offsets are manifest versions; each micro-batch is the
    // keyed diff between the last-seen and newest committed versions
    // (op ∈ insert/update/delete with old_/new_ audit columns), the
    // initial batch the full snapshot as inserts. Three commits drive
    // it: seed load (%3 ∈ {0,1}), an overlapping second load that
    // doubles the %3=1 cohort's price (updates) and introduces %3=2
    // (inserts), then a keyed delete of the %7=0 cohort. At 100 TB the
    // consumer reads change volume per trigger, never the table.
    "q158_stream_table_cdc" -> ((s, dir) => {
      val root = scratchDir("graft-cdctail")
      val path = root + "/orders"
      val sink = root + "/cdc_out"
      val o = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_totalprice"))
      val b1 = o.filter(pmod(col("o_orderkey"), lit(3)) <= 1)
      val b2 = o.filter(pmod(col("o_orderkey"), lit(3)) >= 1)
        .withColumn("o_totalprice",
          when(pmod(col("o_orderkey"), lit(3)) === 1,
            col("o_totalprice") * 2).otherwise(col("o_totalprice")))
      sources.MergeWriter.merge(s, path, b1, Seq("o_orderkey"), buckets = 8)
      val q = s.readStream.format("graft").load(path)
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", root + "/ckpt")
        .outputMode("append")
        .start()
      try {
        q.processAllAvailable() // batch 0: initial snapshot as inserts
        sources.MergeWriter.merge(s, path, b2, Seq("o_orderkey"))
        q.processAllAvailable() // batch 1: updates (%3=1) + inserts (%3=2)
        sources.MergeWriter.delete(s, path,
          o.filter(pmod(col("o_orderkey"), lit(7)) === 0)
            .select(col("o_orderkey")), Seq("o_orderkey"))
        q.processAllAvailable() // batch 2: deletes (%7=0)
      } finally q.stop()
      s.read.parquet(sink)
        .groupBy(col("op"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("o_orderkey")).cast("long").as("key_sum"))
    }),

    // METADATA-ONLY AGGREGATE (Delta answers SELECT COUNT(*) from the
    // transaction log): COUNT(*) + MIN/MAX served purely from the
    // manifest's per-file stats — zero data-file reads (the
    // statsAggregate spec proves it by corrupting every data file and
    // asking again). The commonest dashboard probe there is ("how many
    // rows, what date range") costs one manifest read at any table
    // size; any column the stats can't answer EXACTLY falls back to
    // one scan, never a wrong answer.
    "q159_stats_only_agg" -> ((s, dir) => {
      val path = scratchDir("graft-statsagg") + "/lineitem"
      val li = Tables.lineitem(s, dir).select(
        col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_shipdate"))
      val prev = s.conf.getOption("spark.sql.files.maxRecordsPerFile")
      s.conf.set("spark.sql.files.maxRecordsPerFile", "2048")
      try {
        sources.MergeWriter.merge(s, path,
          li.filter(pmod(col("l_orderkey"), lit(2)) === 0),
          Seq("l_orderkey", "l_linenumber"), buckets = 8,
          clusterBy = Seq("l_shipdate"))
        sources.MergeWriter.merge(s, path,
          li.filter(pmod(col("l_orderkey"), lit(2)) === 1),
          Seq("l_orderkey", "l_linenumber"))
      } finally prev match {
        case Some(v) => s.conf.set("spark.sql.files.maxRecordsPerFile", v)
        case None => s.conf.unset("spark.sql.files.maxRecordsPerFile")
      }
      sources.MergeWriter.statsAggregate(s, path,
        Seq("l_shipdate", "l_quantity"))
    }),

    // WRITE PATH THROUGH THE FORMAT: `df.write.format("graft")` —
    // append = keyed MERGE upsert, overwrite = atomic full replace in
    // one manifest flip. Two appends build the full orders table; the
    // overwrite then reads THE TABLE ITSELF through the format (the
    // load pins the pre-overwrite manifest — snapshot isolation lets a
    // table atomically replace itself from its own filtered read) and
    // keeps only the %5 = 0 cohort. versionAsOf recovers the
    // pre-overwrite row count: the replaced state stays time-travel
    // readable until gc ages it out.
    "q160_format_write_roundtrip" -> ((s, dir) => {
      val path = scratchDir("graft-write") + "/orders"
      val o = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      o.filter(pmod(col("o_orderkey"), lit(2)) === 0)
        .write.format("graft").option("keys", "o_orderkey")
        .option("buckets", "8").mode("append").save(path)
      o.filter(pmod(col("o_orderkey"), lit(2)) === 1)
        .write.format("graft").mode("append").save(path)
      val vPre = sources.MergeWriter.availableVersions(s, path).last
      s.read.format("graft").load(path)
        .filter(pmod(col("o_orderkey"), lit(5)) === 0)
        .write.format("graft").mode("overwrite").save(path)
      val nPre = s.read.format("graft")
        .option("versionAsOf", vPre.toString).load(path).count()
      s.read.format("graft").load(path)
        .agg(count(lit(1)).as("n_kept"),
          graft.functions.exactSum(col("o_totalprice"), 2).as("sum_kept"))
        .withColumn("n_pre", lit(nPre))
        .select(col("n_pre"), col("n_kept"), col("sum_kept"))
    }),

    // NULL-COUNT DATA SKIPPING (Delta's nullCount stats): a SPARSE
    // column — click_ts is non-null only on click events — lands
    // clustered by event_type, so the non-click files are ALL-NULL in
    // it and their recorded null counts equal their row counts. The
    // `IS NOT NULL` probe (and, via Catalyst's implicit IsNotNull, any
    // comparison on the column) then skips every non-click file: the
    // sparse-column scan reads the cohort's files, not the table. The
    // reference's partial index shape (`WHERE x IS NOT NULL`), on
    // immutable files.
    "q161_null_skip_scan" -> ((s, dir) => {
      val path = scratchDir("graft-nulls") + "/events"
      val ev = Tables.events(s, dir).select(
        col("event_id"), col("user_id"), col("event_type"),
        when(col("event_type") === "click", col("ts")).as("click_ts"))
      val prev = s.conf.getOption("spark.sql.files.maxRecordsPerFile")
      s.conf.set("spark.sql.files.maxRecordsPerFile", "4096")
      try sources.MergeWriter.merge(s, path, ev, Seq("event_id"),
        buckets = 8, clusterBy = Seq("event_type"))
      finally prev match {
        case Some(v) => s.conf.set("spark.sql.files.maxRecordsPerFile", v)
        case None => s.conf.unset("spark.sql.files.maxRecordsPerFile")
      }
      s.read.format("graft").load(path)
        .where(col("click_ts").isNotNull)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_clicks"),
          max(col("click_ts")).as("last_click"))
    }),

    // THE SQL CATALOG SURFACE (GraftCatalog as a Spark TableCatalog —
    // Delta's DeltaCatalog shape for the manifest protocol): the entire
    // lifecycle as pure SQL with no temp-view plumbing or DataFrame
    // writes — CREATE NAMESPACE, CREATE TABLE ... TBLPROPERTIES(keys,
    // clusterBy), INSERT INTO ... SELECT (keyed upsert), a predicate
    // DELETE FROM + an id-set DELETE (SupportsDeleteV2 →
    // MergeWriter.delete), then the A1 CFD window as a plain SQL query
    // against the catalog table — planned through the DSv2 parquet scan
    // with manifest file skipping on the clustered ts range. Mirrors
    // the reference's SQL-against-Postgres analytics surface
    // (`aurora/ddl/calculate_cfd.sql:5-70`).
    "q162_sql_catalog" -> ((s, dir) => {
      val n = sqlCatSeq.incrementAndGet()
      val cat = s"gsqlcat$n"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse",
        scratchDir("graft-sqlcat"))
      Tables.events(s, dir).select(col("event_id"), col("user_id"),
          col("event_type"), col("ts").cast("timestamp_ntz").as("ts"))
        .createOrReplaceTempView(s"ev_src_$n")
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.etl")
      s.sql(s"""CREATE TABLE $cat.etl.states (
        event_id BIGINT, user_id BIGINT, event_type STRING,
        ts TIMESTAMP_NTZ)
        TBLPROPERTIES ('keys'='event_id','buckets'='8','clusterBy'='ts')""")
      s.sql(s"INSERT INTO $cat.etl.states SELECT * FROM ev_src_$n")
      s.sql(s"""DELETE FROM $cat.etl.states
        WHERE event_type = 'view' AND ts < TIMESTAMP '2024-01-15 00:00:00'""")
      s.sql(s"DELETE FROM $cat.etl.states WHERE event_id IN (1, 2, 3)")
      s.sql(s"""
        WITH daily AS (
          SELECT event_type AS state, CAST(ts AS DATE) AS flomatikasnapshotdate,
            COUNT(*) AS n
          FROM $cat.etl.states
          WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
            AND ts <= TIMESTAMP '2024-02-08 23:59:59.999999'
          GROUP BY 1, 2)
        SELECT state, flomatikasnapshotdate,
          CAST(SUM(n) OVER (PARTITION BY state ORDER BY flomatikasnapshotdate
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS numberofitems
        FROM daily WHERE state IN ('purchase')
        UNION ALL
        SELECT state, flomatikasnapshotdate, CAST(n AS BIGINT) AS numberofitems
        FROM daily WHERE state NOT IN ('purchase')""")
    }),

    // SCHEMA EVOLUTION on merge (Delta mergeSchema): a new extractor
    // version starts emitting a `score` column for its cohort (user_id ≡
    // 0 mod 3); the evolving merge null-fills the column for every
    // untouched row, and reads across the mixed-schema epochs must
    // reconcile (parquet footer merge). Old cohorts keep their pre-cut
    // state with NULL score; the new cohort is fully replaced.
    "q128_schema_evolution" -> ((s, dir) => {
      val path = scratchDir("graft-evolve") + "/states"
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"))
        .orderBy(col("ver").desc, col("event_id").desc)
      val ev = Tables.events(s, dir).select(col("user_id"), col("event_type"),
        col("event_id"), col("ts").cast("timestamp_ntz").as("ver"))
      def latest(src: DataFrame): DataFrame = src
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("user_id"), col("event_type").as("state"),
          col("ver").as("version_ts"))
      val cut = lit("2024-01-20 00:00:00").cast("timestamp_ntz")
      sources.MergeWriter.merge(s, path, latest(ev.filter(col("ver") <= cut)),
        Seq("user_id"), buckets = 8)
      val evolved = latest(ev.filter(pmod(col("user_id"), lit(3)) === 0))
        .withColumn("score", length(col("state")).cast("long"))
      sources.MergeWriter.merge(s, path, evolved, Seq("user_id"),
        buckets = 8, evolveSchema = true)
      sources.MergeWriter.readTable(s, path)
    }),

    // §2.5 EXACTLY-ONCE STREAMING ROLLUP: the q127 fold driven by a real
    // multi-batch AvailableNow run — each micro-batch aggregates its own
    // rows and mergeAdditive folds them in with Spark's batch id as the
    // txn version (the foreachBatch dedup contract). The batch
    // boundaries are nondeterministic (file grouping), but exactly-once
    // folding makes the final table independent of them: it must equal
    // the one-shot aggregate, whatever the batching was.
    "q129_streaming_rollup" -> ((s, dir) => {
      val root = scratchDir("graft-srollup")
      val src = root + "/in"
      val batchInput = Tables.events(s, dir)
        .select(col("ts").cast("timestamp").as("ts"), col("event_type"))
      batchInput.repartition(6).write.mode("overwrite").parquet(src)
      val stream = streaming.StreamingFlow.fileStream(s, src,
          batchInput.schema, maxFilesPerTrigger = 2)
        .select(date_trunc("hour", col("ts")).cast("timestamp_ntz")
          .as("hour"), col("event_type"))
      val q = streaming.StreamingFlow.additiveRollupSink(stream,
        root + "/hourly", Seq("hour", "event_type"),
        Seq(count(lit(1)).as("n_events")), root + "/ckpt", appId = "sroll",
        Some(org.apache.spark.sql.streaming.Trigger.AvailableNow()))
      q.awaitTermination()
      sources.MergeWriter.readTable(s, root + "/hourly")
    }),

    // STREAMING BY TABLE NAME (round 11): `readStream.table` tails a
    // catalog table's keyed row images and `writeStream.toTable` lands
    // them as exactly-once merges — the reference's queue-driven E1
    // pipeline (`serverless.yml:370-418`) with zero path plumbing. Two
    // commits land on the source across a stream restart on one
    // checkpoint: batch 0 is the full snapshot, the restarted query
    // resumes at its checkpointed version cursor and emits ONLY the
    // second commit's row images (I/O ∝ changed rows, never table size).
    "q171_stream_table_mirror" -> ((s, dir) => {
      val n = sqlCatSeq.incrementAndGet()
      val cat = s"gsqlcat$n"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse",
        scratchDir("graft-streamtbl"))
      Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"))
        .createOrReplaceTempView(s"stm_src_$n")
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.etl")
      s.sql(s"""CREATE TABLE $cat.etl.src (
        event_id BIGINT, user_id BIGINT, event_type STRING)
        TBLPROPERTIES ('keys'='event_id','buckets'='8',
          'retainVersions'='8')""")
      s.sql(s"""CREATE TABLE $cat.etl.mirror (
        event_id BIGINT, user_id BIGINT, event_type STRING)
        TBLPROPERTIES ('keys'='event_id','buckets'='8')""")
      s.sql(s"INSERT INTO $cat.etl.src " +
        s"SELECT * FROM stm_src_$n WHERE event_id % 2 = 0")
      val ckpt = scratchDir("graft-streamtbl-ckpt")
      def run(): Unit = {
        val q = s.readStream.table(s"$cat.etl.src")
          .writeStream.option("checkpointLocation", ckpt)
          .toTable(s"$cat.etl.mirror")
        try q.processAllAvailable() finally q.stop()
      }
      run() // batch 0: the even-id snapshot
      // second commit: every id%3 key lands with a shifted user id —
      // updates for the even multiples, inserts for the odd ones
      s.sql(s"INSERT INTO $cat.etl.src " +
        s"SELECT event_id, user_id + 1000000, event_type " +
        s"FROM stm_src_$n WHERE event_id % 3 = 0")
      run() // restart on the same checkpoint tails just that commit
      s.sql(s"""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(user_id) AS BIGINT) AS sum_uid
        FROM $cat.etl.mirror GROUP BY event_type""")
    }),

    // SQL-VISIBLE CHANGE FEED (round 11): `gc.ns.t.changes` serves the
    // per-version CDC diff as a plain table — Delta CDF's
    // `table_changes` shape — with `_commit_version` predicates pruning
    // which versions' diffs run at all. The reference's insights
    // consumers diff state exactly this way in SQL
    // (`extract_flomatika_insights_processor.ts:328-473`). Versions are
    // deterministic: 1 create, 2 insert, 3 update, 4 delete.
    "q172_sql_changes_feed" -> ((s, dir) => {
      val n = sqlCatSeq.incrementAndGet()
      val cat = s"gsqlcat$n"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse",
        scratchDir("graft-changesfeed"))
      Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"))
        .createOrReplaceTempView(s"cfd_src_$n")
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.etl")
      s.sql(s"""CREATE TABLE $cat.etl.cf (
        event_id BIGINT, user_id BIGINT, event_type STRING)
        TBLPROPERTIES ('keys'='event_id','buckets'='8',
          'retainVersions'='8')""")
      s.sql(s"INSERT INTO $cat.etl.cf SELECT * FROM cfd_src_$n")
      s.sql(s"UPDATE $cat.etl.cf SET user_id = user_id + 7 " +
        "WHERE event_type = 'purchase'")
      s.sql(s"DELETE FROM $cat.etl.cf " +
        "WHERE event_type = 'view' AND event_id % 5 = 0")
      s.sql(s"""SELECT _commit_version, op,
        CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(COALESCE(new_user_id, old_user_id)) AS BIGINT) AS sum_uid
        FROM $cat.etl.cf.changes WHERE _commit_version >= 3
        GROUP BY _commit_version, op""")
    }),

    // SQL MERGE WITH SCHEMA EVOLUTION (round 11): a source-only column
    // widens the target mid-MERGE (AUTOMATIC_SCHEMA_EVOLUTION + the
    // metadata-only ADD COLUMNS path) — the q128 DataFrame scenario
    // (`evolveSchema = true`) now expressible in pure SQL. Pre-existing
    // unmatched rows null-fill the evolved column; matched and inserted
    // rows carry the source's value.
    "q173_sql_merge_evolve" -> ((s, dir) => {
      val n = sqlCatSeq.incrementAndGet()
      val cat = s"gsqlcat$n"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse",
        scratchDir("graft-mergeevolve"))
      Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"))
        .createOrReplaceTempView(s"mev_src_$n")
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.etl")
      s.sql(s"""CREATE TABLE $cat.etl.me (
        event_id BIGINT, user_id BIGINT, event_type STRING)
        TBLPROPERTIES ('keys'='event_id','buckets'='8')""")
      s.sql(s"INSERT INTO $cat.etl.me " +
        s"SELECT * FROM mev_src_$n WHERE event_id % 2 = 0")
      s.sql(s"""
        MERGE WITH SCHEMA EVOLUTION INTO $cat.etl.me t
        USING (SELECT event_id, user_id, event_type,
                 CAST(event_id % 97 AS DOUBLE) AS score
               FROM mev_src_$n WHERE event_id % 3 = 0) s
        ON t.event_id = s.event_id
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *""")
      s.sql(s"""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(user_id) AS BIGINT) AS sum_uid,
        CAST(SUM(COALESCE(score, -1.0)) AS BIGINT) AS sum_score
        FROM $cat.etl.me GROUP BY event_type""")
    }),

    // COMMIT HISTORY AS SQL (round 11): `gc.ns.t.history` — Delta's
    // DESCRIBE HISTORY as an ordinary table (the round-10 CALL procedure
    // stays for scripting; this is the join-able face). The op sequence
    // is the protocol's own stamps: create / merge / update / delete.
    "q174_sql_history" -> ((s, dir) => {
      val n = sqlCatSeq.incrementAndGet()
      val cat = s"gsqlcat$n"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse",
        scratchDir("graft-history"))
      Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"))
        .createOrReplaceTempView(s"hst_src_$n")
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.etl")
      s.sql(s"""CREATE TABLE $cat.etl.h (
        event_id BIGINT, user_id BIGINT, event_type STRING)
        TBLPROPERTIES ('keys'='event_id','buckets'='8',
          'retainVersions'='8')""")
      s.sql(s"INSERT INTO $cat.etl.h SELECT * FROM hst_src_$n")
      s.sql(s"UPDATE $cat.etl.h SET user_id = user_id + 1 " +
        "WHERE event_type = 'click'")
      s.sql(s"DELETE FROM $cat.etl.h WHERE event_id % 11 = 0")
      s.sql(s"SELECT version, op FROM $cat.etl.h.history")
    }),

    // CDC STREAM BY NAME (round 11): `readStream.table("….changes")`
    // tails the per-version feed — the stream that DOES carry deletes
    // (the base-table row-image stream cannot express a retraction).
    // Batch 0 seeds the snapshot as inserts; the restarted query emits
    // the update and delete commits' diff rows into an append-only
    // parquet sink.
    "q175_changes_stream" -> ((s, dir) => {
      val n = sqlCatSeq.incrementAndGet()
      val cat = s"gsqlcat$n"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse",
        scratchDir("graft-cdcstream"))
      Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"))
        .createOrReplaceTempView(s"cds_src_$n")
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.etl")
      s.sql(s"""CREATE TABLE $cat.etl.cd (
        event_id BIGINT, user_id BIGINT, event_type STRING)
        TBLPROPERTIES ('keys'='event_id','buckets'='8',
          'retainVersions'='8')""")
      s.sql(s"INSERT INTO $cat.etl.cd " +
        s"SELECT * FROM cds_src_$n WHERE event_id % 2 = 0")
      val out = scratchDir("graft-cdcstream-out")
      val ckpt = scratchDir("graft-cdcstream-ckpt")
      def run(): Unit = {
        val q = s.readStream.table(s"$cat.etl.cd.changes")
          .writeStream.format("parquet")
          .option("path", out).option("checkpointLocation", ckpt)
          .start()
        try q.processAllAvailable() finally q.stop()
      }
      run() // batch 0: the snapshot as inserts
      s.sql(s"UPDATE $cat.etl.cd SET user_id = user_id + 7 " +
        "WHERE event_type = 'purchase'")
      s.sql(s"DELETE FROM $cat.etl.cd " +
        "WHERE event_type = 'view' AND event_id % 10 = 0")
      run() // tails the update + delete commits, retractions included
      s.read.parquet(out)
        .groupBy(col("op"))
        .agg(count(lit(1)).cast("long").as("n"),
          sum(coalesce(col("new_user_id"), col("old_user_id")))
            .cast("long").as("sum_uid"))
    }),

    // SCHEMA CHURN AS METADATA (round 11): ALTER TABLE RENAME/DROP
    // COLUMN over stable parquet field ids — immutable files keep their
    // old column names; readers match by id, so the rename touches one
    // manifest, never 100 TB of data. The reference renames fields
    // routinely via fieldMaps (`field_mapper.ts:1-101`); here the whole
    // pipeline — filters, UPDATE DML, aggregation — runs against the
    // renamed column in pure SQL, and the dropped column stays gone.
    "q176_sql_rename_column" -> ((s, dir) => {
      val n = sqlCatSeq.incrementAndGet()
      val cat = s"gsqlcat$n"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse",
        scratchDir("graft-rename"))
      Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"))
        .createOrReplaceTempView(s"ren_src_$n")
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.etl")
      s.sql(s"""CREATE TABLE $cat.etl.r (
        event_id BIGINT, user_id BIGINT, event_type STRING,
        scratch BIGINT)
        TBLPROPERTIES ('keys'='event_id','buckets'='8')""")
      s.sql(s"INSERT INTO $cat.etl.r " +
        s"SELECT event_id, user_id, event_type, event_id % 7 " +
        s"FROM ren_src_$n")
      s.sql(s"ALTER TABLE $cat.etl.r RENAME COLUMN user_id TO actor_id")
      s.sql(s"ALTER TABLE $cat.etl.r DROP COLUMN scratch")
      // DML against the renamed column (reads old-named files by id)
      s.sql(s"UPDATE $cat.etl.r SET actor_id = actor_id + 500 " +
        "WHERE event_type = 'click'")
      s.sql(s"""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(actor_id) AS BIGINT) AS sum_actor
        FROM $cat.etl.r WHERE actor_id % 2 = 0 GROUP BY event_type""")
    }),

    // SQL RESTORE (round 11): `CALL gc.system.restore` re-points the
    // table at a retained version — Delta RESTORE / Iceberg
    // rollback_to_snapshot, here a METADATA-ONLY manifest commit (the
    // target's epochs are alive by retention; nothing is copied). Two
    // bad commits (a destructive UPDATE, a stray INSERT) roll back in
    // one statement, and because history rolls FORWARD the change feed
    // serves the rollback as ordinary keyed changes (version 5 = the
    // restore: click rows updated back, stray rows retracted) — a
    // downstream replica syncs through the same feed it always tails.
    "q177_sql_restore" -> ((s, dir) => {
      val n = sqlCatSeq.incrementAndGet()
      val cat = s"gsqlcat$n"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse",
        scratchDir("graft-restore"))
      Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"))
        .createOrReplaceTempView(s"rst_src_$n")
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.etl")
      s.sql(s"""CREATE TABLE $cat.etl.rb (
        event_id BIGINT, user_id BIGINT, event_type STRING)
        TBLPROPERTIES ('keys'='event_id','buckets'='8',
          'retainVersions'='8')""")
      s.sql(s"INSERT INTO $cat.etl.rb SELECT * FROM rst_src_$n") // v2
      s.sql(s"UPDATE $cat.etl.rb SET user_id = -1 " +
        "WHERE event_type = 'click'") // v3: the destructive mistake
      s.sql(s"INSERT INTO $cat.etl.rb VALUES " +
        "(10000000001, 1, 'bogus'), (10000000002, 2, 'bogus')") // v4
      s.sql(s"CALL $cat.system.restore('etl.rb', 2)") // v5
      s.sql(s"""
        SELECT 'final' AS src, event_type AS op,
          CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(user_id) AS BIGINT) AS sum_uid
        FROM $cat.etl.rb GROUP BY event_type
        UNION ALL
        SELECT 'feed', op, CAST(COUNT(*) AS BIGINT),
          CAST(SUM(COALESCE(new_user_id, old_user_id)) AS BIGINT)
        FROM $cat.etl.rb.changes WHERE _commit_version = 5
        GROUP BY op""")
    }),

    // STORAGE-PARTITIONED JOIN (round 11, SPARK-37375): two graft
    // tables co-keyed on event_id join with ZERO shuffle — the scans
    // report their key-hash bucket layout as KeyGroupedPartitioning
    // (the `bucket` transform, resolved against the catalog's own
    // function), so Spark co-locates matching buckets instead of
    // exchanging both sides. At 100 TB a side the deleted exchange IS
    // the query; GraftSpjSpec asserts the plan has no ShuffleExchange —
    // this oracle pins the VALUES.
    "q178_spj_colocated_join" -> ((s, dir) => {
      val n = sqlCatSeq.incrementAndGet()
      val cat = s"gsqlcat$n"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse",
        scratchDir("graft-spj"))
      Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"))
        .createOrReplaceTempView(s"spj_src_$n")
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.etl")
      s.sql(s"""CREATE TABLE $cat.etl.ja (event_id BIGINT, user_id BIGINT)
        TBLPROPERTIES ('keys'='event_id','buckets'='16')""")
      s.sql(s"""CREATE TABLE $cat.etl.jb (event_id BIGINT, event_type STRING)
        TBLPROPERTIES ('keys'='event_id','buckets'='16')""")
      s.sql(s"INSERT INTO $cat.etl.ja " +
        s"SELECT event_id, user_id FROM spj_src_$n")
      s.sql(s"INSERT INTO $cat.etl.jb " +
        s"SELECT event_id, event_type FROM spj_src_$n WHERE event_id % 2 = 0")
      val prevSpj = s.conf.getOption("spark.sql.sources.v2.bucketing.enabled")
      s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      try {
        val df = s.sql(s"""SELECT b.event_type, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(a.user_id) AS BIGINT) AS sum_uid
          FROM $cat.etl.ja a JOIN $cat.etl.jb b
          ON a.event_id = b.event_id GROUP BY b.event_type""")
        // EXECUTE the zero-shuffle plan while the conf holds (a later
        // count()/write would re-plan under the restored conf), then
        // hand back the group-by-event-type result — a handful of rows
        // — as a local frame
        s.createDataFrame(
          java.util.Arrays.asList(df.collect(): _*), df.schema)
      } finally prevSpj match {
        case Some(v) => s.conf.set("spark.sql.sources.v2.bucketing.enabled", v)
        case None => s.conf.unset("spark.sql.sources.v2.bucketing.enabled")
      }
    }),

    // Runtime filtering (SPARK-35779): the dim's surviving join keys
    // reach the fact scan AFTER the broadcast materializes and prune
    // its manifest to their hash buckets (GraftStreamableParquetScan
    // .filter) — the fact side opens a key-count-bounded file set
    // regardless of table size. Values are plain join semantics, so
    // the oracle is the same join over the raw events table.
    "q179_runtime_filter_join" -> ((s, dir) => {
      val n = sqlCatSeq.incrementAndGet()
      val cat = s"gsqlcat$n"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse",
        scratchDir("graft-dpp"))
      Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"))
        .createOrReplaceTempView(s"dpp_src_$n")
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.etl")
      s.sql(s"""CREATE TABLE $cat.etl.fact (event_id BIGINT,
        user_id BIGINT) TBLPROPERTIES ('keys'='event_id','buckets'='16')""")
      s.sql(s"INSERT INTO $cat.etl.fact " +
        s"SELECT event_id, user_id FROM dpp_src_$n")
      s.sql(s"""SELECT CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(f.user_id) AS BIGINT) AS sum_uid
        FROM $cat.etl.fact f JOIN (
          SELECT DISTINCT event_id FROM dpp_src_$n
          WHERE event_type = 'view' AND event_id % 97 = 13) d
        ON f.event_id = d.event_id""")
    }),

    // DELETION VECTORS (merge-on-read deletes — Delta's DVs / Iceberg v2
    // position deletes on the manifest protocol): two consecutive small
    // keyed deletes on a `deleteVectors = true` table commit per-file
    // dead-position sidecars instead of rewriting their touched buckets
    // (write I/O ∝ deleted rows; the reference's deleted-item
    // reconciliation, ref `delete_work_items.ts` semantics, is exactly
    // this point-purge shape). The read back must agree with copy-on-
    // write semantics bit-for-bit: dead rows invisible, survivors
    // untouched, the second delete's sidecar carrying the union of any
    // shared file's positions.
    "q180_dv_delete" -> ((s, dir) => {
      val path = scratchDir("graft-dv") + "/docs"
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      sources.MergeWriter.merge(s, path, docs, Seq("doc_id"), buckets = 8,
        clusterBy = Seq("doc_id"), deleteVectors = true)
      sources.MergeWriter.delete(s, path,
        docs.select(col("doc_id")).filter(pmod(col("doc_id"), lit(31)) === 0),
        Seq("doc_id"))
      sources.MergeWriter.delete(s, path,
        docs.select(col("doc_id")).filter(pmod(col("doc_id"), lit(53)) === 5),
        Seq("doc_id"))
      sources.MergeWriter.readTable(s, path)
        .select(col("doc_id"), col("lang"), col("n_chars"))
    }),

    // Deletion vectors through PURE SQL: DELETE takes the DV fast path
    // (translatable predicate → keyed delete → position sidecar), and a
    // row-level UPDATE then reads the table THROUGH the live vectors —
    // a bridge that leaked dead rows would re-animate them as updated
    // copies and hash-mismatch the oracle's aggregate.
    "q181_dv_sql_delete" -> ((s, dir) => {
      val n = sqlCatSeq.incrementAndGet()
      val cat = s"gsqlcat$n"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse",
        scratchDir("graft-dvsql"))
      Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"))
        .createOrReplaceTempView(s"dv_src_$n")
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.etl")
      s.sql(s"""CREATE TABLE $cat.etl.fact (event_id BIGINT,
        user_id BIGINT, event_type STRING)
        TBLPROPERTIES ('keys'='event_id', 'buckets'='8',
        'deleteVectors'='true')""")
      s.sql(s"INSERT INTO $cat.etl.fact " +
        s"SELECT event_id, user_id, event_type FROM dv_src_$n")
      s.sql(s"DELETE FROM $cat.etl.fact WHERE event_id % 101 = 7")
      s.sql(s"UPDATE $cat.etl.fact SET event_type = 'touched' " +
        "WHERE user_id % 997 = 3")
      s.sql(s"""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(user_id) AS BIGINT) AS sum_uid
        FROM $cat.etl.fact GROUP BY event_type""")
    }),

    // ANALYZE TABLE → cost-based optimizer statistics: one pass records
    // per-column NDV (HyperLogLog++), null count, lengths and min/max in
    // the manifest; the catalog scan reports them through DSv2
    // `columnStats()`, which Spark's CBO consumes for join reordering
    // and selectivity (AnalyzeStatsSpec pins the attributeStats
    // consumption). The query result is plain join semantics — ANALYZE
    // is a metadata commit and must never change answers.
    "q182_analyze_cbo" -> ((s, dir) => {
      val n = sqlCatSeq.incrementAndGet()
      val cat = s"gsqlcat$n"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse",
        scratchDir("graft-analyze"))
      Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"))
        .createOrReplaceTempView(s"an_src_$n")
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.etl")
      s.sql(s"""CREATE TABLE $cat.etl.fact (event_id BIGINT,
        user_id BIGINT, event_type STRING, value DOUBLE)
        TBLPROPERTIES ('keys'='event_id', 'buckets'='8')""")
      s.sql(s"INSERT INTO $cat.etl.fact SELECT * FROM an_src_$n")
      val status = s.sql(
        s"CALL $cat.system.analyze(table => 'etl.fact')")
        .collect()(0).getString(0)
      require(status.contains("ndv="),
        s"analyze must report per-column NDVs, got: $status")
      s.sql(s"""SELECT f.event_type,
        CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(f.user_id) AS BIGINT) AS sum_uid,
        ROUND(SUM(f.value), 6) AS sum_value
        FROM $cat.etl.fact f
        JOIN (SELECT DISTINCT user_id FROM an_src_$n
              WHERE user_id % 11 = 3) d
        ON f.user_id = d.user_id
        GROUP BY f.event_type""")
    }),

    // VERSION TAGS (Iceberg named refs): pin the audited load under a
    // name, keep loading, read back `VERSION AS OF 'tag'` — the
    // write-audit-publish anchor. The tag must serve EXACTLY the state
    // it pinned (here: the even-id half committed before the tag),
    // bit-for-bit, regardless of the later commit; and it must survive
    // count-based retention (the table keeps only 2 versions — without
    // the tag pin, the audited version would be gc'd).
    "q183_version_tags" -> ((s, dir) => {
      val n = sqlCatSeq.incrementAndGet()
      val cat = s"gsqlcat$n"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse",
        scratchDir("graft-tags"))
      Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"))
        .createOrReplaceTempView(s"tag_src_$n")
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.etl")
      s.sql(s"""CREATE TABLE $cat.etl.fact (event_id BIGINT,
        user_id BIGINT, event_type STRING)
        TBLPROPERTIES ('keys'='event_id', 'buckets'='8')""")
      s.sql(s"INSERT INTO $cat.etl.fact " +
        s"SELECT * FROM tag_src_$n WHERE event_id % 2 = 0")
      s.sql(s"CALL $cat.system.create_tag(table => 'etl.fact', " +
        "tag => 'audited')")
      s.sql(s"INSERT INTO $cat.etl.fact " +
        s"SELECT * FROM tag_src_$n WHERE event_id % 2 = 1")
      // extra commits push the tagged version past the count window —
      // only the tag keeps it readable
      s.sql(s"DELETE FROM $cat.etl.fact WHERE event_id % 1009 = 4")
      s.sql(s"""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(user_id) AS BIGINT) AS sum_uid
        FROM $cat.etl.fact VERSION AS OF 'audited'
        GROUP BY event_type""")
    }),

    // MERGE-ON-READ upserts (Iceberg v2's write shape): three small
    // keyed merges on a deleteVectors table land as overlay epochs +
    // position deletes on the replaced rows — base pointers unmoved,
    // write I/O ∝ each batch (mor11 in BENCH_SCALE.md measures it).
    // Round 2 REPLACES a subset of round 1's overlay rows (the overlay
    // file itself gets DV'd), round 3 is pure inserts; the final read
    // must equal the same three upserts applied copy-on-write.
    "q184_mor_upsert" -> ((s, dir) => {
      val path = scratchDir("graft-mor") + "/docs"
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), col("n_chars"))
      sources.MergeWriter.merge(s, path, docs, Seq("doc_id"), buckets = 8,
        clusterBy = Seq("doc_id"), deleteVectors = true,
        fingerprint = true)
      val r1 = docs.filter(pmod(col("doc_id"), lit(37)) === 1)
        .select(col("doc_id"), lit("xx").as("lang"),
          (col("n_chars") + 1000).as("n_chars"))
      sources.MergeWriter.merge(s, path, r1, Seq("doc_id"))
      val r2 = docs.filter(pmod(col("doc_id"), lit(74)) === 1)
        .select(col("doc_id"), lit("yy").as("lang"),
          (col("n_chars") + 2000).as("n_chars"))
      sources.MergeWriter.merge(s, path, r2, Seq("doc_id"))
      val r3 = docs.filter(pmod(col("doc_id"), lit(97)) === 0)
        .select((col("doc_id") + 10000000L).as("doc_id"),
          lit("new").as("lang"), lit(0L).as("n_chars"))
      sources.MergeWriter.merge(s, path, r3, Seq("doc_id"))
      sources.MergeWriter.readTable(s, path)
        .select(col("doc_id"), col("lang"), col("n_chars"))
    }),

    // SQL TIMESTAMP AS OF (wall-clock time travel — Delta/Iceberg's
    // `FOR TIMESTAMP AS OF`): the catalog overload converts Spark's
    // microseconds to the protocol's milliseconds and resolves the
    // LATEST retained version whose manifest committed at or before the
    // instant (inclusive). Two INSERT commits, then each historical
    // state read back by its own commit INSTANT (taken from the
    // manifest file) and cross-checked against VERSION AS OF — the
    // auditor's "what did the table say at 3pm" query. Output is
    // deterministic even though the instants are wall-clock.
    "q185_timestamp_travel" -> ((s, dir) => {
      val n = sqlCatSeq.incrementAndGet()
      val cat = s"gsqlcat$n"
      val wh = scratchDir("graft-tsasof")
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"))
        .createOrReplaceTempView(s"ts_src_$n")
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.etl")
      s.sql(s"""CREATE TABLE $cat.etl.o (o_orderkey BIGINT,
        o_custkey BIGINT) TBLPROPERTIES ('keys'='o_orderkey',
        'buckets'='8', 'retainVersions'='10')""")
      s.sql(s"INSERT INTO $cat.etl.o SELECT o_orderkey, o_custkey " +
        s"FROM ts_src_$n WHERE o_orderkey % 3 <= 1")
      Thread.sleep(50) // distinct commit instants
      s.sql(s"INSERT INTO $cat.etl.o SELECT o_orderkey, o_custkey " +
        s"FROM ts_src_$n WHERE o_orderkey % 3 = 2")
      // commit instants from the manifest files themselves — exactly
      // what TIMESTAMP AS OF resolves against
      val times = new java.io.File(s"$wh/etl/o").listFiles()
        .filter(_.getName.startsWith("_manifest-"))
        .map(f => f.getName.stripPrefix("_manifest-")
          .stripSuffix(".json").toLong -> f.lastModified()).toMap
      val vs = times.keys.toSeq.sorted
      val (v1, v2) = (vs(vs.length - 2), vs.last)
      val fmt = java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
        .withZone(java.time.ZoneOffset.UTC)
      def lit9(v: Long): String =
        fmt.format(java.time.Instant.ofEpochMilli(v))
      def probe(label: String, clause: String) =
        s"""SELECT '$label' AS src, CAST(COUNT(*) AS BIGINT) AS n_rows,
          CAST(SUM(o_custkey) AS BIGINT) AS cust_sum
          FROM $cat.etl.o $clause"""
      s.sql(Seq(
        probe("ts_v1", s"TIMESTAMP AS OF '${lit9(times(v1))}'"),
        probe("ts_between",
          s"TIMESTAMP AS OF '${lit9(times(v2) - 1)}'"),
        probe("ts_now", s"TIMESTAMP AS OF '${lit9(times(v2))}'"),
        probe("v1", s"VERSION AS OF $v1"),
        probe("cur", "")).mkString(" UNION ALL "))
    }),

    // NAMED BRANCHES — write-audit-publish staging (Iceberg branch
    // refs on the linear manifest protocol): `create_branch` forks a
    // staging lineage, `INSERT INTO t.branch_<name>` stages keyed
    // upserts main never sees, `SELECT FROM t.branch_<name>` is the
    // audit read, `fast_forward` publishes the branch head as ONE main
    // commit (conflicting loudly if main advanced since the fork). The
    // three probes pin the isolation: main before publish = the base
    // cohort only, the branch audit = base + staged, main after = the
    // published whole. BranchWapSpec pins the conflict + refusal paths.
    "q186_branch_wap" -> ((s, dir) => {
      val n = sqlCatSeq.incrementAndGet()
      val cat = s"gsqlcat$n"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse",
        scratchDir("graft-wap"))
      Tables.documents(s, dir).select(col("doc_id"), col("n_chars"))
        .createOrReplaceTempView(s"wap_src_$n")
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.etl")
      s.sql(s"""CREATE TABLE $cat.etl.docs (doc_id BIGINT,
        n_chars BIGINT) TBLPROPERTIES ('keys'='doc_id', 'buckets'='8')""")
      s.sql(s"INSERT INTO $cat.etl.docs SELECT doc_id, n_chars " +
        s"FROM wap_src_$n WHERE doc_id % 4 != 3")
      s.sql(s"CALL $cat.system.create_branch(table => 'etl.docs', " +
        "branch => 'wap')")
      s.sql(s"INSERT INTO $cat.etl.docs.branch_wap " +
        s"SELECT doc_id, n_chars FROM wap_src_$n WHERE doc_id % 4 = 3")
      def probe(label: String, t: String) =
        s"""SELECT '$label' AS src, CAST(COUNT(*) AS BIGINT) AS n_rows,
          CAST(SUM(n_chars) AS BIGINT) AS chars_sum FROM $t"""
      val before = s.sql(probe("main_before", s"$cat.etl.docs")
        + " UNION ALL " + probe("branch_audit",
          s"$cat.etl.docs.branch_wap")).collect()
      s.sql(s"CALL $cat.system.fast_forward(table => 'etl.docs', " +
        "branch => 'wap')")
      import s.implicits._
      // the pre-publish probes were materialized BEFORE the publish —
      // rebuilding them lazily here would see the published state
      before.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
        .toDF("src", "n_rows", "chars_sum")
        .union(s.sql(probe("main_after", s"$cat.etl.docs")))
    }),

    // t.files — the per-file physical inventory (Iceberg's files
    // metadata table): the SQL surface an operator diagnoses
    // merge-on-read pressure with. A DV delete and a MoR upsert
    // pressure the table; the probe aggregates the inventory into
    // LAYOUT-INDEPENDENT invariants (bucket count, live-row total, DV
    // dead total, overlay-row total) that the oracle derives from the
    // raw cohorts — per-file splits stay out of the hash.
    "q187_files_inventory" -> ((s, dir) => {
      val n = sqlCatSeq.incrementAndGet()
      val cat = s"gsqlcat$n"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse",
        scratchDir("graft-files"))
      Tables.documents(s, dir).select(col("doc_id"), col("n_chars"))
        .createOrReplaceTempView(s"files_src_$n")
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.etl")
      s.sql(s"""CREATE TABLE $cat.etl.docs (doc_id BIGINT,
        n_chars BIGINT) TBLPROPERTIES ('keys'='doc_id', 'buckets'='8',
        'clusterBy'='doc_id', 'deleteVectors'='true')""")
      s.sql(s"INSERT INTO $cat.etl.docs SELECT doc_id, n_chars " +
        s"FROM files_src_$n")
      s.sql(s"DELETE FROM $cat.etl.docs WHERE doc_id % 10 = 7")
      s.sql(s"INSERT INTO $cat.etl.docs SELECT doc_id, -n_chars " +
        s"FROM files_src_$n WHERE doc_id % 10 = 2")
      s.sql(s"""SELECT
        CAST(COUNT(DISTINCT bucket) AS BIGINT) AS n_buckets,
        CAST(SUM(live_rows) AS BIGINT) AS live_total,
        CAST(SUM(dv_dead) AS BIGINT) AS dead_total,
        CAST(SUM(CASE WHEN overlay THEN live_rows ELSE 0 END) AS BIGINT)
          AS overlay_total
        FROM $cat.etl.docs.files""")
    }),

    // ANSI CHECK constraints end-to-end (Spark 4.1 DSv2 constraint
    // surface + manifest persistence + write-side enforcement): inline
    // PRIMARY KEY declares the merge keys, two CHECKs validate at
    // create, a violating INSERT fails ATOMICALLY (nothing lands), and
    // DROP CONSTRAINT lifts exactly one guard. Final state is pure
    // relational arithmetic over `orders` — the DuckDB oracle
    // reproduces it without any constraint machinery.
    "q188_check_constraints" -> ((s, dir) => {
      val n = sqlCatSeq.incrementAndGet()
      val cat = s"gsqlcat$n"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse",
        scratchDir("graft-check"))
      Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderstatus"))
        .createOrReplaceTempView(s"check_src_$n")
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.etl")
      s.sql(s"""CREATE TABLE $cat.etl.ck (
        o_orderkey BIGINT, o_totalprice DOUBLE, o_orderstatus STRING,
        CONSTRAINT pk PRIMARY KEY (o_orderkey),
        CONSTRAINT price_pos CHECK (o_totalprice > 0),
        CONSTRAINT status_enum CHECK (o_orderstatus IN ('O','F','P'))
      ) TBLPROPERTIES ('buckets'='8', 'clusterBy'='o_orderkey')""")
      s.sql(s"INSERT INTO $cat.etl.ck SELECT * FROM check_src_$n")
      // the violating batch must fail as a WHOLE (atomic commit):
      // valid rows in the same statement land nowhere
      val rejected = scala.util.Try(s.sql(
        s"""INSERT INTO $cat.etl.ck
           SELECT o_orderkey + 100000000, -o_totalprice, o_orderstatus
           FROM check_src_$n WHERE o_orderkey % 100 < 50""")).isFailure
      require(rejected, "q188: violating INSERT must be rejected")
      s.sql(s"ALTER TABLE $cat.etl.ck DROP CONSTRAINT price_pos")
      s.sql(s"""INSERT INTO $cat.etl.ck
        SELECT o_orderkey + 100000000, -o_totalprice, o_orderstatus
        FROM check_src_$n WHERE o_orderkey % 100 = 3""")
      s.sql(s"""SELECT o_orderstatus,
        CAST(COUNT(*) AS BIGINT) AS n_rows,
        CAST(SUM(CASE WHEN o_totalprice < 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_negative,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
          AS price_sum
        FROM $cat.etl.ck GROUP BY o_orderstatus""")
    }),

    // Incremental column statistics (HLL sketch union on commit): after
    // ONE ANALYZE, later merges keep the CBO's NDV/min-max/rowCount
    // fresh — no re-scan, each commit folds one narrow agg over its own
    // written rows into the stored sketches. The emitted row carries
    // the EXACT planner-served facts (rowCount, min, max — hashable vs
    // DuckDB); the approximate NDV is bound-checked in-process (±5%)
    // and emitted as a boolean.
    "q189_incremental_stats" -> ((s, dir) => {
      val n = sqlCatSeq.incrementAndGet()
      val cat = s"gsqlcat$n"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse",
        scratchDir("graft-incstats"))
      Tables.part(s, dir).select(col("p_partkey"), col("p_size"))
        .createOrReplaceTempView(s"stats_src_$n")
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.etl")
      s.sql(s"""CREATE TABLE $cat.etl.p (p_partkey BIGINT, p_size INT)
        TBLPROPERTIES ('keys'='p_partkey', 'buckets'='8',
        'clusterBy'='p_partkey')""")
      s.sql(s"INSERT INTO $cat.etl.p SELECT * FROM stats_src_$n " +
        "WHERE p_partkey % 2 = 0")
      s.sql(s"CALL $cat.system.analyze(table => 'etl.p')")
      // the post-ANALYZE half arrives through ordinary commits — the
      // sketches union per commit, never a corpus re-scan
      s.sql(s"INSERT INTO $cat.etl.p SELECT * FROM stats_src_$n " +
        "WHERE p_partkey % 2 = 1")
      val prevCbo = s.conf.get("spark.sql.cbo.enabled", "false")
      val (nRows, lo, hi, ndvOk) =
        try {
          s.conf.set("spark.sql.cbo.enabled", "true")
          val st = s.sql(s"SELECT * FROM $cat.etl.p")
            .queryExecution.optimizedPlan.stats
          val pk = st.attributeStats.toSeq
            .find(_._1.name == "p_partkey").map(_._2)
            .getOrElse(throw new IllegalStateException(
              "q189: refreshed stats were not served to the CBO"))
          val total = st.rowCount.map(_.toLong).getOrElse(-1L)
          val ok = pk.distinctCount.exists(d =>
            math.abs(d.toLong - total) * 20L <= total)
          (total, pk.min.map(_.toString.toLong).getOrElse(-1L),
            pk.max.map(_.toString.toLong).getOrElse(-1L), ok)
        } finally s.conf.set("spark.sql.cbo.enabled", prevCbo)
      import s.implicits._
      Seq((nRows, lo, hi, ndvOk))
        .toDF("n_rows", "pk_min", "pk_max", "ndv_fresh")
    }),

    // Column DEFAULT values, metadata-only at every step: declared at
    // CREATE (CURRENT_DEFAULT feeds INSERTs that omit the column),
    // retrofitted by ADD COLUMN ... DEFAULT (pre-existing rows READ the
    // exists-default — no file rewrite), re-pointed by SET DEFAULT
    // (future inserts only). The final state is pure CASE arithmetic
    // over `customer` for the DuckDB oracle.
    "q190_default_columns" -> ((s, dir) => {
      val n = sqlCatSeq.incrementAndGet()
      val cat = s"gsqlcat$n"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse",
        scratchDir("graft-defaults"))
      Tables.customer(s, dir).select(col("c_custkey"), col("c_mktsegment"))
        .createOrReplaceTempView(s"dflt_src_$n")
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.etl")
      s.sql(s"""CREATE TABLE $cat.etl.c (
        c_custkey BIGINT, segment STRING DEFAULT 'UNKNOWN')
        TBLPROPERTIES ('keys'='c_custkey', 'buckets'='8')""")
      // cohort 0 omits the column -> CURRENT_DEFAULT 'UNKNOWN'
      s.sql(s"INSERT INTO $cat.etl.c (c_custkey) " +
        s"SELECT c_custkey FROM dflt_src_$n WHERE c_custkey % 3 = 0")
      // cohort 1 carries its real segment
      s.sql(s"INSERT INTO $cat.etl.c SELECT c_custkey, c_mktsegment " +
        s"FROM dflt_src_$n WHERE c_custkey % 3 = 1")
      // retrofit: every row ALREADY WRITTEN reads 'bronze' (exists-
      // default, no rewrite); then future inserts switch to 'silver'
      s.sql(s"ALTER TABLE $cat.etl.c " +
        "ADD COLUMNS (tier STRING DEFAULT 'bronze')")
      s.sql(s"ALTER TABLE $cat.etl.c ALTER COLUMN tier SET DEFAULT " +
        "'silver'")
      s.sql(s"INSERT INTO $cat.etl.c (c_custkey) " +
        s"SELECT c_custkey FROM dflt_src_$n WHERE c_custkey % 3 = 2")
      s.sql(s"""SELECT tier, segment,
        CAST(COUNT(*) AS BIGINT) AS n_rows,
        CAST(SUM(c_custkey) AS BIGINT) AS key_sum
        FROM $cat.etl.c GROUP BY tier, segment""")
    }),

    // t.partitions — the per-bucket rollup an operator drives partial
    // compaction with: DV deletes + a MoR upsert pressure the table,
    // the rollup NAMES the pressured buckets, CALL compact(buckets =>
    // ...) drains exactly those, and the rollup shows it. Emitted
    // facts are layout-independent (row totals + pressure booleans).
    "q191_partitions_rollup" -> ((s, dir) => {
      val n = sqlCatSeq.incrementAndGet()
      val cat = s"gsqlcat$n"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse",
        scratchDir("graft-parts"))
      Tables.documents(s, dir).select(col("doc_id"), col("n_chars"))
        .createOrReplaceTempView(s"parts_src_$n")
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.etl")
      s.sql(s"""CREATE TABLE $cat.etl.d (doc_id BIGINT, n_chars BIGINT)
        TBLPROPERTIES ('keys'='doc_id', 'buckets'='8',
        'clusterBy'='doc_id', 'deleteVectors'='true')""")
      s.sql(s"INSERT INTO $cat.etl.d SELECT * FROM parts_src_$n")
      s.sql(s"DELETE FROM $cat.etl.d WHERE doc_id % 11 = 4")
      s.sql(s"INSERT INTO $cat.etl.d SELECT doc_id, -n_chars " +
        s"FROM parts_src_$n WHERE doc_id % 11 = 5")
      def roll(phase: String) = s.sql(s"""SELECT '$phase' AS phase,
        CAST(COUNT(*) AS BIGINT) AS n_buckets,
        CAST(SUM(live_rows) AS BIGINT) AS live,
        CAST(SUM(dv_dead) AS BIGINT) AS dead,
        SUM(overlay_epochs) > 0 AS pressured
        FROM $cat.etl.d.partitions""")
      val before = roll("pressured").collect()
      val targets = s.sql(s"SELECT bucket FROM $cat.etl.d.partitions " +
        "WHERE overlay_epochs > 0 OR dv_dead > 0").collect()
        .map(_.getInt(0)).sorted
      require(targets.nonEmpty, "q191: expected MoR pressure")
      s.sql(s"CALL $cat.system.compact(table => 'etl.d', " +
        s"buckets => '${targets.mkString(",")}')")
      import s.implicits._
      s.createDataFrame(
        s.sparkContext.parallelize(before.toIndexedSeq, 1),
        before.head.schema).unionByName(roll("drained"))
    }),

    // IDENTITY columns (GENERATED BY DEFAULT AS IDENTITY): NULL/omitted
    // inputs get unique step-aligned values past the manifest's
    // high-water; explicit values are stored verbatim and push it.
    // Assigned values are engine-specific by contract (gaps allowed),
    // so the hashed output carries the DETERMINISTIC facts — counts,
    // uniqueness, start/step alignment, the explicit value — never the
    // values themselves.
    "q192_identity_columns" -> ((s, dir) => {
      val n = sqlCatSeq.incrementAndGet()
      val cat = s"gsqlcat$n"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse",
        scratchDir("graft-identity"))
      Tables.supplier(s, dir).select(col("s_suppkey"), col("s_name"))
        .createOrReplaceTempView(s"ident_src_$n")
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.etl")
      s.sql(s"""CREATE TABLE $cat.etl.sup (
        sid BIGINT GENERATED BY DEFAULT AS IDENTITY (START WITH 1000
          INCREMENT BY 5),
        s_suppkey BIGINT, s_name STRING)
        TBLPROPERTIES ('keys'='s_suppkey', 'buckets'='8')""")
      s.sql(s"INSERT INTO $cat.etl.sup (s_suppkey, s_name) " +
        s"SELECT s_suppkey, s_name FROM ident_src_$n " +
        "WHERE s_suppkey % 2 = 0")
      // one explicit surrogate (aligned so the step predicate stays
      // uniform), then a second assigned cohort continues past it
      s.sql(s"INSERT INTO $cat.etl.sup VALUES " +
        "(2000001000, -1, 'explicit')")
      s.sql(s"INSERT INTO $cat.etl.sup (s_suppkey, s_name) " +
        s"SELECT s_suppkey, s_name FROM ident_src_$n " +
        "WHERE s_suppkey % 2 = 1")
      s.sql(s"""SELECT
        CAST(COUNT(*) AS BIGINT) AS n_rows,
        COUNT(DISTINCT sid) = COUNT(*) AS sid_unique,
        MIN(sid) >= 1000 AS min_ok,
        MAX(CASE WHEN (sid - 1000) % 5 != 0 THEN 1 ELSE 0 END) = 0
          AS step_aligned,
        CAST(MAX(sid) AS BIGINT) >= 2000001000 AS hw_past_explicit,
        CAST(SUM(CASE WHEN s_name = 'explicit' THEN sid ELSE 0 END)
          AS BIGINT) AS explicit_sid
        FROM $cat.etl.sup""")
    }),

    // GENERATED columns (GENERATED ALWAYS AS expr): omitted inputs are
    // COMPUTED from the row's stored columns on write, explicit
    // mismatches fail the commit. Generated values are pure functions
    // of stored columns, so the oracle reproduces them exactly with
    // the same arithmetic.
    "q193_generated_columns" -> ((s, dir) => {
      val n = sqlCatSeq.incrementAndGet()
      val cat = s"gsqlcat$n"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse",
        scratchDir("graft-generated"))
      // the synthetic lineitem is not unique on (orderkey, linenumber)
      // — dedupe with MAX aggregates (mirrored exactly in the oracle)
      Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey"), col("l_linenumber"))
        .agg(max(col("l_quantity")).as("l_quantity"),
          max(col("l_returnflag")).as("l_returnflag"),
          max(col("l_linestatus")).as("l_linestatus"))
        .createOrReplaceTempView(s"gen_src_$n")
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.etl")
      s.sql(s"""CREATE TABLE $cat.etl.li (
        l_orderkey BIGINT, l_linenumber INT, l_quantity DOUBLE,
        l_returnflag STRING, l_linestatus STRING,
        line_uid BIGINT GENERATED ALWAYS AS
          (l_orderkey * 10 + l_linenumber),
        flag_status STRING GENERATED ALWAYS AS
          (CONCAT(l_returnflag, '-', l_linestatus)))
        TBLPROPERTIES ('keys'='l_orderkey,l_linenumber', 'buckets'='8',
        'clusterBy'='l_orderkey')""")
      s.sql(s"""INSERT INTO $cat.etl.li
        (l_orderkey, l_linenumber, l_quantity, l_returnflag,
         l_linestatus)
        SELECT * FROM gen_src_$n""")
      // a violating explicit generated value must be rejected whole
      val rejected = scala.util.Try(s.sql(s"""INSERT INTO $cat.etl.li
        VALUES (900000001, 1, 1.0, 'N', 'O', 12345, 'N-O')""")).isFailure
      require(rejected, "q193: mismatched generated value must fail " +
        "(900000001*10+1 != 12345)")
      s.sql(s"""SELECT flag_status,
        CAST(COUNT(*) AS BIGINT) AS n_rows,
        CAST(SUM(line_uid) AS BIGINT) AS uid_sum,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
          AS qty_sum
        FROM $cat.etl.li GROUP BY flag_status""")
    }),

    // The GOVERNED TABLE, end to end: one deleteVectors table carrying
    // the whole declared-column family — identity surrogate, DEFAULT
    // status, GENERATED column, PRIMARY KEY declaring the merge keys,
    // CHECK constraint — through CREATE → bulk INSERT → ANALYZE →
    // MoR trickle (sketch refresh) → rejected violating batch →
    // row-level UPDATE (generated recompute). Every emitted fact is
    // pure relational arithmetic over `orders` plus the identity
    // uniqueness boolean.
    "q194_governed_table" -> ((s, dir) => {
      val n = sqlCatSeq.incrementAndGet()
      val cat = s"gsqlcat$n"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse",
        scratchDir("graft-governed"))
      Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderstatus"))
        .createOrReplaceTempView(s"gov_src_$n")
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.etl")
      s.sql(s"""CREATE TABLE $cat.etl.gov (
        rid BIGINT GENERATED BY DEFAULT AS IDENTITY,
        o_orderkey BIGINT, o_totalprice DOUBLE,
        status STRING DEFAULT 'open',
        okmod BIGINT GENERATED ALWAYS AS (o_orderkey % 97),
        CONSTRAINT pk PRIMARY KEY (o_orderkey),
        CONSTRAINT price_pos CHECK (o_totalprice > 0)
      ) TBLPROPERTIES ('buckets'='8', 'clusterBy'='o_orderkey',
        'deleteVectors'='true')""")
      // cohort A: identity assigned, status defaulted, okmod computed
      s.sql(s"""INSERT INTO $cat.etl.gov (o_orderkey, o_totalprice)
        SELECT o_orderkey, o_totalprice FROM gov_src_$n
        WHERE o_orderkey % 3 = 0""")
      s.sql(s"CALL $cat.system.analyze(table => 'etl.gov')")
      // cohort B: explicit status; commits refresh the stored sketches
      s.sql(s"""INSERT INTO $cat.etl.gov
        (o_orderkey, o_totalprice, status)
        SELECT o_orderkey, o_totalprice, o_orderstatus FROM gov_src_$n
        WHERE o_orderkey % 3 = 1""")
      // the CHECK holds the line: a violating batch dies whole
      val rejected = scala.util.Try(s.sql(s"""INSERT INTO $cat.etl.gov
        (o_orderkey, o_totalprice)
        SELECT o_orderkey + 500000000, -o_totalprice FROM gov_src_$n
        WHERE o_orderkey % 3 = 0""")).isFailure
      require(rejected, "q194: violating INSERT must be rejected")
      // row-level UPDATE: generated column recomputed, not validated
      s.sql(s"UPDATE $cat.etl.gov SET o_totalprice = o_totalprice + 1 " +
        "WHERE o_orderkey % 100 = 7")
      s.sql(s"""SELECT status,
        CAST(COUNT(*) AS BIGINT) AS n_rows,
        COUNT(DISTINCT rid) = COUNT(*) AS rid_unique,
        CAST(SUM(okmod) AS BIGINT) AS okmod_sum,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
          AS price_sum
        FROM $cat.etl.gov GROUP BY status""")
    }),

    // EQUALITY DELETES (Iceberg v2's equality-delete files): on an
    // 'eqDeletes'='true' table, small keyed upserts and deletes commit
    // a DOOMED-KEY sidecar instead of probing stored rows for positions
    // — the write path never reads (the trickle-CDC shape; the
    // reference's SQS-fed state upserts, serverless.yml:400-407). Two
    // stacked SQL upsert rounds (round 2's keys a subset of round 1's —
    // sequence-number scoping must leave exactly the newest copy) and a
    // blind SQL DELETE, read back through the native catalog scan,
    // which resolves the doomed keys to row positions at plan time.
    // Must equal copy-on-write semantics bit-for-bit.
    "q195_eq_deletes" -> ((s, dir) => {
      val n = sqlCatSeq.incrementAndGet()
      val cat = s"gsqlcat$n"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse",
        scratchDir("graft-eqd"))
      Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .createOrReplaceTempView(s"eqd_src_$n")
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.etl")
      s.sql(s"""CREATE TABLE $cat.etl.docs (doc_id BIGINT, lang STRING,
        n_chars BIGINT) TBLPROPERTIES ('keys'='doc_id', 'buckets'='8',
        'clusterBy'='doc_id', 'eqDeletes'='true')""")
      s.sql(s"INSERT INTO $cat.etl.docs " +
        s"SELECT doc_id, lang, n_chars FROM eqd_src_$n")
      // upsert round 1: %37=1 keys re-landed with new lang/length
      s.sql(s"""INSERT INTO $cat.etl.docs
        SELECT doc_id, 'zz', n_chars + 1000 FROM eqd_src_$n
        WHERE doc_id % 37 = 1""")
      // round 2 doubles down on a SUBSET of round 1's keys — the
      // stacked eq-deletes must leave only the newest copy
      s.sql(s"""INSERT INTO $cat.etl.docs
        SELECT doc_id, 'ww', n_chars + 2000 FROM eqd_src_$n
        WHERE doc_id % 74 = 1""")
      // blind delete: no read resolves these keys at write time
      s.sql(s"DELETE FROM $cat.etl.docs WHERE doc_id % 53 = 5")
      s.sql(s"SELECT doc_id, lang, n_chars FROM $cat.etl.docs")
    }),

    // VARIANT custom fields (Spark 4's VariantType — the open-format
    // jsonb): the reference's raw custom-field side is truly dynamic
    // (`[propName: string]: any`, revision_processor.ts:113). A
    // `cf VARIANT` column stores THREE different document shapes in one
    // table without schema churn — nested, flat, and missing-field —
    // and `variant_get` extracts typed values with NULL for absent
    // paths. The oracle recomputes the same extraction directly from
    // the base columns, so a storage or extraction bug (shredding,
    // path resolution, type coercion) hash-mismatches.
    "q196_variant_fields" -> ((s, dir) => {
      val n = sqlCatSeq.incrementAndGet()
      val cat = s"gsqlcat$n"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse",
        scratchDir("graft-variant"))
      Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice"), col("o_orderpriority"))
        .createOrReplaceTempView(s"var_src_$n")
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.etl")
      s.sql(s"""CREATE TABLE $cat.etl.cf (o_orderkey BIGINT, cf VARIANT)
        TBLPROPERTIES ('keys'='o_orderkey', 'buckets'='8')""")
      // three shapes: nested meta (%3=0), flat with prio (%3=1),
      // status-less (%3=2)
      s.sql(s"""INSERT INTO $cat.etl.cf SELECT o_orderkey, PARSE_JSON(
          CASE WHEN o_orderkey % 3 = 0 THEN to_json(named_struct(
                 'status', o_orderstatus,
                 'meta', named_struct('price', o_totalprice)))
               WHEN o_orderkey % 3 = 1 THEN to_json(named_struct(
                 'status', o_orderstatus, 'prio', o_orderpriority))
               ELSE to_json(named_struct('price', o_totalprice)) END)
        FROM var_src_$n""")
      s.sql(s"""SELECT
          COALESCE(variant_get(cf, '$$.status', 'string'), 'none')
            AS status,
          CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(CAST(COALESCE(
            variant_get(cf, '$$.meta.price', 'double'),
            variant_get(cf, '$$.price', 'double'), 0.0)
            AS DECIMAL(18,2))) AS DOUBLE) AS price_sum,
          CAST(COUNT(variant_get(cf, '$$.prio', 'string')) AS BIGINT)
            AS n_prio
        FROM $cat.etl.cf GROUP BY 1""")
    }),

    // DECLARATIVE MATERIALIZED VIEW with incremental refresh (the A8
    // insights-snapshot pattern generalized — what q127 hand-rolls, as
    // one CREATE + one CALL): the defining GROUP BY query is recorded
    // at create, churn hits the SOURCE through ordinary SQL DML, and
    // refresh_mv folds the change feed in — exactly-once,
    // change-proportional, group liveness and WHERE flips included.
    // The oracle recomputes the defining query over the churned state
    // relationally, so any maintenance drift hash-mismatches.
    "q197_materialized_view" -> ((s, dir) => {
      val n = sqlCatSeq.incrementAndGet()
      val cat = s"gsqlcat$n"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse",
        scratchDir("graft-mv"))
      Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .createOrReplaceTempView(s"mv_src_$n")
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.etl")
      // deleteVectors: the churn below is UPDATE/DELETE-heavy, so the
      // merge-on-read policy (write ∝ changeset, not touched buckets)
      // is the right physical choice — same results, the oracle proves
      // it; the MV refresh folds the same change feed either way
      s.sql(s"""CREATE TABLE $cat.etl.src (doc_id BIGINT, lang STRING,
        n_chars BIGINT) TBLPROPERTIES ('keys'='doc_id', 'buckets'='8',
        'clusterBy'='doc_id', 'retainVersions'='10',
        'deleteVectors'='true')""")
      s.sql(s"INSERT INTO $cat.etl.src " +
        s"SELECT doc_id, lang, n_chars FROM mv_src_$n")
      s.sql(s"""CALL $cat.system.create_mv(view => 'etl.mv',
        source => 'etl.src',
        query => 'SELECT lang, COUNT(*) AS n, SUM(n_chars) AS chars
                  FROM src WHERE n_chars > 500 GROUP BY lang')""")
      // churn through ordinary DML: updates (some flip the WHERE),
      // deletes, inserts — three source commits, one refresh window
      s.sql(s"UPDATE $cat.etl.src SET n_chars = n_chars + 10 " +
        "WHERE doc_id % 50 = 3")
      s.sql(s"DELETE FROM $cat.etl.src WHERE doc_id % 101 = 7")
      s.sql(s"INSERT INTO $cat.etl.src SELECT doc_id + 10000000, " +
        s"'new', n_chars FROM mv_src_$n WHERE doc_id % 97 = 0")
      s.sql(s"CALL $cat.system.refresh_mv(view => 'etl.mv')")
      s.sql(s"SELECT lang, n, chars FROM $cat.etl.mv")
    }),

    // STREAMING TRICKLE-CDC INTO AN eqDeletes TABLE — the write path
    // the reference's SQS-fed state upserts need at 100 TB
    // (serverless.yml:400-407): every micro-batch lands as ONE
    // write-only commit (overlay + doomed-key sidecar, no probe read),
    // exactly-once via the batch-id txn, and a blind keyed DELETE
    // finishes the feed. Source files are partitioned BY KEY, so each
    // key's rows arrive in one batch and the per-batch last-event-wins
    // reduction makes the final state batch-order-insensitive. The
    // read back resolves every stacked eq-delete — one live row per
    // key, the newest.
    "q198_streaming_cdc_eqd" -> ((s, dir) => {
      val root = scratchDir("graft-cdceqd")
      val src = root + "/in"
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"))
      // one file per key-partition: a key's whole history arrives in a
      // single micro-batch
      ev.repartition(8, col("user_id")).write.mode("overwrite").parquet(src)
      val table = root + "/state"
      sources.MergeWriter.createTable(s, table,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("user_id",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("last_event",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("last_type",
            org.apache.spark.sql.types.StringType))),
        keys = Seq("user_id"), buckets = 8, clusterBy = Seq("user_id"),
        eqDeletes = true)
      val q = streaming.StreamingFlow.fileStream(s, src, ev.schema,
          maxFilesPerTrigger = 2)
        .writeStream
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
        .option("checkpointLocation", root + "/ckpt")
        .foreachBatch { (batch: DataFrame, bid: Long) =>
          // CDC reduction: the batch's last event per key wins
          val winners = batch.groupBy(col("user_id"))
            .agg(max(col("event_id")).as("last_event"),
              expr("max_by(event_type, event_id)").as("last_type"))
          sources.MergeWriter.merge(batch.sparkSession, table, winners,
            Seq("user_id"), txn = Some(("cdceqd", bid)))
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      // the blind purge: doomed keys commit as an eq-delete sidecar,
      // discovered by readers, never resolved by the writer
      sources.MergeWriter.delete(s, table,
        ev.select(col("user_id")).distinct()
          .filter(pmod(col("user_id"), lit(13)) === 4),
        Seq("user_id"))
      sources.MergeWriter.readTable(s, table)
        .select(col("user_id"), col("last_event"), col("last_type"))
    }),

    // MV WITH MIN/MAX AND A BROADCAST DIM JOIN (round 14): the
    // reference's actual A8 shape — facts ⋈ small dimension, rolled up
    // per category (`extract_flomatika_insights_processor.ts:328-473`)
    // — as ONE declarative MV. MIN/MAX maintain by re-scan-on-retract
    // (the churn below deletes the top event ids, forcing the
    // retraction path); the fact churn folds against the broadcast dim
    // change-proportionally. The MV must equal the relational
    // recomputation over the churned source.
    "q199_mv_minmax_dim" -> ((s, dir) => {
      val n = sqlCatSeq.incrementAndGet()
      val cat = s"gsqlcat$n"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse",
        scratchDir("graft-mvdim"))
      Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"))
        .createOrReplaceTempView(s"mvdim_src_$n")
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.etl")
      // deleteVectors: the churn is UPDATE/DELETE-heavy — merge-on-read
      // writes ∝ the changeset instead of rewriting touched buckets
      s.sql(s"""CREATE TABLE $cat.etl.mmf (event_id BIGINT,
        user_id BIGINT, event_type STRING) TBLPROPERTIES
        ('keys'='event_id', 'buckets'='8', 'clusterBy'='event_id',
         'retainVersions'='10', 'deleteVectors'='true')""")
      s.sql(s"INSERT INTO $cat.etl.mmf " +
        s"SELECT event_id, user_id, event_type FROM mvdim_src_$n")
      s.sql(s"""CREATE TABLE $cat.etl.mmd (event_type STRING,
        category STRING) TBLPROPERTIES ('keys'='event_type',
        'buckets'='2', 'retainVersions'='10')""")
      s.sql(s"""INSERT INTO $cat.etl.mmd
        SELECT DISTINCT event_type,
          CASE WHEN event_type IN ('click', 'view') THEN 'engage'
               WHEN event_type IN ('purchase', 'signup') THEN 'convert'
               ELSE 'ops' END
        FROM mvdim_src_$n""")
      s.sql(s"""CALL $cat.system.create_mv(view => 'etl.mv',
        source => 'etl.mmf', dim => 'etl.mmd',
        query => 'SELECT category, COUNT(*) AS n, SUM(user_id) AS su,
                  MIN(event_id) AS mn, MAX(event_id) AS mx
                  FROM mmf JOIN mmd ON event_type = event_type
                  GROUP BY category')""")
      // churn: a keyed bump, the TOP-10 event ids deleted (forces the
      // extremum re-scan), inserts incl. a type absent from the dim
      // (the inner join drops it)
      s.sql(s"UPDATE $cat.etl.mmf SET user_id = user_id + 7 " +
        "WHERE event_id % 53 = 5")
      val maxId = s.sql(s"SELECT MAX(event_id) FROM $cat.etl.mmf")
        .collect().head.getLong(0)
      s.sql(s"DELETE FROM $cat.etl.mmf WHERE event_id > ${maxId - 10}")
      s.sql(s"INSERT INTO $cat.etl.mmf SELECT event_id + 100000000, " +
        s"user_id, 'beta' FROM mvdim_src_$n WHERE event_id % 101 = 0")
      s.sql(s"INSERT INTO $cat.etl.mmf SELECT event_id + 200000000, " +
        s"user_id, 'click' FROM mvdim_src_$n WHERE event_id % 103 = 0")
      s.sql(s"CALL $cat.system.refresh_mv(view => 'etl.mv')")
      s.sql(s"SELECT category, n, su, mn, mx FROM $cat.etl.mv")
    }),

    // STREAMING MV MAINTENANCE (round 14): q129's exactly-once rollup
    // driven through the declarative MV surface — each micro-batch
    // merges into the SOURCE table and `refresh` folds the change feed
    // into the MV, both exactly-once on their own ledgers, so the
    // final view equals the one-shot aggregate whatever the batching
    // was. The hand-rolled additiveRollupSink fold is subsumed: the
    // rollup is DECLARED once and maintained by the engine.
    "q200_streaming_mv" -> ((s, dir) => {
      val root = scratchDir("graft-smv")
      val src = root + "/in"
      val batchInput = Tables.events(s, dir)
        .select(col("event_id"),
          date_trunc("hour", col("ts").cast("timestamp"))
            .cast("timestamp_ntz").as("hour"),
          col("event_type"))
      batchInput.repartition(6).write.mode("overwrite").parquet(src)
      val srcTable = root + "/events"
      sources.MergeWriter.createTable(s, srcTable, batchInput.schema,
        keys = Seq("event_id"), buckets = 8, retainVersions = 20)
      sources.MaterializedViews.create(s, root + "/mv", srcTable, "events",
        "SELECT hour, event_type, COUNT(*) AS n_events FROM events " +
          "GROUP BY hour, event_type")
      val q = streaming.StreamingFlow.mvMaintainedSink(
        streaming.StreamingFlow.fileStream(s, src, batchInput.schema,
          maxFilesPerTrigger = 2),
        srcTable, Seq("event_id"), Seq(root + "/mv"), root + "/ckpt",
        appId = "smv",
        Some(org.apache.spark.sql.streaming.Trigger.AvailableNow()))
      q.awaitTermination()
      sources.MergeWriter.readTable(s, root + "/mv")
        .select(col("hour"), col("event_type"), col("n_events"))
    }),

    // SHREDDED VARIANT PATHS ('shred' TBLPROPERTY): typed extractions
    // of the VARIANT column materialized as HIDDEN physical columns in
    // every epoch file, feeding the ordinary min/max + Bloom file
    // skipping — so the variant-path WHERE below prunes files instead
    // of scanning the corpus (the boundary q196 documents, closed at
    // file granularity). Three trickle inserts land as write-only
    // eq-delete commits, so files stay batch-disjoint on the shredded
    // paths; the oracle recomputes relationally from `documents`.
    "q201_shredded_variant" -> ((s, dir) => {
      val n = sqlCatSeq.incrementAndGet()
      val cat = s"gsqlcat$n"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse",
        scratchDir("graft-shred"))
      Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .createOrReplaceTempView(s"shred_src_$n")
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.etl")
      s.sql(s"""CREATE TABLE $cat.etl.vdocs (doc_id BIGINT, cf VARIANT)
        TBLPROPERTIES ('keys'='doc_id', 'buckets'='8',
          'eqDeletes'='true',
          'shred'='$$.lang:string,$$.n:bigint')""")
      // trickle by doc_id residue: each INSERT is one write-only
      // commit whose overlay files carry only its cohort
      (0 until 3).foreach { k =>
        s.sql(s"""INSERT INTO $cat.etl.vdocs
          SELECT doc_id, PARSE_JSON(to_json(named_struct(
            'lang', lang, 'n', n_chars, 'src', source)))
          FROM shred_src_$n WHERE doc_id % 3 = $k""")
      }
      s.sql(s"""SELECT
          variant_get(cf, '$$.lang', 'string') AS lang,
          CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(SUM(variant_get(cf, '$$.n', 'bigint')) AS BIGINT)
            AS sum_chars
        FROM $cat.etl.vdocs
        WHERE variant_get(cf, '$$.n', 'bigint') > 500
        GROUP BY 1""")
    }),

    // MULTI-DIM MV WITH INCREMENTAL DIM MAINTENANCE (round 15): the
    // complete A8 shape — facts ⋈ a STAR of small config dims
    // (`extract_flomatika_insights_processor.ts:328-473` pulls view
    // config + workItemTypeMaps + settings), declared as ONE MV. After
    // the fact churn folds, BOTH dims move (the T13-automap event:
    // `unmapped_workflow_step.ts:106-118` mutates workflowSteps
    // mid-run) — the refresh folds each DIM's change feed (affected
    // groups only), never a full re-evaluation. The MV must equal the
    // relational recomputation over the churned source and FINAL dims.
    "q202_mv_multidim" -> ((s, dir) => {
      val n = sqlCatSeq.incrementAndGet()
      val cat = s"gsqlcat$n"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse",
        scratchDir("graft-mvmd"))
      Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          pmod(col("user_id"), lit(4)).as("ub"))
        .createOrReplaceTempView(s"mvmd_src_$n")
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.etl")
      // deleteVectors: UPDATE/DELETE-heavy churn — merge-on-read writes
      // ∝ the changeset instead of rewriting touched buckets
      s.sql(s"""CREATE TABLE $cat.etl.mdf (event_id BIGINT,
        user_id BIGINT, event_type STRING, ub BIGINT) TBLPROPERTIES
        ('keys'='event_id', 'buckets'='8', 'clusterBy'='event_id',
         'retainVersions'='10', 'deleteVectors'='true')""")
      s.sql(s"INSERT INTO $cat.etl.mdf SELECT event_id, user_id, " +
        s"event_type, ub FROM mvmd_src_$n")
      s.sql(s"""CREATE TABLE $cat.etl.mdd1 (event_type STRING,
        category STRING) TBLPROPERTIES ('keys'='event_type',
        'buckets'='2', 'retainVersions'='10')""")
      s.sql(s"""INSERT INTO $cat.etl.mdd1
        SELECT DISTINCT event_type,
          CASE WHEN event_type IN ('click', 'view') THEN 'engage'
               ELSE 'ops' END
        FROM mvmd_src_$n""")
      s.sql(s"""CREATE TABLE $cat.etl.mdd2 (ub BIGINT, region STRING)
        TBLPROPERTIES ('keys'='ub', 'buckets'='2',
        'retainVersions'='10')""")
      s.sql(s"INSERT INTO $cat.etl.mdd2 VALUES (0, 'emea'), " +
        "(1, 'apac'), (2, 'amer'), (3, 'latam')")
      s.sql(s"""CALL $cat.system.create_mv(view => 'etl.mv',
        source => 'etl.mdf', dim => 'etl.mdd1,etl.mdd2',
        query => 'SELECT category, region, COUNT(*) AS n,
                  SUM(user_id) AS su
                  FROM mdf JOIN mdd1 ON event_type = event_type
                           JOIN mdd2 ON ub = ub
                  GROUP BY category, region')""")
      // fact churn folds against both (unchanged) dims
      s.sql(s"UPDATE $cat.etl.mdf SET user_id = user_id + 3 " +
        "WHERE event_id % 41 = 11")
      s.sql(s"DELETE FROM $cat.etl.mdf WHERE event_id % 97 = 13")
      s.sql(s"CALL $cat.system.refresh_mv(view => 'etl.mv')")
      // BOTH dims churn (the automap event): each feed's changed keys
      // re-scope exactly the affected groups — incremental, no -1
      s.sql(s"UPDATE $cat.etl.mdd1 SET category = 'moved' " +
        "WHERE event_type = 'click'")
      s.sql(s"UPDATE $cat.etl.mdd2 SET region = 'apj' WHERE ub = 1")
      val w = s.sql(s"CALL $cat.system.refresh_mv(view => 'etl.mv')")
        .collect().head.getString(0)
      require(w.contains("refreshed") && !w.contains("fully"),
        s"q202: dim churn must fold incrementally, got: $w")
      s.sql(s"SELECT category, region, n, su FROM $cat.etl.mv")
    }),

    // TRANSPARENT MV QUERY REWRITE (round 15): an aggregate that is
    // structurally a registered FRESH MV's defining query reads the
    // VIEW instead of re-aggregating the source (warehouse QUERY
    // REWRITE, exact-match fragment) — at 100 TB the substitution
    // deletes the scan + shuffle for an answer the engine already
    // maintains change-proportionally. The query asserts the full
    // lifecycle in-plan: rewrite fires when fresh (no Aggregate in the
    // optimized plan), DECLINES on a stale view (the as-written
    // aggregate sees unfolded rows), and fires again after refresh.
    "q203_mv_query_rewrite" -> ((s, dir) => {
      val n = sqlCatSeq.incrementAndGet()
      val cat = s"gsqlcat$n"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse",
        scratchDir("graft-mvrw"))
      Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .createOrReplaceTempView(s"mvrw_src_$n")
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.etl")
      s.sql(s"""CREATE TABLE $cat.etl.src (doc_id BIGINT, lang STRING,
        n_chars BIGINT) TBLPROPERTIES ('keys'='doc_id', 'buckets'='8',
        'retainVersions'='10')""")
      s.sql(s"INSERT INTO $cat.etl.src " +
        s"SELECT doc_id, lang, n_chars FROM mvrw_src_$n")
      // COUNT(n_chars) rides along so the nullable SUM reconstructs
      s.sql(s"""CALL $cat.system.create_mv(view => 'etl.mv',
        source => 'etl.src',
        query => 'SELECT lang, COUNT(*) AS n_docs,
                  SUM(n_chars) AS sum_chars, COUNT(n_chars) AS n_vals
                  FROM src GROUP BY lang')""")
      s.sql(s"CALL $cat.system.enable_mv_rewrite(view => 'etl.mv')")
      val q = s"SELECT lang, COUNT(*) AS n_docs, " +
        s"SUM(n_chars) AS sum_chars FROM $cat.etl.src GROUP BY lang"
      def aggs(df: org.apache.spark.sql.DataFrame): Int =
        df.queryExecution.optimizedPlan.collect {
          case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
        }.size
      require(aggs(s.sql(q)) == 0,
        "q203: a fresh registered MV must answer the aggregate")
      // stale decline: an unfolded source commit runs the plan as
      // written (and sees the new cohort)
      s.sql(s"INSERT INTO $cat.etl.src SELECT doc_id + 50000000, 'xx', " +
        s"n_chars FROM mvrw_src_$n WHERE doc_id % 97 = 0")
      require(aggs(s.sql(q)) > 0, "q203: a stale view must decline")
      s.sql(s"CALL $cat.system.refresh_mv(view => 'etl.mv')")
      val out = s.sql(q)
      require(aggs(out) == 0, "q203: fresh again after refresh")
      // AVG substitutes from the stored SUM + COUNT riders (round 16):
      // the single most common user aggregate reads the view too
      val avgDf = s.sql(s"SELECT lang, AVG(n_chars) AS avg_chars " +
        s"FROM $cat.etl.src GROUP BY lang")
      require(aggs(avgDf) == 0,
        "q203: AVG from the stored SUM+COUNT must rewrite")
      // EMPTY-rollup shape (round 16, the round-15 wrong-answer edge):
      // a residual matching no view row still answers from the VIEW,
      // and its COUNT is 0 — never SUM-over-empty's NULL
      val emptyDf = s.sql(s"SELECT COUNT(*) AS n_docs, " +
        s"SUM(n_chars) AS sum_chars FROM $cat.etl.src " +
        "WHERE lang = 'zz_nomatch'")
      // structural check (plan-TEXT paths truncate at
      // maxMetadataStringLength): every leaf must be the VIEW relation
      // — its stored rider column n_vals is not a source column
      val leaves = emptyDf.queryExecution.optimizedPlan.collectLeaves()
      require(leaves.nonEmpty &&
        leaves.forall(_.output.exists(_.name.equalsIgnoreCase("n_vals"))),
        "q203: the empty-rollup shape must answer from the view")
      val full = out.join(avgDf, Seq("lang")).unionByName(
        emptyDf.select(lit("__empty_residual").as("lang"),
          col("n_docs"), col("sum_chars"),
          lit(null).cast("double").as("avg_chars")))
      // materialize UNDER the rewrite (the oracle checks the values the
      // REWRITTEN plans produced), then detach the rule from the
      // session — later queries in a sweep must not carry it
      val rows = full.collect()
      s.sql(s"CALL $cat.system.disable_mv_rewrite(view => 'etl.mv')")
      s.createDataFrame(java.util.Arrays.asList(rows: _*), full.schema)
    })
  )

  /** Deterministic LCG residue of a non-negative id column — the engine-
    * portable pseudo-random orderer behind q87/q88. The id is mod-reduced
    * BEFORE the multiply so every intermediate stays far inside Int64 on
    * both engines: Spark wraps Int64 silently but DuckDB raises on
    * overflow (and its `%` follows the dividend sign after a wrap), so
    * unreduced ids beyond ~8.4e9 would break engine parity — latent at
    * 100 TB scale, invisible at fixture scale.
    */
  private def lcgResidue(id: Column): Column =
    pmod(pmod(id, lit(2147483647L)) * 1103515245L + 12345L, lit(2147483647L))

  /** Jira `/field`-response-shaped metadata drop derived from the event
    * types: one JSON document per field with (id, name, custom,
    * schema.type) — the shape `getFields` returns.
    */
  private def fieldMetaJson(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).select(col("event_type")).distinct()
      // the unpartitioned window single-tasks BY DESIGN: /field metadata
      // is config-scale (a handful of distinct types, mirroring the
      // reference's un-predicated /field GET) — do NOT imitate this shape
      // for data-scale frames (see Caps.perGroupCap for the scalable cap)
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("event_type"))))
      .select(to_json(struct(
        concat(lit("customfield_"), (col("rk") + 10000).cast("string")).as("id"),
        col("event_type").as("name"),
        lit(true).as("custom"),
        struct(lit("string").as("type")).as("schema"))).as("raw_json"))

  /** Three deterministic replicas per embedding: replica 0 verbatim,
    * replicas 1-2 with pure-arithmetic ±0.01/dim noise keyed on
    * (base id, replica, dim) — reproduced exactly by the DuckDB oracle
    * (same integer residue and double fold on both engines).
    */
  private def replicaEmbeddings(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(col("vec_id").cast("long").as("bid"),
        col("embedding").cast("array<double>").as("e"),
        explode(sequence(lit(0L), lit(2L))).as("r"))
      // 1e8 stride: must clear ScaleBench's rep10 ids (base + r·1e6)
      .select((col("bid") + col("r") * 100000000L).as("vec_id"),
        when(col("r") === 0, col("e")).otherwise(
          zip_with(col("e"),
            transform(sequence(lit(0L), size(col("e")).cast("long") - 1),
              j => (pmod(col("bid") * 31 + col("r") * 7 + j * 13, lit(1000))
                .cast("double") / 1000.0 - 0.5) * 0.02),
            (x, n) => x + n)).as("embedding"))

  /** Kanbanize-shaped card drop built from `events`: one JSON document per
    * card with the reference's snake_case field names
    * (`extract_state_processor.ts:107-123`) — created/modified from the
    * event-time range, revision = event count, board/workflow/column/type
    * from deterministic id residues, and an absent `owner_user_id` on
    * every 13th card (the API omits unset fields).
    */
  private def kbzCardsJson(s: SparkSession, dir: String): DataFrame = {
    val tsFmt = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"
    Tables.events(s, dir).groupBy(col("user_id")).agg(
        min(col("ts")).as("created_ts"),
        max(col("ts")).as("modified_ts"),
        count(lit(1)).as("n_revs"))
      .select(to_json(struct(
        col("user_id").cast("long").as("card_id"),
        concat(lit("Card "), col("user_id")).as("title"),
        pmod(col("user_id"), lit(5)).cast("long").as("type_id"),
        date_format(col("created_ts"), tsFmt).as("created_at"),
        col("n_revs").as("revision"),
        date_format(col("modified_ts"), tsFmt).as("last_modified"),
        pmod(col("user_id"), lit(3)).cast("long").as("board_id"),
        pmod(col("user_id"), lit(4)).cast("long").as("workflow_id"),
        pmod(col("user_id"), lit(6)).cast("long").as("column_id"),
        when(pmod(col("user_id"), lit(13)) =!= 0,
          pmod(col("user_id"), lit(11)).cast("long")).as("owner_user_id")))
        .as("raw_json"))
  }

  /** GitLab-GraphQL-shaped merge-request drop built from `orders`: one MR
    * node JSON document per sampled order with the GraphQL camelCase field
    * names (`gitlab_extractor.ts:299-310`) — all `merged` (the query's
    * fixed state), updated two days and merged one day after creation.
    */
  private def gitlabMrsJson(s: SparkSession, dir: String): DataFrame = {
    val tsFmt = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"
    Tables.orders(s, dir).filter(pmod(col("o_orderkey"), lit(20)) === 0)
      .select(to_json(struct(
        concat(lit("gid://gitlab/MergeRequest/"), col("o_orderkey")).as("id"),
        col("o_orderkey").cast("long").as("iid"),
        md5(col("o_orderkey").cast("string")).as("mergeCommitSha"),
        concat(lit("MR "), col("o_orderkey")).as("title"),
        lit("main").as("targetBranch"),
        concat(lit("feature/"), pmod(col("o_custkey"), lit(10))).as("sourceBranch"),
        date_format(col("o_orderdate").cast("timestamp"), tsFmt).as("createdAt"),
        date_format(col("o_orderdate").cast("timestamp")
          + expr("INTERVAL 2 DAY"), tsFmt).as("updatedAt"),
        date_format(col("o_orderdate").cast("timestamp")
          + expr("INTERVAL 1 DAY"), tsFmt).as("mergedAt"),
        concat(lit("org/proj-"), pmod(col("o_custkey"), lit(10))).as("projectPath")))
        .as("raw_json"))
  }

  /** ADO-Analytics-shaped raw-item drop built from `events`: one JSON
    * document per work item with the Analytics field names, surrogate date
    * keys (`date_utils.ts:27-33`), and a ClosedDateSK only for items whose
    * stream reached `purchase`.
    */
  private def adoItemsJson(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val last = ev
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("user_id"))
          .orderBy(col("ts").desc, col("event_id").desc)))
      .filter(col("__rn") === 1)
      .select(col("user_id"), col("event_type").as("state"))
    ev.groupBy(col("user_id")).agg(
        max(col("ts")).as("changed_ts"),
        max(when(col("event_type") === "purchase", col("ts"))).as("closed_ts"))
      .join(last, "user_id")
      .select(to_json(struct(
        concat(lit("WI-"), col("user_id").cast("string")).as("WorkItemId"),
        when(pmod(col("user_id"), lit(3)) === 0, "Story")
          .when(pmod(col("user_id"), lit(3)) === 1, "Bug")
          .otherwise("Task").as("WorkItemType"),
        pmod(col("user_id"), lit(7)).cast("long").as("AreaId"),
        date_format(col("changed_ts"), "yyyyMMdd").cast("long").as("ChangedDateSK"),
        date_format(col("closed_ts"), "yyyyMMdd").cast("long").as("ClosedDateSK"),
        col("state").as("State"))).as("raw_json"))
  }

  /** Stamp a stream-source directory's part files with strictly increasing
    * mtimes in file-name order (FileStreamSource consumes oldest-first):
    * one parquet job writes all parts within the same clock tick, so
    * without this the micro-batch arrival order — which the streaming
    * oracles above deliberately depend on (range files = FIFO arrival,
    * sentinel files = trailing watermark punctuation) — would be
    * arbitrary.
    */
  private def orderStreamFiles(dir: String, tail: Seq[Set[String]] = Nil): Unit = {
    val parts = new java.io.File(dir).listFiles()
      .filter(f => f.isFile && f.getName.startsWith("part-"))
    val tailRank = tail.zipWithIndex
      .flatMap { case (g, i) => g.map(_ -> (i + 1)) }.toMap
    val sorted = parts.sortBy(f => (tailRank.getOrElse(f.getName, 0), f.getName))
    val base = System.currentTimeMillis() - 7200L * 1000
    sorted.zipWithIndex.foreach { case (f, i) =>
      f.setLastModified(base + i * 60000L); ()
    }
  }

  /** workItemTypeMap fixture dimension: keyed on (project, raw type name);
    * SLE varies by project so the oracle proves the pair key matters.
    */
  private val rawTypeMaps: Seq[RevisionPipeline.TypeMapEntry] = for {
    p <- Seq("1000", "1001")
    (t, id, lvl, sle) <- Seq(
      ("Story", "wit-story", "Portfolio", 14),
      ("Bug", "wit-bug", "Team", 7),
      ("Task", "wit-task", "Individual", 5))
  } yield RevisionPipeline.TypeMapEntry(p, t, id, "Normalized " + t, lvl,
    sle + (if (p == "1001") 1 else 0))

  // ---- DuckDB oracles ------------------------------------------------------

  /** Shared CTE chain deriving q101's duplicated spans (ends in `spans`):
    * every 40-char window double-hashed with the engine's polynomial mods,
    * duplicated (h1,h2) keys, gaps-and-islands merge per document.
    */
  private lazy val substringWinCtes: String =
    s"""w0 AS (
       |  SELECT doc_id,
       |    unnest(generate_series(0, CAST(length(text) - 40 AS BIGINT))) AS pos,
       |    text
       |  FROM documents WHERE length(text) >= 40),
       |wins AS (
       |  SELECT doc_id, pos,
       |    ${graft.functions.TextHash.duckdbPoly(
            "substr(text, CAST(pos+1 AS INT), 40)", operators.Dedup.SpanMod1)} AS h1,
       |    ${graft.functions.TextHash.duckdbPoly(
            "substr(text, CAST(pos+1 AS INT), 40)", operators.Dedup.SpanMod2)} AS h2
       |  FROM w0)""".stripMargin

  private lazy val substringSpanCtes: String =
    s"""$substringWinCtes,
       |dup AS (SELECT h1, h2 FROM wins GROUP BY 1, 2 HAVING COUNT(*) > 1),
       |dw AS (SELECT w.doc_id, w.pos FROM wins w JOIN dup USING (h1, h2)),
       |isl AS (
       |  SELECT doc_id, pos,
       |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
       |  FROM dw),
       |spans AS (
       |  SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + 40 AS span_end,
       |    MAX(pos) + 40 - MIN(pos) AS span_len, COUNT(*) AS n_windows
       |  FROM isl GROUP BY doc_id, grp)""".stripMargin

  /** SRP signature/candidate/verified-pair CTE chain, parameterized by the
    * source CTE (must define `v(vec_id, e)` with e a double list), the
    * signature geometry, and the verify threshold: bit p of the signature
    * is the sign of the left-to-right double fold of e·w_p with the
    * deterministic LCG plane grid (same constants and summation order as
    * Similarity.srpSignatures); candidates from the bits/bands band join;
    * `srp_pairs` carries the exact verified cosine.
    */
  private def srpOracleCtes(srcCte: String, bits: Int, bands: Int,
                            threshold: Double): String =
    s"""$srcCte,
       |${srpSigChainCtes(bits, bands, threshold)}""".stripMargin

  /** The signature→bandrows→cand→srp_pairs tail of [[srpOracleCtes]],
    * for oracles that already define the `v(vec_id, e)` source CTE in a
    * wider chain (q79 appends it to the trained-IVF CTEs and intersects
    * `srp_pairs` with the cell assignment).
    */
  private def srpSigChainCtes(bits: Int, bands: Int,
                              threshold: Double): String = {
    val width = bits / bands
    val mask = (1L << width) - 1
    // plane p's sign bit lands at limb-relative position p%64 of limb
    // p/64 (one limb for <= 64 planes, the srp_lo/srp_hi pair past that —
    // the mirror of srpSignatures/srpSignatures128)
    def limbTerms(planes: Range, limbBase: Int): String = planes.map { p =>
      val q = p - limbBase
      // DuckDB refuses 1<<63 (signed overflow); the sign-bit term is the
      // INT64-min literal, the exact two's-complement value 1L<<63 is in
      // the Scala kernel
      val term = if (q == 63) "CAST(-9223372036854775808 AS BIGINT)"
        else s"(CAST(1 AS BIGINT) << $q)"
      s"""CASE WHEN list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |    list_transform(range(64), j -> e[j+1] *
         |      (CAST((${Similarity.SrpMulA}*($p*64+j)+${Similarity.SrpAddB}) % ${Similarity.SrpMod} AS DOUBLE)/${Similarity.SrpMod}.0 - 0.5))),
         |    (a, x) -> a + x) > 0 THEN $term ELSE CAST(0 AS BIGINT) END""".stripMargin
    }.mkString(" + ")
    val sigAndBands =
      if (bits <= 64)
        s"""sig AS (SELECT vec_id, (${limbTerms(0 until bits, 0)}) AS srp_sig FROM v),
           |bandrows AS (
           |  SELECT vec_id, band, (srp_sig >> (band*$width)) & $mask AS band_key
           |  FROM sig, (SELECT unnest(range($bands)) AS band) b)""".stripMargin
      else {
        val perLimb = 64 / width
        s"""sig AS (SELECT vec_id,
           |  (${limbTerms(0 until 64, 0)}) AS srp_lo,
           |  (${limbTerms(64 until bits, 64)}) AS srp_hi FROM v),
           |bandrows AS (
           |  SELECT vec_id, band,
           |    CASE WHEN band < $perLimb THEN (srp_lo >> (band*$width)) & $mask
           |         ELSE (srp_hi >> ((band-$perLimb)*$width)) & $mask END AS band_key
           |  FROM sig, (SELECT unnest(range($bands)) AS band) b)""".stripMargin
      }
    s"""$sigAndBands,
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS id_a, bb.vec_id AS id_b
       |  FROM bandrows a JOIN bandrows bb
       |    ON a.band = bb.band AND a.band_key = bb.band_key AND a.vec_id < bb.vec_id),
       |srp_pairs AS (
       |  SELECT id_a, id_b,
       |    ROUND(list_dot_product(va.e, vb.e) /
       |      (sqrt(list_dot_product(va.e, va.e)) * sqrt(list_dot_product(vb.e, vb.e))), 6) AS cosine
       |  FROM cand JOIN v va ON va.vec_id = id_a JOIN v vb ON vb.vec_id = id_b
       |  WHERE ROUND(list_dot_product(va.e, vb.e) /
       |      (sqrt(list_dot_product(va.e, va.e)) * sqrt(list_dot_product(vb.e, vb.e))), 6) >= $threshold)""".stripMargin
  }

  /** Trained-IVF CTE chain (shared by q52/q79): two decimal-exact Lloyd
    * iterations from the first 8 vectors (the mirror of
    * Similarity.ivfTrain with iterations = 2), then `af` assigns every
    * vector to its nearest trained cell — CTEs v, vn, c0, c1, c2, af.
    */
  private def ivfTrainedOracleCtes: String = {
    // one Lloyd iteration: assign to nearest centroid (cosine, tie cid),
    // recompute centroids as decimal-exact element-wise means
    def lloyd(cIn: String, aOut: String, mOut: String, cOut: String) =
      s"""$aOut AS (
         |  SELECT vec_id, e, nrm, cid AS cell FROM (
         |    SELECT a.vec_id, a.e, a.nrm, c.cid,
         |      row_number() OVER (PARTITION BY a.vec_id
         |        ORDER BY list_dot_product(a.e, c.ce)/(a.nrm*c.cn) DESC, c.cid) AS rn
         |    FROM vn a, $cIn c) WHERE rn = 1),
         |$mOut AS (
         |  SELECT cell, u.pos AS pos,
         |    CAST(SUM(CAST(u.val AS DECIMAL(38,15))) AS DOUBLE)/COUNT(*) AS m
         |  FROM $aOut, UNNEST(list_transform(range(len(e)),
         |    i -> struct_pack(pos := i, val := e[i+1]))) AS t(u)
         |  GROUP BY 1, 2),
         |$cOut AS (
         |  SELECT cid, ce, sqrt(list_dot_product(ce, ce)) AS cn FROM (
         |    SELECT cell AS cid, list(m ORDER BY pos) AS ce FROM $mOut GROUP BY 1))""".stripMargin
    s"""v AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
       |  FROM embeddings),
       |vn AS (SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm FROM v),
       |c0 AS (SELECT vec_id AS cid, e AS ce, nrm AS cn FROM vn WHERE vec_id < 8),
       |${lloyd("c0", "a1", "m1", "c1")},
       |${lloyd("c1", "a2", "m2", "c2")},
       |af AS (
       |  SELECT vec_id, e, nrm, cid AS cell FROM (
       |    SELECT a.vec_id, a.e, a.nrm, c.cid,
       |      row_number() OVER (PARTITION BY a.vec_id
       |        ORDER BY list_dot_product(a.e, c.ce)/(a.nrm*c.cn) DESC, c.cid) AS rn
       |    FROM vn a, c2 c) WHERE rn = 1)""".stripMargin
  }

  /** The q62/q76 chain: raw embeddings, 32-bit/4-band signatures,
    * threshold 0.35 — recall-tuned for the table's moderate-cosine pairs.
    */
  private def srpPairsOracleCtes: String = srpOracleCtes(
    """v AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      |  FROM embeddings)""".stripMargin,
    bits = 32, bands = 4, threshold = 0.35)

  /** The replica-corpus source CTE shared by the q81/q93 oracles: three
    * deterministic replicas per vector (±0.01/dim arithmetic noise on
    * replicas 1-2), mirroring [[replicaEmbeddings]].
    */
  private val replicaSrcCte =
    """vb AS (
      |  SELECT vec_id AS bid, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e0
      |  FROM embeddings),
      |v AS (
      |  SELECT bid + r*100000000 AS vec_id,
      |    CASE WHEN r = 0 THEN e0 ELSE
      |      list_transform(range(len(e0)), j -> e0[j+1] +
      |        (CAST((bid*31 + r*7 + j*13) % 1000 AS DOUBLE)/1000.0 - 0.5) * 0.02)
      |    END AS e
      |  FROM vb CROSS JOIN (SELECT unnest(range(3)) AS r) rr)""".stripMargin

  /** The q81 chain: 64-bit/4-band signatures (16-bit band keys),
    * threshold 0.9 — the dense-replica scale configuration.
    */
  private def srpWideOracleCtes: String =
    srpOracleCtes(replicaSrcCte, bits = 64, bands = 4, threshold = 0.9)

  /** The q93 chain: 128-bit two-limb signatures, 8×16-bit bands — wide
    * keys WITHOUT the band-count cut, threshold 0.9.
    */
  private def srp128OracleCtes: String =
    srpOracleCtes(replicaSrcCte, bits = 128, bands = 8, threshold = 0.9)

  /** MinHash signature CTE chain, generated from the same constants the
    * Spark operator uses (Sketches.MinhashA/B) over the same dictionary-free
    * 31-bit polynomial shingle hash (TextHash.poly / its list_reduce twin).
    */
  private def minhashSigCtes: String = {
    val p = Sketches.MinhashPrime
    val mh = (0 until 16).map(i =>
      s"MIN((sid*${Sketches.MinhashA(i)}+${Sketches.MinhashB(i)})%$p) AS mh$i").mkString(", ")
    val h = graft.functions.TextHash.duckdbPoly("shingle", graft.functions.TextHash.Mod31)
    s"""sh AS (
       |  SELECT doc_id AS doc, unnest(list_distinct(
       |    CASE WHEN len(toks) < 2 THEN [array_to_string(toks, ' ')]
       |         ELSE list_transform(range(len(toks) - 1), i -> array_to_string(toks[i+1:i+2], ' ')) END)) AS shingle
       |  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents)),
       |enc AS (SELECT doc, $h AS sid FROM sh),
       |sig AS (SELECT doc, $mh FROM enc GROUP BY doc)""".stripMargin
  }

  /** SimHash signature CTE chain (63-bit, unigram tokens, same poly-hash +
    * mix as Sketches.simhashSignatures — the 31-bit sid × 32-bit-prime
    * multiplier stays inside signed-64 range in both engines).
    */
  private def simhashSigCte: String = {
    val nb = Sketches.SimhashBits
    val sums = (0 until nb).map(i =>
      s"SUM(CASE WHEN (h >> $i) & 1 = 1 THEN 1 ELSE -1 END) AS s$i").mkString(", ")
    val bits = (0 until nb).map(i =>
      s"CASE WHEN s$i > 0 THEN (CAST(1 AS BIGINT) << $i) ELSE CAST(0 AS BIGINT) END").mkString(" + ")
    val h = graft.functions.TextHash.duckdbPoly("token", graft.functions.TextHash.Mod31)
    s"""toks AS (SELECT doc_id AS doc, unnest(string_split_regex(trim(text), '\\s+')) AS token FROM documents),
       |tenc AS (SELECT doc, (($h)*${Sketches.SimhashMulA}+${Sketches.SimhashAddB})%${Sketches.SimhashMod} AS h FROM toks),
       |tsums AS (SELECT doc, $sums FROM tenc GROUP BY doc),
       |simsig AS (SELECT doc AS doc_id, CAST($bits AS BIGINT) AS simhash FROM tsums)""".stripMargin
  }

  /** Whole-corpus HLL estimate per language — shared by q103 (direct) and
    * q116 (the same state reconstructed through incremental merges).
    */
  private lazy val hllEstimateOracleSql: String =
    s"""WITH h AS (
       |  SELECT lang,
       |    ${operators.Sketches.duckdbMd5Hash60("text")} AS hv
       |  FROM documents),
       |b AS (
       |  SELECT lang, hv % 64 AS bucket, CAST(hv // 64 AS BIGINT) AS rest
       |  FROM h),
       |regs AS (
       |  SELECT lang, bucket,
       |    MAX(CASE WHEN rest = 0 THEN 55
       |      ELSE 55 - length(bin(rest)) END) AS register
       |  FROM b GROUP BY 1, 2),
       |s AS (
       |  SELECT lang, COUNT(*) AS n_present,
       |    CAST(SUM(CAST(power(2.0, 55 - register) AS BIGINT)) AS BIGINT)
       |      AS present_sum
       |  FROM regs GROUP BY 1)
       |SELECT lang,
       |  CAST(64 - n_present AS BIGINT) AS n_zero_buckets,
       |  CAST(present_sum + (64 - n_present) * ${1L << 55} AS BIGINT)
       |    AS harmonic_sum_scaled,
       |  CAST(floor(${operators.Sketches.hllNumerator(6)} /
       |    CAST(present_sum + (64 - n_present) * ${1L << 55} AS DOUBLE))
       |    AS BIGINT) AS est_raw
       |FROM s""".stripMargin

  /** Per-subspace cosine-Lloyd chains + ADC scoring for q117 — the
    * ivfTrainedOracleCtes pattern generalized to sliced sub-vectors, one
    * chain per subspace, then decimal-exact cross-subspace sums.
    */
  private def pqOracleSql(subspaces: Int, subDim: Int, seedCount: Int,
                          nQueries: Int, k: Int,
                          ivfProbes: Option[Int] = None,
                          verifyEvery: Int): String = {
    def lloyd(src: String, cIn: String, aOut: String, mOut: String,
              cOut: String) =
      s"""$aOut AS (
         |  SELECT vec_id, e, nrm, cid AS cell FROM (
         |    SELECT a.vec_id, a.e, a.nrm, c.cid,
         |      row_number() OVER (PARTITION BY a.vec_id
         |        ORDER BY list_dot_product(a.e, c.ce)/(a.nrm*c.cn) DESC, c.cid) AS rn
         |    FROM $src a, $cIn c) WHERE rn = 1),
         |$mOut AS (
         |  SELECT cell, u.pos AS pos,
         |    CAST(SUM(CAST(u.val AS DECIMAL(38,15))) AS DOUBLE)/COUNT(*) AS m
         |  FROM $aOut, UNNEST(list_transform(range(len(e)),
         |    i -> struct_pack(pos := i, val := e[i+1]))) AS t(u)
         |  GROUP BY 1, 2),
         |$cOut AS (
         |  SELECT cid, ce, sqrt(list_dot_product(ce, ce)) AS cn FROM (
         |    SELECT cell AS cid, list(m ORDER BY pos) AS ce FROM $mOut GROUP BY 1))""".stripMargin
    val perSub = (0 until subspaces).map { s =>
      val (lo, hi) = (s * subDim + 1, (s + 1) * subDim)
      s"""vs$s AS (
         |  SELECT vec_id, e[$lo:$hi] AS e FROM v),
         |vn$s AS (SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm FROM vs$s),
         |s${s}c0 AS (SELECT vec_id AS cid, e AS ce, nrm AS cn FROM vn$s
         |  WHERE vec_id < $seedCount),
         |${lloyd(s"vn$s", s"s${s}c0", s"s${s}a1", s"s${s}m1", s"s${s}c1")},
         |${lloyd(s"vn$s", s"s${s}c1", s"s${s}a2", s"s${s}m2", s"s${s}c2")},
         |s${s}af AS (
         |  SELECT vec_id, cid AS code FROM (
         |    SELECT a.vec_id, c.cid,
         |      row_number() OVER (PARTITION BY a.vec_id
         |        ORDER BY list_dot_product(a.e, c.ce)/(a.nrm*c.cn) DESC, c.cid) AS rn
         |    FROM vn$s a, s${s}c2 c) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    val books = (0 until subspaces)
      .map(s => s"SELECT $s AS sub, cid, ce, cn FROM s${s}c2")
      .mkString(" UNION ALL ")
    val codes = (0 until subspaces)
      .map(s => s"SELECT vec_id, $s AS sub, code FROM s${s}af")
      .mkString(" UNION ALL ")
    val qslices = (0 until subspaces).map { s =>
      val (lo, hi) = (s * subDim + 1, (s + 1) * subDim)
      s"SELECT vec_id AS qid, $s AS sub, e[$lo:$hi] AS qv FROM v WHERE vec_id < $nQueries"
    }.mkString(" UNION ALL ")
    // Plain PQ scans every (query, code) pair; IVF-PQ first probes the
    // coarse trained cells (the SAME c2/af chain as q52's oracle) and
    // restricts the ADC distance table to candidates in probed cells.
    val prefix = ivfProbes match {
      case None =>
        """v AS (
          |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
          |  FROM embeddings)""".stripMargin
      case Some(_) => ivfTrainedOracleCtes
    }
    val candCtes = ivfProbes.map { p =>
      s"""qpr AS (
         |  SELECT qid, cell FROM (
         |    SELECT a.vec_id AS qid, c.cid AS cell,
         |      row_number() OVER (PARTITION BY a.vec_id
         |        ORDER BY list_dot_product(a.e, c.ce)/(a.nrm*c.cn) DESC, c.cid) AS rn
         |    FROM vn a, c2 c WHERE a.vec_id < $nQueries) WHERE rn <= $p),
         |cand AS (
         |  SELECT q.qid, f.vec_id AS vid
         |  FROM qpr q JOIN af f ON f.cell = q.cell
         |  WHERE f.vec_id <> q.qid),
         |""".stripMargin
    }.getOrElse("")
    val ptFrom = if (ivfProbes.isDefined)
      s"""  SELECT d.qid, c.vec_id AS vid,
         |    CAST(list_dot_product(q.qv, b.ce) AS DECIMAL(38,15)) AS p,
         |    CAST(b.cn*b.cn AS DECIMAL(38,15)) AS cn2
         |  FROM codes c
         |  JOIN cand d ON c.vec_id = d.vid
         |  JOIN books b ON c.sub = b.sub AND c.code = b.cid
         |  JOIN qsl q ON q.sub = c.sub AND q.qid = d.qid""".stripMargin
    else
      s"""  SELECT q.qid, c.vec_id AS vid,
         |    CAST(list_dot_product(q.qv, b.ce) AS DECIMAL(38,15)) AS p,
         |    CAST(b.cn*b.cn AS DECIMAL(38,15)) AS cn2
         |  FROM codes c
         |  JOIN books b ON c.sub = b.sub AND c.code = b.cid
         |  JOIN qsl q ON q.sub = c.sub
         |  WHERE c.vec_id <> q.qid""".stripMargin
    s"""WITH $prefix,
       |$perSub,
       |books AS ($books),
       |codes AS ($codes),
       |qsl AS ($qslices),
       |qn AS (
       |  SELECT vec_id AS qid, sqrt(list_dot_product(e, e)) AS qn FROM v
       |  WHERE vec_id < $nQueries),
       |${candCtes}pt AS (
       |$ptFrom),
       |sc AS (
       |  SELECT qid, vid,
       |    CAST(SUM(p) AS DOUBLE) AS approx_dot,
       |    sqrt(CAST(SUM(cn2) AS DOUBLE)) AS recon_norm
       |  FROM pt GROUP BY 1, 2),
       |scored AS (
       |  SELECT sc.qid, sc.vid,
       |    ROUND(sc.approx_dot / (qn.qn * sc.recon_norm), 6) AS pq_cos
       |  FROM sc JOIN qn USING (qid)),
       |rk AS (
       |  SELECT qid, vid, pq_cos,
       |    CAST(row_number() OVER (PARTITION BY qid
       |      ORDER BY pq_cos DESC, vid) AS BIGINT) AS rank
       |  FROM scored),
       |ep AS (
       |  SELECT a.vec_id AS qid, b.vec_id AS vid,
       |    list_dot_product(a.e, b.e) /
       |      (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))) AS cos
       |  FROM v a JOIN v b ON a.vec_id <> b.vec_id
       |  WHERE a.vec_id < $nQueries AND a.vec_id % $verifyEvery = 0),
       |et AS (
       |  SELECT qid, vid FROM (
       |    SELECT qid, vid,
       |      row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS rn
       |    FROM ep) WHERE rn <= $k)
       |SELECT r.qid AS query_id, r.rank, r.vid AS neighbor_id, r.pq_cos,
       |  CASE WHEN r.qid % $verifyEvery <> 0 THEN NULL
       |    WHEN et.vid IS NULL THEN 0 ELSE 1 END AS in_exact_topk
       |FROM rk r LEFT JOIN et ON r.qid = et.qid AND r.vid = et.vid
       |WHERE r.rank <= $k""".stripMargin
  }

  /** Per-user overall latest event — the final table both q84 (versioned
    * merge incl. stale replay) and q125 (post-compaction read-back) must
    * equal.
    */
  private lazy val bloomOracleSql: String = {
      val trainBits = (0 until 3).map(r =>
        s"SELECT ${Sketches.duckdbPosHash("sid", r, 65536)} AS bit FROM tr")
        .mkString(" UNION ALL ")
      val probeBits = (0 until 3).map(r =>
        s"SELECT doc, sid, ${Sketches.duckdbPosHash("sid", r, 65536)} AS bit FROM te")
        .mkString(" UNION ALL ")
      val h3 = graft.functions.TextHash.duckdbPoly("shingle",
        graft.functions.TextHash.Mod31)
      s"""WITH sh3 AS (
         |  SELECT doc_id AS doc, unnest(list_distinct(
         |    CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
         |         ELSE list_transform(range(len(toks) - 2),
         |           i -> array_to_string(toks[i+1:i+3], ' ')) END)) AS shingle
         |  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
         |        FROM documents)),
         |dsid AS (SELECT DISTINCT doc, $h3 AS sid FROM sh3),
         |tr AS (SELECT DISTINCT sid FROM dsid WHERE doc % 5 <> 0),
         |te AS (SELECT doc, sid FROM dsid WHERE doc % 5 = 0),
         |bits AS (SELECT DISTINCT bit FROM ($trainBits)),
         |pp AS ($probeBits),
         |bh AS (
         |  SELECT doc, sid FROM pp JOIN bits USING (bit)
         |  GROUP BY doc, sid HAVING COUNT(*) = 3),
         |bhd AS (SELECT doc, COUNT(*) AS n_bloom_hits FROM bh GROUP BY 1),
         |eh AS (
         |  SELECT doc, COUNT(*) AS n_exact_hits
         |  FROM te JOIN tr USING (sid) GROUP BY 1),
         |ns AS (SELECT doc, COUNT(*) AS n_shingles FROM te GROUP BY 1)
         |SELECT ns.doc AS doc_id, ns.n_shingles,
         |  CAST(COALESCE(bhd.n_bloom_hits, 0) AS BIGINT) AS n_bloom_hits,
         |  CAST(COALESCE(eh.n_exact_hits, 0) AS BIGINT) AS n_exact_hits,
         |  ROUND(CAST(COALESCE(bhd.n_bloom_hits, 0) AS DOUBLE) / ns.n_shingles, 6)
         |    AS bloom_frac
         |FROM ns LEFT JOIN bhd USING (doc) LEFT JOIN eh USING (doc)""".stripMargin
    }

  /** The CMS probe oracle (4×256 counters, top-10 exact-vs-estimate) —
    * shared by q113 (one-shot sketch) and q144 (incrementally-folded
    * counter table), which must estimate identically by construction.
    */
  private lazy val cmsOracleSql: String = {
    val h = graft.functions.TextHash.duckdbPoly("w",
      graft.functions.TextHash.Mod31)
    val matRows = (0 until 4).map(r =>
      s"SELECT $r AS r, ${operators.Sketches.duckdbPosHash("sid", r, 256)} AS c FROM sids")
      .mkString(" UNION ALL ")
    val probeRows = (0 until 4).map(r =>
      s"SELECT sid, exact_n, $r AS r, ${operators.Sketches.duckdbPosHash("sid", r, 256)} AS c FROM top")
      .mkString(" UNION ALL ")
    s"""WITH tok AS (
       |  SELECT unnest(string_split_regex(trim(text), '\\s+')) AS w
       |  FROM documents),
       |sids AS (SELECT $h AS sid FROM tok),
       |mat AS (SELECT r, c, COUNT(*) AS n FROM ($matRows) GROUP BY 1, 2),
       |ex AS (SELECT sid, COUNT(*) AS exact_n FROM sids GROUP BY 1),
       |top AS (SELECT sid, exact_n FROM ex ORDER BY exact_n DESC, sid LIMIT 10),
       |pr AS ($probeRows)
       |SELECT p.sid, CAST(p.exact_n AS BIGINT) AS exact_n,
       |  CAST(MIN(m.n) AS BIGINT) AS cms_est
       |FROM pr p JOIN mat m ON p.r = m.r AND p.c = m.c
       |GROUP BY 1, 2""".stripMargin
  }

  /** Okapi BM25 with linear idf and decimal cross-term sums — shared by
    * q133 (one-shot build) and q137 (incrementally-folded index), which
    * must answer identically by construction.
    */
  private lazy val bm25OracleSql: String =
    """WITH tk AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
      |  FROM documents),
      |dlen AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM tk),
      |p AS (
      |  SELECT doc_id, term, COUNT(*) AS tf FROM (
      |    SELECT doc_id, unnest(toks) AS term FROM tk) GROUP BY 1, 2),
      |dfq AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM p GROUP BY 1),
      |st AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl FROM dlen),
      |q(query_id, term) AS (VALUES
      |  (0, 'hash'), (0, 'join'), (0, 'table'),
      |  (1, 'stream'), (1, 'merge'), (1, 'batch'),
      |  (2, 'vector'), (2, 'scan'), (2, 'filter')),
      |c AS (
      |  SELECT q.query_id, p.doc_id,
      |    CAST((CAST(st.n_docs AS DOUBLE) / dfq.df) *
      |      ((CAST(p.tf AS DOUBLE) * (1.2 + 1.0)) /
      |       (CAST(p.tf AS DOUBLE) + 1.2 * (1.0 - 0.75 +
      |         0.75 * CAST(d.dl AS DOUBLE) /
      |           (CAST(st.sum_dl AS DOUBLE) / st.n_docs))))
      |      AS DECIMAL(38,15)) AS contrib
      |  FROM p
      |  JOIN q USING (term)
      |  JOIN dfq USING (term)
      |  JOIN dlen d USING (doc_id), st),
      |sc AS (
      |  SELECT query_id, doc_id,
      |    ROUND(CAST(SUM(contrib) AS DOUBLE), 6) AS score
      |  FROM c GROUP BY 1, 2)
      |SELECT query_id, rank, doc_id, score FROM (
      |  SELECT CAST(query_id AS BIGINT) AS query_id,
      |    CAST(row_number() OVER (PARTITION BY query_id
      |      ORDER BY score DESC, doc_id) AS BIGINT) AS rank,
      |    doc_id, score
      |  FROM sc)
      |WHERE rank <= 10""".stripMargin

  private lazy val latestUserStateOracleSql: String =
    """SELECT user_id, event_type AS state, CAST(ts AS TIMESTAMP) AS version_ts
      |FROM (
      |  SELECT user_id, event_type, ts,
      |    row_number() OVER (PARTITION BY user_id
      |      ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events) WHERE rn = 1""".stripMargin

  /** The q52 probed-top-k oracle (trained cells, top-2 probes, k=3),
    * shared verbatim by q122: the incremental index must answer searches
    * identically to the one-shot build.
    */
  private lazy val ivfTopkOracleSql: String =
    s"""WITH $ivfTrainedOracleCtes,
       |qc AS (
       |  SELECT vec_id AS query_id, e AS qe, nrm AS qn, cid AS cell FROM (
       |    SELECT a.vec_id, a.e, a.nrm, c.cid,
       |      row_number() OVER (PARTITION BY a.vec_id
       |        ORDER BY list_dot_product(a.e, c.ce)/(a.nrm*c.cn) DESC, c.cid) AS rn
       |    FROM vn a, c2 c WHERE a.vec_id >= 10 AND a.vec_id < 20) WHERE rn <= 2),
       |scored AS (
       |  SELECT q.query_id, x.vec_id AS neighbor_id,
       |    list_dot_product(q.qe, x.e)/(q.qn*x.nrm) AS cos
       |  FROM qc q JOIN af x ON q.cell = x.cell AND x.vec_id <> q.query_id)
       |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, ROUND(cos, 6) AS cosine
       |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
       |        ORDER BY cos DESC, neighbor_id) AS rank FROM scored)
       |WHERE rank <= 3""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q117_pq_topk" -> pqOracleSql(subspaces = 4, subDim = 16, seedCount = 8,
      nQueries = 10, k = 5, verifyEvery = 5),
    "q118_ivfpq_topk" -> pqOracleSql(subspaces = 4, subDim = 16,
      seedCount = 8, nQueries = 10, k = 5, ivfProbes = Some(2),
      verifyEvery = 5),
    // The oracle recomputes each window's polynomial hash directly
    // (O(k)/window vs the engine's O(1) rolling update — identical values
    // by modular arithmetic), then the same dup-count → semi-join →
    // gaps-and-islands chain.
    "q101_substring_dedup" ->
      s"""WITH $substringSpanCtes
         |SELECT doc_id, span_start, span_end, span_len, n_windows
         |FROM spans""".stripMargin,

    // Keep-first cut: the canonical (first) occurrence per window key is
    // derived in two grouped steps (min doc, then min pos within it) —
    // a different formulation than the engine's single min(struct), same
    // values exactly; then the same island merge over cut positions only.
    "q119_keep_first_cut" ->
      s"""WITH $substringWinCtes,
         |f1 AS (SELECT h1, h2, MIN(doc_id) AS fd FROM wins GROUP BY 1, 2),
         |f2 AS (
         |  SELECT w.h1, w.h2, f1.fd, MIN(w.pos) AS fp
         |  FROM wins w JOIN f1
         |    ON w.h1 = f1.h1 AND w.h2 = f1.h2 AND w.doc_id = f1.fd
         |  GROUP BY 1, 2, 3),
         |cw AS (
         |  SELECT w.doc_id, w.pos
         |  FROM wins w JOIN f2 ON w.h1 = f2.h1 AND w.h2 = f2.h2
         |  WHERE NOT (w.doc_id = f2.fd AND w.pos = f2.fp)),
         |isl AS (
         |  SELECT doc_id, pos,
         |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
         |  FROM cw)
         |SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + 40 AS span_end,
         |  MAX(pos) + 40 - MIN(pos) AS span_len, COUNT(*) AS n_windows
         |FROM isl GROUP BY doc_id, grp""".stripMargin,

    // q119's cut spans merged to their per-doc interval union, then the
    // splice REBUILT IN SQL: complement segments via LAG over the merged
    // intervals (ordered string_agg of the between-cut pieces plus the
    // tail), so the oracle derives the cut corpus text independently of
    // the engine's array-fold formulation.
    "q130_cut_apply" ->
      s"""WITH $substringWinCtes,
         |f1 AS (SELECT h1, h2, MIN(doc_id) AS fd FROM wins GROUP BY 1, 2),
         |f2 AS (
         |  SELECT w.h1, w.h2, f1.fd, MIN(w.pos) AS fp
         |  FROM wins w JOIN f1
         |    ON w.h1 = f1.h1 AND w.h2 = f1.h2 AND w.doc_id = f1.fd
         |  GROUP BY 1, 2, 3),
         |cw AS (
         |  SELECT w.doc_id, w.pos
         |  FROM wins w JOIN f2 ON w.h1 = f2.h1 AND w.h2 = f2.h2
         |  WHERE NOT (w.doc_id = f2.fd AND w.pos = f2.fp)),
         |isl AS (
         |  SELECT doc_id, pos,
         |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
         |  FROM cw),
         |cspans AS (
         |  SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + 40 AS span_end
         |  FROM isl GROUP BY doc_id, grp),
         |mx AS (
         |  SELECT doc_id, span_start, span_end,
         |    MAX(span_end) OVER (PARTITION BY doc_id ORDER BY span_start
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
         |  FROM cspans),
         |fl AS (
         |  SELECT doc_id, span_start, span_end,
         |    CASE WHEN prev_max IS NULL OR span_start >= prev_max
         |      THEN 1 ELSE 0 END AS ni
         |  FROM mx),
         |isl2 AS (
         |  SELECT doc_id, span_start, span_end,
         |    SUM(ni) OVER (PARTITION BY doc_id ORDER BY span_start
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
         |  FROM fl),
         |mg AS (
         |  SELECT doc_id, island, MIN(span_start) AS s, MAX(span_end) AS e
         |  FROM isl2 GROUP BY 1, 2),
         |nsp AS (SELECT doc_id, COUNT(*) AS ncs FROM mg GROUP BY 1),
         |pieces AS (
         |  SELECT doc_id,
         |    COALESCE(LAG(e) OVER (PARTITION BY doc_id ORDER BY s), 0) AS ps,
         |    s AS pe
         |  FROM mg),
         |body AS (
         |  SELECT p.doc_id,
         |    string_agg(substr(d.text, CAST(p.ps + 1 AS INT),
         |      CAST(p.pe - p.ps AS INT)), '' ORDER BY p.ps) AS b
         |  FROM pieces p JOIN documents d USING (doc_id) GROUP BY 1),
         |tl AS (
         |  SELECT m.doc_id, substr(d.text, CAST(MAX(m.e) + 1 AS INT)) AS t
         |  FROM mg m JOIN documents d USING (doc_id) GROUP BY m.doc_id, d.text),
         |kt AS (
         |  SELECT d.doc_id, d.text,
         |    CASE WHEN n.ncs IS NULL THEN d.text
         |      ELSE COALESCE(b.b, '') || COALESCE(tl.t, '') END AS kept_text,
         |    COALESCE(n.ncs, 0) AS ncs
         |  FROM documents d
         |  LEFT JOIN nsp n USING (doc_id)
         |  LEFT JOIN body b USING (doc_id)
         |  LEFT JOIN tl USING (doc_id))
         |SELECT doc_id, kept_text,
         |  CAST(length(text) AS BIGINT) AS n_chars,
         |  CAST(length(kept_text) AS BIGINT) AS n_kept_chars,
         |  CAST(ncs AS BIGINT) AS n_cut_spans,
         |  CAST(CASE WHEN length(trim(kept_text)) = 0 THEN 0
         |    ELSE len(string_split_regex(trim(kept_text), '\\s+')) END
         |    AS BIGINT) AS n_kept_tokens
         |FROM kt""".stripMargin,

    // q101's spans merged to their per-doc interval UNION (sweep expressed
    // as the same two windows the engine runs), then per-doc accounting.
    "q108_dedup_cut_stats" ->
      s"""WITH $substringSpanCtes,
         |mx AS (
         |  SELECT doc_id, span_start, span_end,
         |    MAX(span_end) OVER (PARTITION BY doc_id ORDER BY span_start
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
         |  FROM spans),
         |fl AS (
         |  SELECT doc_id, span_start, span_end,
         |    CASE WHEN prev_max IS NULL OR span_start >= prev_max
         |      THEN 1 ELSE 0 END AS ni
         |  FROM mx),
         |isl2 AS (
         |  SELECT doc_id, span_start, span_end,
         |    SUM(ni) OVER (PARTITION BY doc_id ORDER BY span_start
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
         |  FROM fl),
         |mg AS (
         |  SELECT doc_id, island, MIN(span_start) AS s, MAX(span_end) AS e
         |  FROM isl2 GROUP BY 1, 2),
         |pd AS (
         |  SELECT doc_id, CAST(SUM(e - s) AS BIGINT) AS n_dup_chars,
         |    COUNT(*) AS n_merged_spans
         |  FROM mg GROUP BY 1)
         |SELECT d.doc_id, CAST(length(d.text) AS BIGINT) AS n_chars,
         |  COALESCE(pd.n_dup_chars, 0) AS n_dup_chars,
         |  COALESCE(pd.n_merged_spans, 0) AS n_merged_spans,
         |  ROUND(CAST(COALESCE(pd.n_dup_chars, 0) AS DOUBLE) / length(d.text), 6)
         |    AS dup_fraction
         |FROM documents d LEFT JOIN pd USING (doc_id)""".stripMargin,

    // Same smoothed-probability arithmetic (identical casts and
    // association), counts derived independently in SQL.
    "q143_lm_quality_filter" ->
      """WITH tk AS (
        |  SELECT doc_id, doc_id % 7 = 0 AS is_train,
        |    string_split_regex(trim(text), '\s+') AS toks
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id, is_train,
        |    toks[CAST(i + 1 AS INT)] AS w1,
        |    toks[CAST(i + 2 AS INT)] AS w2
        |  FROM tk, UNNEST(range(len(toks) - 1)) AS t(i)),
        |c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM bg WHERE is_train
        |       GROUP BY 1, 2),
        |c1 AS (SELECT w1, COUNT(*) AS c1 FROM bg WHERE is_train GROUP BY 1),
        |vv AS (SELECT COUNT(DISTINCT t.tok) AS v FROM (
        |  SELECT unnest(toks) AS tok FROM tk WHERE is_train) t),
        |sc AS (
        |  SELECT b.doc_id,
        |    CAST((CAST(COALESCE(c2.c2, 0) AS DOUBLE) + 1.0) /
        |      (CAST(COALESCE(c1.c1, 0) AS DOUBLE) + CAST(vv.v AS DOUBLE))
        |      AS DECIMAL(38,15)) AS pd
        |  FROM bg b
        |  LEFT JOIN c2 ON b.w1 = c2.w1 AND b.w2 = c2.w2
        |  LEFT JOIN c1 ON b.w1 = c1.w1, vv)
        |SELECT doc_id, COUNT(*) AS n_bigrams,
        |  ROUND(CAST(SUM(pd) AS DOUBLE) / COUNT(*), 6) AS lm_score,
        |  ROUND(CAST(SUM(pd) AS DOUBLE) / COUNT(*), 6) >= 0.01 AS keep
        |FROM sc GROUP BY 1""".stripMargin,

    // One plain cumsum per language (fixture-scale), same keep rule:
    // running total ≤ floor(weight·budget), LCG priority order.
    "q136_token_mixture" ->
      """WITH d AS (
        |  SELECT doc_id, lang,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
        |      AS n_tokens,
        |    (((doc_id % 2147483647)*1103515245 + 12345) % 2147483647) AS pri
        |  FROM documents),
        |w(lang, wt) AS (VALUES
        |  ('en', 0.5), ('es', 0.2), ('fr', 0.2), ('zh', 0.1)),
        |b AS (
        |  SELECT d.*, CAST(floor(w.wt * 10000.0) AS BIGINT) AS lang_budget
        |  FROM d JOIN w USING (lang)),
        |c AS (
        |  SELECT lang, lang_budget, n_tokens,
        |    SUM(n_tokens) OVER (PARTITION BY lang
        |      ORDER BY pri, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM b)
        |SELECT lang, lang_budget, COUNT(*) AS n_docs,
        |  CAST(SUM(n_tokens) AS BIGINT) AS n_kept_tokens
        |FROM c WHERE cum <= lang_budget
        |GROUP BY 1, 2""".stripMargin,

    // Same Okapi arithmetic with the SAME literal folds and association
    // (so every double op rounds identically), linear N/df idf, decimal
    // cross-term sum — independent join order and window formulation.
    "q133_bm25_topk" -> bm25OracleSql,

    // The incrementally-folded index must answer EXACTLY like the
    // one-shot build: same oracle as q133 verbatim. A double-applied
    // replay would inflate tf/dl and shift every score.
    "q137_incremental_bm25" -> bm25OracleSql,

    "q102_kmv_distinct" ->
      s"""WITH h AS (
         |  SELECT DISTINCT lang,
         |    ${operators.Sketches.duckdbMd5Hash60("text")} AS hv
         |  FROM documents),
         |r AS (
         |  SELECT lang, hv,
         |    row_number() OVER (PARTITION BY lang ORDER BY hv) AS rn
         |  FROM h),
         |kk AS (
         |  SELECT lang, COUNT(*) AS n_seen, MAX(hv) AS kth_min_hash
         |  FROM r WHERE rn <= 16 GROUP BY 1),
         |ex AS (SELECT lang, COUNT(DISTINCT text) AS exact_distinct
         |  FROM documents GROUP BY 1)
         |SELECT lang, n_seen, kth_min_hash,
         |  CASE WHEN n_seen < 16 THEN n_seen
         |    ELSE CAST(floor((CAST(15 AS DOUBLE) * ${operators.Sketches.KmvHashSpace}) /
         |      CAST(kth_min_hash AS DOUBLE)) AS BIGINT) END AS est_distinct,
         |  exact_distinct
         |FROM kk JOIN ex USING (lang)""".stripMargin,

    "q103_hll_estimate" -> hllEstimateOracleSql,

    // registers merged incrementally through mergeVersioned are monotone
    // maxes — max(max(batch1), max(batch2)) = the whole-corpus register,
    // so the oracle is exactly q103's whole-corpus formulation
    "q116_incremental_hll" -> hllEstimateOracleSql,

    "q115_embedding_outliers" ->
      """WITH v AS (
        |  SELECT vec_id, CAST(label AS BIGINT) AS label,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |  FROM embeddings),
        |vn AS (SELECT vec_id, label, e, sqrt(list_dot_product(e, e)) AS nrm FROM v),
        |m AS (
        |  SELECT label, u.pos AS pos,
        |    CAST(SUM(CAST(u.val AS DECIMAL(38,15))) AS DOUBLE)/COUNT(*) AS m
        |  FROM vn, UNNEST(list_transform(range(len(e)),
        |    i -> struct_pack(pos := i, val := e[i+1]))) AS t(u)
        |  GROUP BY 1, 2),
        |c AS (
        |  SELECT label, ce, sqrt(list_dot_product(ce, ce)) AS cn FROM (
        |    SELECT label, list(m ORDER BY pos) AS ce FROM m GROUP BY 1)),
        |s AS (
        |  SELECT a.label, a.vec_id,
        |    ROUND(list_dot_product(a.e, c.ce)/(a.nrm*c.cn), 6) AS centroid_cos
        |  FROM vn a JOIN c USING (label)),
        |r AS (
        |  SELECT label, vec_id, centroid_cos,
        |    row_number() OVER (PARTITION BY label
        |      ORDER BY centroid_cos, vec_id) AS rn
        |  FROM s)
        |SELECT label, vec_id, centroid_cos FROM r WHERE rn <= 5""".stripMargin,

    "q104_stream_interval_join" ->
      """SELECT l.user_id AS user_id, l.event_id AS imp_id,
        |  r.event_id AS conv_id,
        |  CAST(l.ts AS TIMESTAMP) AS imp_ts, CAST(r.ts AS TIMESTAMP) AS conv_ts
        |FROM events l JOIN events r ON l.user_id = r.user_id
        |  AND l.event_id % 2 = 0 AND r.event_id % 2 = 1
        |  AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 30 MINUTE""".stripMargin,

    // Both engines rank by the ROUNDED score (then token) so near-tie
    // ordering is identical by construction.
    "q105_tfidf_topterms" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS token
        |  FROM documents),
        |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
        |dfq AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
        |n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
        |sc AS (
        |  SELECT doc_id, token, tf, df,
        |    ROUND(CAST(tf AS DOUBLE) * n_docs / df, 6) AS score
        |  FROM tf JOIN dfq USING (token) CROSS JOIN n),
        |rk AS (
        |  SELECT doc_id, token, tf, df, score,
        |    CAST(row_number() OVER (PARTITION BY doc_id
        |      ORDER BY score DESC, token) AS BIGINT) AS rank
        |  FROM sc)
        |SELECT doc_id, rank, token, CAST(tf AS BIGINT) AS tf,
        |  CAST(df AS BIGINT) AS df, score
        |FROM rk WHERE rank <= 3""".stripMargin,

    // The streaming left-outer's null rows = the batch anti join on the
    // same interval condition.
    "q106_stream_abandonment" ->
      """SELECT l.user_id AS user_id, l.event_id AS imp_id,
        |  CAST(l.ts AS TIMESTAMP) AS imp_ts
        |FROM events l
        |WHERE l.event_id % 2 = 0 AND NOT EXISTS (
        |  SELECT 1 FROM events r
        |  WHERE r.user_id = l.user_id AND r.event_id % 2 = 1
        |    AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 30 MINUTE)""".stripMargin,

    // LATERAL top-1 = the as-of argmax; (imp_ts DESC, imp_id DESC) mirrors
    // the engine's "last right row under (ts ASC, tie ASC)" exactly.
    "q107_asof_attribution" ->
      """WITH imp AS (
        |  SELECT user_id, event_id AS imp_id, ts AS imp_ts
        |  FROM events WHERE event_id % 2 = 0),
        |conv AS (
        |  SELECT user_id, event_id AS conv_id, ts AS conv_ts
        |  FROM events WHERE event_id % 2 = 1)
        |SELECT c.user_id, c.conv_id, CAST(c.conv_ts AS TIMESTAMP) AS conv_ts,
        |  i.imp_id, CAST(i.imp_ts AS TIMESTAMP) AS imp_ts
        |FROM conv c LEFT JOIN LATERAL (
        |  SELECT imp_id, imp_ts FROM imp i
        |  WHERE i.user_id = c.user_id AND i.imp_ts <= c.conv_ts
        |  ORDER BY i.imp_ts DESC, i.imp_id DESC LIMIT 1) i ON true""".stripMargin,

    // Quantization mirrored element-wise (floor(x·127/mx + 0.5) — floor,
    // never round(): the engines' round() ties disagree); quantized and
    // exact top-5 both ranked by (score DESC, neighbor_id).
    "q109_quantized_topk" ->
      """WITH v AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |  FROM embeddings),
        |qv AS (
        |  SELECT vec_id, e,
        |    list_aggregate(list_transform(e, x -> abs(x)), 'max') AS mx
        |  FROM v),
        |qq AS (
        |  SELECT vec_id,
        |    CASE WHEN mx = 0 THEN list_transform(e, x -> CAST(0 AS DOUBLE))
        |      ELSE list_transform(e, x -> floor(x*127.0/mx + 0.5)) END AS qd,
        |    e
        |  FROM qv),
        |qp AS (
        |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
        |    list_dot_product(a.qd, b.qd) /
        |      (sqrt(list_dot_product(a.qd, a.qd)) *
        |       sqrt(list_dot_product(b.qd, b.qd))) AS qcos
        |  FROM qq a JOIN qq b ON a.vec_id <> b.vec_id
        |  WHERE a.vec_id < 10),
        |qr AS (
        |  SELECT query_id, neighbor_id, qcos,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY qcos DESC, neighbor_id) AS BIGINT) AS rank
        |  FROM qp),
        |ep AS (
        |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
        |    list_dot_product(a.e, b.e) /
        |      (sqrt(list_dot_product(a.e, a.e)) *
        |       sqrt(list_dot_product(b.e, b.e))) AS cos
        |  FROM v a JOIN v b ON a.vec_id <> b.vec_id
        |  WHERE a.vec_id < 10),
        |er AS (
        |  SELECT query_id, neighbor_id,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos DESC, neighbor_id) AS rank
        |  FROM ep)
        |SELECT q.query_id, q.rank, q.neighbor_id, ROUND(q.qcos, 6) AS qcosine,
        |  CASE WHEN e.neighbor_id IS NULL THEN 0 ELSE 1 END AS in_exact_topk
        |FROM qr q LEFT JOIN (SELECT query_id, neighbor_id FROM er WHERE rank <= 5) e
        |  USING (query_id, neighbor_id)
        |WHERE q.rank <= 5""".stripMargin,

    "q110_event_funnel" ->
      """WITH u AS (SELECT DISTINCT user_id FROM events),
        |v AS (
        |  SELECT user_id, MIN(ts) AS t_view FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |c AS (
        |  SELECT e.user_id, MIN(e.ts) AS t_click
        |  FROM events e JOIN v USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts >= v.t_view
        |    AND e.ts <= v.t_view + INTERVAL 12 HOUR GROUP BY 1),
        |p AS (
        |  SELECT e.user_id, MIN(e.ts) AS t_purchase
        |  FROM events e JOIN c USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts >= c.t_click
        |    AND e.ts <= c.t_click + INTERVAL 12 HOUR GROUP BY 1)
        |SELECT u.user_id,
        |  CAST(v.t_view AS TIMESTAMP) AS t_view,
        |  CAST(c.t_click AS TIMESTAMP) AS t_click,
        |  CAST(p.t_purchase AS TIMESTAMP) AS t_purchase,
        |  CAST(CASE WHEN v.user_id IS NULL THEN 0 ELSE 1 END +
        |       CASE WHEN c.user_id IS NULL THEN 0 ELSE 1 END +
        |       CASE WHEN p.user_id IS NULL THEN 0 ELSE 1 END AS BIGINT)
        |    AS stages_reached
        |FROM u LEFT JOIN v USING (user_id) LEFT JOIN c USING (user_id)
        |  LEFT JOIN p USING (user_id)""".stripMargin,

    "q111_length_percentiles" ->
      """WITH d AS (
        |  SELECT lang,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS v
        |  FROM documents),
        |h AS (SELECT lang, v, COUNT(*) AS n FROM d GROUP BY 1, 2),
        |c AS (
        |  SELECT lang, v, n,
        |    SUM(n) OVER (PARTITION BY lang ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_n,
        |    SUM(n) OVER (PARTITION BY lang) AS total_n
        |  FROM h),
        |p AS (SELECT unnest([25, 50, 75, 90, 99]) AS pct)
        |SELECT c.lang, CAST(p.pct AS BIGINT) AS pct, c.v AS value
        |FROM c CROSS JOIN p
        |WHERE c.cum_n >= CAST(floor((p.pct * c.total_n + 99) / 100.0) AS BIGINT)
        |  AND c.cum_n - c.n < CAST(floor((p.pct * c.total_n + 99) / 100.0) AS BIGINT)""".stripMargin,

    "q112_stream_static_enrich" ->
      """WITH cohort AS (
        |  SELECT user_id, date_trunc('day', MIN(ts)) AS cohort_day
        |  FROM events GROUP BY 1)
        |SELECT CAST(date_trunc('day', e.ts) AS TIMESTAMP) AS day,
        |  CAST(c.cohort_day AS TIMESTAMP) AS cohort_day,
        |  COUNT(*) AS n_events
        |FROM events e JOIN cohort c USING (user_id)
        |GROUP BY 1, 2""".stripMargin,

    "q113_countmin_tokens" -> cmsOracleSql,

    // The incrementally-folded counter table must answer the SAME probes
    // with the SAME estimates as the one-shot sketch — oracle verbatim.
    "q144_incremental_cms" -> cmsOracleSql,

    "q114_bloom_contamination" -> bloomOracleSql,

    // The incrementally-unioned bit table must probe identically to the
    // one-shot filter - oracle verbatim.
    "q145_incremental_bloom" -> bloomOracleSql,

    "q01_scan_filter" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin,

    "q02_agg_pricing" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(38,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS sum_disc_price,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(38,2))) AS DOUBLE)/COUNT(*) AS avg_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,2))) AS DOUBLE)/COUNT(*) AS avg_price,
        |  COUNT(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q03_join_topn" ->
      """SELECT o_orderkey, o_orderdate, o_orderpriority,
        |  CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY o_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin,

    "q04_dedupe_consecutive" ->
      """SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type
        |FROM (SELECT *, lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pe
        |      FROM events)
        |WHERE pe IS NULL OR pe <> event_type""".stripMargin,

    "q05_cfd" ->
      """WITH daily AS (
        |  SELECT event_type AS state, CAST(ts AS DATE) AS flomatikasnapshotdate, COUNT(*) AS n
        |  FROM events GROUP BY 1, 2)
        |SELECT state, flomatikasnapshotdate,
        |  CAST(SUM(n) OVER (PARTITION BY state ORDER BY flomatikasnapshotdate
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS numberofitems
        |FROM daily WHERE state IN ('purchase')
        |UNION ALL
        |SELECT state, flomatikasnapshotdate, n AS numberofitems
        |FROM daily WHERE state NOT IN ('purchase')""".stripMargin,

    "q06_sessionize" ->
      """WITH b AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS boundary
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT user_id, ts,
        |    SUM(boundary) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS session_id
        |  FROM b)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |  CAST(MIN(ts) AS TIMESTAMP) AS session_start,
        |  CAST(MAX(ts) AS TIMESTAMP) AS session_end,
        |  COUNT(*) AS n_events
        |FROM s GROUP BY user_id, session_id""".stripMargin,

    "q07_dedup_exact" ->
      """SELECT md5(text) AS text_hash, COUNT(*) AS n_copies, MIN(doc_id) AS keep_id
        |FROM documents GROUP BY 1""".stripMargin,

    "q08_text_stats" ->
      """SELECT doc_id,
        |  CAST(len(toks) AS BIGINT) AS n_tokens,
        |  CAST(len(list_distinct(toks)) AS BIGINT) AS n_uniq_tokens,
        |  CAST(length(text) AS BIGINT) AS n_chars_measured,
        |  CAST(list_sum(list_transform(toks, t -> length(t))) AS BIGINT) AS sum_token_len,
        |  ROUND(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 6) AS uniq_ratio,
        |  ROUND(least(1.0, CAST(len(toks) AS DOUBLE) / 100.0) *
        |        (CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)), 6) AS quality_score
        |FROM (SELECT doc_id, text, string_split_regex(trim(text), '\s+') AS toks FROM documents)""".stripMargin,

    "q09_lang_id" ->
      """SELECT doc_id, lang, score_en, score_es,
        |  CASE WHEN score_en >= score_es AND score_en >= score_fr AND score_en >= score_zh AND score_en > 0 THEN 'en'
        |       WHEN score_es >= score_fr AND score_es >= score_zh AND score_es > 0 THEN 'es'
        |       WHEN score_fr >= score_zh AND score_fr > 0 THEN 'fr'
        |       WHEN score_zh > 0 THEN 'zh'
        |       ELSE 'unknown' END AS predicted_lang
        |FROM (
        |  SELECT doc_id, lang,
        |    CAST(len(list_filter(toks, t -> t IN ('the','a','and','of','to','in','is'))) AS BIGINT) AS score_en,
        |    CAST(len(list_filter(toks, t -> t IN ('el','la','de','los','y','en','es'))) AS BIGINT) AS score_es,
        |    CAST(len(list_filter(toks, t -> t IN ('le','la','de','les','et','en','est'))) AS BIGINT) AS score_fr,
        |    CAST(len(list_filter(toks, t -> t IN ('的','是','在','了','和'))) AS BIGINT) AS score_zh
        |  FROM (SELECT doc_id, lang, string_split_regex(trim(text), '\s+') AS toks FROM documents))""".stripMargin,

    "q10_cosine_topk" ->
      """WITH v AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |  FROM embeddings),
        |p AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    list_dot_product(q.e, c.e) /
        |      (sqrt(list_dot_product(q.e, q.e)) * sqrt(list_dot_product(c.e, c.e))) AS cos
        |  FROM v q JOIN v c ON q.vec_id <> c.vec_id
        |  WHERE q.vec_id < 10),
        |r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank FROM p)
        |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, ROUND(cos, 6) AS cosine
        |FROM r WHERE rank <= 5""".stripMargin,

    "q11_leadtime_stats" ->
      s"""WITH $leadTimeOracleCte
         |SELECT o_orderpriority,
         |  quantile_cont(lead, 0.5) AS lead_p50,
         |  quantile_cont(lead, 0.85) AS lead_p85,
         |  CAST(SUM(CAST(lead AS DECIMAL(38,0))) AS DOUBLE)/COUNT(lead) AS lead_avg,
         |  COUNT(*) AS n_items
         |FROM d GROUP BY 1""".stripMargin,

    "q12_throughput_quartiles" ->
      """WITH w AS (
        |  SELECT date_trunc('week', o_orderdate) AS wk, COUNT(*) AS n
        |  FROM orders WHERE o_orderstatus = 'F' GROUP BY 1)
        |SELECT MIN(n) AS min_weekly,
        |  quantile_cont(n, 0.25) AS q1, quantile_cont(n, 0.5) AS q2,
        |  quantile_cont(n, 0.75) AS q3, COUNT(*) AS n_weeks
        |FROM w""".stripMargin,

    "q13_profile_of_work" ->
      """SELECT o_orderpriority, COUNT(*) AS n,
        |  ROUND(CAST(COUNT(*) AS DOUBLE) * 100 / (SUM(COUNT(*)) OVER ()), 2) AS pct
        |FROM orders GROUP BY 1""".stripMargin,

    "q14_expedite_pct" ->
      """SELECT CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS n_expedite,
        |  COUNT(*) AS n_total,
        |  ROUND(CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS DOUBLE) * 100 / COUNT(*), 2) AS expedite_pct
        |FROM orders""".stripMargin,

    "q15_threshold_eval" ->
      s"""WITH subs AS (
         |  SELECT p AS o_orderpriority, dir AS direction,
         |         CAST(thr AS DOUBLE) AS threshold, CAST(tgt AS DOUBLE) AS target_value
         |  FROM (VALUES ('1-URGENT','up',5.0,30.0), ('2-HIGH','down',3.0,25.0),
         |               ('3-MEDIUM','both',2.0,28.0), ('4-NOT SPECIFIED','up',10.0,40.0),
         |               ('5-LOW','down',1.0,35.0)) AS t(p, dir, thr, tgt)),
         |$leadTimeOracleCte,
         |pred AS (SELECT o_orderpriority, quantile_cont(lead, 0.85) AS predicted_value FROM d GROUP BY 1)
         |SELECT o_orderpriority, direction, threshold, target_value, predicted_value,
         |  target_value - predicted_value AS diff,
         |  CASE direction WHEN 'up' THEN (target_value - predicted_value) > threshold
         |                 WHEN 'down' THEN (predicted_value - target_value) > threshold
         |                 ELSE abs(target_value - predicted_value) > threshold END AS notify
         |FROM subs JOIN pred USING (o_orderpriority)""".stripMargin,

    "q16_deleted_items" ->
      """SELECT c_custkey FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')""".stripMargin,

    "q17_reingest_keys" ->
      """SELECT DISTINCT s3_key FROM (
        |  SELECT 'state#' || c_mktsegment || '/' || CAST(o_orderkey AS VARCHAR) AS s3_key
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  UNION ALL
        |  SELECT 'ctx#' || o_orderpriority || '/' || CAST(o_orderkey AS VARCHAR) AS s3_key
        |  FROM orders)""".stripMargin,

    "q18_unmapped_steps" ->
      """SELECT event_type AS state, 9999 AS step_order, 'queue' AS state_type, false AS active
        |FROM (SELECT DISTINCT event_type FROM events)
        |WHERE event_type NOT IN ('click','view','purchase','signup')""".stripMargin,

    "q19_flagged_fill" ->
      """SELECT user_id, event_id,
        |  COALESCE(last_value(CASE WHEN event_type = 'error' THEN 1
        |                           WHEN event_type = 'purchase' THEN 0 END IGNORE NULLS)
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) = 1 AS flagged
        |FROM events""".stripMargin,

    "q20_json_extract" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_value
        |FROM events""".stripMargin,

    "q21_hourly_rollup" ->
      """SELECT event_type, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(38,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q22_ngram_jaccard" ->
      """WITH t AS (
        |  SELECT doc_id, list_distinct(CASE WHEN len(toks) < 2 THEN [array_to_string(toks, ' ')]
        |    ELSE list_transform(range(len(toks) - 1), i -> array_to_string(toks[i+1:i+2], ' ')) END) AS sh
        |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents)),
        |e AS (SELECT doc_id, unnest(sh) AS shingle FROM t),
        |sz AS (SELECT doc_id, COUNT(*) AS s FROM e GROUP BY 1),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
        |  FROM e a JOIN e b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b,
        |  ROUND(CAST(inter AS DOUBLE) / (sa.s + sb.s - inter), 6) AS jaccard
        |FROM p JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
        |WHERE ROUND(CAST(inter AS DOUBLE) / (sa.s + sb.s - inter), 6) >= 0.3""".stripMargin,

    "q23_embedding_neardup" ->
      """WITH v AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |  FROM embeddings)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  ROUND(list_dot_product(a.e, b.e) /
        |    (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))), 6) AS cosine
        |FROM v a JOIN v b ON a.vec_id < b.vec_id
        |WHERE ROUND(list_dot_product(a.e, b.e) /
        |    (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))), 6) >= 0.35""".stripMargin,

    "q24_event_dates" ->
      s"""WITH $eventDatesOracleCte
         |SELECT uid AS user_id, arrival, commitment, departure, is_delayed,
         |  delayed_rid AS delayed_event
         |FROM edev""".stripMargin,

    "q25_state_category_asof" ->
      s"""WITH $eventDatesOracleCte
         |SELECT e.event_id, e.user_id,
         |  CASE WHEN ev.arrival IS NULL OR CAST(e.ts AS TIMESTAMP) < ev.arrival THEN 'preceding'
         |       WHEN ev.commitment IS NULL OR CAST(e.ts AS TIMESTAMP) < ev.commitment THEN 'proposed'
         |       WHEN ev.departure IS NULL OR CAST(e.ts AS TIMESTAMP) < ev.departure THEN 'inprogress'
         |       ELSE 'completed' END AS category
         |FROM events e LEFT JOIN edev ev ON e.user_id = ev.uid""".stripMargin,

    "q26_minhash_lsh" -> {
      val bands = (0 until 4).map(b =>
        s"SELECT doc, $b AS band, concat_ws(':', mh${4*b}, mh${4*b+1}, mh${4*b+2}, mh${4*b+3}) AS band_key FROM sig")
        .mkString(" UNION ALL ")
      val matches = (0 until 16).map(i =>
        s"CASE WHEN sa.mh$i = sb.mh$i THEN 1 ELSE 0 END").mkString(" + ")
      s"""WITH $minhashSigCtes,
         |bandrows AS ($bands),
         |cand AS (
         |  SELECT DISTINCT a.doc AS id_a, b.doc AS id_b
         |  FROM bandrows a JOIN bandrows b
         |    ON a.band = b.band AND a.band_key = b.band_key AND a.doc < b.doc)
         |SELECT id_a, id_b, CAST(($matches) AS DOUBLE)/16 AS est_sim
         |FROM cand JOIN sig sa ON id_a = sa.doc JOIN sig sb ON id_b = sb.doc
         |WHERE CAST(($matches) AS DOUBLE)/16 >= 0.25""".stripMargin
    },

    "q27_simhash" ->
      s"""WITH $simhashSigCte
         |SELECT doc_id, simhash FROM simsig""".stripMargin,

    "q28_simhash_pairs" ->
      s"""WITH $simhashSigCte
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
         |FROM simsig a JOIN simsig b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 2""".stripMargin,

    "q29_fingerprint" ->
      """SELECT doc_id,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(string_split(text, ''), c -> CAST(unicode(c) AS BIGINT))),
        |    (a, x) -> (a*31 + x) % 1000000007) AS rolling_fp,
        |  md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS norm_md5
        |FROM documents""".stripMargin,

    "q30_ann_ivf" ->
      """WITH v AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |  FROM embeddings),
        |vn AS (SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm FROM v),
        |assign AS (
        |  SELECT vec_id, e, nrm, cid AS cell FROM (
        |    SELECT a.vec_id, a.e, a.nrm, c.vec_id AS cid,
        |      row_number() OVER (PARTITION BY a.vec_id
        |        ORDER BY list_dot_product(a.e, c.e)/(a.nrm*c.nrm) DESC, c.vec_id) AS rn
        |    FROM vn a JOIN vn c ON c.vec_id < 8)
        |  WHERE rn = 1),
        |scored AS (
        |  SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
        |    list_dot_product(q.e, x.e)/(q.nrm*x.nrm) AS cos
        |  FROM assign q JOIN assign x ON q.cell = x.cell AND x.vec_id <> q.vec_id
        |  WHERE q.vec_id >= 10 AND q.vec_id < 20)
        |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, ROUND(cos, 6) AS cosine
        |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
        |        ORDER BY cos DESC, neighbor_id) AS rank FROM scored)
        |WHERE rank <= 3""".stripMargin,

    "q31_insights_snapshot" ->
      s"""WITH $leadTimeOracleCte,
         |base AS (
         |  SELECT o_orderpriority,
         |    CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS wip_count,
         |    CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS throughput_total,
         |    CAST(SUM(CASE WHEN o_orderstatus = 'O'
         |          THEN CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2001-09-01') AS DECIMAL(38,0)) END) AS DOUBLE)
         |      / SUM(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS wip_age_avg
         |  FROM orders GROUP BY 1),
         |lead AS (
         |  SELECT o_orderpriority, quantile_cont(lead, 0.85) AS lead_p85,
         |    CAST(SUM(CAST(lead AS DECIMAL(38,0))) AS DOUBLE)/COUNT(lead) AS lead_avg
         |  FROM d GROUP BY 1)
         |SELECT base.*, lead.lead_p85, lead.lead_avg,
         |  ROUND(CAST(100.0 AS DOUBLE) * wip_age_avg / lead_p85, 2) AS flow_debt,
         |  ROUND(CAST(100.0 AS DOUBLE) * wip_count / throughput_total, 2) AS demand_over_capacity_pct
         |FROM base JOIN lead USING (o_orderpriority)""".stripMargin,

    "q32_dedup_keeplist" ->
      """WITH t AS (
        |  SELECT doc_id, list_distinct(CASE WHEN len(toks) < 2 THEN [array_to_string(toks, ' ')]
        |    ELSE list_transform(range(len(toks) - 1), i -> array_to_string(toks[i+1:i+2], ' ')) END) AS sh
        |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents)),
        |e AS (SELECT doc_id, unnest(sh) AS shingle FROM t),
        |sz AS (SELECT doc_id, COUNT(*) AS s FROM e GROUP BY 1),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
        |  FROM e a JOIN e b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |dropped AS (
        |  SELECT DISTINCT id_b FROM p
        |  JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
        |  WHERE ROUND(CAST(inter AS DOUBLE) / (sa.s + sb.s - inter), 6) >= 0.3)
        |SELECT doc_id FROM documents WHERE doc_id NOT IN (SELECT id_b FROM dropped)""".stripMargin,

    "q33_quality_filter" ->
      """SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
        |  ROUND(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 6) AS uniq_ratio
        |FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents)
        |WHERE len(toks) BETWEEN 20 AND 120
        |  AND ROUND(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 6) >= 0.3""".stripMargin,

    "q34_changelog_explode" ->
      s"""WITH $rawRevsOracleCte
         |SELECT 'ITEM-' || CAST(uid AS VARCHAR) AS work_item_id,
         |  CAST(rid AS BIGINT) AS revision,
         |  CAST(changed_ts AS TIMESTAMP) AS changed_date,
         |  status_id, status_name, status_text, rtype AS rev_type, assignee,
         |  CAST(NULL AS VARCHAR) AS blocked_reason,
         |  CAST(NULL AS VARCHAR) AS discarded_reason,
         |  flag_bit AS flagged, from_id, from_string
         |FROM rrev""".stripMargin,

    "q35_snapshot_pipeline" ->
      s"""WITH $rawRevsOracleCte,
         |$rawEventDatesCte,
         |steps(sid, sname, sorder, stype) AS (VALUES
         |  ('signup','signup',1,'queue'), ('view','view',2,'queue'),
         |  ('click','click',3,'active'), ('purchase','purchase',4,'queue')),
         |sj AS (
         |  SELECT r.uid, r.rid, r.changed_ts, r.status_id, r.status_name,
         |    r.status_text, r.rtype, r.assignee, r.flag_bit,
         |    CASE WHEN r.rtype = 'state_change' THEN s.sorder ELSE -999 END AS state_order,
         |    CASE WHEN r.rtype = 'state_change' THEN s.stype ELSE 'not applicable' END AS state_type,
         |    CASE WHEN r.rtype <> 'state_change' THEN 'not applicable'
         |         WHEN s.sorder < 1 THEN 'preceding'
         |         WHEN s.sorder < 3 THEN 'proposed'
         |         WHEN s.sorder < 4 THEN 'inprogress'
         |         ELSE 'completed' END AS step_category,
         |    CASE WHEN e.arrival IS NULL OR CAST(r.changed_ts AS TIMESTAMP) < e.arrival THEN 'preceding'
         |         WHEN e.commitment IS NULL OR CAST(r.changed_ts AS TIMESTAMP) < e.commitment THEN 'proposed'
         |         WHEN e.departure IS NULL OR CAST(r.changed_ts AS TIMESTAMP) < e.departure THEN 'inprogress'
         |         ELSE 'completed' END AS state_category,
         |    (e.delayed_rid IS NOT NULL AND r.rid >= e.delayed_rid) AS is_delayed
         |  FROM rrev r
         |  LEFT JOIN steps s ON r.rtype = 'state_change'
         |    AND r.status_id = s.sid AND r.status_name = s.sname
         |  LEFT JOIN edev e ON r.uid = e.uid),
         |inh AS (
         |  SELECT *,
         |    last_value(CASE WHEN rtype = 'state_change' THEN struct_pack(
         |        changed_ts := changed_ts, status_id := status_id,
         |        status_name := status_name, state_order := state_order,
         |        state_type := state_type, step_category := step_category,
         |        state_category := state_category, assignee := assignee,
         |        is_delayed := is_delayed) END IGNORE NULLS)
         |      OVER (PARTITION BY uid ORDER BY rid
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev,
         |    COALESCE(last_value(CASE WHEN rtype = 'flagged' AND flag_bit THEN 1
         |                             WHEN rtype = 'flagged' AND NOT flag_bit THEN 0 END IGNORE NULLS)
         |      OVER (PARTITION BY uid ORDER BY rid
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) = 1 AS interval_flag
         |  FROM sj),
         |flagfix AS (SELECT *, (rtype = 'flagged' AND prev IS NOT NULL) AS inherit FROM inh)
         |SELECT 'ITEM-' || CAST(uid AS VARCHAR) AS work_item_id,
         |  CAST(rid AS BIGINT) AS revision, rtype AS rev_type,
         |  CAST(changed_ts AS TIMESTAMP) AS snapshot_date,
         |  CAST(CASE WHEN inherit THEN prev.changed_ts ELSE changed_ts END AS TIMESTAMP) AS changed_date,
         |  CASE WHEN inherit THEN prev.status_id ELSE status_id END AS status_id,
         |  CASE WHEN inherit THEN prev.status_name ELSE status_name END AS status_name,
         |  CAST(CASE WHEN inherit THEN prev.state_order ELSE state_order END AS INTEGER) AS state_order,
         |  CASE WHEN rtype = 'flagged' AND prev IS NULL THEN 'queue'
         |       WHEN inherit THEN prev.state_type ELSE state_type END AS state_type,
         |  CASE WHEN inherit THEN prev.step_category ELSE step_category END AS step_category,
         |  CASE WHEN inherit THEN prev.state_category ELSE state_category END AS state_category,
         |  CASE WHEN inherit THEN prev.is_delayed ELSE is_delayed END AS is_delayed,
         |  interval_flag AS flagged,
         |  CASE WHEN inherit THEN prev.assignee ELSE assignee END AS assignee
         |FROM flagfix""".stripMargin,

    "q36_states_translate" ->
      s"""WITH $rawRevsOracleCte,
         |$rawEventDatesCte,
         |ucur AS (
         |  SELECT uid, event_type AS cur_status FROM (
         |    SELECT user_id AS uid, event_type,
         |      row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
         |    FROM events WHERE event_type IN ('signup','view','click','purchase')) WHERE rn = 1),
         |uass AS (
         |  SELECT uid, 'user-' || CAST(event_id % 7 AS VARCHAR) AS assigned_to FROM (
         |    SELECT user_id AS uid, event_id,
         |      row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
         |    FROM events WHERE event_type = 'signup') WHERE rn = 1),
         |uerr AS (SELECT user_id AS uid, COUNT(*) % 2 = 1 AS flagged
         |         FROM events WHERE event_type = 'error' GROUP BY 1),
         |uupd AS (SELECT user_id AS uid, MAX(ts) AS updated FROM events GROUP BY 1),
         |tm(tproj, ttype, tid, tdisplay, tlevel, tsle) AS (VALUES
         |  ('1000','Story','wit-story','Normalized Story','Portfolio',14),
         |  ('1000','Bug','wit-bug','Normalized Bug','Team',7),
         |  ('1000','Task','wit-task','Normalized Task','Individual',5),
         |  ('1001','Story','wit-story','Normalized Story','Portfolio',15),
         |  ('1001','Bug','wit-bug','Normalized Bug','Team',8),
         |  ('1001','Task','wit-task','Normalized Task','Individual',6)),
         |wsteps(sid2, sorder2, stype2) AS (VALUES
         |  ('signup',1,'queue'), ('view',2,'queue'),
         |  ('click',3,'active'), ('purchase',4,'queue')),
         |ubase AS (
         |  SELECT u.uid,
         |    coalesce(c.cur_status, 'signup') AS cur_status,
         |    a.assigned_to,
         |    coalesce(er.flagged, false) AS flagged,
         |    u.updated,
         |    '100' || CAST(u.uid % 2 AS VARCHAR) AS project_id,
         |    CASE WHEN u.uid % 3 = 0 THEN 'Story'
         |         WHEN u.uid % 3 = 1 THEN 'Bug' ELSE 'Task' END AS raw_type,
         |    CASE WHEN u.uid % 3 = 0 THEN 'ITEM-' || CAST(u.uid % 7 AS VARCHAR)
         |         WHEN u.uid % 3 = 1 THEN 'PL-' || CAST(u.uid % 13 AS VARCHAR)
         |         WHEN u.uid % 2 = 0 THEN 'EPIC-' || CAST(u.uid % 11 AS VARCHAR)
         |    END AS parent_id
         |  FROM uupd u
         |  LEFT JOIN ucur c ON u.uid = c.uid
         |  LEFT JOIN uass a ON u.uid = a.uid
         |  LEFT JOIN uerr er ON u.uid = er.uid)
         |SELECT 'ITEM-' || CAST(b.uid AS VARCHAR) AS work_item_id,
         |  'Item ' || CAST(b.uid AS VARCHAR) AS title,
         |  t.tdisplay AS work_item_type,
         |  b.cur_status AS state,
         |  s.stype2 AS state_type,
         |  CAST(s.sorder2 AS VARCHAR) AS state_order,
         |  b.assigned_to,
         |  b.project_id,
         |  b.parent_id,
         |  t.tid AS flomatika_type_id,
         |  t.tlevel AS type_level,
         |  t.tsle AS sle_days,
         |  b.flagged,
         |  CAST(b.updated AS TIMESTAMP) AS changed_date,
         |  e.arrival AS arrival_date,
         |  e.commitment AS commitment_date,
         |  e.departure AS departure_date,
         |  e.is_delayed,
         |  CASE WHEN s.sorder2 < 1 THEN 'preceding' WHEN s.sorder2 < 3 THEN 'proposed'
         |       WHEN s.sorder2 < 4 THEN 'inprogress' ELSE 'completed' END AS step_category,
         |  CASE WHEN e.departure IS NOT NULL THEN 'completed'
         |       WHEN e.commitment IS NOT NULL THEN 'inprogress'
         |       WHEN e.arrival IS NOT NULL THEN 'proposed' ELSE 'preceding' END AS state_category,
         |  'state#org-1' AS partition_key,
         |  'ds-1#ITEM-' || CAST(b.uid AS VARCHAR) AS sort_key
         |FROM ubase b
         |LEFT JOIN tm t ON b.project_id = t.tproj AND b.raw_type = t.ttype
         |LEFT JOIN wsteps s ON b.cur_status = s.sid2
         |LEFT JOIN edev e ON b.uid = e.uid""".stripMargin,

    "q37_insights_wide" ->
      """WITH la AS (
        |  SELECT l_orderkey, MAX(l_shipdate) AS departure, MIN(l_shipdate) AS first_ship,
        |    MAX(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS has_return,
        |    MAX(CASE WHEN l_shipdate > o_orderdate + INTERVAL 100 DAY THEN 1 ELSE 0 END) AS has_late
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY 1),
        |it AS (
        |  SELECT o_orderpriority AS cos,
        |    CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 'Portfolio' ELSE 'Team' END AS lvl,
        |    CASE WHEN o_orderstatus = 'F' THEN 'completed'
        |         WHEN o_orderstatus = 'O' THEN 'open' ELSE 'discarded' END AS status,
        |    o_orderdate AS arrival, departure,
        |    date_diff('day', CAST(o_orderdate AS DATE), CAST(departure AS DATE)) AS lead,
        |    date_diff('day', CAST(first_ship AS DATE), CAST(departure AS DATE)) AS active,
        |    has_return = 1 AS is_blocked, has_late = 1 AS is_late,
        |    CASE WHEN o_orderpriority = '1-URGENT' THEN 70 ELSE 90 END AS sle
        |  FROM orders JOIN la ON o_orderkey = l_orderkey),
        |m AS (SELECT
        |  quantile_cont(CASE WHEN status = 'completed' AND lvl <> 'Portfolio' THEN lead END, 0.85) AS lead_time_85,
        |  quantile_cont(CASE WHEN status = 'completed' AND lvl <> 'Portfolio' THEN lead END, 0.5) AS lead_p50,
        |  CAST(SUM(CASE WHEN status = 'completed' AND lvl <> 'Portfolio' THEN CAST(lead AS DECIMAL(38,0)) END) AS DOUBLE)
        |    / SUM(CASE WHEN status = 'completed' AND lvl <> 'Portfolio' THEN 1 ELSE 0 END) AS lead_time_team_avg,
        |  quantile_cont(CASE WHEN status = 'completed' AND lvl = 'Portfolio' THEN lead END, 0.85) AS lead_time_portfolio_85,
        |  CAST(SUM(CASE WHEN status = 'completed' AND lvl = 'Portfolio' THEN CAST(lead AS DECIMAL(38,0)) END) AS DOUBLE)
        |    / SUM(CASE WHEN status = 'completed' AND lvl = 'Portfolio' THEN 1 ELSE 0 END) AS lead_time_portfolio_avg,
        |  CAST(SUM(CASE WHEN status = 'open' THEN 1 ELSE 0 END) AS BIGINT) AS wip_count,
        |  quantile_cont(CASE WHEN status = 'open' THEN date_diff('day', CAST(arrival AS DATE), DATE '2001-09-01') END, 0.85) AS wip_age_85,
        |  CAST(SUM(CASE WHEN status = 'open' THEN CAST(date_diff('day', CAST(arrival AS DATE), DATE '2001-09-01') AS DECIMAL(38,0)) END) AS DOUBLE)
        |    / SUM(CASE WHEN status = 'open' THEN 1 ELSE 0 END) AS wip_age_avg,
        |  CAST(SUM(CASE WHEN status = 'completed' THEN 1 ELSE 0 END) AS BIGINT) AS total_throughput,
        |  ROUND(100.0 * CAST(SUM(CASE WHEN status = 'completed' THEN CAST(active AS DECIMAL(38,0)) END) AS DOUBLE)
        |    / CAST(SUM(CASE WHEN status = 'completed' THEN CAST(lead AS DECIMAL(38,0)) END) AS DOUBLE), 2) AS flow_efficiency,
        |  ROUND(100.0 * SUM(CASE WHEN status = 'completed' AND lead <= sle THEN 1 ELSE 0 END)
        |    / SUM(CASE WHEN status = 'completed' THEN 1 ELSE 0 END), 2) AS fitness_level,
        |  CAST(SUM(CASE WHEN status = 'open' AND date_diff('day', CAST(arrival AS DATE), DATE '2001-09-01') > 1825 THEN 1 ELSE 0 END) AS BIGINT) AS stale_work,
        |  CAST(SUM(CASE WHEN status = 'open' AND is_blocked THEN 1 ELSE 0 END) AS BIGINT) AS blockers,
        |  CAST(SUM(CASE WHEN status = 'open' AND is_late THEN 1 ELSE 0 END) AS BIGINT) AS delayed_items_count,
        |  CAST(SUM(CASE WHEN status = 'discarded' THEN 1 ELSE 0 END) AS BIGINT) AS discarded_after_start,
        |  COUNT(*) AS demand,
        |  ROUND(100.0 * SUM(CASE WHEN cos IN ('1-URGENT','2-HIGH','3-MEDIUM') THEN 1 ELSE 0 END) / COUNT(*), 2) AS value_demand,
        |  CAST(SUM(CASE WHEN arrival BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31' THEN 1 ELSE 0 END) AS BIGINT) AS inflow,
        |  CAST(SUM(CASE WHEN status = 'completed' AND departure BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31' THEN 1 ELSE 0 END) AS BIGINT) AS outflow,
        |  ROUND(CASE WHEN SUM(CASE WHEN cos = '1-URGENT' THEN 1 ELSE 0 END) > 0
        |    THEN CAST(SUM(CASE WHEN cos = '1-URGENT' THEN 1 ELSE 0 END) AS DOUBLE)
        |      / SUM(CASE WHEN cos IN ('1-URGENT','2-HIGH','5-LOW','3-MEDIUM') THEN 1 ELSE 0 END)
        |    ELSE 0.0 END, 6) AS expedite_pcnt
        |  FROM it),
        |wk AS (
        |  SELECT date_trunc('week', departure) AS week, COUNT(*) AS n
        |  FROM it WHERE status = 'completed' GROUP BY 1),
        |w AS (
        |  SELECT CAST(SUM(CAST(n AS DECIMAL(38,0))) AS DOUBLE) / COUNT(n) AS average_throughput,
        |    quantile_cont(n, 0.25) AS quantile_first, quantile_cont(n, 0.5) AS quantile_second,
        |    quantile_cont(n, 0.75) AS quantile_third, quantile_cont(n, 1.0) AS quantile_fourth
        |  FROM wk),
        |powe AS (SELECT cos, COUNT(*) AS n FROM it WHERE status = 'completed' GROUP BY 1),
        |pow AS (
        |  SELECT '{' || string_agg('"' || cos || '":' ||
        |      printf('%.2f', ROUND(CAST(n AS DOUBLE) * 100 / (SELECT SUM(n) FROM powe), 2)),
        |      ',' ORDER BY cos) || '}' AS profile_of_work
        |  FROM powe),
        |dr AS (
        |  SELECT l_returnflag AS reason, COUNT(*) AS n
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderstatus = 'O' AND l_shipdate > o_orderdate + INTERVAL 100 DAY
        |  GROUP BY 1),
        |ks AS (
        |  SELECT '{"keySourcesOfDelay":["' || string_agg(reason, '","' ORDER BY n DESC, reason) || '"]}' AS key_sources_of_delay
        |  FROM (SELECT * FROM dr ORDER BY n DESC, reason LIMIT 3))
        |SELECT m.lead_time_85, m.lead_time_team_avg, m.lead_time_portfolio_85,
        |  m.lead_time_portfolio_avg, m.wip_count, m.wip_age_85, m.wip_age_avg,
        |  m.total_throughput, m.total_throughput AS capacity, m.flow_efficiency,
        |  m.fitness_level, m.fitness_level AS lead_time_target_met,
        |  ROUND(100.0 * m.wip_age_avg / m.lead_time_85, 2) AS flow_debt,
        |  m.stale_work, m.blockers, m.delayed_items_count, m.discarded_after_start,
        |  m.demand, m.value_demand, m.inflow, m.outflow, m.expedite_pcnt,
        |  ROUND(100.0 * m.demand / m.total_throughput, 2) AS demand_over_capacity_percent,
        |  ROUND(100.0 * m.inflow / m.outflow, 2) AS inflow_outflow_percent,
        |  CASE WHEN m.lead_time_85 <= 2.0 * m.lead_p50 THEN 'High' ELSE 'Low' END AS lead_time_predictability,
        |  CASE WHEN w.quantile_third - w.quantile_first <= 0.5 * w.quantile_second THEN 'High' ELSE 'Low' END AS throughput_predictability,
        |  w.average_throughput, w.quantile_first, w.quantile_second,
        |  w.quantile_third, w.quantile_fourth,
        |  pow.profile_of_work, ks.key_sources_of_delay
        |FROM m, w, pow, ks""".stripMargin,

    "q38_ado_dedupe" ->
      """WITH arev AS (
        |  SELECT user_id AS wid, event_id AS rev, event_type AS state,
        |    CASE WHEN event_id % 11 <> 0 THEN 'user-' || CAST(event_id % 5 AS VARCHAR) END AS assignee,
        |    CASE WHEN event_type = 'error' THEN 'Yes'
        |         WHEN event_id % 2 = 0 THEN 'No' END AS blocked,
        |    CASE WHEN event_id % 5 <> 0 THEN 'v' || CAST(event_id % 3 AS VARCHAR) END AS cf
        |  FROM events),
        |sded AS (
        |  SELECT wid, rev, 'state' AS family, state AS value, CAST(NULL AS BOOLEAN) AS flagged
        |  FROM (SELECT wid, rev, state,
        |          lag(state) OVER w AS p, row_number() OVER w AS rn
        |        FROM arev WINDOW w AS (PARTITION BY wid ORDER BY rev))
        |  WHERE rn = 1 OR p IS DISTINCT FROM state),
        |aded AS (
        |  SELECT wid, rev, 'assignee' AS family, assignee AS value, CAST(NULL AS BOOLEAN) AS flagged
        |  FROM (SELECT wid, rev, assignee,
        |          lag(assignee) OVER w AS p, row_number() OVER w AS rn
        |        FROM arev WINDOW w AS (PARTITION BY wid ORDER BY rev))
        |  WHERE rn = 1 OR p IS DISTINCT FROM assignee),
        |bstart AS (
        |  SELECT wid, MIN(CASE WHEN blocked IS NOT NULL AND blocked <> 'No' THEN rev END) AS start
        |  FROM arev GROUP BY 1),
        |bded AS (
        |  SELECT wid, rev, 'blocked' AS family, blocked AS value,
        |    (blocked IS NOT NULL AND blocked <> 'No') AS flagged
        |  FROM (SELECT a.wid, a.rev, a.blocked,
        |          lag(a.blocked) OVER w AS p, row_number() OVER w AS rn
        |        FROM arev a JOIN bstart s ON a.wid = s.wid
        |        WHERE s.start IS NOT NULL AND a.rev >= s.start
        |        WINDOW w AS (PARTITION BY a.wid ORDER BY a.rev))
        |  WHERE rn = 1 OR p IS DISTINCT FROM blocked),
        |cded AS (
        |  SELECT wid, rev, 'custom' AS family, cf AS value, CAST(NULL AS BOOLEAN) AS flagged
        |  FROM (SELECT wid, rev, cf,
        |          lag(cf) OVER w AS p, row_number() OVER w AS rn
        |        FROM arev WHERE cf IS NOT NULL
        |        WINDOW w AS (PARTITION BY wid ORDER BY rev))
        |  WHERE rn = 1 OR p IS DISTINCT FROM cf)
        |SELECT wid AS work_item_id, rev AS revision, family, value, flagged
        |FROM (SELECT * FROM sded UNION ALL SELECT * FROM aded
        |      UNION ALL SELECT * FROM bded UNION ALL SELECT * FROM cded)""".stripMargin,

    "q39_membership_refresh" ->
      """SELECT 'legacy' AS context_id, o_orderkey AS work_item_id
        |FROM orders WHERE o_orderkey % 97 = 0
        |UNION ALL
        |SELECT o_orderpriority, o_orderkey
        |FROM orders
        |WHERE o_orderpriority IN ('1-URGENT','2-HIGH') AND o_totalprice > 150000""".stripMargin,

    "q40_multimodal_features" -> {
      val feats = (0 until 8).map { i =>
        s"""CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
           |    list_transform(list_filter(range(len(codes)), j -> j % 8 = $i),
           |      j -> codes[j+1])),
           |    (a, x) -> (a*131 + x) % 1000003) AS FLOAT) / CAST(1000003 AS FLOAT) AS f$i""".stripMargin
      }.mkString(",\n")
      s"""WITH c AS (
         |  SELECT doc_id AS asset_id,
         |    list_transform(string_split(text, ''), ch -> CAST(unicode(ch) AS BIGINT)) AS codes
         |  FROM documents WHERE regexp_full_match(text, '[\\x00-\\x7F]*'))
         |SELECT asset_id,
         |$feats
         |FROM c""".stripMargin
    },

    "q41_custom_fields" ->
      """WITH u AS (SELECT DISTINCT user_id AS uid FROM events),
        |cf29 AS (
        |  SELECT uid, 'Expedite' AS v FROM u WHERE uid % 5 = 0
        |  UNION ALL SELECT uid, 'Standard' FROM u WHERE uid % 5 = 1
        |  UNION ALL SELECT uid, 'plain' FROM u WHERE uid % 5 = 2
        |  UNION ALL SELECT uid, 'null' FROM u WHERE uid % 5 = 3
        |  UNION ALL SELECT uid, 'a' FROM u WHERE uid % 5 = 4
        |  UNION ALL SELECT uid, 'b' FROM u WHERE uid % 5 = 4),
        |cf14 AS (
        |  SELECT uid, 'EPIC-' || CAST(uid % 11 AS VARCHAR) AS v FROM u WHERE uid % 2 = 0)
        |SELECT 'ITEM-' || CAST(uid AS VARCHAR) AS work_item_id,
        |  'customfield_10029' AS field_name, 'Class of Service' AS display_name,
        |  v AS field_value, 'string' AS field_type
        |FROM cf29
        |UNION ALL
        |SELECT 'ITEM-' || CAST(uid AS VARCHAR), 'customfield_10014', 'Epic Link',
        |  v, 'string'
        |FROM cf14""".stripMargin,

    "q42_linked_items" ->
      """WITH u AS (SELECT DISTINCT user_id AS uid FROM events)
        |SELECT 'ITEM-' || CAST(uid AS VARCHAR) AS work_item_id,
        |  'blocks' AS link_type, 'ITEM-' || CAST(uid % 9 AS VARCHAR) AS linked_id
        |FROM u WHERE uid % 4 = 0
        |UNION ALL
        |SELECT 'ITEM-' || CAST(uid AS VARCHAR), 'clones',
        |  'ITEM-' || CAST(uid % 5 AS VARCHAR)
        |FROM u WHERE uid % 4 IN (0, 1)""".stripMargin,

    "q43_customfield_load" ->
      """WITH r1 AS (
        |  SELECT DISTINCT 'W' || CAST(o_orderkey % 20 AS VARCHAR) AS wid,
        |    'priority' AS name, o_orderpriority AS value FROM orders
        |  UNION
        |  SELECT DISTINCT 'W' || CAST(o_orderkey % 20 AS VARCHAR),
        |    'status', o_orderstatus FROM orders),
        |r2 AS (
        |  SELECT DISTINCT 'W' || CAST(o_orderkey % 20 AS VARCHAR) AS wid,
        |    'priority' AS name, 'R2-' || o_orderpriority AS value
        |  FROM orders WHERE o_orderkey % 20 < 8)
        |SELECT wid AS work_item_id, name, value FROM r1
        |WHERE wid NOT IN (SELECT wid FROM r2)
        |UNION ALL
        |SELECT wid, name, value FROM r2""".stripMargin,

    "q44_exclude_completed" ->
      """SELECT o_orderkey
        |FROM orders
        |JOIN (SELECT l_orderkey, MAX(l_shipdate) AS departure FROM lineitem GROUP BY 1) li
        |  ON o_orderkey = l_orderkey
        |WHERE CAST(departure AS DATE) >= DATE '1995-06-15'""".stripMargin,

    "q45_anonymize" -> {
      val words = "['lorem','ipsum','dolor','sit','amet','consectetur'," +
        "'adipiscing','elit','sed','do','eiusmod','tempor']"
      val names = "['Alex Doe','Sam Roe','Jes Poe','Kim Moe']"
      val lorem = (0 until 5)
        .map(i => s"($words)[CAST((h + $i) % 12 AS INTEGER) + 1]")
        .mkString("concat_ws(' ', ", ", ", ")")
      s"""WITH h AS (
         |  SELECT c_custkey,
         |    (c_custkey * 1103527591 + 456789) % 2147483647 AS h
         |  FROM customer)
         |SELECT c_custkey,
         |  $lorem AS anon_title,
         |  ($names)[CAST(h % 4 AS INTEGER) + 1] AS anon_assignee,
         |  'demo-org' AS org
         |FROM h""".stripMargin
    },

    "q46_field_map_copy" ->
      """SELECT o_orderkey,
        |  CASE WHEN o_orderstatus = 'O' THEN o_orderpriority END AS priority_flag
        |FROM orders""".stripMargin,

    "q47_sprint_transform" ->
      """SELECT 'ctx-' || n_name AS context_id,
        |  n_nationkey AS board_id, o_orderkey AS sprint_id,
        |  'Sprint ' || CAST(o_orderkey AS VARCHAR) AS sprint_name,
        |  CAST(o_orderdate AS TIMESTAMP) AS start_date,
        |  CAST(o_orderdate + INTERVAL 14 DAY AS TIMESTAMP) AS end_date
        |FROM nation JOIN orders ON o_custkey % 25 = n_nationkey
        |WHERE o_orderkey % 50 = 0""".stripMargin,

    "q48_vc_transform" ->
      """SELECT o_orderkey AS mr_id,
        |  md5(CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR)
        |    || '-' || CAST(l_partkey AS VARCHAR) || '-' || CAST(l_suppkey AS VARCHAR)) AS sha,
        |  'dev-' || CAST(l_suppkey % 7 AS VARCHAR) AS author_name,
        |  CAST(MAX(l_shipdate) AS TIMESTAMP) AS authored_date,
        |  o_custkey % 10 AS project_id,
        |  o_orderstatus AS state
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderkey % 20 = 0
        |GROUP BY o_orderkey, l_orderkey, l_linenumber, l_partkey, l_suppkey,
        |  o_custkey, o_orderstatus""".stripMargin,

    "q49_snapshot_upsert" ->
      """SELECT user_id, event_id,
        |  CASE WHEN event_id % 6 = 0 THEN 'r2-' || event_type
        |       ELSE 'v2-' || event_type END AS payload,
        |  CASE WHEN event_id % 6 = 0 THEN 1 ELSE 2 END AS ver
        |FROM events WHERE event_id % 3 = 0""".stripMargin,

    "q50_extract_worklist" ->
      """SELECT 'org-' || CAST(n_regionkey AS VARCHAR) AS org_id,
        |  'ds-' || CAST(n_nationkey AS VARCHAR) AS datasource_id,
        |  'jira-cloud' AS datasource_type,
        |  'states' AS run_type
        |FROM nation
        |WHERE n_nationkey % 2 = 0 AND n_nationkey % 3 <> 0""".stripMargin,

    "q51_notification_groups" ->
      """SELECT 'org-' || CAST(c_nationkey % 5 AS VARCHAR) AS org_id,
        |  'room-' || CAST(c_custkey % 7 AS VARCHAR) AS obeya_room_id,
        |  string_agg(CAST(c_custkey AS VARCHAR), ',' ORDER BY c_custkey) AS subscription_ids
        |FROM customer
        |GROUP BY 1, 2""".stripMargin,

    "q52_ann_kmeans" -> ivfTopkOracleSql,

    // q122 must END at exactly the one-shot search: assignment is
    // per-vector, so a correctly-maintained incremental index is
    // indistinguishable from a batch build — and a version-guard failure
    // (the stale replay's corrupted cells surviving) breaks the cell
    // join and hash-mismatches.
    "q122_incremental_ann" -> ivfTopkOracleSql,

    "q53_windowed_counts" ->
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
        |  CAST(date_trunc('hour', ts) + INTERVAL 1 HOUR AS TIMESTAMP) AS window_end,
        |  event_type, COUNT(*) AS n_events
        |FROM events GROUP BY 1, 2, 3""".stripMargin,

    "q54_sprint_load" ->
      """WITH sp AS (
        |  SELECT o_orderkey AS sprint_id,
        |    CASE WHEN o_orderkey % 100 = 0
        |         THEN 'Sprint R2 ' || CAST(o_orderkey AS VARCHAR)
        |         ELSE 'Sprint ' || CAST(o_orderkey AS VARCHAR) END AS sprint_name
        |  FROM orders WHERE o_orderkey % 50 = 0),
        |mp AS (
        |  SELECT DISTINCT l_orderkey AS sprint_id,
        |    'W' || CAST(l_partkey % 500 AS VARCHAR) AS work_item_id
        |  FROM lineitem WHERE l_orderkey % 50 = 0)
        |SELECT sp.sprint_id, sprint_name, work_item_id
        |FROM sp JOIN mp ON sp.sprint_id = mp.sprint_id""".stripMargin,

    "q55_vc_load" ->
      """SELECT o_orderkey AS mr_id, o_custkey % 10 AS project_id,
        |  CASE WHEN o_orderstatus = 'F' THEN 'merged' ELSE o_orderstatus END AS state,
        |  o_orderstatus AS pipeline_status
        |FROM orders WHERE o_orderkey % 20 = 0""".stripMargin,

    "q56_insights_save" ->
      """WITH r1 AS (
        |  SELECT o_custkey % 5 AS context_id, COUNT(*) AS wip_count,
        |    CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS throughput
        |  FROM orders GROUP BY 1),
        |r2 AS (
        |  SELECT o_custkey % 5 AS context_id, COUNT(*) AS wip_count,
        |    CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS throughput
        |  FROM orders
        |  WHERE o_orderpriority = '1-URGENT' AND o_custkey % 5 < 2 GROUP BY 1)
        |SELECT 'view-1' AS view_id, 'org-1' AS org_id, context_id, wip_count, throughput
        |FROM r2
        |UNION ALL
        |SELECT 'view-1', 'org-1', context_id, wip_count, throughput
        |FROM r1 WHERE context_id NOT IN (SELECT context_id FROM r2)""".stripMargin,

    "q57_step_writeback" ->
      """SELECT * FROM (VALUES
        |  ('signup', 0, 'active', true), ('click', 1, 'active', true),
        |  ('view', 2, 'active', true), ('purchase', 3, 'active', true))
        |  AS seed(state, step_order, state_type, active)
        |UNION ALL
        |SELECT DISTINCT event_type, 9999, 'queue', false FROM events
        |WHERE event_type NOT IN ('signup','click','view','purchase')""".stripMargin,

    "q58_watermark_advance" ->
      """WITH wm1 AS (
        |  SELECT user_id % 4 AS datasource_id, MAX(ts) AS wm
        |  FROM events WHERE ts <= TIMESTAMP '2024-01-18 00:00:00' GROUP BY 1),
        |b2 AS (
        |  SELECT e.user_id % 4 AS datasource_id, e.ts
        |  FROM events e JOIN wm1 ON e.user_id % 4 = wm1.datasource_id
        |  WHERE e.ts > wm1.wm)
        |SELECT datasource_id,
        |  CAST(MAX(ts) AS TIMESTAMP) AS next_run_start_from,
        |  COUNT(*) AS n_incremental
        |FROM b2 GROUP BY 1""".stripMargin,

    "q59_connector_scan" ->
      """WITH base AS (
        |  SELECT user_id, MAX(ts) AS updated FROM events GROUP BY 1),
        |ls AS (
        |  SELECT user_id, event_type AS cur FROM (
        |    SELECT user_id, event_type,
        |      row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM events WHERE event_type IN ('signup','view','click','purchase'))
        |  WHERE rn = 1)
        |SELECT 'ITEM-' || CAST(b.user_id AS VARCHAR) AS work_item_id,
        |  coalesce(ls.cur, 'signup') AS status,
        |  CASE WHEN b.user_id % 3 = 0 THEN 'Story'
        |       WHEN b.user_id % 3 = 1 THEN 'Bug' ELSE 'Task' END AS issue_type
        |FROM base b LEFT JOIN ls ON b.user_id = ls.user_id
        |WHERE b.updated > TIMESTAMP '2024-01-25 00:00:00'
        |  AND b.user_id % 2 = 0
        |  AND (CASE WHEN b.user_id % 3 = 0 THEN 'Story'
        |            WHEN b.user_id % 3 = 1 THEN 'Bug' ELSE 'Task' END) IN ('Story','Bug')""".stripMargin,

    "q60_automap_retranslate" ->
      s"""WITH $rawRevsOracleCte,
         |cnt AS (
         |  SELECT status_name AS state, COUNT(*) AS n_revisions
         |  FROM rrev WHERE rtype = 'state_change' GROUP BY 1)
         |SELECT state,
         |  CASE state WHEN 'signup' THEN 1 WHEN 'view' THEN 2
         |             WHEN 'click' THEN 3 ELSE 9999 END AS step_order,
         |  CASE state WHEN 'click' THEN 'active' ELSE 'queue' END AS state_type,
         |  state IN ('signup','view','click') AS active,
         |  n_revisions
         |FROM cnt""".stripMargin,

    "q61_streaming_merge" ->
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
        |  CAST(date_trunc('hour', ts) + INTERVAL 1 HOUR AS TIMESTAMP) AS window_end,
        |  event_type, COUNT(*) AS n_events
        |FROM events GROUP BY 1, 2, 3""".stripMargin,

    "q62_srp_neardup" ->
      s"""WITH $srpPairsOracleCtes
         |SELECT id_a, id_b, cosine FROM srp_pairs""".stripMargin,

    // Whatever micro-batching the file source chose, the accumulated
    // pairs table must equal the one-shot chain exactly.
    "q140_streaming_ingest_neardup" ->
      s"""WITH $srpPairsOracleCtes
         |SELECT id_a, id_b, cosine FROM srp_pairs""".stripMargin,

    // The full-corpus chain restricted to pairs touching the new batch:
    // set-algebra equal to (stored ∪ new) × new collisions, which is
    // what the engine's index join produces.
    "q139_ingest_neardup" ->
      s"""WITH $srpPairsOracleCtes
         |SELECT id_a, id_b, cosine FROM srp_pairs
         |WHERE id_a % 3 = 0 OR id_b % 3 = 0""".stripMargin,

    // Independent formulation: no orientation — wedges at the smallest
    // vertex of each canonical (a<b) edge pair, closed by a third edge
    // lookup; each triangle u<v<w appears exactly once with apex u.
    "q123_pair_triangles" ->
      s"""WITH $srpWideOracleCtes,
         |e AS (SELECT id_a AS a, id_b AS b FROM srp_pairs),
         |wdg AS (
         |  SELECT x.a AS u, x.b AS v, y.b AS w
         |  FROM e x JOIN e y ON x.a = y.a AND x.b < y.b),
         |tri AS (
         |  SELECT u, v, w FROM wdg JOIN e z ON wdg.v = z.a AND wdg.w = z.b),
         |verts AS (SELECT unnest([u, v, w]) AS vec_id FROM tri)
         |SELECT vec_id, CAST(COUNT(*) AS BIGINT) AS n_triangles
         |FROM verts GROUP BY 1""".stripMargin,

    // Same pair frame, same fixed-iteration recurrence unrolled as
    // chained CTEs; the decimal-exact incoming sums make the three rank
    // vectors bit-identical to the engine's.
    "q135_pair_pagerank" ->
      s"""WITH $srpWideOracleCtes,
         |und AS (SELECT id_a AS a, id_b AS b FROM srp_pairs),
         |e AS (SELECT a AS src, b AS dst FROM und
         |      UNION ALL SELECT b, a FROM und),
         |od AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY 1),
         |nn AS (SELECT COUNT(DISTINCT src) AS n FROM e),
         |r0 AS (SELECT src AS v, 1.0 / nn.n AS r
         |       FROM (SELECT DISTINCT src FROM e), nn),
         |c1 AS (SELECT e.dst, CAST(r0.r / od.outdeg AS DECIMAL(38,15)) AS c
         |       FROM e JOIN r0 ON e.src = r0.v JOIN od ON e.src = od.src),
         |r1 AS (SELECT dst AS v,
         |         (1.0 - 0.85) / nn.n + 0.85 * CAST(SUM(c) AS DOUBLE) AS r
         |       FROM c1, nn GROUP BY dst, nn.n),
         |c2 AS (SELECT e.dst, CAST(r1.r / od.outdeg AS DECIMAL(38,15)) AS c
         |       FROM e JOIN r1 ON e.src = r1.v JOIN od ON e.src = od.src),
         |r2 AS (SELECT dst AS v,
         |         (1.0 - 0.85) / nn.n + 0.85 * CAST(SUM(c) AS DOUBLE) AS r
         |       FROM c2, nn GROUP BY dst, nn.n),
         |c3 AS (SELECT e.dst, CAST(r2.r / od.outdeg AS DECIMAL(38,15)) AS c
         |       FROM e JOIN r2 ON e.src = r2.v JOIN od ON e.src = od.src),
         |r3 AS (SELECT dst AS v,
         |         (1.0 - 0.85) / nn.n + 0.85 * CAST(SUM(c) AS DOUBLE) AS r
         |       FROM c3, nn GROUP BY dst, nn.n)
         |SELECT v AS vec_id, ROUND(r, 6) AS pagerank FROM r3""".stripMargin,

    // Independent formulation: transitive closure by recursive CTE (the
    // engine uses iterative min-label propagation — same fixpoint).
    "q63_dedup_components" ->
      """WITH RECURSIVE t AS (
        |  SELECT doc_id, list_distinct(CASE WHEN len(toks) < 2 THEN [array_to_string(toks, ' ')]
        |    ELSE list_transform(range(len(toks) - 1), i -> array_to_string(toks[i+1:i+2], ' ')) END) AS sh
        |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents)),
        |e AS (SELECT doc_id, unnest(sh) AS shingle FROM t),
        |sz AS (SELECT doc_id, COUNT(*) AS s FROM e GROUP BY 1),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
        |  FROM e a JOIN e b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |prs AS (
        |  SELECT id_a, id_b
        |  FROM p JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
        |  WHERE ROUND(CAST(inter AS DOUBLE) / (sa.s + sb.s - inter), 6) >= 0.3),
        |ed AS (SELECT id_a AS u, id_b AS v FROM prs UNION SELECT id_b, id_a FROM prs),
        |reach(u, v) AS (
        |  SELECT u, v FROM ed
        |  UNION
        |  SELECT r.u, e2.v FROM reach r JOIN ed e2 ON r.v = e2.u)
        |SELECT u AS doc_id, LEAST(u, MIN(v)) AS comp FROM reach GROUP BY u""".stripMargin,

    "q64_contamination" ->
      """WITH t AS (
        |  SELECT doc_id, list_distinct(CASE WHEN len(toks) < 2 THEN [array_to_string(toks, ' ')]
        |    ELSE list_transform(range(len(toks) - 1), i -> array_to_string(toks[i+1:i+2], ' ')) END) AS sh
        |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents)),
        |e AS (SELECT doc_id, unnest(sh) AS shingle FROM t),
        |train AS (SELECT DISTINCT shingle FROM e WHERE doc_id % 5 <> 0),
        |test AS (SELECT doc_id, shingle FROM e WHERE doc_id % 5 = 0),
        |sz AS (SELECT doc_id, COUNT(*) AS n_shingles FROM test GROUP BY 1),
        |hit AS (
        |  SELECT doc_id, COUNT(*) AS n_hit FROM test
        |  WHERE shingle IN (SELECT shingle FROM train) GROUP BY 1)
        |SELECT sz.doc_id, CAST(sz.n_shingles AS BIGINT) AS n_shingles,
        |  CAST(COALESCE(hit.n_hit, 0) AS BIGINT) AS n_hit,
        |  ROUND(CAST(COALESCE(hit.n_hit, 0) AS DOUBLE) / sz.n_shingles, 6) AS contamination
        |FROM sz LEFT JOIN hit ON sz.doc_id = hit.doc_id""".stripMargin,

    // Same transitive closure as q63, then the survivor pick: max quality
    // (q08's score formula), tie on min doc id, per component.
    "q65_dedup_survivors" ->
      """WITH RECURSIVE t AS (
        |  SELECT doc_id, list_distinct(CASE WHEN len(toks) < 2 THEN [array_to_string(toks, ' ')]
        |    ELSE list_transform(range(len(toks) - 1), i -> array_to_string(toks[i+1:i+2], ' ')) END) AS sh
        |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents)),
        |e AS (SELECT doc_id, unnest(sh) AS shingle FROM t),
        |sz AS (SELECT doc_id, COUNT(*) AS s FROM e GROUP BY 1),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
        |  FROM e a JOIN e b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |prs AS (
        |  SELECT id_a, id_b
        |  FROM p JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
        |  WHERE ROUND(CAST(inter AS DOUBLE) / (sa.s + sb.s - inter), 6) >= 0.3),
        |ed AS (SELECT id_a AS u, id_b AS v FROM prs UNION SELECT id_b, id_a FROM prs),
        |reach(u, v) AS (
        |  SELECT u, v FROM ed
        |  UNION
        |  SELECT r.u, e2.v FROM reach r JOIN ed e2 ON r.v = e2.u),
        |comp AS (SELECT u AS doc_id, LEAST(u, MIN(v)) AS comp FROM reach GROUP BY u),
        |q AS (
        |  SELECT doc_id, ROUND(least(1.0, CAST(len(toks) AS DOUBLE) / 100.0) *
        |    (CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)), 6) AS quality_score
        |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents)),
        |m AS (
        |  SELECT c.comp, c.doc_id, q.quality_score,
        |    row_number() OVER (PARTITION BY c.comp ORDER BY q.quality_score DESC, c.doc_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY c.comp) AS n_members
        |  FROM comp c JOIN q ON c.doc_id = q.doc_id)
        |SELECT comp AS cluster_id, doc_id AS survivor_id,
        |  CAST(n_members AS BIGINT) AS n_members, quality_score
        |FROM m WHERE rn = 1""".stripMargin,

    // session_window's gap rule: a new session starts when the gap to the
    // previous event is >= 30 min (windows [ts, ts+gap) merge only on
    // OVERLAP); window_end = last event + gap.
    "q66_streaming_sessions" ->
      """WITH b AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts >= lag(ts) OVER w + INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS boundary
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT user_id, ts,
        |    SUM(boundary) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM b)
        |SELECT user_id,
        |  CAST(MIN(ts) AS TIMESTAMP) AS window_start,
        |  CAST(MAX(ts) + INTERVAL 30 MINUTE AS TIMESTAMP) AS window_end,
        |  COUNT(*) AS n_events
        |FROM s GROUP BY user_id, sid""".stripMargin,

    "q67_streaming_user_state" ->
      """WITH l AS (
        |  SELECT user_id, event_type,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_type DESC) AS rn
        |  FROM events),
        |c AS (SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY 1)
        |SELECT c.user_id, c.n_events, l.event_type AS last_type
        |FROM c JOIN l ON c.user_id = l.user_id AND l.rn = 1""".stripMargin,

    "q68_ado_connector_scan" ->
      """WITH agg AS (
        |  SELECT user_id, MAX(ts) AS changed_ts,
        |    MAX(CASE WHEN event_type = 'purchase' THEN ts END) AS closed_ts
        |  FROM events GROUP BY 1),
        |ls AS (
        |  SELECT user_id, event_type AS state FROM (
        |    SELECT user_id, event_type,
        |      row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM events) WHERE rn = 1),
        |f AS (
        |  SELECT 'WI-' || CAST(a.user_id AS VARCHAR) AS work_item_id,
        |    CASE WHEN a.user_id % 3 = 0 THEN 'Story'
        |         WHEN a.user_id % 3 = 1 THEN 'Bug' ELSE 'Task' END AS work_item_type,
        |    a.user_id % 7 AS area_id,
        |    CAST(strftime(a.changed_ts, '%Y%m%d') AS BIGINT) AS changed_date_sk,
        |    CAST(strftime(a.closed_ts, '%Y%m%d') AS BIGINT) AS closed_date_sk,
        |    ls.state
        |  FROM agg a JOIN ls ON a.user_id = ls.user_id)
        |SELECT work_item_id, work_item_type, area_id, state
        |FROM f
        |WHERE changed_date_sk >= 20240125
        |  AND work_item_type IN ('Story','Bug')
        |  AND area_id IN (1, 2, 3)
        |  AND (closed_date_sk IS NULL OR closed_date_sk >= 20240120)""".stripMargin,

    "q69_connector_idscan" ->
      """WITH base AS (SELECT DISTINCT user_id FROM events),
        |ls AS (
        |  SELECT user_id, event_type AS cur FROM (
        |    SELECT user_id, event_type,
        |      row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM events WHERE event_type IN ('signup','view','click','purchase'))
        |  WHERE rn = 1)
        |SELECT 'ITEM-' || CAST(b.user_id AS VARCHAR) AS work_item_id
        |FROM base b LEFT JOIN ls ON b.user_id = ls.user_id
        |WHERE coalesce(ls.cur, 'signup') = 'purchase'""".stripMargin,

    // Same RE2-safe pre-tokenizer regex on both engines (the leading
    // apostrophe is SQL-doubled).
    "q70_bpe_tokens" ->
      """SELECT event_id,
        |  CAST(len(regexp_extract_all(props,
        |    '''(?:[sdmt]|ll|ve|re)|\p{L}+|\p{N}+|[^\s\p{L}\p{N}]+')) AS BIGINT) AS n_bpe_tokens,
        |  CAST(len(string_split_regex(trim(props), '\s+')) AS BIGINT) AS n_ws_tokens
        |FROM events""".stripMargin,

    "q71_chunking" ->
      """WITH d AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |c AS (
        |  SELECT doc_id, toks,
        |    unnest(range(((len(toks) - 1) // 16) + 1)) AS chunk_id
        |  FROM d)
        |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
        |  array_to_string(toks[chunk_id*16+1 : chunk_id*16+32], ' ') AS chunk_text,
        |  CAST(len(toks[chunk_id*16+1 : chunk_id*16+32]) AS BIGINT) AS n_chunk_tokens
        |FROM c""".stripMargin,

    // Frames = every-2nd 16-byte window; ASCII-only filter makes the
    // character math equal the byte math.
    "q72_multimodal_frames" ->
      """WITH c AS (
        |  SELECT doc_id AS asset_id, text FROM documents
        |  WHERE regexp_full_match(text, '[\x00-\x7F]*')),
        |f AS (
        |  SELECT asset_id, text,
        |    unnest(range(0, greatest(1, length(text) // 16), 2)) AS frame_idx
        |  FROM c)
        |SELECT asset_id, CAST(frame_idx AS INT) AS frame_idx,
        |  CAST(length(substring(text, CAST(frame_idx*16+1 AS INT), 16)) AS BIGINT) AS n_bytes,
        |  CAST(COALESCE(list_sum(list_transform(
        |    string_split(substring(text, CAST(frame_idx*16+1 AS INT), 16), ''),
        |    ch -> unicode(ch))), 0) AS BIGINT) AS byte_sum
        |FROM f""".stripMargin,

    // Final state after initial + incremental + stale-replay rounds must
    // equal one latest row per item, with the watermark at the global max
    // updated stamp (ISO micros format, as the raw fixture serializes).
    "q73_incremental_etl_loop" ->
      """WITH base AS (SELECT user_id, MAX(ts) AS max_ts FROM events GROUP BY 1),
        |ls AS (
        |  SELECT user_id, event_type AS cur FROM (
        |    SELECT user_id, event_type,
        |      row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM events WHERE event_type IN ('signup','view','click','purchase'))
        |  WHERE rn = 1)
        |SELECT 'ITEM-' || CAST(b.user_id AS VARCHAR) AS work_item_id,
        |  coalesce(ls.cur, 'signup') AS status,
        |  CASE WHEN b.user_id % 3 = 0 THEN 'Story'
        |       WHEN b.user_id % 3 = 1 THEN 'Bug' ELSE 'Task' END AS issue_type,
        |  (SELECT strftime(MAX(ts), '%Y-%m-%dT%H:%M:%S.%f') FROM events) AS next_run_start_from
        |FROM base b LEFT JOIN ls ON b.user_id = ls.user_id""".stripMargin,

    "q74_salted_join" ->
      """SELECT e.event_id, e.event_type, d.category
        |FROM events e
        |JOIN (VALUES ('signup','acquisition'), ('view','engagement'),
        |             ('click','engagement'), ('purchase','revenue'),
        |             ('error','ops'), ('refund','revenue'))
        |  AS d(event_type, category)
        |  ON e.event_type = d.event_type""".stripMargin,

    "q75_bucketed_join" ->
      """SELECT o_orderpriority, COUNT(*) AS n_lines,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(38,2))) AS DOUBLE) AS sum_qty
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY 1""".stripMargin,

    // Transitive closure over the SRP pair graph (same independent
    // recursive-CTE formulation as q63 — the engine uses star contraction).
    "q76_embedding_clusters" ->
      s"""WITH RECURSIVE $srpPairsOracleCtes,
         |ed AS (SELECT id_a AS u, id_b AS w FROM srp_pairs
         |       UNION SELECT id_b, id_a FROM srp_pairs),
         |reach(u, w) AS (
         |  SELECT u, w FROM ed
         |  UNION
         |  SELECT r.u, e2.w FROM reach r JOIN ed e2 ON r.w = e2.u)
         |SELECT u AS vec_id, LEAST(u, MIN(w)) AS comp FROM reach GROUP BY u""".stripMargin,

    // Recompute the Kanbanize card fixture from events, then apply the
    // predicates the connector pushes (watermark on max event time,
    // workflow membership, owner present).
    "q77_kbz_connector_scan" ->
      """WITH agg AS (
        |  SELECT user_id, MAX(ts) AS modified_ts, COUNT(*) AS n_revs
        |  FROM events GROUP BY 1)
        |SELECT user_id AS card_id,
        |  'Card ' || CAST(user_id AS VARCHAR) AS title,
        |  user_id % 5 AS type_id,
        |  user_id % 4 AS workflow_id,
        |  user_id % 6 AS column_id,
        |  n_revs AS revision
        |FROM agg
        |WHERE modified_ts > TIMESTAMP '2024-01-25 00:00:00'
        |  AND user_id % 4 IN (1, 2)
        |  AND user_id % 13 <> 0""".stripMargin,

    // Recompute the GitLab MR fixture from orders, then apply the
    // predicates the connector pushes (updatedAfter watermark,
    // projectPath membership).
    "q78_gitlab_connector_scan" ->
      """SELECT 'gid://gitlab/MergeRequest/' || CAST(o_orderkey AS VARCHAR) AS mr_id,
        |  o_orderkey AS iid,
        |  md5(CAST(o_orderkey AS VARCHAR)) AS merge_commit_sha,
        |  'MR ' || CAST(o_orderkey AS VARCHAR) AS title,
        |  'feature/' || CAST(o_custkey % 10 AS VARCHAR) AS source_branch,
        |  strftime(CAST(o_orderdate AS TIMESTAMP) + INTERVAL 1 DAY,
        |           '%Y-%m-%dT%H:%M:%S.%f') AS merged_at
        |FROM orders
        |WHERE o_orderkey % 20 = 0
        |  AND CAST(o_orderdate AS TIMESTAMP) + INTERVAL 2 DAY
        |      > TIMESTAMP '1995-06-01 00:00:00'
        |  AND o_custkey % 10 = 3""".stripMargin,

    "q81_srp_wide_replicas" ->
      s"""WITH $srpWideOracleCtes
         |SELECT id_a, id_b, cosine FROM srp_pairs""".stripMargin,

    "q93_srp128_replicas" ->
      s"""WITH $srp128OracleCtes
         |SELECT id_a, id_b, cosine FROM srp_pairs""".stripMargin,

    // Doubled delivery + stream dedup must equal the single-delivery
    // truth — the q61 oracle verbatim: without the dedupe every count
    // would be exactly 2× and hash-mismatch.
    "q96_streaming_dedup" ->
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
        |  CAST(date_trunc('hour', ts) + INTERVAL 1 HOUR AS TIMESTAMP) AS window_end,
        |  event_type, COUNT(*) AS n_events
        |FROM events GROUP BY 1, 2, 3""".stripMargin,

    "q97_weighted_sampling" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST(floor(length(text)/128.0) AS BIGINT) AS len_bucket,
        |    ((doc_id % 2147483647)*1103515245 + 12345) % 2147483647 AS h
        |  FROM documents),
        |k AS (
        |  SELECT len_bucket,
        |    CASE WHEN h < CASE len_bucket WHEN 0 THEN 2147483647
        |                  WHEN 1 THEN 1073741823
        |                  WHEN 2 THEN 536870911
        |                  ELSE 214748364 END
        |         THEN 1 ELSE 0 END AS kept
        |  FROM d)
        |SELECT len_bucket, COUNT(*) AS n_total,
        |  CAST(SUM(kept) AS BIGINT) AS n_kept,
        |  ROUND(CAST(SUM(kept) AS DOUBLE) / COUNT(*), 6) AS observed_rate
        |FROM k GROUP BY 1""".stripMargin,

    // Stage mirrors: q33's rounded-ratio quality gate, q95's repetition
    // CTEs, q07's MIN(doc_id) survivor, q86's RE2 redaction counts on the
    // synthetic contact line (1 email + 1 IP per kept doc), q87's LCG
    // split — composed exactly as the engine composes the operators.
    "q100_curation_pipeline" ->
      """WITH t AS (
        |  SELECT doc_id, text, string_split_regex(trim(text), '\s+') AS toks
        |  FROM documents),
        |q AS (
        |  SELECT doc_id FROM t
        |  WHERE len(toks) BETWEEN 20 AND 120
        |    AND ROUND(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 6) >= 0.3),
        |sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) < 2 THEN [array_to_string(toks, ' ')]
        |      ELSE list_transform(range(len(toks) - 1), i -> array_to_string(toks[i+1:i+2], ' ')) END AS shl
        |  FROM t),
        |ce AS (
        |  SELECT doc_id, shingle, COUNT(*) AS n
        |  FROM (SELECT doc_id, unnest(shl) AS shingle FROM sh) GROUP BY 1, 2),
        |rep AS (
        |  SELECT doc_id FROM (
        |    SELECT doc_id,
        |      ROUND(CAST(MAX(n) AS DOUBLE) / SUM(n), 6) AS topf,
        |      ROUND(CAST(SUM(CASE WHEN n > 1 THEN n ELSE 0 END) AS DOUBLE) / SUM(n), 6) AS dupf
        |    FROM ce GROUP BY 1)
        |  WHERE topf <= 0.20 AND dupf <= 0.60),
        |sv AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
        |kept AS (
        |  SELECT d.doc_id, d.text FROM documents d
        |  JOIN q USING (doc_id) JOIN rep USING (doc_id) JOIN sv USING (doc_id)),
        |scrub AS (
        |  SELECT doc_id,
        |    len(regexp_extract_all(ptext,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) +
        |    len(regexp_extract_all(ptext,
        |      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_pii
        |  FROM (
        |    SELECT doc_id,
        |      text || ' contact user' || CAST(doc_id AS VARCHAR) ||
        |        '@example.com from 10.0.' || CAST(doc_id % 200 AS VARCHAR) ||
        |        '.7' AS ptext
        |    FROM kept))
        |SELECT CAST(floor(length(k.text)/128.0) AS BIGINT) AS len_bucket,
        |  CASE WHEN ((k.doc_id % 2147483647)*1103515245 + 12345) % 2147483647 < 1717986917 THEN 'train'
        |       WHEN ((k.doc_id % 2147483647)*1103515245 + 12345) % 2147483647 < 1932735282 THEN 'val'
        |       ELSE 'test' END AS split,
        |  COUNT(*) AS n_docs,
        |  CAST(SUM(s.n_pii) AS BIGINT) AS n_redactions
        |FROM kept k JOIN scrub s USING (doc_id)
        |GROUP BY 1, 2""".stripMargin,

    "q99_bpe_pair_counts" ->
      """WITH wd AS (
        |  SELECT word, COUNT(*) AS n_word FROM (
        |    SELECT unnest(string_split_regex(trim(text), '\s+')) AS word
        |    FROM documents)
        |  WHERE length(word) >= 2 GROUP BY 1),
        |pr AS (
        |  SELECT substring(word, CAST(i + 1 AS INT), 2) AS pair, n_word
        |  FROM wd, UNNEST(range(length(word) - 1)) AS t(i)),
        |ag AS (
        |  SELECT pair, CAST(SUM(n_word) AS BIGINT) AS weight FROM pr GROUP BY 1)
        |SELECT rank, pair, weight FROM (
        |  SELECT pair, weight,
        |    CAST(row_number() OVER (ORDER BY weight DESC, pair) AS BIGINT) AS rank
        |  FROM ag)
        |WHERE rank <= 20""".stripMargin,

    "q98_sharded_packing" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        |    (((doc_id % 2147483647)*1103515245 + 12345) % 2147483647) % 32 AS shard
        |  FROM documents),
        |p AS (
        |  SELECT shard, n_tokens,
        |    COALESCE(SUM(n_tokens) OVER (PARTITION BY shard
        |      ORDER BY n_tokens DESC, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior
        |  FROM d)
        |SELECT CAST(shard AS BIGINT) AS shard,
        |  CAST(floor(prior/512.0) AS BIGINT) AS bin,
        |  COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS n_bin_tokens
        |FROM p GROUP BY 1, 2""".stripMargin,

    // Non-distinct bigram occurrences (the q22 shingle formulation MINUS
    // the list_distinct), counted per (doc, shingle) then rolled up.
    "q95_repetition_filter" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) < 2 THEN [array_to_string(toks, ' ')]
        |      ELSE list_transform(range(len(toks) - 1), i -> array_to_string(toks[i+1:i+2], ' ')) END AS sh
        |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents)),
        |e AS (SELECT doc_id, unnest(sh) AS shingle FROM t),
        |c AS (SELECT doc_id, shingle, COUNT(*) AS n FROM e GROUP BY 1, 2),
        |r AS (
        |  SELECT doc_id,
        |    CAST(SUM(n) AS BIGINT) AS n_ngrams,
        |    CAST(MAX(n) AS BIGINT) AS top_ngram_count,
        |    ROUND(CAST(MAX(n) AS DOUBLE) / SUM(n), 6) AS top_ngram_frac,
        |    ROUND(CAST(SUM(CASE WHEN n > 1 THEN n ELSE 0 END) AS DOUBLE) / SUM(n), 6)
        |      AS dup_ngram_frac
        |  FROM c GROUP BY 1)
        |SELECT doc_id, n_ngrams, top_ngram_count, top_ngram_frac, dup_ngram_frac,
        |  (top_ngram_frac <= 0.20 AND dup_ngram_frac <= 0.60) AS keep
        |FROM r""".stripMargin,

    // Rounds 1+2 cover every work item (the boundary day is re-scanned
    // inclusively; the keyed merge makes overlap and the round-3 replay
    // no-ops), so the final table is the T2 state dedupe of every item's
    // full revision stream; watermark = max ChangedDateSK.
    "q94_ado_incremental_flow" ->
      """WITH st AS (
        |  SELECT user_id, event_id, ts, event_type FROM (
        |    SELECT user_id, event_id, ts, event_type,
        |      lag(event_type) OVER (PARTITION BY user_id ORDER BY event_id) AS pe
        |    FROM events)
        |  WHERE pe IS NULL OR pe <> event_type)
        |SELECT 'WI-' || CAST(user_id AS VARCHAR) AS work_item_id,
        |  CAST(event_id AS BIGINT) AS revision,
        |  event_type AS state,
        |  CAST(ts AS TIMESTAMP) AS changed_ts,
        |  (SELECT CAST(strftime(MAX(ts), '%Y%m%d') AS BIGINT) FROM events)
        |    AS watermark_sk
        |FROM st""".stripMargin,

    // Semantic dedup: same trained-IVF chain as q52, SRP band keys from
    // the shared sig chain, candidates = same cell AND same band bucket
    // (srp_pairs ∩ cell agreement), recursive-CTE transitive closure (the
    // q63/q76 formulation), survivor = max centroid-cosine per cluster
    // (tie min id).
    "q79_semantic_dedup" ->
      s"""WITH RECURSIVE $ivfTrainedOracleCtes,
         |${srpSigChainCtes(bits = 32, bands = 4, threshold = 0.35)},
         |qual AS (
         |  SELECT a.vec_id, a.cell, a.e, a.nrm,
         |    ROUND(list_dot_product(a.e, c.ce)/(a.nrm*c.cn), 6) AS q
         |  FROM af a JOIN c2 c ON a.cell = c.cid),
         |prs AS (
         |  SELECT p.id_a, p.id_b
         |  FROM srp_pairs p
         |  JOIN af x ON x.vec_id = p.id_a
         |  JOIN af y ON y.vec_id = p.id_b
         |  WHERE x.cell = y.cell),
         |ed AS (SELECT id_a AS u, id_b AS w FROM prs
         |       UNION SELECT id_b, id_a FROM prs),
         |reach(u, w) AS (
         |  SELECT u, w FROM ed
         |  UNION
         |  SELECT r.u, e2.w FROM reach r JOIN ed e2 ON r.w = e2.u),
         |cmp AS (SELECT u, LEAST(u, MIN(w)) AS comp FROM reach GROUP BY u)
         |SELECT comp AS cluster_id, vec_id AS survivor_id, n_members,
         |  q AS quality_score
         |FROM (
         |  SELECT c.comp, qu.vec_id, qu.q,
         |    row_number() OVER (PARTITION BY c.comp
         |      ORDER BY qu.q DESC, qu.vec_id) AS rn,
         |    COUNT(*) OVER (PARTITION BY c.comp) AS n_members
         |  FROM cmp c JOIN qual qu ON c.u = qu.vec_id)
         |WHERE rn = 1""".stripMargin,

    // Exact top-3 baseline vs the probed IVF search at probes 1/2/4 over
    // the same trained centroids; recall = hits/exact per probe setting.
    "q80_ivf_recall" ->
      s"""WITH $ivfTrainedOracleCtes,
         |exact AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY list_dot_product(q.e, x.e)/(q.nrm*x.nrm) DESC, x.vec_id) AS rank
         |    FROM vn q JOIN vn x ON x.vec_id <> q.vec_id
         |    WHERE q.vec_id >= 10 AND q.vec_id < 20) WHERE rank <= 3),
         |qprob AS (
         |  SELECT vec_id AS query_id, e AS qe, nrm AS qn, cid AS cell,
         |    rn AS probe_rank FROM (
         |    SELECT a.vec_id, a.e, a.nrm, c.cid,
         |      row_number() OVER (PARTITION BY a.vec_id
         |        ORDER BY list_dot_product(a.e, c.ce)/(a.nrm*c.cn) DESC, c.cid) AS rn
         |    FROM vn a, c2 c WHERE a.vec_id >= 10 AND a.vec_id < 20) WHERE rn <= 4),
         |probes AS (SELECT unnest([1, 2, 4]) AS p),
         |ivf AS (
         |  SELECT p, query_id, neighbor_id FROM (
         |    SELECT pr.p, q.query_id, x.vec_id AS neighbor_id,
         |      row_number() OVER (PARTITION BY pr.p, q.query_id
         |        ORDER BY list_dot_product(q.qe, x.e)/(q.qn*x.nrm) DESC, x.vec_id) AS rank
         |    FROM probes pr
         |    JOIN qprob q ON q.probe_rank <= pr.p
         |    JOIN af x ON q.cell = x.cell AND x.vec_id <> q.query_id)
         |  WHERE rank <= 3),
         |hits AS (
         |  SELECT i.p, COUNT(*) AS n_hits
         |  FROM ivf i JOIN exact e
         |    ON i.query_id = e.query_id AND i.neighbor_id = e.neighbor_id
         |  GROUP BY 1)
         |SELECT CAST(pr.p AS BIGINT) AS probes,
         |  CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
         |  ROUND(CAST(coalesce(h.n_hits, 0) AS DOUBLE) /
         |        (SELECT COUNT(*) FROM exact), 6) AS recall
         |FROM probes pr LEFT JOIN hits h ON pr.p = h.p""".stripMargin,

    // The data chunk is exactly the ASCII text, so frame stats over the
    // parsed WAV must equal frame stats computed from the text directly
    // (same window formulation as q72).
    "q82_wav_frames" ->
      """WITH c AS (
        |  SELECT doc_id AS asset_id, text FROM documents
        |  WHERE regexp_full_match(text, '[\x00-\x7F]*')),
        |f AS (
        |  SELECT asset_id, text,
        |    unnest(range(0, greatest(1, length(text) // 16), 2)) AS frame_idx
        |  FROM c)
        |SELECT asset_id, CAST(frame_idx AS INT) AS frame_idx,
        |  CAST(length(substring(text, CAST(frame_idx*16+1 AS INT), 16)) AS BIGINT) AS n_bytes,
        |  CAST(COALESCE(list_sum(list_transform(
        |    string_split(substring(text, CAST(frame_idx*16+1 AS INT), 16), ''),
        |    ch -> unicode(ch))), 0) AS BIGINT) AS byte_sum
        |FROM f""".stripMargin,

    // Energy/DC/peak recomputed from the packed text per frame — same
    // frame grid as q82, all-integer arithmetic.
    "q141_wav_features" ->
      """WITH c AS (
        |  SELECT doc_id AS asset_id, text FROM documents
        |  WHERE regexp_full_match(text, '[\x00-\x7F]*')),
        |f AS (
        |  SELECT asset_id, text,
        |    unnest(range(0, greatest(1, length(text) // 16), 2)) AS frame_idx
        |  FROM c),
        |d AS (
        |  SELECT asset_id, frame_idx,
        |    list_transform(
        |      string_split(substring(text, CAST(frame_idx*16+1 AS INT), 16), ''),
        |      ch -> unicode(ch) - 128) AS devs
        |  FROM f)
        |SELECT asset_id, CAST(frame_idx AS INT) AS frame_idx,
        |  CAST(len(devs) AS BIGINT) AS n_samples,
        |  CAST(COALESCE(list_sum(list_transform(devs, d -> d*d)), 0) AS BIGINT)
        |    AS energy,
        |  CAST(COALESCE(list_sum(devs), 0) AS BIGINT) AS dc_offset,
        |  CAST(COALESCE(list_max(list_transform(devs, d -> abs(d))), 0) AS BIGINT)
        |    AS peak
        |FROM d""".stripMargin,

    // Recompute the /field drop from the distinct event types and resolve
    // the configured names to ids.
    "q83_field_metadata_scan" ->
      """WITH et AS (SELECT DISTINCT event_type FROM events),
        |rk AS (SELECT event_type,
        |         row_number() OVER (ORDER BY event_type) AS rk FROM et)
        |SELECT 'customfield_' || CAST(10000 + rk AS VARCHAR) AS field_id,
        |  event_type AS field_name, 'string' AS field_type
        |FROM rk WHERE event_type IN ('signup', 'click', 'purchase')""".stripMargin,

    // Partitions 1-2 carry the round-2 remap, 0 and 3 keep round 1.
    "q85_kbz_membership_refresh" ->
      """WITH cards AS (
        |  SELECT user_id AS card_id, user_id % 4 AS workflow_id,
        |    user_id % 5 AS type_id
        |  FROM (SELECT DISTINCT user_id FROM events))
        |SELECT card_id, workflow_id,
        |  CASE WHEN workflow_id IN (1, 2) THEN type_id + 10
        |       ELSE type_id END AS type_id
        |FROM cards""".stripMargin,

    // The three rounds cover every card exactly once (round 1: arrived by
    // the cut; round 2: modified after the stored mark; round 3 replays
    // round 1 as a version-guarded no-op), so the final snapshots table
    // equals the full T3-deduped transition history framed per card.
    "q90_kbz_incremental_flow" ->
      """WITH cards AS (
        |  SELECT user_id AS card_id,
        |    strftime(MAX(ts), '%Y-%m-%dT%H:%M:%S.%f') AS version_ts
        |  FROM events GROUP BY 1),
        |tr AS (
        |  SELECT user_id, event_id, ts, event_type FROM (
        |    SELECT user_id, event_id, ts, event_type,
        |      lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pe
        |    FROM events WHERE event_type IN ('signup','view','click','purchase'))
        |  WHERE pe IS NULL OR pe <> event_type),
        |rev AS (
        |  SELECT user_id, ts, event_type,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS revision
        |  FROM tr)
        |SELECT c.card_id, CAST(r.revision AS BIGINT) AS revision,
        |  CAST(r.ts AS DATE) AS snapshot_date,
        |  r.event_type AS column_state,
        |  CAST(CASE r.event_type WHEN 'signup' THEN 1 WHEN 'view' THEN 2
        |       WHEN 'click' THEN 3 ELSE 4 END AS BIGINT) AS state_order,
        |  CASE WHEN r.event_type IN ('signup','view') THEN 'proposed'
        |       WHEN r.event_type = 'click' THEN 'inprogress'
        |       ELSE 'completed' END AS step_category,
        |  c.card_id % 5 AS type_id,
        |  c.card_id % 4 AS workflow_id,
        |  c.version_ts,
        |  (SELECT strftime(MAX(ts), '%Y-%m-%dT%H:%M:%S.%f') FROM events)
        |    AS next_run_start_from
        |FROM rev r JOIN cards c ON r.user_id = c.card_id""".stripMargin,

    // Rounds 1+2 cover every sampled MR exactly once (round 3 is the
    // keyed-merge no-op), so the loaded tables equal the full T20
    // normalization of the fixture; watermark = max updated_at.
    "q91_gitlab_incremental_flow" ->
      """WITH mr AS (
        |  SELECT o_orderkey AS mr_id,
        |    o_custkey % 10 AS project_id,
        |    md5(CAST(o_orderkey AS VARCHAR)) AS sha,
        |    CAST(o_orderdate AS TIMESTAMP) + INTERVAL 1 DAY AS merged_ts,
        |    CAST(o_orderdate AS TIMESTAMP) + INTERVAL 2 DAY AS updated_ts
        |  FROM orders WHERE o_orderkey % 20 = 0)
        |SELECT mr_id, project_id, 'merged' AS state, sha,
        |  'dev-' || CAST(mr_id % 7 AS VARCHAR) AS author_name,
        |  merged_ts AS authored_date,
        |  'success' AS pipeline_status,
        |  (SELECT strftime(MAX(updated_ts), '%Y-%m-%dT%H:%M:%S.%f') FROM mr)
        |    AS next_run_start_from
        |FROM mr""".stripMargin,

    // Image row r of the raster carries text bytes [r·32, (r+1)·32)
    // zero-padded to the full 32-byte row, so frame stats over the parsed
    // BMP must equal stats computed from the text directly: n_bytes is
    // the fixed row payload width, byte_sum ignores the zero padding.
    "q92_bmp_rows" ->
      """WITH c AS (
        |  SELECT doc_id AS asset_id, text FROM documents
        |  WHERE regexp_full_match(text, '[\x00-\x7F]*')),
        |g AS (
        |  SELECT asset_id, text,
        |    greatest(1, (length(text) + 31) // 32) AS h FROM c),
        |f AS (
        |  SELECT asset_id, text, unnest(range(0, h, 2)) AS frame_idx FROM g)
        |SELECT asset_id, CAST(frame_idx AS INT) AS frame_idx,
        |  CAST(32 AS BIGINT) AS n_bytes,
        |  CAST(COALESCE(list_sum(list_transform(
        |    string_split(substring(text, CAST(frame_idx*32+1 AS INT), 32), ''),
        |    ch -> unicode(ch))), 0) AS BIGINT) AS byte_sum
        |FROM f""".stripMargin,

    // Every output pixel recomputed from the packed text: source pixel
    // (sy, sx) = ((oy·h)//8, ox·4) holds text byte sy·32+sx (0-based)
    // or the zero pad — the same integer-floor NN grid, derived without
    // touching a single container byte.
    "q134_bmp_resize" ->
      """WITH c AS (
        |  SELECT doc_id AS asset_id, text,
        |    CAST(length(text) AS BIGINT) AS len FROM documents
        |  WHERE regexp_full_match(text, '[\x00-\x7F]*')),
        |g AS (
        |  SELECT asset_id, text, len,
        |    greatest(1, (len + 31) // 32) AS h FROM c),
        |px AS (
        |  SELECT asset_id,
        |    CAST(oy.i * 8 + ox.i AS BIGINT) AS idx,
        |    CASE WHEN ((oy.i * h) // 8) * 32 + ox.i * 4 < len
        |      THEN unicode(substring(text,
        |        CAST(((oy.i * h) // 8) * 32 + ox.i * 4 + 1 AS INT), 1))
        |      ELSE 0 END AS px
        |  FROM g,
        |    (SELECT unnest(range(8)) AS i) oy,
        |    (SELECT unnest(range(8)) AS i) ox)
        |SELECT asset_id, CAST(8 AS BIGINT) AS out_width,
        |  CAST(8 AS BIGINT) AS out_height,
        |  CAST(SUM(px) AS BIGINT) AS byte_sum,
        |  CAST(SUM(px * (idx + 1)) AS BIGINT) AS weighted_sum,
        |  CAST(SUM(CASE WHEN px <> 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_nonzero
        |FROM px GROUP BY 1""".stripMargin,

    // Image row r of the PGM raster carries text bytes [r·24, (r+1)·24)
    // zero-filled to width·height; top-down and unpadded, so the frame
    // stats must equal stats computed from the text directly.
    "q120_pgm_rows" ->
      """WITH c AS (
        |  SELECT doc_id AS asset_id, text FROM documents
        |  WHERE regexp_full_match(text, '[\x00-\x7F]*')),
        |g AS (
        |  SELECT asset_id, text,
        |    greatest(1, (length(text) + 23) // 24) AS h FROM c),
        |f AS (
        |  SELECT asset_id, text, unnest(range(0, h, 2)) AS frame_idx FROM g)
        |SELECT asset_id, CAST(frame_idx AS INT) AS frame_idx,
        |  CAST(24 AS BIGINT) AS n_bytes,
        |  CAST(COALESCE(list_sum(list_transform(
        |    string_split(substring(text, CAST(frame_idx*24+1 AS INT), 24), ''),
        |    ch -> unicode(ch))), 0) AS BIGINT) AS byte_sum
        |FROM f""".stripMargin,

    // Same tokenizer and whole-doc fallback as q64's oracle; counts are
    // occurrence counts (duplicates kept), familiarity the rounded ratio.
    "q121_bigram_familiarity" ->
      """WITH tk AS (
        |  SELECT doc_id, lang, string_split_regex(trim(text), '\s+') AS toks
        |  FROM documents),
        |oc AS (
        |  SELECT doc_id, lang,
        |    unnest(CASE WHEN len(toks) < 2 THEN [array_to_string(toks, ' ')]
        |      ELSE list_transform(range(len(toks) - 1),
        |        i -> array_to_string(toks[i+1:i+2], ' ')) END) AS bg
        |  FROM tk),
        |cm AS (SELECT lang, bg FROM oc GROUP BY 1, 2 HAVING COUNT(*) >= 3),
        |nb AS (SELECT doc_id, lang, COUNT(*) AS n_bigrams FROM oc GROUP BY 1, 2),
        |nf AS (
        |  SELECT o.doc_id, COUNT(*) AS n_familiar
        |  FROM oc o JOIN cm ON o.lang = cm.lang AND o.bg = cm.bg
        |  GROUP BY 1)
        |SELECT nb.doc_id, nb.lang, nb.n_bigrams,
        |  COALESCE(nf.n_familiar, 0) AS n_familiar,
        |  ROUND(CAST(COALESCE(nf.n_familiar, 0) AS DOUBLE) / nb.n_bigrams, 6)
        |    AS familiarity
        |FROM nb LEFT JOIN nf USING (doc_id)""".stripMargin,

    // Null-safe change predicate via IS DISTINCT FROM (the engine uses
    // <=> negated); unchanged keys must emit nothing.
    "q124_snapshot_diff" ->
      """WITH le AS (
        |  SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM (
        |    SELECT user_id, event_type, ts, event_id,
        |      row_number() OVER (PARTITION BY user_id
        |        ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM events WHERE event_id % 4 <> 3 AND user_id % 17 <> 0)
        |  WHERE rn = 1),
        |ln AS (
        |  SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM (
        |    SELECT user_id, event_type, ts, event_id,
        |      row_number() OVER (PARTITION BY user_id
        |        ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM events WHERE user_id % 13 <> 0) WHERE rn = 1)
        |SELECT * FROM (
        |  SELECT coalesce(o.user_id, n.user_id) AS user_id,
        |    o.event_type AS old_event_type, o.ts AS old_ts,
        |    n.event_type AS new_event_type, n.ts AS new_ts,
        |    CASE WHEN o.user_id IS NULL THEN 'insert'
        |         WHEN n.user_id IS NULL THEN 'delete'
        |         WHEN o.event_type IS DISTINCT FROM n.event_type
        |           OR o.ts IS DISTINCT FROM n.ts THEN 'update' END AS op
        |  FROM le o FULL OUTER JOIN ln n ON o.user_id = n.user_id)
        |WHERE op IS NOT NULL""".stripMargin,

    // Every retained version post-truncate = the filtered current state.
    "q142_purged_history" ->
      """SELECT user_id, event_type AS state, CAST(ts AS TIMESTAMP) AS version_ts
        |FROM (
        |  SELECT user_id, event_type, ts,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) WHERE rn = 1 AND user_id % 13 <> 0""".stripMargin,

    // The pruned lookup must return exactly the stored rows of the
    // wanted keys — the q84 relation filtered to them; absent keys
    // contribute nothing.
    "q138_keyed_lookup" ->
      """SELECT user_id, event_type AS state, CAST(ts AS TIMESTAMP) AS version_ts
        |FROM (
        |  SELECT user_id, event_type, ts,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) WHERE rn = 1 AND user_id % 50 = 1""".stripMargin,

    // Both pinned states derived from raw events (pre-cut latest vs
    // overall latest per user), then the same null-safe diff as q124 —
    // independent of both the manifest reads and the engine's join.
    "q131_change_feed" ->
      """WITH lo AS (
        |  SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ver FROM (
        |    SELECT user_id, event_type, ts, event_id,
        |      row_number() OVER (PARTITION BY user_id
        |        ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM events
        |    WHERE CAST(ts AS TIMESTAMP) <= TIMESTAMP '2024-01-20 00:00:00')
        |  WHERE rn = 1),
        |ln AS (
        |  SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ver FROM (
        |    SELECT user_id, event_type, ts, event_id,
        |      row_number() OVER (PARTITION BY user_id
        |        ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM events) WHERE rn = 1)
        |SELECT * FROM (
        |  SELECT coalesce(o.user_id, n.user_id) AS user_id,
        |    o.event_type AS old_event_type, o.ver AS old_ver,
        |    n.event_type AS new_event_type, n.ver AS new_ver,
        |    CASE WHEN o.user_id IS NULL THEN 'insert'
        |         WHEN n.user_id IS NULL THEN 'delete'
        |         WHEN o.event_type IS DISTINCT FROM n.event_type
        |           OR o.ver IS DISTINCT FROM n.ver THEN 'update' END AS op
        |  FROM lo o FULL OUTER JOIN ln n ON o.user_id = n.user_id)
        |WHERE op IS NOT NULL""".stripMargin,

    // The stored state minus churned accounts — exactly the q84 relation
    // filtered; a double-applied delete could not differ, but a delete
    // that dropped a whole-bucket pointer wrongly (or left one stale)
    // would lose or resurrect rows.
    "q132_keyed_delete" ->
      """SELECT user_id, event_type AS state, CAST(ts AS TIMESTAMP) AS version_ts
        |FROM (
        |  SELECT user_id, event_type, ts,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) WHERE rn = 1 AND user_id % 13 <> 0""".stripMargin,

    // The stale replay must not regress: final table = per-user overall
    // latest event (what round 2 loaded).
    "q84_versioned_merge" -> latestUserStateOracleSql,

    // Compaction is a physical rewrite only: the read-back equals the
    // same latest-per-user relation.
    "q125_compacted_table" -> latestUserStateOracleSql,

    // Bucket splits are physical re-bins only: the table grown 4→8→16
    // across three merge rounds still equals the latest-per-user
    // relation (a wrong-modulus prune would lose keys).
    "q146_bucket_split" -> latestUserStateOracleSql,

    // Both group members recomputed from raw events and joined: the
    // states side is the latest-per-user relation, the customFields
    // side the per-user aggregates batch 2 replaced wholesale. A torn
    // load (one member flipped without the other) or a double-applied
    // redelivery (REGRESSED values) could not reproduce this.
    "q147_group_commit" ->
      """WITH l AS (
        |  SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ver FROM (
        |    SELECT user_id, event_type, ts, event_id,
        |      row_number() OVER (PARTITION BY user_id
        |        ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM events) WHERE rn = 1),
        |a AS (
        |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
        |    CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types
        |  FROM events GROUP BY 1)
        |SELECT l.user_id, l.event_type AS state, l.ver AS version_ts,
        |  x.name, x.value
        |FROM l JOIN (
        |  SELECT user_id, 'n_events' AS name, n_events AS value FROM a
        |  UNION ALL
        |  SELECT user_id, 'n_types' AS name, n_types AS value FROM a) x
        |  ON l.user_id = x.user_id""".stripMargin,

    // Folded deltas must equal the one-shot aggregate; a double-applied
    // redelivery would show doubled counts for batch 2's rows.
    "q127_incremental_rollup" ->
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
        |  event_type, CAST(COUNT(*) AS BIGINT) AS n_events
        |FROM events GROUP BY 1, 2""".stripMargin,

    // Batch-1 events fold twice (once before expiry, once as the
    // post-expiry ghost redelivery); everything else once. A ledger
    // that wrongly skipped the post-expiry replay, or wrongly applied
    // the pre-expiry one, lands on different counts.
    "q148_txn_expiry" ->
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
        |  event_type,
        |  CAST(COUNT(*) + COUNT(CASE WHEN event_id % 3 = 1 THEN 1 END)
        |    AS BIGINT) AS n_events
        |FROM events GROUP BY 1, 2""".stripMargin,

    // The pruned window + CFD must equal the CFD of the plainly
    // filtered events (q05's SQL restricted to the window).
    "q154_cfd_window" ->
      """WITH daily AS (
        |  SELECT event_type AS state, CAST(ts AS DATE) AS flomatikasnapshotdate, COUNT(*) AS n
        |  FROM events
        |  WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
        |    AND ts <= TIMESTAMP '2024-02-08 23:59:59.999999'
        |  GROUP BY 1, 2)
        |SELECT state, flomatikasnapshotdate,
        |  CAST(SUM(n) OVER (PARTITION BY state ORDER BY flomatikasnapshotdate
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS numberofitems
        |FROM daily WHERE state IN ('purchase')
        |UNION ALL
        |SELECT state, flomatikasnapshotdate, n AS numberofitems
        |FROM daily WHERE state NOT IN ('purchase')""".stripMargin,

    // The file-pruned two-dimensional read + residual filters must
    // equal the plain filtered aggregate over raw events.
    // Post-retrofit pruned window read = plain filtered aggregate.
    "q163_cluster_retrofit" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
        |  AND ts < TIMESTAMP '2024-01-20 00:00:00'
        |GROUP BY 1""".stripMargin,

    // The feed = the recomputed sparse delta: one update row per
    // touched key (old image preserved), one insert per fresh key.
    "q166_fp_change_feed" ->
      """SELECT event_id, 'update' AS op,
        |  event_type AS old_event_type,
        |  'touched' AS new_event_type
        |FROM events WHERE event_id % 1000 = 7
        |UNION ALL
        |SELECT event_id + 100000000, 'insert',
        |  CAST(NULL AS VARCHAR), 'fresh'
        |FROM events WHERE event_id < 3""".stripMargin,

    // The OR read = the plain disjunctive filtered aggregate.
    "q165_or_skip_scan" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
        |  MIN(CAST(ts AS TIMESTAMP)) AS first_ts
        |FROM events
        |WHERE (ts >= TIMESTAMP '2024-01-25 00:00:00'
        |       AND ts < TIMESTAMP '2024-01-28 00:00:00')
        |   OR event_id IN (10, 11, 12, 13)
        |GROUP BY 1""".stripMargin,

    // The 3-D box read with residual filters = the plain filtered
    // aggregate over raw events.
    "q164_zorder3_scan" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM events
        |WHERE user_id BETWEEN 40 AND 89
        |  AND length(event_type) BETWEEN 4 AND 5
        |  AND ts >= TIMESTAMP '2024-01-05 00:00:00'
        |  AND ts < TIMESTAMP '2024-01-25 00:00:00'
        |GROUP BY 1""".stripMargin,

    "q153_zorder_scan" ->
      """SELECT user_id, CAST(ts AS DATE) AS day,
        |  CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types
        |FROM events
        |WHERE user_id BETWEEN 100 AND 149
        |  AND ts >= TIMESTAMP '2024-01-10 00:00:00'
        |  AND ts < TIMESTAMP '2024-01-20 00:00:00'
        |GROUP BY 1, 2""".stripMargin,

    // The replica followed three commits (merge, merge, delete) via
    // change feeds only; it must equal the source's final state — the
    // latest row per user minus the reconciliation-deleted cohort.
    "q152_replica_sync" ->
      """SELECT user_id, event_type AS state, CAST(ts AS TIMESTAMP) AS version_ts
        |FROM (
        |  SELECT user_id, event_type, ts,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events)
        |WHERE rn = 1 AND user_id % 7 <> 0""".stripMargin,

    // Same ISO-week (Monday-start) arithmetic as Spark's date_trunc +
    // weekofyear; the shift is a whole number of weeks.
    "q150_mock_week_shift" ->
      """WITH wk AS (
        |  SELECT CAST(date_trunc('week', ts) AS DATE) AS week_starting,
        |    CAST(COUNT(*) AS BIGINT) AS n_events
        |  FROM events GROUP BY 1),
        |sh AS (
        |  SELECT CAST(GREATEST(
        |    CAST(date_trunc('week', DATE '2026-08-12') AS DATE)
        |      - MAX(week_starting), 0) AS INTEGER) AS d
        |  FROM wk)
        |SELECT week_starting + d AS week_starting,
        |  CAST(year(week_starting + d) AS INT) AS yr,
        |  CAST(weekofyear(week_starting + d) AS INT) AS week_num,
        |  n_events
        |FROM wk, sh""".stripMargin,

    // NULL commitments (users with no click event) ride the shift as
    // NULL; the day spacing of every series is preserved.
    "q151_mock_scatter_shift" ->
      """WITH sc AS (
        |  SELECT user_id,
        |    MIN(CAST(ts AS DATE)) AS arrival,
        |    MIN(CASE WHEN event_type = 'click' THEN CAST(ts AS DATE) END)
        |      AS commitment,
        |    MAX(CAST(ts AS DATE)) AS departure
        |  FROM events GROUP BY 1),
        |sh AS (
        |  SELECT CAST(GREATEST(DATE '2026-08-12' - MAX(departure), 0) AS INTEGER)
        |    AS d
        |  FROM sc)
        |SELECT user_id, arrival + d AS arrival,
        |  commitment + d AS commitment, departure + d AS departure
        |FROM sc, sh""".stripMargin,

    // The pruned read + residual filter must equal the plain
    // full-scan-and-filter aggregate over the raw table.
    "q149_range_scan" ->
      """SELECT CAST(l_shipdate AS DATE) AS ship_day,
        |  CAST(COUNT(*) AS BIGINT) AS n_items,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(38,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,2))) AS DOUBLE) AS sum_price
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
        |  AND l_shipdate <= TIMESTAMP '1995-03-31 23:59:59.999999'
        |GROUP BY 1""".stripMargin,

    // The probed (part, supplier) pair is the first lineitem's, picked
    // by the same total order on both sides.
    "q155_bloom_point_read" ->
      """WITH pick AS (
        |  SELECT l_partkey, l_suppkey FROM lineitem
        |  ORDER BY l_orderkey, l_linenumber LIMIT 1)
        |SELECT li.l_orderkey, li.l_linenumber, li.l_quantity,
        |  li.l_extendedprice
        |FROM lineitem li, pick
        |WHERE li.l_partkey = pick.l_partkey
        |  AND li.l_suppkey = pick.l_suppkey""".stripMargin,

    // The probed customer-id set is the 3 smallest distinct custkeys,
    // picked by the same total order on both sides.
    "q156_inlist_scan" ->
      """SELECT o_custkey,
        |  CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(38,2))) AS DOUBLE) AS sum_price
        |FROM orders
        |WHERE o_custkey IN (
        |  SELECT DISTINCT o_custkey FROM orders ORDER BY o_custkey LIMIT 3)
        |GROUP BY 1""".stripMargin,

    // The format-read plus residual filter must equal the plain
    // full-scan-and-filter aggregate (same window as q149).
    "q157_catalyst_table_scan" ->
      """SELECT CAST(l_shipdate AS DATE) AS ship_day,
        |  CAST(COUNT(*) AS BIGINT) AS n_items,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(38,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,2))) AS DOUBLE) AS sum_price
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
        |  AND l_shipdate <= TIMESTAMP '1995-03-31 23:59:59.999999'
        |GROUP BY 1""".stripMargin,

    // The tailed change feed, re-derived set-theoretically: initial
    // snapshot inserts (%3 ∈ {0,1}), second-load inserts (%3 = 2) and
    // updates (%3 = 1, price doubled ≠ original since price > 0), then
    // deletes (%7 = 0 — every key exists after load 2).
    "q158_stream_table_cdc" ->
      """WITH allr AS (
        |  SELECT o_orderkey, 'insert' AS op FROM orders
        |  WHERE o_orderkey % 3 <= 1
        |  UNION ALL
        |  SELECT o_orderkey, 'insert' AS op FROM orders
        |  WHERE o_orderkey % 3 = 2
        |  UNION ALL
        |  SELECT o_orderkey, 'update' AS op FROM orders
        |  WHERE o_orderkey % 3 = 1
        |  UNION ALL
        |  SELECT o_orderkey, 'delete' AS op FROM orders
        |  WHERE o_orderkey % 7 = 0)
        |SELECT op, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
        |FROM allr GROUP BY 1""".stripMargin,

    // The manifest-served aggregate must equal the scan aggregate
    // (COUNT(col) = non-null count, from rows minus recorded nulls).
    "q159_stats_only_agg" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS cnt,
        |  CAST(COUNT(l_shipdate) AS BIGINT) AS cnt_l_shipdate,
        |  MIN(l_shipdate) AS min_l_shipdate,
        |  MAX(l_shipdate) AS max_l_shipdate,
        |  CAST(COUNT(l_quantity) AS BIGINT) AS cnt_l_quantity,
        |  MIN(l_quantity) AS min_l_quantity,
        |  MAX(l_quantity) AS max_l_quantity
        |FROM lineitem""".stripMargin,

    // Post-overwrite state = the %5 cohort; pre-overwrite count = all.
    "q160_format_write_roundtrip" ->
      """SELECT CAST((SELECT COUNT(*) FROM orders) AS BIGINT) AS n_pre,
        |  CAST(COUNT(*) AS BIGINT) AS n_kept,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(38,2))) AS DOUBLE)
        |    AS sum_kept
        |FROM orders WHERE o_orderkey % 5 = 0""".stripMargin,

    // click_ts IS NOT NULL ≡ event_type = 'click' by construction.
    "q161_null_skip_scan" ->
      """SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_clicks,
        |  MAX(CAST(ts AS TIMESTAMP)) AS last_click
        |FROM events WHERE event_type = 'click'
        |GROUP BY 1""".stripMargin,

    // The SQL-catalog lifecycle must equal the CFD window over raw
    // events minus the two DELETEs' rows.
    "q162_sql_catalog" ->
      """WITH kept AS (
        |  SELECT event_type, CAST(ts AS TIMESTAMP) AS ts FROM events
        |  WHERE NOT (event_type = 'view'
        |             AND CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-15 00:00:00')
        |    AND event_id NOT IN (1, 2, 3)),
        |daily AS (
        |  SELECT event_type AS state, CAST(ts AS DATE) AS flomatikasnapshotdate,
        |    COUNT(*) AS n
        |  FROM kept
        |  WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
        |    AND ts <= TIMESTAMP '2024-02-08 23:59:59.999999'
        |  GROUP BY 1, 2)
        |SELECT state, flomatikasnapshotdate,
        |  CAST(SUM(n) OVER (PARTITION BY state ORDER BY flomatikasnapshotdate
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS numberofitems
        |FROM daily WHERE state IN ('purchase')
        |UNION ALL
        |SELECT state, flomatikasnapshotdate, CAST(n AS BIGINT) AS numberofitems
        |FROM daily WHERE state NOT IN ('purchase')""".stripMargin,

    // Relational mirror of the MERGE: matched view-rows die, other
    // matches update, unmatched source rows insert.
    "q167_sql_merge" ->
      """WITH base AS (
        |  SELECT event_id, user_id, event_type FROM events
        |  WHERE event_id % 2 = 0),
        |src AS (
        |  SELECT event_id, user_id, event_type FROM events
        |  WHERE event_id % 3 = 0),
        |merged AS (
        |  SELECT b.event_id,
        |    CASE WHEN s.event_id IS NOT NULL THEN b.user_id + 100000
        |         ELSE b.user_id END AS user_id,
        |    CASE WHEN s.event_id IS NOT NULL THEN 'm_' || s.event_type
        |         ELSE b.event_type END AS event_type,
        |    CASE WHEN s.event_id IS NOT NULL AND s.event_type = 'view'
        |         THEN 1 ELSE 0 END AS del
        |  FROM base b LEFT JOIN src s USING (event_id)),
        |kept AS (
        |  SELECT event_id, user_id, event_type FROM merged WHERE del = 0
        |  UNION ALL
        |  SELECT event_id, user_id, event_type FROM src
        |  WHERE event_id NOT IN (SELECT event_id FROM base))
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(user_id) AS BIGINT) AS sum_uid
        |FROM kept GROUP BY event_type""".stripMargin,

    // CASE mirror of the UPDATE, then the DELETE filter evaluated over
    // the POST-update values (statement order).
    "q168_sql_update" ->
      """WITH upd AS (
        |  SELECT event_id,
        |    CASE WHEN event_type = 'purchase' AND (user_id + event_id) % 7 = 0
        |         THEN user_id + 1000000 ELSE user_id END AS user_id,
        |    CASE WHEN event_type = 'purchase' AND (user_id + event_id) % 7 = 0
        |         THEN upper(event_type) ELSE event_type END AS event_type
        |  FROM events),
        |kept AS (
        |  SELECT * FROM upd WHERE (user_id * 31 + event_id) % 13 <> 0)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(user_id) AS BIGINT) AS sum_uid
        |FROM kept GROUP BY event_type""".stripMargin,

    // The replaced generation is the filtered aggregate; the original
    // generation (read via VERSION AS OF) is the unfiltered one.
    "q170_sql_ctas" ->
      """SELECT 'replaced' AS gen, event_type,
        |  CAST(COUNT(*) AS BIGINT) AS n
        |FROM events WHERE event_type <> 'view' GROUP BY event_type
        |UNION ALL
        |SELECT 'original' AS gen, event_type,
        |  CAST(COUNT(*) AS BIGINT) AS n
        |FROM events GROUP BY event_type""".stripMargin,

    // Same rolling codepoint fold, DuckDB's own list_reduce on the
    // oracle side — bit-exact band counts.
    "q169_sql_functions" ->
      s"""WITH fp AS (
        |  SELECT ${functions.TextHash.duckdbPoly("text", 1000000007L)} AS fp
        |  FROM documents)
        |SELECT fp % 16 AS band, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(MAX(fp) AS BIGINT) AS max_fp
        |FROM fp GROUP BY fp % 16""".stripMargin,

    // The mirror converges to the source's final keyed state: the even
    // snapshot upserted with every id%3 key's shifted row.
    "q171_stream_table_mirror" ->
      """WITH final AS (
        |  SELECT event_id,
        |    CASE WHEN event_id % 3 = 0 THEN user_id + 1000000
        |         ELSE user_id END AS user_id,
        |    event_type
        |  FROM events
        |  WHERE event_id % 2 = 0 OR event_id % 3 = 0)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(user_id) AS BIGINT) AS sum_uid
        |FROM final GROUP BY event_type""".stripMargin,

    // Version 3 is the purchase update (new image = +7), version 4 the
    // view deletion (old image = the unchanged original).
    "q172_sql_changes_feed" ->
      """WITH upd AS (
        |  SELECT event_id,
        |    CASE WHEN event_type = 'purchase' THEN user_id + 7
        |         ELSE user_id END AS user_id,
        |    event_type, event_type = 'purchase' AS changed
        |  FROM events),
        |feed AS (
        |  SELECT CAST(3 AS BIGINT) AS _commit_version, 'update' AS op,
        |    user_id AS uid
        |  FROM upd WHERE changed
        |  UNION ALL
        |  SELECT CAST(4 AS BIGINT), 'delete', user_id
        |  FROM upd WHERE event_type = 'view' AND event_id % 5 = 0)
        |SELECT _commit_version, op, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(uid) AS BIGINT) AS sum_uid
        |FROM feed GROUP BY _commit_version, op""".stripMargin,

    // Relational mirror of the evolving MERGE: matched rows take the
    // source image (score included), unmatched target rows null-fill
    // the evolved column, unmatched source rows insert whole.
    "q173_sql_merge_evolve" ->
      """WITH base AS (
        |  SELECT event_id, user_id, event_type FROM events
        |  WHERE event_id % 2 = 0),
        |src AS (
        |  SELECT event_id, user_id, event_type,
        |    CAST(event_id % 97 AS DOUBLE) AS score
        |  FROM events WHERE event_id % 3 = 0),
        |merged AS (
        |  SELECT b.event_id,
        |    CASE WHEN s.event_id IS NOT NULL THEN s.user_id
        |         ELSE b.user_id END AS user_id,
        |    CASE WHEN s.event_id IS NOT NULL THEN s.event_type
        |         ELSE b.event_type END AS event_type,
        |    s.score AS score
        |  FROM base b LEFT JOIN src s USING (event_id)
        |  UNION ALL
        |  SELECT event_id, user_id, event_type, score FROM src
        |  WHERE event_id NOT IN (SELECT event_id FROM base))
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(user_id) AS BIGINT) AS sum_uid,
        |  CAST(SUM(COALESCE(score, -1.0)) AS BIGINT) AS sum_score
        |FROM merged GROUP BY event_type""".stripMargin,

    // The protocol's own op stamps in commit order — create, the
    // INSERT's merge, the row-level update, the keyed delete.
    "q174_sql_history" ->
      """SELECT CAST(v AS BIGINT) AS version, op
        |FROM (VALUES (1, 'create'), (2, 'merge'), (3, 'update'),
        |  (4, 'delete')) AS t(v, op)""".stripMargin,

    // Batch 0 seeds the even snapshot as inserts; the restarted stream
    // contributes the purchase updates (new image) and the view
    // deletions (old image).
    "q175_changes_stream" ->
      """WITH base AS (
        |  SELECT event_id, user_id, event_type FROM events
        |  WHERE event_id % 2 = 0),
        |upd AS (
        |  SELECT event_id,
        |    CASE WHEN event_type = 'purchase' THEN user_id + 7
        |         ELSE user_id END AS user_id,
        |    event_type, event_type = 'purchase' AS changed
        |  FROM base),
        |feed AS (
        |  SELECT 'insert' AS op, user_id AS uid FROM base
        |  UNION ALL
        |  SELECT 'update', user_id FROM upd WHERE changed
        |  UNION ALL
        |  SELECT 'delete', user_id FROM upd
        |  WHERE event_type = 'view' AND event_id % 10 = 0)
        |SELECT op, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(uid) AS BIGINT) AS sum_uid
        |FROM feed GROUP BY op""".stripMargin,

    // The rename is pure metadata: the relational mirror just computes
    // over the original column, post-click-update, dropped column and
    // all.
    "q176_sql_rename_column" ->
      """WITH upd AS (
        |  SELECT event_id,
        |    CASE WHEN event_type = 'click' THEN user_id + 500
        |         ELSE user_id END AS actor_id,
        |    event_type
        |  FROM events)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(actor_id) AS BIGINT) AS sum_actor
        |FROM upd WHERE actor_id % 2 = 0 GROUP BY event_type""".stripMargin,

    // The restored state is the original snapshot (both bad commits
    // rolled back), and the restore commit's feed rows are the click
    // rows updated back (new image = the original user_id) plus the two
    // stray inserts retracted (old image = 1 and 2).
    "q177_sql_restore" ->
      """WITH feed AS (
        |  SELECT 'update' AS op, user_id AS uid FROM events
        |  WHERE event_type = 'click'
        |  UNION ALL
        |  SELECT 'delete', CAST(uid AS BIGINT)
        |  FROM (VALUES (1), (2)) AS t(uid))
        |SELECT 'final' AS src, event_type AS op,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(user_id) AS BIGINT) AS sum_uid
        |FROM events GROUP BY event_type
        |UNION ALL
        |SELECT 'feed', op, CAST(COUNT(*) AS BIGINT),
        |  CAST(SUM(uid) AS BIGINT)
        |FROM feed GROUP BY op""".stripMargin,

    // The co-located join's values: the even-id half joined back to the
    // full key set.
    "q178_spj_colocated_join" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(user_id) AS BIGINT) AS sum_uid
        |FROM events WHERE event_id % 2 = 0 GROUP BY event_type""".stripMargin,

    // Plain join semantics — the runtime pruning the Spark side does is
    // pure I/O removal, never a result change.
    "q179_runtime_filter_join" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(f.user_id) AS BIGINT) AS sum_uid
        |FROM events f JOIN (
        |  SELECT DISTINCT event_id FROM events
        |  WHERE event_type = 'view' AND event_id % 97 = 13) d
        |ON f.event_id = d.event_id""".stripMargin,

    // Merge-on-read deletes must equal copy-on-write semantics exactly:
    // the survivors are the documents minus both doomed key sets.
    "q180_dv_delete" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE NOT (doc_id % 31 = 0) AND NOT (doc_id % 53 = 5)""".stripMargin,

    // SQL DELETE (DV fast path) then row-level UPDATE reading through
    // the live vectors: the aggregate over the final state.
    "q181_dv_sql_delete" ->
      """SELECT CASE WHEN user_id % 997 = 3 THEN 'touched'
        |  ELSE event_type END AS event_type,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(user_id) AS BIGINT) AS sum_uid
        |FROM events WHERE NOT (event_id % 101 = 7)
        |GROUP BY 1""".stripMargin,

    // Merge-on-read must equal copy-on-write exactly: base rows with
    // the two update rounds applied (round 2 wins where both touched),
    // plus the inserted synthetic ids.
    "q184_mor_upsert" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 74 = 1 THEN 'yy'
        |       WHEN doc_id % 37 = 1 THEN 'xx' ELSE lang END AS lang,
        |  CASE WHEN doc_id % 74 = 1 THEN n_chars + 2000
        |       WHEN doc_id % 37 = 1 THEN n_chars + 1000
        |       ELSE n_chars END AS n_chars
        |FROM documents
        |UNION ALL
        |SELECT doc_id + 10000000, 'new', CAST(0 AS BIGINT)
        |FROM documents WHERE doc_id % 97 = 0""".stripMargin,

    // Layout-independent inventory invariants: live = all minus the
    // deleted cohort (upserts replace in place); dead = deleted cohort
    // + the replaced copies; overlay rows = the upsert batch.
    // Cohort A (%3=0) defaults to 'open', cohort B (%3=1) carries its
    // real status; the rejected batch left nothing; the UPDATE adds 1
    // to %100=7 prices across both cohorts; okmod = o_orderkey % 97.
    "q194_governed_table" ->
      """WITH g AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 100 = 7 THEN o_totalprice + 1
        |         ELSE o_totalprice END AS price,
        |    CASE WHEN o_orderkey % 3 = 1 THEN o_orderstatus
        |         ELSE 'open' END AS status,
        |    o_orderkey % 97 AS okmod
        |  FROM orders WHERE o_orderkey % 3 IN (0, 1))
        |SELECT status, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  TRUE AS rid_unique,
        |  CAST(SUM(okmod) AS BIGINT) AS okmod_sum,
        |  CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS price_sum
        |FROM g GROUP BY status""".stripMargin,

    // Equality deletes must equal copy-on-write semantics exactly:
    // base rows with the two upsert rounds applied (round 2 wins where
    // both touched), minus the blind-deleted keys.
    "q195_eq_deletes" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 74 = 1 THEN 'ww'
        |       WHEN doc_id % 37 = 1 THEN 'zz' ELSE lang END AS lang,
        |  CAST(CASE WHEN doc_id % 74 = 1 THEN n_chars + 2000
        |       WHEN doc_id % 37 = 1 THEN n_chars + 1000
        |       ELSE n_chars END AS BIGINT) AS n_chars
        |FROM documents WHERE NOT (doc_id % 53 = 5)""".stripMargin,

    // Variant extraction is a pure function of the constructed JSON —
    // the oracle recomputes it from the base columns: status absent on
    // %3=2 rows, price carried on %3∈{0,2}, prio only on %3=1.
    "q196_variant_fields" ->
      """SELECT CASE WHEN o_orderkey % 3 = 2 THEN 'none'
        |            ELSE o_orderstatus END AS status,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CASE WHEN o_orderkey % 3 = 1 THEN CAST(0 AS DECIMAL(18,2))
        |       ELSE CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE)
        |    AS price_sum,
        |  CAST(COUNT(CASE WHEN o_orderkey % 3 = 1 THEN 1 END) AS BIGINT)
        |    AS n_prio
        |FROM orders GROUP BY 1""".stripMargin,

    // Last-event-wins CDC state per user, minus the blind purge — the
    // streaming eq-delete pipeline must converge to exactly this.
    "q198_streaming_cdc_eqd" ->
      """WITH ranked AS (
        |  SELECT user_id, event_id, event_type,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |                       ORDER BY event_id DESC) AS rn
        |  FROM events)
        |SELECT user_id, event_id AS last_event, event_type AS last_type
        |FROM ranked WHERE rn = 1 AND NOT (user_id % 13 = 4)""".stripMargin,

    // The MV must equal its defining query over the churned source:
    // originals with the %50=3 bump applied minus the %101=7 deletes,
    // plus the inserted synthetic docs, filtered and aggregated.
    "q197_materialized_view" ->
      """WITH s AS (
        |  SELECT doc_id, lang,
        |    n_chars + CASE WHEN doc_id % 50 = 3 THEN 10 ELSE 0 END
        |      AS n_chars
        |  FROM documents WHERE NOT (doc_id % 101 = 7)
        |  UNION ALL
        |  SELECT doc_id + 10000000, 'new', n_chars
        |  FROM documents WHERE doc_id % 97 = 0)
        |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(n_chars) AS BIGINT) AS chars
        |FROM s WHERE n_chars > 500 GROUP BY lang""".stripMargin,

    // The MV must equal its defining query (dim join + MIN/MAX) over
    // the churned fact: bumps applied to surviving rows, the top-10
    // event ids deleted, the two insert waves appended ('beta' has no
    // dim row — the inner join drops it).
    "q199_mv_minmax_dim" ->
      """WITH d AS (
        |  SELECT event_type,
        |    CASE WHEN event_type IN ('click', 'view') THEN 'engage'
        |         WHEN event_type IN ('purchase', 'signup') THEN 'convert'
        |         ELSE 'ops' END AS category
        |  FROM (SELECT DISTINCT event_type FROM events)),
        |s AS (
        |  SELECT event_id,
        |    user_id + CASE WHEN event_id % 53 = 5 THEN 7 ELSE 0 END
        |      AS user_id,
        |    event_type
        |  FROM events
        |  WHERE event_id <= (SELECT MAX(event_id) FROM events) - 10
        |  UNION ALL
        |  SELECT event_id + 100000000, user_id, 'beta'
        |  FROM events WHERE event_id % 101 = 0
        |  UNION ALL
        |  SELECT event_id + 200000000, user_id, 'click'
        |  FROM events WHERE event_id % 103 = 0)
        |SELECT category, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(user_id) AS BIGINT) AS su,
        |  CAST(MIN(event_id) AS BIGINT) AS mn,
        |  CAST(MAX(event_id) AS BIGINT) AS mx
        |FROM s JOIN d USING (event_type) GROUP BY category""".stripMargin,

    // Generated values are pure functions of stored columns — the
    // oracle recomputes them; the rejected mismatch batch left nothing.
    "q193_generated_columns" ->
      """WITH src AS (
        |  SELECT l_orderkey, l_linenumber, MAX(l_quantity) AS l_quantity,
        |    MAX(l_returnflag) AS l_returnflag,
        |    MAX(l_linestatus) AS l_linestatus
        |  FROM lineitem GROUP BY 1, 2)
        |SELECT CONCAT(l_returnflag, '-', l_linestatus) AS flag_status,
        |  CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(l_orderkey * 10 + l_linenumber) AS BIGINT) AS uid_sum,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |    AS qty_sum
        |FROM src GROUP BY 1""".stripMargin,

    // Deterministic identity facts: every supplier row lands once plus
    // the explicit surrogate row; uniqueness/alignment/high-water hold
    // by the assignment contract.
    "q192_identity_columns" ->
      """SELECT
        |  (SELECT CAST(COUNT(*) + 1 AS BIGINT) FROM supplier) AS n_rows,
        |  TRUE AS sid_unique, TRUE AS min_ok, TRUE AS step_aligned,
        |  TRUE AS hw_past_explicit,
        |  CAST(2000001000 AS BIGINT) AS explicit_sid""".stripMargin,

    // live = all docs minus the %11=4 deletes (the %11=5 upsert
    // replaces in place); dead before the drain = deleted + replaced
    // old copies, 0 after; pressure flips false after the drain.
    "q191_partitions_rollup" ->
      """SELECT 'pressured' AS phase, CAST(8 AS BIGINT) AS n_buckets,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM documents
        |     WHERE doc_id % 11 != 4) AS live,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM documents
        |     WHERE doc_id % 11 IN (4, 5)) AS dead,
        |  TRUE AS pressured
        |UNION ALL
        |SELECT 'drained', CAST(8 AS BIGINT),
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM documents
        |     WHERE doc_id % 11 != 4),
        |  CAST(0 AS BIGINT), FALSE""".stripMargin,

    // Cohort 0/1 predate the tier column -> exists-default 'bronze';
    // cohort 2 lands after SET DEFAULT -> 'silver'; segment is UNKNOWN
    // where omitted.
    "q190_default_columns" ->
      """SELECT
        |  CASE WHEN c_custkey % 3 = 2 THEN 'silver' ELSE 'bronze' END
        |    AS tier,
        |  CASE WHEN c_custkey % 3 = 1 THEN c_mktsegment
        |       ELSE 'UNKNOWN' END AS segment,
        |  CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(c_custkey) AS BIGINT) AS key_sum
        |FROM customer GROUP BY 1, 2""".stripMargin,

    // Served planner facts are exact (rowCount from the manifest file
    // inventory, min/max canonical); only the ndv_fresh BOOLEAN depends
    // on the sketch, bound-checked in-process.
    "q189_incremental_stats" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(MIN(p_partkey) AS BIGINT) AS pk_min,
        |  CAST(MAX(p_partkey) AS BIGINT) AS pk_max,
        |  TRUE AS ndv_fresh
        |FROM part""".stripMargin,

    // Survivors = every original order (positive prices untouched by
    // the REJECTED batch) plus the post-DROP negated cohort
    // (o_orderkey % 100 = 3, key-offset so nothing collides).
    "q188_check_constraints" ->
      """SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(CASE WHEN o_totalprice < 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_negative,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS price_sum
        |FROM (
        |  SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
        |  UNION ALL
        |  SELECT o_orderkey + 100000000, -o_totalprice, o_orderstatus
        |  FROM orders WHERE o_orderkey % 100 = 3
        |) GROUP BY o_orderstatus""".stripMargin,

    "q187_files_inventory" ->
      """SELECT CAST(8 AS BIGINT) AS n_buckets,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM documents
        |     WHERE doc_id % 10 != 7) AS live_total,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM documents
        |     WHERE doc_id % 10 IN (7, 2)) AS dead_total,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM documents
        |     WHERE doc_id % 10 = 2) AS overlay_total""".stripMargin,

    // main_before = the unpublished base cohort, branch_audit = base +
    // staged, main_after = the published whole.
    "q186_branch_wap" ->
      """SELECT 'main_before' AS src, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(n_chars) AS BIGINT) AS chars_sum
        |FROM documents WHERE doc_id % 4 != 3
        |UNION ALL
        |SELECT 'branch_audit', CAST(COUNT(*) AS BIGINT),
        |  CAST(SUM(n_chars) AS BIGINT) FROM documents
        |UNION ALL
        |SELECT 'main_after', CAST(COUNT(*) AS BIGINT),
        |  CAST(SUM(n_chars) AS BIGINT) FROM documents""".stripMargin,

    // Each probe's pin resolves to a known commit: ts_v1/ts_between/v1
    // = the first INSERT's cohort, ts_now/cur = both cohorts.
    "q185_timestamp_travel" ->
      """SELECT 'ts_v1' AS src, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(o_custkey) AS BIGINT) AS cust_sum
        |FROM orders WHERE o_orderkey % 3 <= 1
        |UNION ALL
        |SELECT 'ts_between', CAST(COUNT(*) AS BIGINT),
        |  CAST(SUM(o_custkey) AS BIGINT)
        |FROM orders WHERE o_orderkey % 3 <= 1
        |UNION ALL
        |SELECT 'ts_now', CAST(COUNT(*) AS BIGINT),
        |  CAST(SUM(o_custkey) AS BIGINT) FROM orders
        |UNION ALL
        |SELECT 'v1', CAST(COUNT(*) AS BIGINT),
        |  CAST(SUM(o_custkey) AS BIGINT)
        |FROM orders WHERE o_orderkey % 3 <= 1
        |UNION ALL
        |SELECT 'cur', CAST(COUNT(*) AS BIGINT),
        |  CAST(SUM(o_custkey) AS BIGINT) FROM orders""".stripMargin,

    // The tag pins the pre-second-load state: exactly the even-id half.
    "q183_version_tags" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(user_id) AS BIGINT) AS sum_uid
        |FROM events WHERE event_id % 2 = 0
        |GROUP BY event_type""".stripMargin,

    // ANALYZE records planner statistics only — the joined aggregate
    // must be byte-identical to plain SQL over the source rows.
    "q182_analyze_cbo" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(user_id) AS BIGINT) AS sum_uid,
        |  ROUND(SUM(value), 6) AS sum_value
        |FROM events WHERE user_id % 11 = 3
        |GROUP BY event_type""".stripMargin,

    // Whatever micro-batching the file source chose, the exactly-once
    // fold must land on the one-shot aggregate.
    "q129_streaming_rollup" ->
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
        |  event_type, CAST(COUNT(*) AS BIGINT) AS n_events
        |FROM events GROUP BY 1, 2""".stripMargin,

    // The MV-maintained streaming rollup must equal the same one-shot
    // aggregate — batching-independent by the two exactly-once ledgers.
    "q200_streaming_mv" ->
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
        |  event_type, CAST(COUNT(*) AS BIGINT) AS n_events
        |FROM events GROUP BY 1, 2""".stripMargin,

    // The shredded-variant aggregate equals the relational recompute
    // over documents (same filter, same grouping).
    "q201_shredded_variant" ->
      """SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM documents WHERE n_chars > 500 GROUP BY 1""".stripMargin,

    // Relational recomputation over the churned facts and the FINAL
    // dim states (post-automap: click→moved, ub 1→apj). ub derives
    // from the ORIGINAL user_id (a stored column the bump never
    // touches) — computed in a named alias so DuckDB's lateral column
    // aliasing cannot bind it to the bumped value.
    "q202_mv_multidim" ->
      """WITH d1 AS (
        |  SELECT event_type,
        |    CASE WHEN event_type = 'click' THEN 'moved'
        |         WHEN event_type = 'view' THEN 'engage'
        |         ELSE 'ops' END AS category
        |  FROM (SELECT DISTINCT event_type FROM events)),
        |d2 AS (
        |  SELECT * FROM (VALUES (0, 'emea'), (1, 'apj'), (2, 'amer'),
        |    (3, 'latam')) AS t(ub, region)),
        |s AS (
        |  SELECT event_id, event_type, user_id % 4 AS ub,
        |    user_id + CASE WHEN event_id % 41 = 11 THEN 3 ELSE 0 END
        |      AS uid
        |  FROM events WHERE event_id % 97 <> 13)
        |SELECT category, region, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(uid) AS BIGINT) AS su
        |FROM s JOIN d1 USING (event_type) JOIN d2 USING (ub)
        |GROUP BY category, region""".stripMargin,

    // The rewritten reads must equal the plain aggregates over the
    // churned corpus (base + the xx cohort folded by the refresh):
    // per-lang COUNT/SUM, AVG reconstructed from the stored riders,
    // and the empty-rollup residual shape (COUNT 0, SUM NULL).
    "q203_mv_query_rewrite" ->
      """WITH s AS (
        |  SELECT doc_id, lang, n_chars FROM documents
        |  UNION ALL
        |  SELECT doc_id + 50000000, 'xx', n_chars FROM documents
        |  WHERE doc_id % 97 = 0)
        |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |  AVG(n_chars) AS avg_chars
        |FROM s GROUP BY lang
        |UNION ALL
        |SELECT '__empty_residual', CAST(COUNT(*) AS BIGINT),
        |  CAST(SUM(n_chars) AS BIGINT), CAST(NULL AS DOUBLE)
        |FROM s WHERE lang = 'zz_nomatch'""".stripMargin,

    // The untouched cohort keeps its pre-cut row with NULL in the added
    // column; the evolved cohort is replaced wholesale.
    "q128_schema_evolution" ->
      """WITH l1 AS (
        |  SELECT user_id, event_type, ts FROM (
        |    SELECT user_id, event_type, ts,
        |      row_number() OVER (PARTITION BY user_id
        |        ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM events
        |    WHERE CAST(ts AS TIMESTAMP) <= TIMESTAMP '2024-01-20 00:00:00')
        |  WHERE rn = 1),
        |l2 AS (
        |  SELECT user_id, event_type, ts FROM (
        |    SELECT user_id, event_type, ts,
        |      row_number() OVER (PARTITION BY user_id
        |        ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM events WHERE user_id % 3 = 0)
        |  WHERE rn = 1)
        |SELECT user_id, event_type AS state, CAST(ts AS TIMESTAMP) AS version_ts,
        |  CAST(NULL AS BIGINT) AS score
        |FROM l1 WHERE user_id % 3 <> 0
        |UNION ALL
        |SELECT user_id, event_type, CAST(ts AS TIMESTAMP),
        |  CAST(length(event_type) AS BIGINT)
        |FROM l2""".stripMargin,

    // The pinned version-1 read = round 1's cutoff relation, recomputed
    // from raw events (newer round-2 data must NOT leak in).
    "q126_time_travel" ->
      """SELECT user_id, event_type AS state, CAST(ts AS TIMESTAMP) AS version_ts
        |FROM (
        |  SELECT user_id, event_type, ts,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events
        |  WHERE CAST(ts AS TIMESTAMP) <= TIMESTAMP '2024-01-20 00:00:00')
        |WHERE rn = 1""".stripMargin,

    // Same patterns through RE2 ('g' = global replace; DuckDB defaults to
    // first-match-only).
    "q86_pii_redaction" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    text || ' contact user' || CAST(doc_id AS VARCHAR) ||
        |      '@example.com from 10.0.' || CAST(doc_id % 200 AS VARCHAR) ||
        |      '.7' AS text
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(text,
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ips,
        |  regexp_replace(regexp_replace(text,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS redacted
        |FROM p""".stripMargin,

    // The id is mod-reduced before the LCG multiply on both engines (see
    // lcgResidue) so no intermediate can overflow Int64 in DuckDB.
    "q87_stratified_split" ->
      """SELECT CAST(floor(length(text)/128.0) AS BIGINT) AS len_bucket,
        |  CASE WHEN ((doc_id % 2147483647)*1103515245 + 12345) % 2147483647 < 1717986917 THEN 'train'
        |       WHEN ((doc_id % 2147483647)*1103515245 + 12345) % 2147483647 < 1932735282 THEN 'val'
        |       ELSE 'test' END AS split,
        |  COUNT(*) AS n_docs
        |FROM documents GROUP BY 1, 2""".stripMargin,

    "q88_per_group_cap" ->
      """SELECT doc_id, len_bucket FROM (
        |  SELECT doc_id,
        |    CAST(floor(length(text)/128.0) AS BIGINT) AS len_bucket,
        |    row_number() OVER (
        |      PARTITION BY CAST(floor(length(text)/128.0) AS BIGINT)
        |      ORDER BY ((doc_id % 2147483647)*1103515245 + 12345) % 2147483647, doc_id) AS rn
        |  FROM documents) WHERE rn <= 20""".stripMargin,

    // 16/16 chunking (the q71 formulation, non-overlapping), then bin =
    // floor(prior-tokens / 48) per document.
    "q89_sequence_packing" ->
      """WITH d AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |c AS (
        |  SELECT doc_id, toks,
        |    unnest(range(((len(toks) - 1) // 16) + 1)) AS chunk_id
        |  FROM d),
        |ch AS (
        |  SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
        |    CAST(len(toks[chunk_id*16+1 : chunk_id*16+16]) AS BIGINT) AS n_toks
        |  FROM c),
        |pr AS (
        |  SELECT doc_id, chunk_id, n_toks,
        |    COALESCE(SUM(n_toks) OVER (PARTITION BY doc_id ORDER BY chunk_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior
        |  FROM ch)
        |SELECT doc_id, CAST(floor(prior/48.0) AS BIGINT) AS bin,
        |  COUNT(*) AS n_chunks, CAST(SUM(n_toks) AS BIGINT) AS n_tokens
        |FROM pr GROUP BY 1, 2""".stripMargin
  )
}
