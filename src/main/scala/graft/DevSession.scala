package graft

import org.apache.spark.sql.SparkSession

/** The session builder every dev main (Bench, BenchSome, TimeQ, Plans,
  * PlanDump, ProfileQ, Verify, VerifySome) starts from: `local[cores]`
  * with one shuffle partition per core, UTC, nanos-as-long parquet
  * timestamps, AQE, no UI. Returned unbuilt so a main can layer its own
  * confs before `getOrCreate`. Smoke builds a vanilla session on
  * purpose: it checks that the engine needs no special conf.
  */
object DevSession {
  def builder(cores: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      // the generated-class cache defaults to 100 entries; a session
      // running hundreds of distinct query plans (the bench, any
      // long-lived production driver) thrashes it and RE-COMPILES
      // identical sources — scale-independent, measured 2026-08-19
      // (q184 task threads: 7.9 s sampled in classloader/Janino)
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.ui.enabled", "false")
}
