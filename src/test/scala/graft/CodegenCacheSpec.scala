package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.graft.PlanDsl

import graft.pipeline.Medallion

/** Spark's generated-class cache holds the engine's working set, so
  * re-running the same plans costs their data work and no compiles.
  */
class CodegenCacheSpec extends SparkSpec {

  /** Janino compiles in this JVM so far (one per cache miss). */
  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Declared queries with no literal baked into their generated code
    * that changes between runs. Together they generate about 260
    * distinct classes at sf0.001, well past Spark's default cache of
    * 100, so at that size the second pass recompiles every one.
    */
  private val Warm = Seq("set_ops", "graph_triangles", "assign_dense_ids",
    "select_token_budget", "profile_inclusion", "approx_distinct",
    "binning_equidepth", "drift_ks", "outlier_mad")

  private def runWarm(): Unit = Warm.foreach { q =>
    SparkEntry.queries(q)(spark, sf).write.format("noop").mode("overwrite").save()
  }

  test("GraftSession.local sessions carry the codegen cache size") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ===
      GraftSession.CodegenCacheEntries.toString)
  }

  test("a warm re-run compiles nothing") {
    val root = PlanDsl.tempDir("graft-codegen-cache").toString
    // a build, whose quality gate checks whole layers, then two no-op
    // runs: the first plans the gate's day-scoped checks for the first
    // time and compiles their two aggregate stages, the second is warm
    (1 to 3).foreach(_ => Medallion.run(spark, sf, root))
    runWarm()
    val c0 = compiles
    runWarm()
    assert(compiles - c0 === 0, s"warm re-run of ${Warm.mkString(", ")}")
    // the queries above ran between the two no-op runs
    val c1 = compiles
    Medallion.run(spark, sf, root)
    assert(compiles - c1 === 0, "no-new-data medallion re-run")
  }

  test("a medallion arrival with a new watermark compiles nothing") {
    val landing = PlanDsl.tempDir("graft-codegen-arrival")
    val events = s"$landing/events.parquet"
    val root = landing.resolve("mat").toString
    // bronze with ts statistics, as the fixtures land it; each slice
    // ends mid-day, so each arrival re-opens stg's max day
    val all = Tables.events(PlanDsl.withConf(spark,
      "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS"), sf)
    def ts(s: String) = lit(s).cast("timestamp")
    all.filter(col("ts") < ts("2024-01-26 12:00:00")).write.parquet(events)
    Medallion.run(spark, landing.toString, root)
    all.filter(col("ts") >= ts("2024-01-26 12:00:00") && col("ts") < ts("2024-01-28 12:00:00"))
      .write.mode("append").parquet(events)
    Medallion.run(spark, landing.toString, root) // compiles the arrival path
    all.filter(col("ts") >= ts("2024-01-28 12:00:00")).write.mode("append").parquet(events)
    val c0 = compiles
    Medallion.run(spark, landing.toString, root)
    assert(compiles - c0 === 0, "arrival above a new watermark")
  }
}
