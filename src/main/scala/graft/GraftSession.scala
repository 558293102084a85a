package graft

import org.apache.spark.sql.SparkSession

import graft.plans.{AsofJoinStrategy, PrefixPairsStrategy}

/** Session factory with the engine's standard configuration.
  *
  * Tuned for `local[32]` testing but designed for a multi-executor
  * cluster: AQE is enabled (runtime coalescing + skew-join splitting),
  * shuffle partitions default to the local core count (on a real
  * cluster this should be 2-3x total executor cores), and the session
  * time zone is pinned to UTC — the reference stamps UTC at ingest
  * (`/root/reference/src/collector/main.py:90`) and the DuckDB oracle
  * compares in UTC.
  *
  * Generated-code cache: [[configure]] sizes Spark's codegen class
  * cache to [[CodegenCacheEntries]]. That conf is STATIC — it is read
  * once per JVM, when the first class is generated — so only sessions
  * built through [[configure]] ([[local]], `Bench`, `Verify`) get it.
  * An externally created session that is only [[prepare]]d keeps
  * Spark's default of 100 entries and recompiles its working set.
  *
  * Spark also keys that cache by the task thread's class loader, and
  * with artifact isolation on (Spark's default) every session gets its
  * own executor class loader. A session clone — the one each
  * `PlanDsl.withConf` plan and each stream runs on — would then
  * compile its whole plan again on every call. The engine adds no
  * per-session artifacts, so both [[configure]] and [[prepare]] turn
  * isolation off: clones made after that share one loader and one
  * set of compiled classes.
  *
  * Even so, each generated source compiles twice per JVM, 10-40 ms
  * apart: once in the thread that submits a query stage (adaptive
  * execution's `shuffle-exchange-N` and `ResultQueryStageExecution-N`,
  * under the application class loader), and once in the first task
  * that runs it (`Executor task launch worker` threads, under the
  * executor's `MutableURLClassLoader`). A cache miss therefore counts
  * as two compiles in `CodegenMetrics.METRIC_COMPILATION_TIME`, and a
  * stage whose source changes on every run (a literal baked into it,
  * see [[graft.plans.ParamLiteral]]) costs two compiles per run. To
  * count a run's compiles, read that counter's `getCount` before and
  * after it.
  */
object GraftSession {

  /** Entries of Spark's generated-class cache
    * (`spark.sql.codegen.cache.maxEntries`, default 100). At 100
    * entries the classes of one medallion tick are evicted before the
    * next tick uses them again: a non-empty tick ran about 80 Janino
    * compiles (4 at this size) and the JIT warmed the fresh classes
    * again. One pass over every declared query at sf0.01 generates
    * about 2700 distinct classes; 4096 is the smallest power of two
    * above that working set. A retained class costs about 25 KB of
    * heap, so a session that runs every query holds at most about
    * 100 MB.
    */
  val CodegenCacheEntries = 4096

  /** Local cores of a session built by [[local]] without an argument,
    * and of every main (`Bench`, `Verify`, `Explain`, `ScaleCurve`,
    * `EnsureScale`) when `SPARK_GRAFT_CPUS` is unset.
    */
  val DefaultCores = 32

  /** Engine configuration applied to every session (batch, bench,
    * verify, tests). Kept in one place so all entry points agree.
    *
    * @param defaultCores shuffle-width default when SPARK_GRAFT_CPUS
    *        is unset — [[local]] passes its core count through so a
    *        `local(4)` session actually gets 4 shuffle partitions as
    *        the scaladoc promises, not a hardcoded 32 (8× task fan-out
    *        per shuffle on a 4-core run).
    */
  def configure(b: SparkSession.Builder,
      defaultCores: Int = DefaultCores): SparkSession.Builder = b
    .config("spark.sql.shuffle.partitions",
      sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCores.toString))
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    // The driver's events table carries parquet TIMESTAMP(NANOS), which
    // Spark has no native type for: read the raw int64 and let
    // Tables.events truncate to microseconds (matching DuckDB's
    // ns -> us truncation on read).
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    // Driver-generated timestamps are naive parquet TIMESTAMP(MICROS)
    // meaning UTC instants (the reference stamps UTC at ingest). Read
    // them as session-TZ TIMESTAMP — not TIMESTAMP_NTZ — so every
    // instant-based operation (unix_micros, watermarks, stream-batch
    // joins) type-checks, and Spark/DuckDB agree on rendered values
    // under the pinned UTC session.
    .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.codegen.cache.maxEntries",
      CodegenCacheEntries.toString)
    .config("spark.sql.artifact.isolation.enabled", "false")

  def local(cores: Int = DefaultCores): SparkSession = {
    val spark = configure(
      SparkSession.builder().master(s"local[$cores]").appName("graft"),
      defaultCores = cores
    ).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    installStrategies(spark)
    spark
  }

  /** Apply the dynamic subset of the engine confs to an
    * externally-created session, such as the one `SparkEntry` is handed.
    * Static confs — the codegen cache size among them — cannot be set
    * on a running session; see the object doc.
    */
  def prepare(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    // read by each session when it is created: clones made from here
    // on share one class loader (see the object doc)
    spark.conf.set("spark.sql.artifact.isolation.enabled", "false")
    // env override for the persisted-artifact root (the cold-series
    // harness points each rep at a fresh dir; `run / fork := true`
    // means a -D on the sbt JVM never reaches the session, so the env
    // var is the contract — same style as SPARK_GRAFT_SF_DIR/CPUS)
    sys.env.get("SPARK_GRAFT_PERSISTED_ROOT").foreach(r =>
      spark.conf.set("spark.graft.persisted.root", r))
    installStrategies(spark)
    spark
  }

  /** Idempotently add the planner strategies for the engine's custom
    * logical nodes ([[graft.plans.AsofJoinNode]],
    * [[graft.plans.PrefixPairsNode]]), which no builtin strategy plans.
    * Native expressions need no registration: they are built as
    * Catalyst nodes through `PlanDsl.column`.
    */
  private def installStrategies(spark: SparkSession): Unit =
    Seq(AsofJoinStrategy, PrefixPairsStrategy).foreach { s =>
      if (!spark.experimental.extraStrategies.contains(s))
        spark.experimental.extraStrategies =
          spark.experimental.extraStrategies :+ s
    }
}
