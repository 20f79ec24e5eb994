package graft.core

import org.apache.spark.sql.SparkSession

/** Session factory for the engine (SURVEY §7 module `core`).
  *
  * Defaults chosen for correctness parity with the DuckDB oracle (UTC
  * session timezone; Spark 4 defaults ANSI mode ON, which we keep —
  * wrap-around hash arithmetic lives inside native expressions) and for local[N]
  * iteration with a shuffle-partition count that matches the core count
  * instead of the 200 default. On a real cluster the same builder is
  * used with `master` unset (spark-submit provides it) and
  * `spark.sql.shuffle.partitions` sized to ~2-3x total cores; AQE
  * coalesces down at runtime either way.
  */
object Sessions {

  /** Build (or reuse) the engine session. */
  def local(cores: Int = Runtime.getRuntime.availableProcessors(),
            shufflePartitions: Int = 32,
            appName: String = "graft"): SparkSession =
    configure(SparkSession.builder().master(s"local[$cores]"), shufflePartitions, appName)
      .getOrCreate()

  // weak keys: a stopped session's entry disappears with the object,
  // and a fresh session can never inherit its id (Spark's own
  // sessionUUID is private[sql], so we mint our own)
  private val sessionIds = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, String]())

  /** Stable unique key for a session, for caches of session-scoped
    * state (temp views, catalog tables). `System.identityHashCode` is
    * NOT unique — a collision, or hash reuse after a stopped session is
    * GC'd, could hand a fresh session another session's state (review).
    */
  def uuid(spark: SparkSession): String =
    sessionIds.computeIfAbsent(spark, _ => java.util.UUID.randomUUID().toString)

  /** Apply the engine's standard conf to any builder (cluster or local). */
  def configure(b: SparkSession.Builder,
                shufflePartitions: Int = 32,
                appName: String = "graft"): SparkSession.Builder =
    b.appName(appName)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // Let AQE coalesce CACHED plan output too (off by default only for
      // plan-output-partitioning stability): every persisted/checkpointed
      // round frame in the iterative operators otherwise pins the full
      // shuffle-partition count onto each of its consumer stages, so a
      // |V|-row state frame fans 32 near-empty tasks into every round at
      // any scale factor. Guide §2.2 (fewer, larger partitions).
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      // Generated-class cache sized to the query mix. At Spark's default
      // of 100 entries the 21 short Relational + SqlPath queries
      // recompiled 150-184 classes on every steady-state pass (counted
      // with CodegenMetrics); at 1000 a steady pass compiles 0. The
      // metadata push job needs 37 classes in total and fits either way.
      // A static conf: the cache is built once per JVM, so the first
      // session's value holds for every later session.
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      // NOTE (r19 measurement): lowering
      // spark.sql.adaptive.coalescePartitions.minPartitionSize to 64k
      // session-wide was tried to stop AQE collapsing small-byte but
      // CPU-heavy post-shuffle stages to one task; it helped the one
      // wedge-join query (x_adamic_adar 4.1→2.7 s) but regressed every
      // iterative operator (x_hits 4.2→6.7, x_kcore 2.9→4.9 — more tiny
      // tasks per round × many rounds). CPU-heavy-per-byte stages pin
      // their parallelism explicitly at the operator instead (the
      // SetSimJoin/hardNegativesIvf discipline).
      // events.parquet carries TIMESTAMP(NANOS) which Spark's parquet
      // reader only accepts via this flag (read as long, converted by
      // graft.core.Tables.events to a microsecond timestamp).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
}
