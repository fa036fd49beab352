package graft

import org.apache.spark.sql.SparkSession

/** The ONE place every main in this engine builds its SparkSession
  * (r16 verdict task 6).
  *
  * The load-bearing setting is `spark.sql.codegen.cache.maxEntries`: a
  * STATIC conf (it must be set before the first session of the JVM) whose
  * 100-entry default evicts the whole-stage-codegen cache on any workload
  * with a few hundred distinct stage bodies — every micro-batch cadence in
  * this engine. Bench sized it in r16 and its warm reps stopped recompiling
  * ~300 classes; Verify, Demo and the profiling tools each built their own
  * session and silently kept the default. Routing every builder through
  * here makes the sizing a property of the engine, not of one main.
  *
  * Per-main knobs stay per-main (core count, shuffle sizing, timezone,
  * log level) — they are workload shape, not engine tuning. Metadata
  * work gets its own derived session ([[meta]]). */
object Sessions {

  /** Generated-class cache entries: the streaming/store-protocol rows
    * generate several hundred distinct stage bodies per run; generated
    * classes are a few KB each, so 5000 entries is ~tens of MB against
    * the driver heap — the right setting for any long-lived session
    * running micro-batch cadences. */
  val CodegenCacheEntries = "5000"

  /** Build (or reuse) the JVM's local session with the engine-level
    * tuning applied. `cores` and `shufflePartitions` are strings so
    * env-driven callers pass them through untouched. */
  def local(cores: String, shufflePartitions: String,
            appName: String = "graft",
            utc: Boolean = false,
            logLevel: String = "WARN",
            extraConf: Map[String, String] = Map.empty): SparkSession = {
    var b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries)
    if (utc) b = b.config("spark.sql.session.timeZone", "UTC")
    extraConf.foreach { case (k, v) => b = b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel(logLevel)
    s
  }

  /** Pinned on every metadata session: manifest stages are bounded by
    * FILE counts, so AQE's per-exchange stage jobs are pure scheduler
    * latency (60-80% of each table-protocol row's jobs in Bench's
    * `jobs` column) and a data-sized shuffle count is tiny-task
    * overhead. */
  private val MetaPinned = Map(
    "spark.sql.adaptive.enabled" -> "false",
    "spark.sql.shuffle.partitions" -> "4")

  private val metaSessions =
    new java.util.WeakHashMap[SparkSession, SparkSession]()

  /** The METADATA session of `data` (`newSession()`: same context, own
    * SQL conf), created once and reused; manifest reads and publishes
    * run on it, so their sizing never shows in `data`'s conf. Each call
    * copies `data`'s CURRENT runtime SQL conf but the pinned keys
    * (metadata plans read data files and cast keys to strings: time
    * zone, `nanosAsLong` windows). Spark restores the caller's active
    * session after each action. */
  def meta(data: SparkSession): SparkSession = {
    val m = metaSessions.synchronized {
      metaSessions.computeIfAbsent(data, { d =>
        val s = d.newSession()
        MetaPinned.foreach { case (k, v) => s.conf.set(k, v) }
        s
      })
    }
    def runtime(s: SparkSession) = s.conf.getAll.filter { case (k, _) =>
      !MetaPinned.contains(k) && m.conf.isModifiable(k)
    }
    val want = runtime(data)
    val have = runtime(m)
    (have.keySet -- want.keySet).foreach(m.conf.unset)
    want.foreach { case (k, v) =>
      if (!have.get(k).contains(v)) m.conf.set(k, v)
    }
    m
  }
}
