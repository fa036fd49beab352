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
  * log level) — they are workload shape, not engine tuning.
  *
  * Work that needs other SQL settings than its caller's session —
  * metadata-scale manifest plans ([[meta]]), served responses
  * bounded by the region count ([[Serving]]: AQE off, one shuffle
  * partition), micro-batch shuffle sizing, AQE off on batch-bounded
  * plans, a parquet inference flag — runs on a [[derived]] session
  * with those settings pinned. No code sets or unsets a conf on a
  * session that other work shares: a reader beside a writer plans
  * under its own session's conf, never under a window the writer
  * opened. */
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

  /** AQE off, for plans whose every exchange is batch-bounded: each
    * adaptive query stage would only be one more scheduler round-trip
    * (a JOB), with nothing to adapt. */
  val AqeOff: Map[String, String] = Map("spark.sql.adaptive.enabled" -> "false")

  /** `spark.sql.shuffle.partitions` pinned to `n`; `n <= 0` pins
    * nothing (the parent's sizing is inherited). */
  def shufflePartitions(n: Int): Map[String, String] =
    if (n <= 0) Map.empty
    else Map("spark.sql.shuffle.partitions" -> n.toString)

  /** TIMESTAMP(NANOS) parquet columns read as ns-since-epoch longs:
    * Spark 4 refuses to infer that footer type otherwise. */
  val NanosAsLong: Map[String, String] =
    Map("spark.sql.legacy.parquet.nanosAsLong" -> "true")

  /** Pinned on every metadata session: manifest stages are bounded by
    * FILE counts, so AQE's per-exchange stage jobs are pure scheduler
    * latency (60-80% of each table-protocol row's jobs in Bench's
    * `jobs` column) and a data-sized shuffle count is tiny-task
    * overhead. */
  private val MetaPinned = AqeOff ++ shufflePartitions(4)

  /** Pinned on every serving session: a served response (an endpoint
    * frame, the dashboard's KPI row over it) holds at most one row per
    * region, so one partition holds it whole — `RangePartitioner` needs
    * no sample job to sort it — and AQE would only add a stage job per
    * exchange, with nothing to adapt. */
  val Serving: Map[String, String] = AqeOff ++ shufflePartitions(1)

  private val derivedSessions = new java.util.WeakHashMap[SparkSession,
    java.util.HashMap[Map[String, String], SparkSession]]()

  /** Every derived session's pins, its parent's pins included. */
  private val pinsOf = new java.util.WeakHashMap[SparkSession,
    Map[String, String]]()

  /** The session `parent` becomes under `pins`: a `newSession()` (same
    * context, cache, catalog and extensions; its own SQL conf), created
    * once per (parent, pins) and reused, with `pins` set on it. Each
    * call copies `parent`'s CURRENT runtime SQL conf but the pinned
    * keys, so work on it sees the parent's time zone, inference and
    * other settings, and the pins never show in `parent`'s conf. A
    * derived session of a derived session keeps both sets of pins;
    * when `parent` already has every pin of `pins` (no pins, or
    * `parent` is itself derived under them) it is returned as it is,
    * so a frame already on a serving session stays there. Spark
    * restores the caller's active session after each action; put a
    * frame of `parent` onto it with
    * [[org.apache.spark.sql.graft.bridge.onSession]]. */
  def derived(parent: SparkSession, pins: Map[String, String]): SparkSession = {
    val cached = derivedSessions.synchronized {
      val held = Option(pinsOf.get(parent)).getOrElse(Map.empty[String, String])
      if (pins.forall { case (k, v) => held.get(k).contains(v) }) None
      else Some(derivedSessions
        .computeIfAbsent(parent, _ => new java.util.HashMap())
        .computeIfAbsent(pins, { _ =>
          val s = parent.newSession()
          pins.foreach { case (k, v) => s.conf.set(k, v) }
          pinsOf.put(s, held ++ pins)
          s
        }))
    }
    cached.fold(parent) { d =>
      def runtime(s: SparkSession) = s.conf.getAll.filter { case (k, _) =>
        !pins.contains(k) && d.conf.isModifiable(k)
      }
      val want = runtime(parent)
      val have = runtime(d)
      (have.keySet -- want.keySet).foreach(d.conf.unset)
      want.foreach { case (k, v) =>
        if (!have.get(k).contains(v)) d.conf.set(k, v)
      }
      d
    }
  }

  /** The METADATA session of `data`: manifest reads and publishes run
    * on it, so their sizing ([[MetaPinned]]) never shows in `data`'s
    * conf, while metadata plans that read data files and cast keys to
    * strings still see `data`'s time zone and inference confs. */
  def meta(data: SparkSession): SparkSession = derived(data, MetaPinned)
}
