package graft
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

object Bench {

  /** Per-query telemetry: shuffle bytes written, shuffle bytes read,
    * and the max per-task peak execution memory — the numbers that
    * expose a plan regression (a new shuffle, a ballooning hash table)
    * even when wall time hides it in the noise band — plus the Spark
    * jobs started, stages completed and their tasks: at micro-batch
    * scale a store-protocol row's wall is dominated by the NUMBER of
    * sequential driver round-trips (each job ≈ 20–60 ms of scheduling
    * at local[32]), not by data volume, and the count repeats exactly
    * where wall time does not. Events only: counting adds no job.
    * Counters reset per query after draining the listener bus. */
  private[graft] final class Telemetry extends SparkListener {
    val shuffleWrite = new AtomicLong
    val shuffleRead = new AtomicLong
    val peakTaskMem = new AtomicLong
    val jobs = new AtomicLong
    val stages = new AtomicLong
    val tasks = new AtomicLong
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      val m = te.taskMetrics
      if (m != null) {
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        peakTaskMem.accumulateAndGet(m.peakExecutionMemory, Math.max(_, _))
      }
    }
    override def onJobStart(js: SparkListenerJobStart): Unit =
      jobs.incrementAndGet()
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet()
      tasks.addAndGet(sc.stageInfo.numTasks.toLong)
    }
    def reset(): Unit = { shuffleWrite.set(0); shuffleRead.set(0)
      peakTaskMem.set(0); jobs.set(0); stages.set(0); tasks.set(0) }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // Noise control: single-query swings of up to 6.5x with byte-identical
    // shuffle/peak telemetry were observed across rounds (host state: page
    // cache, JIT, GC phase). min-of-REPS absorbs the one-off stalls; the
    // canary (below) exposes whatever host drift remains. REPS=1 restores
    // the old single-shot behavior for quick dev loops.
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt.max(1)
    // dev aid: bench a comma-separated subset (same contract as Verify)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // engine-level tuning (codegen cache sizing) lives in Sessions —
    // one factory for every main, r16 verdict task 6
    val spark = Sessions.local(cpus, cpus, appName = "graft-bench")
    val telemetry = new Telemetry
    spark.sparkContext.addSparkListener(telemetry)
    // untimed warmup: JVM/codegen/parquet-reader init and file listing
    // for every table the catalog actually reads — not query work
    Seq("lineitem", "orders", "customer", "nation", "region",
      "documents", "embeddings").foreach { t =>
      spark.read.parquet(s"$sfDir/$t.parquet").count()
    }
    // events may carry TIMESTAMP(NANOS): warm it on a nanosAsLong
    // session derived from `spark` — the catalog's events helper does
    // its own inference the same way, so the benched queries run in a
    // conf-clean session
    Sessions.derived(spark, Sessions.NanosAsLong)
      .read.parquet(s"$sfDir/events.parquet").count()
    // a crashing query must FAIL the bench visibly (nonzero exit + its
    // error in the JSON), never bench as a fast query — r1's x15 failure
    // was invisible here and caught only by the correctness oracle.
    // NonFatal only: an OOM or other VM error leaves the JVM unreliable,
    // so timings recorded after it would be meaningless — let it kill
    // the run instead of benchmarking through it.
    // Attribution metrics for the wall-time component that shuffle/peak
    // telemetry can't see: JVM-wide GC time and whole-stage-codegen
    // (janino) compile count. A slow rep with +gc_ms ≈ the wall delta is
    // a collector stall; one with +compiles is a codegen-cache miss
    // (fresh generated source → ~10-100 ms compile each); neither means
    // the query's plan got worse.
    def gcMs(): Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getCollectionTime.max(0L)).sum
    }
    def codegenCompiles(): Long =
      org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME.getCount
    final case class Timing(sec: Double, shufMb: Double, peakMb: Double,
      gcDeltaMs: Long, compiles: Long, jobs: Long, stages: Long,
      tasks: Long, err: Option[String])
    def timeOnce(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : Timing = {
      org.apache.spark.graft.listenerBridge.drain(spark.sparkContext)
      telemetry.reset()
      // cross-query memos must not hide build cost: every rep plans its
      // manifest reads from scratch
      graft.operators.TableManifest.clearPlanMemo()
      val (gc0, cg0) = (gcMs(), codegenCompiles())
      val t0 = System.nanoTime()
      val err =
        try { fn(spark, sfDir).count(); None }
        catch { case scala.util.control.NonFatal(e) =>
          Some(Option(e.toString).getOrElse(e.getClass.getName).take(300)) }
      val sec = (System.nanoTime() - t0) / 1e9
      org.apache.spark.graft.listenerBridge.drain(spark.sparkContext)
      val shufMb =
        (telemetry.shuffleWrite.get + telemetry.shuffleRead.get) / 1e6
      val peakMb = telemetry.peakTaskMem.get / 1e6
      Timing(sec, shufMb, peakMb, gcMs() - gc0, codegenCompiles() - cg0,
        telemetry.jobs.get, telemetry.stages.get, telemetry.tasks.get, err)
    }
    // Canary: one fixed scan+agg whose cost depends only on host state,
    // timed single-shot before and after the suite. A hot host benches it
    // ~uniformly; a drifting host shows pre/post divergence — so a round-
    // over-round total swing with a matching canary swing is host noise,
    // and one without is a real regression.
    val canaryFn: (SparkSession, String) => org.apache.spark.sql.DataFrame =
      (s, dir) => s.read.parquet(s"$dir/lineitem.parquet")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(org.apache.spark.sql.functions.sum("l_quantity"),
          org.apache.spark.sql.functions.avg("l_extendedprice"),
          org.apache.spark.sql.functions.count("*"))
    // IO canary: a fixed PRODUCT-CODE-FREE probe of the job-latency/IO
    // class the scan canary cannot see — two plain parquet writes, an
    // atomic java.nio rename (the pointer-flip primitive), and a
    // read-back, all via stock Spark/NIO. Evidence (r13→r14):
    // store-probe rows drifted 1.2–1.5× round-over-round under a ~0.97
    // scan-canary ratio with identical plans and shuffle bytes.
    // Deliberately NOT MergeUpsert round-trips (r14 advice): the
    // normalizer must measure host state only — a probe built on the
    // merge path would fold a real merge regression into the canary
    // ratio and normalize it away across every query. The merge path
    // itself stays covered as MEASURED store-probe queries (x236+).
    // The probe dir lives under the bench cwd (typically real disk —
    // on a tmpfs cwd it measures memory, weakening the drift signal)
    // and is deleted after each probe so runs don't leak store dirs.
    def ioCanary(): Double = {
      val root = java.nio.file.Files.createTempDirectory(
        java.nio.file.Paths.get("").toAbsolutePath, ".graft-iocanary")
      // cleanup in finally (and the walk stream closed) so a failed
      // probe never leaks a .graft-iocanary dir under the bench cwd
      try {
        val df = spark.range(1000).selectExpr("id", "id % 7 AS v")
        val t0 = System.nanoTime()
        df.write.mode("overwrite").parquet(s"$root/staged")
        df.limit(100).write.mode("overwrite").parquet(s"$root/v2")
        java.nio.file.Files.move(root.resolve("staged"), root.resolve("v1"),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        spark.read.parquet(s"$root/v1", s"$root/v2").count()
        (System.nanoTime() - t0) / 1e9
      } finally {
        import scala.jdk.CollectionConverters._
        val walk = java.nio.file.Files.walk(root)
        try walk.iterator().asScala.toSeq.reverse
          .foreach(p => java.nio.file.Files.deleteIfExists(p))
        finally walk.close()
      }
    }
    // one discarded probe of each canary first: the first run of the
    // scan pays its plan's codegen, and the session's first parquet
    // WRITE pays committer/writer init (~2× a warm probe) — JVM state,
    // not the host signal the canaries exist to measure
    timeOnce(canaryFn)
    val canaryPre = timeOnce(canaryFn).sec
    ioCanary()
    val ioCanaryPre = ioCanary()
    // above this, the window is treated as IO-degraded and the blip
    // guard's spread trigger tightens (clean-host probe ≈ 0.3-0.6 s)
    val ioBlipThreshold = 1.2
    // rep spread: the slowest WARM rep over the fastest rep. Rep 1 may
    // pay codegen or a memo build, so a slow first rep is cold cost,
    // not contention; a warm rep slower than the fastest one is.
    def spreadOf(secs: Seq[Double]): Double =
      if (secs.size < 2) 1.0 else secs.tail.max / math.max(secs.min, 1e-9)
    val results = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
        // min-of-reps: stop early on error (an already-failed query is not
        // worth re-timing); keep the telemetry of the fastest rep — the
        // shuffle/peak numbers are plan properties and rep-invariant.
        val runs = scala.collection.mutable.ArrayBuffer.empty[Timing]
        while (runs.size < reps && runs.forall(_.err.isEmpty))
          runs += timeOnce(fn)
        // blip guard (widened, r14 verdict item 2): the r14 driver
        // artifact recorded x39 at 15.7 s off reps [53.8, 15.7] and
        // x192 at 10.35 s that the same tree runs in 0.83 s — window
        // contention landing on BOTH reps of expensive queries. When
        // a warm rep runs > 2× the fastest rep (any magnitude, not just
        // sub-second rows; spreadOf), or the pre-suite IO canary already
        // marks a degraded window and that spread is still > 1.5×, a third
        // rep arbitrates and the MIN is recorded. Min, not median
        // (reversing r13's symmetric-median choice, per the r14
        // verdict): a query cannot run FASTER than its true cost, so
        // min converges on the quiet-window value while median stays
        // hostage to a window where 2 of 3 reps stalled; the one-sided
        // bias is bounded below by physics, and the full rep list plus
        // the rep_spread column keep the evidence in the artifact.
        var blipped = false
        if (runs.size > 1 && runs.forall(_.err.isEmpty)) {
          val spread = spreadOf(runs.map(_.sec).toSeq)
          val trigger = spread > 2.0 ||
            (ioCanaryPre > ioBlipThreshold && spread > 1.5)
          if (trigger) {
            runs += timeOnce(fn)
            blipped = true
          }
        }
        val best = runs.find(_.err.isDefined)
          .getOrElse(runs.minBy(_.sec))
        if (reps > 1) Console.err.println(
          f"[bench] $name reps=[${runs.map(r => f"${r.sec}%.2f").mkString(",")}]"
            + s" gc=[${runs.map(_.gcDeltaMs).mkString(",")}]ms"
            + s" compiles=[${runs.map(_.compiles).mkString(",")}]"
            + s" jobs=[${runs.map(_.jobs).mkString(",")}]"
            + (if (blipped) " blipped(min-of-3)" else ""))
        (name, best, runs.map(_.sec).toSeq, blipped)
      }.toSeq
    val canaryPost = timeOnce(canaryFn).sec
    val ioCanaryPost = ioCanary()
    def jstr(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case '\n' => "\\n"
        case '\r' => "\\r"
        case '\t' => "\\t"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    def numMap(f: Timing => AnyVal): String =
      results.map { case (n, t, _, _) => s"\"" + n + "\":" + f(t) }
        .mkString("{", ",", "}")
    // every rep's wall time, first to last: the reported min is the
    // noise-robust headline, but for queries whose first rep trains a
    // memoized artifact (bpe/unigram/dedup-family stages) rep 1 IS the
    // cold training cost — keep it recoverable from the artifact
    val repsMap = results.map { case (n, _, rs, _) =>
      s"\"" + n + "\":[" + rs.mkString(",") + "]" }
      .mkString("{", ",", "}")
    // rep spread (spreadOf): the per-query measurement-stability
    // column bench_compare consumes — a flagged query whose spread is
    // high was measured in contention, so its recorded value is an
    // upper bound, not a plan property
    val spreadMap = results.map { case (n, _, rs, _) =>
      val s = spreadOf(rs)
      s"\"" + n + "\":" + (math.round(s * 100.0) / 100.0) }
      .mkString("{", ",", "}")
    val qs = numMap(_.sec)
    // telemetry maps parallel to "queries" (additive: the driver's
    // seconds-map contract is untouched). shuffle_mb counts write+read
    // (a shuffle that runs shows up even if its read side is pruned);
    // peak_mem_mb is the max single-task peak execution memory; gc_ms /
    // codegen_compiles attribute wall time the first two can't explain.
    val shuf = numMap(t => math.round(t.shufMb * 100.0) / 100.0)
    val peak = numMap(t => math.round(t.peakMb * 100.0) / 100.0)
    val gc = numMap(_.gcDeltaMs.toDouble)
    val compiles = numMap(_.compiles.toDouble)
    // driver round-trips of the recorded rep: jobs started, stages
    // completed, and their summed task counts
    val jobs = numMap(_.jobs)
    val stages = numMap(_.stages)
    val tasks = numMap(_.tasks)
    val failed = results.collect { case (k, t, _, _) if t.err.isDefined =>
      k -> t.err.get }
    val errs = failed.map { case (k, e) => s"\"" + k + "\":" + jstr(e) }
      .mkString("{", ",", "}")
    val total = results.map(_._2.sec).sum
    // The driver captures only the last ~2 KB of sbt output and parses a
    // JSON line out of it. A 137-query map is ~10 KB, so the line head
    // (and the seconds map) fell outside the tail window in r4/r5 and the
    // driver recorded parsed:null. Contract now: the full per-query
    // seconds/shuffle/peak/error maps go to BENCH_FULL.json on disk, and
    // stdout ends with ONE compact line that always fits the tail window.
    val canaries =
      s""""canary_pre_sec":${f"$canaryPre%.3f"},"canary_post_sec":${f"$canaryPost%.3f"},"io_canary_pre_sec":${f"$ioCanaryPre%.3f"},"io_canary_post_sec":${f"$ioCanaryPost%.3f"},"reps":$reps"""
    val blippedArr = results.collect { case (n, _, _, true) => "\"" + n + "\"" }
      .mkString("[", ",", "]")
    val full =
      s"""{"metric":"total","value":$total,"unit":"sec",$canaries,"queries":$qs,"shuffle_mb":$shuf,"jobs":$jobs,"stages":$stages,"tasks":$tasks,"peak_mem_mb":$peak,"gc_ms":$gc,"codegen_compiles":$compiles,"reps_sec":$repsMap,"rep_spread":$spreadMap,"blipped":$blippedArr,"errors":$errs,"sf":"$sfDir"}"""
    // A SCOPED run (SPARK_GRAFT_ONLY set) writes BENCH_SCOPED.json and
    // leaves the full-suite artifacts untouched — a dev subset run can
    // no longer clobber BENCH_FULL/BENCH_SUMMARY with partial totals
    // (it did, twice: the r14 and r15 post-close restores).
    val fullPath = java.nio.file.Paths.get(
      if (only.isDefined) "BENCH_SCOPED.json" else "BENCH_FULL.json")
    java.nio.file.Files.write(fullPath,
      full.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // The driver's parse slot has recorded null for four rounds because it
    // tail-scrapes sbt stdout and sbt appends its own closing banner after
    // our last println. The hard totals therefore ALSO go to a tiny file —
    // BENCH_SUMMARY.json — that needs no tail-window luck to recover.
    val compact =
      s"""{"metric":"total","value":$total,"unit":"sec","n":${results.size},"failed":${failed.size},$canaries,"sf":"$sfDir","full":"${fullPath.toAbsolutePath}"}"""
    if (only.isEmpty)
      java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_SUMMARY.json"),
        compact.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(compact)
    spark.stop()
    if (failed.nonEmpty) {
      Console.err.println(s"BENCH FAILED: ${failed.map(_._1).mkString(", ")}")
      sys.exit(1)
    }
  }
}
