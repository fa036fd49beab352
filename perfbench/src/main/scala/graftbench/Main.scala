package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark runner: one workload, one seed, one JVM. Prints progress
  * to stdout and writes the raw record (pass timings, request
  * latencies, check results, and in a traced run the spans and jobs)
  * to `--out`; `perfbench/run.py` turns that record into metrics.
  *
  * Usage: graftbench.Main --workload <name> --seed <n> --seconds <s>
  *        --trace <0|1> --work <dir> --out <file> */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int,
                        trace: Boolean, work: String, out: String)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def get(k: String) = m.getOrElse(k, sys.error(s"missing $k"))
    Args(get("--workload"), get("--seed").toLong, get("--seconds").toInt,
      get("--trace") == "1", get("--work"), get("--out"))
  }

  val Workloads: Map[String, Env => Workload] = Map(
    "strain_backfill" -> (new Strain.Backfill(_)),
    "strain_serve" -> (new Strain.Serve(_)),
    "curation_batch" -> (new Curation.Batch(_)),
    "curation_stream" -> (new Curation.Stream(_)))

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val make = Workloads.getOrElse(a.workload,
      sys.error(s"unknown workload ${a.workload}; one of " +
        Workloads.keys.toSeq.sorted.mkString(", ")))
    val jvmStart = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getStartTime
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = graft.Sessions.local(cores.toString, cores.toString,
      appName = s"graftbench-${a.workload}", utc = true, logLevel = "ERROR",
      extraConf = Map(
        "spark.local.dir" -> s"${a.work}/spark-local",
        "spark.sql.warehouse.dir" -> s"${a.work}/warehouse"))
    val env = new Env(spark, a)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    try {
      val w = make(env)
      val canaryPre = if (a.trace) Some(Canary.scan(spark)) else None
      // set-up runs in a span of its own in a traced run: pool threads
      // started meanwhile keep its id, which ties their later jobs to
      // the thread that started them (see `attribute` in harness.py)
      val (prepareS, _) = Env.timed(env.tracer.span("setup")(w.prepare()))
      val (warmupS, _) = Env.timed(env.tracer.span("setup")(w.warmup()))
      println(f"[bench] ${a.workload} seed=${a.seed} session=$sessionS%.2fs " +
        f"prepare=$prepareS%.2fs warmup=$warmupS%.2fs")
      val (wallS, _) = Env.timed(w.timed(a.seconds))
      println(f"[bench] timed region $wallS%.2fs, ${env.passes.size} passes, " +
        s"${env.requests.size} requests")
      val canaryPost = if (a.trace) Some(Canary.scan(spark)) else None
      val ioCanary = if (a.trace) Some(Canary.io(spark, s"${a.work}/io-canary"))
        else None
      val (checkS, _) = Env.timed(w.check())
      println(f"[bench] checks $checkS%.2fs")
      val fields = mutable.ArrayBuffer[(String, Any)](
        "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
        "cores" -> cores, "session_s" -> sessionS, "warmup_s" -> warmupS,
        "prepare_s" -> prepareS, "wall_s" -> wallS,
        "writer_s" -> env.writerS, "reader_s" -> env.readerS,
        "rows_total" -> env.rows.get,
        "input_bytes" -> w.inputBytes, "output_bytes" -> w.outputBytes,
        "ops_attempted" -> env.attempted.get, "ops_failed" -> env.failed.get,
        "passes" -> Json.arr(env.passes.asScala.toSeq.map(_.json)),
        "requests_ms" -> env.requests.asScala.toSeq,
        "checks" -> Json.arr(env.checks.asScala.toSeq.map { case (n, ok, d) =>
          Json.obj("name" -> n, "ok" -> ok, "detail" -> d) }))
      if (a.trace) fields ++= Seq(
        "canary_pre_s" -> canaryPre.get, "canary_post_s" -> canaryPost.get,
        "io_canary_s" -> ioCanary.get, "trace" -> Json.Raw(env.tracer.toJson))
      val p = java.nio.file.Paths.get(a.out)
      java.nio.file.Files.writeString(p, Json.obj(fields.toSeq: _*))
      println(s"[bench] wrote ${a.out}")
    } finally spark.stop()
  }
}

/** One timed pass: the pipeline calls (`tick`), the read that shows
  * their output (`read`), landing-to-readable (`fresh`), and the whole
  * pass including any landing and maintenance (`wall`). */
final case class Pass(wall: Double, tick: Double, read: Double,
                      fresh: Double) {
  def json: String = Json.obj("wall_s" -> wall, "tick_s" -> tick,
    "read_s" -> read, "fresh_s" -> fresh)
}

/** What a workload run shares: the session, the tracer, and the
  * records the metrics are computed from. */
final class Env(val spark: SparkSession, val args: Main.Args) {
  val tracer = new Tracer(spark.sparkContext, args.trace)
  val passes = new ConcurrentLinkedQueue[Pass]
  /** Reader request latencies, ms. */
  val requests = new ConcurrentLinkedQueue[Double]
  val checks = new ConcurrentLinkedQueue[(String, Boolean, String)]
  val attempted = new AtomicLong
  val failed = new AtomicLong
  val rows = new AtomicLong
  /** Busy time of the writer's passes and of the reader's requests. */
  @volatile var writerS = 0.0
  @volatile var readerS = 0.0

  def dir(name: String): String = s"${args.work}/$name"

  /** Time one reader request; it counts only if it did not throw. */
  def request(body: => Option[_]): Unit = {
    val t0 = System.nanoTime()
    if (body.isDefined) requests.add((System.nanoTime() - t0) / 1e6)
  }

  /** The writer: `n` passes back to back on the calling thread. */
  def writer(n: Int)(pass: Int => Unit): Unit =
    writerS = Env.timed((0 until n).foreach(pass))._1

  /** The reader client: one thread issuing `n` requests back to back. */
  def reader(n: Int)(request: Int => Unit): Thread = {
    val t = new Thread(() => {
      readerS = Env.timed((0 until n).foreach(request))._1
    }, "reader-client")
    t.start()
    t
  }

  /** One operation against the program: counted as attempted, and as
    * failed if it throws. The failure is logged, not rethrown, so the
    * run still reports it. */
  def op[T](what: String)(body: => T): Option[T] = {
    attempted.incrementAndGet()
    try Some(body)
    catch {
      case e: Exception =>
        failed.incrementAndGet()
        System.err.println(s"[bench] FAILED $what: $e")
        e.printStackTrace()
        None
    }
  }

  /** An output check, run after the timed region. */
  def check(name: String)(ok: => Boolean, detail: => String = ""): Unit = {
    val (res, d) =
      try { val r = ok; (r, if (r) "" else detail) }
      catch { case e: Exception => (false, s"threw $e") }
    if (!res) System.err.println(s"[bench] CHECK FAILED $name: $d")
    checks.add((name, res, d))
  }
}

object Env {
  def timed[T](body: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val out = body
    ((System.nanoTime() - t0) / 1e9, out)
  }

  /** Bytes of regular files under `path` (0 if absent). */
  def du(path: String): Long = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(java.nio.file.Files.size).sum
      finally s.close()
    }
  }

  def rmrf(path: String): Unit =
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(path))

  def writeText(path: String, text: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.writeString(p, text)
  }
}

/** A workload: inputs made from the seed, warm-up passes on separate
  * data, a timed region of writer passes and reader requests, and
  * output checks after it. */
trait Workload {
  /** Generate and load the timed region's inputs. */
  def prepare(): Unit
  /** One untimed pass of the workload, on data of its own, after the
    * last [[prepare]]: it takes the cold JIT and codegen cost. */
  def warmup(): Unit
  /** The timed region. Its work is fixed by `seconds` alone (a pass
    * and request count sized to take about that long), so every commit
    * does the same work. */
  def timed(seconds: Int): Unit
  def check(): Unit
  def inputBytes: Long
  def outputBytes: Long
}

/** Host canaries: product-free probes of CPU and IO speed, recorded
  * beside the traced run and never used to normalise anything. */
object Canary {
  /** A fixed scan + aggregation. */
  def scan(spark: SparkSession): Double = {
    def once() = Env.timed(spark.range(0L, 8000000L, 1L, 8)
      .selectExpr("id % 1000 as k", "id * 3 as v")
      .groupBy("k").sum("v").collect())._1
    once()
    once()
  }

  /** Parquet write, directory rename, read back. */
  def io(spark: SparkSession, dir: String): Double = {
    def once(): Double = {
      Env.rmrf(dir)
      Env.timed {
        spark.range(0L, 200000L, 1L, 4).selectExpr("id", "cast(id as string) s")
          .write.parquet(s"$dir/a")
        new java.io.File(s"$dir/a").renameTo(new java.io.File(s"$dir/b"))
        spark.read.parquet(s"$dir/b").count()
      }._1
    }
    once()
    val t = once()
    Env.rmrf(dir)
    t
  }
}

/** Loads the classes a run needs (session, SQL, CSV and parquet I/O)
  * and exits; `run.py` runs it once after a build to write the JVM's
  * class-data archive, so that measured runs start faster.
  *
  * Usage: graftbench.Classes <work dir> */
object Classes {
  def main(args: Array[String]): Unit = {
    val work = args(0)
    val spark = graft.Sessions.local("2", "2", utc = true, logLevel = "ERROR",
      extraConf = Map("spark.local.dir" -> s"$work/spark-local",
        "spark.sql.warehouse.dir" -> s"$work/warehouse"))
    try {
      Canary.scan(spark)
      Canary.io(spark, s"$work/io")
      Env.writeText(s"$work/a.csv", "a,b\n1,x\n")
      spark.read.option("header", "true").csv(s"$work/a.csv").collect()
    } finally spark.stop()
  }
}
