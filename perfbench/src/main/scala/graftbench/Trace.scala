package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans recorded by the benchmark around each call into a layer, plus
  * the Spark jobs those calls submit. Everything stays in memory and is
  * written once, at the end of the run; the arithmetic over it (self
  * time, call-site layers, per-span means) lives in `perfbench/harness.py`.
  *
  * Times are epoch milliseconds with sub-millisecond resolution for
  * spans (a monotonic clock anchored once) and the scheduler's own
  * millisecond stamps for jobs, so both share one time axis. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  import Tracer._

  private val anchorMs = System.currentTimeMillis()
  private val anchorNs = System.nanoTime()
  def nowMs: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  final class Span(val id: Long, val name: String, val thread: String,
                   val start: Double) {
    @volatile var end: Double = Double.NaN
    @volatile var rowsOut: Long = 0L
    @volatile var inBytes: Long = 0L
  }

  private val ids = new AtomicLong
  private val spans = new ConcurrentLinkedQueue[Span]
  val jobs = new JobRecorder
  if (enabled) sc.addSparkListener(jobs)

  /** Run `body` inside a span named `name` when tracing is on and `on`
    * holds; the span id rides a local property onto every job the
    * calling thread submits meanwhile. `inBytes` is the input the call
    * consumes, for the written-per-input ratios. */
  def span[T](name: String, on: Boolean = true, inBytes: Long = 0L)(body: => T): T =
    record(name, on, inBytes, body)(_ => 0L)

  /** A span around a query that returns rows, recording how many, for
    * the scanned-per-returned ratio. */
  def query[R](name: String, on: Boolean)(body: => Array[R]): Array[R] =
    record(name, on, 0L, body)(_.length.toLong)

  private def record[T](name: String, on: Boolean, inBytes: Long, body: => T)
                       (rows: T => Long): T =
    if (!enabled || !on) body
    else {
      val s = new Span(ids.incrementAndGet(), name,
        Thread.currentThread().getName, nowMs)
      s.inBytes = inBytes
      val prev = sc.getLocalProperty(SpanProperty)
      sc.setLocalProperty(SpanProperty, s.id.toString)
      try {
        val out = body
        s.rowsOut = rows(out)
        out
      } finally {
        s.end = nowMs
        sc.setLocalProperty(SpanProperty, prev)
        spans.add(s)
      }
    }

  def toJson: String = {
    org.apache.spark.graft.listenerBridge.drain(sc, 30000L)
    val ss = spans.asScala.toSeq.sortBy(_.id).map { s =>
      Json.obj("id" -> s.id, "name" -> s.name, "thread" -> s.thread,
        "start" -> s.start, "end" -> s.end, "rows_out" -> s.rowsOut, "in_bytes" -> s.inBytes)
    }
    Json.obj("spans" -> Json.arr(ss), "jobs" -> Json.arr(jobs.records),
      "executions" -> Json.Raw(jobs.executionSites))
  }
}

object Tracer {
  val SpanProperty = "graftbench.span"
}

/** Per-job scheduler record: span, call site, interval and task totals. */
final class JobRecorder extends SparkListener {
  final class Job(val id: Int, val span: String, val site: String,
                  val execution: String, val start: Long) {
    @volatile var end: Long = -1L
    val tasks = new AtomicLong
    val busyMs = new AtomicLong
    val shuffleBytes = new AtomicLong
    val readBytes = new AtomicLong
    val readRecords = new AtomicLong
    val writtenBytes = new AtomicLong
    val spillBytes = new AtomicLong
  }

  private val byId = new ConcurrentHashMap[Int, Job]
  private val stageJob = new ConcurrentHashMap[Int, Int]
  private val executions = new ConcurrentHashMap[Long, String]

  /** A SQL execution's description is the call site of the action that
    * started it; its helper-thread jobs (query stages, broadcasts) take
    * that site instead of a JDK frame. */
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      executions.put(s.executionId, s.description)
    case _ =>
  }

  def executionSites: String = Json.obj(executions.asScala.toSeq.sortBy(_._1)
    .map { case (id, site) => id.toString -> site }: _*)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Tracer.SpanProperty))).getOrElse("")
    // the result stage's name is the call site, e.g. "parquet at
    // TableManifest.scala:410"; jobs a query runs on helper threads name
    // a JDK frame instead, and are matched to their query's site through
    // the SQL execution id
    val site = e.stageInfos.sortBy(-_.stageId).headOption.map(_.name).getOrElse("?")
    val execution = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).getOrElse("")
    byId.put(e.jobId, new Job(e.jobId, span, site, execution, e.time))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(byId.get(e.jobId)).foreach(_.end = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val j = Option(stageJob.get(e.stageId)).flatMap(id => Option(byId.get(id)))
    val m = e.taskMetrics
    j.foreach { job =>
      job.tasks.incrementAndGet()
      if (m != null) {
        job.busyMs.addAndGet(m.executorRunTime)
        job.shuffleBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten)
        job.readBytes.addAndGet(m.inputMetrics.bytesRead)
        job.readRecords.addAndGet(m.inputMetrics.recordsRead)
        job.writtenBytes.addAndGet(m.outputMetrics.bytesWritten)
        job.spillBytes.addAndGet(m.diskBytesSpilled)
      }
    }
  }

  def records: Seq[String] =
    byId.values().asScala.toSeq.sortBy(_.id).map { j =>
      Json.obj("id" -> j.id, "span" -> j.span, "site" -> j.site,
        "execution" -> j.execution,
        "start" -> j.start, "end" -> (if (j.end < 0) j.start else j.end),
        "tasks" -> j.tasks.get, "busy_s" -> j.busyMs.get / 1000.0,
        "shuffle_bytes" -> j.shuffleBytes.get,
        "read_bytes" -> j.readBytes.get,
        "read_records" -> j.readRecords.get,
        "written_bytes" -> j.writtenBytes.get,
        "spill_bytes" -> j.spillBytes.get)
    }
}

/** Minimal JSON writer for the raw record; values are numbers, strings,
  * booleans or already-rendered JSON. */
object Json {
  final case class Raw(s: String)
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def value(v: Any): String = v match {
    case null => "null"
    case Raw(s) => s
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n @ (_: Int | _: Long) => n.toString
    case b: Boolean => b.toString
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
  def arr(rendered: Seq[String]): Raw = Raw(rendered.mkString("[", ",", "]"))
}
