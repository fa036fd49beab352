package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs — one JVM-wide session (getOrCreate),
  * small shuffle partition count so tiny-fixture tests don't schedule
  * hundreds of empty tasks. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    // one shared warehouse for the one shared session (only the first
    // getOrCreate honors configs anyway); keeps tables out of the repo
    .config("spark.sql.warehouse.dir", SparkSpec.warehouseDir)
    .getOrCreate()

  /** Runs `f` with `kvs` set on [[spark]]'s conf, then restores each
    * key's previous value, or unsets it when it had none. */
  def withConfs[T](kvs: (String, String)*)(f: => T): T = {
    // getAll: getOption reports an unset key's default as a value
    val prev = kvs.map { case (k, _) => k -> spark.conf.getAll.get(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** `body`'s result and the Spark jobs it started, counted by Bench's
    * listener with the bus drained before and after. */
  def jobsOf[T](body: => T): (T, Long) = {
    val t = new Bench.Telemetry
    val sc = spark.sparkContext
    org.apache.spark.graft.listenerBridge.drain(sc)
    sc.addSparkListener(t)
    try {
      val out = body
      org.apache.spark.graft.listenerBridge.drain(sc)
      (out, t.jobs.get)
    } finally sc.removeSparkListener(t)
  }

  def d(s: String): java.sql.Date = java.sql.Date.valueOf(s)
  def ts(s: String): java.sql.Timestamp = java.sql.Timestamp.valueOf(s)
}

object SparkSpec {
  lazy val warehouseDir: String =
    java.nio.file.Files.createTempDirectory("graft-warehouse").toString
}
