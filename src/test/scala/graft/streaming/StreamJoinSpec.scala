package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Spec for the stream–stream interval join. The three contracts worth
  * pinning: (1) semantics — the streamed result is EXACTLY the batch
  * inequality join, bound inclusive; (2) exactly-once across a
  * restarted drain with the same checkpoint; (3) the state-size story
  * is real — with event time advancing file-over-file, buffered rows
  * are EVICTED once the watermark passes the join bound, so the final
  * state is a fraction of everything ingested. */
class StreamJoinSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("event_id", LongType), StructField("user_id", LongType),
    StructField("ts", LongType)))

  // Base event times well past epoch 0: the initial watermark is 0 ms
  // and at-or-below-watermark rows are dropped as late, so a ts=0 test
  // event dies on arrival — a degenerate boundary no real stream sits on.
  private val baseMs = 1000000000L
  private def ns(ms: Long): Long = (baseMs + ms) * 1000000L

  /** One parquet file per call, mtime-ordered by call order (the file
    * source's processing order under maxFilesPerTrigger=1). */
  private def writeArrival(dir: String, sub: String, name: String,
                           rows: Seq[(Long, Long, Long)]): Unit = {
    val stage = s"$dir/stage-$sub-$name"
    rows.toDF("event_id", "user_id", "ts")
      .coalesce(1).write.mode("overwrite").parquet(stage)
    val src = new java.io.File(stage).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(src.toPath,
      java.nio.file.Paths.get(s"$dir/$sub/$name.parquet"))
  }

  private def mkWork(prefix: String): String = {
    val work = java.nio.file.Files.createTempDirectory(prefix).toString
    Seq("a", "b").foreach(s => java.nio.file.Files
      .createDirectory(java.nio.file.Paths.get(s"$work/$s")))
    work
  }

  test("interval join equals the batch inequality join, bound inclusive") {
    val work = mkWork("graft-sjoin")
    val aRows = Seq((1L, 10L, ns(0)), (2L, 10L, ns(1000)),
      (3L, 20L, ns(5000)), (4L, 99L, ns(0)))
    val bRows = Seq((101L, 10L, ns(500)), (102L, 10L, ns(3000)),
      (103L, 30L, ns(0)), (104L, 20L, ns(6000))) // 104: |Δ|=1000, AT bound
    writeArrival(work, "a", "f0", aRows)
    writeArrival(work, "b", "f0", bRows)
    StreamJoin.intervalJoinAvailableNow(spark, s"$work/a", s"$work/b",
      schema, "user_id", "event_id", "ts", boundMs = 1000,
      s"$work/out", s"$work/cp")
    val got = StreamJoin.readJoined(spark, s"$work/out")
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val expected = (for {
      (aid, ak, ats) <- aRows; (bid, bk, bts) <- bRows
      if ak == bk && math.abs(ats / 1000000L - bts / 1000000L) <= 1000
    } yield (aid, bid)).toSet
    assert(got == expected, s"got $got expected $expected")
    assert(got.contains((3L, 104L)), "inclusive bound must keep |Δ|=bound")
  }

  test("restarted drain with the same checkpoint re-emits nothing") {
    val work = mkWork("graft-sjoin-restart")
    writeArrival(work, "a", "f0", Seq((1L, 10L, ns(0))))
    writeArrival(work, "b", "f0", Seq((101L, 10L, ns(100))))
    def drain() = StreamJoin.intervalJoinAvailableNow(spark,
      s"$work/a", s"$work/b", schema, "user_id", "event_id", "ts",
      boundMs = 1000, s"$work/out", s"$work/cp")
    drain()
    // second drain: ONE new b row. It must join the old (checkpointed)
    // a row exactly once, and the old pair must not re-emit.
    writeArrival(work, "b", "f1", Seq((102L, 10L, ns(200))))
    drain()
    val got = StreamJoin.readJoined(spark, s"$work/out")
      .select("a_id", "b_id").as[(Long, Long)].collect().toSeq
    assert(got.sorted == Seq((1L, 101L), (1L, 102L)), s"got $got")
  }

  test("state evicts as the watermark advances across micro-batches") {
    val work = mkWork("graft-sjoin-evict")
    // 4 files per side, one key-matched pair per minute of event time;
    // watermark delay 2 s + bound 1 s means each minute's rows are
    // evictable as soon as the next minute's file moves the watermark
    val minutes = 0 until 4
    minutes.foreach { m =>
      writeArrival(work, "a", f"f$m%02d",
        Seq((m.toLong, 10L, ns(m * 60000L))))
      writeArrival(work, "b", f"f$m%02d",
        Seq((100L + m, 10L, ns(m * 60000L + 100))))
    }
    val q = StreamJoin.intervalJoinAvailableNow(spark,
      s"$work/a", s"$work/b", schema, "user_id", "event_id", "ts",
      boundMs = 1000, s"$work/out", s"$work/cp",
      watermarkDelay = "2 seconds", maxFilesPerTrigger = 1)
    // every within-minute pair still joins…
    val got = StreamJoin.readJoined(spark, s"$work/out")
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(got == minutes.map(m => (m.toLong, 100L + m)).toSet)
    // …but the final state holds only the last micro-batch's horizon,
    // not the 8 rows ingested — the O(rate × bound) contract
    val stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
    assert(stateRows > 0 && stateRows <= 2,
      s"state should hold only the unevictable tail, got $stateRows")
  }

  test("scoped shuffle partitions leave the session conf as found, " +
    "an unset key included") {
    val work = mkWork("graft-sjoin-conf")
    writeArrival(work, "a", "f0", Seq((1L, 10L, ns(0))))
    writeArrival(work, "b", "f0", Seq((101L, 10L, ns(100))))
    def drain(tag: String) = StreamJoin.intervalJoinAvailableNow(spark,
      s"$work/a", s"$work/b", schema, "user_id", "event_id", "ts",
      boundMs = 1000, s"$work/out-$tag", s"$work/cp-$tag",
      shufflePartitions = 2)
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.getAll.get(key)
    try {
      val before = spark.conf.getAll
      drain("set")
      val keptSet = spark.conf.getAll == before
      assert(keptSet, s"conf changed: ${spark.conf.getAll.toSet -- before}")
      spark.conf.unset(key)
      val unset = spark.conf.getAll
      assert(!unset.contains(key))
      drain("unset")
      val keptUnset = spark.conf.getAll == unset
      assert(keptUnset,
        s"restored as ${spark.conf.getAll.get(key)}, expected unset")
    } finally prev.foreach(spark.conf.set(key, _))
  }
}
