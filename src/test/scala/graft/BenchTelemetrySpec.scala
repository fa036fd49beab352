package graft

/** Bench's per-query listener: the jobs/stages/tasks columns count
  * listener events with the same definitions across reps, and the
  * shuffle counter sees a shuffle that runs. The cases are RDD actions,
  * so AQE cannot add or fold stages. */
class BenchTelemetrySpec extends SparkSpec {

  /** Runs `body` with a fresh listener attached, the bus drained before
    * and after, and returns the listener for its counters. */
  private def measured(body: => Unit): Bench.Telemetry = {
    val t = new Bench.Telemetry
    val sc = spark.sparkContext
    org.apache.spark.graft.listenerBridge.drain(sc)
    sc.addSparkListener(t)
    try {
      t.reset()
      body
      org.apache.spark.graft.listenerBridge.drain(sc)
    } finally sc.removeSparkListener(t)
    t
  }

  test("a one-stage action: one job, one stage, one task per partition") {
    val t = measured(spark.sparkContext.parallelize(1 to 100, 4).count())
    assert((t.jobs.get, t.stages.get, t.tasks.get) == (1L, 1L, 4L))
    assert(t.shuffleWrite.get == 0L)
  }

  test("a shuffled action: one job, map and result stages, 4 + 2 tasks") {
    val t = measured {
      spark.sparkContext.parallelize(1 to 100, 4)
        .map(x => (x % 3, 1)).reduceByKey(_ + _, 2).count()
    }
    assert((t.jobs.get, t.stages.get, t.tasks.get) == (1L, 2L, 6L))
    assert(t.shuffleWrite.get > 0L)
    assert(t.shuffleRead.get > 0L)
  }

  test("reset zeroes every counter") {
    val t = measured {
      spark.sparkContext.parallelize(1 to 100, 4)
        .map(x => (x % 3, 1)).reduceByKey(_ + _, 2).count()
    }
    assert(t.jobs.get > 0L && t.shuffleWrite.get > 0L)
    t.reset()
    assert(Seq(t.shuffleWrite, t.shuffleRead, t.peakTaskMem, t.jobs,
      t.stages, t.tasks).map(_.get) == Seq.fill(6)(0L))
  }
}
