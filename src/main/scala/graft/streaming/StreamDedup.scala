package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** In-flight exactly-once event dedup for streams — the front door of
  * a streaming training-data pipeline (at-least-once sources redeliver;
  * downstream state must see each event once).
  *
  * `dropDuplicatesWithinWatermark` keys the dedup state on `keyCols`
  * and evicts each key once the watermark passes its event time, so
  * state is O(events inside the watermark window), not O(history) —
  * the difference between a stream that runs for years and one that
  * OOMs in a week. Duplicates arriving within the watermark window are
  * dropped even when their timestamps differ slightly (retries often
  * re-stamp), which plain `dropDuplicates` on (key, ts) would miss.
  *
  * Contrast the other two dedup tiers here:
  *   - StreamIngest's idempotent MERGE: dedup at the SINK (state = the
  *     table itself, unbounded keys, exactly-once per file);
  *   - this: dedup in FLIGHT (bounded state, exactly-once per event
  *     within the lateness bound);
  *   - Dedup.exact/minhash...: dedup at REST (batch, content-based).
  */
object StreamDedup {

  /** Drop redelivered events by `keyCols`, with state bounded by the
    * watermark on `tsCol` (must carry `allowedLateness` at least as
    * large as the source's redelivery horizon). On a batch frame the
    * same call degrades to plain `dropDuplicates` EXPLICITLY — Spark
    * rejects `dropDuplicatesWithinWatermark` for batch outright
    * (UnsupportedOperationChecker), and batch has all the data, so
    * whole-history dedup IS the within-watermark semantics there
    * (backfills reuse this one entry point). */
  def dedupWithinWatermark(events: DataFrame, tsCol: String,
                           allowedLateness: String,
                           keyCols: Seq[String]): DataFrame =
    if (events.isStreaming)
      events
        .withWatermark(tsCol, allowedLateness)
        .dropDuplicatesWithinWatermark(keyCols)
    else events.dropDuplicates(keyCols)

  /** Drain an arrival directory once (AvailableNow) through the same
    * bounded-state dedup, with `maxFilesPerTrigger = 1` — each file is
    * its own micro-batch, so cross-FILE duplicates genuinely cross
    * micro-batch state, not just one batch-local distinct. Keys on
    * `idCol`; event time from `tsNsCol` (ns longs). Blocking.
    *
    * State-size contract: `dropDuplicatesWithinWatermark` keeps each
    * key only until the watermark passes it, so the store is O(events
    * inside the watermark window). The flip side is explicit: a
    * duplicate arriving MORE than `watermarkDelay` after the original
    * MAY pass (its key already evicted) — size the delay to the
    * source's real redelivery horizon. Exactly-once: append-only, so
    * the parquet sink's commit log + the source offset log suffice
    * (the [[StreamEnrich]] argument); dedup state checkpoints with
    * the query, so a restart mid-drain resumes without re-emitting.
    * Returns the terminated query so callers can read
    * `lastProgress.stateOperators` and assert the state bound holds.
    *
    * `shufflePartitions` > 0 sets `spark.sql.shuffle.partitions` for
    * the drain alone, on a session derived from `spark` — the
    * [[StreamJoin]] lesson: the dedup materializes ONE state store per
    * shuffle partition, each snapshot/delta-committed per micro-batch,
    * so with per-file
    * micro-batches the floor is O(files × partitions) state-store
    * FILE I/O however small the data. A stateful query pins its
    * partition count in the checkpoint at first start; size it to the
    * drain's rate deliberately, don't inherit the batch default. */
  def dedupeAvailableNow(spark: SparkSession, srcGlob: String,
                         schema: StructType, idCol: String,
                         tsNsCol: String, targetPath: String,
                         checkpoint: String,
                         watermarkDelay: String = "1 hour",
                         shufflePartitions: Int = 0): StreamingQuery = {
    val q = graft.Sessions.derived(spark,
        graft.Sessions.shufflePartitions(shufflePartitions))
      .readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(srcGlob)
      // DIV, not /: true division goes through double and loses
      // sub-ms precision at epoch-ns magnitudes
      .withColumn("_ets", timestamp_micros(expr(s"$tsNsCol DIV 1000")))
      .withWatermark("_ets", watermarkDelay)
      .dropDuplicatesWithinWatermark(idCol)
      .drop("_ets")
      .writeStream
      .format("parquet")
      .option("path", targetPath)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    q
  }

  /** Read the deduplicated table back through the sink's commit log. */
  def readDeduped(spark: SparkSession, targetPath: String): DataFrame =
    spark.read.parquet(targetPath)
}
