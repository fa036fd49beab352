package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Stream–stream interval join: match two arriving event streams on a
  * key within an event-time bound — the sensor-fusion / click-attribution
  * primitive (impression stream × conversion stream within N minutes).
  *
  * This is the stateful join Structured Streaming was built for: each
  * side buffers rows in the state store ONLY until the other side's
  * watermark passes the join bound, so state is O(rate × bound), not
  * O(stream) — the property that survives 100 TB/day. An inner join
  * emits eagerly as matches arrive (no watermark wait on the output
  * path); the watermarks exist to EVICT state, and Spark derives the
  * eviction threshold from the time-bound join condition.
  *
  * Exactly-once: stateless sinks suffice — the parquet file sink's
  * `_spark_metadata` commit log plus the file source's offset log make
  * a restarted drain re-emit nothing (the [[StreamEnrich]] argument;
  * the join state itself checkpoints with the query).
  */
object StreamJoin {

  /** Drain both arrival directories once (AvailableNow), inner-joining
    * a.`key` = b.`key` with |a.ts − b.ts| ≤ `boundMs` (event time from
    * `tsNsCol`, nanosecond longs). Output columns: key, a_id, b_id,
    * a_ms, b_ms. Blocking; returns the terminated query so callers
    * (specs, ops dashboards) can read `lastProgress.stateOperators`
    * and assert the buffered-state bound actually holds.
    * `maxFilesPerTrigger` > 0 splits the drain into one-file
    * micro-batches — the watermark then advances BETWEEN files, which
    * is what exercises (and lets a test observe) state eviction.
    *
    * `shufflePartitions` > 0 sets `spark.sql.shuffle.partitions` for
    * the drain alone, on a session derived from `spark`: a
    * stream-stream join materializes FOUR state stores (left/right ×
    * keyToNumValues/keyWithIndex) per shuffle partition, each
    * snapshot/delta-committed per micro-batch,
    * so the per-batch floor is O(shufflePartitions) FILE I/O however
    * small the data. Size it to the drain's actual rate — a stateful
    * query pins its partition count in the checkpoint at first start,
    * which is also why this must be chosen deliberately, not inherited
    * from whatever batch default the session carries. */
  def intervalJoinAvailableNow(spark: SparkSession,
                               aGlob: String, bGlob: String,
                               schema: StructType, key: String,
                               idCol: String, tsNsCol: String,
                               boundMs: Long, targetPath: String,
                               checkpoint: String,
                               watermarkDelay: String = "1 hour",
                               maxFilesPerTrigger: Int = 0,
                               shufflePartitions: Int = 0): StreamingQuery = {
    val ds = graft.Sessions.derived(spark,
      graft.Sessions.shufflePartitions(shufflePartitions))
    def side(glob: String, tag: String): DataFrame = {
      val rd = ds.readStream.schema(schema)
      if (maxFilesPerTrigger > 0)
        rd.option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
      rd.parquet(glob)
        .select(col(key).as(s"${tag}_key"),
          col(idCol).as(s"${tag}_id"),
          // DIV, not /: true division goes through double and loses
          // precision at epoch-ns magnitudes. Truncate to MILLIS so
          // the µs-resolution join comparison below is exactly the
          // ms arithmetic a batch engine computes on epoch-ms columns
          // (a sub-ms residue would flip pairs right at the bound).
          timestamp_millis(expr(s"$tsNsCol DIV 1000000"))
            .as(s"${tag}_ts"))
        .withWatermark(s"${tag}_ts", watermarkDelay)
    }
    val a = side(aGlob, "a")
    val b = side(bGlob, "b")
    val joined = a.join(b,
      col("a_key") === col("b_key") &&
        col("b_ts") >= col("a_ts") - expr(s"INTERVAL $boundMs MILLISECONDS") &&
        col("b_ts") <= col("a_ts") + expr(s"INTERVAL $boundMs MILLISECONDS"))
      .select(col("a_key").as(key), col("a_id"), col("b_id"),
        unix_millis(col("a_ts")).as("a_ms"),
        unix_millis(col("b_ts")).as("b_ms"))
    val q = joined.writeStream
      .format("parquet")
      .option("path", targetPath)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    q
  }

  /** Read the joined table back through the sink's commit log. */
  def readJoined(spark: SparkSession, targetPath: String): DataFrame =
    spark.read.parquet(targetPath)
}
