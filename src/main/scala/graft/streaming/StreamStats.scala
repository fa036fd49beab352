package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType
import graft.functions.TextFunctions
import graft.operators.MergeUpsert

/** Streaming maintenance of ADDITIVE corpus statistics (vocabulary
  * counts here; the pattern fits any keyed counter store).
  *
  * The subtlety is exactly-once: a last-writer-wins merge absorbs
  * redelivery for free, an ADDITIVE merge double-counts it — and the
  * file source's at-least-once contract redelivers whenever a crash
  * lands between the sink write and the offset commit. The standard
  * foreachBatch answer (store the batchId transactionally WITH the
  * data) maps onto the versioned store directly: the applied-batch
  * watermark rides as a reserved ledger row INSIDE the same atomic
  * version publish, so watermark and counts can never disagree. A
  * redelivered batch sees its own id in the ledger and skips.
  */
object StreamStats {

  /** Reserved ledger key — not a real term (whitespace tokenization can
    * never produce a term containing spaces, so the sentinel cannot
    * collide with corpus vocabulary). */
  val LedgerKey = "__graft last batch__"

  /** The last applied batch id, if the store has a published version
    * (its ledger row; ignoring it would double-apply a redelivered
    * batch). */
  def lastApplied(spark: SparkSession, storePath: String): Option[Long] =
    MergeUpsert.existingPlain(spark, storePath).flatMap(appliedIn)

  private def appliedIn(store: DataFrame): Option[Long] =
    store.filter(col("term") === LedgerKey)
      .select("freq").collect().headOption.map(_.getLong(0))

  /** The maintained vocabulary (ledger row excluded). */
  def readVocab(spark: SparkSession, storePath: String): DataFrame =
    MergeUpsert.readPlain(spark, storePath)
      .filter(col("term") =!= LedgerKey)

  /** Apply ONE batch exactly-once: no-op if `batchId` is already in the
    * ledger, else additively merge the batch's lowercased token counts
    * and publish counts + new ledger row in one atomic version flip,
    * pinned to the version whose ledger and counts it read. */
  def applyBatch(spark: SparkSession, storePath: String, batch: DataFrame,
                 textCol: String, batchId: Long,
                 retainVersions: Int = 2): Unit = {
    val live = MergeUpsert.livePlain(spark, storePath)
    if (live.flatMap(l => appliedIn(l._2)).exists(_ >= batchId)) return
    val counts = batch
      .select(explode(TextFunctions.tokens(lower(col(textCol)))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("freq"))
    // the live version is the merge base; the first batch publishes
    // alone
    val merged = live match {
      case None => counts
      case Some((_, existing)) => MergeUpsert.mergeAdditive(
        existing.filter(col("term") =!= LedgerKey), counts,
        Seq("term"), Seq("freq"))
    }
    val ledger = spark.range(1)
      .select(lit(LedgerKey).as("term"), lit(batchId).as("freq"))
    MergeUpsert.publishPlainFrom(spark, storePath,
      merged.unionByName(ledger), retainVersions, live.map(_._1))
  }

  /** Continuous vocabulary maintenance over a document-file stream. */
  def maintainVocab(spark: SparkSession, srcGlob: String,
                    schema: StructType, storePath: String, textCol: String,
                    checkpoint: String, interval: String = "1 second",
                    retainVersions: Int = 2)
      : org.apache.spark.sql.streaming.StreamingQuery =
    spark.readStream.schema(schema).parquet(srcGlob)
      .writeStream
      .trigger(Trigger.ProcessingTime(interval))
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch.sparkSession, storePath, batch, textCol, batchId,
          retainVersions)
      }
      .start()
}
