package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{MergeUpsert, Scd2}

/** Exactly-once incremental maintenance of an SCD2 history store — the
  * streaming complement of [[graft.operators.Scd2]]: dimension
  * snapshots arrive in chronological batches and the store always
  * equals what the batch operator would compute over everything seen.
  *
  * The algebraic trick that makes the increment cheap: an SCD2 history
  * IS the compacted state. `Scd2.history` over a history's own run
  * starts is idempotent, and for time-ordered input
  * `history(runstarts(A) ∪ runstarts(B)) = history(A ∪ B)` — so each
  * batch first compresses ITSELF to run starts, unions the (already
  * compact) stored run starts, and re-derives intervals. Cost per
  * batch is O(|store| + |batch|), never O(all snapshots ever seen).
  *
  * Exactly-once without a sentinel ledger row (the key column is
  * caller-typed, so [[StreamStats]]'s reserved-key trick doesn't
  * port): every published row carries `_batch_id` — the surviving
  * rows keep the id of the batch that CREATED their interval (row
  * provenance for audits), and `max(_batch_id)` is the applied-batch
  * watermark. It rides inside the same atomic version publish as the
  * data, so watermark and history can never disagree; a redelivered
  * batch sees itself applied and skips.
  *
  * Ordering contract: batches apply in batchId order with
  * non-decreasing snapshot times (the foreachBatch contract). Late
  * out-of-order snapshots need the batch operator over the raw
  * stream — by design, like every incremental operator here. */
object StreamScd2 {

  val BatchCol = "_batch_id"

  def lastApplied(spark: SparkSession, storePath: String): Option[Long] =
    MergeUpsert.existingPlain(spark, storePath).flatMap(appliedIn)

  private def appliedIn(hist: DataFrame): Option[Long] =
    hist.agg(max(col(BatchCol))).collect().headOption
      .filterNot(_.isNullAt(0)).map(_.getLong(0))

  /** The maintained history (provenance column included). */
  def readHistory(spark: SparkSession, storePath: String): DataFrame =
    MergeUpsert.readPlain(spark, storePath)

  /** Apply ONE snapshot batch exactly-once: no-op when `batchId` is
    * already applied, else merge run starts and republish intervals +
    * watermark in one atomic version flip, pinned to the version it
    * read. */
  def applyBatch(spark: SparkSession, storePath: String, batch: DataFrame,
                 keyCol: String, batchCol: String, attrCols: Seq[String],
                 batchId: Long, retainVersions: Int = 2): Unit = {
    val live = MergeUpsert.livePlain(spark, storePath)
    val stored = live.map(_._2)
    if (stored.flatMap(appliedIn).exists(_ >= batchId)) return
    val incoming = Scd2.history(batch, keyCol, batchCol, attrCols)
      .select((keyCol +: attrCols).map(col) :+ col("valid_from"): _*)
    val starts = stored match {
      case None => incoming
      case Some(hist) => hist
        .select((keyCol +: attrCols).map(col) :+ col("valid_from"): _*)
        // a batch re-observing a key at an already-stored snapshot
        // time would give Scd2.history two rows at one (key,
        // valid_from) — the incoming row is the newer truth and wins
        // deterministically
        .join(incoming.select(col(keyCol), col("valid_from")),
          Seq(keyCol, "valid_from"), "left_anti")
        .unionByName(incoming)
    }
    // run starts are snapshots keyed by their own valid_from; re-derive
    // intervals (adjacent equal-attr runs re-merge across the batch
    // boundary, valid_to/is_current recompute)
    val merged = Scd2.history(starts, keyCol, "valid_from", attrCols)
    // provenance: intervals that already existed WITH THE SAME CONTENTS
    // keep their creating batch id; genuinely new intervals — including
    // a re-observed (key, valid_from) whose attributes changed, where
    // the incoming row won above — get this one. Keying on
    // (key, valid_from) alone would let a replaced interval keep the
    // superseded batch's id, misattributing the correction; attrs
    // compare null-safely (<=>) so a null attribute still matches.
    val old = stored.map(
      _.select((keyCol +: attrCols).map(c => col(c).as(s"_old_$c"))
        :+ col("valid_from").as("_old_valid_from") :+ col(BatchCol): _*))
    val tagged = old match {
      case None => merged.withColumn(BatchCol, lit(batchId))
      case Some(o) =>
        val cond = (merged(keyCol) === o(s"_old_$keyCol")) &&
          (merged("valid_from") === o("_old_valid_from")) &&
          attrCols.map(a => merged(a) <=> o(s"_old_$a"))
            .foldLeft(lit(true))(_ && _)
        merged.join(o, cond, "left")
          .withColumn(BatchCol, coalesce(col(BatchCol), lit(batchId)))
          .select(merged.columns.map(merged(_)) :+ col(BatchCol): _*)
    }
    MergeUpsert.publishPlainFrom(spark, storePath, tagged, retainVersions,
      live.map(_._1))
  }
}
