package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType
import graft.operators.MergeUpsert

/** S3 — event-triggered ingestion as Structured Streaming (SURVEY.md §2.9).
  *
  * The reference's "streaming" is S3 Put → Lambda → whole-file ETL
  * (reference: aws/lambda_handler.py:7-52, ingest_capacity_s3.py:22-45):
  * no windows, no watermarks — just at-least-once file arrival made safe
  * by the idempotent keyed upsert. The Spark-native equivalent is a file
  * source + `Trigger.AvailableNow` + `foreachBatch(merge)`:
  *   - checkpointed file tracking upgrades at-least-once to exactly-once
  *     per file;
  *   - the MERGE inside foreachBatch is the late/duplicate-data policy,
  *     byte-identical to the batch path (same MergeUpsert);
  *   - at scale the same code runs continuously (ProcessingTime trigger)
  *     over an arrival directory.
  */
object StreamIngest {

  /** Drain all currently-available files from `srcGlob` into the keyed
    * parquet table at `targetPath` (last-writer-wins on `keys`).
    * Blocking; returns when the AvailableNow drain finishes. */
  def ingestAvailableNow(spark: SparkSession, srcGlob: String,
                         schema: StructType, targetPath: String,
                         keys: Seq[String], checkpoint: String): Unit = {
    val q = start(spark, srcGlob, schema, targetPath, keys, checkpoint,
      Trigger.AvailableNow())
    q.awaitTermination()
  }

  /** [[ingestAvailableNow]] into a DATE-PARTITIONED, MANIFEST-backed
    * table: each micro-batch merges through
    * [[graft.operators.TableManifest.mergeWriteManifested]], so the
    * checkpointed stream gets the same O(touched) manifest maintenance
    * as the batch path — the existing-rows read of every micro-batch
    * merge plans from file zones (no root listing at streaming
    * cadence), and each publish refreshes only the touched partitions'
    * manifest rows. Redelivery stays idempotent: the merge is
    * last-writer-wins on `keys`, and a re-merged batch rewrites the
    * same partitions and re-derives the same manifest rows.
    *
    * `vacuumEvery`: run [[graft.operators.TableManifest.vacuum]] after
    * every N data micro-batches (0 = never). Copy-on-write merges
    * append a new generation of every touched partition per batch, so
    * at streaming cadence an unvacuumed table's storage grows with
    * every merge; the in-stream vacuum (single-writer — it runs inside
    * the same foreachBatch serial loop as the merges) reclaims
    * generations no retained manifest version references, bounding
    * growth to `keepVersions` generations of the touched partitions.
    * Size `keepVersions` to the reader window exactly as
    * [[ingestContinuous]]'s retainVersions contract describes. */
  /** `afterBatch(batchId)` runs after a batch's merge (and its cadence
    * vacuum) but BEFORE the checkpoint commit — the telemetry seam, and
    * the fault-injection point for the crash-ordering contract: a crash
    * here leaves the manifest FLIPPED but the batch UNCOMMITTED, so the
    * restart re-delivers and re-merges it. That replay converges
    * byte-identically because the merge is last-writer-wins keyed and
    * the manifest rows are a deterministic function of the re-written
    * partitions (StreamIngestSpec's restart-mid-publish case proves
    * it). */
  def ingestAvailableNowManifested(spark: SparkSession, srcGlob: String,
                                   schema: StructType, targetPath: String,
                                   keys: Seq[String], checkpoint: String,
                                   partitionCol: String = "date",
                                   zoneKey: Option[String] = None,
                                   maxFilesPerTrigger: Option[Int] = None,
                                   transform: DataFrame => DataFrame =
                                     identity,
                                   vacuumEvery: Int = 0,
                                   keepVersions: Int = 2,
                                   afterBatch: Long => Unit = _ => (),
                                   shufflePartitions: Int = 0)
      : Unit = {
    // maxFilesPerTrigger(1) makes each FILE one merge — arrival order
    // (mod time) = merge order, so redelivered files replay with the
    // same last-writer-wins outcome; the default lets a drain batch
    // many files per merge (faster, order within a batch keyed-deduped)
    val src0 = spark.readStream.schema(schema)
    val src = maxFilesPerTrigger
      .fold(src0)(n => src0.option("maxFilesPerTrigger", n.toString))
    val q = src.parquet(srcGlob)
      .writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // micro-batch-scoped shuffle sizing (the StreamCuration
        // pattern), OPT-IN via shufflePartitions > 0: callers whose
        // micro-batches are small (single-file trickle) cut the
        // merge's ~5 shuffles per publish down from a corpus-sized
        // session partition count. Default inherits the session conf —
        // measured: corpus-sized redelivery batches (x243's shape)
        // REGRESS under a small fixed count, so this must stay a
        // caller decision. The merge runs on a session derived from
        // the micro-batch's OWN session clone, where the batch plans
        // execute.
        val bs = graft.Sessions.derived(batch.sparkSession,
          graft.Sessions.shufflePartitions(shufflePartitions))
        // `transform` maps the PRODUCER's arrival layout to the table
        // layout (parse ts → partition date, round, project) before
        // the keyed merge — per micro-batch, so a redelivered file
        // re-maps to identical rows
        // retainVersions must COVER the vacuum window: each publish
        // GCs the manifest store to its retainVersions, so merging
        // with the default (2) while keepVersions > 2 would silently
        // shrink the retained-version set every batch — vacuum could
        // then never see (or honor) the window the caller asked for
        graft.operators.TableManifest.mergeWriteManifested(
          bs, targetPath, transform(bridge.onSession(batch, bs)), keys,
          partitionCol, zoneKey,
          retainVersions = math.max(2, keepVersions))
        // a vacuum that races a crash is safe: it deletes only files
        // no retained manifest version references, which no restart
        // can resurrect (the checkpointed source never re-delivers a
        // committed batch, and an uncommitted batch re-merges fresh)
        if (vacuumEvery > 0 && (batchId + 1) % vacuumEvery == 0) {
          graft.operators.TableManifest.vacuum(bs, targetPath, keepVersions)
          ()
        }
        afterBatch(batchId)
      }
      .start()
    q.awaitTermination()
  }

  /** Continuous ingestion: poll `srcGlob` on a ProcessingTime cadence,
    * merging each micro-batch of newly-arrived files. NON-blocking —
    * returns the running query; callers own stop/await. Restarting with
    * the same `checkpoint` resumes exactly where the previous run
    * committed: files merged before a crash are never re-merged (the
    * file-source offset log), and a batch that died mid-merge re-runs
    * against the still-live previous table version (mergeWritePlain's
    * pointer flip is the commit point), so redelivery is idempotent.
    * This is the at-scale deployment shape; AvailableNow above is the
    * same pipeline as a finite drain.
    *
    * `retainVersions` sizes the reader window: superseded table versions
    * survive `retainVersions - 1` merge cycles before GC, so a reader
    * taking R seconds against an `interval` of C seconds needs
    * retainVersions > R/C + 1 (default 2 = one cycle). */
  /** `compactEvery`: run [[MergeUpsert.compactPlain]] on the target
    * after every N data micro-batches (0 = never). At streaming cadence
    * each merge publishes a version laid out by the merge plan's
    * parallelism, so an unmaintained store decays toward
    * shuffle-partition-many tiny files per version; a periodic
    * compaction republish (same atomic pointer-flip protocol, same
    * reader window) bounds reader cost without pausing ingestion. */
  def ingestContinuous(spark: SparkSession, srcGlob: String,
                       schema: StructType, targetPath: String,
                       keys: Seq[String], checkpoint: String,
                       interval: String = "1 second",
                       retainVersions: Int = 2,
                       compactEvery: Int = 0,
                       compactTargetBytes: Long = 128L << 20)
      : org.apache.spark.sql.streaming.StreamingQuery =
    start(spark, srcGlob, schema, targetPath, keys, checkpoint,
      Trigger.ProcessingTime(interval), retainVersions, compactEvery,
      compactTargetBytes)

  private def start(spark: SparkSession, srcGlob: String,
                    schema: StructType, targetPath: String,
                    keys: Seq[String], checkpoint: String,
                    trigger: Trigger, retainVersions: Int = 2,
                    compactEvery: Int = 0,
                    compactTargetBytes: Long = 128L << 20)
      : org.apache.spark.sql.streaming.StreamingQuery =
    spark.readStream.schema(schema).parquet(srcGlob)
      .writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        MergeUpsert.mergeWritePlain(batch.sparkSession, targetPath, batch,
          keys, retainVersions)
        // maintenance cadence counts DATA batches (empty micro-batches
        // don't reach foreachBatch); a compaction that races a crash is
        // safe — it's a publish like any other
        if (compactEvery > 0 && (batchId + 1) % compactEvery == 0) {
          MergeUpsert.compactPlain(batch.sparkSession, targetPath,
            compactTargetBytes, retainVersions)
          ()
        }
      }
      .start()
}
