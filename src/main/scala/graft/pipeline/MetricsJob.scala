package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.CapacityFunctions._
import graft.operators.TableManifest
import graft.sources.Tables

/** The derive pipeline S4→P5/P7/P8→S7 (reference: compute_metrics.py).
  *
  * The reference loads the ENTIRE fact table into driver memory
  * (`db.query(...).all()`, compute_metrics.py:46) and loops rows in
  * Python — its one real scalability cliff. Here the same computation is
  * three column expressions over a distributed scan; nothing ever touches
  * the driver (SURVEY.md §3.2).
  */
object MetricsJob {

  /** Pure transform: capacity facts → metrics rows (ETL semantics:
    * bed_occ 0.0 on zero beds, ICU truthiness guard, strain clamp). */
  def derive(capacity: DataFrame, runId: String): DataFrame = {
    val bed = bedOccPctEtl(col("occupied_beds"), col("total_beds"))
    val icu = icuOccPct(col("icu_occupied"), col("icu_beds"))
    capacity.select(
      col("date"), col("region_id"),
      bed.as("bed_occ_pct"),
      icu.as("icu_occ_pct"),
      strainIndex(bed, icu).as("strain_index"),
      lit(runId).as("source_run_id"))
  }

  /** Incremental derive: recompute metrics ONLY for the given dates —
    * the partition-pruned path an ingest triggers (its touched dates are
    * known). Reading 100 TB of history to rederive one day is the
    * reference's full-recompute anti-pattern; this scans just the
    * affected date partitions and merges just those rows. */
  def runIncremental(spark: SparkSession, capacityPath: String,
                     metricsPath: String, runId: String,
                     dates: Seq[java.sql.Date]): Unit = {
    // manifest-planned partition read: only the touched dates' FILES
    // are addressed, with zero root listing (IngestJob maintains the
    // capacity manifest)
    val capacity = TableManifest.readPartitions(spark, capacityPath,
      dates)
    TableManifest.mergeWriteManifested(spark, metricsPath,
      derive(capacity, runId), keys = Seq("date", "region_id"),
      zoneKey = Some("region_id"))
  }

  /** Full job with lineage: read capacity, derive, merge into
    * `metricsPath` on (date, region_id). */
  def run(spark: SparkSession, capacityPath: String, metricsPath: String,
          runsPath: String, runId: String, now: java.sql.Timestamp): Long = {
    Lineage.append(spark, runsPath,
      Lineage.RunState(runId, "compute_metrics", "running", now))
    try {
      // manifest-currency contract (TableManifest.readOrPlain): rows
      // appended to capacity out-of-band and never registered
      // (replacePartitions/update) are silently EXCLUDED from the
      // derivation, not an error — register arrivals before deriving
      val capacity = TableManifest.readOrPlain(spark, capacityPath)
      val metrics = derive(capacity, runId)
      TableManifest.mergeWriteManifested(spark, metricsPath, metrics,
        keys = Seq("date", "region_id"), zoneKey = Some("region_id"))
      val n = TableManifest.readOrPlain(spark, metricsPath).count()
      Lineage.append(spark, runsPath, Lineage.RunState(runId,
        "compute_metrics", "success", now, Some(now), Some(n), Some(n), Some(0L)))
      n
    } catch {
      case e: Throwable =>
        Lineage.append(spark, runsPath, Lineage.RunState(runId,
          "compute_metrics", "failed", now, Some(now), notes = Some(e.getMessage)))
        throw e
    }
  }
}
