package graft.pipeline

import graft.SparkSpec
import graft.operators.TableManifest
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** The 100 TB contract for the fact tables: date filters must reach the
  * scan as PartitionFilters over the date-partitioned layout — a query
  * for one day reads one partition, not the table (SURVEY §4: replaces
  * the reference's UNIQUE(date, region_id) index). */
class PartitionPruningSpec extends SparkSpec {
  import spark.implicits._

  test("P9 date filter prunes date partitions on the metrics table") {
    val base = Files.createTempDirectory("graft-prune").toString
    val metrics = Seq(
      ("2024-01-15", "CA", 80.0), ("2024-01-16", "CA", 81.0),
      ("2024-01-17", "CA", 82.0), ("2024-01-16", "TX", 70.0))
      .toDF("date_s", "region_id", "strain_index")
      .withColumn("date", to_date($"date_s")).drop("date_s")
    graft.sources.Tables.writeDatePartitioned(metrics, s"$base/metrics")

    val read = spark.read.parquet(s"$base/metrics")
    val q = read.filter($"date" === lit("2024-01-16").cast("date"))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan)
    // pruned scan must touch exactly the one date partition
    val scanned = q.queryExecution.executedPlan.collectLeaves().collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.selectedPartitions.partitionCount
    }
    assert(scanned.headOption.contains(1), s"partitions scanned: $scanned")
    assert(q.count() == 2)
  }

  test("incremental metrics derive prunes to the touched date partitions") {
    val base = Files.createTempDirectory("graft-incr").toString
    val capacity = Seq(
      ("2024-01-15", "CA", 100, 50), ("2024-01-16", "CA", 100, 60),
      ("2024-01-17", "CA", 100, 70))
      .toDF("date_s", "region_id", "total_beds", "occupied_beds")
      .withColumn("date", to_date($"date_s")).drop("date_s")
      .withColumn("icu_beds", lit(null).cast("int"))
      .withColumn("icu_occupied", lit(null).cast("int"))
    TableManifest.mergeWriteManifested(spark, s"$base/cap", capacity,
      Seq("date", "region_id"))

    // derive all three days, then "correct" one day and rederive just it
    MetricsJob.runIncremental(spark, s"$base/cap", s"$base/met", "r1",
      Seq(d("2024-01-15"), d("2024-01-16"), d("2024-01-17")))
    assert(spark.read.parquet(s"$base/met").count() == 3)
    val before = new java.io.File(s"$base/met/date=2024-01-17")
      .listFiles().toSet

    TableManifest.mergeWriteManifested(spark, s"$base/cap",
      capacity.filter($"date" === lit("2024-01-16").cast("date"))
        .withColumn("occupied_beds", lit(90)),
      Seq("date", "region_id"))
    MetricsJob.runIncremental(spark, s"$base/cap", s"$base/met", "r2",
      Seq(d("2024-01-16")))

    val after = new java.io.File(s"$base/met/date=2024-01-17")
      .listFiles().toSet
    assert(before == after, "untouched metrics partition must not be rewritten")
    // the metrics table is COW (manifested): the corrected partition
    // holds both generations on disk, so the read MUST plan from the
    // manifest — a plain read here is exactly the double-read bug the
    // format's contract forbids (and was a latent flaky assert until
    // r13: head() on a plain scan picked an arbitrary generation)
    val m = TableManifest.readOrPlain(spark, s"$base/met")
      .filter($"date" === lit("2024-01-16").cast("date")).head()
    assert(m.getAs[Double]("bed_occ_pct") == 0.9)
  }

  test("S7 merge keeps partition layout (rewrite touches only batch dates)") {
    val base = Files.createTempDirectory("graft-prune2").toString
    val init = Seq(("2024-01-15", "CA", 1), ("2024-01-16", "CA", 2))
      .toDF("date", "region_id", "v")
    TableManifest.mergeWriteManifested(spark, s"$base/t", init,
      Seq("date", "region_id"))
    val dirs = new java.io.File(s"$base/t").listFiles()
      .filter(_.isDirectory).map(_.getName)
      .filterNot(_.startsWith("_")).sorted
    assert(dirs.sameElements(Array("date=2024-01-15", "date=2024-01-16")))
  }
}
