package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** SURVEY.md §7.2 minimum end-to-end slice: fixture CSV → ingest →
  * metrics → /metrics/compare, with deltas matching hand-computed values
  * from the reference's sample data
  * (reference: backend/data/raw/hospital_capacity_raw.csv:2-5, remapped to
  * the HHS contract headers of ingest_capacity.py:106-113).
  */
class EndToEndSpec extends SparkSpec {
  import spark.implicits._

  private lazy val base = Files.createTempDirectory("graft-e2e").toString
  private lazy val csvPath = {
    val p = s"$base/input.csv"
    val content =
      """date,state,inpatient_beds,inpatient_beds_used,total_staffed_adult_icu_beds,staffed_adult_icu_bed_occupancy
        |2024-01-15,California,50000,42000,5000,4800
        |2024-01-15,Texas,45000,38000,4500,4200
        |2024-01-16,California,50000,43000,5000,4900
        |2024-01-16,Texas,45000,39000,4500,4300
        |2024-01-17,New York,40000,50000,4000,3800
        |""".stripMargin
    Files.writeString(java.nio.file.Paths.get(p), content)
    p
  }

  test("multi-file ingest: last row in FILE order wins, independent of split sizing") {
    val dir = Files.createTempDirectory("graft-order").toString
    Files.createDirectory(java.nio.file.Paths.get(s"$dir/in"))
    val header = "date,state,inpatient_beds,inpatient_beds_used," +
      "total_staffed_adult_icu_beds,staffed_adult_icu_bed_occupancy"
    def row(beds: Int) = s"2024-01-15,California,$beds,100,10,5"
    // three files with the SAME key; the last file is padded with many
    // conflicting rows so it spans several splits under a tiny
    // maxPartitionBytes — the winner must be its LAST row regardless
    Files.writeString(java.nio.file.Paths.get(s"$dir/in/a.csv"),
      (header +: Seq(row(101), row(102))).mkString("\n") + "\n")
    Files.writeString(java.nio.file.Paths.get(s"$dir/in/b.csv"),
      (header +: Seq(row(201))).mkString("\n") + "\n")
    Files.writeString(java.nio.file.Paths.get(s"$dir/in/c.csv"),
      (header +: ((1 to 400).map(i => row(300 + i % 7)) :+ row(999)))
        .mkString("\n") + "\n")
    val prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "2048")
    try {
      IngestJob.run(spark, s"$dir/in",
        capacityPath = s"$dir/capacity", regionsPath = s"$dir/regions",
        rejectsPath = s"$dir/rejects", runsPath = s"$dir/runs",
        runId = "run-o", source = "order", now = ts("2024-01-18 00:00:00"))
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
    val got = spark.read.parquet(s"$dir/capacity")
      .select("total_beds").as[Int].collect().toSeq
    assert(got == Seq(999),
      s"expected the last row of the last file (999) to win, got $got")
  }

  test("an all-rejected first ingest creates no table; the next ingest " +
    "creates it") {
    val dir = Files.createTempDirectory("graft-rejected-first").toString
    val header = "date,state,inpatient_beds,inpatient_beds_used," +
      "total_staffed_adult_icu_beds,staffed_adult_icu_bed_occupancy"
    def ingest(row: String, runId: String) = {
      val csv = s"$dir/$runId.csv"
      Files.writeString(java.nio.file.Paths.get(csv), s"$header\n$row\n")
      IngestJob.run(spark, csv,
        capacityPath = s"$dir/capacity", regionsPath = s"$dir/regions",
        rejectsPath = s"$dir/rejects", runsPath = s"$dir/runs",
        runId = runId, source = "fixture", now = ts("2024-01-18 00:00:00"))
    }
    // occupied 50000 > total 40000: the only row is rejected
    val first = ingest("2024-01-17,New York,40000,50000,4000,3800", "run-r")
    assert(first.rowsLoaded == 0 && first.rowsRejected == 1)
    val second = ingest("2024-01-15,California,50000,42000,5000,4800",
      "run-v")
    assert(second.rowsLoaded == 1)
    val got = graft.operators.TableManifest
      .readOrPlain(spark, s"$dir/capacity")
      .select($"date".cast("string"), $"total_beds", $"occupied_beds",
        $"icu_beds", $"icu_occupied", $"source_run_id")
      .as[(String, Int, Int, Int, Int, String)].collect().toSeq
    assert(got == Seq(("2024-01-15", 50000, 42000, 5000, 4800, "run-v")))
    val loaded = Lineage.read(spark, s"$dir/runs")
      .filter($"status" === "success")
      .select($"run_id", $"rows_loaded").as[(String, Long)].collect().toMap
    assert(loaded == Map("run-r" -> 0L, "run-v" -> 1L))
  }

  test("ingest → metrics → compare reproduces hand-computed strain deltas") {
    val res = IngestJob.run(spark, csvPath,
      capacityPath = s"$base/capacity", regionsPath = s"$base/regions",
      rejectsPath = s"$base/rejects", runsPath = s"$base/runs",
      runId = "run-1", source = "fixture", now = ts("2024-01-18 00:00:00"))
    assert(res.rowsIn == 5 && res.rowsLoaded == 4 && res.rowsRejected == 1)

    // NY row rejected: occupied 50000 > total 40000
    val rejects = spark.read.option("header", "true")
      .csv(s"$base/rejects/capacity_rejects_run-1")
    assert(rejects.count() == 1)
    assert(rejects.select("_reject_reason").as[String].head() ==
      "occupied_beds cannot exceed total_beds")

    MetricsJob.run(spark, s"$base/capacity", s"$base/metrics",
      s"$base/runs", "run-2", ts("2024-01-18 00:01:00"))

    val metrics = spark.read.parquet(s"$base/metrics")
    val regions = spark.read.parquet(s"$base/regions")
    val compared = QueryLayer.metricsCompare(metrics, regions,
      lit("2024-01-16").cast("date"))
      .select($"region", $"strain_index", $"delta").collect()

    val byRegion = compared.map(r =>
      r.getString(0) -> (r.getDouble(1), if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    // CA: 91.2 → 93.2, delta 2.0 ; TX: 89.78 → 92.0, delta 2.22
    assert(byRegion("California")._1 == 93.2)
    assert(math.abs(byRegion("California")._2.get - 2.0) < 1e-9)
    assert(byRegion("Texas")._1 == 92.0)
    assert(math.abs(byRegion("Texas")._2.get - 2.22) < 1e-9)

    // KPIs in one pass (A6/A7/A8)
    val kpis = QueryLayer.dashboardKpis(
      QueryLayer.metricsCompare(metrics, regions, lit("2024-01-16").cast("date")))
      .head()
    assert(math.abs(kpis.getDouble(0) - 92.6) < 1e-9) // mean(93.2, 92.0)
    assert(kpis.getLong(1) == 2)                      // both > 80
    assert(kpis.getString(2) == "California")

    // lineage: 2 rows per run (running + terminal), latest status success
    val runs = QueryLayer.recentRuns(Lineage.read(spark, s"$base/runs"))
    assert(runs.filter($"run_id" === "run-1")
      .select("status").as[String].head() == "success")

    // the parity pipeline now MAINTAINS the file manifest: both
    // production tables carry one, and the manifest-planned endpoint
    // twins (zero directory listing per request) serve the same rows
    import graft.operators.TableManifest
    assert(TableManifest.load(spark, s"$base/capacity").isDefined &&
      TableManifest.load(spark, s"$base/metrics").isDefined,
      "ingest + metrics must maintain _manifest on their tables")
    val target = java.sql.Date.valueOf("2024-01-16")
    val viaManifest = QueryLayer.metricsCompareAt(spark,
      s"$base/metrics", regions, target)
      .select($"region", $"strain_index", $"delta").collect()
      .map(_.toSeq).toSet
    assert(viaManifest == compared.map(_.toSeq).toSet,
      "manifest-planned compare must equal the plain-scan compare")
    assert(QueryLayer.capacityLatestAt(spark, s"$base/capacity",
      regions, target).count() == 2)

    // re-ingest is idempotent (S7): same counts, same fact rows
    // (last, because the dim swap invalidates earlier DataFrames' listings)
    IngestJob.run(spark, csvPath,
      s"$base/capacity", s"$base/regions", s"$base/rejects", s"$base/runs",
      "run-3", "fixture", ts("2024-01-19 00:00:00"))
    // idempotent redelivery also left the manifest consistent: row
    // counts per partition unchanged
    assert(TableManifest.readViaManifest(spark, s"$base/capacity")
      .count() == 4)
    // run-3's copy-on-write rewrite left run-1's files on disk for
    // retained-version readers; vacuum to the live version and the
    // dir is exactly the table again
    val vac = TableManifest.vacuum(spark, s"$base/capacity",
      keepVersions = 1)
    assert(vac.filesDeleted >= 1, s"superseded ingest files: $vac")
    assert(spark.read.parquet(s"$base/capacity").count() == 4)
  }
}
