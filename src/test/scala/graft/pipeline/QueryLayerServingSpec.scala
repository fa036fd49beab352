package graft.pipeline

import graft.SparkSpec
import graft.operators.{AsOfDelta, TableManifest}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** The served page load: `metricsCompareAt` collected, then
  * `dashboardKpis` over the response, on the caller's serving session.
  * Its rows equal the plain-scan and strict-lag self-join forms on every
  * edge of the day-over-day delta, a warm page load runs at most two
  * Spark jobs, and the caller's conf is left as it was. */
class QueryLayerServingSpec extends SparkSpec {
  import spark.implicits._

  private lazy val regions = Seq(("r-a", "Alaska"), ("r-b", "Boston"),
    ("r-c", "Chicago"), ("r-d", "Denver"), ("r-e", "Erie"))
    .toDF("region_id", "name")

  /** Keyed on (date, region_id), as `MetricsJob` publishes it. On the
    * 16th: r-a and r-e have both days, r-b has no prior-day row, r-c
    * only the prior day, r-d a NULL strain, r-x no dim row. The 20th
    * has no rows (the 19th has one). */
  private lazy val path = {
    val p = java.nio.file.Files.createTempDirectory("graft-serving")
      .toString + "/metrics"
    val rows = Seq(
      ("2024-01-15", "r-a", Some(85.5)), ("2024-01-16", "r-a", Some(90.0)),
      ("2024-01-16", "r-b", Some(70.25)),
      ("2024-01-15", "r-c", Some(60.0)),
      ("2024-01-15", "r-d", Some(50.0)), ("2024-01-16", "r-d", None),
      ("2024-01-15", "r-e", Some(40.0)), ("2024-01-16", "r-e", Some(35.5)),
      ("2024-01-15", "r-x", Some(99.0)), ("2024-01-16", "r-x", Some(98.0)),
      ("2024-01-19", "r-a", Some(81.0)))
    TableManifest.mergeWriteManifested(spark, p,
      rows.toDF("date_s", "region_id", "strain_index")
        .select(to_date($"date_s").as("date"), $"region_id",
          $"strain_index"),
      keys = Seq("date", "region_id"))
    p
  }

  /** The strict-lag self-join the one-pass compare replaced. */
  private def selfJoin(metrics: DataFrame, target: java.sql.Date) = {
    val t = lit(target)
    AsOfDelta.strictLag(
        metrics.filter($"date" === t || $"date" === date_sub(t, 1)),
        partitionCols = Seq("region_id"), dateCol = "date",
        valueCols = Seq("strain_index"))
      .filter($"date" === t)
      .join(regions.select("region_id", "name"), "region_id")
      .select($"date", $"name".as("region"), $"strain_index",
        $"prev_strain_index".as("prev_strain"),
        $"delta_strain_index".as("delta"))
  }

  private def sorted(rows: Array[Row]): Seq[String] =
    rows.map(_.toString).sorted.toSeq

  /** One page load as the dashboard client makes it. */
  private def pageLoad(day: java.sql.Date): (Array[Row], Row) = {
    val compared = QueryLayer.metricsCompareAt(spark, path, regions, day)
    val rows = compared.collect()
    val kpis = QueryLayer.dashboardKpis(
      spark.createDataFrame(rows.toSeq.asJava, compared.schema)).head()
    (rows, kpis)
  }

  test("served compare and KPI row equal the plain and self-join forms " +
    "on every delta edge") {
    val metrics = TableManifest.readOrPlain(spark, path)
    val (served, kpis) = pageLoad(d("2024-01-16"))
    val plain = QueryLayer.metricsCompare(metrics, regions,
      lit(d("2024-01-16")))
    assert(sorted(served) == sorted(plain.collect()))
    assert(sorted(served) ==
      sorted(selfJoin(metrics, d("2024-01-16")).collect()))
    val byRegion = served.map(r => r.getAs[String]("region") -> r).toMap
    assert(byRegion.keySet == Set("Alaska", "Boston", "Denver", "Erie"),
      "prior-day-only and dim-less regions are absent")
    assert(byRegion("Alaska").getAs[Double]("delta") == 4.5)
    assert(byRegion("Boston").isNullAt(byRegion("Boston").fieldIndex("prev_strain")))
    assert(byRegion("Boston").isNullAt(byRegion("Boston").fieldIndex("delta")))
    assert(byRegion("Denver").isNullAt(byRegion("Denver").fieldIndex("strain_index")))
    assert(byRegion("Denver").getAs[Double]("prev_strain") == 50.0)
    assert(byRegion("Denver").isNullAt(byRegion("Denver").fieldIndex("delta")))
    assert(served.map(_.getAs[Any]("region")).toSeq ==
      Seq("Alaska", "Boston", "Erie", "Denver"),
      "sorted by strain descending, NULLs last")
    assert(kpis == QueryLayer.dashboardKpis(plain).head())
    assert(kpis == Row(65.25, 1L, "Alaska", 90.0))

    val (empty, noKpis) = pageLoad(d("2024-01-20"))
    assert(empty.isEmpty && QueryLayer.metricsCompare(metrics, regions,
      lit(d("2024-01-20"))).count() == 0)
    assert(noKpis == Row(null, 0L, null, null))
  }

  test("a warm page load runs at most two Spark jobs and leaves the " +
    "caller's conf as it was") {
    val aqe = "spark.sql.adaptive.enabled"
    val parts = "spark.sql.shuffle.partitions"
    withConfs(aqe -> "true", parts -> "7") {
      val day = d("2024-01-16")
      val cold = pageLoad(day)
      val (warm, jobs) = jobsOf(pageLoad(day))
      assert(sorted(warm._1) == sorted(cold._1) && warm._2 == cold._2)
      assert(jobs <= 2, s"a warm page load ran $jobs jobs")
      // the same load with the KPI row over the served frame itself
      val (_, direct) = jobsOf {
        val compared = QueryLayer.metricsCompareAt(spark, path, regions, day)
        compared.collect()
        QueryLayer.dashboardKpis(compared).head()
      }
      assert(direct <= 2, s"a warm page load ran $direct jobs")
      assert(spark.conf.get(aqe) == "true" && spark.conf.get(parts) == "7")
      val served = QueryLayer.metricsCompareAt(spark, path, regions, day)
        .sparkSession
      assert(served.conf.get(aqe) == "false" && served.conf.get(parts) == "1")
    }
  }
}
