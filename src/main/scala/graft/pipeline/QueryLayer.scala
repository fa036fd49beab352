package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.bridge
import graft.functions.CapacityFunctions._
import graft.Sessions
import graft.operators.TableManifest

/** The reference's query surface — FastAPI endpoints (main.py) plus the
  * browser-side analytics the dashboards duplicate (dashboard.html,
  * app.js, App.tsx) — unified as single Spark plans (SURVEY.md §3.3).
  *
  * Each function is lazy: callers compose further or collect at the edge.
  * With date-partitioned facts, the `date === target` filters prune to
  * the served partitions before any join runs.
  *
  * The served endpoints (the manifest-planned `*At` forms, and
  * [[dashboardKpis]] over their response) return frames of their
  * caller's [[Sessions.Serving]] session: AQE off, one shuffle
  * partition. A response holds at most one row per region, and so
  * does every stage after the date filter, so one partition is the
  * right size. AQE would only add a stage job per exchange, and a
  * one-partition sort needs no range-sample job. The region dim is
  * joined by a one-partition shuffle instead of a broadcast, which
  * would be a job of its own. A page load — the compare response
  * collected, then the KPI row over it — runs two Spark jobs on a
  * warm table version. The caller's session conf is never changed.
  */
object QueryLayer {

  /** `df` as a frame of its session's serving session. */
  private def serving(df: DataFrame): DataFrame =
    bridge.onSession(df, Sessions.derived(df.sparkSession, Sessions.Serving))

  /** The region dim's join side: a shuffle of ~one row per region, in
    * the same job as the fact side (a broadcast is a job of its own). */
  private def dim(regions: DataFrame): DataFrame =
    regions.select("region_id", "name").hint("shuffle_hash")

  /** A1 — latest available date (main.py:149,206). */
  def latestDate(metrics: DataFrame): DataFrame =
    metrics.agg(max("date").as("latest_date"))

  /** /capacity/latest — J1 + P6/P7 API ratios (main.py:130-184). */
  def capacityLatest(capacity: DataFrame, regions: DataFrame,
                     targetDate: Column): DataFrame =
    capacity.filter(col("date") === targetDate)
      .join(dim(regions), "region_id")
      .select(col("date"), col("name").as("region"),
        col("total_beds"), col("occupied_beds"),
        col("icu_beds"), col("icu_occupied"),
        bedOccPctApi(col("occupied_beds"), col("total_beds")).as("bed_occ_pct"),
        icuOccPctApi(col("icu_occupied"), col("icu_beds")).as("icu_occ_pct"))

  /** /metrics/latest — J2 (main.py:187-231). */
  def metricsLatest(metrics: DataFrame, regions: DataFrame,
                    targetDate: Column): DataFrame =
    metrics.filter(col("date") === targetDate)
      .join(dim(regions), "region_id")
      .select(col("date"), col("name").as("region"),
        col("bed_occ_pct"), col("icu_occ_pct"), col("strain_index"))

  /** /metrics/compare — J3 strict day-over-day delta + dim join + sort
    * (main.py:234-289; delta NULL-propagating per :274-277), in ONE
    * aggregate over the two date partitions: per region, the target
    * date's value and the −1 day's, each NULL when its row is absent.
    * Exact because the served table is keyed on (date, region_id);
    * regions with no target-date row are dropped. */
  def metricsCompare(metrics: DataFrame, regions: DataFrame,
                     targetDate: Column): DataFrame = {
    val prevDate = date_sub(targetDate, 1)
    def on(day: Column, c: String) = max(when(col("date") === day, col(c)))
    metrics.filter(col("date") === targetDate || col("date") === prevDate)
      .groupBy("region_id")
      .agg(on(targetDate, "date").as("date"),
        on(targetDate, "strain_index").as("strain_index"),
        on(prevDate, "strain_index").as("prev_strain"))
      .filter(col("date").isNotNull)
      .join(dim(regions), "region_id")
      .select(col("date"), col("name").as("region"),
        col("strain_index"), col("prev_strain"),
        (col("strain_index") - col("prev_strain")).as("delta"))
      .orderBy(desc("strain_index"))
  }

  /** Manifest-planned twins of the date-filtered endpoints: the
    * served table is addressed by its manifest's file list for exactly
    * the needed date partitions — zero directory listing per request
    * (the reference's Postgres B-tree lookup, distributed). Same plans
    * as the DataFrame forms above once the scan is resolved, built on
    * `spark` and run on its [[serving]] session. */
  def capacityLatestAt(spark: SparkSession,
                       capacityPath: String, regions: DataFrame,
                       targetDate: java.sql.Date): DataFrame =
    serving(capacityLatest(
      TableManifest.readPartitions(spark, capacityPath, Seq(targetDate)),
      regions, lit(targetDate)))

  def metricsLatestAt(spark: SparkSession,
                      metricsPath: String, regions: DataFrame,
                      targetDate: java.sql.Date): DataFrame =
    serving(metricsLatest(
      TableManifest.readPartitions(spark, metricsPath, Seq(targetDate)),
      regions, lit(targetDate)))

  /** The compare endpoint needs the target date AND the strict −1 day
    * partition — both resolve from the manifest in one pass. */
  def metricsCompareAt(spark: SparkSession,
                       metricsPath: String, regions: DataFrame,
                       targetDate: java.sql.Date): DataFrame = {
    val prev = java.sql.Date.valueOf(targetDate.toLocalDate.minusDays(1))
    serving(metricsCompare(
      TableManifest.readPartitions(spark, metricsPath,
        Seq(targetDate, prev)),
      regions, lit(targetDate)))
  }

  /** /metrics/available-dates — A2 (+A3 when full) (main.py:292-330). */
  def availableDates(metrics: DataFrame): DataFrame =
    metrics.agg(
      date_format(min("date"), "yyyy-MM-dd").as("min_date"),
      date_format(max("date"), "yyyy-MM-dd").as("max_date"),
      countDistinct("date").as("n_dates"))

  def allDates(metrics: DataFrame): DataFrame =
    metrics.select("date").distinct().orderBy("date")

  /** /metrics/coverage — A4 group-by-having (main.py:333-349). */
  def coverage(metrics: DataFrame, minRows: Int = 30): DataFrame =
    metrics.groupBy("date").agg(count("*").as("rows"))
      .filter(col("rows") >= minRows)
      .orderBy("date")

  /** A5 — best (most recent) qualifying coverage date (main.py:357-366). */
  def bestCoverage(metrics: DataFrame, minRows: Int = 30): DataFrame =
    coverage(metrics, minRows)
      .agg(max_by(struct(col("date"), col("rows")), col("date")).as("best"))
      .select(col("best.date").as("best_date"), col("best.rows").as("rows"))
      // a global agg over an empty input yields one all-NULL row; the
      // reference's best=None maps to zero rows (main.py:357-366)
      .filter(col("best_date").isNotNull)

  /** /runs — O1 recent runs, latest status per run (main.py:110-127).
    * Lineage is append-only, so reduce to the last row per run_id first. */
  def recentRuns(runs: DataFrame, limit: Int = 20): DataFrame = {
    runs.withColumn("_rn",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy("run_id")
          .orderBy(col("ended_at").desc_nulls_last)))
      .filter(col("_rn") === 1).drop("_rn")
      .orderBy(desc("started_at")).limit(limit)
  }

  /** Dashboard KPI row — A6 mean, A7 crisis count, A8 top-1 region
    * (dashboard.html:369-374; App.tsx:83-93) in ONE aggregate pass. */
  def dashboardKpis(compared: DataFrame): DataFrame =
    serving(compared.agg(
      avg("strain_index").as("mean_strain"),
      count(when(col("strain_index") > 80, 1)).as("crisis_count"),
      max_by(col("region"), col("strain_index")).as("top_region"),
      max("strain_index").as("top_strain")))

  /** Per-row banding + display delta (P11/P12) for table rendering. */
  def dashboardTable(compared: DataFrame): DataFrame =
    compared
      .withColumn("band", strainBand(col("strain_index")))
      .withColumn("delta_display", deltaDisplay(col("delta")))
      .orderBy(desc("strain_index"))

  /** S9 — CSV export: Region, Strain Index, Delta Strain sorted desc
    * (dashboard.html:577-602). */
  def exportCsv(compared: DataFrame, path: String): Unit =
    compared
      .select(col("region"), col("strain_index"),
        deltaDisplay(col("delta")).as("delta_strain"))
      .orderBy(desc("strain_index"))
      .coalesce(1)
      .write.mode("overwrite").option("header", "true").csv(path)

  /** S10 — JSON envelope shaping: one row per date with rows collected
    * as structs (main.py:279-289). */
  def jsonEnvelope(compared: DataFrame): DataFrame =
    compared.groupBy("date").agg(
      collect_list(struct(col("region"), col("strain_index"),
        col("prev_strain"), col("delta"))).as("rows"))
      .select(date_format(col("date"), "yyyy-MM-dd").as("date"),
        to_json(struct(col("date"), col("rows"))).as("payload"))
}
