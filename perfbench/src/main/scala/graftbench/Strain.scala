package graftbench

import java.time.LocalDate

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.TableManifest
import graft.pipeline.{IngestJob, MetricsJob, QueryLayer}
import graft.sources.Tables

/** The strain pipeline: CSV → validate/reject → fact merge → metrics
  * derive → query endpoints. */
object Strain {

  val FirstDay: LocalDate = LocalDate.of(2021, 1, 1)
  val Now = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")

  /** One strain workdir: the tables a pipeline run writes. */
  final class Workdir(root: String) {
    val landing = s"$root/landing"
    val capacity = s"$root/capacity"
    val metrics = s"$root/metrics"
    val regions = s"$root/regions"
    val rejects = s"$root/rejects"
    val runs = s"$root/runs"
    def outputs: Seq[String] = Seq(capacity, metrics, regions, rejects, runs)
  }

  def sqlDate(d: LocalDate) = java.sql.Date.valueOf(d)

  /** Expected metrics per (date, region), from the generator's facts by
    * the reference formulas, as a plain DataFrame. */
  def expectedMetrics(spark: SparkSession,
                      facts: collection.Map[(LocalDate, String), Gen.Cap]): DataFrame = {
    val schema = StructType(Seq(
      StructField("date", DateType), StructField("region", StringType),
      StructField("total", IntegerType), StructField("occupied", IntegerType),
      StructField("icu_beds", IntegerType), StructField("icu_occupied", IntegerType)))
    val rows = facts.toSeq.map { case ((d, s), c) =>
      Row(sqlDate(d), s, c.total, c.occupied,
        c.icuBeds.map(Int.box).orNull, c.icuOccupied.map(Int.box).orNull)
    }
    val bed = when(col("total") > 0, col("occupied").cast("double") /
      col("total").cast("double")).otherwise(lit(0.0))
    val icu = when(col("icu_beds").isNotNull && col("icu_beds") > 0 &&
      col("icu_occupied").isNotNull,
      col("icu_occupied").cast("double") / col("icu_beds").cast("double"))
    spark.createDataFrame(rows.asJava, schema).select(col("date"), col("region"),
      bed.as("bed_occ_pct"), icu.as("icu_occ_pct"),
      bround(least(lit(100.0), greatest(lit(0.0),
        bed * 100.0 * 0.4 + coalesce(icu * 100.0, bed * 100.0) * 0.6)), 2)
        .as("strain_index"))
  }

  /** The served metrics table with region names, in the expected shape. */
  def servedMetrics(spark: SparkSession, t: Workdir): DataFrame =
    TableManifest.readOrPlain(spark, t.metrics)
      .join(spark.read.schema(Tables.regionsSchema).parquet(t.regions), "region_id")
      .select(col("date"), col("name").as("region"), col("bed_occ_pct"),
        col("icu_occ_pct"), col("strain_index"))

  def sameRows(a: DataFrame, b: DataFrame): (Boolean, String) = {
    val (na, nb) = (a.count(), b.count())
    val (ab, ba) = (a.exceptAll(b).count(), b.exceptAll(a).count())
    (na == nb && ab == 0 && ba == 0,
      s"rows $na vs $nb, only-left $ab, only-right $ba")
  }

  /** Expected strain index per region for one date of `facts`. */
  def strainOf(c: Gen.Cap): Double = {
    val bed = if (c.total > 0) c.occupied.toDouble / c.total.toDouble else 0.0
    val icu = (c.icuBeds, c.icuOccupied) match {
      case (Some(b), Some(o)) if b > 0 => Some(o.toDouble / b.toDouble)
      case _ => None
    }
    val v = math.min(100.0, math.max(0.0,
      bed * 100.0 * 0.4 + icu.map(_ * 100.0).getOrElse(bed * 100.0) * 0.6))
    BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_EVEN).toDouble
  }

  /** The dashboard client. A request is one page load as the reference
    * dashboard makes it (SURVEY.md §3.3): `GET /metrics/compare?date=D`,
    * collected, then the KPI row (mean, crisis count, top region)
    * computed over that same response. D is the latest published date.
    * Latency is send → KPI row. */
  final class Client(env: Env, t: Workdir) {
    private val spark = env.spark
    // dims are static once loaded, so the client holds them in memory
    // (a concurrent ingest rewrites the regions directory in place)
    private val regions = {
      val rs = spark.read.schema(Tables.regionsSchema).parquet(t.regions).collect()
      spark.createDataFrame(rs.toSeq.asJava, Tables.regionsSchema)
    }
    /** Every response: (date, region → strain). */
    val responses = new java.util.concurrent.ConcurrentLinkedQueue[(LocalDate, Map[String, Double])]

    /** One page load of `day`; returns the compare response. */
    def load(day: LocalDate): Array[Row] = {
      val compared = QueryLayer.metricsCompareAt(spark, t.metrics, regions, sqlDate(day))
      val rows = compared.collect()
      QueryLayer.dashboardKpis(
        spark.createDataFrame(rows.toSeq.asJava, compared.schema)).collect()
      rows
    }

    /** A timed page load; its response is kept for the checks. */
    def pageLoad(day: LocalDate, traced: Boolean): Unit =
      env.request(env.op(s"page load $day") {
        val rows = env.tracer.query("pipeline.query", traced)(load(day))
        responses.add((day, rows.map(r => r.getAs[String]("region") ->
          r.getAs[Double]("strain_index")).toMap))
      })

    /** Endpoint responses equal their plain-scan twins on `days`. */
    def checkTwins(days: Seq[LocalDate]): Unit = {
      val metrics = TableManifest.readOrPlain(spark, t.metrics)
      val capacity = TableManifest.readOrPlain(spark, t.capacity)
      def same(a: DataFrame, b: DataFrame) =
        a.collect().map(_.toString).sorted.toSeq == b.collect().map(_.toString).sorted.toSeq
      days.foreach { day =>
        val d = sqlDate(day)
        env.check(s"compare endpoint equals plain scan on $day")(same(
          QueryLayer.metricsCompareAt(spark, t.metrics, regions, d),
          QueryLayer.metricsCompare(metrics, regions, lit(d))))
        env.check(s"latest endpoint equals plain scan on $day")(same(
          QueryLayer.metricsLatestAt(spark, t.metrics, regions, d),
          QueryLayer.metricsLatest(metrics, regions, lit(d))))
        env.check(s"capacity endpoint equals plain scan on $day")(same(
          QueryLayer.capacityLatestAt(spark, t.capacity, regions, d),
          QueryLayer.capacityLatest(capacity, regions, lit(d))))
      }
    }
  }

  /** Ingest one landed CSV and verify its counts against the generator. */
  def ingest(env: Env, t: Workdir, csvPath: String, runId: String,
             csv: Gen.Csv, traced: Boolean,
             results: mutable.Buffer[(IngestJob.IngestResult, Gen.Csv)]): Unit =
    env.op(s"ingest $runId") {
      env.tracer.span("pipeline.ingest", traced, csv.bytes) {
        IngestJob.run(env.spark, csvPath, t.capacity, t.regions, t.rejects,
          t.runs, runId, "hhs_csv", Now)
      }
    }.foreach(r => results.synchronized(results += ((r, csv))))

  def checkConservation(env: Env,
                        results: Seq[(IngestJob.IngestResult, Gen.Csv)]): Unit =
    results.foreach { case (r, csv) =>
      env.check(s"ingest conservation ${r.runId}")(
        r.rowsIn == csv.rows && r.rowsRejected == csv.rejected &&
          r.rowsLoaded == r.rowsIn - r.rowsRejected,
        s"in ${r.rowsIn}/${csv.rows} rejected ${r.rowsRejected}/${csv.rejected} " +
          s"loaded ${r.rowsLoaded}")
    }

  def checkRejectReasons(env: Env, t: Workdir, runId: String, csv: Gen.Csv): Unit = {
    val got = env.spark.read.option("header", "true")
      .csv(s"${t.rejects}/capacity_rejects_$runId")
      .groupBy("_reject_reason").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    env.check(s"reject reasons $runId")(got == csv.rejects, s"$got vs ${csv.rejects}")
  }

  /** Write-heavy, many-partition backfill: a fresh workdir per pass,
    * one multi-date CSV through IngestJob.run then MetricsJob.run. */
  final class Backfill(env: Env) extends Workload {
    val Dates = 20
    val Regions = 40
    private val spark = env.spark
    private var csv: Gen.Csv = _
    private var last: Workdir = _
    private val results = mutable.ArrayBuffer.empty[(IngestJob.IngestResult, Gen.Csv)]

    private def make(seed: Long) = Gen.capacityCsv(seed,
      (0 until Dates).map(FirstDay.plusDays(_)), Regions, 0.02, 0.01)

    def prepare(): Unit = csv = make(env.args.seed)

    /** Land, ingest, derive, read back; returns the pass record. */
    private def run(t: Workdir, c: Gen.Csv, runId: String, traced: Boolean,
                    res: mutable.Buffer[(IngestJob.IngestResult, Gen.Csv)]): Pass = {
      val t0 = System.nanoTime()
      Env.writeText(s"${t.landing}/capacity.csv", c.text)
      val landed = System.nanoTime()
      ingest(env, t, s"${t.landing}/capacity.csv", runId, c, traced, res)
      env.op(s"metrics $runId") {
        env.tracer.span("pipeline.metrics", traced, c.bytes) {
          MetricsJob.run(spark, t.capacity, t.metrics, t.runs, s"$runId-m", Now)
        }
      }
      val ticked = System.nanoTime()
      env.op(s"read $runId")(TableManifest.readOrPlain(spark, t.metrics).count())
      val done = System.nanoTime()
      Pass((done - t0) / 1e9, (ticked - landed) / 1e9, (done - ticked) / 1e9,
        (done - landed) / 1e9)
    }

    def warmup(): Unit = {
      val seed = env.args.seed * 7919L + 1
      val t = new Workdir(env.dir(s"warm-$seed"))
      run(t, make(seed), s"warm$seed", traced = false, mutable.ArrayBuffer.empty)
      Env.rmrf(env.dir(s"warm-$seed"))
    }

    /** Fresh-workdir passes, about six seconds each. */
    def timed(seconds: Int): Unit =
      env.writer(math.max(3, seconds / 6)) { i =>
        if (last != null) Env.rmrf(env.dir(s"pass-${i - 1}"))
        last = new Workdir(env.dir(s"pass-$i"))
        env.passes.add(run(last, csv, s"run$i", env.args.trace, results))
        env.rows.addAndGet(csv.rows)
      }

    def check(): Unit = {
      checkConservation(env, results.toSeq)
      env.check("every pass ingested")(results.size == env.passes.size)
      checkRejectReasons(env, last, results.last._1.runId, csv)
      val (ok, d) = sameRows(servedMetrics(spark, last), expectedMetrics(spark, csv.facts))
      env.check("metrics table equals recomputation")(ok, d)
      new Client(env, last).checkTwins(Seq(FirstDay.plusDays(1),
        FirstDay.plusDays(Dates / 2), FirstDay.plusDays(Dates - 1)))
    }

    def inputBytes: Long = csv.bytes
    def outputBytes: Long = last.outputs.map(Env.du).sum
  }

  /** Daily serving: a short history, then a writer landing a fixed
    * number of compressed days back to back (ingest + incremental
    * derive, vacuum every third day) while the dashboard client loads
    * pages. */
  final class Serve(env: Env) extends Workload {
    val HistoryDays = 10
    val Regions = 40
    /** Page loads in the timed region: p90 keeps ten samples beyond it. */
    val Requests = 100
    /** Days landed in the timed region, about 3.5 s each. */
    def days(seconds: Int): Int = math.max(3, seconds / 2)
    private val spark = env.spark
    private val t = new Workdir(env.dir("serve"))
    private val facts = mutable.HashMap.empty[(LocalDate, String), Gen.Cap]
    /** Every strain map a date has had: a response must equal one. */
    private val versions = new java.util.concurrent.ConcurrentHashMap[LocalDate,
      List[Map[String, Double]]]
    private val results = mutable.ArrayBuffer.empty[(IngestJob.IngestResult, Gen.Csv)]
    @volatile private var published: LocalDate = _
    private var inBytes = 0L
    private var client: Client = _

    private def accept(csv: Gen.Csv): Unit = {
      facts ++= csv.facts
      inBytes += csv.bytes
      csv.facts.keys.map(_._1).toSet[LocalDate].foreach { d =>
        val m = Gen.States.take(Regions)
          .flatMap(s => facts.get((d, s)).map(c => s -> strainOf(c))).toMap
        versions.merge(d, List(m), (a, b) => b ++ a)
      }
    }

    /** The history: one CSV through IngestJob.run and MetricsJob.run. */
    def prepare(): Unit = {
      val csv = Gen.capacityCsv(env.args.seed,
        (0 until HistoryDays).map(FirstDay.plusDays(_)), Regions, 0.02, 0.01)
      Env.writeText(s"${t.landing}/history.csv", csv.text)
      ingest(env, t, s"${t.landing}/history.csv", "history", csv, traced = false, results)
      env.op("history metrics") {
        MetricsJob.run(spark, t.capacity, t.metrics, t.runs, "history-m", Now)
      }
      accept(csv)
      published = FirstDay.plusDays(HistoryDays - 1)
      client = new Client(env, t)
    }

    /** Land day `published + 1`: ingest, derive the touched dates, read
      * back; vacuum both tables every third day. */
    private def land(i: Int, traced: Boolean): Pass = {
      val t0 = System.nanoTime()
      val day = published.plusDays(1)
      val csv = Gen.dayCsv(env.args.seed, day, Regions, 0.1, i)
      val path = s"${t.landing}/day-$day.csv"
      Env.writeText(path, csv.text)
      val landed = System.nanoTime()
      ingest(env, t, path, s"day$i", csv, traced, results)
      val touched = csv.facts.keys.map(_._1).toSeq.distinct.sortBy(_.toEpochDay)
      env.op(s"derive day $i") {
        env.tracer.span("pipeline.metrics", traced, csv.bytes) {
          MetricsJob.runIncremental(spark, t.capacity, t.metrics, s"day$i-m",
            touched.map(sqlDate))
        }
      }
      val ticked = System.nanoTime()
      env.op(s"read day $i")(TableManifest.readOrPlain(spark, t.metrics).count())
      val done = System.nanoTime()
      accept(csv)
      published = day
      env.rows.addAndGet(csv.rows)
      if (i % 3 == 2) env.op(s"vacuum day $i") {
        env.tracer.span("operators.vacuum", traced) {
          TableManifest.vacuum(spark, t.capacity)
          TableManifest.vacuum(spark, t.metrics)
        }
      }
      Pass((System.nanoTime() - t0) / 1e9, (ticked - landed) / 1e9,
        (done - ticked) / 1e9, (done - landed) / 1e9)
    }

    /** One day landed on the served tables, and a few page loads. */
    def warmup(): Unit = {
      land(-1, traced = false)
      (0 until 3).foreach(_ => client.load(published))
    }

    /** The writer lands `days(seconds)` days back to back while the
      * client makes its page loads; the region ends when both are done. */
    def timed(seconds: Int): Unit = {
      val reader = env.reader(Requests)(_ => client.pageLoad(published, env.args.trace))
      env.writer(days(seconds))(i => env.passes.add(land(i, env.args.trace)))
      reader.join()
    }

    def check(): Unit = {
      checkConservation(env, results.toSeq)
      // history, warm-up day, timed days
      env.check("every day ingested")(results.size == env.passes.size + 2)
      results.lastOption.foreach { case (r, c) => checkRejectReasons(env, t, r.runId, c) }
      val (ok, d) = sameRows(servedMetrics(spark, t), expectedMetrics(spark, facts))
      env.check("metrics table equals recomputation")(ok, d)
      val bad = client.responses.asScala.filterNot { case (day, m) =>
        Option(versions.get(day)).exists(_.contains(m))
      }
      env.check(s"page loads match a published version " +
        s"(${client.responses.size} responses)")(bad.isEmpty,
        bad.take(2).map { case (day, m) =>
          s"$day: got ${m.take(3)}; versions ${Option(versions.get(day)).map(_.map(_.take(3)))}"
        }.mkString("; "))
      client.checkTwins(Seq(published))
    }

    def inputBytes: Long = inBytes
    def outputBytes: Long = t.outputs.map(Env.du).sum
  }
}
