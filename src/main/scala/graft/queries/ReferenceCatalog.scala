package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{CapacityFunctions, TextFunctions, Validation}
import graft.operators.{AsOfDelta, DimResolver, MergeUpsert}

/** One driver-contract query: Spark plan + (when SQL-expressible) the
  * equivalent DuckDB oracle SQL. Column names are aligned on both sides
  * (the driver's compare is column-name keyed). */
final case class Q(name: String, sql: Option[String],
                   fn: (SparkSession, String) => DataFrame)

/** SURVEY.md §2 operator inventory as oracle-checked queries over the
  * driver testdata (TPC-H-ish tables; see FIXTURES.md §4 for the
  * operator→table exercise plan). Every query routes through the SAME
  * library code the hospital pipeline uses (CapacityFunctions,
  * Validation, MergeUpsert, DimResolver, AsOfDelta) so the oracle checks
  * the real operator implementations, not parallel copies.
  *
  * Oracle-parity rules used throughout:
  *   - double aggregates are rounded on BOTH sides (FP summation order
  *     differs across engines);
  *   - `bround` (Python-parity HALF_EVEN) pairs with DuckDB `round_even`;
  *     plain `round` (HALF_UP) pairs with DuckDB `round` (both round
  *     half away from zero for positive values);
  *   - raw nanosecond timestamps are never output (Spark truncates to µs
  *     on read, DuckDB keeps ns) — only dates / epoch-free columns;
  *   - every row-level result has a total ORDER BY for determinism.
  */
object ReferenceCatalog {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** The events table's on-disk `ts` layout is the DRIVER'S choice and
    * has changed across rounds — TIMESTAMP(NANOS) (which Spark 4
    * refuses to read as a timestamp; read nanos as long, truncate to
    * microseconds with integer DIV — ns epoch values overflow double
    * precision), then TIMESTAMP(MICROS)/NTZ. This helper adapts to
    * whichever layout the file carries and always returns `ts` as
    * TimestampType (sessions run in UTC, so the NTZ→TZ cast is
    * value-preserving); DuckDB's ns→µs cast truncates identically, so
    * oracle SQL over `ts` is layout-independent too.
    *
    * No session-level side effect: `nanosAsLong` is needed only for
    * eager, driver-side SCHEMA INFERENCE (the footer's ns type maps to
    * LongType), so only that inference runs with it, on a session
    * derived from `s`. The returned lazy frame carries the inferred
    * schema explicitly, and a scan with an explicit long schema needs
    * no conf at execution time (NanosProbeSpec proves this). `s`'s own
    * conf never changes. */
  def events(s: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/events.parquet"
    // Plain inference succeeds for MICROS/MILLIS layouts (with or
    // without tz annotation); only a TIMESTAMP(NANOS) footer makes
    // Spark 4 throw, and only then do we need nanosAsLong.
    val schema =
      try s.read.parquet(path).schema
      catch {
        // Only the NANOS-footer failure is a layout problem the legacy
        // flag can fix (Spark rejects TIMESTAMP(NANOS) as an illegal
        // parquet type at inference). Anything else — missing file,
        // corrupt footer, permissions — is rethrown untouched, not
        // silently retried and masked behind the retry's own error.
        case first: org.apache.spark.sql.AnalysisException
            if Option(first.getMessage)
              .exists(m => m.contains("Illegal Parquet type") &&
                m.contains("NANOS")) =>
          try graft.Sessions.derived(s, graft.Sessions.NanosAsLong)
            .read.parquet(path).schema
          catch { case scala.util.control.NonFatal(retry) =>
            retry.addSuppressed(first); throw retry }
      }
    val raw = s.read.schema(schema).parquet(path)
    schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // NANOS footer read as ns-since-epoch longs; integer DIV keeps
        // full precision (ns values overflow double), then µs→timestamp.
        raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // Sessions run in UTC, so the NTZ→TZ cast is value-preserving.
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw // already TimestampType
    }
  }

  // ---- shared synthetic semantics over lineitem ----
  // Validation rules (P3 shape) mapped onto lineitem columns, in order.
  private def lineitemRules = Seq(
    Validation.Rule(col("l_quantity").isNull, "quantity is required"),
    Validation.Rule(col("l_discount").isNull, "discount is required"),
    Validation.Rule(col("l_quantity") < 0, "quantity cannot be negative"),
    Validation.Rule(col("l_discount") < 0, "discount cannot be negative"),
    Validation.Rule(col("l_discount") > col("l_tax"),
      "discount cannot exceed tax"))

  private val lineitemRulesSql =
    """CASE WHEN l_quantity IS NULL THEN 'quantity is required'
      |     WHEN l_discount IS NULL THEN 'discount is required'
      |     WHEN l_quantity < 0 THEN 'quantity cannot be negative'
      |     WHEN l_discount < 0 THEN 'discount cannot be negative'
      |     WHEN l_discount > l_tax THEN 'discount cannot exceed tax'
      |END""".stripMargin

  // Strain-index shape (P8) over lineitem ratios: bed occ = l_discount*10
  // (∈[0,1]), icu occ = l_tax*12.5 on even line numbers else NULL.
  private def scored(s: SparkSession, dir: String): DataFrame = {
    val bed = col("l_discount") * lit(10.0)
    val icu = when(col("l_linenumber") % 2 === 0, col("l_tax") * lit(12.5))
    t(s, dir, "lineitem").select(
      col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
      CapacityFunctions.strainIndex(bed, icu).as("score"))
  }

  private val scoredSql =
    """SELECT l_orderkey, l_linenumber, l_returnflag,
      |  round_even(least(100.0, greatest(0.0,
      |    ((l_discount * 10.0) * 100.0) * 0.4 +
      |    coalesce((CASE WHEN l_linenumber % 2 = 0 THEN l_tax * 12.5 END) * 100.0,
      |             (l_discount * 10.0) * 100.0) * 0.6)), 2) AS score
      |FROM lineitem""".stripMargin

  private def validated(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem").select(
      col("l_orderkey"), col("l_linenumber"),
      Validation.rejectReason(lineitemRules).as("_reject_reason"))

  val all: Seq[Q] = Seq(

    // S4/P1/P4 — scan + projection + rename + cast + scalar arithmetic
    Q("q01_project_rename", Some(
      """SELECT l_orderkey AS okey, CAST(l_linenumber AS BIGINT) AS lineno,
        |  l_returnflag AS flag,
        |  l_extendedprice * (1.0 - l_discount) AS net_price
        |FROM lineitem ORDER BY okey, lineno""".stripMargin),
      (s, dir) => t(s, dir, "lineitem").select(
        col("l_orderkey").as("okey"),
        col("l_linenumber").cast("long").as("lineno"),
        col("l_returnflag").as("flag"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("net_price"))
        .orderBy("okey", "lineno")),

    // P2 — date parse/cast from timestamp
    Q("q02_date_parse", Some(
      """SELECT event_id, CAST(ts AS DATE) AS day, event_type
        |FROM events ORDER BY event_id""".stripMargin),
      (s, dir) => events(s, dir).select(
        col("event_id"), to_date(col("ts")).as("day"), col("event_type"))
        .orderBy("event_id")),

    // P3/S8 — ordered validation cascade, first failing rule wins
    Q("q03_validation_split", Some(
      s"""SELECT l_orderkey, l_linenumber, $lineitemRulesSql AS _reject_reason
         |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin),
      (s, dir) => validated(s, dir).orderBy("l_orderkey", "l_linenumber")),

    // P5/P6/P7 — guarded ratios: ETL 0.0-default, API NULL-default
    // (round_even pairs with bround), truthiness-guarded variant
    Q("q04_ratio_guard", Some(
      """SELECT l_orderkey, l_linenumber,
        |  CASE WHEN l_tax > 0 THEN l_discount / l_tax ELSE 0.0 END AS ratio_etl,
        |  CASE WHEN l_tax > 0 THEN round_even(l_discount / l_tax, 4) END AS ratio_api,
        |  CASE WHEN l_tax IS NOT NULL AND l_tax > 0 AND l_discount IS NOT NULL
        |       THEN l_discount / l_tax END AS ratio_guarded
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin),
      (s, dir) => t(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        CapacityFunctions.bedOccPctEtl(col("l_discount"), col("l_tax")).as("ratio_etl"),
        CapacityFunctions.bedOccPctApi(col("l_discount"), col("l_tax")).as("ratio_api"),
        CapacityFunctions.icuOccPct(col("l_discount"), col("l_tax")).as("ratio_guarded"))
        .orderBy("l_orderkey", "l_linenumber")),

    // P8/P11 — clamped weighted score + banding CASE
    Q("q05_strain_band", Some(
      s"""SELECT l_orderkey, l_linenumber, score,
         |  CASE WHEN score > 80 THEN 'CRISIS'
         |       WHEN score >= 70 THEN 'ELEVATED'
         |       ELSE 'STABLE' END AS band
         |FROM ($scoredSql) ORDER BY l_orderkey, l_linenumber""".stripMargin),
      (s, dir) => scored(s, dir)
        .select(col("l_orderkey"), col("l_linenumber"), col("score"),
          CapacityFunctions.strainBand(col("score")).as("band"))
        .orderBy("l_orderkey", "l_linenumber")),

    // P11 aggregated — band distribution
    Q("q06_band_counts", Some(
      s"""SELECT CASE WHEN score > 80 THEN 'CRISIS'
         |            WHEN score >= 70 THEN 'ELEVATED'
         |            ELSE 'STABLE' END AS band, count(*) AS n
         |FROM ($scoredSql) GROUP BY 1 ORDER BY band""".stripMargin),
      (s, dir) => scored(s, dir)
        .groupBy(CapacityFunctions.strainBand(col("score")).as("band"))
        .agg(count(lit(1)).as("n")).orderBy("band")),

    // A1+P9 — latest-date fallback then date-equality filter
    Q("q07_filter_latest_date", Some(
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE CAST(o_orderdate AS DATE) =
        |  (SELECT max(CAST(o_orderdate AS DATE)) FROM orders)
        |ORDER BY o_orderkey""".stripMargin),
      (s, dir) => {
        // one plan, no driver round-trip: the scalar max is a 1-row
        // aggregate broadcast against the scan (at 100× scale the old
        // .head() was a separate collect job + a literal re-plan)
        val o = t(s, dir, "orders")
          .withColumn("o_d", to_date(col("o_orderdate")))
        val maxD = o.agg(max(col("o_d")).as("max_d"))
        o.join(broadcast(maxD), col("o_d") === col("max_d"))
          .select("o_orderkey", "o_totalprice").orderBy("o_orderkey")
      }),

    // J1 — fact × tiny dim equi join (broadcast)
    Q("q08_join_dim", Some(
      """SELECT n_nationkey, n_name, r_name FROM nation
        |JOIN region ON n_regionkey = r_regionkey
        |ORDER BY n_nationkey""".stripMargin),
      (s, dir) => t(s, dir, "nation")
        .join(broadcast(t(s, dir, "region")),
          col("n_regionkey") === col("r_regionkey"))
        .select("n_nationkey", "n_name", "r_name").orderBy("n_nationkey")),

    // J2 — fact × dim × dim chain
    Q("q09_join_fact_dims", Some(
      """SELECT o_orderkey, c_name, n_name FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |ORDER BY o_orderkey""".stripMargin),
      (s, dir) => t(s, dir, "orders")
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .select("o_orderkey", "c_name", "n_name").orderBy("o_orderkey")),

    // J3 — strict day-over-day as-of self join with NULL-propagating delta
    Q("q10_asof_delta", Some(
      """WITH d AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |         floor(SUM(value) * 10000.0 + 0.5) / 10000.0 AS v
        |  FROM events GROUP BY 1, 2)
        |SELECT c.event_type, c.day, c.v, p.v AS prev_v,
        |       floor((c.v - p.v) * 10000.0 + 0.5) / 10000.0 AS delta
        |FROM d c LEFT JOIN d p
        |  ON p.event_type = c.event_type AND p.day = c.day - 1
        |ORDER BY c.event_type, c.day""".stripMargin),
      (s, dir) => {
        val daily = events(s, dir)
          .groupBy(col("event_type"), to_date(col("ts")).as("day"))
          .agg(TextFunctions.portableRound(sum("value"), 4).as("v"))
        AsOfDelta.strictLag(daily, Seq("event_type"), "day", Seq("v"))
          .select(col("event_type"), col("day"), col("v"),
            col("prev_v"),
            TextFunctions.portableRound(col("delta_v"), 4).as("delta"))
          .orderBy("event_type", "day")
      }),

    // J4 — dim get-or-create: unseen names get deterministic md5 keys
    Q("q11_dim_get_or_create", Some(
      """SELECT md5(c_mktsegment) AS region_id, c_mktsegment AS name
        |FROM (SELECT DISTINCT c_mktsegment FROM customer
        |      WHERE c_mktsegment NOT IN (SELECT r_name FROM region))
        |ORDER BY name""".stripMargin),
      (s, dir) => {
        val dim = t(s, dir, "region").select(
          col("r_regionkey").cast("string").as("region_id"),
          col("r_name").as("name"))
        val incoming = t(s, dir, "customer").select(col("c_mktsegment").as("name"))
        val (_, created) = DimResolver.getOrCreate(dim, incoming)
        created.orderBy("name")
      }),

    // A1 — scalar max
    Q("q12_agg_max", Some(
      "SELECT CAST(max(o_orderdate) AS DATE) AS max_date FROM orders"),
      (s, dir) => t(s, dir, "orders")
        .agg(max(to_date(col("o_orderdate"))).as("max_date"))),

    // A2 — multi-aggregate single pass
    Q("q13_agg_multi", Some(
      """SELECT CAST(min(o_orderdate) AS DATE) AS min_date,
        |  CAST(max(o_orderdate) AS DATE) AS max_date,
        |  count(DISTINCT CAST(o_orderdate AS DATE)) AS n_dates
        |FROM orders""".stripMargin),
      (s, dir) => t(s, dir, "orders").agg(
        min(to_date(col("o_orderdate"))).as("min_date"),
        max(to_date(col("o_orderdate"))).as("max_date"),
        countDistinct(to_date(col("o_orderdate"))).as("n_dates"))),

    // A3 — DISTINCT + sort
    Q("q14_distinct_sort", Some(
      """SELECT DISTINCT CAST(o_orderdate AS DATE) AS day
        |FROM orders ORDER BY day""".stripMargin),
      (s, dir) => t(s, dir, "orders")
        .select(to_date(col("o_orderdate")).as("day")).distinct().orderBy("day")),

    // A4 — GROUP BY + HAVING
    Q("q15_group_having", Some(
      """SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS n_rows
        |FROM orders GROUP BY 1 HAVING count(*) >= 8 ORDER BY day""".stripMargin),
      (s, dir) => t(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(count(lit(1)).as("n_rows"))
        .filter(col("n_rows") >= 8).orderBy("day")),

    // A5 — argmax over grouped result (most recent qualifying date)
    Q("q16_best_coverage", Some(
      """SELECT day AS best_day, n_rows FROM (
        |  SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS n_rows
        |  FROM orders GROUP BY 1 HAVING count(*) >= 8)
        |ORDER BY day DESC LIMIT 1""".stripMargin),
      (s, dir) => t(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(count(lit(1)).as("n_rows"))
        .filter(col("n_rows") >= 8)
        .agg(max_by(struct(col("day"), col("n_rows")), col("day")).as("best"))
        .select(col("best.day").as("best_day"), col("best.n_rows").as("n_rows"))
        // global agg yields one NULL row on empty input; the reference's
        // "best = None" maps to zero rows (main.py:357-366)
        .filter(col("best_day").isNotNull)),

    // A6/A7 — mean + threshold count in one pass
    Q("q17_kpis", Some(
      s"""SELECT round(avg(score), 4) AS mean_score,
         |  count(CASE WHEN score > 80 THEN 1 END) AS crisis_n,
         |  max(score) AS top_score
         |FROM ($scoredSql)""".stripMargin),
      (s, dir) => scored(s, dir).agg(
        round(avg("score"), 4).as("mean_score"),
        count(when(col("score") > 80, 1)).as("crisis_n"),
        max("score").as("top_score"))),

    // A8/O4 — top-1 row with deterministic tiebreak
    Q("q18_top1", Some(
      s"""SELECT l_orderkey, l_linenumber, score FROM ($scoredSql)
         |ORDER BY score DESC, l_orderkey, l_linenumber LIMIT 1""".stripMargin),
      (s, dir) => scored(s, dir)
        .select("l_orderkey", "l_linenumber", "score")
        .orderBy(desc("score"), col("l_orderkey"), col("l_linenumber")).limit(1)),

    // O2 — top-k sort-limit (TakeOrderedAndProject)
    Q("q19_topk", Some(
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin),
      (s, dir) => t(s, dir, "orders")
        .orderBy(desc("o_totalprice"), col("o_orderkey"))
        .select("o_orderkey", "o_totalprice").limit(10)),

    // O1 — recent-N by timestamp (runs-list shape)
    Q("q20_order_limit", Some(
      """SELECT event_id, user_id, event_type FROM events
        |ORDER BY ts DESC, event_id LIMIT 20""".stripMargin),
      (s, dir) => events(s, dir)
        .orderBy(desc("ts"), col("event_id"))
        .select("event_id", "user_id", "event_type").limit(20)),

    // S7 — keyed merge upsert, oracle via row_number emulation
    Q("q21_merge_upsert", Some(
      """WITH updates AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice * 2 AS o_totalprice,
        |         o_orderdate, o_orderpriority
        |  FROM orders WHERE o_orderkey % 100 < 10),
        |unioned AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice, 1 AS pri FROM updates
        |  UNION ALL
        |  SELECT o_orderkey, o_orderstatus, o_totalprice, 0 AS pri FROM orders),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY pri DESC) AS rn
        |  FROM unioned)
        |SELECT o_orderkey, o_orderstatus, o_totalprice FROM ranked WHERE rn = 1
        |ORDER BY o_orderkey""".stripMargin),
      (s, dir) => {
        val orders = t(s, dir, "orders")
        val updates = orders.filter(col("o_orderkey") % 100 < 10)
          .withColumn("o_totalprice", col("o_totalprice") * 2)
        MergeUpsert.merge(orders, updates, Seq("o_orderkey"))
          .select("o_orderkey", "o_orderstatus", "o_totalprice")
          .orderBy("o_orderkey")
      }),

    // S11/A9 — lineage counters in one pass over the validation split
    Q("q22_lineage_counts", Some(
      s"""SELECT count(*) AS rows_in,
         |  count(CASE WHEN _reject_reason IS NULL THEN 1 END) AS rows_loaded,
         |  count(_reject_reason) AS rows_rejected
         |FROM (SELECT $lineitemRulesSql AS _reject_reason FROM lineitem)""".stripMargin),
      (s, dir) => validated(s, dir).agg(
        count(lit(1)).as("rows_in"),
        count(when(col("_reject_reason").isNull, 1)).as("rows_loaded"),
        count(col("_reject_reason")).as("rows_rejected"))),

    // S9-shape — export projection: rename + aggregate + sort desc
    Q("q23_export_shape", Some(
      s"""SELECT l_returnflag AS region, round(avg(score), 2) AS strain_index
         |FROM ($scoredSql) GROUP BY 1
         |ORDER BY strain_index DESC, region""".stripMargin),
      (s, dir) => scored(s, dir)
        .groupBy(col("l_returnflag").as("region"))
        .agg(round(avg("score"), 2).as("strain_index"))
        .orderBy(desc("strain_index"), col("region")))
  )
}
