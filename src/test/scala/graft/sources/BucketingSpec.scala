package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Co-located join proof: two tables bucketed by the join key join with
  * NO shuffle exchange — the write-once-shuffle-never contract that
  * makes recurring fact-fact joins affordable at scale. */
class BucketingSpec extends SparkSpec {
  import spark.implicits._

  test("join of two same-bucketed tables plans without a shuffle") {
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val o = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    Bucketing.writeBucketed(li, "li_bkt", Seq("l_orderkey"), 8, Seq("l_orderkey"))
    Bucketing.writeBucketed(o, "o_bkt", Seq("o_orderkey"), 8, Seq("o_orderkey"))

    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // force a non-broadcast plan so bucketing (not broadcast) avoids
      // the shuffle
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = Bucketing.readTable(spark, "li_bkt")
        .join(Bucketing.readTable(spark, "o_bkt"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority").agg(sum("l_quantity").as("q"))
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      // the aggregation after the join shuffles on ITS key, legitimately;
      // the join keys themselves must never be exchanged
      assert(!plan.contains("Exchange hashpartitioning(l_orderkey") &&
        !plan.contains("Exchange hashpartitioning(o_orderkey"),
        s"bucketed join must not shuffle on the join key:\n$plan")

      // and it returns the same result as the unbucketed join
      val expected = li.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority").agg(sum("l_quantity").as("q"))
        .as[(String, Double)].collect().toMap
      val got = joined.as[(String, Double)].collect().toMap
      assert(got.keySet == expected.keySet)
      got.foreach { case (k, v) => assert(math.abs(v - expected(k)) < 1e-6) }
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS li_bkt")
      spark.sql("DROP TABLE IF EXISTS o_bkt")
    }
  }

  test("external-path bucketed join: zero Exchange anywhere below the " +
    "join, result equals the plain join, re-register is idempotent") {
    val base = java.nio.file.Files.createTempDirectory("graft-bkt").toString
    val left = (0L until 1000L).map(i => (i, i % 5)).toDF("k", "lv")
    val right = (0L until 400L).map(i => (i * 2, i)).toDF("rk", "rv")
    Bucketing.writeBucketed(left, "bspec_l", Seq("k"), 4, Seq("k"),
      path = Some(s"$base/l"))
    Bucketing.writeBucketed(right, "bspec_r", Seq("rk"), 4, Seq("rk"),
      path = Some(s"$base/r2"))
    // idempotent re-register over the existing name
    Bucketing.writeBucketed(right, "bspec_r", Seq("rk"), 4, Seq("rk"),
      path = Some(s"$base/r"))
    withConfs("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val j = spark.table("bspec_l")
        .join(spark.table("bspec_r"), $"k" === $"rk")
      j.collect()
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join must not shuffle:\n$plan")
      assert(plan.contains("SortMergeJoin"), s"expected SMB join:\n$plan")
    }
    val got = Bucketing.bucketedJoin(spark, "bspec_l", "bspec_r",
      "k", "rk") {
      _.groupBy("lv").agg(count(lit(1)).as("n"), sum("rv").as("s"))
    }.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val expect = left.join(right, $"k" === $"rk")
      .groupBy("lv").agg(count(lit(1)).as("n"), sum("rv").as("s"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == expect && got.nonEmpty)
    spark.sql("DROP TABLE IF EXISTS bspec_l")
    spark.sql("DROP TABLE IF EXISTS bspec_r")
  }

  test("mismatched bucket counts still join correctly (degraded, " +
    "never wrong)") {
    val base = java.nio.file.Files.createTempDirectory("graft-bkt").toString
    val l = (0L until 100L).map(i => (i, i)).toDF("k", "lv")
    val r = (0L until 100L).map(i => (i, i * 10)).toDF("rk", "rv")
    Bucketing.writeBucketed(l, "bspec_m4", Seq("k"), 4, Seq("k"),
      path = Some(s"$base/l"))
    Bucketing.writeBucketed(r, "bspec_m2", Seq("rk"), 2, Seq("rk"),
      path = Some(s"$base/r"))
    val got = Bucketing.bucketedJoin(spark, "bspec_m4", "bspec_m2",
      "k", "rk") { _.agg(count(lit(1)).as("n"), sum("rv").as("s")) }
      .head()
    assert(got.getLong(0) == 100L &&
      got.getLong(1) == (0L until 100L).map(_ * 10).sum)
    spark.sql("DROP TABLE IF EXISTS bspec_m4")
    spark.sql("DROP TABLE IF EXISTS bspec_m2")
  }
}
