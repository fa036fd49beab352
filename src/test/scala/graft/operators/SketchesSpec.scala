package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SketchesSpec extends SparkSpec {
  import spark.implicits._

  private val K = 64
  private val M = 1099511627776L // 2^40

  test("KMV estimate tracks exact distinct within ~3/sqrt(k), exact below k") {
    val df = (0 until 5000).map(i => ("big", s"tok$i")) ++
      (0 until 20).map(i => ("small", s"tok$i"))
    val sk = Sketches.kmvSketch(df.toDF("g", "v"), "g", col("v"), K, M)
      .select(col("g"), col("n_distinct"),
        Sketches.kmvEstimate(col("sketch"), K, M).as("est"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(sk("small") == ((20L, 20.0)), "below k the sketch is exact")
    val (exact, est) = sk("big")
    assert(exact == 5000L)
    assert(math.abs(est - exact) / exact < 3.0 / math.sqrt(K),
      s"est=$est exact=$exact")
  }

  test("KMV merge of disjoint halves equals the sketch of the union") {
    val all = (0 until 2000).map(i => ("g", s"tok$i")).toDF("g", "v")
    val sketchOf = (d: org.apache.spark.sql.DataFrame) =>
      Sketches.kmvSketch(d, "g", col("v"), K, M)
        .select("sketch").as[Seq[Long]].head()
    val whole = sketchOf(all)
    val a = sketchOf(all.filter(substring(col("v"), 4, 10).cast("int") % 2 === 0))
    val b = sketchOf(all.filter(substring(col("v"), 4, 10).cast("int") % 2 === 1))
    val merged = Seq((a, b)).toDF("a", "b")
      .select(Sketches.kmvMerge(col("a"), col("b"), K).as("m"))
      .as[Seq[Long]].head()
    assert(merged == whole, "union property: min-k of union = merged min-k")
  }

  test("KMV union estimate supports inclusion-exclusion overlap") {
    // two sets sharing half their elements
    val a = (0 until 1000).map(i => ("a", s"tok$i")).toDF("g", "v")
    val b = (500 until 1500).map(i => ("b", s"tok$i")).toDF("g", "v")
    val sk = Sketches.kmvSketch(a.unionByName(b), "g", col("v"), K, M)
      .select("g", "sketch").collect().map(r => r.getString(0) ->
        r.getSeq[Long](1)).toMap
    val row = Seq((sk("a"), sk("b"))).toDF("sa", "sb")
      .select(Sketches.kmvEstimate(col("sa"), K, M).as("ea"),
        Sketches.kmvEstimate(col("sb"), K, M).as("eb"),
        Sketches.kmvUnionEstimate(col("sa"), col("sb"), K, M).as("eu"))
      .head()
    val (ea, eb, eu) = (row.getDouble(0), row.getDouble(1), row.getDouble(2))
    val inter = ea + eb - eu
    // truth: |A|=|B|=1000, union 1500, intersection 500
    assert(math.abs(eu - 1500) / 1500.0 < 3.0 / math.sqrt(K), s"eu=$eu")
    assert(inter > 150 && inter < 900, s"inter=$inter") // noisy but present
  }

  test("incremental sketch store equals from-scratch in any append order") {
    import spark.implicits._
    val rows = (1 to 900).map(i => (s"g${i % 3}", s"tok$i")).toDF("g", "v")
    val scratch = Sketches.kmvSketch(rows, "g", col("v"), K, M)
      .select("g", "sketch").collect()
      .map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    Seq(Seq(0, 1, 2), Seq(2, 0, 1)).foreach { order =>
      val store = java.nio.file.Files
        .createTempDirectory("graft-kmvstore").toString + "/s"
      order.foreach { p =>
        Sketches.appendSketch(spark, store,
          rows.filter(hash(col("v")) % 3 === p || hash(col("v")) % 3 === p - 3),
          "g", col("v"), K, M)
      }
      val inc = MergeUpsert.readPlain(spark, store)
        .select("g", "sketch").collect()
        .map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
      assert(inc == scratch, s"order $order diverged")
    }
  }

  test("CMS sketch is bounded depth×width rows at any vocabulary size") {
    val docs = (0 until 400)
      .map(i => (i.toLong, (0 until 20).map(j => s"w${i}_$j").mkString(" ")))
      .toDF("doc_id", "text") // 8000 distinct tokens
    val sk = Sketches.cmsSketch(docs, "text", depth = 4, width = 64)
    assert(sk.count() <= 4L * 64, "sketch rows bounded by depth×width")
  }

  test("CMS estimates are one-sided (est ≥ true) and collisions overcount") {
    // 2000 distinct tokens into width 64 forces collisions in every row
    val docs = (0 until 200)
      .map(i => (i.toLong, (0 until 10).map(j => s"w${i}_$j").mkString(" ")))
      .toDF("doc_id", "text")
    val top = Sketches.cmsTopK(docs, "text", depth = 4, width = 64, k = 2000)
      .collect()
    assert(top.forall(_.getAs[Long]("overcount") >= 0L),
      "CMS never undercounts")
    assert(top.exists(_.getAs[Long]("overcount") > 0L),
      "width 64 over 2000 tokens must collide somewhere")
  }

  test("CMS top-k recovers the planted heavy hitter first") {
    val noise = (0 until 100)
      .map(i => (i.toLong, s"rare$i uncommon$i"))
    val heavy = (100 until 400).map(i => (i.toLong, "jackpot jackpot"))
    val top = Sketches.cmsTopK((noise ++ heavy).toDF("doc_id", "text"),
      "text", depth = 4, width = 1024, k = 5).collect()
    assert(top.head.getAs[String]("term") == "jackpot")
    assert(top.head.getAs[Long]("true_cnt") == 600L)
  }

  private val HllP = 8

  test("HLL estimate tracks exact distinct within ~3σ at p=8") {
    val df = (0 until 5000).map(i => ("g", s"tok$i")).toDF("g", "v")
    val est = Sketches.hllEstimate(
      Sketches.hllRegisters(df, "g", col("v"), HllP), "g", HllP)
      .select("est").as[Double].head()
    val m = 1 << HllP
    // standard error 1.04/sqrt(m) ≈ 6.5%; allow 3σ
    assert(math.abs(est - 5000.0) / 5000.0 < 3 * 1.04 / math.sqrt(m.toDouble),
      s"est=$est exact=5000")
  }

  test("HLL small range takes linear counting and is near-exact") {
    val df = (0 until 30).map(i => ("g", s"tok$i")).toDF("g", "v")
    val r = Sketches.hllEstimate(
      Sketches.hllRegisters(df, "g", col("v"), HllP), "g", HllP)
      .select("zeros", "est").as[(Long, Double)].head()
    assert(r._1 > 200, "30 values leave most of 256 registers empty")
    // linear counting m·ln(m/zeros) is near-exact at this occupancy
    assert(math.abs(r._2 - 30.0) < 5.0, s"est=${r._2}")
  }

  test("HLL registers are bounded rho values on occupied buckets only") {
    val df = (0 until 1000).map(i => ("g", s"tok$i")).toDF("g", "v")
    val regs = Sketches.hllRegisters(df, "g", col("v"), HllP).collect()
    val maxRho = 60 - HllP + 1
    assert(regs.nonEmpty && regs.length <= (1 << HllP))
    assert(regs.forall { r =>
      val b = r.getAs[Long]("bucket"); val g = r.getAs[Long]("reg")
      b >= 0 && b < (1 << HllP) && g >= 1 && g <= maxRho
    })
  }

  test("incremental HLL store equals from-scratch in any append order") {
    val rows = (1 to 900).map(i => (s"g${i % 3}", s"tok$i")).toDF("g", "v")
    val scratch = Sketches.hllSketch(rows, "g", col("v"), HllP)
      .select("g", "registers").collect()
      .map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    Seq(Seq(0, 1, 2), Seq(2, 0, 1)).foreach { order =>
      val store = java.nio.file.Files
        .createTempDirectory("graft-hllstore").toString + "/s"
      order.foreach { p =>
        Sketches.appendHll(spark, store,
          rows.filter(hash(col("v")) % 3 === p || hash(col("v")) % 3 === p - 3),
          "g", col("v"), HllP)
      }
      val inc = MergeUpsert.readPlain(spark, store)
        .select("g", "registers").collect()
        .map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
      assert(inc == scratch, s"order $order diverged")
    }
  }

  test("HLL store append is idempotent under redelivery") {
    // max-merge needs no batch-id bookkeeping: re-appending the same
    // batch cannot change any register
    val rows = (1 to 300).map(i => (s"g${i % 2}", s"tok$i")).toDF("g", "v")
    val store = java.nio.file.Files
      .createTempDirectory("graft-hllredeliver").toString + "/s"
    Sketches.appendHll(spark, store, rows, "g", col("v"), HllP)
    val once = MergeUpsert.readPlain(spark, store)
      .select("g", "registers").collect()
      .map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    Sketches.appendHll(spark, store, rows, "g", col("v"), HllP)
    val twice = MergeUpsert.readPlain(spark, store)
      .select("g", "registers").collect()
      .map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(once == twice)
  }

  test("HLL merge of disjoint halves equals the sketch of the union") {
    val all = (0 until 2000).map(i => ("g", s"tok$i")).toDF("g", "v")
    val sketchOf = (d: org.apache.spark.sql.DataFrame) =>
      Sketches.hllSketch(d, "g", col("v"), HllP)
        .select("registers").as[Seq[Long]].head()
    val whole = sketchOf(all)
    val a = sketchOf(all.filter(substring(col("v"), 4, 10).cast("int") % 2 === 0))
    val b = sketchOf(all.filter(substring(col("v"), 4, 10).cast("int") % 2 === 1))
    val merged = Seq((a, b)).toDF("a", "b")
      .select(Sketches.hllMerge(col("a"), col("b")).as("m"))
      .as[Seq[Long]].head()
    assert(merged == whole, "element-wise max of halves = registers of union")
    // and the dense-sketch estimator agrees with the sparse-path one
    val estDense = Sketches.hllSketchEstimate(
      Seq(("g", merged)).toDF("g", "registers"), "g", "registers", HllP)
      .select("est").as[Double].head()
    val estSparse = Sketches.hllEstimate(
      Sketches.hllRegisters(all, "g", col("v"), HllP), "g", HllP)
      .select("est").as[Double].head()
    assert(estDense == estSparse)
  }

  test("appendCms: any batch split/order equals the from-scratch " +
    "sketch; probe-from-store equals build-in-query") {
    val docs = (1 to 40).map(i =>
      (i.toLong, if (i % 2 == 0) "alpha beta" else "alpha gamma delta"))
      .toDF("doc_id", "text")
    def store(splits: Seq[org.apache.spark.sql.DataFrame]): String = {
      val p = java.nio.file.Files.createTempDirectory("graft-cms-t")
        .toString + "/s"
      splits.foreach(b => Sketches.appendCms(spark, p, b, "text",
        depth = 2, width = 64))
      p
    }
    val byThree = store(Seq(
      docs.filter($"doc_id" % 3 === 0), docs.filter($"doc_id" % 3 === 1),
      docs.filter($"doc_id" % 3 === 2)))
    val oneShot = store(Seq(docs))
    def grid(p: String) = MergeUpsert.readPlain(spark, p)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    assert(grid(byThree) == grid(oneShot))
    val direct = Sketches.cmsTopK(docs, "text", depth = 2, width = 64,
      k = 10).collect().map(_.toSeq)
    val probed = Sketches.cmsTopKWith(docs, "text",
      MergeUpsert.readPlain(spark, byThree), depth = 2, width = 64,
      k = 10).collect().map(_.toSeq)
    assert(direct.toSeq == probed.toSeq)
  }

  test("cmsTopKWith: probe terms the store never sketched report " +
    "est_cnt 0 (one-sided error holds on uncovered probes)") {
    val sketched = Seq((1L, "alpha beta")).toDF("doc_id", "text")
    val p = java.nio.file.Files.createTempDirectory("graft-cms-u")
      .toString + "/s"
    Sketches.appendCms(spark, p, sketched, "text", depth = 2, width = 64)
    // probe corpus has tokens the sketch never saw — their (d, bkt)
    // cells are absent from the store; they must surface with est 0,
    // not vanish or min over fewer lanes
    val probe = Seq((2L, "alpha zulu zulu zulu")).toDF("doc_id", "text")
    val got = Sketches.cmsTopKWith(probe, "text",
      MergeUpsert.readPlain(spark, p), depth = 2, width = 64, k = 10)
      .collect().map(r => r.getString(0) ->
        ((r.getAs[Long]("true_cnt"), r.getAs[Long]("est_cnt")))).toMap
    assert(got.contains("zulu"), "uncovered term must not vanish")
    assert(got("zulu") == ((3L, 0L)),
      "term absent from every sketched batch estimates 0")
    assert(got("alpha")._2 >= 1L, "covered term keeps its store estimate")
  }
}
