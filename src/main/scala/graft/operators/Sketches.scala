package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** KMV (k-minimum-values) distinct-count sketch, plus a portable
  * HyperLogLog (bottom of file).
  *
  * Why KMV and not the engines' built-in HyperLogLog: Spark's
  * `approx_count_distinct` and DuckDB's are different HLL
  * implementations with engine-private register layouts — their
  * estimates can never hash-match. KMV built on the deterministic md5
  * hash is exactly reproducible on any engine (the oracle recomputes
  * it bit-for-bit), mergeable (union of sketches = k smallest of the
  * union), and still O(k) space with ~1/√k relative error. When HLL's
  * fixed-size register state is wanted anyway, [[hllSketch]] below is
  * an md5-based HLL that is equally engine-portable.
  *
  * Estimator: with h_k the k-th smallest of the distinct hash values
  * mapped into [0, m), the distinct count ≈ (k−1)·m / h_k. A group
  * with fewer than k distinct values keeps them ALL — the sketch IS
  * the exact set, and the estimate is its size.
  *
  * Scale shape: one distinct-shuffle on (group, hash) — linear — then
  * a per-group window trimmed to k rows before the tiny collect_list;
  * the sketch per group is ≤ k longs regardless of corpus size.
  */
object Sketches {

  /** Per-group sketch: the k smallest distinct md5-derived hash values
    * of `value` in [0, m). Output: (groupCol, sketch array<long> asc,
    * n_distinct — exact distinct HASH count, same on any engine). */
  def kmvSketch(df: DataFrame, groupCol: String, value: Column,
                k: Int, m: Long): DataFrame = {
    require(k >= 2, "KMV needs k >= 2")
    // drop null values explicitly: md5Hash60(null) is a null hv, which
    // Spark's row_number orders NULLS FIRST but DuckDB orders NULLS LAST
    // — a null input would both pollute the sketch and break the
    // cross-engine bit-parity this sketch exists for
    val h = df.select(col(groupCol),
      (TextFunctions.md5Hash60(value) % lit(m)).as("hv"))
      .filter(col("hv").isNotNull).distinct()
    val w = Window.partitionBy(groupCol).orderBy("hv")
    val counts = h.groupBy(groupCol).agg(count(lit(1)).as("n_distinct"))
    h.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .groupBy(groupCol)
      .agg(sort_array(collect_list(col("hv"))).as("sketch"))
      .join(counts, Seq(groupCol))
  }

  /** Distinct-count estimate from a sketch (portable-rounded, 4 dp). */
  def kmvEstimate(sketch: Column, k: Int, m: Long): Column =
    when(size(sketch) < k, size(sketch).cast("double"))
      .otherwise(TextFunctions.portableRound(
        lit((k - 1).toDouble) * lit(m.toDouble) / element_at(sketch, k), 4))

  /** Merge two sketches: k smallest of the distinct union — the KMV
    * union property that makes per-partition / per-day sketches
    * combinable without re-scanning. */
  def kmvMerge(a: Column, b: Column, k: Int): Column =
    slice(array_sort(array_distinct(concat(a, b))), 1, k)

  /** Distinct-count estimate of the UNION of two sketched sets — the
    * building block of sketch-based corpus-overlap reports:
    * |A∩B| ≈ est(A) + est(B) − est(A∪B) by inclusion–exclusion, and
    * Jaccard from there, all in O(k) per pair without ever joining the
    * underlying corpora. */
  def kmvUnionEstimate(a: Column, b: Column, k: Int, m: Long): Column =
    kmvEstimate(kmvMerge(a, b, k), k, m)

  /** Incrementally maintained sketch store: merge a batch's per-group
    * sketches into a [[MergeUpsert]]-versioned table. The KMV union
    * property makes this EXACT, not approximate-on-approximate: the k
    * smallest of (k smallest of A) ∪ (k smallest of B) ARE the k
    * smallest of A∪B, so any append order converges to the from-scratch
    * sketch — the never-rescan shape for corpus cardinality dashboards
    * (per-batch text work is O(batch); the store is O(groups·k)). */
  def appendSketch(spark: org.apache.spark.sql.SparkSession, storePath: String,
                   batch: DataFrame, groupCol: String, value: Column,
                   k: Int, m: Long, retainVersions: Int = 2): Unit = {
    val batchSk = kmvSketch(batch, groupCol, value, k, m)
      .select(col(groupCol), col("sketch"))
    // the live version is the merge base (the publish is pinned to
    // it); the first batch publishes alone
    val live = MergeUpsert.livePlain(spark, storePath)
    val merged = live match {
      case None => batchSk
      case Some((_, existing)) => existing.as("o")
        .join(batchSk.as("b"), Seq(groupCol), "full_outer")
        .select(col(groupCol),
          when(col("o.sketch").isNull, col("b.sketch"))
            .when(col("b.sketch").isNull, col("o.sketch"))
            .otherwise(kmvMerge(col("o.sketch"), col("b.sketch"), k))
            .as("sketch"))
    }
    // one file per version: the store is O(groups·k) by construction,
    // and the full-outer join above would otherwise publish its 32
    // near-empty shuffle partitions as 32 files — pure listing/launch
    // churn for every subsequent read of a 5-row table (part of the
    // x59 run-to-run cost spread)
    MergeUpsert.publishPlainFrom(spark, storePath, merged.coalesce(1),
      retainVersions, live.map(_._1))
  }

  /** Count–min sketch of token frequencies: `depth` rows × `width`
    * buckets of summed counts, each row keyed by an independent
    * md5-derived hash. The sketch is `depth·width` longs REGARDLESS of
    * vocabulary size — the mergeable, broadcast-able frequency state a
    * 100 TB corpus keeps when the exact token→count table (billions of
    * distinct tokens) cannot be held or shipped. Point estimate for a
    * token = min over rows of its bucket sum; always ≥ the true count
    * (collisions only ADD), with the classic (ε, δ) bound
    * ε = e/width, δ = e^−depth.
    *
    * Output: (d, bkt, s) — the sketch table itself, one shuffle of
    * depth × (distinct tokens per partition) combiner rows. Determinism
    * is exact-integer: counts are longs, hashes are md5-derived. */
  def cmsSketch(df: DataFrame, textCol: String,
                depth: Int = 4, width: Int = 1024): DataFrame =
    sketchOf(termCounts(df, textCol), depth, width)

  private def termCounts(df: DataFrame, textCol: String): DataFrame =
    df.select(
        explode(TextFunctions.tokens(lower(col(textCol)))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("cnt"))

  private def rowBucket(depth: Int, width: Int): DataFrame => DataFrame =
    tc => tc.select(col("term"), col("cnt"),
        explode(sequence(lit(0), lit(depth - 1))).as("d"))
      .withColumn("bkt",
        TextFunctions.md5Hash60(
          concat(col("d").cast("string"), lit(":"), col("term")))
          % lit(width.toLong))

  private def sketchOf(tc: DataFrame, depth: Int, width: Int): DataFrame =
    rowBucket(depth, width)(tc)
      .groupBy("d", "bkt").agg(sum(col("cnt")).as("s"))

  /** Append a batch's count–min grid to a versioned sketch store:
    * CMS cells are ADDITIVE (each cell is a sum of counts), so
    * element-wise addition of per-batch grids equals the from-scratch
    * sketch of the union — exactly, not approximately — and any
    * append order converges. Fixed depth·width state per store at any
    * corpus size; rides [[MergeUpsert.mergeAdditiveWritePlain]]'s
    * atomic publish (the x54/x131 protocol; idempotence is the
    * CALLER's file-level exactly-once, as with every additive sink). */
  def appendCms(spark: org.apache.spark.sql.SparkSession,
                storePath: String, batch: DataFrame, textCol: String,
                depth: Int = 4, width: Int = 1024,
                retainVersions: Int = 2): Unit =
    MergeUpsert.mergeAdditiveWritePlain(spark, storePath,
      cmsSketch(batch, textCol, depth, width).coalesce(1),
      keys = Seq("d", "bkt"), sumCols = Seq("s"), retainVersions)

  /** [[cmsTopK]]'s probe half against a PRE-BUILT sketch table
    * ((d, bkt, s) — e.g. [[appendCms]]'s store): the read path once
    * sketch maintenance has moved to write time. Same estimates,
    * rounding and tiebreaks as the build-in-query form — x210
    * oracle-proves probe-from-store ≡ build-in-query under x85's
    * exact SQL (the x115/x134 precedent for sketch state). */
  def cmsTopKWith(df: DataFrame, textCol: String, sketch: DataFrame,
                  depth: Int = 4, width: Int = 1024, k: Int = 50)
      : DataFrame = {
    val tc = termCounts(df, textCol)
    // LEFT join + coalesce-to-0: a probed term whose (d, bkt) cell is
    // absent from the store has a true cell count of 0 — an inner join
    // would drop the lane (min over fewer lanes overestimates) or drop
    // the term entirely, diverging from cmsTopK whenever the probe
    // corpus isn't fully covered by the sketched batches
    rowBucket(depth, width)(tc)
      .join(sketch, Seq("d", "bkt"), "left")
      .withColumn("s", coalesce(col("s"), lit(0L)))
      .groupBy("term", "cnt").agg(min(col("s")).as("est"))
      .select(col("term"), col("cnt").cast("long").as("true_cnt"),
        col("est").cast("long").as("est_cnt"),
        (col("est") - col("cnt")).cast("long").as("overcount"))
      .orderBy(desc("est_cnt"), col("term")).limit(k)
  }

  /** Heavy hitters via the count–min sketch: every distinct token is
    * probed against the sketch and the top `k` by ESTIMATED count are
    * returned alongside the true count, exhibiting the one-sided error
    * (overcount ≥ 0 always). At scale the probe set is not "all
    * tokens" — it is the per-partition local top-k union (a candidate
    * superset of the global top-k), so the expensive global exact
    * count exists only for audit here; the sketch itself is the
    * maintained state. Ties break on the token string — deterministic
    * on any engine. */
  def cmsTopK(df: DataFrame, textCol: String, depth: Int = 4,
              width: Int = 1024, k: Int = 50): DataFrame = {
    // one token scan feeds both the sketch build and the probe side
    val tc = termCounts(df, textCol).localCheckpoint()
    rowBucket(depth, width)(tc)
      .join(sketchOf(tc, depth, width), Seq("d", "bkt"))
      .groupBy("term", "cnt").agg(min(col("s")).as("est"))
      .select(col("term"), col("cnt").cast("long").as("true_cnt"),
        col("est").cast("long").as("est_cnt"),
        (col("est") - col("cnt")).cast("long").as("overcount"))
      .orderBy(desc("est_cnt"), col("term")).limit(k)
  }

  // ---------------- portable HyperLogLog ----------------
  //
  // The scaladoc at the top of this object explains why the ENGINES'
  // built-in HLLs (approx_count_distinct) can never oracle-match:
  // engine-private register layouts. This section is the fix for teams
  // that want HLL's fixed-size register state anyway (m longs per
  // group, vs KMV's k hash values): an HLL built entirely from the
  // shared md5 hash, so any engine replays the registers bit-for-bit.
  // Register semantics follow Flajolet et al. 2007: p low hash bits
  // pick one of m = 2^p buckets; the register keeps the max over
  // values of rho(w) = leading-zero count of the remaining W = 60−p
  // bits plus one. Merge = element-wise max (associative, idempotent,
  // commutative — any batch/shard order converges), which is what
  // makes per-shard sketches combinable without re-scanning: the
  // 100 TB cardinality dashboard keeps m longs per (source, day) and
  // unions them at read time.

  /** Sparse HLL registers: one row per OCCUPIED bucket.
    * Output: (groupCol, bucket, reg) with reg ≥ 1; absent bucket = 0.
    * One shuffle on (group, bucket) — map-side combined max. */
  def hllRegisters(df: DataFrame, groupCol: String, value: Column,
                   p: Int = 8): DataFrame = {
    require(p >= 4 && p <= 16, "HLL precision p in [4,16]")
    val maxRho = 60 - p + 1
    // bit-length via bin(): rho = (W+1) − len(bin(w)); w = 0 → W+1.
    // Exact integer/string ops only — no log2 ulp hazards at powers
    // of two (the one place floor(log2) could disagree across libms).
    val w = shiftright(col("h"), p)
    val rho = when(w === 0, lit(maxRho))
      .otherwise(lit(maxRho) - length(bin(w)))
    df.select(col(groupCol), TextFunctions.md5Hash60(value).as("h"))
      .filter(col("h").isNotNull)
      .select(col(groupCol),
        pmod(col("h"), lit((1 << p).toLong)).as("bucket"),
        rho.cast("long").as("rho"))
      .groupBy(col(groupCol), col("bucket"))
      .agg(max(col("rho")).as("reg"))
  }

  /** Dense HLL sketch: (groupCol, registers array<long> of length m,
    * bucket order) — the fixed-size mergeable state to store/ship. */
  def hllSketch(df: DataFrame, groupCol: String, value: Column,
                p: Int = 8): DataFrame = {
    val m = 1 << p
    hllRegisters(df, groupCol, value, p)
      .groupBy(groupCol)
      .agg(map_from_entries(collect_list(struct(col("bucket"), col("reg"))))
        .as("mp"))
      .select(col(groupCol),
        transform(sequence(lit(0L), lit((m - 1).toLong)),
          b => coalesce(element_at(col("mp"), b), lit(0L))).as("registers"))
  }

  /** Merge two dense sketches: element-wise max. */
  def hllMerge(a: Column, b: Column): Column =
    zip_with(a, b, (x, y) => greatest(x, y))

  /** Cardinality estimate from SPARSE registers (as produced by
    * [[hllRegisters]], or any per-bucket max of them — merging happens
    * upstream for free because max is associative).
    * Output: (groupCol, zeros, est).
    *
    * Estimator: raw = α_m·m²/Σ 2^(−reg), with linear counting
    * m·ln(m/zeros) when raw ≤ 2.5m and zeros > 0 (the small-range
    * correction of Flajolet et al.). The harmonic sum is EXACT: each
    * 2^(−reg) is accumulated as the integer 2^(maxRho−reg) (≤ 2^53 at
    * p = 8; m·2^53 < 2^63), with ONE float division at the end — so
    * the only cross-engine float ops are that division, the α
    * formula, and ln, all computed from identical IEEE inputs. */
  def hllEstimate(regs: DataFrame, groupCol: String, p: Int = 8,
                  roundTo: Int = 4): DataFrame = {
    val m = 1 << p
    val maxRho = 60 - p + 1
    val e = regs.groupBy(groupCol).agg(
      (sum(expr(s"shiftleft(CAST(1 AS BIGINT), $maxRho - reg)")).cast("long") +
        (lit(m.toLong) - count(lit(1))) * lit(1L << maxRho)).as("s"),
      (lit(m.toLong) - count(lit(1))).as("zeros"))
    val alpha = lit(0.7213) / (lit(1.0) + lit(1.079) / lit(m.toDouble))
    val raw = alpha * lit(m.toDouble) * lit(m.toDouble) /
      (col("s").cast("double") / lit((1L << maxRho).toDouble))
    val est = when(raw <= lit(2.5) * lit(m.toDouble) && col("zeros") > 0,
        lit(m.toDouble) * log(lit(m.toDouble) / col("zeros").cast("double")))
      .otherwise(raw)
    e.select(col(groupCol), col("zeros"),
      TextFunctions.portableRound(est, roundTo).as("est"))
  }

  /** Estimate from a DENSE sketch column: re-sparsify and reuse
    * [[hllEstimate]] — merged sketches land here. */
  def hllSketchEstimate(sk: DataFrame, groupCol: String,
                        registersCol: String, p: Int = 8): DataFrame =
    hllEstimate(
      sk.select(col(groupCol),
          posexplode(col(registersCol)).as(Seq("bucket", "reg")))
        .filter(col("reg") > 0),
      groupCol, p)

  /** Incrementally maintained HLL store — [[appendSketch]]'s shape for
    * the register sketch. Element-wise max is exact on registers (not
    * approximate-on-approximate): any append order converges to the
    * from-scratch sketch, so per-batch text work is O(batch) and the
    * store is O(groups·m) forever. */
  def appendHll(spark: org.apache.spark.sql.SparkSession, storePath: String,
                batch: DataFrame, groupCol: String, value: Column,
                p: Int = 8, retainVersions: Int = 2): Unit = {
    val batchSk = hllSketch(batch, groupCol, value, p)
    val live = MergeUpsert.livePlain(spark, storePath)
    val merged = live match {
      case None => batchSk
      case Some((_, existing)) => existing.as("o")
        .join(batchSk.as("b"), Seq(groupCol), "full_outer")
        .select(col(groupCol),
          when(col("o.registers").isNull, col("b.registers"))
            .when(col("b.registers").isNull, col("o.registers"))
            .otherwise(hllMerge(col("o.registers"), col("b.registers")))
            .as("registers"))
    }
    // one file per version, as appendSketch: the store is O(groups·m)
    MergeUpsert.publishPlainFrom(spark, storePath, merged.coalesce(1),
      retainVersions, live.map(_._1))
  }
}
