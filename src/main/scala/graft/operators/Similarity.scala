package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.graft.{bridge => ExpressionUtils}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.plans.DotProduct

/** Approximate-nearest-neighbor search over an `array<float>` embedding
  * column.
  *
  * Two tiers, as a 100 TB design demands:
  *   - `bruteForceTopK`: broadcast the (small) query set against the
  *     corpus — one corpus scan, no shuffle, embarrassingly parallel.
  *     Exact; the baseline and the verifier for the ANN path.
  *   - `lshTopK`: random-hyperplane (sign) LSH — corpus is bucketed by a
  *     `planes`-bit signature ONCE (write-time at scale), queries probe
  *     their own bucket plus all hamming-1 neighbors. Candidate set per
  *     query is |corpus| / 2^planes · (planes+1) in expectation, so the
  *     cross product never materializes. Hyperplanes are deterministic
  *     pseudo-random (md5-seeded), so results are replayable and
  *     oracle-checkable.
  *
  * Dot products go through the codegen'd [[graft.plans.DotProduct]]
  * expression (a tight primitive loop inside whole-stage codegen) —
  * the interpreted `aggregate(zip_with(...))` route is ~50× slower on
  * ANN-scale candidate sets. Norms are computed once per row, never per
  * pair.
  */
object Similarity {

  /** Codegen'd dot product of two array<float/double> columns. */
  def dot(a: Column, b: Column): Column =
    ExpressionUtils.column(DotProduct(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** Cosine similarity (pairwise; prefer pre-normalized norms in bulk). */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** Exact top-k by cosine: queries × corpus via broadcast nested loop
    * (no shuffle of the corpus), ranked per query on the ROUNDED
    * similarity with id tiebreak — deterministic across engines.
    * Output: (qid, eid, sim, rn). */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame,
                     idCol: String, vecCol: String, k: Int,
                     roundTo: Int = 4): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("qid"), col(vecCol).as("qv"),
      sqrt(dot(col(vecCol), col(vecCol))).as("qnorm")))
    val c = corpus.select(col(idCol).as("eid"), col(vecCol).as("ev"),
      sqrt(dot(col(vecCol), col(vecCol))).as("enorm"))
    val sims = c.join(q) // broadcast nested-loop cross join
      .select(col("qid"), col("eid"),
        round(dot(col("qv"), col("ev")) / (col("qnorm") * col("enorm")), roundTo)
          .as("sim"))
    val w = Window.partitionBy("qid").orderBy(desc("sim"), col("eid"))
    sims.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .orderBy("qid", "rn")
  }

  /** Deterministic pseudo-random hyperplane component for (plane, dim):
    * md5-derived value mapped to [-1, 1). Reproducible in any engine. */
  def planeComponent(plane: Int, dim: Column): Column =
    (TextFunctions.md5Hash60(concat_ws(":", lit("plane"), lit(plane), dim))
      % lit(2000001L)).cast("double") / lit(1000000.0) - lit(1.0)

  /** The `planes` hyperplanes as a literal array<array<double>> column
    * for a given dimensionality — evaluated ONCE at plan build, so the
    * per-row bucket computation is `planes` codegen'd dot products. */
  private def planeVector(plane: Int, dims: Int): Column = {
    // materialize the deterministic plane as literals via the same
    // md5-derived formula (computed here in Scala, identically)
    val comps = (0 until dims).map { d =>
      val md5hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"plane:$plane:$d".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      val h = java.lang.Long.parseLong(md5hex.substring(0, 15), 16)
      (h % 2000001L).toDouble / 1000000.0 - 1.0
    }
    array(comps.map(lit): _*)
  }

  /** Sign-LSH bucket id from `planes` hyperplanes (bit p set iff
    * vec · plane_p ≥ 0). `dims` lets the planes be plan-time literals
    * (codegen'd dots); pass dims=0 to derive per-row (slower, any dim). */
  def lshBucket(vec: Column, planes: Int, dims: Int = 0): Column =
    (0 until planes).map { p =>
      val dotP =
        if (dims > 0) dot(vec, planeVector(p, dims))
        else aggregate(
          zip_with(vec, sequence(lit(0), size(vec) - 1),
            (v, i) => v.cast("double") * planeComponent(p, i)),
          lit(0.0), (acc, x) => acc + x)
      when(dotP >= 0, shiftleft(lit(1L), p)).otherwise(0L)
    }.reduce(_ + _)

  /** ANN top-k: corpus bucketed by sign-LSH; each query probes its own
    * bucket and all hamming-1 buckets (multi-probe), then exact cosine +
    * rank within candidates. Recall < 1 by construction; pair with
    * `bruteForceTopK` to measure. Output: (qid, eid, sim, rn). */
  def lshTopK(queries: DataFrame, corpus: DataFrame,
              idCol: String, vecCol: String, k: Int,
              planes: Int = 8, dims: Int = 64, roundTo: Int = 4): DataFrame = {
    val c = corpus.select(col(idCol).as("eid"), col(vecCol).as("ev"),
      sqrt(dot(col(vecCol), col(vecCol))).as("enorm"),
      lshBucket(col(vecCol), planes, dims).as("bucket"))
    val bucketCol = lshBucket(col(vecCol), planes, dims)
    val probes = (0 until planes).map(p =>
      bucketCol.bitwiseXOR(shiftleft(lit(1L), p)))
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qv"),
      sqrt(dot(col(vecCol), col(vecCol))).as("qnorm"),
      explode(array((bucketCol +: probes).map(_.as("b")): _*)).as("bucket"))
    val cands = broadcast(q).join(c, "bucket")
      .select(col("qid"), col("eid"),
        round(dot(col("qv"), col("ev")) / (col("qnorm") * col("enorm")), roundTo)
          .as("sim"))
      .dropDuplicates("qid", "eid")
    val w = Window.partitionBy("qid").orderBy(desc("sim"), col("eid"))
    cands.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .orderBy("qid", "rn")
  }

  /** Deterministic Lloyd k-means for the IVF coarse quantizer.
    *
    * Seeds are the `k` corpus vectors first in md5(id) order — a
    * reproducible pseudo-random draw any engine can replay. Each
    * iteration assigns vectors to their nearest centroid by ROUNDED
    * cosine (6 dp, cid tiebreak — unrounded FP ordering could disagree
    * across engines at ~1e-15) and recomputes centroids as the
    * element-wise mean, portable-rounded to 1e-6 so independent engines
    * converge to bit-identical centroids (an ulp-level disagreement in
    * the mean cannot survive the rounding outside a ~1e-10 boundary
    * band). Empty clusters keep their previous centroid.
    *
    * Centroids are collected to the driver each iteration — O(k·dims)
    * doubles, the standard model-fitting pattern: the next assignment
    * then joins a broadcast literal table, so the corpus itself never
    * shuffles (cache the projected corpus upstream when iterating over
    * a parquet scan at real scale). */
  def kmeansCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                      k: Int, iters: Int = 2): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // the training loop is eager (collect per iteration), so the
    // projected corpus caches for exactly the training scans and is
    // freed before return — without this, every Lloyd iteration
    // re-executes the corpus lineage (a full parquet scan at scale)
    val proj = corpus.select(col(idCol).cast("long").as("eid"),
      col(vecCol).as("ev")).cache()
    try {
    var cents: Seq[(Long, Seq[Double])] = proj
      .select(col("eid").as("cid"),
        col("ev").cast("array<double>").as("cvec"),
        md5(col("eid").cast("string").cast("binary")).as("h"))
      .orderBy("h").limit(k).drop("h")
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toSeq
    for (_ <- 1 to iters) {
      val centDf = broadcast(cents.toDF("cid", "cvec"))
      val w = Window.partitionBy("eid").orderBy(desc("csim"), col("cid"))
      val assigned = proj.join(centDf)
        .select(col("eid"), col("ev"), col("cid"),
          round(cosine(col("ev"), col("cvec")), 6).as("csim"))
        .withColumn("crn", row_number().over(w))
        .filter(col("crn") === 1)
      val updated = assigned
        .select(col("cid"), posexplode(col("ev")).as(Seq("d", "x")))
        .groupBy("cid", "d")
        .agg(TextFunctions.portableRound(avg(col("x").cast("double")), 6).as("m"))
        .groupBy("cid")
        .agg(array_sort(collect_list(struct(col("d"), col("m")))).as("dm"))
        .select(col("cid"), transform(col("dm"), s => s.getField("m")).as("cvec"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
      cents = cents.map { case (cid, old) => cid -> updated.getOrElse(cid, old) }
    }
    cents.toDF("cid", "cvec")
    // unpersist on every exit — a mid-training failure (executor loss,
    // OOM) must not leave the cached corpus pinned in a session that
    // catches and retries
    } finally proj.unpersist()
  }

  /** IVF (inverted-file) ANN: corpus vectors are assigned to their
    * nearest of `nCentroids` coarse centroids (write-time step at
    * scale); queries probe the `nProbe` nearest centroid lists and rank
    * exact cosine within them. Centroids come from the deterministic
    * [[kmeansCentroids]] (set `kmeansIters = 0` for the untrained
    * md5-seed quantizer — useful as the recall baseline). Complements
    * sign-LSH: IVF adapts to the data distribution, LSH needs no model
    * at all. */
  def ivfTopK(queries: DataFrame, corpus: DataFrame,
              idCol: String, vecCol: String, k: Int,
              nCentroids: Int = 16, nProbe: Int = 2,
              roundTo: Int = 4, kmeansIters: Int = 2): DataFrame =
    ivfTopKWith(queries, corpus, idCol, vecCol, k,
      kmeansCentroids(corpus, idCol, vecCol, nCentroids, kmeansIters),
      nProbe, roundTo)

  /** [[ivfTopK]]'s probe half against PRE-TRAINED centroids
    * ((cid, cvec), e.g. [[ArtifactStore.load]]) — the read path once
    * training has moved to write time. Same rounding and tiebreaks as
    * the train-in-query form; x115 oracle-proves the equivalence. */
  def ivfTopKWith(queries: DataFrame, corpus: DataFrame,
                  idCol: String, vecCol: String, k: Int,
                  centroidTable: DataFrame, nProbe: Int = 2,
                  roundTo: Int = 4): DataFrame =
    ivfProbePostings(queries, idCol, vecCol,
      ivfAssign(corpus, idCol, vecCol, centroidTable), k,
      centroidTable, nProbe, roundTo)

  /** Nearest-centroid rank against a broadcast centroid table — rank on
    * ROUNDED sim with cid tiebreak, deterministic across engines
    * (unrounded FP ordering could disagree at ~1e-15). */
  private def nearestCentroids(side: DataFrame, id: String, vec: String,
                               n: Int, centroidTable: DataFrame): DataFrame = {
    val centroids = broadcast(centroidTable.select(col("cid"), col("cvec")))
    val w = Window.partitionBy(id).orderBy(desc("csim"), col("cid"))
    side.join(centroids)
      .select(col(id), col(vec),
        col("cid"), round(cosine(col(vec), col("cvec")), 6).as("csim"))
      .withColumn("crn", row_number().over(w))
      .filter(col("crn") <= n)
      .drop("csim", "crn")
  }

  /** IVF postings of a batch: each vector assigned to its nearest
    * centroid, with its norm precomputed — the rows an incrementally
    * maintained IVF index stores. Assignment is a pure function of
    * (vector, centroids), so postings built batch-by-batch against the
    * SAME stored centroids equal the from-scratch assignment (x134
    * oracle-proves this against x17's exact SQL).
    * Output: (eid, ev, cid, enorm). */
  def ivfAssign(batch: DataFrame, idCol: String, vecCol: String,
                centroidTable: DataFrame): DataFrame =
    nearestCentroids(
      batch.select(col(idCol).as("eid"), col(vecCol).as("ev")),
      "eid", "ev", 1, centroidTable)
      .withColumn("enorm", sqrt(dot(col("ev"), col("ev"))))

  /** Append a batch's postings to a versioned postings store.
    * Redelivered ids are dropped (their rows are identical by
    * assignment determinism, so any-survivor dedup is safe). The store
    * keeps the batch's partition layout — postings are corpus-sized,
    * never a single-file table. */
  def appendIvfPostings(spark: org.apache.spark.sql.SparkSession,
                        storePath: String, batch: DataFrame,
                        idCol: String, vecCol: String,
                        centroidTable: DataFrame,
                        retainVersions: Int = 2): Unit = {
    val part = ivfAssign(batch, idCol, vecCol, centroidTable)
    val live = MergeUpsert.livePlain(spark, storePath)
    val merged = live match {
      case None => part
      case Some((_, existing)) => existing.unionByName(part)
        .dropDuplicates("eid")
    }
    MergeUpsert.publishPlainFrom(spark, storePath, merged, retainVersions,
      live.map(_._1))
  }

  /** [[ivfTopKWith]]'s probe half against a PRE-BUILT postings table
    * ((eid, ev, cid, enorm) — e.g. [[appendIvfPostings]]'s store): the
    * read path once BOTH training and assignment have moved to write
    * time. The query-side centroid probe is the only per-query work
    * beyond the candidate scan.
    *
    * CONTRACT: `postings` must carry exactly ONE row per `eid`, as
    * [[appendIvfPostings]] guarantees (it dedups on eid at append
    * time) and [[ivfAssign]] produces (rank rn=1 per eid). The probe
    * performs NO (qid, eid) dedup — a postings frame violating this
    * (e.g. a unionByName of two stores, or ivfAssign over overlapping
    * batches without the store dedup) emits duplicate candidates that
    * crowd distinct neighbors out of the top-k. */
  def ivfProbePostings(queries: DataFrame, idCol: String, vecCol: String,
                       postings: DataFrame, k: Int,
                       centroidTable: DataFrame, nProbe: Int = 2,
                       roundTo: Int = 4): DataFrame = {
    val probes = spreadByQid(nearestCentroids(
      queries.select(col(idCol).as("qid"), col(vecCol).as("qv")),
      "qid", "qv", nProbe, centroidTable)
      .withColumn("qnorm", sqrt(dot(col("qv"), col("qv")))))
    // NO (qid, eid) distinct: every caller's postings table carries
    // exactly ONE row per eid — ivfAssign ranks rn=1 per eid and
    // appendIvfPostings dedups on eid at append time — and a query's
    // nProbe lists are DISTINCT cids (nearestCentroids rank), so the
    // join cannot emit a (qid, eid) pair twice. The distinct this
    // replaced was a no-op the optimizer couldn't see, and it forced
    // the FULL candidate set (O(|Q|·nProbe·n/k) rows — 45M at sf1)
    // through two shuffles; without it the per-candidate scoring stays
    // pipelined into WindowGroupLimit's partial top-k, and only
    // per-partition winners shuffle. Measured sf1: 16.4 → ~5 s.
    val cands = probes.join(postings, "cid")
      .select(col("qid"), col("eid"),
        round(dot(col("qv"), col("ev")) / (col("qnorm") * col("enorm")), roundTo)
          .as("sim"))
    topKByQid(cands, k)
  }

  /** Per-query top-k of a (qid, eid, sim) candidate frame via the
    * [[graft.plans.TopKSimEid]] bounded aggregate — identical rows and
    * (sim desc, eid asc) tiebreak as the row_number window form it
    * replaces, but with MAP-SIDE COMBINE: each partition reduces its
    * candidates to k per query before any exchange, so the candidate
    * volume is never sorted or shuffled (measured sf1, 10k queries ×
    * ~400 candidates: probe 8.7 → 2.9 s; the window form's
    * per-partition sort was ~4 s alone). */
  private def topKByQid(cands: DataFrame, k: Int): DataFrame =
    cands.groupBy("qid")
      .agg(graft.plans.TopKSimEid(col("sim"), col("eid"), k).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("qid"), col("t.eid").as("eid"), col("t.sim").as("sim"),
        (col("pos") + 1).cast("int").as("rn"))
      .orderBy("qid", "rn")

  /** Hash-partition the PROBE side by qid at the session's full
    * shuffle width before the candidate fan-out. The probe frame is
    * tiny (|Q|·nProbe rows) so its input granularity is wrong by the
    * fan-out factor (~n/k× rows appear AFTER the postings join): a
    * one-file query scan would run the whole candidate scoring on one
    * task. The explicit partition count keeps AQE from coalescing the
    * small exchange back to one partition, and hashing on qid (not
    * round-robin) means a broadcast candidate join PRESERVES the
    * distribution the per-query top-k window needs — the 4M-row
    * candidate set is scored in parallel and never exchanged.
    * Measured sf1 (10k queries × ~400 candidates): probe 8.8 → 1.3 s. */
  private def spreadByQid(probes: DataFrame): DataFrame =
    probes.repartition(
      probes.sparkSession.sessionState.conf.numShufflePartitions,
      col("qid"))

  /** PQ code assignment against a FIXED [[pqCodebooks]] artifact — the
    * incremental-encode path (new corpus batches coded with the stored
    * book, so codes can never drift from the LUT side). Output
    * (vec_id, k0..k{m−1}), one row per input vector; assignment uses
    * the same round-6 cosine + cid tiebreak as every PQ path here. */
  def pqCodesWith(corpus: DataFrame, idCol: String, vecCol: String,
                  codebooks: DataFrame, m: Int = 4): DataFrame = {
    val dims = vecDims(corpus, vecCol, "corpus")
    require(dims % m == 0, s"$dims dims not divisible into $m subspaces")
    val sub = dims / m
    (0 until m).map { s =>
      val sv = corpus.select(col(idCol).cast("long").as("eid"),
        slice(col(vecCol), s * sub + 1, sub).as("sv"))
      val cents = broadcast(codebooks.filter(col("subspace") === s)
        .select(col("cid"), col("cvec")))
      subspaceCodes(sv, cents, s"k$s")
    }.reduce((a, b) => a.join(b, "eid"))
      .withColumnRenamed("eid", "vec_id")
  }

  /** Two-stage ANN read over a CODED postings store — the standard
    * IVFADC layout (Jégou et al., "Product Quantization for Nearest
    * Neighbor Search", TPAMI 2011): stage 1 ranks every IVF candidate
    * by an asymmetric-distance LUT score that reads m small code ints
    * per row and NEVER touches the stored vectors (column pruning
    * keeps `ev` out of the candidate scan entirely — at 64 float
    * dims that is ~30× less data through the candidate join, the
    * memory-bandwidth win that makes ADC an index); stage 2 re-reads
    * full vectors for only the top-`rescoreK` shortlist per query and
    * scores them with the EXACT [[ivfProbePostings]] expression
    * (identical rounding and tiebreaks), so the returned top-k equals
    * the single-stage probe whenever each query's true exact top-k
    * survives the ADC shortlist.
    *
    * `rescoreK` is the recall knob: exactness holds iff ADC's top-
    * `rescoreK` contains the exact top-`k` — size it by measured
    * agreement (the x242 path holds hash-equality at 4·k across both
    * test corpora and sf1). `postings` must carry the [[pqCodesWith]]
    * columns k0..k{m−1} alongside (eid, ev, cid, enorm), and the same
    * one-row-per-eid contract as [[ivfProbePostings]]. */
  def ivfProbePostingsAdc(queries: DataFrame, idCol: String,
                          vecCol: String, postings: DataFrame, k: Int,
                          centroidTable: DataFrame, codebooks: DataFrame,
                          m: Int = 4, nProbe: Int = 2,
                          rescoreK: Int = 32,
                          roundTo: Int = 4): DataFrame = {
    require(rescoreK >= k,
      s"rescoreK ($rescoreK) must cover the requested top-k ($k)")
    val dims = vecDims(queries, vecCol, "queries")
    require(dims % m == 0, s"$dims dims not divisible into $m subspaces")
    val sub = dims / m
    val probes = spreadByQid(nearestCentroids(
      queries.select(col(idCol).as("qid"), col(vecCol).as("qv")),
      "qid", "qv", nProbe, centroidTable)
      .withColumn("qnorm", sqrt(dot(col("qv"), col("qv")))))
    // per-subspace query LUT against the stored codebooks: O(|Q|·kCent)
    // rows, broadcast — the whole query-side ADC state
    val luts = (0 until m).map { s =>
      val cents = broadcast(codebooks.filter(col("subspace") === s)
        .select(col("cid"), col("cvec")))
      broadcast(queries
        .select(col(idCol).as("qid"),
          slice(col(vecCol), s * sub + 1, sub).as("qsv"))
        .join(cents)
        .select(col("qid"), col("cid").as(s"k$s"),
          dot(col("qsv"), col("cvec")).as(s"part$s")))
    }
    // stage 1: candidates WITHOUT vectors. Only (eid, cid, enorm,
    // codes) flow through the IVF join — `ev` is pruned at the scan.
    val lite = probes.select(col("qid"), col("cid"), col("qnorm"))
      .join(postings.select(Seq(col("eid"), col("cid"), col("enorm")) ++
        (0 until m).map(s => col(s"k$s")): _*), "cid")
    val adcScored = luts.zipWithIndex.foldLeft(lite) {
      case (acc, (lut, s)) => acc.join(lut, Seq(s"k$s", "qid"))
    }.select(col("qid"), col("eid"),
      ((0 until m).map(s => col(s"part$s")).reduce(_ + _)
        / (col("qnorm") * col("enorm"))).as("sim"))
    val shortlist = topKByQid(adcScored, rescoreK)
      .select(col("qid"), col("eid"))
    // stage 2: exact rescore of the shortlist alone — the ONLY reads
    // of full vectors, O(|Q|·rescoreK) rows on each side
    val qv = queries.select(col(idCol).as("qid"), col(vecCol).as("qv2"))
    val ev = postings.select(col("eid"), col("ev").as("ev2"),
      col("enorm"))
    val exact = shortlist.join(qv, "qid").join(ev, "eid")
      .select(col("qid"), col("eid"),
        round(dot(col("qv2"), col("ev2"))
          / (sqrt(dot(col("qv2"), col("qv2"))) * col("enorm")), roundTo)
          .as("sim"))
    topKByQid(exact, k)
  }

  /** Scalar int8 quantization for embedding storage at scale: 4× (fp32)
    * to 8× (fp64) smaller vectors — the standard first compression tier
    * before product quantization, and the difference between shipping
    * 100 TB or 25 TB of embeddings through every ANN scan. Per-vector
    * symmetric scale = max|v| / 127; code_i = floor(v_i/scale + 0.5),
    * which lands in [−127, 127] without clamping because |v_i| ≤ max|v|.
    * All-zero vectors get scale 0 and all-zero codes. Write-time op:
    * the interpreted array lambdas run once per vector at ingest, never
    * per candidate pair, so codegen is not worth the surface here.
    * Output: (idCol, v array<original>, scale double, codes array<int>). */
  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val maxabs = aggregate(col(vecCol), lit(0.0),
      (acc, x) => greatest(acc, abs(x.cast("double"))))
    df.select(col(idCol), col(vecCol).as("v"),
        (maxabs / lit(127.0)).as("scale"))
      .select(col(idCol), col("v"), col("scale"),
        transform(col("v"), x =>
          when(col("scale") === 0.0, lit(0))
            .otherwise(floor(x.cast("double") / col("scale") + lit(0.5))
              .cast("int")))
          .as("codes"))
  }

  /** Reconstruct a quantized vector: code · scale, per element. */
  def dequantizeInt8(codes: Column, scale: Column): Column =
    transform(codes, c => c.cast("double") * scale)

  /** Product-quantization codes — the compression tier after
    * [[quantizeInt8]] and the index layout behind billion-vector ANN
    * (IVF+PQ): the vector splits into `m` contiguous subspaces, each
    * subspace trains its own deterministic k-means codebook
    * ([[kmeansCentroids]] — md5 seeds, rounded-cosine assignment), and
    * a vector's code is its nearest codebook entry per subspace. m
    * codes of log2(k) bits replace the full vector in the index: 64
    * float64 dims → 4 bytes at m=4/k=8-ish — the difference between an
    * index that fits executor memory and one that doesn't.
    *
    * Codes are labeled by the winning centroid's seed vec_id (stable,
    * engine-portable) rather than a 0..k−1 ordinal. At scale the
    * codebooks are a write-time artifact exactly like the IVF
    * centroids; assignment is a broadcast join + per-row rank. */
  /** First row's vector width, with a descriptive failure on an empty
    * frame (head() would throw a bare NoSuchElementException). Only the
    * first row is checked — ragged vector columns are the caller's
    * schema bug, surfaced downstream by slice(). */
  private def vecDims(df: DataFrame, vecCol: String, what: String): Int = {
    val row = df.select(size(col(vecCol))).limit(1).collect()
    require(row.nonEmpty, s"pq: $what has no rows — nothing to quantize")
    row(0).getInt(0)
  }

  /** Nearest-codebook-entry assignment for one subspace — shared by
    * [[pqCodes]] and [[pqTopK]] so the load-bearing rounding precision
    * and tiebreak (round-6 cosine, cid asc) can never diverge between
    * the code table and the search. */
  private def subspaceCodes(sv: DataFrame, cents: DataFrame,
                            outCol: String): DataFrame = {
    val w = Window.partitionBy("eid").orderBy(desc("csim"), col("cid"))
    sv.join(cents)
      .select(col("eid"), col("cid"),
        round(cosine(col("sv"), col("cvec")), 6).as("csim"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("eid"), col("cid").as(outCol))
  }

  def pqCodes(corpus: DataFrame, idCol: String, vecCol: String,
              m: Int = 4, k: Int = 8, iters: Int = 1): DataFrame = {
    val dims = vecDims(corpus, vecCol, "corpus")
    require(dims % m == 0, s"$dims dims not divisible into $m subspaces")
    val sub = dims / m
    val codes = (0 until m).map { s =>
      val sv = corpus.select(col(idCol).cast("long").as("eid"),
        slice(col(vecCol), s * sub + 1, sub).as("sv"))
      val cents = broadcast(kmeansCentroids(sv, "eid", "sv", k, iters))
      subspaceCodes(sv, cents, s"code$s")
    }
    codes.reduce((a, b) => a.join(b, "eid"))
      .withColumnRenamed("eid", "vec_id")
  }

  /** PQ asymmetric-distance top-k (ADC): queries stay full-precision,
    * the corpus is its PQ codes, and a query's score against an entry
    * is the sum of per-subspace dot products with the entry's CODEBOOK
    * CENTROIDS — looked up from an O(#queries · k) table instead of
    * touching corpus vectors. This is what makes PQ an INDEX: the scan
    * reads m small ints per corpus row plus a broadcast LUT, not the
    * 64-dim vector. Scores are rounded (parts to 6, sum to 4) with eid
    * tiebreak — deterministic across engines. Approximate by design;
    * recall vs exact is spec-asserted, exactness is the oracle's job. */
  /** Per-subspace (codes, broadcast LUT) pairs — shared by [[pqTopK]]
    * and [[ivfPqTopK]] so the codebook training, code assignment and
    * LUT rounding can never diverge between the flat and the
    * IVF-gated search. */
  private def pqParts(queries: DataFrame, corpus: DataFrame,
                      idCol: String, vecCol: String,
                      m: Int, kCent: Int, iters: Int)
      : Seq[(DataFrame, DataFrame)] =
    pqPartsWith(queries, corpus, idCol, vecCol, m,
      (_, sv) => kmeansCentroids(sv, "eid", "sv", kCent, iters))

  /** [[pqParts]] with the codebook SOURCE abstracted: `centsFor(s, sv)`
    * returns subspace `s`'s (cid, cvec) codebook given that subspace's
    * sliced corpus — trained in-query by [[pqParts]], looked up from a
    * stored [[pqCodebooks]] artifact by [[pqTopKWith]]. One body, so
    * the load-bearing rounding/tiebreaks can never diverge between the
    * train-time and probe-time paths. */
  private def pqPartsWith(queries: DataFrame, corpus: DataFrame,
                          idCol: String, vecCol: String, m: Int,
                          centsFor: (Int, DataFrame) => DataFrame)
      : Seq[(DataFrame, DataFrame)] = {
    val dims = vecDims(corpus, vecCol, "corpus")
    require(dims % m == 0, s"$dims dims not divisible into $m subspaces")
    val qDims = vecDims(queries, vecCol, "queries")
    require(qDims == dims,
      s"query vectors are $qDims-dim but the corpus is $dims-dim — " +
        "slice() would silently truncate the LUT scores")
    val sub = dims / m
    (0 until m).map { s =>
      val sv = corpus.select(col(idCol).cast("long").as("eid"),
        slice(col(vecCol), s * sub + 1, sub).as("sv"))
      val cents = broadcast(centsFor(s, sv).select(col("cid"), col("cvec")))
      val codes = subspaceCodes(sv, cents, s"k$s")
      val lut = queries
        .select(col(idCol).cast("long").as("qid"),
          slice(col(vecCol), s * sub + 1, sub).as("qv"))
        .join(cents)
        .select(col("qid"), col("cid").as(s"k$s"),
          round(dot(col("qv"), col("cvec")), 6).as(s"part$s"))
      (codes, broadcast(lut))
    }
  }

  /** ADC scoring + per-query top-k over a coded candidate frame (which
    * may already be query-gated, i.e. carry a qid column). */
  private def adcRank(coded: DataFrame, parts: Seq[(DataFrame, DataFrame)],
                      k: Int): DataFrame = {
    val m = parts.size
    val hasQid = coded.columns.contains("qid")
    val scored = parts.zipWithIndex
      .foldLeft(coded) { case (acc, ((_, lut), s)) =>
        if (s == 0 && !hasQid) acc.join(lut, Seq(s"k$s"))
        else acc.join(lut, Seq(s"k$s", "qid"))
      }
      .withColumn("adc", round(
        (0 until m).map(s => col(s"part$s")).reduce(_ + _), 4))
    val w = Window.partitionBy("qid").orderBy(desc("adc"), col("eid"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("qid"), col("eid"), col("adc"),
        col("rn").cast("int").as("rn"))
      .orderBy("qid", "rn")
  }

  def pqTopK(queries: DataFrame, corpus: DataFrame,
             idCol: String, vecCol: String, k: Int,
             m: Int = 4, kCent: Int = 8, iters: Int = 1): DataFrame = {
    val parts = pqParts(queries, corpus, idCol, vecCol, m, kCent, iters)
    val coded = parts.map(_._1).reduce((a, b) => a.join(b, "eid"))
    adcRank(coded, parts, k)
  }

  /** The PQ codebooks as a persistable artifact: (subspace, cid, cvec),
    * one [[kmeansCentroids]] codebook per contiguous subspace — what
    * [[ArtifactStore.publish]] stores at write time and [[pqTopKWith]]
    * probes at read time. Same training as [[pqTopK]]'s in-query path
    * (same seeds, rounding, tiebreaks). */
  def pqCodebooks(corpus: DataFrame, idCol: String, vecCol: String,
                  m: Int = 4, k: Int = 8, iters: Int = 1): DataFrame = {
    val dims = vecDims(corpus, vecCol, "corpus")
    require(dims % m == 0, s"$dims dims not divisible into $m subspaces")
    val sub = dims / m
    (0 until m).map { s =>
      kmeansCentroids(
        corpus.select(col(idCol).cast("long").as("eid"),
          slice(col(vecCol), s * sub + 1, sub).as("sv")),
        "eid", "sv", k, iters)
        .select(lit(s).as("subspace"), col("cid"), col("cvec"))
    }.reduce(_ unionByName _)
  }

  /** [[pqTopK]]'s probe half against a PRE-TRAINED [[pqCodebooks]]
    * artifact — code assignment and the per-query LUT still run (they
    * are per-row probe work), but the k-means training cost is gone.
    * `m` must match the artifact's subspace count; x116 oracle-proves
    * equivalence with the train-in-query form. */
  def pqTopKWith(queries: DataFrame, corpus: DataFrame,
                 idCol: String, vecCol: String, k: Int,
                 codebooks: DataFrame, m: Int = 4): DataFrame = {
    val parts = pqPartsWith(queries, corpus, idCol, vecCol, m,
      (s, _) => codebooks.filter(col("subspace") === s))
    val coded = parts.map(_._1).reduce((a, b) => a.join(b, "eid"))
    adcRank(coded, parts, k)
  }

  /** IVF+PQ — the composed index tier behind billion-vector ANN (the
    * FAISS IVFPQ layout): a coarse IVF quantizer gates WHICH corpus
    * rows are scored, and PQ codes + a per-query LUT decide HOW —
    * the scan touches m small ints for |corpus|·nProbe/nCentroids
    * rows instead of full vectors for everything. Both quantizers are
    * the deterministic [[kmeansCentroids]]; assignment/LUT pieces are
    * shared verbatim with [[ivfTopK]] / [[pqTopK]] (same rounding,
    * same tiebreaks), so the composition adds no new divergence
    * surface. Approximate by design — recall vs [[bruteForceTopK]] is
    * the spec's job, exactness of the replay is the oracle's. */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame,
                idCol: String, vecCol: String, k: Int,
                nCentroids: Int = 16, nProbe: Int = 2,
                m: Int = 4, kCent: Int = 8,
                coarseIters: Int = 2, pqIters: Int = 1): DataFrame = {
    val coarse = broadcast(
      kmeansCentroids(corpus, idCol, vecCol, nCentroids, coarseIters))
    def nearest(side: DataFrame, id: String, vec: String, n: Int) = {
      val w = Window.partitionBy(id).orderBy(desc("csim"), col("cid"))
      side.join(coarse)
        .select(col(id), col("cid"),
          round(cosine(col(vec), col("cvec")), 6).as("csim"))
        .withColumn("crn", row_number().over(w))
        .filter(col("crn") <= n)
        .select(col(id), col("cid"))
    }
    val index = nearest(corpus.select(col(idCol).cast("long").as("eid"),
      col(vecCol).as("ev")), "eid", "ev", 1)
    val probes = nearest(queries.select(col(idCol).cast("long").as("qid"),
      col(vecCol).as("qv")), "qid", "qv", nProbe)
    val parts = pqParts(queries, corpus, idCol, vecCol, m, kCent, pqIters)
    val coded = parts.map(_._1).reduce((a, b) => a.join(b, "eid"))
      .join(index, Seq("eid"))
      .join(probes, Seq("cid"))
    adcRank(coded.drop("cid"), parts, k)
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * deduplication by clustering embeddings and dropping near-identical
    * vectors WITHIN each cluster — the scale trick is that the k-means
    * partition bounds the pairwise comparison to cluster-sized blocks,
    * exactly like LSH buckets bound the minhash join, but adapted to the
    * data distribution instead of random planes.
    *
    * Deterministic keeper rule: a vector is dropped iff some same-cluster
    * vector with a SMALLER id has rounded cosine ≥ threshold to it (the
    * paper keeps a random representative per ε-ball; smallest-id is the
    * engine-portable choice, mirroring [[Dedup.exact]]). Centroids come
    * from the deterministic [[kmeansCentroids]], assignment uses the
    * same round-6 cosine + cid tiebreak as [[ivfTopK]], so the whole
    * result is replayable cross-engine.
    *
    * Scale shape: centroid table is O(k·dims) broadcast; assignment is
    * one corpus scan; the within-cluster self-join shuffles on cid only
    * (cluster count sized so |cluster| ≈ |corpus|/k keeps the quadratic
    * block bounded — at 100 TB, k grows with the corpus and the
    * pairwise stays per-block). Output: (vec_id, cid, keep). */
  def semDedup(df: DataFrame, idCol: String, vecCol: String,
               nClusters: Int, threshold: Double,
               kmeansIters: Int = 2, roundTo: Int = 4): DataFrame = {
    val cents = broadcast(
      kmeansCentroids(df, idCol, vecCol, nClusters, kmeansIters))
    val w = Window.partitionBy("vid").orderBy(desc("csim"), col("cid"))
    val assigned = df
      .select(col(idCol).as("vid"), col(vecCol).as("v"),
        sqrt(dot(col(vecCol), col(vecCol))).as("norm"))
      .join(cents)
      .select(col("vid"), col("v"), col("norm"), col("cid"),
        round(cosine(col("v"), col("cvec")), 6).as("csim"))
      .withColumn("crn", row_number().over(w))
      .filter(col("crn") === 1)
      .select(col("vid"), col("v"), col("norm"), col("cid"))
    val dupIds = assigned.as("a").join(assigned.as("b"),
        col("a.cid") === col("b.cid") && col("a.vid") < col("b.vid") &&
          round(dot(col("a.v"), col("b.v")) / (col("a.norm") * col("b.norm")),
            roundTo) >= threshold)
      .select(col("b.vid").as("vid")).distinct()
      .withColumn("dup", lit(true))
    assigned.join(dupIds, Seq("vid"), "left")
      .select(col("vid").as("vec_id"), col("cid"),
        not(coalesce(col("dup"), lit(false))).as("keep"))
  }

  /** Embedding near-duplicate pairs: same-bucket sign-LSH blocking, then
    * exact cosine ≥ threshold. (id_a < id_b.) */
  def embeddingNearDup(df: DataFrame, idCol: String, vecCol: String,
                       threshold: Double, planes: Int = 8,
                       dims: Int = 64): DataFrame = {
    val b = df.select(col(idCol).as("doc_id_"), col(vecCol).as("v"),
      sqrt(dot(col(vecCol), col(vecCol))).as("norm"),
      lshBucket(col(vecCol), planes, dims).as("bucket"))
    b.as("a").join(b.as("b"),
        col("a.bucket") === col("b.bucket") &&
          col("a.doc_id_") < col("b.doc_id_"))
      .select(col("a.doc_id_").as("id_a"), col("b.doc_id_").as("id_b"),
        round(dot(col("a.v"), col("b.v")) / (col("a.norm") * col("b.norm")), 4)
          .as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** Per-group embedding centroid drift: cosine of each group's mean
    * vector against the whole corpus's mean vector — the "is this
    * source/shard/day pulling away from the corpus" dashboard row
    * (complement of the token-space drift matrix in
    * [[CorpusStats.jsDivergence]]).
    *
    * Determinism at any partitioning: float components are fixed-point
    * quantized (×2²⁰, round-half-up) to longs FIRST, so the dim-wise
    * sums are exact integer arithmetic — no float-accumulation order
    * dependence anywhere. Cosine is scale-invariant, so it's taken
    * directly between the integer sum vectors (the 1/n·q factors
    * cancel); the only float work is one 64-term dot product folded in
    * fixed dimension order. Shuffle profile: one hash aggregation on
    * (group, dim) — rows × dims keys — then an O(groups × dims)
    * reduce; nothing quadratic, no collect. */
  def centroidDrift(df: DataFrame, vecCol: String, groupCol: String,
                    roundTo: Int = 6): DataFrame = {
    val q = lit((1L << 20).toDouble)
    val ex = df.select(col(groupCol).as("grp"),
        posexplode(col(vecCol)).as(Seq("i", "x")))
      .select(col("grp"), col("i"),
        floor(col("x").cast("double") * q + lit(0.5)).cast("long").as("xf"))
    val byGrp = ex.groupBy("grp", "i")
      .agg(sum("xf").as("s"), count(lit(1)).as("n"))
    val glob = ex.groupBy("i").agg(sum("xf").as("gs"))
    val arr = byGrp.join(glob, Seq("i"))
      .groupBy("grp")
      .agg(max("n").as("n_vecs"),
        array_sort(collect_list(struct(col("i"), col("s"), col("gs"))))
          .as("a"))
    def fold(f: Column => Column): Column =
      aggregate(col("a"), lit(0.0), (acc, t) => acc + f(t))
    val dotSG = fold(t => t.getField("s").cast("double") *
      t.getField("gs").cast("double"))
    val nS = sqrt(fold(t => t.getField("s").cast("double") *
      t.getField("s").cast("double")))
    val nG = sqrt(fold(t => t.getField("gs").cast("double") *
      t.getField("gs").cast("double")))
    arr.select(col("grp").as(groupCol), col("n_vecs"),
      TextFunctions.portableRound(dotSG / (nS * nG), roundTo)
        .as("cos_to_global"))
  }

  /** Hard-negative mining for contrastive training: per query, the k
    * nearest corpus vectors carrying a DIFFERENT label — the "looks
    * similar, means different" rows a retriever/embedding trainer wants
    * as negatives (same-label neighbors are positives, not negatives,
    * so they're excluded at the join, not post-filtered from the
    * top-k — otherwise a query inside a dense same-label cluster gets
    * fewer than k negatives).
    *
    * Same execution shape as [[bruteForceTopK]]: queries broadcast, the
    * corpus never shuffles, dot products codegen'd, the label predicate
    * evaluated as the BNL join residual. At 100 TB swap the corpus scan
    * for the IVF/PQ path ([[ivfTopK]]) with label as a probe-time
    * filter — the semantics here are the oracle for that index.
    *
    * Edge cases, pinned deliberately: a NULL label on either side makes
    * `qlabel =!= elabel` NULL, so the pair is dropped — an unlabeled
    * row can't be certified a negative, and SQL's null-rejecting join
    * predicate (the x101 oracle) agrees. A zero-norm vector's cosine is
    * NaN, which Spark sorts FIRST under desc; `nanvl(sim, -1)` demotes
    * such pairs below every real similarity instead of letting a
    * degenerate vector displace genuine hard negatives from the top-k.
    *
    * Scale shape of the reduction: at k=1 the winner per query is a
    * commutative max over a (sim, -eid)-ordered struct, which
    * partial-aggregates map-side — each corpus partition emits at most
    * |queries| candidate rows into the shuffle instead of the full
    * |queries|×|corpus| similarity stream a global row_number window
    * would sort (at pair-mined anchor counts that stream is billions of
    * rows; the partial path shuffles |queries|×numPartitions). The -eid
    * tie-break lane assumes non-negative ids (true for every vec_id
    * source here); k>1 keeps the window, its callers bound |queries|. */
  def hardNegatives(queries: DataFrame, corpus: DataFrame, idCol: String,
                    vecCol: String, labelCol: String, k: Int,
                    roundTo: Int = 4): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("qid"),
      col(labelCol).as("qlabel"), col(vecCol).as("qv"),
      sqrt(dot(col(vecCol), col(vecCol))).as("qnorm")))
    val c = corpus.select(col(idCol).as("eid"),
      col(labelCol).as("elabel"), col(vecCol).as("ev"),
      sqrt(dot(col(vecCol), col(vecCol))).as("enorm"))
    val sims = c.join(q, col("qlabel") =!= col("elabel"))
      .select(col("qid"), col("eid"), col("elabel"),
        nanvl(round(dot(col("qv"), col("ev")) /
            (col("qnorm") * col("enorm")), roundTo),
          lit(-1.0)).as("sim"))
    val topk = if (k == 1) {
      sims.groupBy("qid")
        .agg(max(struct(col("sim"), (-col("eid")).as("inv_eid"),
          col("eid"), col("elabel"))).as("m"))
        .select(col("qid"), col("m.eid").as("eid"),
          col("m.elabel").as("elabel"), col("m.sim").as("sim"),
          lit(1).as("rn"))
    } else {
      val w = Window.partitionBy("qid").orderBy(desc("sim"), col("eid"))
      sims.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= k)
    }
    topk.orderBy("qid", "rn")
  }

  /** Margin-based cross-corpus pair mining (the Artetxe & Schwenk
    * bitext-mining criterion LASER/CCMatrix pipelines use): a raw
    * cosine is a biased pairing signal in hubby embedding spaces, so
    * each candidate (a, b) is scored by its cosine RELATIVE to the two
    * sides' local similarity level — margin = sim / ((knnAvg_a +
    * knnAvg_b) / 2), where knnAvg_x averages x's top-`k` cosines into
    * the OTHER side. Emits the argmax-margin partner per left-side row
    * (the forward mining direction), with the margin attached so the
    * caller picks its own acceptance threshold.
    *
    * Determinism: cosines are rounded to 1e-4 first (the x08
    * discipline); each knn average sums the ROUNDED sims as exact
    * ×10⁴ longs (aggregation order cannot move it) with one final
    * division; the winner per aid is a commutative max over a
    * (margin, -bid)-ordered struct — the x168 map-side-combining
    * reduction, not a global window.
    *
    * Scale shape: this is the EXACT all-pairs baseline (|A|×|B|
    * broadcast nested loop, b-side broadcast) — at corpus scale run
    * it over an ANN candidate set instead: feed `a`/`b` restricted to
    * [[ivfProbePostings]] / [[lshTopK]] survivors, the margin math is
    * the same. The top-k windows partition per-row (never global). */
  def marginPairs(a: DataFrame, b: DataFrame, idCol: String,
                  vecCol: String, k: Int = 4,
                  roundTo: Int = 4): DataFrame = {
    val av = a.select(col(idCol).as("aid"), col(vecCol).as("avv"),
      sqrt(dot(col(vecCol), col(vecCol))).as("an"))
    val bv = broadcast(b.select(col(idCol).as("bid"), col(vecCol).as("bvv"),
      sqrt(dot(col(vecCol), col(vecCol))).as("bn")))
    // zero-norm vectors have no direction: sim 0 by definition (ANSI
    // throws on the double division a NaN-tolerant engine would allow)
    val sims = av.join(bv)
      .select(col("aid"), col("bid"),
        when(col("an") * col("bn") === lit(0.0), lit(0.0))
          .otherwise(round(
            dot(col("avv"), col("bvv")) / (col("an") * col("bn")),
            roundTo)).as("sim"))
    marginOverCandidates(sims, k, roundTo)
  }

  /** [[marginPairs]]' margin math over a PRE-BUILT candidate edge set
    * (aid, bid, sim — sims already rounded, e.g. [[ivfProbePostings]]'
    * output) — the production composition at corpus scale: an ANN pass
    * generates O(|A|·k) candidate edges, and both local-level averages
    * are computed over the candidate GRAPH (each side's top-`k` among
    * its incident candidate edges), exactly the CCMatrix recipe where
    * the kNN graph comes from FAISS rather than an exact all-pairs
    * scan. Shared verbatim with the exact baseline — [[marginPairs]]
    * delegates here — so x178 (exact) and x200 (over stored-IVF
    * candidates) cannot drift in their margin arithmetic. */
  def marginOverCandidates(simsIn: DataFrame, k: Int = 4,
                           roundTo: Int = 4): DataFrame = {
    // THREE consumers read the candidate frame (ka, kb, the margin
    // join) — without a cut, the upstream plan (an ANN probe at x235,
    // a full train+assign at x200) re-executes once per consumer, and
    // ReuseExchange does not cover branches whose aggregation differs
    // (the x233 fan-in lesson; measured sf1: probe+margin 9.6 → 4.1 s)
    val sims = simsIn.localCheckpoint()
    // top-k average per side, over exact ×10⁴ integers
    def knnAvg(src: DataFrame, key: String, other: String): DataFrame = {
      val w = Window.partitionBy(key).orderBy(desc("sim"), col(other))
      src.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
        .groupBy(key)
        .agg((sum(floor(col("sim") * lit(10000.0) + lit(0.5)).cast("long"))
          .cast("double") /
          (count(lit(1)).cast("double") * lit(10000.0))).as(s"avg_$key"))
    }
    val ka = knnAvg(sims, "aid", "bid")
    val kb = knnAvg(sims, "bid", "aid")
    // a zero local level (all-zero neighborhoods) has no defined
    // margin — report 0 rather than divide into ±inf
    val denom = (col("avg_aid") + col("avg_bid")) / lit(2.0)
    val scored = sims.join(ka, Seq("aid")).join(kb, Seq("bid"))
      .select(col("aid"), col("bid"), col("sim"),
        TextFunctions.portableRound(
          when(denom === lit(0.0), lit(0.0))
            .otherwise(col("sim") / denom)
            + lit(1000.0), roundTo).minus(lit(1000.0)).as("margin"))
    scored.groupBy("aid")
      .agg(max(struct(col("margin"), (-col("bid")).as("inv_bid"),
        col("bid"), col("sim"))).as("m"))
      .select(col("aid"), col("m.bid").as("bid"), col("m.sim").as("sim"),
        col("m.margin").as("margin"))
      .orderBy("aid")
  }

  /** Retrieval-quality metrics beyond recall: reciprocal rank of the
    * true best hit and binary-relevance nDCG@k of an approximate
    * ranking against exact truth — the eval rows that justify an ANN
    * index's plane/probe budget (recall says how MANY truth items
    * survive; nDCG says WHERE they land; RR says how far the single
    * best item fell).
    *
    * Inputs are two (qid, eid, rn) rankings (e.g. [[lshTopK]] vs
    * [[bruteForceTopK]]). rr = 1/rank-in-`ann` of truth's rn=1 item
    * (0 when absent); dcg = Σ 1/log2(i+1) over `ann` positions whose
    * eid is in truth, idcg the same over truth's own positions.
    * Determinism: the float sums fold over rank-sorted lists (ranks
    * are exact integers), divisions and log2 are identical IEEE trees
    * on any engine, rounded at the edge.
    *
    * Scale shape: joins and group-bys over two ≤ queries·k row tables
    * — the rankings themselves are the expensive part, not the eval. */
  def retrievalMetrics(ann: DataFrame, truth: DataFrame, k: Int,
                       roundTo: Int = 4): DataFrame = {
    val a = ann.select(col("qid"), col("eid"), col("rn").cast("long").as("arn"))
      .filter(col("arn") <= k)
    val e = truth.select(col("qid"), col("eid"), col("rn").cast("long").as("trn"))
      .filter(col("trn") <= k)
    def foldDcg(rs: Column) = aggregate(rs, lit(0.0),
      (acc, r) => acc + lit(1.0) / log2(r.cast("double") + lit(1.0)))
    val rr = e.filter(col("trn") === 1)
      .join(a, Seq("qid", "eid"), "left")
      .select(col("qid"),
        coalesce(lit(1.0) / col("arn").cast("double"), lit(0.0)).as("rr"))
    val dcg = a.join(e.select("qid", "eid"), Seq("qid", "eid"), "left_semi")
      .groupBy("qid").agg(array_sort(collect_list(col("arn"))).as("rs"))
      .select(col("qid"), foldDcg(col("rs")).as("dcg"))
    val idcg = e.groupBy("qid").agg(array_sort(collect_list(col("trn"))).as("rs"))
      .select(col("qid"), foldDcg(col("rs")).as("idcg"))
    rr.join(dcg, Seq("qid"), "left").join(idcg, Seq("qid"))
      .select(col("qid"),
        TextFunctions.portableRound(col("rr"), roundTo).as("rr"),
        TextFunctions.portableRound(
          coalesce(col("dcg"), lit(0.0)) / col("idcg"), roundTo).as("ndcg"))
  }

  /** Maximal-marginal-relevance top-k: greedily re-rank each query's
    * `poolK` most-relevant candidates so the k kept are RELEVANT but
    * not redundant — mmr(e) = λ·rel(e) − μ·max_{s∈selected} sim(e, s).
    * The diversity-aware selection RAG retrievers and diverse-sampling
    * curation both use (Carbonell & Goldstein 1998). λ and μ are
    * SEPARATE parameters, not λ and 1−λ: 1.0−0.7 is not the IEEE
    * double 0.3, and the oracle writes the literal.
    *
    * Scale shape: relevance pool via [[bruteForceTopK]] (broadcast
    * BNL, no corpus shuffle), then the poolK² per-query candidate sim
    * matrix — the greedy's entire working set, ≤ queries·poolK² rounded
    * doubles — is collected and walked on the driver: MMR's selection
    * step is inherently sequential in k, and k tiny Spark jobs over a
    * 2 000-row frame would pay k job latencies for no parallelism (the
    * x39 lesson). All floats are rounded at the matrix edge, so the
    * driver greedy is engine-replayable: an oracle unrolls the same k
    * steps CTE by CTE.
    *
    * Output: (qid, eid, rank 1..k, mmr) — rank 1's mmr IS its
    * relevance (nothing selected yet to diversify against). */
  def mmrTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
              vecCol: String, k: Int = 10, poolK: Int = 20,
              lambda: Double = 0.7, mu: Double = 0.3,
              roundTo: Int = 4): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val pool = bruteForceTopK(queries, corpus, idCol, vecCol, poolK, roundTo)
      .select(col("qid").cast("long").as("qid"),
        col("eid").cast("long").as("eid"), col("sim").as("rel"))
    val pv = pool.join(
      corpus.select(col(idCol).cast("long").as("eid"), col(vecCol).as("v"),
        sqrt(dot(col(vecCol), col(vecCol))).as("nrm")), Seq("eid"))
    val a = pv.select(col("qid"), col("eid").as("ea"), col("v").as("va"),
      col("nrm").as("na"))
    val b = pv.select(col("qid"), col("eid").as("eb"), col("v").as("vb"),
      col("nrm").as("nb"))
    val ps = a.join(broadcast(b), Seq("qid"))
      .select(col("qid"), col("ea"), col("eb"),
        round(dot(col("va"), col("vb")) / (col("na") * col("nb")), roundTo)
          .as("s"))
    val rel = pool.select("qid", "eid", "rel").as[(Long, Long, Double)]
      .collect()
    val sim = ps.select("qid", "ea", "eb", "s").as[(Long, Long, Long, Double)]
      .collect().map { case (q, x, y, v) => (q, x, y) -> v }.toMap
    val out = rel.groupBy(_._1).toSeq.flatMap { case (qid, rows) =>
      val relOf = rows.map(r => r._2 -> r._3).toMap
      var remaining = rows.map(_._2).toSet
      val first = rows.minBy(r => (-r._3, r._2))
      var selected = Vector(first._2)
      remaining -= first._2
      val picks = Vector.newBuilder[(Long, Long, Int, Double)]
      picks += ((qid, first._2, 1, TextFunctions.portableRoundJvm(first._3, roundTo)))
      var rank = 2
      while (rank <= k && remaining.nonEmpty) {
        val scored = remaining.toSeq.map { e =>
          val maxS = selected.map(sv => sim((qid, e, sv))).max
          (e, lambda * relOf(e) - mu * maxS)
        }
        val (eid, mmr) = scored.minBy { case (e, v) => (-v, e) }
        picks += ((qid, eid, rank, TextFunctions.portableRoundJvm(mmr, roundTo)))
        selected :+= eid
        remaining -= eid
        rank += 1
      }
      picks.result()
    }
    out.sortBy(r => (r._1, r._3)).toDF("qid", "eid", "rank", "mmr")
  }

  /** Nearest-class-centroid confusion matrix — the "are my labels
    * separable in embedding space" eval (domain confusion, label-noise
    * triage, embedding-quality regression tests): assign every vector
    * to the nearest per-label MEAN centroid and cross-tabulate against
    * its true label. A diagonal-heavy matrix = separable classes; a
    * smeared row = that label's region overlaps others.
    *
    * Exactness without ever materializing a float mean: the distance
    * to centroid L compares as Σ(x_i·n_L − s_Li)² — quantized-integer
    * sums in DECIMAL (no Int64 wrap) — normalized by n_L² only at the
    * final comparison, as one deterministic IEEE division (identical
    * inputs ⇒ identical doubles on any engine; ties break on label).
    *
    * Scale shape: one explode + per-(label, dim) agg (the centroid
    * table is labels·d rows — broadcast), one gather join, one
    * per-vector window over `labels` rows. */
  def centroidConfusion(corpus: DataFrame, idCol: String, vecCol: String,
                        labelCol: String, qBits: Int = 20): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val q = lit((1L << qBits).toDouble)
    val ex = corpus.select(col(idCol).as("vec_id"),
        col(labelCol).as("label"), posexplode(col(vecCol)).as(Seq("i", "x")))
      .select(col("vec_id"), col("label"), col("i"),
        floor(col("x").cast("double") * q + lit(0.5)).cast("long").as("x"))
    val cen = ex.groupBy(col("label").as("clabel"), col("i"))
      .agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
    val d = ex.join(broadcast(cen), Seq("i"))
      .select(col("vec_id"), col("label"), col("clabel"), col("n"),
        ((col("x") * col("n") - col("s")).cast(dec) *
          (col("x") * col("n") - col("s")).cast(dec)).as("d2"))
      .groupBy("vec_id", "label", "clabel")
      .agg(sum(col("d2")).as("dist"), max(col("n")).as("n"))
    val w = Window.partitionBy("vec_id").orderBy(
      (col("dist").cast("double") /
        (col("n").cast("double") * col("n").cast("double"))).asc,
      col("clabel").asc)
    d.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .groupBy(col("label").as("true_label"),
        col("clabel").as("assigned_label"))
      .agg(count(lit(1)).as("n"))
  }

  /** Farthest-point traversal (Gonzalez' 2-approximation to k-center):
    * pick the min-id seed, then k−1 times pick the point FARTHEST from
    * everything picked so far — the classic coreset/diverse-subset
    * selector (prototype picking, eval-set seeding, k-means++-style
    * init) with a worst-case coverage guarantee no random sample has.
    *
    * Determinism: vectors are quantized to ×2^qBits integers, so every
    * distance is an exact integer and the argmax can't flip on float
    * summation; ties break on min vec_id. Each of the k−1 rounds is
    * one broadcast join of the corpus against the ≤k selected vectors
    * + a TakeOrderedAndProject(1) — O(k·n·d) total, no all-pairs, and
    * the only driver state is the k selected rows (the k-means-centroid
    * pattern). Returns (rank, vec_id, min_dist_q); the seed's distance
    * is 0 by convention. */
  def kCenterSelect(corpus: DataFrame, idCol: String, vecCol: String,
                    k: Int, qBits: Int = 10): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val spark = corpus.sparkSession
    import spark.implicits._
    val scale = (1L << qBits).toDouble
    val proj = corpus.select(col(idCol).cast("long").as("eid"),
        transform(col(vecCol),
          x => floor(x.cast("double") * lit(scale) + lit(0.5)).cast("long"))
          .as("vq"))
      .cache()
    try {
      val seedRow = proj.orderBy("eid").limit(1).head()
      var selected: Seq[(Int, Long, Long, Seq[Long])] =
        Seq((1, seedRow.getLong(0), 0L, seedRow.getSeq[Long](1)))
      val sqDist = (a: Column, b: Column) =>
        aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
          lit(0L), (acc, v) => acc + v)
      for (r <- 2 to k) {
        val selDf = broadcast(selected.map(s => (s._2, s._4))
          .toDF("sid", "sv"))
        val selIds = selected.map(_._2)
        val next = proj.filter(!col("eid").isin(selIds: _*))
          .join(selDf)
          .select(col("eid"), col("vq"),
            sqDist(col("vq"), col("sv")).as("d2"))
          .groupBy("eid").agg(min(col("d2")).as("mind"),
            first(col("vq")).as("vq"))
          .orderBy(desc("mind"), col("eid")).limit(1)
          .collect()
        // corpus exhausted before k picks: return what exists
        next.foreach(row => selected :+= ((r, row.getLong(0),
          row.getLong(1), row.getSeq[Long](2))))
      }
      selected.map(s => (s._1, s._2, s._3))
        .toDF("rank", "vec_id", "min_dist_q")
    } finally proj.unpersist()
  }

  /** Diagonal-covariance Mahalanobis outlier scores over an embedding
    * column — the corrupt-vector detector for embedding-table intake
    * (truncated writes, wrong normalization, NaN-scrubbed dimensions):
    * score(v) = Σ_d (v_d − μ_d)²/σ²_d, ≈ dim for inliers, huge when a
    * few dimensions sit far outside the corpus distribution. Diagonal
    * (per-dimension) covariance by design: the full matrix is the PCA
    * family's job (x147); the intake gate needs exactly the per-dim
    * z² sum, which stays one aggregation at any scale.
    *
    * Exactness: floats quantize to ×10⁶ longs at the scan, so per-dim
    * n/Σq/Σq² are exact integer sums (Σq² in DECIMAL — the Pca
    * lesson); the mean never appears as a float: each term is
    * (n·q − s1)²/(n·s2 − s1²) with the n² factors cancelled, numerator
    * squared in doubles (exact while |n·q − s1| < 2⁵³), denominator
    * exact DECIMAL cast once to double. Terms quantize to ×10⁶ longs
    * before the per-vector sum, so the reduction is order-free.
    *
    * Returns the top `k` (vec_id, score, rn) by score desc — a
    * TakeOrdered top-k, never a global sort. */
  def embeddingOutliers(df: DataFrame, idCol: String, vecCol: String,
                        k: Int = 20, roundTo: Int = 4): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val ex = df.select(col(idCol).as("vec_id"), posexplode(col(vecCol)))
      .select(col("vec_id"), (col("pos") + 1).as("d"),
        floor(col("col").cast("double") * lit(1.0e6) + lit(0.5))
          .cast("long").as("q"))
    val st = ex.groupBy("d").agg(count(lit(1)).as("n"),
      sum(col("q")).as("s1"),
      sum((col("q") * col("q")).cast(dec)).as("s2"))
    val den = (col("n").cast(dec) * col("s2") -
      col("s1").cast(dec) * col("s1").cast(dec)).cast("double")
    val dev = (col("n") * col("q") - col("s1")).cast("double")
    val termQ = when(den === lit(0.0), lit(0L))
      .otherwise(floor(dev * dev / den * lit(1.0e6) + lit(0.5))
        .cast("long"))
    val scores = ex.join(st, Seq("d"))
      .select(col("vec_id"), termQ.as("tq"))
      .groupBy("vec_id").agg(sum(col("tq")).as("sq"))
    Ranked.rankBounded(scores, k, Seq(col("sq").desc, col("vec_id")))
      .select(col("vec_id"),
        TextFunctions.portableRound(
          col("sq").cast("double") / lit(1.0e6), roundTo).as("score"),
        col("rn"))
      .orderBy("rn")
  }
}
