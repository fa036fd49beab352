package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import scala.util.chaining._

/** Interpreter-tax audit of the top compute-bound catalog rows (r14
  * verdict item 6): for each suspect stage, time the CURRENT form
  * against a semantically identical rewrite that keeps the per-element
  * work in whole-stage codegen (higher-order-function lambdas are
  * interpreted — Spark evaluates the lambda body per element through
  * the Catalyst interpreter, the 10-30× class that cost x179/x253).
  *
  * Stages audited (the x174/x170/x182/x233/x200 inventory):
  *   - tokHash  (x182/x88/x145 shape): transform(tokens, md5Hash60)
  *     per token vs explode-first + top-level md5 (codegen).
  *   - kgram    (x233 shape): transform(sequence, i => md5(concat(
  *     slice)))) vs explode-first + top-level slice/concat/md5.
  *   - entropy  (x170 shape): per-doc aggregate() fold over the
  *     distinct-token struct list vs a groupBy sum over exploded rows.
  *   - x174     (token budget): all-builtin scan — measured to confirm
  *     the all-clear, no rewrite exists because there is no lambda.
  *
  * Each stage is consumed by an order-insensitive agg so the timing is
  * the stage, not a collect. min-of-3 per variant, variants
  * interleaved so host drift hits both.
  *
  * r16 sweep of the lambda sites HofAudit never covered (r15 verdict
  * item 6), by grep over `aggregate(`/`transform(` in operators/:
  *   - `CorpusStats.unigramBits` (x67/x170): WAS the per-doc fold the
  *     entropy stage models — REWRITTEN to the quantize-then-integer-
  *     sum codegen form (per-term floor(term×1e6) longs, plain sum;
  *     oracle SQL mirrored), so the interpreted fold and its
  *     collect_list+array_sort array are gone from the hot path.
  *   - `LabelQuality.scala:103,365,482` (ECE, PSI, Brier resolution)
  *     and `Profiling.scala:191` (Benford χ²): folds over ONE
  *     collected ≤bins-element list per QUERY (not per row) — the
  *     interpreter tax is nanoseconds of driver-adjacent work;
  *     all-clear, no rewrite warranted.
  *   - `Sampling.scala:280` (dsirWeights, x64) folds per doc over ≤
  *     `buckets` distinct entries; x64 benches at 0.28 s sf0.1 — the
  *     stage is dominated by its explode+joins, all-clear for now.
  *   - `Sampling.scala:504` (exhaustionReport, x199): one ≤|sources|
  *     fold per query — all-clear.
  *   - `Dedup.scala` `simhash32` Column form: unit-test-only by
  *     documented design (bulk jobs use the codegen SimhashSig). */
object HofAudit {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = graft.Sessions.local("32", "32")
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").localCheckpoint()
    docs.count()

    def time(f: => (Long, Long)): (Double, (Long, Long)) = {
      val t0 = System.nanoTime()
      val n = f
      ((System.nanoTime() - t0) / 1e9, n)
    }
    // A/B parity compares BOTH aggregate columns — the row count AND
    // the value checksum (r15 advice: comparing only the count let a
    // value-divergent rewrite pass as 'semantically identical').
    def ab(name: String, cur: => (Long, Long), rw: => (Long, Long)): Unit = {
      val cs = collection.mutable.ArrayBuffer.empty[Double]
      val rs = collection.mutable.ArrayBuffer.empty[Double]
      var (cn, rn) = ((0L, 0L), (0L, 0L))
      (1 to 3).foreach { _ =>
        val (ct, cv) = time(cur); cs += ct; cn = cv
        val (rt, rv) = time(rw); rs += rt; rn = rv
      }
      require(cn == rn,
        s"$name: variants disagree (count,checksum: $cn vs $rn)")
      println(f"[hof] $name%-10s current=${cs.min}%6.2f s rewrite=${rs.min}%6.2f s tax=${cs.min / rs.min}%5.2fx (check=$cn)")
    }
    def both(r: org.apache.spark.sql.Row): (Long, Long) =
      (r.getLong(0), r.getLong(1))

    // ---- tokHash: the bigramBits family's hashed-token stage ----
    val tokHashCur = () => docs.select(
        transform(TextFunctions.tokens(lower(col("text"))),
          t => TextFunctions.md5Hash60(t)).as("hs"))
      .select(explode(col("hs")).as("h"))
      .agg(count(lit(1)), sum(col("h") % 997)).head().pipe(both)
    val tokHashRw = () => docs.select(
        explode(TextFunctions.tokens(lower(col("text")))).as("t"))
      .select(TextFunctions.md5Hash60(col("t")).as("h"))
      .agg(count(lit(1)), sum(col("h") % 997)).head().pipe(both)
    ab("tokHash", tokHashCur(), tokHashRw())

    // ---- kgram: x233's k-gram hash fan-out (k = 8) ----
    val k = 8
    val base = docs.select(col("doc_id"),
      TextFunctions.tokens(col("text")).as("tk"))
      .filter(size(col("tk")) >= k)
    val kgramCur = () => base.select(explode(
        transform(sequence(lit(0), size(col("tk")) - k),
          i => TextFunctions.md5Hash60(
            concat_ws(" ", slice(col("tk"), i + 1, lit(k)))))).as("h"))
      .agg(count(lit(1)), sum(col("h") % 997)).head().pipe(both)
    val kgramRw = () => base
      .select(col("tk"), explode(sequence(lit(0), size(col("tk")) - k)).as("i"))
      .select(TextFunctions.md5Hash60(
        concat_ws(" ", slice(col("tk"), col("i") + 1, lit(k)))).as("h"))
      .agg(count(lit(1)), sum(col("h") % 997)).head().pipe(both)
    ab("kgram", kgramCur(), kgramRw())

    // ---- entropy: x170's per-doc fold over (h, c, cnt) structs ----
    val toks = docs.select(col("doc_id"),
        explode(TextFunctions.tokens(lower(col("text")))).as("term"))
      .select(col("doc_id"), TextFunctions.md5Hash60(col("term")).as("h"))
      .localCheckpoint()
    val g = toks.groupBy("h").agg(count(lit(1)).as("cnt")).localCheckpoint()
    val dc = toks.groupBy("doc_id", "h").agg(count(lit(1)).as("c"))
      .localCheckpoint()
    // Per-TERM contributions are quantized to integers BEFORE the
    // per-doc reduction (the oracle suite's quantize-then-integer-sum
    // recipe), so fold order vs partial-agg order cannot move the
    // checksum — the A/B parity require is exact, not float-lucky.
    def termQ(c: Column, cnt: Column): Column =
      floor(c.cast("double") *
        log2((cnt.cast("double") + lit(1.0)) / lit(1e7)) * lit(1e6))
        .cast("long")
    val entropyCur = () => dc.join(g, Seq("h"))
      .groupBy("doc_id")
      .agg(array_sort(collect_list(struct(col("h"), col("c"), col("cnt"))))
        .as("arr"))
      .select((lit(0L) - aggregate(col("arr"), lit(0L), (acc, s) =>
        acc + termQ(s.getField("c"), s.getField("cnt")))).as("eq"))
      .agg(count(lit(1)), sum(col("eq") % 1000003)).head().pipe(both)
    val entropyRw = () => dc.join(g, Seq("h"))
      .groupBy("doc_id")
      .agg((lit(0L) - sum(termQ(col("c"), col("cnt")))).as("eq"))
      .agg(count(lit(1)), sum(col("eq") % 1000003)).head().pipe(both)
    ab("entropy", entropyCur(), entropyRw())

    // ---- r17 epoch-store bloom machinery (r16 verdict task 8): the
    //      per-file key-bloom ASSEMBLY (TableManifest.keyBloom — the
    //      FileKeyBloom aggregate the manifest stats pass runs per data
    //      file) and the bloom PROBE (mightContainDyn, all builtins).
    //      The audit pins (a) LINEARITY of the assembly — doubling m
    //      must ~double its time, the exact property the r17 quadratic
    //      map-probe regression broke (O((m/64)^2): ~50 s/merge at
    //      replay-scale blooms) — and (b) absolute cost per file at
    //      replay scale. Synthetic files of xxhash64 key hashes, sized
    //      like statsForFiles sizes them (32 bits per key). ----
    import graft.operators.{BloomFilter, TableManifest}
    def keyHashes(nFiles: Int, keysPerFile: Long, from: Long = 0L) =
      spark.range(from, from + nFiles * keysPerFile)
        .select((col("id") % nFiles).as("file"),
          xxhash64(col("id")).bitwiseAND(lit(Long.MaxValue)).as("h"))
    def bloomAsm(nFiles: Int, keysPerFile: Long): (Double, (Long, Long)) = {
      val hashes = keyHashes(nFiles, keysPerFile).localCheckpoint()
      hashes.count()
      time {
        hashes.groupBy("file").agg(TableManifest.keyBloom(col("h")).as("bm"))
          // xor fold, not sum: bloom words are full-range bit patterns
          // and ANSI mode makes a long-sum checksum overflow-fatal
          .select(aggregate(col("bm"), lit(0L), _ bitwiseXOR _).as("cs"))
          .agg(count(lit(1)), sum(col("cs") % 1000003)).head().pipe(both)
      }
    }
    // replay-scale file (64k keys -> 2M-bit bloom, 32k words) and 2x
    val (tb1, nb1) = bloomAsm(32, 1L << 16)
    val (tb2, nb2) = bloomAsm(32, 1L << 17)
    println(f"[hof] bloomasm   m=2^21: $tb1%6.2f s  m=2^22: $tb2%6.2f s  " +
      f"ratio=${tb2 / tb1}%4.2fx (linear <= ~2x; files=${nb1._1},${nb2._1})")

    // ---- the probe side (filesMaybeContaining's condition): batch key
    //      hashes x replicated bloom rows under mightContainDyn — all
    //      builtins, absolute cost only, like x174scan ----
    val (tbp, nbp) = {
      val blooms = keyHashes(32, 1L << 16)
        .groupBy("file").agg(TableManifest.keyBloom(col("h")).as("key_bloom"))
        .select(col("file"),
          (size(col("key_bloom")).cast("long") * 64L).as("bloom_m"),
          col("key_bloom"))
        .localCheckpoint()
      blooms.count()
      // 10k-key batch probed against every file's bloom (the
      // filesMaybeContaining shape: hashes x one-partition bloom rows)
      val probe = keyHashes(1, 10000, from = 1L << 40).select(col("h").as("h_"))
      time {
        probe.join(blooms.coalesce(1).hint("shuffle_replicate_nl"),
            BloomFilter.mightContainDyn(col("key_bloom"), col("h_"),
              col("bloom_m"), 16))
          .agg(count(lit(1)), coalesce(sum(col("file")), lit(0L)))
          .head().pipe(both)
      }
    }
    println(f"[hof] bloomprobe current=$tbp%6.2f s (all builtin, no " +
      f"lambda; 10k keys x 32 blooms, hits=${nbp._1})")

    // ---- x174's scan stage: all-builtin, no lambda — absolute cost
    //      only, to document the all-clear ----
    val (t174, n174) = time {
      docs.select(
          TextFunctions.qualityScore(col("text")).as("q"),
          size(TextFunctions.tokens(col("text"))).cast("long").as("nt"))
        .agg(count(lit(1)), sum(col("nt")), sum(floor(col("q") * 1000)))
        .head().pipe(both)
    }
    println(f"[hof] x174scan   current=$t174%6.2f s (all builtin, no lambda; rows=${n174._1})")
    spark.stop()
  }
}
