package graft.operators

import java.nio.ByteBuffer

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.TextFunctions

/** Distributed Bloom filter over builtins — the scale path for
  * membership tests whose reference set is too big to broadcast
  * exactly: [[Contamination.flag]] broadcasts the benchmark's DISTINCT
  * shingle hashes (8 bytes each — fine for eval sets, prohibitive for
  * "have we already ingested this" sets in the billions), while a Bloom
  * bitmap is a FIXED m-bit broadcast regardless of member count, at the
  * price of a tunable false-positive rate (never false negatives — safe
  * for decontamination, where a false positive only over-drops).
  *
  * Everything is engine-portable integer math:
  *   - k bit positions per element by Kirsch–Mitzenmacher double
  *     hashing over the 60-bit md5 base hash:
  *     pos_j = (h mod m + j·(1 + (h≫30 mod (m−1)))) mod m — no per-j
  *     re-hash, identical in any engine with `%` and `>>`;
  *   - the bitmap is built with ordinary aggregations (explode
  *     positions → distinct → per-word `bit_or` of single-bit masks →
  *     one dense array<long> row) — mergeable, shuffle-light
  *     (distinct positions ≤ m), no UDAF;
  *   - probing is `element_at` + shift + mask over the broadcast 1-row
  *     bitmap — codegen'd builtins in the scan.
  * The DuckDB oracle cross-checks with a DIFFERENT algorithm (position
  * subset-count, no bitmap): both reduce to "all k positions set", so
  * agreeing results — false positives included, which are deterministic
  * here — validate the whole hash/bit pipeline. */
object BloomFilter {

  /** The k bit positions of `h` (a non-negative 60-bit hash). */
  def positions(h: Column, m: Int, k: Int): Seq[Column] = {
    require(m > 1 && k >= 1, s"need m > 1 bits and k >= 1 hashes, got m=$m k=$k")
    val h1 = h % lit(m.toLong)
    val h2 = lit(1L) + (shiftright(h, 30) % lit((m - 1).toLong))
    (0 until k).map(j => (h1 + lit(j.toLong) * h2) % lit(m.toLong))
  }

  /** SQL mirror of [[positions]]' Kirsch–Mitzenmacher formula for hash
    * expression `h` and hash-index expression `j` — oracles interpolate
    * THIS (and the same m/k constants they pass to [[flagBloom]])
    * instead of hand-inlining the formula, so a change to the position
    * math changes both engines or neither (the shared-fragment rule). */
  def positionSql(h: String, j: String, m: Int): String =
    s"((($h % $m) + $j * (1 + (($h >> 30) % ${m - 1}))) % $m)"

  /** Build the m-bit bitmap as ONE row (`bitmap` array<long> of m/64
    * words) from a column of 60-bit hashes. */
  def build(hashes: DataFrame, hashCol: String, m: Int, k: Int): DataFrame = {
    require(m % 64 == 0, s"m must be a multiple of 64, got $m")
    val pos = hashes
      .select(explode(array(positions(col(hashCol), m, k): _*)).as("pos"))
      .distinct()
    val words = pos.select(shiftright(col("pos"), 6).as("widx"),
        call_function("shiftleft", lit(1L), (col("pos") % 64).cast("int"))
          .as("mask"))
      .groupBy("widx").agg(bit_or(col("mask")).as("word"))
    hashes.sparkSession.range(m / 64).toDF("widx")
      .join(words, Seq("widx"), "left")
      .select(col("widx"), coalesce(col("word"), lit(0L)).as("word"))
      .groupBy()
      .agg(array_sort(collect_list(struct(col("widx"), col("word"))))
        .as("pairs"))
      .select(transform(col("pairs"), p => p.getField("word")).as("bitmap"))
  }

  /** Membership probe against a [[build]] bitmap column: true iff all k
    * positions are set (may false-positive, never false-negative). */
  def mightContain(bitmap: Column, h: Column, m: Int, k: Int): Column =
    positions(h, m, k).map { pos =>
      call_function("shiftright",
        element_at(bitmap, (shiftright(pos, 6) + 1).cast("int")),
        (pos % 64).cast("int")).bitwiseAND(lit(1L)) === lit(1L)
    }.reduce(_ && _)

  /** [[Contamination.flag]] with the benchmark side Bloom-compressed:
    * (doc_id, n_bloom_hits) for corpus docs whose distinct shingles hit
    * the benchmark bloom — a deterministic superset of the exact
    * contamination report. The corpus side stays a scan + codegen
    * filter; only the (rare) hits shuffle for the per-doc count. */
  def flagBloom(corpus: DataFrame, idCol: String, textCol: String,
                bench: DataFrame, benchTextCol: String,
                shingleN: Int = 5, m: Int = 1 << 16, k: Int = 3): DataFrame =
    flagBloomWith(corpus, idCol, textCol,
      trainBloom(bench, benchTextCol, shingleN, m, k), shingleN, m, k)

  /** The benchmark-side bitmap as a persistable artifact: one
    * (bitmap array<long>) row over the benchmark's distinct shingles —
    * built once at write time ([[ArtifactStore.publish]]), probed by
    * every contamination scan ([[flagBloomWith]]). The benchmark
    * corpus changes rarely; the scanned corpus changes constantly —
    * exactly the asymmetry a stored artifact exploits. */
  def trainBloom(bench: DataFrame, benchTextCol: String,
                 shingleN: Int = 5, m: Int = 1 << 16,
                 k: Int = 3): DataFrame =
    build(bench
        .select(explode(Dedup.shingles(col(benchTextCol), shingleN)).as("s"))
        .select(TextFunctions.md5Hash60(col("s")).as("h")),
      "h", m, k)

  /** Runtime Bloom join pruning (the "runtime filter" every warehouse
    * engine grew): bitmap over the SMALL (filtered) side's join keys,
    * probed at the BIG side's scan — rows that cannot join die before
    * the shuffle, so shuffle bytes track join selectivity instead of
    * table size. False positives only let extra rows through to the
    * exact join that follows; the RESULT is exact regardless of m/k,
    * which is why the oracle for a bloom-pruned join is the plain
    * join's SQL. */
  /** Bitmap union — Bloom filters are mergeable by bitwise OR, which
    * is what makes an 8 KB bitmap a LEDGER: batches insert
    * independently (any order, any partitioning) and the merged state
    * equals the from-scratch build over the union. Combined with the
    * versioned store this is the fixed-size "have we ingested this
    * key" state for streams whose exact key set is unbounded. */
  def mergeBitmaps(a: Column, b: Column): Column =
    zip_with(a, b, (x, y) => x.bitwiseOR(y))

  /** The all-zeros m-bit bitmap (ledger bootstrap). */
  def emptyBitmap(spark: org.apache.spark.sql.SparkSession,
                  m: Int): DataFrame = {
    require(m % 64 == 0, s"m must be a multiple of 64, got $m")
    spark.range(1)
      .select(array_repeat(lit(0L), m / 64).as("bitmap"))
  }

  /** Oracle-portable key bloom (md5-based — FPs must replay in any
    * engine, unlike [[keyBloom]]'s xxhash64 whose oracle is the plain
    * join). */
  def keyBloomPortable(df: DataFrame, keyCol: String,
                       m: Int = 1 << 16, k: Int = 3): DataFrame =
    build(df.select(
        TextFunctions.md5Hash60(col(keyCol).cast("string")).as("h")),
      "h", m, k)

  /** Probe a [[keyBloomPortable]] bitmap: input rows + a `seen`
    * column. */
  def probeKeysPortable(df: DataFrame, keyCol: String, bloom: DataFrame,
                        m: Int = 1 << 16, k: Int = 3): DataFrame =
    df.crossJoin(broadcast(bloom.select(col("bitmap"))))
      .withColumn("seen", mightContain(col("bitmap"),
        TextFunctions.md5Hash60(col(keyCol).cast("string")), m, k))
      .drop("bitmap")

  /** Key hash for the join-pruning bloom: xxhash64 masked non-negative
    * (the position math needs h ≥ 0). NOT the oracle-portable
    * md5Hash60 — a pruned join's oracle is the PLAIN join (the bloom
    * only removes provably-joinless rows), so the hash can be the
    * fastest codegen'd one Spark has instead of an md5 per probed
    * row. */
  private def keyHash(keyCol: Column): Column =
    xxhash64(keyCol).bitwiseAND(lit(Long.MaxValue))

  /** [[keyHash]] generalized to composite keys — the manifest per-file
    * key-bloom hash (TableManifest): build and probe sides must pass
    * the same columns in the same order. Internal-prune-only like
    * [[keyHash]] (false positives only cost a spurious copy-on-write
    * rewrite of an unaffected file, never a wrong row). */
  def keyHashCols(keys: Seq[Column]): Column =
    xxhash64(keys: _*).bitwiseAND(lit(Long.MaxValue))

  /** [[positions]] with a PER-ROW bit count `m` (a long column, always a
    * multiple of 64): the manifest's per-file key blooms size m to each
    * file's row count, so the probe evaluates the position math with m
    * as data ([[FileKeyBloom]] sets the same positions at build). Same
    * Kirsch–Mitzenmacher formula, all codegen builtins. */
  def positionsDyn(h: Column, m: Column, k: Int): Seq[Column] = {
    val h1 = h % m
    val h2 = lit(1L) + (shiftright(h, 30) % (m - lit(1L)))
    (0 until k).map(j => (h1 + lit(j.toLong) * h2) % m)
  }

  /** Per-group key bloom as ONE aggregate over the group's key hashes
    * (60-bit, non-negative — [[keyHashCols]]): the dense bitmap
    * (array<long> of m/64 words) with `m` sized from the group's own
    * row count — `bitsPerKey` bits per row, rounded up to whole words,
    * clamped to [`minBits`, `maxBits`] — and [[positionsDyn]]'s `k`
    * positions of every hash set. The manifest's per-file key blooms
    * (TableManifest.statsForFiles) are built with it in the same scan
    * and aggregate as the file's row count and key zone. */
  def fileKeyBloom(h: Column, k: Int, bitsPerKey: Long, minBits: Long,
                   maxBits: Long): Column =
    org.apache.spark.sql.graft.bridge.column(
      FileKeyBloom(org.apache.spark.sql.graft.bridge.expression(h), k,
        bitsPerKey, minBits, maxBits).toAggregateExpression())

  /** [[mightContain]] against a dense bitmap whose bit count is the
    * per-row column `m` (array length = m/64). */
  def mightContainDyn(bitmap: Column, h: Column, m: Column, k: Int): Column =
    positionsDyn(h, m, k).map { pos =>
      call_function("shiftright",
        element_at(bitmap, (shiftright(pos, 6) + 1).cast("int")),
        (pos % 64).cast("int")).bitwiseAND(lit(1L)) === lit(1L)
    }.reduce(_ && _)

  def keyBloom(small: DataFrame, keyCol: String,
               m: Int = 1 << 16, k: Int = 3): DataFrame =
    build(small.select(keyHash(col(keyCol)).as("h")), "h", m, k)

  /** The probe half of [[keyBloom]]: filter `big` to rows whose key
    * might be in the bloom — a codegen'd scan-time gate, no shuffle.
    * `m`/`k` must match the build. */
  def pruneKeys(big: DataFrame, keyCol: String, bloom: DataFrame,
                m: Int = 1 << 16, k: Int = 3): DataFrame =
    big.crossJoin(broadcast(bloom.select(col("bitmap"))))
      .filter(mightContain(col("bitmap"), keyHash(col(keyCol)), m, k))
      .drop("bitmap")

  /** [[flagBloom]]'s probe half against a PRE-BUILT [[trainBloom]]
    * bitmap (`shingleN`/`m`/`k` must match the build; x118
    * oracle-proves the equivalence). */
  def flagBloomWith(corpus: DataFrame, idCol: String, textCol: String,
                    bloom: DataFrame, shingleN: Int = 5,
                    m: Int = 1 << 16, k: Int = 3): DataFrame = {
    corpus.select(col(idCol).as("doc_id"),
        explode(Dedup.shingles(col(textCol), shingleN)).as("s"))
      .select(col("doc_id"), TextFunctions.md5Hash60(col("s")).as("h"))
      // 1-row build side: the broadcast nested loop IS the plan here
      .crossJoin(broadcast(bloom.select(col("bitmap"))))
      .filter(mightContain(col("bitmap"), col("h"), m, k))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bloom_hits"))
  }
}

/** State of [[FileKeyBloom]]: the group's first hashes, then — once
  * `n` reaches the row count at which the bit count hits its cap — the
  * capped bitmap itself, into which every later hash sets its bits. So
  * a group holds at most min(rows, cap rows) hashes or one final
  * bitmap, never both for long. */
final class KeyBloomBuf(var hashes: Array[Long], var n: Long,
                        var bits: Array[Long])

/** [[BloomFilter.fileKeyBloom]]'s aggregate. Deterministic under any
  * partitioning: the bit count is a function of the group's total row
  * count, and a bitmap is the OR of its members' bits. Runs in
  * ObjectHashAggregateExec; partial buffers ship as packed longs. */
case class FileKeyBloom(child: Expression, k: Int, bitsPerKey: Long,
                        minBits: Long, maxBits: Long,
                        mutableAggBufferOffset: Int = 0,
                        inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[KeyBloomBuf] with UnaryLike[Expression] {

  /** Rows at which `bitsFor` reaches `maxBits` and stays there. */
  private val capRows = (maxBits + bitsPerKey - 1) / bitsPerKey

  private def bitsFor(rows: Long): Long =
    math.min(maxBits, math.max(minBits, ((rows * bitsPerKey + 63) >> 6) << 6))

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "file_key_bloom"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case LongType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"file_key_bloom needs a bigint hash, got ${other.simpleString}")
    }

  /** [[BloomFilter.positionsDyn]]'s positions of `h`, set in `words`. */
  private def set(words: Array[Long], h: Long): Unit = {
    val m = words.length.toLong << 6
    val h1 = h % m
    val h2 = 1L + ((h >> 30) % (m - 1L))
    var j = 0
    while (j < k) {
      val pos = (h1 + j * h2) % m
      words((pos >> 6).toInt) |= 1L << (pos & 63L)
      j += 1
    }
  }

  private def add(buf: KeyBloomBuf, h: Long): Unit = {
    if (buf.bits != null) set(buf.bits, h)
    else {
      if (buf.n == buf.hashes.length)
        buf.hashes = java.util.Arrays.copyOf(buf.hashes,
          math.min(capRows, math.max(8L, buf.n * 2)).toInt)
      buf.hashes(buf.n.toInt) = h
      if (buf.n + 1 == capRows) {
        buf.bits = new Array[Long]((maxBits >> 6).toInt)
        var i = 0
        while (i <= buf.n) { set(buf.bits, buf.hashes(i)); i += 1 }
        buf.hashes = null
      }
    }
    buf.n += 1
  }

  override def createAggregationBuffer(): KeyBloomBuf =
    new KeyBloomBuf(new Array[Long](8), 0L, null)

  override def update(buf: KeyBloomBuf, input: InternalRow): KeyBloomBuf = {
    val v = child.eval(input)
    if (v != null) add(buf, v.asInstanceOf[Long])
    buf
  }

  override def merge(buf: KeyBloomBuf, other: KeyBloomBuf): KeyBloomBuf = {
    if (other.bits == null) {
      var i = 0
      while (i < other.n) { add(buf, other.hashes(i)); i += 1 }
    } else {
      val bits = other.bits.clone()
      if (buf.bits != null) {
        var i = 0
        while (i < bits.length) { bits(i) |= buf.bits(i); i += 1 }
      } else {
        var i = 0
        while (i < buf.n) { set(bits, buf.hashes(i)); i += 1 }
      }
      buf.bits = bits
      buf.hashes = null
      buf.n += other.n
    }
    buf
  }

  override def eval(buf: KeyBloomBuf): Any =
    if (buf.n == 0) null
    else {
      val words =
        if (buf.bits != null) buf.bits
        else {
          val w = new Array[Long]((bitsFor(buf.n) >> 6).toInt)
          var i = 0
          while (i < buf.n) { set(w, buf.hashes(i)); i += 1 }
          w
        }
      UnsafeArrayData.fromPrimitiveArray(words)
    }

  // layout: n, then the bitmap's words (n >= capRows) or the n hashes
  override def serialize(buf: KeyBloomBuf): Array[Byte] = {
    val body = if (buf.bits != null) buf.bits.length else buf.n.toInt
    val bb = ByteBuffer.allocate(8 + body * 8)
    bb.putLong(buf.n)
    val src = if (buf.bits != null) buf.bits else buf.hashes
    var i = 0
    while (i < body) { bb.putLong(src(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): KeyBloomBuf = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getLong()
    val count = bytes.length / 8 - 1
    val body = new Array[Long](if (n >= capRows) count else math.max(8, count))
    var i = 0
    while (i < count) { body(i) = bb.getLong(); i += 1 }
    if (n >= capRows) new KeyBloomBuf(null, n, body)
    else new KeyBloomBuf(body, n, null)
  }

  override def withNewMutableAggBufferOffset(offset: Int): FileKeyBloom =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): FileKeyBloom =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildInternal(newChild: Expression): FileKeyBloom =
    copy(child = newChild)
}
