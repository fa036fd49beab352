package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types._
import graft.functions.{QualityRules, TextFunctions}
import graft.operators.{ArtifactStore, AsOfJoin, BloomFilter, Chunking,
  Contamination, CorpusStats, Dedup, EntityResolution, Funnels, GramIndex,
  GraphRank, IncrementalDedup, LabelQuality, MergeUpsert, Multimodal,
  Preference, Privacy, Profiling, RangeJoin, RepeatedSpans, Salting,
  Sampling, Scd2, Similarity, Sketches, TableManifest, TfIdf, ZOrder,
  ZoneMap}
import graft.sources.Bucketing
import graft.streaming.{StreamCuration, StreamIngest}

/** North-star extension operators (training-data-pipeline surface) as
  * oracle-checked queries over `documents` / `embeddings` / `events`.
  *
  * The DuckDB SQL is GENERATED from the same Scala constants the Spark
  * operators use (stopword lists, hash parameters, band layout), so the
  * two sides cannot drift: a change to the operator breaks the oracle
  * until the shared constant changes both.
  */
object ExtensionCatalog {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** `s` with micro-batch shuffle sizing, for incremental-store
    * replays (the StreamCuration lesson): each appended batch is small
    * by construction, so its store merges and candidate joins should
    * not run at the session's batch-sized partition count. */
  private def microBatch(s: SparkSession): SparkSession =
    graft.Sessions.derived(s, graft.Sessions.shufflePartitions(8))

  /** The streaming sources' documented event layout: `ts` as
    * ns-since-epoch longs. The on-disk testdata layout is the driver's
    * choice and has changed across rounds (NANOS longs, then
    * MICROS/NTZ); [[ReferenceCatalog.events]] absorbs that, and this
    * converts back to the ns-long producer contract — so
    * layout-independence lives HERE, at simulated-producer time, not
    * inside every streaming drain. */
  private def eventsNs(s: SparkSession, dir: String): DataFrame =
    ReferenceCatalog.events(s, dir)
      .withColumn("ts", unix_micros(col("ts")) * lit(1000L))

  /** Schema of the arrival files [[writeEventArrivalsNs]] produces —
    * what the catalog's streaming queries hand their file sources. */
  private val eventArrivalSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", LongType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** One normalized arrival file per (session, dir), built lazily and
    * reused by every streaming query in the session — the ns-long
    * conversion pass is paid once, and each query's arrival dir is then
    * a byte copy (what a real producer's delivery is anyway). Keyed and
    * swept like [[memo]]. */
  private val arrivalStage =
    scala.collection.mutable.HashMap[String, (SparkSession, java.nio.file.Path)]()

  /** Build a simulated S3 arrival directory: ONE parquet file of the
    * whole events table in [[eventArrivalSchema]] layout, copied
    * `copies` times under distinct names (copies > 1 is the
    * byte-identical redelivery case). */
  private def writeEventArrivalsNs(s: SparkSession, dir: String,
                                   arrivals: String,
                                   copies: Int = 1): Unit = {
    val part = arrivalStage.synchronized {
      // sweep stopped sessions AND their staged table copies — the
      // stage dir holds a full normalized events table, so a long-lived
      // JVM would otherwise leak one copy per dead session×dir (the
      // exit-time scratchDirs sweep only covers JVM shutdown)
      arrivalStage.filterInPlace { case (_, (sess, p)) =>
        val live = !sess.sparkContext.isStopped
        if (!live) {
          val root = p.getParent.getParent // …/graft-arrv*/stage/part-*
          deleteTree(root)
          scratchDirs.remove(root)
        }
        live
      }
      val k = s"${System.identityHashCode(s)}|$dir"
      arrivalStage.get(k) match {
        case Some((sess, p)) if sess eq s => p
        case _ =>
          val staging = tmp("graft-arrv") + "/stage"
          eventsNs(s, dir).coalesce(1).write.parquet(staging)
          val p = new java.io.File(staging).listFiles()
            .find(_.getName.endsWith(".parquet"))
            .getOrElse(sys.error(s"no parquet part written under $staging"))
            .toPath
          arrivalStage(k) = (s, p)
          p
      }
    }
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(arrivals))
    (1 to copies).foreach { i =>
      java.nio.file.Files.copy(part,
        java.nio.file.Paths.get(s"$arrivals/events_$i.parquet"))
    }
  }

  // ---------- shared intermediates of the minhash dedup family ----------
  // x06 (candidates), x16 (verified pairs), x18 (clusters), x27 (curated
  // corpus) and x31 (funnel) are successive stages of ONE pipeline over
  // the same documents table. Each stage is memoized per (session, dir)
  // and cached, so a session running several stages pays for candidate
  // generation once — the library-level answer to "x31 must not re-pay
  // for x06's work". Results are session-scoped materializations:
  // entries of stopped sessions are swept on every access (a long-lived
  // JVM creating sessions repeatedly must not pin dead session state),
  // and the stored session reference is compared by identity so an
  // identityHashCode collision between two live sessions can never
  // hand one a DataFrame bound to the other. (Plain HashMap +
  // reentrant synchronized, not ConcurrentHashMap: the stages memoize
  // recursively, which computeIfAbsent forbids.)
  private val memo =
    scala.collection.mutable.HashMap[String, (SparkSession, DataFrame)]()
  private def memoized(s: SparkSession, dir: String, key: String)
                      (build: => DataFrame): DataFrame = memo.synchronized {
    memo.filterInPlace { case (_, (sess, _)) => !sess.sparkContext.isStopped }
    val k = s"${System.identityHashCode(s)}|$dir|$key"
    memo.get(k) match {
      case Some((sess, df)) if sess eq s => df
      case _ =>
        val df = build.cache()
        memo(k) = (s, df)
        df
    }
  }

  // NOTE the signature TABLE is deliberately NOT memoized: MinhashSig
  // makes signatures a scan-time projection (~50 ms of md5 at sf0.1),
  // and profiling showed an in-memory-cached array<long> column costs
  // MORE to re-read (columnar array decode) than recomputing the
  // expression from the parquet scan. Only small SCALAR tables (pairs,
  // clusters) are worth pinning.

  /** int8-quantized embeddings table (= x26's projection) — the
    * curation family's other shared stage: x26 reports it, x31 joins
    * its scales, x39 publishes it into every stream work dir. One
    * quantization pass per (session, dir) instead of one per query
    * invocation. */
  private def quantizedEmb(s: SparkSession, dir: String): DataFrame =
    memoized(s, dir, "quantized_emb")(
      Similarity.quantizeInt8(t(s, dir, "embeddings"),
        "vec_id", "embedding"))

  /** LSH candidate pairs (8 bands × 4 rows, no est filter) = x06. */
  private def lshCands(s: SparkSession, dir: String): DataFrame =
    memoized(s, dir, "lsh_cands")(
      Dedup.minhashLsh(t(s, dir, "documents"), "doc_id", "text",
        bands = 8, rowsPerBand = 4))

  /** Verified near-dup pairs (est ≥ 0.25, jaccard ≥ 0.4) = x16. */
  private def verifiedPairs(s: SparkSession, dir: String): DataFrame =
    memoized(s, dir, "verified_pairs")(
      Dedup.verifyCandidates(t(s, dir, "documents"), "doc_id", "text",
        lshCands(s, dir).filter(col("est_jaccard") >= 0.25),
        minJaccard = 0.4))

  /** Resolved clusters over all documents = x18 (feeds x27). */
  private def docClusters(s: SparkSession, dir: String): DataFrame =
    memoized(s, dir, "clusters")(
      Dedup.resolveClusters(t(s, dir, "documents"), "doc_id",
        verifiedPairs(s, dir)))

  // ---------- shared SQL fragments (mirrors of TextFunctions) ----------

  /** tokens(text) — whitespace split of trimmed text, empty-safe. */
  private def tokSql(c: String) =
    s"CASE WHEN length(trim($c)) = 0 THEN [] ELSE regexp_split_to_array(trim($c), '\\s+') END"

  /** md5Hash60(x) mod m */
  private def h60Sql(x: String, m: Long) =
    s"(('0x' || substr(md5($x), 1, 15))::BIGINT % $m)"

  /** mirrors Chunking.cdcChunks (w=8, mask=63): CDC chunk CTE chain
    * over a preceding CTE `d($carry, text)` pre-filtered to
    * length(text) > 0 — emits `c($carry, clen, chash)`. Shared by
    * x249 (per-source stats) and x256 (incremental ledger) so the
    * boundary rule cannot drift between the two oracles. The boundary
    * hash is the winnow polynomial (Σ cp·31^j over the window ending
    * at i — the winnowFpsSql recipe), which the engine computes as a
    * TRUE rolling update in [[graft.plans.CdcBoundaries]]. */
  private def cdcChunkSql(carry: String): String = {
    val w = 8
    val pow31 = (0 until w).map(j => math.pow(31, j).toLong)
    val hsum = (0 until w).map(j =>
      s"(ascii(text[i - ${w - 1 - j} : i - ${w - 1 - j}])::BIGINT) * ${pow31(j)}")
      .mkString(" + ")
    s"""b AS (
       |  SELECT $carry, text,
       |    CASE WHEN length(text) <= $w THEN [length(text)]
       |    ELSE list_sort(list_distinct(list_concat(
       |      list_filter(generate_series($w, length(text)),
       |        i -> ($hsum) % 64 = 0),
       |      [length(text)]))) END AS bnds
       |  FROM d),
       |c0 AS (
       |  SELECT $carry, text, bnds,
       |    unnest(generate_series(1, len(bnds))) AS k
       |  FROM b),
       |c AS (
       |  SELECT $carry,
       |    bnds[k] - coalesce(bnds[k-1], 0) AS clen,
       |    ${h60Sql(
        "substr(text, coalesce(bnds[k-1], 0) + 1, " +
          "bnds[k] - coalesce(bnds[k-1], 0))",
        1152921504606846976L)} AS chash
       |  FROM c0)""".stripMargin
  }

  private def stopRegexSql(words: Seq[String]) =
    "'\\b(" + words.mkString("|") + ")\\b'"

  private def hitsSql(lang: String, c: String = "text") =
    s"len(regexp_extract_all(lower($c), ${stopRegexSql(TextFunctions.stopwords.toMap.apply(lang))}))"

  /** x20's session gap: 12 h — the sf0.01 median inter-event gap per
    * user is ~7.3 h, so sessions are multi-event but plural per user. */
  private val SessionGapMs: Long = 12L * 3600 * 1000

  /** Count–min sketch shape shared by x85's Spark and oracle sides. */
  private val CmsDepth = 4
  private val CmsWidth = 1024L
  private val CmsTopK = 50

  /** x90's PMI support floor and result size. */
  private val PmiMinCount = 5L
  private val PmiTopK = 100

  /** x92's containment threshold ("short doc mostly inside long"). */
  private val ContainMin = 0.5

  /** x93's absolute edit-distance cap — bounds the O(n·m) DP per
    * candidate pair regardless of document length. */
  private val EditDistMax = 400

  /** x94's curriculum band count. */
  private val CurriculumPhases = 10

  /** x98's priority-sample size. */
  private val PrioK = 100

  /** x99's synthetic shared lines (keep-first needs multi-line docs and
    * corpus-wide repeats; the natural texts are single-line). Shared by
    * the Spark closure and the oracle SQL — one edit point. */
  private val KeepFirstHeader = "begin log excerpt"
  private val KeepFirstFooterEven = "all rights reserved"
  private val KeepFirstFooterOdd = "privacy policy"

  /** x101's hard-negative depth (queries = vec_id < 5, as x08). */
  private val HardNegK = 10

  /** x102's distinct-n diversity order. */
  private val DistinctN = 3

  /** x103's reciprocal-rank-fusion constant and result size (ranker
    * depth is x63's 20). */
  private val RrfC = 60
  private val RrfK = 10

  /** x105's histogram bin count. */
  private val HistBins = 20

  /** x106's correlation column list (over documents-derived signals)
    * with PER-COLUMN quantization bits (integer-valued signals take 0 —
    * Pearson's per-column scale invariance makes mixed scales free and
    * keeps the Σx² sums inside Int64); x107 shares the 2^20 scale. */
  private val CorrCols = Seq("n_chars", "n_tok", "cls_prob")
  private val CorrQBits = Map("n_chars" -> 0, "n_tok" -> 0,
    "cls_prob" -> 20)
  private val Q20 = "1048576.0" // 2^20, rendered for the SQL side

  /** x107's MAD fence multiplier. */
  private val MadK = 3.0

  /** x126's portable-HLL precision: p = 8 → 256 registers, ~6.5 %
    * standard error — and the register sum stays exact-integer
    * (m·2^(61−p) < 2^63, see [[Sketches.hllEstimate]]). */
  private val HllP = 8

  /** x127's Jelinek–Mercer interpolation weights (trigram, bigram,
    * add-1 unigram). */
  private val TriL3 = 0.7
  private val TriL2 = 0.2
  private val TriL1 = 0.1

  /** x133's RBO shape: compare rankings to depth 20, persistence
    * p = 0.9, weight (1−p) written as its own literal 0.1. */
  private val RboDepth = 20
  private val RboP = 0.9
  private val RboW = 0.1

  /** x137's search needles (all ≥ 3 chars — the documented floor of a
    * trigram index; the last is a planted miss). */
  private val GramQueries = Seq(
    ("q1", "merge batch"), ("q2", "vector table"), ("q3", "zqx never"))

  /** x139's sparse-cosine shape: candidate pairs need one shared term
    * with df ≤ CosMaxDf (the prefix-filter valve — stopword posting
    * lists never self-join), weights quantized ×CosQ, keep pairs with
    * cosine ≥ CosMinBp/100 via exact 128-bit integer compare. */
  private val CosMaxDf = 50L
  private val CosMinBp = 50
  private val CosQ = 1
  private val CosIdfCap = 10000.0

  /** x140's zone-map shape: events range-clustered by user_id into
    * ZmFiles files; the probe band [ZmLo, ZmHi] covers ~20 % of the
    * sf0.01 user range, so a clustered layout must skip files. */
  private val ZmFiles = 8
  private val ZmLo = 30L
  private val ZmHi = 59L

  /** x141's runtime-filter window: ~1.2 % of orders at any sf (one
    * month of a ~80-month order range). */
  private val BloomJoinLo = "1997-03-01"
  private val BloomJoinHi = "1997-04-01"

  /** x144's bucket count (both sides MUST match for the SMB path). */
  private val SmbBuckets = 8

  /** x146's coreset size and quantization (2^10 keeps every squared
    * distance an exact integer at embedding magnitudes). */
  private val KCenterK = 8
  private val KCenterQBits = 10

  /** x147's power-iteration rounds (fixed work, not a convergence
    * test) and quantization. */
  private val PcaIters = 6
  private val PcaQBits = 10

  /** x148's perceptual-hash shape: 32 pooled "pixels" → 32-bit aHash,
    * 4 × 8-bit candidate bands, hamming verify cap. */
  private val PhashPools = 32
  private val PhashMaxHamming = 6

  /** x156's ledger shape: three arrival batches over events, residues
    * {k, 3} of event_id % 4 — so batch 0 seeds, and batches 1..2 each
    * REDELIVER the %4==3 rows (the real dups the ledger must flag,
    * beyond its deterministic FPs). */
  private val LedgerBatches = 3

  /** x156's oracle: replay the ledger as position SETS (x51's
    * bitmap-free mirror) — ledger_b = distinct positions of batches
    * ≤ b; a batch-b row is flagged iff ALL BloomK of its positions are
    * already in ledger_{b−1}. FPs fall out identically because the
    * position math is [[BloomFilter.positionSql]] on both engines. */
  private def bloomLedgerSql: String = {
    val h = h60Sql("CAST(event_id AS VARCHAR)", 1152921504606846976L)
    def batchCond(b: Int) = s"(event_id % 4 = $b OR event_id % 4 = 3)"
    val ctes = (0 until LedgerBatches).map { b =>
      val probe =
        if (b == 0)
          // empty ledger: nothing can be flagged
          s"f$b AS (SELECT CAST(0 AS BIGINT) AS n_dup)"
        else {
          val prior = (0 until b).map(p => s"SELECT pos FROM p$p")
            .mkString(" UNION ")
          s"""led$b AS (SELECT DISTINCT pos FROM ($prior)),
             |pr$b AS (
             |  SELECT event_id, h,
             |    ${BloomFilter.positionSql("h", "j", BloomM)} AS pos
             |  FROM b$b, unnest(generate_series(0, ${BloomK - 1})) AS u(j)),
             |f$b AS (
             |  SELECT CAST(count(*) AS BIGINT) AS n_dup FROM (
             |    SELECT event_id FROM pr$b JOIN led$b USING (pos)
             |    GROUP BY event_id, h HAVING count(*) = $BloomK))"""
            .stripMargin
        }
      s"""b$b AS (
         |  SELECT event_id, $h AS h FROM events WHERE ${batchCond(b)}),
         |p$b AS (
         |  SELECT DISTINCT ${BloomFilter.positionSql("h", "j", BloomM)}
         |    AS pos
         |  FROM (SELECT DISTINCT h FROM b$b),
         |       unnest(generate_series(0, ${BloomK - 1})) AS u(j)),
         |$probe,
         |r$b AS (
         |  SELECT CAST($b AS INT) AS batch_id,
         |    (SELECT CAST(count(*) AS BIGINT) FROM b$b) AS n_rows,
         |    n_dup AS n_dup_flagged
         |  FROM f$b)""".stripMargin
    }.mkString(",\n")
    val union = (0 until LedgerBatches)
      .map(b => s"SELECT * FROM r$b").mkString(" UNION ALL ")
    s"""WITH $ctes
       |SELECT batch_id, n_rows, n_dup_flagged FROM ($union)
       |ORDER BY batch_id""".stripMargin
  }

  /** x157's packing budget (tokens per training chunk). */
  private val SentChunkBudget = 40L

  /** x166's training-sequence length. */
  private val TrainSeqLen = 256L

  /** x175's sorted-neighborhood shape: block = nation, window rows,
    * and which custkeys get a planted dirty twin (last name char →
    * 'x', balance +1.5 — a typo plus drift, the linkage case). */
  private val SnmWindow = 3
  private val SnmDirtyMod = 250

  /** x176/x181's reliability/PSI bin count. */
  private val CalBins = 10

  /** x178's local-neighborhood depth for the margin denominator, and
    * the mined-batch bound (the x08 convention: the LEFT side of the
    * exact pairing is a fixed batch, not the corpus — full-corpus
    * mining goes through ANN candidates; the unbounded exact form is
    * ScaleStress's measured-quadratic row, 198 s at sf1). */
  private val MarginK = 4
  private val MarginBatch = 200L

  /** x200's candidate depth: ANN (stored-IVF) candidates per left row
    * that the margin math scores — the production composition's O(|A|·k)
    * edge budget (vs x178's |A|·|B| exact baseline). */
  private val MarginCandK = 8

  /** x202's lookup key range — narrow enough that the manifest's
    * per-file key zones MUST prune (the in-query require). */
  private val ManifestLookupLo = 100L
  private val ManifestLookupHi = 300L

  /** x204's Dirichlet smoothing mass (the Zhai–Lafferty default). */
  private val QlMu = 2000.0

  /** x205's HITS iteration count (fixed work, the x69 discipline). */
  private val HitsIters = 4

  /** x206's per-source keyword budget. */
  private val KeynessK = 5

  /** x208's diversity floor (distinct sensitive values per group). */
  private val LDivL = 3

  /** x211's per-source sample size. */
  private val ReservoirK = 5

  /** x212's reported vocabulary depth. */
  private val NegSampleN = 100

  /** x213's privacy budget (b = 1/ε). */
  private val LapEps = 1.0

  /** x179's fingerprint shape: energy frame width, peak-pair fan-out
    * window, match threshold, bucket valve, and which doc_ids get a
    * byte-identical re-upload twin (negative id, same PCM). */
  private val FpFrame = 4
  private val FpFanout = 8
  private val FpMinMatches = 4
  private val FpMaxBucket = 64
  private val FpDupMod = 83

  /** x180's vocabulary-growth checkpoint count. */
  private val HeapsChk = 10

  /** x182's tercile edges (pctl < 1/3 → head, < 2/3 → middle). */
  private val CcnetLo = 1.0 / 3.0
  private val CcnetHi = 2.0 / 3.0

  /** x189's profile width / x190's term budget. */
  private val SrcSimTopK = 50
  private val BurstTopK = 100

  /** x193's k and generalization bucket; x196's seat budget. */
  private val KAnonK = 5
  private val QuotaTotal = 100L

  /** x198's MM iteration count (fixed work, not a convergence test —
    * the x69/x147 discipline). */
  private val BtIters = 8

  /** x198's oracle: consecutive-doc preference pairs judged by the
    * frozen classifier (ties → the lower doc id's source wins), win
    * matrix, then [[Preference.bradleyTerry]]'s MM iterations
    * unrolled CTE by CTE with every float fold in item-sorted order
    * and the vector re-rounded to 1e-6 per round. */
  private def btSql: String = {
    val steps = (1 to BtIters).map { k =>
      s"""d$k AS MATERIALIZED (
         |  SELECT nb.a AS item,
         |    list_reduce(list_prepend(0.0, list_transform(
         |      list_sort(list(struct_pack(b := nb.b,
         |        t := CASE WHEN nb.n = 0 THEN 0.0
         |          ELSE nb.n / (pa.p + pb.p) END))),
         |      s -> s.t)), (x, y) -> x + y) AS denom
         |  FROM nb JOIN p${k - 1} pa ON pa.item = nb.a
         |  JOIN p${k - 1} pb ON pb.item = nb.b
         |  GROUP BY nb.a),
         |u$k AS MATERIALIZED (
         |  SELECT w0.item,
         |    CASE WHEN d.denom = 0.0 THEN pp.p
         |      ELSE w0.wa / d.denom END AS pu
         |  FROM w0 JOIN d$k d USING (item)
         |  JOIN p${k - 1} pp USING (item)),
         |z$k AS MATERIALIZED (
         |  SELECT list_reduce(list_prepend(0.0, list_transform(
         |    list_sort(list(struct_pack(item := item, t := pu))),
         |    s -> s.t)), (x, y) -> x + y) AS z FROM u$k),
         |p$k AS MATERIALIZED (
         |  SELECT item, floor(pu / z * 1000000.0 + 0.5) / 1000000.0 AS p
         |  FROM u$k, z$k)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${classifierCtes("documents")},
       |ds AS (
       |  SELECT d.doc_id, d.source, cp.cls_prob
       |  FROM documents d JOIN cp USING (doc_id)),
       |comp AS (
       |  SELECT CASE WHEN a.cls_prob >= b.cls_prob THEN a.source
       |              ELSE b.source END AS winner,
       |         CASE WHEN a.cls_prob >= b.cls_prob THEN b.source
       |              ELSE a.source END AS loser
       |  FROM ds a JOIN ds b ON b.doc_id = a.doc_id + 1
       |  WHERE a.source <> b.source),
       |wm AS (
       |  SELECT winner, loser, CAST(count(*) AS BIGINT) AS w
       |  FROM comp GROUP BY winner, loser),
       |items AS (SELECT DISTINCT item FROM (
       |  SELECT winner AS item FROM wm UNION SELECT loser FROM wm)),
       |nb AS (
       |  SELECT a.item AS a, b.item AS b,
       |    CAST(coalesce(w1.w, 0) + coalesce(w2.w, 0) AS BIGINT) AS n
       |  FROM items a JOIN items b ON a.item <> b.item
       |  LEFT JOIN wm w1 ON w1.winner = a.item AND w1.loser = b.item
       |  LEFT JOIN wm w2 ON w2.winner = b.item AND w2.loser = a.item),
       |w0 AS (
       |  SELECT i.item, CAST(coalesce(s.wa, 0) AS BIGINT) AS wa
       |  FROM items i LEFT JOIN (
       |    SELECT winner AS item, sum(w) AS wa FROM wm GROUP BY winner) s
       |  USING (item)),
       |ni AS (SELECT count(*) AS n FROM items),
       |p0 AS (
       |  SELECT item, floor(1.0 / n * 1000000.0 + 0.5) / 1000000.0 AS p
       |  FROM items, ni),
       |$steps,
       |ncmp AS (
       |  SELECT a AS item, CAST(sum(n) AS BIGINT) AS nc
       |  FROM nb GROUP BY a)
       |SELECT w0.item, w0.wa AS n_wins, ncmp.nc AS n_comparisons,
       |  p$BtIters.p AS bt_strength
       |FROM w0 JOIN ncmp USING (item) JOIN p$BtIters USING (item)
       |ORDER BY item""".stripMargin
  }

  /** x195's planted link rows: four spellings of ONE canonical
    * article URL (tracking params, fragment, default port, trailing
    * slash) plus two spellings of a non-default-port API URL. */
  private val CanonUrlDocs: Seq[(Long, String)] = Seq(
    -41L -> ("read https://Example.com/Article?utm_source=feed" +
      "&utm_campaign=x now"),
    -42L -> "see https://example.com/Article#section2 too",
    -43L -> "and https://example.com:443/article?fbclid=abc123",
    -44L -> "plus https://example.com/article/",
    -45L -> "api at http://svc.example.com:8080/v1?q=1&utm_ref=z",
    -46L -> "other http://svc.example.com:8080/v1?q=1")

  /** [[graft.functions.TextFunctions.urlCanonRules]] rendered as the
    * DuckDB regexp_replace fold (the 'g' flag — DuckDB replaces first
    * match by default, Spark replaces all). */
  private def urlCanonSql(c: String): String =
    graft.functions.TextFunctions.urlCanonRules.foldLeft(s"lower($c)") {
      case (acc, (p, r)) =>
        s"regexp_replace($acc, '${p.replace("'", "''")}', '$r', 'g')"
    }

  /** x188's planted template families (the natural corpus is
    * single-line, so cross-doc line recurrence needs planting — the
    * x99 precedent): two templates with shared skeleton lines and
    * per-instance variable lines, plus one skeleton-free doc that
    * must NOT cluster. Same Scala strings interpolate into the SQL
    * VALUES (real newlines are legal inside SQL string literals). */
  private val TemplateDocs: Seq[(Long, String)] = Seq(
    -11L -> "header alpha\nnav home about\nuser page one\nfooter copyright",
    -12L -> "header alpha\nnav home about\nuser page two extra\nfooter copyright",
    -13L -> "header alpha\nnav home about\nanother variable body\nfooter copyright",
    -21L -> "log start\nsession data 111\nlog end",
    -22L -> "log start\nsession data 222\nlog end",
    -31L -> "unique doc\nno shared lines at all")

  /** x64's DSIR importance-weight CTEs ending in
    * `dw(doc_id, n_tok, logw)` — shared by x64 and the ESS diagnostic
    * (x185) so the weights the diagnostic audits are EXACTLY the
    * weights the sampler emits. */
  private def dsirCtes: String =
    s"""tk AS (
       |  SELECT doc_id, tgt, ${h60Sql("t", DsirBuckets)} AS h FROM (
       |    SELECT doc_id, lang = 'en' AS tgt,
       |           unnest(${tokSql("lower(text)")}) AS t
       |    FROM documents)),
       |tot AS (
       |  SELECT count(*) AS ts,
       |         coalesce(sum(CASE WHEN tgt THEN 1 ELSE 0 END), 0) AS tt
       |  FROM tk),
       |g AS (
       |  SELECT h, count(*) AS cs,
       |         CAST(sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT) AS ct
       |  FROM tk GROUP BY h),
       |dc AS (SELECT doc_id, h, count(*) AS c FROM tk GROUP BY doc_id, h),
       |per AS (
       |  SELECT dc.doc_id,
       |    CAST(sum(dc.c) AS BIGINT) AS n_tok,
       |    list_sort(list(struct_pack(h := dc.h, c := dc.c,
       |                               ct := g.ct, cs := g.cs))) AS arr
       |  FROM dc JOIN g USING (h) GROUP BY dc.doc_id),
       |w AS (
       |  SELECT doc_id, n_tok,
       |    floor(list_reduce(list_prepend(0.0, list_transform(arr, s ->
       |        s.c * (ln((s.ct + 1.0) / (tt + $DsirBuckets))
       |             - ln((s.cs + 1.0) / (ts + $DsirBuckets))))),
       |      (a, x) -> a + x) * 10000.0 + 0.5) / 10000.0 AS logw
       |  FROM per, tot),
       |dw AS (
       |  SELECT d.doc_id,
       |         coalesce(w.n_tok, 0) AS n_tok,
       |         coalesce(w.logw, 0.0) AS logw
       |  FROM documents d LEFT JOIN w USING (doc_id))""".stripMargin

  /** Gopher rule-gate CTEs ending in `g(doc_id, keep)` over `src` —
    * the x32/x165 fragment, shared so the label-QC queries (x176,
    * x182) judge against the SAME gate the rule ops implement. */
  private def gopherKeepCtes(src: String): String =
    s"""gtk AS (
       |  SELECT doc_id, unnest(${tokSql("text")}) AS t FROM $src),
       |gper AS (
       |  SELECT doc_id, t, count(*) AS c FROM gtk GROUP BY 1, 2),
       |gagg AS (
       |  SELECT doc_id, sum(c) AS n_tok,
       |    floor(sum(length(t) * c) * 1.0 / sum(c) * 10000.0 + 0.5)
       |      / 10000.0 AS mean_tok_len,
       |    floor(max(c) * 1.0 / sum(c) * 10000.0 + 0.5) / 10000.0
       |      AS max_freq_ratio,
       |    floor(sum(CASE WHEN regexp_matches(t, '[A-Za-z]')
       |        THEN c ELSE 0 END) * 1.0 / sum(c) * 10000.0 + 0.5)
       |      / 10000.0 AS alpha_ratio
       |  FROM gper GROUP BY doc_id),
       |g AS (
       |  SELECT d.doc_id,
       |    (coalesce(n_tok, 0) BETWEEN 50 AND 100000
       |     AND coalesce(mean_tok_len, 0.0) BETWEEN 3.0 AND 10.0
       |     AND coalesce(max_freq_ratio, 0.0) <= 0.2
       |     AND coalesce(alpha_ratio, 0.0) >= 0.8) AS keep
       |  FROM $src d LEFT JOIN gagg USING (doc_id))""".stripMargin

  /** x153's planted non-Latin rows (the natural corpus is
    * Latin-dominated). The SQL VALUES interpolate these SAME Scala
    * strings, so both engines see identical bytes. */
  private val ScriptDocs: Seq[(Long, String)] = Seq(
    -1L -> "Привет мир 2024",
    -2L -> "你好世界 テスト",
    -3L -> "mixed Привет hello 123")

  private def ScriptDocsSqlValues: String = ScriptDocs.map {
    case (id, t) => s"(CAST($id AS BIGINT), '${t.replace("'", "''")}')"
  }.mkString(", ")

  /** x164's planted link rows (the natural corpus carries no URLs);
    * hosts exercise subdomain folding (docs/www/cdn → example.com),
    * a second registered domain, ports/paths/query noise. */
  private val UrlDocs: Seq[(Long, String)] = Seq(
    -1L -> ("see https://docs.example.com/guide and " +
      "https://www.example.com/page?a=1 plus http://blog.other.org/post"),
    -2L -> "mirror at https://cdn.example.com:8443/file.bin text",
    -3L -> "no links here")

  /** x147's oracle: the exact-integer scatter matrix, then PcaIters
    * power-iteration rounds unrolled CTE by CTE with every float fold
    * in EXPLICIT ascending-index order and the vector re-rounded to
    * 1e-6 per round — the same ordered arithmetic
    * [[graft.operators.Pca.topComponent]] runs on the driver. */
  private def pcaCtes: String = {
    val q = s"${1L << PcaQBits}.0"
    val steps = (1 to PcaIters).map { r =>
      s"""w$r AS MATERIALIZED (
         |  SELECT mm.i, list_reduce(list_prepend(0.0, list_transform(
         |      list_sort(list(struct_pack(j := mm.j, t := mm.m * vv.v))),
         |      s -> s.t)), (a, x) -> a + x) AS w
         |  FROM mm JOIN v${r - 1} vv ON vv.j = mm.j GROUP BY mm.i),
         |n$r AS MATERIALIZED (
         |  SELECT sqrt(list_reduce(list_prepend(0.0, list_transform(
         |      list_sort(list(struct_pack(i := i, t := w * w))),
         |      s -> s.t)), (a, x) -> a + x)) AS nrm FROM w$r),
         |v$r AS MATERIALIZED (
         |  SELECT i AS j, floor(w / nrm * 1000000.0 + 0.5) / 1000000.0 AS v
         |  FROM w$r, n$r)""".stripMargin
    }.mkString(",\n")
    s"""WITH xq AS MATERIALIZED (
       |  SELECT list_transform(embedding,
       |    x -> CAST(floor(CAST(x AS DOUBLE) * $q + 0.5) AS BIGINT)) AS v
       |  FROM embeddings
       |  WHERE embedding IS NOT NULL AND len(embedding) > 0),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM xq),
       |e1 AS (SELECT v, unnest(generate_series(1, len(v))) AS i FROM xq),
       |e2 AS (SELECT v, i, unnest(generate_series(1, len(v))) AS j
       |  FROM e1),
       |sums AS (SELECT i, j, sum(v[i] * v[j]) AS s FROM e2 GROUP BY i, j),
       |tots AS (SELECT i, sum(v[i]) AS t FROM e1 GROUP BY i),
       |mm AS (
       |  SELECT CAST(su.i - 1 AS INT) AS i, CAST(su.j - 1 AS INT) AS j,
       |    CAST(nn.n * su.s - ta.t * tb.t AS DOUBLE) AS m
       |  FROM sums su JOIN tots ta ON ta.i = su.i
       |  JOIN tots tb ON tb.i = su.j CROSS JOIN nn),
       |v0 AS (SELECT DISTINCT i AS j, 1.0 AS v FROM mm),
       |$steps""".stripMargin
  }

  private def pcaSql: String =
    s"""$pcaCtes
       |SELECT CAST(j AS INT) AS pos, v AS loading FROM v$PcaIters
       |ORDER BY pos""".stripMargin

  /** x151: project every embedding onto the trained component — the
    * whitening read path. Same ordered-fold float discipline as the
    * training CTEs. */
  private def pcaProjectSql: String =
    s"""$pcaCtes,
       |comp AS (SELECT CAST(j AS INT) AS pos, v AS loading
       |  FROM v$PcaIters)
       |SELECT e.vec_id,
       |  floor(list_reduce(list_prepend(0.0, list_transform(
       |    list_sort(list(struct_pack(p := c.pos,
       |      t := c.loading * CAST(e.embedding[c.pos + 1] AS DOUBLE)))),
       |    s -> s.t)), (a, x) -> a + x) * 10000.0 + 0.5) / 10000.0
       |    AS proj
       |FROM embeddings e CROSS JOIN comp c
       |GROUP BY e.vec_id ORDER BY vec_id""".stripMargin

  /** x146's oracle: the k−1 farthest-point rounds unrolled CTE by CTE
    * (the x128/x69 iterative-replay pattern) — each round computes
    * min-distance-to-selected over exact quantized integers and picks
    * the max (min vec_id tiebreak), exactly as
    * [[Similarity.kCenterSelect]] does. */
  private def kCenterSql: String = {
    val q = s"${1L << KCenterQBits}.0"
    def d2(qv: String, sv: String) =
      s"list_sum(list_transform(generate_series(1, len($qv)), " +
        s"i -> ($qv[i] - $sv[i]) * ($qv[i] - $sv[i])))"
    val steps = (2 to KCenterK).map { r =>
      s"""m$r AS MATERIALIZED (
         |  SELECT q.vec_id, min(${d2("q.v", "s.v")}) AS mind
         |  FROM xq q, xq s
         |  JOIN selu${r - 1} u ON s.vec_id = u.vec_id
         |  WHERE q.vec_id NOT IN (SELECT vec_id FROM selu${r - 1})
         |  GROUP BY q.vec_id),
         |sel$r AS MATERIALIZED (
         |  SELECT CAST($r AS INT) AS rank, vec_id,
         |    CAST(mind AS BIGINT) AS min_dist_q
         |  FROM (
         |    SELECT vec_id, mind,
         |      row_number() OVER (ORDER BY mind DESC, vec_id) AS rn
         |    FROM m$r) WHERE rn = 1),
         |selu$r AS MATERIALIZED (
         |  SELECT rank, vec_id, min_dist_q FROM selu${r - 1}
         |  UNION ALL SELECT rank, vec_id, min_dist_q FROM sel$r)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH xq AS MATERIALIZED (
       |  SELECT vec_id, list_transform(embedding,
       |    x -> CAST(floor(CAST(x AS DOUBLE) * $q + 0.5) AS BIGINT)) AS v
       |  FROM embeddings),
       |sel1 AS (SELECT CAST(1 AS INT) AS rank, min(vec_id) AS vec_id,
       |  CAST(0 AS BIGINT) AS min_dist_q FROM xq),
       |selu1 AS (SELECT rank, vec_id, min_dist_q FROM sel1),
       |$steps
       |SELECT rank, vec_id, min_dist_q FROM selu$KCenterK
       |ORDER BY rank""".stripMargin
  }

  /** x145's planted HTML rows (the natural corpus is markup-free);
    * ids below the natural range, exercised rules: script/style
    * payload removal, comments, nested tags, the entity table. Shared
    * verbatim by the Spark closure and the oracle VALUES. */
  private val HtmlDocs: Seq[(Long, String)] = Seq(
    -1L -> ("<html><head><title>T</title><style>p{color:red}</style>" +
      "</head><body><p>Hello &amp; welcome</p><script>var x=1;</script>" +
      "<!-- note --><p>Second &lt;b&gt;para&#39;s &quot;text&quot;" +
      "&nbsp;here</p></body></html>"),
    -2L -> "No markup, just text",
    -3L -> "<div class=\"a\"><span>nested <b>bold</b> words</span></div>")

  /** [[TextFunctions.htmlToText]] mirrored into DuckDB SQL from the
    * SAME pattern/entity constants (the shared-fragment no-drift
    * rule). */
  private def htmlToTextSql(c: String): String = {
    val stripped = TextFunctions.htmlStripPatterns.foldLeft(c)((acc, p) =>
      "regexp_replace(" + acc + ", '" + p + "', ' ', 'g')")
    val decoded = TextFunctions.htmlEntities.foldLeft(stripped) {
      case (acc, (e, r)) =>
        "replace(" + acc + ", '" + e + "', '" + r.replace("'", "''") + "')"
    }
    "trim(regexp_replace(regexp_replace(" + decoded +
      ", '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]', '', 'g'), " +
      "'\\s+', ' ', 'g'))"
  }

  /** x128's MMR shape: relevance pool 20 per query, keep 10, with
    * EXPLICIT relevance/diversity weights (μ is not 1−λ: the IEEE
    * double 1.0−0.7 is not 0.3, and both engines write the literal). */
  private val MmrK = 10
  private val MmrPool = 20
  private val MmrLambda = 0.7
  private val MmrMu = 0.3

  /** x108's co-occurrence result size. */
  private val CoocK = 20

  /** x109's coverage-curve depth. */
  private val VocabCoverN = 100

  /** x110's shard count. */
  private val ShardCount = 16

  /** x112's stream-stream join time bound. */
  private val StreamJoinBoundMs = 1800000L

  /** x113's TWAP value quantization (2^10 — exact integer weighted
    * sums at event-stream value ranges). */
  private val TwapQBits = 10

  /** x29's deterministic window derivation: every `RangeEvery`-th event
    * opens a `RangeWinMs` window, bucketized at `RangeBucketMs`. Shared
    * by the SQL string and the Spark closure (one edit point — the
    * file-header no-drift rule). Declared BEFORE `all`: vals
    * interpolate into the SQL strings at object init. */
  private val RangeWinMs = 1800000L
  private val RangeEvery = 50
  private val RangeBucketMs = 3600000L

  /** x30's KMV parameters: 64 minima over a 2^40 hash space. */
  private val KmvK = 64
  private val KmvM = 1099511627776L

  /** x51's Bloom parameters: 64 Kbit bitmap, 3 hash functions — shared
    * by the Spark call and the oracle SQL (via BloomFilter.positionSql)
    * so the two sides cannot drift. */
  private val BloomM = 1 << 16
  private val BloomK = 3

  /** x63's BM25 query + parameters (interpolated Scala doubles render
    * shortest-round-trip, so DuckDB parses bit-identical constants). */
  private val Bm25Terms = Seq("merge", "vector", "spark")
  private val Bm25K1 = 1.2
  private val Bm25B = 0.75

  /** x63's BM25 scored CTE chain (`dl` … `scored(doc_id, score)`) —
    * shared by the x63 oracle and the x103 fusion oracle so the scorer
    * cannot drift between them. */
  private def bm25ScoredSql: String = {
    val ts = Bm25Terms
    val tfCols = ts.zipWithIndex.map { case (t, i) =>
      s"sum(CASE WHEN term = '$t' THEN 1 ELSE 0 END) AS tf$i" }.mkString(", ")
    val dfCols = ts.indices.map(i =>
      s"sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS df$i").mkString(", ")
    val idfCols = ts.indices.map(i =>
      s"floor(ln(1 + (n - df$i + 0.5) / (df$i + 0.5)) * 1000000.0 + 0.5) / 1000000.0 AS idf$i")
      .mkString(",\n    ")
    val parts = ts.indices.map(i =>
      s"idf$i * (tf$i * ${Bm25K1 + 1.0}) / (tf$i + $Bm25K1 * (${1.0 - Bm25B} + $Bm25B * dl / avgdl))")
      .mkString("\n      + ")
    s"""dl AS (
       |  SELECT doc_id, CAST(len(${tokSql("lower(text)")}) AS BIGINT) AS dl
       |  FROM documents),
       |st AS (SELECT count(*) AS n, sum(dl) * 1.0 / count(*) AS avgdl FROM dl),
       |tk AS (SELECT doc_id, unnest(${tokSql("lower(text)")}) AS term FROM documents),
       |tf AS (
       |  SELECT doc_id, $tfCols
       |  FROM tk WHERE term IN (${ts.map(t => s"'$t'").mkString(", ")})
       |  GROUP BY doc_id),
       |dfs AS (SELECT $dfCols FROM tf),
       |idf AS (
       |  SELECT $idfCols
       |  FROM dfs, st),
       |scored AS (
       |  SELECT doc_id,
       |    floor(($parts) * 10000.0 + 0.5) / 10000.0 AS score
       |  FROM tf JOIN dl USING (doc_id), idf, st)""".stripMargin
  }

  /** The x103 second ranker's scored CTE chain (log-free tf·idf,
    * mirroring [[TfIdf.queryScoreTopK]]): CTE names suffixed `x` so the
    * chain composes with [[bm25ScoredSql]] in one WITH. */
  private def tfidfScoredSql: String = {
    val ts = Bm25Terms
    val tfCols = ts.zipWithIndex.map { case (t, i) =>
      s"sum(CASE WHEN term = '$t' THEN 1 ELSE 0 END) AS tf$i" }.mkString(", ")
    val dfCols = ts.indices.map(i =>
      s"sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS df$i").mkString(", ")
    val parts = ts.indices.map(i =>
      s"CASE WHEN df$i = 0 THEN 0.0 ELSE tf$i * (n * 1.0 / df$i) END")
      .mkString("\n      + ")
    s"""nx AS (SELECT count(*) AS n FROM documents),
       |tkx AS (SELECT doc_id, unnest(${tokSql("lower(text)")}) AS term FROM documents),
       |tfx AS (
       |  SELECT doc_id, $tfCols
       |  FROM tkx WHERE term IN (${ts.map(t => s"'$t'").mkString(", ")})
       |  GROUP BY doc_id),
       |dfx AS (SELECT $dfCols FROM tfx),
       |scoredx AS (
       |  SELECT doc_id,
       |    floor(($parts) * 10000.0 + 0.5) / 10000.0 AS score
       |  FROM tfx, dfx, nx)""".stripMargin
  }

  /** x64's DSIR hashed-feature space (buckets of the unigram hash). */
  private val DsirBuckets = 1024

  /** x65's boilerplate doc-frequency threshold (planted footers hit
    * ~250–500 docs at sf0.01; natural full-text dup lines stay < 10). */
  private val BoilerMinDocs = 50

  /** x82's JSD hash space (fixed — per-group state is exactly this
    * many integers regardless of corpus size). */
  private val JsdBuckets = 512

  /** x69's PageRank damping (rendered into the SQL as the same literal
    * the Spark side uses, so both engines compute 1.0 − d identically). */
  private val PrDamping = 0.85

  /** x74/x75's BPE merge budget. */
  private val BpeMerges = 20

  /** BPE training is eager (one argmax collect per merge), so x74 and
    * x75 share one training per (session, dir) — same discipline as
    * the dedup family memo, with the same dead-session sweep. */
  private val bpeMemo = scala.collection.mutable
    .HashMap[String, (SparkSession, Seq[graft.operators.Bpe.Merge], DataFrame)]()
  private def bpeTrained(s: SparkSession, dir: String)
      : (Seq[graft.operators.Bpe.Merge], DataFrame) = bpeMemo.synchronized {
    bpeMemo.filterInPlace { case (_, (sess, _, _)) =>
      !sess.sparkContext.isStopped }
    val k = s"${System.identityHashCode(s)}|$dir"
    bpeMemo.get(k) match {
      case Some((sess, m, v)) if sess eq s => (m, v)
      case _ =>
        val mv = graft.operators.Bpe.train(
          t(s, dir, "documents"), "text", BpeMerges)
        bpeMemo(k) = (s, mv._1, mv._2)
        mv
    }
  }

  /** x124/x125's unigram-LM shape: pieces up to 6 chars, 48 seed /
    * 24 target multi-char pieces, 3 hard-EM iterations. */
  private val UniMaxPiece = 6
  private val UniSeed = 48
  private val UniTarget = 24
  private val UniIters = 3

  /** Unigram-LM training is eager (one total-count collect per EM
    * round), so x124 and x125 share one training per (session, dir) —
    * the bpeMemo discipline. */
  private val uniMemo = scala.collection.mutable
    .HashMap[String, (SparkSession, DataFrame, DataFrame)]()
  private def uniTrained(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = uniMemo.synchronized {
    uniMemo.filterInPlace { case (_, (sess, _, _)) =>
      !sess.sparkContext.isStopped }
    val k = s"${System.identityHashCode(s)}|$dir"
    uniMemo.get(k) match {
      case Some((sess, v, wp)) if sess eq s => (v, wp)
      case _ =>
        val vwp = graft.operators.UnigramLm.train(
          t(s, dir, "documents"), "text", UniMaxPiece, UniSeed,
          UniTarget, UniIters)
        uniMemo(k) = (s, vwp._1, vwp._2)
        vwp
    }
  }

  /** The unrolled unigram-LM hard-EM chain (mirrors
    * [[graft.operators.UnigramLm]]): w0u (distinct non-fallback
    * words), charsu (coverage floor), seed counts → scored vocab
    * usc0, then per EM round r: vu_r enumerates EVERY cut mask of
    * every word (the verification-scale spec of the engine's Viterbi
    * DP — provably the same choice under the shared
    * (−score, n_pieces, path) key; see the operator scaladoc),
    * bu_r picks each word's best segmentation, ucu_r re-counts piece
    * usage, usc_r prunes (full char set floored at 1 + top
    * [[UniTarget]] multis) and re-scores. Ends at usc$UniIters /
    * bu$UniIters. */
  private def unigramTrainSql: String = {
    val head =
      s"""w0u AS MATERIALIZED (
         |  SELECT w, count(*) AS cnt, length(w) AS len FROM (
         |    SELECT unnest(${tokSql("lower(text)")}) AS w FROM documents)
         |  WHERE length(w) >= 1
         |    AND NOT contains(w, chr(31))
         |    AND NOT regexp_matches(w, '[\\x{10000}-\\x{10FFFF}]')
         |    AND length(w) <= ${graft.operators.UnigramLm.MaxTrainWordLen}
         |  GROUP BY w),
         |charsu AS MATERIALIZED (
         |  SELECT DISTINCT substr(w, i, 1) AS piece
         |  FROM w0u, unnest(generate_series(1, len)) AS u(i)),
         |seedu AS MATERIALIZED (
         |  SELECT piece, CAST(sum(cnt) AS BIGINT) AS cnt FROM (
         |    SELECT w.cnt, substr(w.w, j + 1, l) AS piece
         |    FROM w0u w,
         |         unnest(generate_series(0, w.len - 1)) AS a(j),
         |         unnest(generate_series(1, $UniMaxPiece)) AS b(l)
         |    WHERE j + l <= w.len)
         |  GROUP BY piece),
         |${keptScoredSql("usc0", "seedu", UniSeed)}""".stripMargin
    val steps = (1 to UniIters).map { r =>
      s"""vu$r AS MATERIALIZED (
         |  SELECT e.w AS w, e.cnt AS cnt, e.mask AS mask,
         |    count(*) AS np,
         |    count(sc.score) AS n_scored,
         |    list_reduce(list_prepend(0.0,
         |        list_transform(list(sc.score ORDER BY e.ord),
         |          x -> -x)), (a, b) -> a + b) AS ns,
         |    string_agg(e.piece, chr(31) ORDER BY e.ord) AS joined
         |  FROM (
         |    SELECT w, cnt, mask,
         |      unnest(pieces) AS piece,
         |      unnest(generate_series(1, len(pieces))) AS ord
         |    FROM (
         |      SELECT w, cnt, mask,
         |        list_transform(generate_series(1, len(bounds) - 1),
         |          i -> substr(w, bounds[i] + 1, bounds[i + 1] - bounds[i]))
         |          AS pieces
         |      FROM (
         |        SELECT w, cnt, len, m.mask,
         |          list_concat(list_concat([0],
         |            list_filter(generate_series(1, len - 1),
         |              b -> ((mask >> (b - 1)) & 1) = 1)), [len]) AS bounds
         |        FROM w0u,
         |          unnest(generate_series(0, (1 << (len - 1)) - 1)) AS m(mask))))
         |    e LEFT JOIN usc${r - 1} sc ON e.piece = sc.piece
         |  GROUP BY e.w, e.cnt, e.mask),
         |bu$r AS MATERIALIZED (
         |  SELECT w, cnt, np, joined FROM (
         |    SELECT w, cnt, np, joined,
         |      row_number() OVER (PARTITION BY w
         |        ORDER BY ns ASC, np ASC, joined ASC) AS rn
         |    FROM vu$r WHERE np = n_scored)
         |  WHERE rn = 1),
         |ucu$r AS MATERIALIZED (
         |  SELECT piece, CAST(sum(cnt) AS BIGINT) AS cnt FROM (
         |    SELECT cnt, unnest(string_split(joined, chr(31))) AS piece
         |    FROM bu$r)
         |  GROUP BY piece),
         |${keptScoredSql(s"usc$r", s"ucu$r", UniTarget)}""".stripMargin
    }
    (head +: steps).mkString(",\n")
  }

  /** One M-step CTE pair: `out` = the kept + re-scored vocabulary from
    * count table `src` (full char set floored at 1, top `multiK`
    * multis by (cnt desc, piece asc), score = round6(ln(cnt/total))
    * over the kept set). */
  private def keptScoredSql(out: String, src: String, multiK: Int): String =
    s"""${out}k AS MATERIALIZED (
       |  SELECT c.piece,
       |    greatest(coalesce(s.cnt, 0), 1) AS cnt
       |  FROM charsu c LEFT JOIN
       |    (SELECT piece, cnt FROM $src WHERE length(piece) = 1) s
       |    ON c.piece = s.piece
       |  UNION ALL
       |  SELECT piece, cnt FROM (
       |    SELECT piece, cnt,
       |      row_number() OVER (ORDER BY cnt DESC, piece ASC) AS rn
       |    FROM $src WHERE length(piece) > 1 AND cnt > 0)
       |  WHERE rn <= $multiK),
       |$out AS MATERIALIZED (
       |  SELECT piece, cnt,
       |    floor(ln(CAST(cnt AS DOUBLE) / CAST(t.tot AS DOUBLE))
       |      * 1000000.0 + 0.5) / 1000000.0 AS score
       |  FROM ${out}k,
       |    (SELECT CAST(sum(cnt) AS BIGINT) AS tot FROM ${out}k) t)""".stripMargin

  /** The unrolled BPE training CTE chain: w0 (filtered distinct words)
    * → s0 (char symbols) → per merge r: p_r (pair counts), b_r (argmax
    * or NULL sentinel once exhausted), s_r (greedy fold applied via the
    * delimited-string trick — symbols never contain chr(31), the
    * engine-side fallback filter guarantees it). Ends at s$BpeMerges. */
  private def bpeTrainSql: String = {
    val head =
      s"""w0 AS MATERIALIZED (
         |  SELECT w, count(*) AS cnt FROM (
         |    SELECT unnest(${tokSql("lower(text)")}) AS w FROM documents)
         |  WHERE NOT contains(w, chr(31))
         |    AND NOT regexp_matches(w, '[\\x{10000}-\\x{10FFFF}]')
         |  GROUP BY w),
         |s0 AS MATERIALIZED (
         |  SELECT w, cnt,
         |    list_transform(generate_series(1, length(w)), i -> w[i:i]) AS syms
         |  FROM w0)""".stripMargin
    val steps = (1 to BpeMerges).map { r =>
      s"""p$r AS MATERIALIZED (
         |  SELECT s.syms[i] AS a, s.syms[i + 1] AS b, sum(s.cnt) AS c
         |  FROM s${r - 1} s,
         |       unnest(generate_series(1, len(s.syms) - 1)) AS u(i)
         |  GROUP BY 1, 2),
         |b$r AS MATERIALIZED (
         |  (SELECT a, b FROM p$r ORDER BY c DESC, a, b LIMIT 1)
         |  UNION ALL
         |  (SELECT CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
         |   WHERE NOT EXISTS (SELECT 1 FROM p$r))),
         |s$r AS MATERIALIZED (
         |  SELECT s.w, s.cnt,
         |    -- len = 0 guard: the delimited-string fold cannot
         |    -- represent an empty sequence (string_split('') = [''])
         |    CASE WHEN m.a IS NULL OR len(s.syms) = 0 THEN s.syms
         |    ELSE string_split(
         |      list_reduce(list_prepend('', s.syms), (acc, x) ->
         |        CASE WHEN acc = '' THEN x
         |             WHEN (acc = m.a OR ends_with(acc, chr(31) || m.a))
         |                  AND x = m.b
         |               THEN acc || m.b
         |             ELSE acc || chr(31) || x END), chr(31))
         |    END AS syms
         |  FROM s${r - 1} s, b$r m)""".stripMargin
    }
    (head +: steps).mkString(",\n")
  }

  /** mirrors Sketches.kmvEstimate over a sketch-list column (shared by
    * x30's inline form and x37's pairwise overlap). */
  private def kmvEstSql(l: String): String =
    s"CASE WHEN len($l) < $KmvK THEN CAST(len($l) AS DOUBLE) " +
      s"ELSE floor(${KmvK - 1}.0 * $KmvM.0 / $l[$KmvK] * 10000.0 + 0.5) / 10000.0 END"

  /** mirrors Similarity.planeComponent */
  private def planeSql(p: String, dim: String) =
    s"((('0x' || substr(md5('plane:' || $p || ':' || $dim), 1, 15))::BIGINT % 2000001) / 1000000.0 - 1.0)"

  /** mirrors Similarity.lshBucket */
  private def bucketSql(vec: String, planes: Int) =
    s"""CAST(list_sum(list_transform(generate_series(0, ${planes - 1}), p ->
       |  CASE WHEN list_sum(list_transform(generate_series(1, len($vec)),
       |    i -> CAST($vec[i] AS DOUBLE) * ${planeSql("p", "(i - 1)")})) >= 0
       |  THEN 1::BIGINT << p ELSE 0::BIGINT END)) AS BIGINT)""".stripMargin

  /** mirrors Similarity.dot rounded to `r` (PQ ADC lookup parts) */
  private def dotSql(a: String, b: String, r: Int) =
    s"""round(list_sum(list_transform(generate_series(1, len($a)),
       |  i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))), $r)""".stripMargin

  /** mirrors Similarity dot/norm cosine, rounded to `r` */
  private def cosineSql(a: String, b: String, r: Int = 4) =
    s"""round(
       |  list_sum(list_transform(generate_series(1, len($a)),
       |    i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))) /
       |  (sqrt(list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
       |   sqrt(list_sum(list_transform($b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
       |  $r)""".stripMargin

  /** mirrors Dedup.simhashSigs (32-bit simhash from token hashes) */
  private def simhashSql: String =
    s"""SELECT doc_id, CAST(list_sum(list_transform(generate_series(0, 31), b ->
       |  CASE WHEN list_sum(list_transform(hashes,
       |    h -> CASE WHEN ((h >> b) & 1) = 1 THEN 1 ELSE -1 END)) > 0
       |  THEN 1::BIGINT << b ELSE 0::BIGINT END)) AS BIGINT) AS simhash
       |FROM (SELECT doc_id,
       |  list_transform(${tokSql("text")}, t -> ${h60Sql("t", 4294967296L)}) AS hashes
       |FROM documents) WHERE len(hashes) > 0""".stripMargin

  /** mirrors Similarity.kmeansCentroids: md5-ordered seeds, then `iters`
    * unrolled Lloyd steps (assign by rounded cosine with cid tiebreak,
    * recompute element-wise means portable-rounded to 1e-6, empty
    * clusters keep the previous centroid). CTE chain ends at
    * `cent{iters}`. */
  private def kmeansCentSql(k: Int, iters: Int): String =
    kmeansCentSqlFor(k, iters, identity, "")

  /** Generalized form: `vec` maps a qualified embedding reference to
    * the (possibly sliced) vector expression, `sfx` suffixes every CTE
    * name so several trainings (PQ subspaces) coexist in one WITH, and
    * `src` names the training table (a seeded CTE for x62). */
  private def kmeansCentSqlFor(k: Int, iters: Int,
                               vec: String => String, sfx: String,
                               src: String = "embeddings"): String = {
    val init =
      s"""cent0$sfx AS (
         |  SELECT vec_id AS cid,
         |         list_transform(${vec("embedding")}, x -> CAST(x AS DOUBLE)) AS cvec
         |  FROM $src ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT $k)""".stripMargin
    val steps = (1 to iters).map { i =>
      val prev = s"cent${i - 1}$sfx"
      s"""assign$i$sfx AS (
         |  SELECT eid, ev, cid FROM (
         |    SELECT e.vec_id AS eid, ${vec("e.embedding")} AS ev, c.cid,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${cosineSql(vec("e.embedding"), "c.cvec", 6)} DESC, c.cid) AS rn
         |    FROM $src e, $prev c)
         |  WHERE rn = 1),
         |mean$i$sfx AS (
         |  SELECT cid, d,
         |         floor(avg(CAST(ev[d] AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 AS m
         |  FROM assign$i$sfx, unnest(generate_series(1, len(ev))) AS u(d)
         |  GROUP BY cid, d),
         |cent$i$sfx AS (
         |  SELECT p.cid, coalesce(n.cvec, p.cvec) AS cvec
         |  FROM $prev p LEFT JOIN (
         |    SELECT cid, list(m ORDER BY d) AS cvec FROM mean$i$sfx GROUP BY cid) n
         |  USING (cid))""".stripMargin
    }
    (init +: steps).mkString(",\n")
  }

  /** mirrors Dedup.winnowFingerprints (graft.plans.WinnowFingerprint):
    * exact-integer polynomial k-gram hashes (Σ cp·31^j — no modulus, so
    * any engine reproduces it bit-for-bit), per-w-window minima,
    * distinct. CTE chain ends at `fps(doc_id, sel)`. */
  private def winnowFpsSql(k: Int, w: Int): String = {
    val pow31 = (0 until k).map(j => math.pow(31, j).toLong)
    val hsum = (0 until k).map(j =>
      s"(ascii(text[i + $j : i + $j])::BIGINT) * ${pow31(j)}").mkString(" + ")
    s"""h AS (
       |  SELECT doc_id, list_transform(
       |    generate_series(1, greatest(length(text) - ${k - 1}, 0)),
       |    i -> $hsum) AS hashes
       |  FROM documents),
       |fps AS (
       |  SELECT doc_id,
       |    CASE WHEN len(hashes) = 0 THEN []
       |         WHEN len(hashes) < $w THEN [list_min(hashes)]
       |         ELSE list_distinct(list_transform(
       |           generate_series(1, len(hashes) - $w + 1),
       |           p -> list_min(hashes[p : p + $w - 1]))) END AS sel
       |  FROM h)""".stripMargin
  }

  /** mirrors TextFunctions.qualityScore: per-doc stats columns + the
    * portable-rounded score formula (shared by x03 and x31 — one
    * definition so the weights cannot drift between oracles). */
  private def qualityStatsSql: String = Seq(
    s"CAST(len(${tokSql("text")}) AS DOUBLE) AS n_tok",
    "CAST(greatest(length(text), 1) AS DOUBLE) AS n_char",
    s"CAST(len(regexp_extract_all(lower(text), ${stopRegexSql(TextFunctions.stopwords.flatMap(_._2).distinct)})) AS DOUBLE) AS n_stop",
    "CAST(len(regexp_extract_all(text, '[.!?,;:]')) AS DOUBLE) AS n_punct",
    "CAST(len(regexp_extract_all(text, '[A-Z]')) AS DOUBLE) AS n_upper")
    .mkString(",\n  ")

  private def qualityFormulaSql: String =
    """floor((
      |    least(1.0, n_tok / 100.0) * 0.4
      |  + least(1.0, (n_stop / greatest(n_tok, 1.0)) * 3.0) * 0.3
      |  + (1.0 - least(1.0, (n_punct / n_char) * 10.0)) * 0.2
      |  + (1.0 - (n_upper / n_char)) * 0.1) * 10000.0 + 0.5) / 10000.0""".stripMargin

  /** mirrors TextFunctions.classifierProb: CTE chain ending in
    * `cp(doc_id, cls_prob)` — shared by x86, x91 and x94 so the frozen
    * model weights cannot drift between oracles. */
  private def classifierCtes(src: String): String = {
    val w = TextFunctions.ClassifierW.toMap
    s"""cf AS (
       |  SELECT doc_id, $qualityStatsSql,
       |    CAST(coalesce(length(array_to_string(${tokSql("text")}, '')), 0)
       |      AS DOUBLE) AS sum_tok_len
       |  FROM $src),
       |cz AS (
       |  SELECT doc_id,
       |    (${TextFunctions.ClassifierBias}
       |     + ${w("log_n_tok")} * ln(n_tok + 1.0)
       |     + ${w("stop_ratio")} * (n_stop / greatest(n_tok, 1.0))
       |     + ${w("punct_per_char")} * (n_punct / n_char)
       |     + ${w("upper_per_char")} * (n_upper / n_char)
       |     + ${w("mean_tok_len")} * (sum_tok_len / greatest(n_tok, 1.0)))
       |      AS z
       |  FROM cf),
       |cp AS (
       |  SELECT doc_id,
       |    floor(1.0 / (1.0 + exp(0.0 - z)) * 10000.0 + 0.5) / 10000.0
       |      AS cls_prob
       |  FROM cz)""".stripMargin
  }

  /** mirrors TextFunctions.langId: (hit-count columns, best expression,
    * CASE arms) — shared by x04 and x31. */
  private def langIdSqlPieces: (String, String, String) =
    langIdSqlPiecesOn("text")

  /** [[langIdSqlPieces]] over an arbitrary column — x254 runs the same
    * cascade per SENTENCE where x04 runs it per document. */
  private def langIdSqlPiecesOn(c: String): (String, String, String) = {
    val langs = TextFunctions.stopwords.map(_._1)
    val hitCols = langs.map(l => s"${hitsSql(l, c)} AS h_$l").mkString(", ")
    val best = "greatest(" + langs.map(l => s"h_$l").mkString(", ") + ")"
    val cases = langs.map(l => s"WHEN h_$l = best AND best > 0 THEN '$l'")
      .mkString(" ")
    (hitCols, best, cases)
  }

  /** mirrors Dedup.verifyCandidates: grams → verified pairs
    * (est ≥ 0.25, jaccard ≥ 0.4) → undirected edges. Appended after
    * `minhashPairsSql`'s `cand`; shared by the closure (x18/x27/x31)
    * and the graph ops (x69) so the verification semantics cannot
    * drift. */
  private def verifiedPairsSql(src: String): String =
    s"""g AS (
       |  SELECT doc_id, list_distinct(list_transform(
       |    generate_series(1, greatest(length(text) - 2, 1)),
       |    i -> text[i : i + 2])) AS grams
       |  FROM $src),
       |vp AS (
       |  SELECT id_a, id_b FROM (
       |    SELECT c.id_a, c.id_b,
       |      round(CAST(len(list_intersect(ga.grams, gb.grams)) AS DOUBLE) /
       |            CAST(len(list_distinct(list_concat(ga.grams, gb.grams))) AS DOUBLE), 4)
       |        AS jaccard
       |    FROM cand c
       |    JOIN g ga ON c.id_a = ga.doc_id
       |    JOIN g gb ON c.id_b = gb.doc_id
       |    WHERE c.est_jaccard >= 0.25)
       |  WHERE jaccard >= 0.4),
       |edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM vp
       |  UNION ALL SELECT id_b, id_a FROM vp)""".stripMargin

  /** mirrors Dedup.nearDupPipeline verification + resolveClusters:
    * [[verifiedPairsSql]] plus the transitive closure. Shared by
    * x18/x27/x31. */
  private def neardupClosureSql(src: String): String =
    s"""${verifiedPairsSql(src)},
       |reach(node, label) AS (
       |  SELECT doc_id, doc_id FROM $src
       |  UNION
       |  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node)""".stripMargin

  private def keepersSql: String =
    """keepers AS (
      |  SELECT node AS doc_id FROM reach GROUP BY node
      |  HAVING min(label) = node)""".stripMargin

  /** mirrors Dedup.ngramJaccardOnPairs: blocked (lang × 25-char
    * length bucket) exact character-trigram Jaccard at `minJaccard`,
    * restricted to the banded MinHash candidate pairs (`cand`, from
    * [[minhashPairsSql]] which must precede this fragment). Emitted as
    * CTE fragment `jp(id_a, id_b, jaccard)` — the x245 scale flagship.
    * The FULL blocked form (every in-block pair examined, no candidate
    * restriction) is spec-only: `DedupSpec`'s ngramJaccard cases pin it
    * against hand-computed fixtures, and `ngramJaccardOnPairs` is
    * asserted equal to full ∩ pairs there, so the two forms cannot
    * drift. */
  private def ngramLshPairsSql(src: String, minJaccard: Double): String =
    s"""p AS (
       |  SELECT doc_id, lang, CAST(length(text) AS BIGINT) // 25 AS lbucket,
       |    list_distinct(list_transform(
       |      generate_series(1, greatest(length(text) - 2, 1)),
       |      i -> text[i : i + 2])) AS grams
       |  FROM $src),
       |jp AS (
       |  SELECT id_a, id_b, jaccard FROM (
       |    SELECT c.id_a, c.id_b,
       |      round(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) /
       |            CAST(len(list_distinct(list_concat(a.grams, b.grams))) AS DOUBLE), 4) AS jaccard
       |    FROM cand c
       |    JOIN p a ON c.id_a = a.doc_id
       |    JOIN p b ON c.id_b = b.doc_id
       |    WHERE a.lang = b.lang AND a.lbucket = b.lbucket)
       |  WHERE jaccard >= $minJaccard)""".stripMargin

  /** mirrors Dedup.minhashSignatures + band-bucket candidate pairs
    * (shared by x06/x16/x18/x31). Emits the CTE chain WITHOUT the
    * leading WITH keyword (callers own WITH vs WITH RECURSIVE), and the
    * source table is a parameter — not post-hoc string .replace, which
    * would silently rewrite any future `documents` reference inside the
    * fragment (or silently stop matching after a rename). */
  private def minhashPairsSql(src: String = "documents"): String = {
    val p = Dedup.MinhashP
    s"""toks AS (
       |  SELECT doc_id, ${tokSql("text")} AS tk FROM $src),
       |sh AS (
       |  SELECT doc_id, list_distinct(list_transform(
       |    generate_series(1, greatest(len(tk) - 2, 1)),
       |    i -> array_to_string(tk[i : i + 2], ' '))) AS shingles
       |  FROM toks
       |  WHERE len(tk) > 0),
       |hs AS (
       |  SELECT doc_id, list_transform(shingles, s -> ${h60Sql("s", p)}) AS hashes
       |  FROM sh),
       |sigs AS (
       |  SELECT doc_id, list_transform(generate_series(0, 31), i ->
       |    list_min(list_transform(hashes,
       |      h -> ((2 * i + 1) * h + ((98765 * i + 12345) % $p)) % $p))) AS sig
       |  FROM hs),
       |bands AS (
       |  SELECT doc_id, sig, unnest(list_transform(generate_series(0, 7), b ->
       |    md5(concat_ws(',', b, sig[b * 4 + 1], sig[b * 4 + 2],
       |                  sig[b * 4 + 3], sig[b * 4 + 4])))) AS band_key
       |  FROM sigs),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       |         a.sig AS sa, b.sig AS sb
       |  FROM bands a JOIN bands b
       |    ON a.band_key = b.band_key AND a.doc_id < b.doc_id),
       |cand AS (
       |  SELECT id_a, id_b,
       |    CAST(list_sum(list_transform(generate_series(1, 32),
       |      i -> CASE WHEN sa[i] = sb[i] THEN 1 ELSE 0 END)) AS DOUBLE) / 32.0
       |      AS est_jaccard
       |  FROM pairs)""".stripMargin
  }

  /** The full curation-funnel replay (quality → langid → near-dup
    * closure → keepers → stratified sample → quantize scale), shared by
    * x31 (batch composition) and x39 (incremental streaming
    * composition — the same fixpoint by the x38 completeness
    * invariant). */
  private def curationFunnelSql: String = {
    val (hitCols, best, cases) = langIdSqlPieces
    s"""WITH RECURSIVE qdocs AS (
       |  SELECT doc_id, text, lang_pred FROM (
       |    SELECT doc_id, text,
       |      $qualityFormulaSql AS quality,
       |      CASE $cases ELSE 'und' END AS lang_pred
       |    FROM (SELECT *, $best AS best FROM (
       |      SELECT doc_id, text,
       |        $qualityStatsSql,
       |        $hitCols
       |      FROM documents)))
       |  WHERE quality >= 0.3),
       |${minhashPairsSql("qdocs")},
       |${neardupClosureSql("qdocs")},
       |$keepersSql,
       |sampled AS (
       |  SELECT q.doc_id, q.lang_pred
       |  FROM qdocs q JOIN keepers USING (doc_id)
       |  WHERE ${h60Sql("('sample:' || CAST(doc_id AS VARCHAR))", 10000L)} <
       |    CASE WHEN lang_pred = 'en' THEN 8000 ELSE 5000 END),
       |qscale AS (
       |  SELECT vec_id AS doc_id,
       |    floor(list_max(list_transform(embedding,
       |      x -> abs(CAST(x AS DOUBLE)))) / 127.0 * 1000000.0 + 0.5)
       |      / 1000000.0 AS scale_r
       |  FROM embeddings)
       |SELECT s.doc_id, s.lang_pred, qs.scale_r
       |FROM sampled s LEFT JOIN qscale qs USING (doc_id)
       |ORDER BY doc_id""".stripMargin
  }

  private val base: Seq[Q] = Seq(

    // ---- exact dedup: one hash-shuffle groupBy ----
    Q("x01_dedup_exact", Some(
      """SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY text_hash""".stripMargin),
      (s, dir) => Dedup.exact(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("text_hash")),

    // ---- token counting + document fingerprint ----
    Q("x02_token_stats", Some(
      s"""SELECT doc_id,
         |  CAST(len(${tokSql("text")}) AS BIGINT) AS n_tokens,
         |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9_]+|[^A-Za-z0-9_\\s]')) AS BIGINT) AS n_bpeish,
         |  CAST(len(regexp_extract_all(text, '[.!?,;:]')) AS BIGINT) AS n_punct,
         |  md5(coalesce(array_to_string(list_sort(list_distinct(${tokSql("lower(text)")})), ' '), '')) AS fingerprint
         |FROM documents ORDER BY doc_id""".stripMargin),
      (s, dir) => t(s, dir, "documents").select(
        col("doc_id"),
        TextFunctions.tokenCount(col("text")).as("n_tokens"),
        TextFunctions.bpeishTokenCount(col("text")).as("n_bpeish"),
        TextFunctions.punctCount(col("text")).as("n_punct"),
        TextFunctions.fingerprint(col("text")).as("fingerprint"))
        .orderBy("doc_id")),

    // ---- rule-based quality scoring ----
    Q("x03_quality_score", Some(
      s"""SELECT doc_id, $qualityFormulaSql AS quality
         |FROM (SELECT doc_id,
         |  $qualityStatsSql
         |FROM documents) ORDER BY doc_id""".stripMargin),
      (s, dir) => t(s, dir, "documents").select(
        col("doc_id"),
        TextFunctions.qualityScore(col("text")).as("quality"))
        .orderBy("doc_id")),

    // ---- n-gram-heuristic language ID ----
    Q("x04_langid", {
      val (hitCols, best, cases) = langIdSqlPieces
      Some(
        s"""SELECT doc_id, lang, CASE $cases ELSE 'und' END AS predicted
           |FROM (SELECT *, $best AS best FROM
           |  (SELECT doc_id, lang, $hitCols FROM documents))
           |ORDER BY doc_id""".stripMargin)
    },
      (s, dir) => t(s, dir, "documents").select(
        col("doc_id"), col("lang"),
        TextFunctions.langId(col("text")).as("predicted"))
        .orderBy("doc_id")),

    // x05_ngram_jaccard (full blocked exact trigram Jaccard, every
    // in-block pair) was retired from the catalog in round 13: its
    // output is quadratic in clique occupancy (sf1 pairs grew 104×
    // while per-pair cost dropped — VERDICT r12), so the full form is
    // a verification harness, not a deployable plan. Its scale
    // flagship is x245_ngram_jaccard_lsh (identical blocking +
    // threshold, restricted to the banded candidates); the full form
    // stays pinned by DedupSpec/PropertySpec fixtures.

    // ---- MinHash + LSH candidate pairs (32 hashes, 8 bands × 4) ----
    Q("x06_minhash_lsh", Some(
      s"""WITH ${minhashPairsSql()}
         |SELECT id_a, id_b, est_jaccard FROM cand
         |ORDER BY id_a, id_b""".stripMargin),
      (s, dir) => lshCands(s, dir).orderBy("id_a", "id_b")),

    // ---- 32-bit SimHash signatures ----
    Q("x07_simhash", Some(
      s"""SELECT doc_id, CAST(list_sum(list_transform(generate_series(0, 31), b ->
         |  CASE WHEN list_sum(list_transform(hashes,
         |    h -> CASE WHEN ((h >> b) & 1) = 1 THEN 1 ELSE -1 END)) > 0
         |  THEN 1::BIGINT << b ELSE 0::BIGINT END)) AS BIGINT) AS simhash
         |FROM (SELECT doc_id,
         |  list_transform(${tokSql("text")}, t -> ${h60Sql("t", 4294967296L)}) AS hashes
         |FROM documents) ORDER BY doc_id""".stripMargin),
      (s, dir) => Dedup.simhashTable(t(s, dir, "documents"), "doc_id", "text")
        .withColumnRenamed("doc_id_", "doc_id")
        .orderBy("doc_id")),

    // ---- exact cosine top-k (brute force, broadcast queries) ----
    Q("x08_cosine_topk", Some(
      """WITH q AS (
        |  SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 5),
        |sims AS (
        |  SELECT qid, e.vec_id AS eid,
        |    round(
        |      list_sum(list_transform(generate_series(1, len(qv)),
        |        i -> CAST(qv[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))) /
        |      (sqrt(list_sum(list_transform(qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
        |       sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
        |      4) AS sim
        |  FROM q, embeddings e)
        |SELECT qid, eid, sim, rn FROM (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, eid) AS INT) AS rn
        |  FROM sims)
        |WHERE rn <= 10 ORDER BY qid, rn""".stripMargin),
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        Similarity.bruteForceTopK(emb.filter(col("vec_id") < 5), emb,
          "vec_id", "embedding", k = 10)
      }),

    // ---- sign-LSH bucket assignment (the ANN scale path's write-time step) ----
    Q("x09_lsh_buckets", Some(
      s"""SELECT vec_id, ${bucketSql("embedding", 8)} AS bucket
         |FROM embeddings ORDER BY vec_id""".stripMargin),
      (s, dir) => t(s, dir, "embeddings").select(
        col("vec_id"),
        Similarity.lshBucket(col("embedding"), 8, dims = 64).as("bucket"))
        .orderBy("vec_id")),

    // ---- multimodal: payload + metadata + per-partition batch decode ----
    Q("x10_multimodal_features", Some(
      // byte-based, not char-based: the payload is the text's UTF-8
      // BYTES (encode), and intensities are unsigned byte values
      // (('0x'||hex(byte))::INT) — ascii(char) would diverge on any
      // multi-byte character (the Unicode edge docs catch exactly that)
      """WITH b AS (
        |  SELECT doc_id, hex(encode(text)) AS h,
        |         octet_length(encode(text)) AS n_bytes,
        |         length(text) AS n_chars
        |  FROM documents)
        |SELECT doc_id, 'image/fake' AS media_type,
        |  CAST(n_bytes AS BIGINT) AS n_bytes,
        |  CAST(n_chars % 64 + 1 AS INT) AS width,
        |  CAST(n_chars // 64 + 1 AS INT) AS height,
        |  1 AS channels,
        |  coalesce(floor(list_avg(list_transform(
        |    generate_series(1, n_bytes),
        |    i -> ('0x' || substr(h, 2 * i - 1, 2))::INT)) * 10000.0 + 0.5)
        |    / 10000.0, 0.0) AS mean_intensity
        |FROM b ORDER BY doc_id""".stripMargin),
      (s, dir) => Multimodal.decodeFeatures(
        Multimodal.withPayload(t(s, dir, "documents"), "doc_id", "text"))
        .toDF().orderBy("doc_id")),

    // ---- multimodal resize: average-pool byte-"pixels" to 8 buckets.
    //      Emitted as scalar (doc_id, pool_idx, value) rows — the oracle
    //      comparator sorts/hashes column values and cannot hash an
    //      array<double> column. pool_idx = position in the pooled
    //      vector (DuckDB mirrors posexplode's ordinal via a per-doc
    //      rank over occupied pools, robust to sparse pools when
    //      n_bytes < outLen). ----
    Q("x15_multimodal_resize", Some(
      """WITH bl AS (
        |  SELECT doc_id, hex(encode(text)) AS h,
        |         octet_length(encode(text)) AS n
        |  FROM documents),
        |ex AS (
        |  SELECT doc_id, i - 1 AS pos,
        |    ('0x' || substr(h, 2 * i - 1, 2))::INT AS b, n
        |  FROM bl, unnest(generate_series(1, n)) AS u(i)),
        |pools AS (
        |  SELECT doc_id, (pos * 8) // n AS pool,
        |         floor(avg(b) * 10000.0 + 0.5) / 10000.0 AS v
        |  FROM ex GROUP BY doc_id, (pos * 8) // n)
        |SELECT doc_id,
        |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY pool) - 1 AS INT)
        |    AS pool_idx,
        |  v AS value
        |FROM pools ORDER BY doc_id, pool_idx""".stripMargin),
      (s, dir) => Multimodal.resizePooled(
        Multimodal.withPayload(t(s, dir, "documents"), "doc_id", "text"),
        outLen = 8)
        .select(col("doc_id"),
          posexplode(col("pooled")).as(Seq("pool_idx", "value")))
        .orderBy("doc_id", "pool_idx")),

    // ---- two-stage near-dup: LSH candidates → exact jaccard verify ----
    Q("x16_neardup_pipeline", Some(
      s"""WITH ${minhashPairsSql()},
         |g AS (
         |  SELECT doc_id, list_distinct(list_transform(
         |    generate_series(1, greatest(length(text) - 2, 1)),
         |    i -> text[i : i + 2])) AS grams
         |  FROM documents)
         |SELECT id_a, id_b, est_jaccard, jaccard FROM (
         |  SELECT c.id_a, c.id_b, c.est_jaccard,
         |    round(CAST(len(list_intersect(ga.grams, gb.grams)) AS DOUBLE) /
         |          CAST(len(list_distinct(list_concat(ga.grams, gb.grams))) AS DOUBLE), 4)
         |      AS jaccard
         |  FROM cand c
         |  JOIN g ga ON c.id_a = ga.doc_id
         |  JOIN g gb ON c.id_b = gb.doc_id
         |  WHERE c.est_jaccard >= 0.25)
         |WHERE jaccard >= 0.4 ORDER BY id_a, id_b""".stripMargin),
      (s, dir) => verifiedPairs(s, dir).orderBy("id_a", "id_b")),

    // ---- PII redaction (URLs, emails, phone-ish runs; ordered rules) ----
    Q("x19_redact_pii", {
      // DuckDB '...' literals keep backslashes as-is — pass the Java
      // pattern verbatim; 'g' matches Spark's global-replace default
      val chain = TextFunctions.redactionRules.foldLeft("text") {
        case (acc, (pattern, token)) =>
          s"regexp_replace($acc, '$pattern', '$token', 'g')"
      }
      Some(s"""SELECT doc_id, $chain AS redacted
              |FROM documents ORDER BY doc_id""".stripMargin)
    },
      (s, dir) => t(s, dir, "documents").select(
        col("doc_id"), TextFunctions.redactPii(col("text")).as("redacted"))
        .orderBy("doc_id")),

    // ---- dedup cluster resolution: pairs → connected components →
    //      canonical keeper per cluster (Spark: min-label propagation to
    //      fixpoint; oracle: recursive CTE closure) ----
    Q("x18_dedup_clusters", Some(
      s"""WITH RECURSIVE ${minhashPairsSql()},
         |${neardupClosureSql("documents")}
         |SELECT node AS doc_id, min(label) AS cluster_id,
         |       (min(label) = node) AS keep
         |FROM reach GROUP BY node ORDER BY doc_id""".stripMargin),
      (s, dir) => docClusters(s, dir).orderBy("doc_id")),

    // ---- streaming ingest roundtrip: file source → AvailableNow →
    //      foreachBatch merge → read back (S3 semantics, oracle = batch agg)
    Q("x11_stream_merge", Some(
      """SELECT event_type, count(*) AS n,
        |       floor(sum(value) * 10000.0 + 0.5) / 10000.0 AS total
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin),
      (s, dir) => {
        val work = tmp("graft-stream")
        // simulate the S3 arrival directory (the file source needs a dir)
        writeEventArrivalsNs(s, dir, s"$work/arrivals")
        StreamIngest.ingestAvailableNow(s, s"$work/arrivals",
          eventArrivalSchema,
          s"$work/target", keys = Seq("event_id"), checkpoint = s"$work/cp")
        graft.operators.MergeUpsert.readPlain(s, s"$work/target")
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            TextFunctions.portableRound(sum("value"), 4).as("total"))
          .orderBy("event_type")
      }),

    // ---- ANN top-k via LSH buckets + multiprobe-1; recall measured
    //      against x08 in ScalaTest, exact candidate/rank semantics
    //      reproduced by the oracle ----
    Q("x12_ann_lsh_topk", Some(
      s"""WITH c AS (
         |  SELECT vec_id AS eid, embedding AS ev,
         |         ${bucketSql("embedding", 8)} AS bucket
         |  FROM embeddings),
         |q0 AS (
         |  SELECT vec_id AS qid, embedding AS qv,
         |         ${bucketSql("embedding", 8)} AS bucket
         |  FROM embeddings WHERE vec_id < 5),
         |q AS (
         |  SELECT qid, qv, unnest(list_concat([bucket],
         |    list_transform(generate_series(0, 7), p -> xor(bucket, 1::BIGINT << p))))
         |    AS bucket
         |  FROM q0),
         |cand AS (
         |  SELECT DISTINCT qid, eid, ${cosineSql("qv", "ev")} AS sim
         |  FROM q JOIN c USING (bucket))
         |SELECT qid, eid, sim, rn FROM (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, eid) AS INT) AS rn
         |  FROM cand)
         |WHERE rn <= 10 ORDER BY qid, rn""".stripMargin),
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        Similarity.lshTopK(emb.filter(col("vec_id") < 5), emb,
          "vec_id", "embedding", k = 10, planes = 8)
      }),

    // x13_simhash_pairs retired from the catalog (round 13): the full
    // pair LIST is output-quadratic in replica-clique occupancy
    // (3.2M rows at sf1 — 93× sf0.1, per-pair cost DROPPING, pure
    // output growth; PERF.md sf1 table). The catalog row is now the
    // deterministic doc-sample audit x246_simhash_pairs_sampled —
    // identical signature/banding/verify, scoped like x121; the
    // full-corpus form stays DedupSpec/RegressionSpec coverage and
    // the dedup DEPLOYED faces (spanning edges → x18/x91) never
    // emitted the pair square in the first place.

    // ---- IVF ANN: deterministic-k-means coarse quantizer + nProbe
    //      probing. The oracle replays the k-means training itself
    //      (kmeansCentSql), so the trained centroids — not just the
    //      probe/rank plumbing — are cross-engine verified. ----
    Q("x17_ivf_topk", Some(
      s"""WITH ${kmeansCentSql(k = 16, iters = 2)},
         |cent AS (SELECT cid, cvec FROM cent2),
         |eassign AS (
         |  SELECT eid, ev, cid FROM (
         |    SELECT e.vec_id AS eid, e.embedding AS ev, c.cid,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${cosineSql("e.embedding", "c.cvec", 6)} DESC, c.cid) AS rn
         |    FROM embeddings e, cent c)
         |  WHERE rn = 1),
         |qprobe AS (
         |  SELECT qid, qv, cid FROM (
         |    SELECT q.vec_id AS qid, q.embedding AS qv, c.cid,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY ${cosineSql("q.embedding", "c.cvec", 6)} DESC, c.cid) AS rn
         |    FROM embeddings q, cent c WHERE q.vec_id < 5)
         |  WHERE rn <= 2),
         |cand AS (
         |  SELECT DISTINCT qid, eid, ${cosineSql("qv", "ev")} AS sim
         |  FROM qprobe JOIN eassign USING (cid))
         |SELECT qid, eid, sim, rn FROM (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, eid) AS INT) AS rn
         |  FROM cand)
         |WHERE rn <= 10 ORDER BY qid, rn""".stripMargin),
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        Similarity.ivfTopK(emb.filter(col("vec_id") < 5), emb,
          "vec_id", "embedding", k = 10, nCentroids = 16, nProbe = 2)
      }),

    // x14_embedding_neardup retired from the catalog (round 13): same
    // output-quadratic pair-list shape as x13 (380k rows at sf1, 190×
    // sf0.1, per-pair cost DROPPING — PERF.md sf1 table). The catalog
    // row is now x247_embedding_neardup_sampled: identical planting +
    // sign-LSH blocking + exact-cosine verify, restricted to a
    // deterministic base-id sample so output scales with the SAMPLED
    // clique mass. SimilaritySpec keeps the full-corpus coverage;
    // x62_semdedup remains the keep-one (linear-output) face.

    // ---- stateful sessionization, oracle-proven: the batch path runs
    //      the SAME per-key fold as the streaming flatMapGroupsWithState
    //      (Sessionize.foldSessions), checked against a SQL
    //      gaps-and-islands equivalent (lag → break flag → running sum =
    //      session id). Millisecond event times on both sides (Spark µs
    //      truncates to ms in the fold; DuckDB ns // 1e6). ----
    Q("x20_sessionize", Some(
      s"""WITH e AS (
         |  SELECT user_id, epoch_ns(ts) // 1000000 AS ms, value FROM events),
         |m AS (
         |  SELECT user_id, ms, value,
         |    CASE WHEN ms - lag(ms) OVER (PARTITION BY user_id ORDER BY ms)
         |              > $SessionGapMs
         |         THEN 1 ELSE 0 END AS brk
         |  FROM e),
         |s AS (
         |  SELECT user_id, ms, value,
         |    sum(brk) OVER (PARTITION BY user_id ORDER BY ms
         |                   ROWS UNBOUNDED PRECEDING) AS sid
         |  FROM m)
         |SELECT user_id, min(ms) AS start_ms, max(ms) AS end_ms,
         |       count(*) AS n_events,
         |       floor(sum(value) * 10000.0 + 0.5) / 10000.0 AS total_value
         |FROM s GROUP BY user_id, sid
         |ORDER BY user_id, start_ms""".stripMargin),
      (s, dir) => {
        import graft.streaming.Sessionize
        implicit val ee = org.apache.spark.sql.Encoders.product[Sessionize.Event]
        val ev = ReferenceCatalog.events(s, dir)
          .select(col("user_id"), col("ts"), col("value"))
          .as[Sessionize.Event]
        Sessionize.sessionizeBatch(ev, gapMs = SessionGapMs)
          .select(col("user_id"),
            unix_millis(col("session_start")).as("start_ms"),
            unix_millis(col("session_end")).as("end_ms"),
            col("n_events"),
            TextFunctions.portableRound(col("total_value"), 4).as("total_value"))
          .orderBy("user_id", "start_ms")
      }),

    // ---- watermarked tumbling-window aggregation, oracle-proven via
    //      the batch equivalence Spark guarantees (the watermark node is
    //      eliminated in batch; window bucketing is identical): epoch-
    //      aligned 1h windows as BIGINT ms bounds on both engines. ----
    Q("x21_window_agg", Some(
      """SELECT (epoch_ns(ts) // 3600000000000) * 3600000 AS win_start_ms,
        |       (epoch_ns(ts) // 3600000000000) * 3600000 + 3600000 AS win_end_ms,
        |       event_type, count(*) AS n,
        |       floor(sum(value) * 10000.0 + 0.5) / 10000.0 AS total
        |FROM events GROUP BY 1, 2, 3
        |ORDER BY win_start_ms, event_type""".stripMargin),
      (s, dir) => {
        import graft.streaming.WindowedAgg
        WindowedAgg.tumbling(ReferenceCatalog.events(s, dir),
            "ts", "event_type", "value", "1 hour", "0 seconds")
          .select(unix_millis(col("window_start")).as("win_start_ms"),
            unix_millis(col("window_end")).as("win_end_ms"),
            col("event_type"), col("n"),
            TextFunctions.portableRound(col("total"), 4).as("total"))
          .orderBy("win_start_ms", "event_type")
      }),

    // ---- winnowing fingerprints (rolling-hash document fingerprinting,
    //      the MOSS algorithm): exact-integer k-gram hashes, per-window
    //      minima — emitted as scalar (doc_id, fp_hash) rows ----
    Q("x22_winnow_fingerprint", Some(
      s"""WITH ${winnowFpsSql(8, 4)}
         |SELECT doc_id, unnest(sel) AS fp_hash
         |FROM fps ORDER BY doc_id, fp_hash""".stripMargin),
      (s, dir) => Dedup.winnowFingerprints(t(s, dir, "documents"),
          "doc_id", "text", k = 8, w = 4)
        .select(col("doc_id_").as("doc_id"), explode(col("fp")).as("fp_hash"))
        .orderBy("doc_id", "fp_hash")),

    // ---- copy-detection pairs over shared winnowing fingerprints:
    //      hashes in > 20 docs are boilerplate and ignored (MOSS rule +
    //      the linear-candidates scale guarantee); containment over the
    //      surviving rare sets, n_shared ≥ 3 guarding tiny denominators ----
    Q("x23_winnow_overlap", Some(
      s"""WITH ${winnowFpsSql(8, 4)},
         |ex0 AS (
         |  SELECT doc_id, unnest(sel) AS h FROM fps),
         |hot AS (
         |  SELECT h FROM ex0 GROUP BY h HAVING count(*) > 20),
         |ex AS (SELECT * FROM ex0 ANTI JOIN hot USING (h)),
         |nf AS (SELECT doc_id, count(*) AS nfp FROM ex GROUP BY doc_id),
         |pairs AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
         |  FROM ex a JOIN ex b ON a.h = b.h AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT id_a, id_b, n_shared, containment FROM (
         |  SELECT id_a, id_b, n_shared,
         |    floor(n_shared::DOUBLE / least(na.nfp, nb.nfp) * 10000.0 + 0.5)
         |      / 10000.0 AS containment
         |  FROM pairs
         |  JOIN nf na ON na.doc_id = id_a
         |  JOIN nf nb ON nb.doc_id = id_b
         |  WHERE n_shared >= 3)
         |WHERE containment >= 0.5 ORDER BY id_a, id_b""".stripMargin),
      (s, dir) => Dedup.winnowOverlapPairs(t(s, dir, "documents"),
          "doc_id", "text", k = 8, w = 4, maxDocFreq = 20, minShared = 3,
          minContainment = 0.5)
        .orderBy("id_a", "id_b")),

    // ---- skew-safe two-phase aggregation is RESULT-TRANSPARENT: the
    //      oracle is the plain GROUP BY (sum_qty is integer-valued, so
    //      the double sum is exact under any partial-agg order) ----
    Q("x24_salted_agg", Some(
      """SELECT l_returnflag, sum(l_quantity) AS sum_qty, count(*) AS n
        |FROM lineitem GROUP BY 1 ORDER BY l_returnflag""".stripMargin),
      (s, dir) => Salting.saltedAgg(t(s, dir, "lineitem"),
          keys = Seq("l_returnflag"), salts = 16,
          saltFrom = Seq(col("l_orderkey"), col("l_linenumber")),
          partialAggs = Seq(sum("l_quantity").as("sum_qty"),
            count(lit(1)).as("n")),
          finalAggs = Seq(sum("sum_qty").as("sum_qty"), sum("n").as("n")))
        .orderBy("l_returnflag")),

    // ---- skew-safe replicated join, same transparency proof: salted
    //      big side × 4-replicated small side ≡ the plain equi join ----
    Q("x25_salted_join", Some(
      """SELECT o_orderpriority, count(*) AS n, sum(l_quantity) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin),
      (s, dir) => {
        val li = t(s, dir, "lineitem")
          .withColumnRenamed("l_orderkey", "okey")
        val o = t(s, dir, "orders")
          .select(col("o_orderkey").as("okey"), col("o_orderpriority"))
        Salting.saltedJoin(li, o, keys = Seq("okey"), salts = 4,
            bigSaltFrom = Seq(col("l_linenumber"), col("l_quantity")))
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"), sum("l_quantity").as("sum_qty"))
          .orderBy("o_orderpriority")
      }),

    // ---- int8 scalar quantization of embeddings: per-vector symmetric
    //      scale + reconstruction RMSE, both portable-rounded — proves
    //      the quantizer (not just its plumbing) against the oracle ----
    Q("x26_quantize_embeddings", Some(
      """WITH s AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
        |    list_max(list_transform(embedding,
        |      x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale
        |  FROM embeddings),
        |q AS (
        |  SELECT vec_id, v, scale,
        |    list_transform(v, x -> CASE WHEN scale = 0 THEN 0
        |      ELSE CAST(floor(x / scale + 0.5) AS INT) END) AS codes
        |  FROM s)
        |SELECT vec_id,
        |  floor(scale * 1000000.0 + 0.5) / 1000000.0 AS scale_r,
        |  floor(sqrt(list_sum(list_transform(generate_series(1, len(v)),
        |    i -> (v[i] - codes[i] * scale) * (v[i] - codes[i] * scale)))
        |    / len(v)) * 1000000.0 + 0.5) / 1000000.0 AS rmse
        |FROM q ORDER BY vec_id""".stripMargin),
      (s, dir) => {
        val q = quantizedEmb(s, dir)
        val dq = Similarity.dequantizeInt8(col("codes"), col("scale"))
        q.select(col("vec_id"),
            TextFunctions.portableRound(col("scale"), 6).as("scale_r"),
            TextFunctions.portableRound(
              sqrt(aggregate(
                zip_with(col("v"), dq,
                  (a, b) => (a.cast("double") - b) * (a.cast("double") - b)),
                lit(0.0), (acc, x) => acc + x) / size(col("v"))),
              6).as("rmse"))
          .orderBy("vec_id")
      }),

    // ---- the dedup pipeline's END PRODUCT: the curated corpus — every
    //      document that is its cluster's canonical keeper (singletons
    //      keep themselves). Closes the loop from pair generation
    //      through cluster resolution to an actual training corpus. ----
    Q("x27_corpus_dedupped", Some(
      s"""WITH RECURSIVE ${minhashPairsSql()},
         |${neardupClosureSql("documents")},
         |$keepersSql
         |SELECT d.doc_id, d.lang, CAST(length(d.text) AS BIGINT) AS n_chars
         |FROM documents d JOIN keepers USING (doc_id)
         |ORDER BY doc_id""".stripMargin),
      (s, dir) => {
        val docs = t(s, dir, "documents")
        docs.join(docClusters(s, dir).filter(col("keep")).select("doc_id"),
            Seq("doc_id"))
          .select(col("doc_id"), col("lang"),
            length(col("text")).cast("long").as("n_chars"))
          .orderBy("doc_id")
      }),

    // ---- deterministic stratified sampling (curation mix): hash-gated
    //      on (salt, doc_id), so the sample is identical on any engine
    //      and any partitioning — df.sample() is neither ----
    Q("x28_stratified_sample", Some(
      s"""SELECT doc_id, lang FROM documents
         |WHERE ${h60Sql("('sample:' || CAST(doc_id AS VARCHAR))", 10000L)} <
         |  CASE WHEN lang = 'en' THEN 4000 ELSE 1000 END
         |ORDER BY doc_id""".stripMargin),
      (s, dir) => Sampling.stratifiedSample(t(s, dir, "documents"),
          "doc_id", "lang", rates = Map("en" -> 0.4), defaultRate = 0.1)
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id")),

    // ---- bucketized range join: point-in-interval as a hash EQUI-join
    //      on manufactured bucket keys (Spark would otherwise plan the
    //      BETWEEN join as a nested loop). Windows are derived
    //      deterministically from the events themselves (every 50th
    //      event opens a 30-min window); the oracle is the plain
    //      BETWEEN join. ----
    Q("x29_range_join", Some(
      s"""WITH e AS (
         |  SELECT event_id, epoch_ns(ts) // 1000000 AS ms FROM events),
         |w AS (
         |  SELECT event_id AS win_id, ms AS lo, ms + $RangeWinMs AS hi
         |  FROM e WHERE event_id % $RangeEvery = 0)
         |SELECT w.win_id, count(*) AS n_events
         |FROM w JOIN e ON e.ms >= w.lo AND e.ms <= w.hi
         |GROUP BY 1 ORDER BY win_id""".stripMargin),
      (s, dir) => {
        val e = ReferenceCatalog.events(s, dir)
          .select(col("event_id"), unix_millis(col("ts")).as("ms"))
        val w = e.filter(col("event_id") % RangeEvery === 0)
          .select(col("event_id").as("win_id"), col("ms").as("lo"),
            (col("ms") + lit(RangeWinMs)).as("hi"))
        RangeJoin.pointInInterval(e.select("ms"), "ms", w, "lo", "hi",
            bucketWidth = RangeBucketMs)
          .groupBy("win_id").agg(count(lit(1)).as("n_events"))
          .orderBy("win_id")
      }),

    // ---- KMV distinct-count sketch per language: deterministic
    //      md5-based k-minimum-values, so the SKETCH ITSELF (not just
    //      the estimate) is cross-engine reproducible — HLL never is.
    //      Output: exact distinct hash count, sketch estimate. ----
    Q("x30_kmv_distinct", Some(
      s"""WITH tok AS (
         |  SELECT lang, unnest(${tokSql("text")}) AS t FROM documents),
         |h AS (
         |  SELECT DISTINCT lang, ${h60Sql("t", KmvM)} AS hv FROM tok),
         |r AS (
         |  SELECT lang, hv,
         |    row_number() OVER (PARTITION BY lang ORDER BY hv) AS rn,
         |    count(*) OVER (PARTITION BY lang) AS n_distinct
         |  FROM h),
         |sk AS (
         |  SELECT lang, any_value(n_distinct) AS n_distinct,
         |         list(hv ORDER BY hv) AS sketch
         |  FROM r WHERE rn <= $KmvK GROUP BY lang)
         |SELECT lang, n_distinct, ${kmvEstSql("sketch")} AS kmv_estimate
         |FROM sk ORDER BY lang""".stripMargin),
      (s, dir) => {
        val toks = t(s, dir, "documents").select(col("lang"),
          explode(TextFunctions.tokens(col("text"))).as("t"))
        Sketches.kmvSketch(toks, "lang", col("t"), KmvK, KmvM)
          .select(col("lang"), col("n_distinct"),
            Sketches.kmvEstimate(col("sketch"), KmvK, KmvM).as("kmv_estimate"))
          .orderBy("lang")
      }),

    // ---- the CurationJob funnel, cross-engine verified END TO END:
    //      quality gate → language ID → near-dup closure keepers →
    //      stratified sample on PREDICTED language → quantizer scale
    //      attached. Each stage is already oracle-checked alone
    //      (x03/x04/x27/x28/x26); this proves the COMPOSITION — filter
    //      interactions, predicted-vs-labeled lang, dedup over the
    //      quality-filtered subset — agrees across engines. ----
    Q("x31_curation_funnel", Some(curationFunnelSql),
      (s, dir) => {
        // the same stage composition CurationJob.run performs (fixed
        // params; the job adds observe counters and the parquet write).
        // Cached: the dedup pipeline consumes scored several times
        // (measured faster WITH the cache even after RegexCount made
        // the quality pass cheap — unlike the signature-array cache,
        // this one carries the strings the whole subtree needs).
        val scored = t(s, dir, "documents")
          .withColumn("quality", TextFunctions.qualityScore(col("text")))
          .withColumn("lang_pred", TextFunctions.langId(col("text")))
          .filter(col("quality") >= 0.3)
          .cache()
        // signatures recompute at scan speed over the cached `scored`
        // (MinhashSig is a projection — cheaper than reading a cached
        // signature table back; see the memo note above)
        val keepers = Dedup.resolveClusters(scored, "doc_id",
            Dedup.nearDupPipeline(scored, "doc_id", "text",
              minEstJaccard = 0.25, minJaccard = 0.4))
          .filter(col("keep")).select("doc_id")
        val sampled = Sampling.stratifiedSample(
          scored.join(keepers, Seq("doc_id")), "doc_id", "lang_pred",
          rates = Map("en" -> 0.8), defaultRate = 0.5)
        val qscale = quantizedEmb(s, dir)
          .select(col("vec_id").as("doc_id"),
            TextFunctions.portableRound(col("scale"), 6).as("scale_r"))
        sampled.join(qscale, Seq("doc_id"), "left")
          .select(col("doc_id"), col("lang_pred"), col("scale_r"))
          .orderBy("doc_id")
      }),

    // ---- Gopher/C4-style heuristic quality rules: four per-doc token
    //      statistics from ONE codegen'd pass + the composed keep
    //      decision (the scan-time pre-filter every pre-training
    //      pipeline runs before model-based scoring) ----
    Q("x32_gopher_rules", Some(
      s"""WITH tk AS (
         |  SELECT doc_id, unnest(${tokSql("text")}) AS t FROM documents),
         |per AS (
         |  SELECT doc_id, t, count(*) AS c FROM tk GROUP BY 1, 2),
         |agg AS (
         |  SELECT doc_id, sum(c) AS n_tok,
         |    floor(sum(length(t) * c) * 1.0 / sum(c) * 10000.0 + 0.5) / 10000.0
         |      AS mean_tok_len,
         |    floor(max(c) * 1.0 / sum(c) * 10000.0 + 0.5) / 10000.0
         |      AS max_freq_ratio,
         |    floor(sum(CASE WHEN regexp_matches(t, '[A-Za-z]') THEN c ELSE 0 END)
         |          * 1.0 / sum(c) * 10000.0 + 0.5) / 10000.0 AS alpha_ratio
         |  FROM per GROUP BY doc_id)
         |SELECT d.doc_id,
         |  CAST(coalesce(n_tok, 0) AS BIGINT) AS n_tok,
         |  coalesce(mean_tok_len, 0.0) AS mean_tok_len,
         |  coalesce(max_freq_ratio, 0.0) AS max_freq_ratio,
         |  coalesce(alpha_ratio, 0.0) AS alpha_ratio,
         |  (coalesce(n_tok, 0) BETWEEN 50 AND 100000
         |   AND coalesce(mean_tok_len, 0.0) BETWEEN 3.0 AND 10.0
         |   AND coalesce(max_freq_ratio, 0.0) <= 0.2
         |   AND coalesce(alpha_ratio, 0.0) >= 0.8) AS keep
         |FROM documents d LEFT JOIN agg USING (doc_id)
         |ORDER BY doc_id""".stripMargin),
      (s, dir) => {
        import graft.functions.QualityRules
        t(s, dir, "documents")
          .select(col("doc_id"),
            QualityRules.tokenStats(col("text")).as("st"))
          .select(col("doc_id"),
            col("st.n_tok").as("n_tok"),
            col("st.mean_tok_len").as("mean_tok_len"),
            col("st.max_freq_ratio").as("max_freq_ratio"),
            col("st.alpha_ratio").as("alpha_ratio"),
            QualityRules.gopherKeep(col("st")).as("keep"))
          .orderBy("doc_id")
      }),

    // ---- benchmark-contamination flagging: corpus docs sharing any
    //      5-word shingle with a held-out "benchmark" subset (stand-in:
    //      every 29th doc), via a broadcast semi-join on 60-bit shingle
    //      hashes — the GPT-3-style decontamination pass ----
    Q("x33_contamination", Some(
      s"""WITH toks AS (
         |  SELECT doc_id, ${tokSql("text")} AS tk FROM documents),
         |sh AS (
         |  SELECT doc_id, list_distinct(list_transform(
         |    generate_series(1, greatest(len(tk) - 4, 1)),
         |    i -> array_to_string(tk[i : i + 4], ' '))) AS shingles
         |  FROM toks WHERE len(tk) > 0),
         |hs AS (
         |  SELECT doc_id, unnest(list_transform(shingles,
         |    s -> ${h60Sql("s", 1152921504606846976L)})) AS h
         |  FROM sh),
         |bench AS (
         |  SELECT DISTINCT h FROM hs WHERE doc_id % 29 = 0)
         |SELECT doc_id, count(*) AS n_contaminated
         |FROM hs JOIN bench USING (h)
         |WHERE doc_id % 29 <> 0
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin),
      (s, dir) => {
        val docs = t(s, dir, "documents")
        Contamination.flag(
          docs.filter(col("doc_id") % 29 =!= 0), "doc_id", "text",
          docs.filter(col("doc_id") % 29 === 0), "text", shingleN = 5)
          .orderBy("doc_id")
      }),

    // ---- context-window chunking: overlapping 64-token windows at
    //      stride 48 (the document -> training-example fan-out); pure
    //      codegen'd per-row explode, chunk content verified by hash ----
    Q("x34_chunk_windows", Some(
      s"""WITH toks AS (
         |  SELECT doc_id, ${tokSql("text")} AS tk FROM documents),
         |st AS (
         |  SELECT doc_id, tk,
         |    unnest(generate_series(0, len(tk) - 1, 48)) AS s
         |  FROM toks WHERE len(tk) > 0)
         |SELECT doc_id,
         |  CAST(s // 48 AS INT) AS chunk_id,
         |  CAST(s AS INT) AS start_tok,
         |  CAST(len(tk[s + 1 : s + 64]) AS BIGINT) AS n_tok,
         |  md5(array_to_string(tk[s + 1 : s + 64], ' ')) AS chunk_hash
         |FROM st ORDER BY doc_id, chunk_id""".stripMargin),
      (s, dir) => Chunking.tokenWindows(t(s, dir, "documents"),
        "doc_id", "text", window = 64, stride = 48)
        .orderBy("doc_id", "chunk_id")),

    // ---- TF-IDF top terms per doc (log-free tf·N/df score: exact
    //      integer inputs + one IEEE division = bit-identical ranks on
    //      both engines; ln-based idf would hinge on libm rounding) ----
    Q("x35_tfidf_topk", Some(
      s"""WITH tk AS (
         |  SELECT doc_id, unnest(${tokSql("lower(text)")}) AS term
         |  FROM documents),
         |tf AS (
         |  SELECT doc_id, term, count(*) AS tf FROM tk GROUP BY 1, 2),
         |dfq AS (
         |  SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |n AS (SELECT count(*) AS n_docs FROM documents)
         |SELECT doc_id, term, tf, score, rn FROM (
         |  SELECT t.doc_id, t.term, t.tf,
         |    CAST(t.tf AS DOUBLE) * n.n_docs / d.df AS score,
         |    CAST(row_number() OVER (PARTITION BY t.doc_id
         |      ORDER BY CAST(t.tf AS DOUBLE) * n.n_docs / d.df DESC, t.term)
         |      AS INT) AS rn
         |  FROM tf t JOIN dfq d USING (term) CROSS JOIN n)
         |WHERE rn <= 3 ORDER BY doc_id, rn""".stripMargin),
      (s, dir) => TfIdf.topTerms(t(s, dir, "documents"),
        "doc_id", "text", k = 3)
        .orderBy("doc_id", "rn")),

    // ---- target-mix rebalancing: derive the per-language acceptance
    //      rates of the LARGEST corpus satisfying a target mix
    //      (budget = min nₛ/pₛ; binding stratum keeps all), then the
    //      deterministic hash gate — the domain-reweighting step of a
    //      training pipeline, oracled end to end including the rate
    //      derivation ----
    Q("x36_mix_rebalance", Some(
      s"""WITH cnt AS (
         |  SELECT lang, count(*) AS n FROM documents GROUP BY 1),
         |tgt(lang, p) AS (VALUES ('en', 0.5), ('de', 0.2), ('es', 0.3)),
         |b AS (
         |  SELECT min(n / p) AS budget FROM cnt JOIN tgt USING (lang)),
         |rates AS (
         |  SELECT t.lang,
         |    CAST(floor(least(budget * p / n, 1.0) * 10000.0 + 0.5) AS BIGINT)
         |      AS bp
         |  FROM tgt t JOIN cnt USING (lang) CROSS JOIN b)
         |SELECT d.doc_id, d.lang
         |FROM documents d JOIN rates r USING (lang)
         |WHERE ${h60Sql("('mix:' || CAST(doc_id AS VARCHAR))", 10000L)} < bp
         |ORDER BY doc_id""".stripMargin),
      (s, dir) => Sampling.rebalanceMix(t(s, dir, "documents"),
        "doc_id", "lang", Map("en" -> 0.5, "de" -> 0.2, "es" -> 0.3))
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id")),

    // ---- sketch-based corpus overlap: pairwise language-vocabulary
    //      Jaccard from the x30 KMV sketches alone (inclusion-exclusion
    //      on O(k) state — no corpus join), the cheap cross-source
    //      overlap report a 100 TB curation dashboard runs ----
    Q("x37_kmv_overlap", Some(
      s"""WITH tok AS (
         |  SELECT lang, unnest(${tokSql("text")}) AS t FROM documents),
         |h AS (
         |  SELECT DISTINCT lang, ${h60Sql("t", KmvM)} AS hv FROM tok),
         |r AS (
         |  SELECT lang, hv,
         |    row_number() OVER (PARTITION BY lang ORDER BY hv) AS rn
         |  FROM h),
         |sk AS (
         |  SELECT lang, list(hv ORDER BY hv) AS sketch
         |  FROM r WHERE rn <= $KmvK GROUP BY lang),
         |pairs AS (
         |  SELECT a.lang AS lang_a, b.lang AS lang_b,
         |    a.sketch AS sa, b.sketch AS sb,
         |    list_sort(list_distinct(list_concat(a.sketch, b.sketch)))[1 : $KmvK]
         |      AS su
         |  FROM sk a JOIN sk b ON a.lang < b.lang),
         |est AS (
         |  SELECT lang_a, lang_b,
         |    ${kmvEstSql("sa")} AS est_a,
         |    ${kmvEstSql("sb")} AS est_b,
         |    ${kmvEstSql("su")} AS est_union
         |  FROM pairs)
         |SELECT lang_a, lang_b, est_a, est_b, est_union,
         |  floor((est_a + est_b - est_union) / est_union * 10000.0 + 0.5)
         |    / 10000.0 AS est_jaccard
         |FROM est ORDER BY lang_a, lang_b""".stripMargin),
      (s, dir) => {
        val toks = t(s, dir, "documents").select(col("lang"),
          explode(TextFunctions.tokens(col("text"))).as("t"))
        val sk = Sketches.kmvSketch(toks, "lang", col("t"), KmvK, KmvM)
          .select(col("lang"), col("sketch"))
        val estU = Sketches.kmvUnionEstimate(
          col("a.sketch"), col("b.sketch"), KmvK, KmvM)
        sk.as("a").join(sk.as("b"), col("a.lang") < col("b.lang"))
          .select(col("a.lang").as("lang_a"), col("b.lang").as("lang_b"),
            Sketches.kmvEstimate(col("a.sketch"), KmvK, KmvM).as("est_a"),
            Sketches.kmvEstimate(col("b.sketch"), KmvK, KmvM).as("est_b"),
            estU.as("est_union"))
          .select(col("lang_a"), col("lang_b"), col("est_a"), col("est_b"),
            col("est_union"),
            TextFunctions.portableRound(
              (col("est_a") + col("est_b") - col("est_union")) / col("est_union"),
              4).as("est_jaccard"))
          .orderBy("lang_a", "lang_b")
      }),

    // ---- incremental dedup against a persisted signature store: the
    //      corpus arrives in three batches, each appending its minhash
    //      signatures and emitting candidates batch-vs-corpus only;
    //      the union of emissions must equal a from-scratch LSH run on
    //      the whole corpus (the oracle replays exactly that — the x06
    //      pipeline). The 100 TB shape: re-ingest never re-shingles
    //      the corpus, it joins the new batch against the slim
    //      signature table. ----
    Q("x38_incremental_lsh", Some(
      s"""WITH ${minhashPairsSql()}
         |SELECT id_a, id_b, est_jaccard FROM cand
         |ORDER BY id_a, id_b""".stripMargin),
      (s, dir) => {
        val mb = microBatch(s)
        val docs = t(mb, dir, "documents")
        val store = tmp("graft-incdedup") + "/sigs"
        val emitted = (0 until 3).map { k =>
          // localCheckpoint: each emission is materialized before the
          // next append supersedes the store version it reads
          IncrementalDedup.appendBatch(mb, store,
            docs.filter(col("doc_id") % 3 === k), "doc_id", "text")
            .localCheckpoint()
        }.reduce(_ unionByName _)
        // the final sort is corpus-sized: back at the caller's sizing
        bridge.onSession(emitted, s).orderBy("id_a", "id_b")
      }),

    // ---- incremental STREAMING curation: the corpus arrives in three
    //      batches through StreamCuration.curateBatch (the exact code
    //      the foreachBatch stream runs — the file-source/checkpoint
    //      machinery itself is oracled by x11 and proven by
    //      StreamCurationSpec's restart test); the final curated table
    //      must equal the batch funnel's fixpoint, so the oracle is
    //      x31's from-scratch SQL replay, verbatim. ----
    Q("x39_stream_curation", Some(curationFunnelSql),
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val work = tmp("graft-scur") + "/cur"
        // the same one-time embedding quantization the stream's start()
        // performs, fed from the session-shared quantized stage (one
        // quantization pass per session×dir, re-published as bytes
        // into this stream's work dir — same layout by construction)
        StreamCuration.publishQuantized(s, work, quantizedEmb(s, dir))
        // publishEvery=3 cadence: three accumulate-only batches, one
        // publish at the cadence tick — the production shape (the
        // curated rebuild amortizes over the cadence; final state is
        // cadence-independent, proven by StreamCurationSpec).
        // shufflePartitions=4: each batch is a third of the corpus'
        // doc rows — 8 was sized for the generic micro-batch, 4
        // measured faster for this replay's store merges
        (0 until 3).foreach { k =>
          // explicit epoch = what the stream's checkpointed batchId
          // provides — skips deriveEpoch's two metadata jobs per batch
          StreamCuration.curateBatch(s, docs.filter(col("doc_id") % 3 === k),
            work, minQuality = 0.3, rates = Map("en" -> 0.8),
            defaultRate = 0.5, publish = k == 2, shufflePartitions = 4,
            epoch = k.toLong)
        }
        StreamCuration.readCurated(s, work)
          .select(col("doc_id"), col("lang_pred"),
            TextFunctions.portableRound(col("scale"), 6).as("scale_r"))
          .orderBy("doc_id")
      }),

    // ---- within-document line repetition (Gopher's OTHER repetition
    //      family: duplicate-line and duplicate-line-character
    //      fractions — nav bars / cookie banners / boilerplate
    //      paragraphs that token-level stats miss) ----
    Q("x40_line_repetition", Some(
      """WITH ln AS (
        |  SELECT doc_id, unnest(string_split(text, chr(10))) AS line
        |  FROM documents),
        |per AS (
        |  SELECT doc_id, line, count(*) AS c, length(line) AS len
        |  FROM ln WHERE length(trim(line)) > 0 GROUP BY 1, 2),
        |agg AS (
        |  SELECT doc_id,
        |    CAST(sum(c) AS BIGINT) AS n_lines,
        |    floor(sum(c - 1) * 1.0 / sum(c) * 10000.0 + 0.5) / 10000.0
        |      AS dup_line_frac,
        |    CASE WHEN sum(c * len) = 0 THEN 0.0
        |         ELSE floor(sum((c - 1) * len) * 1.0 / sum(c * len)
        |                    * 10000.0 + 0.5) / 10000.0 END AS dup_char_frac
        |  FROM per GROUP BY doc_id)
        |SELECT d.doc_id,
        |  coalesce(n_lines, 0) AS n_lines,
        |  coalesce(dup_line_frac, 0.0) AS dup_line_frac,
        |  coalesce(dup_char_frac, 0.0) AS dup_char_frac,
        |  (coalesce(dup_line_frac, 0.0) <= 0.3 AND
        |   coalesce(dup_char_frac, 0.0) <= 0.2) AS keep
        |FROM documents d LEFT JOIN agg USING (doc_id)
        |ORDER BY doc_id""".stripMargin),
      (s, dir) => QualityRules.lineRepetitionStats(
        t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),

    // ---- incremental EXACT dedup: doc-keyed (id, hash) store — the
    //      idempotent-under-redelivery counterpart of x38's signature
    //      store; the report over three appends must equal x01's
    //      from-scratch exact dedup ----
    Q("x41_incremental_exact", Some(
      """SELECT md5(text) AS text_hash, min(doc_id) AS keep_id,
        |       count(*) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY text_hash""".stripMargin),
      (s, dir) => {
        val mb = microBatch(s)
        val docs = t(mb, dir, "documents")
        val store = tmp("graft-incexact") + "/hashes"
        (0 until 3).foreach { k =>
          IncrementalDedup.appendExact(mb, store,
            docs.filter(col("doc_id") % 3 === k), "doc_id", "text").count()
        }
        IncrementalDedup.exactReport(s, store).orderBy("text_hash")
      }),

    // ---- deterministic sequence packing: documents fill fixed-length
    //      training sequences by contiguous (shard, doc_id) order —
    //      the "concat then cut every seqLen tokens" model of packed
    //      pre-training loaders, sharded by language so no global
    //      total-order shuffle exists at scale ----
    Q("x42_sequence_pack", Some(
      s"""WITH d AS (
         |  SELECT doc_id, lang AS shard,
         |    CAST(len(${tokSql("text")}) AS BIGINT) AS n_tok
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, shard, n_tok,
         |    sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id)
         |      AS end_tok
         |  FROM d)
         |SELECT doc_id, shard, n_tok,
         |  CAST((end_tok - n_tok) // 2048 AS BIGINT) AS seq_id,
         |  CAST((end_tok - n_tok) % 2048 AS BIGINT) AS offset
         |FROM c ORDER BY doc_id""".stripMargin),
      (s, dir) => Chunking.packSequences(
        t(s, dir, "documents")
          .select(col("doc_id"), col("lang"),
            TextFunctions.tokenCount(col("text")).as("n_tok")),
        "doc_id", "n_tok", "lang", seqLen = 2048)
        .orderBy("doc_id")),

    // ---- exact-substring repetition coverage (Lee et al. 2022's
    //      dedup-repeated-spans signal): fraction of each doc's tokens
    //      inside a ≥8-token span that occurs twice anywhere in the
    //      corpus — k-gram-hash counting + interval union instead of a
    //      suffix array, which cannot distribute ----
    Q("x43_repeated_spans", Some(
      s"""WITH tk AS (
         |  SELECT doc_id, ${tokSql("text")} AS t FROM documents),
         |base AS (
         |  SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tok, t FROM tk),
         |g AS (
         |  SELECT doc_id, i AS pos,
         |    ('0x' || substr(md5(array_to_string(t[i+1:i+8], ' ')), 1, 15))::BIGINT AS h
         |  FROM base, unnest(generate_series(0, CAST(n_tok AS INTEGER) - 8)) AS u(i)
         |  WHERE n_tok >= 8),
         |dup AS (
         |  SELECT doc_id, pos FROM (
         |    SELECT doc_id, pos, count(*) OVER (PARTITION BY h) AS c FROM g)
         |  WHERE c >= 2),
         |cov AS (
         |  SELECT doc_id, CAST(sum(greatest(0, pos + 8 -
         |      greatest(coalesce(prev_end, pos), pos))) AS BIGINT) AS dup_tok
         |  FROM (SELECT doc_id, pos,
         |          max(pos + 8) OVER (PARTITION BY doc_id ORDER BY pos
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         |            AS prev_end
         |        FROM dup)
         |  GROUP BY doc_id),
         |rep AS (
         |  SELECT b.doc_id, n_tok, coalesce(dup_tok, 0) AS dup_tok,
         |    CASE WHEN n_tok = 0 THEN 0.0
         |         ELSE floor(coalesce(dup_tok, 0) * 1.0 / n_tok
         |                    * 10000.0 + 0.5) / 10000.0 END AS dup_frac
         |  FROM base b LEFT JOIN cov USING (doc_id))
         |SELECT doc_id, n_tok, dup_tok, dup_frac, dup_frac <= 0.5 AS keep
         |FROM rep ORDER BY doc_id""".stripMargin),
      (s, dir) => RepeatedSpans.spanStats(
        t(s, dir, "documents"), "doc_id", "text", k = 8, maxDupFrac = 0.5)
        .orderBy("doc_id")),

    // ---- corpus vocabulary: top-500 terms by frequency — the
    //      tokenizer-training / stopword-curation report; distributed
    //      top-k (TakeOrderedAndProject), rank window only over the
    //      500 survivors ----
    Q("x44_vocab_topk", Some(
      s"""WITH tk AS (
         |  SELECT unnest(${tokSql("lower(text)")}) AS term FROM documents),
         |counts AS (
         |  SELECT term, CAST(count(*) AS BIGINT) AS freq
         |  FROM tk GROUP BY term),
         |top AS (
         |  SELECT term, freq FROM counts ORDER BY freq DESC, term LIMIT 500)
         |SELECT CAST(row_number() OVER (ORDER BY freq DESC, term) AS INT)
         |    AS "rank", term, freq
         |FROM top ORDER BY "rank"""".stripMargin),
      (s, dir) => CorpusStats.vocabTopK(t(s, dir, "documents"), "text", 500)
        .orderBy("rank")),

    // ---- corpus composition report per (source, lang): docs, chars,
    //      tokens, quality-gate passes — the mixing dashboard; one
    //      map-side-combined aggregation ----
    Q("x45_composition_report", Some(
      s"""WITH s AS (
         |  SELECT source, lang, text,
         |  $qualityStatsSql
         |  FROM documents),
         |sc AS (
         |  SELECT source, lang, text, n_tok,
         |    $qualityFormulaSql AS q
         |  FROM s)
         |SELECT source, lang,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(length(text)) AS BIGINT) AS n_chars,
         |  CAST(sum(CAST(n_tok AS BIGINT)) AS BIGINT) AS n_tok,
         |  CAST(sum(CASE WHEN q >= 0.3 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_quality
         |FROM sc GROUP BY source, lang
         |ORDER BY source, lang""".stripMargin),
      (s, dir) => CorpusStats.compositionReport(
        t(s, dir, "documents"), Seq("source", "lang"), "text", 0.3)
        .orderBy("source", "lang")),

    // ---- per-document bigram novelty: distinct bigrams vs bigrams
    //      unique to the doc corpus-wide — boilerplate vs fresh text;
    //      scan-side distinct hashes, one df window, one doc agg ----
    Q("x46_bigram_novelty", Some(
      s"""WITH tk AS (
         |  SELECT doc_id, ${tokSql("text")} AS t FROM documents),
         |base AS (
         |  SELECT doc_id, CAST(greatest(len(t) - 1, 0) AS BIGINT)
         |    AS n_bigrams, t FROM tk),
         |bi AS (
         |  SELECT doc_id, unnest(list_distinct(list_transform(
         |    generate_series(0, len(t) - 2),
         |    i -> ('0x' || substr(md5(array_to_string(t[i+1:i+2], ' ')), 1, 15))::BIGINT)))
         |    AS h
         |  FROM base WHERE len(t) >= 2),
         |wd AS (
         |  SELECT doc_id, count(*) OVER (PARTITION BY h) AS docs FROM bi),
         |per AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_distinct,
         |    CAST(sum(CASE WHEN docs = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_solo
         |  FROM wd GROUP BY doc_id)
         |SELECT b.doc_id, n_bigrams,
         |  coalesce(n_distinct, 0) AS n_distinct,
         |  coalesce(n_solo, 0) AS n_solo,
         |  CASE WHEN coalesce(n_distinct, 0) = 0 THEN 0.0
         |       ELSE floor(coalesce(n_solo, 0) * 1.0 / n_distinct
         |                  * 10000.0 + 0.5) / 10000.0 END AS novelty
         |FROM base b LEFT JOIN per USING (doc_id)
         |ORDER BY doc_id""".stripMargin),
      (s, dir) => CorpusStats.bigramNovelty(
        t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),

    // ---- per-language length distribution: exact interpolated
    //      quantiles (the filter-threshold-setting report; swap to
    //      percentile_approx at 100 TB — same plan shape) ----
    Q("x47_length_quantiles", Some(
      """SELECT lang,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(min(n_chars) AS BIGINT) AS min_v,
        |  CAST(max(n_chars) AS BIGINT) AS max_v,
        |  quantile_cont(CAST(n_chars AS DOUBLE), 0.25) AS p25,
        |  quantile_cont(CAST(n_chars AS DOUBLE), 0.5) AS p50,
        |  quantile_cont(CAST(n_chars AS DOUBLE), 0.75) AS p75
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin),
      (s, dir) => CorpusStats.lengthQuantiles(
        t(s, dir, "documents"), "lang", "n_chars")
        .orderBy("lang")),

    // ---- versioned-store compaction (the OPTIMIZE pass): three
    //      multi-file merge publishes, then a compaction republish —
    //      the oracle proves the re-layout is contents-identical, the
    //      engine-side require proves compaction actually rewrote
    //      (files shrank; a no-op would not satisfy it) ----
    Q("x48_compacted_store", Some(
      """SELECT doc_id, lang, source, n_chars, md5(text) AS text_hash
        |FROM documents ORDER BY doc_id""".stripMargin),
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val store = tmp("graft-compact48") + "/docs"
        (0 until 3).foreach { k =>
          MergeUpsert.mergeWritePlain(s, store,
            docs.filter(col("doc_id") % 3 === k), Seq("doc_id"))
        }
        // streaming-cadence decay stand-in: republish the live version
        // fragmented (explicit numPartitions — AQE never coalesces a
        // user repartition, so the 8-file layout is deterministic)
        MergeUpsert.publishPlain(s, store,
          MergeUpsert.readPlain(s, store).repartition(8))
        val rep = MergeUpsert.compactPlain(s, store, targetBytes = 256L << 20)
        require(rep.compacted && rep.filesAfter < rep.filesBefore,
          s"compaction should have reduced files, got $rep")
        MergeUpsert.readPlain(s, store)
          .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
            md5(col("text")).as("text_hash"))
          .orderBy("doc_id")
      }),

    // ---- temperature sampling (α = 0.5): the corpus-derived mixture
    //      flattening of multilingual pre-training — pₛ ∝ √nₛ; sqrt is
    //      IEEE-correctly-rounded, so the derived basis points (and
    //      therefore the kept row set) are bit-identical cross-engine ----
    Q("x49_temperature_mix", Some(
      s"""WITH cnt AS (
         |  SELECT lang, CAST(count(*) AS BIGINT) AS n FROM documents
         |  WHERE lang IS NOT NULL GROUP BY lang),
         |b AS (
         |  SELECT min(n / sqrt(n)) AS budget FROM cnt),
         |rates AS (
         |  SELECT lang,
         |    CAST(floor(least(budget * sqrt(n) / n, 1.0) * 10000.0 + 0.5)
         |      AS BIGINT) AS bp
         |  FROM cnt CROSS JOIN b)
         |SELECT d.doc_id, d.lang
         |FROM documents d JOIN rates r USING (lang)
         |WHERE ${h60Sql("('temp:' || CAST(doc_id AS VARCHAR))", 10000L)} < bp
         |ORDER BY doc_id""".stripMargin),
      (s, dir) => Sampling.temperatureMix(t(s, dir, "documents"),
        "doc_id", "lang", alpha = 0.5)
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id")),

    // ---- z-order (Morton) clustering key over (l_partkey, l_suppkey):
    //      the multi-dimensional layout key behind OPTIMIZE ZORDER BY —
    //      min-max normalize (exact integer product, IEEE division,
    //      floor) then bit-interleave; ranges derived per-corpus by one
    //      tiny stats agg (the centroid pattern). The layout rewrite
    //      itself is ZOrder.cluster (spec-asserted tiling); this query
    //      proves the KEY is bit-identical cross-engine ----
    Q("x50_zorder_key", Some(
      s"""WITH r AS (
         |  SELECT CAST(min(l_partkey) AS BIGINT) AS p_lo,
         |         CAST(max(l_partkey) AS BIGINT) AS p_hi,
         |         CAST(min(l_suppkey) AS BIGINT) AS s_lo,
         |         CAST(max(l_suppkey) AS BIGINT) AS s_hi
         |  FROM lineitem),
         |n AS (
         |  SELECT l_orderkey, l_linenumber,
         |    CAST(floor(CAST((CAST(l_partkey AS BIGINT) - p_lo) * 65535
         |      AS DOUBLE) / CAST(p_hi - p_lo AS DOUBLE)) AS BIGINT) AS nx,
         |    CAST(floor(CAST((CAST(l_suppkey AS BIGINT) - s_lo) * 65535
         |      AS DOUBLE) / CAST(s_hi - s_lo AS DOUBLE)) AS BIGINT) AS ny
         |  FROM lineitem CROSS JOIN r)
         |SELECT l_orderkey, l_linenumber,
         |  ${ZOrder.interleaveSql(Seq("nx", "ny"), 16)} AS z
         |FROM n ORDER BY l_orderkey, l_linenumber""".stripMargin),
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val rs = ZOrder.ranges(li, Seq("l_partkey", "l_suppkey"))
        li.select(col("l_orderkey"), col("l_linenumber"),
          ZOrder.zValueRanged(
            Seq(col("l_partkey") -> rs(0), col("l_suppkey") -> rs(1)),
            bits = 16).as("z"))
          .orderBy("l_orderkey", "l_linenumber")
      }),

    // ---- Bloom-compressed contamination: same decontamination pass as
    //      x33 but the benchmark side rides as a fixed 64 Kbit bitmap
    //      (8 KB broadcast at ANY member count) instead of the exact
    //      hash set. The oracle runs a DIFFERENT algorithm (position
    //      subset-count, no bitmap) over the same double-hash math, so
    //      a match — deterministic false positives included — validates
    //      the entire hash/bit pipeline cross-engine ----
    Q("x51_bloom_contamination", Some(
      s"""WITH toks AS (
         |  SELECT doc_id, ${tokSql("text")} AS tk FROM documents),
         |sh AS (
         |  SELECT doc_id, list_distinct(list_transform(
         |    generate_series(1, greatest(len(tk) - 4, 1)),
         |    i -> array_to_string(tk[i : i + 4], ' '))) AS shingles
         |  FROM toks WHERE len(tk) > 0),
         |hs AS (
         |  SELECT doc_id, unnest(list_transform(shingles,
         |    s -> ${h60Sql("s", 1152921504606846976L)})) AS h
         |  FROM sh),
         |bench_pos AS (
         |  SELECT DISTINCT ${BloomFilter.positionSql("h", "j", BloomM)} AS pos
         |  FROM (SELECT DISTINCT h FROM hs WHERE doc_id % 29 = 0) b,
         |       unnest(generate_series(0, ${BloomK - 1})) AS u(j)),
         |probe AS (
         |  SELECT doc_id, h,
         |    ${BloomFilter.positionSql("h", "j", BloomM)} AS pos
         |  FROM hs, unnest(generate_series(0, ${BloomK - 1})) AS u(j)
         |  WHERE doc_id % 29 <> 0),
         |hit AS (
         |  SELECT doc_id, h FROM probe JOIN bench_pos USING (pos)
         |  GROUP BY doc_id, h HAVING count(*) = $BloomK)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bloom_hits
         |FROM hit GROUP BY doc_id ORDER BY doc_id""".stripMargin),
      (s, dir) => {
        val docs = t(s, dir, "documents")
        BloomFilter.flagBloom(
          docs.filter(col("doc_id") % 29 =!= 0), "doc_id", "text",
          docs.filter(col("doc_id") % 29 === 0), "text",
          shingleN = 5, m = BloomM, k = BloomK)
          .orderBy("doc_id")
      }),

    // ---- the pipeline's last mile, composition-oracled like x31:
    //      sequence-pack the DEDUPPED corpus (x27's keepers) — dedup
    //      changes every downstream offset, so a cross-engine match
    //      proves the composed keepers→pack dataflow, not just each
    //      stage ----
    Q("x52_curated_pack", Some(
      s"""WITH RECURSIVE ${minhashPairsSql()},
         |${neardupClosureSql("documents")},
         |$keepersSql,
         |kd AS (
         |  SELECT d.doc_id, d.lang AS shard,
         |    CAST(len(${tokSql("d.text")}) AS BIGINT) AS n_tok
         |  FROM documents d JOIN keepers USING (doc_id)),
         |c AS (
         |  SELECT doc_id, shard, n_tok,
         |    sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id)
         |      AS end_tok
         |  FROM kd)
         |SELECT doc_id, shard, n_tok,
         |  CAST((end_tok - n_tok) // 2048 AS BIGINT) AS seq_id,
         |  CAST((end_tok - n_tok) % 2048 AS BIGINT) AS offset
         |FROM c ORDER BY doc_id""".stripMargin),
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val kept = docs.join(
          docClusters(s, dir).filter(col("keep")).select("doc_id"),
          Seq("doc_id"))
        Chunking.packSequences(
          kept.select(col("doc_id"), col("lang"),
            TextFunctions.tokenCount(col("text")).as("n_tok")),
          "doc_id", "n_tok", "lang", seqLen = 2048)
          .orderBy("doc_id")
      }),

    // ---- vocabulary coverage / OOV rate per doc against the corpus
    //      top-500 vocab (x44's) — the tokenizer-coverage report;
    //      broadcast vocab join, integer counts, portable-rounded rate ----
    Q("x53_oov_rate", Some(
      s"""WITH tk AS (
         |  SELECT doc_id, unnest(${tokSql("lower(text)")}) AS term
         |  FROM documents),
         |counts AS (
         |  SELECT term, count(*) AS freq FROM tk GROUP BY term),
         |vocab AS (
         |  SELECT term FROM counts ORDER BY freq DESC, term LIMIT 500),
         |per AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
         |    CAST(sum(CASE WHEN v.term IS NOT NULL THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_in_vocab
         |  FROM tk LEFT JOIN vocab v USING (term) GROUP BY doc_id)
         |SELECT d.doc_id,
         |  coalesce(n_tok, 0) AS n_tok,
         |  coalesce(n_in_vocab, 0) AS n_in_vocab,
         |  CASE WHEN coalesce(n_tok, 0) = 0 THEN 0.0
         |       ELSE floor((1.0 - n_in_vocab * 1.0 / n_tok) * 10000.0
         |                  + 0.5) / 10000.0 END AS oov_rate
         |FROM documents d LEFT JOIN per USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin),
      (s, dir) => CorpusStats.oovStats(
        t(s, dir, "documents"), "doc_id", "text", vocabK = 500)
        .orderBy("doc_id")),

    // ---- incrementally maintained vocabulary: three ADDITIVE counter
    //      merges into a versioned store must equal the from-scratch
    //      word count — the never-recompute-from-scratch shape for
    //      corpus-level aggregates ----
    Q("x54_incremental_vocab", Some(
      s"""WITH tk AS (
         |  SELECT unnest(${tokSql("lower(text)")}) AS term FROM documents)
         |SELECT term, count(*) AS freq FROM tk
         |GROUP BY term ORDER BY term""".stripMargin),
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val store = tmp("graft-incvocab") + "/vocab"
        (0 until 3).foreach { k =>
          val batch = docs.filter(col("doc_id") % 3 === k)
            .select(explode(TextFunctions.tokens(lower(col("text"))))
              .as("term"))
            .groupBy("term").agg(count(lit(1)).as("freq"))
          MergeUpsert.mergeAdditiveWritePlain(s, store, batch,
            Seq("term"), Seq("freq"))
        }
        MergeUpsert.readPlain(s, store).orderBy("term")
      }),

    // ---- takedown/retention delete on the versioned store: publish a
    //      filtered version atomically; the oracle proves the surviving
    //      row set exactly, the engine-side require proves rows were
    //      actually removed (not a vacuous filter) ----
    Q("x55_store_delete", Some(
      """SELECT doc_id, lang, md5(text) AS text_hash
        |FROM documents WHERE lang <> 'de' ORDER BY doc_id""".stripMargin),
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val store = tmp("graft-del55") + "/docs"
        MergeUpsert.mergeWritePlain(s, store, docs, Seq("doc_id"))
        val removed = MergeUpsert.deleteWhere(s, store, col("lang") === "de")
        require(removed > 0, "delete should have removed the de partition")
        MergeUpsert.readPlain(s, store)
          .select(col("doc_id"), col("lang"), md5(col("text")).as("text_hash"))
          .orderBy("doc_id")
      }),

    // ---- change-data capture between store versions: what did that
    //      merge change? One full-outer key join over two retained
    //      versions; the oracle re-derives the expected change set from
    //      the batch definitions ----
    Q("x56_version_diff", Some(
      """SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'update' ELSE 'insert' END
        |    AS change
        |FROM documents WHERE doc_id % 3 = 0 ORDER BY doc_id""".stripMargin),
      (s, dir) => {
        val docs = t(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("n_chars"))
        val store = tmp("graft-diff56") + "/d"
        MergeUpsert.mergeWritePlain(s, store,
          docs.filter(col("doc_id") % 2 === 0), Seq("doc_id"))
        val v1 = MergeUpsert.currentPlainVersion(s, store).get
        MergeUpsert.mergeWritePlain(s, store,
          docs.filter(col("doc_id") % 3 === 0)
            .withColumn("n_chars", col("n_chars") + 1000),
          Seq("doc_id"))
        val v2 = MergeUpsert.currentPlainVersion(s, store).get
        MergeUpsert.diffVersions(s, store, v1, v2, Seq("doc_id"))
          .orderBy("doc_id")
      }),

    // ---- product-quantization codes (the IVF+PQ index tier): 4
    //      subspaces × 16 dims, each with its own deterministic k=8
    //      codebook; a vector's code = nearest codebook entry per
    //      subspace. The oracle re-trains all four codebooks in SQL
    //      (the generalized k-means mirror) and re-derives every
    //      assignment ----
    Q("x57_pq_codes", Some({
      val m = 4; val sub = 16; val k = 8
      val slices = (0 until m).map(s =>
        (s, (qual: String) => s"$qual[${s * sub + 1}:${(s + 1) * sub}]"))
      val trainings = slices.map { case (s, vec) =>
        kmeansCentSqlFor(k, 1, vec, s"_p$s") }.mkString(",\n")
      val codeCtes = slices.map { case (s, vec) =>
        s"""code_p$s AS (
           |  SELECT eid, cid FROM (
           |    SELECT e.vec_id AS eid, c.cid,
           |      row_number() OVER (PARTITION BY e.vec_id
           |        ORDER BY ${cosineSql(vec("e.embedding"), "c.cvec", 6)} DESC,
           |          c.cid) AS rn
           |    FROM embeddings e, cent1_p$s c)
           |  WHERE rn = 1)""".stripMargin }.mkString(",\n")
      s"""WITH $trainings,
         |$codeCtes
         |SELECT e.vec_id,
         |  c0.cid AS code0, c1.cid AS code1, c2.cid AS code2,
         |  c3.cid AS code3
         |FROM embeddings e
         |JOIN code_p0 c0 ON c0.eid = e.vec_id
         |JOIN code_p1 c1 ON c1.eid = e.vec_id
         |JOIN code_p2 c2 ON c2.eid = e.vec_id
         |JOIN code_p3 c3 ON c3.eid = e.vec_id
         |ORDER BY e.vec_id""".stripMargin
    }),
      (s, dir) => Similarity.pqCodes(
        t(s, dir, "embeddings"), "vec_id", "embedding",
        m = 4, k = 8, iters = 1)
        .orderBy("vec_id")),

    // ---- PQ asymmetric-distance top-k (ADC): queries full-precision,
    //      corpus as codes, scores from an O(#queries·k) centroid
    //      lookup table — the search that makes PQ an index. Parts
    //      rounded to 6, sum to 4, eid tiebreak ----
    Q("x58_pq_adc_topk", Some({
      val m = 4; val sub = 16; val k = 8
      val slices = (0 until m).map(s =>
        (s, (qual: String) => s"$qual[${s * sub + 1}:${(s + 1) * sub}]"))
      val trainings = slices.map { case (s, vec) =>
        kmeansCentSqlFor(k, 1, vec, s"_p$s") }.mkString(",\n")
      val codeCtes = slices.map { case (s, vec) =>
        s"""code_p$s AS (
           |  SELECT eid, cid FROM (
           |    SELECT e.vec_id AS eid, c.cid,
           |      row_number() OVER (PARTITION BY e.vec_id
           |        ORDER BY ${cosineSql(vec("e.embedding"), "c.cvec", 6)} DESC,
           |          c.cid) AS rn
           |    FROM embeddings e, cent1_p$s c)
           |  WHERE rn = 1)""".stripMargin }.mkString(",\n")
      val lutCtes = slices.map { case (s, vec) =>
        s"""lut_p$s AS (
           |  SELECT q.vec_id AS qid, c.cid,
           |    ${dotSql(vec("q.embedding"), "c.cvec", 6)} AS part
           |  FROM embeddings q, cent1_p$s c WHERE q.vec_id < 5)""".stripMargin
        }.mkString(",\n")
      s"""WITH $trainings,
         |$codeCtes,
         |$lutCtes,
         |codes AS (
         |  SELECT e.vec_id AS eid, c0.cid AS k0, c1.cid AS k1,
         |         c2.cid AS k2, c3.cid AS k3
         |  FROM embeddings e
         |  JOIN code_p0 c0 ON c0.eid = e.vec_id
         |  JOIN code_p1 c1 ON c1.eid = e.vec_id
         |  JOIN code_p2 c2 ON c2.eid = e.vec_id
         |  JOIN code_p3 c3 ON c3.eid = e.vec_id),
         |scored AS (
         |  SELECT l0.qid, c.eid,
         |    round(l0.part + l1.part + l2.part + l3.part, 4) AS adc
         |  FROM codes c
         |  JOIN lut_p0 l0 ON l0.cid = c.k0
         |  JOIN lut_p1 l1 ON l1.cid = c.k1 AND l1.qid = l0.qid
         |  JOIN lut_p2 l2 ON l2.cid = c.k2 AND l2.qid = l0.qid
         |  JOIN lut_p3 l3 ON l3.cid = c.k3 AND l3.qid = l0.qid)
         |SELECT qid, eid, adc, rn FROM (
         |  SELECT qid, eid, adc,
         |    CAST(row_number() OVER (PARTITION BY qid
         |      ORDER BY adc DESC, eid) AS INT) AS rn
         |  FROM scored)
         |WHERE rn <= 10 ORDER BY qid, rn""".stripMargin
    }),
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        Similarity.pqTopK(emb.filter(col("vec_id") < 5), emb,
          "vec_id", "embedding", k = 10, m = 4, kCent = 8, iters = 1)
      }),

    // ---- incrementally maintained KMV sketches: three appends into a
    //      versioned sketch store must equal the from-scratch sketch
    //      EXACTLY (the KMV union property is exact on sketches, not
    //      approximate-on-approximate) ----
    Q("x59_incremental_kmv", Some(
      s"""WITH tok AS (
         |  SELECT lang, unnest(${tokSql("text")}) AS t FROM documents),
         |h AS (
         |  SELECT DISTINCT lang, ${h60Sql("t", KmvM)} AS hv FROM tok),
         |r AS (
         |  SELECT lang, hv,
         |    row_number() OVER (PARTITION BY lang ORDER BY hv) AS rn
         |  FROM h),
         |sk AS (
         |  SELECT lang, list(hv ORDER BY hv) AS sketch
         |  FROM r WHERE rn <= $KmvK GROUP BY lang)
         |SELECT lang, ${kmvEstSql("sketch")} AS kmv_estimate
         |FROM sk ORDER BY lang""".stripMargin),
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val store = tmp("graft-inckmv") + "/kmv"
        (0 until 3).foreach { kk =>
          Sketches.appendSketch(s, store,
            docs.filter(col("doc_id") % 3 === kk)
              .select(col("lang"),
                explode(TextFunctions.tokens(col("text"))).as("t")),
            "lang", col("t"), KmvK, KmvM)
        }
        MergeUpsert.readPlain(s, store)
          .select(col("lang"),
            Sketches.kmvEstimate(col("sketch"), KmvK, KmvM)
              .as("kmv_estimate"))
          .orderBy("lang")
      }),

    // ---- exactly-once streamed vocabulary: three ledgered batch
    //      applies WITH a deliberate mid-sequence redelivery must equal
    //      the from-scratch word count — additive sinks double-count
    //      redelivery unless the applied-batch watermark commits
    //      atomically with the data (it rides in the same version
    //      publish) ----
    Q("x60_stream_vocab", Some(
      s"""WITH tk AS (
         |  SELECT unnest(${tokSql("lower(text)")}) AS term FROM documents)
         |SELECT term, count(*) AS freq FROM tk
         |GROUP BY term ORDER BY term""".stripMargin),
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val store = tmp("graft-svocab60") + "/v"
        Seq(0L, 1L, 1L, 2L).foreach { bid => // batch 1 redelivered
          graft.streaming.StreamStats.applyBatch(s, store,
            docs.filter(col("doc_id") % 3 === bid % 3), "text", bid)
        }
        graft.streaming.StreamStats.readVocab(s, store).orderBy("term")
      }),

    // ---- interval-overlap join (two-sided x29): bucketized equi-join
    //      with canonical-bucket dedup-free emission vs the oracle's
    //      naive overlap predicate ----
    Q("x61_interval_overlap", Some(
      s"""WITH e AS (
         |  SELECT event_id, epoch_ns(ts) // 1000000 AS ms FROM events),
         |a AS (
         |  SELECT event_id AS a_id, ms AS a_lo, ms + $RangeWinMs AS a_hi
         |  FROM e WHERE event_id % $RangeEvery = 0),
         |b AS (
         |  SELECT event_id AS b_id, ms AS b_lo, ms + 2700000 AS b_hi
         |  FROM e WHERE event_id % 71 = 0)
         |SELECT a_id, b_id FROM a JOIN b
         |ON a_lo <= b_hi AND b_lo <= a_hi
         |ORDER BY a_id, b_id""".stripMargin),
      (s, dir) => {
        val e = ReferenceCatalog.events(s, dir)
          .select(col("event_id"), unix_millis(col("ts")).as("ms"))
        val a = e.filter(col("event_id") % RangeEvery === 0)
          .select(col("event_id").as("a_id"), col("ms").as("a_lo"),
            (col("ms") + lit(RangeWinMs)).as("a_hi"))
        val b = e.filter(col("event_id") % 71 === 0)
          .select(col("event_id").as("b_id"), col("ms").as("b_lo"),
            (col("ms") + lit(2700000L)).as("b_hi"))
        RangeJoin.intervalOverlap(a, "a_lo", "a_hi", b, "b_lo", "b_hi",
            bucketWidth = RangeBucketMs)
          .select(col("a_id"), col("b_id"))
          .orderBy("a_id", "b_id")
      }),

    // ---- SemDeDup: k-means clusters bound the pairwise cosine to
    //      within-cluster blocks; smallest-id keeper per ε-ball. The
    //      oracle replays the k-means training over the SEEDED corpus
    //      (natural embeddings are near-orthogonal — max cosine ≈ 0.46 —
    //      so scaled copies are planted exactly as in x14; cosine and
    //      its round are scale-invariant, so a copy always lands in its
    //      original's cluster and the planted rows are non-vacuous). ----
    Q("x62_semdedup", Some(
      s"""WITH semsrc AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding
         |  FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + 1000000000000, list_transform(embedding, x -> x * 1.02)
         |  FROM embeddings),
         |${kmeansCentSqlFor(16, 2, identity, "", src = "semsrc")},
         |assign AS (
         |  SELECT vid, v, cid FROM (
         |    SELECT e.vec_id AS vid, e.embedding AS v, c.cid,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${cosineSql("e.embedding", "c.cvec", 6)} DESC, c.cid) AS rn
         |    FROM semsrc e, cent2 c)
         |  WHERE rn = 1),
         |dups AS (
         |  SELECT DISTINCT b.vid FROM assign a JOIN assign b
         |  ON a.cid = b.cid AND a.vid < b.vid
         |  WHERE ${cosineSql("a.v", "b.v")} >= 0.95)
         |SELECT a.vid AS vec_id, a.cid, d.vid IS NULL AS keep
         |FROM assign a LEFT JOIN dups d ON a.vid = d.vid
         |ORDER BY vec_id""".stripMargin),
      (s, dir) => {
        val base = t(s, dir, "embeddings").select(col("vec_id"),
          col("embedding").cast("array<double>").as("embedding"))
        val planted = base.select(
          (col("vec_id") + lit(1000000000000L)).as("vec_id"),
          transform(col("embedding"), x => x * lit(1.02)).as("embedding"))
        Similarity.semDedup(base.unionByName(planted),
            "vec_id", "embedding", nClusters = 16, threshold = 0.95)
          .orderBy("vec_id")
      }),

    // ---- BM25 top-k retrieval: pivoted per-term tf (fixed-order
    //      score sum — no aggregation-order float sums), driver-side
    //      round-6 idf, round-4 score before ranking. The oracle
    //      recomputes N/avgdl/df/idf from the same integers. ----
    Q("x63_bm25_topk", Some(
      s"""WITH $bm25ScoredSql
         |SELECT doc_id, score, rn FROM (
         |  SELECT doc_id, score,
         |    CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS rn
         |  FROM scored)
         |WHERE rn <= 20 ORDER BY rn""".stripMargin),
      (s, dir) => TfIdf.bm25TopK(t(s, dir, "documents"), "doc_id", "text",
        Bm25Terms, k = 20, k1 = Bm25K1, b = Bm25B)),

    // ---- DSIR importance weights: hashed-unigram log p_tgt/p_src with
    //      add-1 smoothing (target = lang 'en', source = everything).
    //      The float sum folds over the BUCKET-SORTED list on both
    //      engines (aggregate vs list_reduce — sequential left folds),
    //      so addition order can never differ. ----
    Q("x64_dsir_weights", Some(
      s"""WITH $dsirCtes
         |SELECT doc_id, n_tok, logw FROM dw
         |ORDER BY doc_id""".stripMargin),
      (s, dir) => Sampling.dsirWeights(t(s, dir, "documents"),
          "doc_id", "text", col("lang") === "en", buckets = DsirBuckets)
        .orderBy("doc_id")),

    // ---- corpus-wide line boilerplate (MassiveText/CCNet pass). The
    //      natural corpus is single-line word salads (zero cross-doc
    //      line duplication), so the query plants two footer lines on
    //      every document IN BOTH ENGINES — one corpus-wide, one on
    //      even ids — exactly as x14 plants scaled embedding copies:
    //      the removal path is exercised non-vacuously while each
    //      doc's own (unique) body line survives. ----
    Q("x65_line_boilerplate", Some(
      s"""WITH src AS (
         |  SELECT doc_id,
         |    text || chr(10) || 'subscribe to our newsletter' || chr(10) ||
         |    CASE WHEN doc_id % 2 = 0 THEN 'all rights reserved'
         |         ELSE 'privacy policy' END AS text
         |  FROM documents),
         |l AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM src),
         |e AS (
         |  SELECT doc_id, i AS pos, ls[i] AS line
         |  FROM l, unnest(generate_series(1, len(ls))) AS u(i)),
         |d AS (
         |  SELECT DISTINCT doc_id, ${h60Sql("line", 1152921504606846976L)} AS h
         |  FROM e WHERE length(trim(line)) > 0),
         |bl AS (
         |  SELECT h FROM (SELECT h, count(*) AS docs FROM d GROUP BY h)
         |  WHERE docs >= $BoilerMinDocs),
         |f AS (
         |  SELECT e.doc_id, e.pos, e.line, bl.h IS NULL AS keep
         |  FROM e LEFT JOIN bl
         |    ON ${h60Sql("e.line", 1152921504606846976L)} = bl.h)
         |SELECT doc_id,
         |  count(*) AS n_lines,
         |  CAST(coalesce(sum(CASE WHEN keep THEN 1 ELSE 0 END), 0) AS BIGINT)
         |    AS n_kept,
         |  coalesce(string_agg(line, chr(10) ORDER BY pos)
         |             FILTER (WHERE keep), '') AS clean_text
         |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin),
      (s, dir) => {
        val planted = t(s, dir, "documents").select(col("doc_id"),
          concat(col("text"), lit("\nsubscribe to our newsletter\n"),
            when(col("doc_id") % 2 === 0, "all rights reserved")
              .otherwise("privacy policy")).as("text"))
        Dedup.lineBoilerplate(planted, "doc_id", "text",
            minDocs = BoilerMinDocs)
          .orderBy("doc_id")
      }),

    // ---- SCD2 dimension history: per-customer order-status snapshots
    //      (one per order date) → half-open validity intervals; runs of
    //      unchanged status merge, last interval per key is current ----
    Q("x66_scd2_history", Some(
      """WITH snap AS (
        |  SELECT o_custkey AS key, o_orderdate AS batch,
        |         max(o_orderstatus) AS status
        |  FROM orders GROUP BY 1, 2),
        |m AS (
        |  SELECT key, batch, status,
        |    (lag(batch) OVER w IS NULL
        |     OR status IS DISTINCT FROM lag(status) OVER w) AS chg
        |  FROM snap WINDOW w AS (PARTITION BY key ORDER BY batch)),
        |runs AS (SELECT key, status, batch AS valid_from FROM m WHERE chg)
        |SELECT key, status, valid_from,
        |  lead(valid_from) OVER w2 AS valid_to,
        |  lead(valid_from) OVER w2 IS NULL AS is_current
        |FROM runs
        |WINDOW w2 AS (PARTITION BY key ORDER BY valid_from)
        |ORDER BY key, valid_from""".stripMargin),
      (s, dir) => {
        val snap = t(s, dir, "orders")
          .groupBy(col("o_custkey").as("key"),
            col("o_orderdate").as("batch"))
          .agg(max(col("o_orderstatus")).as("status"))
        Scd2.history(snap, "key", "batch", Seq("status"))
          .orderBy("key", "valid_from")
      }),

    // ---- unigram cross-entropy (CCNet-style perplexity signal):
    //      bits/token under the corpus's own add-1-smoothed unigram
    //      model; per-term contributions quantized to integers before
    //      the per-doc sum (r16) = order-free exact reduction, plain
    //      codegen sum on both engines ----
    Q("x67_unigram_bits", Some(
      s"""WITH tk AS (
         |  SELECT doc_id, ${h60Sql("t", 1152921504606846976L)} AS h FROM (
         |    SELECT doc_id, unnest(${tokSql("lower(text)")}) AS t
         |    FROM documents)),
         |g AS (SELECT h, count(*) AS cnt FROM tk GROUP BY h),
         |tot AS (
         |  SELECT CAST(coalesce(sum(cnt), 0) AS BIGINT) + count(*) AS tv
         |  FROM g),
         |dc AS (SELECT doc_id, h, count(*) AS c FROM tk GROUP BY doc_id, h),
         |per AS (
         |  SELECT dc.doc_id,
         |    CAST(sum(dc.c) AS BIGINT) AS n_tok,
         |    CAST(sum(CAST(floor(dc.c * log2((g.cnt + 1.0) / tv)
         |      * 1000000.0) AS BIGINT)) AS BIGINT) AS q
         |  FROM dc JOIN g USING (h), tot GROUP BY dc.doc_id),
         |w AS (
         |  SELECT doc_id, n_tok,
         |    floor((0.0 - q / 1000000.0) / n_tok * 10000.0 + 0.5)
         |      / 10000.0 AS bpt
         |  FROM per)
         |SELECT d.doc_id,
         |       coalesce(w.n_tok, 0) AS n_tok,
         |       coalesce(w.bpt, 0.0) AS bpt
         |FROM documents d LEFT JOIN w USING (doc_id)
         |ORDER BY doc_id""".stripMargin),
      (s, dir) => CorpusStats.unigramBits(t(s, dir, "documents"),
          "doc_id", "text")
        .orderBy("doc_id")),

    // ---- per-source quality cap (C4's "<= N pages per domain"):
    //      rank-based bound on runaway domains, quality-ordered ----
    Q("x68_source_cap", Some(
      s"""WITH q AS (
         |  SELECT doc_id, source, $qualityFormulaSql AS quality
         |  FROM (SELECT doc_id, source, $qualityStatsSql FROM documents))
         |SELECT doc_id, source, quality, rk FROM (
         |  SELECT doc_id, source, quality,
         |    CAST(row_number() OVER (
         |      PARTITION BY source ORDER BY quality DESC, doc_id) AS INT) AS rk
         |  FROM q)
         |WHERE rk <= 10 ORDER BY source, rk""".stripMargin),
      (s, dir) => {
        val scored = t(s, dir, "documents").select(col("doc_id"),
          col("source"),
          TextFunctions.qualityScore(col("text")).as("quality"))
        Sampling.capPerGroup(scored, "doc_id", "source", "quality", cap = 10)
          .orderBy("source", "rk")
      }),

    // ---- PageRank over the near-dup graph (template-hub detection):
    //      3 unrolled deterministic iterations, per-node sums folded
    //      over source-sorted contribution lists, rank re-rounded every
    //      iteration so float divergence cannot accumulate. The oracle
    //      replays the iterations CTE by CTE. NOTE (1.0 - 0.85) is
    //      written as the same IEEE subtraction on both engines — a
    //      0.15 literal parses to a DIFFERENT double. ----
    Q("x69_pagerank", {
      val iters = (1 to 3).map { i =>
        s"""c$i AS (
           |  SELECT e.dst,
           |    list_sort(list(p.pr / d.deg)) AS arr
           |  FROM edges e JOIN deg d USING (src) JOIN pr${i - 1} p ON e.src = p.id
           |  GROUP BY e.dst),
           |pr$i AS (
           |  SELECT b.id,
           |    floor(((1.0 - $PrDamping) / n + $PrDamping * coalesce(
           |        list_reduce(list_prepend(0.0, arr), (a, x) -> a + x), 0.0))
           |      * 10000000000.0 + 0.5)
           |      / 10000000000.0 AS pr
           |  FROM (SELECT doc_id AS id FROM documents) b
           |  LEFT JOIN c$i c ON b.id = c.dst, nn)""".stripMargin
      }.mkString(",\n")
      Some(
        s"""WITH ${minhashPairsSql()},
           |${verifiedPairsSql("documents")},
           |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
           |nn AS (SELECT count(*) AS n FROM documents),
           |pr0 AS (SELECT doc_id AS id, 1.0 / n AS pr FROM documents, nn),
           |$iters
           |SELECT id AS doc_id, pr FROM pr3 ORDER BY doc_id""".stripMargin)
    },
      (s, dir) => {
        val docs = t(s, dir, "documents")
        GraphRank.pageRank(docs.select("doc_id"), "doc_id",
            verifiedPairs(s, dir).select("id_a", "id_b"),
            iters = 3, damping = PrDamping)
          .withColumnRenamed("id", "doc_id")
          .orderBy("doc_id")
      }),

    // ---- exactly-once incremental SCD2: three chronological batch
    //      applies WITH a deliberate mid-sequence redelivery must equal
    //      the from-scratch batch operator (x66's oracle verbatim) —
    //      the history store is its own compacted state, and the
    //      applied-batch watermark rides in the same version publish ----
    Q("x70_stream_scd2", Some(
      """WITH snap AS (
        |  SELECT o_custkey AS key, o_orderdate AS batch,
        |         max(o_orderstatus) AS status
        |  FROM orders GROUP BY 1, 2),
        |m AS (
        |  SELECT key, batch, status,
        |    (lag(batch) OVER w IS NULL
        |     OR status IS DISTINCT FROM lag(status) OVER w) AS chg
        |  FROM snap WINDOW w AS (PARTITION BY key ORDER BY batch)),
        |runs AS (SELECT key, status, batch AS valid_from FROM m WHERE chg)
        |SELECT key, status, valid_from,
        |  lead(valid_from) OVER w2 AS valid_to,
        |  lead(valid_from) OVER w2 IS NULL AS is_current
        |FROM runs
        |WINDOW w2 AS (PARTITION BY key ORDER BY valid_from)
        |ORDER BY key, valid_from""".stripMargin),
      (s, dir) => {
        val store = tmp("graft-scd70") + "/hist"
        val orders = t(s, dir, "orders")
        def snap(df: DataFrame): DataFrame = df
          .groupBy(col("o_custkey").as("key"),
            col("o_orderdate").as("batch"))
          .agg(max(col("o_orderstatus")).as("status"))
        val d = col("o_orderdate")
        val cut1 = to_timestamp(lit("1994-01-01"))
        val cut2 = to_timestamp(lit("1996-01-01"))
        val batches = Seq(
          0L -> snap(orders.filter(d < cut1)),
          1L -> snap(orders.filter(d >= cut1 && d < cut2)),
          1L -> snap(orders.filter(d >= cut1 && d < cut2)), // redelivered
          2L -> snap(orders.filter(d >= cut2)))
        batches.foreach { case (id, b) =>
          graft.streaming.StreamScd2.applyBatch(s, store, b,
            "key", "batch", Seq("status"), id)
        }
        graft.streaming.StreamScd2.readHistory(s, store)
          .select("key", "status", "valid_from", "valid_to", "is_current")
          .orderBy("key", "valid_from")
      }),

    // ---- ROLLUP drill-down report: every aggregation level in ONE
    //      shuffle; grouping() flags split subtotals from real NULLs ----
    Q("x71_rollup_report", Some(
      s"""SELECT source, lang,
         |  count(*) AS n_docs,
         |  CAST(sum(len(${tokSql("text")})) AS BIGINT) AS n_tok,
         |  CAST(grouping(source) AS INT) AS g1,
         |  CAST(grouping(lang) AS INT) AS g2
         |FROM documents
         |GROUP BY ROLLUP (source, lang)
         |ORDER BY g1, g2, source, lang""".stripMargin),
      (s, dir) => CorpusStats.rollupReport(t(s, dir, "documents"),
          "source", "lang", "text")
        .orderBy("g1", "g2", "source", "lang")),

    // ---- per-event trailing 1h moving average (RANGE-frame window:
    //      event-time distance bounds the frame, so same-ms peers are
    //      always all included — deterministic under any row order) ----
    Q("x72_moving_avg", Some(
      s"""SELECT event_id, user_id, ms,
         |  count(*) OVER w AS n_win,
         |  floor(list_reduce(list_prepend(0.0,
         |          list_sort(list(CAST(value AS DOUBLE)) OVER w)),
         |        (a, x) -> a + x)
         |      / count(*) OVER w * 10000.0 + 0.5) / 10000.0 AS avg_win
         |FROM (SELECT event_id, user_id, value,
         |        epoch_ns(ts) // 1000000 AS ms FROM events)
         |WINDOW w AS (PARTITION BY user_id ORDER BY ms
         |             RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW)
         |ORDER BY event_id""".stripMargin),
      (s, dir) => {
        import graft.streaming.WindowedAgg
        WindowedAgg.movingAvg(ReferenceCatalog.events(s, dir),
            "ts", "user_id", "value", windowMs = 3600000L)
          .orderBy("event_id")
      }),

    // ---- pivot: event types to columns with an EXPLICIT value list
    //      (deterministic schema — discovery-pivot would scan twice and
    //      let a new type silently widen the table), one pass ----
    Q("x73_event_pivot", {
      val types = Seq("click", "error", "purchase", "signup", "view")
      val sums = types.map(t =>
        s"floor(coalesce(sum(CASE WHEN event_type = '$t' THEN value END), 0.0) * 10000.0 + 0.5) / 10000.0 AS $t")
        .mkString(",\n  ")
      Some(
        s"""SELECT user_id % 10 AS cohort,
           |  $sums
           |FROM events GROUP BY 1 ORDER BY cohort""".stripMargin)
    },
      (s, dir) => {
        val types = Seq("click", "error", "purchase", "signup", "view")
        val piv = ReferenceCatalog.events(s, dir)
          .select((col("user_id") % 10).as("cohort"),
            col("event_type"), col("value"))
          .groupBy("cohort")
          // explicit value list: one pass, fixed schema (the operator
          // here IS Dataset.pivot — no discovery scan)
          .pivot("event_type", types)
          .sum("value")
        piv.select(col("cohort") +: types.map(t =>
            TextFunctions.portableRound(coalesce(col(t), lit(0.0)), 4)
              .as(t)): _*)
          .orderBy("cohort")
      }),

    // ---- BPE subword training (Sennrich 2016): the merge table
    //      itself is the oracle target — the DuckDB side re-runs all
    //      20 greedy merge iterations CTE by CTE, so pair counting,
    //      argmax tiebreak, AND fold application are cross-engine
    //      verified, not just the downstream counts ----
    Q("x74_bpe_merges", Some({
      val rows = (1 to BpeMerges).map(r =>
        s"SELECT CAST($r AS INT) AS merge_rank, a AS lhs, b AS rhs FROM b$r WHERE a IS NOT NULL")
        .mkString("\n  UNION ALL ")
      s"""WITH $bpeTrainSql
         |SELECT * FROM (
         |  $rows)
         |ORDER BY merge_rank""".stripMargin
    }),
      (s, dir) => {
        import s.implicits._
        val (merges, _) = bpeTrained(s, dir)
        merges.map(m => (m.rank, m.lhs, m.rhs))
          .toDF("merge_rank", "lhs", "rhs")
          .orderBy("merge_rank")
      }),

    // ---- BPE encoding statistics: pieces per document under the
    //      trained vocabulary (fallback/OOV words = 1 piece) — the
    //      "what will this corpus cost in tokens" audit ----
    Q("x75_bpe_encode", Some(
      s"""WITH $bpeTrainSql,
         |enc AS (
         |  SELECT w, CAST(len(syms) AS BIGINT) AS n_pieces FROM s$BpeMerges),
         |tk AS (
         |  SELECT doc_id, unnest(${tokSql("lower(text)")}) AS w
         |  FROM documents),
         |per AS (
         |  SELECT tk.doc_id, count(*) AS n_tok,
         |         CAST(sum(coalesce(e.n_pieces, 1)) AS BIGINT) AS n_pieces
         |  FROM tk LEFT JOIN enc e USING (w) GROUP BY tk.doc_id)
         |SELECT d.doc_id,
         |       coalesce(per.n_tok, 0) AS n_tok,
         |       coalesce(per.n_pieces, 0) AS n_pieces
         |FROM documents d LEFT JOIN per USING (doc_id)
         |ORDER BY doc_id""".stripMargin),
      (s, dir) => {
        val (_, vocab) = bpeTrained(s, dir)
        graft.operators.Bpe.encodeStats(t(s, dir, "documents"),
            "doc_id", "text", vocab)
          .orderBy("doc_id")
      }),

    // ---- IVF+PQ composed ANN (the FAISS IVFPQ layout): coarse IVF
    //      gates WHICH rows are scored, PQ codes + query LUT decide
    //      HOW. The oracle replays BOTH quantizer trainings and the
    //      gated ADC join — the composition shares every fragment
    //      (and thus every rounding/tiebreak) with x17 and x58. ----
    Q("x76_ivfpq_topk", Some({
      val m = 4; val sub = 16; val k = 8
      val slices = (0 until m).map(s =>
        (s, (qual: String) => s"$qual[${s * sub + 1}:${(s + 1) * sub}]"))
      val trainings = slices.map { case (s, vec) =>
        kmeansCentSqlFor(k, 1, vec, s"_p$s") }.mkString(",\n")
      val codeCtes = slices.map { case (s, vec) =>
        s"""code_p$s AS (
           |  SELECT eid, cid FROM (
           |    SELECT e.vec_id AS eid, c.cid,
           |      row_number() OVER (PARTITION BY e.vec_id
           |        ORDER BY ${cosineSql(vec("e.embedding"), "c.cvec", 6)} DESC,
           |          c.cid) AS rn
           |    FROM embeddings e, cent1_p$s c)
           |  WHERE rn = 1)""".stripMargin }.mkString(",\n")
      val lutCtes = slices.map { case (s, vec) =>
        s"""lut_p$s AS (
           |  SELECT q.vec_id AS qid, c.cid,
           |    ${dotSql(vec("q.embedding"), "c.cvec", 6)} AS part
           |  FROM embeddings q, cent1_p$s c WHERE q.vec_id < 5)""".stripMargin
        }.mkString(",\n")
      s"""WITH ${kmeansCentSqlFor(16, 2, identity, "_c")},
         |$trainings,
         |$codeCtes,
         |$lutCtes,
         |eassign AS (
         |  SELECT eid, cid FROM (
         |    SELECT e.vec_id AS eid, c.cid,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${cosineSql("e.embedding", "c.cvec", 6)} DESC, c.cid) AS rn
         |    FROM embeddings e, cent2_c c)
         |  WHERE rn = 1),
         |qprobe AS (
         |  SELECT qid, cid FROM (
         |    SELECT q.vec_id AS qid, c.cid,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY ${cosineSql("q.embedding", "c.cvec", 6)} DESC, c.cid) AS rn
         |    FROM embeddings q, cent2_c c WHERE q.vec_id < 5)
         |  WHERE rn <= 2),
         |codes AS (
         |  SELECT e.vec_id AS eid, c0.cid AS k0, c1.cid AS k1,
         |         c2.cid AS k2, c3.cid AS k3
         |  FROM embeddings e
         |  JOIN code_p0 c0 ON c0.eid = e.vec_id
         |  JOIN code_p1 c1 ON c1.eid = e.vec_id
         |  JOIN code_p2 c2 ON c2.eid = e.vec_id
         |  JOIN code_p3 c3 ON c3.eid = e.vec_id),
         |scored AS (
         |  SELECT qp.qid, c.eid,
         |    round(l0.part + l1.part + l2.part + l3.part, 4) AS adc
         |  FROM codes c
         |  JOIN eassign ea ON ea.eid = c.eid
         |  JOIN qprobe qp ON qp.cid = ea.cid
         |  JOIN lut_p0 l0 ON l0.cid = c.k0 AND l0.qid = qp.qid
         |  JOIN lut_p1 l1 ON l1.cid = c.k1 AND l1.qid = qp.qid
         |  JOIN lut_p2 l2 ON l2.cid = c.k2 AND l2.qid = qp.qid
         |  JOIN lut_p3 l3 ON l3.cid = c.k3 AND l3.qid = qp.qid)
         |SELECT qid, eid, adc, rn FROM (
         |  SELECT qid, eid, adc,
         |    CAST(row_number() OVER (PARTITION BY qid
         |      ORDER BY adc DESC, eid) AS INT) AS rn
         |  FROM scored)
         |WHERE rn <= 10 ORDER BY qid, rn""".stripMargin
    }),
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        Similarity.ivfPqTopK(emb.filter(col("vec_id") < 5), emb,
          "vec_id", "embedding", k = 10, nCentroids = 16, nProbe = 2)
      }),

    // ---- stream-static enrichment (J1's fact×dim join, streaming
    //      face): events stream joins the broadcast customer dim into
    //      an exactly-once parquet file sink; the oracle is the plain
    //      relational join over everything that arrived ----
    Q("x77_stream_enrich", Some(
      """SELECT e.event_id, e.event_type, c.c_mktsegment AS segment
        |FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
        |ORDER BY event_id""".stripMargin),
      (s, dir) => {
        val work = tmp("graft-enrich")
        writeEventArrivalsNs(s, dir, s"$work/arrivals")
        val dim = t(s, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment").as("segment"))
        graft.streaming.StreamEnrich.enrichAvailableNow(s,
          s"$work/arrivals", eventArrivalSchema, dim,
          "user_id", "c_custkey",
          s"$work/out", s"$work/cp")
        graft.streaming.StreamEnrich.readEnriched(s, s"$work/out")
          .select("event_id", "event_type", "segment")
          .orderBy("event_id")
      }),

    // ---- strictly-ordered conversion funnel: stage k's earliest
    //      event must fall AFTER the user's earliest stage-(k-1)
    //      qualification; per-user minima shrink monotonically, so
    //      each stage is a user-keyed agg, never events × events ----
    Q("x78_funnel", Some(
      """WITH e AS (
        |  SELECT user_id AS u, epoch_ns(ts) // 1000000 AS ms, event_type
        |  FROM events),
        |s1 AS (
        |  SELECT u, min(ms) AS t FROM e
        |  WHERE event_type = 'signup' GROUP BY u),
        |s2 AS (
        |  SELECT c.u, min(c.ms) AS t
        |  FROM e c JOIN s1 ON c.u = s1.u
        |  WHERE c.event_type = 'click' AND c.ms > s1.t
        |  GROUP BY c.u),
        |s3 AS (
        |  SELECT p.u, min(p.ms) AS t
        |  FROM e p JOIN s2 ON p.u = s2.u
        |  WHERE p.event_type = 'purchase' AND p.ms > s2.t
        |  GROUP BY p.u)
        |SELECT (SELECT count(*) FROM s1) AS n_stage1,
        |       (SELECT count(*) FROM s2) AS n_stage2,
        |       (SELECT count(*) FROM s3) AS n_stage3""".stripMargin),
      (s, dir) => {
        val e = ReferenceCatalog.events(s, dir)
          .select(col("user_id"), unix_millis(col("ts")).as("ms"),
            col("event_type"))
        graft.operators.Funnels.orderedFunnel(e, "user_id", "ms",
          "event_type", Seq("signup", "click", "purchase"))
      }),

    // ---- weekly cohort retention: first-seen epoch week × weeks
    //      since, distinct active users per cell ----
    Q("x79_cohort_retention", Some(
      """WITH w AS (
        |  SELECT user_id AS u,
        |         (epoch_ns(ts) // 1000000) // 604800000 AS w
        |  FROM events),
        |f AS (SELECT u, min(w) AS cohort_week FROM w GROUP BY u)
        |SELECT f.cohort_week, w.w - f.cohort_week AS weeks_since,
        |       count(DISTINCT w.u) AS n_users
        |FROM w JOIN f USING (u)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      (s, dir) => {
        val e = ReferenceCatalog.events(s, dir)
          .select(col("user_id"), unix_millis(col("ts")).as("ms"))
        graft.operators.Funnels.cohortRetention(e, "user_id", "ms")
          .orderBy("cohort_week", "weeks_since")
      }),

    // ---- per-source quality percentile normalization: percent_rank
    //      is (rank-1)/(n-1) over exact integers — bit-identical
    //      cross-engine, ties rank-share, layout-independent ----
    Q("x80_quality_pctl", Some(
      s"""WITH q AS (
         |  SELECT doc_id, source, $qualityFormulaSql AS quality
         |  FROM (SELECT doc_id, source, $qualityStatsSql FROM documents))
         |SELECT doc_id, source, quality,
         |  percent_rank() OVER (PARTITION BY source ORDER BY quality)
         |    AS pctl
         |FROM q ORDER BY doc_id""".stripMargin),
      (s, dir) => {
        val scored = t(s, dir, "documents").select(col("doc_id"),
          col("source"),
          TextFunctions.qualityScore(col("text")).as("quality"))
        CorpusStats.percentileNormalize(scored, "source", "quality")
          .orderBy("doc_id")
      }),

    // ---- span-level decontamination (x33's benchmark, but WHERE):
    //      positional shingle hits merge into maximal token intervals
    //      via gaps-and-islands — redact the span, keep the page ----
    Q("x81_contamination_spans", Some(
      s"""WITH toks AS (SELECT doc_id, ${tokSql("text")} AS tk FROM documents),
         |pos AS (
         |  SELECT doc_id, i - 1 AS pos,
         |    ${h60Sql("array_to_string(tk[i : i + 4], ' ')", 1152921504606846976L)} AS h
         |  FROM toks, unnest(generate_series(1, len(tk) - 4)) AS u(i)
         |  WHERE len(tk) >= 5),
         |bench AS (SELECT DISTINCT h FROM pos WHERE doc_id % 29 = 0),
         |hits AS (
         |  SELECT p.doc_id, p.pos FROM pos p JOIN bench USING (h)
         |  WHERE p.doc_id % 29 <> 0),
         |m AS (
         |  SELECT doc_id, pos,
         |    CASE WHEN pos > coalesce(max(pos + 4) OVER (
         |        PARTITION BY doc_id ORDER BY pos
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) + 1
         |    THEN 1 ELSE 0 END AS brk
         |  FROM hits),
         |isl AS (
         |  SELECT doc_id, pos,
         |    sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
         |  FROM m)
         |SELECT doc_id,
         |  CAST(min(pos) AS BIGINT) AS span_start,
         |  CAST(max(pos) + 4 AS BIGINT) AS span_end,
         |  count(*) AS n_shingles
         |FROM isl GROUP BY doc_id, island
         |ORDER BY doc_id, span_start""".stripMargin),
      (s, dir) => {
        val docs = t(s, dir, "documents")
        Contamination.spans(
            docs.filter(col("doc_id") % 29 =!= 0), "doc_id", "text",
            docs.filter(col("doc_id") % 29 === 0), "text")
          .orderBy("doc_id", "span_start")
      }),

    // ---- pairwise Jensen-Shannon divergence between language
    //      distributions: fixed-bucket smoothed unigram models, sum
    //      over the WHOLE bucket space, bucket-sorted fold ----
    Q("x82_js_divergence", Some({
      val b = JsdBuckets
      val p = s"(s.c1 + 1.0) / (t1 + $b)"
      val q = s"(s.c2 + 1.0) / (t2 + $b)"
      val m = s"(($p + $q) / 2.0)"
      s"""WITH tk AS (
         |  SELECT g, ${h60Sql("t", b.toLong)} AS h FROM (
         |    SELECT lang AS g, unnest(${tokSql("lower(text)")}) AS t
         |    FROM documents)),
         |cnt AS (SELECT g, h, count(*) AS c FROM tk GROUP BY 1, 2),
         |tot AS (SELECT g, count(*) AS t FROM tk GROUP BY g),
         |grid AS (
         |  SELECT g, i AS h
         |  FROM (SELECT DISTINCT g FROM tk),
         |       unnest(generate_series(0, ${b - 1})) AS u(i)),
         |f AS (
         |  SELECT grid.g, grid.h, coalesce(cnt.c, 0) AS c
         |  FROM grid LEFT JOIN cnt USING (g, h)),
         |pair AS (
         |  SELECT a.g AS g1, b2.g AS g2, a.h, a.c AS c1, b2.c AS c2
         |  FROM f a JOIN f b2 ON a.h = b2.h AND a.g < b2.g),
         |arr AS (
         |  SELECT g1, g2, ta.t AS t1, tb.t AS t2,
         |    list_sort(list(struct_pack(h := pair.h, c1 := pair.c1,
         |                               c2 := pair.c2))) AS l
         |  FROM pair
         |  JOIN tot ta ON ta.g = pair.g1
         |  JOIN tot tb ON tb.g = pair.g2
         |  GROUP BY 1, 2, 3, 4)
         |SELECT g1, g2,
         |  floor(list_reduce(list_prepend(0.0, list_transform(l, s ->
         |      0.5 * ($p * ln($p / $m) + $q * ln($q / $m)))),
         |    (a, x) -> a + x) * 10000.0 + 0.5) / 10000.0 AS jsd
         |FROM arr ORDER BY g1, g2""".stripMargin
    }),
      (s, dir) => CorpusStats.jsDivergence(t(s, dir, "documents"),
          "lang", "text", buckets = JsdBuckets)
        .orderBy("g1", "g2")),

    // ---- duplication-weighted sampling: dedup keepers survive with
    //      probability min(1, 0.3·cluster_size) — copy count is
    //      signal, not waste; rides the memoized dedup family ----
    Q("x83_dup_weighted_sample", Some(
      s"""WITH RECURSIVE ${minhashPairsSql()},
         |${neardupClosureSql("documents")},
         |cl AS (
         |  SELECT node AS doc_id, min(label) AS cluster_id
         |  FROM reach GROUP BY node),
         |sz AS (SELECT cluster_id, count(*) AS csize FROM cl GROUP BY 1)
         |SELECT cl.doc_id, sz.csize,
         |  least(10000, 3000 * sz.csize) AS bp,
         |  ${h60Sql("('wsamp:' || CAST(cl.doc_id AS VARCHAR))", 10000L)}
         |    < least(10000, 3000 * sz.csize) AS kept
         |FROM cl JOIN sz USING (cluster_id)
         |WHERE cl.doc_id = cl.cluster_id
         |ORDER BY cl.doc_id""".stripMargin),
      (s, dir) => Sampling.dupWeightedSample(docClusters(s, dir),
          baseRate = 0.3)
        .orderBy("doc_id")),

    // ---- text canonicalization (normalize-before-hash): control
    //      chars strip, whitespace runs collapse, trim — exact dedup
    //      over the canonical form catches reformatted copies raw-byte
    //      hashing misses. md5 of the canonical form rides along as
    //      the dedup key the pipeline would actually store. ----
    Q("x84_normalize_text", Some(
      """SELECT doc_id,
        |  trim(regexp_replace(
        |    regexp_replace(text, '[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]', '', 'g'),
        |    '\s+', ' ', 'g')) AS norm_text,
        |  CAST(length(text) - length(trim(regexp_replace(
        |    regexp_replace(text, '[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]', '', 'g'),
        |    '\s+', ' ', 'g'))) AS BIGINT) AS n_removed,
        |  md5(trim(regexp_replace(
        |    regexp_replace(text, '[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]', '', 'g'),
        |    '\s+', ' ', 'g'))) AS norm_hash
        |FROM documents ORDER BY doc_id""".stripMargin),
      (s, dir) => {
        val norm = TextFunctions.normalizeText(col("text"))
        t(s, dir, "documents").select(col("doc_id"),
            norm.as("norm_text"),
            (length(col("text")) - length(norm)).cast("long")
              .as("n_removed"),
            md5(norm.cast("binary")).as("norm_hash"))
          .orderBy("doc_id")
      }),

    // ---- count–min sketch heavy hitters: the fixed-size (depth ×
    //      width longs) mergeable frequency state a 100 TB corpus
    //      keeps when the exact token→count table cannot be held;
    //      every distinct token probed to exhibit the one-sided error
    //      (overcount ≥ 0 by construction — collisions only add) ----
    Q("x85_cms_topk", Some({
      val depthArr = (0 until CmsDepth).mkString("[", ", ", "]")
      s"""WITH tc AS (
         |  SELECT term, count(*) AS cnt FROM (
         |    SELECT unnest(${tokSql("lower(text)")}) AS term FROM documents)
         |  GROUP BY term),
         |b AS (
         |  SELECT term, cnt, d,
         |    ${h60Sql("CAST(d AS VARCHAR) || ':' || term", CmsWidth)} AS bkt
         |  FROM tc, unnest($depthArr) AS u(d)),
         |sk AS (SELECT d, bkt, sum(cnt) AS s FROM b GROUP BY d, bkt)
         |SELECT term, CAST(cnt AS BIGINT) AS true_cnt,
         |  CAST(min(s) AS BIGINT) AS est_cnt,
         |  CAST(min(s) - cnt AS BIGINT) AS overcount
         |FROM b JOIN sk USING (d, bkt)
         |GROUP BY term, cnt
         |ORDER BY est_cnt DESC, term LIMIT $CmsTopK""".stripMargin
    }),
      (s, dir) => Sketches.cmsTopK(t(s, dir, "documents"), "text",
        depth = CmsDepth, width = CmsWidth.toInt, k = CmsTopK)),

    // ---- fixed-weight logistic quality classifier (the fasttext /
    //      DCLM-style "reads like reference text" gate): scan-time
    //      features → frozen linear model → sigmoid; weights are one
    //      set of Scala literals shared with the oracle ----
    Q("x86_quality_classifier", Some(
      s"""WITH ${classifierCtes("documents")}
         |SELECT doc_id, cls_prob, cls_prob >= 0.5 AS keep
         |FROM cp ORDER BY doc_id""".stripMargin),
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"),
          TextFunctions.classifierProb(col("text")).as("cls_prob"))
        .withColumn("keep", col("cls_prob") >= 0.5)
        .orderBy("doc_id")),

    // ---- Zipf-law fit (ln freq vs ln rank least squares over the
    //      top-200 tokens): the one-row "does this crawl still look
    //      like language" dashboard number. Sums fold rank-ordered;
    //      ln() args are exact integers (the x67 recipe). ----
    Q("x87_zipf_fit", Some(
      s"""WITH tc AS (
         |  SELECT term, count(*) AS cnt FROM (
         |    SELECT unnest(${tokSql("lower(text)")}) AS term FROM documents)
         |  GROUP BY term),
         |top AS (SELECT cnt, term FROM tc ORDER BY cnt DESC, term LIMIT 200),
         |one AS (
         |  SELECT list_sort(list(struct_pack(cnt := cnt, term := term)),
         |    'DESC') AS arr FROM top),
         |s AS (
         |  SELECT len(arr) AS n,
         |    list_reduce(list_prepend(0.0, list_transform(
         |      generate_series(1, len(arr)),
         |      i -> ln(CAST(i AS DOUBLE)))), (a, x) -> a + x) AS sx,
         |    list_reduce(list_prepend(0.0, list_transform(arr,
         |      t -> ln(CAST(t.cnt AS DOUBLE)))), (a, x) -> a + x) AS sy,
         |    list_reduce(list_prepend(0.0, list_transform(
         |      generate_series(1, len(arr)),
         |      i -> ln(CAST(i AS DOUBLE)) * ln(CAST(arr[i].cnt AS DOUBLE)))),
         |      (a, x) -> a + x) AS sxy,
         |    list_reduce(list_prepend(0.0, list_transform(
         |      generate_series(1, len(arr)),
         |      i -> ln(CAST(i AS DOUBLE)) * ln(CAST(i AS DOUBLE)))),
         |      (a, x) -> a + x) AS sxx,
         |    list_reduce(list_prepend(0.0, list_transform(arr,
         |      t -> ln(CAST(t.cnt AS DOUBLE)) * ln(CAST(t.cnt AS DOUBLE)))),
         |      (a, x) -> a + x) AS syy
         |  FROM one)
         |SELECT CAST(n AS BIGINT) AS n_terms,
         |  floor((CASE WHEN (n * sxx - sx * sx) = 0.0 THEN 0.0
         |      ELSE (n * sxy - sx * sy) / (n * sxx - sx * sx) END + 1000.0)
         |    * 10000.0 + 0.5) / 10000.0 - 1000.0 AS slope,
         |  floor((CASE WHEN n = 0 THEN 0.0
         |      ELSE (sy - (CASE WHEN (n * sxx - sx * sx) = 0.0 THEN 0.0
         |        ELSE (n * sxy - sx * sy) / (n * sxx - sx * sx) END) * sx) / n
         |      END)
         |    * 10000.0 + 0.5) / 10000.0 AS intercept,
         |  floor((CASE WHEN (n * sxx - sx * sx) * (n * syy - sy * sy) = 0.0
         |      THEN 0.0
         |      ELSE (n * sxy - sx * sy) * (n * sxy - sx * sy)
         |        / ((n * sxx - sx * sx) * (n * syy - sy * sy)) END)
         |    * 10000.0 + 0.5) / 10000.0 AS r2
         |FROM s""".stripMargin),
      (s, dir) => CorpusStats.zipfFit(t(s, dir, "documents"), "text",
        topN = 200)),

    // ---- bigram LM bits per token (add-1 smoothed, the KenLM-style
    //      context-aware perplexity filter one step up from x67):
    //      adjacent pairs from ONE zip_with pass, no self-join ----
    Q("x88_bigram_bits", Some(
      s"""WITH hs AS (
         |  SELECT doc_id,
         |    list_transform(${tokSql("lower(text)")},
         |      t -> ${h60Sql("t", 1152921504606846976L)}) AS hs
         |  FROM documents),
         |bgl AS (
         |  SELECT doc_id, unnest(list_transform(
         |    generate_series(1, greatest(len(hs) - 1, 0)),
         |    i -> struct_pack(h1 := hs[i], h2 := hs[i + 1]))) AS b
         |  FROM hs),
         |bg AS (SELECT doc_id, b.h1 AS h1, b.h2 AS h2 FROM bgl),
         |c2 AS (SELECT h1, h2, count(*) AS c2 FROM bg GROUP BY 1, 2),
         |c1 AS (SELECT h1, count(*) AS c1 FROM bg GROUP BY 1),
         |vv AS (SELECT count(DISTINCT h) AS v FROM (
         |  SELECT unnest(hs) AS h FROM hs)),
         |dc AS (
         |  SELECT doc_id, h1, h2, count(*) AS c FROM bg GROUP BY 1, 2, 3),
         |per AS (
         |  SELECT dc.doc_id, CAST(sum(dc.c) AS BIGINT) AS n_big,
         |    CAST(sum(dc.c * CAST(floor(log2((c2.c2 + 1.0)
         |        / CAST(c1.c1 + v AS DOUBLE)) * 100000000.0 + 0.5)
         |      AS BIGINT)) AS BIGINT) AS tq
         |  FROM dc JOIN c2 USING (h1, h2) JOIN c1 USING (h1), vv
         |  GROUP BY dc.doc_id),
         |w AS (
         |  SELECT doc_id, n_big,
         |    floor((0.0 - CAST(tq AS DOUBLE) / 100000000.0) / n_big
         |      * 10000.0 + 0.5) / 10000.0 AS bpt2
         |  FROM per)
         |SELECT d.doc_id,
         |  coalesce(w.n_big, 0) AS n_big,
         |  coalesce(w.bpt2, 0.0) AS bpt2
         |FROM documents d LEFT JOIN w USING (doc_id)
         |ORDER BY doc_id""".stripMargin),
      (s, dir) => CorpusStats.bigramBits(t(s, dir, "documents"),
        "doc_id", "text").orderBy("doc_id")),

    // ---- generic backward as-of join (union + one keyed window pass,
    //      zero row amplification — see operators.AsOfJoin): each
    //      purchase event picks up the user's most recent prior view.
    //      The oracle is the NAIVE inequality join + keep-latest — an
    //      independent O(L·R-per-key) formulation of the same
    //      semantics. ----
    Q("x89_asof_join", Some(
      """WITH e AS (
        |  SELECT event_id, epoch_ns(ts) // 1000000 AS ms, user_id,
        |         event_type, value
        |  FROM events),
        |al AS (SELECT event_id, user_id, ms FROM e
        |       WHERE event_type = 'purchase'),
        |ar AS (SELECT event_id, user_id, ms, value FROM e
        |       WHERE event_type = 'view'),
        |j AS (
        |  SELECT al.event_id, al.user_id, al.ms,
        |         ar.event_id AS asof_event_id, ar.value AS asof_value,
        |         ar.ms AS asof_ms,
        |         row_number() OVER (PARTITION BY al.event_id
        |           ORDER BY ar.ms DESC, ar.event_id DESC) AS rn
        |  FROM al LEFT JOIN ar
        |    ON ar.user_id = al.user_id AND ar.ms <= al.ms)
        |SELECT event_id, user_id, ms, asof_event_id, asof_value,
        |       ms - asof_ms AS gap_ms
        |FROM j WHERE rn = 1 ORDER BY event_id""".stripMargin),
      (s, dir) => {
        val e = ReferenceCatalog.events(s, dir)
          .select(col("event_id"), unix_millis(col("ts")).as("ms"),
            col("user_id"), col("event_type"), col("value"))
        val l = e.filter(col("event_type") === "purchase")
          .select("event_id", "user_id", "ms")
        val r = e.filter(col("event_type") === "view")
          .select("event_id", "user_id", "ms", "value")
        AsOfJoin.asOf(l, r, keys = Seq("user_id"), leftTs = "ms",
            rightTs = "ms", tieCol = "event_id",
            payload = Seq("event_id", "value", "ms"))
          .select(col("event_id"), col("user_id"), col("ms"),
            col("asof_event_id"), col("asof_value"),
            (col("ms") - col("asof_ms")).as("gap_ms"))
          .orderBy("event_id")
      }),

    // ---- PMI collocations: the phrase-mining / tokenizer-seeding
    //      report. Counts stay exact integers to the last division. ----
    Q("x90_pmi_topk", Some(
      s"""WITH tkn AS (
         |  SELECT ${tokSql("lower(text)")} AS tk FROM documents),
         |bgl AS (
         |  SELECT unnest(list_transform(
         |    generate_series(1, greatest(len(tk) - 1, 0)),
         |    i -> struct_pack(t1 := tk[i], t2 := tk[i + 1]))) AS b
         |  FROM tkn),
         |bg AS (SELECT b.t1 AS t1, b.t2 AS t2 FROM bgl),
         |p2 AS (SELECT t1, t2, count(*) AS c2 FROM bg GROUP BY 1, 2
         |       HAVING count(*) >= $PmiMinCount),
         |p1l AS (SELECT t1, count(*) AS c1l FROM bg GROUP BY 1),
         |p1r AS (SELECT t2, count(*) AS c1r FROM bg GROUP BY 1),
         |nn AS (SELECT count(*) AS n FROM bg)
         |SELECT t1, t2, c2,
         |  floor(log2((CAST(c2 AS DOUBLE) * n) /
         |    (CAST(c1l AS DOUBLE) * CAST(c1r AS DOUBLE)))
         |    * 10000.0 + 0.5) / 10000.0 AS pmi
         |FROM p2 JOIN p1l USING (t1) JOIN p1r USING (t2), nn
         |ORDER BY pmi DESC, t1, t2 LIMIT $PmiTopK""".stripMargin),
      (s, dir) => CorpusStats.pmiTopK(t(s, dir, "documents"), "text",
        minCount = PmiMinCount, k = PmiTopK)),

    // ---- quality-aware cluster representatives: near-dup dedup that
    //      keeps the BEST document per cluster (by the x86 classifier),
    //      not the smallest id — what a curation pipeline actually
    //      ships. Deterministic argmax: prob desc, then id. ----
    Q("x91_keep_best", Some(
      s"""WITH RECURSIVE ${minhashPairsSql()},
         |${neardupClosureSql("documents")},
         |lab AS (
         |  SELECT node AS doc_id, min(label) AS cluster_id
         |  FROM reach GROUP BY node),
         |${classifierCtes("documents")},
         |rk AS (
         |  SELECT l.cluster_id, l.doc_id, p.cls_prob,
         |    row_number() OVER (PARTITION BY l.cluster_id
         |      ORDER BY p.cls_prob DESC, l.doc_id) AS rn,
         |    count(*) OVER (PARTITION BY l.cluster_id) AS nm
         |  FROM lab l JOIN cp p USING (doc_id))
         |SELECT cluster_id, doc_id AS rep_doc_id,
         |  CAST(nm AS BIGINT) AS n_members, cls_prob AS best_prob
         |FROM rk WHERE rn = 1 ORDER BY cluster_id""".stripMargin),
      (s, dir) => {
        val probs = t(s, dir, "documents").select(col("doc_id"),
          TextFunctions.classifierProb(col("text")).as("cls_prob"))
        val m = docClusters(s, dir).join(probs, Seq("doc_id"))
        val reps = m.withColumn("rn", row_number().over(
            Window.partitionBy("cluster_id")
              .orderBy(col("cls_prob").desc, col("doc_id"))))
          .filter(col("rn") === 1)
        val cnt = m.groupBy("cluster_id")
          .agg(count(lit(1)).as("n_members"))
        reps.join(cnt, Seq("cluster_id"))
          .select(col("cluster_id"), col("doc_id").as("rep_doc_id"),
            col("n_members"), col("cls_prob").as("best_prob"))
          .orderBy("cluster_id")
      }),

    // ---- asymmetric containment over LSH candidates: |A∩B|/min —
    //      the "short doc embedded in long doc" detector symmetric
    //      Jaccard misses. Gram sets identical to the oracle's string
    //      grams by NgramsLong's bijective packing. ----
    Q("x92_containment", Some(
      s"""WITH ${minhashPairsSql()},
         |gset AS (
         |  SELECT doc_id, list_distinct(list_transform(
         |    generate_series(1, greatest(length(text) - 2, 1)),
         |    i -> text[i : i + 2])) AS grams
         |  FROM documents),
         |px AS (
         |  SELECT c.id_a, c.id_b,
         |    len(ga.grams) AS n_a, len(gb.grams) AS n_b,
         |    len(list_intersect(ga.grams, gb.grams)) AS n_inter
         |  FROM cand c
         |  JOIN gset ga ON c.id_a = ga.doc_id
         |  JOIN gset gb ON c.id_b = gb.doc_id),
         |cx AS (
         |  SELECT id_a, id_b,
         |    CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
         |    CAST(n_inter AS BIGINT) AS n_inter,
         |    floor(CAST(n_inter AS DOUBLE) /
         |      CAST(least(n_a, n_b) AS DOUBLE) * 10000.0 + 0.5) / 10000.0
         |      AS containment,
         |    CASE WHEN n_a <= n_b THEN id_a ELSE id_b END AS contained_id
         |  FROM px)
         |SELECT * FROM cx WHERE containment >= $ContainMin
         |ORDER BY id_a, id_b""".stripMargin),
      (s, dir) => Dedup.containmentPairs(t(s, dir, "documents"),
          "doc_id", "text", lshCands(s, dir), ContainMin)
        .orderBy("id_a", "id_b")),

    // x93_editdist_neardup retired from the catalog (round 13): the
    // candidate restriction bounds COMPUTE per pair, but the emitted
    // pair list is still quadratic in replica-clique occupancy (315k
    // rows at sf1, 343× sf0.1 — PERF.md sf1 table). The catalog row is
    // now x248_editdist_sampled: the same est≥0.25 candidates and
    // threshold'd Levenshtein verify, scoped to a deterministic doc
    // sample on both pair sides (the x121 audit pattern). The
    // Levenshtein expression keeps its DedupSpec coverage.

    // ---- quality-curriculum ordering: percentile-cutpoint bands (no
    //      global ntile sort) + deterministic in-band shuffle ----
    Q("x94_curriculum", Some({
      val qs = (1 until CurriculumPhases)
        .map(i => s"quantile_cont(cls_prob, ${i.toDouble / CurriculumPhases})")
        .mkString("[", ", ", "]")
      s"""WITH ${classifierCtes("documents")},
         |cuts AS (SELECT $qs AS cs FROM cp),
         |ph AS (
         |  SELECT p.doc_id,
         |    CAST($CurriculumPhases -
         |      len(list_filter(c.cs, x -> p.cls_prob > x)) AS INT) AS phase
         |  FROM cp p, cuts c)
         |SELECT doc_id, phase,
         |  ('0x' || substr(md5('curriculum:' || CAST(doc_id AS VARCHAR)),
         |    1, 15))::BIGINT AS pos
         |FROM ph ORDER BY doc_id""".stripMargin
    }),
      (s, dir) => {
        val probs = t(s, dir, "documents").select(col("doc_id"),
          TextFunctions.classifierProb(col("text")).as("cls_prob"))
        CorpusStats.curriculum(probs, "doc_id", "cls_prob",
            phases = CurriculumPhases)
          .select(col("doc_id"), col("phase"), col("pos"))
          .orderBy("doc_id")
      }),

    // ---- ANN index quality: recall@10 of the sign-LSH index against
    //      the exact top-10 per query — the dashboard row that decides
    //      whether the 100 TB index needs more planes/probes ----
    Q("x95_ann_recall", Some(
      s"""WITH c AS (
         |  SELECT vec_id AS eid, embedding AS ev,
         |         ${bucketSql("embedding", 8)} AS bucket
         |  FROM embeddings),
         |q0 AS (
         |  SELECT vec_id AS qid, embedding AS qv,
         |         ${bucketSql("embedding", 8)} AS bucket
         |  FROM embeddings WHERE vec_id < 5),
         |qp AS (
         |  SELECT qid, qv, unnest(list_concat([bucket],
         |    list_transform(generate_series(0, 7),
         |      p -> xor(bucket, 1::BIGINT << p)))) AS bucket
         |  FROM q0),
         |acand AS (
         |  SELECT DISTINCT qid, eid, ${cosineSql("qv", "ev")} AS sim
         |  FROM qp JOIN c USING (bucket)),
         |approx AS (
         |  SELECT qid, eid FROM (
         |    SELECT *, row_number() OVER (PARTITION BY qid
         |      ORDER BY sim DESC, eid) AS rn FROM acand)
         |  WHERE rn <= 10),
         |esims AS (
         |  SELECT q0.qid, c.eid, ${cosineSql("q0.qv", "c.ev")} AS sim
         |  FROM q0, c),
         |ex AS (
         |  SELECT qid, eid FROM (
         |    SELECT *, row_number() OVER (PARTITION BY qid
         |      ORDER BY sim DESC, eid) AS rn FROM esims)
         |  WHERE rn <= 10)
         |SELECT ex.qid, count(a.eid) AS n_hit,
         |  floor(count(a.eid) / 10.0 * 10000.0 + 0.5) / 10000.0 AS recall
         |FROM ex LEFT JOIN approx a USING (qid, eid)
         |GROUP BY ex.qid ORDER BY qid""".stripMargin),
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val q = emb.filter(col("vec_id") < 5)
        val exact = Similarity.bruteForceTopK(q, emb, "vec_id",
          "embedding", k = 10).select("qid", "eid")
        val approx = Similarity.lshTopK(q, emb, "vec_id", "embedding",
            k = 10, planes = 8)
          .select(col("qid"), col("eid"), lit(1).as("hit"))
        exact.join(approx, Seq("qid", "eid"), "left")
          .groupBy("qid")
          .agg(count(col("hit")).as("n_hit"))
          .select(col("qid"), col("n_hit"),
            TextFunctions.portableRound(
              col("n_hit").cast("double") / 10.0, 4).as("recall"))
          .orderBy("qid")
      }),

    // ---- per-label embedding centroid drift vs the corpus centroid:
    //      fixed-point integer sums (order-independent), cosine on the
    //      raw sum vectors (scale invariance cancels 1/nq) ----
    Q("x96_centroid_drift", Some(
      """WITH ex AS (
        |  SELECT label, i,
        |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1048576.0 + 0.5)
        |      AS BIGINT) AS xf
        |  FROM embeddings, unnest(generate_series(1, len(embedding))) AS u(i)),
        |bl AS (SELECT label, i, sum(xf) AS s, count(*) AS n
        |       FROM ex GROUP BY 1, 2),
        |gl AS (SELECT i, sum(xf) AS gs FROM ex GROUP BY 1),
        |ar AS (
        |  SELECT label, max(n) AS n_vecs,
        |    list_sort(list(struct_pack(i := i, s := s, gs := gs))) AS a
        |  FROM bl JOIN gl USING (i) GROUP BY label)
        |SELECT label, CAST(n_vecs AS BIGINT) AS n_vecs,
        |  floor(
        |    list_reduce(list_prepend(0.0, list_transform(a,
        |      t -> CAST(t.s AS DOUBLE) * CAST(t.gs AS DOUBLE))),
        |      (x, y) -> x + y)
        |    / (sqrt(list_reduce(list_prepend(0.0, list_transform(a,
        |         t -> CAST(t.s AS DOUBLE) * CAST(t.s AS DOUBLE))),
        |         (x, y) -> x + y))
        |     * sqrt(list_reduce(list_prepend(0.0, list_transform(a,
        |         t -> CAST(t.gs AS DOUBLE) * CAST(t.gs AS DOUBLE))),
        |         (x, y) -> x + y)))
        |    * 1000000.0 + 0.5) / 1000000.0 AS cos_to_global
        |FROM ar ORDER BY label""".stripMargin),
      (s, dir) => Similarity.centroidDrift(t(s, dir, "embeddings"),
        "embedding", "label").orderBy("label"))
  ,

    // ---- within-document token entropy: the repetition-collapse
    //      detector (loops/templates → near-zero bits however long the
    //      doc); counts stay integer, the one float fold runs over the
    //      hash-sorted list on both engines ----
    Q("x97_token_entropy", Some(
      s"""WITH tk AS (
         |  SELECT doc_id, ${h60Sql("t", 1152921504606846976L)} AS h FROM (
         |    SELECT doc_id, unnest(${tokSql("lower(text)")}) AS t
         |    FROM documents)),
         |dc AS (SELECT doc_id, h, count(*) AS c FROM tk GROUP BY doc_id, h),
         |per AS (
         |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tok,
         |    list_sort(list(struct_pack(h := h, c := c))) AS arr
         |  FROM dc GROUP BY doc_id),
         |w AS (
         |  SELECT doc_id, n_tok,
         |    floor((log2(n_tok) -
         |        list_reduce(list_prepend(0.0, list_transform(arr,
         |          s -> s.c * log2(s.c))), (a, x) -> a + x) / n_tok)
         |      * 10000.0 + 0.5) / 10000.0 AS entropy
         |  FROM per)
         |SELECT d.doc_id,
         |       coalesce(w.n_tok, 0) AS n_tok,
         |       coalesce(w.entropy, 0.0) AS entropy
         |FROM documents d LEFT JOIN w USING (doc_id)
         |ORDER BY doc_id""".stripMargin),
      (s, dir) => CorpusStats.tokenEntropy(t(s, dir, "documents"),
          "doc_id", "text")
        .orderBy("doc_id")),

    // ---- Efraimidis–Spirakis weighted priority sample: one scan +
    //      TakeOrderedAndProject, replayable (u is a pure function of
    //      the id), weight-proportional without replacement ----
    Q("x98_priority_sample", Some(
      s"""WITH k AS (
         |  SELECT doc_id, CAST(n_chars AS BIGINT) AS weight,
         |    floor((0.0 - ln(
         |        (('0x' || substr(md5('prio:' || CAST(doc_id AS VARCHAR)),
         |          1, 15))::BIGINT + 1.0) / 1152921504606846976.0))
         |      / greatest(CAST(n_chars AS DOUBLE), 1.0)
         |      * 1000000.0 + 0.5) / 1000000.0 AS prio_key
         |  FROM documents),
         |top AS (SELECT * FROM k ORDER BY prio_key, doc_id LIMIT $PrioK)
         |SELECT doc_id, weight, prio_key,
         |  CAST(row_number() OVER (ORDER BY prio_key, doc_id) AS INT) AS rn
         |FROM top ORDER BY rn""".stripMargin),
      (s, dir) => Sampling.prioritySample(t(s, dir, "documents"),
          "doc_id", "n_chars", k = PrioK)
        .orderBy("rn")),

    // ---- corpus-wide keep-FIRST line dedup (Lee et al. keep-one
    //      policy; complements x65's strip-ALL doc-frequency rule);
    //      survivor chosen by one hash-partitioned window ----
    Q("x99_keepfirst_lines", Some(
      s"""WITH src AS (
         |  SELECT doc_id,
         |    '$KeepFirstHeader' || chr(10) || text || chr(10) ||
         |    CASE WHEN doc_id % 2 = 0 THEN '$KeepFirstFooterEven'
         |         ELSE '$KeepFirstFooterOdd' END AS text
         |  FROM documents),
         |l AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM src),
         |e AS (
         |  SELECT doc_id, i - 1 AS pos, ls[i] AS line
         |  FROM l, unnest(generate_series(1, len(ls))) AS u(i)),
         |hx AS (
         |  SELECT doc_id, pos, line,
         |    CASE WHEN length(trim(line)) > 0
         |         THEN ${h60Sql("'line:' || line", 1152921504606846976L)}
         |         ELSE ${h60Sql(
                    "'blank:' || CAST(doc_id AS VARCHAR) || ':' || " +
                      "CAST(pos AS VARCHAR)", 1152921504606846976L)}
         |    END AS h
         |  FROM e),
         |k AS (
         |  SELECT doc_id, pos, line,
         |    row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) = 1
         |      AS keep
         |  FROM hx)
         |SELECT doc_id,
         |  count(*) AS n_lines,
         |  CAST(coalesce(sum(CASE WHEN keep THEN 1 ELSE 0 END), 0) AS BIGINT)
         |    AS n_kept,
         |  coalesce(string_agg(CASE WHEN keep THEN line END, chr(10)
         |    ORDER BY pos), '') AS clean_text
         |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin),
      (s, dir) => Dedup.keepFirstLines(
          t(s, dir, "documents").select(col("doc_id"),
            concat(lit(KeepFirstHeader), lit("\n"), col("text"), lit("\n"),
              when(col("doc_id") % 2 === 0, lit(KeepFirstFooterEven))
                .otherwise(lit(KeepFirstFooterOdd))).as("text")),
          "doc_id", "text")
        .orderBy("doc_id")),

    // ---- bytes-per-BPE-piece fertility under the trained merges: the
    //      tokenizer-efficiency column a mix dashboard sorts by ----
    Q("x100_token_fertility", Some(
      s"""WITH $bpeTrainSql,
         |enc AS (
         |  SELECT w, CAST(len(syms) AS BIGINT) AS n_pieces FROM s$BpeMerges),
         |tk AS (
         |  SELECT doc_id, unnest(${tokSql("lower(text)")}) AS w
         |  FROM documents),
         |per AS (
         |  SELECT tk.doc_id,
         |         CAST(sum(coalesce(e.n_pieces, 1)) AS BIGINT) AS n_pieces
         |  FROM tk LEFT JOIN enc e USING (w) GROUP BY tk.doc_id)
         |SELECT d.doc_id,
         |       CAST(strlen(d.text) AS BIGINT) AS n_bytes,
         |       coalesce(per.n_pieces, 0) AS n_pieces,
         |       CASE WHEN coalesce(per.n_pieces, 0) = 0 THEN 0.0
         |            ELSE floor(CAST(strlen(d.text) AS DOUBLE) / per.n_pieces
         |                   * 10000.0 + 0.5) / 10000.0 END AS fertility
         |FROM documents d LEFT JOIN per USING (doc_id)
         |ORDER BY doc_id""".stripMargin),
      (s, dir) => {
        val (_, vocab) = bpeTrained(s, dir)
        val enc = graft.operators.Bpe.encodeStats(t(s, dir, "documents"),
          "doc_id", "text", vocab).select("doc_id", "n_pieces")
        t(s, dir, "documents")
          .select(col("doc_id"),
            octet_length(col("text")).cast("long").as("n_bytes"))
          .join(enc, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_bytes"),
            coalesce(col("n_pieces"), lit(0L)).as("n_pieces"),
            when(coalesce(col("n_pieces"), lit(0L)) === 0, lit(0.0))
              .otherwise(TextFunctions.portableRound(
                col("n_bytes").cast("double") /
                  col("n_pieces").cast("double"), 4)).as("fertility"))
          .orderBy("doc_id")
      }),

    // ---- hard-negative mining: nearest DIFFERENT-label neighbors per
    //      query (exclusion at the join, not post-filtered — dense
    //      same-label clusters must not starve the negative set) ----
    Q("x101_hard_negatives", Some(
      """WITH q AS (
        |  SELECT vec_id AS qid, label AS qlabel, embedding AS qv
        |  FROM embeddings WHERE vec_id < 5),
        |sims AS (
        |  SELECT qid, e.vec_id AS eid, e.label AS elabel,
        |    round(
        |      list_sum(list_transform(generate_series(1, len(qv)),
        |        i -> CAST(qv[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))) /
        |      (sqrt(list_sum(list_transform(qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
        |       sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
        |      4) AS sim
        |  FROM q, embeddings e WHERE e.label <> q.qlabel)
        |SELECT qid, eid, elabel, sim, rn FROM (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, eid) AS INT) AS rn
        |  FROM sims)
        |WHERE rn <= 10 ORDER BY qid, rn""".stripMargin),
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        Similarity.hardNegatives(emb.filter(col("vec_id") < 5), emb,
          "vec_id", "embedding", "label", k = HardNegK)
      }),

    // ---- distinct-n diversity per source (mode-collapse watch for
    //      synthetic data): n-grams enumerated inside the row, 8-byte
    //      hash keys, exact distinct via (grp, h) pre-aggregation ----
    Q("x102_distinct_ngrams", Some(
      s"""WITH tk AS (
         |  SELECT source, ${tokSql("lower(text)")} AS t FROM documents),
         |g AS (
         |  SELECT source,
         |    ${h60Sql(s"array_to_string(t[i:i+${DistinctN - 1}], ' ')",
                1152921504606846976L)} AS h
         |  FROM tk, unnest(generate_series(1, len(t) - ${DistinctN - 1}))
         |    AS u(i)),
         |dg AS (SELECT source, h, count(*) AS c FROM g GROUP BY source, h)
         |SELECT source,
         |  CAST(sum(c) AS BIGINT) AS n_ngrams,
         |  count(*) AS n_distinct,
         |  floor(count(*) / greatest(CAST(sum(c) AS DOUBLE), 1.0)
         |    * 10000.0 + 0.5) / 10000.0 AS distinct_ratio
         |FROM dg GROUP BY source ORDER BY source""".stripMargin),
      (s, dir) => CorpusStats.distinctNgrams(t(s, dir, "documents"),
          "source", "text", n = DistinctN)
        .orderBy("source")),

    // ---- reciprocal-rank fusion of the BM25 and tf·idf rankers over
    //      the same query: rank-only hybrid retrieval; the fusion runs
    //      on two k-row tables, the scale cost lives in the rankers ----
    Q("x103_rrf_fusion", Some(
      s"""WITH $bm25ScoredSql,
         |ra AS (
         |  SELECT doc_id, rn FROM (
         |    SELECT doc_id,
         |      CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT)
         |        AS rn
         |    FROM scored)
         |  WHERE rn <= 20),
         |$tfidfScoredSql,
         |rb AS (
         |  SELECT doc_id, rn FROM (
         |    SELECT doc_id,
         |      CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT)
         |        AS rn
         |    FROM scoredx)
         |  WHERE rn <= 20),
         |fused AS (
         |  SELECT coalesce(ra.doc_id, rb.doc_id) AS doc_id,
         |    ra.rn AS rn_a, rb.rn AS rn_b,
         |    floor((coalesce(1.0 / ($RrfC + ra.rn), 0.0) +
         |           coalesce(1.0 / ($RrfC + rb.rn), 0.0))
         |      * 1000000.0 + 0.5) / 1000000.0 AS rrf
         |  FROM ra FULL OUTER JOIN rb ON ra.doc_id = rb.doc_id)
         |SELECT doc_id, rn_a, rn_b, rrf, rn FROM (
         |  SELECT *, CAST(row_number() OVER (ORDER BY rrf DESC, doc_id)
         |    AS INT) AS rn
         |  FROM fused)
         |WHERE rn <= $RrfK ORDER BY rn""".stripMargin),
      (s, dir) => {
        val docs = t(s, dir, "documents")
        TfIdf.rrfFusion(
          TfIdf.bm25TopK(docs, "doc_id", "text", Bm25Terms, k = 20,
            k1 = Bm25K1, b = Bm25B),
          TfIdf.queryScoreTopK(docs, "doc_id", "text", Bm25Terms, k = 20),
          "doc_id", k = RrfK, c = RrfC)
          .orderBy("rn")
      }),

    // ---- Gini concentration of token mass across sources: exact
    //      integers until the final division; the rank window runs on
    //      one row per source ----
    Q("x104_source_gini", Some(
      s"""WITH c AS (
         |  SELECT source AS grp,
         |    CAST(coalesce(sum(len(${tokSql("text")})), 0) AS BIGINT) AS tok
         |  FROM documents GROUP BY source),
         |r AS (
         |  SELECT grp, tok,
         |    CAST(row_number() OVER (ORDER BY tok, grp) AS BIGINT) AS i
         |  FROM c)
         |SELECT count(*) AS n_groups,
         |  CAST(sum(tok) AS BIGINT) AS total_tok,
         |  floor(CAST(sum((2 * i - 1) * tok) - count(*) * sum(tok) AS DOUBLE)
         |    / (count(*) * sum(tok)) * 1000000.0 + 0.5) / 1000000.0 AS gini
         |FROM r""".stripMargin),
      (s, dir) => CorpusStats.tokenGini(t(s, dir, "documents"),
        "source", "text")),

    // ---- equi-width value histogram (profiling): two scans, at most
    //      `bins` output rows at any size; bin width fixed once from
    //      the exact min/max so both engines bin identically ----
    Q("x105_value_histogram", Some(
      s"""WITH v AS (SELECT value FROM events WHERE value IS NOT NULL),
         |st AS (SELECT min(value) AS mn, max(value) AS mx FROM v),
         |b AS (
         |  SELECT CASE WHEN (mx - mn) / $HistBins = 0 THEN 0
         |    ELSE CAST(least(floor((value - mn) / ((mx - mn) / $HistBins)),
         |           ${HistBins - 1}) AS BIGINT) END AS bin,
         |    mn, mx
         |  FROM v, st)
         |SELECT bin,
         |  floor((mn + bin * ((mx - mn) / $HistBins)) * 1000000.0 + 0.5)
         |    / 1000000.0 AS lo,
         |  floor((mn + (bin + 1) * ((mx - mn) / $HistBins)) * 1000000.0
         |    + 0.5) / 1000000.0 AS hi,
         |  count(*) AS n
         |FROM b GROUP BY bin, mn, mx ORDER BY bin""".stripMargin),
      (s, dir) => graft.operators.Profiling.valueHistogram(
          ReferenceCatalog.events(s, dir), "value", bins = HistBins)
        .orderBy("bin")),

    // ---- pairwise Pearson over quality signals in ONE pass: inputs
    //      fixed-point quantized so every sum is exact integer
    //      arithmetic; r is fixed-order double math on the aggregated
    //      scalars ----
    Q("x106_correlation", {
      val qs = CorrCols.map { c =>
        val scale = s"${(1L << CorrQBits(c)).toDouble}"
        s"CAST(floor($c * $scale + 0.5) AS BIGINT) AS q_$c"
      }.mkString(",\n    ")
      val sums = (CorrCols.map(c =>
        s"CAST(sum(q_$c) AS BIGINT) AS s_$c, " +
          s"CAST(sum(q_$c * q_$c) AS BIGINT) AS ss_$c") ++
        CorrCols.combinations(2).toSeq.map { case Seq(a, b) =>
          s"CAST(sum(q_$a * q_$b) AS BIGINT) AS sp_${a}_$b" })
        .mkString(",\n    ")
      val pairSelects = CorrCols.combinations(2).toSeq.map { case Seq(a, b) =>
        val va = s"(CAST(n AS DOUBLE) * CAST(ss_$a AS DOUBLE) - " +
          s"CAST(s_$a AS DOUBLE) * CAST(s_$a AS DOUBLE))"
        val vb = s"(CAST(n AS DOUBLE) * CAST(ss_$b AS DOUBLE) - " +
          s"CAST(s_$b AS DOUBLE) * CAST(s_$b AS DOUBLE))"
        val num = s"(CAST(n AS DOUBLE) * CAST(sp_${a}_$b AS DOUBLE) - " +
          s"CAST(s_$a AS DOUBLE) * CAST(s_$b AS DOUBLE))"
        s"""SELECT '$a' AS col_a, '$b' AS col_b,
           |  CASE WHEN $va * $vb > 0
           |    THEN floor($num / sqrt($va * $vb) * 1000000.0 + 0.5)
           |      / 1000000.0
           |    ELSE 0.0 END AS r
           |FROM ag""".stripMargin
      }.mkString("\nUNION ALL\n")
      Some(
        s"""WITH ${classifierCtes("documents")},
           |base AS (
           |  SELECT d.n_chars AS n_chars,
           |    len(${tokSql("d.text")}) AS n_tok,
           |    cp.cls_prob AS cls_prob
           |  FROM documents d JOIN cp USING (doc_id)),
           |qn AS (
           |  SELECT
           |    $qs
           |  FROM base),
           |ag AS (
           |  SELECT count(*) AS n,
           |    $sums
           |  FROM qn)
           |SELECT * FROM (
           |$pairSelects
           |) ORDER BY col_a, col_b""".stripMargin)
    },
      (s, dir) => {
        val sig = t(s, dir, "documents").select(
          col("n_chars").cast("double").as("n_chars"),
          TextFunctions.tokenCount(col("text")).cast("double").as("n_tok"),
          TextFunctions.classifierProb(col("text")).as("cls_prob"))
        graft.operators.Profiling.correlation(sig, CorrCols,
            qBitsFor = CorrQBits)
          .orderBy("col_a", "col_b")
      }),

    // ---- robust outliers per event type: median/MAD fence on
    //      quantized integers — the interpolations and the k·MAD
    //      comparison are exact arithmetic on both engines ----
    Q("x107_mad_outliers", Some(
      s"""WITH v AS (
         |  SELECT event_type AS grp,
         |    CAST(floor(value * $Q20 + 0.5) AS BIGINT) AS vq
         |  FROM events WHERE value IS NOT NULL),
         |med AS (SELECT grp, quantile_cont(vq, 0.5) AS med
         |        FROM v GROUP BY grp),
         |dev AS (
         |  SELECT v.grp, med.med, abs(CAST(vq AS DOUBLE) - med.med) AS dv
         |  FROM v JOIN med USING (grp)),
         |mad AS (SELECT grp, quantile_cont(dv, 0.5) AS mad
         |        FROM dev GROUP BY grp)
         |SELECT dev.grp AS event_type, count(*) AS n,
         |  floor(max(dev.med) / $Q20 * 1000000.0 + 0.5) / 1000000.0
         |    AS median,
         |  floor(max(mad.mad) / $Q20 * 1000000.0 + 0.5) / 1000000.0 AS mad,
         |  CAST(sum(CASE WHEN dev.dv > $MadK * mad.mad THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_outliers
         |FROM dev JOIN mad USING (grp)
         |GROUP BY dev.grp ORDER BY event_type""".stripMargin),
      (s, dir) => graft.operators.Profiling.madOutliers(
          ReferenceCatalog.events(s, dir), "event_type", "value", k = MadK)
        .orderBy("event_type")),

    // ---- co-occurring event-type pairs by distinct-user support: the
    //      per-user self-join runs on DISTINCT types (tens), never on
    //      the user's event count ----
    Q("x108_cooccurrence", Some(
      s"""WITH ut AS (
         |  SELECT DISTINCT user_id AS u, event_type AS t FROM events),
         |p AS (
         |  SELECT x.t AS type_a, y.t AS type_b
         |  FROM ut x JOIN ut y ON x.u = y.u AND x.t < y.t),
         |c AS (SELECT type_a, type_b, count(*) AS n_users
         |      FROM p GROUP BY 1, 2),
         |top AS (
         |  SELECT * FROM c ORDER BY n_users DESC, type_a, type_b
         |  LIMIT $CoocK)
         |SELECT type_a, type_b, n_users,
         |  CAST(row_number() OVER (ORDER BY n_users DESC, type_a, type_b)
         |    AS INT) AS rn
         |FROM top ORDER BY rn""".stripMargin),
      (s, dir) => graft.operators.Funnels.cooccurrence(
          ReferenceCatalog.events(s, dir), "user_id", "event_type",
          k = CoocK)
        .orderBy("rn")),

    // ---- vocabulary coverage curve: cumulative token mass of the
    //      top-N terms; the running sum windows over the N survivors
    //      only ----
    Q("x109_vocab_coverage", Some(
      s"""WITH tk AS (
         |  SELECT unnest(${tokSql("lower(text)")}) AS term FROM documents),
         |counts AS (
         |  SELECT term, CAST(count(*) AS BIGINT) AS freq
         |  FROM tk GROUP BY term),
         |tot AS (SELECT CAST(sum(freq) AS BIGINT) AS total FROM counts),
         |top AS (
         |  SELECT term, freq FROM counts ORDER BY freq DESC, term
         |  LIMIT $VocabCoverN),
         |r AS (
         |  SELECT CAST(row_number() OVER (ORDER BY freq DESC, term) AS INT)
         |      AS "rank", term, freq,
         |    CAST(sum(freq) OVER (ORDER BY freq DESC, term
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_freq
         |  FROM top)
         |SELECT "rank", term, freq, cum_freq,
         |  floor(cum_freq / CAST(total AS DOUBLE) * 1000000.0 + 0.5)
         |    / 1000000.0 AS coverage
         |FROM r, tot ORDER BY "rank"""".stripMargin),
      (s, dir) => CorpusStats.vocabCoverage(t(s, dir, "documents"),
          "text", topN = VocabCoverN)
        .orderBy("rank")),

    // ---- deterministic hash sharding + balance report: the pre-write
    //      layout check; assignment is a pure function of the id ----
    Q("x110_shard_balance", Some(
      s"""WITH p AS (
         |  SELECT CAST(${h60Sql("'shard:' || CAST(doc_id AS VARCHAR)",
                ShardCount)} AS INT) AS shard,
         |    CAST(len(${tokSql("text")}) AS BIGINT) AS tk
         |  FROM documents),
         |per AS (
         |  SELECT shard, count(*) AS n_docs,
         |    CAST(coalesce(sum(tk), 0) AS BIGINT) AS n_tokens
         |  FROM p GROUP BY shard),
         |tot AS (
         |  SELECT CAST(sum(n_tokens) AS BIGINT) AS tot, count(*) AS ns
         |  FROM per)
         |SELECT shard, n_docs, n_tokens,
         |  floor(CAST(n_tokens AS DOUBLE) * CAST(ns AS DOUBLE)
         |      / CAST(tot AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS skew
         |FROM per, tot ORDER BY shard""".stripMargin),
      (s, dir) => Sampling.shardBalance(t(s, dir, "documents"),
          "doc_id", "text", shards = ShardCount)
        .orderBy("shard"))
  ,

    // ---- duplicate-cluster size histogram: the one-page "how
    //      duplicated is this corpus" profile; rides the memoized
    //      cluster table, adds two tiny aggregations ----
    Q("x111_cluster_sizes", Some(
      s"""WITH RECURSIVE ${minhashPairsSql()},
         |${neardupClosureSql("documents")},
         |cl AS (SELECT node, min(label) AS cluster_id
         |       FROM reach GROUP BY node),
         |sz AS (SELECT cluster_id, count(*) AS cluster_size
         |       FROM cl GROUP BY cluster_id)
         |SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
         |  count(*) AS n_clusters,
         |  CAST(cluster_size * count(*) AS BIGINT) AS n_docs
         |FROM sz GROUP BY cluster_size ORDER BY cluster_size""".stripMargin),
      (s, dir) => docClusters(s, dir)
        .groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
        .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
        .select(col("cluster_size"), col("n_clusters"),
          (col("cluster_size") * col("n_clusters")).as("n_docs"))
        .orderBy("cluster_size")),

    // ---- stream-stream interval join (click-attribution shape):
    //      state is O(rate × bound) by watermark eviction; event time
    //      truncated to ms so the µs join compare equals the oracle's
    //      ms arithmetic ----
    Q("x112_stream_join", Some(
      s"""WITH e AS (
         |  SELECT event_id, user_id, epoch_ns(ts) // 1000000 AS ms
         |  FROM events),
         |a AS (SELECT user_id, event_id AS a_id, ms AS a_ms
         |      FROM e WHERE event_id % 2 = 0),
         |b AS (SELECT user_id, event_id AS b_id, ms AS b_ms
         |      FROM e WHERE event_id % 2 = 1)
         |SELECT user_id, a_id, b_id, a_ms, b_ms
         |FROM a JOIN b USING (user_id)
         |WHERE b_ms >= a_ms - $StreamJoinBoundMs
         |  AND b_ms <= a_ms + $StreamJoinBoundMs
         |ORDER BY a_id, b_id""".stripMargin),
      (s, dir) => {
        val work = tmp("graft-sjoin")
        // both arrival dirs in ONE scan+write (partitionBy splits the
        // sides into side=a/ and side=b/; the partition column is not
        // in the data files, so the streaming reads see the arrival
        // schema exactly) — the two-full-scans version cost 2× the
        // events read for what is one pass of work
        eventsNs(s, dir)
          .withColumn("side",
            when(col("event_id") % 2 === 0, "a").otherwise("b"))
          .write.partitionBy("side").parquet(s"$work/arr")
        // 4 shuffle partitions for the drain: 100k events/side fits
        // comfortably, and the stream-stream join's per-batch floor is
        // 4 state stores × partitions of checkpoint file I/O — at the
        // session's 32 it was the dominant cost of this query
        graft.streaming.StreamJoin.intervalJoinAvailableNow(s,
          s"$work/arr/side=a", s"$work/arr/side=b", eventArrivalSchema,
          "user_id", "event_id", "ts",
          StreamJoinBoundMs, s"$work/out", s"$work/cp",
          shufflePartitions = 4)
        graft.streaming.StreamJoin.readJoined(s, s"$work/out")
          .select("user_id", "a_id", "b_id", "a_ms", "b_ms")
          .orderBy("a_id", "b_id")
      }),

    // ---- time-weighted average per user (TWAP): value × hold-duration
    //      on exact integers; the metric that makes irregular streams
    //      comparable ----
    Q("x113_twap", {
      val q = s"${(1L << TwapQBits).toDouble}"
      Some(
        s"""WITH e AS (
           |  SELECT user_id, event_id, epoch_ns(ts) // 1000000 AS ms,
           |    CAST(floor(value * $q + 0.5) AS BIGINT) AS vq
           |  FROM events),
           |d AS (
           |  SELECT user_id, vq,
           |    lead(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id)
           |      - ms AS dur
           |  FROM e)
           |SELECT user_id, count(*) AS n_intervals,
           |  CAST(sum(dur) AS BIGINT) AS span_ms,
           |  floor(CAST(sum(vq * dur) AS DOUBLE)
           |      / (CAST(sum(dur) AS DOUBLE) * $q) * 1000000.0 + 0.5)
           |    / 1000000.0 AS twap
           |FROM d WHERE dur IS NOT NULL
           |GROUP BY user_id ORDER BY user_id""".stripMargin)
    },
      (s, dir) => graft.streaming.WindowedAgg.timeWeightedAvg(
          ReferenceCatalog.events(s, dir), "ts", "user_id", "value",
          qBits = TwapQBits)
        .orderBy("user_id")),

    // ---- streaming dedup with BOUNDED state
    //      (dropDuplicatesWithinWatermark): redelivered file arrives as
    //      its own micro-batch and dies against cross-batch state ----
    Q("x114_stream_dedupe", Some(
      """SELECT event_id, user_id, event_type, value
        |FROM events ORDER BY event_id""".stripMargin),
      (s, dir) => {
        val work = tmp("graft-sdedup")
        // the same file delivered twice — the redelivery case
        writeEventArrivalsNs(s, dir, s"$work/arrivals", copies = 2)
        // 4 shuffle partitions: the x112 lesson — per-file micro-batches
        // pay one state-store commit per partition per file
        graft.streaming.StreamDedup.dedupeAvailableNow(s,
          s"$work/arrivals", eventArrivalSchema, "event_id", "ts",
          s"$work/out", s"$work/cp", shufflePartitions = 4)
        graft.streaming.StreamDedup.readDeduped(s, s"$work/out")
          .select("event_id", "user_id", "event_type", "value")
          .orderBy("event_id")
      }),

    // ---- schema-on-read JSON extraction: the props column stays an
    //      opaque string until a query pulls a typed field out of it
    //      (from_json → codegen'd Jackson parse, no UDF); malformed or
    //      missing keys surface as NULLs, counted explicitly ----
    Q("x119_props_extract", Some(
      // Real JSON parsing on BOTH sides (not a regex sketch of it): the
      // nested CASE guards keep json_type off malformed rows, and the
      // integer-type gate mirrors from_json's LongType semantics — a
      // top-level integer-valued "k" extracts, while nested objects,
      // floats, quoted numbers, and malformed props are NULL on both
      // engines (pinned by PropsJsonParitySpec).
      """SELECT event_type, count(*) AS n, count(k) AS n_with_k,
        |  min(k) AS min_k, max(k) AS max_k,
        |  floor(avg(k) * 10000.0 + 0.5) / 10000.0 AS avg_k
        |FROM (
        |  SELECT event_type,
        |    CASE WHEN json_valid(props) THEN
        |      CASE WHEN json_type(props, '$.k') IN ('BIGINT', 'UBIGINT')
        |           THEN TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)
        |      END
        |    END AS k
        |  FROM events)
        |GROUP BY event_type ORDER BY event_type""".stripMargin),
      (s, dir) => ReferenceCatalog.events(s, dir)
        .select(col("event_type"),
          from_json(col("props"), new StructType().add("k", LongType))
            .getField("k").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), count(col("k")).as("n_with_k"),
          min("k").as("min_k"), max("k").as("max_k"),
          TextFunctions.portableRound(avg("k"), 4).as("avg_k"))
        .orderBy("event_type")),

    // ---- encoding-quality scan (ftfy-style triage, detection only):
    //      U+FFFD replacement chars, C0 controls + DEL, cp1252-mojibake
    //      digraphs, printable-ASCII ratio — the "was this corpus
    //      decoded correctly" gate that runs before any text op is
    //      trustworthy; all patterns shared with the oracle ----
    Q("x120_encoding_scan", Some(
      s"""SELECT doc_id, n_repl, n_ctrl, n_moji,
         |  CASE WHEN n_chars = 0 THEN NULL
         |       ELSE floor(n_ascii / CAST(n_chars AS DOUBLE) * 10000.0 + 0.5)
         |            / 10000.0 END AS ascii_ratio,
         |  (n_repl = 0 AND n_ctrl = 0 AND n_moji = 0) AS enc_ok
         |FROM (
         |  SELECT doc_id,
         |    CAST(len(regexp_extract_all(text, '${TextFunctions.ReplacementCharPattern}')) AS BIGINT) AS n_repl,
         |    CAST(len(regexp_extract_all(text, '${TextFunctions.CtrlCharPattern}')) AS BIGINT) AS n_ctrl,
         |    CAST(len(regexp_extract_all(text, '${TextFunctions.MojibakePattern}')) AS BIGINT) AS n_moji,
         |    CAST(len(regexp_extract_all(text, '${TextFunctions.AsciiPrintablePattern}')) AS DOUBLE) AS n_ascii,
         |    length(text) AS n_chars
         |  FROM documents)
         |ORDER BY doc_id""".stripMargin),
      (s, dir) => t(s, dir, "documents").select(
        col("doc_id"),
        TextFunctions.replacementCount(col("text")).as("n_repl"),
        TextFunctions.ctrlCount(col("text")).as("n_ctrl"),
        TextFunctions.mojibakeCount(col("text")).as("n_moji"),
        TextFunctions.asciiPrintableRatio(col("text")).as("ascii_ratio"),
        (TextFunctions.replacementCount(col("text")) === 0 &&
          TextFunctions.ctrlCount(col("text")) === 0 &&
          TextFunctions.mojibakeCount(col("text")) === 0).as("enc_ok"))
        .orderBy("doc_id")),

    // ---- LSH candidate-recall harness (the x95 shape, text side):
    //      truth = blocked EXACT Jaccard over the same word-3-shingle
    //      sets the MinHash signatures estimate (char-trigram Jaccard
    //      would be the wrong yardstick — on a shared-vocabulary
    //      corpus it marks pairs similar that share no phrasing);
    //      recall = fraction of truth pairs the banded index surfaces
    //      as candidates. The number that justifies the band/row
    //      layout before trusting it at 100 TB.
    //
    //      Catalog form = the DEPLOYED 100 TB shape (round 13): the
    //      truth side runs on the deterministic h60("recall:"+id)%4
    //      doc sample — recall is a per-pair property, so an unbiased
    //      doc sample is an unbiased sample of the pair population
    //      and the quadratic truth join pays sampleMod² less. The
    //      candidate INDEX stays full-corpus (we measure the index as
    //      deployed, on a sample of questions; n_cand is scoped to
    //      in-sample pairs so all three counts share one population).
    //      The full-truth (sampleMod=1) form is spec-only:
    //      LshRecallSpec pins it to planted ground truth and asserts
    //      the sampled form agrees with full ∩ sample. Measured at
    //      sf1: recall 0.9965 on 14,683 sampled truth pairs,
    //      49.8 s → 11.4 s (PERF.md) ----
    Q("x121_lsh_recall", Some(
      s"""WITH ${minhashPairsSql()},
         |sd AS (
         |  SELECT * FROM documents
         |  WHERE ${h60Sql("'recall:' || CAST(doc_id AS VARCHAR)", 4)} = 0),
         |wt AS (
         |  SELECT doc_id, lang, CAST(length(text) AS BIGINT) // 25 AS lbucket,
         |         ${tokSql("text")} AS tk
         |  FROM sd),
         |wsh AS (
         |  SELECT doc_id, lang, lbucket, list_distinct(list_transform(
         |    list_transform(
         |      generate_series(1, greatest(len(tk) - 2, 1)),
         |      i -> array_to_string(tk[i : i + 2], ' ')),
         |    s -> ${h60Sql("s", Dedup.MinhashP)})) AS hs
         |  FROM wt WHERE len(tk) > 0),
         |jp AS (
         |  SELECT id_a, id_b FROM (
         |    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |      round(CAST(len(list_intersect(a.hs, b.hs)) AS DOUBLE) /
         |            CAST(len(list_distinct(list_concat(a.hs, b.hs))) AS DOUBLE), 4)
         |        AS wjaccard
         |    FROM wsh a JOIN wsh b
         |      ON a.lang = b.lang AND a.lbucket = b.lbucket
         |        AND a.doc_id < b.doc_id)
         |  WHERE wjaccard >= 0.4),
         |scand AS (
         |  SELECT c.id_a, c.id_b FROM cand c
         |  JOIN sd a ON c.id_a = a.doc_id
         |  JOIN sd b ON c.id_b = b.doc_id),
         |hit AS (
         |  SELECT t.id_a FROM jp t JOIN scand c
         |    ON t.id_a = c.id_a AND t.id_b = c.id_b)
         |SELECT (SELECT count(*) FROM jp) AS n_truth,
         |  (SELECT count(*) FROM scand) AS n_cand,
         |  (SELECT count(*) FROM hit) AS n_hit,
         |  CASE WHEN (SELECT count(*) FROM jp) = 0 THEN NULL
         |       ELSE floor(CAST((SELECT count(*) FROM hit) AS DOUBLE)
         |            / CAST((SELECT count(*) FROM jp) AS DOUBLE)
         |            * 10000.0 + 0.5) / 10000.0 END AS recall""".stripMargin),
      (s, dir) =>
        Dedup.lshRecall(t(s, dir, "documents"), "doc_id", "text",
          blockCol = "lang", sampleMod = 4,
          cands = Some(lshCands(s, dir).select("id_a", "id_b")))),

    // ---- keep-one exact-substring dedup (the REMOVAL face of x43's
    //      coverage statistic — Lee et al.'s actual corpus rewrite):
    //      every duplicated 8-token span keeps its globally first
    //      occurrence, every other occurrence's token range is
    //      stripped, text rebuilt from survivors. 47 natural docs
    //      carry duplicated spans at sf0.01, so the removal path is
    //      exercised without planting. ----
    Q("x122_strip_spans", Some(stripSpansSql(8)),
      (s, dir) => RepeatedSpans.stripSpans(t(s, dir, "documents"),
          "doc_id", "text", k = 8)
        .orderBy("doc_id")),

    // ---- the same rewrite at Lee et al.'s production span width
    //      (~50 tokens): 280 duplicated 50-gram spans over 21 natural
    //      docs at sf0.01 exercise the removal path; the gram fan-out
    //      is k-independent in rows (one per position), so the k=50
    //      cost differs from k=8 only in per-row hash constants ----
    Q("x123_strip_spans_k50", Some(stripSpansSql(50)),
      (s, dir) => RepeatedSpans.stripSpans(t(s, dir, "documents"),
          "doc_id", "text", k = 50)
        .orderBy("doc_id")),

    // ---- unigram-LM (SentencePiece-family) tokenizer training: the
    //      trained vocabulary itself is the oracle target — the DuckDB
    //      side replays the seed and all three hard-EM rounds CTE by
    //      CTE, enumerating every cut mask where the engine runs its
    //      Viterbi DP (provably the same pick under the shared
    //      (−score, n_pieces, path) key), so seeding, segmentation,
    //      tie-breaking AND the prune/re-score step are cross-engine
    //      verified ----
    Q("x124_unigram_lm", Some(
      s"""WITH $unigramTrainSql
         |SELECT piece, cnt, score FROM usc$UniIters
         |ORDER BY piece""".stripMargin),
      (s, dir) => uniTrained(s, dir)._1.orderBy("piece")),

    // ---- unigram-LM encoding statistics: pieces per document under
    //      the trained vocabulary's final Viterbi segmentation (the
    //      x75 contract: fallback/OOV words = 1 piece) ----
    Q("x125_unigram_encode", Some(
      s"""WITH $unigramTrainSql,
         |encu AS (
         |  SELECT w, CAST(np AS BIGINT) AS n_pieces FROM bu$UniIters),
         |tku AS (
         |  SELECT doc_id, unnest(${tokSql("lower(text)")}) AS w
         |  FROM documents),
         |peru AS (
         |  SELECT tku.doc_id, count(*) AS n_tok,
         |         CAST(sum(coalesce(e.n_pieces, 1)) AS BIGINT) AS n_pieces
         |  FROM tku LEFT JOIN encu e USING (w) GROUP BY tku.doc_id)
         |SELECT d.doc_id,
         |       coalesce(peru.n_tok, 0) AS n_tok,
         |       coalesce(peru.n_pieces, 0) AS n_pieces
         |FROM documents d LEFT JOIN peru USING (doc_id)
         |ORDER BY doc_id""".stripMargin),
      (s, dir) => graft.operators.UnigramLm.encodeStats(
          t(s, dir, "documents"), "doc_id", "text", uniTrained(s, dir)._2)
        .orderBy("doc_id")),

    // ---- portable HyperLogLog: per-source distinct-token estimates,
    //      plus a '__ALL__' row computed by MERGING the per-source
    //      registers (element-wise max — never a rescan). n_distinct is
    //      the exact hashed-distinct audit column; at 100 TB only the
    //      m-long register state survives per (source, shard) ----
    Q("x126_hll_distinct", Some(hllDistinctSql),
      (s, dir) => {
        val tok = t(s, dir, "documents").select(col("source"),
          explode(TextFunctions.tokens(col("text"))).as("tk"))
        val hh = tok.select(col("source"),
          TextFunctions.md5Hash60(col("tk")).as("h")).distinct()
        val regs = Sketches.hllRegisters(tok, "source", col("tk"), HllP)
        val allRegs = regs.groupBy("bucket").agg(max(col("reg")).as("reg"))
          .withColumn("source", lit("__ALL__"))
        val nd = hh.groupBy("source").agg(count(lit(1)).as("n_distinct"))
          .unionByName(hh.select(col("h")).distinct()
            .agg(count(lit(1)).as("n_distinct"))
            .withColumn("source", lit("__ALL__")))
        Sketches.hllEstimate(regs, "source", HllP)
          .unionByName(Sketches.hllEstimate(allRegs, "source", HllP))
          .join(nd, Seq("source"))
          .select(col("source"), col("n_distinct"), col("zeros"), col("est"))
          .orderBy("source")
      }),

    // ---- interpolated trigram LM (CCNet-shaped perplexity filter):
    //      bits/trigram under λ₃·p₃ + λ₂·p₂ + λ₁·p₁, the context-aware
    //      step past x67 (unigram) and x88 (bigram). Same determinism
    //      recipe: exact-integer counts, hash-sorted fold, round last ----
    Q("x127_trigram_bits", Some(
      s"""WITH hs AS (
         |  SELECT doc_id,
         |    list_transform(${tokSql("lower(text)")},
         |      t -> ${h60Sql("t", 1152921504606846976L)}) AS hs
         |  FROM documents),
         |tgl AS (
         |  SELECT doc_id, unnest(list_transform(
         |    generate_series(1, greatest(len(hs) - 2, 0)),
         |    i -> struct_pack(h1 := hs[i], h2 := hs[i + 1],
         |                     h3 := hs[i + 2]))) AS b
         |  FROM hs),
         |tg AS (SELECT doc_id, b.h1 AS h1, b.h2 AS h2, b.h3 AS h3 FROM tgl),
         |bgl AS (
         |  SELECT doc_id, unnest(list_transform(
         |    generate_series(1, greatest(len(hs) - 1, 0)),
         |    i -> struct_pack(h1 := hs[i], h2 := hs[i + 1]))) AS b
         |  FROM hs),
         |bg AS (SELECT b.h1 AS h1, b.h2 AS h2 FROM bgl),
         |c3 AS (SELECT h1, h2, h3, count(*) AS c3 FROM tg GROUP BY 1, 2, 3),
         |cx2 AS (SELECT h1, h2, count(*) AS cx2 FROM tg GROUP BY 1, 2),
         |bc AS (SELECT h1 AS bh1, h2 AS bh2, count(*) AS c2 FROM bg GROUP BY 1, 2),
         |cx1 AS (SELECT h1 AS ch1, count(*) AS cx1 FROM bg GROUP BY 1),
         |c1 AS (SELECT h, count(*) AS c1 FROM (
         |  SELECT unnest(hs) AS h FROM hs) GROUP BY 1),
         |nv AS (SELECT CAST(count(*) AS BIGINT) + count(DISTINCT h) AS nv
         |  FROM (SELECT unnest(hs) AS h FROM hs)),
         |dc AS (
         |  SELECT doc_id, h1, h2, h3, count(*) AS c FROM tg GROUP BY 1, 2, 3, 4),
         |per AS (
         |  SELECT dc.doc_id, CAST(sum(dc.c) AS BIGINT) AS n_tri,
         |    list_sort(list(struct_pack(h1 := dc.h1, h2 := dc.h2,
         |      h3 := dc.h3, c := dc.c, c3 := c3.c3, cx2 := cx2.cx2,
         |      c2 := bc.c2, cx1 := cx1.cx1, c1 := c1.c1))) AS arr
         |  FROM dc JOIN c3 USING (h1, h2, h3) JOIN cx2 USING (h1, h2)
         |       JOIN bc ON dc.h2 = bc.bh1 AND dc.h3 = bc.bh2
         |       JOIN cx1 ON dc.h2 = cx1.ch1
         |       JOIN c1 ON dc.h3 = c1.h
         |  GROUP BY dc.doc_id),
         |w AS (
         |  SELECT doc_id, n_tri,
         |    floor((0.0 - list_reduce(list_prepend(0.0, list_transform(arr,
         |        t -> t.c * log2(
         |          $TriL3 * (CAST(t.c3 AS DOUBLE) / CAST(t.cx2 AS DOUBLE)) +
         |          $TriL2 * (CAST(t.c2 AS DOUBLE) / CAST(t.cx1 AS DOUBLE)) +
         |          $TriL1 * ((CAST(t.c1 AS DOUBLE) + 1.0) / CAST(nv AS DOUBLE))))),
         |        (a, x) -> a + x)) / n_tri * 10000.0 + 0.5) / 10000.0 AS bpt3
         |  FROM per, nv)
         |SELECT d.doc_id,
         |  coalesce(w.n_tri, 0) AS n_tri,
         |  coalesce(w.bpt3, 0.0) AS bpt3
         |FROM documents d LEFT JOIN w USING (doc_id)
         |ORDER BY doc_id""".stripMargin),
      (s, dir) => CorpusStats.trigramBits(t(s, dir, "documents"),
        "doc_id", "text", TriL3, TriL2, TriL1).orderBy("doc_id")),

    // ---- maximal-marginal-relevance top-k (diversity-aware re-rank):
    //      the oracle unrolls the same greedy the driver walks, CTE by
    //      CTE — every float it compares is either rounded at the
    //      matrix edge or the identical IEEE λ·rel − μ·maxsim tree ----
    Q("x128_mmr_topk", Some(mmrTopKSql),
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        Similarity.mmrTopK(emb.filter(col("vec_id") < 5), emb,
          "vec_id", "embedding", k = MmrK, poolK = MmrPool,
          lambda = MmrLambda, mu = MmrMu)
      }),

    // ---- incrementally maintained HLL store: three appends of
    //      register sketches (element-wise max through the versioned
    //      store) must equal the from-scratch sketch EXACTLY — HLL's
    //      analogue of x59's KMV union property ----
    Q("x131_incremental_hll", Some({
      val m = 1 << HllP
      val maxRho = 60 - HllP + 1
      val pow = 1L << maxRho
      s"""WITH tok AS (
         |  SELECT lang, unnest(${tokSql("text")}) AS tk FROM documents),
         |hh AS (
         |  SELECT DISTINCT lang,
         |    ('0x' || substr(md5(tk), 1, 15))::BIGINT AS h FROM tok),
         |rg AS (
         |  SELECT lang, h % $m AS bucket,
         |    max(CASE WHEN (h >> $HllP) = 0 THEN $maxRho
         |        ELSE $maxRho - length(bin(h >> $HllP)) END) AS reg
         |  FROM hh GROUP BY 1, 2),
         |es AS (
         |  SELECT lang,
         |    CAST(sum(1::BIGINT << ($maxRho - reg)) AS BIGINT)
         |      + ($m - count(*)) * (1::BIGINT << $maxRho) AS s,
         |    CAST($m - count(*) AS BIGINT) AS zeros
         |  FROM rg GROUP BY 1)
         |SELECT lang,
         |  floor((CASE WHEN raw <= 2.5 * $m.0 AND zeros > 0
         |         THEN $m.0 * ln($m.0 / CAST(zeros AS DOUBLE))
         |         ELSE raw END) * 10000.0 + 0.5) / 10000.0 AS hll_estimate
         |FROM (SELECT lang, zeros,
         |        0.7213 / (1.0 + 1.079 / $m.0) * $m.0 * $m.0 /
         |          (CAST(s AS DOUBLE) / $pow.0) AS raw
         |      FROM es)
         |ORDER BY lang""".stripMargin
    }),
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val store = tmp("graft-inchll") + "/hll"
        (0 until 3).foreach { kk =>
          Sketches.appendHll(s, store,
            docs.filter(col("doc_id") % 3 === kk)
              .select(col("lang"),
                explode(TextFunctions.tokens(col("text"))).as("tk")),
            "lang", col("tk"), HllP)
        }
        Sketches.hllSketchEstimate(MergeUpsert.readPlain(s, store),
            "lang", "registers", HllP)
          .select(col("lang"), col("est").as("hll_estimate"))
          .orderBy("lang")
      }),

    // ---- keyword-taxonomy topic tagging (domain routing before mix
    //      sampling): broadcast dictionary, exact-integer argmax ----
    Q("x129_topic_tag", Some({
      val values = graft.operators.TopicTag.DefaultTaxonomy
        .flatMap { case (t, ws) => ws.map(w => s"('$t', '$w')") }
        .mkString(", ")
      s"""WITH kw(topic, kw) AS (VALUES $values),
         |tk AS (
         |  SELECT doc_id, unnest(${tokSql("lower(text)")}) AS tk FROM documents),
         |hits AS (
         |  SELECT t.doc_id, k.topic, count(*) AS hits
         |  FROM tk t JOIN kw k ON t.tk = k.kw GROUP BY 1, 2),
         |top AS (
         |  SELECT doc_id, topic, hits FROM (
         |    SELECT *, row_number() OVER (
         |      PARTITION BY doc_id ORDER BY hits DESC, topic) AS rn
         |    FROM hits) WHERE rn = 1)
         |SELECT d.doc_id,
         |  coalesce(top.topic, 'other') AS topic,
         |  coalesce(top.hits, CAST(0 AS BIGINT)) AS hits
         |FROM documents d LEFT JOIN top USING (doc_id)
         |ORDER BY doc_id""".stripMargin
    }),
      (s, dir) => graft.operators.TopicTag.tag(
        t(s, dir, "documents"), "doc_id", "text").orderBy("doc_id")),

    // ---- cross-source duplication matrix: which sources copy which —
    //      the report that decides per-source dedup priorities and
    //      licensing/provenance audits. Rides the memoized verified
    //      pairs (x16's stage); cost beyond it is two dim joins on the
    //      SPARSE pair list ----
    Q("x130_source_dup_matrix", Some(
      s"""WITH ${minhashPairsSql()},
         |${verifiedPairsSql("documents")},
         |ds AS (SELECT doc_id, source FROM documents)
         |SELECT least(sa.source, sb.source) AS source_a,
         |       greatest(sa.source, sb.source) AS source_b,
         |       count(*) AS n_pairs
         |FROM vp JOIN ds sa ON vp.id_a = sa.doc_id
         |        JOIN ds sb ON vp.id_b = sb.doc_id
         |GROUP BY 1, 2
         |ORDER BY source_a, source_b""".stripMargin),
      (s, dir) => {
        val src = t(s, dir, "documents").select(col("doc_id"), col("source"))
        verifiedPairs(s, dir)
          .join(src.select(col("doc_id").as("id_a"), col("source").as("sa")),
            Seq("id_a"))
          .join(src.select(col("doc_id").as("id_b"), col("source").as("sb")),
            Seq("id_b"))
          .groupBy(least(col("sa"), col("sb")).as("source_a"),
            greatest(col("sa"), col("sb")).as("source_b"))
          .agg(count(lit(1)).as("n_pairs"))
          .orderBy("source_a", "source_b")
      }),

    // ---- ANN ranking quality beyond recall (x95): reciprocal rank of
    //      the true best hit + binary nDCG@10 of the sign-LSH ranking
    //      vs the exact one — same index, same truth, position-aware ----
    Q("x132_retrieval_metrics", Some(
      s"""WITH c AS (
         |  SELECT vec_id AS eid, embedding AS ev,
         |         ${bucketSql("embedding", 8)} AS bucket
         |  FROM embeddings),
         |q0 AS (
         |  SELECT vec_id AS qid, embedding AS qv,
         |         ${bucketSql("embedding", 8)} AS bucket
         |  FROM embeddings WHERE vec_id < 5),
         |qp AS (
         |  SELECT qid, qv, unnest(list_concat([bucket],
         |    list_transform(generate_series(0, 7),
         |      p -> xor(bucket, 1::BIGINT << p)))) AS bucket
         |  FROM q0),
         |acand AS (
         |  SELECT DISTINCT qid, eid, ${cosineSql("qv", "ev")} AS sim
         |  FROM qp JOIN c USING (bucket)),
         |approx AS (
         |  SELECT qid, eid, rn FROM (
         |    SELECT *, row_number() OVER (PARTITION BY qid
         |      ORDER BY sim DESC, eid) AS rn FROM acand)
         |  WHERE rn <= 10),
         |esims AS (
         |  SELECT q0.qid, c.eid, ${cosineSql("q0.qv", "c.ev")} AS sim
         |  FROM q0, c),
         |ex AS (
         |  SELECT qid, eid, rn FROM (
         |    SELECT *, row_number() OVER (PARTITION BY qid
         |      ORDER BY sim DESC, eid) AS rn FROM esims)
         |  WHERE rn <= 10),
         |rr AS (
         |  SELECT e.qid, coalesce(1.0 / CAST(a.rn AS DOUBLE), 0.0) AS rr
         |  FROM ex e LEFT JOIN approx a USING (qid, eid)
         |  WHERE e.rn = 1),
         |dcg AS (
         |  SELECT qid, list_reduce(list_prepend(0.0, list_transform(
         |      list_sort(list(rn)),
         |      r -> 1.0 / log2(CAST(r AS DOUBLE) + 1.0))),
         |    (acc, x) -> acc + x) AS dcg
         |  FROM (SELECT a.qid, a.rn FROM approx a JOIN ex e USING (qid, eid))
         |  GROUP BY qid),
         |idcg AS (
         |  SELECT qid, list_reduce(list_prepend(0.0, list_transform(
         |      list_sort(list(rn)),
         |      r -> 1.0 / log2(CAST(r AS DOUBLE) + 1.0))),
         |    (acc, x) -> acc + x) AS idcg
         |  FROM ex GROUP BY qid)
         |SELECT rr.qid,
         |  floor(rr.rr * 10000.0 + 0.5) / 10000.0 AS rr,
         |  floor((coalesce(dcg.dcg, 0.0) / idcg.idcg) * 10000.0 + 0.5) / 10000.0 AS ndcg
         |FROM rr LEFT JOIN dcg USING (qid) JOIN idcg USING (qid)
         |ORDER BY qid""".stripMargin),
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val q = emb.filter(col("vec_id") < 5)
        Similarity.retrievalMetrics(
          Similarity.lshTopK(q, emb, "vec_id", "embedding", k = 10,
            planes = 8),
          Similarity.bruteForceTopK(q, emb, "vec_id", "embedding", k = 10),
          k = 10)
          .orderBy("qid")
      }),

    // ---- JSONL round trip: the interchange format every public LLM
    //      dataset ships as — write documents as one-object-per-line
    //      text, read back under the explicit schema, and the oracle is
    //      the table itself (identity = fidelity, including the edge
    //      corpus's tabs/newlines/unicode through JSON escaping) ----
    Q("x136_jsonl_roundtrip", Some(
      """SELECT doc_id, text, lang, source, n_chars FROM documents
        |ORDER BY doc_id""".stripMargin),
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val out = tmp("graft-jsonl") + "/docs"
        graft.sources.JsonLines.write(docs, out)
        val split = graft.sources.JsonLines.read(s, out, docs.schema)
        split.good.orderBy("doc_id")
      }),

    // ---- inverted char-trigram index search (pg_trgm / Code Search
    //      shape): grams intersect to candidates, exact contains
    //      verifies candidates only; oracle = the naive scan ----
    Q("x137_gram_index_search", Some({
      val values = GramQueries
        .map { case (qid, q) => s"('$qid', '$q')" }.mkString(", ")
      s"""WITH qs(qid, q) AS (VALUES $values)
         |SELECT qs.qid, d.doc_id
         |FROM qs, documents d
         |WHERE contains(d.text, qs.q)
         |ORDER BY qid, doc_id""".stripMargin
    }),
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val session = s
        import session.implicits._
        GramIndex.search(GramQueries.toDF("qid", "q"), "qid", "q",
          GramIndex.build(docs, "doc_id", "text"),
          docs, "doc_id", "text")
          .orderBy("qid", "doc_id")
      }),

    // ---- LSH estimator calibration: banded-minhash est_jaccard
    //      bucketed against the exact verify — the curve that says
    //      whether the est-threshold prefilter (x16's 0.25) is honest ----
    Q("x138_lsh_calibration", Some(
      s"""WITH ${minhashPairsSql()},
         |g AS (
         |  SELECT doc_id, list_distinct(list_transform(
         |    generate_series(1, greatest(length(text) - 2, 1)),
         |    i -> text[i : i + 2])) AS grams
         |  FROM documents),
         |vj AS (
         |  SELECT c.est_jaccard,
         |    round(CAST(len(list_intersect(ga.grams, gb.grams)) AS DOUBLE) /
         |          CAST(len(list_distinct(list_concat(ga.grams, gb.grams))) AS DOUBLE), 4)
         |      AS jaccard
         |  FROM cand c
         |  JOIN g ga ON c.id_a = ga.doc_id
         |  JOIN g gb ON c.id_b = gb.doc_id),
         |b AS (
         |  SELECT CAST(floor(est_jaccard * 10) AS BIGINT) AS bucket,
         |         CAST(floor(jaccard * 10000.0 + 0.5) AS BIGINT) AS qj
         |  FROM vj)
         |SELECT bucket, count(*) AS n_pairs,
         |  floor((CAST(sum(qj) AS DOUBLE) / CAST(count(*) AS DOUBLE)
         |    / 10000.0) * 10000.0 + 0.5) / 10000.0 AS mean_jaccard
         |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin),
      (s, dir) => {
        val docs = t(s, dir, "documents")
        Dedup.verifyCandidates(docs, "doc_id", "text", lshCands(s, dir),
            minJaccard = 0.0)
          .select(floor(col("est_jaccard") * 10).cast("long").as("bucket"),
            floor(col("jaccard") * lit(10000.0) + lit(0.5)).cast("long")
              .as("qj"))
          .groupBy("bucket")
          .agg(count(lit(1)).as("n_pairs"), sum(col("qj")).as("sq"))
          .select(col("bucket"), col("n_pairs"),
            TextFunctions.portableRound(
              col("sq").cast("double") / col("n_pairs").cast("double") /
                lit(10000.0), 4).as("mean_jaccard"))
          .orderBy("bucket")
      }),

    // ---- join-key skew diagnostics: the report that DECIDES whether
    //      x24/x25's salting is worth it — heaviest keys, skew factor,
    //      and the exact `salts` argument that levels the worst key ----
    Q("x135_skew_report", Some(
      s"""WITH c AS (
         |  SELECT user_id AS key, count(*) AS cnt FROM events GROUP BY 1),
         |s AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_keys,
         |         CAST(sum(cnt) AS BIGINT) AS total,
         |         CAST(max(cnt) AS BIGINT) AS max_cnt
         |  FROM c),
         |tk AS (
         |  SELECT key, cnt, row_number() OVER (ORDER BY cnt DESC, key) AS rn
         |  FROM c)
         |SELECT t.key, t.cnt,
         |  floor(CAST(t.cnt AS DOUBLE) / CAST(s.total AS DOUBLE)
         |    * 1000000.0 + 0.5) / 1000000.0 AS share,
         |  floor(CAST(s.max_cnt AS DOUBLE) /
         |    (CAST(s.total AS DOUBLE) / CAST(s.n_keys AS DOUBLE))
         |    * 10000.0 + 0.5) / 10000.0 AS skew,
         |  CAST(ceil(CAST(s.max_cnt AS DOUBLE) /
         |    (CAST(s.total AS DOUBLE) / CAST(s.n_keys AS DOUBLE)))
         |    AS BIGINT) AS salt
         |FROM tk t, s WHERE t.rn <= 5 ORDER BY t.key""".stripMargin),
      (s, dir) => Salting.skewReport(
        ReferenceCatalog.events(s, dir).select(col("user_id")),
        "user_id", k = 5)),

    // ---- rank-biased overlap between the BM25 and tf·idf rankers
    //      (x103's inputs, compared instead of fused): top-weighted
    //      agreement curve + truncated RBO. Geometric weights are
    //      JVM-computed literals shipped to BOTH engines — library pow
    //      is the one op we refuse to trust cross-engine ----
    Q("x133_rbo_overlap", Some({
      val pwVals = TfIdf.rboWeights(RboP, RboDepth).zipWithIndex
        .map { case (pv, i) => s"(${i + 1}, CAST('$pv' AS DOUBLE))" }
        .mkString(", ")
      s"""WITH $bm25ScoredSql,
         |ra AS (
         |  SELECT doc_id, rn FROM (
         |    SELECT doc_id,
         |      CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT)
         |        AS rn
         |    FROM scored)
         |  WHERE rn <= $RboDepth),
         |$tfidfScoredSql,
         |rb AS (
         |  SELECT doc_id, rn FROM (
         |    SELECT doc_id,
         |      CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT)
         |        AS rn
         |    FROM scoredx)
         |  WHERE rn <= $RboDepth),
         |com AS (
         |  SELECT greatest(ra.rn, rb.rn) AS mx FROM ra JOIN rb USING (doc_id)),
         |depths AS (
         |  SELECT CAST(unnest(generate_series(1, $RboDepth)) AS INT) AS d),
         |ov AS (
         |  SELECT d, count(mx) AS n_overlap
         |  FROM depths LEFT JOIN com ON com.mx <= depths.d GROUP BY d),
         |pwt(d, pw) AS (VALUES $pwVals),
         |wc AS (
         |  SELECT ov.d, n_overlap,
         |    floor(CAST(n_overlap AS DOUBLE) / CAST(ov.d AS DOUBLE)
         |      * 10000.0 + 0.5) / 10000.0 AS agreement,
         |    pw * (CAST(n_overlap AS DOUBLE) / CAST(ov.d AS DOUBLE)) AS term
         |  FROM ov JOIN pwt ON ov.d = pwt.d),
         |rbo AS (
         |  SELECT floor($RboW * list_reduce(list_prepend(0.0, list_transform(
         |      list_sort(list(struct_pack(d := d, term := term))),
         |      s -> s.term)), (acc, x) -> acc + x) * 1000000.0 + 0.5)
         |    / 1000000.0 AS rbo
         |  FROM wc)
         |SELECT wc.d, wc.n_overlap, wc.agreement, rbo.rbo
         |FROM wc, rbo ORDER BY d""".stripMargin
    }),
      (s, dir) => {
        val docs = t(s, dir, "documents")
        TfIdf.rboCurve(
          TfIdf.bm25TopK(docs, "doc_id", "text", Bm25Terms, k = RboDepth,
            k1 = Bm25K1, b = Bm25B),
          TfIdf.queryScoreTopK(docs, "doc_id", "text", Bm25Terms,
            k = RboDepth),
          "doc_id", depth = RboDepth, p = RboP, w = RboW)
      }),

    // ---- sparse all-pairs tf·idf cosine (similarity join): candidate
    //      pairs from DISCRIMINATIVE (df ≤ cap) posting lists only —
    //      the prefix-filter valve that keeps stopword lists from
    //      self-joining O(df²) — then the FULL dot gathered for
    //      candidates (LSH-verify shape). Weights quantized to
    //      integers, norms/dots as 128-bit exact sums, threshold as a
    //      pure integer compare: no pair flips on float rounding ----
    Q("x139_sparse_cosine", Some(
      s"""WITH tk AS (
         |  SELECT doc_id, unnest(${tokSql("lower(text)")}) AS term
         |  FROM documents),
         |tf AS (
         |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
         |  FROM tk GROUP BY doc_id, term),
         |dfq AS (
         |  SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
         |n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
         |w AS (
         |  SELECT doc_id, term, df,
         |    CAST(floor(CAST(tf AS DOUBLE)
         |      * least(n.n / CAST(df AS DOUBLE), $CosIdfCap)
         |      * $CosQ.0 + 0.5) AS HUGEINT) AS wq
         |  FROM tf JOIN dfq USING (term) CROSS JOIN n),
         |nr AS (SELECT doc_id, sum(wq * wq) AS norm2 FROM w GROUP BY doc_id),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
         |  WHERE a.df <= $CosMaxDf AND b.df <= $CosMaxDf),
         |d AS (
         |  SELECT c.id_a, c.id_b, CAST(count(*) AS BIGINT) AS n_shared,
         |         sum(wa.wq * wb.wq) AS dot
         |  FROM cand c
         |  JOIN w wa ON wa.doc_id = c.id_a
         |  JOIN w wb ON wb.doc_id = c.id_b AND wb.term = wa.term
         |  GROUP BY c.id_a, c.id_b)
         |SELECT d.id_a, d.id_b, d.n_shared,
         |  floor(CAST(d.dot AS DOUBLE) /
         |    sqrt(CAST(na.norm2 AS DOUBLE) * CAST(nb.norm2 AS DOUBLE))
         |    * 10000.0 + 0.5) / 10000.0 AS cosine
         |FROM d
         |JOIN nr na ON na.doc_id = d.id_a
         |JOIN nr nb ON nb.doc_id = d.id_b
         |WHERE d.dot * d.dot * 10000 >= ${CosMinBp.toLong * CosMinBp}
         |  * na.norm2 * nb.norm2
         |ORDER BY id_a, id_b""".stripMargin),
      (s, dir) => TfIdf.cosinePairs(t(s, dir, "documents"),
        "doc_id", "text", minCosineBp = CosMinBp, maxDf = CosMaxDf,
        q = CosQ, idfCap = CosIdfCap)),

    // ---- zone-map data skipping: cluster-write events by user_id,
    //      build the per-file min/max map, and answer a narrow range
    //      predicate reading ONLY intersecting files. The oracle is
    //      the PLAIN filter — pruning + re-applied predicate is exact
    //      by construction, whatever the layout; the spec asserts the
    //      files actually skipped ----
    Q("x140_zonemap_prune", Some(
      s"""SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
         |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
         |  CAST(sum(CAST(floor(value * 1024.0 + 0.5) AS BIGINT))
         |    AS BIGINT) AS sum_vq
         |FROM events WHERE user_id BETWEEN $ZmLo AND $ZmHi
         |GROUP BY event_type ORDER BY event_type""".stripMargin),
      (s, dir) => {
        val ev = ReferenceCatalog.events(s, dir)
          .select(col("user_id"), col("event_type"), col("value"))
        val path = tmp("graft-zonemap") + "/events_clustered"
        ZoneMap.clusterWrite(ev, "user_id", ZmFiles, path)
        val written = s.read.parquet(path)
        val (pruned, report) = ZoneMap.prunedRead(s,
          ZoneMap.stats(written, "user_id"), "user_id", ZmLo, ZmHi)
        // the skipping must have happened, or this query is measuring
        // nothing: a narrow band over a range-clustered layout keeps a
        // strict subset of files
        require(report.filesKept < report.filesTotal,
          s"zone map pruned nothing: $report")
        pruned.groupBy("event_type")
          .agg(count(lit(1)).as("n_events"),
            countDistinct(col("user_id")).as("n_users"),
            sum(floor(col("value") * lit(1024.0) + lit(0.5))).as("sum_vq"))
          .orderBy("event_type")
      }),

    // ---- runtime Bloom join pruning (the engine-grown "runtime
    //      filter"): a 1.2%-selective order window builds an 8 KB key
    //      bitmap; lineitem rows that cannot join die at scan time,
    //      BEFORE the shuffle. False positives flow into the exact
    //      join and vanish — the oracle is the PLAIN join's SQL ----
    Q("x141_bloom_join_prune", Some(
      s"""SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_items,
         |  CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount)
         |    * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS rev_cents
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |WHERE o_orderdate >= TIMESTAMP '$BloomJoinLo'
         |  AND o_orderdate < TIMESTAMP '$BloomJoinHi'
         |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
      (s, dir) => {
        val ord = t(s, dir, "orders")
          .filter(col("o_orderdate") >= to_timestamp(lit(BloomJoinLo)) &&
            col("o_orderdate") < to_timestamp(lit(BloomJoinHi)))
        val bloom = BloomFilter.keyBloom(
          ord.select(col("o_orderkey")), "o_orderkey")
        BloomFilter.pruneKeys(t(s, dir, "lineitem"), "l_orderkey", bloom)
          .join(ord, col("l_orderkey") === col("o_orderkey"))
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n_items"),
            sum(floor(col("l_extendedprice") *
              (lit(1.0) - col("l_discount")) * lit(100.0) + lit(0.5)))
              .as("rev_cents"))
          .orderBy("o_orderpriority")
      }),

    // ---- Unicode NFC normalization (codegen'd UnicodeNormalize
    //      expression vs DuckDB's nfc_normalize): canonical
    //      equivalence BEFORE hash keys — composed vs decomposed
    //      accents are distinct bytes, identical glyphs. Two planted
    //      decomposed rows keep the check non-vacuous on the
    //      ASCII-dominated natural corpus ----
    Q("x142_nfc_normalize", Some(
      """WITH u AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT * FROM (VALUES
        |    (CAST(-1 AS BIGINT), 'cafe' || chr(769)),
        |    (CAST(-2 AS BIGINT), 'A' || chr(778) || ' ok')))
        |SELECT doc_id, (nfc_normalize(text) <> text) AS changed,
        |  md5(nfc_normalize(text)) AS norm_md5
        |FROM u ORDER BY doc_id""".stripMargin),
      (s, dir) => {
        val session = s
        import session.implicits._
        // DECOMPOSED forms (base + combining mark, \\u0301 / \\u030A),
        // mirroring the oracle's 'cafe' || chr(769) / 'A' || chr(778)
        val planted = Seq((-1L, "cafe\u0301"), (-2L, "A\u030A ok"))
          .toDF("doc_id", "text")
        val normed = TextFunctions.unicodeNormalize(col("text"))
        t(s, dir, "documents").select("doc_id", "text")
          .unionByName(planted)
          .select(col("doc_id"), (normed =!= col("text")).as("changed"),
            md5(normed).as("norm_md5"))
          .orderBy("doc_id")
      }),

    // ---- leakage-safe train/val/test split: the split is a hash of
    //      the NEAR-DUP CLUSTER id (x18's clusters), so a near-copy of
    //      a training page can never land in eval — the contamination
    //      channel per-doc random splits leave open. Rides the
    //      memoized dedup family ----
    Q("x143_leakage_safe_split", Some(
      s"""WITH RECURSIVE ${minhashPairsSql()},
         |${neardupClosureSql("documents")},
         |cl AS (
         |  SELECT node AS doc_id, min(label) AS cluster_id
         |  FROM reach GROUP BY node),
         |cb AS (
         |  SELECT doc_id, cluster_id,
         |    ${h60Sql("('split|' || CAST(cluster_id AS VARCHAR))", 10L)} AS b
         |  FROM cl)
         |SELECT d.source,
         |  CASE WHEN b < 8 THEN 'train' WHEN b < 9 THEN 'val'
         |       ELSE 'test' END AS split,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(count(DISTINCT cluster_id) AS BIGINT) AS n_clusters,
         |  CAST(sum(len(${tokSql("d.text")})) AS BIGINT) AS n_tokens
         |FROM documents d JOIN cb USING (doc_id)
         |GROUP BY d.source, split ORDER BY d.source, split""".stripMargin),
      (s, dir) => Sampling.leakageSafeSplit(t(s, dir, "documents"),
          "doc_id", docClusters(s, dir).select("doc_id", "cluster_id"))
        .groupBy(col("source"), col("split"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("cluster_id")).as("n_clusters"),
          sum(size(TextFunctions.tokens(col("text"))).cast("long"))
            .as("n_tokens"))
        .orderBy("source", "split")),

    // ---- bucketed (pre-shuffled) sort-merge join: pay the fact-fact
    //      key shuffle ONCE at write time (bucketBy+sortBy), then join
    //      with NO Exchange and NO Sort — the layout decision that
    //      converts a recurring 100 TB shuffle into a one-time cost.
    //      Oracle = the plain join; BucketingSpec asserts the
    //      exchange-free plan ----
    Q("x144_bucketed_join", Some(
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_items,
        |  CAST(sum(CAST(floor(l_quantity * 100.0 + 0.5) AS BIGINT))
        |    AS BIGINT) AS qty_q
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
      (s, dir) => {
        val base = tmp("graft-bucket")
        val sfx = base.replaceAll("[^A-Za-z0-9]", "_")
        val (ordT, liT) = (s"g_ord$sfx", s"g_li$sfx")
        Bucketing.writeBucketed(
          t(s, dir, "orders").select("o_orderkey", "o_orderpriority"),
          ordT, Seq("o_orderkey"), SmbBuckets, Seq("o_orderkey"),
          path = Some(s"$base/ord"))
        Bucketing.writeBucketed(
          t(s, dir, "lineitem").select("l_orderkey", "l_quantity"),
          liT, Seq("l_orderkey"), SmbBuckets, Seq("l_orderkey"),
          path = Some(s"$base/li"))
        Bucketing.bucketedJoin(s, liT, ordT, "l_orderkey", "o_orderkey") {
          j => j.groupBy("o_orderpriority")
            .agg(count(lit(1)).as("n_items"),
              sum(floor(col("l_quantity") * lit(100.0) + lit(0.5)))
                .as("qty_q"))
            .orderBy("o_orderpriority")
        }
      }),

    // ---- HTML → text extraction (the step between "crawled page" and
    //      every text operator downstream): script/style/comment
    //      payloads die whole, remaining tags become spaces, the C4
    //      entity subset decodes (&amp; LAST, one pass), whitespace
    //      canonicalizes. Planted markup rows keep it non-vacuous ----
    Q("x145_html_to_text", Some({
      val vals = HtmlDocs.map { case (id, h) =>
        s"(CAST($id AS BIGINT), '${h.replace("'", "''")}')"
      }.mkString(",\n    ")
      s"""WITH u AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL SELECT * FROM (VALUES
         |    $vals))
         |SELECT doc_id, ${htmlToTextSql("text")} AS clean_text,
         |  (${htmlToTextSql("text")} <> text) AS changed
         |FROM u ORDER BY doc_id""".stripMargin
    }),
      (s, dir) => {
        val session = s
        import session.implicits._
        val clean = TextFunctions.htmlToText(col("text"))
        t(s, dir, "documents").select("doc_id", "text")
          .unionByName(HtmlDocs.toDF("doc_id", "text"))
          .select(col("doc_id"), clean.as("clean_text"),
            (clean =!= col("text")).as("changed"))
          .orderBy("doc_id")
      }),

    // ---- farthest-point (Gonzalez k-center) coreset selection:
    //      k−1 rounds of "pick the point farthest from everything
    //      picked", each one broadcast join + TakeOrdered(1) over
    //      exact quantized-integer distances. The diverse-subset
    //      selector with a coverage guarantee random sampling lacks ----
    Q("x146_kcenter_select", Some(kCenterSql),
      (s, dir) => Similarity.kCenterSelect(t(s, dir, "embeddings"),
        "vec_id", "embedding", k = KCenterK, qBits = KCenterQBits)
        .orderBy("rank")),

    // ---- PCA top principal component (MLlib's own split: distributed
    //      exact-integer scatter matrix, driver power iteration on d²
    //      bounded values, every float fold in ascending-index order,
    //      re-rounded per round). The variance axis for whitening and
    //      embedding-drift dashboards ----
    Q("x147_pca_top_component", Some(pcaSql),
      (s, dir) => graft.operators.Pca.topComponent(
        t(s, dir, "embeddings"), "embedding", qBits = PcaQBits,
        iters = PcaIters).orderBy("pos"))
,
    // ---- perceptual average-hash near-dup (the IMAGE dedup
    //      primitive, run over the multimodal byte payloads): 32-pool
    //      aHash from exact integer compares, 4×8-bit candidate
    //      bands, exact popcount(xor) verify. Survives the small
    //      payload edits that break exact byte hashes ----
    Q("x148_phash_neardup", Some(
      s"""WITH bl AS (
         |  SELECT doc_id, hex(encode(text)) AS h,
         |         octet_length(encode(text)) AS n
         |  FROM documents WHERE octet_length(encode(text)) > 0),
         |ex AS (
         |  SELECT doc_id, i - 1 AS pos,
         |    ('0x' || substr(h, 2 * i - 1, 2))::BIGINT AS b, n
         |  FROM bl, unnest(generate_series(1, n)) AS u(i)),
         |pools AS (
         |  SELECT doc_id, (pos * $PhashPools) // n AS pool,
         |    CAST(sum(b) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS c
         |  FROM ex GROUP BY doc_id, (pos * $PhashPools) // n),
         |tot AS (
         |  SELECT doc_id, CAST(sum(s) AS BIGINT) AS st,
         |    CAST(sum(c) AS BIGINT) AS nt
         |  FROM pools GROUP BY doc_id),
         |hs AS (
         |  SELECT p.doc_id,
         |    CAST(sum(CASE WHEN p.s * t.nt > t.st * p.c
         |      THEN (CAST(1 AS BIGINT) << CAST(p.pool AS INT))
         |      ELSE 0 END) AS BIGINT) AS phash
         |  FROM pools p JOIN tot t ON t.doc_id = p.doc_id
         |  GROUP BY p.doc_id),
         |bands AS (
         |  SELECT doc_id, phash, k, (phash >> (8 * k)) & 255 AS band
         |  FROM hs, unnest([0, 1, 2, 3]) AS u(k)),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS id_a, a.phash AS ha,
         |    b.doc_id AS id_b, b.phash AS hb
         |  FROM bands a JOIN bands b
         |    ON a.k = b.k AND a.band = b.band AND a.doc_id < b.doc_id)
         |SELECT id_a, id_b,
         |  CAST(bit_count(xor(ha, hb)) AS INT) AS hamming
         |FROM cand WHERE bit_count(xor(ha, hb)) <= $PhashMaxHamming
         |ORDER BY id_a, id_b""".stripMargin),
      (s, dir) => Multimodal.pHashPairs(
        Multimodal.aHash(
          Multimodal.withPayload(t(s, dir, "documents"), "doc_id", "text"),
          pools = PhashPools),
        maxHamming = PhashMaxHamming)
        .orderBy("id_a", "id_b")),

    // ---- ORC round trip: the other columnar table format (same scan
    //      machinery as Parquet — stats skipping, pushdown, pruning).
    //      Oracle = the table itself: identity is fidelity, including
    //      the edge corpus's control chars and unicode ----
    Q("x149_orc_roundtrip", Some(
      """SELECT doc_id, text, lang, source, n_chars FROM documents
        |ORDER BY doc_id""".stripMargin),
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val out = tmp("graft-orc") + "/docs"
        graft.sources.OrcTable.write(docs, out)
        graft.sources.OrcTable.read(s, out, docs.schema).orderBy("doc_id")
      }),

    // ---- MERGE with schema evolution: a re-scoring batch arrives
    //      with a NEW column; evolveSchema widens the survivors with
    //      NULL (the Delta/Iceberg mergeSchema contract) instead of
    //      dropping the column or failing the job ----
    Q("x150_merge_evolution", Some(
      """WITH base AS (
        |  SELECT event_id, event_type,
        |    floor(value * 10000.0 + 0.5) / 10000.0 AS value
        |  FROM events WHERE event_id % 3 <> 0),
        |batch AS (
        |  SELECT event_id, event_type,
        |    floor(value * 2 * 10000.0 + 0.5) / 10000.0 AS value,
        |    'rescored' AS quality
        |  FROM events WHERE event_id % 2 = 0),
        |merged AS (
        |  SELECT event_id, event_type, value, quality FROM batch
        |  UNION ALL
        |  SELECT e.event_id, e.event_type, e.value, NULL FROM base e
        |  WHERE e.event_id NOT IN (SELECT event_id FROM batch))
        |SELECT event_id, event_type, value, quality FROM merged
        |ORDER BY event_id""".stripMargin),
      (s, dir) => {
        val ev = ReferenceCatalog.events(s, dir)
          .select(col("event_id"), col("event_type"), col("value"))
        val base = ev.filter(col("event_id") % 3 =!= 0)
          .withColumn("value",
            TextFunctions.portableRound(col("value"), 4))
        val batch = ev.filter(col("event_id") % 2 === 0)
          .select(col("event_id"), col("event_type"),
            TextFunctions.portableRound(col("value") * 2, 4).as("value"),
            lit("rescored").as("quality"))
        MergeUpsert.merge(base, batch, Seq("event_id"),
            evolveSchema = true)
          .select("event_id", "event_type", "value", "quality")
          .orderBy("event_id")
      }),

    // ---- PCA projection from the STORED component (the x115-family
    //      pattern: train at write time, probe at read time): publish
    //      x147's component through the versioned store, read it back,
    //      project every embedding with the same ordered float fold
    //      the oracle replays. The whitening/drift read path ----
    Q("x151_pca_store_project", Some(pcaProjectSql),
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val store = tmp("graft-pca-store")
        val comp = graft.operators.Pca.topComponent(emb, "embedding",
          qBits = PcaQBits, iters = PcaIters)
        ArtifactStore.publish(s, store, comp)
        ArtifactStore.publish(s, store, comp) // supersede: flip to v2
        val v = ArtifactStore.load(s, store)
        emb.select(col("vec_id"),
            posexplode(col("embedding")).as(Seq("pos", "x")))
          .join(broadcast(v), Seq("pos"))
          .groupBy("vec_id")
          .agg(array_sort(collect_list(struct(col("pos"),
            (col("loading") * col("x").cast("double")).as("t"))))
            .as("arr"))
          .select(col("vec_id"),
            TextFunctions.portableRound(
              aggregate(col("arr"), lit(0.0),
                (a, x) => a + x.getField("t")), 4).as("proj"))
          .orderBy("vec_id")
      }),

    // ---- the spark.sql surface: the engine's custom codegen
    //      expressions registered as SQL functions and driven from a
    //      PURE SQL string over a temp view — what a SQL-first user of
    //      this library writes. Oracle = the same stats in DuckDB ----
    Q("x152_sql_surface", Some(
      s"""SELECT doc_id,
         |  CAST(len(${tokSql("text")}) AS BIGINT) AS n_tok,
         |  CAST(list_sum(list_transform(generate_series(0, 31), b ->
         |    CASE WHEN list_sum(list_transform(hashes,
         |      h -> CASE WHEN ((h >> b) & 1) = 1 THEN 1 ELSE -1 END)) > 0
         |    THEN 1::BIGINT << b ELSE 0::BIGINT END)) AS BIGINT) AS simhash
         |FROM (SELECT doc_id, text,
         |  list_transform(${tokSql("text")},
         |    t -> ${h60Sql("t", 4294967296L)}) AS hashes
         |FROM documents) ORDER BY doc_id""".stripMargin),
      (s, dir) => {
        graft.plans.GraftExtensions.registerAll(s)
        t(s, dir, "documents").createOrReplaceTempView("g_documents")
        s.sql(
          """SELECT doc_id,
            |  graft_token_stats(text).n_tok AS n_tok,
            |  CASE WHEN graft_simhash_sig(text) = -1 THEN CAST(0 AS BIGINT)
            |       ELSE graft_simhash_sig(text) END AS simhash
            |FROM g_documents ORDER BY doc_id""".stripMargin)
      }),

    // ---- Unicode script-mix profile: per-script character counts
    //      from shared \x{...} range classes (the one spelling both
    //      regex engines read identically) + first-match-wins dominant
    //      script. The langid complement that catches mixed-script
    //      spam and mislabeled CJK; planted non-Latin rows keep the
    //      Latin-dominated natural corpus non-vacuous ----
    Q("x153_script_mix", Some({
      val counts = TextFunctions.scriptRanges.map { case (name, cls) =>
        s"CAST(len(regexp_extract_all(text, '$cls')) AS BIGINT) AS n_$name"
      }.mkString(",\n  ")
      val names = TextFunctions.scriptRanges.map(_._1)
      val dom = names.zipWithIndex.map { case (n, i) =>
        val geq = names.drop(i + 1).map(o => s"n_$n >= n_$o")
        ((s"n_$n > 0" +: geq).mkString(" AND "), n)
      }.map { case (cond, n) => s"WHEN $cond THEN '$n'" }.mkString(" ")
      s"""WITH u AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL SELECT * FROM (VALUES $ScriptDocsSqlValues)),
         |c AS (
         |  SELECT doc_id,
         |  $counts,
         |  CAST(len(regexp_extract_all(text, '[^\\s]')) AS BIGINT)
         |    AS n_nonspace
         |  FROM u)
         |SELECT doc_id, n_latin, n_cyrillic, n_cjk, n_digit, n_nonspace,
         |  CASE $dom ELSE 'other' END AS dominant
         |FROM c ORDER BY doc_id""".stripMargin
    }),
      (s, dir) => {
        val session = s
        import session.implicits._
        val cs = TextFunctions.scriptCounts(col("text"))
        val names = TextFunctions.scriptRanges.map(_._1)
        // first-match-wins CASE in scriptRanges order, mirroring the
        // oracle's WHEN chain exactly
        val dom = names.zipWithIndex.foldRight(lit("other")) {
          case ((n, i), alt) =>
            val cond = names.drop(i + 1).foldLeft(col(s"n_$n") > 0)(
              (acc, o) => acc && col(s"n_$n") >= col(s"n_$o"))
            when(cond, lit(n)).otherwise(alt)
        }
        t(s, dir, "documents").select("doc_id", "text")
          .unionByName(ScriptDocs.toDF("doc_id", "text"))
          .select(col("doc_id") +:
            cs.map { case (n, c) => c.cast("long").as(s"n_$n") }: _*)
          .withColumn("dominant", dom)
          .select(col("doc_id"), col("n_latin"), col("n_cyrillic"),
            col("n_cjk"), col("n_digit"), col("n_nonspace"),
            col("dominant"))
          .orderBy("doc_id")
      }),

    // ---- embedding health audit: the vector-side data-quality gate
    //      (NaN/Inf components, zero vectors, dimension drift, norm
    //      distribution) a pipeline runs BEFORE building any index —
    //      an index over broken vectors fails silently, this fails
    //      loudly. Exact integer counts + quantized norm stats ----
    Q("x154_embedding_health", Some(
      """WITH st AS (
        |  SELECT vec_id, len(embedding) AS dim,
        |    len(list_filter(embedding,
        |      x -> isnan(CAST(x AS DOUBLE)) OR isinf(CAST(x AS DOUBLE))))
        |      AS n_bad,
        |    list_sum(list_transform(embedding,
        |      x -> CAST(floor(CAST(x AS DOUBLE) * 1024.0 + 0.5)
        |        AS BIGINT)
        |      * CAST(floor(CAST(x AS DOUBLE) * 1024.0 + 0.5) AS BIGINT)))
        |      AS norm2q
        |  FROM embeddings)
        |SELECT CAST(count(*) AS BIGINT) AS n_vecs,
        |  CAST(count(DISTINCT dim) AS BIGINT) AS n_dims_seen,
        |  CAST(sum(CASE WHEN n_bad > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_with_nan_inf,
        |  CAST(sum(CASE WHEN norm2q = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_zero,
        |  CAST(min(norm2q) AS BIGINT) AS min_norm2q,
        |  CAST(max(norm2q) AS BIGINT) AS max_norm2q
        |FROM st""".stripMargin),
      (s, dir) => {
        val q = lit((1L << KCenterQBits).toDouble)
        val xd = col("x").cast("double")
        val qq = floor(xd * q + lit(0.5)).cast("long")
        t(s, dir, "embeddings")
          .select(col("vec_id"), size(col("embedding")).as("dim"),
            size(filter(col("embedding"),
              x => isnan(x.cast("double")) ||
                abs(x.cast("double")) === lit(Double.PositiveInfinity)))
              .as("n_bad"),
            aggregate(
              transform(col("embedding"),
                x => {
                  val v = floor(x.cast("double") * q + lit(0.5)).cast("long")
                  v * v
                }),
              lit(0L), (acc, v) => acc + v).as("norm2q"))
          .agg(count(lit(1)).as("n_vecs"),
            countDistinct(col("dim")).as("n_dims_seen"),
            sum(when(col("n_bad") > 0, 1L).otherwise(0L))
              .as("n_with_nan_inf"),
            sum(when(col("norm2q") === 0L, 1L).otherwise(0L)).as("n_zero"),
            min(col("norm2q")).as("min_norm2q"),
            max(col("norm2q")).as("max_norm2q"))
      }),

    // ---- the flagship star join as an oracle-checked catalog row:
    //      lineitem ⋈ orders ⋈ customer ⋈ nation ⋈ region with
    //      broadcast dims and partial-agg-friendly grouping (what
    //      SparkEntry.entry smoke-runs, now hash-verified) ----
    Q("x155_star_join", Some(
      """SELECT r.r_name AS region,
        |  CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount)
        |    * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS rev_cents,
        |  CAST(count(DISTINCT o.o_orderkey) AS BIGINT) AS n_orders
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |GROUP BY r.r_name ORDER BY region""".stripMargin),
      (s, dir) => t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name").as("region"))
        .agg(sum(floor(col("l_extendedprice") *
            (lit(1.0) - col("l_discount")) * lit(100.0) + lit(0.5)))
          .as("rev_cents"),
          countDistinct(col("o_orderkey")).as("n_orders"))
        .orderBy("region")),

    // ---- incremental Bloom dedup ledger: FIXED-SIZE (8 KB) mergeable
    //      "have we ingested this key" state through the versioned
    //      store — batches OR-merge in (any order = from-scratch
    //      union), each batch probes the ledger BEFORE merging.
    //      Redelivered rows are flagged; deterministic FPs replay in
    //      the oracle because the position math is shared ----
    Q("x156_bloom_ledger", Some(bloomLedgerSql),
      (s, dir) => {
        val session = s
        import session.implicits._
        val ev = ReferenceCatalog.events(s, dir).select(col("event_id"))
        val store = tmp("graft-bloom-ledger")
        var ledger = BloomFilter.emptyBitmap(s, BloomM)
        val rows = (0 until LedgerBatches).map { b =>
          val batch = ev.filter(col("event_id") % 4 === b ||
            col("event_id") % 4 === 3)
          val probed = BloomFilter.probeKeysPortable(batch, "event_id",
            ledger, BloomM, BloomK)
            .agg(count(lit(1)).as("n"),
              sum(when(col("seen"), 1L).otherwise(0L)).as("d")).head()
          // merge the batch in and publish the new ledger version —
          // the read-back keeps the loop honest about the store
          val merged = ledger.crossJoin(
              BloomFilter.keyBloomPortable(batch, "event_id",
                BloomM, BloomK).select(col("bitmap").as("b2")))
            .select(BloomFilter.mergeBitmaps(col("bitmap"), col("b2"))
              .as("bitmap"))
          ArtifactStore.publish(s, store, merged)
          ledger = ArtifactStore.load(s, store)
          (b, probed.getLong(0), probed.getLong(1))
        }
        rows.toDF("batch_id", "n_rows", "n_dup_flagged")
          .orderBy("batch_id")
      }),

    // ---- sentence-aware chunk packing (the RAG/pre-training splitter
    //      that respects sentence boundaries): portable sentence
    //      segmentation, per-doc running token sums, chunk = start
    //      offset div budget (the packSequences model at sentence
    //      grain) ----
    Q("x157_sentence_chunks", Some(
      s"""WITH ss AS (
         |  SELECT doc_id, regexp_extract_all(text, '[^.!?]+[.!?]*') AS l
         |  FROM documents),
         |se AS (
         |  SELECT doc_id, i AS sidx, l[i] AS sent
         |  FROM ss, unnest(generate_series(1, len(l))) AS u(i)),
         |tk AS (
         |  SELECT doc_id, sidx,
         |    CAST(len(${tokSql("sent")}) AS BIGINT) AS n_tok
         |  FROM se),
         |nz AS (SELECT * FROM tk WHERE n_tok > 0),
         |cm AS (
         |  SELECT doc_id, sidx, n_tok,
         |    sum(n_tok) OVER (PARTITION BY doc_id ORDER BY sidx) AS cum
         |  FROM nz)
         |SELECT doc_id,
         |  CAST((cum - n_tok) // $SentChunkBudget AS BIGINT) AS chunk_id,
         |  CAST(count(*) AS BIGINT) AS n_sentences,
         |  CAST(sum(n_tok) AS BIGINT) AS n_tokens
         |FROM cm GROUP BY doc_id, (cum - n_tok) // $SentChunkBudget
         |ORDER BY doc_id, chunk_id""".stripMargin),
      (s, dir) => Chunking.sentenceChunks(t(s, dir, "documents"),
        "doc_id", "text", SentChunkBudget)
        .orderBy("doc_id", "chunk_id")),

    // ---- skew-proof per-group top-k (two-phase salted ranking):
    //      phase 1 ranks within (group, salt) so a corpus-dominating
    //      group spreads over `salts` tasks; phase 2 ranks the
    //      ≤ salts·k survivors. EXACT — the true top-k is a subset of
    //      the per-shard top-k union. Oracle = the plain one-window
    //      ranking ----
    Q("x158_salted_topk", Some(
      s"""WITH ${classifierCtes("documents")},
         |j AS (
         |  SELECT d.source, d.doc_id, cp.cls_prob AS prob
         |  FROM documents d JOIN cp USING (doc_id)),
         |r AS (
         |  SELECT source, doc_id, prob,
         |    CAST(row_number() OVER (PARTITION BY source
         |      ORDER BY prob DESC, doc_id) AS INT) AS rn
         |  FROM j)
         |SELECT source, rn, doc_id, prob FROM r WHERE rn <= 3
         |ORDER BY source, rn""".stripMargin),
      (s, dir) => Salting.saltedTopK(
        t(s, dir, "documents").select(col("doc_id"), col("source"),
          TextFunctions.classifierProb(col("text")).as("prob")),
        "source", "doc_id", "prob", k = 3)
        .select("source", "rn", "doc_id", "prob")
        .orderBy("source", "rn")),

    // ---- time-decayed engagement: recency weighting as EXACT integer
    //      arithmetic (weight = 2^20 >> age-halflives — no pow, no
    //      float sums, mergeable longs; the feature-engineering shape
    //      incremental stores can maintain) ----
    Q("x159_decayed_engagement", Some(
      """WITH mx AS (SELECT max(ts) AS m FROM events),
        |a AS (
        |  SELECT event_type,
        |    least(greatest(
        |      ((epoch_us(mx.m) - epoch_us(ts)) // 86400000000) // 7,
        |      0), 40) AS sh
        |  FROM events CROSS JOIN mx)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(1048576 >> sh) AS BIGINT) AS decayed_q
        |FROM a GROUP BY event_type ORDER BY event_type""".stripMargin),
      (s, dir) => {
        val ev = ReferenceCatalog.events(s, dir)
        // one scalar job parameterizing the plan (the k-means pattern)
        val refUs = ev.agg(max(unix_micros(col("ts")))).head().getLong(0)
        Funnels.decayedCounts(ev, "event_type", "ts", refUs,
          halflifeDays = 7).orderBy("event_type")
      }),

    // ---- first-order Markov transitions over per-user event
    //      sequences: P(next | current) from one window per user,
    //      exact integer counts, one rounded division — the "what do
    //      users do after X" behavioral matrix ----
    Q("x160_markov_transitions", Some(
      """WITH p AS (
        |  SELECT lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS f,
        |    event_type AS t
        |  FROM events),
        |c AS (
        |  SELECT f AS from_type, t AS to_type,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM p WHERE f IS NOT NULL GROUP BY f, t),
        |tt AS (
        |  SELECT from_type, CAST(sum(n) AS BIGINT) AS tot
        |  FROM c GROUP BY from_type)
        |SELECT c.from_type, c.to_type, c.n,
        |  floor(CAST(c.n AS DOUBLE) / CAST(tt.tot AS DOUBLE)
        |    * 10000.0 + 0.5) / 10000.0 AS p
        |FROM c JOIN tt USING (from_type)
        |ORDER BY from_type, to_type""".stripMargin),
      (s, dir) => Funnels.transitionMatrix(ReferenceCatalog.events(s, dir),
        "user_id", "ts", "event_id", "event_type")
        .orderBy("from_type", "to_type")),

    // ---- nearest-class-centroid confusion matrix: "are my labels
    //      separable in embedding space" — every vector assigned to
    //      the nearest per-label mean centroid (no float mean ever
    //      exists: compare Σ(x·n_L − s_L)² normalized by n_L² in ONE
    //      deterministic division), cross-tabbed vs the true label ----
    Q("x161_centroid_confusion", Some(
      """WITH xq AS (
        |  SELECT vec_id, label, list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0 + 0.5)
        |      AS BIGINT)) AS v
        |  FROM embeddings),
        |ex AS (
        |  SELECT vec_id, label, i, v[i] AS x
        |  FROM xq, unnest(generate_series(1, len(v))) AS u(i)),
        |cen AS (
        |  SELECT label AS clabel, i, CAST(sum(x) AS HUGEINT) AS s,
        |    CAST(count(*) AS HUGEINT) AS n
        |  FROM ex GROUP BY label, i),
        |d AS (
        |  SELECT e.vec_id, e.label, c.clabel,
        |    sum((CAST(e.x AS HUGEINT) * c.n - c.s)
        |      * (CAST(e.x AS HUGEINT) * c.n - c.s)) AS dist,
        |    max(c.n) AS n
        |  FROM ex e JOIN cen c ON c.i = e.i
        |  GROUP BY e.vec_id, e.label, c.clabel),
        |a AS (
        |  SELECT vec_id, label, clabel,
        |    row_number() OVER (PARTITION BY vec_id
        |      ORDER BY CAST(dist AS DOUBLE)
        |        / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), clabel)
        |      AS rn
        |  FROM d)
        |SELECT label AS true_label, clabel AS assigned_label,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM a WHERE rn = 1
        |GROUP BY label, clabel ORDER BY true_label, assigned_label"""
        .stripMargin),
      (s, dir) => Similarity.centroidConfusion(t(s, dir, "embeddings"),
        "vec_id", "embedding", "label")
        .orderBy("true_label", "assigned_label")),

    // ---- compression-ratio quality signal (CCNet/Gopher class):
    //      deflate length / raw bytes per doc — boilerplate compresses
    //      far below prose. zlib has no SQL mirror, so the HASH-CHECKED
    //      columns are (a) the distinct-trigram dictionary bound — the
    //      portable compressibility proxy, exact on both engines — and
    //      (b) a per-doc assertion that the REAL in-query deflate
    //      length sits inside deflate's stored-block format bound
    //      (len ≤ raw + 5·⌈raw/65535⌉ + 11, len ≥ 1): the oracle emits
    //      the literal the inequality must produce, so a broken zlib
    //      path hash-mismatches instead of hiding behind `no_oracle`.
    //      The raw ratio itself stays spec-pinned (RedactionSpec) ----
    Q("x163_compress_ratio", Some(
      """SELECT doc_id, raw_bytes, grams_total, grams_distinct,
        |  CASE WHEN grams_total = 0 THEN NULL
        |    ELSE floor(CAST(grams_distinct AS DOUBLE)
        |      / CAST(grams_total AS DOUBLE) * 10000.0 + 0.5) / 10000.0
        |    END AS dict_ratio,
        |  CASE WHEN raw_bytes = 0 THEN NULL ELSE TRUE END
        |    AS deflate_in_bound
        |FROM (
        |  SELECT doc_id,
        |    CAST(strlen(text) AS BIGINT) AS raw_bytes,
        |    CAST(CASE WHEN length(text) = 0 THEN 0
        |      ELSE greatest(length(text) - 2, 1) END AS BIGINT)
        |      AS grams_total,
        |    CAST(CASE WHEN length(text) = 0 THEN 0
        |      ELSE len(list_distinct(list_transform(
        |        generate_series(1, greatest(length(text) - 2, 1)),
        |        i -> text[i : i + 2]))) END AS BIGINT) AS grams_distinct
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin),
      (s, dir) => {
        val raw = octet_length(col("text")).cast("long")
        val total = when(length(col("text")) === 0, lit(0L))
          .otherwise(greatest(length(col("text")).cast("long") - 2L,
            lit(1L)))
        val distinctG = when(length(col("text")) === 0, lit(0L))
          .otherwise(size(org.apache.spark.sql.graft.bridge.column(
            graft.plans.NgramsLong(
              org.apache.spark.sql.graft.bridge.expression(col("text")),
              3))).cast("long"))
        val dl = TextFunctions.deflateLen(col("text"))
        // stored-block format: ≤ 5 header bytes per 65535-byte block
        // plus a constant margin; ≥ 1 byte for non-empty input
        val bound = col("raw_bytes") +
          lit(5L) * ((col("raw_bytes") + lit(65534L)) / lit(65535L))
            .cast("long") +
          lit(11L)
        t(s, dir, "documents")
          .select(col("doc_id"), raw.as("raw_bytes"),
            total.as("grams_total"), distinctG.as("grams_distinct"),
            dl.as("dl"))
          .select(col("doc_id"), col("raw_bytes"), col("grams_total"),
            col("grams_distinct"),
            when(col("grams_total") === 0L, lit(null).cast("double"))
              .otherwise(TextFunctions.portableRound(
                col("grams_distinct").cast("double") /
                  col("grams_total").cast("double"), 4)).as("dict_ratio"),
            when(col("raw_bytes") === 0L, lit(null).cast("boolean"))
              .otherwise(col("dl") >= 1L && col("dl") <= bound)
              .as("deflate_in_bound"))
          .orderBy("doc_id")
      }),

    // ---- pseudo-relevance-feedback query expansion (Rocchio-class
    //      PRF): take the BM25 top-5 docs for the fixed query, score
    //      their vocabulary by feedback-tf · corpus-idf (exact
    //      integers, one division), drop the original query terms,
    //      keep the top-8 expansion candidates — the classic
    //      recall-widening step between first retrieval and re-query ----
    Q("x167_prf_expansion", Some({
      val exclude = Bm25Terms.map(t => s"'$t'").mkString(", ")
      s"""WITH $bm25ScoredSql,
         |top5 AS (
         |  SELECT doc_id FROM (
         |    SELECT doc_id,
         |      row_number() OVER (ORDER BY score DESC, doc_id) AS trn
         |    FROM scored) WHERE trn <= 5),
         |ftk AS (
         |  SELECT unnest(${tokSql("lower(text)")}) AS term
         |  FROM documents JOIN top5 USING (doc_id)),
         |fb AS (
         |  SELECT term, CAST(count(*) AS BIGINT) AS fb_tf
         |  FROM ftk GROUP BY term),
         |atk AS (
         |  SELECT doc_id, unnest(${tokSql("lower(text)")}) AS term
         |  FROM documents),
         |dfq AS (
         |  SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
         |  FROM atk GROUP BY term),
         |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
         |sc AS (
         |  SELECT fb.term, fb.fb_tf, dfq.df,
         |    floor(CAST(fb.fb_tf AS DOUBLE) * (nn.n / CAST(dfq.df AS DOUBLE))
         |      * 10000.0 + 0.5) / 10000.0 AS score
         |  FROM fb JOIN dfq USING (term) CROSS JOIN nn
         |  WHERE fb.term NOT IN ($exclude))
         |SELECT term, fb_tf, df, score, rn FROM (
         |  SELECT *, CAST(row_number() OVER (ORDER BY score DESC, term)
         |    AS INT) AS rn
         |  FROM sc)
         |WHERE rn <= 8 ORDER BY rn""".stripMargin
    }),
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val top5 = TfIdf.bm25TopK(docs, "doc_id", "text", Bm25Terms,
          k = 5, k1 = Bm25K1, b = Bm25B).select("doc_id")
        val fb = docs.join(top5, Seq("doc_id"))
          .select(explode(TextFunctions.tokens(lower(col("text"))))
            .as("term"))
          .groupBy("term").agg(count(lit(1)).as("fb_tf"))
        val dfq = docs.select(col("doc_id"),
            explode(TextFunctions.tokens(lower(col("text")))).as("term"))
          .distinct()
          .groupBy("term").agg(count(lit(1)).as("df"))
        val n = docs.count().toDouble
        val sc = fb.join(dfq, Seq("term"))
          .filter(!col("term").isin(Bm25Terms: _*))
          .select(col("term"), col("fb_tf"), col("df"),
            TextFunctions.portableRound(
              col("fb_tf").cast("double") *
                (lit(n) / col("df").cast("double")), 4).as("score"))
        graft.operators.Ranked.rankBounded(sc, 8,
          Seq(col("score").desc, col("term").asc))
          .orderBy("rn")
      }),

    // ---- the TRAINING MANIFEST capstone: dedup keepers (x18) →
    //      leakage-safe train split (x143) → sequence packing (x42),
    //      reported per source with padding waste — the "end product"
    //      row a pre-training run reads before launching. Rides the
    //      memoized dedup family; the oracle replays all three stages ----
    Q("x166_training_manifest", Some(
      s"""WITH RECURSIVE ${minhashPairsSql()},
         |${neardupClosureSql("documents")},
         |cl AS (
         |  SELECT node AS doc_id, min(label) AS cluster_id
         |  FROM reach GROUP BY node),
         |cb AS (
         |  SELECT doc_id, cluster_id,
         |    ${h60Sql("('split|' || CAST(cluster_id AS VARCHAR))", 10L)} AS b
         |  FROM cl),
         |tr AS (
         |  SELECT d.doc_id, d.source,
         |    CAST(len(${tokSql("d.text")}) AS BIGINT) AS n_tok
         |  FROM documents d JOIN cb USING (doc_id)
         |  WHERE cb.b < 8 AND cb.doc_id = cb.cluster_id),
         |cm AS (
         |  SELECT source, doc_id, n_tok,
         |    sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id)
         |      AS end_tok
         |  FROM tr),
         |sq AS (
         |  SELECT source, doc_id, n_tok,
         |    (end_tok - n_tok) // $TrainSeqLen AS seq_id
         |  FROM cm)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
         |  CAST(count(DISTINCT seq_id) AS BIGINT) AS n_start_seqs,
         |  CAST((sum(n_tok) + ${TrainSeqLen - 1}) // $TrainSeqLen
         |    AS BIGINT) AS n_seqs,
         |  CAST(((sum(n_tok) + ${TrainSeqLen - 1}) // $TrainSeqLen)
         |    * $TrainSeqLen - sum(n_tok) AS BIGINT) AS pad_waste
         |FROM sq GROUP BY source ORDER BY source""".stripMargin),
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val cl = docClusters(s, dir)
        val train = Sampling.leakageSafeSplit(docs, "doc_id",
            cl.select("doc_id", "cluster_id"))
          .join(cl.select(col("doc_id"), col("keep")), Seq("doc_id"))
          .filter(col("split") === "train" && col("keep"))
          .select(col("doc_id"), col("source"),
            size(TextFunctions.tokens(col("text"))).cast("long")
              .as("n_tok"))
        Chunking.packSequences(train, "doc_id", "n_tok", "source",
            TrainSeqLen.toInt)
          .groupBy(col("shard").as("source"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
            countDistinct(col("seq_id")).as("n_start_seqs"))
          .select(col("source"), col("n_docs"), col("n_tokens"),
            col("n_start_seqs"),
            expr(s"(n_tokens + ${TrainSeqLen - 1}) div $TrainSeqLen")
              .as("n_seqs"),
            (expr(s"(n_tokens + ${TrainSeqLen - 1}) div $TrainSeqLen") *
              lit(TrainSeqLen) - col("n_tokens")).as("pad_waste"))
          .orderBy("source")
      }),

    // ---- contrastive triplet mining: anchors/positives from the
    //      VERIFIED near-dup pairs (textual "same meaning" evidence,
    //      x16), negatives from the embedding space (nearest
    //      DIFFERENT-label vector, x101's shape) — the
    //      (anchor, positive, hard-negative) rows a contrastive
    //      embedding trainer consumes. Rides the memoized dedup
    //      family + the doc_id ≡ vec_id alignment the curation
    //      family already uses ----
    Q("x168_triplet_mining", Some(
      s"""WITH ${minhashPairsSql()},
         |${verifiedPairsSql("documents")},
         |anch AS (SELECT DISTINCT id_a AS anchor FROM vp),
         |q AS (
         |  SELECT e.vec_id AS qid, e.label AS qlabel, e.embedding AS qv
         |  FROM embeddings e JOIN anch ON anch.anchor = e.vec_id),
         |sims AS (
         |  SELECT qid, e.vec_id AS eid,
         |    round(
         |      list_sum(list_transform(generate_series(1, len(qv)),
         |        i -> CAST(qv[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))) /
         |      (sqrt(list_sum(list_transform(qv,
         |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
         |       sqrt(list_sum(list_transform(e.embedding,
         |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
         |      4) AS sim
         |  FROM q, embeddings e WHERE e.label <> q.qlabel),
         |neg AS (
         |  SELECT qid, eid AS negative, sim FROM (
         |    SELECT *, row_number() OVER (PARTITION BY qid
         |      ORDER BY sim DESC, eid) AS rn
         |    FROM sims) WHERE rn = 1)
         |SELECT vp.id_a AS anchor, vp.id_b AS positive,
         |  n.negative, n.sim AS neg_sim
         |FROM vp JOIN neg n ON n.qid = vp.id_a
         |ORDER BY anchor, positive""".stripMargin),
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val vp = verifiedPairs(s, dir).select("id_a", "id_b")
        val anchors = vp.select(col("id_a").as("vec_id")).distinct()
        val neg = Similarity.hardNegatives(emb.join(anchors, Seq("vec_id")),
            emb, "vec_id", "embedding", "label", k = 1)
          .select(col("qid").as("id_a"), col("eid").as("negative"),
            col("sim").as("neg_sim"))
        vp.join(neg, Seq("id_a"))
          .select(col("id_a").as("anchor"), col("id_b").as("positive"),
            col("negative"), col("neg_sim"))
          .orderBy("anchor", "positive")
      }),

    // ---- weak-supervision label vote (Snorkel-lite): three noisy
    //      labelers the engine already ships — the heuristic quality
    //      score, the frozen logistic classifier, the Gopher rule
    //      gate — vote per document; majority + unanimity are the
    //      label-model outputs a curation run thresholds on. All
    //      three oracle fragments are the SAME ones x03/x86/x32 use,
    //      so the voters cannot drift from their originals ----
    Q("x165_rule_vote", Some(
      s"""WITH q AS (
         |  SELECT doc_id, $qualityFormulaSql AS quality
         |  FROM (SELECT doc_id, $qualityStatsSql FROM documents)),
         |${classifierCtes("documents")},
         |tk AS (
         |  SELECT doc_id, unnest(${tokSql("text")}) AS t FROM documents),
         |per AS (
         |  SELECT doc_id, t, count(*) AS c FROM tk GROUP BY 1, 2),
         |agg AS (
         |  SELECT doc_id, sum(c) AS n_tok,
         |    floor(sum(length(t) * c) * 1.0 / sum(c) * 10000.0 + 0.5)
         |      / 10000.0 AS mean_tok_len,
         |    floor(max(c) * 1.0 / sum(c) * 10000.0 + 0.5) / 10000.0
         |      AS max_freq_ratio,
         |    floor(sum(CASE WHEN regexp_matches(t, '[A-Za-z]')
         |        THEN c ELSE 0 END) * 1.0 / sum(c) * 10000.0 + 0.5)
         |      / 10000.0 AS alpha_ratio
         |  FROM per GROUP BY doc_id),
         |g AS (
         |  SELECT d.doc_id,
         |    (coalesce(n_tok, 0) BETWEEN 50 AND 100000
         |     AND coalesce(mean_tok_len, 0.0) BETWEEN 3.0 AND 10.0
         |     AND coalesce(max_freq_ratio, 0.0) <= 0.2
         |     AND coalesce(alpha_ratio, 0.0) >= 0.8) AS keep
         |  FROM documents d LEFT JOIN agg USING (doc_id)),
         |v AS (
         |  SELECT q.doc_id,
         |    (q.quality >= 0.5) AS v_quality,
         |    (cp.cls_prob >= 0.5) AS v_classifier,
         |    g.keep AS v_gopher
         |  FROM q JOIN cp USING (doc_id) JOIN g USING (doc_id))
         |SELECT doc_id, v_quality, v_classifier, v_gopher,
         |  CAST((CASE WHEN v_quality THEN 1 ELSE 0 END
         |    + CASE WHEN v_classifier THEN 1 ELSE 0 END
         |    + CASE WHEN v_gopher THEN 1 ELSE 0 END) AS INT) AS n_yes,
         |  ((CASE WHEN v_quality THEN 1 ELSE 0 END
         |    + CASE WHEN v_classifier THEN 1 ELSE 0 END
         |    + CASE WHEN v_gopher THEN 1 ELSE 0 END) >= 2) AS majority
         |FROM v ORDER BY doc_id""".stripMargin),
      (s, dir) => {
        import graft.functions.QualityRules
        t(s, dir, "documents")
          .select(col("doc_id"),
            (TextFunctions.qualityScore(col("text")) >= 0.5)
              .as("v_quality"),
            (TextFunctions.classifierProb(col("text")) >= 0.5)
              .as("v_classifier"),
            QualityRules.gopherKeep(
              QualityRules.tokenStats(col("text"))).as("v_gopher"))
          .withColumn("n_yes",
            (col("v_quality").cast("int") + col("v_classifier").cast("int")
              + col("v_gopher").cast("int")).cast("int"))
          .withColumn("majority", col("n_yes") >= 2)
          .orderBy("doc_id")
      }),

    // ---- URL → registered-domain extraction (web-corpus provenance:
    //      per-domain url/doc counts drive domain caps, blocklists,
    //      and the C4-style per-domain curation levers). Patterns
    //      shared with the PII rules; planted link rows keep the
    //      URL-free natural corpus non-vacuous ----
    Q("x164_url_domains", Some({
      val vals = UrlDocs.map { case (id, t) =>
        s"(CAST($id AS BIGINT), '${t.replace("'", "''")}')"
      }.mkString(",\n    ")
      s"""WITH u AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL SELECT * FROM (VALUES
         |    $vals)),
         |uu AS (
         |  SELECT doc_id, unnest(regexp_extract_all(text,
         |    '${TextFunctions.redactionRules.head._1}')) AS url
         |  FROM u),
         |h AS (
         |  SELECT doc_id,
         |    lower(regexp_extract(url, 'https?://([^/\\s:?#]+)', 1))
         |      AS host
         |  FROM uu),
         |d AS (
         |  SELECT doc_id,
         |    regexp_extract(host, '([^.]+\\.[^.]+)$$', 1) AS domain
         |  FROM h)
         |SELECT domain, CAST(count(*) AS BIGINT) AS n_urls,
         |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
         |FROM d WHERE domain <> ''
         |GROUP BY domain ORDER BY domain""".stripMargin
    }),
      (s, dir) => {
        val session = s
        import session.implicits._
        t(s, dir, "documents").select("doc_id", "text")
          .unionByName(UrlDocs.toDF("doc_id", "text"))
          .select(col("doc_id"),
            explode(regexp_extract_all(col("text"),
              lit(TextFunctions.redactionRules.head._1), lit(0)))
              .as("url"))
          .select(col("doc_id"),
            lower(regexp_extract(col("url"),
              "https?://([^/\\s:?#]+)", 1)).as("host"))
          .select(col("doc_id"),
            regexp_extract(col("host"), "([^.]+\\.[^.]+)$", 1)
              .as("domain"))
          .filter(col("domain") =!= "")
          .groupBy("domain")
          .agg(count(lit(1)).as("n_urls"),
            countDistinct(col("doc_id")).as("n_docs"))
          .orderBy("domain")
      }),

    // ---- incremental zone-map maintenance: each appended GENERATION
    //      cluster-writes its own files and contributes its own
    //      per-file stats rows — the merged map is a UNION (per-file
    //      stats are immutable), so appends never rebuild the index.
    //      Pruning spans generations; oracle = the plain filter ----
    Q("x162_zonemap_incremental", Some(
      s"""SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
         |  CAST(min(CAST(floor(value * 1024.0 + 0.5) AS BIGINT))
         |    AS BIGINT) AS min_vq,
         |  CAST(max(CAST(floor(value * 1024.0 + 0.5) AS BIGINT))
         |    AS BIGINT) AS max_vq
         |FROM events WHERE user_id BETWEEN $ZmLo AND $ZmHi
         |GROUP BY event_type ORDER BY event_type""".stripMargin),
      (s, dir) => {
        val ev = ReferenceCatalog.events(s, dir)
          .select(col("event_id"), col("user_id"), col("event_type"),
            col("value"))
        val base = tmp("graft-zonemap-inc")
        // two arrival generations, each clustered and stat'd on write
        val gens = Seq(
          ev.filter(col("event_id") % 2 === 0) -> s"$base/gen0",
          ev.filter(col("event_id") % 2 === 1) -> s"$base/gen1")
        val zm = gens.map { case (batch, path) =>
          ZoneMap.clusterWrite(batch.drop("event_id"), "user_id",
            ZmFiles / 2, path)
          ZoneMap.stats(s.read.parquet(path), "user_id")
        }.reduce(_ unionByName _)
        val (pruned, report) = ZoneMap.prunedRead(s, zm, "user_id",
          ZmLo, ZmHi)
        require(report.filesKept < report.filesTotal,
          s"incremental zone map pruned nothing: $report")
        pruned.groupBy("event_type")
          .agg(count(lit(1)).as("n_events"),
            min(floor(col("value") * lit(1024.0) + lit(0.5)))
              .as("min_vq"),
            max(floor(col("value") * lit(1024.0) + lit(0.5)))
              .as("max_vq"))
          .orderBy("event_type")
      }),

    // ---- multimodal audio: REAL WAV container round-trip. The payload
    //      builder emits a valid RIFF header + 16-bit PCM derived from
    //      (doc_id, len(text)) by an integer-exact recurrence; the
    //      decoder walks the chunk list and computes duration/RMS from
    //      the BYTES. The oracle recomputes the PCM from the same
    //      recurrence without touching bytes — parity therefore proves
    //      the encode∘decode identity, i.e. the header math and sample
    //      extraction are right, not just self-consistent ----
    Q("x169_audio_features", Some(
      """WITH p AS (
        |  SELECT doc_id, length(text) % 192 + 64 AS n FROM documents)
        |SELECT doc_id, 'audio/wav' AS media_type,
        |  CAST(8000 AS INT) AS sample_rate,
        |  CAST(n AS BIGINT) AS n_samples,
        |  floor(n * 1000.0 / 8000 * 10000.0 + 0.5) / 10000.0
        |    AS duration_ms,
        |  floor(sqrt(list_avg(list_transform(
        |      list_transform(generate_series(0, n - 1),
        |        i -> CAST((doc_id * 2654435761 + i * 40503) % 65536
        |               - 32768 AS DOUBLE)),
        |      x -> x * x))) * 10000.0 + 0.5) / 10000.0 AS rms
        |FROM p ORDER BY doc_id""".stripMargin),
      (s, dir) => Multimodal.decodeAudio(
        Multimodal.withWavPayload(t(s, dir, "documents"), "doc_id", "text"))
        .toDF().orderBy("doc_id")),

    // ---- DoReMi-style domain mixture reweighting (Xie et al. 2023,
    //      reference-free variant): per-source proxy loss = token-
    //      weighted unigram bits-per-token (x67's EXACT tk/g/tot CTEs —
    //      the proxy cannot drift from the original), excess over the
    //      easiest domain, multiplicative-weights update
    //      w_s ∝ share_s · exp(η·excess_s) with η = 1. The final
    //      normalizer folds over a source-SORTED list (the dsirWeights
    //      determinism recipe) — per-source rows are few, but the fold
    //      order must not be engine-chosen ----
    Q("x170_doremi_weights", Some(
      s"""WITH tk AS (
         |  SELECT doc_id, ${h60Sql("t", 1152921504606846976L)} AS h FROM (
         |    SELECT doc_id, unnest(${tokSql("lower(text)")}) AS t
         |    FROM documents)),
         |g AS (SELECT h, count(*) AS cnt FROM tk GROUP BY h),
         |tot AS (
         |  SELECT CAST(coalesce(sum(cnt), 0) AS BIGINT) + count(*) AS tv
         |  FROM g),
         |dc AS (SELECT doc_id, h, count(*) AS c FROM tk GROUP BY doc_id, h),
         |per AS (
         |  SELECT dc.doc_id,
         |    CAST(sum(dc.c) AS BIGINT) AS n_tok,
         |    CAST(sum(CAST(floor(dc.c * log2((g.cnt + 1.0) / tv)
         |      * 1000000.0) AS BIGINT)) AS BIGINT) AS q
         |  FROM dc JOIN g USING (h), tot GROUP BY dc.doc_id),
         |w AS (
         |  SELECT doc_id, n_tok,
         |    floor((0.0 - q / 1000000.0) / n_tok * 10000.0 + 0.5)
         |      / 10000.0 AS bpt
         |  FROM per),
         |sl AS (
         |  SELECT d.source, CAST(sum(w.n_tok) AS BIGINT) AS n_tokens,
         |    floor(sum(w.bpt * w.n_tok) / sum(w.n_tok) * 10000.0 + 0.5)
         |      / 10000.0 AS bits_per_token
         |  FROM w JOIN documents d USING (doc_id)
         |  GROUP BY d.source),
         |mn AS (
         |  SELECT min(bits_per_token) AS minloss,
         |         CAST(sum(n_tokens) AS BIGINT) AS total
         |  FROM sl),
         |u AS (
         |  SELECT source, n_tokens, bits_per_token,
         |    bits_per_token - minloss AS excess,
         |    n_tokens * 1.0 / total AS share,
         |    (n_tokens * 1.0 / total) * exp(bits_per_token - minloss)
         |      AS unnorm
         |  FROM sl, mn),
         |z AS (
         |  SELECT list_reduce(list_prepend(0.0, list_transform(
         |      list_sort(list(struct_pack(s := source, u := unnorm))),
         |      x -> x.u)), (a, b) -> a + b) AS zz
         |  FROM u)
         |SELECT source, n_tokens, bits_per_token,
         |  floor(excess * 10000.0 + 0.5) / 10000.0 AS excess_bits,
         |  floor(share * 10000.0 + 0.5) / 10000.0 AS base_share,
         |  floor(unnorm / zz * 10000.0 + 0.5) / 10000.0 AS weight
         |FROM u, z ORDER BY source""".stripMargin),
      (s, dir) => {
        val docs = t(s, dir, "documents")
        Sampling.doremiWeights(docs,
          CorpusStats.unigramBits(docs, "doc_id", "text"),
          "doc_id", "source").orderBy("source")
      }),

    // ---- audio silence trim (speech-corpus preprocessing): payloads
    //      carry PLANTED leading silence (doc_id mod 32 zero samples);
    //      the trimmer re-walks the RIFF chunks, finds the first/last
    //      |sample| > 8192 by integer compares, and reports the kept
    //      region + its RMS. The oracle recomputes the PCM from the
    //      generator recurrence (x169's contract) — trim indices are
    //      integer-exact, only the kept-region RMS is float ----
    Q("x171_audio_trim", Some(
      """WITH p AS (
        |  SELECT doc_id, length(text) % 192 + 64 AS n, doc_id % 32 AS pre
        |  FROM documents),
        |sl AS (
        |  SELECT doc_id, n,
        |    list_transform(generate_series(0, n - 1),
        |      i -> CASE WHEN i < pre THEN 0
        |           ELSE (doc_id * 2654435761 + i * 40503) % 65536 - 32768
        |           END) AS s
        |  FROM p),
        |ix AS (
        |  SELECT doc_id, n, s,
        |    list_min(list_transform(generate_series(0, n - 1),
        |      i -> CASE WHEN abs(s[i + 1]) > 8192 THEN i END)) AS fi,
        |    list_max(list_transform(generate_series(0, n - 1),
        |      i -> CASE WHEN abs(s[i + 1]) > 8192 THEN i END)) AS la
        |  FROM sl)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_samples,
        |  CAST(coalesce(fi, n) AS BIGINT) AS lead_trimmed,
        |  CAST(CASE WHEN fi IS NULL THEN 0 ELSE n - 1 - la END AS BIGINT)
        |    AS trail_trimmed,
        |  CAST(CASE WHEN fi IS NULL THEN 0 ELSE la - fi + 1 END AS BIGINT)
        |    AS kept_samples,
        |  CASE WHEN fi IS NULL THEN 0.0 ELSE
        |    floor((la - fi + 1) * 1000.0 / 8000 * 10000.0 + 0.5)
        |      / 10000.0 END AS kept_ms,
        |  CASE WHEN fi IS NULL THEN 0.0 ELSE
        |    floor(sqrt(list_avg(list_transform(
        |        list_transform(generate_series(fi, la),
        |          i -> CAST(s[i + 1] AS DOUBLE)), x -> x * x)))
        |      * 10000.0 + 0.5) / 10000.0 END AS rms_kept
        |FROM ix ORDER BY doc_id""".stripMargin),
      (s, dir) => Multimodal.trimSilence(
        Multimodal.withWavPayload(t(s, dir, "documents"), "doc_id", "text",
          silencePrefixMod = 32), threshold = 8192)
        .toDF().orderBy("doc_id")),

    // ---- exact distributed quartiles by value histogram: the third
    //      quantile design point next to x47's two (exact-but-buffering
    //      percentile, approx GK sketch) — state per group is one row
    //      per DISTINCT value, the selection rule is pure integer
    //      compares (cum·4 ≥ n etc.), and every stage is a hash agg or
    //      group-partitioned window. The right exact-quantile shape at
    //      100 TB for discrete values like token counts ----
    Q("x172_hist_quantiles", Some(
      s"""WITH t AS (
         |  SELECT source, len(${tokSql("text")}) AS v FROM documents),
         |n AS (SELECT source, CAST(count(*) AS BIGINT) AS n
         |      FROM t GROUP BY source),
         |h AS (SELECT source, v, count(*) AS c FROM t GROUP BY source, v),
         |cum AS (
         |  SELECT source, v,
         |    sum(c) OVER (PARTITION BY source ORDER BY v) AS cum
         |  FROM h)
         |SELECT source, n,
         |  CAST(min(CASE WHEN cum * 4 >= n THEN v END) AS BIGINT) AS q25,
         |  CAST(min(CASE WHEN cum * 2 >= n THEN v END) AS BIGINT) AS q50,
         |  CAST(min(CASE WHEN cum * 4 >= n * 3 THEN v END) AS BIGINT)
         |    AS q75
         |FROM cum JOIN n USING (source) GROUP BY source, n
         |ORDER BY source""".stripMargin),
      (s, dir) => CorpusStats.histQuantiles(
        t(s, dir, "documents").select(col("source"),
          size(TextFunctions.tokens(col("text"))).cast("long").as("n_tok")),
        "source", "n_tok").orderBy("source")),

    // ---- 2:1 audio decimation ([1 2 1]/4 smoothing kernel): the
    //      resample step before a lower-rate speech model. The kernel
    //      is INTEGER-exact end to end — edge-clamped taps, truncating
    //      division (JVM `/` and SQL integer division agree toward
    //      zero) — so the oracle replays it tap by tap from the x169
    //      recurrence; only the final RMS is float ----
    Q("x173_audio_decimate", Some(
      """WITH p AS (
        |  SELECT doc_id, length(text) % 192 + 64 AS n FROM documents),
        |sl AS (
        |  SELECT doc_id, n,
        |    list_transform(generate_series(0, n - 1),
        |      i -> (doc_id * 2654435761 + i * 40503) % 65536 - 32768)
        |      AS s
        |  FROM p),
        |y AS (
        |  SELECT doc_id, n, (n + 1) // 2 AS m,
        |    list_transform(generate_series(0, (n + 1) // 2 - 1),
        |      j -> (s[greatest(2 * j, 1)] + 2 * s[2 * j + 1] +
        |            s[least(2 * j + 2, n)]) // 4) AS ys
        |  FROM sl)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_in,
        |  CAST(m AS BIGINT) AS n_out,
        |  CAST(4000 AS INT) AS rate_out,
        |  floor(sqrt(list_avg(list_transform(
        |      list_transform(ys, v -> CAST(v AS DOUBLE)), x -> x * x)))
        |    * 10000.0 + 0.5) / 10000.0 AS rms_out
        |FROM y ORDER BY doc_id""".stripMargin),
      (s, dir) => Multimodal.decimateAudio(
        Multimodal.withWavPayload(t(s, dir, "documents"), "doc_id", "text"))
        .toDF().orderBy("doc_id")),

    // ---- quality-greedy token-budget curation (the data-constrained-
    //      scaling step: spend 2/5 of the corpus's tokens on the
    //      best-scored docs, report what the mix became). Granularity
    //      is the quality CLASS — distinct 4-dp scores admitted whole,
    //      best first, the overflowing class dropped entirely — so no
    //      per-document global ordering exists. The class prefix sum is
    //      two-level (within-first-decimal-bucket window + bucket-totals
    //      self-join): state bounded by score cardinality, no
    //      single-partition window. NULL scores are never admitted
    //      (null-rejecting equality join, mirrored by USING (q)) ----
    Q("x174_token_budget", Some(
      s"""WITH sc AS (
         |  SELECT doc_id, source, $qualityFormulaSql AS q,
         |    CAST(n_tok AS BIGINT) AS nt
         |  FROM (SELECT doc_id, source, $qualityStatsSql FROM documents)),
         |bud AS (SELECT (sum(nt) * 2) // 5 AS budget FROM sc),
         |cls AS (SELECT q, sum(nt) AS ct FROM sc GROUP BY q),
         |bkt AS (SELECT q, ct, CAST(floor(q * 10) AS INT) AS b FROM cls),
         |inb AS (
         |  SELECT q, b, sum(ct) OVER (PARTITION BY b ORDER BY q DESC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_in
         |  FROM bkt),
         |btot AS (SELECT b, sum(ct) AS bt FROM bkt GROUP BY b),
         |abv AS (
         |  SELECT lo.b AS b, coalesce(sum(hi.bt), 0) AS above
         |  FROM btot lo LEFT JOIN btot hi ON hi.b > lo.b GROUP BY lo.b),
         |keepq AS (
         |  SELECT q FROM inb JOIN abv USING (b), bud
         |  WHERE cum_in + above <= bud.budget)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(nt) AS BIGINT) AS n_tokens
         |FROM sc JOIN keepq USING (q)
         |GROUP BY source ORDER BY source""".stripMargin),
      (s, dir) => {
        val scored = t(s, dir, "documents").select(col("doc_id"),
          col("source"),
          TextFunctions.qualityScore(col("text")).as("quality"),
          size(TextFunctions.tokens(col("text"))).cast("long").as("n_tok"))
        Sampling.tokenBudget(scored, "doc_id", "source", "quality",
          "n_tok")
      }),

    // ---- entity resolution via sorted-neighborhood blocking (SNM,
    //      Hernández & Stolfo): the dedup family's structured-records
    //      sibling — candidates are O(n·window) inside nation blocks,
    //      never all-pairs; a Fellegi–Sunter-style additive score over
    //      (name edit distance, balance delta, segment equality)
    //      decides matches. Planted dirty twins (last name char →
    //      'x', balance +1.5) keep the clean synthetic table
    //      non-vacuous ----
    Q("x175_entity_resolution", Some(
      s"""WITH cust AS (
         |  SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
         |  FROM customer
         |  UNION ALL
         |  SELECT -c_custkey, substr(c_name, 1, length(c_name) - 1) || 'x',
         |    c_nationkey, c_acctbal + 1.5, c_mktsegment
         |  FROM customer WHERE c_custkey % $SnmDirtyMod = 0),
         |b AS (
         |  SELECT c_custkey AS id, c_nationkey AS blk,
         |    lower(trim(c_name)) AS nm, c_acctbal AS bal,
         |    c_mktsegment AS seg,
         |    row_number() OVER (PARTITION BY c_nationkey
         |      ORDER BY lower(trim(c_name)), c_custkey) AS rk
         |  FROM cust),
         |cand AS (
         |  SELECT l.id AS id_l, r.id AS id_r, l.nm AS nm_l, r.nm AS nm_r,
         |    l.bal AS bal_l, r.bal AS bal_r, l.seg AS seg_l, r.seg AS seg_r
         |  FROM b l JOIN b r
         |    ON l.blk = r.blk AND r.rk - l.rk BETWEEN 1 AND $SnmWindow),
         |sc AS (
         |  SELECT least(id_l, id_r) AS id_a, greatest(id_l, id_r) AS id_b,
         |    CAST(levenshtein(nm_l, nm_r) AS INT) AS name_dist,
         |    floor(abs(bal_l - bal_r) * 100.0 + 0.5) / 100.0 AS bal_diff,
         |    (seg_l = seg_r) AS same_seg,
         |    (CASE WHEN levenshtein(nm_l, nm_r) <= 2 THEN 2.0 ELSE 0.0 END
         |     + CASE WHEN abs(bal_l - bal_r) <= 5.0 THEN 1.5 ELSE 0.0 END
         |     + CASE WHEN seg_l = seg_r THEN 0.5 ELSE 0.0 END) AS score
         |  FROM cand)
         |SELECT id_a, id_b, name_dist, bal_diff, same_seg,
         |  CAST(score AS DOUBLE) AS score
         |FROM sc WHERE score >= 3.0 ORDER BY id_a, id_b""".stripMargin),
      (s, dir) => {
        val c = t(s, dir, "customer")
        val dirty = c.filter(col("c_custkey") % SnmDirtyMod === 0)
          .select((-col("c_custkey")).as("c_custkey"),
            concat(expr("substr(c_name, 1, length(c_name) - 1)"),
              lit("x")).as("c_name"),
            col("c_nationkey"),
            (col("c_acctbal") + lit(1.5)).as("c_acctbal"),
            col("c_mktsegment"))
        EntityResolution.sortedNeighborhood(
          c.select("c_custkey", "c_name", "c_nationkey", "c_acctbal",
            "c_mktsegment").unionByName(dirty),
          "c_custkey", "c_nationkey", "c_name", "c_acctbal",
          "c_mktsegment", window = SnmWindow)
      }),

    // ---- classifier calibration: reliability bins + expected
    //      calibration error of the frozen quality classifier against
    //      the Gopher rule gate as truth — the "can I trust 0.8 to
    //      mean 80%" dashboard a threshold-based curation run needs
    //      before picking its cut. Voters are the x86/x32 fragments ----
    Q("x176_calibration_report", Some(
      s"""WITH ${classifierCtes("documents")},
         |${gopherKeepCtes("documents")},
         |j AS (
         |  SELECT cp.doc_id, cp.cls_prob,
         |    CASE WHEN g.keep THEN 1 ELSE 0 END AS y
         |  FROM cp JOIN g USING (doc_id)),
         |pb AS (
         |  SELECT least(CAST(floor(cls_prob * $CalBins) AS INT),
         |      ${CalBins - 1}) AS bin,
         |    CAST(floor(cls_prob * 10000.0 + 0.5) AS BIGINT) AS pq, y
         |  FROM j),
         |per AS (
         |  SELECT bin, CAST(count(*) AS BIGINT) AS n, sum(pq) AS spq,
         |    CAST(sum(y) AS BIGINT) AS n_pos
         |  FROM pb GROUP BY bin),
         |br AS (
         |  SELECT bin, n, n_pos,
         |    floor(CAST(spq AS DOUBLE) / (CAST(n AS DOUBLE) * 10000.0)
         |      * 10000.0 + 0.5) / 10000.0 AS mean_prob,
         |    floor(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE)
         |      * 10000.0 + 0.5) / 10000.0 AS frac_pos
         |  FROM per),
         |bg AS (
         |  SELECT bin, n, n_pos, mean_prob, frac_pos,
         |    floor(abs(mean_prob - frac_pos) * 10000.0 + 0.5) / 10000.0
         |      AS gap
         |  FROM br),
         |e AS (
         |  SELECT floor(list_reduce(list_prepend(0.0, list_transform(
         |      list_sort(list(struct_pack(bin := bin,
         |        w := CAST(n AS DOUBLE) * gap))),
         |      s -> s.w)), (a, x) -> a + x)
         |    / CAST(sum(n) AS DOUBLE) * 10000.0 + 0.5) / 10000.0 AS ece
         |  FROM bg)
         |SELECT CAST(bin AS INT) AS bin, n, n_pos, mean_prob, frac_pos,
         |  gap, ece
         |FROM bg, e ORDER BY bin""".stripMargin),
      (s, dir) => {
        import graft.functions.QualityRules
        val scored = t(s, dir, "documents").select(col("doc_id"),
          TextFunctions.classifierProb(col("text")).as("cls_prob"),
          QualityRules.gopherKeep(
            QualityRules.tokenStats(col("text"))).as("keep"))
        LabelQuality.calibrationReport(scored, "cls_prob", "keep",
          bins = CalBins)
      }),

    // ---- Cohen's κ between the two noisy labelers x165 votes with
    //      (heuristic quality vs frozen classifier): chance-corrected
    //      agreement, the gate on whether a label-model vote means
    //      anything. One exact-integer pass to the 2×2 table ----
    Q("x177_kappa_agreement", Some(
      s"""WITH q AS (
         |  SELECT doc_id, $qualityFormulaSql AS quality
         |  FROM (SELECT doc_id, $qualityStatsSql FROM documents)),
         |${classifierCtes("documents")},
         |ab AS (
         |  SELECT CASE WHEN q.quality >= 0.5 THEN 1 ELSE 0 END AS a,
         |    CASE WHEN cp.cls_prob >= 0.5 THEN 1 ELSE 0 END AS b
         |  FROM q JOIN cp USING (doc_id)),
         |tb AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(a * b) AS BIGINT) AS n11,
         |    CAST(sum((1 - a) * (1 - b)) AS BIGINT) AS n00,
         |    CAST(sum(a * (1 - b)) AS BIGINT) AS n10,
         |    CAST(sum((1 - a) * b) AS BIGINT) AS n01
         |  FROM ab),
         |raw AS (
         |  SELECT n, n11, n00, n10, n01,
         |    CAST(n11 + n00 AS DOUBLE) / CAST(n AS DOUBLE) AS po_raw,
         |    (CAST((n11 + n10) * (n11 + n01) AS DOUBLE)
         |     + CAST((n00 + n01) * (n00 + n10) AS DOUBLE))
         |      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS pe_raw
         |  FROM tb)
         |SELECT n, n11, n00, n10, n01,
         |  floor(po_raw * 10000.0 + 0.5) / 10000.0 AS po,
         |  floor(pe_raw * 10000.0 + 0.5) / 10000.0 AS pe,
         |  floor((CASE WHEN pe_raw = 1.0 THEN 0.0
         |      ELSE (po_raw - pe_raw) / (1.0 - pe_raw) END + 1000.0)
         |    * 10000.0 + 0.5) / 10000.0 - 1000.0 AS kappa
         |FROM raw""".stripMargin),
      (s, dir) => {
        val scored = t(s, dir, "documents").select(
          (TextFunctions.qualityScore(col("text")) >= 0.5).as("va"),
          (TextFunctions.classifierProb(col("text")) >= 0.5).as("vb"))
        LabelQuality.cohenKappa(scored, "va", "vb")
      }),

    // ---- margin-based pair mining (Artetxe & Schwenk, the
    //      LASER/CCMatrix bitext criterion): label parity splits the
    //      embedding corpus into two "sides"; each left row's best
    //      partner is scored by cosine RELATIVE to both rows' local
    //      top-k level, killing hub matches a raw cosine would accept.
    //      Exact all-pairs baseline — at scale the same margin math
    //      runs over ANN candidates (x17/x12) ----
    Q("x178_margin_pair_mining", Some({
      val cos = (av: String, bv: String) =>
        s"""CASE WHEN sqrt(list_sum(list_transform($av, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
           |       sqrt(list_sum(list_transform($bv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) = 0.0
           |      THEN 0.0 ELSE round(
           |      list_sum(list_transform(generate_series(1, len($av)),
           |        i -> CAST($av[i] AS DOUBLE) * CAST($bv[i] AS DOUBLE))) /
           |      (sqrt(list_sum(list_transform($av, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
           |       sqrt(list_sum(list_transform($bv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
           |      4) END""".stripMargin
      s"""WITH aa AS (
         |  SELECT vec_id AS aid, embedding AS av FROM embeddings
         |  WHERE label % 2 = 0 AND vec_id < $MarginBatch),
         |bb AS (
         |  SELECT vec_id AS bid, embedding AS bv FROM embeddings
         |  WHERE label % 2 = 1),
         |sims AS (
         |  SELECT aid, bid, ${cos("av", "bv")} AS sim
         |  FROM aa, bb),
         |ka AS (
         |  SELECT aid,
         |    CAST(sum(CAST(floor(sim * 10000.0 + 0.5) AS BIGINT))
         |      AS DOUBLE) / (CAST(count(*) AS DOUBLE) * 10000.0) AS avg_a
         |  FROM (SELECT aid, sim, row_number() OVER (PARTITION BY aid
         |      ORDER BY sim DESC, bid) AS rn FROM sims)
         |  WHERE rn <= $MarginK GROUP BY aid),
         |kb AS (
         |  SELECT bid,
         |    CAST(sum(CAST(floor(sim * 10000.0 + 0.5) AS BIGINT))
         |      AS DOUBLE) / (CAST(count(*) AS DOUBLE) * 10000.0) AS avg_b
         |  FROM (SELECT bid, sim, row_number() OVER (PARTITION BY bid
         |      ORDER BY sim DESC, aid) AS rn FROM sims)
         |  WHERE rn <= $MarginK GROUP BY bid),
         |scq AS (
         |  SELECT s.aid, s.bid, s.sim,
         |    floor((CASE WHEN (ka.avg_a + kb.avg_b) / 2.0 = 0.0 THEN 0.0
         |        ELSE s.sim / ((ka.avg_a + kb.avg_b) / 2.0) END + 1000.0)
         |      * 10000.0 + 0.5) / 10000.0 - 1000.0 AS margin
         |  FROM sims s JOIN ka USING (aid) JOIN kb USING (bid))
         |SELECT aid, bid, sim, margin FROM (
         |  SELECT *, row_number() OVER (PARTITION BY aid
         |    ORDER BY margin DESC, bid) AS rn FROM scq)
         |WHERE rn = 1 ORDER BY aid""".stripMargin
    }),
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        Similarity.marginPairs(
          emb.filter(col("label") % 2 === 0 &&
            col("vec_id") < MarginBatch),
          emb.filter(col("label") % 2 === 1),
          "vec_id", "embedding", k = MarginK)
      }),

    // ---- Shazam-style audio fingerprint dedup: landmark hashes
    //      (peak-pair constellation over exact frame energies) from
    //      the REAL decoded PCM, hash-bucket join, shared-landmark
    //      count per track pair. Planted byte-identical re-uploads
    //      (negative ids, abs-seed PCM) are the dup class; the oracle
    //      recomputes everything from the x169 sample recurrence, so
    //      parity again proves decode∘fingerprint end to end ----
    Q("x179_audio_fingerprint", Some(
      s"""WITH d0 AS (
         |  SELECT doc_id, length(text) % 192 + 64 AS n FROM documents),
         |dd AS (
         |  SELECT doc_id, n FROM d0
         |  UNION ALL
         |  SELECT -doc_id, n FROM d0 WHERE doc_id % $FpDupMod = 0),
         |pcm AS (
         |  SELECT doc_id, list_transform(generate_series(0, n - 1),
         |    i -> CAST((abs(doc_id) * 2654435761 + i * 40503) % 65536
         |           - 32768 AS BIGINT)) AS s
         |  FROM dd),
         |es AS (
         |  SELECT doc_id, list_transform(
         |    generate_series(0, (len(s) // $FpFrame) - 1),
         |    f -> CAST(list_sum(list_transform(
         |      s[f * $FpFrame + 1 : f * $FpFrame + $FpFrame],
         |      x -> x * x)) AS BIGINT)) AS e
         |  FROM pcm WHERE len(s) // $FpFrame >= 1),
         |pk AS (
         |  SELECT doc_id, e,
         |    list_filter(generate_series(1, len(e) - 2),
         |      p -> e[p + 1] > e[p] AND e[p + 1] > e[p + 2]) AS pk
         |  FROM es WHERE len(e) >= 3),
         |lm AS (
         |  SELECT doc_id, unnest(flatten(list_transform(pk, p1 ->
         |    list_transform(
         |      list_filter(pk, p2 -> p2 > p1 AND p2 - p1 <= $FpFanout),
         |      p2 -> ('0x' || substr(md5(
         |        CAST(e[p1 + 1] >> 8 AS BIGINT) || '|' ||
         |        CAST(e[p2 + 1] >> 8 AS BIGINT) || '|' ||
         |        CAST(p2 - p1 AS BIGINT) || '|' ||
         |        CAST(p1 AS BIGINT)), 1, 15))::BIGINT)))) AS fh
         |  FROM pk),
         |bkt AS (
         |  SELECT fh, list(DISTINCT doc_id) AS ids
         |  FROM lm GROUP BY fh
         |  HAVING count(DISTINCT doc_id) BETWEEN 2 AND $FpMaxBucket),
         |pe AS (SELECT fh, unnest(ids) AS id FROM bkt),
         |pr AS (
         |  SELECT l.id AS id_a, r.id AS id_b
         |  FROM pe l JOIN pe r ON l.fh = r.fh AND l.id < r.id)
         |SELECT id_a, id_b, CAST(count(*) AS BIGINT) AS n_hashes
         |FROM pr GROUP BY id_a, id_b HAVING count(*) >= $FpMinMatches
         |ORDER BY id_a, id_b""".stripMargin),
      (s, dir) => {
        val pcm = Multimodal.pcmArray(
          Multimodal.withWavPayload(t(s, dir, "documents"), "doc_id",
            "text"))
        val withDups = pcm.unionByName(
          pcm.filter(col("doc_id") % FpDupMod === 0)
            .select((-col("doc_id")).as("doc_id"), col("samples")))
        Multimodal.fingerprintMatches(
          Multimodal.audioLandmarks(withDups, FpFrame, FpFanout),
          FpMinMatches, FpMaxBucket)
      }),

    // ---- Heaps'-law vocabulary growth: vocab size at 10 doc-id
    //      prefixes + the ln-ln OLS fit V ≈ K·T^β — the capacity dual
    //      of x87's Zipf fit (how fast the vocab table grows with the
    //      corpus; β drifting toward 1 flags an id-token leak) ----
    Q("x180_heaps_fit", Some(
      s"""WITH bounds AS (
         |  SELECT min(doc_id) AS lo, max(doc_id) AS hi,
         |    max(doc_id) - min(doc_id) + 1 AS span FROM documents),
         |chk AS (
         |  SELECT CAST(i AS INT) AS chk,
         |    lo - 1 + (i * span) // $HeapsChk AS mid
         |  FROM bounds, unnest(generate_series(1, $HeapsChk)) AS u(i)),
         |tk AS (
         |  SELECT doc_id, unnest(${tokSql("lower(text)")}) AS t
         |  FROM documents),
         |fs AS (SELECT t, min(doc_id) AS f FROM tk GROUP BY t),
         |ntt AS (
         |  SELECT doc_id, CAST(len(${tokSql("lower(text)")}) AS BIGINT)
         |    AS nt
         |  FROM documents),
         |rws AS (
         |  SELECT c.chk, c.mid AS max_doc_id,
         |    CAST((SELECT count(*) FROM documents d
         |      WHERE d.doc_id <= c.mid) AS BIGINT) AS n_docs,
         |    CAST((SELECT coalesce(sum(nt), 0) FROM ntt
         |      WHERE ntt.doc_id <= c.mid) AS BIGINT) AS n_tokens,
         |    CAST((SELECT count(*) FROM fs WHERE fs.f <= c.mid)
         |      AS BIGINT) AS vocab
         |  FROM chk c),
         |one AS (
         |  SELECT list_filter(list_sort(list(struct_pack(chk := chk,
         |      t := n_tokens, v := vocab))),
         |    s -> s.t > 0 AND s.v > 0) AS arr
         |  FROM rws),
         |sm AS (
         |  SELECT len(arr) AS n,
         |    list_reduce(list_prepend(0.0, list_transform(arr,
         |      s -> ln(CAST(s.t AS DOUBLE)))), (a, x) -> a + x) AS sx,
         |    list_reduce(list_prepend(0.0, list_transform(arr,
         |      s -> ln(CAST(s.v AS DOUBLE)))), (a, x) -> a + x) AS sy,
         |    list_reduce(list_prepend(0.0, list_transform(arr,
         |      s -> ln(CAST(s.t AS DOUBLE)) * ln(CAST(s.v AS DOUBLE)))),
         |      (a, x) -> a + x) AS sxy,
         |    list_reduce(list_prepend(0.0, list_transform(arr,
         |      s -> ln(CAST(s.t AS DOUBLE)) * ln(CAST(s.t AS DOUBLE)))),
         |      (a, x) -> a + x) AS sxx,
         |    list_reduce(list_prepend(0.0, list_transform(arr,
         |      s -> ln(CAST(s.v AS DOUBLE)) * ln(CAST(s.v AS DOUBLE)))),
         |      (a, x) -> a + x) AS syy
         |  FROM one),
         |ft AS (
         |  SELECT
         |    floor((CASE WHEN (n * sxx - sx * sx) = 0.0 THEN 0.0
         |        ELSE (n * sxy - sx * sy) / (n * sxx - sx * sx) END
         |      + 1000.0) * 10000.0 + 0.5) / 10000.0 - 1000.0 AS beta,
         |    floor((CASE WHEN n = 0 THEN 0.0
         |        ELSE (sy - (CASE WHEN (n * sxx - sx * sx) = 0.0 THEN 0.0
         |          ELSE (n * sxy - sx * sy) / (n * sxx - sx * sx) END)
         |          * sx) / n END
         |      + 1000.0) * 10000.0 + 0.5) / 10000.0 - 1000.0 AS ln_k,
         |    floor((CASE WHEN (n * sxx - sx * sx) * (n * syy - sy * sy)
         |          = 0.0 THEN 0.0
         |        ELSE (n * sxy - sx * sy) * (n * sxy - sx * sy)
         |          / ((n * sxx - sx * sx) * (n * syy - sy * sy)) END)
         |      * 10000.0 + 0.5) / 10000.0 AS r2
         |  FROM sm)
         |SELECT r.chk, r.max_doc_id, r.n_docs, r.n_tokens, r.vocab,
         |  f.beta, f.ln_k, f.r2
         |FROM rws r, ft f ORDER BY chk""".stripMargin),
      (s, dir) => CorpusStats.heapsFit(t(s, dir, "documents"), "doc_id",
        "text", checkpoints = HeapsChk)),

    // ---- population stability index between corpus snapshots
    //      (doc_id parity as yesterday/today) over classifier-score
    //      bins — THE standing drift monitor for a filter model's
    //      input distribution; Laplace smoothing keeps empty bins
    //      finite and contributing ----
    Q("x181_psi_drift", Some(
      s"""WITH ${classifierCtes("documents")},
         |sb AS (
         |  SELECT least(CAST(floor(cls_prob * $CalBins) AS INT),
         |      ${CalBins - 1}) AS bin,
         |    CAST(doc_id % 2 AS BIGINT) AS s
         |  FROM cp),
         |cnt AS (
         |  SELECT bin, CAST(sum(1 - s) AS BIGINT) AS c_a,
         |    CAST(sum(s) AS BIGINT) AS c_b
         |  FROM sb GROUP BY bin),
         |fullb AS (
         |  SELECT CAST(i AS INT) AS bin,
         |    coalesce(c_a, CAST(0 AS BIGINT)) AS n_a,
         |    coalesce(c_b, CAST(0 AS BIGINT)) AS n_b
         |  FROM unnest(generate_series(0, ${CalBins - 1})) AS u(i)
         |  LEFT JOIN cnt ON cnt.bin = i),
         |tt AS (
         |  SELECT CAST(sum(n_a) AS BIGINT) AS t_a,
         |    CAST(sum(n_b) AS BIGINT) AS t_b
         |  FROM fullb),
         |pr AS (
         |  SELECT bin, n_a, n_b,
         |    CAST(n_a + 1 AS DOUBLE) / CAST(t_a + $CalBins AS DOUBLE)
         |      AS pa,
         |    CAST(n_b + 1 AS DOUBLE) / CAST(t_b + $CalBins AS DOUBLE)
         |      AS pb
         |  FROM fullb, tt),
         |pw AS (
         |  SELECT bin, n_a, n_b, pa, pb,
         |    (pa - pb) * ln(pa / pb) AS psi_raw
         |  FROM pr),
         |tot AS (
         |  SELECT floor(list_reduce(list_prepend(0.0, list_transform(
         |      list_sort(list(struct_pack(bin := bin, w := psi_raw))),
         |      s -> s.w)), (a, x) -> a + x) * 10000.0 + 0.5) / 10000.0
         |    AS psi_total
         |  FROM pw)
         |SELECT bin, n_a, n_b,
         |  floor(pa * 10000.0 + 0.5) / 10000.0 AS p_a,
         |  floor(pb * 10000.0 + 0.5) / 10000.0 AS p_b,
         |  floor((psi_raw + 1000.0) * 10000.0 + 0.5) / 10000.0 - 1000.0
         |    AS psi_bin,
         |  psi_total
         |FROM pw, tot ORDER BY bin""".stripMargin),
      (s, dir) => {
        val scored = t(s, dir, "documents").select(
          (col("doc_id") % 2).as("side"),
          TextFunctions.classifierProb(col("text")).as("cls_prob"))
        LabelQuality.psiDrift(scored, "side", "cls_prob", bins = CalBins)
      }),

    // ---- CCNet perplexity bucketing: train the add-1 bigram LM on
    //      the Gopher-clean reference subset only, score EVERY doc
    //      against it, split each source into head/middle/tail by
    //      per-source score terciles — the Wenzek et al. curation
    //      step between "filter" and "sample". x88's LM fragments,
    //      reference-trained ----
    Q("x182_ccnet_buckets", Some(
      s"""WITH ${gopherKeepCtes("documents")},
         |hs AS (
         |  SELECT doc_id,
         |    list_transform(${tokSql("lower(text)")},
         |      t -> ${h60Sql("t", 1152921504606846976L)}) AS hs
         |  FROM documents),
         |mhs AS (
         |  SELECT hs.doc_id, hs.hs FROM hs JOIN g USING (doc_id)
         |  WHERE g.keep),
         |mbgl AS (
         |  SELECT doc_id, unnest(list_transform(
         |    generate_series(1, greatest(len(hs) - 1, 0)),
         |    i -> struct_pack(h1 := hs[i], h2 := hs[i + 1]))) AS b
         |  FROM mhs),
         |mbg AS (SELECT doc_id, b.h1 AS h1, b.h2 AS h2 FROM mbgl),
         |c2 AS (SELECT h1, h2, count(*) AS c2 FROM mbg GROUP BY 1, 2),
         |c1 AS (SELECT h1, count(*) AS c1 FROM mbg GROUP BY 1),
         |vv AS (SELECT count(DISTINCT h) AS v FROM (
         |  SELECT unnest(hs) AS h FROM mhs)),
         |bgl AS (
         |  SELECT doc_id, unnest(list_transform(
         |    generate_series(1, greatest(len(hs) - 1, 0)),
         |    i -> struct_pack(h1 := hs[i], h2 := hs[i + 1]))) AS b
         |  FROM hs),
         |bg AS (SELECT doc_id, b.h1 AS h1, b.h2 AS h2 FROM bgl),
         |dc AS (
         |  SELECT doc_id, h1, h2, count(*) AS c FROM bg GROUP BY 1, 2, 3),
         |per AS (
         |  SELECT dc.doc_id, CAST(sum(dc.c) AS BIGINT) AS n_big,
         |    CAST(sum(dc.c * CAST(floor(log2((coalesce(c2.c2, 0) + 1.0)
         |        / CAST(coalesce(c1.c1, 0) + v AS DOUBLE))
         |        * 100000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS tq
         |  FROM dc LEFT JOIN c2 USING (h1, h2) LEFT JOIN c1 USING (h1), vv
         |  GROUP BY dc.doc_id),
         |w AS (
         |  SELECT doc_id, n_big,
         |    floor((0.0 - CAST(tq AS DOUBLE) / 100000000.0) / n_big
         |      * 10000.0 + 0.5) / 10000.0 AS bpt2
         |  FROM per),
         |scr AS (
         |  SELECT d.doc_id, d.source,
         |    coalesce(w.n_big, 0) AS n_big,
         |    coalesce(w.bpt2, 0.0) AS bpt2
         |  FROM documents d LEFT JOIN w USING (doc_id)),
         |pctl AS (
         |  SELECT *, percent_rank() OVER (PARTITION BY source
         |    ORDER BY bpt2) AS pr
         |  FROM scr),
         |bkd AS (
         |  SELECT source,
         |    CASE WHEN pr < $CcnetLo THEN 'head'
         |         WHEN pr < $CcnetHi THEN 'middle'
         |         ELSE 'tail' END AS bucket,
         |    n_big, bpt2
         |  FROM pctl)
         |SELECT source, bucket, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_big) AS BIGINT) AS n_bigrams,
         |  floor(CAST(sum(CAST(floor(bpt2 * 10000.0 + 0.5) AS BIGINT))
         |      AS DOUBLE) / (CAST(count(*) AS DOUBLE) * 10000.0)
         |    * 10000.0 + 0.5) / 10000.0 AS mean_bits
         |FROM bkd GROUP BY source, bucket
         |ORDER BY source, bucket""".stripMargin),
      (s, dir) => {
        import graft.functions.QualityRules
        val docs = t(s, dir, "documents")
        // one bigram-extraction shuffle: the Gopher gate rides along as
        // the model flag (bigramBitsSubset), instead of a second
        // model-corpus pass
        val bits = CorpusStats.bigramBitsSubset(docs, "doc_id", "text",
          QualityRules.gopherKeep(QualityRules.tokenStats(col("text"))))
        val withSrc = bits.join(docs.select("doc_id", "source"),
          Seq("doc_id"))
        val banded = CorpusStats.percentileNormalize(withSrc, "source",
            "bpt2")
          .withColumn("bucket",
            when(col("pctl") < lit(CcnetLo), lit("head"))
              .when(col("pctl") < lit(CcnetHi), lit("middle"))
              .otherwise(lit("tail")))
        banded.groupBy("source", "bucket")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_big")).as("n_bigrams"),
            TextFunctions.portableRound(
              sum(floor(col("bpt2") * lit(10000.0) + lit(0.5))
                .cast("long")).cast("double") /
                (count(lit(1)).cast("double") * lit(10000.0)),
              4).as("mean_bits"))
          .orderBy("source", "bucket")
      }),

    // ---- exact ROC-AUC (Mann–Whitney with average-rank ties) + the
    //      best-F1 operating point for the frozen classifier vs the
    //      Gopher gate — x176 says whether 0.8 MEANS 80%; this says
    //      whether the ORDERING separates classes and where to cut.
    //      Rank sums stay exact integers (DECIMAL) over the ≤10⁴+1
    //      distinct quantized scores ----
    Q("x183_roc_auc", Some(
      s"""WITH ${classifierCtes("documents")},
         |${gopherKeepCtes("documents")},
         |j AS (
         |  SELECT CAST(floor(cls_prob * 10000.0 + 0.5) AS BIGINT) AS pq,
         |    CASE WHEN g.keep THEN 1 ELSE 0 END AS y
         |  FROM cp JOIN g USING (doc_id)),
         |per AS (
         |  SELECT pq, CAST(count(*) AS BIGINT) AS ns,
         |    CAST(sum(y) AS BIGINT) AS ps
         |  FROM j GROUP BY pq),
         |cum AS (
         |  SELECT pq, ns, ps,
         |    CAST(coalesce(sum(ns) OVER (ORDER BY pq ROWS BETWEEN
         |      UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cb,
         |    CAST(coalesce(sum(ps) OVER (ORDER BY pq ROWS BETWEEN
         |      UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cpb
         |  FROM per),
         |tt AS (
         |  SELECT CAST(sum(ns) AS BIGINT) AS t,
         |    CAST(sum(ps) AS BIGINT) AS p
         |  FROM per),
         |uu AS (
         |  SELECT sum(CAST(ps * (2 * cb + ns + 1) AS HUGEINT)) AS u2
         |  FROM cum),
         |fs AS (
         |  SELECT pq,
         |    CAST(2 * (p - cpb) AS DOUBLE)
         |      / CAST((t - cb) + p AS DOUBLE) AS f1,
         |    CAST(p - cpb AS DOUBLE) / CAST(t - cb AS DOUBLE) AS prec,
         |    CASE WHEN p = 0 THEN 0.0
         |      ELSE CAST(p - cpb AS DOUBLE) / CAST(p AS DOUBLE) END AS rec
         |  FROM cum, tt),
         |best AS (
         |  SELECT pq, f1, prec, rec FROM (
         |    SELECT *, row_number() OVER (ORDER BY f1 DESC, pq) AS rn
         |    FROM fs) WHERE rn = 1)
         |SELECT t AS n, p AS n_pos,
         |  floor((CASE WHEN p = 0 OR p = t THEN 0.0
         |      ELSE (CAST(u2 AS DOUBLE)
         |        - CAST(p AS DOUBLE) * (CAST(p AS DOUBLE) + 1.0))
         |        / (2.0 * CAST(p AS DOUBLE) * CAST(t - p AS DOUBLE)) END)
         |    * 10000.0 + 0.5) / 10000.0 AS auc,
         |  CAST(best.pq AS DOUBLE) / 10000.0 AS best_threshold,
         |  floor(best.f1 * 10000.0 + 0.5) / 10000.0 AS best_f1,
         |  floor(best.prec * 10000.0 + 0.5) / 10000.0 AS best_precision,
         |  floor(best.rec * 10000.0 + 0.5) / 10000.0 AS best_recall
         |FROM tt, uu, best""".stripMargin),
      (s, dir) => {
        import graft.functions.QualityRules
        val scored = t(s, dir, "documents").select(
          TextFunctions.classifierProb(col("text")).as("cls_prob"),
          QualityRules.gopherKeep(
            QualityRules.tokenStats(col("text"))).as("keep"))
        LabelQuality.rocAuc(scored, "cls_prob", "keep")
      }),

    // ---- Good–Turing unseen-mass estimate per source: N₁/N₂
    //      frequency-of-frequencies, p₀ = N₁/T — "how much of the
    //      token stream is first-sightings", the companion gauge to
    //      x180's growth curve and the smoothing diagnostic for the
    //      x88/x127 LM family ----
    Q("x184_good_turing", Some(
      s"""WITH tc AS (
         |  SELECT source, t, count(*) AS c FROM (
         |    SELECT source, unnest(${tokSql("lower(text)")}) AS t
         |    FROM documents)
         |  GROUP BY source, t),
         |ss AS (
         |  SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
         |    CAST(count(*) AS BIGINT) AS vocab,
         |    CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         |    CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2
         |  FROM tc GROUP BY source)
         |SELECT source, n_tokens, vocab, n1, n2,
         |  floor((CASE WHEN n_tokens = 0 THEN 0.0
         |      ELSE CAST(n1 AS DOUBLE) / CAST(n_tokens AS DOUBLE) END)
         |    * 10000.0 + 0.5) / 10000.0 AS p0_unseen,
         |  floor((CASE WHEN n1 = 0 THEN 0.0
         |      ELSE 2.0 * CAST(n2 AS DOUBLE) / CAST(n1 AS DOUBLE) END)
         |    * 10000.0 + 0.5) / 10000.0 AS r1_star
         |FROM ss ORDER BY source""".stripMargin),
      (s, dir) => CorpusStats.goodTuring(t(s, dir, "documents"),
        "source", "text").orderBy("source")),

    // ---- effective sample size of the DSIR importance weights, per
    //      source: ESS = (Σw)²/Σw² over exp(logw − max) quantized to
    //      exact integers — the "is this weighted resample secretly
    //      five documents" audit every weighted-sampling lever needs.
    //      The weight CTEs are x64's, shared verbatim ----
    Q("x185_ess_report", Some(
      s"""WITH $dsirCtes,
         |jj AS (
         |  SELECT d.source, dw.logw FROM documents d
         |  JOIN dw USING (doc_id)),
         |mx AS (SELECT source, max(logw) AS m FROM jj GROUP BY source),
         |vq AS (
         |  SELECT jj.source,
         |    CAST(floor(exp(jj.logw - mx.m) * 100000000.0 + 0.5)
         |      AS BIGINT) AS v
         |  FROM jj JOIN mx USING (source)),
         |agg AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |    sum(CAST(v AS HUGEINT)) AS s1,
         |    sum(CAST(v AS HUGEINT) * v) AS s2
         |  FROM vq GROUP BY source)
         |SELECT source, n_docs,
         |  floor((CASE WHEN CAST(s2 AS DOUBLE) = 0.0 THEN 0.0
         |      ELSE CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
         |        / CAST(s2 AS DOUBLE) END) * 10000.0 + 0.5) / 10000.0
         |    AS ess,
         |  floor((CASE WHEN CAST(s2 AS DOUBLE) = 0.0 THEN 0.0
         |      ELSE CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
         |        / CAST(s2 AS DOUBLE) END) / CAST(n_docs AS DOUBLE)
         |    * 10000.0 + 0.5) / 10000.0 AS ess_ratio
         |FROM agg ORDER BY source""".stripMargin),
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val w = Sampling.dsirWeights(docs, "doc_id", "text",
          col("lang") === "en", buckets = DsirBuckets)
        Sampling.essReport(
          w.join(docs.select("doc_id", "source"), Seq("doc_id")),
          "source", "logw").orderBy("source")
      }),

    // ---- declared-vs-detected language confusion matrix + overall
    //      agreement: the metadata-trust audit (a `lang` column from a
    //      crawler is a CLAIM; the n-gram detector is the check).
    //      Detector fragments are x04's, shared verbatim ----
    Q("x186_langid_confusion", Some({
      val (hitCols, best, cases) = langIdSqlPieces
      s"""WITH pred AS (
         |  SELECT doc_id, lang AS declared,
         |    CASE $cases ELSE 'und' END AS predicted
         |  FROM (SELECT *, $best AS best FROM
         |    (SELECT doc_id, lang, $hitCols FROM documents))),
         |cm AS (
         |  SELECT declared, predicted, CAST(count(*) AS BIGINT) AS n
         |  FROM pred GROUP BY declared, predicted),
         |acc AS (
         |  SELECT floor(CAST(coalesce(sum(CASE WHEN declared = predicted
         |        THEN n ELSE 0 END), 0) AS DOUBLE)
         |      / CAST(sum(n) AS DOUBLE) * 10000.0 + 0.5) / 10000.0
         |    AS accuracy
         |  FROM cm)
         |SELECT declared, predicted, n, accuracy
         |FROM cm, acc ORDER BY declared, predicted""".stripMargin
    }),
      (s, dir) => {
        val cm = t(s, dir, "documents")
          .select(col("lang").as("declared"),
            TextFunctions.langId(col("text")).as("predicted"))
          .groupBy("declared", "predicted")
          .agg(count(lit(1)).as("n"))
        val acc = cm.agg(
          TextFunctions.portableRound(
            coalesce(sum(when(col("declared") === col("predicted"),
              col("n")).otherwise(lit(0L))), lit(0L)).cast("double") /
              sum(col("n")).cast("double"), 4).as("accuracy"))
        cm.crossJoin(broadcast(acc))
          .orderBy("declared", "predicted")
      }),

    // ---- Fleiss' κ across x165's THREE noisy labelers (quality
    //      heuristic, frozen classifier, Gopher gate): Cohen's
    //      two-rater κ (x177) generalized — the gate on whether the
    //      vote ensemble agrees beyond chance at all ----
    Q("x187_fleiss_kappa", Some(
      s"""WITH q AS (
         |  SELECT doc_id, $qualityFormulaSql AS quality
         |  FROM (SELECT doc_id, $qualityStatsSql FROM documents)),
         |${classifierCtes("documents")},
         |${gopherKeepCtes("documents")},
         |v AS (
         |  SELECT q.doc_id,
         |    (CASE WHEN q.quality >= 0.5 THEN 1 ELSE 0 END
         |     + CASE WHEN cp.cls_prob >= 0.5 THEN 1 ELSE 0 END
         |     + CASE WHEN g.keep THEN 1 ELSE 0 END) AS k
         |  FROM q JOIN cp USING (doc_id) JOIN g USING (doc_id)),
         |agg AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(k * (k - 1) + (3 - k) * (2 - k)) AS BIGINT)
         |      AS agree_num,
         |    CAST(sum(k) AS BIGINT) AS yes_sum,
         |    CAST(sum(CASE WHEN k = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
         |    CAST(sum(CASE WHEN k = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         |    CAST(sum(CASE WHEN k = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
         |    CAST(sum(CASE WHEN k = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n3
         |  FROM v),
         |raw AS (
         |  SELECT n, n0, n1, n2, n3,
         |    CAST(agree_num AS DOUBLE) / (CAST(n AS DOUBLE) * 6.0)
         |      AS pbar_raw,
         |    CAST(yes_sum AS DOUBLE) / (CAST(n AS DOUBLE) * 3.0)
         |      AS pyes_raw
         |  FROM agg)
         |SELECT n AS n_items, n0, n1, n2, n3,
         |  floor(pyes_raw * 10000.0 + 0.5) / 10000.0 AS p_yes,
         |  floor(pbar_raw * 10000.0 + 0.5) / 10000.0 AS p_bar,
         |  floor((pyes_raw * pyes_raw
         |    + (1.0 - pyes_raw) * (1.0 - pyes_raw)) * 10000.0 + 0.5)
         |    / 10000.0 AS p_e,
         |  floor((CASE WHEN pyes_raw * pyes_raw
         |        + (1.0 - pyes_raw) * (1.0 - pyes_raw) = 1.0 THEN 0.0
         |      ELSE (pbar_raw - (pyes_raw * pyes_raw
         |          + (1.0 - pyes_raw) * (1.0 - pyes_raw)))
         |        / (1.0 - (pyes_raw * pyes_raw
         |          + (1.0 - pyes_raw) * (1.0 - pyes_raw))) END + 1000.0)
         |    * 10000.0 + 0.5) / 10000.0 - 1000.0 AS kappa
         |FROM raw""".stripMargin),
      (s, dir) => {
        import graft.functions.QualityRules
        val votes = t(s, dir, "documents").select(
          ((TextFunctions.qualityScore(col("text")) >= 0.5).cast("int")
            + (TextFunctions.classifierProb(col("text")) >= 0.5).cast("int")
            + QualityRules.gopherKeep(
              QualityRules.tokenStats(col("text"))).cast("int"))
            .as("n_yes"))
        LabelQuality.fleissKappa(votes, "n_yes", raters = 3)
      }),

    // ---- template/bot skeleton clustering: docs sharing the exact
    //      set of corpus-recurring lines are instances of one
    //      template — the structural dedup that catches mass-produced
    //      pages exact dedup (x01) misses because the variable field
    //      differs. Planted template families; natural exact-dup
    //      texts cluster too (single recurring line = the skeleton) ----
    Q("x188_template_clusters", Some({
      val vals = TemplateDocs.map { case (id, t) =>
        s"(CAST($id AS BIGINT), '${t.replace("'", "''")}')"
      }.mkString(",\n    ")
      s"""WITH u AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL SELECT * FROM (VALUES
         |    $vals)),
         |ln0 AS (
         |  SELECT doc_id, trim(l) AS line FROM (
         |    SELECT doc_id, unnest(string_split(text, chr(10))) AS l
         |    FROM u)),
         |ln AS (
         |  SELECT DISTINCT doc_id, line FROM ln0 WHERE length(line) > 0),
         |fq AS (
         |  SELECT line FROM (
         |    SELECT line, count(*) AS c FROM ln GROUP BY line)
         |  WHERE c >= 2),
         |sk AS (
         |  SELECT doc_id,
         |    ('0x' || substr(md5(line), 1, 15))::BIGINT AS h
         |  FROM ln JOIN fq USING (line)),
         |fp AS (
         |  SELECT doc_id,
         |    ('0x' || substr(md5(array_to_string(
         |      list_sort(list(DISTINCT h)), ',')), 1, 15))::BIGINT
         |      AS fingerprint
         |  FROM sk GROUP BY doc_id)
         |SELECT fingerprint, CAST(count(*) AS BIGINT) AS n_docs,
         |  min(doc_id) AS keep_id
         |FROM fp GROUP BY fingerprint HAVING count(*) >= 2
         |ORDER BY keep_id""".stripMargin
    }),
      (s, dir) => {
        val session = s
        import session.implicits._
        Dedup.templateClusters(
          t(s, dir, "documents").select("doc_id", "text")
            .unionByName(TemplateDocs.toDF("doc_id", "text")),
          "doc_id", "text")
      }),

    // ---- pairwise source-profile similarity: cosine between
    //      per-source count vectors over the global top-50 terms —
    //      "which sources are the same crawl wearing different
    //      names", the composition fingerprint read before mixture
    //      reweighting (x36/x49/x170) ----
    Q("x189_source_similarity", Some(
      s"""WITH tok AS (
         |  SELECT source AS grp, unnest(${tokSql("lower(text)")}) AS t
         |  FROM documents),
         |top AS (
         |  SELECT t FROM (
         |    SELECT t, count(*) AS cnt FROM tok GROUP BY t
         |    ORDER BY cnt DESC, t LIMIT $SrcSimTopK)),
         |prof AS (
         |  SELECT grp, t, CAST(count(*) AS BIGINT) AS c
         |  FROM tok JOIN top USING (t) GROUP BY grp, t),
         |norms AS (
         |  SELECT grp, sum(CAST(c AS HUGEINT) * c) AS n2
         |  FROM prof GROUP BY grp),
         |dots AS (
         |  SELECT a.grp AS ga, b.grp AS gb,
         |    sum(CAST(a.c AS HUGEINT) * b.c) AS dot
         |  FROM prof a JOIN prof b ON a.t = b.t AND a.grp < b.grp
         |  GROUP BY ga, gb)
         |SELECT ga AS source_a, gb AS source_b,
         |  floor(CAST(dot AS DOUBLE)
         |    / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE)))
         |    * 10000.0 + 0.5) / 10000.0 AS cosine
         |FROM dots JOIN norms na ON na.grp = ga
         |JOIN norms nb ON nb.grp = gb
         |ORDER BY source_a, source_b""".stripMargin),
      (s, dir) => CorpusStats.sourceSimilarity(t(s, dir, "documents"),
        "source", "text", topK = SrcSimTopK)),

    // ---- term burstiness (variance-to-mean over per-doc counts,
    //      zeros included): VMR ≫ 1 flags template artifacts and spam
    //      bursts that frequency-only vocab reports can't see; exact
    //      integers to the last division ----
    Q("x190_burstiness", Some(
      s"""WITH nn AS (
         |  SELECT CAST(count(*) AS BIGINT) AS nd FROM documents),
         |dc AS (
         |  SELECT doc_id, t, CAST(count(*) AS BIGINT) AS c FROM (
         |    SELECT doc_id, unnest(${tokSql("lower(text)")}) AS t
         |    FROM documents)
         |  GROUP BY doc_id, t),
         |per AS (
         |  SELECT t, CAST(sum(c) AS BIGINT) AS cnt,
         |    sum(CAST(c AS HUGEINT) * c) AS c2,
         |    CAST(count(*) AS BIGINT) AS n_docs_with
         |  FROM dc GROUP BY t),
         |top AS (SELECT * FROM per ORDER BY cnt DESC, t LIMIT $BurstTopK)
         |SELECT t AS term, cnt, n_docs_with,
         |  floor((CASE WHEN cnt = 0 THEN 0.0
         |      ELSE CAST(nd * c2 - CAST(cnt AS HUGEINT) * cnt AS DOUBLE)
         |        / CAST(nd * CAST(cnt AS HUGEINT) AS DOUBLE) END)
         |    * 10000.0 + 0.5) / 10000.0 AS vmr
         |FROM top, nn ORDER BY cnt DESC, term""".stripMargin),
      (s, dir) => CorpusStats.burstiness(t(s, dir, "documents"),
        "doc_id", "text", topK = BurstTopK)),

    // ---- conditional entropy of the x160 Markov chain: per-state
    //      H(next|cur) and the chain scalar Σ p(a)·H_a — "how
    //      predictable is the behavioral stream" in one number ----
    Q("x191_markov_entropy", Some(
      """WITH p AS (
        |  SELECT lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS f,
        |    event_type AS tt
        |  FROM events),
        |c AS (
        |  SELECT f AS from_type, tt AS to_type,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM p WHERE f IS NOT NULL GROUP BY f, tt),
        |st0 AS (
        |  SELECT from_type, CAST(sum(n) AS BIGINT) AS tot,
        |    list_sort(list(struct_pack(to_type := to_type, n := n)))
        |      AS arr
        |  FROM c GROUP BY from_type),
        |st AS (
        |  SELECT from_type, tot,
        |    0.0 - list_reduce(list_prepend(0.0, list_transform(arr,
        |      s -> (CAST(s.n AS DOUBLE) / CAST(tot AS DOUBLE))
        |        * log2(CAST(s.n AS DOUBLE) / CAST(tot AS DOUBLE)))),
        |      (a, x) -> a + x) AS h_raw
        |  FROM st0),
        |g0 AS (
        |  SELECT CAST(sum(tot) AS BIGINT) AS gt,
        |    list_sort(list(struct_pack(from_type := from_type,
        |      tot := tot, h := h_raw))) AS arr
        |  FROM st),
        |g1 AS (
        |  SELECT gt,
        |    list_reduce(list_prepend(0.0, list_transform(arr,
        |      s -> CAST(s.tot AS DOUBLE) / CAST(gt AS DOUBLE) * s.h)),
        |      (a, x) -> a + x) AS hc
        |  FROM g0)
        |SELECT st.from_type, st.tot AS n_transitions,
        |  floor(CAST(st.tot AS DOUBLE) / CAST(g1.gt AS DOUBLE)
        |    * 10000.0 + 0.5) / 10000.0 AS p_state,
        |  floor(st.h_raw * 10000.0 + 0.5) / 10000.0 AS h_bits,
        |  floor(g1.hc * 10000.0 + 0.5) / 10000.0 AS h_conditional
        |FROM st, g1 ORDER BY from_type""".stripMargin),
      (s, dir) => Funnels.transitionEntropy(ReferenceCatalog.events(s, dir),
        "user_id", "ts", "event_id", "event_type")),

    // ---- Kolmogorov–Smirnov drift between snapshots: x181's binless
    //      sibling — the maximized ECDF gap is an exact integer
    //      (|cum_a·n_b − cum_b·n_a|), so the statistic and its argmax
    //      are decided by integer compares, one division at the end ----
    Q("x192_ks_drift", Some(
      s"""WITH ${classifierCtes("documents")},
         |sc AS (
         |  SELECT CAST(floor(cls_prob * 10000.0 + 0.5) AS BIGINT) AS pq,
         |    CAST(doc_id % 2 AS BIGINT) AS s
         |  FROM cp),
         |per AS (
         |  SELECT pq, CAST(sum(1 - s) AS BIGINT) AS ca,
         |    CAST(sum(s) AS BIGINT) AS cb
         |  FROM sc GROUP BY pq),
         |cum AS (
         |  SELECT pq,
         |    CAST(sum(ca) OVER (ORDER BY pq) AS BIGINT) AS cum_a,
         |    CAST(sum(cb) OVER (ORDER BY pq) AS BIGINT) AS cum_b
         |  FROM per),
         |tt AS (
         |  SELECT CAST(sum(ca) AS BIGINT) AS na,
         |    CAST(sum(cb) AS BIGINT) AS nb
         |  FROM per),
         |gap AS (
         |  SELECT pq,
         |    abs(CAST(cum_a AS HUGEINT) * nb - CAST(cum_b AS HUGEINT) * na)
         |      AS num
         |  FROM cum, tt),
         |best AS (
         |  SELECT pq, num FROM (
         |    SELECT *, row_number() OVER (ORDER BY num DESC, pq) AS rn
         |    FROM gap) WHERE rn = 1)
         |SELECT na AS n_a, nb AS n_b,
         |  floor((CASE WHEN na = 0 OR nb = 0 THEN 0.0
         |      ELSE CAST(num AS DOUBLE)
         |        / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) END)
         |    * 10000.0 + 0.5) / 10000.0 AS ks,
         |  CAST(best.pq AS DOUBLE) / 10000.0 AS at_value
         |FROM tt, best""".stripMargin),
      (s, dir) => {
        val scored = t(s, dir, "documents").select(
          (col("doc_id") % 2).as("side"),
          TextFunctions.classifierProb(col("text")).as("cls_prob"))
        LabelQuality.ksDrift(scored, "side", "cls_prob")
      }),

    // ---- k-anonymity release gate over customer quasi-identifiers
    //      (nation × segment × generalized balance bucket): group
    //      sizes < k pin an individual to fewer than k candidates —
    //      the structural privacy audit next to x19's content
    //      redaction ----
    Q("x193_k_anonymity", Some(
      s"""WITH keyed AS (
         |  SELECT c_nationkey AS nation, c_mktsegment AS segment,
         |    CAST(floor(c_acctbal / 1000.0) AS INT) AS bal_bucket
         |  FROM customer),
         |grp AS (
         |  SELECT nation, segment, bal_bucket,
         |    CAST(count(*) AS BIGINT) AS n
         |  FROM keyed GROUP BY 1, 2, 3),
         |g2 AS (SELECT *, n < $KAnonK AS risky FROM grp),
         |summ AS (
         |  SELECT CAST(min(n) AS BIGINT) AS k_anonymity,
         |    CAST(sum(CASE WHEN risky THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_risky_groups,
         |    CAST(sum(CASE WHEN risky THEN n ELSE 0 END) AS BIGINT)
         |      AS n_risky_rows
         |  FROM g2)
         |SELECT nation, segment, bal_bucket, n, risky,
         |  k_anonymity, n_risky_groups, n_risky_rows
         |FROM g2, summ
         |ORDER BY nation, segment, bal_bucket""".stripMargin),
      (s, dir) => Privacy.kAnonymity(t(s, dir, "customer"),
        Seq(col("c_nationkey"), col("c_mktsegment"),
          floor(col("c_acctbal") / lit(1000.0)).cast("int")),
        Seq("nation", "segment", "bal_bucket"), k = KAnonK)),

    // ---- Benford first-digit audit of the event value column:
    //      fabricated/bugged metric streams bend the log₁₀(1+1/d)
    //      curve; digit extraction is pure integer arithmetic and the
    //      nine expected shares are ONE set of Scala literals on both
    //      sides ----
    Q("x194_benford_audit", Some({
      val vals = Profiling.BenfordExpected.zipWithIndex
        .map { case (e, i) => s"(${i + 1}, ${e})" }.mkString(", ")
      s"""WITH qv AS (
         |  SELECT CAST(floor(abs(value) * 10000.0 + 0.5) AS BIGINT) AS q
         |  FROM events),
         |dg AS (
         |  SELECT q // CAST(power(10,
         |    length(CAST(q AS VARCHAR)) - 1) AS BIGINT) AS digit
         |  FROM qv WHERE q > 0),
         |cnt AS (
         |  SELECT CAST(digit AS INT) AS digit,
         |    CAST(count(*) AS BIGINT) AS n
         |  FROM dg GROUP BY 1),
         |ex AS (SELECT * FROM (VALUES $vals) AS e(digit, expected_raw)),
         |fl AS (
         |  SELECT e.digit, coalesce(cnt.n, CAST(0 AS BIGINT)) AS n,
         |    e.expected_raw
         |  FROM ex e LEFT JOIN cnt USING (digit)),
         |tt AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM fl),
         |wc AS (
         |  SELECT digit, n, nn, expected_raw,
         |    CASE WHEN nn = 0 THEN 0.0 ELSE
         |      (CAST(n AS DOUBLE) - expected_raw * CAST(nn AS DOUBLE))
         |      * (CAST(n AS DOUBLE) - expected_raw * CAST(nn AS DOUBLE))
         |      / (expected_raw * CAST(nn AS DOUBLE)) END AS chi_raw
         |  FROM fl, tt),
         |c2 AS (
         |  SELECT floor(list_reduce(list_prepend(0.0, list_transform(
         |      list_sort(list(struct_pack(digit := digit, w := chi_raw))),
         |      s -> s.w)), (a, x) -> a + x) * 10000.0 + 0.5) / 10000.0
         |    AS chi2
         |  FROM wc)
         |SELECT digit, n, nn AS n_nonzero,
         |  floor((CASE WHEN nn = 0 THEN 0.0
         |      ELSE CAST(n AS DOUBLE) / CAST(nn AS DOUBLE) END)
         |    * 10000.0 + 0.5) / 10000.0 AS share,
         |  floor(expected_raw * 10000.0 + 0.5) / 10000.0 AS expected,
         |  chi2
         |FROM wc, c2 ORDER BY digit""".stripMargin
    }),
      (s, dir) => Profiling.benford(ReferenceCatalog.events(s, dir),
        "value")),

    // ---- crawl-frontier URL canonicalization dedup: tracking
    //      params, fragments, default ports and trailing slashes fold
    //      into ONE canonical URL per resource — x164's domain view
    //      refined to the per-URL dedup a fetch scheduler runs on.
    //      Planted spelling variants; rules shared with the engine ----
    Q("x195_url_canonical", Some({
      val vals = CanonUrlDocs.map { case (id, t) =>
        s"(CAST($id AS BIGINT), '${t.replace("'", "''")}')"
      }.mkString(",\n    ")
      s"""WITH u AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL SELECT * FROM (VALUES
         |    $vals)),
         |uu AS (
         |  SELECT doc_id, unnest(regexp_extract_all(text,
         |    '${TextFunctions.redactionRules.head._1}')) AS url
         |  FROM u),
         |canon AS (
         |  SELECT doc_id, url, ${urlCanonSql("url")} AS curl
         |  FROM uu)
         |SELECT curl AS canonical_url, CAST(count(*) AS BIGINT) AS n_urls,
         |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |  CAST(count(DISTINCT url) AS BIGINT) AS n_variants
         |FROM canon GROUP BY curl ORDER BY canonical_url""".stripMargin
    }),
      (s, dir) => {
        val session = s
        import session.implicits._
        t(s, dir, "documents").select("doc_id", "text")
          .unionByName(CanonUrlDocs.toDF("doc_id", "text"))
          .select(col("doc_id"),
            explode(regexp_extract_all(col("text"),
              lit(TextFunctions.redactionRules.head._1), lit(0)))
              .as("url"))
          .select(col("doc_id"), col("url"),
            TextFunctions.canonicalizeUrl(col("url")).as("curl"))
          .groupBy("curl")
          .agg(count(lit(1)).as("n_urls"),
            countDistinct(col("doc_id")).as("n_docs"),
            countDistinct(col("url")).as("n_variants"))
          .select(col("curl").as("canonical_url"), col("n_urls"),
            col("n_docs"), col("n_variants"))
          .orderBy("canonical_url")
      }),

    // ---- largest-remainder quota allocation: an EXACT seat budget
    //      split source-proportionally — floor quotas + leftover
    //      seats to the largest remainders, zero floats anywhere.
    //      The deterministic sizing step before an eval-set draw
    //      (a rate sample only hits the budget in expectation) ----
    Q("x196_quota_allocate", Some(
      s"""WITH counts AS (
         |  SELECT source AS grp, CAST(count(*) AS BIGINT) AS n_docs
         |  FROM documents GROUP BY source),
         |tt AS (SELECT CAST(sum(n_docs) AS BIGINT) AS nn FROM counts),
         |based AS (
         |  SELECT grp, n_docs,
         |    ($QuotaTotal * n_docs) // nn AS base,
         |    ($QuotaTotal * n_docs) % nn AS rem
         |  FROM counts, tt),
         |lo AS (
         |  SELECT $QuotaTotal - CAST(sum(base) AS BIGINT) AS leftover
         |  FROM based),
         |rk AS (
         |  SELECT *, row_number() OVER (ORDER BY rem DESC, grp) AS rk
         |  FROM based)
         |SELECT grp AS source, n_docs, CAST(base AS BIGINT) AS base,
         |  CAST(CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT)
         |    AS extra,
         |  CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END
         |    AS BIGINT) AS quota
         |FROM rk, lo ORDER BY source""".stripMargin),
      (s, dir) => Sampling.quotaAllocate(t(s, dir, "documents"),
        "source", total = QuotaTotal)),

    // ---- NATIVE session windows (session_window, Spark's built-in
    //      merging-window state operator) — the engine-surface twin
    //      of x20's custom flatMapGroupsWithState sessionizer. Same
    //      break rule as the custom fold (merge at diff ≤ gap, break
    //      at > gap — pinned by a SessionizeSpec equivalence test);
    //      the one semantic difference is session end = last + gap.
    //      The break compares MICROSECONDS (the ts resolution) — an
    //      ms-floored compare would merge/break differently when a
    //      gap straddles an ms boundary. Values quantize to exact
    //      longs before the hash-agg sum (session_window's partial
    //      aggregation is order-free only over integers) ----
    Q("x197_session_window", Some(
      s"""WITH e AS (
         |  SELECT user_id, epoch_ns(ts) // 1000 AS us, value
         |  FROM events),
         |m AS (
         |  SELECT user_id, us, value,
         |    CASE WHEN us - lag(us) OVER (PARTITION BY user_id
         |          ORDER BY us) > ${SessionGapMs}000
         |         THEN 1 ELSE 0 END AS brk
         |  FROM e),
         |s AS (
         |  SELECT user_id, us, value,
         |    sum(brk) OVER (PARTITION BY user_id ORDER BY us
         |                   ROWS UNBOUNDED PRECEDING) AS sid
         |  FROM m)
         |SELECT user_id, min(us) // 1000 AS start_ms,
         |  (max(us) + ${SessionGapMs}000) // 1000 AS end_ms,
         |  CAST(count(*) AS BIGINT) AS n_events,
         |  floor(CAST(sum(CAST(floor(value * 10000.0 + 0.5) AS BIGINT))
         |      AS DOUBLE) / 10000.0 * 10000.0 + 0.5) / 10000.0
         |    AS total_value
         |FROM s GROUP BY user_id, sid
         |ORDER BY user_id, start_ms""".stripMargin),
      (s, dir) => {
        val ev = ReferenceCatalog.events(s, dir)
          .select(col("user_id"), col("ts"),
            floor(col("value") * lit(10000.0) + lit(0.5)).cast("long")
              .as("vq"))
        ev.groupBy(col("user_id"),
            session_window(col("ts"), "12 hours").as("sw"))
          .agg(count(lit(1)).as("n_events"), sum(col("vq")).as("sq"))
          .select(col("user_id"),
            unix_millis(col("sw.start")).as("start_ms"),
            unix_millis(col("sw.end")).as("end_ms"),
            col("n_events"),
            TextFunctions.portableRound(
              col("sq").cast("double") / lit(10000.0), 4)
              .as("total_value"))
          .orderBy("user_id", "start_ms")
      }),

    // ---- Bradley–Terry preference fit (the RLHF-data shape):
    //      consecutive-doc pairs judged by the frozen classifier →
    //      per-source strength via Hunter's MM, fixed iterations
    //      replayed CTE-by-CTE (the x69/x147 pattern). The win matrix
    //      is bounded by the SOURCE vocabulary, never the comparison
    //      count — the k-means bounded-collect path ----
    Q("x198_bradley_terry", Some(btSql),
      (s, dir) => {
        val scored = t(s, dir, "documents").select(col("doc_id"),
          col("source"),
          TextFunctions.classifierProb(col("text")).as("cp"))
        val a = scored.select(col("doc_id").as("ida"),
          col("source").as("sa"), col("cp").as("pa"))
        val b = scored.select(col("doc_id").as("idb"),
          col("source").as("sb"), col("cp").as("pb"))
        val comp = a.join(b, col("idb") === col("ida") + 1)
          .filter(col("sa") =!= col("sb"))
          .select(
            when(col("pa") >= col("pb"), col("sa")).otherwise(col("sb"))
              .as("winner"),
            when(col("pa") >= col("pb"), col("sb")).otherwise(col("sa"))
              .as("loser"))
        Preference.bradleyTerry(comp, "winner", "loser", iters = BtIters)
          .orderBy("item")
      }),

    // ---- epochs-to-exhaustion under the √-temperature mixture (the
    //      data-constrained-scaling dashboard): which sources repeat
    //      within one compute-epoch of proportional drawing — the
    //      collect-more-before-upsampling signal ----
    Q("x199_exhaustion_report", Some(
      s"""WITH per AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(coalesce(sum(len(${tokSql("lower(text)")})), 0)
         |      AS BIGINT) AS n_tokens
         |  FROM documents GROUP BY source),
         |z AS (
         |  SELECT CAST(sum(n_tokens) AS BIGINT) AS budget,
         |    list_reduce(list_prepend(0.0, list_transform(
         |      list_sort(list(struct_pack(source := source,
         |        w := sqrt(CAST(n_tokens AS DOUBLE))))),
         |      s -> s.w)), (a, x) -> a + x) AS zz
         |  FROM per)
         |SELECT per.source, per.n_docs, per.n_tokens,
         |  floor(sqrt(CAST(n_tokens AS DOUBLE)) / zz * 10000.0 + 0.5)
         |    / 10000.0 AS weight,
         |  floor(sqrt(CAST(n_tokens AS DOUBLE)) / zz
         |    * CAST(budget AS DOUBLE) * 10000.0 + 0.5) / 10000.0
         |    AS tokens_per_epoch,
         |  floor((CASE WHEN sqrt(CAST(n_tokens AS DOUBLE)) / zz
         |        * CAST(budget AS DOUBLE) = 0.0 THEN 0.0
         |      ELSE CAST(n_tokens AS DOUBLE)
         |        / (sqrt(CAST(n_tokens AS DOUBLE)) / zz
         |          * CAST(budget AS DOUBLE)) END) * 10000.0 + 0.5)
         |    / 10000.0 AS epochs_to_exhaustion
         |FROM per, z ORDER BY source""".stripMargin),
      (s, dir) => Sampling.exhaustionReport(t(s, dir, "documents"),
        "source", "text"))
  )

  /** x128's oracle: x08's pool (same cosine text), the pool×pool sim
    * matrix, then [[Similarity.mmrTopK]]'s greedy unrolled — selu_i is
    * the selected set after i picks, m_{i+1} scores the remainder
    * against it, rank ties break on eid exactly as the driver does. */
  private def mmrTopKSql: String = {
    val cos = (av: String, bv: String) =>
      s"""round(
         |      list_sum(list_transform(generate_series(1, len($av)),
         |        i -> CAST($av[i] AS DOUBLE) * CAST($bv[i] AS DOUBLE))) /
         |      (sqrt(list_sum(list_transform($av, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
         |       sqrt(list_sum(list_transform($bv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
         |      4)""".stripMargin
    val steps = (2 to MmrK).map { i =>
      s"""m$i AS MATERIALIZED (
         |  SELECT p.qid, p.eid, $MmrLambda * p.rel - $MmrMu * max(s.s) AS mmr
         |  FROM pool p
         |  JOIN ps s ON s.qid = p.qid AND s.ea = p.eid
         |  JOIN selu${i - 1} t ON t.qid = s.qid AND t.eid = s.eb
         |  WHERE NOT EXISTS (SELECT 1 FROM selu${i - 1} x
         |                    WHERE x.qid = p.qid AND x.eid = p.eid)
         |  GROUP BY p.qid, p.eid, p.rel),
         |sel$i AS MATERIALIZED (
         |  SELECT qid, eid, $i AS rank, mmr FROM (
         |    SELECT qid, eid, mmr,
         |      row_number() OVER (PARTITION BY qid ORDER BY mmr DESC, eid) AS rn
         |    FROM m$i) WHERE rn = 1),
         |selu$i AS MATERIALIZED (SELECT qid, eid FROM selu${i - 1}
         |  UNION ALL SELECT qid, eid FROM sel$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH q AS MATERIALIZED (
       |  SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 5),
       |sims AS MATERIALIZED (
       |  SELECT qid, e.vec_id AS eid,
       |    ${cos("qv", "e.embedding")} AS rel
       |  FROM q, embeddings e),
       |pool AS MATERIALIZED (
       |  SELECT qid, eid, rel, rn FROM (
       |    SELECT *, row_number() OVER (PARTITION BY qid ORDER BY rel DESC, eid) AS rn
       |    FROM sims)
       |  WHERE rn <= $MmrPool),
       |pv AS MATERIALIZED (
       |  SELECT p.qid, p.eid, e.embedding AS v
       |  FROM pool p JOIN embeddings e ON p.eid = e.vec_id),
       |ps AS MATERIALIZED (
       |  SELECT a.qid, a.eid AS ea, b.eid AS eb,
       |    ${cos("a.v", "b.v")} AS s
       |  FROM pv a JOIN pv b ON a.qid = b.qid),
       |selu1 AS MATERIALIZED (SELECT qid, eid FROM pool WHERE rn = 1),
       |$steps
       |SELECT qid, eid, CAST(rank AS INT) AS rank,
       |  floor(mmr * 10000.0 + 0.5) / 10000.0 AS mmr
       |FROM (
       |  SELECT qid, eid, 1 AS rank, CAST(rel AS DOUBLE) AS mmr
       |  FROM pool WHERE rn = 1
       |  ${(2 to MmrK).map(i => s"UNION ALL SELECT qid, eid, $i, mmr FROM sel$i").mkString("\n  ")})
       |ORDER BY qid, rank""".stripMargin
  }

  /** x126's oracle — replays [[Sketches.hllRegisters]]/[[Sketches.hllEstimate]]
    * from the shared md5 hash: p low bits pick the register, the
    * remaining-bit bit-LENGTH (string `bin()`, no float log2) gives rho,
    * the harmonic sum is the exact integer Σ 2^(maxRho−reg), and the
    * only float ops (one division, the α formula, ln) are written as
    * the same IEEE expression tree the Spark side builds. */
  private def hllDistinctSql: String = {
    val m = 1 << HllP
    val maxRho = 60 - HllP + 1
    val pow = 1L << maxRho
    s"""WITH tok AS (
       |  SELECT source, unnest(${tokSql("text")}) AS tk FROM documents),
       |hh AS (
       |  SELECT DISTINCT source,
       |    ('0x' || substr(md5(tk), 1, 15))::BIGINT AS h FROM tok),
       |rg AS (
       |  SELECT source, h % $m AS bucket,
       |    max(CASE WHEN (h >> $HllP) = 0 THEN $maxRho
       |        ELSE $maxRho - length(bin(h >> $HllP)) END) AS reg
       |  FROM hh GROUP BY source, bucket),
       |r2 AS (
       |  SELECT source, reg FROM rg
       |  UNION ALL
       |  SELECT '__ALL__' AS source, max(reg) AS reg FROM rg GROUP BY bucket),
       |es AS (
       |  SELECT source,
       |    CAST(sum(1::BIGINT << ($maxRho - reg)) AS BIGINT)
       |      + ($m - count(*)) * (1::BIGINT << $maxRho) AS s,
       |    CAST($m - count(*) AS BIGINT) AS zeros
       |  FROM r2 GROUP BY source),
       |nd AS (
       |  SELECT source, count(*) AS n_distinct FROM hh GROUP BY source
       |  UNION ALL
       |  SELECT '__ALL__', count(DISTINCT h) FROM hh)
       |SELECT es.source, nd.n_distinct, es.zeros,
       |  floor((CASE WHEN raw <= 2.5 * $m.0 AND zeros > 0
       |         THEN $m.0 * ln($m.0 / CAST(zeros AS DOUBLE))
       |         ELSE raw END) * 10000.0 + 0.5) / 10000.0 AS est
       |FROM (SELECT source, s, zeros,
       |        0.7213 / (1.0 + 1.079 / $m.0) * $m.0 * $m.0 /
       |          (CAST(s AS DOUBLE) / $pow.0) AS raw
       |      FROM es) es JOIN nd USING (source)
       |ORDER BY source""".stripMargin
  }

  /** The x122/x123 oracle, parameterized by span width — mirrors
    * [[RepeatedSpans.stripSpans]] including BOTH 60-bit md5 lanes of
    * the 120-bit span-identity hash (removal must not act on a
    * single-lane collision; see the operator's scaladoc for the
    * birthday math). */
  private def stripSpansSql(k: Int): String =
    s"""WITH tk AS (
       |  SELECT doc_id, ${tokSql("text")} AS t FROM documents),
       |base AS (
       |  SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tok, t FROM tk),
       |g AS (
       |  SELECT doc_id, i AS pos,
       |    ('0x' || substr(md5(array_to_string(t[i+1:i+$k], ' ')), 1, 15))::BIGINT AS h,
       |    ('0x' || substr(md5(array_to_string(t[i+1:i+$k], ' ')), 16, 15))::BIGINT AS h2
       |  FROM base, unnest(generate_series(0, CAST(n_tok AS INTEGER) - $k)) AS u(i)),
       |r AS (
       |  SELECT doc_id, pos,
       |    count(*) OVER (PARTITION BY h, h2) AS c,
       |    row_number() OVER (PARTITION BY h, h2 ORDER BY doc_id, pos) AS rn
       |  FROM g),
       |rem AS (
       |  SELECT DISTINCT doc_id, p
       |  FROM r, unnest(generate_series(pos, pos + ${k - 1})) AS v(p)
       |  WHERE c >= 2 AND rn > 1),
       |e AS (
       |  SELECT doc_id, i - 1 AS p, t[i] AS tok
       |  FROM base, unnest(generate_series(1, CAST(n_tok AS INTEGER))) AS u(i)),
       |kept AS (
       |  SELECT e.doc_id, e.p, e.tok
       |  FROM e ANTI JOIN rem ON e.doc_id = rem.doc_id AND e.p = rem.p),
       |kc AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
       |    string_agg(tok, ' ' ORDER BY p) AS clean_text
       |  FROM kept GROUP BY doc_id)
       |SELECT b.doc_id, b.n_tok,
       |  b.n_tok - coalesce(kc.n_kept, 0) AS n_removed,
       |  coalesce(kc.clean_text, '') AS clean_text
       |FROM base b LEFT JOIN kc USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  /** The SQL of a base query, for a store-probe twin that must match
    * it byte-for-byte (a lookup, not a copy: the twin cannot drift). */
  private def sqlOf(name: String): Option[String] = {
    val q = base.find(_.name == name)
      .getOrElse(sys.error(s"store-probe twin references unknown $name"))
    Some(q.sql.getOrElse(sys.error(s"$name has no oracle SQL to share")))
  }

  /** Every scratch dir a catalog query creates, deleted on JVM exit: a
    * long-lived JVM running many verification passes must not
    * accumulate one table copy per query invocation. Exit-time (not
    * per-query) deletion because stores are re-read within an
    * invocation, by store-probe twins, and by repeated catalog runs in
    * one session. */
  private val scratchDirs =
    java.util.concurrent.ConcurrentHashMap.newKeySet[java.nio.file.Path]()
  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      scratchDirs.forEach(p => deleteTree(p)); scratchDirs.clear()
    }, "graft-scratch-sweep"))
  }

  private def deleteTree(root: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(root)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(root).iterator().asScala.toSeq
        .sortBy(-_.getNameCount) // children before parents
        .foreach(p => try java.nio.file.Files.deleteIfExists(p)
          catch { case _: java.io.IOException => () })
    }

  private def tmp(prefix: String): String = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    scratchDirs.add(p)
    p.toString
  }

  /** Persisted-index-artifact queries (x115–x118): each trains the
    * artifact its base query trains IN-QUERY, publishes it through
    * [[ArtifactStore]]'s atomic versioned store, reads it back, and
    * probes with the STORED copy — under the base query's EXACT oracle
    * SQL ([[sqlOf]]), so "probe-from-store ≡ train-in-query" is a
    * hash-checked result, not a claim. Publishing twice (v1 then v2,
    * identical contents) also exercises the pointer flip + retention
    * on every verification run, not just in the spec. At 100 TB the
    * training halves of these queries move to write time and the probe
    * halves are the whole read cost — ScaleStress's artifact-probe row
    * measures that split. */
  private val storeProbes: Seq[Q] = Seq(
    Q("x115_ivf_store_probe", sqlOf("x17_ivf_topk"),
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val store = tmp("graft-ivf-store")
        val cents = Similarity.kmeansCentroids(
          emb, "vec_id", "embedding", k = 16, iters = 2)
        ArtifactStore.publish(s, store, cents)
        ArtifactStore.publish(s, store, cents) // supersede: flip to v2
        Similarity.ivfTopKWith(emb.filter(col("vec_id") < 5), emb,
          "vec_id", "embedding", k = 10,
          ArtifactStore.load(s, store), nProbe = 2)
      }),

    // the next maintenance step past x115: not just the CENTROIDS but
    // the ASSIGNMENT moves to write time — postings appended batch by
    // batch against the stored centroids, probed with zero in-query
    // assignment. Same oracle as x17/x115: batchwise assignment against
    // fixed centroids is a pure per-row function, so the union of three
    // disjoint batches' postings IS the from-scratch index.
    Q("x134_ivf_incremental", sqlOf("x17_ivf_topk"),
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val centStore = tmp("graft-ivf-cent")
        ArtifactStore.publish(s, centStore, Similarity.kmeansCentroids(
          emb, "vec_id", "embedding", k = 16, iters = 2))
        val cents = ArtifactStore.load(s, centStore)
        val postStore = tmp("graft-ivf-post") + "/postings"
        (0 until 3).foreach { kk =>
          Similarity.appendIvfPostings(s, postStore,
            emb.filter(col("vec_id") % 3 === kk),
            "vec_id", "embedding", cents)
        }
        Similarity.ivfProbePostings(emb.filter(col("vec_id") < 5),
          "vec_id", "embedding", MergeUpsert.readPlain(s, postStore),
          k = 10, cents, nProbe = 2)
      }),

    Q("x116_pq_store_probe", sqlOf("x58_pq_adc_topk"),
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val store = tmp("graft-pq-store")
        ArtifactStore.publish(s, store, Similarity.pqCodebooks(
          emb, "vec_id", "embedding", m = 4, k = 8, iters = 1))
        Similarity.pqTopKWith(emb.filter(col("vec_id") < 5), emb,
          "vec_id", "embedding", k = 10,
          ArtifactStore.load(s, store), m = 4)
      }),

    Q("x117_bpe_store_probe", sqlOf("x75_bpe_encode"),
      (s, dir) => {
        val store = tmp("graft-bpe-store")
        ArtifactStore.publish(s, store, bpeTrained(s, dir)._2)
        graft.operators.Bpe.encodeStats(t(s, dir, "documents"),
            "doc_id", "text", ArtifactStore.load(s, store))
          .orderBy("doc_id")
      }),

    Q("x118_bloom_store_probe", sqlOf("x51_bloom_contamination"),
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val store = tmp("graft-bloom-store")
        ArtifactStore.publish(s, store, BloomFilter.trainBloom(
          docs.filter(col("doc_id") % 29 === 0), "text",
          shingleN = 5, m = BloomM, k = BloomK))
        BloomFilter.flagBloomWith(
          docs.filter(col("doc_id") % 29 =!= 0), "doc_id", "text",
          ArtifactStore.load(s, store),
          shingleN = 5, m = BloomM, k = BloomK)
          .orderBy("doc_id")
      })
  )

  /** Round-10 additions: the ANN-composed margin miner (closing the
    * x178 scale story with a green row) and the streaming twin of the
    * native session_window aggregation. */
  private val roundTen: Seq[Q] = Seq(

    // ---- margin mining over STORED-IVF candidates — the production
    //      composition x178's scaladoc promises: centroids trained and
    //      postings assigned at write time (ArtifactStore, the x115/
    //      x134 pattern), each left row probes 2 centroid lists and
    //      scores MarginCandK candidates, and the SAME margin math
    //      (Similarity.marginOverCandidates — shared verbatim with the
    //      exact baseline) runs over the candidate GRAPH. Cost is
    //      O(|A|·k) edges, linear in the corpus — ScaleStress carries
    //      the measured linear-vs-quadratic row. The oracle replays
    //      k-means training, assignment, probing, candidate ranking
    //      and the margin CTEs end to end ----
    Q("x200_margin_over_ann", Some(
      s"""WITH bb AS (
         |  SELECT vec_id, embedding FROM embeddings WHERE label % 2 = 1),
         |aa AS (
         |  SELECT vec_id, embedding FROM embeddings WHERE label % 2 = 0),
         |${kmeansCentSqlFor(16, 2, identity, "", "bb")},
         |cent AS (SELECT cid, cvec FROM cent2),
         |eassign AS (
         |  SELECT eid, ev, cid FROM (
         |    SELECT e.vec_id AS eid, e.embedding AS ev, c.cid,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${cosineSql("e.embedding", "c.cvec", 6)} DESC, c.cid) AS rn
         |    FROM bb e, cent c)
         |  WHERE rn = 1),
         |qprobe AS (
         |  SELECT qid, qv, cid FROM (
         |    SELECT q.vec_id AS qid, q.embedding AS qv, c.cid,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY ${cosineSql("q.embedding", "c.cvec", 6)} DESC, c.cid) AS rn
         |    FROM aa q, cent c)
         |  WHERE rn <= 2),
         |cand0 AS (
         |  SELECT DISTINCT qid, eid, ${cosineSql("qv", "ev")} AS sim
         |  FROM qprobe JOIN eassign USING (cid)),
         |cand AS (
         |  SELECT qid AS aid, eid AS bid, sim FROM (
         |    SELECT *, row_number() OVER (PARTITION BY qid
         |      ORDER BY sim DESC, eid) AS rn FROM cand0)
         |  WHERE rn <= $MarginCandK),
         |ka AS (
         |  SELECT aid,
         |    CAST(sum(CAST(floor(sim * 10000.0 + 0.5) AS BIGINT))
         |      AS DOUBLE) / (CAST(count(*) AS DOUBLE) * 10000.0) AS avg_a
         |  FROM (SELECT aid, sim, row_number() OVER (PARTITION BY aid
         |      ORDER BY sim DESC, bid) AS rn FROM cand)
         |  WHERE rn <= $MarginK GROUP BY aid),
         |kb AS (
         |  SELECT bid,
         |    CAST(sum(CAST(floor(sim * 10000.0 + 0.5) AS BIGINT))
         |      AS DOUBLE) / (CAST(count(*) AS DOUBLE) * 10000.0) AS avg_b
         |  FROM (SELECT bid, sim, row_number() OVER (PARTITION BY bid
         |      ORDER BY sim DESC, aid) AS rn FROM cand)
         |  WHERE rn <= $MarginK GROUP BY bid),
         |scq AS (
         |  SELECT s.aid, s.bid, s.sim,
         |    floor((CASE WHEN (ka.avg_a + kb.avg_b) / 2.0 = 0.0 THEN 0.0
         |        ELSE s.sim / ((ka.avg_a + kb.avg_b) / 2.0) END + 1000.0)
         |      * 10000.0 + 0.5) / 10000.0 - 1000.0 AS margin
         |  FROM cand s JOIN ka USING (aid) JOIN kb USING (bid))
         |SELECT aid, bid, sim, margin FROM (
         |  SELECT *, row_number() OVER (PARTITION BY aid
         |    ORDER BY margin DESC, bid) AS rn FROM scq)
         |WHERE rn = 1 ORDER BY aid""".stripMargin),
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val aSide = emb.filter(col("label") % 2 === 0)
        val bSide = emb.filter(col("label") % 2 === 1)
        // index sized to the corpus (~√n lists, the FAISS rule — the
        // ScaleStress lesson: a fixed list count degrades the linear
        // path back toward n²/k). At the oracle's sf0.01 scale this
        // resolves to exactly the oracle's 16, so parity is exact
        // where parity is checked; larger corpora probe
        // proportionally narrower lists.
        val kCents = math.max(16,
          (math.sqrt(bSide.count().toDouble) / 2).toInt)
        val centStore = tmp("graft-margin-cent")
        ArtifactStore.publish(s, centStore, Similarity.kmeansCentroids(
          bSide, "vec_id", "embedding", k = kCents, iters = 2))
        val cents = ArtifactStore.load(s, centStore)
        val postStore = tmp("graft-margin-post") + "/postings"
        Similarity.appendIvfPostings(s, postStore, bSide,
          "vec_id", "embedding", cents)
        val cands = Similarity.ivfProbePostings(aSide, "vec_id",
          "embedding", MergeUpsert.readPlain(s, postStore),
          k = MarginCandK, cents, nProbe = 2)
        Similarity.marginOverCandidates(
          cands.select(col("qid").as("aid"), col("eid").as("bid"),
            col("sim")),
          k = MarginK)
      }),

    // ---- streaming session_window: x197's native merging-window agg
    //      run as a watermarked file-arrival stream (append mode,
    //      foreachBatch parquet sink), drained by a far-future sentinel
    //      heartbeat — under x197's byte-identical batch oracle, so
    //      "streamed ≡ batch" is a hash-checked result (the x115
    //      store-probe precedent applied to stateful streaming) ----
    Q("x201_stream_sessions", sqlOf("x197_session_window"),
      (s, dir) => {
        import graft.streaming.StreamSessions
        val work = tmp("graft-sess")
        // staging is a FIXTURE (one per session×dir), not the measured
        // op: every drain replays the same staged arrival bytes against
        // a fresh checkpoint + sink
        StreamSessions.sessionsAvailableNow(s,
          stagedSessionArrivals(s, dir),
          eventArrivalSchema, s"$work/out", s"$work/cp")
      }),

    // ---- manifest-backed point lookup (the Delta/Iceberg core,
    //      closing MergeStress's "listing-dominated" finding): the
    //      date-partitioned events table is created and incrementally
    //      merged through mergeWriteManifested — every publish refreshes
    //      a per-file (partition, rows, key lo/hi) manifest through the
    //      atomic _CURRENT store — and the range lookup plans from the
    //      manifest's zones, reading zero directory listings and (the
    //      in-query require) a strict subset of files. Oracle = the
    //      plain filter; the redelivered second batch also proves the
    //      merge stayed idempotent under manifest maintenance ----
    Q("x202_manifest_lookup", Some(
      s"""SELECT event_id, user_id, event_type,
         |  floor(value * 10000.0 + 0.5) / 10000.0 AS value
         |FROM events WHERE event_id BETWEEN $ManifestLookupLo AND $ManifestLookupHi
         |ORDER BY event_id""".stripMargin),
      (s, dir) => {
        val work = tmp("graft-manifest")
        val ev = eventsNs(s, dir).select(col("event_id"), col("user_id"),
          col("event_type"),
          TextFunctions.portableRound(col("value"), 4).as("value"),
          to_date(timestamp_micros(expr("ts DIV 1000"))).cast("string")
            .as("date"))
        val path = s"$work/events_table"
        TableManifest.mergeWriteManifested(s, path, ev,
          keys = Seq("event_id"))
        // redeliver a slice (idempotent merge + O(touched) manifest
        // refresh — the incremental path, not just the bootstrap)
        TableManifest.mergeWriteManifested(s, path,
          ev.filter(col("event_id") % 7 === 0), keys = Seq("event_id"))
        val (hit, rep) = TableManifest.lookup(s, path, "event_id",
          ManifestLookupLo, ManifestLookupHi)
        require(rep.filesKept < rep.filesTotal,
          s"manifest zones must prune files for a narrow key range, " +
            s"got $rep")
        hit.select("event_id", "user_id", "event_type", "value")
          .orderBy("event_id")
      }),

    // ---- Krippendorff's α over the x165 voter ensemble — the third
    //      agreement gauge (Cohen 2 raters, Fleiss n raters with a
    //      per-rater chance model, α with the pooled-judgment chance
    //      model): exact long sums to one final ratio, same fragments
    //      as x187 so the voters cannot drift ----
    Q("x203_krippendorff_alpha", Some(
      s"""WITH q AS (
         |  SELECT doc_id, $qualityFormulaSql AS quality
         |  FROM (SELECT doc_id, $qualityStatsSql FROM documents)),
         |${classifierCtes("documents")},
         |${gopherKeepCtes("documents")},
         |v AS (
         |  SELECT q.doc_id,
         |    (CASE WHEN q.quality >= 0.5 THEN 1 ELSE 0 END
         |     + CASE WHEN cp.cls_prob >= 0.5 THEN 1 ELSE 0 END
         |     + CASE WHEN g.keep THEN 1 ELSE 0 END) AS k
         |  FROM q JOIN cp USING (doc_id) JOIN g USING (doc_id)),
         |agg AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(k) AS BIGINT) AS y,
         |    CAST(sum(k * (3 - k)) AS BIGINT) AS dis
         |  FROM v),
         |raw AS (
         |  SELECT n, n * 3 AS nn, y, dis,
         |    2.0 * CAST(dis AS DOUBLE) / (CAST(n AS DOUBLE) * 6.0)
         |      AS do_raw,
         |    2.0 * CAST(y AS DOUBLE) * CAST(n * 3 - y AS DOUBLE)
         |      / (CAST(n * 3 AS DOUBLE) * CAST(n * 3 - 1 AS DOUBLE))
         |      AS de_raw
         |  FROM agg)
         |SELECT n AS n_items, CAST(nn AS BIGINT) AS n_judgments,
         |  y AS n_yes,
         |  floor(do_raw * 10000.0 + 0.5) / 10000.0 AS d_o,
         |  floor(de_raw * 10000.0 + 0.5) / 10000.0 AS d_e,
         |  floor((CASE WHEN nn <= 1 OR de_raw = 0.0
         |      THEN (CASE WHEN do_raw = 0.0 THEN 1.0 ELSE 0.0 END)
         |      ELSE 1.0 - do_raw / de_raw END + 1000.0)
         |    * 10000.0 + 0.5) / 10000.0 - 1000.0 AS alpha
         |FROM raw""".stripMargin),
      (s, dir) => {
        import graft.functions.QualityRules
        val votes = t(s, dir, "documents").select(
          ((TextFunctions.qualityScore(col("text")) >= 0.5).cast("int")
            + (TextFunctions.classifierProb(col("text")) >= 0.5).cast("int")
            + QualityRules.gopherKeep(
              QualityRules.tokenStats(col("text"))).cast("int"))
            .as("n_yes"))
        LabelQuality.krippendorffAlpha(votes, "n_yes", raters = 3)
      }),

    // ---- Dirichlet-smoothed query likelihood (Zhai–Lafferty): the
    //      language-modeling ranker next to BM25 (x63) and tf·idf
    //      (x103's second arm) — every document scores finitely via
    //      collection-model backoff. Collection stats ship as exact
    //      integer literals on the Spark side; the oracle recomputes
    //      them from the same corpus ----
    Q("x204_query_likelihood", Some({
      val terms = Bm25Terms.zipWithIndex
      val tfCols = terms.map { case (t, i) =>
        s"sum(CASE WHEN term = '$t' THEN 1 ELSE 0 END) AS tf$i" }
        .mkString(", ")
      val cfCols = terms.map { case (t, i) =>
        s"CAST(sum(CASE WHEN term = '$t' THEN 1 ELSE 0 END) AS BIGINT) AS cf$i" }
        .mkString(", ")
      val inList = Bm25Terms.map(t => s"'$t'").mkString(", ")
      val scoreSum = terms.map { case (_, i) =>
        s"""log2((coalesce(tf.tf$i, 0) + $QlMu * CAST(cf.cf$i AS DOUBLE)
           |      / CAST(tot.total AS DOUBLE))
           |    / (CAST(dl.dl AS DOUBLE) + $QlMu))""".stripMargin }
        .mkString(" + ")
      s"""WITH dl AS (
         |  SELECT doc_id, CAST(len(${tokSql("lower(text)")}) AS BIGINT)
         |    AS dl
         |  FROM documents),
         |tot AS (SELECT CAST(sum(dl) AS BIGINT) AS total FROM dl),
         |tk AS (
         |  SELECT doc_id, unnest(${tokSql("lower(text)")}) AS term
         |  FROM documents),
         |tf AS (
         |  SELECT doc_id, $tfCols FROM tk
         |  WHERE term IN ($inList) GROUP BY doc_id),
         |cf AS (SELECT $cfCols FROM tk),
         |scored AS (
         |  SELECT dl.doc_id,
         |    floor(($scoreSum + 1000.0) * 10000.0 + 0.5) / 10000.0
         |      - 1000.0 AS score
         |  FROM dl LEFT JOIN tf USING (doc_id), tot, cf)
         |SELECT doc_id, score, rn FROM (
         |  SELECT *, CAST(row_number() OVER (ORDER BY score DESC, doc_id)
         |    AS INT) AS rn
         |  FROM scored)
         |WHERE rn <= 20 ORDER BY rn""".stripMargin
    }),
      (s, dir) => TfIdf.queryLikelihoodTopK(t(s, dir, "documents"),
        "doc_id", "text", Bm25Terms, k = 20, mu = QlMu)),

    // ---- HITS hubs/authorities on the user→event-type bipartite
    //      graph — PageRank's two-sided complement (x69 scores one
    //      node set; HITS separates prolific pointers from heavily
    //      pointed-at). Fixed iterations, SortedSumD folds, sum
    //      normalization re-rounded per half-step, oracle unrolled
    //      CTE by CTE (the x69 replay discipline) ----
    Q("x205_hits_authority", {
      val fold = (c: String) =>
        s"list_reduce(list_prepend(0.0, list_sort(list($c))), (a, x) -> a + x)"
      val iters = (1 to HitsIters).map { i =>
        s"""ar$i AS (
           |  SELECT e.auth, ${fold(s"h${i - 1}.h")} AS s
           |  FROM e JOIN h${i - 1} USING (hub) GROUP BY e.auth),
           |az$i AS (SELECT ${fold("s")} AS z FROM ar$i),
           |a$i AS (
           |  SELECT auth, floor(s / z * 1000000.0 + 0.5) / 1000000.0 AS a
           |  FROM ar$i, az$i),
           |hr$i AS (
           |  SELECT e.hub, ${fold(s"a$i.a")} AS s
           |  FROM e JOIN a$i USING (auth) GROUP BY e.hub),
           |hz$i AS (SELECT ${fold("s")} AS z FROM hr$i),
           |h$i AS (
           |  SELECT hub, floor(s / z * 1000000.0 + 0.5) / 1000000.0 AS h
           |  FROM hr$i, hz$i)""".stripMargin
      }.mkString(",\n")
      Some(
        s"""WITH e AS (
           |  SELECT DISTINCT user_id AS hub, event_type AS auth
           |  FROM events),
           |h0 AS (SELECT DISTINCT hub, CAST(1.0 AS DOUBLE) AS h FROM e),
           |$iters
           |SELECT a.auth AS event_type, nu.n_users, a.a AS authority
           |FROM a$HitsIters a JOIN (
           |  SELECT auth, CAST(count(*) AS BIGINT) AS n_users
           |  FROM e GROUP BY auth) nu USING (auth)
           |ORDER BY event_type""".stripMargin)
    },
      (s, dir) => {
        val ev = ReferenceCatalog.events(s, dir)
        val auth = GraphRank.hits(ev, "user_id", "event_type",
          iters = HitsIters)
        val nu = ev.select(col("user_id").as("hub"),
            col("event_type").as("auth")).distinct()
          .groupBy("auth").agg(count(lit(1)).as("n_users"))
        auth.join(nu, Seq("auth"))
          .select(col("auth").as("event_type"), col("n_users"),
            col("authority"))
          .orderBy("event_type")
      }),

    // ---- Dunning log-likelihood (G²) keyness: each source's
    //      signature vocabulary vs the rest of the corpus — the
    //      corpus-linguistics keyword extractor, sharper than
    //      frequency ratios for rare terms. Exact counts into one
    //      IEEE ln tree; over-representation gated by integer
    //      compares; bounded per-source rank ----
    Q("x206_keyness_g2", Some(
      s"""WITH tc AS (
         |  SELECT source AS grp, t, CAST(count(*) AS BIGINT) AS a
         |  FROM (SELECT source, unnest(${tokSql("lower(text)")}) AS t
         |        FROM documents)
         |  GROUP BY 1, 2),
         |gt AS (SELECT grp, CAST(sum(a) AS BIGINT) AS ng FROM tc
         |  GROUP BY grp),
         |tt AS (SELECT t, CAST(sum(a) AS BIGINT) AS ab FROM tc
         |  GROUP BY t),
         |na AS (SELECT CAST(sum(ng) AS BIGINT) AS n FROM gt),
         |j AS (
         |  SELECT tc.grp, tc.t, tc.a, tt.ab - tc.a AS b, gt.ng,
         |    na.n - gt.ng AS nr, na.n AS n, tt.ab
         |  FROM tc JOIN gt USING (grp) JOIN tt USING (t), na
         |  WHERE tc.a * na.n > tt.ab * gt.ng),
         |sc AS (
         |  SELECT grp, t, a, b,
         |    floor(2.0 * (
         |      (CASE WHEN a = 0 THEN 0.0
         |        ELSE CAST(a AS DOUBLE) * ln(CAST(a AS DOUBLE)
         |          / (CAST(ab AS DOUBLE) * CAST(ng AS DOUBLE)
         |             / CAST(n AS DOUBLE))) END)
         |      + (CASE WHEN b = 0 THEN 0.0
         |        ELSE CAST(b AS DOUBLE) * ln(CAST(b AS DOUBLE)
         |          / (CAST(ab AS DOUBLE) * CAST(nr AS DOUBLE)
         |             / CAST(n AS DOUBLE))) END))
         |      * 10000.0 + 0.5) / 10000.0 AS g2
         |  FROM j)
         |SELECT grp AS source, t AS term, a AS n_source, b AS n_rest,
         |  g2, rn
         |FROM (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY grp
         |    ORDER BY g2 DESC, t) AS INT) AS rn
         |  FROM sc)
         |WHERE rn <= $KeynessK ORDER BY source, rn""".stripMargin),
      (s, dir) => CorpusStats.keynessG2(t(s, dir, "documents"),
          "source", "text", k = KeynessK)
        .select(col("grp").as("source"), col("t").as("term"),
          col("a").as("n_source"), col("b").as("n_rest"), col("g2"),
          col("rn").cast("int").as("rn"))
        .orderBy("source", "rn")),

    // ---- Flesch–Kincaid readability: words (shared tokenizer),
    //      sentences (x157's portable segmentation regex), syllables
    //      (vowel runs — the standard regex approximation); the grade
    //      formula over exact integer counts, NULL when there is
    //      nothing to grade ----
    Q("x207_readability", Some(
      s"""SELECT doc_id, n_words, n_sentences, n_syllables,
         |  CASE WHEN n_words = 0 OR n_sentences = 0 THEN NULL
         |    ELSE floor((0.39 * CAST(n_words AS DOUBLE)
         |        / CAST(n_sentences AS DOUBLE)
         |      + 11.8 * CAST(n_syllables AS DOUBLE)
         |        / CAST(n_words AS DOUBLE)
         |      - 15.59 + 1000.0) * 10000.0 + 0.5) / 10000.0 - 1000.0
         |    END AS fk_grade
         |FROM (
         |  SELECT doc_id,
         |    CAST(len(${tokSql("lower(text)")}) AS BIGINT) AS n_words,
         |    CAST(len(regexp_extract_all(text, '[^.!?]+[.!?]*'))
         |      AS BIGINT) AS n_sentences,
         |    CAST(len(regexp_extract_all(text, '[aeiouyAEIOUY]+'))
         |      AS BIGINT) AS n_syllables
         |  FROM documents)
         |ORDER BY doc_id""".stripMargin),
      (s, dir) => CorpusStats.readability(t(s, dir, "documents"),
        "doc_id", "text").orderBy("doc_id")),

    // ---- l-diversity release gate — x193's second lock: a
    //      k-anonymous group whose k rows all share the SENSITIVE
    //      value still leaks it (homogeneity attack). QI = nation ×
    //      balance bucket, sensitive = market segment ----
    Q("x208_l_diversity", Some(
      s"""WITH keyed AS (
         |  SELECT c_nationkey AS nation,
         |    CAST(floor(c_acctbal / 1000.0) AS INT) AS bal_bucket,
         |    c_mktsegment AS sens
         |  FROM customer),
         |grp AS (
         |  SELECT nation, bal_bucket, CAST(count(*) AS BIGINT) AS n,
         |    CAST(count(DISTINCT sens) AS BIGINT) AS l_distinct
         |  FROM keyed GROUP BY 1, 2),
         |g2 AS (SELECT *, l_distinct < $LDivL AS risky FROM grp),
         |summ AS (
         |  SELECT CAST(min(l_distinct) AS BIGINT) AS l_diversity,
         |    CAST(sum(CASE WHEN risky THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_risky_groups,
         |    CAST(sum(CASE WHEN risky THEN n ELSE 0 END) AS BIGINT)
         |      AS n_risky_rows
         |  FROM g2)
         |SELECT nation, bal_bucket, n, l_distinct, risky,
         |  l_diversity, n_risky_groups, n_risky_rows
         |FROM g2, summ
         |ORDER BY nation, bal_bucket""".stripMargin),
      (s, dir) => Privacy.lDiversity(t(s, dir, "customer"),
        Seq(col("c_nationkey"),
          floor(col("c_acctbal") / lit(1000.0)).cast("int")),
        Seq("nation", "bal_bucket"), col("c_mktsegment"), l = LDivL)),

    // ---- Matryoshka truncation eval: exact top-10 under the FIRST 16
    //      of 64 dims vs full-dim truth — the recall your index keeps
    //      if you ship the cheap prefix embedding (MRL serving). Same
    //      rounding/tiebreaks as x08; 16·4 bytes vs 64·8 per vector is
    //      the 100 TB cost lever being priced ----
    Q("x209_dim_truncation_recall", Some(
      s"""WITH q AS (
         |  SELECT vec_id AS qid, embedding AS qv FROM embeddings
         |  WHERE vec_id < 5),
         |full_t AS (
         |  SELECT qid, eid FROM (
         |    SELECT qid, e.vec_id AS eid,
         |      ${cosineSql("qv", "e.embedding")} AS sim,
         |      row_number() OVER (PARTITION BY qid ORDER BY
         |        ${cosineSql("qv", "e.embedding")} DESC, e.vec_id) AS rn
         |    FROM q, embeddings e)
         |  WHERE rn <= 10),
         |trunc_t AS (
         |  SELECT qid, eid FROM (
         |    SELECT qid, e.vec_id AS eid,
         |      row_number() OVER (PARTITION BY qid ORDER BY
         |        ${cosineSql("qv[1:16]", "e.embedding[1:16]")} DESC,
         |        e.vec_id) AS rn
         |    FROM q, embeddings e)
         |  WHERE rn <= 10)
         |SELECT f.qid, CAST(count(tr.eid) AS BIGINT) AS n_hits,
         |  floor(CAST(count(tr.eid) AS DOUBLE) / 10.0 * 10000.0 + 0.5)
         |    / 10000.0 AS recall
         |FROM full_t f LEFT JOIN trunc_t tr
         |  ON f.qid = tr.qid AND f.eid = tr.eid
         |GROUP BY f.qid ORDER BY f.qid""".stripMargin),
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val q = emb.filter(col("vec_id") < 5)
        val truth = Similarity.bruteForceTopK(q, emb, "vec_id",
          "embedding", k = 10).select("qid", "eid")
        val qt = q.select(col("vec_id"),
          slice(col("embedding"), 1, 16).as("embedding"))
        val et = emb.select(col("vec_id"),
          slice(col("embedding"), 1, 16).as("embedding"))
        val approx = Similarity.bruteForceTopK(qt, et, "vec_id",
          "embedding", k = 10).select(col("qid"), col("eid").as("teid"))
        truth.join(approx,
            truth("qid") === approx("qid") && col("eid") === col("teid"),
            "left")
          .groupBy(truth("qid").as("qid"))
          .agg(count(col("teid")).as("n_hits"),
            TextFunctions.portableRound(
              count(col("teid")).cast("double") / lit(10.0), 4)
              .as("recall"))
          .orderBy("qid")
      }),

    // ---- incrementally maintained count–min store: three disjoint
    //      batches' grids merged ADDITIVELY through the versioned
    //      store (cell sums are exact under any append order), probed
    //      with the stored grid under x85's byte-identical oracle —
    //      the x134 maintenance step for frequency state ----
    Q("x210_incremental_cms", sqlOf("x85_cms_topk"),
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val store = tmp("graft-cms-store") + "/sketch"
        (0 until 3).foreach { kk =>
          Sketches.appendCms(s, store, docs.filter(col("doc_id") % 3 === kk),
            "text", depth = CmsDepth, width = CmsWidth.toInt)
        }
        Sketches.cmsTopKWith(docs, "text",
          MergeUpsert.readPlain(s, store),
          depth = CmsDepth, width = CmsWidth.toInt, k = CmsTopK)
      }),

    // ---- replayable per-group reservoir sample: salted-hash rank
    //      inside each source, keep k — the unbiased-draw sibling of
    //      x68's quality-ranked cap, with the fixed-salt replay
    //      property a streaming reservoir cannot give ----
    Q("x211_reservoir_sample", Some(
      s"""SELECT source, doc_id, rk FROM (
         |  SELECT source, doc_id,
         |    CAST(row_number() OVER (PARTITION BY source ORDER BY
         |      ${h60Sql("'res:v1:' || CAST(doc_id AS VARCHAR)",
                1152921504606846976L)}, doc_id) AS INT) AS rk
         |  FROM documents)
         |WHERE rk <= $ReservoirK ORDER BY source, doc_id""".stripMargin),
      (s, dir) => Sampling.reservoirPerGroup(t(s, dir, "documents"),
          "doc_id", "source", k = ReservoirK)
        .select("source", "doc_id", "rk")
        .orderBy("source", "doc_id")),

    // ---- word2vec negative-sampling table: count^0.75 flattening
    //      (two correctly-rounded sqrts), per-term weights quantized
    //      to exact ×10⁶ longs so the normalizer is an integer sum
    //      over the WHOLE vocabulary ----
    Q("x212_negative_sampling", Some(
      s"""WITH tc AS (
         |  SELECT term, CAST(count(*) AS BIGINT) AS cnt FROM (
         |    SELECT unnest(${tokSql("lower(text)")}) AS term
         |    FROM documents)
         |  GROUP BY term),
         |wq AS (
         |  SELECT term, cnt,
         |    CAST(floor(sqrt(CAST(cnt AS DOUBLE))
         |      * sqrt(sqrt(CAST(cnt AS DOUBLE)))
         |      * 1000000.0 + 0.5) AS BIGINT) AS wq
         |  FROM tc),
         |z AS (SELECT CAST(sum(wq) AS BIGINT) AS z FROM wq),
         |top AS (
         |  SELECT term, cnt,
         |    floor(CAST(wq AS DOUBLE) / CAST(z AS DOUBLE)
         |      * 1000000.0 + 0.5) / 1000000.0 AS share
         |  FROM wq, z ORDER BY cnt DESC, term LIMIT $NegSampleN)
         |SELECT term, cnt, share,
         |  CAST(row_number() OVER (ORDER BY cnt DESC, term) AS INT) AS rn
         |FROM top ORDER BY rn""".stripMargin),
      (s, dir) => Sampling.negativeSamplingTable(t(s, dir, "documents"),
        "text", n = NegSampleN)),

    // ---- ε-DP Laplace count release with REPLAYABLE salted noise
    //      (inverse-CDF from two md5 lanes): the mechanism is real and
    //      cross-engine bit-reproducible; production supplies a fresh
    //      secret salt per release (see Privacy.laplaceNoisedCounts's
    //      contract — fixed noise across releases composes like none) ----
    Q("x213_laplace_release", Some(
      s"""WITH g AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS n
         |  FROM documents GROUP BY source),
         |x AS (
         |  SELECT source, n,
         |    (CAST(${h60Sql("'lap:v1:' || source", 1152921504606846976L)}
         |      AS DOUBLE) + 1.0) / 1152921504606846976.0 AS u,
         |    CASE WHEN ${h60Sql("'lapsign:v1:' || source",
                1152921504606846976L)} % 2 = 0
         |      THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE)
         |      END AS sgn
         |  FROM g)
         |SELECT source, n,
         |  greatest(n + CAST(floor(sgn * (0.0 - ln(u)) / $LapEps + 0.5)
         |    AS BIGINT), 0) AS noised_n,
         |  CAST($LapEps AS DOUBLE) AS epsilon
         |FROM x ORDER BY source""".stripMargin),
      (s, dir) => Privacy.laplaceNoisedCounts(t(s, dir, "documents"),
        Seq(col("source")), Seq("source"), epsilon = LapEps))
  ,

    // ---- corpus dedup-rate dashboard: the one-row summary a curation
    //      run reports (docs, verified pairs, non-trivial clusters,
    //      keepers, dropped, dup rate, largest clique) — rides the
    //      memoized x16/x18 stages, pure aggregates on top ----
    Q("x214_dedup_report", Some(
      s"""WITH RECURSIVE ${minhashPairsSql()},
         |${neardupClosureSql("documents")},
         |cl AS (
         |  SELECT node AS doc_id, min(label) AS cluster_id
         |  FROM reach GROUP BY node),
         |sizes AS (
         |  SELECT cluster_id, CAST(count(*) AS BIGINT) AS sz
         |  FROM cl GROUP BY cluster_id),
         |vp2 AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs FROM vp)
         |SELECT
         |  (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_docs,
         |  vp2.n_pairs,
         |  CAST((SELECT count(*) FROM sizes WHERE sz > 1) AS BIGINT)
         |    AS n_clusters,
         |  CAST((SELECT count(*) FROM sizes) AS BIGINT) AS n_keepers,
         |  CAST((SELECT coalesce(sum(sz - 1), 0) FROM sizes) AS BIGINT)
         |    AS n_dropped,
         |  floor(CAST((SELECT coalesce(sum(sz - 1), 0) FROM sizes)
         |      AS DOUBLE)
         |    / CAST((SELECT count(*) FROM documents) AS DOUBLE)
         |    * 10000.0 + 0.5) / 10000.0 AS dup_rate,
         |  CAST((SELECT max(sz) FROM sizes) AS BIGINT)
         |    AS largest_cluster
         |FROM vp2""".stripMargin),
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val nDocs = broadcast(docs.agg(count(lit(1)).as("n_docs")))
        val nPairs = broadcast(verifiedPairs(s, dir)
          .agg(count(lit(1)).as("n_pairs")))
        val sizes = docClusters(s, dir).groupBy("cluster_id")
          .agg(count(lit(1)).as("sz"))
        val cs = broadcast(sizes.agg(
          sum(when(col("sz") > 1, lit(1L)).otherwise(lit(0L)))
            .as("n_clusters"),
          count(lit(1)).as("n_keepers"),
          coalesce(sum(col("sz") - lit(1L)), lit(0L)).as("n_dropped"),
          max(col("sz")).as("largest_cluster")))
        nDocs.crossJoin(nPairs).crossJoin(cs)
          .select(col("n_docs"), col("n_pairs"), col("n_clusters"),
            col("n_keepers"), col("n_dropped"),
            TextFunctions.portableRound(
              col("n_dropped").cast("double") /
                col("n_docs").cast("double"), 4).as("dup_rate"),
            col("largest_cluster"))
      })
  )

  /** x215's t-closeness threshold; the risk compare runs on the
    * quantized TVD long against ⌊t·2·10⁸⌋ (see Privacy.tCloseness). */
  private val TClsT = 0.2
  private val TClsTq: Long = math.round(TClsT * 2.0e8)

  /** x216's UniMax parameters: epoch cap 2, budget = 1.8× corpus
    * tokens — at the natural corpus this caps the smallest sources and
    * leaves the rest budget-bound, exercising both waterfill branches. */
  private val UxEpochs = 2
  private val UxNum = 9L
  private val UxDen = 5L

  /** x220's Kneser–Ney absolute discount, shared with the oracle SQL
    * (interpolated as the literal 0.75 into both trees). */
  private val KnD = 0.75

  /** x229's bootstrap replicate count (CI endpoints are the ⌈B/40⌉ and
    * ⌈39B/40⌉ order statistics — at B = 20, min and max). */
  private val BootB = 20

  private val roundTenB: Seq[Q] = Seq(

    // ---- t-closeness release gate — the third privacy lock after
    //      x193 (k-anonymity) and x208 (l-diversity): a group that is
    //      k-anonymous and l-diverse still leaks when its sensitive
    //      DISTRIBUTION skews from the global one. TVD over the
    //      sensitive domain, per-term quantized to ×10⁸ longs so the
    //      group sum is order-free (the ESS discipline) ----
    Q("x215_t_closeness", Some(
      s"""WITH keyed AS (
         |  SELECT c_nationkey AS nation,
         |    CAST(floor(c_acctbal / 1000.0) AS INT) AS bal_bucket,
         |    c_mktsegment AS sens
         |  FROM customer),
         |grp AS (
         |  SELECT nation, bal_bucket, CAST(count(*) AS BIGINT) AS n
         |  FROM keyed GROUP BY 1, 2),
         |gv AS (
         |  SELECT nation, bal_bucket, sens,
         |    CAST(count(*) AS BIGINT) AS n_gv
         |  FROM keyed GROUP BY 1, 2, 3),
         |gd AS (
         |  SELECT sens, CAST(count(*) AS BIGINT) AS n_v
         |  FROM keyed GROUP BY 1),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_tot FROM keyed),
         |grid AS (
         |  SELECT g.nation, g.bal_bucket, g.n, gl.sens, gl.n_v, t.n_tot,
         |    coalesce(v.n_gv, 0) AS n_gv
         |  FROM grp g CROSS JOIN gd gl CROSS JOIN tot t
         |  LEFT JOIN gv v ON v.nation = g.nation
         |    AND v.bal_bucket = g.bal_bucket AND v.sens = gl.sens),
         |per AS (
         |  SELECT nation, bal_bucket, n,
         |    CAST(sum(CAST(floor(abs(
         |      CAST(n_gv AS DOUBLE) / CAST(n AS DOUBLE)
         |      - CAST(n_v AS DOUBLE) / CAST(n_tot AS DOUBLE))
         |      * 100000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS tvd_q
         |  FROM grid GROUP BY 1, 2, 3),
         |g2 AS (
         |  SELECT nation, bal_bucket, n,
         |    floor(CAST(tvd_q AS DOUBLE) / 200000000.0 * 10000.0 + 0.5)
         |      / 10000.0 AS t_dist,
         |    tvd_q > $TClsTq AS risky, tvd_q
         |  FROM per),
         |summ AS (
         |  SELECT
         |    floor(CAST(max(tvd_q) AS DOUBLE) / 200000000.0 * 10000.0
         |      + 0.5) / 10000.0 AS t_closeness,
         |    CAST(sum(CASE WHEN risky THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_risky_groups,
         |    CAST(sum(CASE WHEN risky THEN n ELSE 0 END) AS BIGINT)
         |      AS n_risky_rows
         |  FROM g2)
         |SELECT nation, bal_bucket, n, t_dist, risky,
         |  t_closeness, n_risky_groups, n_risky_rows
         |FROM g2, summ
         |ORDER BY nation, bal_bucket""".stripMargin),
      (s, dir) => Privacy.tCloseness(t(s, dir, "customer"),
        Seq(col("c_nationkey"),
          floor(col("c_acctbal") / lit(1000.0)).cast("int")),
        Seq("nation", "bal_bucket"), col("c_mktsegment"), t = TClsT)),

    // ---- UniMax budget allocation (Chung et al. 2023): closed-form
    //      waterfill with an epoch cap — integer math end to end, the
    //      capped set is a prefix of the ascending-cap order so both
    //      engines express it with one cumulative window, no loop ----
    Q("x216_unimax_alloc", Some(
      s"""WITH nt AS (
         |  SELECT source,
         |    CAST(len(${tokSql("text")}) AS BIGINT) AS nt
         |  FROM documents),
         |counts AS (
         |  SELECT source, CAST(sum(nt) AS BIGINT) AS n_tokens
         |  FROM nt GROUP BY source),
         |tot AS (
         |  SELECT CAST(sum(n_tokens) AS BIGINT) AS tt,
         |    CAST(count(*) AS BIGINT) AS s
         |  FROM counts),
         |r AS (
         |  SELECT source, n_tokens, n_tokens * $UxEpochs AS cap,
         |    (tt * $UxNum) // $UxDen AS budget, s,
         |    row_number() OVER (ORDER BY n_tokens * $UxEpochs, source)
         |      AS rn,
         |    CAST(coalesce(sum(n_tokens * $UxEpochs) OVER (
         |      ORDER BY n_tokens * $UxEpochs, source
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS cum_prev
         |  FROM counts, tot),
         |f AS (
         |  SELECT *, cap * (s - rn + 1) <= budget - cum_prev AS capped
         |  FROM r),
         |kk AS (
         |  SELECT CAST(sum(CASE WHEN capped THEN 1 ELSE 0 END)
         |      AS BIGINT) AS k,
         |    CAST(coalesce(sum(CASE WHEN capped THEN cap END), 0)
         |      AS BIGINT) AS used
         |  FROM f)
         |SELECT source, n_tokens, CAST(cap AS BIGINT) AS cap_tokens,
         |  CAST(CASE WHEN f.capped OR f.s - kk.k = 0 THEN f.cap
         |    ELSE (f.budget - kk.used) // (f.s - kk.k)
         |      + (CASE WHEN f.rn - kk.k <=
         |          (f.budget - kk.used) % (f.s - kk.k)
         |        THEN 1 ELSE 0 END)
         |    END AS BIGINT) AS alloc_tokens,
         |  CASE WHEN n_tokens = 0 THEN 0.0
         |    ELSE floor(CAST(CASE WHEN f.capped OR f.s - kk.k = 0
         |        THEN f.cap
         |        ELSE (f.budget - kk.used) // (f.s - kk.k)
         |          + (CASE WHEN f.rn - kk.k <=
         |              (f.budget - kk.used) % (f.s - kk.k)
         |            THEN 1 ELSE 0 END)
         |        END AS DOUBLE)
         |      / CAST(n_tokens AS DOUBLE) * 10000.0 + 0.5) / 10000.0
         |    END AS epochs_used
         |FROM f, kk ORDER BY source""".stripMargin),
      (s, dir) => Sampling.unimaxAllocate(t(s, dir, "documents"),
        "source", "text", epochs = UxEpochs,
        budgetNum = UxNum, budgetDen = UxDen)),

    // ---- Mann–Kendall trend + Theil–Sen slope per daily event series
    //      — the nonparametric drift monitor (robust to outliers,
    //      exact-integer S/var18, median-of-slopes). O(days²) pairs
    //      per series is calendar-bounded, never corpus-bounded ----
    Q("x217_trend_test", Some(
      """WITH daily AS (
        |  SELECT event_type, epoch_ns(ts) // 86400000000000 AS t,
        |    CAST(count(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |pairs AS (
        |  SELECT a.event_type, a.t AS t1, b.t AS t2,
        |    CASE WHEN b.x > a.x THEN 1 WHEN b.x < a.x THEN -1
        |      ELSE 0 END AS sgn,
        |    CAST(b.x - a.x AS DOUBLE) / CAST(b.t - a.t AS DOUBLE)
        |      AS slope
        |  FROM daily a JOIN daily b
        |    ON a.event_type = b.event_type AND a.t < b.t),
        |med AS (
        |  SELECT event_type, slope AS sen_raw FROM (
        |    SELECT event_type, slope,
        |      row_number() OVER (PARTITION BY event_type
        |        ORDER BY slope, t1, t2) AS rn,
        |      count(*) OVER (PARTITION BY event_type) AS m
        |    FROM pairs)
        |  WHERE rn = (m + 1) // 2),
        |sagg AS (
        |  SELECT event_type, CAST(sum(sgn) AS BIGINT) AS s_stat,
        |    CAST(count(*) AS BIGINT) AS n_pairs
        |  FROM pairs GROUP BY 1),
        |nd AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_points
        |  FROM daily GROUP BY 1),
        |ties AS (
        |  SELECT event_type,
        |    CAST(sum(tc * (tc - 1) * (2 * tc + 5)) AS BIGINT)
        |      AS tie_corr
        |  FROM (SELECT event_type, x, count(*) AS tc
        |        FROM daily GROUP BY 1, 2)
        |  GROUP BY 1),
        |j AS (
        |  SELECT nd.event_type, n_points, n_pairs, s_stat,
        |    n_points * (n_points - 1) * (2 * n_points + 5) - tie_corr
        |      AS var18,
        |    sen_raw
        |  FROM nd JOIN sagg USING (event_type)
        |    JOIN ties USING (event_type) JOIN med USING (event_type)),
        |zz AS (
        |  SELECT *, floor((CASE WHEN var18 <= 0 OR s_stat = 0 THEN 0.0
        |      ELSE (CAST(s_stat AS DOUBLE)
        |        - (CASE WHEN s_stat > 0 THEN 1.0 ELSE -1.0 END))
        |        / sqrt(CAST(var18 AS DOUBLE) / 18.0) END + 1000.0)
        |      * 10000.0 + 0.5) / 10000.0 - 1000.0 AS z
        |  FROM j)
        |SELECT event_type, n_points, n_pairs, s_stat,
        |  CAST(var18 AS BIGINT) AS var18, z,
        |  floor((sen_raw + 1000.0) * 10000.0 + 0.5) / 10000.0 - 1000.0
        |    AS sen_slope,
        |  CASE WHEN z > 1.96 THEN 'increasing'
        |    WHEN z < -1.96 THEN 'decreasing'
        |    ELSE 'flat' END AS trend
        |FROM zz ORDER BY event_type""".stripMargin),
      (s, dir) => {
        val daily = ReferenceCatalog.events(s, dir)
          .select(col("event_type"),
            expr("unix_micros(ts) div 86400000000").as("t"))
          .groupBy("event_type", "t").agg(count(lit(1)).as("x"))
        Profiling.trendTest(daily, "event_type", "t", "x")
      }),

    // ---- sample autocorrelation at lags 1..5 per daily event series
    //      — the seasonality gauge beside x217's drift: mean-free
    //      via n-scaling so numerator and denominator are EXACT
    //      integer sums (the n² factors cancel in the ratio) ----
    Q("x218_autocorrelation", Some(
      """WITH daily AS (
        |  SELECT event_type, epoch_ns(ts) // 86400000000000 AS t,
        |    CAST(count(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |scaled AS (
        |  SELECT event_type, rn, n, n * x - sx AS y FROM (
        |    SELECT event_type, x,
        |      row_number() OVER (PARTITION BY event_type ORDER BY t)
        |        AS rn,
        |      CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT)
        |        AS n,
        |      CAST(sum(x) OVER (PARTITION BY event_type) AS BIGINT)
        |        AS sx
        |    FROM daily)),
        |den AS (
        |  SELECT event_type, CAST(sum(y * y) AS BIGINT) AS den,
        |    CAST(max(n) AS BIGINT) AS n_points
        |  FROM scaled GROUP BY 1),
        |num AS (
        |  SELECT a.event_type, l.lag, CAST(sum(a.y * b.y) AS BIGINT)
        |      AS num
        |  FROM scaled a
        |  CROSS JOIN (SELECT unnest([1, 2, 3, 4, 5]) AS lag) l
        |  JOIN scaled b
        |    ON b.event_type = a.event_type AND b.rn = a.rn + l.lag
        |  GROUP BY 1, 2)
        |SELECT n.event_type, CAST(n.lag AS INT) AS lag, d.n_points,
        |  floor((CASE WHEN d.den = 0 THEN 0.0
        |      ELSE CAST(n.num AS DOUBLE) / CAST(d.den AS DOUBLE) END
        |      + 1000.0) * 10000.0 + 0.5) / 10000.0 - 1000.0 AS acf
        |FROM num n JOIN den d USING (event_type)
        |ORDER BY event_type, lag""".stripMargin),
      (s, dir) => {
        val daily = ReferenceCatalog.events(s, dir)
          .select(col("event_type"),
            expr("unix_micros(ts) div 86400000000").as("t"))
          .groupBy("event_type", "t").agg(count(lit(1)).as("x"))
        Profiling.autocorrelation(daily, "event_type", "t", "x",
          maxLag = 5)
      }),

    // ---- repeated-span ISLAND structure — x43 reports how much of a
    //      doc is duplicated, this reports HOW: one long boilerplate
    //      block (strip it) vs many short smears (drop the doc). Same
    //      dup-position stage, gaps-and-islands decomposition on the
    //      duplicated subset only ----
    Q("x219_span_islands", Some(
      s"""WITH tk AS (
         |  SELECT doc_id, ${tokSql("text")} AS t FROM documents),
         |base AS (
         |  SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tok, t FROM tk),
         |g AS (
         |  SELECT doc_id, i AS pos,
         |    ('0x' || substr(md5(array_to_string(t[i+1:i+8], ' ')), 1, 15))::BIGINT AS h
         |  FROM base, unnest(generate_series(0, CAST(n_tok AS INTEGER) - 8)) AS u(i)
         |  WHERE n_tok >= 8),
         |dup AS (
         |  SELECT doc_id, pos FROM (
         |    SELECT doc_id, pos, count(*) OVER (PARTITION BY h) AS c FROM g)
         |  WHERE c >= 2),
         |isl AS (
         |  SELECT doc_id, pos,
         |    CASE WHEN prev_end IS NULL OR pos > prev_end
         |      THEN 1 ELSE 0 END AS brk
         |  FROM (SELECT doc_id, pos,
         |      max(pos + 8) OVER (PARTITION BY doc_id ORDER BY pos
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         |        AS prev_end
         |    FROM dup)),
         |isl2 AS (
         |  SELECT doc_id, pos,
         |    sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
         |  FROM isl),
         |ilens AS (
         |  SELECT doc_id, island,
         |    CAST(max(pos) + 8 - min(pos) AS BIGINT) AS ilen
         |  FROM isl2 GROUP BY 1, 2),
         |per AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_islands,
         |    CAST(max(ilen) AS BIGINT) AS longest_island,
         |    CAST(sum(ilen) AS BIGINT) AS dup_tok
         |  FROM ilens GROUP BY 1)
         |SELECT b.doc_id, b.n_tok,
         |  coalesce(p.n_islands, 0) AS n_islands,
         |  coalesce(p.longest_island, 0) AS longest_island,
         |  coalesce(p.dup_tok, 0) AS dup_tok,
         |  CASE WHEN b.n_tok = 0 THEN 0.0
         |    ELSE floor(coalesce(p.dup_tok, 0) * 1.0 / b.n_tok
         |      * 10000.0 + 0.5) / 10000.0 END AS dup_frac
         |FROM base b LEFT JOIN per p USING (doc_id)
         |ORDER BY doc_id""".stripMargin),
      (s, dir) => RepeatedSpans.spanIslands(
        t(s, dir, "documents"), "doc_id", "text", k = 8)
        .orderBy("doc_id")),

    // ---- interpolated Kneser–Ney bigram bits — the PRODUCTION
    //      smoothing next to x88's add-1 baseline: absolute discount
    //      plus the continuation-count backoff ("Francisco" stops
    //      inflating unseen contexts). All four model tables derive
    //      from ONE bigram aggregation ----
    Q("x220_kneser_ney", Some(
      s"""WITH hs AS (
         |  SELECT doc_id,
         |    list_transform(${tokSql("lower(text)")},
         |      t -> ${h60Sql("t", 1152921504606846976L)}) AS hs
         |  FROM documents),
         |bgl AS (
         |  SELECT doc_id, unnest(list_transform(
         |    generate_series(1, greatest(len(hs) - 1, 0)),
         |    i -> struct_pack(h1 := hs[i], h2 := hs[i + 1]))) AS b
         |  FROM hs),
         |bg AS (SELECT doc_id, b.h1 AS h1, b.h2 AS h2 FROM bgl),
         |c2 AS (SELECT h1, h2, count(*) AS c2 FROM bg GROUP BY 1, 2),
         |c1 AS (
         |  SELECT h1, CAST(sum(c2) AS BIGINT) AS c1,
         |    CAST(count(*) AS BIGINT) AS n1f
         |  FROM c2 GROUP BY 1),
         |rv AS (
         |  SELECT h2, CAST(count(*) AS BIGINT) AS n1r
         |  FROM c2 GROUP BY 1),
         |tt AS (SELECT CAST(count(*) AS BIGINT) AS t FROM c2),
         |dc AS (
         |  SELECT doc_id, h1, h2, count(*) AS c FROM bg GROUP BY 1, 2, 3),
         |per AS (
         |  SELECT dc.doc_id, CAST(sum(dc.c) AS BIGINT) AS n_big,
         |    CAST(sum(dc.c * CAST(floor(log2(
         |        (greatest(CAST(c2.c2 AS DOUBLE) - $KnD, 0.0)
         |         + $KnD * CAST(c1.n1f AS DOUBLE)
         |           * (CAST(rv.n1r AS DOUBLE) / CAST(tt.t AS DOUBLE)))
         |        / CAST(c1.c1 AS DOUBLE)) * 100000000.0 + 0.5)
         |      AS BIGINT)) AS BIGINT) AS tq
         |  FROM dc JOIN c2 USING (h1, h2) JOIN c1 USING (h1)
         |    JOIN rv ON rv.h2 = dc.h2, tt
         |  GROUP BY dc.doc_id),
         |w AS (
         |  SELECT doc_id, n_big,
         |    floor((0.0 - CAST(tq AS DOUBLE) / 100000000.0) / n_big
         |      * 10000.0 + 0.5) / 10000.0 AS kn_bpt
         |  FROM per)
         |SELECT d.doc_id,
         |  coalesce(w.n_big, 0) AS n_big,
         |  coalesce(w.kn_bpt, 0.0) AS kn_bpt
         |FROM documents d LEFT JOIN w USING (doc_id)
         |ORDER BY doc_id""".stripMargin),
      (s, dir) => CorpusStats.kneserNeyBits(t(s, dir, "documents"),
        "doc_id", "text", discount = KnD).orderBy("doc_id")),

    // ---- split-conformal calibration of the quality classifier
    //      against the Gopher gate (the x176/x183 pair's third leg):
    //      q̂ = ⌈(n+1)(1−α)⌉-th smallest calibration nonconformity via
    //      the x183 cumulative-histogram route (no global sort, no
    //      driver top-k), coverage + set size on the held-out half.
    //      avg_set_size is the informativeness gauge: ~1 sharp, ~2
    //      "calibrated but knows nothing" ----
    Q("x221_conformal", Some(
      s"""WITH ${classifierCtes("documents")},
         |${gopherKeepCtes("documents")},
         |sc AS (
         |  SELECT cp.doc_id, cp.cls_prob AS s, g.keep AS y,
         |    cp.doc_id % 2 = 0 AS is_cal,
         |    CAST(CASE WHEN g.keep
         |      THEN floor((1.0 - cp.cls_prob) * 10000.0 + 0.5)
         |      ELSE floor(cp.cls_prob * 10000.0 + 0.5) END AS BIGINT)
         |      AS ncq
         |  FROM cp JOIN g USING (doc_id)),
         |per AS (
         |  SELECT ncq, CAST(count(*) AS BIGINT) AS cn
         |  FROM sc WHERE is_cal GROUP BY 1),
         |tot AS (
         |  SELECT CAST(sum(cn) AS BIGINT) AS n_cal,
         |    CAST(((sum(cn) + 1) * 9 + 9) // 10 AS BIGINT) AS k
         |  FROM per),
         |cum AS (
         |  SELECT ncq, sum(cn) OVER (ORDER BY ncq) AS cum FROM per),
         |qh AS (
         |  SELECT coalesce(min(ncq), 10001) AS qhatq
         |  FROM cum, tot WHERE cum >= tot.k),
         |tst AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_test,
         |    CAST(coalesce(sum(CASE WHEN y
         |      THEN (CASE WHEN CAST(floor((1.0 - s) * 10000.0 + 0.5)
         |        AS BIGINT) <= qhatq THEN 1 ELSE 0 END)
         |      ELSE (CASE WHEN CAST(floor(s * 10000.0 + 0.5)
         |        AS BIGINT) <= qhatq THEN 1 ELSE 0 END) END), 0)
         |      AS BIGINT) AS n_cov,
         |    CAST(coalesce(sum(
         |      (CASE WHEN CAST(floor((1.0 - s) * 10000.0 + 0.5)
         |        AS BIGINT) <= qhatq THEN 1 ELSE 0 END)
         |      + (CASE WHEN CAST(floor(s * 10000.0 + 0.5)
         |        AS BIGINT) <= qhatq THEN 1 ELSE 0 END)), 0)
         |      AS BIGINT) AS set_sum
         |  FROM sc, qh WHERE NOT is_cal)
         |SELECT tot.n_cal, tot.k,
         |  CAST(qh.qhatq AS DOUBLE) / 10000.0 AS qhat,
         |  tst.n_test,
         |  CASE WHEN tst.n_test = 0 THEN 0.0
         |    ELSE floor(CAST(tst.n_cov AS DOUBLE)
         |      / CAST(tst.n_test AS DOUBLE) * 10000.0 + 0.5) / 10000.0
         |    END AS coverage,
         |  CASE WHEN tst.n_test = 0 THEN 0.0
         |    ELSE floor(CAST(tst.set_sum AS DOUBLE)
         |      / CAST(tst.n_test AS DOUBLE) * 10000.0 + 0.5) / 10000.0
         |    END AS avg_set_size
         |FROM tot, qh, tst""".stripMargin),
      (s, dir) => {
        import graft.functions.QualityRules
        val scored = t(s, dir, "documents").select(col("doc_id"),
          TextFunctions.classifierProb(col("text")).as("cls_prob"),
          QualityRules.gopherKeep(
            QualityRules.tokenStats(col("text"))).as("keep"))
        LabelQuality.conformalThreshold(scored, "cls_prob", "keep",
          calCol = col("doc_id") % 2 === 0)
      }),

    // ---- diagonal-Mahalanobis embedding outliers — the intake gate
    //      for corrupt vectors (x154's per-vector norms catch scale,
    //      this catches per-DIMENSION displacement): exact integer
    //      moment sums (the Pca DECIMAL lesson), n²-cancelled z²
    //      terms, top-20 by TakeOrdered ----
    Q("x222_embedding_outliers", Some(
      s"""WITH ex AS (
         |  SELECT vec_id, i AS d,
         |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000.0 + 0.5)
         |      AS BIGINT) AS q
         |  FROM embeddings,
         |    unnest(generate_series(1, len(embedding))) AS u(i)),
         |st AS (
         |  SELECT d, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(q) AS BIGINT) AS s1,
         |    sum(CAST(q * q AS HUGEINT)) AS s2
         |  FROM ex GROUP BY d),
         |term AS (
         |  SELECT ex.vec_id,
         |    CASE WHEN CAST(st.n AS HUGEINT) * st.s2
         |        - CAST(st.s1 AS HUGEINT) * CAST(st.s1 AS HUGEINT) = 0
         |      THEN 0
         |      ELSE CAST(floor(
         |        CAST(st.n * ex.q - st.s1 AS DOUBLE)
         |          * CAST(st.n * ex.q - st.s1 AS DOUBLE)
         |        / CAST(CAST(st.n AS HUGEINT) * st.s2
         |          - CAST(st.s1 AS HUGEINT) * CAST(st.s1 AS HUGEINT)
         |          AS DOUBLE)
         |        * 1000000.0 + 0.5) AS BIGINT) END AS tq
         |  FROM ex JOIN st USING (d)),
         |sc AS (
         |  SELECT vec_id, CAST(sum(tq) AS BIGINT) AS sq
         |  FROM term GROUP BY 1)
         |SELECT vec_id,
         |  floor(CAST(sq AS DOUBLE) / 1000000.0 * 10000.0 + 0.5)
         |    / 10000.0 AS score,
         |  CAST(row_number() OVER (ORDER BY sq DESC, vec_id) AS INT)
         |    AS rn
         |FROM (SELECT * FROM sc ORDER BY sq DESC, vec_id LIMIT 20)
         |ORDER BY rn""".stripMargin),
      (s, dir) => Similarity.embeddingOutliers(t(s, dir, "embeddings"),
        "vec_id", "embedding", k = 20)),

    // ---- purged time split with a 24 h embargo — the temporal twin
    //      of x143's hash split: cut at the 0.8 event-time quantile
    //      computed over HOUR buckets (calendar-bounded histogram, the
    //      x183 route — raw-timestamp order stats would not scale),
    //      trainers within the embargo purged, not leaked ----
    Q("x223_purged_split", Some(
      """WITH ev AS (
        |  SELECT event_type AS grp,
        |    epoch_ns(ts) // 1000000 // 3600000 AS b
        |  FROM events),
        |per AS (SELECT b, CAST(count(*) AS BIGINT) AS cn
        |  FROM ev GROUP BY 1),
        |tot AS (
        |  SELECT CAST(sum(cn) AS BIGINT) AS n,
        |    CAST((sum(cn) * 4 + 4) // 5 AS BIGINT) AS k
        |  FROM per),
        |cut AS (
        |  SELECT CAST(min(b) AS BIGINT) AS cut_b FROM (
        |    SELECT b, sum(cn) OVER (ORDER BY b) AS cum FROM per), tot
        |  WHERE cum >= tot.k),
        |lab AS (
        |  SELECT grp,
        |    CASE WHEN b <= cut_b - 24 THEN 'train'
        |      WHEN b <= cut_b THEN 'purged' ELSE 'test' END AS split,
        |    cut_b
        |  FROM ev, cut)
        |SELECT grp AS event_type,
        |  CAST(sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_train,
        |  CAST(sum(CASE WHEN split = 'purged' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_purged,
        |  CAST(sum(CASE WHEN split = 'test' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_test,
        |  CAST(max(cut_b) AS BIGINT) AS cut_bucket
        |FROM lab GROUP BY 1 ORDER BY 1""".stripMargin),
      (s, dir) => {
        val ev = ReferenceCatalog.events(s, dir)
          .select(col("event_type"), unix_millis(col("ts")).as("ms"))
        Sampling.purgedTimeSplit(ev, "ms", "event_type",
          bucketMs = 3600000L, embargoBuckets = 24L,
          quantNum = 4, quantDen = 5)
      }),

    // ---- weighted (multiset) Jaccard on the verified near-dup pairs
    //      — the frequency-aware refinement x16's set-Jaccard can't
    //      see (looped-boilerplate pairs under-score, same-vocab
    //      different-frequency pairs over-score). Tokenization runs
    //      only over docs that appear in a pair ----
    Q("x224_weighted_jaccard", Some(
      s"""WITH ${minhashPairsSql()},
         |${verifiedPairsSql("documents")},
         |ids AS (
         |  SELECT DISTINCT doc_id FROM (
         |    SELECT id_a AS doc_id FROM vp
         |    UNION ALL SELECT id_b FROM vp)),
         |tok AS (
         |  SELECT doc_id, unnest(list_transform(${tokSql("lower(text)")},
         |    t -> ${h60Sql("t", 1152921504606846976L)})) AS h
         |  FROM documents
         |  WHERE doc_id IN (SELECT doc_id FROM ids)),
         |tc AS (SELECT doc_id, h, count(*) AS c FROM tok GROUP BY 1, 2),
         |ga AS (
         |  SELECT vp.id_a, vp.id_b, tc.h, tc.c AS ca
         |  FROM vp JOIN tc ON tc.doc_id = vp.id_a),
         |gb AS (
         |  SELECT vp.id_a, vp.id_b, tc.h, tc.c AS cb
         |  FROM vp JOIN tc ON tc.doc_id = vp.id_b),
         |u AS (
         |  SELECT coalesce(ga.id_a, gb.id_a) AS id_a,
         |    coalesce(ga.id_b, gb.id_b) AS id_b,
         |    coalesce(ga.ca, 0) AS ca, coalesce(gb.cb, 0) AS cb
         |  FROM ga FULL JOIN gb
         |    ON ga.id_a = gb.id_a AND ga.id_b = gb.id_b AND ga.h = gb.h),
         |per AS (
         |  SELECT id_a, id_b,
         |    CAST(sum(least(ca, cb)) AS BIGINT) AS sum_min,
         |    CAST(sum(greatest(ca, cb)) AS BIGINT) AS sum_max
         |  FROM u GROUP BY 1, 2)
         |SELECT vp.id_a, vp.id_b,
         |  coalesce(sum_min, 0) AS sum_min,
         |  coalesce(sum_max, 0) AS sum_max,
         |  CASE WHEN coalesce(sum_max, 0) = 0 THEN 0.0
         |    ELSE floor(CAST(sum_min AS DOUBLE) / CAST(sum_max AS DOUBLE)
         |      * 10000.0 + 0.5) / 10000.0 END AS w_jaccard
         |FROM vp LEFT JOIN per
         |  ON per.id_a = vp.id_a AND per.id_b = vp.id_b
         |ORDER BY vp.id_a, vp.id_b""".stripMargin),
      (s, dir) => Dedup.weightedJaccard(t(s, dir, "documents"),
        "doc_id", "text", verifiedPairs(s, dir))),

    // ---- Neyman optimal allocation — the variance-minimizing budget
    //      split the proportional x196 quota can't give: strata sized
    //      ∝ Nₕσₕ (= √(nΣx²−(Σx)²) exactly), quantized weights, exact
    //      DECIMAL floor-division with largest-remainder leftover ----
    Q("x225_neyman_alloc", Some(
      """WITH st AS (
        |  SELECT source AS stratum, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(n_chars) AS BIGINT) AS s1,
        |    sum(CAST(n_chars AS HUGEINT) * CAST(n_chars AS HUGEINT))
        |      AS s2
        |  FROM documents GROUP BY 1),
        |w AS (
        |  SELECT stratum, n_docs,
        |    CAST(floor(sqrt(CAST(CAST(n_docs AS HUGEINT) * s2
        |        - CAST(s1 AS HUGEINT) * CAST(s1 AS HUGEINT) AS DOUBLE))
        |      * 1000000.0 + 0.5) AS BIGINT) AS wq,
        |    floor(sqrt(CAST(CAST(n_docs AS HUGEINT) * s2
        |        - CAST(s1 AS HUGEINT) * CAST(s1 AS HUGEINT) AS DOUBLE))
        |      / CAST(n_docs AS DOUBLE) * 10000.0 + 0.5) / 10000.0 AS sd
        |  FROM st),
        |z AS (
        |  SELECT sum(CAST(wq AS HUGEINT)) AS z,
        |    CAST(sum(n_docs) AS BIGINT) AS n_tot
        |  FROM w),
        |c AS (
        |  SELECT stratum, n_docs, sd, wq,
        |    CAST((200 * (CASE WHEN z.z = 0 THEN CAST(n_docs AS HUGEINT)
        |        ELSE CAST(wq AS HUGEINT) END))
        |      // (CASE WHEN z.z = 0 THEN CAST(n_tot AS HUGEINT)
        |        ELSE z.z END) AS BIGINT) AS base,
        |    (200 * (CASE WHEN z.z = 0 THEN CAST(n_docs AS HUGEINT)
        |        ELSE CAST(wq AS HUGEINT) END))
        |      % (CASE WHEN z.z = 0 THEN CAST(n_tot AS HUGEINT)
        |        ELSE z.z END) AS remn
        |  FROM w, z),
        |l AS (SELECT CAST(200 - sum(base) AS BIGINT) AS leftover FROM c)
        |SELECT stratum AS source, n_docs, sd, wq AS weight_q,
        |  CAST(base + (CASE WHEN rk <= leftover THEN 1 ELSE 0 END)
        |    AS BIGINT) AS alloc
        |FROM (SELECT *, row_number() OVER (ORDER BY remn DESC, stratum)
        |    AS rk FROM c), l
        |ORDER BY source""".stripMargin),
      (s, dir) => Sampling.neymanAllocate(t(s, dir, "documents"),
        "source", "n_chars", total = 200L)),

    // ---- delete-a-source jackknife influence on the corpus quality
    //      mean — "which single source drags the score", exact from
    //      ONE aggregation (LOO means are algebra on group sums), with
    //      the jackknife SE calibrating signal vs group-size noise ----
    Q("x226_source_influence", Some(
      s"""WITH ${classifierCtes("documents")},
         |sc AS (
         |  SELECT d.source AS grp,
         |    CAST(floor(cp.cls_prob * 10000.0 + 0.5) AS BIGINT) AS pq
         |  FROM cp JOIN documents d USING (doc_id)),
         |per AS (
         |  SELECT grp, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(pq) AS BIGINT) AS sh
         |  FROM sc GROUP BY 1),
         |tot AS (
         |  SELECT CAST(sum(n_docs) AS BIGINT) AS nn,
         |    CAST(sum(sh) AS BIGINT) AS ss,
         |    CAST(count(*) AS BIGINT) AS g
         |  FROM per),
         |lo AS (
         |  SELECT grp, n_docs, g,
         |    CAST(floor(CAST(ss - sh AS DOUBLE)
         |      / CAST(nn - n_docs AS DOUBLE) * 10000.0 + 0.5)
         |      AS BIGINT) AS tq,
         |    CAST(floor(CAST(ss AS DOUBLE) / CAST(nn AS DOUBLE)
         |      * 10000.0 + 0.5) AS BIGINT) AS thq
         |  FROM per, tot),
         |t2 AS (SELECT CAST(sum(tq) AS BIGINT) AS tt FROM lo),
         |jk AS (
         |  SELECT floor(sqrt(CAST(max(g) - 1 AS DOUBLE)
         |      * CAST(sum(CAST(g * tq - tt AS HUGEINT)
         |        * CAST(g * tq - tt AS HUGEINT)) AS DOUBLE)
         |      / (CAST(max(g) AS DOUBLE) * CAST(max(g) AS DOUBLE)
         |        * CAST(max(g) AS DOUBLE)))
         |    / 100000000.0 * 1000000.0 + 0.5) / 1000000.0 AS jk_se
         |  FROM lo, t2)
         |SELECT grp AS source, n_docs,
         |  floor(CAST(tq AS DOUBLE) / 100000000.0 * 10000.0 + 0.5)
         |    / 10000.0 AS loo_mean,
         |  floor((CAST(tq - thq AS DOUBLE) / 100000000.0 + 1000.0)
         |    * 10000.0 + 0.5) / 10000.0 - 1000.0 AS influence,
         |  floor(CAST(thq AS DOUBLE) / 100000000.0 * 10000.0 + 0.5)
         |    / 10000.0 AS mean,
         |  jk_se
         |FROM lo, t2, jk ORDER BY source""".stripMargin),
      (s, dir) => {
        val scored = t(s, dir, "documents").select(col("source"),
          TextFunctions.classifierProb(col("text")).as("cls_prob"))
        Profiling.sourceInfluence(scored, "source", "cls_prob")
      }),

    // ---- Pettitt changepoint per daily event series — WHERE the
    //      level shifted (x217 says whether it drifts, x181/x192
    //      compare two KNOWN windows): rank-based U_t via one
    //      calendar-bounded pair join + a cumulative window, exact
    //      integers to the final p expression ----
    Q("x227_changepoint", Some(
      """WITH daily AS (
        |  SELECT event_type, epoch_ns(ts) // 86400000000000 AS t,
        |    CAST(count(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |v AS (
        |  SELECT a.event_type, a.t,
        |    CAST(sum(CASE WHEN a.x > b.x THEN 1
        |      WHEN a.x < b.x THEN -1 ELSE 0 END) AS BIGINT) AS v
        |  FROM daily a JOIN daily b ON a.event_type = b.event_type
        |  GROUP BY 1, 2),
        |u AS (
        |  SELECT event_type, t,
        |    CAST(sum(v) OVER (PARTITION BY event_type ORDER BY t)
        |      AS BIGINT) AS u,
        |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT)
        |      AS n_points
        |  FROM v),
        |m AS (
        |  SELECT event_type, n_points, abs(u) AS k_stat, t AS t_hat
        |  FROM (SELECT *, row_number() OVER (PARTITION BY event_type
        |      ORDER BY abs(u) DESC, t) AS rn FROM u)
        |  WHERE rn = 1),
        |p AS (
        |  SELECT event_type, n_points, k_stat, t_hat,
        |    floor(least(1.0, 2.0 * exp(-6.0
        |        * CAST(k_stat AS DOUBLE) * CAST(k_stat AS DOUBLE)
        |        / (CAST(n_points AS DOUBLE) * CAST(n_points AS DOUBLE)
        |            * CAST(n_points AS DOUBLE)
        |          + CAST(n_points AS DOUBLE)
        |            * CAST(n_points AS DOUBLE))))
        |      * 1000000.0 + 0.5) / 1000000.0 AS p_value
        |  FROM m)
        |SELECT event_type, n_points, k_stat, t_hat, p_value,
        |  p_value <= 0.05 AS significant
        |FROM p ORDER BY event_type""".stripMargin),
      (s, dir) => {
        val daily = ReferenceCatalog.events(s, dir)
          .select(col("event_type"),
            expr("unix_micros(ts) div 86400000000").as("t"))
          .groupBy("event_type", "t").agg(count(lit(1)).as("x"))
        Profiling.changepointTest(daily, "event_type", "t", "x")
      }),

    // ---- 5% trimmed mean of the classifier score per source — the
    //      robust location a few crawl-failure 0.0s or spam 1.0s
    //      can't move: computed EXACTLY from the per-group score
    //      histogram (bucket-overlap-with-rank-interval), never a
    //      per-row sort ----
    Q("x228_trimmed_mean", Some(
      s"""WITH ${classifierCtes("documents")},
         |sc AS (
         |  SELECT d.source AS grp,
         |    CAST(floor(cp.cls_prob * 10000.0 + 0.5) AS BIGINT) AS pq
         |  FROM cp JOIN documents d USING (doc_id)),
         |per AS (
         |  SELECT grp, pq, CAST(count(*) AS BIGINT) AS cn
         |  FROM sc GROUP BY 1, 2),
         |cum AS (
         |  SELECT grp, pq, cn,
         |    CAST(coalesce(sum(cn) OVER (PARTITION BY grp ORDER BY pq
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS cb,
         |    CAST(sum(cn) OVER (PARTITION BY grp) AS BIGINT) AS n,
         |    CAST(sum(pq * cn) OVER (PARTITION BY grp) AS BIGINT) AS s1
         |  FROM per),
         |kk AS (SELECT *, (n * 1) // 20 AS k FROM cum),
         |kept AS (
         |  SELECT grp, n, k, s1, pq,
         |    greatest(0, least(cb + cn, n - k) - greatest(cb, k)) AS kc
         |  FROM kk),
         |agg AS (
         |  SELECT grp, CAST(max(n) AS BIGINT) AS n,
         |    CAST(max(k) AS BIGINT) AS k_trim,
         |    CAST(sum(kc) AS BIGINT) AS n_kept,
         |    CAST(sum(pq * kc) AS BIGINT) AS tsum,
         |    CAST(max(s1) AS BIGINT) AS s1
         |  FROM kept GROUP BY 1)
         |SELECT grp AS source, n, k_trim, n_kept,
         |  CASE WHEN n_kept = 0 THEN 0.0
         |    ELSE floor(CAST(tsum AS DOUBLE)
         |      / (CAST(n_kept AS DOUBLE) * 10000.0) * 10000.0 + 0.5)
         |      / 10000.0 END AS trimmed_mean,
         |  floor(CAST(s1 AS DOUBLE) / (CAST(n AS DOUBLE) * 10000.0)
         |    * 10000.0 + 0.5) / 10000.0 AS raw_mean
         |FROM agg ORDER BY source""".stripMargin),
      (s, dir) => {
        val scored = t(s, dir, "documents").select(col("source"),
          TextFunctions.classifierProb(col("text")).as("cls_prob"))
        Profiling.trimmedMean(scored, "source", "cls_prob",
          trimNum = 1, trimDen = 20)
      }),

    // ---- Poisson-bootstrap 95% CI for per-source quality means —
    //      THE distributed bootstrap (per-row Poisson(1) replicate
    //      weights from a salted hash, replayable like x213's noise;
    //      true with-replacement resampling would need a global draw).
    //      B× fan-out combines immediately to (source, replicate)
    //      grain; CI endpoints are order stats over ≤B means ----
    Q("x229_bootstrap_ci", Some(
      s"""WITH ${classifierCtes("documents")},
         |sc AS (
         |  SELECT d.source AS grp, CAST(d.doc_id AS VARCHAR) AS id,
         |    CAST(floor(cp.cls_prob * 10000.0 + 0.5) AS BIGINT) AS pq
         |  FROM cp JOIN documents d USING (doc_id)),
         |ex AS (
         |  SELECT grp, id, pq, bi
         |  FROM sc, unnest(generate_series(1, $BootB)) AS gg(bi)),
         |wts AS (
         |  SELECT grp, bi, pq,
         |    (CASE WHEN u >= ${Sampling.PoissonCdf1(0)} THEN 1 ELSE 0 END)
         |    + (CASE WHEN u >= ${Sampling.PoissonCdf1(1)} THEN 1 ELSE 0 END)
         |    + (CASE WHEN u >= ${Sampling.PoissonCdf1(2)} THEN 1 ELSE 0 END)
         |    + (CASE WHEN u >= ${Sampling.PoissonCdf1(3)} THEN 1 ELSE 0 END)
         |    + (CASE WHEN u >= ${Sampling.PoissonCdf1(4)} THEN 1 ELSE 0 END)
         |      AS w
         |  FROM (SELECT grp, bi, pq,
         |      (CAST(${h60Sql(
                  "'boot:v1:' || CAST(bi AS VARCHAR) || ':' || id",
                  1152921504606846976L)} AS DOUBLE) + 0.5)
         |        / 1152921504606846976.0 AS u
         |    FROM ex)),
         |rep AS (
         |  SELECT grp, bi,
         |    CAST(floor(CAST(sum(w * pq) AS DOUBLE)
         |      / CAST(sum(w) AS DOUBLE) + 0.5) AS BIGINT) AS mq
         |  FROM wts GROUP BY 1, 2 HAVING sum(w) > 0),
         |rk AS (
         |  SELECT grp, mq, bi,
         |    row_number() OVER (PARTITION BY grp ORDER BY mq, bi) AS rn,
         |    count(*) OVER (PARTITION BY grp) AS m
         |  FROM rep),
         |ci AS (
         |  SELECT grp, CAST(max(m) AS BIGINT) AS b_reps,
         |    CAST(min(CASE WHEN rn = (m + 39) // 40 THEN mq END)
         |      AS BIGINT) AS loq,
         |    CAST(min(CASE WHEN rn = (m * 39 + 39) // 40 THEN mq END)
         |      AS BIGINT) AS hiq
         |  FROM rk GROUP BY 1),
         |pt AS (
         |  SELECT grp, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(pq) AS BIGINT) AS s1
         |  FROM sc GROUP BY 1)
         |SELECT pt.grp AS source, n_docs,
         |  floor(CAST(s1 AS DOUBLE) / (CAST(n_docs AS DOUBLE) * 10000.0)
         |    * 10000.0 + 0.5) / 10000.0 AS mean,
         |  floor(CAST(loq AS DOUBLE) / 10000.0 * 10000.0 + 0.5)
         |    / 10000.0 AS ci_lo,
         |  floor(CAST(hiq AS DOUBLE) / 10000.0 * 10000.0 + 0.5)
         |    / 10000.0 AS ci_hi,
         |  b_reps
         |FROM pt JOIN ci ON ci.grp = pt.grp
         |ORDER BY source""".stripMargin),
      (s, dir) => {
        val scored = t(s, dir, "documents").select(col("doc_id"),
          col("source"),
          TextFunctions.classifierProb(col("text")).as("cls_prob"))
        Sampling.bootstrapCi(scored, "doc_id", "source", "cls_prob",
          b = BootB)
      }),

    // ---- source × quality-gate dependence: chi², Cramér's V and
    //      mutual information from ONE contingency aggregation — "is
    //      my quality filter confounded with source", the audit that
    //      says whether mixing and filtering double-count a signal ----
    Q("x230_dependence", Some(
      s"""WITH ${gopherKeepCtes("documents")},
         |keyed AS (
         |  SELECT CAST(d.source AS VARCHAR) AS a,
         |    CAST(g.keep AS VARCHAR) AS b
         |  FROM documents d JOIN g USING (doc_id)),
         |cells AS (
         |  SELECT a, b, CAST(count(*) AS BIGINT) AS o
         |  FROM keyed GROUP BY 1, 2),
         |rw AS (SELECT a, CAST(sum(o) AS BIGINT) AS r
         |  FROM cells GROUP BY 1),
         |cl AS (SELECT b, CAST(sum(o) AS BIGINT) AS c
         |  FROM cells GROUP BY 1),
         |tt AS (SELECT CAST(sum(o) AS BIGINT) AS nn FROM cells),
         |grid AS (
         |  SELECT rw.a, cl.b, rw.r, cl.c, coalesce(cells.o, 0) AS o,
         |    tt.nn
         |  FROM rw CROSS JOIN cl CROSS JOIN tt
         |  LEFT JOIN cells ON cells.a = rw.a AND cells.b = cl.b),
         |terms AS (
         |  SELECT nn, a, b,
         |    CAST(floor(CAST((CAST(o AS HUGEINT) * nn
         |        - CAST(r AS HUGEINT) * c)
         |        * (CAST(o AS HUGEINT) * nn - CAST(r AS HUGEINT) * c)
         |        AS DOUBLE)
         |      / CAST(CAST(nn AS HUGEINT) * r * c AS DOUBLE)
         |      * 1000000.0 + 0.5) AS BIGINT) AS chi_tq,
         |    CASE WHEN o = 0 THEN CAST(0 AS HUGEINT)
         |      ELSE CAST(o AS HUGEINT) * CAST(floor(log2(
         |        CAST(CAST(o AS HUGEINT) * nn AS DOUBLE)
         |        / CAST(CAST(r AS HUGEINT) * c AS DOUBLE))
         |        * 100000000.0 + 0.5) AS BIGINT) END AS mi_tq
         |  FROM grid),
         |agg AS (
         |  SELECT CAST(max(nn) AS BIGINT) AS n,
         |    CAST(count(DISTINCT a) AS BIGINT) AS r_levels,
         |    CAST(count(DISTINCT b) AS BIGINT) AS c_levels,
         |    CAST(sum(chi_tq) AS BIGINT) AS chi_q,
         |    sum(mi_tq) AS mi_q
         |  FROM terms)
         |SELECT n, r_levels, c_levels,
         |  CAST((r_levels - 1) * (c_levels - 1) AS BIGINT) AS dof,
         |  floor(CAST(chi_q AS DOUBLE) / 1000000.0 * 10000.0 + 0.5)
         |    / 10000.0 AS chi2,
         |  CASE WHEN least(r_levels - 1, c_levels - 1) <= 0 THEN 0.0
         |    ELSE floor(sqrt(CAST(chi_q AS DOUBLE) / 1000000.0
         |      / CAST(n * least(r_levels - 1, c_levels - 1) AS DOUBLE))
         |      * 10000.0 + 0.5) / 10000.0 END AS cramers_v,
         |  floor((CAST(mi_q AS DOUBLE) / 100000000.0 / CAST(n AS DOUBLE)
         |    + 1000.0) * 10000.0 + 0.5) / 10000.0 - 1000.0 AS mi_bits
         |FROM agg""".stripMargin),
      (s, dir) => {
        import graft.functions.QualityRules
        val keyed = t(s, dir, "documents").select(col("source"),
          QualityRules.gopherKeep(
            QualityRules.tokenStats(col("text"))).as("keep"))
        Profiling.dependenceReport(keyed, "source", "keep")
      }),

    // ---- Spearman rank correlation classifier-score × token count —
    //      "is the quality classifier just measuring length": Pearson
    //      on exact average ranks (doubled ranks 2·cb+cn+1 are
    //      integers; the classic 6Σd² shortcut is wrong under ties),
    //      histograms + DECIMAL moment sums, one scalar finish ----
    Q("x231_rank_correlation", Some(
      s"""WITH ${classifierCtes("documents")},
         |rws AS (
         |  SELECT CAST(floor(cp.cls_prob * 10000.0 + 0.5) AS BIGINT)
         |      AS va,
         |    CAST(len(${tokSql("d.text")}) AS BIGINT) AS vb
         |  FROM cp JOIN documents d USING (doc_id)),
         |ra AS (
         |  SELECT va AS v, 2 * cb + cn + 1 AS r FROM (
         |    SELECT va, CAST(count(*) AS BIGINT) AS cn,
         |      CAST(coalesce(sum(count(*)) OVER (ORDER BY va
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |        AS BIGINT) AS cb
         |    FROM rws GROUP BY va)),
         |rb AS (
         |  SELECT vb AS v, 2 * cb + cn + 1 AS r FROM (
         |    SELECT vb, CAST(count(*) AS BIGINT) AS cn,
         |      CAST(coalesce(sum(count(*)) OVER (ORDER BY vb
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |        AS BIGINT) AS cb
         |    FROM rws GROUP BY vb)),
         |j AS (
         |  SELECT r1.r AS rra, r2.r AS rrb
         |  FROM rws JOIN ra r1 ON r1.v = rws.va
         |    JOIN rb r2 ON r2.v = rws.vb),
         |agg AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |    sum(CAST(rra AS HUGEINT)) AS sa,
         |    sum(CAST(rrb AS HUGEINT)) AS sb,
         |    sum(CAST(rra AS HUGEINT) * CAST(rra AS HUGEINT)) AS saa,
         |    sum(CAST(rrb AS HUGEINT) * CAST(rrb AS HUGEINT)) AS sbb,
         |    sum(CAST(rra AS HUGEINT) * CAST(rrb AS HUGEINT)) AS sab
         |  FROM j)
         |SELECT n,
         |  CASE WHEN CAST(CAST(n AS HUGEINT) * saa - sa * sa AS DOUBLE)
         |      = 0.0
         |    OR CAST(CAST(n AS HUGEINT) * sbb - sb * sb AS DOUBLE) = 0.0
         |    THEN 0.0
         |    ELSE floor((CAST(CAST(n AS HUGEINT) * sab - sa * sb
         |        AS DOUBLE)
         |      / (sqrt(CAST(CAST(n AS HUGEINT) * saa - sa * sa
         |          AS DOUBLE))
         |        * sqrt(CAST(CAST(n AS HUGEINT) * sbb - sb * sb
         |          AS DOUBLE))) + 1000.0) * 10000.0 + 0.5) / 10000.0
         |      - 1000.0 END AS rho
         |FROM agg""".stripMargin),
      (s, dir) => {
        val d = t(s, dir, "documents").select(
          floor(TextFunctions.classifierProb(col("text")) *
            lit(10000.0) + lit(0.5)).cast("long").as("va"),
          size(TextFunctions.tokens(col("text"))).cast("long").as("vb"))
        LabelQuality.spearman(d, "va", "vb")
      }),

    // ---- Murphy decomposition of the Brier score over forecast
    //      deciles — reliability / resolution / uncertainty beside
    //      x176's ECE and x183's AUC, plus the within-bin variance
    //      that separates the raw Brier from the binned identity ----
    Q("x232_brier_decomposition", Some(
      s"""WITH ${classifierCtes("documents")},
         |${gopherKeepCtes("documents")},
         |sc AS (
         |  SELECT CAST(floor(cp.cls_prob * 10000.0 + 0.5) AS BIGINT)
         |      AS pq,
         |    CAST(CASE WHEN g.keep THEN 1 ELSE 0 END AS BIGINT) AS y
         |  FROM cp JOIN g USING (doc_id)),
         |sc2 AS (
         |  SELECT pq, y, least((pq * 10) // 10000, 9) AS b FROM sc),
         |per AS (
         |  SELECT b, CAST(count(*) AS BIGINT) AS nk,
         |    CAST(sum(pq) AS BIGINT) AS sp,
         |    CAST(sum(y) AS BIGINT) AS sy,
         |    sum(CAST((pq - 10000 * y) * (pq - 10000 * y) AS HUGEINT))
         |      AS sq,
         |    sum(CAST(pq * pq AS HUGEINT)) AS spp
         |  FROM sc2 GROUP BY b),
         |tq AS (
         |  SELECT b, nk, sy, sq,
         |    CAST(floor(CAST(sp - 10000 * sy AS DOUBLE)
         |      * CAST(sp - 10000 * sy AS DOUBLE)
         |      / CAST(nk AS DOUBLE) + 0.5) AS BIGINT) AS rel_t,
         |    CAST(floor((CAST(spp AS DOUBLE)
         |      - CAST(sp AS DOUBLE) * CAST(sp AS DOUBLE)
         |        / CAST(nk AS DOUBLE)) + 0.5) AS BIGINT) AS wbv_t
         |  FROM per),
         |tot AS (
         |  SELECT CAST(sum(nk) AS BIGINT) AS n,
         |    CAST(sum(sy) AS BIGINT) AS yy,
         |    sum(sq) AS sq, CAST(sum(rel_t) AS BIGINT) AS rel_q,
         |    CAST(sum(wbv_t) AS BIGINT) AS wbv_q
         |  FROM tq),
         |res AS (
         |  SELECT CAST(sum(CAST(floor(
         |      (CAST(sy AS DOUBLE) * CAST(n AS DOUBLE)
         |        - CAST(yy AS DOUBLE) * CAST(nk AS DOUBLE))
         |      * (CAST(sy AS DOUBLE) * CAST(n AS DOUBLE)
         |        - CAST(yy AS DOUBLE) * CAST(nk AS DOUBLE))
         |      / (CAST(nk AS DOUBLE) * CAST(n AS DOUBLE)
         |        * CAST(n AS DOUBLE)) * 100000000.0 + 0.5) AS BIGINT))
         |    AS BIGINT) AS res_q
         |  FROM tq, tot)
         |SELECT n,
         |  floor(CAST(yy AS DOUBLE) / CAST(n AS DOUBLE) * 10000.0
         |    + 0.5) / 10000.0 AS base_rate,
         |  floor(CAST(sq AS DOUBLE) / (CAST(n AS DOUBLE) * 100000000.0)
         |    * 10000.0 + 0.5) / 10000.0 AS brier,
         |  floor(CAST(rel_q AS DOUBLE)
         |    / (CAST(n AS DOUBLE) * 100000000.0) * 10000.0 + 0.5)
         |    / 10000.0 AS reliability,
         |  floor(CAST(res_q AS DOUBLE)
         |    / (CAST(n AS DOUBLE) * 100000000.0) * 10000.0 + 0.5)
         |    / 10000.0 AS resolution,
         |  floor(CAST(yy AS DOUBLE) / CAST(n AS DOUBLE)
         |    * (1.0 - CAST(yy AS DOUBLE) / CAST(n AS DOUBLE))
         |    * 10000.0 + 0.5) / 10000.0 AS uncertainty,
         |  floor(CAST(wbv_q AS DOUBLE)
         |    / (CAST(n AS DOUBLE) * 100000000.0) * 10000.0 + 0.5)
         |    / 10000.0 AS within_bin
         |FROM tot, res""".stripMargin),
      (s, dir) => {
        import graft.functions.QualityRules
        val scored = t(s, dir, "documents").select(
          TextFunctions.classifierProb(col("text")).as("cls_prob"),
          QualityRules.gopherKeep(
            QualityRules.tokenStats(col("text"))).as("keep"))
        LabelQuality.brierDecomposition(scored, "cls_prob", "keep",
          bins = 10)
      }),

    // ---- marginal gram novelty per source — the deduplicated-
    //      acquisition view of x189's similarity matrix: every
    //      distinct 8-token span is owned by its first source, and a
    //      mirror site scores ~0 novelty regardless of size ----
    Q("x233_source_novelty", Some(
      s"""WITH tk AS (
         |  SELECT source, ${tokSql("text")} AS t FROM documents),
         |base AS (
         |  SELECT source, CAST(len(t) AS BIGINT) AS n_tok, t FROM tk),
         |g AS (
         |  SELECT DISTINCT source,
         |    ('0x' || substr(md5(array_to_string(t[i+1:i+8], ' ')), 1, 15))::BIGINT AS h
         |  FROM base, unnest(generate_series(0, CAST(n_tok AS INTEGER) - 8)) AS u(i)
         |  WHERE n_tok >= 8),
         |per AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS n_grams
         |  FROM g GROUP BY 1),
         |nov AS (
         |  SELECT owner AS source, CAST(count(*) AS BIGINT) AS n_novel
         |  FROM (SELECT h, min(source) AS owner FROM g GROUP BY h)
         |  GROUP BY 1)
         |SELECT p.source, n_grams, coalesce(n_novel, 0) AS n_novel,
         |  floor(CAST(coalesce(n_novel, 0) AS DOUBLE)
         |    / CAST(n_grams AS DOUBLE) * 10000.0 + 0.5) / 10000.0
         |    AS novelty
         |FROM per p LEFT JOIN nov USING (source)
         |ORDER BY source""".stripMargin),
      (s, dir) => CorpusStats.sourceNovelty(t(s, dir, "documents"),
        "source", "text", k = 8)),

    // ---- weekday-seasonality anomaly flags — which days BREAK the
    //      weekly cycle x218 detects: exact-integer relative-deviation
    //      compare (|2xn − 2s| > s), epoch-aligned weekday index, all
    //      frames calendar-bounded ----
    Q("x234_weekday_anomaly", Some(
      """WITH daily AS (
        |  SELECT event_type, epoch_ns(ts) // 86400000000000 AS t,
        |    CAST(count(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |pts AS (SELECT event_type, t, x, t % 7 AS weekday FROM daily),
        |wd AS (
        |  SELECT event_type, weekday, CAST(sum(x) AS BIGINT) AS s,
        |    CAST(count(*) AS BIGINT) AS nw
        |  FROM pts GROUP BY 1, 2)
        |SELECT p.event_type, p.t, p.weekday, p.x,
        |  floor(CAST(s AS DOUBLE) / CAST(nw AS DOUBLE) * 10000.0 + 0.5)
        |    / 10000.0 AS expected,
        |  abs(2 * p.x * nw - 2 * s) > s AS flagged
        |FROM pts p JOIN wd
        |  ON wd.event_type = p.event_type AND wd.weekday = p.weekday
        |ORDER BY p.event_type, p.t""".stripMargin),
      (s, dir) => {
        val daily = ReferenceCatalog.events(s, dir)
          .select(col("event_type"),
            expr("unix_micros(ts) div 86400000000").as("t"))
          .groupBy("event_type", "t").agg(count(lit(1)).as("x"))
        Profiling.weekdayAnomaly(daily, "event_type", "t", "x")
      })
  )

  /** x201's fully-staged arrival directory — the normalized events
    * file plus the far-future SENTINEL heartbeat (one event 13h = gap
    * + 1h past the last real event), mod times fixed so the sentinel
    * is strictly LAST — built once per (session, dir): the r10 verdict
    * item-8 fixture. Staging (a toDF write job + the maxNs scan + file
    * copies) is setup, not the stream being measured; each drain
    * replays the same staged bytes against a fresh checkpoint, so
    * repeat runs pay only the drain. Swept like [[arrivalStage]]
    * (scratchDirs owns the tree at exit). */
  private val sessArrivals =
    scala.collection.mutable.HashMap[String, (SparkSession, String)]()
  private def stagedSessionArrivals(s: SparkSession, dir: String)
      : String = sessArrivals.synchronized {
    sessArrivals.filterInPlace { case (_, (sess, _)) =>
      !sess.sparkContext.isStopped }
    val k = s"${System.identityHashCode(s)}|$dir"
    sessArrivals.get(k) match {
      case Some((sess, p)) if sess eq s => p
      case _ =>
        import graft.streaming.StreamSessions
        val root = tmp("graft-sess-stage")
        val arrivals = s"$root/arrivals"
        writeEventArrivalsNs(s, dir, arrivals)
        val maxNs = eventsNs(s, dir).agg(max("ts")).head().getLong(0)
        val sentinelNs = maxNs + 13L * 3600L * 1000000000L
        import s.implicits._
        Seq((0L, sentinelNs, StreamSessions.SentinelUser,
            "sentinel", 0.0, "{}"))
          .toDF("event_id", "ts", "user_id", "event_type", "value",
            "props")
          .coalesce(1).write.parquet(s"$root/sentinel-stage")
        val sent = new java.io.File(s"$root/sentinel-stage").listFiles()
          .find(_.getName.endsWith(".parquet"))
          .getOrElse(sys.error("no sentinel part file"))
        val dataFile = new java.io.File(s"$arrivals/events_1.parquet")
        val t0 = System.currentTimeMillis()
        dataFile.setLastModified(t0 - 120000L)
        java.nio.file.Files.copy(sent.toPath, java.nio.file.Paths.get(
          s"$arrivals/z_sentinel.parquet"))
        new java.io.File(s"$arrivals/z_sentinel.parquet")
          .setLastModified(t0)
        sessArrivals(k) = (s, arrivals)
        arrivals
    }
  }

  /** [[sqlOf]] for twins of queries OUTSIDE `base` (round-N catalogs
    * are object vals, so a twin declared in a LATER val can share an
    * earlier round's SQL — same lookup-not-copy discipline). */
  private def sqlOfRound(qs: Seq[Q], name: String): Option[String] =
    Some(qs.find(_.name == name)
      .getOrElse(sys.error(s"twin references unknown $name"))
      .sql.getOrElse(sys.error(s"$name has no oracle SQL to share")))

  /** Published margin-mining IVF index (k-means centroids + postings),
    * built ONCE per (session, dir) — the x115–x118 write-time pattern
    * applied to margin mining. x200 keeps train-in-query so the oracle
    * verifies training end to end; this store pins the production READ
    * path, so x235 pays the probe alone. Sized by the same √n rule as
    * x200 (and trained on the same side with the same iters), so both
    * probe an identical index and share one oracle. Swept like the
    * other memos (dead sessions' stores go with scratchDirs at exit). */
  private val marginIdx = scala.collection.mutable
    .HashMap[String, (SparkSession, String, String)]()
  private def marginIndexStores(s: SparkSession, dir: String)
      : (String, String) = marginIdx.synchronized {
    marginIdx.filterInPlace { case (_, (sess, _, _)) =>
      !sess.sparkContext.isStopped }
    val k = s"${System.identityHashCode(s)}|$dir"
    marginIdx.get(k) match {
      case Some((sess, c, p)) if sess eq s => (c, p)
      case _ =>
        val bSide = t(s, dir, "embeddings").filter(col("label") % 2 === 1)
        val kCents = math.max(16,
          (math.sqrt(bSide.count().toDouble) / 2).toInt)
        val centStore = tmp("graft-m235-cent")
        ArtifactStore.publish(s, centStore, Similarity.kmeansCentroids(
          bSide, "vec_id", "embedding", k = kCents, iters = 2))
        val postStore = tmp("graft-m235-post") + "/postings"
        Similarity.appendIvfPostings(s, postStore, bSide,
          "vec_id", "embedding", ArtifactStore.load(s, centStore))
        marginIdx(k) = (s, centStore, postStore)
        (centStore, postStore)
    }
  }

  /** Round-11 additions (r10 verdict items 4/5/6): the margin miner's
    * store-probe twin, the manifested streaming merge, and
    * manifest-registered small-file compaction. */
  private val roundEleven: Seq[Q] = Seq(

    // ---- margin mining probing a VERSIONED STORED index: x200 ≡ this
    //      by oracle hash, but here the centroids + postings are
    //      published once per session at write time (marginIndexStores)
    //      and the query is candidate probe + margin math alone — the
    //      linear production read path, pinned. The n·√n train/assign
    //      cost x200 carries in-query is amortized into the store, the
    //      x115–x118 precedent ----
    Q("x235_margin_store_probe", sqlOfRound(roundTen,
      "x200_margin_over_ann"),
      (s, dir) => {
        val (centStore, postStore) = marginIndexStores(s, dir)
        val aSide = t(s, dir, "embeddings")
          .filter(col("label") % 2 === 0)
        val cands = Similarity.ivfProbePostings(aSide, "vec_id",
          "embedding", MergeUpsert.readPlain(s, postStore),
          k = MarginCandK, ArtifactStore.load(s, centStore), nProbe = 2)
        Similarity.marginOverCandidates(
          cands.select(col("qid").as("aid"), col("eid").as("bid"),
            col("sim")),
          k = MarginK)
      }),

    // ---- streaming merge THROUGH the manifest (x11's drain composed
    //      with x202's table format): a redelivered byte-identical
    //      arrival file (copies = 2, the at-least-once case) drains
    //      through per-batch mergeWriteManifested — each micro-batch's
    //      existing-rows read plans from file zones, each publish
    //      refreshes only touched manifest rows — and the range lookup
    //      plans from the post-drain manifest under x202's exact
    //      oracle, so "streamed table ≡ batch table" is hash-checked ----
    Q("x236_stream_manifest_merge", sqlOfRound(roundTen,
      "x202_manifest_lookup"),
      (s, dir) => {
        import graft.streaming.StreamIngest
        val work = tmp("graft-smanifest")
        writeEventArrivalsNs(s, dir, s"$work/arrivals", copies = 2)
        StreamIngest.ingestAvailableNowManifested(s, s"$work/arrivals",
          eventArrivalSchema, s"$work/tbl", keys = Seq("event_id"),
          checkpoint = s"$work/cp",
          transform = b => b.select(col("event_id"), col("user_id"),
            col("event_type"),
            TextFunctions.portableRound(col("value"), 4).as("value"),
            to_date(timestamp_micros(expr("ts DIV 1000")))
              .cast("string").as("date")))
        val (hit, rep) = TableManifest.lookup(s, s"$work/tbl",
          "event_id", ManifestLookupLo, ManifestLookupHi)
        require(rep.filesKept < rep.filesTotal,
          s"post-drain manifest zones must prune files, got $rep")
        hit.select("event_id", "user_id", "event_type", "value")
          .orderBy("event_id")
      }),

    // ---- small-file compaction REGISTERED in the manifest: an
    //      external task-parallel append fragments the merged table's
    //      calendar partitions (4 writer tasks × 30 dates of small
    //      files), the manifest is refreshed to track them, and
    //      compactManifested rewrites exactly the over-threshold
    //      partitions back to one file each through the same dynamic
    //      overwrite + atomic manifest publish. The oracle reads the
    //      UNION content back through the manifest — compaction must
    //      move bytes, never change them ----
    Q("x237_manifest_compaction", Some(
      """WITH t AS (
        |  SELECT event_id, user_id, event_type,
        |    floor(value * 10000.0 + 0.5) / 10000.0 AS value FROM events
        |  UNION ALL
        |  SELECT event_id + 10000000, user_id, event_type,
        |    floor(value * 10000.0 + 0.5) / 10000.0 FROM events
        |  WHERE event_id % 11 = 0)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(event_id) AS BIGINT) AS id_sum
        |FROM t GROUP BY 1 ORDER BY event_type""".stripMargin),
      (s, dir) => {
        val work = tmp("graft-compact-m")
        val path = s"$work/tbl"
        val ev = eventsNs(s, dir).select(col("event_id"), col("user_id"),
          col("event_type"),
          TextFunctions.portableRound(col("value"), 4).as("value"),
          to_date(timestamp_micros(expr("ts DIV 1000"))).cast("string")
            .as("date"))
        TableManifest.mergeWriteManifested(s, path, ev,
          keys = Seq("event_id"))
        val extra = ev.filter(col("event_id") % 11 === 0)
          .withColumn("event_id", col("event_id") + 10000000L)
        // out-of-band arrival registered with EXACT file accounting
        // (replacePartitions, nothing replaced) — on a copy-on-write
        // table a dir rescan (update) could resurrect superseded files
        TableManifest.replacePartitions(s, path, extra.repartition(4),
          keyCol = "event_id", partitionCol = "date", replaceParts = Nil)
        val rep = TableManifest.compactManifested(s, path,
          keyCol = "event_id")
        require(rep.partsCompacted >= 1 &&
          rep.filesAfter < rep.filesBefore,
          s"compaction must collapse the appended fragments, got $rep")
        TableManifest.readViaManifest(s, path)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            sum(col("event_id")).cast("long").as("id_sum"))
          .orderBy("event_type")
      })
  )

  /** Round-11b: write-time-maintained distributions and metadata time
    * travel — the monitoring/audit pair a production lake runs at
    * cadence. */
  private val roundElevenB: Seq[Q] = Seq(

    // ---- incremental quantile store: per-batch QUANTIZED value
    //      counts merged additively into a versioned store (the x85→
    //      x210 CMS discipline applied to percentiles — any batch
    //      split/order equals the from-scratch histogram, exactly),
    //      probed for exact type-1 percentiles with all rank
    //      arithmetic in integer longs. The oracle replays
    //      quantize → cumulative count → ⌈n·p/100⌉ order statistics ----
    Q("x238_quantile_store", Some(
      """WITH q AS (
        |  SELECT event_type AS grp,
        |    CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS q
        |  FROM events WHERE value IS NOT NULL),
        |c AS (SELECT grp, q, CAST(count(*) AS BIGINT) AS cnt
        |      FROM q GROUP BY 1, 2),
        |n AS (SELECT grp, CAST(sum(cnt) AS BIGINT) AS n
        |      FROM c GROUP BY 1),
        |cum AS (SELECT grp, q,
        |          sum(cnt) OVER (PARTITION BY grp ORDER BY q) AS cum
        |        FROM c),
        |t AS (SELECT grp, n, pct, (n * pct + 99) // 100 AS r
        |      FROM n, (SELECT unnest([25, 50, 75]) AS pct)),
        |p AS (
        |  SELECT cum.grp, t.pct, t.n,
        |    min(CASE WHEN cum.cum >= t.r THEN cum.q END) AS qv
        |  FROM cum JOIN t ON cum.grp = t.grp
        |  GROUP BY 1, 2, 3)
        |SELECT grp, CAST(pct AS INT) AS pct, n,
        |  CAST(qv AS DOUBLE) / 10000.0 AS value
        |FROM p ORDER BY grp, pct""".stripMargin),
      (s, dir) => {
        val store = tmp("graft-qstore") + "/hist"
        val ev = ReferenceCatalog.events(s, dir)
          .select(col("event_id"), col("event_type"), col("value"))
        // three appends in an arbitrary split — additivity means the
        // store equals the one-shot histogram of the union
        (0 until 3).foreach { k =>
          Profiling.appendValueCounts(s, store,
            ev.filter(col("event_id") % 3 === k), "event_type", "value")
        }
        Profiling.quantilesFromStore(MergeUpsert.readPlain(s, store))
      }),

    // ---- manifest version diff (metadata time travel): after an
    //      incremental merge, diff the RETAINED manifest versions to
    //      report per partition what moved — added/removed/rewritten/
    //      carried with file and row counts — from O(files) metadata,
    //      no data file opened. Day buckets are integer ns-days (the
    //      x234 convention), so the oracle replays the touched set and
    //      row deltas exactly ----
    Q("x239_manifest_diff", Some(
      """WITH base AS (
        |  SELECT event_id, epoch_ns(ts) // 86400000000000 AS d
        |  FROM events),
        |before AS (SELECT d, CAST(count(*) AS BIGINT) AS n
        |           FROM base GROUP BY 1),
        |adds AS (SELECT d, CAST(count(*) AS BIGINT) AS a FROM base
        |         WHERE event_id % 7 = 0 AND event_id < 1000 GROUP BY 1)
        |SELECT CAST(b.d AS VARCHAR) AS part,
        |  CAST(1 AS BIGINT) AS files_before,
        |  CAST(1 AS BIGINT) AS files_after,
        |  b.n AS rows_before,
        |  b.n + coalesce(a.a, 0) AS rows_after,
        |  CASE WHEN a.d IS NOT NULL THEN 'rewritten'
        |       ELSE 'carried' END AS status
        |FROM before b LEFT JOIN adds a USING (d)
        |ORDER BY part""".stripMargin),
      (s, dir) => {
        val work = tmp("graft-mdiff")
        val path = s"$work/tbl"
        val ev = eventsNs(s, dir).select(col("event_id"), col("user_id"),
          col("event_type"),
          TextFunctions.portableRound(col("value"), 4).as("value"),
          expr("ts div 86400000000000").as("d"))
        TableManifest.mergeWriteManifested(s, path, ev,
          keys = Seq("event_id"), partitionCol = "d")
        val v1 = TableManifest.versions(s, path).last
        // incremental merge: NEW keys landing in the early-day
        // partitions only — the touched set the diff must report
        TableManifest.mergeWriteManifested(s, path,
          ev.filter(col("event_id") % 7 === 0 && col("event_id") < 1000)
            .withColumn("event_id", col("event_id") + 10000000L),
          keys = Seq("event_id"), partitionCol = "d")
        val v2 = TableManifest.versions(s, path).last
        require(v1 != v2, s"merge must publish a new manifest version")
        TableManifest.diffVersions(s, path, v1, v2)
      })
  )

  /** Round-12: the copy-on-write table format's lifecycle closed —
    * vacuum reclaim, data time travel, and the hospital parity
    * endpoint served through manifest-planned partitions, each under a
    * DuckDB oracle. */
  private val roundTwelve: Seq[Q] = Seq(

    // ---- the PARITY surface through the manifest, oracle-checked:
    //      a metrics-shaped table (date × region keyed, strain values)
    //      is published via mergeWriteManifested exactly as
    //      IngestJob/MetricsJob publish the hospital tables, and
    //      /metrics/compare is served by QueryLayer.metricsCompareAt —
    //      whose scan must touch ONLY the target and −1-day partitions'
    //      files (the in-query require reads the plan's inputFiles).
    //      Closes the r11 gap "manifest-planned parity endpoints are
    //      spec-tested, not oracle-checked" ----
    Q("q24_manifest_compare", Some(
      """WITH d AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |         floor(SUM(value) * 10000.0 + 0.5) / 10000.0 AS v
        |  FROM events GROUP BY 1, 2),
        |mx AS (SELECT max(day) AS target FROM d)
        |SELECT c.day AS date, upper(c.event_type) AS region,
        |       c.v AS strain_index, p.v AS prev_strain,
        |       floor((c.v - p.v) * 10000.0 + 0.5) / 10000.0 AS delta
        |FROM d c
        |JOIN mx ON c.day = mx.target
        |LEFT JOIN d p
        |  ON p.event_type = c.event_type AND p.day = c.day - 1
        |ORDER BY region""".stripMargin),
      (s, dir) => {
        val work = tmp("graft-q24")
        val path = s"$work/metrics"
        val daily = ReferenceCatalog.events(s, dir)
          .groupBy(col("event_type").as("region_id"),
            to_date(col("ts")).as("date"))
          .agg(TextFunctions.portableRound(sum("value"), 4)
            .as("strain_index"))
        TableManifest.mergeWriteManifested(s, path, daily,
          keys = Seq("date", "region_id"), zoneKey = Some("region_id"))
        val target = daily.agg(max("date")).head().getDate(0)
        val regions = daily.select(col("region_id")).distinct()
          .select(col("region_id"), upper(col("region_id")).as("name"))
        val out = graft.pipeline.QueryLayer.metricsCompareAt(
          s, path, regions, target)
        val totalFiles = TableManifest.load(s, path).get.count()
        // the plan also scans the regions dim (events-derived); count
        // only the metrics TABLE's files it touches
        val scanned = out.inputFiles.count(_.contains(work))
        require(scanned >= 1 && scanned <= 2 && scanned < totalFiles,
          s"compare must read only the target and -1-day partitions' " +
            s"files, got $scanned of $totalFiles")
        out.select(col("date"), col("region"), col("strain_index"),
          col("prev_strain"),
          TextFunctions.portableRound(col("delta"), 4).as("delta"))
          .orderBy("region")
      }),

    // ---- vacuum: after a create + two redelivered merges, the table
    //      dir holds superseded copy-on-write generations; vacuum
    //      reclaims exactly the files no retained manifest version
    //      references (proven non-zero), a re-run reclaims nothing,
    //      and the post-vacuum range lookup is hash-checked under
    //      x202's byte-identical oracle — reclaim must free bytes,
    //      never change answers ----
    Q("x240_table_vacuum", sqlOfRound(roundTen, "x202_manifest_lookup"),
      (s, dir) => {
        val work = tmp("graft-vacuum")
        val path = s"$work/events_table"
        val ev = eventsNs(s, dir).select(col("event_id"), col("user_id"),
          col("event_type"),
          TextFunctions.portableRound(col("value"), 4).as("value"),
          to_date(timestamp_micros(expr("ts DIV 1000"))).cast("string")
            .as("date"))
        TableManifest.mergeWriteManifested(s, path, ev,
          keys = Seq("event_id"))
        TableManifest.mergeWriteManifested(s, path,
          ev.filter(col("event_id") % 7 === 0), keys = Seq("event_id"))
        TableManifest.mergeWriteManifested(s, path,
          ev.filter(col("event_id") % 5 === 0), keys = Seq("event_id"))
        val vac = TableManifest.vacuum(s, path, keepVersions = 2)
        require(vac.filesDeleted >= 1,
          s"three publishes must leave unreferenced generations: $vac")
        val again = TableManifest.vacuum(s, path, keepVersions = 2)
        require(again.filesDeleted == 0,
          s"vacuum must be idempotent: $again")
        val (hit, rep) = TableManifest.lookup(s, path, "event_id",
          ManifestLookupLo, ManifestLookupHi)
        require(rep.filesKept < rep.filesTotal,
          s"zones must still prune after vacuum, got $rep")
        hit.select("event_id", "user_id", "event_type", "value")
          .orderBy("event_id")
      }),

    // ---- vacuum AT STREAMING CADENCE: the x236 drain re-run with
    //      one file per micro-batch (the redelivered copy rewrites
    //      every partition — the copy-on-write growth worst case) and
    //      vacuumEvery=1/keepVersions=1; the in-query require proves
    //      the table dir holds EXACTLY the live file set after the
    //      drain, and the range lookup stays hash-checked under x202's
    //      byte-identical oracle — the storage bound that makes COW
    //      viable at merge cadence, proven on the streaming path ----
    Q("x243_stream_vacuum", sqlOfRound(roundTen, "x202_manifest_lookup"),
      (s, dir) => {
        import graft.streaming.StreamIngest
        val work = tmp("graft-svac")
        writeEventArrivalsNs(s, dir, s"$work/arrivals", copies = 2)
        StreamIngest.ingestAvailableNowManifested(s, s"$work/arrivals",
          eventArrivalSchema, s"$work/tbl", keys = Seq("event_id"),
          checkpoint = s"$work/cp",
          transform = b => b.select(col("event_id"), col("user_id"),
            col("event_type"),
            TextFunctions.portableRound(col("value"), 4).as("value"),
            to_date(timestamp_micros(expr("ts DIV 1000")))
              .cast("string").as("date")),
          maxFilesPerTrigger = Some(1), vacuumEvery = 1,
          keepVersions = 1)
        val manifestFiles =
          TableManifest.load(s, s"$work/tbl").get.count()
        val dirFiles = new java.io.File(s"$work/tbl").listFiles()
          .filter(d => d.isDirectory && d.getName.startsWith("date="))
          .map(_.listFiles.count(_.getName.endsWith(".parquet")).toLong)
          .sum
        require(dirFiles == manifestFiles,
          s"post-drain storage must equal the live file set: " +
            s"dir=$dirFiles manifest=$manifestFiles")
        val (hit, rep) = TableManifest.lookup(s, s"$work/tbl",
          "event_id", ManifestLookupLo, ManifestLookupHi)
        require(rep.filesKept < rep.filesTotal,
          s"post-vacuum manifest zones must prune files, got $rep")
        hit.select("event_id", "user_id", "event_type", "value")
          .orderBy("event_id")
      }),

    // ---- data time travel: a merge lands 10M-offset NEW keys, then
    //      readVersion re-reads the PRE-merge manifest version — the
    //      audit read a production lake runs daily — and its aggregate
    //      hash-checks against the oracle replaying the original
    //      events alone. The in-query require proves the live table
    //      really moved on (time travel is not just the live read) ----
    Q("x241_time_travel", Some(
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(event_id) AS BIGINT) AS id_sum,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS users
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin),
      (s, dir) => {
        val work = tmp("graft-asof")
        val path = s"$work/tbl"
        val ev = eventsNs(s, dir).select(col("event_id"), col("user_id"),
          col("event_type"),
          TextFunctions.portableRound(col("value"), 4).as("value"),
          to_date(timestamp_micros(expr("ts DIV 1000"))).cast("string")
            .as("date"))
        TableManifest.mergeWriteManifested(s, path, ev,
          keys = Seq("event_id"))
        val v1 = TableManifest.versions(s, path).last
        TableManifest.mergeWriteManifested(s, path,
          ev.filter(col("event_id") % 13 === 0)
            .withColumn("event_id", col("event_id") + 10000000L),
          keys = Seq("event_id"))
        val asOf = TableManifest.readVersion(s, path, v1)
        val liveN = TableManifest.readViaManifest(s, path).count()
        val v1N = asOf.count()
        require(liveN > v1N,
          s"the live table must have moved past v1 ($liveN vs $v1N)")
        asOf.groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            sum(col("event_id")).cast("long").as("id_sum"),
            countDistinct(col("user_id")).as("users"))
          .orderBy("event_type")
      })
  )

  private val roundThirteen: Seq[Q] = Seq(

    // ---- schema evolution on the MANIFESTED copy-on-write path
    //      (r12 verdict item 6): a widened batch (new score_q column,
    //      fresh keys) lands through replacePartitions — exact file
    //      registration, no dir rescan — and the manifest read
    //      reconciles both schema generations with mergeSchema
    //      (pre-evolution rows read NULL in the added column). The
    //      oracle replays the union with an explicit NULL column. All
    //      aggregates integer-typed (quantized score) so the hash
    //      compare is float-order-free ----
    Q("x244_manifest_evolution", Some(
      """WITH t AS (
        |  SELECT event_id, event_type, CAST(NULL AS BIGINT) AS score_q
        |  FROM events
        |  UNION ALL
        |  SELECT event_id + 10000000, event_type,
        |    CAST(floor(value * 10000.0 + 0.5) AS BIGINT)
        |  FROM events WHERE event_id % 9 = 0)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(event_id) AS BIGINT) AS id_sum,
        |  CAST(count(score_q) AS BIGINT) AS n_scored,
        |  CAST(sum(score_q) AS BIGINT) AS score_sum
        |FROM t GROUP BY 1 ORDER BY event_type""".stripMargin),
      (s, dir) => {
        val work = tmp("graft-evolve-m")
        val path = s"$work/tbl"
        def evBase = eventsNs(s, dir).select(col("event_id"),
          col("user_id"), col("event_type"),
          TextFunctions.portableRound(col("value"), 4).as("value"),
          to_date(timestamp_micros(expr("ts DIV 1000"))).cast("string")
            .as("date"))
        TableManifest.mergeWriteManifested(s, path, evBase,
          keys = Seq("event_id"))
        // the widened generation: same layout + score_q, disjoint keys
        // (replacing nothing, it is append-only — the caller owns
        // uniqueness)
        val widened = eventsNs(s, dir)
          .filter(col("event_id") % 9 === 0)
          .select((col("event_id") + 10000000L).as("event_id"),
            col("user_id"), col("event_type"),
            TextFunctions.portableRound(col("value"), 4).as("value"),
            to_date(timestamp_micros(expr("ts DIV 1000"))).cast("string")
              .as("date"),
            floor(col("value") * 10000.0 + 0.5).cast("long").as("score_q"))
        TableManifest.replacePartitions(s, path, widened,
          keyCol = "event_id", partitionCol = "date", replaceParts = Nil)
        val t = TableManifest.readViaManifest(s, path, mergeSchema = true)
        require(t.columns.contains("score_q"),
          "the merged manifest read must carry the evolved column")
        t.groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            sum(col("event_id")).cast("long").as("id_sum"),
            count(col("score_q")).as("n_scored"),
            sum(col("score_q")).cast("long").as("score_sum"))
          .orderBy("event_type")
      }),

    // ---- x05's scale flagship (round 13, VERDICT r12 item 1b): the
    //      blocked exact character-trigram Jaccard report, restricted
    //      to the banded MinHash candidates — the x16 composition with
    //      x05's blocking and threshold. The candidate restriction
    //      turns the quadratic in-block pair join into two equi joins
    //      of a linear-ish candidate list; measured flat 1.5×
    //      sf0.1→sf1 where the full form grew 72× (output-bound).
    //      Pairs the banding misses are absent by design — x121
    //      measures exactly that miss rate (0.9965 at sf1) ----
    Q("x245_ngram_jaccard_lsh", Some(
      s"""WITH ${minhashPairsSql()},
         |${ngramLshPairsSql("documents", 0.2)}
         |SELECT id_a, id_b, jaccard FROM jp ORDER BY id_a, id_b""".stripMargin),
      (s, dir) => Dedup.ngramJaccardOnPairs(t(s, dir, "documents"),
        "doc_id", "text", blockCol = "lang",
        pairs = lshCands(s, dir).select("id_a", "id_b"),
        n = 3, bucketChars = 25, minJaccard = 0.2)
        .orderBy("id_a", "id_b")),

    // ---- SimHash near-dup audit on a deterministic doc sample
    //      (replaces x13's full pair list — round 13): identical
    //      32-bit signature, 3-block pigeonhole banding and hamming≤2
    //      verify, restricted to the h60('shp:'+id)%2 doc sample.
    //      Signatures are per-doc (sample-independent), so sampling
    //      BEFORE banding changes nothing but the pair population:
    //      output falls with the sampled clique mass (~4× here) while
    //      the full form grew 93× sf0.1→sf1 on replica cliques. At
    //      100 TB this is the audit shape; removal flows run spanning
    //      edges (x18/x91), never the pair square. ----
    Q("x246_simhash_pairs_sampled", {
      val blockList = Dedup.simhashBlocks(3).map { case (k, shift, w) =>
        s"'$k:' || ((simhash >> $shift) & ${(1L << w) - 1})"
      }.mkString(", ")
      Some(
        s"""WITH sig AS ($simhashSql),
           |ssig AS (
           |  SELECT * FROM sig
           |  WHERE ${h60Sql("'shp:' || CAST(doc_id AS VARCHAR)", 2)} = 0),
           |bands AS (
           |  SELECT doc_id, simhash, unnest([$blockList]) AS block_key
           |  FROM ssig)
           |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           |       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
           |FROM bands a JOIN bands b
           |  ON a.block_key = b.block_key AND a.doc_id < b.doc_id
           |WHERE bit_count(xor(a.simhash, b.simhash)) <= 2
           |ORDER BY id_a, id_b""".stripMargin)
    },
      (s, dir) => Dedup.simhashPairs(
        t(s, dir, "documents").filter(TextFunctions.md5Hash60(
          concat(lit("shp:"), col("doc_id").cast("string"))) % 2 === 0),
        "doc_id", "text", maxHamming = 2).orderBy("id_a", "id_b")),

    // ---- embedding near-dup audit on a deterministic base-id sample
    //      (replaces x14's full pair list — round 13). Planting is
    //      applied AFTER the sample, so every sampled vector still
    //      carries its scaled copy (vec_id + 1e12, v·1.02 — cosine
    //      rounds to 1.0, sign-LSH is scale-invariant): the planted
    //      pair population stays non-vacuous at every SF while the
    //      replica-clique mass falls quadratically with the sample. ----
    Q("x247_embedding_neardup_sampled", Some(
      s"""WITH base AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding
         |  FROM embeddings
         |  WHERE ${h60Sql("'emn:' || CAST(vec_id AS VARCHAR)", 2)} = 0),
         |seeded AS (
         |  SELECT vec_id, embedding FROM base
         |  UNION ALL
         |  SELECT vec_id + 1000000000000, list_transform(embedding, x -> x * 1.02)
         |  FROM base),
         |b AS (
         |  SELECT vec_id, embedding, ${bucketSql("embedding", 4)} AS bucket
         |  FROM seeded)
         |SELECT id_a, id_b, sim FROM (
         |  SELECT a.vec_id AS id_a, b2.vec_id AS id_b,
         |         ${cosineSql("a.embedding", "b2.embedding")} AS sim
         |  FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id)
         |WHERE sim >= 0.95 ORDER BY id_a, id_b""".stripMargin),
      (s, dir) => {
        val base = t(s, dir, "embeddings")
          .filter(TextFunctions.md5Hash60(
            concat(lit("emn:"), col("vec_id").cast("string"))) % 2 === 0)
          .select(col("vec_id"),
            col("embedding").cast("array<double>").as("embedding"))
        // offset far above any natural vec_id (collision would silently
        // pair unrelated vectors under one id on both engines)
        val planted = base.select(
          (col("vec_id") + lit(1000000000000L)).as("vec_id"),
          transform(col("embedding"), x => x * lit(1.02)).as("embedding"))
        Similarity.embeddingNearDup(base.unionByName(planted),
          "vec_id", "embedding", threshold = 0.95, planes = 4)
          .orderBy("id_a", "id_b")
      }),

    // ---- edit-distance near-dup audit on a deterministic doc sample
    //      (replaces x93's full candidate sweep — round 13): the same
    //      est_jaccard ≥ 0.25 MinHash candidates and threshold'd
    //      Levenshtein (bounded DP), with BOTH pair sides required
    //      in-sample — the h60 doc sample induces an unbiased pair
    //      sample (the x121 audit argument), cutting emitted pairs
    //      ~4× where the full form grew 343× sf0.1→sf1. ----
    Q("x248_editdist_sampled", Some(
      s"""WITH ${minhashPairsSql()},
         |sd AS (
         |  SELECT doc_id, text FROM documents
         |  WHERE ${h60Sql("'edd:' || CAST(doc_id AS VARCHAR)", 2)} = 0)
         |SELECT c.id_a, c.id_b,
         |  CAST(levenshtein(da.text, db.text) AS BIGINT) AS dist,
         |  floor((1.0 - CAST(levenshtein(da.text, db.text) AS DOUBLE) /
         |    greatest(length(da.text), length(db.text), 1))
         |    * 10000.0 + 0.5) / 10000.0 AS edit_sim
         |FROM cand c
         |JOIN sd da ON c.id_a = da.doc_id
         |JOIN sd db ON c.id_b = db.doc_id
         |WHERE c.est_jaccard >= 0.25
         |  AND abs(length(da.text) - length(db.text)) <= $EditDistMax
         |  AND levenshtein(da.text, db.text) <= $EditDistMax
         |ORDER BY id_a, id_b""".stripMargin),
      (s, dir) => {
        val sd = t(s, dir, "documents")
          .filter(TextFunctions.md5Hash60(
            concat(lit("edd:"), col("doc_id").cast("string"))) % 2 === 0)
        // length-band prefilter (r15): |len_a − len_b| lower-bounds the
        // edit distance, so pairs outside the band can never pass the
        // dist ≤ max cut — skipping their DP entirely. Result-identical
        // by construction (mirrored in the oracle WHERE); this row was
        // the bench's most CPU-elastic (a 4.7× window swing on the
        // levenshtein shape), so cutting its hot-loop mass also cuts
        // its variance.
        lshCands(s, dir).filter(col("est_jaccard") >= 0.25)
          .join(sd.select(col("doc_id").as("id_a"),
            col("text").as("ta")), Seq("id_a"))
          .join(sd.select(col("doc_id").as("id_b"),
            col("text").as("tb")), Seq("id_b"))
          .filter(abs(length(col("ta")) - length(col("tb")))
            <= EditDistMax)
          .withColumn("dist",
            levenshtein(col("ta"), col("tb"), EditDistMax).cast("long"))
          .filter(col("dist") >= 0)
          .select(col("id_a"), col("id_b"), col("dist"),
            TextFunctions.portableRound(
              lit(1.0) - col("dist").cast("double") /
                greatest(length(col("ta")), length(col("tb")), lit(1))
                  .cast("double"), 4).as("edit_sim"))
          .orderBy("id_a", "id_b")
      }),

    // ---- content-defined chunking dedup report (FastCDC/rsync
    //      family): boundaries where the md5-60 of the 8-char window
    //      ending at i ≡ 0 mod 64 (expected chunk ≈ 64 chars), doc end
    //      always a boundary — boundaries move WITH content, so shared
    //      boilerplate dedups at chunk grain regardless of its offset
    //      (CdcChunkSpec proves prefix-edit locality). Per-source
    //      duplicated-character-mass report: scan-shaped fan-out + one
    //      hash agg, the storage-dedup dashboard row. ----
    Q("x249_cdc_chunk_stats", Some(
      s"""WITH d AS (
         |  SELECT source, text FROM documents
         |  WHERE length(text) > 0),
         |${cdcChunkSql("source")}
         |SELECT source, CAST(count(*) AS BIGINT) AS n_chunks,
         |  CAST(count(DISTINCT chash) AS BIGINT) AS n_distinct,
         |  CAST(sum(clen) AS BIGINT) AS total_chars,
         |  floor((1.0 - CAST(count(DISTINCT chash) AS DOUBLE) /
         |    CAST(count(*) AS DOUBLE)) * 10000.0 + 0.5) / 10000.0
         |    AS dup_ratio
         |FROM c GROUP BY source ORDER BY source""".stripMargin),
      (s, dir) => Chunking.cdcChunkStats(t(s, dir, "documents"),
        "doc_id", "text", "source", w = 8, mask = 63)),

    // ---- watermark late-data audit: the batch replay of Structured
    //      Streaming's per-row drop decision (late iff event time <
    //      max-seen − delay AT ARRIVAL) — the report that sizes
    //      `withWatermark` BEFORE the stream silently discards data.
    //      Arrival order is a deterministic jitter model (event time +
    //      salted md5 % 2 h) so the replay is layout-independent and
    //      cross-engine checkable; the running max-seen uses the
    //      two-level prefix discipline (day-bucket windows + a
    //      bucket-maxima join), never a global-order window. ~26% of
    //      arrivals land late under a 1 h delay at this jitter. ----
    Q("x250_late_arrival_audit", Some(
      s"""WITH e AS (
         |  SELECT event_type, epoch_ns(ts) // 1000000 AS ms,
         |    epoch_ns(ts) // 1000000 +
         |      (${h60Sql("'arr:' || CAST(event_id AS VARCHAR)", 7200000L)})
         |      AS arr_ms
         |  FROM events),
         |w AS (
         |  SELECT event_type, ms,
         |    max(ms) OVER (ORDER BY arr_ms, ms
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS seen
         |  FROM e),
         |l AS (
         |  SELECT event_type,
         |    CASE WHEN seen IS NULL THEN 0
         |         ELSE greatest(seen - 3600000 - ms, 0) END AS late_by
         |  FROM w)
         |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(CASE WHEN late_by > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_late,
         |  floor(CAST(sum(CASE WHEN late_by > 0 THEN 1 ELSE 0 END)
         |      AS DOUBLE) / CAST(count(*) AS DOUBLE) * 10000.0 + 0.5)
         |    / 10000.0 AS late_ratio,
         |  CAST(max(late_by) AS BIGINT) AS max_late_ms
         |FROM l GROUP BY event_type ORDER BY event_type""".stripMargin),
      (s, dir) => {
        // eventsNs normalizes ts to ns-since-epoch longs on every
        // parquet layout (NANOS/NTZ/TZ) — div to ms from there
        val ms = expr("ts div 1000000")
        val e = eventsNs(s, dir).select(
          (ms + TextFunctions.md5Hash60(concat(lit("arr:"),
            col("event_id").cast("string"))) % lit(7200000L)).as("arr_ms"),
          ms.as("ms"), col("event_type"))
        graft.streaming.LateData.lateArrivalAudit(e, "arr_ms", "ms",
          "event_type", delayMs = 3600000L)
      }),

    // ---- Hill tail-index estimator over document character mass —
    //      "how heavy is the length tail?" decides length caps and
    //      packing slack (α ≤ 2 ⇒ infinite variance, giants dominate
    //      shuffle sizing). One top-(k+1) TakeOrderedAndProject + a
    //      1-row aggregate; the rank-k sum telescopes so no per-rank
    //      bookkeeping exists to disagree under ties. ----
    Q("x251_hill_tail", Some(
      s"""WITH t AS (
         |  SELECT CAST(n_chars AS BIGINT) AS v FROM documents
         |  WHERE n_chars > 0 ORDER BY v DESC LIMIT 101),
         |a AS (
         |  SELECT CAST(count(*) - 1 AS BIGINT) AS k, min(v) AS x_k,
         |    sum(ln(CAST(v AS DOUBLE))) -
         |      count(*) * ln(CAST(min(v) AS DOUBLE)) AS d
         |  FROM t)
         |SELECT k, x_k,
         |  CASE WHEN d < 0.000001 OR k < 1 THEN NULL
         |       ELSE floor(CAST(k AS DOUBLE) / d * 10000.0 + 0.5)
         |            / 10000.0 END AS alpha
         |FROM a""".stripMargin),
      (s, dir) => CorpusStats.hillTail(t(s, dir, "documents"),
        "n_chars", k = 100)),

    // ---- Kruskal–Wallis H across the five language groups on
    //      character mass — the multi-group rank test (x183's
    //      Mann–Whitney core answers only two-sample); average-rank
    //      ties, raw and tie-corrected H. Rank sums stay exact
    //      integers (doubled average ranks) through the ksDrift
    //      two-level prefix discipline; only the final k-term
    //      combination is floating. ----
    Q("x252_kruskal_wallis", Some(
      s"""WITH gv AS (
         |  SELECT lang AS g, CAST(n_chars AS BIGINT) AS v,
         |    CAST(count(*) AS BIGINT) AS tg
         |  FROM documents WHERE n_chars IS NOT NULL GROUP BY 1, 2),
         |per AS (SELECT v, CAST(sum(tg) AS BIGINT) AS t FROM gv GROUP BY v),
         |r AS (
         |  SELECT v, t,
         |    CAST(sum(t) OVER (ORDER BY v
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - t
         |      AS BIGINT) AS cless
         |  FROM per),
         |pg AS (
         |  SELECT g, CAST(sum(tg) AS BIGINT) AS ng,
         |    sum(CAST(tg AS HUGEINT) * (2 * cless + t + 1)) AS r2g
         |  FROM gv JOIN r USING (v) GROUP BY g),
         |st AS (
         |  SELECT sum(CAST(r2g AS DOUBLE) * CAST(r2g AS DOUBLE) /
         |      (4.0 * CAST(ng AS DOUBLE))) AS s,
         |    CAST(count(*) AS BIGINT) AS k_groups,
         |    CAST(sum(ng) AS BIGINT) AS n
         |  FROM pg),
         |tie AS (
         |  SELECT sum(CAST(t AS HUGEINT) * t * t - t) AS tie FROM r)
         |SELECT n, k_groups,
         |  CASE WHEN n <= k_groups THEN NULL
         |       ELSE floor((12.0 * s / (CAST(n AS DOUBLE) * (n + 1.0))
         |              - 3.0 * (n + 1.0)) * 10000.0 + 0.5) / 10000.0
         |  END AS h,
         |  CASE WHEN n <= k_groups
         |         OR (1.0 - CAST(tie AS DOUBLE) /
         |             (CAST(n AS DOUBLE) * n * n - n)) <= 0 THEN NULL
         |       ELSE floor((12.0 * s / (CAST(n AS DOUBLE) * (n + 1.0))
         |              - 3.0 * (n + 1.0))
         |            / (1.0 - CAST(tie AS DOUBLE) /
         |               (CAST(n AS DOUBLE) * n * n - n))
         |            * 10000.0 + 0.5) / 10000.0
         |  END AS h_tc
         |FROM st, tie""".stripMargin),
      (s, dir) => LabelQuality.kruskalWallis(t(s, dir, "documents"),
        "lang", "n_chars")),

    // ---- consistent-hash ring rebalance plan (8 → 9 shards, 16
    //      vnodes each): the transition matrix consistent hashing
    //      exists for — only ~1/9 of keys move where mod-n sharding
    //      would move 8/9. The rings are pure md5 functions of
    //      "ring:shard:vnode", computed once driver-side and embedded
    //      as sorted array LITERALS: per-row assignment is a codegen'd
    //      successor scan over a constant array — no join, no
    //      broadcast, no shuffle until the ≤72-group count. ----
    Q("x253_ring_rebalance", Some(
      s"""WITH v8 AS (
         |  SELECT CAST(s.sh AS INT) AS sh,
         |    ${h60Sql(
             "'ring:' || CAST(s.sh AS VARCHAR) || ':' || CAST(v.vn AS VARCHAR)",
             1152921504606846976L)} AS pos
         |  FROM generate_series(0, 7) s(sh), generate_series(0, 15) v(vn)),
         |v9 AS (
         |  SELECT CAST(s.sh AS INT) AS sh,
         |    ${h60Sql(
             "'ring:' || CAST(s.sh AS VARCHAR) || ':' || CAST(v.vn AS VARCHAR)",
             1152921504606846976L)} AS pos
         |  FROM generate_series(0, 8) s(sh), generate_series(0, 15) v(vn)),
         |d AS (
         |  SELECT doc_id, ${h60Sql("'doc:' || CAST(doc_id AS VARCHAR)",
             1152921504606846976L)} AS dpos
         |  FROM documents),
         |a8 AS (
         |  SELECT doc_id, coalesce(
         |      arg_min(sh, pos) FILTER (WHERE pos >= dpos),
         |      arg_min(sh, pos)) AS shard
         |  FROM d CROSS JOIN v8 GROUP BY doc_id),
         |a9 AS (
         |  SELECT doc_id, coalesce(
         |      arg_min(sh, pos) FILTER (WHERE pos >= dpos),
         |      arg_min(sh, pos)) AS shard
         |  FROM d CROSS JOIN v9 GROUP BY doc_id)
         |SELECT a8.shard AS shard_before, a9.shard AS shard_after,
         |  CAST(count(*) AS BIGINT) AS n_docs
         |FROM a8 JOIN a9 USING (doc_id)
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      (s, dir) => Sampling.ringRebalance(t(s, dir, "documents"),
        "doc_id", shardsBefore = 8, shardsAfter = 9, vnodes = 16)),

    // ---- sentence-level language segmentation: x04's cascade per
    //      SENTENCE (x157's portable splitter), reporting how mixed
    //      each doc is — dominant language, distinct-language count,
    //      adjacent switches. The within-doc complement of doc-level
    //      langid (x04) and script mixing (x153); the filter signal
    //      for half-translated/quote-heavy pages. One fan-out + two
    //      doc-keyed aggs + one doc-keyed window. ----
    Q("x254_lang_segments", {
      val (hitCols, best, cases) = langIdSqlPiecesOn("sent")
      Some(
        s"""WITH s0 AS (
           |  SELECT doc_id, regexp_extract_all(text, '[^.!?]+[.!?]*')
           |    AS sents
           |  FROM documents),
           |s1 AS (
           |  SELECT doc_id, unnest(generate_series(1, len(sents))) AS k,
           |    sents
           |  FROM s0 WHERE len(sents) > 0),
           |s2 AS (SELECT doc_id, k, sents[k] AS sent FROM s1),
           |s3 AS (SELECT doc_id, k, sent FROM s2
           |       WHERE len(${tokSql("sent")}) > 0),
           |h AS (SELECT doc_id, k, $hitCols FROM s3),
           |sl AS (
           |  SELECT doc_id, k, CASE $cases ELSE 'und' END AS slang
           |  FROM (SELECT *, $best AS best FROM h)),
           |sw AS (
           |  SELECT doc_id, slang,
           |    CASE WHEN lag(slang) OVER w IS NOT NULL
           |              AND lag(slang) OVER w <> slang
           |         THEN 1 ELSE 0 END AS sw
           |  FROM sl WINDOW w AS (PARTITION BY doc_id ORDER BY k)),
           |f AS (
           |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_seg,
           |    CAST(sum(sw) AS BIGINT) AS n_switches
           |  FROM sw GROUP BY doc_id),
           |pl AS (SELECT doc_id, slang, count(*) AS c FROM sl GROUP BY 1, 2),
           |dm AS (
           |  SELECT doc_id, slang,
           |    row_number() OVER (PARTITION BY doc_id
           |      ORDER BY c DESC, slang) AS rn
           |  FROM pl),
           |nl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_langs
           |       FROM pl GROUP BY doc_id)
           |SELECT f.doc_id, f.n_seg, nl.n_langs,
           |  d.slang AS dominant_lang, f.n_switches
           |FROM f JOIN nl USING (doc_id)
           |JOIN dm d ON d.doc_id = f.doc_id AND d.rn = 1
           |ORDER BY doc_id""".stripMargin)
    },
      (s, dir) => CorpusStats.langSegments(t(s, dir, "documents"),
        "doc_id", "text").orderBy("doc_id")),

    // ---- LSH design sweep: expected recall of every (bands × rows)
    //      factorization of the 32-hash budget over THIS corpus's
    //      verified near-dup population — E[1 − (1 − j^r)^b] on the
    //      exact pair Jaccards (×10⁸-quantized terms, exact integer
    //      mean). The analytic complement of x121 (measured recall of
    //      the deployed 8×4) and x138 (estimator calibration): the
    //      re-budgeting table consulted before re-indexing 100 TB. ----
    Q("x255_lsh_design_sweep", Some(
      s"""WITH ${minhashPairsSql()},
         |g AS (
         |  SELECT doc_id, list_distinct(list_transform(
         |    generate_series(1, greatest(length(text) - 2, 1)),
         |    i -> text[i : i + 2])) AS grams
         |  FROM documents),
         |vj AS (
         |  SELECT round(CAST(len(list_intersect(ga.grams, gb.grams)) AS DOUBLE) /
         |        CAST(len(list_distinct(list_concat(ga.grams, gb.grams))) AS DOUBLE), 4)
         |    AS jaccard
         |  FROM cand c
         |  JOIN g ga ON c.id_a = ga.doc_id
         |  JOIN g gb ON c.id_b = gb.doc_id
         |  WHERE c.est_jaccard >= 0.25),
         |v AS (SELECT jaccard FROM vj WHERE jaccard >= 0.4),
         |cfg AS (SELECT * FROM (VALUES (1, 32), (2, 16), (4, 8), (8, 4),
         |  (16, 2), (32, 1)) AS t(bands, rows_per_band)),
         |q AS (
         |  SELECT bands, rows_per_band,
         |    CAST(floor((1.0 - power(1.0 -
         |        power(jaccard, CAST(rows_per_band AS DOUBLE)),
         |        CAST(bands AS DOUBLE))) * 100000000.0 + 0.5) AS BIGINT)
         |      AS dq
         |  FROM v CROSS JOIN cfg)
         |SELECT bands, rows_per_band, CAST(count(*) AS BIGINT) AS n_pairs,
         |  floor(CAST(sum(dq) AS DOUBLE) /
         |    (CAST(count(*) AS DOUBLE) * 100000000.0) * 10000.0 + 0.5)
         |    / 10000.0 AS expected_recall
         |FROM q GROUP BY 1, 2 ORDER BY bands""".stripMargin),
      (s, dir) => Dedup.lshDesignSweep(verifiedPairs(s, dir),
        "jaccard", totalHashes = 32)),

    // ---- incremental CDC chunk ledger: three batch appends into a
    //      keyed (doc, chunk_idx) store, then the per-batch novelty
    //      curve — "does this crawl still bring NEW content", x199's
    //      exhaustion question at chunk grain, robust to re-wrapped
    //      documents because CDC boundaries move with content.
    //      First-seen attribution derives at read time (min batch per
    //      hash), so redelivery cannot corrupt it. ----
    Q("x256_cdc_store", Some(
      s"""WITH d AS (
         |  SELECT doc_id % 3 AS batch, text FROM documents
         |  WHERE length(text) > 0),
         |${cdcChunkSql("batch")},
         |fs AS (SELECT chash, min(batch) AS first_batch
         |       FROM c GROUP BY chash),
         |pb AS (SELECT batch, chash, count(*) AS occ
         |       FROM c GROUP BY 1, 2)
         |SELECT CAST(batch AS BIGINT) AS batch,
         |  CAST(sum(occ) AS BIGINT) AS n_chunks,
         |  CAST(count(*) AS BIGINT) AS n_distinct,
         |  CAST(sum(CASE WHEN first_batch = batch THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_novel,
         |  floor(CAST(sum(CASE WHEN first_batch = batch THEN 1 ELSE 0 END)
         |      AS DOUBLE) / CAST(count(*) AS DOUBLE) * 10000.0 + 0.5)
         |    / 10000.0 AS novel_ratio
         |FROM pb JOIN fs USING (chash)
         |GROUP BY 1 ORDER BY batch""".stripMargin),
      (s, dir) => {
        val store = s"${tmp("graft-cdcstore")}/ledger"
        val docs = t(s, dir, "documents")
        // grouped append: three tagged batches, ONE store publish —
        // spec-proven equal to three sequential appendCdcChunks calls
        // (which cost a store round-trip each, the x59 job-latency
        // class; CdcChunkSpec pins the equivalence)
        Chunking.appendCdcChunksBatches(s, store,
          (0L to 2L).map(b =>
            b -> docs.filter(col("doc_id") % 3 === b)),
          "doc_id", "text")
        Chunking.cdcStoreReport(s, store)
      }),

    // ---- symlink-format manifest export (the Delta
    //      generateSymlinkManifest convention): the COW table's live
    //      snapshot published as per-partition text file lists that
    //      external engines (Presto/Trino/Athena/Hive) read WITHOUT
    //      the _manifest protocol. The query reads the table back
    //      THROUGH the export and aggregates; an in-query require
    //      proves the exported set is exactly the live manifest's —
    //      so external readers see the snapshot, never superseded or
    //      in-flight files. Oracle replays the aggregates from the
    //      source rows. ----
    Q("x257_symlink_export", Some(
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(event_id) AS BIGINT) AS id_sum,
        |  CAST(sum(CAST(floor(value * 10000.0 + 0.5) AS BIGINT))
        |    AS BIGINT) AS value_q
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin),
      (s, dir) => {
        val work = tmp("graft-symlink")
        val path = s"$work/tbl"
        val base = eventsNs(s, dir).select(col("event_id"),
          col("user_id"), col("event_type"),
          floor(TextFunctions.portableRound(col("value"), 4) *
            lit(10000.0) + lit(0.5)).cast("long").as("value_q"),
          to_date(timestamp_micros(expr("ts DIV 1000"))).cast("string")
            .as("date"))
        TableManifest.mergeWriteManifested(s, path, base,
          keys = Seq("event_id"))
        val manifestDir = s"$work/sym"
        val n = TableManifest.exportSymlinkManifest(s, path, manifestDir)
        val live = TableManifest.load(s, path).get
          .select("file").collect().map(_.getString(0)).toSet
        // driver-side FS walk, not textFile: DataFrameReader's path
        // probe logs a spurious ERROR stack for glob paths (the r13
        // bench-tail noise; clean runs must log clean)
        val listed =
          TableManifest.symlinkListedPaths(s, manifestDir).toSet
        require(n == live.size && listed == live,
          s"symlink export must list exactly the live manifest's files " +
            s"(exported $n, live ${live.size}, matched ${
              listed.intersect(live).size})")
        TableManifest.readViaSymlinkManifest(s, path, manifestDir)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            sum(col("event_id")).cast("long").as("id_sum"),
            sum(col("value_q")).cast("long").as("value_q"))
          .orderBy("event_type")
      }),

    // ---- late-data quarantine: the rows x250's watermark would have
    //      DROPPED, landed as a dead-letter table with each row's
    //      lateness margin — the reference's reject-sink policy
    //      (rejects are data, not log lines; S8) applied at stream
    //      grain. Same deterministic arrival model and two-level
    //      prefix machinery as the audit. ----
    Q("x258_late_quarantine", Some(
      s"""WITH e AS (
         |  SELECT event_id, event_type, epoch_ns(ts) // 1000000 AS ms,
         |    epoch_ns(ts) // 1000000 +
         |      (${h60Sql("'arr:' || CAST(event_id AS VARCHAR)", 7200000L)})
         |      AS arr_ms
         |  FROM events),
         |w AS (
         |  SELECT event_id, event_type, ms,
         |    max(ms) OVER (ORDER BY arr_ms, ms
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS seen
         |  FROM e)
         |SELECT event_id, event_type, ms,
         |  CAST(seen - 3600000 - ms AS BIGINT) AS late_by
         |FROM w
         |WHERE seen IS NOT NULL AND ms < seen - 3600000
         |ORDER BY event_id""".stripMargin),
      (s, dir) => {
        val ms = expr("ts div 1000000")
        val e = eventsNs(s, dir).select(
          (ms + TextFunctions.md5Hash60(concat(lit("arr:"),
            col("event_id").cast("string"))) % lit(7200000L)).as("arr_ms"),
          ms.as("ms"), col("event_id"), col("event_type"))
        graft.streaming.LateData.lateRows(e, "arr_ms", "ms",
            Seq("event_id", "event_type"), delayMs = 3600000L)
          .select(col("event_id"), col("event_type"), col("ms"),
            col("late_by"))
          .orderBy("event_id")
      })
  )

  /** Round 14: the scoped-maintenance surface — incremental symlink
    * refresh, distributed partition-subset time travel, grouped CDC
    * append under redelivery overlap. */
  private val roundFourteen: Seq[Q] = Seq(

    // ---- scoped symlink refresh: full export once, then a merge
    //      touching ONE epoch-day and refreshSymlinkExport over the
    //      version diff — the in-query requires prove the refresh
    //      re-exported a strict subset (O(touched), not O(table)) and
    //      that the refreshed export lists exactly the live manifest;
    //      the query reads the table back THROUGH the refreshed export
    //      so the oracle hash proves external readers see the merge ----
    Q("x259_symlink_refresh", Some(
      """WITH base AS (
        |  SELECT event_id, event_type,
        |    CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS vq,
        |    epoch_ns(ts) // 86400000000000 AS day FROM events),
        |d0 AS (SELECT min(day) AS d FROM base),
        |m AS (
        |  SELECT event_id, event_type,
        |    CASE WHEN day = (SELECT d FROM d0) THEN vq + 7 ELSE vq END
        |      AS vq
        |  FROM base)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(event_id) AS BIGINT) AS id_sum,
        |  CAST(sum(vq) AS BIGINT) AS vq_sum
        |FROM m GROUP BY 1 ORDER BY event_type""".stripMargin),
      (s, dir) => {
        val work = tmp("graft-symref")
        val path = s"$work/tbl"
        val base = eventsNs(s, dir).select(col("event_id"),
          col("user_id"), col("event_type"),
          floor(TextFunctions.portableRound(col("value"), 4) *
            lit(10000.0) + lit(0.5)).cast("long").as("vq"),
          expr("ts div 86400000000000").as("day_"),
          to_date(timestamp_micros(expr("ts DIV 1000"))).cast("string")
            .as("date"))
        TableManifest.mergeWriteManifested(s, path, base,
          keys = Seq("event_id"))
        val sym = s"$work/sym"
        val full = TableManifest.exportSymlinkManifest(s, path, sym)
        val vOld = TableManifest.versions(s, path).last
        val minDay = base.agg(min("day_")).head().getLong(0)
        TableManifest.mergeWriteManifested(s, path,
          base.filter(col("day_") === minDay)
            .withColumn("vq", col("vq") + 7L),
          keys = Seq("event_id"))
        val vNew = TableManifest.versions(s, path).last
        val refreshed = TableManifest.refreshSymlinkExport(s, path, sym,
          vOld, vNew)
        val nParts = TableManifest.load(s, path).get
          .select("part").distinct().count()
        require(refreshed >= 1 && (refreshed < full || nParts == 1),
          s"refresh must re-export only the touched partitions " +
            s"($refreshed of $full across $nParts parts)")
        val live = TableManifest.load(s, path).get
          .select("file").collect().map(_.getString(0)).toSet
        require(TableManifest.symlinkListedPaths(s, sym).toSet == live,
          "refreshed export must list exactly the live manifest")
        TableManifest.readViaSymlinkManifest(s, path, sym)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            sum(col("event_id")).cast("long").as("id_sum"),
            sum(col("vq")).cast("long").as("vq_sum"))
          .orderBy("event_type")
      }),

    // ---- partition-subset time travel with NO driver file list:
    //      merge rewrites one epoch-day's rows, then
    //      readVersionPartitions re-reads that day from the PRE-merge
    //      version via the canonical-path semi join (the 1e6-file
    //      MergeStress plan shape) — row-level oracle over the
    //      ORIGINAL rows proves the superseded generation is what the
    //      subset read returns, while the live read has moved on ----
    Q("x260_time_travel_parts", Some(
      """WITH base AS (
        |  SELECT event_id, event_type,
        |    CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS vq,
        |    epoch_ns(ts) // 86400000000000 AS day FROM events),
        |d0 AS (SELECT min(day) AS d FROM base)
        |SELECT event_id, event_type, vq FROM base
        |WHERE day = (SELECT d FROM d0) ORDER BY event_id""".stripMargin),
      (s, dir) => {
        val work = tmp("graft-ttparts")
        val path = s"$work/tbl"
        val base = eventsNs(s, dir).select(col("event_id"),
          col("event_type"),
          floor(TextFunctions.portableRound(col("value"), 4) *
            lit(10000.0) + lit(0.5)).cast("long").as("vq"),
          expr("ts div 86400000000000").as("day_"),
          to_date(timestamp_micros(expr("ts DIV 1000"))).cast("string")
            .as("date"))
        TableManifest.mergeWriteManifested(s, path, base,
          keys = Seq("event_id"))
        val v1 = TableManifest.versions(s, path).last
        val minDay = base.agg(min("day_")).head().getLong(0)
        val minDate = base.filter(col("day_") === minDay)
          .select("date").head().getString(0)
        TableManifest.mergeWriteManifested(s, path,
          base.filter(col("day_") === minDay)
            .withColumn("vq", col("vq") + 1000L),
          keys = Seq("event_id"))
        val asOf = TableManifest.readVersionPartitions(s, path, v1,
          Seq(minDate))
        val liveSum = TableManifest.readPartitions(s, path, Seq(minDate))
          .agg(sum("vq")).head().getLong(0)
        val asOfSum = asOf.agg(sum("vq")).head().getLong(0)
        require(liveSum > asOfSum,
          s"the live partition must have moved past v1 " +
            s"($liveSum vs $asOfSum)")
        asOf.select(col("event_id"), col("event_type"), col("vq"))
          .orderBy("event_id")
      }),

    // ---- grouped CDC append under redelivery OVERLAP: two tagged
    //      batches share a third of the corpus (same bytes, the
    //      ledger's contract), landed in ONE publish — per-key LWW
    //      gives the redelivered docs the later tag, exactly the
    //      sequential appends' outcome, and the novelty curve is
    //      replayed over that effective attribution ----
    Q("x261_cdc_group_redeliver", Some(
      s"""WITH d AS (
         |  SELECT CASE WHEN doc_id % 3 = 0 THEN 0 ELSE 1 END AS batch,
         |    text
         |  FROM documents WHERE length(text) > 0),
         |${cdcChunkSql("batch")},
         |fs AS (SELECT chash, min(batch) AS first_batch
         |       FROM c GROUP BY chash),
         |pb AS (SELECT batch, chash, count(*) AS occ
         |       FROM c GROUP BY 1, 2)
         |SELECT CAST(batch AS BIGINT) AS batch,
         |  CAST(sum(occ) AS BIGINT) AS n_chunks,
         |  CAST(count(*) AS BIGINT) AS n_distinct,
         |  CAST(sum(CASE WHEN first_batch = batch THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_novel,
         |  floor(CAST(sum(CASE WHEN first_batch = batch THEN 1 ELSE 0 END)
         |      AS DOUBLE) / CAST(count(*) AS DOUBLE) * 10000.0 + 0.5)
         |    / 10000.0 AS novel_ratio
         |FROM pb JOIN fs USING (chash)
         |GROUP BY 1 ORDER BY batch""".stripMargin),
      (s, dir) => {
        val store = s"${tmp("graft-cdcredeliver")}/ledger"
        val docs = t(s, dir, "documents")
        Chunking.appendCdcChunksBatches(s, store, Seq(
          0L -> docs.filter(col("doc_id") % 3 <= 1),
          // %3==1 docs REDELIVERED under tag 1 with the same bytes —
          // their ledger rows take the later tag (LWW), as sequential
          // appends in tag order would leave them
          1L -> docs.filter(col("doc_id") % 3 >= 1)),
          "doc_id", "text")
        Chunking.cdcStoreReport(s, store)
      }),

    // ---- versioned read through the DERIVED-partition-column path
    //      (r16 verdict task 7): the table is partitioned by
    //      event_type — NOT the defaulted `date` — and the as-of read
    //      goes through readVersionAll, the semi-join fallback behind
    //      readVersion's large-table gate, invoked with the WRONG
    //      default column. The read must derive `event_type` from the
    //      manifest version's own paths (one metadata action, r16
    //      task 2) instead of building nonexistent date= dirs and
    //      returning silent zero rows. Hash-checked against the oracle
    //      replaying the pre-merge events; the require proves the live
    //      table moved past v1 ----
    Q("x262_versioned_read_derived_col", Some(
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(event_id) AS BIGINT) AS id_sum,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS users
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin),
      (s, dir) => {
        val work = tmp("graft-derivedcol")
        val path = s"$work/tbl"
        val ev = eventsNs(s, dir).select(col("event_id"), col("user_id"),
          col("event_type"), col("value"))
        TableManifest.mergeWriteManifested(s, path, ev,
          keys = Seq("event_id"), partitionCol = "event_type")
        val v1 = TableManifest.versions(s, path).last
        TableManifest.mergeWriteManifested(s, path,
          ev.filter(col("event_id") % 7 === 0)
            .withColumn("event_id", col("event_id") + 10000000L),
          keys = Seq("event_id"), partitionCol = "event_type")
        // defaulted (wrong) partitionCol: the version's paths must win
        val asOf = TableManifest.readVersionAll(s, path, v1)
        val liveN = TableManifest.readViaManifest(s, path).count()
        val v1N = asOf.count()
        require(liveN > v1N,
          s"the live table must have moved past v1 ($liveN vs $v1N)")
        asOf.groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            sum(col("event_id")).cast("long").as("id_sum"),
            countDistinct(col("user_id")).as("users"))
          .orderBy("event_type")
      })
  )

  val all: Seq[Q] =
    base ++ storeProbes ++ roundTen ++ roundTenB ++ roundEleven ++
      roundElevenB ++ roundTwelve ++ roundThirteen ++ roundFourteen
}
