package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType
import graft.functions.TextFunctions
import graft.operators.{Dedup, IncrementalDedup, MergeUpsert, Sampling, Similarity, TableManifest}

/** Event-triggered CURATION — the reference's S3 → Lambda → ETL shape
  * (aws/lambda_handler.py:7-52) applied to the training-data surface:
  * document files arrive, and each micro-batch incrementally extends
  * the curated corpus instead of re-running the batch CurationJob from
  * scratch.
  *
  * Per micro-batch (foreachBatch):
  *   1. quality gate + language ID — codegen'd scan of the NEW docs
  *      only — and ONE minhash pass over the batch text;
  *   2. three independent jobs OVERLAPPED (r14: serially they stack
  *      ~1 s/batch of pure store round-trip latency): the docs-store
  *      merge, the signature-store merge, and
  *      [[IncrementalDedup.candidatesVsPrev]] — minhash candidates
  *      batch-vs-corpus only, against prev ∪ batch signatures
  *      (row-identical to the version the merge publishes). The store
  *      merges are EPOCH-PARTITIONED ([[mergeEpochStore]], r17): a
  *      batch writes only its own epoch partition — O(batch), where
  *      the previous plain keyed stores rewrote prev ∪ batch per call
  *      (the O(corpus)-per-tick term that made the sf3 per-tick curve
  *      linear in the corpus). The keyed overwrite contract rides the
  *      manifest's per-file key blooms; idempotent under redelivery
  *      (same epoch → same partition replaced);
  *   3. exact n-gram verify of those candidates, text served by the
  *      docs store (the join prunes to the candidates' ids);
  *   4. verified-pairs merge (keyed on the pair);
  *   5. (publish ticks only) INCREMENTAL cluster labels (r15): the
  *      tick's DELTA PASS ranges over the docs and verified pairs the
  *      stores accumulated after the absorbed watermark (rows are
  *      epoch-stamped, so the range is a pushed-filter scan) and only
  *      MERGES persisted label state — new docs enter as singletons, a
  *      new pair unions its endpoints' clusters (min label wins,
  *      computed on the tiny label graph the range's pairs induce) —
  *      so per-tick label work is O(range + affected clusters), never
  *      a re-resolution over the accumulated pair set;
  *   6. (publish ticks only) curated DELTA: keeper status is MONOTONE
  *      under union (a cluster's min id only decreases), so the only
  *      curated changes a tick can cause are INSERTS (the range's docs
  *      still their own cluster min after step 5, gated by the
  *      deterministic stratified-sample hash, embeddings joined) and
  *      DELETES (previous keepers whose label a merge displaced —
  *      exactly the remapped old labels). Inserts become ONE file that
  *      REPLACES the tick's epoch partition of the curated BASE
  *      (copy-on-write [[graft.operators.TableManifest.replacePartitions]]
  *      — an epoch's content is exactly one tick's inserts, so a
  *      crash-redelivered tick replaces instead of duplicating);
  *      deletes ride a keyed merge into a small DELETES store — the
  *      merge-on-read deletion-vector layout;
  *   7. publish = ONE atomic pointer flip naming the newest visible
  *      epoch. Readers compose base epochs ≤ pointer minus deletes
  *      ≤ pointer — the whole-table rebuild and rewrite the pre-r15
  *      design paid per tick is gone.
  *
  * Convergence: steps 1–4 accumulate exactly the quality-filtered docs
  * and verified pairs a batch CurationJob run over the union corpus
  * would compute (the x38 invariant for candidates; the verify filter
  * is per-pair so it commutes with accumulation). Step 5's label state
  * equals [[graft.operators.Dedup.resolveClusters]] over those
  * accumulated stores because union-find is order-independent and the
  * min of a merged component is the min of its parts' mins; step 6's
  * insert gate (stratified hash) and embedding join are per-doc
  * deterministic and keeper-status changes are monotone, so the
  * composed read after any prefix of batches EQUALS the batch
  * pipeline's output on the documents seen so far, and a checkpoint
  * restart resumes mid-stream to the same fixpoint (StreamCurationSpec
  * proves batch-equality, label-state equality, and cadence restart).
  *
  * Contract: doc_id is content-stable — redelivery means the same
  * bytes (the at-least-once file-source model; every store here is
  * idempotent under it). A MUTATED document under a reused id would
  * overwrite its doc/signature rows but leave previously verified
  * pairs computed from the old text standing; corrections need a new
  * doc_id (append-only corpus semantics, the norm for training data).
  *
  * Crash ordering (why the writes land in the order they do): a tick
  * redelivered after a crash must recompute the SAME delta, so the
  * LABELS merge is the tick's last store write and the ABSORBED
  * watermark advances only after it — until then, the delta pass
  * re-derives the identical range delta (inserts REPLACE their epoch
  * partition, deletes and labels re-merge keyed); after it, the
  * re-derived range yields empty singletons and self-edges, so the
  * re-run is a no-op that re-flips the watermark. The published
  * pointer flips after everything (readers pinned at the previous
  * epoch never see a partial tick).
  *
  * Scale notes: per-batch text work is O(batch) (the whole point);
  * label and delta work is O(range + changed rows), paid once per
  * publish tick. `publishEvery` keeps its production meaning — the
  * curated view trails the stores by up to N-1 batches, and the delta
  * work amortizes over exactly that cadence. The
  * epoch partitions the per-tick inserts create accumulate like any
  * streaming sink's small files; [[compactCurated]] folds the
  * published epochs minus the deletes into one fresh epoch (the
  * amortized maintenance pass, off the per-tick path, same role as
  * [[StreamIngest]]'s compactEvery). Embeddings are int8-quantized
  * ONCE at stream start, not per batch. */
object StreamCuration {

  /** Paths inside a curation work dir. */
  def docsPath(work: String) = s"$work/docs"
  def sigsPath(work: String) = s"$work/sigs"
  def pairsPath(work: String) = s"$work/pairs"
  def labelsPath(work: String) = s"$work/labels"
  /** The curated table's PUBLIC face: holds only the published-epoch
    * pointer. The rows live in [[curatedBasePath]] (manifested,
    * epoch-partitioned) minus [[curatedDelsPath]] (deletion vectors);
    * [[readCurated]] composes them. */
  def curatedPath(work: String) = s"$work/curated"
  private[graft] def curatedBasePath(work: String) = s"$work/curated_rows"
  private[graft] def curatedDelsPath(work: String) = s"$work/curated_dels"
  private def embPath(work: String) = s"$work/emb_q"

  /** The epoch partition column and value encoding: zero-padded so
    * LEXICOGRAPHIC part-string order is numeric epoch order (the
    * pointer comparison and partition filtering are string ≤). */
  private[streaming] val EpochCol = "cur_epoch"
  private[graft] def epochName(n: Long): String = f"ep$n%012d"
  private val PublishedPointer = "_PUBLISHED"
  private val AbsorbedPointer = "_ABSORBED"

  /** The docs/sigs stores' epoch partition column (the stamp was
    * already on every docs row; r17 makes it the PARTITION so a batch
    * writes only its own epoch) and the pairs store's. */
  private[streaming] val IngestEpochCol = "ingest_epoch"
  private[streaming] val PairEpochCol = "pair_epoch"

  /** Read an epoch-partitioned curation store (docs/sigs/pairs), or
    * None before its first batch — the manifested twin of
    * [[MergeUpsert.existingPlain]]. The returned frame carries the
    * epoch partition column; filters on it are partition PRUNING. */
  private[graft] def readStoreOpt(spark: SparkSession,
                                  path: String): Option[DataFrame] =
    TableManifest.readIfManifested(spark, path)

  /** O(batch) merge into an epoch-partitioned manifested keyed store —
    * the r17 replacement for the per-batch [[MergeUpsert.mergeWritePlain]]
    * full-store rewrite (the last O(corpus)-per-tick term, PERF.md r16
    * close). The batch lands as ITS OWN epoch partition
    * (`replaceParts = [epoch]`, so a crash-redelivered batch replaces
    * instead of duplicating); the keyed store's reused-key overwrite
    * contract is carried by the manifest's per-file key blooms
    * ([[TableManifest.filesMaybeContaining]]): the batch's key set
    * probes every retained file's bloom, and exactly the files whose
    * blooms fire are copy-on-write rewritten minus the stolen keys —
    * append-only batches (the norm) probe, miss, and write O(batch).
    * One atomic manifest flip covers the epoch write and the steal
    * rewrites, so readers never see a key doubled.
    *
    * `width` > 0 = replay-scale batch: keep the batch's parallelism
    * and shuffle (instead of broadcast) the steal anti-join; micro
    * batches coalesce to one file per epoch. */
  private[graft] def mergeEpochStore(spark: SparkSession, path: String,
                                     batch: DataFrame, keys: Seq[String],
                                     epochCol: String, epochStr: String,
                                     width: Int = 0): Unit = {
    val deduped = batch.dropDuplicates(keys)
    val stamped0 = deduped.withColumn(epochCol, lit(epochStr))
    val stamped = if (width > 0) stamped0 else stamped0.coalesce(1)
    // steal detection: files of OTHER epochs whose blooms fire for a
    // batch key (the batch's own epoch is replaced wholesale anyway);
    // the probe reads the batch's keys as they are — a key set, so the
    // dedup exchange would only add a stage
    val firing = TableManifest
      .filesMaybeContaining(spark, path, batch.select(keys.map(col): _*),
        keys)
      .filter(_._2 != epochStr)
    val df =
      if (firing.isEmpty) stamped
      else {
        val keyFrame = deduped.select(keys.map(col): _*).distinct()
        val probe = if (width > 0) keyFrame else broadcast(keyFrame)
        val victims = spark.read.option("basePath", path)
          .parquet(firing.map(_._1): _*)
          .join(probe, keys, "left_anti")
        stamped.unionByName(victims)
      }
    TableManifest.replacePartitions(spark, path, df, keys.head, epochCol,
      replaceParts = Seq(epochStr),
      landingParts = Some((epochStr +: firing.map(_._2)).distinct),
      replaceFiles = firing.map(_._1),
      bloomKeys = Some(keys))
  }

  /** Drain all currently-available document files, curating
    * incrementally; blocking. `publishEvery` = republish the curated
    * table every N data batches (1 = every batch). A drain whose last
    * batch falls mid-cadence would leave `curated` at the previous
    * publish tick, so the drain always ends with one convergence
    * republish — idempotent when the last batch already published —
    * making the final table independent of the cadence. */
  def curateAvailableNow(spark: SparkSession, srcGlob: String,
                         schema: StructType, workDir: String,
                         embeddingsPath: String, checkpoint: String,
                         minQuality: Double = 0.3,
                         rates: Map[String, Double] = Map("en" -> 0.8),
                         defaultRate: Double = 0.5,
                         publishEvery: Int = 1,
                         compactEvery: Int = 0): Unit = {
    start(spark, srcGlob, schema, workDir, embeddingsPath, checkpoint,
      minQuality, rates, defaultRate, Trigger.AvailableNow(), publishEvery,
      compactEvery)
      .awaitTermination()
    // guard: a zero-data drain has no stores to publish from
    val docsDir = new org.apache.hadoop.fs.Path(docsPath(workDir))
    if (publishEvery > 1 &&
        docsDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .exists(docsDir))
      republishCurated(spark, workDir, rates, defaultRate)
  }

  /** Continuous curation on a ProcessingTime cadence; non-blocking.
    * With `publishEvery` > 1 the curated table trails the stores by up
    * to N-1 batches between ticks (the production trade: publish cost
    * amortizes over N batches of accumulation). */
  def curateContinuous(spark: SparkSession, srcGlob: String,
                       schema: StructType, workDir: String,
                       embeddingsPath: String, checkpoint: String,
                       minQuality: Double = 0.3,
                       rates: Map[String, Double] = Map("en" -> 0.8),
                       defaultRate: Double = 0.5,
                       interval: String = "1 second",
                       publishEvery: Int = 1,
                       compactEvery: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery =
    start(spark, srcGlob, schema, workDir, embeddingsPath, checkpoint,
      minQuality, rates, defaultRate, Trigger.ProcessingTime(interval),
      publishEvery, compactEvery)

  /** The live curated corpus: base epochs up to the published pointer
    * minus the deletion vectors up to the same pointer — ONE pointer
    * read gives readers an atomic, consistent view (a flip mid-read
    * cannot mix epochs, because both sides filter on the value
    * resolved up front; superseded base files stay on disk for the
    * copy-on-write retention window, so a reader that resolved the
    * previous pointer keeps valid files under its feet). */
  def readCurated(spark: SparkSession, workDir: String): DataFrame = {
    val p = publishedEpoch(spark, workDir).getOrElse(throw
      new IllegalStateException(
        s"no published curated table under $workDir — run a publishing " +
          "batch or republishCurated first"))
    // the epoch list is O(#epochs), tiny by construction
    // (compactCurated folds old epochs)
    val base = TableManifest.readPartitionsWhere(spark,
        curatedBasePath(workDir), EpochCol)(_ <= p)
      .map(_.drop(EpochCol))
      .getOrElse(emptyCurated(spark, workDir))
    MergeUpsert.existingPlain(spark, curatedDelsPath(workDir)) match {
      case Some(d) =>
        // deletion vectors are SPARSE (displaced near-dup keepers) —
        // broadcast them so the base side never shuffles. The hint is
        // SIZE-GATED (r15 verdict): a dedup-heavy corpus can grow the
        // dels store past driver-broadcast comfort, at which point the
        // anti join degrades gracefully to the planner's choice
        // (shuffled hash/SMJ) instead of OOMing the driver. File
        // metadata only — no extra job.
        val dels = d.filter(col("del_epoch") <= p).select("doc_id")
        val hinted =
          if (batchBytes(spark, d) <= DelsBroadcastMaxBytes) broadcast(dels)
          else dels
        base.join(hinted, Seq("doc_id"), "left_anti")
      case None => base
    }
  }

  /** Compressed on-disk size above which [[readCurated]] stops
    * force-broadcasting the deletion vectors (~64 MB parquet ≈ a few
    * hundred MB of hashed-relation heap — the conventional comfort
    * bound for an explicit driver broadcast). */
  private[streaming] val DelsBroadcastMaxBytes: Long = 64L << 20

  /** Zero-row frame with the curated schema (docs-store columns plus
    * the embedding join's scale/codes) — the all-docs-filtered corner
    * where a publish happened but no insert ever did. */
  private def emptyCurated(spark: SparkSession, workDir: String): DataFrame = {
    val docs = readStoreOpt(spark, docsPath(workDir))
      .getOrElse(throw new IllegalStateException(
        s"curated table at $workDir published but no docs store exists"))
    docs.limit(0).drop(IngestEpochCol).join(
      MergeUpsert.readPlain(spark, embPath(workDir)).limit(0),
      Seq("doc_id"), "left")
  }

  /** The published epoch pointer, if any. */
  private[streaming] def publishedEpoch(spark: SparkSession,
                                        workDir: String): Option[String] =
    MergeUpsert.readPointer(spark, curatedPath(workDir), PublishedPointer)

  private def flipPointer(spark: SparkSession, workDir: String,
                          epoch: String): Unit =
    MergeUpsert.flipPointer(spark, curatedPath(workDir), PublishedPointer,
      epoch)

  private def start(spark: SparkSession, srcGlob: String,
                    schema: StructType, workDir: String,
                    embeddingsPath: String, checkpoint: String,
                    minQuality: Double, rates: Map[String, Double],
                    defaultRate: Double, trigger: Trigger,
                    publishEvery: Int = 1,
                    compactEvery: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(publishEvery >= 1, s"publishEvery must be >= 1: $publishEvery")
    require(compactEvery >= 0, s"compactEvery must be >= 0: $compactEvery")
    publishQuantizedEmbeddings(spark, workDir, embeddingsPath)
    spark.readStream.schema(schema).parquet(srcGlob)
      .writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // cadence counts DATA batches by checkpointed batchId, so a
        // restart mid-cadence resumes the same publish schedule; the
        // checkpointed batchId is also the batch's EPOCH — a crash-
        // redelivered batch re-merges into the same epoch partition,
        // which is what makes the curated-base insert idempotent
        curateBatch(batch.sparkSession, batch, workDir, minQuality,
          rates, defaultRate,
          publish = (batchId + 1) % publishEvery == 0,
          epoch = batchId)
        // maintenance cadence (r15 verdict task 1): without it a
        // publishEvery=1 stream accumulates one epoch partition + one
        // manifest generation PER TICK — readCurated's epoch list and
        // the on-disk COW backlog grow O(ticks). Counted in DATA
        // batches like StreamIngest.compactEvery (restart-stable via
        // the checkpointed batchId); a maintenance tick that races a
        // crash is safe — the fold is a publish like any other and
        // the scoped vacuum is idempotent.
        if (compactEvery > 0 && (batchId + 1) % compactEvery == 0)
          maintainCurated(batch.sparkSession, workDir)
      }
      .start()
  }

  /** Quantize the embedding table once into the work dir (idempotent
    * republish — deterministic output, and a restart mid-write is
    * healed by the version protocol). Called by [[start]]; exposed so
    * batch/catalog callers preparing a work dir for [[curateBatch]]
    * share the exact layout instead of duplicating it. */
  def publishQuantizedEmbeddings(spark: SparkSession, workDir: String,
                                 embeddingsPath: String): Unit =
    publishQuantized(spark, workDir,
      Similarity.quantizeInt8(
        spark.read.parquet(embeddingsPath), "vec_id", "embedding"))

  /** Same publish from an already-quantized (vec_id, scale, codes)
    * frame — callers that share one quantization across several work
    * dirs (a session running many streams over the same embeddings
    * table) pay the quantization pass once and re-publish bytes. */
  def publishQuantized(spark: SparkSession, workDir: String,
                       quantized: DataFrame): Unit =
    MergeUpsert.publishPlain(spark, embPath(workDir),
      quantized
        .select(col("vec_id").as("doc_id"), col("scale"), col("codes")))

  /** One incremental curation step — also the backfill entry point
    * (batch callers can feed historical chunks through the same code
    * the stream runs). `publish = false` accumulates the stores only
    * (steps 1-5); a later [[republishCurated]] — or any subsequent
    * publishing batch — converges the curated table, because the
    * publish is a deterministic function of the accumulated state. */
  def curateBatch(spark: SparkSession, batch: DataFrame, workDir: String,
                  minQuality: Double, rates: Map[String, Double],
                  defaultRate: Double, publish: Boolean = true,
                  shufflePartitions: Int = 8, epoch: Long = -1L): Unit = {
    // FILE METADATA sizes the batch's COMPUTE WIDTH (r15 — previously
    // one column-pruned count() job per micro-batch on the latency
    // path): a true micro-batch (the design cadence) runs the narrow
    // path — small scoped shuffles, no repartitions, latency-optimal.
    // A backfill/replay-scale batch (input bytes at machine scale)
    // additionally repartitions its two compute-heavy text scans
    // (scoring+minhash, n-gram verify) to machine width: such a batch
    // often arrives as ONE parquet file = one task, which serialized
    // 3+ s/batch of minhash on a single core in the sf1 replay while
    // 31 cores idled.
    val cores = spark.sparkContext.defaultParallelism
    val bytes = batchBytes(spark, batch)
    val width = if (bytes >= ReplayBytesPerCore * cores) cores else 0
    // MID-SIZE batches (r16): below the replay threshold the batch
    // keeps the micro PATH (driver delta, collected verify) but its
    // two text scans still deserve more than the source's file-count
    // parallelism — a 600 KB single-file batch ran its whole minhash
    // pass on ONE core (~0.45 s/batch at sf0.1, measured). Scan width
    // is byte-proportional (~1 task per 192 KB compressed), engaged
    // only when it buys >= 2 tasks; the exchange it adds is a stage
    // inside the same job, not a new job.
    val scanWidth =
      if (width > 0) 0
      else math.min(cores.toLong, bytes / ScanBytesPerTask).toInt
    // Scoped shuffle sizing (the StreamJoin/StreamDedup lesson, batch
    // face): a micro-batch is SMALL by construction, but its ~10
    // shuffles (store merges, candidate join, verify, publish) would
    // otherwise run at the session's batch-sized partition count —
    // measured 26% of the 3-batch drain at 32 partitions. 0 = inherit
    // the session conf.
    // AQE off for the MICRO path (r16): adaptive execution
    // materializes every exchange as its own query-stage JOB, and at
    // micro-batch scale those jobs are pure scheduler latency — the
    // warm 3-batch x39 replay ran 105 jobs under AQE for ~20 actual
    // actions (~25 ms apiece). A micro plan has nothing for AQE to
    // adapt: its joins are explicitly broadcast and its shuffles are
    // already scoped to `shufflePartitions`. Replay-scale batches
    // (width > 0) keep AQE — skew and coalescing matter there.
    // Both run on a session derived from `spark`, so a reader of
    // `spark` beside the batch never plans under this sizing.
    val cs = graft.Sessions.derived(spark,
      graft.Sessions.shufflePartitions(shufflePartitions) ++
        (if (width == 0) graft.Sessions.AqeOff else Map.empty))
    curateBatchInner(cs, bridge.onSession(batch, cs), workDir, minQuality,
      rates, defaultRate, publish, width, epoch, scanWidth)
  }

  /** ~2 MB of compressed parquet per core ≈ the old 2048-rows-per-core
    * widening threshold at typical document sizes. */
  private val ReplayBytesPerCore = 2L << 20

  /** Mid-size scan widening: one text-scan task per this many
    * compressed batch bytes (so the exchange only engages once the
    * single-task scan would dominate the batch's latency). */
  private val ScanBytesPerTask = 192L << 10

  /** The batch's input size from FILE METADATA only — `inputFiles`
    * walks the plan's file index and `getFileStatus` is a driver
    * metadata call, so the replay-vs-micro-batch decision costs ZERO
    * Spark jobs (StreamCurationSpec asserts that). A non-file-backed
    * batch reports 0 = micro (the streaming file source always
    * reports its files). A filter over a file-backed frame reports the
    * FULL files' bytes — conservative toward widening, which is the
    * safe direction for a replay-scale source. */
  private[streaming] def batchBytes(spark: SparkSession,
                                    batch: DataFrame): Long = {
    val files = batch.inputFiles
    if (files.isEmpty) 0L
    else {
      val conf = spark.sparkContext.hadoopConfiguration
      files.iterator.map { f =>
        val p = new org.apache.hadoop.fs.Path(f)
        try p.getFileSystem(conf).getFileStatus(p).getLen
        catch { case _: java.io.IOException => 0L }
      }.sum
    }
  }

  // package-visible so StreamCurationSpec can force the replay-scale
  // (width > 0) label/delta path on small data and pin it equal to the
  // driver path
  private[streaming] def curateBatchInner(spark: SparkSession, batch: DataFrame,
                               workDir: String, minQuality: Double,
                               rates: Map[String, Double],
                               defaultRate: Double,
                               publish: Boolean,
                               width: Int, epoch: Long,
                               scanWidth: Int = 0): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    // localCheckpoint (eager): scored feeds the docs-store merge AND
    // the signature work — without it each action re-reads and
    // re-scores the batch text. The minhash signatures ride the SAME
    // scan (quality, language and sigs in one checkpointed pass; a
    // separate minhashSignatures pass was a second full read+
    // materialize of the batch text, ~0.3 s/batch of pure repetition)
    // A replay-scale batch (width > 0, sized by curateBatch's
    // pre-count) is repartitioned to compute width FIRST: its
    // parallelism is whatever its source files gave it (a single
    // parquet file = ONE task doing every minhash — measured 3.2 s of
    // the sf1 replay per batch on one core), and the heavy text scan
    // below deserves the machine. Micro-batches skip the exchange.
    val widened =
      if (width > 0) batch.repartition(width)
      else if (scanWidth > 1) batch.repartition(scanWidth)
      else batch
    val scored0 = widened
      .withColumn("quality", TextFunctions.qualityScore(col("text")))
      .withColumn("lang_pred", TextFunctions.langId(col("text")))
      .filter(col("quality") >= minQuality)
      .withColumn("sig_", Dedup.minhashSigColumn(col("text"), 32))
      .localCheckpoint()
    val scored = scored0.drop("sig_")
    val batchSigs = scored0
      .select(col("doc_id").as("doc_id_"), col("sig_").as("sig"))
      .filter(size(col("sig")) > 0)
    val batchIds = scored.select(col("doc_id").as("doc_id_")).distinct()
    // the batch's epoch, resolved up front: it stamps the docs and
    // pairs rows the tick delta pass later ranges over
    val epochStr = epochName(
      if (epoch >= 0) epoch else deriveEpoch(spark, workDir))
    // the PREVIOUS store snapshots, pinned by the manifest version
    // resolved now — safe to consume while the merges below publish
    // the next versions (copy-on-write retention keeps their files).
    // prevSigs drops the epoch partition column: candidatesVsPrev's
    // union must stay row-identical to (doc_id_, sig) ∪ batch
    val prevSigs = readStoreOpt(spark, sigsPath(workDir))
      .map(_.drop(IngestEpochCol))
    val prevDocs = readStoreOpt(spark, docsPath(workDir))
    // The two store merges run in the BACKGROUND while the caller
    // thread drives the whole candidate→verify→pairs chain — legal
    // because nothing in that chain needs the post-merge versions:
    // candidates derive from prev ∪ batchSigs (row-identical to the
    // version fSigs is publishing, see candidatesVsPrev), and every
    // candidate pair has ≥ 1 member IN the batch (text in `scored`)
    // while its other member is either also in the batch or in the
    // PREVIOUS docs version (text in `prevDocs`). Serially the merges
    // stacked ~1 s/batch of pure store round-trip latency (measured);
    // overlapped they hide behind the verify chain entirely. The
    // futures' frames are bound to `spark` (session conf, not
    // thread-locals, drives their plans), and both are awaited before
    // the batch returns — the stream's durability barrier.
    // r17: the merges are EPOCH-PARTITIONED (mergeEpochStore) — a batch
    // writes only its own epoch partition, O(batch), where
    // mergeWritePlain rewrote prev ∪ batch per call, the O(corpus)
    // term that made the sf3 per-tick curve linear in the corpus.
    val fDocs = Future {
      // epoch-partitioned: the tick delta pass derives its new-docs
      // range from the partition column — partition pruning, never an
      // anti join or even a pushed row filter
      mergeEpochStore(spark, docsPath(workDir), scored, Seq("doc_id"),
        IngestEpochCol, epochStr, width)
    }
    val fSigs = Future {
      mergeEpochStore(spark, sigsPath(workDir), batchSigs, Seq("doc_id_"),
        IngestEpochCol, epochStr, width)
    }
    // candidates materialized (they are consumed twice below, and must
    // be consumed before the store version window moves anyway)
    val cands = IncrementalDedup.candidatesVsPrev(prevSigs, batchSigs,
      batchIds, minEstJaccard = 0.25, repartitionTo = width)
      .localCheckpoint()
    // verify touches only the docs the candidates involve — O(batch
    // candidates), NOT a per-batch n-gram pass over the whole corpus.
    // Batch-side text comes from the in-memory checkpoint; only
    // corpus-side members (anti the batch) read the previous docs
    // version. Intra-batch duplicate ids (at-least-once redelivery
    // inside one batch: same bytes) can duplicate verified rows —
    // the pairs merge's key dedup absorbs them.
    val candIds = cands.select(col("id_a").as("doc_id"))
      .unionByName(cands.select(col("id_b").as("doc_id"))).distinct()
    val batchInvolved = scored.select("doc_id", "text")
      .join(candIds, Seq("doc_id"), "left_semi")
    val involved = prevDocs match {
      case Some(prev) =>
        prev.select("doc_id", "text")
          .join(candIds, Seq("doc_id"), "left_semi")
          .join(scored.select("doc_id"), Seq("doc_id"), "left_anti")
          .unionByName(batchInvolved)
      case None => batchInvolved
    }
    // the n-gram verify is the batch's second compute-heavy scan; on
    // a replay-scale batch it inherits narrow parallelism (its input
    // is a micro-batch-sized join), so it runs width-wide and
    // materializes BEFORE the pairs merge — the merge round-trip then
    // moves only slim verified rows; its width-wide shuffles run on a
    // session derived from this batch's, and the checkpoint comes back
    // onto the batch's session for the merge. Micro-batches keep the
    // lazy narrow verify (one fewer materialization round).
    // verified is consumed twice (pairs merge + label edges); the
    // micro path COLLECTS it (pairs are candidate-verified near-dups —
    // collected-scale by the pipeline's whole point) and re-merges a
    // LocalRelation; the replay path keeps the distributed checkpoint
    val verified =
      if (width > 0) {
        val ws = graft.Sessions.derived(spark,
          graft.Sessions.shufflePartitions(width))
        bridge.onSession(Dedup.verifyCandidates(
          bridge.onSession(involved, ws).repartition(width), "doc_id",
          "text", bridge.onSession(cands, ws), minJaccard = 0.4)
          .localCheckpoint(), spark)
      } else
        // checkpointed on the micro path too (r16): mergeWritePlain's
        // plan consumes `updates` twice (distinct-keys broadcast +
        // union), so a lazy verify ran its wide text join TWICE inside
        // the pairs merge — measured as the bulk of an 0.8 s/batch
        // merge of a handful of pairs
        Dedup.verifyCandidates(involved, "doc_id", "text", cands,
          minJaccard = 0.4).localCheckpoint()

    // the pairs merge moves slim verified rows, epoch-partitioned like
    // the docs/sigs stores (r16 verdict task 3: the plain protocol here
    // was the same O(store)-per-batch term, just sparser); a pair
    // re-verified in a later epoch steals its old row via the bloom
    // probe — exactly the keyed overwrite the plain merge gave. A batch
    // that verified NOTHING (most batches of a clean corpus) skips the
    // store round-trip outright: the emptiness check is one take(1)
    // over the already-materialized checkpoint, the skipped probe +
    // write + manifest publish were three jobs of pure tick latency
    if (!verified.isEmpty)
      mergeEpochStore(spark, pairsPath(workDir), verified,
        Seq("id_a", "id_b"), PairEpochCol, epochStr, width)
    // ---- steps 5-7 run on the PUBLISH CADENCE, not per batch: the
    // delta pass below derives labels + curated changes from the
    // epoch-stamped ranges the stores accumulated since the absorbed
    // watermark, so accumulate-only batches pay steps 1-4 only (the
    // r14 cost), and the per-tick delta work is O(range), never
    // O(corpus). The pass reads THIS batch's docs and pairs from the
    // stores, so their merges must land first (the docs future is
    // awaited early only on tick batches). ----
    if (publish) {
      Await.result(fDocs, Duration.Inf)
      deltaPass(spark, workDir, epochStr, rates, defaultRate)
    }
    // durability barrier: the batch returns only after every store
    // version it produced is published
    Await.result(fDocs, Duration.Inf)
    Await.result(fSigs, Duration.Inf)
    if (publish) flipPointer(spark, workDir, epochStr)
  }

  /** Driver-size gates for the tick delta pass: ranges below these
    * resolve on the driver (a cadence of micro-batches is driver-sized
    * by construction); past either, the pass switches to the fully
    * distributed twin. */
  private[streaming] val DeltaDriverMaxIds = 2000000
  private[streaming] val DeltaDriverMaxPairs = 1000000

  /** Steps 5-7's worker — runs at publish ticks and from
    * [[republishCurated]]: absorb every doc and verified pair the
    * stores accumulated AFTER the absorbed watermark (epoch-stamped
    * rows; pushed-filter scans), update the persisted cluster labels
    * incrementally, derive the curated inserts/deletes from monotone
    * keeper status, land them, then advance the watermark. Idempotent
    * under crash-redelivery at every cut: until the labels merge
    * lands, a re-run re-derives the identical delta (inserts REPLACE
    * their epoch partition, deletes/labels re-merge keyed); after it,
    * the re-derived range yields empty singletons and self-edges, so
    * re-running is a no-op that just re-flips the watermark. */
  private[streaming] def deltaPass(spark: SparkSession, workDir: String,
                                   tickEpoch: String,
                                   rates: Map[String, Double],
                                   defaultRate: Double,
                                   maxDriverIds: Int = DeltaDriverMaxIds,
                                   maxDriverPairs: Int = DeltaDriverMaxPairs)
      : Unit = {
    readStoreOpt(spark, docsPath(workDir)) match {
      case None => () // nothing ever ingested: nothing to absorb
      case Some(docsStore) =>
        val wm = absorbedEpoch(spark, workDir)
        def sinceWm(c: org.apache.spark.sql.Column) =
          wm.map(w => c > lit(w)).getOrElse(lit(true))
        // no distinct: the docs store is KEYED on doc_id (the epoch
        // merge dedups in-batch, the bloom steal dedups across epochs),
        // so the range scan is already unique. The epoch range is now
        // the PARTITION column — the filter is partition pruning, the
        // scan touches only the since-watermark epochs' files.
        val newDocIds = docsStore.filter(sinceWm(col(IngestEpochCol)))
          .select(col("doc_id").cast("long").as("doc_id"))
        val newPairs = readStoreOpt(spark, pairsPath(workDir))
          .map(_.filter(sinceWm(col(PairEpochCol)))
            .select(col("id_a").cast("long").as("id_a"),
              col("id_b").cast("long").as("id_b")))
        val prevLabels = MergeUpsert.existingPlain(spark, labelsPath(workDir))
        // bounded probes decide the path without separate count jobs;
        // the two stores are independent, so the probes run
        // CONCURRENTLY (two ~0.1-0.2 s collects serialized were pure
        // tick latency, r16)
        import scala.concurrent.{Await, Future}
        import scala.concurrent.duration.Duration
        import scala.concurrent.ExecutionContext.Implicits.global
        val fIdProbe = Future(newDocIds.limit(maxDriverIds + 1).collect())
        val fPairProbe = Future(newPairs
          .map(_.limit(maxDriverPairs + 1).collect())
          .getOrElse(Array.empty[org.apache.spark.sql.Row]))
        val idProbe = Await.result(fIdProbe, Duration.Inf)
        val pairProbe = Await.result(fPairProbe, Duration.Inf)
        if (idProbe.length <= maxDriverIds &&
            pairProbe.length <= maxDriverPairs)
          deltaDriver(spark, workDir, docsStore,
            idProbe.map(_.getLong(0)),
            pairProbe.map(r => (r.getLong(0), r.getLong(1))),
            prevLabels, sinceWm(col("ingest_epoch")), tickEpoch,
            rates, defaultRate)
        else
          deltaDistributed(spark, workDir, docsStore, newDocIds,
            newPairs, prevLabels, sinceWm(col("ingest_epoch")), tickEpoch,
            rates, defaultRate)
        // watermark advances ONLY after the labels merge landed (the
        // crash-ordering anchor: an unadvanced watermark re-derives)
        flipAbsorbed(spark, workDir, tickEpoch)
    }
  }

  /** Driver-resolved delta (the micro-cadence path): ONE probe scan of
    * the labels store (streams under a broadcast semi join, never
    * shuffles), then the union-find, keeper deltas and label updates
    * are plain driver structures over the range's ids and pairs, and
    * every store write consumes a LocalRelation — the r15 first cut's
    * ~12 DataFrame stages per batch cost ~250 fresh codegen compiles
    * and ~6 s/batch of pure plan churn at sf0.1. */
  private def deltaDriver(spark: SparkSession, workDir: String,
                          docsStore: DataFrame,
                          rangeIds: Array[Long],
                          rangePairs: Array[(Long, Long)],
                          prevLabels: Option[DataFrame],
                          rangeFilter: org.apache.spark.sql.Column,
                          tickEpoch: String,
                          rates: Map[String, Double],
                          defaultRate: Double): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val edges = rangePairs.distinct
    val probe = (rangeIds ++ edges.flatMap(e => Seq(e._1, e._2))).distinct
    val hit: Map[Long, Long] = prevLabels match {
      case Some(pl) if probe.nonEmpty =>
        val probeDf = spark.createDataFrame(
          java.util.Arrays.asList(probe.map(org.apache.spark.sql.Row(_)): _*),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("doc_id",
              org.apache.spark.sql.types.LongType))))
        pl.join(broadcast(probeDf), Seq("doc_id"), "left_semi")
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      case _ => Map.empty
    }
    def lbl(x: Long): Long = hit.getOrElse(x, x)
    // min-root union-find over the label graph — the same math as
    // Dedup.resolveClusters' driver path (keys snapshotted before the
    // mapping, the r15 fix)
    val parent = scala.collection.mutable.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != c) {
        val nxt = parent.getOrElse(c, c); parent(c) = r; c = nxt
      }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(lbl(a)), find(lbl(b)))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    val remap: Map[Long, Long] = parent.keysIterator.toArray
      .map(n => n -> find(n)).filter { case (n, l) => n != l }.toMap
    val singletonIds = rangeIds.filterNot(hit.contains).distinct
    val singFinal = singletonIds.map(id => id -> remap.getOrElse(id, id))
    val newKeep = singFinal.collect { case (id, l) if id == l => id }
    val lostKeep = remap.keys.toArray.sorted

    def longsDf(name: String, vs: Array[Long]): DataFrame =
      spark.createDataFrame(
        java.util.Arrays.asList(
          vs.map(v => org.apache.spark.sql.Row(v)): _*),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField(name,
            org.apache.spark.sql.types.LongType))))
    // the deletes merge overlaps the inserts replace below
    val fDels: Future[Unit] =
      if (lostKeep.isEmpty) Future.successful(())
      else Future {
        MergeUpsert.mergeWritePlain(spark, curatedDelsPath(workDir),
          longsDf("doc_id", lostKeep)
            .withColumn("del_epoch", lit(tickEpoch)),
          Seq("doc_id"))
      }
    if (newKeep.nonEmpty)
      insertCurated(spark, workDir,
        docsStore.filter(rangeFilter)
          .join(broadcast(longsDf("doc_id", newKeep)), Seq("doc_id")),
        tickEpoch, rates, defaultRate)
    Await.result(fDels, Duration.Inf)
    // labels merge LAST (crash ordering): singleton rows ride a
    // LocalRelation; prev docs whose cluster was remapped are relabeled
    // by one broadcast-probe scan folded into the merge's own plan
    if (singFinal.nonEmpty || remap.nonEmpty) {
      val singDf = spark.createDataFrame(
        java.util.Arrays.asList(singFinal.map { case (id, l) =>
          org.apache.spark.sql.Row(id, l) }: _*),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("cluster_id",
            org.apache.spark.sql.types.LongType))))
      val labelUpdates = (prevLabels, remap.nonEmpty) match {
        case (Some(pl), true) =>
          val remapDf = spark.createDataFrame(
            java.util.Arrays.asList(remap.toSeq.sorted.map { case (o, n) =>
              org.apache.spark.sql.Row(o, n) }: _*),
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("old_lbl",
                org.apache.spark.sql.types.LongType),
              org.apache.spark.sql.types.StructField("new_lbl",
                org.apache.spark.sql.types.LongType))))
          singDf.unionByName(
            pl.join(broadcast(remapDf), pl("cluster_id") === col("old_lbl"))
              .select(pl("doc_id"), col("new_lbl").as("cluster_id")))
        case _ => singDf
      }
      MergeUpsert.mergeWritePlain(spark, labelsPath(workDir),
        labelUpdates, Seq("doc_id"))
    }
  }

  /** Replay-scale delta: the fully distributed twin of [[deltaDriver]]
    * — every set stays a DataFrame, cluster merging reuses
    * [[Dedup.resolveClusters]] on the label graph (driver union-find
    * under its edge cap, distributed fixpoint past it). Same
    * invariants: min label per component, order-independent unions,
    * labels after any tick equal a from-scratch resolveClusters over
    * the accumulated pairs store (StreamCurationSpec pins the two
    * paths equal on identical input). */
  private def deltaDistributed(spark: SparkSession, workDir: String,
                               docsStore: DataFrame, newDocIds: DataFrame,
                               newPairs: Option[DataFrame],
                               prevLabels: Option[DataFrame],
                               rangeFilter: org.apache.spark.sql.Column,
                               tickEpoch: String,
                               rates: Map[String, Double],
                               defaultRate: Double): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val verEdges = newPairs.getOrElse(
      newDocIds.select(col("doc_id").as("id_a"), col("doc_id").as("id_b"))
        .limit(0)).localCheckpoint()
    val endpoints = verEdges.select(col("id_a").as("doc_id"))
      .unionByName(verEdges.select(col("id_b").as("doc_id"))).distinct()
    // ONE probe scan of the labels store serves singleton detection
    // AND endpoint-label lookup: the store side streams under a
    // broadcast semi join (never shuffles), and every later join runs
    // small-vs-small against the tiny checkpointed hit set. A plain
    // big-side anti join here would shuffle the whole store per tick.
    val hitOpt = prevLabels.map(pl =>
      pl.join(broadcast(endpoints.unionByName(newDocIds).distinct()),
          Seq("doc_id"), "left_semi")
        .localCheckpoint())
    val singletons = (hitOpt match {
      case Some(hit) =>
        newDocIds.join(hit.select("doc_id"), Seq("doc_id"), "left_anti")
      case None => newDocIds
    }).withColumn("cluster_id", col("doc_id"))
    val epLabels = hitOpt match {
      case Some(hit) => endpoints.join(hit, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("lbl"))
      case None => endpoints.withColumn("lbl", col("doc_id"))
    }
    val labelEdges = verEdges
      .join(epLabels.select(col("doc_id").as("id_a"), col("lbl").as("la")),
        Seq("id_a"))
      .join(epLabels.select(col("doc_id").as("id_b"), col("lbl").as("lb")),
        Seq("id_b"))
      .select(col("la").as("id_a"), col("lb").as("id_b"))
      .filter(col("id_a") =!= col("id_b")).distinct().localCheckpoint()
    val remap =
      if (labelEdges.isEmpty) None
      else Some(Dedup.resolveClusters(
          labelEdges.select(col("id_a").as("lbl"))
            .unionByName(labelEdges.select(col("id_b").as("lbl")))
            .distinct(),
          "lbl", labelEdges)
        .filter(col("cluster_id") =!= col("doc_id"))
        .select(col("doc_id").as("old_lbl"), col("cluster_id").as("new_lbl"))
        .localCheckpoint())
    val singletonsFinal = (remap match {
      case Some(r) => singletons.join(broadcast(r),
          singletons("cluster_id") === r("old_lbl"), "left")
        .select(singletons("doc_id"),
          coalesce(col("new_lbl"), singletons("cluster_id"))
            .as("cluster_id"))
      case None => singletons
    }).localCheckpoint()
    val newKeepIds = singletonsFinal
      .filter(col("cluster_id") === col("doc_id")).select("doc_id")
    val fDels: Future[Unit] = remap match {
      case Some(r) => Future {
        MergeUpsert.mergeWritePlain(spark, curatedDelsPath(workDir),
          r.select(col("old_lbl").as("doc_id"))
            .withColumn("del_epoch", lit(tickEpoch)),
          Seq("doc_id"))
      }
      case None => Future.successful(())
    }
    if (!newKeepIds.isEmpty)
      insertCurated(spark, workDir,
        docsStore.filter(rangeFilter)
          .join(newKeepIds.select(col("doc_id").cast("long").as("doc_id")),
            Seq("doc_id")),
        tickEpoch, rates, defaultRate)
    Await.result(fDels, Duration.Inf)
    val labelUpdates = remap match {
      case Some(r) =>
        val changedPrev = prevLabels.map(pl =>
          pl.join(broadcast(r), pl("cluster_id") === r("old_lbl"))
            .select(pl("doc_id"), col("new_lbl").as("cluster_id")))
        changedPrev.map(singletonsFinal.unionByName(_))
          .getOrElse(singletonsFinal)
      case None => singletonsFinal
    }
    if (remap.nonEmpty || !singletonsFinal.isEmpty)
      MergeUpsert.mergeWritePlain(spark, labelsPath(workDir),
        labelUpdates, Seq("doc_id"))
  }

  /** Shared insert writer: apply the deterministic sample gate, join
    * the pre-quantized embeddings (store side pruned FIRST by a
    * broadcast semi join — streams, never shuffles), materialize ONCE,
    * and REPLACE the tick's epoch partition of the curated base — an
    * epoch's content is exactly one tick's inserts, so a re-run
    * replaces instead of duplicating (the superseded file becomes a
    * vacuumable orphan). */
  private def insertCurated(spark: SparkSession, workDir: String,
                            newKeepRows: DataFrame, tickEpoch: String,
                            rates: Map[String, Double],
                            defaultRate: Double): Unit = {
    val sampled = Sampling.stratifiedSample(
      newKeepRows.drop("ingest_epoch"), "doc_id", "lang_pred",
      rates, defaultRate)
    val embQ = MergeUpsert.readPlain(spark, embPath(workDir))
    val embHit = embQ.join(broadcast(sampled.select("doc_id")),
      Seq("doc_id"), "left_semi")
    val insertRows = sampled.join(embHit, Seq("doc_id"), "left")
      .withColumn(EpochCol, lit(tickEpoch))
      .coalesce(1).localCheckpoint()
    // landingParts: the epoch stamp IS the only partition value, so
    // the writer skips the landing distinct-collect job (per-tick
    // latency: one fewer plan on the micro path)
    TableManifest.replacePartitions(spark, curatedBasePath(workDir),
      insertRows, "doc_id", EpochCol, Seq(tickEpoch),
      landingParts = Some(Seq(tickEpoch)))
  }

  /** The absorbed-watermark pointer: the newest epoch whose docs and
    * pairs the label state has absorbed. */
  private def absorbedEpoch(spark: SparkSession,
                            workDir: String): Option[String] =
    MergeUpsert.readPointer(spark, curatedPath(workDir), AbsorbedPointer)

  private def flipAbsorbed(spark: SparkSession, workDir: String,
                           epoch: String): Unit =
    MergeUpsert.flipPointer(spark, curatedPath(workDir), AbsorbedPointer,
      epoch)

  /** Next epoch for DIRECT (non-stream) callers: one past the newest
    * epoch any curated store mentions (the stream passes its
    * checkpointed batchId instead, which is what makes crash
    * redelivery idempotent). Metadata-scale: a max over the manifest's
    * part strings and the small deletes store. */
  private def deriveEpoch(spark: SparkSession, workDir: String): Long =
    newestEpoch(spark, workDir).map(parseEpoch).getOrElse(-1L) + 1

  private def parseEpoch(s: String): Long = s.stripPrefix("ep").toLong

  /** The newest epoch ANY curation store mentions — the docs store's
    * ingest stamps cover every batch that ever ran, so this is the
    * tick epoch a convergence republish absorbs up to. */
  private def newestEpoch(spark: SparkSession,
                          workDir: String): Option[String] = {
    // the docs store's epochs are its manifest PART strings now — a
    // metadata agg over file-count rows, never a row scan
    val fromDocs = TableManifest.load(spark, docsPath(workDir))
      .flatMap(m => Option(m.agg(max(col("part"))).head.getString(0)))
    val fromBase = TableManifest.load(spark, curatedBasePath(workDir))
      .flatMap(m => Option(m.agg(max(col("part"))).head.getString(0)))
    (fromDocs.toSeq ++ fromBase.toSeq).sorted.lastOption
  }

  /** Steps 5-7 alone: absorb everything the stores accumulated (the
    * tick delta pass, O(range since the watermark) — the pre-r15
    * design re-resolved and rewrote the whole table here) and flip the
    * published pointer. Deterministic in the store state, so calling
    * it twice, or after a crash/restart anywhere in the cadence,
    * converges to the same table. `rates`/`defaultRate` gate the
    * inserts exactly as a publishing batch would. */
  def republishCurated(spark: SparkSession, workDir: String,
                       rates: Map[String, Double],
                       defaultRate: Double): Unit = {
    val tick = newestEpoch(spark, workDir).getOrElse(epochName(0L))
    deltaPass(spark, workDir, tick, rates, defaultRate)
    flipPointer(spark, workDir, tick)
  }

  /** Amortized maintenance (the [[StreamIngest]] compactEvery role):
    * fold the PUBLISHED curated state into ONE fresh epoch partition —
    * the folded rows already exclude the deleted docs, so the absorbed
    * deletion vectors retire — and drop the folded epochs from the
    * manifest (copy-on-write: superseded files await
    * TableManifest.vacuum). Epochs above the pointer (accumulated but
    * unpublished) are untouched. Off the per-tick path by design:
    * per-batch work stays O(changed rows) and this pass re-pays
    * O(published rows) only when the caller schedules it. */
  def compactCurated(spark: SparkSession, workDir: String,
                     targetBytes: Long = 128L << 20): Seq[String] = {
    (publishedEpoch(spark, workDir),
        TableManifest.load(spark, curatedBasePath(workDir))) match {
      case (Some(p), Some(m)) =>
        val (parts, targetN) = foldSizing(spark, curatedBasePath(workDir),
          EpochCol, m, p, targetBytes)
        if (parts.nonEmpty) {
          // repartition, not coalesce — a narrow coalesce would
          // propagate through the broadcast-join fold plan and
          // serialize the base scan itself.
          val folded = readCurated(spark, workDir)
            .withColumn(EpochCol, lit(p))
            .repartition(targetN)
          // landingParts = the fold's single epoch stamp, so the full
          // readCurated composition executes ONCE (the write) instead
          // of twice (r15 advice: the landing distinct-collect re-ran
          // the whole fold plan before the write did)
          TableManifest.replacePartitions(spark, curatedBasePath(workDir),
            folded, "doc_id", EpochCol, parts,
            landingParts = Some(Seq(p)))
          // crash between the fold's manifest flip and this prune
          // leaves stale vectors whose targets are already gone from
          // the base — the anti join is then a no-op, and the next
          // compact retires them
          MergeUpsert.existingPlain(spark, curatedDelsPath(workDir))
            .foreach { _ =>
              MergeUpsert.deleteWhere(spark, curatedDelsPath(workDir),
                col("del_epoch") <= p)
            }
          // every touched dir: the dropped epochs (their files are
          // dead once the previous manifest version retires) plus the
          // landing epoch (its pre-fold generation is superseded) —
          // the scoped-vacuum set maintainCurated reclaims
          (parts :+ p).distinct
        } else Seq.empty
      case _ => Seq.empty
    }
  }

  /** The stream's amortized maintenance tick (r15 verdict task 1 —
    * the one unbounded-state gap at 100 TB): fold the published epochs
    * ([[compactCurated]]) and reclaim the superseded copy-on-write
    * generations with a PARTITION-SCOPED vacuum over exactly the dirs
    * the fold touched — cost O(folded partitions), independent of the
    * table's total partition count. `keepVersions = 2` keeps one
    * manifest generation of time travel between maintenance ticks;
    * each tick's retention prune retires the previous tick's
    * superseded files, so a long-running stream's storage is bounded
    * at ~one extra generation. Single-writer like every publish here:
    * the stream calls it from its own foreachBatch thread. */
  def maintainCurated(spark: SparkSession, workDir: String,
                      keepVersions: Int = 2): Unit = {
    val touched = compactCurated(spark, workDir)
    if (touched.nonEmpty)
      vacuumEpochDirs(spark, curatedBasePath(workDir), EpochCol, keepVersions)
    // r17: the ingest-side stores (docs/sigs/pairs) are epoch-
    // partitioned too — fold their absorbed epochs into one partition
    // each so reader file counts and manifests track the maintenance
    // cadence, not the tick count, then reclaim the superseded
    // generations. Epochs above the absorbed watermark (accumulated
    // but not yet ticked) are untouched.
    absorbedEpoch(spark, workDir).foreach { wm =>
      Seq((docsPath(workDir), IngestEpochCol, Seq("doc_id")),
          (sigsPath(workDir), IngestEpochCol, Seq("doc_id_")),
          (pairsPath(workDir), PairEpochCol, Seq("id_a", "id_b")))
        .foreach { case (p, ec, ks) =>
          if (foldEpochStore(spark, p, ec, ks, wm).nonEmpty)
            vacuumEpochDirs(spark, p, ec, keepVersions)
        }
    }
  }

  /** Fold an epoch store's partitions at-or-below the absorbed
    * watermark into ONE partition (stamped `upTo`, so every folded row
    * stays at-or-below the watermark and the delta pass's range
    * semantics are unchanged). Output files are byte-sized and
    * RANGE-partitioned by the leading key with sorted rows — disjoint
    * per-file key zones, which at scale lets the steal probe's zone
    * stats prune before the blooms even evaluate. Returns the touched
    * partition values (for the scoped vacuum), empty when the store is
    * already folded. */
  private def foldEpochStore(spark: SparkSession, path: String,
                             epochCol: String, keys: Seq[String],
                             upTo: String,
                             targetBytes: Long = 128L << 20): Seq[String] =
    TableManifest.load(spark, path) match {
      case None => Seq.empty
      case Some(m) =>
        val (parts, targetN) =
          foldSizing(spark, path, epochCol, m, upTo, targetBytes)
        if (parts.size <= 1) Seq.empty
        else {
          val folded = TableManifest
            .readPartitions(spark, path, parts, epochCol)
            .withColumn(epochCol, lit(upTo))
            .repartitionByRange(targetN, col(keys.head))
            .sortWithinPartitions(keys.map(col): _*)
          TableManifest.replacePartitions(spark, path, folded, keys.head,
            epochCol, replaceParts = parts,
            landingParts = Some(Seq(upTo)), bloomKeys = Some(keys))
          (parts :+ upTo).distinct
        }
    }

  /** A fold's input and output size: the partitions of manifest `m`
    * at or below `upTo`, and the fold's output file count — their
    * parquet bytes over `targetBytes`, rounded up (the point of a fold
    * is fewer, bigger files). The bytes come from listing those k
    * partition dirs (metadata; superseded generations overcount by at
    * most the retention factor, which only rounds the count up). */
  private def foldSizing(spark: SparkSession, path: String,
                         epochCol: String, m: DataFrame, upTo: String,
                         targetBytes: Long): (Seq[String], Int) = {
    val parts = m.select("part").distinct().collect()
      .map(_.getString(0)).filter(_ <= upTo).toSeq
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = parts.iterator.map { v =>
      val d = new org.apache.hadoop.fs.Path(s"$path/$epochCol=" +
        org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .escapePathName(v))
      if (!fs.exists(d)) 0L
      else fs.listStatus(d).iterator
        .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
        .map(_.getLen).sum
    }.sum
    (parts, math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt))
  }

  /** Scoped-vacuum every ON-DISK epoch dir of an epoch-partitioned
    * store and remove emptied dirs — shared by the curated base and
    * the ingest-side stores. Scope = the on-disk dirs, not the fold's
    * parts: a fold's superseded generation dies only at the NEXT
    * publish (when manifest retention prunes the version that still
    * referenced it), by which time those partitions have left the
    * manifest — scoping by the manifest's current parts would orphan
    * each cycle's dead files forever. One LIST of the root, bounded
    * because this same pass removes emptied dirs (so dir count tracks
    * the cadence, not tick count). */
  private def vacuumEpochDirs(spark: SparkSession, base: String,
                              epochCol: String, keepVersions: Int): Unit = {
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirs = fs.listStatus(new org.apache.hadoop.fs.Path(base))
      .filter(st => st.isDirectory &&
        st.getPath.getName.startsWith(s"$epochCol="))
      .map(_.getPath).toIndexedSeq
    val parts = dirs.map(d =>
      org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .unescapePathName(d.getName.stripPrefix(s"$epochCol=")))
    if (parts.nonEmpty) {
      TableManifest.vacuumPartitions(spark, base, parts, epochCol,
        keepVersions)
      // an empty dir holds no file any retained version references
      // (vacuum just enforced that invariant), so removing it can't
      // strand a pinned reader — it only keeps the root listing
      // from accumulating one empty dir per folded epoch
      dirs.foreach { d =>
        if (fs.listStatus(d).isEmpty) fs.delete(d, false)
      }
    }
  }
}
