package graft.streaming

import graft.SparkSpec
import graft.pipeline.CurationJob
import org.apache.spark.sql.functions._

class StreamCurationSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  /** (doc_id, quality, lang_pred, has_embedding) fingerprint of a
    * curated table — the full row identity the convergence claim is
    * about. */
  private def fingerprint(df: org.apache.spark.sql.DataFrame) =
    df.select(col("doc_id"), col("quality"), col("lang_pred"),
        col("codes").isNotNull.as("has_emb"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2),
        r.getBoolean(3))).toSet

  /** Batch-pipeline output over `docsPath` with the spec's parameters. */
  private def batchCurated(docsPath: String): org.apache.spark.sql.DataFrame = {
    val out = java.nio.file.Files.createTempDirectory("graft-scb").toString
    CurationJob.run(spark, docsPath, s"$sfDir/embeddings.parquet",
      s"$out/curated", minQuality = 0.3,
      rates = Map("en" -> 0.8), defaultRate = 0.5)
    spark.read.parquet(s"$out/curated")
  }

  private def arrive(work: String, df: org.apache.spark.sql.DataFrame,
                     name: String): Unit = {
    val stage = s"$work/stage-$name"
    df.coalesce(1).write.parquet(stage)
    val part = new java.io.File(stage).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath,
      java.nio.file.Paths.get(s"$work/in/$name"))
  }

  test("incremental curation converges to the batch pipeline, including " +
    "across a checkpoint restart mid-stream") {
    val work = java.nio.file.Files.createTempDirectory("graft-scur").toString
    java.nio.file.Files.createDirectory(java.nio.file.Paths.get(s"$work/in"))
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val schema = docs.schema

    // batch 1 arrives; first drain
    arrive(work, docs.filter(col("doc_id") % 3 === 0), "f1.parquet")
    StreamCuration.curateAvailableNow(spark, s"$work/in", schema,
      s"$work/cur", s"$sfDir/embeddings.parquet", s"$work/cp")
    // mid-stream convergence: curated == batch pipeline on batch 1 alone
    val b1Path = s"$work/b1docs"
    docs.filter(col("doc_id") % 3 === 0).write.parquet(b1Path)
    assert(fingerprint(StreamCuration.readCurated(spark, s"$work/cur")) ==
      fingerprint(batchCurated(b1Path)),
      "after one batch, curated must equal the batch run on that prefix")

    // the stream is DOWN (AvailableNow terminated = the restart gap);
    // two more batches arrive, then a drain from the SAME checkpoint
    arrive(work, docs.filter(col("doc_id") % 3 === 1), "f2.parquet")
    arrive(work, docs.filter(col("doc_id") % 3 === 2), "f3.parquet")
    StreamCuration.curateAvailableNow(spark, s"$work/in", schema,
      s"$work/cur", s"$sfDir/embeddings.parquet", s"$work/cp")

    val streamed = StreamCuration.readCurated(spark, s"$work/cur")
    val batch = batchCurated(s"$sfDir/documents.parquet")
    assert(fingerprint(streamed) == fingerprint(batch),
      "after the full stream, curated must equal the from-scratch batch run")
    assert(streamed.count() > 0)
    // docs store accumulated exactly the quality survivors; the restart
    // did not double-merge batch 1 (doc_id is the upsert key, and the
    // signature store holds one row per shingled survivor)
    val nDocs = StreamCuration
      .readStoreOpt(spark, StreamCuration.docsPath(s"$work/cur")).get.count()
    val nSurvivors = docs
      .filter(graft.functions.TextFunctions
        .qualityScore(col("text")) >= 0.3).count()
    assert(nDocs == nSurvivors)
  }

  test("publishEvery-N cadence skips mid-cadence publishes but converges " +
    "to the publishEvery-1 table, including across a restart mid-cadence") {
    val work = java.nio.file.Files.createTempDirectory("graft-scurN").toString
    java.nio.file.Files.createDirectory(java.nio.file.Paths.get(s"$work/in"))
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val schema = docs.schema

    // accumulate-only step never creates/advances the curated table
    val direct = s"$work/direct"
    StreamCuration.publishQuantizedEmbeddings(spark, direct,
      s"$sfDir/embeddings.parquet")
    StreamCuration.curateBatch(spark, docs.filter(col("doc_id") % 3 === 0),
      direct, minQuality = 0.3, rates = Map("en" -> 0.8), defaultRate = 0.5,
      publish = false)
    assert(!new java.io.File(StreamCuration.curatedPath(direct)).exists(),
      "publish=false must not write the curated table")
    // ...and the deferred publish is a pure function of the stores
    StreamCuration.republishCurated(spark, direct, Map("en" -> 0.8), 0.5)
    assert(new java.io.File(StreamCuration.curatedPath(direct)).exists())

    // streamed with publishEvery=2 over three batches, with a restart
    // after batch 1 — i.e. mid-cadence (batchId 0 has not published)
    arrive(work, docs.filter(col("doc_id") % 3 === 0), "f1.parquet")
    StreamCuration.curateAvailableNow(spark, s"$work/in", schema,
      s"$work/cur", s"$sfDir/embeddings.parquet", s"$work/cp",
      publishEvery = 2)
    // the drain-end convergence republish covers the mid-cadence stop
    val b1Path = s"$work/b1docs"
    docs.filter(col("doc_id") % 3 === 0).write.parquet(b1Path)
    assert(fingerprint(StreamCuration.readCurated(spark, s"$work/cur")) ==
      fingerprint(batchCurated(b1Path)),
      "drain ending mid-cadence must still converge the curated table")

    arrive(work, docs.filter(col("doc_id") % 3 === 1), "f2.parquet")
    arrive(work, docs.filter(col("doc_id") % 3 === 2), "f3.parquet")
    StreamCuration.curateAvailableNow(spark, s"$work/in", schema,
      s"$work/cur", s"$sfDir/embeddings.parquet", s"$work/cp",
      publishEvery = 2)

    // publishEvery ∈ {1, N} final-state equality: N-cadence == batch run
    val streamed = StreamCuration.readCurated(spark, s"$work/cur")
    assert(fingerprint(streamed) ==
      fingerprint(batchCurated(s"$sfDir/documents.parquet")),
      "publishEvery=N must converge to the same final curated table")
  }

  test("curateBatch surfaces a BACKGROUND store-merge failure as the " +
    "batch's failure (the durability barrier), never silently") {
    val work = java.nio.file.Files
      .createTempDirectory("graft-scur-fail").toString + "/cur"
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(work))
    // the docs-store path pre-exists as a FILE: the background docs
    // merge cannot create its version dir and must fail — and that
    // failure must reach the caller through the Await barrier (a
    // foreachBatch that swallowed it would checkpoint a batch whose
    // state never landed)
    java.nio.file.Files.createFile(
      java.nio.file.Paths.get(StreamCuration.docsPath(work)))
    StreamCuration.publishQuantized(spark, work,
      graft.operators.Similarity.quantizeInt8(
        spark.read.parquet(s"$sfDir/embeddings.parquet"),
        "vec_id", "embedding"))
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    intercept[Exception] {
      StreamCuration.curateBatch(spark, docs, work,
        minQuality = 0.3, rates = Map("en" -> 0.8), defaultRate = 0.5)
    }
  }

  test("label store equals a from-scratch resolveClusters over the " +
    "accumulated stores, and the curated delta is redelivery-idempotent " +
    "(same batch, same epoch, twice)") {
    val work = java.nio.file.Files
      .createTempDirectory("graft-scur-redeliver").toString + "/cur"
    StreamCuration.publishQuantizedEmbeddings(spark, work,
      s"$sfDir/embeddings.parquet")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    (0 until 2).foreach { k =>
      StreamCuration.curateBatch(spark, docs.filter(col("doc_id") % 3 === k),
        work, minQuality = 0.3, rates = Map("en" -> 0.8),
        defaultRate = 0.5, publish = true, epoch = k.toLong)
    }
    val before = fingerprint(StreamCuration.readCurated(spark, work))
    val labelsBefore = graft.operators.MergeUpsert
      .readPlain(spark, StreamCuration.labelsPath(work))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the incremental invariant: labels == batch resolveClusters over
    // the accumulated docs+pairs stores (min id per component)
    val ref = graft.operators.Dedup.resolveClusters(
        StreamCuration.readStoreOpt(spark,
          StreamCuration.docsPath(work)).get,
        "doc_id",
        StreamCuration.readStoreOpt(spark,
          StreamCuration.pairsPath(work)).get)
      .select("doc_id", "cluster_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(labelsBefore == ref,
      "incremental label state must equal from-scratch cluster resolution")
    // crash-redelivery: the at-least-once contract re-runs batch 1 with
    // the SAME checkpointed epoch — every store merge must be a keyed
    // no-op and the curated base must not grow duplicate rows
    StreamCuration.curateBatch(spark, docs.filter(col("doc_id") % 3 === 1),
      work, minQuality = 0.3, rates = Map("en" -> 0.8),
      defaultRate = 0.5, publish = true, epoch = 1L)
    val after = StreamCuration.readCurated(spark, work)
    assert(fingerprint(after) == before,
      "redelivered batch must not move the curated table")
    assert(after.groupBy("doc_id").count().filter(col("count") > 1).isEmpty,
      "redelivery must not duplicate curated rows")
    val labelsAfter = graft.operators.MergeUpsert
      .readPlain(spark, StreamCuration.labelsPath(work))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(labelsAfter == labelsBefore)
  }

  test("compactCurated folds the published epochs into one and retires " +
    "the absorbed deletion vectors without moving the readable table") {
    val work = java.nio.file.Files
      .createTempDirectory("graft-scur-compact").toString + "/cur"
    StreamCuration.publishQuantizedEmbeddings(spark, work,
      s"$sfDir/embeddings.parquet")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    (0 until 3).foreach { k =>
      StreamCuration.curateBatch(spark, docs.filter(col("doc_id") % 3 === k),
        work, minQuality = 0.3, rates = Map("en" -> 0.8),
        defaultRate = 0.5, publish = true, epoch = k.toLong)
    }
    val before = fingerprint(StreamCuration.readCurated(spark, work))
    val epochsBefore = graft.operators.TableManifest
      .load(spark, StreamCuration.curatedBasePath(work)).get
      .select("part").distinct().count()
    assert(epochsBefore > 1, "the three batches should have made epochs")
    StreamCuration.compactCurated(spark, work)
    assert(fingerprint(StreamCuration.readCurated(spark, work)) == before,
      "compaction is a pure re-layout")
    val epochsAfter = graft.operators.TableManifest
      .load(spark, StreamCuration.curatedBasePath(work)).get
      .select("part").distinct().count()
    assert(epochsAfter == 1, s"folded to one epoch, got $epochsAfter")
    val delsLeft = graft.operators.MergeUpsert.existingPlain(spark,
      StreamCuration.curatedDelsPath(work)).map(_.count()).getOrElse(0L)
    assert(delsLeft == 0, "absorbed deletion vectors must retire")
    // and the fold composes with further incremental batches: nothing
    // about the layout change leaks into delta derivation
    StreamCuration.curateBatch(spark, docs.filter(col("doc_id") % 3 === 0),
      work, minQuality = 0.3, rates = Map("en" -> 0.8),
      defaultRate = 0.5, publish = true, epoch = 3L)
    assert(fingerprint(StreamCuration.readCurated(spark, work)) == before,
      "a redelivered batch after compaction is still a no-op")
  }

  test("the driver and distributed tick delta paths produce identical " +
    "stores and curated table on the same accumulated ranges") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    def run(maxIds: Int): (Set[(Long, Long)], Set[Long]) = {
      val work = java.nio.file.Files
        .createTempDirectory(s"graft-scur-cap$maxIds").toString + "/cur"
      StreamCuration.publishQuantizedEmbeddings(spark, work,
        s"$sfDir/embeddings.parquet")
      (0 until 3).foreach { k =>
        // accumulate only; the tick delta runs explicitly below so
        // BOTH paths see identical two-tick ranges
        StreamCuration.curateBatch(spark,
          docs.filter(col("doc_id") % 3 === k), work,
          minQuality = 0.3, rates = Map("en" -> 0.8), defaultRate = 0.5,
          publish = false, epoch = k.toLong)
        if (k >= 1) // tick at epochs 1 and 2: exercises watermark ranges
          StreamCuration.deltaPass(spark, work,
            StreamCuration.epochName(k.toLong), Map("en" -> 0.8), 0.5,
            maxDriverIds = maxIds, maxDriverPairs = maxIds)
      }
      StreamCuration.republishCurated(spark, work, Map("en" -> 0.8), 0.5)
      val labels = graft.operators.MergeUpsert
        .readPlain(spark, StreamCuration.labelsPath(work))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val curated = StreamCuration.readCurated(spark, work)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      (labels, curated)
    }
    val (lDriver, cDriver) = run(maxIds = 2000000)
    val (lDist, cDist) = run(maxIds = 0) // forces the distributed twin
    assert(lDriver == lDist, "label stores must be identical")
    assert(cDriver == cDist, "curated tables must be identical")
  }

  test("the replay-vs-micro-batch width decision reads file metadata " +
    "only — zero Spark jobs (the r14 per-batch count() is gone)") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    // settle lazy listing state first, then count jobs
    StreamCuration.batchBytes(spark, docs)
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val b = StreamCuration.batchBytes(spark, docs)
      assert(b > 0, "file-backed batch reports its bytes")
      val mem = { val s2 = spark; import s2.implicits._
        Seq((1L, "t")).toDF("doc_id", "text") }
      assert(StreamCuration.batchBytes(spark, mem) == 0L,
        "non-file-backed batch reports 0 (micro path)")
      org.apache.spark.graft.listenerBridge.drain(spark.sparkContext)
      assert(jobs.get() == 0,
        s"width decision must run no jobs, ran ${jobs.get()}")
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("curateBatch: an empty micro-batch is a no-op that leaves the " +
    "stores and the curated table converged") {
    val work = java.nio.file.Files
      .createTempDirectory("graft-scur-empty").toString + "/cur"
    StreamCuration.publishQuantized(spark, work,
      graft.operators.Similarity.quantizeInt8(
        spark.read.parquet(s"$sfDir/embeddings.parquet"),
        "vec_id", "embedding"))
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    StreamCuration.curateBatch(spark, docs, work,
      minQuality = 0.3, rates = Map("en" -> 0.8), defaultRate = 0.5)
    val before = fingerprint(StreamCuration.readCurated(spark, work))
    // zero-row batch (a trigger with no new files): every store merge
    // is a keyed no-op and the republish converges to the same table
    StreamCuration.curateBatch(spark, docs.filter(lit(false)), work,
      minQuality = 0.3, rates = Map("en" -> 0.8), defaultRate = 0.5)
    assert(fingerprint(StreamCuration.readCurated(spark, work)) == before,
      "an empty batch must not move the curated table")
  }

  test("maintainCurated (the compactEvery tick) bounds epoch count AND " +
    "on-disk COW backlog across a many-tick run without moving the table") {
    val work = java.nio.file.Files
      .createTempDirectory("graft-scur-maint").toString + "/cur"
    StreamCuration.publishQuantizedEmbeddings(spark, work,
      s"$sfDir/embeddings.parquet")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val ticks = 9
    def baseFiles(): Long = {
      val d = new java.io.File(StreamCuration.curatedBasePath(work))
      if (!d.exists()) 0L
      else java.nio.file.Files.walk(d.toPath).filter(p =>
        p.toString.endsWith(".parquet") &&
          !p.toString.contains("_manifest")).count()
    }
    (0 until ticks).foreach { k =>
      StreamCuration.curateBatch(spark,
        docs.filter(col("doc_id") % ticks === k), work,
        minQuality = 0.3, rates = Map("en" -> 0.8),
        defaultRate = 0.5, publish = true, epoch = k.toLong)
      if ((k + 1) % 3 == 0)
        StreamCuration.maintainCurated(spark, work)
    }
    val epochs = graft.operators.TableManifest
      .load(spark, StreamCuration.curatedBasePath(work)).get
      .select("part").distinct().count()
    // after a maintenance tick the manifest holds ONE folded epoch;
    // between ticks at most compactEvery-1 fresh ones accumulate —
    // never O(ticks)
    assert(epochs <= 3, s"epoch count must stay bounded, got $epochs")
    // the scoped vacuum reclaims superseded generations: steady state
    // is the previous fold + the cycle's inserts + the new fold (the
    // retained-generation window), never one file per tick. 9 ticks
    // unmaintained leave >= 12 data files; maintained must hold the
    // cadence-sized set.
    assert(baseFiles() <= 6,
      s"vacuum must reclaim superseded generations, ${baseFiles()} files")
    // ...and emptied epoch dirs are removed, so the base root listing
    // tracks the cadence, not the tick count
    val dirCount = new java.io.File(StreamCuration.curatedBasePath(work))
      .listFiles().count(f => f.isDirectory && f.getName.startsWith("cur_epoch="))
    assert(dirCount <= 5, s"emptied epoch dirs must be removed, $dirCount dirs")
    // purity: the maintained table equals the batch pipeline on the
    // same corpus (the same bar every other curation test pins)
    val full = s"$work/fulldocs"
    docs.write.parquet(full)
    assert(fingerprint(StreamCuration.readCurated(spark, work)) ==
      fingerprint(batchCurated(full)),
      "maintenance must not move the curated table")
    // and a redelivered tick after maintenance is still idempotent
    val before = fingerprint(StreamCuration.readCurated(spark, work))
    StreamCuration.curateBatch(spark,
      docs.filter(col("doc_id") % ticks === (ticks - 1)), work,
      minQuality = 0.3, rates = Map("en" -> 0.8),
      defaultRate = 0.5, publish = true, epoch = (ticks - 1).toLong)
    assert(fingerprint(StreamCuration.readCurated(spark, work)) == before)
  }

  test("epoch stores: a reused doc_id across epochs keeps ONE row with " +
    "the newest text (the plain keyed store's overwrite contract, carried " +
    "by the manifest key blooms)") {
    val work = java.nio.file.Files
      .createTempDirectory("graft-epoch-reuse").toString + "/cur"
    val store = StreamCuration.docsPath(work)
    val s2 = spark; import s2.implicits._
    val b0 = Seq((1L, "old text one"), (2L, "text two"))
      .toDF("doc_id", "text")
    val b1 = Seq((1L, "NEW text one"), (3L, "text three"))
      .toDF("doc_id", "text")
    StreamCuration.mergeEpochStore(spark, store, b0, Seq("doc_id"),
      "ingest_epoch", StreamCuration.epochName(0L))
    StreamCuration.mergeEpochStore(spark, store, b1, Seq("doc_id"),
      "ingest_epoch", StreamCuration.epochName(1L))
    val rows = StreamCuration.readStoreOpt(spark, store).get
      .select("doc_id", "text", "ingest_epoch")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq(1L, 2L, 3L),
      s"one row per key, got ${rows.mkString(",")}")
    assert(rows.head == ((1L, "NEW text one",
      StreamCuration.epochName(1L))),
      "the reused key's row must be the newest epoch's")
    assert(rows(1)._3 == StreamCuration.epochName(0L),
      "untouched keys keep their original epoch")
    // and the steal was FILE-granular copy-on-write: epoch 0's dir still
    // holds the superseded generation (vacuumable), the manifest doesn't
    val m = graft.operators.TableManifest.load(spark, store).get
    assert(m.filter(col("part") === StreamCuration.epochName(0L))
      .count() >= 1, "epoch 0 keeps a rewritten file for doc 2")
  }

  test("epoch stores: append-only batches never rewrite old partitions " +
    "(bloom-miss soak — the O(batch) write bar)") {
    val work = java.nio.file.Files
      .createTempDirectory("graft-epoch-soak").toString + "/cur"
    val store = StreamCuration.docsPath(work)
    val s2 = spark; import s2.implicits._
    def fileSet(): Set[String] = graft.operators.TableManifest
      .load(spark, store)
      .map(_.select("file").collect().map(_.getString(0)).toSet)
      .getOrElse(Set.empty)
    var frozen = Map.empty[String, Set[String]] // epoch -> its files
    (0 until 8).foreach { k =>
      val batch = (0 until 200)
        .map(i => (k * 1000L + i, s"doc $k-$i body"))
        .toDF("doc_id", "text")
      val before = fileSet()
      StreamCuration.mergeEpochStore(spark, store, batch, Seq("doc_id"),
        "ingest_epoch", StreamCuration.epochName(k.toLong))
      val after = fileSet()
      // every file of every PREVIOUS epoch survives untouched — the
      // batch wrote O(batch): exactly its own epoch's file(s)
      assert(before.subsetOf(after),
        s"batch $k rewrote old files: ${(before -- after).take(3)}")
      val added = after -- before
      assert(added.nonEmpty && added.forall(
        _.contains(s"ingest_epoch=${StreamCuration.epochName(k.toLong)}")),
        s"batch $k's new files must land in its own epoch only: $added")
      frozen += (StreamCuration.epochName(k.toLong) -> added)
    }
    // row identity: the composed read equals the union of batches
    val n = StreamCuration.readStoreOpt(spark, store).get.count()
    assert(n == 8 * 200, s"expected 1600 rows, got $n")
  }

  test("curateAvailableNow wires the compactEvery cadence: a drain with " +
    "compactEvery=1 leaves a folded single-epoch manifest") {
    val work = java.nio.file.Files
      .createTempDirectory("graft-scur-ce").toString
    java.nio.file.Files.createDirectory(java.nio.file.Paths.get(s"$work/in"))
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    arrive(work, docs.filter(col("doc_id") % 2 === 0), "f1.parquet")
    StreamCuration.curateAvailableNow(spark, s"$work/in", docs.schema,
      s"$work/cur", s"$sfDir/embeddings.parquet", s"$work/cp",
      compactEvery = 1)
    val epochs = graft.operators.TableManifest
      .load(spark, StreamCuration.curatedBasePath(s"$work/cur")).get
      .select("part").distinct().count()
    assert(epochs == 1, s"compactEvery=1 drain must fold, got $epochs")
    val half = s"$work/halfdocs"
    docs.filter(col("doc_id") % 2 === 0).write.parquet(half)
    assert(fingerprint(StreamCuration.readCurated(spark, s"$work/cur")) ==
      fingerprint(batchCurated(half)))
  }

  test("mergeEpochStore: a micro-batch into a live three-epoch store " +
    "runs in at most 4 Spark jobs, and the manifest version it published " +
    "is read with none") {
    val work = java.nio.file.Files
      .createTempDirectory("graft-epoch-jobs").toString + "/cur"
    val store = StreamCuration.docsPath(work)
    // the micro-batch tick's session (curateBatch: AQE off, scoped
    // shuffle partitions)
    val cs = graft.Sessions.derived(spark,
      graft.Sessions.shufflePartitions(8) ++ graft.Sessions.AqeOff)
    val s2 = spark; import s2.implicits._
    def batch(k: Int) = org.apache.spark.sql.graft.bridge.onSession(
      (0 until 90).map(i => (k * 1000L + i, s"doc $k-$i body"))
        .toDF("doc_id", "text"), cs)
    def merge(k: Int): Unit = StreamCuration.mergeEpochStore(cs, store,
      batch(k), Seq("doc_id"), StreamCuration.IngestEpochCol,
      StreamCuration.epochName(k.toLong))
    (0 until 3).foreach(merge)
    // 9 jobs before the one-pass publish; 4 now: the manifest's bloom
    // rows collected, the probe, the data write, and the manifest
    // version write (file stats and blooms included)
    val (_, jobs) = jobsOf(merge(3))
    assert(jobs <= 4L, s"a micro-batch epoch merge ran $jobs jobs")
    val (m, readJobs) = jobsOf(
      graft.operators.TableManifest.load(cs, store).get)
    assert(readJobs == 0L,
      s"reading the just-published manifest version ran $readJobs jobs")
    assert(m.select("part").as[String].collect().sorted.toSeq ==
      (0 until 4).map(k => StreamCuration.epochName(k.toLong)))
    assert(StreamCuration.readStoreOpt(spark, store).get.count() == 360L)
  }

  test("the labels, dels and emb_q stores' published versions are read " +
    "with the schema their publisher wrote: no job, equal to the " +
    "inferred schema") {
    val work = java.nio.file.Files
      .createTempDirectory("graft-seeded").toString + "/cur"
    def check(store: String): Unit = {
      val cur = graft.operators.MergeUpsert.currentPlainVersion(spark, store)
      assert(cur.nonEmpty, s"$store was never published")
      val dir = s"$store/${cur.get}"
      val (seeded, jobs) = jobsOf(graft.operators.MergeUpsert
        .existingPlain(spark, store).get.schema)
      assert(jobs == 0L, s"$dir: the first read planned $jobs jobs")
      assert(seeded == spark.read.parquet(dir).schema, dir)
    }
    graft.operators.TableManifest.clearPlanMemo()
    StreamCuration.publishQuantizedEmbeddings(spark, work,
      s"$sfDir/embeddings.parquet")
    check(s"$work/emb_q")
    // the second tick's documents repeat the first's texts under
    // smaller ids, so every first-tick keeper loses to its twin: the
    // tick publishes both labels and deletes
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .filter(col("doc_id") % 3 === 0)
    Seq(docs.withColumn("doc_id", col("doc_id") + 1000000L), docs)
      .zipWithIndex.foreach { case (batch, k) =>
        graft.operators.TableManifest.clearPlanMemo()
        StreamCuration.curateBatch(spark, batch, work, minQuality = 0.3,
          rates = Map("en" -> 0.8), defaultRate = 0.5, publish = true,
          epoch = k.toLong)
      }
    check(StreamCuration.labelsPath(work))
    check(StreamCuration.curatedDelsPath(work))
  }
}
