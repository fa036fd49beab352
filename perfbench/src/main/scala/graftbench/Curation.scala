package graftbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Similarity
import graft.pipeline.CurationJob
import graft.streaming.StreamCuration

/** The curation flow: the batch CurationJob funnel, and StreamCuration
  * run tick after tick over the same kind of corpus. */
object Curation {

  val MinQuality = 0.3
  val Rates = Map("en" -> 0.8)
  val DefaultRate = 0.5

  val DocSchema = StructType(Seq(StructField("doc_id", LongType),
    StructField("text", StringType), StructField("lang", StringType),
    StructField("source", StringType), StructField("n_chars", LongType)))
  val EmbSchema = StructType(Seq(StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)), StructField("label", IntegerType)))

  /** Write a generated corpus as one parquet file per table. */
  def writeCorpus(spark: SparkSession, dir: String, docs: Seq[Gen.Doc],
                  embs: Seq[Gen.Emb]): Unit = {
    spark.createDataFrame(docs.map(d => Row(d.id, d.text, d.lang, d.source,
        d.text.length.toLong)).asJava, DocSchema)
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    spark.createDataFrame(embs.map(e => Row(e.id, e.vec.toSeq, e.label)).asJava,
        EmbSchema)
      .coalesce(1).write.parquet(s"$dir/embeddings.parquet")
  }

  /** (doc_id, quality, lang_pred, has_embedding) — a curated row's
    * identity, as the convergence contract states it. */
  def fingerprint(df: DataFrame): Set[(Long, Double, String, Boolean)] =
    df.select(col("doc_id"), col("quality"), col("lang_pred"),
        col("codes").isNotNull)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2),
        r.getBoolean(3))).toSet

  private def corpus(seed: Long, base: Int, copies: Int) =
    Gen.corpus(seed, base, copies, dupFrac = 0.05)

  /** Base documents per copy, and copies, of the timed corpus. */
  val Base = 400
  val Copies = 2

  /** Compute-bound batch curation: CurationJob.run over the whole
    * corpus, into a fresh output directory per pass. */
  final class Batch(env: Env) extends Workload {
    private val spark = env.spark
    private var docs: Seq[Gen.Doc] = _
    private var embIds: Set[Long] = _
    private val outs = scala.collection.mutable.ArrayBuffer.empty[(String, CurationJob.Counts)]

    private val in = env.dir("in")

    def prepare(): Unit = {
      val (d, e) = corpus(env.args.seed, Base, Copies)
      docs = d
      embIds = e.map(_.id).toSet
      writeCorpus(spark, in, d, e)
    }

    private def run(dir: String, out: String, traced: Boolean): Pass = {
      val t0 = System.nanoTime()
      val counts = env.op(s"curation $out") {
        env.tracer.span("pipeline.curation", traced) {
          CurationJob.run(spark, s"$dir/documents.parquet",
            s"$dir/embeddings.parquet", out, MinQuality, Rates, DefaultRate)
        }
      }
      val ticked = System.nanoTime()
      env.op(s"read $out")(spark.read.parquet(out).count())
      val done = System.nanoTime()
      counts.foreach(c => outs += ((out, c)))
      Pass((done - t0) / 1e9, (ticked - t0) / 1e9, (done - ticked) / 1e9,
        (done - t0) / 1e9)
    }

    def warmup(): Unit = {
      val seed = env.args.seed * 7919L + 1
      val dir = env.dir(s"warm-$seed")
      val (d, e) = corpus(seed, Base, Copies)
      writeCorpus(spark, dir, d, e)
      run(dir, s"$dir/out", traced = false)
      outs.clear()
      Env.rmrf(dir)
    }

    /** Passes into fresh output directories, about four seconds each. */
    def timed(seconds: Int): Unit =
      env.writer(math.max(3, seconds / 4)) { i =>
        if (i > 1) Env.rmrf(env.dir(s"out-${i - 1}"))
        env.passes.add(run(in, env.dir(s"out-$i"), env.args.trace))
        env.rows.addAndGet(docs.size.toLong)
      }

    def check(): Unit = {
      env.check("every pass curated")(outs.size == env.passes.size)
      val (firstOut, _) = outs.head
      val (lastOut, counts) = outs.last
      val out = spark.read.parquet(lastOut)
      val fp = fingerprint(out)
      val ids = docs.map(_.id).toSet
      env.check("funnel input equals generated docs")(counts.input == docs.size,
        s"${counts.input} vs ${docs.size}")
      env.check("funnel narrows")(counts.input >= counts.quality &&
        counts.quality >= counts.keepers && counts.keepers >= counts.sampled &&
        counts.sampled > 0, counts.toString)
      env.check("output rows are the sampled docs, once each")(
        fp.size == counts.sampled && out.count() == counts.sampled,
        s"${fp.size} distinct, sampled ${counts.sampled}")
      env.check("output docs are generated docs above the quality gate")(
        fp.forall { case (id, q, _, _) => ids(id) && q >= MinQuality })
      env.check("embeddings attached exactly where generated")(
        fp.forall { case (id, _, _, e) => e == embIds(id) } &&
          fp.count(_._4) == counts.withEmbedding)
      env.check("passes agree")(fingerprint(spark.read.parquet(firstOut)) == fp)
    }

    def inputBytes: Long = Env.du(in)
    def outputBytes: Long = Env.du(outs.last._1)
  }

  /** Micro-batch curation: StreamCuration ticks over seed-hashed slices
    * of the corpus, each followed by a read of the curated table, with
    * one maintenance pass midway. */
  final class Stream(env: Env) extends Workload {
    private val spark = env.spark
    private val in = env.dir("in")
    private val work = env.dir("cur")
    private var docs: Seq[Gen.Doc] = _
    private var ticks = 0
    private def slice(t: Int) = s"$in/tick-$t"

    /** The corpus, one slice per tick (the first for the warm-up), and
      * the quantized embeddings published into the stream's work dir. */
    def prepare(): Unit = {
      val seed = env.args.seed
      val n = 1 + math.max(2, env.args.seconds / 9)
      ticks = n
      val (d, e) = corpus(seed, Base, Copies)
      docs = d
      writeCorpus(spark, in, d, e)
      val tick = udf((id: Long) => Gen.tickOf(seed, id, n))
      val tagged = spark.read.parquet(s"$in/documents.parquet")
        .withColumn("_tick", tick(col("doc_id"))).cache()
      (0 until n).foreach { t =>
        tagged.filter(col("_tick") === t).drop("_tick")
          .coalesce(1).write.parquet(slice(t))
      }
      tagged.unpersist()
      StreamCuration.publishQuantized(spark, work, Similarity.quantizeInt8(
        spark.read.parquet(s"$in/embeddings.parquet"), "vec_id", "embedding"))
    }

    private def tick(t: Int, traced: Boolean): Pass = {
      val t0 = System.nanoTime()
      env.op(s"tick $t") {
        env.tracer.span("streaming.curate_batch", traced) {
          StreamCuration.curateBatch(spark, spark.read.parquet(slice(t)), work,
            MinQuality, Rates, DefaultRate, publish = true, epoch = t.toLong)
        }
      }
      val ticked = System.nanoTime()
      env.op(s"read tick $t") {
        env.tracer.span("streaming.read_curated", traced) {
          StreamCuration.readCurated(spark, work).count()
        }
      }
      val done = System.nanoTime()
      Pass((done - t0) / 1e9, (ticked - t0) / 1e9, (done - ticked) / 1e9,
        (done - t0) / 1e9)
    }

    /** A reader request: the row count of the curated version `snapshot`
      * resolved, i.e. the read after a tick without resolving again. */
    private def count(snapshot: DataFrame): Array[Row] =
      snapshot.groupBy().count().collect()

    /** The stream's first tick, over a slice of its own, and a few
      * reader requests against its output. */
    def warmup(): Unit = {
      tick(0, traced = false)
      val snapshot = StreamCuration.readCurated(spark, work)
      (0 until 6).foreach(_ => count(snapshot))
    }

    /** Ticks, about eight seconds each, with maintenance once midway;
      * then a reader's requests against the version the ticks published. */
    def timed(seconds: Int): Unit = {
      env.writer(ticks - 1) { p =>
        val i = p + 1
        env.passes.add(tick(i, env.args.trace))
        env.rows.addAndGet(docs.count(d => Gen.tickOf(env.args.seed, d.id, ticks) == i))
        if (i == ticks / 2) env.op("maintain") {
          env.tracer.span("streaming.maintain", env.args.trace) {
            StreamCuration.maintainCurated(spark, work)
          }
        }
      }
      // both workloads in BENCHMARK.json report request metrics; here
      // they time the curated read, resolved once as a reader of one
      // version does
      lazy val snapshot = StreamCuration.readCurated(spark, work)
      env.reader(100)(_ => env.request(env.op("curated count") {
        env.tracer.query("pipeline.query", env.args.trace)(count(snapshot))
      })).join()
    }

    def check(): Unit = {
      env.check("every tick ran")(env.passes.size == ticks - 1)
      // the batch twin is the one CurationJob call this workload makes;
      // a traced run records it as the pipeline.curation span
      val batchOut = env.dir("batch-twin")
      env.tracer.span("pipeline.curation") {
        CurationJob.run(spark, s"$in/documents.parquet", s"$in/embeddings.parquet",
          batchOut, MinQuality, Rates, DefaultRate)
      }
      val streamed = fingerprint(StreamCuration.readCurated(spark, work))
      val batch = fingerprint(spark.read.parquet(batchOut))
      env.check("stream converges to the batch pipeline")(streamed == batch,
        s"${streamed.size} streamed vs ${batch.size} batch, " +
          s"${(streamed -- batch).size} only streamed, ${(batch -- streamed).size} only batch")
    }

    def inputBytes: Long = Env.du(s"$in/documents.parquet") + Env.du(s"$in/embeddings.parquet")
    def outputBytes: Long = Env.du(work)
  }
}
