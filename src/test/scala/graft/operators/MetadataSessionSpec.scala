package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Manifest metadata work runs on its own session
  * ([[graft.Sessions.meta]]): its sizing never shows through the data
  * session's conf, it still sees the data session's runtime conf, and
  * it never leaves itself as the caller's active session. */
class MetadataSessionSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("graft-metasession").toString +
      "/t"

  /** Runs `f` and checks the calling thread's active session is still
    * the data session afterwards. */
  private def onData[T](what: String)(f: => T): T = {
    val r = f
    assert(SparkSession.active eq spark,
      s"$what left ${SparkSession.active} active")
    r
  }

  test("one metadata session per data session, pinned once, data conf " +
    "untouched") {
    val ms = graft.Sessions.meta(spark)
    assert(ms ne spark)
    assert(graft.Sessions.meta(spark) eq ms, "created once and reused")
    assert(ms.sparkContext eq spark.sparkContext)
    assert(ms.conf.get("spark.sql.adaptive.enabled") == "false")
    assert(ms.conf.get("spark.sql.shuffle.partitions") == "4")
    withConfs("spark.sql.shuffle.partitions" -> "7") {
      assert(graft.Sessions.meta(spark).conf
        .get("spark.sql.shuffle.partitions") == "4")
      assert(spark.conf.get("spark.sql.shuffle.partitions") == "7")
    }
    assert(!spark.conf.getAll.get("spark.sql.adaptive.enabled")
      .contains("false"))
  }

  test("metadata session carries the data session's runtime conf: " +
    "timestamp zones and lookups under a non-UTC zone set at runtime") {
    SparkSession.setActiveSession(spark)
    withConfs("spark.sql.session.timeZone" -> "America/Los_Angeles") {
      val path = tmpDir()
      // 01:30 Pacific, half an hour before the DST switch
      val t0 = java.sql.Timestamp.from(
        java.time.Instant.parse("2024-03-10T09:30:00Z"))
      val evs = (0 until 40).map { i =>
        (new java.sql.Timestamp(t0.getTime + i * 1800L * 1000L),
          if (i < 20) "2024-03-10" else "2024-03-11", i.toDouble)
      }.toDF("k", "date", "value")
      onData("mergeWriteManifested") {
        TableManifest.mergeWriteManifested(spark, path, evs, keys = Seq("k"))
      }
      onData("replacePartitions") {
        TableManifest.replacePartitions(spark, path,
          Seq((new java.sql.Timestamp(t0.getTime - 3600L * 1000L),
            "2024-03-09", -1.0)).toDF("k", "date", "value"), "k", "date",
          replaceParts = Nil)
      }
      // the zones as the DATA session renders the key
      val expected = onData("readViaManifest") {
        TableManifest.readViaManifest(spark, path)
      }.groupBy(col("date").cast("string").as("part"))
        .agg(min(col("k")).cast("string").as("lo"),
          max(col("k")).cast("string").as("hi"))
        .as[(String, String, String)].collect().toSet
      val zones = onData("load") {
        TableManifest.load(spark, path).get
          .select("part", "key_lo", "key_hi")
          .as[(String, String, String)].collect().toSet
      }
      assert(zones == expected)
      assert(zones.contains(("2024-03-09", "2024-03-10 00:30:00",
        "2024-03-10 00:30:00")),
        s"zones must render in the runtime zone, got $zones")

      val lo = new java.sql.Timestamp(t0.getTime + 3 * 1800L * 1000L)
      val hi = new java.sql.Timestamp(t0.getTime + 24 * 1800L * 1000L)
      val (hit, rep) = onData("lookup") {
        TableManifest.lookup(spark, path, "k", lo, hi)
      }
      val want = spark.read.parquet(path)
        .filter(col("k").between(lit(lo), lit(hi)))
        .select("k", "value").as[(java.sql.Timestamp, Double)]
        .collect().toSet
      assert(hit.select("k", "value").as[(java.sql.Timestamp, Double)]
        .collect().toSet == want)
      assert(want.size == 22 && rep.filesKept < rep.filesTotal)

      val parts = onData("readPartitions") {
        TableManifest.readPartitions(spark, path, Seq("2024-03-11"))
      }
      assert(parts.count() == 20)
      val v = TableManifest.versions(spark, path)
      onData("diffVersions") {
        TableManifest.diffVersions(spark, path, v.head, v.last).collect()
      }
      onData("readVersion") {
        TableManifest.readVersion(spark, path, v.head).count()
      }
      onData("compactManifested") {
        TableManifest.compactManifested(spark, path, "k")
      }
      onData("exportSymlinkManifest") {
        TableManifest.exportSymlinkManifest(spark, path, tmpDir())
      }
      onData("vacuum")(TableManifest.vacuum(spark, path, keepVersions = 1))
    }
  }

  test("a data query on another thread never sees metadata sizing while " +
    "vacuum, compactManifested and exportSymlinkManifest run") {
    // ...nor the data-scale sizing of an incremental merge, a micro
    // curateBatch, bucketedJoin or a NANOS events read: each runs on a
    // session derived from `spark`, never by changing `spark`'s conf
    val nanosKey = "spark.sql.legacy.parquet.nanosAsLong"
    val broadcastKey = "spark.sql.autoBroadcastJoinThreshold"
    val broadcast = spark.conf.get(broadcastKey)
    val sfDir = "/root/testdata/sf0.001"
    val nanosDir = graft.NanosProbeSpec.nanosEventsDir()
    val base = java.nio.file.Files.createTempDirectory("graft-metabkt")
      .toString
    graft.sources.Bucketing.writeBucketed(
      (0L until 200L).map(i => (i, i % 5)).toDF("k", "lv"), "meta_bkt_l",
      Seq("k"), 4, Seq("k"), path = Some(s"$base/l"))
    graft.sources.Bucketing.writeBucketed(
      (0L until 100L).map(i => (i * 2, i)).toDF("rk", "rv"), "meta_bkt_r",
      Seq("rk"), 4, Seq("rk"), path = Some(s"$base/r"))
    val cur = tmpDir()
    graft.streaming.StreamCuration.publishQuantizedEmbeddings(spark, cur,
      s"$sfDir/embeddings.parquet")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    withConfs("spark.sql.shuffle.partitions" -> "7") {
      val path = tmpDir()
      def day(d: String, ids: Range) =
        ids.map(i => (i.toLong, d, i.toDouble)).toDF("id", "date", "value")
      TableManifest.mergeWriteManifested(spark, path,
        day("2024-01-01", 0 until 50).unionByName(day("2024-01-02", 50 until 90)),
        keys = Seq("id"))
      val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
      @volatile var done = false
      @volatile var failure: Option[Throwable] = None
      val meta = new Thread(() => try {
        (0 until 3).foreach { r =>
          TableManifest.replacePartitions(spark, path,
            day("2024-01-01", (1000 + r * 10) until (1005 + r * 10)), "id",
            "date", replaceParts = Nil)
          TableManifest.compactManifested(spark, path, "id")
          TableManifest.exportSymlinkManifest(spark, path, tmpDir())
          TableManifest.vacuum(spark, path, keepVersions = 1)
          val rep = TableManifest.mergeWriteManifested(spark, path,
            day("2024-01-02", (60 + r) until (65 + r)), keys = Seq("id"))
          assert(rep.broadcastKeys, "an incremental-sized merge")
          graft.streaming.StreamCuration.curateBatch(spark,
            docs.filter(col("doc_id") % 3 === r), cur, minQuality = 0.3,
            rates = Map("en" -> 0.8), defaultRate = 0.5,
            publish = r == 2, epoch = r.toLong)
          graft.sources.Bucketing.bucketedJoin(spark, "meta_bkt_l",
            "meta_bkt_r", "k", "rk")(_.groupBy("lv").count()).collect()
          graft.queries.ReferenceCatalog.events(spark, nanosDir).collect()
        }
      } catch { case t: Throwable => failure = Some(t) }
      finally done = true)
      meta.start()
      var samples = 0L
      while (!done) {
        seen.add(spark.conf.get("spark.sql.adaptive.enabled") + "/" +
          spark.conf.get("spark.sql.shuffle.partitions") + "/" +
          spark.conf.get(broadcastKey) + "/" +
          spark.conf.getAll.getOrElse(nanosKey, "unset"))
        samples += 1
      }
      meta.join()
      spark.sql("DROP TABLE IF EXISTS meta_bkt_l")
      spark.sql("DROP TABLE IF EXISTS meta_bkt_r")
      failure.foreach(throw _)
      assert(samples > 0)
      assert(seen.asScala == Set(s"true/7/$broadcast/unset"),
        s"data session conf changed under metadata work: $seen")
      assert(TableManifest.readViaManifest(spark, path).count() == 105L)
      assert(graft.streaming.StreamCuration.readCurated(spark, cur)
        .count() > 0)
    }
  }

  test("a derived session's pins never show in its parent's conf; a " +
    "session derived from a derived one keeps both sets of pins") {
    val aqe = "spark.sql.adaptive.enabled"
    val parts = "spark.sql.shuffle.partitions"
    withConfs(parts -> "7") {
      val before = spark.conf.getAll
      val d1 = graft.Sessions.derived(spark, graft.Sessions.AqeOff)
      val d2 = graft.Sessions.derived(d1,
        graft.Sessions.shufflePartitions(3))
      assert(graft.Sessions.derived(spark, graft.Sessions.AqeOff) eq d1,
        "created once and reused")
      assert(graft.Sessions.derived(spark, Map.empty) eq spark)
      assert(d1.conf.get(aqe) == "false" && d1.conf.get(parts) == "7")
      assert(d2.conf.get(aqe) == "false" && d2.conf.get(parts) == "3")
      d2.range(10).groupBy(col("id") % 2).count().collect()
      assert(spark.conf.getAll == before,
        "deriving and running on derived sessions changed the parent")
      assert(d1.conf.get(parts) == "7", "d2's pin reached d1")
    }
    // the parent's later runtime changes reach its derived sessions on
    // their next derivation, the pins never
    withConfs(parts -> "5", aqe -> "true") {
      val d2 = graft.Sessions.derived(
        graft.Sessions.derived(spark, graft.Sessions.AqeOff),
        graft.Sessions.shufflePartitions(3))
      assert(d2.conf.get(aqe) == "false" && d2.conf.get(parts) == "3")
      assert(graft.Sessions.derived(spark, graft.Sessions.AqeOff)
        .conf.get(parts) == "5")
    }
  }

  test("deriving a derived session under pins it already holds returns " +
    "it as it is") {
    val serving = graft.Sessions.derived(spark, graft.Sessions.Serving)
    assert(serving ne spark)
    assert(graft.Sessions.derived(serving, graft.Sessions.Serving) eq serving)
    assert(graft.Sessions.derived(serving, graft.Sessions.AqeOff) eq serving,
      "a subset of its pins")
    val meta = graft.Sessions.meta(spark)
    assert(graft.Sessions.derived(meta, graft.Sessions.Serving) ne meta,
      "the same key under another value derives a new session")
  }
}
