package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.Files

class MergeUpsertSpec extends SparkSpec {
  import spark.implicits._

  private def tbl(rows: (String, String, Int)*) =
    rows.toSeq.toDF("date", "region_id", "total_beds")

  test("S7 merge: updates replace same-key rows, new keys appended") {
    val existing = tbl(("2024-01-15", "CA", 100), ("2024-01-15", "TX", 200))
    val updates = tbl(("2024-01-15", "CA", 111), ("2024-01-15", "NY", 300))
    val merged = MergeUpsert.merge(existing, updates, Seq("date", "region_id"))
      .orderBy("region_id").as[(String, String, Int)].collect()
    assert(merged.toSeq == Seq(
      ("2024-01-15", "CA", 111), ("2024-01-15", "NY", 300), ("2024-01-15", "TX", 200)))
  }

  test("S7 idempotence: merge(merge(T,B),B) == merge(T,B)") {
    val t = tbl(("2024-01-15", "CA", 100), ("2024-01-16", "CA", 101))
    val b = tbl(("2024-01-15", "CA", 999), ("2024-01-15", "WA", 1))
    val once = MergeUpsert.merge(t, b, Seq("date", "region_id"))
    val twice = MergeUpsert.merge(once, b, Seq("date", "region_id"))
    assert(once.exceptAll(twice).isEmpty && twice.exceptAll(once).isEmpty)
  }

  test("S7 in-batch duplicates collapse by priority") {
    val t = tbl()
    val b = Seq(("2024-01-15", "CA", 1, 1L), ("2024-01-15", "CA", 2, 2L))
      .toDF("date", "region_id", "total_beds", "pri")
    val m = MergeUpsert.merge(
      t.withColumn("pri", lit(0L)), b, Seq("date", "region_id"), Some("pri"))
    assert(m.select("total_beds").as[Int].collect().toSeq == Seq(2))
  }

  test("S7 mergeWritePlain: versioned publish survives a crashed writer") {
    val dir = Files.createTempDirectory("graft-plain").toString + "/t"
    MergeUpsert.mergeWritePlain(spark, dir,
      tbl(("2024-01-15", "CA", 100)), Seq("date", "region_id"))
    assert(MergeUpsert.readPlain(spark, dir)
      .select("total_beds").as[Int].collect().toSeq == Seq(100))

    // a writer that finished its version-dir write but DIED before the
    // pointer flip: the orphan version must be invisible to readers
    tbl(("2024-01-15", "CA", 999)).write.parquet(s"$dir/v-0000000099")
    assert(MergeUpsert.readPlain(spark, dir)
      .select("total_beds").as[Int].collect().toSeq == Seq(100),
      "readers must stay on the pointed version, not a crashed writer's orphan")

    // the next successful merge supersedes the orphan and collects it,
    // but RETAINS the immediately superseded version (an in-flight
    // reader may still be scanning it — one merge cycle of grace)
    MergeUpsert.mergeWritePlain(spark, dir,
      tbl(("2024-01-15", "CA", 123)), Seq("date", "region_id"))
    assert(MergeUpsert.readPlain(spark, dir)
      .select("total_beds").as[Int].collect().toSeq == Seq(123))
    assert(!new java.io.File(s"$dir/v-0000000099").exists(),
      "orphaned version dirs are garbage-collected post-publish")
    def versions = new java.io.File(dir).listFiles().map(_.getName)
      .filter(_.startsWith("v-")).sorted.toSeq
    assert(versions == Seq("v-0000000001", "v-0000000100"),
      "current + immediately superseded versions remain")
    // the retained version dies on the NEXT merge
    MergeUpsert.mergeWritePlain(spark, dir,
      tbl(("2024-01-15", "CA", 124)), Seq("date", "region_id"))
    assert(versions == Seq("v-0000000100", "v-0000000101"))
  }

  test("S7 mergeWritePlain: retainVersions widens the reader window") {
    val dir = Files.createTempDirectory("graft-retain").toString + "/t"
    def versions = new java.io.File(dir).listFiles().map(_.getName)
      .filter(_.startsWith("v-")).sorted.toSeq
    for (i <- 1 to 4)
      MergeUpsert.mergeWritePlain(spark, dir,
        tbl(("2024-01-15", "CA", i)), Seq("date", "region_id"),
        retainVersions = 3)
    assert(versions ==
      Seq("v-0000000002", "v-0000000003", "v-0000000004"),
      "the newest retainVersions published versions survive GC")
    assert(MergeUpsert.readPlain(spark, dir)
      .select("total_beds").as[Int].collect().toSeq == Seq(4))
    intercept[IllegalArgumentException] {
      MergeUpsert.mergeWritePlain(spark, dir,
        tbl(("2024-01-15", "CA", 9)), Seq("date", "region_id"),
        retainVersions = 1)
    }
  }

  test("S7 mergeWritePlain: reader window survives committers that " +
    "write no _SUCCESS markers") {
    val dir = Files.createTempDirectory("graft-nosucc").toString + "/t"
    MergeUpsert.mergeWritePlain(spark, dir,
      tbl(("2024-01-15", "CA", 1)), Seq("date", "region_id"))
    // simulate mapreduce.fileoutputcommitter.marksuccessfuljobs=false
    // (standard on object-store committers): no version carries a marker
    new java.io.File(s"$dir/v-0000000001/_SUCCESS").delete()
    MergeUpsert.mergeWritePlain(spark, dir,
      tbl(("2024-01-15", "CA", 2)), Seq("date", "region_id"))
    val versions = new java.io.File(dir).listFiles().map(_.getName)
      .filter(_.startsWith("v-")).sorted.toSeq
    assert(versions == Seq("v-0000000001", "v-0000000002"),
      "the superseded live version must be retained for in-flight " +
        "readers even without a _SUCCESS marker (orphan detection is " +
        "numeric, not marker-based)")
    assert(MergeUpsert.readPlain(spark, dir)
      .select("total_beds").as[Int].collect().toSeq == Seq(2))
  }

  test("S7 mergeWritePlain: lost pointer + no _SUCCESS markers recovers " +
    "to the newest version instead of wiping the table") {
    val dir = Files.createTempDirectory("graft-lostptr").toString + "/t"
    MergeUpsert.mergeWritePlain(spark, dir,
      tbl(("2024-01-15", "CA", 1)), Seq("date", "region_id"))
    MergeUpsert.mergeWritePlain(spark, dir,
      tbl(("2024-01-15", "CA", 2)), Seq("date", "region_id"))
    // object-store config (marksuccessfuljobs=false) + a lost pointer:
    // no _SUCCESS anywhere, but our own _GRAFT_COMMITTED markers stand
    new java.io.File(dir).listFiles().filter(_.getName.startsWith("v-"))
      .foreach(v => new java.io.File(v, "_SUCCESS").delete())
    new java.io.File(s"$dir/_CURRENT").delete()
    assert(MergeUpsert.readPlain(spark, dir)
      .select("total_beds").as[Int].collect().toSeq == Seq(2),
      "recovery keys on the engine-written commit marker, not the " +
        "committer's _SUCCESS")
    // an UNMARKED newer dir (half-copied object-store rename) must not
    // be adopted
    tbl(("2024-01-15", "CA", 7)).write.mode("overwrite")
      .parquet(s"$dir/v-0000000007")
    new java.io.File(s"$dir/v-0000000007/_SUCCESS").delete() // unmarked
    assert(MergeUpsert.currentPlainVersion(spark, dir)
      .contains("v-0000000002"),
      "newest COMMITTED version wins: unmarked v7 is a dead writer's " +
        "half-copied dir")
    new java.io.File(s"$dir/v-0000000007").listFiles()
      .foreach(_.delete())
    new java.io.File(s"$dir/v-0000000007").delete()
    // the next merge must build on the recovered base, not an empty one
    MergeUpsert.mergeWritePlain(spark, dir,
      tbl(("2024-01-15", "TX", 9)), Seq("date", "region_id"))
    val got = MergeUpsert.readPlain(spark, dir)
      .orderBy("region_id").select("total_beds").as[Int].collect().toSeq
    assert(got == Seq(2, 9),
      "prior rows survive pointer loss (no silent table wipe)")
  }

  test("S7 publishPlain: whole-table replace can SHRINK the row set, " +
    "atomically versioned") {
    val dir = Files.createTempDirectory("graft-pub").toString + "/t"
    MergeUpsert.publishPlain(spark, dir,
      tbl(("2024-01-15", "CA", 1), ("2024-01-15", "TX", 2)))
    assert(MergeUpsert.readPlain(spark, dir).count() == 2)
    // a keyed upsert could never delete TX; publish replaces outright
    MergeUpsert.publishPlain(spark, dir, tbl(("2024-01-15", "CA", 3)))
    val got = MergeUpsert.readPlain(spark, dir)
      .select("region_id", "total_beds").as[(String, Int)].collect().toSeq
    assert(got == Seq(("CA", 3)), "superseded rows are gone")
    assert(MergeUpsert.currentPlainVersion(spark, dir)
      .contains("v-0000000002"))
  }

  test("S7 mergeWrite rewrites only touched date partitions") {
    val dir = Files.createTempDirectory("graft-merge").toString + "/fact"
    val init = tbl(("2024-01-15", "CA", 100), ("2024-01-16", "CA", 200))
    TableManifest.mergeWriteManifested(spark, dir, init,
      Seq("date", "region_id"))
    val filesBefore = new java.io.File(s"$dir/date=2024-01-16").listFiles().toSet
    // second merge touches only 2024-01-15
    TableManifest.mergeWriteManifested(spark, dir,
      tbl(("2024-01-15", "CA", 150)), Seq("date", "region_id"))
    val filesAfter = new java.io.File(s"$dir/date=2024-01-16").listFiles().toSet
    assert(filesBefore == filesAfter, "untouched partition must not be rewritten")
    val got = TableManifest.readViaManifest(spark, dir)
      .orderBy("date").select("total_beds").as[Int].collect()
    assert(got.toSeq == Seq(150, 200))
  }

  test("mergeWrite gates broadcast on key estimate, not partition count") {
    val dir = Files.createTempDirectory("graft-mergegate").toString + "/fact"
    def rows(tag: String, n: Long, dates: Int) = spark.range(n).select(
      date_add(lit("2024-01-01").cast("date"),
        (col("id") % dates).cast("int")).as("date"),
      concat(lit(tag), col("id")).as("region_id"),
      lit(1).as("total_beds"))
    def mergeRows(tag: String, n: Long, dates: Int) =
      TableManifest.mergeWriteManifested(spark, dir, rows(tag, n, dates),
        Seq("date", "region_id"))
    val create = mergeRows("c", 100, 4)
    assert(create == TableManifest.MergeWriteReport(0, 0L, false),
      "create path plans no join")
    // small batch, few keys -> broadcast
    val small = mergeRows("s", 50, 2)
    assert(small.touchedPartitions == 2 && small.broadcastKeys,
      s"small batch should broadcast: $small")
    // few-but-HUGE: 2 touched dates, keys past the 500k broadcast
    // threshold -> shuffle (a partition-count gate would broadcast here)
    val fewHuge = mergeRows("h", 700000, 2)
    assert(fewHuge.touchedPartitions == 2 && !fewHuge.broadcastKeys,
      s"few-but-huge batch must shuffle: $fewHuge")
    // the estimate is approximate (HLL) but must be in the right range
    assert(fewHuge.keyEstimate > 600000L && fewHuge.keyEstimate < 800000L,
      s"key estimate off: $fewHuge")
    // correctness unaffected by the join strategy (tags disjoint ->
    // every batch row inserts)
    assert(TableManifest.readViaManifest(spark, dir).count() ==
      100L + 50L + 700000L)
  }

  test("additive merge sums per key; store bootstrap sums in-batch dups") {
    val store = java.nio.file.Files
      .createTempDirectory("graft-addm").toString + "/counts"
    // bootstrap: in-batch duplicate keys must SUM, not collapse
    MergeUpsert.mergeAdditiveWritePlain(spark, store,
      Seq(("a", 2L), ("b", 1L), ("a", 3L)).toDF("term", "freq"),
      Seq("term"), Seq("freq"))
    MergeUpsert.mergeAdditiveWritePlain(spark, store,
      Seq(("a", 1L), ("c", 7L)).toDF("term", "freq"),
      Seq("term"), Seq("freq"))
    val got = MergeUpsert.readPlain(spark, store)
      .orderBy("term").as[(String, Long)].collect().toSeq
    assert(got == Seq(("a", 6L), ("b", 1L), ("c", 7L)))
  }

  test("deleteWhere removes matching rows atomically, no-ops on no match") {
    val store = java.nio.file.Files
      .createTempDirectory("graft-del").toString + "/t"
    MergeUpsert.mergeWritePlain(spark, store,
      Seq((1L, "en"), (2L, "de"), (3L, "en")).toDF("id", "lang"), Seq("id"))
    val v1 = MergeUpsert.currentPlainVersion(spark, store)
    assert(MergeUpsert.deleteWhere(spark, store, col("lang") === "de") == 1L)
    assert(MergeUpsert.readPlain(spark, store)
      .orderBy("id").as[(Long, String)].collect().toSeq ==
      Seq((1L, "en"), (3L, "en")))
    assert(MergeUpsert.currentPlainVersion(spark, store) != v1)
    val v2 = MergeUpsert.currentPlainVersion(spark, store)
    // no match -> zero removed, no version churn
    assert(MergeUpsert.deleteWhere(spark, store, col("lang") === "zz") == 0L)
    assert(MergeUpsert.currentPlainVersion(spark, store) == v2)
  }

  test("deleteWhere keeps NULL-condition rows (they are not matches)") {
    val store = java.nio.file.Files
      .createTempDirectory("graft-delnull").toString + "/t"
    MergeUpsert.mergeWritePlain(spark, store,
      Seq((1L, Some("en")), (2L, Some("de")), (3L, Option.empty[String]))
        .toDF("id", "lang"), Seq("id"))
    assert(MergeUpsert.deleteWhere(spark, store, col("lang") === "de") == 1L)
    // the null-lang row must survive: the predicate is NULL there, and
    // a bare !condition would silently drop it uncounted
    assert(MergeUpsert.readPlain(spark, store).select("id")
      .as[Long].collect().toSet == Set(1L, 3L))
  }

  test("additive merge refuses to narrow a wider store's schema") {
    val store = java.nio.file.Files
      .createTempDirectory("graft-addnarrow").toString + "/t"
    MergeUpsert.mergeWritePlain(spark, store,
      Seq(("a", 1L, "keepme")).toDF("term", "freq", "extra"), Seq("term"))
    val e = intercept[IllegalArgumentException] {
      MergeUpsert.mergeAdditiveWritePlain(spark, store,
        Seq(("a", 2L)).toDF("term", "freq"), Seq("term"), Seq("freq"))
    }
    assert(e.getMessage.contains("narrow"))
    // store untouched
    assert(MergeUpsert.readPlain(spark, store).columns.toSet ==
      Set("term", "freq", "extra"))
  }

  test("time travel + version diff: insert/update/delete detected, " +
    "null-discriminating row hash") {
    val store = java.nio.file.Files
      .createTempDirectory("graft-diff").toString + "/t"
    MergeUpsert.mergeWritePlain(spark, store,
      Seq((1L, Some("a"), Some("")), (2L, Some("b"), Some("x")),
        (3L, Some("c"), Some("y"))).toDF("id", "u", "v"), Seq("id"),
      retainVersions = 3)
    val v1 = MergeUpsert.currentPlainVersion(spark, store).get
    // 1 unchanged; 2 updated ("" vs null swap — a concat hash would
    // alias these); 3 deleted via deleteWhere; 4 inserted
    MergeUpsert.mergeWritePlain(spark, store,
      Seq((2L, Some(""), Option.empty[String]),
        (4L, Some("d"), Some("z"))).toDF("id", "u", "v"), Seq("id"),
      retainVersions = 3)
    MergeUpsert.deleteWhere(spark, store, col("id") === 3L,
      retainVersions = 3)
    val v3 = MergeUpsert.currentPlainVersion(spark, store).get
    assert(MergeUpsert.retainedVersions(spark, store).size == 3)
    // time travel: v1 still readable and intact
    assert(MergeUpsert.readPlainVersion(spark, store, v1).count() == 3)
    val diff = MergeUpsert.diffVersions(spark, store, v1, v3, Seq("id"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(diff == Map(2L -> "update", 3L -> "delete", 4L -> "insert"))
  }

  test("schema evolution: a batch with a new column widens the table") {
    val existing = Seq((1L, "x")).toDF("id", "v")
    val batch = Seq((2L, "y", 0.9)).toDF("id", "v", "score")
    val evolved = MergeUpsert.merge(existing, batch, Seq("id"),
      evolveSchema = true)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))
    assert(evolved.toSeq == Seq((1L, "x", None), (2L, "y", Some(0.9))))
    // a batch MISSING a column backfills null for its rows
    val narrow = MergeUpsert.merge(
      Seq((1L, "x", 0.5)).toDF("id", "v", "score"),
      Seq((2L, "y")).toDF("id", "v"), Seq("id"), evolveSchema = true)
      .orderBy("id").collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))
    assert(narrow.toSeq == Seq((1L, Some(0.5)), (2L, None)))
    // and WITHOUT evolveSchema the extra column is dropped (strict
    // projection onto the existing schema)
    val strict = MergeUpsert.merge(existing, batch, Seq("id"))
    assert(strict.columns.toSeq == Seq("id", "v"))
  }

  test("concurrent publish: a moved pointer is detected and refused, " +
    "never silently clobbered") {
    val dir = Files.createTempDirectory("graft-concur").toString + "/t"
    val keys = Seq("date", "region_id")
    MergeUpsert.mergeWritePlain(spark, dir,
      tbl(("2024-01-15", "CA", 100)), keys)

    // writer B resolves its base at v1 and computes its merge...
    val curB = MergeUpsert.currentPlainVersion(spark, dir)
    val baseB = spark.read.parquet(s"$dir/${curB.get}")
    val mergedB = MergeUpsert.merge(baseB,
      tbl(("2024-01-15", "TX", 200)), keys)

    // ...while writer A publishes first
    MergeUpsert.mergeWritePlain(spark, dir,
      tbl(("2024-01-15", "CA", 111)), keys)
    val afterA = MergeUpsert.currentPlainVersion(spark, dir).get

    // B's flip must refuse: its merge never saw A's row
    intercept[java.util.ConcurrentModificationException] {
      MergeUpsert.publishVersion(spark, dir, mergedB, 2, curB)
    }

    // the x202-style invariant: the table is EXACTLY A's publish —
    // byte-identical to a world where B never ran
    assert(MergeUpsert.currentPlainVersion(spark, dir).contains(afterA),
      "the live pointer must still be A's version")
    val rows = MergeUpsert.readPlain(spark, dir)
      .orderBy("region_id").as[(String, String, Int)].collect().toSeq
    assert(rows == Seq(("2024-01-15", "CA", 111)),
      s"B's stale merge must not be visible: $rows")
    // B's refused version dir is deleted, not left as an adoptable orphan
    // (v-%010d names compare numerically as strings)
    assert(MergeUpsert.retainedVersions(spark, dir).forall(_ <= afterA),
      "no version dir newer than A's publish may remain")

    // B re-runs against the fresh base — the documented recovery — and
    // both writers' rows land
    MergeUpsert.mergeWritePlain(spark, dir,
      tbl(("2024-01-15", "TX", 200)), keys)
    val retried = MergeUpsert.readPlain(spark, dir)
      .orderBy("region_id").as[(String, String, Int)].collect().toSeq
    assert(retried == Seq(("2024-01-15", "CA", 111),
      ("2024-01-15", "TX", 200)))
  }

  test("concurrent publish guard: an unmoved pointer still publishes " +
    "(no false positive), including the fresh-table first publish") {
    val dir = Files.createTempDirectory("graft-concur2").toString + "/t"
    val keys = Seq("date", "region_id")
    // fresh table: cur = None, and the guard must not trip on its own
    // freshly marked dir winning the lost-pointer fallback
    MergeUpsert.mergeWritePlain(spark, dir, tbl(("2024-01-15", "CA", 1)), keys)
    // steady state: pointer present and unmoved
    MergeUpsert.mergeWritePlain(spark, dir, tbl(("2024-01-15", "CA", 2)), keys)
    assert(MergeUpsert.readPlain(spark, dir)
      .select("total_beds").as[Int].collect().toSeq == Seq(2))
  }

  test("deleteWhere pins its publish to the version it read: another " +
    "writer's publish in between is refused, not overwritten") {
    val dir = Files.createTempDirectory("graft-delpin").toString + "/t"
    val other = Files.createTempDirectory("graft-delpin").toString + "/o"
    MergeUpsert.publishPlain(spark, dir,
      tbl(("2024-01-15", "CA", 1), ("2024-01-15", "TX", 2)))
    MergeUpsert.publishPlain(spark, other, tbl(("2024-01-15", "NY", 7)))
    // the second writer publishes `other`'s rows as the store's next
    // version while deleteWhere counts its matches — after its read,
    // before its flip
    MergeUpsertSpec.hook.set(() => MergeUpsertSpec.publishCopy(
      s"$other/v-0000000001", dir, "v-0000000002"))
    val fire = udf { (_: String) =>
      Option(MergeUpsertSpec.hook.getAndSet(null)).foreach(_())
      true
    }.asNondeterministic()
    intercept[java.util.ConcurrentModificationException] {
      MergeUpsert.deleteWhere(spark, dir,
        fire(col("region_id")) && col("region_id") === "TX")
    }
    assert(MergeUpsertSpec.hook.get == null, "the second writer ran")
    assert(MergeUpsert.currentPlainVersion(spark, dir)
      .contains("v-0000000002"))
    assert(MergeUpsert.readPlain(spark, dir)
      .select("region_id", "total_beds").as[(String, Int)].collect().toSeq
      == Seq(("NY", 7)), "the second writer's publish stands")
  }
}

object MergeUpsertSpec {
  /** Run once by the first task that reaches it (tasks share the
    * driver's JVM under `local[4]`). */
  val hook = new java.util.concurrent.atomic.AtomicReference[() => Unit]()

  /** Another writer's publish made with the filesystem alone, so it
    * can run inside a task: copy version dir `from` into store `to`
    * as version `name`, then flip `to`'s `_CURRENT` to it. */
  def publishCopy(from: String, to: String, name: String): Unit = {
    val dst = java.nio.file.Paths.get(to, name)
    Files.createDirectories(dst)
    Files.list(java.nio.file.Paths.get(from)).forEach(f =>
      Files.copy(f, dst.resolve(f.getFileName)))
    // the old pointer's checksum sidecar would fail the new contents
    Files.deleteIfExists(java.nio.file.Paths.get(to, "._CURRENT.crc"))
    val tmp = java.nio.file.Paths.get(to, "_CURRENT.tmp")
    Files.write(tmp, name.getBytes("UTF-8"))
    Files.move(tmp, java.nio.file.Paths.get(to, "_CURRENT"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }
}
