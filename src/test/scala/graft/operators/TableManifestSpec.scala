package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

class TableManifestSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("graft-manifest").toString + "/t"

  private def rows(d: String, ids: Seq[Long], v: Double) =
    ids.map(i => (i, d, v)).toDF("id", "date", "value")

  test("manifest covers exactly the table's files; readViaManifest " +
    "matches the plain read") {
    val path = tmpDir()
    TableManifest.mergeWriteManifested(spark, path,
      rows("2024-01-01", 1L to 50L, 1.0)
        .unionByName(rows("2024-01-02", 51L to 90L, 1.0))
        .unionByName(rows("2024-01-03", 91L to 99L, 1.0)),
      keys = Seq("id"))
    val m = TableManifest.load(spark, path).get.collect()
    assert(m.map(_.getAs[String]("part")).toSet ==
      Set("2024-01-01", "2024-01-02", "2024-01-03"))
    assert(m.map(_.getAs[Long]("rows")).sum == 99L)
    val plain = spark.read.parquet(path)
      .select("id", "value", "date").collect().toSet
    val viaM = TableManifest.readViaManifest(spark, path)
      .select("id", "value", "date").collect().toSet
    assert(viaM == plain)
  }

  test("incremental merge refreshes ONLY touched partitions' rows; " +
    "untouched file entries carry over") {
    val path = tmpDir()
    TableManifest.mergeWriteManifested(spark, path,
      rows("2024-01-01", 1L to 50L, 1.0)
        .unionByName(rows("2024-01-02", 51L to 90L, 1.0)),
      keys = Seq("id"))
    val before = TableManifest.load(spark, path).get.collect()
      .map(r => r.getString(1) -> r.getString(0)).toMap
    // batch touches only 2024-01-02 (10 updated values + 5 new keys)
    TableManifest.mergeWriteManifested(spark, path,
      rows("2024-01-02", 81L to 95L, 2.0), keys = Seq("id"))
    val after = TableManifest.load(spark, path).get.collect()
    val afterMap = after.map(r => r.getString(1) -> r.getString(0)).toMap
    assert(afterMap("2024-01-01") == before("2024-01-01"),
      "untouched partition's file entry must carry over unchanged")
    assert(afterMap("2024-01-02") != before("2024-01-02"),
      "touched partition must point at the rewritten file")
    assert(after.map(_.getAs[Long]("rows")).sum == 95L)
    // merged values visible through the manifest read
    val got = TableManifest.readViaManifest(spark, path)
      .filter(col("id") === 85L).select("value").head().getDouble(0)
    assert(got == 2.0)
  }

  test("merge batch landing entirely in a BRAND-NEW partition: the " +
    "manifest resolver's no-files branch, entry added, old carried over") {
    val path = tmpDir()
    TableManifest.mergeWriteManifested(spark, path,
      rows("2024-01-01", 1L to 50L, 1.0), keys = Seq("id"))
    val before = TableManifest.load(spark, path).get.collect()
      .map(r => r.getString(1) -> r.getString(0)).toMap
    // second merge touches ONLY a partition the manifest has never
    // seen — the existing-rows resolver must plan an empty frame (not
    // throw, not list the table root) and the refresh must add it
    TableManifest.mergeWriteManifested(spark, path,
      rows("2024-02-01", 101L to 120L, 3.0), keys = Seq("id"))
    val after = TableManifest.load(spark, path).get.collect()
    val afterMap = after.map(r => r.getString(1) -> r.getString(0)).toMap
    assert(afterMap.keySet == Set("2024-01-01", "2024-02-01"))
    assert(afterMap("2024-01-01") == before("2024-01-01"),
      "old partition's file entry must be untouched by a disjoint merge")
    assert(after.map(_.getAs[Long]("rows")).sum == 70L)
    val got = TableManifest.readViaManifest(spark, path)
      .groupBy("date").count().as[(String, Long)].collect().toMap
    assert(got == Map("2024-01-01" -> 50L, "2024-02-01" -> 20L))
  }

  test("a partitioned dir with no manifest is refused by the merge, " +
    "never half-adopted; update adopts it") {
    val path = tmpDir()
    val dates = Seq("2024-01-01", "2024-01-02", "2024-01-03")
    rows(dates(0), 1L to 10L, 1.0)
      .unionByName(rows(dates(1), 11L to 20L, 1.0))
      .unionByName(rows(dates(2), 21L to 30L, 1.0))
      .write.partitionBy("date").parquet(path)
    def fileSet() = {
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(path))
      try walk.toArray.map(_.toString).toSet finally walk.close()
    }
    val filesBefore = fileSet()
    val batch = rows(dates(1), 15L to 20L, 2.0)
    // every publisher but update refuses the dir and writes nothing
    Seq[(String, () => Any)](
      "merge" -> (() =>
        TableManifest.mergeWriteManifested(spark, path, batch, keys = Seq("id"))),
      "append" -> (() =>
        TableManifest.replacePartitions(spark, path, batch, keyCol = "id",
          partitionCol = "date", replaceParts = Nil)),
      "replace" -> (() =>
        TableManifest.replacePartitions(spark, path, batch, keyCol = "id",
          partitionCol = "date", replaceParts = Seq(dates(1)))),
      "compact" -> (() =>
        TableManifest.compactManifested(spark, path, keyCol = "id"))
    ).foreach { case (name, publish) =>
      val e = intercept[IllegalStateException](publish())
      assert(e.getMessage.contains("update"), s"$name: ${e.getMessage}")
      assert(fileSet() == filesBefore, s"a refused $name must write nothing")
    }
    // adopted by update, the same merge keeps every partition
    TableManifest.update(spark, path, "date", dates, "id")
    TableManifest.mergeWriteManifested(spark, path, batch, keys = Seq("id"))
    val got = TableManifest.readViaManifest(spark, path)
      .select(col("id"), col("date").cast("string"), col("value"))
      .as[(Long, String, Double)].collect().sorted.toSeq
    val want = ((1L to 10L).map(i => (i, dates(0), 1.0)) ++
      (11L to 14L).map(i => (i, dates(1), 1.0)) ++
      (15L to 20L).map(i => (i, dates(1), 2.0)) ++
      (21L to 30L).map(i => (i, dates(2), 1.0)))
    assert(got == want)
  }

  test("diffVersions: added/removed/rewritten/carried per partition " +
    "from retained manifest metadata alone") {
    val path = tmpDir()
    TableManifest.mergeWriteManifested(spark, path,
      rows("2024-01-01", 1L to 20L, 1.0)
        .unionByName(rows("2024-01-02", 21L to 40L, 1.0)),
      keys = Seq("id"))
    val v1 = TableManifest.versions(spark, path).last
    // merge: new keys into 2024-01-02 (rewritten) + a brand-new
    // partition (added); 2024-01-01 untouched (carried)
    TableManifest.mergeWriteManifested(spark, path,
      rows("2024-01-02", 41L to 45L, 2.0)
        .unionByName(rows("2024-01-03", 91L to 93L, 3.0)),
      keys = Seq("id"))
    val v2 = TableManifest.versions(spark, path).last
    val d = TableManifest.diffVersions(spark, path, v1, v2).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getString(5)))).toMap
    assert(d("2024-01-01") == ((1L, 1L, 20L, 20L, "carried")))
    assert(d("2024-01-02") == ((1L, 1L, 20L, 25L, "rewritten")))
    assert(d("2024-01-03") == ((0L, 1L, 0L, 3L, "added")))
    // reversed diff reports the new partition as removed
    val rev = TableManifest.diffVersions(spark, path, v2, v1).collect()
      .map(r => r.getString(0) -> r.getString(5)).toMap
    assert(rev("2024-01-03") == "removed")
  }

  test("compactManifested: over-threshold partitions collapse to one " +
    "file, exactly their manifest rows refresh, values unchanged") {
    val path = tmpDir()
    // bootstrap via the merge path (1 file per partition)…
    TableManifest.mergeWriteManifested(spark, path,
      rows("2024-01-01", 1L to 20L, 1.0)
        .unionByName(rows("2024-01-02", 21L to 40L, 1.0)),
      keys = Seq("id"))
    // …then an external task-parallel APPEND fragments 2024-01-02
    // (4 extra small files) and the manifest is refreshed to track it
    rows("2024-01-02", 41L to 60L, 2.0).repartition(4)
      .write.mode("append").partitionBy("date").parquet(path)
    spark.catalog.refreshByPath(path)
    TableManifest.update(spark, path, "date", Seq("2024-01-02"), "id")
    val before = TableManifest.load(spark, path).get.collect()
    val beforeByPart = before.groupBy(_.getString(1))
    assert(beforeByPart("2024-01-02").length == 5)
    val keepEntry = beforeByPart("2024-01-01").head.getString(0)

    val rep = TableManifest.compactManifested(spark, path, keyCol = "id")
    assert(rep.partsCompacted == 1 && rep.filesBefore == 6 &&
      rep.filesAfter == 2, s"unexpected $rep")
    val after = TableManifest.load(spark, path).get.collect()
    val afterByPart = after.groupBy(_.getString(1))
    assert(afterByPart("2024-01-02").length == 1,
      "compacted partition must hold ONE file")
    assert(afterByPart("2024-01-01").head.getString(0) == keepEntry,
      "under-threshold partition's manifest row must carry over")
    // zone stats re-derived over the union of the compacted files
    val z = afterByPart("2024-01-02").head
    assert(z.getAs[Long]("rows") == 40L &&
      z.getAs[String]("key_lo") == "21" && z.getAs[String]("key_hi") == "60")
    // values intact through the manifest read; the dir still holds the
    // copy-on-write fragments until vacuum reclaims them
    assert(TableManifest.readViaManifest(spark, path).count() == 60L)
    assert(spark.read.parquet(path).count() > 60L,
      "copy-on-write compaction must leave the superseded fragments " +
        "on disk for retained-version readers")
    val got = TableManifest.readViaManifest(spark, path)
      .filter(col("id") === 50L).select("value").head().getDouble(0)
    assert(got == 2.0)
    // idempotent: nothing left over threshold
    val rep2 = TableManifest.compactManifested(spark, path, keyCol = "id")
    assert(rep2.partsCompacted == 0 && rep2.filesAfter == 2)
    // vacuum to the live version alone: the dir becomes exactly the
    // table again (plain read agrees), content unchanged
    val vac = TableManifest.vacuum(spark, path, keepVersions = 1)
    assert(vac.filesDeleted >= 4, s"fragments must be reclaimed: $vac")
    assert(spark.read.parquet(path).count() == 60L)
    assert(TableManifest.readViaManifest(spark, path).count() == 60L)
  }

  test("vacuum reclaims exactly the files no retained manifest version " +
    "references; retained versions stay readable; re-run deletes nothing") {
    val path = tmpDir()
    TableManifest.mergeWriteManifested(spark, path,
      rows("2024-01-01", 1L to 20L, 1.0)
        .unionByName(rows("2024-01-02", 21L to 40L, 1.0)),
      keys = Seq("id"))
    val v1 = TableManifest.versions(spark, path).last
    val snap1 = TableManifest.readViaManifest(spark, path)
      .select("id", "value", "date").collect().map(_.toSeq).toSet
    // rewrite 2024-01-02 (copy-on-write: its old file stays on disk)
    TableManifest.mergeWriteManifested(spark, path,
      rows("2024-01-02", 31L to 45L, 2.0), keys = Seq("id"))
    val v2 = TableManifest.versions(spark, path).last
    val snap2 = TableManifest.readViaManifest(spark, path)
      .select("id", "value", "date").collect().map(_.toSeq).toSet
    // time travel: v1 reads the PRE-merge table, v2 the post-merge one
    assert(TableManifest.readVersion(spark, path, v1)
      .select("id", "value", "date").collect().map(_.toSeq).toSet == snap1)
    assert(TableManifest.readVersion(spark, path, v2)
      .select("id", "value", "date").collect().map(_.toSeq).toSet == snap2)
    // both versions retained → every on-disk file is referenced →
    // vacuum deletes NOTHING (the retention contract protects v1)
    val vac0 = TableManifest.vacuum(spark, path, keepVersions = 2)
    assert(vac0.filesDeleted == 0 && vac0.versionsDropped == 0,
      s"files referenced by retained versions must survive: $vac0")
    assert(TableManifest.readVersion(spark, path, v1)
      .select("id", "value", "date").collect().map(_.toSeq).toSet == snap1)
    // third merge: the publish GC drops v1 from retention; v1's
    // exclusive file (2024-01-02's original) becomes dead
    TableManifest.mergeWriteManifested(spark, path,
      rows("2024-01-02", 41L to 50L, 3.0), keys = Seq("id"))
    val v3 = TableManifest.versions(spark, path).last
    val snap3 = TableManifest.readViaManifest(spark, path)
      .select("id", "value", "date").collect().map(_.toSeq).toSet
    val vac1 = TableManifest.vacuum(spark, path, keepVersions = 2)
    assert(vac1.filesDeleted == 1, s"exactly v1's exclusive file: $vac1")
    // retained versions read byte-identically AFTER the vacuum
    assert(TableManifest.readVersion(spark, path, v2)
      .select("id", "value", "date").collect().map(_.toSeq).toSet == snap2)
    assert(TableManifest.readVersion(spark, path, v3)
      .select("id", "value", "date").collect().map(_.toSeq).toSet == snap3)
    // idempotent
    val vac2 = TableManifest.vacuum(spark, path, keepVersions = 2)
    assert(vac2.filesDeleted == 0, s"re-run must delete nothing: $vac2")
    // keepVersions = 1: maximal reclaim, live table untouched, plain
    // dir == live file set again
    val vac3 = TableManifest.vacuum(spark, path, keepVersions = 1)
    assert(vac3.versionsDropped == 1 && vac3.filesDeleted == 1)
    assert(TableManifest.readViaManifest(spark, path)
      .select("id", "value", "date").collect().map(_.toSeq).toSet == snap3)
    assert(spark.read.parquet(path)
      .select("id", "value", "date").collect().map(_.toSeq).toSet == snap3)
  }

  test("vacuum + readVersion round-trip partition values needing " +
    "URI/path escaping") {
    val path = tmpDir()
    val parts = Seq("a b", "x:y", "p%q", "c+d")
    val df = parts.zipWithIndex.flatMap { case (p, i) =>
      (1L to 10L).map(k => (i * 100L + k, p, 1.0))
    }.toDF("id", "date", "value")
    TableManifest.mergeWriteManifested(spark, path, df, keys = Seq("id"))
    val v1 = TableManifest.versions(spark, path).last
    TableManifest.mergeWriteManifested(spark, path,
      Seq((105L, "x:y", 9.0), (301L, "c+d", 9.0))
        .toDF("id", "date", "value"), keys = Seq("id"))
    // the canon() identity must match manifest strings to disk files
    // for every escaped name: nothing live may be deleted, and the two
    // superseded files must be found once v1 ages out
    val vac0 = TableManifest.vacuum(spark, path, keepVersions = 2)
    assert(vac0.filesDeleted == 0, s"all files retained: $vac0")
    assert(TableManifest.readVersion(spark, path, v1).count() == 40L)
    val vac1 = TableManifest.vacuum(spark, path, keepVersions = 1)
    assert(vac1.filesDeleted == 2, s"two rewritten partitions: $vac1")
    assert(TableManifest.readViaManifest(spark, path).count() == 40L)
    assert(spark.read.parquet(path).count() == 40L)
    assert(TableManifest.readViaManifest(spark, path)
      .filter(col("id") === 105L).select("value").head().getDouble(0)
      == 9.0)
  }

  test("appendManifested registers exactly the appended files; " +
    "existing rows — including superseded-on-disk partitions — carry " +
    "over; no resurrection") {
    val path = tmpDir()
    TableManifest.mergeWriteManifested(spark, path,
      rows("2024-01-01", 1L to 20L, 1.0), keys = Seq("id"))
    // rewrite once so the partition dir holds a SUPERSEDED file — the
    // state where update()'s dir rescan would resurrect it
    TableManifest.mergeWriteManifested(spark, path,
      rows("2024-01-01", 11L to 25L, 2.0), keys = Seq("id"))
    assert(TableManifest.readViaManifest(spark, path).count() == 25L)
    // out-of-band arrival into the SAME partition + a new one
    TableManifest.replacePartitions(spark, path,
      rows("2024-01-01", 101L to 105L, 5.0)
        .unionByName(rows("2024-01-02", 201L to 203L, 5.0))
        .repartition(col("date")),
      keyCol = "id", partitionCol = "date", replaceParts = Nil)
    val got = TableManifest.readViaManifest(spark, path)
    assert(got.count() == 33L,
      "append must add its rows without resurrecting the superseded file")
    assert(got.filter(col("id") === 15L).select("value").head()
      .getDouble(0) == 2.0)
    val m = TableManifest.load(spark, path).get.collect()
    assert(m.count(_.getString(1) == "2024-01-01") == 2 &&
      m.count(_.getString(1) == "2024-01-02") == 1,
      "one manifest row per appended file plus the carried merge file")
  }

  test("compactManifested honors a zoneKey distinct from the sort key " +
    "(the capacity-table shape: sort (date,id), zones on group)") {
    val path = tmpDir()
    val df = (1L to 40L).map(i =>
        (i, s"g${i % 4}", "2024-01-01", i.toDouble))
      .toDF("id", "g", "date", "value")
    TableManifest.mergeWriteManifested(spark, path, df,
      keys = Seq("id"), zoneKey = Some("g"))
    TableManifest.replacePartitions(spark, path,
      (41L to 48L).map(i => (i, s"g${i % 4}", "2024-01-01", i.toDouble))
        .toDF("id", "g", "date", "value").repartition(4), keyCol = "g",
      partitionCol = "date", replaceParts = Nil)
    val rep = TableManifest.compactManifested(spark, path,
      keyCol = "id", zoneKey = Some("g"))
    assert(rep.partsCompacted == 1 && rep.filesAfter == 1, s"got $rep")
    // the refreshed row's zones must be g-ranges, not id-ranges —
    // mixed-key zones would cast to null in lookup and silently prune
    val z = TableManifest.load(spark, path).get.collect().head
    assert(z.getAs[String]("key_lo") == "g0" &&
      z.getAs[String]("key_hi") == "g3", s"zone must stay on g: $z")
    val (hit, lrep) = TableManifest.lookup(spark, path, "g", "g2", "g2")
    assert(lrep.filesKept == 1 && hit.count() == 12L)
  }

  test("partition values needing URI/path escaping (space, ':', '%', " +
    "'+') survive build, carry-over, and re-read") {
    val path = tmpDir()
    // ':' and '%' are Hive-escaped in the dir name; ' ' and '+' stay
    // literal on disk but are %-encoded in input_file_name()'s URI
    // form — together they cover both failure classes the manifest
    // must round-trip
    val parts = Seq("a b", "x:y", "p%q", "c+d")
    val df = parts.zipWithIndex.flatMap { case (p, i) =>
      (1L to 10L).map(k => (i * 100L + k, p, 1.0))
    }.toDF("id", "date", "value")
    TableManifest.mergeWriteManifested(spark, path, df, keys = Seq("id"))
    val m = TableManifest.load(spark, path).get.collect()
    assert(m.map(_.getAs[String]("part")).toSet == parts.toSet,
      "manifest part values must be the DECODED partition values")
    // every manifest file path must re-read: decoded paths address the
    // literal on-disk names
    val viaM = TableManifest.readViaManifest(spark, path)
    assert(viaM.count() == 40L)
    assert(viaM.select("date").distinct().as[String].collect().toSet ==
      parts.toSet)
    // incremental merge touching ONE escaped partition: statsFor must
    // address the escaped dir, untouched escaped entries carry over
    val before = m.map(r => r.getString(1) -> r.getString(0)).toMap
    TableManifest.mergeWriteManifested(spark, path,
      Seq((105L, "x:y", 9.0), (999L, "x:y", 9.0))
        .toDF("id", "date", "value"), keys = Seq("id"))
    val after = TableManifest.load(spark, path).get.collect()
      .map(r => r.getString(1) -> r.getString(0)).toMap
    assert(after("a b") == before("a b") && after("p%q") == before("p%q"),
      "untouched escaped partitions' entries must carry over")
    assert(after("x:y") != before("x:y"))
    val got = TableManifest.readViaManifest(spark, path)
      .filter(col("id") === 105L).select("value").head().getDouble(0)
    assert(got == 9.0)
    assert(TableManifest.readViaManifest(spark, path).count() == 41L)
    // zone lookup still plans from the manifest over escaped dirs
    val (hit, rep) = TableManifest.lookup(spark, path, "id", 999L, 999L)
    assert(rep.filesKept >= 1 && hit.count() == 1L)
    // symlink export over the SAME escaped partitions: the text sink
    // re-escapes its own dir names, but the exported LINES are the
    // manifest's decoded-on-disk file paths — the through-export read
    // must land on every escaped partition's files
    val sym = tmpDir() + "-sym"
    val n = TableManifest.exportSymlinkManifest(spark, path, sym)
    val live = TableManifest.load(spark, path).get
      .select("file").collect().map(_.getString(0)).toSet
    assert(n == live.size)
    val viaSym = TableManifest.readViaSymlinkManifest(spark, path, sym)
    assert(viaSym.count() == 41L)
    assert(viaSym.select("date").distinct().as[String].collect().toSet ==
      parts.toSet)
  }

  test("lookup prunes by partition and key zone, equals the naive " +
    "filter, reports evidence") {
    val path = tmpDir()
    TableManifest.mergeWriteManifested(spark, path,
      rows("2024-01-01", 1L to 50L, 1.0)
        .unionByName(rows("2024-01-02", 51L to 90L, 1.0))
        .unionByName(rows("2024-01-03", 91L to 99L, 1.0)),
      keys = Seq("id"))
    val (df, rep) = TableManifest.lookup(spark, path, "id", 60L, 70L)
    assert(rep.filesTotal == 3 && rep.filesKept == 1,
      s"zone pruning must keep 1 of 3 files, got $rep")
    val naive = spark.read.parquet(path)
      .filter(col("id").between(60L, 70L)).select("id").as[Long]
      .collect().sorted
    assert(df.select("id").as[Long].collect().sorted.sameElements(naive))
    // partition filter composes
    val (df2, rep2) = TableManifest.lookup(spark, path, "id", 1L, 99L,
      partVal = Some("2024-01-03"))
    assert(rep2.filesKept == 1 && df2.count() == 9L)
    // disjoint range: zero files, empty result, schema intact
    val (df3, rep3) = TableManifest.lookup(spark, path, "id", 500L, 600L)
    assert(rep3.filesKept == 0 && df3.count() == 0L)
    assert(df3.columns.contains("value"))
  }

  test("schema evolution via appendManifested: mergeSchema read " +
    "reconciles generations, pre-evolution rows read null") {
    val path = tmpDir()
    TableManifest.mergeWriteManifested(spark, path,
      rows("2024-01-01", 1L to 50L, 1.0), keys = Seq("id"))
    // the widened generation: same layout + a new column, fresh keys
    val widened = (101L to 120L).map(i => (i, "2024-01-01", 2.0, i * 10L))
      .toDF("id", "date", "value", "score")
    TableManifest.replacePartitions(spark, path, widened, keyCol = "id",
      partitionCol = "date", replaceParts = Nil)
    val t = TableManifest.readViaManifest(spark, path, mergeSchema = true)
    assert(t.columns.contains("score"))
    val byId = t.select("id", "score").collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(byId(1L).isEmpty, "pre-evolution rows read null in the new column")
    assert(byId(110L).contains(1100L))
    assert(t.count() == 70L)
    // the manifest itself is schema-agnostic: zones/rows still cover
    // both generations, and the default (non-merged) read still works
    assert(TableManifest.load(spark, path).get
      .agg(sum("rows")).head.getLong(0) == 70L)
    assert(TableManifest.readViaManifest(spark, path).count() == 70L)
  }

  test("symlink export lists exactly the LIVE snapshot after a " +
    "rewriting merge; the through-export read equals the manifest " +
    "read; re-export overwrites") {
    val path = tmpDir()
    TableManifest.mergeWriteManifested(spark, path,
      rows("2024-01-01", 1L to 50L, 1.0)
        .unionByName(rows("2024-01-02", 51L to 90L, 1.0)),
      keys = Seq("id"))
    // rewrite 01-01: superseded generation files stay ON DISK for
    // retained-version readers — the export must NOT list them
    TableManifest.mergeWriteManifested(spark, path,
      rows("2024-01-01", 1L to 50L, 2.0), keys = Seq("id"))
    val sym = tmpDir() + "-sym"
    val n = TableManifest.exportSymlinkManifest(spark, path, sym)
    val live = TableManifest.load(spark, path).get
      .select("file").collect().map(_.getString(0)).toSet
    val listed = spark.read.textFile(s"$sym/*")
      .collect().map(_.trim).filter(_.nonEmpty).toSet
    assert(n == live.size && listed == live,
      "export = the live manifest's file set, nothing superseded")
    val onDisk = new java.io.File(path).listFiles()
      .filter(_.getName.startsWith("date=")).flatMap(_.listFiles())
      .count(_.getName.endsWith(".parquet"))
    assert(onDisk > live.size,
      "fixture sanity: superseded files are still on disk to mislist")
    val viaSym = TableManifest.readViaSymlinkManifest(spark, path, sym)
      .select("id", "value", "date").collect().toSet
    val viaM = TableManifest.readViaManifest(spark, path)
      .select("id", "value", "date").collect().toSet
    assert(viaSym == viaM)
    assert(viaSym.count(_.getDouble(1) == 2.0) == 50,
      "the export sees the rewrite, not the superseded generation")
    // re-export after another merge: overwrite, still exactly live
    TableManifest.mergeWriteManifested(spark, path,
      rows("2024-01-02", 51L to 90L, 3.0), keys = Seq("id"))
    TableManifest.exportSymlinkManifest(spark, path, sym)
    val listed2 = spark.read.textFile(s"$sym/*")
      .collect().map(_.trim).filter(_.nonEmpty).toSet
    val live2 = TableManifest.load(spark, path).get
      .select("file").collect().map(_.getString(0)).toSet
    assert(listed2 == live2)
  }

  test("two manifested writers interleaving: the second manifest flip " +
    "is refused, the (table, manifest) pair stays exactly the first " +
    "writer's, vacuum reclaims the loser's orphans, and a retry " +
    "converges") {
    val path = tmpDir()
    TableManifest.mergeWriteManifested(spark, path,
      rows("2024-01-01", 1L to 50L, 1.0), keys = Seq("id"))
    def world() = TableManifest.readViaManifest(spark, path)
      .select("id", "value").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).sorted.toSeq
    // writer B starts its merge; writer A completes a FULL manifested
    // merge inside B's data-append→manifest-flip window (the seam)
    intercept[java.util.ConcurrentModificationException] {
      TableManifest.mergeWriteManifested(spark, path,
        rows("2024-01-01", 1L to 10L, 2.0), keys = Seq("id"),
        beforeManifestPublish = () =>
          TableManifest.mergeWriteManifested(spark, path,
            rows("2024-01-01", 40L to 50L, 3.0), keys = Seq("id")))
    }
    // x202 byte-identity invariant: the pair is EXACTLY writer A's
    // publish — B's rows invisible, every referenced file on disk
    val expectA = ((1L to 39L).map(_ -> 1.0) ++
      (40L to 50L).map(_ -> 3.0)).sorted
    assert(world() == expectA, "B's refused merge must not be visible")
    val live = TableManifest.load(spark, path).get
      .select("file").collect().map(_.getString(0))
    live.foreach(f => assert(new java.io.File(
      new java.net.URI(f).getPath).exists(), s"dangling manifest ref $f"))
    // B's appended generation is an unreferenced orphan on disk...
    val dirFiles = new java.io.File(s"$path/date=2024-01-01")
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(dirFiles > live.length, "B's orphaned files should be on disk")
    // ...and vacuum reclaims it without touching A's world
    TableManifest.vacuum(spark, path, keepVersions = 1)
    val dirAfter = new java.io.File(s"$path/date=2024-01-01")
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(dirAfter == TableManifest.load(spark, path).get.count(),
      "post-vacuum the dir holds exactly the live file set")
    assert(world() == expectA, "vacuum must not change the table")
    // the documented recovery: B re-runs against the fresh base
    TableManifest.mergeWriteManifested(spark, path,
      rows("2024-01-01", 1L to 10L, 2.0), keys = Seq("id"))
    val expectRetry = ((1L to 10L).map(_ -> 2.0) ++
      (11L to 39L).map(_ -> 1.0) ++ (40L to 50L).map(_ -> 3.0)).sorted
    assert(world() == expectRetry)
  }

  test("scoped symlink re-export rewrites ONLY the requested " +
    "partitions' dirs; a requested partition with no live files has " +
    "its export dir removed") {
    val path = tmpDir()
    TableManifest.mergeWriteManifested(spark, path,
      rows("2024-01-01", 1L to 30L, 1.0)
        .unionByName(rows("2024-01-02", 31L to 60L, 1.0))
        .unionByName(rows("2024-01-03", 61L to 90L, 1.0)),
      keys = Seq("id"))
    val sym = tmpDir() + "-sym"
    TableManifest.exportSymlinkManifest(spark, path, sym)
    def exportFiles(part: String): Set[String] = {
      val d = new java.io.File(s"$sym/date=$part")
      if (!d.exists()) Set.empty
      else d.listFiles().map(_.getName)
        .filter(n => !n.startsWith("_") && !n.startsWith(".")).toSet
    }
    val before01 = exportFiles("2024-01-01")
    val before02 = exportFiles("2024-01-02")
    val vOld = TableManifest.versions(spark, path).last
    // merge touches only 01-02; refresh re-exports only the diff
    TableManifest.mergeWriteManifested(spark, path,
      rows("2024-01-02", 31L to 60L, 2.0), keys = Seq("id"))
    val vNew = TableManifest.versions(spark, path).last
    val n = TableManifest.refreshSymlinkExport(spark, path, sym,
      vOld, vNew)
    assert(n > 0, "the touched partition must re-export")
    assert(exportFiles("2024-01-01") == before01,
      "untouched partitions' export files must stay byte-identical " +
        "(same physical files, not a rewrite)")
    assert(exportFiles("2024-01-02") != before02,
      "the touched partition's export dir must be rewritten")
    // the refreshed export still lists exactly the live snapshot
    val live = TableManifest.load(spark, path).get
      .select("file").collect().map(_.getString(0)).toSet
    assert(TableManifest.symlinkListedPaths(spark, sym).toSet == live)
    val viaSym = TableManifest.readViaSymlinkManifest(spark, path, sym)
      .select("id", "value").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toSet
    assert(viaSym.count(_._2 == 2.0) == 30)
    // a partition dropped from the manifest: its export dir is DELETED
    // on a scoped re-export naming it (dangling lists are how external
    // engines read ghosts)
    val m = TableManifest.load(spark, path).get
    MergeUpsert.publishPlain(spark, s"$path/_manifest",
      m.filter(col("part") =!= "2024-01-03"))
    TableManifest.exportSymlinkManifest(spark, path, sym,
      parts = Some(Seq("2024-01-03")))
    assert(exportFiles("2024-01-03").isEmpty &&
      !new java.io.File(s"$sym/date=2024-01-03").exists(),
      "removed partition's export dir must be deleted")
    assert(TableManifest.symlinkListedPaths(spark, sym).toSet ==
      TableManifest.load(spark, path).get
        .select("file").collect().map(_.getString(0)).toSet)
  }

  test("readVersionPartitions time-travels a partition subset with no " +
    "driver file list: equals readVersion filtered, across rewrites " +
    "and hostile partition values") {
    val path = tmpDir()
    // partition values with a space exercise the URI-decode/canon join
    val d1 = "2024 Q1"
    val d2 = "2024 Q2"
    TableManifest.mergeWriteManifested(spark, path,
      rows(d1, 1L to 40L, 1.0).unionByName(rows(d2, 41L to 80L, 1.0)),
      keys = Seq("id"))
    val v1 = TableManifest.versions(spark, path).last
    // rewrite d1 twice: the version-1 generation is now superseded but
    // still on disk (COW) — exactly what the semi join must pick out
    TableManifest.mergeWriteManifested(spark, path,
      rows(d1, 1L to 40L, 2.0), keys = Seq("id"))
    TableManifest.mergeWriteManifested(spark, path,
      rows(d1, 1L to 40L, 3.0), keys = Seq("id"))
    val vLive = TableManifest.versions(spark, path).last
    def collect(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "value").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).sorted.toSeq
    // note: v1 must still be retained — bump retention via merges'
    // default (2) means v1 may be GC'd after two more publishes; read
    // the OLDEST retained version instead to stay in-window
    val vOldest = TableManifest.versions(spark, path).head
    val viaList = collect(TableManifest.readVersion(spark, path, vOldest)
      .filter(col("date") === d1))
    val viaJoin = collect(TableManifest.readVersionPartitions(
      spark, path, vOldest, Seq(d1)))
    assert(viaJoin == viaList,
      "join-planned subset time travel must equal the file-list read")
    // the live version through the same path sees the final rewrite
    val liveD1 = collect(TableManifest.readVersionPartitions(
      spark, path, vLive, Seq(d1)))
    assert(liveD1 == (1L to 40L).map(_ -> 3.0).sorted.toSeq)
    // untouched partition, any version
    assert(collect(TableManifest.readVersionPartitions(
      spark, path, vLive, Seq(d2))) ==
      (41L to 80L).map(_ -> 1.0).sorted.toSeq)
    // a subset absent from the version yields empty with the schema
    val empty = TableManifest.readVersionPartitions(
      spark, path, vLive, Seq("2099 Q9"))
    assert(empty.count() == 0 &&
      empty.columns.toSet == Set("id", "value", "date"))
    assert(v1 != vLive)
  }

  test("readVersionAll: full-table semi-join time travel equals the " +
    "explicit-file-list readVersion on every retained version (r15 — " +
    "the form readVersion falls back to past its planning gate)") {
    val path = tmpDir()
    TableManifest.mergeWriteManifested(spark, path,
      rows("2024-01-01", 1L to 30L, 1.0)
        .unionByName(rows("2024 Q2", 31L to 60L, 1.0)),
      keys = Seq("id"))
    TableManifest.mergeWriteManifested(spark, path,
      rows("2024-01-01", 1L to 30L, 2.0), keys = Seq("id"))
    def collect(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "value", "date").collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
        .sorted.toSeq
    TableManifest.versions(spark, path).foreach { v =>
      assert(collect(TableManifest.readVersionAll(spark, path, v)) ==
        collect(TableManifest.readVersion(spark, path, v)),
        s"version $v: semi-join full read must equal the file-list read")
    }
  }

  test("readVersionAll derives the partition COLUMN from the manifest's " +
    "own paths (r15 advice: a non-'date' table read through readVersion's " +
    "large-table fallback with the defaulted column returned silent zero " +
    "rows); readVersionPartitions refuses loudly on a wrong partitionCol") {
    val path = tmpDir()
    // table partitioned by REGION, not date — the defaulted "date"
    // used to construct dirs that don't exist
    val df = (1L to 40L).map(i => (i, s"r${i % 4}", i * 1.0))
      .toDF("id", "region", "value")
    TableManifest.mergeWriteManifested(spark, path, df,
      keys = Seq("id"), partitionCol = "region")
    val v = TableManifest.versions(spark, path).last
    // the default-arg call must still read ALL rows — the column is
    // derived from the version's file paths, not trusted
    assert(TableManifest.readVersionAll(spark, path, v).count() == 40L,
      "readVersionAll with the defaulted partitionCol must derive " +
        "'region' from the manifest paths")
    assert(TableManifest.partitionColOf(
      s"$path/region=r1/part-0.parquet").contains("region"))
    assert(TableManifest.partitionColOf(s"$path/part-0.parquet").isEmpty)
    // an EXPLICITLY wrong column on the partition-subset read is a
    // loud protocol error naming the real column, never empty rows
    val e = intercept[IllegalStateException] {
      TableManifest.readVersionPartitions(spark, path, v,
        Seq("r1"), partitionCol = "date").count()
    }
    assert(e.getMessage.contains("region"),
      s"error must name the manifest-derived column: ${e.getMessage}")
  }

  test("vacuumPartitions reclaims ONLY the scoped partitions' dead " +
    "generations at a cost independent of the rest of the table; the " +
    "full vacuum afterwards finds exactly the out-of-scope leftovers") {
    val path = tmpDir()
    TableManifest.mergeWriteManifested(spark, path,
      rows("2024-01-01", 1L to 20L, 1.0)
        .unionByName(rows("2024-01-02", 21L to 40L, 1.0))
        .unionByName(rows("2024-01-03", 41L to 60L, 1.0)),
      keys = Seq("id"))
    // rewrite d1 and d2 enough times that their oldest generations
    // leave the retention window (retainVersions=2 keeps 2 manifests)
    (2 to 4).foreach { k =>
      TableManifest.mergeWriteManifested(spark, path,
        rows("2024-01-01", 1L to 20L, k.toDouble), keys = Seq("id"))
      TableManifest.mergeWriteManifested(spark, path,
        rows("2024-01-02", 21L to 40L, k.toDouble), keys = Seq("id"))
    }
    def filesIn(d: String): Set[String] = {
      val dir = new java.io.File(s"$path/date=$d")
      dir.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(_.getName).toSet
    }
    val d1Before = filesIn("2024-01-01")
    val d2Before = filesIn("2024-01-02")
    val d3Before = filesIn("2024-01-03")
    // scoped vacuum of d1 only: d1's dead generations go, d2's stay
    val r1 = TableManifest.vacuumPartitions(spark, path,
      Seq("2024-01-01"), keepVersions = 2)
    assert(r1.filesDeleted > 0, "d1 accumulated superseded generations")
    assert(filesIn("2024-01-01").size < d1Before.size)
    assert(filesIn("2024-01-02") == d2Before,
      "out-of-scope partitions untouched")
    assert(filesIn("2024-01-03") == d3Before)
    // scoped vacuum of the never-rewritten partition: zero dead
    val r3 = TableManifest.vacuumPartitions(spark, path,
      Seq("2024-01-03"), keepVersions = 2)
    assert(r3.filesDeleted == 0)
    // table reads unaffected, and the full sweep reclaims exactly
    // what the scope skipped (d2's dead generations)
    val live = TableManifest.readViaManifest(spark, path)
    assert(live.filter(col("date") === "2024-01-01")
      .agg(max("value")).head.getDouble(0) == 4.0)
    assert(live.count() == 60)
    val rFull = TableManifest.vacuum(spark, path, keepVersions = 2)
    assert(rFull.filesDeleted > 0 && filesIn("2024-01-02").size < d2Before.size)
    assert(TableManifest.readViaManifest(spark, path).count() == 60)
  }

  private def sortedRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.select("id", "value", "date").collect().map(_.toString).sorted.toSeq

  private def values(df: org.apache.spark.sql.DataFrame): Set[Double] =
    df.select("value").distinct().as[Double].collect().toSet

  test("planning memo: re-planning reads of an unchanged version runs " +
    "no Spark job and returns the same rows") {
    val path = tmpDir()
    TableManifest.mergeWriteManifested(spark, path,
      rows("2024-01-01", 1L to 50L, 1.0)
        .unionByName(rows("2024-01-02", 51L to 90L, 1.0)),
      keys = Seq("id"))
    def plans() = Seq(
      TableManifest.readPartitions(spark, path, Seq("2024-01-02")),
      TableManifest.readViaManifest(spark, path),
      TableManifest.readOrPlain(spark, path),
      TableManifest.lookup(spark, path, "id", 60L, 70L)._1,
      TableManifest.lookup(spark, path, "id", 500L, 600L)._1,
      TableManifest.readPartitionsWhere(spark, path, "date")(
        _ > "2024-01-01").get)
    TableManifest.clearPlanMemo()
    val (cold, coldJobs) = jobsOf(plans())
    assert(coldJobs > 0, "the first plans infer schemas and collect lists")
    val (warm, warmJobs) = jobsOf(plans())
    assert(warmJobs == 0L, s"re-planning ran $warmJobs jobs")
    assert(warm.map(sortedRows) == cold.map(sortedRows))
    val plain = spark.read.parquet(path)
    assert(sortedRows(warm(1)) == sortedRows(plain))
    assert(sortedRows(warm(0)) ==
      sortedRows(plain.filter(col("date") === "2024-01-02")))
    assert(warm(3).count() == 11L && warm(4).count() == 0L)
    assert(sortedRows(warm(5)) == sortedRows(warm(0)))
  }

  test("planning memo: a read on a derived session right after the same " +
    "read on its parent runs no Spark job") {
    val path = tmpDir()
    TableManifest.mergeWriteManifested(spark, path,
      rows("2024-01-01", 1L to 50L, 1.0)
        .unionByName(rows("2024-01-02", 51L to 90L, 1.0)),
      keys = Seq("id"))
    TableManifest.clearPlanMemo()
    val onParent = TableManifest.readViaManifest(spark, path)
    val ds = graft.Sessions.derived(spark,
      graft.Sessions.AqeOff ++ graft.Sessions.shufflePartitions(3))
    val (onDerived, jobs) = jobsOf(TableManifest.readViaManifest(ds, path))
    assert(jobs == 0L, s"the derived session's read planned afresh: $jobs jobs")
    assert(onDerived.sparkSession eq ds)
    assert(sortedRows(onDerived) == sortedRows(onParent))
  }

  test("planning memo: a read after a publish sees the new version; a " +
    "frame planned before it still reads the old one") {
    val path = tmpDir()
    TableManifest.mergeWriteManifested(spark, path,
      rows("2024-01-01", 1L to 20L, 1.0), keys = Seq("id"))
    assert(values(TableManifest.readPartitions(spark, path,
      Seq("2024-01-01"))) == Set(1.0))
    val early = TableManifest.readPartitions(spark, path, Seq("2024-01-01"))
    TableManifest.mergeWriteManifested(spark, path,
      rows("2024-01-01", 1L to 20L, 2.0), keys = Seq("id"))
    assert(values(TableManifest.readPartitions(spark, path,
      Seq("2024-01-01"))) == Set(2.0))
    assert(values(TableManifest.readOrPlain(spark, path)) == Set(2.0))
    assert(values(early) == Set(1.0) && early.count() == 20L)
  }

  test("planning memo: a version dir deleted and republished under the " +
    "same name is read with its new contents") {
    val path = tmpDir()
    TableManifest.mergeWriteManifested(spark, path,
      rows("2024-01-01", 1L to 20L, 1.0), keys = Seq("id"))
    val names = TableManifest.versions(spark, path)
    assert(TableManifest.readViaManifest(spark, path).count() == 20L)
    assert(TableManifest.readPartitions(spark, path, Seq("2024-01-01"))
      .count() == 20L)
    MergeUpsert.fsFor(spark, path)
      .delete(new org.apache.hadoop.fs.Path(path), true)
    TableManifest.mergeWriteManifested(spark, path,
      (1L to 5L).map(i => (i, "2024-01-01", 3.0, i * 10L))
        .toDF("id", "date", "value", "score"), keys = Seq("id"))
    assert(TableManifest.versions(spark, path) == names,
      "the republished manifest reuses the version name")
    val all = TableManifest.readViaManifest(spark, path)
    assert(all.columns.contains("score") && all.count() == 5L)
    val part = TableManifest.readPartitions(spark, path, Seq("2024-01-01"))
    assert(part.columns.contains("score") && values(part) == Set(3.0))
  }

  test("planning memo: an evolved-schema read with mergeSchema equals " +
    "the un-memoized read, and mergeSchema keys its own entry") {
    val path = tmpDir()
    TableManifest.mergeWriteManifested(spark, path,
      rows("2024-01-01", 1L to 50L, 1.0), keys = Seq("id"))
    // each generation carries a column the other lacks, so a plain
    // read (one footer) and a merged read never infer the same schema
    TableManifest.replacePartitions(spark, path,
      (101L to 120L).map(i => (i, "2024-01-01", i * 10L))
        .toDF("id", "date", "score"), keyCol = "id", partitionCol = "date",
      replaceParts = Nil)
    def fresh(mergeSchema: Boolean) = {
      TableManifest.clearPlanMemo()
      TableManifest.readViaManifest(spark, path, mergeSchema)
    }
    val truth = Seq(false, true).map(m => m -> fresh(m).schema).toMap
    assert(truth(true).fieldNames.toSet.subsetOf(Set("id", "value",
      "score", "date")) && truth(true).fieldNames.length == 4)
    assert(truth(false) != truth(true))
    for ((first, second) <- Seq(false -> true, true -> false)) {
      TableManifest.clearPlanMemo()
      TableManifest.readViaManifest(spark, path, first)
      val (again, jobs) =
        jobsOf(TableManifest.readViaManifest(spark, path, first))
      assert(jobs == 0L && again.schema == truth(first))
      assert(TableManifest.readViaManifest(spark, path, second).schema ==
        truth(second))
    }
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "value", "score").collect().map(_.toString).sorted.toSeq
    assert(sorted(TableManifest.readViaManifest(spark, path,
      mergeSchema = true)) ==
      sorted(spark.read.option("mergeSchema", "true").parquet(path)))
  }

  test("planning memo: a change to an inference conf is honoured") {
    val path = tmpDir()
    TableManifest.mergeWriteManifested(spark, path,
      rows("2024-01-01", 1L to 50L, 1.0), keys = Seq("id"))
    def read() = TableManifest.readPartitions(spark, path, Seq("2024-01-01"))
    assert(read().schema("date").dataType ==
      org.apache.spark.sql.types.DateType)
    withConfs(
      "spark.sql.sources.partitionColumnTypeInference.enabled" -> "false") {
      val untyped = read()
      assert(untyped.schema("date").dataType ==
        org.apache.spark.sql.types.StringType)
      assert(untyped.count() == 50L)
    }
    val (typed, warmJobs) = jobsOf(read())
    assert(warmJobs == 0L && typed.schema("date").dataType ==
      org.apache.spark.sql.types.DateType)
    withConfs("spark.sql.caseSensitive" -> "true") {
      val (sensitive, jobs) = jobsOf(read())
      assert(jobs > 0L, "a caseSensitive change must plan afresh")
      assert(sortedRows(sensitive) == sortedRows(typed))
    }
  }

  test("planning memo: a reader beside a publishing writer only ever " +
    "sees published versions") {
    val path = tmpDir()
    val ids = 1L to 20L
    def publish(v: Double): Unit = TableManifest.mergeWriteManifested(spark,
      path, rows("2024-01-01", ids, v), keys = Seq("id"),
      retainVersions = 20)
    publish(0.0)
    @volatile var writing = true
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Seq[(Long, Double)]]
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]
    val reader = new Thread(() =>
      try while (writing) seen.add(
        TableManifest.readPartitions(spark, path, Seq("2024-01-01"))
          .select("id", "value").as[(Long, Double)].collect().toSeq)
      catch { case t: Throwable => failure.set(t) })
    reader.start()
    try (1 to 4).foreach(i => publish(i.toDouble))
    finally { writing = false; reader.join() }
    assert(failure.get == null, s"reader failed: ${failure.get}")
    import scala.jdk.CollectionConverters._
    val reads = seen.asScala.toSeq
    assert(reads.nonEmpty)
    reads.foreach { r =>
      assert(r.map(_._1).sorted == ids, "every read holds the whole key set")
      assert(r.map(_._2).distinct.size == 1, s"a read mixed versions: $r")
    }
    val versionsSeen = reads.map(_.head._2)
    assert(versionsSeen.forall(v => v >= 0.0 && v <= 4.0))
    assert(versionsSeen == versionsSeen.sorted,
      "each read resolves the pointer: versions never go back")
    assert(values(TableManifest.readPartitions(spark, path,
      Seq("2024-01-01"))) == Set(4.0))
  }

  // ---- the key-bloom manifest columns against the two-pass assembly
  //      they replace: a stats scan, a broadcast of each file's bit
  //      count, a second scan exploding every key's positions, a
  //      per-word bit_or and a gap-filled dense array ----

  /** The dense bitmap from sorted sparse (widx, word) entries `ws`,
    * zero-filled between entries and padded to m/64 words. */
  private def denseWords(ws: Column, bloomM: Column): Column = {
    val prevWidx = concat(array(lit(-1L)),
      transform(slice(ws, lit(1), greatest(size(ws) - 1, lit(0))),
        e => e.getField("widx")))
    val filled = flatten(zip_with(ws, prevWidx, (e, p) =>
      concat(
        array_repeat(lit(0L), (e.getField("widx") - p - lit(1L)).cast("int")),
        array(e.getField("word")))))
    concat(filled, array_repeat(lit(0L),
      (shiftright(bloomM, 6) - size(filled)).cast("int")))
  }

  /** Per-file (bloom_m, key_bloom) of `hashed` (columns file, h) with
    * `sized` (file, bloom_m) — the explode / bit_or / gap-fill
    * assembly. */
  private def twoPassBlooms(hashed: DataFrame, sized: DataFrame): DataFrame =
    hashed.join(broadcast(sized), Seq("file"))
      .select(col("file"), col("bloom_m"),
        explode(array(BloomFilter.positionsDyn(col("h"), col("bloom_m"),
          TableManifest.BloomKeyK): _*)).as("pos"))
      .groupBy(col("file"), col("bloom_m"), shiftright(col("pos"), 6).as("widx"))
      .agg(bit_or(call_function("shiftleft", lit(1L),
        (col("pos") % 64).cast("int"))).as("word"))
      .groupBy("file", "bloom_m")
      .agg(array_sort(collect_list(struct(col("widx"), col("word")))).as("ws"))
      .select(col("file"), col("bloom_m"),
        denseWords(col("ws"), col("bloom_m")).as("key_bloom"))

  /** The manifest rows the two-pass statsForFiles computed for `files`
    * of the table at `path`. */
  private def twoPassStats(path: String, files: Seq[String],
                           partitionCol: String, keyCol: String,
                           bloomKeys: Seq[String]): DataFrame = {
    def read = spark.read.option("basePath", path).parquet(files: _*)
    val base = read
      .groupBy(TableManifest.decodeUri(input_file_name()).as("file"),
        col(partitionCol).cast("string").as("part"))
      .agg(count(lit(1)).as("rows"),
        min(col(keyCol)).cast("string").as("key_lo"),
        max(col(keyCol)).cast("string").as("key_hi"))
    val sized = base.select(col("file"),
      least(lit(TableManifest.BloomMaxBits),
        greatest(lit(TableManifest.BloomMinBits),
          shiftleft(shiftright(col("rows") * TableManifest.BloomBitsPerKey +
            63, 6), 6))).as("bloom_m"))
    val hashed = read.select(
      TableManifest.decodeUri(input_file_name()).as("file"),
      BloomFilter.keyHashCols(bloomKeys.map(col)).as("h"))
    base.join(twoPassBlooms(hashed, sized), Seq("file"), "left")
  }

  private type ManifestRow =
    (String, String, Long, String, String, Long, Seq[Long])

  private def manifestRows(df: DataFrame): Seq[ManifestRow] =
    df.select("file", "part", "rows", "key_lo", "key_hi", "bloom_m",
        "key_bloom").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getString(3), r.getString(4), r.getLong(5),
        r.getSeq[Long](6).toSeq))
      .sortBy(_._1).toSeq

  test("key blooms: the one-pass manifest rows equal the two-pass " +
    "assembly row for row — single and composite keys, a file at the " +
    "minimum bit count, a multi-file epoch") {
    val path = tmpDir()
    def publish(df: DataFrame, epoch: String, keys: Seq[String]): Unit =
      TableManifest.replacePartitions(spark, path,
        df.withColumn("ep", lit(epoch)), keys.head, "ep", Seq(epoch),
        bloomKeys = Some(keys))
    // composite-key store: (a, b) pairs; epoch 0 is 7 rows (bit count at
    // BloomMinBits), epoch 1 is 3000 rows over 3 files, epoch 2 has 64
    // rows (exactly the minimum: 64 x 32 = 2048 bits)
    val composite = Seq("a", "b")
    publish(Seq((1L, 2L), (1L, 3L), (2L, 5L), (9L, 9L), (4L, 1L), (7L, 7L),
      (8L, 0L)).toDF("a", "b").coalesce(1), "ep0", composite)
    publish(spark.range(3000).select(col("id").as("a"),
      (col("id") * 7 % 101).as("b")).repartition(3), "ep1", composite)
    publish(spark.range(64).select((col("id") + 5000).as("a"),
      lit(0L).as("b")).coalesce(1), "ep2", composite)
    val m = TableManifest.load(spark, path).get
    val files = m.select("file").as[String].collect().toSeq
    val got = manifestRows(m)
    assert(got.size == 5 && got.count(_._2 == "ep1") == 3)
    assert(got.filter(_._2 == "ep0").map(_._6) ==
      Seq(TableManifest.BloomMinBits))
    assert(got.filter(_._2 == "ep2").map(_._6) ==
      Seq(TableManifest.BloomMinBits))
    assert(got == manifestRows(twoPassStats(path, files, "ep", "a",
      composite)))
    // single string key
    val single = tmpDir()
    TableManifest.replacePartitions(spark, single,
      spark.range(1000).select(concat(lit("doc-"), col("id")).as("k"),
        lit("e").as("ep")).repartition(2),
      "k", "ep", Seq("e"), bloomKeys = Some(Seq("k")))
    val sm = TableManifest.load(spark, single).get
    assert(manifestRows(sm) == manifestRows(twoPassStats(single,
      sm.select("file").as[String].collect().toSeq, "ep", "k", Seq("k"))))
  }

  test("key blooms: past the capped bit count the aggregate folds into " +
    "its final bitmap and still equals the two-pass assembly, whatever " +
    "the partitioning") {
    // a 4096-bit cap reached at 128 rows, so files of 50 / 128 / 700
    // rows cover the uncapped, exactly-capped and capped states, over
    // 1, 3 and 7 input partitions (every buffer-merge combination)
    val (bpk, minBits, maxBits) = (32L, 2048L, 4096L)
    def bloomOf(h: Column) =
      BloomFilter.fileKeyBloom(h, TableManifest.BloomKeyK, bpk, minBits,
        maxBits)
    for (parts <- Seq(1, 3, 7)) {
      val hashed = Seq(50L, 128L, 700L).map { n =>
        spark.range(n).select(lit(s"f$n").as("file"),
          xxhash64(col("id") + n * 1000).bitwiseAND(lit(Long.MaxValue)).as("h"))
      }.reduce(_ unionByName _).repartition(parts).cache()
      val got = hashed.groupBy("file").agg(bloomOf(col("h")).as("key_bloom"))
        .select(col("file"), (size(col("key_bloom")).cast("long") * 64L)
          .as("bloom_m"), col("key_bloom"))
      val sized = hashed.groupBy("file").agg(count(lit(1)).as("rows"))
        .select(col("file"), least(lit(maxBits), greatest(lit(minBits),
          shiftleft(shiftright(col("rows") * bpk + 63, 6), 6))).as("bloom_m"))
      def rows(df: DataFrame) = df.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getSeq[Long](2).toSeq))
        .sortBy(_._1).toSeq
      val want = rows(twoPassBlooms(hashed, sized))
      assert(want.map(_._2) == Seq(4096L, 2048L, 4096L))
      assert(rows(got) == want, s"$parts partitions")
      hashed.unpersist()
    }
  }

  test("key blooms: filesMaybeContaining returns the two-pass probe's " +
    "set over fired and unfired keys, a null-bloom row included") {
    val path = tmpDir()
    (0 until 3).foreach { e =>
      TableManifest.replacePartitions(spark, path,
        spark.range(e * 100L, e * 100L + 80).select(col("id"),
          lit(s"ep$e").as("ep")).repartition(2),
        "id", "ep", Seq(s"ep$e"), bloomKeys = Some(Seq("id")))
    }
    // one more file registered with a null bloom (always-maybe)
    val live = TableManifest.load(spark, path).get
    val ms = live.sparkSession
    val extra = live.filter(col("part") === "ep2").limit(1)
      .withColumn("part", lit("ep9"))
      .withColumn("bloom_m", lit(null).cast("long"))
      .withColumn("key_bloom", lit(null).cast("array<bigint>"))
    MergeUpsert.publishPlainFrom(ms, s"$path/_manifest",
      live.unionByName(extra).coalesce(1), 2,
      MergeUpsert.currentPlainVersion(ms, s"$path/_manifest"))
    def twoPassProbe(probe: DataFrame): Set[(String, String)] = {
      val rows = TableManifest.load(spark, path).get
        .select("file", "part", "bloom_m", "key_bloom")
      val local = spark.createDataFrame(
        java.util.Arrays.asList(rows.collect(): _*), rows.schema).coalesce(1)
      probe.select(BloomFilter.keyHashCols(Seq(col("id"))).as("h_"))
        .distinct()
        .join(local.hint("shuffle_replicate_nl"),
          col("key_bloom").isNull ||
            BloomFilter.mightContainDyn(col("key_bloom"), col("h_"),
              col("bloom_m"), TableManifest.BloomKeyK))
        .select("file", "part").distinct().as[(String, String)]
        .collect().toSet
    }
    val probes = Seq(
      "fired" -> Seq(5L, 5L, 150L, 201L),
      "unfired" -> Seq(90L, 95L, 1000L, 12345L),
      "mixed" -> (Seq(10L, 10L, 99L, 170L) ++ (5000L until 5400L)),
      "empty" -> Seq.empty[Long])
    for ((name, keys) <- probes) {
      val probe = keys.toDF("id").repartition(3)
      val got = TableManifest.filesMaybeContaining(spark, path, probe,
        Seq("id"))
      assert(got.distinct.size == got.size, s"$name: duplicate pairs")
      assert(got.toSet == twoPassProbe(probe), name)
      if (keys.nonEmpty) assert(got.exists(_._2 == "ep9"),
        s"$name: the null-bloom file is always a maybe")
    }
    val fired = TableManifest.filesMaybeContaining(spark, path,
      Seq(5L, 150L).toDF("id"), Seq("id")).map(_._2).toSet
    assert(Set("ep0", "ep1", "ep9").subsetOf(fired) && !fired("ep2"))
  }

  test("a published version's first read plans from the schema its " +
    "publisher wrote: no job, equal to the inferred schema — manifests " +
    "with and without blooms, and a table of nested and typed columns") {
    def check(s: org.apache.spark.sql.SparkSession, store: String): Unit = {
      val dir = s"$store/${MergeUpsert.currentPlainVersion(s, store).get}"
      val (seeded, jobs) = jobsOf(TableManifest.readPublished(s, dir)._1.schema)
      assert(jobs == 0L, s"$dir: the first read planned $jobs jobs")
      assert(seeded == spark.read.parquet(dir).schema, dir)
    }
    val ms = graft.Sessions.meta(spark)
    val bloomed = tmpDir()
    TableManifest.clearPlanMemo()
    TableManifest.replacePartitions(spark, bloomed,
      spark.range(50).select(col("id"), lit("e0").as("ep")), "id", "ep",
      Seq("e0"), bloomKeys = Some(Seq("id")))
    check(ms, s"$bloomed/_manifest")
    val plain = tmpDir()
    TableManifest.clearPlanMemo()
    TableManifest.mergeWriteManifested(spark, plain,
      rows("2024-01-01", 1L to 20L, 1.0), keys = Seq("id"))
    check(ms, s"$plain/_manifest")
    val typed = tmpDir()
    val df = spark.range(3).select(col("id"),
      lit(java.sql.Date.valueOf("2024-01-02")).as("d"),
      lit(java.sql.Timestamp.valueOf("2024-01-02 03:04:05")).as("ts"),
      lit(java.time.LocalDateTime.of(2024, 1, 2, 3, 4)).as("ntz"),
      lit(BigDecimal("12.345")).cast("decimal(12,3)").as("dec"),
      array(col("id"), lit(7L)).as("arr"),
      map(lit("k"), col("id")).as("m"),
      struct(col("id").as("x"), array(struct(lit("s").as("y"))).as("ys"))
        .as("st"),
      lit(Array[Byte](1, 2)).as("bin"))
    TableManifest.clearPlanMemo()
    MergeUpsert.publishPlain(spark, typed, df)
    check(spark, typed)
    def shown(d: DataFrame) = d.drop("bin").collect().map(_.toString).sorted.toSeq
    assert(shown(MergeUpsert.readPlain(spark, typed)) == shown(df))
  }

  test("every publisher commits through one step: each manifest version " +
    "is one file, and a call that lands no file and drops nothing " +
    "publishes nothing and runs no probe job") {
    val path = tmpDir()
    // eight dates, so a manifest version's stats spread over several
    // of the metadata session's shuffle partitions
    val dates = (1 to 8).map(d => f"2024-01-$d%02d")
    def batch(ids: Seq[Long], v: Double) =
      ids.map(i => (i, dates((i % 8).toInt), v)).toDF("id", "date", "value")
    val empty = batch(Nil, 0.0)
    def live() = MergeUpsert.currentPlainVersion(spark, s"$path/_manifest")
    // (publisher, a publish, a no-op call, the jobs of the no-op's own
    // work); in order on one table: a merge creates it, update rescans
    // its untouched dirs, an append fragments every date, and the
    // compaction folds them
    val cases = Seq[(String, () => Any, () => Any, Long)](
      ("mergeWriteManifested",
        () => TableManifest.mergeWriteManifested(spark, path,
          batch(1L to 64L, 1.0), keys = Seq("id")),
        () => TableManifest.mergeWriteManifested(spark, path, empty,
          keys = Seq("id")),
        1L), // the batch's stats collect
      ("update",
        () => TableManifest.update(spark, path, "date", dates, "id"),
        () => TableManifest.update(spark, path, "date", Nil, "id"),
        0L),
      ("replacePartitions",
        () => TableManifest.replacePartitions(spark, path,
          batch(65L to 128L, 2.0).repartition(4), "id", "date",
          replaceParts = Nil),
        () => TableManifest.replacePartitions(spark, path, empty, "id",
          "date", replaceParts = Nil, landingParts = Some(dates)),
        1L), // the empty frame's write
      ("compactManifested",
        () => TableManifest.compactManifested(spark, path, "id"),
        () => TableManifest.compactManifested(spark, path, "id"),
        2L)) // the file count and the over-threshold collect
    cases.foreach { case (name, publish, noop, ownJobs) =>
      val before = live()
      publish()
      val v = live().get
      assert(!before.contains(v), s"$name published no version")
      val files = new java.io.File(s"$path/_manifest/$v").listFiles()
        .count(_.getName.endsWith(".parquet"))
      assert(files == 1, s"$name published a $files-file manifest version")
      val versions = TableManifest.versions(spark, path)
      val (_, jobs) = jobsOf(noop())
      assert(live().contains(v) &&
        TableManifest.versions(spark, path) == versions,
        s"$name's no-op published a version")
      assert(jobs == ownJobs, s"$name's no-op ran $jobs jobs, not $ownJobs")
    }
    assert(TableManifest.readViaManifest(spark, path).count() == 128L)
  }
}
