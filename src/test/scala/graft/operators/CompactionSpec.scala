package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

class CompactionSpec extends SparkSpec {
  import spark.implicits._

  private def tmp() = java.nio.file.Files
    .createTempDirectory("graft-compact").toString + "/store"

  private def liveFiles(path: String): Seq[String] = {
    val v = MergeUpsert.currentPlainVersion(spark, path).get
    new java.io.File(s"$path/$v").listFiles()
      .map(_.getName).filter(_.endsWith(".parquet")).toSeq
  }

  test("compaction reduces live-version files and preserves contents") {
    val store = tmp()
    (0 until 3).foreach { k =>
      MergeUpsert.mergeWritePlain(spark, store,
        spark.range(100).select(col("id"), (col("id") * 10 + k).as("v"))
          // many shuffle partitions → many small files per version
          .repartition(8),
        Seq("id"))
    }
    val before = MergeUpsert.readPlain(spark, store)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(liveFiles(store).size > 1)
    val rep = MergeUpsert.compactPlain(spark, store, targetBytes = 1L << 30)
    assert(rep.compacted && rep.filesBefore > 1 && rep.filesAfter == 1)
    assert(liveFiles(store).size == 1)
    val after = MergeUpsert.readPlain(spark, store)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(after.toSeq == before.toSeq)
  }

  test("already-compact store is a no-op: no version bump") {
    val store = tmp()
    MergeUpsert.mergeWritePlain(spark, store,
      spark.range(10).toDF("id").coalesce(1), Seq("id"))
    MergeUpsert.compactPlain(spark, store, targetBytes = 1L << 30)
    val v1 = MergeUpsert.currentPlainVersion(spark, store)
    val rep = MergeUpsert.compactPlain(spark, store, targetBytes = 1L << 30)
    assert(!rep.compacted && rep.filesBefore == rep.filesAfter)
    assert(MergeUpsert.currentPlainVersion(spark, store) == v1)
  }

  test("superseded version is retained for in-flight readers") {
    val store = tmp()
    (0 until 2).foreach { k =>
      MergeUpsert.mergeWritePlain(spark, store,
        spark.range(20).select(col("id"), lit(k).as("v")).repartition(4),
        Seq("id"))
    }
    val preCompact = MergeUpsert.currentPlainVersion(spark, store).get
    MergeUpsert.compactPlain(spark, store, targetBytes = 1L << 30)
    val dirs = new java.io.File(store).listFiles()
      .map(_.getName).filter(_.startsWith("v-")).toSeq
    assert(dirs.contains(preCompact)) // reader window intact
  }
}
