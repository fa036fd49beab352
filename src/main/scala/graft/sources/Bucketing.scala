package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Bucketed-table layout for co-located joins (SURVEY §4 / the 100 TB
  * playbook): writing both sides of a recurring big-big equi join
  * bucketed (and sorted) by the join key makes every subsequent join
  * shuffle-free — each task zips bucket i with bucket i. The shuffle is
  * paid ONCE at write time instead of on every query.
  *
  * Use for fact-fact joins too big to broadcast (e.g. capacity ⋈ metrics
  * at full history, lineitem ⋈ orders): pick numBuckets ≈ cluster
  * parallelism at target scale and the natural key as bucket+sort key.
  * Parquet bucketed tables need the session catalog (`saveAsTable`) —
  * bucket metadata lives in the table definition, not the files.
  * Oracle-checked end-to-end by x144_bucketed_join (result = the plain
  * join); the exchange-free plan is asserted in BucketingSpec.
  */
object Bucketing {

  /** Write `df` as a bucketed table. With `path` set, the table is
    * EXTERNAL (data under `path`, metadata in the session catalog — no
    * warehouse-directory pollution, the right shape for scratch/test
    * use); re-registers idempotently over an existing name. */
  def writeBucketed(df: DataFrame, tableName: String, bucketCols: Seq[String],
                    numBuckets: Int,
                    sortCols: Seq[String] = Seq.empty,
                    path: Option[String] = None): Unit = {
    require(numBuckets >= 1, "numBuckets must be >= 1")
    df.sparkSession.sql(s"DROP TABLE IF EXISTS `$tableName`")
    val w = df.write.mode(SaveMode.Overwrite).format("parquet")
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
    val sorted =
      if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w
    val located = path.fold(sorted)(p => sorted.option("path", p))
    located.saveAsTable(tableName)
  }

  def readTable(spark: SparkSession, tableName: String): DataFrame =
    spark.table(tableName)

  /** Join two same-bucket-count tables on their bucket keys without a
    * shuffle. A `merge` join hint makes the sort-merge path the one
    * that runs (a broadcast would ALSO skip the shuffle, but then the
    * layout proves nothing). Returns the caller's `agg` of the join. */
  def bucketedJoin(spark: SparkSession, leftTable: String,
                   rightTable: String, leftKey: String,
                   rightKey: String)(
                   agg: DataFrame => DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.col
    agg(readTable(spark, leftTable)
      .join(readTable(spark, rightTable).hint("merge"),
        col(leftKey) === col(rightKey)))
  }
}
