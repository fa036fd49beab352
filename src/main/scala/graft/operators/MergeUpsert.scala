package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** S7 — keyed upsert (MERGE), last-writer-wins on the natural key.
  *
  * The reference relies on Postgres `INSERT ... ON CONFLICT (date,
  * region_id) DO UPDATE` (reference: ingest_capacity.py:179-193,
  * compute_metrics.py:76-89) to make re-ingest idempotent. Plain Parquet
  * has no MERGE, so we implement it as a distributed algorithm over
  * builtins — no driver materialization, no custom physical operator.
  *
  * Scale design (100 TB): `merge` uses `updates`-deduped ∪ (existing
  * ⟕anti updates-keys). The anti join probes existing rows against only
  * the DISTINCT KEYS of the update batch — typically tiny (one ingest
  * file) → Catalyst broadcasts it and the existing table is NEVER
  * shuffled. Compare the naive union+window form, which shuffles the
  * full table on every merge.
  *
  * Two table layouts ride this merge:
  *   - the plain versioned store ([[mergeWritePlain]] and friends): a
  *     small unpartitioned table, each publish a whole new version dir
  *     behind the `_CURRENT` pointer;
  *   - the date-partitioned fact table, written only by
  *     [[TableManifest.mergeWriteManifested]]: the batch's touched
  *     dates are read from the manifest's file list, merged, and
  *     appended as new files, and one manifest publish makes them live.
  *     A day's upsert into a 100 TB table touches one day's files, not
  *     the table.
  */
object MergeUpsert {

  /** Pure merge: rows of `updates` replace same-key rows of `existing`;
    * within `updates`, the highest `updatePriority` row per key wins —
    * pass a per-row-unique priority (e.g. the input row index) for fully
    * deterministic "last writer wins", mirroring the reference's
    * row-ordered ON CONFLICT DO UPDATE loop. With no priority, in-batch
    * duplicates collapse arbitrarily (dropDuplicates) — only safe when
    * the batch is already key-unique.
    *
    * `evolveSchema = true` aligns by name with null backfill (the
    * ADD-COLUMN class of schema evolution): a batch carrying a new
    * column widens the table (existing rows read null there), a batch
    * missing a column leaves nulls for its rows. The default strictly
    * projects the batch onto the existing schema — a batch missing a
    * required column fails the plan instead of silently nulling. */
  def merge(existing: DataFrame, updates: DataFrame, keys: Seq[String],
            updatePriority: Option[String] = None,
            broadcastKeys: Boolean = true,
            evolveSchema: Boolean = false): DataFrame = {
    val keyCols = keys.map(col)
    val deduped = updatePriority match {
      case Some(p) => dedupByPriority(updates, keys, p)
      case None => updates.dropDuplicates(keys)
    }
    // Anti join against the distinct update keys. For an incremental
    // batch (the design target) the key set is tiny → forced broadcast
    // means the big `existing` side is scanned once and NEVER shuffle-
    // written. For a backfill-scale batch (millions of keys) a forced
    // broadcast inverts into the bottleneck — callers that know they're
    // backfilling pass broadcastKeys = false for a plain shuffle join
    // (TableManifest.mergeWriteManifested flips this automatically off
    // the batch's estimated distinct-key count).
    val distinctKeys = deduped.select(keyCols: _*).distinct()
    val updateKeys = if (broadcastKeys) broadcast(distinctKeys) else distinctKeys
    val survivors = existing.join(updateKeys, keys, "left_anti")
    if (evolveSchema)
      survivors.unionByName(deduped, allowMissingColumns = true)
    else
      survivors.unionByName(deduped.select(existing.columns.map(col): _*))
  }

  /** ADDITIVE merge — counters, not last-writer-wins: per key, the
    * numeric `sumCols` are summed across `existing` and `updates`
    * (absent keys start at the batch's value). The merge-on-write shape
    * for incrementally maintained aggregates: vocabulary counts,
    * per-domain stats, document frequencies — stores that a 100 TB
    * pipeline updates per batch but never recomputes from scratch.
    *
    * Scale shape: one union + key aggregation. Map-side partial
    * aggregation collapses the batch before the exchange; the store
    * side re-shuffles unless it is laid out bucketed by key
    * ([[graft.sources.Bucketing]]) — at streaming cadence write the
    * counter store bucketed and this merge plans bucket-local. */
  def mergeAdditive(existing: DataFrame, updates: DataFrame,
                    keys: Seq[String], sumCols: Seq[String]): DataFrame = {
    require(sumCols.nonEmpty, "mergeAdditive needs at least one sum column")
    val proj = (keys ++ sumCols).map(col)
    val aggs = sumCols.map(c => sum(col(c)).as(c))
    existing.select(proj: _*).unionByName(updates.select(proj: _*))
      .groupBy(keys.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
  }

  /** [[mergeAdditive]] against a versioned plain store (same atomic
    * publish/retention protocol as [[mergeWritePlain]]). First write
    * bootstraps from the batch alone (keys deduplicated by summing). */
  def mergeAdditiveWritePlain(spark: SparkSession, path: String,
                              updates: DataFrame, keys: Seq[String],
                              sumCols: Seq[String],
                              retainVersions: Int = 2): Unit = {
    val live = livePlain(spark, path)
    val merged = live match {
      case Some((_, existing)) =>
        // additive semantics are defined over keys ++ sumCols ONLY;
        // silently projecting a wider store onto them would PUBLISH the
        // narrowed schema and permanently drop the other columns
        val expected = (keys ++ sumCols).sorted
        require(existing.columns.sorted.sameElements(expected),
          s"additive merge would narrow the store's schema " +
            s"(${existing.columns.sorted.mkString(",")}) to " +
            s"(${expected.mkString(",")}) — not a counter store")
        mergeAdditive(existing, updates, keys, sumCols)
      case None =>
        val aggs = sumCols.map(c => sum(col(c)).as(c))
        updates.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
    }
    publishVersion(spark, path, merged, retainVersions, live.map(_._1))
  }

  /** Retention-prune a versioned plain store OUTSIDE the publish path:
    * delete published version dirs beyond the newest `keepVersions`,
    * never touching the live version or the `_CURRENT` pointer. Every
    * publish already GCs to its `retainVersions` (floor 2, the
    * in-flight-reader window); this is the maintenance pass that can
    * go BELOW that floor between publishes — e.g. a monitoring store
    * compacted to its live fold once the reader window has drained
    * (`keepVersions = 1`). Only PUBLISHED lineage (dirs at-or-below
    * the current version) is considered: a dead writer's orphan dir
    * above it is the next publish's GC to classify, not ours. Returns
    * the number of version dirs deleted; idempotent. */
  def vacuumPlain(spark: SparkSession, path: String,
                  keepVersions: Int = 1): Int = {
    require(keepVersions >= 1,
      s"keepVersions must retain the live version, got $keepVersions")
    vacuumPlainKeeping(spark, path, keepVersions)._1
  }

  /** [[vacuumPlain]] that also returns the RETAINED version names
    * (oldest first) from the same directory listing — callers that need
    * both (TableManifest.vacuum derives the live file set from the
    * kept versions) pay one LIST, not two. */
  def vacuumPlainKeeping(spark: SparkSession, path: String,
                         keepVersions: Int = 1): (Int, Seq[String]) = {
    require(keepVersions >= 1,
      s"keepVersions must retain the live version, got $keepVersions")
    val fs = fsFor(spark, path)
    val p = new org.apache.hadoop.fs.Path(path)
    // explicit match, NOT .getOrElse(return ...): a non-local return in
    // a deletion path rides NonLocalReturnControl — swallowed by any
    // future enclosing catch-all, and gone in Scala 3
    currentPlainVersion(spark, path) match {
      case None => (0, versionDirs(fs, p).sortBy(versionNumber))
      case Some(cur) =>
        val curN = versionNumber(cur)
        val all = versionDirs(fs, p).sortBy(versionNumber)
        val (lineage, above) = all.partition(versionNumber(_) <= curN)
        val drop = lineage.dropRight(keepVersions)
        drop.foreach(v =>
          fs.delete(new org.apache.hadoop.fs.Path(p, v), true))
        (drop.size, lineage.takeRight(keepVersions) ++ above)
    }
  }

  /** Delete matching rows from a versioned plain store — the retention/
    * takedown pass upserts cannot express. Publishes the filtered
    * contents as a new version through the same atomic protocol
    * (readers keep the usual window), pinned to the version it read,
    * and returns the number of rows removed. */
  def deleteWhere(spark: SparkSession, path: String,
                  condition: org.apache.spark.sql.Column,
                  retainVersions: Int = 2): Long = {
    val (cur, current) = livePlainOrFail(spark, path)
    // NULL-condition rows are NOT matches: a bare !condition is also
    // NULL there, which filter() drops — silently deleting (and not
    // counting) every row where the predicate is undecidable
    val matches = coalesce(condition, lit(false))
    val removed = current.filter(matches).count()
    if (removed > 0)
      publishVersion(spark, path, current.filter(!matches), retainVersions,
        Some(cur))
    removed
  }

  /** Keep the highest-`priorityCol` row per key (priority should be
    * unique per row — a monotonic input index — so the result is
    * deterministic). */
  def dedupByPriority(df: DataFrame, keys: Seq[String],
                      priorityCol: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(priorityCol).desc)
    df.withColumn("_mu_rn", row_number().over(w))
      .filter(col("_mu_rn") === 1).drop("_mu_rn")
  }

  /** Merge into a NON-partitioned keyed parquet table with ATOMIC
    * publish (for small keyed tables: dims, streaming sinks).
    *
    * Layout: `path/v-NNNNNNNNNN/` immutable parquet version dirs plus
    * `path/_CURRENT`, a one-line pointer file naming the live version.
    * A merge writes the merged table to a NEW version dir, then flips
    * the pointer with one atomic file rename. Readers ([[readPlain]])
    * resolve the pointer first, so a writer crash at ANY point — during
    * the data write, or between write and publish — leaves readers on
    * the previous version with no gap; a half-written version dir is
    * invisible garbage, collected by the next successful merge. This is
    * the reference's transactional ON CONFLICT upsert
    * (ingest_capacity.py:179-193) re-expressed for immutable storage:
    * the protocol Delta/Iceberg implement with a transaction log,
    * reduced to its minimal pointer form. Single-writer, like the
    * reference's ingest — concurrent writers would need a lock service.
    * For date-partitioned facts use
    * [[TableManifest.mergeWriteManifested]] (touched-partition rewrite). */
  def mergeWritePlain(spark: SparkSession, path: String, updates: DataFrame,
                      keys: Seq[String], retainVersions: Int = 2): Unit = {
    val live = livePlain(spark, path)
    val merged = live match {
      case Some((_, existing)) => merge(existing, updates, keys)
      case None => updates.dropDuplicates(keys)
    }
    publishVersion(spark, path, merged, retainVersions, live.map(_._1))
  }

  /** The store's live version, if one is published — the existence
    * check for external incremental writers. The version's schema
    * comes from [[TableManifest]]'s planning memo. */
  def existingPlain(spark: SparkSession, path: String): Option[DataFrame] =
    livePlain(spark, path).map(_._2)

  /** The store's live version as ONE pointer resolution names it: its
    * name and its contents. A read-modify-publish passes the name to
    * [[publishPlainFrom]], so a publish by another writer after this
    * read is refused at the flip instead of silently overwritten. */
  private[graft] def livePlain(spark: SparkSession,
                               path: String): Option[(String, DataFrame)] =
    currentPlainVersion(spark, path).map(v => v -> readVersionDir(spark, path, v))

  private def livePlainOrFail(spark: SparkSession,
                              path: String): (String, DataFrame) =
    livePlain(spark, path).getOrElse(throw new IllegalStateException(
      s"no published version at $path — nothing was ever published " +
        "there through the versioned-store protocol"))

  /** Version `v` of the store at `path`, planned from the memo
    * ([[TableManifest.readPublished]]). */
  private def readVersionDir(spark: SparkSession, path: String,
                             v: String): DataFrame =
    TableManifest.readPublished(spark, s"$path/$v")._1

  /** Atomic full-table publish: write `df` as a new immutable version
    * and flip the `_CURRENT` pointer — the whole-table-replace analogue
    * of [[mergeWritePlain]] (no key merge; the previous contents are
    * superseded entirely). For derived tables whose row set can SHRINK
    * between publishes — e.g. a curated corpus where a newly arrived
    * document displaces a previously kept near-duplicate — which a
    * keyed upsert cannot express (upserts never delete). Readers keep
    * the same [[readPlain]] protocol and retention window. */
  def publishPlain(spark: SparkSession, path: String, df: DataFrame,
                   retainVersions: Int = 2): Unit =
    publishVersion(spark, path, df, retainVersions,
      currentPlainVersion(spark, path))

  /** [[publishPlain]] with the caller's BASE version pinned: `baseCur`
    * is the live version the caller read when it started computing
    * `df`, and the read-check-flip guard refuses the publish if the
    * pointer has moved past it — where publishPlain re-resolves the
    * pointer at flip time and so cannot see that its input was derived
    * from a stale base. This is how a COMPOSED publish (TableManifest's
    * data-append-then-manifest-flip) extends the two-writer lost-update
    * detection across its whole span: capture the manifest's version at
    * merge start, publish through this. A read-modify-publish of a
    * plain store pins the version its read resolved ([[livePlain]]). */
  def publishPlainFrom(spark: SparkSession, path: String, df: DataFrame,
                       retainVersions: Int,
                       baseCur: Option[String]): Unit =
    publishVersion(spark, path, df, retainVersions, baseCur)

  /** Shared publish core: version write, pointer flip, GC. `cur` is the
    * caller's already-resolved live version (one pointer read per
    * publish, not two). The version write is the publish's one Spark
    * job; once the pointer names the version, `df`'s schema is recorded
    * as the committed dir's in the planning memo
    * ([[TableManifest.seedPublished]], under the dir's
    * [[TableManifest.Published]] identity), so the first read of the
    * version — a manifest's by [[TableManifest]], a plain store's by
    * [[existingPlain]] or the next merge — infers nothing.
    *
    * CONCURRENCY GUARD (read-check-flip): just before the pointer
    * flip, the live version is re-resolved; if it moved past `cur` —
    * another writer published while this merge ran — the publish
    * REFUSES (deletes its own version dir, throws
    * ConcurrentModificationException) instead of silently clobbering
    * the other writer's merge with a result computed against a stale
    * base. The caller re-runs the merge against the new base
    * (at-least-once upstream redelivery is the recovery story, same
    * as a crash). This is detection, not mutual exclusion: a window
    * remains between the check and the rename, so SINGLE-WRITER stays
    * the contract — the guard turns the most likely violation (two
    * long merges interleaving) from silent lost-update into a hard
    * error. Package-private for the two-writer interleaving spec.
    * Returns the published version's name. */
  private[operators] def publishVersion(spark: SparkSession, path: String,
                             df: DataFrame, retainVersions: Int,
                             cur: Option[String]): String = {
    require(retainVersions >= 2,
      s"retainVersions must keep at least the live version plus one " +
        s"superseded version for in-flight readers, got $retainVersions")
    val fs = fsFor(spark, path)
    val p = new org.apache.hadoop.fs.Path(path)
    // ONE pre-write listing serves nextN, orphan GC and tmp GC (LIST is
    // a billable RPC at streaming cadence): under
    // single-writer, the only entries created between this listing and
    // the GC are this publish's own vname (explicitly excluded) and
    // its tmp dir (renamed away before the GC runs).
    val entries = if (fs.exists(p)) fs.listStatus(p)
      else Array.empty[org.apache.hadoop.fs.FileStatus]
    val vdirs = entries.filter(_.isDirectory).map(_.getPath.getName)
      .filter(n => n.startsWith("v-") && n.drop(2).forall(_.isDigit)).toSeq
    val nextN = (vdirs.map(versionNumber) :+ 0L).max + 1
    val vname = f"v-$nextN%010d"
    // Version-dir commit protocol, in three steps whose ORDER is the
    // correctness argument:
    //   1. the parquet job writes into a hidden `.tmp-v-N` dir
    //      (invisible to versionDirs and readers);
    //   2. the dir is renamed to `v-N` — atomic on POSIX/HDFS; on
    //      object stores rename is a file-by-file copy, which is why
    //      step 3 exists;
    //   3. a zero-byte `_GRAFT_COMMITTED` marker is created INSIDE
    //      `v-N` as the last act before the pointer flip. The marker
    //      is OURS — written regardless of the committer's
    //      marksuccessfuljobs setting — and nothing reads a version
    //      dir without it unless the `_CURRENT` pointer names it.
    // A writer dying at any point leaves either a `.tmp-` dir, or an
    // unmarked partial/complete `v-N` — both invisible to the
    // lost-pointer fallback (currentPlainVersion) and GC'd on the next
    // publish. Single-writer protocol, so any `.tmp-` dir present at
    // publish time belongs to a dead writer.
    val vdir = new org.apache.hadoop.fs.Path(p, vname)
    val vtmp = new org.apache.hadoop.fs.Path(p, s".tmp-$vname")
    df.write.mode(SaveMode.Overwrite).parquet(vtmp.toString)
    if (!fs.rename(vtmp, vdir))
      throw new java.io.IOException(s"cannot commit version dir $vdir")
    fs.create(new org.apache.hadoop.fs.Path(vdir, CommitMarker), true).close()
    // read-check-flip (see scaladoc): the live version must still be
    // the one this merge read as its base. Our own freshly marked dir
    // can win currentPlainVersion's lost-pointer fallback (fresh table,
    // no pointer yet) — that is not a move.
    val nowCur = currentPlainVersion(spark, path)
    if (nowCur != cur && nowCur != Some(vname)) {
      fs.delete(vdir, true)
      throw new java.util.ConcurrentModificationException(
        s"concurrent publish detected at $path: live version moved " +
          s"from ${cur.getOrElse("<none>")} to " +
          s"${nowCur.getOrElse("<none>")} while this merge ran — " +
          "refusing to flip a result computed against a stale base; " +
          "re-run the merge (single-writer is the contract, this guard " +
          "only detects violations)")
    }
    // publish (a lost pointer is recoverable — readers fall back to
    // the newest version dir, see currentPlainVersion)
    flipPointer(spark, path, PointerName, vname)
    // the new version's schema is the frame's: its first read
    // (readVersionDir, TableManifest's manifest reads) infers nothing
    val published = s"$path/$vname"
    committedAt(spark, published).foreach(t => TableManifest.seedPublished(
      spark, TableManifest.Published(published, t), df.schema))
    // GC (best-effort, post-publish): crashed-writer orphans, plus
    // published versions beyond the newest `retainVersions`. Superseded
    // versions are RETAINED for retainVersions-1 merge cycles: an
    // in-flight reader that resolved the pointer just before a flip is
    // still scanning the old dir — deleting it immediately would fail
    // any query slower than the merge cadence (continuous streaming
    // publishes every second). Size retainVersions to the slowest
    // expected reader: a reader taking R seconds against a merge
    // cadence of C seconds needs retainVersions > R/C + 1.
    // Orphan detection is purely NUMERIC: published numbers are
    // strictly increasing, so a dir numbered ABOVE the version that was
    // current when this publish began was never published (a dead
    // writer's leftover — complete or partial, either way superseded by
    // this publish; its source batch was never pointer-acknowledged, so
    // at-least-once upstream redelivery re-merges it), and a dir
    // at-or-below it is published lineage (it was _CURRENT once).
    // Deliberately NOT keyed on job markers: committers configured with
    // marksuccessfuljobs=false write no _SUCCESS, and a marker-based
    // rule would misclassify live lineage as orphans and delete the
    // reader window. Reuses the single pre-write listing (see above).
    val curN = cur.map(versionNumber).getOrElse(-1L)
    val (orphans, lineage) = vdirs.filter(_ != vname)
      .partition(v => versionNumber(v) > curN)
    val keep = lineage.sortBy(versionNumber).takeRight(retainVersions - 1).toSet
    (orphans ++ lineage.filterNot(keep))
      .foreach(v => fs.delete(new org.apache.hadoop.fs.Path(p, v), true))
    // dead writers' half-written temp dirs (single-writer: any .tmp-
    // other than the one just renamed away is stale)
    entries.filter(d => d.isDirectory &&
        d.getPath.getName.startsWith(".tmp-v-"))
      .foreach(d => fs.delete(d.getPath, true))
    spark.catalog.refreshByPath(path)
    vname
  }

  /** Result of [[compactPlain]]: file/byte counts before, files after
    * (== before when the store was already compact and the call was a
    * no-op that published nothing). */
  final case class CompactionReport(filesBefore: Int, filesAfter: Int,
                                    bytes: Long, compacted: Boolean)

  /** Small-file compaction of a [[mergeWritePlain]] store — the
    * OPTIMIZE pass every merge-on-write table needs at streaming
    * cadence: each merge publishes a version laid out by the merge
    * plan's parallelism (shuffle-partition-many files of a few KB for
    * a dim-sized table), and a reader's cost is per-FILE (open + footer
    * + row-group seek), so a store merged every second decays toward
    * thousands of tiny files per version.
    *
    * Rewrites the LIVE version into `ceil(bytes / targetBytes)` files
    * (coalesce — a narrow dependency, no shuffle) and republishes it
    * through the same atomic version-dir + pointer-flip protocol as a
    * merge: readers either resolve the old version (retained for the
    * usual `retainVersions` window) or the compacted one, never a
    * partial state; a crash mid-compaction leaves an unmarked dir that
    * the next publish GCs. Contents are bit-identical by construction —
    * compaction is a pure re-layout.
    *
    * Already-compact stores (file count ≤ target) and stores with no
    * published version are left untouched — repeated compaction must
    * not bump versions forever. Date-partitioned manifested tables
    * compact with [[TableManifest.compactManifested]].
    */
  def compactPlain(spark: SparkSession, path: String,
                   targetBytes: Long = 128L << 20,
                   retainVersions: Int = 2): CompactionReport = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    val fs = fsFor(spark, path)
    val p = new org.apache.hadoop.fs.Path(path)
    val cur = currentPlainVersion(spark, path) match {
      case Some(v) => v
      case None => return CompactionReport(0, 0, 0L, compacted = false)
    }
    val dataDir = new org.apache.hadoop.fs.Path(p, cur)
    val files = fs.listStatus(dataDir)
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
    val bytes = files.map(_.getLen).sum
    val targetN = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    if (files.length <= targetN)
      return CompactionReport(files.length, files.length, bytes,
        compacted = false)
    val df = spark.read.parquet(dataDir.toString).coalesce(targetN)
    val vname = publishVersion(spark, path, df, retainVersions, Some(cur))
    // report what was PUBLISHED, not the target: the parquet read packs
    // small files into fewer partitions than targetN when they fit one
    // maxPartitionBytes split, and coalesce never splits — so the new
    // version can legitimately carry fewer than targetN files
    val published = fs.listStatus(new org.apache.hadoop.fs.Path(p, vname))
      .count(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
    CompactionReport(files.length, published, bytes, compacted = true)
  }

  /** Read the live version of a [[mergeWritePlain]] table: the
    * `_CURRENT` pointer's version dir, or after a lost pointer the
    * newest committed version dir. A store with no live version fails
    * here — it was never published. */
  def readPlain(spark: SparkSession, path: String): DataFrame =
    livePlainOrFail(spark, path)._2

  /** Time travel: read a SPECIFIC retained version (as listed by
    * [[retainedVersions]]). Versions outside the retention window are
    * GC'd — size `retainVersions` to how far back readers look. */
  def readPlainVersion(spark: SparkSession, path: String,
                       version: String): DataFrame = {
    val fs = fsFor(spark, path)
    val vdir = new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(path), version)
    require(fs.exists(vdir),
      s"version $version of $path does not exist (GC'd or never published)")
    spark.read.parquet(vdir.toString)
  }

  /** The version-dir names currently on disk, oldest first. */
  def retainedVersions(spark: SparkSession, path: String): Seq[String] =
    versionDirs(fsFor(spark, path),
      new org.apache.hadoop.fs.Path(path)).sortBy(versionNumber)

  /** Change-data capture between two retained versions of a plain
    * store: one full-outer join on `keys` comparing the md5 of the
    * remaining columns' JSON struct form. Returns the key
    * columns plus `change` ∈ {insert, delete, update} — unchanged rows
    * are absent. The diff is key-partitioned work (one shuffle per
    * side, or none when the store is written bucketed), never a
    * row-by-row driver loop — at 100 TB this is how downstream
    * consumers learn what a merge changed without re-reading the
    * table. */
  def diffVersions(spark: SparkSession, path: String,
                   oldVersion: String, newVersion: String,
                   keys: Seq[String]): DataFrame = {
    val o = readPlainVersion(spark, path, oldVersion)
    val n = readPlainVersion(spark, path, newVersion)
    require(o.columns.sorted.sameElements(n.columns.sorted),
      s"schema changed between $oldVersion and $newVersion — diff the " +
        "overlapping columns explicitly")
    val valueCols = o.columns.filterNot(keys.contains).sorted
    def hashed(df: DataFrame, as: String) = df.select(
      keys.map(col) :+
        // to_json(struct(...)): unambiguous field boundaries and
        // null-discriminating; a separator-joined concat could alias
        // rows across column boundaries
        md5(to_json(struct(valueCols.map(col): _*))).as(as): _*)
    hashed(o, "_h_old").join(hashed(n, "_h_new"), keys, "full_outer")
      .withColumn("change",
        when(col("_h_old").isNull, lit("insert"))
          .when(col("_h_new").isNull, lit("delete"))
          .when(col("_h_old") =!= col("_h_new"), lit("update")))
      .filter(col("change").isNotNull)
      .select(keys.map(col) :+ col("change"): _*)
  }

  private val PointerName = "_CURRENT"
  private val CommitMarker = "_GRAFT_COMMITTED"

  private[operators] def fsFor(spark: SparkSession, path: String) =
    org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)

  /** Modification time of a version dir's `_GRAFT_COMMITTED` marker —
    * the planning memo's version identity; None when the dir has no
    * marker (or is gone). */
  private[operators] def committedAt(spark: SparkSession,
                                     versionDir: String): Option[Long] =
    try Some(fsFor(spark, versionDir).getFileStatus(
      new org.apache.hadoop.fs.Path(versionDir, CommitMarker))
      .getModificationTime)
    catch { case _: java.io.FileNotFoundException => None }

  /** The live version-dir name: pointer first; as the lost-pointer
    * recovery fallback, the newest version dir carrying our
    * `_GRAFT_COMMITTED` marker (written by publishVersion as the last
    * act before the pointer flip, independent of the committer's
    * marksuccessfuljobs setting). An unmarked dir is NEVER adopted,
    * whatever else it holds: on object stores the dir rename is a
    * file-by-file copy, so an unmarked `v-` dir can be a dead writer's
    * half-copied version — exactly the garbage the marker exists to
    * exclude. A crash between rename and marker leaves the dir
    * unadopted AND the pointer unflipped, so that publish simply never
    * happened (upstream redelivery re-merges its batch). None when no
    * version was ever published. */
  def currentPlainVersion(spark: SparkSession, path: String): Option[String] = {
    val fs = fsFor(spark, path)
    val p = new org.apache.hadoop.fs.Path(path)
    val pointed = readPointer(spark, path, PointerName)
    def marked(v: String): Boolean = fs.exists(new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(p, v), CommitMarker))
    pointed.filter(v => fs.exists(new org.apache.hadoop.fs.Path(p, v)))
      .orElse(versionDirs(fs, p).filter(marked).sorted.lastOption)
  }

  /** The name the pointer file `name` in `dir` holds; None when the
    * file is absent or empty. The one pointer read: `_CURRENT` here,
    * and StreamCuration's published and absorbed epoch pointers. */
  private[graft] def readPointer(spark: SparkSession, dir: String,
                                 name: String): Option[String] = {
    val fs = fsFor(spark, dir)
    val ptr = new org.apache.hadoop.fs.Path(dir, name)
    if (!fs.exists(ptr)) None
    else {
      val in = fs.open(ptr)
      try {
        val r = new java.io.BufferedReader(new java.io.InputStreamReader(
          in, java.nio.charset.StandardCharsets.UTF_8))
        Option(r.readLine()).map(_.trim).filter(_.nonEmpty)
      } finally in.close()
    }
  }

  /** Point the pointer file `name` in `dir` at `target` atomically:
    * write it beside (creating `dir` when absent), then one rename.
    * Rename-over works on POSIX; filesystems that refuse to clobber get
    * delete+rename of the POINTER FILE only. The one pointer flip, for
    * the same pointers as [[readPointer]]. */
  private[graft] def flipPointer(spark: SparkSession, dir: String,
                                 name: String, target: String): Unit = {
    val fs = fsFor(spark, dir)
    val ptr = new org.apache.hadoop.fs.Path(dir, name)
    val tmp = new org.apache.hadoop.fs.Path(dir, s"$name.tmp")
    val out = fs.create(tmp, true)
    try out.write(target.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    if (!fs.rename(tmp, ptr)) {
      fs.delete(ptr, false)
      if (!fs.rename(tmp, ptr))
        throw new java.io.IOException(s"cannot publish pointer $ptr")
    }
  }

  private def versionDirs(fs: org.apache.hadoop.fs.FileSystem,
                          p: org.apache.hadoop.fs.Path): Seq[String] =
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).filter(_.isDirectory).map(_.getPath.getName)
      .filter(n => n.startsWith("v-") && n.drop(2).forall(_.isDigit)).toSeq

  private def versionNumber(name: String): Long = name.drop(2).toLong
}
