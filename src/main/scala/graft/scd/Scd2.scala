package graft.scd

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.store.{PointerCommit, SnapshotStore}

/** Parquet-native SCD Type 2 (reference: silver_etl_script.py:916-966,
  * Delta MERGE whenMatchedUpdate → close-out + append).
  *
  * No Delta jar ships in this runtime, so the merge is a join-based
  * rewrite. Two layouts:
  *
  *  - [[merge]] — the reference-parity single table: the whole history
  *    lives at `path` and every merge republishes it. Simple, but write
  *    volume is O(history) per run — at 100 TB of accumulated history a
  *    daily merge rewrites years of immutable closed-out rows.
  *  - [[mergeRegioned]] — the scale layout: `path/current` holds only the
  *    live rows, and a merge rewrites only the current PARTITIONS the
  *    batch churned (O(day's churn), not even O(live keys)); `path/closed`
  *    is APPEND-ONLY (each merge adds just that day's close-outs,
  *    partitioned by `valid_to` for pruned history scans). This matches
  *    what Delta MERGE actually touches — only files containing matched
  *    rows — without a transaction log: closed rows are immutable, so the
  *    append needs no rewrite, and the churned current partitions are the
  *    only mutable surface.
  *
  * Both layouts share one merge core ([[splitCurrent]]): a single
  * full-outer join of the current rows against the batch yields all three
  * row classes (retained current, newly closed, new/changed versions) in
  * one shuffle — the round-3 shape joined the snapshot against the batch
  * twice.
  *
  * Note: the reference's merge change-predicate names target.phone/email —
  * columns absent from SILVER_SCHEMA — so its Delta merge always throws and
  * the except-branch overwrites as first-load (silver_etl_script.py:937-962).
  * We keep the *intended* semantics with an existing-column predicate
  * (project_name, address), documented here rather than replicating the bug.
  *
  * Scale posture: one shuffle on universal_id for the join; the snapshot
  * rewrite is partition-wise parallel. Every region is a
  * [[graft.store.SnapshotStore]] table: a rewrite lands in a fresh
  * version dir and becomes visible with one atomic pointer flip
  * ([[graft.store.PointerCommit]]), so readers never see a half-written
  * region and no live file is deleted before its replacement is
  * published.
  */
object Scd2 {

  val DefaultChangeColumns: Seq[String] = Seq("project_name", "address")
  val DefaultPartitionColumns: Seq[String] =
    Seq("spider_name", "ingestion_year", "ingestion_month")

  // ------------------------------------------------------------------
  // fused merge core
  // ------------------------------------------------------------------

  /** The three row classes a merge produces, all derived from one
    * persisted full-outer join. `retained ∪ fromBatch` is the new current
    * region; `fromBatch` and `newlyClosed` are ALSO the churn surface —
    * the only rows whose partitions the regioned publish must touch. */
  private case class MergeSplit(retained: DataFrame, fromBatch: DataFrame,
                                newlyClosed: DataFrame, joined: DataFrame) {
    def newCurrent: DataFrame =
      retained.unionByName(fromBatch, allowMissingColumns = true)
  }

  /** One full-outer join of the CURRENT rows against the new batch,
    * classifying every key in a single shuffle:
    *
    *  - current only, or matched-unchanged  → retained current row
    *  - batch only, or matched-changed      → batch row becomes current
    *  - matched-changed                     → current row closed out
    *
    * `joined` is persisted (MEMORY_AND_DISK) because every output —
    * written to different destinations — derives from it; the caller
    * unpersists after publishing. The persisted frame is
    * O(current + batch), never O(history). */
  private def splitCurrent(cur: DataFrame, newBatch: DataFrame,
                           changeColumns: Seq[String], asOfDate: Column)
      : MergeSplit = {
    val usableCols = changeColumns.filter(c =>
      cur.columns.contains(c) && newBatch.columns.contains(c))
    // batch side fully prefixed: the two sides share most column names
    val srcCols = newBatch.columns.toSeq
    val source = newBatch.select(srcCols.map(c => col(c).as(s"_src_$c")): _*)
    // No forced broadcast hint: a typical daily batch is small and AQE
    // will broadcast it from runtime size estimates, but a backfill-sized
    // batch under a mandatory hint would OOM the driver — let the
    // planner choose.
    val joined = cur
      .join(source, col("universal_id") === col("_src_universal_id"),
        "full_outer")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val curHit = col("universal_id").isNotNull
    val srcHit = col("_src_universal_id").isNotNull
    val changed = usableCols.map(c => !(col(c) <=> col(s"_src_$c")))
      .reduceOption(_ || _).getOrElse(lit(false))

    val retained = joined.filter(curHit && (!srcHit || !changed))
      .select(cur.columns.map(col).toSeq: _*)
    val fromBatch = joined.filter(srcHit && (!curHit || changed))
      .select(srcCols.map(c => col(s"_src_$c").as(c)): _*)
    val newlyClosed = joined.filter(curHit && srcHit && changed)
      .select(cur.columns.map(col).toSeq: _*)
      .withColumn("is_current", lit(false))
      .withColumn("valid_to", asOfDate)
    MergeSplit(retained, fromBatch, newlyClosed, joined)
  }

  // ------------------------------------------------------------------
  // reference-parity single-table layout
  // ------------------------------------------------------------------

  /** Close out changed current rows and append the new batch; the whole
    * history republishes as a new snapshot of the table at `path`
    * ([[graft.store.PointerCommit]]). Returns the post-merge snapshot row
    * count. Prefer [[mergeRegioned]] where history outgrows the live set. */
  def merge(spark: SparkSession, newBatch: DataFrame, path: String,
            changeColumns: Seq[String] = DefaultChangeColumns,
            asOfDate: Column = to_date(current_timestamp()).cast("string"),
            partitionColumns: Seq[String] = DefaultPartitionColumns): Long = {
    // existence via the pointer on the TARGET's own filesystem: a wrong
    // probe here would misread an existing table as absent and take the
    // first-load path — destroying history.
    if (!PointerCommit.exists(spark, path))
      return PointerCommit.publish(newBatch, path, partitionColumns)

    // fence the publish on the version this merge READS: a writer that
    // publishes in between makes this merge's rewrite a lost update, and
    // publishFrom turns that into ConcurrentCommitException + retry
    val base = PointerCommit.version(spark, path)
    val existing = PointerCommit.read(spark, path)
    // rows already closed (or with a null flag, which the reference's
    // merge condition never matches) pass through the rewrite untouched
    val cur = existing.filter(col("is_current") === true)
    val passThrough = existing.filter(!(col("is_current") <=> true))
    val split = splitCurrent(cur, newBatch, changeColumns, asOfDate)
    val merged = passThrough
      .unionByName(split.newlyClosed, allowMissingColumns = true)
      .unionByName(split.newCurrent, allowMissingColumns = true)
    try PointerCommit.publishFrom(merged, path, partitionColumns, base)
    finally split.joined.unpersist()
  }

  // ------------------------------------------------------------------
  // regioned layout: rewriteable current + append-only closed
  // ------------------------------------------------------------------

  /** OPTIMIZE ... ZORDER BY: re-cluster the table along a Morton curve
    * over `zCols` (see [[graft.operators.ZOrder]]) so per-file min/max
    * ranges stay tight for EVERY clustered column — multi-column lookups
    * prune files where [[optimize]]'s linear composite sort only serves
    * its leading column. Publishes unpartitioned: the z-layout replaces
    * hive partitioning as the pruning mechanism for these columns. */
  def optimizeZOrder(spark: SparkSession, path: String, zCols: Seq[Column],
                     numFiles: Int = 8): Long = {
    if (!PointerCommit.exists(spark, path)) return 0L
    val base = PointerCommit.version(spark, path)
    val snapshot = PointerCommit.read(spark, path)
    PointerCommit.publishFrom(
      graft.operators.ZOrder.cluster(snapshot, zCols, numFiles), path, Nil,
      base)
  }

  def currentRoot(root: String): String =
    new Path(root, "current").toString
  def closedRoot(root: String): String =
    new Path(root, "closed").toString

  /** OPTIMIZE the regioned table's CURRENT region into a range-clustered
    * layout WITH its file-stats sidecar — the s7 clustering maintenance
    * composed with [[graft.store.FileStats]] (the region root IS a
    * SnapshotStore root): current rows are
    * republished range-sorted on `sortCol` and the per-file min/max
    * (+ optional bloom) sidecar lands inside the same commit, atomic
    * with the layout it describes. After this, [[readCurrentRange]]
    * answers production range scans (price bands, freshness windows,
    * valid_from cuts) touching only the files whose interval intersects
    * — instead of the full-region scan the quality battery and gold
    * read otherwise pay. Like ZORDER, the republish trades the hive
    * partition dirs for clustering; the next merge full-width-rewrites
    * without partition pruning (correct, just unpruned) until its own
    * partitioned publish restores them — and that merge's new snapshot
    * has no sidecar, so stale stats can never serve: the sidecar name
    * is keyed to its snapshot and [[readCurrentRange]] fails loudly
    * until the next optimize. Maintenance cadence is the caller's
    * (nightly, like the reference's OPTIMIZE). */
  def optimizeCurrentWithStats(spark: SparkSession, root: String,
                               sortCol: String, numFiles: Int,
                               statCols: Seq[String],
                               bloomCols: Seq[String] = Nil): String = {
    // fence the rewrite on the version being read (the merge()/
    // mergeRegioned discipline): a concurrent merge landing between
    // this read and the commit must raise ConcurrentCommitException,
    // not be silently reverted by a republish of pre-merge rows
    val base = graft.store.SnapshotStore.currentName(spark, currentRoot(root))
    val cur = graft.store.SnapshotStore.read(spark, currentRoot(root))
    graft.store.FileStats.publishSortedFrom(spark, currentRoot(root), base,
      cur, sortCol, numFiles, statCols, bloomCols)
  }

  /** Production range read of the current region THROUGH the stats
    * sidecar published by [[optimizeCurrentWithStats]]: the sidecar
    * cuts the file list before Spark lists a directory or opens a
    * footer, then the exact predicate applies — a pure optimization,
    * never a semantic change. */
  def readCurrentRange(spark: SparkSession, root: String, c: String,
                       lo: Any, hi: Any): DataFrame =
    graft.store.FileStats.readRange(spark, currentRoot(root), c, lo, hi)

  /** SCD2 merge with O(churn) READ and WRITE volume.
    *
    * Read side: classification runs over a NARROW scan of the current
    * region — key + partition + change-predicate columns only (a
    * handful of the silver table's 30+ columns) — full-outer-joined
    * with the batch. Full-width current rows are then read ONLY from
    * the churned partitions (partition-pruned scan); the wide rows of
    * untouched partitions never leave parquet. Write side: only the
    * churned current partitions are republished — where a new/changed
    * version lands, or where a closed key's old version lived — and the
    * day's close-outs APPEND to the closed region; everything else is
    * never rewritten. This matches what Delta MERGE touches — only
    * files containing matched rows (silver_etl_script.py:922-951) —
    * without a transaction log.
    *
    * Returns the post-merge total row count (current + closed): the
    * current side from counts observed in the classification join, the
    * closed side from a column-less parquet count that reads footers,
    * not data pages — no re-read of what was just published.
    *
    * Crash ordering: close-outs land before the current region flips. A
    * writer that dies between the two steps leaves the table consistent
    * for readers (old current region still live) and the re-run
    * reproduces the same close-outs — which the append step dedups
    * against the day's closed partition (a pruned O(day) read, not an
    * O(history) scan), so the retry is idempotent. The opposite order
    * would LOSE close-outs on a crash: once the current region flips,
    * the changed keys no longer look changed and a re-run closes
    * nothing. Each region itself flips atomically: the churned
    * partitions land in a fresh version dir, the manifest carries every
    * untouched partition forward by reference, and one pointer flip
    * publishes the whole region. */
  def mergeRegioned(spark: SparkSession, newBatch: DataFrame, root: String,
                    changeColumns: Seq[String] = DefaultChangeColumns,
                    asOfDate: Column = to_date(current_timestamp()).cast("string"),
                    partitionColumns: Seq[String] = DefaultPartitionColumns): Long = {
    val curPath = currentRoot(root)
    if (!PointerCommit.exists(spark, curPath))
      return PointerCommit.publish(newBatch, curPath, partitionColumns)

    // fence the current-region publish on the version this merge reads
    // (see merge()); the closed-region append fences itself inside
    // appendClosed, against ITS region's version at append time
    val curBase = PointerCommit.version(spark, curPath)
    // merge-identity base (appendClosed's replay detection): snapshot
    // names are content-unique, so the version read identifies the state
    val mergeIdBase = curBase.getOrElse("0")
    val cur = PointerCommit.read(spark, curPath)
    val usable = changeColumns.filter(c =>
      cur.columns.contains(c) && newBatch.columns.contains(c))
    val narrowCols = (Seq("universal_id") ++ partitionColumns ++ usable)
      .distinct.filter(cur.columns.contains)
    val curNarrow = cur.select(narrowCols.map(col): _*)
    val srcCols = newBatch.columns.toSeq
    val source = newBatch.select(srcCols.map(c => col(c).as(s"_src_$c")): _*)
    // the persisted frame is O(current keys + batch) NARROW rows
    val joined = curNarrow
      .join(source, col("universal_id") === col("_src_universal_id"),
        "full_outer")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val currentTotal =
      try {
        val curHit = col("universal_id").isNotNull
        val srcHit = col("_src_universal_id").isNotNull
        val changed = usable.map(c => !(col(c) <=> col(s"_src_$c")))
          .reduceOption(_ || _).getOrElse(lit(false))
        val isClosed = curHit && srcHit && changed
        val isFromBatch = srcHit && (!curHit || changed)
        // every classification count AND the churned partition-key set
        // in ONE pass over the persisted join (r17: the key set was a
        // second distinct+collect job over the same frame — fused here
        // as two collect_sets, bounded by the partitions the day's
        // batch touches exactly as the old collect was)
        val partAggs = if (partitionColumns.isEmpty) Nil else Seq(
          collect_set(when(isFromBatch, struct(partitionColumns.map(c =>
            col(s"_src_$c").cast("string").as(c)): _*))).as("pb"),
          collect_set(when(isClosed, struct(partitionColumns.map(c =>
            col(c).cast("string").as(c)): _*))).as("pc"))
        val aggs = Seq(
          count(when(curHit, lit(1))).as("cur"),
          count(when(isClosed, lit(1))).as("closed"),
          count(when(isFromBatch, lit(1))).as("batch")) ++ partAggs
        val cnts = joined.agg(aggs.head, aggs.tail: _*).head()
        val (curCount, closedCount, fromBatchCount) =
          (cnts.getLong(0), cnts.getLong(1), cnts.getLong(2))
        val churned: Array[Seq[String]] =
          if (partitionColumns.isEmpty) Array.empty
          else (cnts.getSeq[org.apache.spark.sql.Row](3) ++
            cnts.getSeq[org.apache.spark.sql.Row](4))
            .map(r => partitionColumns.indices
              .map(i => r.getString(i)): Seq[String])
            .distinct.toArray
        val total = curCount - closedCount + fromBatchCount
        if (closedCount == 0L && fromBatchCount == 0L) total // pure no-op
        else {
          val fromBatch = joined.filter(isFromBatch)
            .select(srcCols.map(c => col(s"_src_$c").as(c)): _*)
          val closedKeys = joined.filter(isClosed).select("universal_id")
          if (partitionColumns.isEmpty) {
            // unpartitioned region: nothing to prune — full-width rewrite
            val newlyClosed = closeOut(
              cur.join(closedKeys, Seq("universal_id"), "left_semi"), asOfDate)
            if (closedCount > 0) appendClosed(spark, newlyClosed,
              closedRoot(root), mergeIdBase)
            PointerCommit.publishFrom(
              cur.join(closedKeys, Seq("universal_id"), "left_anti")
                .unionByName(fromBatch, allowMissingColumns = true),
              curPath, Nil, curBase)
          } else {
            mergeChurned(spark, cur, fromBatch, closedKeys, closedCount,
              asOfDate, root, curPath, partitionColumns, churned, curBase,
              mergeIdBase)
          }
          total
        }
      } finally joined.unpersist()
    val closedTotal = readClosedRegion(spark, closedRoot(root))
      .map(_.count()).getOrElse(0L)
    currentTotal + closedTotal
  }

  private def closeOut(rows: DataFrame, asOfDate: Column): DataFrame =
    rows.withColumn("is_current", lit(false)).withColumn("valid_to", asOfDate)

  /** The churn-pruned merge body: read full-width current rows from
    * ONLY the churned partitions, close out + publish.
    *
    * Churned = partitions where a `fromBatch` row lands (batch-side
    * values) ∪ partitions holding a closed key's old version (cur-side
    * values — possibly a different partition than the new version's, and
    * possibly left empty). The key list arrives collected from the
    * caller's single classification-aggregate pass (r17 — it was a
    * second distinct+collect job over the same persisted join):
    * bounded by the number of distinct partitions the day's batch
    * touches (the same bounded-collect the gold incremental publish
    * makes, GoldEtl.runIncremental), never by row count. */
  private def mergeChurned(spark: SparkSession, cur: DataFrame,
                           fromBatch: DataFrame, closedKeys: DataFrame,
                           closedCount: Long, asOfDate: Column, root: String,
                           curPath: String, partitionColumns: Seq[String],
                           churned: Array[Seq[String]],
                           curBase: Option[String],
                           mergeIdBase: String): Unit = {
    // full-width current rows from churned partitions ONLY: per-column
    // isin prunes partition dirs at the scan, the exact tuple semi-join
    // against the churned-key dim removes the cartesian-superset residue
    val perCol = partitionColumns.zipWithIndex.map { case (c, i) =>
      val vals = churned.map(_(i)).distinct.toSeq
      val nonNull = vals.filter(_ != null)
      val base = if (nonNull.isEmpty) lit(false)
                 else col(c).cast("string").isin(nonNull: _*)
      if (vals.contains(null)) base || col(c).isNull else base
    }
    val dim = spark.createDataFrame(
      java.util.Arrays.asList(churned.map(k =>
        org.apache.spark.sql.Row.fromSeq(k)): _*),
      org.apache.spark.sql.types.StructType(partitionColumns.map(c =>
        org.apache.spark.sql.types.StructField(s"__ck_$c",
          org.apache.spark.sql.types.StringType, nullable = true))))
    val cond = partitionColumns.map(c =>
      col(c).cast("string") <=> col(s"__ck_$c")).reduce(_ && _)
    val prunedCur = cur.filter(perCol.reduce(_ && _))
      .join(broadcast(dim), cond, "left_semi")
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      if (closedCount > 0) {
        val newlyClosed = closeOut(
          prunedCur.join(closedKeys, Seq("universal_id"), "left_semi"),
          asOfDate)
        appendClosed(spark, newlyClosed, closedRoot(root), mergeIdBase)
      }
      val replacement = prunedCur
        .join(closedKeys, Seq("universal_id"), "left_anti")
        .unionByName(fromBatch, allowMissingColumns = true)
      // carried-by-reference only works when the live snapshot HAS
      // partition granules to reference. After optimizeCurrentWithStats
      // the live snapshot is a FLAT (unpartitioned) sorted republish,
      // whose one entry sits at depth 0, and an incremental publish on
      // it could carry nothing forward. That first merge must full-width
      // republish — exactly the cost the optimize scaladoc promises —
      // which also restores the partition dirs so later merges are
      // O(churn) again.
      val partitioned = SnapshotStore.currentEntries(spark, curPath).exists(es =>
        es.nonEmpty && es.keys.forall(rel =>
          SnapshotStore.partitionValues(rel).map(_._1) == partitionColumns))
      if (partitioned) {
        // only the churned partitions land in the new version; the
        // manifest carries every other partition forward by reference
        val churnedSet = churned.toSet
        SnapshotStore.publish(replacement, curPath, partitionColumns, curBase,
          replaces = Some(vals => churnedSet(partitionColumns.map(vals))))
      } else {
        val untouched = cur.join(broadcast(dim), cond, "left_anti")
        PointerCommit.publishFrom(
          untouched.unionByName(replacement, allowMissingColumns = true),
          curPath, partitionColumns, curBase)
      }
    } finally prunedCur.unpersist()
  }

  /** Append the day's close-outs to the closed region, partitioned by
    * `valid_to` so history scans filtered on close date prune at the
    * directory level. The batch lands in a fresh immutable version dir
    * and the new manifest carries every earlier batch forward by
    * reference (the [[SnapshotStore]] incremental-manifest mechanism);
    * the per-batch `close_batch` partition key keeps manifest entries
    * unique when two merges close rows on the same date. `vacuum` keeps
    * manifest-referenced versions, so earlier batches survive.
    *
    * Before writing, a crash-retry of the same merge is detected by a
    * MERGE-IDENTITY marker, not by payload matching alone. Why: payload
    * matching cannot distinguish a replay from a same-day A→B→A
    * flip-flop — if versions v1(X), v2(Y), v3(X) all open on day D,
    * v3's close row equals v1's existing closed row on EVERY column, so
    * a payload anti-join swallows a legitimate history row (the r15
    * ADVICE finding; the one-shot [[merge]] keeps both rows, so the
    * regioned layout silently diverged). The merge identity is
    * deterministic from what the merge READ: the current-region STATE
    * it classified against (stable across a retry — the retry exists
    * precisely because the current publish did NOT land) plus an
    * order-independent hash of the close payload (`valid_to` excluded,
    * so a retry straddling midnight maps to the same identity). v1's and
    * v3's closes always carry DIFFERENT current-region states — the
    * intermediate merge published in between — so their identities never
    * collide. "State" is the current region's snapshot name, which is
    * content-unique.
    *
    * Marker protocol (`_merge_markers/<id>.{started,done}` beside the
    * data; underscore-prefixed, invisible to parquet readers, outside
    * [[SnapshotStore.vacuum]]'s `_snapshots` scope):
    *  - `done` present → full replay → skip the append entirely, at any
    *    retry delay.
    *  - neither present → FIRST attempt → append every row, no dedup
    *    (an ABA close can never be swallowed here).
    *  - `started` without `done` → a prior attempt crashed around the
    *    append job → fall back to the full-payload anti-join against
    *    the batch's own `valid_to` partitions (±1 day for the midnight
    *    straddle): the rows it can drop are this merge's own landed
    *    rows. The one residual wrong-drop needs an ABA close AND a
    *    crash between the started-marker and the append job commit —
    *    accepted and documented; Scd2RegionedSpec pins every other arm
    *    (clean retry, midnight straddle, ambiguous-window retry, ABA). */
  private def appendClosed(spark: SparkSession, newlyClosed: DataFrame,
                           closedPath: String, mergeIdBase: String): Unit = {
    // the append is a read-modify-write — fence on the closed region's
    // version here
    val closedBase = PointerCommit.version(spark, closedPath)
    val payloadCols = newlyClosed.columns.filter(_ != "valid_to").toSeq
    val idRow = newlyClosed.agg(
      expr(s"bit_xor(xxhash64(${payloadCols.map(c => s"`$c`").mkString(", ")}))")
        .as("h"),
      count(lit(1)).as("n")).head()
    val mergeId = s"b$mergeIdBase" +
      s"-n${idRow.getLong(1)}" +
      s"-h${java.lang.Long.toHexString(if (idRow.isNullAt(0)) 0L else idRow.getLong(0))}"
    val markers = new Path(closedPath, "_merge_markers")
    val fs = markers.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val doneMark = new Path(markers, s"$mergeId.done")
    val startMark = new Path(markers, s"$mergeId.started")
    if (fs.exists(doneMark)) return
    val ambiguous = fs.exists(startMark)
    if (!ambiguous) { fs.mkdirs(markers); fs.create(startMark, true).close() }
    val existingDay =
      if (!ambiguous) None
      else readClosedRegion(spark, closedPath).map { closed =>
        val dates = newlyClosed.select("valid_to").distinct()
          .unionByName(newlyClosed.select(
            date_sub(col("valid_to").cast("date"), 1).cast("string")
              .as("valid_to")))
          .distinct()
        closed.join(broadcast(dates), Seq("valid_to"), "left_semi")
          .select(payloadCols.map(c => col(c).as(s"_dup_$c")): _*)
      }
    val deduped = existingDay match {
      case Some(dup) => newlyClosed.join(dup,
        payloadCols.map(c => col(c) <=> col(s"_dup_$c")).reduce(_ && _),
        "left_anti")
      case None => newlyClosed
    }
    SnapshotStore.publish(
      deduped.withColumn("close_batch", lit(SnapshotStore.nextVersion(closedBase))),
      closedPath, ClosedPartitions, closedBase, replaces = Some(_ => false))
    // AFTER the append commits: a crash before this line leaves the
    // started-marker, routing the retry through the payload-dedup arm
    fs.create(doneMark, true).close()
    // opportunistic TTL prune: markers are empty files but O(merges) of
    // them accumulate forever otherwise. Dropping a marker re-opens
    // replay detection only for a retry delayed past the TTL — strictly
    // better than the pre-marker behavior, whose payload-dedup window
    // only ever covered same-day + midnight-straddle replays (or any
    // delay WITH an injected asOfDate, which the started-arm still
    // handles). One listing of a tiny dir per merge.
    val cutoff = System.currentTimeMillis() - MergeMarkerTtlMs
    fs.listStatus(markers)
      .filter(st => st.isFile && st.getModificationTime < cutoff)
      .foreach(st => fs.delete(st.getPath, false))
  }

  /** Merge markers older than this are pruned at the next append —
    * far beyond any sane orchestrator retry horizon. */
  val MergeMarkerTtlMs: Long = 90L * 24 * 60 * 60 * 1000

  /** OPTIMIZE for the closed region: append-only accrues one file set
    * per merge — a year of daily merges leaves hundreds of small files
    * behind, and small files are the classic parquet scan killer.
    * Compaction rewrites each `valid_to` partition holding more than
    * `maxFilesPerPartition` data files down to that many, preserving
    * content exactly. It is an explicit MAINTENANCE operation — the only
    * writer that ever rewrites closed bytes; day-to-day merges stay
    * append-only (run compaction on a schedule, as the reference ran
    * Delta OPTIMIZE, silver_etl_script.py:978-983). Every compacted
    * date's rows land in ONE fresh version dir under a new
    * `close_batch`; the manifest drops the old batch entries for those
    * dates and carries untouched batches by reference — readers flip
    * atomically, and vacuum later collects versions no retained manifest
    * references.
    *
    * `commit` has one value, [[PointerCommit]]; the parameter stays only
    * because the benchmark harness's source passes it.
    *
    * Returns the number of partitions compacted. */
  def compactClosed(spark: SparkSession, root: String,
                    maxFilesPerPartition: Int = 1,
                    commit: PointerCommit.type = PointerCommit): Int = {
    val closedPath = closedRoot(root)
    if (!PointerCommit.exists(spark, closedPath)) return 0
    val closedBase = SnapshotStore.currentName(spark, closedPath)
    val entries = SnapshotStore.currentEntries(spark, closedPath)
      .getOrElse(Map.empty)
    val fs = new Path(closedPath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def parquetFiles(dir: Path): Int =
      if (!fs.exists(dir)) 0
      else fs.listStatus(dir).count(f =>
        f.isFile && f.getPath.getName.endsWith(".parquet"))
    val byDate = entries.toSeq.groupBy { case (rel, _) =>
      SnapshotStore.partitionValues(rel).head._2 }
    // a date needs compaction when its rows are spread over several
    // close_batch dirs, or one batch dir itself has too many files
    val oversized = byDate.filter { case (_, es) =>
      es.size > 1 || es.exists { case (rel, ver) =>
        parquetFiles(SnapshotStore.entryDir(closedPath, rel, ver)) > maxFilesPerPartition
      }
    }.keySet
    if (oversized.isEmpty) return 0
    SnapshotStore.publish(
      SnapshotStore.readAt(spark, closedPath, closedBase.get)
        .filter(col("valid_to").isin(oversized.toSeq: _*))
        .drop("close_batch")
        .coalesce(maxFilesPerPartition)
        .withColumn("close_batch", lit(SnapshotStore.nextVersion(closedBase))),
      closedPath, ClosedPartitions, closedBase,
      replaces = Some(vals => oversized(vals("valid_to"))))
    oversized.size
  }

  /** The closed region's partition columns: each merge's close-outs land
    * under their close date and a per-batch key. */
  private val ClosedPartitions = Seq("valid_to", "close_batch")

  /** The closed region, if any close-out has ever been written.
    * `valid_to` comes back as a (string) partition column. */
  private def readClosedRegion(spark: SparkSession,
                               closedPath: String): Option[DataFrame] =
    if (!PointerCommit.exists(spark, closedPath)) None
    else Some(SnapshotStore.readPartitioned(spark, closedPath, ClosedPartitions)
      .drop("close_batch"))

  /** Full history of a regioned table: current ∪ closed. `commit` has
    * one value; the parameter stays only because the benchmark harness's
    * source passes it. */
  def readRegioned(spark: SparkSession, root: String,
                   commit: PointerCommit.type = PointerCommit): DataFrame = {
    val cur = PointerCommit.read(spark, currentRoot(root))
    readClosedRegion(spark, closedRoot(root)) match {
      case Some(closed) => cur.unionByName(closed, allowMissingColumns = true)
      case None => cur
    }
  }

  /** Only the live rows — a current-snapshot consumer (gold) never
    * touches the closed region at all. `commit` as in [[readRegioned]]. */
  def readRegionedCurrent(spark: SparkSession, root: String,
                          commit: PointerCommit.type = PointerCommit): DataFrame =
    PointerCommit.read(spark, currentRoot(root))

  // ------------------------------------------------------------------

  /** SCD2 invariant: at most one is_current row per universal_id. */
  def violations(snapshot: DataFrame): Long =
    snapshot.filter(col("is_current") === true)
      .groupBy("universal_id").agg(count(lit(1)).as("n"))
      .filter(col("n") > 1).count()

  /** Compaction + clustering — the parquet-native approximation of the
    * reference's `OPTIMIZE ... ZORDER BY (universal_id, spider_name,
    * ingestion_date)` (silver_etl_script.py:978-983): range-repartition on
    * the cluster keys so each output file owns a contiguous key range
    * (min/max footer stats then prune key-ranged scans, the first-order
    * benefit of Z-ordering on a dominant key), sort within partitions for
    * row-group locality, and republish as a new snapshot like merge.
    * `numFiles` is the range-shuffle task count — each task writes into
    * every hive partition dir its key range touches, so expect up to
    * `numFiles` files per (spider, year, month) dir. True
    * multi-dimensional Z-order needs a space-filling-curve key — overkill
    * until scans filter on several keys at once. */
  def optimize(spark: SparkSession, path: String,
               clusterCols: Seq[String] =
                 Seq("universal_id", "spider_name", "ingestion_date"),
               numFiles: Int = 8,
               partitionColumns: Seq[String] = DefaultPartitionColumns): Long = {
    if (!PointerCommit.exists(spark, path)) return 0L
    val base = PointerCommit.version(spark, path)
    val snapshot = PointerCommit.read(spark, path)
    // the partition columns LEAD the within-partition sort: the dynamic
    // partitionBy write requires ordering on them and would otherwise
    // insert its own sort, silently discarding the cluster-key order.
    val writeOrder = (partitionColumns ++ clusterCols).distinct
    val clustered = snapshot
      .repartitionByRange(numFiles, clusterCols.map(col): _*)
      .sortWithinPartitions(writeOrder.map(col): _*)
    PointerCommit.publishFrom(clustered, path, partitionColumns, base)
  }
}

/** How the silver SCD2 table is laid out on disk — the seam that lets
  * SilverEtl/GoldEtl/EtlRunner run either layout without caring which. */
sealed trait SilverLayout {
  /** Run the SCD2 merge for this layout; returns post-merge total rows. */
  def merge(spark: SparkSession, newBatch: DataFrame, path: String,
            asOfDate: Column): Long
  /** Full history (current + closed versions). */
  def read(spark: SparkSession, path: String): DataFrame
  /** Only the live rows. */
  def readCurrent(spark: SparkSession, path: String): DataFrame
  def exists(spark: SparkSession, path: String): Boolean
}

/** Reference-parity single table: history and current rows interleave at
  * `path`; every merge rewrites all of it. */
case object FlatLayout extends SilverLayout {
  override def merge(spark: SparkSession, newBatch: DataFrame, path: String,
                     asOfDate: Column): Long =
    Scd2.merge(spark, newBatch, path, asOfDate = asOfDate)
  override def read(spark: SparkSession, path: String): DataFrame =
    PointerCommit.read(spark, path)
  override def readCurrent(spark: SparkSession, path: String): DataFrame =
    PointerCommit.read(spark, path).filter(col("is_current") === true)
  override def exists(spark: SparkSession, path: String): Boolean =
    PointerCommit.exists(spark, path)
}

/** Scale layout: `path/current` rewriteable, `path/closed` append-only —
  * per-merge write volume is O(live keys + day's churn), not O(history). */
case object RegionedLayout extends SilverLayout {
  override def merge(spark: SparkSession, newBatch: DataFrame, path: String,
                     asOfDate: Column): Long =
    Scd2.mergeRegioned(spark, newBatch, path, asOfDate = asOfDate)
  override def read(spark: SparkSession, path: String): DataFrame =
    Scd2.readRegioned(spark, path)
  override def readCurrent(spark: SparkSession, path: String): DataFrame =
    Scd2.readRegionedCurrent(spark, path)
  override def exists(spark: SparkSession, path: String): Boolean =
    PointerCommit.exists(spark, Scd2.currentRoot(path))
}
