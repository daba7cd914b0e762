package graft

import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.scd.{FlatLayout, RegionedLayout, Scd2}
import graft.store.{PointerCommit, SnapshotStore}

/** The round-3 verdict's one scale-killer: the flat SCD2 merge rewrites
  * the full history snapshot every run. The regioned layout must (a)
  * produce byte-for-byte the same logical table as the flat merge, (b)
  * never rewrite a previously-written close-out file — append-only
  * closed region — and (c) keep per-day write volume proportional to
  * live keys + churn, not to accumulated history. All three are pinned
  * here, (b)/(c) by inventorying actual files on disk across a 3-day
  * soak. */
class Scd2RegionedSpec extends SparkSuite {

  private def mkBatch(ids: Range, name: String, date: String) = {
    import spark.implicits._
    ids.map(i => (s"u$i", s"$name-$i", s"addr-$i", true, date, null: String,
      "sp", "2025", "01"))
      .toDF("universal_id", "project_name", "address", "is_current",
        "valid_from", "valid_to", "spider_name", "ingestion_year",
        "ingestion_month")
  }

  private def canon(df: DataFrame): Seq[String] = {
    val cols = df.columns.sorted.toSeq
    df.select(cols.map(col): _*).collect()
      .map(_.toSeq.map(String.valueOf).mkString("|")).toSeq.sorted
  }

  /** (path, length) of every data file under `root`. */
  private def inventory(root: String): Set[(String, Long)] = {
    val p = new Path(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return Set.empty
    val it = fs.listFiles(p, true)
    val b = Set.newBuilder[(String, Long)]
    while (it.hasNext) {
      val st = it.next()
      if (st.getPath.getName.endsWith(".parquet"))
        b += ((st.getPath.toUri.getPath, st.getLen))
    }
    b.result()
  }

  // day 1: 2000 keys; day 2: 400 updated + 200 new; day 3: 400 updated
  private val day1 = 0 until 2000
  private val day2upd = 0 until 400
  private val day2new = 2000 until 2200
  private val day3upd = 1000 until 1400

  test("regioned merge equals flat merge across a 3-day churn sequence") {
    val base = Files.createTempDirectory("graft_scd2_reg_eq").toString
    val flat = s"$base/flat"
    val reg = s"$base/reg"
    def runDay(batch: DataFrame, date: String): (Long, Long) = {
      val nFlat = Scd2.merge(spark, batch, flat, asOfDate = lit(date))
      val nReg = Scd2.mergeRegioned(spark, batch, reg, asOfDate = lit(date))
      (nFlat, nReg)
    }
    val d1 = runDay(mkBatch(day1, "v1", "2025-01-15"), "2025-01-15")
    assert(d1._1 === d1._2)
    val d2 = runDay(
      mkBatch(day2upd, "v2", "2025-01-16")
        .unionByName(mkBatch(day2new, "v1", "2025-01-16")), "2025-01-16")
    assert(d2._1 === d2._2 && d2._1 === 2000 + 200 + 400)
    val d3 = runDay(mkBatch(day3upd, "v3", "2025-01-17"), "2025-01-17")
    assert(d3._1 === d3._2 && d3._1 === 2600 + 400)

    val flatSnap = PointerCommit.read(spark, flat)
    val regSnap = Scd2.readRegioned(spark, reg)
    assert(canon(flatSnap) === canon(regSnap))
    assert(Scd2.violations(regSnap) === 0)
    // the cheap consumer path: current region only, no history union
    assert(Scd2.readRegionedCurrent(spark, reg).count() === 2200)
    assert(RegionedLayout.readCurrent(spark, reg)
      .filter(col("is_current") === false).count() === 0)
  }

  test("closed region is append-only and write volume tracks churn, not history") {
    val root = Files.createTempDirectory("graft_scd2_reg_soak").toString + "/t"
    Scd2.mergeRegioned(spark, mkBatch(day1, "v1", "2025-01-15"), root,
      asOfDate = lit("2025-01-15"))
    val afterD1 = inventory(root)

    Scd2.mergeRegioned(spark,
      mkBatch(day2upd, "v2", "2025-01-16")
        .unionByName(mkBatch(day2new, "v1", "2025-01-16")), root,
      asOfDate = lit("2025-01-16"))
    val afterD2 = inventory(root)
    val closedAfterD2 = inventory(Scd2.closedRoot(root))

    Scd2.mergeRegioned(spark, mkBatch(day3upd, "v3", "2025-01-17"), root,
      asOfDate = lit("2025-01-17"))
    val afterD3 = inventory(root)
    val closedAfterD3 = inventory(Scd2.closedRoot(root))

    // append-only: every closed file present after day 2 survives day 3
    // at the same path and size — day 3 never rewrote day 2's closures
    assert(closedAfterD2.subsetOf(closedAfterD3),
      s"day-3 merge rewrote closed files: ${closedAfterD2 -- closedAfterD3}")

    // write volume: each day's new bytes cover the current region
    // (O(live keys)) plus that day's closures only. The flat layout
    // would ALSO rewrite all prior closures, so its day-3 delta strictly
    // exceeds the regioned one by the accumulated history. Proportions:
    // day-3 current rewrite ≈ day-2's (live set 2600 vs 2200), day-3
    // closed delta ≈ 400 rows — so the day-3 delta must stay within ~2x
    // of day-2's even as history accumulates, and closed deltas must be
    // small next to the current region.
    def delta(b: Set[(String, Long)], a: Set[(String, Long)]): Long =
      (a -- b).toSeq.map(_._2).sum
    val d2Bytes = delta(afterD1, afterD2)
    val d3Bytes = delta(afterD2, afterD3)
    val d3Closed = delta(closedAfterD2, closedAfterD3)
    assert(d3Bytes <= d2Bytes * 2,
      s"day-3 write volume $d3Bytes not churn-proportional (day-2 $d2Bytes)")
    // closures are 400 rows vs 2600 current — well under the current
    // region's share of the day's write
    assert(d3Closed < d3Bytes, s"closed delta $d3Closed >= total $d3Bytes")

    // read-back correctness at the end of the soak
    val snap = Scd2.readRegioned(spark, root)
    assert(snap.count() === 3000)
    assert(snap.filter(col("is_current") === false).count() === 800)
    assert(Scd2.violations(snap) === 0)
    // valid_to partitioning visible for pruned history scans
    assert(closedAfterD3.exists(_._1.contains("valid_to=2025-01-16")))
    assert(closedAfterD3.exists(_._1.contains("valid_to=2025-01-17")))
  }

  /** Faithful crash simulation: snapshot the whole current-region root
    * (pointer, snapshot dirs and claims together — exactly what a crash
    * before its pointer flip leaves behind) so a "retry" re-reads the
    * identical pre-publish state, version included. Re-publishing stale
    * DATA would legitimately advance the version and describe a
    * different history, not a crash. */
  private def copyDir(src: String, dst: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val s = new Path(src); val d = new Path(dst)
    val fs = s.getFileSystem(conf)
    if (fs.exists(d)) fs.delete(d, true)
    org.apache.hadoop.fs.FileUtil.copy(fs, s, fs, d, false, conf)
  }

  test("crash-retry of the same merge does not duplicate close-outs") {
    val tmp = Files.createTempDirectory("graft_scd2_reg_retry").toString
    val root = tmp + "/t"
    val d1 = mkBatch(0 until 300, "v1", "2025-01-15")
    val d2 = mkBatch(0 until 100, "v2", "2025-01-16")
    Scd2.mergeRegioned(spark, d1, root, asOfDate = lit("2025-01-15"))
    copyDir(Scd2.currentRoot(root), tmp + "/saved")
    Scd2.mergeRegioned(spark, d2, root, asOfDate = lit("2025-01-16"))
    // simulate a writer that died AFTER appending closures but BEFORE
    // publishing the new current region: restore the post-d1 current
    // dir wholesale and re-run the same merge — the merge-identity
    // marker must swallow the recomputed closures, not append them twice
    copyDir(tmp + "/saved", Scd2.currentRoot(root))
    Scd2.mergeRegioned(spark, d2, root, asOfDate = lit("2025-01-16"))
    val snap = Scd2.readRegioned(spark, root)
    assert(snap.filter(col("is_current") === false).count() === 100)
    assert(Scd2.violations(snap) === 0)
    assert(snap.count() === 400)
  }

  test("retry in the ambiguous window (started without done) dedups landed rows") {
    val tmp = Files.createTempDirectory("graft_scd2_reg_amb").toString
    val root = tmp + "/t"
    Scd2.mergeRegioned(spark, mkBatch(0 until 300, "v1", "2025-01-15"), root,
      asOfDate = lit("2025-01-15"))
    copyDir(Scd2.currentRoot(root), tmp + "/saved")
    Scd2.mergeRegioned(spark, mkBatch(0 until 100, "v2", "2025-01-16"), root,
      asOfDate = lit("2025-01-16"))
    // simulate the crash window between the append job commit and the
    // done-marker write: closures landed, started-marker present,
    // done-marker missing, current region never published
    copyDir(tmp + "/saved", Scd2.currentRoot(root))
    val markers = new Path(Scd2.closedRoot(root), "_merge_markers")
    val fs = markers.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dones = fs.listStatus(markers).filter(_.getPath.getName.endsWith(".done"))
    assert(dones.nonEmpty, "done marker should exist after a clean merge")
    dones.foreach(f => fs.delete(f.getPath, false))
    // retry routes through the payload-dedup arm: the landed rows are
    // recognized and not appended twice
    Scd2.mergeRegioned(spark, mkBatch(0 until 100, "v2", "2025-01-16"), root,
      asOfDate = lit("2025-01-16"))
    val snap = Scd2.readRegioned(spark, root)
    assert(snap.filter(col("is_current") === false).count() === 100)
    assert(snap.count() === 400)
    assert(Scd2.violations(snap) === 0)
  }

  test("same-day A→B→A flip-flop keeps every close (the r15 ADVICE drop)") {
    val root = Files.createTempDirectory("graft_scd2_reg_aba").toString + "/t"
    Scd2.mergeRegioned(spark, mkBatch(0 until 20, "A", "2025-01-15"), root,
      asOfDate = lit("2025-01-15"))
    // A→B→A→B all on day 15: the third merge's close rows (payload A,
    // vf=15, vt=15) are byte-identical to the FIRST merge's — a
    // payload-keyed retry dedup swallowed them and lost a history row.
    // Merge identity (current-region version + payload hash) keeps them:
    // the two A-closes were derived from different current versions.
    for (v <- Seq("B", "A", "B"))
      Scd2.mergeRegioned(spark, mkBatch(0 until 20, v, "2025-01-15"), root,
        asOfDate = lit("2025-01-15"))
    val snap = Scd2.readRegioned(spark, root)
    assert(snap.count() === 80) // 20 current B + 60 closed A,B,A
    assert(snap.filter(col("is_current") === false).count() === 60)
    assert(snap.filter(!col("is_current") &&
      col("project_name") === "A-0").count() === 2,
      "one of the two A-version closes was swallowed as a replay")
    assert(Scd2.violations(snap) === 0)

    // parity: the one-shot flat merge keeps both A-closes naturally
    // (it republishes the whole history, no retry dedup at all) — the
    // regioned layout must produce the SAME logical table under the
    // ABA sequence, which is exactly where the pre-r16 payload dedup
    // made the two layouts silently diverge
    val flatPath = Files.createTempDirectory("graft_scd2_flat_aba")
      .toString + "/t"
    for (v <- Seq("A", "B", "A", "B"))
      Scd2.merge(spark, mkBatch(0 until 20, v, "2025-01-15"), flatPath,
        asOfDate = lit("2025-01-15"))
    assert(canon(PointerCommit.read(spark, flatPath)) === canon(snap))
  }

  test("intra-day multi-merge keeps every close; midnight-straddle replay still swallowed") {
    val tmp = Files.createTempDirectory("graft_scd2_reg_multi").toString
    val root = tmp + "/t"
    Scd2.mergeRegioned(spark, mkBatch(0 until 50, "v1", "2025-01-15"), root,
      asOfDate = lit("2025-01-15"))
    // three merges on the SAME day: v2 closes v1 (vt=16), v3 closes v2
    // (a ZERO-DURATION version: vf = vt = 2025-01-16), v4 closes v3
    // (also vf=16). The r14 (uid, valid_from)-keyed retry dedup dropped
    // v3's close-out — an existing closed row at (uid, vf=16) (v2's)
    // matched it (r14 ADVICE); merge-identity dedup keeps it because
    // each merge's closes carry a distinct current-region version.
    for (v <- Seq("v2", "v3"))
      Scd2.mergeRegioned(spark, mkBatch(0 until 50, v, "2025-01-16"), root,
        asOfDate = lit("2025-01-16"))
    copyDir(Scd2.currentRoot(root), tmp + "/saved") // post-v3 state
    Scd2.mergeRegioned(spark, mkBatch(0 until 50, "v4", "2025-01-16"), root,
      asOfDate = lit("2025-01-16"))
    val snap = Scd2.readRegioned(spark, root)
    assert(snap.count() === 200) // 50 current v4 + 150 closed v1/v2/v3
    assert(snap.filter(col("is_current") === false).count() === 150)
    assert(snap.filter(col("project_name") === "v2-0").count() === 1)
    assert(snap.filter(col("project_name") === "v3-0").count() === 1)
    assert(Scd2.violations(snap) === 0)

    // midnight-straddle replay: the writer died after appending v4's
    // closures (vt=16) but before publishing current; the retry runs
    // past midnight and stamps 17. The merge identity hashes the payload
    // WITHOUT valid_to, so the retry maps to the same done-marker and is
    // skipped exactly — no second close per key at any retry delay.
    copyDir(tmp + "/saved", Scd2.currentRoot(root))
    Scd2.mergeRegioned(spark, mkBatch(0 until 50, "v4", "2025-01-16"), root,
      asOfDate = lit("2025-01-17"))
    val snap2 = Scd2.readRegioned(spark, root)
    assert(snap2.filter(col("is_current") === false).count() === 150)
    assert(snap2.count() === 200)
    assert(Scd2.violations(snap2) === 0)
  }

  test("regioned merge under the pointer protocol: parity + vacuum keeps referenced batches") {
    val root = Files.createTempDirectory("graft_scd2_reg_ptr").toString + "/t"
    def day(batch: DataFrame, date: String): Long =
      Scd2.mergeRegioned(spark, batch, root, asOfDate = lit(date))
    day(mkBatch(day1, "v1", "2025-01-15"), "2025-01-15")
    day(mkBatch(day2upd, "v2", "2025-01-16")
      .unionByName(mkBatch(day2new, "v1", "2025-01-16")), "2025-01-16")
    val n3 = day(mkBatch(day3upd, "v3", "2025-01-17"), "2025-01-17")
    assert(n3 === 3000)

    // three closed-batch versions exist (v1 has no closures — appends
    // started on day 2); vacuum with keepLast=1 must preserve the day-2
    // batch dir because the current manifest still references it
    val closed = Scd2.closedRoot(root)
    graft.store.SnapshotStore.vacuum(spark, closed, keepLast = 1)
    val snap = Scd2.readRegioned(spark, root)
    assert(snap.count() === 3000)
    assert(snap.filter(col("is_current") === false).count() === 800)
    assert(snap.filter(col("valid_to") === "2025-01-16").count() === 400)
    assert(Scd2.violations(snap) === 0)

    // layout seam: RegionedLayout routes read/readCurrent/exists
    assert(RegionedLayout.exists(spark, root))
    assert(RegionedLayout.readCurrent(spark, root).count() === 2200)
    assert(canon(RegionedLayout.read(spark, root)) === canon(snap))
  }

  // keys spread over 4 spider partitions; the batch's ingestion_month is
  // a parameter so a re-ingested key can MOVE partitions
  private def mkSpiderBatch(ids: Seq[Int], name: String, date: String,
                            month: String = "01") = {
    import spark.implicits._
    ids.map(i => (s"u$i", s"$name-$i", s"addr-$i", true, date, null: String,
      s"sp${i % 4}", "2025", month))
      .toDF("universal_id", "project_name", "address", "is_current",
        "valid_from", "valid_to", "spider_name", "ingestion_year",
        "ingestion_month")
  }

  test("current-region rewrite touches only churned partitions") {
    val root = Files.createTempDirectory("graft_scd2_reg_prune").toString + "/t"
    val allKeys = 0 until 2000
    Scd2.mergeRegioned(spark, mkSpiderBatch(allKeys, "v1", "2025-01-15"), root,
      asOfDate = lit("2025-01-15"))
    val curRoot = Scd2.currentRoot(root)
    val afterD1 = inventory(curRoot)

    // day 2 churns ONLY spider sp3, and its new versions land in a NEW
    // ingestion_month partition — old sp3/month=01 rows must leave the
    // current region, sp3/month=02 must appear, sp0..sp2 must not move
    val sp3Keys = allKeys.filter(_ % 4 == 3).take(100)
    val n = Scd2.mergeRegioned(spark,
      mkSpiderBatch(sp3Keys, "v2", "2025-01-16", month = "02"), root,
      asOfDate = lit("2025-01-16"))
    assert(n === 2000 + 100) // 2000 live + 100 closed, no full-table rescan

    val afterD2 = inventory(curRoot)
    val untouched = (f: (String, Long)) => !f._1.contains("spider_name=sp3")
    // the untouched spiders' files survive byte-identical at the same
    // paths — a full-region republish would rewrite every one of them
    assert(afterD1.filter(untouched) === afterD2.filter(untouched),
      "merge rewrote current partitions the batch never touched")
    // every new byte is confined to the churned spider
    assert((afterD2 -- afterD1).forall(_._1.contains("spider_name=sp3")),
      s"fresh files outside churned partitions: ${(afterD2 -- afterD1).filter(untouched)}")

    val snap = Scd2.readRegioned(spark, root)
    assert(snap.count() === 2100)
    assert(snap.filter(col("is_current") === true).count() === 2000)
    assert(Scd2.violations(snap) === 0)
    val cur = Scd2.readRegionedCurrent(spark, root)
    assert(cur.filter(col("ingestion_month") === "02").count() === 100)
    assert(cur.filter(col("spider_name") === "sp3")
      .filter(col("ingestion_month") === "01").count() === 500 - 100)
  }

  test("no-op re-merge of an unchanged batch writes nothing at all") {
    val root = Files.createTempDirectory("graft_scd2_reg_noop").toString + "/t"
    val batch = mkSpiderBatch(0 until 500, "v1", "2025-01-15")
    Scd2.mergeRegioned(spark, batch, root, asOfDate = lit("2025-01-15"))
    val before = inventory(root)
    // same content again: zero churned partitions → no close-outs, no
    // current-region publish — the merge is a pure read
    val n = Scd2.mergeRegioned(spark, batch, root, asOfDate = lit("2025-01-16"))
    assert(n === 500)
    assert(inventory(root) === before,
      "idempotent re-merge rewrote files despite zero churn")
  }

  test("pointer protocol: incremental manifest publishes only churned current partitions") {
    val root = Files.createTempDirectory("graft_scd2_reg_ptr_inc").toString + "/t"
    val allKeys = 0 until 400
    Scd2.mergeRegioned(spark, mkSpiderBatch(allKeys, "v1", "2025-01-15"), root,
      asOfDate = lit("2025-01-15"))
    val sp3Keys = allKeys.filter(_ % 4 == 3).take(40)
    val n = Scd2.mergeRegioned(spark,
      mkSpiderBatch(sp3Keys, "v2", "2025-01-16", month = "02"), root,
      asOfDate = lit("2025-01-16"))
    assert(n === 440)

    // the incremental version dir holds ONLY the churned spider's
    // partitions; everything else is carried forward by manifest reference
    val curRoot = Scd2.currentRoot(root)
    val v2dir = s"$curRoot/_snapshots/v000000002"
    val v2files = inventory(v2dir)
    assert(v2files.nonEmpty)
    assert(v2files.forall(_._1.contains("spider_name=sp3")),
      s"v2 wrote non-churned partitions: ${v2files.filterNot(_._1.contains("spider_name=sp3"))}")

    val cur = Scd2.readRegionedCurrent(spark, root)
    assert(cur.count() === 400)
    assert(cur.filter(col("ingestion_month") === "02").count() === 40)
    assert(Scd2.violations(Scd2.readRegioned(spark, root)) === 0)

    // time travel to the pre-merge snapshot still works...
    assert(graft.store.SnapshotStore
      .readAt(spark, curRoot, "v000000001").count() === 400)
    // ...and vacuum keeps v1 alive even at keepLast=1, because v2's
    // manifest carries its untouched partitions by reference
    graft.store.SnapshotStore.vacuum(spark, curRoot, keepLast = 1)
    assert(Scd2.readRegionedCurrent(spark, root).count() === 400)
  }

  test("closed-region compaction merges small files and preserves content exactly") {
    val root = Files.createTempDirectory("graft_scd2_compact").toString + "/t"
    Scd2.mergeRegioned(spark, mkBatch(0 until 500, "v1", "2025-01-15"), root,
      asOfDate = lit("2025-01-15"))
    // two merges closing DIFFERENT keys on the SAME date: two file sets
    // land in the one valid_to partition — the small-files accretion
    Scd2.mergeRegioned(spark, mkBatch(0 until 50, "v2", "2025-01-16"), root,
      asOfDate = lit("2025-01-16"))
    Scd2.mergeRegioned(spark, mkBatch(50 until 100, "v3", "2025-01-16"), root,
      asOfDate = lit("2025-01-16"))
    // data files the live closed snapshot holds for one valid_to date,
    // across every close_batch entry its manifest names
    val closed = Scd2.closedRoot(root)
    def files(date: String): Int =
      SnapshotStore.currentEntries(spark, closed, 2).get.toSeq
        .filter(_._1.startsWith(s"valid_to=$date/"))
        .map { case (rel, ver) =>
          inventory(s"$closed/${SnapshotStore.SnapshotsDir}/$ver/$rel").size }
        .sum
    assert(files("2025-01-16") >= 2, "fixture should have accreted file sets")
    val before = canon(Scd2.readRegioned(spark, root))

    assert(Scd2.compactClosed(spark, root, maxFilesPerPartition = 1) === 1)
    assert(files("2025-01-16") === 1)
    assert(canon(Scd2.readRegioned(spark, root)) === before)
    // append-only resumes cleanly after compaction
    Scd2.mergeRegioned(spark, mkBatch(100 until 120, "v4", "2025-01-17"), root,
      asOfDate = lit("2025-01-17"))
    assert(Scd2.readRegioned(spark, root).count() === 500 + 120)
    // idempotent: nothing left to compact at the same threshold
    assert(Scd2.compactClosed(spark, root, maxFilesPerPartition = 1) <= 1)
  }

  test("closed-region compaction under the pointer protocol: atomic manifest flip") {
    val root = Files.createTempDirectory("graft_scd2_compact_ptr").toString + "/t"
    def day(batch: DataFrame, date: String): Unit = {
      Scd2.mergeRegioned(spark, batch, root, asOfDate = lit(date)); ()
    }
    day(mkBatch(0 until 500, "v1", "2025-01-15"), "2025-01-15")
    day(mkBatch(0 until 50, "v2", "2025-01-16"), "2025-01-16")
    day(mkBatch(50 until 100, "v3", "2025-01-16"), "2025-01-16")
    val before = canon(Scd2.readRegioned(spark, root))

    assert(Scd2.compactClosed(spark, root, maxFilesPerPartition = 1) === 1)
    assert(canon(Scd2.readRegioned(spark, root)) === before)
    // the compacted snapshot survives a tight vacuum (manifest-referenced)
    graft.store.SnapshotStore.vacuum(spark, Scd2.closedRoot(root), keepLast = 1)
    assert(canon(Scd2.readRegioned(spark, root)) === before)
  }

  test("optimizeCurrentWithStats: content identical, range reads skip a " +
    "strict file subset, and the next merge still converges") {
    val root = Files.createTempDirectory("graft_scd2_stats").toString + "/t"
    Scd2.mergeRegioned(spark, mkBatch(day1, "v1", "2025-01-15"), root,
      asOfDate = lit("2025-01-15"))
    val before = canon(Scd2.readRegionedCurrent(spark, root))
    Scd2.optimizeCurrentWithStats(spark, root, sortCol = "universal_id",
      numFiles = 8, statCols = Seq("universal_id"))
    // content identity through the clustering republish
    assert(canon(Scd2.readRegionedCurrent(spark, root))
      === before)
    // the sidecar-pruned range read: strict subset of files, exact rows
    val (sel, all) = graft.store.FileStats.pruneFiles(
      spark, Scd2.currentRoot(root), "universal_id", "u10", "u12")
    assert(sel.nonEmpty && sel.length < all.length,
      s"expected a strict subset, got ${sel.length}/${all.length}")
    val got = Scd2.readCurrentRange(spark, root, "universal_id",
      "u10", "u12").select("universal_id").collect()
      .map(_.getString(0)).sorted.toSeq
    val want = day1.map(i => s"u$i")
      .filter(u => u >= "u10" && u <= "u12").sorted
    assert(got === want)
    // a merge AFTER the optimize converges (the flattened region has no
    // hive dirs to prune — correct, just unpruned) and its fresh
    // snapshot carries no stale sidecar: the pruned read fails loudly
    // instead of serving yesterday's file list
    Scd2.mergeRegioned(spark, mkBatch(day2upd, "v2", "2025-01-16"), root,
      asOfDate = lit("2025-01-16"))
    val cur = Scd2.readRegionedCurrent(spark, root)
    assert(cur.count() === day1.size)
    assert(cur.filter(col("project_name").startsWith("v2")).count()
      === day2upd.size)
    val e = intercept[Exception] {
      Scd2.readCurrentRange(spark, root, "universal_id", "u10", "u12")
        .collect()
    }
    assert(e.getMessage.contains(".stats.parquet"),
      s"expected the missing-sidecar failure, got: ${e.getMessage}")
  }

  test("merge after optimize keeps UNTOUCHED partitions' rows: the " +
    "flattened snapshot has no granules to carry by reference, so the " +
    "first merge must full-width republish, not drop them") {
    import spark.implicits._
    def spiderBatch(ids: Range, name: String, spider: String,
                    date: String) =
      ids.map(i => (s"$spider-u$i", s"$name-$i", s"addr-$i", true, date,
        null: String, spider, "2025", "01"))
        .toDF("universal_id", "project_name", "address", "is_current",
          "valid_from", "valid_to", "spider_name", "ingestion_year",
          "ingestion_month")
    val root = Files.createTempDirectory("graft_scd2_mp").toString + "/t"
    val day1 = spiderBatch(0 until 300, "v1", "spA", "2025-01-15")
      .unionByName(spiderBatch(0 until 300, "v1", "spB", "2025-01-15"))
      .unionByName(spiderBatch(0 until 300, "v1", "spC", "2025-01-15"))
    Scd2.mergeRegioned(spark, day1, root,
      asOfDate = lit("2025-01-15"))
    Scd2.optimizeCurrentWithStats(spark, root, sortCol = "universal_id",
      numFiles = 4, statCols = Seq("universal_id"))
    // churn ONLY spA; spB/spC exist solely as rows inside the flat files
    Scd2.mergeRegioned(spark,
      spiderBatch(0 until 100, "v2", "spA", "2025-01-16"), root,
      asOfDate = lit("2025-01-16"))
    val cur = Scd2.readRegionedCurrent(spark, root)
    assert(cur.count() === 900,
      "untouched partitions' rows must survive the post-optimize merge")
    assert(cur.filter(col("spider_name") === "spB").count() === 300)
    assert(cur.filter(col("spider_name") === "spC").count() === 300)
    assert(cur.filter(col("project_name").startsWith("v2")).count() === 100)
    // the full republish restored hive partition granules: the NEXT
    // merge carries untouched partitions by reference again
    Scd2.mergeRegioned(spark,
      spiderBatch(100 until 200, "v3", "spB", "2025-01-17"), root,
      asOfDate = lit("2025-01-17"))
    val cur2 = Scd2.readRegionedCurrent(spark, root)
    assert(cur2.count() === 900)
    assert(cur2.filter(col("project_name").startsWith("v3")).count() === 100)
    assert(cur2.filter(col("spider_name") === "spC").count() === 300)
  }

  test("FlatLayout keeps the reference-parity single-table behavior") {
    val root = Files.createTempDirectory("graft_scd2_flat_seam").toString + "/t"
    FlatLayout.merge(spark, mkBatch(0 until 50, "v1", "2025-01-15"), root,
      lit("2025-01-15"))
    FlatLayout.merge(spark, mkBatch(0 until 50, "v2", "2025-01-16"), root,
      lit("2025-01-16"))
    // one table at `root`: history and current rows in each snapshot
    assert(FlatLayout.exists(spark, root))
    assert(SnapshotStore.versions(spark, root) === Seq("v000000001", "v000000002"))
    val snap = FlatLayout.read(spark, root)
    assert(snap.count() === 100)
    assert(snap.filter(col("is_current") === false).count() === 50)
    assert(FlatLayout.readCurrent(spark, root).count() === 50)
  }
}
