package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.corpus.{CorpusPipeline, IncrementalCurate}
import graft.operators.{LshBandIndex, MinHashLSH}
import graft.store.SnapshotStore

/** The sequential ≡ full-recompute identity behind cp6/s19: curating a
  * batch against the indexed exact-survivor history must equal
  * [[CorpusPipeline.curate]] over history ∪ batch RESTRICTED TO BATCH
  * ROWS — including the awkward component shapes (exact dup of
  * history, batch chained to history through another batch doc,
  * batch-only clusters), each planted and asserted non-vacuous. */
class IncrementalCurateSpec extends SparkSuite {

  private def longText(seed: Int, n: Int = 120): String =
    (0 until n).map(j => s"w${seed}_$j").mkString(" ")

  // replacement token chosen (with the p2 offset below) so the FIXED
  // portable hash family lands every planted pair on its intended side
  // of the 13/16 agreement cut with margin: goods draw 13-15, the
  // transitive pair draws 10 (searched offline over token × offset ×
  // seed against the exact md5+xor math; any fixed 16-perm family
  // makes borderline-J fixtures a deterministic draw, so the draw is
  // pinned here rather than left to luck)
  private def mutate(t: String, pos: Int): String = {
    val a = t.split(" "); a(pos) = s"mxg$pos"; a.mkString(" ")
  }

  private def mutateAll(t: String, ps: Seq[Int]): String =
    ps.foldLeft(t)(mutate)

  private def mkDocs(rows: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    rows.map { case (id, t) => (id, t, "en", t.length.toLong, "src") }
      .toDF("doc_id", "text", "lang", "n_chars", "source")
  }

  // history: H1(10) ~ H2(20) near-dups (H2 non-canonical), H3(30) and
  // H4(40) unique, fillers 50-53
  private val tA = longText(1)
  private val tC = longText(3)
  // the transitive chain H4 ~ 620 ~ 630 (but H4 !~ 630) needs the
  // Jaccard triangle: 620 and 630 mutate DISJOINT 8-word sets of a
  // 300-word base, so J(H4,620) ≈ J(620,630) ≈ 0.85 (paired) while
  // J(H4,630) ≈ 0.72 (16 words apart — under the 0.8 agreement cut)
  private val tD = longText(4, n = 300)
  private val p1 = Seq(20, 50, 80, 110, 140, 170, 200, 230)
  private val p2 = p1.map(_ + 13)
  private val histRows = Seq(
    10L -> tA, 20L -> mutate(tA, 5), 30L -> longText(2), 40L -> tD) ++
    (0 until 4).map(i => (50L + i) -> longText(10 + i))
  // batch: 500 exact-dups H3 (exact stage); 510 near-dups H1/H2
  // (hist-link drop); 600~610 batch-only cluster (min survives);
  // 620~630 cluster where ONLY 620 near-dups H4 (component dies WHOLE —
  // 630 reaches history strictly through 620); 700 clean
  private val batchRows = Seq(
    500L -> longText(2),
    510L -> mutate(tA, 50),
    600L -> tC, 610L -> mutate(tC, 7),
    620L -> mutateAll(tD, p1), 630L -> mutateAll(tD, p1 ++ p2),
    700L -> longText(99))

  private lazy val world: (String, DataFrame) = {
    val curRoot = java.nio.file.Files
      .createTempDirectory("graft_incurate_spec").toString + "/t"
    val curatedHist = IncrementalCurate.curateHistory(spark, mkDocs(histRows))
    IncrementalCurate.publishDelta(spark, curRoot, curatedHist, None)
    val g1 = LshBandIndex.ensureForSnapshot(spark, curRoot, portable = true)
    val accepted = IncrementalCurate.curateBatch(spark, mkDocs(batchRows),
      curRoot, g1).localCheckpoint(true)
    (curRoot, accepted)
  }

  test("planted pair geometry is non-vacuous (each drop path exercised)") {
    val all = mkDocs(histRows ++ batchRows)
    val pairs = MinHashLSH.portablePairs(all)
      .filter(col("est_jaccard") >= IncrementalCurate.MinJaccard)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((10L, 20L)), "H1~H2 must near-dup")
    assert(pairs.contains((10L, 510L)) || pairs.contains((20L, 510L)),
      "510 must link to history")
    assert(pairs.contains((600L, 610L)), "batch-only cluster must pair")
    assert(pairs.contains((40L, 620L)), "620 must link to H4")
    assert(pairs.contains((620L, 630L)), "620~630 must pair")
    assert(!pairs.contains((40L, 630L)),
      "630 must reach history only THROUGH 620 (the transitive case)")
    assert(!pairs.exists(p => p._1 == 700L || p._2 == 700L))
  }

  test("batch decisions equal the full recompute restricted to batch rows") {
    val (_, accepted) = world
    val all = mkDocs(histRows ++ batchRows)
    val (full, _) = CorpusPipeline.curate(spark, all,
      langs = IncrementalCurate.Langs,
      minChars = IncrementalCurate.MinChars,
      minJaccard = IncrementalCurate.MinJaccard,
      precomputedPairs = Some(MinHashLSH.portablePairs(all)))
    val expected = full.filter(col("doc_id") >= 500)
      .select("doc_id", "split").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val got = accepted.filter(col("is_canonical"))
      .select("doc_id", "split").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == expected, s"sequential=$got full=$expected")
    // and the planted shapes landed where the construction intends:
    val ids = got.map(_._1)
    assert(!ids.contains(500L), "exact dup of history must drop")
    assert(!ids.contains(510L), "history-linked doc must drop")
    assert(ids.contains(600L) && !ids.contains(610L),
      "batch-only cluster keeps its min")
    assert(!ids.contains(620L) && !ids.contains(630L),
      "a component touching history dies WHOLE (630 transitively)")
    assert(ids.contains(700L), "clean doc survives")
  }

  test("exact-survivor rows that lost near-dup stay in the delta " +
    "(the index must see them tomorrow)") {
    val (_, accepted) = world
    val rows = accepted.select("doc_id", "is_canonical").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    // 610/620/630 are quality+exact survivors — present, non-canonical
    assert(rows.get(610L).contains(false))
    assert(rows.get(620L).contains(false))
    assert(rows.get(630L).contains(false))
    // 500 failed EXACT dedup — not even in the delta
    assert(!rows.contains(500L))
  }

  test("a redelivered batch (at-least-once ingest) curates to the " +
    "identical delta — replayed rows never duplicate") {
    val (curRoot, accepted) = world
    // the index generation the original curation probed
    val g1 = LshBandIndex.currentGenPath(spark,
      s"store:$curRoot", portable = true).get
    // replay the WHOLE batch plus the already-curated ids mixed in
    val replay = mkDocs(batchRows ++ histRows.take(3))
    val again = IncrementalCurate.curateBatch(spark, replay, curRoot, g1)
    val a1 = accepted.select("doc_id", "is_canonical").collect()
      .map(r => (r.getLong(0), r.getBoolean(1))).toSet
    val a2 = again.select("doc_id", "is_canonical").collect()
      .map(r => (r.getLong(0), r.getBoolean(1))).toSet
    assert(a1 == a2, "replay must reproduce the identical delta")
  }

  test("publish + advance: the store and index carry exactly the " +
    "exact-survivors of history ∪ batch; prior batches carried BY " +
    "REFERENCE — byte-identical paths, O(batch) write volume") {
    val (curRoot, accepted) = world
    val snapBefore = SnapshotStore.currentName(spark, curRoot).get
    def listFiles(glob: String): Set[(String, Long, Long)] = {
      val p = new org.apache.hadoop.fs.Path(glob)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      Option(fs.globStatus(p)).getOrElse(Array.empty)
        .map(st => (st.getPath.toString, st.getModificationTime, st.getLen))
        .toSet
    }
    val snaps = s"$curRoot/${SnapshotStore.SnapshotsDir}"
    val v1Files = listFiles(s"$snaps/$snapBefore/batch_id=*/*")
    assert(v1Files.nonEmpty, "day-1 publish must be batch_id-partitioned")
    val v2 = IncrementalCurate.publishDelta(spark, curRoot, accepted,
      Some(snapBefore))
    val g2 = LshBandIndex.advanceForSnapshotWithBatch(spark, curRoot,
      accepted, portable = true)
    // O(churn): v1's files are untouched on disk — identical path,
    // mtime and size — and v2's version dir holds ONLY the batch
    assert(listFiles(s"$snaps/$snapBefore/batch_id=*/*") == v1Files,
      "carried partition must keep byte-identical files")
    val v2Parts = listFiles(s"$snaps/$v2/batch_id=*")
      .map(t => new org.apache.hadoop.fs.Path(t._1).getName)
    assert(v2Parts == Set(s"batch_id=$v2"),
      s"the new version writes only its own batch partition: $v2Parts")
    // the manifest carries day 1 by reference and names the fresh batch
    val entries = SnapshotStore.currentEntries(spark, curRoot).get
    assert(entries(s"batch_id=$snapBefore") == snapBefore)
    assert(entries(s"batch_id=$v2") == v2)
    val indexed = LshBandIndex.bandsOf(spark, g2)
      .select("__id").distinct().collect().map(_.getLong(0)).toSet
    val stored = SnapshotStore.read(spark, curRoot)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(indexed == stored, "index ids must equal the curated table's")
    // 500 (exact dup) is in neither; 610/620/630 are in both
    assert(!stored.contains(500L) && stored.contains(630L))
    // the advance CHAINED (O(batch)) rather than rebuilt
    assert(spark.read.parquet(s"$g2/meta").head()
      .getAs[String]("parent") != null,
      "count-verified disjoint batch must chain a delta")
  }

  test("consolidate: content identical, version fan-out resets to 1, " +
    "delta publishes continue on top") {
    val (curRoot, _) = world // day-1 + delta already published above
    val before = SnapshotStore.read(spark, curRoot)
      .select("doc_id", "is_canonical", "split").collect()
      .map(r => (r.getLong(0), r.getBoolean(1), r.getString(2))).toSet
    def fanout = SnapshotStore.currentEntries(spark, curRoot)
      .get.values.toSet.size
    assert(fanout >= 2, "the two-batch store must span two versions")
    // below the valve: no-op
    assert(IncrementalCurate.consolidateIfWide(spark, curRoot,
      maxFanout = 10).isEmpty)
    val v = IncrementalCurate.consolidate(spark, curRoot)
    assert(fanout == 1, "every entry points at the consolidated version")
    assert(SnapshotStore.read(spark, curRoot)
      .select("doc_id", "is_canonical", "split").collect()
      .map(r => (r.getLong(0), r.getBoolean(1), r.getString(2))).toSet
      == before, "consolidation must not change the logical table")
    // a further delta lands on top of the consolidated base
    import spark.implicits._
    val extra = Seq((900L, longText(77), "en", 1200L, "src"))
      .toDF("doc_id", "text", "lang", "n_chars", "source")
      .withColumn("content_hash", md5(col("text")))
      .withColumn("is_canonical", lit(true))
      .withColumn("split", graft.operators.Splits.hashSplit(col("doc_id")))
    IncrementalCurate.publishDelta(spark, curRoot, extra, Some(v))
    assert(fanout == 2)
    assert(SnapshotStore.read(spark, curRoot)
      .filter(col("doc_id") === 900L).count() == 1L)
  }

  test("forget purges derived LSH signatures: superseded generations " +
    "leave disk and the fresh chain indexes no forgotten doc") {
    // isolated world — forget mutates the store and the index
    val curRoot = java.nio.file.Files
      .createTempDirectory("graft_incurate_forget").toString + "/t"
    val curatedHist = IncrementalCurate.curateHistory(spark, mkDocs(histRows))
    IncrementalCurate.publishDelta(spark, curRoot, curatedHist, None)
    LshBandIndex.ensureForSnapshot(spark, curRoot, portable = true)
    val idxRoot = LshBandIndex.indexPath(s"portable:store:$curRoot")
    val idxPath = new org.apache.hadoop.fs.Path(idxRoot)
    val fs = idxPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def gens: Set[String] = fs.listStatus(idxPath)
      .filter(_.isDirectory).map(_.getPath.getName).toSet
    val before = gens
    assert(before.nonEmpty)
    val (_, rewritten, _) = IncrementalCurate.forget(spark, curRoot, Seq(10L))
    assert(rewritten >= 1)
    val after = gens
    assert(after.intersect(before).isEmpty,
      s"superseded generations must leave disk, still present: " +
        after.intersect(before).mkString(", "))
    assert(after.size == 1, s"expected one fresh generation, got $after")
    val gen = graft.store.GenLog.currentGen(fs, idxRoot).get
    val indexed = spark.read.parquet(
        new org.apache.hadoop.fs.Path(gen, "bands").toString)
      .select("__id").distinct().collect().map(_.getLong(0)).toSet
    assert(!indexed.contains(10L),
      "the fresh chain must not index the forgotten doc")
    assert(indexed.contains(30L), "surviving docs stay indexed")
    // the snapshot-keyed memo serves the fresh generation without rebuild
    assert(LshBandIndex.ensureForSnapshot(spark, curRoot, portable = true)
      === gen.toString)
  }
}
