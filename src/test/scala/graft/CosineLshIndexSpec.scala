package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{CosineLsh, CosineLshIndex}

/** CosineLshIndex lifecycle — the sign-RP key index as a managed
  * generation-log artifact: split layout (narrow keys + one vec row per
  * id, keys re-derived from the written vecs), the incremental ≡
  * full-restricted probe identity, O(batch) delta advance whose chain
  * equals a from-scratch index of the union, overlap REPLACEMENT, and
  * the compaction valve. */
class CosineLshIndexSpec extends SparkSuite {

  /** Deterministic embeddings: 4 loose clusters plus planted near-dups
    * (ids ≥ 1000 are a tiny perturbation of id − 1000) so the probe has
    * real high-cosine pairs to find. */
  private def mkVecs(ids: Range, planted: Boolean = false): DataFrame = {
    import spark.implicits._
    ids.map { i =>
      val base = i % 4
      val emb = (0 until 16).map(j =>
        2.0 * math.cos(1.3 * base + 0.41 * j) +
          0.25 * math.sin(0.029 * i + 0.53 * j)).toArray
      (i.toLong, emb.toSeq)
    }.toDF("vec_id", "emb")
      .unionByName(
        if (!planted) spark.emptyDataset[(Long, Seq[Double])].toDF("vec_id", "emb")
        else ids.filter(_ % 5 == 0).map { i =>
          val base = i % 4
          val emb = (0 until 16).map(j =>
            (2.0 * math.cos(1.3 * base + 0.41 * j) +
              0.25 * math.sin(0.029 * i + 0.53 * j)) *
              (1.0 + 0.0004 * ((i + j) % 5 - 2))).toArray
          (i.toLong + 1000L, emb.toSeq)
        }.toDF("vec_id", "emb"))
  }

  private def keySet(df: DataFrame): Set[(Long, Int, Long)] =
    df.select("__id", "band", "key").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet

  private def pairSet(df: DataFrame): Set[(Long, Long)] =
    df.select("src", "dst").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("split layout: keys narrow and re-derivable, vecs one row per id, " +
    "indexed keys equal live bucketize") {
    val vecs = mkVecs(0 until 60)
    val gen = CosineLshIndex.ensure(spark, vecs,
      key = s"spec_cos_${System.nanoTime()}")
    val keys = spark.read.parquet(s"$gen/keys")
    val stored = spark.read.parquet(s"$gen/vecs")
    assert(keys.columns.toSet == Set("__id", "band", "key"),
      "key rows must not carry the embedding")
    assert(stored.columns.toSet == Set("__id", "emb"))
    assert(stored.count() == stored.select("__id").distinct().count())
    // live banding at the INDEX's default geometry (r15: the index
    // default moved to geometryFor(0.95) = 29×24 while the full-pairs
    // bucketize keeps its own dd6 defaults)
    val live = CosineLsh.bucketize(
        vecs.select(col("vec_id").as("__id"),
          col("emb").cast("array<double>").as("emb")),
        "__id", "emb", dim = 0,
        bands = CosineLshIndex.DefaultBands,
        rowsPerBand = CosineLshIndex.DefaultRowsPerBand)
      .select(col("id").as("__id"), col("band"), col("key"))
    assert(keySet(keys) == keySet(live),
      "indexed keys must equal the live sign-RP bucketize")
  }

  test("incremental pairs equal full candidate pairs restricted to the " +
    "batch, with exact cosine on every pair") {
    val all = mkVecs(0 until 80, planted = true)
    val hist = all.filter(col("vec_id") < 1000)
    val batch = all.filter(col("vec_id") >= 1000)
    val gen = CosineLshIndex.ensure(spark, hist,
      key = s"spec_cos_inc_${System.nanoTime()}")
    val inc = CosineLshIndex.incrementalPairs(batch, "vec_id", "emb",
      CosineLshIndex.narrowKeysOf(spark, gen),
      CosineLshIndex.vecsOf(spark, gen))
    graft.functions.CosineSimilarity.register(spark)
    val c = all.select(col("vec_id").cast("long").as("__id"),
      col("emb").cast("array<double>").as("emb"))
    val full = CosineLsh.candidatePairs(c, "__id", "emb", dim = 0)
      .join(c.select(col("__id").as("src"), col("emb").as("ea")), Seq("src"))
      .join(c.select(col("__id").as("dst"), col("emb").as("eb")), Seq("dst"))
      .select(col("src"), col("dst"), expr("graft_cosine(ea, eb)").as("cs"))
    val expected = full.filter(col("src") >= 1000 || col("dst") >= 1000)
    assert(pairSet(expected).nonEmpty, "identity scope must be non-vacuous")
    assert(pairSet(inc) == pairSet(expected),
      s"missed=${(pairSet(expected) -- pairSet(inc)).take(5)} " +
        s"extra=${(pairSet(inc) -- pairSet(expected)).take(5)}")
    // exact-cosine parity on the shared pairs (the settle is arithmetic,
    // not LSH-approximate)
    val incCs = inc.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    expected.collect().foreach { r =>
      val k = (r.getLong(0), r.getLong(1))
      assert(math.abs(incCs(k) - r.getDouble(2)) < 1e-12)
    }
    // and every planted pair is found above the dedup threshold
    val planted = (0 until 80).filter(_ % 5 == 0)
      .map(i => (i.toLong, i + 1000L)).toSet
    val found = inc.filter(col("cs") >= 0.95)
    assert(planted.subsetOf(pairSet(found)),
      s"planted pairs missed: ${(planted -- pairSet(found)).take(5)}")
  }

  test("snapshot-keyed revalidation is metadata-only (no corpus scan); " +
    "a count-verified batch advances as a delta") {
    import graft.store.PointerCommit
    val root = java.nio.file.Files
      .createTempDirectory("cos_snap").toString + "/t"
    val all = mkVecs(0 until 60)
    PointerCommit.publish(
      all.filter(col("vec_id") % 2 === 0), root, Nil)
    val g1 = CosineLshIndex.ensureForSnapshot(spark, root)
    CosineLshIndex.resetValidationMemo()
    val scans0 = CosineLshIndex.fingerprintScans.get()
    val g1b = CosineLshIndex.ensureForSnapshot(spark, root)
    assert(g1b == g1, "same snapshot must resolve the same generation")
    assert(CosineLshIndex.fingerprintScans.get() == scans0,
      "snapshot-keyed revalidation must not fingerprint the corpus")
    PointerCommit.publish(all, root, Nil)
    val g2 = CosineLshIndex.advanceForSnapshotWithBatch(spark, root,
      all.filter(col("vec_id") % 2 =!= 0))
    assert(g2 != g1)
    assert(keySet(CosineLshIndex.narrowKeysOf(spark, g2)) ==
      keySet(spark.read.parquet(
        s"${CosineLshIndex.ensure(spark, all,
          s"cos_snap_ref_${System.nanoTime()}")}/keys")),
      "snapshot-advanced chain must equal the from-scratch index")
    // a WRONG caller-asserted batch (count identity fails) must fall
    // back to a rebuild against the snapshot, not record a bad chain
    PointerCommit.publish(
      mkVecs(0 until 70), root, Nil)
    val g3 = CosineLshIndex.advanceForSnapshotWithBatch(spark, root,
      mkVecs(60 until 65)) // claims 5 new rows; the store grew by 10
    assert(CosineLshIndex.vecsOf(spark, g3).count() == 70,
      "failed count net must rebuild against the true snapshot")
  }

  test("delta advance chains O(batch); the chain equals a from-scratch " +
    "index; overlap REPLACES; the compaction valve collapses") {
    val key = s"spec_cos_adv_${System.nanoTime()}"
    val g1 = CosineLshIndex.ensure(spark, mkVecs(0 until 40), key)
    val g2 = CosineLshIndex.advanceWithBatch(spark, key, mkVecs(40 until 60))
    assert(g2 != g1)
    assert(keySet(CosineLshIndex.narrowKeysOf(spark, g2)) ==
      keySet(spark.read.parquet(
        s"${CosineLshIndex.ensure(spark, mkVecs(0 until 60),
          key + "_ref")}/keys")),
      "advanced chain must equal the from-scratch index of the union")
    // overlap: re-crawl of ids 50-59 with DIFFERENT vectors must replace
    val churn = mkVecs(50 until 70).withColumn("emb",
      expr("transform(emb, x -> x * 1.5)"))
    val g3 = CosineLshIndex.advanceWithBatch(spark, key, churn)
    val vecs3 = CosineLshIndex.vecsOf(spark, g3)
    assert(vecs3.count() == 70)
    assert(vecs3.filter(col("__id") === 55L).count() == 1,
      "an overlapped id must appear exactly once after replacement")
    // compaction valve
    val prev = CosineLshIndex.maxChain
    CosineLshIndex.maxChain = 2
    try {
      val k2 = s"spec_cos_compact_${System.nanoTime()}"
      CosineLshIndex.ensure(spark, mkVecs(0 until 20), k2)
      CosineLshIndex.advanceWithBatch(spark, k2, mkVecs(20 until 30))
      val g = CosineLshIndex.advanceWithBatch(spark, k2, mkVecs(30 until 40))
      assert(graft.store.GenLog.chain(spark,
        new org.apache.hadoop.fs.Path(g),
        CosineLshIndex.fmtFor(8, 16)).length == 1,
        "at the cap the advance must collapse the chain into one base")
      assert(keySet(CosineLshIndex.narrowKeysOf(spark, g)) ==
        keySet(spark.read.parquet(
          s"${CosineLshIndex.ensure(spark, mkVecs(0 until 40),
            k2 + "_ref")}/keys")))
    } finally CosineLshIndex.maxChain = prev
  }

  test("a geometry change reads as STALE and rebuilds — never a silent " +
    "zero-recall probe; advancing at a mismatched geometry fails loudly") {
    val key = s"spec_cos_geom_${System.nanoTime()}"
    val all = mkVecs(0 until 80, planted = true)
    val hist = all.filter(col("vec_id") < 1000)
    val batch = all.filter(col("vec_id") >= 1000)
    CosineLshIndex.ensure(spark, hist, key) // 8x16
    // the 8x16 generation must be invisible at 8x32...
    assert(CosineLshIndex.currentGenPath(spark, key,
      bands = 8, rowsPerBand = 32).isEmpty,
      "a generation built at another geometry must read as absent")
    // ...so an ensure at 8x32 rebuilds, and the probe still recalls
    // every planted cross-boundary pair (not batch-only pairs)
    val gen32 = CosineLshIndex.ensure(spark, hist, key,
      bands = 8, rowsPerBand = 32)
    val inc = CosineLshIndex.incrementalPairs(batch, "vec_id", "emb",
      CosineLshIndex.narrowKeysOf(spark, gen32, 8, 32),
      CosineLshIndex.vecsOf(spark, gen32, 8, 32),
      bands = 8, rowsPerBand = 32)
    val planted = (0 until 80).filter(_ % 5 == 0)
      .map(i => (i.toLong, i + 1000L)).toSet
    assert(planted.subsetOf(pairSet(inc.filter(col("cs") >= 0.95))),
      "history recall must survive the geometry rebuild")
    // an ADVANCE at a third geometry has no matching base: loud failure
    val e = intercept[java.io.FileNotFoundException] {
      CosineLshIndex.advanceWithBatch(spark, key, mkVecs(80 until 90),
        bands = 8, rowsPerBand = 24)
    }
    assert(e.getMessage.contains("geometry"))
  }

  test("a zero-row batch advances META-ONLY: nothing recomputed, no " +
    "empty data dirs, and the valve still bounds no-op republishes") {
    val key = s"spec_cos_empty_${System.nanoTime()}"
    CosineLshIndex.ensure(spark, mkVecs(0 until 30), key)
    val empty = mkVecs(0 until 0)
    val g2 = CosineLshIndex.advanceWithBatch(spark, key, empty)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(g2, "vecs")) &&
      !fs.exists(new org.apache.hadoop.fs.Path(g2, "keys")),
      "an empty advance must not write empty data dirs")
    assert(CosineLshIndex.vecsOf(spark, g2).count() == 30,
      "the chain must still read the full corpus through the meta-only link")
    // the compaction valve applies to meta-only links too
    val prev = CosineLshIndex.maxChain
    CosineLshIndex.maxChain = 2
    try {
      // the chain [g2, g1] sits at the cap: the next no-op advance
      // must COMPACT into one base instead of chaining a third link
      val g3 = CosineLshIndex.advanceWithBatch(spark, key, empty)
      assert(graft.store.GenLog.chain(spark,
        new org.apache.hadoop.fs.Path(g3),
        CosineLshIndex.fmtFor(8, 16)).length == 1,
        "no-op republishes must compact at the cap, not chain forever")
      assert(CosineLshIndex.vecsOf(spark, g3).count() == 30)
    } finally CosineLshIndex.maxChain = prev
  }

  test("a retried snapshot advance (index already keyed to the current " +
    "snapshot, fresh JVM memo) reuses the live generation — no rebuild") {
    import graft.store.PointerCommit
    val root = java.nio.file.Files
      .createTempDirectory("cos_retry").toString + "/t"
    PointerCommit.publish(
      mkVecs(0 until 40), root, Nil)
    val g1 = CosineLshIndex.ensureForSnapshot(spark, root)
    // crash-after-advance replay: memo gone, snapshot unchanged
    CosineLshIndex.resetValidationMemo()
    val g2 = CosineLshIndex.advanceForSnapshotWithBatch(spark, root,
      mkVecs(40 until 50)) // a stale batch claim — must not matter
    assert(g2 == g1,
      "an index already keyed to the current snapshot must be returned " +
        "as-is, not rebuilt or advanced again")
  }

  test("purgeForStore: deleted rows' vectors leave every generation on " +
    "disk with the rows, and a probe no longer matches them") {
    import graft.store.PointerCommit
    val root = java.nio.file.Files
      .createTempDirectory("cos_purge").toString + "/t"
    val all = mkVecs(0 until 60, planted = true)
    PointerCommit.publish(
      all.filter(col("vec_id") < 1000), root, Nil)
    CosineLshIndex.ensureForSnapshot(spark, root)
    PointerCommit.publish(
      all.filter(col("vec_id") < 1000)
        .filter(col("vec_id") =!= 40L), root, Nil)
    CosineLshIndex.advanceForSnapshotWithBatch(spark, root,
      mkVecs(0 until 0)) // count net fails (store SHRANK) → rebuild...
    // ...but old generations may linger for in-flight readers: a purge
    // must prune them in the same operation as the delete
    CosineLshIndex.purgeForStore(spark, root)
    val root40 = CosineLshIndex.indexPath(s"store:$root")
    val gens = new java.io.File(root40).listFiles()
      .filter(_.isDirectory).map(_.getName)
    assert(gens.length == 1,
      s"purge must prune every superseded generation, found ${gens.toSeq}")
    val gen = CosineLshIndex.currentGenPath(spark, s"store:$root").get
    assert(CosineLshIndex.vecsOf(spark, gen)
      .filter(col("__id") === 40L).count() == 0,
      "the forgotten row's raw embedding must be gone from disk")
    // a probe with the forgotten vector itself finds no history match
    val probe = CosineLshIndex.incrementalPairs(
      all.filter(col("vec_id") === 1040L), "vec_id", "emb",
      CosineLshIndex.narrowKeysOf(spark, gen),
      CosineLshIndex.vecsOf(spark, gen))
    assert(probe.filter(col("cs") >= 0.999)
      .filter(col("src") === 40L || col("dst") === 40L).count() == 0)
    // emptied store → the index is deleted outright
    PointerCommit.publish(
      all.filter(lit(false)), root, Nil)
    CosineLshIndex.purgeForStore(spark, root)
    assert(!new java.io.File(root40).exists(),
      "an emptied store cannot keep an index")
  }

  test("vacuumOrphanRoots deletes stale roots (pointerless age-gated), keeps live ones") {
    // an ISOLATED root dir: the vacuum must never race other suites'
    // concurrent publishes under the shared default root
    val base = java.nio.file.Files
      .createTempDirectory("graft_vac_spec").toFile
    val old = System.currentTimeMillis() - 10L * 24 * 3600 * 1000
    // live root: fresh _CURRENT pointer
    val live = new java.io.File(base, "live_root")
    assert(new java.io.File(live, "gen-x").mkdirs())
    assert(new java.io.File(live, "_CURRENT").createNewFile())
    // stale root: pointer past the TTL
    val stale = new java.io.File(base, "stale_root")
    assert(new java.io.File(stale, "gen-y").mkdirs())
    val staleCur = new java.io.File(stale, "_CURRENT")
    assert(staleCur.createNewFile() && staleCur.setLastModified(old))
    // fresh pointerless root: a racing first publish — must SURVIVE
    val inflight = new java.io.File(base, "inflight_root")
    assert(inflight.mkdirs())
    // old pointerless root: a crashed half-build — vacuumed
    val crashed = new java.io.File(base, "crashed_root")
    assert(crashed.mkdirs() && crashed.setLastModified(old))
    val deleted = CosineLshIndex.vacuumOrphanRoots(spark,
      root = base.toString)
    assert(deleted.exists(_.endsWith("stale_root")), "stale not vacuumed")
    assert(deleted.exists(_.endsWith("crashed_root")), "crashed not vacuumed")
    assert(live.exists(), "live root must survive")
    assert(inflight.exists(), "a racing first publish must survive")
    assert(!stale.exists() && !crashed.exists())
  }
}
