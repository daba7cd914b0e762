package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{LshBandIndex, MinHashLSH}
import graft.store.PointerCommit

/** LshBandIndex lifecycle — the MinHash band index as a managed
  * generation-log artifact: bare-path fingerprint staleness,
  * snapshot-keyed metadata-only revalidation, O(batch) append-only
  * advance whose chained bands equal a from-scratch index of the union
  * (so probes against an advanced index are EXACTLY full-corpus
  * candidate pairs restricted to the batch), the id-overlap and
  * compaction guards, and the empty-corpus error. */
class LshBandIndexSpec extends SparkSuite {

  private def mkDocs(ids: Range): DataFrame = {
    import spark.implicits._
    ids.map { i =>
      // overlapping shingle text so some cross-doc band collisions exist
      val words = (0 until 30).map(j => s"w${(i / 3) * 5 + j}")
      (i.toLong, words.mkString(" "))
    }.toDF("doc_id", "text")
  }

  private def bandSet(df: DataFrame): Set[(Long, Int, Long)] =
    df.select("__id", "band_id", "band_hash").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet

  test("ensure builds once; bare-path revalidation fingerprints, " +
    "matching content resolves the same generation") {
    val docs = mkDocs(0 until 40)
    val key = s"spec_bare_${System.nanoTime()}"
    val g1 = LshBandIndex.ensure(spark, docs, key)
    assert(bandSet(LshBandIndex.bandsOf(spark, g1)) ==
      bandSet(MinHashLSH.bandRows(docs)),
      "indexed bands must equal the live bandRows of the corpus")
    LshBandIndex.resetValidationMemo()
    val scans0 = LshBandIndex.fingerprintScans.get()
    val g1b = LshBandIndex.ensure(spark, docs, key)
    assert(g1b == g1, "matching content must resolve the same generation")
    assert(LshBandIndex.fingerprintScans.get() == scans0 + 1,
      "bare-path revalidation must content-fingerprint the corpus")
    // changed content under the same key -> rebuild to a new generation
    LshBandIndex.resetValidationMemo()
    val g2 = LshBandIndex.ensure(spark, mkDocs(0 until 41), key)
    assert(g2 != g1, "changed corpus must rebuild")
  }

  test("advanceWithBatch chains a batch-sized delta whose chain equals " +
    "a from-scratch index of the union") {
    val hist = mkDocs(0 until 40)
    val batch = mkDocs(40 until 60)
    val key = s"spec_adv_${System.nanoTime()}"
    val g1 = LshBandIndex.ensure(spark, hist, key)
    val g2 = LshBandIndex.advanceWithBatch(spark, key, batch)
    assert(g2 != g1)
    assert(spark.read.parquet(s"$g2/meta").head().getAs[String]("parent")
      == new Path(g1).getName, "advance must chain, not rebuild")
    assert(spark.read.parquet(s"$g2/meta").head().getAs[Long]("n") == 60L)
    assert(bandSet(LshBandIndex.bandsOf(spark, g2)) ==
      bandSet(MinHashLSH.bandRows(mkDocs(0 until 60))),
      "chained bands must equal a from-scratch index of the union")
    // and the probe identity holds END-TO-END through the advanced
    // index: next batch probed against it == full candidate pairs of
    // (union ∪ next) restricted to pairs touching next
    val next = mkDocs(60 until 75)
    val inc = MinHashLSH.incrementalPairs(
        MinHashLSH.bandRows(next), LshBandIndex.bandsOf(spark, g2))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = MinHashLSH.candidatePairs(mkDocs(0 until 75))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      .filter(p => p._1 >= 60 || p._2 >= 60)
    assert(full.nonEmpty, "probe scope must be non-vacuous")
    assert(inc == full)
  }

  test("an overlapping batch trips the id guard and rebuilds — " +
    "no document banded twice") {
    val key = s"spec_dup_${System.nanoTime()}"
    LshBandIndex.ensure(spark, mkDocs(0 until 40), key)
    // ids 30..49 overlap the indexed 0..39
    val g2 = LshBandIndex.advanceWithBatch(spark, key, mkDocs(30 until 50))
    val ids = LshBandIndex.bandsOf(spark, g2).select("__id")
    assert(ids.distinct().count() == 50)
    assert(ids.count() == ids.distinct().count() * 4,
      "each doc must carry exactly one row per band — no duplicates")
    assert(bandSet(LshBandIndex.bandsOf(spark, g2)) ==
      bandSet(MinHashLSH.bandRows(mkDocs(0 until 50))),
      "batch must replace the overlapped documents' bands")
    assert(spark.read.parquet(s"$g2/meta").head().getAs[Long]("n") == 50L,
      "meta.n must count replaced ids once, not twice")
  }

  test("advanceForSnapshot: pure-insert feed chains a delta; churn " +
    "rebuilds; identical republish re-keys meta-only") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_lsh_advsnap").toString
    PointerCommit.publish(
      mkDocs(0 until 40), root, Nil)
    val g1 = LshBandIndex.ensureForSnapshot(spark, root)
    // pure-insert growth -> delta chained to g1, no fingerprint scan
    PointerCommit.publish(
      mkDocs(0 until 60), root, Nil)
    val scans0 = LshBandIndex.fingerprintScans.get()
    val g2 = LshBandIndex.advanceForSnapshot(spark, root)
    assert(spark.read.parquet(s"$g2/meta").head().getAs[String]("parent")
      == new Path(g1).getName, "pure-insert growth must chain")
    assert(LshBandIndex.fingerprintScans.get() == scans0,
      "snapshot-keyed advance must never fingerprint")
    assert(bandSet(LshBandIndex.bandsOf(spark, g2)) ==
      bandSet(MinHashLSH.bandRows(mkDocs(0 until 60))))
    // identical republish -> META-ONLY re-key (no bands dir of its own)
    PointerCommit.publish(
      mkDocs(0 until 60), root, Nil)
    val g3 = LshBandIndex.advanceForSnapshot(spark, root)
    assert(g3 != g2)
    val fs = new Path(g3).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new Path(g3, "bands")),
      "identical republish must publish meta only")
    assert(bandSet(LshBandIndex.bandsOf(spark, g3)) ==
      bandSet(MinHashLSH.bandRows(mkDocs(0 until 60))),
      "chain readers must skip the meta-only generation")
    // churn (same ids, different text) -> rebuild, parent null
    val churned = {
      import spark.implicits._
      (0 until 60).map { i =>
        (i.toLong, (0 until 30).map(j => s"x${(i / 2) * 7 + j}").mkString(" "))
      }.toDF("doc_id", "text")
    }
    PointerCommit.publish(churned, root, Nil)
    val g4 = LshBandIndex.advanceForSnapshot(spark, root)
    assert(spark.read.parquet(s"$g4/meta").head().getAs[String]("parent")
      == null, "churn must rebuild from scratch, not chain")
    assert(bandSet(LshBandIndex.bandsOf(spark, g4)) ==
      bandSet(MinHashLSH.bandRows(churned)))
  }

  test("the compaction valve collapses the chain at maxChain") {
    val key = s"spec_cap_${System.nanoTime()}"
    val old = LshBandIndex.maxChain
    LshBandIndex.maxChain = 2
    try {
      LshBandIndex.ensure(spark, mkDocs(0 until 20), key)
      val g2 = LshBandIndex.advanceWithBatch(spark, key, mkDocs(20 until 30))
      assert(spark.read.parquet(s"$g2/meta").head()
        .getAs[String]("parent") != null, "second gen should chain")
      val g3 = LshBandIndex.advanceWithBatch(spark, key, mkDocs(30 until 40))
      assert(spark.read.parquet(s"$g3/meta").head()
        .getAs[String]("parent") == null,
        "chain at the cap must collapse into a base generation")
      assert(bandSet(LshBandIndex.bandsOf(spark, g3)) ==
        bandSet(MinHashLSH.bandRows(mkDocs(0 until 40))))
    } finally LshBandIndex.maxChain = old
  }

  test("ensureForSnapshot: metadata-only revalidation, rebuild on " +
    "republish") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_lsh_store").toString
    PointerCommit.publish(
      mkDocs(0 until 40), root, Nil)
    val g1 = LshBandIndex.ensureForSnapshot(spark, root)
    val scans0 = LshBandIndex.fingerprintScans.get()
    LshBandIndex.resetValidationMemo()
    val g1b = LshBandIndex.ensureForSnapshot(spark, root)
    assert(g1b == g1)
    assert(LshBandIndex.fingerprintScans.get() == scans0,
      "snapshot-keyed revalidation must be metadata-only (no corpus scan)")
    PointerCommit.publish(
      mkDocs(0 until 50), root, Nil)
    val g2 = LshBandIndex.ensureForSnapshot(spark, root)
    assert(g2 != g1, "republished corpus must rebuild")
    assert(LshBandIndex.fingerprintScans.get() == scans0,
      "store-mode build must not fingerprint (snapshot name is the key)")
    assert(bandSet(LshBandIndex.bandsOf(spark, g2)) ==
      bandSet(MinHashLSH.bandRows(mkDocs(0 until 50))))
  }

  test("a republish loop cannot grow the chain past the compaction cap") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_lsh_republish").toString
    val old = LshBandIndex.maxChain
    LshBandIndex.maxChain = 2
    try {
      PointerCommit.publish(
        mkDocs(0 until 30), root, Nil)
      LshBandIndex.ensureForSnapshot(spark, root)
      // identical republishes: meta-only re-keys chain until the cap,
      // then collapse into a base — depth stays bounded forever
      (1 to 4).foreach { _ =>
        PointerCommit.publish(
          mkDocs(0 until 30), root, Nil)
        val g = LshBandIndex.advanceForSnapshot(spark, root)
        val depth = Iterator.iterate(Option(g)) { cur =>
          cur.flatMap(p => Option(spark.read.parquet(s"$p/meta")
            .head().getAs[String]("parent"))
            .map(par => new Path(new Path(p).getParent, par).toString))
        }.takeWhile(_.isDefined).size
        assert(depth <= LshBandIndex.maxChain + 1,
          s"chain depth $depth exceeded the cap")
        assert(bandSet(LshBandIndex.bandsOf(spark, g)) ==
          bandSet(MinHashLSH.bandRows(mkDocs(0 until 30))))
      }
    } finally LshBandIndex.maxChain = old
  }

  test("advanceForSnapshotWithBatch: correct batch chains; a partial " +
    "batch trips the count net and falls back to the content diff") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_lsh_advbatch").toString
    PointerCommit.publish(
      mkDocs(0 until 40), root, Nil)
    val g1 = LshBandIndex.ensureForSnapshot(spark, root)
    PointerCommit.publish(
      mkDocs(0 until 60), root, Nil)
    val g2 = LshBandIndex.advanceForSnapshotWithBatch(spark, root,
      mkDocs(40 until 60))
    assert(spark.read.parquet(s"$g2/meta").head().getAs[String]("parent")
      == new Path(g1).getName, "a correct caller-asserted batch must chain")
    // grow again but hand only HALF the delta: the count identity fails
    // and the feed path must still index every row
    PointerCommit.publish(
      mkDocs(0 until 80), root, Nil)
    val g3 = LshBandIndex.advanceForSnapshotWithBatch(spark, root,
      mkDocs(60 until 70))
    assert(bandSet(LshBandIndex.bandsOf(spark, g3)) ==
      bandSet(MinHashLSH.bandRows(mkDocs(0 until 80))),
      "partial batch must fall back and still index the true delta")
  }

  test("empty corpus fails with a clear error") {
    import spark.implicits._
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      LshBandIndex.ensure(spark, empty, s"spec_empty_${System.nanoTime()}")
    }
    assert(e.getMessage.contains("empty corpus"))
  }
}
