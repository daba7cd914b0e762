package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.TextIndex
import graft.store.{GenLog, PointerCommit}

/** The persisted inverted index: probe ≡ direct tx15 spelling, chained
  * advance ≡ from-scratch build, overlap replacement (re-crawl wins),
  * compaction valve, zero-row meta-only re-key, snapshot-keyed
  * metadata-only revalidation, partition-pruned probes, empty-corpus
  * error. */
class TextIndexSpec extends SparkSuite {

  /** Zipf-ish vocabulary with planted probe terms so BM25 ranks are
    * discriminative: every 7th doc mentions "alpha" (more times for
    * lower ids), every 11th "gamma". */
  private def mkDocs(ids: Range): DataFrame = {
    import spark.implicits._
    ids.map { i =>
      val common = (0 until 20).map(j => s"w${(i + j) % 13}")
      val alpha = if (i % 7 == 0) Seq.fill(1 + i % 3)("alpha") else Nil
      val gamma = if (i % 11 == 0) Seq("gamma") else Nil
      (i.toLong, (common ++ alpha ++ gamma).mkString(" "))
    }.toDF("doc_id", "text")
  }

  private def postingSet(df: DataFrame): Set[(Int, String, Long, Long, Long)] =
    df.select(col("tb").cast("int"), col("term"), col("__id"), col("tf"),
      col("dl")).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet

  private def probeRows(gen: String, terms: Seq[String] = Seq("alpha", "gamma"))
      : Seq[(Int, Long, Double, Long)] =
    TextIndex.bm25(spark, gen, terms).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toSeq

  test("indexed probe equals the direct tx15 spelling on the testdata corpus") {
    val direct = SparkEntry.queries("tx15_bm25")(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toSeq
    val gen = TextIndex.ensure(spark, graft.Tables.documents(spark, sf),
      key = s"bm25:$sf")
    val indexed = SparkEntry.queries("tx16_bm25_indexed")(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toSeq
    assert(indexed == direct,
      "index-served BM25 must be row-identical to the corpus tokenize")
    assert(gen.nonEmpty)
  }

  test("advance chains an O(batch) delta whose probe equals a from-scratch build") {
    val all = mkDocs(0 until 120)
    val key = s"spec_adv_${System.nanoTime()}"
    val g1 = TextIndex.ensure(spark, mkDocs(0 until 90), key)
    val g2 = TextIndex.advanceWithBatch(spark, key, mkDocs(90 until 120))
    assert(g2 != g1)
    val meta = GenLog.readMeta(spark, new Path(g2),
      TextIndex.FormatVersion).get
    assert(meta.n == 120 && meta.parent.contains(new Path(g1).getName),
      "delta generation must chain to the base and carry cumulative n")
    val scratch = TextIndex.ensure(spark, all, s"${key}_scratch")
    assert(postingSet(TextIndex.postingsOf(spark, g2)) ==
      postingSet(TextIndex.postingsOf(spark, scratch)),
      "chained postings must equal the from-scratch index")
    assert(probeRows(g2) == probeRows(scratch))
    assert(TextIndex.statsOf(spark, g2) == TextIndex.statsOf(spark, scratch),
      "chain stats (N docs, total tokens) must match the union build")
  }

  test("an overlapping batch replaces the re-crawled docs' postings (batch wins)") {
    import spark.implicits._
    val key = s"spec_overlap_${System.nanoTime()}"
    TextIndex.ensure(spark, mkDocs(0 until 50), key)
    // re-crawl doc 7 with entirely new text + a brand-new doc 50
    val recrawl = Seq(
      (7L, "alpha alpha alpha fresh fresh"),
      (50L, "gamma fresh")).toDF("doc_id", "text")
    val g2 = TextIndex.advanceWithBatch(spark, key, recrawl)
    val meta = GenLog.readMeta(spark, new Path(g2),
      TextIndex.FormatVersion).get
    assert(meta.n == 51, "n = 50 + 2 - 1 overlap")
    assert(meta.parent.isEmpty, "overlap rewrite publishes a fresh base")
    val doc7 = TextIndex.postingsOf(spark, g2)
      .filter(col("__id") === 7L).select("term", "tf", "dl").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(doc7 == Set(("alpha", 3L, 5L), ("fresh", 2L, 5L)),
      s"doc 7 must carry only its re-crawled text's postings, got $doc7")
    // the replaced corpus, built from scratch, must probe identically
    val replaced = mkDocs(0 until 50).filter(col("doc_id") =!= 7L)
      .unionByName(recrawl)
    val scratch = TextIndex.ensure(spark, replaced, s"${key}_scratch")
    assert(probeRows(g2) == probeRows(scratch))
  }

  test("the compaction valve collapses the chain at maxChain") {
    val key = s"spec_compact_${System.nanoTime()}"
    val old = TextIndex.maxChain
    try {
      TextIndex.maxChain = 2
      TextIndex.ensure(spark, mkDocs(0 until 30), key)
      val g2 = TextIndex.advanceWithBatch(spark, key, mkDocs(30 until 40))
      assert(GenLog.chain(spark, new Path(g2),
        TextIndex.FormatVersion).length == 2)
      val g3 = TextIndex.advanceWithBatch(spark, key, mkDocs(40 until 50))
      assert(GenLog.chain(spark, new Path(g3),
        TextIndex.FormatVersion).length == 1,
        "at the cap the advance must rewrite into one base")
      val scratch = TextIndex.ensure(spark, mkDocs(0 until 50),
        s"${key}_scratch")
      assert(postingSet(TextIndex.postingsOf(spark, g3)) ==
        postingSet(TextIndex.postingsOf(spark, scratch)))
      assert(TextIndex.statsOf(spark, g3) ==
        TextIndex.statsOf(spark, scratch))
    } finally TextIndex.maxChain = old
  }

  test("a zero-row advance re-keys metadata only (no postings recompute)") {
    import spark.implicits._
    val key = s"spec_zero_${System.nanoTime()}"
    val g1 = TextIndex.ensure(spark, mkDocs(0 until 30), key)
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val g2 = TextIndex.advanceWithBatch(spark, key, empty,
      snap = Some("republish-1"))
    assert(g2 != g1)
    val gen2 = new Path(g2)
    val fs = gen2.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new Path(gen2, "postings")),
      "meta-only generation must not write a postings dir")
    assert(postingSet(TextIndex.postingsOf(spark, g2)) ==
      postingSet(TextIndex.postingsOf(spark, g1)),
      "readers resolve the parent's postings through the re-key")
    assert(TextIndex.statsOf(spark, g2) == TextIndex.statsOf(spark, g1))
  }

  test("ensureForSnapshot: metadata-only revalidation, rebuild on republish") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_text_store").toString
    PointerCommit.publish(
      mkDocs(0 until 40), root, Nil)
    val g1 = TextIndex.ensureForSnapshot(spark, root)
    val scans0 = TextIndex.fingerprintScans.get()
    TextIndex.resetValidationMemo()
    val g1b = TextIndex.ensureForSnapshot(spark, root)
    assert(g1b == g1)
    assert(TextIndex.fingerprintScans.get() == scans0,
      "snapshot-keyed revalidation must be metadata-only (no corpus scan)")
    PointerCommit.publish(
      mkDocs(0 until 55), root, Nil)
    val g2 = TextIndex.ensureForSnapshot(spark, root)
    assert(g2 != g1, "republished corpus must rebuild")
    assert(TextIndex.fingerprintScans.get() == scans0,
      "store-mode build must not fingerprint (snapshot name is the key)")
    val scratch = TextIndex.ensure(spark, mkDocs(0 until 55),
      s"spec_snap_scratch_${System.nanoTime()}")
    assert(postingSet(TextIndex.postingsOf(spark, g2)) ==
      postingSet(TextIndex.postingsOf(spark, scratch)))
  }

  test("advanceForSnapshot: pure-insert feed chains a delta; churn " +
    "rebuilds") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_text_advsnap").toString
    PointerCommit.publish(
      mkDocs(0 until 40), root, Nil)
    val g1 = TextIndex.ensureForSnapshot(spark, root)
    PointerCommit.publish(
      mkDocs(0 until 60), root, Nil)
    val g2 = TextIndex.advanceForSnapshot(spark, root)
    assert(GenLog.readMeta(spark, new Path(g2), TextIndex.FormatVersion)
      .get.parent.contains(new Path(g1).getName),
      "a pure-insert feed must chain a delta, not rebuild")
    val scratch = TextIndex.ensure(spark, mkDocs(0 until 60),
      s"spec_advsnap_scratch_${System.nanoTime()}")
    assert(postingSet(TextIndex.postingsOf(spark, g2)) ==
      postingSet(TextIndex.postingsOf(spark, scratch)))
    assert(probeRows(g2) == probeRows(scratch))
    // churn (doc 3's text changes): the feed is not pure inserts → the
    // advance must fall back to a rebuild and still serve the truth
    import spark.implicits._
    PointerCommit.publish(
      mkDocs(0 until 60).filter(col("doc_id") =!= 3L)
        .unionByName(Seq((3L, "rewritten text entirely"))
          .toDF("doc_id", "text")), root, Nil)
    val g3 = TextIndex.advanceForSnapshot(spark, root)
    assert(GenLog.readMeta(spark, new Path(g3), TextIndex.FormatVersion)
      .get.parent.isEmpty, "churn must rebuild into a fresh base")
    val doc3 = TextIndex.postingsOf(spark, g3)
      .filter(col("__id") === 3L).select("term").collect()
      .map(_.getString(0)).toSet
    assert(doc3 == Set("rewritten", "text", "entirely"))
  }

  test("advanceForSnapshotWithBatch: correct batch chains; a partial " +
    "batch trips the count net and falls back to the content diff") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_text_advbatch").toString
    PointerCommit.publish(
      mkDocs(0 until 40), root, Nil)
    val g1 = TextIndex.ensureForSnapshot(spark, root)
    PointerCommit.publish(
      mkDocs(0 until 60), root, Nil)
    val g2 = TextIndex.advanceForSnapshotWithBatch(spark, root,
      mkDocs(40 until 60))
    assert(GenLog.readMeta(spark, new Path(g2), TextIndex.FormatVersion)
      .get.parent.contains(new Path(g1).getName),
      "a correct caller-asserted batch must chain")
    // grow again but hand only HALF the delta: the count identity fails
    // and the feed path must still index every row
    PointerCommit.publish(
      mkDocs(0 until 80), root, Nil)
    val g3 = TextIndex.advanceForSnapshotWithBatch(spark, root,
      mkDocs(60 until 70))
    val scratch = TextIndex.ensure(spark, mkDocs(0 until 80),
      s"spec_advbatch_scratch_${System.nanoTime()}")
    assert(postingSet(TextIndex.postingsOf(spark, g3)) ==
      postingSet(TextIndex.postingsOf(spark, scratch)),
      "partial batch must fall back and still index the true delta")
    // a REDELIVERED batch (overlaps indexed ids, counts happen to
    // disagree too) also falls back rather than replacing postings
    // under the wrong snapshot key
    PointerCommit.publish(
      mkDocs(0 until 90), root, Nil)
    val g4 = TextIndex.advanceForSnapshotWithBatch(spark, root,
      mkDocs(70 until 90).unionByName(mkDocs(60 until 70)))
    val scratch2 = TextIndex.ensure(spark, mkDocs(0 until 90),
      s"spec_advbatch_scratch2_${System.nanoTime()}")
    assert(postingSet(TextIndex.postingsOf(spark, g4)) ==
      postingSet(TextIndex.postingsOf(spark, scratch2)))
  }

  test("a probe reads only the query terms' partition buckets") {
    val key = s"spec_prune_${System.nanoTime()}"
    val gen = TextIndex.ensure(spark, mkDocs(0 until 60), key)
    val terms = Seq("alpha", "gamma")
    val wanted = terms.map(TextIndex.bucketOf).toSet
    val df = TextIndex.postingsPruned(spark, gen, terms)
    // execute THIS Dataset's queryExecution (count() would plan a
    // separate execution and leave these metrics untouched)
    assert(df.collect().nonEmpty)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [tb"),
      s"tb partition pruning lost:\n$plan")
    // IO-level proof: the executed scan opened files from only the
    // wanted buckets (inputFiles is pre-pruning metadata; the metric
    // counts what was actually read)
    val numFiles = df.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.metrics("numFiles").value
    }.sum
    assert(numFiles > 0 && numFiles <= wanted.size,
      s"probe read $numFiles files; wanted <= ${wanted.size} " +
        s"(buckets $wanted)\n$plan")
    // and the driver-side bucket must agree with the SQL derivation
    val fromSql = spark.range(1)
      .select(graft.operators.TextIndex.termBucket(lit("alpha")))
      .head().getInt(0)
    assert(fromSql == TextIndex.bucketOf("alpha"))
  }

  test("empty corpus fails with a clear error") {
    import spark.implicits._
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      TextIndex.ensure(spark, empty, s"spec_empty_${System.nanoTime()}")
    }
    assert(e.getMessage.contains("empty corpus"))
  }
}
