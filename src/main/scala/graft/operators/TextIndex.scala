package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.store.{GenLog, IndexKind, IndexLifecycle}

/** Persisted INVERTED INDEX — BM25 keyword retrieval served from a
  * managed artifact instead of a corpus re-tokenize. `tx15_bm25` scans
  * and tokenizes every document per query; at 100 TB that is a full
  * corpus pass to answer "which docs mention X". This stores the
  * tokenize ONCE as posting lists and answers every later query from
  * the postings of just the query's terms — the Lucene/ES shape
  * re-expressed as parquet + partition pruning:
  *
  *  - `postings/` rows `(tb, term, __id, tf, dl)` PARTITIONED BY `tb`,
  *    the term's md5 bucket (the m7b engine-portable hash, 64 dirs): a
  *    probe for |Q| terms statically prunes to ≤|Q| bucket dirs — the
  *    [[IvfIndex]] cell-pruning move applied to text. `dl` (doc token
  *    length) is denormalized onto each posting — Lucene's norms — so
  *    scoring never joins a corpus-wide doc-length table.
  *  - `stats/` one row per generation: this generation's token count.
  *    Chain totals (Σ tokens, meta `n` docs) give (N, avgdl) from
  *    ≤chain-length rows — no corpus scan for the BM25 constants.
  *
  * Lifecycle: the shared [[graft.store.IndexLifecycle]] over the
  * [[graft.store.GenLog]] generation log. Tokenization needs no
  * retraining (term hashing is fixed), so an advance tokenizes ONLY the
  * batch and chains it as a delta generation — O(batch) maintenance;
  * compaction and re-crawl replacement rewrite stored postings, never
  * re-tokenizing indexed text.
  *
  * [[bm25]] probes the chain with EXACTLY `tx15_bm25`'s math (same
  * tokenizer, same decimal-frozen contributions), so the indexed path
  * shares tx15's DuckDB oracle verbatim — the index can never silently
  * diverge from the direct spelling.
  */
object TextIndex {
  val FormatVersion = 1
  /** Term-bucket count = postings partition dirs per generation. */
  val TermBuckets = 64
  /** Compaction valve: at this chain depth the next advance rewrites
    * the chain into one base generation instead of chaining deeper. */
  val MaxChain = 16
  /** Test seam (the [[IvfIndex.maxChain]] pattern). */
  private[graft] var maxChain: Int = MaxChain

  def indexRoot: String = sys.env.getOrElse(
    "GRAFT_TEXT_INDEX_DIR",
    new java.io.File(sys.props("java.io.tmpdir"), "graft_text_index").toString)

  /** Root dir for a named index: readable basename + 64-bit path digest
    * (GenLog.pathKey — 32-bit hashCode was a birthday risk). */
  def indexPath(key: String): String = {
    val base = key.replaceAll("[^A-Za-z0-9._-]", "_").takeRight(40)
    s"$indexRoot/${base}_${GenLog.pathKey(key)}"
  }

  private val life = new IndexLifecycle(maxChain)
  /** Full-corpus fingerprint scans this JVM has run. */
  private[graft] def fingerprintScans = life.fingerprintScans
  private[graft] def resetValidationMemo(): Unit = life.resetValidationMemo()

  private def storeRootOf(storeRoot: String): String =
    indexPath(s"store:$storeRoot")

  /** tx15_bm25's tokenizer — THE contract between build and probe (and
    * the shared DuckDB oracle): collapse whitespace, trim, lowercase,
    * split on single spaces. */
  private def cleanTokens(text: Column): Column =
    split(lower(trim(regexp_replace(text, "\\s+", " "))), " ")

  /** Partition bucket for a term: md5 last-2-hex % 64 (the m7b
    * engine-portable hash — a probe can compute it anywhere). */
  private[graft] def termBucket(term: Column): Column =
    (conv(substring(md5(term), 31, 2), 16, 10).cast("long") % TermBuckets)
      .cast("int")

  /** Posting rows for a doc frame: `(tb, term, __id, tf, dl)` — one row
    * per (doc, distinct term). Shape: one tokenize+explode pass, a
    * (doc, term) hash agg for tf, then dl = Σ tf over the doc's terms
    * via a doc-partitioned window (postings-sized shuffle, build-path
    * only — probes never pay it). */
  private[graft] def postingRows(docs: DataFrame, idCol: String,
                                 textCol: String): DataFrame = {
    val toks = docs.select(col(idCol).cast("long").as("__id"),
      explode(cleanTokens(col(textCol))).as("term"))
    toks.groupBy(col("__id"), col("term")).agg(count(lit(1)).as("tf"))
      .withColumn("dl", sum(col("tf")).over(Window.partitionBy("__id")))
      .withColumn("tb", termBucket(col("term")))
      .select("tb", "term", "__id", "tf", "dl")
  }

  /** tb-partitioned `postings/`, and the generation's `stats/` token
    * count derived FROM THE WRITTEN parquet (one narrow tf scan), so
    * meta and rows can never desynchronize on a non-deterministic
    * input. Postings hold one row per (doc, term). */
  private val kind: IndexKind = new IndexKind {
    val fmt = FormatVersion
    val geom = ""
    val label = "text index"
    val dataDir = "postings"
    def rows(b: DataFrame): DataFrame = postingRows(b, "__id", "__p")
    def write(spark: SparkSession, gen: Path, rows: DataFrame): Unit = {
      val postings = new Path(gen, "postings").toString
      rows.repartition(col("tb")).write.partitionBy("tb").parquet(postings)
      val tokens = spark.read.parquet(postings)
        .agg(coalesce(sum(col("tf")), lit(0L))).head().getLong(0)
      import spark.implicits._
      Seq(tokens).toDF("tokens").repartition(1)
        .write.parquet(new Path(gen, "stats").toString)
    }
  }

  /** Ensure a fresh index for the bare corpus frame `docs` under the
    * index named `key`; returns the resolved generation path. A bare
    * `key` names an IMMUTABLE corpus (see
    * [[graft.store.IndexLifecycle]]). */
  def ensure(spark: SparkSession, docs: DataFrame, key: String,
             idCol: String = "doc_id", textCol: String = "text"): String =
    life.ensure(spark, docs, indexPath(key), idCol, textCol, kind)

  /** [[ensure]] for a corpus published through
    * [[graft.store.SnapshotStore]]: validity keyed on the current
    * snapshot name — revalidation is metadata-only (no corpus scan). */
  def ensureForSnapshot(spark: SparkSession, storeRoot: String,
                        idCol: String = "doc_id",
                        textCol: String = "text"): String =
    life.ensureForSnapshot(spark, storeRoot, storeRootOf(storeRoot), idCol,
      textCol, kind)

  /** [[ensureForSnapshot]] that prefers an INCREMENTAL advance: a
    * pure-insert change feed since the indexed snapshot is tokenized
    * and chained as a delta; churn rebuilds. */
  def advanceForSnapshot(spark: SparkSession, storeRoot: String,
                         idCol: String = "doc_id",
                         textCol: String = "text"): String =
    life.advanceForSnapshot(spark, storeRoot, storeRootOf(storeRoot), idCol,
      textCol, kind)

  /** [[advanceForSnapshot]] with a CALLER-ASSERTED delta, checked by the
    * row-count and id-overlap nets before it is trusted. */
  def advanceForSnapshotWithBatch(spark: SparkSession, storeRoot: String,
                                  batch: DataFrame,
                                  idCol: String = "doc_id",
                                  textCol: String = "text"): String =
    life.advanceForSnapshotWithBatch(spark, storeRoot, storeRootOf(storeRoot),
      batch, idCol, textCol, kind)

  /** Advance the index with an ingest batch: an O(batch) delta, with
    * overlap REPLACEMENT and compaction at [[maxChain]] rewriting stored
    * postings (never re-tokenizing history). `snap`, when given, re-keys
    * validity to the new snapshot name — callers advancing a
    * SNAPSHOT-keyed index should prefer [[advanceForSnapshotWithBatch]],
    * which verifies the batch against the store; this trusts the
    * caller. */
  def advanceWithBatch(spark: SparkSession, key: String, batch: DataFrame,
                       idCol: String = "doc_id", textCol: String = "text",
                       snap: Option[String] = None): String =
    life.advanceWithBatch(spark, indexPath(key), batch, idCol, textCol, kind,
      snap)

  /** The live generation path under `key`, if any — resolved from disk,
    * no staleness check (for callers that own all writes). */
  def currentGenPath(spark: SparkSession, key: String): Option[String] =
    life.currentGenPath(spark, indexPath(key), kind)

  /** Postings of the generation CHAIN rooted at `genPath`. Meta-only
    * re-key generations have no postings dir and are skipped; filters
    * push through the union into every per-generation scan. */
  def postingsOf(spark: SparkSession, genPath: String): DataFrame =
    GenLog.readChain(spark, new Path(genPath), FormatVersion, "postings")

  /** Postings restricted to `terms`, with the bucket filter typed to
    * MATCH the partition column (string when the session's
    * partition-type inference is off) so Catalyst prunes the non-probed
    * `tb=` directories at the scan — a |Q|-term probe reads ≤|Q| of the
    * 64 partition dirs per generation, which is the point. */
  def postingsPruned(spark: SparkSession, genPath: String,
                     terms: Seq[String]): DataFrame = {
    val raw = postingsOf(spark, genPath)
    val buckets = terms.map(t => bucketOf(t)).distinct
    val lits: Seq[Any] =
      if (raw.schema("tb").dataType ==
          org.apache.spark.sql.types.StringType) buckets.map(_.toString)
      else buckets
    raw.filter(col("tb").isin(lits: _*) && col("term").isin(terms: _*))
  }

  /** Driver-side term bucket — must equal [[termBucket]]'s SQL: the
    * md5 digest's last byte (= the hex string's last two chars) mod 64. */
  private[graft] def bucketOf(term: String): Int = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(term.getBytes("UTF-8"))
    (h(15) & 0xff) % TermBuckets
  }

  /** Generation dirs are IMMUTABLE once published (the GenLog
    * contract), so their resolved stats can be memoized per JVM — a
    * repeated probe of the same generation pays zero metadata jobs. */
  private val statsMemo =
    scala.collection.concurrent.TrieMap.empty[String, (Long, Long)]
  /** Test seam. */
  private[graft] def resetStatsMemo(): Unit = statsMemo.clear()

  /** (N docs, total tokens) of the chain: meta `n` (cumulative) + the
    * per-generation stats rows summed — ≤chain-length rows read, no
    * corpus or postings scan; memoized (generations are immutable). */
  def statsOf(spark: SparkSession, genPath: String): (Long, Long) =
    statsMemo.getOrElseUpdate(genPath, {
      val head = new Path(genPath)
      val m = GenLog.readMeta(spark, head, FormatVersion)
        .getOrElse(throw new java.io.FileNotFoundException(
          s"no meta under $genPath"))
      val tokens = GenLog.readChain(spark, head, FormatVersion, "stats")
        .agg(coalesce(sum(col("tokens")), lit(0L))).head().getLong(0)
      (m.n, tokens)
    })

  /** BM25 over the index — `tx15_bm25`'s math verbatim (k1=1.2, b=0.75,
    * Lucene idf, decimal-frozen per-term contributions), served from
    * the pruned postings: the scan reads ≤|Q| term-bucket dirs, df is a
    * ≤|Q|-row broadcast, (N, avgdl) come from chain metadata, top-k is
    * TakeOrderedAndProject. No document text is touched. */
  def bm25(spark: SparkSession, genPath: String, terms: Seq[String],
           k: Int = 10): DataFrame = {
    val (nDocs, totalTokens) = statsOf(spark, genPath)
    require(nDocs > 0, s"empty index at $genPath")
    val n = nDocs.toDouble
    val avgdl = totalTokens.toDouble / n
    val tf = postingsPruned(spark, genPath, terms)
      .select(col("term"), col("__id"), col("tf"), col("dl"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val contrib = tf.join(broadcast(df), "term")
      .withColumn("contrib", round(
        log(lit(1.0) + (lit(n) - col("df") + 0.5) / (col("df") + 0.5)) *
          (col("tf") * 2.2) /
          (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / lit(avgdl))),
        6).cast("decimal(18,6)"))
    val scored = contrib.groupBy("__id")
      .agg(sum(col("contrib")).cast("double").as("score"),
        count(lit(1)).as("n_terms"))
      .orderBy(col("score").desc, col("__id")).limit(k)
    scored
      .withColumn("rank", row_number().over(
        Window.orderBy(col("score").desc, col("__id"))))
      .select(col("rank"), col("__id").as("doc_id"), col("score"),
        col("n_terms"))
      .orderBy("rank")
  }

  /** BM25 scores for ARRIVING documents against standing query terms —
    * the alerting/routing primitive ("does this new doc rank for my
    * query"): tf/dl come from the batch text itself (tokenized live,
    * batch-sized work), while the corpus statistics (N, avgdl, df) come
    * from the persisted index — chain metadata plus ≤|Q| pruned
    * term-bucket dirs, never a corpus scan. df is collected driver-side
    * (≤|Q| rows) and inlined as a literal CASE, so terms the corpus has
    * never seen still score (df=0 → the max idf) instead of silently
    * dropping the doc. Same decimal-frozen BM25 math as [[bm25]]. */
  def bm25ForBatch(spark: SparkSession, genPath: String, batch: DataFrame,
                   terms: Seq[String], idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame = {
    val (nDocs, totalTokens) = statsOf(spark, genPath)
    require(nDocs > 0, s"empty index at $genPath")
    val n = nDocs.toDouble
    val avgdl = totalTokens.toDouble / n
    val dfMap: Map[String, Long] =
      postingsPruned(spark, genPath, terms)
        .groupBy("term").agg(count(lit(1)).as("df"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val dfCol = terms.foldRight(lit(0L)) { (t, els) =>
      when(col("term") === t, lit(dfMap.getOrElse(t, 0L))).otherwise(els)
    }
    val batchTf = postingRows(batch, idCol, textCol)
      .filter(col("term").isin(terms: _*))
    batchTf.withColumn("df", dfCol)
      .withColumn("contrib", round(
        log(lit(1.0) + (lit(n) - col("df") + 0.5) / (col("df") + 0.5)) *
          (col("tf") * 2.2) /
          (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / lit(avgdl))),
        6).cast("decimal(18,6)"))
      .groupBy("__id")
      .agg(sum(col("contrib")).cast("double").as("score"),
        count(lit(1)).as("n_terms"))
      .select(col("__id").as(idCol), col("score"), col("n_terms"))
  }
}
