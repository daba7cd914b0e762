package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.store.GenLog

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
  * Lifecycle = the [[graft.store.GenLog]] generation log shared with
  * [[IvfIndex]]/[[LshBandIndex]]: immutable `gen-<uuid8>/` dirs, one
  * atomic `_CURRENT` pointer, delta chains.
  *
  *  - [[ensure]] (bare corpus): count + xor-fingerprint staleness, the
  *    documented bare-path fallback (one narrow scan).
  *  - [[ensureForSnapshot]] ([[graft.store.SnapshotStore]] corpora):
  *    validity keyed on the snapshot NAME — metadata-only revalidation,
  *    the 100 TB answer.
  *  - [[advanceWithBatch]]: append-only growth. Tokenization needs no
  *    retraining (term hashing is fixed), so an advance tokenizes ONLY
  *    the batch and chains it as a delta generation — O(batch) index
  *    maintenance, indexed text never re-read. A batch that OVERLAPS
  *    indexed ids (re-crawl) replaces those docs' postings (batch
  *    wins); a chain at [[maxChain]] collapses into a fresh base (LSM
  *    compaction — a postings rewrite, no text re-tokenized); a
  *    zero-row batch re-keys metadata only.
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

  private val buildLock = new Object
  /** key root -> (validity token, generation path); token is
    * "fp:<n>:<fingerprint>" (bare) or "snap:<name>" (store). */
  private val validated =
    scala.collection.mutable.Map.empty[String, (String, String)]
  /** Test seam: forget per-JVM validation so a spec can exercise the
    * on-disk revalidation path. */
  private[graft] def resetValidationMemo(): Unit =
    buildLock.synchronized(validated.clear())

  /** Full-corpus fingerprint scans this JVM has run — the test seam
    * proving snapshot-keyed revalidation never scans the corpus. */
  private[graft] val fingerprintScans =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** Order-insensitive xor content fingerprint over (id, text) — the
    * [[LshBandIndex]] spelling: ANSI-safe (no sum overflow), composes
    * over disjoint deltas (fp(a ∪ b) = fp(a) ^ fp(b)), 0 on empty. */
  private def fingerprint(docs: DataFrame, idCol: String,
                          textCol: String): Long = {
    fingerprintScans.incrementAndGet()
    docs.agg(coalesce(expr(s"bit_xor(xxhash64(`$idCol`, `$textCol`))"), lit(0L)))
      .head().getLong(0)
  }

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

  /** Ensure a fresh index for the bare corpus frame `docs` under the
    * index named `key`; returns the resolved generation path.
    *
    * CONTRACT: a bare `key` names an IMMUTABLE corpus (the testdata
    * shape). After first validation in a JVM the memo short-circuits
    * without recomputing count/fingerprint, so a caller that rebinds
    * the same key to DIFFERENT corpus contents within one JVM is served
    * the stale index — use a new key per corpus version, or go through
    * [[ensureForSnapshot]]/[[advanceWithBatch]], which re-key the memo
    * on every mutation they make. */
  def ensure(spark: SparkSession, docs: DataFrame, key: String,
             idCol: String = "doc_id", textCol: String = "text"): String =
    buildLock.synchronized {
      val root = indexPath(key)
      val fs = new Path(root)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      validated.get(root) match {
        case Some((t, gen)) if t.startsWith("fp:") =>
          // bare corpora are read-only by the testdata contract: once
          // validated in this JVM the answer cannot change
          return gen
        case _ => ()
      }
      lazy val n = docs.count()
      lazy val fp = fingerprint(docs, idCol, textCol)
      GenLog.currentGen(fs, root)
        .flatMap(g => GenLog.readMeta(spark, g, FormatVersion).map(g -> _)) match {
        case Some((gen, m)) if m.snap.isEmpty && m.n == n && m.fp == fp =>
          validated(root) = (s"fp:$n:$fp", gen.toString)
          gen.toString
        case _ =>
          require(n > 0,
            s"TextIndex: refusing to index an empty corpus ($root)")
          val gen = publishPostings(spark, root,
            postingRows(docs, idCol, textCol),
            GenLog.Meta(n, FormatVersion, fp, snap = None, parent = None))
          validated(root) = (s"fp:$n:$fp", gen)
          gen
      }
    }

  /** [[ensure]] for a corpus published through
    * [[graft.store.SnapshotStore]]: validity keyed on the current
    * snapshot name — revalidation is metadata-only (no corpus scan). */
  def ensureForSnapshot(spark: SparkSession, storeRoot: String,
                        idCol: String = "doc_id",
                        textCol: String = "text"): String =
    buildLock.synchronized {
      val snap = graft.store.SnapshotStore.currentName(spark, storeRoot)
        .getOrElse(throw new java.io.FileNotFoundException(
          s"no snapshot published under $storeRoot — commit the corpus first"))
      val root = indexPath(s"store:$storeRoot")
      validated.get(root) match {
        case Some((t, gen)) if t == s"snap:$snap" => return gen
        case _ => ()
      }
      val fs = new Path(root)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      GenLog.currentGen(fs, root)
        .flatMap(g => GenLog.readMeta(spark, g, FormatVersion).map(g -> _)) match {
        case Some((gen, m)) if m.snap.contains(snap) =>
          validated(root) = (s"snap:$snap", gen.toString)
          gen.toString
        case _ =>
          val docs = graft.store.SnapshotStore.read(spark, storeRoot)
          val n = docs.count()
          require(n > 0,
            s"TextIndex: refusing to index an empty corpus ($root)")
          val gen = publishPostings(spark, root,
            postingRows(docs, idCol, textCol),
            GenLog.Meta(n, FormatVersion, fp = 0L, snap = Some(snap),
              parent = None))
          validated(root) = (s"snap:$snap", gen)
          gen
      }
    }

  /** [[ensureForSnapshot]] that prefers an INCREMENTAL advance — the
    * [[LshBandIndex.advanceForSnapshot]] pattern for the inverted
    * index: when the index is valid for an earlier snapshot and the
    * store's change feed between the indexed and current snapshots is
    * pure inserts, only the new documents are tokenized and chained as
    * a delta generation. Updates/deletes in the feed, a vacuumed
    * indexed version, or a missing/stale index fall back to a full
    * rebuild; an empty feed (identical republish) re-keys via the
    * zero-row delta. */
  def advanceForSnapshot(spark: SparkSession, storeRoot: String,
                         idCol: String = "doc_id",
                         textCol: String = "text"): String =
    buildLock.synchronized {
      val snap = graft.store.SnapshotStore.currentName(spark, storeRoot)
        .getOrElse(throw new java.io.FileNotFoundException(
          s"no snapshot published under $storeRoot — commit the corpus first"))
      val root = indexPath(s"store:$storeRoot")
      validated.get(root) match {
        case Some((t, gen)) if t == s"snap:$snap" => return gen
        case _ => ()
      }
      val fs = new Path(root)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      def rebuild(): String = {
        val docs = graft.store.SnapshotStore.read(spark, storeRoot)
        val n = docs.count()
        require(n > 0,
          s"TextIndex: refusing to index an empty corpus ($root)")
        publishPostings(spark, root, postingRows(docs, idCol, textCol),
          GenLog.Meta(n, FormatVersion, fp = 0L, snap = Some(snap),
            parent = None))
      }
      val gen = GenLog.currentGen(fs, root)
        .flatMap(g => GenLog.readMeta(spark, g, FormatVersion).map(g -> _)) match {
        case Some((g, m)) if m.snap.contains(snap) => g.toString
        case Some((g, m)) if m.snap.isDefined =>
          // Try wraps ONLY the change-feed computation (a vacuumed
          // indexed version legitimately degrades to a rebuild); the
          // advance stays OUTSIDE it — swallowing its failures would
          // silently turn every advance into an O(corpus) rebuild and
          // could double-publish after a post-flip error
          // (the LshBandIndex.advanceForSnapshot discipline).
          val feedOk = scala.util.Try {
            val feed = graft.store.SnapshotStore.changesBetween(
                spark, storeRoot, m.snap.get, snap, Seq(idCol))
              .localCheckpoint(true)
            val churn = feed.filter(col("change_type") =!= "insert")
              .limit(1).count()
            val batch = feed.filter(col("change_type") === "insert")
              .select(col(idCol), col(textCol))
            (churn, batch)
          }.toOption
          feedOk match {
            case Some((churn, batch)) if churn == 0 =>
              // reentrant: buildLock is a JVM monitor
              advanceWithBatch(spark, s"store:$storeRoot", batch,
                idCol, textCol, snap = Some(snap))
            case _ => rebuild()
          }
        case _ => rebuild()
      }
      validated(root) = (s"snap:$snap", gen)
      gen
    }

  /** [[advanceForSnapshot]] with a CALLER-ASSERTED delta — the
    * [[LshBandIndex.advanceForSnapshotWithBatch]] pattern: the writer
    * that just appended `batch` to the store hands the same frame here,
    * skipping the change-feed content diff. Trust-but-verify nets (each
    * cheap, each falling back to the content-diff path rather than
    * recording a wrong index): the row-count identity `count(current
    * snapshot) == indexed n + count(batch)` (a column-less scan) and an
    * id-overlap probe against the postings. Without them, a partial or
    * redelivered batch would chain an incomplete/replaced postings
    * delta keyed to the new snapshot — and since the snapshot path
    * never consults the fingerprint, the wrong index would be served
    * permanently. */
  def advanceForSnapshotWithBatch(spark: SparkSession, storeRoot: String,
                                  batch: DataFrame,
                                  idCol: String = "doc_id",
                                  textCol: String = "text"): String =
    buildLock.synchronized {
      val snap = graft.store.SnapshotStore.currentName(spark, storeRoot)
        .getOrElse(throw new java.io.FileNotFoundException(
          s"no snapshot published under $storeRoot — commit the corpus first"))
      val root = indexPath(s"store:$storeRoot")
      validated.get(root) match {
        case Some((t, gen)) if t == s"snap:$snap" => return gen
        case _ => ()
      }
      val fs = new Path(root)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val b = batch.select(col(idCol).cast("long").as(idCol),
        col(textCol).as(textCol)).localCheckpoint(true)
      // counts AND id-disjointness verified here, not delegated: an
      // overlapping batch on the SNAPSHOT path must fall back to the
      // content diff (advanceWithBatch's overlap REPLACEMENT would index
      // history∖batch ∪ batch, which need not equal the snapshot the
      // result gets keyed to)
      val viaBatch = GenLog.currentGen(fs, root)
        .flatMap(g => GenLog.readMeta(spark, g, FormatVersion).map(g -> _)) match {
        case Some((g, m)) if !m.snap.contains(snap) =>
          val countsOk =
            graft.store.SnapshotStore.read(spark, storeRoot).count() ==
              m.n + b.count()
          lazy val overlaps = postingsOf(spark, g.toString).select("__id")
            .join(b.select(col(idCol).as("__id")), Seq("__id"), "left_semi")
            .limit(1).count() > 0
          countsOk && !overlaps
        case _ => false
      }
      if (viaBatch)
        advanceWithBatch(spark, s"store:$storeRoot", b, idCol, textCol,
          snap = Some(snap))
      else
        advanceForSnapshot(spark, storeRoot, idCol, textCol)
    }

  /** Advance the index with an ingest batch. Fast path (disjoint ids,
    * chain under the cap): tokenize the batch, chain it as a delta —
    * O(batch), indexed text untouched. Guarded slow paths rewrite
    * postings into a fresh base (never re-tokenizing history — postings
    * are final): chain at [[maxChain]] collapses (compaction); an
    * id-overlapping batch (re-crawl) REPLACES the overlapped docs'
    * postings (batch wins, no doc banded twice) — on a bare-keyed index
    * that voids the additive fingerprint (meta records fp=0; the next
    * cross-JVM [[ensure]] rebuilds — safe, just uncached). A zero-row
    * batch publishes a meta-only re-key generation. `snap`, when given,
    * re-keys validity to the new snapshot name — callers advancing a
    * SNAPSHOT-keyed index should prefer [[advanceForSnapshotWithBatch]],
    * which verifies the batch against the store before trusting it;
    * this method trusts the caller. */
  def advanceWithBatch(spark: SparkSession, key: String, batch: DataFrame,
                       idCol: String = "doc_id", textCol: String = "text",
                       snap: Option[String] = None): String =
    buildLock.synchronized {
      val root = indexPath(key)
      val fs = new Path(root)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val (headGen, m) = GenLog.currentGen(fs, root)
        .flatMap(g => GenLog.readMeta(spark, g, FormatVersion).map(g -> _))
        .getOrElse(throw new java.io.FileNotFoundException(
          s"no live text index under $root — ensure() a base first"))
      // one batch-sized materialization feeds the overlap probe, the
      // fingerprint and the postings write
      val b = batch.select(col(idCol).cast("long").as(idCol),
        col(textCol).as(textCol)).localCheckpoint(true)
      val headPostings = postingsOf(spark, headGen.toString)
      val bIds = b.select(col(idCol).as("__id"))
      // overlap EXISTENCE first: narrow semi-join, limit-1 early-out,
      // no distinct (BASELINE.md, "LSH band-index advance scaling",
      // round 10: a distinct() here was an O(corpus) shuffle); exact
      // count only on
      // the corpus-sized rewrite path
      val overlapExists = headPostings.select("__id")
        .join(bIds, Seq("__id"), "left_semi")
        .limit(1).count() > 0
      val nOverlap =
        if (!overlapExists) 0L
        // semi-join BEFORE distinct: restricting to batch ids first
        // shuffles only the overlapped docs' postings (batch-sized),
        // where distinct-first shuffled one row per (doc, term) of the
        // whole chain to dedupe corpus-scale ids
        else headPostings.select("__id")
          .join(bIds, Seq("__id"), "left_semi").distinct().count()
      val nb = b.count()
      val fpB = if (snap.isDefined) 0L else fingerprint(b, idCol, textCol)
      val nNew = m.n + nb - nOverlap
      val fpNew = if (nOverlap > 0) 0L else m.fp ^ fpB
      val tok = snap.map(s => s"snap:$s").getOrElse(s"fp:$nNew:$fpNew")
      val compact =
        GenLog.chain(spark, headGen, FormatVersion).length >= maxChain
      if (nb == 0) {
        val gen0 =
          if (compact)
            publishPostings(spark, root, postingsOf(spark, headGen.toString),
              GenLog.Meta(m.n, FormatVersion, m.fp, snap, None))
          else publishMetaOnly(spark, root,
            GenLog.Meta(m.n, FormatVersion, m.fp, snap,
              Some(headGen.getName)))
        validated(root) = (tok, gen0)
        return gen0
      }
      val batchPostings = postingRows(b, idCol, textCol)
      val gen =
        if (nOverlap > 0 || compact) {
          val hist =
            if (nOverlap == 0) headPostings
            else headPostings.join(bIds, Seq("__id"), "left_anti")
          publishPostings(spark, root, hist.unionByName(batchPostings),
            GenLog.Meta(nNew, FormatVersion, fpNew, snap, None))
        } else
          publishPostings(spark, root, batchPostings,
            GenLog.Meta(nNew, FormatVersion, fpNew, snap,
              Some(headGen.getName)))
      validated(root) = (tok, gen)
      gen
    }

  /** The live generation path under `key`, if any — resolved from disk,
    * no staleness check (for callers that own all writes). */
  def currentGenPath(spark: SparkSession, key: String): Option[String] = {
    val root = indexPath(key)
    val fs = new Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    GenLog.currentGen(fs, root)
      .filter(g => GenLog.readMeta(spark, g, FormatVersion).isDefined)
      .map(_.toString)
  }

  /** Postings of the generation CHAIN rooted at `genPath`. Meta-only
    * re-key generations have no postings dir and are skipped; filters
    * push through the union into every per-generation scan. */
  def postingsOf(spark: SparkSession, genPath: String): DataFrame = {
    val hadoop = spark.sparkContext.hadoopConfiguration
    GenLog.chain(spark, new Path(genPath), FormatVersion)
      .map(g => new Path(g, "postings"))
      .filter(p => p.getFileSystem(hadoop).exists(p))
      .map(p => spark.read.parquet(p.toString))
      .reduce(_ unionByName _)
  }

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
      val hadoop = spark.sparkContext.hadoopConfiguration
      val tokens = GenLog.chain(spark, head, FormatVersion)
        .map(g => new Path(g, "stats"))
        .filter(p => p.getFileSystem(hadoop).exists(p))
        .map(p => spark.read.parquet(p.toString)
          .agg(coalesce(sum(col("tokens")), lit(0L))).head().getLong(0))
        .sum
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

  /** A META-ONLY generation (no postings/stats): the re-key for a
    * zero-row advance, chained so readers resolve the parent's rows. */
  private def publishMetaOnly(spark: SparkSession, root: String,
                              meta: GenLog.Meta): String = {
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val prevGen = GenLog.currentGen(fs, root).map(_.getName)
    val genName = GenLog.newGenName()
    val gen = new Path(rootPath, genName)
    GenLog.writeMeta(spark, gen, meta)
    GenLog.publishGen(spark, root, genName)
    GenLog.pruneGens(spark, fs, rootPath, genName, prevGen, FormatVersion)
    gen.toString
  }

  /** Write `rows` as a fresh generation's tb-partitioned postings dir,
    * derive its stats row FROM THE WRITTEN parquet (one narrow tf scan
    * — meta and rows can never desynchronize on a non-deterministic
    * input), publish via the atomic pointer flip, prune. */
  private def publishPostings(spark: SparkSession, root: String,
                              rows: DataFrame, meta: GenLog.Meta): String = {
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val prevGen = GenLog.currentGen(fs, root).map(_.getName)
    val genName = GenLog.newGenName()
    val gen = new Path(rootPath, genName)
    rows.repartition(col("tb"))
      .write.partitionBy("tb").parquet(new Path(gen, "postings").toString)
    val tokens = spark.read.parquet(new Path(gen, "postings").toString)
      .agg(coalesce(sum(col("tf")), lit(0L))).head().getLong(0)
    import spark.implicits._
    Seq(tokens).toDF("tokens").repartition(1)
      .write.parquet(new Path(gen, "stats").toString)
    GenLog.writeMeta(spark, gen, meta)
    GenLog.publishGen(spark, root, genName)
    GenLog.pruneGens(spark, fs, rootPath, genName, prevGen, FormatVersion)
    gen.toString
  }
}
