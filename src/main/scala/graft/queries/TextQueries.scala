package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Text-analysis + deduplication operators over the `documents` table —
  * the training-data-pipeline extensions (token counting, language-ID
  * heuristic, quality scoring, fingerprinting, exact dedup, n-gram
  * Jaccard, MinHash-LSH near-dup, SimHash).
  *
  * Scale notes (100 TB posture): every operator here is a single pass over
  * documents with per-row expressions (whole-stage codegen'd, no UDFs);
  * dedup groups by a 128-bit fingerprint (shuffle on fp, not raw text —
  * constant-width keys); MinHash-LSH joins only within band buckets
  * (candidate pairs ≪ n², the whole point of LSH at scale); the n-gram
  * Jaccard all-pairs variant is deliberately restricted to a bounded
  * window (doc_id < 50) — at scale you run LSH first and Jaccard only on
  * candidates.
  */
object TextQueries {
  type Q = (SparkSession, String) => DataFrame

  private val cleanText = lower(trim(regexp_replace(col("text"), "\\s+", " ")))

  /** The tx15/tx17 BM25 scored frame `(doc_id, score, n_terms)` —
    * Robertson/Okapi with the Lucene idf variant, k1=1.2 b=0.75:
    * score(D,Q) = Σ_t ln(1+(N−df+.5)/(df+.5)) · tf(k1+1)/(tf + k1(1−b+b·dl/avgdl)).
    * One tokenize pass; the query-term filter lands BEFORE any agg
    * (selectivity |Q|/vocab at the explode, so the tf shuffle carries
    * only matching (doc, term) rows); df is a ≤|Q|-row broadcast;
    * (N, avgdl) is one bounded 1-row driver agg. Per-term contributions
    * round→DECIMAL before the per-doc sum so the score is
    * order-independent (exact associative addition), matching DuckDB. */
  private def bm25Scored(s: SparkSession, d: String,
                         qTerms: Seq[String]): DataFrame = {
    val toks = documents(s, d)
      .select(col("doc_id"), explode(split(cleanText, " ")).as("term"))
    val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val statsRow = dl
      .agg(count(lit(1)).cast("double"), avg(col("dl"))).head()
    val (n, avgdl) = (statsRow.getDouble(0), statsRow.getDouble(1))
    val tf = toks.filter(col("term").isin(qTerms: _*))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    tf.join(broadcast(df), "term")
      .join(dl, "doc_id")
      .withColumn("contrib", round(
        log(lit(1.0) + (lit(n) - col("df") + 0.5) / (col("df") + 0.5)) *
          (col("tf") * 2.2) /
          (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / lit(avgdl))),
        6).cast("decimal(18,6)"))
      .groupBy("doc_id")
      .agg(sum(col("contrib")).cast("double").as("score"),
        count(lit(1)).as("n_terms"))
  }

  val queries: Map[String, Q] = Map(
    // PII redaction for corpus curation: synthesize URL/email/phone into
    // the document text deterministically, then run the production
    // Transforms.redactPii (URL → EMAIL → PHONE pass order).
    "tx11_pii_redact" -> ((s, d) => {
      val withPii = documents(s, d).select(col("doc_id"),
        concat(
          substring(col("text"), 1, 60),
          when(col("doc_id") % 3 === 0,
            concat(lit(" visit https://ex.vn/p/"), col("doc_id").cast("string"),
              lit("?u=a@b.com now"))).otherwise(lit("")),
          when(col("doc_id") % 4 === 0,
            concat(lit(" mail user"), col("doc_id").cast("string"),
              lit(".vn@example.com.vn"))).otherwise(lit("")),
          when(col("doc_id") % 5 === 0,
            concat(lit(" call +84"), lpad((col("doc_id") % 1000000000L).cast("string"), 9, "5"),
              lit(" or 09"), lpad((col("doc_id") % 10000000L).cast("string"), 8, "7")))
            .otherwise(lit(""))).as("text"))
      graft.transform.Transforms.redactPii(withPii, Seq("text"))
        .orderBy("doc_id")
    }),

    // TX12: context-window chunking — fixed-width character chunks with
    // overlap (stride = width − overlap), the doc→training-sample
    // explode every pretraining pipeline runs. Pure generator shape:
    // sequence() of chunk starts → explode → substring; one narrow
    // dependency, no shuffle at all until a downstream op needs one.
    "tx12_chunking" -> ((s, d) => {
      val width = 256
      val stride = 224 // 32-char overlap
      documents(s, d)
        .select(col("doc_id"), col("text"),
          explode(sequence(lit(0),
            greatest(expr(s"CAST((length(text) - 1) DIV $stride AS INT)"),
              lit(0)))).as("k"))
        .select(col("doc_id"), col("k").as("chunk_idx"),
          col("text").substr(col("k") * stride + 1, lit(width)).as("chunk"))
        .select(col("doc_id"), col("chunk_idx"),
          length(col("chunk")).as("chunk_len"), md5(col("chunk")).as("chunk_md5"))
        .orderBy("doc_id", "chunk_idx")
    }),

    // TX13: sequence packing — assign documents to fixed-capacity
    // training bins (2048 tokens) by running token total per source
    // shard: bin = floor(tokens_before_doc / capacity). One window pass
    // per shard — the distributed analogue of greedy sample packing, and
    // deterministic under re-runs (ordered by doc_id, no RNG).
    "tx13_sequence_pack" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy("doc_id")
        .rowsBetween(Long.MinValue, 0)
      documents(s, d)
        .select(col("doc_id"), col("source"),
          size(split(trim(col("text")), "\\s+")).as("n_tokens"))
        .withColumn("cum", sum(col("n_tokens")).over(w))
        .select(col("doc_id"), col("source"), col("n_tokens"),
          expr("CAST((cum - n_tokens) DIV 2048 AS INT)").as("bin_idx"))
        .orderBy("doc_id")
    }),

    // token counting (whitespace tokenizer).
    "tx1_token_count" -> ((s, d) =>
      documents(s, d)
        .select(col("doc_id"),
          size(split(trim(col("text")), "\\s+")).as("n_tokens"),
          col("n_chars"))
        .orderBy("doc_id")),

    // language-ID n-gram/stopword heuristic.
    "tx2_lang_id" -> ((s, d) =>
      documents(s, d)
        .select(col("doc_id"),
          expr("CAST(regexp_count(text, '\\\\b(the|a|of|and)\\\\b') AS INT)").as("n_stop"),
          col("lang"))
        .withColumn("lang_pred",
          when(col("n_stop") >= 2, "en").otherwise("unk"))
        .orderBy("doc_id")),

    // quality scoring: length + token-count heuristics in [0,1].
    "tx3_quality_score" -> ((s, d) =>
      documents(s, d)
        .withColumn("n_tokens", size(split(trim(col("text")), "\\s+")))
        .select(col("doc_id"),
          round(least(lit(1.0), col("n_tokens") / lit(50.0)) * 0.5 +
            when(col("n_chars").between(100, 5000), 0.5).otherwise(0.25), 6)
            .as("q_score"))
        .orderBy("doc_id")),

    // language-ID via character-trigram profiles. A FIXED 16-gram
    // profile doesn't need the generic shape (explode every trigram →
    // broadcast-join the profile → shuffle → per-doc window argmax):
    // that pushes |corpus| generated rows through an exchange to answer
    // a per-row question. Overlapping occurrences of each profile gram
    // count in-place with a zero-width-lookahead regexp_count — one
    // codegen'd scalar pass, zero joins, zero data shuffles (the only
    // Exchange left is the output sort). Measured 2.7 s → 0.2 s median
    // at sf0.1. The DuckDB oracle keeps the position-explode
    // formulation: same result, independently derived. Tie-break
    // matches the old window argmax (hits desc, candidate asc);
    // all-zero → 'unk'. The generic explode+join shape — what you'd
    // use when the profile table is data, not code — remains exercised
    // by cm1/tx10/dd9.
    "tx8_lang_trigram" -> ((s, d) => {
      val langGrams: Seq[(String, Seq[String])] = Seq(
        "de" -> Seq("der", "sch", "ein", "ich"),
        "en" -> Seq("the", "and", "ing", "ent"),
        "es" -> Seq("que", "los", "cio", "ent"),
        "fr" -> Seq("les", "des", "que", "ent"))
      def occ(g: String) = expr(s"regexp_count(t, '(?=$g)')").cast("long")
      val withHits = documents(s, d)
        .select(col("doc_id"), lower(col("text")).as("t"))
        .select(col("doc_id") +: langGrams.map { case (l, gs) =>
          gs.map(occ).reduce(_ + _).as(s"h_$l") }: _*)
      val hmax = greatest(col("h_de"), col("h_en"), col("h_es"), col("h_fr"))
      withHits.select(col("doc_id"),
          when(hmax === 0, lit("unk"))
            .when(col("h_de") === hmax, lit("de"))
            .when(col("h_en") === hmax, lit("en"))
            .when(col("h_es") === hmax, lit("es"))
            .otherwise(lit("fr")).as("pred_lang"),
          hmax.as("hits"))
        .orderBy("doc_id")
    }),

    // quality FEATURE VECTOR: the length/punct/stopword/case ratios a
    // corpus-filtering pass thresholds on (separate columns, not a single
    // collapsed score, so downstream filters can tune per-dimension).
    "tx7_quality_features" -> ((s, d) =>
      documents(s, d)
        .withColumn("n_tokens",
          greatest(size(split(trim(col("text")), "\\s+")), lit(1)))
        .withColumn("len", greatest(length(col("text")), lit(1)))
        // NO round() here: these are exact per-row IEEE divisions of the
        // same integer inputs in both engines (identical bit patterns);
        // rounding would reintroduce the HALF_UP/HALF_EVEN divergence on
        // decimal-halfway quotients (see the oracle-parity rules).
        .select(col("doc_id"),
          (expr("CAST(regexp_count(text, '[.,!?;:]') AS DOUBLE)")
            / col("len")).as("punct_ratio"),
          (expr("CAST(regexp_count(text, '\\\\b(the|a|of|and|to|in)\\\\b') AS DOUBLE)")
            / col("n_tokens")).as("stop_ratio"),
          (expr("CAST(regexp_count(text, '[A-Z]') AS DOUBLE)")
            / col("len")).as("upper_ratio"),
          (length(regexp_replace(col("text"), "\\s", ""))
            .cast("double") / col("n_tokens")).as("mean_word_len"))
        .orderBy("doc_id")),

    // repetition signals (Gopher-style corpus filters): the fraction of
    // word-trigram occurrences taken by the single most frequent trigram,
    // and the distinct/total trigram ratio — repetitive boilerplate and
    // generation loops score high/low respectively. Exact count ratios,
    // no rounding (per-row IEEE division is engine-identical).
    "tx9_repetition" -> ((s, d) => {
      val grams = documents(s, d)
        .select(col("doc_id"), split(cleanText, " ").as("toks"))
        .select(col("doc_id"), explode(expr(
          """transform(sequence(1, greatest(size(toks) - 2, 1)),
            |  i -> concat_ws(' ', toks[i-1], toks[i], toks[i+1]))""".stripMargin))
          .as("g"))
      grams.groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(
          (max(col("c")).cast("double") / sum(col("c"))).as("top_gram_frac"),
          (count(lit(1)).cast("double") / sum(col("c"))).as("distinct_frac"))
        .orderBy("doc_id")
    }),

    // TF-IDF: term frequency × ln(N/df), top-3 terms per document.
    // Shape: one explode → (doc, term) hash agg for TF; a term-level agg
    // for DF joined back on term (zipfian term skew is AQE's skew-join
    // case at corpus scale). tfidf is ROUNDed: ln is transcendental and
    // libm vs Java Math.log differ in the last ulp.
    "tx10_tfidf" -> ((s, d) => {
      val docs = documents(s, d)
      val nDocs = docs.count()
      val terms = docs
        .select(col("doc_id"), explode(split(cleanText, " ")).as("term"))
      // r18: EAGER checkpoint at tf — its two consumers (the df
      // aggregate and the score join's probe side) canonicalize
      // differently after column pruning (the df branch drops the tf
      // count), so ReuseExchange never fired and the corpus was scanned
      // and tokenized TWICE per run (both subtrees in the final plan).
      // One materialization serves both; the stored bytes are the same
      // O(distinct (doc, term)) rows the tf exchange already spilled to
      // shuffle disk — the standard inverted-list materialization (the
      // dd14 gram-relation idiom), not an O(corpus tokens) raw cache.
      val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        .localCheckpoint(true)
      val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy(col("tfidf").desc, col("term"))
      tf.join(df, "term")
        .withColumn("tfidf",
          round(col("tf") * log(lit(nDocs.toDouble) / col("df")), 6))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("doc_id"), col("rn"), col("term"), col("tf"), col("df"),
          col("tfidf"))
        .orderBy("doc_id", "rn")
    }),

    // BM25 keyword retrieval (Robertson/Okapi, the Lucene idf variant):
    // score(D,Q) = Σ_t ln(1+(N−df+.5)/(df+.5)) · tf(k1+1)/(tf + k1(1−b+b·dl/avgdl)),
    // k1=1.2 b=0.75 — targeted subset selection over a corpus ("give me
    // the docs about X") is a curation primitive next to tx10's tf-idf.
    // Shape: ONE tokenize pass; the query-term filter lands BEFORE any
    // agg (selectivity |Q|/vocab at the explode, so the tf shuffle
    // carries only matching (doc, term) rows); df is a ≤|Q|-row broadcast;
    // (N, avgdl) is one bounded 1-row driver agg; top-10 is TakeOrderedAndProject
    // (k-bounded per partition, no global sort). Per-term contributions
    // round→DECIMAL before the per-doc sum so the score is
    // order-independent (exact associative addition), matching DuckDB.
    "tx15_bm25" -> ((s, d) => {
      val scored = bm25Scored(s, d, Seq("spark", "vector", "merge"))
        .orderBy(col("score").desc, col("doc_id")).limit(10)
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("score").desc, col("doc_id"))
      scored.withColumn("rank", row_number().over(w))
        .select(col("rank"), col("doc_id"), col("score"), col("n_terms"))
        .orderBy("rank")
    }),

    // HYBRID retrieval with reciprocal-rank fusion (RRF, Cormack et
    // al.'s k=60): the standard two-tower serving shape — a lexical
    // BM25 leg over `documents` and a dense cosine leg over the
    // 1:1-aligned `embeddings` table (doc_id = vec_id), each producing
    // a top-50 ranked list, fused as Σ 1/(60+rank) over the UNION of
    // the lists (a doc missing from one leg simply contributes one
    // term). Rank fusion needs no score calibration between the legs —
    // exactly why RRF is the production default for lexical+dense.
    //
    // Shape: the BM25 leg is tx15's scored frame (filter-before-agg,
    // broadcast df, 1-row stats); the dense leg scans the corpus once
    // against ONE broadcast query vector with the k-bounded TopKScored
    // aggregate (partial map-side, no rank window over the corpus);
    // both legs' windows and the fusion join run over ≤50-row frames —
    // bounded by construction, never corpus-sized. rrf_score is a sum
    // of two exact IEEE quotients rounded to 9 dp — identical in every
    // engine.
    "tx17_hybrid_rrf" -> ((s, d) => {
      val w50 = org.apache.spark.sql.expressions.Window
        .orderBy(col("score").desc, col("doc_id"))
      val lex = bm25Scored(s, d, Seq("spark", "vector", "merge"))
        .orderBy(col("score").desc, col("doc_id")).limit(50)
        .select(col("doc_id"), row_number().over(w50).as("bm25_rank"))
      val e = embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val q = e.filter(col("vec_id") === 0)
        .select(col("emb").as("qe"))
      val dense = e.filter(col("vec_id") =!= 0)
        .join(broadcast(q))
        .withColumn("cs", expr("graft_cosine(emb, qe)"))
        .agg(graft.functions.BottomK.topKScored(col("cs"), col("vec_id"), 50)
          .as("top"))
        .select(posexplode(col("top")).as(Seq("pos0", "m")))
        .select(col("m.id").as("doc_id"),
          (col("pos0") + 1).cast("int").as("vec_rank"))
      val fused = lex.join(dense, Seq("doc_id"), "full_outer")
        .withColumn("rrf_score", round(
          coalesce(lit(1.0) / (lit(60) + col("bm25_rank")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(60) + col("vec_rank")), lit(0.0)), 9))
        .orderBy(col("rrf_score").desc, col("doc_id")).limit(10)
      val wf = org.apache.spark.sql.expressions.Window
        .orderBy(col("rrf_score").desc, col("doc_id"))
      fused.withColumn("rank", row_number().over(wf))
        .select(col("rank"), col("doc_id"), col("rrf_score"),
          col("bm25_rank"), col("vec_rank"))
        .orderBy("rank")
    }),

    // BM25 served from the persisted INVERTED INDEX
    // (operators.TextIndex, a GenLog managed artifact): same terms,
    // same math, same oracle SQL as tx15 — but the probe reads only the
    // query terms' partition-pruned posting buckets, never the corpus
    // text. tx15 is the direct spelling (one corpus pass per query);
    // this is what you actually run at 100 TB (tokenize once, probe
    // many). Sharing tx15's oracle verbatim means the indexed path can
    // never silently diverge from the direct one.
    "tx16_bm25_indexed" -> ((s, d) => {
      val gen = graft.operators.TextIndex.ensure(s, documents(s, d),
        key = s"bm25:$d")
      graft.operators.TextIndex.bm25(s, gen,
        Seq("spark", "vector", "merge"), k = 10)
    }),

    // document fingerprint: md5 over normalized text.
    "tx4_fingerprint" -> ((s, d) =>
      documents(s, d)
        .select(col("doc_id"), md5(cleanText).as("fp"))
        .orderBy("doc_id")),

    // exact dedup: group by content hash, keep lowest doc_id.
    "dd1_dedup_exact" -> ((s, d) =>
      documents(s, d)
        .groupBy(md5(col("text")).as("fp"))
        .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("n_copies"))
        .orderBy("keeper_id")),

    // exact dedup, row-preserving (W1 shape over content hash).
    "dd2_dedup_keep_first" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(md5(col("text"))).orderBy("doc_id")
      documents(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("doc_id", "source")
        .orderBy("doc_id")
    }),

    // character-3-gram Jaccard similarity, bounded all-pairs.
    // Shape: explode distinct grams → equi-join on gram → count common →
    // |A∪B| = |A|+|B|−common. A codegen'd hash join + hash agg instead of
    // per-pair interpreted array_intersect/array_union — and the formulation
    // that survives scale (shuffle on gram, never nested-loop arrays).
    "dd3_ngram_jaccard" -> ((s, d) => {
      val sh = documents(s, d)
        .filter(col("doc_id") < 50 && length(col("text")) >= 3)
        .select(col("doc_id"), explode(array_distinct(expr(
          "transform(sequence(1, greatest(length(text) - 2, 1)), i -> substring(text, i, 3))")))
          .as("g"))
      val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
      val common = sh.select(col("doc_id").as("doc_a"), col("g"))
        .join(sh.select(col("doc_id").as("doc_b"), col("g")), "g")
        .filter(col("doc_a") < col("doc_b"))
        .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("common"))
      // full pair skeleton keeps zero-overlap pairs in the output —
      // built WITHOUT a nested-loop join: dense-rank the (50-doc-bounded)
      // id list, explode each doc's strictly-higher rank range, and
      // equi-join the rank back to (doc_b, sb). The single-partition
      // window is fine here by construction (the skeleton is bounded);
      // gram counting above stays the unbounded-scale equi-join path.
      val wAll = org.apache.spark.sql.expressions.Window.orderBy("doc_id")
      val wTot = org.apache.spark.sql.expressions.Window.partitionBy()
      val ranked = sizes
        .withColumn("rn", row_number().over(wAll))
        .withColumn("n_docs", count(lit(1)).over(wTot).cast("int"))
      val pairs = ranked
        .select(col("doc_id").as("doc_a"), col("sz").as("sa"),
          explode(when(col("rn") < col("n_docs"),
            sequence(col("rn") + 1, col("n_docs")))
            .otherwise(expr("CAST(array() AS array<int>)"))).as("rb"))
        .join(ranked.select(col("rn").as("rb"), col("doc_id").as("doc_b"),
          col("sz").as("sb")), "rb")
      pairs.join(common, Seq("doc_a", "doc_b"), "left")
        .withColumn("c", coalesce(col("common"), lit(0L)))
        .select(col("doc_a"), col("doc_b"),
          round(col("c").cast("double") / (col("sa") + col("sb") - col("c")), 6)
            .as("jac"))
        .orderBy("doc_a", "doc_b")
    }),

    // MinHash (16 perms) + LSH banding (4 bands × 4 rows), RECALL-GATED:
    // LSH candidates (full corpus, graft.operators.MinHashLSH — fused
    // codegen signature, banded equi-join, never all-pairs) are joined
    // against the EXACT word-3-shingle Jaccard pairs of a bounded scope
    // (doc_id < 1000; integer-arithmetic threshold j ≥ 0.9, so no float
    // edge), and each true near-dup pair is emitted with whether LSH
    // recalled it. DuckDB reproduces the exact-pair side and asserts
    // recalled = TRUE — at 16/4 banding the miss probability for j ≥ 0.9
    // pairs is deterministic-per-dataset and zero here (tri-scale
    // verified), so a hash/signature regression that drops a true pair
    // flips a boolean and fails the oracle. The raw candidate surface
    // (est_jaccard per pair) stays available via MinHashLSH
    // .candidatePairs; QueriesSpec/PropertiesSpec pin its properties.
    "dd4_minhash_lsh" -> ((s, d) => {
      val docs = documents(s, d)
      // shared per-corpus LSH pass (MinHashLSH.cachedPairs) — cp1's
      // curation composite reads the same materialized pairs
      val cands = graft.operators.MinHashLSH.cachedPairs(docs, cacheKey = d)
        .select(col("src").as("doc_a"), col("dst").as("doc_b"))
      // exact truth in the SIGNATURE's similarity space: word-3-shingles
      // built exactly as functions.MinHashSig does (concat_ws over
      // toks[i-1..i+1], i ∈ [1, max(n-2,1)])
      val sh = docs.filter(col("doc_id") < 1000)
        .select(col("doc_id"),
          split(lower(trim(regexp_replace(col("text"), "\\s+", " "))), " ")
            .as("toks"))
        .select(col("doc_id"), explode(array_distinct(expr(
          "transform(sequence(1, greatest(size(toks) - 2, 1)), " +
            "i -> concat_ws(' ', toks[i-1], toks[i], toks[i+1]))"))).as("g"))
      val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
      val common = sh.select(col("doc_id").as("doc_a"), col("g"))
        .join(sh.select(col("doc_id").as("doc_b"), col("g")), "g")
        .filter(col("doc_a") < col("doc_b"))
        .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("common"))
      common
        .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("sa")), "doc_a")
        .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("sb")), "doc_b")
        .filter(col("common") * 10 >= (col("sa") + col("sb") - col("common")) * 9)
        .join(cands.withColumn("hit", lit(true)), Seq("doc_a", "doc_b"), "left")
        .select(col("doc_a"), col("doc_b"), col("common"),
          (col("sa") + col("sb") - col("common")).as("union_sz"),
          coalesce(col("hit"), lit(false)).as("recalled"))
        .orderBy("doc_a", "doc_b")
    }),

    // DERIVED-GEOMETRY fuzzy dedup (r15 verdict #6): dd4 gates the
    // SHIPPED default geometry at the near-exact regime (J ≥ 0.9);
    // this gate makes the geometry DIAL load-bearing — the banding is
    // not hand-picked but computed by MinHashLSH.geometryFor(0.7,
    // 0.9999, 2) = Geometry(28 perms, 14 bands of 2) from the fuzzy
    // design point, and the corpus is SEEDED with genuinely fuzzy
    // pairs: each doc_id < 500 gets a twin with every 20th token
    // substituted, landing twin-base Jaccard at 0.70-0.85 (measured
    // tri-scale; the organic corpus has NO pairs between 0.55 and
    // 0.89, so without planting the 0.7 regime would go unexercised).
    // Same recall-gate shape as dd4: DuckDB reproduces the exact
    // word-3-shingle truth (integer-arithmetic j ≥ 0.7) and asserts
    // recalled = TRUE — at 14×2 the per-pair miss probability for a
    // J = 0.71 pair is ~6e-5, deterministic per dataset, and zero on
    // all three sf corpora (verified like dd4). The token substitution
    // uses the 1-BASED position spelling on both sides (Spark's
    // transform index is 0-based, DuckDB's is 1-based).
    "dd18_fuzzy_minhash_derived" -> ((s, d) => {
      val g = graft.operators.MinHashLSH.geometryFor(
        threshold = 0.7, targetRecall = 0.9999, rowsPerBand = 2)
      val base = documents(s, d).filter(col("doc_id") < 500)
        .select(col("doc_id"),
          lower(trim(regexp_replace(col("text"), "\\s+", " "))).as("t"))
      val twins = base.select((col("doc_id") + 100000L).as("doc_id"),
        concat_ws(" ", expr(
          "transform(split(t, ' '), (tok, i) -> " +
            "IF((i + 1) % 20 = 0, concat('zz', cast(i + 1 as string)), tok))"))
          .as("t"))
      val corpus = base.unionByName(twins)
      val cands = graft.operators.MinHashLSH.candidatePairs(corpus,
          idCol = "doc_id", textCol = "t",
          numPerms = g.numPerms, bands = g.bands)
        .select(col("src").as("doc_a"), col("dst").as("doc_b"))
      val sh = corpus
        .select(col("doc_id"), split(col("t"), " ").as("toks"))
        .select(col("doc_id"), explode(array_distinct(expr(
          "transform(sequence(1, greatest(size(toks) - 2, 1)), " +
            "i -> concat_ws(' ', toks[i-1], toks[i], toks[i+1]))"))).as("g"))
      val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
      val common = sh.select(col("doc_id").as("doc_a"), col("g"))
        .join(sh.select(col("doc_id").as("doc_b"), col("g")), "g")
        .filter(col("doc_a") < col("doc_b"))
        .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("common"))
      common
        .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("sa")), "doc_a")
        .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("sb")), "doc_b")
        .filter(col("common") * 10 >= (col("sa") + col("sb") - col("common")) * 7)
        .join(cands.withColumn("hit", lit(true)), Seq("doc_a", "doc_b"), "left")
        .select(col("doc_a"), col("doc_b"), col("common"),
          (col("sa") + col("sb") - col("common")).as("union_sz"),
          coalesce(col("hit"), lit(false)).as("recalled"))
        .orderBy("doc_a", "doc_b")
    }),

    // SimHash signature + Hamming distance between consecutive doc_ids.
    // ORACLED (round-9 verdict item 4): the per-token hash is the first
    // 15 md5 hex chars as a 60-bit integer — a pure function both engines
    // compute identically (the sm1/sm4/sm5 portable-hash idiom) — so the
    // whole signature (per-bit majority vote over token hashes) and the
    // pairwise Hamming distance are reproducible in DuckDB bit ops,
    // where the previous xxhash64 formulation was engine-internal and
    // rows-only. 60 bits instead of 64 so the hash fits a signed BIGINT
    // in both engines; the production-shape 64-bit kernel (xxhash64 +
    // the SimHash64 Aggregator for long documents) stays spec-gated in
    // SimHashSpec.
    "dd5_simhash" -> ((s, d) => {
      val sims = documents(s, d)
        .select(col("doc_id"),
          expr("transform(split(lower(trim(regexp_replace(text, '\\\\s+', ' '))), ' '), " +
            "t -> cast(conv(substring(md5(t), 1, 15), 16, 10) as bigint))")
            .as("th"))
        .select(col("doc_id"), expr(
          """transform(sequence(0, 59), i ->
            |  IF(aggregate(th, 0, (acc, h) -> acc + IF((shiftright(h, CAST(i AS INT)) & 1) = 1, 1, -1)) >= 0, 1, 0))""".stripMargin)
          .as("bits"))
      val a = sims.select(col("doc_id").as("doc_a"), col("bits").as("bits_a"))
      val b = sims.select((col("doc_id") - 1).as("doc_a"), col("doc_id").as("doc_b"),
        col("bits").as("bits_b"))
      a.join(b, Seq("doc_a"))
        .select(col("doc_a"), col("doc_b"),
          expr("concat_ws('', bits_a)").as("simhash_a"),
          expr("aggregate(zip_with(bits_a, bits_b, (x, y) -> IF(x = y, 0, 1)), 0, (acc, v) -> acc + v)")
            .as("hamming"))
        .orderBy("doc_a")
    }),

    // TX14: unigram language-model log-probability — the CCNet-style
    // "train an LM on the corpus, score each document" quality signal
    // (perplexity = exp(-avg_logp)). Token frequencies are one hash agg;
    // the vocabulary is a broadcast dim joined back; the corpus token
    // total is a 1-row scalar pull re-injected as a literal (the
    // SilverEtl stats shape — no crossJoin, no whitelist entry). Each
    // logp is decimal-cast and SUMMED exactly (sum, not avg: decimal
    // division rounds HALF_UP in Spark vs float division in DuckDB on
    // halfway digits — the mean is derivable from sum/n_toks); ln
    // rounds at 6 (the m5 rule) AFTER the exact-decimal sum.
    "tx14_unigram_logprob" -> ((s, d) => {
      val toks = documents(s, d)
        .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("tok"))
      // The vocab dim is read twice — the eager total pull below, then
      // the broadcast join when the caller executes the returned plan —
      // and without a cache each read re-tokenizes the whole corpus.
      // Persist the SMALL side only (vocab ≈ distinct tokens, a few MB;
      // left to LRU eviction since the lazy return leaves no sound
      // unpersist point): tokenization runs twice instead of three
      // times, and nothing O(corpus tokens) is ever cached.
      val freq = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val total = freq.agg(sum("cnt")).head().getLong(0)
      toks.join(broadcast(freq), "tok")
        .withColumn("logp",
          log(col("cnt").cast("double") / lit(total.toDouble))
            .cast(org.apache.spark.sql.types.DecimalType(28, 10)))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_toks"),
          round(sum(col("logp")).cast("double"), 6).as("sum_logp"))
        .orderBy("doc_id")
    }),

    // TX18: multinomial Naive Bayes — TRAIN and SCORE wholly in-engine,
    // the model-based filtering step of a modern curation pipeline
    // (fastText/DCLM-style classifier gates, here predicting `lang` from
    // word unigrams; swap the label column for quality tiers and the
    // same plan scores educational-value filters). Training is one hash
    // aggregation per (class, token) + a C-row class-total/prior pull —
    // a single corpus pass, map-side-combined, no iteration. Scoring
    // expands each token occurrence by the C candidate classes via a
    // literal-array explode (C bounded; collected like tx14's scalar
    // pull — no crossJoin) and LEFT-joins the (class, token) count table
    // on its compact key, so Laplace smoothing ln((cnt+1)/(tot+V)) falls
    // out of the null side; raw text never shuffles past the scan. Each
    // log-likelihood is decimal-cast BEFORE the per-(doc, class) sum
    // (exact associative addition — order-independent, engine-portable,
    // the tx14 rule), priors add in decimal, and the argmax runs over
    // the ROUNDED score with class-name tie-break so both engines pick
    // identical winners. At 100 TB the (class, token) model is a
    // vocab×C-row table — shuffle-equi-joined here (broadcast when the
    // vocab is capped by a hashing trick); everything else is bounded.
    "tx18_nb_classifier" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.types.DecimalType
      val docs = documents(s, d)
      val toks = docs.select(col("doc_id"), col("lang").as("lang_true"),
        explode(split(cleanText, " ")).as("tok"))
      // model: per-(class, token) counts; persist the SMALL side only
      // (vocab×C rows) — it feeds totals, vocab size, and the score join
      val classTok = toks.groupBy(col("lang_true").as("lang"), col("tok"))
        .agg(count(lit(1)).as("cnt"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val classTot = classTok.groupBy("lang").agg(sum("cnt").as("tot"))
      // r17 driver-action diet: totalDocs = Σ ndocs from the SAME C-row
      // priors pull that already feeds the prior term (the old separate
      // docs.count() re-scanned the corpus for a number the collected
      // rows contain), and langs come from those rows too — one bounded
      // collect instead of three jobs.
      val priors = docs.groupBy("lang").agg(count(lit(1)).as("ndocs"))
      val priorRows = priors.collect()
      val totalDocs = priorRows.map(_.getAs[Long]("ndocs")).sum
      val langs = priorRows.map(_.getString(0)).sorted
      // r15 shape (same values to the last decimal digit, pinned by the
      // unchanged oracle): the previous spelling exploded every token
      // occurrence ×C languages BEFORE a composite-key (lang, tok) join
      // and shuffled tokens×C logp rows into the per-(doc, lang) sum.
      // Now the model pivots to ONE broadcast row per token (a C-entry
      // lang→cnt map; at 100 TB the hashing trick caps the vocab so the
      // broadcast stays bounded), per-language log-probabilities are
      // C decimal columns summed in ONE map-side-partial groupBy(doc),
      // and the C-way explode happens on the (small) per-doc result.
      // Decimal addition is exact, so the regrouped sum is bit-identical.
      val tots = classTot.collect()
        .map(r => r.getString(0) -> r.getAs[Long]("tot")).toMap
      // r18: EAGER localCheckpoint instead of persist+count — same one
      // materialization job, but every downstream reference (the
      // broadcast build and the score join) now scans the vocab-sized
      // RDD instead of re-planning the full corpus-tokenize lineage the
      // InMemoryRelation still embedded (first-run planning was ~1.9 s
      // of this gate's 2.8 s). The model frame is vocab×1 rows — bounded.
      val classTokMap = classTok.groupBy("tok")
        .agg(map_from_entries(collect_list(struct(col("lang"), col("cnt"))))
          .as("cnts"))
        .localCheckpoint(true)
      // vocab size off the pivoted model frame the broadcast reads
      // anyway (one row per token by construction) — a metadata-cheap
      // count over the checkpointed rows.
      val vocabV = classTokMap.count()
      // classTok's two consumers (classTot collect above, the pivot) are
      // both done — release it instead of waiting for LRU eviction
      classTok.unpersist()
      def logpCol(l: String) =
        log((coalesce(element_at(col("cnts"), lit(l)), lit(0L)) + 1)
          .cast("double") / lit((tots(l) + vocabV).toDouble))
          .cast(DecimalType(28, 10))
      val sumCols = langs.map(l =>
        // cap the exact sum back to (28,10) before the prior add so the
        // decimal arithmetic stays in-width in BOTH engines (magnitude
        // ≤ ~1e4, far inside 18 integer digits)
        sum(logpCol(l)).cast(DecimalType(28, 10)).as(s"s_$l"))
      val perDoc = toks.join(broadcast(classTokMap), Seq("tok"), "left")
        .groupBy("doc_id", "lang_true")
        .agg(sumCols.head, sumCols.tail: _*)
      val scored = perDoc.select(col("doc_id"), col("lang_true"),
          explode(array(langs.map(l => struct(lit(l).as("lang"),
            col(s"s_$l").as("sum_logp"))): _*)).as("s"))
        .select(col("doc_id"), col("lang_true"),
          col("s.lang").as("lang"), col("s.sum_logp").as("sum_logp"))
      scored
        .join(broadcast(priors), Seq("lang"))
        .withColumn("score", round(
          (col("sum_logp") +
            log(col("ndocs").cast("double") / lit(totalDocs.toDouble))
              .cast(DecimalType(28, 10))).cast("double"), 6))
        .withColumn("rk", row_number().over(
          Window.partitionBy("doc_id").orderBy(col("score").desc, col("lang"))))
        .filter(col("rk") === 1)
        .select(col("doc_id"), col("lang_true"), col("lang").as("pred_lang"),
          col("score"), (col("lang") === col("lang_true")).as("correct"))
        .orderBy("doc_id")
    }),

    // TX19: BPE vocabulary TRAINING in-engine (Sennrich et al. 2016) —
    // the tokenizer-fitting step of an LLM data pipeline, not just its
    // application (tx3 counts tokens with a fixed regex; this LEARNS the
    // merge table). Three merge rounds; each round is (1) one corpus-
    // linear explode of adjacent symbol pairs + a map-side-combined
    // groupBy for weighted pair counts — pair stats live on the compact
    // (vocab-word, count) frame, the corpus itself is read once up
    // front — (2) a 1-row driver argmax (cnt DESC, pair ASC — the a14
    // bounded-pull pattern; at 100 TB the pair-stat frame is
    // |pairs| ≈ |vocab|·avg_len rows, tiny), and (3) a pure-projection
    // greedy left-to-right fold that applies the merge with NO shuffle.
    // The word frame is localCheckpoint'ed per round (the CC/iteration
    // rule — 3 rounds would otherwise nest Catalyst re-optimization).
    // The DuckDB oracle re-trains the whole thing: same stats, same
    // argmax, and a recursive-CTE leftmost-first re-tokenization that
    // provably equals the fold (single-pair replace-all is confluent:
    // both produce the left-greedy non-overlapping matching; verified
    // MATCH against an independent fold reference at build time).
    "tx19_bpe_train" -> ((s, d) => {
      import s.implicits._
      val words = documents(s, d)
        .select(explode(split(trim(col("text")), "\\s+")).as("w"))
        .select(lower(col("w")).as("word"))
        .filter(col("word").rlike("^[a-z]+$") && length(col("word")) >= 2)
        .groupBy("word").agg(count(lit(1)).as("cnt"))
      val (merges, _) = graft.operators.BpeTrain.train(words, rounds = 3)
      merges.map(m => (m.round, m.a, m.b, m.merged, m.pairCount))
        .toDF("round", "a", "b", "merged", "pair_cnt")
        .orderBy("round")
    }),

    // TX20: BPE APPLICATION accounting — what each learned merge buys:
    // after round r, the corpus-weighted token total Σ cnt(w)·|syms_r(w)|
    // (every application of merge r+1 removes exactly one token, so the
    // totals drop by the next merge's pair count — the compression
    // curve a tokenizer team reads before freezing a vocab) and the
    // symbol-type count (grows by exactly one per productive merge).
    // Same trainer as tx19 (shared trainHistory); the accounting is two
    // tiny aggregates per round over the vocabulary frame. The oracle
    // re-trains and re-counts both series from the same CTE chain.
    "tx20_bpe_compression" -> ((s, d) => {
      import s.implicits._
      val words = documents(s, d)
        .select(explode(split(trim(col("text")), "\\s+")).as("w"))
        .select(lower(col("w")).as("word"))
        .filter(col("word").rlike("^[a-z]+$") && length(col("word")) >= 2)
        .groupBy("word").agg(count(lit(1)).as("cnt"))
      val (_, history) = graft.operators.BpeTrain.trainHistory(words, rounds = 3)
      val rows = history.zipWithIndex.map { case (frame, r) =>
        // two bounded aggregates over the checkpointed vocab frame
        val tot = frame.agg(sum(col("cnt") * size(col("syms"))))
          .head().getLong(0)
        val ns = frame.select(explode(col("syms")).as("s"))
          .agg(countDistinct(col("s"))).head().getLong(0)
        (r, tot, ns)
      }
      rows.toDF("round", "total_tokens", "n_symbols").orderBy("round")
    }),

    // TX21: REFERENCE-CORPUS familiarity filter — the CCNet/fastText
    // filtering SHAPE (score every document against a trusted reference
    // model) in exact integer arithmetic: the "model" is the word-BIGRAM
    // vocabulary of the English reference slice (bigrams seen >= 2
    // times), and a document's familiarity is how many of its bigram
    // OCCURRENCES the reference recognizes. A true LM log-prob would
    // sum libm transcendentals whose last ulp differs across engines;
    // here numerator and denominator ship as integers and the admit
    // flag is an integer cross-multiplication — bit-portable, same
    // filtering decision boundary class. Bigram keys are 60-bit
    // md5-prefix longs (the dd9 shuffle-width rule); the plan is two
    // aggregations plus one equi-join of occurrences against the
    // one-row-per-bigram vocabulary (AQE's skew split covers a hot
    // boilerplate bigram at scale, the SkewSpec-pinned SMJ shape).
    "tx21_ref_familiarity" -> ((s, d) => {
      val big = documents(s, d)
        .select(col("doc_id"), col("lang"),
          split(lower(trim(regexp_replace(col("text"), "\\s+", " "))), " ")
            .as("toks"))
        .filter(size(col("toks")) >= 2)
        .select(col("doc_id"), col("lang"), explode(expr(
          """transform(sequence(1, size(toks) - 1),
            |  i -> cast(conv(substring(md5(concat_ws(' ',
            |         toks[i-1], toks[i])), 1, 15), 16, 10) as bigint))"""
            .stripMargin)).as("g"))
      val refVocab = big.filter(col("lang") === "en")
        .groupBy("g").agg(count(lit(1)).as("c"))
        .filter(col("c") >= 2)
        .select(col("g"), lit(1L).as("__hit"))
      big.join(refVocab, Seq("g"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          sum(coalesce(col("__hit"), lit(0L))).as("n_familiar"))
        .select(col("doc_id"), col("n_bigrams"), col("n_familiar"),
          (col("n_familiar") * 2 >= col("n_bigrams")).as("familiar_enough"))
        .orderBy("doc_id")
    })
  )

  /** The BM25 oracle — shared verbatim by tx15 (direct spelling), tx16
    * (persisted-inverted-index probe) and the s18 write gate (index
    * built through the SnapshotStore lifecycle + delta advance): one
    * SQL, three engine paths that must all hash-match it. */
  /** The BM25 CTE chain through `scored` — shared verbatim by tx15,
    * tx16 (identical final select) and tx17's lexical leg, so the three
    * oracles can never silently diverge. */
  private val Bm25CtesSql: String =
    """toks AS (
      |  SELECT doc_id,
      |    unnest(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS term
      |  FROM documents),
      |dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM toks GROUP BY 1),
      |stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n, AVG(dl) AS avgdl FROM dl),
      |tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
      |       FROM toks WHERE term IN ('spark', 'vector', 'merge') GROUP BY 1, 2),
      |df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
      |contrib AS (
      |  SELECT doc_id,
      |    CAST(ROUND(
      |      ln(1.0 + (n - df + 0.5) / (df + 0.5)) *
      |        (tf * 2.2) /
      |        (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)),
      |      6) AS DECIMAL(18,6)) AS contrib
      |  FROM tf JOIN df USING (term) JOIN dl USING (doc_id), stats),
      |scored AS (
      |  SELECT doc_id, CAST(SUM(contrib) AS DOUBLE) AS score,
      |    CAST(COUNT(*) AS BIGINT) AS n_terms
      |  FROM contrib GROUP BY doc_id)""".stripMargin

  private[queries] val Bm25OracleSql: String =
    s"""WITH $Bm25CtesSql
      |SELECT CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS INTEGER) AS rank,
      |  doc_id, score, n_terms
      |FROM scored
      |QUALIFY rank <= 10
      |ORDER BY rank""".stripMargin

  /** tx17: the same BM25 `scored` leg ranked to 50, a dense cosine leg
    * (v2's list_cosine_similarity spelling) ranked to 50, full-outer
    * RRF fusion at k=60. CAST(1.0 AS DOUBLE) keeps the quotient IEEE —
    * DuckDB's bare 1.0 literal is DECIMAL and would divide exactly. */
  private val HybridRrfOracleSql: String =
    s"""WITH $Bm25CtesSql,
      |lex AS (
      |  SELECT doc_id,
      |    CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS INTEGER) AS bm25_rank
      |  FROM scored QUALIFY bm25_rank <= 50),
      |qv AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qe
      |       FROM embeddings WHERE vec_id = 0),
      |cs AS (
      |  SELECT b.vec_id AS doc_id,
      |    list_cosine_similarity(
      |      list_transform(b.embedding, x -> CAST(x AS DOUBLE)), qe) AS c
      |  FROM embeddings b, qv WHERE b.vec_id <> 0),
      |dense AS (
      |  SELECT doc_id,
      |    CAST(ROW_NUMBER() OVER (ORDER BY c DESC, doc_id) AS INTEGER) AS vec_rank
      |  FROM cs QUALIFY vec_rank <= 50),
      |fused AS (
      |  SELECT COALESCE(l.doc_id, v.doc_id) AS doc_id,
      |    ROUND(COALESCE(CAST(1.0 AS DOUBLE) / (60 + l.bm25_rank), 0) +
      |          COALESCE(CAST(1.0 AS DOUBLE) / (60 + v.vec_rank), 0), 9) AS rrf_score,
      |    l.bm25_rank, v.vec_rank
      |  FROM lex l FULL OUTER JOIN dense v ON l.doc_id = v.doc_id)
      |SELECT CAST(ROW_NUMBER() OVER (ORDER BY rrf_score DESC, doc_id) AS INTEGER) AS rank,
      |  doc_id, rrf_score, bm25_rank, vec_rank
      |FROM fused
      |QUALIFY rank <= 10
      |ORDER BY rank""".stripMargin

  val oracle: Map[String, String] = Map(
    // dd5: same 60-bit md5-derived token hash, per-bit majority vote via
    // UNNEST × generate_series + GROUP BY (DuckDB's shape for Spark's
    // per-row HOF aggregate), consecutive-pair Hamming via zipped lists.
    "dd5_simhash" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    CAST('0x' || substring(md5(t.tok), 1, 15) AS BIGINT) AS h
        |  FROM documents,
        |    UNNEST(string_split(
        |      lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) t(tok)),
        |bits AS (
        |  SELECT doc_id, s.i,
        |    CASE WHEN SUM(CASE WHEN (h >> s.i) & 1 = 1 THEN 1 ELSE -1 END) >= 0
        |         THEN 1 ELSE 0 END AS b
        |  FROM toks, UNNEST(generate_series(0, 59)) s(i)
        |  GROUP BY doc_id, s.i),
        |sims AS (
        |  SELECT doc_id,
        |    string_agg(CAST(b AS VARCHAR), '' ORDER BY i) AS simhash,
        |    list(b ORDER BY i) AS bl
        |  FROM bits GROUP BY doc_id)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.simhash AS simhash_a,
        |  CAST(list_sum(list_transform(list_zip(a.bl, b.bl),
        |    p -> CASE WHEN p[1] = p[2] THEN 0 ELSE 1 END)) AS INTEGER)
        |    AS hamming
        |FROM sims a JOIN sims b ON b.doc_id = a.doc_id + 1
        |ORDER BY doc_a""".stripMargin,
    "dd4_minhash_lsh" ->
      """WITH toklists AS (
        |  SELECT doc_id, string_split(
        |    lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks
        |  FROM documents WHERE doc_id < 1000),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, greatest(len(toks) - 2, 1) + 1),
        |    i -> concat_ws(' ', toks[CAST(i AS INTEGER)],
        |      toks[CAST(i AS INTEGER) + 1], toks[CAST(i AS INTEGER) + 2]))))
        |    AS g
        |  FROM toklists),
        |sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz
        |          FROM sh GROUP BY doc_id),
        |common AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    CAST(COUNT(*) AS BIGINT) AS common
        |  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT c.doc_a, c.doc_b, c.common,
        |  sa.sz + sb.sz - c.common AS union_sz, TRUE AS recalled
        |FROM common c
        |JOIN sizes sa ON sa.doc_id = c.doc_a
        |JOIN sizes sb ON sb.doc_id = c.doc_b
        |WHERE c.common * 10 >= (sa.sz + sb.sz - c.common) * 9
        |ORDER BY doc_a, doc_b""".stripMargin,
    "dd18_fuzzy_minhash_derived" ->
      """WITH base AS (
        |  SELECT doc_id, lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS t
        |  FROM documents WHERE doc_id < 500),
        |corpus AS (
        |  SELECT doc_id, t FROM base
        |  UNION ALL
        |  SELECT doc_id + 100000 AS doc_id,
        |    array_to_string(list_transform(string_split(t, ' '),
        |      (tok, i) -> CASE WHEN i % 20 = 0
        |        THEN 'zz' || CAST(i AS VARCHAR) ELSE tok END), ' ') AS t
        |  FROM base),
        |toklists AS (SELECT doc_id, string_split(t, ' ') AS toks FROM corpus),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, greatest(len(toks) - 2, 1) + 1),
        |    i -> concat_ws(' ', toks[CAST(i AS INTEGER)],
        |      toks[CAST(i AS INTEGER) + 1], toks[CAST(i AS INTEGER) + 2]))))
        |    AS g
        |  FROM toklists),
        |sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz
        |          FROM sh GROUP BY doc_id),
        |common AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    CAST(COUNT(*) AS BIGINT) AS common
        |  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT c.doc_a, c.doc_b, c.common,
        |  sa.sz + sb.sz - c.common AS union_sz, TRUE AS recalled
        |FROM common c
        |JOIN sizes sa ON sa.doc_id = c.doc_a
        |JOIN sizes sb ON sb.doc_id = c.doc_b
        |WHERE c.common * 10 >= (sa.sz + sb.sz - c.common) * 7
        |ORDER BY doc_a, doc_b""".stripMargin,
    "tx13_sequence_pack" ->
      """WITH toks AS (
        |  SELECT doc_id, source,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INTEGER) AS n_tokens
        |  FROM documents),
        |cums AS (
        |  SELECT doc_id, source, n_tokens,
        |    SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM toks)
        |SELECT doc_id, source, n_tokens,
        |  CAST((cum - n_tokens) // 2048 AS INTEGER) AS bin_idx
        |FROM cums ORDER BY doc_id""".stripMargin,
    "tx12_chunking" ->
      """SELECT doc_id, CAST(k AS INTEGER) AS chunk_idx,
        |  CAST(len(substr(text, CAST(k AS INT) * 224 + 1, 256)) AS INTEGER) AS chunk_len,
        |  md5(substr(text, CAST(k AS INT) * 224 + 1, 256)) AS chunk_md5
        |FROM documents,
        |  UNNEST(generate_series(0, GREATEST((len(text) - 1) // 224, 0))) t(k)
        |ORDER BY doc_id, chunk_idx""".stripMargin,
    "tx11_pii_redact" ->
      """WITH withpii AS (
        |  SELECT doc_id,
        |    substr(text, 1, 60) ||
        |    CASE WHEN doc_id % 3 = 0 THEN ' visit https://ex.vn/p/' || CAST(doc_id AS VARCHAR) || '?u=a@b.com now' ELSE '' END ||
        |    CASE WHEN doc_id % 4 = 0 THEN ' mail user' || CAST(doc_id AS VARCHAR) || '.vn@example.com.vn' ELSE '' END ||
        |    CASE WHEN doc_id % 5 = 0 THEN ' call +84' || lpad(CAST(doc_id % 1000000000 AS VARCHAR), 9, '5') || ' or 09' || lpad(CAST(doc_id % 10000000 AS VARCHAR), 8, '7') ELSE '' END
        |    AS text
        |  FROM documents)
        |SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(
        |      regexp_replace(text, 'https?://[^\s]+', '<URL>', 'g'),
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '(\+84|0)[0-9]{9,10}', '<PHONE>', 'g') AS text
        |FROM withpii ORDER BY doc_id""".stripMargin,
    "tx15_bm25" -> Bm25OracleSql,
    "tx17_hybrid_rrf" -> HybridRrfOracleSql,
    // the indexed path answers the SAME question — one oracle, by
    // reference, so the two spellings can never silently diverge
    "tx16_bm25_indexed" -> Bm25OracleSql,
    "tx10_tfidf" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
        |       FROM toks GROUP BY 1, 2),
        |df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents),
        |scored AS (
        |  SELECT doc_id, term, tf, df, ROUND(tf * ln(n / df), 6) AS tfidf,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
        |      ORDER BY ROUND(tf * ln(n / df), 6) DESC, term) AS INTEGER) AS rn
        |  FROM tf JOIN df USING (term), n)
        |SELECT doc_id, rn, term, tf, df, tfidf
        |FROM scored WHERE rn <= 3 ORDER BY doc_id, rn""".stripMargin,
    "tx9_repetition" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS t
        |  FROM documents),
        |pos AS (
        |  SELECT doc_id, t,
        |    unnest(generate_series(1, greatest(len(t) - 2, 1))) AS i
        |  FROM toks),
        |grams AS (
        |  SELECT doc_id, concat_ws(' ', t[i], t[i+1], t[i+2]) AS g FROM pos),
        |counts AS (
        |  SELECT doc_id, g, COUNT(*) AS c FROM grams GROUP BY 1, 2)
        |SELECT doc_id,
        |  CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS top_gram_frac,
        |  CAST(COUNT(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS distinct_frac
        |FROM counts GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "tx8_lang_trigram" ->
      """WITH profiles(lang_cand, gram) AS (VALUES
        |  ('en','the'),('en','and'),('en','ing'),('en','ent'),
        |  ('de','der'),('de','sch'),('de','ein'),('de','ich'),
        |  ('fr','les'),('fr','des'),('fr','que'),('fr','ent'),
        |  ('es','que'),('es','los'),('es','cio'),('es','ent')),
        |lowered AS (SELECT doc_id, lower(text) AS t FROM documents),
        |pos AS (
        |  SELECT doc_id, t,
        |    unnest(generate_series(1, greatest(len(t) - 2, 1))) AS i
        |  FROM lowered),
        |grams AS (SELECT doc_id, substring(t, CAST(i AS INTEGER), 3) AS gram FROM pos),
        |hits AS (
        |  SELECT doc_id, lang_cand, CAST(COUNT(*) AS BIGINT) AS hits
        |  FROM grams JOIN profiles USING (gram) GROUP BY 1, 2),
        |best AS (
        |  SELECT doc_id, lang_cand, hits,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id
        |      ORDER BY hits DESC, lang_cand) AS rn
        |  FROM hits)
        |SELECT d.doc_id, COALESCE(b.lang_cand, 'unk') AS pred_lang,
        |  COALESCE(b.hits, CAST(0 AS BIGINT)) AS hits
        |FROM documents d
        |LEFT JOIN (SELECT * FROM best WHERE rn = 1) b USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    "tx7_quality_features" ->
      """WITH base AS (
        |  SELECT doc_id, text,
        |    GREATEST(len(string_split_regex(TRIM(text), '\s+')), 1) AS n_tokens,
        |    GREATEST(len(text), 1) AS l
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE) / l
        |    AS punct_ratio,
        |  CAST(len(regexp_extract_all(text, '\b(the|a|of|and|to|in)\b')) AS DOUBLE)
        |    / n_tokens AS stop_ratio,
        |  CAST(len(regexp_extract_all(text, '[A-Z]')) AS DOUBLE) / l
        |    AS upper_ratio,
        |  CAST(len(regexp_replace(text, '\s', '', 'g')) AS DOUBLE) / n_tokens
        |    AS mean_word_len
        |FROM base ORDER BY doc_id""".stripMargin,
    "tx1_token_count" ->
      """SELECT doc_id,
        |  CAST(len(string_split_regex(TRIM(text), '\s+')) AS INTEGER) AS n_tokens,
        |  n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    "tx2_lang_id" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '\b(the|a|of|and)\b')) AS INTEGER) AS n_stop,
        |  lang,
        |  CASE WHEN len(regexp_extract_all(text, '\b(the|a|of|and)\b')) >= 2
        |       THEN 'en' ELSE 'unk' END AS lang_pred
        |FROM documents ORDER BY doc_id""".stripMargin,
    "tx3_quality_score" ->
      """SELECT doc_id,
        |  ROUND(LEAST(1.0, len(string_split_regex(TRIM(text), '\s+')) / 50.0) * 0.5
        |    + CASE WHEN n_chars BETWEEN 100 AND 5000 THEN 0.5 ELSE 0.25 END, 6) AS q_score
        |FROM documents ORDER BY doc_id""".stripMargin,
    "tx4_fingerprint" ->
      """SELECT doc_id,
        |  md5(LOWER(TRIM(REGEXP_REPLACE(text, '\s+', ' ', 'g')))) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,
    "dd1_dedup_exact" ->
      """SELECT md5(text) AS fp, MIN(doc_id) AS keeper_id, COUNT(*) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY keeper_id""".stripMargin,
    "dd2_dedup_keep_first" ->
      """SELECT doc_id, source FROM documents
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1
        |ORDER BY doc_id""".stripMargin,
    "dd3_ngram_jaccard" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, GREATEST(len(text) - 2, 1)),
        |      i -> substr(text, CAST(i AS INT), 3))) AS grams
        |  FROM documents WHERE doc_id < 50 AND LENGTH(text) >= 3)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  ROUND(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
        |    / len(list_distinct(a.grams || b.grams)), 6) AS jac
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |ORDER BY doc_a, doc_b""".stripMargin,
    "tx14_unigram_logprob" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
        |  FROM documents),
        |freq AS (SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok),
        |total AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS t FROM freq)
        |SELECT doc_id, COUNT(*) AS n_toks,
        |  ROUND(CAST(SUM(CAST(ln(CAST(cnt AS DOUBLE) / t)
        |    AS DECIMAL(28,10))) AS DOUBLE), 6) AS sum_logp
        |FROM toks JOIN freq USING (tok) CROSS JOIN total
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "tx18_nb_classifier" ->
      """WITH toks AS (
        |  SELECT doc_id, lang AS lang_true, unnest(string_split(
        |    lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS tok
        |  FROM documents),
        |classtok AS (SELECT lang_true AS lang, tok,
        |    CAST(COUNT(*) AS BIGINT) AS cnt FROM toks GROUP BY 1, 2),
        |classtot AS (SELECT lang, CAST(SUM(cnt) AS BIGINT) AS tot
        |             FROM classtok GROUP BY 1),
        |vocab AS (SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS v
        |          FROM classtok),
        |priors AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS ndocs
        |           FROM documents GROUP BY 1),
        |totd AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd FROM documents),
        |expanded AS (
        |  SELECT t.doc_id, t.lang_true, t.tok, l.lang
        |  FROM toks t CROSS JOIN (SELECT lang FROM priors) l),
        |scored AS (
        |  SELECT e.doc_id, e.lang_true, e.lang,
        |    CAST(SUM(CAST(ln(CAST(COALESCE(ct.cnt, 0) + 1 AS DOUBLE) /
        |      CAST(cl.tot + v.v AS DOUBLE)) AS DECIMAL(28,10)))
        |      AS DECIMAL(28,10)) AS sum_logp
        |  FROM expanded e
        |  LEFT JOIN classtok ct ON ct.lang = e.lang AND ct.tok = e.tok
        |  JOIN classtot cl ON cl.lang = e.lang
        |  CROSS JOIN vocab v
        |  GROUP BY 1, 2, 3),
        |final AS (
        |  SELECT s.doc_id, s.lang_true, s.lang,
        |    ROUND(CAST(s.sum_logp + CAST(ln(CAST(p.ndocs AS DOUBLE) /
        |      CAST(td.nd AS DOUBLE)) AS DECIMAL(28,10)) AS DOUBLE), 6)
        |      AS score
        |  FROM scored s JOIN priors p ON p.lang = s.lang CROSS JOIN totd td)
        |SELECT doc_id, lang_true, lang AS pred_lang, score,
        |  (lang = lang_true) AS correct
        |FROM final
        |QUALIFY row_number() OVER (PARTITION BY doc_id
        |                           ORDER BY score DESC, lang) = 1
        |ORDER BY doc_id""".stripMargin,
    // re-TRAINS the 3 BPE merges: weighted pair stats + argmax per
    // round, re-tokenizing via a recursive CTE that applies the round's
    // merge leftmost-first until fixpoint — equivalent to Spark's
    // greedy left-to-right fold (single-pair replace-all is confluent).
    // The CTE chain is shared verbatim with tx20's compression oracle.
    "tx19_bpe_train" ->
      s"""$BpeCtesSql
         |SELECT CAST(1 AS INTEGER) AS round, a, b, a || b AS merged,
         |  pc AS pair_cnt FROM best1
         |UNION ALL SELECT 2, a, b, a || b, pc FROM best2
         |UNION ALL SELECT 3, a, b, a || b, pc FROM best3
         |ORDER BY round""".stripMargin,
    // tx20: the same re-trained chain, read for its per-round
    // corpus-weighted token totals and symbol-type counts
    "tx20_bpe_compression" -> {
      def stats(r: Int): String =
        s"""SELECT CAST($r AS INTEGER) AS round,
           |  (SELECT CAST(SUM(cnt * len(syms)) AS BIGINT) FROM w$r)
           |    AS total_tokens,
           |  (SELECT CAST(COUNT(DISTINCT sy) AS BIGINT)
           |   FROM (SELECT UNNEST(syms) AS sy FROM w$r) u) AS n_symbols"""
          .stripMargin
      s"""$BpeCtesSql
         |${stats(0)}
         |UNION ALL ${stats(1)}
         |UNION ALL ${stats(2)}
         |UNION ALL ${stats(3)}
         |ORDER BY round""".stripMargin
    },
    // same 60-bit md5-prefix bigram keys, same >= 2 reference cut, all
    // integer — the familiarity decision is engine-portable by
    // construction
    "tx21_ref_familiarity" ->
      """WITH toks AS (
        |  SELECT doc_id, lang,
        |    string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))),
        |      ' ') AS toks
        |  FROM documents),
        |big AS (
        |  SELECT doc_id, lang,
        |    CAST('0x' || substring(md5(toks[t.i] || ' ' || toks[t.i + 1]),
        |      1, 15) AS BIGINT) AS g
        |  FROM toks, UNNEST(generate_series(1, len(toks) - 1)) t(i)
        |  WHERE len(toks) >= 2),
        |ref AS (
        |  SELECT g, 1 AS hit FROM big WHERE lang = 'en'
        |  GROUP BY g HAVING COUNT(*) >= 2)
        |SELECT b.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |  CAST(SUM(COALESCE(r.hit, 0)) AS BIGINT) AS n_familiar,
        |  (SUM(COALESCE(r.hit, 0)) * 2 >= COUNT(*)) AS familiar_enough
        |FROM big b LEFT JOIN ref r USING (g)
        |GROUP BY b.doc_id ORDER BY b.doc_id""".stripMargin
  )

  /** The BPE training chain through w0..w3/best1..best3 — shared by the
    * tx19 and tx20 oracles so the two gates can never silently diverge. */
  // lazy: declared below `oracle`, which interpolates it at object init —
  // a strict val here would still be null at that point (forward reference)
  private lazy val BpeCtesSql: String = {
      def round(i: Int): String = {
        val prev = s"w${i - 1}"
        s"""p$i AS (
           |  SELECT syms[i] AS a, syms[i+1] AS b, SUM(cnt) AS pc
           |  FROM $prev, UNNEST(generate_series(1, len(syms) - 1)) t(i)
           |  GROUP BY 1, 2),
           |best$i AS (SELECT a, b, CAST(pc AS BIGINT) AS pc FROM p$i
           |  ORDER BY pc DESC, a, b LIMIT 1),
           |r$i AS (
           |  SELECT word, cnt, syms FROM $prev
           |  UNION ALL
           |  SELECT word, cnt, syms[1:pos-1] || [a || b] || syms[pos+2:] AS syms
           |  FROM (
           |    SELECT r.word, r.cnt, r.syms, b.a, b.b,
           |      (SELECT MIN(i) FROM UNNEST(generate_series(1, len(r.syms) - 1)) t(i)
           |       WHERE r.syms[i] = b.a AND r.syms[i+1] = b.b) AS pos
           |    FROM r$i r, best$i b) s
           |  WHERE pos IS NOT NULL),
           |w$i AS (
           |  SELECT word, cnt, syms FROM r$i r
           |  WHERE NOT EXISTS (
           |    SELECT 1 FROM best$i b, UNNEST(generate_series(1, len(r.syms) - 1)) t(i)
           |    WHERE r.syms[i] = b.a AND r.syms[i+1] = b.b))""".stripMargin
      }
      s"""WITH RECURSIVE
         |words AS (
         |  SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS cnt
         |  FROM (SELECT lower(unnest(string_split_regex(TRIM(text), '\\s+'))) AS w
         |        FROM documents)
         |  WHERE w ~ '^[a-z]+$$' AND LENGTH(w) >= 2
         |  GROUP BY 1),
         |w0 AS (
         |  SELECT word, cnt,
         |    list_transform(generate_series(1, LENGTH(word)),
         |      i -> substring(word, i, 1)) AS syms
         |  FROM words),
         |${round(1)},
         |${round(2)},
         |${round(3)}""".stripMargin
  }
}
