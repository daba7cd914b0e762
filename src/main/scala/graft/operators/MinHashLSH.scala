package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** MinHash + LSH near-duplicate candidate generation — the single shared
  * implementation behind `dd4_minhash_lsh` and `CorpusPipeline` (keeping
  * shingling/banding in one place so the two can't drift).
  *
  * Shape (the scale story): the whole signature is computed by ONE fused
  * codegen expression per document row ([[graft.functions.MinHashSig]] —
  * shingle, hash, and all permutation minima in a single loop). The
  * explode + 16-column hash-aggregate formulation this replaced shuffled
  * ~|tokens| rows per document before a signature existed — the compute
  * hot spot the 100× scale proof surfaced; the only per-doc shuffle now
  * is the duplicate-id merge over (id, numPerms longs) rows, map-side
  * combined. Banding then turns candidate
  * generation into an equi-join on (band_id, band_hash), so candidates
  * ≪ n² — the whole point of LSH at corpus scale.
  *
  * The signature table is persisted only while the band self-join runs;
  * candidate pairs are eagerly materialized (they're tiny relative to the
  * corpus) and the signatures are then released.
  */
object MinHashLSH {

  /** Named LSH geometry so callers can't transpose the two ints: the
    * sibling [[CosineLshIndex.geometryFor]] returns (bands, rowsPerBand)
    * in the OPPOSITE orientation, and a bare tuple pattern-matched from
    * the wrong family silently runs 16 bands of 4 perms as 16 perms in
    * 4 bands. Field access (`g.numPerms`, `g.bands`) makes the
    * transposition a compile error. */
  final case class Geometry(numPerms: Int, bands: Int)

  /** Smallest [[Geometry]] (numPerms = bands·rowsPerBand) holding
    * expected candidate recall ≥
    * `targetRecall` for a pair AT `threshold` Jaccard, at the given
    * rows-per-band: a pair at Jaccard J agrees per permutation with
    * probability J, a band of r rows collides with Jʳ, and b bands
    * recall 1 − (1 − Jʳ)ᵇ — the [[CosineLshIndex.geometryFor]] map for
    * the Jaccard family (closed form exact for independent permutations;
    * the MHRECALL sweep matched measured recall to it per Jaccard bin:
    * BASELINE.md, "MHRECALL: the MinHash family's measured Jaccard
    * frontier", round 15). The default 16×4 geometry (r = 4) holds
    * recall ≥ 0.98 at J = 0.9, the near-dup regime the dd4/dd13 gates
    * plant; callers targeting LOWER thresholds (fuzzy dedup at
    * J ~ 0.6-0.7) should derive geometry here instead of guessing — at
    * J = 0.7, 4 bands of 4
    * recall only ~0.66, while geometryFor(0.7, 0.95, 3) returns
    * Geometry(numPerms = 24, bands = 8) — 8 bands of 3 — which holds
    * it (the dd18 gate runs exactly that derived geometry end-to-end).
    * Band count trades candidate
    * precision exactly as in the cosine family: chance collisions per
    * band run at ~(Jᵇᵃᶜᵏᵍʳᵒᵘⁿᵈ)ʳ for the corpus's background
    * similarity, so more bands buy recall at linear candidate cost. */
  def geometryFor(threshold: Double, targetRecall: Double = 0.95,
                  rowsPerBand: Int = 4): Geometry = {
    require(threshold > 0.0 && threshold < 1.0,
      s"geometryFor: threshold=$threshold out of (0, 1)")
    require(targetRecall > 0.0 && targetRecall < 1.0,
      s"geometryFor: targetRecall=$targetRecall out of (0, 1)")
    require(rowsPerBand > 0, s"geometryFor: rowsPerBand=$rowsPerBand")
    val pBand = math.pow(threshold, rowsPerBand)
    val bands = math.ceil(
      math.log1p(-targetRecall) / math.log1p(-pBand)).toInt.max(1)
    Geometry(bands * rowsPerBand, bands)
  }

  /** Distinct candidate pairs `(src, dst, est_jaccard)` with `src < dst`,
    * estimated Jaccard = fraction of agreeing signature positions.
    *
    * `materialize = true` (default) eagerly computes the pairs and
    * releases the signature table — right for pipelines that consume the
    * pairs. Pass `false` for explain-only/plan-audit use: the plan stays
    * lazy and auditable, at the cost of the signature table being
    * computed once per consuming branch. */
  /** One `(__id, sig)` row per DISTINCT doc id. Duplicate doc ids merge
    * into one signature via element-wise min — the MinHash of the union
    * of the rows' token sets, matching the pre-fused groupBy formulation.
    * The agg shuffles only (id, numPerms longs) per row with map-side
    * partial combine; without it, duplicate ids would multiply band rows
    * and candidate pairs downstream. */
  def signatures(docs: DataFrame, idCol: String, textCol: String,
                 numPerms: Int): DataFrame = {
    docs
      .select(col(idCol).as("__id"),
        split(lower(trim(regexp_replace(col(textCol), "\\s+", " "))), " ").as("toks"))
      .select(col("__id"), expr(s"graft_minhash_sig(toks, $numPerms)").as("sig"))
      .groupBy(col("__id"))
      .agg(array((0 until numPerms).map(i => min(col("sig").getItem(i))): _*).as("sig"))
  }

  def candidatePairs(docs: DataFrame, idCol: String = "doc_id",
                     textCol: String = "text",
                     numPerms: Int = 16, bands: Int = 4,
                     materialize: Boolean = true): DataFrame = {
    require(numPerms % bands == 0, s"numPerms=$numPerms not divisible by bands=$bands")
    val rowsPerBand = numPerms / bands
    // band hash spelled via bandStruct — the ONE spelling shared with
    // the persisted index's re-derivation; an inline respelling here
    // could silently diverge from LshBandIndex probes after a change.
    // persist only when this call will ACTUALLY run the plan twice
    // (the a/b self-join sides): an explain-only materialize=false
    // caller must not leak a corpus-scale cached table per call.
    val sigsBase = signatures(docs, idCol, textCol, numPerms)
      .select(col("__id"), col("sig"),
        array((0 until bands)
          .map(b => bandStruct(b, rowsPerBand, portable = false)): _*)
          .as("bands"))
    // EAGER localCheckpoint (r18), not a lazy persist: the a/b self-join
    // sides raced to populate the cold cache under AQE's concurrent
    // exchange jobs, running the signature pass twice in parallel (the
    // dd14/gr1 cache-population race). One eager job signs the corpus
    // once; an explain-only materialize=false caller stays fully lazy.
    val sigs =
      if (materialize) sigsBase.localCheckpoint(true)
      else sigsBase
    // single packed long join key — BandPack.hashed: the composite
    // (band_id, band_hash) key probes Spark's UnsafeHashedRelation,
    // measured 20× slower than the long-specialized path (r15)
    val banded = sigs
      .select(col("__id"), col("sig"), explode(col("bands")).as("band"))
      .select(col("__id"), col("sig"),
        BandPack.hashed(col("band.band_id"), col("band.band_hash")).as("bk"))
    val a = banded.select(col("__id").as("src"), col("sig").as("sig_a"),
      col("bk"))
    val b = banded.select(col("__id").as("dst"), col("sig").as("sig_b"),
      col("bk"))
    // native codegen expression for the per-candidate agreement fraction —
    // the zip_with/aggregate HOF equivalent evaluates interpreted, and
    // this runs once per candidate pair (millions at corpus scale).
    val pairs = a.join(b, Seq("bk"))
      .filter(col("src") < col("dst"))
      .select(col("src"), col("dst"),
        expr("graft_sig_agreement(sig_a, sig_b)").as("est_jaccard"))
      .distinct()
    if (materialize) pairs.localCheckpoint(true) // pairs are small
    else pairs
  }

  /** The `(band_id, band_hash)` struct of band `b`, derived purely from
    * a signature column named `sig` — the ONE place each hash family's
    * band hash is spelled, so live banding ([[bandRows]] /
    * [[portableBandRows]]) and index-side re-derivation from persisted
    * signatures ([[narrowBandsFromSigs]]) can never diverge. Fused:
    * xxhash64 over the slice; portable: 60-bit md5 of the
    * underscore-joined slice (DuckDB-replicable). */
  private def bandStruct(b: Int, rowsPerBand: Int,
                         portable: Boolean): org.apache.spark.sql.Column =
    if (portable)
      struct(lit(b).as("band_id"),
        expr(s"cast(conv(substring(md5(concat_ws('_', " +
          (b * rowsPerBand until (b + 1) * rowsPerBand)
            .map(i => s"sig[$i]").mkString(", ") +
          s")), 1, 15), 16, 10) as bigint)").as("band_hash"))
    else
      struct(lit(b).as("band_id"),
        xxhash64((b * rowsPerBand until (b + 1) * rowsPerBand)
          .map(i => col("sig").getItem(i)): _*).as("band_hash"))

  /** One `(__id, sig)` row per distinct doc id in either hash family —
    * the persisted-index SOURCE OF TRUTH ([[LshBandIndex]] stores this
    * frame verbatim as a generation's `sigs` dir and derives band rows
    * from it; signatures are final, band hashes are arithmetic). */
  def sigRows(docs: DataFrame, idCol: String = "doc_id",
              textCol: String = "text", numPerms: Int = 16,
              portable: Boolean = false): DataFrame =
    if (portable) portableSignatures(docs, idCol, textCol, numPerms)
    else signatures(docs, idCol, textCol, numPerms)

  /** NARROW band rows `(__id, band_id, band_hash)` derived from a
    * `(__id, sig)` signature frame — no text, no signature column in the
    * output: this is what a probe's history side streams through the
    * band equi-join (24 B/row vs ~150 B with the signature aboard), and
    * what [[LshBandIndex]] writes as a generation's `bands` dir by
    * re-deriving from the just-written `sigs` parquet (signature
    * computed once per document, ever). */
  def narrowBandsFromSigs(sigs: DataFrame, numPerms: Int = 16,
                          bands: Int = 4,
                          portable: Boolean = false): DataFrame = {
    require(numPerms % bands == 0,
      s"numPerms=$numPerms not divisible by bands=$bands")
    val rowsPerBand = numPerms / bands
    sigs
      .select(col("__id"), explode(array((0 until bands)
        .map(b => bandStruct(b, rowsPerBand, portable)): _*)).as("band"))
      .select(col("__id"), col("band.band_id").as("band_id"),
        col("band.band_hash").as("band_hash"))
  }

  /** Exploded banded-signature rows `(__id, sig, band_id, band_hash)` —
    * the persistable "signature index" form of [[candidatePairs]]'s
    * in-flight band table. One row per (doc, band); `band_hash` is the
    * xxhash64 of the band's signature slice, exactly as candidatePairs
    * computes it, so an index written from here collides with live
    * queries byte-for-byte. */
  def bandRows(docs: DataFrame, idCol: String = "doc_id",
               textCol: String = "text",
               numPerms: Int = 16, bands: Int = 4): DataFrame = {
    require(numPerms % bands == 0, s"numPerms=$numPerms not divisible by bands=$bands")
    val rowsPerBand = numPerms / bands
    signatures(docs, idCol, textCol, numPerms)
      .select(col("__id"), col("sig"),
        explode(array((0 until bands)
          .map(b => bandStruct(b, rowsPerBand, portable = false)): _*))
          .as("band"))
      .select(col("__id"), col("sig"),
        col("band.band_id").as("band_id"), col("band.band_hash").as("band_hash"))
  }

  /** INCREMENTAL candidate generation — near-dup pairs TOUCHING a new
    * batch, probed against an already-banded history index: the fuzzy
    * counterpart of [[BloomDedup]]'s exact incremental dedup, and the
    * shape a daily 100 TB ingest actually runs. Work is O(|batch|)
    * signature computes plus an equi-join of the batch's bands against
    * `historyBands` on (band_id, band_hash): history×history pairs are
    * NEVER formed (the batch side is on every joined row), and when
    * `historyBands` is the persisted index (see [[LshBandIndex]])
    * history text is never re-read — each day's probe costs the batch,
    * not the corpus. Because band collision is a per-PAIR property (two
    * docs collide iff their own band hashes match), the result is
    * EXACTLY [[candidatePairs]] over history ∪ batch restricted to pairs
    * with ≥1 batch member (pinned in DedupLshSpec).
    *
    * Returns distinct `(src, dst, est_jaccard)` with `src < dst`;
    * new×new pairs appear once (both orderings collide, normalized via
    * least/greatest before the distinct). Assumes batch ids are disjoint
    * from history ids (the ingest contract; same assumption BloomDedup
    * documents). */
  def incrementalPairs(batchBands: DataFrame,
                       historyBands: DataFrame): DataFrame =
    incrementalPairs(batchBands,
      historyBands.select("__id", "band_id", "band_hash"),
      historyBands.select("__id", "sig").dropDuplicates("__id"))

  /** The SPLIT-LAYOUT probe — identical result to the wide form above
    * (pinned in DedupLshSpec), but the history side arrives as the two
    * frames [[LshBandIndex]] persists: `historyNarrow` `(__id, band_id,
    * band_hash)` and `historySigs` `(__id, sig)` one row per doc. Why
    * this is the 100 TB shape: phase 1 joins the batch's bands against
    * the NARROW rows (24 B/row — the only stream that scans the whole
    * index), reducing to a candidate-id set ≪ corpus; phase 2 fetches
    * signatures for CANDIDATE endpoints only, so the 16-long `sig`
    * never rides the band join and the per-corpus-doc probe cost drops
    * from ~4 wide band rows (~600 B) to 4 narrow rows + one sig row
    * (~230 B). Batch×batch pairs are formed wholly within the (small)
    * wide batch frame. */
  def incrementalPairs(batchBands: DataFrame, historyNarrow: DataFrame,
                       historySigs: DataFrame): DataFrame = {
    // phase 1: narrow candidate discovery — distinct (src, dst) id
    // pairs before any signature is touched. Packed long join key
    // (BandPack) so the corpus-scale narrow stream probes the
    // long-specialized relation.
    val histCand = historyNarrow
      .select(col("__id").as("src"),
        BandPack.hashed(col("band_id"), col("band_hash")).as("bk"))
      .join(batchBands.select(col("__id").as("dst"),
        BandPack.hashed(col("band_id"), col("band_hash")).as("bk")),
        Seq("bk"))
      .filter(col("src") =!= col("dst"))
      .select("src", "dst").distinct()
    // phase 2: signatures for candidate endpoints only; the history-sig
    // scan is pruned to candidate ids by the join (AQE broadcasts the
    // candidate set when small), and it reads one row per doc
    val batchSigs = batchBands.select(col("__id"), col("sig"))
      .dropDuplicates("__id")
    val histPairs = histCand
      .join(historySigs.select(col("__id").as("src"),
        col("sig").as("sig_a")), Seq("src"))
      .join(batchSigs.select(col("__id").as("dst"),
        col("sig").as("sig_b")), Seq("dst"))
      .select(least(col("src"), col("dst")).as("src"),
        greatest(col("src"), col("dst")).as("dst"),
        expr("graft_sig_agreement(sig_a, sig_b)").as("est_jaccard"))
    // batch×batch: both orientations collide, normalized exactly as the
    // wide form did (least/greatest before the distinct)
    val a = batchBands.select(col("__id").as("src"),
      col("sig").as("sig_a"),
      BandPack.hashed(col("band_id"), col("band_hash")).as("bk"))
    val b = batchBands.select(col("__id").as("dst"),
      col("sig").as("sig_b"),
      BandPack.hashed(col("band_id"), col("band_hash")).as("bk"))
    val batchPairs = a.join(b, Seq("bk"))
      .filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("src"),
        greatest(col("src"), col("dst")).as("dst"),
        expr("graft_sig_agreement(sig_a, sig_b)").as("est_jaccard"))
    histPairs.unionByName(batchPairs).distinct()
  }

  /** [[candidatePairs]] re-keyed onto ENGINE-PORTABLE md5-derived
    * permutation hashes: the SAME word-3-shingles as the fused kernel
    * (s_i = concat_ws(' ', toks[i-1..i+1]), max(n-2, 1) shingles —
    * [[graft.functions.MinHashSig]]'s pinned contract), one md5 per
    * shingle giving a 48-bit base hash with permutation i defined as
    * h XOR c_i for fixed md5-derived constants c_i (see
    * [[portableSignatures]]), sig_i = min over the doc's shingles,
    * and bands compare their raw signature slice (a concat_ws string
    * key) instead of an engine-internal xxhash64. Same banding geometry
    * and agreement math as the fused path. (Shingling, not
    * bag-of-tokens, is load-bearing: single-token minima collapse under
    * a shared vocabulary — measured 352→57 curation survivors on the
    * synthetic corpus — because every doc's minimum lands on the same
    * globally-minimal tokens.)
    *
    * Existence reason: every step is DuckDB-replicable, which turns the
    * cp1 curation composite from rows-only into a fully hash-gated
    * query. The fused xxhash kernel ([[signatures]]) remains the 100 TB
    * hot path — this family pays one md5 per shingle, the price of
    * engine portability. */
  /** The PORTABLE family's signature frame `(__id, sig)` — md5-MinHash
    * over the fused kernel's word-3-shingles; duplicate doc ids merge
    * into the union's signature exactly as [[signatures]] does.
    * `toks[i]` under non-ANSI semantics: out-of-bounds → null, skipped
    * by concat_ws — exactly MinHashSig.compute's edge behavior for 1-
    * and 2-token documents. array_distinct: min over DISTINCT shingles
    * == min over the multiset, it just avoids re-hashing repeats.
    *
    * Permutation family: ONE md5 per shingle giving a 48-bit base h,
    * permutation i = h XOR c_i with c_i the first 48 bits of
    * md5("perm<i>") — fixed constants both engines derive identically.
    * XOR with a constant destroys the ORDER of the base hashes, so each
    * permutation's argmin is a near-uniform draw over the doc's
    * shingles and the 16 draws are near-independent (the agreement
    * fraction concentrates on the true Jaccard; pinned in
    * DedupLshSpec's estimator-quality test). 48-bit values stay exact
    * in BIGINT everywhere AND in doubles, so no engine can round
    * differently.
    *
    * Two rejected cheaper families, both measured broken: (a) per-perm
    * md5("<i>_" + shingle) — statistically perfect but numPerms md5
    * calls per shingle, ~+4 s on cp1's first run at sf0.1; (b) the
    * modulus-free linear family h1 + i·h2 (one md5 split into two
    * 48-bit bases) — the per-permutation argmin traces the lower convex
    * hull of the (h2, h1) point set, so a handful of hull shingles
    * dominate EVERY position and the estimator collapses to
    * all-or-nothing: pairs at true J≈0.72 measured est 16/16, others
    * 1/16. Without a modular wrap a linear map is order-preserving-ish
    * and Carter-Wegman guarantees do not apply. */
  private[graft] def portablePermConst(i: Int): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"perm$i".getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
    java.lang.Long.parseLong(hex.substring(0, 12), 16)
  }

  private def portableSignatures(docs: DataFrame, idCol: String,
                                 textCol: String,
                                 numPerms: Int): DataFrame =
    docs
      .select(col(idCol).as("__id"),
        split(lower(trim(
          regexp_replace(col(textCol), "\\s+", " "))), " ").as("toks"))
      .select(col("__id"), array_distinct(expr(
        "transform(sequence(1, greatest(size(toks) - 2, 1)), " +
          "i -> concat_ws(' ', toks[i-1], toks[i], toks[i+1]))"))
        .as("shingles"))
      // md5 ONCE per shingle, then the 48-bit base (no repeated md5
      // inside per-perm lambdas — CSE does not reach across them)
      .select(col("__id"), expr(
        "transform(shingles, t -> " +
          "cast(conv(substring(md5(t), 1, 12), 16, 10) as bigint))")
        .as("hs"))
      .select(col("__id"), array((0 until numPerms).map(i =>
        expr(s"array_min(transform(hs, h -> h ^ ${portablePermConst(i)}L))")): _*)
        .as("sig"))
      .groupBy(col("__id"))
      .agg(array((0 until numPerms).map(i =>
        min(col("sig").getItem(i))): _*).as("sig"))

  /** [[bandRows]] for the PORTABLE family — the SAME `(__id, sig,
    * band_id, band_hash)` schema, with band_hash the 60-bit md5 of the
    * band's underscore-joined signature slice instead of an xxhash64.
    * [[incrementalPairs]] and [[LshBandIndex]] therefore work unchanged
    * on either family; LshBandIndex namespaces portable indexes under a
    * separate root so the two can never probe each other (a fused band
    * never collides with a portable one, which would silently yield
    * zero candidates). A 60-bit md5 collision creating a false
    * candidate is filtered by the est_jaccard threshold — est ≥ 13/16
    * forces ≥3 of 4 bands to agree as raw slices anyway. */
  def portableBandRows(docs: DataFrame, idCol: String = "doc_id",
                       textCol: String = "text",
                       numPerms: Int = 16, bands: Int = 4): DataFrame = {
    require(numPerms % bands == 0,
      s"numPerms=$numPerms not divisible by bands=$bands")
    val rowsPerBand = numPerms / bands
    portableSignatures(docs, idCol, textCol, numPerms)
      .select(col("__id"), col("sig"),
        explode(array((0 until bands)
          .map(b => bandStruct(b, rowsPerBand, portable = true)): _*))
          .as("band"))
      .select(col("__id"), col("sig"),
        col("band.band_id").as("band_id"),
        col("band.band_hash").as("band_hash"))
  }

  def portablePairs(docs: DataFrame, idCol: String = "doc_id",
                    textCol: String = "text",
                    numPerms: Int = 16, bands: Int = 4): DataFrame = {
    require(numPerms % bands == 0,
      s"numPerms=$numPerms not divisible by bands=$bands")
    val rowsPerBand = numPerms / bands
    // EAGER localCheckpoint (r18), not a lazy persist: the a/b self-join
    // sides' exchange jobs launch concurrently under AQE and raced to
    // populate the cold cache, running the corpus-scale signature pass
    // twice in parallel (the dd14/gr1 cache-population race). One eager
    // job signs the corpus once; both sides scan the RDD.
    val sigs = portableSignatures(docs, idCol, textCol, numPerms)
      .localCheckpoint(true)
    val banded = sigs
      .select(col("__id"), col("sig"),
        explode(array((0 until bands).map(b => struct(
          lit(b).as("band_id"),
          concat_ws("_", (b * rowsPerBand until (b + 1) * rowsPerBand)
            .map(i => col("sig").getItem(i)): _*).as("band_key"))): _*))
          .as("band"))
      .select(col("__id"), col("sig"),
        col("band.band_id"), col("band.band_key"))
    // packed long join key (BandPack; band_key is 60-bit so hash-packed)
    val a = banded.select(col("__id").as("src"), col("sig").as("sig_a"),
      BandPack.hashed(col("band_id"), col("band_key")).as("bk"))
    val b = banded.select(col("__id").as("dst"), col("sig").as("sig_b"),
      BandPack.hashed(col("band_id"), col("band_key")).as("bk"))
    // graft_sig_agreement is engine-NATIVE but its math is portable
    // arithmetic (agreeing positions / numPerms — exact in binary for
    // power-of-two numPerms), so an oracle recomputes it from its own
    // signature lists
    val pairs = a.join(b, Seq("bk"))
      .filter(col("src") < col("dst"))
      .select(col("src"), col("dst"),
        expr("graft_sig_agreement(sig_a, sig_b)").as("est_jaccard"))
      .distinct()
    pairs.localCheckpoint(true) // pairs are small
  }

  private val pairsCache =
    scala.collection.concurrent.TrieMap.empty[(String, Int, Int), String]

  // per-key monitors: racing callers of the SAME key serialize (the
  // loser would otherwise run a redundant full LSH pass into an
  // orphaned dir), but two corpora never block each other on one
  // global lock for the duration of an LSH pass (r14 ADVICE).
  // TrieMap.getOrElseUpdate is atomic, so both racers see one monitor.
  private val pairsLocks =
    scala.collection.concurrent.TrieMap.empty[(String, Int, Int), Object]
  private def lockFor(k: (String, Int, Int)): Object =
    pairsLocks.getOrElseUpdate(k, new Object)

  // tmp pair dirs are cleaned at JVM exit (File.deleteOnExit cannot
  // remove non-empty dirs, so one recursive hook instead of per-file
  // registration)
  locally {
    java.lang.Runtime.getRuntime.addShutdownHook(new Thread(() =>
      pairsCache.values.foreach { d =>
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory)
            Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
          f.delete(); ()
        }
        rm(new java.io.File(d))
      }))
  }

  /** [[candidatePairs]] of `docs` (default id/text columns), materialized
    * ONCE per (JVM, cacheKey, numPerms, bands) to a tmp parquet dir and
    * re-read thereafter. Candidate membership is a per-PAIR property —
    * two docs collide iff their own band hashes match, regardless of the
    * rest of the corpus — so one full-corpus pass serves every consumer:
    * dd4's recall gate reads it whole, and `CorpusPipeline.curate`
    * restricts it to its surviving doc ids (identical, by the per-pair
    * property, to re-running LSH on the subset). One LSH pass per
    * (session, corpus) instead of one per query — the round-9 cp1 trim.
    * The cache holds PATHS, not DataFrames, so entries survive session
    * restarts within the JVM; `cacheKey` should identify the corpus
    * (the sf dir path — the testdata read-only contract). */
  def cachedPairs(docs: DataFrame, cacheKey: String,
                  numPerms: Int = 16, bands: Int = 4): DataFrame = {
    val spark = docs.sparkSession
    // per-KEY lock (lockFor): same-key racers serialize so the loser's
    // full LSH pass never lands in an orphaned dir; different corpora
    // proceed concurrently
    val k = (cacheKey, numPerms, bands)
    val path = lockFor(k).synchronized {
      pairsCache.getOrElseUpdate(k, {
        val dir = java.nio.file.Files
          .createTempDirectory("graft_lsh_pairs")
        candidatePairs(docs, numPerms = numPerms, bands = bands)
          .write.mode("overwrite").parquet(dir.toString)
        dir.toString
      })
    }
    spark.read.parquet(path)
  }

  /** [[cachedPairs]] for the [[portablePairs]] family (namespaced in the
    * same path cache) — one portable LSH pass per (JVM, corpus). */
  def cachedPortablePairs(docs: DataFrame, cacheKey: String,
                          numPerms: Int = 16, bands: Int = 4): DataFrame = {
    val spark = docs.sparkSession
    val k = (s"portable:$cacheKey", numPerms, bands)
    val path = lockFor(k).synchronized {
      pairsCache.getOrElseUpdate(k, {
        val dir = java.nio.file.Files
          .createTempDirectory("graft_lsh_pairs_portable")
        portablePairs(docs, numPerms = numPerms, bands = bands)
          .write.mode("overwrite").parquet(dir.toString)
        dir.toString
      })
    }
    spark.read.parquet(path)
  }
}
