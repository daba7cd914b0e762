package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.store.{GenLog, IndexKind, IndexLifecycle}

/** Persisted SIGN-RANDOM-PROJECTION key index — [[CosineLsh]]'s band
  * table as a managed artifact, so a daily embedding-ingest probes
  * yesterday's corpus for cosine near-duplicates without re-reading (or
  * re-projecting) history vectors: the embedding counterpart of
  * [[LshBandIndex]], and the index behind `dd16_incremental_embed_neardup`.
  *
  * SPLIT LAYOUT from day one (the [[LshBandIndex]] format-2 lesson —
  * don't ship the payload through the band join): each generation
  * persists
  *
  *  - `vecs/` — `(__id, emb)` ONE row per vector, the source of truth
  *    (plane weights are a pure function of (plane, dim), so keys are
  *    arithmetic over these bytes);
  *  - `keys/` — `(__id, band, key)` narrow rows, derived from the
  *    just-written `vecs` parquet via [[CosineLsh.bucketize]] — the
  *    SAME fused [[graft.functions.SignRpKeys]] expression the live
  *    query path runs, so index and query collide byte-for-byte.
  *
  * A probe ([[incrementalPairs]]) streams only the narrow key rows
  * through the (band, key) equi-join and fetches history VECTORS for
  * candidate ids only — the dim-64 embedding never rides the index
  * scan, exactly the signature-fetch discipline of the MinHash probe.
  * Exact cosine on the fetched candidates settles the decision, so LSH
  * fpp costs reads, never correctness.
  *
  * Lifecycle: the shared [[graft.store.IndexLifecycle]] (generation
  * log, atomic pointer flip, O(batch) delta advance, overlap
  * REPLACEMENT on re-crawled ids, LSM compaction at [[MaxChain]]).
  */
object CosineLshIndex {
  val FormatVersion = 1
  val MaxChain = 16

  /** GEOMETRY NOTE (the EMBRECALL/EMBGEO sweeps in BASELINE.md,
    * "Embedding-index geometry: the measured borderline frontier",
    * round 15): sign-RP band recall is a closed-form per-PAIR property — a
    * pair at cosine c agrees per plane with p = 1 − arccos(c)/π, a
    * w-bit band collides with pʷ, and b bands recall 1 − (1 − pʷ)ᵇ.
    * The r14 default (8×16) held borderline recall at threshold 0.95 to
    * only ~0.80 while its chance-collision rate (~8·2⁻¹⁶ per cross
    * pair) made the candidate set LINEAR in corpus life (963k chance
    * candidates at 2M history for a 2k batch). The r15 sweep planted
    * BORDERLINE pairs (cosine 0.94-0.99, ε-jittered) and measured the
    * frontier: width buys precision ~2×/bit at a steep borderline-recall
    * cost per band, which extra BANDS buy back at ~24 B/vec each. The
    * shipped default is [[geometryFor]](0.95, 0.90) = 29×24 — measured
    * borderline recall ≥0.9 at the threshold bin AND chance rate
    * 29·2⁻²⁴ ≈ 1.7e-6/pair, flattening the 2M probe's candidate set
    * from 963k to ~7k. Callers with a different threshold should derive
    * geometry from [[geometryFor]], not guess: precision comes from
    * band WIDTH, recall from band COUNT, and correctness from neither
    * (exact cosine settles candidates). */
  val DefaultRowsPerBand: Int = 24
  val DefaultBands: Int = geometryFor(0.95, 0.90, DefaultRowsPerBand)._1

  /** Smallest band count holding expected recall ≥ `targetRecall` for a
    * pair AT `threshold` cosine (harder pairs don't exist above the
    * threshold; easier ones recall strictly better), at the given band
    * width. Returns (bands, rowsPerBand). The formula is exact for
    * independent random hyperplanes — the EMBRECALL sweep (BASELINE.md,
    * round 15) matched measured recall to it per cosine bin. Width
    * stays a caller dial: each extra bit halves the chance-candidate
    * rate (bands·2^-width per cross pair) but needs more bands to hold the
    * same borderline recall; 24 bits is the measured sweet spot for
    * thresholds near 0.95 (16 bits can't reach rate ≤2e-6 at any sane
    * band count, 32 bits needs 69 bands for recall 0.9). */
  def geometryFor(threshold: Double, targetRecall: Double = 0.90,
                  rowsPerBand: Int = DefaultRowsPerBand): (Int, Int) = {
    require(threshold > 0.0 && threshold < 1.0,
      s"geometryFor: threshold=$threshold out of (0, 1)")
    require(targetRecall > 0.0 && targetRecall < 1.0,
      s"geometryFor: targetRecall=$targetRecall out of (0, 1)")
    val p = 1.0 - math.acos(threshold) / math.Pi
    val pw = math.pow(p, rowsPerBand)
    val bands = math.ceil(
      math.log1p(-targetRecall) / math.log1p(-pw)).toInt.max(1)
    (bands, rowsPerBand)
  }

  /** Test seam (the [[IvfIndex.maxChain]] pattern). */
  private[graft] var maxChain: Int = MaxChain

  /** GEOMETRY-CARRYING format token: a batch bucketized at one
    * (bands, rowsPerBand) can never equi-join keys built at another —
    * the probe would silently return only batch×batch pairs, zero
    * history recall. Folding the geometry into the meta `fmt` makes a
    * mismatched generation read as STALE through the existing format
    * guard (rebuild, never a wrong answer), the same way an old layout
    * version does. */
  private[graft] def fmtFor(bands: Int, rowsPerBand: Int): Int = {
    require(bands > 0 && bands < 1000,
      s"CosineLshIndex: bands=$bands out of the encodable range [1,999]")
    require(rowsPerBand > 0 && rowsPerBand <= 64,
      s"CosineLshIndex: rowsPerBand=$rowsPerBand out of range [1,64]")
    FormatVersion * 1000000 + bands * 1000 + rowsPerBand
  }

  def indexRoot: String = sys.env.getOrElse(
    "GRAFT_COSLSH_INDEX_DIR",
    new java.io.File(sys.props("java.io.tmpdir"), "graft_coslsh_index").toString)

  def indexPath(key: String): String = {
    val base = key.replaceAll("[^A-Za-z0-9._-]", "_").takeRight(40)
    s"$indexRoot/${base}_${GenLog.pathKey(key)}"
  }

  /** Maintenance: delete index ROOTS under [[indexRoot]] that no reader
    * can reach anymore — roots with no live `_CURRENT` pointer, and
    * roots untouched for `olderThanMs` (covers the r14 naming change
    * from 32-bit hashCode to [[GenLog.pathKey]], which orphaned every
    * pre-existing root under the old names, and any root whose logical
    * key simply stopped being ensured — e.g. a geometry-default change
    * re-keys nothing but rebuilds in place, while a KEY change strands
    * the old root forever). Generation-level pruning inside a live root
    * stays [[GenLog.publish]]'s job. The `_CURRENT` stamp refreshes on
    * PUBLISH, not on read — pick `olderThanMs` beyond the slowest
    * republish cadence (the Delta-VACUUM retention discipline), or a
    * read-only-but-live index gets rebuilt on its next ensure (never a
    * wrong answer, just a paid rebuild). A POINTERLESS root is also
    * age-gated — a concurrent first publish is pointerless for a few
    * seconds, and a vacuum racing it must not tear it down. Returns the
    * deleted roots. */
  def vacuumOrphanRoots(spark: SparkSession,
                        olderThanMs: Long = 7L * 24 * 3600 * 1000,
                        root: String = indexRoot): Seq[String] =
    life.synchronized {
      val rootPath = new Path(root)
      val fs = rootPath
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(rootPath)) return Seq.empty
      val cutoff = System.currentTimeMillis() - olderThanMs
      val deleted =
        fs.listStatus(rootPath).toSeq.filter(_.isDirectory).flatMap { st =>
          val cur = new Path(st.getPath, "_CURRENT")
          val stamp =
            if (fs.exists(cur)) fs.getFileStatus(cur).getModificationTime
            else st.getModificationTime
          if (stamp < cutoff) {
            fs.delete(st.getPath, true); Some(st.getPath.toString)
          } else None
        }
      // memo keys are indexPath strings; FileStatus paths come back
      // URI-qualified — a per-entry remove could miss and later serve a
      // deleted generation. Cheap to drop the whole memo instead:
      // revalidation is a pointer + meta read.
      if (deleted.nonEmpty) life.resetValidationMemo()
      deleted
    }

  private val life = new IndexLifecycle(maxChain)
  private[graft] def resetValidationMemo(): Unit = life.resetValidationMemo()
  /** Count of full-corpus fingerprint scans this JVM has run. */
  private[graft] def fingerprintScans = life.fingerprintScans

  private def storeRootOf(storeRoot: String): String =
    indexPath(s"store:$storeRoot")

  /** Vector rows `(__id, emb)` in `vecs/`, and the narrow key rows
    * derived from the written parquet via [[CosineLsh.bucketize]] in
    * `keys/`: the projection runs once over bytes on disk, so the two
    * dirs can never disagree. */
  private def kind(bands: Int, rowsPerBand: Int): IndexKind = new IndexKind {
    val fmt = fmtFor(bands, rowsPerBand)
    val geom = s"@${bands}x$rowsPerBand"
    val label = s"cosine-LSH index at geometry ${bands}x$rowsPerBand"
    val dataDir = "vecs"
    override def payload(c: Column): Column = c.cast("array<double>")
    def rows(b: DataFrame): DataFrame =
      b.select(col("__id"), col("__p").as("emb"))
    def write(spark: SparkSession, gen: Path, rows: DataFrame): Unit = {
      val vecs = new Path(gen, "vecs").toString
      rows.write.parquet(vecs)
      CosineLsh.bucketize(spark.read.parquet(vecs),
          "__id", "emb", dim = 0, bands = bands, rowsPerBand = rowsPerBand)
        .select(col("id").as("__id"), col("band"), col("key"))
        .write.parquet(new Path(gen, "keys").toString)
    }
  }

  /** Ensure a fresh key index for the bare embedding frame `e` under
    * `key`; returns the live generation path. Same immutable-corpus
    * memo contract as [[LshBandIndex.ensure]]. A published generation
    * whose geometry differs from the requested one reads as stale and
    * is rebuilt at the requested geometry. */
  def ensure(spark: SparkSession, e: DataFrame, key: String,
             idCol: String = "vec_id", embCol: String = "emb",
             bands: Int = DefaultBands, rowsPerBand: Int = DefaultRowsPerBand): String =
    life.ensure(spark, e, indexPath(key), idCol, embCol,
      kind(bands, rowsPerBand))

  /** [[ensure]] for a corpus published through
    * [[graft.store.SnapshotStore]]: validity keyed on the current
    * snapshot NAME — revalidation is a pointer read plus the meta row,
    * no corpus scan (pinned via [[fingerprintScans]]). */
  def ensureForSnapshot(spark: SparkSession, storeRoot: String,
                        idCol: String = "vec_id", embCol: String = "emb",
                        bands: Int = DefaultBands, rowsPerBand: Int = DefaultRowsPerBand): String =
    life.ensureForSnapshot(spark, storeRoot, storeRootOf(storeRoot), idCol,
      embCol, kind(bands, rowsPerBand))

  /** [[advanceWithBatch]] for a snapshot-keyed index: the caller asserts
    * `batch` is exactly what grew the store, checked by the row-count
    * identity and the id-disjointness probe; a failed net falls back to
    * the store's change feed (a delta when it is pure inserts, else a
    * rebuild). An index already keyed to the CURRENT snapshot (a
    * retried pipeline step in a fresh JVM) is returned as-is. */
  def advanceForSnapshotWithBatch(spark: SparkSession, storeRoot: String,
                                  batch: DataFrame,
                                  idCol: String = "vec_id",
                                  embCol: String = "emb",
                                  bands: Int = DefaultBands,
                                  rowsPerBand: Int = DefaultRowsPerBand): String =
    life.advanceForSnapshotWithBatch(spark, storeRoot, storeRootOf(storeRoot),
      batch, idCol, embCol, kind(bands, rowsPerBand))

  /** O(batch) delta advance; overlapped ids are REPLACED (batch wins) by
    * a rewrite over the chain's one-row-per-vector `vecs`, a chain at
    * [[maxChain]] compacts, and a zero-row batch publishes a meta-only
    * re-key — all without touching any upstream corpus table. `snap`,
    * when given, re-keys validity to the new snapshot name. */
  def advanceWithBatch(spark: SparkSession, key: String, batch: DataFrame,
                       idCol: String = "vec_id", embCol: String = "emb",
                       bands: Int = DefaultBands, rowsPerBand: Int = DefaultRowsPerBand,
                       snap: Option[String] = None): String =
    life.advanceWithBatch(spark, indexPath(key), batch, idCol, embCol,
      kind(bands, rowsPerBand), snap)

  /** RTBF companion — DELETING store writers must call this in the same
    * operation as the row deletes, because every chain generation
    * persists the RAW embeddings (`vecs/`) of the rows it indexed: see
    * [[graft.store.IndexLifecycle.purgeForStore]]. */
  def purgeForStore(spark: SparkSession, storeRoot: String,
                    idCol: String = "vec_id", embCol: String = "emb",
                    bands: Int = DefaultBands, rowsPerBand: Int = DefaultRowsPerBand): Unit =
    life.purgeForStore(spark, storeRoot, storeRootOf(storeRoot), idCol, embCol,
      kind(bands, rowsPerBand))

  /** The live generation path under `key` at the given geometry, if
    * any (a generation built at another geometry reads as absent). */
  def currentGenPath(spark: SparkSession, key: String,
                     bands: Int = DefaultBands, rowsPerBand: Int = DefaultRowsPerBand): Option[String] =
    life.currentGenPath(spark, indexPath(key), kind(bands, rowsPerBand))

  /** NARROW key rows `(__id, band, key)` of the chain — the only stream
    * a probe scans whole. */
  def narrowKeysOf(spark: SparkSession, genPath: String,
                   bands: Int = DefaultBands, rowsPerBand: Int = DefaultRowsPerBand): DataFrame =
    GenLog.readChain(spark, new Path(genPath), fmtFor(bands, rowsPerBand), "keys")

  /** Vector rows `(__id, emb)` of the chain, one per vector — the
    * candidate-only fetch surface. */
  def vecsOf(spark: SparkSession, genPath: String,
             bands: Int = DefaultBands, rowsPerBand: Int = DefaultRowsPerBand): DataFrame =
    GenLog.readChain(spark, new Path(genPath), fmtFor(bands, rowsPerBand), "vecs")

  /** Cosine near-dup pairs TOUCHING the batch, probed against the
    * persisted index: `(src, dst, cs)` with src < dst and exact cosine
    * `cs` on every emitted pair — [[CosineLsh.candidatePairs]] over
    * history ∪ batch restricted to pairs with a batch member (band
    * collision is per-pair, the dd13 identity), then settled by exact
    * arithmetic. Phase 1 joins the batch's live keys against the
    * index's narrow rows; phase 2 fetches history VECTORS for candidate
    * ids only. The caller thresholds `cs`. */
  /** Candidate-id sets at or under this count fetch history vectors via
    * a BROADCAST semi-join (the id set rides to every scan task and the
    * dim-64 payload never shuffles); above it — a mis-geometried index
    * or a pathological corpus — the fetch falls back to a shuffled
    * semi-join rather than OOM the driver. 4M ids ≈ 32 MB broadcast. */
  val MaxBroadcastFetch = 4000000L

  def incrementalPairs(batch: DataFrame, idCol: String, embCol: String,
                       historyKeys: DataFrame, historyVecs: DataFrame,
                       bands: Int = DefaultBands, rowsPerBand: Int = DefaultRowsPerBand): DataFrame = {
    // eager checkpoint: the batch frame is referenced SIX times below
    // (key bucketize, vector sides of both pair joins, batch-internal
    // candidate pairs) plus the broadcast-sizing count — without the cut
    // each reference re-executes the caller's lineage, and the r15
    // count-for-the-guard alone re-ran an expensive un-persisted batch
    // (r16 ADVICE). One materialization of the (small) increment serves
    // all of them, and the count below reads checkpointed blocks.
    val b = batch.select(col(idCol).cast("long").as("__id"),
      col(embCol).cast("array<double>").as("emb"))
      .localCheckpoint(true)
    // geometry MUST match the index's build geometry — enforced at the
    // index layer: ensure/advance fold (bands, rowsPerBand) into the
    // meta fmt, so a generation at another geometry reads as stale and
    // rebuilds before its keys could reach this join
    // single packed long join key (BandPack: the composite-key probe
    // measured 6× the whole phase-1 cost at 2M history)
    val pk = CosineLsh.packedKey(rowsPerBand)
    val bKeys = CosineLsh.bucketize(b, "__id", "emb", dim = 0,
        bands = bands, rowsPerBand = rowsPerBand)
      .select(col("id").as("dst"), pk.as("bk"))
    // phase 1: narrow candidate ids, deduped before any vector moves.
    // The batch-key side is broadcast when it fits — batch × bands rows,
    // counted here rather than assumed, because the operator accepts ANY
    // DataFrame as the batch and bands=29 makes the key frame 3.6× the
    // old default's. Under the cap the narrow index scan streams
    // map-side with zero shuffle; over it (a corpus-sized "batch") the
    // planner keeps its shuffled-join freedom instead of OOMing the
    // driver — the same guard shape as phase 2's MaxBroadcastFetch.
    val bKeysRows = b.count() * bands
    val bKeysSide = if (bKeysRows <= MaxBroadcastFetch) broadcast(bKeys)
                    else bKeys
    val histCand = historyKeys
      .select(col("__id").as("src"), pk.as("bk"))
      .join(bKeysSide, Seq("bk"))
      .filter(col("src") =!= col("dst"))
      .select("src", "dst").distinct()
    // phase 2: vectors for candidate endpoints ONLY. Materialize the
    // (small) candidate set first: its count picks the fetch strategy,
    // and without the explicit broadcast Spark planned a sort-merge
    // join here — shuffling ALL history vectors to fetch a few thousand
    // (measured r15: 6.5 s of the 2M probe was this shuffle). The
    // semi-join prunes the wide scan map-side; the surviving vectors
    // (≤ candidates) then broadcast into the pair join under AQE.
    val cand = histCand.localCheckpoint(true)
    val srcIds = cand.select(col("src").as("__id")).distinct()
    val vecsNeeded =
      if (cand.count() <= MaxBroadcastFetch)
        historyVecs.join(broadcast(srcIds), Seq("__id"), "left_semi")
      else historyVecs.join(srcIds, Seq("__id"), "left_semi")
    val bVecs = b.select(col("__id").as("dst"), col("emb").as("eb"))
    val histPairs = cand
      .join(vecsNeeded.select(col("__id").as("src"),
        col("emb").as("ea")), Seq("src"))
      .join(bVecs, Seq("dst"))
      .select(least(col("src"), col("dst")).as("src"),
        greatest(col("src"), col("dst")).as("dst"),
        expr("graft_cosine(ea, eb)").as("cs"))
    val bb = CosineLsh.candidatePairs(b, "__id", "emb", dim = 0,
      bands = bands, rowsPerBand = rowsPerBand)
    val batchPairs = bb
      .join(b.select(col("__id").as("src"), col("emb").as("ea")), Seq("src"))
      .join(b.select(col("__id").as("dst"), col("emb").as("eb")), Seq("dst"))
      .select(col("src"), col("dst"), expr("graft_cosine(ea, eb)").as("cs"))
    histPairs.unionByName(batchPairs).dropDuplicates("src", "dst")
  }
}
