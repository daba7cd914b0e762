package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.store.GenLog

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
  * Lifecycle mirrors [[LshBandIndex]] (generation log, atomic pointer
  * flip, O(batch) delta advance, overlap REPLACEMENT on re-crawled ids,
  * LSM compaction at [[MaxChain]]): cite LshBandIndex for the protocol
  * arguments; this artifact reuses [[graft.store.GenLog]] wholesale.
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

  private def geomTag(bands: Int, rowsPerBand: Int): String =
    s"@${bands}x$rowsPerBand"

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
    * stays [[GenLog.pruneGens]]'s job. The `_CURRENT` stamp refreshes on
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
    buildLock.synchronized {
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
      if (deleted.nonEmpty) validated.clear()
      deleted
    }

  private val buildLock = new Object
  private val validated =
    scala.collection.mutable.Map.empty[String, (String, String)]
  private[graft] def resetValidationMemo(): Unit =
    buildLock.synchronized(validated.clear())

  /** Count of full-corpus fingerprint scans this JVM has run — the test
    * seam proving snapshot-keyed revalidation never scans the corpus
    * (the [[LshBandIndex.fingerprintScans]] pattern). */
  private[graft] val fingerprintScans =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** Order-insensitive content fingerprint over (id, emb) — xxhash64
    * hashes array columns elementwise, and xor composes for disjoint
    * deltas exactly as [[LshBandIndex]]'s text fingerprint does. */
  private def fingerprint(e: DataFrame, idCol: String,
                          embCol: String): Long = {
    fingerprintScans.incrementAndGet()
    e.agg(coalesce(expr(s"bit_xor(xxhash64(`$idCol`, `$embCol`))"), lit(0L)))
      .head().getLong(0)
  }

  /** Ensure a fresh key index for the bare embedding frame `e` under
    * `key`; returns the live generation path. Same immutable-corpus
    * memo contract as [[LshBandIndex.ensure]]. A published generation
    * whose geometry differs from the requested one reads as stale and
    * is rebuilt at the requested geometry. */
  def ensure(spark: SparkSession, e: DataFrame, key: String,
             idCol: String = "vec_id", embCol: String = "emb",
             bands: Int = DefaultBands, rowsPerBand: Int = DefaultRowsPerBand): String =
    buildLock.synchronized {
      val fmt = fmtFor(bands, rowsPerBand)
      val geom = geomTag(bands, rowsPerBand)
      val root = indexPath(key)
      val fs = new Path(root)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      validated.get(root) match {
        case Some((t, gen)) if t.startsWith("fp:") && t.endsWith(geom) =>
          return gen
        case _ => ()
      }
      val vecs = e.select(col(idCol).cast("long").as("__id"),
        col(embCol).cast("array<double>").as("emb"))
      lazy val n = vecs.count()
      lazy val fp = fingerprint(vecs, "__id", "emb")
      GenLog.currentGen(fs, root)
        .flatMap(g => GenLog.readMeta(spark, g, fmt).map(g -> _)) match {
        case Some((gen, m)) if m.snap.isEmpty && m.n == n && m.fp == fp =>
          validated(root) = (s"fp:$n:$fp$geom", gen.toString)
          gen.toString
        case _ =>
          require(n > 0,
            s"CosineLshIndex.ensure: refusing to index an empty corpus ($root)")
          val gen = publishFromVecs(spark, root, vecs, bands, rowsPerBand,
            GenLog.Meta(n, fmt, fp, None, None))
          validated(root) = (s"fp:$n:$fp$geom", gen)
          gen
      }
    }

  /** [[ensure]] for a corpus published through
    * [[graft.store.SnapshotStore]]: validity keyed on the current
    * snapshot NAME — revalidation is a pointer read plus the meta row,
    * no corpus scan (the [[LshBandIndex.ensureForSnapshot]] contract;
    * pinned via [[fingerprintScans]]). */
  def ensureForSnapshot(spark: SparkSession, storeRoot: String,
                        idCol: String = "vec_id", embCol: String = "emb",
                        bands: Int = DefaultBands, rowsPerBand: Int = DefaultRowsPerBand): String =
    buildLock.synchronized {
      val fmt = fmtFor(bands, rowsPerBand)
      val geom = geomTag(bands, rowsPerBand)
      val snap = graft.store.SnapshotStore.currentName(spark, storeRoot)
        .getOrElse(throw new java.io.FileNotFoundException(
          s"no snapshot published under $storeRoot — commit the corpus first"))
      val root = indexPath(s"store:$storeRoot")
      validated.get(root) match {
        case Some((t, gen)) if t == s"snap:$snap$geom" => return gen
        case _ => ()
      }
      val fs = new Path(root)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      GenLog.currentGen(fs, root)
        .flatMap(g => GenLog.readMeta(spark, g, fmt).map(g -> _)) match {
        case Some((gen, m)) if m.snap.contains(snap) =>
          validated(root) = (s"snap:$snap$geom", gen.toString)
          gen.toString
        case _ =>
          val vecs = graft.store.SnapshotStore.read(spark, storeRoot)
            .select(col(idCol).cast("long").as("__id"),
              col(embCol).cast("array<double>").as("emb"))
          val n = vecs.count()
          require(n > 0, s"CosineLshIndex.ensureForSnapshot: empty corpus " +
            s"under $storeRoot")
          val gen = publishFromVecs(spark, root, vecs, bands, rowsPerBand,
            GenLog.Meta(n, fmt, 0L, Some(snap), None))
          validated(root) = (s"snap:$snap$geom", gen)
          gen
      }
    }

  /** [[advanceWithBatch]] for a snapshot-keyed index, with the
    * [[LshBandIndex.advanceForSnapshotWithBatch]] trust-but-verify nets:
    * the caller asserts `batch` is exactly what grew the store, checked
    * by the row-count identity (count(current snapshot) = indexed n +
    * count(batch)) and the id-disjointness probe; a failed net falls
    * back to a full rebuild against the current snapshot rather than
    * recording a wrong chain under the new snapshot's key. An index
    * already keyed to the CURRENT snapshot (a retried pipeline step in
    * a fresh JVM) is returned as-is — a pointer read, no rebuild. */
  def advanceForSnapshotWithBatch(spark: SparkSession, storeRoot: String,
                                  batch: DataFrame,
                                  idCol: String = "vec_id",
                                  embCol: String = "emb",
                                  bands: Int = DefaultBands,
                                  rowsPerBand: Int = DefaultRowsPerBand): String =
    buildLock.synchronized {
      val fmt = fmtFor(bands, rowsPerBand)
      val geom = geomTag(bands, rowsPerBand)
      val snap = graft.store.SnapshotStore.currentName(spark, storeRoot)
        .getOrElse(throw new java.io.FileNotFoundException(
          s"no snapshot published under $storeRoot — commit the corpus first"))
      val root = indexPath(s"store:$storeRoot")
      validated.get(root) match {
        case Some((t, gen)) if t == s"snap:$snap$geom" => return gen
        case _ => ()
      }
      val fs = new Path(root)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val onDisk = GenLog.currentGen(fs, root)
        .flatMap(g => GenLog.readMeta(spark, g, fmt).map(g -> _))
      onDisk match {
        // the advance already happened (crash after publish, retry in a
        // fresh JVM): the live generation IS the current snapshot's —
        // return it instead of churning a redundant full rebuild
        case Some((g, m)) if m.snap.contains(snap) =>
          validated(root) = (s"snap:$snap$geom", g.toString)
          return g.toString
        case _ => ()
      }
      val b = batch.select(col(idCol).cast("long").as("__id"),
        col(embCol).cast("array<double>").as("emb")).localCheckpoint(true)
      val viaBatch = onDisk match {
        case Some((g, m)) =>
          val countsOk =
            graft.store.SnapshotStore.read(spark, storeRoot).count() ==
              m.n + b.count()
          lazy val overlaps = vecsOf(spark, g.toString, bands, rowsPerBand)
            .select("__id")
            .join(b.select("__id"), Seq("__id"), "left_semi")
            .limit(1).count() > 0
          countsOk && !overlaps
        case _ => false
      }
      if (viaBatch)
        advanceWithBatch(spark, s"store:$storeRoot", b, "__id", "emb",
          bands, rowsPerBand, snap = Some(snap))
      else {
        val vecs = graft.store.SnapshotStore.read(spark, storeRoot)
          .select(col(idCol).cast("long").as("__id"),
            col(embCol).cast("array<double>").as("emb"))
        val n = vecs.count()
        require(n > 0, s"CosineLshIndex.advanceForSnapshotWithBatch: " +
          s"empty corpus under $storeRoot")
        val gen = publishFromVecs(spark, root, vecs, bands, rowsPerBand,
          GenLog.Meta(n, fmt, 0L, Some(snap), None))
        validated(root) = (s"snap:$snap$geom", gen)
        gen
      }
    }

  /** O(batch) delta advance; overlapped ids are REPLACED (batch wins) by
    * a rewrite over the chain's one-row-per-vector `vecs`, and a chain
    * at [[maxChain]] compacts — both without touching any upstream
    * corpus table ([[LshBandIndex.advanceWithBatch]]'s contract). An
    * overlap voids the xor fingerprint (fp=0 in meta → next cross-JVM
    * ensure rebuilds; safe, just uncached). `snap`, when given, re-keys
    * validity to the new snapshot name. A ZERO-row batch (an
    * identical-content republish) publishes a META-ONLY re-key
    * generation — nothing recomputed, no empty data dirs grown into the
    * chain ([[LshBandIndex.advanceWithBatch]]'s nb==0 arm); the
    * compaction valve still applies so daily no-op republishes cannot
    * grow the chain without bound. */
  def advanceWithBatch(spark: SparkSession, key: String, batch: DataFrame,
                       idCol: String = "vec_id", embCol: String = "emb",
                       bands: Int = DefaultBands, rowsPerBand: Int = DefaultRowsPerBand,
                       snap: Option[String] = None): String =
    buildLock.synchronized {
      val fmt = fmtFor(bands, rowsPerBand)
      val geom = geomTag(bands, rowsPerBand)
      val root = indexPath(key)
      val fs = new Path(root)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val (headGen, m) = GenLog.currentGen(fs, root)
        .flatMap(g => GenLog.readMeta(spark, g, fmt).map(g -> _))
        .getOrElse(throw new java.io.FileNotFoundException(
          s"no live cosine-LSH index at geometry ${bands}x$rowsPerBand " +
            s"under $root — ensure() a base first (a geometry change " +
            "requires a rebuild, not an advance)"))
      val b = batch.select(col(idCol).cast("long").as("__id"),
        col(embCol).cast("array<double>").as("emb")).localCheckpoint(true)
      val nb = b.count()
      val compact =
        GenLog.chain(spark, headGen, fmt).length >= maxChain
      if (nb == 0) {
        val tok0 = snap.map(s => s"snap:$s$geom")
          .getOrElse(s"fp:${m.n}:${m.fp}$geom")
        val gen0 =
          if (compact)
            publishFromVecs(spark, root,
              vecsOf(spark, headGen.toString, bands, rowsPerBand),
              bands, rowsPerBand,
              GenLog.Meta(m.n, fmt, m.fp, snap, None))
          else publishMetaOnly(spark, root,
            GenLog.Meta(m.n, fmt, m.fp, snap, Some(headGen.getName)))
        validated(root) = (tok0, gen0)
        return gen0
      }
      val headIds = vecsOf(spark, headGen.toString, bands, rowsPerBand)
        .select("__id")
      val bIds = b.select("__id")
      val overlapExists = headIds.join(bIds, Seq("__id"), "left_semi")
        .limit(1).count() > 0
      val nOverlap =
        if (!overlapExists) 0L
        else headIds.join(bIds, Seq("__id"), "left_semi").count()
      val nNew = m.n + nb - nOverlap
      val fpNew =
        if (snap.isDefined || nOverlap > 0) 0L
        else m.fp ^ fingerprint(b, "__id", "emb")
      val tok = snap.map(s => s"snap:$s$geom").getOrElse(s"fp:$nNew:$fpNew$geom")
      val gen =
        if (nOverlap > 0 || compact) {
          val hist0 = vecsOf(spark, headGen.toString, bands, rowsPerBand)
          val hist =
            if (nOverlap == 0) hist0
            else hist0.join(bIds, Seq("__id"), "left_anti")
          publishFromVecs(spark, root, hist.unionByName(b),
            bands, rowsPerBand,
            GenLog.Meta(nNew, fmt, fpNew, snap, None))
        } else
          publishFromVecs(spark, root, b, bands, rowsPerBand,
            GenLog.Meta(nNew, fmt, fpNew, snap,
              Some(headGen.getName)))
      validated(root) = (tok, gen)
      gen
    }

  /** RTBF companion — the [[LshBandIndex.purgeForStore]] contract for
    * the embedding index: DELETING store writers must call this in the
    * same operation as the row deletes, because every chain generation
    * persists the RAW embeddings (`vecs/`) of the rows it indexed — a
    * forgotten vector would otherwise linger on disk and still match
    * probes until some later advance happened to notice the churn. If
    * an index exists for `storeRoot`, rebuild it against the store's
    * CURRENT snapshot and prune every superseded generation; delete the
    * index outright if the store emptied. No-op when the store has no
    * index. O(history) rebuild — the price of a hard purge, paid only
    * on deletes. */
  def purgeForStore(spark: SparkSession, storeRoot: String,
                    idCol: String = "vec_id", embCol: String = "emb",
                    bands: Int = DefaultBands, rowsPerBand: Int = DefaultRowsPerBand): Unit =
    buildLock.synchronized {
      val fmt = fmtFor(bands, rowsPerBand)
      val geom = geomTag(bands, rowsPerBand)
      val root = indexPath(s"store:$storeRoot")
      val rootPath = new Path(root)
      val fs = rootPath
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (GenLog.currentGen(fs, root).isDefined) {
        validated.remove(root)
        if (graft.store.SnapshotStore.read(spark, storeRoot)
            .limit(1).count() == 0L) {
          fs.delete(rootPath, true)
        } else {
          val snap = graft.store.SnapshotStore
            .currentName(spark, storeRoot).get
          val vecs = graft.store.SnapshotStore.read(spark, storeRoot)
            .select(col(idCol).cast("long").as("__id"),
              col(embCol).cast("array<double>").as("emb"))
          val gen = publishFromVecs(spark, root, vecs, bands, rowsPerBand,
            GenLog.Meta(vecs.count(), fmt, 0L, Some(snap), None))
          // publish keeps the previous chain for in-flight readers — a
          // purge must NOT: re-prune keeping only the fresh generation
          GenLog.pruneGens(spark, fs, rootPath,
            new Path(gen).getName, None, fmt,
            spareYoungPublished = false)
          validated(root) = (s"snap:$snap$geom", gen)
        }
      }
    }

  /** The live generation path under `key` at the given geometry, if
    * any (a generation built at another geometry reads as absent). */
  def currentGenPath(spark: SparkSession, key: String,
                     bands: Int = DefaultBands, rowsPerBand: Int = DefaultRowsPerBand): Option[String] = {
    val root = indexPath(key)
    val fs = new Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    GenLog.currentGen(fs, root)
      .filter(g => GenLog.readMeta(spark, g,
        fmtFor(bands, rowsPerBand)).isDefined)
      .map(_.toString)
  }

  private def chainDirOf(spark: SparkSession, genPath: String,
                         sub: String, fmt: Int): DataFrame = {
    val hadoop = spark.sparkContext.hadoopConfiguration
    GenLog.chain(spark, new Path(genPath), fmt)
      .map(g => new Path(g, sub))
      .filter(p => p.getFileSystem(hadoop).exists(p))
      .map(p => spark.read.parquet(p.toString))
      .reduce(_ unionByName _)
  }

  /** NARROW key rows `(__id, band, key)` of the chain — the only stream
    * a probe scans whole. */
  def narrowKeysOf(spark: SparkSession, genPath: String,
                   bands: Int = DefaultBands, rowsPerBand: Int = DefaultRowsPerBand): DataFrame =
    chainDirOf(spark, genPath, "keys", fmtFor(bands, rowsPerBand))

  /** Vector rows `(__id, emb)` of the chain, one per vector — the
    * candidate-only fetch surface. */
  def vecsOf(spark: SparkSession, genPath: String,
             bands: Int = DefaultBands, rowsPerBand: Int = DefaultRowsPerBand): DataFrame =
    chainDirOf(spark, genPath, "vecs", fmtFor(bands, rowsPerBand))

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
    graft.functions.CosineSimilarity.register(batch.sparkSession)
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

  /** Meta-only re-key generation: no data dirs at all ([[chainDirOf]]
    * skips them) — the nb==0 advance arm's publish. */
  private def publishMetaOnly(spark: SparkSession, root: String,
                              meta: GenLog.Meta): String = {
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val prevGen = GenLog.currentGen(fs, root).map(_.getName)
    val genName = GenLog.newGenName()
    val gen = new Path(rootPath, genName)
    GenLog.writeMeta(spark, gen, meta)
    GenLog.publishGen(spark, root, genName)
    GenLog.pruneGens(spark, fs, rootPath, genName, prevGen, meta.fmt)
    gen.toString
  }

  /** Write `vecs` as a fresh generation's one-row-per-vector dir,
    * re-read the written parquet and derive the narrow `keys` from it —
    * the projection runs once over bytes on disk, so the two dirs can
    * never disagree ([[LshBandIndex]]'s publishFromSigs discipline). */
  private def publishFromVecs(spark: SparkSession, root: String,
                              vecs: DataFrame, bands: Int,
                              rowsPerBand: Int,
                              meta: GenLog.Meta): String = {
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val prevGen = GenLog.currentGen(fs, root).map(_.getName)
    val genName = GenLog.newGenName()
    val gen = new Path(rootPath, genName)
    val vecsDir = new Path(gen, "vecs")
    vecs.write.parquet(vecsDir.toString)
    CosineLsh.bucketize(spark.read.parquet(vecsDir.toString),
        "__id", "emb", dim = 0, bands = bands, rowsPerBand = rowsPerBand)
      .select(col("id").as("__id"), col("band"), col("key"))
      .write.parquet(new Path(gen, "keys").toString)
    GenLog.writeMeta(spark, gen, meta)
    GenLog.publishGen(spark, root, genName)
    GenLog.pruneGens(spark, fs, rootPath, genName, prevGen, meta.fmt)
    gen.toString
  }
}
