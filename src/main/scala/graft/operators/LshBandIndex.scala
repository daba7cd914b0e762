package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.store.{GenLog, IndexKind, IndexLifecycle}

/** Persisted MinHash BAND index — the signature half of
  * [[MinHashLSH.candidatePairs]] stored as a managed artifact, so an
  * incremental ingest probes yesterday's corpus without recomputing (or
  * even re-reading) its text.
  *
  * SPLIT LAYOUT (format 2 — the round-13 verdict's probe-bytes diet):
  * each generation persists TWO frames instead of one wide band table:
  *
  *  - `sigs/`  — `(__id, sig)` ONE row per document, the source of
  *    truth (signatures are final once computed; everything else is
  *    arithmetic over them);
  *  - `bands/` — `(__id, band_id, band_hash)` NARROW rows (~24 B),
  *    derived from the just-written `sigs` parquet at publish time
  *    ([[MinHashLSH.narrowBandsFromSigs]] — same band-hash expressions
  *    as the live query path, so index and query collide
  *    byte-for-byte).
  *
  * Why: the daily probe ([[MinHashLSH.incrementalPairs]]) is the one
  * operation that scans the WHOLE index, every day, forever — with the
  * 16-long signature duplicated onto every band row (format 1) that
  * scan shipped ~600 B/corpus-doc through the band join; split, phase 1
  * streams 24 B narrow rows and phase 2 fetches `sigs` rows for
  * CANDIDATE ids only. Compactions and overlap rewrites also get
  * cheaper: they rewrite `sigs` (one row/doc) and re-derive bands, no
  * wide table round-trips.
  *
  * Lifecycle: the shared [[graft.store.IndexLifecycle]] over the
  * [[graft.store.GenLog]] generation log — immutable
  * `gen-<uuid8>/{sigs,bands}` dirs, one `_CURRENT` pointer, delta
  * chains. MinHash signatures need NO retraining (the hash family is
  * fixed), so an advance is one signature pass over the batch plus a
  * batch-sized delta write: index maintenance is O(batch), never
  * O(corpus).
  *
  * A probe ([[MinHashLSH.incrementalPairs]] against [[narrowBandsOf]] +
  * [[sigsOf]]) streams only the 24 B narrow band rows of the chain and
  * fetches signatures for candidate ids; document text is never touched
  * after indexing. Chain depth is bounded by [[MaxChain]]: past it, the
  * next advance collapses the chain into a fresh base (LSM compaction —
  * cheap here, a read+rewrite of sig rows with bands re-derived, no
  * signatures recomputed).
  */
object LshBandIndex {
  /** 2 = the split sigs/bands layout; a format-1 (wide band table)
    * generation on disk reads as stale via [[graft.store.GenLog.readMeta]]'s
    * version guard and is rebuilt — never mis-read. */
  val FormatVersion = 2

  /** GEOMETRY-CARRYING format token (the [[CosineLshIndex.fmtFor]]
    * discipline): a probe bucketized at one (numPerms, bands) can never
    * band-collide with an index built at another — the daily near-dup
    * pass would silently return batch-only pairs, and a candidate that
    * did form would feed sig arrays of different lengths into the
    * agreement kernel. Folding the geometry into the meta `fmt` makes a
    * mismatched generation read as STALE through the existing format
    * guard (rebuild, never a wrong answer). */
  private[graft] def fmtFor(numPerms: Int, bands: Int): Int = {
    require(numPerms > 0 && numPerms < 1000,
      s"LshBandIndex: numPerms=$numPerms out of the encodable range [1,999]")
    require(bands > 0 && bands <= numPerms,
      s"LshBandIndex: bands=$bands out of range [1,numPerms]")
    FormatVersion * 1000000 + numPerms * 1000 + bands
  }

  /** Compaction valve: at this chain depth the next advance rewrites the
    * chain into one base generation instead of chaining deeper. */
  val MaxChain = 16
  /** Test seam (the [[IvfIndex.maxChain]] pattern). */
  private[graft] var maxChain: Int = MaxChain

  private val life = new IndexLifecycle(maxChain)
  /** Count of full-corpus fingerprint scans this JVM has run. */
  private[graft] def fingerprintScans = life.fingerprintScans
  private[graft] def resetValidationMemo(): Unit = life.resetValidationMemo()

  def indexRoot: String = sys.env.getOrElse(
    "GRAFT_LSH_INDEX_DIR",
    new java.io.File(sys.props("java.io.tmpdir"), "graft_lsh_index").toString)

  /** Hash-family namespace: a PORTABLE index (md5-derived band rows,
    * MinHashLSH.portableBandRows — DuckDB-replicable, the cp6 oracle
    * path) lives under a different root than the fused-xxhash default,
    * so the two families can never probe each other's bands (they would
    * silently collide on nothing). */
  private def familyKey(key: String, portable: Boolean): String =
    if (portable) s"portable:$key" else key

  /** Root dir for a named index: readable basename + 64-bit path digest
    * (GenLog.pathKey — 32-bit hashCode was a birthday risk). */
  def indexPath(key: String): String = {
    val base = key.replaceAll("[^A-Za-z0-9._-]", "_").takeRight(40)
    s"$indexRoot/${base}_${GenLog.pathKey(key)}"
  }

  private def rootOf(key: String, portable: Boolean): String =
    indexPath(familyKey(key, portable))

  private def storeRootOf(storeRoot: String, portable: Boolean): String =
    rootOf(s"store:$storeRoot", portable)

  /** Signature rows `(__id, sig)` in `sigs/`, and the narrow band rows
    * re-derived from the written parquet ([[MinHashLSH.narrowBandsFromSigs]])
    * in `bands/`: the signature expression tree (the expensive text
    * pass) runs exactly once, and bands are a pure function of the
    * bytes on disk. */
  private def kind(numPerms: Int, bands: Int, portable: Boolean): IndexKind =
    new IndexKind {
      val fmt = fmtFor(numPerms, bands)
      val geom = s"@${numPerms}p$bands"
      val label = s"band index at geometry ${numPerms}x$bands"
      val dataDir = "sigs"
      def rows(b: DataFrame): DataFrame =
        MinHashLSH.sigRows(b, "__id", "__p", numPerms, portable)
      def write(spark: SparkSession, gen: Path, rows: DataFrame): Unit = {
        val sigs = new Path(gen, "sigs").toString
        rows.write.parquet(sigs)
        MinHashLSH.narrowBandsFromSigs(spark.read.parquet(sigs),
            numPerms, bands, portable)
          .write.parquet(new Path(gen, "bands").toString)
      }
    }

  /** Ensure a fresh band index for the bare corpus frame `docs` under
    * the index named `key`; returns the resolved generation path. A
    * bare `key` names an IMMUTABLE corpus (see
    * [[graft.store.IndexLifecycle]]). */
  def ensure(spark: SparkSession, docs: DataFrame, key: String,
             idCol: String = "doc_id", textCol: String = "text",
             numPerms: Int = 16, bands: Int = 4,
             portable: Boolean = false): String =
    life.ensure(spark, docs, rootOf(key, portable), idCol, textCol,
      kind(numPerms, bands, portable))

  /** [[ensure]] for a corpus published through
    * [[graft.store.SnapshotStore]]: validity keyed on the current
    * snapshot name — revalidation is metadata-only (no corpus scan). */
  def ensureForSnapshot(spark: SparkSession, storeRoot: String,
                        idCol: String = "doc_id", textCol: String = "text",
                        numPerms: Int = 16, bands: Int = 4,
                        portable: Boolean = false): String =
    life.ensureForSnapshot(spark, storeRoot, storeRootOf(storeRoot, portable),
      idCol, textCol, kind(numPerms, bands, portable))

  /** [[ensureForSnapshot]] that prefers an INCREMENTAL advance: a
    * pure-insert change feed since the indexed snapshot is
    * signature-encoded and chained as a delta; churn rebuilds. */
  def advanceForSnapshot(spark: SparkSession, storeRoot: String,
                         idCol: String = "doc_id",
                         textCol: String = "text",
                         numPerms: Int = 16, bands: Int = 4,
                         portable: Boolean = false): String =
    life.advanceForSnapshot(spark, storeRoot, storeRootOf(storeRoot, portable),
      idCol, textCol, kind(numPerms, bands, portable))

  /** [[advanceForSnapshot]] with a CALLER-ASSERTED delta, checked by the
    * row-count and id-overlap nets before it is trusted. */
  def advanceForSnapshotWithBatch(spark: SparkSession, storeRoot: String,
                                  batch: DataFrame,
                                  idCol: String = "doc_id",
                                  textCol: String = "text",
                                  numPerms: Int = 16,
                                  bands: Int = 4,
                                  portable: Boolean = false): String =
    life.advanceForSnapshotWithBatch(spark, storeRoot,
      storeRootOf(storeRoot, portable), batch, idCol, textCol,
      kind(numPerms, bands, portable))

  /** Advance the index with an ingest batch: an O(batch) delta, with
    * overlap REPLACEMENT and compaction at [[maxChain]] rewriting stored
    * signatures (never history text). `snap`, when given, re-keys
    * validity to the new snapshot name. */
  def advanceWithBatch(spark: SparkSession, key: String, batch: DataFrame,
                       idCol: String = "doc_id", textCol: String = "text",
                       numPerms: Int = 16, bands: Int = 4,
                       snap: Option[String] = None,
                       portable: Boolean = false): String =
    life.advanceWithBatch(spark, rootOf(key, portable), batch, idCol, textCol,
      kind(numPerms, bands, portable), snap)

  /** The live generation path under `key`, if any — resolved from disk
    * (pointer + meta), no staleness check: callers that OWN all writes
    * to the index (a streaming ingest advancing it per micro-batch) use
    * this to probe the exact state they last published. */
  def currentGenPath(spark: SparkSession, key: String,
                     portable: Boolean = false,
                     numPerms: Int = 16, bands: Int = 4): Option[String] =
    life.currentGenPath(spark, rootOf(key, portable),
      kind(numPerms, bands, portable))

  /** NARROW band rows `(__id, band_id, band_hash)` of the generation
    * CHAIN rooted at `genPath` — phase 1 of a split probe
    * ([[MinHashLSH.incrementalPairs]]'s history band side). Filters push
    * through the union into every per-generation parquet scan; the
    * signature column never enters this stream. */
  def narrowBandsOf(spark: SparkSession, genPath: String,
                    numPerms: Int = 16, bands: Int = 4): DataFrame =
    GenLog.readChain(spark, new Path(genPath), fmtFor(numPerms, bands), "bands")

  /** Signature rows `(__id, sig)` of the chain, one per document —
    * phase 2 of a split probe (candidate-id signature fetch), and the
    * cheapest id-membership surface the index offers (overlap guards
    * count this, not band rows). */
  def sigsOf(spark: SparkSession, genPath: String,
             numPerms: Int = 16, bands: Int = 4): DataFrame =
    GenLog.readChain(spark, new Path(genPath), fmtFor(numPerms, bands), "sigs")

  /** WIDE band rows `(__id, sig, band_id, band_hash)` of the chain —
    * the format-1 shape, reconstructed as narrow-bands ⋈ sigs for
    * callers that want the signature aboard every band row (spec
    * identity checks, ad-hoc audits). Probes should NOT use this: pass
    * [[narrowBandsOf]] + [[sigsOf]] to the split
    * [[MinHashLSH.incrementalPairs]] instead, which defers the sig
    * fetch to candidates only. */
  def bandsOf(spark: SparkSession, genPath: String,
              numPerms: Int = 16, bands: Int = 4): DataFrame =
    narrowBandsOf(spark, genPath, numPerms, bands)
      .join(sigsOf(spark, genPath, numPerms, bands), Seq("__id"))
      .select(col("__id"), col("sig"), col("band_id"), col("band_hash"))

  /** RTBF companion — called by DELETING store writers (e.g.
    * `IncrementalCurate.forget`) in the same operation as the row
    * deletes, for both hash families: see
    * [[graft.store.IndexLifecycle.purgeForStore]]. Without it, a probe
    * against a stale chain could still match a forgotten document. */
  def purgeForStore(spark: SparkSession, storeRoot: String,
                    idCol: String = "doc_id", textCol: String = "text",
                    numPerms: Int = 16, bands: Int = 4): Unit =
    Seq(false, true).foreach(portable =>
      life.purgeForStore(spark, storeRoot, storeRootOf(storeRoot, portable),
        idCol, textCol, kind(numPerms, bands, portable)))
}
