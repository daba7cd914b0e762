package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fuzzy train/eval decontamination — flag eval documents that are
  * NEAR-duplicates of any train document (the GPT-3/PaLM-style benchmark
  * decontamination sweep; the exact-n-gram variant is cm1).
  *
  * Shape, and why it survives 100 TB: candidates come from an ASYMMETRIC
  * MinHash band join — eval band rows equi-join train band rows on
  * (band_id, band_hash). Train×train pairs, the quadratic bulk when train
  * is the corpus and eval is a benchmark, are NEVER formed: every joined
  * row carries an eval member, so the work is O(|train| + |eval| +
  * true-collisions), one shuffle on the band key. When the train side is
  * the persisted portable [[LshBandIndex]] this is exactly dd13's
  * probe-the-index shape — history text never re-read, and the
  * benchmark-sized eval band set is broadcastable under AQE.
  *
  * Keyed on the engine-portable md5-MinHash family
  * ([[MinHashLSH.portableBandRows]]) so a DuckDB oracle replays the whole
  * chain (cp1's CTE spelling); agreement ≥ `minAgreement` (default 0.8 =
  * the 13/16 cut) is the same near-dup threshold the curation composite
  * uses. ≥13/16 agreement forces ≥1 of 4 bands to agree as a RAW slice
  * (pigeonhole over 3 disagreeing positions), so the md5-keyed band join
  * and an oracle's raw-slice join surface identical post-threshold pairs.
  */
object Decontam {

  /** Per-eval-doc contamination flags against the train slice of `docs`.
    *
    * `docs` must carry (`idCol`, `textCol`, `splitCol`) with `splitCol`
    * ∈ {'train','eval'} (rows with other values are ignored). Returns
    * one row per eval doc: (idCol, n_matches, max_est, nearest_train,
    * contaminated), where n_matches counts distinct train near-dups at
    * est ≥ `minAgreement`, max_est is the strongest agreement (k/16 —
    * exact in binary, so engine-portable), and nearest_train is the
    * smallest matching train id (deterministic tie-break). */
  def fuzzyFlags(docs: DataFrame, idCol: String = "doc_id",
                 textCol: String = "text", splitCol: String = "split",
                 minAgreement: Double = 0.8): DataFrame = {
    // (a) only the two splits are ever consumed — signing out-of-scope
    // rows (an md5 per word-shingle each) is pure waste; (b) the banded
    // frame feeds BOTH sides of the self-join below — r18: materialized
    // with an EAGER localCheckpoint, not a lazy persist: the two join
    // sides' exchange jobs launch concurrently under AQE and raced to
    // populate the cold cache, running the corpus-scale signature pass
    // twice in parallel (the dd14/gr1 cache-population race). One eager
    // job signs the corpus once; both sides scan the RDD and the
    // downstream plan truncates there. Same bytes stored as the old
    // persist.
    val inScope = docs.filter(col(splitCol).isin("train", "eval"))
    val bands = MinHashLSH.portableBandRows(inScope, idCol, textCol)
      .join(inScope.select(col(idCol).as("__id"), col(splitCol).as("__split")),
        "__id")
      .localCheckpoint(true)
    // packed long join key (BandPack: composite-key hash relations
    // probe 20× slower — r15)
    val train = bands.filter(col("__split") === "train")
      .select(col("__id").as("train_id"), col("sig").as("sig_t"),
        BandPack.hashed(col("band_id"), col("band_hash")).as("bk"))
    val ev = bands.filter(col("__split") === "eval")
      .select(col("__id").as(idCol), col("sig").as("sig_e"),
        BandPack.hashed(col("band_id"), col("band_hash")).as("bk"))
    val hits = ev.join(train, Seq("bk"))
      .select(col(idCol), col("train_id"),
        expr("graft_sig_agreement(sig_e, sig_t)").as("est"))
      .distinct()
      .filter(col("est") >= lit(minAgreement))
      .groupBy(idCol).agg(
        count(lit(1)).as("n_matches"),
        max(col("est")).as("max_est"),
        min(col("train_id")).as("nearest_train"))
    val flags = docs.filter(col(splitCol) === "eval").select(idCol)
      .join(hits, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"),
        col("max_est"), col("nearest_train"),
        (coalesce(col("n_matches"), lit(0L)) > 0).as("contaminated"))
      // one row per eval doc — materialized eagerly so the returned
      // frame is a bounded scan, not a corpus-scale recompute
      .localCheckpoint(true)
    flags
  }
}
