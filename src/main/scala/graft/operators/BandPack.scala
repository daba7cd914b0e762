package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Join-time packing of an LSH (band, key) composite into ONE long
  * column. Why: Spark's hash joins specialize on a single long-typed
  * key (`LongHashedRelation` — a dense primitive-keyed map with a
  * zero-allocation probe); any multi-column key falls back to
  * `UnsafeHashedRelation`, whose per-row UnsafeRow projection + byte-wise
  * hash/compare measured **20× slower** on the probe side (BASELINE.md,
  * "LSH band-key packing", round 15: 58M-row broadcast probe 6-9 s
  * composite vs 0.3-1.1 s packed). Every banded candidate join in the
  * engine streams corpus-scale rows through exactly that probe, so the
  * packing is pure join-key plumbing with corpus-linear payoff.
  *
  * Packing happens at JOIN TIME on both sides — persisted index layouts
  * keep their (band, key) columns, so no format bump and no silently
  * stale generations.
  */
object BandPack {

  /** Bijective pack: `band << keyBits | key`, for keys confined to the
    * low `keyBits` bits (sign-RP band keys of width `keyBits`). Candidate
    * membership is EXACTLY preserved. Requires room for the band id in
    * the high bits — bands are ≤ 999 everywhere (CosineLshIndex.fmtFor's
    * encodable range), so 10 high bits suffice. */
  def exact(band: Column, key: Column, keyBits: Int): Column = {
    require(keyBits > 0 && keyBits <= 53,
      s"BandPack.exact: keyBits=$keyBits leaves no room for the band id " +
        "in a long — use hashed() for full-range keys")
    shiftleft(band.cast("long"), keyBits) + key
  }

  /** Hash pack for full-range 64-bit band hashes (the MinHash families):
    * `xxhash64(band, hash)`. Two distinct (band, hash) composites alias
    * with p = 2⁻⁶⁴ — an alias only ADDS a candidate pair, which the
    * exact measure downstream (signature agreement / exact cosine /
    * exact Jaccard) settles, so recall is preserved exactly and
    * precision is unaffected beyond the settle cost. */
  def hashed(band: Column, hash: Column): Column = xxhash64(band, hash)
}
