package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Sign-random-projection LSH for embedding-cosine near-duplicate
  * candidate generation — the bucketed (equi-join) candidate path behind
  * `dd6`/`dd7`, replacing the all-pairs theta join that cannot survive a
  * 100× scale-up.
  *
  * Charikar's SimHash for vectors: a pair with cosine angle θ agrees on
  * one random hyperplane's sign with probability 1 − θ/π. Group
  * `rowsPerBand` plane-sign bits into a band key; near-identical vectors
  * (θ → 0) collide on every band with probability → 1, while
  * near-orthogonal vectors (p ≈ 0.5/plane) collide on a 16-bit band with
  * p ≈ 1.5e-5 — so the candidate set is linear-ish, not quadratic, and
  * candidate generation is a shuffle equi-join on (band, key).
  *
  * The projection is a single codegen'd expression per row
  * (functions.SignRpKeys: a fused loop over planes × dims emitting all
  * band keys as one array) — zero joins and zero shuffles in bucketize.
  * The first cut posexploded dims and broadcast-joined a plane-weight
  * table: correct, but it pushed N × dim × nPlanes intermediate rows
  * (8192× at dim=64, 128 planes) through two hash aggregates before any
  * candidate existed — a multi-TB projection shuffle at corpus scale,
  * replaced here by pure map-side compute. Plane weights are a
  * deterministic pure function of (plane, dim-index), so bucket
  * assignment is reproducible across runs.
  *
  * Thresholds: sign-LSH separates ONLY high-cosine pairs from the random
  * cloud (p/plane is 0.999 at cos 0.9999 vs 0.54 at cos 0.125). It cannot
  * achieve recall 1 for thresholds like 0.4 that sit inside the random
  * tail — that regime is inherently all-pairs. Realistic near-dup dedup
  * thresholds (≥ 0.9) are exactly where this design works.
  */
object CosineLsh {

  /** The packed (band, key) join key for sign-RP band rows named
    * `band`/`key` — bijective while the key's sign bits fit beside the
    * band id, hash-packed for 54-64-bit bands ([[BandPack]]). */
  private[operators] def packedKey(rowsPerBand: Int): org.apache.spark.sql.Column =
    if (rowsPerBand <= 53) BandPack.exact(col("band"), col("key"), rowsPerBand)
    else BandPack.hashed(col("band"), col("key"))

  /** (id, band, key) — one row per band per vector.
    *
    * bands = 8 by default: at cos ≈ 0.99999 (the planted-dup regime) the
    * per-plane agreement probability is ≈ 1 − 0.00143 and a 16-bit band
    * misses with p ≈ 0.023, so 8 independent bands drive the per-pair
    * all-bands-miss probability to ~0.023^8 ≈ 8e-14 — a margin wide
    * enough that oracle equality holds deterministically at any sf.
    */
  def bucketize(e: DataFrame, idCol: String, embCol: String,
                dim: Int, bands: Int = 8, rowsPerBand: Int = 16): DataFrame = {
    e.select(col(idCol).as("id"),
      posexplode(expr(s"graft_sign_rp_keys($embCol, $bands, $rowsPerBand)"))
        .as(Seq("band", "key")))
  }

  /** Distinct candidate pairs (src, dst) with src < dst from same-bucket
    * collisions in any band. Output is tiny relative to the corpus, so it
    * is eagerly materialized (localCheckpoint) — the band table is
    * consumed once and released. */
  def candidatePairs(e: DataFrame, idCol: String, embCol: String,
                     dim: Int, bands: Int = 8, rowsPerBand: Int = 16): DataFrame = {
    // EAGER localCheckpoint (r18), not a lazy persist: the a/b self-join
    // sides' exchange jobs launch concurrently under AQE and raced to
    // populate the cold cache, running the sign-projection pass twice in
    // parallel (the dd14/gr1 cache-population race). One eager job
    // bucketizes once; both sides scan the RDD. Same bytes stored as the
    // old persist.
    val bucketed = bucketize(e, idCol, embCol, dim, bands, rowsPerBand)
      .localCheckpoint(true)
    // single packed long join key — see [[BandPack]] (20× probe win)
    val pk = packedKey(rowsPerBand)
    val a = bucketed.select(col("id").as("src"), pk.as("bk"))
    val b = bucketed.select(col("id").as("dst"), pk.as("bk"))
    a.join(b, Seq("bk"))
      .filter(col("src") < col("dst"))
      .select("src", "dst").distinct()
      .localCheckpoint(true)
  }
}
