package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** SemDeDup-style semantic deduplication: cluster-bucketed
  * embedding-cosine near-dup pruning (Abbas et al., "SemDeDup: Data-
  * efficient learning at web-scale through semantic deduplication",
  * arXiv:2303.09540).
  *
  * Where `CosineLsh` (dd6/dd7) buckets by *random* sign-projections,
  * SemDeDup buckets by *semantic* k-means cells: every vector is
  * assigned to its highest-cosine centroid, and near-duplicate pruning
  * runs only WITHIN a cell. The paper's scale contract is that K grows
  * with the corpus (they use K = 50,000 for LAION-440M) so the expected
  * cell size N/K — and therefore the per-cell pairwise work — stays
  * constant as the corpus grows; the pair stage is then a plain shuffle
  * equi-join on the cell id, never an all-pairs scan.
  *
  * Plan shape, by stage:
  *
  *   1. `assign` is a PURE PROJECTION — zero joins, zero shuffles, no
  *      row blowup. The centroid set ships as an array LITERAL inside
  *      the expression, and the per-row argmax is
  *      `transform(centroids, v -> graft_cosine(emb, v))` + `array_max`
  *      + `array_position`. The first-occurrence semantics of
  *      `array_position` make ties deterministic (lowest centroid id
  *      wins — centroids are sorted by id before embedding). The
  *      literal is the right shape while K × dim stays plan-sized
  *      (hundreds of centroids); past that, [[assignBroadcast]] keeps
  *      the same pure-projection plan but moves the codebook into a
  *      broadcast of flat primitive arrays scored by the fused
  *      [[graft.functions.NearestCentroid]] expression — same argmax,
  *      same tie-break, bit-identical output (SemDedupSpec pins the
  *      parity), no codebook bytes in the plan tree, no interpreted
  *      HOF, and no crossJoin row blowup at any K.
  *   2. `prune` joins the cell's members to themselves on the cell id
  *      (one shuffle each side, co-partitioned by Catalyst) and keeps,
  *      per the paper, the member with the LOWEST cosine to its
  *      centroid out of every near-duplicate group — the point furthest
  *      from the cell center preserves the most diversity. Concretely:
  *      order members by (cent_cos ASC, id ASC); a member is a
  *      duplicate iff some EARLIER member of the same cell has cosine
  *      ≥ τ with it. Deterministic on any partitioning, and exactly
  *      expressible in ANSI SQL — dd11's DuckDB oracle replicates it
  *      verbatim.
  *
  * Known recall edge (shared with the paper): a near-dup pair whose
  * members straddle a cell boundary is never compared, so it survives.
  * The dd11 oracle replicates the same cell assignment, so the gate is
  * exact; SemDedupSpec bounds the planted-pair miss rate instead of
  * assuming zero.
  */
object SemDedup {

  /** Assign each `(idCol, embCol)` row to its highest-cosine centroid.
    *
    * Output: (idCol, `cluster` = winning centroid id, `cent_cos` =
    * winning cosine, embCol passed through). `centroids` is the bounded
    * in-memory centroid set (id -> vector), typically the result of a
    * k-means fit or — for a deterministic pipeline — a fixed sample of
    * the corpus itself; it is embedded as a literal, so the stage adds
    * NO shuffle and NO join to the plan (SemDedupSpec pins 0 exchanges).
    */
  def assign(corpus: DataFrame, idCol: String, embCol: String,
             centroids: Seq[(Long, Seq[Double])]): DataFrame = {
    require(centroids.nonEmpty, "semdedup: empty centroid set")
    val sorted = centroids.sortBy(_._1)
    val cvecs = typedLit(sorted.map(_._2))
    val cids = typedLit(sorted.map(_._1))
    corpus
      .withColumn("graft_cents", cvecs)
      .withColumn("graft_cos_arr",
        expr(s"transform(graft_cents, v -> graft_cosine($embCol, v))"))
      .withColumn("cent_cos", array_max(col("graft_cos_arr")))
      .withColumn("cluster",
        element_at(cids, array_position(col("graft_cos_arr"), col("cent_cos"))
          .cast("int")))
      .select(col(idCol), col("cluster"), col("cent_cos"), col(embCol))
  }

  /** [[assign]] for centroid sets too large to inline as a plan-tree
    * literal (K in the thousands and up): the centroid frame is
    * collected (bounded by K — the same driver-memory contract the
    * literal path already assumes) into a flat primitive codebook,
    * broadcast ONCE, and scored by the fused
    * [[graft.functions.NearestCentroid]] argmax expression. Still a
    * pure projection — zero joins, zero shuffles, zero row expansion —
    * but nothing codebook-sized in the plan tree and no interpreted
    * HOF: the K × dim dot-product loop runs in-register per row.
    *
    * The crossJoin(broadcast) + `min_by` spelling was tried and
    * rejected: expanding N × K physical rows costs more in join/
    * aggregate machinery than the scoring kernel itself (~50× slower
    * at N=200k, K=2000, wall-measured), and no narrow-row projection
    * fixes that — the blowup is the bug, not the row width.
    *
    * Same argmax, same lowest-cid tie-break, bit-identical cosines —
    * SemDedupSpec pins parity with [[assign]]. `centroids` must be
    * `(cid: bigint, cvec: array<double>)`.
    *
    * `nprobe > 0` engages the expression's two-level probe (score ~√K
    * group representatives, scan only the top-`nprobe` groups) — the
    * scale path when K itself grows with the corpus: assignment flops
    * drop from N×K to ~N·(1+nprobe)·√K. Near-dup pairs co-assign under
    * the probe as reliably as under the exact scan (near-identical
    * embeddings produce near-identical probe lists); SemDedupSpec
    * gates probe-vs-exact cell agreement, and the 100× scale run
    * recorded in COVERAGE.md (fused nearest-centroid row: 24.4 s
    * probed vs 281 s exact) re-proved the one-survivor contract in
    * probe mode. */
  def assignBroadcast(corpus: DataFrame, idCol: String, embCol: String,
                      centroids: DataFrame, nprobe: Int = 0): DataFrame = {
    val cents = centroids
      .select(col("cid").cast("long"), col("cvec").cast("array<double>"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toSeq).toSeq
    val best = graft.functions.NearestCentroid.assignColumn(
      corpus.sparkSession, col(embCol), cents, nprobe)
    corpus
      .withColumn("graft_best", best)
      .select(col(idCol), col("graft_best.cid").as("cluster"),
        col("graft_best.cos").as("cent_cos"), col(embCol))
  }

  /** Within-cell greedy prune at cosine threshold `tau` over `assign`
    * output. Keeps the lowest-`cent_cos` member of each near-dup group
    * (the paper's diversity-preserving rule); emits every input row with
    * an `is_kept` flag rather than dropping, so callers can audit the
    * prune as data. */
  def prune(assigned: DataFrame, idCol: String, embCol: String,
            tau: Double): DataFrame = {
    val a = assigned.select(col("cluster"), col(idCol).as("graft_id_a"),
      col("cent_cos").as("graft_ca"), col(embCol).as("graft_ea"))
    val b = assigned.select(col("cluster"), col(idCol).as("graft_id_b"),
      col("cent_cos").as("graft_cb"), col(embCol).as("graft_eb"))
    // "a earlier than b" in (cent_cos ASC, id ASC) order; cent_cos
    // equality across distinct rows is a genuine double-equality
    // tie-break, identical in the oracle's SQL
    val earlier = (col("graft_ca") < col("graft_cb")) ||
      (col("graft_ca") === col("graft_cb") &&
        col("graft_id_a") < col("graft_id_b"))
    val dups = a.join(b, "cluster").filter(earlier)
      .filter(expr("graft_cosine(graft_ea, graft_eb)") >= tau)
      .select(col("graft_id_b").as(idCol)).distinct()
    assigned.join(dups.withColumn("graft_is_dup", lit(true)), Seq(idCol), "left")
      .select(col(idCol), col("cluster"), col("cent_cos"),
        coalesce(!col("graft_is_dup"), lit(true)).as("is_kept"), col(embCol))
  }

  /** assign + prune in one call. */
  def semdedup(corpus: DataFrame, idCol: String, embCol: String,
               centroids: Seq[(Long, Seq[Double])], tau: Double): DataFrame =
    prune(assign(corpus, idCol, embCol, centroids), idCol, embCol, tau)

  /** SemDeDup over the IvfIndex coarse codebook — the production
    * wiring: the k-means cells a corpus already maintains for ANN
    * probing ([[IvfIndex.ensure]] trains once, persists, revalidates by
    * snapshot/fingerprint) double as the semantic cells for dedup, so
    * no second clustering fit ever runs. `sfDir` names the corpus whose
    * index to use; `corpus` is the frame to dedup (typically the same
    * embeddings plus whatever new batch is being screened). The
    * codebook collect is bounded by K — the same bound `assign`'s
    * literal centroid design already assumes. */
  def withIvfCentroids(spark: org.apache.spark.sql.SparkSession,
                       sfDir: String, corpus: DataFrame, idCol: String,
                       embCol: String, tau: Double): DataFrame = {
    val gen = IvfIndex.ensure(spark, sfDir)
    val cents = IvfIndex.codebook(spark, gen).collect()
      .map(r => r.getInt(0).toLong -> r.getSeq[Double](1).toSeq).toSeq
    semdedup(corpus, idCol, embCol, cents, tau)
  }
}
