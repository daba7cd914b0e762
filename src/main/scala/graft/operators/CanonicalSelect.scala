package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Quality-aware canonical selection over near-dup clusters — the step
  * AFTER dedup finds pairs: transitive closure, then keep the
  * highest-quality representative per cluster (min-id canonicals throw
  * away a better-written copy whenever the crawl found it second). The
  * machinery behind `dd17_canonical_select`, factored so the SELECTION
  * stage is pair-source agnostic:
  *
  *  - gate scale / oracle-replicable: [[gramJaccardPairs]] (exact
  *    n-gram Jaccard through a gram equi-join — never an all-pairs
  *    skeleton, a ≥t pair shares grams by definition);
  *  - corpus scale: [[minhashPairs]] (banded MinHash candidates —
  *    pair volume tracks TRUE duplicates, not Σ df² over hot grams).
  *
  * Why the exact gram join does not survive 100 TB unguarded: its pair
  * stage materializes one row per (gram, docᵢ, docⱼ) — Σ_g df_g·(df_g−1)/2
  * rows. A boilerplate gram shared by 10% of a corpus (a crawl header, a
  * license line) makes that term df²-quadratic in corpus size
  * (measured: BASELINE.md, "Canonical-selection pair stage at corpus
  * scale", round 15). [[gramJaccardPairs]]
  * therefore takes `maxDfPerGram`: grams above the cap are dropped from
  * the JOIN only — per-doc gram sizes stay full, so `common` can only
  * shrink and the threshold filter stays CONSERVATIVE (a kept pair's
  * true Jaccard is ≥ the computed one; the cost is recall on pairs whose
  * overlap is carried mostly by stop-grams, which at near-dup
  * thresholds are boilerplate matches you usually WANT to drop).
  */
object CanonicalSelect {

  /** Exact `gramLen`-character-gram Jaccard ≥ `threshold` pairs
    * `(src, dst)` with src < dst. `maxDfPerGram` (None at gate scale)
    * drops grams with document frequency above the cap from the pair
    * join — see the object note for why that is the corpus-scale guard
    * and why it errs conservative. */
  def gramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                       threshold: Double, gramLen: Int = 3,
                       maxDfPerGram: Option[Long] = None): DataFrame = {
    // r18: EAGER localCheckpoint — the gram relation feeds the sizes
    // aggregate and both sides of the pair self-join (plus the df gate
    // when capped), which re-ran the tokenize per consumer and raced to
    // populate a cold cache under AQE's concurrent exchange jobs (the
    // dd14 pattern). One eager job materializes it; at 100 TB this IS
    // the tokenized relation a PPJoin-family pass persists anyway (and
    // the corpus-scale path is minhashPairs, per the object note).
    val sh = docs.select(col(idCol).as("__id"),
      explode(array_distinct(expr(
        s"transform(sequence(1, greatest(length($textCol) - ${gramLen - 1}, 1)), " +
          s"i -> substring($textCol, i, $gramLen))"))).as("g"))
      .localCheckpoint(true)
    val sizes = sh.groupBy("__id").agg(count(lit(1)).as("sz"))
    val joinSide = maxDfPerGram match {
      case Some(cap) =>
        val df = sh.groupBy("g").agg(count(lit(1)).as("__df"))
          .filter(col("__df") <= cap)
        sh.join(df.select("g"), Seq("g"), "left_semi")
      case None => sh
    }
    joinSide.select(col("__id").as("src"), col("g"))
      .join(joinSide.select(col("__id").as("dst"), col("g")), "g")
      .filter(col("src") < col("dst"))
      .groupBy("src", "dst").agg(count(lit(1)).as("common"))
      .join(sizes.select(col("__id").as("src"), col("sz").as("sa")), "src")
      .join(sizes.select(col("__id").as("dst"), col("sz").as("sb")), "dst")
      .filter(col("common") / (col("sa") + col("sb") - col("common")) >= threshold)
      .select("src", "dst")
  }

  /** The corpus-scale pair source: banded MinHash candidates with
    * estimated Jaccard ≥ `minAgreement` — candidate volume is bounded by
    * band geometry (per-PAIR collision probability), never by gram
    * document frequency, so a boilerplate line shared by millions of
    * docs costs nothing. Estimated-Jaccard selection is the standard
    * at-scale trade (recall governed by the band S-curve; see
    * MinHashLSH); a caller wanting exact thresholds re-scores the
    * (small) candidate set. */
  def minhashPairs(docs: DataFrame, idCol: String = "doc_id",
                   textCol: String = "text",
                   minAgreement: Double = 0.6,
                   numPerms: Int = 16, bands: Int = 4): DataFrame =
    MinHashLSH.candidatePairs(docs, idCol, textCol, numPerms, bands)
      .filter(col("est_jaccard") >= minAgreement)
      .select("src", "dst")

  /** Selection: `ids (id)` ∪ `pairs (src, dst)` → connected components →
    * per-cluster argmax of `quality (id, q_score)`, ties to the lowest
    * id. Returns `(id, cluster, q_score, kept)` — every input id exactly
    * once, `kept` true for the one canonical per cluster. The per-cluster
    * window shuffles one narrow row per doc on cluster — cluster
    * cardinality is bounded by dedup geometry, never corpus size. */
  def run(ids: DataFrame, pairs: DataFrame, quality: DataFrame): DataFrame = {
    val comp = ConnectedComponents.run(
        ids.select(col(ids.columns.head).as("id")),
        pairs.select("src", "dst"))
      .select(col("id"), col("component").as("cluster"))
    // LEFT join + explicit nulls-last: an id lacking a q_score row must
    // still appear exactly once (the contract above), ranked below every
    // scored member — an inner join here silently dropped unscored ids
    // and could lose a whole cluster's canonical.
    val w = Window.partitionBy("cluster")
      .orderBy(col("q_score").desc_nulls_last, col("id"))
    comp.join(quality.select(col(quality.columns.head).as("id"),
        col("q_score")), Seq("id"), "left")
      .withColumn("kept", row_number().over(w) === 1)
  }
}
