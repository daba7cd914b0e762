package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multi-probe sign-random-projection LSH ANN — the shared core behind
  * `v4_ann_lsh`, extracted so the recall contract can be gated at EVERY
  * point of the adaptive radius schedule, not just the small-sf radius-2
  * regime the oracle suite exercises (round-9 ADVICE: a dense corpus
  * stepping down to radius 1/0 had no recall evidence on non-replicated
  * data).
  *
  * Shape (unchanged from the inline v4 formulation): the corpus is
  * hashed once into one 8-bit bucket per band (8 bands × 8 planes, the
  * fused codegen `graft_sign_rp_keys`); the QUERY side additionally
  * probes every bucket within a Hamming radius of its own signature, so
  * candidates are an equi-join on (band, key) against the tiny exploded
  * probe set — corpus-side cost stays one scan + one fixed-width-key
  * join no matter how many probes a query makes.
  */
object AnnLsh {
  val Bands = 8
  val PlanesPerBand = 8

  /** The adaptive probe radius: expected candidates per (query, band,
    * probe key) is ~n/256, so a fixed radius-2 probe set (37 keys/band)
    * that is pure recall upside on a sparse corpus degenerates toward a
    * full scan on a dense one. Radius 2 below ~24k vectors, 1 below
    * ~120k, else 0 keeps the probed fraction of the corpus bounded as
    * density grows. */
  def radiusFor(n: Long): Int =
    if (n <= 24000L) 2 else if (n <= 120000L) 1 else 0

  /** XOR masks enumerating the Hamming ball of `radius` over an 8-bit
    * band signature. */
  def masksFor(radius: Int): Seq[Long] =
    Seq(0L) ++
      (if (radius >= 1) (0 until PlanesPerBand).map(1L << _) else Nil) ++
      (if (radius >= 2)
        for { i <- 0 until PlanesPerBand; j <- (i + 1) until PlanesPerBand }
          yield (1L << i) | (1L << j)
      else Nil)

  /** Top-`k` neighbors per query by exact cosine over the LSH candidate
    * set. `corpus` and `queries` both carry (vec_id, emb array<double>);
    * a query never matches itself (nid != qid). Output
    * (qid, rnk, nid, cos_sim) ordered by (qid, rnk) — the v4 contract. */
  def topK(spark: SparkSession, corpus: DataFrame, queries: DataFrame,
           radius: Int, k: Int = 5): DataFrame = {
    val sig = s"graft_sign_rp_keys(emb, $Bands, $PlanesPerBand)"
    // packed long join key (BandPack: the corpus side probes the
    // broadcast relation per row — composite keys measured 20× slower)
    val pk = BandPack.exact(col("band"), col("key"), PlanesPerBand)
    val keyedCorpus = corpus.withColumn("keys", expr(sig))
      .select(col("vec_id").as("nid"), col("emb").as("eb"),
        posexplode(col("keys")).as(Seq("band", "key")))
      .select(col("nid"), col("eb"), pk.as("bk"))
    val masks = masksFor(radius)
    val probes = queries.withColumn("keys", expr(sig))
      .select(col("vec_id").as("qid"), col("emb").as("ea"),
        posexplode(col("keys")).as(Seq("band", "k0")))
      .select(col("qid"), col("ea"), col("band"),
        explode(array(masks.map(m => col("k0").bitwiseXOR(lit(m))): _*))
          .as("key"))
      .select(col("qid"), col("ea"), pk.as("bk"))
    keyedCorpus.join(broadcast(probes), Seq("bk"))
      .filter(col("nid") =!= col("qid"))
      // a pair can collide in several (band, probe) cells; keep one
      .dropDuplicates("qid", "nid")
      .withColumn("cs", expr("graft_cosine(ea, eb)"))
      // k-bounded TopKScored aggregate instead of a rank window: the
      // aggregate ships only k candidates per (qid × input partition)
      .groupBy("qid")
      .agg(graft.functions.BottomK.topKScored(col("cs"), col("nid"), k).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("pos0", "m")))
      .select(col("qid"), (col("pos0") + 1).cast("int").as("rnk"),
        col("m.id").as("nid"), round(col("m.score"), 6).as("cos_sim"))
      .orderBy("qid", "rnk")
  }
}
