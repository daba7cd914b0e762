package graft.operators

import java.util.Base64

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.BloomContains

/** Incremental dedup against history — "which rows of today's crawl have
  * we never seen before?" — with a bloom prefilter so the exact check
  * touches only the candidate sliver.
  *
  * The naive spelling anti-joins the WHOLE new batch against the WHOLE
  * history: at 100 TB of accumulated corpus that shuffles both sides
  * every day, and the history side dwarfs the batch. Here:
  *
  *   1. build a [[org.apache.spark.util.sketch.BloomFilter]] over the
  *      history's xxhash64 fingerprints (`stat.bloomFilter` — a
  *      mergeable treeAggregate, one pass, no shuffle);
  *   2. probe each batch row in-place via the codegen'd
  *      [[graft.functions.BloomContains]]: `false` is DEFINITELY new
  *      (bloom filters have no false negatives) — emitted with no join
  *      at all;
  *   3. only the `true` rows (real dups + the fpp sliver of false
  *      positives) anti-join against history ON THE RAW KEY — so the
  *      final answer is exact even under fingerprint collision, and the
  *      join input shrinks from |batch| to |dups| + fpp·|batch|.
  *
  * The result is therefore row-identical to the plain anti-join (the
  * bloom can only re-route rows between the no-join and join paths,
  * never change membership) — which is what lets the driver gate it
  * against a DuckDB NOT EXISTS oracle (dd8).
  *
  * Filter size note: the serialized filter travels to executors inside
  * the plan (via the SQL literal surface — fine at gate scale, ~7 bits
  * per history key). For billion-key histories, build per-partition
  * filters or raise fpp: at fpp=0.03 a 1e9-key filter is ~0.9 GB —
  * broadcast-able, but construct it with `BloomContains` directly
  * rather than through SQL text.
  */
object BloomDedup {

  /** Rows of `batch` whose `keyCol` value never appears in `history`.
    * Exact (see class doc); `expectedItems` sizes the bloom for the
    * history's distinct-key count. */
  def newRows(batch: DataFrame, history: DataFrame, keyCol: String,
              expectedItems: Long, fpp: Double = 0.03): DataFrame = {
    // xxhash64 hashes BY TYPE: a batch key column of a different type
    // than history's hashes differently for equal values, so every
    // duplicate would probe "definitely new" and bypass the exact
    // anti-join — breaking the row-identical contract silently. Refuse
    // loudly (the FileStats.antiJoinFresh discipline).
    val bType = batch.schema.find(_.name == keyCol).map(_.dataType)
      .getOrElse(throw new IllegalArgumentException(
        s"BloomDedup.newRows: '$keyCol' not present in the batch"))
    val hType = history.schema.find(_.name == keyCol).map(_.dataType)
      .getOrElse(throw new IllegalArgumentException(
        s"BloomDedup.newRows: '$keyCol' not present in the history"))
    require(bType == hType,
      s"BloomDedup.newRows: batch '$keyCol' is $bType but history's is " +
        s"$hType — xxhash64 hashes by type, duplicates would probe as new")
    val bloom = history.select(xxhash64(col(keyCol)).as("_fp"))
      .stat.bloomFilter("_fp", expectedItems, fpp)
    val b64 = Base64.getEncoder.encodeToString(BloomContains.serialize(bloom))
    val probed = batch.withColumn("_maybe_seen",
      expr(s"graft_bloom_contains(xxhash64($keyCol), '$b64')"))
    val definiteNew = probed.filter(!col("_maybe_seen"))
    val confirmedNew = probed.filter(col("_maybe_seen"))
      .join(history.select(col(keyCol)).distinct(), Seq(keyCol), "left_anti")
    definiteNew.unionByName(confirmedNew).drop("_maybe_seen")
  }
}
