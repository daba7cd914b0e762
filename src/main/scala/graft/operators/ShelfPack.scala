package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** WHOLE-DOCUMENT sequence packing by SIZE CLASS ("shelf" packing) —
  * the SFT-style counterpart of [[ContextPack]]: where cp7 concatenates
  * the corpus into one stream and CUTS at every `window` tokens
  * (documents straddle boundaries), instruction-tuning and
  * eval-formatting pipelines must keep each document WHOLE inside one
  * fixed-capacity training example and want the padding waste bounded
  * and auditable.
  *
  * True bin packing (first-fit decreasing) is inherently sequential —
  * each placement depends on every bin's current fill — so it neither
  * distributes nor replays deterministically. Shelf packing is the
  * classic distributable approximation: a document of `t` tokens joins
  * size class `k = capacity div t` (the most docs of its size a bin can
  * hold), and class k's documents fill bins k at a time in id order.
  * Every bin's fill is provably ≤ capacity (k docs each ≤
  * capacity div k), placement is a pure function of (class, rank) —
  * exact integer arithmetic, engine-portable, DuckDB-replayable — and
  * waste is bounded: a class-k bin holding k docs is at least
  * k·(capacity div (k+1) + 1) full, i.e. always > capacity·k/(k+1) ≥
  * 50% for full bins (the shelf bound); only the LAST bin of each class
  * may run emptier.
  *
  * Distribution: the per-class rank is the BudgetSelect/ContextPack
  * two-phase prefix pattern lifted to (class, bucket) — coarse monotone
  * id buckets rank locally in parallel, a ≤ classes×buckets-row totals
  * aggregate folds into literal offsets — so a dominant size class
  * (real corpora: one doc-length band holds most documents) never
  * funnels through a single window task.
  *
  * Oversize documents (t > capacity) cannot pack: they emit with
  * `overflow = true`, one per bin (class 0), for the caller to truncate
  * or reroute — silently dropping them would misreport coverage.
  */
object ShelfPack {

  /** Per-document placement: input plus `size_class` (docs per bin),
    * `bin_id` (globally unique BIGINT), `slot` (0-based within bin),
    * `overflow`.
    *
    * Null/non-positive token counts are REFUSED by default — a silent
    * drop would misreport packing coverage against the corpus (the
    * overflow rationale above). Callers feeding raw corpora where empty
    * docs are expected opt in with `dropInvalid = true`, which filters
    * them here, visibly at the call site, instead of throwing. */
  def placements(docs: DataFrame, idCol: String, tokenCol: String,
                 capacity: Long, buckets: Int = 64,
                 dropInvalid: Boolean = false): DataFrame = {
    require(capacity > 0, s"capacity=$capacity must be positive")
    // bin_id encodes size_class * 2^40 + rank-within-class; the largest
    // possible class is `capacity` itself (1-token docs), so a capacity
    // at or past 2^23 would overflow the Long encoding and silently
    // collide bin ids across classes — refuse loudly instead (r13
    // ADVICE). 8.4M-token bins are far past any real context budget.
    require(capacity < (1L << 23),
      s"ShelfPack.placements: capacity=$capacity would overflow the " +
        s"bin_id encoding (size_class * 2^40 + rank needs size_class < " +
        s"2^23); largest supported capacity is ${(1L << 23) - 1}")
    docs.schema.find(_.name == tokenCol).map(_.dataType).foreach {
      case org.apache.spark.sql.types.ByteType
           | org.apache.spark.sql.types.ShortType
           | org.apache.spark.sql.types.IntegerType
           | org.apache.spark.sql.types.LongType => ()
      case t => throw new IllegalArgumentException(
        s"ShelfPack.placements: token column '$tokenCol' must be an " +
          s"integral type (exact placement arithmetic), got ${t.sql}")
    }
    docs.schema.find(_.name == idCol).map(_.dataType).foreach {
      case _: org.apache.spark.sql.types.NumericType => ()
      case t => throw new IllegalArgumentException(
        s"ShelfPack.placements: id column '$idCol' must be numeric " +
          s"(bucket bounds are computed on the double cast), got ${t.sql}")
    }
    // null/non-positive token counts are REFUSED unless the caller
    // opted into dropInvalid: this file's own overflow rationale
    // ("silently dropping them would misreport coverage") applies
    // equally here — a coverage audit comparing binReport doc counts
    // against the corpus must reconcile exactly. Zero-token docs
    // (empty/whitespace text) are the caller's decision, made visibly.
    val invalid = col(tokenCol).isNull || col(tokenCol) <= 0
    if (!dropInvalid)
      require(docs.filter(invalid).limit(1).isEmpty,
        s"ShelfPack.placements: '$tokenCol' contains null or non-positive " +
          "token counts — filter or repair them upstream, or pass " +
          "dropInvalid = true to drop them here (a silent drop would " +
          "misreport packing coverage)")
    val valid = if (dropInvalid) docs.filter(!invalid) else docs
    // size class: docs-per-bin; tokens > capacity → class 0 (overflow)
    val classed = valid
      .withColumn("size_class",
        expr(s"case when $tokenCol > ${capacity}L then 0L " +
          s"else ${capacity}L div $tokenCol end"))
    // two-phase per-class rank over ascending id: coarse monotone id
    // buckets (global 2-row agg), local row_number within
    // (class, bucket), per-(class, bucket) totals folded into offsets
    val Array(lo, hi) = classed
      .agg(min(col(idCol)).cast("double"), max(col(idCol)).cast("double"))
      .head().toSeq
      .map(v => Option(v).map(_.asInstanceOf[Double]).getOrElse(0.0))
      .toArray
    val span = math.max(hi - lo, 1e-12)
    val bucket = greatest(lit(0), least(lit(buckets - 1),
      floor((col(idCol).cast("double") - lit(lo)) / lit(span) * buckets)))
      .cast("int")
    val b = classed.withColumn("__bucket", bucket)
    val w = Window.partitionBy("size_class", "__bucket")
      .orderBy(col(idCol))
    val local = b.withColumn("__rn", row_number().over(w))
    // per-(class, bucket) start offsets: unlike ContextPack's ≤64-term
    // literal fold, classes×buckets here can reach thousands (one class
    // per distinct docs-per-bin value) — a when-chain that wide chokes
    // Catalyst analysis, so the offsets come back as a tiny BROADCAST
    // frame instead (≤ classes×buckets rows, exact driver arithmetic)
    val totals = b.groupBy("size_class", "__bucket")
      .agg(count(lit(1)).as("t"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2))
      .sortBy(_._1)
    val offsetRows = totals
      .groupBy(_._1._1)
      .flatMap { case (_, rows) =>
        rows.sortBy(_._1._2)
          .scanLeft(((0L, Int.MinValue), 0L)) {
            case ((_, acc), (k, t)) => (k, acc + t)
          }
          .sliding(2).collect { case Array(((_, _), acc), ((cls, bk), _)) =>
            (cls, bk, acc)
          }
      }.toSeq
    val spark = docs.sparkSession
    import spark.implicits._
    val offsetDf = offsetRows.toDF("size_class", "__bucket", "__off")
    // single packed-long join key (the BandPack discipline): size_class
    // < 2^23 (the capacity require above) and __bucket < buckets, so
    // `class · buckets + bucket` is bijective — the corpus-sized probe
    // runs through LongHashedRelation instead of a composite-key
    // UnsafeHashedRelation (measured 20× probe tax: BASELINE.md,
    // "LSH band-key packing", round 15)
    def packed(cls: Column, bk: Column): Column =
      cls * lit(buckets.toLong) + bk
    // bin id unique across classes: class × 2^40 + bin-in-class (a
    // corpus would need >10^12 bins per class to collide)
    local
      .withColumn("__pk", packed(col("size_class"), col("__bucket")))
      .join(broadcast(offsetDf
        .withColumn("__pk", packed(col("size_class"), col("__bucket")))
        .select("__pk", "__off")), Seq("__pk"))
      .withColumn("__rank", col("__off") + col("__rn") - 1)
      .withColumn("bin_id",
        when(col("size_class") === 0L,
          lit(0L) + col("__rank")) // overflow: one doc per bin
          .otherwise(col("size_class") * lit(1L << 40) +
            expr("__rank div size_class")))
      .withColumn("slot",
        when(col("size_class") === 0L, lit(0L))
          .otherwise(expr("__rank % size_class")))
      .withColumn("overflow", col("size_class") === 0L)
      // the USING join resurfaced the key columns first — restore the
      // input's column order, then the placement columns
      .select(docs.columns.map(col) ++ Seq(col("size_class"),
        col("bin_id"), col("slot"), col("overflow")): _*)
  }

  /** Per-bin audit: fill, docs, waste — the padding report a data-mix
    * owner reads before freezing a packing config. */
  def binReport(placements: DataFrame, tokenCol: String,
                capacity: Long): DataFrame =
    placements.groupBy("bin_id", "size_class", "overflow")
      .agg(count(lit(1)).as("n_docs"),
        sum(col(tokenCol).cast("long")).as("fill_tokens"))
      .withColumn("waste_tokens",
        when(col("overflow"), lit(0L))
          .otherwise(lit(capacity) - col("fill_tokens")))
}
