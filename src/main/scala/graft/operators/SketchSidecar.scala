package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.store.GenLog

/** Persisted COUNT-MIN sketch beside a [[graft.store.SnapshotStore]]
  * corpus — the 4th managed artifact on the [[graft.store.GenLog]]
  * generation log, next to [[IvfIndex]] (vectors), [[LshBandIndex]]
  * (near-dup bands) and [[TextIndex]] (postings). Answers "how often
  * does this token occur in the corpus" from d×w counters, maintained
  * incrementally as the corpus grows.
  *
  * What makes the sketch the CHEAPEST member of the family to maintain:
  * count-min cells are LINEAR in the input multiset, so an append-only
  * ingest advances the artifact with nothing but the batch's own cell
  * grid chained as a delta generation — `cells(corpus ⊎ batch) =
  * cells(corpus) + cells(batch)` EXACTLY, no retraining (IvfIndex), no
  * id bookkeeping (LshBandIndex replacement), no posting merge
  * (TextIndex). Probes sum the ≤ `MaxChain`·d·w chained cell rows — a
  * few thousand — and never touch corpus text.
  *
  * Trust-but-verify: cells carry no document ids, so the sidecar
  * cannot detect a replayed or churned batch by content — it leans on
  * the STORE instead. An advance verifies, via the snapshot change feed
  * ([[graft.store.SnapshotStore.changesBetween]] keyed on the id
  * column; it content-diffs the partition entries the two snapshots do
  * not share), that the diff between the sketched and current snapshots
  * is pure inserts whose count matches the caller's batch; a replayed
  * batch (zero feed inserts), a partial batch, or any update/delete
  * (subtraction would need the removed text) fails the net and the
  * artifact REBUILDS from the snapshot — one linear tokenize pass, the
  * fallback the other artifacts treat as expensive is this one's cheap
  * path. A bare `count(current) == n + count(batch)` identity is NOT
  * enough here: a same-id re-crawl keeps the count fixed while every
  * cell is stale (SketchSidecarSpec's churn case).
  *
  * Tokenization is fixed to the a22 gate's: whitespace split of `text`,
  * empty tokens dropped. Geometry is fixed per artifact (meta `fp`
  * encodes depth·2^32+width so a geometry change reads as stale).
  */
object SketchSidecar {
  val FormatVersion = 1
  val Depth = 4
  val Width = 512
  /** Compaction valve: at this chain depth the next advance sums the
    * chain into one base generation (a ≤ chain·d·w-row aggregate). */
  val MaxChain = 16
  private[graft] var maxChain: Int = MaxChain

  def indexRoot: String = sys.env.getOrElse(
    "GRAFT_CM_SKETCH_DIR",
    new java.io.File(sys.props("java.io.tmpdir"), "graft_cm_sketch").toString)

  def indexPath(key: String): String = {
    val base = key.replaceAll("[^A-Za-z0-9._-]", "_").takeRight(40)
    s"$indexRoot/${base}_${Integer.toHexString(key.hashCode)}"
  }

  private val buildLock = new Object
  private val validated =
    scala.collection.mutable.Map.empty[String, (String, String)]
  private[graft] def resetValidationMemo(): Unit =
    buildLock.synchronized(validated.clear())

  private def geometryFp: Long = Depth.toLong * 4294967296L + Width

  private def tokens(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(split(trim(col(textCol)), "\\s+")).as("token"))
      .filter(length(col("token")) > 0)

  /** Write one generation holding `cells` and publish it. */
  private def writeGen(spark: SparkSession, root: String, cells: DataFrame,
                       n: Long, snap: Option[String],
                       parent: Option[String]): String =
    GenLog.publish(spark, root,
      GenLog.Meta(n, FormatVersion, geometryFp, snap, parent))(gen =>
      cells.repartition(1).write.parquet(new Path(gen, "cells").toString))

  private def buildFromStore(spark: SparkSession, storeRoot: String,
                             root: String, snap: String,
                             textCol: String): String = {
    val docs = graft.store.SnapshotStore.read(spark, storeRoot)
    val n = docs.count()
    val cells = CountMin.sketch(tokens(docs, textCol), "token", Depth, Width)
    writeGen(spark, root, cells, n, Some(snap), parent = None)
  }

  /** Ensure a sketch for the store's CURRENT snapshot; revalidation is
    * metadata-only (pointer read + meta row — the 100 TB rule shared by
    * the whole artifact family). */
  def ensureForSnapshot(spark: SparkSession, storeRoot: String,
                        textCol: String = "text"): String =
    buildLock.synchronized {
      val snap = graft.store.SnapshotStore.currentName(spark, storeRoot)
        .getOrElse(throw new java.io.FileNotFoundException(
          s"no snapshot published under $storeRoot — commit the corpus first"))
      val root = indexPath(s"store:$storeRoot")
      validated.get(root) match {
        case Some((t, gen)) if t == s"snap:$snap" => return gen
        case _ => ()
      }
      val gen = GenLog.head(spark, root, FormatVersion) match {
        case Some((g, m)) if m.snap.contains(snap) && m.fp == geometryFp =>
          g.toString
        case _ => buildFromStore(spark, storeRoot, root, snap, textCol)
      }
      validated(root) = (s"snap:$snap", gen)
      gen
    }

  /** Advance with the caller's just-appended batch: on the count
    * identity passing, chain `cells(batch)` as a delta generation —
    * O(batch) work by linearity; on mismatch (partial, replayed, or
    * churned batch) rebuild from the snapshot (one linear pass). At
    * [[maxChain]] the chain is summed into a fresh base first. */
  def advanceForSnapshotWithBatch(spark: SparkSession, storeRoot: String,
                                  batch: DataFrame,
                                  textCol: String = "text"): String =
    buildLock.synchronized {
      val snap = graft.store.SnapshotStore.currentName(spark, storeRoot)
        .getOrElse(throw new java.io.FileNotFoundException(
          s"no snapshot published under $storeRoot — commit the corpus first"))
      val root = indexPath(s"store:$storeRoot")
      validated.get(root) match {
        case Some((t, gen)) if t == s"snap:$snap" => return gen
        case _ => ()
      }
      val gen = GenLog.head(spark, root, FormatVersion) match {
        case Some((g, m)) if m.snap.contains(snap) && m.fp == geometryFp =>
          g.toString
        case Some((g, m)) if m.snap.isDefined && m.fp == geometryFp =>
          val b = batch.localCheckpoint(true)
          val bn = b.count()
          // the net: the store feed between sketched and current
          // snapshots must be PURE INSERTS matching the batch's count —
          // a content diff of the entries the snapshots do not share;
          // any churn/replay/partial-batch shape falls back to the
          // linear rebuild
          val feedOk = scala.util.Try {
            val feed = graft.store.SnapshotStore.changesBetween(
                spark, storeRoot, m.snap.get, snap, Seq("doc_id"))
              .groupBy("change_type").agg(count(lit(1)).as("c"))
              .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
            feed.keySet.subsetOf(Set("insert")) &&
              feed.getOrElse("insert", 0L) == bn
          }.getOrElse(false)
          if (!feedOk) buildFromStore(spark, storeRoot, root, snap, textCol)
          else {
            val chainLen = GenLog.chain(spark, g, FormatVersion).length
            val batchCells =
              CountMin.sketch(tokens(b, textCol), "token", Depth, Width)
            if (chainLen >= maxChain) {
              // compaction: sum the whole chain + batch into one base
              val merged = CountMin.merge(cells(spark, g.toString), batchCells)
              writeGen(spark, root, merged, m.n + bn, Some(snap), parent = None)
            } else
              writeGen(spark, root, batchCells, m.n + bn, Some(snap),
                parent = Some(g.getName))
          }
        case _ => buildFromStore(spark, storeRoot, root, snap, textCol)
      }
      validated(root) = (s"snap:$snap", gen)
      gen
    }

  /** The merged cell grid of a generation chain: union of ≤ chain·d·w
    * rows summed per cell — the linearity that makes probes chain-blind. */
  def cells(spark: SparkSession, gen: String): DataFrame =
    GenLog.readChain(spark, new Path(gen), FormatVersion, "cells")
      .groupBy("row", "bucket").agg(sum("cnt").as("cnt"))

  /** Point-frequency estimates for `probes(column)` against the chain. */
  def estimates(spark: SparkSession, gen: String, probes: DataFrame,
                column: String): DataFrame =
    CountMin.estimate(probes, column, cells(spark, gen), Depth, Width)
}
