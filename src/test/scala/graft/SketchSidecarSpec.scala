package graft

import org.apache.spark.sql.functions._
import graft.operators.{CountMin, SketchSidecar}
import graft.store.PointerCommit

/** Count-min sketch sidecar: advance-chained cells ≡ a from-scratch
  * build (exact linearity), replayed/churned batches fall back to
  * rebuild via the count net (never double-count), compaction collapses
  * the chain, and revalidation is snapshot-keyed. */
class SketchSidecarSpec extends SparkSuite {

  private def tmpRoot(): String = {
    val f = java.nio.file.Files
      .createTempDirectory("graft_cm_spec").toFile
    f.deleteOnExit()
    new java.io.File(f, "store").toString
  }

  private def docs(n: Int, tag: String = "") = {
    import spark.implicits._
    (0 until n).map(i =>
      (i.toLong, s"alpha bravo$tag tok_${i % 7} charlie tok_${i % 3}"))
      .toDF("doc_id", "text")
  }

  private def cellsOf(gen: String): Map[(Int, Long), Long] =
    SketchSidecar.cells(spark, gen).collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap

  private def batchCells(df: org.apache.spark.sql.DataFrame): Map[(Int, Long), Long] =
    CountMin.sketch(
      df.select(explode(split(trim(col("text")), "\\s+")).as("token"))
        .filter(length(col("token")) > 0),
      "token", SketchSidecar.Depth, SketchSidecar.Width)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap

  test("advance chains a delta whose summed cells equal a from-scratch build") {
    val root = tmpRoot()
    val all = docs(120)
    PointerCommit.publish(
      all.filter(col("doc_id") < 80), root, Nil)
    val g1 = SketchSidecar.ensureForSnapshot(spark, root)
    PointerCommit.publish(all, root, Nil)
    val g2 = SketchSidecar.advanceForSnapshotWithBatch(spark, root,
      all.filter(col("doc_id") >= 80))
    assert(g2 != g1)
    assert(cellsOf(g2) == batchCells(all))
    // the delta generation's own file holds only the batch's cells
    val deltaOnly = spark.read.parquet(
      new org.apache.hadoop.fs.Path(g2, "cells").toString)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(deltaOnly == batchCells(all.filter(col("doc_id") >= 80)))
  }

  test("a replayed (already-committed) batch fails the count net and rebuilds — no double count") {
    val root = tmpRoot()
    val all = docs(100)
    PointerCommit.publish(
      all.filter(col("doc_id") < 60), root, Nil)
    SketchSidecar.ensureForSnapshot(spark, root)
    PointerCommit.publish(all, root, Nil)
    SketchSidecar.advanceForSnapshotWithBatch(spark, root,
      all.filter(col("doc_id") >= 60))
    // replay: republish the SAME corpus, hand the same batch again
    PointerCommit.publish(all, root, Nil)
    val g3 = SketchSidecar.advanceForSnapshotWithBatch(spark, root,
      all.filter(col("doc_id") >= 60))
    assert(cellsOf(g3) == batchCells(all), "replay double-counted")
  }

  test("churn (an updated doc) fails the count net and rebuilds with fresh text") {
    val root = tmpRoot()
    val v1 = docs(50)
    PointerCommit.publish(v1, root, Nil)
    SketchSidecar.ensureForSnapshot(spark, root)
    val v2 = docs(50, tag = "X") // same ids, different text
    PointerCommit.publish(v2, root, Nil)
    val g2 = SketchSidecar.advanceForSnapshotWithBatch(spark, root, v2.limit(0))
    assert(cellsOf(g2) == batchCells(v2), "stale cells served after churn")
  }

  test("compaction valve: chain collapses to a single base, cells unchanged") {
    val root = tmpRoot()
    val all = docs(90)
    PointerCommit.publish(
      all.filter(col("doc_id") < 30), root, Nil)
    SketchSidecar.ensureForSnapshot(spark, root)
    val saved = SketchSidecar.maxChain
    try {
      SketchSidecar.maxChain = 1
      PointerCommit.publish(
        all.filter(col("doc_id") < 60), root, Nil)
      val g2 = SketchSidecar.advanceForSnapshotWithBatch(spark, root,
        all.filter(col("doc_id") >= 30 && col("doc_id") < 60))
      assert(graft.store.GenLog.chain(spark,
        new org.apache.hadoop.fs.Path(g2), SketchSidecar.FormatVersion)
        .length == 1, "chain must have compacted")
      assert(cellsOf(g2) == batchCells(all.filter(col("doc_id") < 60)))
    } finally SketchSidecar.maxChain = saved
  }

  test("estimates over the chain: never-under for every token") {
    val root = tmpRoot()
    val all = docs(80)
    PointerCommit.publish(
      all.filter(col("doc_id") < 40), root, Nil)
    SketchSidecar.ensureForSnapshot(spark, root)
    PointerCommit.publish(all, root, Nil)
    val g = SketchSidecar.advanceForSnapshotWithBatch(spark, root,
      all.filter(col("doc_id") >= 40))
    val toks = all
      .select(explode(split(trim(col("text")), "\\s+")).as("token"))
      .filter(length(col("token")) > 0)
    val exact = toks.groupBy("token").agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val est = SketchSidecar.estimates(spark, g, toks.distinct(), "token")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (t, n) => assert(est(t) >= n, s"under for $t") }
  }
}
