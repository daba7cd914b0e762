package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.scd.Scd2

/** Backfill-shaped SCD2 merge: the source batch is much larger than the
  * existing snapshot — the case a mandatory broadcast(source) hint would
  * OOM at scale (round-1/2 flag; the hint is gone, AQE decides from
  * runtime sizes). Golden assertions pin the merge semantics at this
  * shape: every changed key closed out, every new key current, invariant
  * of ≤1 current row per key intact. */
class Scd2MergeSpec extends SparkSuite {

  private def mkBatch(ids: Range, name: String, date: String) = {
    import spark.implicits._
    ids.map(i => (s"u$i", s"$name-$i", s"addr-$i", true, date, null: String,
      "sp", "2025", "01"))
      .toDF("universal_id", "project_name", "address", "is_current",
        "valid_from", "valid_to", "spider_name", "ingestion_year",
        "ingestion_month")
  }

  test("backfill batch 100x the snapshot merges correctly without a broadcast hint") {
    val root = Files.createTempDirectory("graft_scd2_backfill").toString + "/t"
    // day 1: small initial snapshot
    val n1 = Scd2.merge(spark, mkBatch(0 until 50, "old", "2025-01-15"), root,
      asOfDate = lit("2025-01-15"))
    assert(n1 === 50)
    // day 2: backfill — 5,000 rows; the original 50 all change names
    val n2 = Scd2.merge(spark, mkBatch(0 until 5000, "new", "2025-01-16"), root,
      asOfDate = lit("2025-01-16"))
    // 50 closed-out versions + 5,000 current versions
    assert(n2 === 5050)
    val snap = graft.store.PointerCommit.read(spark, root)
    assert(Scd2.violations(snap) === 0)
    assert(snap.filter(col("is_current") === true).count() === 5000)
    val closed = snap.filter(col("is_current") === false)
    assert(closed.count() === 50)
    assert(closed.filter(col("valid_to") === "2025-01-16").count() === 50)
    // a changed key has its new version current, old version closed
    val u7 = snap.filter(col("universal_id") === "u7")
      .select("project_name", "is_current").collect()
      .map(r => (r.getString(0), r.getBoolean(1))).toSet
    assert(u7 === Set(("old-7", false), ("new-7", true)))
    // unchanged re-send: idempotent (no new versions)
    val n3 = Scd2.merge(spark, mkBatch(0 until 5000, "new", "2025-01-17"), root,
      asOfDate = lit("2025-01-17"))
    assert(n3 === 5050)
  }
}
