package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.corpus.IncrementalCurate
import graft.gold.GoldEtl
import graft.scd.Scd2
import graft.store.{FileStats, PointerCommit, SnapshotStore}

/** The one snapshot format: every version's manifest carries its entries
  * and the schema it reads with. Pinned here:
  *
  *  - the stored schema equals what a parquet read of the version's
  *    entries infers (`mergeSchema` per referenced version, unioned by
  *    name in ascending version order), column order included, for
  *    every publish shape;
  *  - reads take the schema from the manifest: building a read and its
  *    schema launches no Spark job;
  *  - a zero-entry version and an empty partitioned publish read as
  *    typed empty tables. */
class SnapshotFormatSpec extends SparkSuite {

  private def freshRoot(tag: String): String =
    Files.createTempDirectory(s"graft_fmt_$tag").toString + "/t"

  /** The schema a version's entries infer, read as the store read them
    * before manifests carried schemas. */
  private def inferred(root: String, v: String): StructType =
    SnapshotStore.readManifest(spark, root, v).get.entries.toSeq.groupBy(_._2)
      .toSeq.sortBy(_._1).map { case (ver, es) =>
        spark.read.option("basePath", SnapshotStore.entryDir(root, "", ver).toString)
          .option("mergeSchema", "true")
          .parquet(es.map { case (rel, _) => SnapshotStore.entryDir(root, rel, ver).toString }: _*)
      }.reduceLeft(_.unionByName(_, allowMissingColumns = true)).schema

  /** Every version of `root` reads with the schema its entries infer. */
  private def assertSchemasInferred(root: String): Unit = {
    val vs = SnapshotStore.versions(spark, root)
    assert(vs.nonEmpty, s"nothing published under $root")
    vs.foreach(v => assert(SnapshotStore.readAt(spark, root, v).schema === inferred(root, v),
      s"$root $v"))
  }

  private def jobsDuring(body: => Unit): Int = {
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    org.apache.spark.ListenerBusDrain.drain(sc)
    sc.addSparkListener(listener)
    try {
      body
      org.apache.spark.ListenerBusDrain.drain(sc)
    } finally sc.removeSparkListener(listener)
    jobs.get
  }

  private def gold(rows: Seq[(String, String, Int, Int, Double)]): DataFrame = {
    import spark.implicits._
    rows.toDF("project_id", "quality_tier", "year", "month", "price")
  }

  private def scdBatch(ids: Seq[Int], name: String, date: String): DataFrame = {
    import spark.implicits._
    ids.map(i => (s"u$i", s"$name-$i", s"addr-$i", true, date, null: String,
      s"sp${i % 2}", "2025", "01"))
      .toDF("universal_id", "project_name", "address", "is_current",
        "valid_from", "valid_to", "spider_name", "ingestion_year",
        "ingestion_month")
  }

  private def docs(ids: Range): DataFrame =
    spark.range(ids.start, ids.end).select(col("id").as("doc_id"),
      md5(col("id").cast("string")).as("content_hash"),
      concat(lit("text "), col("id").cast("string")).as("text"))

  test("stored schema equals the inferred one: full publishes, with a day that adds a column") {
    import spark.implicits._
    val flat = freshRoot("full_flat")
    PointerCommit.publish(Seq((1L, "a")).toDF("id", "v"), flat, Nil)
    PointerCommit.publish(Seq((1L, "a", 2.5)).toDF("id", "v", "extra"), flat, Nil)
    assertSchemasInferred(flat)
    val parts = freshRoot("full_parts")
    PointerCommit.publish(Seq((1L, "a", 3)).toDF("id", "v", "p"), parts, Seq("p"))
    PointerCommit.publish(Seq((1L, "a", 3, true)).toDF("id", "v", "p", "flag"),
      parts, Seq("p"))
    assertSchemasInferred(parts)
  }

  test("stored schema equals the inferred one: incremental gold, a column added " +
    "on day 2 and replaced away on day 3") {
    val root = freshRoot("gold")
    GoldEtl.publishIncrementalManifest(spark, root, gold(Seq(
      ("p1", "high", 2025, 1, 10.0), ("p2", "low", 2025, 2, 20.0))),
      Array((2025, 1), (2025, 2)))
    // day 2: month 2 recomputed with a note column; month 1 carried
    GoldEtl.publishIncrementalManifest(spark, root,
      gold(Seq(("p3", "low", 2025, 2, 30.0))).withColumn("note", lit("n")),
      Array((2025, 2)))
    // day 3: the only entries with the note are replaced without it
    GoldEtl.publishIncrementalManifest(spark, root,
      gold(Seq(("p4", "low", 2025, 2, 40.0))), Array((2025, 2)))
    assertSchemasInferred(root)
    val Seq(_, v2, v3) = SnapshotStore.versions(spark, root)
    assert(SnapshotStore.readAt(spark, root, v2).columns.last === "note")
    assert(!SnapshotStore.readAt(spark, root, v3).columns.contains("note"))
  }

  test("stored schema equals the inferred one: SCD2 merge, closed append and compaction") {
    val root = freshRoot("scd")
    Scd2.mergeRegioned(spark, scdBatch(0 until 20, "v1", "2025-01-15"), root,
      asOfDate = lit("2025-01-15"))
    Scd2.mergeRegioned(spark, scdBatch(0 until 5, "v2", "2025-01-16"), root,
      asOfDate = lit("2025-01-16"))
    Scd2.mergeRegioned(spark, scdBatch(5 until 10, "v3", "2025-01-16"), root,
      asOfDate = lit("2025-01-16"))
    assert(Scd2.compactClosed(spark, root) === 1)
    // a flat sorted republish, then the merge that restores partitions
    Scd2.optimizeCurrentWithStats(spark, root, sortCol = "universal_id",
      numFiles = 2, statCols = Seq("universal_id"))
    Scd2.mergeRegioned(spark, scdBatch(10 until 12, "v4", "2025-01-17"), root,
      asOfDate = lit("2025-01-17"))
    assertSchemasInferred(Scd2.currentRoot(root))
    assertSchemasInferred(Scd2.closedRoot(root))
  }

  test("stored schema equals the inferred one: curated deltas, consolidation, " +
    "stats publishes and a targeted delete") {
    val cur = freshRoot("curated")
    val c1 = IncrementalCurate.publishDelta(spark, cur, docs(0 until 20), None)
    val c2 = IncrementalCurate.publishDelta(spark, cur,
      docs(20 until 30).withColumn("lang", lit("vi")), Some(c1))
    IncrementalCurate.consolidate(spark, cur)
    IncrementalCurate.forget(spark, cur, Seq(3L))
    assert(c2 === "v000000002")
    assertSchemasInferred(cur)
    val sorted = freshRoot("sorted")
    FileStats.publishSorted(spark, sorted, docs(0 until 40), "doc_id",
      numFiles = 2, statCols = Seq("doc_id"))
    FileStats.publishZOrdered(spark, sorted, docs(0 until 40).withColumn("n", lit(1)),
      Seq("doc_id", "n"), numFiles = 2, statCols = Seq("doc_id"))
    assertSchemasInferred(sorted)
    val parts = freshRoot("parts")
    FileStats.publishPartitioned(spark, parts,
      docs(0 until 40).withColumn("pb", (col("doc_id") % 3).cast("string")),
      pcol = "pb", statCols = Seq("doc_id"), bloomCols = Seq("doc_id"))
    FileStats.deleteKeys(spark, parts, "doc_id", Seq(4L), pcol = "pb",
      statCols = Seq("doc_id"), bloomCols = Seq("doc_id"))
    assert(SnapshotStore.versions(spark, parts).size === 2)
    assertSchemasInferred(parts)
  }

  test("a read and its schema launch no Spark job") {
    val root = freshRoot("cost")
    GoldEtl.publishIncrementalManifest(spark, root, gold(Seq(
      ("p1", "high", 2025, 1, 10.0), ("p2", "low", 2025, 2, 20.0))),
      Array((2025, 1), (2025, 2)))
    GoldEtl.publishIncrementalManifest(spark, root,
      gold(Seq(("p3", "low", 2025, 2, 30.0))), Array((2025, 2)))
    GoldEtl.publishIncrementalManifest(spark, root, gold(Nil),
      Array((2025, 1), (2025, 2)))
    val Seq(full, carried, empty) = SnapshotStore.versions(spark, root)
    val scd = freshRoot("cost_scd")
    Scd2.mergeRegioned(spark, scdBatch(0 until 10, "v1", "2025-01-15"), scd,
      asOfDate = lit("2025-01-15"))
    Scd2.mergeRegioned(spark, scdBatch(0 until 3, "v2", "2025-01-16"), scd,
      asOfDate = lit("2025-01-16"))
    val reads: Seq[(String, () => DataFrame)] = Seq(
      "readAt full" -> (() => SnapshotStore.readAt(spark, root, full)),
      "readAt carried" -> (() => SnapshotStore.readAt(spark, root, carried)),
      "readAt zero-entry" -> (() => SnapshotStore.readAt(spark, root, empty)),
      "PointerCommit.read" -> (() => PointerCommit.read(spark, root)),
      "readPartitioned" -> (() => SnapshotStore.readPartitioned(spark, root,
        Seq("quality_tier", "year", "month"))),
      "Scd2.readRegioned" -> (() => Scd2.readRegioned(spark, scd)))
    reads.foreach { case (what, read) =>
      assert(jobsDuring(read().schema) === 0, s"$what launched a job")
    }
  }

  test("a zero-entry version and an empty partitioned publish read as typed empty tables") {
    val root = freshRoot("zero")
    GoldEtl.publishIncrementalManifest(spark, root, gold(Seq(
      ("p1", "high", 2025, 1, 10.0))), Array((2025, 1)))
    GoldEtl.publishIncrementalManifest(spark, root, gold(Nil), Array((2025, 1)))
    val empties = freshRoot("empty_full")
    PointerCommit.publish(gold(Seq(("p1", "high", 2025, 1, 10.0))), empties,
      Seq("quality_tier", "year", "month"))
    PointerCommit.publish(gold(Nil), empties, Seq("quality_tier", "year", "month"))
    Seq(root, empties).foreach { r =>
      val Seq(v1, v2) = SnapshotStore.versions(spark, r)
      assert(SnapshotStore.readManifest(spark, r, v2).get.entries.isEmpty)
      val schema = SnapshotStore.readAt(spark, r, v1).schema
      Seq(SnapshotStore.readAt(spark, r, v2), PointerCommit.read(spark, r),
        SnapshotStore.readPartitioned(spark, r, Seq("quality_tier", "year", "month")))
        .foreach { df =>
          assert(df.schema === schema, r)
          assert(df.count() === 0L, r)
        }
      val feed = SnapshotStore.changesBetween(spark, r, v1, v2, Seq("project_id"))
      assert(feed.select("change_type").collect().map(_.getString(0)).toSeq ===
        Seq("delete"), r)
      assert(SnapshotStore.changesBetween(spark, r, v2, v2, Seq("project_id"))
        .count() === 0L, r)
    }
  }
}
