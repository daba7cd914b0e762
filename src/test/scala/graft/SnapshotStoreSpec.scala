package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import graft.gold.GoldEtl
import graft.store.{PointerCommit, SnapshotStore}
import graft.scd.Scd2

/** Object-store-safe commit protocol: versioned snapshots + atomic
  * pointer. The load-bearing property is crash isolation — a writer that
  * dies at ANY point before the pointer flip must leave readers on the
  * old snapshot, with the half-written data invisible. */
class SnapshotStoreSpec extends SparkSuite {

  private def freshRoot(): String =
    Files.createTempDirectory("graft_snap").toString + "/table"

  test("commit publishes atomically; readers always see old or new, never partial") {
    import spark.implicits._
    val root = freshRoot()
    assert(!PointerCommit.exists(spark, root))
    PointerCommit.publish(Seq((1, "a"), (2, "b")).toDF("id", "v"), root, Nil)
    assert(PointerCommit.exists(spark, root))
    assert(PointerCommit.read(spark, root).count() === 2)

    // writer crash AFTER fully writing the new snapshot dir but BEFORE
    // the pointer flip: readers still see v1, the orphan dir is invisible
    val crash = intercept[RuntimeException] {
      SnapshotStore.commit(spark, root) { dir =>
        Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v")
          .write.parquet(dir)
        throw new RuntimeException("simulated writer death before publish")
      }
    }
    assert(crash.getMessage.contains("simulated"))
    assert(PointerCommit.read(spark, root).count() === 2)
    assert(SnapshotStore.currentName(spark, root).contains("v000000001"))

    // a successful commit lands as v3 (v2's name was consumed by the
    // crashed attempt's dir) and becomes visible only via the pointer
    PointerCommit.publish(Seq((1, "a"), (2, "b"), (3, "c"), (4, "d"))
      .toDF("id", "v"), root, Nil)
    assert(PointerCommit.read(spark, root).count() === 4)
  }

  test("vacuum collects orphaned and superseded snapshots, never the current one") {
    import spark.implicits._
    val root = freshRoot()
    (1 to 4).foreach { i =>
      PointerCommit.publish((1 to i).toDF("id"), root, Nil)
    }
    // orphan from a crashed writer
    intercept[RuntimeException] {
      SnapshotStore.commit(spark, root) { dir =>
        Seq(99).toDF("id").write.parquet(dir)
        throw new RuntimeException("boom")
      }
    }
    val removed = SnapshotStore.vacuum(spark, root, keepLast = 2)
    assert(removed > 0)
    // current snapshot survives and still reads correctly
    assert(PointerCommit.read(spark, root).count() === 4)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // count version DIRS: commit-record .claim files coexist in
    // _snapshots (one per retained version; ConcurrencySpec pins their
    // lifecycle)
    val left = fs.listStatus(new org.apache.hadoop.fs.Path(root, "_snapshots"))
      .filter(_.isDirectory).map(_.getPath.getName).toSet
    assert(left.contains(SnapshotStore.currentName(spark, root).get))
    assert(left.size === 2)
  }

  test("Scd2 merge over PointerCommit keeps SCD2 semantics and invariants") {
    import spark.implicits._
    val root = freshRoot()
    def batch(name: String, clock: String) =
      Seq(("u1", name, "addr1", true, clock, null: String, "sp", "2025", "01"),
        ("u2", "P2", "addr2", true, clock, null: String, "sp", "2025", "01"))
        .toDF("universal_id", "project_name", "address", "is_current",
          "valid_from", "valid_to", "spider_name", "ingestion_year",
          "ingestion_month")
    // first load
    val n1 = Scd2.merge(spark, batch("P1", "2025-01-15"), root,
      asOfDate = lit("2025-01-15"))
    assert(n1 === 2)
    // change u1 → close-out + append; table readable ONLY via pointer
    val n2 = Scd2.merge(spark, batch("P1-renamed", "2025-01-16"), root,
      asOfDate = lit("2025-01-16"))
    val snap = PointerCommit.read(spark, root)
    assert(n2 === snap.count())
    assert(Scd2.violations(snap) === 0)
    val u1 = snap.filter(col("universal_id") === "u1")
    assert(u1.count() === 2)
    assert(u1.filter(col("is_current") === true)
      .head.getAs[String]("project_name") === "P1-renamed")
    assert(u1.filter(col("is_current") === false)
      .head.getAs[String]("valid_to") === "2025-01-16")
    // unchanged u2 was not duplicated
    assert(snap.filter(col("universal_id") === "u2").count() === 1)
    // optimize over the pointer protocol preserves content
    val n3 = Scd2.optimize(spark, root,
      clusterCols = Seq("universal_id", "spider_name"))
    assert(n3 === n2)
    assert(PointerCommit.read(spark, root).count() === n2)
  }

  test("gold full-table publish routes through the commit protocol") {
    import spark.implicits._
    val root = freshRoot()
    val df = Seq(("p1", "high", 2025, 1), ("p2", "low", 2025, 2))
      .toDF("project_id", "quality_tier", "year", "month")
    graft.gold.GoldEtl.writeGold(df, root)
    val back = SnapshotStore.read(spark, root)
    assert(back.count() === 2)
    // partition layout preserved inside the versioned snapshot dir
    assert(back.columns.contains("quality_tier"))
  }

  test("manifest incremental publish carries unchanged partitions by reference") {
    import spark.implicits._
    import graft.gold.GoldEtl
    val root = freshRoot()
    def frame(rows: Seq[(String, String, Int, Int)]) =
      rows.toDF("project_id", "quality_tier", "year", "month")
    // v1: both month groups written
    GoldEtl.publishIncrementalManifest(spark, root,
      frame(Seq(("p1", "high", 2025, 1), ("p2", "low", 2025, 2))),
      Array((2025, 1), (2025, 2)))
    val v1 = SnapshotStore.currentName(spark, root).get
    // v2: only month 2 recomputed (p2 replaced by p3); month 1 untouched
    GoldEtl.publishIncrementalManifest(spark, root,
      frame(Seq(("p3", "low", 2025, 2))), Array((2025, 2)))
    val entries = SnapshotStore.currentEntries(spark, root, 3).get
    assert(entries("quality_tier=high/year=2025/month=1") === v1,
      "unchanged partition must be carried from v1 by reference")
    assert(entries("quality_tier=low/year=2025/month=2") !== v1)
    val back = SnapshotStore.readPartitioned(spark, root,
      Seq("quality_tier", "year", "month"))
    assert(back.select("project_id").collect().map(_.getString(0)).sorted
      .toSeq === Seq("p1", "p3"))
    // partition columns re-attached from the manifest paths
    assert(back.filter(col("project_id") === "p1")
      .head.getAs[String]("month") === "1")

    // crash after data write, before manifest+pointer: readers unchanged
    intercept[RuntimeException] {
      SnapshotStore.commit(spark, root) { dir =>
        frame(Seq(("p9", "high", 2025, 1))).write.parquet(dir)
        throw new RuntimeException("boom")
      }
    }
    assert(SnapshotStore.readPartitioned(spark, root,
      Seq("quality_tier", "year", "month")).count() === 2)

    // vacuum keeps v1: the current manifest still references it
    SnapshotStore.vacuum(spark, root, keepLast = 1)
    assert(SnapshotStore.readPartitioned(spark, root,
      Seq("quality_tier", "year", "month")).count() === 2)
  }

  test("full silver+gold pipeline over PointerCommit matches the directory-swap run") {
    import graft.silver.SilverEtl
    import graft.gold.GoldEtl
    val dir = Files.createTempDirectory("graft_e2e_ptr").toString
    graft.fixtures.BronzeFixtures.write(dir)
    val cfg = SilverEtl.RunConfig(s"$dir/silver", s"$dir/quarantine",
      s"$dir/metadata", "ptr_run", "2025-01-15")
    val bronze = SilverEtl.readBronze(spark, s"$dir/bronze", "2025-01-15")
    val stats = SilverEtl.run(spark, bronze, cfg,
      to_timestamp(lit("2025-01-15 12:00:00")))
    GoldEtl.run(spark, s"$dir/silver", s"$dir/gold",
      to_timestamp(lit("2025-01-15 13:00:00")))
    // the directory-swap run of the same fixture, recorded before that
    // protocol was removed: 36 silver rows, and the MD5 of its gold
    // project_id set (sorted, newline-joined)
    assert(stats.recordsWritten === 36)
    val silver = PointerCommit.read(spark, s"$dir/silver")
    assert(graft.scd.Scd2.violations(silver) === 0)
    assert(silver.count() === 36)
    val ids = PointerCommit.read(spark, s"$dir/gold")
      .select("project_id").collect().map(_.getString(0)).sorted
    assert(ids.length === 36)
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(ids.mkString("\n").getBytes("UTF-8"))
      .map(b => f"${b & 0xff}%02x").mkString
    assert(md5 === "57a296a9118b2daba0e69234c4fde1ae")
  }

  test("readAt pins a version: old snapshots stay readable after new commits") {
    import spark.implicits._
    val root = freshRoot()
    PointerCommit.publish(Seq((1, "a")).toDF("id", "v"), root, Nil)
    PointerCommit.publish(Seq((1, "a2"), (2, "b")).toDF("id", "v"), root, Nil)
    PointerCommit.publish(Seq((3, "c")).toDF("id", "v"), root, Nil)
    assert(SnapshotStore.versions(spark, root) ===
      Seq("v000000001", "v000000002", "v000000003"))
    // v1 exactly as published, after two later commits
    val v1 = SnapshotStore.readAt(spark, root, "v000000001")
    assert(v1.collect().map(r => (r.getInt(0), r.getString(1))).toSeq ===
      Seq((1, "a")))
    assert(SnapshotStore.readAt(spark, root, "v000000002").count() === 2)
    // the live read still resolves through the pointer
    assert(SnapshotStore.read(spark, root).count() === 1)
    // a vacuumed version is gone for good — readAt says so
    SnapshotStore.vacuum(spark, root, keepLast = 1)
    intercept[java.io.FileNotFoundException] {
      SnapshotStore.readAt(spark, root, "v000000001")
    }
    // the current version still reads pinned
    assert(SnapshotStore.readAt(spark, root, "v000000003").count() === 1)
  }

  test("readAt resolves manifest snapshots, and vacuum keeps what kept manifests reference") {
    import spark.implicits._
    import graft.gold.GoldEtl
    val root = freshRoot()
    def frame(rows: Seq[(String, String, Int, Int)]) =
      rows.toDF("project_id", "quality_tier", "year", "month")
    // v1 writes both month groups; v2 and v3 each touch only month 2,
    // so both their manifests carry month 1 forward by reference to v1
    GoldEtl.publishIncrementalManifest(spark, root,
      frame(Seq(("p1", "high", 2025, 1), ("p2", "low", 2025, 2))),
      Array((2025, 1), (2025, 2)))
    GoldEtl.publishIncrementalManifest(spark, root,
      frame(Seq(("p3", "low", 2025, 2))), Array((2025, 2)))
    GoldEtl.publishIncrementalManifest(spark, root,
      frame(Seq(("p4", "low", 2025, 2))), Array((2025, 2)))

    // pinned read of the middle manifest version: month-1 data via the
    // v1 reference + its own month-2 write
    val v2 = SnapshotStore.readAt(spark, root, "v000000002")
    assert(v2.select("project_id").collect().map(_.getString(0)).sorted
      .toSeq === Seq("p1", "p3"))

    // keepLast=2 retains v2+v3; v1 is older BUT both kept manifests
    // reference its month-1 partition — the round-3 vacuum only honored
    // the CURRENT manifest's references, which would have left v2
    // readable but dangling had v3 rewritten month 1
    val removed = SnapshotStore.vacuum(spark, root, keepLast = 2)
    assert(removed === 0)
    assert(SnapshotStore.readAt(spark, root, "v000000002").count() === 2)
    assert(SnapshotStore.readAt(spark, root, "v000000003")
      .select("project_id").collect().map(_.getString(0)).sorted.toSeq ===
      Seq("p1", "p4"))

    // shrinking the window to 1 still keeps v1 alive transitively (the
    // current manifest needs it), but v2 goes
    SnapshotStore.vacuum(spark, root, keepLast = 1)
    assert(SnapshotStore.readPartitioned(spark, root,
      Seq("quality_tier", "year", "month")).count() === 2)
    intercept[java.io.FileNotFoundException] {
      SnapshotStore.readAt(spark, root, "v000000002")
    }
  }

  test("PointerCommit runs end-to-end on an s3a:// scheme (fake object store)") {
    import spark.implicits._
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.s3a.impl", classOf[FakeS3AFileSystem].getName)
    hc.set("fs.AbstractFileSystem.s3a.impl",
      classOf[FakeS3AAbstractFileSystem].getName)
    val local = Files.createTempDirectory("graft_fake_s3").toString
    val root = s"s3a://test-bucket$local/table"

    PointerCommit.publish(Seq((1, "a"), (2, "b")).toDF("id", "v"), root, Nil)
    assert(PointerCommit.exists(spark, root))
    assert(PointerCommit.read(spark, root).count() === 2)
    PointerCommit.publish(Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v"),
      root, Nil)
    assert(PointerCommit.read(spark, root).count() === 3)
    assert(SnapshotStore.versions(spark, root) ===
      Seq("v000000001", "v000000002"))
    assert(SnapshotStore.readAt(spark, root, "v000000001").count() === 2)

    // the versioned layout physically landed under the fake bucket's
    // local backing dir — proof the s3a FileSystem carried the writes
    assert(Files.exists(java.nio.file.Paths.get(s"$local/table/_CURRENT")))
    assert(Files.exists(java.nio.file.Paths.get(
      s"$local/table/_snapshots/v000000002")))

    // a regioned SCD2 merge (current rewrite + manifest-append closed
    // region) over the same scheme: the full multi-table protocol
    def batch(ids: Range, name: String, date: String) = {
      ids.map(i => (s"u$i", s"$name-$i", s"addr-$i", true, date,
        null: String, "sp", "2025", "01"))
        .toDF("universal_id", "project_name", "address", "is_current",
          "valid_from", "valid_to", "spider_name", "ingestion_year",
          "ingestion_month")
    }
    val scdRoot = s"s3a://test-bucket$local/silver"
    Scd2.mergeRegioned(spark, batch(0 until 40, "v1", "2025-01-15"), scdRoot,
      asOfDate = lit("2025-01-15"))
    val n = Scd2.mergeRegioned(spark, batch(0 until 10, "v2", "2025-01-16"),
      scdRoot, asOfDate = lit("2025-01-16"))
    assert(n === 50)
    val snap = Scd2.readRegioned(spark, scdRoot, PointerCommit)
    assert(snap.filter(col("is_current") === false).count() === 10)
    assert(Scd2.violations(snap) === 0)
  }

  test("change feed: republish of identical content yields an empty feed") {
    import spark.implicits._
    val root = freshRoot()
    val rows = Seq((1L, "a", 1.5), (2L, "b", 2.5), (3L, null, 3.5))
      .toDF("id", "name", "v")
    PointerCommit.publish(rows, root, Nil)
    PointerCommit.publish(rows, root, Nil) // same content, new version
    val feed = SnapshotStore.changesBetween(spark, root,
      "v000000001", "v000000002", keyCols = Seq("id"))
    assert(feed.count() === 0) // churn-sized: no churn, no rows
    assertFeedEqualsFullDiff(root, "v000000001", "v000000002", Seq("id"))
  }

  test("change feed: duplicate-copy churn and schema drift surface, not vanish") {
    import spark.implicits._
    val root = freshRoot()
    // v1 holds THREE identical copies of id=1; v2 drops one copy and
    // adds a copy of id=2 — count-delta matching must emit exactly one
    // row per copy changed (an anti-join would see both hashes survive
    // and emit nothing at all)
    PointerCommit.publish(
      Seq((1L, "a"), (1L, "a"), (1L, "a"), (2L, "b")).toDF("id", "name"),
      root, Nil)
    PointerCommit.publish(
      Seq((1L, "a"), (1L, "a"), (2L, "b"), (2L, "b")).toDF("id", "name"),
      root, Nil)
    val feed = SnapshotStore.changesBetween(spark, root,
      "v000000001", "v000000002", keyCols = Seq("id"))
    val byType = feed.groupBy("change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // both keys survive → the copy-count changes classify as updates
    assert(byType === Map("update_preimage" -> 1L, "update_postimage" -> 1L))
    assertFeedEqualsFullDiff(root, "v000000001", "v000000002", Seq("id"))

    // v3 adds a column; the feed aligns on the schema UNION instead of
    // throwing, and every surviving row reads as updated (its content
    // genuinely changed shape)
    PointerCommit.publish(
      Seq((1L, "a", 9), (2L, "b", 9)).toDF("id", "name", "extra"),
      root, Nil)
    val drift = SnapshotStore.changesBetween(spark, root,
      "v000000002", "v000000003", keyCols = Seq("id"))
    assert(drift.filter(col("change_type") === "update_postimage").count() === 2)
    assert(drift.columns.contains("extra"))
    assertFeedEqualsFullDiff(root, "v000000002", "v000000003", Seq("id"))
  }

  test("change feed: null and empty-string fields don't collide in the row hash") {
    import spark.implicits._
    val root = freshRoot()
    PointerCommit.publish(Seq((1L, null.asInstanceOf[String]))
      .toDF("id", "name"), root, Nil)
    PointerCommit.publish(Seq((1L, "")).toDF("id", "name"), root, Nil)
    val feed = SnapshotStore.changesBetween(spark, root,
      "v000000001", "v000000002", keyCols = Seq("id"))
      .select("change_type").collect().map(_.getString(0)).sorted
    // null → "" IS a change: pre+post images, never a silent match
    assert(feed.toSeq === Seq("update_postimage", "update_preimage"))
    assertFeedEqualsFullDiff(root, "v000000001", "v000000002", Seq("id"))
  }

  // ------------------------------------- change feed over partition entries
  /** The full diff of two versions: both contents republished as plain
    * snapshots under a fresh root, where no entry can be shared. */
  private def fullDiff(root: String, vFrom: String, vTo: String,
                       keys: Seq[String]): DataFrame = {
    val plain = freshRoot()
    PointerCommit.publish(SnapshotStore.readAt(spark, root, vFrom), plain, Nil)
    PointerCommit.publish(SnapshotStore.readAt(spark, root, vTo), plain, Nil)
    SnapshotStore.changesBetween(spark, plain, "v000000001", "v000000002", keys)
  }

  private def typed(df: DataFrame) = df.schema.map(f => f.name -> f.dataType)

  /** rows, multiplicities and change types as an order-free multiset */
  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private def assertFeedEqualsFullDiff(root: String, vFrom: String, vTo: String,
                                       keys: Seq[String]): DataFrame = {
    val feed = SnapshotStore.changesBetween(spark, root, vFrom, vTo, keys)
    val full = fullDiff(root, vFrom, vTo, keys)
    assert(typed(feed) === typed(full), s"$vFrom→$vTo column order and types")
    assert(rowsOf(feed) === rowsOf(full), s"$vFrom→$vTo rows")
    feed
  }

  private def splitOf(root: String, vFrom: String, vTo: String) =
    SnapshotStore.splitEntries(spark, root,
      vFrom, SnapshotStore.readManifest(spark, root, vFrom),
      vTo, SnapshotStore.readManifest(spark, root, vTo))

  private def changeTypes(feed: DataFrame): Map[String, Long] =
    feed.groupBy("change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  private def goldFrame(rows: Seq[(String, String, Int, Int, Double)]) = {
    import spark.implicits._
    rows.toDF("project_id", "quality_tier", "year", "month", "price")
  }

  /** Three incremental gold publishes (depth-3 manifests):
    *  - v1: months 1-3;
    *  - v2: month 1 and month 3 recomputed with a `note` column. Month 1
    *    loses its low tier (an entry only v1 has), p1 changes price, p3's
    *    second copy goes (its other copy is in month 2, which both
    *    versions share) and a null-key row changes; in month 3 p5 moves
    *    from the low to the high tier and p4 is rewritten with only the
    *    note added;
    *  - v3: month 4 added, nothing else (a pure-insert pair). */
  private def goldLake(): (String, String, String, String) = {
    val root = freshRoot()
    GoldEtl.publishIncrementalManifest(spark, root, goldFrame(Seq(
      ("p1", "high", 2025, 1, 10.0), ("p2", "low", 2025, 1, 20.0),
      ("p3", "high", 2025, 1, 30.0), (null, "high", 2025, 1, 40.0),
      ("p3", "high", 2025, 2, 31.0), ("p6", "low", 2025, 2, 60.0),
      ("p4", "high", 2025, 3, 50.0), ("p5", "low", 2025, 3, 70.0))),
      Array((2025, 1), (2025, 2), (2025, 3)))
    val v1 = SnapshotStore.currentName(spark, root).get
    GoldEtl.publishIncrementalManifest(spark, root, goldFrame(Seq(
      ("p1", "high", 2025, 1, 11.0), (null, "high", 2025, 1, 41.0),
      ("p4", "high", 2025, 3, 50.0), ("p5", "high", 2025, 3, 70.0)))
      .withColumn("note", lit("recomputed")),
      Array((2025, 1), (2025, 3)))
    val v2 = SnapshotStore.currentName(spark, root).get
    GoldEtl.publishIncrementalManifest(spark, root,
      goldFrame(Seq(("p7", "high", 2025, 4, 80.0))), Array((2025, 4)))
    (root, v1, v2, SnapshotStore.currentName(spark, root).get)
  }

  test("change feed over manifests equals the full diff: dropped tier, " +
    "moved key, shared-partition key, null key, one-side column, pure insert") {
    val (root, v1, v2, v3) = goldLake()
    val s12 = splitOf(root, v1, v2).get
    assert(s12.shared.keySet === Set("quality_tier=high/year=2025/month=2",
      "quality_tier=low/year=2025/month=2"))
    assert(s12.fromOnly.keySet.contains("quality_tier=low/year=2025/month=1") &&
      !s12.toOnly.keySet.contains("quality_tier=low/year=2025/month=1"),
      "the dropped tier entry is from-only")
    val keys = Seq("project_id")
    val feed = assertFeedEqualsFullDiff(root, v1, v2, keys)
    def typesOf(id: String) = feed.filter(col("project_id") === id)
      .select("change_type").collect().map(_.getString(0)).toSeq.sorted
    assert(typesOf("p2") === Seq("delete"))
    // p3's month-1 copy went; its month-2 copy, in a shared entry, survives
    assert(typesOf("p3") === Seq("update_preimage"))
    assert(typesOf("p5") === Seq("update_postimage", "update_preimage"))
    // the note column exists only in v2's fresh entries: every rewritten
    // row changed shape, so p4 reads as updated too
    assert(typesOf("p4") === Seq("update_postimage", "update_preimage"))
    assert(feed.filter(col("project_id").isNull).select("change_type")
      .collect().map(_.getString(0)).toSeq.sorted === Seq("delete", "insert"))
    assert(feed.columns.toSeq === Seq("project_id", "month", "note", "price",
      "quality_tier", "year", "change_type"))
    // backwards, the note column is on the from side's unshared entries
    assertFeedEqualsFullDiff(root, v2, v1, keys)
    // pure insert: v3 only adds an entry
    val s23 = splitOf(root, v2, v3).get
    assert(s23.fromOnly.isEmpty && s23.toOnly.size === 1)
    assert(changeTypes(assertFeedEqualsFullDiff(root, v2, v3, keys)) ===
      Map("insert" -> 1L))
    assertFeedEqualsFullDiff(root, v1, v3, keys)
  }

  test("change feed over an SCD2 merge day and a flat republish equals the full diff") {
    import spark.implicits._
    def batch(rows: Seq[(String, String, String, String)], date: String) =
      rows.map { case (id, name, spider, month) =>
        (id, name, s"addr-$id", true, date, null: String, spider, "2025", month)
      }.toDF("universal_id", "project_name", "address", "is_current",
        "valid_from", "valid_to", "spider_name", "ingestion_year",
        "ingestion_month")
    val root = Files.createTempDirectory("graft_feed_scd").toString + "/t"
    Scd2.mergeRegioned(spark, batch((0 until 12).map(i =>
      (s"u$i", s"n$i", if (i % 2 == 0) "spA" else "spB", "01")), "2025-01-15"),
      root, asOfDate = lit("2025-01-15"))
    // day 2 touches spA only: u0 renames and moves to month 02, u2 renames
    Scd2.mergeRegioned(spark, batch(Seq(("u0", "m0", "spA", "02"),
      ("u2", "m2", "spA", "01")), "2025-01-16"),
      root, asOfDate = lit("2025-01-16"))
    val cur = Scd2.currentRoot(root)
    val Seq(v1, v2) = SnapshotStore.versions(spark, cur)
    // v1 is a plain full publish, split by its hive dirs at v2's depth
    assert(SnapshotStore.readManifest(spark, cur, v1).isEmpty)
    assert(splitOf(cur, v1, v2).get.shared.keySet ===
      Set("spider_name=spB/ingestion_year=2025/ingestion_month=01"))
    val feed = assertFeedEqualsFullDiff(cur, v1, v2, Seq("universal_id"))
    assert(changeTypes(feed) ===
      Map("update_preimage" -> 2L, "update_postimage" -> 2L))
    // a flat sorted republish has files outside any hive dir: nothing is
    // shared and the feed is the full diff
    Scd2.optimizeCurrentWithStats(spark, root, sortCol = "universal_id",
      numFiles = 2, statCols = Seq("universal_id"))
    val v3 = SnapshotStore.currentName(spark, cur).get
    assert(splitOf(cur, v2, v3).isEmpty)
    assert(assertFeedEqualsFullDiff(cur, v2, v3, Seq("universal_id")).count() === 0)
  }

  private object Plans extends AdaptiveSparkPlanHelper {
    def scans(df: DataFrame): Seq[FileSourceScanExec] =
      collectWithSubqueries(df.queryExecution.executedPlan) {
        case s: FileSourceScanExec => s
      }
  }

  test("change feed reads wide columns only from unshared entries; " +
    "identical entries give an empty typed feed with no scan") {
    val (root, v1, v2, v3) = goldLake()
    val split = splitOf(root, v1, v2).get
    def dirs(es: Map[String, String]) = es.map { case (rel, ver) =>
      new org.apache.hadoop.fs.Path(s"$root/${SnapshotStore.SnapshotsDir}/$ver/$rel")
        .toUri.getPath }.toSet
    val unshared = dirs(split.fromOnly) ++ dirs(split.toOnly)
    val feed = SnapshotStore.changesBetween(spark, root, v1, v2, Seq("project_id"))
    feed.collect()
    val scans = Plans.scans(feed)
    def roots(s: FileSourceScanExec) =
      s.relation.location.rootPaths.map(_.toUri.getPath).toSet
    // partition values come from the paths: what a scan reads from its
    // files is its required schema
    val (keyOnly, wide) =
      scans.partition(_.requiredSchema.fieldNames.toSeq == Seq("project_id"))
    assert(wide.nonEmpty && wide.flatMap(roots).toSet === unshared,
      s"wide scans must read exactly the unshared entries: ${wide.map(roots)}")
    // each shared entry is read once, for its key column alone
    val sharedReads = scans.filter(s => roots(s).exists(dirs(split.shared)))
    assert(sharedReads.size === 1 && keyOnly.contains(sharedReads.head))

    // a version that carries every entry forward: nothing to diff
    GoldEtl.publishIncrementalManifest(spark, root, goldFrame(Nil), Array.empty)
    val v4 = SnapshotStore.currentName(spark, root).get
    assert(SnapshotStore.readManifest(spark, root, v4) ===
      SnapshotStore.readManifest(spark, root, v3))
    val empty = SnapshotStore.changesBetween(spark, root, v3, v4, Seq("project_id"))
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    org.apache.spark.ListenerBusDrain.drain(sc)
    sc.addSparkListener(listener)
    try {
      assert(empty.collect().isEmpty)
      org.apache.spark.ListenerBusDrain.drain(sc)
    } finally sc.removeSparkListener(listener)
    assert(jobs.get === 0 && Plans.scans(empty).isEmpty)
    assert(typed(empty) === typed(fullDiff(root, v3, v4, Seq("project_id"))))
  }

  test("empty entry maps: the feed builds an empty typed side, readAt names the version") {
    val root = freshRoot()
    GoldEtl.publishIncrementalManifest(spark, root, goldFrame(Seq(
      ("p1", "high", 2025, 1, 10.0), ("p2", "low", 2025, 1, 20.0))),
      Array((2025, 1)))
    val v1 = SnapshotStore.currentName(spark, root).get
    // every row of the only affected group empties out: zero entries
    GoldEtl.publishIncrementalManifest(spark, root, goldFrame(Nil), Array((2025, 1)))
    val v2 = SnapshotStore.currentName(spark, root).get
    assert(SnapshotStore.readManifest(spark, root, v2).contains(Map.empty))
    val e = intercept[IllegalStateException](SnapshotStore.readAt(spark, root, v2))
    assert(e.getMessage.contains(v2))
    val schema = SnapshotStore.readAt(spark, root, v1).schema
    val none = SnapshotStore.readEntries(spark, root, Map.empty, Some(schema))
    assert(none.schema === schema && none.count() === 0)
    intercept[IllegalArgumentException](SnapshotStore.readEntries(spark, root, Map.empty))
    // pure delete, then pure insert across the empty version
    assert(changeTypes(SnapshotStore.changesBetween(spark, root, v1, v2,
      Seq("project_id"))) === Map("delete" -> 2L))
    assert(changeTypes(SnapshotStore.changesBetween(spark, root, v2, v1,
      Seq("project_id"))) === Map("insert" -> 2L))
  }
}
