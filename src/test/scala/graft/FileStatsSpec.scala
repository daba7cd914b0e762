package graft

import org.apache.spark.sql.functions._
import graft.store.{FileStats, SnapshotStore}

/** File-level data skipping: the stats sidecar is invisible to normal
  * snapshot readers, prunes the file list hard on a range-sorted layout,
  * never changes results (boundary-straddling, exact-boundary, and
  * empty ranges included), and treats stats as advisory — a file
  * missing min/max can only widen the list, never drop rows. */
class FileStatsSpec extends SparkSuite {

  private def freshRoot(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_fs_$tag").toString + "/t"

  private def publish(root: String): Unit = {
    val df = spark.range(0, 1000).select(
      col("id").as("k"),
      (col("id") * 3 % 7).cast("double").as("v"))
    FileStats.publishSorted(spark, root, df, "k", numFiles = 8,
      statCols = Seq("k", "v"))
  }

  test("sidecar is invisible to plain snapshot reads") {
    val root = freshRoot("inv")
    publish(root)
    assert(SnapshotStore.read(spark, root).count() === 1000)
    assert(SnapshotStore.read(spark, root).columns.toSeq === Seq("k", "v"))
  }

  test("sidecar layout is bucketed by hash-of-file (fb= dirs), so the " +
    "distributed bloom probe scans parallel slices, not one serial file") {
    val root = freshRoot("fb")
    val df = spark.range(0, 1000).select(
      col("id").as("k"), (col("id") * 37 % 991).as("u"))
    FileStats.publishSorted(spark, root, df, "k", numFiles = 8,
      statCols = Seq("k"), bloomCols = Seq("u"))
    val name = SnapshotStore.currentName(spark, root).get
    val side = new java.io.File(
      s"$root/${SnapshotStore.SnapshotsDir}/$name${FileStats.StatsSuffix}")
    val fbDirs = Option(side.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith(s"${FileStats.FbCol}="))
    assert(fbDirs.nonEmpty, s"expected fb= bucket dirs under $side, " +
      s"found ${Option(side.listFiles()).getOrElse(Array.empty).map(_.getName).mkString(",")}")
    // layout change is invisible to the probe surface: (file, keep) only
    val hash = spark.range(1).select(xxhash64(lit(0L))).head().getLong(0)
    val frame = FileStats.probeFrameEq(spark, root, "u", hash)
    assert(frame.columns.toSeq === Seq("file", "keep"))
    // and an eq-read through the bucketed sidecar still answers exactly
    assert(FileStats.readEq(spark, root, "u", 37L).count() ===
      df.filter(col("u") === 37L).count())
  }

  test("narrow range on a sorted layout selects a strict file subset") {
    val root = freshRoot("prune")
    publish(root)
    val (sel, all) = FileStats.pruneFiles(spark, root, "k", 10L, 99L)
    assert(all.length === 8)
    assert(sel.nonEmpty && sel.length < all.length,
      s"expected a strict subset, got ${sel.length}/${all.length}")
  }

  test("pruned read equals full-scan filter on every range shape") {
    val root = freshRoot("eq")
    publish(root)
    val full = SnapshotStore.read(spark, root)
    // straddles file boundaries, sits inside one file, hits exact file
    // edges, covers everything, matches nothing
    val ranges = Seq((10L, 400L), (130L, 140L), (125L, 249L),
      (0L, 999L), (5000L, 6000L))
    ranges.foreach { case (lo, hi) =>
      val pruned = FileStats.readRange(spark, root, "k", lo, hi)
        .orderBy("k").collect().toSeq
      val direct = full.filter(col("k").between(lo, hi))
        .orderBy("k").collect().toSeq
      assert(pruned === direct, s"range [$lo,$hi]")
    }
  }

  test("empty range returns an empty frame with the table schema") {
    val root = freshRoot("empty")
    publish(root)
    val out = FileStats.readRange(spark, root, "k", -10L, -1L)
    assert(out.columns.toSeq === Seq("k", "v"))
    assert(out.count() === 0)
  }

  test("skipping composes with a second stat column") {
    val root = freshRoot("second")
    publish(root)
    // v cycles 0..6 within every file, so v-pruning keeps all files
    // (correct: intervals overlap everywhere) while still filtering rows
    val out = FileStats.readRange(spark, root, "v", 2.0, 3.0)
    val expected = SnapshotStore.read(spark, root)
      .filter(col("v").between(2.0, 3.0)).count()
    assert(out.count() === expected)
    val (sel, all) = FileStats.pruneFiles(spark, root, "v", 2.0, 3.0)
    assert(sel.length === all.length)
  }

  test("stats republish with the snapshot: a new commit gets fresh stats") {
    val root = freshRoot("repub")
    publish(root)
    val df2 = spark.range(2000, 2500).select(
      col("id").as("k"), lit(0.0).as("v"))
    FileStats.publishSorted(spark, root, df2, "k", numFiles = 4,
      statCols = Seq("k"))
    val (sel, all) = FileStats.pruneFiles(spark, root, "k", 2000L, 2099L)
    assert(all.length === 4 && sel.length < all.length)
    assert(FileStats.readRange(spark, root, "k", 0L, 3000L).count() === 500)
  }

  test("bloom equality prune: strict subset on an unclustered key, " +
    "exact parity on every probed value") {
    val root = freshRoot("bloom")
    // k is the sort column; u is uncorrelated with it (Knuth-hash
    // scramble), so every file's u-interval spans the domain and only
    // the bloom can skip
    val df = spark.range(0, 1000).select(
      col("id").as("k"),
      ((col("id") * 2654435761L) % 1000).as("u"))
    FileStats.publishSorted(spark, root, df, "k", numFiles = 8,
      statCols = Seq("k"), bloomCols = Seq("u"))
    val full = SnapshotStore.read(spark, root)
    Seq(0L, 1L, 499L, 998L).foreach { v =>
      val (sel, all) = FileStats.pruneFilesEq(spark, root, "u", v)
      assert(all.length === 8)
      assert(sel.length < all.length,
        s"bloom must cut the file list for u=$v, kept ${sel.length}")
      val pruned = FileStats.readEq(spark, root, "u", v)
        .orderBy("k").collect().toSeq
      val direct = full.filter(col("u") === v).orderBy("k").collect().toSeq
      assert(pruned === direct, s"u=$v")
      // gcd(761, 1000) = 1, so id -> u is a bijection: exactly one match
      assert(pruned.length === 1)
    }
    // absent value: bloom may keep a fpp sliver but the exact filter
    // returns nothing
    assert(FileStats.readEq(spark, root, "u", 123456L).count() === 0)
  }

  test("z-ordered publish prunes on EVERY clustered column; " +
    "linear sort prunes only its lead column") {
    val zRoot = freshRoot("zord")
    val linRoot = freshRoot("lin")
    // 100x100 grid: x and y both uniform, jointly exhaustive
    val grid = spark.range(0, 10000).select(
      (col("id") % 100).as("x"), (col("id") / 100).cast("long").as("y"))
    FileStats.publishZOrdered(spark, zRoot, grid, Seq("x", "y"),
      numFiles = 16, statCols = Seq("x", "y"))
    FileStats.publishSorted(spark, linRoot, grid, "x", numFiles = 16,
      statCols = Seq("x", "y"))
    // both layouts prune on x
    assert(FileStats.pruneFiles(spark, zRoot, "x", 0L, 24L)._1.length < 16)
    assert(FileStats.pruneFiles(spark, linRoot, "x", 0L, 24L)._1.length < 16)
    // only the z-order layout prunes on y
    val (zy, _) = FileStats.pruneFiles(spark, zRoot, "y", 0L, 24L)
    val (ly, _) = FileStats.pruneFiles(spark, linRoot, "y", 0L, 24L)
    assert(zy.length < 16, s"z-order must prune on y, kept ${zy.length}")
    assert(ly.length === 16,
      "x-sorted layout spans the y domain in every file")
    // and the pruned read stays exact
    val got = FileStats.readRange(spark, zRoot, "y", 0L, 24L)
      .orderBy("x", "y").collect().toSeq
    val want = SnapshotStore.read(spark, zRoot)
      .filter(col("y").between(0L, 24L)).orderBy("x", "y").collect().toSeq
    assert(got === want)
  }

  test("countRange answers interior files from metadata, scans only edges") {
    val root = freshRoot("cnt")
    publish(root)
    val (n, scanned, fromMeta) = FileStats.countRange(spark, root, "k", 100L, 899L)
    assert(n === 800)
    assert(scanned <= 2, s"only edge files may scan, scanned $scanned")
    assert(fromMeta >= 4, s"interior files must answer from metadata: $fromMeta")
    // whole-table count: pure metadata
    val (all, s2, m2) = FileStats.countRange(spark, root, "k", 0L, 999L)
    assert(all === 1000 && s2 === 0 && m2 === 8)
    // empty range: nothing scanned, nothing counted
    assert(FileStats.countRange(spark, root, "k", 5000L, 6000L) === ((0L, 0, 0)))
  }

  test("sumRange: metadata + edge sums recombine to EXACTLY the direct " +
    "sum; interior files never read") {
    val root = freshRoot("sum")
    val df = spark.range(0, 1000).select(
      col("id").as("k"),
      // fractional values with nulls sprinkled in — sum must skip nulls
      // in both the sidecar and the edge scan
      when(col("id") % 11 === 0, lit(null))
        .otherwise((col("id") * 3 % 7).cast("double") / 4.0).as("v"))
    FileStats.publishSorted(spark, root, df, "k", numFiles = 8,
      statCols = Seq("k"), sumCols = Seq("v"))
    val (s1, n1, scanned, fromMeta) =
      FileStats.sumRange(spark, root, "k", 100L, 899L, "v")
    assert(n1 === 800)
    assert(scanned <= 2, s"only edge files may scan, scanned $scanned")
    assert(fromMeta >= 4, s"interior files must answer from metadata: $fromMeta")
    val direct = SnapshotStore.read(spark, root)
      .filter(col("k").between(100L, 899L))
      .agg(sum(col("v").cast(org.apache.spark.sql.types.DecimalType(27, 6))))
      .head().getDecimal(0)
    assert(s1.compareTo(direct) === 0, s"sum $s1 != direct $direct")
    // whole table: pure metadata, zero files read
    val (sAll, nAll, s2, m2) = FileStats.sumRange(spark, root, "k", 0L, 999L, "v")
    assert(nAll === 1000 && s2 === 0 && m2 === 8)
    val directAll = SnapshotStore.read(spark, root)
      .agg(sum(col("v").cast(org.apache.spark.sql.types.DecimalType(27, 6))))
      .head().getDecimal(0)
    assert(sAll.compareTo(directAll) === 0)
    // empty range: null sum, zero count
    val (sNone, nNone, _, _) =
      FileStats.sumRange(spark, root, "k", 5000L, 6000L, "v")
    assert(sNone === null && nNone === 0L)
    // missing sum column fails loudly
    intercept[IllegalArgumentException] {
      FileStats.sumRange(spark, root, "k", 0L, 10L, "k")
    }
  }

  test("incremental sidecar preserves sum columns when passed, and " +
    "refuses LOUDLY to drop them when not") {
    val root = freshRoot("incrsum")
    SnapshotStore.publish(
      spark.range(0, 400).select((col("id") % 4).cast("int").as("p"),
        col("id").as("k")),
      root, Seq("p"), None, stats = Some(FileStats.StatCols(Seq("k"), sum = Seq("k"))))
    def rewriteP3(cols: FileStats.StatCols) = SnapshotStore.publish(
      spark.range(300, 400).select(lit(3).cast("int").as("p"),
        (col("id") + 10000).as("k")),
      root, Seq("p"), Some("v000000001"), replaces = Some(_("p") == "3"),
      stats = Some(cols))
    // an incremental publish that FORGETS sumCols must fail loudly —
    // silently projecting sum_k away would break sumRange at its next
    // call with no signal at publish time
    intercept[IllegalArgumentException] {
      rewriteP3(FileStats.StatCols(Seq("k")))
    }
    // with sumCols threaded through, the publish succeeds and sumRange
    // still answers from metadata + edges over BOTH fresh and carried
    rewriteP3(FileStats.StatCols(Seq("k"), sum = Seq("k")))
    val direct = SnapshotStore.read(spark, root)
      .filter(col("k").between(0L, 10500L))
      .agg(sum(col("k")), count(lit(1))).head()
    val (metaSum, n, _, _) =
      FileStats.sumRange(spark, root, "k", 0L, 10500L, "k")
    assert(n == direct.getLong(1))
    assert(BigDecimal(metaSum) == BigDecimal(direct.getLong(0)))
  }

  test("incremental sidecar: fresh partitions stat'd, carried rows " +
    "copied verbatim, pruning spans both") {
    val root = freshRoot("incr")
    // v1: full publish of partitions p=0..3 with a manifest + sidecar
    SnapshotStore.publish(
      spark.range(0, 400).select((col("id") % 4).cast("int").as("p"),
        col("id").as("k")),
      root, Seq("p"), None, stats = Some(FileStats.StatCols(Seq("k"))))
    // v2: rewrite ONLY p=3 (values shifted), carry p=0..2 forward
    SnapshotStore.publish(
      spark.range(300, 400).select(lit(3).cast("int").as("p"),
        (col("id") + 10000).as("k")),
      root, Seq("p"), Some("v000000001"), replaces = Some(_("p") == "3"),
      stats = Some(FileStats.StatCols(Seq("k"))))
    val v2Side = spark.read.parquet(
      s"$root/${SnapshotStore.SnapshotsDir}/v000000002${FileStats.StatsSuffix}")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    // carried rows are byte-identical to v1's (never recollected)
    val v1Rows = spark.read.parquet(
      s"$root/${SnapshotStore.SnapshotsDir}/v000000001${FileStats.StatsSuffix}")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    val carriedKeys = v1Rows.keys.filter(!_.contains("/p=3/"))
    assert(carriedKeys.nonEmpty)
    carriedKeys.foreach(k => assert(v2Side(k) === v1Rows(k), k))
    // fresh p=3 rows point into v2, old p=3 rows are gone
    assert(v2Side.keys.exists(f =>
      f.contains("/v000000002/") && f.contains("/p=3/")))
    assert(!v2Side.keys.exists(f =>
      f.contains("/v000000001/") && f.contains("/p=3/")))
    // pruning the manifest table spans carried + fresh files
    val (selOld, all) = FileStats.pruneFiles(spark, root, "k", 0L, 99L)
    assert(selOld.nonEmpty && selOld.forall(_.contains("/v000000001/")))
    val (selNew, _) = FileStats.pruneFiles(spark, root, "k", 10300L, 10399L)
    assert(selNew.nonEmpty && selNew.forall(_.contains("/v000000002/")))
    assert(all.size === v2Side.size)
    // and the pruned read returns the exact row counts: ids 0..99 with
    // id%4 in {0,1,2} (p=3's originals were rewritten away) = 75 rows;
    // the fresh p=3 holds exactly the 100 shifted keys
    assert(FileStats.readRange(spark, root, "k", 0L, 99L).count() === 75)
    val freshRead = FileStats.readRange(spark, root, "k", 10300L, 10399L)
    assert(freshRead.count() === 100)
    // hive partition values re-attach through basePath (string-typed,
    // matching partition-type inference off)
    assert(freshRead.select("p").distinct().collect().map(_.getString(0))
      .toSeq === Seq("3"))
  }

  test("bloom probe runs distributed: no bloom bytes reach the driver") {
    val root = freshRoot("dist")
    val df = spark.range(0, 1000).select(
      col("id").as("k"), ((col("id") * 2654435761L) % 1000).as("u"))
    FileStats.publishSorted(spark, root, df, "k", numFiles = 8,
      statCols = Seq("k"), bloomCols = Seq("u"))
    val hash = spark.range(1)
      .select(xxhash64(lit(499L))).head().getLong(0)
    val frame = FileStats.probeFrameEq(spark, root, "u", hash)
    // the frame pruneFilesEq collects: names + booleans only — the
    // serialized blooms are consumed executor-side by graft_bloom_probe
    assert(frame.schema.fields.map(_.dataType.typeName).toSeq ===
      Seq("string", "boolean"))
    assert(!frame.schema.fields.exists(
      _.dataType == org.apache.spark.sql.types.BinaryType),
      "bloom bytes must not be in the collected projection")
    val plan = frame.queryExecution.executedPlan.toString
    assert(plan.contains("graft_bloom_probe"),
      s"probe must evaluate in the distributed plan, got:\n$plan")
    // and the distributed answer matches a from-scratch scan
    val sel = frame.collect().filter(_.getBoolean(1)).map(_.getString(0))
    assert(sel.length < 8 && sel.nonEmpty)
  }

  test("bloom auto-sizing uses the LARGEST file: a skewed layout's big " +
    "file does not silently saturate its bloom") {
    val root = freshRoot("skew")
    // one 20k-row file + four 1k-row files in one snapshot: mean-based
    // sizing (24k/5 · 1.25 = 6k items) would overload the big file's
    // bloom (measured fpp ≈ 0.3 when overloaded); max-based sizing
    // (25k items) keeps the target fpp for every file
    // (a union keeps each single-partition input's partition: 5 files)
    SnapshotStore.publish(
      (spark.range(0, 20000) +: (1 to 4).map(i =>
          spark.range(100000L * i, 100000L * i + 1000)))
        .map(_.select(col("id").as("k"), col("id").as("u")).coalesce(1))
        .reduce(_ union _),
      root, Nil, None, stats = Some(FileStats.StatCols(Seq("k"), Seq("u"))))
    // 50 absent probes over 5 files = 250 bloom answers; at the target
    // fpp (1%) ~2-3 false "maybe"s are expected — a saturated big-file
    // bloom would answer "maybe" for ~30% of probes on its own
    val falseKeeps = (0 until 50).map { i =>
      FileStats.pruneFilesEq(spark, root, "u", 900000L + i)._1.length
    }.sum
    assert(falseKeeps <= 13,
      s"absent-value probes kept $falseKeeps/250 files — bloom saturated")
    // present keys still resolve exactly
    assert(FileStats.readEq(spark, root, "u", 19999L).count() === 1)
    assert(FileStats.readEq(spark, root, "u", 400500L).count() === 1)
  }

  test("bloom probe casts to the column's type: INT keys found by a Long probe") {
    val root = freshRoot("inttyp")
    // xxhash64 hashes INT through the 4-byte path — a bare Long literal
    // probe would hash differently and every bloom would answer absent
    val df = spark.range(0, 100).select(col("id").cast("int").as("k"),
      col("id").cast("int").as("u"))
    FileStats.publishSorted(spark, root, df, "k", numFiles = 4,
      statCols = Seq("k"), bloomCols = Seq("u"))
    assert(FileStats.readEq(spark, root, "u", 42L).count() === 1)
    assert(FileStats.readEq(spark, root, "u", 42).count() === 1)
  }

  test("crashed claimant's sidecar debris never leaks into the next publish") {
    val root = freshRoot("debris")
    publish(root)
    // fake a crashed v2 attempt that wrote its sidecar but died before
    // publishing: an orphan sibling full of junk at the next slot name
    val orphan = new java.io.File(new java.net.URI(
      s"file://$root/${SnapshotStore.SnapshotsDir}/v000000002${FileStats.StatsSuffix}"))
    assert(orphan.mkdirs())
    java.nio.file.Files.writeString(
      new java.io.File(orphan, "junk.parquet").toPath, "not parquet")
    val df2 = spark.range(0, 50).select(col("id").as("k"), lit(9.0).as("v"))
    FileStats.publishSorted(spark, root, df2, "k", numFiles = 2,
      statCols = Seq("k"))
    // the new sidecar is the real one: readable, 2 files, correct totals
    val (sel, all) = FileStats.pruneFiles(spark, root, "k", 0L, 49L)
    assert(all.length === 2 && sel.length === 2)
    assert(FileStats.readRange(spark, root, "k", 0L, 49L).count() === 50)
  }

  test("vacuum collects an orphan sidecar whose version dir is gone") {
    val root = freshRoot("orph")
    publish(root)
    val orphan = new java.io.File(new java.net.URI(
      s"file://$root/${SnapshotStore.SnapshotsDir}/v000000007${FileStats.StatsSuffix}"))
    assert(orphan.mkdirs())
    SnapshotStore.vacuum(spark, root, keepLast = 2)
    assert(!orphan.exists, "orphan sidecar must be collected")
    // the live version's sidecar survives
    val (_, all) = FileStats.pruneFiles(spark, root, "k", 0L, 0L)
    assert(all.length === 8)
  }

  test("vacuum collects the sidecar with its version") {
    val root = freshRoot("vac")
    publish(root)
    val df2 = spark.range(0, 10).select(col("id").as("k"),
      lit(1.0).as("v"))
    FileStats.publishSorted(spark, root, df2, "k", numFiles = 2,
      statCols = Seq("k"))
    assert(SnapshotStore.vacuum(spark, root, keepLast = 1) === 1)
    val v1Stats = new java.io.File(new java.net.URI(
      s"file://${root}/${SnapshotStore.SnapshotsDir}/v000000001${FileStats.StatsSuffix}"))
    assert(!v1Stats.exists, s"vacuum must delete $v1Stats")
    // the surviving version still prunes: exactly one disjoint file
    // holds k=0 wherever the range partitioner sampled its boundary
    val (sel, all) = FileStats.pruneFiles(spark, root, "k", 0L, 0L)
    assert(all.length === 2 && sel.length === 1)
  }

  test("deleteKeys rewrites only bloom-located partitions; rest carried by reference") {
    val root = freshRoot("del")
    val df = spark.range(0, 400).select(col("id").as("k"),
      (col("id") % 8).cast("int").as("pb"), lit(1.0).as("v"))
    FileStats.publishPartitioned(spark, root, df, "pb",
      statCols = Seq("k"), bloomCols = Seq("k"))
    val v1 = SnapshotStore.currentName(spark, root).get
    // keys 9 and 17 both live in pb=1 — one affected partition of 8
    val (v2, rewritten, total) =
      FileStats.deleteKeys(spark, root, "k", Seq(9L, 17L), "pb",
        statCols = Seq("k"), bloomCols = Seq("k"))
    assert(total == 8 && rewritten >= 1 && rewritten < 8)
    // content identity
    val got = SnapshotStore.read(spark, root).select("k")
      .collect().map(_.getLong(0)).sorted
    assert(got.toSeq == (0L until 400L).filterNot(Set(9L, 17L)).toSeq)
    // untouched partitions carried BY REFERENCE: manifest points at v1
    val entries = SnapshotStore.currentEntries(spark, root).get
    val carried = entries.filter(_._2 == v1)
    assert(carried.size == total - rewritten, s"entries: $entries")
    // the sidecar still serves the new snapshot: the deleted key's
    // exact read is empty, a surviving neighbor's is not
    assert(FileStats.readEq(spark, root, "k", 9L).count() == 0L)
    assert(FileStats.readEq(spark, root, "k", 10L).count() == 1L)
  }

  test("deleteKeys of absent keys is a complete no-op: same version, zero rewrites") {
    val root = freshRoot("delnoop")
    val df = spark.range(0, 100).select(col("id").as("k"),
      (col("id") % 4).cast("int").as("pb"), lit(1.0).as("v"))
    FileStats.publishPartitioned(spark, root, df, "pb",
      statCols = Seq("k"), bloomCols = Seq("k"))
    val v1 = SnapshotStore.currentName(spark, root).get
    val (v2, rewritten, _) =
      FileStats.deleteKeys(spark, root, "k", Seq(777777L), "pb",
        statCols = Seq("k"), bloomCols = Seq("k"))
    assert(v2 == v1 && rewritten == 0, "no-op delete must not publish")
    assert(SnapshotStore.read(spark, root).count() == 100L)
  }

  test("deleteKeys preserves null-key rows in rewritten partitions") {
    val root = freshRoot("delnull")
    // k is null on two rows of pb=1 — a targeted delete of OTHER keys in
    // that partition must not destroy them (NOT isin(keys) is NULL, i.e.
    // dropped, under three-valued logic)
    val df = spark.range(0, 80).select(
      when(col("id").isin(21L, 29L), lit(null)).otherwise(col("id"))
        .cast("long").as("k"),
      (col("id") % 4).cast("int").as("pb"), lit(1.0).as("v"))
    FileStats.publishPartitioned(spark, root, df, "pb",
      statCols = Seq("k"), bloomCols = Seq("k"))
    // 9 lives in pb=1 alongside the null-key rows (21, 29 ≡ 1 mod 4)
    val (_, rewritten, total) =
      FileStats.deleteKeys(spark, root, "k", Seq(9L), "pb",
        statCols = Seq("k"), bloomCols = Seq("k"))
    assert(total == 4 && rewritten >= 1)
    val after = SnapshotStore.read(spark, root)
    assert(after.count() == 79L, "exactly the one targeted row is gone")
    assert(after.filter(col("k").isNull).count() == 2L,
      "null-key rows survive the partition rewrite")
  }

  test("deleteKeys on hive-escaped partition values rewrites by PATH, " +
      "never by value-spelling equality") {
    val root = freshRoot("delesc")
    // ':' and '#' hive-escape in directory names (pb=a%3Ab on disk) —
    // a cast-to-string isin against the path spelling would select no
    // rows, silently emptying the partition while dropping it from the
    // carried manifest
    val df = spark.range(0, 60).select(col("id").as("k"),
      element_at(lit(Array("a:b", "c#d", "plain")),
        (col("id") % 3 + 1).cast("int")).as("pb"), lit(1.0).as("v"))
    FileStats.publishPartitioned(spark, root, df, "pb",
      statCols = Seq("k"), bloomCols = Seq("k"))
    // k=3 lives in pb=a:b (3 % 3 == 0 → element 1)
    val (_, rewritten, total) =
      FileStats.deleteKeys(spark, root, "k", Seq(3L), "pb",
        statCols = Seq("k"), bloomCols = Seq("k"))
    assert(total == 3 && rewritten >= 1 && rewritten < 3)
    val after = SnapshotStore.read(spark, root)
    assert(after.count() == 59L, "only the targeted row is gone")
    assert(after.filter(col("pb") === "a:b").count() == 19L,
      "the escaped partition's surviving rows are all rewritten")
    assert(FileStats.readEq(spark, root, "k", 6L).count() == 1L,
      "sidecar still serves the escaped partition after the rewrite")
  }

  test("incremental sidecar carry anchors on the ROOT's snapshots path: " +
      "a '_snapshots' segment in an ancestor dir cannot mis-anchor") {
    val base = java.nio.file.Files
      .createTempDirectory("graft_fs_anchor").toString
    // table root deliberately nests under a directory literally named
    // _snapshots — a first-occurrence marker match would key carried
    // rows on the WRONG path tail and silently drop them all
    val root = base + "/_snapshots/t"
    val df = spark.range(0, 80).select(col("id").as("k"),
      (col("id") % 4).cast("int").as("pb"), lit(1.0).as("v"))
    FileStats.publishPartitioned(spark, root, df, "pb",
      statCols = Seq("k"), bloomCols = Seq("k"))
    // the delete path runs writeSidecar for the 3 carried
    // partitions; the integrity guard raises if any carried row is lost
    val (_, rewritten, total) =
      FileStats.deleteKeys(spark, root, "k", Seq(9L), "pb",
        statCols = Seq("k"), bloomCols = Seq("k"))
    assert(total == 4 && rewritten >= 1 && rewritten < 4)
    assert(SnapshotStore.read(spark, root).count() == 79L)
    // carried partitions still answer bloom-pruned reads from the
    // carried sidecar rows
    assert(FileStats.readEq(spark, root, "k", 10L).count() == 1L)
    assert(FileStats.readEq(spark, root, "k", 9L).count() == 0L)
  }

  test("deleteKeys that empties a partition drops it from the manifest") {
    val root = freshRoot("delempty")
    val df = spark.range(0, 40).select(col("id").as("k"),
      (col("id") % 4).cast("int").as("pb"), lit(1.0).as("v"))
    FileStats.publishPartitioned(spark, root, df, "pb",
      statCols = Seq("k"), bloomCols = Seq("k"))
    // pb=2 holds exactly k ≡ 2 (mod 4): delete all ten of them
    val targets = (0L until 40L).filter(_ % 4 == 2)
    val (_, rewritten, total) =
      FileStats.deleteKeys(spark, root, "k", targets, "pb",
        statCols = Seq("k"), bloomCols = Seq("k"))
    assert(total == 4 && rewritten >= 1)
    val entries = SnapshotStore.currentEntries(spark, root).get
    assert(!entries.keySet.exists(_.startsWith("pb=2")),
      s"emptied partition must vanish from the manifest: $entries")
    assert(SnapshotStore.read(spark, root).count() == 30L)
  }

  /** The curateBatch prefilter: a history world published with doc_id +
    * digest blooms, probed by batches with planted redeliveries. */
  private def antiWorld(tag: String): String = {
    val root = freshRoot(tag)
    val hist = spark.range(0, 3000).select(
      col("id").as("doc_id"),
      md5(concat(lit("doc"), col("id"))).as("content_hash"))
    FileStats.publishSorted(spark, root, hist, "doc_id", numFiles = 6,
      statCols = Seq("doc_id", "content_hash"),
      bloomCols = Seq("doc_id", "content_hash"))
    root
  }

  test("antiJoinFresh is row-identical to the plain anti-join under " +
    "planted redeliveries, on both id and digest domains") {
    val root = antiWorld("aj")
    val full = SnapshotStore.read(spark, root)
    // batch = 400 fresh ids + 50 redelivered history ids (and for the
    // digest leg, 50 texts whose md5 the history already carries)
    val batch = spark.range(3000, 3400).unionAll(
        spark.range(100, 150)).select(
      col("id").as("doc_id"),
      md5(concat(lit("doc"), col("id"))).as("content_hash"),
      concat(lit("payload"), col("id")).as("text"))
    Seq("doc_id", "content_hash").foreach { c =>
      val fast = FileStats.antiJoinFresh(spark, root, c, batch, c)
        .orderBy("doc_id").collect().toSeq
      val plain = batch.join(full.select(c), Seq(c), "left_anti")
        .select(batch.columns.map(col): _*)
        .orderBy("doc_id").collect().toSeq
      assert(fast === plain, s"column $c")
      assert(fast.size === 400)
    }
  }

  test("antiJoinFresh skipping evidence: a fresh batch reads ZERO files " +
    "via the range gate; a redelivery reads a strict sliver") {
    val root = antiWorld("ajm")
    import spark.implicits._
    def batchOf(ids: Seq[Long]) =
      ids.toDF("doc_id").select(col("doc_id"),
        md5(concat(lit("doc"), col("doc_id"))).as("content_hash"))
    // all ids above every file's max → interval gate alone answers it
    val (freshOut, freshSel, total) = FileStats.antiJoinFreshMetrics(
      spark, root, "doc_id", batchOf(5000L to 5099L), "doc_id")
    assert(freshSel === 0 && total === 6)
    assert(freshOut.count() === 100)
    // one redelivered id → only its containing file(s) read
    val (_, dupSel, _) = FileStats.antiJoinFreshMetrics(
      spark, root, "doc_id", batchOf(Seq(42L, 5000L)), "doc_id")
    assert(dupSel >= 1 && dupSel < total,
      s"expected a strict sliver, read $dupSel/$total")
  }

  test("antiJoinFresh keeps null-key rows, exactly like a plain anti-join") {
    val root = antiWorld("ajn")
    import spark.implicits._
    val batch = Seq[(java.lang.Long, String)](
      (null, "nullkey"), (42L, "dup"), (9999L, "fresh"))
      .toDF("doc_id", "keep_tag")
    val out = FileStats.antiJoinFresh(spark, root, "doc_id", batch, "doc_id")
      .orderBy("keep_tag").collect()
    assert(out.map(_.getString(1)).toSeq === Seq("fresh", "nullkey"))
  }

  test("antiJoinFresh mega-batch valve: past maxKeys the probe runs in " +
    "hash chunks — identical rows, identical sliver, bounded broadcasts") {
    val root = antiWorld("ajv")
    val batch = spark.range(3000, 3400).unionAll(spark.range(100, 150))
      .select(col("id").as("doc_id"))
    // 450 keys at maxKeys=60 → 8 chunks; redelivered ids still select
    // only their containing files, fresh ids still select none
    val (out, sel, total) = FileStats.antiJoinFreshMetrics(
      spark, root, "doc_id", batch, "doc_id", maxKeys = 60L)
    val (out1, sel1, _) = FileStats.antiJoinFreshMetrics(
      spark, root, "doc_id", batch, "doc_id")
    assert(total === 6)
    assert(sel === sel1, "chunked selection must equal one-shot")
    assert(out.orderBy("doc_id").collect().toSeq ===
      out1.orderBy("doc_id").collect().toSeq)
    assert(out.orderBy("doc_id").collect().toSeq ===
      batch.join(SnapshotStore.read(spark, root).select("doc_id"),
        Seq("doc_id"), "left_anti").orderBy("doc_id").collect().toSeq)
  }

  test("antiJoinFresh refuses a type-mismatched probe loudly") {
    val root = antiWorld("ajt")
    val batch = spark.range(5).select(col("id").cast("int").as("doc_id"))
    val e = intercept[IllegalArgumentException] {
      FileStats.antiJoinFresh(spark, root, "doc_id", batch, "doc_id")
    }
    assert(e.getMessage.contains("xxhash64"))
  }
}
